package graft.ingest

import graft.ingest.PushTableSink.{CellPut, TableSpec}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** REGION MERGE ([[RegionSplit.mergeLeft]] — HBase merge_region): view
  * identity at every protocol stage, crash recovery from every stage,
  * default-layout merges, split↔merge round-trips, and point-read
  * routing across the moved boundary. */
class RegionMergeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("region-merge-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def scanAll(root: String, table: String): Set[(String, Long, String)] =
    spark.read.format("graft-cells").option("root", root).option("table", table).load()
      .collect().map(r => (
        new String(r.getAs[Array[Byte]]("rowkey"), "UTF-8"),
        r.getAs[Long]("version"),
        new String(r.getAs[Array[Byte]]("body"), "UTF-8"))).toSet

  /** two-region fixture: split point "Z-05" (hex 5a2d3035); keys Z-00..Z-09. */
  private def seedTwoRegions(): (String, FileStore) = {
    val root = Files.createTempDirectory("rmerge").toString
    val store = FileStore(root)
    store.ensureTable("t", TableSpec(compactionThreshold = 2))
    store.ensureSplits("t", FileStore.Splits.ofSplitPoints(
      Seq("Z-05".getBytes("UTF-8"))))
    (0 until 10).foreach { i =>
      store.putBatch("t", (1 to 2).map(v =>
        CellPut("t", f"Z-$i%02d".getBytes("UTF-8"), v.toLong, s"b-$i-$v".getBytes)))
    }
    // a marker in the right region — it must survive the merge
    store.deleteCells("t", Seq(("Z-07".getBytes("UTF-8"), 1L)))
    (root, store)
  }

  test("merge folds the right region left; view identical at every stage; routing follows") {
    val (root, store) = seedTwoRegions()
    val expected = scanAll(root, "t")
    assert(expected.size == 19) // 20 − Z-07 v1 masked
    assert(store.splitsOf("t").size == 2)
    val stages = scala.collection.mutable.ArrayBuffer.empty[String]
    RegionSplit.probeHook = { stage =>
      stages += stage
      assert(scanAll(root, "t") == expected, s"view diverged at $stage")
    }
    try assert(RegionSplit.mergeLeft(root, "t", "5a2d3035"))
    finally RegionSplit.probeHook = _ => ()
    assert(stages.exists(_.startsWith("unbound:")) && stages.exists(_.startsWith("parked:")) &&
      stages.exists(_.startsWith("folded:")))
    assert(scanAll(root, "t") == expected)
    assert(store.splitsOf("t").size == 1)
    assert(!Files.exists(Paths.get(root, "t", "5a2d3035")), "the right dir is gone")
    // the marker still masks, point ops route through the merged layout
    assert(!scanAll(root, "t").exists(t => t._1 == "Z-07" && t._2 == 1L))
    assert(store.exists("t", Seq(CellPut("t", "Z-07".getBytes, 2L, Array.emptyByteArray)))
      == Seq(true))
    assert(store.getLatest("t", "Z-09".getBytes).map(p => new String(p._2)).contains("b-9-2"))
    // new writes land in the left (now only) region
    store.putBatch("t", Seq(CellPut("t", "Z-09".getBytes, 9L, "post-merge".getBytes)))
    assert(store.getLatest("t", "Z-09".getBytes).map(p => new String(p._2)).contains("post-merge"))
  }

  test("crash at each merge stage leaves a correct view; recovery converges") {
    Seq("unbound", "parked").foreach { crashAt =>
      val (root, store) = seedTwoRegions()
      val expected = scanAll(root, "t")
      RegionSplit.probeHook = { stage =>
        if (stage.startsWith(crashAt + ":")) throw new java.io.IOException(s"crash at $stage")
      }
      try intercept[java.io.IOException](RegionSplit.mergeLeft(root, "t", "5a2d3035"))
      finally RegionSplit.probeHook = _ => ()
      assert(scanAll(root, "t") == expected, s"view diverged after crash at $crashAt")
      // the point faces see it too: the right region lives in the left's
      // satellite until the fold (at `unbound` the layout already routes
      // right keys left while the right directory still stands)
      Fixtures.assertPointFacesAgree(store, "t", expected, s"after crash at $crashAt")
      RegionSplit.completePending(root, "t")
      assert(scanAll(root, "t") == expected, s"view diverged after recovery from $crashAt")
      Fixtures.assertPointFacesAgree(store, "t", expected, s"after recovery from $crashAt")
      assert(store.splitsOf("t").size == 1, s"boundary must be gone after recovery from $crashAt")
      assert(!Files.exists(Paths.get(root, "t", "5a2d3035")))
      val leftDir = Paths.get(root, "t", store.splitsOf("t").names.head)
      val l = Files.list(leftDir)
      val debris = try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_merge")).toVector finally l.close()
      assert(debris.isEmpty, s"unfolded satellite after recovery from $crashAt: $debris")
    }
  }

  test("a default-layout region merges into its left neighbor") {
    val root = Files.createTempDirectory("rmerge-default").toString
    val store = FileStore(root)
    store.ensureTable("d", TableSpec(compactionThreshold = 2))
    // keys in regions 59 ('Y') and 5a ('Z') of the default 256 layout
    store.putBatch("d", Seq(
      CellPut("d", "Y-1".getBytes, 1L, "y1".getBytes),
      CellPut("d", "Z-1".getBytes, 1L, "z1".getBytes)))
    val expected = scanAll(root, "d")
    assert(RegionSplit.mergeLeft(root, "d", "5a"))
    assert(scanAll(root, "d") == expected)
    assert(store.splitsOf("d").size == 255)
    // Z keys now route to region 59
    assert(store.splitsOf("d").shardNameOf("Z-1".getBytes) == "59")
    assert(store.getLatest("d", "Z-1".getBytes).isDefined)
    // the first region's start is never a removable boundary
    intercept[IllegalArgumentException](RegionSplit.mergeLeft(root, "d",
      store.splitsOf("d").names.head))
  }

  test("merge then automatic split round-trips the lifecycle") {
    val (root, store) = seedTwoRegions()
    val expected = scanAll(root, "t")
    assert(RegionSplit.mergeLeft(root, "t", "5a2d3035"))
    // the merged region is now the hot one — a small bound resplits it
    val merged = store.splitsOf("t").names.head
    assert(RegionSplit.maybeSplit(root, "t", merged, maxRegionBytes = 512) > 0)
    assert(store.splitsOf("t").size >= 2)
    assert(scanAll(root, "t") == expected, "the round-trip moved bytes, never the view")
  }
}

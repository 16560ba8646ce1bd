package graft.ingest

import graft.ingest.PushTableSink.{CellPut, TableSpec}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** AUTOMATIC REGION SPLIT ([[RegionSplit]] — the
  * hbase.hregion.max.filesize lifecycle): pins the split policy
  * (maxRegionBytes DDL, checked after each put batch), the split-key
  * derivation (largest-segment midkey, shortest separator), view
  * byte-identity at EVERY protocol stage, crash recovery from every
  * stage, marker transport, point-GET routing across the split, and
  * the SPJ fingerprint change. */
class RegionSplitSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("region-split-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // all keys share the leading byte 'Z' (0x5a) → one hot region
  private def key(i: Int): Array[Byte] = f"Z-$i%04d".getBytes("UTF-8")
  private def cells(table: String, ks: Seq[Int], v: Long): Seq[CellPut] =
    ks.map(i => CellPut(table, key(i), v, s"body-$i-$v".getBytes("UTF-8")))

  private def scanAll(root: String, table: String): Set[(String, Long, String)] =
    spark.read.format("graft-cells").option("root", root).option("table", table).load()
      .collect().map(r => (
        new String(r.getAs[Array[Byte]]("rowkey"), "UTF-8"),
        r.getAs[Long]("version"),
        new String(r.getAs[Array[Byte]]("body"), "UTF-8"))).toSet

  private def shardDirs(root: String, table: String): Seq[java.nio.file.Path] = {
    val dir = Paths.get(root, table)
    val s = Files.list(dir)
    try s.iterator().asScala.filter(p => Files.isDirectory(p) &&
      FileStore.Splits.startOf(p.getFileName.toString).isDefined).toVector
    finally s.close()
  }

  test("shortestSeparator: minimal, strictly above a, at most b") {
    def sep(a: String, b: String): Array[Byte] =
      RegionSplit.shortestSeparator(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    assert(new String(sep("Z-0001", "Z-0002"), "UTF-8") == "Z-0002")
    assert(new String(sep("Z-0199", "Z-0200"), "UTF-8") == "Z-02")
    assert(new String(sep("A", "B"), "UTF-8") == "B")
    // a strict prefix of b: the separator is b's next byte appended
    assert(new String(sep("Z-", "Z-0"), "UTF-8") == "Z-0")
    val a = "Z-0001".getBytes("UTF-8")
    val m = sep("Z-0001", "Z-0002")
    assert(java.util.Arrays.compareUnsigned(a, m) < 0)
  }

  test("put waves into one hot region split it automatically; view, bytes, and routing hold") {
    val root = Files.createTempDirectory("rsplit-auto").toString
    val t = "autot"
    val store = FileStore(root)
    store.ensureTable(t, TableSpec(compactionThreshold = 2, maxRegionBytes = 4096))
    val before = RegionSplit.splitsDone.get()
    var expected = Set.empty[(String, Long, String)]
    (0 until 10).foreach { wave =>
      val ks = (wave * 40) until (wave * 40 + 40)
      store.putBatch(t, cells(t, ks, 1L))
      expected ++= ks.map(i => (f"Z-$i%04d", 1L, s"body-$i-1"))
    }
    // a second version for a slice — multi-version keys must ride along
    store.putBatch(t, cells(t, 0 until 40, 2L))
    expected ++= (0 until 40).map(i => (f"Z-$i%04d", 2L, s"body-$i-2"))

    assert(RegionSplit.splitsDone.get() > before, "no split fired")
    val layout = store.splitsOf(t)
    assert(layout.size > 256, s"layout did not grow: ${layout.size}")
    // every region under the bound — the policy's fixed point
    shardDirs(root, t).foreach { d =>
      val b = RegionSplit.shardBytes(d)
      assert(b <= 4096, s"region ${d.getFileName} holds $b bytes > bound")
    }
    // no satellite or staging debris survives a completed split
    shardDirs(root, t).foreach { d =>
      val l = Files.list(d)
      val leftover = try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_split")).toVector finally l.close()
      assert(leftover.isEmpty, s"debris in ${d.getFileName}: $leftover")
    }
    assert(scanAll(root, t) == expected)
    // point GET routes through the NEW layout to exactly its daughter
    val probeKey = key(395)
    val got = spark.read.format("graft-cells").option("root", root).option("table", t)
      .load().where(org.apache.spark.sql.functions.col("rowkey") ===
        org.apache.spark.sql.functions.lit(probeKey)).collect()
    assert(got.length == 1 && new String(got(0).getAs[Array[Byte]]("body")) == "body-395-1")
    // existence probes agree post-split (F5 across the new layout)
    assert(store.exists(t, cells(t, Seq(395), 1L)) == Seq(true))
    assert(store.exists(t, cells(t, Seq(395), 9L)) == Seq(false))
  }

  test("view is byte-identical at every protocol stage; mid-split readers stay exactly-once") {
    val root = Files.createTempDirectory("rsplit-stage").toString
    val t = "staget"
    val store = FileStore(root)
    // flush on (threshold 2) builds segments; split NOT auto (bound off)
    store.ensureTable(t, TableSpec(compactionThreshold = 2))
    (0 until 8).foreach(w => store.putBatch(t, cells(t, (w * 25) until (w * 25 + 25), 1L)))
    // a delete marker in each half — markers must keep masking at every stage
    store.deleteCells(t, Seq((key(3), 1L), (key(180), 1L)))
    val expected = scanAll(root, t)
    assert(expected.size == 198)
    val stages = scala.collection.mutable.ArrayBuffer.empty[String]
    RegionSplit.probeHook = { stage =>
      stages += stage
      val got = scanAll(root, t)
      assert(got == expected, s"view diverged at stage $stage")
    }
    try {
      val n = RegionSplit.maybeSplit(root, t, "5a", maxRegionBytes = 2048)
      assert(n > 0)
    } finally RegionSplit.probeHook = _ => ()
    assert(stages.exists(_.startsWith("chosen:")) && stages.exists(_.startsWith("staged:")) &&
      stages.exists(_.startsWith("published:")) && stages.exists(_.startsWith("swept:")) &&
      stages.exists(_.startsWith("recorded:")) && stages.exists(_.startsWith("promoted:")))
    assert(scanAll(root, t) == expected)
    assert(store.splitsOf(t).size > 256)
    // deleted keys stay masked on both sides of the boundary
    assert(!expected.exists(_._1 == "Z-0003") && !expected.exists(_._1 == "Z-0180"))
  }

  test("crash at each stage leaves a correct view; recovery converges") {
    Seq("staged", "published", "swept", "recorded").foreach { crashAt =>
      val root = Files.createTempDirectory(s"rsplit-crash-$crashAt").toString
      val t = "crasht"
      val store = FileStore(root)
      store.ensureTable(t, TableSpec(compactionThreshold = 2))
      (0 until 8).foreach(w => store.putBatch(t, cells(t, (w * 25) until (w * 25 + 25), 1L)))
      val expected = scanAll(root, t)
      RegionSplit.probeHook = { stage =>
        if (stage.startsWith(crashAt + ":")) throw new java.io.IOException(s"crash at $stage")
      }
      try RegionSplit.maybeSplit(root, t, "5a", maxRegionBytes = 2048)
      finally RegionSplit.probeHook = _ => ()
      // whatever the crash point, the masked view never changes
      assert(scanAll(root, t) == expected, s"view diverged after crash at $crashAt")
      // the point faces see it too: the split's upper half lives in the
      // parent's satellite until promotion (at `recorded` the layout
      // already routes upper keys to the unpromoted daughter directory)
      Fixtures.assertPointFacesAgree(store, t, expected, s"after crash at $crashAt")
      // recovery finishes the protocol (or sweeps the orphan stage dir)
      RegionSplit.completePending(root, t)
      assert(scanAll(root, t) == expected, s"view diverged after recovery from $crashAt")
      Fixtures.assertPointFacesAgree(store, t, expected, s"after recovery from $crashAt")
      shardDirs(root, t).foreach { d =>
        val l = Files.list(d)
        val leftover = try l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("_split")).toVector finally l.close()
        assert(leftover.isEmpty, s"debris after recovery from $crashAt: $leftover")
      }
      if (crashAt != "staged") // published or later: the split must complete
        assert(store.splitsOf(t).size > 256, s"split not recorded after recovery from $crashAt")
    }
  }

  test("puts after a crash at `recorded` fold with the satellite and keep their coordinates") {
    val root = Files.createTempDirectory("rsplit-crash-put").toString
    val t = "crashput"
    val store = FileStore(root)
    store.ensureTable(t, TableSpec(compactionThreshold = 2))
    (0 until 8).foreach(w => store.putBatch(t, cells(t, (w * 25) until (w * 25 + 25), 1L)))
    RegionSplit.probeHook = { stage =>
      if (stage.startsWith("recorded:")) throw new java.io.IOException(s"crash at $stage")
    }
    try RegionSplit.maybeSplit(root, t, "5a", maxRegionBytes = 2048)
    finally RegionSplit.probeHook = _ => ()
    val sats = {
      val l = Files.list(Paths.get(root, t, "5a"))
      try l.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("_split-")).toVector
      finally l.close()
    }
    assert(sats.size == 1, s"one parked satellite after the crash: $sats")
    val start = FileStore.Splits.startOf(ShardFiles.satelliteTargetOf(sats.head).get).get
    val upper = (0 until 200).filter(i => java.util.Arrays.compareUnsigned(key(i), start) >= 0)
    assert(upper.size > 4, s"upper keys: ${upper.size}")
    // the daughter's directory is born from the layout: first one put
    // file, then a batch over the flush threshold, which lands as a
    // segment stamped from the new directory's own history
    def rewrite(ks: Seq[Int]) = ks.map(i => CellPut(t, key(i), 1L, s"new-$i".getBytes("UTF-8")))
    store.putBatch(t, rewrite(upper.take(1)))
    store.putBatch(t, rewrite(upper.slice(1, 4)))
    RegionSplit.completePending(root, t)
    val rewritten = upper.take(4).toSet
    def body(i: Int) = if (rewritten(i)) s"new-$i" else s"body-$i-1"
    val expected = (0 until 200).map(i => (new String(key(i), "UTF-8"), 1L, body(i))).toSet
    assert(scanAll(root, t) == expected, "the scan after recovery")
    Fixtures.assertPointFacesAgree(store, t, expected, "after recovery with post-crash puts")
    val upperSeen = upper.count(i =>
      store.getLatest(t, key(i)).exists { case (_, b) => new String(b, "UTF-8") == body(i) })
    assert(upperSeen == upper.size, s"getLatest sees $upperSeen of ${upper.size} upper keys")
    shardDirs(root, t).foreach { d =>
      val l = Files.list(d)
      val leftover = try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_split")).toVector finally l.close()
      assert(leftover.isEmpty, s"satellite left after recovery: $d $leftover")
    }
  }

  test("split changes the layout fingerprint — SPJ against a pre-split partner declines") {
    val root = Files.createTempDirectory("rsplit-fp").toString
    val t = "fpt"
    val store = FileStore(root)
    store.ensureTable(t, TableSpec(compactionThreshold = 2))
    (0 until 8).foreach(w => store.putBatch(t, cells(t, (w * 25) until (w * 25 + 25), 1L)))
    val fpBefore = graft.sources.CellsCatalog.fingerprintOf(store.splitsOf(t))
    assert(RegionSplit.maybeSplit(root, t, "5a", maxRegionBytes = 2048) > 0)
    val fpAfter = graft.sources.CellsCatalog.fingerprintOf(store.splitsOf(t))
    assert(fpBefore != fpAfter,
      "a split must change the layout fingerprint (SPJ compatibility = layout equality)")
    // and a split-ELIGIBLE table never reports a static per-partition
    // ordering (an automatic split would splice a second sorted run in
    // after Catalyst dropped its Sort)
    store.alterMaxRegionBytes(t, 1L << 30)
    val scan = graft.sources.CellsScan(root, t, Long.MinValue, Long.MaxValue,
      graft.sources.CellsKeyPred.All, graft.sources.CellsSource.Schema)
    assert(scan.outputOrdering().isEmpty)
  }

  test("unsplittable single-key region declines; undersized region is a cheap no-op") {
    val root = Files.createTempDirectory("rsplit-decline").toString
    val t = "declt"
    val store = FileStore(root)
    store.ensureTable(t, TableSpec(compactionThreshold = 2))
    // one key, many versions — no separator exists
    (1L to 30L).foreach(v => store.putBatch(t, cells(t, Seq(7), v)))
    assert(RegionSplit.maybeSplit(root, t, "5a", maxRegionBytes = 64) == 0)
    val expected = scanAll(root, t)
    assert(expected.size == 30)
    // under-bound: no split, no write-lock churn
    assert(RegionSplit.maybeSplit(root, t, "5a", maxRegionBytes = 1L << 30) == 0)
  }
}

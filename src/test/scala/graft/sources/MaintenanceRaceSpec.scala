package graft.sources

import graft.ingest.FileStore
import graft.ingest.PushTableSink.{CellPut, TableSpec}
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** PLANNING-RACE coverage (ADVICE r16): both maintenance protocols
  * change the LAYOUT FILE before their directory renames land (split:
  * record boundary → promote satellite; merge: unbind boundary → park
  * right region), and planners never lock — so a scan planned inside
  * that window carries the POST-change fingerprint with a PRE-rename
  * directory listing. [[CellsReaders.listCovered]] must escalate to
  * the bounded stale-coverage path on read-time DISAGREEMENT with
  * planned coverage even when fingerprints match:
  *   (a) own directory missing (my range merged away after planning);
  *   (b) a layout boundary strictly inside my planned range whose
  *       directory now exists (daughter promoted after planning);
  *   (c) my planned end no longer a layout boundary (right neighbor
  *       merged leftward — parked or folded).
  * Plus the ordering side: a scan that REPORTED a static per-partition
  * ordering re-verifies the premise at read time and locally sorts a
  * partition whose layout no longer streams sorted (mustSort). */
class MaintenanceRaceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("maintenance-race-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val allKeys = CellsKeyPred(None, None, None, loInc = true, None, hiInc = true)

  /** three-region fixture under a custom layout: points "B","D" →
    * names ["-","42","44"]; keys A*, B*, D* land one region each. */
  private def seedThreeRegions(): (String, FileStore) = {
    val root = Files.createTempDirectory("mrace").toString
    val store = FileStore(root)
    store.ensureTable("t", TableSpec(compactionThreshold = 0))
    store.ensureSplits("t", FileStore.Splits.ofSplitPoints(
      Seq("B".getBytes("UTF-8"), "D".getBytes("UTF-8"))))
    Seq("A-1", "A-2", "B-1", "B-2", "D-1", "D-2").foreach { k =>
      store.putBatch("t", Seq(CellPut("t", k.getBytes("UTF-8"), 1L, s"v$k".getBytes)))
    }
    (root, store)
  }

  private def names(c: CellsReaders.Covered): Set[String] = c.files.map(_.name).toSet

  test("(c)+(a) merge race: fp-matching reader escalates when plannedEnd left the layout / own dir vanished") {
    val (root, store) = seedThreeRegions()
    val tableDir = Paths.get(root, "t")
    // planner runs AFTER the merge's unbind but BEFORE the park: the
    // layout no longer holds "44", yet the listing still shows its dir
    store.recordBoundaryRemoval("t", "44")
    val fp = CellsCatalog.fingerprintOf(FileStore.splitsAt(tableDir))

    // LEFT partition as that planner built it: dir "42", endName "44".
    // Pre-park its own files are whole — but it must still escalate
    // (bound to its planned range) so the folded-right case below can
    // never double-emit through it.
    val left = CellsReaders.listCovered(tableDir.resolve("42"), Some("44"), fp)
    assert(left.bound.isDefined, "planned end left the layout — must escalate")
    assert(new String(left.bound.get._1, "UTF-8") == "B")
    assert(new String(left.bound.get._2.get, "UTF-8") == "D")

    // park the right region (the merge's second phase)
    Files.move(tableDir.resolve("44"),
      tableDir.resolve("42").resolve(graft.ingest.ShardFiles.mergeSatelliteNameOf("44")),
      StandardCopyOption.ATOMIC_MOVE)

    // RIGHT partition (dir "44", endName None): own dir is gone — must
    // escalate and find its rows inside the left dir's parked satellite
    val right = CellsReaders.listCovered(tableDir.resolve("44"), None, fp)
    assert(right.bound.isDefined, "own directory vanished — must escalate")
    assert(new String(right.bound.get._1, "UTF-8") == "D")
    assert(names(right).exists(_.nonEmpty), "parked satellite files must be covered")
    // the D-cells (digests) must be present in the covered set via the
    // left dir's satellite expansion
    val dDigests = Seq("D-1", "D-2").map(k => FileStore.keyDigest(k.getBytes("UTF-8")))
    assert(dDigests.forall(d => names(right).exists(_.startsWith(d))),
      "escalated right reader must cover the parked right rows")

    // LEFT again, post-park: satellite expands in `own`, and the bound
    // keeps the reader inside [B, D) — exactly-once between the two
    val left2 = CellsReaders.listCovered(tableDir.resolve("42"), Some("44"), fp)
    assert(left2.bound.isDefined)

    // end-to-end exactly-once across the whole window: the real scan
    // (planned NOW, fp current) sees all six rows exactly once
    val rows = spark.read.format("graft-cells").option("root", root)
      .option("table", "t").load()
      .collect().map(r => new String(r.getAs[Array[Byte]]("rowkey"), "UTF-8")).sorted
    assert(rows.toSeq == Seq("A-1", "A-2", "B-1", "B-2", "D-1", "D-2"))
  }

  test("(b) split race: fp-matching reader escalates when a daughter directory materialized inside its planned range") {
    val (root, store) = seedThreeRegions()
    val tableDir = Paths.get(root, "t")
    // mid-split window: boundary "43" recorded (fingerprint changes),
    // daughter not yet promoted — a planner here lists only the parent
    store.recordSplitStart("t", "C".getBytes("UTF-8"))
    val fp = CellsCatalog.fingerprintOf(FileStore.splitsAt(tableDir))
    val parent = CellsReaders.listCovered(tableDir.resolve("42"), Some("44"), fp)
    assert(parent.bound.isEmpty,
      "pre-promote, the satellite rides in `own` — no escalation needed")

    // promote: the daughter directory appears, parent files for its
    // range swept (simulated: move a C-range cell into the daughter)
    store.putBatch("t", Seq(CellPut("t", "C-1".getBytes("UTF-8"), 1L, "vC".getBytes)))
    // the put landed in the daughter dir "43" (placement follows the
    // recorded layout) — the directory now exists
    assert(Files.isDirectory(tableDir.resolve("43")))
    val parent2 = CellsReaders.listCovered(tableDir.resolve("42"), Some("44"), fp)
    assert(parent2.bound.isDefined,
      "a promoted daughter inside the planned range must escalate even with fp match")
    val cDigest = FileStore.keyDigest("C-1".getBytes("UTF-8"))
    assert(names(parent2).exists(_.startsWith(cDigest)),
      "escalated parent must cover the daughter's rows")
  }

  test("mustSort: a reader whose read-time layout is no longer a single sorted run drains and sorts locally") {
    val root = Files.createTempDirectory("msort").toString
    val store = FileStore(root)
    store.ensureTable("t", TableSpec(compactionThreshold = 0))
    // a put backlog: many files, listing order is digest order — NOT
    // rowkey order (exactly what a merge-fold or put wave leaves)
    val keys = (0 until 40).map(i => f"K-$i%02d")
    scala.util.Random.shuffle(keys).foreach { k =>
      store.putBatch("t", Seq(CellPut("t", k.getBytes("UTF-8"), 1L, k.getBytes)))
    }
    val shardDir = {
      val s = Files.list(Paths.get(root, "t"))
      try s.iterator().next().toString finally s.close()
    }
    val fac = CellsReaderFactory(Array("rowkey", "version", "body"), mustSort = true)
    val rd = fac.createReader(CellsShard(shardDir, allKeys))
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (rd.next()) out += new String(rd.get().getBinary(0), "UTF-8")
    rd.close()
    assert(out.size == 40)
    assert(out.toSeq == out.toSeq.sorted,
      "mustSort must restore the promised (rowkey, version) order")
    // without mustSort the same layout streams unsorted (the premise
    // this spec exists to catch)
    val rd2 = CellsReaderFactory(Array("rowkey", "version", "body"))
      .createReader(CellsShard(shardDir, allKeys))
    val out2 = scala.collection.mutable.ArrayBuffer.empty[String]
    while (rd2.next()) out2 += new String(rd2.get().getBinary(0), "UTF-8")
    rd2.close()
    assert(out2.size == 40)
  }

  test("layout rewrites are stat-observable: byte size grows strictly through split → merge → split") {
    val (root, store) = seedThreeRegions()
    val p = Paths.get(root, "t", "_splits.json")
    val s0 = Files.size(p)
    store.recordSplitStart("t", "C".getBytes("UTF-8"))
    val s1 = Files.size(p)
    assert(s1 > s0)
    store.recordBoundaryRemoval("t", "43")
    val s2 = Files.size(p)
    assert(s2 > s1, "a merge's layout rewrite must still grow the file (pad)")
    store.recordSplitStart("t", "C".getBytes("UTF-8"))
    val s3 = Files.size(p)
    assert(s3 >= s2, "an idempotent replay may no-op but never shrinks")
    store.recordBoundaryRemoval("t", "43")
    store.recordSplitStart("t", "C".getBytes("UTF-8"))
    assert(Files.size(p) > s3,
      "merge-then-split can never restore a previously-seen byte size")
    // and the served layout is the correct one
    assert(store.splitsOf("t").names == Vector("-", "42", "43", "44"))
  }
  /** reads every planned partition of `scan` through its own factory */
  private def readAll(scan: CellsScan, parts: Array[org.apache.spark.sql.connector.read.InputPartition])
      : Seq[Seq[(String, Long)]] = {
    val fac = scan.createReaderFactory()
    parts.toSeq.map { p =>
      val rd = fac.createReader(p)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      try while (rd.next()) out += ((new String(rd.get().getBinary(0), "UTF-8"), rd.get().getLong(1)))
      finally rd.close()
      out.toSeq
    }
  }

  private def groupsOf(parts: Array[org.apache.spark.sql.connector.read.InputPartition]): Seq[Seq[String]] =
    parts.toSeq.map(_.asInstanceOf[CellsShardGroup].shards.map(s =>
      Paths.get(s.dir).getFileName.toString))

  test("mustSort over packed partitions: a shard that gains a second segment after planning is sorted locally") {
    val root = Files.createTempDirectory("msort-pack").toString
    val sp = spark; import sp.implicits._
    def load(ks: Seq[String]): Unit = graft.ingest.BulkLoad.writeCells(
      ks.map(k => ("t", k.getBytes("UTF-8"), 1L, k.getBytes("UTF-8")))
        .toDF("tableName", "rowkey", "version", "body"), root)
    val regions = "ABCDEFGH".map(_.toString)
    load(for (r <- regions; i <- 0 until 10 by 2) yield s"$r-$i")
    val scan = CellsScanBuilder(root, "t").build().asInstanceOf[CellsScan]
    assert(scan.outputOrdering().nonEmpty, "one segment per shard reports its order")
    val parts = scan.planInputPartitions()
    val groups = groupsOf(parts)
    assert(groups.flatten.size == 8 && groups.exists(g => g.size > 1 && g.contains("43")),
      s"shard 43 must share a packed partition: $groups")
    // after planning: shard 43 gains a second segment interleaving the first
    load((1 until 10 by 2).map(i => s"C-$i"))
    val segs = Files.list(Paths.get(root, "t", "43"))
    try assert(segs.iterator().asScala.count(p =>
      graft.ingest.CellSegment.isSegment(p.getFileName.toString)) == 2)
    finally segs.close()
    val got = readAll(scan, parts)
    assert(got.flatten.size == 45)
    assert(got.forall(p => p.map(_._1) == p.map(_._1).sorted),
      s"each packed partition must come back sorted: $got")
  }

  test("a packed scan planned before a region split promotes daughters returns every cell once") {
    val root = Files.createTempDirectory("split-pack").toString
    val t = "t"
    val store = FileStore(root)
    // flush on (threshold 2) builds segments; split only on request
    store.ensureTable(t, TableSpec(compactionThreshold = 2))
    // cold regions each weigh most of the hot one, so byte-balanced
    // packing gives the hot (last) shard a neighbour
    val cold = for (r <- "ABCDEFGH"; i <- 0 until 150) yield s"$r-$i"
    store.putBatch(t, cold.map(k => CellPut(t, k.getBytes("UTF-8"), 1L, k.getBytes("UTF-8"))))
    val hot = (0 until 200).map(i => f"Z-$i%04d")
    hot.grouped(25).foreach(w =>
      store.putBatch(t, w.map(k => CellPut(t, k.getBytes("UTF-8"), 1L, k.getBytes("UTF-8")))))
    val scan = CellsScanBuilder(root, t).build().asInstanceOf[CellsScan]
    val parts = scan.planInputPartitions()
    val groups = groupsOf(parts)
    assert(groups.exists(g => g.size > 1 && g.contains("5a")), s"the hot shard must share a group: $groups")
    val before = store.splitsOf(t).size
    assert(graft.ingest.RegionSplit.maybeSplit(root, t, "5a", maxRegionBytes = 2048) > 0)
    assert(store.splitsOf(t).size > before, "the split must promote daughters")
    val got = readAll(scan, parts).flatten
    val want = (cold ++ hot).map(k => (k, 1L))
    assert(got.size == want.size && got.toSet == want.toSet,
      s"${got.size} rows, ${got.toSet.size} distinct, want ${want.size}")
  }
}

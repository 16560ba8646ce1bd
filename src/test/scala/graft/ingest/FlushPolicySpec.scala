package graft.ingest

import graft.ingest.PushTableSink.{CellPut, TableSpec}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** AUTOMATIC SHARD FLUSH (r15 — the memstore-flush /
  * hbase.hstore.compactionThreshold analog): [[FileStore.putBatch]]'s
  * post-commit hook folds a shard's put backlog into one sorted
  * segment once it exceeds the DDL threshold. Pins: the no-op-cheap
  * posture (one listing per touched shard, no flush under threshold),
  * the bounded-backlog invariant, view preservation, precedence over
  * stale segment copies, the flushed segment byte for byte, and the
  * '0'-disables override. */
class FlushPolicySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("flush-policy-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // ALL keys share a leading byte → one shard, the backlog hot spot
  private def cells(table: String, n: Int, v: Long): Seq[CellPut] =
    (0 until n).map(i => CellPut(table, f"Z-$i%03d".getBytes("UTF-8"), v,
      s"b-$i-$v".getBytes("UTF-8")))

  private def shardFiles(root: String, table: String): Seq[String] = {
    val dir = Paths.get(root, table)
    if (!Files.isDirectory(dir)) return Seq.empty
    val shards = Files.list(dir)
    try shards.iterator().asScala.filter(Files.isDirectory(_)).flatMap { s =>
      val l = Files.list(s)
      try l.iterator().asScala.map(_.getFileName.toString).toVector finally l.close()
    }.toVector
    finally shards.close()
  }
  private def putFiles(root: String, table: String): Seq[String] =
    shardFiles(root, table).filter { n =>
      val dot = n.lastIndexOf('.')
      dot > 0 && !CellSegment.isSegment(n) && n.drop(dot + 1).toLongOption.isDefined
    }

  test("under the threshold: the policy check is one listing, no flush, puts remain") {
    val root = Files.createTempDirectory("flush-under").toString
    try {
      val store = FileStore(root)
      store.ensureTable("t", TableSpec(compactionThreshold = 10))
      val checks0 = FileStore.flushChecks.get()
      val flushes0 = FileStore.autoFlushes.get()
      store.putBatch("t", cells("t", 8, 1L))
      assert(FileStore.flushChecks.get() == checks0 + 1,
        "one touched shard ⇒ exactly one policy listing")
      assert(FileStore.autoFlushes.get() == flushes0, "under threshold ⇒ no flush")
      assert(putFiles(root, "t").size == 8, "the backlog stays as put files")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("over the threshold: the backlog folds into ONE segment; the view is unchanged") {
    val root = Files.createTempDirectory("flush-over").toString
    try {
      val store = FileStore(root)
      store.ensureTable("t", TableSpec(compactionThreshold = 10))
      val flushes0 = FileStore.autoFlushes.get()
      store.putBatch("t", cells("t", 25, 1L))
      assert(FileStore.autoFlushes.get() == flushes0 + 1)
      assert(putFiles(root, "t").isEmpty, "the whole backlog flushed")
      assert(shardFiles(root, "t").count(CellSegment.isSegment) == 1)
      // the logical view is untouched — 25 cells, correct bodies
      val got = spark.read.format("graft-cells")
        .option("root", root).option("table", "t").load()
        .select(col("rowkey").cast("string"), col("version"), col("body").cast("string"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(got == (0 until 25).map(i => (f"Z-$i%03d", 1L, s"b-$i-1")).toSet)
      // a follow-up small batch does NOT re-merge the segment
      store.putBatch("t", cells("t", 3, 2L))
      assert(FileStore.autoFlushes.get() == flushes0 + 1, "segments are never re-merged here")
      assert(putFiles(root, "t").size == 3)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("threshold 0 disables the hook entirely") {
    val root = Files.createTempDirectory("flush-off").toString
    try {
      val store = FileStore(root)
      store.ensureTable("t", TableSpec(compactionThreshold = 0))
      val checks0 = FileStore.flushChecks.get()
      store.putBatch("t", cells("t", 40, 1L))
      assert(FileStore.flushChecks.get() == checks0, "disabled ⇒ not even the listing")
      assert(putFiles(root, "t").size == 40)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("segment tier: repeated flush waves keep the shard's file count bounded") {
    val root = Files.createTempDirectory("flush-tier").toString
    try {
      val store = FileStore(root)
      store.ensureTable("t", TableSpec(compactionThreshold = 10))
      val minors0 = FileStore.autoMinors.get()
      // 15 waves × 12 puts: every wave trips the put flush (one more
      // small segment); once the small-segment population outgrows the
      // threshold the write-path minor folds the tier
      (1 to 15).foreach { wave =>
        store.putBatch("t", cells("t", 12, wave.toLong))
        val files = shardFiles(root, "t")
        assert(files.count(!CellSegment.isSegment(_)) <= 10,
          s"wave $wave: put backlog bounded")
        assert(files.count(CellSegment.isSegment) <= 11,
          s"wave $wave: segment tier bounded, got ${files.count(CellSegment.isSegment)}")
      }
      assert(FileStore.autoMinors.get() > minors0, "the tier merge actually fired")
      // the view is every seeded cell, exactly once
      val n = spark.read.format("graft-cells")
        .option("root", root).option("table", "t").load().count()
      assert(n == 15L * 12, s"no cell lost or duplicated across flush+tier merges: $n")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("direct memstore flush (r17): an over-threshold batch lands as ONE segment, " +
    "replaces route through the put file, duplicates keep the last body") {
    val root = Files.createTempDirectory("flush-direct").toString
    try {
      val store = FileStore(root)
      store.ensureTable("t", TableSpec(compactionThreshold = 10))
      // an existing PUT FILE at (Z-000, 7): the direct path must route
      // the batch's same-coordinate cell through the per-cell replace
      // (a put file always wins its coordinate — a segment copy of the
      // new body would LOSE to the stale put)
      store.putBatch("t", Seq(CellPut("t", "Z-000".getBytes("UTF-8"), 7L, "stale".getBytes)))
      val flushes0 = FileStore.autoFlushes.get()
      store.putBatch("t",
        CellPut("t", "Z-000".getBytes("UTF-8"), 7L, "replaced".getBytes) +:
          CellPut("t", "Z-dup".getBytes("UTF-8"), 1L, "first".getBytes) +:
          CellPut("t", "Z-dup".getBytes("UTF-8"), 1L, "last".getBytes) +:
          cells("t", 12, 3L))
      assert(FileStore.autoFlushes.get() == flushes0 + 1,
        "the direct path IS the flush — the counter moves once")
      // exactly one put file remains: the replaced coordinate
      assert(putFiles(root, "t") == Seq("" +
        FileStore.keyDigest("Z-000".getBytes("UTF-8")) + ".7"),
        s"only the replace stays a put file: ${putFiles(root, "t")}")
      assert(shardFiles(root, "t").count(CellSegment.isSegment) == 1,
        "the fresh cells land as ONE segment")
      val got = spark.read.format("graft-cells")
        .option("root", root).option("table", "t").load()
        .select(col("rowkey").cast("string"), col("version"), col("body").cast("string"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      val want = (0 until 12).map(i => (f"Z-$i%03d", 3L, s"b-$i-3")).toSet +
        (("Z-000", 7L, "replaced")) + (("Z-dup", 1L, "last"))
      assert(got == want, s"view = last-wins batch semantics: ${got.diff(want)} / ${want.diff(got)}")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("direct flush on a version-capped table (r18): the cap prunes inside the " +
    "flush — beyond-cap residents, replaces and fresh cells never survive") {
    val root = Files.createTempDirectory("flush-direct-capped").toString
    val refRoot = Files.createTempDirectory("flush-capped-ref").toString
    try {
      val spec = TableSpec(maxVersions = 2, compactionThreshold = 10)
      val store = FileStore(root)
      store.ensureTable("t", spec)
      // reference: identical workload through the PER-CELL path (a
      // threshold the batch never exceeds) — the end state the direct
      // path must replicate
      val ref = FileStore(refRoot)
      ref.ensureTable("t", TableSpec(maxVersions = 2, compactionThreshold = 10000))
      def put(s: FileStore, cs: Seq[CellPut]): Unit = s.putBatch("t", cs)
      val z0 = "Z-000".getBytes("UTF-8")
      val zi = "Z-intra".getBytes("UTF-8")
      // batch 0 (under threshold, per-cell on both): Z-000 @ 1, 2
      val seed = Seq(CellPut("t", z0, 1L, "v1".getBytes),
        CellPut("t", z0, 2L, "v2".getBytes))
      put(store, seed); put(ref, seed)
      // batch 1 (over threshold → direct on `store`): a beyond-cap
      // REPLACE of (Z-000, 2), fresh Z-000 @ 3 and 4 (cap keeps 3, 4 —
      // residents 1, 2 and the replace must all die), an intra-batch
      // multi-version key (keep newest 2 of 3), plus filler that lifts
      // the same-shard wave past the capped direct path's 1,024-cell
      // floor (smaller capped groups stay per-cell)
      val wave = Seq(
        CellPut("t", z0, 2L, "v2-replaced".getBytes),
        CellPut("t", z0, 3L, "v3".getBytes),
        CellPut("t", z0, 4L, "v4".getBytes),
        CellPut("t", zi, 1L, "i1".getBytes),
        CellPut("t", zi, 2L, "i2".getBytes),
        CellPut("t", zi, 3L, "i3".getBytes)) ++
        (100 until 1200).map(i =>
          CellPut("t", f"Z-$i%03d".getBytes("UTF-8"), 9L, s"b-$i-9".getBytes))
      assert(wave.size > FileStore.CappedDirectFloor)
      val flushes0 = FileStore.autoFlushes.get()
      put(store, wave); put(ref, wave)
      assert(FileStore.autoFlushes.get() == flushes0 + 1,
        "the capped over-threshold wave takes the direct path")
      // layout: no beyond-cap put file survives; fresh cells are ONE segment
      val d0 = FileStore.keyDigest(z0); val di = FileStore.keyDigest(zi)
      val puts = putFiles(root, "t")
      assert(!puts.exists(n => n.startsWith(d0) || n.startsWith(di)),
        s"beyond-cap puts (and the pruned replace) must be gone: $puts")
      assert(shardFiles(root, "t").count(CellSegment.isSegment) == 1,
        "the capped wave lands as ONE segment")
      // end state equals the per-cell reference, read through the same face
      def view(r: String) = spark.read.format("graft-cells")
        .option("root", r).option("table", "t").load()
        .select(col("rowkey").cast("string"), col("version"), col("body").cast("string"))
        .collect().map(x => (x.getString(0), x.getLong(1), x.getString(2))).toSet
      val got = view(root); val want = view(refRoot)
      assert(got == want,
        s"capped direct path must equal per-cell+prune: ${got.diff(want)} / ${want.diff(got)}")
      assert(got.filter(_._1 == "Z-000").map(_._2) == Set(3L, 4L),
        s"newest maxVersions kept: $got")
      assert(got.filter(_._1 == "Z-intra").map(_._2) == Set(2L, 3L),
        s"intra-batch cap applies: $got")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(refRoot))
    }
  }

  test("the put flush writes a pinned segment: file name, trailer seqNo and SHA-256") {
    val root = Files.createTempDirectory("flush-bytes").toString
    try {
      val sp = spark; import sp.implicits._
      val store = FileStore(root)
      store.ensureTable("t", TableSpec(compactionThreshold = 10))
      // a resident bulk segment (seqNo 1), one of whose coordinates the
      // backlog re-puts with a new body
      BulkLoad.writeCells(Seq(("t", "Z-000", 5L, "OLD"))
        .map(t => (t._1, t._2.getBytes("UTF-8"), t._3, t._4.getBytes("UTF-8")))
        .toDF("tableName", "rowkey", "version", "body"), root)
      val shard = Paths.get(root, "t", FileStore.shardOf("Z".getBytes("UTF-8")))
      def segments: Set[java.nio.file.Path] =
        ShardFiles.list(shard).own.filter(_.isSegment).map(_.path).toSet
      val resident = segments
      // 6 then 7 per-cell puts: the second batch's hook flushes all 13
      store.putBatch("t",
        CellPut("t", "Z-000".getBytes("UTF-8"), 5L, "NEW".getBytes("UTF-8")) +: cells("t", 5, 1L))
      store.putBatch("t", cells("t", 12, 2L).drop(5))
      assert(putFiles(root, "t").isEmpty, "the backlog flushed")
      val flushed = (segments -- resident).toSeq
      assert(flushed.size == 1, s"one flushed segment: $flushed")
      val seg = flushed.head
      val sha = FileStore.hex(java.security.MessageDigest.getInstance("SHA-256")
        .digest(Files.readAllBytes(seg)))
      assert(seg.getFileName.toString == "bulk-a0a52acdff89f466.seg")
      assert(CellSegment.readTrailer(seg).seqNo == 2L, "the flush lifts above the resident segment")
      assert(sha == "72aedc8299526381ccccda04a96c8e698e7ae8fbaa5f6e8ee42b9f64e8c2982a")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("a flushed put outranks a stale segment copy at its coordinate") {
    val root = Files.createTempDirectory("flush-prec").toString
    try {
      val sp = spark; import sp.implicits._
      val store = FileStore(root)
      store.ensureTable("t", TableSpec(compactionThreshold = 10))
      // generation 1: a bulk segment holds (Z-000, 5, OLD)
      BulkLoad.writeCells(Seq(("t", "Z-000", 5L, "OLD"))
        .map(t => (t._1, t._2.getBytes("UTF-8"), t._3, t._4.getBytes("UTF-8")))
        .toDF("tableName", "rowkey", "version", "body"), root)
      // an in-place re-put at the SAME coordinate plus enough filler
      // to trip the flush — the fresh segment must take seqNo above
      // the resident one so the new body keeps winning
      store.putBatch("t",
        CellPut("t", "Z-000".getBytes("UTF-8"), 5L, "NEW".getBytes("UTF-8")) +:
          cells("t", 12, 9L))
      assert(putFiles(root, "t").isEmpty, "backlog flushed")
      val body = spark.read.format("graft-cells")
        .option("root", root).option("table", "t").load()
        .filter(col("version") === 5L)
        .select(col("body").cast("string")).collect().map(_.getString(0)).toSeq
      assert(body == Seq("NEW"), s"the flushed re-put must keep read precedence: $body")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}

package graft.ingest

import graft.ingest.PushTableSink.{CellPut, TableSpec}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** READ-TIME RETENTION ([[Retention]], r15 — the HBase StoreScanner
  * contract): maxVersions/TTL/minVersions applied by the read fold on
  * every masked face, with the major only reclaiming bytes. Pins the
  * formula, the face coverage (batch, $latest, exists/F5, row scan vs
  * edit log), clock injection, and the agg-pushdown decline. */
class RetentionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("retention-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("Policy.admitted: rank cap, TTL expiry, and the minVersions floor") {
    // cap 2, cutoff 100, floor 1
    val p = Retention.Policy(maxVersions = 2, minVersions = 1, cutoff = 100L)
    // newest two live, both fresh: both kept; third dies by RANK
    assert(p.admitted(Seq(300L, 200L, 150L)) == Set(300L, 200L))
    // rank 2 expired: dies by TTL even under the cap
    assert(p.admitted(Seq(300L, 50L, 10L)) == Set(300L))
    // ALL expired: the newest survives by the floor alone
    assert(p.admitted(Seq(80L, 50L)) == Set(80L))
    // floor 2 keeps the two newest even when expired
    assert(Retention.Policy(5, 2, 100L).admitted(Seq(80L, 50L, 10L)) == Set(80L, 50L))
    // unordered input ranks identically
    assert(p.admitted(Seq(150L, 300L, 200L)) == Set(300L, 200L))
    // the no-op DDL resolves to None
    assert(Retention.of(TableSpec(), 1000L).isEmpty)
    assert(Retention.of(TableSpec(maxVersions = 3), 1000L).isDefined)
    assert(Retention.of(TableSpec(ttlMillis = 10L), 1000L).isDefined)
  }

  private def seedStore(): (String, FileStore) = {
    val root = java.nio.file.Files.createTempDirectory("retention-spec").toString
    val store = FileStore(root)
    // cap 2, ttl 1000 (cutoff = now − 1000), flush off so the fixture
    // layout stays put files where seeded
    store.ensureTable("t", TableSpec(maxVersions = 2, ttlMillis = 1000L,
      compactionThreshold = 0))
    (root, store)
  }

  test("the batch face masks by cap+TTL immediately; the major never changes answers") {
    val (root, store) = seedStore()
    try {
      // key A: versions 10, 20, 5000 — at now=5500/cutoff=4500: 5000
      // live (rank 1); 20 expired rank 2 → dies by TTL; 10 rank 3 → cap
      // key B: versions 100, 200 — both expired → floor keeps 200
      store.putBatch("t", Seq(
        CellPut("t", "A".getBytes, 10L, "a10".getBytes),
        CellPut("t", "A".getBytes, 20L, "a20".getBytes),
        CellPut("t", "A".getBytes, 5000L, "a5000".getBytes),
        CellPut("t", "B".getBytes, 100L, "b100".getBytes),
        CellPut("t", "B".getBytes, 200L, "b200".getBytes)))
      def view() = spark.read.format("graft-cells")
        .option("root", root).option("table", "t")
        .option("retentionNowMillis", "5500").load()
        .select(col("rowkey").cast("string"), col("version"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val before = view()
      assert(before == Set(("A", 5000L), ("B", 200L)), s"$before")
      Compaction.major(spark, root, "t", nowMillis = () => 5500L)
      assert(view() == before, "the major reclaims bytes, never changes answers")
      // and the bytes really were reclaimed: raw store view shrank
      assert(store.scanTable("t").size == 2)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("$latest, exists/F5, and the row count agree; the edit log never masks") {
    val (root, store) = seedStore()
    try {
      val sp = spark; import sp.implicits._
      // v10 rides a bulk segment (the put path's own eager write-time
      // prune would otherwise GC it before the read could mask it)
      BulkLoad.writeCells(Seq(("t", "K", 10L, "k10"))
        .map(x => (x._1, x._2.getBytes("UTF-8"), x._3, x._4.getBytes("UTF-8")))
        .toDF("tableName", "rowkey", "version", "body"), root)
      store.putBatch("t", Seq(
        CellPut("t", "K".getBytes, 20L, "k20".getBytes),
        CellPut("t", "K".getBytes, 5000L, "k5000".getBytes)))
      def face(extra: (String, String)*) = {
        val base = spark.read.format("graft-cells")
          .option("root", root).option("table", "t")
          .option("retentionNowMillis", "5500")
        extra.foldLeft(base) { case (b, (k, v)) => b.option(k, v) }.load()
      }
      // $latest = the newest retained (trivially the newest)
      val latest = face("latest" -> "true")
        .select(col("version")).collect().map(_.getLong(0)).toSeq
      assert(latest == Seq(5000L))
      // the edit-log face reports every physical edit
      assert(face("changeFeed" -> "true").count() == 3)
      // F5: hidden versions read as absent at the same instant
      def cell(v: Long) = CellPut("t", "K".getBytes, v, Array.emptyByteArray)
      assert(store.existsAt("t", Seq(cell(5000L), cell(20L), cell(10L)), 5500L)
        == Seq(true, false, false))
      // delete-masked versions never occupy a rank: masking v5000
      // promotes v20 to rank 1 (and the floor saves it from TTL)
      store.deleteCellsExact("t", Seq(("K".getBytes, 5000L)))
      assert(face().select("version").collect().map(_.getLong(0)).toSet == Set(20L),
        "ranks recompute over LIVE versions after a delete")
      assert(store.existsAt("t", Seq(cell(20L)), 5500L) == Seq(true))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("retention ranks across store-file kinds (puts + segments) and respects the scan window last") {
    val (root, store) = seedStore()
    try {
      val sp = spark; import sp.implicits._
      // segment holds v1000/v2000; a put adds v5000 — the put pushes
      // the segment's v1000 past the cap even though it's in a
      // different store-file kind
      BulkLoad.writeCells(Seq(
        ("t", "M", 1000L, "m1000"), ("t", "M", 2000L, "m2000"))
        .map(t => (t._1, t._2.getBytes("UTF-8"), t._3, t._4.getBytes("UTF-8")))
        .toDF("tableName", "rowkey", "version", "body"), root)
      store.putBatch("t", Seq(CellPut("t", "M".getBytes, 5000L, "m5000".getBytes)))
      // now=2900 ⇒ cutoff=1900: v5000/v2000 live (ranks 1-2 kept),
      // v1000 dies by rank 3 — a pure cross-kind CAP kill
      def read(cond: org.apache.spark.sql.Column) = spark.read.format("graft-cells")
        .option("root", root).option("table", "t")
        .option("retentionNowMillis", "2900").load()
        .filter(cond).select("version").collect().map(_.getLong(0)).toSet
      assert(read(lit(true)) == Set(5000L, 2000L),
        "cross-kind rank: the put occupies rank 1, the segment keeps rank 2")
      // a version-window scan applies AFTER retention: asking for the
      // hidden v1000 finds nothing (exactly the post-major answer)
      assert(read(col("version") <= 1500L) == Set.empty[Long])
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("time travel composes: the as-of slice of a capped table is identical before and after the major") {
    val root = java.nio.file.Files.createTempDirectory("retention-asof").toString
    try {
      val sp = spark; import sp.implicits._
      val store = FileStore(root)
      store.ensureTable("t", TableSpec(maxVersions = 2, compactionThreshold = 0))
      // key A at versions 10/20/30 via bulk (no write-time pruning):
      // retention ranks over the FULL live set — {30, 20} retained,
      // 10 dead by rank — and the scan window applies AFTER, so
      // `version <= 25` sees exactly {20} both before the major
      // (10 hidden though in-window) and after it (10 gone)
      BulkLoad.writeCells(Seq(10L, 20L, 30L)
        .map(v => ("t", "A".getBytes("UTF-8"), v, s"a$v".getBytes("UTF-8")))
        .toDF("tableName", "rowkey", "version", "body"), root)
      def asOf25() = spark.read.format("graft-cells")
        .option("root", root).option("table", "t")
        .option("retentionNowMillis", "5500").load()
        .filter(col("version") <= 25L)
        .select("version").collect().map(_.getLong(0)).toSeq
      assert(asOf25() == Seq(20L),
        "rank-killed versions never resurface through a version window")
      Compaction.major(spark, root, "t", nowMillis = () => 5500L)
      assert(asOf25() == Seq(20L), "the as-of slice is unchanged by the major")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("the STREAMING feed is retention-exempt: over-cap/expired edits deliver while the batch face masks them") {
    // the r15 verdict's documentation-pin ask: the $changes/streaming
    // exemption was prose — this pins it so the contract cannot
    // regress silently. HBase-correct: WALs carry expired edits; an
    // edit log reports edits, retention is a READ-face mask.
    val (root, store) = seedStore()
    val now = System.currentTimeMillis()
    // one key, four FRESH versions in one bulk segment (the put path's
    // eager prune would physically drop over-cap puts — a segment
    // carries the full history, which is exactly what the feed must
    // deliver): cap 2 hides the two oldest from every batch face
    val k = "streamkey".getBytes("UTF-8")
    val shard = java.nio.file.Paths.get(root, "t", FileStore.shardOf(k))
    CellSegment.write(shard,
      (1 to 4).iterator.map(i => (k, now - 500L + i * 100L, s"b$i".getBytes)), seqNo = 1L)
    val batch = spark.read.format("graft-cells")
      .option("root", root).option("table", "t")
      .option("retentionNowMillis", now.toString).load()
    assert(batch.count() == 2, "the batch face masks to the newest cap")
    // the plain STREAM face drains everything — all four versions
    val outDir = java.nio.file.Files.createTempDirectory("ret-stream-out").toString
    val ck = java.nio.file.Files.createTempDirectory("ret-stream-ck").toString
    val q = spark.readStream.format("graft-cells")
      .option("root", root).option("table", "t").load()
      .select(col("version"))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.read.parquet(outDir).count()
    assert(streamed == 4,
      s"the stream feed must deliver retention-hidden edits (WALs carry expired edits): $streamed")
    // the $changes batch face likewise reports every edit
    val feed = spark.read.format("graft-cells")
      .option("root", root).option("table", "t")
      .option("changeFeed", "true").load()
    assert(feed.count() == 4)
  }

  test("aggregate pushdown stays metadata-only on a retention-active table and counts the masked view") {
    val (root, store) = seedStore()
    try {
      // X: v10 (rank 3 — cap), v20 (rank 2 — expired at cutoff 4500),
      // v5000 (rank 1 — serves); the pushed COUNT must see exactly 1
      // — the retention fold runs on filenames + indexes, zero bodies
      val sp = spark; import sp.implicits._
      BulkLoad.writeCells(Seq(("t", "X", 10L, "x1"))
        .map(x => (x._1, x._2.getBytes("UTF-8"), x._3, x._4.getBytes("UTF-8")))
        .toDF("tableName", "rowkey", "version", "body"), root)
      store.putBatch("t", Seq(
        CellPut("t", "X".getBytes, 20L, "x2".getBytes),
        CellPut("t", "X".getBytes, 5000L, "x3".getBytes)))
      val df = spark.read.format("graft-cells")
        .option("root", root).option("table", "t")
        .option("retentionNowMillis", "5500").load()
        .agg(count(lit(1)).as("n"), max(col("version")).as("mx"))
      val hasAggScan = df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if r.scan.isInstanceOf[graft.sources.CellsAggScan] => r
      }.isDefined
      assert(hasAggScan, "the retention fold is metadata-only — pushdown stays on")
      graft.sources.CellsSource.filesOpened.set(0)
      val row = df.collect()(0)
      assert(row.getLong(0) == 1L && row.getLong(1) == 5000L,
        s"the pushed aggregate counts the masked view: $row")
      assert(graft.sources.CellsSource.filesOpened.get() == 0,
        "retention-aware COUNT still reads zero body bytes")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}

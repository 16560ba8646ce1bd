package graft.sources

import graft.ingest.FileStore
import graft.ingest.PushTableSink.{CellPut, TableSpec}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The DataSource V2 face of the cell store: correctness of the full
  * scan against FileStore's own scanTable, version-predicate pruning
  * that provably skips file opens, column pruning that skips content
  * I/O entirely, and shards packed into a few byte-balanced
  * partitions. */
class CellsSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var root: String = _
  private val table = "ns:cells_spec"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("cells-source-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    root = java.nio.file.Files.createTempDirectory("graft-cells-spec").toString
    val store = FileStore(root)
    // flush policy OFF: this suite pins the PER-CELL PUT-FILE read
    // path (filename pruning, per-file open counts) — the default
    // threshold would fold the fixture into a segment
    store.ensureTable(table, TableSpec(compactionThreshold = 0))
    // 40 keys × 3 versions, deterministic bodies
    val puts = for (k <- 0 until 40; v <- 1 to 3) yield CellPut(
      table,
      s"rowkey-$k".getBytes("UTF-8"),
      (100L * k) + v,
      s"body-$k-$v".getBytes("UTF-8"))
    store.putBatch(table, puts)
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  private def read = spark.read.format("graft-cells")
    .option("root", root).option("table", table).load()

  test("full scan equals FileStore.scanTable (keys, versions, bodies)") {
    val got = read.collect()
      .map(r => (r.getAs[Array[Byte]]("rowkey").toSeq, r.getLong(1),
        new String(r.getAs[Array[Byte]]("body"), "UTF-8"))).toSet
    val want = FileStore(root).scanTable(table)
      .map { case (hex, v, body) => (hexToBytes(hex).toSeq, v, new String(body, "UTF-8")) }
      .toSet
    // scanTable returns the digest hex, not the key — compare via count
    // + (version, body) multiset, and key round-trip separately
    assert(got.size == 120 && want.size == 120)
    assert(got.map(g => (g._2, g._3)) == want.map(w => (w._2, w._3)))
    assert(got.forall { case (k, _, body) =>
      val ks = new String(k.toArray, "UTF-8")
      ks.startsWith("rowkey-") && body.startsWith(s"body-${ks.drop(7)}-")
    })
  }

  test("version predicates prune by filename — out-of-range cells are never opened") {
    CellsSource.filesOpened.set(0)
    val rows = read.filter(col("version") <= 200L).collect()
    // keys 0 and 1 have versions ≤ 200: k=0 → 1,2,3; k=1 → 101,102,103 minus >200
    val want = (for (k <- 0 until 40; v <- 1 to 3; ver = 100L * k + v if ver <= 200) yield ver).toSet
    assert(rows.map(_.getLong(1)).toSet == want)
    assert(CellsSource.filesOpened.get() == want.size,
      s"opened ${CellsSource.filesOpened.get()} files for ${want.size} matching cells — pruning failed")
  }

  test("the version filter is fully pushed — no residual Filter re-evaluation in the plan") {
    val df = read.filter(col("version") === 203L)
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("Filter ("), s"expected no post-scan Filter node:\n$s")
    assert(df.collect().map(_.getLong(1)).toSeq == Seq(203L))
  }

  test("version-only projection reads zero file content (count is directory listing)") {
    CellsSource.filesOpened.set(0)
    assert(read.select("version").count() == 120)
    assert(CellsSource.filesOpened.get() == 0,
      "a count over version opened cell files — column pruning failed")
  }

  test("statistics report exact post-pruning row counts from the listing (no content reads)") {
    CellsSource.filesOpened.set(0)
    val all = CellsScan(root, table, Long.MinValue, Long.MaxValue, CellsKeyPred.All, CellsSource.Schema)
      .estimateStatistics()
    assert(all.numRows().getAsLong == 120)
    assert(all.sizeInBytes().getAsLong > 0)
    val sliced = CellsScan(root, table, Long.MinValue, 200L, CellsKeyPred.All, CellsSource.Schema)
      .estimateStatistics()
    assert(sliced.numRows().getAsLong == 6, s"got ${sliced.numRows()}") // k=0,1 × 3 versions
    assert(CellsSource.filesOpened.get() == 0, "statistics opened cell files")
  }

  test("statistics are mask-aware and latest-aware: live cells, live keys — still no content reads") {
    val r2 = java.nio.file.Files.createTempDirectory("graft-cells-stats").toString
    try {
      val store = FileStore(r2)
      // flush policy off — the test pins PUT-file statistics tiers
      store.ensureTable("t", TableSpec(compactionThreshold = 0))
      store.putBatch("t", for (k <- 0 until 10; v <- 1 to 3) yield CellPut(
        "t", s"sk-$k".getBytes("UTF-8"), 10L * k + v, s"b-$k-$v".getBytes("UTF-8")))
      // sk-0 fully masked (bound above all); sk-1 loses exactly v2
      store.deleteCells("t", Seq(("sk-0".getBytes("UTF-8"), 99L)))
      store.deleteCellsExact("t", Seq(("sk-1".getBytes("UTF-8"), 12L)))
      CellsSource.filesOpened.set(0)
      val base = CellsScan(r2, "t", Long.MinValue, Long.MaxValue,
        CellsKeyPred.All, CellsSource.Schema).estimateStatistics()
      assert(base.numRows().getAsLong == 30 - 3 - 1,
        s"live cells only: ${base.numRows()}")
      val latest = CellsScan(r2, "t", Long.MinValue, Long.MaxValue,
        CellsKeyPred.All, CellsSource.Schema, latest = true).estimateStatistics()
      assert(latest.numRows().getAsLong == 9,
        s"one winner per LIVE key — the serving cardinality: ${latest.numRows()}")
      assert(latest.sizeInBytes().getAsLong > 0 &&
        latest.sizeInBytes().getAsLong < base.sizeInBytes().getAsLong,
        "the latest face sizes below the history face")
      // the edit-log face counts everything it EMITS: 30 unmasked puts
      // plus the 2 markers (op='delete'/'delete_version' are feed rows
      // — leaving them out understated the face)
      val feed = CellsScan(r2, "t", Long.MinValue, Long.MaxValue,
        CellsKeyPred.All, CellsSource.ChangeFeedSchema, changeFeed = true).estimateStatistics()
      assert(feed.numRows().getAsLong == 32, s"puts + marker rows in the log: ${feed.numRows()}")
      assert(CellsSource.filesOpened.get() == 0, "statistics opened cell files")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r2))
  }

  test("post-compaction statistics are trailer-only: zero index loads, zero content reads") {
    val r2 = java.nio.file.Files.createTempDirectory("graft-cells-tstats").toString
    try {
      val sp = spark; import sp.implicits._
      // a put-free, marker-free store — the steady state majors leave —
      // whose stats must come from 52-byte trailers alone: planning
      // I/O ∝ segments, not cells (the index walk is the fallback for
      // put backlogs, markers, and point predicates, not the default)
      graft.ingest.BulkLoad.writeCells(
        (for (k <- 0 until 40; v <- 1 to 3)
          yield ("t", s"tk-$k".getBytes("UTF-8"), 10L * k + v, s"b-$k-$v".getBytes("UTF-8")))
          .toDF("tableName", "rowkey", "version", "body"), r2)
      CellsSource.filesOpened.set(0)
      val ir0 = graft.ingest.CellSegment.indexReads.get()
      val base = CellsScan(r2, "t", Long.MinValue, Long.MaxValue,
        CellsKeyPred.All, CellsSource.Schema).estimateStatistics()
      assert(base.numRows().getAsLong == 120, s"${base.numRows()}")
      val latest = CellsScan(r2, "t", Long.MinValue, Long.MaxValue,
        CellsKeyPred.All, CellsSource.Schema, latest = true).estimateStatistics()
      assert(latest.numRows().getAsLong == 40,
        s"trailer distinctKeys IS the serving cardinality here: ${latest.numRows()}")
      assert(graft.ingest.CellSegment.indexReads.get() == ir0,
        "trailer-tier statistics must load no segment index")
      assert(CellsSource.filesOpened.get() == 0, "statistics opened cell files")
      // a version bound that CUTS a segment forces that segment onto
      // the index walk — and only then
      val sliced = CellsScan(r2, "t", Long.MinValue, 200L,
        CellsKeyPred.All, CellsSource.Schema).estimateStatistics()
      assert(sliced.numRows().getAsLong == (0 until 40).map(k => (1 to 3).count(v => 10L * k + v <= 200L)).sum)
      assert(graft.ingest.CellSegment.indexReads.get() > ir0,
        "a partial window legitimately walks indexes")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r2))
  }

  test("$latest segment reads: zero-winner segments are never opened; winner segments stream") {
    val r2 = java.nio.file.Files.createTempDirectory("graft-cells-lseg").toString
    try {
      val sp = spark; import sp.implicits._
      // two generations bulk-loaded separately → two segments per
      // populated shard; every winner lives in generation 2
      def gen(g: Int) = graft.ingest.BulkLoad.writeCells(
        (0 until 30).map(i => ("t", s"L-$i".getBytes("UTF-8"),
          g * 100L + i, s"g$g-$i".getBytes("UTF-8")))
          .toDF("tableName", "rowkey", "version", "body"), r2)
      gen(1)
      val shards = gen(2).segments.map(_.shard).distinct.size
      CellsSource.filesOpened.set(0)
      val got = spark.read.format("graft-cells")
        .option("root", r2).option("table", "t").option("latest", "true").load()
        .collect().map(r => (new String(r.getAs[Array[Byte]]("rowkey"), "UTF-8"),
          r.getAs[Long]("version"))).toSet
      assert(got == (0 until 30).map(i => (s"L-$i", 200L + i)).toSet)
      assert(CellsSource.filesOpened.get() == shards,
        s"only generation-2 segments open (${CellsSource.filesOpened.get()} vs $shards): " +
          "a segment the index proves winner-free costs nothing")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r2))
  }

  test("scan parallelism: every shard is planned exactly once") {
    val scan = CellsScan(root, table, Long.MinValue, Long.MaxValue, CellsKeyPred.All, CellsSource.Schema)
    val shards = scan.plannedShards.map(_.dir)
    val shardDirs = new java.io.File(s"$root/${table.replace(':', '~')}")
      .listFiles().filter(_.isDirectory).map(_.toString).toSet
    assert(shards.size == shardDirs.size && shards.toSet == shardDirs && shards.nonEmpty)
  }

  test("rowkey point lookup plans ONLY its digest shard and opens only that key's cells") {
    val key = "rowkey-7".getBytes("UTF-8")
    // planning face: 1 input partition, not one per shard
    val sb = CellsScanBuilder(root, table)
    val residual = sb.pushFilters(Array(org.apache.spark.sql.sources.EqualTo("rowkey", key)))
    assert(residual.nonEmpty, "rowkey equality must stay residual — Spark re-checks the bytes")
    val parts = sb.build().asInstanceOf[CellsScan].plannedShards
    assert(parts.length == 1, s"point lookup planned ${parts.length} shards, want 1")
    // end-to-end: correct rows, and only the probed key's 3 version
    // cells are opened (not the shard's other keys, not 120 files)
    CellsSource.filesOpened.set(0)
    val rows = read.filter(col("rowkey") === lit(key)).collect()
    assert(rows.map(_.getLong(1)).toSet == Set(701L, 702L, 703L))
    assert(CellsSource.filesOpened.get() == 3,
      s"opened ${CellsSource.filesOpened.get()} files for a 3-version point lookup")
  }

  test("rowkey IN-list routes to the union of digest shards with correct rows") {
    val keys = Seq("rowkey-3", "rowkey-29").map(_.getBytes("UTF-8"))
    val rows = read.filter(col("rowkey").isin(keys: _*)).collect()
    assert(rows.map(_.getLong(1)).toSet == Set(301L, 302L, 303L, 2901L, 2902L, 2903L))
    val sb = CellsScanBuilder(root, table)
    sb.pushFilters(Array(org.apache.spark.sql.sources.In("rowkey", keys.toArray[Any])))
    assert(sb.build().asInstanceOf[CellsScan].plannedShards.length <= 2)
  }

  test("rowkey prefix/range scan plans only its shard span and opens only that span's cells") {
    // fresh table whose keys have DIVERSE first bytes (range shards):
    // 16 shards × 5 keys × 2 versions
    val ptable = "ns:cells_prefix_spec"
    val store = FileStore(root)
    store.ensureTable(ptable, TableSpec())
    val puts = for (b <- 0 until 16; k <- 0 until 5; v <- 1 to 2) yield CellPut(
      ptable,
      Array(b.toByte, 0x10.toByte, k.toByte),
      10000L + b * 100 + k * 10 + v,
      s"pb-$b-$k-$v".getBytes("UTF-8"))
    store.putBatch(ptable, puts)
    // prefix scan for first byte 0x05: rowkey >= [05] AND rowkey < [06]
    val sb = CellsScanBuilder(root, ptable)
    val residual = sb.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("rowkey", Array(5.toByte): Array[Byte]),
      org.apache.spark.sql.sources.LessThan("rowkey", Array(6.toByte): Array[Byte])))
    assert(residual.length == 2, "range bounds must stay residual — Spark re-checks the bytes")
    val parts = sb.build().asInstanceOf[CellsScan].plannedShards
    assert(parts.length == 1, s"prefix scan planned ${parts.length} shards, want 1 of 16")
    // end-to-end through the DataFrame API: the binary comparisons must
    // translate, prune to the one shard, and return exactly its cells
    CellsSource.filesOpened.set(0)
    val rows = spark.read.format("graft-cells")
      .option("root", root).option("table", ptable).load()
      .filter(col("rowkey") >= lit(Array(5.toByte)) && col("rowkey") < lit(Array(6.toByte)))
      .collect()
    assert(rows.length == 10, s"want shard 05's 10 cells, got ${rows.length}")
    assert(rows.forall(_.getAs[Array[Byte]]("rowkey")(0) == 5.toByte))
    assert(CellsSource.filesOpened.get() == 10,
      s"opened ${CellsSource.filesOpened.get()} files for a 1-of-16-shard prefix scan (160 cells total)")
  }

  test("rowkey range bounds are re-checked exactly on the parsed key before body I/O") {
    // a range that splits INSIDE shard 0x05: keys [05,10,k] for k in
    // 1..3 inclusive — the shard has 5 keys, the exact bound keeps 3
    val got = spark.read.format("graft-cells")
      .option("root", root).option("table", "ns:cells_prefix_spec").load()
      .filter(col("rowkey") >= lit(Array(5.toByte, 0x10.toByte, 1.toByte)) &&
        col("rowkey") <= lit(Array(5.toByte, 0x10.toByte, 3.toByte)))
      .collect()
    assert(got.length == 6, s"3 keys × 2 versions, got ${got.length}")
    assert(got.map(_.getAs[Array[Byte]]("rowkey")(2).toInt).toSet == Set(1, 2, 3))
  }

  test("shard-layout edges: empty and 0xff-leading rowkeys round-trip; inverted key range is empty") {
    val etable = "ns:cells_edge_spec"
    val store = FileStore(root)
    store.ensureTable(etable, TableSpec())
    store.putBatch(etable, Seq(
      CellPut(etable, Array.emptyByteArray, 1L, "empty-key".getBytes("UTF-8")),
      CellPut(etable, Array(0xff.toByte, 1.toByte), 2L, "high-key".getBytes("UTF-8")),
      CellPut(etable, Array(0x00.toByte, 7.toByte), 3L, "low-key".getBytes("UTF-8"))))
    def rd = spark.read.format("graft-cells")
      .option("root", root).option("table", etable).load()
    // all three stored and readable (empty key shares the 0x00 shard)
    assert(rd.count() == 3)
    // point lookup on the 0xff key prunes to its shard and returns it
    val hi = rd.filter(col("rowkey") === lit(Array(0xff.toByte, 1.toByte))).collect()
    assert(hi.map(_.getLong(1)).toSeq == Seq(2L))
    // unsigned range: >= [0x80] must see the 0xff key (signed byte
    // comparison would sort 0xff below 0x00 and lose it)
    val upper = rd.filter(col("rowkey") >= lit(Array(0x80.toByte))).collect()
    assert(upper.map(_.getLong(1)).toSeq == Seq(2L))
    // inverted range prunes to nothing
    assert(rd.filter(col("rowkey") >= lit(Array(9.toByte)) &&
      col("rowkey") < lit(Array(3.toByte))).count() == 0)
  }

  test("strict version bounds at Long extremes saturate to an empty scan (no wraparound)") {
    // pre-fix, v+1 / v-1 wrapped and the fully-pushed filter silently
    // returned ALL rows
    assert(read.filter(col("version") > lit(Long.MaxValue)).count() == 0)
    assert(read.filter(col("version") < lit(Long.MinValue)).count() == 0)
  }

  test("write face rejects wrong column types at planning, null cells with a named error") {
    val sp = spark; import sp.implicits._
    val wroot = java.nio.file.Files.createTempDirectory("graft-cells-bad").toString
    try {
      val typed = Seq(("str-key", 1L, "b".getBytes("UTF-8"))).toDF("rowkey", "version", "body")
      val e1 = intercept[Exception] {
        typed.write.format("graft-cells").option("root", wroot).option("table", "bt")
          .mode("append").save()
      }
      // Spark's DSv2 analysis rejects the unsafe STRING→BINARY cast
      // even before the factory's own type require (which still guards
      // direct-API misuse past the analyzer)
      assert(e1.getMessage.contains("Cannot safely cast") ||
        e1.getMessage.contains("graft-cells writes"), e1.getMessage)
      val withNull = Seq((Option("k".getBytes("UTF-8")), 1L, Option.empty[Array[Byte]]))
        .toDF("rowkey", "version", "body")
      val e2 = intercept[Exception] {
        withNull.write.format("graft-cells").option("root", wroot).option("table", "bt")
          .mode("append").save()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e2).exists(_.contains("non-nullable")), messages(e2).mkString(" | "))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wroot))
  }

  test("write face: df.write lands cells readable back; a replayed write converges (idempotent)") {
    val sp = spark; import sp.implicits._
    val wroot = java.nio.file.Files.createTempDirectory("graft-cells-w").toString
    try {
      val df = (0 until 25).flatMap(k => (1 to 2).map(v =>
        (s"wkey-$k".getBytes("UTF-8"), 10L * k + v, s"wbody-$k-$v".getBytes("UTF-8"))))
        .toDF("rowkey", "version", "body").repartition(4)
      def writeOnce(): Unit = df.write.format("graft-cells")
        .option("root", wroot).option("table", "wt").mode("append").save()
      writeOnce()
      def state() = spark.read.format("graft-cells")
        .option("root", wroot).option("table", "wt").load().collect()
        .map(r => (new String(r.getAs[Array[Byte]](0), "UTF-8"), r.getLong(1),
          new String(r.getAs[Array[Byte]](2), "UTF-8"))).toSet
      val first = state()
      assert(first.size == 50)
      assert(first.contains(("wkey-3", 32L, "wbody-3-2")))
      // replay the identical write — cell state must not change (the
      // task-retry convergence contract, exercised end to end)
      writeOnce()
      assert(state() == first)
      // the DDL landed driver-side (W3)
      assert(FileStore(wroot).readSpecJson("wt").exists(_.contains("maxVersions")))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wroot))
  }

  test("streaming face: version-watermark tailing delivers each cell exactly once across restarts") {
    // fresh table so this test owns the version timeline
    val stable = "ns:cells_stream_spec"
    val store = FileStore(root)
    store.ensureTable(stable, TableSpec())
    store.putBatch(stable, (0 until 10).map(k =>
      CellPut(stable, s"sk-$k".getBytes("UTF-8"), 1000L + k, s"sb-$k-a".getBytes("UTF-8"))))
    val ck = java.nio.file.Files.createTempDirectory("graft-cells-stream-ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft-cells-stream-out").toString
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-cells")
        .option("root", root).option("table", stable).load()
        .select(col("rowkey").cast("string").as("k"), col("version"),
          col("body").cast("string").as("b"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val first = spark.read.parquet(out).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(first.length == 10 && first.toSet.size == 10, s"first run delivers the 10 seed cells: $first")
    // append 5 cells with HIGHER versions, plus re-put one ORIGINAL cell
    // (idempotent store replay) — the restarted stream must deliver the
    // 5 new cells only: the re-put sits below the committed watermark
    store.putBatch(stable, (10 until 15).map(k =>
      CellPut(stable, s"sk-$k".getBytes("UTF-8"), 1000L + k, s"sb-$k-a".getBytes("UTF-8"))))
    store.putBatch(stable, Seq(
      CellPut(stable, "sk-3".getBytes("UTF-8"), 1003L, "sb-3-a".getBytes("UTF-8"))))
    runOnce()
    val all = spark.read.parquet(out).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(all.length == 15, s"restart delivers ONLY the 5 appended cells (no replay): $all")
    assert(all.toSet == (0 until 15).map(k => (s"sk-$k", 1000L + k)).toSet)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("streaming face: a version lower bound composes with the watermark window") {
    val stable = "ns:cells_stream_bound"
    val store = FileStore(root)
    store.ensureTable(stable, TableSpec())
    store.putBatch(stable, (0 until 12).map(k =>
      CellPut(stable, s"bk-$k".getBytes("UTF-8"), 2000L + k, s"bb-$k".getBytes("UTF-8"))))
    val ck = java.nio.file.Files.createTempDirectory("graft-cells-bound-ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft-cells-bound-out").toString
    val q = spark.readStream.format("graft-cells")
      .option("root", root).option("table", stable).load()
      .where(col("version") >= 2006L)
      .select(col("rowkey").cast("string").as("k"), col("version"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == (6 until 12).map(k => (s"bk-$k", 2000L + k)).toSet, got.toString)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("streaming face: a rowkey RANGE composes with the watermark window (shard-pruned tail)") {
    val stable = "ns:cells_stream_range"
    val store = FileStore(root)
    store.ensureTable(stable, TableSpec())
    // keys across 4 first-byte shards, versions increasing
    store.putBatch(stable, (0 until 12).map(k =>
      CellPut(stable, Array((k % 4).toByte, k.toByte), 5000L + k, s"rb-$k".getBytes("UTF-8"))))
    val ck = java.nio.file.Files.createTempDirectory("graft-cells-range-ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft-cells-range-out").toString
    try {
      val q = spark.readStream.format("graft-cells")
        .option("root", root).option("table", stable).load()
        .where(col("rowkey") >= lit(Array(2.toByte)) && col("rowkey") < lit(Array(3.toByte)))
        .select(col("version"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.read.parquet(out).collect().map(_.getLong(0)).toSet
      // keys with first byte 2: k = 2, 6, 10
      assert(got == Set(5002L, 5006L, 5010L), got.toString)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("streaming contract negative path: a write at or below a committed watermark is " +
      "outside the feed's guarantee — missed by the stream, always visible to the batch face") {
    val stable = "ns:cells_stream_backdate"
    val store = FileStore(root)
    store.ensureTable(stable, TableSpec())
    store.putBatch(stable, (0 until 8).map(k =>
      CellPut(stable, s"nk-$k".getBytes("UTF-8"), 3000L + k, s"nb-$k".getBytes("UTF-8"))))
    val ck = java.nio.file.Files.createTempDirectory("graft-cells-neg-ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft-cells-neg-out").toString
    try {
      def runOnce(): Unit = {
        val q = spark.readStream.format("graft-cells")
          .option("root", root).option("table", stable).load()
          .select(col("rowkey").cast("string").as("k"), col("version"))
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runOnce() // commits watermark 3007
      // two contract-breaking producers: a back-dated cell BELOW the
      // committed watermark and a same-tick cell EQUAL to it — the
      // (s, e] window can deliver neither (documented exclusion)
      store.putBatch(stable, Seq(
        CellPut(stable, "nk-backdated".getBytes("UTF-8"), 2500L, "late".getBytes("UTF-8")),
        CellPut(stable, "nk-same-tick".getBytes("UTF-8"), 3007L, "tied".getBytes("UTF-8"))))
      // plus one contract-honoring append strictly above the watermark
      store.putBatch(stable, Seq(
        CellPut(stable, "nk-fresh".getBytes("UTF-8"), 3010L, "ok".getBytes("UTF-8"))))
      runOnce()
      val streamed = spark.read.parquet(out).collect().map(_.getString(0)).toSet
      assert(streamed.contains("nk-fresh"), streamed.toString)
      assert(!streamed.contains("nk-backdated") && !streamed.contains("nk-same-tick"),
        s"cells at/below a committed watermark must be outside the stream guarantee: $streamed")
      // the batch face misses NOTHING: the store itself holds all 11
      val batch = spark.read.format("graft-cells")
        .option("root", root).option("table", stable).load()
        .select(col("rowkey").cast("string")).collect().map(_.getString(0)).toSet
      assert(batch.size == 11 && batch.contains("nk-backdated") && batch.contains("nk-same-tick"),
        batch.toString)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("stableOffsets opt-in: a same-tick write straddling a commit IS delivered — " +
      "offsets seal one version below the tip") {
    val stable = "ns:cells_stream_stable"
    val store = FileStore(root)
    store.ensureTable(stable, TableSpec())
    store.putBatch(stable, (0 until 8).map(k =>
      CellPut(stable, s"sk-$k".getBytes("UTF-8"), 4000L + k, s"sb-$k".getBytes("UTF-8"))))
    val ck = java.nio.file.Files.createTempDirectory("graft-cells-stable-ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft-cells-stable-out").toString
    try {
      def runOnce(): Unit = {
        val q = spark.readStream.format("graft-cells")
          .option("root", root).option("table", stable)
          .option("stableOffsets", "true").load()
          .select(col("rowkey").cast("string").as("k"), col("version"))
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runOnce()
      // the tip (4007) is NOT yet sealed: the run commits watermark 4006
      val afterFirst = spark.read.parquet(out).collect().map(_.getString(0)).toSet
      assert(!afterFirst.contains("sk-7"),
        s"stable offsets must hold back the unsealed tip version: $afterFirst")
      assert(afterFirst == (0 until 7).map(k => s"sk-$k").toSet, afterFirst.toString)
      // the same-tick straddler: a second producer writes at version ==
      // the tip AFTER the commit — under default offsets this is the
      // documented miss; under stableOffsets the committed watermark is
      // 4006 < 4007, so the straddler is still ahead of it
      store.putBatch(stable, Seq(
        CellPut(stable, "sk-straddler".getBytes("UTF-8"), 4007L, "tied".getBytes("UTF-8"))))
      // a later append seals 4007
      store.putBatch(stable, Seq(
        CellPut(stable, "sk-fresh".getBytes("UTF-8"), 4010L, "ok".getBytes("UTF-8"))))
      runOnce()
      val streamed = spark.read.parquet(out).collect().map(_.getString(0)).toSet
      assert(streamed.contains("sk-7") && streamed.contains("sk-straddler"),
        s"stableOffsets must deliver the straddling same-tick write: $streamed")
      // the new tip (4010) is in turn held back until something seals it
      assert(!streamed.contains("sk-fresh"), streamed.toString)
      store.putBatch(stable, Seq(
        CellPut(stable, "sk-seal".getBytes("UTF-8"), 4011L, "seal".getBytes("UTF-8"))))
      runOnce()
      val finalSet = spark.read.parquet(out).collect().map(_.getString(0)).toSet
      assert(finalSet.contains("sk-fresh"), finalSet.toString)
      // exactly-once: no row delivered twice across the three runs
      val all = spark.read.parquet(out).collect().map(_.getString(0)).toSeq
      assert(all.size == all.distinct.size, s"duplicate delivery: $all")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("change feed: delete markers arrive as op='delete' rows, advance the watermark, never replay") {
    val t = "ns:cells_feed_ops"
    val store = FileStore(root)
    store.ensureTable(t, TableSpec())
    store.putBatch(t, (0 until 5).map(i =>
      CellPut(t, s"fk-$i".getBytes("UTF-8"), 10L + i, s"fb-$i".getBytes("UTF-8"))))
    // two deletes: one ABOVE every put version (only a marker-aware
    // watermark delivers it), one at exactly its put's version
    store.deleteCells(t, Seq(("fk-1".getBytes("UTF-8"), 100L), ("fk-2".getBytes("UTF-8"), 12L)))
    val ck = java.nio.file.Files.createTempDirectory("graft-feed-ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft-feed-out").toString
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-cells")
        .option("root", root).option("table", t).option("changeFeed", "true").load()
        .select(col("rowkey").cast("string").as("k"), col("version"), col("op"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val first = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(first.count(_._3 == "put") == 5 && first.count(_._3 == "delete") == 2,
      s"every edit is a typed feed row: $first")
    assert(first.filter(_._3 == "delete").map(e => (e._1, e._2)) ==
      Set(("fk-1", 100L), ("fk-2", 12L)))
    // restart with new edits of both kinds: only the delta is delivered
    // (markers are versioned feed rows inside committed offset windows)
    store.putBatch(t, Seq(CellPut(t, "fk-9".getBytes("UTF-8"), 200L, "fb-9".getBytes("UTF-8"))))
    store.deleteCells(t, Seq(("fk-0".getBytes("UTF-8"), 300L)))
    runOnce()
    val all = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(all.length == 9, s"no edit replays, both new edits arrive once: $all")
    assert(all.toSet -- first == Set(("fk-9", 200L, "put"), ("fk-0", 300L, "delete")))
    // the MV folded from the feed (drop puts <= their key's max delete
    // bound) equals the masked batch face — convergence after deletes
    val feed = spark.read.parquet(out)
    val bounds = feed.filter(col("op") === "delete")
      .groupBy(col("k")).agg(max(col("version")).as("dv"))
    val mv = feed.filter(col("op") === "put").join(bounds, Seq("k"), "left")
      .filter(col("dv").isNull || col("version") > col("dv"))
      .select(col("k"), col("version"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val masked = spark.read.format("graft-cells").option("root", root).option("table", t).load()
      .select(col("rowkey").cast("string"), col("version"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(mv == masked && masked == Set(("fk-3", 13L), ("fk-4", 14L), ("fk-9", 200L)),
      s"MV $mv must converge to the masked view $masked")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("change-feed batch face is the unmasked edit log; default batch face stays masked, op-free") {
    val t = "ns:cells_feed_batch"
    val store = FileStore(root)
    store.ensureTable(t, TableSpec())
    store.putBatch(t, Seq(
      CellPut(t, "ek-1".getBytes("UTF-8"), 1L, "eb-1".getBytes("UTF-8")),
      CellPut(t, "ek-1".getBytes("UTF-8"), 2L, "eb-2".getBytes("UTF-8"))))
    store.deleteCells(t, Seq(("ek-1".getBytes("UTF-8"), 2L)))
    val masked = spark.read.format("graft-cells")
      .option("root", root).option("table", t).load()
    assert(masked.count() == 0L, "default face masks both versions")
    assert(!masked.schema.fieldNames.contains("op"))
    val log = spark.read.format("graft-cells")
      .option("root", root).option("table", t).option("changeFeed", "true").load()
      .select(col("rowkey").cast("string").as("k"), col("version"), col("op"),
        col("body").cast("string").as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
    assert(log == Set(
      ("ek-1", 1L, "put", "eb-1"),
      ("ek-1", 2L, "put", "eb-2"),
      ("ek-1", 2L, "delete", null)),
      s"the edit log reports every edit, masked or not: $log")
  }

  // ---- packed scan partitions ----

  /** 256 first-byte regions, 2 keys × 2 versions each, as per-cell put files */
  private lazy val packTable: String = {
    val t = "pk"
    val store = FileStore(root)
    store.ensureTable(t, TableSpec(compactionThreshold = 0))
    store.putBatch(t, for (b <- 0 until 256; k <- 0 until 2; v <- 1 to 2) yield CellPut(
      t, Array(b.toByte, k.toByte), 1000L * b + 10 * k + v, s"pk-$b-$k-$v".getBytes("UTF-8")))
    t
  }
  private def packRead = spark.read.format("graft-cells")
    .option("root", root).option("table", packTable).load()
  private def packScan(sb: CellsScanBuilder = CellsScanBuilder(root, packTable)): CellsScan =
    sb.build().asInstanceOf[CellsScan]

  test("packing: every pruned shard appears in exactly one partition, in key order") {
    val parts = packScan().planInputPartitions()
    assert(parts.forall(_.isInstanceOf[CellsShardGroup]))
    val flat = parts.toSeq.flatMap(_.asInstanceOf[CellsShardGroup].shards).map(_.dir)
    val listed = CellsShards.pruneListed(java.nio.file.Paths.get(root, packTable), CellsKeyPred.All)
      .map(_.path.toString)
    assert(listed.size == 256)
    assert(flat == listed, "each shard exactly once, groups contiguous in key order")
    assert(parts.length < 256, s"${parts.length} partitions for 256 shards — nothing packed")
  }

  /** the partition count the region-job rule predicts for `t`'s shards,
    * restated: min(shards, max(cores, ⌈listed bytes / advisory size⌉)) */
  private def predicted(t: String = packTable): Int = {
    val advisory = org.apache.spark.sql.internal.SQLConf.get
      .getConf(org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val bytes = shardBytes(t)
    math.min(bytes.size.toLong, math.max(4L, (bytes.sum + advisory - 1) / advisory)).toInt
  }

  /** each pruned shard's listed bytes, in key order */
  private def shardBytes(t: String): Seq[Long] =
    CellsShards.pruneListed(java.nio.file.Paths.get(root, t), CellsKeyPred.All).map { ls =>
      val s = java.nio.file.Files.walk(ls.path)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }

  test("packing: 256 shards pack to the cores, and past them once their bytes outgrow the advisory size") {
    assert(spark.sparkContext.defaultParallelism == 4)
    val parts = packScan().planInputPartitions()
    assert(parts.length == 4 && predicted() == 4, s"planned ${parts.length}")
    // byte-balanced groups: none strays from an even share by more than one shard's bytes
    val bytes = packScan().plannedShards.map(_.dir).zip(shardBytes(packTable)).toMap
    val loads = parts.toSeq.map(_.asInstanceOf[CellsShardGroup].shards.map(s => bytes(s.dir)).sum)
    assert(loads.forall(l => math.abs(l - bytes.values.sum / 4.0) <= bytes.values.max), s"group bytes $loads")
    // an advisory size a tenth of the table's bytes: about ten groups, never more than shards
    val total = shardBytes(packTable).sum
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", (total / 10).toString)
    try {
      val wide = packScan().planInputPartitions()
      assert(wide.length == predicted() && wide.length > 4, s"planned ${wide.length}, the rule predicts ${predicted()}")
      assert(wide.toSeq.flatMap(_.asInstanceOf[CellsShardGroup].shards).map(_.dir) ==
        parts.toSeq.flatMap(_.asInstanceOf[CellsShardGroup].shards).map(_.dir), "each shard once, in key order")
    } finally spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    // a range over first bytes [05, 08): three shards, three partitions
    val sb = CellsScanBuilder(root, packTable)
    sb.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("rowkey", Array(5.toByte): Array[Byte]),
      org.apache.spark.sql.sources.LessThan("rowkey", Array(8.toByte): Array[Byte])))
    val range = packScan(sb)
    assert(range.plannedShards.size == 3)
    assert(range.planInputPartitions().length == 3, "a scan no wider than the cores stays one shard each")
  }

  test("packing: a packed scan's SQL metrics equal the global open count and the row count") {
    val df = packRead.select(col("rowkey"), col("version"), col("body"))
    CellsSource.filesOpened.set(0)
    val rows = df.collect()
    val opened = CellsSource.filesOpened.get()
    assert(rows.length == 1024)
    val scan = CellsSource.batchScans(df).head
    assert(scan.inputPartitions.length < 256, "the scan must actually be packed")
    val m = scan.metrics.map { case (k, v) => (k, v.value) }
    assert(m("cellsEmitted") == rows.length, s"$m")
    assert(m("filesOpened") == opened && opened == 1024L, s"$m vs global $opened")
  }

  test("packing: a catalog read projecting rowkey keeps one shard per key-grouped partition") {
    spark.conf.set("spark.sql.catalog.gpack", classOf[CellsCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpack.root", root)
    val df = spark.table(s"gpack.$packTable").select(col("rowkey"), col("version"))
    assert(df.count() == 1024L)
    val scan = CellsSource.batchScans(df).head
    val cells = scan.scan.asInstanceOf[CellsScan]
    assert(cells.outputPartitioning()
      .isInstanceOf[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning])
    val parts = cells.planInputPartitions()
    assert(parts.length == 256 && parts.forall(_.isInstanceOf[CellsShard]),
      s"${parts.length} partitions: ${parts.headOption}")
    // without rowkey the same catalog read reports unknown and packs
    val meta = spark.table(s"gpack.$packTable").select(col("version"))
    val metaScan = CellsSource.batchScans(meta).head.scan.asInstanceOf[CellsScan]
    assert(metaScan.planInputPartitions().length < 256)
  }

  test("packing: pushed COUNT/MIN/MAX over a packed aggregate scan equal the row scan's") {
    val agg = packRead.filter(col("version") >= 100000L)
      .agg(count(lit(1)), min(col("version")), max(col("version")))
    val got = agg.collect().head
    val aggScan = CellsSource.batchScans(agg).map(_.scan).collectFirst { case a: CellsAggScan => a }
    assert(aggScan.isDefined, s"aggregate must push:\n${agg.queryExecution.executedPlan}")
    val parts = aggScan.get.planInputPartitions()
    assert(parts.length < 256 && parts.forall(_.isInstanceOf[CellsShardGroup]))
    val vs = packRead.filter(col("version") >= 100000L).select("version").collect().map(_.getLong(0))
    assert(vs.nonEmpty)
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == ((vs.length.toLong, vs.min, vs.max)))
  }

  test("packing: a pushed LIMIT caps each packed partition, not each shard") {
    val df = packRead.select(col("rowkey"), col("body")).limit(5)
    val sb = CellsScanBuilder(root, packTable)
    assert(sb.pushLimit(5))
    val scan = packScan(sb)
    val parts = scan.planInputPartitions()
    CellsSource.cappedRowsEmitted.set(0)
    assert(df.collect().length == 5)
    val emitted = CellsSource.cappedRowsEmitted.get()
    assert(emitted > 0 && emitted <= 5L * parts.length,
      s"emitted $emitted rows across ${parts.length} partitions (256 shards)")
    // a reader drained to the end (no Spark limit above it) still stops
    // at N for the whole packed partition, not N per shard
    val group = parts.head.asInstanceOf[CellsShardGroup]
    assert(group.shards.size > 1)
    CellsSource.cappedRowsEmitted.set(0)
    val rd = scan.createReaderFactory().createReader(group)
    var n = 0
    try while (rd.next()) n += 1 finally rd.close()
    assert(n == 5 && CellsSource.cappedRowsEmitted.get() == 5L,
      s"$n rows, ${CellsSource.cappedRowsEmitted.get()} capped, from ${group.shards.size} shards")
  }

  // ---- the micro-batch stream plans and reads like the batch scan ----

  private def streamOf(t: String): CellsMicroBatch =
    packScan(CellsScanBuilder(root, t)).toMicroBatchStream("unused").asInstanceOf[CellsMicroBatch]

  /** runs one AvailableNow pass of `t`'s stream into parquet at `out`
    * and returns the micro-batch scan node of its last batch */
  private def streamOnce(t: String, out: String, ck: String, changeFeed: Boolean = false)
      : org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec = {
    val cols = Seq(col("rowkey").cast("string").as("k"), col("version")) ++
      (if (changeFeed) Seq(col("op")) else Nil)
    val q = spark.readStream.format("graft-cells")
      .option("root", root).option("table", t).option("changeFeed", changeFeed.toString).load()
      .select(cols: _*)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.collect {
        case m: org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec => m
      }.head
  }

  /** a fresh table with one key per first-byte region, at versions base+b */
  private def wideTable(t: String, base: Long): FileStore = {
    val store = FileStore(root)
    store.ensureTable(t, TableSpec(compactionThreshold = 0))
    store.putBatch(t, (0 until 256).map(b =>
      CellPut(t, Array(b.toByte, 1.toByte), base + b, s"w-$b".getBytes("UTF-8"))))
    store
  }

  test("packing: a micro-batch plans the count the rule predicts, every shard once in key order") {
    val stream = streamOf(packTable)
    val end = stream.latestOffset().asInstanceOf[CellsOffset]
    val parts = stream.planInputPartitions(stream.initialOffset(), end)
    assert(parts.forall(_.isInstanceOf[CellsShardGroup]))
    val flat = parts.toSeq.flatMap(_.asInstanceOf[CellsShardGroup].shards)
    val listed = CellsShards.pruneListed(java.nio.file.Paths.get(root, packTable), CellsKeyPred.All)
      .map(_.path.toString)
    assert(listed.size == 256 && flat.map(_.dir) == listed, "each shard exactly once, in key order")
    assert(parts.length == predicted(), s"planned ${parts.length}, the rule predicts ${predicted()}")
    assert(flat.forall(s => s.lo == Long.MinValue && s.hi == end.v), "the batch window rides in each shard")
  }

  test("packing: a packed stream delivers every cell exactly once across a checkpoint restart") {
    val t = "pk_stream"
    val store = wideTable(t, 1000L)
    val ck = java.nio.file.Files.createTempDirectory("graft-pack-stream-ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft-pack-stream-out").toString
    def delivered = spark.read.parquet(out).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val first = streamOnce(t, out, ck)
    assert(first.inputPartitions.length == predicted(t) && first.inputPartitions.length < 256)
    assert(delivered.length == 256 && delivered.toSet.size == 256)
    // 256 more cells above the watermark, and a re-put below it
    store.putBatch(t, (0 until 256).map(b =>
      CellPut(t, Array(b.toByte, 2.toByte), 2000L + b, s"w2-$b".getBytes("UTF-8"))))
    store.putBatch(t, Seq(CellPut(t, Array(7.toByte, 1.toByte), 1007L, "w-7".getBytes("UTF-8"))))
    val second = streamOnce(t, out, ck)
    assert(second.inputPartitions.length < 256)
    val all = delivered
    assert(all.length == 512, s"the restart delivers only the 256 new cells: ${all.length}")
    assert(all.map(_._2).toSet == ((0 until 256).map(1000L + _) ++ (0 until 256).map(2000L + _)).toSet)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("packing: a packed change-feed stream delivers delete and delete_version rows") {
    val t = "pk_feed"
    val store = wideTable(t, 100L)
    store.deleteCells(t, Seq((Array(3.toByte, 1.toByte), 900L)))
    store.deleteCellsExact(t, Seq((Array(200.toByte, 1.toByte), 300L)))
    val ck = java.nio.file.Files.createTempDirectory("graft-pack-feed-ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft-pack-feed-out").toString
    val scan = streamOnce(t, out, ck, changeFeed = true)
    assert(scan.inputPartitions.length < 256)
    val rows = spark.read.parquet(out).collect().map(r => (r.getLong(1), r.getString(2))).toSeq
    assert(rows.count(_._2 == "put") == 256)
    assert(rows.filter(_._2 != "put").toSet == Set((900L, "delete"), (300L, "delete_version")),
      s"${rows.filter(_._2 != "put")}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("packing: a packed stream's SQL metrics equal the global open count and the row count") {
    val t = "pk_stream_metrics"
    wideTable(t, 5000L)
    val ck = java.nio.file.Files.createTempDirectory("graft-pack-metrics-ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft-pack-metrics-out").toString
    CellsSource.filesOpened.set(0)
    val scan = streamOnce(t, out, ck)
    val opened = CellsSource.filesOpened.get()
    val rows = spark.read.parquet(out).count()
    assert(rows == 256 && scan.inputPartitions.length < 256)
    val m = scan.metrics.map { case (k, v) => (k, v.value) }
    assert(m("cellsEmitted") == rows, s"$m")
    assert(m("filesOpened") == opened && opened == 256L, s"$m vs global $opened")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  private def hexToBytes(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
}

package graft.streaming

import graft.streaming.Sessions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Verifies the streaming operators: flatMapGroupsWithState
  * sessionization emits exactly the batch sessions, and the
  * watermarked windowed aggregation matches the batch grouping. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("streaming-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def eventsDf = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")

  test("streaming sessionization emits exactly the batch sessions") {
    val sp = spark; import sp.implicits._
    val typed = typedEvents(eventsDf).collect().toSeq
    // sentinel far-future event per user closes every real session;
    // the sentinel's own (still-open) session is never emitted
    val maxTs = typed.map(_.ts_ms).max
    val sentinels = typed.map(_.user_id).distinct.map(u => Event(u, maxTs + 100 * GapMs, "flush", 0.0))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = sessionizeStream(input.toDS())
      .writeStream.format("memory").queryName("sessions_out").outputMode("append").start()
    // two triggers: first half, then the rest + sentinels — exercises
    // cross-trigger state continuation
    val (first, second) = typed.sortBy(_.ts_ms).splitAt(typed.size / 2)
    input.addData(first)
    query.processAllAvailable()
    input.addData(second ++ sentinels)
    query.processAllAvailable()
    query.stop()

    val streamed = spark.table("sessions_out").as[SessionOut].collect()
      .map(s => (s.user_id, s.session_start_ms, s.session_end_ms, s.n_events, s.total_value_x100)).toSet
    val batch = sessionizeBatch(eventsDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming sessionization survives cross-trigger out-of-order events") {
    val sp = spark; import sp.implicits._
    val typed = typedEvents(eventsDf).collect().toSeq.sortBy(_.ts_ms)
    val maxTs = typed.map(_.ts_ms).max
    val sentinels = typed.map(_.user_id).distinct.map(u => Event(u, maxTs + 100 * GapMs, "flush", 0.0))

    // trigger 1 = the first half MINUS a held-back tail inside the
    // lateness horizon; trigger 2 delivers that tail late, shuffled in
    // with the second half — exercising start-extension / bridging of
    // already-open sessions across triggers
    val (first, second) = typed.splitAt(typed.size / 2)
    val horizon = first.last.ts_ms - GapMs
    val (early, held) = first.partition(_.ts_ms < horizon)
    assert(held.nonEmpty)
    val rnd = new scala.util.Random(42)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = sessionizeStream(input.toDS(), watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("sessions_ooo").outputMode("append").start()
    input.addData(rnd.shuffle(early))
    query.processAllAvailable()
    input.addData(rnd.shuffle(held ++ second))
    query.processAllAvailable()
    input.addData(sentinels)
    query.processAllAvailable()
    query.stop()

    val streamed = spark.table("sessions_ooo").as[SessionOut].collect()
      .map(s => (s.user_id, s.session_start_ms, s.session_end_ms, s.n_events, s.total_value_x100)).toSet
    val batch = sessionizeBatch(eventsDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("sessionization state survives on the RocksDB state store (the 100 TB state backend)") {
    // The default HDFS-backed store keeps every key's state on the
    // executor HEAP — at 100 TB of keyed state that is an OOM, and the
    // production config is RocksDBStateStoreProvider (state spills to
    // local SST files, incremental checkpoints). The operator must not
    // care: same query, same results, different provider.
    val sp = spark; import sp.implicits._
    val typed = typedEvents(eventsDf).collect().toSeq
    val maxTs = typed.map(_.ts_ms).max
    val sentinels = typed.map(_.user_id).distinct.map(u => Event(u, maxTs + 100 * GapMs, "flush", 0.0))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Event]
      val query = sessionizeStream(input.toDS())
        .writeStream.format("memory").queryName("sessions_rocks").outputMode("append").start()
      val (first, second) = typed.sortBy(_.ts_ms).splitAt(typed.size / 2)
      input.addData(first)
      query.processAllAvailable()
      input.addData(second ++ sentinels)
      query.processAllAvailable()
      // the provider actually engaged — read it back from the running
      // query's lastProgress rather than trusting the conf
      val usedProvider = Option(query.lastProgress)
        .flatMap(p => p.stateOperators.headOption)
        .map(_.customMetrics.keySet().toString)
      query.stop()
      assert(usedProvider.exists(_.contains("rocksdb")),
        s"RocksDB provider not engaged: $usedProvider")
      val streamed = spark.table("sessions_rocks").as[SessionOut].collect()
        .map(s => (s.user_id, s.session_start_ms, s.session_end_ms, s.n_events, s.total_value_x100)).toSet
      val batch = sessionizeBatch(eventsDf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(batch.nonEmpty && streamed == batch)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("sessionizeBatch agrees with Spark's built-in session_window") {
    val sessions = sessionizeBatch(eventsDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // session_window closes a session after `gap` of silence; its
    // window spans [first, last + gap) — compare on (user, start, n)
    val builtIn = eventsDf
      .groupBy(col("user_id").cast("long").as("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), max(unix_millis(col("ts"))).as("end_ms"))
      .select(col("user_id"), unix_millis(col("w.start")).as("start_ms"), col("end_ms"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(builtIn == sessions)
  }

  test("streaming dedup drops re-delivered events, matching batch distinct") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = eventsDf.select(col("ts"), col("user_id"), col("event_type"))
      .as[(java.sql.Timestamp, Long, String)].collect().toSeq.take(500)
    val withDupes = rows ++ rows.take(100) // re-deliver 100 events
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val streamDf = input.toDF().toDF("ts", "user_id", "event_type")
    val query = dedupStream(streamDf)
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    input.addData(withDupes.take(300))
    query.processAllAvailable()
    input.addData(withDupes.drop(300)) // includes the re-deliveries
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("dedup_out").select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toSet
    val batchDistinct = rows.map(r => (r._2, r._1.getTime)).toSet
    assert(spark.table("dedup_out").count() == batchDistinct.size) // no dupes emitted
    assert(streamed == batchDistinct)
  }

  test("stateful stream resumes from its checkpoint across restarts (dedup state survives)") {
    // The operational property no single-run test can show: stop a
    // stateful query, start a NEW query instance on the same
    // checkpoint, and the recovered state must keep deduplicating keys
    // it saw before the restart. Duplicates are planted ACROSS the
    // restart boundary, so only recovered state — not file tracking —
    // can drop them. No watermark: state must be retained indefinitely
    // for the cross-run dedup to be decidable.
    val sp = spark; import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-restart").toFile
    val (srcDir, sinkDir, ckDir) =
      (new java.io.File(tmp, "src"), new java.io.File(tmp, "sink"), new java.io.File(tmp, "ck"))
    srcDir.mkdirs()
    val rows = eventsDf
      .select(col("user_id").cast("long").as("user_id"), expr("unix_millis(ts)").as("ts_ms"))
      .as[(Long, Long)].collect().toSeq.distinct.take(400)
    val (firstHalf, secondHalf) = rows.splitAt(200)
    // run-2 file re-delivers 50 of run-1's rows
    firstHalf.toDF("user_id", "ts_ms").coalesce(1)
      .write.parquet(new java.io.File(srcDir, "gen=1").getPath)
    val schema = spark.read.parquet(new java.io.File(srcDir, "gen=1").getPath).schema

    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir.getPath)
        .dropDuplicates("user_id", "ts_ms")
        .writeStream.format("parquet")
        .option("path", sinkDir.getPath)
        .option("checkpointLocation", ckDir.getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce() // run 1: first half only
    (secondHalf ++ firstHalf.take(50)).toDF("user_id", "ts_ms").coalesce(1)
      .write.parquet(new java.io.File(srcDir, "gen=2").getPath)
    runOnce() // run 2: NEW query instance, same checkpoint

    val got = spark.read.parquet(sinkDir.getPath)
      .select("user_id", "ts_ms").as[(Long, Long)].collect().toSet
    assert(got == rows.toSet, "restart must resume state, not re-emit or lose rows")
    assert(spark.read.parquet(sinkDir.getPath).count() == rows.size.toLong,
      "the 50 rows re-delivered after the restart must be deduplicated by RECOVERED state")
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("file-arrival streaming ingest decodes landing dumps exactly once") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-ingest")
    val identity = graft.core.Envelope.RunIdentity("uow", "trace", "test", () => new java.util.Date(0L))
    graft.ingest.Fixtures.writeDumpFile(tmp, "sdb", "scoll-1", 1)
    val stream = StreamingIngest.records(spark, tmp.toString, graft.ingest.StubKeyService(), identity)
    val query = stream.writeStream.format("memory").queryName("ingest_out").outputMode("append").start()
    try {
      query.processAllAvailable()
      assert(spark.table("ingest_out").count() == 20) // 18 ok + 2 skips
      // a second file lands mid-stream: picked up by the next trigger
      graft.ingest.Fixtures.writeDumpFile(tmp, "sdb", "scoll-2", 1)
      query.processAllAvailable()
      val out = spark.table("ingest_out")
      assert(out.count() == 40)
      assert(out.filter(out("status") === "ok").count() == 36)
      // same record set as the batch pipeline would produce
      val tables = out.filter(out("status") === "ok")
        .select("tableName").distinct().collect().map(_.getString(0)).toSet
      assert(tables == Set("sdb:scoll_1", "sdb:scoll_2"))
      // no file processed twice across triggers (exactly-once listing)
      assert(out.select("dataPath", "lineNo").distinct().count() == 40)

      // a POISON file lands (garbage bytes, live metadata): one marker
      // row, the query survives, and later files still process
      java.nio.file.Files.write(tmp.resolve("sdb.badcoll.0001.json.gz.enc"),
        Array.tabulate[Byte](64)(_.toByte))
      java.nio.file.Files.write(tmp.resolve("sdb.badcoll.0001.json.encryption.json"),
        (s"""{"keyEncryptionKeyId": "k", "plaintextDatakey": "${graft.ingest.Fixtures.fileKeyB64}", """ +
          s""""encryptedEncryptionKey": "e", "initialisationVector": "${java.util.Base64.getEncoder.encodeToString(new Array[Byte](16))}"}""").getBytes("UTF-8"))
      graft.ingest.Fixtures.writeDumpFile(tmp, "sdb", "scoll-3", 1)
      query.processAllAvailable()
      val out2 = spark.table("ingest_out")
      assert(out2.filter(out2("status") === "skipped_unreadable_file").count() == 1)
      assert(out2.filter(out2("status") === "ok").count() == 54) // scoll-3 decoded fully
    } finally query.stop()
  }

  test("stream ≡ batch on a truncated dump: decoded rows kept, marker at the failing line") {
    import graft.ingest.{Fixtures, IngestPipeline, StubKeyService}
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-truncated")
    val ck = java.nio.file.Files.createTempDirectory("graft-stream-truncated-ck")
    // six fixture dumps' lines (~36k chars, past the reader's 8k buffer)
    // in one file whose gzip stream is cut at 60%, then encrypted
    val content = (1 to 6).flatMap(n => Fixtures.dumpLines("tdb", "tcoll", n)).mkString("", "\n", "\n")
    val gz = new java.io.ByteArrayOutputStream()
    val go = new java.util.zip.GZIPOutputStream(gz)
    go.write(content.getBytes("UTF-8")); go.close()
    val cut = gz.toByteArray.take(gz.size() * 3 / 5)
    val enc = graft.core.Crypto.encrypt(Fixtures.fileKeyB64, cut, () => new Array[Byte](16))
    java.nio.file.Files.write(tmp.resolve("tdb.tcoll.0001.json.gz.enc"),
      java.util.Base64.getDecoder.decode(enc.encrypted))
    java.nio.file.Files.write(tmp.resolve("tdb.tcoll.0001.json.encryption.json"),
      (s"""{"keyEncryptionKeyId": "k", "plaintextDatakey": "${Fixtures.fileKeyB64}", """ +
        s""""encryptedEncryptionKey": "e", "initialisationVector": "${enc.initialisationVector}"}""").getBytes("UTF-8"))

    val identity = graft.core.Envelope.RunIdentity("uow", "trace", "test", () => new java.util.Date(0L))
    val timeFilter = graft.core.RecordProcessor.TimeFilter(
      earlierThan = graft.core.DateFmt.timestampAsLong("2010-01-01T00:00:00.000Z"),
      laterThan = graft.core.DateFmt.timestampAsLong("2019-12-31T23:59:59.999Z"))
    val iv = IngestPipeline.IvStrategy.Deterministic("truncated")
    def projected(rows: Seq[IngestPipeline.IngestedRow]) =
      rows.map(r => (r.lineNo, r.status, r.tableName, r.rowkey.toSeq, r.version, r.manifestLine, r.filterStatus))
        .sortBy(_._1)

    val sp = spark; import sp.implicits._
    val q = StreamingIngest.records(spark, tmp.toString, StubKeyService(), identity,
        ivStrategy = iv, timeFilter = timeFilter)
      .writeStream.format("memory").queryName("truncated_out")
      .option("checkpointLocation", ck.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val streamed = try { q.awaitTermination(); projected(spark.table("truncated_out").as[IngestPipeline.IngestedRow].collect().toSeq) }
      finally q.stop()
    val batch = projected(IngestPipeline.ingest(spark, IngestPipeline.planTasks(spark, Seq(tmp.toString)),
      StubKeyService(), identity, timeFilter, iv).collect().toSeq)

    // the batch shape: the lines before the cut, then one marker after them
    val marker = batch.last
    assert(marker._2 == IngestPipeline.Status.UnreadableFile)
    assert(batch.count(_._2 == IngestPipeline.Status.UnreadableFile) == 1)
    assert(marker._1 == batch.size && batch.count(_._2 == IngestPipeline.Status.Ok) > 0)
    assert(streamed == batch)
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
  }

  test("stream-stream interval join matches pairs AND evicts state behind the watermark") {
    // The q54 shape: because the join condition bounds buy_ts relative
    // to click_ts and both sides carry watermarks, Spark must recognize
    // the state as finite and EVICT rows the watermark has passed —
    // numRowsRemoved > 0 is the evidence the unbounded-stream posture
    // is real, not just that the bounded run happened to terminate.
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicksIn = MemoryStream[(java.sql.Timestamp, Long)]
    val buysIn = MemoryStream[(java.sql.Timestamp, Long)]
    val clicks = clicksIn.toDF().toDF("click_ts", "user_id")
      .withWatermark("click_ts", "10 minutes")
    val buys = buysIn.toDF().toDF("buy_ts", "buy_user")
      .withWatermark("buy_ts", "10 minutes")
    val joined = clicks.join(buys, expr(
      "user_id = buy_user AND buy_ts > click_ts AND buy_ts <= click_ts + interval 30 minutes"))
    val query = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    try {
      // ten users click at minutes 0..9; only user 5's click pairs with
      // the minute-9 purchase (9 > 5 and 9 ≤ 5 + 30)
      clicksIn.addData((0L until 10L).map(u => (ts(u), u)))
      buysIn.addData(Seq((ts(9), 5L)))
      query.processAllAvailable()
      // advance both watermarks far past the first batch, then run one
      // more batch so the eviction pass executes under the new watermark
      clicksIn.addData(Seq((ts(1000), 999L)))
      buysIn.addData(Seq((ts(1000), 998L)))
      query.processAllAvailable()
      clicksIn.addData(Seq((ts(1001), 997L)))
      buysIn.addData(Seq((ts(1001), 996L)))
      query.processAllAvailable()

      val out = spark.table("ssj_out").collect()
      assert(out.length == 1 && out.head.getLong(1) == 5L, out.mkString(","))
      val removed = query.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      assert(removed > 0, "watermark never evicted join state — the time bound was not recognized")
    } finally {
      query.stop()
      spark.catalog.dropTempView("ssj_out")
    }
  }

  test("q190: the watermark-evicted left-outer stream equals the batch left-outer") {
    // outer results are EVICTION results — the full file-staged run
    // (data batch + two sentinel batches, the SPARK-40925 double
    // advance) must converge to the relational left-outer exactly,
    // with BOTH outcomes present (matches and −1 unmatched rows)
    val out = graft.SparkEntry.queries("q190_stream_outer_join")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(x => x).view.mapValues(_.length).toMap
    val ev = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id").cast("long").as("u"),
        unix_millis(col("ts")).as("t"), col("event_type"))
    val clicks = ev.filter(col("event_type") === "click").select(col("u"), col("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val buys = ev.filter(col("event_type") === "purchase").select(col("u"), col("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = clicks.flatMap { case (u, ct) =>
      val ms = buys.filter { case (bu, bt) =>
        bu == u && bt > ct && bt <= ct + 1800000L }
      if (ms.isEmpty) Seq((u, ct, -1L)) else ms.toSeq.map { case (_, bt) => (u, ct, bt) }
    }.groupBy(x => x).view.mapValues(_.length).toMap
    assert(out == expected)
    assert(expected.keys.exists(_._3 == -1L), "fixture degenerate: no unmatched clicks")
    assert(expected.keys.exists(_._3 >= 0L), "fixture degenerate: no matches")
  }

  test("watermarked hourly aggregation matches the batch grouping") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = eventsDf.select(col("ts"), col("event_type"), col("value").cast("double"))
      .as[(java.sql.Timestamp, String, Double)].collect().toSeq
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val streamDf = input.toDF().toDF("ts", "event_type", "value")
    val query = hourlyCountsStream(streamDf)
      .writeStream.format("memory").queryName("hourly_out").outputMode("append").start()
    input.addData(rows)
    query.processAllAvailable()
    // advance the watermark far enough to flush all windows
    input.addData(Seq((java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), "flush", 0.0)))
    query.processAllAvailable()
    query.stop()

    val streamed = spark.table("hourly_out")
      .filter(col("event_type") =!= "flush")
      .select(col("hour_start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
    val batch = eventsDf
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }
}

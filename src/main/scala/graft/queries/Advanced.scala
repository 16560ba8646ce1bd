package graft.queries

import graft.functions.GraftFunctions
import graft.streaming.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Advanced surface: gap-based sessionization (the batch face of the
  * streaming operator — StreamingSpec proves the flatMapGroupsWithState
  * path emits identical sessions) and the native Catalyst expressions
  * exercised end-to-end from SQL.
  */
object Advanced {

  /** Catalog-table tag for session-cached storage layouts (q49/q50):
    * the full sanitized source path (never a 32-bit hash — distinct
    * dirs must not collide) plus each source file's literal
    * (length, mtime) so regenerated data invalidates the cache. */
  private[queries] def layoutTag(d: String, files: String*): String = {
    val path = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_|_$", "")
    val fp = files.map { f =>
      val jf = new java.io.File(s"$d/$f")
      java.lang.Long.toHexString(jf.length) + "t" + java.lang.Long.toHexString(jf.lastModified)
    }.mkString("_")
    s"${path}_$fp"
  }

  /** A staged layout's directory under the JVM temp dir, keyed by
    * [[layoutTag]] so a regenerated source invalidates it. */
  private[queries] def stageDir(d: String, name: String, files: String*): java.io.File =
    new java.io.File(sys.props("java.io.tmpdir"), s"graft_${name}_${layoutTag(d, files: _*)}")

  /** q161's staged-feed directory. */
  private def q161StagedDir(d: String): java.io.File = stageDir(d, "q161", "events.parquet")

  /** Gaps-and-islands batch sessions in DuckDB — the oracle for BOTH
    * q25 (batch) and q53 (streaming): same SQL, two execution models. */
  private def sessionOracleSql: String =
    s"""WITH e AS (
          SELECT user_id::BIGINT user_id, epoch_ms(ts)::BIGINT ts_ms,
                 round(value * 100)::BIGINT value_x100
          FROM events),
        flagged AS (
          SELECT user_id, ts_ms, value_x100,
                 CASE WHEN lag(ts_ms) OVER w IS NULL
                           OR ts_ms - lag(ts_ms) OVER w > ${Sessions.GapMs} THEN 1 ELSE 0 END new_session
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms))
        SELECT user_id, min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms,
               count(*) AS n_events, sum(value_x100)::BIGINT AS total_value_x100
        FROM (SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) session_no
              FROM flagged)
        GROUP BY user_id, session_no"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Streaming exact dedup through the driver's gate: the events file
    // flows through Structured Streaming's parquet source
    // (AvailableNow, multi-batch) into watermarked dropDuplicates, and
    // the surviving (user_id, ts_ms) key set must equal DuckDB's
    // DISTINCT over the same parquet. Keys only — keeping payload
    // columns would make the survivor order-dependent. Scale shape:
    // dedup state is watermark-bounded per key, exactly-once file
    // source, one shuffle on the dedup key.
    // Streaming UPSERT sink — the lakehouse merge pattern. The event
    // stream (staged as 4 files, maxFilesPerTrigger=1 ⇒ 4 genuine
    // micro-batches with overlapping keys — enough batches to make the
    // upsert real, without paying 8 rounds of per-batch machinery in
    // every bench pass) flows through foreachBatch;
    // each batch writes its per-user argmax PARTIAL to its own
    // `batch=<id>` subdir — mode=overwrite keyed by batchId makes a
    // replayed batch idempotent (exactly-once without a transactional
    // sink). The table is merge-on-read: the reader compacts partials
    // with the same argmax. max_by is a true partial aggregate on both
    // legs, so state never exceeds |users| per batch, and the final
    // result must equal the BATCH argmax over all events — which is
    // exactly what the oracle computes. Winner key (ts_ms, event_id)
    // is total, so the upsert is deterministic across engines.
    "q94_stream_upsert" -> { (s, d) =>
      val srcTag = layoutTag(d, "events.parquet")
      // dir name carries the file count: changing the staging layout
      // must never reuse a stale cached dir
      val src = new java.io.File(sys.props("java.io.tmpdir"), s"graft_upsert4_$srcTag")
      if (!src.exists()) {
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            expr("unix_millis(cast(ts as timestamp))").as("ts_ms"),
            col("event_type"), round(col("value") * 100).cast("long").as("vx"))
          .repartition(4).write.mode("overwrite").parquet(src.getPath)
      }
      val target = java.nio.file.Files.createTempDirectory("graft-q94-target")
      val ck = java.nio.file.Files.createTempDirectory("graft-q94-ck")
      val schema = s.read.parquet(src.getPath).schema
      withConf(s, "spark.sql.shuffle.partitions" -> "8") { s =>
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src.getPath)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
            batch.groupBy(col("user_id"))
              .agg(max_by(struct(col("ts_ms"), col("event_id"), col("event_type"), col("vx")),
                struct(col("ts_ms"), col("event_id"))).as("w"))
              .select(col("user_id"), col("w.ts_ms"), col("w.event_id"),
                col("w.event_type"), col("w.vx"))
              .write.mode("overwrite").parquet(s"$target/batch=$id")
            ()
          }
          .option("checkpointLocation", ck.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      // the upsert demo is only real if the keys actually arrived split
      // across micro-batches — fail loudly if the source planner ever
      // coalesces the 4 staged files into one batch
      val nBatches = target.toFile.listFiles().count(_.getName.startsWith("batch="))
      require(nBatches >= 2, s"expected multi-batch upsert, got $nBatches batch dirs")
      // merge-on-read compaction, pinned so the temp dirs can be dropped
      val out = s.read.parquet(target.toString)
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("ts_ms"), col("event_id"), col("event_type"), col("vx")),
          struct(col("ts_ms"), col("event_id"))).as("w"))
        .select(col("user_id"), col("w.ts_ms").as("ts_ms"),
          col("w.event_type").as("event_type"), col("w.vx").as("vx"))
        .localCheckpoint()
      org.apache.commons.io.FileUtils.deleteQuietly(target.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
      out
    },

    "q48_stream_dedup" -> { (s, d) =>
      val schema = s.read.parquet(s"$d/events.parquet").schema
      val ck = java.nio.file.Files.createTempDirectory("graft-q48-ck")
      val sinkName = "q48_mem"
      // state partitions sized to key cardinality (see q53's comment)
      val out = withConf(s, "spark.sql.shuffle.partitions" -> "8") { s =>
        // the file source requires a DIRECTORY; select just the events
        // file out of the shared sf dir with a glob filter
        val raw = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(d)
        raw
          .select(col("user_id").cast("long").as("user_id"),
            Tables.tsAsMillis(raw).as("ts_ms"))
          .withColumn("ts_t", timestamp_millis(col("ts_ms")))
          .withWatermark("ts_t", "2 hours")
          .dropDuplicates("user_id", "ts_ms")
          .select(col("user_id"), col("ts_ms"))
          .writeStream
          .format("memory").queryName(sinkName)
          .option("checkpointLocation", ck.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        // the sink's view lives on the child and goes with it; the
        // returned plan holds the sink relation directly
        s.table(sinkName)
      }
      org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
      out
    },

    // Bucketed co-located join: both sides pre-bucketed on the join key
    // (Spark native bucketing, bucketBy + saveAsTable), so the join
    // reads bucket-aligned files and plans with NO exchange on either
    // side — the technique that turns a recurring 100 TB fact⋈fact join
    // from two full shuffles into zero. PlanHygieneSpec asserts the
    // no-exchange plan; the oracle is the plain join in DuckDB (bucketing
    // must never change RESULTS, only movement).
    "q49_bucketed_join" -> { (s, d) =>
      val bucketDb = "graft_buckets"
      s.sql(s"CREATE DATABASE IF NOT EXISTS $bucketDb")
      // write once per (session, sf dir, source contents): repeated bench
      // passes reuse. The tag embeds the full sanitized path (not a
      // 32-bit hash — two dirs must never collide) AND each source
      // file's (length, mtime), so regenerating the parquet at the same
      // path invalidates the cached layout instead of silently serving
      // stale rows.
      val tag = layoutTag(d, "orders.parquet", "customer.parquet")
      val ordersT = s"$bucketDb.orders_b_$tag"
      val custT = s"$bucketDb.customer_b_$tag"
      if (!s.catalog.tableExists(ordersT)) {
        // a previous JVM may have left the managed location behind while
        // this session's catalog has no such table — clear it or CREATE
        // fails with LOCATION_ALREADY_EXISTS
        val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
        Seq(s"orders_b_$tag", s"customer_b_$tag").foreach { t =>
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$wh/$bucketDb.db/$t"))
        }
        Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
          .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
          .mode("overwrite").saveAsTable(ordersT)
        Tables.customer(s, d).select("c_custkey", "c_mktsegment")
          .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
          .mode("overwrite").saveAsTable(custT)
      }
      // merge hint: a broadcast would ALSO avoid the shuffle at this SF
      // but wouldn't demonstrate (or test) bucket co-location — the
      // 100 TB case is two fact tables where broadcast is impossible
      s.table(ordersT).hint("merge")
        .join(s.table(custT), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(o_totalprice AS DECIMAL(18,2))")).cast("double").as("total_price"))
    },

    // Partition-pruned scan: events re-laid-out once per session as a
    // date-partitioned table (the on-disk layout a 100 TB event store
    // actually uses); a date-range query then reads ONLY the matching
    // partition directories — PartitionFilters at the scan, not a
    // post-scan filter over everything (plan-asserted). Results
    // hash-match the same range filter over the unpartitioned parquet
    // in DuckDB: layout changes I/O, never answers.
    "q50_partition_prune" -> { (s, d) =>
      val bucketDb = "graft_buckets"
      s.sql(s"CREATE DATABASE IF NOT EXISTS $bucketDb")
      val tag = layoutTag(d, "events.parquet")
      val eventsT = s"$bucketDb.events_p_$tag"
      if (!s.catalog.tableExists(eventsT)) {
        val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$wh/$bucketDb.db/events_p_$tag"))
        Tables.events(s, d)
          .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
          .write.partitionBy("event_date")
          .mode("overwrite").saveAsTable(eventsT)
      }
      s.table(eventsT)
        .filter(col("event_date") >= "2024-01-03" && col("event_date") <= "2024-01-05")
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(value AS DECIMAL(18,2))")).cast("double").as("total_value"))
    },

    // Streaming windowed aggregation through the gate: the events file
    // flows through the file source into the watermarked hourly
    // aggregation; Complete output mode makes the bounded run emit every
    // window (append mode would hold back windows the final watermark
    // never passes), and the result must equal DuckDB's batch GROUP BY.
    // Decimal-routed totals make the sums bit-identical cross-engine.
    "q52_stream_hourly" -> { (s, d) =>
      val schema = s.read.parquet(s"$d/events.parquet").schema
      val ck = java.nio.file.Files.createTempDirectory("graft-q52-ck")
      val sinkName = "q52_mem"
      // state partitions sized to key cardinality (see q53's comment)
      val out = withConf(s, "spark.sql.shuffle.partitions" -> "8") { s =>
        val raw = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(d)
        val events = raw.select(
          Tables.tsAsTimestamp(raw).as("ts"),
          col("event_type"), col("value"))
        Sessions.hourlyCountsStream(events).writeStream
          .format("memory").queryName(sinkName)
          .outputMode("complete")
          .option("checkpointLocation", ck.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        s.table(sinkName)
          .select(unix_millis(col("hour_start")).as("hour_ms"),
            col("event_type"), col("n"), col("total_value"))
      }
      org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
      out
    },

    // WATERMARK LATE-DATA semantics through the gate — the streaming
    // correctness question the rest of the stream family leaves
    // implicit: rows arriving after the watermark has passed their
    // window are DROPPED, not silently merged. The staged feed forces
    // the scenario deterministically: the events file is split at the
    // time-range midpoint, the ON-TIME half (late half of event time)
    // arrives first, the LATE half (early event times) arrives second
    // with a later file mtime — by then the watermark sits at
    // max_ts − 1 h, hours past every late row's window. In-query pins:
    // ≥ 2 data batches AND numRowsDroppedByWatermark > 0 (the drop
    // REALLY happened — without it this would equal a batch aggregate
    // over everything). Emitted result (append mode): exactly the
    // on-time windows whose end ≤ final watermark — which is what the
    // oracle computes relationally from the same midpoint. Scale: the
    // state is one (window, type) count per open window behind the
    // watermark — the watermark IS the state bound.
    "q161_stream_late_drop" -> { (s, d) =>
      val src = q161StagedDir(d)
      val evB = Tables.events(s, d)
      val bounds = evB.agg(min(unix_millis(col("ts"))).as("mn"),
        max(unix_millis(col("ts"))).as("mx")).collect()(0)
      val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
      val cutoff = (mn + mx) / 2
      require(cutoff + 3600000L < mx - 3600000L,
        "fixture must span > 2 h so the late half is unambiguously late")
      if (!src.exists()) {
        // Two staging subtleties, both load-bearing:
        //  1. ORDER: under Trigger.AvailableNow the file source slices
        //     the INITIAL LISTING by maxFilesPerTrigger, and a raw
        //     part-<uuid> name randomizes which half goes first
        //     (observed: the late file led, nothing was late). Flat
        //     ordered names pin listing order = intended order.
        //  2. The NUDGE batch: since SPARK-40925 the late-record
        //     filter uses the PREVIOUS batch's COMMITTED watermark —
        //     batch N drops by the watermark computed from data
        //     through batch N-2. Back-to-back on-time→late batches
        //     therefore never drop (observed: late windows emitted,
        //     numRowsDroppedByWatermark = 0). A 1-row sentinel file
        //     between the halves (the q53 sentinel idea) commits the
        //     on-time watermark one batch before the late file lands.
        src.mkdirs()
        val staged = evB.select(col("ts"), col("event_type"))
        def stage(df: DataFrame, name: String, mtime: Long): Unit = {
          val tmp = new java.io.File(src, s".stage_$name")
          df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
          val part = tmp.listFiles.find(_.getName.endsWith(".parquet")).get
          val dest = new java.io.File(src, name)
          java.nio.file.Files.move(part.toPath, dest.toPath)
          dest.setLastModified(mtime)
          org.apache.commons.io.FileUtils.deleteQuietly(tmp)
        }
        val t0 = 1700000000000L
        stage(staged.filter(unix_millis(col("ts")) >= cutoff), "00_ontime.parquet", t0)
        stage(evB.limit(1).select(timestamp_millis(lit(mx)).as("ts"),
          lit("__nudge").as("event_type")), "01_nudge.parquet", t0 + 300000L)
        stage(staged.filter(unix_millis(col("ts")) < cutoff), "02_late.parquet", t0 + 600000L)
      }
      val ck = java.nio.file.Files.createTempDirectory("graft-q161-ck")
      val sinkName = "q161_mem"
      try {
        val schema = s.read.parquet(src.getPath).schema
        // state partitions sized to the stream's key cardinality (the
        // q52/q53 discipline, r18): state here is one (hour-window,
        // type) count per open window — dozens of keys, not thousands —
        // and every state partition is a per-batch checkpoint-file
        // commit REGARDLESS of how empty it is, times THREE batches on
        // this staged feed (OPTIMIZATION_r18.md §A: addBatch/stateCommit
        // is the dominant per-batch term at 32 partitions). Batch plans
        // are unaffected.
        val (q, sink) = withConf(s, "spark.sql.shuffle.partitions" -> "8") { s =>
          val run = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(src.getPath)
            .select(col("ts").cast("timestamp").as("ts"), col("event_type"))
            .filter(col("event_type") =!= "__nudge") // the sentinel only carries the watermark
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"))
            .writeStream.outputMode("append")
            .format("memory").queryName(sinkName)
            .option("checkpointLocation", ck.toString)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          run.awaitTermination()
          // the sink's view lives on the child and goes with it
          (run, s.table(sinkName))
        }
        val trace = q.recentProgress.map(p =>
          s"batch=${p.batchId} in=${p.numInputRows} wm=${p.eventTime.get("watermark")} " +
            s"maxT=${p.eventTime.get("max")}").mkString("; ")
        require(q.recentProgress.length >= 3,
          s"the feed must arrive as on-time, nudge, and late batches [$trace]")
        // both drop pins: the stream READ every data row (late file
        // included), and the stateful operator COUNTED the late rows
        // as dropped-by-watermark — together with the oracle's
        // assertion that no late window was emitted, the drop is
        // proven end to end. (The sentinel itself may or may not show
        // in numInputRows: the != '__nudge' predicate pushes into the
        // parquet scan, whose row-group stats skip the whole file —
        // the batch still commits the watermark, which is its job.)
        val totalIn = q.recentProgress.map(_.numInputRows).sum
        val nAll = evB.count()
        require(totalIn == nAll || totalIn == nAll + 1,
          s"stream must READ all $nAll data rows including the late file, saw $totalIn [$trace]")
        val dropped = q.recentProgress
          .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
        require(dropped > 0,
          s"the late batch must be dropped by the watermark [$trace]")
        sink.select(unix_millis(col("window.start")).as("hour_ms"), col("event_type"), col("n"))
          .localCheckpoint()
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
      }
    },

    // Streaming sessionization through the gate: the events file flows
    // into the flatMapGroupsWithState session operator and the result
    // must hash-match the SAME DuckDB batch-session oracle as q25 —
    // stream ≡ batch proven in the driver's gate, not just StreamingSpec.
    // Append-mode stateful output only emits sessions the watermark has
    // sealed, so the staged source dir carries one sentinel row far in
    // the future: the post-data no-data batch advances the watermark
    // past every real session and the EventTimeTimeout flushes them.
    // (The sentinel user's own open session never emits; it is filtered
    // defensively anyway.) Scale shape: one shuffle on user_id, state =
    // open-session intervals per user, watermark-bounded.
    "q53_stream_sessions" -> { (s, d) =>
      val src = new java.io.File(s"$d/events.parquet")
      val schema = s.read.parquet(src.getPath).schema
      // the staged dir (source copy + sentinel) is content-addressed the
      // same way as the q49/q50 layouts, so repeated invocations (bench
      // passes) reuse it instead of re-copying and re-writing
      val stage = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_q53_" + layoutTag(d, "events.parquet"))
      val marker = stage.resolve("_STAGED")
      if (!java.nio.file.Files.exists(marker)) {
        org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile)
        java.nio.file.Files.createDirectories(stage)
        java.nio.file.Files.copy(src.toPath, stage.resolve("events.parquet"))
        // sentinel: year 2100, written in the SOURCE's own ts encoding
        // (nanos long for the driver files; timestamp/_NTZ for standard
        // parquet) so the staged dir stays schema-homogeneous
        val tsType = schema("ts").dataType
        val sentinelTs =
          if (tsType == org.apache.spark.sql.types.LongType) lit(4102444800000000000L)
          else timestamp_micros(lit(4102444800000000L)).cast(tsType)
        s.read.parquet(src.getPath).limit(1)
          .withColumn("user_id", lit(-1L))
          .withColumn("ts", sentinelTs)
          .write.mode("append").parquet(stage.toString)
        java.nio.file.Files.createFile(marker)
      }
      val ck = java.nio.file.Files.createTempDirectory("graft-q53-ck")
      val sinkName = "q53_mem"
      // streaming state partitions are fixed at query start from
      // spark.sql.shuffle.partitions — size them to the stream's key
      // cardinality (150 users at sf0.01), not the batch default: every
      // state partition is a per-batch checkpoint file regardless of
      // how empty it is. Batch plans are unaffected.
      val out = withConf(s, "spark.sql.shuffle.partitions" -> "8") { s =>
        val raw = s.readStream.schema(schema)
          .option("pathGlobFilter", "*.parquet")
          .parquet(stage.toString)
        val events = raw.select(
          Tables.tsAsTimestamp(raw).as("ts"),
          col("user_id"), col("event_type"), col("value"))
        Sessions.sessionizeStream(Sessions.typedEvents(events)).toDF().writeStream
          .format("memory").queryName(sinkName)
          .option("checkpointLocation", ck.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        s.table(sinkName).filter(col("user_id") >= 0)
      }
      org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
      out
    },

    // Stream-stream interval join (click → purchase attribution within
    // 30 minutes): both sides are watermarked streams and the join
    // condition bounds buy_ts relative to click_ts, so Spark can GC
    // join state behind the watermark — the shape that holds on an
    // unbounded 100 TB event feed. Inner joins emit on match (no
    // holdback), so the bounded AvailableNow run yields the complete
    // pair set, which must equal DuckDB's batch self-join. The
    // inequalities compare microsecond-truncated timestamps on BOTH
    // engines (Spark TimestampType IS micros; the oracle uses
    // epoch_us) so boundary rows can't drift.
    "q54_stream_join" -> { (s, d) =>
      val schema = s.read.parquet(s"$d/events.parquet").schema
      val ck = java.nio.file.Files.createTempDirectory("graft-q54-ck")
      val sinkName = "q54_mem"
      // a stream-stream join keeps FOUR state stores per partition;
      // size state partitions to key cardinality (see q53) or the
      // per-batch checkpoint fan-out dominates the query — and a
      // stream-stream join keeps FOUR stores per partition, so it gets
      // half the partitions of the single-store operators (16 store
      // instances per batch instead of 32; ~0.4 s/batch saved)
      val out = withConf(s, "spark.sql.shuffle.partitions" -> "4") { s =>
        def side(): DataFrame = {
          val raw = s.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(d)
          raw.select(col("user_id").cast("long").as("user_id"),
            Tables.tsAsTimestamp(raw).as("ts"),
            col("event_type"))
        }
        val clicks = side().filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"))
          .withWatermark("click_ts", "2 hours")
        val buys = side().filter(col("event_type") === "purchase")
          .select(col("user_id").as("buy_user"), col("ts").as("buy_ts"))
          .withWatermark("buy_ts", "2 hours")
        val joined = clicks.join(buys,
          expr("""user_id = buy_user AND
                  buy_ts > click_ts AND
                  buy_ts <= click_ts + interval 30 minutes"""))
          .select(col("user_id"),
            unix_millis(col("click_ts")).as("click_ms"),
            unix_millis(col("buy_ts")).as("buy_ms"))
        joined.writeStream
          .format("memory").queryName(sinkName)
          .option("checkpointLocation", ck.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        s.table(sinkName)
      }
      org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
      out
    },

    // LEFT-OUTER stream-stream join — the capability q54's inner join
    // leaves open: clicks with no purchase within 30 min must ALSO
    // emit (buy = −1), and they can only emit when the WATERMARK
    // proves no match can still arrive — outer results are
    // state-eviction results. Determinism needs the q161 staging
    // machinery: the data batch, then TWO sentinel batches (since
    // SPARK-40925 eviction in batch N uses the watermark COMMITTED at
    // batch N−1, so one sentinel advances the watermark and the next
    // flushes against it; the final sentinel's own click stays in
    // state — its expiry exceeds the last watermark — and is filtered
    // by user_id ≥ 0 anyway). Oracle: the relational left-outer with
    // the same interval predicate — every real click appears exactly
    // once per match or once with −1. Scale: join state is bounded by
    // the watermark window on BOTH sides (the outer side holds rows
    // only until expiry proves them unmatched).
    "q190_stream_outer_join" -> { (s, d) =>
      // "q190b": the r18 two-file staging below changes the staged
      // content, so the cache key must not collide with older dirs
      val src = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q190b_" + layoutTag(d, "events.parquet"))
      val evB = Tables.events(s, d)
      if (!src.exists()) {
        // the max-ts aggregate is only needed to BUILD the staged feed
        // — computing it on every run was a full events scan per pass
        val mx = evB.agg(max(unix_millis(col("ts")))).collect()(0).getLong(0)
        src.mkdirs()
        val staged = evB
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("ts"), col("event_type"), col("user_id"))
        def stage(df: DataFrame, name: String, mtime: Long): Unit = {
          val tmp = new java.io.File(src, s".stage_$name")
          df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
          val part = tmp.listFiles.find(_.getName.endsWith(".parquet")).get
          val dest = new java.io.File(src, name)
          java.nio.file.Files.move(part.toPath, dest.toPath)
          dest.setLastModified(mtime)
          org.apache.commons.io.FileUtils.deleteQuietly(tmp)
        }
        val t0 = 1700000000000L
        def sentinel(tsMs: Long): DataFrame = evB.limit(1).select(
          timestamp_millis(lit(tsMs)).as("ts"),
          explode(array(lit("click"), lit("purchase"))).as("event_type"),
          lit(-1L).as("user_id"))
        // TWO staged files, not three (r18): the old third "flush"
        // file existed to push the watermark past every held click so
        // the outer join emits its null rows — but AvailableNow
        // already runs a final no-data micro-batch (noDataMicroBatches,
        // on by default) that commits the advanced watermark and
        // flushes event-time state. One sentinel at +20d does the
        // advancing; the no-data batch does the flushing. Saves a full
        // micro-batch cycle (2 sources x planning + state commit +
        // WAL) per run; oracle-identical output at both SFs.
        stage(staged, "00_data.parquet", t0)
        stage(sentinel(mx + 20L * 86400000L), "01_advance.parquet", t0 + 300000L)
      }
      val ck = java.nio.file.Files.createTempDirectory("graft-q190-ck")
      val sinkName = "q190_mem"
      try {
        val schema = s.read.parquet(src.getPath).schema
        withConf(s, "spark.sql.shuffle.partitions" -> "4") { s =>
          def side(): DataFrame = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(src.getPath)
          val clicks = side().filter(col("event_type") === "click")
            .select(col("user_id").cast("long").as("user_id"),
              col("ts").cast("timestamp").as("click_ts"))
            .withWatermark("click_ts", "2 hours")
          val buys = side().filter(col("event_type") === "purchase")
            .select(col("user_id").cast("long").as("buy_user"),
              col("ts").cast("timestamp").as("buy_ts"))
            .withWatermark("buy_ts", "2 hours")
          val joined = clicks.join(buys,
            expr("""user_id = buy_user AND
                    buy_ts > click_ts AND
                    buy_ts <= click_ts + interval 30 minutes"""),
            "left_outer")
            .select(col("user_id"),
              unix_millis(col("click_ts")).as("click_ms"),
              coalesce(unix_millis(col("buy_ts")), lit(-1L)).as("buy_ms"))
          joined.writeStream
            .format("memory").queryName(sinkName)
            .option("checkpointLocation", ck.toString)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
            .awaitTermination()
          s.table(sinkName).filter(col("user_id") >= 0L)
            .select(col("user_id"), col("click_ms"), col("buy_ms"))
            .localCheckpoint() // release the memory sink eagerly
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
    },

    // Stream-static enrichment: the event stream joins a static
    // dimension (customer segments). The static side is planned per
    // micro-batch like any batch relation — broadcast at this size, a
    // shuffled join only if the dim outgrows it — and needs NO state:
    // nothing is watermark-held, so the bounded run is trivially
    // complete. The remaining streaming capability class after
    // stream-stream (q54) and stateful aggregation (q52/q53).
    "q56_stream_enrich" -> { (s, d) =>
      val schema = s.read.parquet(s"$d/events.parquet").schema
      val ck = java.nio.file.Files.createTempDirectory("graft-q56-ck")
      val sinkName = "q56_mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val raw0 = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d)
      val raw = raw0
        .select(col("user_id").cast("long").as("user_id"),
          Tables.tsAsMillis(raw0).as("ts_ms"),
          col("event_type"))
      val dim = Tables.customer(s, d)
        .select(col("c_custkey").cast("long").as("c_custkey"), col("c_mktsegment"))
      val enriched = raw.join(dim, col("user_id") === col("c_custkey"))
        .select(col("user_id"), col("ts_ms"), col("event_type"), col("c_mktsegment"))
      val q = enriched.writeStream
        .format("memory").queryName(sinkName)
        .option("checkpointLocation", ck.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val out = s.table(sinkName)
      s.catalog.dropTempView(sinkName)
      org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
      out
    },

    // Gap-based sessions (30 min) per user over the events table.
    // Integer-millisecond arithmetic end to end.
    "q25_sessionize" -> { (s, d) =>
      Sessions.sessionizeBatch(Tables.events(s, d))
    },

    // kafka_date_format as a native codegen expression, driven from
    // SQL through the session registry (T9 at query speed).
    "q26_kafka_format" -> { (s, d) =>
      GraftFunctions.register(s)
      Tables.events(s, d).createOrReplaceTempView("events_v")
      s.sql(
        """SELECT DISTINCT kafka_date_format(
             date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")) AS kafka_ts
           FROM events_v""")
    },

    // Latest-cell-per-key read — the query face of the versioned sink
    // (maxVersions history, reads want the newest). Top-1-per-key as a
    // lexicographic max(struct(...)): a TRUE partial aggregate (map-side
    // combine shrinks each partition to one row per key before the
    // shuffle), unlike a row_number window which must sort every row of
    // a key in one task. The struct carries the full (ts, type, value)
    // tuple so the tie-break total order is identical to the oracle's
    // row_number ordering.
    "q27_latest_events" -> { (s, d) =>
      Sessions.typedEvents(Tables.events(s, d)).toDF()
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts_ms"), col("event_type"), col("value"))).as("m"))
        .select(col("user_id"), col("m.ts_ms").as("latest_ts_ms"),
          col("m.event_type").as("event_type"), col("m.value").as("value"))
    },

    // Two-phase salted aggregation: pre-aggregate under a synthetic
    // salt, then merge — the standard defense when a grouping key is
    // skew-heavy (a handful of event types across 100 TB). Results are
    // identical to the direct GROUP BY, which is exactly what the
    // oracle checks.
    "q28_salted_agg" -> { (s, d) =>
      Sessions.typedEvents(Tables.events(s, d)).toDF()
        .withColumn("salt", pmod(hash(col("user_id")), lit(16)))
        .groupBy(col("event_type"), col("salt"))
        .agg(count(lit(1)).as("pn"),
          sum(round(col("value") * 100).cast("long")).as("pv"))
        .groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n_events"), sum(col("pv")).as("total_value_x100"))
    },

    // Sketch operators: HLL distinct + quantile estimates. The sketch
    // VALUES can't hash-match a DuckDB oracle (engine-specific
    // estimators), so the hashed output carries the EXACT stats — NDV
    // and percentile_disc cents, oracle-recomputable — plus sketch_ok,
    // the in-query assertion that every sketch landed inside its error
    // bound. The oracle pins sketch_ok TRUE: a drifting sketch flips
    // the bit and fails the hash gate. Bounds: HLL rsd=0.02 gated at
    // ±5% (±3 absolute floor for tiny groups); percentile_approx
    // (accuracy 5000, rank error ≤ n/5000) gated inside the exact
    // p45..p55 / p97..max value brackets — both ~10× looser than the
    // sketch guarantees, so the gate only trips on real breakage.
    // SketchSpec still bounds the raw estimates directly.
    "q29_sketches" -> { (s, d) =>
      val e = Tables.events(s, d).select(
        col("event_type"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      val sk = e.groupBy(col("event_type")).agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        percentile_approx(col("cents"), lit(0.5), lit(5000)).as("approx_med"),
        percentile_approx(col("cents"), lit(0.99), lit(5000)).as("approx_p99"))
      val ex = e.groupBy(col("event_type")).agg(
        countDistinct(col("user_id")).as("n_users"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)").cast("long").as("median_x100"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY cents)").cast("long").as("p99_x100"),
        expr("percentile_disc(0.45) WITHIN GROUP (ORDER BY cents)").cast("long").as("p45"),
        expr("percentile_disc(0.55) WITHIN GROUP (ORDER BY cents)").cast("long").as("p55"),
        expr("percentile_disc(0.97) WITHIN GROUP (ORDER BY cents)").cast("long").as("p97"),
        max(col("cents")).as("mx"))
      ex.join(sk, Seq("event_type"))
        .select(col("event_type"), col("n_users"), col("median_x100"), col("p99_x100"),
          (abs(col("approx_users") - col("n_users")) <=
              greatest(col("n_users") / 20, lit(3L)) &&
            col("approx_med").between(col("p45"), col("p55")) &&
            col("approx_p99").between(col("p97"), col("mx"))).as("sketch_ok"))
    },

    // As-of (backward) join: for every click, the user's most recent
    // purchase at-or-before it — the point-in-time attribution lookup.
    // graft.operators.AsOfJoin: single shuffle + per-key sort, no join
    // node, no range explosion; hash-verified against DuckDB's native
    // ASOF LEFT JOIN.
    "q32_asof_join" -> { (s, d) =>
      val e = graft.streaming.Sessions.typedEvents(Tables.events(s, d)).toDF()
        .withColumn("value_x100", round(col("value") * 100).cast("long"))
      val probes = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_ms"), col("value_x100").as("click_value_x100"))
      val state = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_ms"))
        .agg(max(col("value_x100")).as("purchase_value_x100"))
        .withColumnRenamed("ts_ms", "p_ts_ms")
      graft.operators.AsOfJoin.asOf(
        probes, state, key = "user_id", leftTs = "ts_ms", rightTs = "p_ts_ms",
        payload = Seq("p_ts_ms", "purchase_value_x100"))
    },

    // Pure interval join (NO equi-key): clicks by ANY user within ±1h
    // of each purchase. graft.operators.RangeJoin buckets time so the
    // pairing is an equi-join on bucket id (exactly-once pair meeting),
    // never a BroadcastNestedLoopJoin. Zero-match purchases re-attached
    // with a left join so the outer semantics match the oracle.
    "q33_range_join" -> { (s, d) =>
      val e = Tables.events(s, d).select(
        col("event_id").cast("long").as("event_id"),
        unix_millis(col("ts")).as("ts_ms"),
        col("event_type"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          (col("ts_ms") - lit(3600000L)).as("lo"),
          (col("ts_ms") + lit(3600000L)).as("hi"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("ts_ms").as("click_ts"))
      val counts = graft.operators.RangeJoin
        .rangeJoin(purchases, clicks, "lo", "hi", "click_ts", bucketWidth = 3600000L)
        .groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n"))
      purchases.select(col("purchase_id"))
        .join(counts, Seq("purchase_id"), "left")
        .select(col("purchase_id"),
          coalesce(col("n"), lit(0L)).cast("long").as("n_nearby_clicks"))
    },

    // Top-5 distinguishing terms per document. Classic TF-IDF shape
    // (term-frequency × inverse document-frequency) with the score kept
    // in INTEGER arithmetic — (tf · 10⁶) div df — so the cross-engine
    // ranking is bit-deterministic (ln() need not match across C and
    // Java runtimes; an integer monotone-in-tf / anti-monotone-in-df
    // score hash-matches exactly). Shape: tokenize→explode→two partial-
    // aggregable counts→shuffle join on term→per-doc top-k window over
    // a high-cardinality partition key.
    "q34_tfidf_topk" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"),
          explode(split(lower(col("text")), "[^a-z]+")).as("term"))
        .filter(col("term") =!= "")
      val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)
      tf.join(dfreq, Seq("term"))
        .withColumn("score", expr("tf * 1000000 div df"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"))
    },

    // EXACT percentiles per group — the exact face of q29's sketches
    // (quantile_approx is the 100 TB path; this is the bounded-group
    // exact variant). Interpolation runs over integer hundredths, so
    // every (1−g)·a + g·b lands on an exactly-representable double and
    // hash-matches percentile_cont bit-for-bit.
    // Deterministic MODE aggregate — most frequent lang per source,
    // ties broken lexicographically (Spark's own mode() leaves ties
    // unspecified, so it can't cross a hash gate; this decomposition
    // pins them). Two partial-aggregable shuffles, both on uniform
    // keys: (source, lang) counts, then an argmin per source over
    // struct(-cnt, lang) — negating the count turns the
    // count-DESC/lang-ASC contract into one lexicographic MIN (max_by
    // on struct(cnt, lang) would tie-break toward the HIGHER lang).
    // Integer counts only; no floats anywhere.
    "q96_mode" -> { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("source"))
        .agg(min_by(struct((-col("cnt")).as("nc"), col("lang")),
          struct((-col("cnt")).as("nc"), col("lang"))).as("w"))
        .select(col("source"), col("w.lang").as("mode_lang"),
          (-col("w.nc")).as("n"))
    },

    "q35_percentiles" -> { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), round(col("value") * 100).cast("long").as("vx"))
        .groupBy(col("event_type"))
        .agg(
          expr("percentile(vx, 0.25)").as("p25_x100"),
          expr("percentile(vx, 0.5)").as("p50_x100"),
          expr("percentile(vx, 0.75)").as("p75_x100"))
    },

    // CUBE grouping sets over (event_type, day): all four grouping
    // combinations in ONE pass — partial-aggregable, one shuffle.
    "q36_cube" -> { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
          round(col("value") * 100).cast("long").as("vx"))
        .cube(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"), sum(col("vx")).as("total_x100"))
    },

    // Pivot: per-day event-type counts as columns. Spark's pivot plans
    // a single-pass conditional aggregation (no per-column scans) —
    // identical to the oracle's FILTER clauses.
    "q37_pivot" -> { (s, d) =>
      Tables.events(s, d)
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
        .groupBy(col("day"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
    }
  )

  val oracle: Map[String, String] = Map(
    // exact stats recomputed; sketch_ok is pinned TRUE — the Spark side
    // computes it as the sketch-vs-exact error-bound assertion
    "q29_sketches" ->
      """WITH e AS (SELECT event_type, user_id, round(value * 100)::BIGINT AS cents
                    FROM events)
         SELECT event_type, count(DISTINCT user_id) AS n_users,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS median_x100,
           CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS p99_x100,
           TRUE AS sketch_ok
         FROM e GROUP BY 1""",
    "q48_stream_dedup" ->
      """SELECT DISTINCT user_id::BIGINT AS user_id, epoch_ms(ts)::BIGINT AS ts_ms FROM events""",
    // The oracle is the BATCH argmax — incremental upserts must
    // converge to exactly the all-at-once answer.
    "q94_stream_upsert" ->
      """SELECT user_id, ts_ms, event_type, vx FROM (
           SELECT user_id::BIGINT AS user_id, epoch_ms(ts)::BIGINT AS ts_ms,
                  event_type, round(value * 100)::BIGINT AS vx,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1""",
    "q52_stream_hourly" ->
      """SELECT epoch_ms(date_trunc('hour', ts))::BIGINT AS hour_ms, event_type,
                count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",

    // the append-mode emission rule, relationally: on-time rows (the
    // late-event-time half staged first) windowed by hour, keeping
    // windows sealed by the final watermark (max − 1 h); the late half
    // contributes NOTHING — that absence is the assertion
    "q161_stream_late_drop" ->
      """WITH b AS (SELECT epoch_ms(ts)::BIGINT AS t, event_type FROM events),
          s AS (SELECT min(t) AS mn, max(t) AS mx FROM b),
          cut AS (SELECT (mn + mx) // 2 AS c, mx - 3600000 AS wm FROM s),
          ontime AS (SELECT (t // 3600000) * 3600000 AS hour_ms, event_type
                     FROM b, cut WHERE t >= cut.c)
         SELECT hour_ms, event_type, count(*)::BIGINT AS n
         FROM ontime, cut
         WHERE hour_ms + 3600000 <= cut.wm
         GROUP BY 1, 2""",
    "q50_partition_prune" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
                count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-03' AND '2024-01-05'
         GROUP BY 1, 2""",
    "q49_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1""",
    "q25_sessionize" -> sessionOracleSql,
    // q53 is the STREAMING face of q25 — one oracle, two execution
    // models: hash-equality of both against the same SQL is the
    // stream ≡ batch proof inside the driver's gate.
    "q53_stream_sessions" -> sessionOracleSql,
    "q56_stream_enrich" ->
      """SELECT e.user_id::BIGINT AS user_id, epoch_ms(e.ts)::BIGINT AS ts_ms,
                e.event_type, c.c_mktsegment
         FROM events e JOIN customer c ON e.user_id = c.c_custkey""",
    "q54_stream_join" ->
      """SELECT a.user_id::BIGINT AS user_id,
                epoch_ms(a.ts)::BIGINT AS click_ms,
                epoch_ms(b.ts)::BIGINT AS buy_ms
         FROM events a JOIN events b
           ON a.user_id = b.user_id
          AND a.event_type = 'click' AND b.event_type = 'purchase'
          AND epoch_us(b.ts) > epoch_us(a.ts)
          AND epoch_us(b.ts) <= epoch_us(a.ts) + 1800000000""",

    // the relational left-outer the watermark-evicted stream converges
    // to: matches as q54, plus one (click, -1) row per unmatched click
    "q190_stream_outer_join" ->
      """SELECT a.user_id::BIGINT AS user_id,
                epoch_ms(a.ts)::BIGINT AS click_ms,
                coalesce(epoch_ms(b.ts), -1)::BIGINT AS buy_ms
         FROM (SELECT * FROM events WHERE event_type = 'click') a
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
           ON a.user_id = b.user_id
          AND epoch_us(b.ts) > epoch_us(a.ts)
          AND epoch_us(b.ts) <= epoch_us(a.ts) + 1800000000""",
    "q26_kafka_format" ->
      """SELECT DISTINCT strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') || '+0000' AS kafka_ts FROM events""",
    "q27_latest_events" ->
      """SELECT user_id, latest_ts_ms, event_type, "value" FROM (
           SELECT user_id::BIGINT user_id, epoch_ms(ts)::BIGINT latest_ts_ms, event_type, events.value::DOUBLE AS "value",
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY epoch_ms(ts) DESC, event_type DESC, events.value DESC) rn
           FROM events) WHERE rn = 1""",
    "q96_mode" ->
      """SELECT source, mode_lang, n FROM (
           SELECT source, lang AS mode_lang, count(*) AS n,
                  row_number() OVER (PARTITION BY source
                    ORDER BY count(*) DESC, lang ASC) AS rn
           FROM documents GROUP BY source, lang) WHERE rn = 1""",
    "q28_salted_agg" ->
      """SELECT event_type, count(*) AS n_events,
                sum(round(value * 100)::BIGINT)::BIGINT AS total_value_x100
         FROM events GROUP BY event_type""",
    "q32_asof_join" ->
      """WITH e AS (
            SELECT user_id::BIGINT user_id, epoch_ms(ts)::BIGINT ts_ms, event_type,
                   round(value * 100)::BIGINT value_x100
            FROM events),
          probes AS (
            SELECT user_id, ts_ms, value_x100 AS click_value_x100
            FROM e WHERE event_type = 'click'),
          state AS (
            SELECT user_id, ts_ms AS p_ts_ms, max(value_x100) AS purchase_value_x100
            FROM e WHERE event_type = 'purchase' GROUP BY user_id, ts_ms)
          SELECT p.user_id, p.ts_ms, p.click_value_x100, s.p_ts_ms, s.purchase_value_x100
          FROM probes p ASOF LEFT JOIN state s
            ON p.user_id = s.user_id AND p.ts_ms >= s.p_ts_ms""",
    "q33_range_join" ->
      """WITH e AS (
            SELECT event_id::BIGINT event_id, epoch_ms(ts)::BIGINT ts_ms, event_type
            FROM events),
          p AS (SELECT event_id AS purchase_id, ts_ms FROM e WHERE event_type = 'purchase'),
          c AS (SELECT ts_ms AS click_ts FROM e WHERE event_type = 'click')
          SELECT p.purchase_id, count(c.click_ts)::BIGINT AS n_nearby_clicks
          FROM p LEFT JOIN c
            ON c.click_ts BETWEEN p.ts_ms - 3600000 AND p.ts_ms + 3600000
          GROUP BY p.purchase_id""",
    "q34_tfidf_topk" ->
      """WITH toks AS (
            SELECT doc_id::BIGINT doc_id, t.term
            FROM documents, unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(term)
            WHERE t.term <> ''),
          tf AS (SELECT doc_id, term, count(*)::BIGINT tf FROM toks GROUP BY 1, 2),
          df AS (SELECT term, count(*)::BIGINT df FROM tf GROUP BY 1),
          scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, df.df, (tf.tf * 1000000) // df.df AS score
            FROM tf JOIN df USING (term))
          SELECT doc_id, term, tf, df, score FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) rk
            FROM scored) WHERE rk <= 5""",
    "q35_percentiles" ->
      """SELECT event_type,
                percentile_cont(0.25) WITHIN GROUP (ORDER BY round(value * 100)::BIGINT)::DOUBLE AS p25_x100,
                percentile_cont(0.5)  WITHIN GROUP (ORDER BY round(value * 100)::BIGINT)::DOUBLE AS p50_x100,
                percentile_cont(0.75) WITHIN GROUP (ORDER BY round(value * 100)::BIGINT)::DOUBLE AS p75_x100
         FROM events GROUP BY event_type""",
    "q36_cube" ->
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
                sum(round(value * 100)::BIGINT)::BIGINT AS total_x100
         FROM events GROUP BY CUBE (event_type, day)""",
    "q37_pivot" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
                count(*) FILTER (event_type = 'click')::BIGINT AS click,
                count(*) FILTER (event_type = 'view')::BIGINT AS view,
                count(*) FILTER (event_type = 'purchase')::BIGINT AS purchase,
                count(*) FILTER (event_type = 'signup')::BIGINT AS signup,
                count(*) FILTER (event_type = 'error')::BIGINT AS error
         FROM events GROUP BY 1"""
  )
}

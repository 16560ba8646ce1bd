package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable SKETCHES — the approximate operators
  * a 100 TB pipeline leans on (cardinality, set overlap), built so both
  * engines compute the IDENTICAL sketch and the hash gate checks the
  * estimates exactly (unlike q29, which gates Spark's built-in
  * HLL++/KLL sketches against exact bounds because their binary states
  * are not portable):
  *
  *  - q137: HyperLogLog from first principles — md5-derived 60-bit
  *    hashes, m = 32 registers, register = max leading-zero rank
  *    (partial-aggregable max — the sketch is MERGEABLE, which is the
  *    whole point at scale), raw HLL estimate in pure integer
  *    arithmetic (α·m² scaled by 2⁴⁰, register sum as powers of two,
  *    one integer division).
  *  - q138/q139: KMV (bottom-k / θ-sketch family) — per source the k
  *    smallest order-preserving 40-bit token hashes; distinct estimate
  *    (k−1)·2⁴⁰ div h_(k); pairwise vocabulary Jaccard from the merged
  *    union's bottom-k (the mergeability property again: sketches
  *    compose across partitions AND across sets).
  *  - q152: moments sketch (Gan et al., VLDB'18) — raw power sums
  *    n..Σx⁴ mergeable by ADDITION; mean, variance, central third
  *    moment, and kurtosis derived in exact integer arithmetic.
  *
  * Shapes: hashing is a narrow map; register/bottom-k reduction is one
  * partial-aggregable shuffle (max per register / per-source map-side
  * group-limit window with constant k); everything after is
  * sketch-sized (m, k, |sources|² rows), never corpus-sized.
  */
object Sketches {

  /** HLL geometry: m = 2^P registers; rank capped (P(rank>cap) = 2^-40
    * at corpus scale — the cap only bounds the integer arithmetic). */
  private val P = 5
  private val M = 1 << P // 32 registers
  private val RankCap = 40
  /** α(32)·1000 — the standard bias constant as an exact rational. */
  private val AlphaX1000 = 697L

  /** KMV size. */
  private val K = 256

  /** count-min geometry: d salted rows × w counters. */
  private val CmD = 4
  private val CmW = 512

  /** 60-bit md5-derived hash — the q15/q135 cross-engine base hash.
    * Takes the column as a SQL fragment (evaluated inside expr). */
  private def h60(c: String): Column =
    expr(s"CAST(conv(substring(md5($c), 1, 15), 16, 10) AS BIGINT)")

  /** order-preserving 40-bit truncation (div, not mod — KMV needs the
    * ORDER of hashes preserved). */
  private def h40(c: String): Column =
    expr(s"CAST(conv(substring(md5($c), 1, 15), 16, 10) AS BIGINT) div 1048576")

  /** (event_type, idx, rank) rows — the HLL register update stream,
    * a pure narrow map over events. */
  private def hllRanks(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), h60("CAST(user_id AS STRING)").as("h"))
      .withColumn("idx", col("h") % M)
      .withColumn("rank", least(lit(56) - length(bin(expr(s"h div $M"))), lit(RankCap)))

  /** registers (event_type, idx, m) → (event_type, est, nreg,
    * reg_digest): the integer raw-HLL assembly, shared by the batch
    * (q137) and streaming (q142) faces — identical estimates by
    * construction. */
  private def registersToEstimate(regs: DataFrame): DataFrame =
    regs.groupBy(col("event_type")).agg(
      count(lit(1)).as("nreg"),
      sum(expr(s"shiftleft(CAST(1 AS BIGINT), $RankCap - m)")).as("s_present"),
      md5(concat_ws(",", sort_array(collect_list(
        concat(col("idx").cast("string"), lit(":"), col("m").cast("string")))))).as("reg_digest"))
      .withColumn("s_total",
        col("s_present") + (lit(M.toLong) - col("nreg")) * expr(s"shiftleft(CAST(1 AS BIGINT), $RankCap)"))
      .withColumn("est",
        expr(s"($AlphaX1000 * ${M.toLong * M} * shiftleft(CAST(1 AS BIGINT), $RankCap)) div (1000 * s_total)"))
      .select(col("event_type"), col("est"), col("nreg"), col("reg_digest"))

  private def tokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0)

  /** per-source bottom-K sketch rows (source, h) — constant-k group
    * limit, map-side before the shuffle. */
  private def kmvSketch(s: SparkSession, d: String): DataFrame = {
    val hashed = tokens(s, d)
      .select(col("source"), h40("t").as("h")).distinct()
    hashed
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h").asc)))
      .filter(col("rn") <= K)
      .select(col("source"), col("h"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Deterministic HyperLogLog over events.user_id per event_type:
    // register index = low P bits, rank = leading-zero position of the
    // remaining 55-bit window (via length(bin(w)) — identical in both
    // engines), register = max rank (ABSENT register = 0). Raw HLL
    // estimate α·m²/Σ2^-M in pure integers: Σ 2^(40-M) with absent
    // registers contributing 2^40, then (697·1024·2^40) div (1000·S).
    // No low-range linear-counting branch — the raw estimator is the
    // contract (exact-reproducible beats bias-corrected-but-unportable
    // here; n ≫ 2.5m at every SF so the raw regime applies). The
    // register digest pins the ENTIRE sketch state, not just the
    // estimate.
    // Execution: the NATIVE HllRegisters TypedImperativeAggregate — one
    // exchange on event_type alone, each group's partial is a 32-byte
    // register buffer merged by elementwise max (the relational
    // groupBy(type, idx).max shape ships m·|types| shuffle rows; the
    // aggregate-function face ships |types|). The register array then
    // unpacks to the same nreg/digest/estimate the oracle derives
    // relationally — same sketch, two plan shapes, one hash.
    "q137_hll_sketch" -> { (s, d) =>
      val hllAgg = org.apache.spark.sql.GraftSqlGlue.column(
        graft.functions.HllRegisters(
          org.apache.spark.sql.GraftSqlGlue.expression(col("h"))).toAggregateExpression())
      Tables.events(s, d)
        .select(col("event_type"), col("user_id"), h60("CAST(user_id AS STRING)").as("h"))
        .groupBy(col("event_type"))
        .agg(hllAgg.as("regs"), countDistinct(col("user_id")).as("n_exact"))
        .withColumn("nreg", expr("size(filter(regs, x -> x > 0))").cast("long"))
        .withColumn("s_total", expr(
          s"aggregate(regs, CAST(0 AS BIGINT), (acc, x) -> acc + shiftleft(CAST(1 AS BIGINT), $RankCap - x))"))
        .withColumn("est", expr(
          s"($AlphaX1000 * ${M.toLong * M} * shiftleft(CAST(1 AS BIGINT), $RankCap)) div (1000 * s_total)"))
        .withColumn("reg_digest", expr(
          "md5(concat_ws(',', sort_array(transform(filter(sequence(0, 31), i -> element_at(regs, i + 1) > 0), " +
            "i -> concat(CAST(i AS STRING), ':', CAST(element_at(regs, i + 1) AS STRING))))))"))
        .select(col("event_type"), col("n_exact"), col("est"),
          col("nreg"), col("reg_digest"))
    },

    // STREAMING HLL — the same sketch maintained by Structured
    // Streaming's stateful aggregation across micro-batches: the
    // events feed arrives as file-triggered micro-batches, the streaming
    // groupBy(event_type, idx).max(rank) state IS the register table
    // (one int per register — the smallest useful streaming state
    // there is), and the post-stream assembly turns the final
    // registers into the identical estimate q137 computes in batch.
    // This is the always-on cardinality dashboard a 100 TB feed runs:
    // per-key state is bounded by m·|types| FOREVER, no watermark
    // needed because max never retracts. In-query pin: the feed really
    // arrived split (≥ 2 non-empty batches).
    "q142_stream_hll" -> { (s, d) =>
      val srcTag = Advanced.layoutTag(d, "events.parquet")
      val src = new java.io.File(sys.props("java.io.tmpdir"), s"graft_shll2_$srcTag")
      if (!src.exists()) {
        // 2 staged files = 2 genuine micro-batches — enough to make the
        // cross-batch state real without paying 4 rounds of trigger
        // machinery (the q124 lesson)
        Tables.events(s, d).select(col("event_type"), col("user_id"))
          .repartition(2).write.mode("overwrite").parquet(src.getPath)
      }
      val ck = java.nio.file.Files.createTempDirectory("graft-q142-ck")
      val sinkName = "graft_q142_sink"
      val schema = s.read.parquet(src.getPath).schema
      try {
        // state partitions sized to the stream's key cardinality (the
        // q52/q53 discipline): state is event_type × M=32 registers —
        // ~100 keys — and every state partition is a per-batch
        // checkpoint-file commit regardless of fill (the q156/q167
        // probe finding).
        val (q, sink) = withConf(s, "spark.sql.shuffle.partitions" -> "8") { s =>
          val run = hllRanks(s.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src.getPath))
            .groupBy(col("event_type"), col("idx"))
            .agg(max(col("rank")).as("m"))
            .writeStream.outputMode("complete")
            .format("memory").queryName(sinkName)
            .option("checkpointLocation", ck.toString)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          run.awaitTermination()
          (run, s.table(sinkName))
        }
        require(q.recentProgress.count(_.numInputRows > 0) >= 2,
          "streaming HLL must see the feed as multiple micro-batches")
        registersToEstimate(sink).localCheckpoint()
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
      }
    },

    // Count-min frequency sketch over the corpus token stream — the
    // frequency member of the sketch family (q137 cardinality, q74
    // membership, q138/139 similarity): d = 4 salted hash rows × w =
    // 512 counters, counter = Σ token count — PURE SUMS, so the sketch
    // is mergeable by addition (partial aggregation is the merge, and
    // so is cross-shard rollup). Point estimates for the exact top-20
    // tokens: est = min over rows of the counter each salt maps the
    // token to — ≥ exact always (one-sided error, collisions only ADD).
    // Shape: token counts are the only corpus-scale pass
    // (partial-aggregable); the sketch is d·w rows; the probe joins a
    // broadcast 20-row top-k against it. The sketch digest pins all
    // 2048 counters.
    "q144_countmin" -> { (s, d) =>
      val counts = tokens(s, d).groupBy(col("t")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // feeds the sketch build, the top-k, and the probe
      val hashed = counts
        .select(col("t"), col("c"), explode(sequence(lit(0), lit(CmD - 1))).as("r"))
        .withColumn("b", expr(
          s"CAST(conv(substring(md5(concat(CAST(r AS STRING), ':', t)), 1, 15), 16, 10) AS BIGINT) % $CmW"))
      val cm = hashed.groupBy(col("r"), col("b")).agg(sum(col("c")).as("cnt"))
        .localCheckpoint() // d·w rows, read by the digest and the probe
      // 1-row bounded scalar (the q116/q128 argmax-collect class): the
      // digest of the d·w counter table rides back as a literal — a
      // constant-key join would plan a nested-loop the sweep forbids
      val digest = cm.agg(
        md5(concat_ws(",", sort_array(collect_list(
          concat(col("r").cast("string"), lit(":"), col("b").cast("string"),
            lit(":"), col("cnt").cast("string")))))).as("cm_digest"))
        .collect().head.getString(0)
      val top = counts
        .orderBy(col("c").desc, col("t").asc).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("c").desc, col("t").asc)).cast("long"))
      val probes = top
        .select(col("rank"), col("t"), col("c"), explode(sequence(lit(0), lit(CmD - 1))).as("r"))
        .withColumn("b", expr(
          s"CAST(conv(substring(md5(concat(CAST(r AS STRING), ':', t)), 1, 15), 16, 10) AS BIGINT) % $CmW"))
        .join(cm, Seq("r", "b"))
        .groupBy(col("rank"), col("t"), col("c"))
        .agg(min(col("cnt")).as("c_est"))
      probes.withColumn("cm_digest", lit(digest))
        .select(col("rank"), col("t").as("token"), col("c").as("c_exact"),
          col("c_est"), col("cm_digest"))
    },

    // KMV distinct-vocabulary estimate per source: the k smallest
    // order-preserving 40-bit token hashes; fewer than k distinct
    // hashes ⇒ the sketch IS the exact count, else (k−1)·2⁴⁰ div h_(k).
    // The sketch digest pins the full bottom-k state.
    "q138_kmv_distinct" -> { (s, d) =>
      val sk = kmvSketch(s, d)
      val exact = tokens(s, d).groupBy(col("source"))
        .agg(countDistinct(col("t")).as("n_tokens_exact"))
      sk.groupBy(col("source")).agg(
        count(lit(1)).as("sk_size"),
        max(col("h")).as("kth"),
        expr("md5(concat_ws(',', transform(sort_array(collect_list(h)), x -> CAST(x AS STRING))))")
          .as("sketch_digest"))
        .withColumn("est",
          when(col("sk_size") < K, col("sk_size"))
            .otherwise(expr(s"(${K - 1} * CAST(1099511627776 AS BIGINT)) div kth")))
        .join(exact, "source")
        .select(col("source"), col("n_tokens_exact"), col("sk_size"),
          col("kth"), col("est"), col("sketch_digest"))
    },

    // Pairwise source-vocabulary Jaccard from MERGED KMV sketches: for
    // every source pair, the bottom-k of the union of their sketches;
    // ρ = |in-both among those k| / k estimates J(A,B) — the θ-sketch
    // set-operation trick, all integer. Pair fan-out rides an explode
    // over the bounded source list (|sources| collected driver-side,
    // the q17 pattern — never a cross join); everything after the
    // sketch build is k·|sources|²-sized, independent of the corpus.
    "q139_kmv_jaccard" -> { (s, d) =>
      val sk = kmvSketch(s, d).localCheckpoint() // reused: pair fan-out reads it once
      val srcs = sk.select(col("source")).distinct()
        .collect().map(_.getString(0)).sorted // bounded by |sources|
      val fan = sk.withColumn("other", explode(array(srcs.map(lit): _*)))
        .filter(col("other") =!= col("source"))
        .select(least(col("source"), col("other")).as("src_a"),
          greatest(col("source"), col("other")).as("src_b"),
          col("h"), col("source").as("origin"))
      val merged = fan.groupBy(col("src_a"), col("src_b"), col("h"))
        .agg(countDistinct(col("origin")).as("nsrc"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("src_a"), col("src_b")).orderBy(col("h").asc)))
        .filter(col("rn") <= K)
      merged.groupBy(col("src_a"), col("src_b")).agg(
        count(lit(1)).as("u"),
        sum(when(col("nsrc") === 2, 1L).otherwise(0L)).as("matches"))
        .withColumn("jacc_x1000", expr("matches * 1000 div u"))
        .select(col("src_a"), col("src_b"), col("u"), col("matches"), col("jacc_x1000"))
    },

    // STREAMING count-min — q144's frequency sketch maintained by
    // Structured Streaming's stateful aggregation, the q142 pattern
    // applied to the SUM-mergeable member of the family: the corpus
    // arrives as file-triggered micro-batches, the streaming
    // groupBy(r, b).sum state IS the d×w counter table (2048 longs of
    // state FOREVER, no watermark needed because sums never retract),
    // and the final counters are the IDENTICAL table q144 derives in
    // batch — the oracle recomputes it relationally. This is the
    // always-on token-frequency dashboard over a firehose: bounded
    // state, mergeable by addition across batches exactly as across
    // partitions. In-query pin: the feed really arrived split (≥ 2
    // non-empty micro-batches).
    "q156_stream_countmin" -> { (s, d) =>
      val srcTag = Advanced.layoutTag(d, "documents.parquet")
      val src = new java.io.File(sys.props("java.io.tmpdir"), s"graft_scm_$srcTag")
      if (!src.exists()) {
        Tables.documents(s, d).select(col("text"))
          .repartition(2).write.mode("overwrite").parquet(src.getPath)
      }
      val ck = java.nio.file.Files.createTempDirectory("graft-q156-ck")
      val sinkName = "graft_q156_sink"
      val schema = s.read.parquet(src.getPath).schema
      try {
        // state partitions sized to the stream's key cardinality (the
        // q52/q53 discipline, r18): state is the FIXED d×w = 2048-key
        // counter table, and every state partition is a per-batch
        // checkpoint-file commit regardless of fill (OPTIMIZATION_r18.md
        // §A: state commit fan-out dominated the 32-partition run).
        val (q, sink) = withConf(s, "spark.sql.shuffle.partitions" -> "8") { s =>
          val run = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(src.getPath)
            .select(explode(split(col("text"), " ")).as("t"))
            .filter(length(col("t")) > 0)
            .select(col("t"), explode(sequence(lit(0), lit(CmD - 1))).as("r"))
            .withColumn("b", expr(
              s"CAST(conv(substring(md5(concat(CAST(r AS STRING), ':', t)), 1, 15), 16, 10) AS BIGINT) % $CmW"))
            .groupBy(col("r"), col("b"))
            .agg(count(lit(1)).as("cnt"))
            .writeStream.outputMode("complete")
            .format("memory").queryName(sinkName)
            .option("checkpointLocation", ck.toString)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          run.awaitTermination()
          (run, s.table(sinkName))
        }
        require(q.recentProgress.count(_.numInputRows > 0) >= 2,
          "streaming count-min must see the feed as multiple micro-batches")
        sink.select(col("r").cast("long").as("r"), col("b"), col("cnt"))
          .localCheckpoint()
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
      }
    },

    // STREAMING moments — q152's sketch maintained by Structured
    // Streaming, completing the sketch-family symmetry (every
    // mergeable sketch ships batch AND streaming faces converging to
    // identical state: q137/q142 HLL by max, q144/q156 count-min by
    // addition, q152/q167 moments by addition). State = 7 values per
    // source (count, min, max, four power sums) FOREVER — sums and
    // extrema never retract, so no watermark. The final state feeds
    // the IDENTICAL derived-stat arithmetic q152 runs, so the oracle
    // is shared verbatim. In-query pin: ≥ 2 non-empty micro-batches.
    "q167_stream_moments" -> { (s, d) =>
      val srcTag = Advanced.layoutTag(d, "documents.parquet")
      val src = new java.io.File(sys.props("java.io.tmpdir"), s"graft_smom_$srcTag")
      if (!src.exists()) {
        Tables.documents(s, d).select(col("source"), col("n_chars"))
          .repartition(2).write.mode("overwrite").parquet(src.getPath)
      }
      val ck = java.nio.file.Files.createTempDirectory("graft-q167-ck")
      val sinkName = "graft_q167_sink"
      val schema = s.read.parquet(src.getPath).schema
      try {
        val x = col("n_chars")
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        // state partitions sized to the stream's key cardinality (the
        // q52/q53 discipline, r18): state is 7 values per SOURCE —
        // ~20 keys — while each of the 32 default partitions costs a
        // per-batch checkpoint-file commit even when empty.
        val (q, sink) = withConf(s, "spark.sql.shuffle.partitions" -> "8") { s =>
          val run = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(src.getPath)
            .groupBy(col("source"))
            .agg(count(lit(1)).as("n"), min(x).as("mn"), max(x).as("mx"),
              sum(dec(x)).as("s1"), sum(dec(x) * dec(x)).as("s2"),
              sum(dec(x) * dec(x) * dec(x)).as("s3"),
              sum(dec(x) * dec(x) * dec(x) * dec(x)).as("s4"))
            .writeStream.outputMode("complete")
            .format("memory").queryName(sinkName)
            .option("checkpointLocation", ck.toString)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          run.awaitTermination()
          (run, s.table(sinkName))
        }
        require(q.recentProgress.count(_.numInputRows > 0) >= 2,
          "streaming moments must see the feed as multiple micro-batches")
        sink
          .withColumn("nD", col("n").cast("decimal(38,0)"))
          .withColumn("m2", expr("nD * s2 - s1 * s1"))
          .withColumn("m3n", expr("nD * nD * s3 - 3 * nD * s1 * s2 + 2 * s1 * s1 * s1"))
          .withColumn("m4n", expr(
            "nD * nD * nD * s4 - 4 * nD * nD * s1 * s3 + 6 * nD * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1"))
          .select(col("source"), col("n"), col("mn"), col("mx"),
            col("s1").cast("long").as("s1"), col("s2").cast("long").as("s2"),
            col("s3").cast("string").as("s3_str"), col("s4").cast("string").as("s4_str"),
            expr("CAST((1000 * s1) div nD AS BIGINT)").as("mean_x1000"),
            expr("CAST((1000000 * m2) div (nD * nD) AS BIGINT)").as("var_x1e6"),
            expr("CAST(m3n div (nD * nD * nD) AS BIGINT)").as("m3c"),
            expr("CASE WHEN m2 = 0 THEN CAST(0 AS BIGINT) " +
              "ELSE CAST((1000 * nD * m4n) div (m2 * m2) AS BIGINT) END").as("kurt_x1000"))
          .localCheckpoint()
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
      }
    },

    // MOMENTS sketch (the Gan et al. VLDB'18 scan-statistics summary):
    // per source the raw power sums n, Σx, Σx², Σx³, Σx⁴ of the
    // document length — PURE SUMS, so the sketch is mergeable by
    // addition (partial aggregation IS the merge, same property as
    // q144's counters), and one corpus pass yields mean, variance,
    // central third moment, and kurtosis for every group. All derived
    // stats are EXACT integer arithmetic on the sums (no sqrt — the
    // skewness DIRECTION ships as the signed central third moment, and
    // kurtosis·1000 = n·m4/m2² needs only squares), so both engines
    // agree bit-for-bit; Σx³/Σx⁴ ship as decimal-strings because they
    // outgrow int64 at corpus scale. Each power is computed with x
    // CAST TO DECIMAL(38,0) FIRST — x⁴ in int64 would silently wrap
    // past x ≈ 55,109 while the oracle errored loudly; in the 38-digit
    // decimals both engines carry (Spark DECIMAL(38,0), DuckDB
    // HUGEINT) x⁴ is exact for the whole INT domain, and Σx⁴ holds
    // ~10¹⁵ rows at document-scale lengths (x ≤ ~10⁵ ⇒ x⁴ ≤ 10²⁰,
    // 10¹⁸ digits of headroom). Shapes: one partial-aggregable
    // aggregate; everything after runs on the |sources|-bounded table.
    "q152_moments" -> { (s, d) =>
      val x = col("n_chars")
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          min(x).as("mn"), max(x).as("mx"),
          sum(dec(x)).as("s1"), sum(dec(x) * dec(x)).as("s2"),
          sum(dec(x) * dec(x) * dec(x)).as("s3"),
          sum(dec(x) * dec(x) * dec(x) * dec(x)).as("s4"))
        .withColumn("nD", col("n").cast("decimal(38,0)"))
        .withColumn("m2", expr("nD * s2 - s1 * s1"))
        .withColumn("m3n", expr("nD * nD * s3 - 3 * nD * s1 * s2 + 2 * s1 * s1 * s1"))
        .withColumn("m4n", expr(
          "nD * nD * nD * s4 - 4 * nD * nD * s1 * s3 + 6 * nD * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1"))
        .select(col("source"), col("n"), col("mn"), col("mx"),
          col("s1").cast("long").as("s1"), col("s2").cast("long").as("s2"),
          col("s3").cast("string").as("s3_str"), col("s4").cast("string").as("s4_str"),
          expr("CAST((1000 * s1) div nD AS BIGINT)").as("mean_x1000"),
          expr("CAST((1000000 * m2) div (nD * nD) AS BIGINT)").as("var_x1e6"),
          expr("CAST(m3n div (nD * nD * nD) AS BIGINT)").as("m3c"),
          expr("CASE WHEN m2 = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE CAST((1000 * nD * m4n) div (m2 * m2) AS BIGINT) END").as("kurt_x1000"))
    },

    // TWO-PASS HEAVY HITTERS (Misra–Gries + exact verify) over the
    // corpus bigram stream — the frequent-items sketch whose FINAL
    // output is exact, which is what makes an approximate summary
    // hash-checkable (the q19 planted-truth philosophy, applied to
    // frequency instead of recall). Pass 1 runs Misra–Gries with
    // m = 700 counters per partition (bounded state, amortized O(1)
    // per item): any item with global frequency > n/k for k ≤ m+1 is
    // GUARANTEED to survive as a candidate in at least one partition
    // (count_global > n/k ⇒ count_p > n_p/k ≥ n_p/(m+1) somewhere —
    // the MG superset theorem, pinned with real pruning on a planted
    // Zipf fixture in SketchesSpec). Pass 2 computes EXACT counts of
    // the ≤ P·m candidates only, so the shuffle carries candidate
    // partials, never the full vocabulary, and the threshold filter
    // cnt·600 > n reproduces the true heavy-hitter set no matter how
    // the input was partitioned. The driver fixture's bigram
    // distribution is near-uniform, so the report is a handful of
    // rows at sf0.01 — the 100 TB shape is unchanged: candidate state
    // is O(m) per task and the verify pass is one partial-aggregable
    // semi-joined aggregate.
    "q176_heavy_hitters" -> { (s, d) =>
      import s.implicits._
      val m = 700
      // bigram build by POSITION explode (the q17/q105 lesson:
      // exploding a transform array re-runs the HOF once per OUTPUT
      // row in Generate — measured 4.5 s vs 0.6 s at sf0.1); then one
      // localCheckpoint reused by the MG pass, the n scalar, and the
      // verify join
      val bigrams = Tables.documents(s, d)
        .select(split(col("text"), " ").as("ts"))
        .filter(size(col("ts")) >= 2) // sequence(1, 0) would COUNT DOWN
        .select(col("ts"), explode(sequence(lit(1), size(col("ts")) - 1)).as("i"))
        .select(concat(element_at(col("ts"), col("i")), lit("_"),
          element_at(col("ts"), col("i") + 1)).as("b"))
        .localCheckpoint()
      val cand = bigrams.as[String].mapPartitions { it =>
        val counts = collection.mutable.HashMap[String, Long]()
        it.foreach { t =>
          counts.get(t) match {
            case Some(v) => counts(t) = v + 1
            case None if counts.size < m => counts(t) = 1L
            case None => // full: decrement-all, drop zeros (classic MG)
              val ks = counts.keys.toArray
              ks.foreach { k =>
                val v = counts(k) - 1
                if (v == 0) counts.remove(k) else counts(k) = v
              }
          }
        }
        counts.keysIterator
      }.toDF("b").distinct()
      val n = bigrams.count()
      bigrams.join(broadcast(cand), Seq("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 600L > lit(n))
        .withColumn("freq_x1e6", expr(s"(1000000 * cnt) div ${n}L"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("b").asc)).cast("long"))
        .select(col("rank"), col("b").as("bigram"), col("cnt"), col("freq_x1e6"))
    },

    // JOIN-SIZE ESTIMATION by the AMS tug-of-war sketch (Alon-Matias-
    // Szegedy) — the cardinality statistic a cost-based optimizer
    // consults before picking a join strategy: |A ⋈ B| = Σ_k
    // c_A(k)·c_B(k), estimated UNBIASED as the median-of-means of
    // k=128 sign-hash inner products s_j(A)·s_j(B), s_j = Σ_k
    // sign_j(k)·c(k). (The count-min inner product was measured first
    // and rejected: its Θ(ΣA·ΣB/w) additive overestimate was 30× the
    // true size at this key population — AMS variance scales with
    // F2(A)·F2(B)/k instead, giving a SCALE-INVARIANT ~9% relative
    // error on this join shape.) Deterministic and engine-portable:
    // sign_j(key) = ±1 from bit 0 of the md5-derived h60(j:key);
    // median-of-8-group-means in pure integer arithmetic; the hash
    // gate pins est, exact, AND the Chebyshev-style bound
    // (est−exact)²·k ≤ 16·F2(A)·F2(B) — squared, because a square
    // root is irrational (the q171 discipline). Shapes: each side
    // collapses to its key-count table by one partial-aggregable
    // groupBy; the j-explode multiplies only that DISTINCT-key table
    // (never the fact rows) and re-aggregates to k partials map-side;
    // exact + F2 ride the same key-count tables. At optimizer scale
    // the exact pass is the thing you DON'T run — it is here as the
    // oracle-visible ground truth, the q176 verify philosophy.
    "q182_join_size_sketch" -> { (s, d) =>
      val K = 128 // sketches, grouped 8 × 16 for median-of-means
      // ONE md5 per key: its 128 bits ARE the 128 signs (bit j of the
      // hex digest). The digest column is materialized INSIDE the
      // checkpointed key-count table — carried through the j-explode
      // it would be recomputed once per exploded row (the q176
      // HOF-in-Generate lesson, same trap via CollapseProject;
      // measured 18.5 s → 1.3 s at sf0.1).
      // The digest splits into three integer words BELOW the explode
      // (once per key); each exploded (key, j) row then derives its
      // sign with pure integer shifts on carried columns — no sign
      // ARRAY is ever built or materialized (a transform-built array
      // alias feeding the explode re-evaluates in Generate — the q176
      // lesson — and checkpointing 128-long arrays was measured
      // slower than this column-carry form: 5.5 s → 2.2 s at sf0.1).
      def keyCounts(df: DataFrame, key: String): DataFrame =
        df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
      def amsOf(kc: DataFrame, out: String): DataFrame = kc
        .withColumn("hx", md5(col("k").cast("string")))
        .withColumn("w1", expr("CAST(conv(substring(hx, 1, 13), 16, 10) AS BIGINT)"))
        .withColumn("w2", expr("CAST(conv(substring(hx, 14, 13), 16, 10) AS BIGINT)"))
        .withColumn("w3", expr("CAST(conv(substring(hx, 27, 6), 16, 10) AS BIGINT)"))
        .select(col("c"), col("w1"), col("w2"), col("w3"),
          explode(sequence(lit(0), lit(K - 1))).as("j"))
        .withColumn("sg", expr(
          "1 - 2 * (CASE WHEN j < 52 THEN shiftright(w1, j) " +
            "WHEN j < 104 THEN shiftright(w2, j - 52) " +
            "ELSE shiftright(w3, j - 104) END & 1)"))
        .groupBy(col("j")).agg(sum(col("sg") * col("c")).as(out))
      val ka = keyCounts(Tables.orders(s, d), "o_orderkey").localCheckpoint()
      val kb = keyCounts(Tables.lineitem(s, d), "l_orderkey").localCheckpoint()
      val prod = amsOf(ka, "sa").join(amsOf(kb, "sb"), Seq("j"))
        .withColumn("g", expr("j div 16"))
        .groupBy(col("g")).agg(sum(col("sa") * col("sb")).as("gsum"))
      // lower median of the 8 group sums (deterministic rank pick)
      val med = prod.withColumn("rn", row_number().over(
          Window.orderBy(col("gsum").asc, col("g").asc)))
        .filter(col("rn") === 4).collect()(0).getAs[Long]("gsum")
      val est = med / 16
      val ex = ka.withColumnRenamed("c", "ca")
        .join(kb.withColumnRenamed("c", "cb"), Seq("k"))
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("x"))
      val st = ka.agg(count(lit(1)).as("da"), sum(col("c")).as("na"),
        sum(col("c") * col("c")).as("f2a")).collect()(0)
      val sb = kb.agg(count(lit(1)).as("db"), sum(col("c")).as("nb"),
        sum(col("c") * col("c")).as("f2b")).collect()(0)
      val exact = ex.collect()(0).getLong(0)
      val errOk = BigInt(est - exact).pow(2) * K <=
        BigInt(16) * st.getLong(2) * sb.getLong(2)
      s.range(1).select(
        lit(st.getLong(1)).as("n_a"), lit(sb.getLong(1)).as("n_b"),
        lit(st.getLong(0)).as("distinct_a"), lit(sb.getLong(0)).as("distinct_b"),
        lit(st.getLong(2)).as("f2_a"), lit(sb.getLong(2)).as("f2_b"),
        lit(est).as("est_join_size"), lit(exact).as("exact_join_size"),
        lit(if (exact == 0) 0L else 1000000L * (est - exact) / exact).as("err_x1e6"),
        lit(errOk).as("within_bound"))
    },

    // HLL SET ALGEBRA — pairwise user-audience overlap between event
    // types from q137's mergeable registers alone: union = register-
    // wise MAX (the property that makes HLL mergeable), intersection
    // by inclusion–exclusion est(A) + est(B) − est(A∪B). This is the
    // sketch-algebra read path every audience-overlap dashboard runs —
    // |types|² pair estimates from |types| fixed-size sketches,
    // touching the corpus ONCE. The exact pairwise intersection rides
    // along as ground truth (it is the pass sketch algebra exists to
    // avoid). All integer, both engines bit-identical (q137's
    // estimator verbatim); inclusion–exclusion can legitimately go
    // negative on near-disjoint sets, so the signed value ships as-is.
    "q183_hll_intersect" -> { (s, d) =>
      val hllAgg = org.apache.spark.sql.GraftSqlGlue.column(
        graft.functions.HllRegisters(
          org.apache.spark.sql.GraftSqlGlue.expression(col("h"))).toAggregateExpression())
      def estOf(regs: String): String =
        s"($AlphaX1000 * ${M.toLong * M} * shiftleft(CAST(1 AS BIGINT), $RankCap)) div " +
          s"(1000 * aggregate($regs, CAST(0 AS BIGINT), (acc, x) -> acc + shiftleft(CAST(1 AS BIGINT), $RankCap - x)))"
      val perType = Tables.events(s, d)
        .select(col("event_type"), col("user_id"),
          h60("CAST(user_id AS STRING)").as("h"))
        .groupBy(col("event_type"))
        .agg(hllAgg.as("regs"), countDistinct(col("user_id")).as("n_exact"))
        .localCheckpoint() // |types| rows, read by both pair legs
      val du = Tables.events(s, d)
        .select(col("event_type"), col("user_id")).distinct()
        .localCheckpoint() // reused by both exact-intersection legs
      val exact = du.as("a").join(du.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("inter_exact"))
      perType.as("a").join(perType.as("b"),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
          col("a.n_exact").as("n_a"), col("b.n_exact").as("n_b"),
          col("a.regs").as("ra"), col("b.regs").as("rb"))
        .withColumn("ru", expr("zip_with(ra, rb, (x, y) -> greatest(x, y))"))
        .withColumn("est_a", expr(estOf("ra")))
        .withColumn("est_b", expr(estOf("rb")))
        .withColumn("est_union", expr(estOf("ru")))
        .withColumn("est_inter", col("est_a") + col("est_b") - col("est_union"))
        .join(exact, Seq("type_a", "type_b"), "left")
        .withColumn("inter_exact", coalesce(col("inter_exact"), lit(0L)))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("inter_exact"), col("est_a"), col("est_b"), col("est_union"),
          col("est_inter"))
    }
  )

  /** shared oracle CTEs: the 40-bit token-hash rows and the bottom-k
    * sketch per source (row_number in DuckDB mirrors the group limit). */
  private def kmvCtes: String =
    s"""tok AS (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
        hsh AS (SELECT DISTINCT source,
                 (('0x' || substr(md5(t), 1, 15))::BIGINT // 1048576) AS h
               FROM tok WHERE len(t) > 0),
        sk AS (SELECT source, h FROM (
                 SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) rn
                 FROM hsh) WHERE rn <= $K)"""

  val oracle: Map[String, String] = Map(

    "q137_hll_sketch" ->
      s"""WITH h AS (SELECT event_type,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
           FROM events),
          rk AS (SELECT event_type, h % $M AS idx,
                   least(56 - length(bin(h // $M)), $RankCap) AS rank
                 FROM h),
          regs AS (SELECT event_type, idx, max(rank) AS m
                   FROM rk GROUP BY 1, 2),
          sums AS (SELECT event_type, count(*)::BIGINT AS nreg,
                     sum(1::BIGINT << ($RankCap - m))::BIGINT AS s_present,
                     md5(array_to_string(list_sort(list(idx::VARCHAR || ':' || m::VARCHAR)), ',')) AS reg_digest
                   FROM regs GROUP BY 1),
          ex AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact
                 FROM events GROUP BY 1)
          SELECT s.event_type, ex.n_exact,
                 (($AlphaX1000 * ${M.toLong * M} * (1::BIGINT << $RankCap)) //
                  (1000 * (s_present + ($M - nreg) * (1::BIGINT << $RankCap))))::BIGINT AS est,
                 nreg, reg_digest
          FROM sums s JOIN ex USING (event_type)""",

    // the streaming face converges to the identical register table, so
    // its oracle is q137's minus the exact-count column
    "q142_stream_hll" ->
      s"""WITH h AS (SELECT event_type,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
           FROM events),
          rk AS (SELECT event_type, h % $M AS idx,
                   least(56 - length(bin(h // $M)), $RankCap) AS rank
                 FROM h),
          regs AS (SELECT event_type, idx, max(rank) AS m
                   FROM rk GROUP BY 1, 2),
          sums AS (SELECT event_type, count(*)::BIGINT AS nreg,
                     sum(1::BIGINT << ($RankCap - m))::BIGINT AS s_present,
                     md5(array_to_string(list_sort(list(idx::VARCHAR || ':' || m::VARCHAR)), ',')) AS reg_digest
                   FROM regs GROUP BY 1)
          SELECT event_type,
                 (($AlphaX1000 * ${M.toLong * M} * (1::BIGINT << $RankCap)) //
                  (1000 * (s_present + ($M - nreg) * (1::BIGINT << $RankCap))))::BIGINT AS est,
                 nreg, reg_digest
          FROM sums""",

    "q144_countmin" ->
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
          cnt AS (SELECT t, count(*)::BIGINT AS c FROM tok WHERE len(t) > 0 GROUP BY 1),
          hashed AS (SELECT t, c, r,
                       ('0x' || substr(md5(r::VARCHAR || ':' || t), 1, 15))::BIGINT % $CmW AS b
                     FROM cnt, (SELECT unnest(range(0, $CmD)) AS r)),
          cm AS (SELECT r, b, sum(c)::BIGINT AS cnt FROM hashed GROUP BY 1, 2),
          dig AS (SELECT md5(array_to_string(list_sort(
                    list(r::VARCHAR || ':' || b::VARCHAR || ':' || cnt::VARCHAR)), ',')) AS cm_digest
                  FROM cm),
          top AS (SELECT t, c, row_number() OVER (ORDER BY c DESC, t) AS rank
                  FROM cnt ORDER BY c DESC, t LIMIT 20),
          probes AS (SELECT p.rank, p.t, p.c, min(cm.cnt) AS c_est
                     FROM (SELECT top.*, r,
                             ('0x' || substr(md5(r::VARCHAR || ':' || t), 1, 15))::BIGINT % $CmW AS b
                           FROM top, (SELECT unnest(range(0, $CmD)) AS r)) p
                     JOIN cm ON cm.r = p.r AND cm.b = p.b
                     GROUP BY 1, 2, 3)
          SELECT rank::BIGINT AS rank, t AS token, c AS c_exact, c_est, dig.cm_digest
          FROM probes, dig""",

    "q138_kmv_distinct" ->
      s"""WITH $kmvCtes,
          agg AS (SELECT source, count(*)::BIGINT AS sk_size, max(h) AS kth,
                    md5(array_to_string(list_transform(list_sort(list(h)), x -> x::VARCHAR), ',')) AS sketch_digest
                  FROM sk GROUP BY 1),
          ex AS (SELECT source, count(DISTINCT t)::BIGINT AS n_tokens_exact
                 FROM tok WHERE len(t) > 0 GROUP BY 1)
          SELECT source, n_tokens_exact, sk_size, kth,
                 (CASE WHEN sk_size < $K THEN sk_size
                       ELSE (${K - 1} * 1099511627776::BIGINT) // kth END)::BIGINT AS est,
                 sketch_digest
          FROM agg JOIN ex USING (source)""",

    "q139_kmv_jaccard" ->
      s"""WITH $kmvCtes,
          srcs AS (SELECT DISTINCT source FROM sk),
          fan AS (SELECT least(sk.source, o.source) AS src_a,
                    greatest(sk.source, o.source) AS src_b,
                    sk.h, sk.source AS origin
                  FROM sk JOIN srcs o ON o.source <> sk.source),
          merged AS (SELECT src_a, src_b, h, count(DISTINCT origin) AS nsrc
                     FROM fan GROUP BY 1, 2, 3),
          topk AS (SELECT src_a, src_b, nsrc FROM (
                     SELECT src_a, src_b, nsrc,
                       row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) rn
                     FROM merged) WHERE rn <= $K)
          SELECT src_a, src_b, count(*)::BIGINT AS u,
                 sum(CASE WHEN nsrc = 2 THEN 1 ELSE 0 END)::BIGINT AS matches,
                 (sum(CASE WHEN nsrc = 2 THEN 1 ELSE 0 END) * 1000 // count(*))::BIGINT AS jacc_x1000
          FROM topk GROUP BY 1, 2""",

    // the streaming face converges to the identical counter table, so
    // its oracle is q144's cm CTE emitted directly
    "q156_stream_countmin" ->
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
          cnt AS (SELECT t, count(*)::BIGINT AS c FROM tok WHERE len(t) > 0 GROUP BY 1),
          hashed AS (SELECT t, c, r,
                       ('0x' || substr(md5(r::VARCHAR || ':' || t), 1, 15))::BIGINT % $CmW AS b
                     FROM cnt, (SELECT unnest(range(0, $CmD)) AS r)),
          cm AS (SELECT r, b, sum(c)::BIGINT AS cnt FROM hashed GROUP BY 1, 2)
         SELECT r::BIGINT AS r, b, cnt FROM cm""",

    // the streaming face converges to the identical power sums, so the
    // derived stats — and the oracle — are q152's verbatim
    "q167_stream_moments" -> momentsOracleSql,

    "q152_moments" -> momentsOracleSql,

    "q182_join_size_sketch" ->
      """WITH ka AS (SELECT o_orderkey AS k, count(*)::BIGINT AS c
            FROM orders GROUP BY 1),
          kb AS (SELECT l_orderkey AS k, count(*)::BIGINT AS c
            FROM lineitem GROUP BY 1),
          jj AS (SELECT unnest(generate_series(0, 127)) AS j),
          ha AS (SELECT k, c,
                   ('0x' || substr(md5(k::VARCHAR), 1, 13))::BIGINT AS w1,
                   ('0x' || substr(md5(k::VARCHAR), 14, 13))::BIGINT AS w2,
                   ('0x' || substr(md5(k::VARCHAR), 27, 6))::BIGINT AS w3
                 FROM ka),
          hb AS (SELECT k, c,
                   ('0x' || substr(md5(k::VARCHAR), 1, 13))::BIGINT AS w1,
                   ('0x' || substr(md5(k::VARCHAR), 14, 13))::BIGINT AS w2,
                   ('0x' || substr(md5(k::VARCHAR), 27, 6))::BIGINT AS w3
                 FROM kb),
          sa AS (SELECT jj.j,
                   sum((1 - 2 * ((CASE WHEN jj.j < 52 THEN w1 >> jj.j::INT
                     WHEN jj.j < 104 THEN w2 >> (jj.j - 52)::INT
                     ELSE w3 >> (jj.j - 104)::INT END) & 1)) * c)::BIGINT AS sa
                 FROM ha, jj GROUP BY 1),
          sbk AS (SELECT jj.j,
                   sum((1 - 2 * ((CASE WHEN jj.j < 52 THEN w1 >> jj.j::INT
                     WHEN jj.j < 104 THEN w2 >> (jj.j - 52)::INT
                     ELSE w3 >> (jj.j - 104)::INT END) & 1)) * c)::BIGINT AS sb
                 FROM hb, jj GROUP BY 1),
          gp AS (SELECT j // 16 AS g, sum(sa.sa * sbk.sb)::BIGINT AS gsum
                 FROM sa JOIN sbk USING (j) GROUP BY 1),
          med AS (SELECT gsum FROM (SELECT gsum,
                    row_number() OVER (ORDER BY gsum, g) AS rn FROM gp)
                  WHERE rn = 4),
          est AS (SELECT (gsum // 16)::BIGINT AS est FROM med),
          ex AS (SELECT coalesce(sum(ka.c * kb.c), 0)::BIGINT AS exact
                 FROM ka JOIN kb USING (k)),
          st AS (SELECT count(*)::BIGINT AS da, sum(c)::BIGINT AS na,
                   sum(c * c)::BIGINT AS f2a FROM ka),
          sv AS (SELECT count(*)::BIGINT AS db, sum(c)::BIGINT AS nb,
                   sum(c * c)::BIGINT AS f2b FROM kb)
         SELECT st.na AS n_a, sv.nb AS n_b, st.da AS distinct_a,
                sv.db AS distinct_b, st.f2a AS f2_a, sv.f2b AS f2_b,
                est.est AS est_join_size, ex.exact AS exact_join_size,
                (CASE WHEN ex.exact = 0 THEN 0
                      ELSE (1000000 * (est.est - ex.exact)) // ex.exact
                 END)::BIGINT AS err_x1e6,
                (est.est - ex.exact)::HUGEINT * (est.est - ex.exact) * 128
                  <= 16::HUGEINT * st.f2a * sv.f2b AS within_bound
         FROM st, sv, est, ex""",

    "q183_hll_intersect" ->
      s"""WITH h AS (SELECT event_type, user_id,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
           FROM events),
          rk AS (SELECT event_type, h % $M AS idx,
                   least(56 - length(bin(h // $M)), $RankCap) AS rank
                 FROM h),
          regs AS (SELECT event_type, idx, max(rank) AS m
                   FROM rk GROUP BY 1, 2),
          sums AS (SELECT event_type, count(*)::BIGINT AS nreg,
                     sum(1::BIGINT << ($RankCap - m))::BIGINT AS sp
                   FROM regs GROUP BY 1),
          et AS (SELECT s.event_type,
                   (($AlphaX1000 * ${M.toLong * M} * (1::BIGINT << $RankCap)) //
                    (1000 * (sp + ($M - nreg) * (1::BIGINT << $RankCap))))::BIGINT AS est,
                   ex.n_exact
                 FROM sums s JOIN (SELECT event_type,
                     count(DISTINCT user_id)::BIGINT AS n_exact
                   FROM events GROUP BY 1) ex USING (event_type)),
          pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                      a.n_exact AS n_a, b.n_exact AS n_b,
                      a.est AS est_a, b.est AS est_b
                    FROM et a JOIN et b ON a.event_type < b.event_type),
          upair AS (SELECT ta, tb, idx, max(m) AS m FROM (
                      SELECT p.type_a AS ta, p.type_b AS tb, r.idx, r.m
                      FROM pairs p JOIN regs r ON r.event_type = p.type_a
                      UNION ALL
                      SELECT p.type_a, p.type_b, r.idx, r.m
                      FROM pairs p JOIN regs r ON r.event_type = p.type_b)
                    GROUP BY 1, 2, 3),
          usum AS (SELECT ta, tb, count(*)::BIGINT AS nreg,
                     sum(1::BIGINT << ($RankCap - m))::BIGINT AS sp
                   FROM upair GROUP BY 1, 2),
          uest AS (SELECT ta, tb,
                     (($AlphaX1000 * ${M.toLong * M} * (1::BIGINT << $RankCap)) //
                      (1000 * (sp + ($M - nreg) * (1::BIGINT << $RankCap))))::BIGINT
                       AS est_union
                   FROM usum),
          duu AS (SELECT DISTINCT event_type, user_id FROM events),
          exi AS (SELECT a.event_type AS ta, b.event_type AS tb,
                    count(*)::BIGINT AS inter_exact
                  FROM duu a JOIN duu b ON a.user_id = b.user_id
                    AND a.event_type < b.event_type
                  GROUP BY 1, 2)
         SELECT p.type_a, p.type_b, p.n_a, p.n_b,
                coalesce(exi.inter_exact, 0)::BIGINT AS inter_exact,
                p.est_a, p.est_b, u.est_union,
                (p.est_a + p.est_b - u.est_union)::BIGINT AS est_inter
         FROM pairs p
         JOIN uest u ON u.ta = p.type_a AND u.tb = p.type_b
         LEFT JOIN exi ON exi.ta = p.type_a AND exi.tb = p.type_b""",

    "q176_heavy_hitters" ->
      """WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
          bg AS (SELECT ts[i] || '_' || ts[i + 1] AS b
                 FROM t, unnest(range(1, len(ts))) AS u(i)),
          n AS (SELECT count(*)::BIGINT AS n FROM bg),
          c AS (SELECT b, count(*)::BIGINT AS cnt FROM bg GROUP BY 1)
         SELECT row_number() OVER (ORDER BY cnt DESC, b)::BIGINT AS rank,
                b AS bigram, cnt,
                ((1000000 * cnt) // n.n)::BIGINT AS freq_x1e6
         FROM c, n WHERE cnt * 600 > n.n"""
  )

  /** shared by q152 (batch) and q167 (streaming): same sums, same
    * derived-stat arithmetic, one oracle. (A def: the oracle map above
    * initializes first, a forward val reference would be null.) */
  private def momentsOracleSql: String =
      """WITH m AS (SELECT source, count(*)::BIGINT AS n,
             min(n_chars) AS mn, max(n_chars) AS mx,
             sum(n_chars::HUGEINT) AS s1,
             sum((n_chars * n_chars)::HUGEINT) AS s2,
             sum((n_chars * n_chars * n_chars)::HUGEINT) AS s3,
             sum((n_chars * n_chars * n_chars * n_chars)::HUGEINT) AS s4
           FROM documents GROUP BY 1),
          dd AS (SELECT *, n::HUGEINT AS nh,
                   n::HUGEINT * s2 - s1 * s1 AS m2,
                   n::HUGEINT * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS m3n,
                   n::HUGEINT * n * n * s4 - 4 * n::HUGEINT * n * s1 * s3
                     + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 AS m4n
                 FROM m)
         SELECT source, n, mn, mx, s1::BIGINT AS s1, s2::BIGINT AS s2,
                s3::VARCHAR AS s3_str, s4::VARCHAR AS s4_str,
                ((1000 * s1) // nh)::BIGINT AS mean_x1000,
                ((1000000 * m2) // (nh * nh))::BIGINT AS var_x1e6,
                (m3n // (nh * nh * nh))::BIGINT AS m3c,
                (CASE WHEN m2 = 0 THEN 0
                      ELSE (1000 * nh * m4n) // (m2 * m2) END)::BIGINT AS kurt_x1000
         FROM dd"""
}

package graft.queries

import graft.streaming.{BandDedup, BandRow}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Document-quality and representation operators: Gopher-style
  * intra-document repetition metrics, int8 embedding quantization, LM
  * familiarity scoring against the corpus bigram model, incremental
  * streaming near-dup over LSH band buckets, and per-source
  * token-distribution drift.
  *
  * Same oracle discipline as Curation: integer arithmetic for every
  * score and threshold, md5 digests for array-valued outputs, explicit
  * round-then-cast so no engine's implicit float→int conversion is in
  * play.
  */
object Quality {

  /** q121 flag thresholds, chosen against the corpus distribution
    * (top-bigram fraction p90 ≈ 7 %, duplicated-trigram fraction
    * p95 ≈ 1 %) so BOTH flag reasons fire without flagging everything —
    * the Gopher repetition screen's shape with data-calibrated cuts. */
  private val TopBigramPctMax = 8L
  private val DupTrigramPctMax = 2L

  /** Per-row MinHash signature expressions (no aggregation): the q15
    * signature arithmetic (`operators/MinHashDedup.scala`) restated as
    * array HOFs over one document's shingle list, because a streaming
    * pipeline cannot put a groupBy in front of a stateful operator
    * (two stateful exchanges in one query are unsupported) — and at
    * 100 TB a per-row map is the right shape anyway: signatures are a
    * narrow projection, not a shuffle. Same md5-derived base hash, same
    * literal (a_j, b_j) constants, so batch q15, this stream, and the
    * DuckDB oracle all compute identical signatures. */
  private def xsExpr: String = {
    import graft.operators.MinHashDedup._
    "transform(sequence(1, greatest(size(ts) - 2, 1)), i -> " +
      "CAST(conv(substring(md5(concat_ws(' ', element_at(ts, i), " +
      "element_at(ts, i + 1), element_at(ts, i + 2))), 1, 8), 16, 10) AS BIGINT) " +
      s"% $BaseMod)"
  }
  private def sigExpr: String = {
    import graft.operators.MinHashDedup._
    HashParams.map { case (a, b) =>
      s"array_min(transform(xs, x -> ($a * x + $b) % $HashMod))"
    }.mkString("array(", ", ", ")")
  }
  private def bandKeysExpr: String = {
    import graft.operators.MinHashDedup._
    (0 until Bands).map { bi =>
      "concat_ws('_', " + (0 until RowsPerBand)
        .map(r => s"element_at(sig, ${bi * RowsPerBand + r + 1})").mkString(", ") + ")"
    }.mkString("array(", ", ", ")")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Gopher-style intra-document repetition metrics: the fraction of a
    // document's bigram occurrences claimed by its single most common
    // bigram, and the fraction of trigram occurrences that are repeats
    // of an earlier trigram in the SAME document — the two screens that
    // catch boilerplate loops and keyboard-mash repetition which
    // corpus-LEVEL dedup (q14/q15) never sees. Shape: one position
    // explode emitting both gram sizes, a partial-aggregable count on
    // (doc, size, gram), then a partial-aggregable conditional rollup
    // to the doc — cardinality never exceeds the gram-occurrence count,
    // keys are content-distributed, and no state is corpus-global, so
    // the operator is embarrassingly scalable. Sub-3-token documents
    // re-enter via left join as vacuously clean (0 metrics, unflagged).
    "q121_repetition" -> { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .filter(size(col("ts")) >= 3)
      val grams = t
        .select(col("doc_id"), col("ts"),
          explode(sequence(lit(1), size(col("ts")) - 1)).as("i"))
        .select(col("doc_id"),
          concat_ws(" ", element_at(col("ts"), col("i")),
            element_at(col("ts"), col("i") + 1)).as("g2"),
          // CaseWhen evaluates lazily, so the out-of-range element_at
          // in the guarded branch is never touched under ANSI
          when(col("i") <= size(col("ts")) - 2,
            concat_ws(" ", element_at(col("ts"), col("i")),
              element_at(col("ts"), col("i") + 1),
              element_at(col("ts"), col("i") + 2))).as("g3"))
        .select(col("doc_id"), explode(array(
          struct(lit(2).as("gsize"), col("g2").as("gram")),
          struct(lit(3).as("gsize"), col("g3").as("gram")))).as("e"))
        .select(col("doc_id"), col("e.gsize").as("gsize"), col("e.gram").as("gram"))
        .filter(col("gram").isNotNull)
      val m = grams
        .groupBy(col("doc_id"), col("gsize"), col("gram")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("gsize") === 2, col("c"))).as("n_bigrams"),
          max(when(col("gsize") === 2, col("c"))).as("max_bg"),
          sum(when(col("gsize") === 3, col("c"))).as("n_tg"),
          count(when(col("gsize") === 3, lit(1))).as("nd_tg"))
      Tables.documents(s, d).select(col("doc_id")).join(m, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(expr("(max_bg * 100) div n_bigrams"), lit(0L)).as("top_bigram_x100"),
          coalesce(expr("((n_tg - nd_tg) * 100) div n_tg"), lit(0L)).as("dup_trigram_x100"))
        .withColumn("flagged",
          col("top_bigram_x100") >= TopBigramPctMax ||
            col("dup_trigram_x100") >= DupTrigramPctMax)
    },

    // Int8 scalar quantization of the embedding column — the vector
    // compression step every 100 TB ANN index applies before storage
    // (4× smaller, SIMD-friendly). Per vector: absmax scale, code_i =
    // round(x_i·127/absmax), plus an integer-scaled reconstruction
    // error. Pure narrow map — zero exchanges, one pass, no state; the
    // plan must show NO shuffle (PlanHygieneSpec pins it). Codes ship
    // as an md5 digest of the canonical comma-joined string (the
    // driver's gate cannot hash array cells — the q82 lesson), and both
    // round sites round explicitly BEFORE the integer cast so neither
    // engine's implicit float→int conversion is in play. All-zero
    // vectors quantize to all-zero codes with zero error (the absmax
    // guard; division by zero would otherwise poison the row).
    "q122_quantize_embed" -> { (s, d) =>
      Tables.embeddings(s, d)
        .withColumn("amax",
          expr("array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE))))"))
        .withColumn("codes", expr(
          "CASE WHEN amax = 0D THEN transform(embedding, v -> 0L) " +
            "ELSE transform(embedding, v -> " +
            "CAST(round(CAST(v AS DOUBLE) * 127 / amax) AS BIGINT)) END"))
        .select(col("vec_id"),
          expr("CAST(round(amax * 1000000) AS BIGINT)").as("amax_x1e6"),
          md5(concat_ws(",", expr("transform(codes, c -> CAST(c AS STRING))")))
            .as("codes_digest"),
          expr("CASE WHEN amax = 0D THEN 0L ELSE " +
            "aggregate(zip_with(embedding, codes, (v, c) -> " +
            "CAST(round(abs(CAST(v AS DOUBLE) - CAST(c AS DOUBLE) * amax / 127) " +
            "* 1000000000) AS BIGINT)), 0L, (acc, x) -> acc + x) END").as("err_x1e9"))
    },

    // LM familiarity: score every document against the corpus-level
    // bigram model (the q105 table's probabilities) — the
    // integer-arithmetic analog of the perplexity filter
    // (CCNet/RefinedWeb): documents whose bigrams are all corpus-common
    // score high, documents full of one-off transitions score low, and
    // n_hapax counts bigrams this document alone contributes. Shape:
    // bigram fact rows join the vocab²-bounded probability table on the
    // bigram key (partial-aggregable counts on both legs; common-bigram
    // key skew is exactly the shape AQE's skew-join split handles, and
    // on real corpora the probability table prunes to the top-|V|²
    // entries and broadcasts), then one partial-aggregable rollup per
    // doc. Sub-2-token documents are vacuously unfamiliar (all zeros).
    "q123_lm_familiarity" -> { (s, d) =>
      val bg = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(col("doc_id"), col("ts"),
          explode(sequence(lit(1), size(col("ts")) - 1)).as("i"))
        .select(col("doc_id"),
          element_at(col("ts"), col("i")).as("tok"),
          element_at(col("ts"), col("i") + 1).as("next_tok"))
      val c2 = bg.groupBy(col("tok"), col("next_tok")).agg(count(lit(1)).as("c_ab"))
      val c1 = c2.groupBy(col("tok")).agg(sum(col("c_ab")).as("c_first"))
      val p = c2.join(c1, "tok")
        .select(col("tok"), col("next_tok"), col("c_ab"),
          expr("(c_ab * 1000000) div c_first").as("p_x1e6"))
      val per = bg.join(p, Seq("tok", "next_tok"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("p_x1e6")).as("sum_p"),
          sum(when(col("c_ab") === 1, 1L).otherwise(0L)).as("n_hapax"))
      Tables.documents(s, d).select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(expr("sum_p div n_bigrams"), lit(0L)).as("fam_x1e6"),
          coalesce(col("n_hapax"), lit(0L)).as("n_hapax"))
    },

    // Incremental streaming near-dup (see streaming/BandDedup.scala):
    // documents staged as four ascending doc_id-range files (explicit
    // ascending mtimes; maxFilesPerTrigger=2 ⇒ two genuine
    // micro-batches of two files — per-micro-batch machinery is the
    // dominant wall-clock term at bench scale (4 batches ≈ 4.8 s vs
    // 2 ≈ 2.5 s, identical verdicts), and two batches already prove
    // the incremental contract) flow through per-row MinHash
    // signatures into
    // flatMapGroupsWithState keyed by (band_idx, band_key); each bucket
    // remembers its all-time minimum doc_id, and a document is a
    // near-duplicate iff some bucket knows a smaller id. Ascending
    // id-range staging is what makes stream ≡ batch: a verdict depends
    // only on smaller ids, all already arrived (a random batch split
    // would let a small id arrive AFTER a large near-duplicate and
    // flip its verdict). foreachBatch writes per-batch keeper partials
    // (idempotent overwrite by batchId — the q94 exactly-once shape);
    // the read-back compaction is a trivial min since each doc lives in
    // exactly one batch. The oracle recomputes bucket minima over the
    // full corpus in SQL from the same signature constants.
    "q124_stream_band_dedup" -> { (s, d) =>
      import s.implicits._
      val srcTag = Advanced.layoutTag(d, "documents.parquet")
      val src = new java.io.File(sys.props("java.io.tmpdir"), s"graft_banddedup4_$srcTag")
      if (!src.exists()) {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val n = math.max(docs.count(), 1L)
        src.mkdirs()
        (0 until 4).foreach { k =>
          val stage = java.nio.file.Files.createTempDirectory("graft-q124-stage")
          docs.filter(expr(s"least(doc_id * 4 div ${n}L, 3)") === k)
            .coalesce(1).write.mode("overwrite").parquet(stage.toString)
          val part = stage.toFile.listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
          val dst = new java.io.File(src, s"b$k.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath)
          // well-separated ascending mtimes: the file source processes
          // oldest-first, which is the id-order the semantics need
          dst.setLastModified(1700000000000L + k * 60000L)
          org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile)
        }
      }
      val schema = s.read.parquet(src.getPath).schema
      val target = java.nio.file.Files.createTempDirectory("graft-q124-target")
      val ck = java.nio.file.Files.createTempDirectory("graft-q124-ck")
      withConf(s, "spark.sql.shuffle.partitions" -> "4") { s =>
        val raw = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "2").option("latestFirst", "false")
          .parquet(src.getPath)
        val bands = raw
          // each staged file is ONE input split, so without this the
          // whole micro-batch's signature map runs on a single core (the
          // Tables.fanOut lesson); shuffling the skinny (doc_id, text)
          // rows first parallelizes the md5/affine-hash work 8-way
          .repartition(8)
          .select(col("doc_id"), split(col("text"), " ").as("ts"))
          .withColumn("xs", expr(xsExpr))
          .withColumn("sig", expr(sigExpr))
          .select(col("doc_id"), posexplode(expr(bandKeysExpr)).as(Seq("band_idx", "band_key")))
          .as[BandRow]
        BandDedup.bucketMins(bands).toDF().writeStream
          .foreachBatch { (b: Dataset[Row], id: Long) =>
            b.groupBy(col("doc_id")).agg(min(col("bmin")).as("keeper"))
              .write.mode("overwrite").parquet(s"$target/batch=$id")
            ()
          }
          .option("checkpointLocation", ck.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      val nB = target.toFile.listFiles().count(_.getName.startsWith("batch="))
      require(nB >= 2, s"expected multi-batch incremental dedup, got $nB batch dirs")
      val out = s.read.parquet(target.toString)
        .groupBy(col("doc_id")).agg(min(col("keeper")).as("keeper"))
        .select(col("doc_id"), col("keeper"),
          (col("keeper") < col("doc_id")).as("is_dup"))
        .localCheckpoint()
      org.apache.commons.io.FileUtils.deleteQuietly(target.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
      out
    },

    // Per-source token-distribution drift: an exact integer chi-square
    // of each source's token counts against the corpus distribution —
    // the domain-shift detector a mixture pipeline watches to catch a
    // feed going off-distribution. The float-free identity: with
    // d = o·N − tot·ns, the cell (o−e)²/e equals d²/(N·tot·ns), so one
    // DECIMAL(38,0) intermediate (d² reaches ~1e30; exact on both
    // engines — Spark decimal ≡ DuckDB HUGEINT) and an integral divide
    // give a per-cell term with NO float anywhere. Shape: (source,
    // token) partial counts, a vocab-scale join for tot, a broadcast
    // for the |sources| ns row-set, one bounded driver scalar for N
    // (the q107/q116 class), then a |sources|-row rollup.
    "q125_source_drift" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      val ost = toks.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("o"))
      val tot = ost.groupBy(col("tok")).agg(sum(col("o")).as("tot"))
      val ns = ost.groupBy(col("source")).agg(sum(col("o")).as("ns"))
      val n = toks.count()
      ost.join(tot, "tok").join(broadcast(ns), "source")
        .select(col("source"), col("ns"),
          expr(s"CAST(o * ${n}L - tot * ns AS DECIMAL(38,0))").as("dd"), col("tot"))
        .select(col("source"), col("ns"),
          expr(s"(dd * dd * 1000) div (CAST(${n}L AS DECIMAL(38,0)) * " +
            "CAST(tot AS DECIMAL(38,0)) * CAST(ns AS DECIMAL(38,0)))").as("term"))
        .groupBy(col("source"))
        .agg(max(col("ns")).as("n_tokens"), sum(col("term")).as("chi2_x1000"))
    }
  )

  val oracle: Map[String, String] = Map(
    "q121_repetition" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents
            WHERE len(string_split(text, ' ')) >= 3),
          g AS (SELECT doc_id, 2 AS gsize, ts[i] || ' ' || ts[i+1] AS gram
                FROM t, LATERAL (SELECT unnest(range(1, len(ts))) AS i)
                UNION ALL
                SELECT doc_id, 3 AS gsize, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS gram
                FROM t, LATERAL (SELECT unnest(range(1, len(ts) - 1)) AS i)),
          c AS (SELECT doc_id, gsize, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
          m AS (SELECT doc_id,
                  sum(CASE WHEN gsize = 2 THEN c END) AS n_bigrams,
                  max(CASE WHEN gsize = 2 THEN c END) AS max_bg,
                  sum(CASE WHEN gsize = 3 THEN c END) AS n_tg,
                  count(CASE WHEN gsize = 3 THEN 1 END) AS nd_tg
                FROM c GROUP BY 1)
          SELECT d.doc_id,
            coalesce(m.n_bigrams, 0)::BIGINT AS n_bigrams,
            coalesce((m.max_bg * 100) // m.n_bigrams, 0)::BIGINT AS top_bigram_x100,
            coalesce(((m.n_tg - m.nd_tg) * 100) // m.n_tg, 0)::BIGINT AS dup_trigram_x100,
            (coalesce((m.max_bg * 100) // m.n_bigrams, 0) >= $TopBigramPctMax
             OR coalesce(((m.n_tg - m.nd_tg) * 100) // m.n_tg, 0) >= $DupTrigramPctMax)
              AS flagged
          FROM documents d LEFT JOIN m USING (doc_id)""",

    "q122_quantize_embed" ->
      """WITH e AS (SELECT vec_id, embedding,
             list_max(list_transform(embedding, v -> abs(v::DOUBLE))) AS amax
           FROM embeddings),
         c AS (SELECT vec_id, embedding, amax,
             CASE WHEN amax = 0 THEN list_transform(embedding, v -> 0::BIGINT)
                  ELSE list_transform(embedding,
                    v -> round(v::DOUBLE * 127 / amax)::BIGINT) END AS codes
           FROM e)
         SELECT vec_id, round(amax * 1000000)::BIGINT AS amax_x1e6,
           md5(array_to_string(codes, ',')) AS codes_digest,
           (CASE WHEN amax = 0 THEN 0 ELSE
             list_sum(list_transform(range(1, len(embedding) + 1),
               i -> round(abs(embedding[i]::DOUBLE - codes[i]::DOUBLE * amax / 127)
                    * 1000000000)::BIGINT)) END)::BIGINT AS err_x1e9
         FROM c""",

    "q123_lm_familiarity" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         bg AS (SELECT doc_id, ts[i] AS tok, ts[i+1] AS next_tok
                FROM t, LATERAL (SELECT unnest(range(1, len(ts))) AS i)
                WHERE len(ts) >= 2),
         c2 AS (SELECT tok, next_tok, count(*) AS c_ab FROM bg GROUP BY 1, 2),
         c1 AS (SELECT tok, sum(c_ab)::BIGINT AS c_first FROM c2 GROUP BY 1),
         p AS (SELECT tok, next_tok, c_ab, (c_ab * 1000000) // c_first AS p_x1e6
               FROM c2 JOIN c1 USING (tok)),
         per AS (SELECT doc_id, count(*) AS n_bigrams, sum(p_x1e6) AS sum_p,
                   sum(CASE WHEN c_ab = 1 THEN 1 ELSE 0 END) AS n_hapax
                 FROM bg JOIN p USING (tok, next_tok) GROUP BY 1)
         SELECT d.doc_id,
           coalesce(per.n_bigrams, 0)::BIGINT AS n_bigrams,
           coalesce(per.sum_p // per.n_bigrams, 0)::BIGINT AS fam_x1e6,
           coalesce(per.n_hapax, 0)::BIGINT AS n_hapax
         FROM documents d LEFT JOIN per USING (doc_id)""",

    // the full-corpus bucket minimum — batch boundaries must be
    // invisible (keeper depends only on smaller ids; see the query)
    "q124_stream_band_dedup" ->
      s"""WITH ${graft.queries.TrainingData.minhashPairsCte},
          bmin AS (SELECT band_idx, band_key, min(doc_id) AS m
                   FROM mh_bands GROUP BY 1, 2)
          SELECT b.doc_id, min(m.m) AS keeper, (min(m.m) < b.doc_id) AS is_dup
          FROM mh_bands b JOIN bmin m USING (band_idx, band_key)
          GROUP BY b.doc_id""",

    "q125_source_drift" ->
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
         ost AS (SELECT source, tok, count(*) AS o FROM tk GROUP BY 1, 2),
         tot AS (SELECT tok, sum(o)::BIGINT AS tot FROM ost GROUP BY 1),
         ns AS (SELECT source, sum(o)::BIGINT AS ns FROM ost GROUP BY 1),
         n AS (SELECT sum(o)::BIGINT AS n FROM ost),
         t AS (SELECT ost.source, ns.ns, tot.tot, n.n,
                 (o * n.n - tot.tot * ns.ns)::HUGEINT AS dd
               FROM ost JOIN tot USING (tok) JOIN ns USING (source), n)
         SELECT source, max(ns)::BIGINT AS n_tokens,
           sum((dd * dd * 1000) // (n::HUGEINT * tot::HUGEINT * ns::HUGEINT))::BIGINT
             AS chi2_x1000
         FROM t GROUP BY source"""
  )
}

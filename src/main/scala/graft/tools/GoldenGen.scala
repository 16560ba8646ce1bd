package graft.tools

/** Regenerates the in-repo golden parquets that anchor oracle rows whose
  * values DuckDB cannot recompute (no crc32 / rolling-hash functions).
  *
  * Usage: `runMain graft.tools.GoldenGen <outDir> <sfDir>...` — e.g.
  * `runMain graft.tools.GoldenGen testdata/q38_golden /root/testdata/sf0.001 /root/testdata/sf0.01 /root/testdata/sf0.1`.
  * Each scale's rows carry `corpus_chars` (sum of n_chars at
  * generation time): the sf dirs are INDEPENDENT corpora whose doc_ids
  * overlap with different content — and sf0.001/sf0.01 even share the
  * row COUNT (500) — so the oracle selects its slice by matching
  * corpus_chars against `sum(n_chars)` of the documents view — one
  * golden serves every scale factor.
  *
  * The golden freezes ONLY the columns DuckDB can't derive (q38:
  * media_id, checksum, feature_fp); everything else in the oracle is
  * computed analytically by DuckDB from the source parquet, and the
  * frozen semantics are pinned independently by MediaSpec's
  * hand-computed expectations — so a regression in the byte path can't
  * hide behind a stale golden without also failing the unit suite.
  */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GoldenGen <outDir> <sfDir>...")
    val outDir = args.head
    val sfDirs = args.tail.toSeq
    val spark = graft.LocalSpark.session("graft-golden-gen")
    import org.apache.spark.sql.functions.lit
    val tagged = sfDirs.map { sfDir =>
      val corpusChars = spark.read.parquet(s"$sfDir/documents.parquet")
        .agg(org.apache.spark.sql.functions.sum("n_chars")).head().getLong(0)
      (corpusChars,
        graft.queries.MediaVerify.features(spark, sfDir)
          .select("media_id", "checksum", "feature_fp")
          .withColumn("corpus_chars", lit(corpusChars)))
    }
    // corpus_chars is the oracle's ONLY slice discriminator — a
    // collision would make the q38 join keep two slices and fan out
    require(tagged.map(_._1).distinct.size == tagged.size,
      s"corpus_chars fingerprints collide across sf dirs: ${tagged.map(_._1)}")
    tagged.map(_._2).reduce(_ unionAll _)
      .coalesce(1)
      .write.mode("overwrite").parquet(outDir)
    spark.stop()
  }
}

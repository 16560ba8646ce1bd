package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance operators: small-file compaction (OPTIMIZE) and
  * schema-evolution reads. Both stage a deterministic on-disk layout
  * derived from the source parquet (cached per (path, length, mtime)
  * like the q49/q50 layouts), then prove the INVARIANT that matters:
  * maintenance changes I/O shape, never answers — the oracle reads the
  * original table.
  */
object Maintenance {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Small-file compaction — the OPTIMIZE step every streaming-fed
    // table needs (a 100 TB table fed by 1-minute micro-batches grows
    // millions of KB-sized files; scan cost becomes file-open cost).
    // Stage: documents fragmented into 64 shards. Compact: coalesce to
    // ceil(bytes / 128 MB) output files — coalesce, not repartition,
    // so compaction is a ZERO-SHUFFLE narrow rewrite (repartition is
    // the variant when shard sizes skew). The query reads the
    // compacted table; the oracle reads the ORIGINAL — content
    // equality is the whole point.
    "q83_compaction" -> { (s, d) =>
      val base = Advanced.stageDir(d, "compact", "documents.parquet")
      val small = new java.io.File(base, "small")
      val compacted = new java.io.File(base, "compacted")
      if (!compacted.exists()) {
        Tables.documents(s, d).repartition(64)
          .write.mode("overwrite").parquet(small.getPath)
        val bytes = small.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
        val target = math.max(1, math.ceil(bytes / (128.0 * 1024 * 1024)).toInt)
        s.read.parquet(small.getPath).coalesce(target)
          .write.mode("overwrite").parquet(compacted.getPath)
      }
      s.read.parquet(compacted.getPath)
        .select(col("doc_id"), col("lang"), col("n_chars"), md5(col("text")).as("h"))
    },

    // Schema-evolution read — the table whose writer added a column
    // mid-history. Even doc_ids were written BEFORE the lang column
    // existed (v1 schema), odd ones after (v2). mergeSchema unions the
    // parquet footers; v1 rows surface lang as NULL. The oracle
    // recomputes the same nullability rule over the original table —
    // schema drift must never corrupt values, only widen the schema.
    // At scale, footer merging is O(files): the production variant
    // pins the table schema in a catalog and validates writers against
    // it; mergeSchema is the discovery path.
    "q84_schema_evolution" -> { (s, d) =>
      val base = Advanced.stageDir(d, "schema", "documents.parquet")
      val v1 = new java.io.File(base, "v1")
      val v2 = new java.io.File(base, "v2")
      if (!v2.exists()) {
        val docs = Tables.documents(s, d)
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .write.mode("overwrite").parquet(v1.getPath)
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
          .write.mode("overwrite").parquet(v2.getPath)
      }
      s.read.option("mergeSchema", "true").parquet(v1.getPath, v2.getPath)
        .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
    },

    // DATA-QUALITY EXPECTATIONS (the Deequ-style constraint suite): a
    // declarative rule set evaluated against orders in the FEWEST
    // passes the rules permit, emitting one auditable row per rule —
    // metric·10⁶, threshold, passed. Rule classes and their plan
    // shapes: completeness / range / set-membership are conditional
    // counts fused into ONE partial-aggregable pass over the scan
    // (adding a rule adds a column, not a job); uniqueness is one
    // hash-keyed distinct count; referential integrity is one LEFT
    // ANTI join on the uniform FK (q72's shape). Nothing row-scale
    // survives past the first exchange. Six rules; the o_totalprice
    // ceiling rule FAILS on this data by design — a quality report
    // that cannot fail proves nothing.
    "q168_expectations" -> { (s, d) =>
      import s.implicits._
      val o = Tables.orders(s, d).localCheckpoint() // one staged read, three rule passes
      val n = o.count()
      val fused = o.agg(
        sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L)).as("complete_cust"),
        sum(when(col("o_totalprice") > 0, 1L).otherwise(0L)).as("pos_price"),
        sum(when(col("o_totalprice") <= 400000, 1L).otherwise(0L)).as("price_cap"),
        sum(when(col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("status_dom"))
        .collect()(0)
      val distinctKeys = o.select(col("o_orderkey")).distinct().count()
      val fkOrphans = o.join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"), "left_anti").count()
      def ratioX1e6(num: Long): Long = 1000000L * num / n
      val rows = Seq(
        ("complete_o_custkey", ratioX1e6(fused.getLong(0)), 1000000L),
        ("unique_o_orderkey", ratioX1e6(distinctKeys), 1000000L),
        ("range_totalprice_gt0", ratioX1e6(fused.getLong(1)), 1000000L),
        ("range_totalprice_le_400k", ratioX1e6(fused.getLong(2)), 1000000L),
        ("domain_orderstatus", ratioX1e6(fused.getLong(3)), 1000000L),
        ("fk_custkey_in_customer", ratioX1e6(n - fkOrphans), 1000000L))
      rows.toDF("rule", "metric_x1e6", "threshold_x1e6")
        .withColumn("passed", col("metric_x1e6") >= col("threshold_x1e6"))
        .withColumn("n_rows", lit(n))
    }
  )

  val oracle: Map[String, String] = Map(

    // content equality with the ORIGINAL table
    "q83_compaction" ->
      """SELECT doc_id, lang, n_chars, md5(text) AS h FROM documents""",

    "q84_schema_evolution" ->
      """SELECT doc_id, source, n_chars,
           CASE WHEN doc_id % 2 = 0 THEN NULL ELSE lang END AS lang
         FROM documents""",

    "q168_expectations" ->
      """WITH n AS (SELECT count(*)::BIGINT AS n FROM orders),
          f AS (SELECT
                  sum((o_custkey IS NOT NULL)::INT)::BIGINT AS complete_cust,
                  sum((o_totalprice > 0)::INT)::BIGINT AS pos_price,
                  sum((o_totalprice <= 400000)::INT)::BIGINT AS price_cap,
                  sum((o_orderstatus IN ('O', 'F', 'P'))::INT)::BIGINT AS status_dom,
                  count(DISTINCT o_orderkey)::BIGINT AS uniq
                FROM orders),
          fk AS (SELECT count(*)::BIGINT AS orphans FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)),
          rules AS (
            SELECT 'complete_o_custkey' AS rule, complete_cust AS m FROM f
            UNION ALL SELECT 'unique_o_orderkey', uniq FROM f
            UNION ALL SELECT 'range_totalprice_gt0', pos_price FROM f
            UNION ALL SELECT 'range_totalprice_le_400k', price_cap FROM f
            UNION ALL SELECT 'domain_orderstatus', status_dom FROM f
            UNION ALL SELECT 'fk_custkey_in_customer',
              (SELECT n FROM n) - orphans FROM fk)
         SELECT rule, (1000000 * m // n.n)::BIGINT AS metric_x1e6,
                1000000::BIGINT AS threshold_x1e6,
                1000000 * m // n.n >= 1000000 AS passed,
                n.n AS n_rows
         FROM rules, n"""
  )
}

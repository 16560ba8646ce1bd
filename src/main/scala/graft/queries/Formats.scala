package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-format sources and sinks beyond parquet: CSV, NDJSON and ORC
  * round-trips. The contract mirrors q83's compaction invariant —
  * changing the storage format must change I/O shape, never answers —
  * so each query writes the table out in the target format, reads it
  * back, and the oracle reads the ORIGINAL parquet. A value lost or
  * mangled by the writer/parser (quoting, timestamp format, double
  * precision) breaks the hash-match.
  *
  * Scale notes baked into each query:
  *  - reads always supply an EXPLICIT schema: `inferSchema` on CSV/JSON
  *    is a second full pass over 100 TB before the first real job.
  *  - timestamps are written with an explicit `timestampFormat` at
  *    millisecond precision (the source data's own precision) instead
  *    of the session-default pattern, so the round-trip is locale- and
  *    version-independent.
  *  - doubles survive because both writers emit shortest-round-trip
  *    decimal strings (Java `Double.toString` / Jackson) which parse
  *    back to the identical IEEE value.
  *  - the staged layout is keyed by source (path, length, mtime) —
  *    same session-cache contract as Advanced.layoutTag — so repeated
  *    bench passes reuse it and a regenerated source invalidates it.
  */
object Formats {

  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSS"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // CSV sink + source. orders exercises the delimited-text hazards:
    // quoted strings, a double column, and a millisecond timestamp.
    // Written with header+explicit timestampFormat; read back with the
    // explicit schema (never inferSchema) and the same format.
    "q85_csv_roundtrip" -> { (s, d) =>
      val dir = new java.io.File(Advanced.stageDir(d, "csv", "orders.parquet"), "orders_csv")
      val src = Tables.orders(s, d)
      if (!dir.exists()) {
        src.write.mode("overwrite")
          .option("header", "true").option("timestampFormat", TsFmt)
          .csv(dir.getPath)
      }
      s.read.schema(src.schema)
        .option("header", "true").option("timestampFormat", TsFmt)
        .csv(dir.getPath)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("odate_ms"),
          col("o_orderpriority"))
    },

    // NDJSON sink + source — the interchange format of every corpus
    // pipeline. lineitem brings four doubles (price/discount/tax/qty)
    // and a timestamp through Jackson and back.
    "q86_json_roundtrip" -> { (s, d) =>
      val dir = new java.io.File(Advanced.stageDir(d, "json", "lineitem.parquet"), "lineitem_json")
      val src = Tables.lineitem(s, d)
      if (!dir.exists()) {
        src.write.mode("overwrite").option("timestampFormat", TsFmt).json(dir.getPath)
      }
      s.read.schema(src.schema).option("timestampFormat", TsFmt).json(dir.getPath)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"), col("l_returnflag"),
          col("l_linestatus"),
          unix_millis(col("l_shipdate").cast("timestamp")).as("ship_ms"))
    },

    // ORC sink + source — the other columnar format a warehouse user
    // expects. Binary-typed storage, so the round-trip is lossless by
    // construction; the query proves the engine's ORC path end to end
    // (events: nanos-normalized timestamp, double, strings).
    "q87_orc_roundtrip" -> { (s, d) =>
      val dir = new java.io.File(Advanced.stageDir(d, "orc", "events.parquet"), "events_orc")
      if (!dir.exists()) {
        Tables.events(s, d).write.mode("overwrite").orc(dir.getPath)
      }
      s.read.orc(dir.getPath)
        .select(col("event_id"), unix_millis(col("ts").cast("timestamp")).as("ts_ms"),
          col("user_id"), col("event_type"), col("value"), col("props"))
    },

    // Compression-codec round-trip: the same parquet data rewritten
    // with zstd — the codec a 100 TB store actually wants (~25-35%
    // smaller than snappy at comparable scan speed, which is petabytes
    // of S3 at fleet scale). Codec choice must be invisible to every
    // reader: the oracle reads the snappy original. The query also
    // fail-fasts if the rewrite silently fell back to another codec.
    "q98_zstd_roundtrip" -> { (s, d) =>
      val dir = new java.io.File(Advanced.stageDir(d, "zstd", "lineitem.parquet"), "lineitem_zstd")
      if (!dir.exists()) {
        Tables.lineitem(s, d).write.mode("overwrite")
          .option("compression", "zstd").parquet(dir.getPath)
      }
      val wrote = dir.listFiles().exists(_.getName.endsWith(".zstd.parquet"))
      require(wrote, s"expected zstd-compressed parquet files in $dir")
      s.read.parquet(dir.getPath)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"),
          unix_millis(col("l_shipdate").cast("timestamp")).as("ship_ms"))
    }
  )

  val oracle: Map[String, String] = Map(

    "q85_csv_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           epoch_ms(o_orderdate)::BIGINT AS odate_ms, o_orderpriority
         FROM orders""",

    "q86_json_roundtrip" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
           epoch_ms(l_shipdate)::BIGINT AS ship_ms
         FROM lineitem""",

    "q87_orc_roundtrip" ->
      """SELECT event_id, epoch_ms(ts)::BIGINT AS ts_ms, user_id, event_type,
           value, props
         FROM events""",

    "q98_zstd_roundtrip" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           l_returnflag, epoch_ms(l_shipdate)::BIGINT AS ship_ms
         FROM lineitem"""
  )
}

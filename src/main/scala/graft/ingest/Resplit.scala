package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** RESPLIT — change a table's region layout, the HBase
  * merge_region/split-and-move migration expressed as one bulk
  * rewrite: read the live table through the connector (shard-parallel,
  * every store-file kind), land it in a FRESH root under the new
  * [[FileStore.Splits]] layout via [[BulkLoad]]'s physics (one range
  * shuffle keyed on the NEW regions → sorted segments → atomic
  * flip-in), carrying the table DDL across.
  *
  * Why a new root, not in place: a split layout is write-once
  * ([[FileStore.ensureSplits]] refuses a different recorded layout) —
  * every component from writer placement to shard pruning to the
  * co-located join assumes a table's layout never changes under it.
  * Resharding is therefore a MIGRATION with a cutover, exactly as an
  * HBase operator snapshots + clones a table to change its region
  * plan for good, and the operator returns the new root's report so
  * the caller owns the cutover.
  *
  * 100 TB shape: one connector scan over the OLD regions into one
  * exchange onto the NEW ones, each in the tasks of [[RegionJobs.plan]]
  * — no driver-side data, no per-cell puts; cost is the
  * same single-shuffle bill as the original bulk load. The typical
  * driver of this operator is [[graft.operators.GlobalRank]]'s
  * equi-depth planner (q204): measure the live key distribution, then
  * resplit hot ranges finer.
  */
object Resplit {

  /** Rewrite `table` from `srcRoot` into `dstRoot` under `newSplits`.
    * The destination must not already hold the table with a different
    * layout (ensureSplits enforces it). Returns the bulk report. */
  def to(spark: SparkSession, srcRoot: String, table: String, dstRoot: String,
         newSplits: FileStore.Splits): BulkLoad.Report = {
    val src = FileStore(srcRoot)
    val dst = FileStore(dstRoot)
    dst.ensureTable(table,
      src.readSpecJson(table).map(PushTableSink.TableSpec.fromJson)
        .getOrElse(PushTableSink.TableSpec()))
    dst.ensureSplits(table, newSplits)
    val cells: DataFrame = spark.read.format("graft-cells")
      .option("root", srcRoot).option("table", table).load()
      .select(lit(table).as("tableName"), col("rowkey"), col("version"), col("body"))
    BulkLoad.writeCells(cells, dstRoot)
  }
}

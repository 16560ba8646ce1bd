package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import java.nio.file.Paths

/** AGGREGATE PUSHDOWN for the cell store — the HBase
  * coprocessor-aggregation analog (AggregationClient: count/min/max
  * computed region-side, only scalars travel): `SELECT count(*) /
  * min(version) / max(version) FROM tbl` (and `tbl$latest`) is
  * answered from FILENAMES and SEGMENT INDEXES alone — the connector's
  * existing metadata-only read path — with ZERO body bytes read and
  * one scalar row returned per region.
  *
  * What pushes down ([[CellsScanBuilder.pushAggregation]]):
  * ungrouped COUNT(*) (and COUNT over the non-null schema columns),
  * MIN(version), MAX(version), under fully-pushed version-window
  * filters; the `$latest` face composes (count = live keys, min/max
  * over the winners). Everything else declines cleanly to the normal
  * row scan + Spark aggregate: grouped aggregates, rowkey predicates
  * (they stay residual, which blocks pushdown upstream — the masked
  * walk re-checks key BYTES that metadata does not hold), and the
  * change-feed face (its rows are typed edits, not cells).
  *
  * Pushdown is PARTIAL (`supportCompletePushDown = false`): each
  * region emits one pre-aggregated row — masks applied at filename
  * level, identities deduped across store-file kinds, exactly the rows
  * the metadata-only scan would have produced — and Spark's final
  * aggregate folds the ≤regions rows. The scan plans like every other
  * face ([[CellsShards.plan]]): the regions ride in the byte-balanced
  * groups of [[graft.ingest.RegionJobs.plan]], each reading its regions
  * in turn and emitting one row per region. A region with no matching cells emits (0, null, null),
  * so empty tables still count 0.
  *
  * 100 TB: a full-table count costs one directory listing + index
  * walk per region in parallel, no data-region I/O at all — at the
  * scale where bodies dominate bytes, this is the difference between
  * touching metadata (~48 B/cell, post-compaction one trailer/segment
  * via the stats tiers) and streaming the store.
  */
private[sources] sealed trait CellsAggSpec
private[sources] object CellsAggSpec {
  case object CountAll extends CellsAggSpec
  case object MinV extends CellsAggSpec
  case object MaxV extends CellsAggSpec

  def schemaOf(specs: Seq[CellsAggSpec]): StructType = StructType(specs.zipWithIndex.map {
    case (CountAll, i) => StructField(s"agg_${i}_count", LongType, nullable = false)
    case (MinV, i) => StructField(s"agg_${i}_min_version", LongType, nullable = true)
    case (MaxV, i) => StructField(s"agg_${i}_max_version", LongType, nullable = true)
  })
}

case class CellsAggScan(root: String, table: String, lo: Long, hi: Long,
                        keys: CellsKeyPred, specs: Seq[CellsAggSpec],
                        latest: Boolean = false,
                        retention: Option[graft.ingest.Retention.Policy] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = CellsAggSpec.schemaOf(specs)
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-cells-agg table=$table version=[$lo,$hi]" +
      (if (latest) " latest" else "") + s" aggs=[${specs.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    // a pushed COUNT must stay exact across a concurrent split: the
    // planner's fingerprint-before-listing order covers it
    val dir = Paths.get(root, table.replace(':', '~'))
    CellsShards.plan(dir, graft.ingest.FileStore.splitsAt(dir), keys, lo, hi)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    CellsAggReaderFactory(specs, latest, retention)
}

case class CellsAggReaderFactory(specs: Seq[CellsAggSpec], latest: Boolean,
                                 retention: Option[graft.ingest.Retention.Policy] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    CellsShards.read(partition)(shardReader)

  private def shardReader(part: CellsShard): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = !emitted
      override def get(): InternalRow = {
        emitted = true
        // the metadata-only read path: version-only projection never
        // touches file contents; masks, identity dedup, the $latest
        // winner fold, AND read-time retention (r15 — the per-key rank
        // fold is itself filenames + segment indexes, so a COUNT over
        // a capped/TTL'd table still costs zero body bytes) all apply
        // exactly as on the row scan — including region-split satellite
        // and daughter discovery (a COUNT must stay exact mid-split)
        val rows = CellsReaders.reader(part.dir, part.lo, part.hi, part.keys, Array("version"),
          maskDeletes = true, emitOps = false, latestOnly = latest,
          retention = retention, endName = part.endName, plannedFp = part.plannedFp,
          firstShard = part.firstShard)
        var n = 0L
        var mn = Long.MaxValue
        var mx = Long.MinValue
        try {
          while (rows.next()) {
            val v = rows.get().getLong(0)
            n += 1
            if (v < mn) mn = v
            if (v > mx) mx = v
          }
        } finally rows.close()
        new GenericInternalRow(specs.map {
          case CellsAggSpec.CountAll => n: Any
          case CellsAggSpec.MinV => if (n == 0) null else (mn: Any)
          case CellsAggSpec.MaxV => if (n == 0) null else (mx: Any)
        }.toArray)
      }
      override def close(): Unit = ()
    }
}

package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{BinaryType, LongType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL ROW-LEVEL OPERATIONS (MERGE INTO / UPDATE / predicate DELETE)
  * over the cell store — DSv2 `SupportsRowLevelOperations` with a
  * DELTA (merge-on-read) write, the store's natural shape: nothing is
  * ever rewritten in place at the storage layer; every mutation is
  * puts + markers, applied by the read faces and purged by majors —
  * exactly how an HBase client mutates (batch Put/Delete,
  * HbaseClient.kt:25-52), surfaced as the SQL statements a user
  * actually writes.
  *
  * The operation identifies a row by `(rowkey, version)` — a CELL, the
  * row of the SQL table — and maps the delta actions onto store
  * physics:
  *
  *  - **INSERT** → a put (idempotent atomic-rename, the W1/W2 path);
  *  - **DELETE** → an EXACT-version tombstone (`.dv`,
  *    Delete.addColumn(ts)) — masking only the matched cell, so a
  *    multi-version key never loses unmatched siblings (a ≤-bound
  *    marker here would silently over-delete, which is why bound
  *    markers stay exclusive to the explicit `DELETE … version <= T`
  *    shape);
  *  - **UPDATE** → delivered as ONE call carrying old id + new row
  *    (`representUpdateAsDeleteAndInsert = false`): an update that
  *    keeps the cell's coordinate is a plain overwrite put (HBase Put
  *    at an existing ts replaces the value — no marker, nothing to
  *    self-mask), while one that MOVES the coordinate (SET version =
  *    …) exact-deletes the old cell and puts the new. A split
  *    delete+insert representation would land a marker and a put at
  *    the SAME coordinate for in-place updates and annihilate the row.
  *
  * Simple `DELETE` shapes never reach this path: `SupportsDelete`'s
  * metadata delete (marker stamping, no scan) wins in the optimizer;
  * this operation is the fallback that makes EVERY predicate shape
  * work — `DELETE FROM t WHERE rowkey >= …` scans and exact-deletes
  * the matched cells.
  *
  * Delivery caveat (shared with every mutation that stamps an OLD
  * version): markers land at the matched cell's version, which is
  * usually at or below a change-feed consumer's committed offset — the
  * batch faces, `$latest`, and a feed replayed from scratch always see
  * them; an already-caught-up incremental consumer is outside the
  * version-offset feed's delivery guarantee (the documented
  * back-dated-write contract in [[CellsMicroBatch]]).
  *
  * 100 TB: the target scan is the connector's own region-parallel
  * scan. LEFT ALONE it is a table scan — BENCH_SCALING.md ("MERGE
  * target-scan probe", r13) measured that the MERGE rewrite's outer join never narrows the target
  * to the source's keys (the preserved side of a right-outer join
  * cannot be the broadcast build side, so the q225 runtime-filter
  * machinery has nothing to ride). [[MergeSourcePruning]] (installed
  * automatically when a [[CellsCatalog]] initializes; `install` for
  * path-based sessions) closes that gap with a bounded SOURCE-KEY
  * PRE-PASS: the
  * source's distinct join rowkeys, collected once and capped, narrow
  * this scan through the same InputPartition key-set predicate — a
  * selective MERGE opens ~|source keys| files (the HBase batched-GET
  * idiom, reference HbaseClient.kt:43-52), and above the cap it
  * declines loudly back to the honest region-parallel pass. Writes
  * batch under the W1 byte cap per task; no coordinator (puts and
  * markers are idempotent renames, so retried tasks converge —
  * commit/abort are no-ops by design).
  */
final case class CellsRowLevelOperation(root: String, table: String,
                                        cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"graft-cells $cmd table=$table"

  // the target read is the ordinary connector scan: region-parallel,
  // filename-pruned, and — with [[MergeSourcePruning]] installed —
  // narrowed to the source's key set (see the class doc); options
  // thread through so a scan option can never be silently dropped
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    CellsScanBuilder(root, table, options.getBoolean("stableOffsets", false),
      retentionNowOpt = Option(options.get("retentionNowMillis")).flatMap(_.toLongOption))

  // a ROW of the SQL table is a CELL: (rowkey, version) is its identity
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("rowkey"), Expressions.column("version"))

  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder = {
    // row schema by NAME AND TYPE, driver-side (the same guard the
    // append writer applies): inserts/updates carry full rows; a pure
    // DELETE carries NO row columns (only rowId projections travel)
    val cols = info.schema().fields.map(f => (f.name, f.dataType)).toSeq
    val rowShape = Seq(("rowkey", BinaryType), ("version", LongType), ("body", BinaryType))
    require(cols.isEmpty || cols == rowShape,
      s"graft row-level writes carry (rowkey BINARY, version BIGINT, body BINARY); got ${info.schema().simpleString}")
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite = CellsDeltaBatchWrite(root, table)
        // the same native SQL-UI counters the append face reports:
        // MERGE/UPDATE/DELETE statements show their landed edit volume
        override def supportedCustomMetrics()
            : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
          Array(new CellsWrittenMetric, new BytesWrittenMetric,
            new MarkersWrittenMetric)
      }
    }
  }
}

case class CellsDeltaBatchWrite(root: String, table: String) extends DeltaBatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    // driver-side, once: the DDL write (W3) — executors only mutate
    graft.ingest.FileStore(root).ensureTable(table, graft.ingest.PushTableSink.TableSpec())
    CellsDeltaWriterFactory(root, table)
  }
  // puts and markers are idempotent atomic renames keyed on their
  // coordinates: at-least-once task execution converges to
  // exactly-once store STATE — commit/abort no-ops by design, the same
  // posture as the append face
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

case class CellsDeltaWriterFactory(root: String, table: String) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val store = graft.ingest.FileStore(root)
      private val puts = scala.collection.mutable.ArrayBuffer.empty[graft.ingest.PushTableSink.CellPut]
      private val markers = scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], Long)]
      private var bufBytes = 0L
      private val MaxBatchBytes = 100000000L // W1: the reference's put-batch cap

      private def buffered(bytes: Long): Unit = {
        bufBytes += bytes
        if (bufBytes >= MaxBatchBytes) flush()
      }

      override def insert(row: InternalRow): Unit = {
        require(!row.isNullAt(0) && !row.isNullAt(1) && !row.isNullAt(2),
          "graft-cells: null rowkey/version/body cell — cells are non-nullable")
        val cell = graft.ingest.PushTableSink.CellPut(
          table, row.getBinary(0), row.getLong(1), row.getBinary(2))
        puts += cell
        cellsWritten += 1
        bytesWritten += cell.rowkey.length + cell.body.length
        buffered(cell.rowkey.length + cell.body.length)
      }

      override def delete(metadata: InternalRow, id: InternalRow): Unit = {
        require(!id.isNullAt(0) && !id.isNullAt(1), "graft-cells: null row id")
        val key = id.getBinary(0)
        markers += ((key, id.getLong(1)))
        markersWritten += 1
        buffered(key.length + 8L)
      }

      override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
        require(!id.isNullAt(0) && !id.isNullAt(1), "graft-cells: null row id")
        val oldKey = id.getBinary(0)
        val oldVersion = id.getLong(1)
        val moved = row.isNullAt(0) || row.isNullAt(1) ||
          oldVersion != row.getLong(1) || !java.util.Arrays.equals(oldKey, row.getBinary(0))
        // an update that MOVES the cell's coordinate exact-deletes the
        // old one; an in-place update is a pure overwrite put (a marker
        // at the same coordinate would mask the new value)
        if (moved) {
          markers += ((oldKey, oldVersion))
          markersWritten += 1
          buffered(oldKey.length + 8L)
        }
        insert(row)
      }

      private def flush(): Unit = {
        // markers first is NOT required (coordinates never collide: an
        // in-place update buffers no marker), but keeps a torn task's
        // partial state conservative — a masked cell re-puts on retry
        if (markers.nonEmpty) { store.deleteCellsExact(table, markers.toSeq); markers.clear() }
        if (puts.nonEmpty) { store.putBatch(table, puts.toSeq); puts.clear() }
        bufBytes = 0L
      }

      override def commit(): WriterCommitMessage = { flush(); CellsCommit }
      override def abort(): Unit = () // idempotent re-apply on retry
      override def close(): Unit = ()
      private var cellsWritten = 0L
      private var markersWritten = 0L
      private var bytesWritten = 0L
      override def currentMetricsValues()
          : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        Array(GraftTaskMetric("cellsWritten", cellsWritten),
          GraftTaskMetric("bytesWritten", bytesWritten),
          GraftTaskMetric("markersWritten", markersWritten))
    }
}

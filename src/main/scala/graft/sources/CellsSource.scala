package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.ingest.{CellSegment, ShardFiles}
import java.nio.file.{Files, Path, Paths}

/** DataSource V2 read connector over the [[graft.ingest.FileStore]]
  * cell layout — the versioned KV sink becomes a first-class Spark
  * table: `spark.read.format("graft-cells").option("root", dir)
  * .option("table", name)`.
  *
  * Layout read (must match FileStore): `<root>/<table>/<shard>/
  * <sha256hex>.<version>`, cell file = [4-byte BE keylen][rowkey]
  * [body]; `:` in table names mangles to `~`. `shard` is the hex of
  * the rowkey's FIRST BYTE — 256 contiguous key ranges, the HBase
  * region model (uniform because reference rowkeys open with a CRC32
  * byte).
  *
  * What the connector pushes DOWN (the reason it exists instead of a
  * driver-side scan helper):
  *  - **version predicates prune by FILENAME** — `=`, `<`, `<=`, `>`,
  *    `>=` on `version` resolve against the encoded version in the
  *    cell name, so out-of-range cells are never opened (at HBase
  *    scale this is the time-travel read path touching only the
  *    as-of slice). Fully handled — nothing residual for Spark to
  *    re-filter. Strict bounds saturate at the Long extremes (no
  *    v±1 wraparound admitting the whole table).
  *  - **rowkey `=` / `IN` route to the key's range shard AND its
  *    digest-named cell files** — a point probe opens 1 shard
  *    directory and within it only the probed key's cells — the
  *    get-by-key read path. Rowkey predicates stay residual, so Spark
  *    re-checks the bytes on survivors and correctness never rests on
  *    digest uniqueness.
  *  - **rowkey RANGE / PREFIX scans prune to contiguous shard
  *    subsets** — `>=`/`>`/`<=`/`<` on the binary rowkey (a prefix
  *    scan is `rowkey >= P AND rowkey < P+1`) resolve to the shard
  *    directories whose first-byte range intersects the bound — the
  *    HBase region-range scan idiom (the reference rowkey's 4-byte
  *    CRC32 prefix makes the leading byte the region unit). Bounds are
  *    re-checked exactly (unsigned lexicographic, Spark's BinaryType
  *    order) as each cell's key is parsed, before body I/O.
  *  - **column pruning cuts I/O, not just rows**: without `body` the
  *    reader stops after the length-prefixed key; with only `version`
  *    requested it never reads file CONTENT at all (the version is in
  *    the name) — a `count(version)` query is pure directory listing.
  *
  * Parallelism: every read face plans through [[CellsShards.plan]] —
  * the pruned shard directories packed into the byte-balanced groups of
  * [[graft.ingest.RegionJobs.plan]], one shard per partition only under
  * the key-grouped catalog report.
  *
  * DELETES (HBase Delete-marker model, both Delete types): a tombstone
  * file `<digest>.<version>.d` masks every cell of its rowkey with
  * version ≤ T (Delete.addColumns up-to-T), and `<digest>.<version>.dv`
  * masks ONLY the cell at exactly its version (Delete.addColumn(ts) —
  * the per-row delete behind SQL MERGE/UPDATE) — both dropped at
  * FILENAME level before any content I/O, until a major compaction
  * purges masked cells and markers together. Writes issue deletes
  * distributed via `option("tombstone", "true")` (+
  * `option("tombstoneExact", "true")` for the exact kind). The STREAMING face does not mask
  * (an edit feed's replayed batches must regenerate identical rows);
  * statistics apply the masks — they report LIVE cells, so a
  * heavily-deleted table sizes as what a scan actually emits.
  */
class CellsSource extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-cells"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CellsSource.schemaOf(options.getBoolean("changeFeed", false),
      options.getBoolean("provenance", false))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    // properties arrive with the caller's original key case — wrap
    // case-insensitively so option("changeFeed", ...) resolves
    val opts = new CaseInsensitiveStringMap(properties)
    CellsTable(opts.get("root"), opts.get("table"), opts.getBoolean("changeFeed", false),
      latest = opts.getBoolean("latest", false),
      provenance = opts.getBoolean("provenance", false))
  }
}

object CellsSource {
  val Schema: StructType = StructType(Seq(
    StructField("rowkey", BinaryType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("body", BinaryType, nullable = false)))

  /** `option("changeFeed","true")` — the WAL/replication face: every
    * edit is a typed row, PUTS with their body and DELETE MARKERS as
    * `op = 'delete'` rows (body null, version = the mask bound — drop
    * everything ≤ it) or `op = 'delete_version'` rows (exact-version
    * markers — drop exactly that version), so a downstream
    * materialized view can converge to the masked batch view after a
    * delete — the contract HBase replication ships Deletes through the
    * WAL to fulfill (HBase WALs carry both Delete types). No masking
    * is applied in this face (an edit log reports edits, it doesn't
    * interpret them), and replay stays deterministic: markers are
    * versioned feed rows inside the same (start, end] offset windows
    * as puts. */
  val ChangeFeedSchema: StructType = StructType(Seq(
    StructField("rowkey", BinaryType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("body", BinaryType, nullable = true), // delete rows carry no body
    StructField("op", StringType, nullable = false)))

  /** `option("provenance","true")` — the PROVENANCE columns as REGULAR
    * schema columns, for the faces Spark's metadata-column machinery
    * cannot reach: the streaming exec does not thread DSv2 metadata
    * columns (spec-pinned in CellsMetadataColumnsSpec), so a CDC
    * consumer that wants `_shard/_file/_kind` per streamed edit opts in
    * here and reads the widened schema through `readStream` — same
    * reader, same values as the batch metadata columns. Read-only (the
    * write faces decline the widened shape). */
  val ProvenanceFields: Seq[StructField] = Seq(
    StructField("_shard", StringType, nullable = false),
    StructField("_file", StringType, nullable = false),
    StructField("_kind", StringType, nullable = false))

  def schemaOf(changeFeed: Boolean, provenance: Boolean): StructType = {
    val base = if (changeFeed) ChangeFeedSchema else Schema
    if (provenance) StructType(base.fields ++ ProvenanceFields) else base
  }

  /** files actually OPENED by readers — the spec's proof that version
    * pushdown and column pruning skip I/O (single-JVM local mode). */
  val filesOpened = new java.util.concurrent.atomic.AtomicLong(0)

  /** rowkeys actually NARROWED by runtime (join-driven) filtering —
    * counts the keys [[CellsScan.filter]] received, so specs/probes can
    * tell "the runtime filter reached the scan" apart from "the scan
    * was cheap anyway" (a one-segment shard satisfies a file-open
    * bound vacuously). */
  val runtimeFilteredKeys = new java.util.concurrent.atomic.AtomicLong(0)

  /** rows emitted by CAPPED readers (pushed LIMIT / top-N) — the
    * spec's proof that truncation actually stopped the stream
    * (≤ partitions × N for a LIMIT, ≈ shards × N for a top-N) instead
    * of draining the table. */
  val cappedRowsEmitted = new java.util.concurrent.atomic.AtomicLong(0)

  /** shard directories the `CellsScan`s of `df`'s physical plan plan,
    * in key order — the pruning proof, which a partition count is not
    * once shards are packed */
  private[graft] def plannedShards(df: org.apache.spark.sql.DataFrame): Seq[String] =
    batchScans(df).map(_.scan).flatMap {
      case s: CellsScan => s.plannedShards.map(_.dir)
      case _ => Nil
    }

  /** every DSv2 batch scan node in `df`'s physical plan, looking
    * through adaptive execution and its query stages */
  private[graft] def batchScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def walk(p: SparkPlan): Seq[BatchScanExec] = (p match {
      case b: BatchScanExec => Seq(b)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ => Nil
    }) ++ p.children.flatMap(walk)
    walk(df.queryExecution.executedPlan)
  }
}

/** NATIVE SQL-UI METRICS (DSv2 CustomMetric): the connector's own
  * I/O counters surfaced per SCAN/WRITE node — `filesOpened` and
  * `cellsEmitted` on reads, `cellsWritten`/`bytesWritten` on writes —
  * so pruning quality is visible in `df.queryExecution` and the SQL
  * tab without the global test counters (which stay, for specs). */
/** zero-arg concrete classes: Spark's UI listener re-instantiates the
  * metric class reflectively to aggregate task values */
class FilesOpenedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "filesOpened"
  override def description(): String = "store files whose contents were read"
}
class CellsEmittedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "cellsEmitted"
  override def description(): String = "rows emitted after masks, pruning and caps"
}
class CellsWrittenMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "cellsWritten"
  override def description(): String = "cells (or markers) landed"
}
class BytesWrittenMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "bytesWritten"
  override def description(): String = "rowkey+body bytes landed"
}
class MarkersWrittenMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "markersWritten"
  override def description(): String = "exact-version tombstones landed (deletes + moved updates)"
}

private[sources] case class GraftTaskMetric(name: String, value: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric

/** per-reader I/O cells, reported through currentMetricsValues */
private[sources] final class CellsReaderMetrics { var filesOpened: Long = 0L }

/** One shard reader's SQL-UI task metrics: the store files `m` saw
  * opened and the rows `base` emitted. */
private[sources] final class CellsMetricsReader(base: PartitionReader[InternalRow],
                                                m: CellsReaderMetrics)
    extends PartitionReader[InternalRow] {
  private var emitted = 0L
  override def next(): Boolean = base.next() && { emitted += 1; true }
  override def get(): InternalRow = base.get()
  override def close(): Unit = base.close()
  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(GraftTaskMetric("filesOpened", m.filesOpened), GraftTaskMetric("cellsEmitted", emitted))
}

/** Rowkey predicates resolved at planning time into three pruning
  * tiers: shard DIRECTORIES (point probes and first-byte range spans),
  * cell FILES (point-probe digests matched against the filename), and
  * an exact BYTE-RANGE re-check applied as each cell's key is parsed —
  * before body I/O. All byte comparisons are unsigned lexicographic,
  * the order Spark's own BinaryType comparisons use, so pruning always
  * agrees with the residual filter Spark re-applies on survivors. */
final case class CellsKeyPred(
    digests: Option[Set[String]],
    points: Option[Seq[Array[Byte]]],
    lo: Option[Array[Byte]], loInc: Boolean,
    hi: Option[Array[Byte]], hiInc: Boolean) {

  /** can a shard covering the key range [start, end) hold a match?
    * The FIRST listed shard also owns every key below its start (the
    * HBase first-region rule), so its lower edge is treated as -inf;
    * a missing `end` (last listed shard) is +inf. Ends derived from
    * SIBLING listings only ever WIDEN a shard's range (absent siblings
    * widen, never shrink), so pruning is always sound. POINT probes
    * prune by RANGE COVERAGE of the probed keys — not by layout shard
    * NAME — so a probe planned while a region split is mid-protocol
    * (layout already names a daughter whose directory is not yet
    * promoted) still routes to the LISTED directory covering the key,
    * which the split protocol guarantees physically serves it. */
  def shardRangeOk(start: Array[Byte], end: Option[Array[Byte]],
                   isFirst: Boolean): Boolean = {
    val s0 = if (isFirst) Array.emptyByteArray else start
    points.forall(_.exists { k =>
      CellsKeyPred.cmp(k, s0) >= 0 && end.forall(e => CellsKeyPred.cmp(k, e) < 0)
    }) &&
      // all shard keys < end: a match needs some key >= lo, so end <= lo prunes
      lo.forall(k => end.forall(e => CellsKeyPred.cmp(e, k) > 0)) &&
      // all shard keys >= start (except the first shard: >= -inf):
      // a match needs some key <=/< hi
      hi.forall { k =>
        val c = CellsKeyPred.cmp(s0, k)
        if (hiInc) c <= 0 else c < 0
      }
  }

  /** can this cell file (digest filename) hold a match? (point tier) */
  def fileOk(digestHex: String): Boolean = digests.forall(_.contains(digestHex))

  /** [[digests]] as bytes, for segment bloom and index probes. */
  @transient lazy val digestSet: Option[CellSegment.DigestSet] = digests.map(new CellSegment.DigestSet(_))

  /** can segment index entry `i` hold a match? ([[fileOk]] on the
    * entry's digest bytes) */
  def entryOk(index: CellSegment.Index, i: Int): Boolean =
    digestSet.isEmpty || index.digestIn(i, digestSet.get)

  /** can this segment's ROW bloom hold a match? */
  def bloomOk(seg: Path): Boolean = digestSet.forall(CellSegment.mightContainAny(seg, _))

  def hasRange: Boolean = lo.isDefined || hi.isDefined

  /** intersect with a planned-range bound [lo2, hi2) — the
    * layout-stale reader's exact re-filter ([[CellsReaders.listCovered]]):
    * emission then needs the parsed key, and rows outside the planned
    * range belong to another stale partition. */
  def boundedBy(lo2: Array[Byte], hi2: Option[Array[Byte]]): CellsKeyPred = {
    var nLo = lo
    var nLoInc = loInc
    if (lo2.nonEmpty) {
      val stronger = nLo.forall(cur => CellsKeyPred.cmp(lo2, cur) > 0)
      if (stronger) { nLo = Some(lo2); nLoInc = true }
    }
    var nHi = hi
    var nHiInc = hiInc
    hi2.foreach { h =>
      val stronger = nHi.forall { cur =>
        val c = CellsKeyPred.cmp(h, cur)
        c < 0 || (c == 0 && nHiInc)
      }
      if (stronger) { nHi = Some(h); nHiInc = false }
    }
    copy(lo = nLo, loInc = nLoInc, hi = nHi, hiInc = nHiInc)
  }

  /** exact range check on the parsed key bytes. */
  def keyOk(key: Array[Byte]): Boolean =
    lo.forall { k => val c = CellsKeyPred.cmp(key, k); if (loInc) c >= 0 else c > 0 } &&
      hi.forall { k => val c = CellsKeyPred.cmp(key, k); if (hiInc) c <= 0 else c < 0 }
}

/** Shard-directory listing + pruning shared by every read face. A
  * shard dir name IS its region's start key in hex ([[graft.ingest.
  * FileStore.Splits]]) and hex name order ≡ key order, so sorting the
  * LISTED names yields each shard's range: [own start, next listed
  * start). Names that don't decode (temp files, foreign dirs) are
  * never treated as shards. */
object CellsShards {
  /** one surviving shard directory with its LISTING-derived range: the
    * next listed sibling's name bounds this shard's coverage — the
    * planned partition carries it so its reader can later discover
    * daughters a region split promoted into that range. */
  final case class ListedShard(path: Path, name: String, start: Array[Byte],
                               endName: Option[String], isFirst: Boolean)

  def pruneListed(tableDir: Path, keys: CellsKeyPred): Seq[ListedShard] = {
    val named = ShardFiles.regions(tableDir).map { p =>
      val n = p.getFileName.toString
      (n, graft.ingest.FileStore.Splits.startOf(n).get, p)
    }
    named.zipWithIndex.collect {
      case ((n, st, p), i) if keys.shardRangeOk(st,
        if (i + 1 < named.size) Some(named(i + 1)._2) else None, i == 0) =>
        ListedShard(p, n, st, if (i + 1 < named.size) Some(named(i + 1)._1) else None, i == 0)
    }
  }

  def prune(tableDir: Path, keys: CellsKeyPred): Seq[Path] =
    pruneListed(tableDir, keys).map(_.path)

  /** THE read planner of every cell face (row scan, pushed aggregate,
    * micro-batch stream, `$versions` inventory): one [[CellsShard]] per
    * pruned shard of `tableDir`, carrying the key predicate, the version
    * window [lo, hi], its listed end, the layout fingerprint and its
    * region index in `splits`, then [[pack]]ed — or left one shard per
    * partition when `keyGrouped` (the catalog report a storage-
    * partitioned join needs). `keep` drops shards by name after the
    * listing, so ends stay those of the full listing.
    *
    * `splits` must be read BEFORE this call (a by-value argument is):
    * the reader treats a fingerprint CHANGE as "daughters may have been
    * promoted since planning", so the fingerprint must never postdate
    * the listing, or a split landing between the two reads would hide
    * its daughter from a stale partition set. */
  def plan(tableDir: Path, splits: graft.ingest.FileStore.Splits, keys: CellsKeyPred,
           lo: Long, hi: Long, keyGrouped: Boolean = false,
           keep: String => Boolean = _ => true): Array[InputPartition] = {
    val fp = CellsCatalog.fingerprintOf(splits)
    val shards = pruneListed(tableDir, keys).filter(ls => keep(ls.name)).map(ls =>
      CellsShard(ls.path.toString, keys, lo, hi, splits.names.indexOf(ls.name),
        ls.endName, fp, ls.isFirst))
    if (keyGrouped) shards.toArray else pack(shards)
  }

  /** Packs pruned shards into the byte-balanced, key-ordered groups of
    * [[graft.ingest.RegionJobs.plan]], each shard weighing its resident
    * store-file bytes ([[graft.ingest.RegionSplit.shardBytes]]). Shards
    * are disjoint key ranges, so a group of sorted shards read in order
    * is itself sorted; a scan of no more shards than the cores keeps
    * one of them per partition. */
  def pack(shards: Seq[CellsShard]): Array[InputPartition] =
    graft.ingest.RegionJobs.plan(org.apache.spark.sql.SparkSession.active,
      shards.map(s => s -> graft.ingest.RegionSplit.shardBytes(Paths.get(s.dir))))
      .map(g => CellsShardGroup(g): InputPartition).toArray

  /** Opens a planned partition with `shard` as each shard's reader: a
    * packed group through a [[CellsChainedReader]] capped at `limit`
    * rows, a lone key-grouped shard directly. */
  def read(partition: InputPartition, limit: Long = Long.MaxValue)(
      shard: CellsShard => PartitionReader[InternalRow]): PartitionReader[InternalRow] =
    partition match {
      case g: CellsShardGroup => new CellsChainedReader(g.shards.iterator.map(shard), limit)
      case s: CellsShard => shard(s)
    }
}

/** One packed partition: a key-ordered run of [[CellsShard]]s, read by a
  * [[CellsChainedReader]]. */
case class CellsShardGroup(shards: Vector[CellsShard]) extends InputPartition

/** Reads a packed partition: opens each shard's own reader in turn and
  * closes it before opening the next, stops once `limit` rows are out
  * (a pushed LIMIT caps the partition, not each shard), and reports the
  * shards' task metrics summed by name. */
private[sources] final class CellsChainedReader(
    readers: Iterator[PartitionReader[InternalRow]], limit: Long = Long.MaxValue)
    extends PartitionReader[InternalRow] {
  private var cur: PartitionReader[InternalRow] = _
  private var emitted = 0L
  private val closedTotals = scala.collection.mutable.LinkedHashMap.empty[String, Long]

  override def next(): Boolean = {
    if (emitted >= limit) return false
    while (true) {
      if ((cur ne null) && cur.next()) { emitted += 1; return true }
      closeCurrent()
      if (!readers.hasNext) return false
      cur = readers.next()
    }
    false
  }
  override def get(): InternalRow = cur.get()

  private def closeCurrent(): Unit = if (cur ne null) {
    val r = cur
    cur = null
    r.currentMetricsValues().foreach(m =>
      closedTotals(m.name()) = closedTotals.getOrElse(m.name(), 0L) + m.value())
    r.close()
  }
  override def close(): Unit = closeCurrent()

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val sums = closedTotals.clone()
    if (cur ne null) cur.currentMetricsValues().foreach(m =>
      sums(m.name()) = sums.getOrElse(m.name(), 0L) + m.value())
    sums.iterator.map { case (n, v) =>
      GraftTaskMetric(n, v): org.apache.spark.sql.connector.metric.CustomTaskMetric
    }.toArray
  }
}

object CellsKeyPred {
  val All: CellsKeyPred = CellsKeyPred(None, None, None, true, None, true)

  /** unsigned lexicographic byte-array order — Spark's BinaryType order. */
  def cmp(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }
}

case class CellsTable(root: String, table: String, changeFeed: Boolean = false,
                      fromCatalog: Boolean = false,
                      asOf: Option[Long] = None,
                      latest: Boolean = false,
                      provenance: Boolean = false) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  require(root != null && table != null, "graft-cells requires options: root, table")
  require(!(latest && changeFeed), "a table face is $latest or $changes, never both")
  override def name(): String =
    s"graft-cells:$table" + asOf.fold("")(v => s"@$v") +
      (if (changeFeed) "$changes" else if (latest) "$latest" else "") +
      (if (provenance) "+provenance" else "")
  override def schema(): StructType = CellsSource.schemaOf(changeFeed, provenance)
  /** the recorded DDL as table properties — `SHOW TBLPROPERTIES`
    * reflects `CREATE … TBLPROPERTIES` and later `ALTER TABLE SET`
    * (read from the descriptor file, so always current). */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    graft.ingest.FileStore(root).readSpecJson(table).foreach { json =>
      val spec = graft.ingest.PushTableSink.TableSpec.fromJson(json)
      m.put("maxVersions", spec.maxVersions.toString)
      m.put("minVersions", spec.minVersions.toString)
      m.put("ttlMillis", spec.ttlMillis.toString)
      m.put("compactionThreshold", spec.compactionThreshold.toString)
      m.put("maxRegionBytes", spec.maxRegionBytes.toString)
      m.put("dataFamily", spec.dataFamily)
      m.put("dataQualifier", spec.dataQualifier)
      m.put("compression", spec.compression)
    }
    val splits = graft.ingest.FileStore(root).splitsOf(table)
    if (!splits.isDefault) // region boundaries as declared (hex split points)
      m.put("splitPoints", splits.names.drop(1).mkString(","))
    m
  }
  override def capabilities(): java.util.Set[TableCapability] =
    // the $latest face is the SERVING read — batch-only (the stream
    // face is an edit feed; "latest" has no incremental meaning there);
    // the provenance-widened face is read-only (its schema is not a
    // writable cell shape)
    if (latest) java.util.EnumSet.of(TableCapability.BATCH_READ)
    else if (provenance) java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    CellsScanBuilder(root, table, options.getBoolean("stableOffsets", false), changeFeed,
      fromCatalog, asOf, latest, provenance,
      retentionNowOpt = Option(options.get("retentionNowMillis")).flatMap(_.toLongOption))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty, s"cannot write to time-travel snapshot ${name()}")
    require(!latest, s"the $$latest face is read-only — write to the base table")
    require(!provenance, s"${name()} is a read-only widened face — write the base 3-column table")
    CellsWriteBuilder(root, table, info.schema(),
      info.options().getBoolean("tombstone", false),
      info.options().getBoolean("tombstoneExact", false),
      writeId = info.queryId())
  }

  /** PROVENANCE metadata columns (the Iceberg `_file` idiom): where
    * each emitted row physically lives — `_shard` (region directory),
    * `_file` (the store file whose copy WON read precedence), `_kind`
    * (`put` | `segment`; marker rows on the change-feed face report
    * their marker kind). SELECT-only, never stored, resolved only when
    * named — `SELECT *` stays the 3-column cell schema. The ops
    * debugging face: "which file serves this cell", "how much of this
    * key's history still sits in the put backlog" — joins directly
    * against `tbl$versions` on (_shard, _file). BATCH faces only:
    * Spark's streaming exec does not thread DSv2 metadata columns
    * (spec-pinned in CellsMetadataColumnsSpec) — stream provenance
    * comes from `$versions` — or from `option("provenance","true")`,
    * which bakes the same three columns into the read schema itself
    * (and therefore suppresses the metadata columns here: one name,
    * one resolution). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    if (provenance)
      return Array.empty[org.apache.spark.sql.connector.catalog.MetadataColumn]
    import org.apache.spark.sql.connector.catalog.MetadataColumn
    def m(n: String, c: String): MetadataColumn = new MetadataColumn {
      override def name(): String = n
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = c
    }
    Array(
      m("_shard", "region directory holding the cell"),
      m("_file", "store file whose copy won read precedence"),
      m("_kind", "put | segment | marker_bound | marker_exact"))
  }

  /** SQL `TRUNCATE TABLE cat.tbl` — HBase `truncate_preserve` as the
    * standalone statement (the same sweep INSERT OVERWRITE's batch
    * path uses): every cell, segment, and delete marker goes — a
    * surviving marker would mask a later reload — while the
    * descriptor and split layout stay. Unlike the staged overwrite
    * there is no new generation to protect, so the sweep runs in
    * place. */
  override def truncateTable(): Boolean = {
    require(asOf.isEmpty, s"cannot truncate time-travel snapshot ${name()}")
    require(!changeFeed && !latest && !provenance,
      s"${name()} is a read-only metadata face — TRUNCATE targets the base table")
    graft.ingest.FileStore(root).truncateTable(table)
    true
  }

  /** SQL `DELETE FROM cat.tbl WHERE rowkey = … [AND version <= T |
    * version = T]` — the HBase Delete idiom as DML: each matched key
    * takes a tombstone MARKER (no cell is rewritten; majors purge
    * marker + covered cells later). A version upper bound stamps a
    * `.d` marker at T (Delete.addColumns up-to-T); `version = T`
    * stamps a `.dv` EXACT marker (Delete.addColumn at exactly ts,
    * masking only that version); a bare key delete stamps the key's
    * CURRENT latest version (deleteRow at now). Supported shapes: a
    * conjunction of rowkey `=`/`IN` (required) and at most one version
    * `<=`/`<`/`=` — anything else is declined at canDeleteWhere, so
    * Spark fails the statement (or rewrites it through the row-level
    * path) instead of silently over-deleting. */
  private def deletePlan(filters: Array[Filter])
      : Option[(Seq[Array[Byte]], Option[Long], Option[Long])] = {
    var keys: Option[Seq[Array[Byte]]] = None
    var bound: Option[Long] = None
    var exact: Option[Long] = None
    val ok = filters.forall {
      case EqualTo("rowkey", k: Array[Byte]) if keys.isEmpty => keys = Some(Seq(k)); true
      case In("rowkey", vs) if keys.isEmpty && vs.nonEmpty && vs.forall(_.isInstanceOf[Array[Byte]]) =>
        keys = Some(vs.toSeq.map(_.asInstanceOf[Array[Byte]])); true
      case LessThanOrEqual("version", v: java.lang.Long) if bound.isEmpty && exact.isEmpty =>
        bound = Some(v); true
      case LessThan("version", v: java.lang.Long)
        if bound.isEmpty && exact.isEmpty && v != Long.MinValue =>
        bound = Some(v - 1); true
      case EqualTo("version", v: java.lang.Long) if bound.isEmpty && exact.isEmpty =>
        exact = Some(v); true
      case _ => false
    }
    if (ok && keys.isDefined) Some((keys.get, bound, exact)) else None
  }

  /** MERGE INTO / UPDATE / predicate DELETE — the delta (merge-on-read)
    * row-level operation: see [[CellsRowLevelOperation]]. Mutations
    * target the base table only; the metadata faces and snapshots
    * decline loudly. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOf.isEmpty, s"cannot mutate time-travel snapshot ${name()}")
    require(!changeFeed && !latest && !provenance,
      s"${name()} is a read-only metadata face — MERGE/UPDATE/DELETE target the base table")
    () => CellsRowLevelOperation(root, table, info.command())
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    asOf.isEmpty && !changeFeed && !latest && !provenance && deletePlan(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val (keys, bound, exact) = deletePlan(filters).getOrElse(
      throw new UnsupportedOperationException(
        s"graft DELETE needs rowkey =/IN plus at most one version bound; got ${filters.mkString(", ")}"))
    val store = graft.ingest.FileStore(root)
    exact match {
      case Some(t) =>
        // exact-version delete: marker lands whether or not a cell
        // exists at T (HBase Delete.addColumn(ts) semantics — it also
        // masks a put arriving later at exactly T)
        store.deleteCellsExact(table, keys.map(k => (k, t)))
      case None =>
        val markers = bound match {
          case Some(t) => keys.map(k => (k, t))
          case None =>
            // bare deletes stamp each key's current latest — batched: one
            // listing + one index pass per touched shard, not per key
            keys.zip(store.latestVersionsOf(table, keys)).collect {
              case (k, Some(t)) => (k, t) // an absent key is a no-op, like HBase's
            }
        }
        if (markers.nonEmpty) store.deleteCells(table, markers)
    }
  }
}

/** Write face: append rows as versioned cells through the SAME
  * [[graft.ingest.FileStore]] contract the push sink honors. Each cell
  * lands by atomic rename keyed on (rowkey, version), so a retried or
  * speculated task re-puts the identical files — at-least-once task
  * execution converges to exactly-once cell STATE, the W2/F5 posture,
  * with no commit coordinator needed (commit/abort are no-ops by
  * design, not omission). The driver ensures the table DDL once;
  * executors batch puts by the W1 byte cap. */
case class CellsWriteBuilder(root: String, table: String, schema: StructType,
                             tombstone: Boolean = false,
                             tombstoneExact: Boolean = false,
                             writeId: String = "") extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate
    // update-mode streaming queries (stateful aggs emitting revisions)
    // are append-safe here BY THE STORE'S NATURE: a put at (rowkey,
    // version) atomically replaces that coordinate, so "update" IS an
    // idempotent upsert append — the Kafka-sink idiom
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
  private var truncateFirst = false
  /** `INSERT OVERWRITE` — HBase `truncate_preserve` then load: every
    * cell, segment, AND delete marker goes (a marker must not mask the
    * fresh load); descriptor and split layout survive. Staged as a NEW
    * GENERATION and swapped at commit — see [[CellsBatchWrite]]. */
  override def truncate(): WriteBuilder = {
    require(!tombstone, "an overwrite is a data write, not a delete")
    truncateFirst = true
    this
  }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = CellsBatchWrite(root, table, schema, tombstone,
      tombstoneExact, truncateFirst, writeId)
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!truncateFirst,
        "a streaming write appends (complete mode needs a truncating sink); " +
          "INSERT OVERWRITE is a batch statement")
      CellsStreamingWrite(root, table, schema, tombstone, tombstoneExact)
    }
    override def supportedCustomMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      Array(new CellsWrittenMetric, new BytesWrittenMetric)
  }
}

/** Batch write face. Plain INSERTs append live (puts are idempotent
  * atomic renames; commit/abort are no-ops by design). `INSERT
  * OVERWRITE` instead STAGES a whole new generation under
  * `_overwrite_staging/<queryId>/` — invisible to every read face —
  * and SWAPS it in at commit with two directory renames (live → trash,
  * staged → live). Consequences, vs truncating up front:
  *
  *  - a self-referential `INSERT OVERWRITE t SELECT … FROM t` is
  *    CORRECT: the source scan reads the old generation for the whole
  *    job (it cannot observe the staging dir), and the swap happens
  *    only after every task committed;
  *  - a crashed or aborted overwrite leaves the table UNTOUCHED — the
  *    orphaned staging dir is dead weight, not damage (underscore
  *    roots are invisible to listTables and all read faces);
  *  - the only non-atomic window left is between the two commit-time
  *    renames (a reader lists no table dir for an instant — the HBase
  *    truncate analog's own visibility), rather than the entire job.
  *
  * The staged generation carries the live `_spec.json`/`_splits.json`
  * as of the write's start, so put placement and retention match and
  * the descriptor + split layout survive the swap (truncate_preserve). */
case class CellsBatchWrite(root: String, table: String, schema: StructType,
                           tombstone: Boolean = false,
                           tombstoneExact: Boolean = false,
                           truncateFirst: Boolean = false,
                           writeId: String = "") extends BatchWrite {
  private def mangled = table.replace(':', '~')
  private def stagingRoot = Paths.get(root, "_overwrite_staging", writeId)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    CellsWrites.validateShape(schema, tombstone)
    // driver-side, once: the DDL write (W3) — executors only put cells
    graft.ingest.FileStore(root).ensureTable(table, graft.ingest.PushTableSink.TableSpec())
    if (truncateFirst) {
      val staged = Files.createDirectories(stagingRoot.resolve(mangled))
      // generation DDL snapshot: same shard routing, same retention
      Seq("_spec.json", "_splits.json").foreach { f =>
        val src = Paths.get(root, mangled, f)
        if (Files.exists(src))
          Files.copy(src, staged.resolve(f),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      CellsWriterFactory(stagingRoot.toString, table, tombstone, tombstoneExact)
    } else CellsWriterFactory(root, table, tombstone, tombstoneExact)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = if (truncateFirst) {
    val live = Paths.get(root, mangled)
    val staged = stagingRoot.resolve(mangled)
    val trash = Paths.get(root, "_overwrite_trash", writeId, mangled)
    Files.createDirectories(trash.getParent)
    if (Files.isDirectory(live))
      Files.move(live, trash, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Files.move(staged, live, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    org.apache.commons.io.FileUtils.deleteQuietly(
      Paths.get(root, "_overwrite_trash", writeId).toFile)
    org.apache.commons.io.FileUtils.deleteQuietly(stagingRoot.toFile)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = if (truncateFirst)
    org.apache.commons.io.FileUtils.deleteQuietly(stagingRoot.toFile)
}

private[sources] object CellsWrites {
  /** names AND types, driver-side: a STRING rowkey or INT version
    * would otherwise surface as an opaque executor ClassCastException
    * from r.getBinary/getLong mid-write. `option("tombstone","true")`
    * turns the write into a DISTRIBUTED DELETE (HBase Table.delete):
    * each (rowkey, version) row lands a delete marker masking that
    * key's versions ≤ version on the batch read faces — body not
    * required (a 2-column frame deletes; a 3-column frame's body is
    * ignored). */
  def validateShape(schema: StructType, tombstone: Boolean): Unit = {
    val cols = schema.fields.map(f => (f.name, f.dataType)).toSeq
    val putShape = Seq(("rowkey", BinaryType), ("version", LongType), ("body", BinaryType))
    require(
      if (tombstone) cols == putShape || cols == putShape.take(2)
      else cols == putShape,
      s"graft-cells writes (rowkey BINARY, version BIGINT, body BINARY)" +
        s"${if (tombstone) " — or (rowkey, version) for tombstones" else ""}; got ${schema.simpleString}")
  }
}

/** Streaming write face — `df.writeStream.format("graft-cells")` /
  * `.toTable("cat.tbl")`: the HBase replication-consumer sink as a
  * FIRST-CLASS Structured Streaming sink (q238's foreachBatch loop,
  * declarative). Exactly-once STATE with at-least-once execution: a
  * cell is an atomic rename keyed on (rowkey, version), so a replayed
  * epoch (restart before the checkpoint advanced) re-puts byte-
  * identical files and the store converges — no epoch ledger, no
  * commit coordinator, the same W2/F5 posture as the batch face.
  * Epoch commit/abort are therefore no-ops BY DESIGN: visibility is
  * per-rename, and the watermark contract the stream READ face
  * documents (versions land strictly above the committed offset)
  * is the producer's to honor, exactly as for batch appends.
  * `option("tombstone", "true")` streams DELETES (bound markers;
  * `tombstoneExact` for single-version masks) — the two-stream
  * replication pair. Update output mode is accepted as append
  * (upsert-by-coordinate); complete mode declines at toStreaming. */
case class CellsStreamingWrite(root: String, table: String, schema: StructType,
                               tombstone: Boolean, tombstoneExact: Boolean)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    CellsWrites.validateShape(schema, tombstone)
    graft.ingest.FileStore(root).ensureTable(table, graft.ingest.PushTableSink.TableSpec())
    CellsStreamingWriterFactory(root, table, tombstone, tombstoneExact)
  }
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

case class CellsStreamingWriterFactory(root: String, table: String,
                                       tombstone: Boolean, tombstoneExact: Boolean)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    CellsWriterFactory(root, table, tombstone, tombstoneExact)
      .createWriter(partitionId, taskId)
}

case class CellsWriterFactory(root: String, table: String,
                              tombstone: Boolean = false,
                              tombstoneExact: Boolean = false) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val store = graft.ingest.FileStore(root)
      private val buf = scala.collection.mutable.ArrayBuffer.empty[graft.ingest.PushTableSink.CellPut]
      private var bufBytes = 0L
      private val MaxBatchBytes = 100000000L // W1: the reference's put-batch cap

      override def write(r: InternalRow): Unit = {
        // nullable input passes the driver-side schema check (Spark
        // marks most derived columns nullable); a null CELL must fail
        // with a named error, not an NPE from getBinary
        require(!r.isNullAt(0) && !r.isNullAt(1) && (tombstone || !r.isNullAt(2)),
          "graft-cells: null rowkey/version/body cell — cells are non-nullable")
        val body =
          if (!tombstone) r.getBinary(2)
          else Array.emptyByteArray // marker writes carry no body
        val cell = graft.ingest.PushTableSink.CellPut(table, r.getBinary(0), r.getLong(1), body)
        buf += cell
        bufBytes += cell.rowkey.length + cell.body.length
        cellsWritten += 1
        bytesWritten += cell.rowkey.length + cell.body.length
        if (bufBytes >= MaxBatchBytes) flush()
      }
      private def flush(): Unit = if (buf.nonEmpty) {
        if (tombstone) {
          val markers = buf.toSeq.map(c => (c.rowkey, c.version))
          // option("tombstoneExact","true") lands `.dv` exact-version
          // markers (Delete.addColumn(ts)); default `.d` bounds
          if (tombstoneExact) store.deleteCellsExact(table, markers)
          else store.deleteCells(table, markers)
        }
        else store.putBatch(table, buf.toSeq)
        buf.clear(); bufBytes = 0
      }
      override def commit(): WriterCommitMessage = { flush(); CellsCommit }
      override def abort(): Unit = () // idempotent re-put on retry
      override def close(): Unit = ()
      private var cellsWritten = 0L
      private var bytesWritten = 0L
      override def currentMetricsValues()
          : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        Array(GraftTaskMetric("cellsWritten", cellsWritten),
          GraftTaskMetric("bytesWritten", bytesWritten))
    }
}

case object CellsCommit extends WriterCommitMessage

/** OFFSET pushdown ([[SupportsPushDownOffset]]) is DECLINED by design:
  * this scan is a multi-shard merge with no single global row order —
  * an OFFSET can only be skipped deterministically against the total
  * (rowkey, version) order, which holds per shard (compacted) but
  * never across the shard set Spark folds afterwards, so a per-shard
  * "skip N" would drop rows Spark still needs for the global skip.
  * Spark's own GlobalLimit+Offset over the (already capped, where
  * TopN/limit pushed) stream is the correct evaluation; nothing is
  * lost — the expensive part, per-shard truncation, IS pushed. */
case class CellsScanBuilder(root: String, table: String, stable: Boolean = false,
                            changeFeed: Boolean = false,
                            fromCatalog: Boolean = false,
                            asOf: Option[Long] = None,
                            latest: Boolean = false,
                            provenance: Boolean = false,
                            retentionNowOpt: Option[Long] = None) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  private var lo = Long.MinValue
  // a time-travel snapshot is a pre-seeded version upper bound — the
  // same filename prune every pushed `version <= v` predicate takes
  private var hi = asOf.getOrElse(Long.MaxValue)

  /** READ-TIME RETENTION policy of this table ([[graft.ingest.
    * Retention]]) — resolved ONCE at planning time, clock snapshotted
    * here (scan-open time, the HBase scanner contract): scan option
    * `retentionNowMillis`, else the wall clock. The change-feed face
    * never applies retention (it is an edit log, same rule as delete
    * masks); the streaming face likewise (replayed offset windows must
    * regenerate identical rows) — both get None downstream of this
    * builder. */
  private lazy val retentionPolicy: Option[graft.ingest.Retention.Policy] =
    if (changeFeed) None
    else graft.ingest.Retention.of(root, table, retentionNowOpt.getOrElse(System.currentTimeMillis()))
  // rowkey point predicates, resolved to cell-file digests AND the
  // probed key bytes themselves (range-coverage shard pruning): None =
  // no point predicate, Some(empty) = a provably-empty scan
  private var keyDigests: Option[Set[String]] = None
  private var points: Option[Seq[Array[Byte]]] = None
  // rowkey range bounds (binary, unsigned order), tightened across
  // conjunctive filters; inclusivity tracked per bound
  private var keyLo: Option[Array[Byte]] = None
  private var keyLoInc = true
  private var keyHi: Option[Array[Byte]] = None
  private var keyHiInc = true
  private var pushed = Array.empty[Filter]
  private var required: StructType = CellsSource.schemaOf(changeFeed, provenance)

  private def longOf(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case l: java.lang.Long => Some(l.longValue())
    case i: java.lang.Integer => Some(i.longValue())
    case _ => None
  }

  private def bytesOf(v: Any): Option[Array[Byte]] = v match {
    case b: Array[Byte] => Some(b)
    case _ => None
  }

  private def intersectPoints(keys: Seq[Array[Byte]]): Unit = {
    val ds = keys.map(graft.ingest.FileStore.keyDigest).toSet
    keyDigests = Some(keyDigests.fold(ds)(_ intersect ds))
    // conjunctive point sets intersect BY KEY (digest identity)
    points = Some(points.fold(keys)(_.filter(k =>
      ds.contains(graft.ingest.FileStore.keyDigest(k)))))
  }

  private def tightenLo(k: Array[Byte], inc: Boolean): Unit = {
    val stronger = keyLo match {
      case None => true
      case Some(cur) =>
        val c = CellsKeyPred.cmp(k, cur)
        c > 0 || (c == 0 && keyLoInc && !inc)
    }
    if (stronger) { keyLo = Some(k); keyLoInc = inc }
  }

  private def tightenHi(k: Array[Byte], inc: Boolean): Unit = {
    val stronger = keyHi match {
      case None => true
      case Some(cur) =>
        val c = CellsKeyPred.cmp(k, cur)
        c < 0 || (c == 0 && keyHiInc && !inc)
    }
    if (stronger) { keyHi = Some(k); keyHiInc = inc }
  }

  // strict bound x < v / x > v: saturate at the Long extremes instead
  // of computing v∓1 — the wrapped bound would silently ADMIT all rows
  // (version filters are fully pushed, Spark never re-filters)
  private def markEmpty(): Unit = { lo = Long.MaxValue; hi = Long.MinValue }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val residual = Array.newBuilder[Filter]
    val accepted = Array.newBuilder[Filter]
    filters.foreach {
      // VERSION predicates on the $latest face: the face folds to each
      // key's max live version FIRST, then SQL filters the fold — so an
      // UPPER bound (or equality) must NOT prune the scan window (a cap
      // would change winners: `latest WHERE version <= T` is not
      // `as-of-T latest`; only time travel's asOf seeds hi, because a
      // snapshot applies BEFORE the metadata face). LOWER bounds stay
      // prunable: max{v} ≥ T ⟺ max{v ≥ T} exists and equals it.
      case f @ EqualTo("version", v) if longOf(v).isDefined =>
        if (latest) residual += f
        else { val x = longOf(v).get; lo = math.max(lo, x); hi = math.min(hi, x); accepted += f }
      case f @ GreaterThan("version", v) if longOf(v).isDefined =>
        val x = longOf(v).get
        if (x == Long.MaxValue) markEmpty() else lo = math.max(lo, x + 1)
        accepted += f
      case f @ GreaterThanOrEqual("version", v) if longOf(v).isDefined =>
        lo = math.max(lo, longOf(v).get); accepted += f
      case f @ LessThan("version", v) if longOf(v).isDefined =>
        if (latest) residual += f
        else {
          val x = longOf(v).get
          if (x == Long.MinValue) markEmpty() else hi = math.min(hi, x - 1)
          accepted += f
        }
      case f @ LessThanOrEqual("version", v) if longOf(v).isDefined =>
        if (latest) residual += f
        else { hi = math.min(hi, longOf(v).get); accepted += f }
      // rowkey point lookups route to their range shard AND cell files:
      // the same FileStore placement the writer used, so an equality/IN
      // probe opens 1 shard directory and only the probed key's cells.
      // Kept in the residual set — Spark re-checks the bytes on the
      // survivors, so correctness never rests on digest uniqueness.
      case f @ EqualTo("rowkey", v) if bytesOf(v).isDefined =>
        intersectPoints(Seq(bytesOf(v).get))
        accepted += f; residual += f
      case f @ In("rowkey", vs) if vs.nonEmpty && vs.forall(bytesOf(_).isDefined) =>
        intersectPoints(vs.map(v => bytesOf(v).get).toSeq)
        accepted += f; residual += f
      // rowkey range/prefix scans prune to the contiguous first-byte
      // shard span (the HBase region-range scan); the exact bound is
      // re-applied against the parsed key before body I/O, and ALSO
      // stays residual for Spark's own re-check.
      case f @ GreaterThan("rowkey", v) if bytesOf(v).isDefined =>
        tightenLo(bytesOf(v).get, inc = false); accepted += f; residual += f
      case f @ GreaterThanOrEqual("rowkey", v) if bytesOf(v).isDefined =>
        tightenLo(bytesOf(v).get, inc = true); accepted += f; residual += f
      case f @ LessThan("rowkey", v) if bytesOf(v).isDefined =>
        tightenHi(bytesOf(v).get, inc = false); accepted += f; residual += f
      case f @ LessThanOrEqual("rowkey", v) if bytesOf(v).isDefined =>
        tightenHi(bytesOf(v).get, inc = true); accepted += f; residual += f
      case other => residual += other
    }
    pushed = accepted.result()
    residual.result() // version bounds are exact filename prunes — fully handled
  }

  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  // ---- aggregate pushdown (see [[CellsAggScan]]) ----
  private var aggSpecs: Option[Seq[CellsAggSpec]] = None
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    false // one partial row per region; Spark folds the ≤regions rows

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    // edit-log rows are typed edits, not cells; grouped aggregates and
    // any rowkey predicate (range OR point: upstream blocks pushdown
    // on residual filters anyway — this is the defensive mirror) need
    // the row scan. Retention-active tables stay PUSHABLE: the r15
    // read-time fold is itself metadata-only (filenames + segment
    // indexes), so the pushed COUNT counts exactly the masked view
    // with zero body bytes — RetentionSpec pins agreement.
    if (changeFeed || agg.groupByExpressions.nonEmpty ||
      keyDigests.isDefined || keyLo.isDefined || keyHi.isDefined) return false
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
        if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0).toLowerCase)
      case _ => None
    }
    val schemaCols = Set("rowkey", "version", "body") // all non-null ⇒ COUNT(col) ≡ COUNT(*)
    val specs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(CellsAggSpec.CountAll)
      case c: Count if !c.isDistinct && colOf(c.column).exists(schemaCols) =>
        Some(CellsAggSpec.CountAll)
      case m: Min if colOf(m.column).contains("version") => Some(CellsAggSpec.MinV)
      case m: Max if colOf(m.column).contains("version") => Some(CellsAggSpec.MaxV)
      case _ => None
    }
    if (specs.exists(_.isEmpty)) false
    else { aggSpecs = Some(specs.map(_.get)); true }
  }

  // ---- limit / top-N pushdown (the HBase Scan#setLimit analog) ----
  // LIMIT is ALWAYS safe to push partially: each scan partition stops
  // after N rows and Spark's GlobalLimit folds the ≤partitions×N
  // survivors — any N rows are a correct LIMIT answer. TOP-N
  // additionally needs the rows to arrive in the requested order, which only a compacted
  // shard guarantees (≤1 segment, 0 puts — the outputOrdering
  // condition), and layout is a RUNTIME property — so the planning-
  // time accept is ORDER-SHAPE only ((rowkey [, version]) ASC, the
  // store's native sort) and each shard reader decides AT READ TIME
  // whether its own file set streams sorted: a compacted shard stops
  // after its local top-N, a backlogged shard returns everything and
  // Spark's TakeOrdered does the work. Both pushes are PARTIAL
  // (isPartiallyPushed = true), so Spark always keeps its final
  // limit/sort — per-shard truncation is pure I/O savings, never a
  // correctness dependency. At 100 TB `ORDER BY rowkey LIMIT 100`
  // reads ~100 rows per region instead of the table.
  private var pushedLimit: Option[Int] = None
  private var pushedTopK: Option[Int] = None
  private var pushedTopKDesc = false
  private var pushedTopKRev = false // rowkey DESC — the HBase reverse scan

  override def pushLimit(limit: Int): Boolean = {
    if (aggSpecs.isDefined) false
    else { pushedLimit = Some(limit); true }
  }

  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    // the change-feed face interleaves marker rows and never streams
    // key-sorted; the agg scan has no rows to truncate
    if (changeFeed || aggSpecs.isDefined) return false
    def colOf(o: org.apache.spark.sql.connector.expressions.SortOrder): Option[String] =
      o.expression() match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          Some(nr.fieldNames()(0).toLowerCase)
        case _ => None
      }
    // accepted shapes. Leading rowkey ASC (the store's native sort):
    // (rowkey [, version]) fully ASCENDING — the stream order of a
    // compacted shard, truncated after N rows — and (rowkey ASC,
    // version DESC) — the HBase Get.readVersions(k) serving shape
    // (latest-k-versions in key order), truncating on KEY-GROUP
    // boundaries once ≥N rows are out (all of a key's versions are
    // contiguous and later keys rank strictly after, so the emission
    // is a bounded superset the retained TakeOrdered finalizes).
    // Leading rowkey DESC — the HBase REVERSE SCAN (Scan.setReversed):
    // (rowkey DESC [, version DESC]) walks a compacted shard's
    // seekable INDEX backward, reading only ~N entries per region
    // instead of the table; (rowkey DESC) alone truncates on key
    // groups like the vdesc shape, (rowkey DESC, version DESC) is the
    // exact reversed stream order. (rowkey DESC, version ASC) is
    // declined — it matches no physical order and would save nothing.
    // All pushes stay PARTIAL: Spark keeps its final sort+limit, so
    // per-shard truncation is pure I/O savings, never a correctness
    // dependency. The $latest/feed faces take only the ASC shapes
    // (their folds stream forward).
    val twoColsOk = orders.length == 1 || colOf(orders(1)).contains("version")
    if (orders.isEmpty || orders.length > 2 ||
      !colOf(orders(0)).contains("rowkey") || !twoColsOk) return false
    if (orders(0).direction() == SortDirection.ASCENDING) {
      val desc = orders.length == 2 && orders(1).direction() == SortDirection.DESCENDING
      val asc = orders.length == 1 || orders(1).direction() == SortDirection.ASCENDING
      if (!desc && !asc) return false
      pushedTopK = Some(limit)
      pushedTopKDesc = desc
      true
    } else {
      if (latest) return false // the serving fold streams forward only
      if (orders.length == 2 && orders(1).direction() != SortDirection.DESCENDING)
        return false
      pushedTopK = Some(limit)
      pushedTopKRev = true
      pushedTopKDesc = orders.length == 2 // exact reversed order vs key-group cap
      true
    }
  }

  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan = aggSpecs match {
    case Some(specs) =>
      CellsAggScan(root, table, lo, hi,
        CellsKeyPred(keyDigests, points, keyLo, keyLoInc, keyHi, keyHiInc), specs, latest,
        retention = retentionPolicy)
    case None =>
      CellsScan(root, table, lo, hi,
        CellsKeyPred(keyDigests, points, keyLo, keyLoInc, keyHi, keyHiInc), required,
        stable, changeFeed, fromCatalog, latest,
        limitN = pushedLimit.getOrElse(-1), topK = pushedTopK.getOrElse(-1),
        topKDesc = pushedTopKDesc, topKRev = pushedTopKRev, retention = retentionPolicy)
  }
}

case class CellsScan(root: String, table: String, lo: Long, hi: Long,
                     keys: CellsKeyPred, required: StructType,
                     stable: Boolean = false, changeFeed: Boolean = false,
                     fromCatalog: Boolean = false, latest: Boolean = false,
                     limitN: Int = -1, topK: Int = -1, topKDesc: Boolean = false,
                     topKRev: Boolean = false,
                     retention: Option[graft.ingest.Retention.Policy] = None)
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** PER-PARTITION ORDERING report ([[SupportsReportOrdering]]):
    * segments are (rowkey, version)-sorted and each partition is one
    * shard or a key-ordered run of disjoint shards, so a COMPACTED
    * table's scan already streams in sort order
    * — reporting it lets Catalyst drop local Sorts (`
    * sortWithinPartitions`, the sort under a storage-partitioned
    * merge join, window ORDER BY rowkey). The guarantee holds ONLY
    * when each scanned shard is a single segment with no put backlog:
    * put files drain before segments in listing order, and a second
    * segment restarts the key sequence — so the report is made
    * exactly when a driver-side listing proves every shard has ≤1
    * segment and 0 put files (the steady state a major leaves;
    * markers only DROP rows, which preserves sortedness, and the
    * $latest winner fold is an order-preserving subset). The listing
    * costs one directory walk at planning time and is memoized per
    * scan. The change-feed face interleaves marker rows and never
    * reports. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val names = required.fieldNames
    if (changeFeed || !names.contains("rowkey")) return Array.empty
    val sortedLayout = {
      if (orderedState == 0) {
        // a SPLIT-ELIGIBLE table (maxRegionBytes DDL) can never promise
        // a static per-partition ordering: an automatic split between
        // this report and execution would splice a second sorted run
        // into a partition AFTER Catalyst dropped its Sort — so the
        // report declines outright (readers keep their own dynamic
        // sortedness gate for the pushed-TopN cap either way).
        // Tables WITHOUT the DDL can still be mutated under the report
        // (CALL merge_regions runs on any table; puts land anytime) —
        // that residue is closed at READ time, not here: a reported
        // ordering arms the readers' mustSort verification, which
        // locally sorts a partition whose read-time layout no longer
        // streams sorted ([[createReaderFactory]])
        val splitEligible = graft.ingest.FileStore(root).readSpecJson(table)
          .map(graft.ingest.PushTableSink.TableSpec.fromJson)
          .exists(_.maxRegionBytes > 0)
        val ok = !splitEligible && Files.isDirectory(dir) &&
          CellsShards.prune(dir, effKeys).forall { shard =>
            // a mid-protocol satellite is never sorted
            val l = ShardFiles.list(shard)
            l.satellites.isEmpty && !l.own.exists(_.isPut) && l.own.count(_.isSegment) <= 1
          }
        orderedState = if (ok) 1 else -1
      }
      orderedState == 1
    }
    if (!sortedLayout) Array.empty
    else {
      val rk = Expressions.sort(Expressions.column("rowkey"), SortDirection.ASCENDING)
      if (names.contains("version"))
        Array(rk, Expressions.sort(Expressions.column("version"), SortDirection.ASCENDING))
      else Array(rk)
    }
  }
  @transient private var orderedState: Int = 0 // 0 unknown, 1 sorted, -1 not

  // RUNTIME (join-driven) rowkey filtering — the HBase batched-GET
  // idiom through Spark's own DPP machinery: when this scan is the
  // probe side of an equi-join on rowkey, Spark materializes the
  // build side first and hands its key set here BEFORE partitions are
  // (re)planned, so `fact JOIN keys` degrades from a full table scan
  // to the keys' regions and, within them, the keys' digests — the
  // same pruning a literal IN gets at compile time, driven by data
  // only known at run time. Narrowing is sound for ANY superset (the
  // join re-checks equality on the bytes), so unsupported runtime
  // predicates are simply ignored.
  @transient private var runtimeKeys: CellsKeyPred = keys
  private def effKeys: CellsKeyPred = if (runtimeKeys == null) keys else runtimeKeys

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // a metadata-only projection has no rowkey attribute to resolve a
    // runtime filter against — report none rather than fail analysis
    if (!required.fieldNames.contains("rowkey")) Array.empty
    else Array(org.apache.spark.sql.connector.expressions.Expressions.column("rowkey"))

  /** Narrow this scan to exactly `ks`' regions and digests — shared by
    * DPP-delivered runtime filters ([[filter]]) and the MERGE/UPDATE
    * source-key pre-pass ([[graft.plans.MergeSourcePruning]]). Sound
    * for any superset consumer (joins re-check equality on the bytes);
    * an EMPTY key set is a provably-empty scan (zero partitions). */
  private[graft] def narrowToRowkeys(ks: Seq[Array[Byte]]): Unit = {
    CellsSource.runtimeFilteredKeys.addAndGet(ks.size)
    val ds = ks.map(graft.ingest.FileStore.keyDigest).toSet
    val cur = effKeys
    runtimeKeys = cur.copy(
      digests = Some(cur.digests.fold(ds)(_ intersect ds)),
      points = Some(cur.points.fold(ks)(_.filter(k =>
        ds.contains(graft.ingest.FileStore.keyDigest(k))))))
  }

  /** true once a point-key predicate bounds this scan (compile-time
    * `=`/`IN`, a DPP runtime filter, or a prior source-key pre-pass) —
    * the pre-pass skips scans that are already narrow. */
  private[graft] def alreadyPointNarrowed: Boolean = effKeys.digests.isDefined

  override def filter(filters: Array[Filter]): Unit = {
    filters.foreach {
      case In("rowkey", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Array[Byte]]) =>
        narrowToRowkeys(vs.toSeq.map(_.asInstanceOf[Array[Byte]]))
      case EqualTo("rowkey", v: Array[Byte]) => narrowToRowkeys(Seq(v))
      case _ => () // superset scan stays correct; the join re-filters
    }
  }
  override def description(): String =
    s"graft-cells table=$table version=[$lo,$hi]" +
      keys.digests.fold("")(d => s" keys=${d.size}") +
      (if (keys.hasRange) " keyrange" else "") +
      (if (latest) " latest" else "") +
      (if (limitN >= 0) s" limit=$limitN" else "") +
      (if (topK >= 0) s" topK=$topK${if (topKRev) " rev" else ""}${if (topKDesc) " vdesc" else ""}" else "") +
      retention.fold("")(p => s" retention(max=${p.maxVersions},cutoff=${p.cutoff})") +
      s" cols=[${required.fieldNames.mkString(",")}]"

  /** Exact post-pruning LIVE statistics from the directory listing +
    * segment indexes alone (no file contents), so Catalyst can size
    * joins over cell tables: a small as-of slice or a compact `$latest`
    * dimension becomes a broadcast candidate instead of an unknown-size
    * shuffle side. Delete markers (both kinds) are applied — a
    * heavily-deleted table sizes as what a scan will actually emit —
    * and the `$latest` face counts DISTINCT live keys (one winner per
    * key), which is what makes `fact JOIN dim$latest` broadcast when
    * the dimension is small. Rowkey RANGES are only pruned to their
    * shard span here (exact bounds need the key bytes, which live
    * inside the file), and segment bytes are attributed as the whole
    * data region when any entry contributes — statistics may
    * overestimate, never underestimate, so a too-big side never
    * broadcasts. Read-time RETENTION ([[graft.ingest.Retention]]) is
    * deliberately NOT folded here: hidden-but-unreclaimed versions
    * still count, which is again only an overestimate (the safe
    * direction), and keeps planning free of the per-key fold. */
  /** Planning-cost tiers (cheapest first), chosen PER SHARD:
    *
    *  1. **Trailer-only** — no put backlog, no masking markers (or the
    *     feed face, which never masks), no point predicate, segment
    *     fully inside the version window: the GSE3 trailer's
    *     entryCount / distinctKeys / indexOffset answer rows and bytes
    *     with 52 bytes of I/O per segment — planning cost ∝ SEGMENTS,
    *     not cells, the steady post-compaction state of a 100 TB table.
    *  2. **Index fold, no identity set** — file-only shards (nothing
    *     to dedup against) and put-free shards (cross-segment
    *     duplicate identities can only OVERcount, which statistics are
    *     allowed to do) count while streaming.
    *  3. **Identity-set dedup** — only where both file kinds coexist
    *     (exact, the reader's winner) or on the `$latest` face, whose
    *     winner fold holds O(keys) state, never O(cells).
    */
  override def estimateStatistics(): Statistics = new Statistics {
    // automatic maintenance can delete a listed file mid-fold: retry
    // once off a fresh listing; if the store is churning that hard,
    // report "huge" — statistics may only ever overestimate, and an
    // overestimate merely declines a broadcast (the safe direction)
    private lazy val (rows, bytes) =
      try compute()
      catch {
        case _: java.io.IOException =>
          try compute()
          catch { case _: java.io.IOException => (Long.MaxValue >> 20, Long.MaxValue >> 20) }
      }
    private def compute(): (Long, Long) = {
      var n = 0L
      var b = 0L
      if (Files.isDirectory(dir)) {
        CellsShards.prune(dir, keys)
          .foreach { shard =>
            // one covered listing (satellite subdirs of a mid-protocol
            // region split expanded in place — their cells may be the
            // only resident copy, and statistics must not UNDERestimate):
            // the delete mask, per-cell puts, segments, and (feed) markers
            val covered = CellsReaders.listCovered(shard, None, "").files
            val mask = ShardFiles.maskOf(covered)
            def live(d: String, v: Long): Boolean =
              changeFeed || !mask.masked(d, v) // the edit log counts everything
            val noMasks = changeFeed || mask.isEmpty
            val puts = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
            val segs = scala.collection.mutable.ArrayBuffer.empty[Path]
            covered.foreach { e =>
              def inWindow = keys.fileOk(e.digest) && e.version >= lo && e.version <= hi
              if (e.isSegment) segs += e.path
              else if (e.isMarker) {
                // markers are feed rows (op='delete'/'delete_version')
                // — uncounted, the feed face would UNDERestimate
                if (changeFeed && inWindow) { n += 1; b += Files.size(e.path) }
              } else if (inWindow && live(e.digest, e.version))
                puts += ((e.digest, e.version, Files.size(e.path)))
            }

            // stream a segment's live in-window index entries; None if
            // the trailer excludes the segment outright, else
            // Some(dataRegionBytes) with f applied to each entry (by
            // number: f builds an entry's hex only if it keys a map)
            def foldSeg(p: Path)(f: (CellSegment.Index, Int) => Unit): Option[Long] = {
              val t = CellSegment.readTrailer(p)
              if (t.entryCount == 0 || t.minVersion > hi || t.maxVersion < lo) None
              else {
                var any = false
                val index = CellSegment.indexOf(p)
                var i = 0
                while (i < index.length) {
                  val v = index.version(i)
                  if (v >= lo && v <= hi && keys.entryOk(index, i) &&
                    (noMasks || live(index.digestHex(i), v))) { f(index, i); any = true }
                  i += 1
                }
                if (any) Some(t.indexOffset) else None
              }
            }
            // tier-1 eligibility (whole-segment trailer answer)
            def wholeWindow(t: CellSegment.Trailer): Boolean =
              noMasks && keys.digests.isEmpty && t.entryCount > 0 &&
                t.minVersion >= lo && t.maxVersion <= hi

            if (latest) {
              // one winner per key — O(keys) planner state: puts carry
              // their size; a segment holding any winner contributes
              // its whole data region (overestimate, never under).
              // Put-free shard with no masks: the trailer's
              // distinctKeys bounds the winner count from above with
              // no index I/O at all.
              if (puts.isEmpty && noMasks && keys.digests.isEmpty &&
                segs.forall(p => wholeWindow(CellSegment.readTrailer(p)))) {
                segs.foreach { p =>
                  val t = CellSegment.readTrailer(p)
                  n += t.distinctKeys
                  b += t.indexOffset
                }
              } else {
                // digest -> (winning version, put size or -1)
                val winners = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
                puts.foreach { case (d, v, sz) =>
                  if (winners.getOrElse(d, (Long.MinValue, -1L))._1 < v) winners(d) = (v, sz)
                }
                var segBytes = 0L
                segs.foreach { p =>
                  foldSeg(p) { (index, i) =>
                    val (d, v) = (index.digestHex(i), index.version(i))
                    if (winners.getOrElse(d, (Long.MinValue, -1L))._1 < v) winners(d) = (v, -1L)
                  }.foreach(segBytes += _)
                }
                n += winners.size
                b += winners.valuesIterator.map(_._2).filter(_ >= 0).sum
                if (winners.valuesIterator.exists(_._2 < 0)) b += segBytes
              }
            } else if (segs.isEmpty) {
              // file-only shard: identities are filenames — unique
              n += puts.size
              b += puts.iterator.map(_._3).sum
            } else if (puts.isEmpty) {
              // put-free shard: count per segment — trailer-only when
              // the whole segment is in-window and unmasked, index
              // fold otherwise; cross-segment duplicate identities
              // (bulk replay) only overcount, never under
              segs.foreach { p =>
                val t = CellSegment.readTrailer(p)
                if (wholeWindow(t)) { n += t.entryCount.toLong; b += t.indexOffset }
                else {
                  var cnt = 0L
                  foldSeg(p)((_, _) => cnt += 1).foreach { db => n += cnt; b += db }
                }
              }
            } else {
              // both kinds present: exact identity dedup, the reader's
              // winner — bounded by the shard's cell count and kept
              // flat by compaction (which empties the put backlog and
              // returns the shard to the cheap tiers above)
              val cells = scala.collection.mutable.HashMap.empty[(String, Long), Long]
              puts.foreach { case (d, v, sz) => cells((d, v)) = sz }
              var segBytes = 0L
              segs.foreach { p =>
                foldSeg(p)((index, i) => cells.getOrElseUpdate((index.digestHex(i), index.version(i)), -1L))
                  .foreach(segBytes += _)
              }
              n += cells.size
              b += cells.valuesIterator.filter(_ >= 0).sum + segBytes
            }
          }
      }
      (n, b)
    }
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // a rowkey point lookup plans ONLY its shard — 1 input partition
    // out of the table's whole region set (a region-server point read,
    // not a table scan); a range/prefix scan plans the contiguous
    // shard span it covers. The pruned shards are then packed
    // ([[CellsShards.plan]]): a table scan costs as many tasks as
    // cores until its bytes outgrow them, not one per region — except
    // under the key-grouped report below (one region per partition).
    //
    // The key predicate rides IN each partition, not in the reader
    // factory: Spark may create the factory during planning — BEFORE
    // runtime filtering delivers the join keys — while partitions are
    // always (re)planned AFTER scan.filter(), so this is the only
    // placement where join-driven digest narrowing actually reaches
    // the executors (caught by a probe where the factory-captured keys
    // made a filtered read stream whole segments).
    //
    // Each partition also carries its REGION INDEX as its partition
    // key (HasPartitionKey) — the value side of the KeyGroupedPartitioning
    // this scan reports for storage-partitioned joins.
    val splits = tableSplits
    // ONE listing per plan state: Spark asks for partitions from
    // outputPartitioning AND from the exec's own planning; memoize per
    // effective key predicate (same instance ⇒ same listing) so the
    // directory walk happens once — re-planned after a runtime filter
    // narrows the keys, because effKeys is then a NEW instance
    val k = effKeys
    val cached = plannedPartitions
    if (cached != null && (cached._1 eq k)) return cached._2
    val planned = CellsShards.plan(dir, splits, k, lo, hi, keyGrouped)
    plannedPartitions = (k, planned)
    planned
  }

  @transient private var plannedPartitions: (CellsKeyPred, Array[InputPartition]) = _

  /** the shards this scan plans (after pruning and any runtime
    * narrowing), in key order — packed or not */
  private[graft] def plannedShards: Seq[CellsShard] =
    planInputPartitions().toSeq.flatMap {
      case g: CellsShardGroup => g.shards
      case s: CellsShard => Seq(s)
    }

  private def dir = Paths.get(root, table.replace(':', '~'))
  @transient private lazy val tableSplits = graft.ingest.FileStore.splitsAt(dir)

  // the key-grouped report references rowkey — a metadata-only
  // projection (provenance columns without the key) cannot resolve it,
  // and format-based reads have no function catalog to resolve against
  private def keyGrouped: Boolean = fromCatalog && required.fieldNames.contains("rowkey")

  /** STORAGE-PARTITIONED JOIN face (catalog reads only): the scan's
    * rows are key-grouped by `graft_shard_<layout>(rowkey)` — the
    * table's own region assignment as a V2 function resolvable through
    * [[CellsCatalog]], with each partition's region index as its
    * partition value. Two same-layout tables report the SAME canonical
    * function over compatible values, so EnsureRequirements plans a
    * rowkey equi-join with no exchange on either side (the co-located
    * region join, discovered by Catalyst itself under
    * spark.sql.sources.v2.bucketing.enabled), so these reads keep one
    * region per partition. Format-based reads have no function catalog
    * to resolve against: they report unknown, and pack their shards. */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    if (!keyGrouped)
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    else {
      val fp = CellsCatalog.fingerprintOf(tableSplits)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions.apply(
          s"graft_shard_$fp",
          org.apache.spark.sql.connector.expressions.Expressions.column("rowkey"))),
        planInputPartitions().length)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // mustSort: when this scan REPORTED a static per-partition ordering
    // (orderedState == 1 — only ever set by [[outputOrdering]], which
    // runs during physical planning, strictly before this factory is
    // built), Catalyst may have dropped a Sort on the report's
    // strength. The sorted-layout gate is a plan-time listing, and a
    // maintenance op between that listing and execution (a CALL
    // merge_regions folding a second sorted run into a shard, a put
    // wave + flush) can silently void it — so the readers re-verify
    // the premise against their OWN read-time listing and locally sort
    // the partition when it no longer holds ([[CellsReaderFactory]]).
    // the change-feed BATCH face is the same edit log at rest: unmasked
    // puts + delete rows (scan-the-WAL), vs the default masked view
    CellsReaderFactory(required.fieldNames, maskDeletes = !changeFeed, emitOps = changeFeed,
      latest, limitN, topK, topKDesc, topKRev, retention, mustSort = orderedState == 1)

  /** SQL-UI metrics per scan node — pruning quality visible without
    * the global test counters. */
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new FilesOpenedMetric, new CellsEmittedMetric)

  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(!latest, "the $latest face has no stream form — stream the base table or $changes")
    CellsMicroBatch(root, table, lo, hi, keys, required.fieldNames, stable, changeFeed)
  }
}

/** Streaming read face: tail the cell store by VERSION watermark —
  * `spark.readStream.format("graft-cells")...` turns the versioned KV
  * sink into a change feed. Each micro-batch delivers exactly the
  * cells with version in (lastOffset, latestOffset]; the offset is the
  * max version visible at planning time, so replaying a batch from the
  * checkpoint relists the same closed range and regenerates the SAME
  * rows (deterministic filename listing — exactly-once delivery with
  * no source-side state beyond the one long in the offset log).
  *
  * Contract: between one micro-batch's offset commit and the next
  * planning pass, every new cell must land at a version STRICTLY ABOVE
  * the highest version visible at commit time — the watermark is the
  * max version on disk, so a later append at a version ≤ that watermark
  * (including EQUAL: two same-epoch-millisecond writes straddling a
  * commit) falls outside the (s, e] window and is never delivered. The
  * ingest pipeline's per-table epoch-millis versions satisfy this
  * whenever the producer is single-writer-per-table or its clock ticks
  * between batches; a back-dated or same-tick straddling write is
  * outside the feed's delivery guarantee (CellsSourceSpec pins the
  * miss) but always visible to the BATCH face — the same contract an
  * HBase timestamp tailer or a watermarked Kafka consumer carries.
  * `option("stableOffsets", "true")` trades one version tick of
  * delivery lag for closing exactly that hole: offsets stop one below
  * the max version on disk, so a version is only committed past once
  * it is SEALED by a strictly higher one, and the same-tick straddler
  * IS delivered (spec-pinned both ways).
  * Version and rowkey pushdown compose: a `.where("version >= T")` on
  * the stream bounds the watermark window at the FILENAME level,
  * exactly like the batch face. Each micro-batch plans and reads like
  * the batch scan: [[CellsShards.plan]] packs its pruned shards, the
  * batch window riding in each [[CellsShard]], and
  * [[CellsReaderFactory]] reads them with the edit-log flags. */
case class CellsOffset(v: Long) extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"v":$v}"""
}

case class CellsMicroBatch(root: String, table: String, lo: Long, hi: Long,
                           keys: CellsKeyPred, cols: Array[String],
                           stable: Boolean = false, changeFeed: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  // Trigger.AvailableNow contract: snapshot the watermark ONCE at
  // prepare time; every batch in the run drains up to that cap and the
  // query stops there, even if a producer keeps appending mid-run.
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(sealedOffset(maxVersionOnDisk))

  /** Offset the feed may deliver up to. Default: the max version on
    * disk. With `stableOffsets=true` the TIP version is held back
    * (max − 1): a version is only considered SEALED once a strictly
    * higher one exists, so a same-tick producer whose second write at
    * version == max lands after a commit is still inside the next
    * batch's (max−1, ·] window — exactly-once delivery without the
    * single-writer/clock-tick caveat, at the cost of one version tick
    * of delivery lag (the newest version ships only after a newer one
    * arrives — or never, in a bounded AvailableNow run that ends on
    * it). */
  private def sealedOffset(mx: Long): Long =
    if (mx == Long.MinValue) Long.MinValue
    else if (stable) mx - 1
    else mx
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    availableNowCap.fold(latestOffset())(CellsOffset(_))
  override def reportLatestOffset(): Offset = latestOffset()

  private def dir = Paths.get(root, table.replace(':', '~'))

  /** max version currently on disk within the pushed [lo, hi] window —
    * a filename sweep, no file contents (the same store-index shape a
    * real backend would serve from memory). */
  private def maxVersionOnDisk: Long = {
    var mx = Long.MinValue
    if (Files.isDirectory(dir)) {
      CellsShards.prune(dir, keys)
        .foreach { shard =>
          // covered listing: a mid-split satellite may momentarily hold
          // the shard's only copy of its max version — skipping it would
          // dip the reported watermark (harmless for delivery, but the
          // expansion is one subdir listing and keeps the report exact)
          CellsReaders.listCovered(shard, None, "").files.foreach { f =>
            val p = f.path
            if (f.isSegment) {
              // bulk segments advance the watermark too: trailer-only
              // read in the common case, index read under a point
              // predicate (both content-I/O-free). A segment the
              // automatic maintenance deleted mid-sweep is skipped:
              // its merge output carries the same versions (in this
              // listing, or the next planning pass's — a momentarily
              // lower report just means "no new data yet", never a
              // committed-offset regression)
              val t = try CellSegment.readTrailer(p)
                      catch { case _: java.io.IOException =>
                        CellSegment.Trailer(0, 0, 0, 0, 0, 0, 0) }
              if (t.entryCount > 0 && t.minVersion <= hi && t.maxVersion >= lo) {
                val segMax = try {
                  if (keys.digests.isEmpty && t.maxVersion <= hi) t.maxVersion
                  // ROW bloom: a segment none of the probed keys can
                  // be in never advances the watermark — skip its index
                  else if (!keys.bloomOk(p)) Long.MinValue
                  else {
                    val index = CellSegment.indexOf(p)
                    var m = Long.MinValue
                    var i = 0
                    while (i < index.length) {
                      val v = index.version(i)
                      if (v >= lo && v <= hi && v > m && keys.entryOk(index, i)) m = v
                      i += 1
                    }
                    m
                  }
                } catch { case _: java.io.IOException => Long.MinValue } // vanished mid-sweep
                if (segMax > mx) mx = segMax
              }
            } else if (keys.fileOk(f.digest) && f.version >= lo && f.version <= hi &&
              f.version > mx && (f.isPut || changeFeed))
              // delete markers (BOTH kinds) are feed rows on the
              // change-feed face, so they advance the watermark like any
              // other edit (a delete with no subsequent put must still
              // get delivered)
              mx = f.version
          }
        }
    }
    mx
  }

  override def initialOffset(): Offset = CellsOffset(Long.MinValue)
  override def latestOffset(): Offset = CellsOffset(sealedOffset(maxVersionOnDisk))
  override def deserializeOffset(json: String): Offset =
    // {"v":N} — one signed long field, no JSON lib needed
    CellsOffset(json.replaceAll("[^0-9-]", "").toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CellsOffset].v
    val e = end.asInstanceOf[CellsOffset].v
    if (e <= s || !Files.isDirectory(dir)) return Array.empty
    // the batch window (s, e] intersected with the pushed [lo, hi]:
    // saturating guard — s = Long.MinValue means "from the beginning"
    val bLo = math.max(lo, if (s == Long.MinValue) Long.MinValue else s + 1)
    val bHi = math.min(hi, e)
    // the window rides in each partition: createReaderFactory() never
    // sees the offsets
    CellsShards.plan(dir, graft.ingest.FileStore.splitsAt(dir), keys, bLo, bHi)
  }

  // the feed is an EDIT log: tombstones never rewrite already-committed
  // batch windows (replay determinism) — maskDeletes=false. With
  // changeFeed the markers THEMSELVES are versioned feed rows
  // (op='delete'), so a downstream view can apply the delete.
  override def createReaderFactory(): PartitionReaderFactory =
    CellsReaderFactory(cols, maskDeletes = false, emitOps = changeFeed)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One shard read, as planned by [[CellsShards.plan]] for every face:
  * the directory, the key predicate, the version window [lo, hi] (a
  * stream batch's (s, e] ∩ the pushed window), the listed end, the
  * planned layout fingerprint, the first-region flag and the region
  * index. */
case class CellsShard(dir: String, keys: CellsKeyPred,
                      lo: Long = Long.MinValue, hi: Long = Long.MaxValue,
                      shardIdx: Int = -1,
                      endName: Option[String] = None, plannedFp: String = "",
                      firstShard: Boolean = false)
    extends InputPartition with HasPartitionKey {
  // the region index IS the partition value of the scan's reported
  // KeyGroupedPartitioning; -1 (a dir outside the recorded layout)
  // never coexists with a catalog read's partitioning report
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](shardIdx))
}

/** The row reader of the batch scan and the micro-batch stream. The
  * delete flags are the face's: the masked view (`maskDeletes`), or the
  * edit log (`maskDeletes = false`, `emitOps` for typed op rows); the
  * `$latest` face folds each key to its max live version. */
case class CellsReaderFactory(cols: Array[String],
                              maskDeletes: Boolean = true, emitOps: Boolean = false,
                              latest: Boolean = false,
                              limitN: Int = -1, topK: Int = -1,
                              topKDesc: Boolean = false,
                              topKRev: Boolean = false,
                              retention: Option[graft.ingest.Retention.Policy] = None,
                              mustSort: Boolean = false)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    CellsShards.read(partition, if (limitN >= 0) limitN.toLong else Long.MaxValue)(shardReader)

  private def shardReader(p: CellsShard): PartitionReader[InternalRow] = {
    val m = new CellsReaderMetrics
    // pushed `rowkey DESC` top-N: the REVERSE capped read path (its
    // own layout gate, truncation, and forward fallback — see
    // [[CellsReaders.reverseCapped]]); the ASC machinery below never
    // composes with it (an ASC-stream cap would truncate the wrong end)
    // (mustSort composes safely here: a pushed DESC top-N implies a
    // DESC Sort+Limit directly above the scan, which an ASC ordering
    // report can never satisfy — Catalyst retains that Sort, so the
    // reverse emission order is always re-sorted and the report is
    // inert on this path)
    if (topKRev && topK >= 0)
      return new CellsMetricsReader(CellsReaders.reverseCapped(p.dir, p.lo, p.hi, p.keys,
        cols, topK, exactOrder = topKDesc, taskMetrics = m, retention = retention,
        endName = p.endName, plannedFp = p.plannedFp, firstShard = p.firstShard), m)
    val base = CellsReaders.reader(p.dir, p.lo, p.hi, p.keys, cols,
      maskDeletes = maskDeletes, emitOps = emitOps, latestOnly = latest,
      taskMetrics = m, retention = retention,
      endName = p.endName, plannedFp = p.plannedFp, firstShard = p.firstShard)
    // per-shard row cap: LIMIT truncates unconditionally (any N rows
    // are a correct answer under the retained GlobalLimit); TopN only
    // when this shard provably streams sorted — decided by the READER
    // off the SAME listing it iterates ([[CellsShardReader.
    // layoutSorted]]), so a put racing the planning pass can never
    // leave a cap active on a stream that is no longer sorted.
    // Otherwise every row flows and Spark's TakeOrdered decides.
    //
    // Two TopN modes: ASC (stream order — stop after exactly N rows)
    // and version-DESC (latest-k-versions serving shape — stop at the
    // first KEY CHANGE once ≥N rows are out: later keys rank strictly
    // after all emitted rows, and the current key's remaining ASC
    // versions may still rank inside the top N). The DESC cap needs
    // the rowkey in the projection to see group boundaries; a
    // projection without it (possible in exotic plans) just declines
    // the cap — correctness never rests on the truncation.
    val rowkeyIdx = cols.indexOf("rowkey")
    // ORDER RESTORATION (ADVICE r16): when this scan REPORTED a static
    // (rowkey[, version]) per-partition ordering (mustSort — Catalyst
    // may have dropped a Sort on the report's strength), the plan-time
    // sorted-layout gate is only a listing, and maintenance between
    // planning and execution can void it on ANY table — a CALL
    // merge_regions folds a second sorted run into the left shard, a
    // put wave lands, a daughter gets promoted into the planned range.
    // The reader re-verifies the single-sorted-run premise against its
    // OWN read-time listing ([[CellsShardReader.layoutSorted]], which
    // already counts satellite-expanded and escalated-coverage files):
    // if it no longer holds, caps are skipped (they are partial pushes
    // — the retained GlobalLimit / TakeOrdered finalize) and the
    // partition is DRAINED AND SORTED locally. Bounded by the region's
    // rows — the same order of bytes the maintenance op that caused it
    // just moved — and only ever paid on that race, never in steady
    // state. The reverse-TopN push above also declines under mustSort:
    // DESC emission can never serve an ASC report.
    if (mustSort && !base.layoutSorted) {
      require(rowkeyIdx >= 0, "an ordering report always projects rowkey")
      val versionIdx = cols.indexOf("version")
      val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      while (base.next()) buf += base.get().copy()
      val sorted = buf.sortWith { (a, b) =>
        val c = java.util.Arrays.compareUnsigned(
          a.getBinary(rowkeyIdx), b.getBinary(rowkeyIdx))
        if (c != 0) c < 0
        else versionIdx >= 0 && a.getLong(versionIdx) < b.getLong(versionIdx)
      }
      return new CellsMetricsReader(new PartitionReader[InternalRow] {
        private val it = sorted.iterator
        private var row: InternalRow = _
        override def next(): Boolean = it.hasNext && { row = it.next(); true }
        override def get(): InternalRow = row
        override def close(): Unit = base.close()
      }, m)
    }
    // TopN eligibility is DYNAMIC (ADVICE r15): a mid-scan resilience
    // rebuild voids the sorted-stream guarantee (base.layoutSorted
    // flips false), so the TopN truncation re-checks it at every STOP
    // decision and falls back to emitting all rows for the retained
    // TakeOrdered — while a plain LIMIT cap stays active regardless
    // (any N rows are a correct LIMIT answer, sorted or not).
    def topOk = topK >= 0 && base.layoutSorted && (!topKDesc || rowkeyIdx >= 0)
    val wasCapped = limitN >= 0 || (topK >= 0 && topOk)
    // (descMode composes with mustSort: its truncation stops at key
    // boundaries but emission stays in stream order, so the ASC report
    // is never violated by it)
    val descMode = topKDesc && limitN < 0 && topK >= 0 && rowkeyIdx >= 0
    val mustVerifyOrder = mustSort && rowkeyIdx >= 0 // premise held at construction — guard the stream
    val versionIdxV = if (mustVerifyOrder) cols.indexOf("version") else -1
    new CellsMetricsReader(new PartitionReader[InternalRow] {
      private var emitted = 0L
      private var row: InternalRow = _
      private var lastKey: Array[Byte] = _
      private var done = false
      // mustSort stream guard: the premise can still void MID-stream
      // (a vanish-resilience rebuild replays off a fresh listing whose
      // tail may interleave). Already-emitted rows can't be recalled,
      // so an actual inversion fails LOUDLY instead of serving a
      // silently mis-ordered result; in-order rebuilds (a major
      // rewriting the same row set) pass the check and keep streaming.
      private var lastOrdKey: Array[Byte] = _
      private var lastOrdVer: Long = 0L
      private def verifyOrder(r: InternalRow): Unit = {
        val k = r.getBinary(rowkeyIdx)
        if (lastOrdKey ne null) {
          val c = java.util.Arrays.compareUnsigned(lastOrdKey, k)
          if (c > 0 || (c == 0 && versionIdxV >= 0 &&
            r.getLong(versionIdxV) < lastOrdVer))
            throw new java.io.IOException(
              "reported scan ordering was invalidated by concurrent store " +
                "maintenance mid-read — rerun the query")
        }
        lastOrdKey = k
        if (versionIdxV >= 0) lastOrdVer = r.getLong(versionIdxV)
      }
      private def cap: Long = math.min(
        if (limitN >= 0) limitN.toLong else Long.MaxValue,
        if (topK >= 0 && topOk && !descMode) topK.toLong else Long.MaxValue)
      override def next(): Boolean = {
        if (done) return false
        if (!descMode) {
          if (emitted >= cap) { done = true; return false }
          if (!base.next()) { done = true; return false }
          row = base.get()
          if (mustVerifyOrder) verifyOrder(row)
          emitted += 1; true
        } else {
          if (!base.next()) { done = true; return false }
          val r = base.get()
          val k = r.getBinary(rowkeyIdx)
          if (topOk && emitted >= topK && (lastKey ne null) &&
            !java.util.Arrays.equals(k, lastKey)) {
            done = true; return false
          }
          lastKey = k; row = r; emitted += 1; true
        }
      }
      override def get(): InternalRow = row
      override def close(): Unit = {
        if (wasCapped) CellsSource.cappedRowsEmitted.addAndGet(emitted)
        base.close()
      }
    }, m)
  }
}

/** The shard reader of every cell face — the row scan and micro-batch
  * stream (through [[CellsReaderFactory]]) and the pushed aggregate
  * (a version-only projection): identical filename pruning,
  * point-lookup digest filter, exact rowkey-range re-check, and
  * column-pruned I/O.
  *
  * Reads BOTH store-file kinds and merges them on the cell identity
  * (key digest, version) — the HBase read model where every store file
  * (flushed put or bulk-loaded HFile) contributes to one logical view:
  *
  *  - per-cell put files: the original path, filename-pruned;
  *  - bulk [[graft.ingest.CellSegment]]s: pruned at SEGMENT level by
  *    the trailer's version bounds (the filename prune's analog), at
  *    ENTRY level by the digest index (point lookups seek straight to
  *    the probed entries; a version-only projection reads the index
  *    and never the data region), and by the same parsed-key range
  *    re-check before any body is surfaced.
  *
  * A (key, version) present in several store files (bulk replay, bulk
  * after push, an in-place UPDATE over a segment-resident cell) is
  * emitted ONCE, in READ-PRECEDENCE order: the per-cell put file (the
  * memstore analog — always the newest edit at its coordinate, since a
  * re-put atomically replaces the file) shadows every segment copy,
  * and among segments the higher trailer seqNo (the HBase
  * max-sequence-id analog) wins. The dedup set holds one
  * (digest, version) pair per emitted cell of ONE shard — bounded by
  * shard cardinality, the same order of memory HBase spends on
  * store-file block indexes per region, and kept flat by compaction.
  */
/** Batch-face shard-reader handle: [[layoutSorted]] reports whether
  * this reader's OWN listed file set provably streams in (rowkey,
  * version) order — ≤1 segment, zero put backlog — derived from the
  * single listing the rows themselves come from, so the pushed-TopN
  * cap and the stream it truncates can never disagree about layout
  * (a put landing between two separate listings used to open exactly
  * that race). */
trait CellsShardReader extends PartitionReader[InternalRow] {
  def layoutSorted: Boolean
}

object CellsReaders {

  /** The store-file set COVERING one planned partition range — the
    * region-split visibility contract ([[graft.ingest.RegionSplit]]):
    *
    *  1. the shard's OWN directory, with any SATELLITE subdirectory
    *    (`_split-<hex>/`, a mid-protocol daughter) expanded in place —
    *    recursively, for a daughter already mid-second-split;
    *  2. only when the table's split layout CHANGED since this
    *    partition was planned (fingerprint mismatch — one stamp-
    *    validated stat): daughter region directories promoted into
    *    (myStart, plannedEnd), so a partition planned before a split
    *    still covers its whole planned range afterwards.
    *
    * Ordering closes the last race: the OWN directory is listed FIRST
    * and the split's sweep strictly follows its publish — a reader
    * that finds no satellite/daughter is guaranteed to have listed the
    * parent while the absorbed files were still present. Whatever
    * overlap the windows create is resolved by the identity dedup
    * every caller already performs. */
  /** A partition's covered file set plus — when LAYOUT-STALE — the
    * planned key-range bound the reader must re-apply exactly.
    * `bound = Some((loInclusive, hiExclusiveOpt))` forces content
    * reads; rows outside the planned range are someone else's. */
  private[sources] final case class Covered(
      files: Vector[ShardFiles.Entry],
      bound: Option[(Array[Byte], Option[Array[Byte]])])

  private[sources] def listCovered(shardDir: Path, endName: Option[String],
                                   plannedFp: String,
                                   firstShard: Boolean = false): Covered = {
    val myStart = graft.ingest.FileStore.Splits.startOf(shardDir.getFileName.toString)
    val end = endName.flatMap(graft.ingest.FileStore.Splits.startOf)
    def expand(d: Path): Vector[ShardFiles.Entry] = ShardFiles.list(d).covered
    val own = expand(shardDir) // own dir FIRST — see the ordering argument
    // LAYOUT-STALE discovery: when the split layout changed since this
    // partition was planned (one stamp-validated stat), region splits
    // and merges may have moved parts of the planned range into OTHER
    // directories — promoted daughters, merge satellites parked
    // leftward, even plain files of a dir that merged-and-resplit. The
    // airtight coverage rule: read EVERY directory whose
    // current-listing range intersects the PLANNED range, and hand the
    // caller the planned range as an exact key bound to re-apply —
    // each surviving row then belongs to exactly one stale partition,
    // however many maintenance ops intervened. The bound costs key
    // reads (no metadata-only emission) on this rare mid-maintenance
    // path only.
    val guarded = plannedFp.nonEmpty && myStart.isDefined
    val stale = guarded && {
      val layout = graft.ingest.FileStore.splitsAt(shardDir.getParent)
      // A FINGERPRINT MATCH does not prove coverage: both maintenance
      // protocols change the LAYOUT FILE before their directory renames
      // land (split: record boundary → promote satellite; merge: unbind
      // boundary → park right region), and planners never lock — so a
      // scan planned inside that window carries the POST-change
      // fingerprint with a PRE-rename directory listing. Its reader
      // would then pass the fp check while its planned coverage is
      // already wrong. Escalate to the bounded path whenever the
      // read-time state DISAGREES with planned coverage, fp match or
      // not:
      //  (a) own directory gone — my range was merged away (parked
      //      into the left neighbor) after planning listed it;
      //  (b) a layout boundary strictly inside my planned range whose
      //      directory now EXISTS — a daughter promoted after planning
      //      listed only the parent (pre-promote, the satellite rides
      //      along in `own`; post-promote, only this check covers it);
      //  (c) my planned END is no longer a layout boundary — the right
      //      neighbor merged leftward (parked, or already folded into
      //      my own directory as plain files); the bound keeps this
      //      reader inside its planned range so the escalated right
      //      partition is the one that emits those rows.
      // Steady-state cost: (a)/(c) are in-memory against the layout
      // already read for the fp check; (b) stats only boundaries with
      // no adjacent listed directory (zero on a fully-materialized
      // table — plannedEnd IS the next boundary).
      val ms = myStart.get
      val tableDir = shardDir.getParent
      def promotedInside: Boolean = layout.starts.indices.exists { i =>
        val st = layout.starts(i)
        CellsKeyPred.cmp(st, ms) > 0 &&
          end.forall(e => CellsKeyPred.cmp(st, e) < 0) &&
          Files.isDirectory(tableDir.resolve(layout.names(i)))
      }
      CellsCatalog.fingerprintOf(layout) != plannedFp ||
        !Files.isDirectory(shardDir) ||
        endName.exists(n => !layout.names.contains(n)) ||
        promotedInside
    }
    if (!stale) Covered(own, None)
    else {
      val ms = myStart.get
      val myLo = if (firstShard) Array.emptyByteArray else ms
      val tableDir = shardDir.getParent
      val named = ShardFiles.regions(tableDir).map(p =>
        (p, graft.ingest.FileStore.Splits.startOf(p.getFileName.toString).get))
      val others = named.zipWithIndex.flatMap { case ((p, st), i) =>
        if (p.getFileName.toString == shardDir.getFileName.toString) Vector.empty
        else {
          val nextSt = if (i + 1 < named.size) Some(named(i + 1)._2) else None
          val lo2 = if (i == 0) Array.emptyByteArray else st
          // current range [lo2, nextSt) intersects planned [myLo, end)?
          val intersects =
            end.forall(e => CellsKeyPred.cmp(lo2, e) < 0) &&
              nextSt.forall(n2 => CellsKeyPred.cmp(n2, myLo) > 0)
          if (intersects) expand(p) else Vector.empty
        }
      }
      Covered(own ++ others, Some((myLo, end)))
    }
  }

  /** REVERSE CAPPED shard reader — the HBase `Scan.setReversed` read
    * path under a pushed `ORDER BY rowkey DESC [, version DESC]
    * LIMIT k`: a COMPACTED shard (exactly one segment, zero puts —
    * the same layout gate as the forward TopN) walks its CACHED index
    * backward and SEEKS only the surviving entries, so the scan reads
    * ~k entries per region instead of the shard. Any other layout
    * falls back to the forward reader UNCAPPED (the retained
    * TakeOrdered finalizes — the push is partial, truncation is pure
    * I/O savings). Masks, retention, the version window, point
    * digests, and the exact key-range re-check all apply exactly as
    * forward. Vanish-resilient: a maintenance race rebuilds from a
    * fresh listing preserving the emitted-identity set; if the fresh
    * layout no longer supports reverse streaming, the rebuild IS the
    * forward fallback (already-emitted identities dedup away).
    *
    * `exactOrder` (the two-column DESC shape): the reversed index IS
    * (rowkey DESC, version DESC), stop after exactly k. Key-only
    * shape: stop at the first key change once ≥ k rows are out (equal
    * keys are tie-equivalent under the requested order). */
  def reverseCapped(shardDir: String, lo: Long, hi: Long, keys: CellsKeyPred,
                    cols: Array[String], k: Int, exactOrder: Boolean,
                    taskMetrics: CellsReaderMetrics,
                    retention: Option[graft.ingest.Retention.Policy],
                    endName: Option[String], plannedFp: String,
                    firstShard: Boolean = false): PartitionReader[InternalRow] = {
    val seen = scala.collection.mutable.HashSet.empty[(String, Long)]
    val seenKeys = scala.collection.mutable.HashSet.empty[String]
    val needKey = cols.contains("rowkey")
    val needBody = cols.contains("body")
    val readsContent = needKey || needBody || keys.hasRange

    def makeReverse(): Option[PartitionReader[InternalRow]] = {
      val cv = listCovered(Paths.get(shardDir), endName, plannedFp, firstShard)
      // layout-stale (mid-maintenance): decline the reverse walk — the
      // forward fallback applies the planned-range bound exactly
      if (cv.bound.isDefined) return None
      val covered = cv.files
      val segs = covered.filter(_.isSegment)
      if (covered.exists(_.isPut) || segs.size != 1) return None
      val seg = segs.head.path
      // masks from the same covered listing
      val mask = ShardFiles.maskOf(covered)
      val index = CellSegment.indexOf(seg)
      // read-time retention over the key's FULL live version list —
      // one O(index) metadata fold, only on retention-active tables
      lazy val retained: Map[String, Set[Long]] = {
        val pol = retention.get
        val byDigest = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
        (0 until index.length).foreach { i =>
          if (keys.entryOk(index, i)) {
            val (d, v) = (index.digestHex(i), index.version(i))
            if (!mask.masked(d, v))
              byDigest.getOrElseUpdate(d, scala.collection.mutable.ArrayBuffer.empty[Long]) += v
          }
        }
        byDigest.map { case (d, vs) => d -> pol.admitted(vs.toSeq) }.toMap
      }
      def admitted(d: String, v: Long): Boolean =
        retention.isEmpty || retained.get(d).exists(_.contains(v))
      var opened = false
      val shardNameU8 = org.apache.spark.unsafe.types.UTF8String
        .fromString(Paths.get(shardDir).getFileName.toString)
      val fileU8 = org.apache.spark.unsafe.types.UTF8String
        .fromString(seg.getFileName.toString)
      Some(new PartitionReader[InternalRow] {
        private var i = index.length - 1
        private var emitted = 0L
        private var lastDigest: String = _
        private var row: InternalRow = _
        private var done = false
        override def next(): Boolean = {
          if (done) return false
          while (i >= 0) {
            val at = i
            i -= 1
            val version = index.version(at)
            // byte-level tests first; hex only for an entry that passes
            val d = if (version >= lo && version <= hi && keys.entryOk(index, at))
              index.digestHex(at) else null
            if ((d ne null) && !mask.masked(d, version) && admitted(d, version) &&
              !seen((d, version))) {
              // the cap: exact shape stops at k; key-only shape stops
              // at the first key change once ≥ k rows are out
              if (exactOrder && emitted >= k) { done = true; return false }
              if (!exactOrder && emitted >= k && (lastDigest ne null) &&
                lastDigest != d) { done = true; return false }
              val built: Option[InternalRow] =
                if (!readsContent) Some(mk(null, version, null))
                else {
                  if (!opened) { opened = true
                    CellsSource.filesOpened.incrementAndGet()
                    if (taskMetrics ne null) taskMetrics.filesOpened += 1
                  }
                  val (key, v, b) = CellSegment.entryAt(seg, index, at, needBody)
                  if (!keys.keyOk(key)) None else Some(mk(key, v, b))
                }
              built match {
                case Some(r) =>
                  seen += ((d, version))
                  lastDigest = d
                  emitted += 1
                  row = r
                  return true
                case None => () // out of key range — keep walking
              }
            }
          }
          done = true
          false
        }
        private def mk(key: Array[Byte], version: Long, body: Array[Byte]): InternalRow =
          new GenericInternalRow(cols.map {
            case "rowkey" => key
            case "version" => version
            case "body" => body
            case "_shard" => shardNameU8
            case "_file" => fileU8
            case "_kind" => org.apache.spark.unsafe.types.UTF8String.fromString("segment")
          }.asInstanceOf[Array[Any]])
        override def get(): InternalRow = row
        override def close(): Unit = CellsSource.cappedRowsEmitted.addAndGet(emitted)
      })
    }

    def makeForwardFallback(): PartitionReader[InternalRow] =
      rawReader(shardDir, lo, hi, keys, cols, maskDeletes = true, emitOps = false,
        latestOnly = false, taskMetrics, retention, seen, seenKeys, endName, plannedFp,
        firstShard)

    new PartitionReader[InternalRow] {
      private var inner: PartitionReader[InternalRow] =
        try makeReverse().getOrElse(makeForwardFallback())
        catch { case _: java.io.IOException => makeForwardFallback() }
      private var rebuilds = 0
      override def next(): Boolean =
        try inner.next()
        catch {
          case _: java.io.IOException if rebuilds < 5 =>
            rebuilds += 1
            // a maintenance race voided the snapshot: rebuild — fresh
            // reverse if the layout still allows, else the forward
            // fallback; `seen` keeps both paths exactly-once
            inner = try makeReverse().getOrElse(makeForwardFallback())
                    catch { case _: java.io.IOException => makeForwardFallback() }
            next()
        }
      override def get(): InternalRow = inner.get()
      override def close(): Unit = inner.close()
    }
  }

  private val OpPut = org.apache.spark.unsafe.types.UTF8String.fromString("put")
  private val OpDelete = org.apache.spark.unsafe.types.UTF8String.fromString("delete")
  // exact-version markers (`.dv`, Delete.addColumn(ts)) are their own
  // edit type: a consumer folding the feed must drop exactly ONE
  // version, where op='delete' drops everything ≤ the bound
  private val OpDeleteVersion = org.apache.spark.unsafe.types.UTF8String.fromString("delete_version")

  /** VANISH-RESILIENT shard reader. The store's automatic maintenance
    * (put flush + segment tier, r15) deletes absorbed inputs AFTER
    * their merge output renamed in — so a reader whose listing
    * predates the output can hit a vanished file mid-scan. Recovery is
    * LOCAL and exact for content: rebuild the reader from a FRESH
    * listing while PRESERVING the emitted-identity set, so every cell
    * is emitted exactly once (already-emitted identities dedup away on
    * the re-walk; the vanished file's cells are in the merge output
    * the fresh listing contains). This is also what a cluster-mode
    * task RETRY would do, made in-place so local mode (task retries
    * off) and half-emitted streams converge identically. The store
    * has no snapshot isolation, so a rebuild observes writes that
    * landed since the first listing — for the ROW faces that only
    * ever means fresher rows join the stream (the exposure any two
    * consecutive scans always had); the `$latest` fold additionally
    * KEY-locks emitted winners so a rebuild's fresh winner map can
    * never put a second, newer row beside an already-emitted stale
    * one (per-key at-most-once, first observation wins). */
  def reader(shardDir: String, lo: Long, hi: Long, keys: CellsKeyPred,
             cols: Array[String], maskDeletes: Boolean = true,
             emitOps: Boolean = false,
             latestOnly: Boolean = false,
             taskMetrics: CellsReaderMetrics = null,
             retention: Option[graft.ingest.Retention.Policy] = None,
             endName: Option[String] = None,
             plannedFp: String = "",
             firstShard: Boolean = false): CellsShardReader = {
    val seen = scala.collection.mutable.HashSet.empty[(String, Long)]
    // $latest only: digests that already emitted their winner — a
    // rebuild recomputes winners from fresh state, and a key whose
    // (stale) winner is already out must NOT emit a second, newer row:
    // first observation wins, per-key at-most-once across rebuilds
    val seenKeys = scala.collection.mutable.HashSet.empty[String]
    def make(): CellsShardReader = rawReader(shardDir, lo, hi, keys, cols, maskDeletes,
      emitOps, latestOnly, taskMetrics, retention, seen, seenKeys, endName, plannedFp,
      firstShard)
    new CellsShardReader {
      private var inner = make()
      private var rebuilds = 0
      private val initialSorted: Boolean = inner.layoutSorted
      /** DYNAMIC: a rebuild re-lists, so the COMBINED stream (rows
        * emitted before the rebuild + the fresh walk) is no longer
        * guaranteed (rowkey, version)-sorted even if each snapshot was
        * — the pushed-TopN cap consults this per decision and stands
        * down the moment a rebuild voids the guarantee (ADVICE r15). */
      override def layoutSorted: Boolean = initialSorted && rebuilds == 0
      override def next(): Boolean =
        try inner.next()
        catch {
          case _: java.io.IOException if rebuilds < 5 =>
            rebuilds += 1
            inner = make()
            next()
        }
      override def get(): InternalRow = inner.get()
      override def close(): Unit = inner.close()
    }
  }

  private def rawReader(shardDir: String, lo: Long, hi: Long, keys0: CellsKeyPred,
                        cols: Array[String], maskDeletes: Boolean,
                        emitOps: Boolean,
                        latestOnly: Boolean,
                        taskMetrics: CellsReaderMetrics,
                        retention: Option[graft.ingest.Retention.Policy],
                        seen: scala.collection.mutable.HashSet[(String, Long)],
                        seenKeys: scala.collection.mutable.HashSet[String],
                        endName: Option[String],
                        plannedFp: String,
                        firstShard: Boolean): CellsShardReader =
    new CellsShardReader {
      require(!(latestOnly && emitOps), "the edit log has no latest fold")
      require(retention.isEmpty || maskDeletes,
        "retention masks exactly where delete masks do — never on the edit-log faces")
      // one content open: the spec-facing global AND this task's
      // SQL-UI metric cell (when the scan wired one in)
      private def openedOne(): Unit = {
        CellsSource.filesOpened.incrementAndGet()
        if (taskMetrics ne null) taskMetrics.filesOpened += 1
      }
      private val covered: CellsReaders.Covered =
        CellsReaders.listCovered(Paths.get(shardDir), endName, plannedFp, firstShard)
      // layout-stale mode: the planned key range re-applies EXACTLY —
      // rows outside it belong to another stale partition (forces
      // content reads; see listCovered)
      private val keys: CellsKeyPred =
        covered.bound.fold(keys0) { case (lo2, hi2) => keys0.boundedBy(lo2, hi2) }
      private val needKey = cols.contains("rowkey")
      private val needBody = cols.contains("body")
      private val readsContent = needKey || needBody || keys.hasRange
      // `seen` is OWNED BY THE RESILIENT WRAPPER (shared across
      // rebuilds) — the exactly-once guarantee under a mid-scan
      // maintenance race rests on it surviving the re-listing
      // delete-tombstone mask, built from the SAME covered listing the
      // file prune pays — a masked cell is dropped at FILENAME level,
      // before any content I/O. Two marker kinds (the HBase Delete type
      // split): `.d` = digest → masked-THROUGH version (everything ≤
      // bound), `.dv` = one exactly-masked (digest, version). The
      // streaming face passes maskDeletes=false: the change feed is a
      // WAL-style PUT-edit log whose replayed batches must regenerate
      // identical rows, so a later tombstone never rewrites history —
      // deletes surface through the batch face (and compaction), the
      // same split HBase makes between its WAL and its read path.
      private lazy val mask: ShardFiles.ShardMask = ShardFiles.maskOf(entries)
      private def masked(digestHex: String, v: Long): Boolean =
        maskDeletes && mask.masked(digestHex, v)
      // ONE covered listing per reader — every decision this reader
      // makes (delete masks, the put/marker row set, the segment set,
      // the sortedness gate, the retention fold) derives from THIS
      // snapshot, so no two decisions can ever see different file sets
      // (a put racing two separate listings used to be able to split
      // the TopN cap from the stream it truncates). The snapshot spans
      // the partition's whole PLANNED range: satellites and daughters a
      // region split created ride along ([[CellsReaders.listCovered]]),
      // and any parent/daughter copy overlap dedups on the identity.
      private val entries: Vector[ShardFiles.Entry] = covered.files
      // the in-window put files, plus — only on the change-feed face
      // (emitOps) — the markers, as op='delete' / op='delete_version'
      // rows. Kept as a vector (not just an iterator) so the $latest
      // winner sweep can re-walk it without a second directory listing.
      private val listed: Vector[ShardFiles.Entry] = entries.filter { e =>
        (e.isPut || (emitOps && e.isMarker)) &&
          keys.fileOk(e.digest) && e.version >= lo && e.version <= hi // filename prune — not opened
      }
      private val files: Iterator[ShardFiles.Entry] = listed.iterator
      // the shard's segments, shared by the segment read phase and the
      // $latest winner sweep (same single listing), NEWEST-FIRST
      // (trailer seqNo desc, then name): the dedup set keeps the
      // first-seen body per identity, so listing order IS body
      // precedence — a newer generation's body wins a colliding
      // (rowkey, version) (legal once an in-place UPDATE was
      // minor-compacted while a stale copy stayed in an unmerged
      // segment)
      private lazy val segPaths: Vector[Path] =
        ShardFiles.newestFirst(ShardFiles.segmentsOf(entries))

      /** ≤1 segment and zero put backlog in THIS reader's snapshot —
        * the (rowkey, version) stream-order guarantee the pushed-TopN
        * cap rides (see [[CellsShardReader]]). Full-range put count —
        * the version window doesn't matter: any put file breaks the
        * single-sorted-run shape. */
      override val layoutSorted: Boolean =
        !entries.exists(_.isPut) && entries.count(_.isSegment) <= 1

      // READ-TIME RETENTION fold ([[graft.ingest.Retention]]): per key
      // digest, the admitted version subset — newest-maxVersions live
      // versions with the TTL/minVersions rule — computed from the
      // same snapshot: put FILENAMES plus segment INDEXES (no body
      // I/O), over the FULL version range (a newer version outside the
      // scan's pushed window still occupies a rank, exactly as after
      // the major that physically removes the losers). Built only when
      // the DDL sets retention (None ⇒ zero cost); delete-masked
      // versions never occupy a rank (HBase ranks what a scan could
      // see). Memory is O(live cells of this shard) version longs —
      // the same order as the dedup set — and only on retention-active
      // tables.
      private lazy val retained: scala.collection.Map[String, Set[Long]] = {
        val pol = retention.get
        val byDigest = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
        def add(d: String, v: Long): Unit =
          if (!masked(d, v))
            byDigest.getOrElseUpdate(d, scala.collection.mutable.ArrayBuffer.empty[Long]) += v
        entries.foreach(e => if (e.isPut && keys.fileOk(e.digest)) add(e.digest, e.version))
        segPaths.foreach { seg =>
          if (keys.bloomOk(seg)) {
            val index = CellSegment.indexOf(seg)
            (0 until index.length).foreach { i =>
              if (keys.entryOk(index, i)) add(index.digestHex(i), index.version(i))
            }
          }
        }
        byDigest.map { case (d, vs) => d -> pol.admitted(vs.toSeq) }
      }
      private def retentionOk(digestHex: String, v: Long): Boolean =
        retention.isEmpty || retained.get(digestHex).exists(_.contains(v))
      /** a cell the masked view hides: delete-masked OR retention-
        * hidden — the one predicate every batch-face decision point
        * consults. */
      private def suppressed(digestHex: String, v: Long): Boolean =
        masked(digestHex, v) || !retentionOk(digestHex, v)
      // $LATEST winner per key digest — each key's max LIVE in-window
      // version, from FILENAMES and SEGMENT INDEXES alone (no data
      // I/O): the serving fold costs metadata, and only winning cells
      // ever open. Latest-per-key is shard-local (a key lives in one
      // region), so the fold needs no cross-partition state.
      private lazy val winners: scala.collection.Map[String, Long] = {
        val best = scala.collection.mutable.HashMap.empty[String, Long]
        def bump(d: String, v: Long): Unit =
          if (!suppressed(d, v) && best.getOrElse(d, Long.MinValue) < v) best(d) = v
        listed.foreach(e => if (e.isPut) bump(e.digest, e.version))
        segPaths.foreach { seg =>
          val t = CellSegment.readTrailer(seg)
          if (t.entryCount > 0 && t.minVersion <= hi && t.maxVersion >= lo) {
            if (keys.bloomOk(seg)) { // ROW bloom, as everywhere
              val index = CellSegment.indexOf(seg)
              (0 until index.length).foreach { i =>
                val v = index.version(i)
                if (v >= lo && v <= hi && keys.entryOk(index, i)) bump(index.digestHex(i), v)
              }
            }
          }
        }
        best
      }
      private def isWinner(digestHex: String, v: Long): Boolean =
        !latestOnly || (winners.get(digestHex).contains(v) && !seenKeys.contains(digestHex))
      /** record an emission; in the $latest fold also lock the KEY, so
        * a resilience rebuild (fresh winners) never emits a second,
        * newer row beside an already-emitted stale winner — per-key
        * at-most-once, first observation wins. */
      private def markEmitted(digestHex: String, v: Long): Boolean = {
        val fresh = seen.add((digestHex, v))
        if (fresh && latestOnly) seenKeys += digestHex
        fresh
      }
      // segment phase, built lazily AFTER the per-cell phase drains so
      // the dedup set is complete; one iterator of ready rows per cell
      private lazy val segmentRows: Iterator[InternalRow] = {
        segPaths.iterator.flatMap { seg =>
          val t = CellSegment.readTrailer(seg)
          if (t.entryCount == 0 || t.minVersion > hi || t.maxVersion < lo) Iterator.empty
          else {
            keys.digestSet match {
              // ROW bloom rejects every probed key: definitely no
              // match in this segment — its index is never loaded
              case Some(ds) if !CellSegment.mightContainAny(seg, ds) =>
                Iterator.empty
              case Some(ds) =>
                // point lookup: seek straight to the probed entries
                val index = CellSegment.indexOf(seg)
                Iterator.range(0, index.length)
                  .filter { i =>
                    val v = index.version(i)
                    v >= lo && v <= hi && index.digestIn(i, ds) && {
                      val d = index.digestHex(i)
                      !suppressed(d, v) && isWinner(d, v) && !seen.contains((d, v))
                    }
                  }
                  .flatMap { i =>
                    val d = index.digestHex(i)
                    if (!readsContent) {
                      val v = index.version(i)
                      markEmitted(d, v); Some(mkRow(null, v, null, src = seg))
                    } else {
                      openedOne()
                      val (k, v, b) = CellSegment.entryAt(seg, index, i, needBody)
                      if (!keys.keyOk(k)) None
                      else { markEmitted(d, v); Some(mkRow(k, v, b, src = seg)) }
                    }
                  }
              case None if !readsContent =>
                // version-only projection: the index IS the result —
                // the data region is never read
                val index = CellSegment.indexOf(seg)
                Iterator.range(0, index.length)
                  .filter { i =>
                    val v = index.version(i)
                    v >= lo && v <= hi && {
                      val d = index.digestHex(i)
                      !suppressed(d, v) && isWinner(d, v) && markEmitted(d, v)
                    }
                  }
                  .map(i => mkRow(null, index.version(i), null, src = seg))
              case None =>
                // scan: stream the data region zipped with the cached
                // index (same order), so dedup needs no re-hashing. On
                // the $latest face, when winners are SPARSE in this
                // segment (a multi-version backlog), seek to each
                // winning entry instead of streaming every loser's
                // bytes; post-major segments (~1 version/key) stay on
                // the stream path — seeks would cost more than the
                // sequential read they replace.
                val index = CellSegment.indexOf(seg)
                lazy val winnersHere = (0 until index.length).filter { i =>
                  val v = index.version(i)
                  v >= lo && v <= hi && {
                    val d = index.digestHex(i)
                    isWinner(d, v) && !seen.contains((d, v))
                  }
                }
                if (latestOnly && winnersHere.size.toLong * 4 < t.entryCount.toLong) {
                  // a segment with NO winners is never opened at all —
                  // the index (cached) already proved it has nothing
                  if (winnersHere.isEmpty) Iterator.empty
                  else {
                    openedOne()
                    winnersHere.iterator.flatMap { i =>
                      val (k, v, b) = CellSegment.entryAt(seg, index, i, needBody)
                      if (!keys.keyOk(k)) None
                      else if (!markEmitted(index.digestHex(i), v)) None
                      else Some(mkRow(k, v, b, src = seg))
                    }
                  }
                } else {
                  openedOne()
                  var i = -1 // the streamed entry's number in the index
                  CellSegment.entries(seg, needBody, t.indexOffset).flatMap { case (k, v, b) =>
                    i += 1
                    if (v < lo || v > hi || !keys.keyOk(k)) None
                    else {
                      val d = index.digestHex(i)
                      if (suppressed(d, v) || !isWinner(d, v) || !markEmitted(d, v)) None
                      else Some(mkRow(k, v, b, src = seg))
                    }
                  }
                }
            }
          }
        }
      }
      private var row: InternalRow = _

      override def next(): Boolean = {
        while (files.hasNext) {
          val e = files.next()
          val (p, digestHex, version) = (e.path, e.digest, e.version)
          if (e.isMarker) {
            // op='delete' / op='delete_version' feed row; markers are
            // never (digest, version)-deduped against puts — a put and
            // a delete at one cell identity are two distinct edits —
            // but each marker IS deduped against its own re-walk after
            // a resilience rebuild (kind-suffixed identity)
            val kind = if (e.kind eq ShardFiles.Kind.BoundMarker) 1 else 2
            val markerId = (digestHex + (if (kind == 1) "#d" else "#dv"), version)
            if (seen.contains(markerId)) { /* emitted before a rebuild */ }
            else if (!readsContent) {
              seen.add(markerId)
              row = mkRow(null, version, null, markerKind = kind, src = p); return true
            }
            else {
              openedOne()
              // marker files carry the length-prefixed true key
              val k = ShardFiles.read(p)._1
              if (keys.keyOk(k)) {
                seen.add(markerId)
                row = mkRow(k, version, null, markerKind = kind, src = p); return true
              }
            }
          }
          else if (seen.contains((digestHex, version))) {
            // emitted before a resilience rebuild — exactly-once
          }
          else if (suppressed(digestHex, version)) {
            // delete-masked or retention-hidden: dropped at filename
            // level, never opened
          }
          else if (!isWinner(digestHex, version)) {
            // $latest: a superseded version — dropped at filename
            // level, never opened (a fresher live cell exists)
          }
          // version-only projection with no range bound: the version is
          // in the filename — emit without any content I/O
          else if (!readsContent) {
            markEmitted(digestHex, version)
            row = mkRow(null, version, null, src = p)
            return true
          } else {
            openedOne()
            // range re-check on the PARSED key, before body I/O: a
            // non-matching cell costs a key read, never a body read
            val (k, b) = ShardFiles.readKey(p, k => needBody && keys.keyOk(k))
            if (keys.keyOk(k)) {
              markEmitted(digestHex, version)
              row = mkRow(k, version, b, src = p); return true
            } // else out of key range — skip to the next cell file
          }
        }
        if (segmentRows.hasNext) { row = segmentRows.next(); return true }
        false
      }

      // provenance metadata (SupportsMetadataColumns) — computed only
      // when the projection names it; `src` is the file whose copy won
      // read precedence for this row
      private lazy val shardNameU8 = org.apache.spark.unsafe.types.UTF8String
        .fromString(Paths.get(shardDir).getFileName.toString)
      private def mkRow(key: Array[Byte], version: Long, body: Array[Byte],
                        markerKind: Int = 0, src: Path): InternalRow = {
        val values = cols.map {
          case "rowkey" => key
          case "version" => version
          case "body" => body
          case "op" =>
            if (markerKind == 1) OpDelete
            else if (markerKind == 2) OpDeleteVersion
            else OpPut
          case "_shard" =>
            // the directory PHYSICALLY holding the winning copy — under
            // a mid-split window that may be a satellite (`_split-…`)
            // or a daughter of the planned shard, truthfully reported
            if (src == null || src.getParent == null ||
              src.getParent.getFileName.toString ==
                Paths.get(shardDir).getFileName.toString) shardNameU8
            else org.apache.spark.unsafe.types.UTF8String.fromString(
              src.getParent.getFileName.toString)
          case "_file" => org.apache.spark.unsafe.types.UTF8String.fromString(
            if (src == null) "" else src.getFileName.toString)
          case "_kind" => org.apache.spark.unsafe.types.UTF8String.fromString(
            if (markerKind == 1) "marker_bound"
            else if (markerKind == 2) "marker_exact"
            else if (src != null &&
              CellSegment.isSegment(src.getFileName.toString)) "segment"
            else "put")
        }
        new GenericInternalRow(values.asInstanceOf[Array[Any]])
      }

      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
}

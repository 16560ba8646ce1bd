package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.nio.file.{Files, Path, Paths}

/** `tbl$versions` — the STORE-FILE INVENTORY metadata face (the
  * Iceberg `files` / Delta `DESCRIBE HISTORY` analog for this store):
  * one row per store file, from LISTINGS and GSE3 TRAILERS alone —
  * no index loads, no data-region I/O, planning-weight reads only.
  *
  * {{{
  *   shard  kind           file        cells distinct_keys min_version max_version bytes seq_no
  *   "3f"   segment        bulk-….seg  1842  977           101         9120        …     3
  *   "3f"   put            <digest>.v  1     null          v           v           …     null
  *   "3f"   marker_bound   <digest>.v.d  0   null          v           v           …     null
  *   "3f"   marker_exact   <digest>.v.dv 0   null          v           v           …     null
  * }}}
  *
  * What it answers that the data faces cannot, cheaply:
  *  - the table's VERSION WATERMARK (`max(max_version)`) — the
  *    discoverable version list for `VERSION AS OF` time travel;
  *  - compaction pressure (put/marker backlog per shard, segment
  *    counts and generations via `seq_no`) — what an operator reads
  *    before CALL compact_minor/major;
  *  - physical bytes per shard/kind (skew, region sizing).
  *
  * PUSHDOWN (round 15): the inventory prunes like every other face —
  *  - `shard` `=`/`IN` prunes at the DIRECTORY level: unmatched shards
  *    are never listed;
  *  - `kind` `=`/`IN` prunes at the FILENAME level: a filtered-out
  *    kind's rows are never built, and its TRAILERS are never read
  *    (the expensive part of a segment row);
  *  - `min_version`/`max_version` bounds prune put/marker rows at the
  *    filename level (their window is a single version); segment rows
  *    pass through — the bound lives in the trailer being read anyway
  *    and Spark re-applies every accepted filter on the survivors
  *    (all pushed filters stay RESIDUAL, so pruning is pure I/O
  *    savings, never a correctness dependency);
  *  - column pruning skips what the projection doesn't name: without
  *    `bytes` no `Files.size` calls; with only name-derived columns
  *    (`shard`/`kind`/`file`) segment trailers are never opened.
  *
  * Read-only, batch-only; rows are bounded by the FILE count (kept
  * flat by compaction), never the cell count. The surviving shards are
  * planned and packed like every other face's ([[CellsShards.plan]]),
  * the pushed version bounds riding as each shard's window; each shard
  * lists its own directory, so a row names the shard that holds it. */
object CellsVersions {
  val Schema: StructType = StructType(Seq(
    StructField("shard", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("file", StringType, nullable = false),
    StructField("cells", LongType, nullable = false),
    StructField("distinct_keys", LongType, nullable = true),
    StructField("min_version", LongType, nullable = false),
    StructField("max_version", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("seq_no", LongType, nullable = true)))

  /** the version window [lo, hi] admits an inventory row: a put or
    * marker pins its filename version; a segment's window lives in its
    * trailer, so it always passes. */
  private[sources] def inWindow(e: graft.ingest.ShardFiles.Entry, lo: Long, hi: Long): Boolean =
    e.isSegment || (e.version >= lo && e.version <= hi)

  /** shard DIRECTORIES actually listed by $versions readers — the
    * spec/gate proof that a shard predicate pruned the listing work
    * (single-JVM local mode). */
  val shardsListed = new java.util.concurrent.atomic.AtomicLong(0)
}

case class CellsVersionsTable(root: String, table: String) extends Table with SupportsRead {
  override def name(): String = s"graft-cells:$table$$versions"
  override def schema(): StructType = CellsVersions.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    CellsVersionsScanBuilder(root, table)
}

/** Pruning state resolved at planning time — every accepted filter
  * stays residual (Spark re-checks survivors), so the three tiers
  * (shard dirs, filenames, trailer reads) are advisory I/O savings. */
case class CellsVersionsScanBuilder(root: String, table: String) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var shards: Option[Set[String]] = None
  private var kinds: Option[Set[String]] = None
  private var vLo = Long.MinValue // admits a put/marker row iff its version ∈ [vLo, vHi]
  private var vHi = Long.MaxValue
  private var pushed = Array.empty[Filter]
  private var required: StructType = CellsVersions.Schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val accepted = Array.newBuilder[Filter]
    def intersect(cur: Option[Set[String]], add: Set[String]): Option[Set[String]] =
      Some(cur.fold(add)(_ intersect add))
    filters.foreach {
      case f @ EqualTo("shard", v: String) =>
        shards = intersect(shards, Set(v)); accepted += f
      case f @ In("shard", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        shards = intersect(shards, vs.map(_.asInstanceOf[String]).toSet); accepted += f
      case f @ EqualTo("kind", v: String) =>
        kinds = intersect(kinds, Set(v)); accepted += f
      case f @ In("kind", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        kinds = intersect(kinds, vs.map(_.asInstanceOf[String]).toSet); accepted += f
      // a put/marker row has min_version == max_version == its
      // filename version V; the row survives `min_version >= x` iff
      // V >= x and `max_version <= y` iff V <= y — so bounds on EITHER
      // column tighten the same filename window (segments are exempt:
      // their window lives in the trailer, read anyway)
      case f @ GreaterThanOrEqual("min_version" | "max_version", v: java.lang.Long) =>
        vLo = math.max(vLo, v); accepted += f
      case f @ GreaterThan("min_version" | "max_version", v: java.lang.Long) =>
        if (v != Long.MaxValue) vLo = math.max(vLo, v + 1); accepted += f
      case f @ LessThanOrEqual("min_version" | "max_version", v: java.lang.Long) =>
        vHi = math.min(vHi, v); accepted += f
      case f @ LessThan("min_version" | "max_version", v: java.lang.Long) =>
        if (v != Long.MinValue) vHi = math.min(vHi, v - 1); accepted += f
      case f @ EqualTo("min_version" | "max_version", v: java.lang.Long) =>
        vLo = math.max(vLo, v); vHi = math.min(vHi, v); accepted += f
      case _ => () // unsupported shapes are purely residual
    }
    pushed = accepted.result()
    filters // everything stays residual — pruning is advisory
  }

  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan =
    CellsVersionsScan(root, table, shards, kinds, vLo, vHi, required)
}

case class CellsVersionsScan(root: String, table: String,
                             shards: Option[Set[String]] = None,
                             kinds: Option[Set[String]] = None,
                             vLo: Long = Long.MinValue, vHi: Long = Long.MaxValue,
                             required: StructType = CellsVersions.Schema)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-cells-versions table=$table" +
      shards.fold("")(s => s" shards=${s.size}") +
      kinds.fold("")(k => s" kinds=[${k.toSeq.sorted.mkString(",")}]") +
      (if (vLo != Long.MinValue || vHi != Long.MaxValue) s" window=[$vLo,$vHi]" else "") +
      s" cols=[${required.fieldNames.mkString(",")}]"

  private def dir = Paths.get(root, table.replace(':', '~'))
  private def keep(shard: String): Boolean = shards.forall(_.contains(shard))

  private def shardDirs: Seq[Path] =
    CellsShards.prune(dir, CellsKeyPred.All).filter(p => keep(p.getFileName.toString))

  override def planInputPartitions(): Array[InputPartition] =
    CellsShards.plan(dir, graft.ingest.FileStore.splitsAt(dir), CellsKeyPred.All, vLo, vHi,
      keep = keep)

  override def createReaderFactory(): PartitionReaderFactory =
    CellsVersionsReaderFactory(required.fieldNames, kinds)

  /** EXACT row stats from the same listings + classifier the scan
    * pays ([[graft.ingest.ShardFiles.kindOf]] — one definition, no drift):
    * inventory rows = store files, so `cells JOIN inventory` sizes the
    * inventory side as the (compaction-bounded) file count and earns a
    * broadcast. Stats honor the pushed shard/kind/window prunes
    * (segment rows pass the window unexamined — overestimate, never
    * under, so a too-big side never broadcasts); memoized per scan
    * instance, so repeated estimateStatistics() calls re-list nothing.
    * ~120 B/row: 9 mostly-fixed columns + a file name. */
  @transient private lazy val fileCount: Long =
    shardDirs.map { shard =>
      CellsReaders.listCovered(shard, None, "").files.count { e =>
        kinds.forall(_.contains(e.kind.label)) && CellsVersions.inWindow(e, vLo, vHi)
      }
    }.sum.toLong

  override def estimateStatistics(): Statistics = new Statistics {
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(fileCount)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(fileCount * 120L)
  }
}

/** `kinds` prunes rows by kind; each shard's window [lo, hi] prunes
  * put/marker rows by their filename version. */
case class CellsVersionsReaderFactory(cols: Array[String], kinds: Option[Set[String]])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    CellsShards.read(partition)(shardReader)

  private def shardReader(part: CellsShard): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      import org.apache.spark.unsafe.types.UTF8String
      private val shard = Paths.get(part.dir)
      private val shardName = shard.getFileName.toString
      private val shardU8 = UTF8String.fromString(shardName)
      private val rows: Iterator[InternalRow] = {
        CellsVersions.shardsListed.incrementAndGet()
        // covered listing (satellite subdirs of a mid-protocol region
        // split expanded in place — they are real store files and may be
        // the only resident copy); flatMap + try: a file the automatic
        // maintenance merged away mid-listing drops out (its merge
        // output is in this or the next listing) instead of aborting
        // the inventory scan. Satellite rows carry their subdir-
        // qualified file name, truthfully.
        CellsReaders.listCovered(shard, None, "").files.iterator
          .filter(e => kinds.forall(_.contains(e.kind.label)) &&
            CellsVersions.inWindow(e, part.lo, part.hi))
          .flatMap { e =>
            val rel =
              if (e.path.getParent == shard) e.name else shard.relativize(e.path).toString
            try Some(buildRow(e, rel))
            catch { case _: java.io.IOException => None }
          }.toVector.iterator
      }

      private def buildRow(e: graft.ingest.ShardFiles.Entry, file: String): InternalRow = {
        // the trailer opens only for a trailer-derived column of a segment
        lazy val trailer = graft.ingest.CellSegment.readTrailer(e.path)
        val values: Array[Any] = cols.map {
          case "shard" => shardU8
          case "kind" => UTF8String.fromString(e.kind.label)
          case "file" => UTF8String.fromString(file)
          case "cells" =>
            if (e.isSegment) trailer.entryCount.toLong
            else if (e.isPut) 1L else 0L
          case "distinct_keys" =>
            if (e.isSegment) (trailer.distinctKeys.toLong: Any) else null
          case "min_version" =>
            if (e.isSegment) trailer.minVersion else e.version
          case "max_version" =>
            if (e.isSegment) trailer.maxVersion else e.version
          case "bytes" => Files.size(e.path)
          case "seq_no" =>
            if (e.isSegment) (trailer.seqNo: Any) else null
        }
        new GenericInternalRow(values): InternalRow
      }

      private var cur: InternalRow = _
      override def next(): Boolean = { if (rows.hasNext) { cur = rows.next(); true } else false }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
}

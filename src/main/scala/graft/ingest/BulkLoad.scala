package graft.ingest

import graft.ingest.IngestPipeline.IngestedRow
import graft.ingest.PushTableSink.TableSpec
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** HFile-style BULK-LOAD write path for the cell store — the idiomatic
  * heavy-ingest alternative to [[PushTableSink]]'s per-batch puts
  * (reference posture: HbaseClient.kt:31-36 SKIP_WAL bulk writes; the
  * real HBase answer to that posture is writing HFiles directly and
  * atomically handing them to the region servers, which is the shape
  * built here).
  *
  * Plan shape — ONE shuffle, then embarrassingly-parallel file writes:
  *
  *  1. hash-repartition on (tableName, shard name): the shard IS the
  *     store's range unit (the HBase region model — the default 256
  *     first-byte ranges are uniform because reference rowkeys open
  *     with a CRC32 byte; custom [[FileStore.Splits]] go finer or
  *     coarser), so this is a range shard assignment priced as a hash
  *     exchange, with parallelism = the table's region count;
  *  2. sortWithinPartitions (tableName, rowkey, version) — Spark's
  *     BinaryType sort is unsigned-lexicographic, the segment order;
  *  3. mapPartitions: each task streams its sorted run and rolls one
  *     [[CellSegment]] per (table, shard) — segments land in a staging
  *     directory invisible to every read face;
  *  4. driver flip-in: after the job commits, each staged segment is
  *     ATOMIC_MOVE'd into `<table>/<shard>/` — per-file atomic, the
  *     same visibility contract as HBase's bulk-load handoff (files
  *     appear whole or not at all; the load as a whole is not one
  *     transaction across regions, and neither is HBase's).
  *
  * Idempotence without an existence check: segment files are named by
  * their content hash and the shuffle+sort is deterministic, so a
  * replayed task, a speculative duplicate, or a whole re-run of the
  * same load produces byte-identical files that REPLACE_EXISTING-flip
  * onto themselves. Duplicate (rowkey, version) cells across the bulk
  * and put paths collapse at READ time — cell identity is
  * (rowkey, version), the F5 invariant — so bulk-after-push and
  * push-after-bulk both converge to the same logical state, which is
  * exactly HBase's duplicate-KeyValue semantics across store files.
  *
  * Scale: no per-cell existence RPCs, no per-cell rename, no W1 batch
  * round-trips — each task does one sequential write per owned shard.
  * Segment size is capped ([[Config.maxSegmentBytes]]) so a hot shard
  * rolls into multiple files instead of one unbounded one; version GC
  * past `maxVersions` across files is compaction's job
  * ([[Compaction]]), as in HBase.
  */
object BulkLoad {

  final case class Config(numPartitions: Int = 0, // 0 → spark.sql.shuffle.partitions
                          maxSegmentBytes: Long = 1L << 30,
                          tableSpec: TableSpec = TableSpec(),
                          // creation-time pre-split (HBase createTable(splitKeys)):
                          // N split points → N+1 key-range shards; recorded
                          // write-once in the table's _splits.json. Tables that
                          // already exist keep their recorded layout; Nil keeps
                          // the default 256 first-byte ranges.
                          splitPoints: Seq[Array[Byte]] = Nil)

  /** One flipped segment, as reported back to the driver (bounded:
    * ≤ tables × region count × segment-roll count rows). */
  final case class SegDesc(table: String, shard: String, file: String,
                           cells: Long, minVersion: Long, maxVersion: Long)

  final case class Report(cells: Long, segments: Seq[SegDesc])

  /** Bulk-load the ok+unfiltered ingest rows — the same row filter, and
    * so the same tables created, as [[PushTableSink.write]], different
    * write physics. */
  def write(rows: Dataset[IngestedRow], rootDir: String, config: Config = Config()): Report = {
    val spark = rows.sparkSession
    import spark.implicits._
    writeCells(rows.filter(r => PushTableSink.isPut(r)).map(r => PushTableSink.cellOf(r)).toDF(), rootDir, config)
  }

  /** Bulk-load a generic (tableName, rowkey, version, body) frame.
    * Requires the F5 invariant on input: one body per (tableName,
    * rowkey, version) — a violating duplicate fails the job loudly
    * (adjacent after the sort, so the check is free). */
  def writeCells(cellsDf: DataFrame, rootDir: String, config: Config = Config()): Report = {
    val spark = cellsDf.sparkSession
    import spark.implicits._

    // driver-side DDL over the distinct table names (W3) — bounded by
    // the table count, not the data. Unlike the push sink's on-first-
    // sight DDL, it must precede every task: the split layout is
    // resolved HERE too (creation-time splitPoints record a custom
    // layout; existing tables keep whatever _splits.json says).
    val tables = cellsDf.select(col("tableName")).distinct().as[String].collect().sorted.toSeq
    val store = FileStore(rootDir)
    tables.foreach { t =>
      store.ensureTable(t, config.tableSpec)
      if (config.splitPoints.nonEmpty)
        store.ensureSplits(t, FileStore.Splits.ofSplitPoints(config.splitPoints))
    }
    val splitsByTable: Map[String, FileStore.Splits] =
      tables.map(t => t -> store.splitsOf(t)).toMap
    // the load's GENERATION: one seqNo per table, above every resident
    // segment's, so this load's bodies win any colliding identity on
    // the read faces (a task retry re-stamps the same number — the
    // replayed file differs only in a trailer field the content-hash
    // name ignores, and the REPLACE_EXISTING flip still converges)
    val seqNoByTable: Map[String, Long] =
      tables.map(t => t -> (store.maxSeqNo(t) + 1L)).toMap

    val staging = Files.createDirectories(
      Paths.get(rootDir, "_bulk_staging", java.util.UUID.randomUUID().toString))
    val stagingStr = staging.toString
    val n = if (config.numPartitions > 0) config.numPartitions
            else spark.sessionState.conf.numShufflePartitions
    val maxSeg = config.maxSegmentBytes

    // The shuffle key is the SHARD NAME, so a table's write
    // parallelism is its region count — not a fixed 256 ceiling.
    // Default layout: the name is a pure column expression (hex of the
    // first key byte — whole-stage codegen, no UDF). Custom layouts:
    // one narrow typed pass resolves each key against the broadcast
    // split list (binary search over ≤ |regions| starts).
    val base = cellsDf.select(col("tableName"), col("rowkey"), col("version"), col("body"))
    val withShard =
      if (splitsByTable.values.forall(_.isDefault))
        base.withColumn("shard",
          when(length(col("rowkey")) === 0, lit("00"))
            .otherwise(lower(hex(substring(col("rowkey"), 1, 1)))))
          .select(col("tableName"), col("shard"), col("rowkey"), col("version"), col("body"))
      else {
        val startsB = spark.sparkContext.broadcast(
          splitsByTable.map { case (t, s) => t -> s.starts.toArray })
        base.as[(String, Array[Byte], Long, Array[Byte])]
          .mapPartitions { it =>
            val splits = startsB.value.map { case (t, s) => t -> FileStore.Splits(s.toVector) }
            it.map { case (t, k, v, b) => (t, splits(t).shardNameOf(k), k, v, b) }
          }
          .toDF("tableName", "shard", "rowkey", "version", "body")
      }

    val descs = withShard
      .repartition(n, col("tableName"), col("shard"))
      // (shard, rowkey) order ≡ rowkey order within a table (shard
      // names are range starts in hex), and CellSegment.write needs
      // each run sorted by (key, version)
      .sortWithinPartitions(col("tableName"), col("shard"), col("rowkey"), col("version"))
      .mapPartitions { it =>
        val rows = it.buffered
        val out = Seq.newBuilder[SegDesc]
        while (rows.hasNext) {
          val table = rows.head.getString(0)
          val shard = rows.head.getString(1)
          def sameRun: Boolean = rows.hasNext && {
            val r = rows.head
            r.getString(0) == table && r.getString(1) == shard
          }
          val dir = Paths.get(stagingStr, table.replace(':', '~'), shard)
          // duplicate handling spans the WHOLE (table, shard) run, not
          // one segment: a (rowkey, version) pair straddling a segment
          // roll still collapses (same body) or fails loudly
          // (conflicting body) instead of landing in two files
          val run = dedupSorted(new Iterator[(Array[Byte], Long, Array[Byte])] {
            override def hasNext: Boolean = sameRun
            override def next(): (Array[Byte], Long, Array[Byte]) = {
              val r = rows.next()
              (r.getAs[Array[Byte]](2), r.getLong(3), r.getAs[Array[Byte]](4))
            }
          })
          while (run.hasNext) {
            // roll a new segment when the byte cap fills; ≥1 entry each
            var bytes = 0L
            val chunk = new Iterator[(Array[Byte], Long, Array[Byte])] {
              override def hasNext: Boolean = run.hasNext && (bytes == 0L || bytes < maxSeg)
              override def next(): (Array[Byte], Long, Array[Byte]) = {
                val e = run.next()
                bytes += 16L + e._1.length + e._3.length
                e
              }
            }
            val meta = CellSegment.write(dir, chunk, seqNoByTable(table))
            out += SegDesc(table, shard, meta.fileName, meta.entryCount.toLong,
              meta.minVersion, meta.maxVersion)
          }
        }
        out.result().iterator
      }
      .collect()

    // flip-in, driver-side, after every task committed: per-file atomic
    // rename out of staging into the live shard directories
    try {
      descs.foreach { d =>
        val destDir = Paths.get(rootDir, d.table.replace(':', '~'), d.shard)
        Files.createDirectories(destDir)
        Files.move(staging.resolve(d.table.replace(':', '~')).resolve(d.shard).resolve(d.file),
          destDir.resolve(d.file), StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(staging.toFile)

    Report(descs.map(_.cells).sum, descs.toSeq)
  }

  /** Collapse adjacent exact-duplicate cells of a SORTED run — cell
    * identity is (rowkey, version), the F5 invariant — and throw on a
    * same-identity pair with DIFFERENT bodies (a corrupt input; picking
    * one silently would make the store nondeterministic). Lives above
    * the segment roll so the check cannot be defeated by a duplicate
    * straddling a maxSegmentBytes boundary. */
  private[ingest] def dedupSorted(
      it: Iterator[(Array[Byte], Long, Array[Byte])]): Iterator[(Array[Byte], Long, Array[Byte])] =
    new Iterator[(Array[Byte], Long, Array[Byte])] {
      private var prevK: Array[Byte] = null
      private var prevV = 0L
      private var prevB: Array[Byte] = null
      private var pending: (Array[Byte], Long, Array[Byte]) = null
      override def hasNext: Boolean = {
        while (pending == null && it.hasNext) {
          val e = it.next()
          if (prevK != null && e._2 == prevV && java.util.Arrays.equals(prevK, e._1))
            require(java.util.Arrays.equals(prevB, e._3),
              s"bulk load: two bodies for one (rowkey, version) cell at version ${e._2}")
          else {
            pending = e
            prevK = e._1; prevV = e._2; prevB = e._3
          }
        }
        pending != null
      }
      override def next(): (Array[Byte], Long, Array[Byte]) = {
        if (!hasNext) throw new NoSuchElementException("dedupSorted")
        val e = pending
        pending = null
        e
      }
    }
}

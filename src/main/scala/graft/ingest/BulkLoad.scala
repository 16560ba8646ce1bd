package graft.ingest

import graft.ingest.IngestPipeline.IngestedRow
import graft.ingest.PushTableSink.TableSpec
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.TaskContext
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
  *  1. number the load's regions (the store's range unit, the HBase
  *     region model) globally — tables in name order, regions in key
  *     order — and `repartitionById` so each write task owns a
  *     contiguous range of whole regions: one writer per region, the
  *     tasks of [[RegionJobs.plan]] (each region weighing an even share
  *     of its table's key+body bytes), whatever
  *     `spark.sql.shuffle.partitions` says;
  *  2. sortWithinPartitions (region, rowkey, version) — Spark's
  *     BinaryType sort is unsigned-lexicographic, the segment order;
  *  3. mapPartitions: each task creates its regions' live directories
  *     and rolls one [[CellSegment]] per region into its own ATTEMPT's
  *     staging directory, invisible to every read face;
  *  4. driver flip-in: after the job commits, each segment a committed
  *     attempt reported is ATOMIC_MOVE'd into `<table>/<shard>/` — per-
  *     file atomic, the same visibility contract as HBase's bulk-load
  *     handoff (files appear whole or not at all; the load as a whole
  *     is not one transaction across regions, and neither is HBase's).
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
  * round-trips — a few tasks each do one sequential write per owned
  * region. Segment size is capped ([[Config.maxSegmentBytes]]) so a hot
  * region rolls into multiple files; version GC past `maxVersions`
  * across files is compaction's job ([[Compaction]]), as in HBase.
  */
object BulkLoad {

  final case class Config(maxSegmentBytes: Long = 1L << 30,
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

    // pre-pass, no exchange: key + body bytes per table. Its tables get
    // their driver-side DDL (W3) before any task; the split layout is
    // resolved HERE too (creation-time splitPoints record a custom
    // layout; existing tables keep whatever _splits.json says)
    val bytesByTable: Map[String, Long] = cellsDf
      .select(col("tableName"), (length(col("rowkey")) + length(col("body"))).cast("long"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val sums = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { case (t, b) => sums(t) = sums.getOrElse(t, 0L) + b }
        sums.iterator
      }
      .collect().groupMapReduce(_._1)(_._2)(_ + _)
    val tables = bytesByTable.keys.toSeq.sorted
    if (tables.isEmpty) return Report(0L, Nil)
    val store = FileStore(rootDir)
    tables.foreach { t =>
      store.ensureTable(t, config.tableSpec)
      if (config.splitPoints.nonEmpty)
        store.ensureSplits(t, FileStore.Splits.ofSplitPoints(config.splitPoints))
    }
    // the load's GENERATION: one seqNo per table, above every resident
    // segment's, so this load's bodies win any colliding identity on
    // the read faces (a task retry re-stamps the same number — the
    // replayed file differs only in a trailer field the content-hash
    // name ignores, and the REPLACE_EXISTING flip still converges)
    val seqNoByTable: Map[String, Long] =
      tables.map(t => t -> (store.maxSeqNo(t) + 1L)).toMap

    // global region numbers: (region, rowkey) order is segment order
    val layouts = tables.map(t => t -> store.splitsOf(t))
    val regionNames = layouts.flatMap { case (t, s) => s.names.map(t -> _) }.toVector
    val placement = layouts.zip(layouts.scanLeft(0)(_ + _._2.size))
      .map { case ((t, s), first) => t -> (first, s) }.toMap
    // the load's tasks: contiguous region ranges, each region weighing
    // an even share of its table's bytes (the shares sum to the table's)
    val groups = RegionJobs.plan(spark, layouts.flatMap { case (t, s) =>
      val b = bytesByTable(t)
      (0 until s.size).map(i => b * (i + 1) / s.size - b * i / s.size)
    }.zipWithIndex.map(_.swap))
    val taskOfRegion = groups.zipWithIndex.flatMap { case (g, task) => g.map(_ => task) }.toArray

    val staging = Files.createDirectories(
      Paths.get(rootDir, "_bulk_staging", java.util.UUID.randomUUID().toString))
    val stagingStr = staging.toString
    val maxSeg = config.maxSegmentBytes
    val regionOf = udf { (t: String, key: Array[Byte]) =>
      val (from, splits) = placement(t)
      from + splits.shardIdxOf(key)
    }
    val taskOf = udf((region: Int) => taskOfRegion(region))

    try { // staging goes with the load, failed or not ([[Vacuum]] after a dead driver)
      val staged = cellsDf
        .select(regionOf(col("tableName"), col("rowkey")).as("region"),
          col("rowkey"), col("version"), col("body"))
        .repartitionById(groups.size, taskOf(col("region")))
        .sortWithinPartitions(col("region"), col("rowkey"), col("version"))
        .mapPartitions { it =>
          // a retried or speculative twin stages apart from the committed attempt
          val attempt = TaskContext.get().taskAttemptId()
          val rows = it.buffered
          val out = Seq.newBuilder[(Long, SegDesc)]
          while (rows.hasNext) {
            val region = rows.head.getInt(0)
            val (table, shard) = regionNames(region)
            val tableDir = table.replace(':', '~')
            // the region's one writer makes its live directory (empty, it
            // shows nothing to any face), so the driver flip only renames
            Files.createDirectories(Paths.get(rootDir, tableDir, shard))
            val dir = Paths.get(stagingStr, attempt.toString, tableDir)
            // duplicate handling spans the WHOLE region run: a (rowkey,
            // version) pair straddling a segment roll still collapses (same
            // body) or fails loudly (conflicting body), never lands twice
            val run = dedupSorted(new Iterator[(Array[Byte], Long, Array[Byte])] {
              override def hasNext: Boolean = rows.hasNext && rows.head.getInt(0) == region
              override def next(): (Array[Byte], Long, Array[Byte]) = {
                val r = rows.next()
                (r.getAs[Array[Byte]](1), r.getLong(2), r.getAs[Array[Byte]](3))
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
              out += ((attempt, SegDesc(table, shard, meta.fileName, meta.entryCount.toLong,
                meta.minVersion, meta.maxVersion)))
            }
          }
          out.result().iterator
        }
        .collect()

      // flip-in, driver-side, after every task committed: per-file atomic
      // rename out of the committed attempt's staging into its region
      staged.foreach { case (attempt, d) =>
        val tableDir = d.table.replace(':', '~')
        Files.move(staging.resolve(attempt.toString).resolve(tableDir).resolve(d.file),
          Paths.get(rootDir, tableDir, d.shard, d.file),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      }
      val descs = staged.map(_._2).toSeq
      Report(descs.map(_.cells).sum, descs)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(staging.toFile)
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

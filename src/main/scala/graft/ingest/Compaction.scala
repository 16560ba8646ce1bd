package graft.ingest

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MAJOR COMPACTION for the cell store — the maintenance operator that
  * completes the HBase store-file lifecycle: flushed per-cell puts and
  * bulk-loaded [[CellSegment]]s accumulate per shard; compaction
  * rewrites the whole set into fresh sorted segments, applying the
  * retention the write paths only promise (the table DDL's
  * `maxVersions`, plus an optional TTL cutoff honoring the DDL's
  * `minVersions` floor: expired versions go, but every key keeps its
  * newest minVersions cells), then deletes the superseded files.
  *
  * Plan shape: one shard-parallel connector scan, one per-key
  * retention ranking (hash exchange on rowkey — groups are
  * per-key version lists, never corpus-sized), and [[BulkLoad]]'s
  * write physics for the rewrite (range shuffle → sorted segments →
  * atomic flip-in). File deletion fans out over the 256 shard
  * directories.
  *
  * Visibility contract (HBase's): the new segments flip in BEFORE old
  * files are removed, and every read face dedupes on (key, version),
  * so a concurrent reader sees each retained cell exactly once at any
  * point; versions being GC'd remain visible until their old files
  * are gone (compaction is eventually-applied retention, exactly as
  * in HBase). Idempotent: re-compacting a compacted table regenerates
  * the identical content-hash segment names, flips them onto
  * themselves, and deletes nothing.
  *
  * Concurrent-writer safety (HBase compactions tolerate live writes):
  * the store-file set is SNAPSHOTTED before the rewrite scan plans,
  * and the sweep deletes only files present in that snapshot (minus
  * the fresh segments). A put or bulk load racing any phase lands a
  * file OUTSIDE the snapshot and survives the sweep; if the rewrite
  * scan also saw its cell, the cell exists in both a fresh segment and
  * the surviving file — one logical cell to every read face, which
  * dedupes on (key, version), and the redundant file is collected by
  * the NEXT compaction. No writer pause, no generation counter: the
  * snapshot IS the generation.
  *
  * [[minor]] is the OTHER half of the HBase compaction model: a
  * region-LOCAL merge of the small store files (per-cell puts and
  * segments under a size threshold) into one fresh segment per shard —
  * no Spark shuffle anywhere, no retention applied (HBase minor
  * compactions never GC versions; only majors do), large segments left
  * untouched. Every put-and-segment region merge — the write path's put
  * flush (a puts-only merge) and tier merge, [[minor]], and
  * [[RegionSplit]]'s phase 1 — runs through [[mergeRegion]].
  * Colliding (rowkey, version) identities with different
  * bodies — legal once an in-place SQL UPDATE has re-put a
  * segment-resident cell — resolve by the READ faces' precedence (put
  * beats segment, newer segment beats older; [[resolveSorted]]), and
  * the output segment's trailer seqNo preserves that standing against
  * the shard's unmerged files. Each shard's merge is an independent task that STREAMS a
  * k-way merge of its sorted inputs straight into the segment writer
  * (HBase's minor model: merge sorted store files with O(files)
  * memory) — only the put backlog is sorted in-core (put files are
  * small by construction, the memstore analog), so task memory is
  * O(put backlog + one open iterator per input segment), never the
  * shard's total input bytes.
  *
  * Reference contract: maxVersions/minVersions DDL at
  * HbaseClient.kt:83-92; the reference relies on HBase itself to GC
  * versions at compaction time — this operator IS that compactor for
  * the sandbox store.
  */
object Compaction {

  final case class Report(keptCells: Long, removedFiles: Long, segments: Seq[BulkLoad.SegDesc])

  /** (key, version, body, precedence): merge inputs are TAGGED with
    * their source rank — puts carry Long.MaxValue (the memstore analog:
    * an in-place re-put atomically replaced the put FILE, so a put is
    * by construction the newest edit at its coordinate), segments carry
    * their trailer seqNo (newer generation outranks older). Precedence
    * is not part of the sort key — identity order is (key, version). */
  private type Cell = (Array[Byte], Long, Array[Byte], Long)

  private def cellCmp(a: Cell, b: Cell): Int = {
    val c = java.util.Arrays.compareUnsigned(a._1, b._1)
    if (c != 0) c else java.lang.Long.compare(a._2, b._2)
  }

  /** k-way merge of (key, version)-sorted cell iterators — a min-heap
    * of one buffered head per input, so the merged run materializes
    * NOTHING: memory is O(inputs), the HBase store-file merge shape. */
  private def mergeSorted(its: Seq[Iterator[Cell]]): Iterator[Cell] = new Iterator[Cell] {
    private val pq = new java.util.PriorityQueue[scala.collection.BufferedIterator[Cell]](
      math.max(1, its.size),
      (x: scala.collection.BufferedIterator[Cell], y: scala.collection.BufferedIterator[Cell]) =>
        cellCmp(x.head, y.head))
    its.foreach { it => val b = it.buffered; if (b.hasNext) pq.add(b) }
    override def hasNext: Boolean = !pq.isEmpty
    override def next(): Cell = {
      val top = pq.poll()
      val e = top.next()
      if (top.hasNext) pq.add(top)
      e
    }
  }

  /** Collapse same-identity duplicates of a (key, version)-sorted
    * tagged run by PRECEDENCE — the highest-ranked body wins, exactly
    * the winner every read face surfaces (put over segment, newer
    * segment over older). Colliding identities with DIFFERENT bodies
    * are legal across source ranks (an in-place SQL UPDATE puts a new
    * body at a segment-resident coordinate); a tie at the TOP rank is
    * two copies of one source class and must be byte-identical (the F5
    * invariant) — differing bodies there are a corrupt input and
    * throw, as in [[BulkLoad.dedupSorted]]. */
  private def resolveSorted(it: Iterator[Cell]): Iterator[(Array[Byte], Long, Array[Byte])] =
    new Iterator[(Array[Byte], Long, Array[Byte])] {
      private val in = it.buffered
      override def hasNext: Boolean = in.hasNext
      override def next(): (Array[Byte], Long, Array[Byte]) = {
        val first = in.next()
        val (key, v) = (first._1, first._2)
        var bestBody = first._3
        var bestPrio = first._4
        while (in.hasNext && in.head._2 == v && java.util.Arrays.equals(in.head._1, key)) {
          val e = in.next()
          if (e._4 > bestPrio) { bestPrio = e._4; bestBody = e._3 }
          else if (e._4 == bestPrio)
            require(java.util.Arrays.equals(e._3, bestBody),
              s"minor compaction: two same-precedence bodies for one (rowkey, version) cell at version $v")
        }
        (key, v, bestBody)
      }
    }

  /** Diagnostic/spec seam: the largest IN-CORE cell buffer any region
    * merge ([[mergeRegion]]) ever held — the sorted put backlog;
    * segment entries stream and are never buffered. CompactionSpec pins
    * max-buffered ≪ total merged input under a tiny threshold. */
  private[graft] val minorMaxBuffered = new java.util.concurrent.atomic.AtomicLong(0)

  /** The small-segment size class: [[minor]]'s default input ceiling and
    * the write path's segment tier. A segment past it has graduated out
    * of the tier and waits for an operator minor or a major. */
  private[ingest] val SmallSegmentBytes: Long = 32L << 20

  /** One region's own store files, listed once: its put entries and, on
    * first use, the trailer of every segment. A segment that a sibling
    * merge deleted between the listing and the read is skipped: its cells
    * moved into an output whose seqNo is ≥ its own, so the region's
    * ceiling stays sound. The write path's upkeep policy and the merge
    * it decides on read this one snapshot. */
  private[ingest] final class RegionFiles(val dir: Path, val own: Vector[ShardFiles.Entry]) {
    val puts: Vector[ShardFiles.Entry] = own.filter(_.isPut)
    lazy val segments: Vector[(Path, CellSegment.Trailer)] = own.filter(_.isSegment).flatMap { e =>
      try Some((e.path, CellSegment.readTrailer(e.path)))
      catch { case _: java.io.IOException => None }
    }
    /** the region's precedence ceiling: its highest segment seqNo */
    def maxSeqNo: Long = segments.map(_._2.seqNo).foldLeft(0L)(math.max)
    /** the seqNo of a segment that takes in puts (merged or landed
      * directly): above the whole region, so a put keeps outranking any
      * stale segment copy of its coordinate */
    def putSeqNo: Long = maxSeqNo + 1
    def smallSegments: Int = segments.count(_._2.indexOffset <= SmallSegmentBytes)
  }

  private[ingest] object RegionFiles {
    def apply(dir: Path): RegionFiles = new RegionFiles(dir, ShardFiles.list(dir).own)
  }

  /** A region merge's segments written, its inputs (the listed put
    * files, then the admitted segments) and how many inputs it deleted. */
  private[ingest] final case class Merged(outputs: Seq[CellSegment.Meta], inputs: Seq[Path],
                                          removed: Long)

  /** ONE REGION MERGE — the put flush, the write path's tier merge,
    * [[minor]] and [[RegionSplit]]'s phase 1 all run through here. The
    * inputs are every put file of `files` (a put that vanished since the
    * listing is skipped: a sibling flush absorbed it) plus the segments
    * whose trailer `admit` accepts. Only the put backlog is sorted
    * in-core (put files are small by construction — the memstore
    * analog); each segment streams its own sorted entries, and the k-way
    * merge hands `write` the precedence-resolved, key-sorted cells with
    * no intermediate materialization — task memory is O(puts + open
    * iterators) whatever the admitted bytes — together with the output
    * seqNo: [[RegionFiles.putSeqNo]] when puts were absorbed (they must
    * keep outranking every segment of the region, admitted or not); a
    * put-free merge is exactly as new as its newest input, its standing
    * against unmerged segments unchanged.
    *
    * Nothing is written (None) when no put was read and fewer than
    * `minSegments` segments were admitted. With `sweep`, the inputs are
    * deleted after the write, except a name the write produced (a
    * single-input merge can reuse its input's content-hash name), and
    * [[FileStore.absorbProbe]] runs in between. The caller holds the
    * region's maintenance monitor ([[FileStore.shardLockFor]]) or the
    * table write lock across the whole absorb→delete window. */
  private[ingest] def mergeRegion(files: RegionFiles, admit: CellSegment.Trailer => Boolean,
                                  minSegments: Int = 2, sweep: Boolean = true)(
      write: (Iterator[(Array[Byte], Long, Array[Byte])], Long) => Seq[CellSegment.Meta]
  ): Option[Merged] = {
    val putCells = files.puts.flatMap { e =>
      try {
        val (key, body) = ShardFiles.read(e.path)
        Some((key, e.version, body, Long.MaxValue))
      } catch { case _: java.io.IOException => None }
    }.sortWith(cellCmp(_, _) < 0)
    val segs = files.segments.filter { case (_, t) => admit(t) }
    if (putCells.isEmpty && segs.size < minSegments) return None
    minorMaxBuffered.updateAndGet(m => math.max(m, putCells.size.toLong))
    val seqNo =
      if (putCells.nonEmpty) files.putSeqNo
      else segs.map(_._2.seqNo).foldLeft(0L)(math.max)
    // inputs close on exhaustion in the happy path; the finally
    // releases every NON-exhausted input's stream if the merge or the
    // write throws mid-way (close is idempotent)
    val segIts = segs.map { case (p, t) => CellSegment.entries(p, needBody = true, t.indexOffset) }
    val tagged = segIts.zip(segs).map { case (it, (_, t)) =>
      it.map { case (k, v, b) => (k, v, b, t.seqNo) }
    }
    val outputs =
      try write(resolveSorted(mergeSorted(putCells.iterator +: tagged)), seqNo)
      finally segIts.foreach(it => try it.close() catch { case _: Exception => () })
    val inputs = files.puts.map(_.path) ++ segs.map(_._1)
    var removed = 0L
    if (sweep) {
      // test seam: the absorb→delete window a replace-by-coordinate
      // must never land inside (it can't — the replace takes the
      // region's monitor; FlushReplaceRaceSpec drives the interleaving)
      FileStore.absorbProbe(files.dir)
      val written = outputs.map(_.fileName).toSet
      inputs.foreach { p =>
        if (!written(p.getFileName.toString) && Files.deleteIfExists(p)) removed += 1
      }
    }
    Some(Merged(outputs, inputs, removed))
  }

  /** Region-local minor compaction: per shard, merge every per-cell
    * put file plus every segment whose DATA REGION is under
    * `maxInputBytes` into one fresh sorted segment; inputs are then
    * deleted (snapshot-bounded — the same racing-writer contract as
    * [[major]]: only the files read are deletable). Returns the cells
    * merged and files removed, in the tasks of [[RegionJobs.plan]].
    * Idempotent: a shard with ≤1 input and no puts is untouched. */
  def minor(spark: SparkSession, root: String, table: String,
            maxInputBytes: Long = SmallSegmentBytes): Report = {
    val results = RegionJobs.overDirs(spark, ShardFiles.regions(Paths.get(root, table.replace(':', '~'))))
      .map(shardPath => minorShard(Paths.get(shardPath), maxInputBytes))
      .collect()
    Report(results.map(_._1).sum, results.map(_._2).sum, results.flatMap(_._3).toSeq)
  }

  /** ONE shard's minor — the body of [[minor]] and the write path's tier
    * merge: a [[mergeRegion]] admitting the segments under
    * `maxInputBytes`, into one fresh segment in the shard itself. */
  private[ingest] def minorShard(shard: Path,
                                 maxInputBytes: Long): (Long, Long, Seq[BulkLoad.SegDesc]) =
    // the shard's maintenance monitor spans the whole absorb→delete
    // window (r17): a replace-by-coordinate put (streaming upsert MV,
    // in-place UPDATE) re-renames onto an existing put path, and an
    // unguarded merge that read the old bytes would delete the NEW
    // ones with the path. putBatch's replacing renames take the same
    // monitor, so the replace lands strictly before the absorb or
    // strictly after the delete. Reentrant under the flush hook (which
    // already holds it); driver-side minors take it fresh — blocking
    // only THIS region's point reads and flushes for the merge's
    // duration, the region-server-local pause HBase's store lock
    // models.
    FileStore.shardLockFor(shard).synchronized {
      mergeRegion(RegionFiles(shard), _.indexOffset <= maxInputBytes)(
        (cells, seqNo) => Seq(CellSegment.write(shard, cells, seqNo))) match {
        case Some(Merged(Seq(meta), _, removed)) =>
          val table = shard.getParent.getFileName.toString.replace('~', ':')
          (meta.entryCount.toLong, removed, Seq(BulkLoad.SegDesc(table, shard.getFileName.toString,
            meta.fileName, meta.entryCount.toLong, meta.minVersion, meta.maxVersion)))
        case _ => (0L, 0L, Seq.empty)
      }
    }

  /** A put or marker file's (size, mtimeNanos); None once it is gone. */
  private def stampOf(p: Path): Option[(Long, Long)] =
    try {
      val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
      Some((a.size(), a.lastModifiedTime().to(java.util.concurrent.TimeUnit.NANOSECONDS)))
    } catch { case _: java.io.IOException => None }

  def major(spark: SparkSession, root: String, table: String,
            ttlCutoff: Option[Long] = None,
            config: BulkLoad.Config = BulkLoad.Config(),
            // test seam: runs after the fresh segments flip in, before
            // the sweep — the window a racing writer is most exposed in
            beforeSweep: () => Unit = () => (),
            // the compaction's clock, for the DDL-TTL cutoff —
            // injectable so gates/specs expire deterministically
            nowMillis: () => Long = () => System.currentTimeMillis()): Report = {
    val store = FileStore(root)
    // the recorded DDL through the one JSON parser (TableSpec.fromJson
    // ∘ core/Json) — the same descriptor read restore takes
    val spec = store.readSpecJson(table)
      .map(PushTableSink.TableSpec.fromJson)
      .getOrElse(PushTableSink.TableSpec())
    val maxVersions = spec.maxVersions
    // the compaction's ONE clock instant: the scan's read-time
    // retention and the keep-filter's TTL cutoff both derive from this
    // snapshot, so the two formulas literally see the same millisecond
    // (two nowMillis() calls could differ and quietly contradict the
    // byte-identical-view contract q256 pins)
    val now = nowMillis()
    // TTL precedence: an explicit cutoff wins (the operational
    // override); otherwise the DDL's ttlMillis derives one from the
    // compaction clock — HBase's model, where TTL lives in the
    // column-family descriptor and majors enforce it
    val effCutoff = ttlCutoff.orElse(
      if (spec.ttlMillis == Long.MaxValue) None
      else Some(now - spec.ttlMillis))

    // the sweep's upper bound: only files that exist NOW — before the
    // rewrite scan plans — may be deleted, so anything a concurrent
    // writer lands from here on survives
    val tableDir0 = Paths.get(root, table.replace(':', '~'))
    // per name: None = segment (immutable — plain-deletable); Some(
    // (size, mtimeNanos)) = put/marker file, whose PATH can be
    // re-renamed onto by a replace-by-coordinate write (streaming
    // upsert MV, in-place UPDATE) AFTER this snapshot — the sweep must
    // not delete a path whose content is no longer what the rewrite
    // absorbed (r17: a real lost update, caught by q255's forensic
    // gate on the flush path; the major's scan→sweep window is the
    // same hazard stretched over a whole job)
    val snapshot: Map[String, Map[String, Option[(Long, Long)]]] =
      ShardFiles.regions(tableDir0).map { shard =>
        // own store files only: `_split*`/`_merge*` satellites and
        // staging belong to a concurrent region split/merge, and are
        // never sweep targets (the lifecycle ops own them)
        shard.getFileName.toString -> ShardFiles.list(shard).own.map { e =>
          e.name -> (if (e.isSegment) None else Some(stampOf(e.path).getOrElse((-1L, -1L))))
        }.toMap
      }.toMap

    // the rewrite scan evaluates READ-TIME retention at the SAME clock
    // instant as the keep-filter below (option("retentionNowMillis")),
    // so the two formulas — one masking, one ranking — see one instant
    // and the major can never change answers: it rewrites exactly the
    // masked view the reads already serve, then reclaims the bytes
    val cells = spark.read.format("graft-cells")
      .option("root", root).option("table", table)
      .option("retentionNowMillis", now.toString)
      .load()

    // retention: newest-first rank per key; keep rank <= maxVersions,
    // and under TTL keep {version >= cutoff} ∪ {rank <= minVersions} —
    // the HBase MIN_VERSIONS contract: TTL may never take a key below
    // its declared floor (the descriptor records it, restore
    // round-trips it, and this is where it binds). Since round 15 the
    // READ faces apply the same formula ([[Retention]]), so this
    // filter is a no-op on what the scan already hides — kept because
    // an EXPLICIT ttlCutoff override may be harsher than the DDL's.
    val minVersions = math.max(1, spec.minVersions)
    val ranked = cells.withColumn("rk",
      row_number().over(Window.partitionBy(col("rowkey")).orderBy(col("version").desc)))
    val kept = ranked
      .filter(col("rk") <= maxVersions &&
        effCutoff.fold(lit(true))(c => col("version") >= c || col("rk") <= minVersions))
      .select(lit(table).as("tableName"), col("rowkey"), col("version"), col("body"))

    val report = BulkLoad.writeCells(kept, root, config)
    val keepNames: Map[String, Set[String]] =
      report.segments.groupBy(_.shard).map { case (s, ds) => s -> ds.map(_.file).toSet }

    beforeSweep()

    // sweep phase: the per-shard deletes run in RegionJobs' tasks; a
    // shard only ever holds cell files and segments (the DDL json
    // lives at table level). Deletable = in the pre-scan SNAPSHOT and
    // not a fresh segment — files landed since the snapshot belong to
    // concurrent writers and are left alone.
    val keepB = spark.sparkContext.broadcast(keepNames)
    val snapB = spark.sparkContext.broadcast(snapshot)
    val removed = RegionJobs.overDirs(spark, snapshot.keys.toSeq.sorted.map(tableDir0.resolve))
      .map { shardPath =>
        val shard = Paths.get(shardPath)
        val shardName = shard.getFileName.toString
        val keep = keepB.value.getOrElse(shardName, Set.empty)
        val snap = snapB.value.getOrElse(shardName,
          Map.empty[String, Option[(Long, Long)]])
        var n = 0L
        snap.foreach { case (name, stamp) =>
          if (!keep.contains(name)) stamp match {
            case None => // immutable segment — plain delete
              if (Files.deleteIfExists(shard.resolve(name))) n += 1
            case Some(st) =>
              // put/marker: delete ONLY if byte-identical with what
              // the rewrite absorbed, verified as (size, mtimeNanos)
              // under the shard's maintenance monitor — the replacing
              // rename takes the same monitor, so no replace can land
              // between this check and the delete. A mismatch (a
              // replace since the snapshot) skips the delete: the
              // newer put outranks the rewritten segment and the next
              // maintenance pass absorbs it — fail-safe, bytes linger
              // at worst.
              FileStore.shardLockFor(shard).synchronized {
                val p = shard.resolve(name)
                if (stampOf(p).contains(st) && Files.deleteIfExists(p)) n += 1
              }
          }
        }
        n
      }.sum().toLong

    // REGION SPLIT policy (HBase evaluates its split policy after every
    // compaction): a major can leave a freshly-compacted region still
    // past the DDL's maxRegionBytes — split it now rather than waiting
    // for the next write to that region. Driver-side, per shard; the
    // default DDL (bound off) pays nothing.
    if (spec.maxRegionBytes > 0)
      ShardFiles.regions(tableDir0).foreach(shard =>
        RegionSplit.maybeSplit(root, table, shard.getFileName.toString, spec.maxRegionBytes))

    Report(report.cells, removed, report.segments)
  }
}

package graft.ingest

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** AUTOMATIC REGION SPLIT — the `hbase.hregion.max.filesize` lifecycle
  * verb, completing the store's autonomous maintenance after r15's
  * auto-flush and segment-tier minor: when maintenance leaves a region
  * holding more store-file bytes than the table DDL's `maxRegionBytes`,
  * the store splits that region in place — split key from the region's
  * own data (the midkey of its largest segment, HBase's split-point
  * policy), shortened to the minimal separator byte string.
  *
  * Reference anchor: the reference's rowkey opens with a 4-byte CRC32
  * of the record id precisely so the REGION model can range-partition
  * uniformly (`reference:src/main/kotlin/app/domain/MessageUtils.kt:120-149`);
  * HBase itself owns region splitting on that layout — this operator IS
  * that region-server behavior for the sandbox store.
  *
  * == The protocol (parent shard S = [a, b), split key m) ==
  *
  *  1. '''merge''' — snapshot S's store files and merge them
  *     through [[Compaction.mergeRegion]] (every segment admitted; puts
  *     in-core, segments streaming, read-precedence resolution), cutting
  *     the stream at m into TWO fresh sorted segments: keys < m into S
  *     itself, keys ≥ m into a staging directory. Intra-directory
  *     duplication with the parents is the same flip-in state every
  *     compaction passes through — readers dedup on the cell identity.
  *  2. '''publish''' — one atomic rename lands the staging directory as
  *     the SATELLITE `S/_split-<hex(m)>/` (with copies of S's upper-key
  *     delete markers and a `_split.json` recovery manifest). The
  *     satellite lives INSIDE the parent's directory, so the parent's
  *     single listing discovers it at zero extra I/O and no reader ever
  *     needs two directories to agree atomically: at every instant one
  *     partition owns the whole range [a, b).
  *  3. '''sweep''' — delete the absorbed parent files (readers caught
  *     mid-walk rebuild from a fresh listing, the r15 vanish-resilience
  *     contract, and find the daughters' copies).
  *  4. '''record''' — append m to `_splits.json`
  *     ([[FileStore.recordSplitStart]]): new writes route upper keys to
  *     the daughter; every reader planning from here on sees the new
  *     layout (the stamp-validated [[FileStore.splitsAt]] cache).
  *  5. '''promote''' — one atomic rename moves the satellite to the
  *     first-class region directory `<table>/<hex(m)>`. If a put after
  *     a crash between record and promote already created that
  *     directory, recovery folds the satellite into it instead.
  *
  * '''Exactly-once under concurrency.''' Writers are excluded for the
  * split's duration by the table write lock ([[FileStore.Locks]] — the
  * coordination HBase routes through master/ZooKeeper, single-JVM
  * here). Readers never block; they stay exactly-once because (i)
  * phases 1–3 only ever create intra-partition duplication, resolved by
  * the identity dedup every read face already performs; (ii) a
  * partition planned before the split covers [a, b) and its reader
  * re-discovers daughters born since planning (layout-fingerprint check
  * + daughter-directory walk in [[graft.sources.CellsReaders]]),
  * preserving its emitted-identity set across rebuilds; (iii) a
  * partition planned after phase 5 covers a tight daughter range.
  * The ordering argument that closes the last race: a reader lists its
  * OWN directory before looking for daughters, and the sweep strictly
  * follows the publish — so a reader that misses the satellite is
  * guaranteed to have listed the parent while the absorbed files were
  * still present.
  *
  * '''Crash safety.''' Every phase boundary is a single atomic rename
  * or an idempotent delete/append; [[completePending]] finishes any
  * interrupted split from its manifest (pre-publish staging orphans are
  * simply removed — the parents are still intact). The masked view is
  * byte-identical at every intermediate state (spec-pinned per stage
  * via [[probeHook]]).
  *
  * '''100 TB posture.''' A split rewrites one region once — the same
  * bill as the minor compaction the region was already owed; daughters
  * start compacted (exactly one segment each). HBase pre-2.x deferred
  * the rewrite with reference files and paid it at the daughters' first
  * compaction instead; the inline rewrite was chosen because it keeps
  * every read face single-directory and needs no refcounting. Split
  * checks cost one listing per touched shard per batch and only on
  * tables that opt in (`maxRegionBytes` DDL, default off).
  */
object RegionSplit {

  /** spec/gate seam: splits actually performed. */
  private[graft] val splitsDone = new java.util.concurrent.atomic.AtomicLong(0)

  /** test seam: invoked with `"<stage>:<detail>"` just AFTER each
    * protocol stage commits — a spec scans the table at every
    * intermediate state (view must be byte-identical), or throws to
    * simulate a crash there (recovery must then converge). */
  @volatile private[graft] var probeHook: String => Unit = _ => ()

  private def cmp(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  /** Shortest byte string s with a < s ≤ b (for a < b): the split
    * boundary needs only enough bytes to separate the halves — region
    * names stay short however long the rowkeys are (rowkeys embed whole
    * record ids; a full midkey could exceed filename limits). */
  private[graft] def shortestSeparator(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(cmp(a, b) < 0, "separator needs a < b")
    var i = 0
    while (i < a.length && a(i) == b(i)) i += 1
    // b differs from a at i, or a is a strict prefix of b (i == a.length
    // < b.length since a < b): either way b.take(i+1) > a and ≤ b
    b.take(i + 1)
  }

  /** total store-file bytes currently resident in a shard directory —
    * the split policy's measure and the scan's packing weight
    * (satellites excluded: their bytes belong to the daughter being
    * born). */
  private[graft] def shardBytes(shardDir: Path): Long =
    ShardFiles.list(shardDir).own.iterator.map { e =>
      try Files.size(e.path) catch { case _: java.io.IOException => 0L }
    }.sum

  /** The split key: midkey of the region's LARGEST segment (HBase's
    * split-point policy — the biggest store file's middle block key),
    * shortened to the minimal separator between the adjacent distinct
    * keys; key-only stream, no body I/O. Falls back to the put files'
    * median key boundary when the region has no segments (flush
    * disabled). None when the region holds < 2 distinct keys — an
    * unsplittable region, exactly HBase's single-row-region behavior. */
  private def chooseSplitKey(files: Compaction.RegionFiles): Option[Array[Byte]] = {
    val fromSegment = files.segments
      .sortBy(-_._2.indexOffset)
      .headOption
      .filter(_._2.distinctKeys >= 2)
      .flatMap { case (n, t) =>
        val mid = t.entryCount / 2
        var i = 0
        var prev: Array[Byte] = null
        var below: (Array[Byte], Array[Byte]) = null // last key change at index ≤ mid
        var above: (Array[Byte], Array[Byte]) = null // first key change after mid
        val it = CellSegment.entries(n, needBody = false, t.indexOffset)
        try {
          while (it.hasNext && above == null) {
            val (k, _, _) = it.next()
            if (prev != null && !java.util.Arrays.equals(prev, k)) {
              if (i <= mid) below = (prev, k) else above = (prev, k)
            }
            prev = k
            i += 1
          }
        } finally it.close()
        Option(if (above != null) above else below)
          .map { case (a, b) => shortestSeparator(a, b) }
      }
    fromSegment.orElse {
      // no usable segment: median boundary of the put backlog's keys
      // (key headers only — 4 + keyLen bytes per file)
      val keys = files.puts.flatMap { e =>
        try Some(ShardFiles.readKey(e.path, _ => false)._1)
        catch { case _: java.io.IOException => None }
      }.distinctBy(_.toSeq).sortWith(cmp(_, _) < 0)
      if (keys.size < 2) None
      else Some(shortestSeparator(keys(keys.size / 2 - 1), keys(keys.size / 2)))
    }
  }

  /** Evaluate the split policy for one shard and split as long as it
    * stays oversized (daughters re-checked too — one heavy load can owe
    * several halvings). Cheap when under bound: one listing, no lock.
    * Returns the number of splits performed. Never throws on
    * maintenance races — an interrupted split is recoverable state,
    * and the put batch that triggered the check is already durable. */
  def maybeSplit(root: String, table: String, shardName: String,
                 maxRegionBytes: Long, maxSplits: Int = 64): Int = {
    val tableDir = Paths.get(root, table.replace(':', '~'))
    // lock-free pre-check: the common under-bound case must not
    // serialize concurrent writers behind a write-lock acquisition
    if (shardBytes(tableDir.resolve(shardName)) <= maxRegionBytes) return 0
    FileStore.Locks.write(tableDir) {
      completePendingIn(root, table, tableDir)
      var done = 0
      var work = List(shardName)
      while (work.nonEmpty && done < maxSplits) {
        val s = work.head
        work = work.tail
        try splitOnce(root, table, tableDir, s, maxRegionBytes) match {
          case Some(daughter) =>
            done += 1
            splitsDone.incrementAndGet()
            work = s :: daughter :: work // both halves may still be oversized
          case None => ()
        } catch {
          case _: java.io.IOException => () // recoverable; completePending converges
        }
      }
      done
    }
  }

  private[graft] val mergesDone = new java.util.concurrent.atomic.AtomicLong(0)

  /** REGION MERGE — HBase `merge_region`, the split's inverse: fold
    * the region starting at `rightStart` into its LEFT neighbor.
    * Protocol (write lock held — writers and other maintenance
    * excluded; readers never lock):
    *
    *  0. '''link''' — write the merge link `left/_merging-<rightStart>`
    *     ([[ShardFiles.mergeLinkNameOf]]): from here until the fold, a
    *     point read routed to the left region also lists the right
    *     directory while it still stands ([[ShardFiles.pointEntries]]).
    *     Scans ignore the link.
    *  1. '''unbind''' — remove the boundary from `_splits.json` FIRST:
    *     new writes route the right range to the left region, and any
    *     reader planned under the old layout sees the fingerprint
    *     change and discovers the parked content below. (Both regions'
    *     directories still exist at this instant, each serving its own
    *     files — exactly-once by disjointness; point reads of the right
    *     range, now routed left, follow the link.)
    *  2. '''park''' — ONE atomic rename moves the right region's whole
    *     directory to the left's MERGE SATELLITE
    *     `left/_merge-<rightStart>/`: ownership flips to the left
    *     partition in one step. Range-classified satellite expansion
    *     keeps pre-merge partitions exactly-once: a pre-merge LEFT
    *     partition (planned end = rightStart) EXCLUDES the satellite
    *     (target ≥ its end), while the pre-merge RIGHT partition's
    *     reader — its directory gone, fingerprint changed — finds the
    *     satellite in a PRECEDING directory targeting its range.
    *  3. '''fold''' — move each parked file into the left directory
    *     proper (atomic renames; keys are range-disjoint so nothing
    *     collides except content-identical segment names) and drop the
    *     empty satellite, then the link.
    *
    * Crash recovery ([[completePending]]): an unfolded `_merge-*`
    * satellite folds idempotently; a boundary removed with the right
    * directory still standing (crash between 1 and 2) parks + folds it;
    * every merge link goes (no merge is mid-protocol once recovery ran).
    * At 100 TB a merge is O(store files of one region) renames — no
    * data bytes move. */
  def mergeLeft(root: String, table: String, rightStart: String): Boolean = {
    val tableDir = Paths.get(root, table.replace(':', '~'))
    FileStore.Locks.write(tableDir) {
      completePendingIn(root, table, tableDir)
      val layout = FileStore.splitsAt(tableDir)
      val i = layout.names.indexOf(rightStart)
      require(i > 0, s"region '$rightStart' is not a mergeable boundary of $table " +
        s"(first region, or no such boundary)")
      val leftDir = tableDir.resolve(layout.names(i - 1))
      val rightDir = tableDir.resolve(rightStart)
      Files.createDirectories(leftDir)
      val link = leftDir.resolve(ShardFiles.mergeLinkNameOf(rightStart))
      if (!Files.exists(link)) Files.createFile(link)
      probeHook(s"unbinding:$rightStart")
      FileStore(root).recordBoundaryRemoval(table, rightStart)
      probeHook(s"unbound:$rightStart")
      if (Files.isDirectory(rightDir))
        Files.move(rightDir, leftDir.resolve(ShardFiles.mergeSatelliteNameOf(rightStart)),
          StandardCopyOption.ATOMIC_MOVE)
      probeHook(s"parked:$rightStart")
      foldMergeSatellite(leftDir, rightStart)
      Files.deleteIfExists(link)
      probeHook(s"folded:$rightStart")
      mergesDone.incrementAndGet()
      true
    }
  }

  private def foldMergeSatellite(leftDir: Path, target: String): Unit =
    foldInto(leftDir, leftDir.resolve(ShardFiles.mergeSatelliteNameOf(target)))

  /** move every file of satellite `sat` into region directory `dir`,
    * then drop the empty satellite; idempotent (recovery replays
    * converge) — nested satellites can't exist here (completePendingIn
    * runs first), but a nested dir moves wholesale and keeps its range
    * classification if one ever did. */
  private def foldInto(dir: Path, sat: Path): Unit = {
    if (!Files.isDirectory(sat)) return
    ShardFiles.list(sat).paths.foreach { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".tmp")) Files.deleteIfExists(p)
      else
        try Files.move(p, dir.resolve(n), StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            // content-hash twin (identical segment) — one copy suffices
            Files.deleteIfExists(p)
        }
    }
    Files.deleteIfExists(sat)
  }

  /** Lift every segment in `dir` by the same step above every segment
    * of `sat` when any of them is not already above: a flush into a
    * daughter directory born after a crash stamps from that directory's
    * own (empty) history, so before the fold it could lose its
    * coordinates to the older satellite copies. Each segment is
    * rewritten under its own name (the seqNo is outside the content
    * hash), highest first, so a replay after a crash mid-lift lifts
    * the done ones again and `dir`'s own order still holds. */
  private def outrank(dir: Path, sat: Path): Unit = {
    val ceiling = Compaction.RegionFiles(sat).maxSeqNo
    val mine = Compaction.RegionFiles(dir).segments.sortBy(-_._2.seqNo)
    if (mine.exists(_._2.seqNo <= ceiling)) mine.foreach { case (p, t) =>
      val it = CellSegment.entries(p, needBody = true, t.indexOffset)
      try CellSegment.write(dir, it, t.seqNo + ceiling + 1) finally it.close()
    }
  }

  /** Finish interrupted splits across the table (crash recovery):
    * published satellites complete their sweep/record/promote phases
    * from their manifests; pre-publish staging orphans are removed
    * (their parents are intact, their content duplicative). Idempotent;
    * called under the table write lock. */
  def completePending(root: String, table: String): Int = {
    val tableDir = Paths.get(root, table.replace(':', '~'))
    FileStore.Locks.write(tableDir)(completePendingIn(root, table, tableDir))
  }

  private def completePendingIn(root: String, table: String, tableDir: Path): Int = {
    var completed = 0
    val shardDirs = ShardFiles.regions(tableDir)
    // a crashed MERGE between unbind and park leaves the right
    // region's dir standing with its boundary gone — park + fold it
    // into the left LISTED neighbor now (regions come in name order, so
    // "left" is the previous element)
    val layoutNames = FileStore.splitsAt(tableDir).names.toSet
    shardDirs.zipWithIndex.foreach { case (shard, idx) =>
      val n = shard.getFileName.toString
      if (!layoutNames.contains(n) && idx > 0) {
        val left = shardDirs(idx - 1)
        val sat = left.resolve(ShardFiles.mergeSatelliteNameOf(n))
        if (!Files.exists(sat) && Files.isDirectory(shard)) {
          try Files.move(shard, sat, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.io.IOException => () }
        }
        foldMergeSatellite(left, n)
        completed += 1
      }
    }
    // a dir the orphan pass just parked is gone from its old path
    shardDirs.filter(Files.isDirectory(_)).foreach { shard =>
      val l = ShardFiles.list(shard)
      // pre-publish staging orphans: the parents are still intact
      l.debris.foreach { p =>
        if (p.getFileName.toString.startsWith("_splitstage"))
          org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
      }
      // no merge is mid-protocol once the passes above ran
      l.mergeLinks.foreach(Files.deleteIfExists(_))
      l.satellites.foreach { sat =>
        val n = sat.getFileName.toString
        ShardFiles.mergeTargetOf(n) match {
          case Some(target) =>
            // an unfolded merge satellite: ensure its boundary is gone,
            // then fold (both idempotent)
            FileStore(root).recordBoundaryRemoval(table, target)
            foldMergeSatellite(shard, target)
          case None =>
            ShardFiles.satelliteTargetOf(n).foreach(
              finishFromSatellite(root, table, tableDir, shard, sat, _))
        }
        completed += 1
      }
    }
    completed
  }

  /** sweep + record + promote from a published satellite — each step
    * idempotent, so recovery replays converge whatever the crash point. */
  private def finishFromSatellite(root: String, table: String, tableDir: Path,
                                  shardDir: Path, satellite: Path, target: String): Unit = {
    val manifest = satellite.resolve("_split.json")
    val parents: Seq[String] =
      if (!Files.exists(manifest)) Seq.empty
      else {
        val o = graft.core.Json.parseObject(new String(Files.readAllBytes(manifest), "UTF-8"))
        o.get("parents") match {
          case Some(graft.core.JArr(items)) =>
            items.collect { case graft.core.JStr(s) => s }
          case _ => Seq.empty
        }
      }
    parents.foreach(n => Files.deleteIfExists(shardDir.resolve(n)))
    probeHook(s"swept:$target")
    FileStore.Splits.startOf(target).foreach(FileStore(root).recordSplitStart(table, _))
    probeHook(s"recorded:$target")
    val dst = tableDir.resolve(target)
    Files.deleteIfExists(manifest)
    if (!Files.exists(dst))
      Files.move(satellite, dst, StandardCopyOption.ATOMIC_MOVE)
    else {
      // a put after a crash at `recorded` created the daughter's
      // directory: fold the satellite into it, the post-crash cells
      // keeping their coordinates (a put file beats any segment;
      // `outrank` settles segment against segment)
      outrank(dst, satellite)
      foldInto(dst, satellite)
    }
    probeHook(s"promoted:$target")
  }

  /** One split of one shard, write lock held. Returns the daughter's
    * region name, or None (under bound / unsplittable). */
  private def splitOnce(root: String, table: String, tableDir: Path,
                        shardName: String, bound: Long): Option[String] = {
    val shardDir = tableDir.resolve(shardName)
    if (!Files.isDirectory(shardDir)) return None
    if (shardBytes(shardDir) > bound) () else return None
    // ONE snapshot: the split key and the merge read the same listing
    val files = Compaction.RegionFiles(shardDir)
    val m = chooseSplitKey(files).getOrElse(return None)
    val mName = FileStore.Splits.nameOf(m)
    // the boundary must fall strictly inside the region's range — a
    // misplaced straggler key (outside placement, legal only for the
    // first region's below-start keys) must never corrupt the layout
    val myStart = FileStore.Splits.startOf(shardName).getOrElse(return None)
    val layout = FileStore.splitsAt(tableDir)
    val nextStart = {
      val i = layout.names.indexOf(shardName)
      if (i >= 0 && i + 1 < layout.names.size) Some(layout.starts(i + 1)) else None
    }
    if (cmp(m, myStart) <= 0 || nextStart.exists(cmp(m, _) >= 0)) return None
    probeHook(s"chosen:$mName")

    // ---- phase 1: merge — the region merge, every segment admitted,
    // its stream cut at m: keys < m into S itself, the rest into the
    // staging directory. Both daughters inherit the output seqNo (they
    // live in different directories, precedence is per-shard); the
    // inputs are swept only after the publish, from the manifest ----
    val stage = Files.createTempDirectory(shardDir, "_splitstage")
    val merged = Compaction.mergeRegion(files, _ => true, minSegments = 1, sweep = false) {
      (cells, seqNo) =>
        val in = cells.buffered
        val lower = new Iterator[(Array[Byte], Long, Array[Byte])] {
          override def hasNext: Boolean = in.hasNext && cmp(in.head._1, m) < 0
          override def next(): (Array[Byte], Long, Array[Byte]) = in.next()
        }
        val lo = CellSegment.write(shardDir, lower, seqNo)
        Seq(lo, CellSegment.write(stage, in, seqNo))
    }.getOrElse {
      org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile)
      return None
    }
    val Seq(lowerMeta, upperMeta) = merged.outputs
    if (lowerMeta.entryCount == 0 || upperMeta.entryCount == 0) {
      // chooseSplitKey guarantees both halves nonempty; defend anyway —
      // an aborted split must leave the shard exactly as it was (the
      // parents were never touched), never fail the caller's batch
      if (lowerMeta.entryCount == 0) Files.deleteIfExists(shardDir.resolve(lowerMeta.fileName))
      org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile)
      return None
    }
    // upper-key delete markers ride with their cells (they carry the
    // length-prefixed true key, so membership is one small read each)
    val upperMarkers = files.own.filter(_.isMarker).map(_.path).filter { p =>
      try cmp(ShardFiles.read(p)._1, m) >= 0
      catch { case _: java.io.IOException => false }
    }
    upperMarkers.foreach { p =>
      Files.copy(p, stage.resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
    // recovery manifest: everything the sweep may delete from the
    // parent (the fresh lower segment explicitly excluded — a
    // single-input identity merge can reuse an absorbed file's name)
    val parents = (merged.inputs ++ upperMarkers)
      .map(_.getFileName.toString).filterNot(_ == lowerMeta.fileName)
    val manifest = ("""{"target":"""" + mName + """","parents":[""" +
      parents.map(p => "\"" + p + "\"").mkString(",") + "]}").getBytes("UTF-8")
    Files.write(stage.resolve("_split.json"), manifest)
    probeHook(s"staged:$mName")

    // ---- phase 2: publish the satellite (one atomic rename) ----
    Files.move(stage, shardDir.resolve(ShardFiles.satelliteNameOf(mName)),
      StandardCopyOption.ATOMIC_MOVE)
    probeHook(s"published:$mName")

    // ---- phases 3–5: sweep, record, promote (shared with recovery) ----
    finishFromSatellite(root, table, tableDir, shardDir,
      shardDir.resolve(ShardFiles.satelliteNameOf(mName)), mName)
    Some(mName)
  }
}

package graft.ingest

import graft.ingest.PushTableSink.{CellPut, Store, TableSpec}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Durable file-backed [[PushTableSink.Store]] — the push-path stand-in
  * for a live HBase cluster in an offline sandbox. One cell = one file:
  *
  *   <root>/<table>/<shard>/<sha256(rowkey)>.<version>
  *
  * named by the rowkey's SHA-256 (rowkeys embed the full record id and
  * are unbounded — far past the 255-byte filename limit — so the true
  * key is stored INSIDE the cell file, length-prefixed before the
  * body; [[ShardFiles]] owns this region-directory format). `shard` is
  * the hex of the ROWKEY'S OWN FIRST BYTE — 256 contiguous KEY RANGES,
  * the HBase region model (regions partition the rowkey space by range;
  * splits land on key-prefix boundaries). The
  * reference rowkey opens with a 4-byte CRC32 of the id
  * (MessageUtils.kt:120-149) precisely so this first byte is uniform —
  * range sharding gets hash-bucket balance for free, and a rowkey
  * PREFIX/RANGE scan resolves to a contiguous shard subset (the read
  * face's prefix pushdown) where a digest shard could never prune one.
  * `ensureTable` records the full DDL at `<table>/_spec.json`
  * idempotently (W3); `exists` is file existence, giving per-batch
  * read-your-writes under task retry (F5); `putBatch` stages each cell
  * to a temp file and atomically renames, so a killed task never leaves
  * a torn cell and a replay converges to the same state (W2). The
  * `maxVersions` DDL is honored by pruning the OLDEST versions of a key
  * past the cap, matching HBase's per-family version GC.
  *
  * Local-FS by design: on a real cluster this class is replaced by an
  * HBase/Bigtable client behind the same [[Store]] trait — the spec
  * suite pins the contract, not the storage.
  */
object FileStore {
  /** Diagnostic/spec seams for the putBatch flush hook: how many
    * post-commit policy checks ran (one listing each) and how many
    * actually flushed a backlog — specs pin "no-op cheap" (checks ≫
    * flushes under threshold) and "bounded backlog" (flushes > 0 once
    * a shard crosses it). */
  private[graft] val flushChecks = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val autoFlushes = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val autoMinors = new java.util.concurrent.atomic.AtomicLong(0)

  /** Minimum per-shard group size for the direct memstore flush on
    * VERSION-CAPPED tables (uncapped tables direct-flush from the DDL
    * threshold up, unchanged from r17). Below this, the per-cell path
    * interleaves better across concurrent same-shard sink tasks than a
    * monitor-held direct window; above it, tiny-file churn dominates
    * (BENCH_SCALING.md, round 18 "directFlush wave physics": capped
    * 15 k-cell wave 5.5 s per-cell vs 0.14 s direct). */
  private[ingest] val CappedDirectFloor: Int = 1024

  /** The cell-file naming digest. Public because the read face
    * ([[graft.sources.CellsSource]]) must route rowkey point lookups
    * to the SAME cell files the writer placed — a single definition
    * keeps write placement and read pruning in lockstep.
    * Thread-local digest + table-driven hex (r17): this runs once per
    * cell on every write/probe path — `getInstance` per call plus
    * per-byte format boxing was measurable across every store row. */
  private val sha256TL: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("SHA-256"))
  def keyDigest(rowkey: Array[Byte]): String = hex(keyDigestBytes(rowkey))

  /** The 32 bytes [[keyDigest]] spells in hex — what a segment index
    * and its bloom hold. */
  def keyDigestBytes(rowkey: Array[Byte]): Array[Byte] = {
    val md = sha256TL.get()
    md.reset()
    md.digest(rowkey)
  }

  private val HexChars = "0123456789abcdef".toCharArray

  /** Lowercase hex of `bytes[from, until)` — the one table-driven
    * encoder behind key digests, segment index entries, segment names
    * and shard names. */
  def hex(bytes: Array[Byte], from: Int, until: Int): String = {
    val out = new Array[Char]((until - from) * 2)
    var i = from
    var o = 0
    while (i < until) {
      out(o) = HexChars((bytes(i) >> 4) & 0xf)
      out(o + 1) = HexChars(bytes(i) & 0xf)
      i += 1
      o += 2
    }
    new String(out)
  }

  def hex(bytes: Array[Byte]): String = hex(bytes, 0, bytes.length)

  /** Inverse of [[hex]] for an even-length string of hex digits (either
    * case); the caller validates the digits. */
  private[ingest] def unhex(s: String): Array[Byte] = {
    // '0'-'9' → 0-9; 'a'-'f' and 'A'-'F' have bit 6 set → 10-15
    def nibble(c: Char): Int = (c & 0xf) + 9 * (c >> 6)
    val out = new Array[Byte](s.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = ((nibble(s.charAt(2 * i)) << 4) | nibble(s.charAt(2 * i + 1))).toByte
      i += 1
    }
    out
  }

  /** Per-TABLE read/write locks (JVM-wide): writers (`putBatch`,
    * markers, existence probes, the flush hook) hold the READ side;
    * [[RegionSplit]] holds the WRITE side, so a split never races a
    * write's placement decision. This is the region-server-side
    * coordination HBase's master/ZooKeeper provide on a cluster —
    * single-JVM here (`local[n]`), a seam a clustered store implements
    * with its own coordination service. READERS never lock: scans are
    * made safe by the split protocol's publication order plus the
    * vanish-resilient rebuild, exactly like compaction. */
  object Locks {
    private val locks = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.locks.ReentrantReadWriteLock]()
    private def of(tableDir: Path) =
      locks.computeIfAbsent(tableDir.toAbsolutePath.toString,
        _ => new java.util.concurrent.locks.ReentrantReadWriteLock())
    def read[T](tableDir: Path)(f: => T): T = {
      val l = of(tableDir).readLock(); l.lock(); try f finally l.unlock()
    }
    def write[T](tableDir: Path)(f: => T): T = {
      val l = of(tableDir).writeLock(); l.lock(); try f finally l.unlock()
    }
  }

  /** Striped per-KEY monitors for the ATOMIC row verbs (checkAndPut /
    * increment — HBase's row-lock role, scoped to the atomic ops):
    * two atomic mutations of one rowkey serialize; raw puts never
    * touch these (mixing raw writes with CAS on one key is the
    * caller's race, as on any store). In-JVM like [[Locks]] — a
    * clustered store serializes on its region server instead. */
  private val keyLocks = Array.fill(1024)(new Object)
  private[graft] def keyLockFor(root: String, digestHex: String): Object =
    keyLocks(((root.hashCode * 31 + digestHex.hashCode) & Int.MaxValue) % 1024)

  /** Striped per-SHARD monitors coordinating the WRITE-PATH
    * maintenance of one region (the post-commit flush / tier-merge
    * hook) with the atomic verbs' point serving read
    * ([[FileStore.getLatest]]): the hook holds its shard's monitor
    * while absorbing put files into segments, and `getLatest` holds it
    * while probing — so the probe can never see ITS OWN shard's files
    * vanish mid-listing, while puts, flushes, and atomic verbs on
    * every OTHER region proceed untouched. This is the HBase region
    * scope: a point read coordinates with its region server's
    * memstore flush, never with the whole table (the first cut here
    * took the table WRITE lock — correct but table-wide, serializing
    * counter-hot workloads across regions where HBase serializes per
    * row; the r16 verdict flagged exactly that). Lock order is always
    * table read/write lock → shard monitor (putBatch: read lock then
    * the hook; getLatest: read lock then the probe) — no inversion
    * exists. Stripe collisions only over-serialize, never under. */
  private val shardLocks = Array.fill(1024)(new Object)
  private[graft] def shardLockFor(shardDir: Path): Object =
    shardLocks((shardDir.toAbsolutePath.toString.hashCode & Int.MaxValue) % 1024)

  /** Test seam: runs inside the flush hook between the segment landing
    * and the absorbed put files' deletion — the window the
    * replace-by-coordinate monitor guard exists for. */
  @volatile private[graft] var absorbProbe: Path => Unit = _ => ()

  /** JVM-global split-layout cache, validated by the `_splits.json`
    * file's (mtime, size) stamp — a REGION SPLIT appends a boundary
    * (the file only ever grows, so the size component alone defeats
    * same-millisecond replace races) and every [[FileStore]] instance
    * in the JVM sees the new layout at its next placement decision for
    * the price of one `stat`. Absent file = the default 256 first-byte
    * layout (not cached — a first split must become visible), answered
    * by one `length` stat without an exception: the file is written by
    * atomic rename and is never empty, so length 0 means absent. */
  private val layoutCache = new java.util.concurrent.ConcurrentHashMap[
    String, (java.nio.file.attribute.FileTime, Long, Splits)]()

  def splitsAt(tableDir: Path): Splits = {
    val p = tableDir.resolve("_splits.json")
    if (p.toFile.length() == 0L) return Splits.Default
    val attrs =
      try Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
      catch { case _: java.io.IOException => return Splits.Default }
    val key = p.toAbsolutePath.toString
    val hit = layoutCache.get(key)
    if (hit != null && hit._1 == attrs.lastModifiedTime() && hit._2 == attrs.size()) hit._3
    else {
      val s = Splits.fromJson(new String(Files.readAllBytes(p), "UTF-8"))
      layoutCache.put(key, (attrs.lastModifiedTime(), attrs.size(), s))
      s
    }
  }

  /** Shard directory of a rowkey under the DEFAULT split layout: hex
    * of its first byte — a RANGE shard (region analog), shared by
    * writer placement and the read face's point/prefix/range pruning.
    * Empty keys (never produced by the rowkey builder, but storable)
    * sort first, with the 0x00 range. Tables with custom splits
    * resolve through [[Splits.shardNameOf]] instead. */
  def shardOf(rowkey: Array[Byte]): String =
    if (rowkey.isEmpty) "00" else hex(rowkey, 0, 1)

  /** Table SPLIT layout — the HBase region-boundary model, generalized
    * past the default 256 first-byte ranges so a table's write AND
    * scan parallelism is no longer capped at 256 and a hot key range
    * can split finer (the region-split answer to first-byte skew).
    *
    * `starts` is the sorted distinct list of region START keys; shard
    * i covers [starts(i), starts(i+1)), and the FIRST shard also owns
    * every key below starts(0) (HBase's first region starts at the
    * empty key). A shard's directory name is the lowercase hex of its
    * start key — empty start encodes as "-", which sorts before every
    * hex digit — so lexicographic NAME order ≡ key-range order, and
    * the default layout's names ("00".."ff") are exactly the hex of
    * the 256 single-byte starts: the split machinery subsumes the
    * original fixed layout bit-for-bit, no migration.
    *
    * Persisted write-once at `<table>/_splits.json` (reference analog:
    * HBase table descriptors carry region boundaries; the reference's
    * HbaseClient.kt:62-122 region handling assumes the server owns
    * them — here the layout file is that server-side metadata). */
  final case class Splits(starts: Vector[Array[Byte]]) {
    require(starts.nonEmpty, "split layout needs at least one region start")
    val names: Vector[String] = starts.map(Splits.nameOf)

    /** region index owning `key`: greatest start <= key, clamped to 0
      * (keys below the first start belong to the first region). */
    def shardIdxOf(key: Array[Byte]): Int = {
      if (java.util.Arrays.compareUnsigned(key, starts(0)) < 0) return 0
      var lo = 0
      var hi = starts.length - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (java.util.Arrays.compareUnsigned(starts(mid), key) <= 0) lo = mid else hi = mid - 1
      }
      lo
    }

    def shardNameOf(key: Array[Byte]): String = names(shardIdxOf(key))

    def size: Int = starts.length

    def isDefault: Boolean =
      starts.length == 256 && starts.indices.forall(i =>
        starts(i).length == 1 && starts(i)(0) == i.toByte)

    def toJson: String = names.mkString("""{"starts":["""", "\",\"", "\"]}")

    /** Content fingerprint: the first 8 bytes of the SHA-256 of
      * [[toJson]], in hex. Computed once per layout instance, which
      * [[splitsAt]]'s cache shares across every reader of a table. */
    lazy val fingerprint: String =
      hex(java.security.MessageDigest.getInstance("SHA-256").digest(toJson.getBytes("UTF-8")), 0, 8)
  }

  object Splits {
    /** 256 single-byte region starts, names "00".."ff" — byte-identical
      * to the original fixed first-byte layout. */
    val Default: Splits = Splits(Vector.tabulate(256)(i => Array(i.toByte)))

    def nameOf(start: Array[Byte]): String =
      if (start.isEmpty) "-" else hex(start)

    /** decode a shard directory name back to its start key; None for
      * non-shard names (never prunes what it cannot parse). */
    def startOf(name: String): Option[Array[Byte]] =
      if (name == "-") Some(Array.emptyByteArray)
      else if (name.nonEmpty && name.length % 2 == 0 &&
        name.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')))
        Some(unhex(name))
      else None

    /** HBase createTable(splitKeys) shape: N split points → N+1
      * regions, the first starting at the empty key. */
    def ofSplitPoints(points: Seq[Array[Byte]]): Splits = {
      val sorted = points.filter(_.nonEmpty)
        .distinctBy(nameOf)
        .sortWith(java.util.Arrays.compareUnsigned(_, _) < 0)
      Splits((Array.emptyByteArray +: sorted).toVector)
    }

    def fromJson(json: String): Splits = {
      val names = """"(-|[0-9a-f]+)"""".r.findAllMatchIn(
        json.dropWhile(_ != '[')).map(_.group(1)).toVector
      val starts = names.flatMap(startOf)
      require(starts.nonEmpty && starts.length == names.length, s"bad _splits.json: $json")
      Splits(starts)
    }
  }
}

final case class FileStore(rootDir: String) extends Store {

  private def tableDir(tableName: String): Path =
    // ':' (HBase namespace separator) is path-hostile on some filesystems
    Paths.get(rootDir, tableName.replace(':', '~'))

  private def keyDigest(rowkey: Array[Byte]): String = FileStore.keyDigest(rowkey)

  /** The table's split layout: `_splits.json` if recorded, else the
    * default 256 first-byte ranges. Served from the JVM-global
    * stamp-validated cache ([[FileStore.splitsAt]]) — layouts are
    * near-immutable (pre-split write-once; a REGION SPLIT appends one
    * boundary), and the stamp check makes a split visible to every
    * placement decision in the JVM at the cost of one `stat`. */
  def splitsOf(tableName: String): FileStore.Splits =
    FileStore.splitsAt(tableDir(tableName))

  /** Record a custom split layout for a table — write-once, atomic,
    * BEFORE any cell lands (the HBase pre-split: regions exist before
    * the load, so no mid-ingest splitting). An existing identical
    * layout is a no-op; a DIFFERENT existing layout throws — resharding
    * live data is a migration, not a silent re-point. */
  def ensureSplits(tableName: String, splits: FileStore.Splits): Unit = {
    val dir = tableDir(tableName)
    Files.createDirectories(dir)
    val p = dir.resolve("_splits.json")
    if (Files.exists(p)) {
      // STRUCTURAL compare (parsed region starts, not rendered bytes):
      // a restore replays a layout parsed from an older chain's
      // _backup.json, so equality must not hinge on two renderers
      // staying byte-identical forever
      val existing = new String(Files.readAllBytes(p), "UTF-8")
      require(FileStore.Splits.fromJson(existing).names == splits.names,
        s"table $tableName already has a different split layout")
    } else if (!splits.isDefault) {
      // a layout may only be recorded while the table holds NO cells:
      // cells already placed under the default layout would silently
      // fall outside the new regions' point/prefix pruning (invisible
      // to GETs, skipped by range scans) — resharding live data is a
      // migration ([[Resplit]]), never a re-point
      require(!hasAnyCell(dir),
        s"table $tableName already holds cells under its current layout — " +
          "record splits before loading, or migrate via Resplit")
      val tmp = Files.createTempFile(dir, "_splits", ".tmp")
      Files.write(tmp, splits.toJson.getBytes("UTF-8"))
      try Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          // lost the write-once race: the WINNER's layout stands — but
          // only if it matches the caller's, same check as above
          Files.deleteIfExists(tmp)
          val winner = new String(Files.readAllBytes(p), "UTF-8")
          require(FileStore.Splits.fromJson(winner).names == splits.names,
            s"table $tableName already has a different split layout")
      }
    }
  }

  /** Append ONE region boundary to the table's split layout — the
    * REGION SPLIT's metadata step, the single sanctioned mutation of an
    * otherwise write-once layout (HBase: the master updates `hbase:meta`
    * when a region splits). Idempotent (a recovery replay of an
    * already-recorded boundary is a no-op); atomic REPLACE; caller must
    * hold the table's WRITE lock ([[FileStore.Locks]]) so two splits
    * can never interleave their read-modify-write. Only [[RegionSplit]]
    * calls this — user resharding remains a migration ([[Resplit]]). */
  def recordSplitStart(tableName: String, start: Array[Byte]): Unit = {
    require(start.nonEmpty, "a split boundary is never the empty key")
    val cur = splitsOf(tableName)
    if (cur.names.contains(FileStore.Splits.nameOf(start))) return
    writeLayout(tableName, FileStore.Splits(
      (cur.starts :+ start).sortWith(java.util.Arrays.compareUnsigned(_, _) < 0)))
  }

  /** Remove one region boundary — the REGION MERGE's metadata step
    * (HBase: the master rewrites `hbase:meta` when regions merge):
    * the right region's range folds into its left neighbor. Idempotent
    * (an already-removed boundary is a recovery replay); caller holds
    * the table WRITE lock. The first region's start can never go. */
  def recordBoundaryRemoval(tableName: String, startName: String): Unit = {
    val cur = splitsOf(tableName)
    if (!cur.names.contains(startName)) return
    require(cur.names.head != startName, "the first region's start is not a removable boundary")
    writeLayout(tableName, FileStore.Splits(
      cur.starts.zip(cur.names).filterNot(_._2 == startName).map(_._1)))
  }

  private def writeLayout(tableName: String, next: FileStore.Splits): Unit = {
    val dir = tableDir(tableName)
    Files.createDirectories(dir)
    val p = dir.resolve("_splits.json")
    // STRICTLY-GROWING byte size (ADVICE r16): the JVM-global layout
    // cache validates by (mtime, size). A split only APPENDS a
    // boundary, but a MERGE shrinks the rendered layout — so a merge
    // followed by a split restoring a prior byte size within the
    // filesystem's mtime granularity could serve a stale layout from
    // the cache. Pad the rendered JSON past the current file's size
    // with trailing whitespace (JSON-legal, parser-invisible) so every
    // rewrite is observable from the stat alone.
    val rendered = next.toJson.getBytes("UTF-8")
    val curSize = try Files.size(p) catch { case _: java.io.IOException => -1L }
    val bytes =
      if (rendered.length > curSize) rendered
      else rendered ++ Array.fill((curSize - rendered.length + 1).toInt)(' '.toByte)
    val tmp = Files.createTempFile(dir, "_splits", ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, p,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** TRUNCATE the table's DATA — every cell file, segment, and delete
    * marker in every shard — while PRESERVING the descriptor and the
    * split layout (HBase `truncate_preserve`: drop + recreate with the
    * same schema and region boundaries). Backs `INSERT OVERWRITE`.
    * Returns the number of files removed. */
  def truncateTable(tableName: String): Long = {
    var removed = 0L
    ShardFiles.regions(tableDir(tableName)).foreach { shard =>
      val l = ShardFiles.list(shard)
      l.own.foreach(e => if (Files.deleteIfExists(e.path)) removed += 1)
      // a mid-protocol split/merge satellite DIRECTORY: its content is
      // table data too — truncate takes it whole, with any staging
      (l.satellites ++ l.mergeLinks ++ l.debris).foreach { p =>
        if (org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)) removed += 1
      }
    }
    removed
  }

  /** any store file (cell, segment, or marker) under any shard dir? */
  private def hasAnyCell(dir: Path): Boolean =
    ShardFiles.regions(dir).exists { shard =>
      val l = ShardFiles.list(shard)
      l.own.nonEmpty || l.satellites.nonEmpty
    }

  private def renderSpec(spec: TableSpec): String =
    s"""{"dataFamily":"${spec.dataFamily}","dataQualifier":"${spec.dataQualifier}",""" +
      s""""maxVersions":${spec.maxVersions},"minVersions":${spec.minVersions},""" +
      s""""ttlMillis":${spec.ttlMillis},""" +
      s""""compactionThreshold":${spec.compactionThreshold},""" +
      s""""maxRegionBytes":${spec.maxRegionBytes},""" +
      s""""compression":"${spec.compression}","compactionCompression":"${spec.compactionCompression}",""" +
      s""""regionReplication":${spec.regionReplication}}"""

  override def ensureTable(tableName: String, spec: TableSpec): Unit = {
    val dir = tableDir(tableName)
    Files.createDirectories(dir)
    val specPath = dir.resolve("_spec.json")
    if (!Files.exists(specPath)) {
      val tmp = Files.createTempFile(dir, "_spec", ".tmp")
      Files.write(tmp, renderSpec(spec).getBytes("UTF-8"))
      try Files.move(tmp, specPath, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException => Files.deleteIfExists(tmp) }
    }
  }

  /** ALTER the table's retention DDL — the HBase `alter 'maxVersions'`
    * idiom: the descriptor changes NOW (new puts prune to the new cap
    * as they land), and existing over-cap history is collected by the
    * NEXT major compaction, exactly HBase's eventually-applied
    * retention. Split layouts stay write-once (region boundaries are
    * not retention). Atomic replace; the per-instance DDL memo is
    * invalidated so this store sees the change immediately (other
    * JVM-resident instances re-read on their next construction — the
    * same freshness contract HBase gives region servers via the master,
    * here served by the descriptor file). */
  def alterMaxVersions(tableName: String, maxVersions: Int): Unit = {
    require(maxVersions >= 1, s"maxVersions must be >= 1, got $maxVersions")
    alterSpec(tableName)(_.copy(maxVersions = maxVersions))
  }

  /** ALTER the table's TTL — same lifecycle as [[alterMaxVersions]]:
    * the descriptor changes now, expiry applies at the next major. */
  def alterTtlMillis(tableName: String, ttlMillis: Long): Unit = {
    require(ttlMillis >= 1, s"ttlMillis must be >= 1, got $ttlMillis")
    alterSpec(tableName)(_.copy(ttlMillis = ttlMillis))
  }

  /** ALTER the shard-flush threshold (the `hbase.hstore.
    * compactionThreshold` analog) — 0 disables the automatic flush. */
  def alterCompactionThreshold(tableName: String, threshold: Int): Unit = {
    require(threshold >= 0, s"compactionThreshold must be >= 0, got $threshold")
    alterSpec(tableName)(_.copy(compactionThreshold = threshold))
  }

  /** ALTER the region size bound (the `hbase.hregion.max.filesize`
    * analog) — 0 disables automatic region splitting. */
  def alterMaxRegionBytes(tableName: String, bytes: Long): Unit = {
    require(bytes >= 0, s"maxRegionBytes must be >= 0, got $bytes")
    alterSpec(tableName)(_.copy(maxRegionBytes = bytes))
  }

  private def alterSpec(tableName: String)(f: TableSpec => TableSpec): Unit = {
    val dir = tableDir(tableName)
    val specPath = dir.resolve("_spec.json")
    require(Files.exists(specPath), s"table $tableName has no recorded DDL to alter")
    val cur = TableSpec.fromJson(new String(Files.readAllBytes(specPath), "UTF-8"))
    val tmp = Files.createTempFile(dir, "_spec", ".tmp")
    Files.write(tmp, renderSpec(f(cur)).getBytes("UTF-8"))
    Files.move(tmp, specPath, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    specCache.remove(tableName)
  }

  /** The recorded DDL, or None if the table was never ensured. */
  def readSpecJson(tableName: String): Option[String] = {
    val p = tableDir(tableName).resolve("_spec.json")
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8")) else None
  }

  /** Write DELETE TOMBSTONES — the HBase `Table.delete` analog. Each
    * (rowkey, version) pair lands as a bound marker
    * `<digest>.<version>.d` ([[ShardFiles.writeMarker]]: tmp + atomic
    * rename, so replayed deletes converge exactly like replayed puts).
    * The marker masks every cell of its rowkey with version ≤ its own on
    * the BATCH read faces (the marker itself is never surfaced), is
    * purged together with the cells it masks by the next major
    * compaction, and — exactly as in HBase — masks even a put that
    * lands AFTER it at a version ≤ its own, until that compaction. */
  def deleteCells(tableName: String, cells: Seq[(Array[Byte], Long)]): Unit =
    writeMarkers(tableName, cells, exact = false)

  /** Write EXACT-VERSION tombstones `<digest>.<version>.dv` — the HBase
    * `Delete.addColumn(family, qualifier, ts)` analog: each marker masks
    * ONLY the cell at exactly its version (including a put landing later
    * at that version, until a major purges both), never older ones. The
    * precise per-row delete behind SQL MERGE/UPDATE and predicate
    * DELETE, where a ≤-bound marker would over-delete sibling versions. */
  def deleteCellsExact(tableName: String, cells: Seq[(Array[Byte], Long)]): Unit =
    writeMarkers(tableName, cells, exact = true)

  private def writeMarkers(tableName: String, cells: Seq[(Array[Byte], Long)],
                           exact: Boolean): Unit =
    // marker placement is a WRITE — the table read lock keeps it off a
    // mid-flight region split's placement window (see Locks)
    FileStore.Locks.read(tableDir(tableName)) {
      cells.foreach { case (rowkey, version) =>
        val shardDir = tableDir(tableName).resolve(splitsOf(tableName).shardNameOf(rowkey))
        Files.createDirectories(shardDir)
        ShardFiles.writeMarker(shardDir, keyDigest(rowkey), version, exact, rowkey)
      }
    }

  /** All live DELETE MARKERS of both kinds as (rowkey, version, exact)
    * — the backup export face (a chain must carry exact deletes exactly
    * as it carries bound ones). Marker files carry the length-prefixed
    * true key, so the listing recovers exactly what [[deleteCells]] and
    * [[deleteCellsExact]] were given. Bounded by the live marker count
    * (majors purge markers, so this is the between-compactions delete
    * backlog, not the table); one directory listing + one small read
    * per marker. */
  def listMarkers(tableName: String): Seq[(Array[Byte], Long, Boolean)] =
    ShardFiles.regions(tableDir(tableName)).flatMap { shard =>
      ShardFiles.list(shard).own.filter(_.isMarker).map { e =>
        (ShardFiles.read(e.path)._1, e.version, e.kind == ShardFiles.Kind.ExactMarker)
      }
    }

  /** Highest version PRESENT for each rowkey, across both store-file
    * kinds (per-cell filenames + segment indexes) — masking ignored:
    * this is the stamp a bare SQL DELETE takes (the HBase deleteRow
    * idiom stamps the row's current time; re-stamping an
    * already-masked version is an idempotent wider mask). None for a
    * key with no cells at all.
    *
    * BATCHED by shard: one point view ([[ShardFiles.pointEntries]]: a
    * stat when the region's listing is cached) and ONE pass over each
    * touched segment's index answers every probed key — a per-key
    * index scan would be O(keys × entries), measured 22× super-linear
    * on a 4.8k-key bare DELETE against a 38k-cell shard at sf10. */
  def latestVersionsOf(tableName: String, rowkeys: Seq[Array[Byte]]): Seq[Option[Long]] =
    FileStore.Locks.read(tableDir(tableName)) {
    val tdir = tableDir(tableName)
    val splits = FileStore.splitsAt(tdir)
    val byShard = rowkeys.zipWithIndex.groupBy { case (k, _) => splits.shardIdxOf(k) }
    val out = new Array[Option[Long]](rowkeys.size)
    byShard.foreach { case (shardIdx, keyed) =>
      val wanted: Map[String, Seq[Int]] =
        keyed.groupBy { case (k, _) => keyDigest(k) }.map { case (d, ks) => d -> ks.map(_._2) }
      val best = scala.collection.mutable.HashMap.empty[String, Long]
      def bump(d: String, v: Long): Unit =
        if (wanted.contains(d) && best.getOrElse(d, Long.MinValue) < v) best(d) = v
      // own entries plus in-directory satellites (a mid-split daughter
      // or a parked merge holds keys this region serves) and the
      // split/merge windows' outside files
      val view = ShardFiles.pointEntries(tdir, splits, shardIdx)
      wanted.keysIterator.foreach(d => view.putsOf(d).foreach(e => bump(d, e.version)))
      val probe = new CellSegment.DigestSet(wanted.keys)
      view.segments.foreach { seg =>
        if (CellSegment.mightContainAny(seg, probe)) {
          val index = CellSegment.indexOf(seg)
          var i = 0
          while (i < index.length) {
            if (index.digestIn(i, probe)) bump(index.digestHex(i), index.version(i))
            i += 1
          }
        }
      }
      wanted.foreach { case (d, idxs) =>
        val v = best.get(d)
        idxs.foreach(i => out(i) = v)
      }
    }
    out.toSeq
    }

  /** F5 consults BOTH store-file kinds: a cell exists if its per-cell
    * put file is present OR any bulk [[CellSegment]] in its shard
    * indexes its (key digest, version) — the HBase semantics where an
    * existence check sees every store file regardless of how it
    * arrived. Segment indexes are digest-only reads (no data-region
    * I/O) and memoize per JVM because segments are immutable.
    * Delete tombstones MASK here exactly as on the read faces (HBase
    * existsAll runs the same masked read path): a masked cell reads as
    * absent, so an ingest replay re-puts it — and the re-put stays
    * masked until the marker compacts away, the HBase contract. */
  override def exists(tableName: String, cells: Seq[CellPut]): Seq[Boolean] =
    existsAt(tableName, cells, System.currentTimeMillis())

  /** [[exists]] at an explicit clock instant — the TTL evaluation time
    * for read-time retention (specs/gates pin it; the trait face
    * snapshots the wall clock once per probe batch). */
  def existsAt(tableName: String, cells: Seq[CellPut], nowMillis: Long): Seq[Boolean] =
    FileStore.Locks.read(tableDir(tableName)) {
    // ONE point view per touched shard per BATCH — own entries plus
    // in-directory satellites; segments are immutable, and a put landing
    // mid-batch is invisible to a snapshot check anyway — so a 10k-cell
    // probe batch pays one stat (or listing) per touched shard, not one
    // per cell. Put hits, segments, the delete mask and the retention
    // version lists all derive from the view.
    val listed = scala.collection.mutable.HashMap.empty[Path, ShardFiles.PointView]
    // READ-TIME RETENTION (the HBase existsAll contract — the probe
    // runs the same masked read path as a Get): a cell hidden by the
    // version cap or TTL reads as ABSENT, so an ingest replay re-puts
    // it and the re-put stays hidden while it ranks past the cap.
    // Policy resolves once per table; the per-digest live-version list
    // is collected only for raw hits on retention-active tables (cold:
    // the ingest DDL leaves retention unbounded).
    val policies = scala.collection.mutable.HashMap.empty[String, Option[Retention.Policy]]
    val verMemo = scala.collection.mutable.HashMap.empty[(Path, String), Seq[Long]]
    def liveVersionsOf(shardDir: Path, ls: ShardFiles.PointView, digest: String,
                       digestBytes: Array[Byte]): Seq[Long] =
      verMemo.getOrElseUpdate((shardDir, digest), {
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        ls.putsOf(digest).foreach(e => buf += e.version)
        ls.segments.foreach { seg =>
          if (CellSegment.mightContain(seg, digestBytes)) {
            val index = CellSegment.indexOf(seg)
            var i = 0
            while (i < index.length) {
              if (index.digestIs(i, digestBytes)) buf += index.version(i)
              i += 1
            }
          }
        }
        buf.toSeq.distinct.filterNot(ls.mask.masked(digest, _))
      })
    // ONE layout read per table per call, as in putBatch: the read lock
    // held here keeps a region split from moving the boundaries meanwhile
    val layouts = scala.collection.mutable.HashMap.empty[String, (Path, FileStore.Splits)]
    cells.map { c =>
      val (tdir, splits) = layouts.getOrElseUpdate(c.tableName, {
        val td = tableDir(c.tableName)
        (td, FileStore.splitsAt(td))
      })
      val shardIdx = splits.shardIdxOf(c.rowkey)
      val shardDir = tdir.resolve(splits.names(shardIdx))
      val db = FileStore.keyDigestBytes(c.rowkey)
      val d = FileStore.hex(db)
      def inSegment(seg: Path): Boolean = {
        val index = CellSegment.indexOf(seg)
        var i = 0
        while (i < index.length) {
          if (index.version(i) == c.version && index.digestIs(i, db)) return true
          i += 1
        }
        false
      }
      def probe(): Boolean = {
        val ls = listed.getOrElseUpdate(shardDir, ShardFiles.pointEntries(tdir, splits, shardIdx))
        // ROW bloom first: an absent key — the common ingest probe —
        // answers off ~1.25 B/key with no index load at all
        val raw = ls.putsOf(d).exists(_.version == c.version) ||
          ls.segments.exists(seg => CellSegment.mightContain(seg, db) && inSegment(seg))
        // the mask is consulted only for raw hits (an absent cell can't
        // be masked INTO existence)
        raw && !ls.mask.masked(d, c.version) &&
          policies.getOrElseUpdate(c.tableName, Retention.of(specOf(c.tableName), nowMillis))
            .forall(_.admits(c.version, liveVersionsOf(shardDir, ls, d, db)))
      }
      // VANISH RESILIENCE (the connector readers' posture): automatic
      // maintenance (flush / tier merge / region split) deletes
      // absorbed segments AFTER their merge output renamed in, so a
      // probe racing concurrent ingest can hit a vanished file or keep
      // consulting a memoized listing that no longer holds the cell's
      // current home. Drop the shard's memos, re-list, retry — the
      // vanished input's cells are in the merge output the fresh
      // listing contains. Bounded retries; a store churning harder
      // than that is a real fault and should fail the batch.
      var attempts = 0
      var out = false
      var done = false
      while (!done) {
        try { out = probe(); done = true }
        catch {
          case e: java.io.IOException =>
            attempts += 1
            if (attempts > 3) throw e
            listed.remove(shardDir)
            verMemo.filterInPlace { case ((sd, _), _) => sd != shardDir }
        }
      }
      out
    }
    }

  /** MASKED point GET of one key's LATEST cell — (version, body), or
    * None when absent / fully masked / retention-hidden: the exact
    * serving read the atomic verbs compare against. Both store-file
    * kinds, delete masks, read-time retention, and the read-precedence
    * rule (put file over segment, newer seqNo over older) all apply as
    * on the connector faces. One point view ([[ShardFiles.pointEntries]]:
    * a stat when the region's listing is cached) + bloom-gated index
    * probes.
    *
    * LOCK SCOPE (narrowed r17, the r16 verdict's design note): the
    * atomic verbs' comparison must not race the flush/tier-merge churn
    * concurrent put batches generate — under heavy contention a
    * vanished-segment retry loop never converges, and a segment
    * skipped as vanished could silently hide the current value (a lost
    * update). The first cut excluded that churn with the table WRITE
    * lock — correct but table-wide, serializing counter-hot workloads
    * across regions where HBase serializes per row. Now: the table
    * READ lock (stable shard boundaries — no split/merge/restore moves
    * the placement mid-probe) plus THIS SHARD's maintenance monitor
    * ([[FileStore.shardLockFor]] — the flush hook holds the same one),
    * so only the probed region's own flush is excluded and every other
    * region's writes, flushes, and verbs proceed concurrently.
    * Driver-side majors remain unlocked and covered by the bounded
    * retry, as before. */
  def getLatest(tableName: String, rowkey: Array[Byte]): Option[(Long, Array[Byte])] = {
    val db = FileStore.keyDigestBytes(rowkey)
    val d = FileStore.hex(db)
    val tdir = tableDir(tableName)
    var attempts = 0
    while (true) {
      try {
        return FileStore.Locks.read(tdir) {
          val splits = FileStore.splitsAt(tdir)
          val shardIdx = splits.shardIdxOf(rowkey)
          FileStore.shardLockFor(tdir.resolve(splits.names(shardIdx))).synchronized {
          // ONE point view — own entries plus in-directory satellites (a
          // mid-split daughter, a parked merge): the delete mask, the put
          // candidates and the segments all come from it
          val view = ShardFiles.pointEntries(tdir, splits, shardIdx)
          // candidates: version → best source, Left(putPath) or
          // Right((seg, index, entry number)). A put file beats any
          // segment; among segments the higher trailer seqNo wins, and a
          // trailer is read only when a second segment offers the same
          // version — a seqNo decides nothing else here
          val cand = scala.collection.mutable.HashMap
            .empty[Long, Either[Path, (Path, CellSegment.Index, Int)]]
          view.putsOf(d).foreach { e =>
            if (!cand.contains(e.version)) cand(e.version) = Left(e.path)
          }
          val seqNos = scala.collection.mutable.HashMap.empty[Path, Long]
          def seqNo(seg: Path): Long =
            seqNos.getOrElseUpdate(seg, CellSegment.readTrailer(seg).seqNo)
          view.segments.foreach { seg =>
            if (CellSegment.mightContain(seg, db)) {
              val index = CellSegment.indexOf(seg)
              var i = 0
              while (i < index.length) {
                if (index.digestIs(i, db)) {
                  val v = index.version(i)
                  cand.get(v) match {
                    case Some(Left(_)) => () // a put file always wins its coordinate
                    case Some(Right((s0, _, _))) if seqNo(s0) >= seqNo(seg) => ()
                    case _ => cand(v) = Right((seg, index, i))
                  }
                }
                i += 1
              }
            }
          }
          val live = cand.keysIterator.filterNot(view.mask.masked(d, _)).toSeq
          if (live.isEmpty) return None
          val admitted = Retention.of(specOf(tableName), System.currentTimeMillis())
            .fold(live.toSet)(_.admitted(live))
          if (admitted.isEmpty) return None
          val v = admitted.max
          val (key, body) = cand(v) match {
            case Left(p) => ShardFiles.read(p)
            case Right((seg, index, i)) =>
              val (k, _, b) = CellSegment.entryAt(seg, index, i, needBody = true)
              (k, b)
          }
          // digest-collision honesty: the filename/index digest routed
          // us here — the true key lives in the cell
          if (!java.util.Arrays.equals(key, rowkey)) None else Some((v, body))
          }
        }
      } catch {
        case e: java.io.IOException =>
          attempts += 1
          if (attempts > 3) throw e // maintenance churn — retry off a fresh listing
      }
    }
    None // unreachable
  }

  /** HBase `checkAndPut`: atomically — against other atomic verbs on
    * this key — compare the key's CURRENT masked latest body with
    * `expected` (None = expect ABSENT) and apply the put iff it
    * matches. Returns whether the put was applied.
    *
    * EXPLICIT-version face: the cell lands at exactly `version` — the
    * HBase put-with-timestamp contract, where a version older than the
    * serving latest applies but does not become the serving winner
    * (the caller owns that consequence). Callers that want the CAS
    * result to SERVE use the version-less face below. */
  def checkAndPut(tableName: String, rowkey: Array[Byte],
                  expected: Option[Array[Byte]], version: Long,
                  body: Array[Byte]): Boolean =
    checkAndPutAt(tableName, rowkey, expected, Some(version), body)

  /** Version-DEFAULTED `checkAndPut` (ADVICE r16): the new cell's
    * version is max(wall clock, current latest + 1), computed UNDER
    * the key lock — so a successful CAS always becomes the serving
    * latest, even on tables whose existing versions are future-dated
    * (a wall-clock default there would report applied=true while the
    * old body kept serving, letting a later CAS against the old body
    * still succeed — a lost update). Same defaulting as [[increment]]. */
  def checkAndPut(tableName: String, rowkey: Array[Byte],
                  expected: Option[Array[Byte]], body: Array[Byte]): Boolean =
    checkAndPutAt(tableName, rowkey, expected, None, body)

  private def checkAndPutAt(tableName: String, rowkey: Array[Byte],
                            expected: Option[Array[Byte]], version: Option[Long],
                            body: Array[Byte]): Boolean =
    FileStore.keyLockFor(rootDir, keyDigest(rowkey)).synchronized {
      val cur = getLatest(tableName, rowkey)
      val ok = (expected, cur) match {
        case (None, None) => true
        case (Some(e), Some((_, b))) => java.util.Arrays.equals(e, b)
        case _ => false
      }
      if (ok) {
        val v = version.getOrElse(
          math.max(System.currentTimeMillis(), cur.map(_._1 + 1).getOrElse(0L)))
        putBatch(tableName, Seq(CellPut(tableName, rowkey, v, body)))
      }
      ok
    }

  /** HBase `checkAndDelete`: atomically compare the key's current
    * masked latest body with `expected` (None = expect ABSENT — the
    * HBase null-value check) and, iff it matches, delete the ROW: one
    * bound tombstone at max(wall clock, current latest + 1), masking
    * every live version (the `Delete` row shape). Returns whether the
    * delete was applied. Serialized with the other atomic verbs on the
    * key by the same striped monitor. */
  def checkAndDelete(tableName: String, rowkey: Array[Byte],
                     expected: Option[Array[Byte]]): Boolean =
    FileStore.keyLockFor(rootDir, keyDigest(rowkey)).synchronized {
      val cur = getLatest(tableName, rowkey)
      val ok = (expected, cur) match {
        case (None, None) => true
        case (Some(e), Some((_, b))) => java.util.Arrays.equals(e, b)
        case _ => false
      }
      if (ok && cur.isDefined) {
        val v = math.max(System.currentTimeMillis(), cur.get._1)
        deleteCells(tableName, Seq((rowkey, v)))
      }
      ok
    }

  /** HBase `append`: atomically concatenate `suffix` onto the key's
    * current latest live body (absent = empty — HBase initializes) and
    * land the result as a NEW VERSION at max(wall clock, current + 1),
    * so the append always becomes the serving winner. Returns the new
    * body. The read-concat-write runs under the key's striped monitor:
    * two concurrent appends serialize, neither update lost. */
  def append(tableName: String, rowkey: Array[Byte],
             suffix: Array[Byte]): Array[Byte] =
    FileStore.keyLockFor(rootDir, keyDigest(rowkey)).synchronized {
      val cur = getLatest(tableName, rowkey)
      val next = cur.map(_._2).getOrElse(Array.emptyByteArray) ++ suffix
      val version = math.max(System.currentTimeMillis(), cur.map(_._1 + 1).getOrElse(0L))
      putBatch(tableName, Seq(CellPut(tableName, rowkey, version, next)))
      next
    }

  /** HBase `increment`: atomically add `delta` to the key's current
    * value — the latest live body read as a big-endian 8-byte long
    * (absent or empty = 0, HBase's initialization) — landing the new
    * value as a NEW VERSION (max(wall clock, current+1), so the
    * increment always becomes the serving winner). Returns the new
    * value. */
  def increment(tableName: String, rowkey: Array[Byte], delta: Long): Long =
    FileStore.keyLockFor(rootDir, keyDigest(rowkey)).synchronized {
      val cur = getLatest(tableName, rowkey)
      val cv = cur.map(_._2) match {
        case Some(b) if b.length == 8 => java.nio.ByteBuffer.wrap(b).getLong
        case Some(b) if b.isEmpty => 0L
        case Some(b) =>
          throw new IllegalArgumentException(
            s"increment target holds a ${b.length}-byte body — not an 8-byte counter")
        case None => 0L
      }
      val next = cv + delta
      val version = math.max(System.currentTimeMillis(), cur.map(_._1 + 1).getOrElse(0L))
      putBatch(tableName, Seq(CellPut(tableName, rowkey, version,
        java.nio.ByteBuffer.allocate(8).putLong(next).array())))
      next
    }

  /** Highest segment sequence number anywhere in the table (0 if
    * none) — the next bulk generation stamps maxSeqNo+1 so its bodies
    * outrank every resident segment at any colliding identity.
    * Driver-side, one trailer read per segment. */
  def maxSeqNo(tableName: String): Long =
    ShardFiles.regions(tableDir(tableName)).iterator
      .map(Compaction.RegionFiles(_).maxSeqNo).foldLeft(0L)(math.max)

  /** Land a batch: per touched region, as put files, or — a group past
    * the DDL's flush threshold — directly as one segment
    * ([[directFlush]]); then the version-cap prune, the region upkeep
    * ([[upkeep]]) and the split policy. A flush is a puts-only region
    * merge ([[Compaction.mergeRegion]] admitting no segment); the
    * small-segment tier merges through the same function. */
  override def putBatch(tableName: String, cells: Seq[CellPut]): Unit = {
    // shard names of the batch's touched shards, for the split-policy
    // check that must run AFTER the read lock releases
    var touchedShardNames: Seq[String] = Seq.empty
    // the whole batch — placement, retention prune, flush hook — runs
    // under the table READ lock: a region split (the WRITE side) can
    // never move the shard boundaries between this batch's placement
    // decision and its landing ([[FileStore.Locks]])
    FileStore.Locks.read(tableDir(tableName)) {
    val fullSpec = specOf(tableName)
    val spec = fullSpec.maxVersions
    val threshold = fullSpec.compactionThreshold
    // ONE layout read per batch (splitsOf stats `_splits.json` each
    // call — per-cell it was one stat per cell, twice)
    val splits = splitsOf(tableName)
    val tdir = tableDir(tableName)
    // group the batch by owning shard once: placement, the direct
    // memstore flush below, the retention prune, and the flush hook all
    // consume the same grouping (groupBy preserves in-shard batch order,
    // so replace-by-coordinate last-wins semantics are unchanged)
    val byShard: Seq[(Path, Seq[CellPut])] =
      cells.groupBy(c => splits.shardNameOf(c.rowkey)).toSeq
        .map { case (name, g) => (tdir.resolve(name), g) }
    touchedShardNames = byShard.map(_._1.getFileName.toString)
    // DIRECT MEMSTORE FLUSH (r17, optimization guide §6 small-files):
    // on a flush-enabled table (threshold > 0 — the '0 disables'
    // layout-inspecting override keeps per-cell files), a shard
    // group LARGER than the threshold would be folded into one sorted
    // segment by the post-commit hook immediately anyway — so land it
    // as that segment DIRECTLY, skipping the write-15000-tiny-files /
    // re-read / merge / delete-15000 churn (measured 10-20× super-
    // linear in per-shard batch size: 0.4 s at 1.5 k cells → 8.5 s at
    // 15 k, dominated by big-directory file creation). This is HBase's
    // own write path — a batched put wave is the memstore, and the
    // memstore flushes to ONE HFile. End state, read precedence,
    // crash-safety, and the flush counters are identical to
    // per-cell-then-hook; only the transient tiny files disappear.
    val directShards = scala.collection.mutable.HashSet.empty[Path]
    byShard.foreach { case (shardDir, group) =>
      if (threshold > 0 && group.size > threshold &&
          (spec == Int.MaxValue || group.size >= FileStore.CappedDirectFloor)) {
        // version-capped tables (r18): the cap's file-level prune is
        // applied INSIDE the direct flush (same end state as
        // land-then-prune-then-hook; see directFlush) — so a BULK wave
        // no longer pays the per-cell small-files path. Small capped
        // groups keep the per-cell path: the direct window holds the
        // shard monitor across its listing+prune, and an interleaved
        // A/B (q236/q241/q255, 2×3 passes each side) measured that
        // serialization costing MORE than a few hundred tiny files
        // when many sink tasks share one shard — the floor keeps the
        // win where the probe shows it (≥ ~1k cells: 5.5 s → 0.14 s at
        // 15 k) without convoying hot MV shards.
        directFlush(shardDir, group, threshold, spec)
        directShards += shardDir
      } else {
      Files.createDirectories(shardDir)
      // REPLACE-BY-COORDINATE GUARD (r17 — a real lost update caught by
      // q255's forensic gate): an IN-PLACE overwrite (streaming upsert
      // MV, SQL in-place UPDATE) re-renames onto an EXISTING put path.
      // Maintenance that absorbs put files into segments and deletes
      // them afterwards (the flush hook, minors, the major's sweep)
      // assumes the path's content is what it read — a replace landing
      // between that read and the delete is silently deleted WITH the
      // old path, losing the newer body. So: a replacing rename runs
      // under the shard's maintenance monitor (the absorb→delete
      // windows hold the same one), which forces the replace to land
      // either before the absorb (its bytes get absorbed) or after the
      // delete (it recreates the path as a fresh put that outranks the
      // segment). First-write renames (version-unique filenames — the
      // whole normal ingest path) take no monitor: a path that does
      // not exist can never be inside an absorb window (absorbs only
      // list existing files, and a swept path is never re-listed).
      val replaceLock = FileStore.shardLockFor(shardDir)
      group.foreach { c =>
        ShardFiles.writePut(shardDir, keyDigest(c.rowkey), c.version, c.rowkey, c.body, replaceLock)
      }
    } }
    // retention AFTER the batch lands, ONE directory listing per
    // touched shard: pruning per put re-listed the whole shard per
    // cell — O(cells × files-in-shard), measured as the dominant cost
    // of a version-capped heavy put load at sf1/sf10. The final state
    // is identical (keep the newest maxVersions of each touched key
    // among all files present), which is all W2/F5 promise.
    // Direct-flushed shards (r18) already applied this prune inside
    // the flush — only per-cell-landed shards need it here.
    if (spec != Int.MaxValue) {
      byShard.filterNot { case (sd, _) => directShards(sd) }
        .foreach { case (shardDir, shardCells) =>
        val touched = shardCells.map(c => keyDigest(c.rowkey)).toSet
        ShardFiles.list(shardDir).own.filter(e => e.isPut && touched.contains(e.digest))
          .groupBy(_.digest).foreach { case (_, puts) =>
            puts.sortBy(_.version).dropRight(spec).foreach(e => Files.deleteIfExists(e.path))
          }
      }
    }
    // POST-COMMIT FLUSH HOOK (the memstore-flush / hbase.hstore.
    // compactionThreshold analog): after the batch is durable, any
    // touched shard whose per-cell put backlog exceeds the DDL
    // threshold flushes that backlog into ONE sorted segment — a
    // puts-only region merge ([[Compaction.mergeRegion]]). The policy
    // check costs one directory listing per touched shard, which the
    // flush reuses; the flush reads only the put files it absorbs
    // (segments join only the size-tiered merge of the small-segment
    // tier — no write quadratics; minors/majors own the rest of
    // segment-count hygiene). Publication stays crash-safe: the fresh
    // segment lands by atomic rename BEFORE its inputs are deleted, so
    // every read face sees each cell exactly once at any instant
    // (dedup on the cell identity), and a killed flush merely leaves
    // the puts for the next batch to flush again.
    if (threshold > 0)
      byShard.iterator.map(_._1).filterNot(directShards)
        .foreach(flushShardIfBacklogged(_, threshold))
    }
    // REGION SPLIT policy — checked AFTER the read lock releases (the
    // split takes the write side; an upgrade would self-deadlock):
    // HBase evaluates its split policy after each flush/compaction;
    // here the post-batch instant is exactly that point. One listing
    // per touched shard, only on split-eligible tables (the DDL
    // default leaves this off and costs nothing).
    val bound = specOf(tableName).maxRegionBytes
    if (bound > 0)
      touchedShardNames
        .foreach(shard => RegionSplit.maybeSplit(rootDir, tableName, shard, bound))
  }

  /** DIRECT MEMSTORE FLUSH — the [[putBatch]] fast path for a shard
    * group the post-commit hook would immediately fold anyway: land the
    * group as ONE sorted segment (seqNo above every resident, exactly
    * the hook's precedence), route coordinates whose put FILE already
    * exists through the per-cell replace rename (a put file must keep
    * winning its coordinate — a segment copy would lose to it), and run
    * the same segment-tier merge the hook runs. Counters move exactly
    * as if the hook had flushed: one policy check, one flush.
    * Batch-internal duplicate coordinates keep the LAST occurrence (the
    * per-cell path's replace order). Holds the shard's maintenance
    * monitor for the whole decide→write window so no concurrent flush /
    * point read sees a half-made decision. */
  private def directFlush(shardDir: Path, group: Seq[CellPut], threshold: Int,
                          maxVersions: Int): Unit =
    FileStore.shardLockFor(shardDir).synchronized {
      Files.createDirectories(shardDir)
      FileStore.flushChecks.incrementAndGet()
      // ONE listing: existing puts (replace routing, the version-cap
      // prune, the backlog count) + segment trailers (precedence
      // ceiling + tier population), the trailers read on first use
      val files = Compaction.RegionFiles(shardDir)
      val puts = files.puts
      val existing = puts.iterator.map(e => (e.digest, e.version)).toSet
      val byCoord = scala.collection.mutable.LinkedHashMap
        .empty[(String, Long), (Array[Byte], Long, Array[Byte], String)]
      group.foreach { c =>
        val d = keyDigest(c.rowkey)
        byCoord((d, c.version)) = (c.rowkey, c.version, c.body, d)
      }
      val (replacesAll, freshAll) = byCoord.valuesIterator.toVector
        .partition { case (_, v, _, d) => existing.contains((d, v)) }
      // VERSION-CAP PRUNE (r18, guide §6 — closes the last small-files
      // path): the per-cell path lands the batch as files and then the
      // retention prune deletes, per TOUCHED key, every put file below
      // the newest maxVersions. Replicate that end state BEFORE
      // anything is written: per touched key, candidates = resident
      // put-file versions ∪ the batch's versions; keep the newest
      // maxVersions. Beyond-cap fresh cells are never written;
      // beyond-cap replace targets and beyond-cap resident files are
      // deleted (exactly what the prune would have done). Segment-
      // resident cells stay, as on the per-cell path (the file-level
      // prune never touches segments; read-time retention masks them).
      val (fresh, replaces, prunedResidents) =
        if (maxVersions == Int.MaxValue) (freshAll, replacesAll, Vector.empty[String])
        else {
          val touched = byCoord.keysIterator.map(_._1).toSet
          val residentVs: Map[String, Vector[Long]] = puts.filter(e => touched.contains(e.digest))
            .groupBy(_.digest).map { case (k, es) => (k, es.map(_.version)) }
          val batchVs = byCoord.valuesIterator
            .map { case (_, v, _, d) => (d, v) }.toVector.groupBy(_._1)
            .map { case (k, vs) => (k, vs.map(_._2)) }
          val keep: Map[String, Set[Long]] = (residentVs.keySet ++ batchVs.keySet)
            .iterator.map { k =>
              val all = (residentVs.getOrElse(k, Vector.empty) ++
                batchVs.getOrElse(k, Vector.empty)).distinct.sorted
              (k, all.takeRight(maxVersions).toSet)
            }.toMap
          val dead = residentVs.iterator.flatMap { case (k, vs) =>
            vs.filterNot(keep(k)).map(ShardFiles.putName(k, _))
          }.toVector
          dead.foreach(n => Files.deleteIfExists(shardDir.resolve(n)))
          (freshAll.filter { case (_, v, _, d) => keep(d)(v) },
            replacesAll.filter { case (_, v, _, d) => keep(d)(v) },
            dead)
        }
      if (fresh.nonEmpty) {
        val sorted = fresh.sortWith { (a, b) =>
          val c = java.util.Arrays.compareUnsigned(a._1, b._1)
          if (c != 0) c < 0 else a._2 < b._2
        }
        CellSegment.writeDigested(shardDir, sorted.iterator, files.putSeqNo)
        FileStore.autoFlushes.incrementAndGet()
      }
      replaces.foreach { case (rowkey, version, body, d) =>
        ShardFiles.writePut(shardDir, d, version, rowkey, body)
      }
      // HOOK PARITY (ADVICE r17): a PRE-EXISTING put backlog (left by
      // ≤-threshold batches) must not outlive a direct-path batch just
      // because the fresh cells bypassed it — the leftover put files
      // and the tier, which counts the fresh segment, go through the
      // hook's own policy. A replace rewrote a listed put file, so the
      // backlog is the listed puts the prune left. Its flush re-lists
      // (the monitor is reentrant, so the absorb stays inside this
      // batch's decide→write window).
      upkeep(shardDir, threshold, puts.size - prunedResidents.size,
        files.smallSegments + (if (fresh.nonEmpty) 1 else 0))(
        flushShardIfBacklogged(shardDir, threshold))
    }

  /** The write path's ONE upkeep policy for a region a batch just
    * touched, fed from the listing and trailers its caller holds: a put
    * `backlog` past the threshold flushes; otherwise a small-segment
    * tier past it merges. `smallSegments` is by name, so its trailers
    * are read only when the backlog does not decide. */
  private def upkeep(shardDir: Path, threshold: Int, backlog: Int,
                     smallSegments: => Int)(flush: => Unit): Unit =
    if (backlog > threshold) flush
    else if (smallSegments > threshold) tierMerge(shardDir)

  /** The segment tier's merge ([[Compaction.minorShard]] of the small
    * segments), BEST-EFFORT: a concurrent sibling task may delete an
    * input mid-read (its own merge won the race) — the policy then
    * simply waits for the next batch; the put batch itself is already
    * durable and must never fail on maintenance. */
  private def tierMerge(shardDir: Path): Unit =
    try {
      Compaction.minorShard(shardDir, Compaction.SmallSegmentBytes)
      FileStore.autoMinors.incrementAndGet()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }

  /** One policy check ([[upkeep]]) + (maybe) one flush + (maybe) one
    * segment-tier merge for a single shard — see the [[putBatch]] hook.
    * Two tiers, the full LSM write discipline:
    *
    *  1. **PUT FLUSH** (memstore flush): > threshold put files fold
    *     into ONE fresh segment — a puts-only region merge
    *     ([[Compaction.mergeRegion]] admitting no segment), so flushes
    *     alone can't amplify writes.
    *  2. **SEGMENT TIER** (the hbase.hstore.compactionThreshold minor
    *     trigger): each flush leaves one more small segment; when the
    *     SMALL-segment population itself exceeds the threshold, the
    *     region-local minor merge ([[Compaction.minorShard]])
    *     folds them — size-tiered (only segments ≤ 32 MB join; a
    *     merged segment past that graduates out), so each byte is
    *     rewritten O(log(32 MB / flush size)) times, the classic LSM
    *     amortization, and the shard's file count stays
    *     O(threshold + log tiers) without any operator CALL. Runs
    *     inline on the write path — the backpressure HBase applies as
    *     write stalls, traded here for not needing a scheduler.
    *
    * Concurrent invocations on one shard are safe: each snapshots its
    * own input list, segment writes are content-named atomic renames,
    * input deletes are `deleteIfExists`, and colliding (key, version)
    * copies across racing outputs carry identical bodies at identical
    * precedence (the read faces' resolve rule). */
  private def flushShardIfBacklogged(shardDir: Path, threshold: Int): Unit = {
    if (!Files.isDirectory(shardDir)) return
    // the shard's maintenance monitor: excludes the atomic verbs' point
    // serving read ([[getLatest]]) from THIS region's flush churn only —
    // and serializes sibling flushes of one shard, which formerly raced
    // best-effort (one won, the others burned a listing + vanished-input
    // retries; same outcome, less waste). Region-scoped, never table-wide.
    FileStore.shardLockFor(shardDir).synchronized {
      FileStore.flushChecks.incrementAndGet()
      val files = Compaction.RegionFiles(shardDir)
      upkeep(shardDir, threshold, files.puts.size, files.smallSegments) {
        // the put flush: a region merge admitting no segment, so it
        // reads only the backlog and flushes alone can't amplify writes
        val flushed = Compaction.mergeRegion(files, _ => false)(
          (cells, seqNo) => Seq(CellSegment.write(shardDir, cells, seqNo))).isDefined
        if (flushed) {
          FileStore.autoFlushes.incrementAndGet()
          // tier 2: the flush just added one more small segment
          if (files.smallSegments + 1 > threshold) tierMerge(shardDir)
        }
      }
    }
  }

  // memoized per store instance (one per executor task): the DDL is
  // written once by the driver and near-immutable afterwards (only
  // retention ALTERs touch it, and those invalidate), so re-reading
  // the _spec.json file on every putBatch would be pure I/O waste
  @transient private lazy val specCache =
    new java.util.concurrent.ConcurrentHashMap[String, TableSpec]()

  private def specOf(tableName: String): TableSpec =
    specCache.computeIfAbsent(tableName, _ =>
      readSpecJson(tableName)
        .map(PushTableSink.TableSpec.fromJson)
        .getOrElse(TableSpec()))

  /** All stored cells of a table as (rowkeyHex, version, body) — test /
    * inspection surface, driver-sized use only. Merges per-cell put
    * files with bulk [[CellSegment]]s, deduping on the cell identity
    * (rowkey, version) in READ-PRECEDENCE order: the put file (the
    * memstore analog — an in-place re-put replaced it atomically, so
    * it is by construction the newest edit at its coordinate) shadows
    * any segment copy, and among segments the higher trailer seqNo
    * wins — the same winner every read face picks. */
  def scanTable(tableName: String): Seq[(String, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(String, Long, Array[Byte])]
    val seen = scala.collection.mutable.HashSet.empty[(String, Long)]
    ShardFiles.regions(tableDir(tableName)).foreach { shard =>
      // ONE listing — own entries plus in-directory satellites (a
      // mid-split daughter, a parked merge) — and the LOGICAL view:
      // delete markers mask here as on the connector's batch face
      val entries = ShardFiles.list(shard).covered
      val mask = ShardFiles.maskOf(entries)
      entries.foreach { e =>
        if (e.isPut && !mask.masked(e.digest, e.version)) {
          val (rowkey, body) = ShardFiles.read(e.path)
          val keyHex = FileStore.hex(rowkey)
          if (seen.add((keyHex, e.version))) out += ((keyHex, e.version, body))
        }
      }
      // newest-first so a colliding identity surfaces its NEWEST
      // segment body (put files already drained and hold overall
      // precedence via `seen`)
      ShardFiles.newestFirst(ShardFiles.segmentsOf(entries)).foreach { seg =>
        val index = CellSegment.indexOf(seg)
        var i = 0
        CellSegment.entries(seg, needBody = true, index.dataEnd).foreach { case (k, v, b) =>
          if (mask.isEmpty || !mask.masked(index.digestHex(i), v)) {
            val keyHex = FileStore.hex(k)
            if (seen.add((keyHex, v))) out += ((keyHex, v, b))
          }
          i += 1
        }
      }
    }
    out.result()
  }
}

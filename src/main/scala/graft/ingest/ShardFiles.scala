package graft.ingest

import java.nio.file.{Files, NoSuchFileException, NotDirectoryException, Path, StandardCopyOption}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import scala.jdk.CollectionConverters._

/** The REGION-DIRECTORY FORMAT of [[FileStore]]: the one module that
  * lists, classifies, decodes and encodes the entries of a shard
  * directory `<root>/<table>/<shard>/`. Writes, flush, compaction,
  * split/merge, snapshots and every read face go through it.
  *
  * A name is exactly one of these kinds ([[kindOf]]):
  *  - '''put''' `<digest>.<version>`: one cell (the memstore analog);
  *  - '''bound marker''' `<digest>.<version>.d`: masks every version of
  *    the key ≤ its own ([[FileStore.deleteCells]]);
  *  - '''exact marker''' `<digest>.<version>.dv`: masks exactly its own
  *    version ([[FileStore.deleteCellsExact]]);
  *  - '''segment''' `bulk-<hash>.seg`: a sorted [[CellSegment]];
  *  - '''satellite''' `_split-<hex>` / `_merge-<hex>`: a directory in the
  *    same format holding a mid-protocol region's store files
  *    ([[RegionSplit]]), named by that region's start;
  *  - '''merge link''' `_merging-<hex>`: an empty file naming a right
  *    region that a mid-protocol merge is folding into this one
  *    ([[RegionSplit.mergeLeft]]);
  *  - '''debris''': temp files `*.tmp`, a split's `_split.json` manifest,
  *    `_splitstage*` staging, and any name that parses as none of the
  *    above. Debris is never store data.
  *
  * `<digest>` is the rowkey's SHA-256 ([[FileStore.keyDigest]]): rowkeys
  * are unbounded, so put and marker files carry the true key inside,
  * `[4-byte BE key length][rowkey][body]` (a marker's body is empty),
  * written to a temp file and renamed into place ([[writePut]],
  * [[writeMarker]]) and decoded by [[read]] / [[readKey]].
  */
object ShardFiles {

  sealed abstract class Kind(val label: String)
  object Kind {
    case object Put extends Kind("put")
    case object BoundMarker extends Kind("marker_bound")
    case object ExactMarker extends Kind("marker_exact")
    case object Segment extends Kind("segment")
    case object Satellite extends Kind("satellite")
    case object MergeLink extends Kind("merge_link")
    case object Debris extends Kind("debris")
  }

  /** One classified entry. `digest`/`version` are set for puts and
    * markers only (null / 0 otherwise). */
  final case class Entry(path: Path, name: String, kind: Kind, digest: String, version: Long) {
    def isPut: Boolean = kind eq Kind.Put
    def isSegment: Boolean = kind eq Kind.Segment
    def isMarker: Boolean = (kind eq Kind.BoundMarker) || (kind eq Kind.ExactMarker)
  }

  private def digestVersion(core: String): Option[(String, Long)] = {
    val dot = core.lastIndexOf('.')
    if (dot <= 0) None
    else core.substring(dot + 1).toLongOption.map(v => (core.substring(0, dot), v))
  }

  /** `<digest>.<version>` → (digest, version); None for any other name. */
  def putOf(name: String): Option[(String, Long)] = digestVersion(name)

  /** `<digest>.<version>.d` → (digest, masked-through version). */
  def tombstoneOf(name: String): Option[(String, Long)] =
    if (name.endsWith(".d")) digestVersion(name.substring(0, name.length - 2)) else None

  /** `<digest>.<version>.dv` → (digest, the one masked version). */
  def exactTombstoneOf(name: String): Option[(String, Long)] =
    if (name.endsWith(".dv")) digestVersion(name.substring(0, name.length - 3)) else None

  def putName(digest: String, version: Long): String = s"$digest.$version"

  def markerName(digest: String, version: Long, exact: Boolean): String =
    if (exact) s"$digest.$version.dv" else s"$digest.$version.d"

  /** Split satellite `_split-<hex(m)>`: while a split of region S at
    * key m is mid-protocol, the upper daughter's store files live INSIDE
    * S's directory, so S's one listing finds them and the split needs no
    * cross-directory atomicity ([[RegionSplit]]). */
  def satelliteNameOf(targetStart: String): String = s"_split-$targetStart"

  /** a split satellite's name → the daughter region's start name. */
  def satelliteTargetOf(name: String): Option[String] = startAfter("_split-", name)

  /** Merge satellite `_merge-<hex>`: a merged-away RIGHT region parked
    * inside its LEFT neighbor's directory ([[RegionSplit.mergeLeft]])
    * until the fold moves its files in place. */
  def mergeSatelliteNameOf(rightStart: String): String = s"_merge-$rightStart"

  /** a merge satellite's name → the absorbed region's start name. */
  def mergeTargetOf(name: String): Option[String] = startAfter("_merge-", name)

  /** Merge link `_merging-<hex>`: written into the LEFT region before a
    * merge unbinds the right region's boundary, removed once the right
    * region is folded in ([[RegionSplit.mergeLeft]]). Between unbinding
    * and parking, placement routes the right range's keys left while
    * their cells still stand in the right directory; a point read of
    * the left region follows the link ([[pointEntries]]). */
  def mergeLinkNameOf(rightStart: String): String = s"_merging-$rightStart"

  /** a merge link's name → the right region's start name. */
  def mergeLinkTargetOf(name: String): Option[String] = startAfter("_merging-", name)

  private def startAfter(prefix: String, name: String): Option[String] =
    if (!name.startsWith(prefix)) None
    else {
      val start = name.substring(prefix.length)
      FileStore.Splits.startOf(start).map(_ => start)
    }

  private def classify(path: Path, n: String): Entry = {
    def versioned(kind: Kind, parsed: Option[(String, Long)]): Entry = parsed match {
      case Some((d, v)) => Entry(path, n, kind, d, v)
      case None => Entry(path, n, Kind.Debris, null, 0L)
    }
    if (n.endsWith(".tmp")) Entry(path, n, Kind.Debris, null, 0L)
    else if (CellSegment.isSegment(n)) Entry(path, n, Kind.Segment, null, 0L)
    else if (n.startsWith("_"))
      Entry(path, n,
        if (satelliteTargetOf(n).isDefined || mergeTargetOf(n).isDefined) Kind.Satellite
        else if (mergeLinkTargetOf(n).isDefined) Kind.MergeLink
        else Kind.Debris, null, 0L)
    else if (n.endsWith(".d")) versioned(Kind.BoundMarker, tombstoneOf(n))
    else if (n.endsWith(".dv")) versioned(Kind.ExactMarker, exactTombstoneOf(n))
    else versioned(Kind.Put, putOf(n))
  }

  /** THE classifier: the kind of a region-directory entry name. */
  def kindOf(name: String): Kind = classify(null, name).kind

  /** One listing of a region directory, classified. `own` holds the
    * directory's own store files (puts, markers, segments) in listing
    * order, `satellites` its satellite directories, `mergeLinks` its
    * merge links, `debris` the rest; `present` is false when the
    * directory does not exist. Flush, compaction, split and snapshot
    * work on `own`; readers on [[covered]]. */
  final class Listing(val dir: Path, val own: Vector[Entry], val satellites: Vector[Path],
                      val mergeLinks: Vector[Path], val debris: Vector[Path],
                      val present: Boolean) {
    /** own store files, then every satellite's (recursively: a daughter
      * may be mid-second-split) — what a reader of this region sees.
      * Lists each satellite once, on first use; none when there are
      * none. */
    lazy val covered: Vector[Entry] =
      if (satellites.isEmpty) own else own ++ satellites.flatMap(list(_).covered)

    /** every entry of the directory itself, whatever its kind. */
    def paths: Vector[Path] = own.map(_.path) ++ satellites ++ mergeLinks ++ debris
  }

  /** List `dir` once. A missing directory lists as empty. */
  def list(dir: Path): Listing = {
    listings.incrementAndGet()
    val s =
      try Files.list(dir)
      catch {
        case _: NoSuchFileException | _: NotDirectoryException =>
          return new Listing(dir, Vector.empty, Vector.empty, Vector.empty, Vector.empty,
            present = false)
      }
    val own = Vector.newBuilder[Entry]
    val satellites = Vector.newBuilder[Path]
    val mergeLinks = Vector.newBuilder[Path]
    val debris = Vector.newBuilder[Path]
    try s.iterator().asScala.foreach { p =>
      val e = classify(p, p.getFileName.toString)
      e.kind match {
        case Kind.Satellite => satellites += p
        case Kind.MergeLink => mergeLinks += p
        case Kind.Debris => debris += p
        case _ => own += e
      }
    } finally s.close()
    new Listing(dir, own.result(), satellites.result(), mergeLinks.result(), debris.result(),
      present = true)
  }

  /** Every store file a POINT read (get, existence probe, latest
    * version) of a key in region `idx` of `splits` must see: the
    * region's [[Listing.covered]] entries, plus the store files of the
    * two maintenance windows in which some of the region's keys sit
    * outside it ([[RegionSplit]]):
    *  - a split crashed after recording its boundary: the daughter's
    *    directory does not exist yet, and its cells are the preceding
    *    region's `_split-<name>/` satellite;
    *  - a merge between unbinding and parking: the right region's
    *    directory still stands, named by a merge link in this one.
    *
    * '''The listing cache.''' Steady state this is one listing of the
    * region directory, served from a bounded per-JVM cache (LRU, at
    * most [[PointCacheEntries]] entries) that is VALIDATED on every
    * read and never invalidated by writers, so it stays exact against
    * this JVM's writers, other JVMs', crash recovery and plain
    * file-system edits alike. A cached listing keeps the directory's
    * file key (inode) and mtime from a stat taken BEFORE the listing,
    * and answers a later read only while a fresh stat shows the same
    * (file key, mtime): a warm point read costs one stat. A listing is
    * cached only when it started more than G after that mtime (git's
    * racy-clean rule, [[cleanAt]]), so any entry change made after the
    * listing started stamps a different mtime, even one landing in the
    * listing's own timestamp tick. G covers the file system's mtime
    * granularity: 50 ms when mtimes carry sub-second digits (ext4's
    * coarse tick is at most 10 ms), 2 s when they do not. The rule
    * assumes a local POSIX file system, where a create, rename or
    * unlink stamps the parent directory's mtime from the clock the JVM
    * reads; [[FileStore]] is one. Never cached: a missing region
    * directory, and a listing that holds satellites or merge links (a
    * mid-split or mid-merge window, whose files change without touching
    * this directory). The cache holds names, never an open file. */
  def pointEntries(tableDir: Path, splits: FileStore.Splits, idx: Int): PointView = {
    val name = splits.names(idx)
    val dir = tableDir.resolve(name)
    val stat =
      try Files.readAttributes(dir, classOf[BasicFileAttributes])
      catch { case _: NoSuchFileException => null }
    val cacheable = stat != null && stat.isDirectory && stat.fileKey != null
    val cached = if (cacheable) pointCache.synchronized(pointCache.get(dir)) else null
    if (cached != null && cached.fileKey == stat.fileKey && cached.mtime == stat.lastModifiedTime)
      return cached.view
    val listedAt = System.currentTimeMillis()
    val l = list(dir)
    val unpromoted =
      if (l.present || idx == 0) Vector.empty
      else {
        // a stat, not a failed listing: most missing regions were
        // simply never written
        val sat = tableDir.resolve(splits.names(idx - 1)).resolve(satelliteNameOf(name))
        if (sat.toFile.isDirectory) list(sat).covered else Vector.empty
      }
    val linked = l.mergeLinks.flatMap { p =>
      mergeLinkTargetOf(p.getFileName.toString).fold(Vector.empty[Entry])(t =>
        list(tableDir.resolve(t)).covered)
    }
    val view = new PointView(
      if (unpromoted.isEmpty && linked.isEmpty) l.covered else l.covered ++ unpromoted ++ linked)
    // a listing with unpromoted or linked files is not present or has
    // merge links, so it is never cached
    if (cacheable && l.present && l.satellites.isEmpty && l.mergeLinks.isEmpty &&
        cleanAt(stat.lastModifiedTime, listedAt))
      cachePoint(dir, new CachedListing(stat.fileKey, stat.lastModifiedTime, view))
    else if (cached != null) pointCache.synchronized {
      if (pointCache.remove(dir, cached)) pointCacheWeight -= cached.weight
    }
    view
  }

  /** What a point read sees of one region: its store files and the
    * views the point faces derive from them, each built on first use
    * and shared by every read the listing serves. */
  final class PointView(val entries: Vector[Entry]) {
    lazy val segments: Vector[Path] = segmentsOf(entries)
    lazy val mask: ShardMask = maskOf(entries)
    private lazy val puts: Map[String, Vector[Entry]] = entries.filter(_.isPut).groupBy(_.digest)
    /** the put files of one key digest, in listing order. */
    def putsOf(digest: String): Vector[Entry] = puts.getOrElse(digest, Vector.empty)
  }

  /** Racy-clean: may a listing that started at `listedAtMillis` stand
    * for its directory while the directory's mtime stays `mtime`? Only
    * when it started more than G after that mtime ([[pointEntries]]). */
  private[graft] def cleanAt(mtime: FileTime, listedAtMillis: Long): Boolean = {
    val graceMillis = if (mtime.toInstant.getNano == 0) 2000L else 50L
    listedAtMillis - mtime.toMillis > graceMillis
  }

  /** The cap on cached listing entries. A cached region weighs one plus
    * its entry count, so at a few hundred bytes per entry the cache
    * stays near 10 MB however many regions a JVM reads. */
  private[graft] val PointCacheEntries = 1 << 15

  private final class CachedListing(val fileKey: AnyRef, val mtime: FileTime, val view: PointView) {
    def weight: Long = 1L + view.entries.size
  }

  // accessOrder=true: iteration runs least recently used first, the
  // eviction order; every access synchronized (get moves the links)
  private val pointCache = new java.util.LinkedHashMap[Path, CachedListing](64, 0.75f, true)
  private var pointCacheWeight = 0L
  private var pointCacheCap = PointCacheEntries.toLong

  private def cachePoint(dir: Path, c: CachedListing): Unit = pointCache.synchronized {
    val prev = pointCache.put(dir, c)
    if (prev != null) pointCacheWeight -= prev.weight
    pointCacheWeight += c.weight
    evictToCap()
  }

  private def evictToCap(): Unit = {
    val it = pointCache.values().iterator()
    while (pointCacheWeight > pointCacheCap && it.hasNext) {
      pointCacheWeight -= it.next().weight
      it.remove()
    }
  }

  /** Test seam: resize the cache cap (in entries, evicting down to it)
    * and return the previous cap. */
  private[graft] def setPointCacheCap(entries: Long): Long = pointCache.synchronized {
    val prev = pointCacheCap
    pointCacheCap = entries
    evictToCap()
    prev
  }

  /** (cached regions, cached weight) — inspection only. */
  private[graft] def pointCacheStats: (Int, Long) =
    pointCache.synchronized((pointCache.size, pointCacheWeight))

  /** Listing counter — the spec seam proving a warm point read lists
    * no region directory ([[pointEntries]]). */
  private[graft] val listings = new java.util.concurrent.atomic.AtomicLong(0)

  /** The region directories of a table directory in name (≡ key)
    * order: every entry whose name decodes as a region start
    * ([[FileStore.Splits.startOf]]) — only region directories are so
    * named, so no entry is stat'ed. A missing table lists as empty. */
  def regions(tableDir: Path): Vector[Path] = {
    val s =
      try Files.list(tableDir)
      catch { case _: NoSuchFileException | _: NotDirectoryException => return Vector.empty }
    try s.iterator().asScala
      .filter(p => FileStore.Splits.startOf(p.getFileName.toString).isDefined)
      .toVector.sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** The segments among `entries`, by name. */
  def segmentsOf(entries: Seq[Entry]): Vector[Path] =
    entries.iterator.filter(_.isSegment).map(_.path).toVector.sortBy(_.getFileName.toString)

  /** Segments NEWEST-FIRST — (seqNo desc, name) — the read precedence
    * order: at a colliding (rowkey, version) identity the newer
    * segment's body wins (legal collisions exist once an in-place SQL
    * UPDATE has been minor-compacted while a stale copy stayed in an
    * unmerged segment). One trailer read per segment, none for a
    * single segment: it has nothing to be ordered against. */
  def newestFirst(segments: Seq[Path]): Vector[Path] =
    if (segments.size <= 1) segments.toVector
    else segments.map(p => (CellSegment.readTrailer(p).seqNo, p))
      .sortBy { case (sq, p) => (-sq, p.getFileName.toString) }
      .map(_._2).toVector

  /** A region's combined delete mask: a ≤-BOUND per digest (`.d`
    * markers) plus the EXACT-version set (`.dv`). A cell (d, v) is
    * masked iff v ≤ bound(d) OR (d, v) is exactly deleted. Built from
    * names alone — no file content is read. */
  final case class ShardMask(bound: Map[String, Long], exact: Set[(String, Long)]) {
    def masked(digestHex: String, v: Long): Boolean =
      bound.get(digestHex).exists(_ >= v) || exact((digestHex, v))
    def isEmpty: Boolean = bound.isEmpty && exact.isEmpty
  }

  def maskOf(entries: Seq[Entry]): ShardMask = {
    var bound = Map.empty[String, Long]
    val exact = Set.newBuilder[(String, Long)]
    entries.foreach { e =>
      if (e.kind eq Kind.BoundMarker) {
        if (bound.getOrElse(e.digest, Long.MinValue) < e.version)
          bound = bound.updated(e.digest, e.version)
      } else if (e.kind eq Kind.ExactMarker) exact += ((e.digest, e.version))
    }
    ShardMask(bound, exact.result())
  }

  /** Write a put file: tmp + atomic rename onto `<digest>.<version>`
    * (a replayed put converges). When `replaceLock` is given and the
    * target already exists, the rename runs under it — the
    * replace-by-coordinate guard ([[FileStore.putBatch]]). */
  def writePut(dir: Path, digest: String, version: Long, rowkey: Array[Byte],
               body: Array[Byte], replaceLock: AnyRef = null): Unit =
    write(dir.resolve(putName(digest, version)), "put", rowkey, body, replaceLock)

  /** Write a bound (`.d`) or exact (`.dv`) marker carrying `rowkey`. */
  def writeMarker(dir: Path, digest: String, version: Long, exact: Boolean,
                  rowkey: Array[Byte]): Unit =
    write(dir.resolve(markerName(digest, version, exact)), "del", rowkey,
      Array.emptyByteArray, null)

  private def write(target: Path, tmpPrefix: String, rowkey: Array[Byte],
                    body: Array[Byte], replaceLock: AnyRef): Unit = {
    val tmp = Files.createTempFile(target.getParent, tmpPrefix, ".tmp")
    val buf = java.nio.ByteBuffer.allocate(4 + rowkey.length + body.length)
    buf.putInt(rowkey.length).put(rowkey).put(body)
    Files.write(tmp, buf.array())
    def publish(): Unit =
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    if (replaceLock != null && Files.exists(target)) replaceLock.synchronized(publish())
    else publish()
  }

  /** Decode a put or marker file → (rowkey, body). */
  def read(p: Path): (Array[Byte], Array[Byte]) = {
    val buf = java.nio.ByteBuffer.wrap(Files.readAllBytes(p))
    val key = new Array[Byte](buf.getInt()); buf.get(key)
    val body = new Array[Byte](buf.remaining()); buf.get(body)
    (key, body)
  }

  /** Decode the rowkey, then the body only if `wantBody(key)` (else the
    * body is null): a key-only or out-of-range read never reads body
    * bytes. */
  def readKey(p: Path, wantBody: Array[Byte] => Boolean): (Array[Byte], Array[Byte]) = {
    val in = Files.newInputStream(p)
    try {
      val key = in.readNBytes(java.nio.ByteBuffer.wrap(in.readNBytes(4)).getInt)
      (key, if (wantBody(key)) in.readAllBytes() else null)
    } finally in.close()
  }
}

package graft.ingest

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest

/** The sorted cell SEGMENT file — this store's HFile analog, produced
  * by [[BulkLoad]] and merged into every read face alongside the
  * per-cell put files.
  *
  * One segment holds the cells of ONE (table, shard) range, sorted by
  * (rowkey unsigned-lexicographic, version) — the same order Spark's
  * BinaryType comparisons and the connector's range re-check use, so a
  * range scan can stream a segment without re-sorting. Layout:
  *
  * {{{
  *   data  : entry*            entry  = [keyLen:4][key][version:8][bodyLen:4][body]
  *   index : ientry*           ientry = [sha256(key):32][version:8][entryOffset:8]
  *   bloom : [bitCount:8][word:8 × bitCount/64]
  *   trailer (52 bytes)        [indexOffset:8][bloomOffset:8][entryCount:4]
  *                             [distinctKeys:4][seqNo:8]
  *                             [minVersion:8][maxVersion:8][magic:4]
  * }}}
  *
  * All integers big-endian. The index carries the SAME key digest the
  * per-cell filenames use ([[FileStore.keyDigest]]), so existence
  * probes (F5) and the connector's point-lookup pruning resolve
  * against a segment WITHOUT touching its data region, exactly as they
  * resolve against per-cell filenames without opening the files; the
  * trailer's version bounds give the segment-level analog of the
  * filename version prune (a time-travel slice skips whole segments).
  * Segments are immutable once placed (rename-only lifecycle), so
  * loaded indexes are cacheable per JVM forever. A loaded index stays
  * the raw 48 B/entry block it was read as ([[Index]]): probes compare
  * digest bytes in place, and the cache charges that block plus a fixed
  * per-index overhead, the way HBase's block cache holds index blocks.
  *
  * The bloom block is a ROW bloom over the segment's DISTINCT key
  * digests (~10 bits/key, 7 probes ⇒ ≈1% false positives) — the HBase
  * ROW BloomFilter: a point GET or existence probe tests ~1.25 B/key
  * of bloom before paying the 48 B/entry index load, so at 100 TB —
  * where a shard accumulates many segments between majors and the
  * index cache can't hold them all — an absent-key probe (the common
  * ingest-F5 case) touches NO index at all on ~99% of segments. The
  * bloom hashes the sha256 digest itself (two of its words,
  * Kirsch-Mitzenmacher double hashing), so no extra hashing of keys
  * anywhere.
  *
  * Reference analog: the bulk-load posture of HbaseClient.kt:31-36
  * (SKIP_WAL heavy ingest) — HBase's real answer to that posture is
  * writing HFiles directly and handing them to the region server,
  * which is the shape this file implements for the sandbox store.
  */
object CellSegment {

  val Magic: Int = 0x47534533 // "GSE3" (v3: v2 + trailer stats and sequence number)
  private val MagicV2: Int = 0x47534532 // "GSE2" — recognized only to fail loudly
  val TrailerLen: Int = 52 // indexOffset:8 + bloomOffset:8 + entryCount:4 + distinctKeys:4 + seqNo:8 + minV:8 + maxV:8 + magic:4
  private val IndexEntryLen = 48
  private val BloomBitsPerKey = 10
  private val BloomProbes = 7

  final case class Meta(fileName: String, entryCount: Int, minVersion: Long,
                        maxVersion: Long, dataBytes: Long, distinctKeys: Int = 0,
                        seqNo: Long = 0L)

  /** GSE3 trailer: alongside the v2 prune bounds it carries the
    * STATISTICS the planner wants without an index walk —
    * `distinctKeys` (the segment's key cardinality, the $latest face's
    * row-count unit) and `indexOffset` (the data-region byte size) —
    * plus `seqNo`, the HBase max-sequence-id analog: segments of one
    * shard are totally ordered by (seqNo, name), and read faces give a
    * NEWER segment's body precedence at a colliding (rowkey, version)
    * identity (in-place SQL UPDATE is what makes collisions with
    * different bodies legal across store files). */
  final case class Trailer(indexOffset: Long, bloomOffset: Long, entryCount: Int,
                           minVersion: Long, maxVersion: Long,
                           distinctKeys: Int = 0, seqNo: Long = 0L)

  /** ROW bloom over key digests. `words` is the bit array; probes are
    * the Kirsch-Mitzenmacher composite h1 + i·h2 of the digest's own
    * first two big-endian words — sha256 output is uniform, so no
    * further mixing is needed. Probes take the 32 digest bytes and read
    * h1/h2 straight off them: no hex on the absent-key fast path this
    * bloom exists for. */
  final case class Bloom(words: Array[Long]) {
    private val bits = words.length.toLong * 64
    def add(digest: Array[Byte]): Unit = {
      val h1 = longAt(digest, 0)
      val h2 = longAt(digest, 8)
      var i = 0
      while (i < BloomProbes) {
        val b = java.lang.Long.remainderUnsigned(h1 + i * h2, bits)
        words((b >>> 6).toInt) |= 1L << (b & 63)
        i += 1
      }
    }
    def mightContain(digest: Array[Byte]): Boolean = {
      val h1 = longAt(digest, 0)
      val h2 = longAt(digest, 8)
      var i = 0
      while (i < BloomProbes) {
        val b = java.lang.Long.remainderUnsigned(h1 + i * h2, bits)
        if ((words((b >>> 6).toInt) & (1L << (b & 63))) == 0L) return false
        i += 1
      }
      true
    }
  }

  /** The big-endian long at `b[at, at + 8)`. */
  private def longAt(b: Array[Byte], at: Int): Long = {
    var v = 0L
    var i = at
    while (i < at + 8) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    v
  }

  private def emptyBloom(distinctKeys: Int): Bloom =
    Bloom(new Array[Long](math.max(1, (distinctKeys.toLong * BloomBitsPerKey + 63) / 64).toInt))

  /** Write one segment from (key, version, body) triples ALREADY sorted
    * by (key, version). The file is staged under `dir` with a temp name,
    * then renamed to its content-deterministic final name
    * `bulk-<sha256(data)[0,16]>.seg` — identical input produces an
    * identical file AND identical name, which is what makes a replayed
    * bulk load (task retry, speculation, whole-job re-run) converge by
    * REPLACE_EXISTING rename instead of duplicating state.
    *
    * Exact (key, version) duplicates are collapsed (they are one cell —
    * the F5 identity); a duplicate with a DIFFERENT body is a corrupt
    * input and throws, because silently picking one would be a
    * nondeterministic store.
    */
  /** `seqNo` is the segment's shard-local sequence number (precedence
    * rank for colliding identities — see [[Trailer]]); it lives in the
    * TRAILER, outside the content hash that names the file, so a
    * replayed load regenerates the same NAME and data region and the
    * REPLACE_EXISTING flip still converges (a replay can only advance
    * the precedence of identical content). */
  def write(dir: Path, entries: Iterator[(Array[Byte], Long, Array[Byte])],
            seqNo: Long = 0L): Meta = {
    Files.createDirectories(dir)
    // input is key-sorted: hash each distinct key once
    var lastKey: Array[Byte] = null
    var lastDigest: String = null
    writeDigested(dir, entries.map { case (key, version, body) =>
      if (lastKey == null || !java.util.Arrays.equals(lastKey, key)) {
        lastKey = key
        lastDigest = FileStore.keyDigest(key)
      }
      (key, version, body, lastDigest)
    }, seqNo)
  }

  /** [[write]] for a caller that already holds each entry's
    * [[FileStore.keyDigest]] (the fourth field) and has created `dir`. */
  private[ingest] def writeDigested(dir: Path,
                                    entries: Iterator[(Array[Byte], Long, Array[Byte], String)],
                                    seqNo: Long): Meta = {
    val tmp = Files.createTempFile(dir, "bulkstage", ".tmp")
    val digest = MessageDigest.getInstance("SHA-256")
    val header = java.nio.ByteBuffer.allocate(16)
    // index entries stream into memory as the data region is written,
    // and are appended after it
    val index = new java.io.ByteArrayOutputStream()
    val indexOut = new DataOutputStream(index)
    // distinct key digests for the ROW bloom — input is key-sorted, so
    // a key's digest repeats only consecutively (one entry per key)
    val bloomKeys = Vector.newBuilder[Array[Byte]]
    var keyDigest: Array[Byte] = null
    var bloomKeyCount = 0
    var count = 0
    var minV = Long.MaxValue
    var maxV = Long.MinValue
    var offset = 0L
    var prevKey: Array[Byte] = null
    var prevVersion = 0L
    var prevBody: Array[Byte] = null
    val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(tmp), 1 << 16))
    try {
      entries.foreach { case (key, version, body, keyHex) =>
        val dup = prevKey != null && prevVersion == version && java.util.Arrays.equals(prevKey, key)
        if (dup) {
          require(java.util.Arrays.equals(prevBody, body),
            s"bulk segment: two bodies for one (rowkey, version) cell at version $version")
        } else {
          val entryLen = 4 + key.length + 8 + 4 + body.length
          out.writeInt(key.length); out.write(key)
          out.writeLong(version)
          out.writeInt(body.length); out.write(body)
          // the running content hash that names the file
          header.clear()
          digest.update(header.putInt(key.length).putLong(version).putInt(body.length).array())
          digest.update(key); digest.update(body)
          if (prevKey == null || !java.util.Arrays.equals(prevKey, key)) {
            keyDigest = FileStore.unhex(keyHex)
            bloomKeys += keyDigest; bloomKeyCount += 1
          }
          indexOut.write(keyDigest)
          indexOut.writeLong(version)
          indexOut.writeLong(offset)
          offset += entryLen
          count += 1
          if (version < minV) minV = version
          if (version > maxV) maxV = version
          prevKey = key; prevVersion = version; prevBody = body
        }
      }
      val indexOffset = offset
      index.writeTo(out)
      val bloomOffset = indexOffset + count.toLong * IndexEntryLen
      val bloom = emptyBloom(bloomKeyCount)
      bloomKeys.result().foreach(bloom.add)
      out.writeLong(bloom.words.length.toLong * 64)
      bloom.words.foreach(out.writeLong)
      out.writeLong(indexOffset)
      out.writeLong(bloomOffset)
      out.writeInt(count)
      out.writeInt(bloomKeyCount)
      out.writeLong(seqNo)
      out.writeLong(if (count == 0) 0L else minV)
      out.writeLong(if (count == 0) 0L else maxV)
      out.writeInt(Magic)
    } finally out.close()
    val name = "bulk-" + FileStore.hex(digest.digest(), 0, 8) + ".seg"
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    Meta(name, count, if (count == 0) 0L else minV, if (count == 0) 0L else maxV, offset,
      bloomKeyCount, seqNo)
  }

  def isSegment(fileName: String): Boolean =
    fileName.startsWith("bulk-") && fileName.endsWith(".seg")

  /** Positional read that LOOPS until the buffer fills — a bare
    * FileChannel.read may return short (interrupted reads, network
    * filesystems, multi-MB index buffers) and a short-read parse would
    * silently yield garbage index entries instead of failing loudly.
    * EOF before the buffer fills throws. */
  private def readFully(ch: java.nio.channels.FileChannel, buf: java.nio.ByteBuffer, pos: Long): Unit = {
    var p = pos
    while (buf.hasRemaining) {
      val n = ch.read(buf, p)
      require(n >= 0, s"cell segment truncated: EOF at offset $p with ${buf.remaining} bytes missing")
      p += n
    }
  }

  /** Trailer I/O counter — the spec seam proving projection pruning
    * on the `$versions` inventory face skips trailer reads when no
    * trailer-derived column is named. */
  private[graft] val trailerReads = new java.util.concurrent.atomic.AtomicLong(0)

  /** Trailer read: 52 bytes off the file tail — the only I/O a
    * version-disjoint segment ever costs a scan.
    *
    * Format upgrade note: earlier layouts (GSE1: 32-byte trailer, no
    * bloom; GSE2: 40-byte trailer, no stats/seqNo) are NOT readable by
    * this code — a persisted pre-GSE3 root must be rewritten via
    * [[Compaction.major]] on the old binary before upgrading (the
    * HBase HFile-version migration posture: majors rewrite every store
    * file into the current format). The magic check below fails
    * loudly — with the version named for GSE2 — and never misparses. */
  def readTrailer(path: Path): Trailer = withChannel(path)(trailerOf(_, path))

  private def withChannel[T](path: Path)(f: java.nio.channels.FileChannel => T): T = {
    val ch = java.nio.channels.FileChannel.open(path)
    try f(ch) finally ch.close()
  }

  /** The trailer off an open channel, so a caller reading more of the
    * segment pays one open for both. */
  private def trailerOf(ch: java.nio.channels.FileChannel, path: Path): Trailer = {
    trailerReads.incrementAndGet()
    val buf = java.nio.ByteBuffer.allocate(TrailerLen)
    readFully(ch, buf, ch.size() - TrailerLen)
    buf.flip()
    val t = Trailer(buf.getLong, buf.getLong, buf.getInt,
      distinctKeys = buf.getInt, seqNo = buf.getLong,
      minVersion = buf.getLong, maxVersion = buf.getLong)
    val magic = buf.getInt
    // the 52-byte tail read ends at EOF, so `magic` IS the file's
    // last word whatever the format — a GSE2 file is named, not
    // misparsed
    require(magic != MagicV2,
      s"GSE2 cell segment (pre-stats format): rewrite via Compaction.major on the old binary before upgrading: $path")
    require(magic == Magic,
      s"not a GSE3 cell segment (bad magic 0x${magic.toHexString}): $path")
    t
  }

  /** Index I/O counter — the spec/gate seam proving the ROW bloom
    * short-circuits absent-key probes before any index load. */
  private[graft] val indexReads = new java.util.concurrent.atomic.AtomicLong(0)

  /** Full index read (48 B/entry) — still no data-region I/O, and
    * uncached: the read faces go through the cache in [[indexOf]]. */
  def readIndex(path: Path): Index = loadIndex(path)

  /** A loaded segment index: the `entryCount × 48` bytes of the file's
    * index region, kept as read, plus the end of its data region (the
    * trailer's `indexOffset`). Accessors read entry i in place; entry i
    * spans [[[offset]](i), [[endOf]](i)), so a point read fetches it in
    * one positional read. Digest tests compare bytes; [[digestHex]]
    * builds the hex `String` only for a caller that keys a map by it. */
  final class Index(private[graft] val block: Array[Byte], val dataEnd: Long) {
    private val words = java.nio.ByteBuffer.wrap(block)
    val length: Int = block.length / IndexEntryLen
    def version(i: Int): Long = words.getLong(i * IndexEntryLen + 32)
    def offset(i: Int): Long = words.getLong(i * IndexEntryLen + 40)
    def endOf(i: Int): Long = if (i + 1 < length) offset(i + 1) else dataEnd
    /** Is entry i's key digest the 32 bytes of `digest`? */
    def digestIs(i: Int, digest: Array[Byte]): Boolean = {
      val at = i * IndexEntryLen
      java.util.Arrays.equals(block, at, at + 32, digest, 0, 32)
    }
    /** Is entry i's key digest one of `ds`? */
    def digestIn(i: Int, ds: DigestSet): Boolean = ds.contains(block, i * IndexEntryLen)
    /** Entry i's key digest as [[FileStore.keyDigest]] spells it. */
    def digestHex(i: Int): String = {
      val at = i * IndexEntryLen
      FileStore.hex(block, at, at + 32)
    }
  }

  /** A fixed set of key digests (a point predicate's probe keys) for
    * byte-level index tests: sorted by their first big-endian word, so
    * a test is a binary search over longs and a 32-byte compare only on
    * a word match. */
  final class DigestSet(hexes: Iterable[String]) {
    /** The digests' bytes, for bloom probes. */
    val digests: Array[Array[Byte]] = hexes.iterator.map(FileStore.unhex).toArray.sortBy(longAt(_, 0))
    private val firstWords = digests.map(longAt(_, 0))
    /** Is the digest at `b[at, at + 32)` one of the set? */
    def contains(b: Array[Byte], at: Int): Boolean = {
      val w = longAt(b, at)
      var i = java.util.Arrays.binarySearch(firstWords, w)
      if (i < 0) return false
      while (i > 0 && firstWords(i - 1) == w) i -= 1
      while (i < firstWords.length && firstWords(i) == w) {
        if (java.util.Arrays.equals(digests(i), 0, 32, b, at, at + 32)) return true
        i += 1
      }
      false
    }
  }

  /** Trailer and index through one open. */
  private def loadIndex(path: Path): Index = {
    indexReads.incrementAndGet()
    withChannel(path) { ch =>
      val t = trailerOf(ch, path)
      val buf = java.nio.ByteBuffer.allocate(t.entryCount * IndexEntryLen)
      readFully(ch, buf, t.indexOffset)
      new Index(buf.array(), t.indexOffset)
    }
  }

  // Per-JVM segment-index cache — the HBase BlockCache analog for
  // index blocks. Segments are rename-only immutable (content-hash
  // names; a REPLACE_EXISTING flip only lands identical content), so
  // cached entries never go STALE — but residency must be BOUNDED: an
  // unbounded memo would pin ~48 B/cell of every segment a long-lived
  // executor ever probes (F5 existence checks, connector point/range
  // reads), heap-fatal against a 100 TB table. LRU by index weight,
  // default 64 MB (`graft.segment.index.cache.bytes`); an evicted index
  // reloads from its segment file on the next touch (trailer + index
  // readFully), identical answers either way. The weight is the index's
  // byte block (its only per-entry storage, 48 B/entry) plus a fixed
  // overhead for the Index object, its buffer view and the map entry
  // keyed by the path string.
  private val EntryOverhead = 256L
  private def configuredMaxBytes: Long =
    // deploy knob: spark.graft.segment.index.cache.bytes reaches every
    // executor through SparkConf (no extraJavaOptions needed); the
    // system property remains the non-Spark/test override
    sys.props.get("graft.segment.index.cache.bytes").flatMap(_.toLongOption)
      .orElse(
        try Option(org.apache.spark.SparkEnv.get)
          .map(_.conf.getLong("spark.graft.segment.index.cache.bytes", 64L << 20))
        catch { case _: Throwable => None })
      .getOrElse(64L << 20)
  @volatile private var cacheMaxBytes: Long = configuredMaxBytes
  // accessOrder=true: iteration order is least-recently-USED first,
  // which is exactly the eviction order; all access synchronized (get
  // mutates the order links)
  private val indexCache = new java.util.LinkedHashMap[String, Index](64, 0.75f, true)
  private var cacheBytes = 0L

  private def weightOf(v: Index): Long = EntryOverhead + v.block.length

  private def evictToCap(): Unit = {
    val it = indexCache.entrySet().iterator()
    while (cacheBytes > cacheMaxBytes && it.hasNext) {
      cacheBytes -= weightOf(it.next().getValue)
      it.remove()
    }
  }

  /** Test seam: resize the cache cap (evicting down to it) and return
    * the previous cap, so specs can prove bounded residency under a
    * deliberately tiny limit with unchanged query answers. */
  private[graft] def setIndexCacheMaxBytes(bytes: Long): Long = indexCache.synchronized {
    val prev = cacheMaxBytes
    cacheMaxBytes = bytes
    evictToCap()
    prev
  }

  /** (resident indexes, resident bytes) — inspection only. */
  private[graft] def indexCacheStats: (Int, Long) =
    indexCache.synchronized((indexCache.size, cacheBytes))

  /** A segment's index through the per-JVM cache. */
  def indexOf(path: Path): Index = {
    val key = path.toAbsolutePath.toString
    val hit = indexCache.synchronized(indexCache.get(key))
    if (hit != null) hit
    else {
      // load OUTSIDE the lock: two racing loads of one segment waste a
      // read but never serialize unrelated loads behind segment I/O
      val v = loadIndex(path)
      indexCache.synchronized {
        if (!indexCache.containsKey(key)) {
          indexCache.put(key, v)
          cacheBytes += weightOf(v)
          evictToCap()
        }
      }
      v
    }
  }

  // Per-JVM bloom cache — same lifecycle argument as the index cache
  // (immutable segments ⇒ never stale; bounded ⇒ never heap-fatal),
  // but ~40× smaller entries (1.25 B/key vs 48 B/cell), so its default
  // cap holds the blooms of far more segments than the index cache
  // holds indexes — which is the point: the bloom answers "definitely
  // absent" for segments whose index was long evicted.
  private val BloomOverhead = 128L
  private def bloomCacheMax: Long =
    sys.props.get("graft.segment.bloom.cache.bytes").flatMap(_.toLongOption)
      .orElse(
        try Option(org.apache.spark.SparkEnv.get)
          .map(_.conf.getLong("spark.graft.segment.bloom.cache.bytes", 8L << 20))
        catch { case _: Throwable => None })
      .getOrElse(8L << 20)
  private val bloomCache = new java.util.LinkedHashMap[String, Bloom](64, 0.75f, true)
  private var bloomCacheBytes = 0L

  /** Bloom read: [bitCount:8][words] at trailer.bloomOffset — a few
    * hundred bytes for a typical segment, cached per JVM. */
  def bloomOf(path: Path): Bloom = {
    val key = path.toAbsolutePath.toString
    val hit = bloomCache.synchronized(bloomCache.get(key))
    if (hit != null) hit
    else {
      val b = withChannel(path) { ch =>
        val t = trailerOf(ch, path)
        val head = java.nio.ByteBuffer.allocate(8)
        readFully(ch, head, t.bloomOffset); head.flip()
        val bits = head.getLong
        val words = java.nio.ByteBuffer.allocate((bits / 8).toInt)
        readFully(ch, words, t.bloomOffset + 8); words.flip()
        Bloom(Array.fill((bits / 64).toInt)(words.getLong))
      }
      bloomCache.synchronized {
        if (!bloomCache.containsKey(key)) {
          bloomCache.put(key, b)
          bloomCacheBytes += BloomOverhead + b.words.length * 8L
          val it = bloomCache.entrySet().iterator()
          while (bloomCacheBytes > bloomCacheMax && it.hasNext) {
            bloomCacheBytes -= BloomOverhead + it.next().getValue.words.length * 8L
            it.remove()
          }
        }
      }
      b
    }
  }

  /** ROW-bloom membership probe of a 32-byte key digest: false ⇒ the
    * segment DEFINITELY holds no cell of this key, with no index I/O
    * spent to learn it. */
  def mightContain(path: Path, digest: Array[Byte]): Boolean =
    bloomOf(path).mightContain(digest)

  /** [[mightContain]] for any digest of `ds`, off one bloom lookup. */
  def mightContainAny(path: Path, ds: DigestSet): Boolean = {
    val bloom = bloomOf(path)
    ds.digests.exists(bloom.mightContain)
  }

  /** Data-region iterator whose underlying stream can be released
    * EARLY: exhaustion closes it (the common scan), and `close()` lets
    * an abandoning consumer (a mid-merge failure in [[Compaction]], a
    * short-circuited read) release the stream without draining — both
    * idempotent. */
  trait EntryIterator extends Iterator[(Array[Byte], Long, Array[Byte])] with AutoCloseable

  /** Stream the data region, which ends at `dataEnd` (the trailer's
    * `indexOffset`, or [[Index.dataEnd]], which every caller already
    * holds: the stream is the only open), in (key, version) order.
    * `needBody = false` skips every body's bytes (the column-pruned
    * key-only scan). */
  def entries(path: Path, needBody: Boolean, dataEnd: Long): EntryIterator = {
    val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(path), 1 << 16))
    var read = 0L
    new EntryIterator {
      private var closed = false
      override def close(): Unit = if (!closed) { closed = true; in.close() }
      override def hasNext: Boolean = {
        val h = !closed && read < dataEnd
        if (!h) close()
        h
      }
      override def next(): (Array[Byte], Long, Array[Byte]) = {
        val keyLen = in.readInt()
        val key = new Array[Byte](keyLen); in.readFully(key)
        val version = in.readLong()
        val bodyLen = in.readInt()
        val body =
          if (needBody) { val b = new Array[Byte](bodyLen); in.readFully(b); b }
          else { in.skipNBytes(bodyLen.toLong); null }
        read += 4 + keyLen + 8 + 4 + bodyLen
        (key, version, body)
      }
    }
  }

  /** Point read of one entry spanning [offset, end) — the segment-side
    * get-by-key path: one open and one positional read for key, version
    * and body. `end` is the next entry's offset, or the data-region end
    * for the last ([[Index.endOf]]). `needBody = false` still reads the
    * body's bytes (they ride in the same read) but returns null. */
  def entryAt(path: Path, offset: Long, end: Long,
              needBody: Boolean): (Array[Byte], Long, Array[Byte]) = {
    val buf = java.nio.ByteBuffer.allocate(Math.toIntExact(end - offset))
    withChannel(path)(readFully(_, buf, offset))
    buf.flip()
    val key = new Array[Byte](buf.getInt); buf.get(key)
    val version = buf.getLong
    val bodyLen = buf.getInt
    require(buf.remaining == bodyLen,
      s"cell segment entry at $offset does not end at $end: $path")
    val body = if (needBody) { val b = new Array[Byte](bodyLen); buf.get(b); b } else null
    (key, version, body)
  }

  /** [[entryAt]] of entry `i` of `index`. */
  def entryAt(path: Path, index: Index, i: Int, needBody: Boolean): (Array[Byte], Long, Array[Byte]) =
    entryAt(path, index.offset(i), index.endOf(i), needBody)
}

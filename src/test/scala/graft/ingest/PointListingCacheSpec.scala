package graft.ingest

import graft.ingest.PushTableSink.{CellPut, TableSpec}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

/** The point faces' listing cache ([[ShardFiles.pointEntries]]): a
  * cached region listing answers only while the directory's (file key,
  * mtime) is unchanged, and only when the listing started more than G
  * after that mtime. No case sleeps: a listing is made cacheable by
  * dating its directory's mtime back, as a static table's is. */
class PointListingCacheSpec extends AnyFunSuite {

  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")
  private def str(b: Array[Byte]): String = new String(b, "UTF-8")
  private val key = bytes("Z-key")

  private def table(threshold: Int = 0): (FileStore, Path) = {
    val root = Files.createTempDirectory("point-cache")
    val store = FileStore(root.toString)
    store.ensureTable("t", TableSpec(compactionThreshold = threshold))
    (store, root)
  }

  private def regionOf(store: FileStore, k: Array[Byte]): Path =
    Paths.get(store.rootDir, "t", store.splitsOf("t").shardNameOf(k))

  /** date `dir`'s mtime about 10 s back (sub-second digits kept): its
    * next listing is racy-clean and gets cached. Each dating is a later
    * stamp than the one before: a directory written in between and then
    * dated to the very stamp of its cached listing would be an mtime set
    * back by hand, which no mtime rule can see. */
  private var lastDated = 0L
  private def age(dir: Path): Unit = {
    lastDated = math.max(System.currentTimeMillis() - 10000 + 7, lastDated + 1)
    Files.setLastModifiedTime(dir, FileTime.fromMillis(lastDated))
  }

  private def view(store: FileStore, k: Array[Byte]): ShardFiles.PointView = {
    val splits = store.splitsOf("t")
    ShardFiles.pointEntries(Paths.get(store.rootDir, "t"), splits, splits.shardIdxOf(k))
  }

  /** the listings `f` makes. */
  private def listingsOf(f: => Unit): Long = {
    val before = ShardFiles.listings.get()
    f
    ShardFiles.listings.get() - before
  }

  /** cache `k`'s region listing: date the directory back and read it
    * twice, the second read a hit. */
  private def cache(store: FileStore, k: Array[Byte]): Unit = {
    age(regionOf(store, k))
    view(store, k)
    assert(listingsOf(view(store, k)) == 0, "a dated region's listing is cached")
  }

  /** the point view of `k`'s region equals a fresh listing of it. */
  private def assertFresh(store: FileStore, k: Array[Byte], ctx: String): Unit =
    assert(view(store, k).entries.map(_.name).toSet ==
      ShardFiles.list(regionOf(store, k)).covered.map(_.name).toSet, ctx)

  private def latest(store: FileStore, k: Array[Byte] = key): Option[(Long, String)] =
    store.getLatest("t", k).map { case (v, b) => (v, str(b)) }

  test("get, putBatch, get, per-cell put, exists and latestVersionsOf see every write at once") {
    Seq(false, true).foreach { cached =>
      val (store, _) = table(threshold = 2)
      var v = 0L
      (1 to 4).foreach { round =>
        val ctx = s"cached=$cached round $round"
        if (cached && v > 0) cache(store, key)
        assert(latest(store) == (if (v == 0) None else Some((v, s"b$v"))), ctx)
        // a batch past the threshold lands as one segment, the single
        // cell as a put file, both inside the tick of the read above
        store.putBatch("t", (v + 1 to v + 3).map(x => CellPut("t", key, x, bytes(s"b$x"))))
        v += 3
        assert(latest(store).contains((v, s"b$v")), ctx)
        if (cached) cache(store, key)
        v += 1
        store.putBatch("t", Seq(CellPut("t", key, v, bytes(s"b$v"))))
        assert(store.exists("t", Seq(CellPut("t", key, v, bytes(s"b$v")))) == Seq(true), ctx)
        assert(store.latestVersionsOf("t", Seq(key)) == Seq(Some(v)), ctx)
        assert(latest(store).contains((v, s"b$v")), ctx)
        assertFresh(store, key, ctx)
      }
      // the atomic verbs read through the same view
      val counter = bytes("Z-counter")
      assert(store.increment("t", counter, 5L) == 5L)
      if (cached) cache(store, counter)
      assert(store.increment("t", counter, 2L) == 7L)
      if (cached) cache(store, counter)
      assert(store.increment("t", counter, 1L) == 8L)
    }
  }

  test("a flush, a minor and a truncateTable are seen by the next get") {
    val (store, _) = table(threshold = 0)
    val region = regionOf(store, key)
    (1 to 3).foreach(x => store.putBatch("t", Seq(CellPut("t", key, x.toLong, bytes(s"p$x")))))
    cache(store, key)
    assert(view(store, key).entries.count(_.isPut) == 3)
    // the put flush: one puts-only region merge into a segment
    store.alterCompactionThreshold("t", 2)
    store.putBatch("t", Seq(CellPut("t", key, 4L, bytes("p4"))))
    assert(view(store, key).entries.forall(_.isSegment), "the flush absorbed every put")
    assert(latest(store).contains((4L, "p4")))
    assertFresh(store, key, "after the flush")
    // a second segment, then a minor folds both into one
    store.putBatch("t", (5 to 7).map(x => CellPut("t", key, x.toLong, bytes(s"p$x"))))
    assert(view(store, key).segments.size == 2)
    cache(store, key)
    assert(Compaction.minorShard(region, Compaction.SmallSegmentBytes)._2 == 2L)
    assert(view(store, key).segments.size == 1, "the minor's output replaces its inputs")
    assert(latest(store).contains((7L, "p7")))
    assert(store.latestVersionsOf("t", Seq(key)) == Seq(Some(7L)))
    assertFresh(store, key, "after the minor")
    cache(store, key)
    assert(store.truncateTable("t") == 1L)
    assert(latest(store).isEmpty)
    assert(store.exists("t", Seq(CellPut("t", key, 7L, bytes("p7")))) == Seq(false))
    assert(store.latestVersionsOf("t", Seq(key)) == Seq(None))
    assertFresh(store, key, "after the truncate")
  }

  test("a region directory replaced at the same path is never answered from the old listing") {
    val (store, root) = table(threshold = 0)
    store.ensureSplits("t", FileStore.Splits.ofSplitPoints(Seq(bytes("Z-05"))))
    (0 until 10).foreach { i =>
      store.putBatch("t", (1 to 2).map(v => CellPut("t", bytes(f"Z-$i%02d"), v.toLong, bytes(s"b-$i-$v"))))
    }
    val expected = (0 until 10).flatMap(i => (1 to 2).map(v => (f"Z-$i%02d", v.toLong, s"b-$i-$v"))).toSet
    val right = bytes("Z-07")
    val rightDir = regionOf(store, right)
    cache(store, right)
    // a merge parks the right directory, a split at the same key
    // promotes a new one at its path
    assert(RegionSplit.mergeLeft(root.toString, "t", rightDir.getFileName.toString))
    assert(!Files.exists(rightDir))
    Fixtures.assertPointFacesAgree(store, "t", expected, "after the merge")
    val merged = store.splitsOf("t").names.head
    assert(RegionSplit.maybeSplit(root.toString, "t", merged, maxRegionBytes = 256) > 0)
    Fixtures.assertPointFacesAgree(store, "t", expected, "after the split")
    (0 until 10).foreach(i => assertFresh(store, bytes(f"Z-$i%02d"), s"Z-$i%02d after the split"))
    // the same path, the same mtime, another inode: the file key alone
    // tells the listings apart
    val k = bytes("Z-09")
    val dir = regionOf(store, k)
    cache(store, k)
    val stamp = Files.getLastModifiedTime(dir)
    val aside = Files.move(dir, dir.resolveSibling("aside"))
    Files.createDirectories(dir)
    ShardFiles.writePut(dir, FileStore.keyDigest(k), 42L, k, bytes("new-dir"))
    Files.setLastModifiedTime(dir, stamp)
    assert(latest(store, k).contains((42L, "new-dir")))
    assertFresh(store, k, "a new directory at the old path")
    assert(Files.exists(aside))
  }

  test("writes of a second FileStore and segments moved in by a raw rename are seen") {
    val (store, root) = table(threshold = 0)
    store.putBatch("t", Seq(CellPut("t", key, 1L, bytes("one"))))
    cache(store, key)
    val other = FileStore(root.toString)
    other.putBatch("t", Seq(CellPut("t", key, 2L, bytes("two"))))
    assert(latest(store).contains((2L, "two")))
    cache(store, key)
    other.deleteCellsExact("t", Seq((key, 2L)))
    assert(latest(store).contains((1L, "one")), "a marker written elsewhere masks at once")
    cache(store, key)
    val staged = Files.createTempDirectory("staged")
    val seg = CellSegment.write(staged, Iterator((key, 3L, bytes("three"))), 1L)
    Files.move(staged.resolve(seg.fileName), regionOf(store, key).resolve(seg.fileName),
      StandardCopyOption.ATOMIC_MOVE)
    assert(latest(store).contains((3L, "three")))
    assert(store.latestVersionsOf("t", Seq(key)) == Seq(Some(3L)))
    assertFresh(store, key, "after the raw rename")
  }

  test("a listing inside G of its mtime is listed again; the cap evicts least recently used") {
    val t0 = 1700000000123L
    assert(!ShardFiles.cleanAt(FileTime.fromMillis(t0), t0 + 50))
    assert(ShardFiles.cleanAt(FileTime.fromMillis(t0), t0 + 51))
    assert(!ShardFiles.cleanAt(FileTime.fromMillis(t0), t0 - 1000))
    // no sub-second digits: a 2 s grace
    assert(!ShardFiles.cleanAt(FileTime.fromMillis(1700000000000L), 1700000002000L))
    assert(ShardFiles.cleanAt(FileTime.fromMillis(1700000000000L), 1700000002001L))

    val (store, _) = table(threshold = 0)
    store.putBatch("t", Seq(CellPut("t", key, 1L, bytes("one"))))
    val region = regionOf(store, key)
    val now = System.currentTimeMillis()
    // an mtime ahead of the listing, then one on a whole second
    Seq(FileTime.fromMillis(now + 1123), FileTime.fromMillis(now / 1000 * 1000)).foreach { m =>
      Files.setLastModifiedTime(region, m)
      assert(listingsOf(view(store, key)) == 1)
      assert(listingsOf(view(store, key)) == 1, s"a listing inside G of $m is not cached")
    }

    // the default layout places by the first key byte: three keys of
    // three regions other than `key`'s
    val keys = Seq("a", "b", "c").map(c => bytes(s"$c-cap"))
    keys.foreach(k => store.putBatch("t", Seq(CellPut("t", k, 1L, bytes("x")))))
    assert(keys.map(regionOf(store, _)).distinct.size == 3)
    val prevCap = ShardFiles.setPointCacheCap(4) // two one-entry regions
    try {
      keys.foreach(k => cache(store, k))
      val (regions, weight) = ShardFiles.pointCacheStats
      assert(regions == 2 && weight == 4, s"$regions regions weighing $weight")
      assert(listingsOf(view(store, keys(2))) == 0)
      assert(listingsOf(view(store, keys(1))) == 0)
      assert(listingsOf(view(store, keys.head)) == 1, "the least recently used was evicted")
      // ... and re-caching it evicted keys(2), now the least recently used
      assert(listingsOf(view(store, keys(1))) == 0)
      assert(listingsOf(view(store, keys(2))) == 1)
    } finally ShardFiles.setPointCacheCap(prevCap)
  }

  /** a static table: one segment per touched region of the default
    * layout (94 regions: it places by the first key byte), written as a
    * bulk load writes them; (store, root, latest cell per key). */
  private def staticTable(): (FileStore, Path, Map[String, (Long, String)]) = {
    val (store, root) = table(threshold = 0)
    val keys = (0 until 300).map(i => f"${(0x21 + i % 94).toChar}k-$i%04d")
    keys.groupBy(k => store.splitsOf("t").shardNameOf(bytes(k))).foreach { case (shard, ks) =>
      CellSegment.write(root.resolve("t").resolve(shard),
        ks.sorted.iterator.flatMap(k => Iterator((bytes(k), 1L, bytes(s"$k-1")), (bytes(k), 2L, bytes(s"$k-2")))), 1L)
    }
    (store, root, keys.map(k => k -> (2L, s"$k-2")).toMap)
  }

  test("a warm sweep of gets on a static table lists no directory and answers as a fresh listing") {
    val (store, root, cells) = staticTable()
    val regions = ShardFiles.regions(root.resolve("t"))
    assert(regions.size == 94)
    regions.foreach(age)
    def sweep(): Map[String, Option[(Long, String)]] =
      cells.keys.map(k => k -> latest(store, bytes(k))).toMap
    val expected = cells.map { case (k, c) => k -> Some(c) }
    assert(sweep() == expected) // cold: lists each region once
    val warm = listingsOf(assert(sweep() == expected))
    assert(warm == 0, s"a warm sweep listed $warm directories")
    val probes = cells.keys.toSeq.sorted.map(k => CellPut("t", bytes(k), 2L, bytes(s"$k-2")))
    assert(listingsOf {
      assert(store.exists("t", probes).forall(identity))
      assert(store.latestVersionsOf("t", probes.map(_.rowkey)).forall(_.contains(2L)))
    } == 0)
    // with nothing cached every read lists: the same answers
    val prevCap = ShardFiles.setPointCacheCap(0)
    try {
      val cold = listingsOf(assert(sweep() == expected))
      assert(cold >= regions.size, s"uncached, a sweep lists every region: $cold")
    } finally ShardFiles.setPointCacheCap(prevCap)
  }

  test("no store file handle outlives a point read") {
    val fds = Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fds), "no /proc/self/fd on this platform")
    val (store, root, cells) = staticTable()
    ShardFiles.regions(root.resolve("t")).foreach(age)
    (1 to 2).foreach(_ => cells.keys.foreach(k => assert(store.getLatest("t", bytes(k)).isDefined)))
    assert(store.truncateTable("t") > 0)
    cells.keys.take(20).foreach(k => assert(store.getLatest("t", bytes(k)).isEmpty))
    val under = root.toRealPath()
    val s = Files.list(fds)
    val open =
      try s.toArray.toSeq.map(_.asInstanceOf[Path]).flatMap { fd =>
        try Some(Files.readSymbolicLink(fd)) catch { case _: java.io.IOException => None }
      }.filter(_.startsWith(under))
      finally s.close()
    assert(open.isEmpty, s"open handles under the store root: $open")
  }
}

package graft.ingest

import graft.ingest.PushTableSink.{CellPut, TableSpec}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}

/** The point read ([[FileStore.getLatest]]) reads a segment trailer
  * only when two segments offer the same (key, version), and
  * [[FileStore.splitsAt]] answers a table with no `_splits.json`
  * without an exception. These specs pin what those shortcuts must not
  * change: the read-precedence rule and first-split visibility. */
class PointReadSpec extends AnyFunSuite {

  private val key = "Z-key".getBytes("UTF-8")
  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** a store whose table has no flush (put files stay put files), and
    * the region directory `key` routes to under the default layout. */
  private def emptyTable(): (FileStore, Path) = {
    val root = Files.createTempDirectory("point-read")
    val store = FileStore(root.toString)
    store.ensureTable("t", TableSpec(compactionThreshold = 0))
    (store, root.resolve("t").resolve(FileStore.shardOf(key)))
  }

  private def body(store: FileStore): Option[String] =
    store.getLatest("t", key).map(p => new String(p._2, "UTF-8"))

  /** two segments in one region holding `key` at version 5 with
    * different bodies; returns (the name-first segment's body, the
    * other's) and writes the name-first one at `firstSeq`. */
  private def twoSegments(region: Path, firstSeq: Long, secondSeq: Long): (String, String) = {
    // a segment's name is its content hash: write both once to learn
    // the name order, then rewrite them with the seqNos the case needs
    // (the seqNo sits outside the hash, so the names stay)
    val bodies = Seq("body-a", "body-b")
    val named = bodies.map { b =>
      (CellSegment.write(region, Iterator((key, 5L, bytes(b))), 1L).fileName, b)
    }.sortBy(_._1)
    val (first, second) = (named.head._2, named(1)._2)
    CellSegment.write(region, Iterator((key, 5L, bytes(first))), firstSeq)
    CellSegment.write(region, Iterator((key, 5L, bytes(second))), secondSeq)
    assert(ShardFiles.segmentsOf(ShardFiles.list(region).own).size == 2)
    (first, second)
  }

  test("two segments at one (key, version): the higher seqNo wins in either name order") {
    Seq((3L, 2L), (2L, 3L)).foreach { case (firstSeq, secondSeq) =>
      val (store, region) = emptyTable()
      val (first, second) = twoSegments(region, firstSeq, secondSeq)
      val winner = if (firstSeq > secondSeq) first else second
      assert(body(store).contains(winner), s"seqNos $firstSeq/$secondSeq")
      assert(store.getLatest("t", key).map(_._1).contains(5L))
      // seqNo breaks (key, version) ties only: a newer version in an
      // older segment still serves
      CellSegment.write(region, Iterator((key, 6L, bytes("body-6"))), 1L)
      assert(body(store).contains("body-6"))
    }
  }

  test("a put file beats both segments at its coordinate") {
    Seq((3L, 2L), (2L, 3L)).foreach { case (firstSeq, secondSeq) =>
      val (store, region) = emptyTable()
      twoSegments(region, firstSeq, secondSeq)
      store.putBatch("t", Seq(CellPut("t", key, 5L, bytes("put-body"))))
      assert(ShardFiles.list(region).own.count(_.isPut) == 1)
      assert(body(store).contains("put-body"), s"seqNos $firstSeq/$secondSeq")
    }
  }

  test("a single segment hit reads its entry, whatever its place in the segment") {
    val (store, region) = emptyTable()
    val keys = Seq("Z-a", "Z-b", "Z-c").map(bytes)
    CellSegment.write(region,
      keys.iterator.flatMap(k => Iterator((k, 1L, k ++ bytes("-1")), (k, 2L, k ++ bytes("-2")))), 1L)
    keys.foreach { k =>
      val got = store.getLatest("t", k).map { case (v, b) => (v, new String(b, "UTF-8")) }
      assert(got.contains((2L, new String(k, "UTF-8") + "-2")))
    }
  }

  test("a table read at the default layout routes by a _splits.json written afterwards") {
    val (store, _) = emptyTable()
    val root = Paths.get(store.rootDir)
    // the default layout: no _splits.json, one more read of it
    assert(store.getLatest("t", key).isEmpty)
    assert(store.splitsOf("t").isDefault)
    store.ensureSplits("t", FileStore.Splits.ofSplitPoints(Seq(bytes("Z-"))))
    // the very next putBatch places by the new layout ...
    store.putBatch("t", Seq(CellPut("t", key, 1L, bytes("v1"))))
    val region = FileStore.Splits.nameOf(bytes("Z-"))
    assert(ShardFiles.list(root.resolve("t").resolve(region)).own.count(_.isPut) == 1)
    assert(!Files.exists(root.resolve("t").resolve(FileStore.shardOf(key))))
    // ... and the very next getLatest reads there
    assert(body(store).contains("v1"))
    assert(store.exists("t", Seq(CellPut("t", key, 1L, bytes("v1")))) == Seq(true))
  }

  test("a get at the default layout reads a layout that appeared since the last get") {
    val (store, _) = emptyTable()
    val root = Paths.get(store.rootDir)
    assert(store.getLatest("t", key).isEmpty)
    // a cell placed in a custom region before the layout naming it is
    // visible: routing follows the file at the next get
    val region = root.resolve("t").resolve(FileStore.Splits.nameOf(bytes("Z-")))
    Files.createDirectories(region)
    ShardFiles.writePut(region, FileStore.keyDigest(key), 1L, key, bytes("v1"))
    assert(store.getLatest("t", key).isEmpty, "the default layout routes to another region")
    Files.write(root.resolve("t").resolve("_splits.json"),
      FileStore.Splits.ofSplitPoints(Seq(bytes("Z-"))).toJson.getBytes("UTF-8"))
    assert(body(store).contains("v1"))
  }

  test("a merge link is its own kind: point reads follow it, scans and writers do not see it") {
    assert(ShardFiles.kindOf("_merging-5a") == ShardFiles.Kind.MergeLink)
    assert(ShardFiles.kindOf("_merging-zz") == ShardFiles.Kind.Debris)
    val (store, region) = emptyTable()
    store.putBatch("t", Seq(CellPut("t", key, 1L, bytes("v1"))))
    Files.createFile(region.resolve(ShardFiles.mergeLinkNameOf("5b")))
    val l = ShardFiles.list(region)
    assert(l.own.size == 1 && l.mergeLinks.size == 1 && l.covered.size == 1)
    assert(body(store).contains("v1"))
  }
}

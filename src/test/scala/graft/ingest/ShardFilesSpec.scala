package graft.ingest

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The region-directory format ([[ShardFiles]]): one classifier over
  * every entry name, one put/marker codec, one listing. */
class ShardFilesSpec extends AnyFunSuite {
  import ShardFiles.Kind._

  private val d = "ab" * 32 // a key digest

  test("every entry name classifies into exactly one kind") {
    val table = Seq(
      s"$d.42" -> Put,
      s"$d.-7" -> Put,
      s"$d.42.d" -> BoundMarker,
      s"$d.42.dv" -> ExactMarker,
      "bulk-0011223344556677.seg" -> Segment,
      "_split-5a2d" -> Satellite,
      "_merge-44" -> Satellite,
      // temp files and split protocol debris
      "put123.tmp" -> Debris,
      "del9.tmp" -> Debris,
      "bulkstage4.tmp" -> Debris,
      s"$d.42.tmp" -> Debris,
      "_split.json" -> Debris,
      "_splitstage8812" -> Debris,
      // malformed names
      ".42.d" -> Debris,
      "abc.x.d" -> Debris,
      "abc.42.dvx" -> Debris,
      ".42" -> Debris,
      "abc" -> Debris,
      "abc.d" -> Debris,
      "abc.42.x" -> Debris,
      "_split-zz" -> Debris,
      "_merge-" -> Debris,
      "_spec.json" -> Debris)
    table.foreach { case (n, kind) => assert(ShardFiles.kindOf(n) == kind, n) }
    Seq(Put, BoundMarker, ExactMarker, Segment, Satellite, Debris).foreach { k =>
      assert(table.exists(_._2 == k), s"table misses kind $k")
    }
    // the three name parsers are disjoint and agree with the classifier
    table.foreach { case (n, kind) =>
      val parsed = Seq(
        ShardFiles.putOf(n).map(_ => Put),
        ShardFiles.tombstoneOf(n).map(_ => BoundMarker),
        ShardFiles.exactTombstoneOf(n).map(_ => ExactMarker)).flatten
      assert(parsed == (if (Set[ShardFiles.Kind](Put, BoundMarker, ExactMarker)(kind)) Seq(kind) else Nil), n)
    }
    assert(ShardFiles.putOf(s"$d.42").contains((d, 42L)))
    assert(ShardFiles.exactTombstoneOf(s"$d.-3.dv").contains((d, -3L)))
    assert(ShardFiles.satelliteTargetOf("_split-5a2d").contains("5a2d"))
    assert(ShardFiles.mergeTargetOf("_merge-44").contains("44"))
    assert(ShardFiles.satelliteTargetOf("_merge-44").isEmpty)
  }

  test("a put and a marker round-trip through the codec and one listing") {
    val dir = Files.createTempDirectory("shardfiles")
    val key = "Z-0001".getBytes("UTF-8")
    val dg = FileStore.keyDigest(key)
    ShardFiles.writePut(dir, dg, 7L, key, "v7".getBytes("UTF-8"))
    ShardFiles.writeMarker(dir, dg, 5L, exact = false, key)
    ShardFiles.writeMarker(dir, dg, 6L, exact = true, key)
    // a replayed put converges onto the same file
    ShardFiles.writePut(dir, dg, 7L, key, "v7".getBytes("UTF-8"), replaceLock = new Object)
    val sat = Files.createDirectories(dir.resolve(ShardFiles.satelliteNameOf("5a2d")))
    ShardFiles.writePut(sat, dg, 9L, key, "v9".getBytes("UTF-8"))
    Files.write(dir.resolve("put1.tmp"), Array[Byte](1, 2))

    val l = ShardFiles.list(dir)
    assert(l.own.map(e => (e.kind, e.digest, e.version)).toSet ==
      Set((Put, dg, 7L), (BoundMarker, dg, 5L), (ExactMarker, dg, 6L)))
    assert(l.satellites == Vector(sat))
    assert(l.debris.map(_.getFileName.toString) == Vector("put1.tmp"),
      "writers leave no temp file behind")
    assert(l.covered.take(3) == l.own)
    assert(l.covered.drop(3).map(e => (e.kind, e.version, e.path.getParent)) == Vector((Put, 9L, sat)))
    assert(l.paths.toSet == (l.own.map(_.path) :+ sat :+ dir.resolve("put1.tmp")).toSet)

    val put = dir.resolve(ShardFiles.putName(dg, 7L))
    val (k, b) = ShardFiles.read(put)
    assert(k.sameElements(key) && new String(b, "UTF-8") == "v7")
    val (mk, mb) = ShardFiles.read(dir.resolve(ShardFiles.markerName(dg, 5L, exact = false)))
    assert(mk.sameElements(key) && mb.isEmpty)
    val (k2, noBody) = ShardFiles.readKey(put, _ => false)
    assert(k2.sameElements(key) && noBody == null)
    val (_, b2) = ShardFiles.readKey(put, _.sameElements(key))
    assert(new String(b2, "UTF-8") == "v7")

    val mask = ShardFiles.maskOf(l.covered)
    assert(mask.masked(dg, 4L) && mask.masked(dg, 5L) && mask.masked(dg, 6L))
    assert(!mask.masked(dg, 7L) && !mask.masked(dg, 9L) && !mask.masked(d, 1L))
  }

  test("regions and list: key-ordered region directories, missing directories list as empty") {
    val table = Files.createTempDirectory("shardfiles-table")
    Seq("5a", "-", "00", "5a2d").foreach(n => Files.createDirectories(table.resolve(n)))
    Files.write(table.resolve("_splits.json"), "{}".getBytes("UTF-8"))
    Files.createDirectories(table.resolve("_staging"))
    assert(ShardFiles.regions(table).map(_.getFileName.toString) == Vector("-", "00", "5a", "5a2d"))
    assert(ShardFiles.regions(table.resolve("nope")).isEmpty)
    val missing = ShardFiles.list(table.resolve("nope"))
    assert(missing.own.isEmpty && missing.satellites.isEmpty && missing.debris.isEmpty)
    assert(ShardFiles.list(table.resolve("_splits.json")).covered.isEmpty)
  }
}

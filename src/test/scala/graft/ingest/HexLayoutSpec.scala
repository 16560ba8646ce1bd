package graft.ingest

import graft.ingest.PushTableSink.{CellPut, TableSpec}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The store's one hex encoder ([[FileStore.hex]]) behind key digests,
  * segment index entries, segment names and shard names, and the
  * existence probe's placement: `existsAt` resolves a table's split
  * layout once per call, and must find every cell where `putBatch`
  * placed it under both a custom `_splits.json` and the default layout. */
class HexLayoutSpec extends AnyFunSuite {

  private def perByteHex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  private def listNames(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def segmentsUnder(tableDir: Path): Seq[Path] = {
    val w = Files.walk(tableDir)
    try w.iterator().asScala.filter(p => CellSegment.isSegment(p.getFileName.toString)).toVector
    finally w.close()
  }

  test("hex/unhex match the per-byte format; shard and split names are unchanged") {
    val rnd = new Random(7)
    val arrays = Array.emptyByteArray +: Array.tabulate(256)(_.toByte) +:
      Seq.fill(200)(Array.fill(rnd.nextInt(40))(rnd.nextInt(256).toByte))
    arrays.foreach { b =>
      assert(FileStore.hex(b) == perByteHex(b))
      assert(FileStore.unhex(FileStore.hex(b)).sameElements(b))
      if (b.length > 2) assert(FileStore.hex(b, 1, b.length - 1) == perByteHex(b.slice(1, b.length - 1)))
      assert(FileStore.Splits.nameOf(b) == (if (b.isEmpty) "-" else perByteHex(b)))
      assert(FileStore.Splits.startOf(FileStore.Splits.nameOf(b)).get.sameElements(b))
    }
    (0 until 256).foreach { i =>
      assert(FileStore.shardOf(Array(i.toByte, 1.toByte)) == f"$i%02x")
    }
    assert(FileStore.shardOf(Array.emptyByteArray) == "00")
    assert(FileStore.Splits.startOf("0g").isEmpty && FileStore.Splits.startOf("abc").isEmpty)
  }

  test("every readIndex digest is the keyDigest of its entry's key, in 64 lowercase hex chars") {
    val root = Files.createTempDirectory("hex-index")
    val rnd = new Random(11)
    val keys = Vector.fill(120)(Array.fill(1 + rnd.nextInt(30))(rnd.nextInt(256).toByte))
      .distinctBy(perByteHex)
    // CellSegment.write directly, with several versions per key
    val cells = keys.flatMap(k => (1 to 1 + rnd.nextInt(3)).map(v => (k, v.toLong, Array.fill(5)(v.toByte))))
      .sortWith { (a, b) =>
        val c = java.util.Arrays.compareUnsigned(a._1, b._1)
        if (c != 0) c < 0 else a._2 < b._2
      }
    CellSegment.write(root.resolve("direct"), cells.iterator)
    // and putBatch's direct flush (one shard's group past the threshold)
    val store = FileStore(root.resolve("store").toString)
    store.ensureTable("t", TableSpec(compactionThreshold = 4))
    store.putBatch("t", keys.take(40).map(k => CellPut("t", Array(7.toByte) ++ k, 3L, k)))
    val segs = segmentsUnder(root)
    assert(segs.size == 2, segs)
    segs.foreach { seg =>
      assert(seg.getFileName.toString.matches("bulk-[0-9a-f]{16}\\.seg"))
      val index = CellSegment.readIndex(seg)
      val data = CellSegment.entries(seg, needBody = false, index.dataEnd).toVector
      assert(index.length == data.size && index.length > 0)
      data.zipWithIndex.foreach { case ((key, version, _), i) =>
        assert(index.digestHex(i).matches("[0-9a-f]{64}"))
        assert(index.digestHex(i) == FileStore.keyDigest(key))
        assert(index.version(i) == version)
      }
    }
  }

  test("existsAt finds every cell where putBatch placed it, under a custom and the default layout") {
    val root = Files.createTempDirectory("hex-layout")
    val store = FileStore(root.toString)
    val layout = FileStore.Splits.ofSplitPoints(
      Seq(Array(0x40.toByte), Array(0x80.toByte, 0x10.toByte), Array(0xc0.toByte)))
    store.ensureSplits("custom", layout)
    val rnd = new Random(23)
    // first bytes cluster on a few values, so some shards get more cells
    // than the flush threshold (direct-flushed segments) and others
    // fewer (per-cell files)
    val keys = Vector.fill(300) {
      val first = Seq(0x05, 0x41, 0x80, 0x81, 0xc3, 0xfe)(rnd.nextInt(6))
      (first.toByte +: Array.fill(12)(rnd.nextInt(256).toByte))
    }.distinctBy(perByteHex)
    Seq("custom", "dflt").foreach { table =>
      store.ensureTable(table, TableSpec())
      // small batches land as per-cell files, the big one as segments
      val (small, big) = keys.splitAt(30)
      small.grouped(3).foreach(g => store.putBatch(table, g.map(k => CellPut(table, k, 5L, k))))
      store.putBatch(table, big.map(k => CellPut(table, k, 5L, k)))
      store.deleteCells(table, Seq((keys(1), 5L), (keys(100), 5L)))

      val shardNames = listNames(root.resolve(table)).filterNot(_.startsWith("_"))
      val expectedNames = if (table == "custom") layout.names.toSet else FileStore.Splits.Default.names.toSet
      assert(shardNames.nonEmpty && shardNames.subsetOf(expectedNames), shardNames)
      assert(segmentsUnder(root.resolve(table)).nonEmpty)
      assert(shardNames.exists(n => listNames(root.resolve(table).resolve(n)).exists(_.endsWith(".5"))))

      val probes = keys.flatMap(k => Seq(CellPut(table, k, 5L, k), CellPut(table, k, 6L, k))) ++
        Seq.fill(20)(CellPut(table, Array.fill(13)(rnd.nextInt(256).toByte), 5L, Array.emptyByteArray))
      val expected = probes.map(c => c.version == 5L && keys.exists(_.sameElements(c.rowkey)) &&
        !c.rowkey.sameElements(keys(1)) && !c.rowkey.sameElements(keys(100)))
      assert(store.existsAt(table, probes, System.currentTimeMillis()) == expected, table)
    }
  }
}

package graft.ingest

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The loaded segment index is the raw 48 B/entry block of the file's
  * index region ([[CellSegment.Index]]): accessors read entries in
  * place, digest tests compare bytes, and the index cache charges the
  * block plus a fixed per-index overhead. These specs pin the accessors
  * against the written cells, the cache weight against its payload, and
  * the residency a cap of twice the payload buys a 256-region store. */
class SegmentIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("segment-index-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def k(s: String): Array[Byte] = s.getBytes("UTF-8")

  test("accessors read digest, version, offset and end in place; byte tests agree with hex") {
    val dir = Files.createTempDirectory("seg-index")
    // sorted (key, version) cells, one key in three with two versions
    val cells = (0 until 90).flatMap { i =>
      val key = k(f"key-$i%03d")
      (1 to (if (i % 3 == 0) 2 else 1)).map(v => (key, 10L * i + v, k(s"body-$i-$v" * (1 + i % 4))))
    }
    val seg = dir.resolve(CellSegment.write(dir, cells.iterator).fileName)
    val index = CellSegment.readIndex(seg)
    assert(index.length == cells.size && index.block.length == cells.size * 48)
    // entry i starts where entry i-1's [keyLen][key][version][bodyLen][body] ends
    val offsets = cells.scanLeft(0L)((at, c) => at + 16 + c._1.length + c._3.length)
    assert(index.dataEnd == offsets.last && index.dataEnd == CellSegment.readTrailer(seg).indexOffset)
    val other = FileStore.keyDigestBytes(k("not-in-the-segment"))
    Seq(0, cells.size / 2, cells.size - 1).foreach { i =>
      val (key, version, body) = cells(i)
      assert(index.digestHex(i) == FileStore.keyDigest(key), s"entry $i")
      assert(index.version(i) == version && index.offset(i) == offsets(i), s"entry $i")
      assert(index.endOf(i) == offsets(i + 1), s"entry $i")
      assert(index.digestIs(i, FileStore.keyDigestBytes(key)) && !index.digestIs(i, other))
      assert(index.digestIn(i, new CellSegment.DigestSet(Seq(FileStore.keyDigest(key), FileStore.hex(other)))))
      assert(!index.digestIn(i, new CellSegment.DigestSet(Seq(FileStore.hex(other)))))
      val (k2, v2, b2) = CellSegment.entryAt(seg, index, i, needBody = true)
      assert(java.util.Arrays.equals(k2, key) && v2 == version && java.util.Arrays.equals(b2, body))
    }
    // every entry: the byte test and the hex agree
    val probeKeys = (0 until 90 by 7).map(i => k(f"key-$i%03d"))
    val probe = new CellSegment.DigestSet(probeKeys.map(FileStore.keyDigest))
    (0 until index.length).foreach { i =>
      assert(index.digestIn(i, probe) == probeKeys.exists(java.util.Arrays.equals(_, cells(i)._1)),
        s"entry $i")
    }
  }

  /** A bulk load of `perRegion` keys under every first byte: one
    * segment per default region, 256 in all. Returns (root, keys, cells). */
  private def load256(perRegion: Int): (String, Seq[Array[Byte]], Int) = {
    val root = Files.createTempDirectory("seg-index-256").toString
    val keys = for (b <- 0 until 256; i <- 0 until perRegion)
      yield Array(b.toByte) ++ k(f"-key-$i%03d")
    // one key in eight carries a second version
    val cells = keys.zipWithIndex.flatMap { case (key, n) =>
      (1 to (if (n % 8 == 0) 2 else 1)).map(v => ("t", key, v.toLong, k(s"body-$n-$v")))
    }
    val s = spark; import s.implicits._
    BulkLoad.writeCells(cells.toDF("tableName", "rowkey", "version", "body"), root)
    (root, keys, cells.size)
  }

  private def segmentsUnder(root: String): Seq[Path] = {
    val s = Files.walk(java.nio.file.Paths.get(root))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(p => CellSegment.isSegment(p.getFileName.toString)).toVector
    } finally s.close()
  }

  test("the cache charges at most twice the payload per resident entry; a 2x cap holds 256 regions") {
    val (root, keys, cellCount) = load256(perRegion = 8)
    val segs = segmentsUnder(root)
    assert(segs.size == 256, s"one segment per region: ${segs.size}")
    val table: DataFrame = spark.read.format("graft-cells").option("root", root).option("table", "t").load()
    val store = FileStore(root)
    val probed = keys.indices.by(37)
    val probes = probed.map(keys)
    val probedCells = probed.map(n => if (n % 8 == 0) 2 else 1).sum
    def sweep(): Unit = {
      assert(table.select("rowkey", "version", "body").collect().length == cellCount)
      assert(table.filter(col("rowkey").isin(probes: _*)).select("rowkey", "body").collect().length
        == probedCells)
      probes.foreach(p => assert(store.getLatest("t", p).isDefined))
    }
    val prevCap = CellSegment.setIndexCacheMaxBytes(0) // evict every index
    try {
      CellSegment.setIndexCacheMaxBytes(96L * cellCount)
      sweep() // warm-up: every region's index loads once
      val (resident, bytes) = CellSegment.indexCacheStats
      assert(resident == 256, s"every index stays resident under a 2x-payload cap: $resident")
      assert(bytes.toDouble / cellCount <= 96.0, s"${bytes.toDouble / cellCount} B per resident entry")
      val before = CellSegment.indexReads.get()
      sweep()
      assert(CellSegment.indexReads.get() == before,
        s"a warm sweep reloads no index: ${CellSegment.indexReads.get() - before} reads")
    } finally CellSegment.setIndexCacheMaxBytes(prevCap)
  }

  test("a warm scan of single-segment regions reads each trailer once; scanTable reads none") {
    val (root, _, cellCount) = load256(perRegion = 4)
    val table = spark.read.format("graft-cells").option("root", root).option("table", "t").load()
    val store = FileStore(root)
    assert(store.scanTable("t").size == cellCount) // warms every index
    val t0 = CellSegment.trailerReads.get()
    assert(store.scanTable("t").size == cellCount)
    assert(CellSegment.trailerReads.get() == t0,
      s"scanTable on warm indexes: ${CellSegment.trailerReads.get() - t0} trailer reads")
    val t1 = CellSegment.trailerReads.get()
    assert(table.select("rowkey", "version", "body").collect().length == cellCount)
    val scanReads = CellSegment.trailerReads.get() - t1
    assert(scanReads == 256, s"one trailer read per streamed segment: $scanReads")
  }
}

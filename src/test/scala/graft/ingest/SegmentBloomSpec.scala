package graft.ingest

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Per-segment ROW bloom filters — the HBase BloomFilter analog: every
  * [[CellSegment]] carries a bloom over its distinct key digests
  * (~10 bits/key, 7 probes), consulted by the F5 existence probe and
  * the connector's point-GET paths BEFORE any index load. The scale
  * contract under test: an absent-key probe — the common ingest case —
  * costs zero index I/O on (almost) every segment, so the bounded
  * index cache only ever holds indexes of segments that plausibly
  * match. */
class SegmentBloomSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("segment-bloom-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def k(s: String): Array[Byte] = s.getBytes("UTF-8")

  test("bloom round-trips through the segment file: all present keys hit, absent FPR ~1%") {
    val dir = Files.createTempDirectory("bloom-rt")
    val cells = (0 until 500).map(i => (k(f"key-$i%04d"), 1L, k(s"body-$i")))
    val meta = CellSegment.write(dir, cells.iterator)
    val seg = dir.resolve(meta.fileName)
    val present = (0 until 500).map(i => FileStore.keyDigestBytes(k(f"key-$i%04d")))
    assert(present.forall(CellSegment.mightContain(seg, _)), "a bloom never false-negatives")
    val falsePos = (0 until 2000)
      .map(i => FileStore.keyDigestBytes(k(s"absent-$i")))
      .count(CellSegment.mightContain(seg, _))
    assert(falsePos <= 100, s"10 bits/key + 7 probes must stay near 1% FPR, got $falsePos/2000")
  }

  test("bloom words read off digest bytes equal the hex-parsed h1/h2 construction") {
    val dir = Files.createTempDirectory("bloom-words")
    val keys = (0 until 300).map(i => k(f"fixed-$i%04d"))
    // two versions of some keys: the bloom holds each distinct key once
    val cells = keys.flatMap(key => if (key.last % 3 == 0) Seq((key, 1L, key), (key, 2L, key)) else Seq((key, 1L, key)))
    val seg = dir.resolve(CellSegment.write(dir, cells.iterator).fileName)
    // the bits as first written: h1/h2 parsed from the digest's hex
    val expected = new Array[Long](math.max(1, (keys.size * 10 + 63) / 64))
    val bits = expected.length.toLong * 64
    keys.map(FileStore.keyDigest).foreach { hex =>
      val h1 = java.lang.Long.parseUnsignedLong(hex.substring(0, 16), 16)
      val h2 = java.lang.Long.parseUnsignedLong(hex.substring(16, 32), 16)
      (0 until 7).foreach { i =>
        val b = java.lang.Long.remainderUnsigned(h1 + i * h2, bits)
        expected((b >>> 6).toInt) |= 1L << (b & 63)
      }
    }
    assert(CellSegment.bloomOf(seg).words.toSeq == expected.toSeq, "the written bloom's words")
  }

  test("F5 exists() answers absent-key probes with zero index reads") {
    val root = Files.createTempDirectory("bloom-f5").toString
    val store = FileStore(root)
    val s = spark; import s.implicits._
    BulkLoad.writeCells(
      (0 until 200).map(i => ("t", k(s"row-$i"), 1L, k(s"b-$i")))
        .toDF("tableName", "rowkey", "version", "body"), root)
    // warm nothing: fresh temp-dir segments have never been probed
    val before = CellSegment.indexReads.get()
    val absent = (0 until 50).map(i =>
      PushTableSink.CellPut("t", k(s"nope-$i"), 1L, Array.emptyByteArray))
    assert(store.exists("t", absent).forall(_ == false))
    assert(CellSegment.indexReads.get() == before,
      "absent keys must resolve off the bloom alone — no index I/O")
    // present keys still resolve correctly (and DO pay the index)
    val hit = PushTableSink.CellPut("t", k("row-7"), 1L, Array.emptyByteArray)
    assert(store.exists("t", Seq(hit)) == Seq(true))
  }

  test("connector point GET on an absent key loads no segment index") {
    val root = Files.createTempDirectory("bloom-get").toString
    val s = spark; import s.implicits._
    BulkLoad.writeCells(
      (0 until 200).map(i => ("t", k(s"row-$i"), 1L, k(s"b-$i")))
        .toDF("tableName", "rowkey", "version", "body"), root)
    val df = spark.read.format("graft-cells").option("root", root).option("table", "t").load()
    val before = CellSegment.indexReads.get()
    assert(df.filter(col("rowkey") === lit(k("missing-row"))).count() == 0)
    assert(CellSegment.indexReads.get() == before,
      "a bloom-rejected point GET must not load the segment index")
    val got = df.filter(col("rowkey") === lit(k("row-42"))).collect()
    assert(got.length == 1 && new String(got(0).getAs[Array[Byte]]("body"), "UTF-8") == "b-42")
  }

  test("bloom cache is bounded: residency stays under a tiny cap, answers unchanged") {
    val dir = Files.createTempDirectory("bloom-cap")
    val segs = (0 until 6).map { g =>
      val cells = (0 until 100).map(i => (k(f"g$g-key-$i%03d"), 1L, k(s"v$g-$i")))
      dir.resolve(CellSegment.write(dir, cells.iterator).fileName)
    }
    val prev = System.getProperty("graft.segment.bloom.cache.bytes")
    System.setProperty("graft.segment.bloom.cache.bytes", "600") // ~2-3 blooms
    try {
      val answers = segs.zipWithIndex.map { case (seg, g) =>
        CellSegment.mightContain(seg, FileStore.keyDigestBytes(k(f"g$g-key-050")))
      }
      assert(answers.forall(identity), "eviction must never change an answer")
      // probe them all again in reverse — every answer still correct
      assert(segs.zipWithIndex.reverse.forall { case (seg, g) =>
        CellSegment.mightContain(seg, FileStore.keyDigestBytes(k(f"g$g-key-007"))) &&
          !CellSegment.mightContain(seg, FileStore.keyDigestBytes(k(s"g$g-definitely-absent-x")))
      })
    } finally {
      if (prev == null) System.clearProperty("graft.segment.bloom.cache.bytes")
      else System.setProperty("graft.segment.bloom.cache.bytes", prev)
    }
  }
}

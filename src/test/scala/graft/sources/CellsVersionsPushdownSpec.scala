package graft.sources

import graft.ingest.{BulkLoad, CellSegment, FileStore}
import graft.ingest.PushTableSink.{CellPut, TableSpec}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** `$versions` inventory pushdown (r15): shard predicates prune
  * directory listings, kind predicates prune filenames AND trailer
  * reads, version bounds prune put/marker rows, projection prunes
  * trailer/size I/O — all advisory (filters stay residual), so the
  * answers never change. One classifier ([[graft.ingest.ShardFiles.kindOf]])
  * backs the reader and the exact statistics. */
class CellsVersionsPushdownSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var root: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("versions-pushdown-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    root = java.nio.file.Files.createTempDirectory("versions-push").toString
    val sp = spark; import sp.implicits._
    val store = FileStore(root)
    store.ensureTable("t", TableSpec(compactionThreshold = 0))
    // segments in two shards (keys 'A…' → 41, 'Z…' → 5a), a put
    // backlog and a marker in shard 41
    BulkLoad.writeCells(Seq(
      ("t", "A-1", 10L, "s1"), ("t", "A-2", 20L, "s2"), ("t", "Z-1", 30L, "s3"))
      .map(x => (x._1, x._2.getBytes("UTF-8"), x._3, x._4.getBytes("UTF-8")))
      .toDF("tableName", "rowkey", "version", "body"), root)
    store.putBatch("t", Seq(
      CellPut("t", "A-1".getBytes("UTF-8"), 100L, "p1".getBytes("UTF-8")),
      CellPut("t", "A-2".getBytes("UTF-8"), 200L, "p2".getBytes("UTF-8"))))
    store.deleteCells("t", Seq(("A-1".getBytes("UTF-8"), 50L)))
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  private def versions = spark.read.format("graft-cells") // via catalog-shaped table
    .option("root", root).option("table", "t").load() // placeholder, unused

  private def face = CellsVersionsTable(root, "t")

  private def df = {
    // resolve the inventory face through a catalog, the user surface
    spark.conf.set("spark.sql.catalog.vtest", classOf[CellsCatalog].getName)
    spark.conf.set("spark.sql.catalog.vtest.root", root)
    spark.table("vtest.`t$versions`")
  }

  test("a shard predicate prunes the listing to one directory; answers unchanged") {
    val shardA = "41" // 'A' first byte
    CellsVersions.shardsListed.set(0)
    val got = df.filter(col("shard") === shardA)
      .select("kind").collect().map(_.getString(0)).groupBy(identity).view.mapValues(_.length).toMap
    assert(CellsVersions.shardsListed.get() == 1,
      s"one directory listed, got ${CellsVersions.shardsListed.get()}")
    assert(got == Map("segment" -> 1, "put" -> 2, "marker_bound" -> 1), s"$got")
    // equivalence with the unpruned face filtered in Spark
    CellsVersions.shardsListed.set(0)
    val all = df.collect().length
    assert(CellsVersions.shardsListed.get() == 2, "unfiltered face lists both shards")
    assert(all == 5, s"2 segments + 2 puts + 1 marker = $all")
  }

  test("a kind predicate skips other kinds' rows and segment trailers when possible") {
    // name-only projection + non-segment kind ⇒ zero trailer reads
    CellSegment.trailerReads.set(0)
    val puts = df.filter(col("kind") === "put").select("shard", "kind", "file").collect()
    assert(puts.length == 2)
    assert(CellSegment.trailerReads.get() == 0,
      s"no trailer read for a name-derived projection of puts: ${CellSegment.trailerReads.get()}")
    // asking for segment stats DOES read trailers — but only for segments
    CellSegment.trailerReads.set(0)
    val segs = df.filter(col("kind") === "segment").select("file", "cells").collect()
    assert(segs.length == 2 && CellSegment.trailerReads.get() >= 2)
  }

  test("version bounds prune put/marker rows by filename; segments pass and Spark re-filters") {
    val got = df.filter(col("kind") =!= "segment" && col("min_version") >= 60L)
      .select("min_version").collect().map(_.getLong(0)).toSet
    assert(got == Set(100L, 200L), s"the marker at 50 and nothing else pruned: $got")
  }

  test("statistics use the shared classifier and honor pushed predicates") {
    def stats(scan: CellsVersionsScan): Long =
      scan.estimateStatistics().numRows().getAsLong
    assert(stats(CellsVersionsScan(root, "t")) == 5)
    assert(stats(CellsVersionsScan(root, "t", shards = Some(Set("41")))) == 4)
    assert(stats(CellsVersionsScan(root, "t", kinds = Some(Set("put")))) == 2)
    assert(stats(CellsVersionsScan(root, "t", kinds = Some(Set("put", "marker_bound")),
      vLo = 60L, vHi = Long.MaxValue)) == 2)
  }

  test("a packed inventory read returns exactly the rows of per-shard reads") {
    def rowsOf(rd: org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow]): Seq[(String, String)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      try while (rd.next()) out += ((rd.get().getUTF8String(0).toString, rd.get().getUTF8String(1).toString))
      finally rd.close()
      out.toSeq
    }
    // two shards, under the cores: one planned group each; the packed
    // read chains both planned shards in one group
    val scan = CellsVersionsScan(root, "t", required = StructType(
      CellsVersions.Schema.filter(f => f.name == "shard" || f.name == "file")))
    val parts = scan.planInputPartitions()
    assert(parts.length == 2)
    val shards = parts.toVector.flatMap(_.asInstanceOf[CellsShardGroup].shards)
    assert(shards.map(s => java.nio.file.Paths.get(s.dir).getFileName.toString) == Vector("41", "5a"))
    val fac = scan.createReaderFactory()
    CellsVersions.shardsListed.set(0)
    val packed = rowsOf(fac.createReader(CellsShardGroup(shards)))
    assert(CellsVersions.shardsListed.get() == 2)
    val perShard = shards.flatMap(s => rowsOf(fac.createReader(s)))
    assert(packed.size == 5 && packed == perShard, s"$packed vs $perShard")
    assert(packed.map(_._1) == Seq("41", "41", "41", "41", "5a"))
  }
}

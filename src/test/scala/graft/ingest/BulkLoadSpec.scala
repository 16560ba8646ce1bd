package graft.ingest

import graft.ingest.IngestPipeline.{IngestedRow, Status}
import graft.ingest.PushTableSink.{CellPut, TableSpec}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.sources.CellsSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** The HFile-style bulk-load path: segment format round-trip,
  * bulk-written state ≡ push-written state on identical input, replay
  * idempotence (content-hash names), duplicate-cell collapse across
  * the two write paths, F5 existence over segments, connector
  * pushdown pruning at segment granularity, and the streaming face's
  * watermark seeing bulk-loaded versions. */
class BulkLoadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("bulkload-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def k(s: String): Array[Byte] = s.getBytes("UTF-8")

  private def row(key: String, version: Long, table: String = "db:c"): IngestedRow =
    IngestedRow("/f", version, "db", "c", table, "m.csv", Status.Ok,
      k(key), version, s"body-$key-$version", "MONGO_IMPORT", "line\n", "DoNotFilter", "")

  /** keys spread over many first bytes so the load exercises several
    * range shards, matching the CRC32-prefix uniformity. */
  private def spreadKeys(n: Int): Seq[String] =
    (0 until n).map(i => s"${(('A' + i % 23).toChar)}-key-$i")

  // ---- segment format ----

  test("segment round-trips entries, trailer, and index in sorted order") {
    val dir = Files.createTempDirectory("seg-rt")
    val entries = Seq(
      (k("aa"), 5L, k("b1")), (k("aa"), 9L, k("b2")), (k("ab"), 1L, k("b3")))
    val meta = CellSegment.write(dir, entries.iterator, seqNo = 7L)
    assert(meta.entryCount == 3 && meta.minVersion == 1L && meta.maxVersion == 9L)
    assert(meta.distinctKeys == 2 && meta.seqNo == 7L)
    val path = dir.resolve(meta.fileName)
    val t = CellSegment.readTrailer(path)
    assert(t.entryCount == 3 && t.minVersion == 1L && t.maxVersion == 9L)
    // GSE3 trailer stats: planner inputs without an index walk
    assert(t.distinctKeys == 2, "distinct-key count rides in the trailer")
    assert(t.seqNo == 7L, "the precedence sequence number rides in the trailer")
    assert(t.indexOffset == entries.map(e => 16L + e._1.length + e._3.length).sum,
      "indexOffset IS the data-region byte size")
    val idx = CellSegment.readIndex(path)
    assert((0 until idx.length).map(idx.version) == Vector(5L, 9L, 1L))
    assert((0 until idx.length).map(idx.digestHex) ==
      Vector(FileStore.keyDigest(k("aa")), FileStore.keyDigest(k("aa")), FileStore.keyDigest(k("ab"))))
    val back = CellSegment.entries(path, needBody = true, t.indexOffset).toSeq
    assert(back.map { case (kk, v, b) => (new String(kk), v, new String(b)) } ==
      Seq(("aa", 5L, "b1"), ("aa", 9L, "b2"), ("ab", 1L, "b3")))
    // point read of the span from one index offset to the next
    val (pk, pv, pb) = CellSegment.entryAt(path, idx.offset(1), idx.offset(2), needBody = true)
    assert(new String(pk) == "aa" && pv == 9L && new String(pb) == "b2")
    // the last entry ends where the index begins, which the cached index carries
    val (lk, lv, lb) = CellSegment.entryAt(path, CellSegment.indexOf(path), 2, needBody = true)
    assert(new String(lk) == "ab" && lv == 1L && new String(lb) == "b3")
    // key-only streaming skips bodies without losing position
    val keysOnly = CellSegment.entries(path, needBody = false, t.indexOffset).toSeq
    assert(keysOnly.map { case (kk, v, b) => (new String(kk), v, b) } ==
      Seq(("aa", 5L, null), ("aa", 9L, null), ("ab", 1L, null)))
  }

  test("segment write collapses exact duplicate cells and rejects a conflicting body") {
    val dir = Files.createTempDirectory("seg-dup")
    val meta = CellSegment.write(dir,
      Iterator((k("x"), 1L, k("b")), (k("x"), 1L, k("b")), (k("x"), 2L, k("c"))))
    assert(meta.entryCount == 2)
    val ex = intercept[IllegalArgumentException] {
      CellSegment.write(dir, Iterator((k("x"), 1L, k("b")), (k("x"), 1L, k("DIFFERENT"))))
    }
    assert(ex.getMessage.contains("two bodies"))
  }

  test("segment naming is content-deterministic") {
    val d1 = Files.createTempDirectory("seg-n1")
    val d2 = Files.createTempDirectory("seg-n2")
    val es = Seq((k("a"), 1L, k("b1")), (k("c"), 2L, k("b2")))
    assert(CellSegment.write(d1, es.iterator).fileName == CellSegment.write(d2, es.iterator).fileName)
    assert(CellSegment.write(d1, Seq((k("a"), 1L, k("CHANGED")), (k("c"), 2L, k("b2"))).iterator).fileName
      != CellSegment.write(d2, es.iterator).fileName)
    // seqNo lives OUTSIDE the content hash: a replayed load with a
    // fresher generation number converges on the same file name
    assert(CellSegment.write(d1, es.iterator, seqNo = 42L).fileName
      == CellSegment.write(d2, es.iterator, seqNo = 1L).fileName)
  }

  test("each bulk generation outranks resident segments (seqNo advances per load)") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("bulk-seq").toString
    BulkLoad.write(spark.createDataset(Seq(row("A-seq", 1))), root)
    BulkLoad.write(spark.createDataset(Seq(row("A-seq", 2))), root)
    val shard = Paths.get(root, "db~c").toFile.listFiles().filter(_.isDirectory).head.toPath
    val seqs = shard.toFile.listFiles()
      .filter(f => CellSegment.isSegment(f.getName))
      .map(f => CellSegment.readTrailer(f.toPath).seqNo).toSeq.sorted
    assert(seqs == Seq(1L, 2L), s"generations must be 1 then 2, got $seqs")
  }

  // ---- bulk job vs push path ----

  test("bulk-written state is identical to push-written state on the same input") {
    val sp = spark; import sp.implicits._
    val keys = spreadKeys(120)
    val rows = keys.flatMap(key => Seq(row(key, 1L), row(key, 2L))) ++
      Seq(row("skipped", 9L).copy(status = Status.Malformed),
        row("filtered", 9L).copy(filterStatus = "FilteredEarly"))
    val ds = spark.createDataset(rows).repartition(4)

    val pushRoot = Files.createTempDirectory("bulk-eq-push").toString
    val bulkRoot = Files.createTempDirectory("bulk-eq-bulk").toString
    val putCount = PushTableSink.write(ds, () => FileStore(pushRoot))
    val report = BulkLoad.write(ds, bulkRoot)
    assert(putCount == 240L && report.cells == 240L)

    val pushState = FileStore(pushRoot).scanTable("db:c")
      .map { case (kh, v, b) => (kh, v, new String(b)) }.sorted
    val bulkState = FileStore(bulkRoot).scanTable("db:c")
      .map { case (kh, v, b) => (kh, v, new String(b)) }.sorted
    assert(pushState.nonEmpty && pushState == bulkState)
    // DDL landed on the bulk side too (W3)
    assert(FileStore(bulkRoot).readSpecJson("db:c").exists(_.contains(""""compression":"GZ"""")))
    // staging is cleaned up and invisible
    assert(!Files.isDirectory(Paths.get(bulkRoot, "_bulk_staging")) ||
      !Files.list(Paths.get(bulkRoot, "_bulk_staging")).iterator().hasNext)
  }

  test("replaying the same bulk load converges: identical segment files, unchanged state") {
    val sp = spark; import sp.implicits._
    val ds = spark.createDataset(spreadKeys(60).map(row(_, 7L))).repartition(3)
    val root = Files.createTempDirectory("bulk-replay").toString
    val r1 = BulkLoad.write(ds, root)
    val files1 = FileStore(root).scanTable("db:c").map(t => (t._1, t._2)).sorted
    val segs1 = r1.segments.map(d => (d.table, d.shard, d.file)).sorted
    val r2 = BulkLoad.write(ds, root) // whole-job replay
    val segs2 = r2.segments.map(d => (d.table, d.shard, d.file)).sorted
    assert(segs1 == segs2, "replay must regenerate the same content-hash segment names")
    assert(FileStore(root).scanTable("db:c").map(t => (t._1, t._2)).sorted == files1)
    assert(FileStore(root).scanTable("db:c").size == 60)
  }

  test("bulk after push collapses duplicate cells at read (one logical cell per key+version)") {
    val sp = spark; import sp.implicits._
    val shared = spreadKeys(40)
    val pushOnly = Seq(row("push-only", 1L))
    val bulkOnly = Seq(row("bulk-only", 2L))
    val root = Files.createTempDirectory("bulk-overlap").toString
    PushTableSink.write(spark.createDataset(shared.map(row(_, 5L)) ++ pushOnly), () => FileStore(root))
    BulkLoad.write(spark.createDataset(shared.map(row(_, 5L)) ++ bulkOnly), root)
    val state = FileStore(root).scanTable("db:c")
    assert(state.size == 42, s"40 shared + 2 singles, got ${state.size}")
    // the connector face agrees
    val viaConnector = spark.read.format("graft-cells")
      .option("root", root).option("table", "db:c").load()
    assert(viaConnector.count() == 42L)
    assert(viaConnector.select("rowkey", "version").distinct().count() == 42L)
  }

  test("maxSegmentBytes rolls a hot shard into multiple segments without losing cells") {
    val sp = spark; import sp.implicits._
    // all keys share a first byte -> one shard, forced to roll
    val rows = (0 until 50).map(i => row(f"Z-same-shard-$i%03d", i.toLong))
    val root = Files.createTempDirectory("bulk-roll").toString
    val report = BulkLoad.write(spark.createDataset(rows), root,
      BulkLoad.Config(maxSegmentBytes = 256))
    assert(report.segments.size > 1, "256-byte cap over ~50 cells must roll")
    assert(report.segments.map(_.shard).distinct == Seq("5a")) // 'Z'
    assert(FileStore(root).scanTable("db:c").size == 50)
  }

  // ---- F5 over segments ----

  test("exists() sees bulk-loaded cells, and the push path skips them (F5 across write paths)") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("bulk-exists").toString
    BulkLoad.write(spark.createDataset(spreadKeys(20).map(row(_, 3L))), root)
    val store = FileStore(root)
    val probe = spreadKeys(20).map(key => CellPut("db:c", k(key), 3L, Array.empty[Byte]))
    assert(store.exists("db:c", probe).forall(identity))
    assert(!store.exists("db:c", Seq(CellPut("db:c", k(spreadKeys(1).head), 4L, Array.empty[Byte]))).head,
      "same key, other version: must not exist")
    // a push replay over bulk-loaded cells puts nothing new
    val again = PushTableSink.write(spark.createDataset(spreadKeys(20).map(row(_, 3L))), () => FileStore(root))
    assert(again == 0L, "push after bulk must skip every existing cell")
    assert(store.scanTable("db:c").size == 20)
  }

  // ---- connector pushdown over segments ----

  test("connector prunes segments by version bound and reads no data region for version-only scans") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("bulk-prune").toString
    BulkLoad.write(spark.createDataset(
      (0 until 30).map(i => row(s"A-k$i", 100L + i)) ++
        (0 until 30).map(i => row(s"B-k$i", 900L + i))), root)
    def table = spark.read.format("graft-cells").option("root", root).option("table", "db:c").load()

    // version slice entirely below one segment family
    CellsSource.filesOpened.set(0)
    assert(table.filter(col("version") >= 900L).count() == 30L)
    assert(CellsSource.filesOpened.get() == 0L,
      "count(version>=bound) is trailer+index reads only — no data region opened")

    // full count: still no data region (index IS the version column)
    CellsSource.filesOpened.set(0)
    assert(table.select("version").count() == 60L)
    assert(CellsSource.filesOpened.get() == 0L)

    // point lookup through the segment index
    CellsSource.filesOpened.set(0)
    val got = table.filter(col("rowkey") === lit(k("A-k7"))).collect()
    assert(got.length == 1 && got.head.getLong(1) == 107L)
    assert(CellsSource.filesOpened.get() <= 1L, "a point GET opens at most its one entry")

    // rowkey range scan over the bulk data
    val bRange = table.filter(col("rowkey") >= lit(k("B")) && col("rowkey") < lit(k("C")))
    assert(CellsSource.plannedShards(bRange).size == 1, "range scan plans only the B shard")
    assert(bRange.count() == 30L)
  }

  // ---- custom split layouts (finer-than-first-byte regions) ----

  test("a skewed load shards past the first-byte ceiling under a custom split layout") {
    val sp = spark; import sp.implicits._
    // every key opens with 'Z' — the default layout would funnel the
    // whole table through ONE shard directory
    val cells = (0 until 200).map { i =>
      ("db:c", k(f"Z-key-$i%03d"), i.toLong, k(s"body-$i"))
    }.toDF("tableName", "rowkey", "version", "body")
    val points = (1 to 9).map(i => k(f"Z-key-${i * 20}%03d"))
    val root = Files.createTempDirectory("bulk-split").toString
    val report = BulkLoad.writeCells(cells, root, BulkLoad.Config(splitPoints = points))
    assert(report.cells == 200L)
    // layout: 10 populated regions inside the single 'Z' first byte
    val shardDirs = Files.list(Paths.get(root, "db~c")).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toVector.sorted
    assert(shardDirs.size == 10, s"custom layout must fan out: $shardDirs")
    // read-back identical through the connector
    val table = spark.read.format("graft-cells").option("root", root).option("table", "db:c").load()
    assert(table.count() == 200L)
    assert(table.select(col("rowkey").cast("string")).as[String].collect().sorted.toSeq ==
      (0 until 200).map(i => f"Z-key-$i%03d").sorted)
    // point GET plans exactly one region; range scan plans its span
    val point = table.filter(col("rowkey") === lit(k("Z-key-137")))
    assert(CellsSource.plannedShards(point).size == 1 && point.count() == 1L)
    val range = table.filter(col("rowkey") >= lit(k("Z-key-040")) && col("rowkey") < lit(k("Z-key-080")))
    val rangeShards = CellsSource.plannedShards(range)
    assert(rangeShards.size <= 3, s"range must prune regions: $rangeShards")
    assert(range.count() == 40L)
    // F5 and the push path respect the custom placement
    val store = FileStore(root)
    assert(store.exists("db:c", Seq(CellPut("db:c", k("Z-key-137"), 137L, Array.empty))).head)
    assert(!store.exists("db:c", Seq(CellPut("db:c", k("Z-key-137"), 999L, Array.empty))).head)
    store.putBatch("db:c", Seq(CellPut("db:c", k("Z-key-500"), 500L, k("late"))))
    assert(table.filter(col("rowkey") === lit(k("Z-key-500"))).count() == 1L)
  }

  test("a split layout can exceed 256 regions (the old per-table parallelism ceiling)") {
    val sp = spark; import sp.implicits._
    // 511 split points → 512 regions: every first byte halved at 0x80
    val points = (0 until 256).map(b => Array(b.toByte, 0x80.toByte)) ++
      (1 until 256).map(b => Array(b.toByte))
    val cells = (0 until 256).flatMap { b =>
      Seq(("db:c", Array(b.toByte, 0x10.toByte), 1L, k(s"lo-$b")),
          ("db:c", Array(b.toByte, 0x90.toByte), 1L, k(s"hi-$b")))
    }.toDF("tableName", "rowkey", "version", "body")
    val root = Files.createTempDirectory("bulk-512").toString
    BulkLoad.writeCells(cells, root, BulkLoad.Config(splitPoints = points))
    val table = spark.read.format("graft-cells").option("root", root).option("table", "db:c").load()
    assert(CellsSource.plannedShards(table).size == 512, "512 populated regions → 512 planned shards")
    assert(table.count() == 512L)
    // replay converges under the custom layout too
    BulkLoad.writeCells(cells, root, BulkLoad.Config(splitPoints = points))
    assert(table.count() == 512L)
  }

  test("a conflicting duplicate straddling a segment roll still fails the job") {
    val sp = spark; import sp.implicits._
    // maxSegmentBytes=1 → every entry rolls its own segment, so the
    // two same-(key,version) cells land in DIFFERENT chunks; the dedup
    // above the roll must still see them adjacent
    val conflict = Seq(
      ("db:c", k("Z-dup"), 1L, k("body-A")),
      ("db:c", k("Z-dup"), 1L, k("body-B")),
      ("db:c", k("Z-zz"), 2L, k("x"))).toDF("tableName", "rowkey", "version", "body")
    val root = Files.createTempDirectory("bulk-rolldup").toString
    val ex = intercept[org.apache.spark.SparkException] {
      BulkLoad.writeCells(conflict.coalesce(1), root, BulkLoad.Config(maxSegmentBytes = 1))
    }
    assert(ex.getMessage.contains("two bodies") ||
      Option(ex.getCause).exists(_.getMessage.contains("two bodies")))
    // the benign twin: identical bodies collapse to ONE cell across rolls
    val dup = Seq(
      ("db:c", k("Z-dup"), 1L, k("same")),
      ("db:c", k("Z-dup"), 1L, k("same")),
      ("db:c", k("Z-zz"), 2L, k("x"))).toDF("tableName", "rowkey", "version", "body")
    val root2 = Files.createTempDirectory("bulk-rolldup2").toString
    val r = BulkLoad.writeCells(dup.coalesce(1), root2, BulkLoad.Config(maxSegmentBytes = 1))
    assert(r.cells == 2L)
    assert(FileStore(root2).scanTable("db:c").size == 2)
  }

  test("a conflicting duplicate fails the load before any segment reaches a region directory") {
    val sp = spark; import sp.implicits._
    // good cells in many regions (so most write tasks succeed and stage
    // their segments) plus one conflicting pair in the 'Z' region
    val good = spreadKeys(200).map(key => ("db:c", k(key), 1L, k(s"body-$key")))
    val conflict = Seq(("db:c", k("Z-dup"), 1L, k("body-A")), ("db:c", k("Z-dup"), 1L, k("body-B")))
    val root = Files.createTempDirectory("bulk-conflict").toString
    val ex = intercept[org.apache.spark.SparkException] {
      BulkLoad.writeCells((good ++ conflict).toDF("tableName", "rowkey", "version", "body").repartition(4), root)
    }
    assert(ex.getMessage.contains("two bodies") ||
      Option(ex.getCause).exists(_.getMessage.contains("two bodies")))
    val tableDir = Paths.get(root, "db~c")
    val segments = ShardFiles.regions(tableDir).flatMap(r => ShardFiles.segmentsOf(ShardFiles.list(r).own))
    assert(segments.isEmpty, s"a failed load must flip nothing in: $segments")
    assert(FileStore(root).scanTable("db:c").isEmpty)
  }

  // ---- region-packed exchange ----

  private def stageTasks(body: => Unit): Seq[Int] = Fixtures.stageTasks(spark.sparkContext)(body)

  private def withSessionConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the write stage runs one task per core, not one per shuffle partition") {
    val sp = spark; import sp.implicits._
    // two tables under the default layout: 512 regions, ~9 KB of cells
    val cells = Seq("db:a", "db:b").flatMap(t => spreadKeys(200).map(key => (t, k(key), 1L, k(s"$t/$key"))))
      .toDF("tableName", "rowkey", "version", "body")
    assert(spark.sparkContext.defaultParallelism == 4)
    val root = Files.createTempDirectory("bulk-tasks").toString
    val tasks = withSessionConf("spark.sql.shuffle.partitions", "200") {
      stageTasks { assert(BulkLoad.writeCells(cells, root).cells == 400L) }
    }
    assert(tasks.last == 4 && tasks.forall(_ <= 4), s"P = defaultParallelism = 4 write tasks: $tasks")
    assert(FileStore(root).scanTable("db:a").size == 200 && FileStore(root).scanTable("db:b").size == 200)

    // a load past the advisory size gets one more task per advisory
    // share, and never more tasks than regions
    val root2 = Files.createTempDirectory("bulk-tasks-advisory").toString
    val grown = withSessionConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1024") {
      stageTasks(BulkLoad.writeCells(cells, root2))
    }
    val bytes = Seq("db:a", "db:b").flatMap(t => spreadKeys(200).map(key => key.length + s"$t/$key".length)).sum
    assert(grown.last == (bytes + 1023) / 1024, s"⌈$bytes / 1024⌉ write tasks: $grown")
    val root3 = Files.createTempDirectory("bulk-tasks-regions").toString
    val capped = withSessionConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1024") {
      stageTasks(BulkLoad.writeCells(cells.filter(col("tableName") === "db:a"), root3,
        BulkLoad.Config(splitPoints = Seq(k("H"), k("P")))))
    }
    assert(capped.last == 3, s"three regions, three write tasks: $capped")
    assert(FileStore(root3).scanTable("db:a").size == 200)
  }

  test("every region's segment is CellSegment.write of its sorted cells at seqNo 1") {
    val sp = spark; import sp.implicits._
    def golden(cells: Seq[(String, Array[Byte], Long, Array[Byte])], points: Seq[Array[Byte]]): Unit = {
      val root = Files.createTempDirectory("bulk-golden").toString
      val report = BulkLoad.writeCells(cells.toDF("tableName", "rowkey", "version", "body").repartition(3),
        root, BulkLoad.Config(splitPoints = points))
      val splits = if (points.isEmpty) FileStore.Splits.Default else FileStore.Splits.ofSplitPoints(points)
      val expectRoot = Files.createTempDirectory("bulk-golden-expect")
      val byRegion = cells.groupBy(c => (c._1, splits.shardNameOf(c._2)))
      byRegion.foreach { case ((t, shard), cs) =>
        val sorted = cs.sortWith { (a, b) =>
          val c = java.util.Arrays.compareUnsigned(a._2, b._2)
          if (c != 0) c < 0 else a._3 < b._3
        }
        val expectDir = expectRoot.resolve(t.replace(':', '~')).resolve(shard)
        val meta = CellSegment.write(expectDir, sorted.iterator.map(c => (c._2, c._3, c._4)), seqNo = 1L)
        val live = Paths.get(root, t.replace(':', '~'), shard)
        val names = ShardFiles.segmentsOf(ShardFiles.list(live).own).map(_.getFileName.toString)
        assert(names == Vector(meta.fileName), s"$t/$shard")
        assert(java.util.Arrays.equals(Files.readAllBytes(live.resolve(meta.fileName)),
          Files.readAllBytes(expectDir.resolve(meta.fileName))), s"$t/$shard bytes")
      }
      // no other region holds a segment, and the report names exactly these
      cells.map(_._1).distinct.foreach { t =>
        val populated = ShardFiles.regions(Paths.get(root, t.replace(':', '~')))
          .filter(r => ShardFiles.segmentsOf(ShardFiles.list(r).own).nonEmpty)
          .map(_.getFileName.toString).toSet
        assert(populated == byRegion.keys.collect { case (`t`, s) => s }.toSet)
      }
      assert(report.segments.map(d => (d.table, d.shard)).sorted == byRegion.keys.toSeq.sorted)
    }
    // default layout: two tables, two versions per key
    golden(Seq("db:a", "db:b").flatMap(t => spreadKeys(150).flatMap(key =>
      Seq(1L, 2L).map(v => (t, k(key), v, k(s"$t/$key/$v"))))), Nil)
    // 512-region custom layout, two tables: global region numbers past 256
    val points = (0 until 256).map(b => Array(b.toByte, 0x80.toByte)) ++ (1 until 256).map(b => Array(b.toByte))
    golden(Seq("db:a", "db:b").flatMap(t => (0 until 256).flatMap(b =>
      Seq(Array(b.toByte, 0x10.toByte), Array(b.toByte, 0x90.toByte)).map(key =>
        (t, key, b.toLong, k(s"$t/${FileStore.hex(key)}")))) ++ Seq((t, Array.emptyByteArray, 3L, k("empty")))),
      points)
  }

  test("Vacuum sweeps aged _bulk_staging orphans and keeps a live load's") {
    val root = Files.createTempDirectory("bulk-vac").toString
    val orphan = Paths.get(root, "_bulk_staging", "deadbeef", "7", "db~c")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("bulk-0123456789abcdef.seg"), "staged".getBytes)
    val live = Vacuum.sweep(root, olderThanMs = 3600L * 1000L)
    assert(live.stagingSwept == 0 && Files.isDirectory(orphan), "a fresh staging dir is a running load's")
    val rep = Vacuum.sweep(root, olderThanMs = 0L)
    assert(rep.stagingSwept == 1)
    assert(!Files.isDirectory(Paths.get(root, "_bulk_staging", "deadbeef")))
  }

  test("resplit migrates a table onto a new layout, carrying content and DDL") {
    val sp = spark; import sp.implicits._
    val src = Files.createTempDirectory("resplit-src").toString
    val dst = Files.createTempDirectory("resplit-dst").toString
    val cells = (0 until 60).map(i => ("db:c", k(f"Z-k-$i%02d"), i.toLong, k(s"b$i")))
      .toDF("tableName", "rowkey", "version", "body")
    BulkLoad.writeCells(cells, src,
      BulkLoad.Config(tableSpec = TableSpec(maxVersions = 2))) // default layout: one 'Z' shard
    val newSplits = FileStore.Splits.ofSplitPoints(Seq(k("Z-k-20"), k("Z-k-40")))
    Resplit.to(spark, src, "db:c", dst, newSplits)
    assert(FileStore(dst).splitsOf("db:c").toJson == newSplits.toJson)
    assert(FileStore(dst).readSpecJson("db:c") == FileStore(src).readSpecJson("db:c"),
      "DDL travels with the migration")
    val table = spark.read.format("graft-cells").option("root", dst).option("table", "db:c").load()
    assert(CellsSource.plannedShards(table).size == 3, "3 populated regions on the new layout")
    assert(table.count() == 60L)
    assert(FileStore(dst).scanTable("db:c").map(t => (t._1, t._2)).sorted ==
      FileStore(src).scanTable("db:c").map(t => (t._1, t._2)).sorted)
    // the destination refuses a THIRD layout — resharding is a migration
    val ex = intercept[IllegalArgumentException] {
      Resplit.to(spark, src, "db:c", dst, FileStore.Splits.ofSplitPoints(Seq(k("Z-k-30"))))
    }
    assert(ex.getMessage.contains("different split layout"))
  }

  // ---- bounded index cache (the BlockCache analog) ----

  test("segment-index cache honors a tiny cap with identical answers") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("bulk-cache").toString
    // many single-shard segments: maxSegmentBytes small → one segment
    // per few cells, spread over ~23 shards
    BulkLoad.write(spark.createDataset(spreadKeys(80).map(row(_, 1L))), root,
      BulkLoad.Config(maxSegmentBytes = 128))
    val table = spark.read.format("graft-cells").option("root", root).option("table", "db:c").load()
    val uncapped = table.select(col("rowkey").cast("string")).as[String].collect().sorted.toSeq
    val prevCap = CellSegment.setIndexCacheMaxBytes(2048) // a few indexes at most
    try {
      // touch every segment's index through point GETs and scans
      spreadKeys(80).foreach { key =>
        assert(table.filter(col("rowkey") === lit(k(key))).count() == 1L)
      }
      val capped = table.select(col("rowkey").cast("string")).as[String].collect().sorted.toSeq
      assert(capped == uncapped, "eviction must never change answers")
      val (entries, bytes) = CellSegment.indexCacheStats
      assert(bytes <= 2048, s"cache bytes $bytes exceed the cap")
      assert(entries < 23, s"a 2 KB cap cannot hold every index: $entries resident")
    } finally CellSegment.setIndexCacheMaxBytes(prevCap)
  }

  test("streaming face tails bulk-loaded versions") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("bulk-stream").toString
    BulkLoad.write(spark.createDataset((0 until 15).map(i => row(s"S-k$i", 10L + i))), root)
    val ck = Files.createTempDirectory("bulk-stream-ck").toString
    val sink = "bulk_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.format("graft-cells")
      .option("root", root).option("table", "db:c").load()
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table(sink).count() == 15L)
    spark.catalog.dropTempView(sink)
  }
}

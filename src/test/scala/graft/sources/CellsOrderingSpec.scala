package graft.sources

import graft.ingest.{BulkLoad, Compaction, FileStore, PushTableSink}
import graft.ingest.PushTableSink.CellPut
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** SupportsReportOrdering: a compacted table (one segment per shard,
  * no put backlog) reports (rowkey, version) per-partition order and
  * Catalyst drops the redundant local Sort; a put backlog withdraws
  * the report and the Sort comes back — spec-pinned both ways. */
class CellsOrderingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("cells-ordering-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sortsIn(df: DataFrame): Int = {
    df.collect() // finalize AQE
    var n = 0
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case _: SortExec => n += 1
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan) // stages hang their subtree off .plan, not children
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    n
  }

  test("compacted table: local sort on (rowkey) is dropped; a put backlog brings it back") {
    val root = Files.createTempDirectory("graft-ord").toString
    val sp = spark; import sp.implicits._
    BulkLoad.writeCells(
      (0 until 300).map(i => ("t", f"K-$i%04d".getBytes("UTF-8"), 10L + i, s"b-$i".getBytes("UTF-8")))
        .toDF("tableName", "rowkey", "version", "body"), root)
    def tbl = spark.read.format("graft-cells").option("root", root).option("table", "t").load()

    val sorted = tbl.sortWithinPartitions("rowkey", "version")
      .select(col("rowkey").cast("string"), col("version"))
    assert(sortsIn(sorted) == 0,
      "a single-segment-per-shard table reports its order — the local Sort must vanish")
    // rows really are in order within each partition
    val perPart = tbl.select(col("rowkey").cast("string").as("k"))
      .mapPartitions(it => Iterator.single(it.map(_.getString(0)).toSeq)).collect()
    assert(perPart.forall(s => s == s.sorted), "reported order must be the physical order")

    // a put backlog breaks the single-run guarantee — report withdrawn
    FileStore(root).putBatch("t", Seq(CellPut("t", "K-zzz".getBytes("UTF-8"), 1L, "x".getBytes("UTF-8"))))
    val sorted2 = tbl.sortWithinPartitions("rowkey", "version")
      .select(col("rowkey").cast("string"), col("version"))
    assert(sortsIn(sorted2) >= 1, "an unmerged put backlog must bring the Sort back")

    // a minor compaction merges the backlog — the report returns
    Compaction.minor(spark, root, "t", maxInputBytes = Long.MaxValue)
    val sorted3 = tbl.sortWithinPartitions("rowkey", "version")
      .select(col("rowkey").cast("string"), col("version"))
    assert(sortsIn(sorted3) == 0, "compaction restores the sorted-layout report")
  }
  test("packed partitions: a compacted multi-region table keeps its order report across shards") {
    val root = Files.createTempDirectory("graft-ord-pack").toString
    val sp = spark; import sp.implicits._
    // 64 first-byte regions × 5 keys, one segment each (a bulk load)
    BulkLoad.writeCells(
      (for (b <- 0 until 64; k <- 0 until 5) yield
        ("t", Array((b * 4).toByte, k.toByte), 10L + k, s"b-$b-$k".getBytes("UTF-8")))
        .toDF("tableName", "rowkey", "version", "body"), root)
    def tbl = spark.read.format("graft-cells").option("root", root).option("table", "t").load()
    val scan = CellsScanBuilder(root, "t").build().asInstanceOf[CellsScan]
    val parts = scan.planInputPartitions()
    assert(scan.plannedShards.size == 64 && parts.length < 64,
      s"${parts.length} partitions for 64 shards — nothing packed")

    val sorted = tbl.sortWithinPartitions("rowkey", "version")
      .select(hex(col("rowkey")), col("version"))
    assert(sortsIn(sorted) == 0, "a packed scan of sorted shards still reports its order")
    // every partition streams several shards, in order (hex order ≡ unsigned byte order)
    val perPart = tbl.select(hex(col("rowkey")).as("k"))
      .mapPartitions(it => Iterator.single(it.map(_.getString(0)).toSeq)).collect()
    assert(perPart.map(_.size).sum == 320)
    assert(perPart.exists(_.map(_.take(2)).distinct.size > 1), "a partition must span shards")
    assert(perPart.forall(s => s == s.sorted), "reported order must be the physical order")
  }
}

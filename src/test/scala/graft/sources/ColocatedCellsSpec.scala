package graft.sources

import graft.ingest.{BulkLoad, FileStore, PushTableSink}
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The region-aligned shuffle-free join: result ≡ the Catalyst shuffle
  * join on the same data, latest-version-per-key semantics, directory-
  * level inner pruning, layout-mismatch rejection, and the no-Exchange
  * plan property. */
class ColocatedCellsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("colocated-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def k(s: String): Array[Byte] = s.getBytes("UTF-8")

  private def seed(root: String, table: String, cells: Seq[(String, Long, String)],
                   points: Seq[Array[Byte]] = Nil): Unit = {
    val sp = spark; import sp.implicits._
    BulkLoad.writeCells(
      cells.map { case (key, v, b) => (table, k(key), v, k(b)) }
        .toDF("tableName", "rowkey", "version", "body"),
      root, BulkLoad.Config(splitPoints = points))
  }

  test("co-located join matches the Catalyst shuffle join and keeps the latest version") {
    val root = Files.createTempDirectory("coloc-eq").toString
    // A: keys 0..39, two versions each (latest body must win);
    // B: even keys only, one version
    seed(root, "a", (0 until 40).flatMap(i =>
      Seq((f"K-$i%02d", 1L, s"a1-$i"), (f"K-$i%02d", 2L, s"a2-$i"))))
    seed(root, "b", (0 until 40 by 2).map(i => (f"K-$i%02d", 5L, s"b-$i")))
    val joined = ColocatedCells.joinLatest(spark, root, "a", "b")
      .select(col("rowkey").cast("string").as("key"), col("version_a"),
        col("body_a").cast("string").as("ba"), col("version_b"),
        col("body_b").cast("string").as("bb"))
    assert(!joined.queryExecution.executedPlan.toString.contains("Exchange"))
    val got = joined.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getString(4))).sorted.toSeq
    assert(got == (0 until 40 by 2).map(i =>
      (f"K-$i%02d", 2L, s"a2-$i", 5L, s"b-$i")).sorted.toSeq)
    // the reference plan: Catalyst join of the two connector reads on
    // latest version per key — same rows
    def latestDf(t: String) = {
      val df = spark.read.format("graft-cells").option("root", root).option("table", t).load()
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("rowkey"))
        .orderBy(col("version").desc)
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    }
    val viaCatalyst = latestDf("a").as("x").join(latestDf("b").as("y"),
        col("x.rowkey") === col("y.rowkey"))
      .select(col("x.rowkey").cast("string"), col("x.version"),
        col("x.body").cast("string"), col("y.version"), col("y.body").cast("string"))
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getString(4))).sorted.toSeq
    assert(got == viaCatalyst, "shuffle-free result must equal the Catalyst shuffle join")
  }

  test("parallelism = co-populated regions; B-empty regions are pruned at directory level") {
    val root = Files.createTempDirectory("coloc-prune").toString
    val points = (1 to 3).map(i => k(s"K-${i * 10}"))
    seed(root, "a", (0 until 40).map(i => (f"K-$i%02d", 1L, s"a-$i")), points)
    // B populates only the [K-10, K-20) and [K-30, ∞) regions
    seed(root, "b", Seq(("K-12", 1L, "b-12"), ("K-35", 1L, "b-35")), points)
    val joined = ColocatedCells.joinLatest(spark, root, "a", "b")
    assert(joined.rdd.getNumPartitions == 2, "only co-populated regions are planned")
    assert(joined.count() == 2L)
  }

  test("mismatched split layouts are rejected; disjoint tables join empty") {
    val root = Files.createTempDirectory("coloc-reject").toString
    seed(root, "a", Seq(("K-1", 1L, "a")), (1 to 3).map(i => k(s"K-${i * 10}")))
    seed(root, "b", Seq(("K-1", 1L, "b"))) // default layout
    val ex = intercept[IllegalArgumentException] {
      ColocatedCells.joinLatest(spark, root, "a", "b")
    }
    assert(ex.getMessage.contains("split layouts"))
    // disjoint key populations → empty result, no tasks on empty dirs
    val root2 = Files.createTempDirectory("coloc-empty").toString
    seed(root2, "a", Seq(("A-1", 1L, "a")))
    seed(root2, "b", Seq(("B-1", 1L, "b")))
    assert(ColocatedCells.joinLatest(spark, root2, "a", "b").count() == 0L)
  }

  test("delete tombstones mask inside the join: rollback to older version, full-mask dropout") {
    val root = Files.createTempDirectory("coloc-tomb").toString
    seed(root, "a", (0 until 20).flatMap(i =>
      Seq((f"K-$i%02d", 1L, s"a1-$i"), (f"K-$i%02d", 2L, s"a2-$i"))))
    seed(root, "b", (0 until 20).map(i => (f"K-$i%02d", 5L, s"b-$i")))
    val store = FileStore(root)
    // K-03: delete at T=1 masks only v1 — latest stays v2 (no effect on
    // the join row); K-05: delete at T=2 masks BOTH — the key drops out;
    // K-07 on B: the B side vanishes, so the inner row disappears
    store.deleteCells("a", Seq((k("K-03"), 1L), (k("K-05"), 2L)))
    store.deleteCells("b", Seq((k("K-07"), 5L)))
    val got = ColocatedCells.joinLatest(spark, root, "a", "b")
      .select(col("rowkey").cast("string"), col("version_a"), col("body_a").cast("string"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(!got.exists(_._1 == "K-05"), "a fully-masked A key must drop out")
    assert(!got.exists(_._1 == "K-07"), "a fully-masked B key must drop its inner row")
    assert(got.size == 18 && got.forall { case (_, v, b) => v == 2L && b.startsWith("a2-") },
      s"unmasked keys keep their latest version: ${got.take(3)}")
  }

  test("left and full outer faces emit null absent sides, shuffle-free, masked") {
    val root = Files.createTempDirectory("coloc-outer").toString
    seed(root, "a", Seq(("K-1", 1L, "a-1"), ("K-2", 1L, "a-2"), ("K-3", 1L, "a-3")))
    seed(root, "b", Seq(("K-2", 5L, "b-2"), ("K-4", 5L, "b-4")))
    FileStore(root).deleteCells("a", Seq((k("K-3"), 1L))) // masked A key
    def rows(j: org.apache.spark.sql.DataFrame) = j.collect().map { r =>
      (new String(r.getAs[Array[Byte]]("rowkey"), "UTF-8"),
        Option(r.getAs[java.lang.Long]("version_a")).map(_.longValue),
        Option(r.getAs[java.lang.Long]("version_b")).map(_.longValue))
    }.sortBy(_._1).toSeq
    val left = ColocatedCells.joinLatest(spark, root, "a", "b", "left")
    assert(!left.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(rows(left) == Seq(
      ("K-1", Some(1L), None), // A-only: null B side
      ("K-2", Some(1L), Some(5L))), "left face: A's live keys, B nullable — masked K-3 gone")
    val full = ColocatedCells.joinLatest(spark, root, "a", "b", "full")
    assert(!full.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(rows(full) == Seq(
      ("K-1", Some(1L), None),
      ("K-2", Some(1L), Some(5L)),
      ("K-4", None, Some(5L))), "full face adds B-only keys with a null A side")
    val ex = intercept[IllegalArgumentException] {
      ColocatedCells.joinLatest(spark, root, "a", "b", "right")
    }
    assert(ex.getMessage.contains("joinType"))
  }

  test("q204-style planner output drives the split layout end-to-end") {
    val sp = spark; import sp.implicits._
    // equi-depth split points computed FROM the data (the q204
    // planner's job), then fed to the load as boundaries — the
    // plan-then-load loop an operator runs before pointing a heavy
    // ingest at a new table
    val keys = (0 until 120).map(i => f"Z-${(i * 37) % 120}%03d")
    val ranked = keys.sorted
    val points = Seq(30, 60, 90).map(i => k(ranked(i)))
    val root = Files.createTempDirectory("coloc-planner").toString
    seed(root, "t", keys.map(key => (key, 1L, s"v-$key")), points)
    val table = spark.read.format("graft-cells").option("root", root).option("table", "t").load()
    assert(CellsSource.plannedShards(table).size == 4, "4 equi-depth regions, all populated")
    assert(table.count() == 120L)
    val perShard = table.groupBy("_shard").count().collect().map(_.getLong(1))
    assert(perShard.length == 4 && perShard.forall(n => n == 30),
      s"equi-depth boundaries balance the regions: ${perShard.toSeq}")
  }
}

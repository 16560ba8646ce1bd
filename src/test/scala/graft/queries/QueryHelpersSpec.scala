package graft.queries

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The two shared query helpers: `sameRows` is multiset equality in both
  * directions, and `withConf` scopes a conf to a child session that
  * neither the caller nor a concurrent query on it ever sees. */
class QueryHelpersSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .appName("query-helpers-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def frame(xs: Int*) = {
    val s = spark; import s.implicits._
    xs.toDF("x")
  }

  test("sameRows passes on equal frames, in any row order") {
    sameRows(frame(1, 2, 2, 3), frame(3, 2, 1, 2), "equal")
  }

  test("sameRows fails in each direction") {
    val e1 = intercept[IllegalArgumentException](sameRows(frame(1, 2), frame(1), "a has extra"))
    assert(e1.getMessage.contains("a has extra"))
    val e2 = intercept[IllegalArgumentException](sameRows(frame(1), frame(1, 2), "b has extra"))
    assert(e2.getMessage.contains("b has extra"))
  }

  test("sameRows compares multisets: a row held twice is not a row held once") {
    intercept[IllegalArgumentException](sameRows(frame(1, 1, 2), frame(1, 2), "dup left"))
    intercept[IllegalArgumentException](sameRows(frame(1, 2), frame(1, 1, 2), "dup right"))
  }

  test("withConf: the body sees the override on its session, the parent never does, also when the body throws") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    intercept[IllegalStateException] {
      withConf(spark, key -> "7") { s =>
        assert(s.conf.get(key) == "7")
        assert(spark.conf.get(key) == before)
        throw new IllegalStateException("boom")
      }
    }
    assert(spark.conf.get(key) == before)
  }

  test("withConf leaves a previously unset key unset, keeps the parent's runtime confs, and returns the body's value") {
    val key = "spark.graft.test.withConf"
    val parentOnly = "spark.graft.test.parentOnly"
    assert(spark.conf.getOption(key).isEmpty)
    spark.conf.set(parentOnly, "p")
    try {
      val got = withConf(spark, key -> "on") { s =>
        assert(s.conf.get(parentOnly) == "p", "the child starts from the parent's runtime confs")
        s.conf.get(key)
      }
      assert(got == "on")
      assert(spark.conf.getOption(key).isEmpty)
    } finally spark.conf.unset(parentOnly)
  }

  test("a query planned on the parent while a body holds an override sees the parent's value") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val body = Future(withConf(spark, key -> "7") { s =>
      entered.countDown()
      assert(release.await(60, TimeUnit.SECONDS))
      s.range(10).repartition(col("id")).queryExecution.sparkPlan.outputPartitioning.numPartitions
    })
    try {
      assert(entered.await(60, TimeUnit.SECONDS))
      val (seen, planned) = Await.result(Future {
        (spark.conf.get(key),
          spark.range(10).repartition(col("id")).queryExecution.sparkPlan.outputPartitioning.numPartitions)
      }, 60.seconds)
      assert(seen == before)
      assert(planned == before.toInt)
    } finally release.countDown()
    assert(Await.result(body, 60.seconds) == 7)
  }

  test("a stream started in the body runs under the override: its checkpoint's offsets/0 records it") {
    val src = Files.createTempDirectory("withconf-src")
    val ck = Files.createTempDirectory("withconf-ck")
    try {
      spark.range(20).write.mode("overwrite").parquet(src.resolve("in").toString)
      val schema = spark.read.parquet(src.resolve("in").toString).schema
      val counts = withConf(spark, "spark.sql.shuffle.partitions" -> "3") { s =>
        s.readStream.schema(schema).parquet(src.resolve("in").toString)
          .groupBy((col("id") % 2).as("k")).count()
          .writeStream.format("memory").queryName("withconf_stream").outputMode("complete")
          .option("checkpointLocation", ck.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
        s.table("withconf_stream").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(counts == Map(0L -> 10L, 1L -> 10L))
      val meta = new String(Files.readAllBytes(ck.resolve("offsets").resolve("0")), "UTF-8")
      assert(meta.contains("\"spark.sql.shuffle.partitions\":\"3\""), meta)
      assert(!spark.catalog.tableExists("withconf_stream"), "the sink's view stays on the child")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(src.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
    }
  }

  test("a catalog query run twice on the same session is correct both times") {
    val q = graft.SparkEntry.queries("q229_cells_sql_time_travel")
    def rows() = q(spark, "/root/testdata/sf0.001").collect().map(_.toString).sorted.toSeq
    val first = rows()
    assert(first.nonEmpty)
    assert(rows() == first)
    assert(spark.conf.getAll.keys.forall(!_.startsWith("spark.sql.catalog.")))
  }
}

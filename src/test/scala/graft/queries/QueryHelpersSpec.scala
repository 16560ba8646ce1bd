package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The two shared query helpers: `sameRows` is multiset equality in both
  * directions, and `withConf` always puts the session conf back. */
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

  test("withConf restores the previous value after the body throws") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    intercept[IllegalStateException] {
      withConf(spark, key -> "7") {
        assert(spark.conf.get(key) == "7")
        throw new IllegalStateException("boom")
      }
    }
    assert(spark.conf.get(key) == before)
  }

  test("withConf leaves a previously unset key unset, and returns the body's value") {
    val key = "spark.graft.test.withConf"
    assert(spark.conf.getOption(key).isEmpty)
    val got = withConf(spark, key -> "on")(spark.conf.get(key))
    assert(got == "on")
    assert(spark.conf.getOption(key).isEmpty)
  }
}

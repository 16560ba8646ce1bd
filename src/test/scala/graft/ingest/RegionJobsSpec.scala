package graft.ingest

import graft.ingest.PushTableSink.{CellPut, TableSpec}
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The one sizing rule of the per-region store jobs ([[RegionJobs]]):
  * the group count, the key-ordered contiguous groups and their byte
  * balance, and the task counts of the minor merge, the major's sweep and
  * the co-located join on a default-layout table. */
class RegionJobsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]").appName("region-jobs-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def withAdvisory[A](bytes: Long)(body: => A): A = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def plan(bytes: Seq[Long]): Vector[Vector[Int]] =
    RegionJobs.plan(spark, bytes.zipWithIndex.map(_.swap))

  private def assertContiguous(groups: Vector[Vector[Int]], n: Int): Unit = {
    assert(groups.flatten == (0 until n), s"every region exactly once, in key order: $groups")
    assert(groups.forall(_.nonEmpty))
  }

  test("a small table runs on the cores: 256 even regions in 4 groups of 64") {
    assert(spark.sparkContext.defaultParallelism == 4)
    val groups = plan(Seq.fill(256)(1000L))
    assertContiguous(groups, 256)
    assert(groups.map(_.size) == Vector(64, 64, 64, 64))
    assert(plan(Seq.fill(3)(1000L)).map(_.size) == Vector(1, 1, 1), "no more groups than regions")
    assert(plan(Nil).isEmpty)
  }

  test("a large table gets one group per advisory share, never more than its regions") {
    val bytes = Seq.fill(256)(1000L) // 256,000 bytes
    val groups = withAdvisory(10000L)(plan(bytes))
    assert(groups.size == 26, s"⌈256000 / 10000⌉ groups: ${groups.size}")
    assertContiguous(groups, 256)
    assert(groups.map(_.size).max - groups.map(_.size).min <= 1, s"${groups.map(_.size)}")
    assert(withAdvisory(1L)(plan(bytes)).size == 256)
  }

  test("groups balance bytes, not region counts; weightless regions split by count") {
    // the first 16 regions hold as much as the other 240
    val skewed = Seq.fill(16)(15000L) ++ Seq.fill(240)(1000L)
    val groups = plan(skewed)
    assertContiguous(groups, 256)
    val loads = groups.map(_.map(skewed).sum)
    assert(groups.size == 4 && loads.max - loads.min <= 15000L, s"loads $loads, sizes ${groups.map(_.size)}")
    assert(groups.head.size == 8, s"${groups.map(_.size)}")
    // one region holds everything: it stands alone, the rest share the others
    val hot = plan(Seq(1000000L) ++ Seq.fill(9)(1L))
    assertContiguous(hot, 10)
    assert(hot.head == Vector(0) && hot.size == 4)
    assert(plan(Seq.fill(10)(0L)).map(_.size).sorted == Vector(2, 2, 3, 3))
  }

  /** a default-layout table with one key in each of its 256 regions */
  private def wideTable(root: String, t: String, bodies: Int => String): FileStore = {
    val store = FileStore(root)
    store.ensureTable(t, TableSpec(compactionThreshold = 0))
    store.putBatch(t, (0 until 256).flatMap(b => (1 to 2).map(v =>
      CellPut(t, Array(b.toByte, 1.toByte), v.toLong, bodies(b).getBytes("UTF-8")))))
    store
  }

  test("a minor, a major's sweep and a co-located join each run 4 tasks over 256 regions") {
    val root = Files.createTempDirectory("region-jobs").toString
    wideTable(root, "a", b => s"a-$b")
    wideTable(root, "b", b => s"b-$b")
    def tasks(body: => Unit): Seq[Int] = Fixtures.stageTasks(spark.sparkContext)(body)

    val minor = tasks(assert(Compaction.minor(spark, root, "a").keptCells == 512L))
    assert(minor == Seq(4), s"minor stages: $minor")

    val joined = tasks(assert(graft.sources.ColocatedCells.joinLatest(spark, root, "a", "b").count() == 256L))
    assert(joined.head == 4 && joined.forall(_ <= 4), s"join stages: $joined")

    var removed = 0L
    val major = tasks { removed = Compaction.major(spark, root, "b").removedFiles }
    assert(major.last == 4 && major.forall(_ <= 4), s"major stages (the sweep last): $major")
    assert(removed == 512L && FileStore(root).scanTable("b").size == 512, "every put file swept")

    // the same rule grows a job past the cores once its bytes outgrow the advisory size
    wideTable(root, "c", b => s"c-$b")
    val grown = withAdvisory(1L)(tasks(Compaction.minor(spark, root, "c")))
    assert(grown == Seq(256), s"$grown")
  }
}

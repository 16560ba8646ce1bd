package graft.ingest

import graft.ingest.IngestPipeline.IngestedRow
import graft.ingest.PushTableSink.{CellPut, TableSpec}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

/** The reference re-opens a failed stream mid-file and skips already-
  * written lines (HBaseWriter.kt:131-286). The Spark mapping is: a
  * failed task is RETRIED WHOLE (master local[2,3] here, like a real
  * cluster's spark.task.maxFailures), and the sink's per-batch F5
  * existence skip makes the replayed puts idempotent. This spec kills a
  * task's first attempt after it has already put cells, and proves the
  * store ends up with exactly the right cells — no duplicates, no
  * losses. */
class TaskRetrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      // local[threads, maxTaskFailures]: allow the retry we provoke
      .master("local[2,3]")
      .appName("task-retry-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def cell(i: Int): IngestedRow =
    IngestedRow("f", i.toLong, "db", "c", "t:retry", "m.csv", "ok",
      s"key-$i".getBytes("UTF-8"), 1000L + i, s"body-$i", "MONGO_IMPORT", s"line-$i\n", "DoNotFilter", "")

  test("a killed-and-retried task writes no duplicate and no missing cells") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("graft-retry").resolve("cells").toString
    val rows = sp.createDataset((1 to 20).map(cell)).repartition(2)
      .mapPartitions { it =>
        val tc = org.apache.spark.TaskContext.get()
        // the first attempt of partition 0 dies at its 5th row, every
        // job: one-cell batches have put its first rows by then
        it.zipWithIndex.map { case (r, i) =>
          if (tc.partitionId() == 0 && tc.attemptNumber() == 0 && i == 4)
            throw new RuntimeException("simulated executor death")
          r
        }
      }
    val config = PushTableSink.Config(maxBatchBytes = 1L)
    val killedPuts = TaskRetrySpec.killedAttemptPuts
    killedPuts.set(0L)
    val put = PushTableSink.write(rows, () => TaskRetrySpec.CountingStore(root), config)
    assert(killedPuts.get() > 0) // the dead attempt left cells behind
    assert(put + killedPuts.get() == 20) // its retry put only the rest

    val cells = FileStore(root).scanTable("t:retry").map(c => (c._1, c._2))
    assert(cells.size == 20 && cells.distinct.size == 20)
    assert(cells.map(_._2).toSet == (1 to 20).map(1000L + _).toSet)

    // replaying the whole job is also clean: F5 drops every cell
    assert(PushTableSink.write(rows, () => TaskRetrySpec.CountingStore(root), config) == 0)
    assert(FileStore(root).scanTable("t:retry").size == 20)
  }
}

object TaskRetrySpec {
  /** Cells put by first attempts of partition 0 — the attempts the spec kills. */
  val killedAttemptPuts = new AtomicLong(0L)

  /** A [[FileStore]] that counts the killed attempts' puts. */
  final case class CountingStore(root: String) extends PushTableSink.Store {
    private val store = FileStore(root)
    def ensureTable(tableName: String, spec: TableSpec): Unit = store.ensureTable(tableName, spec)
    def exists(tableName: String, cells: Seq[CellPut]): Seq[Boolean] = store.exists(tableName, cells)
    def putBatch(tableName: String, cells: Seq[CellPut]): Unit = {
      store.putBatch(tableName, cells)
      val tc = org.apache.spark.TaskContext.get()
      if (tc.partitionId() == 0 && tc.attemptNumber() == 0) killedAttemptPuts.addAndGet(cells.size.toLong)
    }
  }
}

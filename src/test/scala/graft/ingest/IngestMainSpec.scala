package graft.ingest

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** The spark-submit entry point end-to-end: reference-named config args
  * drive the whole job (catalog → decode → sinks → counter line). */
class IngestMainSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    // IngestMain getOrCreate()s — give it a local session to reuse
    spark = SparkSession.builder().master("local[4]")
      .appName("ingest-main-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("main runs the whole job from reference-style key=value args") {
    val tmp = Files.createTempDirectory("graft-main")
    Fixtures.writeDumpFile(tmp, "database-1", "collection-2", 1)
    val args = Array(
      s"input.prefixes=$tmp",
      s"table.sink.dir=${tmp.resolve("cells")}",
      s"manifest.dir=${tmp.resolve("manifests")}",
      "skip.earlier.than=2010-01-01T00:00:00.000Z",
      "skip.later.than=2019-12-31T23:59:59.999Z",
      "run-mode=import_and_manifest",
      "correlation.id=spec-run")
    IngestMain.main(args)
    val store = FileStore(tmp.resolve("cells").toString)
    val cells = store.scanTable("database_1:collection_2")
    assert(cells.size == 16) // ok and inside the F2 window
    assert(cells.forall(_._3.nonEmpty))
    assert(tmp.resolve("cells").toFile.list().toSet == Set("database_1~collection_2"))
    // W3: the DDL reached the store
    assert(store.readSpecJson("database_1:collection_2").exists(_.contains(""""compression":"GZ"""")))
    val manifests = new java.io.File(tmp.resolve("manifests").toString).listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSet
    assert(manifests == Set("db.database-1.collection-2-000001.csv"))
    // F5 via the store's exists(): a full re-run converges to the same state
    IngestMain.main(args)
    val after = store.scanTable("database_1:collection_2")
    assert(after.map(c => (c._1, c._2)).sorted == cells.map(c => (c._1, c._2)).sorted)
  }

  test("a file: URI table.sink.dir is the local directory at its path") {
    val tmp = Files.createTempDirectory("graft-main-uri")
    Fixtures.writeDumpFile(tmp, "database-1", "collection-2", 1)
    IngestMain.main(Array(
      s"input.prefixes=$tmp",
      s"table.sink.dir=${tmp.resolve("cells").toUri}",
      s"manifest.dir=${tmp.resolve("manifests")}",
      "run-mode=import"))
    assert(FileStore(tmp.resolve("cells").toString).scanTable("database_1:collection_2").size == 18)
  }

  test("manifest-only run mode writes no cells") {
    val tmp = Files.createTempDirectory("graft-main2")
    Fixtures.writeDumpFile(tmp, "db-x", "coll-y", 1)
    IngestMain.main(Array(
      s"input.prefixes=$tmp",
      s"table.sink.dir=${tmp.resolve("cells")}",
      s"manifest.dir=${tmp.resolve("manifests")}",
      "run-mode=manifest"))
    assert(!Files.exists(tmp.resolve("cells")))
    assert(Files.exists(tmp.resolve("manifests").resolve("db.db-x.coll-y-000001.csv")))
  }

  test("missing required arg fails fast") {
    intercept[IllegalArgumentException](IngestMain.main(Array("run-mode=import")))
  }

  private def rejectsBeforeWriting(bad: String): Unit = {
    val tmp = Files.createTempDirectory("graft-main-bad")
    Fixtures.writeDumpFile(tmp, "db-x", "coll-y", 1)
    val e = intercept[IllegalArgumentException](IngestMain.main(Array(
      s"input.prefixes=$tmp",
      s"table.sink.dir=${tmp.resolve("cells")}",
      s"manifest.dir=${tmp.resolve("manifests")}",
      bad)))
    assert(e.getMessage.contains(bad))
    assert(!Files.exists(tmp.resolve("cells")))
    assert(!Files.exists(tmp.resolve("manifests")))
  }

  test("an unknown run-mode is rejected, not run as import_and_manifest") {
    rejectsBeforeWriting("run-mode=manifests")
  }

  test("a table.sink.dir on a remote filesystem is rejected, not written to a relative path") {
    rejectsBeforeWriting("table.sink.dir=s3a://bucket/cells")
  }

  test("a skip.existing.records that is not a boolean is rejected by name") {
    rejectsBeforeWriting("skip.existing.records=yes")
  }

  test("an object.maximum.size that is not a byte count is rejected by name") {
    rejectsBeforeWriting("object.maximum.size=2GB")
  }

  test("an unknown key, a retired key and a bare key are rejected by name, not run on defaults") {
    rejectsBeforeWriting("skip.existing.record=false")
    rejectsBeforeWriting("table.sink.impl=parquet")
    rejectsBeforeWriting("input.prefixes")
  }
}

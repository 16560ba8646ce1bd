package graft.ingest

import graft.core._
import graft.ingest.IngestPipeline._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, spark_partition_id}
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path => JPath}
import java.util.Base64
import java.util.zip.GZIPOutputStream
import scala.jdk.CollectionConverters._

/** End-to-end replica of the reference integration spec
  * (UCHistoricDataImporterSpec.kt): generate the same dump-file shapes
  * sample_data.py produces (gzipped then AES-CTR encrypted NDJSON with
  * sibling encryption metadata), run the whole pipeline on Spark, and
  * assert the cell store's contents, decrypt-back, manifest names/contents,
  * and idempotent re-runs.
  */
class IngestPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var tmp: JPath = _

  private val fileKeyB64 = Fixtures.fileKeyB64
  private val identity = Envelope.RunIdentity("uow", "trace", "test", () => new java.util.Date(0L))

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("ingest-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tmp = Files.createTempDirectory("graft-ingest")
    Fixtures.writeDumpFile(tmp, "database-1", "collection-1", 1)
    Fixtures.writeDumpFile(tmp, "database-1", "collection-thirtyone", 1)
    Fixtures.writeDumpFile(tmp, "agent_core", "agentToDoArchive", 1)
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
  }

  // fixtures shared with IngestMainSpec — see Fixtures.scala

  private def sinkStore: FileStore = FileStore(tmp.resolve("table-sink").toString)

  /** The tables a FileStore holds: one directory each, ':' stored as '~'. */
  private def tablesIn(root: JPath): Set[String] =
    root.toFile.listFiles().filter(_.isDirectory).map(_.getName.replace('~', ':')).toSet

  private val timeFilter = RecordProcessor.TimeFilter(
    earlierThan = DateFmt.timestampAsLong("2010-01-01T00:00:00.000Z"),
    laterThan = DateFmt.timestampAsLong("2019-12-31T23:59:59.999Z"))

  private def runJob(skipExisting: Boolean = true): RunResult =
    IngestPipeline.run(spark,
      Seq(tmp.toString),
      tmp.resolve("table-sink").toString,
      tmp.resolve("manifests").toString,
      StubKeyService(),
      identity,
      timeFilter = timeFilter,
      ivStrategy = IvStrategy.Deterministic("spec"),
      skipExisting = skipExisting)

  // ------------------------------------------------------------- tests

  test("end-to-end: counts, tables, manifest files, idempotent re-run") {
    val r1 = runJob()
    assert(r1.filesProcessed == 3)
    assert(r1.recordsProcessed == 3 * 18) // 20 lines/file minus malformed + no-id
    assert(r1.skippedMalformed == 3)
    assert(r1.skippedMissingId == 3)
    assert(r1.tooEarly == 3 && r1.tooLate == 3)
    assert(r1.put == 3 * 16) // 18 ok minus early minus late

    val tables = Set("database_1:collection_1", "database_1:collection", "agent_core:agentToDo")
    assert(tablesIn(tmp.resolve("table-sink")) == tables)
    assert(tables.toSeq.map(sinkStore.scanTable(_).size).sum == 48)

    // golden manifest names (UCHistoricDataImporterSpec.kt:223-238)
    val manifests = new java.io.File(tmp.resolve("manifests").toString).listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSet // drop Hadoop .crc sidecars
    assert(manifests == Set(
      "db.database-1.collection-1-000001.csv",
      "db.database-1.collection-thirtyone-000001.csv",
      "db.agent_core.agentToDoArchive-000001.csv"))

    // 18 lines per manifest incl. the filtered-out early/late records
    manifests.foreach { f =>
      val lines = Files.readAllLines(tmp.resolve("manifests").resolve(f))
      assert(lines.size == 18, s"manifest $f")
    }

    // golden first line of the plain-collection manifest
    val first = Files.readAllLines(tmp.resolve("manifests").resolve("db.database-1.collection-1-000001.csv")).get(0)
    assert(first ==
      "\"{\"\"declarationId\"\":\"\"database-1.collection-1.0001-1\"\",\"\"someId\"\":\"\"RANDOM_GUID\"\"}\"|1543676462000|database-1|collection-1|IMPORT|HDI|" +
      "\"{\"\"declarationId\"\":\"\"database-1.collection-1.0001-1\"\",\"\"someId\"\":\"\"RANDOM_GUID\"\"}\"|MONGO_IMPORT")

    // coalesced manifest rows report the coalesced collection name
    val coalesced = Files.readAllLines(tmp.resolve("manifests").resolve("db.database-1.collection-thirtyone-000001.csv")).get(0)
    assert(coalesced.contains("|database-1|collection|"))

    // re-run: the existence skip drops every cell (F5 idempotence)
    val r2 = runJob()
    assert(r2.put == 0)
    assert(r2.filteredExisting == 3 * 16) // every writable cell already present
    assert(r1.filteredExisting == 0)
    assert(tables.toSeq.map(sinkStore.scanTable(_).size).sum == 48)
  }

  test("cells decrypt back to the transformed record (integration spec :84-127)") {
    val envelope = new String(sinkStore.scanTable("agent_core:agentToDo").head._3, "UTF-8")
    val env = Json.parseObject(envelope)
    val msg = env.get("message").get.asInstanceOf[JObj]
    assert(msg.get("db").contains(JStr("agent_core")))
    assert(msg.get("collection").contains(JStr("agentToDo")))
    val dbObject = msg.get("dbObject").get.asInstanceOf[JStr].value
    val iv = msg.get("encryption").get.asInstanceOf[JObj].get("initialisationVector").get.asInstanceOf[JStr].value
    val batchKey = StubKeyService().batchDataKey().plaintextDataKey
    val record = Json.parseObject(new String(Crypto.decrypt(batchKey, iv, dbObject), "UTF-8"))
    assert(record.has("_id"))
    assert(record.get("postcode").contains(JStr("SM5 2LE")))
  }

  test("versions become cell timestamps: base records carry incrementing millis") {
    val versions = sinkStore.scanTable("database_1:collection_1").map(_._2).toSet
    (0 until 10).foreach(j => assert(versions.contains(1543676462000L + j)))
    assert(versions.contains(1330897436000L)) // removed
    assert(versions.contains(1393763696000L)) // archived
    assert(versions.contains(DateFmt.EpochMillis)) // no timestamps at all
  }

  /** Two files that pass the catalog but cannot be decoded. */
  private def writeUndecodableFiles(dir: JPath): Unit = {
    def meta: String =
      s"""{"keyEncryptionKeyId": "k", "plaintextDatakey": "$fileKeyB64", """ +
        s""""encryptedEncryptionKey": "e", "initialisationVector": "${Base64.getEncoder.encodeToString(new Array[Byte](16))}"}"""
    // garbage bytes: AES-CTR "decrypts" them, gzip rejects the magic
    Files.write(dir.resolve("bad-db.garbage-coll.0001.json.gz.enc"), Array.tabulate[Byte](64)(_.toByte))
    Files.write(dir.resolve("bad-db.garbage-coll.0001.json.encryption.json"), meta.getBytes("UTF-8"))
    // zero-byte data with live metadata passes S4 (only both-empty pairs
    // drop) and dies in the GZIP header read — the classic poison file
    Files.write(dir.resolve("bad-db.empty-coll.0001.json.gz.enc"), Array.emptyByteArray)
    Files.write(dir.resolve("bad-db.empty-coll.0001.json.encryption.json"), meta.getBytes("UTF-8"))
  }

  test("undecodable files skip with marker rows instead of failing the run (per-file continue)") {
    val dir = Files.createTempDirectory("graft-ingest-bad")
    Fixtures.writeDumpFile(dir, "database-1", "collection-1", 1)
    writeUndecodableFiles(dir)

    val r = IngestPipeline.run(spark, Seq(dir.toString),
      dir.resolve("sink").toString, dir.resolve("manifests").toString,
      StubKeyService(), identity, ivStrategy = IvStrategy.Deterministic("bad"))
    assert(r.filesProcessed == 3)
    assert(r.unreadableFiles == 2)
    assert(r.recordsProcessed == 18) // the good file decodes fully
    assert(r.put == 18)
  }

  test("ingest gives each file its own partition") {
    Seq(2, 4, 5).foreach { n =>
      val dir = Files.createTempDirectory(s"graft-ingest-slices-$n")
      (1 to n).foreach(i => Fixtures.writeDumpFile(dir, "database-1", s"collection-$i", 1))
      val rows = IngestPipeline.ingest(spark, IngestPipeline.planTasks(spark, Seq(dir.toString)),
        StubKeyService(), identity)
      val filesByPartition = rows.select(spark_partition_id().as("p"), col("dataPath")).distinct()
        .groupBy("p").count().collect().map(_.getLong(1))
      assert(rows.rdd.getNumPartitions == n, s"$n files")
      assert(filesByPartition.toSeq == Seq.fill(n)(1L), s"$n files")
    }
  }

  // ------------------------------------------------ one-pass runs

  /** The spec's three fixtures plus the two undecodable files. */
  private lazy val mixed: JPath = {
    val dir = Files.createTempDirectory("graft-ingest-mixed")
    Fixtures.writeDumpFile(dir, "database-1", "collection-1", 1)
    Fixtures.writeDumpFile(dir, "database-1", "collection-thirtyone", 1)
    Fixtures.writeDumpFile(dir, "agent_core", "agentToDoArchive", 1)
    writeUndecodableFiles(dir)
    dir
  }

  /** Runs over [[mixed]] into a FileStore at `out/cells` and manifests
    * at `out/manifests`. */
  private def runMixed(out: JPath, runMode: RunMode = RunMode.ImportAndManifest): RunResult =
    IngestPipeline.run(spark, Seq(mixed.toString), out.resolve("cells").toString,
      out.resolve("manifests").toString, StubKeyService(), identity,
      timeFilter = timeFilter, ivStrategy = IvStrategy.Deterministic("spec"), runMode = runMode)

  /** Manifest name → bytes, without Hadoop's .crc sidecars. */
  private def manifests(out: JPath): Map[String, Seq[Byte]] = {
    val dir = out.resolve("manifests").toFile
    Option(dir.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
  }

  /** Stage count of each job `body` starts. The listener bus delivers
    * events in order, so once a marker job started after `body` is
    * seen, so is every job `body` started. */
  private def jobsStartedBy(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val marked = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.marker") != null)) marked.countDown()
        else stages.add(e.stageInfos.size)
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.spec.marker", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.spec.marker", null)
      assert(marked.await(30, java.util.concurrent.TimeUnit.SECONDS), "marker job never seen")
    } finally sc.removeSparkListener(listener)
    stages.asScala.toSeq
  }

  test("push run: one narrow job, no cache, the Dataset chain's counts and manifests, idempotent re-run") {
    val pushOut = Files.createTempDirectory("graft-ingest-push-out")
    var push: RunResult = null
    val jobs = jobsStartedBy { push = runMixed(pushOut) }
    assert(jobs == Seq(1)) // one job of one stage: no exchange
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(push.filesProcessed == 5 && push.unreadableFiles == 2 && push.put == 48)

    // the Dataset chain over the same files: counts from `ingest`,
    // manifests from `writeManifests`
    val sp = spark; import sp.implicits._
    val tasks = IngestPipeline.planTasks(spark, Seq(mixed.toString))
    val rows = IngestPipeline.ingest(spark, tasks, StubKeyService(), identity, timeFilter,
      IvStrategy.Deterministic("spec"))
    val byStatus = rows.groupByKey(r => (r.status, r.filterStatus)).count().collect().toMap
    def total(status: String): Long = byStatus.collect { case ((`status`, _), n) => n }.sum
    assert(push == RunResult(put = byStatus((Status.Ok, "DoNotFilter")),
      filesProcessed = tasks.size.toLong,
      recordsProcessed = total(Status.Ok),
      skippedMissingId = total(Status.MissingId),
      skippedMalformed = total(Status.Malformed),
      tooEarly = byStatus((Status.Ok, "FilterTooEarly")),
      tooLate = byStatus((Status.Ok, "FilterTooLate")),
      unreadableFiles = total(Status.UnreadableFile)))
    val chainOut = Files.createTempDirectory("graft-ingest-chain-out")
    IngestPipeline.writeManifests(rows, ManifestStore.HadoopFs(chainOut.resolve("manifests").toString,
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)))
    assert(manifests(pushOut).keySet == Set(
      "db.database-1.collection-1-000001.csv",
      "db.database-1.collection-thirtyone-000001.csv",
      "db.agent_core.agentToDoArchive-000001.csv"))
    assert(manifests(pushOut) == manifests(chainOut))

    val store = FileStore(pushOut.resolve("cells").toString)
    assert(store.scanTable("database_1:collection_1").size == 16)

    // re-run: the existence skip drops every cell (F5 idempotence)
    val again = runMixed(pushOut)
    assert(again.put == 0)
    assert(again.filteredExisting == 48)
  }

  test("push run modes: import uploads no manifest, manifest creates no table") {
    val importOut = Files.createTempDirectory("graft-ingest-import-out")
    val imported = runMixed(importOut, RunMode.Import)
    assert(imported.put == 48)
    assert(FileStore(importOut.resolve("cells").toString).scanTable("agent_core:agentToDo").size == 16)
    assert(!Files.exists(importOut.resolve("manifests")))

    val manifestOut = Files.createTempDirectory("graft-ingest-manifest-out")
    val manifested = runMixed(manifestOut, RunMode.Manifest)
    assert(manifested.put == 0 && manifested.filteredExisting == 0)
    assert(manifested.recordsProcessed == imported.recordsProcessed)
    assert(!Files.exists(manifestOut.resolve("cells")))
    assert(manifests(manifestOut).size == 3)
  }

  test("groupedByBytes batches under the cap with at least one element each (W1)") {
    val items = Seq.fill(10)("x" * 30)
    val batches = IngestPipeline.groupedByBytes(items.iterator, 100L)(_.length.toLong).toSeq
    assert(batches.flatten == items)
    assert(batches.forall(_.nonEmpty))
    assert(batches.forall(b => b.map(_.length).sum <= 120))
    val single = IngestPipeline.groupedByBytes(Seq("oversized-element").iterator, 1L)(_.length.toLong).toSeq
    assert(single == Seq(Seq("oversized-element")))
  }
}

package graft.ingest

import graft.core.{DateFmt, Envelope, RecordProcessor}
import graft.ingest.IngestPipeline.IvStrategy
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.{Files, Path => JPath}

/** The s3-seam proof the round-8 verdict asked for: the catalog listing
  * and the manifest upload run against a REAL FileSystem implementation
  * other than file:// (the s3stub scheme), end to end through the whole
  * pipeline, landing the golden manifest byte-identically. What this
  * pins: every path on the S3-shaped seams resolves through
  * `Path.getFileSystem` with the configured scheme — nothing shortcuts
  * to java.io against a raw string — so pointing the same code at
  * s3a:// is a configuration change, not a code change. */
class S3SeamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var in: JPath = _
  private var out: JPath = _
  private val identity = Envelope.RunIdentity("uow", "trace", "test", () => new java.util.Date(0L))

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("s3-seam-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3stub.impl", classOf[S3StubFileSystem].getName)
    in = Files.createTempDirectory("graft-s3stub-in")
    out = Files.createTempDirectory("graft-s3stub-out")
    Fixtures.writeDumpFile(in, "database-1", "collection-1", 1)
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(in.toFile)
    org.apache.commons.io.FileUtils.deleteQuietly(out.toFile)
  }

  test("catalog listing resolves the s3stub scheme: pairs found, scheme-qualified, metadata readable") {
    val pairs = Catalog.listPairs(spark, Seq(s"s3stub://$in"))
    assert(pairs.size == 1)
    val p = pairs.head
    assert(p.dataPath.startsWith("s3stub:/"), p.dataPath)
    assert(p.metadataPath.startsWith("s3stub:/"), p.metadataPath)
    assert(p.dataSize > 0 && p.metadataSize > 0)
    // executor-shaped metadata read through the same scheme
    val meta = Catalog.readMetadata(spark, p.metadataPath)
    assert(meta.initialisationVector.nonEmpty && meta.keyEncryptionKeyId.nonEmpty)
  }

  test("catalog listing of a flat prefix lists its directory once") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3count.impl", classOf[CountingStubFileSystem].getName)
    CountingStubFileSystem.listed.set(0)
    assert(Catalog.listPairs(spark, Seq(s"s3count://$in")).size == 1)
    assert(CountingStubFileSystem.listed.get() == 1, s"${CountingStubFileSystem.listed.get()} listings")
  }

  test("full pipeline over s3stub listing + s3stub manifest upload lands the golden manifest") {
    val manifestDir = s"s3stub://$out/manifests"
    val r = IngestPipeline.run(spark,
      Seq(s"s3stub://$in"),
      out.resolve("table-sink").toString,
      manifestDir,
      StubKeyService(),
      identity,
      timeFilter = RecordProcessor.TimeFilter(
        earlierThan = DateFmt.timestampAsLong("2010-01-01T00:00:00.000Z"),
        laterThan = DateFmt.timestampAsLong("2019-12-31T23:59:59.999Z")),
      ivStrategy = IvStrategy.Deterministic("spec"),
      skipExisting = true)
    assert(r.filesProcessed == 1 && r.put == 16)
    assert(FileStore(out.resolve("table-sink").toString).scanTable("database_1:collection_1").size == 16)
    // the upload landed under the stub scheme's backing store with the
    // reference naming (UCHistoricDataImporterSpec.kt:223-238) and no
    // checksum sidecars (an S3 object has none)
    val files = new java.io.File(out.resolve("manifests").toString).listFiles().map(_.getName).toSet
    assert(files == Set("db.database-1.collection-1-000001.csv"), files.toString)
    val lines = Files.readAllLines(out.resolve("manifests").resolve("db.database-1.collection-1-000001.csv"))
    assert(lines.size == 18)
    assert(lines.get(0) ==
      "\"{\"\"declarationId\"\":\"\"database-1.collection-1.0001-1\"\",\"\"someId\"\":\"\"RANDOM_GUID\"\"}\"|1543676462000|database-1|collection-1|IMPORT|HDI|" +
      "\"{\"\"declarationId\"\":\"\"database-1.collection-1.0001-1\"\",\"\"someId\"\":\"\"RANDOM_GUID\"\"}\"|MONGO_IMPORT")
  }

  test("every stream the import opens through the FileSystem seam is closed") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3count.impl", classOf[CountingStubFileSystem].getName)
    CountingStubFileSystem.opened.set(0)
    CountingStubFileSystem.closed.set(0)
    val r = IngestPipeline.run(spark,
      Seq(s"s3count://$in"),
      out.resolve("count-sink").toString,
      out.resolve("count-manifests").toString,
      StubKeyService(),
      identity,
      ivStrategy = IvStrategy.Deterministic("spec"))
    assert(r.filesProcessed == 1 && r.put > 0)
    val opened = CountingStubFileSystem.opened.get()
    assert(opened >= 2, s"the data file and its metadata sidecar open through the seam: $opened")
    assert(CountingStubFileSystem.closed.get() == opened,
      s"${CountingStubFileSystem.closed.get()} of $opened opened streams closed")
  }
}

/** The s3stub FileSystem under its own scheme (`s3count://`), counting
  * its directory listings, the input streams it opens and the ones
  * closed. */
class CountingStubFileSystem extends S3StubFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}
  override def getScheme: String = "s3count"
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingStubFileSystem.listed.incrementAndGet()
    super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(f, bufferSize)
    CountingStubFileSystem.opened.incrementAndGet()
    new FSDataInputStream(in.getWrappedStream) {
      private val once = new java.util.concurrent.atomic.AtomicBoolean(false)
      override def close(): Unit = {
        if (once.compareAndSet(false, true)) CountingStubFileSystem.closed.incrementAndGet()
        super.close()
      }
    }
  }
}

object CountingStubFileSystem {
  val listed = new java.util.concurrent.atomic.AtomicLong(0)
  val opened = new java.util.concurrent.atomic.AtomicLong(0)
  val closed = new java.util.concurrent.atomic.AtomicLong(0)
}

package graft.ingest

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.core.Envelope
import java.net.{InetAddress, InetSocketAddress}
import java.nio.file.{Files, Path => JPath}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** What a local import costs the operating system and the key service:
  * no child process (Hadoop's local FileSystem runs `ls -ld` and `chmod`
  * as processes when native Hadoop is absent), and one key-service
  * client for every task of the JVM. */
class ImportProcessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var tmp: JPath = _
  private var dks: HttpServer = _
  private val identity = Envelope.RunIdentity("uow", "trace", "test", () => new java.util.Date(0L))

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]").appName("import-process-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tmp = Files.createTempDirectory("graft-import-process")
    Files.createDirectories(tmp.resolve("in"))
    (1 to 4).foreach(n => Fixtures.writeDumpFile(tmp.resolve("in"), "database-1", "collection-1", n))
    dks = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 16)
    dks.createContext("/datakey", (ex: HttpExchange) => try {
      val body = (s"""{"dataKeyEncryptionKeyId": "k1", "plaintextDataKey": "${Fixtures.fileKeyB64}", """ +
        """"ciphertextDataKey": "c1"}""").getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
    } finally ex.close())
    dks.start()
  }

  override def afterAll(): Unit = {
    if (dks != null) dks.stop(0)
    if (spark != null) spark.stop()
  }

  /** The commands of every process the JVM starts while `body` runs, as
    * a Flight Recorder `jdk.ProcessStart` recording sees them. */
  private def processesStarted(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      val file = Files.createTempFile(tmp, "process", ".jfr")
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    } finally rec.close()
  }

  private def runImport(keys: KeyService, out: String): IngestPipeline.RunResult =
    IngestPipeline.run(spark, Seq(tmp.resolve("in").toString), tmp.resolve(out).resolve("store").toString,
      tmp.resolve(out).resolve("manifests").toString, keys, identity)

  test("the process recording sees a process this JVM starts") {
    val seen = processesStarted(new ProcessBuilder("true").start().waitFor())
    assert(seen.exists(_.contains("true")), s"$seen")
  }

  test("a local import with manifests starts no child process, and its tasks share one DKS client") {
    ImportProcessSpec.clientsSeen.clear()
    val keys = ClientProbe(HttpKeyService(s"http://127.0.0.1:${dks.getAddress.getPort}", Retry.Policy.immediate))
    var result: IngestPipeline.RunResult = null
    val seen = processesStarted { result = runImport(keys, "run") }
    assert(result.filesProcessed == 4 && result.put > 0, s"$result")
    val manifests = tmp.resolve("run").resolve("manifests").toFile.list().toSeq
    assert(manifests.size == 4 && !manifests.exists(_.endsWith(".crc")), s"$manifests")
    assert(seen.isEmpty, s"child processes: $seen")
    assert(ImportProcessSpec.clientsSeen.size == 1,
      s"4 file tasks built ${ImportProcessSpec.clientsSeen.size} clients")
  }
}

object ImportProcessSpec {
  /** identity hashes of the HTTP clients the import's tasks sent through */
  val clientsSeen: java.util.Set[Int] = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
}

/** Records which client each deserialized task copy of `inner` holds. */
final case class ClientProbe(inner: HttpKeyService) extends KeyService {
  override def decryptKey(keyId: String, encryptedKey: String): String = inner.decryptKey(keyId, encryptedKey)
  override def batchDataKey(): Envelope.DataKeyResult = {
    ImportProcessSpec.clientsSeen.add(System.identityHashCode(inner.client))
    inner.batchDataKey()
  }
}

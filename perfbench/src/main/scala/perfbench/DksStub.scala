package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** In-process data-key service for `HttpKeyService`, plain HTTP on the
  * loopback interface:
  *
  *   GET  /datakey                           → the run's batch key
  *   POST /datakey/actions/decrypt?keyId=…   → body reversed, base64
  *
  * Decryption mirrors the dump generator's key wrapping (the encrypted
  * key is the data key's bytes reversed). Every request is counted; at
  * most four handler threads run.
  */
final class DksStub(batchKey: Array[Byte]) extends AutoCloseable {
  val requests = new AtomicLong
  val batchKeyRequests = new AtomicLong
  val decryptRequests = new AtomicLong

  val batchKeyBase64: String = Base64.getEncoder.encodeToString(batchKey)
  val batchKeyCipherBase64: String = Base64.getEncoder.encodeToString(batchKey.reverse)
  val batchKeyId = "perfbench:batch"

  private val pool = Executors.newFixedThreadPool(4, (r: Runnable) => {
    val t = new Thread(r, "dks-stub"); t.setDaemon(true); t
  })
  private val server = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 64)
  server.setExecutor(pool)
  server.createContext("/datakey", (ex: HttpExchange) => handle(ex))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def handle(ex: HttpExchange): Unit =
    try {
      requests.incrementAndGet()
      val path = ex.getRequestURI.getPath
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      if (ex.getRequestMethod == "GET" && path == "/datakey") {
        batchKeyRequests.incrementAndGet()
        respond(ex, 201, s"""{"dataKeyEncryptionKeyId": "$batchKeyId", "plaintextDataKey": "$batchKeyBase64", """ +
          s""""ciphertextDataKey": "$batchKeyCipherBase64"}""")
      } else if (ex.getRequestMethod == "POST" && path == "/datakey/actions/decrypt") {
        decryptRequests.incrementAndGet()
        val plain = scala.util.Try(Base64.getEncoder.encodeToString(Base64.getDecoder.decode(body.trim).reverse))
        plain.toOption.filter(_ => body.trim.nonEmpty) match {
          case Some(p) => respond(ex, 200, s"""{"dataKeyId": "k", "plaintextDataKey": "$p"}""")
          case None => respond(ex, 400, """{"error": "undecodable key"}""")
        }
      } else respond(ex, 404, "{}")
    } finally ex.close()

  private def respond(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }

  override def close(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

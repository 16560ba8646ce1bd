package graft.ingest

import graft.core.Envelope.DataKeyResult
import graft.core.{JObj, JStr, Json}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

/** E2/E3 — HTTP(S) data-key service client (reference
  * HttpKeyService.kt:30-121):
  *
  *   GET  <url>/datakey                         → fresh batch key JSON
  *   POST <url>/datakey/actions/decrypt?keyId=… (body = encryptedKey)
  *                                              → plaintext key
  *
  * HTTP 400 on decrypt is a hard [[Retry.FatalException]] (a bad key
  * will never start working — HttpKeyService.kt:62-66); anything else
  * retries under the DKS policy (5 attempts, 1 s ×2 backoff).
  * Decrypted keys cache per JVM keyed `encryptedKey/keyId`, so on an
  * executor every task of a stage reuses one DKS round-trip per file
  * key — the reference's cache, at executor scope.
  *
  * MUTUAL TLS (the reference's deployment posture —
  * HttpKeyService.kt:44-50 wires an SSLContext with client certificates
  * from the truststores.sh-provisioned keystore/truststore pair): pass
  * a [[HttpKeyService.TlsConfig]] holding keystore (client identity)
  * and truststore (server trust) paths — both PKCS12 — and the client
  * presents its certificate during the handshake. The config carries
  * only paths and passwords, so the case class stays
  * serialization-safe; the SSLContext is built with the client. A DKS
  * that requires client auth rejects a certificate-less caller at the
  * handshake, which surfaces as a retried-then-thrown connection
  * failure (TlsSeamSpec pins both directions).
  *
  * The class holds no client state across serialization: every copy
  * of a service on one JVM sends through the same shared client —
  * never call this from a SQL expression.
  */
final case class HttpKeyService(baseUrl: String,
                                policy: Retry.Policy = Retry.Policy.dks,
                                timeoutMs: Long = 10000L,
                                tls: Option[HttpKeyService.TlsConfig] = None) extends KeyService {

  private[ingest] def client: HttpClient = HttpKeyService.clients.computeIfAbsent((timeoutMs, tls), _ => {
    val b = HttpClient.newBuilder().connectTimeout(Duration.ofMillis(timeoutMs))
    tls.fold(b)(t => b.sslContext(HttpKeyService.sslContext(
      keystore = Some((t.keystorePath, t.keystorePassword)),
      truststore = Some((t.truststorePath, t.truststorePassword))))).build()
  })

  override def decryptKey(keyId: String, encryptedKey: String): String = {
    val cacheKey = s"$encryptedKey/$keyId"
    HttpKeyService.cache.computeIfAbsent(cacheKey, _ =>
      Retry.withRetry(policy, s"DKS decrypt $keyId") {
        val uri = URI.create(s"$baseUrl/datakey/actions/decrypt?keyId=${java.net.URLEncoder.encode(keyId, "UTF-8")}")
        val req = HttpRequest.newBuilder(uri)
          .timeout(Duration.ofMillis(timeoutMs))
          .POST(HttpRequest.BodyPublishers.ofString(encryptedKey, StandardCharsets.UTF_8))
          .build()
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        resp.statusCode() match {
          case 200 | 201 =>
            str(Json.parseObject(resp.body()), "plaintextDataKey")
          case 400 =>
            throw new Retry.FatalException(s"DKS rejected key $keyId (HTTP 400)")
          case other =>
            throw new RuntimeException(s"DKS decrypt returned HTTP $other")
        }
      })
  }

  override def batchDataKey(): DataKeyResult =
    Retry.withRetry(policy, "DKS batch key") {
      val req = HttpRequest.newBuilder(URI.create(s"$baseUrl/datakey"))
        .timeout(Duration.ofMillis(timeoutMs)).GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200 && resp.statusCode() != 201)
        throw new RuntimeException(s"DKS datakey returned HTTP ${resp.statusCode()}")
      val o = Json.parseObject(resp.body())
      DataKeyResult(str(o, "dataKeyEncryptionKeyId"), str(o, "plaintextDataKey"), str(o, "ciphertextDataKey"))
    }

  private def str(o: JObj, k: String): String = o.get(k) match {
    case Some(JStr(s)) => s
    case _ => throw new RuntimeException(s"DKS response missing '$k'")
  }
}

object HttpKeyService {
  /** per-executor (per-JVM) decrypt cache — HttpKeyService.kt:39-41 */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** One client per JVM and (timeout, TLS config), shared by every task's
    * deserialized copy of the service: each new client brings its own
    * selector thread and, with TLS, loads both stores and handshakes. */
  private val clients = new java.util.concurrent.ConcurrentHashMap[(Long, Option[TlsConfig]), HttpClient]()

  /** Mutual-TLS material, by path so the service stays serializable:
    * `keystore` = this client's identity (certificate + private key),
    * `truststore` = the CAs/certs this client accepts from the server —
    * the same split truststores.sh provisions for the reference. */
  final case class TlsConfig(keystorePath: String, keystorePassword: String,
                             truststorePath: String, truststorePassword: String)

  /** SSLContext from optional PKCS12 keystore (identity) and truststore
    * (peer trust) — shared by the client above and any in-process
    * HTTPS test double, so both ends of the mutual-TLS spec exercise
    * the same loading path a production deployment uses. */
  def sslContext(keystore: Option[(String, String)],
                 truststore: Option[(String, String)]): javax.net.ssl.SSLContext = {
    def load(path: String, password: String): java.security.KeyStore = {
      val ks = java.security.KeyStore.getInstance("PKCS12")
      val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
      try ks.load(in, password.toCharArray) finally in.close()
      ks
    }
    val kms = keystore.map { case (p, pw) =>
      val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
        javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
      kmf.init(load(p, pw), pw.toCharArray)
      kmf.getKeyManagers
    }.orNull
    val tms = truststore.map { case (p, pw) =>
      val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
        javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(load(p, pw))
      tmf.getTrustManagers
    }.orNull
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kms, tms, null)
    ctx
  }
}

package graft.sources

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Base64
import javax.crypto.Cipher

import graft.functions.Crypto

/** Envelope data-key resolution (reference: HttpKeyService.kt:43-101).
  *
  * The reference POSTs each (keyId, ciphertextDataKey) pair to an external
  * Data Key Service with a per-key memo cache and exponential-backoff
  * retry. In Spark the cache becomes structural: each distinct
  * `(keyId, cipherTextKey)` pair — a handful per run — costs one call, on
  * the driver (`SnapshotPipeline.resolveKeyPairs`, SURVEY.md §3.2). A
  * delivery run takes the pairs from its collected fresh-file manifest
  * and ships each plaintext key in the manifest rows of the delivery
  * action; the records view collects the distinct pairs from its plan
  * and broadcast-joins the plaintext back. Either way `decrypt` drops the
  * plaintext key once used. The trait is the seam where a real HTTP
  * client would plug in; retry/backoff lives in [[Retry]] so any impl
  * gets it.
  */
trait KeyService extends Serializable {
  /** @return base64 plaintext data key */
  def decryptKey(keyId: String, cipherTextKeyB64: String): String
}

/** Permanent key-decryption failure — the service understood the request
  * and rejected it (HTTP 400). Retrying cannot help; the reference fails
  * the file immediately (HttpKeyService.kt:78-80). */
final class DataKeyDecryptionException(msg: String) extends RuntimeException(msg)

/** Transient key-service failure (non-200/non-400, connect errors) —
  * retryable with backoff (HttpKeyService.kt:81-84). */
final class DataKeyServiceUnavailableException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

/** Retry with exponential backoff (reference defaults: 5 attempts, 1 s,
  * ×2 — HttpKeyService.kt:37-40). `retryable` implements the reference's
  * error taxonomy: a permanent failure (e.g. DKS 400) propagates
  * immediately instead of burning the backoff schedule. */
object Retry {
  def withBackoff[T](attempts: Int = 5, initialDelayMs: Long = 1000,
      multiplier: Double = 2.0,
      retryable: Throwable => Boolean = _ => true,
      /** observability hook, fired once per retried failure (metric
        * counters — snapshot_sender_*_retries families) */
      onRetry: () => Unit = () => ())(
      f: => T): T = {
    require(attempts >= 1, s"attempts must be at least 1, got $attempts")
    var delay = initialDelayMs
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return f
      catch {
        // NonFatal only: OOM/interrupt must propagate immediately, not
        // burn 5 sleep-backoff attempts masking a cancellation
        case scala.util.control.NonFatal(e) if retryable(e) =>
          last = e
          i += 1
          if (i < attempts) {
            onRetry() // only when a retry actually follows — the terminal
                      // failure is a failure, not a retry

            try Thread.sleep(delay)
            catch {
              case ie: InterruptedException =>
                Thread.currentThread().interrupt(); throw ie
            }
            delay = (delay * multiplier).toLong
          }
      }
    }
    throw last
  }
}

/** DKS-shaped HTTP key service (reference HttpKeyService.kt:43-101):
  * POST the base64 ciphertext key to
  * `<base>/datakey/actions/decrypt?keyId=<id>&correlationId=<uuid>`,
  * parse `plaintextDataKey` from the JSON response, with the reference's
  * error taxonomy — 200 = success, 400 = permanent
  * [[DataKeyDecryptionException]] (no retry), anything else (including
  * connect failures) = [[DataKeyServiceUnavailableException]] retried
  * with exponential backoff. Per-JVM memo cache keyed on
  * (ciphertext, keyId), as the reference caches (decryptedKeyCache).
  *
  * The pipeline calls this on the DRIVER only, once per distinct pair of
  * the collected manifest (SnapshotPipeline.resolveKeyPairs, from
  * SnapshotJob's delivery path and records view, or from the
  * stand-alone SnapshotPipeline.resolveKeys stage), so one client
  * instance and one cache see every request of a run. */
final class HttpKeyService(baseUrl: String, maxAttempts: Int = 5,
    initialDelayMs: Long = 1000,
    /** mutual TLS to the DKS — the reference's DKS wire always rides the
      * same SecureHttpClientProvider as the NiFi wire; None = plain HTTP
      * (its insecureHttpClient test profile). */
    tls: Option[TlsConfig] = None,
    /** run counters: DKS retry increments (driver-side — this client is
      * only ever called from resolveKeyPairs on the driver). */
    counters: Option[graft.operators.PipelineMetrics.RunCounters] = None)
  extends KeyService {

  @transient private lazy val client = {
    val b = java.net.http.HttpClient.newBuilder()
    tls.foreach(t => b.sslContext(t.sslContext))
    b.build()
  }
  @transient private lazy val cache =
    new scala.collection.concurrent.TrieMap[String, String]()

  override def decryptKey(keyId: String, cipherTextKeyB64: String): String =
    cache.getOrElseUpdate(s"$cipherTextKeyB64/$keyId",
      Retry.withBackoff(attempts = maxAttempts, initialDelayMs = initialDelayMs,
        retryable = !_.isInstanceOf[DataKeyDecryptionException],
        onRetry = () => counters.foreach(_.dksKeyDecryptionRetries.incrementAndGet())) {
        val correlationId = java.util.UUID.randomUUID().toString
        val url = s"$baseUrl/datakey/actions/decrypt?keyId=" +
          java.net.URLEncoder.encode(keyId, "US-ASCII") +
          s"&correlationId=$correlationId"
        val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .header("Content-Type", "text/plain")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(cipherTextKeyB64))
          .build()
        val resp =
          try client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
          catch { case scala.util.control.NonFatal(e) =>
            throw new DataKeyServiceUnavailableException(
              s"Error contacting data key service: '$e', " +
                s"dks_correlation_id: '$correlationId'", e)
          }
        resp.statusCode() match {
          case 200 =>
            // DataKeyResult JSON ({dataKeyEncryptionKeyId, plaintextDataKey,
            // ciphertextDataKey}); keys are base64 — no escapes — so a
            // field regex is a faithful parser and avoids a JSON dep
            val m = HttpKeyService.PlaintextField.findFirstMatchIn(resp.body())
            m.map(_.group(1)).getOrElse(
              throw new DataKeyServiceUnavailableException(
                s"DKS 200 response without plaintextDataKey, " +
                  s"dks_correlation_id: '$correlationId'"))
          case 400 =>
            throw new DataKeyDecryptionException(
              s"Decrypting encryptedKey: '$cipherTextKeyB64' with " +
                s"keyEncryptionKeyId: '$keyId', dks_correlation_id: " +
                s"'$correlationId' data key service returned status_code: '400'")
          case other =>
            throw new DataKeyServiceUnavailableException(
              s"Decrypting encryptedKey: '$cipherTextKeyB64' with " +
                s"keyEncryptionKeyId: '$keyId', dks_correlation_id: " +
                s"'$correlationId' data key service returned status_code: '$other'")
        }
      })
}

object HttpKeyService {
  private val PlaintextField =
    """"plaintextDataKey"\s*:\s*"([^"]+)"""".r
}

/** Local deterministic stand-in for the DKS: the master key for `keyId`
  * is sha256(keyId) truncated to 16 bytes; the ciphertext data key is
  * AES-ECB(master, plaintextKey). Mirrors envelope encryption honestly
  * while staying self-contained (the real service is an HTTP call —
  * reference HttpKeyService.kt:53-61). */
object LocalKeyService extends KeyService {
  def masterKey(keyId: String): Array[Byte] =
    MessageDigest.getInstance("SHA-256")
      .digest(keyId.getBytes(StandardCharsets.UTF_8)).take(16)

  def encryptKey(keyId: String, plaintextKeyB64: String): String =
    Base64.getEncoder.encodeToString(
      Crypto.aesEcb(Cipher.ENCRYPT_MODE,
        Base64.getDecoder.decode(plaintextKeyB64), masterKey(keyId)))

  override def decryptKey(keyId: String, cipherTextKeyB64: String): String =
    Retry.withBackoff(attempts = 5, initialDelayMs = 1) {
      Base64.getEncoder.encodeToString(
        Crypto.aesEcb(Cipher.DECRYPT_MODE,
          Base64.getDecoder.decode(cipherTextKeyB64), masterKey(keyId)))
    }
}

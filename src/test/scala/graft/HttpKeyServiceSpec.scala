package graft

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DataKeyDecryptionException, HttpKeyService, Retry}

/** Contract tests for the DKS-shaped key service — the reference's error
  * taxonomy (HttpKeyService.kt:67-85): 200 parses plaintextDataKey and
  * caches, 400 is permanent (exactly one attempt), 5xx retries with
  * backoff until success. No Spark needed: key resolution is driver-side. */
class HttpKeyServiceSpec extends AnyFunSuite {

  private final class Dks(statuses: Seq[Int]) {
    val hits = new AtomicInteger(0)
    var lastPath: String = _
    var lastBody: String = _
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val n = hits.getAndIncrement()
      lastPath = ex.getRequestURI.toString
      lastBody = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val status = statuses(math.min(n, statuses.size - 1))
      if (status == 200) {
        val json =
          """{"dataKeyEncryptionKeyId":"kid1","plaintextDataKey":"cGxhaW4=",""" +
            """"ciphertextDataKey":"Y2lwaGVy"}"""
        val bytes = json.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
      } else ex.sendResponseHeaders(status, -1)
      ex.close()
    })
    server.start()
    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
  }

  test("200: decrypts, POSTs ciphertext to the decrypt action, memo-caches") {
    val dks = new Dks(Seq(200))
    try {
      val svc = new HttpKeyService(dks.url, initialDelayMs = 1)
      assert(svc.decryptKey("kid1", "Y2lwaGVy") == "cGxhaW4=")
      assert(dks.lastPath.startsWith("/datakey/actions/decrypt?keyId=kid1"))
      assert(dks.lastPath.contains("correlationId="))
      assert(dks.lastBody == "Y2lwaGVy")
      // second call for the same (key, ciphertext): served from cache
      assert(svc.decryptKey("kid1", "Y2lwaGVy") == "cGxhaW4=")
      assert(dks.hits.get() == 1)
      // different ciphertext → new request
      svc.decryptKey("kid1", "b3RoZXI=")
      assert(dks.hits.get() == 2)
    } finally dks.stop()
  }

  test("400 is permanent: DataKeyDecryptionException after exactly one attempt") {
    val dks = new Dks(Seq(400))
    try {
      val svc = new HttpKeyService(dks.url, maxAttempts = 5, initialDelayMs = 1)
      intercept[DataKeyDecryptionException] {
        svc.decryptKey("kid1", "Y2lwaGVy")
      }
      assert(dks.hits.get() == 1, "a 400 must not be retried")
    } finally dks.stop()
  }

  test("503s are retried with backoff until the service recovers") {
    val dks = new Dks(Seq(503, 503, 200))
    try {
      val svc = new HttpKeyService(dks.url, maxAttempts = 5, initialDelayMs = 1)
      assert(svc.decryptKey("kid1", "Y2lwaGVy") == "cGxhaW4=")
      assert(dks.hits.get() == 3)
    } finally dks.stop()
  }

  test("connect failure counts as unavailable and exhausts retries") {
    // unroutable port on localhost: connection refused immediately
    val svc = new HttpKeyService("http://127.0.0.1:1", maxAttempts = 2,
      initialDelayMs = 1)
    intercept[graft.sources.DataKeyServiceUnavailableException] {
      svc.decryptKey("kid1", "Y2lwaGVy")
    }
  }

  test("attempts below 1 are rejected up front, naming the value") {
    var ran = false
    val e = intercept[IllegalArgumentException] {
      Retry.withBackoff(attempts = 0, initialDelayMs = 1) { ran = true }
    }
    assert(e.getMessage.contains("got 0"))
    assert(!ran)
    // a user setting reaches it the same way
    val svc = new HttpKeyService("http://127.0.0.1:1", maxAttempts = 0)
    intercept[IllegalArgumentException](svc.decryptKey("kid1", "Y2lwaGVy"))
  }
}

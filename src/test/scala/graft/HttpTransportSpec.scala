package graft

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer, HttpsConfigurator, HttpsParameters, HttpsServer}
import javax.net.ssl.SSLContext
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.{SnapshotFixture, TlsConfig}

/** Contract tests for the K1 HTTP transport against a local receiver —
  * mirrors the reference HttpWriterTest.kt matrix: 200 → delivered +
  * marker, non-200 → retried, persistent failure → task fails with no
  * marker; plus the 12-header envelope assertions. */
class HttpTransportSpec extends SparkSuite {
  import spark.implicits._

  /** In-JVM receiver: thread-safe (partitions post concurrently), records
    * bodies+headers by filename header, can fail the first N attempts. */
  private final class Receiver(failFirst: Int = 0, alwaysStatus: Int = 200) {
    val bodies = new ConcurrentHashMap[String, Array[Byte]]()
    val headers = new ConcurrentHashMap[String, Map[String, String]]()
    val hits = new AtomicInteger(0)
    private val perFileHits = new ConcurrentHashMap[String, AtomicInteger]()
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      hits.incrementAndGet()
      val body = ex.getRequestBody.readAllBytes()
      val fname = Option(ex.getRequestHeaders.getFirst("Filename")).getOrElse("?")
      val n = perFileHits.computeIfAbsent(fname, _ => new AtomicInteger(0))
        .incrementAndGet()
      if (alwaysStatus != 200 || n <= failFirst) {
        val status = if (alwaysStatus != 200) alwaysStatus else 503
        ex.sendResponseHeaders(status, -1)
      } else {
        bodies.put(fname, body)
        headers.put(fname, ex.getRequestHeaders.entrySet().asScala
          .map(e => e.getKey.toLowerCase -> e.getValue.get(0)).toMap)
        ex.sendResponseHeaders(200, -1)
      }
      ex.close()
    })
    server.start()
    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"
    def stop(): Unit = server.stop(0)
  }

  test("an interrupted send returns only once the receiver has answered, interrupt kept") {
    val answered = new java.util.concurrent.atomic.AtomicLong
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      Thread.sleep(400)
      answered.set(System.nanoTime())
      ex.sendResponseHeaders(200, -1)
      ex.close()
    })
    server.start()
    try {
      val transport = HttpTransport(s"http://127.0.0.1:${server.getAddress.getPort}/",
        maxAttempts = 1)
      var returned = 0L
      var interruptKept = false
      val sender = new Thread(() => {
        transport.send(DeliveredFile("t", "f.json.gz", "f.txt.gz.enc", Array[Byte](1, 2), Map.empty))
        returned = System.nanoTime()
        interruptKept = Thread.currentThread().isInterrupted
      })
      sender.start()
      Thread.sleep(100)
      sender.interrupt()
      sender.join(10000)
      assert(answered.get > 0 && returned >= answered.get, "send returned before the answer")
      assert(interruptKept)
    } finally server.stop(0)
  }

  private val nifiHeaderNames = Seq("filename", "environment", "export_date",
    "database", "collection", "snapshot_type", "topic", "status_table_name",
    "correlation_id", "s3_prefix", "shutdown_flag", "reprocess_files")

  test("HTTP delivery posts bytes + 12 NiFi headers, FS/HTTP parity, markers") {
    val fixture = "/tmp/graft-fixture-http"
    SnapshotFixture.generate(fixture, SnapshotFixture.defaultTopics(3, 5))
    val expected = Seq(("db.core.claimant", 3L), ("db.database.sent", 1L),
      ("db.database.empty", 0L)).toDF("topic", "FilesExported")

    // FS run = the known-good baseline
    val fsOut = Files.createTempDirectory("http-fs-out").toString
    val fsStatus = Files.createTempDirectory("http-fs-status").toString
    SnapshotJob.run(spark, fixture, fsOut, fsStatus, expected,
      graft.sources.LocalKeyService)

    val rx = new Receiver()
    try {
      val out = Files.createTempDirectory("http-out").toString
      val status = Files.createTempDirectory("http-status").toString
      val conf = SnapshotPipeline.DeliveryConf(correlationId = "http-run")
      SnapshotJob.run(spark, fixture, out, status, expected,
        graft.sources.LocalKeyService, conf,
        transport = Some(HttpTransport(rx.url, initialDelayMs = 1)))

      assert(rx.bodies.size == 4) // 3 claimant + 1 sent
      // byte parity with the FS delivery for every file
      rx.bodies.asScala.foreach { case (fname, bytes) =>
        val topic = rx.headers.get(fname)("topic")
        val fsBytes = Files.readAllBytes(Paths.get(fsOut, topic, fname))
        assert(java.util.Arrays.equals(bytes, fsBytes), s"$fname bytes differ")
      }
      // the full 12-header envelope rides every POST
      rx.headers.asScala.foreach { case (fname, hs) =>
        nifiHeaderNames.foreach(h => assert(hs.contains(h), s"$fname missing $h"))
        assert(hs("correlation_id") == "http-run")
        assert(hs("filename") == fname && fname.endsWith(".json.gz"))
        assert(hs("topic").startsWith("db."))
      }
      // markers written after successful send
      val markers = Paths.get(status).toFile.listFiles()
        .filter(_.getName.endsWith(".finished"))
      assert(markers.length == 4)
    } finally rx.stop()
  }

  test("streaming delivery works over the same HTTP transport seam") {
    val fixture = "/tmp/graft-fixture-http-stream"
    SnapshotFixture.generate(fixture, SnapshotFixture.defaultTopics(2, 5))
    val rx = new Receiver()
    try {
      val out = Files.createTempDirectory("http-stream-out").toString
      val status = Files.createTempDirectory("http-stream-status").toString
      val ckpt = Files.createTempDirectory("http-stream-ckpt").toString
      val q = graft.streaming.SnapshotStream.start(spark, fixture, out, status,
        ckpt, graft.sources.LocalKeyService,
        transport = Some(HttpTransport(rx.url, initialDelayMs = 1)))
      q.awaitTermination(120000)
      assert(rx.bodies.size == 3) // 2 claimant + 1 sent, POSTed not FS-written
      assert(!Paths.get(out, "db.core.claimant").toFile.exists())
      rx.headers.asScala.values.foreach(hs =>
        nifiHeaderNames.foreach(h => assert(hs.contains(h))))
      assert(Paths.get(status).toFile.listFiles()
        .count(_.getName.endsWith(".finished")) == 3)
    } finally rx.stop()
  }

  test("non-200 responses are retried with backoff until success") {
    val rx = new Receiver(failFirst = 2)
    try {
      val status = Files.createTempDirectory("http-retry-status").toString
      val files = Seq(("db.a.b", "f1.json.gz", "f1.txt.gz",
        "payload".getBytes("UTF-8"))).toDF(
        "topic", "outputName", "sourceFileName", "content")
        .withColumn("headers", struct(col("outputName").as("filename")))
      Delivery.deliverVia(files, status,
        HttpTransport(rx.url, maxAttempts = 5, initialDelayMs = 1))
      assert(rx.hits.get() == 3) // 2 × 503 then 200
      assert(new String(rx.bodies.get("f1.json.gz"), "UTF-8") == "payload")
      assert(Files.exists(Paths.get(status, "f1.txt.gz.finished")))
    } finally rx.stop()
  }

  test("end-to-end: key resolution through the HTTP DKS wire") {
    // DKS stub backed by the same derivation the fixture encrypts with —
    // the pipeline only sees the HTTP surface
    val dks = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new AtomicInteger(0)
    dks.createContext("/", (ex: HttpExchange) => {
      hits.incrementAndGet()
      val cipherB64 = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val keyId = ex.getRequestURI.getQuery.split("&")
        .find(_.startsWith("keyId=")).get.stripPrefix("keyId=")
      val plain = graft.sources.LocalKeyService.decryptKey(keyId, cipherB64)
      val body = (s"""{"dataKeyEncryptionKeyId":"$keyId",""" +
        s""""plaintextDataKey":"$plain","ciphertextDataKey":"$cipherB64"}""")
        .getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    dks.start()
    try {
      val fixture = "/tmp/graft-fixture-http-dks"
      SnapshotFixture.generate(fixture, SnapshotFixture.defaultTopics(3, 5))
      val expected = Seq(("db.core.claimant", 3L), ("db.database.sent", 1L))
        .toDF("topic", "FilesExported")
      val out = Files.createTempDirectory("dks-out").toString
      val status = Files.createTempDirectory("dks-status").toString
      val keys = new graft.sources.HttpKeyService(
        s"http://127.0.0.1:${dks.getAddress.getPort}", initialDelayMs = 1)
      val r = SnapshotJob.run(spark, fixture, out, status, expected, keys)
      import spark.implicits._
      assert(r.statuses.filter(col("CollectionStatus") === "Sent").count() == 2)
      // payloads decrypted correctly end-to-end: records parse
      assert(SnapshotJob.records(spark, fixture, keys).count() == 20)
      // key resolution is distinct-per-topic on the driver, memo-cached —
      // 2 topics = 2 DKS calls across BOTH actions, not one per file
      assert(hits.get() == 2, s"expected 2 DKS hits, got ${hits.get()}")
    } finally dks.stop(0)
  }

  // ---- mutual TLS (reference SecureHttpClientProvider.kt:30-80) ----

  /** Self-signed PKI built once per suite with the JDK's keytool: server
    * and client keypairs, cross-imported truststores (server trusts
    * client cert and vice versa), plus a rogue client the server does NOT
    * trust. SAN=IP:127.0.0.1 so the JDK hostname verifier accepts the
    * loopback endpoint. */
  private lazy val pki: String = {
    val dir = Files.createTempDirectory("graft-tls").toString
    val keytool = System.getProperty("java.home") + "/bin/keytool"
    def kt(args: String*): Unit = {
      val p = new ProcessBuilder((keytool +: args): _*)
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor() == 0, s"keytool ${args.head} failed: $out")
    }
    def gen(alias: String, dname: String, san: Option[String]): Unit =
      kt(Seq("-genkeypair", "-alias", alias, "-keyalg", "RSA", "-keysize",
        "2048", "-validity", "2", "-storetype", "PKCS12", "-keystore",
        s"$dir/$alias.p12", "-storepass", "changeit", "-dname", dname) ++
        san.toSeq.flatMap(s => Seq("-ext", s"san=$s")): _*)
    def cross(from: String, into: String): Unit = {
      kt("-exportcert", "-alias", from, "-keystore", s"$dir/$from.p12",
        "-storepass", "changeit", "-file", s"$dir/$from.crt")
      kt("-importcert", "-noprompt", "-alias", from, "-file", s"$dir/$from.crt",
        "-storetype", "PKCS12", "-keystore", s"$dir/$into-trust.p12",
        "-storepass", "changeit")
    }
    gen("server", "CN=127.0.0.1", Some("ip:127.0.0.1"))
    gen("client", "CN=graft-client", None)
    gen("rogue", "CN=graft-rogue", None)
    cross("server", "client") // client-trust.p12 trusts the server
    cross("client", "server") // server-trust.p12 trusts the client
    cross("server", "rogue")  // rogue trusts the server; server NOT the rogue
    dir
  }

  private def tlsConf(alias: String): TlsConfig = TlsConfig(
    identityStore = s"$pki/$alias.p12", identityStorePassword = "changeit",
    trustStore = s"$pki/$alias-trust.p12", trustStorePassword = "changeit")

  /** Client-auth-required configurator. The needClientAuth flag MUST ride
    * an SSLParameters object via setSSLParameters — HttpsServer ignores
    * the field-level setNeedClientAuth on HttpsParameters alone. */
  private def mtlsConfigurator(ssl: SSLContext): HttpsConfigurator =
    new HttpsConfigurator(ssl) {
      override def configure(p: HttpsParameters): Unit = {
        val sp = ssl.getDefaultSSLParameters
        sp.setNeedClientAuth(true)
        p.setSSLParameters(sp)
      }
    }

  /** HTTPS receiver that REQUIRES a client certificate (mutual TLS). */
  private final class TlsReceiver(ssl: SSLContext) {
    val bodies = new ConcurrentHashMap[String, Array[Byte]]()
    val headers = new ConcurrentHashMap[String, Map[String, String]]()
    private val server = HttpsServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setHttpsConfigurator(mtlsConfigurator(ssl))
    server.createContext("/", (ex: HttpExchange) => {
      val body = ex.getRequestBody.readAllBytes()
      val fname = Option(ex.getRequestHeaders.getFirst("Filename")).getOrElse("?")
      bodies.put(fname, body)
      headers.put(fname, ex.getRequestHeaders.entrySet().asScala
        .map(e => e.getKey.toLowerCase -> e.getValue.get(0)).toMap)
      ex.sendResponseHeaders(200, -1)
      ex.close()
    })
    server.start()
    def url: String = s"https://127.0.0.1:${server.getAddress.getPort}/"
    def stop(): Unit = server.stop(0)
  }

  test("mutual-TLS delivery: client cert + truststore, HTTPS/FS byte parity") {
    val fixture = "/tmp/graft-fixture-https"
    SnapshotFixture.generate(fixture, SnapshotFixture.defaultTopics(2, 5))
    val expected = Seq(("db.core.claimant", 2L), ("db.database.sent", 1L))
      .toDF("topic", "FilesExported")
    // FS baseline for byte parity
    val fsOut = Files.createTempDirectory("tls-fs-out").toString
    SnapshotJob.run(spark, fixture, fsOut,
      Files.createTempDirectory("tls-fs-status").toString, expected,
      graft.sources.LocalKeyService)

    val rx = new TlsReceiver(tlsConf("server").sslContext)
    try {
      val status = Files.createTempDirectory("tls-status").toString
      SnapshotJob.run(spark, fixture,
        Files.createTempDirectory("tls-out").toString, status, expected,
        graft.sources.LocalKeyService,
        transport = Some(HttpTransport(rx.url, initialDelayMs = 1,
          tls = Some(tlsConf("client")))))
      assert(rx.bodies.size == 3) // 2 claimant + 1 sent, over mTLS
      rx.bodies.asScala.foreach { case (fname, bytes) =>
        val topic = rx.headers.get(fname)("topic")
        assert(java.util.Arrays.equals(bytes,
          Files.readAllBytes(Paths.get(fsOut, topic, fname))),
          s"$fname bytes differ between FS and mTLS delivery")
      }
      rx.headers.asScala.values.foreach(hs =>
        nifiHeaderNames.foreach(h => assert(hs.contains(h))))
      assert(Paths.get(status).toFile.listFiles()
        .count(_.getName.endsWith(".finished")) == 3)
    } finally rx.stop()
  }

  test("mTLS rejects an untrusted client cert: handshake fails, no marker") {
    val rx = new TlsReceiver(tlsConf("server").sslContext)
    try {
      val status = Files.createTempDirectory("tls-rogue-status").toString
      val files = Seq(("db.a.b", "f1.json.gz", "f1.txt.gz",
        "payload".getBytes("UTF-8"))).toDF(
        "topic", "outputName", "sourceFileName", "content")
        .withColumn("headers", struct(col("outputName").as("filename")))
      intercept[Exception] {
        Delivery.deliverVia(files, status,
          HttpTransport(rx.url, maxAttempts = 2, initialDelayMs = 1,
            tls = Some(tlsConf("rogue"))))
      }
      assert(rx.bodies.isEmpty, "rogue client must never reach the handler")
      assert(!Files.exists(Paths.get(status, "f1.txt.gz.finished")))
    } finally rx.stop()
  }

  test("DKS key resolution over mutual TLS") {
    val dks = HttpsServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    dks.setHttpsConfigurator(mtlsConfigurator(tlsConf("server").sslContext))
    dks.createContext("/", (ex: HttpExchange) => {
      val cipherB64 = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val keyId = ex.getRequestURI.getQuery.split("&")
        .find(_.startsWith("keyId=")).get.stripPrefix("keyId=")
      val plain = graft.sources.LocalKeyService.decryptKey(keyId, cipherB64)
      val body = (s"""{"dataKeyEncryptionKeyId":"$keyId",""" +
        s""""plaintextDataKey":"$plain","ciphertextDataKey":"$cipherB64"}""")
        .getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    dks.start()
    try {
      val keys = new graft.sources.HttpKeyService(
        s"https://127.0.0.1:${dks.getAddress.getPort}", initialDelayMs = 1,
        tls = Some(tlsConf("client")))
      val cipher = graft.sources.LocalKeyService.encryptKey(
        SnapshotFixture.defaultKeyId, SnapshotFixture.dataKeyB64("db.core.claimant"))
      assert(keys.decryptKey(SnapshotFixture.defaultKeyId, cipher) ==
        SnapshotFixture.dataKeyB64("db.core.claimant"))
    } finally dks.stop(0)
  }

  test("persistent failure exhausts retries, fails the job, no marker") {
    val rx = new Receiver(alwaysStatus = 500)
    try {
      val status = Files.createTempDirectory("http-fail-status").toString
      val files = Seq(("db.a.b", "f1.json.gz", "f1.txt.gz",
        "payload".getBytes("UTF-8"))).toDF(
        "topic", "outputName", "sourceFileName", "content")
        .withColumn("headers", struct(col("outputName").as("filename")))
      val e = intercept[Exception] {
        Delivery.deliverVia(files, status,
          HttpTransport(rx.url, maxAttempts = 3, initialDelayMs = 1))
      }
      assert(e.getMessage != null)
      assert(rx.hits.get() >= 3) // all backoff attempts consumed (× task retries)
      assert(!Files.exists(Paths.get(status, "f1.txt.gz.finished")),
        "failed send must not leave a commit marker")
    } finally rx.stop()
  }
}

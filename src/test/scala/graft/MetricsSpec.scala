package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, struct}

import graft.operators.{LocalFsMetricsPusher, LocalFsSnsPublisher,
  MonitoringConf, PipelineMetrics, SnapshotJob}
import graft.sources.{LocalKeyService, SnapshotFixture}

/** The observe-based counter surface (reference A4): scan and delivery
  * metrics are exact and arrive via the QueryExecutionListener. */
class MetricsSpec extends SparkSuite {
  import spark.implicits._

  test("scan + delivery counters reflect the run exactly") {
    val fixtureDir = "/tmp/graft-fixture-metrics"
    SnapshotFixture.generate(fixtureDir, SnapshotFixture.defaultTopics(5, 20))
    val out = Files.createTempDirectory("graft-metrics-out").toString
    val status = Files.createTempDirectory("graft-metrics-status").toString
    val expected = Seq(("db.core.claimant", 5L), ("db.database.sent", 1L),
      ("db.database.empty", 0L)).toDF("topic", "FilesExported")

    val collector = PipelineMetrics.install(spark)
    try {
      SnapshotJob.run(spark, fixtureDir, out, status, expected, LocalKeyService)

      val delivery = collector.await("graft_delivery")
      assert(delivery("files_delivered") == 6) // 5 claimant + 1 sent
      assert(delivery("bytes_delivered") > 0)
      val scan = collector.await("graft_scan")
      assert(scan("files_scanned") == 6)
      assert(scan("files_rejected") == 0)
      assert(scan("files_blocked") == 0)
      assert(scan("bytes_scanned") > 0)
    } finally spark.listenerManager.unregister(collector)
  }

  /** The reference's full Counter/Gauge inventory
    * (MetricsConfiguration.kt:20-93), name for name — the analogue of
    * SnapshotSenderIntegrationTest.kt:138-216's `shouldContainAll` over
    * the pushgateway scrape, plus value assertions for the
    * deterministic counters. */
  private val referenceNames = Seq(
    "snapshot_sender_files_posted_successfully",
    "snapshot_sender_files_retried_post",
    "snapshot_sender_rejected_files",
    "snapshot_sender_blocked_topic_files",
    "snapshot_sender_items_read_from_s3",
    "snapshot_sender_completed_non_empty_collections",
    "snapshot_sender_completed_empty_collections",
    "snapshot_sender_incremented_files_sent",
    "snapshot_sender_successful_runs",
    "snapshot_sender_failed_runs",
    "snapshot_sender_dks_keys_decrypted",
    "snapshot_sender_dks_key_decryption_retries",
    "snapshot_sender_monitoring_messages_sent",
    "snapshot_sender_success_files_sent",
    "snapshot_sender_success_file_sending_retries",
    "snapshot_sender_failed_files",
    "snapshot_sender_failed_success_files",
    "snapshot_sender_failed_collections",
    "snapshot_sender_running_applications")

  test("final push carries the reference's 19-metric inventory, name for name") {
    val fixtureDir = "/tmp/graft-fixture-metrics-inv"
    SnapshotFixture.generate(fixtureDir, SnapshotFixture.defaultTopics(5, 20))
    val out = Files.createTempDirectory("graft-inv-out").toString
    val status = Files.createTempDirectory("graft-inv-status").toString
    val gateway = Files.createTempDirectory("graft-inv-gateway").toString
    val sns = Files.createTempDirectory("graft-inv-sns").toString
    val expected = Seq(("db.core.claimant", 5L), ("db.database.sent", 1L),
      ("db.database.empty", 0L)).toDF("topic", "FilesExported")

    val collector = PipelineMetrics.install(spark)
    val counters = new PipelineMetrics.RunCounters(spark)
    val conf = graft.operators.SnapshotPipeline.DeliveryConf(
      correlationId = "inv-run")
    try SnapshotJob.run(spark, fixtureDir, out, status, expected, LocalKeyService,
      conf, monitoring = Some(MonitoringConf(
        sns = LocalFsSnsPublisher(sns), topicArn = "arn:test:inv",
        pusher = Some(LocalFsMetricsPusher(gateway)),
        metrics = Some(collector), counters = Some(counters))))
    finally spark.listenerManager.unregister(collector)

    val pushed = Files.list(java.nio.file.Paths.get(gateway)).iterator()
      .next()
    val lines = Files.readAllLines(pushed)
    val metrics = lines.toArray.map(_.toString.split(" "))
      .map(a => a(0) -> a(1).toLong).toMap

    referenceNames.foreach(n =>
      assert(metrics.contains(n), s"inventory missing $n"))
    assert(metrics("snapshot_sender_items_read_from_s3") == 6)
    assert(metrics("snapshot_sender_files_posted_successfully") == 6)
    assert(metrics("snapshot_sender_incremented_files_sent") == 6)
    assert(metrics("snapshot_sender_completed_non_empty_collections") == 2)
    assert(metrics("snapshot_sender_completed_empty_collections") == 1)
    assert(metrics("snapshot_sender_failed_collections") == 0)
    assert(metrics("snapshot_sender_successful_runs") == 1)
    assert(metrics("snapshot_sender_failed_runs") == 0)
    assert(metrics("snapshot_sender_dks_keys_decrypted") == 2) // 2 topics w/ files
    assert(metrics("snapshot_sender_monitoring_messages_sent") == 1)
    assert(metrics("snapshot_sender_success_files_sent") == 3) // 2 Sent + 1 Received
    assert(metrics("snapshot_sender_rejected_files") == 0)
    assert(metrics("snapshot_sender_blocked_topic_files") == 0)
    // the gauge is live during the run; the final push happens inside it
    assert(metrics("snapshot_sender_running_applications") == 1)
    // happy path: no retries anywhere
    assert(metrics("snapshot_sender_files_retried_post") == 0)
    assert(metrics("snapshot_sender_failed_files") == 0)
    // exactly one SNS message landed
    assert(Files.list(java.nio.file.Paths.get(sns)).count() == 1)
  }

  test("post retries land in the retried counter via the accumulator") {
    // HttpTransport drives Retry with the onRetry hook; a receiver that
    // 503s the first two attempts yields exactly 2 increments
    import java.net.InetSocketAddress
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import java.util.concurrent.atomic.AtomicInteger
    val hits = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      val n = hits.incrementAndGet()
      ex.sendResponseHeaders(if (n <= 2) 503 else 200, -1)
      ex.close()
    })
    server.start()
    try {
      val counters = new PipelineMetrics.RunCounters(spark)
      val status = Files.createTempDirectory("graft-retry-status").toString
      val files = Seq(("db.a.b", "f1.json.gz", "f1.txt.gz",
        "payload".getBytes("UTF-8"))).toDF(
        "topic", "outputName", "sourceFileName", "content")
        .withColumn("headers", struct(col("outputName").as("filename")))
      graft.operators.Delivery.deliverVia(files, status,
        graft.operators.HttpTransport(
          s"http://127.0.0.1:${server.getAddress.getPort}/",
          initialDelayMs = 1, counters = Some(counters)))
      assert(counters.filesRetriedPost.value == 2)
      assert(counters.failedFiles.value == 0)
    } finally server.stop(0)
  }
}

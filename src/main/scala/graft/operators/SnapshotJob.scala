package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{EncryptedSnapshotSource, KeyService}
import graft.operators.SnapshotPipeline._

/** End-to-end snapshot delivery run (reference job lifecycle — SURVEY.md
  * §3.1): scan → topic parse/quarantine → finished anti-join → key
  * resolution → decrypt → blocked-topic split → headers → deliver +
  * markers → status aggregation → completion rollup.
  *
  * Returns the per-collection status DataFrame; side effects are the
  * delivered files, `.finished` markers and success indicators under
  * `outDir`/`statusDir`.
  */
object SnapshotJob {

  final case class RunResult(
      statuses: DataFrame,
      completion: DataFrame,
      quarantined: Long,
      blocked: Long)

  /** `expected` = (topic, FilesExported) — the external export manifest
    * (DynamoDB's FilesExported in the reference, environment.sh:68-117). */
  def run(
      spark: SparkSession,
      inputDir: String,
      outDir: String,
      statusDir: String,
      expected: DataFrame,
      keys: KeyService,
      conf: DeliveryConf = DeliveryConf(),
      /** K1 transport override: None → local-FS delivery into `outDir`;
        * Some(HttpTransport(url)) → the reference's NiFi POST wire. */
      transport: Option[DeliveryTransport] = None,
      /** K5/K6 after-run block: monitoring publish + final metrics push
        * (JobCompletionNotificationListener semantics, incl. heartbeat
        * skip). None → no monitoring side effects. */
      monitoring: Option[MonitoringConf] = None): RunResult = {
    val counters = monitoring.flatMap(_.counters)
    counters.foreach(_.runningApplications.incrementAndGet())
    try runInner(spark, inputDir, outDir, statusDir, expected, keys, conf,
      transport, monitoring, counters)
    finally counters.foreach(_.runningApplications.decrementAndGet())
  }

  private def runInner(
      spark: SparkSession,
      inputDir: String,
      outDir: String,
      statusDir: String,
      expected: DataFrame,
      keys: KeyService,
      conf: DeliveryConf,
      transport: Option[DeliveryTransport],
      monitoring: Option[MonitoringConf],
      counters: Option[PipelineMetrics.RunCounters]): RunResult = {

    val scan = Observation("graft_scan")
    val scanned = PipelineMetrics.observeScan(
      withTopic(EncryptedSnapshotSource.read(spark, inputDir)),
      conf.blockedTopics, scan)
    val (valid, rejected) = quarantine(scanned)
    if (conf.strict) {
      val bad = rejected.select(col("fileName")).limit(5)
        .collect().map(_.getString(0))
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"strict mode: unparseable snapshot filenames: ${bad.mkString(", ")}")
    }
    val (allowed, _) = splitBlockedTopics(valid, conf.blockedTopics)

    val fresh = filterFinished(allowed,
      Delivery.finishedMarkers(spark, statusDir), conf.reprocessFiles)

    val decrypted = decrypt(resolveKeys(fresh, keys, counters))
    val ready = PipelineMetrics.observeDelivery(nifiHeaders(decrypted, conf))

    Delivery.deliverVia(ready, statusDir,
      transport.getOrElse(LocalFsTransport(outDir)))
    // the scan has run by now: read its counters before monitoring does
    val counts = PipelineMetrics.scanCounts(scanned, conf.blockedTopics, scan)

    // counts derived from the marker commit log, not from this run's rows:
    // re-runs and task retries stay exactly-once-observable.
    val sent = Delivery.sentCounts(Delivery.finishedMarkers(spark, statusDir))
    // statuses are tiny but consumed by 4 actions → cache once (tracked:
    // recomputing after a caller's OperatorCaches.release() is cheap)
    val statuses = OperatorCaches.track(Delivery
      .collectionStatus(expected, sent, conf.blockedTopics).cache())
    val successFiles =
      Delivery.writeSuccessIndicators(statuses, outDir, counters)
    counters.foreach(_.successFilesSent.addAndGet(successFiles.size.toLong))
    conf.statusTable.foreach(dir =>
      Delivery.upsertStatuses(statuses, dir, conf.correlationId))
    val completion = Delivery.runCompletion(statuses, conf.correlationId)
    monitoring.foreach(Monitoring.afterRun(_, conf, completion, Some(statuses)))

    RunResult(statuses, completion,
      counts("files_rejected"), counts("files_valid_blocked"))
  }

  /** The analytics view over a snapshot directory: fully decrypted,
    * decompressed, one typed row per MongoDB document. */
  def records(spark: SparkSession, inputDir: String, keys: KeyService): DataFrame = {
    val scanned = withTopic(EncryptedSnapshotSource.read(spark, inputDir))
    val (valid, _) = quarantine(scanned)
    parseRecords(explodeRecords(decrypt(resolveKeys(valid, keys))))
  }
}

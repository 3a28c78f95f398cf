package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.sources.{EncryptedSnapshotSource, KeyService}
import graft.operators.SnapshotPipeline._

/** End-to-end snapshot delivery run (reference job lifecycle — SURVEY.md
  * §3.1): scan → topic parse/quarantine → blocked-topic split → finished
  * anti-join → key resolution → decrypt → headers → deliver + markers →
  * status aggregation → completion rollup.
  *
  * Two Spark actions with a driver step between them, as the reference
  * lists the prefix once, skips the finished files and streams each fresh
  * object once:
  *  1. the file pass — everything up to the finished anti-join, with no
  *     `content` column, so no file's bytes are read — collects the
  *     fresh-file manifest (one row per fresh file);
  *  1. on the driver, each distinct data key of the manifest is resolved
  *     once;
  *  1. the delivery action runs over the manifest as a local relation:
  *     each task reads its fresh files' bytes, decrypts, sends and marks
  *     them, and returns the names it committed.
  * The `.finished` markers are listed once, before the file pass; the
  * statuses and the completion rollup are local relations built from
  * that listing and the committed names, so no job runs after delivery.
  * Markers another process writes during a run are not counted.
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

    val finished = Delivery.listFinished(spark, statusDir)
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
      Delivery.finishedFrame(spark, finished), conf.reprocessFiles)
    val expectedRows = expected.collect().toSeq // one row per collection

    val committed = deliverFresh(fresh, statusDir, keys, conf,
      transport.getOrElse(LocalFsTransport(outDir)), counters)
    val counts = PipelineMetrics.scanCounts(scanned, conf.blockedTopics, scan)

    // counts derived from the marker commit log, not from this run's rows:
    // the markers listed before the run plus the ones it committed, which
    // re-runs and task retries leave exactly-once-observable.
    val sent = Delivery.sentCountsOf(spark, (finished ++ committed).distinct)
    val statuses = Delivery.collectionStatusOf(spark, expected.schema,
      expectedRows, sent, conf.blockedTopics)
    val successFiles =
      Delivery.writeSuccessIndicators(statuses, outDir, counters)
    counters.foreach(_.successFilesSent.addAndGet(successFiles.size.toLong))
    conf.statusTable.foreach(dir =>
      Delivery.upsertStatuses(statuses, dir, conf.correlationId))
    val completion = Delivery.runCompletionOf(statuses, conf.correlationId)
    monitoring.foreach { m =>
      // the observe counters reach the collector through the listener bus
      m.metrics.foreach(_.catchUp(spark))
      Monitoring.afterRun(m, conf, completion, Some(statuses))
    }

    RunResult(statuses, completion,
      counts("files_rejected"), counts("files_valid_blocked"))
  }

  /** The delivery path shared by the batch run and every streaming
    * micro-batch: one delivery action over `files`' keyed manifest
    * ([[keyedManifest]]): read each file's bytes
    * ([[EncryptedSnapshotSource.withContent]]) → decrypt → NiFi headers →
    * `graft_delivery<suffix>` observation → send + marker
    * ([[Delivery.deliverVia]]). The session's Hadoop configuration is
    * broadcast once, for the reads and the markers.
    * @return the source names whose send and marker both succeeded */
  private[graft] def deliverFresh(files: DataFrame, statusDir: String,
      keys: KeyService, conf: DeliveryConf, transport: DeliveryTransport,
      counters: Option[PipelineMetrics.RunCounters] = None,
      suffix: String = ""): Seq[String] = {
    val hadoopConf = Delivery.hadoopConf(files.sparkSession)
    val ready = PipelineMetrics.observeDelivery(nifiHeaders(decrypt(
      EncryptedSnapshotSource.withContent(keyedManifest(files, keys, counters),
        hadoopConf)), conf), suffix)
    Delivery.deliverVia(ready, statusDir, transport, hadoopConf)
  }

  /** The analytics view over a snapshot directory: fully decrypted,
    * decompressed, one typed row per MongoDB document. Defining it runs
    * the file pass of [[run]] — a content-free scan → sidecars → topic
    * parse → quarantine → collect the manifest → one key call per
    * distinct data key ([[keyedManifest]]) — so the view itself is one
    * job over the manifest as a local relation: each task reads its
    * files' bytes → decrypt → one row per JSON line → typed record. The
    * columns are those of
    * `parseRecords(explodeRecords(decrypt(resolveKeys(valid, keys))))`. */
  def records(spark: SparkSession, inputDir: String, keys: KeyService): DataFrame = {
    val (valid, _) = quarantine(withTopic(EncryptedSnapshotSource.read(spark, inputDir)))
    parseRecords(explodeRecords(decrypt(EncryptedSnapshotSource.withContent(
      keyedManifest(valid, keys), Delivery.hadoopConf(spark)))))
  }

  /** The manifest's columns, in the order the records view keeps. */
  private val manifestColumns = Seq("dataKeyEncryptionKeyId",
    "cipherTextDataKey", "fileName", "fullPath", "length", "iv", "database",
    "collection", "topic")

  /** Collects `files`' manifest — one row per file, no `content`, so the
    * scan behind `files` reads no bytes — resolves each distinct data key
    * once on the driver ([[SnapshotPipeline.resolveKeyPairs]]), and
    * returns the manifest with `plaintextDataKey` added as a local
    * relation. Spark slices a local relation by row count, one file per
    * row. */
  private def keyedManifest(files: DataFrame, keys: KeyService,
      counters: Option[PipelineMetrics.RunCounters] = None): DataFrame = {
    val manifest = files.select(manifestColumns.map(col): _*)
    val rows = manifest.collect()
    def pair(r: Row) = (r.getString(0), r.getString(1))
    val plain = resolveKeyPairs(rows.map(pair).toSeq, keys, counters)
    files.sparkSession.createDataFrame(
      rows.map(r => Row.fromSeq(r.toSeq :+ plain(pair(r)))).toSeq.asJava,
      manifest.schema.add("plaintextDataKey", StringType))
  }
}

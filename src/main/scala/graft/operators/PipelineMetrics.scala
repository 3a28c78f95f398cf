package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Pipeline observability (reference A4: ~19 Prometheus counters pushed to
  * a gateway, MetricsConfiguration.kt:20-93).
  *
  * Spark-first shape: `Dataset.observe` nodes ride inside the executed
  * plan (exact, no extra pass, aggregated map-side) and a
  * QueryExecutionListener collects them per action. A Prometheus bridge
  * would subscribe to the same collector; the engine itself stays
  * push-gateway-agnostic (K6 is out of engine scope per SURVEY §2.5).
  */
object PipelineMetrics {

  final class Collector extends QueryExecutionListener {
    private val store = TrieMap.empty[String, Map[String, Long]]
    /** The highest QueryExecution id this collector has been told about. */
    private val seen = new java.util.concurrent.atomic.AtomicLong(-1L)

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      qe.observedMetrics.foreach { case (name, row) =>
        val m = row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
          f -> (row.get(i) match {
            case l: Long => l
            case i2: Int => i2.toLong
            case null => 0L
            case other => other.toString.toLong
          })
        }.toMap
        store.put(name, m)
      }
      seen.accumulateAndGet(qe.id, math.max)
    }

    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = seen.accumulateAndGet(qe.id, math.max)

    /** Returns once every query `spark` finished before this call has
      * reached the collector. Listener delivery is asynchronous but in
      * order, so once a probe query run now (an empty local relation —
      * no job) is seen, every earlier one has been too. Waits at most
      * 10 s, as [[await]] does. */
    def catchUp(spark: SparkSession): Unit = {
      val probe = spark.emptyDataFrame
      probe.collect()
      val id = probe.queryExecution.id
      val deadline = System.currentTimeMillis() + 10000
      while (seen.get < id) {
        if (System.currentTimeMillis() > deadline)
          sys.error(s"query execution $id not delivered within 10000ms")
        Thread.sleep(1)
      }
    }

    def get(observation: String): Option[Map[String, Long]] = store.get(observation)

    /** Sum of an observation FAMILY: the exact name plus any per-batch
      * variants (`<name>_b<batchId>` — the streaming path names its
      * observe nodes per micro-batch, because within one execution
      * repeated actions re-report IDENTICAL values, which put-overwrite
      * dedupes correctly, while across batches the values differ and
      * must ADD; a flat accumulate would double-count the former, a flat
      * overwrite would drop the latter). */
    def sumFamily(prefix: String): Map[String, Long] =
      store.toMap
        .filter { case (name, _) =>
          name == prefix || name.startsWith(prefix + "_b") }
        .values
        .foldLeft(Map.empty[String, Long].withDefaultValue(0L)) { (acc, m) =>
          m.foldLeft(acc) { case (a, (f, v)) => a.updated(f, a(f) + v) }
        }

    /** Clears collected observations — call between RUNS on a long-lived
      * session (a run that executes no batches would otherwise read the
      * previous run's counts as current). */
    def reset(): Unit = store.clear()

    /** Listener delivery is async; poll briefly. */
    def await(observation: String, timeoutMs: Long = 10000): Map[String, Long] = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline) {
        store.get(observation) match {
          case Some(m) => return m
          case None => Thread.sleep(50)
        }
      }
      sys.error(s"observation '$observation' not delivered within ${timeoutMs}ms")
    }

    def snapshot: Map[String, Map[String, Long]] = store.toMap
  }

  def install(spark: SparkSession): Collector = {
    val c = new Collector
    spark.listenerManager.register(c)
    c
  }

  /** Wire-level run counters — the part of the reference inventory the
    * in-plan `observe` nodes can't see (retries inside a backoff loop,
    * DKS calls, success-indicator writes, the running gauge).
    *
    * Executor-side events (post retries/failures) ride Spark
    * `LongAccumulator`s — the cluster-safe distributed counter (NOT a
    * JVM static, which silently undercounts on >1 executor). Driver-side
    * wires (DKS, SNS, success files — all driver-only by design) are
    * plain AtomicLongs, @transient so an accidental closure capture
    * fails loudly on executors instead of losing counts silently. */
  final class RunCounters(spark: SparkSession) extends Serializable {
    import org.apache.spark.util.LongAccumulator
    val filesRetriedPost: LongAccumulator =
      spark.sparkContext.longAccumulator("snapshot_sender_files_retried_post")
    val failedFiles: LongAccumulator =
      spark.sparkContext.longAccumulator("snapshot_sender_failed_files")
    @transient val dksKeysDecrypted = new java.util.concurrent.atomic.AtomicLong()
    @transient val dksKeyDecryptionRetries = new java.util.concurrent.atomic.AtomicLong()
    @transient val successFilesSent = new java.util.concurrent.atomic.AtomicLong()
    @transient val successFileRetries = new java.util.concurrent.atomic.AtomicLong()
    @transient val failedSuccessFiles = new java.util.concurrent.atomic.AtomicLong()
    @transient val monitoringMessagesSent = new java.util.concurrent.atomic.AtomicLong()
    /** 1 while a run is in flight (inc at run start, dec in its finally);
      * the final gateway push happens inside the run, so it reports 1 —
      * the reference's live runningApplicationsGauge semantics. */
    @transient val runningApplications = new java.util.concurrent.atomic.AtomicLong()
  }

  /** The reference's Counter/Gauge inventory, name for name
    * (MetricsConfiguration.kt:20-93) — assembled per run from the observe
    * snapshot (scan/delivery families), the collection statuses, the
    * completion rollup and the wire counters. Pushed by
    * Monitoring.afterRun; asserted name-for-name in MetricsSpec
    * (mirroring SnapshotSenderIntegrationTest.kt:138-216). */
  def referenceInventory(
      observations: Map[String, Map[String, Long]],
      statuses: Seq[(String, Long)], // (CollectionStatus, FilesSent)
      completionStatus: String,
      counters: Option[RunCounters]): Map[String, Long] = {
    val scan = observations.getOrElse("graft_scan", Map.empty)
      .withDefaultValue(0L)
    val del = observations.getOrElse("graft_delivery", Map.empty)
      .withDefaultValue(0L)
    def c(f: RunCounters => Long): Long = counters.map(f).getOrElse(0L)
    Map(
      "snapshot_sender_items_read_from_s3" -> scan("files_scanned"),
      "snapshot_sender_rejected_files" -> scan("files_rejected"),
      "snapshot_sender_blocked_topic_files" -> scan("files_blocked"),
      "snapshot_sender_files_posted_successfully" -> del("files_delivered"),
      "snapshot_sender_files_retried_post" -> c(_.filesRetriedPost.value),
      "snapshot_sender_failed_files" -> c(_.failedFiles.value),
      // markers are the sent-count commit log: every delivered file is one
      // increment of the status table's FilesSent (A1)
      "snapshot_sender_incremented_files_sent" -> del("files_delivered"),
      "snapshot_sender_completed_non_empty_collections" ->
        statuses.count(_._1 == "Sent").toLong,
      "snapshot_sender_completed_empty_collections" ->
        statuses.count(_._1 == "Received").toLong,
      // reference: collections with >= 1 failed/unfinished file
      "snapshot_sender_failed_collections" ->
        statuses.count(s => s._1 == "In_Progress" || s._1 == "Export_Failed").toLong,
      "snapshot_sender_successful_runs" ->
        (if (completionStatus == "COMPLETED_SUCCESSFULLY") 1L else 0L),
      "snapshot_sender_failed_runs" ->
        (if (completionStatus == "COMPLETED_UNSUCCESSFULLY") 1L else 0L),
      "snapshot_sender_dks_keys_decrypted" -> c(_.dksKeysDecrypted.get),
      "snapshot_sender_dks_key_decryption_retries" ->
        c(_.dksKeyDecryptionRetries.get),
      "snapshot_sender_monitoring_messages_sent" ->
        c(_.monitoringMessagesSent.get),
      "snapshot_sender_success_files_sent" -> c(_.successFilesSent.get),
      "snapshot_sender_success_file_sending_retries" ->
        c(_.successFileRetries.get),
      "snapshot_sender_failed_success_files" -> c(_.failedSuccessFiles.get),
      "snapshot_sender_running_applications" -> c(_.runningApplications.get))
  }

  /** Scan-side counters (files seen / quarantined / blocked, plus the
    * valid files in blocked topics that a batch run reports as
    * `RunResult.blocked`). files_rejected counts the complement of
    * SnapshotPipeline.isValid; files_blocked counts every row in a blocked
    * topic, rejected or not.
    *
    * The counts come back on `observation` (read them with
    * [[scanCounts]]) — exact, no pass over the files of their own. Name
    * it `graft_scan` (batch) or `graft_scan_b<batchId>` (one per
    * streaming micro-batch) so a [[Collector]] sees it too; read the
    * streaming family back with [[Collector.sumFamily]]. */
  def observeScan(df: DataFrame, blocked: Seq[String],
      observation: Observation): DataFrame = {
    val counters = scanCounters(blocked)
    df.observe(observation, counters.head, counters.tail: _*)
  }

  /** The counters [[observeScan]] put on `scanned`. They arrive with the
    * first action over the scan — unless adaptive execution dropped the
    * observed stage from that action's final plan because nothing
    * downstream of it survived (empty input; every file quarantined,
    * blocked or finished). Spark then completes the observation empty,
    * and the counters are taken with one aggregate over `scanned`. */
  def scanCounts(scanned: DataFrame, blocked: Seq[String],
      observation: Observation): Map[String, Long] = {
    val observed = observation.get
    val values =
      if (observed.nonEmpty) observed
      else {
        val counters = scanCounters(blocked)
        val row = scanned.agg(counters.head, counters.tail: _*).first()
        row.getValuesMap[Any](row.schema.fieldNames.toSeq)
      }
    values.map { case (k, v) => k -> (if (v == null) 0L else v.asInstanceOf[Long]) }
  }

  private def scanCounters(blocked: Seq[String]): Seq[Column] = {
    val inBlocked = col("topic").isin(blocked: _*)
    Seq(
      count(lit(1)).as("files_scanned"),
      count_if(!SnapshotPipeline.isValid).as("files_rejected"),
      count_if(inBlocked).as("files_blocked"),
      count_if(SnapshotPipeline.isValid && inBlocked).as("files_valid_blocked"),
      sum(col("length")).as("bytes_scanned"))
  }

  /** Delivery-side counters (files posted + payload bytes — the
    * reference's filesSent / bytes counters). */
  def observeDelivery(df: DataFrame, suffix: String = ""): DataFrame =
    df.observe(s"graft_delivery$suffix",
      count(lit(1)).as("files_delivered"),
      sum(length(col("content"))).as("bytes_delivered"),
      approx_count_distinct(col("topic")).as("topics_seen"))
}

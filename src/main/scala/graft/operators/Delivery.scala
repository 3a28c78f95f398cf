package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Crypto

/** Sinks + status aggregation (reference K1-K5, A1-A3 — SURVEY.md
  * §2.4-2.5).
  *
  * Delivery target is a filesystem directory (`<outDir>/<topic>/<name>`),
  * the exact shape the reference's integration harness observes (mock-nifi
  * writes POSTed files to /data/output — SnapshotSenderIntegrationTest
  * .kt:50-55). An HTTP delivery would swap the partition function body for
  * a pooled-client POST loop; everything else (markers, counts, statuses)
  * is unchanged.
  *
  * Exactly-once accounting: Spark retries tasks, so the per-row commit
  * protocol (POST → counter++ → marker) of the reference
  * (HttpWriter.kt:83-97) is reshaped — writes are idempotent (same path,
  * same bytes), `.finished` markers are the commit log, and FilesSent is
  * *derived by counting markers*, never incremented (SURVEY.md §7.3).
  */
object Delivery {

  /** K1 + K2 behind the transport seam: send each file through
    * `transport` (FS, HTTP, …) from the executors via foreachPartition,
    * then write its `.finished` marker (marker body "Finished <name>" —
    * S3StatusFileWriter.kt:19-52) — marker AFTER send, so a failed
    * send leaves no marker and the file is retried by the next run.
    * Both actions are idempotent, so at-least-once task retries converge.
    *
    * The input carries a `headers` struct (nifiHeaders output); its
    * non-null fields travel to the transport as the header map (FS
    * delivery ignores it). */
  def deliverVia(files: DataFrame, statusDir: String,
      transport: DeliveryTransport): Unit =
    files.select(col("topic"), col("outputName"), col("sourceFileName"),
        col("content"), col("headers"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val st = Paths.get(statusDir)
        if (rows.hasNext) Files.createDirectories(st)
        rows.foreach { r =>
          val h = r.getStruct(4)
          val headers = h.schema.fieldNames.zipWithIndex.collect {
            case (name, i) if !h.isNullAt(i) => name -> h.get(i).toString
          }.toMap
          val fileName = r.getString(2)
          transport.send(DeliveredFile(r.getString(0), r.getString(1),
            fileName, r.getAs[Array[Byte]](3), headers))
          Files.write(st.resolve(s"$fileName.finished"),
            s"Finished $fileName".getBytes(StandardCharsets.UTF_8))
        }
      }

  /** Quarantine side-channel: one `.quarantined` marker per rejected file
    * (streaming mode needs this — the source checkpoint consumes objects
    * exactly once, so an unrecorded rejection would be silent data loss). */
  def writeQuarantineMarkers(rejected: DataFrame, statusDir: String): Unit =
    writeSideMarkers(rejected, statusDir, "quarantined", "Quarantined")

  /** Blocked-topic side-channel: same hazard as quarantine — in streaming
    * mode a blocked file is consumed exactly once by the source checkpoint,
    * so dropping it without a trace loses the record that it ever arrived.
    * A `.blocked` marker makes the drop auditable and recoverable (no
    * `.finished` marker exists, so a batch re-run after unblocking picks
    * the file up). */
  def writeBlockedMarkers(blocked: DataFrame, statusDir: String): Unit =
    writeSideMarkers(blocked, statusDir, "blocked", "Blocked")

  private def writeSideMarkers(files: DataFrame, statusDir: String,
      suffix: String, verb: String): Unit =
    files.select(col("fileName")).foreachPartition {
      rows: Iterator[org.apache.spark.sql.Row] =>
        val st = Paths.get(statusDir)
        if (rows.hasNext) Files.createDirectories(st)
        rows.foreach { r =>
          Files.write(st.resolve(s"${r.getString(0)}.$suffix"),
            s"$verb ${r.getString(0)}".getBytes(StandardCharsets.UTF_8))
        }
    }

  /** Scan of the `.finished` marker prefix → one row per already-delivered
    * file (feeds SnapshotPipeline.filterFinished and sentCounts). Uses the
    * file *index* only — no content read. */
  def finishedMarkers(spark: SparkSession, statusDir: String): DataFrame = {
    Files.createDirectories(Paths.get(statusDir))
    val ds = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.finished").load(statusDir)
      .select(SnapshotPipeline.fileNameFromPath(col("path")).as("markerName"))
    ds.select(regexp_replace(col("markerName"), "\\.finished$", "")
      .as("finishedFileName"))
  }

  /** A1: FilesSent per collection, derived from markers (not incremented —
    * see class doc). Reference: DynamoDBExportStatusService.kt:38-44. */
  def sentCounts(markers: DataFrame): DataFrame =
    SnapshotPipeline.withTopic(
        markers.select(col("finishedFileName").as("fileName")))
      .groupBy(col("topic")).agg(count(lit(1)).as("FilesSent"))

  /** A2: per-collection status decision
    * (DynamoDBExportStatusService.kt:113-141):
    * blocked topic → Blocked_Topic (counts as ok in A3 — a run that
    * skipped a blocklisted collection on purpose still completes);
    * exported>0 ∧ sent==exported → Sent; exported==0 → Received
    * (NO_FILES_EXPORTED path); else In_Progress.
    * `expected` = (topic, FilesExported) — the left join keeps zero-file
    * collections alive (SURVEY.md §7.3, zero-row groups). */
  def collectionStatus(expected: DataFrame, sent: DataFrame,
      blockedTopics: Seq[String] = Nil): DataFrame =
    expected.join(sent, Seq("topic"), "left")
      .withColumn("FilesSent", coalesce(col("FilesSent"), lit(0L)))
      .withColumn("CollectionStatus",
        when(col("topic").isin(blockedTopics: _*), "Blocked_Topic")
          .when(col("FilesExported") === 0, "Received")
          .when(col("FilesSent") === col("FilesExported"), "Sent")
          .otherwise("In_Progress"))

  private val okStatuses =
    Seq("Sent", "Received", "Success", "Table_Unavailable", "Blocked_Topic")

  /** A3: run-completion rollup over all collections of a correlation id
    * (DynamoDBExportStatusService.kt:79-102): all-ok → success, any
    * Export_Failed → failure, else not-completed. bool_and/bool_or get
    * partial aggregation for free. */
  def runCompletion(statuses: DataFrame, correlationId: String): DataFrame =
    statuses
      .select(lit(correlationId).as("correlationId"),
        col("CollectionStatus").isin(okStatuses: _*).as("ok"),
        (col("CollectionStatus") === "Export_Failed").as("failed"))
      .groupBy(col("correlationId"))
      .agg(bool_and(col("ok")).as("all_ok"), bool_or(col("failed")).as("any_failed"))
      .withColumn("completionStatus",
        when(col("all_ok"), "COMPLETED_SUCCESSFULLY")
          .when(col("any_failed"), "COMPLETED_UNSUCCESSFULLY")
          .otherwise("NOT_COMPLETED"))

  /** K3 + M8: success indicator `_<db>_<collection>_successful.gz` (20-byte
    * empty gzip) for Sent and zero-file (Received) topics
    * (JobCompletionNotificationListener.kt:34-40,
    * SuccessServiceImpl.kt:39-104). Driver-side: the status DF is tiny. */
  def writeSuccessIndicators(statuses: DataFrame, outDir: String,
      counters: Option[PipelineMetrics.RunCounters] = None): Seq[String] = {
    val want = statuses
      .filter(col("CollectionStatus").isin("Received", "Sent"))
      .select(col("topic")).collect().map(_.getString(0)).toSeq
    want.flatMap { topic =>
      // topic db.<database>.<collection> → _<database>_<collection>_successful.gz;
      // the expected manifest is external input — a topic without a '.'
      // can't form the name, skip it rather than AIOOBE mid-finalization
      topic.stripPrefix("db.").split("\\.", 2) match {
        case Array(db, coll) =>
          val name = s"_${db}_${coll}_successful.gz"
          val dir = Paths.get(outDir, topic)
          // retried like every other wire (reference successFilesRetried /
          // failedSuccessFiles counters — the two metrics are live, not
          // inventory placeholders)
          try graft.sources.Retry.withBackoff(attempts = 3,
            initialDelayMs = 100,
            onRetry = () => counters.foreach(_.successFileRetries.incrementAndGet())) {
            Files.createDirectories(dir)
            Files.write(dir.resolve(name), Crypto.emptyGzip)
          }
          catch { case e: Throwable =>
            counters.foreach(_.failedSuccessFiles.incrementAndGet())
            throw e
          }
          Some(name)
        case _ => None
      }
    }
  }

  /** Analytic-lake export: parsed snapshot records as parquet partitioned
    * by (database, collection) — the 100 TB-friendly output layout (one
    * topic = one partition subtree; downstream queries on a topic prune
    * every other partition at planning time). */
  def exportRecordsPartitioned(records: DataFrame, lakeDir: String): Unit =
    records
      .select(col("database"), col("collection"), col("topic"),
        col("fileName"), col("record.*"), col("createdAt"))
      .write.mode("overwrite")
      .partitionBy("database", "collection")
      .parquet(lakeDir)

  /** K4: persist the per-collection end state keyed by correlation id
    * (the reference's DynamoDB `UCExportToCrownStatus` upsert,
    * DynamoDBExportStatusService.kt:153-163). Idempotent: the directory
    * for a correlation id always holds that run's final state. */
  def upsertStatuses(statuses: DataFrame, tableDir: String,
      correlationId: String): Unit =
    statuses
      .withColumn("CorrelationId", lit(correlationId))
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(s"$tableDir/CorrelationId=$correlationId")

  /** Read-back of the K4 status table across correlation ids. */
  def readStatusTable(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(s"$tableDir/*")

  /** K5 skip rule: no monitoring message for heartbeat runs or when no
    * topic ARN is configured (SnsServiceImpl.kt:26-29,
    * JobCompletionNotificationListener.kt:60-63). */
  def shouldSendMonitoring(exportDate: String, topicArn: String): Boolean =
    exportDate != "NIFI_HEARTBEAT" && topicArn.nonEmpty

  /** K5: the SNS monitoring payload as JSON (SnsServiceImpl.kt:25-51) —
    * severity/notification type keyed off the completion status. */
  def monitoringPayload(completion: DataFrame, exportDate: String,
      snapshotType: String): DataFrame =
    completion.select(to_json(struct(
      when(col("completionStatus") === "COMPLETED_SUCCESSFULLY", "Information")
        .otherwise("Critical").as("severity"),
      when(col("completionStatus") === "COMPLETED_SUCCESSFULLY", "Information")
        .otherwise("Error").as("notification_type"),
      lit("crown-export-poller").as("slack_username"),
      concat(lit("Crown export "),
        when(col("completionStatus") === "COMPLETED_SUCCESSFULLY", "completed")
          .otherwise("failed")).as("title_text"),
      array(
        struct(lit("Export date").as("key"), lit(exportDate).as("value")),
        struct(lit("Correlation Id").as("key"), col("correlationId").as("value")),
        struct(lit("Snapshot type").as("key"), lit(snapshotType).as("value"))
      ).as("custom_elements")).as("payload")))
}

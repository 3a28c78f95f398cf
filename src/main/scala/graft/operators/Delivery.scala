package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd,
  SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.functions.Crypto

/** Sinks + status aggregation (reference K1-K5, A1-A3 — SURVEY.md
  * §2.4-2.5).
  *
  * Files leave through a [[DeliveryTransport]]: a filesystem directory
  * (`<outDir>/<topic>/<name>`, the shape the reference's integration
  * harness observes — mock-nifi writes POSTed files to /data/output,
  * SnapshotSenderIntegrationTest.kt:50-55) or the NiFi HTTP wire.
  *
  * Exactly-once accounting: Spark retries tasks, so the per-row commit
  * protocol (POST → counter++ → marker) of the reference
  * (HttpWriter.kt:83-97) is reshaped — writes are idempotent (same path,
  * same bytes), `.finished` markers are the commit log, and FilesSent is
  * *derived from markers*, never incremented (SURVEY.md §7.3). A batch
  * run counts the markers it listed before sending plus the names its
  * delivery action committed: the set a re-listing would give, because a
  * task retry re-sends and re-marks the same names.
  *
  * Markers, side markers, success indicators and local delivery all go
  * through the Hadoop `FileSystem` API, so `statusDir` and `outDir` may
  * be any Hadoop path or URI (`/abs/dir`, `file:/abs/dir`, `s3a://…`).
  */
object Delivery {

  /** The session's Hadoop configuration, broadcast for tasks that open
    * files themselves, the way Spark's own file sources ship it to their
    * readers. A run broadcasts it once, for its content reads and its
    * markers. */
  private[graft] def hadoopConf(
      spark: SparkSession): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))

  /** Writes `body` to `p` (parents created), replacing any earlier file.
    * On the local file system the bytes go to the `java.io.File` Hadoop
    * resolves `p` to: without the native Hadoop library, a local `create`
    * forks a `chmod` per file (about 9 ms per marker through the
    * checksummed local FS, 4 ms through the raw one, 0.1–0.2 ms this way
    * on a 4-core host), and a marker needs neither that mode nor a `.crc`
    * sidecar. */
  private[graft] def writeFile(fs: FileSystem, p: Path, body: Array[Byte]): Unit =
    fs match {
      case local: LocalFileSystem => writeLocal(local.pathToFile(p), body)
      case raw: RawLocalFileSystem => writeLocal(raw.pathToFile(p), body)
      case _ =>
        val out = fs.create(p, true)
        try out.write(body) finally out.close()
    }

  private def writeLocal(f: java.io.File, body: Array[Byte]): Unit = {
    Files.createDirectories(f.toPath.getParent)
    Files.write(f.toPath, body)
  }

  /** K1 + K2 behind the transport seam: send each file through
    * `transport` (FS, HTTP, …) from the executors, then write its
    * `.finished` marker (marker body "Finished <name>" —
    * S3StatusFileWriter.kt:19-52) — marker AFTER send, so a failed
    * send leaves no marker and the file is retried by the next run.
    * Both actions are idempotent, so at-least-once task retries converge.
    *
    * The input carries a `headers` struct (nifiHeaders output); its
    * non-null fields travel to the transport as the header map (FS
    * delivery ignores it).
    *
    * Returns or throws only once every task of the delivery action has
    * ended, a failed one's still-running tasks included.
    *
    * @return the source file names whose send and marker both
    *         succeeded, collected from the tasks that succeeded */
  def deliverVia(files: DataFrame, statusDir: String,
      transport: DeliveryTransport): Seq[String] =
    deliverVia(files, statusDir, transport, hadoopConf(files.sparkSession))

  private[graft] def deliverVia(files: DataFrame, statusDir: String,
      transport: DeliveryTransport,
      conf: Broadcast[SerializableConfiguration]): Seq[String] =
    awaitingTasks(files.sparkSession.sparkContext) {
      files.select(col("topic"), col("outputName"), col("sourceFileName"),
          col("content"), col("headers"))
        .mapPartitions { rows: Iterator[Row] =>
          val st = new Path(statusDir)
          val fs = st.getFileSystem(conf.value.value)
          rows.map { r =>
            val h = r.getStruct(4)
            val headers = h.schema.fieldNames.zipWithIndex.collect {
              case (name, i) if !h.isNullAt(i) => name -> h.get(i).toString
            }.toMap
            val fileName = r.getString(2)
            transport.send(DeliveredFile(r.getString(0), r.getString(1),
              fileName, r.getAs[Array[Byte]](3), headers))
            writeFile(fs, new Path(st, s"$fileName.finished"),
              s"Finished $fileName".getBytes(StandardCharsets.UTF_8))
            fileName
          }
        }(Encoders.STRING)
        .collect().toSeq
    }

  /** Runs `action`, whose Spark jobs start from this thread, and returns
    * or throws only once every task those jobs started has ended. A
    * failed job returns as soon as one task fails, while the job's other
    * tasks may be mid-send: each stops only after the file it is on, and
    * writes that file's marker first. Waiting for them leaves those
    * markers in place before a caller can re-run, so a re-run does not
    * send the files again. A job that succeeded has ended its tasks,
    * unless `spark.speculation` left a second copy of one running. */
  private def awaitingTasks[T](sc: SparkContext)(action: => T): T = {
    val tasks = new StartedTasks(UUID.randomUUID().toString)
    sc.addSparkListener(tasks)
    val outer = sc.getLocalProperty(StartedTasks.TagKey)
    sc.setLocalProperty(StartedTasks.TagKey, tasks.tag)
    var returned = false
    try {
      val out = action
      returned = true
      out
    } finally {
      sc.setLocalProperty(StartedTasks.TagKey, outer)
      try if (!returned || sc.getConf.getBoolean("spark.speculation", false))
        tasks.awaitEnded(sc)
      finally sc.removeSparkListener(tasks)
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
      suffix: String, verb: String): Unit = {
    val conf = hadoopConf(files.sparkSession)
    files.select(col("fileName")).foreachPartition { rows: Iterator[Row] =>
      val st = new Path(statusDir)
      val fs = st.getFileSystem(conf.value.value)
      rows.foreach { r =>
        writeFile(fs, new Path(st, s"${r.getString(0)}.$suffix"),
          s"$verb ${r.getString(0)}".getBytes(StandardCharsets.UTF_8))
      }
    }
  }

  /** The already-delivered file names: the `.finished` markers under
    * `statusDir`, suffix stripped. One driver-side listing — no Spark
    * job, no content read. Names a file index hides (`.`-prefixed, such
    * as Hadoop's `.crc` checksums, and `_`-prefixed without a `=`) are
    * skipped, as Spark's `InMemoryFileIndex` skips them. A missing
    * `statusDir` is created and lists as empty. */
  def listFinished(spark: SparkSession, statusDir: String): Seq[String] = {
    val st = new Path(statusDir)
    val fs = st.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(st)
    fs.listStatus(st).toSeq
      .filter(_.isFile)
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".finished") && !n.startsWith(".") &&
        !(n.startsWith("_") && !n.contains("=")))
      .map(_.stripSuffix(".finished"))
  }

  /** [[listFinished]] as a relation (`finishedFileName`) — the right side
    * of SnapshotPipeline.filterFinished and the input of [[sentCounts]]. */
  def finishedMarkers(spark: SparkSession, statusDir: String): DataFrame =
    finishedFrame(spark, listFinished(spark, statusDir))

  private[graft] def finishedFrame(spark: SparkSession,
      names: Seq[String]): DataFrame = {
    import spark.implicits._
    names.toDF("finishedFileName")
  }

  /** A1: FilesSent per collection, derived from markers (not incremented —
    * see class doc). Reference: DynamoDBExportStatusService.kt:38-44. */
  def sentCounts(markers: DataFrame): DataFrame =
    SnapshotPipeline.withTopic(
        markers.select(col("finishedFileName").as("fileName")))
      .groupBy(col("topic")).agg(count(lit(1)).as("FilesSent"))

  /** [[sentCounts]] of marker names held on the driver. The topic parse
    * is a projection of a local relation, which the optimizer evaluates
    * in place, so counting starts no Spark job. */
  private[graft] def sentCountsOf(spark: SparkSession,
      names: Seq[String]): Map[String, Long] =
    SnapshotPipeline.withTopic(finishedFrame(spark, names)
        .select(col("finishedFileName").as("fileName")))
      .select(col("topic")).collect()
      .groupMapReduce(_.getString(0))(_ => 1L)(_ + _)

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
    withCollectionStatus(expected.join(sent, Seq("topic"), "left")
      .withColumn("FilesSent", coalesce(col("FilesSent"), lit(0L))),
      blockedTopics)

  /** [[collectionStatus]] as a local relation: the `expected` rows
    * (collected by the caller) joined on the driver with per-topic sent
    * counts — the `expected` columns, then FilesSent and the same
    * decision. Acting on it starts no job. */
  private[graft] def collectionStatusOf(spark: SparkSession,
      expected: StructType, expectedRows: Seq[Row], sent: Map[String, Long],
      blockedTopics: Seq[String]): DataFrame = {
    val topicAt = expected.fieldIndex("topic")
    val rows = expectedRows.map(r =>
      Row.fromSeq(r.toSeq :+ sent.getOrElse(r.getString(topicAt), 0L)))
    withCollectionStatus(spark.createDataFrame(rows.asJava,
        expected.add(StructField("FilesSent", LongType, nullable = false))),
      blockedTopics)
  }

  private def withCollectionStatus(df: DataFrame,
      blockedTopics: Seq[String]): DataFrame =
    df.withColumn("CollectionStatus",
      when(col("topic").isin(blockedTopics: _*), "Blocked_Topic")
        .when(col("FilesExported") === 0, "Received")
        .when(col("FilesSent") === col("FilesExported"), "Sent")
        .otherwise("In_Progress"))

  private val okStatuses =
    Seq("Sent", "Received", "Success", "Table_Unavailable", "Blocked_Topic")

  private def isOk = col("CollectionStatus").isin(okStatuses: _*)
  private def isFailed = col("CollectionStatus") === "Export_Failed"

  /** A3: run-completion rollup over all collections of a correlation id
    * (DynamoDBExportStatusService.kt:79-102): all-ok → success, any
    * Export_Failed → failure, else not-completed. bool_and/bool_or get
    * partial aggregation for free. */
  def runCompletion(statuses: DataFrame, correlationId: String): DataFrame =
    withCompletionStatus(statuses
      .select(lit(correlationId).as("correlationId"), isOk.as("ok"),
        isFailed.as("failed"))
      .groupBy(col("correlationId"))
      .agg(bool_and(col("ok")).as("all_ok"), bool_or(col("failed")).as("any_failed")))

  /** [[runCompletion]] of local statuses (from [[collectionStatusOf]]) as
    * a local relation: the per-collection flags are a projection the
    * optimizer evaluates in place, the two folds run on the driver. No
    * statuses, no row — as the grouped aggregate gives. */
  private[graft] def runCompletionOf(statuses: DataFrame,
      correlationId: String): DataFrame = {
    val flags = statuses.select(isOk, isFailed).collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)))
    val rows =
      if (flags.isEmpty) Seq.empty[Row]
      else Seq(Row(correlationId, flags.forall(_._1), flags.exists(_._2)))
    val schema = StructType(Seq(
      StructField("correlationId", StringType, nullable = false),
      StructField("all_ok", BooleanType), StructField("any_failed", BooleanType)))
    withCompletionStatus(statuses.sparkSession.createDataFrame(rows.asJava, schema))
  }

  private def withCompletionStatus(rollup: DataFrame): DataFrame =
    rollup.withColumn("completionStatus",
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
    lazy val conf = statuses.sparkSession.sessionState.newHadoopConf()
    want.flatMap { topic =>
      // topic db.<database>.<collection> → _<database>_<collection>_successful.gz;
      // the expected manifest is external input — a topic without a '.'
      // can't form the name, skip it rather than AIOOBE mid-finalization
      topic.stripPrefix("db.").split("\\.", 2) match {
        case Array(db, coll) =>
          val name = s"_${db}_${coll}_successful.gz"
          val file = new Path(new Path(outDir, topic), name)
          // retried like every other wire (reference successFilesRetried /
          // failedSuccessFiles counters — the two metrics are live, not
          // inventory placeholders)
          try graft.sources.Retry.withBackoff(attempts = 3,
            initialDelayMs = 100,
            onRetry = () => counters.foreach(_.successFileRetries.incrementAndGet())) {
            writeFile(file.getFileSystem(conf), file, Crypto.emptyGzip)
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

/** Counts the tasks started and not yet ended by the jobs whose local
  * property [[StartedTasks.TagKey]] is `tag`. */
private final class StartedTasks(val tag: String) extends SparkListener {
  private val stages = mutable.Set.empty[Int]
  private var open = 0
  private var flushed = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(StartedTasks.TagKey) == tag)) stages ++= e.stageIds
    if (props.exists(_.getProperty(StartedTasks.ProbeKey) == tag)) {
      flushed = true
      notifyAll()
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    if (stages(e.stageId)) open += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stages(e.stageId)) {
      open -= 1
      notifyAll()
    }
  }

  /** Waits until every task start seen has its end. The listener bus
    * delivers events in the order they were posted, so once an empty
    * probe job, started now, has been seen here, so has every task start
    * of the jobs that ran before it. */
  def awaitEnded(sc: SparkContext): Unit = {
    if (sc.isStopped) return
    sc.setLocalProperty(StartedTasks.ProbeKey, tag)
    try sc.runJob(sc.emptyRDD[Int], (_: Iterator[Int]) => ())
    finally sc.setLocalProperty(StartedTasks.ProbeKey, null)
    synchronized {
      while (!(flushed && open == 0) && !sc.isStopped) wait(100)
    }
  }
}

private object StartedTasks {
  val TagKey = "graft.delivery.tasks"
  val ProbeKey = "graft.delivery.probe"
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Delivery
import graft.operators.SnapshotPipeline._
import graft.sources.{EncryptedSnapshotSource, KeyService}

/** The snapshot pipeline as a CONTINUOUS stream: new encrypted objects
  * appearing under the input prefix are discovered by the file source,
  * flow through the SAME stage functions as the batch job, and are
  * delivered per micro-batch via foreachBatch. The streaming checkpoint
  * supersedes the `.finished`-marker anti-join for restart semantics (the
  * markers are still written — downstream consumers and batch re-runs
  * keep their commit log).
  *
  * This is the reference's re-run loop with the loop removed: instead of
  * "run again with reprocess=false and skip delivered files", the file
  * source only ever hands each object to exactly one micro-batch.
  */
object SnapshotStream {

  def start(
      spark: SparkSession,
      inputDir: String,
      outDir: String,
      statusDir: String,
      checkpointDir: String,
      keys: KeyService,
      conf: DeliveryConf = DeliveryConf(),
      /** K1 transport, same seam as the batch job: None → local FS. */
      transport: Option[graft.operators.DeliveryTransport] = None) = {

    val stream = spark.readStream
      .format("binaryFile")
      .option("pathGlobFilter", "*.enc")
      .schema(BinaryFileFormat.schema) // the source's fixed schema: no listing
      .load(inputDir)

    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the batch scan's sidecar join, re-read per batch
        val files = EncryptedSnapshotSource.withSidecars(batch, inputDir)
        // same observe nodes as the batch job (A4 parity), named PER
        // BATCH (`_b<id>`): within one batch the marker/deliver actions
        // re-report identical values (put-overwrite dedupes), across
        // batches the counts differ and must add — read them back with
        // Collector.sumFamily("graft_scan"). NOTE the collector must be
        // installed BEFORE start(): foreachBatch runs on the query's
        // cloned session, which snapshots the listener list at start.
        val scanned = graft.operators.PipelineMetrics.observeScan(
          withTopic(files), conf.blockedTopics,
          Observation(s"graft_scan_b$batchId"))
        val (valid, rejected) = quarantine(scanned)
        // the file-source checkpoint consumes each object exactly once, so
        // a quarantined object (e.g. sidecar not yet uploaded) would be
        // lost SILENTLY — record a .quarantined marker so operators can
        // recover it with a batch re-run (no .finished marker exists, so
        // the batch anti-join will pick it up).
        Delivery.writeQuarantineMarkers(rejected, statusDir)
        val (allowed, blocked) = splitBlockedTopics(valid, conf.blockedTopics)
        // blocked files are consumed exactly once by the checkpoint too —
        // record a .blocked marker (same rationale as .quarantined above)
        Delivery.writeBlockedMarkers(blocked, statusDir)
        val ready = graft.operators.PipelineMetrics.observeDelivery(
          nifiHeaders(decrypt(resolveKeys(allowed, keys)), conf),
          suffix = s"_b$batchId")
        Delivery.deliverVia(ready, statusDir,
          transport.getOrElse(graft.operators.LocalFsTransport(outDir)))
        ()
      }
      .start()
  }
}

package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.sources.Retry

/** One delivered snapshot file: payload + the 12-header NiFi envelope
  * (reference HttpWriter.kt:70-81, NiFiUtility.kt:12-25). */
final case class DeliveredFile(
    topic: String,
    outputName: String,
    sourceFileName: String,
    content: Array[Byte],
    headers: Map[String, String])

/** K1 transport seam — HOW one file leaves the engine. Instances are
  * serialized into `foreachPartition` closures; per-executor resources
  * (HTTP client pools) belong in `@transient lazy val`s so each executor
  * JVM builds its own once and reuses it across rows.
  *
  * Contract: `send` either delivers or throws. A throw fails the Spark
  * task → task retry → at-least-once sends; delivery must therefore be
  * idempotent server-side (same path, same bytes — reference mock-nifi
  * behaves this way), and the `.finished` marker (written by the caller
  * only after `send` returns) remains the exactly-once commit log.
  */
trait DeliveryTransport extends Serializable {
  def send(file: DeliveredFile): Unit
}

/** File-system delivery: `<outDir>/<topic>/<outputName>` — the shape
  * the reference's integration harness observes (mock-nifi writes POSTed
  * files to /data/output, SnapshotSenderIntegrationTest.kt:50-55).
  * `outDir` is any Hadoop path or URI; the executor resolves it with the
  * Hadoop configuration it loads itself (one `FileSystem` per executor
  * JVM, @transient lazy like the HTTP client below). */
final case class LocalFsTransport(outDir: String) extends DeliveryTransport {
  @transient private lazy val fs = new Path(outDir).getFileSystem(new Configuration())

  override def send(file: DeliveredFile): Unit =
    Delivery.writeFile(fs,
      new Path(new Path(outDir, file.topic), file.outputName), file.content)
}

/** HTTP delivery (reference HttpWriter.kt:44-119): POST the file bytes to
  * the receiver with the 12 NiFi headers; non-200 responses are retried
  * with exponential backoff (the reference throws WriterException and
  * lets Spring Batch's retry loop re-drive the item — here the backoff
  * loop is explicit, and exhausting it fails the Spark task).
  *
  * `tls = Some(TlsConfig(...))` switches the wire to mutual TLS — client
  * certificate from the identity store, server verified against the
  * trust store (the reference's NiFi wire is always this shape,
  * SecureHttpClientProvider.kt:30-80); `None` keeps plain HTTP (the
  * reference's insecureHttpClient test profile).
  *
  * One `HttpClient` per executor JVM (@transient lazy), connection reuse
  * across every row the executor delivers — the pooled-client shape; the
  * SSLContext (keystore parse, file IO) is built inside that same lazy,
  * so TLS setup is also once per executor, never per file. */
final case class HttpTransport(
    url: String,
    maxAttempts: Int = 5,
    initialDelayMs: Long = 1000,
    timeoutMs: Long = 30000,
    tls: Option[graft.sources.TlsConfig] = None,
    /** run counters (retried/failed posts). Accumulator-backed, so the
      * executor-side increments aggregate cluster-wide. */
    counters: Option[PipelineMetrics.RunCounters] = None) extends DeliveryTransport {

  @transient private lazy val client = {
    val b = java.net.http.HttpClient.newBuilder()
    tls.foreach(t => b.sslContext(t.sslContext))
    b.build()
  }

  override def send(file: DeliveredFile): Unit =
    try sendWithRetry(file)
    catch { case e: Throwable =>
      // best-effort: updates from a task that then fails are dropped by
      // Spark's accumulator protocol, but the count survives wherever the
      // partition carries on (reference failedFilesCounter semantics)
      counters.foreach(_.failedFiles.add(1))
      throw e
    }

  private def sendWithRetry(file: DeliveredFile): Unit =
    Retry.withBackoff(attempts = maxAttempts, initialDelayMs = initialDelayMs,
      onRetry = () => counters.foreach(_.filesRetriedPost.add(1))) {
      val builder = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofMillis(timeoutMs))
        .header("Content-Type", "application/octet-stream")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(file.content))
      file.headers.foreach { case (k, v) => builder.header(k, v) }
      // `join`, not `send`: a cancelled Spark task is interrupted, and an
      // interrupted `send` returns at once while its request may still
      // reach the receiver after the task, and the run, have ended. `join`
      // waits for the answer (at most `timeoutMs`) and keeps the interrupt.
      val resp = try client.sendAsync(builder.build(),
          java.net.http.HttpResponse.BodyHandlers.discarding()).join()
        catch { case e: java.util.concurrent.CompletionException if e.getCause != null =>
          throw e.getCause }
      if (resp.statusCode() != 200)
        throw new RuntimeException(
          s"Failed to post '${file.sourceFileName}': post returned " +
            s"status code ${resp.statusCode()}")
    }
}

package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.ThreadLocalRandom
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

import graft.operators.{DeliveredFile, DeliveryTransport}
import graft.sources.KeyService

/** One timed interval. Times are `System.nanoTime` of this JVM (in local
  * mode the executors run in it too); `parent` 0 = a root. */
final case class Span(id: Long, parent: Long, run: String, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Span {
  def newId(): Long = ThreadLocalRandom.current().nextLong(1L, Long.MaxValue)

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total
  }

  /** Self time: a span's duration minus what its child spans cover.
    * `spark.*` spans annotate engine work and are not subtracted. */
  def selfNs(s: Span, all: Seq[Span]): Long =
    (s.endNs - s.startNs) - covered(
      all.filter(c => c.parent == s.id && !c.name.startsWith("spark."))
        .map(c => (c.startNs, c.endNs)), s.startNs, s.endNs)
}

/** In-memory span log, written out when the benchmark ends. */
final class Tracer {
  val spans = new ConcurrentLinkedQueue[Span]()

  def span[T](name: String, parent: Long, run: String)(body: Long => T): T = {
    val id = Span.newId()
    val t0 = System.nanoTime()
    try body(id)
    finally spans.add(Span(id, parent, run, name, t0, System.nanoTime()))
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Counts and times every data-key resolution; spans hang under the span
  * current when the call happens (set by the caller). Plain fields: the
  * pipeline resolves keys in the calling JVM, never inside a task. */
final class TracedKeys(inner: KeyService, tracer: Tracer) extends KeyService {
  val calls = new AtomicLong()
  val nanos = new AtomicLong()
  @volatile var parent: Long = 0L
  @volatile var run: String = ""

  override def decryptKey(keyId: String, cipherTextKeyB64: String): String = {
    val t0 = System.nanoTime()
    try inner.decryptKey(keyId, cipherTextKeyB64)
    finally {
      val t1 = System.nanoTime()
      calls.incrementAndGet()
      nanos.addAndGet(t1 - t0)
      tracer.spans.add(Span(Span.newId(), parent, run, "keys.decrypt", t0, t1))
    }
  }
}

/** Accumulators for one traced delivery, shared by its executor tasks. */
final case class SendStats(sends: LongAccumulator, busyNs: LongAccumulator,
    bytes: LongAccumulator, spans: CollectionAccumulator[Span])

object SendStats {
  def apply(sc: SparkContext): SendStats = SendStats(sc.longAccumulator,
    sc.longAccumulator, sc.longAccumulator, sc.collectionAccumulator[Span])
}

/** Counts, times and spans every send of the wrapped transport. */
final case class TracedTransport(inner: DeliveryTransport, stats: SendStats,
    parent: Long, run: String) extends DeliveryTransport {
  override def send(file: DeliveredFile): Unit = {
    val t0 = System.nanoTime()
    try inner.send(file)
    finally {
      val t1 = System.nanoTime()
      stats.sends.add(1)
      stats.busyNs.add(t1 - t0)
      stats.bytes.add(file.content.length.toLong)
      stats.spans.add(Span(Span.newId(), parent, run, "transport.send", t0, t1))
    }
  }
}

/** Self-test sabotage: flips one byte in the body of file `target`. */
final case class FlipByteTransport(inner: DeliveryTransport, target: String)
    extends DeliveryTransport {
  override def send(file: DeliveredFile): Unit =
    if (file.sourceFileName != target) inner.send(file)
    else {
      val c = file.content.clone()
      c(c.length / 2) = (c(c.length / 2) ^ 1).toByte
      inner.send(file.copy(content = c))
    }
}

/** Self-test sabotage: reports file `target` as sent without sending it. */
final case class DropFileTransport(inner: DeliveryTransport, target: String)
    extends DeliveryTransport {
  override def send(file: DeliveredFile): Unit =
    if (file.sourceFileName != target) inner.send(file)
}

/** Engine counters between two [[EngineListener.reset]]s. */
final case class EngineStats(
    jobs: Int, stages: Int, tasks: Int,
    executorRunS: Double, executorCpuS: Double, gcS: Double,
    shuffleBytes: Long, inputBytes: Long,
    actions: Int, planS: Double,
    /** (start, end) nanoTime of each job */
    jobIntervals: Seq[(Long, Long)])

/** SparkListener + QueryExecutionListener summing what the engine did.
  * Reset it, run one action sequence, drain the bus, read [[stats]]. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  // listener event times are epoch ms; map them onto nanoTime
  private val nsOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(epochMs: Long): Long = epochMs * 1000000L + nsOffset

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stages = new AtomicInteger()
  private val tasks = new AtomicInteger()
  private val runMs = new AtomicLong()
  private val cpuNs = new AtomicLong()
  private val gcMs = new AtomicLong()
  private val shuffle = new AtomicLong()
  private val input = new AtomicLong()
  private val actions = new AtomicInteger()
  private val planMs = new AtomicLong()

  def reset(): Unit = {
    jobStart.clear(); jobs.clear()
    Seq(stages, tasks, actions).foreach(_.set(0))
    Seq(runMs, cpuNs, gcMs, shuffle, input, planMs).foreach(_.set(0))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, ns(e.time))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobs.add((s, ns(e.time))))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead)
      input.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    actions.incrementAndGet()
    val phases = qe.tracker.phases
    planMs.addAndGet(Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  def stats: EngineStats = EngineStats(
    jobs.size, stages.get, tasks.get,
    runMs.get / 1e3, cpuNs.get / 1e9, gcMs.get / 1e3,
    shuffle.get, input.get, actions.get, planMs.get / 1e3,
    jobs.asScala.toSeq)
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.operators._
import graft.operators.SnapshotJob.RunResult
import graft.operators.SnapshotPipeline._
import graft.sources.{EncryptedSnapshotSource, KeyService, LocalKeyService}

/** Snapshot-delivery benchmark: drives `SnapshotJob.run` (HttpTransport
  * to an in-process receiver) or `SnapshotJob.records` (noop sink) on a
  * seeded workload, one run at a time, and prints one JSON result line.
  *
  * {{{
  * perfbench.Main --workload bulk|small_files|records --seed N
  *   --seconds S --trace 0|1 --work DIR --artifacts DIR
  * }}}
  * `--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
  * ones (it also repeats the untraced runs, to state the tracing cost). */
object Main {
  def main(argv: Array[String]): Unit = {
    val opts = argv.toSeq.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }.toMap
    def need(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    require(Set("0", "1")(need("trace")), "--trace must be 0 or 1")
    val bench = new Bench(Workloads.byName(need("workload")), need("seed").toLong,
      seconds, need("trace") == "1", Paths.get(need("work")),
      Paths.get(need("artifacts")))
    val code =
      try { bench.run(); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
      finally bench.close()
    sys.exit(code)
  }
}

final class Bench(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
    work: Path, artifacts: Path) {
  import Bench._

  private val nproc = Runtime.getRuntime.availableProcessors()
  private val isDelivery = workload.kind == DeliveryRun
  private val inDir = work.resolve("input")
  private val outDir = work.resolve("out")
  private val statusDir = work.resolve("status")
  private val tracer = new Tracer
  private val failures = ArrayBuffer.empty[Obj]
  private var attempted = 0
  private var failed = 0

  private var spark: SparkSession = _
  private var collector: PipelineMetrics.Collector = _
  private var expected: DataFrame = _
  private var rx: Receiver = _
  private var fx: Fixture = _

  def close(): Unit = {
    if (spark != null) spark.stop()
    if (rx != null) rx.stop()
  }

  // ---- session and runs -------------------------------------------------

  private def startSession(): Unit = {
    if (spark != null) spark.stop()
    spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    collector = PipelineMetrics.install(spark)
    expected = spark.createDataFrame(fx.manifest).toDF("topic", "FilesExported")
  }

  /** State before every delivery run: empty output, the pre-marked
    * files' `.finished` markers, an empty receiver. */
  private def prepareDelivery(): Unit = {
    Io.fresh(outDir)
    Io.fresh(statusDir)
    fx.premarked.foreach(n => Files.write(statusDir.resolve(s"$n.finished"),
      s"Finished $n".getBytes(UTF_8)))
    rx.reset()
    collector.reset()
  }

  /** The measured call of a delivery run: the job and its completion
    * rollup, the run's final outcome. */
  private def delivery(keys: KeyService, transport: DeliveryTransport): RunResult = {
    val res = SnapshotJob.run(spark, inDir.toString, outDir.toString,
      statusDir.toString, expected, keys, DeliveryConf(correlationId = "perfbench"),
      Some(transport))
    res.completion.collect()
    res
  }

  private def verifyDelivery(res: RunResult): Unit = {
    ListenerBusDrain(spark.sparkContext)
    Verify.delivery(fx, rx, statusDir, outDir, res, collector.snapshot)
  }

  /** The measured call of a records run. */
  private def records(keys: KeyService): Unit =
    SnapshotJob.records(spark, inDir.toString, keys)
      .write.format("noop").mode("overwrite").save()

  /** One untraced run, verified outside the timed region; wall seconds.
    * Each run starts from a collected heap, so one run's garbage does
    * not land in the next run's time. */
  private def runOnce(): Double =
    if (isDelivery)
      OperatorCaches.withCaches {
        prepareDelivery()
        System.gc()
        val t0 = System.nanoTime()
        val res = delivery(LocalKeyService, HttpTransport(rx.url))
        val s = since(t0)
        verifyDelivery(res)
        s
      }
    else {
      System.gc()
      val t0 = System.nanoTime()
      records(LocalKeyService)
      since(t0)
    }

  /** Counts an attempt; a throw (including a failed verification) is a
    * failed run, recorded with its exception class. */
  private def attempt[T](phase: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        failures += Obj("phase" -> phase, "error" -> e.getClass.getName,
          "message" -> String.valueOf(e.getMessage).take(400))
        System.err.println(s"[perfbench] $phase failed: $e")
        None
    }
  }

  /** Runs `one` until `budget` seconds have passed and at least MinRuns ran. */
  private def loop[T](budget: Double)(one: Int => Option[T]): Seq[T] = {
    val out = ArrayBuffer.empty[T]
    val t0 = System.nanoTime()
    var i = 0
    while (i < MinRuns || since(t0) < budget) {
      one(i).foreach(out += _)
      i += 1
    }
    out.toSeq
  }

  // ---- the benchmark ----------------------------------------------------

  def run(): Unit = {
    val g0 = System.nanoTime()
    fx = FixtureGen.generate(workload, seed, inDir, nproc)
    System.err.println(f"[perfbench] fixture: ${fx.files.size} files, " +
      f"${fx.totalBytes / 1e6}%.1f MB encrypted, ${fx.totalRecords} records in ${since(g0)}%.2f s")
    rx = new Receiver(nproc)

    // set-up: session start plus one full untimed run, repeated; the
    // first includes JVM class loading; the median is reported
    val setups = (1 to SetupRounds).map { i =>
      val t0 = System.nanoTime()
      startSession()
      val session = since(t0)
      session + attempt(s"setup-$i")(runOnce()).getOrElse(Double.NaN)
    }

    loop(WarmupSeconds)(_ => attempt("warm-up")(runOnce()))
    val times = loop(seconds)(_ => attempt("run")(runOnce()))
    if (!isDelivery)
      attempt("verify-records")(Verify.records(fx,
        SnapshotJob.records(spark, inDir.toString, LocalKeyService)))
    if (times.isEmpty) sys.error("no run succeeded")

    val runS = median(times)
    val carried = if (isDelivery) fx.fresh else fx.files
    val endToEnd = Seq(
      ("run_s", runS, "s"),
      ("deliver_mb_s", carried.map(_.bytes).sum / 1e6 / runS, "MB/s"),
      ("deliver_files_s", carried.size / runS, "files/s"),
      ("records_s", carried.map(_.records.toLong).sum / runS, "records/s"),
      ("setup_s", median(setups), "s"),
      ("peak_rss_mb", peakRssMb(), "MB"))

    val layers = if (trace) traced(endToEnd.map(m => m._1 -> m._2).toMap) else Nil
    val selftestOk = !trace || layers.exists(m => m._1 == "selftest.caught" && m._2 == 2.0)
    val shown = if (trace) layers else endToEnd

    val correct = failed == 0 && selftestOk
    val result = Obj(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Obj(shown.map { case (n, v, u) => n -> Obj("value" -> v, "unit" -> u) }: _*))

    writeArtifact(endToEnd, layers, times, setups, correct)
    shown.foreach { case (n, v, u) => println(f"[perfbench] $n%-28s $v%.6g $u") }
    println(Json(result))
  }

  // ---- traced run -------------------------------------------------------

  private type Metric = (String, Double, String)

  /** Traced runs for `seconds`, then each public stage function timed
    * once, the single-core roofline probe and the verifier self-test.
    * Returns the per-layer metrics. */
  private def traced(e2e: Map[String, Double]): Seq[Metric] = {
    val sc = spark.sparkContext
    val engine = new EngineListener
    sc.addSparkListener(engine)
    spark.listenerManager.register(engine)

    val perRun = loop(seconds / 2.0) { i =>
      val runId = s"traced-$i"
      val keys = new TracedKeys(LocalKeyService, tracer)
      attempt("traced-run") {
        OperatorCaches.withCaches {
          if (isDelivery) prepareDelivery()
          val counters = new PipelineMetrics.RunCounters(spark)
          val sends = SendStats(sc)
          ListenerBusDrain(sc)
          engine.reset()
          val res = tracer.span("run", 0L, runId) { id =>
            keys.parent = id
            keys.run = runId
            if (isDelivery) Some(delivery(keys, TracedTransport(
              HttpTransport(rx.url, counters = Some(counters)), sends, id, runId)))
            else { records(keys); None }
          }
          ListenerBusDrain(sc)
          val st = engine.stats
          val runSpan = tracer.all.find(s => s.run == runId && s.name == "run").get
          st.jobIntervals.foreach { case (a, b) =>
            tracer.spans.add(Span(Span.newId(), runSpan.id, runId, "spark.job", a, b)) }
          tracer.spans.addAll(sends.spans.value)
          res.foreach(verifyDelivery)
          val markers = if (isDelivery)
            Io.names(statusDir).count(_.endsWith(".finished")) - fx.premarked.size else 0
          val successFiles =
            if (isDelivery) fx.indicators(outDir).count(Files.exists(_)) else 0
          val obs = collector.snapshot
          def o(fam: String, f: String) = obs.get(fam).flatMap(_.get(f)).getOrElse(0L).toDouble
          Seq(
            "run_s" -> runSpan.seconds,
            "keys.calls" -> keys.calls.get.toDouble,
            "keys.s" -> keys.nanos.get / 1e9,
            "transport.sends" -> sends.sends.value.toDouble,
            "transport.busy_s" -> sends.busyNs.value / 1e9,
            "transport.bytes" -> sends.bytes.value.toDouble,
            "transport.retries" -> counters.filesRetriedPost.value.toDouble,
            "transport.failures" -> counters.failedFiles.value.toDouble,
            "receiver.posts" -> rx.posts.get.toDouble,
            "receiver.bytes" -> rx.bytes.get.toDouble,
            "delivery.markers_written" -> markers.toDouble,
            "delivery.success_files" -> successFiles.toDouble,
            "observe.files_scanned" -> o("graft_scan", "files_scanned"),
            "observe.files_delivered" -> o("graft_delivery", "files_delivered"),
            "observe.bytes_delivered" -> o("graft_delivery", "bytes_delivered"),
            "spark.actions" -> st.actions.toDouble,
            "spark.plan_s" -> st.planS,
            "spark.jobs" -> st.jobs.toDouble,
            "spark.stages" -> st.stages.toDouble,
            "spark.tasks" -> st.tasks.toDouble,
            "spark.executor_run_s" -> st.executorRunS,
            "spark.executor_cpu_s" -> st.executorCpuS,
            "spark.gc_s" -> st.gcS,
            "spark.shuffle_bytes" -> st.shuffleBytes.toDouble,
            "spark.driver_only_s" -> (runSpan.seconds -
              Span.covered(st.jobIntervals, runSpan.startNs, runSpan.endNs) / 1e9))
        }
      }
    }
    if (perRun.isEmpty) sys.error("no traced run succeeded")
    def med(k: String): Double = median(perRun.map(_.toMap.apply(k)))

    val stages = stageTimes(engine)
    val roof = Roofline.measure(fx, RooflineSeconds)
    val kernelMbS =
      if (isDelivery) roof.aesMbS
      else 1.0 / (1.0 / roof.aesMbS + 1.0 / roof.inflateMbS)
    val rooflineMbS = kernelMbS * nproc
    val caught = selftest()

    val stageTree = tracer.all.filter(_.run == "stages")
    def selfS(layer: String): Double = stageTree
      .filter(s => s.name.startsWith(layer + "."))
      .map(s => Span.selfNs(s, stageTree)).sum / 1e9

    val runMetrics = perRun.head.map(_._1).filter(_ != "run_s")
    stages ++ runMetrics.map(n => (n, med(n), unitOf(n))) ++ Seq(
      ("source.scan_share_of_run", stages.find(_._1 == "source.scan_s").get._2 /
        e2e("run_s"), "ratio"),
      ("crypto.aes_ctr_mb_s_1core", roof.aesMbS, "MB/s"),
      ("crypto.gunzip_mb_s_1core", roof.inflateMbS, "MB/s"),
      ("crypto.roofline_mb_s", rooflineMbS, "MB/s"),
      ("crypto.roofline_frac", e2e("deliver_mb_s") / rooflineMbS, "ratio"),
      ("self_s.source", selfS("source"), "s"),
      ("self_s.keys", selfS("keys"), "s"),
      ("self_s.pipeline", selfS("pipeline"), "s"),
      ("self_s.transport", selfS("transport"), "s"),
      ("self_s.delivery", selfS("delivery"), "s"),
      ("trace.run_s", med("run_s"), "s"),
      ("trace.overhead_frac", med("run_s") / e2e("run_s") - 1.0, "ratio"),
      ("selftest.caught", caught.toDouble, "count"),
      ("failed_frac", failed.toDouble / attempted, "ratio"))
  }

  private def unitOf(name: String): String =
    if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else if (name.contains("bytes")) "bytes"
    else "count"

  /** Each public stage function once, on the same inputs as the runs: its
    * output is cached and counted, so the next stage starts from
    * materialised input and each span holds one stage's work. */
  private def stageTimes(engine: EngineListener): Seq[Metric] = {
    val sc = spark.sparkContext
    val cached = ArrayBuffer.empty[DataFrame]
    def materialise(df: DataFrame): DataFrame = {
      val c = df.persist(StorageLevel.MEMORY_ONLY)
      c.count()
      cached += c
      c
    }
    def stage[T](root: Long, name: String)(body: Long => T): (T, Double, EngineStats) = {
      ListenerBusDrain(sc)
      engine.reset()
      val t0 = System.nanoTime()
      var id = 0L
      val out = tracer.span(name, root, "stages") { i => id = i; body(i) }
      val s = since(t0)
      ListenerBusDrain(sc)
      val st = engine.stats
      st.jobIntervals.foreach { case (a, b) =>
        tracer.spans.add(Span(Span.newId(), id, "stages", "spark.job", a, b)) }
      (out, s, st)
    }
    val keys = new TracedKeys(LocalKeyService, tracer)
    try tracer.span("stages", 0L, "stages") { root =>
      if (isDelivery) prepareDelivery()
      val (scan, scanS, scanSt) = stage(root, "source.read") { _ =>
        materialise(EncryptedSnapshotSource.read(spark, inDir.toString)) }
      val (valid, _) = quarantine(withTopic(scan))
      val (fresh, antiS, _) =
        if (isDelivery) stage(root, "pipeline.filterFinished") { _ =>
          materialise(filterFinished(valid,
            Delivery.finishedMarkers(spark, statusDir.toString), reprocess = false)) }
        else (valid, 0.0, null)
      val freshRatio = fresh.count().toDouble / scan.count()
      val (keyed, _, _) = stage(root, "pipeline.resolveKeys") { id =>
        keys.parent = id
        keys.run = "stages"
        materialise(resolveKeys(fresh, keys))
      }
      val (decrypted, decS, _) = stage(root, "pipeline.decrypt") { _ =>
        materialise(decrypt(keyed)) }
      val decMb = (if (isDelivery) fx.fresh else fx.files).map(_.bytes).sum / 1e6

      val (parseS, nRecords) =
        if (isDelivery) (0.0, 0L)
        else {
          val (_, s, _) = stage(root, "pipeline.explodeParse") { _ =>
            parseRecords(explodeRecords(decrypted))
              .write.format("noop").mode("overwrite").save() }
          (s, explodeRecords(decrypted).count())
        }

      val (markersS, statusS) =
        if (!isDelivery) (0.0, 0.0)
        else {
          val sends = SendStats(sc)
          stage(root, "delivery.deliverVia") { id =>
            Delivery.deliverVia(
              PipelineMetrics.observeDelivery(nifiHeaders(decrypted, DeliveryConf())),
              statusDir.toString, TracedTransport(HttpTransport(rx.url), sends, id, "stages"))
          }
          tracer.spans.addAll(sends.spans.value)
          val (markers, m1, _) = stage(root, "delivery.finishedMarkers") { _ =>
            materialise(Delivery.finishedMarkers(spark, statusDir.toString)) }
          val (sent, m2, _) = stage(root, "delivery.sentCounts") { _ =>
            materialise(Delivery.sentCounts(markers)) }
          val (statuses, s1, _) = stage(root, "delivery.collectionStatus") { _ =>
            materialise(Delivery.collectionStatus(expected, sent)) }
          val (_, s2, _) = stage(root, "delivery.runCompletion") { _ =>
            Delivery.runCompletion(statuses, "perfbench").collect() }
          (m1 + m2, s1 + s2)
        }

      Seq(
        ("source.scan_s", scanS, "s"),
        ("source.scan_tasks", scanSt.tasks.toDouble, "count"),
        ("source.scan_bytes", scanSt.inputBytes.toDouble, "bytes"),
        ("pipeline.antijoin_s", antiS, "s"),
        ("pipeline.fresh_ratio", freshRatio, "ratio"),
        ("pipeline.decrypt_s", decS, "s"),
        ("pipeline.decrypt_mb_s", decMb / decS, "MB/s"),
        ("pipeline.parse_s", parseS, "s"),
        ("pipeline.records", nRecords.toDouble, "count"),
        ("delivery.markers_read_s", markersS, "s"),
        ("delivery.status_s", statusS, "s"))
    } finally cached.foreach(_.unpersist(blocking = true))
  }

  /** Proves the verifier can fail: one run whose transport flips a byte
    * of one file and one whose transport drops it must both be caught.
    * These runs are not counted as attempts. Returns how many were. */
  private def selftest(): Int = {
    val target = fx.files.map(_.encName).filterNot(fx.premarked).min
    Seq(FlipByteTransport(HttpTransport(rx.url), target),
      DropFileTransport(HttpTransport(rx.url), target)).count { t =>
      OperatorCaches.withCaches {
        prepareDelivery()
        val res = delivery(LocalKeyService, t)
        try { verifyDelivery(res); false }
        catch { case _: VerificationFailed => true }
      }
    }
  }

  // ---- artifact -----------------------------------------------------------

  private def writeArtifact(e2e: Seq[Metric], layers: Seq[Metric],
      times: Seq[Double], setups: Seq[Double], correct: Boolean): Unit = {
    Files.createDirectories(artifacts)
    def metrics(ms: Seq[Metric]) =
      Obj(ms.map { case (n, v, u) => n -> Obj("value" -> v, "unit" -> u) }: _*)
    def layer(n: String) = layers.find(_._1 == n).map(_._2)
    val findings = Seq(
      layer("crypto.roofline_frac").map(f => f"${workload.name} runs at ${f * 100}%.2f%% of " +
        f"the $nproc-core single-kernel roofline (${layer("crypto.roofline_mb_s").get}%.1f " +
        f"MB/s); gap to roofline ${(1 - f) * 100}%.2f%%"),
      layer("source.scan_share_of_run").map(s => f"source.scan_s is ${s * 100}%.1f%% " +
        f"of run_s on ${workload.name}"),
      layer("trace.overhead_frac").map(o => f"tracing overhead ${o * 100}%.1f%% of run_s"))
      .flatten
    val art = Obj(
      "stamp" -> stamp(),
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.toSeq,
      "client" -> "closed loop, one client, one run at a time",
      "run_s_samples" -> times,
      "setup_s_samples" -> setups,
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layers),
      "findings" -> findings,
      "spans" -> tracer.all.sortBy(_.startNs).map(s => Obj(
        "id" -> s.id, "parent" -> s.parent, "run" -> s.run, "name" -> s.name,
        "start_s" -> (s.startNs - T0) / 1e9, "end_s" -> (s.endNs - T0) / 1e9)))
    Files.write(artifacts.resolve(s"${workload.name}-seed$seed-trace${if (trace) 1 else 0}.json"),
      Json(art).getBytes(UTF_8))
  }

  /** Host witness: memory copy bandwidth in GB/s, over 32 MB buffers
    * per thread. Measured after the timed runs. */
  private def copyGbS(threads: Int): Double = {
    val bufs = (0 until threads).map(_ => (new Array[Byte](32 << 20), new Array[Byte](32 << 20)))
    bufs.foreach { case (a, b) => System.arraycopy(a, 0, b, 0, a.length) }
    val t0 = System.nanoTime()
    val ts = bufs.map { case (a, b) => new Thread(() =>
      (1 to 8).foreach(_ => System.arraycopy(a, 0, b, 0, a.length))) }
    ts.foreach(_.start()); ts.foreach(_.join())
    threads * 8.0 * (32 << 20) / 1e9 / since(t0)
  }

  private def stamp(): Obj = {
    val memTotal = readProc("/proc/meminfo", "MemTotal")
    val cpu = readProc("/proc/cpuinfo", "model name")
    Obj(
      "workload" -> workload.name,
      "seed" -> seed,
      "seconds" -> seconds,
      "trace" -> trace,
      "nproc" -> nproc,
      "cpu_model" -> cpu,
      "mem_total" -> memTotal,
      "copy_gb_s_1thread" -> copyGbS(1),
      "copy_gb_s_all_threads" -> copyGbS(nproc),
      "xmx" -> sys.props.getOrElse("perfbench.xmx", "?"),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory(),
      "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "git_sha" -> sys.props.getOrElse("perfbench.gitSha", "unknown"),
      "program_source_sha256" -> sys.props.getOrElse("perfbench.sourceHash", "unknown"),
      "sizes" -> Obj(
        "topics" -> fx.topics.map(t => Obj("topic" -> t.name, "files" -> t.files,
          "records_per_file" -> t.recordsPerFile)),
        "files" -> fx.files.size,
        "premarked" -> fx.premarked.size,
        "records" -> fx.totalRecords,
        "encrypted_bytes" -> fx.totalBytes))
  }
}

object Bench {
  val SetupRounds = 3
  /** Untimed runs after the set-ups: the JIT keeps speeding runs up for
    * well over ten runs, so timing starts only after this many seconds. */
  val WarmupSeconds = 6.0
  val MinRuns = 3
  val RooflineSeconds = 1.0
  private val T0 = System.nanoTime()

  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The process's peak resident set (VmHWM), MB. */
  def peakRssMb(): Double =
    readProc("/proc/self/status", "VmHWM").split("\\s+").head.toDouble / 1024

  def readProc(file: String, key: String): String =
    Files.readAllLines(Paths.get(file)).asScala
      .find(_.startsWith(key)).map(_.split(":", 2)(1).trim).getOrElse("?")
}

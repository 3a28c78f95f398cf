package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Observation}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.functions.{count, count_if, lit, sum}

import graft.operators.{PipelineMetrics, SnapshotJob}
import graft.operators.SnapshotPipeline.{isValid, withTopic, DeliveryConf}
import graft.sources.{EncryptedSnapshotSource, LocalKeyService, SnapshotFixture}
import graft.sources.SnapshotFixture.Topic

/** The scan's cost in Spark jobs does not grow with the file count.
  * Fixtures sit above `spark.sql.sources.parallelPartitionDiscovery
  * .threshold` (32 paths, left at its default), where handing Spark one
  * explicit path per file would start a listing job; and the run's
  * quarantined / blocked counts come from the scan's observation, exact
  * without a counting pass of their own. A read that needs no file
  * content does not scan it. */
class SnapshotScanSpec extends SparkSuite {
  import spark.implicits._

  private val threshold = 32

  /** `objects` snapshot files plus their sidecars, in two topics. */
  private def fixture(objects: Int): String = {
    val d = s"/tmp/graft-fixture-scan-$objects"
    val sent = objects / 10
    SnapshotFixture.generate(d, Seq(
      Topic("core", "claimant", objects - sent, 5),
      Topic("database", "sent", sent, 5)))
    d
  }

  private def expected(objects: Int) = Seq(
    ("db.core.claimant", (objects - objects / 10).toLong),
    ("db.database.sent", (objects / 10).toLong)).toDF("topic", "FilesExported")

  private def freshDirs(tag: String): (String, String) =
    (Files.createTempDirectory(s"graft-scan-out-$tag").toString,
      Files.createTempDirectory(s"graft-scan-status-$tag").toString)

  /** Runs `body` and counts the Spark jobs it started. Listener delivery
    * is asynchronous but ordered: once a marker job run afterwards has
    * been seen, every earlier job start has been too. */
  private def jobsStartedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = "graft.test.marker"
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(marker) != null))
          flushed.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(marker, null)
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus not flushed")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("building the scan over 2x the discovery threshold starts no job") {
    val dir = fixture(100)
    val sidecars = Paths.get(dir).toFile.listFiles()
      .count(_.getName.endsWith(".meta.json"))
    assert(sidecars >= 2 * threshold)
    val (scan, jobs) = jobsStartedBy(EncryptedSnapshotSource.read(spark, dir))
    assert(jobs == 0)
    assert(scan.filter($"iv".isNotNull).count() == 100)
  }

  test("a run starts the same number of jobs on 40 and on 120 input files") {
    def runJobs(objects: Int): Int = {
      val (out, status) = freshDirs(s"jobs-$objects")
      val (res, jobs) = jobsStartedBy(SnapshotJob.run(spark, fixture(objects),
        out, status, expected(objects), LocalKeyService))
      assert(res.quarantined == 0 && res.blocked == 0)
      jobs
    }
    runJobs(20) // warm-up: first-run-only work (codegen, registration)
    assert(runJobs(20) == runJobs(60))
  }

  test("quarantined and blocked stay exact: an orphan in a blocked topic") {
    val dir = Files.createTempDirectory("graft-scan-orphan").toString
    Paths.get(fixture(100)).toFile.listFiles()
      .filter(f => f.getName.endsWith(".enc") || f.getName.endsWith(".meta.json"))
      .foreach(f => Files.copy(f.toPath, Paths.get(dir, f.getName)))
    // valid name, no sidecar: quarantined, NOT counted as blocked
    Files.write(Paths.get(dir, "db.database.sent-045-050-999999.txt.gz.enc"),
      Array[Byte](1, 2, 3, 4))
    val (out, status) = freshDirs("orphan")
    val conf = DeliveryConf(blockedTopics = Seq("db.database.sent"))
    val collector = PipelineMetrics.install(spark)
    try {
      val res = SnapshotJob.run(spark, dir, out, status, expected(100),
        LocalKeyService, conf)
      assert(res.quarantined == 1)
      assert(res.blocked == 10)
      // files_blocked keeps counting every row in a blocked topic
      val scan = collector.await("graft_scan")
      assert(scan("files_scanned") == 101)
      assert(scan("files_blocked") == 11)
      assert(scan("files_valid_blocked") == 10)

      // a re-run with nothing fresh still reports the orphan
      val again = SnapshotJob.run(spark, dir, out, status, expected(100),
        LocalKeyService, conf)
      assert(again.quarantined == 1 && again.blocked == 10)
    } finally spark.listenerManager.unregister(collector)
  }

  test("snapshot files without any sidecar all quarantine; nothing throws") {
    val dir = Files.createTempDirectory("graft-scan-nometa").toString
    Paths.get(fixture(100)).toFile.listFiles()
      .filter(_.getName.endsWith(".enc"))
      .foreach(f => Files.copy(f.toPath, Paths.get(dir, f.getName)))
    assert(EncryptedSnapshotSource.readMeta(spark, dir).count() == 0)
    val (out, status) = freshDirs("nometa")
    val res = SnapshotJob.run(spark, dir, out, status, expected(100),
      LocalKeyService)
    assert(res.quarantined == 100 && res.blocked == 0)
    assert(res.statuses.filter($"FilesSent" > 0).count() == 0)
  }

  test("listing-only reads prune the file content out of the binaryFile scan") {
    def binaryScanFields(df: DataFrame): Seq[Seq[String]] =
      df.queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec
            if s.relation.fileFormat.isInstanceOf[BinaryFileFormat] =>
          s.requiredSchema.fieldNames.toSeq
      }
    val dir = fixture(20)
    val listing = EncryptedSnapshotSource.read(spark, dir)
      .select($"fileName", $"length")
    // the shape of PipelineMetrics.scanCounts' fallback aggregate
    val counted = PipelineMetrics.observeScan(
        withTopic(EncryptedSnapshotSource.read(spark, dir)), Nil,
        Observation("graft_scan_pruning"))
      .agg(count(lit(1)), count_if(!isValid), sum($"length"))
    for (df <- Seq(listing, counted)) {
      val scans = binaryScanFields(df)
      assert(scans.nonEmpty, df.queryExecution.sparkPlan.toString)
      scans.foreach(f => assert(!f.contains("content"), s"content read: $f"))
    }
    assert(listing.count() == 20)
    assert(counted.first().getLong(0) == 20)
  }

  test("empty directory yields an empty relation, not an error") {
    val empty = Files.createTempDirectory("graft-scan-empty").toString
    assert(EncryptedSnapshotSource.read(spark, empty).count() == 0)
    assert(EncryptedSnapshotSource.readMeta(spark, empty).count() == 0)
  }

  test("a missing input directory fails the sidecar scan as it does the .enc scan") {
    val missing = s"${Files.createTempDirectory("graft-scan-gone")}/absent"
    val meta = intercept[AnalysisException](
      EncryptedSnapshotSource.readMeta(spark, missing))
    val enc = intercept[AnalysisException](
      EncryptedSnapshotSource.read(spark, missing))
    assert(meta.getCondition == "PATH_NOT_FOUND")
    assert(enc.getCondition == "PATH_NOT_FOUND")
  }
}

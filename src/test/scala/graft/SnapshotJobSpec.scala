package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{Delivery, SnapshotJob, SnapshotPipeline}
import graft.sources.{LocalKeyService, SnapshotFixture}

/** End-to-end pipeline invariants, mirroring the reference's integration
  * assertions (SnapshotSenderIntegrationTest.kt:39-102): one delivered
  * file + one `.finished` marker per input, every output is valid gzip
  * JSONL with the expected record count, success indicators exactly for
  * sent/empty topics, and per-collection statuses Sent/Received. */
class SnapshotJobSpec extends SparkSuite {
  import spark.implicits._

  private val files = 20
  private val records = 50
  private lazy val fixtureDir = {
    val d = "/tmp/graft-fixture-it"
    SnapshotFixture.generate(d, SnapshotFixture.defaultTopics(files, records))
    d
  }

  private def freshDirs(tag: String): (String, String) = {
    val out = Files.createTempDirectory(s"graft-out-$tag").toString
    val status = Files.createTempDirectory(s"graft-status-$tag").toString
    (out, status)
  }

  private def expectedDf = Seq(
    ("db.core.claimant", files.toLong),
    ("db.database.sent", (files / 10).toLong),
    ("db.database.empty", 0L)).toDF("topic", "FilesExported")

  test("full run: delivery, markers, statuses, success files, completion") {
    val (out, status) = freshDirs("full")
    val res = SnapshotJob.run(spark, fixtureDir, out, status, expectedDf,
      LocalKeyService)

    // one .json.gz per input file, under its topic dir
    val claimant = Paths.get(out, "db.core.claimant").toFile.listFiles()
      .filter(_.getName.endsWith(".json.gz"))
    assert(claimant.length == files)
    assert(claimant.forall(_.getName.matches(
      "db\\.core\\.claimant-045-050-\\d{6}\\.json\\.gz")))

    // one .finished marker per delivered file, body "Finished <name>"
    val markers = Paths.get(status).toFile.listFiles()
      .filter(_.getName.endsWith(".finished"))
    assert(markers.length == files + files / 10)
    val m0 = markers.minBy(_.getName)
    val body = new String(Files.readAllBytes(m0.toPath))
    assert(body == s"Finished ${m0.getName.stripSuffix(".finished")}")

    // statuses: Sent for delivered topics, Received for the empty one
    val st = res.statuses.select("topic", "CollectionStatus", "FilesSent")
      .as[(String, String, Long)].collect().toMap2
    assert(st("db.core.claimant") == (("Sent", files.toLong)))
    assert(st("db.database.sent") == (("Sent", (files / 10).toLong)))
    assert(st("db.database.empty") == (("Received", 0L)))

    // success indicators for Sent + Received topics
    assert(Files.exists(Paths.get(out, "db.core.claimant",
      "_core_claimant_successful.gz")))
    assert(Files.exists(Paths.get(out, "db.database.empty",
      "_database_empty_successful.gz")))

    // completion rollup
    val comp = res.completion.select("completionStatus").as[String].collect()
    assert(comp.toSeq == Seq("COMPLETED_SUCCESSFULLY"))
    assert(res.quarantined == 0 && res.blocked == 0)
  }

  test("delivered payloads are valid gzip JSONL with `records` parseable lines") {
    val recs = SnapshotJob.records(spark, fixtureDir, LocalKeyService)
    val perFile = recs.groupBy("fileName").agg(count(lit(1)).as("n"))
      .select("n").as[Long].collect()
    assert(perFile.nonEmpty && perFile.forall(_ == records))
    // typed fields survived the Mongo extended-JSON parse
    val row = recs.select(col("record._id.citizenId"), col("record._version"),
        col("createdAt")).filter(col("record._id.citizenId") ===
        "db.core.claimant/0/0").head()
    assert(row.getString(0) == "db.core.claimant/0/0")
    assert(!row.isNullAt(1) && row.getInt(1) >= 1)
    assert(row.getTimestamp(2).toString.startsWith("2015-03-01"))
  }

  test("the plaintext data key leaves neither decrypt nor the records view") {
    val keyed = SnapshotPipeline.resolveKeys(SnapshotPipeline.quarantine(
      SnapshotPipeline.withTopic(
        graft.sources.EncryptedSnapshotSource.read(spark, fixtureDir)))._1,
      LocalKeyService)
    assert(keyed.columns.contains("plaintextDataKey"))
    val decrypted = SnapshotPipeline.decrypt(keyed)
    val recs = SnapshotJob.records(spark, fixtureDir, LocalKeyService)
    Seq(decrypted, recs).foreach { df =>
      assert(!df.columns.contains("plaintextDataKey"), df.columns.mkString(", "))
    }
  }

  test("re-run is idempotent: anti-join skips all finished files") {
    val (out, status) = freshDirs("rerun")
    SnapshotJob.run(spark, fixtureDir, out, status, expectedDf, LocalKeyService)

    // second run must find nothing fresh
    val scanned = SnapshotPipeline.withTopic(
      graft.sources.EncryptedSnapshotSource.read(spark, fixtureDir))
    val fresh = SnapshotPipeline.filterFinished(scanned,
      Delivery.finishedMarkers(spark, status), reprocess = false)
    assert(fresh.count() == 0)

    // …unless reprocess.files=true bypasses the filter (reference flag)
    val bypass = SnapshotPipeline.filterFinished(scanned,
      Delivery.finishedMarkers(spark, status), reprocess = true)
    assert(bypass.count() == files + files / 10)

    // and statuses stay Sent with unchanged counts after a re-run
    val res2 = SnapshotJob.run(spark, fixtureDir, out, status, expectedDf,
      LocalKeyService)
    val st = res2.statuses.select("topic", "CollectionStatus", "FilesSent")
      .as[(String, String, Long)].collect().toMap2
    assert(st("db.core.claimant") == (("Sent", files.toLong)))
  }

  test("blocked topics are split out, not delivered, and count as ok") {
    val (out, status) = freshDirs("blocked")
    val res = SnapshotJob.run(spark, fixtureDir, out, status, expectedDf,
      LocalKeyService,
      SnapshotPipeline.DeliveryConf(blockedTopics = Seq("db.database.sent")))
    assert(res.blocked == files / 10)
    assert(!Files.exists(Paths.get(out, "db.database.sent")))
    val st = res.statuses.filter(col("topic") === "db.database.sent")
      .select("CollectionStatus").as[String].head()
    // Blocked_Topic ∈ A3's ok-set: a run that skipped a blocklisted
    // collection on purpose still completes (SURVEY.md A3)
    assert(st == "Blocked_Topic")
    assert(res.completion.select("completionStatus").as[String].head() ==
      "COMPLETED_SUCCESSFULLY")
  }

  test("orphan object without a sidecar quarantines; run still completes") {
    val orphanDir = Files.createTempDirectory("graft-orphan").toString
    Paths.get(fixtureDir).toFile.listFiles().foreach { f =>
      Files.copy(f.toPath, Paths.get(orphanDir, f.getName))
    }
    // valid grammar, valid ciphertext shape — but NO .meta.json sidecar
    Files.write(Paths.get(orphanDir, "db.core.claimant-045-050-999999.txt.gz.enc"),
      Array[Byte](1, 2, 3, 4))
    val (out, status) = freshDirs("orphan")
    val res = SnapshotJob.run(spark, orphanDir, out, status, expectedDf,
      LocalKeyService)
    assert(res.quarantined == 1)
    val st = res.statuses.select("topic", "CollectionStatus")
      .as[(String, String)].collect().toMap
    assert(st("db.core.claimant") == "Sent") // the intact files all delivered
  }

  test("a directory with zero snapshot files flows to Received, not a crash") {
    val emptyDir = Files.createTempDirectory("graft-empty-in").toString
    val (out, status) = freshDirs("empty")
    val res = SnapshotJob.run(spark, emptyDir, out, status,
      Seq(("db.database.empty", 0L)).toDF("topic", "FilesExported"),
      LocalKeyService)
    val st = res.statuses.select("CollectionStatus").as[String].collect()
    assert(st.toSeq == Seq("Received"))
    assert(res.completion.select("completionStatus").as[String].head() ==
      "COMPLETED_SUCCESSFULLY")
  }

  implicit private class TupleSeqOps(rows: Array[(String, String, Long)]) {
    def toMap2: Map[String, (String, Long)] =
      rows.map { case (k, a, b) => k -> ((a, b)) }.toMap
  }
}

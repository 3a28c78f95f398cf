package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SnapshotJob.RunResult

/** A run whose output differs from the generator's truth. */
final class VerificationFailed(problems: Seq[String]) extends RuntimeException(
  s"${problems.size} problem(s): ${problems.take(5).mkString("; ")}")

/** Output checks, run after the timed region. Expected values come from
  * the generator ([[Fixture]]), never from the program's own paths. */
object Verify {

  /** A delivery run: receiver content, markers, statuses, completion,
    * success indicators and the program's observe counters. */
  def delivery(fx: Fixture, rx: Receiver, statusDir: Path, outDir: Path,
      res: RunResult, observed: Map[String, Map[String, Long]]): Unit = {
    val problems = Seq.newBuilder[String]

    val expected = fx.fresh.map(f => f.outputName -> f).toMap
    val got = rx.bodies.asScala.map { case (k, v) => k -> v.asScala.toSeq }
    (got.keySet -- expected.keySet).toSeq.sorted.take(3)
      .foreach(n => problems += s"unexpected delivery '$n'")
    expected.values.toSeq.sortBy(_.outputName).foreach { f =>
      got.get(f.outputName) match {
        case None => problems += s"'${f.outputName}' never reached the receiver"
        case Some(bs) if bs.size != 1 =>
          problems += s"'${f.outputName}' delivered ${bs.size} times"
        case Some(bs) if !java.util.Arrays.equals(bs.head, f.plainGzip) =>
          problems += s"'${f.outputName}' body differs from gzip(JSONL)"
        case _ =>
      }
    }

    val markers = Io.names(statusDir).filter(_.endsWith(".finished"))
    val wantMarkers = fx.files.map(_.encName + ".finished").toSet
    if (markers != wantMarkers)
      problems += s"markers: ${(wantMarkers -- markers).size} missing, " +
        s"${(markers -- wantMarkers).size} unexpected"

    val statuses = res.statuses.select("topic", "CollectionStatus", "FilesSent")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    fx.manifest.foreach { case (topic, n) =>
      val want = (if (n == 0) "Received" else "Sent", n)
      if (!statuses.get(topic).contains(want))
        problems += s"status of $topic is ${statuses.get(topic)}, want $want"
    }
    val completion = res.completion.select("completionStatus").collect()
      .map(_.getString(0)).toSeq
    if (completion != Seq("COMPLETED_SUCCESSFULLY"))
      problems += s"completion is $completion"
    if (res.quarantined != 0 || res.blocked != 0)
      problems += s"quarantined ${res.quarantined}, blocked ${res.blocked}"

    fx.indicators(outDir).filterNot(Files.exists(_))
      .foreach(p => problems += s"no success indicator $p")

    def obs(family: String, field: String): Long =
      observed.getOrElse(family, Map.empty).getOrElse(field, -1L)
    Seq(
      ("graft_scan", "files_scanned", fx.files.size.toLong),
      ("graft_scan", "files_rejected", 0L),
      ("graft_scan", "bytes_scanned", fx.totalBytes),
      ("graft_delivery", "files_delivered", fx.fresh.size.toLong),
      ("graft_delivery", "bytes_delivered", fx.fresh.map(_.bytes).sum))
      .foreach { case (fam, field, want) =>
        if (obs(fam, field) != want)
          problems += s"observe $fam.$field = ${obs(fam, field)}, want $want"
      }

    val all = problems.result()
    if (all.nonEmpty) throw new VerificationFailed(all)
  }

  /** The records view: rows and distinct citizenIds per (topic,
    * _version) against the generator's arithmetic. Record r of a file has
    * _version 1 + r % 3 and a citizenId unique to (topic, file, r), so
    * both counts must equal files × #{r : r % 3 = _version - 1}. */
  def records(fx: Fixture, records: DataFrame): Unit = {
    val got = records
      .groupBy(col("topic"), col("record._version").cast("string").as("v"))
      .agg(count(lit(1)).as("n"), count_distinct(col("record._id.citizenId")).as("d"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val want = (for {
      t <- fx.topics if t.files > 0
      v <- 1 to 3
      n = t.files.toLong * (0 until t.recordsPerFile).count(_ % 3 == v - 1)
    } yield (t.name, v.toString) -> ((n, n))).toMap
    if (got != want) {
      val keys = (got.keySet ++ want.keySet).toSeq.sortBy(_.toString)
      throw new VerificationFailed(keys.filter(k => got.get(k) != want.get(k))
        .map(k => s"(rows, distinct citizenId) of $k: got ${got.get(k)}, want ${want.get(k)}"))
    }
  }
}

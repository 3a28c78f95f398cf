package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB oracle strings are the correctness check of every registered
  * query, so a refactor of the code that builds them must not change them.
  * `oracle_sql.sha256` pins each `Registry.oracleSql` entry by the SHA-256
  * of its UTF-8 bytes, one `<sha>  <query name>` line per query, sorted by
  * name. A change that means to move an oracle regenerates the file with
  * `sbt "Test/runMain graft.OracleSqlPin"` in the same commit and names the
  * changed queries in its message.
  */
object OracleSqlPin {
  val resource = "/oracle_sql.sha256"

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** name -> hash of the oracle SQL the registry builds now. */
  def current: Map[String, String] =
    Registry.oracleSql.map { case (name, sql) => name -> sha256(sql) }

  def render(hashes: Map[String, String]): String =
    hashes.toSeq.sortBy(_._1)
      .map { case (name, sha) => s"$sha  $name\n" }.mkString

  def parse(text: String): Map[String, String] =
    text.linesIterator.filter(_.nonEmpty).map { l =>
      val Array(sha, name) = l.split("  ", 2)
      name -> sha
    }.toMap

  /** Rewrites the golden test resource of this repo. */
  def main(args: Array[String]): Unit = {
    val out = Paths.get(s"src/test/resources$resource")
    val hashes = current
    Files.createDirectories(out.getParent)
    Files.writeString(out, render(hashes))
    println(s"wrote ${hashes.size} oracle hashes to $out")
  }
}

class OracleSqlPinSpec extends AnyFunSuite {
  import OracleSqlPin._

  test("every oracle SQL string matches its pinned SHA-256") {
    val in = getClass.getResourceAsStream(resource)
    assert(in != null, s"missing test resource $resource")
    val golden =
      try parse(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    val now = current
    val changed = now.collect {
      case (name, sha) if golden.get(name).exists(_ != sha) =>
        s"changed  $name  $sha"
    }
    val extra = (now.keySet -- golden.keySet).toSeq
      .map(name => s"extra    $name  ${now(name)}")
    val missing = (golden.keySet -- now.keySet).toSeq
      .map(name => s"missing  $name")
    val diffs = (changed ++ extra ++ missing).toSeq.sorted
    if (diffs.nonEmpty)
      fail(s"${diffs.size} oracle SQL strings differ from $resource:\n" +
        diffs.mkString("\n"))
  }
}

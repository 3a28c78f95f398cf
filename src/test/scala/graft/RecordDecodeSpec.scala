package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.Crypto
import graft.operators.SnapshotPipeline
import graft.plans.CryptoExpressions
import graft.sources.SnapshotFixture

/** The byte-level record decode (`gunzip_lines` + `parse_json_bytes`)
  * against the chain it replaced, written out here as the reference:
  * explode(split(decode(gunzip(content), 'UTF-8'), '\n')), drop empty
  * lines, from_json(line, recordSchema), the same to_timestamp. Both run
  * on the same gzip payloads; rows must match in order. */
class RecordDecodeSpec extends SparkSuite {
  import spark.implicits._

  private def reference(df: DataFrame): DataFrame = {
    CryptoExpressions.register(spark)
    df.withColumn("line",
        explode(split(decode(CryptoExpressions.gunzip(col("content")), "UTF-8"), "\n")))
      .filter(length(col("line")) > 0)
      .drop("content")
      .withColumn("record", from_json(col("line"), SnapshotPipeline.recordSchema))
      .withColumn("createdAt",
        to_timestamp(col("record.createdDateTime.`$date`"),
          "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"))
  }

  private def byteLevel(df: DataFrame): DataFrame =
    SnapshotPipeline.parseRecords(SnapshotPipeline.explodeRecords(df))

  private def files(payloads: Array[Byte]*): DataFrame =
    payloads.zipWithIndex.map { case (p, i) => (s"f$i", p) }
      .toDF("fileName", "content").coalesce(1)

  private def gz(text: String): Array[Byte] = Crypto.gzip(text.getBytes(UTF_8))

  private def rec(n: Int): String = SnapshotFixture.record("db.core.claimant", 1, n)

  /** Both paths' rows, asserted equal; returns them. */
  private def same(payloads: Array[Byte]*): Seq[Row] = {
    val in = files(payloads: _*)
    val want = reference(in).collect().toSeq
    val got = byteLevel(in).collect().toSeq
    assert(byteLevel(in).schema == reference(in).schema)
    assert(got == want)
    got
  }

  test("lines with and without a trailing newline") {
    val lines = (0 until 5).map(rec)
    assert(same(gz(lines.mkString("\n") + "\n")).size == 5)
    assert(same(gz(lines.mkString("\n"))).size == 5)
  }

  test("leading, trailing and consecutive blank lines are dropped") {
    val text = "\n\n" + rec(1) + "\n\n\n" + rec(2) + "\n" + rec(3) + "\n\n"
    assert(same(gz(text)).map(_.getAs[String]("line")) == Seq(rec(1), rec(2), rec(3)))
  }

  test("CRLF line endings, including a bare CRLF line") {
    val text = rec(1) + "\r\n" + rec(2) + "\r\n\r\n" + rec(3) + "\r\n"
    val rows = same(gz(text))
    assert(rows.size == 4)
    assert(rows.map(_.getAs[String]("line")).head == rec(1) + "\r")
    assert(rows(2).isNullAt(rows(2).fieldIndex("record")), "a lone \\r parses to null")
  }

  test("2-, 3- and 4-byte UTF-8 inside string values") {
    val text = Seq("é café", "€ ₤ 中文", "😀 𝄞").zipWithIndex.map { case (s, i) =>
      rec(i).replace("\"addressLine2\":null", s"""\"addressLine2\":\"$s\"""")
    }.mkString("\n")
    val rows = same(gz(text))
    assert(rows.map(_.getAs[Row]("record").getAs[String]("addressLine2")) ==
      Seq("é café", "€ ₤ 中文", "😀 𝄞"))
  }

  test("a malformed line and a [1] line give from_json's all-null struct") {
    val text = Seq(rec(1), """{"type":""", "[1]", rec(2)).mkString("\n")
    val rows = same(gz(text))
    Seq(rows(1), rows(2)).foreach { r =>
      val record = r.getAs[Row]("record")
      assert(record != null && (0 until record.length).forall(record.isNullAt), r)
    }
    assert(rows(3).getAs[Row]("record").getAs[Int]("_version") == 3)
  }

  test("a line longer than the 64 KiB inflate buffer") {
    val long = rec(7).replace("\"addressLine2\":null",
      "\"addressLine2\":\"" + ("x" * 100000) + "\"")
    val rows = same(gz(Seq(rec(1), long, rec(2)).mkString("\n")))
    assert(rows(1).getAs[Row]("record").getAs[String]("addressLine2").length == 100000)
  }

  test("two concatenated gzip members decode as one stream") {
    val member1 = gz(rec(1) + "\n" + rec(2) + "\n")
    val member2 = gz(rec(3) + "\n")
    assert(same(member1 ++ member2).size == 3)
  }

  test("the empty gzip payload gives zero rows") {
    assert(same(Crypto.emptyGzip).isEmpty)
  }

  test("lines Jackson's byte bootstrapper would sniff parse as from_json parses them") {
    // a UTF-8 BOM, and NUL bytes where UTF-16/32 detection looks
    val text = Seq("\uFEFF" + rec(1), "\u0000{}", "{\u0000}", rec(2)).mkString("\n")
    assert(same(gz(text), gz(rec(3))).size == 5)
  }

  test("invalid UTF-8 fails with MALFORMED_CHARACTER_CODING on both paths") {
    val bad = Crypto.gzip(rec(1).getBytes(UTF_8) ++ Array(0xC3, 0x28).map(_.toByte))
    def condition(body: => Any): String = intercept[SparkThrowable](body).getCondition
    assert(condition(reference(files(bad)).collect()) == "MALFORMED_CHARACTER_CODING")
    assert(condition(byteLevel(files(bad)).collect()) == "MALFORMED_CHARACTER_CODING")
  }

  test("under the legacy coding-error action, bad bytes are replaced as decode replaces them") {
    val bad = Crypto.gzip((rec(1) + "\n").getBytes(UTF_8) ++ Array(0xC3, 0x28).map(_.toByte) ++
      ("\n" + rec(2)).getBytes(UTF_8))
    spark.conf.set("spark.sql.legacy.codingErrorAction", "true")
    try {
      val rows = same(bad)
      assert(rows.map(_.getAs[String]("line")) == Seq(rec(1), "\uFFFD(", rec(2)))
    } finally spark.conf.unset("spark.sql.legacy.codingErrorAction")
  }

  test("the in-pass UTF-8 check accepts exactly what Java's decoder and isValid accept") {
    // short runs of single bytes where well-formedness changes (ASCII,
    // continuation bounds, the C0/C1, E0, ED, F0, F4 leads and F5+) mixed
    // with whole sequences for code points at the edges of each length
    val bytes1 = Seq(0x41, 0x0A, 0x7F, 0x80, 0x8F, 0x90, 0x9F, 0xA0, 0xBF, 0xC0, 0xC1,
      0xC2, 0xDF, 0xE0, 0xE1, 0xEC, 0xED, 0xEE, 0xEF, 0xF0, 0xF1, 0xF3, 0xF4, 0xF5, 0xFF)
      .map(b => Array(b.toByte))
    val sequences = Seq(0x80, 0x7FF, 0x800, 0xD7FF, 0xE000, 0xFFFD, 0x10000, 0x10FFFF)
      .map(cp => new String(Character.toChars(cp)).getBytes(UTF_8))
    val pool = bytes1 ++ sequences
    val rnd = new scala.util.Random(7)
    var valid = 0
    (0 until 20000).foreach { _ =>
      val bytes = Array.fill(1 + rnd.nextInt(5))(pool(rnd.nextInt(pool.length))).flatten
      val decoder = scala.util.Try(UTF_8.newDecoder().decode(java.nio.ByteBuffer.wrap(bytes))).isSuccess
      assert(org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes).isValid == decoder)
      val kernel = scala.util.Try(
        CryptoExpressions.gunzipLinesKernel(Crypto.gzip(bytes), false, false)).isSuccess
      assert(kernel == decoder, bytes.map(b => f"$b%02X").mkString(" "))
      if (decoder) valid += 1
    }
    assert(valid > 2000 && valid < 18000, s"$valid valid inputs: the pool tests too little")
  }
}

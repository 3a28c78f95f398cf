package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Crypto
import graft.operators.SnapshotPipeline
import graft.plans.{CryptoExpressions, JsonBytesParser}
import graft.sources.SnapshotFixture

/** The byte-level record decode (`gunzip_lines` + `parse_json_bytes`)
  * against the chain it replaced, written out here as the reference:
  * explode(split(decode(gunzip(content), 'UTF-8'), '\n')), drop empty
  * lines, from_json(line, recordSchema), the same to_timestamp. Both run
  * on the same gzip payloads; rows must match in order. The per-task
  * struct decoder inside `parse_json_bytes` is checked line by line
  * against `from_json` over generated mutations of fixture records. */
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

  // ---- the struct decoder against from_json, over mutated records ----

  private type Fields = Vector[(String, String)]
  private val mapper = new ObjectMapper()

  /** A JSON object's top-level keys with their values' JSON text. */
  private def fieldsOf(json: String): Fields =
    mapper.readTree(json).properties().asScala
      .map(e => e.getKey -> e.getValue.toString).toVector

  private def render(fields: Fields): String = fields.map { case (k, v) =>
    mapper.writeValueAsString(k) + ":" + v }.mkString("{", ",", "}")

  private val values: Gen[String] = Gen.oneOf("null", "0", "-7", "2147483648", "1.5",
    "1e3", "1.50", "{ \"a\" : 1 }", "true", "\"s\"", "\"\"", "\"é中😀\"",
    "\"2015-03-01T12:23:25.183Z\"", "[]", "[1,\"a\"]", "{}", "{\"citizenId\":\"x\"}",
    "{\"$date\":5}", "{\"type\":{\"a\":1}}")

  private val structKeys = SnapshotPipeline.recordSchema.fields
    .filter(_.dataType.isInstanceOf[StructType]).map(_.name).toSeq

  /** One edit of an object: a value of another type, an unknown key, a
    * repeated key, null / a scalar / an array where a struct is expected,
    * `_version` out of INT range or fractional, or an edit one level down. */
  private def edit(fields: Fields, nested: Boolean): Gen[Fields] = {
    val n = fields.size
    val objects = fields.indices.filter(i => fields(i)._2.startsWith("{"))
    val insert = for (i <- Gen.choose(0, n); k <- Gen.oneOf("zzz", "Type", "_id ", "");
        v <- values) yield fields.patch(i, Seq(k -> v), 0)
    val edits = if (n == 0) Seq(insert) else Seq(
      insert,
      for (i <- Gen.choose(0, n - 1); v <- values) yield fields.updated(i, fields(i)._1 -> v),
      for (i <- Gen.choose(0, n - 1); at <- Gen.choose(0, n);
           v <- Gen.oneOf(Gen.const(fields(i)._2), values))
        yield fields.patch(at, Seq(fields(i)._1 -> v), 0),
      for (k <- Gen.oneOf(structKeys); v <- Gen.oneOf("null", "1", "\"s\"", "[]", "[{}]"))
        yield fields.map { case (key, old) => key -> (if (key == k) v else old) },
      for (v <- Gen.oneOf("2147483648", "1.5"))
        yield fields.map { case (key, old) => key -> (if (key == "_version") v else old) }) ++
      (if (nested || objects.isEmpty) Nil else Seq(
        for (i <- Gen.oneOf(objects); inner <- edit(fieldsOf(fields(i)._2), nested = true))
          yield fields.updated(i, fields(i)._1 -> render(inner))))
    Gen.oneOf(edits).flatMap(identity)
  }

  private val trailing = Gen.oneOf(" 1", "{}", " {\"_version\":2}", "]", "}", ",\"a\"",
    " null", "x", " \"s\"")

  /** A fixture record, edited up to twice, then possibly truncated at a
    * byte, followed by tokens, led by whitespace or wrapped as a
    * top-level array; or a top-level scalar, null, `{}` or `[]`. */
  private val lines: Gen[String] = {
    val edited = for {
      r <- Gen.choose(0, 50).map(rec)
      times <- Gen.choose(0, 2)
      fields <- (0 until times).foldLeft(Gen.const(fieldsOf(r)))((g, _) =>
        g.flatMap(edit(_, nested = false)))
    } yield render(fields)
    Gen.frequency(
      6 -> edited,
      1 -> (for (l <- edited; cut <- Gen.choose(0, l.getBytes(UTF_8).length - 1))
        yield new String(l.getBytes(UTF_8).take(cut), UTF_8)),
      1 -> (for (l <- edited; t <- trailing) yield l + t),
      1 -> (for (l <- edited; w <- Gen.oneOf(" ", "\t", " \r ")) yield w + l),
      1 -> (for (l <- edited; s <- Gen.oneOf(l, "1", "\"s\"", "null", "{}", "[]", "", " "))
        yield if (s eq l) s"[$l]" else s))
  }

  private val sample: Seq[String] = {
    val params = Gen.Parameters.default
    (0 until 3000).map(i => lines.pureApply(params, Seed(20261019L + i)))
  }

  /** Lines that end in tokens after a whole object; the decoder must
    * leave every one of them to Spark's parser. */
  private val trailed: Seq[String] = (0 until 200).map(i =>
    (for (t <- trailing) yield rec(i) + t).pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private def decoderOf(schema: StructType): JsonBytesParser = new JsonBytesParser(
    JsonBytesParser.asNullable(schema).asInstanceOf[StructType], "UTC",
    spark.conf.get("spark.sql.columnNameOfCorruptRecord"))

  /** parse_json_bytes equals from_json on every sampled line; returns the
    * share of lines the decoder read itself. */
  private def sameAsFromJson(schema: StructType): Double = {
    val df = sample.toDF("line")
    val got = df.select(CryptoExpressions.parse_json_bytes($"line", schema)).collect()
    val want = df.select(from_json($"line", schema)).collect()
    sample.indices.foreach { i =>
      assert(got(i) == want(i), s"line ${sample(i)}: ${got(i)} vs from_json ${want(i)}")
    }
    val decoder = decoderOf(schema)
    trailed.foreach(l => assert(decoder.decode(UTF8String.fromString(l)) == null, l))
    sample.count(l => decoder.decode(UTF8String.fromString(l)) != null).toDouble / sample.size
  }

  test("a non-string value in a string field is re-written, as from_json writes it") {
    val text = Seq("1e3", "1.50", "{ \"a\" : [1, 2.0] }").map(v =>
      rec(1).replace("\"addressLine2\":null", s"\"addressLine2\":$v")).mkString("\n")
    val rows = same(gz(text))
    assert(rows.map(_.getAs[Row]("record").getAs[String]("addressLine2")) ==
      Seq("1000.0", "1.5", "{\"a\":[1,2.0]}"))
  }

  test("the decoder reads every fixture line itself") {
    val decoder = decoderOf(SnapshotPipeline.recordSchema)
    val fixture = (0 until 500).map(rec) ++
      Seq(" " + rec(1), rec(2) + "\r", rec(3).replace("\"addressLine2\":null",
        "\"addressLine2\":\"é 中 😀\""))
    fixture.foreach(l => assert(decoder.decode(UTF8String.fromString(l)) != null, l))
  }

  for (partial <- Seq(true, false)) {
    test(s"mutated records decode as from_json decodes them (enablePartialResults=$partial)") {
      spark.conf.set("spark.sql.json.enablePartialResults", partial.toString)
      try {
        val fast = sameAsFromJson(SnapshotPipeline.recordSchema)
        assert(fast > 0.1 && fast < 0.9, s"decoder read $fast of the lines")
      } finally spark.conf.unset("spark.sql.json.enablePartialResults")
    }
  }

  test("with a corrupt-record column every line goes through Spark's parser, as from_json") {
    val schema = SnapshotPipeline.recordSchema
      .add(spark.conf.get("spark.sql.columnNameOfCorruptRecord"), StringType)
    assert(sameAsFromJson(schema) == 0.0)
  }
}

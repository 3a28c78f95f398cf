package graft.plans

import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExprUtils, Expression, GenericInternalRow, StringDecode, TernaryExpression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JacksonParser, JSONOptions}
import org.apache.spark.sql.catalyst.util.{ArrayData, FailureSafeParser, GenericArrayData, PermissiveMode, ResolveDefaultColumns}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MapType, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Crypto

/** Native Catalyst expressions for the ingest hot path (vs Scala UDFs):
  * no ScalaUDF wrapper, no encoder round-trip, and the call participates
  * in whole-stage codegen — the generated Java invokes the static kernel
  * directly on the UnsafeRow's byte[].
  *
  * The crypto kernels run once per *file* row; `gunzip_lines` inflates a
  * file and cuts its JSONL on `'\n'` bytes into zero-copy line slices,
  * and `parse_json_bytes` hands each slice's bytes straight to Jackson.
  * Between decrypt and the typed record, no line is decoded to a Java
  * String or re-encoded.
  *
  * Exposed through the session FunctionRegistry ([[register]]) + public
  * `call_function` — also makes them usable from SQL text.
  */
object CryptoExpressions {

  /** Java-friendly kernel for codegen: UTF8String params avoid a
    * String conversion in the generated code's argument list. */
  def aesCtrKernel(content: Array[Byte], key: UTF8String, iv: UTF8String): Array[Byte] =
    Crypto.aesCtr(content, key.toString, iv.toString)

  def gunzipKernel(content: Array[Byte]): Array[Byte] = Crypto.gunzip(content)

  /** Inflates `content` and returns its non-empty `'\n'`-separated lines as
    * slices of the one inflated buffer (a `'\r'` before the `'\n'` stays on
    * the line, as `split` leaves it). The same pass checks that the buffer
    * is well-formed UTF-8; a file that is not goes through Spark's own
    * `decode(…, 'UTF-8')` with the session's legacy flags, so it fails with
    * MALFORMED_CHARACTER_CODING or, under
    * `spark.sql.legacy.codingErrorAction`, has its bad bytes replaced. */
  def gunzipLinesKernel(
      content: Array[Byte], legacyCharsets: Boolean, legacyErrorAction: Boolean): ArrayData = {
    val buf = Crypto.gunzip(content)
    val lines = new java.util.ArrayList[UTF8String]()
    if (!cutLines(buf, lines)) {
      val decoded = StringDecode.decode(buf, UTF8String.fromString("UTF-8"),
        legacyCharsets, legacyErrorAction).getBytes
      lines.clear()
      cutLines(decoded, lines)
    }
    new GenericArrayData(lines.toArray)
  }

  /** Adds `buf`'s non-empty `'\n'`-separated lines to `lines` as slices of
    * `buf`; false as soon as `buf` is not well-formed UTF-8. An ASCII byte
    * costs one branch; only a byte ≥ 0x80 starts a multi-byte check. */
  private def cutLines(buf: Array[Byte], lines: java.util.ArrayList[UTF8String]): Boolean = {
    var start = 0
    var i = 0
    while (i < buf.length) {
      val b = buf(i)
      if (b >= 0) {
        if (b == '\n') {
          if (i > start) lines.add(UTF8String.fromBytes(buf, start, i - start))
          start = i + 1
        }
        i += 1
      } else {
        val n = utf8SequenceLength(buf, i)
        if (n == 0) return false
        i += n
      }
    }
    if (i > start) lines.add(UTF8String.fromBytes(buf, start, i - start))
    true
  }

  /** Length (2–4) of the well-formed UTF-8 sequence that starts with the
    * byte ≥ 0x80 at `buf(i)`, or 0 if it is ill-formed: the ranges of
    * Unicode Table 3-7, which reject overlong forms, surrogates and code
    * points above U+10FFFF, as Java's decoder and `UTF8String.isValid` do. */
  private def utf8SequenceLength(buf: Array[Byte], i: Int): Int = {
    val b0 = buf(i) & 0xFF
    if (b0 >= 0xC2 && b0 <= 0xDF) {
      if (inRange(buf, i + 1, 0x80, 0xBF)) 2 else 0
    } else if (b0 >= 0xE0 && b0 <= 0xEF) {
      val lo = if (b0 == 0xE0) 0xA0 else 0x80
      val hi = if (b0 == 0xED) 0x9F else 0xBF
      if (inRange(buf, i + 1, lo, hi) && inRange(buf, i + 2, 0x80, 0xBF)) 3 else 0
    } else if (b0 >= 0xF0 && b0 <= 0xF4) {
      val lo = if (b0 == 0xF0) 0x90 else 0x80
      val hi = if (b0 == 0xF4) 0x8F else 0xBF
      if (inRange(buf, i + 1, lo, hi) && inRange(buf, i + 2, 0x80, 0xBF) &&
          inRange(buf, i + 3, 0x80, 0xBF)) 4 else 0
    } else 0
  }

  private def inRange(buf: Array[Byte], j: Int, lo: Int, hi: Int): Boolean =
    j < buf.length && { val c = buf(j) & 0xFF; c >= lo && c <= hi }

  /** Every native expression by SQL name. [[register]] and
    * [[GraftExtensions]] both install exactly this list. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "aes_ctr_decrypt" -> (exprs => AesCtrDecrypt(exprs(0), exprs(1), exprs(2))),
    "gunzip" -> (exprs => Gunzip(exprs.head)),
    "gunzip_lines" -> (exprs => GunzipLines(exprs.head)),
    "parse_json_bytes" ->
      (exprs => ParseJsonBytes(ExprUtils.evalSchemaExpr(exprs(1)), exprs.head)))

  /** Idempotent per-session registration (analysis-time resolution for
    * call_function / SQL). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  def aes_ctr_decrypt(content: Column, keyB64: Column, ivB64: Column): Column =
    call_function("aes_ctr_decrypt", content, keyB64, ivB64)

  def gunzip(content: Column): Column = call_function("gunzip", content)

  def gunzip_lines(content: Column): Column = call_function("gunzip_lines", content)

  def parse_json_bytes(line: Column, schema: StructType): Column =
    call_function("parse_json_bytes", line, lit(schema.json))
}

/** AES-CTR decrypt as a codegen'd ternary expression
  * (content BINARY, key STRING b64, iv STRING b64) → BINARY. */
case class AesCtrDecrypt(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = first.dataType == BinaryType &&
      second.dataType == StringType && third.dataType == StringType
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"aes_ctr_decrypt expects (BINARY, STRING, STRING), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType})")
  }

  override protected def nullSafeEval(content: Any, key: Any, iv: Any): Any =
    CryptoExpressions.aesCtrKernel(content.asInstanceOf[Array[Byte]],
      key.asInstanceOf[UTF8String], iv.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, k, i) =>
      s"graft.plans.CryptoExpressions.aesCtrKernel($c, $k, $i)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "aes_ctr_decrypt"
}

/** gunzip(BINARY) → BINARY as a codegen'd unary expression. */
case class Gunzip(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gunzip expects BINARY, got ${child.dataType}")

  override protected def nullSafeEval(content: Any): Any =
    CryptoExpressions.gunzipKernel(content.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.CryptoExpressions.gunzipKernel($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "gunzip"
}

/** gunzip_lines(BINARY) → ARRAY<STRING>: [[CryptoExpressions.gunzipLinesKernel]]
  * as a codegen'd unary expression; `explode` it for one row per line.
  * Like Spark's `decode`, it takes the session's legacy charset and
  * coding-error flags when it is built. */
case class GunzipLines(
    child: Expression,
    legacyCharsets: Boolean = SQLConf.get.legacyJavaCharsets,
    legacyErrorAction: Boolean = SQLConf.get.legacyCodingErrorAction)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gunzip_lines expects BINARY, got ${child.dataType}")

  override protected def nullSafeEval(content: Any): Any =
    CryptoExpressions.gunzipLinesKernel(
      content.asInstanceOf[Array[Byte]], legacyCharsets, legacyErrorAction)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.CryptoExpressions.gunzipLinesKernel($c, $legacyCharsets, $legacyErrorAction)")

  override protected def flatArguments: Iterator[Any] = Iterator(child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "gunzip_lines"
}

/** `from_json(line, schema)` over the line's UTF-8 bytes. It builds the
  * parser as Spark's `JsonToStructsEvaluator` does: no options, the
  * session time zone, `spark.sql.columnNameOfCorruptRecord`, PERMISSIVE
  * mode, `allowArrayAsStructs = false`, null in → null out. The
  * difference is the source: Jackson reads the line's byte range through
  * its byte-stream parser, not through an `InputStreamReader` (and its
  * 8 KiB decoder) per record, and most lines are read by a decoder built
  * once per task ([[JsonBytesParser]]). */
case class ParseJsonBytes(
    schema: StructType,
    child: Expression,
    timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {
  @transient private lazy val nullableSchema =
    JsonBytesParser.asNullable(schema).asInstanceOf[StructType]

  override def dataType: DataType = nullableSchema
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"parse_json_bytes expects STRING, got ${child.dataType}")

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  @transient private lazy val parser = new JsonBytesParser(
    nullableSchema, timeZoneId.get, SQLConf.get.columnNameOfCorruptRecord)

  override def eval(input: InternalRow): Any =
    parser.parse(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("jsonBytesParser", parser)
    val line = child.genCode(ctx)
    ev.copy(code = line.code + code"""
      InternalRow ${ev.value} = ${line.isNull} ? null : $p.parse(${line.value});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "parse_json_bytes"
}

/** The per-task parser behind [[ParseJsonBytes]]; serialized into the
  * generated code's references, built lazily where it runs.
  *
  * A line that is exactly one JSON object, and whose every field converts
  * cleanly, is read by [[StructDecoder]]s built once per task. Every
  * other line — malformed, a converter that throws, a non-object where a
  * struct is expected, tokens after the object — and every line of a
  * schema the decoders do not cover (one that carries the corrupt-record
  * column, existence defaults or a repeated field name, or unsafe-row
  * output) goes through Spark's own `FailureSafeParser`, as before. Both
  * use one `JacksonParser`'s leaf converters, so a row equals what
  * `from_json` gives by construction. */
final class JsonBytesParser(schema: StructType, timeZoneId: String, corruptColumn: String)
    extends Serializable {

  @transient private lazy val options =
    new JSONOptions(Map.empty[String, String], timeZoneId, corruptColumn)

  /** Spark's parser, built as `from_json` builds it but for one setting.
    * For a non-string value in a STRING field, Spark keeps the value's
    * source text when its parser reads a byte array
    * (`spark.sql.json.enableExactStringParsing`), and re-writes the value
    * when it reads through a `Reader`, as `from_json`'s does: `1e3` reads
    * as "1000.0", `{ "a" : 1 }` as `{"a":1}`. With that setting off, the
    * byte-stream parser re-writes the value too. */
  @transient private lazy val raw = {
    val conf = new SQLConf // a task's own conf is read-only
    SQLConf.get.getAllConfs.foreach { case (k, v) => conf.setConfString(k, v) }
    conf.setConf(SQLConf.JSON_EXACT_STRING_PARSING, false)
    SQLConf.withExistingConf(conf)(new JacksonParser(
      StructType(schema.filterNot(_.name == options.columnNameOfCorruptRecord)),
      options, allowArrayAsStructs = false))
  }

  @transient private lazy val parser: FailureSafeParser[UTF8String] =
    new FailureSafeParser[UTF8String](
      line => raw.parse(line, JsonBytesParser.open, identity[UTF8String]),
      PermissiveMode, schema, options.columnNameOfCorruptRecord)

  /** null when every line takes [[parser]]. */
  @transient private lazy val decoder: StructDecoder =
    if (options.useUnsafeRow || !StructDecoder.covers(schema) ||
        schema.exists(_.name == options.columnNameOfCorruptRecord)) null
    else StructDecoder(schema, raw)

  @transient private lazy val factory = options.buildJsonFactory()

  def parse(line: UTF8String): InternalRow =
    if (line == null) null
    else {
      val row = decode(line)
      if (row != null) row
      else {
        val rows = parser.parse(line)
        if (rows.hasNext) rows.next() else null
      }
    }

  /** The row of a line that is exactly one JSON object whose fields all
    * converted cleanly; null for any other line, which [[parse]] hands
    * to Spark's parser. */
  private[graft] def decode(line: UTF8String): InternalRow =
    if (decoder == null) null
    else {
      val p = JsonBytesParser.open(factory, line)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) null
        else {
          val row = decoder.read(p)
          if (row != null && p.nextToken() == null) row else null
        }
      } catch { case NonFatal(_) => null }
      finally p.close()
    }
}

/** One struct level of [[JsonBytesParser]]'s per-task decoder: the
  * field-name → index map, a decoder for each struct-typed field, and
  * Spark's own converter (`JacksonParser.makeConverter`) for every other
  * field. Spark's `convertObject` re-derives filters and existence
  * defaults for each struct of each record; this is built once. */
private final class StructDecoder(
    size: Int,
    index: java.util.HashMap[String, Integer],
    structs: Array[StructDecoder],
    leaves: Array[JsonParser => AnyRef]) {

  /** Reads the object whose START_OBJECT `p` stands on, as Spark's
    * `convertObject` does: unknown keys are skipped and a repeated key's
    * last value wins. null if a struct-typed field holds neither an
    * object nor null, which Spark's own path decides; a leaf converter
    * that fails throws. */
  def read(p: JsonParser): InternalRow = {
    val row = new GenericInternalRow(size)
    var t = p.nextToken()
    while (t == JsonToken.FIELD_NAME) {
      val i = index.get(p.currentName)
      t = p.nextToken()
      if (i == null) p.skipChildren()
      else {
        val at = i.intValue
        val struct = structs(at)
        if (struct == null) row.update(at, leaves(at)(p))
        else if (t == JsonToken.START_OBJECT) {
          val nested = struct.read(p)
          if (nested == null) return null
          row.update(at, nested)
        } else if (t == JsonToken.VALUE_NULL) row.update(at, null)
        else return null
      }
      t = p.nextToken()
    }
    if (t == JsonToken.END_OBJECT) row else null
  }
}

private object StructDecoder {
  /** Whether decoders cover `st`: neither it nor a struct directly inside
    * it repeats a field name or carries existence defaults, which Spark's
    * own path resolves. */
  def covers(st: StructType): Boolean =
    st.fieldNames.distinct.length == st.length &&
      !ResolveDefaultColumns.hasExistenceDefaultValues(st) &&
      st.fields.forall(_.dataType match {
        case s: StructType => covers(s)
        case _ => true
      })

  def apply(st: StructType, raw: JacksonParser): StructDecoder = {
    val index = new java.util.HashMap[String, Integer]()
    st.fieldNames.zipWithIndex.foreach { case (n, i) => index.put(n, i) }
    new StructDecoder(st.length, index,
      st.fields.map(_.dataType match {
        case s: StructType => apply(s, raw)
        case _ => null
      }),
      st.fields.map(_.dataType match {
        case _: StructType => null
        case dt => raw.makeConverter(dt)
      }))
  }
}

object JsonBytesParser {
  /** Every field, element and value nullable, as `from_json` reads. */
  def asNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Jackson over the line's own bytes. Its byte bootstrapper sniffs the
    * encoding: a NUL in the first two bytes reads as UTF-16/32, and a
    * leading 0xEF may be a UTF-8 BOM it would skip. Such lines, and any
    * line not backed by a byte array, keep Spark's reader-based parser,
    * so every line parses as `from_json` parses it. */
  def open(factory: JsonFactory, line: UTF8String): JsonParser = {
    val n = line.numBytes
    val off = (line.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
    line.getBaseObject match {
      case b: Array[Byte] if n < 2 || (b(off) != 0 && b(off + 1) != 0 && b(off) != 0xEF.toByte) =>
        factory.createParser(b, off, n)
      case _ => CreateJacksonParser.utf8String(factory, line)
    }
  }
}

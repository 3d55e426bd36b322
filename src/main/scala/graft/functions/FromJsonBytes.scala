package graft.functions

import java.io.ByteArrayInputStream

import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `from_json(json, schema)` with no options, parsed from the string's
  * UTF-8 bytes. It runs Spark's own [[JacksonParser]] under a
  * PERMISSIVE [[FailureSafeParser]] with the JSONOptions and session
  * time zone `from_json` uses, so each row's result equals
  * `from_json`'s.
  *
  * Why it exists: `from_json` builds each row's Jackson parser over an
  * `InputStreamReader` (`CreateJacksonParser.utf8String`), i.e. a new
  * stream decoder and its 8 KB buffer per row, then decodes every byte
  * to a char. Here Jackson's UTF-8 byte parser reads the string's
  * backing bytes through a `ByteArrayInputStream` into its own recycled
  * buffer (an off-heap string is first copied to an array). Measured
  * single-threaded over 20k generator records of ~200 bytes: 11,050 →
  * 2,762 bytes allocated and 2,960 → 1,804 ns of CPU per row.
  *
  * Not `createParser(byte[], off, len)`: under Spark's exact string
  * parsing a byte-array source makes `JacksonParser` slice a non-string
  * value of a string field (`"plant_type":7`) out of the array by
  * Jackson's byte offsets, which count from `off`, not from the array's
  * start — it read `"e"` for `7` inside an UnsafeRow — and it would keep
  * the raw text where `from_json` re-serializes the value. A stream
  * source takes the same re-serializing branch as `from_json`'s Reader.
  *
  * Fallback rule — the row goes through `from_json`'s Reader path when
  * [[FromJsonBytes.bytePathExact]] is false (a NUL in the first four
  * bytes, a leading UTF-8 BOM, or bytes that are not well-formed UTF-8)
  * or when the byte parse throws. Jackson's byte source auto-detects
  * UTF-16/32 from NULs, skips a BOM and accepts overlong or surrogate
  * sequences, where the Reader path's UTF-8 decoder keeps U+FEFF and
  * replaces malformed input with U+FFFD; on well-formed UTF-8 both
  * parsers see the same characters. */
case class FromJsonBytes(schema: StructType, child: Expression,
    timeZoneId: Option[String] = None)
  extends UnaryExpression with TimeZoneAwareExpression {

  override def dataType: DataType = GraftShim.asNullable(schema)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"from_json_bytes takes a string, not ${child.dataType.simpleString}")

  // read on the driver, like from_json's
  private val nameOfCorruptRecord: String = SQLConf.get.columnNameOfCorruptRecord

  @transient private lazy val evaluator = new FromJsonBytesEvaluator(
    GraftShim.asNullable(schema), timeZoneId.get, nameOfCorruptRecord)

  override def withTimeZone(tz: String): TimeZoneAwareExpression =
    copy(timeZoneId = Some(tz))

  override def nullSafeEval(json: Any): Any =
    evaluator.evaluate(json.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fromJsonBytes", evaluator)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = $ref.evaluate($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override def prettyName: String = "from_json_bytes"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The per-task parser of [[FromJsonBytes]]: built lazily where it runs,
  * from the driver's schema, time zone and corrupt-record name. */
final class FromJsonBytesEvaluator(schema: StructType, timeZoneId: String,
    nameOfCorruptRecord: String) extends Serializable {

  @transient private lazy val parser: FailureSafeParser[UTF8String] = {
    val options = new JSONOptions(Map.empty[String, String], timeZoneId,
      nameOfCorruptRecord)
    val corrupt = options.columnNameOfCorruptRecord
    val raw = new JacksonParser(StructType(schema.filterNot(_.name == corrupt)),
      options, allowArrayAsStructs = false)
    new FailureSafeParser[UTF8String](json => parseRecord(raw, json),
      options.parseMode, schema, corrupt)
  }

  private def parseRecord(raw: JacksonParser, json: UTF8String): Iterable[InternalRow] = {
    val bb = json.getByteBuffer
    if (FromJsonBytes.bytePathExact(bb.array, bb.arrayOffset + bb.position, bb.remaining))
      try return raw.parse(json, FromJsonBytes.bytesParser, identity[UTF8String])
      catch { case NonFatal(_) => () } // re-parsed below: its failure is from_json's
    raw.parse(json, CreateJacksonParser.utf8String, identity[UTF8String])
  }

  /** The parsed struct, or null when the record holds no value. */
  def evaluate(json: UTF8String): InternalRow = {
    val rows = parser.parse(json)
    if (rows.hasNext) rows.next() else null
  }
}

object FromJsonBytes {
  def col(json: Column, schema: StructType): Column =
    GraftShim.column(FromJsonBytes(schema, GraftShim.expression(json)))

  private[functions] val bytesParser: (JsonFactory, UTF8String) => JsonParser =
    (f, json) => {
      val bb = json.getByteBuffer
      f.createParser(new ByteArrayInputStream(bb.array, bb.arrayOffset + bb.position,
        bb.remaining))
    }

  /** True when Jackson's byte-source parser reads `b(off until off+len)`
    * as exactly the characters a UTF-8 `InputStreamReader` decodes:
    * no NUL among the first four bytes (Jackson would auto-detect
    * UTF-16/32), no leading BOM (Jackson skips it, the Reader keeps
    * U+FEFF), and well-formed UTF-8 throughout (Unicode Table 3-7: no
    * overlong forms, no surrogates, nothing past U+10FFFF — the Reader
    * replaces those, Jackson's byte parser decodes or rejects them). */
  def bytePathExact(b: Array[Byte], off: Int, len: Int): Boolean = {
    val end = off + len
    var i = off
    while (i < end && i < off + 4) { if (b(i) == 0) return false; i += 1 }
    if (len >= 3 && b(off) == 0xEF.toByte && b(off + 1) == 0xBB.toByte &&
      b(off + 2) == 0xBF.toByte) return false
    i = off
    while (i < end) {
      val c = b(i) & 0xFF
      if (c < 0x80) i += 1
      else {
        val n = if (c >= 0xC2 && c <= 0xDF) 1
          else if (c >= 0xE0 && c <= 0xEF) 2
          else if (c >= 0xF0 && c <= 0xF4) 3
          else return false
        if (i + n >= end) return false
        val c1 = b(i + 1) & 0xFF
        val lo = if (c == 0xE0) 0xA0 else if (c == 0xF0) 0x90 else 0x80
        val hi = if (c == 0xED) 0x9F else if (c == 0xF4) 0x8F else 0xBF
        if (c1 < lo || c1 > hi) return false
        var k = 2
        while (k <= n) { if ((b(i + k) & 0xC0) != 0x80) return false; k += 1 }
        i += n + 1
      }
    }
    true
  }
}

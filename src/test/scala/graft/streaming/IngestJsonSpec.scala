package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, JsonToStructs}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.functions.FromJsonBytes

/** Differential spec for st1's byte-path JSON parse: on every input,
  * [[FromJsonBytes]] must equal `from_json(value, Ingest.telemetrySchema)`,
  * row for row — interpreted, in generated code, and through
  * [[Ingest.valueFrame]] over a binary `value`. The corpus is a fixed
  * list of edge cases plus byte mutations (truncate, bit flip, inserted
  * BOM/NUL/0xC3) of generator records sampled from fixed seeds. */
class IngestJsonSpec extends SparkSpec {

  private val schema = Ingest.telemetrySchema

  private lazy val records: Array[Array[Byte]] = {
    import spark.implicits._
    Pipeline.toKafkaValue(Generator.telemetry(spark.range(400).toDF("value")))
      .as[String].collect().map(_.getBytes(UTF_8))
  }

  private def b(s: String): Array[Byte] = s.getBytes(UTF_8)
  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  private val rec =
    """{"timestamp":"2024-01-01 00:00:01.000","plant_type":"solar","region":"north",""" +
      """"power_output":120.5,"demand":99.0,"grid_frequency":50.01,""" +
      """"solar_radiation":700.0,"panel_temperature":35.5}"""
  private def withRegion(region: Array[Byte]): Array[Byte] = {
    val (head, tail) = rec.splitAt(rec.indexOf("north"))
    b(head) ++ region ++ b(tail.stripPrefix("north"))
  }
  private val bom = bytes(0xEF, 0xBB, 0xBF)

  /** The fixed corpus: label -> value bytes. */
  private lazy val fixed: Seq[(String, Array[Byte])] = Seq(
    "valid" -> b(rec),
    "generator record" -> records(0),
    "non-ASCII text" -> withRegion(b("Zürich – 東京 🌞")),
    "surrounding whitespace" -> b(s" \t\n$rec \r\n "),
    "leading BOM" -> (bom ++ b(rec)),
    "BOM then whitespace" -> (bom ++ b(s"  $rec")),
    "BOM inside a string" -> withRegion(bom),
    "invalid UTF-8 in a string" -> withRegion(bytes(0xC3, 0x28)),
    "lone continuation byte" -> withRegion(bytes(0x80)),
    "0xFF in a string" -> withRegion(bytes(0xFF)),
    "overlong NUL" -> withRegion(bytes(0xC0, 0x80)),
    "overlong 3-byte" -> withRegion(bytes(0xE0, 0x80, 0xAF)),
    "UTF-8-encoded surrogate" -> withRegion(bytes(0xED, 0xA0, 0x80)),
    "surrogate pair as two 3-byte forms" ->
      withRegion(bytes(0xED, 0xA0, 0xBD, 0xED, 0xB8, 0x80)),
    "past U+10FFFF" -> withRegion(bytes(0xF4, 0x90, 0x80, 0x80)),
    "0xF5 lead byte" -> withRegion(bytes(0xF5, 0x80, 0x80, 0x80)),
    "truncated multibyte at the end" -> (b(rec) ++ bytes(0xE2, 0x82)),
    "NUL right after {" -> (bytes('{', 0) ++ b(rec.drop(1))),
    "NUL first" -> (bytes(0) ++ b(rec)),
    "NUL late in a string" -> withRegion(bytes('n', 0, 'h')),
    "raw control character in a string" -> withRegion(bytes('n', 1, 'h')),
    "raw tab in a string" -> withRegion(bytes('n', '\t', 'h')),
    "escaped control characters" -> withRegion(b("n\\u0001\\u0000h")),
    "UTF-16LE record" -> rec.getBytes("UTF-16LE"),
    "UTF-16BE record with BOM" -> rec.getBytes("UTF-16"),
    "truncated record" -> b(rec.take(rec.length / 2)),
    "trailing {}" -> b(rec + "{}"),
    "trailing garbage" -> b(rec + "xyz"),
    "[record]" -> b(s"[$rec]"),
    "[record, record]" -> b(s"[$rec,$rec]"),
    "empty" -> b(""),
    "whitespace only" -> b("   "),
    "null" -> b("null"),
    "{}" -> b("{}"),
    "number" -> b("42"),
    "string" -> b("\"x\""),
    "quoted number" -> b(rec.replace("120.5", "\"120.5\"")),
    "bare NaN" -> b(rec.replace("120.5", "NaN")),
    "quoted NaN" -> b(rec.replace("120.5", "\"NaN\"")),
    "quoted -Infinity" -> b(rec.replace("120.5", "\"-Infinity\"")),
    "1e400" -> b(rec.replace("120.5", "1e400")),
    "-1e400" -> b(rec.replace("120.5", "-1e400")),
    "numeric string field" -> b(rec.replace("\"solar\"", "7")),
    "object-valued field" -> b(rec.replace("120.5", "{\"a\":1}")),
    "duplicate key" -> b(rec.replace("\"region\"", "\"plant_type\":\"wind\",\"region\"")),
    "key differing in case" -> b(rec.replace("\"plant_type\"", "\"Plant_Type\"")),
    "single quotes" -> b(rec.replace('"', '\'')),
    "unquoted key" -> b(rec.replace("\"demand\"", "demand")),
    "comment" -> b(rec.replace(",\"demand\"", "/* c */,\"demand\"")),
    "leading zeros" -> b(rec.replace("120.5", "0120.5")))

  /** Truncate, flip a bit, or insert a BOM, a NUL or 0xC3 at a position. */
  private def mutate(r: Array[Byte]): Gen[Array[Byte]] = for {
    kind <- Gen.choose(0, 4)
    pos <- Gen.choose(0, r.length)
    bit <- Gen.choose(0, 7)
  } yield kind match {
    case 0 => r.take(pos)
    case 1 if pos < r.length =>
      val c = r.clone(); c(pos) = (c(pos) ^ (1 << bit)).toByte; c
    case 1 => r
    case k =>
      val ins = if (k == 2) bom else if (k == 3) bytes(0) else bytes(0xC3)
      r.take(pos) ++ ins ++ r.drop(pos)
  }

  private val mutated: Gen[Array[Byte]] = for {
    i <- Gen.choose(0, 399)
    n <- Gen.choose(1, 3)
    atStart <- Gen.oneOf(false, false, false, true)
    r <- (1 to n).foldLeft(Gen.const(records(i)))((g, _) => g.flatMap(mutate))
  } yield if (atStart) bom ++ r else r

  private lazy val corpus: Seq[(String, Array[Byte])] =
    fixed ++ (1 to 2000).map { s =>
      s"mutation seed $s" -> mutated.pureApply(Gen.Parameters.default, Seed(s.toLong))
    }

  /** Column values as boxed Java objects: `equals` tells NaN from NaN
    * and -0.0 from 0.0, which `==` on Scala numbers would not. */
  private def same(a: Seq[Any], b: Seq[Any]): Boolean =
    a.length == b.length && a.zip(b).forall {
      case (null, null) => true
      case (x, y) => x != null && y != null && x.asInstanceOf[AnyRef].equals(y)
    }

  private def hex(v: Array[Byte]): String = v.map(x => f"${x & 0xFF}%02x").mkString

  test("interpreted: the byte parse equals from_json on every corpus value, at any offset") {
    val ref = JsonToStructs(schema, Map.empty, BoundReference(0, StringType, nullable = true),
      Some("UTC"))
    val mine = FromJsonBytes(schema, BoundReference(0, StringType, nullable = true), Some("UTC"))
    def flat(x: Any): Seq[Any] =
      if (x == null) null else x.asInstanceOf[InternalRow].toSeq(schema)
    val diffs = corpus.flatMap { case (label, v) =>
      // embed the value in a larger array: the parse must honour the
      // UTF8String's offset and length, as it does over an UnsafeRow
      val padded = Array.fill[Byte](3)('{') ++ v ++ Array.fill[Byte](5)('}')
      val row = InternalRow(UTF8String.fromBytes(padded, 3, v.length))
      val (want, got) = (flat(ref.eval(row)), flat(mine.eval(row)))
      val ok = if (want == null || got == null) want == got else same(want, got)
      if (ok) None else Some(s"$label [${hex(v)}]: from_json=$want bytes=$got")
    }
    assert(diffs.isEmpty, s"${diffs.size} differing rows:\n${diffs.take(20).mkString("\n")}")
    assert(mine.eval(InternalRow(null)) == null)
  }

  test("generated code over Ingest.valueFrame: the byte parse equals from_json row for row") {
    val labels = corpus.map(_._1) :+ "SQL NULL"
    val rows = corpus.map(c => Row(c._2)) :+ Row(null)
    val bin = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("value", BinaryType))))
    val out = Ingest.valueFrame(bin)
      .select(from_json(col("value"), schema), FromJsonBytes.col(col("value"), schema))
      .collect()
    assert(out.length == labels.length)
    def flat(r: Row): Seq[Any] = if (r == null) null else r.toSeq
    val diffs = labels.zip(out).filterNot { case (_, r) =>
      val (w, g) = (flat(r.getStruct(0)), flat(r.getStruct(1)))
      if (w == null || g == null) w == g else same(w, g)
    }.map { case (label, r) => s"$label: from_json=${r.get(0)} bytes=${r.get(1)}" }
    assert(diffs.isEmpty, s"${diffs.length} differing rows:\n${diffs.take(20).mkString("\n")}")
  }

  test("parseTelemetry over Ingest.valueFrame equals the from_json formulation") {
    import spark.implicits._
    def viaFromJson(raw: DataFrame): DataFrame =
      raw.select(from_json(col("value"), schema).as("r"))
        .select(Seq(try_to_timestamp(col("r.timestamp")).as("ts"),
          col("r.plant_type"), col("r.region"),
          col("r.power_output"), col("r.demand"), col("r.grid_frequency")) ++
          Ingest.plantSpecificFields.map(f => col(s"r.$f")): _*)
        .filter(col("ts").isNotNull && col("plant_type").isNotNull &&
          col("power_output").isNotNull && col("demand").isNotNull &&
          col("grid_frequency").isNotNull)
    val raw = Ingest.valueFrame((records.toSeq ++ corpus.map(_._2)).toDF("value"))
    val got = Ingest.parseTelemetry(raw).collect().map(_.toSeq)
    val want = viaFromJson(raw).collect().map(_.toSeq)
    assert(got.length == want.length && got.zip(want).forall { case (g, w) => same(g, w) },
      s"parseTelemetry kept ${got.length} rows, the from_json formulation ${want.length}")
    // every generator record is valid, so this compares parsed values,
    // not two empty frames
    assert(want.length > records.length)
    // a timestamp that does not parse drops its row instead of failing
    // the query (ANSI `to_timestamp` threw on the mutated records)
    val badTs = Seq(rec, rec.replace("2024-01-01 00:00:01.000", "2024-01-01 00:\u00e900:01"))
    assert(Ingest.parseTelemetry(badTs.toDF("value")).count() == 1)
  }

  test("generator records take the byte path; BOM, early NUL and malformed UTF-8 do not") {
    records.foreach(r => assert(FromJsonBytes.bytePathExact(r, 0, r.length)))
    val nonAscii = withRegion(b("Zürich – 東京 🌞"))
    assert(FromJsonBytes.bytePathExact(nonAscii, 0, nonAscii.length))
    Seq("leading BOM", "NUL right after {", "NUL first", "invalid UTF-8 in a string",
      "overlong NUL", "UTF-8-encoded surrogate", "past U+10FFFF", "UTF-16LE record",
      "truncated multibyte at the end").foreach { label =>
      val v = fixed.find(_._1 == label).get._2
      assert(!FromJsonBytes.bytePathExact(v, 0, v.length), label)
    }
    // the checks stay inside the slice they are given
    val slice = bom ++ b(rec) ++ bytes(0xFF)
    assert(FromJsonBytes.bytePathExact(slice, 3, rec.length))
  }
}

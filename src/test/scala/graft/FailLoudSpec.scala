package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corruption must fail loudly, not vanish (r5 ADVICE items): a null
  * embedding reaching HyperplaneBuckets would otherwise become a null
  * bucket array that posexplode silently drops from s2/s6/d11 results;
  * a dimension-mismatched vector reaching DriverKMeans.nearest would
  * otherwise score a silently truncated distance. */
class FailLoudSpec extends SparkSpec {

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false),
      nullable = true)))

  private def frame(rows: Seq[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), embSchema)

  test("HyperplaneBuckets throws on a null embedding (codegen path)") {
    val rows = Seq(
      Row(1L, Seq.fill(64)(0.1f)),
      Row(2L, null))
    val ex = intercept[Exception] {
      frame(rows)
        .select(graft.functions.HyperplaneBuckets.col(col("embedding"), 4))
        .collect()
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(ex).contains("null embedding"), rootMsg(ex))
  }

  test("HyperplaneBuckets throws on a null embedding (interpreted eval)") {
    val expr = graft.functions.HyperplaneBuckets(
      org.apache.spark.sql.catalyst.expressions.Literal(
        null, ArrayType(FloatType)), 4)
    val ex = intercept[IllegalStateException] {
      expr.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    }
    assert(ex.getMessage.contains("null embedding"))
  }

  test("HyperplaneBuckets still buckets valid rows identically") {
    val rows = Seq(Row(1L, Seq.fill(64)(0.1f)))
    val got = frame(rows)
      .select(graft.functions.HyperplaneBuckets.col(col("embedding"), 4))
      .collect()(0).getSeq[Int](0)
    val want = graft.functions.HyperplaneBuckets.compute(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array.fill(64)(0.1f)), 4).toIntArray().toSeq
    assert(got == want)
  }

  test("SimHash60 throws on null text instead of dropping the document (r9, ADVICE r8)") {
    // a null-propagating signature would flow into d4's band explode
    // and silently drop the document from the dedup — the UDF this
    // expression replaced NPE'd instead, and the expression must too
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(1L, "some words"), Row(2L, null)), 2), schema)
    val ex = intercept[Exception] {
      df.select(org.apache.spark.sql.GraftShim.column(
          graft.functions.SimHash60(
            org.apache.spark.sql.GraftShim.expression(col("text")))))
        .collect()
    }
    def rootMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    assert(rootMsg(ex).contains("null text"), rootMsg(ex))
    // interpreted eval path agrees
    val exI = intercept[IllegalArgumentException] {
      graft.functions.SimHash60(
        org.apache.spark.sql.catalyst.expressions.Literal(null, StringType))
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    }
    assert(exI.getMessage.contains("null text"))
  }

  test("DriverKMeans.nearest rejects a vector shorter than the centroid") {
    val centers = Array(Array.fill(64)(0.0))
    val ex = intercept[IllegalArgumentException] {
      graft.ml.DriverKMeans.nearest(Array.fill(32)(0.0f), centers)
    }
    assert(ex.getMessage.contains("dim 32"))
    // equal dims still fine
    assert(graft.ml.DriverKMeans.nearest(Array.fill(64)(0.5f), centers) == 0)
  }

  test("semClusters short-circuits an empty corpus to an empty frame") {
    val empty = frame(Seq.empty)
    val out = graft.operators.Dedup.semClusters(empty)
    assert(out.columns.toSeq == Seq("vec_id", "embedding", "cl"))
    assert(out.count() == 0L)
  }

  // r10: the d2-family candidate streams pack (doc_id, n_sh) into one
  // long (id·2²⁰ + n_sh). An id past the 43 payload bits would corrupt
  // the pack SILENTLY (wrong pair ids out the other end) — the guard
  // must turn that into an error, and ids at the boundary must still
  // round-trip exactly.
  private def docsFrame(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val dupText =
    (1 to 12).map(i => s"w$i").mkString(" ") // 8 shingles at k=5, all shared

  test("containment pack fails loud on a doc_id past the 43-bit payload") {
    val docs = docsFrame(Seq((1L << 43, dupText), (7L, dupText)))
    val e = intercept[Exception] {
      graft.operators.Dedup.ngramJaccard(docs).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("unpackable")),
      s"expected the pack guard's 'unpackable' error, got: $e")
  }

  test("containment pack round-trips ids at the 43-bit boundary") {
    val hi = (1L << 43) - 1
    val docs = docsFrame(Seq((hi, dupText), (7L, dupText)))
    val rows = graft.operators.Dedup.ngramJaccard(docs).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((7L, hi)), s"expected the exact (7, 2^43-1) twin pair, got " +
      rows.mkString(", "))
    assert(rows.head.getDouble(2) == 1.0)
  }

  // r12: fuzzyJoin shares the pack discipline (its own guard/pk
  // expressions, separate code path from containmentCandidates) — the
  // same two properties must hold on the probe->corpus shape.
  test("fuzzyJoin pack fails loud on a doc_id past the 43-bit payload") {
    val probe = docsFrame(Seq((1L, dupText)))
    val corpus = docsFrame(Seq((1L << 43, dupText), (7L, dupText)))
    val e = intercept[Exception] {
      graft.operators.Dedup.fuzzyJoin(probe, corpus).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("unpackable")),
      s"expected fuzzyJoin's 'unpackable' pack-guard error, got: $e")
  }

  test("fuzzyJoin pack round-trips ids at the 43-bit boundary") {
    val hi = (1L << 43) - 1
    val probe = docsFrame(Seq((3L, dupText)))
    val corpus = docsFrame(Seq((hi, dupText)))
    val rows = graft.operators.Dedup.fuzzyJoin(probe, corpus).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((3L, hi)), s"expected the exact (3, 2^43-1) match, got " +
      rows.mkString(", "))
    assert(rows.head.getDouble(2) == 1.0)
  }
}

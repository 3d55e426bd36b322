package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** [[Analytics.q13Chunked]] must be BIT-IDENTICAL to the window form
  * it replaces at scale: same ntile padded-bucket geometry, same
  * percent_rank/cume_dist doubles, under price-tie-heavy data, tiny
  * groups (n < buckets), single-row groups, and a single shared price
  * value (span == 0 — every row in one fine bucket). */
class Q13ChunkedSpec extends SparkSpec {

  private def chunked(li: DataFrame, buckets: Int = 7): DataFrame =
    Analytics.q13Chunked(li, ChunkScan.measure[Double](li,
      col("l_returnflag"), col("l_extendedprice")), buckets)

  private def compare(li: DataFrame, buckets: Int = 7): Unit = {
    val want = Analytics.q13Window(li).collect()
    val got = chunked(li, buckets).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g == w, s"row mismatch: got=$g want=$w")
    }
  }

  test("chunked == window on lineitem (forced, coarse buckets)") {
    compare(graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_returnflag",
        "l_extendedprice"))
  }

  test("tie-heavy prices and tiny groups (property)") {
    import spark.implicits._
    val rowGen = for {
      g <- Gen.frequency((5, Gen.const("A")), (3, Gen.const("B")),
        (1, Gen.const("C")))
      // few distinct prices -> heavy tie runs straddling buckets
      p <- Gen.oneOf(1.0, 2.0, 2.5, 7.75, 100.0)
    } yield (g, p)
    val rows = Gen.listOfN(500, rowGen)
      .apply(Gen.Parameters.default, Seed(11L)).get
      .zipWithIndex.map { case ((g, p), i) =>
        (i.toLong / 4, i.toLong % 4, g, p) // unique (okey, lineno)
      }
    compare(rows.toDF("l_orderkey", "l_linenumber", "l_returnflag",
      "l_extendedprice"), buckets = 3)
  }

  test("groups smaller than the ntile bucket count, incl. n=1") {
    import spark.implicits._
    val rows = Seq(
      (1L, 1L, "X", 5.0),                       // n=1: pct_rank 0
      (2L, 1L, "Y", 3.0), (2L, 2L, "Y", 3.0),   // n=2 < 4, tied price
      (3L, 1L, "Z", 9.0), (3L, 2L, "Z", 1.0), (3L, 3L, "Z", 4.0))
    compare(rows.toDF("l_orderkey", "l_linenumber", "l_returnflag",
      "l_extendedprice"), buckets = 2)
  }

  test("span == 0: one shared price value") {
    import spark.implicits._
    val rows = (1L to 40L).map(i => (i / 4, i % 4, if (i % 2 == 0) "A" else "B", 42.0))
    compare(rows.toDF("l_orderkey", "l_linenumber", "l_returnflag",
      "l_extendedprice"), buckets = 5)
  }

  test("q13 entry point still matches the window form on sf data") {
    val got = Analytics.q13WindowSuite(spark, sf).collect()
    val want = Analytics.q13Window(graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_returnflag",
        "l_extendedprice")).collect()
    assert(got.sameElements(want))
  }
}

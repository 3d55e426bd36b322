package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** [[DistributedPercentile]] — the sketch-bracketed distributed
  * selection must reproduce Spark's buffered `percentile` builtin
  * EXACTLY (same doubles: same order statistics, same interpolation
  * formula), including under duplicate-heavy data, extreme p, and a
  * deliberately coarse sketch. The fallback trigger (a window that
  * misses its rank) is covered directly through selectFromWindow. */
class DistributedPercentileSpec extends SparkSpec {

  import DistributedPercentile.Target

  private def builtin(df: org.apache.spark.sql.DataFrame, grp: String,
      ts: Seq[Target]) =
    df.groupBy(col(grp)).agg(
      expr(s"percentile(${ts.head.valueCol}, ${ts.head.p})").as(ts.head.outName),
      ts.tail.map(t => expr(s"percentile(${t.valueCol}, ${t.p})").as(t.outName)): _*)

  private def compare(df: org.apache.spark.sql.DataFrame, grp: String,
      ts: Seq[Target], accuracy: Int): Unit = {
    val got = DistributedPercentile.exact(df, grp, ts,
        accuracy = accuracy, smallN = 0)
      .collect().map(r => r.get(0) -> r.toSeq.tail).toMap
    val want = builtin(df, grp, ts)
      .collect().map(r => r.get(0) -> r.toSeq.tail).toMap
    assert(got.keySet == want.keySet)
    for (g <- want.keySet; i <- ts.indices)
      assert(got(g)(i) == want(g)(i),
        s"group=$g ${ts(i).outName} got=${got(g)(i)} want=${want(g)(i)}")
  }

  test("sketch path matches the buffered builtin on lineitem") {
    val li = graft.Tables.lineitem(spark, sf)
    compare(li, "l_returnflag", Seq(
      Target("l_quantity", 0.5, "med_qty"),
      Target("l_extendedprice", 0.9, "p90_price"),
      Target("l_extendedprice", 0.99, "p99_price")), accuracy = 10000)
    // q9, the shipped caller, reports one non-null row per return flag
    val q9 = Analytics.q9Percentile(spark, sf).collect()
    assert(q9.length == 3 && q9.forall(!_.isNullAt(1)))
  }

  test("extreme p and coarse sketch still exact (clamped brackets)") {
    val li = graft.Tables.lineitem(spark, sf)
    compare(li, "l_returnflag", Seq(
      Target("l_quantity", 0.0, "p0"),
      Target("l_quantity", 1.0, "p100"),
      Target("l_extendedprice", 0.001, "p_low"),
      Target("l_extendedprice", 0.999, "p_high")), accuracy = 200)
  }

  test("duplicate-heavy and null-bearing random data (property)") {
    import spark.implicits._
    val rowGen = for {
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.frequency(
        (4, Gen.choose(0, 5).map(_.toDouble)),      // heavy duplicate runs
        (4, Gen.choose(0.0, 1000.0)),
        (1, Gen.const(42.0)),
        (1, Gen.const(Double.NaN))) // NaN: percentile sorts it greatest
    } yield (g, v)
    val data = Gen.listOfN(3000, rowGen)
      .apply(Gen.Parameters.default, Seed(7L)).get
      // drop NaN (engines order it differently from DuckDB; the oracle
      // never sees NaN either) but keep the dup-heavy shape
      .filter(r => !r._2.isNaN)
    val df = data.toDF("g", "v")
    compare(df, "g", Seq(
      Target("v", 0.5, "med"), Target("v", 0.25, "q1"),
      Target("v", 0.99, "p99")), accuracy = 100)
  }

  test("single-value and single-row groups") {
    import spark.implicits._
    val df = Seq(("a", 7.0), ("a", 7.0), ("a", 7.0), ("b", 3.0))
      .toDF("g", "v")
    compare(df, "g", Seq(Target("v", 0.5, "med"),
      Target("v", 0.9, "p90")), accuracy = 100)
  }

  test("selectFromWindow: coverage misses signal fallback, hits are exact") {
    import DistributedPercentile.selectFromWindow
    // n=10, p=0.5 -> pos=4.5, needs ranks 4 and 5
    val win = Seq((10.0, 3L), (20.0, 4L)) // covers ranks rLo..rLo+6
    assert(selectFromWindow(10, 0.5, 2L, win)
      .contains((5 - 4.5) * 10.0 + (4.5 - 4) * 20.0))
    // window starts above the needed rank -> miss
    assert(selectFromWindow(10, 0.5, 6L, win).isEmpty)
    // window ends below the needed rank -> miss
    assert(selectFromWindow(10, 0.9, 0L, Seq((1.0, 2L))).isEmpty)
    // empty group
    assert(selectFromWindow(0, 0.5, 0L, Nil).isEmpty)
    // exact-integer position: single rank, no interpolation
    assert(selectFromWindow(9, 0.5, 4L, Seq((10.0, 1L))).contains(10.0))
  }
}

package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The one engine-stable way graft computes its statistics (SURVEY §6):
  * the z-score, median/MAD, IQR-fence and contamination-quantile
  * detectors and every `[sql-oracle]` moment are built from these
  * helpers, and the DuckDB oracles spell the same operations in SQL.
  *
  *  - Sums of doubles go through an exact decimal intermediate:
  *    DECIMAL(18,6) for values, DECIMAL(28,10) for products (values
  *    ≤ ~1e3, rows ≤ ~1e6). The per-row cast is uniquely determined,
  *    the decimal sum is exact in any partition/merge order, and the
  *    final cast to double is one correctly-rounded step, so both
  *    engines agree bit for bit although Spark sums in parallel.
  *  - σ, covariances and r are plain double arithmetic over those
  *    sums, written with the same operation shape on both sides.
  *  - Percentiles are Spark's exact `percentile` (≡ DuckDB
  *    `quantile_cont`, both R-7); callers round a percentile to 6 dp
  *    where it feeds a filter, since the two engines' interpolation may
  *    differ in the last ulp. The bounded-memory Greenwald–Khanna form
  *    is its own operator (e14_approx_quantile).
  */
object ExactStats {

  /** Σc through DECIMAL(18,6), still decimal: partials that are merged
    * later stay exact (q17's union-merge). */
  def decimalSum(c: Column): Column = sum(c.cast(DecimalType(18, 6)))

  /** Σc through DECIMAL(18,6), cast back to double. */
  def dsum(c: Column): Column = decimalSum(c).cast("double")

  /** Σ(a·b) through DECIMAL(28,10), cast back to double. */
  def dsumProduct(a: Column, b: Column): Column =
    sum((a * b).cast(DecimalType(28, 10))).cast("double")

  /** The co-moment Σ(x−x̄)(y−ȳ) = sxy − sx·sy/n over exact sums:
    * n·variance when x = y, n·covariance otherwise. */
  def comoment(n: Column, sx: Column, sy: Column, sxy: Column): Column =
    sxy - sx * sy / n

  /** σ from (n, Σx, Σx²) with the divisor explicit: `n − 1` for the
    * sample σ, `n` for the population σ. */
  def sd(n: Column, s1: Column, s2: Column, divisor: Column): Column =
    sqrt(comoment(n, s1, s1, s2) / divisor)

  /** Pearson r of `x` and `y` per `keys` group: the six exact
    * aggregates, then r rounded to 6 dp, as (keys…, n, r). Degenerate
    * groups (one point, or a flat side) have no defined r and are
    * dropped with the same predicate on both engines, which also keeps
    * the quotient free of division by zero. */
  def pearson(df: DataFrame, keys: Seq[String], x: Column,
      y: Column): DataFrame = {
    val st = df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"),
      dsum(x).as("sx"), dsum(y).as("sy"),
      dsumProduct(x, x).as("sxx"),
      dsumProduct(y, y).as("syy"),
      dsumProduct(x, y).as("sxy"))
    val n = col("n")
    val varx = comoment(n, col("sx"), col("sx"), col("sxx"))
    val vary = comoment(n, col("sy"), col("sy"), col("syy"))
    val r = comoment(n, col("sx"), col("sy"), col("sxy")) / sqrt(varx * vary)
    st.filter(n > 1 && varx > 0 && vary > 0)
      .select(keys.map(col) :+ n :+ round(r, 6).as("r"): _*)
  }

  /** Exact `percentile(valueExpr, p)`; `valueExpr` is a SQL expression
    * string (a column name or arithmetic over columns). Built as SQL
    * text so the literal is typed exactly as the oracle's. */
  def percentile(valueExpr: String, p: Double): Column =
    expr(s"percentile($valueExpr, $p)")

  /** Exact `percentile(valueExpr, array(ps…))`: one array result. */
  def percentiles(valueExpr: String, ps: Seq[Double]): Column =
    expr(s"percentile($valueExpr, ${ps.mkString("array(", ", ", ")")})")
}

package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

import graft.functions.ExactStats

/** Exact per-group interpolated percentiles (R-7, ≡ Spark `percentile`
  * ≡ DuckDB `quantile_cont`) computed by DISTRIBUTED SELECTION instead
  * of per-group value buffering.
  *
  * Spark's exact `percentile` aggregate buffers every value of a group
  * in the aggregation buffer and merges the buffers single-threaded
  * per group — with few groups (the typical percentile report) the
  * final merge runs on |groups| cores and its memory is O(n). That is
  * the one shape that cannot survive 100 TB. This operator gets the
  * SAME exact result in three fully-parallel bounded-memory passes:
  *
  *  1. one aggregate: per group, the non-null count and a
  *     Greenwald–Khanna sketch queried at p±3ε (ε = 1/accuracy) —
  *     mergeable, O(accuracy) memory. The two sketch values BRACKET
  *     the order statistics we need: GK guarantees the value returned
  *     for target q has true rank within (q±ε)·n, so ranks
  *     ⌊(n−1)p⌋ and ⌊(n−1)p⌋+1 both land inside [rank(v_lo),
  *     rank(v_hi)] whenever n ≥ p·accuracy/2 (below that the operator
  *     takes the buffered builtin anyway — see `smallN`).
  *  2. one aggregate over a broadcast join with the O(groups×targets)
  *     bracket table: the exact rank of each bracket floor
  *     (#{x < v_lo}, map-side-combined conditional sum).
  *  3. one aggregate: the distinct values INSIDE each bracket window
  *     with their multiplicities — by the rank bound this is
  *     ≤ ~8n/accuracy + 2 rows per (group, target) regardless of
  *     duplicate skew (a duplicate run collapses to one row), so the
  *     driver collect is bounded and the accuracy dial trades sketch
  *     memory against refine-window size (raise it ∝ n to keep the
  *     window constant).
  *
  * The driver then walks the collected (value, count) runs to the two
  * exact order statistics and applies Spark's own interpolation
  * formula — the result is the buffered builtin's, bit-for-bit on the
  * same doubles. Coverage is CHECKED, not assumed: if a window misses
  * its rank (only possible when the GK bound is violated — i.e.
  * never — or n sits under the margin), the affected targets fall
  * back to the buffered builtin, so correctness never rests on the
  * sketch. Layout note: the sketch (and so the bracket values) can
  * vary with partition merge order, but the refined output is an
  * exact order statistic either way — layout-invariant.
  *
  * Driver-side state is O(groups×targets + groups×windowSize):
  * intended for low-cardinality reporting groups, the same contract
  * as a percentile report itself.
  */
object DistributedPercentile {

  /** One requested percentile: `p` of `valueCol`, emitted as
    * `outName` (double, null when the group has no non-null values). */
  case class Target(valueCol: String, p: Double, outName: String)

  /** Spark `percentile`'s interpolation on 0-based position
    * pos = (n−1)·p between the order statistics at ⌊pos⌋ and ⌈pos⌉. */
  private def interpolate(pos: Double, lowerValue: Double,
      higherValue: Double): Double = {
    val lower = math.floor(pos)
    val higher = math.ceil(pos)
    if (lower == higher) lowerValue
    else (higher - pos) * lowerValue + (pos - lower) * higherValue
  }

  /** Walk sorted (value, count) runs covering 0-based ranks
    * [rLo, rLo+Σcount) to the exact percentile at pos = (n−1)·p.
    * None iff the window does not cover both needed ranks — the
    * caller's signal to fall back. Exposed for direct spec coverage
    * of the fallback trigger. */
  private[operators] def selectFromWindow(n: Long, p: Double, rLo: Long,
      sorted: Seq[(Double, Long)]): Option[Double] = {
    if (n <= 0) return None
    val pos = (n - 1) * p
    val lower = math.floor(pos).toLong
    val higher = math.ceil(pos).toLong
    def at(rank: Long): Option[Double] = {
      var cum = rLo
      for ((v, c) <- sorted) {
        if (rank < cum) return None
        if (rank < cum + c) return Some(v)
        cum += c
      }
      None
    }
    for (lv <- at(lower); hv <- at(higher))
      yield interpolate(pos, lv, hv)
  }

  /** The buffered builtin — the small-n path and the fallback. */
  private def builtinExact(df: DataFrame, groupCol: String,
      targets: Seq[Target]): DataFrame =
    df.groupBy(col(groupCol)).agg(
      ExactStats.percentile(targets.head.valueCol, targets.head.p)
        .as(targets.head.outName),
      targets.tail.map(t =>
        ExactStats.percentile(t.valueCol, t.p).as(t.outName)): _*)

  def exact(df: DataFrame, groupCol: String, targets: Seq[Target],
      accuracy: Int = 10000, smallN: Long = 100000): DataFrame = {
    require(targets.nonEmpty && targets.forall(t => t.p >= 0 && t.p <= 1))
    val spark = df.sparkSession
    val eps = 1.0 / accuracy
    val cols = targets.map(_.valueCol).distinct
    // per value column, its targets with their global target ids
    val colTargets = cols.map(c =>
      c -> targets.zipWithIndex.filter(_._1.valueCol == c)).toMap

    // pass 1: per group per column, non-null count + GK bracket values
    val p1Aggs = cols.flatMap { c =>
      val ps = colTargets(c).flatMap { case (t, _) =>
        Seq(math.max(t.p - 3 * eps, 0.0), math.min(t.p + 3 * eps, 1.0))
      }
      Seq(count(col(c)).as(s"n__$c"),
        expr(s"approx_percentile($c, array(${ps.mkString(",")}), $accuracy)")
          .cast("array<double>").as(s"br__$c"))
    }
    val p1 = df.groupBy(col(groupCol))
      .agg(p1Aggs.head, p1Aggs.tail: _*).collect()

    val maxN = if (p1.isEmpty) 0L
      else p1.flatMap(r => cols.map(c => r.getLong(r.fieldIndex(s"n__$c")))).max
    if (maxN <= smallN) return builtinExact(df, groupCol, targets)

    // (group, tid) -> (n, vLo, vHi); n==0 groups carry no bracket
    case class Key(group: Any, tid: Int)
    val nOf = scala.collection.mutable.Map[Key, Long]()
    val bracketRows = p1.flatMap { r =>
      val g = r.get(r.fieldIndex(groupCol))
      cols.flatMap { c =>
        val n = r.getLong(r.fieldIndex(s"n__$c"))
        val br = Option(r.getSeq[Double](r.fieldIndex(s"br__$c")))
        colTargets(c).zipWithIndex.flatMap { case ((_, tid), k) =>
          nOf(Key(g, tid)) = n
          if (n == 0 || br.isEmpty) None
          else Some(Row(g, tid, br.get(2 * k), br.get(2 * k + 1)))
        }
      }
    }
    val groupField = df.schema(groupCol)
    val brDf = spark.createDataFrame(bracketRows.toSeq.asJava, StructType(Seq(
      groupField.copy(name = "__grp"),
      StructField("__tid", IntegerType, nullable = false),
      StructField("__vlo", DoubleType, nullable = false),
      StructField("__vhi", DoubleType, nullable = false))))

    // pass 2+3 share this joined shape: every fact row × its group's
    // targets, with that target's value column selected per row
    val joined = df.select(col(groupCol) +: cols.map(col): _*)
      .join(broadcast(brDf), col(groupCol) <=> col("__grp"))
    val valueOf = targets.zipWithIndex.foldLeft(lit(null).cast("double")) {
      case (acc, (t, tid)) =>
        when(col("__tid") === tid, col(t.valueCol).cast("double")).otherwise(acc)
    }
    // passes 2 and 3 fused into ONE scan: both are aggregates over the
    // same joined shape, differing only in granularity — a 3-way
    // bracket marker ({-1,0,1} = below/in/above window) lets one
    // groupBy carry both. Below-window rows collapse to a single
    // (group, tid) row whose count IS the exact floor rank (same
    // v < vLo predicate as the separate pass: null/NaN fall to the
    // above-window marker on both forms); in-window rows group by
    // value exactly as before; above-window rows collapse to one row
    // and are dropped. At sf100 this removed one of q9's three full
    // fact scans.
    val marker = when(valueOf < col("__vlo"), -1)
      .when(valueOf >= col("__vlo") && valueOf <= col("__vhi"), 0)
      .otherwise(1)
    val fused = joined
      .groupBy(col(groupCol), col("__tid"), marker.as("__m"),
        when(marker === 0, valueOf).as("__v"))
      .agg(count(lit(1)).as("__c"))
      .collect()
    val rLo = fused.filter(_.getInt(2) == -1)
      .map(r => Key(r.get(0), r.getInt(1)) -> r.getLong(4)).toMap
    val windows = fused.filter(_.getInt(2) == 0)
      .groupBy(r => Key(r.get(0), r.getInt(1)))
      .view.mapValues(_.map(r => (r.getDouble(3), r.getLong(4))).sortBy(_._1).toSeq)
      .toMap

    // driver refine; coverage miss -> buffered builtin for that target
    val groups = p1.map(_.get(p1.head.fieldIndex(groupCol)))
    var resolved = Map[Key, Option[Double]]()
    var fallbackTids = Set[Int]()
    for (g <- groups; tid <- targets.indices) {
      val k = Key(g, tid)
      val n = nOf(k)
      if (n == 0) resolved += k -> None
      else selectFromWindow(n, targets(tid).p, rLo.getOrElse(k, 0L),
          windows.getOrElse(k, Nil)) match {
        case Some(v) => resolved += k -> Some(v)
        case None => fallbackTids += tid
      }
    }
    if (fallbackTids.nonEmpty) {
      val fb = builtinExact(df, groupCol, fallbackTids.toSeq.sorted
        .map(targets)).collect()
      for (r <- fb; (tid, i) <- fallbackTids.toSeq.sorted.zipWithIndex) {
        val v = if (r.isNullAt(i + 1)) None else Some(r.getDouble(i + 1))
        resolved += Key(r.get(0), tid) -> v
      }
    }

    val outRows = groups.map { g =>
      Row.fromSeq(g +: targets.indices.map(tid =>
        resolved(Key(g, tid)).map(Double.box).orNull))
    }
    spark.createDataFrame(outRows.toSeq.asJava, StructType(
      groupField +: targets.map(t =>
        StructField(t.outName, DoubleType, nullable = true))))
  }
}

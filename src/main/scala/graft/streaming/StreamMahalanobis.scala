package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One keyed multivariate reading. */
case class VecReading(key: String, event_id: Long, secs: Long,
    features: Array[Double])

/** Flagged joint anomaly: squared Mahalanobis distance vs the key's
  * frozen baseline, plus the per-axis |z| scores for triage ("which
  * feature moved" — or, for a joint-only anomaly, the proof that none
  * did on its own). */
case class MahaFlag(key: String, event_id: Long, secs: Long, d2: Double,
    maxAbsZ: Double)

/** Per-key detector state: Welford moments during warm-up, then the
  * frozen mean + inverse covariance used for scoring. */
case class MahaState(n: Long, mean: Array[Double], m2: Array[Array[Double]],
    inv: Option[Array[Array[Double]]], sd: Array[Double])

/** st14_stream_maha — streaming MULTIVARIATE outlier detection per key:
  * a vector Welford pass accumulates mean + covariance over the first
  * `warmup` readings, the baseline freezes (st8's frozen-baseline
  * discipline — a detector whose yardstick keeps adapting eventually
  * normalizes the anomaly), and every later reading is scored by its
  * squared Mahalanobis distance against the frozen ellipsoid. This is
  * the streaming twin of a5 and the live form of the round-3
  * multivariate theme: the wind_speed×efficiency joint anomaly — each
  * axis unremarkable, the COMBINATION off-manifold — that every
  * univariate z detector structurally misses (emitted `maxAbsZ` < 3
  * proves it per flag).
  *
  * Scale: state is O(d²) per key (d = feature dim, 2–8 in practice —
  * a few hundred bytes); the inverse is computed ONCE at freeze via
  * Gauss-Jordan (d ≤ 8 ⇒ trivial); scoring is a d² dot per row with
  * no shuffle beyond the groupByKey exchange. Keys hash-partition
  * across executors — cardinality scales the operator, volume doesn't.
  */
object StreamMahalanobis {

  /** Gauss-Jordan inverse for small symmetric positive-definite
    * matrices (returns None when singular — flat feature ⇒ no scoring,
    * matching a5's degenerate-pair exclusion). */
  private[streaming] def invert(a: Array[Array[Double]]): Option[Array[Array[Double]]] = {
    val d = a.length
    val m = Array.tabulate(d, 2 * d) { (i, j) =>
      if (j < d) a(i)(j) else if (j - d == i) 1.0 else 0.0
    }
    var col = 0
    while (col < d) {
      var piv = col
      var r = col + 1
      while (r < d) { if (math.abs(m(r)(col)) > math.abs(m(piv)(col))) piv = r; r += 1 }
      if (math.abs(m(piv)(col)) < 1e-12) return None
      val tmp = m(col); m(col) = m(piv); m(piv) = tmp
      val p = m(col)(col)
      var j = 0
      while (j < 2 * d) { m(col)(j) /= p; j += 1 }
      r = 0
      while (r < d) {
        if (r != col) {
          val f = m(r)(col)
          var k = 0
          while (k < 2 * d) { m(r)(k) -= f * m(col)(k); k += 1 }
        }
        r += 1
      }
      col += 1
    }
    Some(Array.tabulate(d, d)((i, j) => m(i)(j + d)))
  }

  private def welfordStep(st: MahaState, x: Array[Double]): MahaState = {
    val d = x.length
    val n1 = st.n + 1
    val mean = st.mean.clone()
    val delta = Array.tabulate(d)(i => x(i) - mean(i))
    var i = 0
    while (i < d) { mean(i) += delta(i) / n1; i += 1 }
    val m2 = st.m2.map(_.clone())
    i = 0
    while (i < d) {
      var j = 0
      while (j < d) { m2(i)(j) += delta(i) * (x(j) - mean(j)); j += 1 }
      i += 1
    }
    MahaState(n1, mean, m2, None, Array.empty)
  }

  private def freeze(st: MahaState): MahaState = {
    val d = st.mean.length
    val cov = Array.tabulate(d, d)((i, j) => st.m2(i)(j) / (st.n - 1))
    MahaState(st.n, st.mean, st.m2, invert(cov),
      Array.tabulate(d)(i => math.sqrt(cov(i)(i))))
  }

  /** Emit a flag for every post-warm-up reading with d² > `threshold`
    * (χ²-style cut; 12 ≈ the 99.75% tail at 2 dof). */
  def detect(rows: Dataset[VecReading], warmup: Int = 200,
      threshold: Double = 12.0): Dataset[MahaFlag] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[MahaState, MahaFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[VecReading], state: GroupState[MahaState]) =>
          val batch = it.toArray.sortBy(r => (r.secs, r.event_id))
          if (batch.isEmpty) Iterator.empty
          else {
            val d = batch.head.features.length
            var st = state.getOption.getOrElse(
              MahaState(0L, new Array[Double](d),
                Array.fill(d)(new Array[Double](d)), None, Array.empty))
            val out = Vector.newBuilder[MahaFlag]
            batch.foreach { r =>
              if (st.inv.isEmpty && st.n < warmup) {
                st = welfordStep(st, r.features)
                if (st.n == warmup) st = freeze(st)
              } else st.inv.foreach { inv =>
                val delta = Array.tabulate(d)(i => r.features(i) - st.mean(i))
                var d2 = 0.0
                var i = 0
                while (i < d) {
                  var j = 0
                  while (j < d) { d2 += delta(i) * inv(i)(j) * delta(j); j += 1 }
                  i += 1
                }
                if (d2 > threshold) {
                  val maxZ = (0 until d).map(i =>
                    if (st.sd(i) > 0) math.abs(delta(i)) / st.sd(i) else 0.0).max
                  out += MahaFlag(key, r.event_id, r.secs,
                    math.rint(d2 * 1e6) / 1e6, math.rint(maxZ * 1e6) / 1e6)
                }
              }
            }
            state.update(st)
            out.result().iterator
          }
      }
  }
}

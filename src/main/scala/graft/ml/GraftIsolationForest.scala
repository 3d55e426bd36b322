package graft.ml

import scala.util.Random

/** Pure-Scala Isolation Forest (Liu, Ting, Zhou, ICDM 2008) — the
  * Spark-native re-expression of the reference's per-entity
  * IsolationForest loop (app3_ML.py:158-166: contamination-style
  * scoring over a bounded sliding window).
  *
  * Scale design: `fit` runs on a bounded per-key sample (the same
  * regime as the reference's 500-row window — anomaly *models* are
  * small even when data is 100 TB); the fitted forest is a few KB,
  * broadcast to executors, and scoring is a per-row closure with no
  * shuffle. Fully deterministic for a given seed.
  */
object GraftIsolationForest {

  /** Average unsuccessful-search path length in a BST of n nodes.
    * The harmonic-number approximation H(i) ≈ ln(i) + γ underestimates
    * badly at n = 2 (true value 1), so small n is special-cased — same
    * discipline as the published implementations. */
  def avgPathLen(n: Double): Double =
    if (n <= 1.0) 0.0
    else if (n == 2.0) 1.0
    else 2.0 * (math.log(n - 1.0) + 0.5772156649015329) - 2.0 * (n - 1.0) / n

  /** One isolation tree in flat-array form (node i: children 2i+1/2i+2
    * implicit via left/right indices; feature = -1 marks a leaf).
    * `leafAdj(i)` is `avgPathLen(size(i))`, computed once per node, so
    * a walk adds a stored double at its leaf instead of taking a `log`
    * there; the sum is the same double, so scores are bit-identical. */
  final case class Tree(feature: Array[Int], split: Array[Double],
      left: Array[Int], right: Array[Int], size: Array[Int]) extends Serializable {
    private val leafAdj: Array[Double] = size.map(n => avgPathLen(n.toDouble))

    def pathLength(x: Array[Double]): Double = {
      var node = 0
      var depth = 0.0
      while (feature(node) >= 0) {
        node = if (x(feature(node)) < split(node)) left(node) else right(node)
        depth += 1.0
      }
      depth + leafAdj(node)
    }

    /** 1-D specialization: no feature-array indirection, no input
      * array — the hot path for single-feature forests (a1 scores one
      * `value` column per key). */
    def pathLength1(v: Double): Double = {
      var node = 0
      var depth = 0.0
      while (feature(node) >= 0) {
        node = if (v < split(node)) left(node) else right(node)
        depth += 1.0
      }
      depth + leafAdj(node)
    }
  }

  final case class Forest(trees: Array[Tree], sampleSize: Int) extends Serializable {
    private val cn = avgPathLen(sampleSize.toDouble)
    /** Anomaly score in (0,1); > ~0.6 is anomalous, ~0.5 is average. */
    def score(x: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < trees.length) { s += trees(i).pathLength(x); i += 1 }
      math.pow(2.0, -(s / trees.length) / cn)
    }

    /** Allocation-free scoring of a 1-D point (≡ `score(Array(v))` —
      * the tree walk compares the same single feature). */
    def score1(v: Double): Double = {
      var s = 0.0
      var i = 0
      while (i < trees.length) { s += trees(i).pathLength1(v); i += 1 }
      math.pow(2.0, -(s / trees.length) / cn)
    }
  }

  /** Compiled 1-D forest: a single-feature forest's score is a
    * piecewise-constant function of v (every leaf of every tree covers
    * an interval between split points), so the WHOLE forest collapses
    * to one sorted boundary array + one precomputed score per interval.
    * Scoring = one binary search (~14 comparisons over ~13k boundaries
    * for 100×256 trees) instead of 100 tree walks — bit-identical to
    * [[Forest.score1]] by construction, because each interval's score
    * IS score1 evaluated at its left endpoint
    * (trees route v < split left, so intervals are left-closed and no
    * boundary lies strictly inside one). */
  final case class Step1(bounds: Array[Double],
      scores: Array[Double]) extends Serializable {
    def score(v: Double): Double = {
      val idx = java.util.Arrays.binarySearch(bounds, v)
      scores(if (idx >= 0) idx + 1 else -idx - 1)
    }
  }

  /** Flatten a fitted single-feature forest to its [[Step1]] form. */
  def compile1(f: Forest): Step1 = {
    val bs = f.trees.iterator
      .flatMap(t => t.split.indices.iterator
        .filter(i => t.feature(i) >= 0).map(t.split))
      .toArray.distinct.sorted
    val scores = new Array[Double](bs.length + 1)
    scores(0) = f.score1(Double.NegativeInfinity)
    var i = 0
    while (i < bs.length) { scores(i + 1) = f.score1(bs(i)); i += 1 }
    Step1(bs, scores)
  }

  /** Fit on an in-memory pool (callers supply a bounded, deterministic
    * sample — see AnomalyML.a1). */
  def fit(pool: Array[Array[Double]], numTrees: Int = 100, sampleSize: Int = 256,
      seed: Long = 42L): Forest = {
    require(pool.nonEmpty, "empty training pool")
    val rng = new Random(seed)
    val maxDepth = math.ceil(math.log(math.max(sampleSize, 2).toDouble) / math.log(2.0)).toInt
    val nFeat = pool.head.length
    val trees = Array.fill(numTrees) {
      val sample = Array.fill(math.min(sampleSize, pool.length))(pool(rng.nextInt(pool.length)))
      val feature = collection.mutable.ArrayBuffer[Int]()
      val split = collection.mutable.ArrayBuffer[Double]()
      val left = collection.mutable.ArrayBuffer[Int]()
      val right = collection.mutable.ArrayBuffer[Int]()
      val size = collection.mutable.ArrayBuffer[Int]()
      def build(rows: Array[Array[Double]], depth: Int): Int = {
        val idx = feature.length
        feature += -1; split += 0.0; left += -1; right += -1; size += rows.length
        if (depth < maxDepth && rows.length > 1) {
          // pick a feature that still varies; give up after nFeat draws
          var tries = 0
          var f = -1
          var lo = 0.0
          var hi = 0.0
          while (tries < nFeat && f < 0) {
            val cand = rng.nextInt(nFeat)
            var mn = Double.MaxValue; var mx = Double.MinValue
            rows.foreach { r => val v = r(cand); if (v < mn) mn = v; if (v > mx) mx = v }
            if (mx > mn) { f = cand; lo = mn; hi = mx }
            tries += 1
          }
          if (f >= 0) {
            val sp = lo + rng.nextDouble() * (hi - lo)
            val (l, r) = rows.partition(_(f) < sp)
            if (l.nonEmpty && r.nonEmpty) {
              feature(idx) = f; split(idx) = sp
              left(idx) = build(l, depth + 1)
              right(idx) = build(r, depth + 1)
            }
          }
        }
        idx
      }
      build(sample, 0)
      Tree(feature.toArray, split.toArray, left.toArray, right.toArray, size.toArray)
    }
    Forest(trees, sampleSize)
  }
}

package graft.ml

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §2.C a1 core — planted-anomaly self-oracle for the
  * pure-Scala Isolation Forest. */
class IsolationForestSpec extends AnyFunSuite {

  test("planted outliers score above inliers and above the 0.6 band") {
    // deterministic inlier cloud in [0, 1)^2 + far-out planted anomalies
    val rng = new scala.util.Random(7L)
    val inliers = Array.fill(500)(Array(rng.nextDouble(), rng.nextDouble()))
    val outliers = Array(Array(8.0, 8.0), Array(-7.0, 9.0), Array(10.0, -10.0))
    val forest = GraftIsolationForest.fit(inliers, numTrees = 100,
      sampleSize = 256, seed = 42L)
    // corner points of a uniform cloud legitimately score high, so the
    // planted outliers must beat the *bulk* of inliers (90th pct), not
    // the single most extreme corner
    val inScores = inliers.map(forest.score).sorted
    val inP90 = inScores((inScores.length * 0.9).toInt)
    val outMin = outliers.map(forest.score).min
    assert(outMin > inP90, s"outlier min $outMin <= inlier p90 $inP90")
    assert(outMin > 0.6)
    // average point sits near the 0.5 midline (Liu et al. 2008 §3)
    val mid = forest.score(Array(0.5, 0.5))
    assert(mid < 0.6, s"central point scored $mid")
  }

  test("fit is deterministic for a fixed seed") {
    val pool = Array.tabulate(300)(i => Array(i / 300.0, (i % 17) / 17.0))
    val f1 = GraftIsolationForest.fit(pool, seed = 9L)
    val f2 = GraftIsolationForest.fit(pool, seed = 9L)
    val probes = Array(Array(0.1, 0.2), Array(0.9, 0.9), Array(5.0, 5.0))
    probes.foreach(p => assert(f1.score(p) == f2.score(p)))
  }

  test("compiled 1-D step function is bit-identical to direct scoring") {
    val rng = new scala.util.Random(3L)
    val pool = Array.fill(800)(Array(rng.nextGaussian()))
    val f = GraftIsolationForest.fit(pool, numTrees = 100,
      sampleSize = 256, seed = 42L)
    val step = GraftIsolationForest.compile1(f)
    // probe ON boundaries (exact-equality routing), between them, and
    // far outside the training range
    val probes = step.bounds.take(500) ++
      step.bounds.sliding(2).take(500).map(p => (p(0) + p(1)) / 2) ++
      Array(-1e9, 1e9, 0.0) ++ Array.fill(1000)(rng.nextGaussian() * 3)
    probes.foreach { v =>
      assert(step.score(v) == f.score1(v), s"step diverged at $v")
      assert(f.score1(v) == f.score(Array(v)), s"score1 diverged at $v")
    }
  }

  /** Tree walk that takes `avgPathLen` at the leaf it reaches: the
    * scoring the stored per-node constants must reproduce bit for bit. */
  private def refScore(f: GraftIsolationForest.Forest, x: Array[Double]): Double = {
    var s = 0.0
    f.trees.foreach { t =>
      var node = 0
      var depth = 0.0
      while (t.feature(node) >= 0) {
        node = if (x(t.feature(node)) < t.split(node)) t.left(node) else t.right(node)
        depth += 1.0
      }
      s += depth + GraftIsolationForest.avgPathLen(t.size(node).toDouble)
    }
    math.pow(2.0, -(s / f.trees.length) /
      GraftIsolationForest.avgPathLen(f.sampleSize.toDouble))
  }

  test("score, score1 and compile1 equal a leaf-log reference bit for bit") {
    for (dim <- Seq(1, 2, 4); seed <- Seq(1L, 7L, 42L, 1234L);
         (trees, sample) <- Seq((50, 128), (100, 256))) {
      val rng = new scala.util.Random(seed)
      val pool = Array.fill(600)(Array.fill(dim)(rng.nextGaussian()))
      val f = GraftIsolationForest.fit(pool, numTrees = trees, sampleSize = sample,
        seed = seed)
      // training points, fresh draws, far outliers and exact split values
      val splits = f.trees.flatMap(t => t.split.indices.filter(t.feature(_) >= 0)
        .map(i => Array.fill(dim)(t.split(i)))).take(300)
      val probes = pool.take(200) ++ Array.fill(200)(Array.fill(dim)(rng.nextGaussian() * 4)) ++
        Array(Array.fill(dim)(1e9), Array.fill(dim)(-1e9), Array.fill(dim)(0.0)) ++ splits
      val where = s"dim $dim seed $seed trees $trees"
      probes.foreach(p => assert(f.score(p) == refScore(f, p), s"score diverged ($where)"))
      if (dim == 1) {
        val step = GraftIsolationForest.compile1(f)
        probes.foreach { p =>
          assert(f.score1(p(0)) == refScore(f, p), s"score1 diverged ($where)")
          assert(step.score(p(0)) == refScore(f, p), s"compile1 diverged ($where)")
        }
      }
    }
  }

  test("avgPathLen matches the closed form on small n") {
    assert(GraftIsolationForest.avgPathLen(1.0) == 0.0)
    assert(GraftIsolationForest.avgPathLen(2.0) == 1.0)
    assert(GraftIsolationForest.avgPathLen(256.0) > GraftIsolationForest.avgPathLen(64.0))
  }
}

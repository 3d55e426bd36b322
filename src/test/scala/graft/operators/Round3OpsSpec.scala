package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SURVEY.md §2 round-3 additions — t8 (redaction), t9 (TF-IDF top-k),
  * e13 (forward-fill), i5 (deterministic global shuffle). All four are
  * DuckDB-oracled in Verify; these specs pin the semantic invariants
  * the hash compare can't articulate. */
class Round3OpsSpec extends SparkSpec {

  test("t8_redact counts real matches and the scrub is idempotent") {
    val out = TextOps.t8Redact(spark, sf).collect()
    assert(out.length == 500)
    // the term class occurs in the corpus — redaction did real work
    assert(out.map(_.getLong(1)).sum > 0)
    // docs without a match keep their original digest; docs with one don't
    val orig = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { r =>
      val changed = r.getString(2) != orig(r.getLong(0))
      assert(changed == (r.getLong(1) > 0))
    }
  }

  test("t9_tfidf_topk ranks rare-in-corpus terms above common ones") {
    val out = TextOps.t9TfidfTopk(spark, sf).collect()
    val byDoc = out.groupBy(_.getLong(0))
    assert(byDoc.forall(_._2.length <= 5))
    // ranks are 1..k and scores non-increasing within a doc
    byDoc.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(5))
      assert(sorted.map(_.getInt(5)).toSeq == (1 to sorted.length))
      val scores = sorted.map(_.getDouble(4))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    // 'dup' is ~30x rarer than every other corpus word: any doc that
    // contains it must surface it in the top-5
    val dupDocs = graft.Tables.documents(spark, sf)
      .filter(col("text").rlike("\\bdup\\b")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(dupDocs.nonEmpty)
    val dupTop = out.filter(_.getString(1) == "dup").map(_.getLong(0)).toSet
    assert(dupDocs.subsetOf(dupTop),
      s"${(dupDocs -- dupTop).size} docs hide their rarest term")
  }

  test("e13_gap_fill carries each key's last valid value across gaps") {
    val out = EventOps.e13GapFill(spark, sf)
      .collect().groupBy(_.getLong(1)) // per user
    assert(out.nonEmpty)
    var gaps = 0
    out.values.foreach { rows =>
      var lastValid: Option[Double] = None
      rows.sortBy(r => (r.getLong(2), r.getLong(0))).foreach { r =>
        val v = if (r.isNullAt(3)) None else Some(r.getDouble(3))
        val filled = if (r.isNullAt(4)) None else Some(r.getDouble(4))
        if (v.isDefined) { lastValid = v; assert(filled == v) }
        else { gaps += 1; assert(filled == lastValid) }
        assert(r.getBoolean(5) == v.isEmpty)
      }
    }
    assert(gaps > 0, "corpus must exercise the fill path")
  }

  test("d8 connected components match a driver-side union-find") {
    import spark.implicits._
    // crafted graph: chain 1-2-3, pair 10-11, triangle 20-21-22 with a
    // tail 23, isolated-by-absence 99 (no edge -> no row)
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (20L, 21L),
      (21L, 22L), (20L, 22L), (22L, 23L)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
    // corpus binding agrees with an exact union-find over d2's pairs
    val pairs = Dedup.d2DedupNgram(spark, sf).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(v => v -> find(v)).toMap
    val clusters = Dedup.d8DedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == expected)
  }

  test("connected components converge on a 300-vertex chain (pointer jumping)") {
    import spark.implicits._
    // a duplicate CHAIN (each doc near-dups only its neighbor) is the
    // diameter worst case: O(d) label propagation needs 299 rounds and
    // trips the convergence guard; pointer jumping needs ~log2(300)
    // (the distributed kernel; the public entry resolves a list this
    // small on the driver and must agree)
    val edges = (0L until 299L).map(i => (i, i + 1)).toDF("a", "b")
    for (out <- Seq(Dedup.pointerJumpComponents(edges), Dedup.connectedComponents(edges))) {
      val got = out.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == 300)
      assert(got.forall(_._2 == 0L), "every chain vertex joins component 0")
    }
  }

  test("t10_repetition ratios are exact and bounded") {
    val out = TextOps.t10Repetition(spark, sf).collect()
    assert(out.length == 500)
    out.foreach { r =>
      val (n, maxTf, nd) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(maxTf >= 1 && maxTf <= n && nd <= n)
      assert(r.getDouble(4) == maxTf.toDouble / n)
      assert(r.getDouble(5) == nd.toDouble / n)
    }
    // the 31-word synthetic vocabulary forces heavy repetition in long docs
    assert(out.exists(_.getDouble(5) < 0.5))
  }

  test("q11 HLL distinct counts within 3x rsd of the exact q5 twin") {
    val exact = Analytics.q5DistinctAgg(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = Analytics.q11ApproxDistinct(spark, sf).collect()
    assert(est.length == exact.size)
    est.foreach { r =>
      val e = exact(r.getString(0))
      val rel = math.abs(r.getLong(1) - e).toDouble / e
      assert(rel <= 0.06, s"${r.getString(0)}: est ${r.getLong(1)} vs $e")
    }
  }

  test("e14 approx percentiles sit inside the exact +-1% rank neighborhood") {
    val bounds = graft.Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.49)").as("m_lo"),
        expr("percentile(l_quantity, 0.51)").as("m_hi"),
        expr("percentile(l_extendedprice, 0.89)").as("a_lo"),
        expr("percentile(l_extendedprice, 0.91)").as("a_hi"),
        expr("percentile(l_extendedprice, 0.98)").as("b_lo"),
        expr("percentile(l_extendedprice, 1.0)").as("b_hi"))
      .collect().map(r => r.getString(0) -> r).toMap
    val est = Analytics.e14ApproxQuantile(spark, sf).collect()
    assert(est.nonEmpty)
    est.foreach { r =>
      val x = bounds(r.getString(0))
      assert(r.getDouble(1) >= x.getDouble(1) && r.getDouble(1) <= x.getDouble(2))
      assert(r.getDouble(2) >= x.getDouble(3) && r.getDouble(2) <= x.getDouble(4))
      assert(r.getDouble(3) >= x.getDouble(5) && r.getDouble(3) <= x.getDouble(6))
    }
  }

  test("t11 CMS heavy hitters: mass recall >= 0.9 vs exact t6, never undercounts") {
    import spark.implicits._
    // full exact frequency table (spec-side ground truth, all bigrams)
    val exactAll = graft.Tables.documents(spark, sf)
      .select(explode(expr(
        "transform(sequence(0, greatest(size(split(text, ' ')) - 2, 0)), " +
          "i -> concat_ws(' ', slice(split(text, ' '), i + 1, 2)))")).as("bg"))
      .groupBy("bg").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val top100 = TextOps.t6NgramCounts(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val est = TextOps.t11HeavyHitters(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(est.length == 100)
    // the corpus distribution is nearly flat at the rank-100 cut (ties),
    // so the right guarantee is MASS recall: the est picks carry >= 90%
    // of the true top-100's total frequency mass
    val estMass = est.map { case (b, _) => exactAll(b) }.sum.toDouble
    val trueMass = top100.map(_._2).sum.toDouble
    assert(estMass / trueMass >= 0.9, s"mass recall ${estMass / trueMass}")
    // CMS bound per pick: never undercounts, overcounts by <= eps*N
    val totalBigrams = exactAll.values.sum
    val slack = (0.00001 * totalBigrams).toLong + 1
    est.foreach { case (b, e) =>
      val n = exactAll(b)
      assert(e >= n && e <= n + slack, s"$b: est $e exact $n")
    }
  }

  test("i5_global_shuffle is a stable permutation matching the hash order") {
    val out = Sampling.i5GlobalShuffle(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // a permutation: positions are exactly 0..n-1
    assert(out.map(_._2).sorted.toSeq == (0L until out.length.toLong))
    // matches the driver-side recomputation of the portable hash order
    val expected = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), graft.functions.PortableHash.mdhash64(
        concat(col("doc_id").cast("string"), lit(":shuffle"))).as("ok"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, ok) => (ok, id) }
      .zipWithIndex.map { case ((id, _), i) => (id, i.toLong) }.toMap
    out.foreach { case (id, pos) => assert(expected(id) == pos) }
    // deterministic across runs
    val again = Sampling.i5GlobalShuffle(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(again.toSeq == out.toSeq)
  }
}

package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-4 additions, part 2: q14 pivot, e18 two-window drift scan,
  * a6 Holt smoothing, d11 SemDeDup. Each [sql-oracle] op gets a
  * driver-recompute twin here (the DuckDB gate is the cross-engine
  * check; these pin the SEMANTICS on crafted cases the real corpus
  * may not exercise), and d11 gets its approximation contract:
  * subset-of-exact, planted-dup recall, bounded candidates.
  */
class Round4bOpsSpec extends SparkSpec {

  test("q14_pivot matches a driver recompute of the nation×priority matrix") {
    val nation = graft.Tables.nation(spark, sf)
      .select("n_nationkey", "n_name").collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getString(1)).toMap
    val cust = graft.Tables.customer(spark, sf)
      .select("c_custkey", "c_nationkey").collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getAs[Number](1).longValue()).toMap
    val orders = graft.Tables.orders(spark, sf)
      .select("o_custkey", "o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    // exact-decimal recompute at 6dp via BigDecimal — the dsum contract
    val expect = orders.groupBy { case (ck, p, _) => (nation(cust(ck)), p) }
      .map { case ((nn, p), rows) =>
        (nn, p) -> rows.map { case (_, _, v) =>
          BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        }.sum.toDouble
      }
    val got = Analytics.q14Pivot(spark, sf)
    assert(got.columns.toSeq == "n_name" +: priorities)
    got.collect().foreach { r =>
      val nn = r.getString(0)
      priorities.zipWithIndex.foreach { case (p, i) =>
        expect.get((nn, p)) match {
          case Some(v) => assert(r.getDouble(i + 1) == v, s"$nn/$p")
          case None => assert(r.isNullAt(i + 1), s"$nn/$p should be NULL")
        }
      }
    }
    assert(got.count() == expect.keySet.map(_._1).size)
  }

  test("e18_window_drift localizes a planted level shift at the break row") {
    import spark.implicits._
    // key A: flat 10.0 then a +5 step at row 200 — the largest
    // two-window contrast must sit exactly on the first post-break row;
    // key B: flat noise-free series, every full-window shift is 0
    val rows =
      (0 until 400).map(i => (i.toLong, "A", i.toLong, if (i < 200) 10.0 else 15.0)) ++
      (0 until 400).map(i => (1000L + i, "B", i.toLong, 7.0))
    val ev = rows.toDF("event_id", "event_type", "secs", "value")
    val out = EventOps.windowDrift(ev, w = 50, topK = 3).collect()
    val topA = out.filter(_.getString(1) == "A").minBy(_.getInt(4))
    assert(topA.getLong(0) == 200L,
      s"top shift row ${topA.getLong(0)} — the break is at event 200")
    assert(topA.getDouble(3) == 5.0)
    assert(out.filter(_.getString(1) == "B").forall(_.getDouble(3) == 0.0))
    // full-window requirement: no candidate within W of either edge
    assert(out.forall { r =>
      val base = if (r.getString(1) == "A") 0L else 1000L
      val i = r.getLong(0) - base
      i >= 50 && i <= 350
    })
  }

  test("e18_window_drift matches a driver recompute on the real corpus") {
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        col("ts").cast("long").as("secs"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val w = 50
    val expect = ev.groupBy(_._2).toSeq.flatMap { case (et, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._1))
      val vals = sorted.map(v =>
        BigDecimal(v._4).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      sorted.indices.collect {
        case i if i >= w && i + w - 1 < sorted.length =>
          val sb = vals.slice(i - w, i).sum.toDouble
          val sa = vals.slice(i, i + w).sum.toDouble
          (sorted(i)._1, sa / w - sb / w)
      }.sortBy { case (id, sh) => (-math.abs(sh), id) }.take(20).zipWithIndex
        .map { case ((id, sh), rk) =>
          (et, rk + 1) -> ((id, math.rint(sh * 1e6) / 1e6)) }
    }.toMap
    val got = EventOps.e18WindowDrift(spark, sf).collect()
      .map(r => (r.getString(1), r.getInt(4)) -> ((r.getLong(0), r.getDouble(3)))).toMap
    assert(got == expect)
  }

  test("a6_holt replays the sequential recurrence bit-exactly and tracks ramps a2 cannot") {
    // driver recompute on the real corpus: distributed == sequential
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"),
        col("ts").cast("long").as("secs")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val expect = ev.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      var l = 0.0
      var b = 0.0
      rows.sortBy(r => (r._4, r._1)).zipWithIndex.map { case ((id, _, v, _), i) =>
        if (i == 0) { l = v; b = 0.0 }
        val resid = v - (l + b)
        val lNew = 0.3 * v + (1 - 0.3) * (l + b)
        b = 0.1 * (lNew - l) + (1 - 0.1) * b
        l = lNew
        id -> ((math.rint(l * 1e6) / 1e6, math.rint(b * 1e6) / 1e6,
          math.rint(resid * 1e6) / 1e6))
      }
    }.toMap
    val got = AnomalyML.a6Holt(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got == expect)
    // the capability a2's single EWMA lacks: on a pure ramp, Holt's
    // trend term drives one-step-ahead residuals to ~0 while EWMA's
    // lag leaves a persistent positive bias
    import spark.implicits._
    val ramp = (0 until 300).map(i => (i.toLong, 1L, i * 2.0, i.toLong))
      .toDF("event_id", "user_id", "value", "secs")
    val holtTail = AnomalyML.holt(ramp).filter(col("event_id") >= 200)
      .select("resid").collect().map(_.getDouble(0))
    val ewmaTail = graft.streaming.StreamEwma.smooth(ramp.as[EventRow])
      .filter(col("event_id") >= 200)
      .select("resid").collect().map(_.getDouble(0))
    assert(holtTail.forall(r => math.abs(r) < 0.5),
      s"Holt ramp residuals must vanish, max ${holtTail.map(math.abs).max}")
    // EWMA's steady-state ramp lag is slope·(1−α)/α = 2·0.7/0.3 ≈ 4.67
    assert(ewmaTail.forall(r => r > 4.0),
      s"EWMA ramp residuals stay biased, min ${ewmaTail.min}")
  }

  test("q15_bloom_semi equals the exact semi join; the bloom prunes non-matching keys") {
    // result equality with the plain semi join (the oracle's contract),
    // recomputed driver-side
    val cust = graft.Tables.customer(spark, sf)
      .select("c_custkey", "c_acctbal").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val keys = cust.filter(_._2 > 9000).map(_._1).toSet
    val orders = graft.Tables.orders(spark, sf)
      .select("o_custkey", "o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val expect = orders.filter(o => keys(o._1)).groupBy(_._2)
      .map { case (p, rows) =>
        p -> ((rows.length.toLong, rows.map(r =>
          BigDecimal(r._3).setScale(6, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble))
      }
    val got = Analytics.q15BloomSemi(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == expect && got.nonEmpty)
    // the mechanism: a bloom at fpp 0.01 over the key set must reject
    // the overwhelming majority of NON-matching fact keys (that is the
    // pre-shuffle pruning the operator exists for)
    import spark.implicits._
    val bloom = keys.toSeq.toDF("k").stat
      .bloomFilter("k", math.max(keys.size, 1L), 0.01)
    val nonMatching = orders.map(_._1).distinct.filterNot(keys)
    val passed = nonMatching.count(bloom.mightContain(_))
    assert(nonMatching.nonEmpty &&
      passed <= math.max(5, nonMatching.length / 20),
      s"bloom passed $passed of ${nonMatching.length} non-matching keys")
    // and zero false negatives, ever — the correctness precondition
    assert(keys.forall(bloom.mightContain(_)))
  }

  test("d12_keeper_select keeps the highest-quality copy, not the lowest id") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "cluster")
    val quality = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (7L, 0.2), (8L, 0.4))
      .toDF("doc_id", "quality")
    val rows = Dedup.keeperSelect(clusters, quality).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    // cluster 1: 2 and 3 tie at 0.9 → min doc_id 2 wins; the min-id
    // policy would have kept the WORST copy (doc 1 at 0.5)
    assert(rows(1L) == ((2L, 0L)) && rows(2L) == ((2L, 1L)) &&
      rows(3L) == ((2L, 0L)))
    // cluster 7: the higher-quality copy is the higher id
    assert(rows(7L) == ((8L, 0L)) && rows(8L) == ((8L, 1L)))
    // real-corpus binding == driver argmax over d8 × t2
    val cl = Dedup.d8DedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val q = TextOps.t2Quality(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val expect = cl.groupBy(_._2).toSeq.flatMap { case (c, ms) =>
      val keeper = ms.map(_._1).minBy(id => (-q(id), id))
      ms.map { case (id, _) =>
        id -> ((c, keeper, if (id == keeper) 1L else 0L)) }
    }.toMap
    val got = Dedup.d12KeeperSelect(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect && got.nonEmpty)
  }

  test("e19_autocorr signs oscillation negative and smooth series positive") {
    import spark.implicits._
    // key "osc": alternating ±1 per minute → r(1) ≈ −1, r(2-min-even
    // lags) would be +1 but only odd lags 1/5/15 are asked → all ≈ −1;
    // key "smooth": slow sine (period 120 min) → r(1) strongly positive
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (0 until 360).flatMap { i =>
      val ts = new java.sql.Timestamp(base + i * 60000L)
      Seq((ts, "osc", if (i % 2 == 0) 1.0 else -1.0),
        (ts, "smooth", math.sin(i * 2 * math.Pi / 120)))
    }
    val out = EventOps.autocorr(rows.toDF("ts", "event_type", "value"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(3)).toMap
    assert(out(("osc", 1)) < -0.99 && out(("osc", 5)) < -0.99 &&
      out(("osc", 15)) < -0.99)
    assert(out(("smooth", 1)) > 0.99)
    // 15 min on a 120-min sine is cos(2π·15/120) ≈ 0.707 — memory decays
    assert(out(("smooth", 15)) > 0.6 && out(("smooth", 15)) < 0.8)
  }

  test("d11_semdedup emits only true pairs (⊆ d5 with equal cosines)") {
    val exact = Dedup.d5EmbedNeardup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val approx = Dedup.d11SemDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    approx.foreach { case (pair, cos) =>
      assert(exact.get(pair).contains(cos),
        s"d11 pair $pair@$cos not in the exact d5 set")
    }
  }

  test("d11_semdedup finds planted near-identical pairs within clusters") {
    import spark.implicits._
    val rng = new scala.util.Random(7L)
    val dim = 64
    val n = 400
    val base = Array.fill(n)(Array.fill(dim)(rng.nextGaussian().toFloat))
    // 40 planted dups: vector i+1000 = tiny perturbation of vector i
    val planted = (0 until 40).map { i =>
      val src = base(i)
      (1000L + i, src.map(x => x + rng.nextGaussian().toFloat * 0.01f).toSeq)
    }
    val corpus = (base.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) } ++
      planted).toSeq.toDF("vec_id", "embedding")
    val found = Dedup.semDedup(corpus, minCos = 0.98, targetCluster = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = (0 until 40).count(i => found.contains((i.toLong, 1000L + i)))
    assert(hits >= 36, s"planted-dup recall $hits/40 — KMeans cells must " +
      "co-locate near-identical vectors")
  }
}

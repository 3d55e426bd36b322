package graft.operators

import graft.SparkSpec

/** Round-4 continuation batch (SURVEY.md §2) — self-oracles for the
  * session's new operators; DuckDB hash oracles cover the rest. */
class Round4cOpsSpec extends SparkSpec {

  test("s8_range_search agrees with s1 on the qualifying top-k set and respects the threshold") {
    val range = Similarity.s8RangeSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every emitted pair clears the threshold
    range.values.foreach(c => assert(c >= 0.25, s"cos $c below threshold"))
    // no duplicate pairs (map size == row count)
    assert(range.size == Similarity.s8RangeSearch(spark, sf).count())
    // s1's top-10 pairs that clear the threshold are exactly the
    // qualifying head of the range result, with identical cosines
    Similarity.s1AnnBrute(spark, sf).collect().foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      val cos = r.getDouble(2)
      if (cos >= 0.25)
        assert(range.get(k).contains(cos), s"missing/mismatched $k: ${range.get(k)} vs $cos")
    }
    // and s8 returns MORE than any top-10 could where many qualify
    val perQuery = range.keys.groupBy(_._1).view.mapValues(_.size)
    assert(perQuery.values.sum > 0, "empty range result")
  }

  test("t14_dup_ngrams crafted ratios and corpus invariants") {
    import spark.implicits._
    // crafted docs through the SAME operator entry point, swapped in
    // via a temp parquet dir shaped like the documents table:
    // "a b a b c": bigrams (a b)(b a)(a b)(b c) → "a b"×2 dup →
    // total 4, dup 2, ratio 0.5; "x y z": all distinct → 0;
    // "w w w w": every bigram is (w w) → ratio 1.
    val dir = tempDir("t14docs").toString
    Seq((1L, "a b a b c", "en", "s", 9L), (2L, "x y z", "en", "s", 5L),
        (3L, "w w w w", "en", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val crafted = TextOps.t14DupNgrams(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(crafted(1L) == ((4L, 2L, 0.5)))
    assert(crafted(2L) == ((2L, 0L, 0.0)))
    assert(crafted(3L) == ((3L, 3L, 1.0)))
    // corpus invariants: total = n_words − 1, 0 ≤ dup ≤ total
    val out = TextOps.t14DupNgrams(spark, sf).collect()
    val nw = TextOps.t2Quality(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val (id, total, dup, ratio) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(total == nw(id) - 1, s"doc $id total $total vs words ${nw(id)}")
      assert(dup >= 0 && dup <= total)
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
    assert(out.exists(_.getLong(2) > 0), "no duplicate bigrams found in corpus")
  }

  test("d13_dup_weight conserves gradient mass and matches d1 group counts") {
    val d1 = Dedup.d1DedupExact(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val out = Dedup.d13DupWeight(spark, sf).collect()
    // every doc appears exactly once (nothing dropped)
    assert(out.length == graft.Tables.documents(spark, sf).count())
    out.foreach { r =>
      val (h, n, w) = (r.getString(1), r.getLong(2), r.getDouble(3))
      assert(n == d1(h), s"group count mismatch for $h")
      assert(w == 1.0 / n)
    }
    // per digest group, weights sum to exactly one gradient-unit per
    // distinct text (n copies × 1/n — exact in doubles for equal
    // weights summed n times only when n divides; use the count form)
    out.groupBy(_.getString(1)).foreach { case (h, g) =>
      assert(g.length == d1(h).toInt)
      assert(g.map(_.getDouble(3)).distinct.length == 1)
    }
  }

  test("i9_curriculum is a permutation ordered band-desc with hash-shuffled bands") {
    val out = Sampling.i9Curriculum(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val n = out.length
    // positions are exactly 0..n−1 (a permutation)
    assert(out.map(_._3).sorted.sameElements(0L until n.toLong))
    // band sizes are quartile-balanced (±2 for threshold ties)
    val bySize = out.groupBy(_._2).view.mapValues(_.length)
    assert(bySize.keySet == Set(0, 1, 2, 3))
    bySize.values.foreach(c =>
      assert(math.abs(c - n / 4.0) <= n * 0.05 + 2, s"band sizes $bySize"))
    // positions strictly respect band order: every band-3 doc precedes
    // every band-2 doc, etc.
    val maxPosByBand = out.groupBy(_._2).view.mapValues(_.map(_._3).max).toMap
    val minPosByBand = out.groupBy(_._2).view.mapValues(_.map(_._3).min).toMap
    assert(maxPosByBand(3) < minPosByBand(2))
    assert(maxPosByBand(2) < minPosByBand(1))
    assert(maxPosByBand(1) < minPosByBand(0))
    // within a band, order is hash-shuffled: doc_id order and position
    // order must disagree somewhere
    val b3 = out.filter(_._2 == 3).sortBy(_._3).map(_._1)
    assert(b3.sorted.toSeq != b3.toSeq, "band order degenerated to doc_id order")
  }

  test("a7_pca_outlier flags a planted off-subspace vector and spares the manifold") {
    import spark.implicits._
    // 200 vectors confined to a 2-D subspace of R^8 (dims 0-1), plus
    // one vector pointing straight off it (dim 7): with k=2 the
    // in-subspace rows reconstruct ~exactly, the planted one cannot.
    val rng = new scala.util.Random(5L)
    val inPlane = (0L until 200L).map { id =>
      val a = rng.nextGaussian().toFloat * 3f
      val b = rng.nextGaussian().toFloat * 2f
      (id, Array(a, b, 0f, 0f, 0f, 0f, 0f, 0f).toSeq)
    }
    val planted = Seq((999L, Array(0f, 0f, 0f, 0f, 0f, 0f, 0f, 10f).toSeq))
    val e = (inPlane ++ planted).toDF("vec_id", "embedding")
    val out = AnomalyML.pcaOutlier(e, k = 2, contamination = 0.02).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.contains(999L), s"planted outlier not flagged: $out")
    assert(out(999L) > 50.0, s"planted err ${out(999L)} too small") // ~100 − subspace leak
    // flagged set is the contamination-sized tail, planted err is max
    assert(out.size <= math.ceil(201 * 0.02).toInt + 1)
    assert(out.values.max == out(999L))
    // corpus run: flag fraction ≈ contamination, errors non-negative
    val corpus = AnomalyML.a7PcaOutlier(spark, sf).collect()
    val n = graft.Tables.embeddings(spark, sf).count()
    assert(corpus.length <= n * 0.05 + 2 && corpus.length >= n * 0.02,
      s"flagged ${corpus.length} of $n")
    corpus.foreach(r => assert(r.getDouble(1) >= 0.0))
  }

  test("d14_incremental_dedup classifies planted base/batch dups and fresh docs") {
    import spark.implicits._
    // base: ids 1-3; incoming: ids 10-13. 10 repeats base text "aa",
    // 11 and 12 repeat each other ("bb"), 13 is fresh.
    val docs = Seq((1L, "aa"), (2L, "xx"), (3L, "yy"),
        (10L, "aa"), (11L, "bb"), (12L, "bb"), (13L, "zz"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(docs,
        org.apache.spark.sql.functions.col("doc_id") >= 10L).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out == Map(10L -> "dup_base", 11L -> "new",
      12L -> "dup_batch", 13L -> "new"), s"got $out")
    // corpus run: every incoming doc classified exactly once; statuses
    // drawn from the contract set
    val corpus = Dedup.d14IncrementalDedup(spark, sf).collect()
    assert(corpus.nonEmpty)
    assert(corpus.map(_.getLong(0)).distinct.length == corpus.length)
    corpus.foreach(r =>
      assert(Set("dup_base", "dup_batch", "new").contains(r.getString(2))))
  }

  test("e20_rate_burst flags a planted burst minute and nothing steady") {
    import spark.implicits._
    // type "steady": 5 events/minute for 40 minutes, except minute 20
    // carries 60 events (the burst). Type "flat": constant 5/minute —
    // zero variance, filtered by the sd > 0 guard, never flagged.
    val base = 1700000040L // minute-aligned (divisible by 60)
    def at(min: Int, i: Int) = new java.sql.Timestamp((base + min * 60L) * 1000L + i)
    val steady = for (m <- 0 until 40; i <- 0 until (if (m == 20) 60 else 5))
      yield ("steady", at(m, i))
    val flat = for (m <- 0 until 40; i <- 0 until 5) yield ("flat", at(m, i))
    val ev = (steady ++ flat).toDF("event_type", "ts")
    val out = EventOps.rateBurst(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == 1, s"expected exactly the planted burst, got ${out.toSeq}")
    val (et, m, n, z) = out.head
    assert(et == "steady" && m == base + 20 * 60 && n == 60 && z > 3.0)
    // corpus run (sf0.001 may legitimately have no bursts): every
    // flagged row clears the threshold
    EventOps.e20RateBurst(spark, sf).collect()
      .foreach(r => assert(r.getDouble(3) > 3.0))
  }

  test("m5_percep_clusters equals the driver-side transitive closure of m4's pairs") {
    val pairs = Multimodal.m4PercepDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val out = Multimodal.m5PercepClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side union-find over the same pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys
      .map(v => v -> find(v)).toMap
    assert(out.keySet == expected.keySet,
      s"membership: ${out.keySet.size} vs ${expected.keySet.size}")
    // same partition: min-label canonical form on both sides
    val canonOut = out.groupBy(_._2).values.map(_.keys.toSet).toSet
    val canonExp = expected.groupBy(_._2).values
      .map(_.map(_._1).toSet).toSet
    assert(canonOut == canonExp)
    // keeper label is the component min
    out.groupBy(_._2).foreach { case (lbl, members) =>
      assert(lbl == members.keys.min)
    }
  }

  test("t15_langid_margin predicts exactly t1's language with a sane margin") {
    val t1 = TextOps.t1Langid(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    val out = TextOps.t15LangidMargin(spark, sf).collect()
    assert(out.length == t1.size)
    out.foreach { r =>
      val (id, lang, best, second, margin) = (r.getLong(0), r.getString(1),
        r.getInt(2), r.getInt(3), r.getInt(4))
      assert((lang, best) == t1(id), s"doc $id diverged from t1")
      assert(second <= best && margin == best - second && margin >= 0)
    }
    // margins discriminate: some docs are confident, some ambiguous
    assert(out.exists(_.getInt(4) >= 2) && out.exists(_.getInt(4) == 0))
  }

  test("d15_source_overlap pair mass equals d2's and the matrix is upper-triangular") {
    val pairSources = {
      val src = graft.Tables.documents(spark, sf).collect()
        .map(r => r.getLong(0) -> r.getString(3)).toMap
      Dedup.d2DedupNgram(spark, sf).collect()
        .map(r => (src(r.getLong(0)), src(r.getLong(1))))
        .map { case (x, y) => if (x <= y) (x, y) else (y, x) }
    }
    val matrix = Dedup.d15SourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // total pair mass is conserved
    assert(matrix.values.sum == pairSources.length.toLong)
    // the matrix is EXACTLY d2's pairs grouped by ordered source pair
    val expected = pairSources.groupBy(identity).view.mapValues(_.length.toLong)
    assert(matrix == expected.toMap)
    // upper-triangular: sa ≤ sb everywhere
    matrix.keys.foreach { case (sa, sb) => assert(sa <= sb) }
  }

  test("e21_coverage invariants: observed ≤ span, events ≥ observed, coverage ∈ (0, 1]") {
    val out = EventOps.e21Coverage(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (obs, span, nev, cov) =
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))
      assert(obs >= 1 && obs <= span, s"observed $obs vs span $span")
      assert(nev >= obs, s"events $nev < observed minutes $obs")
      assert(cov > 0.0 && cov <= 1.0, s"coverage $cov")
      assert(cov == obs * 1.0 / span)
    }
  }

  test("a8_hist_drift scores planted shape drift near 1 and identical halves at 0") {
    import spark.implicits._
    // "shifted": ref half uniform 0..99, cur half uniform 1000..1099 —
    // disjoint supports. Binned TVD maxes at exactly 0.9 with decile
    // bins: ALL cur mass lands in the open top bin, which also holds
    // the ref's own top 10% — (9×0.1 + |0.1−1.0|)/2. "stable": the
    // SAME value sequence in both halves — identical histograms,
    // TVD exactly 0.
    val refSecs = 0 until 100
    val curSecs = 200 until 300
    val shifted = refSecs.map(i => ("shifted", i.toLong, i % 100 * 1.0)) ++
      curSecs.map(i => ("shifted", i.toLong, 1000.0 + i % 100))
    val stable = refSecs.map(i => ("stable", i.toLong, i % 100 * 1.0)) ++
      curSecs.map(i => ("stable", i.toLong, i % 100 * 1.0))
    val ev = (shifted ++ stable).toDF("event_type", "sec", "value")
    val out = AnomalyML.histDrift(ev).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out("shifted") == 0.9, s"disjoint drift scored ${out("shifted")}")
    assert(out("stable") == 0.0, s"identical halves scored ${out("stable")}")
    // corpus run: tvd ∈ [0, 1] for every key
    AnomalyML.a8HistDrift(spark, sf).collect().foreach { r =>
      val t = r.getDouble(3)
      assert(t >= 0.0 && t <= 1.0)
    }
  }

  test("d16_edit_pairs catches a planted typo pair token-set Jaccard misses") {
    import spark.implicits._
    // 11 & 12 differ by ONE character INSIDE the 40-char prefix
    // ("brown" vs "br0wn") — token-set Jaccard sees a changed token,
    // edit distance sees 1. 13 shares a bigram with 11 (blocked
    // together) but is far in edits. 14 shares NO bigram — never
    // even a candidate.
    val docs = Seq(
      (11L, "the quick brown fox jumps over the lazy dog table"),
      (12L, "the quick br0wn fox jumps over the lazy dog table"),
      (13L, "the quick red wolf sleeps under a heavy oak shelf"),
      (14L, "completely different words appear in this one here"))
      .toDF("doc_id", "text")
    val out = Dedup.editPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(out.get((11L, 12L)).contains(1), s"planted typo pair missing: $out")
    assert(!out.keySet.exists { case (a, b) => a == 14L || b == 14L },
      "unblocked doc leaked into candidates")
    assert(!out.contains((11L, 13L)) && !out.contains((12L, 13L)),
      "far pair survived the distance verify")
    // corpus invariants: dist ∈ [0, 8], pairs ordered a < b
    Dedup.d16EditPairs(spark, sf).collect().foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(2) >= 0 && r.getInt(2) <= 8)
    }
  }

  test("d17 dedup report reconciles with d1's digest groups") {
    val d1 = Dedup.d1DedupExact(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2))) // (keeper, n_copies)
    val report = Dedup.d17DedupReport(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // total drops across sources == total non-keeper copies in d1
    val expectedDrops = d1.map(_._2 - 1).sum
    val drops = report.values.map(_._3).sum
    assert(drops == expectedDrops, s"drops $drops vs $expectedDrops")
    // totals and rate invariants
    val totalDocs = report.values.map(_._1).sum
    assert(totalDocs == graft.Tables.documents(spark, sf).count())
    report.foreach { case (src, (n, inDup, dropped, ret)) =>
      assert(dropped <= inDup && inDup <= n, s"$src ordering")
      assert(ret == (n - dropped) * 1.0 / n)
    }
  }

  test("e23 scorecard consensus counts equal e17's flagged rows per key") {
    val card = EventOps.e23DetectorScorecard(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val e17 = EventOps.e17Ensemble(spark, sf).collect()
      .groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
    card.foreach { case (k, (n, nz, nmad, niqr, ncons)) =>
      assert(ncons == e17.getOrElse(k, 0L), s"$k consensus mismatch")
      assert(nz <= n && nmad <= n && niqr <= n && ncons <= n)
      // consensus needs >= 2 detectors, so it can't exceed the sum of
      // the two largest single-detector counts
      val top2 = Seq(nz, nmad, niqr).sorted.takeRight(2).sum
      assert(ncons <= top2)
    }
    val totalEvents = card.values.map(_._1).sum
    assert(totalEvents == graft.Tables.events(spark, sf).count())
  }

  test("i10_epoch_shuffle permutes per epoch, decorrelated from i5's epoch-0 order") {
    val ep2 = Sampling.i10EpochShuffle(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ep0 = Sampling.i5GlobalShuffle(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = ep2.size
    assert(ep2.values.toSeq.sorted == (0L until n).toSeq) // a permutation
    // different epochs give genuinely different orders: the fraction
    // of docs landing at the same position is ~1/n, not ~1
    val same = ep2.count { case (id, p) => ep0(id) == p }
    assert(same < n / 10, s"$same of $n positions unchanged across epochs")
    // reproducible: a second evaluation derives the identical order
    val again = Sampling.i10EpochShuffle(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == ep2)
  }

  test("e22_seasonal_strength ranks a planted diurnal key above a flat-noise key") {
    import spark.implicits._
    // "diurnal": value = 10·hour + tiny per-row wiggle → the hour
    // profile explains almost everything (strength → 1).
    // "noise": value alternates ±1 independent of hour → the profile
    // explains nothing (strength ≈ 0).
    // ts written as NANOS longs — the events.parquet on-disk contract
    // Tables.events rebuilds from (TESTDATA.md / Tables.events scaladoc)
    val rows = (0 until 24).flatMap { h =>
      (0 until 20).flatMap { i =>
        val ts = (1700000040L + h * 3600L + i * 60L) * 1000000000L
        Seq(("diurnal", ts, 10.0 * h + (i % 3) * 0.01),
          ("noise", ts, if ((h * 20 + i) % 2 == 0) 1.0 else -1.0))
      }
    }
    val dir = tempDir("e22docs").toString
    rows.toDF("event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = EventOps.e22SeasonalStrength(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out("diurnal") > 0.99, s"diurnal strength ${out("diurnal")}")
    assert(out("noise") < 0.1, s"noise strength ${out("noise")}")
    // corpus: strength defined and ≤ 1 for every key
    EventOps.e22SeasonalStrength(spark, sf).collect()
      .foreach(r => assert(r.getDouble(2) <= 1.0))
  }

  test("q18 sketch rollup: merged union equals the direct global sketch, estimates near exact") {
    import org.apache.spark.sql.functions._
    val out = Analytics.q18SketchRollup(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val o = graft.Tables.orders(spark, sf)
    // exact per-group + global distincts
    val exact = o.groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactAll = o.select(countDistinct(col("o_custkey"))).first().getLong(0)
    exact.foreach { case (k, n) =>
      val est = out(k)
      assert(math.abs(est - n) <= math.max(3, n * 0.03), s"$k: $est vs $n")
    }
    assert(math.abs(out("ALL") - exactAll) <= math.max(3, exactAll * 0.03))
    // mergeability is LOSSLESS: union-of-group-sketches == one direct
    // global sketch, estimate-for-estimate
    val direct = o.agg(expr("hll_sketch_estimate(hll_sketch_agg(o_custkey))"))
      .first().getLong(0)
    assert(out("ALL") == direct, s"merged ${out("ALL")} vs direct $direct")
  }

  test("q17 merged partials equal the one-pass aggregation bit-for-bit") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val merged = Analytics.q17IncrementalAgg(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    // one-pass twin over the whole fact, same decimal discipline
    val onePass = graft.Tables.lineitem(spark, sf)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 6))).cast("double").as("sq"),
        sum(col("l_extendedprice").cast(DecimalType(18, 6))).cast("double").as("sp"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(merged.keySet == onePass.keySet)
    merged.foreach { case (k, (n, nDelta, sq, sp, avg)) =>
      val (n1, sq1, sp1) = onePass(k)
      assert(n == n1, s"$k count")
      assert(sq == sq1, s"$k sum_qty: $sq vs $sq1") // BIT-equal, no tolerance
      assert(sp == sp1, s"$k sum_price: $sp vs $sp1")
      assert(avg == sp1 / n1)
      assert(nDelta >= 0 && nDelta <= n)
    }
    // the delta split is real (≈10%)
    val (tot, dn) = merged.values.foldLeft((0L, 0L)) {
      case ((a, b), (n, d, _, _, _)) => (a + n, b + d)
    }
    assert(dn > 0 && dn < tot / 5, s"delta $dn of $tot")
  }

  test("q16 bucketed join plans as exchange-free sort-free SMJ and is layout-invariant") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Analytics.bucketedJoinInput(spark, sf)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"no SMJ in:\n$plan")
      // co-located buckets: the join needs no shuffle — the dominant
      // cost of a fact-fact join, gone unconditionally
      assert(!plan.contains("Exchange"), s"exchange under the bucketed join:\n$plan")
      // the read-time sort additionally disappears when Spark is told
      // to trust sortBy file order (one file per bucket — which
      // writeBucketedAt guarantees; the trust switch is legacy-gated
      // since 3.0 because multi-file buckets would break it)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val sortedPlan = Analytics.bucketedJoinInput(spark, sf)
        .queryExecution.executedPlan.toString
      assert(sortedPlan.contains("SortMergeJoin") &&
        !sortedPlan.contains("Exchange"), s"plan regressed:\n$sortedPlan")
      assert(!sortedPlan.contains("Sort "),
        s"read-time sort despite sorted single-file buckets:\n$sortedPlan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    }
    // layout invariance: bucketed answer == plain-join answer
    val bucketed = Analytics.q16ColocatedJoin(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val li = graft.Tables.lineitem(spark, sf)
    val ord = graft.Tables.orders(spark, sf)
    import org.apache.spark.sql.functions._
    val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(18, 6)))
        .cast("double").as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(bucketed.sameElements(plain))
  }
}

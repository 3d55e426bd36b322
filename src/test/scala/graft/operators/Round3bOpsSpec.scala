package graft.operators

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SURVEY.md §2 round-3 part-3 additions — e15 (linear interpolation),
  * a5 (Mahalanobis multivariate outliers), s5 (filtered ANN), i6
  * (exact-N per-stratum sample), q12 (grouping sets). All five are
  * DuckDB-oracled in Verify; these specs pin the semantic invariants
  * the hash compare can't articulate.
  */
class Round3bOpsSpec extends SparkSpec {

  test("e15_interpolate matches a per-key driver recompute and stays inside its neighbor bracket") {
    val rows = EventOps.e15Interpolate(spark, sf).collect()
    assert(rows.nonEmpty)
    var interpolated = 0
    rows.groupBy(_.getLong(1)).values.foreach { keyRows =>
      val ordered = keyRows.sortBy(r => (r.getLong(2), r.getLong(0)))
      val valid = ordered.zipWithIndex.collect {
        case (r, i) if !r.isNullAt(3) => (i, r.getLong(2), r.getDouble(3))
      }
      ordered.zipWithIndex.foreach { case (r, i) =>
        val filled = if (r.isNullAt(4)) None else Some(r.getDouble(4))
        if (!r.isNullAt(3)) {
          assert(!r.getBoolean(5) && filled.contains(r.getDouble(3)))
        } else {
          assert(r.getBoolean(5))
          val prev = valid.filter(_._1 < i).lastOption
          val next = valid.find(_._1 > i)
          val expect = (prev, next) match {
            case (Some((_, ps, pv)), Some((_, ns, nv))) if ns > ps =>
              val raw = pv + (nv - pv) * ((r.getLong(2) - ps).toDouble / (ns - ps).toDouble)
              interpolated += 1
              // interpolation never escapes the neighbor bracket
              assert(filled.get >= math.min(pv, nv) - 1e-9 &&
                filled.get <= math.max(pv, nv) + 1e-9)
              Some(new JBigDecimal(raw).setScale(6, RoundingMode.HALF_UP).doubleValue)
            case (Some((_, _, pv)), _) => Some(pv)
            case (None, Some((_, _, nv))) => Some(nv)
            case (None, None) => None
          }
          (filled, expect) match {
            case (Some(f), Some(e)) => assert(math.abs(f - e) < 1e-9)
            case (f, e) => assert(f == e)
          }
        }
      }
    }
    assert(interpolated > 0, "corpus must exercise the two-neighbor interpolation path")
  }

  test("a5_mahalanobis agrees with a driver-side quadratic form and catches joint-only anomalies") {
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("int").cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    // mirror the operator's decimal-sum moment discipline exactly
    def dec(v: Double, scale: Int) =
      new JBigDecimal(v).setScale(scale, RoundingMode.HALF_UP)
    val d2ByEvent: Map[Long, (Double, Double, Double)] =
      ev.groupBy(_._2).iterator.flatMap { case (_, g) =>
      val n = g.length.toDouble
      def s(f: ((Long, String, Double, Double)) => JBigDecimal) =
        g.map(f).reduce(_ add _).doubleValue
      val sx = s(r => dec(r._3, 6)); val sy = s(r => dec(r._4, 6))
      val sxx = s(r => dec(r._3 * r._3, 10)); val syy = s(r => dec(r._4 * r._4, 10))
      val sxy = s(r => dec(r._3 * r._4, 10))
      val mx = sx / n; val my = sy / n
      val cxx = (sxx - sx * sx / n) / (n - 1); val cyy = (syy - sy * sy / n) / (n - 1)
      val cxy = (sxy - sx * sy / n) / (n - 1)
      val det = cxx * cyy - cxy * cxy
      val sdx = math.sqrt(cxx); val sdy = math.sqrt(cyy)
      g.map { r =>
        val dx = r._3 - mx; val dy = r._4 - my
        val d2 = (dx * dx * cyy - 2.0 * dx * dy * cxy + dy * dy * cxx) / det
        r._1 -> ((d2, math.abs(dx / sdx), math.abs(dy / sdy)))
      }
    }.toMap
    val flagged = AnomalyML.a5Mahalanobis(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    flagged.foreach { case (id, d2) =>
      assert(d2 > 9 - 1e-6)
      assert(math.abs(d2ByEvent(id)._1 - d2) < 1e-5)
    }
    // away from the d² = 9 boundary the flag sets must agree exactly
    d2ByEvent.foreach { case (id, (d2, _, _)) =>
      if (d2 > 9.01) assert(flagged.contains(id), s"missed clear outlier $id")
      if (d2 < 8.99) assert(!flagged.contains(id), s"false flag $id")
    }
    // the multivariate point: some flagged row is unremarkable on BOTH
    // univariate axes (|z| < 3 each) — only the joint view catches it
    assert(flagged.keys.exists { id =>
      val (_, zx, zy) = d2ByEvent(id); zx < 3 && zy < 3
    }, "no joint-only anomaly found — univariate detectors would have caught everything")
  }

  test("s5_filtered_ann returns the label-constrained exact top-10 per query") {
    val out = Similarity.s5FilteredAnn(spark, sf).collect()
    val emb = graft.Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val corpus = emb.filter(_._1 >= 5)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    emb.filter(_._1 < 5).foreach { case (qid, qv, qlbl) =>
      val got = out.filter(_.getLong(0) == qid).sortBy(_.getInt(4))
      // every hit shares the query's label (the filter is the contract)
      assert(got.forall(_.getInt(1) == qlbl))
      assert(got.map(_.getInt(4)).toSeq == (1 to got.length))
      val expect = corpus.filter(_._3 == qlbl)
        .map { case (cid, cv, _) => (cid, cos(qv, cv)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(10)
      assert(got.map(_.getLong(2)).toSeq == expect.map(_._1).toSeq)
      got.zip(expect).foreach { case (g, (_, c)) =>
        assert(math.abs(g.getDouble(3) - c) < 1e-5)
      }
    }
    // the filter does real work: some unfiltered top-10 (s1) hit has a
    // different label and therefore cannot appear in s5's result
    val s1 = Similarity.s1AnnBrute(spark, sf).collect()
    val lbl = emb.map(e => e._1 -> e._3).toMap
    assert(s1.exists(r => lbl(r.getLong(1)) != lbl(r.getLong(0))))
  }

  test("i6_take_per_group takes exactly k docs per source in portable-hash order") {
    val out = Sampling.i6TakePerGroup(spark, sf).collect()
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id:i6".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 1000000L
    }
    docs.groupBy(_._2).foreach { case (src, g) =>
      val got = out.filter(_.getString(1) == src).sortBy(_.getInt(3))
      assert(got.length == math.min(20, g.length))
      val expect = g.map { case (id, _) => (bucket(id), id) }.sorted.take(20)
      assert(got.map(r => (r.getLong(2), r.getLong(0))).toSeq == expect.toSeq)
    }
  }

  test("i7_interleave gives dense per-source positions in hash order; (pos, source) round-robins") {
    val out = Sampling.i7Interleave(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def hash(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id:il".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val bySource = out.groupBy(_._2)
    bySource.foreach { case (_, g) =>
      // dense 0..n-1, ordered exactly by the portable hash
      val sorted = g.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (0L until g.length).toSeq)
      val expect = g.map(d => (hash(d._1), d._1)).sorted.map(_._2).toSeq
      assert(sorted.map(_._1).toSeq == expect)
    }
    // the interleave property: the first |sources| rows of the
    // (pos, source) order hit every source exactly once
    val head = out.sortBy(t => (t._3, t._2)).take(bySource.size)
    assert(head.map(_._2).distinct.length == bySource.size)
  }

  test("d7_containment prefix filter is lossless at the exact cover boundary") {
    // adversarial for the prefix/count/length filters: a low-entropy
    // vocab (shingles collide across docs), doc lengths spanning the
    // floor-edge na values, and a PLANTED pair sitting exactly AT the
    // threshold — Y = X's first 8 words + noise shares exactly 4 of
    // X's 5 shingles (cover = 0.8), so an off-by-one in the IEEE
    // floor bound, the prefix window, or the count threshold τ drops
    // it. Reference = driver brute-force over the same shingle sets.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Array("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh",
      "ii", "jj", "kk", "ll")
    val xWords = Array.tabulate(9)(i => vocab((i * 5 + 1) % 12))
    val base = Seq(
      500L -> xWords.mkString(" "),
      501L -> (xWords.take(8) :+ "zz").mkString(" "), // 4/5 of X: 0.8
      502L -> (xWords.take(7) :+ "zz").mkString(" ")) // 3/5 of X: 0.6
    val docs = (base ++ (0 until 120).map { i =>
      val len = 3 + rnd.nextInt(38)
      i.toLong -> Array.fill(len)(vocab(rnd.nextInt(12))).mkString(" ")
    }).toDF("doc_id", "text")
    def shingles(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length <= 5) Set(w.mkString(" "))
      else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val sh = docs.collect().map(r => r.getLong(0) -> shingles(r.getString(1)))
    val df = sh.flatMap(_._2).groupBy(identity).map { case (g, o) => g -> o.size }
    val kept = sh.map { case (id, s) => id -> s.filter(df(_) <= Dedup.MaxShingleDf) }
    val expect = (for {
      (a, sa) <- kept.toSeq; (b, sb) <- kept.toSeq
      if a != b && sa.nonEmpty
      common = (sa & sb).size
      if common.toDouble / sa.size >= 0.8
    } yield (a, b) -> ((common.toLong, sa.size.toLong))).toMap
    val got = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(expect.contains((501L, 500L)), "planted boundary pair missing from reference")
    assert(!expect.contains((502L, 500L)), "sub-threshold control leaked into reference")
    assert(got == expect,
      s"${(got.keySet -- expect.keySet).size} extra, ${(expect.keySet -- got.keySet).size} missing of ${expect.size}")
  }

  test("d7_containment matches a driver-side shingle recompute and is genuinely asymmetric") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def shingles(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length <= 5) Set(w.mkString(" "))
      else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val sh = docs.map { case (id, t) => id -> shingles(t) }.toMap
    val df = sh.values.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
    val kept = sh.map { case (id, s) => id -> s.filter(df(_) <= Dedup.MaxShingleDf) }
    val expect = (for {
      (a, sa) <- kept.toSeq; (b, sb) <- kept.toSeq
      if a != b && sa.nonEmpty
      common = (sa & sb).size
      if common.toDouble / sa.size >= 0.8
    } yield (a, b) -> ((common.toLong, sa.size.toLong))).toMap
    val got = Dedup.d7Containment(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.nonEmpty && got == expect,
      s"got ${got.size} pairs, expected ${expect.size}")
    // asymmetry on the crafted case the op exists for: a short doc
    // quoted whole inside a much longer one — containment flags the
    // short side (one direction only) while its Jaccard is far below
    // d2's 0.5 threshold
    import spark.implicits._
    val quote = (1 to 8).map(i => s"q$i").mkString(" ")
    val filler = (1 to 80).map(i => s"f$i").mkString(" ")
    val crafted = Seq((1L, quote), (2L, s"$filler $quote $filler"))
      .toDF("doc_id", "text")
    val dir1 = Dedup.containmentPairs(crafted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(dir1.map(t => (t._1, t._2)).toSeq == Seq((1L, 2L)))
    assert(dir1.head._3 == 1.0) // every shingle of the quote is in the host
    assert(Dedup.ngramJaccard(crafted).collect().isEmpty,
      "symmetric Jaccard must miss the quoted-subset case")
  }

  test("m4_percep_dedup matches a driver recompute; identical payloads pair at l1=0, perturbed ones survive") {
    // corpus binding equals the driver-side recompute of the same
    // banded-signature + L1-verify pipeline (4×16-bit bands over the
    // 64-bit dHash, MaxBucket df-cap, candidates = share any band)
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1).getBytes("UTF-8")))
    val feats = docs.map { case (id, p) =>
      val h = Multimodal.contentHist(p)
      (id, Multimodal.dhash64(h), h)
    }
    val candidates = (0 until Multimodal.PercepBands).flatMap { band =>
      feats.map { case (id, sig, _) =>
        (id, (sig >>> (band * Multimodal.BandBits)) &
          ((1L << Multimodal.BandBits) - 1))
      }.groupBy(_._2).values
        .filter(_.size <= Multimodal.MaxBucket)
        .flatMap { bucket =>
          val ids = bucket.map(_._1).toSeq
          for (a <- ids; b <- ids if a < b) yield (a, b)
        }
    }.toSet
    val hist = feats.map(f => f._1 -> f._3).toMap
    val expect = candidates.filter { case (a, b) =>
      hist(a).zip(hist(b)).map { case (x, y) => math.abs(x - y) }.sum <= 0.05
    }
    val got = Multimodal.m4PercepDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect, s"got ${got.size} expected ${expect.size}")
    // the r3 verdict's collapse check: the banding must DISCRIMINATE —
    // candidate pairs stay well below 5% of n²/2 on the real corpus
    // (the old 7-bit histogram signature emitted 97.8% of all pairs)
    val n = docs.length.toLong
    assert(candidates.size < n * (n - 1) / 2 * 5 / 100,
      s"banding degenerated: ${candidates.size} candidates of ${n * (n - 1) / 2} possible pairs")
    // crafted: byte-identical payloads MUST pair at l1 = 0; a lightly
    // perturbed payload keeps enough band signatures (the perceptual
    // point); a structurally different one must not pair
    import spark.implicits._
    val base = Array.tabulate(512)(i => ((i * 37) % 251).toByte)
    val tweaked = base.clone(); tweaked(100) = ((tweaked(100) & 0xff) ^ 1).toByte
    val different = Array.fill(512)(0.toByte)
    val crafted = Seq((1L, base), (2L, base.clone()), (3L, tweaked),
      (4L, different)).toDF("doc_id", "payload")
    val pairs = Multimodal.percepPairs(crafted).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 0.0)
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.keys.exists { case (x, y) => x == 4L || y == 4L })
  }

  test("e16_correlation lies in [-1,1], covers all type pairs, and matches a driver recompute") {
    val rows = EventOps.e16Correlation(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val types = graft.Tables.events(spark, sf).select("event_type")
      .distinct().collect().map(_.getString(0)).sorted
    // every pair unless degenerate (flat series / single shared minute)
    assert(rows.nonEmpty &&
      rows.length <= types.length * (types.length - 1) / 2)
    rows.foreach { case (ta, tb, n, r) =>
      assert(ta < tb && n > 1 && r >= -1.0 - 1e-9 && r <= 1.0 + 1e-9)
    }
    // driver recompute on one pair (plain doubles, loose tolerance —
    // the exact-decimal contract is the DuckDB hash check's job)
    val byMin = graft.Tables.events(spark, sf)
      .select(col("ts").cast("long"), col("event_type"), col("value")).collect()
      .map(r => ((r.getLong(0) / 60, r.getString(1)), r.getDouble(2)))
      .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).sum / g.size }
    val (ta, tb, _, _) = rows.head
    val common = byMin.collect { case ((m, t), v) if t == ta => m -> v }.toMap
      .flatMap { case (m, va) => byMin.get((m, tb)).map(vb => (va, vb)) }.toSeq
    val n = common.size.toDouble
    val (sx, sy) = (common.map(_._1).sum, common.map(_._2).sum)
    val sxy = common.map(p => p._1 * p._2).sum
    val sxx = common.map(p => p._1 * p._1).sum
    val syy = common.map(p => p._2 * p._2).sum
    val expect = (sxy - sx * sy / n) /
      math.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
    val got = rows.find(r => r._1 == ta && r._2 == tb).get
    assert(got._3 == common.size)
    assert(math.abs(got._4 - expect) < 1e-6)
  }

  test("q13_window_suite rank functions match their definitions per group") {
    val rows = Analytics.q13WindowSuite(spark, sf).collect()
      .map(r => (r.getString(2), r.getDouble(3), r.getLong(0),
        r.getInt(1).toLong, r.getInt(4), r.getDouble(5), r.getDouble(6)))
    rows.groupBy(_._1).values.foreach { g =>
      val ordered = g.sortBy(t => (t._2, t._3, t._4))
      val n = ordered.length
      // NTILE: sizes differ by ≤1, the n%k larger buckets come first
      val (q, rem) = (n / 4, n % 4)
      def ntileOf(i: Int): Int =
        if (i < rem * (q + 1)) i / (q + 1) + 1
        else rem + (i - rem * (q + 1)) / q + 1
      ordered.zipWithIndex.foreach { case ((_, _, _, _, quart, pr, cd), i) =>
        // no order-by ties (unique tiebreak), so the definitions close over i
        assert(quart == ntileOf(i))
        assert(math.abs(pr - (if (n == 1) 0.0
          else math.rint(i.toDouble / (n - 1) * 1e6) / 1e6)) < 1e-9)
        assert(math.abs(cd - math.rint((i + 1).toDouble / n * 1e6) / 1e6) < 1e-9)
      }
    }
  }

  test("i8_token_budget keeps exactly the best-quality prefix under the token budget") {
    val budget = 10000L
    val out = Sampling.i8TokenBudget(spark, sf, budget).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val all = TextOps.qualityOver(graft.Tables.documents(spark, sf))
      .select("doc_id", "n_words", "quality").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // driver recompute of the greedy prefix over (quality desc, doc_id)
    val ordered = all.sortBy { case (id, _, q) => (-q, id) }
    var cum = 0L
    val expect = ordered.flatMap { case (id, n, q) =>
      cum += n
      if (cum <= budget) Some((id, n, q, cum)) else None
    }.toSet
    assert(out.nonEmpty && out.length < all.length, "budget must actually cut")
    assert(out.toSet == expect)
    // selection quality: every kept doc scores >= every dropped doc
    val keptIds = out.map(_._1).toSet
    val minKept = out.map(_._3).min
    val maxDropped = all.filter(t => !keptIds.contains(t._1)).map(_._3).max
    assert(minKept >= maxDropped - 1e-12)
  }

  test("d9_fuzzy_join resolves truncated probes to their originals and matches a driver recompute") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def shingles(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length <= 5) Set(w.mkString(" "))
      else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val corpusSh = docs.map { case (id, t) => id -> shingles(t) }.toMap
    val df = corpusSh.values.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
    val keptC = corpusSh.map { case (id, s) => id -> s.filter(df(_) <= Dedup.MaxShingleDf) }
    // probe keeps every shingle that isn't df-CAPPED — a shingle merely
    // absent from the corpus still counts in the Jaccard denominator
    // (the symmetric-universe semantics; ADVICE r3)
    val probeSh = docs.filter(_._1 < 25).map { case (id, t) =>
      val w = t.split(" ")
      val cut = math.ceil(w.length * 3 / 5.0).toInt
      id -> shingles(w.take(cut).mkString(" "))
        .filter(df.getOrElse(_, 0) <= Dedup.MaxShingleDf)
    }.toMap
    val expect = (for {
      (a, sa) <- probeSh.toSeq; (b, sb) <- keptC.toSeq
      common = (sa & sb).size
      if common > 0 && common.toDouble / (sa.size + sb.size - common) >= 0.5
    } yield (a, b)).toSet
    val got = Dedup.d9FuzzyJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect, s"got ${got.size} expected ${expect.size}")
    // the entity-resolution contract: almost every truncated probe
    // resolves to its own original (shingle-prefix subset ⇒ jac ≈ 0.6)
    val selfHits = (0L until 25L).count(p => got.contains((p, p)))
    assert(selfHits >= 22, s"only $selfHits/25 probes found their originals")
    // crafted: novel probe content must DEFLATE jac, not vanish from
    // the denominator — a probe that is half corpus-prefix, half novel
    // words shares 5 of its 14 shingles with the original (jac 5/19 <
    // 0.5, no match), where the old corpus-kept-universe semantics
    // counted only the 5 corpus-present shingles (jac 0.5, false match)
    import spark.implicits._
    val aw = (1 to 14).map(i => s"a$i")
    val corpus = Seq((100L, aw.mkString(" "))).toDF("doc_id", "text")
    val noisy = Seq((1L, (aw.take(9) ++ (1 to 9).map(i => s"nov$i")).mkString(" ")))
      .toDF("doc_id", "text")
    assert(Dedup.fuzzyJoin(noisy, corpus).collect().isEmpty,
      "novel probe shingles must count in the Jaccard denominator")
    // control: a lightly-truncated probe still matches
    val close = Seq((2L, aw.take(12).mkString(" "))).toDF("doc_id", "text")
    val hit = Dedup.fuzzyJoin(close, corpus).collect()
    assert(hit.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 100L)))
  }

  test("t12_lm_quality matches a driver recompute and ranks rare-word docs as higher-entropy") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ").filter(_.nonEmpty)))
    val counts = docs.flatMap(_._2).groupBy(identity).map { case (w, o) => w -> o.length.toLong }
    val total = counts.values.sum.toDouble
    val expect = docs.map { case (id, ws) =>
      id -> math.rint(ws.map(w => -math.log(counts(w) / total)).sum / ws.length * 1e6) / 1e6
    }.toMap
    val got = TextOps.t12LmQuality(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (id, (n, xent)) =>
      assert(n == docs.find(_._1 == id).get._2.length)
      assert(math.abs(xent - expect(id)) < 1e-9, s"doc $id: $xent vs ${expect(id)}")
    }
    // fluency ordering: docs containing 'dup' (the corpus's rarest
    // planted token) must average higher cross-entropy than the corpus
    val dup = docs.filter(_._2.contains("dup")).map(_._1).toSet
    assert(dup.nonEmpty)
    val dupAvg = dup.toSeq.map(got(_)._2).sum / dup.size
    val allAvg = got.values.map(_._2).sum / got.size
    assert(dupAvg > allAvg)
  }

  test("t12's scoring join routes hot words through the broadcast head, not the shuffle") {
    import spark.implicits._
    // planted Zipf: 'the' dominates every doc (the skew that funnels a
    // plain shuffle join into one task); the tail is per-doc-unique
    val planted = Seq.tabulate(40)(i =>
      (i.toLong, (Seq.fill(50)("the") ++ Seq(s"rare$i", s"only$i")).mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextOps.lmQuality(planted, headK = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // equality with the unsplit definition (driver recompute)
    val counts = Map("the" -> 2000L) ++
      (0 until 40).flatMap(i => Seq(s"rare$i" -> 1L, s"only$i" -> 1L))
    val total = counts.values.sum.toDouble
    (0 until 40).foreach { i =>
      val ws = Seq.fill(50)("the") ++ Seq(s"rare$i", s"only$i")
      val expect = math.rint(
        ws.map(w => -math.log(counts(w) / total)).sum / ws.length * 1e6) / 1e6
      val (n, xent) = out(i.toLong)
      assert(n == 52 && math.abs(xent - expect) < 1e-9)
    }
    // the hot word is in the deterministic top-headK head (so it
    // matches the BROADCAST side map-side and never shuffles), and the
    // plan actually contains the broadcast hash join the split promises
    val headWords = counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(4).map(_._1)
    assert(headWords.contains("the"))
    val plan = TextOps.lmQualityRaw(planted, headK = 4)
      .queryExecution.executedPlan
    def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case o => o.children ++ o.subqueries
      }
      p +: kids.flatMap(nodes)
    }
    assert(nodes(plan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "t12's head join must be a broadcast hash join")
  }

  test("e17_ensemble flags exactly the events at least two detectors agree on") {
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id").collect().map(_.getLong(0)).toSet
    val z = ids(EventOps.e5Zscore(spark, sf))
    val r = ids(EventOps.e6Robust(spark, sf))
    val i = ids(EventOps.e7Iqr(spark, sf))
    assert(r.nonEmpty, "e6 flags nothing at the spec scale")
    val expect = (z ++ r ++ i).filter { id =>
      Seq(z(id), r(id), i(id)).count(identity) >= 2
    }
    val got = EventOps.e17Ensemble(spark, sf).collect()
      .map(rr => rr.getLong(0) -> rr.getLong(3)).toMap
    assert(got.keySet == expect)
    got.foreach { case (id, votes) =>
      assert(votes == Seq(z(id), r(id), i(id)).count(identity) && votes >= 2)
    }
    // the vote does real filtering: single-detector flags exist
    assert(expect.nonEmpty && expect.size < (z ++ r ++ i).size)
  }

  test("s6_knn_graph covers every vector with well-formed ranks at useful recall vs the exact graph") {
    val k = 5
    val out = Similarity.s6KnnGraph(spark, sf, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val emb = graft.Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byQ = out.groupBy(_._1)
    // well-formed: dense ranks, non-increasing cos, no self-edges
    byQ.values.foreach { g =>
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to sorted.length))
      val cs = sorted.map(_._3)
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      assert(g.forall(t => t._2 != t._1))
    }
    // bucketing yields neighbors for essentially every vector, and the
    // graph hits useful recall vs the exact top-k (weak-similarity
    // corpus: s2's 16x4-bit tables give ~0.85 expected per-pair recall)
    assert(byQ.size >= emb.length * 95 / 100)
    val recalls = emb.map { case (qid, qv) =>
      val exact = emb.filter(_._1 != qid)
        .map { case (cid, cv) => (cid, cos(qv, cv)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(k).map(_._1).toSet
      val got = byQ.getOrElse(qid, Array.empty).map(_._2).toSet
      (exact & got).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.55, f"mean kNN-graph recall $mean%.3f below floor")
  }

  test("q12_grouping_sets equals the two marginal aggregates from one scan") {
    val out = Analytics.q12GroupingSets(spark, sf).collect()
    assert(out.map(_.getLong(2)).toSet == Set(1L, 2L))
    val li = graft.Tables.lineitem(spark, sf)
    def marginal(c: String) = li.groupBy(c)
      .agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,6)")).cast("double"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val byRf = marginal("l_returnflag"); val byLs = marginal("l_linestatus")
    out.filter(_.getLong(2) == 1L).foreach { r =>
      assert(r.getString(1) == "ALL")
      assert(byRf(r.getString(0)) == ((r.getLong(3), r.getDouble(4))))
    }
    out.filter(_.getLong(2) == 2L).foreach { r =>
      assert(r.getString(0) == "ALL")
      assert(byLs(r.getString(1)) == ((r.getLong(3), r.getDouble(4))))
    }
    assert(out.filter(_.getLong(2) == 1L).map(_.getLong(3)).sum ==
      out.filter(_.getLong(2) == 2L).map(_.getLong(3)).sum)
  }
}

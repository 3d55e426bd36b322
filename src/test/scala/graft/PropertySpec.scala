package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{AsOf, Dedup, Multimodal}

/** Property-based (scalacheck) randomized checks for the generic cores
  * the operator stack is built on — the pieces where a subtle bug
  * would silently corrupt MANY operators at once:
  *
  *  - [[Dedup.connectedComponents]] (d8/d12/m5 + every keeper policy)
  *    and its distributed pointer-jump kernel, each vs a reference
  *    union-find on arbitrary graphs, including long chains that force
  *    pointer jumps;
  *  - [[graft.plans.TopKPerGroup.perKey]] — custom logical node +
  *    strategy + physical operator — vs the row_number window it
  *    replaces, on tie-heavy data across several k;
  *  - [[AsOf.join]] vs a per-row driver scan of the prior-or-equal
  *    right side (max ts, then max tie-break — the pinned semantics);
  *  - [[Multimodal.percepPairs]] vs a full driver recompute of the
  *    banded-signature + L1-verify pipeline on random byte corpora
  *    with planted byte-identical duplicates.
  *
  * Generators are sampled from FIXED seeds (pureApply) so every run
  * exercises the identical corpus — randomized coverage, deterministic
  * CI. Sizes stay small: the value is adversarial structure (ties,
  * chains, empty sides, duplicate payloads), not volume — the volume
  * story lives in the sf0.1/sf1 sweeps.
  */
class PropertySpec extends SparkSpec {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  // ---------------------------------------------------------------
  test("connectedComponents equals a driver union-find on random graphs") {
    import spark.implicits._
    val edgesGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(1, 60)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0, n - 1)
        b0 <- Gen.choose(0, n - 2)
      } yield (a.toLong, (if (b0 >= a) b0 + 1 else b0).toLong))
      chain <- Gen.choose(3, 12) // a path component forces pointer jumps
    } yield es ++ (0 until chain).map(i => (1000L + i, 1001L + i))

    for (seed <- 1L to 10L) {
      val edges = sample(edgesGen, seed)
      // driver reference: union-find, component label = min member
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val roots = verts.map(v => v -> find(v)).toMap
      val minOf = verts.groupBy(roots).map { case (r, vs) => r -> vs.min }
      val expect = verts.map(v => v -> minOf(roots(v))).toMap

      // the public entry (driver union-find at these sizes) and the
      // distributed pointer-jump kernel, called directly
      // odd seeds: nullable endpoint columns (no nulls), as a parquet
      // pair list reads back; the entry's columns are non-nullable
      val df = if (seed % 2 == 0) edges.toDF("a", "b")
        else edges.map { case (a, b) => (Option(a), Option(b)) }.toDF("a", "b")
      val entry = Dedup.connectedComponents(df)
      val kernel = Dedup.pointerJumpComponents(df)
      assert(entry.schema.map(f => f.name -> f.dataType) == kernel.schema.map(f => f.name -> f.dataType),
        s"seed=$seed: schema mismatch")
      for ((path, out) <- Seq("entry" -> entry, "kernel" -> kernel)) {
        val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expect, s"seed=$seed $path: CC mismatch (${edges.size} edges)")
      }
    }
  }

  test("connectedComponents fails loud on a null endpoint") {
    import spark.implicits._
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    for (edges <- Seq(Seq((Some(1L), Some(2L)), (Some(3L), None)),
        Seq((None, Some(2L))))) {
      val e = intercept[Exception] {
        Dedup.connectedComponents(edges.toDF("a", "b")).collect()
      }
      assert(messages(e).exists(m => m != null && m.contains("null endpoint")),
        s"expected the null-endpoint error, got: $e")
    }
  }

  test("the driver bound: MaxDriverEdges edges resolve on the driver, one more does not") {
    assert(Dedup.MaxDriverEdges == (1L << 20))
    assert(Dedup.resolvesOnDriver(0))
    assert(Dedup.resolvesOnDriver(Dedup.MaxDriverEdges))
    assert(!Dedup.resolvesOnDriver(Dedup.MaxDriverEdges + 1))
  }

  // ---------------------------------------------------------------
  test("TopKPerGroup equals the row_number window on tie-heavy data") {
    import spark.implicits._
    val rowsGen: Gen[List[(Int, Int, Long)]] = for {
      m <- Gen.choose(1, 80)
      rows <- Gen.listOfN(m, for {
        g <- Gen.choose(0, 4)
        v <- Gen.choose(0, 5) // tiny range: many exact ties per group
      } yield (g, v))
    } yield rows.zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }

    for (seed <- 1L to 10L) {
      val rows = sample(rowsGen, seed)
      val k = 1 + (seed % 4).toInt
      val df = rows.toDF("g", "v", "id")
      val got = graft.plans.TopKPerGroup.perKey(
          df, Seq(col("g")), Seq(col("v").desc, col("id")), k)
        .select("g", "v", "id", "rank").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
      val expect = df.withColumn("rank", row_number().over(
          Window.partitionBy("g").orderBy(col("v").desc, col("id"))))
        .filter(col("rank") <= k)
        .select("g", "v", "id", "rank").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
      assert(got == expect, s"seed=$seed k=$k: top-k mismatch")
    }
  }

  // ---------------------------------------------------------------
  test("AsOf.join equals a per-row driver scan with the pinned tie-break") {
    import spark.implicits._
    val gen: Gen[(List[(Long, Long, Long)], List[(Long, Long, Double, Long)])] =
      for {
        nl <- Gen.choose(1, 40)
        lefts <- Gen.listOfN(nl, for {
          key <- Gen.choose(0, 2)
          ts <- Gen.choose(0, 30)
        } yield (key.toLong, ts.toLong))
        nr <- Gen.choose(0, 25) // 0: a left side with NO right rows at all
        rights <- Gen.listOfN(nr, for {
          key <- Gen.choose(0, 2)
          ts <- Gen.choose(0, 30) // small range: equal-ts ties guaranteed
          v <- Gen.choose(-100, 100)
        } yield (key.toLong, ts.toLong, v.toDouble))
      } yield (
        lefts.zipWithIndex.map { case ((key, t), i) => (i.toLong, key, t) },
        rights.zipWithIndex.map { case ((key, t, v), i) =>
          (key, t, v, 500L + i)
        })

    for (seed <- 1L to 10L) {
      val (lefts, rights) = sample(gen, seed)
      val l = lefts.toDF("event_id", "user_id", "secs")
      val r = rights.toDF("user_id", "secs", "value", "rid")
      val got = AsOf.join(l, r, key = "user_id", ts = "secs",
          payload = Seq("value", "rid"), tieBreak = "rid")
        .select("event_id", "asof_value", "asof_rid").collect()
        .map(x => x.getLong(0) ->
          (Option(x.get(1)).map(_.asInstanceOf[Double]),
           Option(x.get(2)).map(_.asInstanceOf[Long]))).toMap
      // reference: latest prior-or-equal right row; at equal max ts the
      // greatest tie-break id wins (the window's `last` over tb asc)
      val expect = lefts.map { case (id, key, t) =>
        val cands = rights.filter(x => x._1 == key && x._2 <= t)
        val win = if (cands.isEmpty) (None, None)
          else {
            val w = cands.maxBy(x => (x._2, x._4))
            (Some(w._3), Some(w._4))
          }
        id -> win
      }.toMap
      assert(got == expect, s"seed=$seed: as-of mismatch")
    }
  }

  // ---------------------------------------------------------------
  test("percepPairs equals a driver recompute on random corpora with planted dups") {
    import spark.implicits._
    val corpusGen: Gen[List[(Long, Array[Byte])]] = for {
      n <- Gen.choose(4, 24)
      docs <- Gen.listOfN(n, for {
        len <- Gen.choose(0, 64) // incl. the <4-byte degenerate path
        bytes <- Gen.listOfN(len, Gen.choose(0, 255))
      } yield bytes.map(_.toByte).toArray)
    } yield {
      val base = docs.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      // plant one byte-identical duplicate of doc 0 — must pair at l1=0
      base :+ (base.length.toLong, base.head._2.clone())
    }

    for (seed <- 1L to 8L) {
      val corpus = sample(corpusGen, seed)
      val got = Multimodal.percepPairs(corpus.toDF("doc_id", "payload"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      // driver recompute of band candidates + L1 verify
      val feats = corpus.map { case (id, p) =>
        val h = Multimodal.contentHist(p)
        (id, Multimodal.dhash64(h), h)
      }
      val mask = (1L << Multimodal.BandBits) - 1
      val cands = (0 until Multimodal.PercepBands).flatMap { band =>
        feats.map { case (id, sig, _) =>
          (id, (sig >>> (band * Multimodal.BandBits)) & mask)
        }.groupBy(_._2).values
          .filter(_.size <= Multimodal.MaxBucket)
          .flatMap { bucket =>
            val ids = bucket.map(_._1)
            for (a <- ids; b <- ids if a < b) yield (a, b)
          }
      }.toSet
      val hist = feats.map(f => f._1 -> f._3).toMap
      val expect = cands.flatMap { case (a, b) =>
        var l1 = 0.0
        hist(a).zip(hist(b)).foreach { case (x, y) => l1 += math.abs(x - y) }
        if (l1 <= 0.05) Some((a, b) -> l1) else None
      }.toMap
      assert(got == expect, s"seed=$seed: percep mismatch")
      val dup = (corpus.head._1, corpus.last._1)
      assert(got.get(dup).contains(0.0),
        s"seed=$seed: planted byte-identical dup did not pair at l1=0")
    }
  }
}

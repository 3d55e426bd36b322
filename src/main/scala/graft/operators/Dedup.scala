package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{PortableHash, VectorOps}
import graft.Exec._

/** Deduplication for LLM-data pipelines (SURVEY.md §2.D), over the
  * `documents` / `embeddings` tables.
  *
  * Scale notes: exact dedup (d1) is a hash-groupBy — one shuffle on the
  * digest, map-side partial. Exact all-pairs similarity is inherently
  * quadratic, so d5 keeps the exact self-join form only as the
  * verifiable small-N twin; the 100 TB paths are the LSH-bucketed
  * variants (d2/d3/d4 — candidate generation via inverted index /
  * banding, so cost tracks candidate pairs, not n²).
  */
object Dedup {

  /** Exact duplicate grouping by content digest over any (doc_id, text)
    * frame: one survivor (min doc_id) per distinct normalized text. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy("h")
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy("keeper")

  /** d1_dedup_exact — [[exactDedup]] bound to the documents table. */
  def d1DedupExact(s: SparkSession, dir: String): DataFrame =
    exactDedup(Tables.documents(s, dir))

  /** d13_dup_weight — SOFT exact dedup: every doc kept, carrying a
    * training-loss weight 1/n_copies over its d1 digest group, so a
    * text duplicated k× contributes the same total gradient mass as a
    * unique one (the down-weighting alternative to d1's drop — the
    * right call when duplication frequency is itself signal, e.g.
    * boilerplate vs canon, and hard removal would bias the mixture).
    *
    * Scale: ONE shuffle of (doc_id, digest) on the digest — the group
    * count is a whole-partition window over that exchange, cheaper
    * than the groupBy + join-back form (which shuffles the frame
    * twice). Strings never shuffle; only the 32-char digest does.
    * `weight` is one IEEE division of an exact int64 — bit-identical
    * cross-engine. [sql-oracle]. */
  def d13DupWeight(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("n_copies",
        count(lit(1)).over(Window.partitionBy("h")))
      .withColumn("weight", lit(1.0) / col("n_copies"))
      .orderBy("doc_id")
  }

  /** Incremental (admission-time) exact dedup core: classify every doc
    * of an incoming batch against the standing corpus — `dup_base` if
    * its digest already exists in the base, `dup_batch` if an earlier
    * (smaller-id) doc of the SAME batch carries it, else `new`. This is
    * the production mode of d1: corpora grow by deltas, and
    * re-deduplicating the full corpus per delta is O(corpus) per batch
    * where admission is O(batch + probe).
    *
    * Scale: the base side reduces to its DISTINCT digest set (map-side
    * combined) and the probe is a shuffle equi-join on the fixed-width
    * digest — cost tracks batch size + matched digests, never
    * base×batch; strings never shuffle. The within-batch check is one
    * window over the batch's own digest partition. At 100 TB a
    * broadcast Bloom of the base digests (q15's prefilter) prunes the
    * mostly-new batch before the shuffle; st5 is the streaming twin of
    * the same admission decision. */
  def incrementalDedup(docs: DataFrame, isIncoming: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs.select(col("doc_id"), md5(col("text")).as("h"),
      isIncoming.as("inc"))
    val base = d.filter(!col("inc")).select("h").distinct()
      .withColumn("in_base", lit(1))
    d.filter(col("inc"))
      .withColumn("first_id", min("doc_id").over(Window.partitionBy("h")))
      .join(base, Seq("h"), "left")
      .withColumn("status",
        when(col("in_base").isNotNull, "dup_base")
          .when(col("first_id") < col("doc_id"), "dup_batch")
          .otherwise("new"))
      .select(col("doc_id"), col("h"), col("status"))
      .orderBy("doc_id")
  }

  /** d14_incremental_dedup — [[incrementalDedup]] with a 10%
    * hash-assigned incoming batch (the i2 split discipline).
    * [sql-oracle]. */
  def d14IncrementalDedup(s: SparkSession, dir: String): DataFrame =
    incrementalDedup(Tables.documents(s, dir),
      graft.functions.PortableHash.bucket(col("doc_id"), "incr", 10L) === 0)

  /** Exact embedding-cosine near-dup pairs (cos ≥ minCos) as a BLOCKED
    * TRIANGLE EQUI-JOIN (the 1-bucket-theta grid of Okcan & Riedewald,
    * SIGMOD 2011, specialized to a self-join): every vector gets a hash
    * block in [0, blocks); the pair space is the upper triangle of
    * block-pair cells (i ≤ j); the left side replicates each row to its
    * cells (blk, j ≥ blk), the right side to (i ≤ blk, blk), and the
    * join is a plain shuffle equi-join on the cell key — NEVER a
    * BroadcastNestedLoopJoin. An unordered pair meets in exactly one
    * cell (once for i < j; the a<b filter dedups the diagonal).
    *
    * Scale shape: memory per task is 2·n/blocks vectors (bounded by the
    * block count dial — no broadcast of half the corpus), parallelism is
    * blocks·(blocks+1)/2 hash-uniform cells, shuffle volume is
    * ~(blocks+1)/2 × corpus. The COMPUTE stays exact-quadratic by
    * definition — this operator is the verification twin. Note sign-LSH
    * canNOT prefilter this threshold losslessly: at cos 0.45 (θ≈63°)
    * vs a cos≈0 random baseline, per-bit collision is 0.65 vs 0.50, so
    * any banding that prunes random pairs also misses true pairs at
    * rates ≥10⁻³ (the qualifying pairs here sit at 0.45–0.51, barely
    * above noise — measured, see git history). The 100 TB near-dup
    * paths are d2/d3/d4 (banded candidates) and s2 (ANN top-k). */
  def embedNeardup(e: DataFrame, minCos: Double = 0.45,
      blocks: Int = 16): DataFrame = {
    val withBlock = e.select(col("vec_id"), col("embedding"),
      pmod(xxhash64(col("vec_id")), lit(blocks)).cast("int").as("blk"))
    val left = withBlock
      .withColumn("bj", explode(sequence(col("blk"), lit(blocks - 1))))
      .select(col("blk").as("bi"), col("bj"),
        col("vec_id").as("a"), col("embedding").as("ea"))
    val right = withBlock
      .withColumn("bi", explode(sequence(lit(0), col("blk"))))
      .select(col("bi"), col("blk").as("bj"),
        col("vec_id").as("b"), col("embedding").as("eb"))
    val cos = VectorOps.cosine(col("ea"), col("eb"))
    left.join(right, Seq("bi", "bj"))
      .filter(col("bi") =!= col("bj") || col("a") < col("b"))
      .withColumn("cos", cos)
      .filter(col("cos") >= minCos)
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), round(col("cos"), 6).as("cos"))
      .orderBy("a", "b")
  }

  /** d5_embed_neardup — [[embedNeardup]] on the embeddings table
    * (cos ≥ 0.45). The dot product runs in codegen'd native expressions
    * (VectorOps), no UDF. */
  def d5EmbedNeardup(s: SparkSession, dir: String): DataFrame =
    embedNeardup(Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))

  /** Shingles appearing in more documents than this are dropped from
    * the index AND from the Jaccard universe (stopword-shingle removal,
    * mirrored exactly in the DuckDB oracle). This is the knob that
    * bounds the self-join at 100 TB: a shingle shared by f docs emits
    * f² candidate pairs, so join cost is Σf² over kept shingles —
    * capped at MaxShingleDf² per shingle instead of unbounded. */
  val MaxShingleDf = 100

  /** d2_dedup_ngram — 5-word-shingle Jaccard near-dup pairs (jac ≥ 0.5,
    * over the doc-frequency-capped shingle space) via an inverted
    * shingle index: explode distinct shingles, drop hot shingles,
    * self-join on shingle, count common, compute |A∩B|/|A∪B|. Cost
    * tracks shared-shingle candidate pairs, never n².
    *
    * Shuffle discipline: the shingle STRING never leaves the map side —
    * it is hashed to 64 bits right after the explode, so the df-cap agg
    * and the candidate self-join move fixed-width longs instead of
    * ~40-byte strings (this was the single biggest shuffle in the
    * engine). A 64-bit hash is collision-safe to ~10⁹ distinct shingles
    * (p ≈ n²/2⁶⁵); above that swap in a 128-bit hash, same plan. The
    * per-doc shingle counts join the AGGREGATED pair table (near-dup
    * pairs, tiny) rather than widening every index row before the join.
    *
    * Generic core over any (doc_id, text) frame; `k` is the shingle
    * width, `minJac` the emission threshold. */
  def ngramJaccard(docs: DataFrame, k: Int = 5,
      minJac: Double = 0.5): DataFrame = {
    // r7: the full inverted-index self-join (Σf² candidates under the
    // df cap) measured exponent ~1.6/decade at sf100 (631 s, the d7
    // disease) — replaced by d7's PROVABLY LOSSLESS rarity-prefix +
    // count + length blocking specialized to symmetric Jaccard (see
    // containmentCandidates: jac ≥ t ⇒ common ≥ t·na, the same bound
    // containment uses, in both directions — so a < b keeps exactly
    // one guaranteed orientation per qualifying pair). Survivors are
    // verified EXACTLY by array_intersect over the kept-shingle sets;
    // the DuckDB oracle (naive join replay) is unchanged.
    val (exploded, sets, cand) =
      containmentCandidates(docs, k, minJac, symmetric = true)
    val jac = col("common") * lit(1.0) / (col("na") + col("nb") - col("common"))
    val out = cand
      .join(sets.select(col("doc_id").as("a"), col("gs").as("ga")), "a")
      .join(sets.select(col("doc_id").as("b"), col("n_sh").as("nb"),
        col("gs").as("gb")), "b")
      .withColumn("common",
        size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .filter(jac >= minJac)
      .select(col("a"), col("b"), round(jac, 6).as("jac"))
      .orderBy("a", "b")
      .finishIf()
    sets.unpersistIf()
    exploded.unpersistIf()
    out
  }

  /** d2_dedup_ngram — [[ngramJaccard]] bound to the documents table
    * (5-word shingles, jac ≥ 0.5). */
  def d2DedupNgram(s: SparkSession, dir: String): DataFrame =
    ngramJaccard(Tables.spread(s, Tables.documents(s, dir)))

  /** d15_source_overlap — cross-source duplication matrix (corpus
    * forensics): d2's near-dup doc pairs rolled up to (source_a,
    * source_b) counts, lexicographically ordered so the matrix is
    * upper-triangular however ids interleave. This answers the
    * provenance questions a dedup run raises — which feeds mirror
    * each other, which scraper re-crawled which site, where the
    * licensing risk concentrates — and tells the pipeline which
    * SOURCE-level exclusions buy the most dedup for free.
    *
    * Scale: the pair list is d2's (inverted index, df-capped — never
    * all-pairs); the doc→source attachment is two equi-joins on the
    * doc id whose cost tracks PAIR count, not corpus size; the final
    * rollup is a map-side-combined count over ≤ sources² keys.
    * [sql-oracle]. */
  def d15SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = ngramJaccard(Tables.spread(s, docs))
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("a"), col("source").as("source_a")), "a")
      .join(src.select(col("doc_id").as("b"), col("source").as("source_b")), "b")
      .select(least(col("source_a"), col("source_b")).as("sa"),
        greatest(col("source_a"), col("source_b")).as("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("n_pairs"))
      .orderBy("sa", "sb")
  }

  /** d17_dedup_report — the per-source dedup IMPACT summary every
    * corpus pipeline publishes before/after a dedup run: per source,
    * total docs, docs involved in any exact-duplicate group
    * (d1 digest count ≥ 2), docs a min-id keeper policy would drop,
    * and the resulting retention rate. The matrix d15 localizes
    * BETWEEN sources; this reports the per-source bottom line the
    * mixture rebalancing (i3) consumes — dropping dups shifts the
    * source distribution, and this is the table that quantifies by
    * how much.
    *
    * Scale: one digest-window pass (d13's single-shuffle shape) + a
    * map-side-combined rollup to O(sources) rows. `retention` is one
    * IEEE division of exact int64s. [sql-oracle]. */
  def d17DedupReport(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("h")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("keeper", min("doc_id").over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_copies") >= 2, 1L).otherwise(0L)).as("n_in_dup_groups"),
        sum(when(col("doc_id") =!= col("keeper"), 1L).otherwise(0L)).as("n_dropped"))
      .withColumn("retention",
        (col("n_docs") - col("n_dropped")) * lit(1.0) / col("n_docs"))
      .orderBy("source")
  }

  /** d16_edit_pairs — EDIT-DISTANCE near-dup on doc prefixes (the
    * title/headline entity-resolution regime): pairs whose first
    * `prefixLen` chars are within `maxDist` Levenshtein edits. Jaccard
    * (d2/d9) sees token SETS — it misses single-character typos,
    * inflections, and reorder-free edits that leave most tokens
    * intact but no token equal; edit distance is the standard metric
    * for short-string resolution, and both engines implement the
    * identical integer DP, so the verify is bit-exact by nature.
    *
    * Scale: candidates come from a word-bigram inverted index over the
    * PREFIX (df-capped at `maxDf` = 20 — the MaxShingleDf discipline,
    * so a stopword bigram cannot go quadratic: Σf² candidate volume is
    * ≤ maxDf × bigram occurrences, and the 50→20 re-dial measured a
    * 116× candidate cut at sf0.1 for a 33% pair loss, all of it pairs
    * blocked ONLY by common bigrams); the O(prefixLen²) DP runs
    * ONLY on blocked candidates, never all pairs. Bigram strings
    * shuffle here for oracle symmetry; at 100 TB hash them to longs
    * (Shingles.index) — candidate generation is collision-tolerant
    * because the DP verify filters. [sql-oracle]. */
  /** The blocking stage of [[editPairs]] — the ONE definition of its
    * candidate generation (prefix projection, distinct prefix word
    * bigrams, df cap, same-bigram self-join). The operator and the
    * PlanAudit candidate-volume guard both call this, so the guard
    * can never drift from what the operator plans (the scoredPairs
    * discipline). Returns (cached prefix frame, cached df-capped
    * bigram index, candidate pairs) — callers unpersist both cached
    * frames (the containmentCandidates triple convention). */
  private[graft] def editCandidates(docs: DataFrame, prefixLen: Int,
      maxDf: Int): (DataFrame, DataFrame, DataFrame) = {
    val s = docs.sparkSession
    import s.implicits._
    val pfx = docs
      .select(col("doc_id"), substring(col("text"), 1, prefixLen).as("p"))
      .cache()
    val bg = pfx.as[(Long, String)].flatMap { case (id, p) =>
        p.split(" ").iterator.sliding(2).map(_.mkString(" "))
          .toSet.iterator.map((g: String) => (id, g))
      }.toDF("doc_id", "g")
    // r14 (VERDICT r13 item 3): df-cap as a map-side-combined groupBy
    // count + partitioned shuffle_hash LEFT SEMI join, replacing r13's
    // COUNT window. The window buffered each bigram's FULL posting
    // list in one WindowExec task BEFORE the df filter dropped hot
    // keys — a single-task straggler that grows with the corpus under
    // Zipf bigram skew (ladder: max single-bigram df 3,813 over 3,906
    // distinct at sf10, 57 over 2,683 at sf0.1 — harmless here,
    // unbounded on a real 100 TB corpus). In this form no operator
    // buffers an unfiltered posting list: the count branch reduces hot
    // keys MAP-SIDE (partial agg — its exchange carries ≤
    // distinct-bigram partial rows, not posting lists), the semi build
    // side is the kept set (≤ 1 row per bigram, PARTITIONED across the
    // shuffle — the r12 kept-list BROADCAST grows with corpus vocab
    // and stays removed), and the probe side streams rows past the
    // per-partition hash with no per-key state. The typed flatMap runs
    // twice (count branch + probe branch), both over the cached pfx
    // frame — measured cheaper than caching the uncapped bigram frame
    // to dedupe it (80b9194: semi2 1.61 s vs semi3 1.07 s at sf10; an
    // O(corpus-bigrams) cache is also a non-starter at 100 TB, the
    // e5/e7 re-scan-the-fact precedent). The capped output is cached
    // so the self-join pays the semi probe once; the cached plan
    // exposes no partitioning through its AdaptiveSparkPlan wrapper,
    // so each self-join side re-exchanges the CAPPED rows (tiny; the
    // golden plan rows count those exchanges — same shape the r13
    // cache had). SHJ build memory is bounded per PARTITION by the
    // shuffle-partition protocol; the df-cap itself only bounds the
    // per-key candidate stream of the self-join. Measured
    // (80b9194, bit-exactness gate 0 diffs both directions at
    // sf0.1 AND sf10): blocking stage TIES the r13 cached-window arm
    // at sf10 (1.067 vs 1.072 s min-of-4) and reads +0.13 s at sf0.1
    // (0.846 vs 0.717 — the second flatMap pass over the pfx cache);
    // WindowExec and its 635 MB sf10 sort peak are gone from the plan
    // (peak exec memory re-measured in the same commit).
    val kept = bg.groupBy("g").agg(count(lit(1)).as("df_g"))
      .filter(col("df_g") <= maxDf).select("g")
    val bgkC = bg.join(kept.hint("shuffle_hash"), Seq("g"), "left_semi")
      .cache()
    val bgk = bgkC.hint("shuffle_hash")
    val cand = bgk.select(col("doc_id").as("a"), col("g"))
      .join(bgk.select(col("doc_id").as("b"), col("g")), "g")
      .filter(col("a") < col("b")).select("a", "b").distinct()
    (pfx, bgkC, cand)
  }

  /** Candidate-pair count of [[editPairs]]'s blocking stage — the
    * quantity its scale claim is about (PlanAudit guard). */
  private[graft] def editCandidateCount(docs: DataFrame,
      prefixLen: Int = 40, maxDf: Int = 20): Long = {
    val (pfx, bgk, cand) = editCandidates(docs, prefixLen, maxDf)
    val n = cand.count()
    bgk.unpersistIf()
    pfx.unpersistIf()
    n
  }

  def editPairs(docs: DataFrame, prefixLen: Int = 40, maxDist: Int = 8,
      maxDf: Int = 20): DataFrame = {
    val (pfx, bgk, cand) = editCandidates(docs, prefixLen, maxDf)
    val out = cand
      .join(pfx.select(col("doc_id").as("a"), col("p").as("pa")), "a")
      .join(pfx.select(col("doc_id").as("b"), col("p").as("pb")), "b")
      .withColumn("dist", levenshtein(col("pa"), col("pb")))
      .filter(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist"))
      .orderBy("a", "b")
      .finishIf()
    bgk.unpersistIf()
    pfx.unpersistIf()
    out
  }

  /** d16_edit_pairs — [[editPairs]] bound to the documents table. */
  def d16EditPairs(s: SparkSession, dir: String): DataFrame =
    editPairs(Tables.spread(s, Tables.documents(s, dir)))

  /** Asymmetric containment near-dup: A → B when ≥ `minCover` of A's
    * distinct k-shingles also occur in B (common/|A| — the DIRECTED
    * form of d2's symmetric Jaccard). This is the quote/excerpt/
    * boilerplate-wrapper case Jaccard structurally misses: a short doc
    * quoted whole inside a long one scores |A∩B|/|A∪B| ≈ |A|/|B| → 0
    * but containment ≈ 1 — and it's the short doc you drop (the
    * substring-dedup regime of Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", re-expressed on
    * shingle sets). Emits both directions when both qualify; the
    * drop policy (keep the superset doc) reads `a` as the contained
    * side.
    *
    * Scale shape: d2's df-capped inverted index alone is NOT enough
    * here — its candidate volume is Σf² over kept shingles, and on a
    * low-entropy corpus every shingle's f grows with n while staying
    * under the cap, so the full-index self-join goes quadratic long
    * before the cap binds (measured: 2.53·10⁹ candidate rows at sf100,
    * exponent 1.72/decade, disk-fatal at local[32]). The fix is the
    * prefix-filter family (Sarawagi & Kirpal 2004's t-occurrence
    * count filter; Chaudhuri et al. 2006 SSJoin; Bayardo et al. 2007;
    * Xiao et al. 2008 PPJoin), specialized to DIRECTED containment —
    * all three filters are provably lossless, so the DuckDB oracle
    * (which replays the naive full join) is unchanged:
    *  - containment ≥ minCover means A's common ≥ r, i.e. B misses at
    *    most `na − r` of A's shingles, where r is the smallest integer
    *    passing the final filter; `f = floor(minCover·na) ≤ r` is the
    *    IEEE-safe lower bound used below (a wrong-side ceil would
    *    silently DROP boundary pairs; floor only over-admits).
    *  - prefix + count filter: index only A's first
    *    `L = min(na, na−f+m)` shingles in GLOBAL RARITY order
    *    (df asc, hash tie-break) — pigeonhole gives B ≥ min(m, f, 1+)
    *    matches inside that window, so requiring `count ≥ τ` per
    *    (a,b) kills the single-shared-shingle coincidence pairs that
    *    dominate the candidate stream (m = [[ContainPrefixExtra]]).
    *  - length filter: common ≤ nb, so `nb ≥ f` joins as a residual
    *    predicate on the candidate stream.
    * Survivors (near-dup-ish pairs only) are verified EXACTLY: each
    * side's kept-shingle array attaches by one equi-join each and
    * `size(array_intersect)` recomputes true common — never the
    * full-index self-join. Candidate cost is Σ Ldf·f over kept
    * shingles (~linear in n once rarity-prefixing bites; sf100:
    * 2.53B → ~0.4B rows, and the verify join runs on orders of
    * magnitude fewer pairs than the old groupBy saw). */
  def containmentPairs(docs: DataFrame, k: Int = 5,
      minCover: Double = 0.8): DataFrame = {
    val (exploded, sets, cand) = containmentCandidates(docs, k, minCover)
    val cover = col("common") * lit(1.0) / col("na")
    val out = cand
      .join(sets.select(col("doc_id").as("a"), col("gs").as("ga")), "a")
      .join(sets.select(col("doc_id").as("b"), col("gs").as("gb")), "b")
      .withColumn("common",
        size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .filter(cover >= minCover)
      .select(col("a"), col("b"), col("common"), col("na"),
        round(cover, 6).as("cover"))
      .orderBy("a", "b")
      .finishIf()
    sets.unpersistIf()
    exploded.unpersistIf()
    out
  }

  /** Count-filter width `m` of [[containmentPairs]]' prefix filter:
    * A's indexed window is its `na−f+m` rarest shingles and a
    * candidate pair must share ≥ min(m, f) of them. Larger m = fewer
    * verify pairs but a longer prefix; 4 keeps the window ≈21% of na
    * at the corpus' ~96-shingle docs while cutting coincidence pairs
    * to near-zero. */
  val ContainPrefixExtra = 4

  /** Blocking stage of [[containmentPairs]] AND (since r7)
    * [[ngramJaccard]] — the ONE definition of their candidate
    * generation (rarity-ordered prefix window, count filter, length
    * filter), shared with the PlanAudit volume guard (the
    * editCandidates discipline). The shared bound is the same
    * inequality: containment ≥ c ⇒ common ≥ c·na, and jac ≥ t ⇒
    * common ≥ t(na+nb)/(1+t) ≥ t·na — so Jaccard-t reuses the
    * containment-t prefix verbatim. `symmetric = true` (the Jaccard
    * case) keeps only the a < b orientation: the prefix lemma holds
    * in BOTH directions of a qualifying unordered pair, so one
    * orientation is guaranteed present and the other is redundant —
    * and adds the symmetric length filter na ≥ floor(t·nb) (jac ≥ t
    * also forces common ≥ t·nb ≤ na; floor only over-admits).
    * Returns (cached shingle index, cached per-doc rarity-sorted
    * sets, surviving (a, b, na) candidates); callers unpersist both
    * frames. */
  private[graft] def containmentCandidates(docs: DataFrame, k: Int,
      minCover: Double, symmetric: Boolean = false)
      : (DataFrame, DataFrame, DataFrame) = {
    val s = docs.sparkSession
    // the session's shuffle.partitions (32) under-partitions the
    // heavy stages at sf100: 5M docs / 32 = 156k per-doc struct
    // arrays built CONCURRENTLY per collect_list task blew the 8 GB
    // heap (the s6 hash-relation lesson — per-task state must be
    // sized, not inherited). ~16k docs/task keeps each task's array
    // build + sort buffers in tens of MB; the same count sizes the
    // candidate join and pair-count agg, whose per-task sort/hash
    // state also tracks rows/partition.
    val nDocs = docs.count()
    val defaultP = s.sessionState.conf.numShufflePartitions
    val parts = math.max(defaultP,
      math.min(4096L, nDocs / 16384L + 1L).toInt)
    // identity at small corpora (parts == default: the implicit
    // exchanges already partition correctly and an explicit
    // repartition would only add exchanges — measured +0.8 s at
    // sf0.1); sized exchanges only where the default under-partitions
    def sized(df: DataFrame, cols: Column*): DataFrame =
      if (parts > defaultP) df.repartition(parts, cols: _*) else df
    val exploded = Shingles.index(docs, k).cache()
    val dfg = exploded.groupBy("g").agg(count(lit(1)).as("df_g"))
      .filter(col("df_g") <= MaxShingleDf)
    // one shuffle by doc_id: each doc's kept shingles as ONE bare long
    // array, rarest first (df asc, hash tie-break — the GLOBAL order
    // prefix filtering requires). The df_g sort key is projected away
    // INSIDE the aggregate: every downstream consumer (prefix/full
    // explode, exact verify via array_intersect) needs only the
    // ordered g's, so the cached sets row and the verify-join volume
    // carry 8 bytes per shingle, not a 16-byte (df_g, g) struct (r10,
    // VERDICT r9 item 1 — the d2-family shuffle-write tail).
    // pk packs (doc_id, n_sh) into ONE long (id·2²⁰ + n_sh) for the
    // three heaviest exchanges in the engine (~25 GB of shuffle writes
    // at sf100, `git show acf731b:BASELINE_SELF.md` §io-probe): the
    // prefix/full join inputs
    // and the candidate pair stream shrink from 3-long to 2-long rows,
    // and the pair-count groupBy keys on bare (pa, pb) with na riding
    // free inside pa — nothing re-joins until the pairs are
    // count-filtered. Order-preserving (n_sh is a per-doc constant in
    // the low bits), so pa < pb ⟺ a < b and the packed stream is a
    // BIJECTION of the unpacked one: candidates are unchanged, only
    // narrower. MATERIALIZED into the cached sets frame so the guard +
    // pack evaluate once per doc at cache build, and the join-key
    // null-intolerance filters push into the cache scan as attribute
    // predicates instead of re-evaluating the pack CASE per row.
    // Guarded per DOC row (not per exploded row): an id ≥ 2⁴³ or a doc
    // with ≥ 2²⁰ kept shingles would corrupt the pack, so fail loud.
    val packGuard = col("doc_id") >= 0 &&
      col("doc_id") < lit(1L << 43) && col("n_sh") < lit(1L << PackBits)
    val packed = when(packGuard,
        shiftleft(col("doc_id"), PackBits) + col("n_sh"))
      .otherwise(raise_error(concat(
        lit("containmentCandidates: unpackable (doc_id, n_sh) = ("),
        col("doc_id"), lit(", "), col("n_sh"), lit(")"))))
    val sets = sized(exploded.join(dfg, "g"), col("doc_id"))
      .groupBy("doc_id")
      .agg(transform(
          sort_array(collect_list(struct(col("df_g"), col("g")))),
          x => x.getField("g")).as("gs"),
        count(lit(1)).as("n_sh"))
      .select(col("doc_id"), col("gs"), col("n_sh"), packed.as("pk"))
      .cache()
    val f = floor(lit(minCover) * col("n_sh"))
    val prefixLen = least(col("n_sh"),
      col("n_sh") - f + lit(ContainPrefixExtra)).cast("int")
    val prefix = sets.select(col("pk").as("pa"),
      explode(slice(col("gs"), lit(1), prefixLen)).as("g"))
    val full = sets.select(col("pk").as("pb"), explode(col("gs")).as("g"))
    val na = col("pa").bitwiseAND(lit(PackMask))
    val nb = col("pb").bitwiseAND(lit(PackMask))
    val fa = floor(lit(minCover) * na)
    val tau = greatest(least(lit(ContainPrefixExtra.toLong), fa), lit(1L))
    // (r7 adjudication: the PPJoin prefix×PREFIX variant — both sides
    // indexed only on their rarity windows, Xiao et al. 2008 Lemma 1,
    // count filter degraded to existence — was tried for the symmetric
    // case and REVERTED: at t=0.5 the window is ~54% of each doc and
    // rarity ordering puts the RARE shingles, which dominate Σf² under
    // the df cap, inside every holder's prefix (pf≈f exactly where it
    // matters), so the prefix² stream spilled ≥50 GB at sf100 where
    // this prefix×full + τ count-filtered form completes in 133 s.
    // Correct on the small SFs, strictly worse at scale.)
    val pairPred =
      if (symmetric)
        col("pa") < col("pb") && nb >= fa &&
          na >= floor(lit(minCover) * nb)
      else col("pa") =!= col("pb") && nb >= fa
    val cand = sized(prefix, col("g")).join(sized(full, col("g")), Seq("g"))
      .filter(pairPred)
    val grouped = sized(cand, col("pa"), col("pb"))
      .groupBy("pa", "pb")
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= tau)
      .select(shiftright(col("pa"), PackBits).as("a"),
        shiftright(col("pb"), PackBits).as("b"), na.as("na"))
    (exploded, sets, grouped)
  }

  /** Low bits of [[containmentCandidates]]' and [[fuzzyJoin]]'s packed
    * (doc_id, n_sh) key
    * holding n_sh; doc ids get the remaining 43 value bits. 2²⁰ kept
    * shingles per doc ≈ a 1M-word document — far above any real
    * training-data row, and the pack fails loud past it. */
  private val PackBits = 20
  private val PackMask = (1L << PackBits) - 1

  /** Surviving candidate-pair count of [[containmentPairs]]' blocking
    * stage — the quantity its scale claim is about (PlanAudit guard). */
  private[graft] def containmentCandidateCount(docs: DataFrame,
      k: Int = 5, minCover: Double = 0.8,
      symmetric: Boolean = false): Long = {
    val (exploded, sets, cand) =
      containmentCandidates(docs, k, minCover, symmetric)
    val n = cand.count()
    sets.unpersistIf()
    exploded.unpersistIf()
    n
  }

  /** d7_containment — [[containmentPairs]] on the documents table
    * (5-word shingles, cover ≥ 0.8). */
  def d7Containment(s: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.spread(s, Tables.documents(s, dir)))

  /** Two-table fuzzy (Jaccard) JOIN — entity resolution across frames:
    * match every probe text to the corpus rows sharing ≥ `minJac` of
    * the df-capped shingle universe. Same inverted-index discipline as
    * d2 (shingles hashed to longs pre-shuffle, corpus-side df cap
    * bounding the candidate join at Σf²), but as a PROBE→CORPUS join:
    * cost tracks probe-shingle hits, never |probe|×|corpus|. This is
    * the "match these N noisy records against the big table" shape
    * (dirty ids, truncated titles, OCR'd names) that an equi-join
    * can't express and a cross join can't survive. */
  /** @param corpusRows corpus row count if the caller already knows it
    *   (or can count it cheaper than this frame — counting a SPREAD
    *   frame executes its repartition, so d9 counts the raw parquet
    *   relation instead: a zero-column scan, no shuffle); −1 = count
    *   `corpus` here. */
  def fuzzyJoin(probe: DataFrame, corpus: DataFrame, k: Int = 5,
      minJac: Double = 0.5, corpusRows: Long = -1L): DataFrame = {
    // per-task state sizing, same numbers as containmentCandidates:
    // ~16k docs/task keeps each task's collect_list array build in
    // tens of MB at any corpus size (the s6 hash-relation lesson);
    // identity at small corpora where the session default is already
    // enough (an explicit repartition there only adds exchanges)
    val s = corpus.sparkSession
    val nDocs = if (corpusRows >= 0) corpusRows else corpus.count()
    val defaultP = s.sessionState.conf.numShufflePartitions
    val parts = math.max(defaultP,
      math.min(4096L, nDocs / 16384L + 1L).toInt)
    def sized(df: DataFrame, cols: Column*): DataFrame =
      if (parts > defaultP) df.repartition(parts, cols: _*) else df
    val cExp = Shingles.index(corpus, k)
      .withColumnRenamed("doc_id", "b").cache()
    // hot shingles (df > cap) leave the Jaccard universe SYMMETRICALLY:
    // both sides drop them, but a probe shingle merely ABSENT from the
    // corpus still counts in the probe's denominator — novel content in
    // a noisy probe lowers jac instead of silently inflating it
    // (standard set Jaccard over the capped universe)
    val capped = cExp.groupBy("g").count()
      .filter(col("count") > MaxShingleDf).select("g")
    // r12 contention-hardening (VERDICT r11 item 1 — the 5.97× bench
    // breach was this operator's object-heavy 3-cache/3-join shape
    // collapsing under the afternoon memory-contention class): pack
    // (doc_id, n_kept) into ONE long per side, exactly d2's pk
    // discipline. One groupBy per side attaches each doc's kept-shingle
    // count to every index row with NO join back, the heavy g-exchange
    // carries 2 bare longs per row, and the pair stream needs ZERO
    // post-aggregation joins — na/nb ride inside the grouping keys.
    // Caches: 3 → 1 (only the corpus index, consumed by the df agg and
    // the kept anti-join); the packed streams are each consumed once.
    // `size` gates the corpus-derived repartition (ADVICE r12): `parts`
    // is sized from the CORPUS row count, so applying it to the probe
    // side would scatter a small-by-contract probe index into up to
    // 4096 mostly-empty partitions — an extra exchange plus tiny-task
    // scheduling overhead where the collect_list state-sizing concern
    // never applies. The probe side keeps the session default.
    def packedIdx(exp: DataFrame, id: String, size: Boolean): DataFrame = {
      val guard = col(id) >= 0 && col(id) < lit(1L << 43) &&
        col("n") < lit(1L << PackBits)
      val pk = when(guard, shiftleft(col(id), PackBits) + col("n"))
        .otherwise(raise_error(concat(
          lit(s"fuzzyJoin: unpackable ($id, n) = ("),
          col(id), lit(", "), col("n"), lit(")"))))
      val kept = exp.join(capped, Seq("g"), "left_anti")
      (if (size) sized(kept, col(id)) else kept)
        .groupBy(id)
        .agg(collect_list(col("g")).as("gs"), count(lit(1)).as("n"))
        .select(pk.as(s"p$id"), explode(col("gs")).as("g"))
    }
    val cIdx = sized(packedIdx(cExp, "b", size = true), col("g"))
    val pIdx = packedIdx(
      Shingles.index(probe, k).withColumnRenamed("doc_id", "a"), "a",
      size = false)
    val na = col("pa").bitwiseAND(lit(PackMask))
    val nb = col("pb").bitwiseAND(lit(PackMask))
    val jac = col("common") * lit(1.0) / (na + nb - col("common"))
    val out = pIdx.join(cIdx, "g")
      .groupBy("pa", "pb").agg(count(lit(1)).as("common"))
      .filter(jac >= minJac)
      .select(shiftright(col("pa"), PackBits).as("a"),
        shiftright(col("pb"), PackBits).as("b"), round(jac, 6).as("jac"))
      .orderBy("a", "b")
      .finishIf()
    cExp.unpersistIf()
    out
  }

  /** d9_fuzzy_join — [[fuzzyJoin]] with a deterministic dirty-probe
    * set: the first 25 docs truncated to their leading 60% of words
    * (the "partial/noisy record" stand-in), matched back against the
    * full corpus. Every probe finds its original (a truncated doc's
    * shingles are a prefix subset, so jac ≈ 0.6·len ratio ≥ 0.5) plus
    * any of the original's near-dups. [sql-oracle]. */
  def d9FuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.documents(s, dir)
    val docs = Tables.spread(s, raw)
    val probe = docs.filter(col("doc_id") < 25)
      .select(col("doc_id"),
        expr("array_join(slice(split(text, ' '), 1, CAST(ceil(size(split(text, ' ')) * 3 / 5) AS INT)), ' ')")
          .as("text"))
    // count the raw relation, not the spread frame (zero-column scan)
    fuzzyJoin(probe, docs, corpusRows = raw.count())
  }

  /** Largest pair list [[connectedComponents]] resolves on the driver:
    * 2^20 edges. The driver holds the collected pairs (2^20 unboxed
    * `(Long, Long)` tuples, about 40 MB with their array), the
    * endpoints unzipped into two `Array[Long]` (16 MB), their sorted
    * distinct vertex set and the
    * union-find parents (at most 2^21 vertices: 16 + 8 MB), and the
    * label frame as ≤ 2^21 local rows (about 150 MB of UnsafeRows and
    * their task copies) — well under the 2 g heap, the smallest one
    * [[graft.GraftSession]] sets. The test data's pair lists are tens
    * to hundreds of edges; the bound leaves that headroom while keeping
    * the pointer-jump kernel for sf100-size lists, where a driver
    * resolve would be the memory risk. */
  val MaxDriverEdges: Long = 1L << 20

  /** The policy: a pair list of `edges` rows resolves on the driver. */
  def resolvesOnDriver(edges: Long): Boolean = edges <= MaxDriverEdges

  /** Connected components over an undirected (a, b) edge list: one
    * (v, lbl) row per endpoint, lbl = the min vertex id of its
    * component. Size-adaptive, with no knob — the answer is the same
    * either way and only the cost differs:
    *  - at most [[MaxDriverEdges]] edges: the edges are collected
    *    once and resolved by a driver
    *    union-find ([[driverComponents]]) into a local frame. The
    *    distributed loop would pay two eager jobs per round over a
    *    list of a few hundred edges.
    *  - above it: [[pointerJumpComponents]], the distributed kernel.
    * The size check is one bounded `limit(MaxDriverEdges + 1)`
    * collect; callers pass materialized pair frames, so it reads a
    * checkpointed RDD and the pair pipeline runs once at any size.
    * The driver path runs under `spark.graft.materialize=false` too,
    * so a plan audit sees the plan production runs.
    *
    * A null endpoint fails loudly on both paths (the kernel would
    * emit a (null, null) row and drop the edge's connectivity). */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    def nonNull(c: String, other: String) = coalesce(col(c),
      raise_error(concat(lit(s"connectedComponents: null endpoint in edge ($c = null, $other = "),
        coalesce(col(other).cast("string"), lit("null")), lit(")"))))
    val guarded = edges.select(nonNull("a", "b").as("a"), nonNull("b", "a").as("b"))
    val sample = guarded.limit((MaxDriverEdges + 1).toInt).as[(Long, Long)].collect()
    if (!resolvesOnDriver(sample.length)) pointerJumpComponents(guarded)
    else {
      val (v, lbl) = driverComponents(sample.map(_._1), sample.map(_._2))
      s.createDataset(v.indices.map(i => (v(i), lbl(i)))).toDF("v", "lbl")
    }
  }

  /** Union-find over parallel endpoint arrays: returns the sorted
    * distinct vertices and, per vertex, the min id of its component.
    * Vertices are indexed in id order and a union always hangs the
    * larger root under the smaller, so every root is its component's
    * min; `find` halves paths as it walks. */
  private[graft] def driverComponents(a: Array[Long], b: Array[Long]): (Array[Long], Array[Long]) = {
    val ids = a ++ b
    java.util.Arrays.sort(ids)
    val v = if (ids.isEmpty) ids else {
      var n = 1
      for (i <- 1 until ids.length) if (ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
      java.util.Arrays.copyOf(ids, n)
    }
    val parent = Array.tabulate(v.length)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (i <- a.indices) {
      val ra = find(java.util.Arrays.binarySearch(v, a(i)))
      val rb = find(java.util.Arrays.binarySearch(v, b(i)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    (v, Array.tabulate(v.length)(i => v(find(i))))
  }

  /** The distributed kernel behind [[connectedComponents]] for pair
    * lists over [[MaxDriverEdges]]: iterative min-label propagation.
    * Every vertex starts as its own label, each round takes the min
    * over itself and its neighbors, and the loop stops when a round
    * changes nothing — at which point every vertex carries the min id
    * of its component. Each round also POINTER-JUMPS (lbl ← lbl(lbl),
    * the shortcutting of Shiloach & Vishkin 1982), so the min label
    * travels exponentially: O(log diameter) rounds instead of
    * O(diameter) — a 10⁶-doc duplicate CHAIN (templated pages)
    * converges in ~20 rounds, not 10⁶.
    *
    * Scale: each round is two equi-joins (labels⋈edges min-agg +
    * labels⋈labels jump) — all shuffles on vertex ids; per-round
    * lineage is cut with localCheckpoint so plans stay flat; the
    * convergence check is one count per round. */
  private[graft] def pointerJumpComponents(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
      .finishIf() // reused every round — materialize once
    var labels = sym.select(col("u").as("v")).distinct()
      .withColumn("lbl", col("v")).finishIf()
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      require(rounds <= 64, "connectedComponents failed to converge")
      val nbr = sym
        .join(labels.select(col("v").as("u"), col("lbl").as("ul")), "u")
        .groupBy("v").agg(min("ul").as("nl"))
      val upd = labels.join(nbr, Seq("v"), "left")
        .select(col("v"), col("lbl"),
          least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl2"))
        .finishIf()
      changed = upd.filter(col("lbl2") < col("lbl")).count()
      val next = upd.select(col("v"), col("lbl2").as("lbl"))
      // pointer jump: lbl ← lbl(lbl). Labels are vertex ids and only
      // ever decrease, so the jump is monotone and needs no change
      // tracking — the neighbor-min fixpoint test above stays sound
      // (at its fixpoint labels are already component-constant).
      val jump = next.select(col("v").as("jv"), col("lbl").as("jl"))
      labels = next.join(jump, next("lbl") === jump("jv"), "left")
        .select(next("v"),
          least(next("lbl"), coalesce(col("jl"), next("lbl"))).as("lbl"))
        .finishIf()
    }
    labels
  }

  /** d8_dedup_clusters — near-dup CLUSTERS from d2's pair list: the
    * step that turns pairwise matches into dedup decisions (keep the
    * min doc_id of each cluster, drop the rest — pairwise output alone
    * can't make that call when A~B~C but A≁C). Emits (doc_id, cluster)
    * for every doc in at least one near-dup pair; cluster = min doc_id
    * of its component. [sql-oracle] (DuckDB: recursive-CTE reachability
    * over the same pair list). */
  def d8DedupClusters(s: SparkSession, dir: String): DataFrame =
    connectedComponents(d2DedupNgram(s, dir).select("a", "b"))
      .select(col("v").as("doc_id"), col("lbl").as("cluster"))
      .orderBy("doc_id")

  /** Quality-aware keeper selection over any (doc_id, cluster) ×
    * (doc_id, quality) pair of frames: per cluster keep the
    * HIGHEST-quality member (min doc_id on exact ties), map every
    * member to its keeper. */
  def keeperSelect(clusters: DataFrame, quality: DataFrame): DataFrame = {
    // cached (r13): both the argmax pass and the member→keeper join
    // read it, and `clusters` (CC output) is a local frame (a
    // checkpointed RDD over the driver bound) while `quality` is a
    // live plan — uncached, the quality pass (a full
    // fact scan at corpus scale) ran TWICE (ed4bdad runtime audit of
    // the final plan: 3 documents scans, 0 reused). O(clustered docs) rows, 4 columns.
    val scored = clusters.join(quality, "doc_id").cache()
    // argmax per cluster through the bounded k=1 heaps — ≤ 1 row per
    // (cluster, partition) shuffles, never a full per-cluster sort
    val keepers = graft.plans.TopKPerGroup.perKey(scored,
        Seq(col("cluster")), Seq(col("quality").desc, col("doc_id")), 1)
      .select(col("cluster"), col("doc_id").as("keeper"))
    val out = scored.join(keepers, "cluster")
      .select(col("doc_id"), col("cluster"), col("keeper"),
        when(col("doc_id") === col("keeper"), 1L).otherwise(0L).as("keep"))
      .orderBy("doc_id")
      .finishIf()
    scored.unpersistIf()
    out
  }

  /** d12_keeper_select — the dedup DECISION stage: d8's near-dup
    * clusters joined with t2's quality scores; per cluster the
    * highest-quality copy survives, the rest map to it. Min-doc-id
    * keeper policies (d1/d8's default) throw away the best copy
    * whenever boilerplate got pasted into a better-written page — at
    * corpus scale the keeper policy IS the corpus quality lever
    * (dedup pipelines in the Lee et al. 2022 / Gopher lineage rank
    * survivors by quality, not id). Composition: d2 pairs → d8
    * clusters → t2 scores → one TopKPerGroup(k=1) argmax.
    *
    * Scale: adds only cluster-keyed equi-joins and bounded k=1 heaps
    * on top of d8; quality is a narrow map (t2). [sql-oracle]: the
    * cluster CTE is shared verbatim with d8's oracle, the quality
    * double is one IEEE division of exact int64s (bit-identical), so
    * the DESC argmax is engine-stable with the doc_id tiebreak. */
  def d12KeeperSelect(s: SparkSession, dir: String): DataFrame =
    keeperSelect(
      d8DedupClusters(s, dir),
      TextOps.qualityOver(Tables.documents(s, dir))
        .select(col("doc_id"), col("quality")))

  /** d6_contamination — train/test decontamination check: a 10%
    * hash-assigned test split is scanned for 8-word shingles that also
    * occur anywhere in the train split; per test doc, report how many of
    * its distinct shingles are contaminated. This is the benchmark-
    * leakage audit every pretraining corpus needs before eval.
    *
    * Scale shape mirrors d2: shingles are hashed to 64-bit longs right
    * after the per-doc transform (strings never shuffle); the train-side
    * set is a hash-distinct (map-side combined), and the membership
    * probe is an equi-join on fixed-width keys whose cost tracks
    * test-corpus shingle count, never |test|×|train|. [sql-oracle]
    * (DuckDB recomputes on the raw shingle strings — identical modulo
    * 64-bit collisions, i.e. exactly, at any feasible corpus).
    *
    * Generic core: any (doc_id, text) frame + any boolean test-side
    * predicate (hash split, source = benchmark name, date cut, ...). */
  def contamination(docs: DataFrame, isTest: Column, k: Int = 8): DataFrame = {
    // typed-flatMap shingle index with the split flag carried through
    // (Shingles.indexFlagged — same 6× over the interpreted HOF form)
    val base = Shingles.indexFlagged(
      docs.select(col("doc_id"), col("text"), isTest), k)
    // cached: the test-side index (10% of the corpus, two longs per
    // row) feeds both the per-doc shingle count and the membership
    // probe — uncached, the split-shingle pipeline would rescan and
    // recompute twice. The train side streams through its single scan
    // uncached (it's 90% of the corpus — recomputing is cheaper than
    // materializing at scale).
    val testSh = base.filter(col("is_test"))
      .select(col("doc_id"), col("g")).cache()
    val trainSh = base.filter(!col("is_test"))
      .select(col("g")).distinct()
    val counts = testSh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val hits = testSh.join(trainSh, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    val out = counts
      .join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_hit"))
      .select(col("doc_id"), col("n_sh"), col("n_hit"),
        round(col("n_hit") * lit(1.0) / col("n_sh"), 6).as("hit_ratio"))
      .orderBy("doc_id")
      .finishIf()
    testSh.unpersistIf()
    out
  }

  /** d6_contamination — [[contamination]] bound to the documents table
    * with a 10% hash-assigned test split. */
  def d6Contamination(s: SparkSession, dir: String): DataFrame =
    contamination(Tables.spread(s, Tables.documents(s, dir)),
      PortableHash.bucket(col("doc_id"), "contam", 10L) === 0)

  /** d10_block_dedup — sub-document duplicated-span audit: split every
    * doc into NON-OVERLAPPING k-word blocks plus a final k-word tail
    * window when the length is not block-aligned (docs ≤ k words are
    * one whole-text block — the shingle convention; see
    * Shingles.docBlocks for the tail/alignment notes) and report, per doc,
    * how many of its block positions carry text that occurs ≥ 2 times
    * anywhere in the corpus (other docs OR repeated within the same
    * doc). This is dedup at the granularity doc-level ops (d1–d4)
    * structurally miss: the boilerplate/template span pasted into
    * otherwise-distinct documents (the exact-substring regime of Lee
    * et al. 2022 §4.1, on word blocks instead of suffix arrays — the
    * shape a distributed engine can do in two aggregates).
    *
    * Scale mirrors d2's index discipline: blocks hash to 64-bit longs
    * in the typed flatMap (strings never shuffle), the global
    * occurrence count is one map-side-combined agg, and the per-doc
    * re-join moves only (doc_id, g) pairs. Cost tracks token count /
    * k. [sql-oracle] (DuckDB recomputes on raw block strings).
    */
  def d10BlockDedup(s: SparkSession, dir: String, k: Int = 10): DataFrame =
    blockDedup(Tables.spread(s, Tables.documents(s, dir)), k)

  /** Generic core of [[d10BlockDedup]] over any (doc_id, text) frame. */
  def blockDedup(docs: DataFrame, k: Int = 10): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // one row per block POSITION (not distinct): within-doc repeats
    // are duplicated text too. The block convention lives in
    // Shingles.docBlocks, shared with the st16 streaming screen.
    val blocks = docs.select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, text) =>
        Shingles.docBlocks(text, k).iterator.map(g => (id, g))
      }
      .toDF("doc_id", "g")
      .cache()
    val dup = blocks.groupBy("g").count()
      .filter(col("count") >= 2).select("g")
    val perDoc = blocks.groupBy("doc_id").agg(count(lit(1)).as("n_blocks"))
    val hits = blocks.join(dup, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    val out = perDoc.join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dup"))
      .select(col("doc_id"), col("n_blocks"), col("n_dup"),
        round(col("n_dup") * lit(1.0) / col("n_blocks"), 6).as("dup_ratio"))
      .orderBy("doc_id")
      .finishIf()
    blocks.unpersistIf()
    out
  }

  /** The duplicated-block hash set of a corpus (block text occurring
    * ≥ 2 times anywhere, [[blockDedup]]'s `dup` stage) — build this
    * once batch-side and hand it to the st16 streaming span screen as
    * its static join side. */
  def dupBlocks(docs: DataFrame, k: Int = 10): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .flatMap { case (_, text) => Shingles.docBlocks(text, k).iterator }
      .toDF("g")
      .groupBy("g").count()
      .filter(col("count") >= 2).select("g")
  }

  /** Cluster assignment stage of [[semDedup]] — the ONE definition of
    * its candidate generation (bounded-sample KMeans fit, broadcast
    * centroids, nearest-centroid narrow map). The operator and its
    * PlanAudit candidate-volume guard both call this, so the guard
    * measures exactly what the operator plans. Returns
    * (vec_id, embedding, cl). */
  private[graft] def semClusters(e: DataFrame,
      targetCluster: Int = 64): DataFrame = {
    val s = e.sparkSession
    val vecs = e.select(col("vec_id"), col("embedding"))
    val n = vecs.count()
    // an empty (or fully filtered) corpus has nothing to cluster —
    // return the empty assignment frame rather than letting
    // DriverKMeans.fit's require(n > 0) throw a generic message
    if (n == 0L) return vecs.withColumn("cl", lit(0))
    // k scales WITH the corpus (expected cluster size ≈ targetCluster
    // regardless of n) — the dial that keeps Σ size² near-linear; a
    // fixed k would make clusters, and the within-cluster pair space,
    // grow quadratically with the corpus (the s6 r3 lesson).
    // bounded driver sample, SORTED so the fit is layout-independent
    val (sample, k) = semSampleAndK(vecs, n, targetCluster)
    // FLAT Lloyd while k is small; HIERARCHICAL √k × √k above 256
    // cells. A flat fit/assign is n×k×d with k ∝ n — quadratic: the
    // sf100 decade measured 1187 s (exponent ~1.75 from sf10, which
    // the sf1→sf10 decade's 1.02 had hidden). Two bounded levels make
    // every vector pay (k1+k2)·d ≈ 2√k·d: same-cell ⇔ same (coarse,
    // fine) pair, near-identical vectors still co-locate through both
    // levels (planted-dup recall spec), and the within-cell candidate
    // guard measures the same Σ size² bound (PlanAuditSpec, both
    // regimes). Fits run driver-side over the sample (DriverKMeans —
    // single-digit Gflops; MLlib job overhead per fine cell would
    // dwarf the arithmetic).
    val fit = semFitFromSample(sample, k)
    // native codegen assignment (r7): NearestCentroidIdx /
    // HierNearestIdx mirror DriverKMeans.nearest exactly, minus the
    // per-row Seq boxing
    if (fit.fine == null)
      vecs.withColumn("cl", GraftShim.column(
        graft.functions.NearestCentroidIdx(
          GraftShim.expression(col("embedding")), fit.coarse)))
    else
      vecs.withColumn("cl", GraftShim.column(
        graft.functions.HierNearestIdx(
          GraftShim.expression(col("embedding")), fit.coarse, fit.fine,
          fit.k2)))
  }

  /** The fitted cluster model of [[semClusters]]: flat centers when
    * k ≤ 256 (`fine` null), else the coarse×fine hierarchy. The fit is
    * layout-independent AND JVM-reproducible (sorted bounded sample,
    * seeded DriverKMeans), which is what lets d11's literal-embedding
    * oracle recompute the SAME model at dump time (r7) without a
    * shared memo. */
  private[graft] case class SemFit(coarse: Array[Array[Double]],
      fine: Array[Array[Array[Double]]], k2: Int)

  private[graft] def semFitFromSample(sample: Array[Array[Float]],
      k: Int): SemFit =
    if (k <= 256) SemFit(graft.ml.DriverKMeans.fit(sample, k, 10, 7L), null, 0)
    else {
      val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
      val k2 = math.ceil(k.toDouble / k1).toInt
      val coarse = graft.ml.DriverKMeans.fit(sample, k1, 10, 7L)
      val byCell = sample.groupBy(p => graft.ml.DriverKMeans.nearest(p, coarse))
      val fine = Array.tabulate(coarse.length) { c =>
        byCell.get(c) match {
          case Some(pts) => graft.ml.DriverKMeans.fit(pts, k2, 10, 7L + c)
          case None => Array(coarse(c))
        }
      }
      SemFit(coarse, fine, k2)
    }

  /** The sorted bounded driver sample + k of [[semClusters]] — shared
    * with the d11 oracle builder so both derive the identical fit. */
  private[graft] def semSampleAndK(vecs: DataFrame, n: Long,
      targetCluster: Int): (Array[Array[Float]], Int) = {
    val k = math.max(1L, math.min(math.max(4L,
      math.min(65536L, n / targetCluster)), n)).toInt
    val trainFrac = math.min(1.0, 100000.0 / math.max(n, 1L))
    val sample = Sampling.uniform(vecs, col("vec_id"), trainFrac)
      .select(col("vec_id"), col("embedding")).orderBy("vec_id")
      .collect().map(_.getSeq[Float](1).toArray)
    (sample, k)
  }

  /** Semantic dedup pairs (SemDeDup, Abbas et al. 2023): KMeans
    * clusters the embedding space, and near-dup search runs ONLY
    * within each cluster — the cluster id is the equi-join key, so the
    * pair space is Σ size² ≈ n·targetCluster (near-linear, k scales
    * with n via [[semClusters]]) instead of d5's n²/2. The exact
    * cosine + threshold on surviving candidates means every emitted
    * pair is a TRUE ≥ minCos pair (d5 ⊇ d11 with equal cos values);
    * what the approximation trades away is recall on pairs KMeans
    * separates — near-identical vectors land in the same cell with
    * high probability (spec: planted-dup recall), weakly-similar ones
    * may not. This is the 100 TB form of d5 for semantic (embedding-
    * space) dedup, exactly as d3/d4 are for lexical dedup.
    *
    * [rows-only]: the KMeans fit is not SQL-expressible. Specs pin
    * (a) subset-of-d5 with bit-equal cosines, (b) planted-dup recall,
    * (c) the candidate-volume bound (PlanAudit, via [[semClusters]]). */
  def semDedup(e: DataFrame, minCos: Double = 0.45,
      targetCluster: Int = 64): DataFrame = {
    // cache the assignment: both join sides consume it, and without the
    // cache the fact is scanned (and the k-centroid distance map
    // evaluated) twice
    val cl = semClusters(e, targetCluster).cache()
    val a = cl.select(col("cl"), col("vec_id").as("a"), col("embedding").as("ea"))
    val b = cl.select(col("cl"), col("vec_id").as("b"), col("embedding").as("eb"))
    val out = a.join(b, "cl")
      .filter(col("a") < col("b"))
      .withColumn("cos", VectorOps.cosine(col("ea"), col("eb")))
      .filter(col("cos") >= minCos)
      .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
      .orderBy("a", "b")
      .finishIf()
    cl.unpersistIf()
    out
  }

  /** d11_semdedup — [[semDedup]] on the embeddings table at d5's
    * threshold, so the subset/recall relation between the exact twin
    * and the clustered approximation is directly measurable. */
  def d11SemDedup(s: SparkSession, dir: String): DataFrame =
    semDedup(Tables.spread(s, Tables.embeddings(s, dir)))

  /** Within-cluster candidate-pair count of [[semClusters]] — the
    * quantity the near-linear scale claim is about; used by the
    * PlanAudit quadratic-candidate guard. */
  private[graft] def semDedupCandidateCount(e: DataFrame,
      targetCluster: Int = 64): Long = {
    val sizes = semClusters(e, targetCluster).groupBy("cl").count()
    sizes.agg(sum(col("count") * (col("count") - 1) / 2))
      .collect()(0).getAs[Any](0) match {
        case null => 0L
        case d: java.math.BigDecimal => d.longValue()
        case l: Long => l
        case d: Double => d.toLong
      }
  }

  /** Shared DuckDB recursive-CTE body: d2's pair list → symmetric
    * edges → reachability closure, ending in `cl(doc_id, cluster)` —
    * the d8 cluster computation, reused verbatim by the d12 oracle so
    * the two oracles cannot drift. */
  private lazy val clusterCte =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |s AS (SELECT doc_id, list_distinct(list_transform(
       |        range(greatest(len(w) - 4, 1)),
       |        i -> array_to_string(w[i + 1:i + 5], ' '))) AS sh FROM d),
       |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
       |kept AS (SELECT g FROM e GROUP BY g HAVING COUNT(*) <= $MaxShingleDf),
       |p0 AS (SELECT e.doc_id, e.g FROM e JOIN kept USING (g)),
       |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM p0 GROUP BY doc_id),
       |p AS (SELECT p0.doc_id, n_sh, g FROM p0 JOIN cnt USING (doc_id)),
       |pr AS (SELECT x.doc_id AS a, y.doc_id AS b, x.n_sh AS na, y.n_sh AS nb,
       |         COUNT(*) AS common
       |       FROM p x JOIN p y ON x.g = y.g AND x.doc_id < y.doc_id
       |       GROUP BY 1, 2, 3, 4),
       |pairs AS (SELECT a, b FROM pr
       |          WHERE common * 1.0 / (na + nb - common) >= 0.5),
       |edges AS (SELECT a AS u, b AS v FROM pairs
       |          UNION SELECT b, a FROM pairs),
       |reach(u, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
       |  UNION
       |  SELECT e2.u, reach.r FROM edges e2 JOIN reach ON reach.u = e2.v),
       |cl AS (SELECT u AS doc_id, MIN(r) AS cluster FROM reach GROUP BY u)""".stripMargin

  /** Shared DuckDB CTE: explode embeddings to (vec_id, position, value)
    * with double-cast values — mirrors VectorOps' double-precision math. */
  private val explodeCte =
    """ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |       generate_subscripts(embedding, 1) AS i FROM embeddings),
      |nrm AS (SELECT vec_id, SUM(x * x) AS n2 FROM ex GROUP BY vec_id)""".stripMargin

  import OracleLit.{r6, sqDistChain, dotColChain, normSqChain}

  /** d11's literal-embedding DuckDB oracle (r7): the flat cluster
    * model recomputes at dump time from the SAME deterministic
    * (sorted-sample, seeded, layout-independent) fit the query used;
    * DuckDB replays cell assignment (first-wins argmin over the
    * literal centroids), the same-cell a<b pair join, VecCosine's
    * exact dot/(√·√) arithmetic, and the UNROUNDED ≥ minCos filter —
    * bit-stable because the SQL chains mirror the fused loop term for
    * term. Hierarchical fits (k > 256 ⇔ n > 16k vectors — beyond
    * every oracle scale point) degrade to absent (rows-only). */
  def dynOracle(s: SparkSession, dir: String): Map[String, String] = {
    val vecs = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val n = vecs.count()
    if (n == 0L) return Map.empty
    val (sample, k) = semSampleAndK(vecs, n, targetCluster = 64)
    val fit = semFitFromSample(sample, k)
    if (fit.fine != null) return Map.empty
    val centers = fit.coarse
    val dim = centers.head.length
    val dExprs = centers.zipWithIndex.map { case (c, ci) =>
      s"${sqDistChain("embedding", c)} AS d$ci" }
    val ds = centers.indices.map(i => s"d$i").mkString(", ")
    val arms = centers.indices.map(i => s"WHEN d$i = b THEN $i").mkString(" ")
    Map("d11_semdedup" ->
      s"""WITH cells AS (
         |  SELECT vec_id, embedding, CASE $arms END AS cl FROM (
         |    SELECT vec_id, embedding, $ds, LEAST($ds) AS b FROM (
         |      SELECT vec_id, embedding,
         |        ${dExprs.mkString(",\n        ")}
         |      FROM embeddings))
         |),
         |sc AS (
         |  SELECT x.vec_id AS a, y.vec_id AS b,
         |    (${dotColChain("x.embedding", "y.embedding", dim)})
         |      / (SQRT(${normSqChain("x.embedding", dim)})
         |         * SQRT(${normSqChain("y.embedding", dim)})) AS cos
         |  FROM cells x JOIN cells y
         |    ON x.cl = y.cl AND x.vec_id < y.vec_id
         |)
         |SELECT a, b, ${r6("cos")} AS cos FROM sc
         |WHERE cos >= 0.45 ORDER BY a, b""".stripMargin)
  }

  val oracle: Map[String, String] = Map(
    "d10_block_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id,
        |        CASE WHEN len(w) <= 10 THEN [array_to_string(w, ' ')]
        |             WHEN len(w) % 10 = 0 THEN list_transform(range(len(w) // 10),
        |                    i -> array_to_string(w[i * 10 + 1:(i + 1) * 10], ' '))
        |             ELSE list_append(list_transform(range(len(w) // 10),
        |                    i -> array_to_string(w[i * 10 + 1:(i + 1) * 10], ' ')),
        |                  array_to_string(w[len(w) - 9:len(w)], ' '))
        |        END AS blocks FROM d),
        |e AS (SELECT doc_id, unnest(blocks) AS g FROM b),
        |dup AS (SELECT g FROM e GROUP BY g HAVING COUNT(*) >= 2),
        |n AS (SELECT doc_id, COUNT(*) AS n_blocks FROM e GROUP BY doc_id),
        |h AS (SELECT doc_id, COUNT(*) AS n_dup FROM e JOIN dup USING (g)
        |      GROUP BY doc_id)
        |SELECT n.doc_id, n_blocks, COALESCE(n_dup, 0) AS n_dup,
        |  COALESCE(CAST(TRY_CAST(CAST(COALESCE(n_dup, 0) * 1.0 / n_blocks AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), COALESCE(n_dup, 0) * 1.0 / n_blocks) AS dup_ratio
        |FROM n LEFT JOIN h USING (doc_id) ORDER BY n.doc_id""".stripMargin,
    "d8_dedup_clusters" ->
      s"""WITH RECURSIVE
         |$clusterCte
         |SELECT doc_id, cluster FROM cl ORDER BY doc_id""".stripMargin,
    // d12 = d8's clusters × t2's exact integer-ratio quality → argmax
    // keeper per cluster. quality doubles are bit-identical on both
    // engines (one IEEE division of exact int64s), so the DESC rank is
    // engine-stable; doc_id breaks exact ties deterministically.
    "d12_keeper_select" ->
      s"""WITH RECURSIVE
         |$clusterCte,
         |q AS (SELECT doc_id,
         |        (len(string_split(text, ' '))
         |          - len(list_filter(string_split(text, ' '),
         |                w -> w IN ('the','a','of','to','and'))))
         |        * (n_chars - len(string_split(text, ' ')) + 1) * 1.0
         |        / (len(string_split(text, ' ')) * len(string_split(text, ' ')))
         |          AS quality
         |      FROM documents),
         |sc AS (SELECT cl.doc_id, cl.cluster, q.quality
         |       FROM cl JOIN q USING (doc_id)),
         |k AS (SELECT cluster, doc_id AS keeper FROM (
         |        SELECT cluster, doc_id,
         |          ROW_NUMBER() OVER (PARTITION BY cluster
         |            ORDER BY quality DESC, doc_id) AS rn
         |        FROM sc) t WHERE rn = 1)
         |SELECT sc.doc_id, sc.cluster, k.keeper,
         |  CAST(CASE WHEN sc.doc_id = k.keeper THEN 1 ELSE 0 END AS BIGINT)
         |    AS keep
         |FROM sc JOIN k USING (cluster) ORDER BY sc.doc_id""".stripMargin,
    "d6_contamination" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
         |             ${PortableHash.duckBucket("doc_id", "contam", 10L)} = 0 AS is_test
         |           FROM documents),
         |s AS (SELECT doc_id, is_test, list_distinct(list_transform(
         |        range(greatest(len(w) - 7, 1)),
         |        i -> array_to_string(w[i + 1:i + 8], ' '))) AS sh FROM d),
         |tr AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE NOT is_test),
         |te AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE is_test),
         |h AS (SELECT doc_id, COUNT(*) AS n_hit FROM te JOIN tr USING (g)
         |      GROUP BY doc_id)
         |SELECT s.doc_id, CAST(len(sh) AS BIGINT) AS n_sh,
         |  COALESCE(h.n_hit, 0) AS n_hit,
         |  COALESCE(CAST(TRY_CAST(CAST(COALESCE(h.n_hit, 0) * 1.0 / len(sh) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), COALESCE(h.n_hit, 0) * 1.0 / len(sh)) AS hit_ratio
         |FROM s LEFT JOIN h USING (doc_id) WHERE is_test
         |ORDER BY s.doc_id""".stripMargin,
    "d17_dedup_report" ->
      """WITH h AS (SELECT doc_id, source, md5(text) AS h FROM documents),
        |g AS (SELECT doc_id, source, h,
        |        COUNT(*) OVER (PARTITION BY h) AS n_copies,
        |        MIN(doc_id) OVER (PARTITION BY h) AS keeper
        |      FROM h)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_in_dup_groups,
        |  CAST(SUM(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped,
        |  (COUNT(*) - CAST(SUM(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END)
        |     AS BIGINT)) * 1.0 / COUNT(*) AS retention
        |FROM g GROUP BY source ORDER BY source""".stripMargin,
    "d16_edit_pairs" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 40) AS p FROM documents),
        |w AS (SELECT doc_id, p, string_split(p, ' ') AS ws FROM d),
        |bg AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        range(greatest(len(ws) - 1, 1)),
        |        i -> array_to_string(ws[i + 1:i + 2], ' ')))) AS g FROM w),
        |kept AS (SELECT g FROM bg GROUP BY g HAVING COUNT(*) <= 20),
        |bgk AS (SELECT doc_id, g FROM bg JOIN kept USING (g)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |         FROM bgk x JOIN bgk y ON x.g = y.g AND x.doc_id < y.doc_id),
        |v AS (SELECT a, b, levenshtein(da.p, db.p) AS dist
        |      FROM cand JOIN d da ON cand.a = da.doc_id
        |                 JOIN d db ON cand.b = db.doc_id)
        |SELECT a, b, CAST(dist AS INTEGER) AS dist FROM v
        |WHERE dist <= 8 ORDER BY a, b""".stripMargin,
    "d15_source_overlap" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id, list_distinct(list_transform(
         |        range(greatest(len(w) - 4, 1)),
         |        i -> array_to_string(w[i + 1:i + 5], ' '))) AS sh FROM d),
         |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
         |kept AS (SELECT g FROM e GROUP BY g HAVING COUNT(*) <= $MaxShingleDf),
         |p0 AS (SELECT e.doc_id, e.g FROM e JOIN kept USING (g)),
         |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM p0 GROUP BY doc_id),
         |p AS (SELECT p0.doc_id, n_sh, g FROM p0 JOIN cnt USING (doc_id)),
         |pr AS (SELECT x.doc_id AS a, y.doc_id AS b, x.n_sh AS na, y.n_sh AS nb,
         |         COUNT(*) AS common
         |       FROM p x JOIN p y ON x.g = y.g AND x.doc_id < y.doc_id
         |       GROUP BY 1, 2, 3, 4),
         |q AS (SELECT a, b FROM pr
         |      WHERE common * 1.0 / (na + nb - common) >= 0.5),
         |m AS (SELECT LEAST(da.source, db.source) AS sa,
         |        GREATEST(da.source, db.source) AS sb
         |      FROM q JOIN documents da ON q.a = da.doc_id
         |             JOIN documents db ON q.b = db.doc_id)
         |SELECT sa, sb, COUNT(*) AS n_pairs FROM m
         |GROUP BY sa, sb ORDER BY sa, sb""".stripMargin,
    "d14_incremental_dedup" ->
      s"""WITH d AS (SELECT doc_id, md5(text) AS h,
         |    ${graft.functions.PortableHash.duckBucket("doc_id", "incr", 10L)} AS b
         |  FROM documents),
         |base AS (SELECT DISTINCT h FROM d WHERE b <> 0),
         |inc AS (SELECT doc_id, h,
         |    MIN(doc_id) OVER (PARTITION BY h) AS first_id
         |  FROM d WHERE b = 0)
         |SELECT doc_id, h,
         |  CASE WHEN h IN (SELECT h FROM base) THEN 'dup_base'
         |       WHEN first_id < doc_id THEN 'dup_batch'
         |       ELSE 'new' END AS status
         |FROM inc ORDER BY doc_id""".stripMargin,
    "d13_dup_weight" ->
      """WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
        |c AS (SELECT h, COUNT(*) AS n_copies FROM h GROUP BY h)
        |SELECT doc_id, h.h, n_copies,
        |  CAST(1.0 AS DOUBLE) / n_copies AS weight
        |FROM h JOIN c USING (h) ORDER BY doc_id""".stripMargin,
    "d1_dedup_exact" ->
      """SELECT h, keeper, n_copies FROM (
        | SELECT md5(text) AS h, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
        | FROM documents GROUP BY md5(text)) t
        |ORDER BY keeper""".stripMargin,
    "d9_fuzzy_join" ->
      s"""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |pw AS (SELECT doc_id, w[1:CAST(ceil(len(w) * 3 / 5) AS INT)] AS w
         |       FROM dd WHERE doc_id < 25),
         |ps AS (SELECT doc_id AS a, unnest(list_distinct(list_transform(
         |        range(greatest(len(w) - 4, 1)),
         |        i -> array_to_string(w[i + 1:i + 5], ' ')))) AS g FROM pw),
         |cs AS (SELECT doc_id AS b, unnest(list_distinct(list_transform(
         |        range(greatest(len(w) - 4, 1)),
         |        i -> array_to_string(w[i + 1:i + 5], ' ')))) AS g FROM dd),
         |capped AS (SELECT g FROM cs GROUP BY g HAVING COUNT(*) > $MaxShingleDf),
         |ci AS (SELECT b, g FROM cs WHERE g NOT IN (SELECT g FROM capped)),
         |pi AS (SELECT a, g FROM ps WHERE g NOT IN (SELECT g FROM capped)),
         |nb AS (SELECT b, COUNT(*) AS nb FROM ci GROUP BY b),
         |na AS (SELECT a, COUNT(*) AS na FROM pi GROUP BY a),
         |pr AS (SELECT a, b, COUNT(*) AS common FROM pi JOIN ci USING (g)
         |       GROUP BY a, b)
         |SELECT a, b, COALESCE(CAST(TRY_CAST(CAST(common * 1.0 / (na + nb - common) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), common * 1.0 / (na + nb - common)) AS jac
         |FROM pr JOIN na USING (a) JOIN nb USING (b)
         |WHERE common * 1.0 / (na + nb - common) >= 0.5
         |ORDER BY a, b""".stripMargin,
    "d7_containment" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id, list_distinct(list_transform(
         |        range(greatest(len(w) - 4, 1)),
         |        i -> array_to_string(w[i + 1:i + 5], ' '))) AS sh FROM d),
         |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
         |kept AS (SELECT g FROM e GROUP BY g HAVING COUNT(*) <= $MaxShingleDf),
         |p0 AS (SELECT e.doc_id, e.g FROM e JOIN kept USING (g)),
         |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM p0 GROUP BY doc_id),
         |p AS (SELECT p0.doc_id, n_sh, g FROM p0 JOIN cnt USING (doc_id)),
         |pr AS (SELECT x.doc_id AS a, y.doc_id AS b, x.n_sh AS na,
         |         COUNT(*) AS common
         |       FROM p x JOIN p y ON x.g = y.g AND x.doc_id <> y.doc_id
         |       GROUP BY 1, 2, 3)
         |SELECT a, b, common, na, COALESCE(CAST(TRY_CAST(CAST(common * 1.0 / na AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), common * 1.0 / na) AS cover
         |FROM pr WHERE common * 1.0 / na >= 0.8
         |ORDER BY a, b""".stripMargin,
    "d2_dedup_ngram" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id, list_distinct(list_transform(
         |        range(greatest(len(w) - 4, 1)),
         |        i -> array_to_string(w[i + 1:i + 5], ' '))) AS sh FROM d),
         |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
         |kept AS (SELECT g FROM e GROUP BY g HAVING COUNT(*) <= $MaxShingleDf),
         |p0 AS (SELECT e.doc_id, e.g FROM e JOIN kept USING (g)),
         |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM p0 GROUP BY doc_id),
         |p AS (SELECT p0.doc_id, n_sh, g FROM p0 JOIN cnt USING (doc_id)),
         |pr AS (SELECT x.doc_id AS a, y.doc_id AS b, x.n_sh AS na, y.n_sh AS nb,
         |         COUNT(*) AS common
         |       FROM p x JOIN p y ON x.g = y.g AND x.doc_id < y.doc_id
         |       GROUP BY 1, 2, 3, 4)
         |SELECT a, b, COALESCE(CAST(TRY_CAST(CAST(common * 1.0 / (na + nb - common) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), common * 1.0 / (na + nb - common)) AS jac
         |FROM pr WHERE common * 1.0 / (na + nb - common) >= 0.5
         |ORDER BY a, b""".stripMargin,
    "d5_embed_neardup" ->
      s"""WITH $explodeCte,
         |dots AS (SELECT ea.vec_id AS a, eb.vec_id AS b, SUM(ea.x * eb.x) AS dot
         |         FROM ex ea JOIN ex eb ON ea.i = eb.i AND ea.vec_id < eb.vec_id
         |         GROUP BY ea.vec_id, eb.vec_id)
         |SELECT a, b, COALESCE(CAST(TRY_CAST(CAST(dot / (sqrt(na.n2) * sqrt(nb.n2)) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), dot / (sqrt(na.n2) * sqrt(nb.n2))) AS cos
         |FROM dots JOIN nrm na ON dots.a = na.vec_id
         |          JOIN nrm nb ON dots.b = nb.vec_id
         |WHERE dot / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.45
         |ORDER BY a, b""".stripMargin
  )
}

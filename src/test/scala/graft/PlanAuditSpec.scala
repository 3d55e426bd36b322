package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Plan-shape regression gate (SURVEY.md §5): every SparkEntry query's
  * PHYSICAL plan must be free of unbounded join strategies, and the
  * flagship scan must push filters and prune columns. This enforces
  * mechanically what the survey claims by hand — reintroducing a
  * nested-loop join (e.g. an accidental non-equi condition) fails CI
  * instead of surfacing at 100 TB.
  */
class PlanAuditSpec extends SparkSpec {

  /** All nodes of the executed plan, descending into AQE wrappers and
    * reused/subquery children. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(allNodes)
  }

  /** Run `body` with the library's materialize wrappers disabled
    * (graft.Exec): operators return their FULL plans instead of
    * checkpointed LogicalRDD scans, and keep their caches registered
    * so cache boundaries stay part of the inspected shape. Restores
    * the flag and clears the accumulated cache afterwards. */
  private def withFullPlans[T](body: => T): T = {
    spark.conf.set(Exec.Key, "false")
    try body finally {
      spark.conf.set(Exec.Key, "true")
      spark.catalog.clearCache()
    }
  }

  /** BroadcastNestedLoopJoin is pathological when the build side is
    * unbounded (it once broadcast half the embeddings corpus in d5) —
    * but it is exactly right when the build side is a KNOWN-BOUNDED
    * tiny frame. These entries are the intended linear-scan shapes: */
  private val bnljAllowed = Map(
    "q10_having_sub" -> "scalar subquery: single-row broadcast",
    "s1_ann_brute" -> "broadcast(query vectors, ≤k rows) × corpus scan — linear by design",
    "s8_range_search" -> "broadcast(query vectors, ≤k rows) × corpus scan with threshold predicate — linear by design",
    "s4_ann_pq" -> "broadcast(query ADC tables, ≤k rows) × code scan — linear by design",
    "s7_hard_negatives" -> "broadcast(query vectors, ≤k rows) × corpus scan with label-mismatch predicate — linear by design")

  test("no SparkEntry query plans a CartesianProduct or BroadcastNestedLoopJoin") {
    // full-plan mode: without it the dedup/ML family returns
    // checkpointed LogicalRDD scans and their join shapes would be
    // invisible to this audit
    val offenders = withFullPlans {
      SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan
        Explain.planNodes(plan).collect {
          case _: CartesianProductExec => s"$name: CartesianProduct"
          case _: BroadcastNestedLoopJoinExec if !bnljAllowed.contains(name) =>
            s"$name: BroadcastNestedLoopJoin"
        }
      }
    }
    assert(offenders.isEmpty,
      s"unbounded join strategies in: ${offenders.mkString(", ")}")
  }

  test("q2's parquet scan pushes filters and prunes columns") {
    val plan = SparkEntry.queries("q2_filter_project")(spark, sf)
      .queryExecution.executedPlan
    val scans = allNodes(plan).collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, "q2 must read from a parquet file scan")
    val scan = scans.head
    assert(scan.metadata.get("PushedFilters").exists(f => f != "[]" && f.nonEmpty),
      s"q2 scan must push predicates, got ${scan.metadata.get("PushedFilters")}")
    // projection must prune: the scan schema reads fewer columns than
    // lineitem's 16
    assert(scan.schema.fields.length < 10,
      s"q2 scan must prune columns, reads ${scan.schema.fields.map(_.name).mkString(",")}")
  }

  test("a5's y extraction is codegen substring arithmetic, not a JSON parse (r14)") {
    // the per-row get_json_object parse ran in BOTH fact passes and was
    // a5's dominant cost (85004d8: full query 1.84 -> 0.71 s at sf0.1);
    // the generator's fixed `{"k": %d}` props shape makes the substring
    // form bit-exact (probe gate: 0 mismatches; Round3bOpsSpec still
    // cross-checks the output against a json-extracted reference)
    val plan = SparkEntry.queries("a5_mahalanobis")(spark, sf)
      .queryExecution.executedPlan
    assert(!plan.toString.contains("get_json_object"),
      "a5 must not pay a per-row JSON parse for the fixed-format props column")
  }

  test("dimension joins broadcast: q3's plan contains broadcast exchanges") {
    val plan = SparkEntry.queries("q3_join_agg")(spark, sf)
      .queryExecution.executedPlan
    val hasBroadcast = allNodes(plan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeExec])
    assert(hasBroadcast, "q3's dimension joins must be broadcast, not shuffled")
  }

  test("e17's ensemble reads the events fact at most twice (cached projection, not 4 rescans)") {
    withFullPlans {
      val plan = SparkEntry.queries("e17_ensemble")(spark, sf)
        .queryExecution.executedPlan
      // distinct events file scans, counting each cached relation's
      // internal scan ONCE (the cache is the mechanism of the
      // single-scan claim; without full-plan mode this plan is an
      // opaque checkpoint scan and the assertion would be vacuous)
      val factScans = Explain.planNodes(plan).collect {
        case s: FileSourceScanExec
            if s.metadata.get("Location").exists(_.contains("events")) => s
      }
      assert(factScans.nonEmpty,
        "full-plan mode must expose e17's real scans to this audit")
      assert(factScans.size <= 2,
        s"e17 must not rescan the events fact per detector, found ${factScans.size} scans")
    }
  }

  // ---- quadratic-candidate guards ----------------------------------
  // The CartesianProduct check above cannot see a DEGENERATE equi-join
  // key (a bucketed join whose buckets collapse to a handful of values
  // is all-pairs wearing an equi-join costume — exactly how round 3's
  // m4 slipped through at 97.8% of all possible pairs). These guards
  // measure the actual candidate-pair volume of every bucketed
  // dedup/ANN operator and fail if it drifts toward n²/2.

  /** Distinct shingle-sharing candidate pairs of the d2/d7 inverted
    * index (df-capped, k=5) — the volume their Σf² bound is about. */
  private def shingleCandidates(docs: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.functions._
    val exploded = operators.Shingles.index(docs, 5)
    val kept = exploded.join(
      exploded.groupBy("g").count()
        .filter(col("count") <= operators.Dedup.MaxShingleDf).select("g"),
      "g")
    kept.select(col("doc_id").as("a"), col("g"))
      .join(kept.select(col("doc_id").as("b"), col("g")), "g")
      .filter(col("a") < col("b"))
      .select("a", "b").distinct().count()
  }

  test("bucketed dedup candidates stay far below all-pairs on the real corpus (d2/d7, m4)") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val allPairs = n * (n - 1) / 2
    val shingleCand = shingleCandidates(docs.select("doc_id", "text"))
    assert(shingleCand < allPairs * 5 / 100,
      s"d2/d7 shingle index degenerated: $shingleCand of $allPairs pairs")
    val percepCand = operators.Multimodal.percepCandidateCount(
      docs.select(col("doc_id"), col("text").cast("binary").as("payload")))
    assert(percepCand < allPairs * 5 / 100,
      s"m4 perceptual banding degenerated: $percepCand of $allPairs pairs")
    // d16's prefix-bigram blocking is the same failure class: a
    // degenerate df cap admitted 40% of all pairs at sf0.1 once
    val editCand = operators.Dedup.editCandidateCount(
      docs.select("doc_id", "text"))
    assert(editCand < allPairs * 5 / 100,
      s"d16 edit blocking degenerated: $editCand of $allPairs pairs")
    val simhashCand = operators.DedupApprox.simhashCandidateCount(
      docs.select("doc_id", "text"))
    assert(simhashCand < allPairs * 5 / 100,
      s"d4 simhash banding degenerated: $simhashCand of $allPairs pairs")
    // d7's prefix+count filter must leave FAR fewer verify pairs than
    // the full inverted index it replaced (2.53B candidate rows at
    // sf100 — the decade exponent-1.72 regime); its survivors are the
    // pairs the exact array-intersect verify runs on
    val containCand = operators.Dedup.containmentCandidateCount(
      docs.select("doc_id", "text"))
    // (survivors are DIRECTED pairs; the full-index volume is a<b)
    assert(containCand < allPairs / 100 && containCand <= 2 * shingleCand,
      s"d7 prefix filtering degenerated: $containCand survivors " +
        s"(full-index candidates $shingleCand, all-pairs $allPairs)")
  }

  test("d4's MaxBucket df-cap holds on a signature-degenerate corpus") {
    import spark.implicits._
    // 2500 copies of one template: all four band chunks collide
    // corpus-wide, the exact regime that measured exponent 1.62 on the
    // sf1→sf10 decade (2.8 s → 114 s) before the cap. Those buckets
    // exceed MaxBucket and are dropped; the 500 diverse docs keep
    // discriminative buckets. Without the cap the clique alone emits
    // ~3.1M candidates (n²/2 of 2500).
    val docs = ((0L until 2500L).map(i =>
        (i, "spark data table join query row value spark data")) ++
      (2500L until 3000L).map(i =>
        (i, s"w$i unique ${i * 7} tok${i % 97} al${i % 13} b${i % 41}")))
      .toDF("doc_id", "text")
    val n = 3000L
    val allPairs = n * (n - 1) / 2
    val cand = operators.DedupApprox.simhashCandidateCount(docs)
    assert(cand < allPairs / 50,
      s"d4 df-cap failed on degenerate corpus: $cand of $allPairs pairs")
  }

  test("d9's probe→corpus fuzzy join candidates stay far below |probe|×|corpus|") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val probe = docs.filter(col("doc_id") < 25)
      .select(col("doc_id"),
        expr("array_join(slice(split(text, ' '), 1, CAST(ceil(size(split(text, ' ')) * 3 / 5) AS INT)), ' ')")
          .as("text"))
    val cs = operators.Shingles.index(docs, 5)
    val kept = cs.groupBy("g").count()
      .filter(col("count") <= operators.Dedup.MaxShingleDf).select("g")
    val cand = operators.Shingles.index(probe, 5).join(kept, "g")
      .select(col("doc_id").as("a"), col("g"))
      .join(cs.join(kept, "g").select(col("doc_id").as("b"), col("g")), "g")
      .select("a", "b").distinct().count()
    val cross = probe.count() * docs.count()
    assert(cand < cross * 5 / 100,
      s"d9 candidate volume degenerated: $cand of $cross probe×corpus pairs")
  }

  test("d9's corpus-derived repartition sizes the corpus side only (r13, ADVICE r12)") {
    import spark.implicits._
    // The sized() regime (parts > session default) is unreachable at
    // test SFs, so inject it via the corpusRows contract: 2²⁴ corpus
    // rows → parts = 2²⁴/16384 + 1 = 1025. The probe index is small by
    // contract — scattering it into 1025 mostly-empty partitions was
    // a phantom exchange at sf10+ (ADVICE r12) — so exactly the TWO
    // corpus-side exchanges (packedIdx's by-id groupBy input and the
    // final by-g index) may carry the corpus-derived count; every
    // probe-branch exchange keeps the session default.
    val corpus = Seq((100L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val probe = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val expected = (1L << 24) / 16384L + 1L  // 1025
    assert(expected > spark.sessionState.conf.numShufflePartitions)
    withFullPlans {
      val plan = operators.Dedup.fuzzyJoin(probe, corpus, corpusRows = 1L << 24)
        .queryExecution.executedPlan
      val sizedN = Explain.planNodes(plan).collect {
        case s: ShuffleExchangeExec
          if s.outputPartitioning.numPartitions == expected => s
      }.size
      assert(sizedN == 2,
        s"expected exactly 2 corpus-side sized exchanges ($expected " +
          s"partitions), got $sizedN — probe side must keep the default")
    }
  }

  test("d11's cluster count scales with the corpus so SemDeDup candidates stay near-linear") {
    import spark.implicits._
    // real corpus: the within-cluster pair space must sit well below
    // all-pairs (d5's exact-quadratic regime)
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val n = emb.count()
    val allPairs = n * (n - 1) / 2
    val cand = operators.Dedup.semDedupCandidateCount(emb, targetCluster = 64)
    assert(cand < allPairs * 2 / 5,
      s"d11 cluster candidates degenerated: $cand of $allPairs pairs")
    // synthetic 10× corpus: k grows with n (4096/64 = 64 cells), so the
    // candidate FRACTION must fall as the corpus grows — a fixed k
    // would hold it constant (the quadratic-at-scale failure)
    val rng = new scala.util.Random(11L)
    val big = Seq.tabulate(4096)(i =>
        (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val bigN = 4096L
    val bigCand = operators.Dedup.semDedupCandidateCount(big, targetCluster = 64)
    assert(bigCand < bigN * (bigN - 1) / 2 / 10,
      s"d11 candidates $bigCand not near-linear at n=$bigN")
  }

  test("d11's hierarchical cell regime (k > 256) stays near-linear and keeps planted dups") {
    import spark.implicits._
    // 20k vectors / targetCluster 64 → k = 312 > 256: the two-level
    // √k × √k assignment engages (the flat-path tests above never
    // exercise it). Contract: candidate volume stays near-linear AND
    // near-identical vectors co-locate through BOTH levels.
    val rng = new scala.util.Random(19L)
    val n = 20000
    val base = Array.fill(n)(Array.fill(16)(rng.nextGaussian().toFloat))
    val planted = (0 until 40).map { i =>
      (100000L + i,
        base(i).map(x => x + rng.nextGaussian().toFloat * 0.005f).toSeq)
    }
    val corpus = (base.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      ++ planted).toSeq.toDF("vec_id", "embedding")
    val total = (n + 40).toLong
    val cand = operators.Dedup.semDedupCandidateCount(corpus, targetCluster = 64)
    assert(cand < total * (total - 1) / 2 / 50,
      s"d11 hierarchical candidates $cand not near-linear at n=$total")
    val found = operators.Dedup.semDedup(corpus, minCos = 0.98,
        targetCluster = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = (0 until 40).count(i => found.contains((i.toLong, 100000L + i)))
    assert(hits >= 32, s"planted-dup recall $hits/40 through the two-level cells")
  }

  test("s6's adaptive LSH keeps kNN-graph candidates near-linear as the corpus grows") {
    import spark.implicits._
    // synthetic corpus big enough that the adaptive dial must actually
    // turn (n/targetBucket = 64 ≫ 2^4): with the old fixed 4 bits the
    // expected candidate volume is ~64% of all pairs (~5.4M here, over
    // the Tables×n×targetBucket bound); adaptiveBits(4096, 64) = 6
    // holds it near-linear
    val n = 4096
    val dim = 64
    val rng = new scala.util.Random(42L)
    val corpus = Seq.tabulate(n)(i =>
        (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val cand = operators.Similarity.knnCandidateCount(corpus, targetBucket = 64)
    val nearLinearBound = 16L * n * 64 // tables × n × targetBucket
    val allPairs = n.toLong * (n - 1) / 2
    assert(cand <= nearLinearBound,
      s"s6 candidate volume $cand exceeds the near-linear bound $nearLinearBound")
    assert(cand < allPairs / 2,
      s"s6 candidate volume $cand is within 2× of all-pairs ($allPairs)")
  }

  test("q3's Bloom semi-join reduction filters the fact BELOW the join") {
    val plan = SparkEntry.queries("q3_join_agg")(spark, sf)
      .queryExecution.executedPlan
    val filters = allNodes(plan).collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.find(
            _.isInstanceOf[graft.functions.BloomMightContainLong]).isDefined => f
    }
    assert(filters.nonEmpty, "q3 must Bloom-prune lineitem before the join")
    val sub = allNodes(filters.head)
    assert(sub.exists {
      case s: FileSourceScanExec =>
        s.metadata.get("Location").exists(_.contains("lineitem"))
      case _ => false
    }, "the Bloom filter must sit over the lineitem scan")
    assert(!sub.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      "the Bloom filter must prune the exchange, not post-filter the join")
  }

  test("converted scans carry zero Scala UDFs (r7/r8/r9: codegen expressions)") {
    // every operator whose scoring/digest/verify scan was converted to
    // a native expression (a1/a3/s4/d11 r7; a7/d4/d3/e18/a4 r8; s3's
    // probe side r9 — the engine's LAST UDF) must STAY UDF-free — a
    // reintroduced UDF brings back the per-row conversion layer this
    // family measured its wins against.
    val udfFree = Seq("a1_isoforest", "a3_kmeans_outlier", "a7_pca_outlier",
      "d3_minhash_lsh", "d4_simhash", "d11_semdedup", "s3_ivf", "s4_ann_pq",
      "t4_fingerprint", "e18_window_drift", "a4_cusum_drift")
    withFullPlans {
      udfFree.foreach { q =>
        val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
        val udfs = Explain.planNodes(plan).flatMap(_.expressions.flatMap(
          _.collect {
            case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
          }))
        assert(udfs.isEmpty,
          s"$q plans Scala UDFs: ${udfs.map(_.udfName).distinct}")
      }
    }
  }

  // ---- golden plan shapes (r9, VERDICT r8 item 3) -------------------
  // An added exchange or a lost broadcast on an expensive plan used to
  // surface only as unexplained bench drift — which costs a bisect to
  // adjudicate. These are the AS-PLANNED (pre-execution) node counts of
  // SparkEntry plans at the spec SF — deliberately NOT the AQE-final
  // runtime shapes, which flip SMJ↔BHJ per run on stage-size timing for
  // the iterative-CC family (see the in-test rationale); a deliberate
  // plan change re-records its row in the same commit
  // (GRAFT_RECORD_GOLDEN=1 prints the current table).

  /** Count of the plan-shape-bearing node kinds, zero entries elided. */
  private def shapeOf(plan: SparkPlan): Map[String, Int] =
    Explain.shape(plan).filter(_._2 > 0).toMap

  // Recorded 2026-08-16 (r10 — ALL 104 queries, VERDICT r9 item 6) at
  // sf0.001, local[4], shuffle partitions 4, default broadcast
  // threshold; verified identical across two recording runs. d8/d12/m5
  // resolve their pair lists on the driver (Dedup.connectedComponents),
  // so their rows show only the plan over the local label frame; the
  // pointer-jump kernel's per-round joins are pinned by their own test
  // below. q16 shows a bhj under the default config at tiny SF;
  // its exchange-free bucketed-SMJ claim is pinned separately with
  // broadcast disabled. r10 re-record note: d8 101→305-family shuffle
  // counts moved with the d2 pk-pack (the packed pair key is an
  // expression of the cached sets attributes, so re-executions over a
  // FINALIZED cache no longer skip the pair-count exchange in the
  // tiny-SF broadcast regime — an audit-mode artifact; production mode
  // checkpoints the pairs and runs the subtree once, and at scale the
  // g-join is never broadcast so the exchange exists in both forms,
  // now 25% narrower).
  private val goldenShapes: Map[String, Map[String, Int]] = Map(
    "a1_isoforest" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 2, "sort" -> 1),
    "a2_ewma" -> Map("shuffle" -> 2, "sort" -> 2),
    "a3_kmeans_outlier" -> Map("shuffle" -> 2, "sort" -> 1),
    "a4_cusum_drift" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 3, "sort" -> 2),
    "a5_mahalanobis" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 2, "sort" -> 1),
    "a6_holt" -> Map("shuffle" -> 2, "sort" -> 2),
    "a7_pca_outlier" -> Map("shuffle" -> 2, "sort" -> 1),
    "a8_hist_drift" -> Map("bhj" -> 7, "broadcast" -> 7, "shuffle" -> 12, "sort" -> 1),
    "d10_block_dedup" -> Map("bhj" -> 2, "broadcast" -> 2, "shuffle" -> 5, "sort" -> 1),
    "d11_semdedup" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 2, "sort" -> 1),
    // r13: keeperSelect caches `scored` (the quality join) — the whole
    // d8+quality subtree was duplicated in the full plan (and the
    // quality fact pass ran twice at runtime); the cache halves it.
    "d12_keeper_select" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 4, "smj" -> 1, "sort" -> 3),
    "d13_dup_weight" -> Map("shuffle" -> 2, "sort" -> 2),
    "d14_incremental_dedup" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 3, "sort" -> 2),
    "d15_source_overlap" -> Map("bhj" -> 6, "broadcast" -> 6, "shuffle" -> 6, "sort" -> 1),
    // r14 (2026-08-18, VERDICT r13 item 3): df-cap re-formed as a
    // map-side-combined groupBy count + partitioned shuffle_hash
    // LEFT SEMI join — r13's COUNT window buffered each bigram's full
    // posting list in one WindowExec task BEFORE the filter (a 100 TB
    // Zipf-skew straggler; no WindowExec touches an unfiltered posting
    // list now). shj 2 = the semi + the hinted self-join; shuffle 7 =
    // r13's 6 plus the partial-agg count exchange (which carries
    // ≤ distinct-bigram partial rows, not posting lists); sort 1 =
    // output order only (the window sort is gone — sf10 peak exec mem
    // 635 → 519 MB, records +2.5% = exactly the partial-count rows).
    // 80b9194 bit-exactness gate 0 diffs at sf0.1 AND sf10; blocking
    // stage ties r13's cached-window arm at sf10 (1.067 vs 1.072 s),
    // +0.13 s at sf0.1 (the second flatMap pass) — the q3-Bloom
    // precedent: gate scale pays, the scale hazard goes.
    "d16_edit_pairs" -> Map("bhj" -> 2, "broadcast" -> 2, "shj" -> 2, "shuffle" -> 7, "sort" -> 1),
    "d17_dedup_report" -> Map("shuffle" -> 3, "sort" -> 2),
    "d1_dedup_exact" -> Map("shuffle" -> 2, "sort" -> 1),
    "d2_dedup_ngram" -> Map("bhj" -> 4, "broadcast" -> 4, "shuffle" -> 5, "sort" -> 1),
    "d3_minhash_lsh" -> Map("bhj" -> 3, "broadcast" -> 3, "shuffle" -> 3, "sort" -> 1),
    "d4_simhash" -> Map("bhj" -> 2, "broadcast" -> 2, "shuffle" -> 5, "sort" -> 1),
    "d5_embed_neardup" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 1, "sort" -> 1),
    "d6_contamination" -> Map("bhj" -> 2, "broadcast" -> 2, "shuffle" -> 6, "sort" -> 1),
    "d7_containment" -> Map("bhj" -> 4, "broadcast" -> 4, "shuffle" -> 5, "sort" -> 1),
    "d8_dedup_clusters" -> Map("shuffle" -> 1, "sort" -> 1),
    // r12 re-record: fuzzyJoin's pk-pack (VERDICT r11 item 1) dropped
    // the na/nb post-aggregation joins — bhj/broadcast 5 → 3; the same
    // 8 exchanges remain but the heavy ones carry 2 bare longs per row
    // and the operator caches 1 frame instead of 3.
    "d9_fuzzy_join" -> Map("bhj" -> 3, "broadcast" -> 3, "shuffle" -> 8, "sort" -> 1),
    "e10_top_outliers" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 3, "sort" -> 1),
    "e11_asof" -> Map("shuffle" -> 2, "sort" -> 2),
    "e12_range_join" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 3, "sort" -> 3),
    "e13_gap_fill" -> Map("shuffle" -> 2, "sort" -> 2),
    "e14_approx_quantile" -> Map("shuffle" -> 2, "sort" -> 1),
    "e15_interpolate" -> Map("shuffle" -> 2, "sort" -> 2),
    "e16_correlation" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 4, "sort" -> 1),
    "e17_ensemble" -> Map("bhj" -> 3, "broadcast" -> 3, "shuffle" -> 4, "sort" -> 1),
    "e18_window_drift" -> Map("shuffle" -> 2, "sort" -> 2),
    // r13: rollup cached (the b-side's pushed isnotnull(m2) broke AQE
    // stage reuse — the fact was scanned + rolled up twice; see
    // EventOps.autocorr). One rollup exchange now, inside the cache.
    "e19_autocorr" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 3, "sort" -> 1),
    "e1_json_parse" -> Map("shuffle" -> 1, "sort" -> 1),
    "e20_rate_burst" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 4, "sort" -> 1),
    "e21_coverage" -> Map("shuffle" -> 3, "sort" -> 1),
    "e22_seasonal_strength" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 3, "sort" -> 1),
    "e23_detector_scorecard" -> Map("bhj" -> 3, "broadcast" -> 3, "shuffle" -> 5, "sort" -> 1),
    "e2_tumbling" -> Map("shuffle" -> 2, "sort" -> 1),
    "e3_rolling" -> Map("shuffle" -> 2, "sort" -> 2),
    "e4_sessionize" -> Map("shuffle" -> 2, "sort" -> 2),
    "e5_zscore" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 2, "sort" -> 1),
    "e6_robust" -> Map("bhj" -> 3, "broadcast" -> 3, "shuffle" -> 4, "sort" -> 1),
    "e7_iqr" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 2, "sort" -> 1),
    "e8_seasonal" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 2, "sort" -> 1),
    "e9_rate" -> Map("shuffle" -> 2, "sort" -> 1),
    "i10_epoch_shuffle" -> Map("shuffle" -> 2, "sort" -> 2),
    "i1_stratified_sample" -> Map("shuffle" -> 1, "sort" -> 1),
    "i2_split_assign" -> Map("shuffle" -> 1, "sort" -> 1),
    "i3_mixture" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 1, "sort" -> 1),
    "i4_pack_sequences" -> Map("shuffle" -> 2, "sort" -> 2),
    "i5_global_shuffle" -> Map("shuffle" -> 2, "sort" -> 2),
    "i6_take_per_group" -> Map("shuffle" -> 2, "sort" -> 1),
    "i7_interleave" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 2, "sort" -> 2),
    "i8_token_budget" -> Map("shuffle" -> 3, "sort" -> 3),
    "i9_curriculum" -> Map("shuffle" -> 3, "sort" -> 3),
    "m1_binary_meta" -> Map("shuffle" -> 1, "sort" -> 1),
    "m2_feature_stub" -> Map("shuffle" -> 2, "sort" -> 1),
    "m3_frame_sample" -> Map("shuffle" -> 2, "sort" -> 1),
    "m4_percep_dedup" -> Map("bhj" -> 3, "broadcast" -> 3, "shuffle" -> 5, "sort" -> 1),
    "m5_percep_clusters" -> Map("shuffle" -> 1, "sort" -> 1),
    // r13: caching perCust was tried and measured a ~2x gate-scale
    // no-win (see Analytics.q10HavingSub note) — the double rollup is
    // the shipped shape.
    "q10_having_sub" -> Map("bnlj" -> 1, "broadcast" -> 1, "shuffle" -> 4, "sort" -> 1),
    "q11_approx_distinct" -> Map("shuffle" -> 2, "sort" -> 1),
    "q12_grouping_sets" -> Map("shuffle" -> 2, "sort" -> 1),
    "q13_window_suite" -> Map("shuffle" -> 2, "sort" -> 2),
    "q14_pivot" -> Map("bhj" -> 2, "broadcast" -> 2, "shuffle" -> 3, "sort" -> 1),
    "q15_bloom_semi" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 2, "sort" -> 1),
    "q16_colocated_join" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 2, "sort" -> 1),
    "q17_incremental_agg" -> Map("shuffle" -> 3, "sort" -> 1),
    "q18_sketch_rollup" -> Map("shuffle" -> 3, "sort" -> 1),
    "q1_agg" -> Map("shuffle" -> 2, "sort" -> 1),
    "q2_filter_project" -> Map("shuffle" -> 1, "sort" -> 1),
    "q3_join_agg" -> Map("bhj" -> 3, "broadcast" -> 3, "shuffle" -> 2, "sort" -> 1),
    "q4_topn_window" -> Map("shuffle" -> 2, "sort" -> 1),
    "q5_distinct_agg" -> Map("shuffle" -> 3, "sort" -> 1),
    "q6_conditional_agg" -> Map("shuffle" -> 2, "sort" -> 1),
    "q7_semi_anti" -> Map("bhj" -> 2, "broadcast" -> 2, "shuffle" -> 1, "sort" -> 1),
    "q8_rollup" -> Map("shuffle" -> 2, "sort" -> 1),
    "q9_percentile" -> Map("shuffle" -> 2, "sort" -> 1),
    "s1_ann_brute" -> Map("bnlj" -> 1, "broadcast" -> 1, "shuffle" -> 2, "sort" -> 1),
    "s2_ann_lsh" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 2, "sort" -> 1),
    "s3_ivf" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 3, "sort" -> 1),
    "s4_ann_pq" -> Map("bhj" -> 1, "bnlj" -> 1, "broadcast" -> 2, "shuffle" -> 4, "sort" -> 1),
    "s5_filtered_ann" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 2, "sort" -> 1),
    "s6_knn_graph" -> Map("shj" -> 1, "shuffle" -> 5, "sort" -> 1),
    "s7_hard_negatives" -> Map("bnlj" -> 1, "broadcast" -> 1, "shuffle" -> 2, "sort" -> 1),
    "s8_range_search" -> Map("bnlj" -> 1, "broadcast" -> 1, "shuffle" -> 1, "sort" -> 1),
    "t10_repetition" -> Map("shuffle" -> 3, "sort" -> 1),
    "t11_heavy_hitters" -> Map(),
    "t12_lm_quality" -> Map("bhj" -> 3, "broadcast" -> 3, "shuffle" -> 3, "sort" -> 1),
    "t13_normalize" -> Map("shuffle" -> 2, "sort" -> 2),
    "t14_dup_ngrams" -> Map("shuffle" -> 1, "sort" -> 1),
    "t15_langid_margin" -> Map("shuffle" -> 3, "sort" -> 3),
    "t1_langid" -> Map("shuffle" -> 1, "sort" -> 1),
    "t2_quality" -> Map("shuffle" -> 1, "sort" -> 1),
    "t3_tokens" -> Map("shuffle" -> 1, "sort" -> 1),
    "t4_fingerprint" -> Map("shuffle" -> 1, "sort" -> 1),
    "t5_doc_stats" -> Map("shuffle" -> 2, "sort" -> 1),
    "t6_ngram_counts" -> Map("shuffle" -> 2),
    "t7_vocab_scrub" -> Map("shuffle" -> 1, "sort" -> 1),
    "t8_redact" -> Map("shuffle" -> 1, "sort" -> 1),
    "t9_tfidf_topk" -> Map("bhj" -> 1, "broadcast" -> 1, "shuffle" -> 5, "sort" -> 1)
  )

  test("every query's plan shape matches the golden exchange/sort/join counts") {
    withFullPlans {
      // AS-PLANNED shape (no execution): the AQE-final plan was
      // measured unstable for the iterative-CC family (AQE flips a few
      // SMJ↔BHJ per run on stage-size timing), while the initial plan
      // is a deterministic function of code + testdata — and a lost
      // hint / added exchange regresses the initial plan too.
      // r10 (VERDICT r9 item 6): the net covers EVERY SparkEntry query,
      // not just the 20 most expensive — recording is one
      // GRAFT_RECORD_GOLDEN=1 run, and the r8/r9 drift forensics showed
      // each unpinned plan costs a bisect when it drifts.
      val got = SparkEntry.queries.keys.toSeq.sorted.map { q =>
        val df = SparkEntry.queries(q)(spark, sf)
        q -> shapeOf(df.queryExecution.executedPlan)
      }
      if (sys.env.contains("GRAFT_RECORD_GOLDEN")) {
        got.foreach { case (q, s) =>
          val body = s.toSeq.sorted
            .map { case (k, v) => s""""$k" -> $v""" }.mkString(", ")
          println(s"""GOLDEN    "$q" -> Map($body),""")
        }
      } else {
        val diffs = got.collect {
          case (q, s) if !goldenShapes.contains(q) =>
            s"$q: no golden row — record it (GRAFT_RECORD_GOLDEN=1)"
          case (q, s) if s != goldenShapes(q) =>
            s"$q: got $s want ${goldenShapes(q)}"
        }
        // stale direction too (r11, per advisor): a golden row whose
        // query was removed/renamed in SparkEntry would otherwise pass
        // silently, eroding the "every query pinned" invariant
        val stale = (goldenShapes.keySet -- got.map(_._1).toSet).toSeq.sorted
          .map(q => s"$q: golden row has no SparkEntry query — delete it")
        assert(diffs.isEmpty && stale.isEmpty,
          s"plan shapes drifted (deliberate change? re-record the golden " +
            s"row in this commit):\n${(diffs ++ stale).mkString("\n")}")
      }
    }
  }

  test("the distributed CC kernel over d2's pairs matches its golden shape") {
    // d8/d12/m5 resolve their sf0.001 pair lists on the driver, so the
    // goldens above no longer see the pointer-jump rounds; this row
    // keeps the kernel's per-round exchange/join shape a tripwire
    withFullPlans {
      val pairs = SparkEntry.queries("d2_dedup_ngram")(spark, sf).select("a", "b")
      val got = shapeOf(graft.operators.Dedup.pointerJumpComponents(pairs)
        .queryExecution.executedPlan)
      assert(got == Map("bhj" -> 157, "broadcast" -> 157, "shuffle" -> 152,
        "smj" -> 25, "sort" -> 97), s"kernel shape drifted: got $got")
    }
  }

  test("Pipeline.detect parses each value once, keys by the plant_type column, and shuffles once") {
    // st3's per-row path: the Reader-based from_json, a map-side decode
    // of every row into a Reading just to compute the key
    // (AppendColumns), or a validation filter that re-parses the value
    // per conjunct would each come back here first
    import org.apache.spark.sql.catalyst.expressions.{Attribute, JsonToStructs}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{AppendColumnsExec, AppendColumnsWithObjectExec}
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    implicit val sc = spark.sqlContext
    implicit val ss = spark
    import spark.implicits._
    def audit(label: String, plan: SparkPlan): Unit = {
      val nodes = Explain.planNodes(plan)
      val exprs = nodes.flatMap(_.expressions.flatMap(_.collect { case e => e }))
      assert(!nodes.exists(n => n.isInstanceOf[AppendColumnsExec] ||
        n.isInstanceOf[AppendColumnsWithObjectExec]), s"$label plans AppendColumns:\n$plan")
      assert(!exprs.exists(_.isInstanceOf[JsonToStructs]), s"$label plans from_json:\n$plan")
      assert(exprs.count(_.isInstanceOf[graft.functions.FromJsonBytes]) == 1,
        s"$label must parse each value exactly once:\n$plan")
      val keys = nodes.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      assert(keys.size == 1, s"$label plans ${keys.size} exchanges:\n$plan")
      keys.head match {
        case HashPartitioning(Seq(a: Attribute), _) =>
          assert(a.name == "plant_type", s"$label hashes on ${a.name}")
        case p => fail(s"$label's exchange is not a hash on plant_type: $p")
      }
    }
    val values = graft.streaming.Pipeline.toKafkaValue(
      graft.streaming.Generator.telemetry(spark.range(200).toDF("value")))
      .as[String].collect().toSeq
    audit("batch", graft.streaming.Pipeline.detect(values.toDF("value"))
      .queryExecution.executedPlan)
    val in = MemoryStream[String]
    val q = graft.streaming.Pipeline.detect(in.toDF())
      .writeStream.format("noop").start()
    try {
      in.addData(values)
      q.processAllAvailable()
      audit("streaming", q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan)
    } finally q.stop()
  }

  /** Spark jobs started on this thread while `body` runs, counted
    * through its own job group once the listener bus has caught up. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val group = s"build-jobs-${System.nanoTime()}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val ended = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      private def ours(p: java.util.Properties) =
        p != null && p.getProperty("spark.jobGroup.id") == group
      private val mine = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) { mine.add(e.jobId); started.incrementAndGet() }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (mine.contains(e.jobId)) ended.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build")
      try body finally sc.clearJobGroup()
      // every job has ended before `body` returns; wait for the bus to
      // deliver their events (quiet for three 100 ms beats)
      val deadline = System.nanoTime() + 30L * 1000000000L
      var (last, quiet) = (-1, 0)
      while (quiet < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val now = started.get
        quiet = if (now == last && ended.get == now) quiet + 1 else 0
        last = now
      }
      started.get
    } finally sc.removeSparkListener(listener)
  }

  // Eager jobs each query runs while its frame is BUILT in production
  // mode (checkpoints, counts, collects), before the frame executes.
  // The connected-components family paid two jobs per pointer-jump
  // round here; a return of per-round jobs fails this row.
  private val goldenBuildJobs: Map[String, Int] = Map(
    "d2_dedup_ngram" -> 21,
    "d8_dedup_clusters" -> 22,
    "d12_keeper_select" -> 31,
    "m4_percep_dedup" -> 15,
    "m5_percep_clusters" -> 16)

  test("the dedup family's build job counts match their goldens") {
    val got = goldenBuildJobs.keys.toSeq.sorted.map { q =>
      spark.catalog.clearCache()
      q -> jobsDuring(SparkEntry.queries(q)(spark, sf))
    }
    spark.catalog.clearCache()
    val diffs = got.collect { case (q, n) if n != goldenBuildJobs(q) =>
      s"$q: $n build jobs, golden ${goldenBuildJobs(q)}" }
    assert(diffs.isEmpty, s"build job counts drifted:\n${diffs.mkString("\n")}")
  }

  /** `file:line: text` of every line under src/main/scala matching
    * `pat`, skipping files named in `except`. */
  private def mainSourceHits(pat: String,
      except: Set[String] = Set.empty): List[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"expected to run from the repo root, cwd=${sys.props("user.dir")}")
    val re = java.util.regex.Pattern.compile(pat)
    val walk = java.nio.file.Files.walk(root)
    try {
      walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          !except.contains(p.getFileName.toString))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if re.matcher(line).find() => s"$p:${i + 1}: $line"
          }
        }.toList
    } finally walk.close()
  }

  test("main source tree registers zero Scala UDFs (r9: the s3 probe was the last)") {
    // the plan-level check above only sees queries it lists; this is
    // the whole-engine invariant — `udf(` appearing anywhere in main is
    // a regression (tests may use UDFs freely: they are the twin
    // formulations the expressions are pinned against)
    val hits = mainSourceHits("""\budf\s*\(""")
    assert(hits.isEmpty, s"Scala UDF registrations in main:\n${hits.mkString("\n")}")
  }

  test("one session factory: builders, extraStrategies and session env reads stay in GraftSession") {
    // a main that builds its own session runs a different engine from
    // the one the specs and the benchmark exercise (no extensions, its
    // own knob defaults); strategies register through
    // GraftExtensions.injectPlannerStrategy, never by mutating a live
    // session; the session env variables are read in one place
    val builders = mainSourceHits("""SparkSession\.builder\s*\(""",
      except = Set("GraftSession.scala"))
    assert(builders.isEmpty,
      s"SparkSession.builder() outside GraftSession:\n${builders.mkString("\n")}")
    val strategies = mainSourceHits("""extraStrategies""")
    assert(strategies.isEmpty,
      s"experimental.extraStrategies in main:\n${strategies.mkString("\n")}")
    val knobs = mainSourceHits(
      """"SPARK_GRAFT_(CPUS|SHUFFLE_PARTITIONS|MAX_PARTITION_BYTES|IO_CODEC)"""",
      except = Set("GraftSession.scala"))
    assert(knobs.isEmpty,
      s"session env variables read outside GraftSession:\n${knobs.mkString("\n")}")
  }

  test("the checkpoint file manager is chosen once, in GraftSession.localConf") {
    // every local streaming query writes its checkpoints through the
    // manager the session factory installs; a per-query override would
    // give LiveSoak, StateSoak or the benchmark a different write path
    val hits = mainSourceHits("""checkpointFileManagerClass""",
      except = Set("GraftSession.scala"))
    assert(hits.isEmpty,
      s"checkpoint file manager set outside GraftSession:\n${hits.mkString("\n")}")
  }

  test("the env variables main reads are the eight documented in OPERATIONS.md") {
    // an undocumented variable is an option no test or benchmark turns
    // on; a new one joins OPERATIONS.md's knob table and this set
    val Name = """"((?:SPARK_)?GRAFT_\w+)"""".r
    val names = mainSourceHits(Name.regex)
      .flatMap(h => Name.findAllMatchIn(h).map(_.group(1))).toSet
    assert(names == Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
      "SPARK_GRAFT_MAX_PARTITION_BYTES", "SPARK_GRAFT_IO_CODEC",
      "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_ONLY", "SPARK_GRAFT_PASSES",
      "SPARK_GRAFT_LINEITEM_CHUNKS"), s"env variables in main: $names")
  }

  test("main reads no markdown file as data") {
    // prose tables drift under edits a reader cannot see (a new heading
    // moved what a regex scan picked up); machine-read inputs such as
    // the bench gate live in data files
    val hits = mainSourceHits(""""[^"]*\.md"""")
    assert(hits.isEmpty, s"markdown path literals in main:\n${hits.mkString("\n")}")
  }

  test("the exact-sum decimal types are spelled only in ExactStats") {
    // DECIMAL(18,6) sums and DECIMAL(28,10) product sums are what make
    // the oracle hashes engine-stable; a second hand-written copy can
    // drift from the one the helpers and their oracles share (oracle
    // SQL spells DECIMAL(18,6) and is not matched)
    val hits = mainSourceHits("""DecimalType\(\s*(18\s*,\s*6|28\s*,\s*10)\s*\)""",
      except = Set("ExactStats.scala"))
    assert(hits.isEmpty,
      s"exact-sum decimal types outside ExactStats:\n${hits.mkString("\n")}")
  }

  test("main has no approx-percentile session switch") {
    // percentiles are exact everywhere; the bounded-memory estimate is
    // its own operator (e14), not a conf key that swaps every caller
    val hits = mainSourceHits("""spark\.graft\.approx""")
    assert(hits.isEmpty, s"approx session keys in main:\n${hits.mkString("\n")}")
  }

  test("keyed stateful operators set no processing-time timeouts") {
    // every flatMapGroupsWithState keeps state per key with NoTimeout;
    // a timeout branch no caller enables ships without ever running
    val hits = mainSourceHits("""ProcessingTimeTimeout|setTimeoutDuration|hasTimedOut""")
    assert(hits.isEmpty, s"group-state timeouts in main:\n${hits.mkString("\n")}")
  }
}

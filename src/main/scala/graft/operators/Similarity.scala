package graft.operators

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.VectorOps
import graft.ml.ProductQuantizer
import graft.Exec._

/** Similarity search over embeddings (SURVEY.md §2.E).
  *
  * s1 is the exact baseline: broadcast the (tiny) query set against the
  * corpus scan — cost is linear in corpus size, embarrassingly parallel
  * over partitions, and the only shuffle is the final per-query top-k.
  * That is exactly the shape that survives 100 TB: queries broadcast,
  * corpus streamed, per-partition partial top-k then merge. The
  * approximate variants (s2 LSH / s3 IVF) cut the scanned fraction.
  */
object Similarity {

  /** Exact cosine top-k per query over any (vec_id, embedding) query /
    * corpus frames: queries broadcast against the streamed corpus scan.
    * The 100 TB shape — linear in corpus, parallel over partitions, one
    * bounded top-k shuffle. */
  def annBrute(queries: DataFrame, corpus: DataFrame, k: Int = 10): DataFrame = {
    val q = queries
      .select(col("vec_id").as("qid"), col("embedding").as("eq"),
        sqrt(VectorOps.normSq(col("embedding"))).as("qn"))
    val c = corpus
      .select(col("vec_id").as("cid"), col("embedding").as("ec"),
        sqrt(VectorOps.normSq(col("embedding"))).as("cn"))
    val cos = VectorOps.dot(col("eq"), col("ec")) / (col("qn") * col("cn"))
    // custom top-k operator (plans/TopKPerGroup): per-partition k-heaps
    // shuffle only candidate winners, never the full scored cross frame
    graft.plans.TopKPerGroup.perKey(
        c.join(broadcast(q)).withColumn("cos", cos),
        Seq(col("qid")), Seq(col("cos").desc, col("cid")), k)
      .select(col("qid"), col("cid"), round(col("cos"), 6).as("cos"),
        col("rank").as("rn"))
      .orderBy("qid", "rn")
  }

  /** s1_ann_brute — [[annBrute]] on the embeddings table (queries =
    * vec_id < 5, corpus = everything else). */
  def s1AnnBrute(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    annBrute(e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5))
  }

  /** s5_filtered_ann — metadata-filtered exact ANN: top-k cosine
    * neighbors restricted to corpus vectors sharing the query's label
    * (the filtered-vector-search shape every retrieval stack needs —
    * "nearest neighbors among docs matching this predicate"). The
    * filter is applied PRE-scoring as the join key itself: the
    * broadcast hash join on `label` means a corpus row is never scored
    * against a query it can't match, so selectivity directly divides
    * scan cost — the scale-correct pre-filter form (post-filtering a
    * global top-k both over-scans and under-returns). [sql-oracle]. */
  def s5FilteredAnn(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("label").as("lbl"),
        col("embedding").as("eq"),
        sqrt(VectorOps.normSq(col("embedding"))).as("qn"))
    val c = e.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("cid"), col("label").as("lbl"),
        col("embedding").as("ec"),
        sqrt(VectorOps.normSq(col("embedding"))).as("cn"))
    val cos = VectorOps.dot(col("eq"), col("ec")) / (col("qn") * col("cn"))
    graft.plans.TopKPerGroup.perKey(
        c.join(broadcast(q), "lbl").withColumn("cos", cos),
        Seq(col("qid")), Seq(col("cos").desc, col("cid")), 10)
      .select(col("qid"), col("lbl"), col("cid"),
        round(col("cos"), 6).as("cos"), col("rank").as("rn"))
      .orderBy("qid", "rn")
  }

  /** s7_hard_negatives — hard-negative mining for embedding training:
    * per query, the top-k most-similar corpus vectors whose label
    * DIFFERS from the query's (the "confusable negatives" contrastive
    * fine-tuning pairs with each anchor — s5's filter inverted: s5
    * retrieves within the label, s7 mines the near-misses across it).
    *
    * Scale is s1's shape exactly: the (tiny) query set broadcasts, the
    * corpus streams once, the label-mismatch predicate rides the
    * broadcast join, and TopKPerGroup bounds the shuffle at k rows per
    * partition per query. The mismatch join is a BroadcastNestedLoop
    * over a ≤k-row build side — the allowlisted linear-scan form
    * (PlanAuditSpec), linear in corpus size by design. [sql-oracle]. */
  def s7HardNegatives(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("label").as("qlbl"),
        col("embedding").as("eq"),
        sqrt(VectorOps.normSq(col("embedding"))).as("qn"))
    val c = e.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("cid"), col("label").as("clbl"),
        col("embedding").as("ec"),
        sqrt(VectorOps.normSq(col("embedding"))).as("cn"))
    val cos = VectorOps.dot(col("eq"), col("ec")) / (col("qn") * col("cn"))
    graft.plans.TopKPerGroup.perKey(
        c.join(broadcast(q), col("qlbl") =!= col("clbl"))
          .withColumn("cos", cos),
        Seq(col("qid")), Seq(col("cos").desc, col("cid")), k)
      .select(col("qid"), col("qlbl"), col("cid"), col("clbl"),
        round(col("cos"), 6).as("cos"), col("rank").as("rn"))
      .orderBy("qid", "rn")
  }

  /** s8_range_search — threshold (range) similarity retrieval: per
    * query, EVERY corpus vector with cosine ≥ τ, not a fixed top-k
    * (the "all sufficiently-similar" form retrieval filters,
    * contamination screens, and near-dup audits ask for — top-k
    * under-returns when a query has many qualifying neighbors and
    * pads with noise when it has none). Same 100 TB shape as s1: the
    * tiny query set broadcasts, the corpus streams once, the
    * predicate rides the scan, and ONLY qualifying rows are emitted —
    * output cost tracks the answer, not the corpus. The threshold
    * compares the 6-dp-rounded cosine so the emission set is
    * bit-stable across engines (an unrounded boundary comparison
    * could flip on a last-ulp dot-sum difference). At 100 TB, a
    * per-query emission cap (TopKPerGroup over the qualifying set)
    * bounds worst-case output for degenerate near-constant corpora;
    * the threshold itself is the primary dial. [sql-oracle]. */
  def s8RangeSearch(s: SparkSession, dir: String, tau: Double = 0.25): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("eq"),
        sqrt(VectorOps.normSq(col("embedding"))).as("qn"))
    val c = e.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("cid"), col("embedding").as("ec"),
        sqrt(VectorOps.normSq(col("embedding"))).as("cn"))
    val cos = VectorOps.dot(col("eq"), col("ec")) / (col("qn") * col("cn"))
    c.join(broadcast(q)).withColumn("cos", round(cos, 6))
      .filter(col("cos") >= tau)
      .select(col("qid"), col("cid"), col("cos"))
      .orderBy("qid", "cid")
  }

  /** Random-hyperplane signatures (Charikar STOC 2002 SimHash for
    * cosine): 16 tables × 4 bits, deterministic.
    * Bits/table sets bucket granularity — collision prob per table is
    * (1 − θ/π)^bits, so for the weakly-similar regime this corpus sits
    * in (top-10 cosine ≈ 0.25–0.40, θ ≈ 70°, per-bit ≈ 0.6) 4 bits ×
    * 16 tables gives ~0.85 expected recall (spec-asserted vs s1). At
    * 100 TB, scale bits ≈ log2(corpus / target_bucket_size) and tables
    * to the recall target — candidates per query stay ~tables ×
    * bucket_size regardless of corpus size ([[adaptiveBits]] turns
    * that dial from a cheap corpus count; [[s6KnnGraph]] uses it). */
  private val Tables8 = graft.functions.HyperplaneBuckets.Tables8
  private val Bits = 4
  private[graft] val MaxBits = graft.functions.HyperplaneBuckets.MaxBits
  private val Dim = graft.functions.HyperplaneBuckets.Dim
  // the seeded plane family lives with the codegen bucketing expression
  // (functions/HyperplaneBuckets.scala) — ONE definition for the
  // columnar operators below and the Scala-side `buckets` the specs use
  private def planes = graft.functions.HyperplaneBuckets.planes

  /** bits ≈ log2(n / targetBucket), floored at the fixed-dial 4 and
    * capped by the plane budget — keeps expected bucket size (and so
    * Σ size² candidate volume per table ≈ n × targetBucket) bounded as
    * the corpus grows instead of letting buckets scale with n. */
  private[graft] def adaptiveBits(n: Long, targetBucket: Int): Int = {
    val needed = math.ceil(
      math.log(math.max(n, 1L).toDouble / targetBucket) / math.log(2.0)).toInt
    math.min(MaxBits, math.max(Bits, needed))
  }

  private[graft] def buckets(v: Seq[Float], bits: Int = Bits): Seq[(Int, Int)] =
    (0 until Tables8).map { t =>
      var bucket = 0
      var b = 0
      while (b < bits) {
        var dp = 0.0
        var i = 0
        val p = planes(t)(b)
        while (i < Dim && i < v.length) { dp += p(i) * v(i); i += 1 }
        if (dp >= 0) bucket |= (1 << b)
        b += 1
      }
      (t, bucket)
    }

  /** s2_ann_lsh — random-hyperplane LSH ANN: queries and corpus are
    * bucketed per table; only same-bucket candidates get exact cosine.
    * The scanned fraction drops to collisions (~corpus/2^bits per table),
    * which is the 100 TB path; recall vs s1 is spec-tested.
    *
    * Two structural rules, both learned by measurement here and in s6:
    * scoring happens INSIDE the bucket join (a bare (qid, cid)
    * candidate list that joins embeddings back per pair plans a
    * sort-merge join with vector payloads once the corpus outgrows the
    * broadcast threshold), and the bucket explode is COLUMNAR — the
    * [[graft.functions.HyperplaneBuckets]] codegen expression +
    * posexplode. The typed-flatMap explode this replaces re-encoded
    * the 64-float payload per emitted bucket row through per-element
    * `mapobjects` (39.8 s of old-s2's 41.8 s at sf10 — the join was
    * ~2 s; see HyperplaneBuckets). The bucketed QUERY side (|probes| ×
    * tables rows — small by definition) broadcasts into a hash join
    * against the bucketed corpus carrying vector + norm; pairs leave
    * as narrow (qid, cid, cos) triples, and duplicate same-pair rows
    * from different tables carry the identical double, so distinct
    * collapses them exactly as a pair-level distinct would.
    * Bit-identical output (same buckets, same cosine arithmetic);
    * measured min-of-3 at sf10: 42.7 → 1.7 s. */
  def s2AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    def bucketed(df: DataFrame, idCol: String, vecAs: String, nrmAs: String) =
      df.select(col("vec_id").as(idCol),
        posexplode(graft.functions.HyperplaneBuckets.col(col("embedding"), Bits))
          .as(Seq("t", "bk")),
        col("embedding").as(vecAs),
        sqrt(VectorOps.normSq(col("embedding"))).as(nrmAs))
    val qb = bucketed(e.filter(col("vec_id") < 5), "qid", "eq", "qn")
    val cb = bucketed(e.filter(col("vec_id") >= 5), "cid", "ec", "cn")
    val cos = VectorOps.dot(col("eq"), col("ec")) / (col("qn") * col("cn"))
    val scored = cb.join(broadcast(qb), Seq("t", "bk"))
      .select(col("qid"), col("cid"), cos.as("cos"))
    graft.plans.TopKPerGroup.perKeyDistinct(scored,
        Seq(col("qid")), Seq(col("cos").desc, col("cid")), 10)
      .select(col("qid"), col("cid"), round(col("cos"), 6).as("cos"),
        col("rank").as("rn"))
      .orderBy("qid", "rn")
  }

  /** s6_knn_graph — the all-vectors kNN graph: every corpus vector's
    * approximate top-k cosine neighbors (not a small probe set like
    * s1–s5 — the output is the GRAPH that kNN-dedup, label
    * propagation, and cluster discovery consume). Candidates come from
    * the same 16×4-bit hyperplane tables as s2: two vectors are
    * compared only when some table buckets them together, so each
    * vector scans ~tables × bucket-size candidates instead of the
    * corpus. Exact cosine + TopKPerGroup finish the job.
    *
    * Scale: candidate volume is Σ_buckets size² per table — and the
    * bits-per-table dial is TURNED, not just documented: bits =
    * [[adaptiveBits]](count, targetBucket), so expected bucket size
    * stays ≈ targetBucket and per-table candidate volume ≈
    * n × targetBucket (near-linear) as the corpus grows. The count()
    * driving the dial is one cheap metadata-ish job over the already-
    * projected frame. The per-vector top-k shuffles ≤ k rows per
    * partition through the bounded heaps. [rows-only]: spec measures
    * mean recall vs a driver-side exact graph; PlanAuditSpec guards
    * the candidate volume against quadratic collapse. */
  def s6KnnGraph(s: SparkSession, dir: String, k: Int = 5,
      targetBucket: Int = 64): DataFrame = {
    val e = Tables.spread(s, Tables.embeddings(s, dir))
      .select(col("vec_id"), col("embedding"))
    knnGraph(e, k, targetBucket)
  }

  /** The candidate-generation AND scoring core of [[knnGraph]] — the
    * ONE definition (adaptive bits from a corpus count, bucket explode
    * CARRYING vector + norm, same-bucket self-join that computes the
    * exact cosine inside the join, distinct (qid, cid, cos) rows). The
    * operator and its PlanAudit candidate-volume guard both call this,
    * so the guard can never drift from what the operator plans.
    *
    * Scoring INSIDE the bucket join is the load-bearing choice: the
    * first cut generated bare (qid, cid) pairs and joined embeddings
    * back per pair — at sf10 (80k vectors, ~25 MB > the broadcast
    * threshold) both neighbor joins planned as sort-merge joins that
    * SORTED the ~50M-pair list, the second with 256-byte vector
    * payloads attached: 150–300 s and GC-bound. Here the only wide
    * shuffle is the bucket rows themselves (n×tables vector copies,
    * linear in n); pairs leave the join as narrow (qid, cid, cos)
    * triples. Duplicate pairs from different tables produce the
    * identical double, so distinct collapses them exactly as the old
    * pair-level distinct did (NaN groups as equal in Spark distinct).
    * Measured min-of-3: sf10 149 s (solo, unstable to 298) → 13.7 s
    * (decade exponent 0.71); sf1 2.7 s and sf0.1 1.30 s, within noise
    * of the old shape — the cliff only existed where the vector frame
    * outgrew the broadcast threshold, which is exactly where 100 TB
    * lives. */
  private[graft] def scoredPairs(vectors: DataFrame,
      targetBucket: Int): DataFrame = {
    val e = vectors.select(col("vec_id"), col("embedding"))
    val n = e.count()
    val bits = adaptiveBits(n, targetBucket)
    // columnar bucket explode (HyperplaneBuckets + posexplode) — the
    // typed-flatMap form re-encoded the vector payload per bucket row
    // through per-element mapobjects, which dominated the whole
    // operator (see HyperplaneBuckets scaladoc; one mid-session s6
    // reading 15.7 → 5.0 s — the standing re-based s6 figure after
    // this + the shuffle_hash + in-join scoring changes is 13.7 s
    // at sf10, from 149–298 s before the r5 rework)
    //
    // The shuffle_hash build side is one PARTITION of this frame, so
    // its partition count must grow with the corpus or the hash
    // relation outgrows a task's execution-memory share (sf100, 800k
    // vectors: 16 tables × ~400 B/bucket-row ≈ 5 GB over the session's
    // 32 partitions = 160 MB builds → "Can't acquire memory to build
    // hash relation"). Size partitions for ~16 MB builds from the
    // count we already took; both join sides repartition identically
    // so ReuseExchange computes the explode shuffle once and the join
    // adds no further exchange. (t, bk) keys number tables × 2^bits ≫
    // partitions, so the hash partitioning stays balanced.
    val spark = vectors.sparkSession
    val defaultP = spark.sessionState.conf.numShufflePartitions
    val estBytes = n * Tables8 * (Dim * 4L + 144L)
    val parts = math.max(defaultP,
      math.min(4096L, estBytes / (16L << 20) + 1L).toInt)
    val b = e.select(col("vec_id").as("id"),
        posexplode(graft.functions.HyperplaneBuckets.col(col("embedding"), bits))
          .as(Seq("t", "bk")),
        col("embedding").as("vec"),
        sqrt(VectorOps.normSq(col("embedding"))).as("nrm"))
      .repartition(parts, col("t"), col("bk"))
    val cos = VectorOps.dot(col("eq"), col("ec")) / (col("qn") * col("cn"))
    // shuffle_hash: an equi-join keyed on (t, bk) whose build side is
    // the bucketed frame itself — hash-partition sizes are bounded by
    // the adaptive-bits bucket geometry, and skipping SMJ's two sorts
    // of the vector-payload bucket rows measured 20.5 → 11.0 s at sf10
    b.select(col("id").as("qid"), col("t"), col("bk"),
        col("vec").as("eq"), col("nrm").as("qn"))
      .join(b.select(col("id").as("cid"), col("t"), col("bk"),
          col("vec").as("ec"), col("nrm").as("cn")).hint("shuffle_hash"),
        Seq("t", "bk"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cos.as("cos"))
      // cross-table duplicate pairs are NOT deduped here: a distinct()
      // would shuffle the FULL candidate volume (sf100: ~10^9 rows,
      // disk-fatal single-node) only to discard all but k per vector.
      // Consumers dedup inside the bounded heaps (perKeyDistinct —
      // duplicate pairs carry the identical (cos, cid), so ord-equal
      // ⇒ identical row) or apply .distinct() when they truly need
      // the distinct pair SET (knnCandidateCount).
  }

  /** Generic core of [[s6KnnGraph]] over any (vec_id, embedding)
    * frame: [[scoredPairs]] + the bounded-heap per-vector top-k. */
  def knnGraph(vectors: DataFrame, k: Int = 5,
      targetBucket: Int = 64): DataFrame =
    graft.plans.TopKPerGroup.perKeyDistinct(scoredPairs(vectors, targetBucket),
        Seq(col("qid")), Seq(col("cos").desc, col("cid")), k)
      .select(col("qid"), col("cid"), round(col("cos"), 6).as("cos"),
        col("rank").as("rn"))
      .orderBy("qid", "rn")

  /** Distinct unordered candidate-pair count of [[scoredPairs]] —
    * the quantity the near-linear scale claim is about; used by the
    * PlanAudit quadratic-candidate guard. */
  private[graft] def knnCandidateCount(vectors: DataFrame,
      targetBucket: Int = 64): Long =
    scoredPairs(vectors, targetBucket)
      .filter(col("qid") < col("cid"))
      .distinct()
      .count()

  /** s3_ivf — IVF (inverted-file) ANN: KMeans partitions the corpus
    * into nlist=16 cells; each query probes only its nprobe=6 nearest
    * cells, so the scanned fraction is ~nprobe/nlist of the corpus
    * (nprobe is the recall/cost dial; 6/16 ≈ 0.6+ recall here because
    * this corpus's neighbors are weakly similar and scatter across
    * cells — tighter clusters probe fewer).
    *
    * Scale: the coarse quantizer (16×64 floats) is broadcast both ways —
    * corpus cell assignment is a narrow map, and the probe join is a
    * broadcast of (query × probed cell) against the cell-partitioned
    * corpus; recall vs s1 is spec-tested. */
  /** Memoized per-dir coarse-quantizer fit (16×64 centroids), shared
    * by [[s3Ivf]] and the literal-embedding oracle builder
    * ([[dynOracle]]) so both see the SAME model within one JVM (the
    * a1/a3 memo discipline; keyed on dir + data fingerprint so a
    * regenerated dir refits — ADVICE r6). */
  private val s3Cache =
    new scala.collection.concurrent.TrieMap[String, Array[Array[Double]]]

  def s3Centers(s: SparkSession, dir: String): Array[Array[Double]] =
    s3Cache.getOrElseUpdate(Tables.fingerprint(dir, "embeddings"), {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val corpus = Tables.spread(s, Tables.embeddings(s, dir))
        .select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") >= 5)
      // the coarse quantizer trains on a bounded deterministic sample
      // (standard IVF practice: ~100k vectors regardless of corpus
      // size) on few partitions — tiny data, and per-iteration task
      // overhead dominates the fit otherwise
      val n = corpus.count()
      val trainFrac = math.min(1.0, 100000.0 / math.max(n, 1L))
      val train = Sampling.uniform(corpus, col("vec_id"), trainFrac)
        .select(array_to_vector(col("embedding")).as("features"))
        .coalesce(8).cache()
      // random init: k-means|| spends ~2 extra passes (several jobs)
      // picking seeds — pointless for a coarse quantizer on a bounded
      // cached sample, where 10 Lloyd iterations converge either way
      val model = new KMeans().setK(16).setSeed(7L).setMaxIter(10)
        .setInitMode("random").fit(train)
      train.unpersistIf()
      model.clusterCenters.map(_.toArray)
    })

  def s3Ivf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.spread(s, Tables.embeddings(s, dir))
      .select(col("vec_id"), col("embedding"))
    val corpus = e.filter(col("vec_id") >= 5)
    val ctrs = s3Centers(s, dir)
    // corpus cell assignment is the n-scaled scan — native codegen
    // argmin (stable-sort take(1) ≡ first-wins); the probe side's
    // top-6-cell selection is the same family's NearestCellsIdx (r9:
    // the engine's last Scala UDF, converted — PlanAuditSpec now pins
    // zero-UDF-registrations-in-main as a source grep)
    val cells = corpus
      .withColumn("cell", GraftShim.column(
        graft.functions.NearestCentroidIdx(
          GraftShim.expression(col("embedding")), ctrs)))
      .select(col("vec_id").as("cid"), col("embedding").as("ec"), col("cell"))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("eq"),
        explode(GraftShim.column(graft.functions.NearestCellsIdx(
          GraftShim.expression(col("embedding")), ctrs, 6))).as("cell"))
    graft.plans.TopKPerGroup.perKey(
        cells.join(broadcast(probes), "cell")
          .withColumn("cos", VectorOps.cosine(col("eq"), col("ec"))),
        Seq(col("qid")), Seq(col("cos").desc, col("cid")), 10)
      .select(col("qid"), col("cid"), round(col("cos"), 6).as("cos"),
        col("rank").as("rn"))
      .orderBy("qid", "rn")
  }

  /** s4_ann_pq — product-quantized ANN (Jégou et al. 2011) with exact
    * refine: the corpus is compressed to m=8 sub-codes (32× smaller than
    * float32 — at 100 TB the PQ scan reads ~3 TB), queries carry a
    * per-query asymmetric-distance table (m×k dots against the
    * broadcast codebooks), candidate scoring is 8 table lookups per
    * pair, and the approximate top-50 is re-ranked by exact cosine
    * against the uncompressed vectors (a candidates-sized join) to the
    * final top-10.
    *
    * Codebooks fit driver-side on a bounded deterministic sample (KBs
    * of model, same regime as the IF/IVF fits); encode/scan/refine are
    * distributed narrow maps + one TopKPerGroup shuffle each.
    * [rows-only]: recall vs s1 is spec-tested. */
  /** Bounded-sample PQ codebook fit for [[annPq]] (m=8, k=16 — the
    * 32×-compression config its scaladoc describes). */
  def fitPq(corpus: DataFrame): ProductQuantizer = {
    val s = corpus.sparkSession
    import s.implicits._
    val n = corpus.count()
    val trainFrac = math.min(1.0, 20000.0 / math.max(n, 1L))
    val sample = Sampling.uniform(corpus, col("vec_id"), trainFrac)
      .select("embedding").as[Seq[Float]].collect().map(_.toArray)
    ProductQuantizer.fit(sample, m = 8, k = 16, iters = 10, seed = 11L)
  }

  /** Memoized per-dir PQ codebooks, shared by [[s4AnnPq]] and the
    * literal-embedding oracle builder ([[dynOracle]]) — same memo
    * discipline as [[s3Centers]]. */
  private val s4Cache =
    new scala.collection.concurrent.TrieMap[String, ProductQuantizer]

  def s4Quantizer(s: SparkSession, dir: String): ProductQuantizer =
    s4Cache.getOrElseUpdate(Tables.fingerprint(dir, "embeddings"), {
      fitPq(Tables.spread(s, Tables.embeddings(s, dir))
        .select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") >= 5))
    })

  def annPq(queries: DataFrame, corpus: DataFrame, k: Int = 10,
      shortlist: Int = 50, preFit: Option[ProductQuantizer] = None): DataFrame = {
    val s = corpus.sparkSession
    val pq = preFit.getOrElse(fitPq(corpus))
    // Per-query ADC tables are computed ONCE driver-side as flat
    // primitive arrays (queries are collect-bounded by the same
    // assumption that lets them broadcast at all) and ride the plan
    // as a reference object. The r5 form carried them behind a Scala
    // UDF — r7 moves encode/norm/ADC into native codegen expressions
    // (ModelExprs): same loops bit-for-bit, no converter-layer Seq
    // boxing on the scan (measured min-of-6 at sf0.1: see §9 of
    // `git show acf731b:SURVEY.md`).
    val kk = pq.k
    val qtabFlat: Map[Long, Array[Double]] = queries
      .select(col("vec_id"), col("embedding")).collect().map { r =>
        val tab = pq.dotTable(r.getSeq[Float](1))
        val flat = new Array[Double](pq.m * kk)
        var si = 0
        while (si < pq.m) {
          System.arraycopy(tab(si), 0, flat, si * kk, kk); si += 1
        }
        r.getLong(0) -> flat
      }.toMap
    val adcTabs = new graft.functions.AdcTables(qtabFlat, kk)
    def expr(c: org.apache.spark.sql.Column) = GraftShim.expression(c)
    // the PQ scan sees ONLY the compressed representation: 8 code bytes
    // + a cached approximate norm per corpus vector
    val codes = corpus
      .select(col("vec_id").as("cid"), GraftShim.column(
        graft.functions.PqEncode(expr(col("embedding")), pq)).as("code"))
      .withColumn("cn_pq", GraftShim.column(
        graft.functions.PqCodeNorm(expr(col("code")), pq)))
    val qtabs = queries
      .select(col("vec_id").as("qid"), col("embedding").as("eq"),
        sqrt(VectorOps.normSq(col("embedding"))).as("qn"))
    val approx = codes.join(broadcast(qtabs))
      .withColumn("acos", GraftShim.column(graft.functions.PqAdcDot(
          expr(col("qid")), expr(col("code")), adcTabs))
        / (col("qn") * col("cn_pq")))
    val short = graft.plans.TopKPerGroup.perKey(
        approx, Seq(col("qid")), Seq(col("acos").desc, col("cid")), shortlist)
      .select("qid", "cid", "eq", "qn")
    // exact re-rank of the shortlist against the uncompressed vectors
    val exact = short
      .join(corpus.select(col("vec_id").as("cid"), col("embedding").as("ec")), "cid")
      .withColumn("cos",
        VectorOps.dot(col("eq"), col("ec"))
          / (col("qn") * sqrt(VectorOps.normSq(col("ec")))))
    graft.plans.TopKPerGroup.perKey(
        exact, Seq(col("qid")), Seq(col("cos").desc, col("cid")), k)
      .select(col("qid"), col("cid"), round(col("cos"), 6).as("cos"),
        col("rank").as("rn"))
      .orderBy("qid", "rn")
  }

  /** s4_ann_pq — [[annPq]] on the embeddings table (queries = vec_id < 5,
    * corpus = everything else). */
  def s4AnnPq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.spread(s, Tables.embeddings(s, dir))
      .select(col("vec_id"), col("embedding"))
    annPq(e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
      preFit = Some(s4Quantizer(s, dir)))
  }

  import OracleLit.{dlit, r6, sqDistChain, dotLitChain, dotColChain, normSqChain}

  /** Literal-embedding DuckDB oracles for the ANN model-fit operators
    * (the a1/a3 contract, r7): the memoized fitted model — s3's 16×64
    * coarse centroids, s4's 8×16×8 codebooks — embeds as SQL literals;
    * DuckDB independently replays EVERYTHING downstream of the fit:
    * s3's probe-cell selection, corpus cell assignment, cosine, and
    * top-k; s4's per-subspace encode, ADC table dots, approximate
    * shortlist, exact re-rank, and top-k. Converted from [rows-only]
    * (the recall-spec-only regime) in r7. */
  def dynOracle(s: SparkSession, dir: String): Map[String, String] = Map(
    "s2_ann_lsh" -> s2OracleSql(s, dir),
    "s6_knn_graph" -> s6OracleSql(s, dir),
    "s3_ivf" -> s3OracleSql(s, dir),
    "s4_ann_pq" -> s4OracleSql(s, dir))

  /** Shared literal-hyperplane SQL pieces for s2/s6: per (table, bit)
    * the bucket contribution is 2^b·[Σ plane·v ≥ 0] with the exact
    * left-fold dot of HyperplaneBuckets.compute. */
  private def lshBucketExpr(emb: String, t: Int, bits: Int): String = {
    val hp = graft.functions.HyperplaneBuckets.planes
    (0 until bits).map { b =>
      val dot = hp(t)(b).zipWithIndex.map { case (p, i) =>
        s"${dlit(p)} * CAST($emb[${i + 1}] AS DOUBLE)"
      }.mkString(" + ")
      s"(CASE WHEN ($dot) >= 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString(" + ")
  }

  private def lshArms(src: String, idAs: String, vecAs: String,
      bits: Int): String =
    (0 until graft.functions.HyperplaneBuckets.Tables8).map { t =>
      s"SELECT $idAs, $vecAs, nrm, $t AS t, " +
        s"${lshBucketExpr(vecAs, t, bits)} AS bk FROM $src"
    }.mkString("\n  UNION ALL ")

  /** s6's kNN graph replayed whole from the literal planes: adaptive
    * bits re-derived from the same corpus count the operator takes,
    * all-vector bucket arms on both sides, same-bucket self-join with
    * qid ≠ cid, DISTINCT (qid, cid, cos) (the perKeyDistinct
    * contract — cross-table duplicates carry the identical double),
    * per-vector top-5. Like s2, nothing here is data-fitted: DuckDB
    * replays the ENTIRE operator. */
  private def s6OracleSql(sp: SparkSession, dir: String): String = {
    val dim = graft.functions.HyperplaneBuckets.Dim
    val n = Tables.embeddings(sp, dir).count()
    val bits = adaptiveBits(n, 64)
    s"""WITH v AS (
       |  SELECT vec_id, embedding,
       |    SQRT(${normSqChain("embedding", dim)}) AS nrm
       |  FROM embeddings
       |),
       |b AS (
       |  ${lshArms("v", "vec_id", "embedding", bits)}
       |),
       |scored AS (
       |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid,
       |    (${dotColChain("q.embedding", "c.embedding", dim)})
       |      / (q.nrm * c.nrm) AS cos
       |  FROM b q JOIN b c ON q.t = c.t AND q.bk = c.bk
       |  WHERE q.vec_id <> c.vec_id
       |)
       |SELECT qid, cid, ${r6("cos")} AS cos, CAST(rn AS INTEGER) AS rn
       |FROM (SELECT qid, cid, cos,
       |        ROW_NUMBER() OVER (PARTITION BY qid
       |                           ORDER BY cos DESC, cid) AS rn
       |      FROM scored) z
       |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
  }

  /** s2's plan in SQL from the literal hyperplane model (r7): per
    * table t, bucket = Σ_b 2^b·[dot(plane_tb, v) ≥ 0] with the exact
    * left-fold dot (HyperplaneBuckets.compute); candidates join on
    * (t, bucket), cross-table duplicate pairs collapse via DISTINCT
    * (they carry the identical deterministic cosine — the
    * perKeyDistinct contract), then the per-query top-10. The planes
    * are seeded constants, so unlike a1/a3/s3/s4/a7 this oracle's
    * "model" is not data-fitted at all — DuckDB replays the ENTIRE
    * operator. */
  private def s2OracleSql(sp: SparkSession, dir: String): String = {
    val dim = graft.functions.HyperplaneBuckets.Dim
    val bits = 4 // s2's fixed Bits dial
    def arms(src: String, idAs: String, vecAs: String): String =
      lshArms(src, idAs, vecAs, bits)
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS eq,
       |    SQRT(${normSqChain("embedding", dim)}) AS nrm
       |  FROM embeddings WHERE vec_id < 5
       |),
       |c AS (
       |  SELECT vec_id AS cid, embedding AS ec,
       |    SQRT(${normSqChain("embedding", dim)}) AS nrm
       |  FROM embeddings WHERE vec_id >= 5
       |),
       |qb AS (
       |  ${arms("q", "qid", "eq")}
       |),
       |cb AS (
       |  ${arms("c", "cid", "ec")}
       |),
       |scored AS (
       |  SELECT DISTINCT qb.qid, cb.cid,
       |    (${dotColChain("qb.eq", "cb.ec", dim)}) / (qb.nrm * cb.nrm) AS cos
       |  FROM cb JOIN qb ON cb.t = qb.t AND cb.bk = qb.bk
       |)
       |SELECT qid, cid, ${r6("cos")} AS cos, CAST(rn AS INTEGER) AS rn
       |FROM (SELECT qid, cid, cos,
       |        ROW_NUMBER() OVER (PARTITION BY qid
       |                           ORDER BY cos DESC, cid) AS rn
       |      FROM scored) z
       |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin
  }

  /** s3's plan in SQL: query probe cells by rank over the 16 literal-
    * centroid distances (ORDER BY d, cell — the UDF's stable sort),
    * corpus cell = first-wins argmin (the a3 CASE ladder), then cosine
    * (VecCosine's dot/(√na·√nb), explicit left-associated chains) over
    * probe-matched cells and the per-query top-10. */
  private def s3OracleSql(s: SparkSession, dir: String): String = {
    val centers = s3Centers(s, dir)
    val dim = centers.head.length
    val corpusD = centers.zipWithIndex.map { case (c, ci) =>
      s"${sqDistChain("embedding", c)} AS d$ci" }
    val ds = centers.indices.map(i => s"d$i").mkString(", ")
    val arms = centers.indices.map(i => s"WHEN d$i = b THEN $i").mkString(" ")
    val qdArms = centers.zipWithIndex.map { case (c, ci) =>
      s"SELECT qid, $ci AS cell, ${sqDistChain("embedding", c)} AS d FROM q"
    }.mkString("\n  UNION ALL ")
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 5
       |),
       |qd AS (
       |  $qdArms
       |),
       |probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT qid, cell,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, cell) AS r
       |    FROM qd) t
       |  WHERE r <= 6
       |),
       |cells AS (
       |  SELECT cid, ec, CASE $arms END AS cell FROM (
       |    SELECT cid, ec, $ds, LEAST($ds) AS b FROM (
       |      SELECT vec_id AS cid, embedding AS ec,
       |        ${corpusD.mkString(",\n        ")}
       |      FROM embeddings WHERE vec_id >= 5))
       |),
       |cand AS (
       |  SELECT p.qid, c.cid,
       |    (${dotColChain("q.embedding", "c.ec", dim)})
       |      / (SQRT(${normSqChain("q.embedding", dim)})
       |         * SQRT(${normSqChain("c.ec", dim)})) AS cos
       |  FROM probes p JOIN q USING (qid) JOIN cells c ON p.cell = c.cell
       |)
       |SELECT qid, cid, ${r6("cos")} AS cos, CAST(rn AS INTEGER) AS rn
       |FROM (SELECT qid, cid, cos,
       |        ROW_NUMBER() OVER (PARTITION BY qid
       |                           ORDER BY cos DESC, cid) AS rn
       |      FROM cand) z
       |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin
  }

  /** s4's plan in SQL: per-subspace encode as first-wins argmin over
    * the 16 literal sub-centroids; ‖code‖² via the per-(s,c) partial
    * norms (ProductQuantizer.centroidNormSq's loop, precomputed as
    * literals — the outer 8-term sum replays normSq's fold exactly);
    * ADC = Σ_s CASE-ladder dot(q_s, codeword) (dotTable's chains);
    * approximate top-`shortlist`, then the exact cosine re-rank. */
  private def s4OracleSql(sp: SparkSession, dir: String): String = {
    val pq = s4Quantizer(sp, dir)
    val dim = pq.m * pq.subDim
    val dExprs = for (s <- 0 until pq.m; c <- 0 until pq.k) yield
      s"${sqDistChain("embedding", pq.codebooks(s)(c), s * pq.subDim)} AS d${s}_$c"
    val bExprs = (0 until pq.m).map { s =>
      val ds = (0 until pq.k).map(c => s"d${s}_$c").mkString(", ")
      s"LEAST($ds) AS b$s"
    }
    val codeExprs = (0 until pq.m).map { s =>
      val arms = (0 until pq.k).map(c => s"WHEN d${s}_$c = b$s THEN $c")
        .mkString(" ")
      s"CASE $arms END AS c$s"
    }
    val cnTerms = (0 until pq.m).map { s =>
      val arms = (0 until pq.k)
        .map(c => s"WHEN $c THEN ${dlit(pq.centroidNormSq(s, c))}")
        .mkString(" ")
      s"CASE c$s $arms END"
    }.mkString(" + ")
    val adcTerms = (0 until pq.m).map { s =>
      val arms = (0 until pq.k).map { c =>
        s"WHEN $c THEN ${dotLitChain("q.eq", pq.codebooks(s)(c), s * pq.subDim)}"
      }.mkString(" ")
      s"CASE e.c$s $arms END"
    }.mkString("\n      + ")
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS eq,
       |    SQRT(${normSqChain("embedding", dim)}) AS qn
       |  FROM embeddings WHERE vec_id < 5
       |),
       |enc AS (
       |  SELECT cid, ${codeExprs.mkString(",\n    ")} FROM (
       |    SELECT cid, ${(0 until pq.m).flatMap(s =>
                (0 until pq.k).map(c => s"d${s}_$c")).mkString(", ")},
       |      ${bExprs.mkString(",\n      ")}
       |    FROM (
       |      SELECT vec_id AS cid,
       |        ${dExprs.mkString(",\n        ")}
       |      FROM embeddings WHERE vec_id >= 5))
       |),
       |sc AS (
       |  SELECT cid, ${(0 until pq.m).map(s => s"c$s").mkString(", ")},
       |    SQRT($cnTerms) AS cn_pq
       |  FROM enc
       |),
       |approx AS (
       |  SELECT q.qid, e.cid, q.eq, q.qn,
       |    ($adcTerms) / (q.qn * e.cn_pq) AS acos
       |  FROM sc e CROSS JOIN q
       |),
       |short AS (
       |  SELECT qid, cid, eq, qn FROM (
       |    SELECT qid, cid, eq, qn,
       |      ROW_NUMBER() OVER (PARTITION BY qid
       |                         ORDER BY acos DESC, cid) AS r
       |    FROM approx) t
       |  WHERE r <= 50
       |),
       |exact AS (
       |  SELECT s.qid, s.cid,
       |    (${dotColChain("s.eq", "e.embedding", dim)})
       |      / (s.qn * SQRT(${normSqChain("e.embedding", dim)})) AS cos
       |  FROM short s JOIN embeddings e ON e.vec_id = s.cid
       |)
       |SELECT qid, cid, ${r6("cos")} AS cos, CAST(rn AS INTEGER) AS rn
       |FROM (SELECT qid, cid, cos,
       |        ROW_NUMBER() OVER (PARTITION BY qid
       |                           ORDER BY cos DESC, cid) AS rn
       |      FROM exact) z
       |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "s1_ann_brute" ->
      """WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |            generate_subscripts(embedding, 1) AS i FROM embeddings),
        |nrm AS (SELECT vec_id, sqrt(SUM(x * x)) AS n FROM ex GROUP BY vec_id),
        |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid, SUM(q.x * c.x) AS dot
        |         FROM ex q JOIN ex c ON q.i = c.i
        |         WHERE q.vec_id < 5 AND c.vec_id >= 5
        |         GROUP BY q.vec_id, c.vec_id),
        |scored AS (SELECT qid, cid, dot / (nq.n * nc.n) AS cos
        |           FROM dots JOIN nrm nq ON dots.qid = nq.vec_id
        |                     JOIN nrm nc ON dots.cid = nc.vec_id)
        |SELECT qid, cid, COALESCE(CAST(TRY_CAST(CAST(cos AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), cos) AS cos, CAST(rn AS INTEGER) AS rn
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |                                   ORDER BY cos DESC, cid) AS rn
        |      FROM scored) t
        |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin,
    "s5_filtered_ann" ->
      """WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |            generate_subscripts(embedding, 1) AS i FROM embeddings),
        |nrm AS (SELECT vec_id, sqrt(SUM(x * x)) AS n FROM ex GROUP BY vec_id),
        |lab AS (SELECT vec_id, label FROM embeddings),
        |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid, SUM(q.x * c.x) AS dot
        |         FROM ex q JOIN ex c ON q.i = c.i
        |         JOIN lab ql ON ql.vec_id = q.vec_id
        |         JOIN lab cl ON cl.vec_id = c.vec_id
        |         WHERE q.vec_id < 5 AND c.vec_id >= 5 AND ql.label = cl.label
        |         GROUP BY q.vec_id, c.vec_id),
        |scored AS (SELECT qid, ql.label AS lbl, cid, dot / (nq.n * nc.n) AS cos
        |           FROM dots JOIN nrm nq ON dots.qid = nq.vec_id
        |                     JOIN nrm nc ON dots.cid = nc.vec_id
        |                     JOIN lab ql ON ql.vec_id = dots.qid)
        |SELECT qid, lbl, cid, COALESCE(CAST(TRY_CAST(CAST(cos AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), cos) AS cos, CAST(rn AS INTEGER) AS rn
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |                                   ORDER BY cos DESC, cid) AS rn
        |      FROM scored) t
        |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin,
    "s8_range_search" ->
      """WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |            generate_subscripts(embedding, 1) AS i FROM embeddings),
        |nrm AS (SELECT vec_id, sqrt(SUM(x * x)) AS n FROM ex GROUP BY vec_id),
        |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid, SUM(q.x * c.x) AS dot
        |         FROM ex q JOIN ex c ON q.i = c.i
        |         WHERE q.vec_id < 5 AND c.vec_id >= 5
        |         GROUP BY q.vec_id, c.vec_id),
        |scored AS (SELECT qid, cid, COALESCE(CAST(TRY_CAST(CAST(dot / (nq.n * nc.n) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), dot / (nq.n * nc.n)) AS cos
        |           FROM dots JOIN nrm nq ON dots.qid = nq.vec_id
        |                     JOIN nrm nc ON dots.cid = nc.vec_id)
        |SELECT qid, cid, cos FROM scored
        |WHERE cos >= 0.25 ORDER BY qid, cid""".stripMargin,
    "s7_hard_negatives" ->
      """WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |            generate_subscripts(embedding, 1) AS i FROM embeddings),
        |nrm AS (SELECT vec_id, sqrt(SUM(x * x)) AS n FROM ex GROUP BY vec_id),
        |lab AS (SELECT vec_id, label FROM embeddings),
        |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid, SUM(q.x * c.x) AS dot
        |         FROM ex q JOIN ex c ON q.i = c.i
        |         JOIN lab ql ON ql.vec_id = q.vec_id
        |         JOIN lab cl ON cl.vec_id = c.vec_id
        |         WHERE q.vec_id < 5 AND c.vec_id >= 5 AND ql.label <> cl.label
        |         GROUP BY q.vec_id, c.vec_id),
        |scored AS (SELECT qid, ql.label AS qlbl, cid, cl.label AS clbl,
        |             dot / (nq.n * nc.n) AS cos
        |           FROM dots JOIN nrm nq ON dots.qid = nq.vec_id
        |                     JOIN nrm nc ON dots.cid = nc.vec_id
        |                     JOIN lab ql ON ql.vec_id = dots.qid
        |                     JOIN lab cl ON cl.vec_id = dots.cid)
        |SELECT qid, qlbl, cid, clbl, COALESCE(CAST(TRY_CAST(CAST(cos AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), cos) AS cos,
        |  CAST(rn AS INTEGER) AS rn
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |                                   ORDER BY cos DESC, cid) AS rn
        |      FROM scored) t
        |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin
  )
}

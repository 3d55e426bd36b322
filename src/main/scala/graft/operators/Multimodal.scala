package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Exec._

/** Binary payload + typed metadata row (the multimodal column shape). */
case class BinDoc(doc_id: Long, payload: Array[Byte])

/** Extracted (stub) feature row. */
case class BinFeat(doc_id: Long, n_bytes: Int, mean_byte: Double,
    max_byte: Int, feat_hash: Long)

/** Per-sampled-frame (stub) feature row. */
case class FrameFeat(doc_id: Long, frame_idx: Int, offset: Int,
    mean_byte: Double, frame_hash: Long)

/** Multimodal-column plumbing (SURVEY.md §2.G): treat media as opaque
  * `binary` columns with typed metadata, and run "decode → feature
  * extract" as batched per-partition processing. The container has no
  * image/audio codecs, so the decode step is a clearly-marked
  * deterministic stub — the Spark-side shape (binary column, schema,
  * partition batching, feature output) is real and tested.
  */
object Multimodal {

  /** STUB decode: stands in for an image/audio decoder. Deterministic
    * byte statistics so specs can assert exact values — and every piece
    * is engine-portable so m1/m3 face the full DuckDB hash oracle: the
    * mean is ONE IEEE division of exact integers (no rounding — both
    * engines' correctly-rounded `/` agree bit-for-bit), and the
    * fingerprint is [[PortableHash]]'s md5-prefix-15 taken over the
    * UPPERCASE hex encoding of the bytes (DuckDB's `md5` only accepts
    * VARCHAR, and `hex()` is uppercase in both engines). */
  private[graft] def decodeStub(payload: Array[Byte]): (Double, Int, Long) = {
    var sum = 0L
    var mx = 0
    payload.foreach { b =>
      val u = b & 0xff
      sum += u
      if (u > mx) mx = u
    }
    val mean = if (payload.isEmpty) 0.0 else sum.toDouble / payload.length
    (mean, mx, md5Prefix15(payload))
  }

  private val HexDigits = "0123456789ABCDEF".toCharArray

  /** JVM twin of `('0x'||substr(md5(hex(payload)),1,15))::BIGINT`. */
  private[graft] def md5Prefix15(payload: Array[Byte]): Long = {
    val hx = new Array[Byte](payload.length * 2)
    var i = 0
    while (i < payload.length) {
      val u = payload(i) & 0xff
      hx(2 * i) = HexDigits(u >> 4).toByte
      hx(2 * i + 1) = HexDigits(u & 0xf).toByte
      i += 1
    }
    val digest = java.security.MessageDigest.getInstance("MD5").digest(hx)
    // first 15 hex chars = first 7.5 bytes — take 60 bits big-endian
    var h = 0L
    var j = 0
    while (j < 7) { h = (h << 8) | (digest(j) & 0xffL); j += 1 }
    (h << 4) | ((digest(7) & 0xf0L) >> 4)
  }

  /** Shared stub "decode": L1-normalized 8-bin byte-range histogram
    * (stands in for decoded-image features; deterministic). Each bin is
    * ONE IEEE division of exact integers (bin count / payload length) —
    * correctly rounded identically by any engine, so m2 faces the full
    * DuckDB hash oracle like m1/m3 (no intermediate rounding to drift). */
  private[graft] def hist8(payload: Array[Byte]): Array[Double] = {
    val hist = new Array[Double](8)
    payload.foreach { b => hist((b & 0xff) >> 5) += 1.0 }
    val n = math.max(payload.length, 1)
    hist.map(_ / n)
  }

  private[graft] val HistBins = 64
  private[graft] val PercepBands = 4
  private[graft] val BandBits = 16
  /** df-cap on a (band, chunk) bucket: a degenerate signature value
    * (e.g. a corpus of identical-template payloads) is dropped from
    * candidate generation instead of going quadratic — the
    * MaxShingleDf discipline from Dedup. */
  private[graft] val MaxBucket = 1000

  /** STUB decode to a discriminative feature vector: every 4-byte
    * window of the payload is FNV-hashed into one of 64 bins, then the
    * histogram is L1-normalized. Stands in for decoded-image gradient
    * features. Unlike a raw byte-range histogram (which is nearly
    * constant across same-alphabet payloads, e.g. ASCII text), the
    * windowed-content histogram varies with payload CONTENT, while a
    * small perturbation moves only the few windows that overlap it —
    * exactly the locality a perceptual feature needs.
    *
    * Every bin is ONE IEEE division of exact integers (window count /
    * total windows) — no intermediate rounding — so the histogram, the
    * dHash sign pattern over it, and the L1 distances downstream are
    * all bit-identical in any engine that replays the definition
    * (DuckDB does, for the m4/m5 oracles: FNV's wraparound multiply is
    * HUGEINT arithmetic mod 2⁶⁴ there). */
  private[graft] def contentHist(payload: Array[Byte]): Array[Double] = {
    val hist = new Array[Double](HistBins)
    var n = 0
    if (payload.length < 4) {
      payload.foreach { b => hist((b & 0xff) % HistBins) += 1.0; n += 1 }
    } else {
      var i = 0
      while (i + 4 <= payload.length) {
        var h = 1469598103934665603L
        var j = i
        while (j < i + 4) { h = (h ^ (payload(j) & 0xff)) * 1099511628211L; j += 1 }
        hist(((h >>> 16) & (HistBins - 1)).toInt) += 1.0
        i += 1; n += 1
      }
    }
    val d = math.max(n, 1)
    var k = 0
    while (k < HistBins) { hist(k) = hist(k) / d; k += 1 }
    hist
  }

  /** 64-bit difference-hash over the feature histogram: bit i set when
    * hist(i) > hist((i+1) mod 64) — the gradient-sign pattern of dHash
    * (the classic perceptual image hash), which survives small payload
    * perturbations that shift absolute bin mass but not bin ORDER. */
  private[graft] def dhash64(hist: Array[Double]): Long = {
    var out = 0L
    var i = 0
    while (i < HistBins) {
      if (hist(i) > hist((i + 1) % HistBins)) out |= (1L << i)
      i += 1
    }
    out
  }

  /** m4_percep_dedup — perceptual near-dup pairs over media payloads:
    * stub-decode each payload to a 64-bin content histogram, take its
    * 64-bit gradient dHash, band the signature 4×16 (d4's SimHash
    * discipline — candidates must share at least one exact 16-bit
    * band), and exact-verify candidates by feature L1 distance ≤
    * `maxL1`. This composes the §2.G decode plumbing with the §2.D
    * dedup machinery — the "same image, different encode" case
    * byte-exact dedup (d1) structurally misses, in the shape every
    * image-corpus pipeline runs (pHash/dHash banding + verify).
    *
    * Scale: signature computation is a narrow map; candidates come
    * from an equi-join on (band, chunk) with a [[MaxBucket]] df-cap,
    * so a degenerate signature value cannot go quadratic — candidate
    * volume is Σ_buckets size² ≤ MaxBucket × n per band, never n².
    * (The round-3 7-bit histogram signature collapsed on same-alphabet
    * payloads — 97.8% of all pairs emitted; the 64-bit banded form +
    * content-seeded features is the fix the r3 verdict prescribed.)
    * With real images swap [[contentHist]] for decoded-gradient
    * features; plan shape unchanged. [sql-oracle]: every stage is
    * engine-portable ([[contentHist]], [[percepCte]]), so DuckDB
    * replays the whole pipeline — FNV windows to banded candidates to
    * L1 verify — bit-for-bit; the spec additionally asserts
    * driver-recompute equality, that byte-identical payloads always
    * pair at l1 = 0, and that candidate volume stays ≪ n²/2. */
  def m4PercepDedup(s: SparkSession, dir: String,
      maxL1: Double = 0.05): DataFrame =
    percepPairs(
      Tables.spread(s, Tables.documents(s, dir))
        .select(col("doc_id"), col("text").cast("binary").as("payload")),
      maxL1)

  /** The band rows of [[percepPairs]] — the ONE definition of the
    * signature banding (content hist → 64-bit dHash → PercepBands ×
    * BandBits chunks), with the histogram carried along. The operator
    * and the PlanAudit candidate-volume guard both build on this, so
    * the guard can never drift from what the operator plans. */
  private def bandRows(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val mask = (1L << BandBits) - 1
    docs.select(col("doc_id"), col("payload"))
      .as[BinDoc]
      .flatMap { d =>
        val h = contentHist(d.payload)
        val sig = dhash64(h)
        val hs = h.toSeq
        (0 until PercepBands).map(i =>
          (d.doc_id, i, (sig >>> (i * BandBits)) & mask, hs))
      }
      .toDF("doc_id", "band", "chunk", "hist")
  }

  /** [[MaxBucket]] df-cap over band rows: the bucket-count frame is
    * bounded by construction (≤ PercepBands × 2^BandBits rows), so it
    * applies as a BROADCAST semi-join, never a shuffle. */
  private def capBuckets(bands: DataFrame): DataFrame =
    bands.join(broadcast(
      bands.groupBy("band", "chunk").count()
        .filter(col("count") <= MaxBucket)
        .select("band", "chunk")),
      Seq("band", "chunk"))

  /** Generic core of [[m4PercepDedup]] over any (doc_id, payload)
    * frame.
    *
    * Plan shape (stage-lean on purpose — the first cut of this op
    * burned ~3 s of pure stage overhead in extra joins): ONE typed
    * flatMap emits the band rows with the histogram carried along
    * (hist is 64 doubles ≈ 0.5 KB — cheaper to ship 4× than to join
    * back twice); the df-cap applies as a broadcast semi-join
    * ([[capBuckets]]); the self-join scores L1 inline on each
    * collision and one groupBy dedups multi-band pairs. Total: one
    * agg, one shuffle self-join, one pair groupBy.
    *
    * The L1 is [[graft.functions.VecL1D]], a fused codegen loop
    * bit-equal to the aggregate(zip_with(..)) HOF it replaced — the
    * HOF interpreted two lambdas and materialized a zipped array per
    * candidate pair, and was the dominant cost of the whole operator:
    * swapping it measured m4 55→4.1 s and m5 48→4.1 s at sf10
    * (min-of-2), 1.55→1.04 / 2.59→1.73 s at sf0.1 (min-of-3). */
  def percepPairs(docs: DataFrame, maxL1: Double = 0.05): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // cached: feeds the bucket-count agg and both self-join sides
    val bands = bandRows(docs).cache()
    val kept = capBuckets(bands)
    val x = kept.select(col("band"), col("chunk"),
      col("doc_id").as("a"), col("hist").as("ha"))
    val y = kept.select(col("band"), col("chunk"),
      col("doc_id").as("b"), col("hist").as("hb"))
    // codegen'd fused loop, bit-equal to the aggregate(zip_with(..))
    // fold the oracle states (same abs-then-add, same index order)
    val l1 = graft.functions.VectorOps.l1d(col("ha"), col("hb"))
    val out = x.join(y, Seq("band", "chunk"))
      .filter(col("a") < col("b"))
      .withColumn("l1", l1)
      .filter(col("l1") <= maxL1)
      // a pair sharing several bands collides once per band — same l1
      // every time; min() is just the dedup (no rounding: the raw
      // fold-order sum is already engine-portable, see contentHist)
      .groupBy("a", "b").agg(min(col("l1")).as("l1"))
      .orderBy("a", "b")
      .finishIf()
    bands.unpersistIf()
    out
  }

  /** m5_percep_clusters — perceptual duplicate GROUPS: m4's verified
    * pair list resolved into connected components
    * ([[Dedup.connectedComponents]] — the same resolver d8 runs on
    * text pairs), each member mapped
    * to its cluster's min-id keeper. Pairwise output alone cannot
    * make a drop decision when A~B~C but A≁C; this is that decision
    * layer for the media side of the corpus, composed entirely from
    * §2.D machinery — one pair-list swap and the whole dedup stack
    * (clusters, keeper policies, soft weights) applies to images.
    *
    * Scale: m4's candidate volume is df-capped (never all-pairs);
    * the pair list resolves on the driver up to
    * [[Dedup.MaxDriverEdges]] pairs and through O(log diameter)
    * equi-join rounds on pair ids above it — either way the cost
    * tracks the PAIR list, not the corpus. [sql-oracle]: d8's
    * recursive-reachability CTE over m4's replayed pair list; the spec
    * additionally pins cluster = transitive closure of m4's pairs
    * recomputed driver-side, keeper = min id. */
  def m5PercepClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
        m4PercepDedup(s, dir).select(col("a"), col("b")))
      .select(col("v").as("doc_id"), col("lbl").as("cluster"))
      .orderBy("doc_id")

  /** Candidate-pair count of [[percepPairs]]'s banding stage (before
    * the L1 verify) — the quantity the scale claim is about; exposed
    * for the PlanAudit quadratic-candidate guard. */
  private[graft] def percepCandidateCount(docs: DataFrame): Long = {
    val kept = capBuckets(bandRows(docs)).select("doc_id", "band", "chunk")
    kept.as("x").join(kept.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
      .count()
  }

  /** m2_feature_stub — the batched "decode → feature vector" shape of a
    * media pipeline: payloads are processed in fixed-size batches inside
    * each partition (the Scala analogue of a mapInPandas Arrow batch),
    * and each batch yields per-item fixed-width feature vectors. The
    * decoder is a clearly-marked deterministic STUB (no codecs in the
    * container); the batch plumbing — schema, batch size, partition
    * locality, vector output — is real.
    *
    * Scale: narrow mapPartitions, no shuffle; batch size bounds peak
    * memory per task exactly as Arrow batch size does for Pandas UDFs.
    *
    * The feature vector is emitted as fixed-width scalar columns f0..f7
    * (not one array column): downstream tabular consumers — including
    * the driver's pandas-side rows check, which can't sort/hash ndarray
    * cells — expect flat columns, and a fixed-dim feature is exactly a
    * fixed set of columns.
    *
    * [sql-oracle]: the features are engine-portable (exact bin counts,
    * one IEEE division each — [[hist8]]), so DuckDB replays the decode
    * from `hex(encode(text))` byte slices. The per-batch size is NOT in
    * the output — batch membership depends on partition layout, which
    * no other engine can replay; the batching bound is spec-pinned on
    * [[m2Batched]] instead. */
  def m2FeatureStub(s: SparkSession, dir: String, batchSize: Int = 64): DataFrame =
    m2Batched(s, dir, batchSize).drop("batch_n").orderBy("doc_id")

  /** m2 core with the per-batch size exposed: the spec asserts every
    * batch holds 1..batchSize items on THIS frame; the public op
    * projects `batch_n` away (partition-layout-dependent, so it can't
    * face a cross-engine oracle — the features can). */
  private[graft] def m2Batched(s: SparkSession, dir: String,
      batchSize: Int): DataFrame = {
    import s.implicits._
    val dims = 8
    Tables.spread(s, Tables.documents(s, dir))
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[BinDoc]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // STUB decode: stands in for e.g. JPEG decode + CNN features.
          // 8-dim feature = byte-range histogram, L1-normalized (hist8).
          batch.map { d =>
            (d.doc_id, batch.size, hist8(d.payload).toSeq)
          }
        }
      }
      .toDF("doc_id", "batch_n", "features")
      .select(col("doc_id") +: col("batch_n") +:
        (0 until dims).map(i => col("features")(i).as(s"f$i")): _*)
  }

  /** m3_frame_sample — the video-pipeline "sample n frames evenly, then
    * extract per-frame features" shape: deterministic even-stride
    * offsets over the binary payload (first frame at byte 0, last
    * flush with the tail), a fixed-size window per frame, and one
    * output row per (doc, frame). The frame "decode" is the same
    * clearly-marked stub as m1/m2; the sampling arithmetic, explode
    * shape, and schema are real.
    *
    * Scale: narrow flatMap — output is nFrames rows per doc regardless
    * of payload size, so downstream feature joins see bounded fan-out
    * and no shuffle happens here at all. [sql-oracle]: the stride
    * arithmetic is integer-exact and the per-frame stats are portable
    * ([[decodeStub]]), so DuckDB replays the sampling over hex slices. */
  def m3FrameSample(s: SparkSession, dir: String, nFrames: Int = 4,
      frameBytes: Int = 64): DataFrame = {
    import s.implicits._
    Tables.spread(s, Tables.documents(s, dir))
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[BinDoc]
      .flatMap { d =>
        val len = d.payload.length
        val n = math.min(nFrames, math.max(1, len / frameBytes))
        (0 until n).iterator.map { i =>
          val off = if (n == 1) 0
            else ((len - frameBytes).toLong * i / (n - 1)).toInt
          val frame = d.payload.slice(off, math.min(off + frameBytes, len))
          val (mean, _, h) = decodeStub(frame)
          FrameFeat(d.doc_id, i, off, mean, h)
        }
      }
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  /** m1_binary_meta — binary payload column + per-partition batched
    * feature extraction (mapPartitions = the Scala shape of a
    * mapInPandas batch UDF). [sql-oracle]: every stub feature is
    * engine-portable (exact integer stats, one IEEE division, md5
    * fingerprint — see [[decodeStub]]), so DuckDB replays the whole
    * decode byte-for-byte from `hex(encode(text))`. */
  def m1BinaryMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[BinDoc]
      .mapPartitions { it =>
        it.map { d =>
          val (mean, mx, h) = decodeStub(d.payload)
          BinFeat(d.doc_id, d.payload.length, mean, mx, h)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** DuckDB oracles for the deterministic stub-decode ops: rebuild the
    * byte stream as `hex(encode(text))` and replay [[decodeStub]] —
    * 2-hex-char slices are the bytes, `list_sum`/`list_max` the exact
    * integer stats, and the fingerprint is md5 over the hex string
    * itself (same uppercase alphabet both engines). */
  /** Shared DuckDB CTE chain replaying [[percepPairs]] on the documents
    * table, ending in `cand(a, b, l1)` (pre-threshold candidates):
    * UTF-8 bytes from `hex(encode(text))`; FNV-1a's wraparound multiply
    * as HUGEINT arithmetic mod 2⁶⁴ (verified bit-equal to JVM long
    * overflow); the 64-bin histogram as exact-count / window-count
    * divisions; the dHash emitted directly as the 4 × 16-bit band
    * chunks (bit k of chunk j = global bit 16j+k, so no 64-bit shifts
    * are ever needed); the MaxBucket df-cap; and the L1 fold in the
    * same left-to-right order as Spark's `aggregate(zip_with(...))`. */
  private lazy val percepCte: String =
    s"""b AS (SELECT doc_id, hex(encode(text)) AS hx,
       |        octet_length(encode(text)) AS n FROM documents),
       |by AS (SELECT doc_id, n,
       |        list_transform(range(n),
       |          i -> ('0x' || substr(hx, CAST(2*i+1 AS INT), 2))::INT)
       |          AS bytes
       |       FROM b),
       |w AS (SELECT doc_id,
       |        CASE WHEN n >= 4 THEN
       |          list_transform(range(n - 3), i ->
       |            CAST((list_reduce(
       |              list_prepend(1469598103934665603::HUGEINT,
       |                [bytes[CAST(i+1 AS INT)], bytes[CAST(i+2 AS INT)],
       |                 bytes[CAST(i+3 AS INT)], bytes[CAST(i+4 AS INT)]]
       |                  ::HUGEINT[]),
       |              (h, x) -> ((h - h % 256
       |                          + xor(CAST(h % 256 AS INT),
       |                                CAST(x AS INT))::HUGEINT)
       |                         * 1099511628211::HUGEINT)
       |                        % 18446744073709551616::HUGEINT)
       |             // 65536) % ${HistBins} AS INT))
       |        ELSE list_transform(bytes, x -> x % ${HistBins}) END AS bins,
       |        greatest(CASE WHEN n >= 4 THEN n - 3 ELSE n END, 1) AS nw
       |      FROM by),
       |hist AS (SELECT doc_id,
       |        list_transform(range(${HistBins}), k ->
       |          CAST(len(list_filter(bins, x -> x = CAST(k AS INT)))
       |            AS DOUBLE) / nw) AS h
       |      FROM w),
       |bands AS (SELECT doc_id, h, CAST(band AS INT) AS band,
       |        list_sum(list_transform(range(${BandBits}), k ->
       |          CASE WHEN h[CAST(${BandBits}*band + k + 1 AS INT)] >
       |                    h[CAST((${BandBits}*band + k + 1) % ${HistBins}
       |                           + 1 AS INT)]
       |               THEN CAST(1 AS BIGINT) << CAST(k AS INT)
       |               ELSE 0 END)) AS chunk
       |      FROM hist, unnest(range(${PercepBands})) AS t(band)),
       |capped AS (SELECT bands.* FROM bands
       |      JOIN (SELECT band, chunk FROM bands GROUP BY band, chunk
       |            HAVING COUNT(*) <= ${MaxBucket}) c USING (band, chunk)),
       |cand AS (SELECT x.doc_id AS a, y.doc_id AS b,
       |        list_reduce(list_prepend(0.0, list_transform(range(${HistBins}),
       |          i -> abs(x.h[CAST(i+1 AS INT)] - y.h[CAST(i+1 AS INT)]))),
       |          (p, q) -> p + q) AS l1
       |      FROM capped x JOIN capped y
       |        ON x.band = y.band AND x.chunk = y.chunk
       |          AND x.doc_id < y.doc_id)""".stripMargin

  private[graft] val oracle: Map[String, String] = Map(
    "m4_percep_dedup" ->
      s"""WITH $percepCte
         |SELECT a, b, min(l1) AS l1 FROM cand WHERE l1 <= 0.05
         |GROUP BY a, b ORDER BY a, b""".stripMargin,
    // m5 = m4's pair list through the same recursive-reachability CC
    // shape as d8's oracle; cluster = min reachable id.
    "m5_percep_clusters" ->
      s"""WITH RECURSIVE $percepCte,
         |mpairs AS (SELECT a, b FROM cand WHERE l1 <= 0.05 GROUP BY a, b),
         |edges AS (SELECT a AS u, b AS v FROM mpairs
         |          UNION SELECT b, a FROM mpairs),
         |reach(u, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
         |  UNION
         |  SELECT e2.u, reach.r FROM edges e2 JOIN reach ON reach.u = e2.v),
         |cl AS (SELECT u AS doc_id, MIN(r) AS cluster FROM reach GROUP BY u)
         |SELECT doc_id, cluster FROM cl ORDER BY doc_id""".stripMargin,
    "m2_feature_stub" -> {
      val feats = (0 until 8).map(k =>
        s"""  CAST(len(list_filter(bins, x -> x = $k)) AS DOUBLE)
           |    / greatest(n, 1) AS f$k""".stripMargin).mkString(",\n")
      s"""WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
         |             octet_length(encode(text)) AS n FROM documents),
         |u AS (SELECT doc_id, n,
         |        list_transform(range(n),
         |          i -> ('0x' || substr(hx, CAST(2*i+1 AS INT), 2))::INT // 32)
         |          AS bins
         |      FROM b)
         |SELECT doc_id,
         |$feats
         |FROM u ORDER BY doc_id""".stripMargin
    },
    "m1_binary_meta" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
        |             octet_length(encode(text)) AS n FROM documents),
        |u AS (SELECT doc_id, n, hx,
        |        list_transform(range(n),
        |          i -> ('0x' || substr(hx, CAST(2*i+1 AS INT), 2))::INT)
        |          AS bytes
        |      FROM b)
        |SELECT doc_id, CAST(n AS INTEGER) AS n_bytes,
        |  CASE WHEN n > 0 THEN CAST(list_sum(bytes) AS DOUBLE) / n
        |       ELSE 0.0 END AS mean_byte,
        |  CAST(COALESCE(list_max(bytes), 0) AS INTEGER) AS max_byte,
        |  ('0x' || substr(md5(hx), 1, 15))::BIGINT AS feat_hash
        |FROM u ORDER BY doc_id""".stripMargin,
    "m3_frame_sample" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
        |             octet_length(encode(text)) AS len FROM documents),
        |p AS (SELECT doc_id, hx, len,
        |        least(4, greatest(1, len // 64)) AS n FROM b),
        |f AS (SELECT doc_id, hx, len, n, unnest(range(n)) AS i FROM p),
        |fr AS (SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
        |         CAST(CASE WHEN n = 1 THEN 0
        |              ELSE ((len - 64) * i) // (n - 1) END AS INTEGER)
        |           AS off
        |       FROM f),
        |w AS (SELECT doc_id, frame_idx, off,
        |        substr(hx, 2 * off + 1, 128) AS fhx
        |      FROM fr JOIN b USING (doc_id)),
        |u AS (SELECT doc_id, frame_idx, off, fhx,
        |        list_transform(range(length(fhx) // 2),
        |          j -> ('0x' || substr(fhx, CAST(2*j+1 AS INT), 2))::INT)
        |          AS bytes
        |      FROM w)
        |SELECT doc_id, frame_idx, off AS "offset",
        |  CASE WHEN length(fhx) > 0
        |       THEN CAST(list_sum(bytes) AS DOUBLE) / (length(fhx) // 2)
        |       ELSE 0.0 END AS mean_byte,
        |  ('0x' || substr(md5(fhx), 1, 15))::BIGINT AS frame_hash
        |FROM u ORDER BY doc_id, frame_idx""".stripMargin)
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.PortableHash
import graft.Exec._

/** Text analysis for LLM-data pipelines (SURVEY.md §2.F), over the
  * `documents` table. Quality/token metrics are pure column arithmetic
  * (no UDFs → whole-stage codegen, trivially parallel over doc
  * partitions at 100 TB). No transcendental functions in oracle-checked
  * outputs — libm rounding differs across engines; sqrt/arithmetic are
  * IEEE-exact.
  */
object TextOps {

  private val stopwords = Seq("the", "a", "of", "to", "and")

  /** Length / stopword-ratio quality scoring over any
    * (doc_id, text, n_chars) frame. `quality` =
    * (1 − stop_ratio)·avg_word_len, but computed as the algebraically
    * equal (n_words − n_stop)·(n_chars − n_words + 1) / n_words² —
    * exact int64 numerator and denominator with ONE IEEE division, so
    * the double is bit-identical on every engine. (The two-division
    * product form needed a 6-dp round, and at sf0.1 one row landed
    * within an ulp of a .5 rounding boundary where Spark and DuckDB
    * round apart — single-division ratios need no rounding at all.) */
  def qualityOver(docs: DataFrame): DataFrame =
    qualityCols(docs).orderBy("doc_id")

  /** Sort-free core of [[qualityOver]] — pure stateless column
    * arithmetic, so it plans on BATCH and STREAMING frames alike
    * (st19's admission gate applies exactly this, which is what makes
    * the stream == t2 twin equivalence structural). */
  def qualityCols(docs: DataFrame): DataFrame = {
    docs
      .withColumn("n_words",
        graft.functions.SpaceTokens.col(col("text")).cast("long"))
      // fused token∈set count (TokenSetOps) — the filter-HOF form ran
      // an interpreted lambda per word; values bit-identical
      .withColumn("n_stop",
        graft.functions.TokenSetOps.countIn(col("text"), stopwords)
          .cast("long"))
      .withColumn("avg_word_len",
        (col("n_chars") - (col("n_words") - 1)) * lit(1.0) / col("n_words"))
      .withColumn("stop_ratio", col("n_stop") * lit(1.0) / col("n_words"))
      .withColumn("quality",
        (col("n_words") - col("n_stop")) * (col("n_chars") - col("n_words") + 1) * lit(1.0)
          / (col("n_words") * col("n_words")))
      .select(col("doc_id"), col("n_words"), col("n_stop"),
        col("avg_word_len"), col("stop_ratio"), col("quality"))
  }

  /** t2_quality — [[qualityOver]] bound to the documents table. */
  def t2Quality(s: SparkSession, dir: String): DataFrame =
    qualityOver(Tables.documents(s, dir))

  /** t3_tokens — token counting: whitespace split, regex word tokens, and
    * a chars/4 BPE-style estimate. */
  def t3Tokens(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.SpaceTokens.col(col("text")).cast("long").as("n_ws"),
        // fused maximal-run scan ≡ regexp_count(text, '[a-z]+|[0-9]+')
        // (AsciiRuns — the regex engine's NFA walk was the whole cost)
        graft.functions.AsciiRuns.col(col("text")).cast("long").as("n_re"),
        ceil(col("n_chars") / lit(4.0)).cast("long").as("est_bpe"))
      .orderBy("doc_id")
  }

  /** t5_doc_stats — corpus statistics per (source, lang). */
  def t5DocStats(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .withColumn("avg_chars", col("total_chars") * lit(1.0) / col("n_docs"))
      .orderBy("source", "lang")
  }

  /** t6_ngram_counts — corpus-wide word-bigram frequencies, top 100 by
    * count (vocabulary/frequency tables are the first artifact a
    * training-data pipeline derives). Explode is a narrow map; the
    * count is one map-side-combined hash agg; top-100 is a single
    * all-to-one heap (k bounded) — at 100 TB the agg output (distinct
    * bigrams) is the only thing that shuffles. */
  /** All word bigrams of a (…, text) frame, one row each. */
  /** All bigram occurrences (not distinct) as a typed flatMap — the
    * array-HOF transform/explode form runs interpreted and was ~6×
    * slower (d972764's shape measurement; same fix as
    * Shingles.index). A doc of n words emits max(n−1, 1) bigrams,
    * mirroring the `greatest(size − 2, 0)` convention of the t6
    * oracle. */
  private def bigramsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select("text").as[String]
      .flatMap(_.split(" ").iterator.sliding(2).map(_.mkString(" ")))
      .toDF("bigram")
  }

  def t6NgramCounts(s: SparkSession, dir: String): DataFrame = {
    bigramsOf(Tables.spread(s, Tables.documents(s, dir)))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(100)
  }

  /** t11_heavy_hitters — t6's top-100 bigrams at sketch cost: the
    * 100 TB form of an exact frequency table. Exact top-k must
    * aggregate the full (distinct-bigram-cardinality) key space; here
    * candidate bigrams come from an exact count over a deterministic
    * 20% hash sample (Sampling.uniform — reproducible, no rand()), and
    * each candidate's full-corpus count is read from a Count-Min
    * sketch (Cormode & Muthukrishnan 2005; `df.stat.countMinSketch`,
    * ε=1e-5, δ=0.01, fixed seed) built in one distributed pass —
    * per-partition sketches merge by counter addition, so the shuffle
    * is one ~1.6 MB array per partition, independent of vocabulary
    * size. CMS never under-counts and over-counts by ≤ εN with
    * probability 1−δ. [rows-only]: sketch estimates are
    * engine-specific; the spec bounds them against the DuckDB-oracled
    * exact t6 by MASS recall ≥ 0.9 (on a tie-heavy flat distribution —
    * the synthetic corpus's rank-100 and rank-300 bigrams differ by ~5
    * counts — exact top-k SET recovery from any sample is impossible;
    * the mass metric is what heavy-hitter guarantees actually bound)
    * plus the per-item CMS bound exact ≤ est ≤ exact + εN. */
  def t11HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val cms = bigramsOf(docs).stat.countMinSketch(
      col("bigram"), eps = 0.00001, confidence = 0.99, seed = 42)
    val candidates = bigramsOf(
        Sampling.uniform(docs, col("doc_id"), 0.2, salt = 11L))
      .groupBy("bigram").agg(count(lit(1)).as("n_sample"))
      .orderBy(col("n_sample").desc, col("bigram"))
      .limit(600)
      .collect().map(_.getString(0))
    candidates.map(b => (b, cms.estimateCount(b)))
      .sortBy { case (b, n) => (-n, b) }
      .take(100)
      .toSeq.toDF("bigram", "n_est")
  }

  /** Per-language marker-word profiles — the single definition lives
    * with the fused scorer ([[graft.functions.MarkerHits.langs]]). */
  private val langMarkers: Seq[(String, Seq[String])] =
    graft.functions.MarkerHits.langs

  /** All five score_〈lang〉 columns off ONE fused byte pass
    * (MarkerHits — codegen'd; the composed split+filter HOF stack ran
    * five interpreted lambdas per doc: t1 49.5 → 3.2 s at sf10,
    * re-based min-of-N).
    * Values bit-identical to the HOF form (MarkerHitsSpec). */
  private def withMarkerScores(docs: DataFrame): DataFrame =
    langMarkers.zipWithIndex.foldLeft(
      docs.withColumn("mh", graft.functions.MarkerHits.hitsCol(col("text")))) {
      case (df, ((lang, _), i)) =>
        df.withColumn(s"score_$lang", col("mh").getItem(i))
    }

  /** t1_langid — marker-profile language ID: score = marker hits per
    * language, predict argmax (ties break to the lexicographically last
    * language — deterministic). [sql-oracle]: pure counting + argmax,
    * so the DuckDB twin states it as an unpivot + rank-1 window. */
  def t1Langid(s: SparkSession, dir: String): DataFrame =
    langidOver(Tables.documents(s, dir))

  /** Core transform over any (doc_id, text) frame — spec-tested on
    * crafted per-language sentences. */
  def langidOver(docs: DataFrame): DataFrame = {
    val scored = withMarkerScores(docs)
    val structs = langMarkers.map { case (lang, _) =>
      struct(col(s"score_$lang").as("sc"), lit(lang).as("lang"))
    }
    scored.withColumn("best", greatest(structs: _*))
      .select(col("doc_id"), col("best.lang").as("pred_lang"),
        col("best.sc").cast("int").as("best_score"))
      .orderBy("doc_id")
  }

  /** t4_fingerprint — rolling 8-char-gram hash fingerprint (winnowing-
    * style min-gram selection) + a whole-document hash. Column-only
    * (one narrow map, no explode, no shuffle); the min-gram selection
    * is the fused [[graft.functions.MinGramHash]] codegen expression —
    * one pass over the document bytes, zero per-gram allocations,
    * bit-identical to the transform+array_min composition it replaced
    * (measured 3.45 → 0.66 s min-of-6 at sf0.1). [sql-oracle]
    * via the portable md5-prefix hash — fingerprints are only useful
    * if every engine in the pipeline derives the same ones. */
  def fingerprintOver(docs: DataFrame, gram: Int = 8): DataFrame = {
    val t = col("text")
    docs
      .select(col("doc_id"), PortableHash.minGramHash(t, gram).as("fp_min"),
        PortableHash.mdhash64(t).as("fp64"))
      .orderBy("doc_id")
  }

  /** t4_fingerprint — [[fingerprintOver]] bound to the documents table. */
  def t4Fingerprint(s: SparkSession, dir: String): DataFrame =
    fingerprintOver(Tables.documents(s, dir))

  /** Vocabulary size for t7 — small enough that the synthetic corpus
    * (31 distinct words) yields real `<unk>` mass, large enough to keep
    * the common words. */
  private val VocabK = 20

  /** t7_vocab_scrub — corpus-vocabulary OOV scrubbing: build the top-K
    * vocabulary by frequency (ties broken lexically), replace every
    * out-of-vocabulary token with `<unk>`, and fingerprint the scrubbed
    * text. The standard closed-vocabulary preprocessing step before
    * tokenizer training.
    *
    * Scale: the vocabulary is the output of a map-side-combined word
    * count truncated to K rows — driver-collected KBs at any corpus
    * size — and the scrub itself is a narrow per-row transform with the
    * K words inlined as a literal array (no join, no shuffle, stays in
    * whole-stage codegen). [sql-oracle]. */
  def vocabScrub(docs: DataFrame, vocabK: Int = VocabK): DataFrame = {
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(vocabK)
      .collect().map(_.getString(0)).toSeq
    // fused OOV rewrite + count (TokenSetOps): the transform/filter
    // HOF pair ran two interpreted lambdas per word and allocated the
    // words array, the rewritten array, and the rejoined string per
    // doc; n_unk = n_words − n_in_vocab is the same arithmetic the
    // filter computed (empty tokens are OOV in both forms). Values
    // bit-identical (TokenSetOpsSpec + unchanged DuckDB oracle);
    // measured min-of-3 at sf10: 32.2 → 4.3 s.
    val scrubbed = graft.functions.TokenSetOps.scrub(col("text"), vocab, "<unk>")
    docs.select(col("doc_id"),
        (graft.functions.SpaceTokens.col(col("text")) -
          graft.functions.TokenSetOps.countIn(col("text"), vocab))
          .cast("long").as("n_unk"),
        md5(scrubbed).as("scrub_md5"))
      .orderBy("doc_id")
  }

  /** t7_vocab_scrub — [[vocabScrub]] bound to the documents table. */
  def t7VocabScrub(s: SparkSession, dir: String): DataFrame =
    vocabScrub(Tables.documents(s, dir))

  /** Pattern-class redaction over any (doc_id, text) frame: replace
    * every match of `pattern` with `replacement`, reporting match
    * counts and the scrubbed-text digest. The PII-scrub shape of a
    * training-data pipeline (emails/phones/URLs in real corpora); the
    * pattern must stay in the Java∩RE2 common dialect (no lookarounds)
    * so any engine scrubs identically.
    *
    * Scale: one narrow map, fully codegen'd (regexp_replace +
    * regexp_count are native expressions) — no shuffle, no UDF, no
    * state; parallel over scan partitions at any corpus size. */
  def redactOver(docs: DataFrame, pattern: String,
      replacement: String): DataFrame =
    docs.select(col("doc_id"),
        regexp_count(col("text"), lit(pattern)).cast("long").as("n_redacted"),
        md5(regexp_replace(col("text"), pattern, replacement)).as("redact_md5"))
      .orderBy("doc_id")

  /** t8_redact — [[redactOver]] bound to the documents table. The
    * synthetic corpus carries no real PII, so the binding scrubs a
    * lexical term class that does occur (`customer`/`key`/`value` as
    * whole words) — same expression shape as an email/phone scrub,
    * with real nonzero redaction counts to verify. [sql-oracle]. */
  def t8Redact(s: SparkSession, dir: String): DataFrame =
    redactOver(Tables.documents(s, dir),
      "\\b(customer|key|value)\\b", "<redacted>")

  /** TF-IDF top-k terms per document over any (doc_id, text) frame,
    * with the RATIONAL idf variant idf = N/df instead of ln(N/df):
    * transcendental functions round differently across engines' libm
    * (breaking hash-exact oracles), while tf·N/df is exact int64
    * arithmetic plus one IEEE division — bit-identical everywhere, and
    * per-document ranking is preserved for any monotone idf whenever
    * term ranks agree (both idf forms are strictly decreasing in df).
    *
    * Scale: explode is a narrow map; tf is a map-side-combined hash agg
    * on (doc, term); df aggregates the distinct projection to one row
    * per vocabulary term. The tf⋈df join is left unhinted: AQE
    * broadcasts the df side when the vocabulary fits (the common case)
    * and falls back to a shuffle join on the term key when it doesn't
    * (web-scale vocabularies run to billions of terms — a forced
    * broadcast would OOM the driver). Top-k per doc is
    * [[graft.plans.TopKPerGroup]] (≤ k rows per doc per partition
    * reach the shuffle). */
  def tfidfTopk(docs: DataFrame, k: Int = 5): DataFrame = {
    val n = docs.count() // corpus size: one scalar aggregate
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = toks.distinct().groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term")
      .withColumn("score", (col("tf") * lit(n)).cast("double") / col("df"))
    graft.plans.TopKPerGroup.perKey(scored.select(col("doc_id"), col("term"),
        col("tf"), col("df"), col("score")),
      Seq(col("doc_id")), Seq(col("score").desc, col("term")), k)
      .orderBy("doc_id", "rank")
  }

  /** t9_tfidf_topk — [[tfidfTopk]] bound to the documents table.
    * [sql-oracle]. */
  def t9TfidfTopk(s: SparkSession, dir: String): DataFrame =
    tfidfTopk(Tables.documents(s, dir))

  /** Intra-document repetition metrics over any (doc_id, text) frame —
    * the Gopher-style repetition quality rule (Rae 2021 §A1.1): a doc
    * whose top term dominates (high `top_ratio`) or whose vocabulary
    * collapses (low `distinct_ratio`) is boilerplate/spam-shaped and
    * gets filtered before training.
    *
    * Scale: explode → two map-side-combined hash aggs keyed by
    * (doc, term) then doc — shuffle volume is per-doc distinct terms,
    * and ratios are exact int64-over-int64 IEEE divisions (oracle-safe,
    * no rounding needed). */
  def repetitionOver(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id").agg(
        sum("tf").as("n_words"),
        max("tf").as("max_tf"),
        count(lit(1)).as("n_distinct"))
      .withColumn("top_ratio", col("max_tf") * lit(1.0) / col("n_words"))
      .withColumn("distinct_ratio",
        col("n_distinct") * lit(1.0) / col("n_words"))
      .orderBy("doc_id")

  /** t10_repetition — [[repetitionOver]] bound to the documents table.
    * [sql-oracle]. */
  def t10Repetition(s: SparkSession, dir: String): DataFrame =
    repetitionOver(Tables.documents(s, dir))

  /** t15_langid_margin — language ID with CONFIDENCE: t1's marker
    * scoring unpivoted to (doc, lang, score) rows, ranked per doc
    * (TopKPerGroup k=2 — partial per-partition heaps, only two rows
    * per doc per partition reach the shuffle), and the winner reported
    * WITH its margin over the runner-up. Pipelines threshold on the
    * margin, not the argmax: a best-by-one-marker "prediction" is
    * noise, and routing it to a junk/mixed-language bucket beats
    * mislabeling (the fastText-confidence discipline of CCNet-style
    * corpus routing). Same tie-break as t1 (score desc, lang desc), so
    * pred_lang here is ALWAYS t1's prediction — spec-pinned.
    * [sql-oracle]. */
  def t15LangidMargin(s: SparkSession, dir: String): DataFrame =
    langidMargin(Tables.documents(s, dir))

  /** Core of [[t15LangidMargin]] over any (doc_id, text) frame. */
  def langidMargin(docs: DataFrame): DataFrame = {
    val scored = withMarkerScores(docs)
    val structs = langMarkers.map { case (lang, _) =>
      struct(col(s"score_$lang").cast("int").as("sc"), lit(lang).as("lang"))
    }
    val rows = scored
      .select(col("doc_id"), explode(array(structs: _*)).as("x"))
      .select(col("doc_id"), col("x.lang").as("lang"), col("x.sc").as("sc"))
    graft.plans.TopKPerGroup.perKey(rows,
        Seq(col("doc_id")), Seq(col("sc").desc, col("lang").desc), 2)
      .groupBy("doc_id")
      .agg(max(when(col("rank") === 1, col("lang"))).as("pred_lang"),
        max(when(col("rank") === 1, col("sc"))).as("best_score"),
        max(when(col("rank") === 2, col("sc"))).as("second_score"))
      .withColumn("margin", col("best_score") - col("second_score"))
      .select(col("doc_id"), col("pred_lang"), col("best_score"),
        col("second_score"), col("margin"))
      .orderBy("doc_id")
  }

  /** t14_dup_ngrams — intra-doc duplicate-n-gram occupancy (Gopher
    * §A1.1's "fraction in duplicate n-grams" repetition rule, Rae et
    * al. 2021, on word bigrams): per doc, the fraction of bigram
    * OCCURRENCES whose bigram appears ≥ 2 times within that same doc.
    * t10 catches one dominant term; this catches looped/templated
    * phrasing spread across many distinct repeated n-grams — the
    * complementary repetition failure LLM corpus filters screen.
    *
    * Scale: the statistic is doc-LOCAL, so the operator is ONE narrow
    * typed map — each row builds its own bounded bigram count table
    * (≤ n_words entries) and emits four columns; zero shuffle, zero
    * agg, cost linear in token count and embarrassingly parallel at
    * any corpus size. (The flatMap → groupBy(doc, gram) form most
    * engines reach for shuffles every (doc, gram) pair for a
    * PER-DOC answer — strictly worse at 100 TB.) `dup_ratio` is one
    * IEEE division of exact int64s — bit-identical cross-engine, no
    * rounding needed. [sql-oracle]. */
  def t14DupNgrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val w = t.split(" ")
        val counts = new scala.collection.mutable.HashMap[String, Int]()
        var i = 0
        while (i < w.length - 1) {
          val g = w(i) + " " + w(i + 1)
          counts.update(g, counts.getOrElse(g, 0) + 1)
          i += 1
        }
        var total = 0L
        var dup = 0L
        counts.valuesIterator.foreach { c =>
          total += c
          if (c >= 2) dup += c
        }
        val ratio = if (total > 0) dup * 1.0 / total else 0.0
        (id, total, dup, ratio)
      }
      .toDF("doc_id", "n_grams", "n_dup", "dup_ratio")
      .orderBy("doc_id")
  }

  /** t12_lm_quality — unigram-LM cross-entropy scoring: fit the corpus's
    * own unigram distribution (one word-count aggregate), then score
    * every doc by the mean negative log-probability of its words — the
    * CCNet-style perplexity filter that separates fluent text (common
    * words ⇒ low cross-entropy) from gibberish and word-salad (rare
    * words ⇒ high). The training-data pipeline sits this between t2's
    * surface heuristics and model-based filters.
    *
    * Scale: the LM "fit" is a map-side-combined word count. Scoring
    * joins the exploded corpus against the frequency table on the word
    * key — a Zipf-skewed key (stopwords are a constant fraction of ALL
    * tokens), so a plain shuffle join funnels the head words into a
    * few tasks. The join is therefore SPLIT: the top-`headK` words by
    * count (a bounded KB-scale frame at any corpus size — Zipf's head
    * is small by definition) broadcast and match map-side, so the hot
    * keys never shuffle at all; only the long tail — high-cardinality,
    * near-uniform after the head is gone — takes the shuffle equi-join.
    * The fact is scanned once per branch (two narrow scans trade for
    * removing the skewed shuffle; at 100 TB the shuffle is the
    * bottleneck, not the scan). Cost tracks token count, the same
    * class as t3/t6. [rows-only]: `ln` is libm-dependent and not
    * bit-portable across engines; the spec pins a driver-side
    * recompute at 1e-9 and the fluency ordering, and a planted-
    * stopword spec pins the head/tail routing. */
  def t12LmQuality(s: SparkSession, dir: String): DataFrame =
    lmQuality(Tables.documents(s, dir))

  /** The head/tail split-join scoring plan: the deterministic
    * top-`headK` of `counts` (count desc, then word) broadcasts and
    * matches map-side; everything else anti-joins the head and
    * shuffle-joins the tail of `counts`. */
  private def lmScorePlan(words: DataFrame, counts: DataFrame,
      total: Long, headK: Int): DataFrame = {
    val head = counts.orderBy(col("count").desc, col("word")).limit(headK)
    val headHit = words.join(broadcast(head), "word")
    val tailHit = words
      .join(broadcast(head.select("word")), Seq("word"), "left_anti")
      .join(counts, "word")
    headHit.unionByName(tailHit)
      .withColumn("nlp", -log(col("count") * lit(1.0) / lit(total.toDouble)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        round(sum(col("nlp")) / count(lit(1)), 6).as("xent"))
      .orderBy("doc_id")
  }

  private def lmWords(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    .filter(col("word") =!= "")

  /** Generic core of [[t12LmQuality]] over any (doc_id, text) frame;
    * `headK` is the broadcast-head size (hot-key dial). */
  def lmQuality(docs: DataFrame, headK: Int = 1024): DataFrame = {
    val words = lmWords(docs)
    // cached: feeds the total, the head pull and the tail join —
    // without it the word-count aggregate runs three times
    val counts = words.groupBy("word").count().cache()
    val total = counts.agg(sum("count")).head().getLong(0)
    val out = lmScorePlan(words, counts, total, headK).finishIf()
    counts.unpersistIf()
    out
  }

  /** [[lmQuality]] without the materialize/release wrapper — the raw
    * lazy plan, for plan-shape introspection in specs. */
  private[graft] def lmQualityRaw(docs: DataFrame, headK: Int): DataFrame = {
    val words = lmWords(docs)
    val counts = words.groupBy("word").count()
    val total = counts.agg(sum("count")).head().getLong(0)
    lmScorePlan(words, counts, total, headK)
  }

  /** t13_normalize — canonical text normalization + normalized-form
    * dedup groups: lowercase, strip every character outside
    * [a-z0-9 ], collapse space runs, trim, then group docs by the
    * digest of the normal form. This is the case/punctuation/
    * whitespace near-dup class d1's byte-exact digest structurally
    * misses ("Hello, World!" ≡ "hello world") — and the normalization
    * pass every training pipeline runs before exact dedup. Output per
    * doc: its normal-form digest, the group keeper (min doc_id) and
    * the variant count.
    *
    * Scale: the normalization is a narrow codegen'd expression chain
    * (no UDF), computed ONCE; the group stats ride an unbounded window
    * over the digest — d1's exact shape (one hash shuffle, no join,
    * no second normalization pass; the agg-plus-join-back form
    * recomputed the regex chain on the probe side and measured 2.2×
    * slower at sf10: 67.3 s → 30.4 s min-of-2). [sql-oracle]
    * (identical regex pipeline both engines; md5 of equal strings is
    * equal). */
  def t13Normalize(s: SparkSession, dir: String): DataFrame =
    normalizeDedup(Tables.documents(s, dir))

  /** Generic core of [[t13Normalize]] over any (doc_id, text) frame. */
  def normalizeDedup(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
    docs.select(col("doc_id"), md5(norm).as("h"))
      .withColumn("keeper", min(col("doc_id")).over(w))
      .withColumn("n_variants", count(lit(1)).over(w))
      .orderBy("doc_id")
  }

  val oracle: Map[String, String] = Map(
    "t13_normalize" ->
      """WITH n AS (SELECT doc_id,
        |  md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS h
        |  FROM documents),
        |g AS (SELECT h, MIN(doc_id) AS keeper, COUNT(*) AS n_variants
        |      FROM n GROUP BY h)
        |SELECT doc_id, h, keeper, n_variants FROM n JOIN g USING (h)
        |ORDER BY doc_id""".stripMargin,
    "t1_langid" -> {
      // one scored row per (doc, lang), embedded marker lists verbatim;
      // argmax with the same tie-break as greatest(struct(sc, lang)):
      // highest score, then lexicographically LAST language
      val scoreRows = langMarkers.map { case (lang, ms) =>
        val inList = ms.map(m => s"'$m'").mkString(", ")
        s"SELECT doc_id, '$lang' AS lang, len(list_filter(w, x -> x IN ($inList))) AS sc FROM s"
      }.mkString("\n  UNION ALL ")
      s"""WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sc AS (
         |  $scoreRows),
         |r AS (SELECT doc_id, lang, sc,
         |        ROW_NUMBER() OVER (PARTITION BY doc_id
         |          ORDER BY sc DESC, lang DESC) AS rn FROM sc)
         |SELECT doc_id, lang AS pred_lang, CAST(sc AS INTEGER) AS best_score
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin
    },
    "t15_langid_margin" -> {
      val scoreRows = langMarkers.map { case (lang, ms) =>
        val inList = ms.map(m => s"'$m'").mkString(", ")
        s"SELECT doc_id, '$lang' AS lang, len(list_filter(w, x -> x IN ($inList))) AS sc FROM s"
      }.mkString("\n  UNION ALL ")
      s"""WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sc AS (
         |  $scoreRows),
         |r AS (SELECT doc_id, lang, sc,
         |        ROW_NUMBER() OVER (PARTITION BY doc_id
         |          ORDER BY sc DESC, lang DESC) AS rn FROM sc),
         |t AS (SELECT doc_id,
         |        MAX(CASE WHEN rn = 1 THEN lang END) AS pred_lang,
         |        MAX(CASE WHEN rn = 1 THEN sc END) AS best_score,
         |        MAX(CASE WHEN rn = 2 THEN sc END) AS second_score
         |      FROM r WHERE rn <= 2 GROUP BY doc_id)
         |SELECT doc_id, pred_lang, CAST(best_score AS INTEGER) AS best_score,
         |  CAST(second_score AS INTEGER) AS second_score,
         |  CAST(best_score - second_score AS INTEGER) AS margin
         |FROM t ORDER BY doc_id""".stripMargin
    },
    "t14_dup_ngrams" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(
        |        range(greatest(len(w) - 1, 0)),
        |        i -> array_to_string(w[i + 1:i + 2], ' '))) AS gram FROM d),
        |c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
        |        CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup
        |      FROM c GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.n_grams, 0) AS n_grams,
        |  COALESCE(a.n_dup, 0) AS n_dup,
        |  CASE WHEN COALESCE(a.n_grams, 0) > 0
        |       THEN a.n_dup * 1.0 / a.n_grams ELSE 0.0 END AS dup_ratio
        |FROM d LEFT JOIN a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "t10_repetition" ->
      """WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents) GROUP BY doc_id, term)
        |SELECT doc_id,
        | CAST(SUM(tf) AS BIGINT) AS n_words,
        | CAST(MAX(tf) AS BIGINT) AS max_tf,
        | COUNT(*) AS n_distinct,
        | CAST(MAX(tf) AS BIGINT) * 1.0 / CAST(SUM(tf) AS BIGINT) AS top_ratio,
        | COUNT(*) * 1.0 / CAST(SUM(tf) AS BIGINT) AS distinct_ratio
        |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t8_redact" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '\b(customer|key|value)\b')) AS BIGINT)
        |   AS n_redacted,
        | md5(regexp_replace(text, '\b(customer|key|value)\b', '<redacted>', 'g'))
        |   AS redact_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t9_tfidf_topk" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |            FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY doc_id, term),
        |dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tk GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |        CAST(tf.tf * n.n AS DOUBLE) / dfq.df AS score,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |          ORDER BY CAST(tf.tf * n.n AS DOUBLE) / dfq.df DESC, tf.term)
        |          AS INTEGER) AS rank
        |      FROM tf JOIN dfq USING (term), n)
        |SELECT doc_id, term, tf, df, score, rank FROM s WHERE rank <= 5
        |ORDER BY doc_id, rank""".stripMargin,
    "t4_fingerprint" ->
      """SELECT doc_id,
        | list_min(list_transform(range(greatest(length(text) - 7, 1)),
        |   i -> ('0x' || substr(md5(substr(text, i + 1, 8)), 1, 15))::BIGINT)) AS fp_min,
        | ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp64
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t7_vocab_scrub" ->
      """WITH vc AS (SELECT w FROM (SELECT unnest(string_split(text, ' ')) AS w
        |             FROM documents) GROUP BY w ORDER BY COUNT(*) DESC, w LIMIT 20),
        |vl AS (SELECT list(w) AS vs FROM vc)
        |SELECT d.doc_id,
        | CAST(len(list_filter(string_split(d.text, ' '),
        |          w -> NOT list_contains(vl.vs, w))) AS BIGINT) AS n_unk,
        | md5(array_to_string(list_transform(string_split(d.text, ' '),
        |     w -> CASE WHEN list_contains(vl.vs, w) THEN w ELSE '<unk>' END), ' ')) AS scrub_md5
        |FROM documents d, vl ORDER BY doc_id""".stripMargin,
    "t6_ngram_counts" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT unnest(list_transform(range(greatest(len(w) - 1, 1)),
        |        i -> array_to_string(w[i + 1:i + 2], ' '))) AS bigram FROM w)
        |SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram
        |ORDER BY n DESC, bigram LIMIT 100""".stripMargin,
    "t2_quality" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        | CAST(len(list_filter(string_split(text, ' '),
        |          w -> w IN ('the','a','of','to','and'))) AS BIGINT) AS n_stop,
        | (n_chars - (len(string_split(text, ' ')) - 1)) * 1.0
        |   / len(string_split(text, ' ')) AS avg_word_len,
        | len(list_filter(string_split(text, ' '),
        |     w -> w IN ('the','a','of','to','and'))) * 1.0
        |   / len(string_split(text, ' ')) AS stop_ratio,
        | (len(string_split(text, ' ')) - len(list_filter(string_split(text, ' '),
        |       w -> w IN ('the','a','of','to','and'))))
        |   * (n_chars - len(string_split(text, ' ')) + 1) * 1.0
        |   / (len(string_split(text, ' ')) * len(string_split(text, ' '))) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t3_tokens" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_re,
        | CAST(CEIL(n_chars / 4.0) AS BIGINT) AS est_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t5_doc_stats" ->
      """SELECT source, lang, COUNT(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        | CAST(MIN(n_chars) AS BIGINT) AS min_chars,
        | CAST(MAX(n_chars) AS BIGINT) AS max_chars,
        | CAST(SUM(n_chars) AS BIGINT) * 1.0 / COUNT(*) AS avg_chars
        |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin
  )
}

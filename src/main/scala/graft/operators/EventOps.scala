package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.ExactStats
import graft.functions.ExactStats.{dsum, dsumProduct, percentile}
import graft.Exec._

/** Event/time-series analytics (SURVEY.md §2.B) — the batch twins of the
  * reference's streaming surface (app3_ML.py:79-141: JSON parse →
  * timestamp → per-entity sliding window → outlier flagging → "last N
  * outliers" tables). Statistical detectors (z-score / MAD / IQR /
  * seasonal) are the declarative counterparts of the reference's
  * IsolationForest loop (app3_ML.py:143-182); the IF itself is
  * graft.ml.GraftIsolationForest.
  *
  * Determinism discipline (SURVEY §6): group stats flow through
  * [[graft.functions.ExactStats]]'s exact decimal sums and exact
  * percentiles; z-scores are then identical double arithmetic on both
  * engines. Time keys are floor-second epochs so Spark's µs timestamps
  * and DuckDB's ns timestamps agree. Every output is uniquely ordered.
  */
object EventOps {

  /** Per-group mean/sd via the exact-sum formula sqrt((Σx² − (Σx)²/n)/(n−1)) —
    * written identically in the DuckDB oracle so both engines agree bitwise. */
  private def statsByKey(df: DataFrame, keys: Seq[String], v: Column): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), dsum(v).as("s1"), dsumProduct(v, v).as("s2"))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("sd", sampleSd)

  /** The sample σ of a (n, s1, s2) stats frame. */
  private def sampleSd: Column =
    ExactStats.sd(col("n"), col("s1"), col("s2"), col("n") - lit(1))

  /** e1_json_parse — JSON prop extraction from the `props` payload column
    * (the reference's from_json stage, app3_ML.py:89-90). */
  def e1JsonParse(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        col("value"))
      .filter(col("k") > 50)
      .orderBy("event_id")
  }

  /** e2_tumbling — 1-hour tumbling-window aggregate per event_type
    * (streaming twin: st2 with watermark; here a plain hash aggregate
    * with map-side partials — no row-window needed). */
  def e2Tumbling(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("h"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("h", "event_type")
  }

  /** e3_rolling — rolling mean/sd over the last 10 events per user
    * (bounded row frame = the scale-safe form of a sliding window). */
  def e3Rolling(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-9, 0)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("roll_avg", round(avg(col("value")).over(w), 6))
      .withColumn("roll_n", count(lit(1)).over(w))
      .withColumn("roll_sd",
        round(when(col("roll_n") > 1, stddev_samp(col("value")).over(w)).otherwise(0.0), 6))
      .select(col("event_id"), col("user_id"), col("value"),
        col("roll_avg"), col("roll_sd"), col("roll_n"))
      .orderBy("event_id")
  }

  /** e4_sessionize — session windows via inactivity gap > 30 min per user
    * (lag + cumulative-sum session ids; floor-second timestamps keep the
    * gap test identical across engines). */
  def e4Sessionize(s: SparkSession, dir: String): DataFrame = {
    val secs = col("ts").cast("long")
    val ord = Window.partitionBy("user_id").orderBy("secs", "event_id")
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"), secs.as("secs"))
      .withColumn("prev", lag(col("secs"), 1).over(ord))
      .withColumn("new_s",
        when(col("prev").isNull || col("secs") - col("prev") > 1800, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(cum))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"), min(col("secs")).as("start_s"),
        max(col("secs")).as("end_s"), dsum(col("value")).as("sum_value"))
      .orderBy("user_id", "sid")
  }

  /** e5_zscore — per-event_type z-score outliers (|z| > 3). Stats come
    * from one exact aggregate, broadcast back over the fact — the
    * declarative twin of the reference's per-entity window scoring. */
  def e5Zscore(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value"))
    val st = statsByKey(ev, Seq("event_type"), col("value"))
    val z = (col("value") - col("mean")) / col("sd")
    ev.join(broadcast(st), "event_type")
      .filter(abs(z) > 3)
      .select(col("event_id"), col("event_type"), col("value"), round(z, 6).as("z"))
      .orderBy("event_id")
  }

  /** e6_robust — median/MAD robust outliers (|robust z| > 3.5), two exact
    * percentile passes + broadcast joins. (Exact `percentile` buffers a
    * group's values in the aggregator — required for the bit-exact
    * oracle; the bounded-memory form of the same quantiles is e14's
    * Greenwald–Khanna summary.) */
  def e6Robust(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value"))
    val med = ev.groupBy("event_type").agg(percentile("value", 0.5).as("med"))
    val withAd = ev.join(broadcast(med), "event_type")
      .withColumn("ad", abs(col("value") - col("med")))
    val mad = withAd.groupBy("event_type").agg(percentile("ad", 0.5).as("mad"))
    val rz = (col("value") - col("med")) / (lit(1.4826) * col("mad"))
    withAd.join(broadcast(mad), "event_type")
      .filter(abs(rz) > 3.5)
      .select(col("event_id"), col("event_type"), col("value"), round(rz, 6).as("rz"))
      .orderBy("event_id")
  }

  /** e7_iqr — IQR-fence outliers per event_type. */
  def e7Iqr(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value"))
    val st = ev.groupBy("event_type").agg(
      percentile("value", 0.25).as("q1"), percentile("value", 0.75).as("q3"))
      .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
    ev.join(broadcast(st), "event_type")
      .filter(col("value") < col("lo") || col("value") > col("hi"))
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"))
      .orderBy("event_id")
  }

  /** e8_seasonal — hour-of-day seasonal profile detrend + residual
    * z-score outliers (the reference producer plants 24h/12h sinusoids;
    * this removes them before flagging, producer-3.py:72-75). */
  def e8Seasonal(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), hour(col("ts")).as("hr"), col("value"))
    val prof = statsByKey(ev, Seq("event_type", "hr"), col("value"))
    val rz = (col("value") - col("mean")) / col("sd")
    ev.join(broadcast(prof), Seq("event_type", "hr"))
      .filter(abs(rz) > 3)
      .select(col("event_id"), col("event_type"), col("hr"), col("value"),
        round(rz, 6).as("rz"))
      .orderBy("event_id")
  }

  /** e9_rate — per-minute event rate + error ratio (the dashboard-feed
    * style rollup). */
  /** e22_seasonal_strength — per-key seasonality SCORE: the fraction of
    * each event_type's variance explained by its own hour-of-day
    * profile, strength = 1 − Σ(x−m_h)² / Σ(x−m̄)² ∈ (−∞, 1] (≈1 =
    * strongly diurnal, ≈0 = the profile explains nothing). e8 FLAGS
    * residual outliers assuming the seasonal model; this measures
    * whether that model fits at all — the audit that says which keys
    * e8/e19's seasonal machinery applies to and which need a
    * non-seasonal detector. (Classical seasonal-strength diagnostic,
    * Hyndman & Athanasopoulos FPP3 §4.4, on an hour-of-day profile.)
    *
    * Scale: the 24-row-per-key profile is one map-side-combined agg
    * broadcast back over a single fact scan; residuals are per-row
    * column arithmetic; the final per-key moments are exact decimal
    * sums, so both engines agree bitwise (residual doubles are
    * identical per row because m_h = s1_h/n_h is the same single
    * division on both sides). [sql-oracle]. */
  def e22SeasonalStrength(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), hour(col("ts")).as("hr"), col("value"))
    val prof = ev.groupBy("event_type", "hr")
      .agg(count(lit(1)).as("nh"), dsum(col("value")).as("s1h"))
      .withColumn("mh", col("s1h") / col("nh"))
      .select("event_type", "hr", "mh")
    val resid = col("value") - col("mh")
    val ss = ExactStats.comoment(col("n"), col("s1"), col("s1"), col("s2"))
    ev.join(broadcast(prof), Seq("event_type", "hr"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("s1"),
        dsumProduct(col("value"), col("value")).as("s2"),
        dsumProduct(resid, resid).as("sr2"))
      .filter(ss > 0)
      .withColumn("strength", round(lit(1.0) - col("sr2") / ss, 6))
      .select(col("event_type"), col("n"), col("strength"))
      .orderBy("event_type")
  }

  /** e23_detector_scorecard — per-key alarm-RATE rollup across the
    * whole detector family: how many events each of {e5 z-score,
    * e6 MAD, e7 IQR} flags per event_type, and how many clear e17's
    * ≥2-vote consensus. The first question a monitoring stack answers
    * ("which keys are noisy, which detector disagrees") and the
    * calibration audit for the thresholds themselves — a detector
    * flagging 20% of a key is mistuned, not informative.
    *
    * Scale: e17's exact machinery (one cached projection, combined
    * per-type stats, the unavoidable MAD second pass) with the
    * per-event output collapsed to a per-key count rollup — the
    * output is O(keys), so this is the form a dashboard polls at
    * 100 TB where e17's row-level output feeds investigations.
    * [sql-oracle]. */
  def e23DetectorScorecard(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value")).cache()
    val out = detectorFlags(ev)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("zf")).as("n_z"),
        sum(col("rf")).as("n_mad"), sum(col("qf")).as("n_iqr"),
        sum(when(col("zf") + col("rf") + col("qf") >= 2, 1L).otherwise(0L))
          .as("n_consensus"))
      .orderBy("event_type")
      .finishIf()
    ev.unpersistIf()
    out
  }

  /** e21_coverage — per-key time-series completeness audit: for every
    * event_type, the observed-minute count vs the minutes SPANNED
    * (first→last observed), i.e. how gappy the feed is. Ingestion
    * monitoring asks this before any detector runs — e13/e15 repair
    * gaps, this one MEASURES them (a silently-stalled producer shows
    * up as coverage collapsing long before values look anomalous).
    *
    * Scale: one map-side-combined aggregate over (key, minute) — the
    * e20 rollup — then a tiny per-key aggregate: two shuffles whose
    * second input is already collapsed to minutes. Coverage is one
    * IEEE division of exact int64s — no rounding needed. [sql-oracle]. */
  def e21Coverage(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy(col("event_type"),
        unix_timestamp(date_trunc("minute", col("ts"))).as("m"))
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("observed_min"),
        min("m").as("first_m"), max("m").as("last_m"),
        sum("n").as("n_events"))
      .withColumn("span_min",
        (col("last_m") - col("first_m")) / lit(60L) + lit(1L))
      .withColumn("coverage",
        col("observed_min") * lit(1.0) / col("span_min"))
      .select(col("event_type"), col("observed_min"), col("span_min"),
        col("n_events"), col("coverage"))
      .orderBy("event_type")
  }

  /** e20_rate_burst — per-type traffic-burst minutes: roll events up to
    * (event_type, minute) counts, then flag minutes whose VOLUME sits
    * > 3σ above that type's own per-minute distribution. e5 scores each
    * event's value; this scores the arrival process itself — the
    * flood/scrape/retry-storm signal no per-event statistic sees
    * (observed minutes only: an all-quiet minute has no row, which is
    * the right convention for bursts — absence can't burst).
    *
    * Scale: first rollup is one map-side-combined shuffle whose output
    * is (types × minutes) — collapse-factor ≈ events-per-minute; the
    * per-type moment agg over THAT is tiny and broadcast back (e5's
    * plan shape on a pre-collapsed fact). Exact decimal sums keep z
    * cross-engine bit-stable; sd > 0 guards the ANSI division.
    * [sql-oracle]. */
  def e20RateBurst(s: SparkSession, dir: String): DataFrame =
    rateBurst(Tables.events(s, dir))

  /** Generic core of [[e20RateBurst]] over any (event_type, ts) frame. */
  def rateBurst(ev: DataFrame): DataFrame = {
    val mc = ev
      .groupBy(col("event_type"),
        unix_timestamp(date_trunc("minute", col("ts"))).as("m"))
      .agg(count(lit(1)).as("n"))
    // project the stats down before the join: statsByKey's group count
    // is also named `n` and would collide with the minute count
    val st = statsByKey(mc, Seq("event_type"), col("n"))
      .filter(col("sd") > 0)
      .select(col("event_type"), col("mean"), col("sd"))
    val z = (col("n") - col("mean")) / col("sd")
    mc.join(broadcast(st), "event_type")
      .filter(z > 3)
      .select(col("event_type"), col("m"), col("n"), round(z, 6).as("z"))
      .orderBy("event_type", "m")
  }

  def e9Rate(s: SparkSession, dir: String): DataFrame = {
    val isErr = when(col("event_type") === "error", 1L).otherwise(0L)
    Tables.events(s, dir)
      .groupBy(unix_timestamp(date_trunc("minute", col("ts"))).as("m"))
      .agg(count(lit(1)).as("n"), sum(isErr).as("n_err"))
      .withColumn("err_ratio", col("n_err") * lit(1.0) / col("n"))
      .orderBy("m")
  }

  /** e10_top_outliers — 5 most-recent z-outliers (|z| > 2) per event_type:
    * the reference's capped per-entity outlier table (app3_ML.py:177-180)
    * as a rank window over the flagged stream. */
  def e10TopOutliers(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"), col("ts").cast("long").as("secs"))
    val st = statsByKey(ev, Seq("event_type"), col("value"))
    val z = (col("value") - col("mean")) / col("sd")
    val flagged = ev.join(broadcast(st), "event_type")
      .withColumn("z", z).filter(abs(col("z")) > 2)
    // custom top-k operator (see plans/TopKPerGroup): bounded k-heaps
    // replace the full per-key sort of the window-rank idiom
    graft.plans.TopKPerGroup.perKey(flagged,
        Seq(col("event_type")),
        Seq(col("secs").desc, col("event_id").desc), 5)
      .withColumnRenamed("rank", "rn")
      .select(col("event_id"), col("event_type"), col("value"), col("secs"),
        round(col("z"), 6).as("z"), col("rn"))
      .orderBy("event_type", "rn")
  }

  private val zStatsCte =
    """st AS (SELECT event_type, COUNT(*) AS n,
      | CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS s1,
      | CAST(CAST(SUM(CAST(value * value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS s2
      |FROM events GROUP BY event_type)""".stripMargin

  /** e13_gap_fill — forward-fill repair of a sparsely-null series: the
    * time-series imputation step between ingest and detection (the
    * reference drops invalid rows, app3_ML.py:119-121; at pipeline
    * scale you repair instead of drop). Rows whose JSON `k` prop ≤ 10
    * model the sensor-dropout nulls; each takes the key's most recent
    * valid reading (null if none yet).
    *
    * Scale: one per-key running window (same class as e3's rolling
    * frame) — partition by key, sort within partition, no driver state.
    * [sql-oracle] (`LAST_VALUE ... IGNORE NULLS` on the DuckDB side,
    * `last(_, ignoreNulls)` here; pure passthrough values, no float
    * arithmetic). */
  def e13GapFill(s: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("int")
    val w = Window.partitionBy("user_id").orderBy("secs", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts").cast("long").as("secs"),
        when(k > 10, col("value")).as("v"))
      .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
      .withColumn("was_gap", col("v").isNull)
      .orderBy("event_id")
  }

  /** e15_interpolate — linear time-weighted interpolation of the same
    * sparsely-null series e13 forward-fills: each gap row takes
    * prev + (next − prev) · (t − t_prev)/(t_next − t_prev) between its
    * key's nearest valid neighbors (forward/backward fill at the series
    * edges). Interpolation preserves trends dropped-or-held readings
    * distort, which matters to every detector downstream of repair.
    *
    * Scale: two per-key running windows (one forward, one backward) —
    * partition by key, sort within partition, no driver state; same
    * plan class as e13/e3. [sql-oracle] — the interpolation expression
    * is written with the identical division/multiplication shape on
    * both engines, and the time ratio divides as double/double (a
    * bigint/bigint `/` is float division in DuckDB but would need the
    * same explicit cast anyway to be audit-proof). */
  def e15Interpolate(s: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("int")
    val ord = Window.partitionBy("user_id").orderBy("secs", "event_id")
    val wPrev = ord.rowsBetween(Window.unboundedPreceding, -1)
    val wNext = ord.rowsBetween(1, Window.unboundedFollowing)
    val frac = (col("secs") - col("ps")).cast("double") /
      (col("ns") - col("ps")).cast("double")
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts").cast("long").as("secs"),
        when(k > 10, col("value")).as("v"))
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("ps", last(when(col("v").isNotNull, col("secs")), ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("ns", first(when(col("v").isNotNull, col("secs")), ignoreNulls = true).over(wNext))
      .withColumn("filled",
        when(col("v").isNotNull, col("v"))
          .when(col("pv").isNotNull && col("nv").isNotNull && col("ns") > col("ps"),
            round(col("pv") + (col("nv") - col("pv")) * frac, 6))
          .when(col("pv").isNotNull, col("pv"))
          .otherwise(col("nv")))
      .select(col("event_id"), col("user_id"), col("secs"),
        col("v"), col("filled"), col("v").isNull.as("was_gap"))
      .orderBy("event_id")
  }

  /** e16_correlation — pairwise Pearson correlation between event-type
    * series: align each type's per-minute mean series on the time key,
    * then correlate every type pair over the minutes both have data.
    * "Which sensors move together" is the cross-entity question the
    * reference's per-entity windows never ask, and the one that exposes
    * a plant whose outputs decouple (the joint-anomaly theme of a5 at
    * the series level rather than the point level).
    *
    * Scale: the per-(minute, type) rollup is one map-side-combined agg
    * (output ≈ minutes × types — tiny); the pair join is an equi-join
    * on the minute key fanning out types×(types−1)/2 — never a
    * Cartesian over events; the final agg is O(pairs). [sql-oracle]:
    * every moment flows through exact decimal sums and the correlation
    * quotient is written with the identical operation shape on both
    * engines. */
  def e16Correlation(s: SparkSession, dir: String): DataFrame = {
    val byMin = Tables.events(s, dir)
      .groupBy(unix_timestamp(date_trunc("minute", col("ts"))).as("m"),
        col("event_type"))
      .agg(count(lit(1)).as("nm"), dsum(col("value")).as("sm"))
      .withColumn("v", col("sm") / col("nm"))
      .select("m", "event_type", "v")
    val a = byMin.select(col("m"), col("event_type").as("ta"), col("v").as("va"))
    val b = byMin.select(col("m"), col("event_type").as("tb"), col("v").as("vb"))
    val pairs = a.join(b, "m").filter(col("ta") < col("tb"))
    ExactStats.pearson(pairs, Seq("ta", "tb"), col("va"), col("vb"))
      .orderBy("ta", "tb")
  }

  /** e19_autocorr — per-key lag-k autocorrelation of the per-minute
    * mean series (lags 1/5/15 min): the self-similarity audit that
    * quantifies how predictable each series is from its own recent
    * past — high r(1) says smoothing (a2/a6) will forecast well, decay
    * across lags measures memory length, and a NEGATIVE short lag
    * flags oscillation. e16 asks "which series move together"; this
    * asks "how much does each series remember itself" — the two
    * second-order statistics a detector-tuning pass reads first.
    *
    * Scale: same shape as e16 — one map-side rollup to (minute, key)
    * points, then a (key, minute+lag) equi-join fanning out over
    * series points × lags, never events; final agg is O(keys × lags).
    * [sql-oracle]: exact decimal moments, identical quotient shape,
    * degenerate (flat/short) series excluded with the same predicate. */
  def e19Autocorr(s: SparkSession, dir: String,
      lags: Seq[Int] = Seq(1, 5, 15)): DataFrame =
    autocorr(Tables.events(s, dir), lags)

  /** Generic core of [[e19Autocorr]] over any (ts, event_type, value)
    * frame.
    *
    * The rollup is CACHED (r13): both join sides read it, but unlike
    * e16 — where AQE reuses the b-side's rollup stage — here the
    * inferred `isnotnull(m + lag*60)` join predicate is pushed down
    * into the b-side's scan as `isnotnull(unix_timestamp(...))`,
    * making the two rollup subtrees canonically different, so stage
    * reuse never fires and the fact was scanned + rolled up TWICE
    * (measured: 160,070 shuffle records vs e16's 80,040 on the same
    * fact — exactly the duplicated rollup exchange). The cache is the
    * e17 lifecycle idiom: O(minutes × keys) rows, one fact scan at any
    * scale. */
  def autocorr(ev: DataFrame, lags: Seq[Int] = Seq(1, 5, 15)): DataFrame = {
    val byMin = ev
      .groupBy(unix_timestamp(date_trunc("minute", col("ts"))).as("m"),
        col("event_type"))
      .agg(count(lit(1)).as("nm"), dsum(col("value")).as("sm"))
      .withColumn("v", col("sm") / col("nm"))
      .select("m", "event_type", "v")
      .cache()
    val a = byMin.select(col("m"), col("event_type"), col("v").as("va"))
      .withColumn("lag", explode(array(lags.map(lit): _*)))
      .withColumn("m2", col("m") + col("lag") * 60)
    val b = byMin.select(col("m").as("m2"), col("event_type"),
      col("v").as("vb"))
    val out = ExactStats.pearson(a.join(b, Seq("event_type", "m2")),
        Seq("event_type", "lag"), col("va"), col("vb"))
      .orderBy("event_type", "lag")
      .finishIf()
    byMin.unpersistIf()
    out
  }

  /** e17/e23's per-event flag frame over a cached (event_id, event_type,
    * value) projection: each event with 0/1 flags `zf` (e5's |z| > 3),
    * `rf` (e6's |robust z| > 3.5) and `qf` (e7's IQR fence). One
    * combined per-type aggregate gives the z-stats, the median and the
    * quartile fences off the same scan; MAD is a percentile of
    * |value − med| — inherently a second pass, but over the cached
    * projection, not a fact rescan. Each detector's expression is the
    * standalone detector's, so the oracles (their predicates verbatim)
    * hash-match. */
  private def detectorFlags(ev: DataFrame): DataFrame = {
    val st = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"), dsum(col("value")).as("s1"),
        dsumProduct(col("value"), col("value")).as("s2"),
        percentile("value", 0.5).as("med"),
        percentile("value", 0.25).as("q1"),
        percentile("value", 0.75).as("q3"))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("sd", sampleSd)
      .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
    val mad = ev.join(broadcast(st.select("event_type", "med")), "event_type")
      .withColumn("ad", abs(col("value") - col("med")))
      .groupBy("event_type").agg(percentile("ad", 0.5).as("mad"))
    val z = (col("value") - col("mean")) / col("sd")
    val rz = (col("value") - col("med")) / (lit(1.4826) * col("mad"))
    ev.join(broadcast(st), "event_type")
      .join(broadcast(mad), "event_type")
      .withColumn("zf", when(abs(z) > 3, 1L).otherwise(0L))
      .withColumn("rf", when(abs(rz) > 3.5, 1L).otherwise(0L))
      .withColumn("qf",
        when(col("value") < col("lo") || col("value") > col("hi"), 1L)
          .otherwise(0L))
  }

  /** e17_ensemble — consensus outliers: an event flags only when ≥ 2 of
    * the three statistical detectors (e5 z-score, e6 median/MAD, e7
    * IQR fence) agree. Single-detector flags are threshold artifacts as
    * often as anomalies; the vote is the cheapest variance-reduction an
    * anomaly pipeline has (the reference runs exactly one detector —
    * this is the first capability a production user bolts on).
    *
    * Scale: the fact is projected to (event_id, event_type, value)
    * and CACHED ONCE — the z/IQR stats and the median come from a
    * single combined aggregate over it, the MAD needs one more pass
    * (it is a percentile of a derived column), and the flag pass
    * derives all three detectors' predicates from one scan with the
    * per-type stats broadcast. The parquet fact is read once, where
    * the naive three-detector union read it four times (the r3
    * verdict's named waste — 4 full fact reads at 100 TB).
    * Numerically each detector's expression is unchanged, so the
    * oracle (the three detectors' predicates unioned verbatim) still
    * hash-matches. [sql-oracle]. */
  def e17Ensemble(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value")).cache()
    val out = detectorFlags(ev)
      .withColumn("votes", col("zf") + col("rf") + col("qf"))
      .filter(col("votes") >= 2)
      .select(col("event_id"), col("event_type"), col("value"), col("votes"))
      .orderBy("event_id")
      .finishIf()
    ev.unpersistIf()
    out
  }

  /** e18_window_drift — two-sample sliding mean-shift scan per key
    * (changepoint LOCALIZATION): at every event, compare the mean of
    * the W rows ending just before it against the mean of the W rows
    * starting at it, and rank the largest |after − before| level moves
    * per key. Complements a4's CUSUM: CUSUM integrates small sustained
    * drift from a fixed baseline (detects THAT the level moved), the
    * two-window scan is local and baseline-free (localizes WHERE it
    * moved, and again on every subsequent shift without the
    * reset-on-alarm recurrence that makes CUSUM sequential).
    *
    * Scale: bounded ±W row frames per key — e3's class: one hash
    * partition per key, no global sort, no unbounded frame. The window
    * sums are exact decimal (frame-order-independent), the shift score
    * is identical double arithmetic on both engines, and the per-key
    * top-20 rides TopKPerGroup's bounded heaps, not a full-sort window
    * rank. [sql-oracle]. */
  def e18WindowDrift(s: SparkSession, dir: String, w: Int = 50,
      topK: Int = 20): DataFrame =
    windowDrift(Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        col("ts").cast("long").as("secs"), col("value")), w, topK)

  /** The full-window shift scan of [[windowDrift]] (every row with W
    * complete rows on each side, unranked) — the stage the st17
    * streaming twin replays row-for-row.
    *
    * O(n), not O(n·w): Spark evaluates a bounded SLIDING frame by
    * re-aggregating the whole ±w frame for every output row
    * (SlidingWindowFunctionFrame cannot retract), so the direct
    * windowed-sum form costs n·w decimal folds per sum — ~10⁹ at 10M
    * events, on only as many threads as there are event types, and it
    * measured SUPERLINEAR (14× for 10× data) on the sf1→sf10 decade.
    * Instead compute ONE running decimal prefix sum (incremental
    * unbounded-preceding frame, O(1)/row) and recover each bounded sum
    * as a difference of prefix values via lag/lead:
    * sum[-w,-1] = cum(rn−1) − cum(rn−1−w), sum[0,w−1] = cum(rn+w−1) −
    * cum(rn−1). Decimal subtraction is exact, so every sum — and the
    * double it casts to — is bit-identical to the windowed-sum form
    * the DuckDB oracle still states (its 50-row sums never reach 2⁵³
    * unscaled, so its double casts are exact too). All window
    * expressions share one (partition, order) spec → a single sort,
    * one WindowExec pass. Measured: sf0.1 1.25 s → 0.61 s, sf10
    * 73.0 s → 16.8 s (exponent 1.16 → 0.83); the residual sf10 cost
    * is the per-key sort on only |event_type| = 5 hash partitions. */
  def driftScan(ev: DataFrame, w: Int = 50): DataFrame = {
    val ord = Window.partitionBy("event_type").orderBy("secs", "event_id")
    val dec = DecimalType(28, 6)
    ev
      .withColumn("rn", row_number().over(ord))
      .withColumn("cum", sum(col("value").cast(dec))
        .over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_prev", coalesce(lag(col("cum"), 1).over(ord),
        lit(0).cast(dec)))
      .withColumn("cum_prev_w", coalesce(lag(col("cum"), w + 1).over(ord),
        lit(0).cast(dec)))
      .withColumn("cum_fwd", lead(col("cum"), w - 1).over(ord))
      // a full before-window exists iff rn > w; a full after-window
      // iff the (w−1)-ahead prefix value exists
      .filter(col("rn") > w && col("cum_fwd").isNotNull)
      .withColumn("nb", lit(w).cast("long"))
      .withColumn("na", lit(w).cast("long"))
      .withColumn("sb", (col("cum_prev") - col("cum_prev_w")).cast("double"))
      .withColumn("sa", (col("cum_fwd") - col("cum_prev")).cast("double"))
      .withColumn("shift", col("sa") / col("na") - col("sb") / col("nb"))
      .drop("rn", "cum", "cum_prev", "cum_prev_w", "cum_fwd")
  }

  /** Chunk-parallel twin of [[driftScan]], BIT-IDENTICAL output: the
    * window form's parallelism is capped at |event_type| (5 in the
    * driver data — five tasks sort 2M rows each at sf10 while 27 cores
    * idle; on a 1000-executor cluster the cap is the whole plan). This
    * variant makes parallelism keys × chunks:
    *
    * 1. Fine TIME buckets (monotone in `secs`, ties share a bucket, so
    *    bucket order is consistent with the (secs, event_id) sort).
    * 2. One bounded driver collect of the (key, bucket) COUNT grid
    *    (≤ keys·F cells of three longs — the a4 boundary-table
    *    discipline, an aggregate, never row data) → cumulative base
    *    rank per bucket, broadcast.
    * 3. row_number within (key, bucket) — parallelism keys·F — plus
    *    the broadcast base gives every row its EXACT global rank rn.
    * 4. chunk = rn div C; each row also copies to the neighbor chunk
    *    whose ±w frame needs it (rank arithmetic alone decides — the
    *    copied halo makes every chunk's array a CONTIGUOUS global rank
    *    range, so frames never cross a task boundary).
    * 5. One repartition on (key, chunk) + in-partition sort + a
    *    group-contiguous mapPartitions scan (the a4 scanChunk shape):
    *    per-value HALF_UP 6dp unscaled longs, window sums as integer
    *    adds, one correctly-rounded decimal→double cast per window —
    *    [[graft.streaming.StreamDrift]]'s proven spelling of
    *    [[driftScan]]'s DECIMAL sums, asserted bit-equal by spec.
    *
    * Scale: every stage is keys·F or keys·chunks parallel; shuffled
    * volume is n·(1 + 2w/C) rows (halo overhead 2w/C ≈ 0.2% at the
    * defaults). `bounds` is [[ChunkScan.measure]] over event_type and
    * secs; [[windowDrift]] runs this kernel only where [[ChunkScan]]
    * picks it. Measured min-of-3: sf10 16.8 s (window form) → 4.18 s;
    * sf1 2.53 → 2.05 s; sf0.1 rides the window form. */
  def driftScanChunked(ev: DataFrame, w: Int, bounds: ChunkScan.Bounds[Long],
      fineBuckets: Int = DriftBuckets, chunkRows: Long = 65536): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val typed = ev.select(col("event_id").cast("long"),
        col("event_type"), col("secs").cast("long"),
        col("value").cast("double"))
      .as[(Long, String, Long, Double)]
    val (minS, maxS) = (bounds.lo, bounds.hi)
    val span = math.max(maxS - minS + 1, 1L)
    val F = fineBuckets.toLong
    def bucketOf(secs: Long): Int = (((secs - minS) * F) / span).toInt
    // bounded collect: the (key, bucket) count grid
    val grid = typed.map(r => (r._2, bucketOf(r._3)))
      .toDF("k", "fb").groupBy("k", "fb").count()
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(2)))
    val base: Map[(String, Int), Long] = {
      val byKey = grid.groupBy(_._1._1)
      byKey.iterator.flatMap { case (k, cells) =>
        var acc = 0L
        cells.sortBy(_._1._2).map { case ((_, fb), c) =>
          val b = ((k, fb), acc); acc += c; b
        }
      }.toMap
    }
    val nPerKey: Map[String, Long] =
      grid.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val baseB = s.sparkContext.broadcast(base)
    val nB = s.sparkContext.broadcast(nPerKey)
    val C = chunkRows
    val fbw = Window.partitionBy("k", "fb").orderBy("secs", "event_id")
    val ranked = typed.toDF("event_id", "k", "secs", "value")
      // plain integer-div arithmetic (r8): SQL `div` is long division
      // truncating toward zero, exactly bucketOf's `/` on non-negative
      // longs — no UDF serialization boundary for a one-op bucket
      .withColumn("fb",
        expr(s"cast(((secs - ${minS}L) * ${F}L) div ${span}L as int)"))
      .withColumn("rloc", row_number().over(fbw))
    val withRn = ranked.as[(Long, String, Long, Double, Int, Int)]
      .map { case (id, k, secs, v, fb, rloc) =>
        (id, k, secs, v, baseB.value((k, fb)) + rloc - 1)
      }
    // home copy + the halo copies the neighbors' frames need
    val fanned = withRn.flatMap { case (id, k, secs, v, rn) =>
      val c = rn / C
      val m = rn % C
      val out = List.newBuilder[(Long, String, Long, Double, Long, Long)]
      out += ((id, k, secs, v, rn, c))
      if (m >= C - w) out += ((id, k, secs, v, rn, c + 1)) // before-halo
      if (c > 0 && m <= w - 2) out += ((id, k, secs, v, rn, c - 1)) // after-halo
      out.result()
    }.toDF("event_id", "k", "secs", "value", "rn", "chunk")
    val scanned = fanned
      .repartition(col("k"), col("chunk"))
      .sortWithinPartitions("k", "chunk", "rn")
      .as[(Long, String, Long, Double, Long, Long)]
      .mapPartitions { it =>
        ChunkScan.runs(it)(r => (r._2, r._6)).flatMap { case ((k, c), run) =>
          val arr = run.toArray
          val nKey = nB.value(k)
          val micros = arr.map(r => micro6(r._4))
          // prefix(i) = Σ micros(0..i−1) — exact integer adds
          val prefix = new Array[Long](arr.length + 1)
          var i = 0
          while (i < arr.length) { prefix(i + 1) = prefix(i) + micros(i); i += 1 }
          arr.iterator.zipWithIndex.collect {
            case ((id, key, secs, v, rn, _), p)
                if rn / C == c && rn >= w && rn + w - 1 < nKey =>
              // halo contiguity: the array holds every rank in its
              // range, so the ±w frame is local prefix arithmetic
              val sb = microsToDouble(prefix(p) - prefix(p - w))
              val sa = microsToDouble(prefix(p + w) - prefix(p))
              (id, key, secs, v, w.toLong, w.toLong, sb, sa,
                sa / w - sb / w)
          }
        }
      }
      .toDF("event_id", "event_type", "secs", "value", "nb", "na", "sb",
        "sa", "shift")
    scanned
  }

  private[graft] def micro6(x: Double): Long =
    (BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      * BigDecimal(1000000)).toLongExact

  /** Exact decimal(…,6) → double: one correctly-rounded cast, the same
    * step as the batch scan's `.cast("double")` on the window sum. */
  private[graft] def microsToDouble(sum: Long): Double =
    new java.math.BigDecimal(java.math.BigInteger.valueOf(sum), 6).doubleValue()

  /** Fine time buckets per key of [[driftScanChunked]] — its cells
    * per key in [[ChunkScan]]'s grid. */
  private val DriftBuckets = 4096

  /** Generic core of [[e18WindowDrift]] over any
    * (event_id, event_type, secs, value) frame. [[ChunkScan]] picks the
    * keys×chunks-parallel [[driftScanChunked]] or the |keys|-parallel
    * [[driftScan]] from the input's size and key count (bit-identical —
    * spec-pinned). */
  def windowDrift(ev: DataFrame, w: Int = 50, topK: Int = 20): DataFrame = {
    val b = ChunkScan.measure[Long](ev, col("event_type"), col("secs"))
    val scan =
      if (ChunkScan.chunked(b.rows, b.keys, DriftBuckets)) driftScanChunked(ev, w, b)
      else driftScan(ev, w)
    graft.plans.TopKPerGroup.perKey(scan,
        Seq(col("event_type")),
        Seq(abs(col("shift")).desc, col("event_id")), topK)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("shift"), 6).as("shift"), col("rank").as("rn"))
      .orderBy("event_type", "rn")
  }

  val oracle: Map[String, String] = Map(
    "e19_autocorr" ->
      """WITH bm AS (SELECT epoch(date_trunc('minute', ts)) AS m, event_type,
        |  COUNT(*) AS nm,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sm
        |  FROM events GROUP BY 1, 2),
        |v AS (SELECT m, event_type, sm / nm AS v FROM bm),
        |l(lag) AS (VALUES (1), (5), (15)),
        |p AS (SELECT a.event_type, l.lag, a.v AS va, b.v AS vb
        |      FROM v a CROSS JOIN l JOIN v b
        |        ON b.event_type = a.event_type AND b.m = a.m + l.lag * 60),
        |st AS (SELECT event_type, lag, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(va AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sx,
        |  CAST(CAST(SUM(CAST(vb AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sy,
        |  CAST(CAST(SUM(CAST(va * va AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sxx,
        |  CAST(CAST(SUM(CAST(vb * vb AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS syy,
        |  CAST(CAST(SUM(CAST(va * vb AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sxy
        |  FROM p GROUP BY 1, 2)
        |SELECT event_type, lag, n,
        |  COALESCE(CAST(TRY_CAST(CAST((sxy - sx * sy / n)
        |    / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), (sxy - sx * sy / n)
        |    / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))) AS r
        |FROM st
        |WHERE n > 1 AND (sxx - sx * sx / n) > 0 AND (syy - sy * sy / n) > 0
        |ORDER BY event_type, lag""".stripMargin,
    "e18_window_drift" ->
      """WITH t AS (SELECT event_id, event_type,
        |    epoch(date_trunc('second', ts)) AS secs, value FROM events),
        |w AS (SELECT event_id, event_type, value,
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY secs, event_id
        |      ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING) AS nb,
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY secs, event_id
        |      ROWS BETWEEN CURRENT ROW AND 49 FOLLOWING) AS na,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
        |      PARTITION BY event_type ORDER BY secs, event_id
        |      ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING) AS DOUBLE) AS sb,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
        |      PARTITION BY event_type ORDER BY secs, event_id
        |      ROWS BETWEEN CURRENT ROW AND 49 FOLLOWING) AS DOUBLE) AS sa
        |  FROM t),
        |d AS (SELECT event_id, event_type, value,
        |        sa / na - sb / nb AS shift
        |      FROM w WHERE nb = 50 AND na = 50),
        |r AS (SELECT event_id, event_type, value, shift,
        |        ROW_NUMBER() OVER (PARTITION BY event_type
        |          ORDER BY abs(shift) DESC, event_id) AS rn
        |      FROM d)
        |SELECT event_id, event_type, value,
        |       COALESCE(CAST(TRY_CAST(CAST(shift AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), shift) AS shift, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= 20 ORDER BY event_type, rn""".stripMargin,
    "e17_ensemble" ->
      s"""WITH $zStatsCte,
         |z5 AS (SELECT e.event_id FROM events e JOIN st USING(event_type)
         |       WHERE ABS((e.value - s1/n) / sqrt((s2 - s1*s1/n)/(n-1))) > 3),
         |med AS (SELECT event_type, QUANTILE_CONT(value, 0.5) AS med
         |        FROM events GROUP BY event_type),
         |dd AS (SELECT e.event_id, e.event_type, e.value, med,
         |         ABS(e.value - med) AS ad FROM events e JOIN med USING(event_type)),
         |md AS (SELECT event_type, QUANTILE_CONT(ad, 0.5) AS mad FROM dd GROUP BY event_type),
         |r6 AS (SELECT dd.event_id FROM dd JOIN md USING(event_type)
         |       WHERE ABS((dd.value - dd.med) / (1.4826 * mad)) > 3.5),
         |q7 AS (SELECT event_type,
         |         QUANTILE_CONT(value, 0.25) AS q1, QUANTILE_CONT(value, 0.75) AS q3
         |       FROM events GROUP BY event_type),
         |f7 AS (SELECT event_type, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM q7),
         |i7 AS (SELECT e.event_id FROM events e JOIN f7 USING(event_type)
         |       WHERE e.value < lo OR e.value > hi),
         |v AS (SELECT event_id, COUNT(*) AS votes
         |      FROM (SELECT * FROM z5 UNION ALL SELECT * FROM r6
         |            UNION ALL SELECT * FROM i7) u
         |      GROUP BY event_id HAVING COUNT(*) >= 2)
         |SELECT e.event_id, e.event_type, e.value, votes
         |FROM events e JOIN v USING(event_id) ORDER BY e.event_id""".stripMargin,
    "e16_correlation" ->
      """WITH bym AS (SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS m,
        |  event_type, COUNT(*) AS nm,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sm
        | FROM events GROUP BY m, event_type),
        |v AS (SELECT m, event_type, sm / nm AS v FROM bym),
        |pr AS (SELECT a.m, a.event_type AS ta, b.event_type AS tb,
        |         a.v AS va, b.v AS vb
        |       FROM v a JOIN v b ON a.m = b.m AND a.event_type < b.event_type),
        |st AS (SELECT ta, tb, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(va AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sx,
        |  CAST(CAST(SUM(CAST(vb AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sy,
        |  CAST(CAST(SUM(CAST(va * va AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sxx,
        |  CAST(CAST(SUM(CAST(vb * vb AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS syy,
        |  CAST(CAST(SUM(CAST(va * vb AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sxy
        | FROM pr GROUP BY ta, tb)
        |SELECT ta, tb, n,
        | COALESCE(CAST(TRY_CAST(CAST((sxy - sx*sy/n) / sqrt((sxx - sx*sx/n) * (syy - sy*sy/n)) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), (sxy - sx*sy/n) / sqrt((sxx - sx*sx/n) * (syy - sy*sy/n))) AS r
        |FROM st
        |WHERE n > 1 AND sxx - sx*sx/n > 0 AND syy - sy*sy/n > 0
        |ORDER BY ta, tb""".stripMargin,
    "e15_interpolate" ->
      """WITH g AS (SELECT event_id, user_id,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS secs,
        |  CASE WHEN CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) > 10
        |       THEN value END AS v
        |FROM events),
        |n AS (SELECT *,
        |  LAST_VALUE(v IGNORE NULLS) OVER wp AS pv,
        |  LAST_VALUE(CASE WHEN v IS NOT NULL THEN secs END IGNORE NULLS) OVER wp AS ps,
        |  FIRST_VALUE(v IGNORE NULLS) OVER wn AS nv,
        |  FIRST_VALUE(CASE WHEN v IS NOT NULL THEN secs END IGNORE NULLS) OVER wn AS ns
        |FROM g
        |WINDOW wp AS (PARTITION BY user_id ORDER BY secs, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |       wn AS (PARTITION BY user_id ORDER BY secs, event_id
        |              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT event_id, user_id, secs, v,
        | CASE WHEN v IS NOT NULL THEN v
        |      WHEN pv IS NOT NULL AND nv IS NOT NULL AND ns > ps
        |        THEN COALESCE(CAST(TRY_CAST(CAST(pv + (nv - pv) * (CAST(secs - ps AS DOUBLE) / CAST(ns - ps AS DOUBLE)) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), pv + (nv - pv) * (CAST(secs - ps AS DOUBLE) / CAST(ns - ps AS DOUBLE)))
        |      WHEN pv IS NOT NULL THEN pv
        |      ELSE nv END AS filled,
        | v IS NULL AS was_gap
        |FROM n ORDER BY event_id""".stripMargin,
    "e13_gap_fill" ->
      """WITH g AS (SELECT event_id, user_id,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS secs,
        |  CASE WHEN CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) > 10
        |       THEN value END AS v
        |FROM events)
        |SELECT event_id, user_id, secs, v,
        | LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id
        |   ORDER BY secs, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
        | v IS NULL AS was_gap
        |FROM g ORDER BY event_id""".stripMargin,
    "e1_json_parse" ->
      """SELECT event_id, CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) AS k, value
        |FROM events WHERE CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) > 50
        |ORDER BY event_id""".stripMargin,
    "e2_tumbling" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h, event_type,
        | COUNT(*) AS n, CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events GROUP BY h, event_type ORDER BY h, event_type""".stripMargin,
    "e3_rolling" ->
      """SELECT event_id, user_id, value,
        | COALESCE(CAST(TRY_CAST(CAST(AVG(value) OVER w AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), AVG(value) OVER w) AS roll_avg,
        | COALESCE(CAST(TRY_CAST(CAST(CASE WHEN COUNT(*) OVER w > 1 THEN STDDEV_SAMP(value) OVER w ELSE 0.0 END AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), CASE WHEN COUNT(*) OVER w > 1 THEN STDDEV_SAMP(value) OVER w ELSE 0.0 END) AS roll_sd,
        | COUNT(*) OVER w AS roll_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "e4_sessionize" ->
      """WITH g AS (SELECT user_id, event_id, value,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS secs FROM events),
        |f AS (SELECT *, CASE WHEN LAG(secs) OVER w IS NULL
        |                       OR secs - LAG(secs) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
        |      FROM g WINDOW w AS (PARTITION BY user_id ORDER BY secs, event_id)),
        |s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY secs, event_id
        |                                 ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        |SELECT user_id, CAST(sid AS BIGINT) AS sid, COUNT(*) AS n_events,
        | MIN(secs) AS start_s, MAX(secs) AS end_s,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin,
    "e5_zscore" ->
      s"""WITH $zStatsCte
         |SELECT e.event_id, e.event_type, e.value,
         | COALESCE(CAST(TRY_CAST(CAST((e.value - s1/n) / sqrt((s2 - s1*s1/n)/(n-1)) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), (e.value - s1/n) / sqrt((s2 - s1*s1/n)/(n-1))) AS z
         |FROM events e JOIN st USING(event_type)
         |WHERE ABS((e.value - s1/n) / sqrt((s2 - s1*s1/n)/(n-1))) > 3
         |ORDER BY event_id""".stripMargin,
    "e6_robust" ->
      """WITH med AS (SELECT event_type, QUANTILE_CONT(value, 0.5) AS med
        |             FROM events GROUP BY event_type),
        |d AS (SELECT e.event_id, e.event_type, e.value, med,
        |        ABS(e.value - med) AS ad FROM events e JOIN med USING(event_type)),
        |md AS (SELECT event_type, QUANTILE_CONT(ad, 0.5) AS mad FROM d GROUP BY event_type)
        |SELECT d.event_id, d.event_type, d.value,
        | COALESCE(CAST(TRY_CAST(CAST((d.value - d.med) / (1.4826 * mad) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), (d.value - d.med) / (1.4826 * mad)) AS rz
        |FROM d JOIN md USING(event_type)
        |WHERE ABS((d.value - d.med) / (1.4826 * mad)) > 3.5
        |ORDER BY event_id""".stripMargin,
    "e7_iqr" ->
      """WITH st AS (SELECT event_type,
        |  QUANTILE_CONT(value, 0.25) AS q1, QUANTILE_CONT(value, 0.75) AS q3
        |  FROM events GROUP BY event_type),
        |f AS (SELECT event_type, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM st)
        |SELECT e.event_id, e.event_type, e.value,
        | COALESCE(CAST(TRY_CAST(CAST(lo AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), lo) AS lo, COALESCE(CAST(TRY_CAST(CAST(hi AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), hi) AS hi
        |FROM events e JOIN f USING(event_type)
        |WHERE e.value < lo OR e.value > hi
        |ORDER BY event_id""".stripMargin,
    "e8_seasonal" ->
      """WITH st AS (SELECT event_type, CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS hr,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS s1,
        |  CAST(CAST(SUM(CAST(value * value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS s2
        | FROM events GROUP BY event_type, hr)
        |SELECT e.event_id, e.event_type, CAST(EXTRACT(HOUR FROM e.ts) AS INTEGER) AS hr, e.value,
        | COALESCE(CAST(TRY_CAST(CAST((e.value - s1/n) / sqrt((s2 - s1*s1/n)/(n-1)) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), (e.value - s1/n) / sqrt((s2 - s1*s1/n)/(n-1))) AS rz
        |FROM events e JOIN st ON e.event_type = st.event_type
        |  AND CAST(EXTRACT(HOUR FROM e.ts) AS INTEGER) = st.hr
        |WHERE ABS((e.value - s1/n) / sqrt((s2 - s1*s1/n)/(n-1))) > 3
        |ORDER BY event_id""".stripMargin,
    "e22_seasonal_strength" ->
      """WITH prof AS (SELECT event_type,
        |    CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS hr, COUNT(*) AS nh,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS s1h
        |  FROM events GROUP BY 1, 2),
        |j AS (SELECT e.event_type, e.value, (e.value - s1h / nh) AS resid
        |  FROM events e JOIN prof ON e.event_type = prof.event_type
        |    AND CAST(EXTRACT(HOUR FROM e.ts) AS INTEGER) = prof.hr),
        |agg AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS s1,
        |    CAST(CAST(SUM(CAST(value * value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS s2,
        |    CAST(CAST(SUM(CAST(resid * resid AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sr2
        |  FROM j GROUP BY event_type)
        |SELECT event_type, n,
        |  COALESCE(CAST(TRY_CAST(CAST(1.0 - sr2 / (s2 - s1 * s1 / n) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), 1.0 - sr2 / (s2 - s1 * s1 / n)) AS strength
        |FROM agg WHERE s2 - s1 * s1 / n > 0
        |ORDER BY event_type""".stripMargin,
    "e23_detector_scorecard" ->
      s"""WITH $zStatsCte,
         |med AS (SELECT event_type, QUANTILE_CONT(value, 0.5) AS med
         |        FROM events GROUP BY event_type),
         |dd AS (SELECT e.event_id, e.event_type, e.value, med,
         |         ABS(e.value - med) AS ad FROM events e JOIN med USING(event_type)),
         |md AS (SELECT event_type, QUANTILE_CONT(ad, 0.5) AS mad FROM dd GROUP BY event_type),
         |q7 AS (SELECT event_type,
         |         QUANTILE_CONT(value, 0.25) AS q1, QUANTILE_CONT(value, 0.75) AS q3
         |       FROM events GROUP BY event_type),
         |f7 AS (SELECT event_type, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM q7),
         |fl AS (SELECT e.event_type,
         |         CASE WHEN ABS((e.value - s1/n) / sqrt((s2 - s1*s1/n)/(n-1))) > 3
         |              THEN 1 ELSE 0 END AS zf,
         |         CASE WHEN ABS((e.value - med.med) / (1.4826 * md.mad)) > 3.5
         |              THEN 1 ELSE 0 END AS rf,
         |         CASE WHEN e.value < f7.lo OR e.value > f7.hi THEN 1 ELSE 0 END AS qf
         |       FROM events e JOIN st USING(event_type) JOIN med USING(event_type)
         |            JOIN md USING(event_type) JOIN f7 USING(event_type))
         |SELECT event_type, COUNT(*) AS n_events,
         |  CAST(SUM(zf) AS BIGINT) AS n_z, CAST(SUM(rf) AS BIGINT) AS n_mad,
         |  CAST(SUM(qf) AS BIGINT) AS n_iqr,
         |  CAST(SUM(CASE WHEN zf + rf + qf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_consensus
         |FROM fl GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e21_coverage" ->
      """WITH mc AS (SELECT event_type,
        |    CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS m,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, COUNT(*) AS observed_min,
        |  (MAX(m) - MIN(m)) / 60 + 1 AS span_min,
        |  CAST(SUM(n) AS BIGINT) AS n_events,
        |  COUNT(*) * 1.0 / ((MAX(m) - MIN(m)) / 60 + 1) AS coverage
        |FROM mc GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e20_rate_burst" ->
      """WITH mc AS (SELECT event_type,
        |    CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS m,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, COUNT(*) AS cnt,
        |    CAST(CAST(SUM(CAST(n AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS s1,
        |    CAST(CAST(SUM(CAST(n * n AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS s2
        |  FROM mc GROUP BY event_type)
        |SELECT mc.event_type, m, n,
        |  COALESCE(CAST(TRY_CAST(CAST((n - s1/cnt) / sqrt((s2 - s1*s1/cnt)/(cnt-1)) AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), (n - s1/cnt) / sqrt((s2 - s1*s1/cnt)/(cnt-1))) AS z
        |FROM mc JOIN st USING (event_type)
        |WHERE sqrt((s2 - s1*s1/cnt)/(cnt-1)) > 0
        |  AND (n - s1/cnt) / sqrt((s2 - s1*s1/cnt)/(cnt-1)) > 3
        |ORDER BY event_type, m""".stripMargin,
    "e9_rate" ->
      """SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS m, COUNT(*) AS n,
        | CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
        | CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) * 1.0 / COUNT(*) AS err_ratio
        |FROM events GROUP BY m ORDER BY m""".stripMargin,
    "e10_top_outliers" ->
      s"""WITH $zStatsCte,
         |z AS (SELECT e.event_id, e.event_type, e.value,
         |  CAST(epoch(date_trunc('second', e.ts)) AS BIGINT) AS secs,
         |  (e.value - s1/n) / sqrt((s2 - s1*s1/n)/(n-1)) AS z
         | FROM events e JOIN st USING(event_type))
         |SELECT event_id, event_type, value, secs, COALESCE(CAST(TRY_CAST(CAST(z AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE), z) AS z, CAST(rn AS INTEGER) AS rn
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
         |                                   ORDER BY secs DESC, event_id DESC) AS rn
         |      FROM z WHERE ABS(z) > 2) t
         |WHERE rn <= 5 ORDER BY event_type, rn""".stripMargin
  )
}

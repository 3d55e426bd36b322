package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupStateTimeout, GroupState, OutputMode}

import graft.ml.GraftIsolationForest

/** One parsed telemetry reading (Ingest.parseTelemetry row, typed).
  * The plant-specific fields are sparse (producer-3.py:91-110): only
  * the pair owned by the row's plant_type is set; defaults keep
  * shared-fields-only construction (tests, generic sources) compiling. */
case class Reading(ts: java.sql.Timestamp, plant_type: String,
    power_output: Double, demand: Double, grid_frequency: Double,
    fuel_consumption: Option[Double] = None,
    emissions: Option[Double] = None,
    wind_speed: Option[Double] = None,
    turbine_efficiency: Option[Double] = None,
    solar_radiation: Option[Double] = None,
    panel_temperature: Option[Double] = None,
    water_flow_rate: Option[Double] = None,
    turbine_rotation_speed: Option[Double] = None)

/** Flagged outlier with both detector scores. */
case class Flagged(ts: java.sql.Timestamp, plant_type: String,
    power_output: Double, zscore: Double, if_score: Double)

/** Bounded per-key sliding-window state: ring buffer of the last
  * `cap` feature VECTORS, flattened row-major (reference: deque
  * maxlen=500 of per-type feature records). `dim` is fixed by the
  * first reading of the key (0 = not yet seen). */
case class RingState(buf: Array[Double], pos: Int, count: Long, dim: Int)

/** st3_sliding_detector — per-key sliding-window anomaly detection via
  * `flatMapGroupsWithState` (SURVEY.md §2.H; reference app/app3_ML.py:
  * 143-182: per-plant_type 500-row window, Isolation Forest re-fit per
  * 5 s tick, flagged outliers appended to a capped table).
  *
  * MULTIVARIATE, per the reference's `plant_features` (app3_ML.py:
  * 31-36): each plant type is scored on [power_output, demand,
  * specific1, specific2] — e.g. wind on wind_speed×turbine_efficiency —
  * so a JOINT anomaly (each marginal in range, combination unusual)
  * is caught even when the univariate z-score on power_output is quiet.
  * Rows missing the key's feature set are dropped from the window
  * (the reference's per-type dropna, app3_ML.py:119-121).
  *
  * CONTAMINATION-QUANTILE thresholding, per the reference's
  * IsolationForest(contamination=0.05) (app3_ML.py:164-166): the IF cut
  * is the (1-contamination) quantile of the current window's own
  * scores — self-calibrating as window composition shifts, instead of
  * a fixed score constant that drifts out of tune.
  *
  * Re-fit granularity = once per key per micro-batch (the Spark-native
  * form of the reference's 5 s refit timer), from the window as it
  * stood at batch start; incoming rows are scored in event-time order
  * and then appended to the ring.
  *
  * Scale: state is O(cap·dim) doubles per key — ~16 KB at cap 500,
  * dim 4 — and keys are hash-partitioned across executors, so state
  * scales with key cardinality only, never input volume. Scoring is
  * executor-local; the only shuffle is the hash exchange on the
  * `plant_type` column.
  */
object SlidingDetector {

  val WindowCap = 500        // reference deque maxlen
  val MinTrain = 30          // don't score until the window has this many rows
  val ZThresh = 3.0
  val Contamination = 0.05   // reference IsolationForest(contamination=0.05)

  /** The reference's per-type feature vector (app3_ML.py:31-36):
    * shared [power_output, demand] plus the type's specific pair when
    * present; shared-only otherwise (generic keys / legacy sources). */
  private[streaming] def featuresOf(key: String, r: Reading): Array[Double] = {
    val specific = key match {
      case "thermal" => (r.fuel_consumption, r.emissions)
      case "wind"    => (r.wind_speed, r.turbine_efficiency)
      case "solar"   => (r.solar_radiation, r.panel_temperature)
      case "hydro"   => (r.water_flow_rate, r.turbine_rotation_speed)
      case _         => (None, None)
    }
    specific match {
      case (Some(a), Some(b)) => Array(r.power_output, r.demand, a, b)
      case _                  => Array(r.power_output, r.demand)
    }
  }

  /** Mean/σ of ring column 0 (power_output) over the first n rows. */
  private def statsCol0(buf: Array[Double], n: Int, dim: Int): (Double, Double) = {
    var s = 0.0; var i = 0
    while (i < n) { s += buf(i * dim); i += 1 }
    val mean = s / n
    var v = 0.0; i = 0
    while (i < n) { val d = buf(i * dim) - mean; v += d * d; i += 1 }
    (mean, math.sqrt(v / n))
  }

  /** The contamination cut: strictly-greater-than this value flags a
    * row as more anomalous than (1-contamination) of the window. */
  private[streaming] def quantileThreshold(scores: Array[Double],
      contamination: Double): Double = {
    val sorted = scores.sorted
    sorted(math.min(sorted.length - 1,
      math.floor((1.0 - contamination) * sorted.length).toInt))
  }

  private[streaming] def detectGroup(key: String, rows: Iterator[Reading],
      state: GroupState[RingState]): Iterator[Flagged] = {
    val st = state.getOption.getOrElse(
      RingState(Array.emptyDoubleArray, 0, 0L, 0))
    var dim = st.dim
    var buf = st.buf.clone()
    var pos = st.pos
    var count = st.count
    val filled = math.min(count, WindowCap.toLong).toInt
    // one refit per key per micro-batch, from the window at batch start;
    // the IF threshold is the window's own (1-contamination) score
    // quantile (reference contamination semantics, app3_ML.py:164-166)
    val window: Array[Array[Double]] =
      if (dim > 0) Array.tabulate(filled)(i => {
        val v = new Array[Double](dim)
        System.arraycopy(buf, i * dim, v, 0, dim)
        v
      }) else Array.empty
    val forest =
      if (filled >= MinTrain)
        GraftIsolationForest.fit(window,
          numTrees = 50, sampleSize = 128, seed = 42L + key.hashCode)
      else null
    val ifThresh =
      if (forest != null) quantileThreshold(window.map(forest.score), Contamination)
      else Double.MaxValue
    val out = Vector.newBuilder[Flagged]
    var n = filled
    rows.toArray.sortBy(r => (r.ts.getTime, r.power_output)).foreach { r =>
      val vec = featuresOf(key, r)
      if (dim == 0) { // first reading of this key fixes the feature set
        dim = vec.length
        buf = new Array[Double](WindowCap * dim)
      }
      if (vec.length == dim) { // rows missing the key's features: dropna
        if (n >= MinTrain) {
          val (mean, sd) = statsCol0(buf, n, dim)
          val z = if (sd > 0) (r.power_output - mean) / sd else 0.0
          val ifs = if (forest != null) forest.score(vec) else 0.5
          if (math.abs(z) > ZThresh || ifs > ifThresh)
            out += Flagged(r.ts, key, r.power_output,
              math.rint(z * 1e6) / 1e6, math.rint(ifs * 1e6) / 1e6)
        }
        System.arraycopy(vec, 0, buf, pos * dim, dim)
        pos = (pos + 1) % WindowCap
        count += 1
        if (n < WindowCap) n += 1
      }
    }
    state.update(RingState(buf, pos, count, dim))
    out.result().iterator
  }

  /** Wire the detector over a parsed telemetry Dataset (streaming or
    * batch — same code path, which is what the specs exercise). State
    * is kept per key indefinitely: the reference's plant_type universe
    * is fixed.
    *
    * Keyed by the `plant_type` column, not by `groupByKey(_.plant_type)`:
    * a key function needs every row decoded into a [[Reading]] on the
    * map side (`AppendColumns`) just to compute the key. A checkpoint
    * written under the key function restarts under the column
    * (OPERATIONS.md "Ingest JSON path"). */
  def detect(parsed: Dataset[Reading]): Dataset[Flagged] = {
    import parsed.sparkSession.implicits._
    parsed.groupBy(col("plant_type")).as[String, Reading]
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        detectGroup)
  }
}

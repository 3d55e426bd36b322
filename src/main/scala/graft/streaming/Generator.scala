package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** st4_generator — synthetic telemetry generator with the reference
  * producer's semantics (producer/producer-3.py:21-77: per-plant-type
  * base levels, 24 h + 12 h seasonal sinusoids, linear concept drift on
  * demand, 10% multiplicative spike/drop anomaly injection,
  * non-negativity clamp, 8 Hz emission) — including the per-plant-type
  * specific fields (producer-3.py:91-110: fuel_consumption/emissions,
  * wind_speed/turbine_efficiency, solar_radiation/panel_temperature,
  * water_flow_rate/turbine_rotation_speed) and their joint anomaly
  * co-injection (producer-3.py:113-124: an anomalous record scales BOTH
  * specific fields — the two-feature joint signal the multivariate
  * detector exists for).
  *
  * Spark-native form: a pure column transform over the `rate` source's
  * monotonically-increasing `value` — every field is a deterministic
  * function of `value`, so the stream is replayable, the generator is
  * exactly-once under retries, and the same transform is testable on a
  * batch range() frame. Fully codegen'd, no shuffle, no state.
  */
object Generator {

  private val plantTypes = Seq("solar", "wind", "hydro", "thermal")
  private val regions = Seq("north", "south", "east", "west", "central")
  private val basePower = Map("solar" -> 120.0, "wind" -> 90.0,
    "hydro" -> 150.0, "thermal" -> 200.0)

  /** Deterministic uniform in [lo, hi): hash of (value, salt) → [0,1).
    * The reference's `random.uniform(lo, hi)` re-expressed replayably. */
  private def u(salt: Int, lo: Double, hi: Double): Column =
    lit(lo) + pmod(xxhash64(col("value"), lit(salt)), lit(100000))
      .cast("double") / lit(100000.0) * lit(hi - lo)

  /** Attach to a `spark.readStream.format("rate")` frame (columns
    * `timestamp, value`) — or any batch frame with a `value` long. */
  def telemetry(rate: DataFrame): DataFrame = {
    val plantType = element_at(
      array(plantTypes.map(lit): _*), (col("value") % 4 + 1).cast("int"))
    val region = element_at(
      array(regions.map(lit): _*), (col("value") % 5 + 1).cast("int"))
    val base = element_at(
      map(basePower.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
      plantType)
    // synthetic clock: 8 Hz from a fixed epoch (reference emission rate)
    val tSec = col("value").cast("double") / 8.0
    val hours = tSec / 3600.0
    val season = sin(hours / lit(24.0) * lit(2 * math.Pi)) * lit(0.30) +
      sin(hours / lit(12.0) * lit(2 * math.Pi)) * lit(0.10)
    // 10% anomaly slots, deterministic in `value`; alternate spike/drop
    val isAnom = pmod(xxhash64(col("value")), lit(10)) === 0
    val anomFactor = when(!isAnom, 1.0)
      .when(pmod(xxhash64(col("value") * 31), lit(2)) === 0, 2.5)
      .otherwise(0.3)
    val power = greatest(lit(0.0),
      base * (lit(1.0) + season) * anomFactor +
        sin(col("value").cast("double")) * lit(2.0)) // small jitter term
    val demand = greatest(lit(0.0),
      lit(100.0) * (lit(1.0) + season) + tSec * lit(0.0005)) // linear drift
    val freq = lit(50.0) + sin(col("value").cast("double") * 0.7) * lit(0.05)
    // Plant-specific fields: in-range uniforms when normal; on an
    // anomaly slot BOTH fields of the type scale jointly, mirroring
    // producer-3.py:113-124 (midpoints of the reference's factor
    // ranges). Types not matching the row's plant_type emit null —
    // the same sparse wide-schema shape the reference's Kafka JSON has.
    def specific(pt: String, c: Column): Column =
      when(plantType === pt, round(c, 6)).otherwise(lit(null).cast("double"))
    val anomUp75 = when(isAnom, 1.75).otherwise(1.0)   // ×[1.5,2.0] midpoint
    val anomUp35 = when(isAnom, 1.35).otherwise(1.0)   // ×[1.2,1.5] midpoint
    val anomDn60 = when(isAnom, 0.6).otherwise(1.0)    // ×[0.5,0.7] midpoint
    val anomDn65 = when(isAnom, 0.65).otherwise(1.0)   // ×[0.5,0.8] midpoint
    rate.select(
      timestamp_millis((lit(1704067200000L) + (col("value") * 125))).as("ts"),
      plantType.as("plant_type"), region.as("region"),
      round(power, 6).as("power_output"),
      round(demand, 6).as("demand"),
      round(freq, 6).as("grid_frequency"),
      specific("thermal", (lit(80.0) * (lit(1.0) + season) + u(11, -10, 10)) * anomUp75)
        .as("fuel_consumption"),
      specific("thermal", u(12, 100, 300) * anomUp35).as("emissions"),
      specific("wind", u(13, 3, 25) * anomDn60).as("wind_speed"),
      specific("wind", u(14, 80, 95) * anomDn65).as("turbine_efficiency"),
      specific("solar", u(15, 200, 1000) * anomUp75).as("solar_radiation"),
      specific("solar", u(16, 20, 80) * anomUp35).as("panel_temperature"),
      specific("hydro", u(17, 50, 300) * anomUp75).as("water_flow_rate"),
      specific("hydro", u(18, 100, 500) * anomDn60).as("turbine_rotation_speed"),
      col("value").as("seq"),
      isAnom.as("is_anomaly"))
  }
}

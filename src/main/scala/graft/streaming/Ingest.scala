package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.FromJsonBytes

/** st1_ingest — Kafka-style JSON ingest with schema enforcement
  * (SURVEY.md §2.H; reference app/app3_ML.py:34-63: readStream from
  * Kafka, `from_json` with an explicit telemetry schema, timestamp
  * conversion, numeric validation / dropna).
  *
  * Takes any DataFrame (streaming or batch) with a string `value`
  * column — the shape Kafka's source emits after
  * `CAST(value AS STRING)` — so the same transform is unit-testable
  * with MemoryStream and attachable to a real Kafka source unchanged.
  *
  * Scale: pure narrow map (parse + filter), no shuffle, one
  * whole-stage-codegen stage whose parse calls Spark's Jackson parser
  * once per row; parallelism = source partitions.
  */
object Ingest {

  /** The plant-specific feature columns (two per plant type — the
    * reference's `plant_features` minus the shared pair,
    * app3_ML.py:31-36); sparse: null unless the row's plant_type owns
    * them (producer-3.py:91-110). */
  val plantSpecificFields: Seq[String] = Seq(
    "fuel_consumption", "emissions",
    "wind_speed", "turbine_efficiency",
    "solar_radiation", "panel_temperature",
    "water_flow_rate", "turbine_rotation_speed")

  /** The reference producer's full record shape (producer/
    * producer-3.py:21-110; consumer schema app3_ML.py:61-76). */
  val telemetrySchema: StructType = StructType(Seq(
    StructField("timestamp", StringType),
    StructField("plant_type", StringType),
    StructField("region", StringType),
    StructField("power_output", DoubleType),
    StructField("demand", DoubleType),
    StructField("grid_frequency", DoubleType)) ++
    plantSpecificFields.map(StructField(_, DoubleType)))

  /** Kafka's wire shape (binary key/value/topic/partition/offset) → the
    * string `value` frame [[parseTelemetry]] takes — the
    * `CAST(value AS STRING)` step of app/app3_ML.py:87-89. Works on any
    * DataFrame with a binary-or-string `value` column, so MemoryStream
    * tests and a real Kafka source share one code path. */
  def valueFrame(kafkaShaped: DataFrame): DataFrame =
    kafkaShaped.selectExpr("CAST(value AS STRING) AS value")

  /** A real Kafka source in the reference's configuration
    * (app/app3_ML.py:79-89: subscribe topic, maxOffsetsPerTrigger
    * throttle), already cast to the `value` frame. COMPILE-LEVEL ONLY
    * in this container: /opt/spark/jars ships no
    * spark-sql-kafka connector jar and there is no network egress, so
    * `.load()` would fail at runtime with "Failed to find data source:
    * kafka" — on a real cluster with the connector on the classpath
    * this works unchanged. The MemoryStream passthrough spec covers
    * everything downstream of `.load()` via [[valueFrame]]. */
  def fromKafka(s: org.apache.spark.sql.SparkSession, bootstrap: String,
      topic: String, maxOffsetsPerTrigger: Long = 10000,
      startingOffsets: String = "latest"): DataFrame =
    valueFrame(s.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
      .option("startingOffsets", startingOffsets)
      .load())

  /** [[fromKafka]] under a [[RateControl]]: the volume dial comes from
    * rc.maxOffsetsPerTrigger (the reference's app3_ML.py:87 knob);
    * pair with [[Pipeline.startControlled]] for the cadence dial. */
  def fromKafka(s: org.apache.spark.sql.SparkSession, bootstrap: String,
      topic: String, rc: RateControl): DataFrame =
    fromKafka(s, bootstrap, topic, rc.maxOffsetsPerTrigger.getOrElse(10000L))

  /** The producer half of the reference loop (producer/producer-3.py:
    * 113-130: serialize, send to `energy_stream`): write a `value`
    * frame (e.g. [[Pipeline.toKafkaValue]] output) to a Kafka topic.
    * COMPILE-LEVEL ONLY in this container, exactly like [[fromKafka]]
    * (no connector jar, no egress); on a real cluster this is the
    * standard Kafka sink with at-least-once checkpointing — pair it
    * with [[StreamDedup]] on the consumer for effectively-once. */
  def toKafka(valueFrame: DataFrame, bootstrap: String, topic: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    valueFrame.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .start()

  /** Parse `value` JSON → typed columns, convert the ISO timestamp, and
    * enforce the reference's validation: shared fields present and
    * numeric (malformed rows → dropped, mirroring dropna). A timestamp
    * that does not parse is malformed too: `try_to_timestamp` gives
    * null, where ANSI `to_timestamp` would stop the query. The sparse
    * plant-specific columns stay nullable — the reference drops rows on
    * the per-type feature subset only (app3_ML.py:119-121), which the
    * detector handles downstream.
    *
    * The parse is [[FromJsonBytes]]: `from_json`'s result, read from
    * the value's UTF-8 bytes (OPERATIONS.md "Ingest JSON path"). It
    * runs inside `inline(array(...))` so that it runs once per row:
    * over a plain Project, Catalyst pushes the validation filter below
    * the parse with the parse substituted into every conjunct (six
    * parses per row in the optimized plan), while a filter on a
    * Generate's output stays above it. */
  def parseTelemetry(raw: DataFrame): DataFrame =
    raw.select(inline(array(FromJsonBytes.col(col("value"), telemetrySchema))))
      .select(Seq(
        try_to_timestamp(col("timestamp")).as("ts"),
        col("plant_type"), col("region"),
        col("power_output"), col("demand"), col("grid_frequency")) ++
        plantSpecificFields.map(col): _*)
      .filter(col("ts").isNotNull && col("plant_type").isNotNull &&
        col("power_output").isNotNull && col("demand").isNotNull &&
        col("grid_frequency").isNotNull)
}

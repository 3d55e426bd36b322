package graft

import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{Generator, OutlierTable, Pipeline, RateControl}

/** Demo main: the reference's live loop running as a real Structured
  * Streaming job on the `rate` source at the producer's 8 Hz — no Kafka
  * needed (swap `format("rate")` for `format("kafka")` + the topic to
  * run against a broker; the downstream plan is identical).
  *
  * Usage: scripts/run.sh graft.Live [seconds] [rowsPerSecond]
  * Prints flagged-outlier and dashboard-table counts on stop.
  */
object Live {
  def main(args: Array[String]): Unit = {
    val seconds = args.headOption.map(_.toInt).getOrElse(10)
    val rps = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    implicit val spark = GraftSession.local(appName = "graft-live")
    val rc = RateControl(rowsPerSecond = Some(rps.toLong))
    val rate = Pipeline.rateSource(spark, rc)
    val flagged = Pipeline.detect(
      Pipeline.toKafkaValue(Generator.telemetry(rate)))
    // one stateful operator per streaming query (Spark constraint on
    // chained flatMapGroupsWithState outside append mode): the detector
    // streams flags in append mode; the dashboard's capped per-entity
    // table is derived from the sink — OutlierTable.table is the
    // single-query streaming alternative when update mode suffices.
    val q = Pipeline.startControlled(flagged, "flags", rc,
      OutputMode.Append)
    q.awaitTermination(seconds * 1000L)
    q.stop()
    import org.apache.spark.sql.functions.col
    val flags = spark.table("flags")
    val table = graft.plans.TopKPerGroup.perKey(flags.toDF(),
      Seq(col("plant_type")), Seq(col("ts").desc), OutlierTable.DefaultCap)
    val n = flags.count()
    val keys = table.select("plant_type").distinct().count()
    println(s"""{"ran_sec":$seconds,"rate_hz":$rps,"flags":$n,"table_rows":${table.count()},"entities":$keys}""")
    spark.stop()
  }
}

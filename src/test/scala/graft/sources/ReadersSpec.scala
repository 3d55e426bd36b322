package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ReadersSpec extends SparkSpec {

  test("csv/jsonl round-trip the documents table under an enforced schema") {
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "lang", "source", "n_chars")
    val schema = docs.schema
    val tmp = tempDir("graft_sources").toString
    docs.write.option("header", "true").csv(s"$tmp/csv")
    docs.write.json(s"$tmp/json")
    val expected = docs.orderBy("doc_id").collect().toSeq
    assert(Readers.csv(spark, s"$tmp/csv", schema)
      .orderBy("doc_id").collect().toSeq == expected)
    assert(Readers.jsonl(spark, s"$tmp/json", schema)
      .orderBy("doc_id").collect().toSeq == expected)
  }

  test("malformed rows drop instead of poisoning the frame") {
    val schema = graft.Tables.documents(spark, sf)
      .select("doc_id", "n_chars").schema
    val tmp = tempDir("graft_bad").toString
    Files.writeString(java.nio.file.Paths.get(s"$tmp/rows.json"),
      """{"doc_id": 1, "n_chars": 10}
        |this is not json
        |{"doc_id": 2, "n_chars": 20}
        |""".stripMargin)
    val got = Readers.jsonl(spark, tmp, schema).orderBy("doc_id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("events reader yields identical instants for both driver ts layouts") {
    // the driver has shipped events.ts two ways: INT64 nanos (rounds 1-4,
    // surfaces as LongType under nanosAsLong) and TIMESTAMP(MICROS, NTZ)
    // (round 5+). Tables.events must normalize both to the same UTC
    // instants or every time-series oracle silently shifts.
    import spark.implicits._
    val tmp = tempDir("graft_tslayout").toString
    val base = graft.Tables.events(spark, sf).limit(200)
      .select(col("event_id"), col("ts"))
    val micros = base.select(col("event_id"), unix_micros(col("ts")).as("us"))
    micros.select(col("event_id"), (col("us") * 1000L).as("ts"))
      .write.parquet(s"$tmp/legacy/events.parquet")
    micros.select(col("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      .write.parquet(s"$tmp/modern/events.parquet")
    val legacy = graft.Tables.events(spark, s"$tmp/legacy")
    val modern = graft.Tables.events(spark, s"$tmp/modern")
    assert(legacy.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(legacy.schema("ts").dataType == modern.schema("ts").dataType)
    val l = legacy.orderBy("event_id").select("ts").as[java.sql.Timestamp].collect().toSeq
    val m = modern.orderBy("event_id").select("ts").as[java.sql.Timestamp].collect().toSeq
    assert(l == m)
    assert(l.nonEmpty)
  }

  test("partitioned sink enables partition pruning on read") {
    val tmp = tempDir("graft_sink").toString
    Sinks.parquetPartitioned(
      graft.Tables.documents(spark, sf).select("doc_id", "lang", "n_chars"),
      s"$tmp/docs", Seq("lang"))
    val back = spark.read.parquet(s"$tmp/docs").filter(col("lang") === "en")
    val expected = graft.Tables.documents(spark, sf)
      .filter(col("lang") === "en").count()
    assert(back.count() == expected)
    // pruned scan: only the lang=en directory is listed in the plan
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
  }
}

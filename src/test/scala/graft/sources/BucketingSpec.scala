package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Co-located join: equal bucketing on the join key must remove every
  * exchange from the join plan. */
class BucketingSpec extends SparkSpec {

  test("partitioned sink prunes partitions at read time (PartitionFilters reach the scan)") {
    val dir = tempDir("sink_prune").toString
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
    Sinks.parquetPartitioned(ev, dir, Seq("event_type"))
    // directory layout: one dir per partition value
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("event_type="))
    assert(dirs.length >= 2, s"expected hive-style dirs, got ${dirs.toSeq}")
    // a predicate on the partition column must prune at PLAN time:
    // the scan's PartitionFilters carry it and only one dir is read
    val q = spark.read.parquet(dir).filter(col("event_type") === "error")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("event_type"), s"no partition filter in:\n$plan")
    // correctness under the layout
    val expected = ev.filter(col("event_type") === "error").count()
    assert(q.count() == expected && expected > 0)
  }

  test("bucketed fact-fact join plans with zero exchanges") {
    val li = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val ord = graft.Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice")
    Bucketing.writeBucketed(li, "li_b", "l_orderkey", 8)
    Bucketing.writeBucketed(ord, "ord_b", "o_orderkey", 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the exchange question is real
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      // and it still computes the right thing
      val expected = li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }
}

package graft

import org.apache.spark.sql.Row

/** Input-LAYOUT invariance over the whole oracled surface: every
  * [sql-oracle] operator must return BIT-IDENTICAL rows when its input
  * tables arrive in a different file/partition layout and row order.
  *
  * Why this is a first-class 100 TB property and not a nicety: on a
  * real cluster the physical layout of a table is an accident of the
  * previous job's parallelism — compaction, re-bucketing, a different
  * writer DOP, task retries, AQE coalescing all reshuffle file
  * boundaries and row order. An operator whose OUTPUT VALUES move with
  * that accident is not reproducible: the same query on the same data
  * gives different answers before and after a routine compaction. The
  * repo's operators claim the stronger property by construction
  * (portable-hash sampling instead of rand(), exact/decimal or
  * order-independent aggregation wherever a result is a double,
  * explicit tie-breaks on every argmax/top-k) — this spec pins the
  * claim mechanically instead of leaving it to code review.
  *
  * Method: rewrite every sf0.001 table into a 7-way round-robin
  * repartitioned copy (multiple files, rows shuffled across and within
  * files), run each oracled query against both directories, and demand
  * the sorted row multisets match EXACTLY (bit-exact doubles — the
  * same bar the DuckDB hash oracle sets, which this complements: the
  * driver's oracle fixes one layout and varies the engine; this fixes
  * the engine and varies the layout).
  *
  * The rows-only ops (RNG model fits, mergeable sketches) are exactly
  * the declared exceptions — a KMeans/IF fit's collect-order and a GK
  * sketch's merge order are layout-dependent by nature — so the spec
  * scope is `SparkEntry.oracleSql.keySet`, the same 91-query surface
  * the driver hash-checks.
  */
class LayoutInvarianceSpec extends SparkSpec {

  /** sf0.001 rewritten to a different physical layout: 7 files per
    * table, rows round-robin-shuffled. Built once per suite. */
  lazy val altDir: String = {
    val dir = tempDir("graft-alt-layout").toFile.getAbsolutePath
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      // read through Tables.events for ts normalization so the rewrite
      // round-trips the legacy nanos layout too
      val df = if (t == "events") Tables.events(spark, sf)
               else Tables.table(spark, sf, t)
      df.repartition(7).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  /** Value-faithful render (Row.toString hides binary identity). */
  private def fmt(v: Any): String = v match {
    case null            => "∅"
    case b: Array[Byte]  => b.map(x => f"${x & 0xff}%02x").mkString
    case s: Seq[_]       => s.map(fmt).mkString("[", ",", "]")
    case r: Row          => r.toSeq.map(fmt).mkString("(", ",", ")")
    case d: java.lang.Double => java.lang.Double.toHexString(d) // bit-exact
    case f: java.lang.Float  => java.lang.Float.toHexString(f)
    case other           => other.toString
  }

  private def sortedRows(name: String, dir: String): Seq[String] =
    SparkEntry.queries(name)(spark, dir).collect()
      .map(r => r.toSeq.map(fmt).mkString("|")).sorted.toSeq

  SparkEntry.oracleSql.keySet.toSeq.sorted.foreach { name =>
    test(s"$name is bit-identical under a 7-way repartitioned input layout") {
      assert(sortedRows(name, sf) === sortedRows(name, altDir))
    }
  }
}

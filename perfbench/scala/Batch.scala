package graftbench

import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import Stats._

/** `batch_iterative`: the listed `SparkEntry.queries` over the seeded
  * `documents` / `events` / `embeddings` tables run.py wrote. One cold
  * pass (part of setup), then timed passes until `--seconds` have gone;
  * each query is built, planned, then run with
  * `queryExecution.toRdd.count()`, the convention of graft.Bench. */
object Batch {
  final case class QueryRun(name: String, df: DataFrame, buildMs: Double,
      planMs: Double, execMs: Double, phases: Map[String, Double])

  def pass(c: Ctx, names: Seq[String], dir: String, key: String): (Seq[QueryRun], Double) =
    c.time(c.span("pass", key) {
      names.map { n =>
        c.span("query", s"$n.$key") {
          val (df, b) = c.time(c.span("build", s"$n.$key") { SparkEntry.queries(n)(c.spark, dir) })
          val (_, p) = c.time(c.span("plan", s"$n.$key") { df.queryExecution.executedPlan })
          val (_, e) = c.time(c.span("exec", s"$n.$key") { df.queryExecution.toRdd.count() })
          val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
          QueryRun(n, df, b * 1000, p * 1000, e * 1000, phases)
        }
      }
    })

  /** Order-independent digest of a frame: columns by name, rows sorted,
    * doubles in their exact decimal form. */
  def canonicalHash(df: DataFrame): String = {
    val cols = df.columns.sorted
    val lines = df.select(cols.map(col).toIndexedSeq: _*).collect().map { r =>
      (0 until r.length).map(i => r.get(i) match {
        case null => "␀"
        case d: java.lang.Double => java.lang.Double.toString(d)
        case x => x.toString
      }).mkString("\u0001")
    }.sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => { md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) })
    md.digest().map("%02x".format(_)).mkString
  }

  def run(c: Ctx): Unit = {
    val dir = c.arg("data")
    val names = c.arg("queries").split(",").toSeq
    c.session()
    val (cold, coldS) = pass(c, names, dir, "cold")
    c.setup("cold_s") = coldS
    c.attempted += 1
    cold.foreach(q => c.layers(s"${q.name}.cold_build_ms") = q.buildMs)
    c.tracing = false
    // Let the collector and the JIT queue settle after the cold pass, so
    // the timed pass does not start inside the cold pass's aftermath.
    System.gc()
    Thread.sleep(2000)

    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer[(Seq[QueryRun], Double)]()
    while (passes.isEmpty || System.nanoTime() - t0 < c.seconds * 1000000000L)
      passes += pass(c, names, dir, s"p${passes.size}")
    c.attempted += passes.size
    val passMs = passes.map(_._2 * 1000).toSeq
    c.e2e("sweep_s") = median(passMs) / 1000
    c.e2e("latency_p50_ms") = median(passMs)
    c.e2e("latency_p90_ms") = pct(passMs, 0.9)
    c.e2e("rows_per_s") = c.arg("input-rows").toDouble / (median(passMs) / 1000)
    c.info("batch.passes") = passes.size.toDouble
    passes.head._1.foreach(q => c.info(s"${q.name}.ms") = q.buildMs + q.planMs + q.execMs)

    if (c.traced) {
      val ((tr, trS), jobs) = Tracing.traced(c) { pass(c, names, dir, "traced") }
      c.attempted += 1
      passes += ((tr, trS))
      batchLayers(c, tr, trS * 1000, jobs)
      c.layers("trace.overhead_ratio") = trS * 1000 / median(passMs)
    }

    // correctness: every pass hashes equal to the cold pass, whose output
    // run.py checks against the DuckDB oracles. The static oracles are
    // written first so run.py can start on them while a1's is built.
    val coldHash = cold.map(q => q.name -> canonicalHash(q.df)).toMap
    passes.zipWithIndex.foreach { case ((runs, _), i) =>
      runs.foreach { q =>
        c.check(canonicalHash(q.df) == coldHash(q.name),
          s"${q.name}: pass $i output differs from the cold pass")
      }
    }
    cold.foreach(q => q.df.write.mode("overwrite").parquet(s"${c.work}/out/${q.name}"))
    writeOracles(c, names, SparkEntry.oracleSql, "oracle_static.json")
    // a1's oracle embeds its fitted model: the a1 part of
    // SparkEntry.dynamicOracleSql, built from the same memoized fit
    writeOracles(c, names, graft.operators.AnomalyML.dynOracle(c.spark, dir), "oracle_dynamic.json")
  }

  /** Write the oracle SQL of the listed queries atomically (run.py polls
    * for the file while this JVM is still running). */
  def writeOracles(c: Ctx, names: Seq[String], sql: Map[String, String], file: String): Unit = {
    val tmp = new java.io.File(s"${c.work}/$file.tmp")
    val w = new java.io.PrintWriter(tmp, "UTF-8")
    try w.println(Json.value(names.flatMap(n => sql.get(n).map(n -> _)).toMap))
    finally w.close()
    if (!tmp.renameTo(new java.io.File(s"${c.work}/$file"))) sys.error(s"cannot write $file")
  }

  /** Operator construction (eager jobs), Catalyst and final-plan execution
    * of the traced pass, attributed through the job group of each span. */
  def batchLayers(c: Ctx, runs: Seq[QueryRun], passMs: Double, jobs: JobTaskListener): Unit = {
    val L = c.layers
    val spans = c.tracer.all
    def groups(name: String, q: String) =
      spans.filter(sp => sp.name == name && sp.key == s"$q.traced").map(sp => s"span-${sp.id}").toSet
    val jobList = jobs.jobs.asScala.toSeq
    val taskList = jobs.tasks.asScala.toSeq
    def count(gs: Set[String]) = (jobList.count(j => gs(j._2)), jobList.filter(j => gs(j._2)).map(_._4).sum,
      taskList.count(t => gs(t.group)))
    val build = runs.map(q => q.name -> count(groups("build", q.name))).toMap
    val exec = runs.map(q => q.name -> count(groups("plan", q.name) ++ groups("exec", q.name))).toMap
    runs.foreach { q =>
      L(s"${q.name}.build_ms") = q.buildMs
      L(s"${q.name}.build_jobs") = build(q.name)._1
      L(s"${q.name}.exec_ms") = q.planMs + q.execMs
    }
    val buildMs = runs.map(_.buildMs).sum
    L("build.ms") = buildMs
    L("build.jobs") = build.values.map(_._1).sum
    L("build.tasks") = build.values.map(_._3).sum
    L("build.share") = buildMs / passMs
    L("exec.ms") = runs.map(q => q.planMs + q.execMs).sum
    L("exec.jobs") = exec.values.map(_._1).sum
    L("exec.stages") = exec.values.map(_._2).sum
    L("exec.tasks") = exec.values.map(_._3).sum
    L("catalyst.analysis_ms") = runs.map(_.phases.getOrElse("analysis", 0.0)).sum
    L("catalyst.optimization_ms") = runs.map(_.phases.getOrElse("optimization", 0.0)).sum
    L("catalyst.planning_ms") = runs.map(_.phases.getOrElse("planning", 0.0)).sum
  }
}

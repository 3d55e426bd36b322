package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Plan tool: for each query, in full-plan mode (`Exec.Key=false`, so
  * a `finishIf` checkpoint does not hide the operator's plan behind a
  * bare RDD scan), execute it with `toRdd.count()`, print the FINAL
  * adaptive plan — what AQE actually ran, reused exchanges included —
  * then one line
  * {{{
  * SHAPE <query> shuffle=… broadcast=… reused_exchange=… sort=… bhj=… smj=… shj=… bnlj=… scans=… per_table=[events=2 …]
  * }}}
  * counting nodes through AQE stages and each cached plan once (the
  * walk PlanAuditSpec's golden shapes use).
  *
  * Usage: scripts/run.sh graft.Explain <sfDir> [query ...]
  * (no queries = every SparkEntry query, in name order). Time and
  * shuffle volume of one query come from Bench with `SPARK_GRAFT_ONLY`.
  */
object Explain {

  /** Every node of a physical plan: descends through AQE wrappers,
    * finalized query stages (a QueryStageExec is a leaf whose real
    * subtree hangs off `.plan`), subqueries, and INTO each distinct
    * cached relation once — caches are part of the plan shape, and
    * what is under them must be auditable too. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val seen = scala.collection.mutable.Set[Int]()
    def walk(n: SparkPlan): Seq[SparkPlan] = {
      val kids = n match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case qs: QueryStageExec => Seq(qs.plan)
        case im: InMemoryTableScanExec =>
          val cp = im.relation.cachedPlan
          if (seen.add(System.identityHashCode(cp))) Seq(cp) else Nil
        case other => other.children ++ other.subqueries
      }
      n +: kids.flatMap(walk)
    }
    walk(p)
  }

  /** Exchange/sort/join node counts over [[planNodes]], zeros kept,
    * in SHAPE-line order. */
  def shape(plan: SparkPlan): Seq[(String, Int)] = {
    val nodes = planNodes(plan)
    Seq(
      "shuffle" -> nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      "broadcast" -> nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
      "reused_exchange" -> nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      "sort" -> nodes.count(_.isInstanceOf[SortExec]),
      "bhj" -> nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      "smj" -> nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      "shj" -> nodes.count(_.isInstanceOf[ShuffledHashJoinExec]),
      "bnlj" -> nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  /** The SHAPE line: [[shape]] plus file scans in total and per table
    * (a scan count above the query's table count with no reused
    * exchange is a subtree that ran twice). */
  def shapeLine(query: String, plan: SparkPlan): String = {
    val counts = shape(plan).map { case (k, v) => s"$k=$v" }
    val scans = planNodes(plan).collect { case f: FileSourceScanExec =>
      f.relation.location.rootPaths.map(_.getName).mkString(",")
    }
    val perTable = scans.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (t, xs) => s"${t.stripSuffix(".parquet")}=${xs.size}" }
    s"SHAPE $query ${counts.mkString(" ")} scans=${scans.size} " +
      s"per_table=[${perTable.mkString(" ")}]"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(dataDir = sfDir)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(Exec.Key, "false")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.queryExecution.toRdd.count()
      val plan = df.queryExecution.executedPlan
      println(s"\n========== $n (final adaptive plan) ==========")
      println(plan.treeString)
      println(shapeLine(n, plan))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** Materialization switch for the operator library.
  *
  * Operators cache intermediate frames consumed by several actions,
  * localCheckpoint their (tiny) results, and then release the caches
  * (the ADVICE-r1 lifecycle discipline). But a checkpointed result's
  * `queryExecution` is just a LogicalRDD scan — it HIDES the
  * operator's real plan from every plan-shape audit, which is how a
  * vacuous "no fact rescans" guard shipped once.
  *
  * `spark.graft.materialize=false` (default true) changes two things:
  *  - [[Exec.MatOps.finishIf]] becomes identity — the returned frame
  *    keeps its full logical plan end-to-end;
  *  - [[Exec.MatOps.unpersistIf]] becomes a no-op — caches stay
  *    registered, so the inspected plan shows the same
  *    InMemoryTableScan boundaries production plans have (the
  *    single-scan claims being audited DEPEND on those caches;
  *    PlanAuditSpec descends into cached plans and clears the cache
  *    afterwards).
  * Operators call `.cache()` directly: it is NEVER gated, because
  * cache boundaries are part of the plan shape under audit. Answers are identical either way; the
  * flag exists for plan inspection, not production runs.
  */
object Exec {

  val Key = "spark.graft.materialize"

  def on(s: SparkSession): Boolean =
    s.conf.getOption(Key).forall(!_.trim.equalsIgnoreCase("false"))

  implicit class MatOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** Eager `.localCheckpoint(true)` honoring [[Key]] (identity when
      * materialization is off — the full plan stays inspectable). */
    def finishIf(): Dataset[T] =
      if (on(ds.sparkSession)) ds.localCheckpoint(true) else ds

    /** `.unpersist()` honoring [[Key]] (no-op when materialization is
      * off, so audits see the cache boundaries still registered). */
    def unpersistIf(): Dataset[T] =
      if (on(ds.sparkSession)) ds.unpersist() else ds
  }
}

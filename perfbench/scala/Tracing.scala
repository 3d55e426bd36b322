package graftbench

import scala.jdk.CollectionConverters._

import Stats._

/** The traced segment of a `--trace 1` run: listeners are registered
  * only around it, so untraced segments never pay for them. */
object Tracing {
  def traced[A](c: Ctx)(f: => A): (A, JobTaskListener) = {
    val s = c.spark
    val jobs = new JobTaskListener
    val progress = new ProgressListener(c.tracer, c.originNs, c.originMs)
    s.sparkContext.addSparkListener(jobs)
    s.streams.addListener(progress)
    c.tracing = true
    val t0 = System.nanoTime()
    try {
      val r = f
      val wallMs = (System.nanoTime() - t0) / 1e6
      jobs.drain()
      val tasks = jobs.tasks.asScala.toSeq
      taskLayers(c, tasks, wallMs)
      attribute(c, jobs.jobs.asScala.toSeq, tasks)
      c.info("trace.jobs") = jobs.jobs.size.toDouble
      (r, jobs)
    } finally {
      c.tracing = false
      s.streams.removeListener(progress)
      s.sparkContext.removeSparkListener(jobs)
    }
  }

  /** Jobs, tasks and executor CPU per span (job group) and per
    * micro-batch (batch-id property), merged into the trace file. */
  def attribute(c: Ctx, jobs: Seq[(Int, String, String, Int)], ts: Seq[TaskRec]): Unit = {
    def tag(group: String, batch: String) = if (batch.nonEmpty) s"batch-$batch" else group
    val nJobs = jobs.groupBy(j => tag(j._2, j._3)).map { case (k, v) => k -> v.size }
    ts.groupBy(t => tag(t.group, t.batchId)).foreach { case (k, v) =>
      c.spanStats(k) = Map("jobs" -> nJobs.getOrElse(k, 0).toDouble, "tasks" -> v.size.toDouble,
        "cpu_ms" -> v.map(_.cpuNs).sum / 1e6)
    }
  }

  /** Executor, shuffle and exchange metrics over every task of the
    * traced segment. The exchange metrics read the stages that consume a
    * shuffle: per reduce partition, records read. */
  def taskLayers(c: Ctx, ts: Seq[TaskRec], wallMs: Double): Unit = {
    val L = c.layers
    val cpuMs = ts.map(_.cpuNs).sum / 1e6
    L("executor.run_ms") = ts.map(_.runMs).sum.toDouble
    L("executor.cpu_ms") = cpuMs
    L("executor.gc_ms") = ts.map(_.gcMs).sum.toDouble
    L("executor.cpu_util") = cpuMs / (wallMs * c.cores)
    L("shuffle.write_bytes") = ts.map(_.shuffleWriteBytes).sum.toDouble
    L("shuffle.write_records") = ts.map(_.shuffleWriteRecords).sum.toDouble
    L("shuffle.read_bytes") = ts.map(_.shuffleReadBytes).sum.toDouble
    L("spill.bytes") = ts.map(_.spillBytes).sum.toDouble
    L("peak_exec_mem_bytes") = if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max.toDouble
    L("scan.input_bytes") = ts.map(_.inputBytes).sum.toDouble
    val reduce = ts.groupBy(_.stageId).values.filter(_.exists(_.shuffleReadRecords > 0)).toSeq
    val perStage = reduce.map { st =>
      val recs = st.groupBy(_.partition).values.map(_.map(_.shuffleReadRecords).sum)
        .filter(_ > 0).map(_.toDouble).toSeq
      (recs.max / (recs.sum / recs.size), recs.size.toDouble)
    }
    L("shuffle.partition_skew") = median(perStage.map(_._1))
    L("detector.tasks_nonempty") = median(perStage.map(_._2))
  }
}

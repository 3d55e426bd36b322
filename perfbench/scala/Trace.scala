package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** One traced interval. `key` is the micro-batch id, the query and pass,
  * or the chunk index; `parent` is the id of the enclosing span (0 = root). */
final case class Span(id: Int, name: String, key: String, parent: Int,
    startNs: Long, endNs: Long)

/** In-memory span recorder for the traced mode. Spans nest by the calling
  * thread's stack; Spark jobs started inside a span carry its id as their
  * job group, so [[JobTaskListener]] can attribute tasks to it. Nothing is
  * written until [[write]] at the end of the run. */
final class Tracer(sc: => SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }

  def span[A](name: String, key: String = "")(f: => A): A = {
    val id = nextId.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val ctx = sc
    val prevGroup = ctx.getLocalProperty("spark.jobGroup.id")
    ctx.setJobGroup(s"span-$id", s"$name $key", interruptOnCancel = false)
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(id, name, key, parent, t0, System.nanoTime()))
      stack.set(stack.get.tail)
      if (prevGroup == null) ctx.clearJobGroup()
      else ctx.setJobGroup(prevGroup, "", interruptOnCancel = false)
    }
  }

  /** Record an interval measured elsewhere (micro-batch phases reported
    * by the streaming progress API). */
  def record(name: String, key: String, parent: Int, startNs: Long,
      endNs: Long): Int = {
    val id = nextId.incrementAndGet()
    spans.add(Span(id, name, key, parent, startNs, endNs))
    id
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Span duration minus the union of its children's intervals. */
  def selfMs: Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { sp =>
      val iv = kids.getOrElse(sp.id, Nil)
        .map(c => (math.max(c.startNs, sp.startNs), math.min(c.endNs, sp.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      sp.id -> ((sp.endNs - sp.startNs - covered) / 1e6)
    }.toMap
  }

  /** Write every span once, with its self time and the Spark work
    * attributed to it (`stats` by job group or micro-batch id). */
  def write(path: String, wallOriginNs: Long, stats: Map[String, Map[String, Double]]): Unit = {
    val self = selfMs
    val rows = all.map { sp =>
      val work = stats.getOrElse(s"span-${sp.id}",
        if (sp.name == "microbatch") stats.getOrElse(s"batch-${sp.key}", Map.empty) else Map.empty)
      Json.obj(Seq("id" -> sp.id, "name" -> sp.name, "key" -> sp.key,
        "parent" -> sp.parent,
        "start_ms" -> (sp.startNs - wallOriginNs) / 1e6,
        "end_ms" -> (sp.endNs - wallOriginNs) / 1e6,
        "self_ms" -> self(sp.id)) ++ work.toSeq)
    }
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(Json.arr(rows)) finally w.close()
  }
}

/** Task-level metrics of one finished task, tagged with the job group
  * (span) and micro-batch id that started its job. */
final case class TaskRec(stageId: Int, partition: Int, group: String,
    batchId: String, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleWriteRecords: Long,
    shuffleReadBytes: Long, shuffleReadRecords: Long, spillBytes: Long,
    peakMem: Long, inputBytes: Long)

/** Public listener API only: jobs and their stages are tagged by the job
  * group / batch-id properties their submitter set; tasks inherit them. */
final class JobTaskListener extends SparkListener {
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, (String, String, Int)]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentLinkedQueue[(Int, String, String, Int)]() // id, group, batch, stages
  @volatile var jobsStarted = 0
  @volatile var jobsEnded = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).getOrElse("")
    e.stageIds.foreach(st => stageTag.put(st, (group, batch, e.jobId)))
    jobs.add((e.jobId, group, batch, e.stageIds.size))
    jobsStarted += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val (group, batch, _) = Option(stageTag.get(e.stageId)).getOrElse(("", "", -1))
      tasks.add(TaskRec(e.stageId, e.taskInfo.index, group, batch,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
        m.diskBytesSpilled, m.peakExecutionMemory, m.inputMetrics.bytesRead))
    }
  }

  /** The listener bus is asynchronous: wait until every started job has
    * reported its end and no new event arrived for a short quiet period. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1
    while (System.currentTimeMillis() < deadline &&
        (jobsEnded < jobsStarted || tasks.size != last)) {
      last = tasks.size
      Thread.sleep(150)
    }
  }
}

/** Streaming progress as the listener API reports it; one span per
  * micro-batch, with its duration phases laid out in execution order. */
final class ProgressListener(tracer: Tracer, originNs: Long, originMs: Long)
    extends StreamingQueryListener {
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    if (p.numInputRows > 0 && d.containsKey("triggerExecution")) {
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val s0 = originNs + (startMs - originMs) * 1000000L
      val trig = d.get("triggerExecution").longValue
      val id = tracer.record("microbatch", p.batchId.toString, 0, s0, s0 + trig * 1000000L)
      var t = s0
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets").foreach { ph =>
        if (d.containsKey(ph)) {
          val ms = d.get(ph).longValue
          tracer.record(ph, p.batchId.toString, id, t, t + ms * 1000000L)
          t += ms * 1000000L
        }
      }
    }
  }
}

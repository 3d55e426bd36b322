package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage shuffle/spill/memory accumulator — the HOST-INDEPENDENT
  * measure of a query's exchange volume (wall time on this box swings
  * 5× with the hypervisor's day; bytes don't). Used by [[Bench]]
  * (per-query volume capture on pass 1, feeding the `volume_verdict` line —
  * VERDICT r11 item 3: a 2× wall breach with byte-identical volumes
  * must be self-adjudicating in the round artifact).
  *
  * Retry handling (r12, ADVICE r11): a stage retry recomputes only the
  * MISSING partitions, so the last attempt's taskMetrics exclude the
  * successful tasks of earlier attempts — last-attempt-wins biased the
  * bytes LOW. Attempts now merge by elementwise MAX: never an
  * overcount (each attempt's totals are a subset-or-all of the true
  * stage volume), an undercount only when NO single attempt saw every
  * partition — and retries stay counted and printed, so a nonzero
  * `stage_retries` run remains visibly suspect either way.
  */
final class VolumeListener extends SparkListener {
  import VolumeListener._

  private val byStage = new java.util.concurrent.ConcurrentHashMap[Int, M]()
  private val retries = new LongAdder
  private val stagesDone = new LongAdder

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    val m = M(i.attemptNumber(),
      i.taskMetrics.shuffleWriteMetrics.bytesWritten,
      i.taskMetrics.shuffleWriteMetrics.recordsWritten,
      i.taskMetrics.shuffleReadMetrics.totalBytesRead,
      i.taskMetrics.diskBytesSpilled,
      i.taskMetrics.peakExecutionMemory)
    byStage.merge(i.stageId, m, (old, nw) => {
      retries.increment()
      M(math.max(old.attempt, nw.attempt), math.max(old.wB, nw.wB),
        math.max(old.wR, nw.wR), math.max(old.rB, nw.rB),
        math.max(old.sp, nw.sp), math.max(old.pk, nw.pk))
    })
    stagesDone.increment()
  }

  /** Block until the async listener bus goes quiet: waitUntilEmpty is
    * private[spark], so poll the stage-completion count until it stops
    * moving (three consecutive quiet 200 ms beats) instead of a fixed
    * sleep that undercounts on a loaded host. Capped at 30 s (ADVICE
    * r12): a stalled bus or a steady trickle of unrelated stage
    * completions must degrade to an undercount WARNING, not an
    * unbounded spin — the capture is a measurement aid, never worth
    * hanging the harness for. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    var last = -1L
    var stable = 0
    while (stable < 3) {
      if (System.nanoTime() > deadline) {
        System.err.println("[vol] WARNING: listener bus still moving " +
          "after 30 s — volume capture may undercount this query")
        return
      }
      Thread.sleep(200)
      val now = stagesDone.sum
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  /** Drain, total everything seen since the last reset, clear. Stage
    * peak-execution-memory is the per-stage SUM over tasks, MAXed
    * across stages — the operator-requested memory high-water mark
    * (plan-determined, so comparable across host days like the byte
    * counts). */
  def snapshotAndReset(): Totals = {
    drain()
    import scala.jdk.CollectionConverters._
    val ms = byStage.values.asScala.toSeq
    val t = Totals(ms.map(_.wB).sum, ms.map(_.wR).sum, ms.map(_.rB).sum,
      ms.map(_.sp).sum, if (ms.isEmpty) 0L else ms.map(_.pk).max,
      retries.sum)
    byStage.clear()
    retries.reset()
    t
  }
}

object VolumeListener {
  private final case class M(attempt: Int, wB: Long, wR: Long, rB: Long,
    sp: Long, pk: Long)

  /** One query's volume totals (bytes raw; callers format as MB). */
  final case class Totals(writeBytes: Long, writeRecords: Long,
      readBytes: Long, spillBytes: Long, peakMemBytes: Long,
      stageRetries: Long)
}

package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** JVM side of the benchmark: one workload, one seed, one process.
  * `perfbench/run.py` builds this against the repository's sources,
  * generates the batch inputs, launches it, and checks the outputs it
  * writes. Arguments are `--key value` pairs; see run.py for the list. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = new Ctx(args)
    try {
      c.arg("workload") match {
        case "stream_live" => Streams.live(c)
        case "batch_iterative" => Batch.run(c)
        case w => sys.error(s"unknown workload $w")
      }
    } catch {
      case NonFatal(e) =>
        c.fail(s"workload aborted: $e")
        e.printStackTrace()
    } finally {
      c.writeResult()
      if (c.spark != null) c.spark.stop()
    }
  }
}

/** Run context: arguments, the session under test, the tracer, and the
  * counts and metrics the run reports. */
final class Ctx(args: Map[String, String]) {
  def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
  def int(k: String): Int = arg(k).toInt

  val cores: Int = Runtime.getRuntime.availableProcessors
  val seconds: Int = int("seconds")
  val traced: Boolean = int("trace") == 1
  val seed: Long = arg("seed").toLong
  val work: String = arg("work")
  val originNs: Long = System.nanoTime()
  val originMs: Long = System.currentTimeMillis()

  var spark: SparkSession = _
  /** Spans are recorded only while this is on: during setup and the
    * traced segment of a traced run, never in an untraced segment. */
  var tracing: Boolean = traced
  val tracer = new Tracer(spark.sparkContext)

  val e2e = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val setup = mutable.LinkedHashMap[String, Double]()
  /** Jobs/tasks/CPU keyed by job group ("span-<id>") or "batch-<id>". */
  val spanStats = mutable.Map[String, Map[String, Double]]()
  /** Diagnostics for the `samples:` line (sample counts behind the
    * statistics, per-query pass times); not metrics. */
  val info = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer[String]()

  def fail(what: String): Unit = { failed += 1; notes += what; System.err.println(s"CHECK FAILED: $what") }
  def check(ok: Boolean, what: => String): Boolean = { if (!ok) fail(what); ok }

  def span[A](name: String, key: String = "")(f: => A): A =
    if (tracing && spark != null) tracer.span(name, key)(f) else f

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Build the session the library ships, `GraftSession.local(nproc)`
    * (GraftExtensions installed), and time it. */
  def session(coresUsed: Int = cores): SparkSession = {
    val (s, dt) = time(GraftSession.local(coresUsed))
    spark = s
    if (!setup.contains("session_s")) setup("session_s") = dt
    if (traced) tracer.record("session", coresUsed.toString, 0,
      System.nanoTime() - (dt * 1e9).toLong, System.nanoTime())
    s
  }

  def writeResult(): Unit = {
    val out = Json.obj(Seq(
      "e2e" -> e2e.toMap, "layers" -> layers.toMap, "setup" -> setup.toMap, "info" -> info.toMap,
      "attempted" -> attempted, "failed" -> failed, "notes" -> notes.toSeq))
    val w = new java.io.PrintWriter(arg("out"), "UTF-8")
    try w.println(out) finally w.close()
    if (traced) tracer.write(arg("trace-file"), originNs, spanStats.toMap)
  }
}

object Stats {
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

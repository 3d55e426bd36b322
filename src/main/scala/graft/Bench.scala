package graft
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // shuffle partitions, split size and the SF-aware shuffle codec
    // (lz4 at gate scale, zstd from the sf10 class up) all come from
    // the factory — see GraftSession.localConf for the scale knobs
    val spark = GraftSession.local(dataDir = sfDir)
    // warmup: JIT/codegen + parquet footer cache, so the first timed
    // query doesn't absorb JVM startup (it's ~8 s of noise otherwise)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Seq("lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case NonFatal(_) => () }
    }
    // min of three timed runs per query, taken as INTERLEAVED FULL SWEEPS
    // (pass 1 over every query, then pass 2, then pass 3): the host is
    // multi-tenant and a contention burst lasting tens of seconds would
    // poison back-to-back runs of the SAME query, but a sweep puts
    // minutes between a query's samples so a burst lands on different
    // queries in different passes — min-of-N then recovers the true cost.
    // dev knobs: SPARK_GRAFT_ONLY=a1_isoforest,t12_lm_quality limits the
    // sweep; SPARK_GRAFT_PASSES=6 raises the min-of-N count
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(3)
    val names = SparkEntry.queries.toSeq.sortBy(_._1).map(_._1)
      .filter(n => only.forall(_.contains(n)))
    val gate = loadGate()
    val samples = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    // Per-query volume capture on pass 1 ONLY (r12, VERDICT r11 item 3):
    // shuffle bytes/records are plan-determined — identical across
    // passes — so one capture per query suffices, and the listener-bus
    // drain (~0.6 s/query, AFTER the timing is taken) stays out of
    // passes 2+. The volumes feed the volume_verdict line: the
    // host-independent counterpoint to the wall-clock gate.
    val vol = new VolumeListener
    spark.sparkContext.addSparkListener(vol)
    val volumes = scala.collection.mutable.Map[String, VolumeListener.Totals]()
    for (pass <- 1 to passes; name <- names) {
      val fn = SparkEntry.queries(name)
      // Sub-0.3 s-base queries repeat WITHIN the pass (r13, VERDICT r12
      // item 4): at that scale one sample can't distinguish 2× from
      // scheduler jitter, so the min-of-N estimator gets 3 samples per
      // pass instead of 1 (min-of-7 overall at the default 3 passes).
      // Pass 1 stays single-shot — it carries the volume capture, and an
      // inner repeat there would bleed repeat stages into the capture.
      val reps = if (pass == 1) 1 else innerReps(gate.get(name).map(_.sec))
      var rep = 0
      var failed = false
      while (rep < reps && !failed) {
        rep += 1
        // a query that throws is a FAILURE, never a timing — recording the
        // elapsed time of an instant crash would let a regression read as
        // a speedup. Failed queries report -1.0 and land in "failed".
        //
        // toRdd.count(), NOT count(): df.count() lets Catalyst prune the
        // whole query down to whatever a row count needs — a final window
        // or projection collapses to a bare scan (t13 measured 0.23 s
        // "fast" where the real plan runs 15 s at sf10) and EliminateSorts
        // drops every output orderBy. toRdd executes the EXACT optimized
        // plan the query defines, streaming every row through the
        // executors without collecting — what a real consumer pays.
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).queryExecution.toRdd.count()
          val dt = (System.nanoTime() - t0) / 1e9
          samples(name) = dt :: samples(name)
          System.err.println(f"[bench] pass $pass $name%-22s $dt%8.2f s")
          if (pass == 1) {
            val t = vol.snapshotAndReset()
            volumes(name) = t
            // the wmb/wrec/pkmb columns of the query's bench_gate.tsv row
            System.err.println(s"[vol] | $name | ${t.writeBytes / 1048576} | " +
              s"${t.writeRecords} | ${t.peakMemBytes / 1048576} |")
          }
        } catch { case NonFatal(t) =>
          System.err.println(s"[bench] pass $pass $name FAILED: ${t.getClass.getSimpleName}: ${t.getMessage}")
          // a failed query's stages must not bleed into the next capture
          if (pass == 1) vol.snapshotAndReset()
          failed = true
        }
      }
      if (pass == 1 && name == names.last)
        spark.sparkContext.removeSparkListener(vol)
    }
    val results = names.map { name =>
      val dts = samples(name)
      val dt = if (dts.isEmpty) -1.0 else dts.min
      System.err.println(f"[bench] $name%-22s $dt%8.2f s (min of ${dts.size})")
      name -> dt
    }
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir"}""")
    // Self-adjudicate against bench_gate.tsv, only comparable at the
    // gate's own protocol scale: the per-query map above is detail,
    // baseline_verdict (printed last) is the 2× judgment for ALL
    // queries, and volume_verdict is its host-independent adjudicator
    // — a query in over2x but NOT in volume drift moved with the HOST,
    // not the plan (bytes/records are plan-determined; wall is not).
    if (sfDir.replaceAll("/+$", "").endsWith("sf0.1")) {
      val measured = results.collect { case (q, t) if t >= 0 => q }
      volumeVerdict(volumes.toMap, gate, measured).foreach(println)
      baselineVerdict(results, total, gate).foreach(println)
    }
    spark.stop()
  }

  /** One query's gate row: the sf0.1 min-of-N seconds the 2× wall gate
    * compares against, and the pass-1 shuffle write MB, shuffle write
    * records and peak execution MB the volume verdict compares
    * against. */
  private[graft] case class GateRow(sec: Double, wmb: Long, wrec: Long,
      pkmb: Long)

  private val GateHeader = "query\tsec\twmb\twrec\tpkmb"

  /** The gate file: the header line, then one tab-separated row per
    * query. Empty when the file is missing. A row that does not parse
    * (wrong column count, non-numeric field, duplicate query) throws
    * with the file and line: a dropped row would silently shrink
    * n_compared. */
  private[graft] def loadGate(path: String = "bench_gate.tsv")
      : Map[String, GateRow] = {
    val f = new java.io.File(path)
    if (!f.exists()) return Map.empty
    val Sec = """\d+(?:\.\d+)?""".r
    val Count = """\d+""".r
    val lines = scala.io.Source.fromFile(f, "UTF-8")
    try lines.getLines().zipWithIndex.foldLeft(Map.empty[String, GateRow]) {
      case (gate, (line, i)) =>
        def bad(why: String) =
          throw new IllegalArgumentException(s"$path:${i + 1}: $why: $line")
        line.split("\t", -1) match {
          case _ if i == 0 =>
            if (line != GateHeader) bad(s"header is not $GateHeader")
            gate
          case Array(q, _, _, _, _) if gate.contains(q) =>
            bad(s"duplicate query $q")
          case Array(q, s @ Sec(), w @ Count(), r @ Count(), p @ Count()) =>
            gate + (q -> GateRow(s.toDouble, w.toLong, r.toLong, p.toLong))
          case Array(_, _, _, _, _) => bad("non-numeric field")
          case cols => bad(s"${cols.length} columns, expected 5")
        }
    } finally lines.close()
  }

  /** Inner-repeat count for one query within a bench pass (r13,
    * VERDICT r12 item 4): a base below the floor is inside
    * scheduler-jitter territory where a single sample per pass can
    * read 2× on a quiet box, so those queries sample 3× per pass
    * (min-of-N then absorbs the jitter). Queries with no gate row
    * (new operators) keep 1 — there is no base to breach.
    *
    * Floor 0.55 s, measured (r13 canonical-window sweep, hi 0.987 /
    * hiS 0.957): with the floor at 0.3 every sub-0.3 row read ≤ 1.27×
    * on 16 samples, while the rows at 0.33–0.50 s base (i10/i7/e10/e9)
    * read 1.33–1.52× on 6 — the jitter band extends past 0.3 s, and
    * the binary A/B pinned the residual to the estimator + host, not
    * plans (volume_verdict 104/104 exact in the same sweep). */
  private[graft] def innerReps(baseSec: Option[Double]): Int =
    if (baseSec.exists(_ < 0.55)) 3 else 1

  /** The host-independent verdict: pass-1 shuffle write MB + records +
    * peak execution memory per query vs the gate file's volume
    * columns. Drift thresholds absorb what legitimately wobbles
    * run-to-run (AQE coalesce / join-flip timing on the iterative-CC
    * family, MB rounding on tiny queries): records drift = >1%
    * relative AND >1000 absolute; byte drift = >15% relative AND
    * >2 MB absolute; peak-mem drift (r13, VERDICT r12 item 5 — the
    * sf100 OOM class must be visible host-independently) = >30%
    * relative AND >64 MB absolute, looser than bytes because task
    * interleaving legitimately moves the per-stage concurrent peak.
    * A wall-gate breach whose query is ABSENT from this line's drift
    * list is self-adjudicated as host weather. Capped at the 4
    * largest drifts so the line stays one compact row.
    * `measured` (ADVICE r12): wall-timed queries with NO volume row
    * (pass-1 failure, later-pass success) are named in `vol_missing`
    * instead of silently shrinking n_compared. */
  private[graft] def volumeVerdict(
      volumes: Map[String, VolumeListener.Totals],
      base: Map[String, GateRow],
      measured: Seq[String] = Nil)
      : Option[String] = {
    if (base.isEmpty || volumes.isEmpty) return None
    val compared = volumes.keys.filter(base.contains).toSeq.sorted
    if (compared.isEmpty) return None
    def drifted(q: String): Option[(String, Double)] = {
      val t = volumes(q)
      val GateRow(_, bMB, bRec, _) = base(q)
      val wmb = t.writeBytes / 1048576
      val recRel =
        if (bRec == 0) (if (t.writeRecords == 0) 0.0 else 1.0)
        else math.abs(t.writeRecords - bRec).toDouble / bRec
      val mbRel =
        if (bMB == 0) (if (wmb == 0) 0.0 else 1.0)
        else math.abs(wmb - bMB).toDouble / bMB
      val recDrift = recRel > 0.01 && math.abs(t.writeRecords - bRec) > 1000
      val mbDrift = mbRel > 0.15 && math.abs(wmb - bMB) > 2
      if (!recDrift && !mbDrift) None
      else Some((s"""{"q":"$q","wmb":$wmb,"bwmb":$bMB,""" +
        s""""wrec":${t.writeRecords},"bwrec":$bRec}""",
        math.max(recRel, mbRel)))
    }
    val drifts = compared.flatMap(drifted)
    val recExact = compared.count(q => volumes(q).writeRecords == base(q).wrec)
    // n_drift still reports the full count
    val top = drifts.sortBy(-_._2).take(4).map(_._1).mkString("[", ",", "]")
    val retries = volumes.values.map(_.stageRetries).sum
    // peak-execution-memory band: plan-determined like the byte counts
    // (an operator's requested memory tracks its hash/sort/array state,
    // not the host's day), but the concurrent per-stage peak wobbles
    // with task interleaving — hence the wider 30%/64 MB band
    val pkDrifts = compared.flatMap { q =>
      val pk = volumes(q).peakMemBytes / 1048576
      val bpk = base(q).pkmb
      val rel = if (bpk == 0) (if (pk == 0) 0.0 else 1.0)
        else math.abs(pk - bpk).toDouble / bpk
      if (rel > 0.30 && math.abs(pk - bpk) > 64)
        Some((s"""{"q":"$q","pk":$pk,"bpk":$bpk}""", rel))
      else None
    }
    val pkTop = pkDrifts.sortBy(-_._2).take(3).map(_._1)
      .mkString("[", ",", "]")
    val volMissing = measured.filter(q => base.contains(q) &&
      !volumes.contains(q)).sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    Some(s"""{"metric":"volume_verdict","n_compared":${compared.size},""" +
      s""""rec_exact":$recExact,"n_drift":${drifts.size},"drift":$top,""" +
      s""""pk_drift":${pkDrifts.size},"pkd":$pkTop,""" +
      s""""vol_missing":$volMissing,"stage_retries":$retries}""")
  }

  /** The ambient-host calibration controls (r10, VERDICT r9 item 3):
    * four codegen-CPU-dominated queries with flat per-row cost, no
    * wide shuffle, no iteration — their ratio vs base moves with the
    * HOST (CPU steal, allocator pressure, thermal class), not with
    * plan changes elsewhere in the engine. Every prior round used
    * them informally as "ambient controls" during re-base forensics;
    * host_index formalizes that as the MEDIAN of their ratios so one
    * drifting control can't skew the index. */
  private[graft] val HostControls =
    Seq("q1_agg", "t1_langid", "t2_quality", "t4_fingerprint")

  /** The shuffle/object-class calibration controls (r11, VERDICT r10
    * item 1): the r10 host pathology hit hash/sort/shuffle-heavy work
    * 2–8× while the codegen controls sat ≈1.05 — host_index's
    * codegen-only controls are structurally blind to exactly the class
    * that breached the gate (a1/a2/a3). These four are
    * exchange/object-pipeline-dominated queries whose plans have been
    * frozen since r4 and are golden-net-pinned: d1 (digest-hash
    * groupBy exchange), d13 (digest exchange + window), e3 (per-key
    * sort exchange + sliding frame), i5 (two-phase global rank:
    * hash exchange + range exchange). Their median ratio tracks the
    * memory-subsystem/shuffle host class the codegen set can't see. */
  private[graft] val HostControlsShuffle =
    Seq("d1_dedup_exact", "d13_dup_weight", "e3_rolling",
      "i5_global_shuffle")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Median control ratio vs the gate table over `controls` — 1.0
    * means the canonical baseline host class; ≳1.2 means a slow host
    * day and raw ratios overread. None when fewer than 3 controls are
    * present in both results and base (a median of <3 isn't one). */
  private[graft] def hostIndexOver(controls: Seq[String],
      results: Seq[(String, Double)],
      base: Map[String, Double]): Option[Double] = {
    val rs = results.toMap
    val ctl = controls.flatMap { q =>
      for (t <- rs.get(q) if t >= 0; b <- base.get(q)) yield t / b
    }
    if (ctl.size < 3) None else Some(median(ctl))
  }

  private[graft] def hostIndex(results: Seq[(String, Double)],
      base: Map[String, Double]): Option[Double] =
    hostIndexOver(HostControls, results, base)

  private[graft] def hostIndexShuffle(results: Seq[(String, Double)],
      base: Map[String, Double]): Option[Double] =
    hostIndexOver(HostControlsShuffle, results, base)

  /** The compact gate line: per-query ratios vs the standing baseline,
    * worst five, every query over the documented 2× criterion, and the
    * host_index with host-adjusted ratios (`adj` = ratio / host_index)
    * so a slow-host sweep reads as such IN the output instead of
    * costing a per-round forensic (OPERATIONS.md re-base rule).
    * Applies only at the baseline's own protocol scale (sf0.1). */
  private[graft] def baselineVerdict(results: Seq[(String, Double)],
      total: Double, gate: Map[String, GateRow]): Option[String] = {
    val base = gate.map { case (q, r) => q -> r.sec }
    if (base.isEmpty) return None
    val ratios = results.collect {
      case (q, t) if t >= 0 && base.contains(q) => (q, t, base(q), t / base(q))
    }
    if (ratios.isEmpty) return None
    val baseTotal = ratios.map(_._3).sum
    val matchedTotal = ratios.map(_._2).sum
    val hi = hostIndex(results, base)
    val hiS = hostIndexShuffle(results, base)
    // `adj` divides by the index of the drifter's OWN class: the r10
    // breach showed shuffle-class queries drifting under a flat codegen
    // index, so adjusting a shuffle-heavy query by the codegen index
    // systematically overreads it. Classification is the documented
    // control taxonomy: codegen-scan queries adjust by host_index,
    // everything touching a wide exchange / object pipeline by
    // host_index_shuffle (the larger set — default).
    def jq(r: (String, Double, Double, Double)) = {
      val adj = hi.map(h => f""","adj":${r._4 / h}%.2f""").getOrElse("")
      val adjS = hiS.map(h => f""","adjS":${r._4 / h}%.2f""").getOrElse("")
      f"""{"q":"${r._1}","sec":${r._2}%.3f,"base":${r._3}%.3f,"ratio":${r._4}%.2f$adj$adjS}"""
    }
    val worst = ratios.sortBy(-_._4).take(5).map(jq).mkString("[", ",", "]")
    val over2x = ratios.filter(_._4 > 2.0).sortBy(-_._4).map(jq)
      .mkString("[", ",", "]")
    val newQs = results.collect { case (q, t) if t >= 0 && !base.contains(q) =>
      f"""{"q":"$q","sec":$t%.3f}""" }.mkString("[", ",", "]")
    val failed = results.collect { case (q, t) if t < 0 => "\"" + q + "\"" }
      .mkString("[", ",", "]")
    val hiJson = hi.map(h => f"$h%.3f").getOrElse("null")
    val hiSJson = hiS.map(h => f"$h%.3f").getOrElse("null")
    Some(f"""{"metric":"baseline_verdict","n_compared":${ratios.size},"total":$total%.1f,"matched_total":$matchedTotal%.1f,"baseline_total":$baseTotal%.1f,"sum_ratio":${matchedTotal / baseTotal}%.2f,"host_index":$hiJson,"host_index_shuffle":$hiSJson,"n_over2x":${ratios.count(_._4 > 2.0)},"over2x":$over2x,"worst":$worst,"new":$newQs,"failed":$failed}""")
  }
}

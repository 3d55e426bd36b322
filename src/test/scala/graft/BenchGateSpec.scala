package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench gate's calibration machinery (r11): the host indices
  * are only as good as their control sets, and `hostIndexOver` degrades
  * SILENTLY to None (artifact prints null) when fewer than 3 controls
  * resolve — a renamed query or a dropped gate-table row would blind
  * the index without failing anything. These specs make that loud.
  */
class BenchGateSpec extends AnyFunSuite {

  private lazy val base = Bench.loadGate()
  private val controls = Bench.HostControls ++ Bench.HostControlsShuffle

  /** A gate file at `tmp`, one space-separated row per line (spaces
    * become the file's tabs). */
  private def writeGate(tmp: java.nio.file.Path, rows: String*): Unit =
    java.nio.file.Files.writeString(tmp,
      rows.map(_.replace(' ', '\t')).mkString("", "\n", "\n"))

  test("every host control resolves in SparkEntry.queries") {
    val missing = controls.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty,
      s"control queries missing from SparkEntry: $missing — a control " +
        "rename must update Bench.HostControls/HostControlsShuffle too")
  }

  test("every host control has a gate-table base row") {
    assert(base.nonEmpty, "gate parse came back empty — is bench_gate.tsv " +
      "at the repo root?")
    val missing = controls.filterNot(base.contains)
    assert(missing.isEmpty,
      s"control queries missing from the authoritative gate table: $missing")
  }

  test("the two control sets are disjoint and ≥4 each (median robustness)") {
    assert(Bench.HostControls.size >= 4 && Bench.HostControlsShuffle.size >= 4)
    assert(Bench.HostControls.intersect(Bench.HostControlsShuffle).isEmpty,
      "a query in both sets would couple the two indices")
  }

  test("hostIndex math: median of control ratios, None under 3 controls") {
    val b = Map("q1_agg" -> 1.0, "t1_langid" -> 1.0, "t2_quality" -> 1.0,
      "t4_fingerprint" -> 1.0)
    val r = Seq("q1_agg" -> 1.0, "t1_langid" -> 2.0, "t2_quality" -> 3.0,
      "t4_fingerprint" -> 100.0)
    // median of (1, 2, 3, 100) = 2.5 — one runaway control can't skew it
    assert(Bench.hostIndex(r, b).contains(2.5))
    assert(Bench.hostIndex(r.take(2), b).isEmpty)
  }

  test("volume table parses and volume_verdict flags only real drift") {
    // synthetic gate file through the same reader the production
    // read uses
    val tmp = java.nio.file.Files.createTempFile("volbase", ".tsv")
    writeGate(tmp, "query sec wmb wrec pkmb", "q1_agg 1.5 10 100000 64",
      "d9_fuzzy_join 2.25 100 2000000 512", "t1_langid 0.4 0 0 16")
    val base = Bench.loadGate(tmp.toString)
    assert(base == Map(
      "q1_agg" -> Bench.GateRow(1.5, 10L, 100000L, 64L),
      "d9_fuzzy_join" -> Bench.GateRow(2.25, 100L, 2000000L, 512L),
      "t1_langid" -> Bench.GateRow(0.4, 0L, 0L, 16L)),
      s"gate file parse broke: $base")
    def tot(wmb: Long, wrec: Long) = VolumeListener.Totals(
      wmb * 1048576, wrec, 0, 0, 0, 0)
    // within thresholds (records +0.5%, bytes +10%) → no drift;
    // d9 with doubled records → flagged
    val quiet = Map("q1_agg" -> tot(11, 100500),
      "d9_fuzzy_join" -> tot(100, 2000000), "t1_langid" -> tot(0, 0))
    val vq = Bench.volumeVerdict(quiet, base).get
    assert(vq.contains("\"n_drift\":0") && vq.contains("\"n_compared\":3"), vq)
    val drift = quiet + ("d9_fuzzy_join" -> tot(100, 4000000))
    val vd = Bench.volumeVerdict(drift, base).get
    assert(vd.contains("\"n_drift\":1") &&
      vd.contains("\"q\":\"d9_fuzzy_join\""), vd)
    // the self-adjudication contract: exact-record queries counted
    // (t1 only — q1's +0.5% is under the drift threshold but not exact)
    assert(vd.contains("\"rec_exact\":1"), vd)

    // vol_missing (r13, ADVICE r12): a wall-timed query whose pass-1
    // volume capture is absent must be NAMED, not silently dropped
    // from n_compared
    val vm = Bench.volumeVerdict(quiet, base,
      measured = Seq("q1_agg", "d9_fuzzy_join", "t1_langid")).get
    assert(vm.contains("\"vol_missing\":[]"), vm)
    val vmiss = Bench.volumeVerdict(quiet - "d9_fuzzy_join", base,
      measured = Seq("q1_agg", "d9_fuzzy_join", "t1_langid")).get
    assert(vmiss.contains("\"vol_missing\":[\"d9_fuzzy_join\"]"), vmiss)

    // peak-mem band (r13, VERDICT r12 item 5): quiet inside 30%/64 MB,
    // flagged beyond both
    def totPk(wmb: Long, wrec: Long, pkmb: Long) = VolumeListener.Totals(
      wmb * 1048576, wrec, 0, 0, pkmb * 1048576, 0)
    val pkQuiet = Map(
      "q1_agg" -> totPk(10, 100000, 80),          // +25% of 64 — inside
      "d9_fuzzy_join" -> totPk(100, 2000000, 560), // +9% — inside
      "t1_langid" -> totPk(0, 0, 40))              // +24 MB abs — inside
    val vp = Bench.volumeVerdict(pkQuiet, base).get
    assert(vp.contains("\"pk_drift\":0"), vp)
    val pkBad = pkQuiet + ("d9_fuzzy_join" -> totPk(100, 2000000, 1200))
    val vpb = Bench.volumeVerdict(pkBad, base).get
    assert(vpb.contains("\"pk_drift\":1") &&
      vpb.contains("\"pk\":1200,\"bpk\":512"), vpb)
    // a pk drift alone must NOT land in the byte/record drift list
    assert(vpb.contains("\"n_drift\":0"), vpb)
    java.nio.file.Files.delete(tmp)
  }

  test("a malformed gate row throws with the file and line, never drops") {
    // the gate's signal depends on every row landing; a row the reader
    // skipped would shrink n_compared without a word
    val tmp = java.nio.file.Files.createTempFile("badgate", ".tsv")
    def err(row: String): String = {
      writeGate(tmp, "query sec wmb wrec pkmb", "q1_agg 1.5 10 100000 64", row)
      intercept[IllegalArgumentException](Bench.loadGate(tmp.toString))
        .getMessage
    }
    val cols = err("t1_langid 0.4 0 0")
    assert(cols.startsWith(s"$tmp:3:") && cols.contains("4 columns"), cols)
    val num = err("t1_langid 0.4s 0 0 16")
    assert(num.startsWith(s"$tmp:3:") && num.contains("non-numeric"), num)
    val dup = err("q1_agg 1.6 10 100000 64")
    assert(dup.startsWith(s"$tmp:3:") && dup.contains("duplicate query q1_agg"),
      dup)
    java.nio.file.Files.delete(tmp)
  }

  test("innerReps: 3 below the 0.55 s jitter floor, 1 above or unknown") {
    assert(Bench.innerReps(Some(0.135)) == 3)   // the i2 class
    assert(Bench.innerReps(Some(0.330)) == 3)   // the i10 class (r13: 6-sample rows at 0.33–0.50 read 1.3–1.5× where 16-sample rows read ≤1.27×)
    assert(Bench.innerReps(Some(0.549)) == 3)
    assert(Bench.innerReps(Some(0.55)) == 1)
    assert(Bench.innerReps(Some(2.469)) == 1)
    assert(Bench.innerReps(None) == 1)          // no base row → no gate
  }

  test("gate table parses to the full 104-query surface") {
    // the gate's signal depends on covering every query; a truncated
    // parse (a row lost from bench_gate.tsv) would quietly shrink n_compared
    assert(base.size == SparkEntry.queries.size,
      s"gate table has ${base.size} rows but SparkEntry has " +
        s"${SparkEntry.queries.size} queries")
  }

  test("authoritative volume table parses to the full query surface") {
    // same discipline as the gate table (r12): volume_verdict's
    // self-adjudication power depends on every query having a row
    val vol = Bench.loadGate()
    assert(vol.size == SparkEntry.queries.size,
      s"volume table has ${vol.size} rows but SparkEntry has " +
        s"${SparkEntry.queries.size} queries — re-record from a " +
        "pass-1 [vol] capture")
    val unknown = vol.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"stale volume rows: $unknown")
  }
}

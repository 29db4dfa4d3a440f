package graft

import org.scalatest.funsuite.AnyFunSuite

/** Selftest for the bench contention gate (r13): a loaded or
  * calibration-deviant run must self-mark `contaminated`, so the
  * driver's official artifact can never again be silently produced on a
  * busy machine (r10–r12: three contaminated artifacts in a row, flagged
  * only by the comparison tooling). */
class BenchGateSpec extends AnyFunSuite {

  test("a loaded run self-marks with the load reason") {
    val r = Bench.contaminationReason(loadBefore = 4.98, calibSec = 0.18,
      calibIoSec = 0.73, histCalib = Seq(0.17, 0.18, 0.19),
      histCalibIo = Seq(0.71, 0.73, 0.74), loadMax = 1.0, calibFactor = 2.0)
    assert(r.exists(_.contains("load_before 4.98")))
  }

  test("a clean run passes") {
    assert(Bench.contaminationReason(0.31, 0.18, 0.73,
      Seq(0.17, 0.18, 0.19), Seq(0.71, 0.73, 0.74), 1.0, 2.0).isEmpty)
  }

  test("a calib probe >2x history median self-marks; at exactly 2x it passes") {
    val hist = Seq(0.17, 0.18, 0.19)
    assert(Bench.contaminationReason(0.3, 0.37, 0.73, hist,
      Seq(0.71, 0.73, 0.74), 1.0, 2.0).exists(_.contains("calib_sec")))
    assert(Bench.contaminationReason(0.3, 0.36, 0.73, hist,
      Seq(0.71, 0.73, 0.74), 1.0, 2.0).isEmpty)
    assert(Bench.contaminationReason(0.3, 0.18, 1.55,
      hist, Seq(0.71, 0.73, 0.74), 1.0, 2.0).exists(_.contains("calib_io_sec")))
  }

  test("calib history abstains below 3 samples and on failed probes") {
    // 2 samples: only the load signal gates
    assert(Bench.contaminationReason(0.3, 9.9, 9.9,
      Seq(0.17, 0.18), Seq(0.71), 1.0, 2.0).isEmpty)
    // probe failed (-1): never triggers, even with history
    assert(Bench.contaminationReason(0.3, -1.0, -1.0,
      Seq(0.17, 0.18, 0.19), Seq(0.71, 0.73, 0.74), 1.0, 2.0).isEmpty)
  }

  test("calibHistory filters by sf and drops failed probes") {
    val lines = Seq(
      """{"at":"t","calib_sec":0.17,"calib_io_sec":0.71,"sf":"/root/testdata/sf0.1"}""",
      """{"at":"t","calib_sec":0.50,"calib_io_sec":0.90,"sf":"/root/testdata/sf0.01"}""",
      """{"at":"t","calib_sec":-1.0,"calib_io_sec":0.73,"sf":"/root/testdata/sf0.1"}""",
      """{"at":"t","calib_sec":0.19,"calib_io_sec":0.74,"sf":"/root/testdata/sf0.1"}""")
    assert(Bench.calibHistory(lines, "/root/testdata/sf0.1", "calib_sec") ==
      Seq(0.17, 0.19))
    assert(Bench.calibHistory(lines, "/root/testdata/sf0.1", "calib_io_sec") ==
      Seq(0.71, 0.73, 0.74))
    assert(Bench.calibHistory(lines, "/root/testdata/sf0.01", "calib_sec") ==
      Seq(0.50))
  }

  test("calibHistory excludes contaminated and loaded runs (mirrors bench_diff loaded_run)") {
    val lines = Seq(
      """{"at":"t","load_before":0.3,"calib_sec":0.17,"contaminated":false,"sf":"/root/testdata/sf0.1"}""",
      // stamped contaminated: its inflated probe must not raise the bar
      """{"at":"t","load_before":0.4,"calib_sec":0.55,"contaminated":true,"sf":"/root/testdata/sf0.1"}""",
      // pre-r13 line with no contaminated field but a loaded machine
      """{"at":"t","load_before":4.98,"calib_sec":0.61,"sf":"/root/testdata/sf0.1"}""",
      """{"at":"t","load_before":0.2,"calib_sec":0.19,"contaminated":false,"sf":"/root/testdata/sf0.1"}""")
    assert(Bench.calibHistory(lines, "/root/testdata/sf0.1", "calib_sec", 1.0) ==
      Seq(0.17, 0.19))
  }

  test("post-run drift: a degraded post-probe marks the run; flat or failed probes pass") {
    // the r13 hole: pre-run probes clean, machine degrades mid-run
    assert(Bench.postRunDrift(0.17, 0.17, 0.89, 2.31, 1.4)
      .exists(_.contains("calib_io_after")))
    assert(Bench.postRunDrift(0.17, 0.52, 0.89, 0.90, 1.4)
      .exists(_.contains("calib_after")))
    // flat pre/post: clean
    assert(Bench.postRunDrift(0.17, 0.18, 0.89, 0.91, 1.4).isEmpty)
    // exactly at the factor: passes (strict >)
    assert(Bench.postRunDrift(1.0, 1.4, 0.5, 0.7, 1.4).isEmpty)
    // failed probes (-1) abstain on either side
    assert(Bench.postRunDrift(-1.0, 9.9, 0.89, 0.90, 1.4).isEmpty)
    assert(Bench.postRunDrift(0.17, -1.0, 0.89, -1.0, 1.4).isEmpty)
  }

  test("per-gate jobs: attributed by tag, untagged ignored, families sum their gates") {
    import Bench.{Job, GateJobs}
    val runs = Seq(
      // run 1: two jobs of this gate, one untagged (a warmup's straggler),
      // one of another gate's stream thread ending late
      (2.5, Seq(Job("g1", 400), Job(null, 900), Job("g1", 600), Job("g0", 700))),
      // run 2: the same two jobs, nothing else
      (1.75, Seq(Job("g1", 250), Job("g1", 500))),
      // run 3: a failed run that ended before any job
      (0.2, Nil))
    val g1 = Bench.gateJobs("g1", runs)
    assert(g1.jobs == Seq(2, 2, 0))
    // gap = wall − summed job wall of this gate's jobs only
    assert(g1.gapSec == Seq(1.5, 1.0, 0.2))
    val gates = Map("g1" -> g1, "g2" -> GateJobs(Seq(5, 5, 6), Seq(0.0, 0.0, 0.0)),
      "g3" -> GateJobs(Seq(1), Seq(0.1)))
    val family = Map("g1" -> "mql", "g2" -> "mql", "g3" -> "streaming")
    assert(Bench.familyJobs(gates, family) == Map("mql" -> 20, "streaming" -> 1))
  }

  test("median: odd, even, empty") {
    assert(Bench.median(Seq(3, 1, 2).map(_.toDouble)) == 2.0)
    assert(Bench.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Bench.median(Nil) == -1.0)
  }
}

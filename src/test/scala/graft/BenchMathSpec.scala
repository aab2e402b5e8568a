package graft

import org.scalatest.funsuite.AnyFunSuite

/** The noise-normalization arithmetic behind the bench line's
  * `calibration` / `noise_normalized_total` fields — pure functions, so
  * the drift-vs-regression distinction is provable without a bench run:
  * a slower MACHINE (calibration up with the total) normalizes flat,
  * while a real plan regression (total up, calibration flat) survives
  * normalization. */
class BenchMathSpec extends AnyFunSuite {

  test("machine drift normalizes flat; real regressions survive") {
    // round-12 shape: total +24% on a machine whose calibration also
    // rose 24% — the normalized total reads ~flat (drift, not regression)
    val drift = Bench.normalizedTotal(89.98, cal = 0.62, prior = Some(0.50))
    assert(math.abs(drift - 72.56) < 0.1, s"drift case normalized to $drift")
    // a real regression: total +24% with an UNCHANGED calibration — the
    // normalized total must keep the regression visible
    val real = Bench.normalizedTotal(89.98, cal = 0.50, prior = Some(0.50))
    assert(real == 89.98)
    // a FASTER machine inflates the normalized total (the old machine
    // would have been slower on the same plans)
    val faster = Bench.normalizedTotal(60.0, cal = 0.25, prior = Some(0.50))
    assert(faster == 120.0)
  }

  test("degenerate calibrations fall back to the raw total") {
    assert(Bench.normalizedTotal(10.0, cal = 0.5, prior = None) == 10.0)
    assert(Bench.normalizedTotal(10.0, cal = 0.0, prior = Some(0.5)) == 10.0)
    assert(Bench.normalizedTotal(10.0, cal = 0.5, prior = Some(0.0)) == 10.0)
  }

  test("median of the per-child calibrations") {
    assert(Bench.median(Seq(3.0)) == 3.0)
    assert(Bench.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    // one loaded child (a GC-storm chunk) must not drag the unit: the
    // median of 13 sane children + 1 outlier is still sane
    val cals = Seq.fill(13)(0.5) :+ 30.0
    assert(Bench.median(cals) == 0.5)
  }

  test("history rows compare only within one (cpus, sf) shape") {
    val f = java.nio.file.Files.createTempFile("bench_history", ".jsonl")
    try {
      java.nio.file.Files.write(f, Seq(
        """{"round":15,"query":"q01","sec":0.51}""",
        """{"round":15,"query":"q01","sec":0.5,"cpus":8,"sf":0.1}""",
        """{"round":15,"query":"q01","sec":0.2,"cpus":32,"sf":0.01}"""
      ).mkString("", "\n", "\n").getBytes("UTF-8"))
      assert(History.sfOf("/data/sf0.1") == "0.1")
      assert(History.sfOf("/data/sf0.10/") == "0.1")
      // a row without cpus/sf is the 32-core sf0.1 default
      assert(History.rows(32, "0.1", f) == Seq(History.Row(15, "q01", 0.51)))
      assert(History.rows(8, "0.1", f) == Seq(History.Row(15, "q01", 0.5)))
      // a side run's re-run replaces only its own block
      History.replace(15, 8, "0.1",
        Seq("""{"round":15,"query":"q01","sec":0.4,"cpus":8,"sf":0.1}"""), f)
      assert(History.rows(8, "0.1", f) == Seq(History.Row(15, "q01", 0.4)))
      assert(History.rows(32, "0.1", f) == Seq(History.Row(15, "q01", 0.51)))
      assert(History.rows(32, "0.01", f) == Seq(History.Row(15, "q01", 0.2)))
    } finally java.nio.file.Files.delete(f)
  }
}

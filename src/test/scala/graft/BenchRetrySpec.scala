package graft

import org.scalatest.funsuite.AnyFunSuite

/** The contended-host retry rules (VERDICT r19 #3), pinned on the pure
  * decision functions — the wall-clock injection route is flaky by
  * construction (the r20 manual A/B: 160 spinners moved load1 to 50 and
  * the mt brackets by 1% — the host absorbed it), so the scheduling
  * logic is factored pure and pinned here, and the end-to-end behavior
  * (retried_n > 0 under a real load window) was demonstrated manually
  * (SCALE.md r20).
  */
class BenchRetrySpec extends AnyFunSuite {

  test("shouldExtend: an invalidated bracket pair earns a replacement " +
    "pass; a clean pair does not; the cap is respected") {
    // pass 0 bracketed by (200, 600): 600 > 1.5×200 → extend
    assert(Bench.shouldExtend(Seq(200.0, 600.0), 0, 3, 5))
    // clean pair: no extension
    assert(!Bench.shouldExtend(Seq(200.0, 210.0), 0, 3, 5))
    // boundary: exactly 1.5× is valid (the artifact rule's <=)
    assert(!Bench.shouldExtend(Seq(200.0, 300.0), 0, 3, 5))
    // the floor is the MIN so far: a later quiet bracket exposes an
    // earlier contended pass
    assert(Bench.shouldExtend(Seq(600.0, 620.0, 200.0), 1, 3, 5))
    // budget exhausted: no extension even when invalid
    assert(!Bench.shouldExtend(Seq(200.0, 600.0), 0, 5, 5))
  }

  test("shouldExtend replays the r19 driver artifact: every pass " +
    "invalid → replacements scheduled up to the cap") {
    // shape of BENCH_r19: contended brackets throughout, one quiet
    // reading late — each finished pass schedules a replacement until
    // the cap; 5 passes total get the round its chance at a valid pass
    var planned = 3
    val brackets = scala.collection.mutable.ArrayBuffer(300.0)
    val contendedReadings = Seq(620.0, 580.0, 640.0) // passes 0..2 end
    val quietReadings = Seq(205.0, 210.0) // replacement passes run quiet
    var pass = 0
    val replacements = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (pass < planned) {
      brackets += (if (pass < 3) contendedReadings(pass)
                   else quietReadings(pass - 3))
      if (Bench.shouldExtend(brackets.toSeq, pass, planned, 5)) {
        replacements += planned; planned += 1
      }
      pass += 1
    }
    assert(planned === 5)
    assert(replacements.toSeq === Seq(3, 4))
    // the final artifact rule (max(b(i), b(i+1)) <= 1.5 × whole-run
    // floor) now finds at least one valid pass — pass 4 is bracketed by
    // (205, 210) against floor 205
    val floor = brackets.min
    val passValid = (0 until planned).map(i =>
      math.max(brackets(i), brackets(i + 1)) <= 1.5 * floor)
    assert(passValid.count(identity) >= 1,
      "the replacement passes must yield a valid pass where r19 had none")
  }

  test("needsRetry: fewer than two clean samples within 1.5× of best → " +
    "retry; confirmed bests and sub-0.5 s walls do not") {
    def r(w: Double, err: Option[String] = None) =
      Bench.Run(w, w, 0.0, err)
    // one fast sample, two contended: unconfirmed best
    assert(Bench.needsRetry(Seq(r(2.0), r(5.0), r(6.0))))
    // two samples within 1.5×: confirmed
    assert(!Bench.needsRetry(Seq(r(2.0), r(2.4), r(6.0))))
    // sub-0.5 s best: jitter-dominated, exempt
    assert(!Bench.needsRetry(Seq(r(0.2), r(0.9), r(0.9))))
    // erred runs don't count as clean samples
    assert(Bench.needsRetry(Seq(r(2.0), r(2.1, Some("boom")), r(6.0))))
    // all erred: nothing to confirm
    assert(!Bench.needsRetry(Seq(r(2.0, Some("boom")))))
  }

  test("detailTarget: a subset run writes the detail matrix only to an " +
    "explicit SPARK_GRAFT_BENCH_DETAIL; a full run writes the committed file") {
    // a dev A/B over a few queries must leave the full-registry record
    // (the next full run's cpu_vs_prev baseline) in place
    assert(Bench.detailTarget(subset = true, None).isEmpty)
    assert(Bench.detailTarget(subset = true, Some("ab.json")).contains("ab.json"))
    assert(Bench.detailTarget(subset = false, None).contains("BENCH_DETAIL.json"))
    assert(Bench.detailTarget(subset = false, Some("ab.json")).contains("ab.json"))
  }

  test("prevTarget: cpu_vs_prev reads the committed BENCH_DETAIL.json unless " +
    "SPARK_GRAFT_BENCH_PREV names another file") {
    // the baseline does not follow SPARK_GRAFT_BENCH_DETAIL: that names
    // this run's output, so an A/B written aside still has a baseline
    assert(Bench.prevTarget(None) == "BENCH_DETAIL.json")
    assert(Bench.prevTarget(Some("prev.json")) == "prev.json")
  }
}

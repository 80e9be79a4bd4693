package graft

import org.scalatest.funsuite.AnyFunSuite

/** The two-scale-point sweep's exponent fit (VERDICT r15 #1): the
  * artifact's per-query `exponent` is the least-squares slope of ln t
  * on ln k — with exactly two points, the log-ratio. Pinned pure so
  * the committed SCALE_SWEEP.json numbers have a checked meaning. */
class ScaleSweepSpec extends AnyFunSuite {

  test("two points: exponent is the log-ratio") {
    // t(1)=0.5, t(10)=5.0 → exactly linear, e=1
    val e = ScaleSweep.exponent(Seq(1 -> 0.5, 10 -> 5.0)).get
    assert(math.abs(e - 1.0) < 1e-9)
    // flat (fixed-cost floor) → e=0
    val f = ScaleSweep.exponent(Seq(1 -> 0.4, 10 -> 0.4)).get
    assert(math.abs(f) < 1e-9)
    // quadratic term: t ∝ k² → e=2
    val q = ScaleSweep.exponent(Seq(1 -> 0.3, 10 -> 30.0)).get
    assert(math.abs(q - 2.0) < 1e-9)
  }

  test("three points: least-squares through a power law recovers it") {
    val pts = Seq(1, 4, 16).map(k => k -> 0.7 * math.pow(k.toDouble, 1.3))
    val e = ScaleSweep.exponent(pts).get
    assert(math.abs(e - 1.3) < 1e-9)
  }

  // r16 postmortem: an in-flight partial re-run clobbered the committed
  // 183-query artifact at round close. The writer now dumps in-progress
  // state to `.partial` and promotes to the final path only when
  // isComplete says the FULL registry is covered at EVERY scale point.
  test("partial coverage can never promote over a complete artifact") {
    val registry = Set("a", "b", "c")
    val scales = Seq(1, 10)
    def cell(ts: (Int, Double)*) = ts.map { case (k, t) => k -> (t, t) }.toMap
    // complete: every query has every scale
    assert(ScaleSweep.isComplete(
      Map("a" -> cell(1 -> 1.0, 10 -> 2.0), "b" -> cell(1 -> 1.0, 10 -> 2.0),
        "c" -> cell(1 -> 1.0, 10 -> 2.0)), Nil, registry, scales))
    // a recorded failure still counts as covered (honest artifact;
    // the stamp spec catches failed != 0)
    assert(ScaleSweep.isComplete(
      Map("a" -> cell(1 -> 1.0, 10 -> 2.0), "b" -> cell(1 -> 1.0, 10 -> 2.0)),
      Seq("c"), registry, scales))
    // missing query → partial
    assert(!ScaleSweep.isComplete(
      Map("a" -> cell(1 -> 1.0, 10 -> 2.0)), Nil, registry, scales))
    // query present but missing a scale point (the exact r16 clobber
    // shape: x1-only in-flight dump) → partial
    assert(!ScaleSweep.isComplete(
      Map("a" -> cell(1 -> 1.0), "b" -> cell(1 -> 1.0, 10 -> 2.0),
        "c" -> cell(1 -> 1.0, 10 -> 2.0)), Nil, registry, scales))
    // empty registry is never "complete"
    assert(!ScaleSweep.isComplete(Map.empty, Nil, Set.empty, scales))
  }

  // A query that fails in either pass has no cell at that scale point
  // (Bench's any-pass rule): a pass-1 time must not survive a pass-2
  // failure as "steady", and a pass-2 success after a pass-1 failure
  // must not leave a placeholder cold time behind.
  test("a failure in either pass drops that scale point's cell") {
    val prior = Map(1 -> (0.5, 0.4))
    // pass 1 ok, pass 2 fails
    val okThenFail = ScaleSweep.recordPass(
      ScaleSweep.recordPass(prior, 10, 1, Some(3.0)), 10, 2, None)
    assert(okThenFail == prior)
    // pass 1 fails, pass 2 ok
    val failThenOk = ScaleSweep.recordPass(
      ScaleSweep.recordPass(prior, 10, 1, None), 10, 2, Some(2.0))
    assert(failThenOk == prior)
    // both ok: cold is pass 1, steady the min of the two
    val both = ScaleSweep.recordPass(
      ScaleSweep.recordPass(prior, 10, 1, Some(3.0)), 10, 2, Some(2.0))
    assert(both == prior + (10 -> (3.0, 2.0)))
  }

  // A SPARK_GRAFT_ONLY focus run is complete once every query it
  // selected has a cell at every scale point; before, it was checked
  // against the whole registry and always stayed at `.partial`.
  test("a focus run is complete once its own selection is covered") {
    val registry = Set("a", "b", "c")
    val scales = Seq(1, 2)
    val cells = Map("a" -> Map(1 -> (1.0, 1.0), 2 -> (2.0, 2.0)))
    val focus = ScaleSweep.selectedNames(Some(Set("a", "zz")), registry)
    assert(focus == Set("a"), "unknown names drop out of the selection")
    assert(ScaleSweep.isComplete(cells, Nil, focus, scales))
    // an unscoped run still needs the whole registry
    val all = ScaleSweep.selectedNames(None, registry)
    assert(all == registry)
    assert(!ScaleSweep.isComplete(cells, Nil, all, scales))
    // a focus set that names no registry query never promotes
    assert(!ScaleSweep.isComplete(Map.empty, Nil,
      ScaleSweep.selectedNames(Some(Set("zz")), registry), scales))
  }

  test("degenerate inputs return None, never throw") {
    assert(ScaleSweep.exponent(Nil).isEmpty)
    assert(ScaleSweep.exponent(Seq(10 -> 3.0)).isEmpty)
    // identical k (zero variance) can't be fitted
    assert(ScaleSweep.exponent(Seq(10 -> 3.0, 10 -> 4.0)).isEmpty)
    // non-positive times are dropped (a failed sample must not poison
    // the fit with -Inf)
    assert(ScaleSweep.exponent(Seq(1 -> 0.0, 10 -> 2.0)).isEmpty)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.TieredFoldPolicy

/** Pins the tiered fold-cadence policy: its seed estimate recovers the
  * MAINTAIN_r13.json serve-tax slope, and its rent-or-buy triggers land
  * where the frozen estimates say they should. The policy driven
  * through a real epoch is EpochSpec. */
class FoldPolicySpec extends AnyFunSuite {

  // MAINTAIN_r13.json sf0.1 bm25: serve 0.77 s @0 segs, 2.313 @8, 5.661 @32
  val curveSf01 = Seq(0 -> 0.77, 8 -> 2.313, 32 -> 5.661)
  // MAINTAIN_r13.json sf1 bm25: 1.123 @0, 2.793 @8, 5.715 @32
  val curveSf1 = Seq(0 -> 1.123, 8 -> 2.793, 32 -> 5.715)

  test("tax estimate recovers the measured near-linear slope") {
    val t01 = TieredFoldPolicy.estimateTaxPerSegment(curveSf01)
    assert(t01 > 0.13 && t01 < 0.17, s"sf0.1 slope $t01")
    val t1 = TieredFoldPolicy.estimateTaxPerSegment(curveSf1)
    assert(t1 > 0.12 && t1 < 0.16, s"sf1 slope $t1")
  }

  test("tax estimate refuses a degenerate curve (all points at one segment count)") {
    // den=0 would otherwise yield NaN/Infinity silently (r14 ADVICE)
    intercept[IllegalArgumentException] {
      TieredFoldPolicy.estimateTaxPerSegment(Seq(8 -> 1.0, 8 -> 2.0))
    }
  }

  // ---- TIERED policy (r16): run folds flat, base fold priced apart --

  test("tiered: serve-interleaved epoch folds to cheap RUNS mid-epoch; the base fold waits for the RUN tax") {
    // frozen estimates (unobserved serves/folds would still EWMA — pass
    // the raw policy directly): run fold 0.4 s, base fold 2.6 s, tax
    // 0.15/leaf. Segment tax crosses 0.4 at 2 segments (0.15·1 + 0.15·2
    // = 0.45) → run folds every ~2 segments; base fold fires only once
    // the RUNS' own accrued tax reaches 2.6 — never on segment tax.
    val p = new graft.streaming.TieredFoldPolicy(0.4, 2.6, 0.15)
    val events = scala.collection.mutable.ArrayBuffer[(Int, String)]()
    (1 to 32).foreach { k =>
      p.onSegment(); p.onServe()
      if (p.shouldFoldToBase) { events += (k -> "base"); p.onFoldToBase(None) }
      else if (p.shouldFoldToRun) { events += (k -> "run"); p.onFoldToRun(None) }
    }
    val runs = events.filter(_._2 == "run")
    val bases = events.filter(_._2 == "base")
    assert(runs.nonEmpty, "mid-epoch folds must happen at the run level")
    assert(bases.nonEmpty, "accrued run tax must eventually buy the base fold")
    assert(events.head._2 === "run",
      "the FIRST fold must be the cheap run fold, not the O(standing) rewrite")
    assert(runs.size > bases.size,
      s"run folds (${runs.size}) must dominate base folds (${bases.size})")
    // every fold between two base folds is a run fold at the flat price
    // — the single-level policy would have paid the base price each time
  }

  test("tiered: base fold resets both levels; run fold moves segments into a run leaf") {
    val p = new graft.streaming.TieredFoldPolicy(0.4, 2.6, 0.15)
    p.onSegment(); p.onSegment(); p.onSegment()
    assert(p.unfoldedSegments === 3 && p.unfoldedRuns === 0)
    p.onFoldToRun(None)
    assert(p.unfoldedSegments === 0 && p.unfoldedRuns === 1)
    assert(p.unfoldedLeaves === 1)
    p.onSegment()
    p.onFoldToBase(None)
    assert(p.unfoldedLeaves === 0)
  }

  test("tiered: online estimates converge per level") {
    val p = new graft.streaming.TieredFoldPolicy(0.4, 2.6, 0.15, alpha = 0.5)
    p.onFoldToRun(Some(0.1))
    assert(p.estimatedRunFoldCost < 0.4 && p.estimatedRunFoldCost >= 0.1)
    p.onFoldToBase(Some(10.0))
    assert(p.estimatedBaseFoldCost > 2.6 && p.estimatedBaseFoldCost <= 10.0)
    // tax learns per FILE: 1 run (1 file) + 1 segment (1 file),
    // observed 2 files' worth
    p.onSegment()
    p.onFoldToRun(None)
    p.onSegment()
    p.onServe(observedServeSec = Some(1.0 + 2 * 0.30), baselineServeSec = 1.0)
    assert(p.estimatedTaxPerFile > 0.15 && p.estimatedTaxPerFile <= 0.30)
  }

  test("tiered: per-FILE pricing — 1-file runs accrue ~no tax, so phantom run tax never buys a mid-epoch base fold (MAINTAIN_r17)") {
    // The r16 defect this pins against: uniform per-LEAF tax priced a
    // size-coalesced 1-file run like a full multi-file segment, so
    // outstanding runs accrued tax queries never paid (one run of 32
    // serves at BASE cost: sf1 1.497 vs 1.507 s, vs 6.17 s for the 32
    // loose segments) and bought 3 needless O(standing) base folds in
    // one sf1 epoch (116.7 s total fold time vs single-level's 21.6).
    // sf1-shaped frozen estimates: run fold 0.9 s, base fold 14.5 s,
    // per-file tax 0.005 s (the loose-segment slope 0.15/segment over
    // ~32 files/segment); every unobserved serve keeps the seed.
    val p = new graft.streaming.TieredFoldPolicy(0.9, 14.5, 0.005)
    var runFolds = 0
    (1 to 32).foreach { k =>
      p.onSegment(files = 32) // multi-file loose segment
      p.onServe()
      assert(!p.shouldFoldToBase,
        s"phantom run tax bought an O(standing) base fold at segment $k")
      if (p.shouldFoldToRun) { p.onFoldToRun(None, newRunFiles = 1); runFolds += 1 }
    }
    assert(runFolds > 0, "mid-epoch run folds must still happen")
    // each outstanding run weighs its REAL file count (1), not a
    // uniform leaf weight: run files = run count
    assert(p.unfoldedRunFiles === p.unfoldedRuns)
    // loose segments keep their real weight: 32 files each
    assert(p.unfoldedSegmentFiles === 32 * p.unfoldedSegments)
  }
}

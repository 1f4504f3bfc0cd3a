package graft.streaming

/** Two-level (TIERED) fold-cadence policy — the r15 VERDICT item 3
  * answer to the single-level LSM's scale wall: MAINTAIN_r15 measured
  * per-fold cost growing 8.2 → 27.6 s WITHIN one sf1 epoch, because
  * every mid-epoch fold rewrote the whole standing base. Classic
  * size-tiered compaction splits the price:
  *
  *   - fold-to-RUN: merge the loose segments into one run file set —
  *     O(epoch arrivals), FLAT across the epoch. Removes
  *     (segments − 1) leaves from the union read path.
  *   - fold-to-BASE: land runs + segments in the bucketed base —
  *     O(standing index), the expensive rewrite, paid once per epoch
  *     close or when the RUN leaves themselves have accrued its price.
  *
  * Rent-or-buy per level: the tax attributable to loose segments
  * accrues against the (cheap) run-fold price; the tax attributable
  * to runs accrues against the (expensive) base-fold price. Each
  * level independently keeps its total cost within 2× of the
  * clairvoyant schedule for the leaves it owns. A write-only epoch
  * accrues no tax at either level, so its only fold is the close fold
  * straight to base: write-only gate loops fold exactly once per epoch.
  *
  * Tax is priced per FILE, not per leaf dir (r17): what a serve
  * actually pays per unfolded leaf is the per-file open/footer/scan
  * setup on the union read path, so a leaf's weight is its parquet
  * file count. MAINTAIN_r17 measured the difference directly — one
  * size-coalesced run of 32 segments serves at BASE cost (sf1: 1.497
  * vs 1.507 s; run_files=1) while the 32 loose multi-file segments it
  * replaced cost 6.17 s. The r16 uniform per-leaf tax priced that
  * ~free 1-file run like a full segment, so outstanding runs accrued
  * phantom tax that bought O(standing) base folds nobody had paid for
  * (sf1 tiered loop: 3 realized base folds, 116.7 s total fold time
  * vs single-level's 21.6 s). File-weighted accrual restores the
  * 2-competitive bound per level against the cost queries actually
  * pay. Leaves with no stated weight default to 1 file.
  *
  * Estimation is online (EWMA per cost, shared per-file tax), seeded
  * from probe curves. It runs no Spark job: [[Epoch]] times its folds
  * into it and asks it when to fold. */
final class TieredFoldPolicy(
    initialRunFoldCostSec: Double,
    initialBaseFoldCostSec: Double,
    initialTaxPerFileSec: Double,
    alpha: Double = 0.3) {
  require(initialRunFoldCostSec > 0 && initialBaseFoldCostSec > 0 &&
    initialTaxPerFileSec >= 0)
  require(alpha > 0 && alpha <= 1)

  private var runCost = initialRunFoldCostSec
  private var baseCost = initialBaseFoldCostSec
  private var tax = initialTaxPerFileSec
  private var segments = 0
  private var runs = 0
  private var segFiles = 0
  private var runFiles = 0
  private var segTaxSec = 0.0
  private var runTaxSec = 0.0

  /** A micro-batch landed as one more loose segment of `files`
    * parquet files (the weight a serve pays for it). */
  def onSegment(files: Int = 1): Unit = {
    require(files >= 1, s"a segment has at least one file, got $files")
    segments += 1
    segFiles += files
  }

  /** A query was served over base + runs + segments; accrue the tax
    * it paid, attributed per leaf level, weighted by file count. */
  def onServe(observedServeSec: Option[Double] = None,
      baselineServeSec: Double = 0.0): Unit = {
    observedServeSec.foreach { obs =>
      val files = segFiles + runFiles
      if (files > 0) {
        val perFile = math.max(0.0, (obs - baselineServeSec) / files)
        tax = (1 - alpha) * tax + alpha * perFile
      }
    }
    segTaxSec += segFiles * tax
    runTaxSec += runFiles * tax
  }

  /** Fold loose segments to a run once THEIR accrued tax reaches the
    * run-fold price (≥2 segments — folding one is a pure rename). */
  def shouldFoldToRun: Boolean = segments > 1 && segTaxSec >= runCost

  /** Fold everything to base once the RUN leaves' accrued tax reaches
    * the base-fold price — the O(standing) rewrite triggers only when
    * queries have actually paid for it. */
  def shouldFoldToBase: Boolean = runs > 0 && runTaxSec >= baseCost

  /** The loose segments were merged into one run of `newRunFiles`
    * parquet files (size-coalesced — LsmFold.mergeRun reports the
    * real count, typically 1 at small tiers). */
  def onFoldToRun(observedFoldSec: Option[Double] = None,
      newRunFiles: Int = 1): Unit = {
    require(newRunFiles >= 1, s"a run has at least one file, got $newRunFiles")
    observedFoldSec.foreach(f => runCost = (1 - alpha) * runCost + alpha * f)
    runs += 1
    runFiles += newRunFiles
    segments = 0
    segFiles = 0
    segTaxSec = 0.0
  }

  def onFoldToBase(observedFoldSec: Option[Double] = None): Unit = {
    observedFoldSec.foreach(f => baseCost = (1 - alpha) * baseCost + alpha * f)
    runs = 0
    segments = 0
    segFiles = 0
    runFiles = 0
    segTaxSec = 0.0
    runTaxSec = 0.0
  }

  def unfoldedSegments: Int = segments
  def unfoldedRuns: Int = runs
  def unfoldedLeaves: Int = segments + runs
  def unfoldedSegmentFiles: Int = segFiles
  def unfoldedRunFiles: Int = runFiles
  def estimatedRunFoldCost: Double = runCost
  def estimatedBaseFoldCost: Double = baseCost
  def estimatedTaxPerFile: Double = tax
}

object TieredFoldPolicy {

  /** Default seed: run folds priced at the measured O(batch) segment
    * write scale (MAINTAIN_r13 sf0.1 segment_write ≈ 0.4 s), base
    * folds at the measured epoch fold (2.6 s), tax per file from the
    * serve-vs-segments slope (0.15 s — the probe's segments are
    * ~1-file, so slope/segment ≈ slope/file as a seed; the EWMA
    * recalibrates from the first observed serve). */
  def defaultPolicy(): TieredFoldPolicy = new TieredFoldPolicy(
    initialRunFoldCostSec = 0.4, initialBaseFoldCostSec = 2.6,
    initialTaxPerFileSec = 0.15)

  /** Least-squares slope of the measured serve-vs-segments curve —
    * how a deployment seeds the serve tax from a MAINTAIN probe
    * artifact's `serve_sec_by_unfolded_segments` points. */
  def estimateTaxPerSegment(curve: Seq[(Int, Double)]): Double = {
    require(curve.size >= 2, "need at least two curve points")
    require(curve.map(_._1).distinct.size >= 2,
      "need at least two DISTINCT segment counts (den=0 otherwise)")
    val n = curve.size.toDouble
    val mx = curve.map(_._1).sum / n
    val my = curve.map(_._2).sum / n
    val num = curve.map { case (x, y) => (x - mx) * (y - my) }.sum
    val den = curve.map { case (x, _) => (x - mx) * (x - mx) }.sum
    num / den
  }
}

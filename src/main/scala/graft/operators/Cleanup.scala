package graft.operators

import org.apache.spark.sql.SparkSession

/** One teardown call for every per-(session, dataset) memo the
  * operators keep (persisted index/band layouts on disk, driver-side
  * stats and model caches): `Verify`, `PlanAudit`, and the specs end a
  * session clean through the same door instead of each knowing the
  * module list. The memos are pure functions of the dataset, so
  * dropping them is always safe — the next invocation rebuilds.
  */
object Cleanup {
  def dropAll(s: SparkSession): Unit = {
    LayoutRegistry.drop(s)        // every persisted layout: catalog tables + temp dirs
    Similarity.dropCentroidCaches(s) // memoized refined centroids + two-level IMI
    Spatial.dropStatsCache(s)     // memoized two-sided box stats
    TextAnalysis.dropModelCaches(s) // memoized vocab gate + surprisal bits map
  }

  /** Number of live memo entries held for this session across every
    * registry — 0 after dropAll (asserted by CleanupSpec). */
  private[graft] def liveEntries(s: SparkSession): Int = {
    // keys are (session, dataset[, geometry]) tuples — count by the
    // session in the first slot, whatever the arity
    def c(m: java.util.concurrent.ConcurrentHashMap[_ <: Product, _]): Int = {
      var n = 0
      m.forEach((k, _) => if (k.productElement(0).asInstanceOf[AnyRef] eq s) n += 1)
      n
    }
    c(LayoutRegistry.entries) +
      c(Similarity.centroidCache) + c(Similarity.twoLevelCache) + c(Similarity.pqCbCache) +
      c(Spatial.statsCache) + c(TextAnalysis.vocabCache) + c(TextAnalysis.bitsCache)
  }
}

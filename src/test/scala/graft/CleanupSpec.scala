package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Cleanup, Dedup, LayoutRegistry, Similarity, Spatial, TextAnalysis}

/** The unified memo teardown (r8 verdict finding 1): every
  * per-(session, dataset) registry — persisted index/band layouts,
  * box stats, the surprisal model — empties through one
  * `Cleanup.dropAll`, so Verify/PlanAudit end a session clean. */
class CleanupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val d = "/root/testdata/sf0.001"

  test("dropAll empties every per-session memo registry; memos rebuild on demand") {
    // populate one memo per registry
    Spatial.sideStats(spark, d)
    TextAnalysis.textSurprisal(spark, d).head() // vocab gate + bits map
    Similarity.simIvfInt8Bucketed(spark, d).head() // persisted ANN index
    Dedup.dedupMinhashLshBucketedPlan(spark, d).head() // persisted band layout
    // ≥7: index table + centroid + two-level IMI memos (all three from the
    // bucketed ANN build), band layout, box stats, vocab gate, bits map
    assert(Cleanup.liveEntries(spark) >= 7)

    Cleanup.dropAll(spark)
    assert(Cleanup.liveEntries(spark) === 0)

    // dropped memos are rebuilt, not broken
    assert(Similarity.simIvfInt8Bucketed(spark, d).count() > 0)
    Cleanup.dropAll(spark)
    assert(Cleanup.liveEntries(spark) === 0)
  }

  test("surprisal model cache holds at most one dataset per session") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cleanup")
    import spark.implicits._
    Seq((1L, "alpha beta gamma", "s0"), (2L, "alpha beta beta", "s0"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    TextAnalysis.textSurprisal(spark, d).head()
    TextAnalysis.textSurprisal(spark, tmp.toString).head()
    // the switch evicted the first dataset's model
    var live = 0
    TextAnalysis.bitsCache.forEach((k, _) => if (k._1 eq spark) live += 1)
    assert(live === 1)
    Cleanup.dropAll(spark)
  }

  test("dropAll survives a layout dir already deleted and forgets every layout") {
    Dedup.dedupMinhashLshBucketedPlan(spark, d).head() // persisted band layout
    Dedup.dedupSubstringBucketedPlan(spark, d).head() // persisted gram index
    // a temp reaper deletes the band layout's files under the session
    graft.streaming.PartitionedTable.deleteRecursively(
      LayoutRegistry.entries.get((spark, "lshbkt", d)).dir)
    Cleanup.dropAll(spark)
    assert(Cleanup.liveEntries(spark) === 0)
  }
}

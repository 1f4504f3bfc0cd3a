package graft

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Retrieval
import graft.streaming.Epoch

/** The maintained BM25 pair driven the way `stream_bm25_maintain`
  * drives it — every segment lands and folds through `streaming.Epoch` —
  * for the specs that check it across several epochs. */
object Bm25Maintained {

  /** The pair over `base` under `dir`, seeded. `dir` lies outside any
    * epoch's work dir, so the pair outlives the epochs that fold into it. */
  def seeded(s: SparkSession, dir: Path, base: DataFrame): Retrieval.MaintainedIndex = {
    val idx = Retrieval.maintainedIndex(s, dir, base)
    Retrieval.seedMaintained(s, idx, base)
    idx
  }

  /** One epoch over `idx`: each (sub-batch, docs) lands on both tables,
    * behind the landing guard or, with `guarded = false`, as a loop that
    * re-lands a replay; then the close fold and compaction. */
  def epoch(s: SparkSession, idx: Retrieval.MaintainedIndex,
      batches: Seq[(Int, DataFrame)], guarded: Boolean = true): Unit =
    Epoch.run(s, "graft_bm25_spec") { ep =>
      val pair = new Retrieval.Bm25Epoch(ep, idx)
      batches.foreach { case (k, docs) =>
        if (guarded) pair.land(k, docs)
        else {
          pair.ep.land(pair.postings, k, Retrieval.postingsOf(docs))
          pair.ep.land(pair.doclens, k, Retrieval.doclensOf(docs))
        }
      }
      ep.finish()
    }

  /** BM25 top-10 served from the pair's committed state. */
  def served(s: SparkSession, idx: Retrieval.MaintainedIndex,
      qterms: DataFrame): DataFrame =
    Retrieval.bm25Of(idx.postings.read(s),
      Retrieval.totalsOfDoclens(idx.doclens.read(s)), qterms)

  def rows(df: DataFrame): Set[String] = df.collect().map(_.mkString("|")).toSet
}

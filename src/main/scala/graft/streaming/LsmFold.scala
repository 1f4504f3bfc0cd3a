package graft.streaming

import org.apache.spark.sql.SparkSession
import java.nio.file.Path

/** Shared physical fold kernel for the LSM maintain loops (bm25 /
  * ann / dedup): the one fold of an epoch, loose segments into the
  * bucketed base.
  *
  * A PART is one (sub-batch id, parquet dir): a loose segment. Parts
  * land in the base through `foldToBase`, which is REPLAY-SAFE
  * structurally: each base fold commits one `<app>.seg<k>` txn marker
  * per folded sub-batch atomically with the data
  * (PartitionedTable.alsoRecord), and parts whose id the table has
  * already folded are filtered here — a replayed already-folded
  * sub-batch can never re-land, whatever the loop around the fold
  * does (FoldReplaySpec).
  *
  * Cost shape: a segment write reads and writes only its own rows,
  * O(batch); `foldToBase` is the bucketed-base rewrite, O(standing
  * index), paid once per epoch at its close. */
object LsmFold {

  /** Parquet file count of a part dir. */
  def parquetFiles(p: Path): Int = {
    if (!java.nio.file.Files.exists(p)) 0
    else {
      val w = java.nio.file.Files.walk(p)
      try w.filter(f => java.nio.file.Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).count().toInt
      finally w.close()
    }
  }

  /** Land segments into the bucketed base in one commit, refusing
    * those whose sub-batch is already folded. `merge=false` →
    * appendInto (postings/bands/codes), `merge=true` → mergeInto
    * (doclens/sets — keyed upserts). `alsoRecord` commits EXTRA
    * markers atomically with the fold — the BM25 paired-snapshot
    * record rides here. */
  def foldToBase(s: SparkSession, t: PartitionedTable, app: String,
      parts: Seq[(Int, Path)], ver: Long, merge: Boolean,
      alsoRecord: Map[String, Long] = Map.empty): Unit = {
    val fresh = parts.filter { case (k, _) => t.lastTxn(s"$app.seg$k").isEmpty }
    if (fresh.isEmpty) return
    val markers = fresh.map { case (k, _) => s"$app.seg$k" -> ver }.toMap ++ alsoRecord
    val df = s.read.parquet(fresh.map(_._2.toString): _*)
    if (merge) t.mergeInto(s, df, Some(app -> ver), markers)
    else t.appendInto(s, df, Some(app -> ver), markers)
  }

  /** Delete part dirs a fold has consumed (segment age-out — the
    * union read path only ever holds UNFOLDED parts). */
  def prune(parts: Seq[Path]): Unit =
    parts.distinct.foreach { p =>
      if (java.nio.file.Files.exists(p))
        PartitionedTable.deleteRecursively(p)
    }
}

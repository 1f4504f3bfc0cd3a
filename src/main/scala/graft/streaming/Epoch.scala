package graft.streaming

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One LSM maintenance epoch over an ordered list of derived tables —
  * the loop every maintained index (BM25 postings + doclens, ANN
  * cells, dedup bands + sets) runs, written once:
  *
  *   - a temp work dir holding the segment store, deleted when the
  *     epoch closes;
  *   - a fenced single-writer lease over every registered table, so a
  *     maintainer whose lease is stolen is refused at the commit point;
  *   - per sub-batch k, an O(batch) SEGMENT write per table (`land`),
  *     named by k so a replay overwrites in place, behind the landing
  *     guard `fresh` (k's `<app>.seg<k>` marker is not in the base);
  *   - reads between lands over base ∪ loose segments (`unfolded`), one
  *     multi-path scan: it costs a step at the first segment, stays
  *     within ~0.3 s of the base through 32 segments and adds ~0.012 s
  *     per segment after that (MaintainProbe, sf0.1). The maintain
  *     loops land 3 sub-batches per epoch (AnnBuildSoak 4), so no
  *     segment count buys a fold before the close;
  *   - `finish()`: the one fold per epoch, every loose segment into the
  *     bucketed base (LsmFold.foldToBase, replay-safe by its markers),
  *     then `compact`, both in table order.
  *
  * Tables fold and compact in REGISTRATION order, each with its lazily
  * evaluated `alsoRecord` — so the BM25 pair registers doclens first and
  * postings second with the PairMarker, and needs no special case. */
final class Epoch private (s: SparkSession, val dir: Path,
    lease: Replication.WriterLease) {

  /** A table registered with this epoch: its base, the app name its txn
    * and `<app>.seg<k>` markers are keyed by, append (`merge = false`)
    * or keyed upsert, extra markers every base commit carries, and its
    * loose segments. */
  final class Table private[Epoch] (val pt: PartitionedTable, val app: String,
      val merge: Boolean, val alsoRecord: () => Map[String, Long]) {
    private[Epoch] val segs = new SubBatchState[Path]
  }

  private val tables = ArrayBuffer[Table]()
  private var closeFold: Option[Double] = None

  /** Register `pt` and fence it on this epoch's lease. Register every
    * table before its first commit, in fold order. */
  def table(pt: PartitionedTable, app: String, merge: Boolean,
      alsoRecord: => Map[String, Long] = Map.empty): Table = {
    pt.withFence(() => lease.check(), Some(lease.generation))
    val t = new Table(pt, app, merge, () => alsoRecord)
    tables += t
    t
  }

  /** Sub-batch k is not yet folded into `t`'s base. Guarded PER TABLE,
    * so a crash between two tables' base commits re-lands only the
    * table that missed it. */
  def fresh(t: Table, k: Int): Boolean = t.pt.lastTxn(s"${t.app}.seg$k").isEmpty

  /** Land sub-batch k's rows for `t` as one loose segment. */
  def land(t: Table, k: Int, rows: DataFrame): Unit = {
    val seg = dir.resolve("segs").resolve(t.app).resolve(f"seg$k%04d")
    rows.write.mode("overwrite").parquet(seg.toString)
    t.segs.put(k, seg)
  }

  /** `t`'s loose segments of sub-batches strictly before `before` —
    * the leaves a serve unions onto the base. */
  def leaves(t: Table, before: Int = Int.MaxValue): Seq[Path] = t.segs.earlier(before)

  /** Base ∪ `leaves(t, before)`: the state sub-batch `before` must see,
    * exactly what it saw on first delivery. */
  def unfolded(t: Table, before: Int = Int.MaxValue): DataFrame = {
    val ls = leaves(t, before)
    if (ls.isEmpty) t.pt.read(s)
    else t.pt.read(s).unionByName(s.read.parquet(ls.map(_.toString): _*))
  }

  /** Epoch close: land every loose segment in the base (one commit per
    * table, in order, each at the version after the table's own last
    * one; the segments are pruned after all), then compact, in table
    * order. */
  def finish(): Unit = {
    if (tables.exists(_.segs.nonEmpty)) {
      val t0 = System.nanoTime()
      val parts = tables.toSeq.flatMap { t =>
        val ps = t.segs.entries
        LsmFold.foldToBase(s, t.pt, t.app, ps,
          t.pt.lastTxn(t.app).fold(1L)(_ + 1), t.merge, t.alsoRecord())
        ps
      }
      LsmFold.prune(parts.map(_._2))
      tables.foreach(_.segs.clear())
      closeFold = Some((System.nanoTime() - t0) / 1e9)
    }
    tables.foreach(t => t.pt.compact(s, alsoRecord = t.alsoRecord()))
  }

  /** Seconds of the close fold, once `finish()` has folded a segment. */
  def foldSec: Option[Double] = closeFold
}

object Epoch {

  /** Run `body` as one epoch: a fresh work dir `prefix*` under the
    * writer lease; every table `body` registers is unfenced when it
    * returns or throws, and the work dir is deleted. `body` calls
    * `finish()` itself, before it reads the folded base. */
  def run[T](s: SparkSession, prefix: String)(body: Epoch => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try Replication.withWriterLease(dir) { lease =>
      val ep = new Epoch(s, dir, lease)
      try body(ep) finally ep.tables.foreach(_.pt.clearFence())
    } finally PartitionedTable.deleteRecursively(dir)
  }
}

package graft.streaming

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One LSM maintenance epoch over an ordered list of derived tables —
  * the loop every maintained index (BM25 postings + doclens, ANN
  * cells, dedup bands + sets) runs, written once:
  *
  *   - a temp work dir holding the segment and run stores, deleted
  *     when the epoch closes;
  *   - a fenced single-writer lease over every registered table, so a
  *     maintainer whose lease is stolen is refused at the commit point;
  *   - per sub-batch k, an O(batch) SEGMENT write per table (`land`),
  *     named by k so a replay overwrites in place, behind the landing
  *     guard `fresh` (k is neither in the base — its `<app>.seg<k>`
  *     marker — nor in a live run);
  *   - the TIERED rent-or-buy cadence (TieredFoldPolicy): a serve
  *     (`onServe`) may fold loose segments into a flat-priced RUN
  *     (LsmFold.mergeRun) or everything into the bucketed base
  *     (LsmFold.foldToBase, replay-safe by its markers);
  *   - `finish()`: the close fold to base, then `compact`, both in
  *     table order.
  *
  * Tables fold and compact in REGISTRATION order, each with its lazily
  * evaluated `alsoRecord` — so the BM25 pair registers doclens first and
  * postings second with the PairMarker, and needs no special case.
  * A write-only epoch (no serves) accrues no tax at either level, so its
  * only fold is the close fold straight to base.
  *
  * The landed files of one sub-batch, over all tables, are one policy
  * segment: they are reported when another sub-batch lands, at the next
  * serve, or at the close. */
final class Epoch private (s: SparkSession, val dir: Path,
    lease: Replication.WriterLease, val policy: TieredFoldPolicy) {

  /** A table registered with this epoch: its base, the app name its txn
    * and `<app>.seg<k>` markers are keyed by, append (`merge = false`)
    * or keyed upsert, extra markers every base commit carries, and its
    * unfolded segments and runs. */
  final class Table private[Epoch] (val pt: PartitionedTable, val app: String,
      val merge: Boolean, val alsoRecord: () => Map[String, Long]) {
    private[Epoch] val segs = new SubBatchState[Path]
    private[Epoch] val runs = ArrayBuffer[(Seq[Int], Path)]()
    private[Epoch] def parts: Seq[(Seq[Int], Path)] =
      runs.toSeq ++ segs.entries.map { case (k, p) => (Seq(k), p) }
  }

  private val tables = ArrayBuffer[Table]()
  private var runSeq = 0
  private var landed: Option[(Int, Int)] = None // (sub-batch, files) not yet reported
  private var segments = 0
  private val log = ArrayBuffer[Epoch.Fold]()

  /** Register `pt` and fence it on this epoch's lease. Register every
    * table before its first commit, in fold order. */
  def table(pt: PartitionedTable, app: String, merge: Boolean,
      alsoRecord: => Map[String, Long] = Map.empty): Table = {
    pt.withFence(() => lease.check(), Some(lease.generation))
    val t = new Table(pt, app, merge, () => alsoRecord)
    tables += t
    t
  }

  /** Sub-batch k is not yet in `t`: neither folded into its base nor
    * held by a live run. Guarded PER TABLE, so a crash between two
    * tables' base commits re-lands only the table that missed it. */
  def fresh(t: Table, k: Int): Boolean =
    t.pt.lastTxn(s"${t.app}.seg$k").isEmpty && !t.runs.exists(_._1.contains(k))

  /** Land sub-batch k's rows for `t` as one loose segment. */
  def land(t: Table, k: Int, rows: DataFrame): Unit = {
    if (!landed.exists(_._1 == k)) report()
    val seg = dir.resolve("segs").resolve(t.app).resolve(f"seg$k%04d")
    rows.write.mode("overwrite").parquet(seg.toString)
    t.segs.put(k, seg)
    landed = Some(k -> (landed.fold(0)(_._2) + LsmFold.parquetFiles(seg)))
  }

  /** `t`'s unfolded leaves — runs, then loose segments of sub-batches
    * strictly before `before` — the parts a serve unions onto the base. */
  def leaves(t: Table, before: Int = Int.MaxValue): Seq[Path] =
    t.runs.map(_._2).toSeq ++ t.segs.earlier(before)

  /** Base ∪ `leaves(t, before)`: the state sub-batch `before` must see,
    * exactly what it saw on first delivery. */
  def unfolded(t: Table, before: Int = Int.MaxValue): DataFrame = {
    val ls = leaves(t, before)
    if (ls.isEmpty) t.pt.read(s)
    else t.pt.read(s).unionByName(s.read.parquet(ls.map(_.toString): _*))
  }

  /** A query was served over base ∪ leaves; fold if its accrued tax
    * buys a fold at either level. */
  def onServe(observedServeSec: Option[Double] = None,
      baselineServeSec: Double = 0.0): Unit = {
    report()
    policy.onServe(observedServeSec, baselineServeSec)
    if (policy.shouldFoldToBase) foldToBase()
    else if (policy.shouldFoldToRun) foldToRun()
  }

  /** Epoch close: land every unfolded leaf in the base, then compact,
    * in table order. */
  def finish(): Unit = {
    report()
    if (policy.unfoldedLeaves > 0) foldToBase()
    tables.foreach(t => t.pt.compact(s, alsoRecord = t.alsoRecord()))
  }

  /** Every fold so far, in order. */
  def folds: Seq[Epoch.Fold] = log.toSeq

  private def report(): Unit = {
    landed.foreach { case (_, files) =>
      policy.onSegment(math.max(1, files))
      segments += 1
    }
    landed = None
  }

  private def timed(level: String)(fold: => Unit): Double = {
    val t0 = System.nanoTime()
    fold
    val sec = (System.nanoTime() - t0) / 1e9
    log += Epoch.Fold(level, segments, sec)
    sec
  }

  private def foldToRun(): Unit = {
    var files = 0
    val sec = timed("run") {
      tables.foreach { t =>
        val se = t.segs.entries
        if (se.nonEmpty) {
          val r = LsmFold.mergeRun(s, dir.resolve("runs").resolve(t.app), runSeq, se)
          t.runs += r
          files += LsmFold.parquetFiles(r._2)
          LsmFold.prune(se.map(_._2))
          t.segs.clear()
        }
      }
      runSeq += 1
    }
    policy.onFoldToRun(Some(sec), math.max(1, files))
  }

  /** One base commit per table, in order, each at the version after the
    * table's own last one; the consumed parts are pruned after all. */
  private def foldToBase(): Unit = {
    val sec = timed("base") {
      val parts = tables.toSeq.map { t =>
        val ps = t.parts
        LsmFold.foldToBase(s, t.pt, t.app, ps,
          t.pt.lastTxn(t.app).fold(1L)(_ + 1), t.merge, t.alsoRecord())
        ps
      }
      LsmFold.prune(parts.flatten.map(_._2))
      tables.foreach { t => t.runs.clear(); t.segs.clear() }
    }
    policy.onFoldToBase(Some(sec))
  }
}

object Epoch {

  /** One realized fold: "run" or "base", after how many sub-batch
    * segments of the epoch, and its seconds. */
  final case class Fold(level: String, atSegment: Int, sec: Double)

  /** Run `body` as one epoch: a fresh work dir `prefix*` under the
    * writer lease; every table `body` registers is unfenced when it
    * returns or throws, and the work dir is deleted. `body` calls
    * `finish()` itself, before it reads the folded base. */
  def run[T](s: SparkSession, prefix: String,
      policy: TieredFoldPolicy = TieredFoldPolicy.defaultPolicy())(
      body: Epoch => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try Replication.withWriterLease(dir) { lease =>
      val ep = new Epoch(s, dir, lease, policy)
      try body(ep) finally ep.tables.foreach(_.pt.clearFence())
    } finally PartitionedTable.deleteRecursively(dir)
  }
}

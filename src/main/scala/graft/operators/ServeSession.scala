package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Long-lived ONLINE serve sessions over the persisted index layouts
  * (r14 VERDICT item 4 — productize the 48 ms reused-plan number that
  * lived inside AnnBuildSoak's measurement code).
  *
  * The r14 serve-latency decomposition (BENCH_r14_annsoak.json
  * `serve_breakdown`) showed 98% of a cold one-shot probe is Spark
  * PLANNING — catalog resolution, file listing, bucketed-scan
  * planning, AQE finalization — not index work (6 ms of executor task
  * time at 5 M vectors). The deployment consequence: an online serve
  * node must amortize the expensive per-probe pieces across query
  * batches, exactly what these sessions do —
  *
  *   - index resolution happens ONCE at session open (catalog lookup,
  *     quantizer/codebook memo warm-up, file listing), and the code
  *     scan is pinned as an in-memory relation (`persist` +
  *     materialize) — the Spark-native form of "the serve node holds
  *     the index in RAM"; per-batch plans join a LocalTableScan of
  *     queries against an InMemoryRelation — no file listing, no
  *     bucketed-scan planning, no shuffle;
  *   - queries arrive as a PARAMETER RELATION (any (query_id,
  *     embedding) / (query_id, text) DataFrame — a local batch, a
  *     micro-batch, a view), so one probe serves the whole batch and
  *     the irreducible per-probe driver submit (~27 ms measured)
  *     amortizes to noise at batch sizes ≥16;
  *   - `serveIds` results are IDENTICAL to the one-shot entries
  *     (`sim_ivf_int8_bucketed` / `text_bm25_bucketed`) — pinned in
  *     ServeSessionSpec; the session is a latency choice, not a
  *     semantic one. Ad-hoc `serve(queries)` batches carry the
  *     CALLER's query_id namespace, so they never self-exclude: a
  *     query_id that happens to collide with a corpus vec_id still
  *     sees that vector as a candidate (r15 ADVICE; colliding-id
  *     case pinned in ServeSessionSpec).
  *
  * == Consistency contract (r15 VERDICT item 1) ==
  *
  * `AnnServeSession`/`Bm25ServeSession` pin WRITE-ONCE layouts (the
  * `bucketBy` tables built by `sim_ivf_int8_bucketed` /
  * `text_bm25_bucketed`); those layouts are immutable by
  * construction, so the session is trivially consistent for its
  * lifetime — there is nothing to refresh.
  *
  * The MAINTAINED indexes (`stream_{ann,bm25}_maintain`'s
  * [[graft.streaming.PartitionedTable]]s) mutate under a live serve
  * node: the maintain loop folds segments, compacts, and vacuums
  * WHILE sessions serve. `MaintainedAnnServeSession` /
  * `MaintainedBm25ServeSession` make the semantics explicit through
  * the table format's own snapshot machinery:
  *
  *   - at open, the session resolves the table's LATEST committed
  *     snapshot id and pins it (`readAt(s<N>)` + persist +
  *     materialize). Every serve answers EXACTLY that snapshot —
  *     never a torn read, never silently-newer data — because commit
  *     dirs are immutable (every fold/compact writes a FRESH dir and
  *     repoints one manifest atomically; nothing a pinned snapshot
  *     references is ever rewritten in place);
  *   - `refresh()` re-resolves the latest snapshot, pins it, swaps,
  *     and unpersists the old pin — the session then serves the
  *     post-fold state, equal to a fresh one-shot over the current
  *     table (spec: serve-during-maintain in ServeSessionSpec).
  *     Refresh cost is one snapshot read + materialize (measured
  *     next to the steady serve in BENCH_r16_annsoak.json);
  *   - LIFETIME: the pin is valid while the snapshot is inside the
  *     maintainer's `vacuum` retention horizon. The deployment dial
  *     is the same one that sets time-travel retention: run sessions
  *     refresh-or-close within the horizon. Past it, the pinned
  *     in-memory relation keeps serving while cached, but a cache
  *     eviction would recompute from swept files — `refresh()`
  *     (or re-open) is the supported path, and a `readAt` of a
  *     swept snapshot fails LOUDLY, never silently reads newer data.
  *   - `refresh()` swaps the pin atomically for the NEXT serve call;
  *     it does not synchronize with serves running concurrently on
  *     other threads (single serving thread per session, the same
  *     single-writer discipline the maintain loop itself follows).
  *
  * Throughput vs batch size (16 / 256 / 4096 queries per probe) is
  * measured by `graft.AnnBuildSoak` → `serve_batched`.
  *
  * 100 TB shape: the pinned relation is the PROBED columns only
  * (vec_id, cell, c_scale, cq ≈ 80 B/vector int8; postings rows for
  * the BM25 side) and `MEMORY_AND_DISK` degrades gracefully past RAM;
  * a fleet shards by cell/gram bucket and each serve node pins its
  * shard — the same architecture as the bucketBy layout it reads.
  */
object ServeSession {

  /** Open the ANN serve session: resolve + pin the int8 code scan. */
  def ann(s: SparkSession, d: String): AnnServeSession =
    new AnnServeSession(s, d)

  /** Open the BM25 serve session: resolve + pin the postings index. */
  def bm25(s: SparkSession, d: String): Bm25ServeSession =
    new Bm25ServeSession(s, d)

  /** Open a snapshot-pinned session over a MAINTAINED frozen-quantizer
    * ANN table (`stream_ann_maintain`'s layout). `qcellsOf` maps a
    * (query_id, embedding) batch to (query_id, qcell, q_scale, qq)
    * with the index's FROZEN quantizer — the caller owns the
    * quantizer, the session owns the snapshot. */
  def annMaintained(s: SparkSession, table: graft.streaming.PartitionedTable,
      qcellsOf: DataFrame => DataFrame): MaintainedAnnServeSession =
    new MaintainedAnnServeSession(s, table, qcellsOf)

  /** Open a snapshot-pinned session over a MAINTAINED BM25 index
    * (`stream_bm25_maintain`'s postings + doclens tables). */
  def bm25Maintained(s: SparkSession,
      postings: graft.streaming.PartitionedTable,
      doclens: graft.streaming.PartitionedTable): MaintainedBm25ServeSession =
    new MaintainedBm25ServeSession(s, postings, doclens)
}

/** Serve session over the persisted bucketBy(cell) int8 ANN index —
  * the documented online entry for `sim_ivf_int8_bucketed`'s layout
  * (write-once: see the consistency contract on [[ServeSession]]).
  * `serve(queries)` takes any (query_id, embedding) relation and
  * returns the same (query_id, vec_id, cell, cos_q, rnk) top-5
  * relation as the one-shot entry. */
final class AnnServeSession private[operators] (s: SparkSession, d: String) {
  import Similarity._

  // resolved once per session: builds the index table if absent,
  // warms the quantizer memos, pins the probed columns hot
  private val index: DataFrame = bucketedIndexTable(s, d)
    .select(col("vec_id"), col("cell"), col("c_scale"), col("cq"))
    .persist(StorageLevel.MEMORY_AND_DISK)
  index.count() // materialize at open, not on the first query's clock

  private val cellOf = imiCellOf(s, d) _

  private def qcellsOf(queries: DataFrame): DataFrame =
    int8Queries(queries, Some(cellOf))

  /** One probe of an AD-HOC query batch: quantize the QUERY side only,
    * then the frozen-int8 serve kernel against the pinned code
    * relation. The batch's query_id namespace is the caller's — NO
    * self-exclusion (a collision with a corpus vec_id must not drop
    * that vector; r15 ADVICE). */
  def serve(queries: DataFrame): DataFrame =
    frozenInt8ServeBatched(index, qcellsOf(queries), excludeSelf = false)

  /** Convenience: serve corpus vectors by id (the gate entries'
    * query shape — query ids ARE corpus vec_ids, so self-exclusion
    * applies, exactly as in the one-shot entries). */
  def serveIds(ids: Seq[Long]): DataFrame =
    frozenInt8ServeBatched(index, qcellsOf(
      graft.Tables.embeddings(s, d)
        .filter(col("vec_id").isInCollection(ids))
        .select(col("vec_id").as("query_id"), col("embedding"))),
      excludeSelf = true)

  def close(): Unit = { index.unpersist(); () }
}

/** Serve session over the persisted bucketBy(g) BM25 postings index —
  * the documented online entry for `text_bm25_bucketed`'s layout
  * (write-once: see the consistency contract on [[ServeSession]]).
  * `serve(queries)` takes any (query_id, text) relation and returns
  * the same (query_id, doc_id, score_x1000, rnk) top-k relation as
  * the one-shot entry. */
final class Bm25ServeSession private[operators] (s: SparkSession, d: String) {
  import Retrieval._

  private val (postings0, totals0) = bucketedPostings(s, d)
  private val postings: DataFrame =
    postings0.persist(StorageLevel.MEMORY_AND_DISK)
  postings.count()
  // totals is one row — collect once, re-broadcast as a local relation
  private val totals: DataFrame = {
    val r = totals0.collect().head
    import s.implicits._
    Seq((r.getLong(0), r.getLong(1))).toDF("n_docs", "t_grams")
  }

  def serve(queries: DataFrame, k: Int = 10): DataFrame =
    bm25Of(postings, totals, queryGramsOfRelation(queries), k)

  /** Convenience: serve corpus documents by id. */
  def serveIds(ids: Seq[Long], k: Int = 10): DataFrame =
    serve(graft.Tables.documents(s, d)
      .filter(col("doc_id").isInCollection(ids))
      .select(col("doc_id").as("query_id"), col("text")), k)

  def close(): Unit = { postings.unpersist(); () }
}

/** Snapshot-pinned serve session over a MAINTAINED frozen-quantizer
  * ANN table — the serve side of `stream_ann_maintain`, with the
  * consistency contract on [[ServeSession]]: every serve answers
  * exactly `MANIFEST.s<pinnedSnapshot>` until `refresh()` re-pins to
  * the latest commit. The maintain loop folds/compacts/vacuums the
  * SAME table underneath without ever disturbing the pin (commit dirs
  * are immutable; vacuum retention is the session-lifetime dial). */
final class MaintainedAnnServeSession private[operators] (
    s: SparkSession, table: graft.streaming.PartitionedTable,
    qcellsOf: DataFrame => DataFrame) {

  private def pin(snap: Long): DataFrame = {
    val df = table.readAt(s, snap)
      .select(col("vec_id"), col("cell"), col("c_scale"), col("cq"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    df.count() // materialize at open/refresh, not on a serve's clock
    df
  }

  private def latest: Long = {
    val snaps = table.snapshots
    require(snaps.nonEmpty, s"no committed snapshots under ${table.dir}")
    snaps.last
  }

  @volatile private var snap: Long = latest
  @volatile private var pinned: DataFrame = pin(snap)

  /** The manifest snapshot every serve currently answers. */
  def pinnedSnapshot: Long = snap

  /** Ad-hoc (query_id, embedding) batch against the pinned snapshot —
    * no self-exclusion (caller id namespace). */
  def serve(queries: DataFrame): DataFrame =
    Similarity.frozenInt8ServeBatched(pinned, qcellsOf(queries),
      excludeSelf = false)

  /** Corpus-id queries against the pinned snapshot (self-excluding —
    * the `stream_ann_maintain` gate shape). */
  def serveIds(queries: DataFrame): DataFrame =
    Similarity.frozenInt8ServeBatched(pinned, qcellsOf(queries),
      excludeSelf = true)

  /** True when the table head has moved past the pin — one directory
    * listing, cheap enough for a serve loop to poll between batches
    * (the refresh trigger, r16 VERDICT item 3). */
  def isStale: Boolean = latest != snap

  /** Re-pin to the table's latest committed snapshot; returns the new
    * pinned id. A no-op (and no re-materialize) when already current.
    * The old pin is unpersisted AFTER the new one materializes, so a
    * refresh that fails (e.g. latest snapshot swept mid-read) leaves
    * the session serving its old snapshot intact. */
  def refresh(): Long = {
    val ns = latest
    if (ns != snap) {
      val np = pin(ns)
      val old = pinned
      pinned = np
      snap = ns
      old.unpersist()
    }
    snap
  }

  /** Poll-style refresh trigger: re-pin only if the head moved.
    * Returns true when a refresh happened. A maintain loop that
    * exposes its fold commits (e.g. TieredPolicyFolder's fold
    * closures) calls this right after each commit — the
    * fold-notification hook; a decoupled serve fleet polls it between
    * batches instead. Either way the spec'd bound holds: a session
    * that triggers this on every fold signal never serves more than
    * one fold behind the head, and never ages past the vacuum
    * horizon (ServeSessionSpec). */
  def refreshIfStale(): Boolean = {
    val before = snap
    refresh() != before
  }

  def close(): Unit = { pinned.unpersist(); () }
}

/** Snapshot-pinned serve session over the MAINTAINED BM25 index —
  * the serve side of `stream_bm25_maintain` (postings appended,
  * doclens upserted). The index is TWO tables, so "a snapshot" is a
  * PAIR — and the pair is resolved ATOMICALLY from one record, not
  * from two independent latest() reads: every postings commit carries
  * the paired doclens snapshot id as a txn marker
  * ([[Retrieval.PairMarker]], written doclens-first so the marker
  * always names a committed doclens state). A pin resolves postings
  * latest, then reads the marker AS OF that snapshot
  * (`txnsAt`) — between a fold's two commits the postings head is
  * still pre-fold and its marker names the pre-fold doclens, so the
  * session can never pin post-fold postings with pre-fold corpus
  * totals (the r16 torn-pair hole; adversarial refresh-mid-fold is
  * pinned in ServeSessionSpec via `foldPaired`'s between-seam).
  * Pre-marker tables (no PairMarker recorded) fall back to doclens
  * latest — the r16 behavior, flagged for what it is. Corpus totals
  * are collected once per pin (one tiny aggregate over the paired
  * doclens snapshot); the doclens relation itself is not held. */
final class MaintainedBm25ServeSession private[operators] (
    s: SparkSession, postingsTable: graft.streaming.PartitionedTable,
    doclensTable: graft.streaming.PartitionedTable) {

  private def latest(t: graft.streaming.PartitionedTable): Long = {
    val snaps = t.snapshots
    require(snaps.nonEmpty, s"no committed snapshots under ${t.dir}")
    snaps.last
  }

  /** The consistent (postings, doclens) snapshot pair at this
    * instant: postings head + its atomically-recorded pair marker. */
  private def resolvePair(): (Long, Long) = {
    val ps = latest(postingsTable)
    val ds = postingsTable.txnsAt(ps).getOrElse(
      Retrieval.PairMarker, latest(doclensTable))
    (ps, ds)
  }

  private def pinAt(ps: Long, ds: Long): (DataFrame, DataFrame) = {
    val postings = postingsTable.readAt(s, ps)
      .select(col("g"), col("doc_id"), col("dl"), col("tf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    postings.count()
    val r = doclensTable.readAt(s, ds)
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_grams"))
      .collect().head
    import s.implicits._
    val totals = Seq((r.getLong(0), r.getLong(1))).toDF("n_docs", "t_grams")
    (postings, totals)
  }

  @volatile private var snaps: (Long, Long) = resolvePair()
  @volatile private var pinned: (DataFrame, DataFrame) =
    pinAt(snaps._1, snaps._2)

  /** (postings snapshot, doclens snapshot) every serve answers. */
  def pinnedSnapshots: (Long, Long) = snaps

  def serve(queries: DataFrame, k: Int = 10): DataFrame =
    Retrieval.bm25Of(pinned._1, pinned._2,
      Retrieval.queryGramsOfRelation(queries), k)

  /** True when the index head has moved past the pinned pair — one
    * directory listing + one snapshot-manifest read, cheap enough for
    * a serve loop to poll between batches (the refresh trigger,
    * r16 VERDICT item 3). */
  def isStale: Boolean = resolvePair() != snaps

  /** Re-pin to the current consistent pair; returns the new pair.
    * Old pins are released only after the new ones materialize. */
  def refresh(): (Long, Long) = {
    val ns = resolvePair()
    if (ns != snaps) {
      val np = pinAt(ns._1, ns._2)
      val old = pinned
      pinned = np
      snaps = ns
      old._1.unpersist()
    }
    snaps
  }

  /** Poll-style refresh trigger: re-pin only if the head moved.
    * Returns true when a refresh happened. */
  def refreshIfStale(): Boolean = {
    val before = snaps
    refresh() != before
  }

  def close(): Unit = { pinned._1.unpersist(); () }
}

package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Retrieval
import graft.streaming.{Epoch, LsmFold, PartitionedTable}

/** Fold REPLAY idempotence, structural form (r15 VERDICT item 5): a
  * fold commit records its sub-batch ids as txn markers atomically
  * with the data, so a replay of an already-FOLDED sub-batch (a
  * restart re-delivering a micro-batch whose segment an earlier
  * epoch's close fold already consumed) is refused at the next fold —
  * final state identical to the no-replay run, however the loop
  * around the fold behaves. Pre-r16 this property was documented as
  * configurational (FoldPolicy.scala caveat, now deleted); this spec
  * makes it load-bearing. Every fold here runs the way the maintain
  * loops run it, through `streaming.Epoch`, except the structural
  * refusals, which call `LsmFold.foldToBase` directly. */
class FoldReplaySpec extends AnyFunSuite {
  import Bm25Maintained.{epoch, rows, seeded, served}
  private val spark = TestSpark.session
  private val d = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, d)
  private lazy val isArr = Retrieval.isArrival(col("doc_id"))
  private lazy val arrivals = docs.filter(isArr)
    .withColumn("sub_batch", Retrieval.arrivalSubBatch(col("doc_id")))
  private def sub(k: Int): DataFrame =
    arrivals.filter(col("sub_batch") === k).drop("sub_batch")

  test("replaying an already-folded sub-batch re-lands NOTHING (bm25 maintained index)") {
    val wd = Files.createTempDirectory("graft_foldreplay")
    try {
      val idx = seeded(spark, wd.resolve("idx"), docs.filter(!isArr))
      // epoch 1: sub-batches 0 and 1 land, the close fold consumes them
      epoch(spark, idx, Seq(0 -> sub(0), 1 -> sub(1)))
      val pRows = idx.postings.read(spark).count()
      assert(idx.postings.lastTxn("bm25idx.seg0").contains(1L))
      assert(idx.postings.lastTxn("bm25idx.seg1").contains(1L))

      // REPLAY: a restart re-delivers sub-batch 0 beside the genuinely
      // new sub-batch 2, and the loop re-lands it WITHOUT the landing
      // guard — the fold itself must refuse it
      epoch(spark, idx, Seq(0 -> sub(0), 2 -> sub(2)), guarded = false)

      // sub-batch 0's rows appear exactly ONCE: the second fold landed
      // only sub-batch 2 (postings are append-only, so a re-land would
      // inflate the row count by |seg0|)
      val seg0Rows = Retrieval.postingsOf(sub(0)).count()
      val seg2Rows = Retrieval.postingsOf(sub(2)).count()
      assert(seg0Rows > 0 && seg2Rows > 0, "fixture needs non-empty sub-batches")
      assert(idx.postings.read(spark).count() === pRows + seg2Rows,
        "replayed sub-batch 0 must not re-land into the append-only postings")
      assert(idx.postings.lastTxn("bm25idx.seg0").contains(1L))
      assert(idx.postings.lastTxn("bm25idx.seg2").contains(2L))

      // a PURE replay epoch (every id already folded) commits nothing:
      // no new snapshot on either table, txn versions unchanged
      val snapsBefore = (idx.postings.snapshots, idx.doclens.snapshots)
      epoch(spark, idx, Seq(1 -> sub(1), 2 -> sub(2)), guarded = false)
      assert((idx.postings.snapshots, idx.doclens.snapshots) === snapsBefore,
        "an all-replay fold must be a structural no-op")
      assert(idx.postings.lastTxn("bm25idx").contains(2L))

      // the maintained state equals the one-shot build over the same
      // docs (base + sub-batches 0..2, each exactly once)
      val full = docs.filter(!isArr)
        .unionByName(arrivals.filter(col("sub_batch") <= 2).drop("sub_batch"))
      assert(rows(served(spark, idx, Retrieval.queryGramsOf(docs))) ===
        rows(Retrieval.bm25TopkOf(full, Retrieval.QueryDocs)))
    } finally PartitionedTable.deleteRecursively(wd)
  }

  test("close fold: serve equality over base and loose segments; every id lands as a base marker") {
    val base = docs.filter(!isArr)
    val qterms = Retrieval.queryGramsOf(docs)
    // the one-shot build over base + sub-batches `ks`, same query terms
    def oneShot(ks: Int*) = {
      val c = base.unionByName(arrivals.filter(col("sub_batch").isin(ks: _*)).drop("sub_batch"))
      rows(Retrieval.bm25Of(Retrieval.postingsOf(c), Retrieval.totalsOf(c), qterms))
    }
    Epoch.run(spark, "graft_closefold") { ep =>
      val idx = Retrieval.maintainedIndex(spark, ep.dir.resolve("idx"), base)
      val pair = new Retrieval.Bm25Epoch(ep, idx)
      Retrieval.seedMaintained(spark, idx, base)

      // before the fold: base ∪ loose segments
      (0 to 2).foreach(k => pair.land(k, sub(k)))
      assert(rows(pair.serve(qterms)) === oneShot(0, 1, 2))
      assert(rows(pair.serve(qterms, before = 1)) === oneShot(0))

      // the close fold lands the segments in the base in one commit per
      // table, with one marker per sub-batch id (the replay guard)
      ep.finish()
      (0 to 2).foreach { k =>
        assert(idx.postings.lastTxn(s"bm25idx.seg$k").contains(1L),
          s"sub-batch $k must be marker-recorded at the base fold")
        assert(idx.doclens.lastTxn(s"bm25dl.seg$k").contains(1L))
      }
      assert(rows(pair.serve(qterms)) === oneShot(0, 1, 2))

      // a replayed folded sub-batch is refused
      val replay = ep.dir.resolve("replay0")
      Retrieval.postingsOf(sub(0)).write.parquet(replay.toString)
      val before = idx.postings.read(spark).count()
      LsmFold.foldToBase(spark, idx.postings, "bm25idx", Seq(0 -> replay), 2L, merge = false)
      assert(idx.postings.read(spark).count() === before)
    }
  }

  test("a crash between a fold's two commits loses no rows: the per-table guard re-lands only the missing table (r16 ADVICE)") {
    val wd = Files.createTempDirectory("graft_halffold")
    try {
      val idx = seeded(spark, wd.resolve("idx"), docs.filter(!isArr))
      val all = docs.filter(isArr)
      val segRows = Retrieval.postingsOf(all).count()
      val pRows0 = idx.postings.read(spark).count()
      val dRows0 = idx.doclens.read(spark).count()
      var crash = true
      def maintain(): Unit = Epoch.run(spark, "graft_halffold") { ep =>
        val dl = ep.table(idx.doclens, "bm25dl", merge = true)
        // the postings markers are evaluated after the doclens base
        // commit and before the postings one: the fold crashes there
        val post = ep.table(idx.postings, "bm25idx", merge = false, {
          if (crash) throw new IllegalStateException("crash between commits")
          Retrieval.pairMarkerOf(idx)
        })
        if (ep.fresh(post, 0)) ep.land(post, 0, Retrieval.postingsOf(all))
        if (ep.fresh(dl, 0)) ep.land(dl, 0, Retrieval.doclensOf(all))
        ep.finish()
      }

      // doclens has landed sub-batch 0, postings has not
      intercept[IllegalStateException](maintain())
      assert(idx.doclens.lastTxn("bm25dl.seg0").contains(1L))
      assert(idx.postings.lastTxn("bm25idx.seg0").isEmpty)
      val dRows1 = idx.doclens.read(spark).count()
      assert(dRows1 > dRows0, "fixture needs arrival docs")

      // RESTART + replay: the loop re-delivers sub-batch 0. The
      // per-table landing guard re-admits it for postings only (its
      // marker is absent); the fold lands postings once and doclens
      // not again — no loss, no duplication
      crash = false
      maintain()
      assert(idx.postings.lastTxn("bm25idx.seg0").contains(1L))
      assert(idx.postings.read(spark).count() === pRows0 + segRows,
        "the recovery fold must land the postings exactly once")
      assert(idx.doclens.read(spark).count() === dRows1,
        "the already-folded doclens must not re-land (keyed merge would mask a dup; count pins it)")
      // the recovery postings commit re-stamps the pair marker to the
      // CURRENT doclens head, which holds sub-batch 0 — the pair a
      // session resolves is whole
      val paired = idx.postings.txnsAt(idx.postings.snapshots.last).get(Retrieval.PairMarker)
      assert(paired.contains(idx.doclens.snapshots.last))
      assert(paired.exists(idx.doclens.txnsAt(_).contains("bm25dl.seg0")))

      // the recovered state answers exactly the one-shot build
      assert(rows(served(spark, idx, Retrieval.queryGramsOf(docs))) ===
        rows(Retrieval.bm25TopkOf(docs.filter(!isArr).unionByName(all),
          Retrieval.QueryDocs)))
    } finally PartitionedTable.deleteRecursively(wd)
  }

  test("replay markers guard the ANN maintained table's fold path too") {
    val e = Tables.embeddings(spark, d)
    val wd = java.nio.file.Files.createTempDirectory("graft_foldreplay_ann")
    try {
      val pt = new PartitionedTable(wd.resolve("idx"), "cell", 4)
      import spark.implicits._
      def seg(k: Int): String = {
        val p = wd.resolve(f"seg$k%04d")
        e.filter(col("vec_id") % 3 === k).select(col("vec_id"),
          (col("vec_id") % 7).as("cell"), lit(1.0).as("c_scale"),
          array(lit(1L)).as("cq"))
          .write.mode("overwrite").parquet(p.toString)
        p.toString
      }
      pt.appendInto(spark, spark.read.parquet(seg(0)), Some("annidx" -> 1L),
        Map("annidx.seg0" -> 1L))
      val n0 = pt.read(spark).count()
      // the guard the loop's fold closure applies: seg0 is filtered out
      val live = Seq(0 -> seg(0), 1 -> seg(1))
        .filterNot { case (k, _) => pt.lastTxn(s"annidx.seg$k").isDefined }
      assert(live.map(_._1) === Seq(1))
      pt.appendInto(spark, spark.read.parquet(live.map(_._2): _*),
        Some("annidx" -> 2L),
        live.map { case (k, _) => s"annidx.seg$k" -> 2L }.toMap)
      val seg1Rows = spark.read.parquet(seg(1)).count()
      assert(pt.read(spark).count() === n0 + seg1Rows)
      assert(pt.lastTxn("annidx.seg0").contains(1L))
      assert(pt.lastTxn("annidx.seg1").contains(2L))
    } finally PartitionedTable.deleteRecursively(wd)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Retrieval, ServeSession, Similarity}

/** The serve sessions are a LATENCY choice, not a semantic one: a
  * session probe over the pinned index must return exactly the
  * one-shot entries' relations (r14 VERDICT item 4). */
class ServeSessionSpec extends AnyFunSuite {
  private val spark = TestSpark.session
  private val d = "/root/testdata/sf0.001"

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("")).toSet

  test("ANN session serve == one-shot sim_ivf_int8_bucketed on the same query ids") {
    val session = ServeSession.ann(spark, d)
    try {
      val oneShot = Similarity.simIvfInt8Bucketed(spark, d)
      assert(rowsOf(session.serveIds(Seq(0L, 1L, 2L))) === rowsOf(oneShot))
    } finally session.close()
  }

  test("ANN session serves an AD-HOC query batch (not just corpus ids), results match the kernel") {
    val session = ServeSession.ann(spark, d)
    try {
      // a batch of 4 corpus vectors re-labeled with fresh query ids —
      // the parameter-relation shape an online caller sends
      val batch = Tables.embeddings(spark, d)
        .filter(col("vec_id") >= 10 && col("vec_id") < 14)
        .select((col("vec_id") + 1000L).as("query_id"), col("embedding"))
      val served = session.serve(batch)
      assert(served.select("query_id").distinct().count() === 4)
      // every query gets its full top-5 and ranks are 1..5
      val perQ = served.groupBy("query_id").count().collect()
      assert(perQ.forall(_.getLong(1) === 5L))
      assert(served.agg(max("rnk")).head().getInt(0) === 5)
      // a second serve on the SAME session (the reuse path) is identical
      assert(rowsOf(session.serve(batch)) === rowsOf(served))
    } finally session.close()
  }

  test("BM25 session serve == one-shot text_bm25_bucketed on the same query ids") {
    val session = ServeSession.bm25(spark, d)
    try {
      val oneShot = Retrieval.textBm25Bucketed(spark, d)
      assert(rowsOf(session.serveIds(Retrieval.QueryDocs)) === rowsOf(oneShot))
    } finally session.close()
  }

  test("BM25 session serves an ad-hoc (query_id, text) batch") {
    val session = ServeSession.bm25(spark, d)
    try {
      val batch = Tables.documents(spark, d)
        .filter(col("doc_id") < 4)
        .select((col("doc_id") + 5000L).as("query_id"), col("text"))
      val served = session.serve(batch)
      assert(served.select("query_id").distinct().count() === 4)
      assert(served.filter(col("rnk") === 1).count() === 4)
    } finally session.close()
  }

  test("ad-hoc ANN serve does NOT self-exclude: a query_id colliding with a corpus vec_id keeps that vector as a candidate") {
    val session = ServeSession.ann(spark, d)
    try {
      // an ad-hoc batch whose caller-chosen query_id COLLIDES with a
      // corpus vec_id — pre-r16 the kernel's vec_id =!= query_id
      // silently dropped vector 10 from its own candidate set
      // (r15 ADVICE, medium)
      val batch = Tables.embeddings(spark, d)
        .filter(col("vec_id") === 10L)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val served = session.serve(batch).collect()
      assert(served.exists(r => r.getLong(1) == 10L),
        "colliding corpus vector must stay in the ad-hoc candidate set")
      // corpus-id serve (serveIds) keeps the one-shot self-exclusion
      val byId = session.serveIds(Seq(10L)).collect()
      assert(byId.nonEmpty && !byId.exists(r => r.getLong(1) == 10L),
        "serveIds must self-exclude like the one-shot entries")
    } finally session.close()
  }

  // ---- the consistency contract vs the maintain loops (r15 VERDICT
  // item 1): a session pins ONE manifest snapshot; folds, compaction
  // and vacuum running underneath never change what it serves, and
  // refresh() re-pins to the post-fold state ≡ a fresh one-shot.

  test("maintained ANN session: pinned across fold+compact+vacuum; refresh == post-fold one-shot") {
    import graft.streaming.PartitionedTable
    val e = Tables.embeddings(spark, d)
    val isArr = Retrieval.isArrival(col("vec_id"))
    val (supers, groups) = Similarity.twoLevelIndexOf(
      Similarity.collectCentroidsOf(e.filter(!isArr)))
    def idxRowsOf(df: DataFrame): DataFrame = {
      val (sc, q) = Similarity.quantizeCols(col("embedding"))
      df.select(col("vec_id"),
        graft.functions.ImiCell2.cell(col("embedding"), supers, groups).as("cell"),
        sc.as("c_scale"), q.as("cq"))
    }
    def qcellsOf(q: DataFrame): DataFrame = {
      val (sc, qq) = Similarity.quantizeCols(col("embedding"))
      q.select(col("query_id"),
        graft.functions.ImiCell2.cell(col("embedding"), supers, groups).as("qcell"),
        sc.as("q_scale"), qq.as("qq"))
    }
    val wd = java.nio.file.Files.createTempDirectory("graft_srvmaint")
    try {
      val pt = new PartitionedTable(wd.resolve("idx"), "cell", 8)
      pt.appendInto(spark, idxRowsOf(e.filter(!isArr)), Some("t" -> 0L))
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val sess = ServeSession.annMaintained(spark, pt, qcellsOf)
      try {
        val s0 = sess.pinnedSnapshot
        val r0 = rowsOf(sess.serveIds(queries))
        // the maintain loop mutates the SAME table underneath: a fold
        // (arrivals land in the base), a compaction, and a vacuum that
        // respects the retention horizon covering the pinned snapshot
        pt.appendInto(spark, idxRowsOf(e.filter(isArr)), Some("t" -> 1L))
        pt.compact(spark)
        pt.vacuum(retainSnapshots = pt.snapshots.size)
        assert(sess.pinnedSnapshot === s0)
        assert(rowsOf(sess.serveIds(queries)) === r0,
          "a pinned session must keep serving exactly its snapshot across folds")
        // refresh re-pins to the post-fold state — a fresh one-shot
        val s1 = sess.refresh()
        assert(s1 > s0)
        val oneShot = Similarity.frozenInt8Serve(pt.read(spark), qcellsOf(queries))
        assert(rowsOf(sess.serveIds(queries)) === rowsOf(oneShot))
        // refresh when already current is a stable no-op
        assert(sess.refresh() === s1)
        // after refresh, sweeping the OLD snapshot past the horizon
        // does not disturb the session (it no longer references it)
        pt.vacuum(retainSnapshots = 1)
        assert(rowsOf(sess.serveIds(queries)) === rowsOf(oneShot))
      } finally sess.close()
    } finally PartitionedTable.deleteRecursively(wd)
  }

  test("maintained BM25 session: pinned across append+compact; refresh == post-fold serve") {
    import graft.streaming.PartitionedTable
    val docs = Tables.documents(spark, d)
    val isArr = Retrieval.isArrival(col("doc_id"))
    val wd = java.nio.file.Files.createTempDirectory("graft_srvbm25")
    try {
      val idx = Bm25Maintained.seeded(spark, wd.resolve("idx"), docs.filter(!isArr))
      val queries = docs.filter(col("doc_id").isInCollection(Retrieval.QueryDocs))
        .select(col("doc_id").as("query_id"), col("text"))
      val sess = ServeSession.bm25Maintained(spark, idx.postings, idx.doclens)
      try {
        val p0 = sess.pinnedSnapshots
        val r0 = rowsOf(sess.serve(queries))
        // one maintain epoch: fold + compact on both tables
        Bm25Maintained.epoch(spark, idx, Seq(0 -> docs.filter(isArr)))
        assert(sess.pinnedSnapshots === p0)
        assert(rowsOf(sess.serve(queries)) === r0,
          "a pinned session must keep serving exactly its snapshots across folds")
        val p1 = sess.refresh()
        assert(p1 !== p0)
        val fresh = Bm25Maintained.served(spark, idx,
          Retrieval.queryGramsOfRelation(queries))
        assert(rowsOf(sess.serve(queries)) === rowsOf(fresh))
      } finally sess.close()
    } finally PartitionedTable.deleteRecursively(wd)
  }

  test("BM25 maintained session: a refresh injected BETWEEN a fold's two commits never pins a torn pair (r16 VERDICT item 1)") {
    import graft.streaming.{Epoch, PartitionedTable}
    val docs = Tables.documents(spark, d)
    val isArr = Retrieval.isArrival(col("doc_id"))
    val wd = java.nio.file.Files.createTempDirectory("graft_tornpair")
    try {
      val idx = Bm25Maintained.seeded(spark, wd.resolve("idx"), docs.filter(!isArr))
      val queries = docs.filter(col("doc_id").isInCollection(Retrieval.QueryDocs))
        .select(col("doc_id").as("query_id"), col("text"))
      val arrivals = docs.filter(isArr)
      val sess = ServeSession.bm25Maintained(spark, idx.postings, idx.doclens)
      try {
        val pre = sess.pinnedSnapshots
        val preRows = rowsOf(sess.serve(queries))
        // the adversarial instant: doclens has committed its fold,
        // postings has NOT — pre-r17 an independent latest() pin here
        // yielded pre-fold postings with POST-fold doclens (or, with
        // the old postings-first order, the reverse torn mix). The
        // paired resolution must keep serving the PRE-fold pair.
        var observedMidFold: (Long, Long) = null
        var midFold: () => Unit = () => ()
        Epoch.run(spark, "graft_tornpair") { ep =>
          val dl = ep.table(idx.doclens, "bm25dl", merge = true)
          // an Epoch fold evaluates the postings markers after the
          // doclens base commit and before the postings one
          val post = ep.table(idx.postings, "bm25idx", merge = false, {
            midFold()
            Retrieval.pairMarkerOf(idx)
          })
          ep.land(post, 0, Retrieval.postingsOf(arrivals))
          ep.land(dl, 0, Retrieval.doclensOf(arrivals))
          midFold = () => {
            midFold = () => ()
            assert(idx.doclens.lastTxn("bm25dl.seg0").nonEmpty &&
              idx.postings.lastTxn("bm25idx.seg0").isEmpty, "not between the two commits")
            assert(!sess.isStale,
              "mid-fold the head PAIR is unchanged - postings head still names the pre-fold doclens")
            sess.refresh()
            observedMidFold = sess.pinnedSnapshots
          }
          ep.finish()
        }
        assert(observedMidFold === pre,
          "a refresh between the two commits must pin the PRE-fold pair, never a torn mix")
        assert(rowsOf(sess.serve(queries)) === preRows,
          "mid-fold refresh must leave the session serving the pre-fold state")
        // fold complete: refresh pins the post-fold pair, whose marker
        // names exactly the doclens snapshot the postings head recorded
        val post = sess.refresh()
        assert(post._1 > pre._1 && post._2 > pre._2)
        assert(idx.postings.txnsAt(post._1).get(Retrieval.PairMarker)
          .contains(post._2),
          "the pinned doclens snapshot must be the one the postings commit recorded")
        val fresh = Bm25Maintained.served(spark, idx,
          Retrieval.queryGramsOfRelation(queries))
        assert(rowsOf(sess.serve(queries)) === rowsOf(fresh))
      } finally sess.close()
    } finally PartitionedTable.deleteRecursively(wd)
  }

  test("refreshIfStale keeps an interleaved serve loop at most one fold behind and inside the vacuum horizon (r16 VERDICT item 3)") {
    import graft.streaming.PartitionedTable
    val e = Tables.embeddings(spark, d)
    val isArr = Retrieval.isArrival(col("vec_id"))
    val (supers, groups) = Similarity.twoLevelIndexOf(
      Similarity.collectCentroidsOf(e.filter(!isArr)))
    def idxRowsOf(df: DataFrame): DataFrame = {
      val (sc, q) = Similarity.quantizeCols(col("embedding"))
      df.select(col("vec_id"),
        graft.functions.ImiCell2.cell(col("embedding"), supers, groups).as("cell"),
        sc.as("c_scale"), q.as("cq"))
    }
    def qcellsOf(q: DataFrame): DataFrame = {
      val (sc, qq) = Similarity.quantizeCols(col("embedding"))
      q.select(col("query_id"),
        graft.functions.ImiCell2.cell(col("embedding"), supers, groups).as("qcell"),
        sc.as("q_scale"), qq.as("qq"))
    }
    val wd = java.nio.file.Files.createTempDirectory("graft_refreshtrig")
    try {
      val pt = new PartitionedTable(wd.resolve("idx"), "cell", 8)
      pt.appendInto(spark, idxRowsOf(e.filter(!isArr)), Some("t" -> 0L))
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val arr = idxRowsOf(e.filter(isArr)).withColumn("__f",
        pmod(col("vec_id"), lit(4)))
      val sess = ServeSession.annMaintained(spark, pt, qcellsOf)
      try {
        assert(!sess.isStale)
        assert(!sess.refreshIfStale(), "current session must not re-pin")
        // the maintain side: 4 folds, each followed by the
        // fold-notification hook (refreshIfStale) and an aggressive
        // vacuum that keeps only the youngest 2 snapshots — the serve
        // loop stays on the head and never ages past the horizon
        (0 until 4).foreach { f =>
          pt.appendInto(spark, arr.filter(col("__f") === f).drop("__f"),
            Some("t" -> (f + 1).toLong))
          assert(sess.isStale, "a fold commit must flip the staleness probe")
          assert(sess.refreshIfStale())
          assert(sess.pinnedSnapshot === pt.snapshots.last,
            "the fold-notification hook must leave the session on the head")
          pt.vacuum(retainSnapshots = 2)
          // serving after the vacuum still works: the pin is the head,
          // inside the horizon by construction
          assert(sess.serveIds(queries).count() > 0)
        }
        // final state equals a fresh one-shot over the current table
        val oneShot = Similarity.frozenInt8Serve(pt.read(spark), qcellsOf(queries))
        assert(rowsOf(sess.serveIds(queries)) === rowsOf(oneShot))
      } finally sess.close()
    } finally PartitionedTable.deleteRecursively(wd)
  }
}

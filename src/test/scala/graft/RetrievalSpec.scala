package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Retrieval

/** Sparse-retrieval + trained-classifier contracts: BM25 ranks
  * gram-overlap correctly on a hand-built corpus, each real query doc
  * retrieves itself first, the persisted-index serve form is
  * row-identical to the ad-hoc form, and the NB classifier recovers a
  * perfectly-separable labeling exactly. */
class RetrievalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("native pos_gram_hashes is bit-equal to the HOF oracle twin") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val mismatch = docs.select(
        org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.PosGramHashes.posGramHashes(
          org.apache.spark.sql.functions.col("text"), 3).as("nat"),
        Retrieval.gramArrHof.as("hof"))
      .filter("nat != hof").count()
    assert(mismatch === 0)
    // degenerate shapes: under-k, exactly-k, null text
    val edge = Seq((1L, "a b"), (2L, "a b c"), (3L, null: String))
      .toDF("doc_id", "text")
      .select(
        graft.functions.PosGramHashes.posGramHashes(
          org.apache.spark.sql.functions.col("text"), 3).as("nat"),
        Retrieval.gramArrHof.as("hof"))
      .filter("nat != hof OR nat IS NULL").count()
    assert(edge === 0)
  }

  test("bm25: hand-built corpus ranks by shared-gram weight, misses drop out") {
    // query doc 1 = "a b c d e"; doc 2 shares 2 grams with higher-idf
    // overlap than doc 3's 1 gram; doc 4 shares nothing
    val docs = Seq(
      (1L, "a b c d e", "en", "s", 9L),
      (2L, "a b c d x", "en", "s", 9L),
      (3L, "a b c y z", "en", "s", 9L),
      (4L, "p q r s t", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Retrieval.bm25TopkOf(docs, Seq(1L))
      .orderBy("rnk").select("doc_id", "score_x1000")
      .as[(Long, Long)].collect()
    assert(r.map(_._1).toSeq === Seq(1L, 2L, 3L)) // self, 2-gram, 1-gram; 4 absent
    assert(r(0)._2 > r(1)._2 && r(1)._2 > r(2)._2)
  }

  test("bm25: every corpus query doc retrieves itself at rank 1") {
    val top = Retrieval.textBm25Topk(spark, sf)
      .filter("rnk = 1").select("query_id", "doc_id")
      .as[(Long, Long)].collect()
    assert(top.length === Retrieval.QueryDocs.length)
    top.foreach { case (q, d) => assert(q === d, s"query $q top hit $d") }
  }

  test("bm25: bucketed serve form is row-identical to the ad-hoc form") {
    try {
      val adhoc = Retrieval.textBm25Topk(spark, sf)
        .as[(Long, Long, Long, Int)].collect().toSet
      val served = Retrieval.textBm25Bucketed(spark, sf)
        .as[(Long, Long, Long, Int)].collect().toSet
      assert(adhoc.nonEmpty && adhoc === served)
    } finally Retrieval.dropPostingsTables(spark)
  }

  test("bm25 ranking tracks exact gram-set Jaccard: mean overlap@10 floor") {
    // RETRIEVAL_r10.json measures 8.0-8.7/10 across tiers; 6 is the
    // regression floor, not the expectation
    val (per, mean) = RetrievalProbe.overlapAt10(spark, sf)
    assert(per.size === Retrieval.QueryDocs.length)
    assert(mean >= 6.0, s"mean overlap@10 $mean, per-query $per")
  }

  test("bm25 streaming serve equals the batch run over the same query set") {
    try {
      val streamed = Retrieval.streamBm25Serve(spark, sf)
        .select("query_id", "doc_id", "score_x1000", "rnk")
        .as[(Long, Long, Long, Int)].collect().toSet
      val (p, t) = Retrieval.bucketedPostings(spark, sf)
      val batch = Retrieval.bm25Of(p, t,
          Retrieval.queryGramsOf(graft.Tables.documents(spark, sf), 0L until 9L))
        .as[(Long, Long, Long, Int)].collect().toSet
      assert(streamed.nonEmpty && streamed === batch)
    } finally Retrieval.dropPostingsTables(spark)
  }

  test("bm25 maintained index: arrival re-ranks, replay no-ops, serve equals one-shot build") {
    val base = Seq(
      (1L, "a b c d e", "en", "s", 9L),
      (3L, "a b c y z", "en", "s", 9L),
      (4L, "p q r s t", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val twin = Seq((9L, "a b c d e", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_maint_spec")
    try {
      val idx = Retrieval.buildMaintained(spark, dir, base)
      val qterms = Retrieval.queryGramsOf(base, Seq(1L))
      val before = Retrieval.serveMaintained(spark, idx, qterms)
        .orderBy("rnk").select("doc_id").as[Long].collect().toSeq
      assert(before === Seq(1L, 3L)) // twin not yet arrived; 4 shares nothing
      Retrieval.appendArrivals(spark, idx, twin, 1L)
      val after = Retrieval.serveMaintained(spark, idx, qterms)
        .orderBy("rnk").select("doc_id").as[Long].collect().toSeq
      // exact twin ties the self-match, doc_id breaks the tie
      assert(after === Seq(1L, 9L, 3L))
      // replayed txn version no-ops: no double-counted postings
      val n1 = idx.postings.read(spark).count()
      Retrieval.appendArrivals(spark, idx, twin, 1L)
      assert(idx.postings.read(spark).count() === n1)
      // maintenance must not change what the index answers: serve over
      // the maintained state == the one-shot build over the union
      val union = base.unionByName(twin)
      val served = Retrieval.serveMaintained(spark, idx,
          Retrieval.queryGramsOf(union, Seq(1L)))
        .select("query_id", "doc_id", "score_x1000", "rnk")
        .as[(Long, Long, Long, Int)].collect().toSet
      val oneShot = Retrieval.bm25TopkOf(union, Seq(1L))
        .select("query_id", "doc_id", "score_x1000", "rnk")
        .as[(Long, Long, Long, Int)].collect().toSet
      assert(served === oneShot)
    } finally {
      graft.streaming.PartitionedTable.deleteRecursively(dir)
    }
  }

  test("segment ingestion: replay overwrites in place, duplicate registrations fold once") {
    val base = Seq((1L, "a b c d e", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch = Seq((9L, "a b c d x", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_seg_spec")
    try {
      val idx = Retrieval.buildMaintained(spark, dir.resolve("idx"), base)
      val segDir = dir.resolve("segs")
      java.nio.file.Files.createDirectories(segDir)
      // a re-delivered micro-batch writes the SAME segment path again
      val s1 = Retrieval.writeSegment(segDir, 0L, Retrieval.postingsOf(batch))
      val s2 = Retrieval.writeSegment(segDir, 0L, Retrieval.postingsOf(batch))
      assert(s1 === s2)
      val segRows = spark.read.parquet(s1.toString).count()
      assert(segRows === Retrieval.postingsOf(batch).count()) // overwritten, not doubled
      // both registrations reach the fold; it must land the rows once
      val before = idx.postings.read(spark).count()
      Retrieval.foldSegments(spark, idx, Seq(0 -> s1, 0 -> s2), Seq.empty, 1L)
      assert(idx.postings.read(spark).count() === before + segRows)
    } finally {
      graft.streaming.PartitionedTable.deleteRecursively(dir)
    }
  }

  test("segment age-out: serve over base+segments equals one-shot; fold+OPTIMIZE bounds files and prunes segments to zero") {
    // VERDICT r10 item 7: the LSM read path between folds is
    // base ∪ segments — pin that (a) the between-folds serve answers
    // exactly the one-shot build, (b) the post-OPTIMIZE steady state
    // is bounded: ≤ 1 parquet file per postings bucket and ZERO
    // remaining segments — the union read path's leaf count is an
    // epoch property, never a table-age property.
    val base = Seq(
      (1L, "a b c d e", "en", "s", 9L),
      (3L, "a b c y z", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val arrivals = Seq(
      (9L, "a b c d e", "en", "s", 9L),
      (11L, "a b c q r", "en", "s", 9L),
      (12L, "m n o p q", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_ageout_spec")
    try {
      val idx = Retrieval.buildMaintained(spark, dir.resolve("idx"), base)
      val segDir = dir.resolve("segs")
      java.nio.file.Files.createDirectories(segDir)
      val pSegs = Seq(9L, 11L, 12L).zipWithIndex.map { case (id, k) =>
        Retrieval.writeSegment(segDir.resolve("p"), k.toLong,
          Retrieval.postingsOf(arrivals.filter(col("doc_id") === id)))
      }
      val dSegs = Seq(9L, 11L, 12L).zipWithIndex.map { case (id, k) =>
        Retrieval.writeSegment(segDir.resolve("d"), k.toLong,
          Retrieval.doclensOf(arrivals.filter(col("doc_id") === id)))
      }
      val union = base.unionByName(arrivals)
      val qterms = Retrieval.queryGramsOf(union, Seq(1L))
      def served(p: Seq[java.nio.file.Path], d: Seq[java.nio.file.Path]) =
        Retrieval.serveWithSegments(spark, idx, p, d, qterms)
          .select("query_id", "doc_id", "score_x1000", "rnk")
          .as[(Long, Long, Long, Int)].collect().toSet
      val oneShot = Retrieval.bm25TopkOf(union, Seq(1L))
        .select("query_id", "doc_id", "score_x1000", "rnk")
        .as[(Long, Long, Long, Int)].collect().toSet
      // (a) between-folds read path answers the one-shot build
      assert(served(pSegs, dSegs) === oneShot)
      // epoch fold + OPTIMIZE + age-out
      Retrieval.foldSegments(spark, idx, pSegs.zipWithIndex.map(_.swap),
        dSegs.zipWithIndex.map(_.swap), 1L)
      idx.postings.compact(spark)
      idx.doclens.compact(spark)
      Retrieval.pruneSegments(pSegs ++ dSegs)
      // (b) steady state: the folded base alone answers identically…
      assert(served(Nil, Nil) === oneShot)
      // …with a bounded physical layout: ≤ 1 file per bucket…
      val maxFiles = idx.postings.manifest.values.map { rel =>
        graft.streaming.PartitionedTable.listDir(idx.postings.dir.resolve(rel))
          .count(_.getFileName.toString.endsWith(".parquet"))
      }.max
      assert(maxFiles <= 1, s"post-OPTIMIZE bucket holds $maxFiles files")
      // …and zero segments left on disk
      Seq("p", "d").map(segDir.resolve).foreach { p =>
        assert(!java.nio.file.Files.exists(p) ||
          graft.streaming.PartitionedTable.listDir(p).isEmpty,
          s"segments not aged out under $p")
      }
    } finally {
      graft.streaming.PartitionedTable.deleteRecursively(dir)
    }
  }

  test("fold commit under a stolen lease is REFUSED: index state intact, no garbage") {
    // r11 VERDICT item 8: the maintain loops now run their build/fold/
    // OPTIMIZE commits under the same fenced writer lease as the
    // replication loop. LockSpec pins the mechanism on a bare table;
    // this pins it on the trilogy's actual contention surface — a
    // FOLD commit published after the maintainer's lease was stolen
    // by another host must be refused, leaving the pre-fold index.
    val base = Seq((1L, "a b c d e", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch = Seq((9L, "a b c d x", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_fold_fence_spec")
    try {
      graft.streaming.Replication.withWriterLease(dir) { lease =>
        val idx = Retrieval.buildMaintained(spark, dir.resolve("idx"), base)
        idx.postings.withFence(() => lease.check(), Some(lease.generation))
        idx.doclens.withFence(() => lease.check(), Some(lease.generation))
        val segDir = dir.resolve("segs")
        java.nio.file.Files.createDirectories(segDir)
        val seg = Retrieval.writeSegment(segDir, 0L, Retrieval.postingsOf(batch))
        val before = idx.postings.read(spark).count()
        val snapsBefore = idx.postings.snapshots
        // cross-host steal while this maintainer is mid-epoch: last
        // writer wins the lock PATH (the OS lock does not propagate)
        java.nio.file.Files.write(dir.resolve("LOCK"),
          (s"${ProcessHandle.current.pid} ${System.currentTimeMillis} " +
            s"stolen-nonce ${lease.generation + 1}").getBytes("UTF-8"))
        val refusal = intercept[java.util.ConcurrentModificationException] {
          Retrieval.foldSegments(spark, idx, Seq(0 -> seg), Seq.empty, 1L)
        }
        // the refusal is the TERMINAL fence type — retryingCommit must
        // rethrow it immediately, never rebase-and-retry a dead lease
        assert(refusal.isInstanceOf[graft.streaming.PartitionedTable.FencedCommitException])
        var retries = 0
        intercept[graft.streaming.PartitionedTable.FencedCommitException] {
          graft.streaming.PartitionedTable.retryingCommit() {
            retries += 1
            Retrieval.foldSegments(spark, idx, Seq(0 -> seg), Seq.empty, 1L)
          }
        }
        assert(retries === 1, s"fence refusal was retried $retries times")
        // nothing published: same rows, same snapshots, no garbage
        assert(idx.postings.read(spark).count() === before)
        assert(idx.postings.snapshots === snapsBefore)
        assert(idx.postings.vacuum() === 0)
      }
    } finally {
      graft.streaming.PartitionedTable.deleteRecursively(dir)
    }
  }

  test("stream_bm25_maintain equals the one-shot batch build on the real corpus") {
    val m = Retrieval.streamBm25Maintain(spark, sf)
      .select("query_id", "doc_id", "score_x1000", "rnk")
      .as[(Long, Long, Long, Int)].collect().toSet
    val b = Retrieval.textBm25Topk(spark, sf)
      .select("query_id", "doc_id", "score_x1000", "rnk")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(m === b && m.nonEmpty)
  }

  test("hybrid rrf: fused docs come from the component lists, both lists weigh in") {
    val sf01 = "/root/testdata/sf0.01"
    val fused = Retrieval.simHybridRrf(spark, sf01)
      .as[(Long, Long, Long, Int)].collect()
    assert(fused.length === 30 &&
      fused.groupBy(_._1).forall(_._2.length == 10))
    val sparse = Retrieval.textBm25Topk(spark, sf01)
      .filter("doc_id != query_id")
      .select("query_id", "doc_id").as[(Long, Long)].collect().toSet
    val qv = graft.Tables.embeddings(spark, sf01)
      .filter(col("vec_id").isin(Retrieval.QueryDocs: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val dense = graft.operators.Similarity.simTopkFor(spark, sf01, qv)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    fused.foreach { case (q, doc, rrf, _) =>
      assert(sparse((q, doc)) || dense((q, doc)), s"fused ($q,$doc) from neither list")
      assert(rrf > 0 && rrf <= 2 * (1000000 / 61))
    }
    // a doc backed by BOTH lists must outrank any single-list doc whose
    // best single rank is no better — the fusion property itself
    val both = fused.filter { case (q, doc, _, _) => sparse((q, doc)) && dense((q, doc)) }
    assert(both.nonEmpty) // the corpus has lexical+semantic neighbors
  }

  test("bm25 decontamination: flags the eval-copying doc, keeps unrelated docs") {
    // doc_id 97 is the eval doc (97 % 97 == 0); doc 1 copies an
    // 8-word run of it (6 shared rare grams — well past the 10k
    // threshold), docs 2..11 are unrelated filler that gives idf a
    // base to stand on
    val evalText = "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10"
    val copier = "e2 e3 e4 e5 e6 e7 e8 e9 x1 x2"
    val filler = (2L to 11L).map(i =>
      (i, s"f${i}a f${i}b f${i}c f${i}d f${i}e f${i}f f${i}g f${i}h f${i}i f${i}j",
        "en", "s", 10L))
    val docs = (Seq(
      (97L, evalText, "en", "s", 10L),
      (1L, copier, "en", "s", 10L)) ++ filler)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val byId = Retrieval.decontaminateBm25Of(docs)
      .select("doc_id", "max_score_x1000", "contaminated")
      .as[(Long, Long, Boolean)].collect().map(x => x._1 -> ((x._2, x._3))).toMap
    assert(byId.size === 11)            // the eval doc is not in the verdict
    assert(!byId.contains(97L))
    assert(byId(1L)._2, s"copier score ${byId(1L)._1} under threshold")
    (2L to 11L).foreach { i =>
      assert(byId(i)._1 === 0L && !byId(i)._2, s"filler $i flagged")
    }
  }

  test("nb classifier: recovers a perfectly-separable labeling on held-out docs") {
    // disjoint per-language vocabulary; doc_id % 10 == 0 rows are the
    // held-out set — one per class, each solvable only via the model
    val vocab = Map(
      "en" -> "alpha beta gamma", "es" -> "uno dos tres",
      "de" -> "eins zwei drei", "fr" -> "un deux trois",
      "zh" -> "yi er san")
    val langs = vocab.keys.toSeq.sorted
    val train = for {
      (l, i) <- langs.zipWithIndex
      j <- 1 to 9
    } yield (i * 10L + j, vocab(l) + " " + vocab(l), l, "s", 10L)
    val test_ = langs.zipWithIndex.map { case (l, i) =>
      ((i + 10) * 10L, vocab(l), l, "s", 10L)
    }
    val docs = (train ++ test_)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Retrieval.textClassifyNbOf(docs)
      .select("doc_id", "lang", "nb_pred")
      .as[(Long, String, String)].collect()
    assert(r.length === langs.length)
    r.foreach { case (id, l, p) => assert(p === l, s"doc $id: $p != $l") }
  }

  test("nb classifier: deterministic and closed over the class list on real data") {
    val once = Retrieval.textClassifyNb(spark, sf)
      .as[(Long, String, String, Boolean)].collect().toSet
    val again = Retrieval.textClassifyNb(spark, sf)
      .as[(Long, String, String, Boolean)].collect().toSet
    assert(once === again && once.nonEmpty)
    val classes = Set("en", "es", "de", "fr", "zh")
    once.foreach { case (_, l, p, m) =>
      assert(classes(p) && classes(l) && m === (l == p))
    }
  }

  test("hybrid fusion floor: RRF recovers BOTH families' blind spots (fused >= max(single) strictly)") {
    // the measurement RRF exists for (Cormack 2009): plant relevant
    // docs half-visible to each family — lexical twins the embedding
    // can't see, semantic neighbors sharing zero grams — and pin that
    // fusion beats each family alone. Probe-measured on the full
    // planted corpus: bm25 0.50 / dense 0.50 / fused 1.00 / ann 0.82.
    val (d, ids, rel) = RetrievalProbe.plantHybridCorpus(spark,
      nTopics = 8, nEach = 4, nBackground = 400)
    try {
      val q = RetrievalProbe.hybridRecall(spark, d, ids, rel)
      info(f"bm25=${q.bm25Only}%.3f dense=${q.denseOnly}%.3f " +
        f"fused=${q.fused}%.3f fused_ann=${q.fusedAnn}%.3f")
      // each family alone sees only its half (4 of 8 relevant)
      assert(q.bm25Only <= 0.55 && q.bm25Only >= 0.45,
        s"lexical side should see exactly its half, got ${q.bm25Only}")
      assert(q.denseOnly <= 0.55 && q.denseOnly >= 0.45,
        s"dense side should see exactly its half, got ${q.denseOnly}")
      // THE floor: fusion strictly dominates both single families
      assert(q.fused >= math.max(q.bm25Only, q.denseOnly) + 0.25,
        s"fusion must recover the other family's blind spot: ${q.fused}")
      assert(q.fused >= 0.9, s"fused recall@10 floor, got ${q.fused}")
      // the index-scale form still dominates each single family; its
      // gap to exact fusion is the ANN index's measured recall price
      assert(q.fusedAnn >= math.max(q.bm25Only, q.denseOnly),
        s"ANN fusion must not fall below a single family: ${q.fusedAnn}")
    } finally {
      graft.operators.Cleanup.dropAll(spark)
      graft.streaming.PartitionedTable.deleteRecursively(
        java.nio.file.Paths.get(d))
    }
  }
}

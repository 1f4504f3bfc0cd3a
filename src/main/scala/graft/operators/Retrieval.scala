package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}
import graft.Tables._

/** Sparse retrieval + trained text classification — the lexical half
  * a training-data pipeline pairs with the dense ANN stack
  * (Similarity.scala): BM25 top-k over n-gram features, servable from
  * a persisted bucketed inverted index, and a multinomial
  * Naive-Bayes classifier trained on the corpus's own labels.
  *
  * Everything is integer-exact (the surprisal trick: ⌊log2⌋ via
  * binary-digit length, fixed-point parts-per-1000 saturation) so
  * Spark and the DuckDB oracle hash-match bit-for-bit — no floating
  * log/division at any boundary.
  *
  * 100 TB shapes:
  *  - postings build is ONE partial-aggregable groupBy on the 64-bit
  *    gram hash (boilerplate grams combine map-side), written once as
  *    a bucketBy(g) layout;
  *  - scoring prunes the postings to the query vocabulary with a
  *    broadcast join FIRST — document frequencies and weights are
  *    computed over the pruned stream, so the corpus-wide term
  *    dictionary is never aggregated;
  *  - the classifier's model is a vocabulary-sized (tok → per-class
  *    bits) table met in a plain equi-join on tok — the
  *    text_surprisal_joined shape, zero driver state.
  */
object Retrieval {

  /** Gram width — the same K-word granularity the substring /
    * decontamination family keys on: BM25 here is n-gram retrieval
    * (the decontamination probe shape), robust to the tiny whole-word
    * vocabulary of the synthetic corpus (31 tokens ⇒ unigram idf is
    * all-zero; 3-gram df spans 1..7 at sf0.01). */
  private val GramK = 3

  /** The corpus docs that play incoming queries (deterministic,
    * low ids — present at every sf; same convention as sim_topk's
    * query vectors). */
  private[graft] val QueryDocs = Seq(7L, 123L, 400L)

  /** Per-doc gram-hash stream WITH multiplicity (tf matters for BM25:
    * WordShingles.shingles dedups, so build positionally like
    * Dedup.posGrams and keep repeats). 16-hex md5 prefix = the
    * fixed-width 64-bit term key the index shuffles on. Native
    * one-pass expression — the interpreted HOF twin below cost ~4 s
    * of the sf0.1 postings build on its own. */
  private def gramArr: Column =
    graft.functions.PosGramHashes.posGramHashes(col("text"), GramK)

  /** Portable HOF twin of `gramArr` — the shape the DuckDB oracle
    * mirrors; RetrievalSpec asserts bit-equality with the native
    * expression. */
  private[graft] def gramArrHof: Column = {
    val words = split(col("text"), " ")
    when(size(words) >= GramK,
      transform(sequence(lit(0), size(words) - GramK),
        i => substring(md5(concat_ws(" ", slice(words, i + 1, lit(GramK)))), 1, 16)))
      .otherwise(array().cast(ArrayType(StringType, containsNull = false)))
  }

  /** Inverted-index postings rows (g, doc_id, tf, dl). dl (the doc's
    * gram count) is denormalized into every posting so scoring never
    * joins a separate document-length table — the standard layout. */
  private[graft] def postingsOf(docs: DataFrame): DataFrame =
    graft.Tables.spread(docs)
      .select(col("doc_id"), gramArr.as("arr"))
      .select(col("doc_id"), size(col("arr")).cast(LongType).as("dl"),
        explode(col("arr")).as("g"))
      .groupBy(col("g"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))

  /** Corpus totals (n_docs, t_grams) over docs long enough to carry a
    * gram — row-local classification + one algebraic agg, no distinct. */
  private[graft] def totalsOf(docs: DataFrame): DataFrame = {
    val nw = size(split(col("text"), " "))
    docs.agg(
      sum(when(nw >= GramK, 1L).otherwise(0L)).as("n_docs"),
      sum(when(nw >= GramK, (nw - (GramK - 1)).cast(LongType)).otherwise(0L))
        .as("t_grams"))
  }

  /** Query-side term table (query_id, g), distinct — tiny: broadcasts. */
  private[graft] def queryGramsOf(docs: DataFrame,
      ids: Seq[Long] = QueryDocs): DataFrame =
    docs.filter(col("doc_id").isInCollection(ids))
      .select(col("doc_id").as("query_id"), explode(gramArr).as("g"))
      .distinct()

  /** Same term table over an ARBITRARY (query_id, text) relation — the
    * serve-session entry, where queries arrive as a batch rather than
    * as corpus doc ids (r15: graft.operators.Bm25ServeSession). */
  private[graft] def queryGramsOfRelation(queries: DataFrame): DataFrame =
    queries.select(col("query_id"), explode(gramArr).as("g")).distinct()

  /** Ad-hoc BM25 top-k over an arbitrary corpus (spec entry point). */
  private[graft] def bm25TopkOf(docs: DataFrame, ids: Seq[Long],
      k: Int = 10): DataFrame = {
    bm25Of(postingsOf(docs), totalsOf(docs), queryGramsOf(docs, ids), k)
  }

  /** Integer-exact BM25 (k1 = 1.2, b = 0.75) top-k against prepared
    * postings. Fixed-point derivation (everything BIGINT, both
    * engines):
    *   nd_x1000  = (1000·dl·N) DIV T                — dl/avgdl
    *   den_x1000 = 1000·tf + 300 + (9·nd_x1000) DIV 10
    *                                — tf + 0.3 + 0.9·nd, ×1000
    *   sat_x1000 = (2200000·tf) DIV den_x1000       — 2.2·tf/den, ×1000
    *   idf_bits  = ⌊log2(N DIV df)⌋                 — binary-digit length
    *   w_x1000   = idf_bits · sat_x1000; score = Σ over query grams
    * Magnitudes stay far from Long overflow at any realistic scale
    * (the largest intermediate is 1000·dl·N ≈ 1e3·1e3·1e11 = 1e17).
    *
    * Scale shape: the pruned postings stream is candidate-bounded —
    * only docs sharing a query gram survive the broadcast join; df
    * and weights are computed over THAT stream (the corpus-wide term
    * dictionary is never aggregated), and the final per-query rank
    * window sees only aggregated candidate docs. */
  /** Per-(query_id, doc_id) BM25 scores — the shared core of top-k
    * retrieval and retrieval-scored decontamination. */
  private[graft] def bm25Scores(postings: DataFrame, totals: DataFrame,
      qterms: DataFrame): DataFrame = {
    // ONE broadcast join against the (query_id, g) term table prunes
    // the postings stream AND attaches query ids (r18: the previous
    // form joined a derived distinct-g table first and qterms second —
    // two broadcasts and, in the ad-hoc query, two pushed query-doc
    // corpus scans for one pruning decision). qterms is distinct, so
    // within a (g, query_id) group the rows are exactly the docs
    // carrying g — counting them IS the document frequency; the window
    // carries only the candidate-bounded pruned stream (per-gram
    // duplication across queries is bounded by the query batch size,
    // never corpus-scaled).
    val pruned = postings.join(broadcast(qterms), Seq("g"))
    val withDf =
      if (postings.columns.contains("df")) {
        // serve form: df was computed once at index-build time and
        // lives in the postings rows (the IR-dictionary layout) — no
        // aggregation needed at serve
        pruned
      } else {
        pruned.withColumn("df",
          count(lit(1)).over(Window.partitionBy(col("g"), col("query_id"))))
      }
    withDf
      .crossJoin(broadcast(totals))
      .select(col("query_id"), col("doc_id"),
        ((length(bin(expr("n_docs DIV df"))) - 1).cast(LongType) *
          expr("(2200000 * tf) DIV (1000 * tf + 300 + " +
            "(9 * ((1000 * dl * n_docs) DIV t_grams)) DIV 10)")).as("w_x1000"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w_x1000")).as("score_x1000"))
  }

  private[graft] def bm25Of(postings: DataFrame, totals: DataFrame,
      qterms: DataFrame, k: Int = 10): DataFrame =
    Similarity.topK(bm25Scores(postings, totals, qterms), "score_x1000", k, id = "doc_id")

  /** BM25 top-10 per query over the documents corpus: postings built
    * in-query (the ad-hoc form; `text_bm25_bucketed` serves the same
    * relation from the persisted index). */
  def textBm25Topk(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    bm25Of(postingsOf(docs), totalsOf(docs), queryGramsOf(docs))
  }

  /** Exact 3-gram-SET Jaccard top-k per query doc — the lexical
    * ground truth `graft.RetrievalProbe` measures BM25's ranking
    * against (the retrieval analog of `sim_topk` as the ANN recall
    * reference). Distinct gram sets, integer intersection counts,
    * Jaccard ordering with doc_id tie-break. */
  private[graft] def jaccardTop(docs: DataFrame, ids: Seq[Long],
      k: Int = 10): DataFrame = {
    val t = graft.Tables.spread(docs)
      .select(col("doc_id"), explode(array_distinct(gramArr)).as("g"))
    val sz = t.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val q = t.filter(col("doc_id").isInCollection(ids))
      .select(col("doc_id").as("query_id"), col("g"))
    val inter = t.join(broadcast(q), Seq("g"))
      .groupBy(col("query_id"), col("doc_id")).agg(count(lit(1)).as("i"))
    val keyed = inter
      .join(sz.select(col("doc_id").as("query_id"), col("n").as("nq")),
        Seq("query_id"))
      .join(sz.select(col("doc_id"), col("n").as("nd")), Seq("doc_id"))
      // rank by the EXACT rational i/u (u = nq+nd-i ≤ 2^20 here:
      // distinct gram counts are bounded by doc length). A double
      // ratio can round two distinct rationals together (or swap
      // them), silently re-routing the tie-break to doc_id — so the
      // sort key is the exact integer ⌊i·U²/u⌋ with U = 2^20: two
      // distinct rationals with denominators < U differ by ≥ 1/U²,
      // so their keys differ by ≥ 1 (floor preserves strict order);
      // equal rationals floor to equal keys. i·U² ≤ 2^60 fits a long.
      .withColumn("jkey", expr(
        s"(i * ${1L << 40}L) div (nq + nd - i)"))
    Similarity.topK(keyed, "jkey", k, id = "doc_id")
      .select(col("query_id"), col("doc_id"), col("rnk"))
  }

  // ---- persisted inverted index (the serve layout) -------------------

  /** Memoized bucketBy(g) postings index + 1-row totals table — what
    * the corpus ETL would maintain so every retrieval run reads
    * postings already clustered by term. Bucket count derived from the
    * postings row count (Similarity.derivedBuckets). */
  private[graft] val postingsTables =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      ((String, String), java.nio.file.Path)]()

  private[graft] def bucketedPostings(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ((pt, tt), _) = postingsTables.computeIfAbsent((s, d), _ => {
      val wh = java.nio.file.Files.createTempDirectory("graft_bm25idx")
      val stem = wh.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "_")
      val pName = "bm25_postings_" + stem
      val tName = "bm25_totals_" + stem
      // denormalize df into the postings at write time (the dictionary
      // lives in the index): the per-gram count window rides the same
      // g-clustering the bucketBy write needs anyway
      val p = postingsOf(documents(s, d))
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("g"))))
      val nb = Similarity.derivedBuckets(s, p.count(), "spark.graft.bm25.buckets")
      p.write.mode("overwrite").bucketBy(nb, "g").sortBy("g")
        .option("path", wh.resolve("postings").toString).saveAsTable(pName)
      totalsOf(documents(s, d)).write.mode("overwrite")
        .option("path", wh.resolve("totals").toString).saveAsTable(tName)
      ((pName, tName), wh)
    })
    (s.table(pt), s.table(tt))
  }

  /** Drop this session's memoized postings index tables + files. */
  def dropPostingsTables(s: SparkSession): Unit = {
    val it = postingsTables.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) {
        val ((pt, tt), wh) = e.getValue
        s.sql(s"DROP TABLE IF EXISTS $pt")
        s.sql(s"DROP TABLE IF EXISTS $tt")
        val files = java.nio.file.Files.walk(wh)
        try files.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally files.close()
        it.remove()
      }
    }
  }

  /** The serve form: postings (with df baked in) come from the
    * persisted bucketBy(g) index, so the index side never exchanges
    * and serving aggregates nothing per-gram — the only gram-keyed
    * exchange in the plan is the tiny query-vocabulary dedup
    * (plan-asserted COUNT1). Same relation and oracle as
    * `text_bm25_topk`: the index is a layout choice. */
  def textBm25Bucketed(s: SparkSession, d: String): DataFrame = {
    val (p, t) = bucketedPostings(s, d)
    bm25Of(p, t, queryGramsOf(documents(s, d)))
  }

  // ---- hybrid sparse+dense fusion ------------------------------------

  /** Hybrid retrieval — reciprocal-rank fusion (Cormack et al. 2009)
    * of the sparse BM25 list and the exact dense cosine list over the
    * SAME query ids, the production pattern for retrieval-backed
    * curation (each family sees what the other is blind to: BM25 the
    * lexical rare-gram overlap, the embedding the semantic neighbor
    * with zero shared tokens). Both lists are self-excluded top-10;
    * the fused score is integer-exact: rrf_x1m = Σ 1e6 DIV (60 + rank)
    * over the lists the doc appears in (k=60, the standard constant).
    *
    * Scale shape: both inputs are the already-audited efficient
    * forms — the pruned-postings BM25 and `sim_topk`'s two-level
    * bounded-heap scan (reused via simTopkFor, not re-derived) — and
    * the fusion itself touches only 2·k·|queries| rows. */
  def simHybridRrf(s: SparkSession, d: String): DataFrame =
    simHybridRrfFor(s, d, QueryDocs)

  def simHybridRrfFor(s: SparkSession, d: String, ids: Seq[Long]): DataFrame =
    fuseRrf(sparseTopFor(s, d, ids), denseTopExactFor(s, d, ids))

  /** Self-excluded BM25 top-10 list (query_id, doc_id, srnk) — the
    * sparse side of both hybrid forms, exposed so the quality probe
    * measures exactly the shipped list. */
  private[graft] def sparseTopFor(s: SparkSession, d: String,
      ids: Seq[Long], k: Int = 10): DataFrame = {
    val docs = documents(s, d)
    Similarity.topK(bm25Scores(postingsOf(docs), totalsOf(docs), queryGramsOf(docs, ids))
        .filter(col("doc_id") =!= col("query_id")), "score_x1000", k, "srnk", "doc_id")
      .select(col("query_id"), col("doc_id"), col("srnk"))
  }

  /** Self-excluded EXACT dense top-10 (query_id, doc_id, drnk) — the
    * bounded-heap brute-force scan. */
  private[graft] def denseTopExactFor(s: SparkSession, d: String,
      ids: Seq[Long]): DataFrame = {
    val qv = embeddings(s, d).filter(col("vec_id").isInCollection(ids))
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    Similarity.simTopkFor(s, d, qv)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rnk").as("drnk"))
  }

  /** Integer reciprocal-rank fusion of a sparse and dense list
    * (Cormack et al. 2009, k=60): rrf_x1m = Σ 1e6 DIV (60 + rank). */
  private[graft] def fuseRrf(sparse: DataFrame, dense: DataFrame,
      k: Int = 10): DataFrame =
    Similarity.topK(sparse.join(dense, Seq("query_id", "doc_id"), "full")
      .select(col("query_id"), col("doc_id"),
        (coalesce(expr("CAST(1000000 DIV (60 + srnk) AS BIGINT)"), lit(0L)) +
         coalesce(expr("CAST(1000000 DIV (60 + drnk) AS BIGINT)"), lit(0L)))
          .as("rrf_x1m")), "rrf_x1m", k, id = "doc_id")

  /** The hybrid at INDEX scale — `sim_hybrid_rrf` with the dense side
    * served from the ANN index instead of the exact scan: the exact
    * bounded-heap top-k is still O(corpus·d) PER QUERY (the
    * brute-force ablation at 100 TB), while the IMI-routed int8 probe
    * touches one cell's codes per query. Same integer RRF fusion,
    * same self-excluded top-10 lists; the dense list inherits the ANN
    * index's recall (measured in RECALL_r10.json) — retrieval-backed
    * curation trades that measured recall for a probe-bounded scan,
    * and the fused list still sees everything BM25 sees. */
  def simHybridRrfAnn(s: SparkSession, d: String): DataFrame =
    simHybridRrfAnnFor(s, d, QueryDocs)

  def simHybridRrfAnnFor(s: SparkSession, d: String, ids: Seq[Long]): DataFrame =
    fuseRrf(sparseTopFor(s, d, ids), denseTopAnnFor(s, d, ids))

  /** Self-excluded ANN dense top-10 (query_id, doc_id, drnk): the
    * IMI-routed int8 cell probe — one cell's codes per query instead
    * of the O(corpus·d) exact scan; the list inherits the index's
    * measured recall (RECALL artifact). */
  private[graft] def denseTopAnnFor(s: SparkSession, d: String,
      ids: Seq[Long], k: Int = 10): DataFrame = {
    val e = graft.Tables.embeddings(s, d)
    val cellOf = Similarity.imiCellOf(s, d) _
    val qcells = Similarity.int8Queries(e.filter(col("vec_id").isInCollection(ids))
      .select(col("vec_id").as("query_id"), col("embedding")), Some(cellOf))
    val qdot = graft.functions.DotI8.dotI8(col("cq"), col("qq"))
    Similarity.topK(
      Similarity.probeJoin(Similarity.int8Rows(e, cellOf), qcells, Some("cell" -> "qcell"))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          Similarity.cosQ(qdot).as("cos_q")),
      "cos_q", k, "drnk", "doc_id")
      .select(col("query_id"), col("doc_id"), col("drnk"))
  }

  // ---- streaming serve over the persisted index ----------------------

  /** ONLINE sparse retrieval — `text_bm25_bucketed` run as the
    * production serve loop (the lexical mirror of
    * `stream_ann_serve`): query docs arrive as a STREAM of three
    * sub-batches (one file per micro-batch, `maxFilesPerTrigger=1`
    * under `Trigger.AvailableNow` — the bounded-catch-up harness every
    * §2h query uses) and each micro-batch probes the SAME persisted
    * bucketBy(g) postings index the batch form reads. Per-batch work
    * is the serve kernel exactly: tiny query vocabulary broadcast,
    * df read from the index rows, no per-gram aggregation — the
    * index is write-once ETL built before the stream starts.
    * Top-k per query is query-independent, so the streamed union
    * equals the batch run over the same query set (the oracle is that
    * batch SQL plus the sub_batch derivation). */
  def streamBm25Serve(s: SparkSession, d: String): DataFrame = {
    val queryIds = (0L until 9L).toSeq
    val qs = documents(s, d).filter(col("doc_id").isInCollection(queryIds))
      .select(col("doc_id"), col("text"),
        (col("doc_id") % 3).cast(IntegerType).as("sub_batch"))
    val (pIdx, tIdx) = bucketedPostings(s, d) // write-once ETL, pre-stream
    val results = new graft.streaming.SubBatchState[DataFrame]
    graft.streaming.SubBatchState.streamSubBatches(s, qs) { (k, batch) =>
      val qterms = batch
        .select(col("doc_id").as("query_id"), explode(gramArr).as("g"))
        .distinct()
      results.put(k, bm25Of(pIdx, tIdx, qterms)
        .withColumn("sub_batch", lit(k))
        .localCheckpoint(true))
    }
    if (results.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id", LongType),
          org.apache.spark.sql.types.StructField("doc_id", LongType),
          org.apache.spark.sql.types.StructField("score_x1000", LongType),
          org.apache.spark.sql.types.StructField("rnk", IntegerType),
          org.apache.spark.sql.types.StructField("sub_batch", IntegerType))))
    else results.values.reduce(_ union _)
  }

  // ---- incremental index MAINTENANCE ---------------------------------

  /** Hash split of the corpus into the standing base and a "newly
    * arrived" slice of three sub-batches — the same pure-function-of-
    * the-key md5 contract the dedup admission family uses
    * (Dedup.isBatchDoc / subBatchOf), so membership never depends on
    * partitioning or order. */
  private[graft] def isArrival(id: Column): Column =
    substring(md5(id.cast("string")), 1, 2) < "20"
  private[graft] def arrivalSubBatch(id: Column): Column =
    (ascii(substring(md5(id.cast("string")), 3, 1)) % 3).cast(IntegerType)

  /** Per-doc gram-length rows (doc_id, dl) — the doc-length side
    * table a MAINTAINABLE index keeps normalized (docs with no gram
    * carry no row, matching `totalsOf`'s eligibility rule). */
  private[graft] def doclensOf(docs: DataFrame): DataFrame =
    graft.Tables.spread(docs)
      .select(col("doc_id"), size(gramArr).cast(LongType).as("dl"))
      .filter(col("dl") > 0)

  /** The maintained inverted index: postings bucketed by gram
    * (append-only — new documents only ADD (g, doc_id) rows) and doc
    * lengths bucketed by doc_id (upsert). Unlike the write-once
    * `text_bm25_bucketed` layout, df is NOT denormalized into the
    * rows: a baked-in df goes stale the moment one document arrives,
    * which is exactly why that layout can only be rebuilt. The
    * maintainable layout keeps postings normalized and computes df at
    * serve over the candidate-pruned stream (the ad-hoc kernel) —
    * serve pays one count window over candidate postings; maintenance
    * pays only the arriving docs' rows. */
  private[graft] case class MaintainedIndex(
      postings: graft.streaming.PartitionedTable,
      doclens: graft.streaming.PartitionedTable)

  /** Txn marker every postings commit carries: the doclens snapshot
    * id that is PAIRED with it — i.e. the doclens state this postings
    * state was committed against. The write protocol is doclens
    * FIRST, postings second with the fresh doclens snapshot recorded
    * atomically in the postings manifest (`alsoRecord`). A reader
    * that resolves (postings latest, its PairMarker) therefore always
    * gets a consistent pair, whatever instant it reads at: between
    * the two commits, postings latest is still the PRE-fold snapshot
    * and its marker names the PRE-fold doclens — never post-fold
    * postings with pre-fold totals (the r16 torn-pair hole,
    * `MaintainedBm25ServeSession`). */
  private[graft] val PairMarker = "bm25.pairdl"

  private[graft] def pairMarkerOf(idx: MaintainedIndex): Map[String, Long] =
    idx.doclens.snapshots.lastOption.map(PairMarker -> _).toMap

  private[graft] def buildMaintained(s: SparkSession,
      dir: java.nio.file.Path, base: DataFrame,
      installFence: MaintainedIndex => Unit = _ => ()): MaintainedIndex = {
    val p = postingsOf(base)
    val nb = Similarity.derivedBuckets(s, p.count(), "spark.graft.bm25.buckets")
    val idx = MaintainedIndex(
      new graft.streaming.PartitionedTable(dir.resolve("postings"), "g", nb),
      new graft.streaming.PartitionedTable(dir.resolve("doclens"), "doc_id",
        math.max(4, nb / 4)))
    // fence BEFORE the seed commits: a lease stolen during the build
    // window must refuse the build's own publishes too, not just the
    // later fold/OPTIMIZE (the Similarity/Dedup maintain ordering)
    installFence(idx)
    // doclens first, postings second with the pair marker — every
    // write to the two-table index follows this order (PairMarker)
    idx.doclens.mergeInto(s, doclensOf(base), Some("bm25dl" -> 0L))
    idx.postings.appendInto(s, p, Some("bm25idx" -> 0L),
      alsoRecord = pairMarkerOf(idx))
    idx
  }

  /** One DIRECT maintenance step: upsert the arriving docs' lengths,
    * then append their postings rows through the commit protocol —
    * doclens first so the postings commit can record its paired
    * doclens snapshot (PairMarker). `ver` makes the step idempotent
    * per table — a replayed micro-batch (checkpoint recovery) no-ops
    * instead of double-counting tf. NOTE the cost bound: gram hashes
    * are uniform, so even a small batch touches ~every postings
    * bucket and the merge rewrites them all — O(standing index) per
    * call (measured in MAINTAIN_r10.json). Right for occasional
    * direct edits; the STREAMING loop uses O(batch) segment writes
    * with one deferred fold instead (`writeSegment` / `foldSegments`). */
  private[graft] def appendArrivals(s: SparkSession, idx: MaintainedIndex,
      batch: DataFrame, ver: Long): Unit = {
    idx.doclens.mergeInto(s, doclensOf(batch), Some("bm25dl" -> ver))
    idx.postings.appendInto(s, postingsOf(batch), Some("bm25idx" -> ver),
      alsoRecord = pairMarkerOf(idx))
  }

  /** LSM-style per-trigger ingestion: the batch's rows land as their
    * OWN parquet segment — one O(batch) write job that rewrites
    * nothing, whatever the key distribution. Replay-idempotent by
    * construction: the segment is named by the sub-batch id, so a
    * re-delivered micro-batch overwrites its own segment instead of
    * duplicating rows. This is the standard lakehouse answer to
    * uniform-key appends (an inverted index's grams, an LSH index's
    * bands hit EVERY bucket, so a bucketed-table merge per trigger
    * is a full-index rewrite per trigger — the measured flaw in
    * MAINTAIN_r10.json): deltas accumulate as segments, readers
    * union base + segments, and OPTIMIZE folds segments into the
    * bucketed base once per epoch, amortizing the one O(standing)
    * rewrite over the whole epoch's batches. */
  private[graft] def writeSegment(segDir: java.nio.file.Path, k: Long,
      rows: DataFrame): java.nio.file.Path = {
    val seg = segDir.resolve(f"seg$k%04d")
    rows.write.mode("overwrite").parquet(seg.toString)
    seg
  }

  /** The deferred OPTIMIZE: fold accumulated segments into the
    * bucketed base tables in ONE commit per table. Segments arrive
    * keyed by SUB-BATCH id, and the fold is REPLAY-SAFE structurally
    * (r15 VERDICT item 5): each fold commit records one
    * `<app>.seg<k>` txn marker per folded sub-batch — atomically with
    * the data, in the same manifest swap — and segments whose id the
    * table has already folded are FILTERED OUT here. A replay of an
    * already-folded sub-batch under AvailableNow (its segment file
    * re-landed after the mid-epoch fold that consumed it) therefore
    * no-ops at the next fold instead of re-landing rows, whatever the
    * loop around this call does. */
  private[graft] def foldSegments(s: SparkSession, idx: MaintainedIndex,
      postingSegs: Seq[(Int, java.nio.file.Path)],
      doclenSegs: Seq[(Int, java.nio.file.Path)],
      ver: Long): Unit =
    // distinctBy id: a replayed micro-batch re-registers its segment
    // path; the segment itself was overwritten in place, so fold once
    foldPaired(s, idx,
      postingSegs.distinctBy(_._1).map { case (k, p) => (Seq(k), p) },
      doclenSegs.distinctBy(_._1).map { case (k, p) => (Seq(k), p) }, ver)

  /** The two-table fold, in PAIRED commit order: doclens lands first,
    * then postings with the fresh doclens snapshot id recorded
    * atomically in the postings commit (PairMarker — see its doc for
    * why a reader resolving (postings latest, marker) can never
    * observe a torn pair). `between` is a TEST SEAM: it runs in the
    * window between the two commits — the exact instant the r16
    * torn-pair hole lived in — so ServeSessionSpec can inject a
    * `refresh()` there and assert the pinned pair stays consistent. */
  private[graft] def foldPaired(s: SparkSession, idx: MaintainedIndex,
      pParts: Seq[(Seq[Int], java.nio.file.Path)],
      dParts: Seq[(Seq[Int], java.nio.file.Path)],
      ver: Long, between: () => Unit = () => ()): Unit = {
    graft.streaming.LsmFold.foldToBase(s, idx.doclens, "bm25dl",
      dParts, ver, merge = true)
    between()
    graft.streaming.LsmFold.foldToBase(s, idx.postings, "bm25idx",
      pParts, ver, merge = false, alsoRecord = pairMarkerOf(idx))
  }

  /** Serve from the maintained state: postings read through the
    * manifest, corpus totals aggregated from the doc-length table
    * (O(#docs), the smaller relation), df computed at serve by the
    * ad-hoc kernel's count window over the candidate-pruned stream. */
  private[graft] def serveMaintained(s: SparkSession, idx: MaintainedIndex,
      qterms: DataFrame): DataFrame =
    serveWithSegments(s, idx, Nil, Nil, qterms)

  /** Serve from the maintained state BETWEEN folds: the bucketed base
    * UNION the still-unfolded segments — what an online query reads
    * while the epoch accumulates (the LSM read path: memtable +
    * SSTables). Each unfolded segment adds one more leaf scan to the
    * union (per-file open + footer + no gram clustering), which is
    * exactly the degradation `graft.MaintainProbe` measures as serve
    * latency vs segment count — the number that sets the epoch's fold
    * cadence. Segment docs are new arrivals (disjoint doc_ids), so
    * plain unions are the correct merge. */
  private[graft] def serveWithSegments(s: SparkSession, idx: MaintainedIndex,
      pSegs: Seq[java.nio.file.Path], dSegs: Seq[java.nio.file.Path],
      qterms: DataFrame): DataFrame = {
    val cols = Seq("g", "doc_id", "dl", "tf")
    val postings = (idx.postings.read(s).select(cols.map(col): _*) +:
      pSegs.map(p => s.read.parquet(p.toString).select(cols.map(col): _*)))
      .reduce(_ unionByName _)
    val dls = (idx.doclens.read(s) +:
      dSegs.map(p => s.read.parquet(p.toString))).reduce(_ unionByName _)
    val totals = dls.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_grams"))
    bm25Of(postings, totals, qterms)
  }

  /** Age-out: delete segment dirs the epoch fold has landed in the
    * bucketed base. The steady-state segment count is ZERO after each
    * fold — segments exist only between folds, so the union read
    * path's leaf count is bounded by one epoch's trigger count, never
    * by table age. */
  private[graft] def pruneSegments(segs: Seq[java.nio.file.Path]): Unit =
    segs.distinct.foreach { p =>
      if (java.nio.file.Files.exists(p))
        graft.streaming.PartitionedTable.deleteRecursively(p)
    }

  /** CONTINUOUS inverted-index maintenance — the write path
    * `stream_bm25_serve` takes as given: documents ARRIVE as a stream
    * of three sub-batches (one file per micro-batch — the §2h
    * bounded-catch-up harness) and each micro-batch is MERGED into
    * the standing index through the PartitionedTable commit protocol
    * (append postings, upsert doc lengths, txn-versioned so replays
    * no-op), followed by a small-files OPTIMIZE pass. Serving the
    * standard query set from the maintained state then equals the
    * one-shot batch build over the full corpus — that equality IS the
    * oracle (`text_bm25_topk`'s SQL verbatim), because an index is a
    * layout, and maintenance must not change what it answers.
    *
    * Scale shape: per-trigger work is proportional to the ARRIVING
    * docs (their postings rows shuffle to their gram buckets; only
    * touched buckets rewrite), never to the standing index; the
    * doc-length upsert touches only arriving keys; compaction bounds
    * the file count however many batches have merged. A daily-ingest
    * deployment runs exactly this loop against the previous
    * snapshot — full rebuilds are the once-per-epoch job. */
  def streamBm25Maintain(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val arrivals = docs.filter(isArrival(col("doc_id")))
      .withColumn("sub_batch", arrivalSubBatch(col("doc_id")))
    val workDir = java.nio.file.Files.createTempDirectory("graft_bm25maint")
    try {
      // single-writer lease over the whole index-mutation scope (r11
      // VERDICT item 8): the build, the per-epoch fold, and the
      // OPTIMIZE commits are all fenced on the lease nonce + monotonic
      // generation, so a maintainer whose lease is stolen mid-epoch is
      // refused at the PUBLISH point (steal test: RetrievalSpec).
      // buildMaintained installs the fence BEFORE its seed commits.
      graft.streaming.Replication.withWriterLease(workDir) { lease =>
      val idx = buildMaintained(s, workDir.resolve("idx"),
        docs.filter(!isArrival(col("doc_id"))),
        ix => {
          ix.postings.withFence(() => lease.check(), Some(lease.generation))
          ix.doclens.withFence(() => lease.check(), Some(lease.generation))
          ()
        })
      try {
      val pSegDir = workDir.resolve("psegs")
      val dSegDir = workDir.resolve("dsegs")
      java.nio.file.Files.createDirectories(pSegDir)
      java.nio.file.Files.createDirectories(dSegDir)
      val pSegs = new graft.streaming.SubBatchState[java.nio.file.Path]
      val dSegs = new graft.streaming.SubBatchState[java.nio.file.Path]
      // fold cadence is the TIERED rent-or-buy policy's call (r16):
      // this write-only epoch accrues no serve tax, so the policy's
      // only fold is the close fold straight to base — the
      // pre-r15 once-per-epoch cadence as the policy's degenerate
      // case. A serve-interleaved deployment of this same loop folds
      // mid-epoch to flat-priced RUNS and pays the O(standing) base
      // rewrite once per epoch (graft.MaintainProbe's tiered policy
      // loop measures both levels).
      val pRunDir = workDir.resolve("pruns")
      val dRunDir = workDir.resolve("druns")
      val pRuns = scala.collection.mutable.ArrayBuffer[(Seq[Int], java.nio.file.Path)]()
      val dRuns = scala.collection.mutable.ArrayBuffer[(Seq[Int], java.nio.file.Path)]()
      var runSeq = 0
      var foldTxn = 1L
      val folder = new graft.streaming.TieredPolicyFolder(
        graft.streaming.TieredPolicyFolder.defaultPolicy(),
        () => { // fold-to-RUN: merge loose segments, O(these rows);
          // returns the new runs' file count — their serve-path
          // weight under the policy's per-file pricing (r17)
          val pe = pSegs.entries; val de = dSegs.entries
          var newFiles = 0
          if (pe.nonEmpty) {
            val r = graft.streaming.LsmFold.mergeRun(s, pRunDir, runSeq, pe)
            pRuns += r
            newFiles += graft.streaming.LsmFold.parquetFiles(r._2)
          }
          if (de.nonEmpty) {
            val r = graft.streaming.LsmFold.mergeRun(s, dRunDir, runSeq, de)
            dRuns += r
            newFiles += graft.streaming.LsmFold.parquetFiles(r._2)
          }
          runSeq += 1
          pruneSegments(pe.map(_._2) ++ de.map(_._2))
          pSegs.clear(); dSegs.clear()
          newFiles
        },
        () => { // fold-to-BASE: runs + loose segments, one commit/table,
          // in paired order (doclens first, postings + PairMarker)
          val pParts = pRuns.toSeq ++
            pSegs.entries.map { case (k, p) => (Seq(k), p) }
          val dParts = dRuns.toSeq ++
            dSegs.entries.map { case (k, p) => (Seq(k), p) }
          foldPaired(s, idx, pParts, dParts, foldTxn)
          foldTxn += 1
          // age-out: folded parts are dead — the stores only ever
          // hold UNFOLDED parts, so the union read path shrinks
          // back to the bucketed base after every base fold
          pruneSegments(pParts.map(_._2) ++ dParts.map(_._2))
          pRuns.clear(); dRuns.clear(); pSegs.clear(); dSegs.clear()
        })
      // per-trigger work is an O(batch) SEGMENT write (gram keys are
      // uniform — a bucketed merge here would rewrite the whole
      // standing index every trigger, the measured flaw in
      // MAINTAIN_r10.json); a re-delivered micro-batch overwrites its
      // own segment, so replays are idempotent
      graft.streaming.SubBatchState.streamSubBatches(s, arrivals) { (k, batch) =>
        // a replay of a sub-batch a mid-epoch fold already landed
        // (to base — structural txn markers — or into a live run)
        // must NOT re-enter the segment store. Guarded PER TABLE
        // (r16 ADVICE): a restart between a fold's two commits
        // leaves one table folded and the other not — the
        // replayed sub-batch then re-lands ONLY the missing
        // table's segment (the folded table's foldToBase would
        // refuse a re-land anyway; not re-entering it also keeps
        // runs pure, the LsmFold mixed-part invariant)
        val pFresh = idx.postings.lastTxn(s"bm25idx.seg$k").isEmpty &&
          !pRuns.exists(_._1.contains(k))
        val dFresh = idx.doclens.lastTxn(s"bm25dl.seg$k").isEmpty &&
          !dRuns.exists(_._1.contains(k))
        if (pFresh || dFresh) {
          var segFiles = 0
          if (pFresh) {
            val sp = writeSegment(pSegDir, k.toLong, postingsOf(batch))
            pSegs.put(k, sp)
            segFiles += graft.streaming.LsmFold.parquetFiles(sp)
          }
          if (dFresh) {
            val sd = writeSegment(dSegDir, k.toLong, doclensOf(batch))
            dSegs.put(k, sd)
            segFiles += graft.streaming.LsmFold.parquetFiles(sd)
          }
          folder.onSegment(math.max(1, segFiles))
        }
      }
      // the deferred OPTIMIZE: the policy's close fold lands all
      // remaining segments in the bucketed base (the per-epoch
      // O(standing) rewrite, amortized over every batch the epoch
      // delivered), then file compaction
      folder.finish()
      // compaction in the same paired order: the doclens compact makes
      // a new (physically identical) snapshot, and the postings
      // compact re-stamps PairMarker to it — keeping the pair a
      // session resolves inside the vacuum horizon's youngest commits
      idx.doclens.compact(s)
      idx.postings.compact(s, alsoRecord = pairMarkerOf(idx))
      serveMaintained(s, idx, queryGramsOf(docs)).localCheckpoint(true)
      // the fence dies with the lease scope, exception or not — the
      // finally matches Replication.catchUp's discipline
      } finally { idx.postings.clearFence(); idx.doclens.clearFence() }
      }
    } finally {
      graft.streaming.PartitionedTable.deleteRecursively(workDir)
    }
  }

  // ---- retrieval-scored decontamination ------------------------------

  /** Contamination threshold in score-x1000 units: ≈ two high-idf
    * grams' worth of saturated weight — the top decile of
    * eval-overlapping corpus docs on the synthetic corpus. */
  private[graft] val DecontamThr = 10000L

  /** SOFT decontamination — the retrieval-scored complement of
    * `pipeline_decontaminate`'s exact 5-gram membership test: eval
    * docs (the same doc_id % 97 eval set) play BM25 queries against a
    * corpus-only index, and each corpus doc is flagged by its MAX
    * score over any eval doc. Exact membership catches verbatim
    * leakage only; the graded score also surfaces partial and
    * near-verbatim overlap (the idf weighting makes shared RARE grams
    * count, shared boilerplate not), and the verdict keeps the score
    * so the cutoff is auditable rather than baked into the output.
    *
    * Scale shape: identical to `text_bm25_topk` (eval vocabulary is
    * benchmark-bounded → broadcasts; postings stream pruned map-side
    * FIRST), plus one per-doc max and a left join back to the corpus
    * — no new shuffle class. */
  def pipelineDecontaminateBm25(s: SparkSession, d: String): DataFrame =
    decontaminateBm25Of(documents(s, d))

  private[graft] def decontaminateBm25Of(docs: DataFrame): DataFrame = {
    val isEval = pmod(col("doc_id"), lit(97)) === 0
    val corpus = docs.filter(!isEval)
    val qterms = docs.filter(isEval)
      .select(col("doc_id").as("query_id"), explode(gramArr).as("g"))
      .distinct()
    val perDoc = bm25Scores(postingsOf(corpus), totalsOf(corpus), qterms)
      .groupBy(col("doc_id"))
      .agg(max(col("score_x1000")).as("max_score_x1000"))
    corpus.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("max_score_x1000"), lit(0L)).as("max_score_x1000"))
      .withColumn("contaminated", col("max_score_x1000") >= DecontamThr)
  }

  // ---- trained multinomial Naive-Bayes classifier --------------------

  /** Fixed class list (= the langid stopword languages, priority
    * order for tie-breaks). */
  private val Langs: Seq[String] = TextAnalysis.stopwords.map(_._1)

  /** Multinomial NB trained on the corpus's OWN labels over a 90/10
    * doc_id split: class-conditional token costs in integer bits
    * (cost = ⌊log2(classTotal DIV tokenCount)⌋ — frequent-in-class
    * tokens are cheap), unseen-in-class tokens pay the
    * worse-than-any-singleton default ⌊log2(classTotal)⌋ + 1, and the
    * held-out 10% is labeled by cost argmin. This is the trainable
    * labeling stage of a curation pipeline (fastText-style quality /
    * language filters) as pure relational algebra — note the
    * synthetic corpus carries weak class signal, so accuracy is
    * modest; the oracle checks exactness, not quality.
    *
    * Scale shape: training is two partial-aggregable groupBys; the
    * model is a vocabulary-sized wide table (tok → 5 bit-costs) met
    * in an equi-join on tok (broadcast when it fits, shuffle
    * otherwise — the text_surprisal_joined shape); scoring is one
    * per-doc aggregate. Zero driver state. */
  def textClassifyNb(s: SparkSession, d: String): DataFrame =
    textClassifyNbOf(documents(s, d))

  private[graft] def textClassifyNbOf(docs: DataFrame): DataFrame = {
    val tokCol = explode(split(col("text"), " ")).as("tok")
    val ttoks = docs.filter(expr("doc_id % 10 != 0")).select(col("lang"), tokCol)
    val counts = ttoks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("n"))
    val classTot = ttoks.groupBy(col("lang")).agg(count(lit(1)).as("ct"))
    val model = counts.join(classTot, Seq("lang"))
      .select(col("tok"), col("lang"),
        (length(bin(expr("ct DIV n"))) - 1).cast(LongType).as("bits"))
    val wideAggs = Langs.map(l =>
      max(when(col("lang") === l, col("bits"))).as(s"b_$l"))
    val wide = model.groupBy(col("tok")).agg(wideAggs.head, wideAggs.tail: _*)
    // unseen-in-class default ⌊log2(ct)⌋ + 1 = binary-digit length of ct
    val defAggs = Langs.map(l =>
      length(bin(max(when(col("lang") === l, col("ct"))))).cast(LongType).as(s"d_$l"))
    val defaults = classTot.agg(defAggs.head, defAggs.tail: _*)
    val stoks = graft.Tables.spread(docs.filter(expr("doc_id % 10 = 0")))
      .select(col("doc_id"), col("lang"), tokCol)
    val costAggs = Langs.map(l =>
      sum(coalesce(col(s"b_$l"), col(s"d_$l"))).as(s"c_$l"))
    val costs = stoks.join(wide, Seq("tok"), "left")
      .crossJoin(broadcast(defaults))
      .groupBy(col("doc_id"), col("lang"))
      .agg(costAggs.head, costAggs.tail: _*)
    // first class whose cost is <= all later ones (priority argmin —
    // the langPred tie-break shape)
    val pred = Langs.init.zipWithIndex.foldRight(lit(Langs.last): Column) {
      case ((l, i), elseCol) =>
        val isMin = Langs.drop(i + 1)
          .map(o => col(s"c_$l") <= col(s"c_$o")).reduce(_ && _)
        when(isMin, lit(l)).otherwise(elseCol)
    }
    costs.select(col("doc_id"), col("lang"), pred.as("nb_pred"))
      .withColumn("is_match", col("nb_pred") === col("lang"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bm25_topk" -> textBm25Topk _,
    "text_bm25_bucketed" -> textBm25Bucketed _,
    "pipeline_decontaminate_bm25" -> pipelineDecontaminateBm25 _,
    "stream_bm25_serve" -> streamBm25Serve _,
    "stream_bm25_maintain" -> streamBm25Maintain _,
    "sim_hybrid_rrf" -> simHybridRrf _,
    "sim_hybrid_rrf_ann" -> simHybridRrfAnn _,
    "text_classify_nb" -> textClassifyNb _
  )

  /** Shared BM25 oracle CTE chain ending in `sc(query_id, doc_id,
    * score_x1000)` — positional 3-gram md5-16 hashes with
    * multiplicity, the identical fixed-point arithmetic. The query
    * set predicate is a parameter so the batch, streaming-serve, and
    * hybrid-fusion entries share one body. */
  private def bm25Ctes(queryPred: String): String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |t AS (SELECT doc_id, substr(md5(array_to_string(ws[i:i+${GramK - 1}], ' ')), 1, 16) AS g
      |      FROM w, unnest(range(1, len(ws) - $GramK + 2)) u(i) WHERE len(ws) >= $GramK),
      |p AS (SELECT g, doc_id, count(*) AS tf FROM t GROUP BY g, doc_id),
      |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
      |tot AS (SELECT count(*) FILTER (len(ws) >= $GramK) AS n_docs,
      |        CAST(sum(CASE WHEN len(ws) >= $GramK THEN len(ws) - ${GramK - 1} ELSE 0 END) AS BIGINT) AS t_grams
      |        FROM w),
      |q AS (SELECT DISTINCT doc_id AS query_id, g FROM t
      |      WHERE $queryPred),
      |dfq AS (SELECT g, count(*) AS df FROM p WHERE g IN (SELECT g FROM q) GROUP BY g),
      |wt AS (SELECT q.query_id, p.doc_id,
      |       CAST(floor(log2(n_docs // df)) AS BIGINT) *
      |       ((2200000 * tf) // (1000 * tf + 300 +
      |         (9 * ((1000 * dl.dl * n_docs) // t_grams)) // 10)) AS w_x1000
      |       FROM p JOIN q USING (g) JOIN dfq USING (g)
      |            JOIN dl ON p.doc_id = dl.doc_id, tot),
      |sc AS (SELECT query_id, doc_id, CAST(sum(w_x1000) AS BIGINT) AS score_x1000
      |       FROM wt GROUP BY query_id, doc_id)""".stripMargin

  private def bm25OracleSqlFor(queryPred: String, outerExtra: String): String =
    s"""WITH ${bm25Ctes(queryPred)}
      |SELECT query_id, doc_id, score_x1000,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY score_x1000 DESC, doc_id ASC) AS rnk$outerExtra
      |FROM sc QUALIFY rnk <= 10""".stripMargin

  private val bm25OracleSql: String =
    bm25OracleSqlFor(s"doc_id IN (${QueryDocs.mkString(", ")})", "")

  /** Hybrid oracle: sparse and dense top-10 (both self-excluded),
    * fused by integer reciprocal-rank (1e6 DIV (60 + rank)). */
  private val hybridOracleSql: String =
    s"""WITH ${bm25Ctes(s"doc_id IN (${QueryDocs.mkString(", ")})")},
      |sp AS (SELECT query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_x1000 DESC, doc_id ASC) AS srnk
      |  FROM sc WHERE doc_id <> query_id QUALIFY srnk <= 10),
      |dq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      |  WHERE vec_id IN (${QueryDocs.mkString(", ")})),
      |ds AS (SELECT query_id, e.vec_id AS doc_id,
      |    round(${Similarity.dotSql.format("qv", "e.embedding")}, 4) AS cos_r
      |  FROM embeddings e, dq WHERE e.vec_id <> dq.query_id),
      |dn AS (SELECT query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos_r DESC, doc_id ASC) AS drnk
      |  FROM ds QUALIFY drnk <= 10),
      |fu AS (SELECT query_id, doc_id,
      |    CAST(coalesce(1000000 // (60 + srnk), 0)
      |       + coalesce(1000000 // (60 + drnk), 0) AS BIGINT) AS rrf_x1m
      |  FROM sp FULL JOIN dn USING (query_id, doc_id))
      |SELECT query_id, doc_id, rrf_x1m,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY rrf_x1m DESC, doc_id ASC) AS rnk
      |FROM fu QUALIFY rnk <= 10""".stripMargin

  /** ANN-backed hybrid oracle: the bm25 chain + the shared IMI/int8
    * serve chains (CTE name sets are disjoint), dense top-10 by the
    * identical int8 cosine ordering, then the same integer RRF. */
  private val hybridAnnOracleSql: String = {
    val cosq =
      """CASE WHEN cv2.sc = 0 OR qv2.sc = 0 THEN 0.0
        |      ELSE round(CAST(CAST(list_sum(list_transform(range(1, 65),
        |        i -> CAST(cv2.q[i] AS BIGINT) * qv2.q[i])) AS BIGINT) AS DOUBLE)
        |      / (cv2.sc * qv2.sc), 4) END""".stripMargin
    s"""WITH ${bm25Ctes(s"doc_id IN (${QueryDocs.mkString(", ")})")},
      |${Similarity.imiCellsCteSql},
      |${Similarity.quantCteSql},
      |sp AS (SELECT query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_x1000 DESC, doc_id ASC) AS srnk
      |  FROM sc WHERE doc_id <> query_id QUALIFY srnk <= 10),
      |dqc AS (SELECT vec_id AS query_id, cell AS qcell FROM cells
      |  WHERE vec_id IN (${QueryDocs.mkString(", ")})),
      |dn AS (SELECT query_id, doc_id, drnk FROM (
      |  SELECT qc.query_id, cells.vec_id AS doc_id,
      |    row_number() OVER (PARTITION BY qc.query_id
      |      ORDER BY $cosq DESC, cells.vec_id ASC) AS drnk
      |  FROM cells
      |  JOIN dqc qc ON cells.cell = qc.qcell AND cells.vec_id <> qc.query_id
      |  JOIN qv cv2 ON cv2.vec_id = cells.vec_id
      |  JOIN qv qv2 ON qv2.vec_id = qc.query_id) t WHERE drnk <= 10),
      |fu AS (SELECT query_id, doc_id,
      |    CAST(coalesce(1000000 // (60 + srnk), 0)
      |       + coalesce(1000000 // (60 + drnk), 0) AS BIGINT) AS rrf_x1m
      |  FROM sp FULL JOIN dn USING (query_id, doc_id))
      |SELECT query_id, doc_id, rrf_x1m,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY rrf_x1m DESC, doc_id ASC) AS rnk
      |FROM fu QUALIFY rnk <= 10""".stripMargin
  }

  /** The BM25-decontamination CTE chain with a name prefix, so other
    * oracles (pipeline_curate_full) can splice it in without CTE-name
    * collisions. Yields `${p}pd(doc_id, ms)` — per corpus doc, max
    * BM25 score over any eval query. */
  private[graft] def decontamBm25Ctes(p: String): String =
    s"""${p}cw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE doc_id % 97 != 0),
      |${p}t AS (SELECT doc_id, substr(md5(array_to_string(ws[i:i+${GramK - 1}], ' ')), 1, 16) AS g
      |      FROM ${p}cw, unnest(range(1, len(ws) - $GramK + 2)) u(i) WHERE len(ws) >= $GramK),
      |${p}p AS (SELECT g, doc_id, count(*) AS tf FROM ${p}t GROUP BY g, doc_id),
      |${p}dl AS (SELECT doc_id, count(*) AS dl FROM ${p}t GROUP BY doc_id),
      |${p}tot AS (SELECT count(*) FILTER (len(ws) >= $GramK) AS n_docs,
      |        CAST(sum(CASE WHEN len(ws) >= $GramK THEN len(ws) - ${GramK - 1} ELSE 0 END) AS BIGINT) AS t_grams
      |        FROM ${p}cw),
      |${p}ew AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE doc_id % 97 = 0),
      |${p}q AS (SELECT DISTINCT doc_id AS query_id,
      |        substr(md5(array_to_string(ws[i:i+${GramK - 1}], ' ')), 1, 16) AS g
      |      FROM ${p}ew, unnest(range(1, len(ws) - $GramK + 2)) u(i) WHERE len(ws) >= $GramK),
      |${p}dfq AS (SELECT g, count(*) AS df FROM ${p}p
      |      WHERE g IN (SELECT g FROM ${p}q) GROUP BY g),
      |${p}wt AS (SELECT qq.query_id, pp.doc_id,
      |       CAST(floor(log2(n_docs // df)) AS BIGINT) *
      |       ((2200000 * tf) // (1000 * tf + 300 +
      |         (9 * ((1000 * dd.dl * n_docs) // t_grams)) // 10)) AS w_x1000
      |       FROM ${p}p pp JOIN ${p}q qq USING (g) JOIN ${p}dfq USING (g)
      |            JOIN ${p}dl dd ON pp.doc_id = dd.doc_id, ${p}tot),
      |${p}sc AS (SELECT query_id, doc_id, CAST(sum(w_x1000) AS BIGINT) AS s
      |       FROM ${p}wt GROUP BY query_id, doc_id),
      |${p}pd AS (SELECT doc_id, max(s) AS ms FROM ${p}sc GROUP BY doc_id)""".stripMargin

  private val decontamBm25OracleSql: String =
    s"""WITH ${decontamBm25Ctes("")}
      |SELECT c.doc_id, c.source,
      |  coalesce(pd.ms, 0) AS max_score_x1000,
      |  coalesce(pd.ms, 0) >= $DecontamThr AS contaminated
      |FROM documents c LEFT JOIN pd USING (doc_id)
      |WHERE c.doc_id % 97 != 0""".stripMargin

  private val nbOracleSql: String = {
    val langs = Langs
    val b = langs.map(l => s"max(CASE WHEN lang = '$l' THEN bits END) AS b_$l").mkString(",\n|  ")
    val dd = langs.map(l => s"CAST(floor(log2(max(CASE WHEN lang = '$l' THEN ct END))) + 1 AS BIGINT) AS d_$l").mkString(",\n|  ")
    val c = langs.map(l => s"CAST(sum(coalesce(b_$l, d_$l)) AS BIGINT) AS c_$l").mkString(",\n|  ")
    val whens = langs.init.zipWithIndex.map { case (l, i) =>
      "WHEN " + langs.drop(i + 1).map(o => s"c_$l <= c_$o").mkString(" AND ") + s" THEN '$l'"
    }.mkString(" ")
    s"""WITH tr AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents WHERE doc_id % 10 != 0),
      |cnt AS (SELECT lang, tok, count(*) AS n FROM tr GROUP BY lang, tok),
      |ct AS (SELECT lang, count(*) AS ct FROM tr GROUP BY lang),
      |m AS (SELECT tok, lang, CAST(floor(log2(ct // n)) AS BIGINT) AS bits
      |  FROM cnt JOIN ct USING (lang)),
      |wide AS (SELECT tok,
      |  $b
      |  FROM m GROUP BY tok),
      |defs AS (SELECT
      |  $dd
      |  FROM ct),
      |te AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents WHERE doc_id % 10 = 0),
      |c AS (SELECT doc_id, te.lang,
      |  $c
      |  FROM te LEFT JOIN wide USING (tok), defs GROUP BY doc_id, te.lang)
      |SELECT doc_id, lang, nb_pred, nb_pred = lang AS is_match FROM (
      |  SELECT doc_id, lang, CASE $whens ELSE '${langs.last}' END AS nb_pred
      |  FROM c) x""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "text_bm25_topk" -> bm25OracleSql,
    "text_bm25_bucketed" -> bm25OracleSql,
    "pipeline_decontaminate_bm25" -> decontamBm25OracleSql,
    "stream_bm25_serve" -> bm25OracleSqlFor("doc_id < 9",
      ",\n  CAST(query_id % 3 AS INT) AS sub_batch"),
    // maintenance must not change what the index answers: serving the
    // maintained state equals the one-shot batch build over the full
    // corpus — text_bm25_topk's oracle verbatim
    "stream_bm25_maintain" -> bm25OracleSql,
    "sim_hybrid_rrf" -> hybridOracleSql,
    "sim_hybrid_rrf_ann" -> hybridAnnOracleSql,
    "text_classify_nb" -> nbOracleSql
  )
}

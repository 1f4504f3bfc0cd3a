package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Tables._

/** Similarity search over embedding columns (SURVEY.md §2j sim_topk):
  * brute-force cosine top-k as the exact baseline, plus two
  * sub-linear scale paths — random-hyperplane LSH bucketing
  * (Charikar, STOC 2002) and an IVF (inverted-file) coarse quantizer
  * (Jégou, Douze & Schmid, "Product quantization for nearest neighbor
  * search", TPAMI 2011 — the coarse-quantizer half, without PQ codes).
  *
  * Scale design:
  *  - The query side is tiny and broadcast; the corpus side never
  *    shuffles for the brute-force scan (map-side dot products +
  *    TakeOrderedAndProject-style per-query top-k).
  *  - LSH/IVF turn the cross product into an equi-join on
  *    bucket/cell id — the corpus is hash-partitioned by cell, each
  *    query probes one cell.
  *  - Dot products are explicit left-to-right double folds
  *    (`zip_with` + `aggregate`): deterministic, engine-portable, and
  *    at 100 TB immune to partitioning-dependent float reordering.
  */
object Similarity {

  /** Deterministic left-fold cosine of two (normalized) float
    * vectors — the native codegen expression (functions/
    * DotProductExpr.scala). Bit-equal to the portable HOF form below;
    * higher-order-function lambdas run INTERPRETED in Spark, which
    * made this fold the hot-loop tax of every ANN scan. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotF32.dotF32(a, b)

  /** Portable higher-order-function form of the same fold (what the
    * DuckDB oracle mirrors; SimilaritySpec asserts bit-equality with
    * the native expression). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  /** Collect row field `i` as a float array, failing loudly on NULL
    * elements (getSeq[Float] would silently unbox null to 0.0f). */
  private[graft] def collectVector(r: org.apache.spark.sql.Row, i: Int): Array[Float] = {
    val raw = r.getSeq[Any](i)
    require(raw.forall(_ != null),
      s"embedding vector in row $r has NULL elements")
    raw.map(_.asInstanceOf[Float]).toArray
  }

  private[graft] def queryVectors(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))

  // ---- the shared probe kernels --------------------------------------
  // Every query form below is a route (LSH bucket, IVF/IMI cell, PQ
  // cell, or none = the exact scan) × a score (float cosine, int8
  // cosQ, ADC) × a top-k shape (rank window, or bounded heap + window).
  // A form builds its corpus and query sides and names its route and
  // score; probeJoin/probeTopK/topK or heapTopK do the rest, and
  // int8Queries/int8Rows build every int8 side.

  /** The broadcast probe: each (tiny) query row meets the corpus rows
    * whose `key._1` equals its `key._2` (`None`: every corpus row —
    * the exact scan). `excludeSelf` is the CORPUS-QUERY convention
    * (query ids ARE corpus vec_ids, so a vector must not match
    * itself). An AD-HOC query batch must pass false: its query_id
    * namespace is the caller's, and a collision with a corpus vec_id
    * would silently drop that vector from the candidate set (r15
    * ADVICE; ServeSessionSpec pins the colliding-id case). */
  private[graft] def probeJoin(corpus: DataFrame, queries: DataFrame,
      key: Option[(String, String)], excludeSelf: Boolean = true): DataFrame = {
    val on = key.map { case (ck, qk) => col(ck) === col(qk) }
    val self = Option.when(excludeSelf)(col("vec_id") =!= col("query_id"))
    corpus.join(broadcast(queries), (on ++ self).reduce(_ && _))
  }

  /** Each query's top `k` rows of `scored` by (`scoreName` desc, `id`
    * asc) — a total order, so ties on the score break identically in
    * every form and in the oracles' windows. */
  private[graft] def topK(scored: DataFrame, scoreName: String, k: Int,
      rank: String = "rnk", id: String = "vec_id"): DataFrame =
    scored.withColumn(rank, row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col(scoreName).desc, col(id).asc)))
      .filter(col(rank) <= k)

  /** Cell-probe top-k: probe on `corpusKey === queryKey`, project
    * (query_id, vec_id, <corpusKey>, score AS scoreName), keep each
    * query's top `k`. */
  private[graft] def probeTopK(corpus: DataFrame, queries: DataFrame,
      corpusKey: String, queryKey: String, score: Column, scoreName: String,
      k: Int, excludeSelf: Boolean = true): DataFrame =
    topK(probeJoin(corpus, queries, Some(corpusKey -> queryKey), excludeSelf)
      .select(col("query_id"), col("vec_id"), col(corpusKey), score.as(scoreName)),
      scoreName, k)

  /** Bounded-heap top-k — the same relation as `topK`, a different
    * physical shape for scans whose candidate set is far larger than
    * k·queries: each task keeps at most k rows per query in a heap
    * (mapPartitions — no shuffle), so only k·partitions·queries rows
    * reach the final rank window instead of a candidate-sized shuffle
    * into #queries reducers. `T` is the row tuple of `scored`, whose
    * columns are (query_id, vec_id, …, score). The heap orders on the
    * window's total order (score desc, vec_id asc), so heap and window
    * agree on every row including ties. */
  private[graft] def heapTopK[T <: Product : scala.reflect.runtime.universe.TypeTag](
      scored: DataFrame, k: Int, scoreCol: String): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[T] =
      org.apache.spark.sql.Encoders.product[T]
    def qid(t: T): Long = t.productElement(0).asInstanceOf[Long]
    // worst-first: the heap head is the row that falls out
    val worstFirst: Ordering[T] = Ordering.by[T, (Double, Long)](t =>
      (t.productElement(t.productArity - 1).asInstanceOf[Double],
        t.productElement(1).asInstanceOf[Long]))(
      Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long))
    val partial = scored.as[T].mapPartitions { it =>
      val heaps = scala.collection.mutable.Map
        .empty[Long, scala.collection.mutable.PriorityQueue[T]]
      it.foreach { t =>
        val h = heaps.getOrElseUpdate(qid(t),
          scala.collection.mutable.PriorityQueue.empty(worstFirst))
        if (h.size < k) h.enqueue(t)
        else if (worstFirst.gt(h.head, t)) { h.dequeue(); h.enqueue(t) }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }.toDF(scored.columns.toSeq: _*)
    topK(partial, scoreCol, k)
  }

  /** The int8 query side (query_id, [qcell], q_scale, qq) of a
    * (query_id, embedding) batch, routed by `cellOf` when given. The
    * quantizer is bound ONCE: two quantizeCols calls would build the
    * expression twice and lean on codegen subexpression elimination
    * to dodge double per-row work (r15 VERDICT minor 4a). */
  private[graft] def int8Queries(qset: DataFrame,
      cellOf: Option[Column => Column] = None): DataFrame = {
    val (qScale, qq) = quantizeCols(col("embedding"))
    qset.select(Seq(col("query_id")) ++ cellOf.map(_(col("embedding")).as("qcell")) ++
      Seq(qScale.as("q_scale"), qq.as("qq")): _*)
  }

  /** The int8 corpus side (vec_id, cell, c_scale, cq) — the index row
    * shape every int8 serve path reads, computed on the fly. */
  private[graft] def int8Rows(e: DataFrame, cellOf: Column => Column): DataFrame = {
    val (sc, q) = quantizeCols(col("embedding"))
    e.select(col("vec_id"), cellOf(col("embedding")).as("cell"),
      sc.as("c_scale"), q.as("cq"))
  }

  /** The corpus-id query batch (query_id, embedding): vectors below
    * `bound` — query ids ARE corpus vec_ids, so probes self-exclude. */
  private[graft] def queryBatch(e: DataFrame, bound: Int = 3): DataFrame =
    e.filter(col("vec_id") < bound).select(col("vec_id").as("query_id"), col("embedding"))

  /** Exact-dot cosine rounded to 4 places — the float score of every
    * form (the DuckDB oracles' `round(dot, 4)`). */
  private def cos4(q: Column, v: Column): Column = round(dot(q, v), 4)

  /** Coarse-quantizer sizing. What matters for scale is bounded CELL
    * population, not just a bounded broadcast: the SemDeDup verify
    * self-join does O(cell²) work per cell and an IVF probe scans one
    * cell, so k must GROW with the corpus — k = ⌈n / TargetCellSize⌉
    * keeps the average cell at TargetCellSize vectors regardless of n.
    * `MinCentroidK` floors tiny corpora; `MaxCentroidK` caps the
    * driver-collected set (64 MB of float32 at dim 64 — past that a
    * deployment accepts larger cells or shards the centroid set).
    * The md5-order seed sample is refined by `LloydRounds`
    * deterministic Lloyd iterations (`refineCentroids`) — both halves
    * mirrored exactly by the DuckDB oracle CTEs. */
  val MinCentroidK = 16
  val TargetCellSize = 64L
  val MaxCentroidK = 65536

  /** k for a corpus of n vectors: ⌈n/TargetCellSize⌉ clamped to
    * [MinCentroidK, MaxCentroidK]. */
  def centroidK(n: Long): Int =
    math.min(math.max(MinCentroidK.toLong,
      (n + TargetCellSize - 1) / TargetCellSize), MaxCentroidK.toLong).toInt

  /** Deterministic centroid SEED: the k corpus vectors with the
    * smallest md5(vec_id) — a pseudo-random sample the DuckDB oracle
    * mirrors exactly. One O(n) scan with per-partition top-k
    * (TakeOrderedAndProject): k rows reach the driver, never the
    * corpus. */
  def centroids(e: DataFrame, k: Int): DataFrame =
    e.orderBy(md5(col("vec_id").cast(StringType)), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c"))

  /** Lloyd refinement rounds run on the seed (r4 VERDICT item 6):
    * fixed count, fully deterministic, oracle-mirrored. */
  val LloydRounds = 2

  /** Lloyd TRAINING sample size multiplier: refinement rounds assign
    * only the m = min(n, SampleFactor·k) md5-smallest vectors (the
    * seed's own deterministic order, extended). Training over the
    * full corpus is O(rounds·n·k) with k ∝ n — the quadratic term the
    * sf5 bench exposed; the sampled form is O(rounds·k²·factor), and
    * the one unavoidable full-corpus O(n·k) pass left is the FINAL
    * cell assignment, inherent to IVF itself. ~8 training vectors
    * per centroid is the standard quantizer-training budget shape. */
  val SampleFactor = 8

  /** `rounds` deterministic Lloyd iterations over the corpus: assign
    * every vector to its max-cosine centroid (the same round-4 +
    * smallest-id argmax as the final assignment), then replace each
    * centroid with its cell's member mean. Determinism — and thus
    * DuckDB-mirrorability — holds because the mean is a left-to-right
    * DOUBLE fold over members in vec_id order (the dot-product parity
    * trick: in-order double sums are bit-equal across engines, unlike
    * partitioning-dependent float reductions), divided in double and
    * cast to float (IEEE round-to-nearest-even in both engines).
    * Empty cells keep their previous centroid; centroid ids never
    * change. Per round: one corpus scan + one k-row collect —
    * once-per-corpus quantizer training, not per-query work. */
  def refineCentroids(e: DataFrame, seed: Array[(Long, Array[Float])],
      rounds: Int = LloydRounds): Array[(Long, Array[Float])] = {
    var cur = seed
    val dim = seed.head._2.length
    (1 to rounds).foreach { _ =>
      val assigned = e.select(
        graft.functions.NearestCentroid.nearest(col("embedding"), cur).as("cell"),
        col("vec_id"), col("embedding"))
      val means = assigned.groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding")))).as("ms"))
        .select(col("cell"), expr(
          s"""transform(sequence(0, ${dim - 1}), j ->
             |  CAST(aggregate(ms, CAST(0.0 AS DOUBLE),
             |    (acc, m) -> acc + CAST(m.embedding[j] AS DOUBLE)) / size(ms) AS FLOAT))"""
            .stripMargin).as("nc"))
        .collect().map(r => r.getLong(0) -> collectVector(r, 1)).toMap
      cur = cur.map { case (id, v) => (id, means.getOrElse(id, v)) }
    }
    cur
  }

  /** Seed + refine over a given corpus (un-memoized; tests). The
    * refinement rounds see only the md5-order training sample; the
    * seed is that sample's own k-prefix. */
  def collectCentroidsOf(e: DataFrame): Array[(Long, Array[Float])] = {
    val n = e.count()
    val k = centroidK(n)
    val m = math.min(n, SampleFactor.toLong * k).toInt
    val samp = e
      .orderBy(md5(col("vec_id").cast(StringType)), col("vec_id"))
      .limit(m)
    val seed = centroids(e, k).collect().map(r => (r.getLong(0), collectVector(r, 1)))
    refineCentroids(samp, seed)
  }

  // The refined centroid set is a pure function of the corpus, and
  // training it costs (LloydRounds + 1) corpus scans — memoize per
  // (session, dataset) so sim_ivf / sim_ivf_nprobe / dedup_embed_cosine
  // in one run train the quantizer ONCE (r4 VERDICT item 5: each used
  // to redo the count + seed scan, and refinement would have tripled
  // that). Values are ≤ k·dim floats (≤16 MB at the MaxCentroidK cap).
  private[graft] val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Array[(Long, Array[Float])]]()

  /** The memoized, refined centroid set for dataset `d`. */
  def collectCentroids(s: SparkSession, d: String): Array[(Long, Array[Float])] =
    centroidCache.computeIfAbsent((s, d), _ => collectCentroidsOf(embeddings(s, d)))

  private[graft] val dotSql =
    "list_sum(list_transform(range(1, 65), i -> CAST(%s[i] AS DOUBLE) * CAST(%s[i] AS DOUBLE)))"

  /** One Lloyd round as DuckDB CTEs: assignment rank vs `prev`, ordered
    * member lists, in-order double-fold means (empty cells keep the
    * previous centroid) — the exact mirror of `refineCentroids`. */
  private def lloydRoundSql(prev: String, i: Int): String =
    s"""a$i AS MATERIALIZED (SELECT vec_id, embedding, cent_id AS cell FROM (
      |  SELECT e.vec_id, e.embedding, $prev.cent_id,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(${dotSql.format("e.embedding", s"$prev.cv")}, 4) DESC,
      |        $prev.cent_id ASC) AS arnk
      |  FROM samp e, $prev) t WHERE arnk = 1),
      |m$i AS MATERIALIZED (SELECT cell, list(embedding ORDER BY vec_id) AS ms FROM a$i GROUP BY cell),
      |c$i AS MATERIALIZED (SELECT $prev.cent_id,
      |  CASE WHEN m$i.cell IS NULL THEN $prev.cv
      |    ELSE [CAST(list_sum(list_transform(ms, v -> CAST(v[j] AS DOUBLE))) / len(ms) AS FLOAT)
      |          FOR j IN range(1, 65)]
      |  END AS cv
      |  FROM $prev LEFT JOIN m$i ON $prev.cent_id = m$i.cell)""".stripMargin

  /** Shared DuckDB CTEs mirroring collectCentroids: dynamic k from
    * count(*), md5-order seed, md5-order training sample
    * (m = min(n, SampleFactor·k)), then LloydRounds refinement rounds
    * over the sample. Yields `c(cent_id, cv)`. */
  /** The centroid-training CTE chain with the TRAINING corpus as a
    * predicate parameter: the frozen-quantizer maintenance oracle
    * trains on the standing base only (`trainPred` excludes
    * arrivals), everything else trains on the full corpus (TRUE).
    * Assignment CTEs downstream read all of `embeddings` either
    * way — a quantizer is trained once and applied to everything. */
  def centroidCteSqlFor(trainPred: String): String =
    s"""kk AS MATERIALIZED (SELECT n, least(greatest($MinCentroidK,
      |    CAST(ceil(n / $TargetCellSize.0) AS BIGINT)), $MaxCentroidK) AS k
      |  FROM (SELECT count(*) AS n FROM embeddings WHERE $trainPred)),
      |rk AS MATERIALIZED (SELECT vec_id, embedding,
      |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rnk
      |  FROM embeddings WHERE $trainPred),
      |samp AS MATERIALIZED (SELECT vec_id, embedding FROM rk, kk
      |  WHERE rk.rnk <= least(kk.n, $SampleFactor * kk.k)),
      |c0 AS MATERIALIZED (SELECT vec_id AS cent_id, embedding AS cv FROM rk, kk
      |  WHERE rk.rnk <= kk.k),
      |${(1 to LloydRounds).map(i => lloydRoundSql(s"c${i - 1}", i)).mkString(",\n")},
      |c AS MATERIALIZED (SELECT cent_id, cv FROM c$LloydRounds)""".stripMargin

  val centroidCteSql: String = centroidCteSqlFor("TRUE")

  /** Shared DuckDB CTEs mirroring the two-level (IMI) assignment
    * (twoLevelIndexOf + imiCellOf): S = ⌈√k⌉ md5-smallest centroids
    * become supers (sid re-indexed in cent_id order), every centroid
    * maps to its max-round4-dot super, every vector routes to its
    * TOP-2 supers (beam-2, r9) and takes the global argmax over the
    * union of their children (`cent_id ASC` in the window = the
    * expression's global smallest-id tie-break). Builds on
    * `centroidCteSql` and yields `cells(vec_id, label, embedding,
    * cell)` — shared by the sim_ivf_imi / sim_ivf_int8 /
    * dedup_embed_cosine / ann_recall oracles — plus
    * `cellsr(..., arnk)` keeping assignment ranks 1..2 (the corpus
    * side of the multi-assignment oracle, sim_ivf_imi_ma). */
  def imiCellsCteSqlFor(trainPred: String): String =
    s"""${centroidCteSqlFor(trainPred)},
      |sn AS MATERIALIZED (SELECT CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT) AS sc FROM kk),
      |srnk AS MATERIALIZED (SELECT cent_id, cv,
      |    row_number() OVER (ORDER BY md5(CAST(cent_id AS VARCHAR)), cent_id) AS mrnk
      |  FROM c),
      |sup AS MATERIALIZED (SELECT cent_id, cv AS sv,
      |    row_number() OVER (ORDER BY cent_id) - 1 AS sid
      |  FROM srnk, sn WHERE mrnk <= sc),
      |par AS MATERIALIZED (SELECT cent_id, cv, sid AS parent FROM (
      |  SELECT c.cent_id, c.cv, sup.sid,
      |    row_number() OVER (PARTITION BY c.cent_id
      |      ORDER BY round(${dotSql.format("c.cv", "sup.sv")}, 4) DESC, sup.sid ASC) AS prnk
      |  FROM c, sup) t WHERE prnk = 1),
      |vsup AS MATERIALIZED (SELECT vec_id, label, embedding, sid AS vparent FROM (
      |  SELECT e.vec_id, e.label, e.embedding, sup.sid,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(${dotSql.format("e.embedding", "sup.sv")}, 4) DESC, sup.sid ASC) AS srk
      |  FROM embeddings e, sup) t WHERE srk <= 2),
      |cellsr AS MATERIALIZED (SELECT vec_id, label, embedding, cent_id AS cell, arnk FROM (
      |  SELECT v.vec_id, v.label, v.embedding, p.cent_id,
      |    row_number() OVER (PARTITION BY v.vec_id
      |      ORDER BY round(${dotSql.format("v.embedding", "p.cv")}, 4) DESC, p.cent_id ASC) AS arnk
      |  FROM vsup v JOIN par p ON p.parent = v.vparent) t WHERE arnk <= 2),
      |cells AS MATERIALIZED (SELECT vec_id, label, embedding, cell FROM cellsr WHERE arnk = 1)""".stripMargin

  val imiCellsCteSql: String = imiCellsCteSqlFor("TRUE")

  /** Exact brute-force top-10 cosine neighbors for each of 3 query
    * vectors: broadcast queries × corpus scan, then TWO-LEVEL top-k.
    * Each scan task keeps at most k rows per query in a bounded heap
    * (mapPartitions — no shuffle), so only k·partitions·queries rows
    * reach the final per-query rank window. The corpus-sized shuffle
    * into #queries reducers that a direct window would cost is gone;
    * at 100 TB the heavy stage is embarrassingly parallel and the
    * merge input is KB-sized. Ties broken by vec_id, identical to the
    * single-window form. */
  def simTopk(s: SparkSession, d: String): DataFrame =
    simTopkFor(s, d, queryVectors(s, d))

  /** The exact top-k against an arbitrary (query_id, q) vector set —
    * the same two-level bounded-heap shape; Retrieval's hybrid
    * fusion reuses it for its own query ids. */
  private[graft] def simTopkFor(s: SparkSession, d: String,
      qs: DataFrame): DataFrame =
    heapTopK[(Long, Long, Double)](
      probeJoin(embeddings(s, d), qs, None)
        .select(col("query_id"), col("vec_id"), cos4(col("q"), col("embedding")).as("cos_r")),
      10, "cos_r")

  /** Random-hyperplane LSH: 8 data-derived hyperplanes (vectors
    * 100..107) → 8 sign bits → bucket id; queries search only their
    * bucket. Approximate: recall < 1, cost ~ corpus/2⁸ per query.
    *
    * The planes are collected to the driver (8 × 64 floats — tiny,
    * deterministic) and inlined as ARRAY<FLOAT> literals, so the
    * bucket id is a NARROW per-row expression: 8 codegen'd dot-product
    * sign bits summed in one projection. The corpus never shuffles,
    * never aggregates, and never inflates 8× to get bucketed
    * (PlanAudit asserts ABSENT:HashAggregate) — at 100 TB the bucket
    * stage is a pure map over the scan. */
  /** The 8 data-derived hyperplanes (vectors 100..107), collected and
    * validated — shared by both LSH variants. */
  private[graft] def collectPlanes(e: DataFrame): Array[(Long, Array[Float])] = {
    val planes = e
      .filter(col("vec_id") >= 100 && col("vec_id") < 108)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), collectVector(r, 1)))
      .sortBy(_._1)
    // fail loudly: a missing plane would throw on reduce (or silently
    // shrink the bucket space); a NULL element would quietly unbox to
    // 0.0f and diverge from the expression/oracle NULL semantics
    require(planes.length == 8,
      s"LSH needs the 8 plane vectors 100..107; found ${planes.length}")
    planes
  }

  /** Sign-bit bucket id over the inlined planes — one narrow codegen'd
    * projection per row. */
  private[graft] def bucketOf(planes: Array[(Long, Array[Float])])(vecCol: Column): Column =
    planes.map { case (planeId, p) =>
      when(dot(vecCol, typedlit(p)) >= 0,
        lit(1L << (planeId - 100).toInt)).otherwise(lit(0L))
    }.reduce(_ + _)

  def simAnnLsh(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val bucket = bucketOf(collectPlanes(e)) _
    val corpusB = e.withColumn("bucket", bucket(col("embedding")))
    val queriesB = queryVectors(s, d).withColumnRenamed("q", "qv")
      .withColumn("qbucket", bucket(col("qv")))
    probeTopK(corpusB, queriesB, "bucket", "qbucket",
      cos4(col("qv"), col("embedding")), "cos_r", 5)
  }

  /** IVF coarse quantizer: a dynamic-k deterministic centroid sample
    * (k = ⌈n/TargetCellSize⌉ — cells stay bounded as the corpus
    * grows, so a probe costs O(TargetCellSize), sublinear in n); cell
    * assignment is the collected-centroid `nearest_centroid`
    * expression — a NARROW per-row projection over the scan, zero
    * shuffle (the sim_ann_lsh inlined-planes pattern); a query probes
    * only its own cell (nprobe=1) via a broadcast equi-join. */
  def simIvf(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cents = collectCentroids(s, d)
    def cellOf(vecCol: Column): Column =
      graft.functions.NearestCentroid.nearest(vecCol, cents)
    val cells = e.select(col("vec_id"),
      cellOf(col("embedding")).as("cell"), col("embedding"))
    val qcells = queryVectors(s, d).withColumnRenamed("q", "qv")
      .select(col("query_id"), cellOf(col("qv")).as("qcell"), col("qv"))
    probeTopK(cells, qcells, "cell", "qcell", cos4(col("qv"), col("embedding")), "cos_r", 5)
  }

  /** Multi-probe hyperplane LSH: each query searches its own bucket
    * plus the 8 buckets at Hamming distance 1 (one sign bit flipped) —
    * the standard multi-probe recall knob (Lv et al., "Multi-probe
    * LSH", VLDB 2007): near neighbors that land across one hyperplane
    * boundary are recovered at 9× probe cost instead of a second
    * hash table. The probe expansion is QUERY-side only (explode of a
    * 9-element array over #queries rows, broadcast); the corpus keeps
    * the identical narrow bucket projection as simAnnLsh — zero
    * shuffle, zero aggregation. A vector lives in one bucket and the
    * 9 probe buckets are distinct, so no candidate duplicates. */
  def simAnnLshMultiprobe(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val bucket = bucketOf(collectPlanes(e)) _
    val corpusB = e.withColumn("bucket", bucket(col("embedding")))
    val probes = queryVectors(s, d).withColumnRenamed("q", "qv")
      .withColumn("qbucket", bucket(col("qv")))
      .withColumn("probe_bucket", explode(array(
        col("qbucket") +: (0 until 8).map(i => expr(s"qbucket ^ ${1L << i}")): _*)))
    probeTopK(corpusB, probes, "bucket", "probe_bucket",
      cos4(col("qv"), col("embedding")), "cos_r", 5)
  }

  /** IVF with multi-probe (nprobe=2): each query searches its 2
    * nearest cells instead of 1 — the standard IVF recall knob (probe
    * cost is nprobe·TargetCellSize, still sublinear in n). The probe
    * ranking is QUERY-side work only: #queries × k rows through a tiny
    * broadcast cross-join + rank window; the corpus side is identical
    * to simIvf — a zero-shuffle `nearest_centroid` projection joined
    * once on cell id. A vector lives in exactly one cell, so probing
    * two cells never duplicates a candidate. */
  def simIvfNprobe(s: SparkSession, d: String, nprobe: Int = 2): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val cents = collectCentroids(s, d)
    val cells = e.select(col("vec_id"),
      graft.functions.NearestCentroid.nearest(col("embedding"), cents).as("cell"),
      col("embedding"))
    // probe ranking reuses the collected set — a local relation, not
    // another corpus orderBy+limit scan
    val centDf = cents.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("cent_id", "cv")
    val qprobes = topK(queryVectors(s, d).withColumnRenamed("q", "qv")
        .crossJoin(broadcast(centDf))
        .select(col("query_id"), col("qv"), col("cent_id"),
          cos4(col("qv"), col("cv")).as("pcos")),
        "pcos", nprobe, "probe_rank", "cent_id")
      .select(col("query_id"), col("qv"), col("cent_id").as("qcell"))
    probeTopK(cells, qprobes, "cell", "qcell", cos4(col("qv"), col("embedding")), "cos_r", 5)
  }

  /** Lowercase-hex MD5 — the driver-side twin of Spark/DuckDB `md5()`
    * (ASCII hex compares identically as a string in all three). */
  private def md5hex(str: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(str.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** Strict left-to-right float→double dot + Spark round(x,4) — the
    * driver-side twin of the NearestCentroid expression semantics. */
  private[graft] def dotRound4(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var j = 0
    while (j < a.length) { acc += a(j).toDouble * b(j).toDouble; j += 1 }
    java.math.BigDecimal.valueOf(acc)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** Two-level quantizer index over a refined centroid set: the
    * ⌈√k⌉ md5-smallest centroids become SUPER-centroids (re-indexed
    * 0..S-1 in cent_id order — the same deterministic pseudo-random
    * sampler as the centroid seed itself), and every centroid is
    * assigned to its max-round4-dot super (ties → smallest sid; same
    * argmax rule as the expressions, so the DuckDB oracle mirrors it
    * with one more windowed argmax over the parent map). Driver-side
    * cost is k·S dots — ~1e8 flops at the MaxCentroidK cap, amortized
    * across queries by the memo below. */
  private[graft] def twoLevelIndexOf(cents: Array[(Long, Array[Float])])
      : (Array[(Long, Array[Float])], Array[Array[(Long, Array[Float])]]) = {
    val sorted = cents.sortBy(_._1)
    val sCount = math.max(1, math.ceil(math.sqrt(sorted.length.toDouble)).toInt)
    val supers = sorted
      .sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(sCount).sortBy(_._1)
    val groups = Array.fill(sCount)(Array.newBuilder[(Long, Array[Float])])
    sorted.foreach { case (id, cv) =>
      var best = 0.0; var bestS = 0; var first = true
      var si = 0
      while (si < supers.length) {
        val r = dotRound4(cv, supers(si)._2)
        if (first || r > best) { best = r; bestS = si; first = false }
        si += 1
      }
      groups(bestS) += ((id, cv))
    }
    (supers.zipWithIndex.map { case ((_, sv), i) => (i.toLong, sv) },
      groups.map(_.result()))
  }

  private[graft] val twoLevelCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String),
    (Array[(Long, Array[Float])], Array[Array[(Long, Array[Float])]])]()

  /** Memoized two-level index for dataset `d` (built on the memoized
    * refined centroids). */
  def twoLevelIndex(s: SparkSession, d: String)
      : (Array[(Long, Array[Float])], Array[Array[(Long, Array[Float])]]) =
    twoLevelCache.computeIfAbsent((s, d),
      _ => twoLevelIndexOf(collectCentroids(s, d)))

  /** The two-level (IMI) cell id of `v` for dataset `d` as ONE narrow
    * projection — BEAM-2 since round 9: rank the supers, take the
    * top-2, argmax over the union of their children (one native
    * codegen expression, zero shuffle). Beam-1 mis-assigned any vector
    * whose true cell hangs under the runner-up super — measured as
    * recall@10 0.83 vs flat assignment's 0.97 on the planted clustered
    * corpus; beam-2 recovers most of that at O(3√k·d) per row, still
    * ~25× under flat O(k·d) at sf5's k. Shared by simIvfImi /
    * simIvfInt8 / the persisted index and Dedup.dedupEmbedCosine. */
  def imiCellOf(s: SparkSession, d: String)(v: Column): Column = {
    val (supers, groups) = twoLevelIndex(s, d)
    graft.functions.ImiCell2.cell(v, supers, groups)
  }

  /** The beam-1 ablation form (super argmax → in-group argmax): kept
    * for the measured beam comparison in SimilaritySpec/RECALL. */
  private[graft] def imiCellOfBeam1(s: SparkSession, d: String)(v: Column): Column = {
    val (supers, groups) = twoLevelIndex(s, d)
    graft.functions.NearestCentroidInGroup.nearestIn(v,
      graft.functions.NearestCentroid.nearest(v, supers), groups)
  }

  /** IVF with a TWO-LEVEL coarse quantizer (the inverted-multi-index
    * shape — Babenko & Lempitsky, CVPR 2012): assignment goes
    * super-cell first (S ≈ √k dots), then argmax among that super's
    * children (~k/S dots) — O(2√k·d) per row instead of flat O(k·d).
    * This is the term that dominates sf5: with k = n/TargetCellSize
    * growing with the corpus, flat assignment is O(n·k·d) = O(n²d/64)
    * total (measured 10 s at sf5 vs 1.2 s at sf1 for sim_ivf); the
    * two-level form cuts the per-row factor ~60× at sf5's k=15625 and
    * keeps the whole pipeline's shape intact: both levels are native
    * codegen expressions in ONE narrow projection over the scan —
    * zero shuffle, zero corpus inflation — and the probe is the same
    * broadcast equi-join on cell id. Recall semantics differ from
    * flat IVF only in which cell a vector lands in (both are
    * approximate by design); the oracle mirrors the exact two-level
    * assignment via the parent-map CTEs. */
  def simIvfImi(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cellOf = imiCellOf(s, d) _
    val cells = e.select(col("vec_id"),
      cellOf(col("embedding")).as("cell"), col("embedding"))
    val qcells = queryVectors(s, d).withColumnRenamed("q", "qv")
      .select(col("query_id"), cellOf(col("qv")).as("qcell"), col("qv"))
    probeTopK(cells, qcells, "cell", "qcell", cos4(col("qv"), col("embedding")), "cos_r", 5)
  }

  /** MULTI-ASSIGNMENT IVF-IMI (Jégou et al., RR-7020 §5): every CORPUS
    * vector is indexed under its TOP-2 IMI cells (one native
    * `imi_cells_top2` projection + explode — still zero shuffle), while
    * a query probes only its own top cell, exactly as in `sim_ivf_imi`.
    * A corpus vector sitting near a cell boundary is now reachable from
    * both plausible cells, so recall rises at the SAME query probe
    * budget; the price is a 2× index footprint, not extra probes. At
    * 100 TB this is the right side of the trade for a serve layer: the
    * index inflation is write-once ETL and disk, while probes are
    * per-query bucket reads on the critical path (measured in
    * RECALL_r10.json: ma@np1 vs imi@np1/np2 on the same corpus).
    * No per-(query,vec) dedup is needed: the 2 assigned cells are
    * distinct and a query probes 1 cell, so a pair matches at most
    * once. */
  def simIvfImiMa(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val (supers, groups) = twoLevelIndex(s, d)
    val cells = e.select(col("vec_id"),
      explode(graft.functions.ImiCellsTop2.cells(col("embedding"), supers, groups)).as("cell"),
      col("embedding"))
    val cellOf = imiCellOf(s, d) _
    val qcells = queryVectors(s, d).withColumnRenamed("q", "qv")
      .select(col("query_id"), cellOf(col("qv")).as("qcell"), col("qv"))
    probeTopK(cells, qcells, "cell", "qcell", cos4(col("qv"), col("embedding")), "cos_r", 5)
  }

  /** Per-vector symmetric int8 scalar quantization: scale = 127/max|v|,
    * q_i = ⌊v_i·scale + 0.5⌋ ∈ [-127, 127]. The 100 TB story: int8
    * codes cut the resident corpus 4× (the difference between an ANN
    * index fitting executor memory or spilling), and candidate scoring
    * becomes exact INTEGER dot products — engine-portable with no
    * float-reduction ordering concerns at all. `⌊x+0.5⌋` instead of
    * round() dodges the engines' differing round-half semantics;
    * the scale and codes are pure per-row expressions (no shuffle). */
  def quantizeCols(vec: Column): (Column, Column) = {
    // native one-pass kernel (functions/QuantizeI8Expr.scala): the HOF
    // form below embeds the scale subtree inside the per-element
    // lambda, which interpreted evaluation re-computes per element —
    // O(dim²) per row, measured as ~90% of the quantized-top-k query
    val q = graft.functions.QuantizeI8.quantizeI8(vec)
    (q.getField("scale"), q.getField("codes"))
  }

  /** Portable HOF form of the same quantizer (what the DuckDB oracle
    * mirrors; SimilaritySpec asserts value-equality with the native
    * expression). ByteType codes, not Int: array<tinyint> is what
    * actually delivers the 4x in-memory/storage cut vs array<float>. */
  def quantizeColsHof(vec: Column): (Column, Column) = {
    val mx = array_max(transform(vec, x => abs(x.cast(DoubleType))))
    val scale = when(mx === 0.0, lit(0.0)).otherwise(lit(127.0) / mx)
    val q = transform(vec, x =>
      floor(x.cast(DoubleType) * scale + lit(0.5)).cast(ByteType))
    (scale, q)
  }

  /** Gate query for the quantizer: integer summaries of the codes
    * (array contents are covered by SimilaritySpec; scalar summaries
    * keep the output boundary representation-stable). */
  def embedQuantize(s: SparkSession, d: String): DataFrame = {
    val (scale, q) = quantizeCols(col("embedding"))
    embeddings(s, d)
      .select(col("vec_id"), col("label"), scale.as("sc"), q.as("q"))
      .select(
        col("vec_id"), col("label"),
        floor(col("sc") * 1e6).cast(LongType).as("scale_x1e6"),
        size(col("q")).as("n_dims"),
        aggregate(col("q"), lit(0L), (a, v) => a + v).as("sum_q"),
        array_min(col("q")).as("min_q"),
        array_max(col("q")).as("max_q"),
        aggregate(col("q"), lit(0L), (a, v) => a + abs(v)).as("l1_q"))
  }

  /** Brute-force top-k over the QUANTIZED corpus: integer dot products
    * (exact, no float ordering anywhere in the hot loop), dequantized
    * through the two scales only at ranking. Same broadcast-queries ×
    * corpus-scan shape as simTopk; at 100 TB the scan reads int8
    * codes — a quarter of the float32 bytes — and the per-candidate
    * kernel is integer MACs. */
  /** Dequantized cosine, zero-guarded: an all-zero vector quantizes to
    * scale 0, so qdot/0 would be NaN — which Spark ORDER BY ... DESC
    * sorts FIRST (NaN is the largest double) while DuckDB's 0/0
    * semantics differ, so a zero vector would silently top every
    * ranking and diverge from the oracle. A direction-less vector has
    * no cosine; score it 0.0 (below any positive match), identically
    * in both engines. */
  private[graft] def cosQ(qdot: Column): Column =
    when(col("c_scale") === 0.0 || col("q_scale") === 0.0, lit(0.0))
      .otherwise(round(qdot.cast(DoubleType) / (col("c_scale") * col("q_scale")), 4))

  def simTopkInt8(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val (qsc, qq) = quantizeCols(col("embedding"))
    val corpus = e.select(col("vec_id"), qsc.as("c_scale"), qq.as("cq"))
    val queries = int8Queries(queryBatch(e))
    // native codegen integer dot (functions/DotI8Expr.scala) — the
    // interpreted HOF fold was 3.4x the float path's native kernel
    val qdot = graft.functions.DotI8.dotI8(col("cq"), col("qq"))
    heapTopK[(Long, Long, Long, Double)](probeJoin(corpus, queries, None)
      .select(col("query_id"), col("vec_id"), qdot.as("qdot"), cosQ(qdot).as("cos_q")),
      10, "cos_q")
  }

  /** IVF + int8 — the production ANN layout at 100 TB: the coarse
    * quantizer bounds per-query work to one cell (sublinear in n) and
    * the resident cell data is TINYINT codes + one scale (4× smaller
    * than float32), scored with exact integer dot products. Cell
    * assignment is the TWO-LEVEL (IMI) argmax shared with simIvfImi
    * and dedup_embed_cosine — O(2√k·d) per row, completing the
    * production pair (IMI routing + int8 scoring); it uses the FLOAT
    * vector (quantizing the assignment too would move cell
    * boundaries; the codes exist for the scoring scan, where the
    * bytes dominate). Same query-side-only probe shape as simIvf;
    * corpus side is one narrow projection. */
  def simIvfInt8(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cellOf = imiCellOf(s, d) _
    frozenInt8Serve(int8Rows(e, cellOf), int8Queries(queryBatch(e), Some(cellOf)))
  }

  // ---- product quantization (IVF-PQ) ---------------------------------

  /** PQ geometry: 64 dims = `PqM`=8 subspaces × `PqSub`=8 dims, with
    * `PqK`=16 sub-centroids per sub-codebook — a code is 8 small ints
    * (4 bits of entropy each): ~8 bytes a vector, 16× under float32
    * and 4× under the int8 codes. At 10B vectors that is the
    * difference between a 2.5 TB and a 80 GB serve index. */
  val PqM = 8
  val PqSub = 8
  val PqK = 16

  /** A PQ geometry: m subspaces × sub dims, k codewords each. */
  final case class PqGeom(m: Int, k: Int, sub: Int) {
    require(m * sub == 64, s"PQ geometry $m x $sub must cover 64 dims")
  }

  /** The r10 family: 8 subspaces × 8 dims × 16 codewords = 32 bits. */
  val GeomPq8: PqGeom = PqGeom(PqM, PqK, PqSub)

  /** The r12 FINER geometry at the SAME packed byte budget: 16
    * subspaces × 4 dims × 16 codewords = 64 bits (8 B packed — what
    * the 8-bit-per-code FAISS PQ8x8 layout also costs). The quality
    * lever the r11 verdict asked OPQ to be: measured on this corpus,
    * rotation is a DEAD lever (residuals are near-isotropic — the
    * best-case full-PCA rotation with Ge-2013 eigenvalue allocation
    * cuts quantization MSE by ~2%, random rotation 0%; see
    * SCALING.md), while doubling code entropy via narrower subspaces
    * lifts pure-ADC recall@5 by +0.03..+0.10 across tiers at equal
    * probe budget, max at sf1 np4: 0.666 vs 0.566 (RECALL_r12).
    * Training cost is unchanged (k=16 per subspace,
    * same sample), oracle cost ~2× (2× subspaces, half-length
    * distance folds). */
  val GeomPq16: PqGeom = PqGeom(16, PqK, 4)

  private[graft] val pqCbCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, PqGeom), Array[Array[Double]]]()

  /** Strict left-to-right float→double dot (the pqLut/qcdot fold). */
  private[graft] def dotD(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Per-subspace Lloyd rounds for the PQ sub-codebooks (the
    * centroidCteSql discipline: deterministic seed, deterministic
    * refinement, mirrored 1:1 by the oracle's m-keyed CTE chain). */
  val PqRounds = 2

  /** Trained RESIDUAL sub-codebooks — the Jégou-2011 IVF-PQ recipe.
    * RESIDUAL: inside one probed cell every member sits close to the
    * same centroid, so whole-vector codes cannot separate them — what
    * distinguishes members IS the residual against the cell centroid
    * (computed with the SHIPPED `imiCellOf` expression, so training
    * assignment can never drift from serve assignment), so that is
    * what gets quantized. TRAINED: `PqRounds` deterministic Lloyd
    * rounds per subspace over the residuals of the
    * min(n, SampleFactor·PqK) md5-smallest corpus vectors (seed =
    * that sample's own PqK-prefix) — untrained random seeds leave ADC
    * scores mostly quantization noise (measured: planted recall@10
    * 0.23 seeds-only vs trained; the flat-vs-IMI ablation logic).
    * Everything is driver-bounded (≤128 sample rows, PqM·PqK·PqSub =
    * 1024 doubles of codebook) and every fold is in-order, so the
    * DuckDB mirror is bit-equal. Returns codeword (m, j) at index
    * m·PqK + j. */
  private[graft] def pqCodebook(s: SparkSession, d: String,
      g: PqGeom = GeomPq8): Array[Array[Double]] =
    pqCbCache.computeIfAbsent((s, d, g), _ =>
      pqCodebookOf(embeddings(s, d), collectCentroids(s, d).toMap,
        imiCellOf(s, d) _, g))

  /** The un-memoized trainer behind `pqCodebook`, parameterized on
    * corpus / centroid set / cell assigner so non-dataset corpora
    * (AnnBuildSoak's synthetic 5M-vector tier) train the same way. */
  private[graft] def pqCodebookOf(e: DataFrame,
      centMap: Map[Long, Array[Float]], cellCol: Column => Column,
      g: PqGeom): Array[Array[Double]] = {
      val sampN = math.min(e.count(), (SampleFactor * g.k).toLong).toInt
      val samp = e
        .orderBy(md5(col("vec_id").cast(StringType)), col("vec_id"))
        .limit(sampN)
        .select(col("vec_id"), col("embedding"),
          cellCol(col("embedding")).as("cell"))
        .collect().map { r =>
          val v = collectVector(r, 1); val cv = centMap(r.getLong(2))
          (r.getLong(0), Array.tabulate(64)(i => v(i).toDouble - cv(i).toDouble))
        }
      var cbs = Array.tabulate(g.m, g.k)((m, j) =>
        Array.tabulate(g.sub)(i => samp(j)._2(m * g.sub + i)))
      (1 to PqRounds).foreach { _ =>
        val prev = cbs
        cbs = Array.tabulate(g.m) { m =>
          val members = Array.fill(g.k)(
            scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])])
          samp.foreach { case (vid, rv) =>
            val sv = Array.tabulate(g.sub)(i => rv(m * g.sub + i))
            var best = 0; var bestD = Double.MaxValue
            var j = 0
            while (j < g.k) {
              var dd = 0.0; var i = 0
              while (i < g.sub) {
                val df = sv(i) - prev(m)(j)(i); dd += df * df; i += 1
              }
              if (dd < bestD) { bestD = dd; best = j } // first index on ties
              j += 1
            }
            members(best) += ((vid, sv))
          }
          Array.tabulate(g.k) { j =>
            val ms = members(j).sortBy(_._1) // mean folds in vec_id order
            if (ms.isEmpty) prev(m)(j)
            else Array.tabulate(g.sub)(i =>
              ms.foldLeft(0.0)((a, t) => a + t._2(i)) / ms.length)
          }
        }
      }
      Array.tabulate(g.m * g.k)(x => cbs(x / g.k)(x % g.k))
  }

  /** Residual of a vector against its cell centroid, in DOUBLE —
    * element order preserved for bit-parity with the oracle. */
  private[graft] def residCol(v: Column, cv: Column): Column =
    zip_with(v, cv, (x, c) => x.cast(DoubleType) - c.cast(DoubleType))

  /** PQ encode as a NARROW projection — the native `pq_encode`
    * kernel: per subspace, the argmin-L2 sub-centroid index with a
    * first-index tie-break, codebook shipped as one reference object
    * (zero shuffle, no join to any codebook table — the LSH-planes
    * pattern). Value-equal to `pqCodesHof`, the portable HOF form the
    * DuckDB oracle mirrors (PqSpec asserts bit-equality). */
  private[graft] def pqCodesCol(cb: Array[Array[Double]], g: PqGeom = GeomPq8)(
      v: Column): Column =
    graft.functions.PqEncode.encode(v, cb.flatten, g.m, g.k, g.sub)

  /** The portable HOF reference form of `pqCodesCol` (interpreted
    * lambdas over the inlined flat-codebook literal — kept as the
    * spec's cross-check twin of the oracle SQL). */
  private[graft] def pqCodesHof(cb: Array[Array[Double]], g: PqGeom = GeomPq8)(
      v: Column): Column = {
    val cbLit = typedlit(cb.flatten.toSeq)
    transform(sequence(lit(0), lit(g.m - 1)), m => {
      val dists = array((0 until g.k).map { j =>
        aggregate(sequence(lit(0), lit(g.sub - 1)), lit(0.0), (acc, i) => {
          val x = element_at(v,
            (m * g.sub + i + lit(1)).cast(IntegerType)).cast(DoubleType)
          val cv = element_at(cbLit,
            ((m * g.k + lit(j)) * g.sub + i + lit(1)).cast(IntegerType))
          acc + (x - cv) * (x - cv)
        })
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast(ByteType)
    })
  }

  /** ADC score: PqM lookups into the query's LUT, added in subspace
    * order (bit-equal to the oracle's list_sum replay). */
  private[graft] def adcCol(lut: Column, codes: Column, g: PqGeom = GeomPq8): Column =
    aggregate(sequence(lit(0), lit(g.m - 1)), lit(0.0), (acc, m) =>
      acc + element_at(lut,
        (m * g.k + element_at(codes, (m + lit(1)).cast(IntegerType))
          .cast(IntegerType) + lit(1)).cast(IntegerType)))

  /** Per-query ADC lookup table (driver fold, m-major then j): entry
    * [m*k + j] = dot(query subvector m, residual sub-centroid j). */
  private[graft] def pqLut(qv: Array[Float], cb: Array[Array[Double]],
      g: PqGeom = GeomPq8): Seq[Double] =
    for { m <- 0 until g.m; j <- 0 until g.k } yield
      (0 until g.sub).foldLeft(0.0)((acc, i) =>
        acc + qv(m * g.sub + i).toDouble * cb(m * g.k + j)(i))

  /** IVF-PQ — the canonical production ANN serve pair (IVF routing +
    * product-quantized codes, Jégou et al. 2011): IMI beam-2 cell
    * routing exactly as `sim_ivf_imi`, but candidates are scored by
    * ASYMMETRIC DISTANCE COMPUTATION over their 8-byte codes — the
    * query-side lookup table (dot of every query subvector with every
    * sub-centroid: PqM×PqK doubles per query) is computed once on the
    * driver and broadcast, and scoring a candidate is 8 array lookups
    * + adds. No float vector is read at serve time: the scan is codes
    * + cell only, 16× less I/O than the float corpus and 4× less than
    * int8, which is what the byte budget of a 10B-vector serve tier
    * actually buys. Ranking uses the rounded ADC score (tie: vec_id),
    * mirrored bit-for-bit by the oracle's chained-CTE replay.
    *
    * `sim_ivf_pq16` is this form at the FINER 16×4×16 geometry
    * (`GeomPq16`) — identical pipeline (same routing, same residuals,
    * same Lloyd training discipline per subspace, same ADC serve
    * shape) with twice the code entropy at the same 8-byte packed
    * budget. This is the r12 pure-ADC quality lever: narrower
    * subspaces quantize an isotropic residual strictly better than any
    * rotation can (rotation only redistributes variance the subspaces
    * already share equally), and RECALL_r12 measures the lift at equal
    * probe budget. */
  def simIvfPq(s: SparkSession, d: String, g: PqGeom = GeomPq8): DataFrame =
    topK(simIvfPqAdcScored(s, d, g), "adc_r", 5)

  /** Query-side PQ serve table: cell via the shipped expression, LUT
    * + the query-to-centroid dot (the constant term of the residual
    * decomposition dot(q,x) = dot(q,c) + dot(q,res)) on the driver —
    * tiny, broadcast by every PQ serve path. */
  private def pqQueryTable(s: SparkSession, d: String,
      g: PqGeom = GeomPq8): DataFrame = {
    val cb = pqCodebook(s, d, g)
    val centMap = collectCentroids(s, d).toMap
    val qRows = embeddings(s, d).filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding"),
        imiCellOf(s, d)(col("embedding")).as("qcell")).collect()
      .map { r =>
        val qv = collectVector(r, 1); val qcell = r.getLong(2)
        org.apache.spark.sql.Row(r.getLong(0), qcell,
          pqLut(qv, cb, g), dotD(qv, centMap(qcell)))
      }
    s.createDataFrame(
      s.sparkContext.parallelize(qRows.toSeq, 1),
      StructType(Seq(StructField("query_id", LongType),
        StructField("qcell", LongType),
        StructField("lut", ArrayType(DoubleType)),
        StructField("qcdot", DoubleType))))
  }

  /** The shared ADC-scored candidate relation (query_id, vec_id,
    * cell, adc_r) every PQ form ranks. */
  private def pqAdcScoredOver(codes: DataFrame, qcells: DataFrame,
      g: PqGeom = GeomPq8): DataFrame =
    probeJoin(codes, qcells, Some("cell" -> "qcell"))
      .select(col("query_id"), col("vec_id"), col("cell"),
        round(col("qcdot") + adcCol(col("lut"), col("codes"), g), 4).as("adc_r"))

  private def simIvfPqAdcScored(s: SparkSession, d: String,
      g: PqGeom = GeomPq8): DataFrame = {
    val e = embeddings(s, d)
    val cb = pqCodebook(s, d, g)
    val cellOf = imiCellOf(s, d) _
    // recompute-everything form: cell assignment, then residual codes
    // against the cell centroid (small centroid table broadcast-
    // joined); the persisted form reads the same codes from the
    // bucketed index instead
    val codes = e.select(col("vec_id"), cellOf(col("embedding")).as("cell"),
        col("embedding"))
      .join(broadcast(centroidDf(s, d)), col("cell") === col("cent_id"))
      .select(col("vec_id"), col("cell"),
        pqCodesCol(cb, g)(residCol(col("embedding"), col("cv"))).as("codes"))
    pqAdcScoredOver(codes, pqQueryTable(s, d, g), g)
  }

  /** The persisted-index PQ serve: codes come from the SAME
    * bucketBy(cell) index table the int8 path reads (each family
    * column-prunes to its own codes), so the corpus side of the probe
    * join is materialized, clustered by cell, and exchange-free — no
    * assignment, no residual, no encoding at serve time. Same
    * relation and oracle as `sim_ivf_pq`: the index is a layout
    * choice, not a semantic one. */
  def simIvfPqBucketed(s: SparkSession, d: String): DataFrame = {
    val idx = bucketedIndexTable(s, d).select(col("vec_id"), col("cell"), col("codes"))
    topK(pqAdcScoredOver(idx, pqQueryTable(s, d)), "adc_r", 5)
  }

  /** ADC shortlist size before the exact re-rank (10× the served k —
    * the standard IVF-PQ rerank budget). */
  val PqRerankR = 50

  /** IVF-PQ with EXACT RE-RANK — the complete production serve: the
    * cell scan reads only 8-byte codes and ADC-ranks them (cheap,
    * coarse), the top-`PqRerankR` shortlist alone fetches float
    * vectors for an exact re-rank, and the query returns the exact-
    * scored top-5. This two-stage split is why PQ works in practice:
    * ADC at 0.5 bits/dim cannot ORDER near-equidistant cluster
    * members (the pure-ADC ablation measures that directly), but it
    * reliably SEPARATES the neighborhood from the rest of the cell —
    * so the big scan runs at 8 B/vector and full floats are touched
    * for only R rows per query (R/cell_size of the I/O, 80× under a
    * 4096-member cell). Recall vs exact is then routing-bounded
    * (measured in RECALL: rerank ≈ the IMI ceiling). */
  def simIvfPqRerank(s: SparkSession, d: String): DataFrame =
    pqRerank(s, d, embeddings(s, d), queryVectors(s, d),
      cos4(col("q"), col("embedding")), "cos_r")

  /** IVF-PQ with INT8 re-rank (r11, VERDICT item 6) — the
    * byte-budget-COMPLETE two-stage serve: the ADC top-`PqRerankR`
    * shortlist is re-ranked with the index's own int8 codes
    * (64 B/vector) instead of the float corpus (256 B), so the serve
    * tier touches NO float vector at any stage — 8 B/vector for the
    * cell scan plus 64 B for R rows per query. The quality lever is
    * measured in RECALL_r11: int8 re-rank recovers (within the int8
    * rounding) what the float re-rank recovers over pure ADC, at 4×
    * fewer re-rank bytes — rank comes from the re-rank stage, where
    * int8's 0.2%-scale rounding is far below neighbor gaps, while
    * pure ADC's 0.5-bit/dim quantization is not. Scoring is the
    * `sim_ivf_int8` kernel verbatim (exact integer dot, cosQ). */
  def simIvfPqRerankInt8(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val (csc, cq) = quantizeCols(col("embedding"))
    val corpus8 = e.select(col("vec_id"), csc.as("c_scale"), cq.as("cq"))
    pqRerank(s, d, corpus8, int8Queries(queryBatch(e)),
      cosQ(graft.functions.DotI8.dotI8(col("cq"), col("qq"))), "cos_q")
  }

  /** The shared two-stage tail: the ADC top-`PqRerankR` shortlist
    * fetches its `corpus` rows and the query side by id, and the
    * re-rank `score` picks the top-5. */
  private def pqRerank(s: SparkSession, d: String, corpus: DataFrame,
      queries: DataFrame, score: Column, scoreName: String): DataFrame =
    topK(topK(simIvfPqAdcScored(s, d), "adc_r", PqRerankR, "arnk")
        .join(corpus, Seq("vec_id"))
        .join(broadcast(queries), Seq("query_id"))
        .select(col("query_id"), col("vec_id"), col("cell"), score.as(scoreName)),
      scoreName, 5)

  // One persisted ANN index per (session, dataset dir): assignment +
  // quantization are write-once ETL (the "index build" phase), so
  // repeat invocations in a session — the gate runs the operator,
  // PlanAudit re-plans it under conf scopes — reuse the layout
  // instead of rebuilding it (the dedup_minhash_lsh_bucketed
  // pattern, Dedup.scala).
  private[graft] val indexTables =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, java.nio.file.Path)]()

  /** Bucket count for a persisted layout of `n` rows: explicit conf
    * override, else ⌈n / targetRows⌉ clamped to [4, 4096] — derived
    * from the DATA, not a demo constant (r8 VERDICT finding 2: a
    * fixed 8 would make 100 TB land in eight multi-TB files). The
    * default target (1M rows/bucket ≈ 100 MB at ~100 B/row) keeps a
    * bucket a single comfortable scan task; the bucket COUNT is a
    * layout knob only — every reader property (co-located join, no
    * exchange) holds at any count, which BucketCountSpec asserts at
    * two counts. */
  private[graft] def derivedBuckets(s: SparkSession, n: Long, confKey: String): Int =
    s.conf.getOption(confKey).map(_.toInt).getOrElse {
      val target = s.conf.get("spark.graft.bucket.targetRows", (1 << 20).toString).toLong
      math.min(4096L, math.max(4L, (n + target - 1) / target)).toInt
    }

  /** The persisted serve layout: (vec_id, cell, c_scale, cq) written
    * `bucketBy(cell)` — IMI routing and int8 codes are computed ONCE
    * at write time; every serve run reads materialized codes already
    * clustered by cell, so the corpus side of the probe join never
    * exchanges and never re-runs assignment or quantization. */
  /** The small centroid table (cent_id, cv) as a broadcastable DF —
    * the join side of residual computation at index-build time. */
  private[graft] def centroidDf(s: SparkSession, d: String): DataFrame =
    s.createDataFrame(
      s.sparkContext.parallelize(collectCentroids(s, d).toSeq.map {
        case (id, cv) => org.apache.spark.sql.Row(id, cv.toSeq) }, 1),
      StructType(Seq(StructField("cent_id", LongType),
        StructField("cv", ArrayType(FloatType)))))

  private[graft] def bucketedIndexTable(s: SparkSession, d: String): DataFrame = {
    val (bt, _) = indexTables.computeIfAbsent((s, d), _ => {
      val wh = java.nio.file.Files.createTempDirectory("graft_ivfidx")
      val name = "ivf_index_" + wh.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "_")
      val cellOf = imiCellOf(s, d) _
      val (csc, cq) = quantizeCols(col("embedding"))
      val cb = pqCodebook(s, d)
      val e = embeddings(s, d)
      val nb = derivedBuckets(s, e.count(), "spark.graft.index.buckets")
      // ONE index layout serves every code family: int8 codes for
      // exact-integer scoring AND the 8-byte PQ codes (residuals
      // against the broadcast centroid table) — each serve path
      // column-prunes to the codes it reads
      e.select(col("vec_id"), cellOf(col("embedding")).as("cell"),
          csc.as("c_scale"), cq.as("cq"), col("embedding"))
        .join(broadcast(centroidDf(s, d)), col("cell") === col("cent_id"))
        .select(col("vec_id"), col("cell"), col("c_scale"), col("cq"),
          pqCodesCol(cb)(residCol(col("embedding"), col("cv"))).as("codes"))
        .write.mode("overwrite")
        .bucketBy(nb, "cell").sortBy("cell")
        .option("path", wh.resolve("index").toString).saveAsTable(name)
      (name, wh)
    })
    s.table(bt)
  }

  /** Drop this session's memoized index tables and delete their files
    * (Verify calls this when its run is over). */
  /** Evict this session's driver-side quantizer memos (the refined
    * centroid set and the two-level IMI built on it — up to ~16 MB per
    * dataset). Cleanup.dropAll routes through here so a stopped
    * SparkSession is never pinned by a static map. */
  def dropCentroidCaches(s: SparkSession): Unit = {
    centroidCache.keySet.removeIf((k: (SparkSession, String)) => k._1 eq s)
    twoLevelCache.keySet.removeIf((k: (SparkSession, String)) => k._1 eq s)
    pqCbCache.keySet.removeIf((k: (SparkSession, String, PqGeom)) => k._1 eq s)
  }

  def dropIndexTables(s: SparkSession): Unit = {
    val it = indexTables.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) {
        val (bt, wh) = e.getValue
        s.sql(s"DROP TABLE IF EXISTS $bt")
        val files = java.nio.file.Files.walk(wh)
        try files.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally files.close()
        it.remove()
      }
    }
  }

  /** The 100 TB serve path of `sim_ivf_int8`: probe the persisted
    * bucketed index instead of recomputing assignment + codes per
    * query batch. Same result and oracle as sim_ivf_int8 — the index
    * is a layout choice, not a semantic one; only the QUERY side
    * (3 vectors here) runs the quantizer expressions at serve time. */
  def simIvfInt8Bucketed(s: SparkSession, d: String): DataFrame =
    simIvfInt8BucketedFor(s, d, 3)

  private[graft] def simIvfInt8BucketedFor(s: SparkSession, d: String,
      qBound: Int): DataFrame =
    int8BucketedProbe(s, d, queryBatch(embeddings(s, d), qBound))

  /** One serve probe of a query set against the persisted index: the
    * QUERY side runs the quantizer expressions, broadcasts into the
    * bucketed code scan, integer-dot scores, and window-top-5s. Shared
    * by the batch entry and the streaming serve loop — the loop is
    * semantically this probe applied per micro-batch. */
  private def int8BucketedProbe(s: SparkSession, d: String,
      qset: DataFrame): DataFrame =
    frozenInt8Serve(bucketedIndexTable(s, d),
      int8Queries(qset, Some(imiCellOf(s, d) _)))

  /** ONLINE retrieval — the batch ANN serve run as the production
    * CONTINUOUS loop: query vectors ARRIVE as a stream (three
    * hash-defined sub-batches through a file stream,
    * `maxFilesPerTrigger=1` under `Trigger.AvailableNow` — the §2h
    * bounded-catch-up harness) and each micro-batch probes the SAME
    * write-once bucketBy(cell) index the batch path serves from.
    * Unlike the admission loop there is no growing state: retrieval
    * is stateless per query, so per-trigger work is exactly one
    * broadcast probe into the persisted code scan (quantizer runs on
    * the arriving queries only), and the stream's union equals the
    * one-shot batch probe over all 12 queries — which is the oracle:
    * the same SQL as `sim_ivf_int8` widened to the query set, plus
    * the data-derived sub_batch tag. */
  def streamAnnServe(s: SparkSession, d: String): DataFrame = {
    val qs = embeddings(s, d).filter(col("vec_id") < 12)
      .select(col("vec_id"), col("embedding"),
        (col("vec_id") % 3).cast(IntegerType).as("sub_batch"))
    bucketedIndexTable(s, d) // index is write-once ETL, built before the stream
    val results = new graft.streaming.SubBatchState[DataFrame]
    graft.streaming.SubBatchState.streamSubBatches(s, qs) { (k, batch) =>
      val qset = batch.select(col("vec_id").as("query_id"), col("embedding"))
      results.put(k, int8BucketedProbe(s, d, qset)
        .withColumn("sub_batch", lit(k))
        .localCheckpoint(true))
    }
    if (results.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("query_id", LongType),
          StructField("vec_id", LongType), StructField("cell", LongType),
          StructField("cos_q", DoubleType), StructField("rnk", IntegerType),
          StructField("sub_batch", IntegerType))))
    else results.values.reduce(_ union _)
  }

  // ---- incremental index MAINTENANCE (frozen quantizer) --------------

  /** The frozen-quantizer serve kernel: candidates read from
    * `indexRows(vec_id, cell, c_scale, cq)` (however they are stored),
    * probed by `qcells(query_id, qcell, q_scale, qq)` — the
    * `sim_ivf_int8` probe shape with the corpus side abstracted, so
    * the maintained table and the spec's direct projection provably
    * serve the same relation. */
  private[graft] def frozenInt8Serve(indexRows: DataFrame,
      qcells: DataFrame, excludeSelf: Boolean = true): DataFrame =
    probeTopK(indexRows, qcells, "cell", "qcell",
      cosQ(graft.functions.DotI8.dotI8(col("cq"), col("qq"))), "cos_q", 5, excludeSelf)

  /** Batched form of [[frozenInt8Serve]] for LARGE query batches —
    * identical relation, different physical top-k (r15 VERDICT
    * item 6). The window form shuffles and sorts EVERY candidate pair
    * (Σ over probed cells of |cell| · |queries probing it| — ~20 M
    * rows for a 4096-query probe of a 5 M-vector index), which is the
    * measured wall behind the 217 qps serve_batched plateau; the scan
    * itself is already minimal (the pinned relation streams ONCE per
    * probe through the broadcast hash join, and queries sharing a
    * cell share that pass by construction). This form cuts the rank
    * shuffle with the sim_topk two-level bounded-heap shape:
    * per-partition heaps keep each query's local top-5, so the
    * exchange carries ≤ 5 · |queries| · partitions pre-combined rows
    * and the final window ranks that bounded set. Ordering
    * (cos_q desc, vec_id asc) is total, so heap and window agree on
    * every row including ties — semantics pinned against the window
    * kernel in ServeSessionSpec. */
  private[graft] def frozenInt8ServeBatched(indexRows: DataFrame,
      qcells: DataFrame, excludeSelf: Boolean = true): DataFrame =
    heapTopK[(Long, Long, Long, Double)](
      probeJoin(indexRows, qcells, Some("cell" -> "qcell"), excludeSelf)
        .select(col("query_id"), col("vec_id"), col("cell"),
          cosQ(graft.functions.DotI8.dotI8(col("cq"), col("qq"))).as("cos_q")),
      5, "cos_q")

  /** CONTINUOUS ANN-index maintenance — the dense sibling of
    * `stream_bm25_maintain` and the write path `stream_ann_serve`
    * takes as given: vectors ARRIVE as three file-stream sub-batches
    * and each micro-batch is APPENDED into the standing cell-bucketed
    * index through the PartitionedTable commit protocol
    * (txn-versioned, so a replayed micro-batch no-ops), followed by a
    * small-files OPTIMIZE pass.
    *
    * The design point is the FROZEN quantizer — the production ANN
    * contract (train once, add forever; retraining is the epoch job
    * that rebuilds the index): IMI centroids and the two-level
    * routing are trained on the STANDING BASE only, and arriving
    * vectors are assigned with the shipped assignment expression —
    * which is possible precisely because every per-row artifact is
    * maintenance-stable: the int8 scale is PER-VECTOR (a corpus-max
    * scale would go stale with every arrival, the df-denormalization
    * problem in its dense form) and a cell id never depends on other
    * rows once the quantizer is frozen. Serving the maintained state
    * therefore equals the one-shot frozen-quantizer build over the
    * full corpus — the oracle is `sim_ivf_int8`'s SQL with the
    * centroid-training CTEs restricted to the base predicate
    * (`centroidCteSqlFor`), assignment unchanged over all vectors.
    *
    * Scale shape: per-trigger work ∝ arriving vectors (one narrow
    * assignment+quantize projection, appended into only the touched
    * cell buckets); the standing index is never rescanned or
    * recomputed; serve is the `sim_ivf_int8` probe over the
    * manifest-resolved bucket read. */
  def streamAnnMaintain(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val isArr = Retrieval.isArrival(col("vec_id"))
    // FROZEN: trained on the standing base (k from the base size)
    val (supers, groups) = twoLevelIndexOf(collectCentroidsOf(e.filter(!isArr)))
    def cellOf(v: Column): Column = graft.functions.ImiCell2.cell(v, supers, groups)
    val workDir = java.nio.file.Files.createTempDirectory("graft_annmaint")
    try {
      val arrivals = e.filter(isArr)
        .withColumn("sub_batch", Retrieval.arrivalSubBatch(col("vec_id")))
      val p0 = int8Rows(e.filter(!isArr), cellOf)
      val nb = derivedBuckets(s, p0.count(), "spark.graft.ann.maintain.buckets")
      val pt = new graft.streaming.PartitionedTable(
        workDir.resolve("idx"), "cell", nb)
      // fenced single-writer lease over build + fold + OPTIMIZE (r11
      // VERDICT item 8) — a stolen lease is refused at the commit point
      graft.streaming.Replication.withWriterLease(workDir) { lease =>
      pt.withFence(() => lease.check(), Some(lease.generation))
      try {
      pt.appendInto(s, p0, Some("annidx" -> 0L))
      // per-trigger O(batch) segment writes (a batch's cells span most
      // buckets, so a bucketed merge per trigger would rewrite the
      // standing index every trigger — MAINTAIN_r10.json); deferred
      // fold + compaction after catch-up. Segment named by sub-batch ⇒
      // replays overwrite in place, idempotent.
      val segDir = workDir.resolve("segs")
      java.nio.file.Files.createDirectories(segDir)
      val segs = new graft.streaming.SubBatchState[String]
      // fold cadence through the TIERED rent-or-buy policy (r16):
      // write-only epoch ⇒ the close fold (straight to base) is the
      // only one, same cadence as pre-r15; a serve-interleaved
      // deployment folds mid-epoch to flat-priced RUNS and pays the
      // O(standing) base rewrite once per epoch. Folds are
      // replay-safe structurally: LsmFold records sub-batch ids as
      // txn markers atomically with the base commit and filters
      // already-folded ids (FoldReplaySpec).
      val runDir = workDir.resolve("runs")
      val runs = scala.collection.mutable.ArrayBuffer[(Seq[Int], java.nio.file.Path)]()
      var runSeq = 0
      var foldTxn = 1L
      def segParts: Seq[(Int, java.nio.file.Path)] =
        segs.entries.map { case (k, p) => k -> java.nio.file.Paths.get(p) }
      val folder = new graft.streaming.TieredPolicyFolder(
        graft.streaming.TieredPolicyFolder.defaultPolicy(),
        () => { // fold-to-RUN; returns the new run's file count (the
          // policy's per-file leaf pricing, r17)
          val se = segParts
          var newFiles = 0
          if (se.nonEmpty) {
            val r = graft.streaming.LsmFold.mergeRun(s, runDir, runSeq, se)
            runs += r
            newFiles = graft.streaming.LsmFold.parquetFiles(r._2)
            runSeq += 1
            graft.streaming.LsmFold.prune(se.map(_._2))
          }
          segs.clear()
          newFiles
        },
        () => { // fold-to-BASE
          val parts = runs.toSeq ++ segParts.map { case (k, p) => (Seq(k), p) }
          if (parts.nonEmpty) {
            graft.streaming.LsmFold.foldToBase(s, pt, "annidx", parts,
              foldTxn, merge = false)
            foldTxn += 1
            graft.streaming.LsmFold.prune(parts.map(_._2))
          }
          runs.clear(); segs.clear()
        })
      graft.streaming.SubBatchState.streamSubBatches(s, arrivals) { (k, batch) =>
        // an already-FOLDED sub-batch replay (base markers or a
        // live run) skips the segment write (LsmFold's marker
        // filter is the structural guard)
        if (pt.lastTxn(s"annidx.seg$k").isEmpty &&
            !runs.exists(_._1.contains(k))) {
          val seg = segDir.resolve(f"seg$k%04d")
          int8Rows(batch.drop("sub_batch"), cellOf)
            .write.mode("overwrite").parquet(seg.toString)
          segs.put(k, seg.toString)
          folder.onSegment(
            math.max(1, graft.streaming.LsmFold.parquetFiles(seg)))
        }
      }
      folder.finish()
      pt.compact(s)
      frozenInt8Serve(pt.read(s), int8Queries(queryBatch(e), Some(cellOf _)))
        .localCheckpoint(true)
      // fence cleared in finally so an exception mid-scope can't leave
      // it installed (Replication.catchUp's discipline)
      } finally { pt.clearFence() }
      }
    } finally {
      graft.streaming.PartitionedTable.deleteRecursively(workDir)
    }
  }

  /** Oracle-checked retrieval-quality gate (r8 VERDICT item 1): the
    * recall of the production IMI routing (`sim_ivf_imi` at nprobe=1)
    * against the exact float top-k, over a 64-query batch — as
    * integer matched/total counts, so the gate hash is
    * representation-stable. The full per-method sweep (probe settings,
    * int8, bucketed serve, lift vs the random-probe baseline) lives in
    * `graft.Recall` → RECALL_r09.json; this entry pins the ONE number
    * that defines the index's quality spec under the same DuckDB
    * mirror as every other operator. */
  def annRecallGate(s: SparkSession, d: String): DataFrame = {
    val nq = 64
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    // both halves score and rank identically; only the route differs
    def top10(probe: DataFrame, rank: String): DataFrame =
      topK(probe.select(col("query_id"), col("vec_id"),
          cos4(col("qv"), col("embedding")).as("sc")), "sc", 10)
        .select(col("query_id"), col("vec_id"), col("rnk").as(rank))
    val exact = top10(probeJoin(e, q, None), "true_rnk")
    val cellOf = imiCellOf(s, d) _
    val cells = e.select(col("vec_id"), cellOf(col("embedding")).as("cell"),
      col("embedding"))
    val qc = e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("query_id"), cellOf(col("embedding")).as("qcell"),
        col("embedding").as("qv"))
    val ann = top10(probeJoin(cells, qc, Some("cell" -> "qcell")), "ann_rnk")
    // coalesce: on a degenerate corpus the exact∩ANN join is empty and a
    // bare sum yields NULL where the oracle's coalesce(sum(..), 0) yields
    // 0 — a representation-only hash mismatch (r9 ADVICE).
    val matched = exact.join(ann, Seq("query_id", "vec_id")).agg(
      coalesce(sum(when(col("true_rnk") <= 5 && col("ann_rnk") <= 5, 1L).otherwise(0L)),
        lit(0L)).as("m5"),
      count(lit(1)).as("m10"))
    val totals = exact.agg(
      coalesce(sum(when(col("true_rnk") <= 5, 1L).otherwise(0L)), lit(0L)).as("t5"),
      count(lit(1)).as("t10"))
    matched.crossJoin(totals).select(explode(array(
        struct(lit("sim_ivf_imi@np1").as("method"), lit(5L).as("k"),
          col("m5").as("matched"), col("t5").as("n_true")),
        struct(lit("sim_ivf_imi@np1").as("method"), lit(10L).as("k"),
          col("m10").as("matched"), col("t10").as("n_true")))).as("r"))
      .select(col("r.method"), col("r.k"), col("r.matched"), col("r.n_true"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_recall" -> annRecallGate _,
    "sim_topk" -> simTopk _,
    "embed_quantize" -> embedQuantize _,
    "sim_topk_int8" -> simTopkInt8 _,
    "sim_ivf_int8" -> simIvfInt8 _,
    "sim_ivf_int8_bucketed" -> simIvfInt8Bucketed _,
    "stream_ann_serve" -> streamAnnServe _,
    "stream_ann_maintain" -> streamAnnMaintain _,
    "sim_ann_lsh" -> simAnnLsh _,
    "sim_ann_lsh_multiprobe" -> simAnnLshMultiprobe _,
    "sim_ivf" -> simIvf _,
    "sim_ivf_imi" -> simIvfImi _,
    "sim_ivf_imi_ma" -> simIvfImiMa _,
    "sim_ivf_pq" -> ((s: SparkSession, d: String) => simIvfPq(s, d)),
    "sim_ivf_pq16" -> ((s: SparkSession, d: String) => simIvfPq(s, d, GeomPq16)),
    "sim_ivf_pq_bucketed" -> simIvfPqBucketed _,
    "sim_ivf_pq_rerank" -> simIvfPqRerank _,
    "sim_ivf_pq_rerank_int8" -> simIvfPqRerankInt8 _,
    "sim_ivf_nprobe" -> ((s: SparkSession, d: String) => simIvfNprobe(s, d))
  )

  /** Shared quantizer CTEs (mirror of quantizeCols): per-vector
    * max-abs in DOUBLE, scale 127/mx, codes ⌊v·scale + 0.5⌋. */
  private[graft] val quantCteSql =
    """qz AS MATERIALIZED (
      |  SELECT vec_id, label,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
      |  FROM embeddings),
      |qv AS MATERIALIZED (
      |  SELECT e.vec_id, e.label,
      |    CASE WHEN qz.mx = 0 THEN 0.0 ELSE 127.0 / qz.mx END AS sc,
      |    list_transform(e.embedding, x -> CAST(floor(CAST(x AS DOUBLE)
      |      * (CASE WHEN qz.mx = 0 THEN 0.0 ELSE 127.0 / qz.mx END)
      |      + 0.5) AS TINYINT)) AS q
      |  FROM embeddings e JOIN qz ON e.vec_id = qz.vec_id)""".stripMargin

  /** Shared by sim_ivf_int8 and sim_ivf_int8_bucketed: two-level
    * (IMI) assignment via the shared CTE chain, int8 scoring via the
    * shared quantizer CTEs. The bucketed index serve path must
    * hash-match the identical relation — the layout is physical. */
  private lazy val simIvfInt8OracleSql = int8ServeOracleSql(3, "")

  /** The int8 serve oracle, parameterized over the query-set bound and
    * optional extra output columns — shared by the batch entries and
    * the streaming serve loop (whose union over micro-batches equals
    * the one-shot probe, queries being stateless). */
  private def int8ServeOracleSql(qBound: Int, extraSelect: String,
      trainPred: String = "TRUE") =
    s"""WITH ${imiCellsCteSqlFor(trainPred)},
      |$quantCteSql,
      |qcells AS (SELECT vec_id AS query_id, cell AS qcell
      |  FROM cells WHERE vec_id < $qBound)
      |SELECT query_id, vec_id, cell, cos_q, rnk$extraSelect FROM (
      |  SELECT qc.query_id, cells.vec_id, cells.cell,
      |    CASE WHEN cv2.sc = 0 OR qv2.sc = 0 THEN 0.0
      |      ELSE round(CAST(CAST(list_sum(list_transform(range(1, 65),
      |        i -> CAST(cv2.q[i] AS BIGINT) * qv2.q[i])) AS BIGINT) AS DOUBLE)
      |      / (cv2.sc * qv2.sc), 4) END AS cos_q,
      |    row_number() OVER (PARTITION BY qc.query_id
      |      ORDER BY CASE WHEN cv2.sc = 0 OR qv2.sc = 0 THEN 0.0
      |        ELSE round(CAST(CAST(list_sum(list_transform(range(1, 65),
      |          i -> CAST(cv2.q[i] AS BIGINT) * qv2.q[i])) AS BIGINT) AS DOUBLE)
      |        / (cv2.sc * qv2.sc), 4) END DESC, cells.vec_id ASC) AS rnk
      |  FROM cells
      |  JOIN qcells qc ON cells.cell = qc.qcell AND cells.vec_id <> qc.query_id
      |  JOIN qv cv2 ON cv2.vec_id = cells.vec_id
      |  JOIN qv qv2 ON qv2.vec_id = qc.query_id) t
      |WHERE rnk <= 5""".stripMargin

  /** DuckDB mirror of the full IVF-PQ pipeline up to the ADC-scored
    * candidate relation `scored(query_id, vec_id, cell, adc_r)`:
    * residuals against the IMI cell centroids, the per-subspace Lloyd
    * training chain (ONE m-keyed CTE chain — not 8 copies), codes by
    * a join-shaped argmin over (m, j) with first-j tie-break — the
    * same relation `pc<rounds>(m, j, cv)` the trainer ends on, probed
    * per subvector, NOT a triple-nested list lambda over the
    * flattened codebook (that form correlates the 1024-element `cb`
    * list into every inner lambda element and DuckDB materializes it
    * per element: >54 GB of spill on a 20k-row corpus; the join form
    * runs in seconds at sf5). Codes are computed only for rows in the
    * probed cells — the only rows `scored` consumes. Per-(m,j) the
    * distance fold over i is the identical in-order list_sum, so
    * values — and therefore codes, LUT, qcdot and the rounded score
    * round(qcdot + adc, 4) — stay bit-equal to the Scala side.
    * Shared by the pure-ADC and rerank oracles. */
  private def pqScoredCteSqlFor(g: PqGeom): String = {
    def pqLloydRound(prev: String, r: Int): String =
      s"""pa$r AS MATERIALIZED (SELECT vec_id, m, sv, j FROM (
        |  SELECT s.vec_id, s.m, s.sv, c.j,
        |    row_number() OVER (PARTITION BY s.vec_id, s.m
        |      ORDER BY list_sum(list_transform(range(1, ${g.sub + 1}), i ->
        |          (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) ASC,
        |        c.j ASC) AS arnk
        |  FROM psub s JOIN $prev c ON c.m = s.m) t WHERE arnk = 1),
        |pm$r AS MATERIALIZED (SELECT m, j, list(sv ORDER BY vec_id) AS ms
        |  FROM pa$r GROUP BY m, j),
        |pc$r AS MATERIALIZED (SELECT c.m, c.j,
        |  CASE WHEN pm$r.j IS NULL THEN c.cv
        |    ELSE [list_sum(list_transform(ms, v -> v[i])) / len(ms)
        |          FOR i IN range(1, ${g.sub + 1})]
        |  END AS cv
        |  FROM $prev c LEFT JOIN pm$r ON pm$r.m = c.m AND pm$r.j = c.j)""".stripMargin
    s"""$imiCellsCteSql,
      |resid AS MATERIALIZED (SELECT cells.vec_id, cells.cell, cells.embedding,
      |    list_transform(range(1, 65), i ->
      |      CAST(embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)) AS rv
      |  FROM cells JOIN c ON c.cent_id = cells.cell),
      |prnkt AS MATERIALIZED (SELECT vec_id,
      |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS prnk
      |  FROM embeddings),
      |psamp AS MATERIALIZED (SELECT r.vec_id, r.rv, p.prnk
      |  FROM resid r JOIN prnkt p USING (vec_id), kk
      |  WHERE p.prnk <= least(kk.n, ${SampleFactor * g.k})),
      |psub AS MATERIALIZED (SELECT vec_id, prnk, m,
      |    list_transform(range(1, ${g.sub + 1}), i -> rv[m*${g.sub} + i]) AS sv
      |  FROM psamp, unnest(range(0, ${g.m})) t(m)),
      |pc0 AS MATERIALIZED (SELECT m, prnk - 1 AS j, sv AS cv FROM psub WHERE prnk <= ${g.k}),
      |${(1 to PqRounds).map(r => pqLloydRound(s"pc${r - 1}", r)).mkString(",\n")},
      |cbf AS MATERIALIZED (SELECT flatten(list(cv ORDER BY m, j)) AS cb FROM pc$PqRounds),
      |qcset AS MATERIALIZED (SELECT DISTINCT cell FROM resid WHERE vec_id < 3),
      |rsub AS MATERIALIZED (SELECT r.vec_id, r.cell, m,
      |    list_transform(range(1, ${g.sub + 1}), i -> rv[m*${g.sub} + i]) AS sv
      |  FROM resid r JOIN qcset USING (cell), unnest(range(0, ${g.m})) t(m)),
      |pqd AS MATERIALIZED (SELECT r.vec_id, r.cell, r.m, c.j,
      |    list_sum(list_transform(range(1, ${g.sub + 1}), i ->
      |      (r.sv[i] - c.cv[i]) * (r.sv[i] - c.cv[i]))) AS d
      |  FROM rsub r JOIN pc$PqRounds c ON c.m = r.m),
      |pqa AS MATERIALIZED (SELECT vec_id, cell, m, j FROM (
      |  SELECT vec_id, cell, m, j,
      |    row_number() OVER (PARTITION BY vec_id, m
      |      ORDER BY d ASC, j ASC) AS arnk
      |  FROM pqd) t WHERE arnk = 1),
      |pq AS MATERIALIZED (SELECT vec_id, cell, list(j ORDER BY m) AS codes
      |  FROM pqa GROUP BY vec_id, cell),
      |lutq AS MATERIALIZED (SELECT r.vec_id AS query_id, r.cell AS qcell,
      |    flatten(list_transform(range(0, ${g.m}), m -> list_transform(range(0, ${g.k}), j ->
      |      list_sum(list_transform(range(0, ${g.sub}), i ->
      |        CAST(r.embedding[m*${g.sub}+i+1] AS DOUBLE) * cb[(m*${g.k}+j)*${g.sub}+i+1]))))) AS lut,
      |    list_sum(list_transform(range(1, 65), i ->
      |      CAST(r.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE))) AS qcdot
      |  FROM resid r JOIN c ON c.cent_id = r.cell, cbf
      |  WHERE r.vec_id < 3),
      |scored AS MATERIALIZED (SELECT q.query_id, p.vec_id, p.cell,
      |    round(q.qcdot + list_sum(list_transform(range(0, ${g.m}), m ->
      |      lut[m*${g.k} + codes[m+1] + 1])), 4) AS adc_r
      |  FROM pq p JOIN lutq q ON p.cell = q.qcell AND p.vec_id <> q.query_id)""".stripMargin
  }

  private lazy val pqScoredCteSql: String = pqScoredCteSqlFor(GeomPq8)

  val oracles: Map[String, String] = Map(
    "ann_recall" ->
      s"""WITH $imiCellsCteSql,
        |q64 AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |  WHERE vec_id < 64),
        |exact AS (SELECT query_id, vec_id, rnk AS true_rnk FROM (
        |  SELECT query_id, e.vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(${dotSql.format("qv", "e.embedding")}, 4) DESC,
        |        e.vec_id ASC) AS rnk
        |  FROM embeddings e, q64 WHERE e.vec_id <> q64.query_id) t
        |  WHERE rnk <= 10),
        |qc64 AS (SELECT vec_id AS query_id, embedding AS qv, cell AS qcell
        |  FROM cells WHERE vec_id < 64),
        |ann AS (SELECT query_id, vec_id, rnk AS ann_rnk FROM (
        |  SELECT query_id, cells.vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(${dotSql.format("qv", "cells.embedding")}, 4) DESC,
        |        cells.vec_id ASC) AS rnk
        |  FROM cells JOIN qc64 ON cell = qcell AND cells.vec_id <> query_id) t
        |  WHERE rnk <= 10),
        |j AS (SELECT exact.query_id, exact.vec_id, true_rnk, ann_rnk
        |  FROM exact JOIN ann ON exact.query_id = ann.query_id
        |    AND exact.vec_id = ann.vec_id),
        |m AS (SELECT
        |  CAST(coalesce(sum(CASE WHEN true_rnk <= 5 AND ann_rnk <= 5
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS m5,
        |  CAST(count(*) AS BIGINT) AS m10 FROM j),
        |tt AS (SELECT
        |  CAST(coalesce(sum(CASE WHEN true_rnk <= 5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS t5,
        |  CAST(count(*) AS BIGINT) AS t10 FROM exact)
        |SELECT 'sim_ivf_imi@np1' AS method, CAST(5 AS BIGINT) AS k,
        |  m5 AS matched, t5 AS n_true FROM m, tt
        |UNION ALL
        |SELECT 'sim_ivf_imi@np1', CAST(10 AS BIGINT), m10, t10 FROM m, tt""".stripMargin,
    "embed_quantize" ->
      s"""WITH $quantCteSql
        |SELECT vec_id, label,
        |  CAST(floor(sc * 1e6) AS BIGINT) AS scale_x1e6,
        |  len(q) AS n_dims,
        |  CAST(list_sum(list_transform(q, v -> CAST(v AS BIGINT))) AS BIGINT) AS sum_q,
        |  list_min(q) AS min_q,
        |  list_max(q) AS max_q,
        |  CAST(list_sum(list_transform(q, v -> abs(CAST(v AS BIGINT)))) AS BIGINT) AS l1_q
        |FROM qv""".stripMargin,
    // two-level (IMI) assignment via the shared CTE chain, int8
    // scoring via the shared quantizer CTEs
    "sim_ivf_int8" -> simIvfInt8OracleSql,
    // identical semantics — the bucketed index is a physical layout,
    // so the serve path must hash-match the same oracle
    "sim_ivf_int8_bucketed" -> simIvfInt8OracleSql,
    // the streaming serve loop's union over micro-batches equals the
    // one-shot probe over the 12-query set (retrieval is stateless),
    // plus the data-derived sub_batch tag
    // frozen-quantizer maintenance: sim_ivf_int8's serve relation with
    // the centroid training restricted to the standing base (arrivals
    // excluded by the md5 split), assignment unchanged over all rows
    "stream_ann_maintain" -> int8ServeOracleSql(3, "",
      "substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) >= '20'"),
    "stream_ann_serve" -> int8ServeOracleSql(12,
      ", CAST(query_id % 3 AS INTEGER) AS sub_batch"),
    // IVF-PQ: cells + centroids from the shared IMI CTEs; RESIDUALS
    // against each row's own cell centroid (DOUBLE, element order
    // preserved); sub-codebooks = the PqK md5-smallest vectors'
    // residuals flattened; codes = per-subspace argmin-L2 with
    // first-index tie-break (list_position of the min — the distance
    // list appears twice because DuckDB lambdas have no let binding);
    // LUT, qcdot and ADC replay the driver/Scala folds in the same
    // add order, so the rounded score round(qcdot + adc, 4) is
    // bit-equal
    "sim_ivf_pq" ->
      s"""WITH $pqScoredCteSql
        |SELECT query_id, vec_id, cell, adc_r, rnk FROM (
        |  SELECT query_id, vec_id, cell, adc_r,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_r DESC, vec_id ASC) AS rnk
        |  FROM scored) t
        |WHERE rnk <= 5""".stripMargin,
    // the finer 16x4x16 geometry: the SAME training/encode/serve chain
    // parameterized over (m, k, sub) — only the geometry constants
    // differ from sim_ivf_pq's oracle
    "sim_ivf_pq16" ->
      s"""WITH ${pqScoredCteSqlFor(GeomPq16)}
        |SELECT query_id, vec_id, cell, adc_r, rnk FROM (
        |  SELECT query_id, vec_id, cell, adc_r,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_r DESC, vec_id ASC) AS rnk
        |  FROM scored) t
        |WHERE rnk <= 5""".stripMargin,
    // identical semantics — the bucketed index is a physical layout,
    // so the persisted-PQ serve must hash-match the same oracle
    "sim_ivf_pq_bucketed" ->
      s"""WITH $pqScoredCteSql
        |SELECT query_id, vec_id, cell, adc_r, rnk FROM (
        |  SELECT query_id, vec_id, cell, adc_r,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_r DESC, vec_id ASC) AS rnk
        |  FROM scored) t
        |WHERE rnk <= 5""".stripMargin,
    // two-stage serve with the INT8 re-rank: ADC top-R shortlist from
    // the SAME scored relation, re-ranked by the exact integer dot of
    // the shared quantizer CTEs (the sim_ivf_int8 scoring verbatim)
    "sim_ivf_pq_rerank_int8" ->
      s"""WITH $pqScoredCteSql,
        |$quantCteSql,
        |shortl AS (SELECT query_id, vec_id, cell FROM (
        |  SELECT query_id, vec_id, cell,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_r DESC, vec_id ASC) AS arnk
        |  FROM scored) t WHERE arnk <= $PqRerankR),
        |rer AS (SELECT sl.query_id, sl.vec_id, sl.cell,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(cv8.q[i] AS BIGINT) * qv8.q[i])) AS BIGINT) AS qdot,
        |    cv8.sc AS c_scale, qv8.sc AS q_scale
        |  FROM shortl sl
        |  JOIN qv cv8 ON cv8.vec_id = sl.vec_id
        |  JOIN qv qv8 ON qv8.vec_id = sl.query_id)
        |SELECT query_id, vec_id, cell, cos_q, rnk FROM (
        |  SELECT query_id, vec_id, cell,
        |    CASE WHEN c_scale = 0 OR q_scale = 0 THEN 0.0
        |      ELSE round(CAST(qdot AS DOUBLE) / (c_scale * q_scale), 4) END AS cos_q,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY CASE WHEN c_scale = 0 OR q_scale = 0 THEN 0.0
        |        ELSE round(CAST(qdot AS DOUBLE) / (c_scale * q_scale), 4) END DESC,
        |        vec_id ASC) AS rnk
        |  FROM rer) t
        |WHERE rnk <= 5""".stripMargin,
    // two-stage serve: ADC top-R shortlist from the SAME scored
    // relation, then exact float cosine re-rank of the shortlist only
    "sim_ivf_pq_rerank" ->
      s"""WITH $pqScoredCteSql,
        |shortl AS (SELECT query_id, vec_id, cell FROM (
        |  SELECT query_id, vec_id, cell,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_r DESC, vec_id ASC) AS arnk
        |  FROM scored) t WHERE arnk <= $PqRerankR),
        |rer AS (SELECT sl.query_id, sl.vec_id, sl.cell,
        |    round(${dotSql.format("qe.embedding", "ce.embedding")}, 4) AS cos_r
        |  FROM shortl sl
        |  JOIN embeddings ce ON ce.vec_id = sl.vec_id
        |  JOIN embeddings qe ON qe.vec_id = sl.query_id)
        |SELECT query_id, vec_id, cell, cos_r, rnk FROM (
        |  SELECT query_id, vec_id, cell, cos_r,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_r DESC, vec_id ASC) AS rnk
        |  FROM rer) t
        |WHERE rnk <= 5""".stripMargin,
    "sim_topk_int8" ->
      s"""WITH $quantCteSql,
        |qs AS (SELECT vec_id AS query_id, sc AS q_scale, q AS qq
        |       FROM qv WHERE vec_id < 3),
        |scored AS (
        |  SELECT qs.query_id, c.vec_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(c.q[i] AS BIGINT) * qs.qq[i])) AS BIGINT) AS qdot,
        |    c.sc AS c_scale, qs.q_scale
        |  FROM qv c, qs WHERE c.vec_id <> qs.query_id)
        |SELECT query_id, vec_id, qdot, cos_q, rnk FROM (
        |  SELECT query_id, vec_id, qdot,
        |    CASE WHEN c_scale = 0 OR q_scale = 0 THEN 0.0
        |      ELSE round(CAST(qdot AS DOUBLE) / (c_scale * q_scale), 4) END AS cos_q,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY CASE WHEN c_scale = 0 OR q_scale = 0 THEN 0.0
        |        ELSE round(CAST(qdot AS DOUBLE) / (c_scale * q_scale), 4) END DESC,
        |        vec_id ASC) AS rnk
        |  FROM scored) t
        |WHERE rnk <= 10""".stripMargin,
    "sim_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
        |scored AS (
        |  SELECT query_id, e.vec_id,
        |    round(${dotSql.format("qv", "e.embedding")}, 4) AS cos_r
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id)
        |SELECT * FROM (
        |  SELECT query_id, vec_id, cos_r,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, vec_id ASC) AS rnk
        |  FROM scored) t
        |WHERE rnk <= 10""".stripMargin,
    "sim_ann_lsh" ->
      s"""WITH p AS (SELECT vec_id AS plane_id, embedding AS pv FROM embeddings
        |           WHERE vec_id >= 100 AND vec_id < 108),
        |cb AS (
        |  SELECT e.vec_id, e.embedding,
        |    sum(CASE WHEN ${dotSql.format("e.embedding", "pv")} >= 0
        |        THEN 1 << (plane_id - 100) ELSE 0 END)::BIGINT AS bucket
        |  FROM embeddings e, p GROUP BY e.vec_id, e.embedding),
        |qb AS (
        |  SELECT q.vec_id AS query_id, q.embedding AS qv,
        |    sum(CASE WHEN ${dotSql.format("q.embedding", "pv")} >= 0
        |        THEN 1 << (plane_id - 100) ELSE 0 END)::BIGINT AS qbucket
        |  FROM embeddings q, p WHERE q.vec_id < 3 GROUP BY q.vec_id, q.embedding)
        |SELECT query_id, vec_id, bucket, cos_r, rnk FROM (
        |  SELECT query_id, cb.vec_id, bucket,
        |    round(${dotSql.format("qv", "cb.embedding")}, 4) AS cos_r,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(${dotSql.format("qv", "cb.embedding")}, 4) DESC, cb.vec_id ASC) AS rnk
        |  FROM cb JOIN qb ON bucket = qbucket AND cb.vec_id <> query_id) t
        |WHERE rnk <= 5""".stripMargin,
    "sim_ann_lsh_multiprobe" ->
      s"""WITH p AS (SELECT vec_id AS plane_id, embedding AS pv FROM embeddings
        |           WHERE vec_id >= 100 AND vec_id < 108),
        |cb AS (
        |  SELECT e.vec_id, e.embedding,
        |    sum(CASE WHEN ${dotSql.format("e.embedding", "pv")} >= 0
        |        THEN 1 << (plane_id - 100) ELSE 0 END)::BIGINT AS bucket
        |  FROM embeddings e, p GROUP BY e.vec_id, e.embedding),
        |qb AS (
        |  SELECT q.vec_id AS query_id, q.embedding AS qv,
        |    sum(CASE WHEN ${dotSql.format("q.embedding", "pv")} >= 0
        |        THEN 1 << (plane_id - 100) ELSE 0 END)::BIGINT AS qbucket
        |  FROM embeddings q, p WHERE q.vec_id < 3 GROUP BY q.vec_id, q.embedding),
        |probes AS (
        |  SELECT query_id, qv,
        |    CASE WHEN i = -1 THEN qbucket
        |         ELSE xor(qbucket, (1::BIGINT << i)) END AS probe_bucket
        |  FROM qb, unnest(range(-1, 8)) t(i))
        |SELECT query_id, vec_id, bucket, cos_r, rnk FROM (
        |  SELECT query_id, cb.vec_id, bucket,
        |    round(${dotSql.format("qv", "cb.embedding")}, 4) AS cos_r,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(${dotSql.format("qv", "cb.embedding")}, 4) DESC, cb.vec_id ASC) AS rnk
        |  FROM cb JOIN probes ON cb.bucket = probe_bucket AND cb.vec_id <> query_id) t
        |WHERE rnk <= 5""".stripMargin,
    // Memory-bounded flat assignment (r11 VERDICT item 1): the old
    // form ranked a window over the n-x-k cross relation WITH the
    // 64-float embedding on every row — DuckDB materializes the window
    // input, which is what OOM'd its 44.7 GiB budget at sf5. The
    // aggregate argmax (max score per vector, join-back with min
    // cent_id on ties) is the identical (score DESC, cent_id ASC)
    // arnk=1 rule, but the wide relation carries only (vec_id,
    // cent_id, score) and embeddings are joined back ONLY for rows in
    // probed cells — the dedup_ngram_jaccard fix pattern, lossless by
    // construction, hash-equal at every tier the old form passed.
    "sim_ivf_nprobe" ->
      s"""WITH $centroidCteSql,
        |ascore AS (SELECT e.vec_id, c.cent_id,
        |    round(${dotSql.format("e.embedding", "cv")}, 4) AS sc
        |  FROM embeddings e, c),
        |abest AS MATERIALIZED (SELECT vec_id, max(sc) AS bsc
        |  FROM ascore GROUP BY vec_id),
        |cells AS MATERIALIZED (SELECT a.vec_id, min(a.cent_id) AS cell
        |  FROM ascore a JOIN abest b ON a.vec_id = b.vec_id AND a.sc = b.bsc
        |  GROUP BY a.vec_id),
        |qprobes AS (
        |  SELECT query_id, qv, qcell FROM (
        |    SELECT q.vec_id AS query_id, q.embedding AS qv, c.cent_id AS qcell,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(${dotSql.format("q.embedding", "cv")}, 4) DESC, c.cent_id ASC) AS arnk
        |    FROM embeddings q, c WHERE q.vec_id < 3) t WHERE arnk <= 2)
        |SELECT query_id, vec_id, cell, cos_r, rnk FROM (
        |  SELECT query_id, cells.vec_id, cell,
        |    round(${dotSql.format("qv", "ce.embedding")}, 4) AS cos_r,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(${dotSql.format("qv", "ce.embedding")}, 4) DESC, cells.vec_id ASC) AS rnk
        |  FROM cells JOIN qprobes ON cell = qcell AND cells.vec_id <> query_id
        |  JOIN embeddings ce ON ce.vec_id = cells.vec_id) t
        |WHERE rnk <= 5""".stripMargin,
    "sim_ivf_imi" ->
      s"""WITH $imiCellsCteSql,
        |qcells AS (SELECT vec_id AS query_id, embedding AS qv, cell AS qcell
        |  FROM cells WHERE vec_id < 3)
        |SELECT query_id, vec_id, cell, cos_r, rnk FROM (
        |  SELECT query_id, cells.vec_id, cell,
        |    round(${dotSql.format("qv", "cells.embedding")}, 4) AS cos_r,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(${dotSql.format("qv", "cells.embedding")}, 4) DESC, cells.vec_id ASC) AS rnk
        |  FROM cells JOIN qcells ON cell = qcell AND cells.vec_id <> query_id) t
        |WHERE rnk <= 5""".stripMargin,
    // corpus side = assignment ranks 1..2 (cellsr), query side = the
    // plain top cell — the multi-assignment trade measured in RECALL
    "sim_ivf_imi_ma" ->
      s"""WITH $imiCellsCteSql,
        |qcells AS (SELECT vec_id AS query_id, embedding AS qv, cell AS qcell
        |  FROM cells WHERE vec_id < 3)
        |SELECT query_id, vec_id, cell, cos_r, rnk FROM (
        |  SELECT query_id, cellsr.vec_id, cell,
        |    round(${dotSql.format("qv", "cellsr.embedding")}, 4) AS cos_r,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(${dotSql.format("qv", "cellsr.embedding")}, 4) DESC, cellsr.vec_id ASC) AS rnk
        |  FROM cellsr JOIN qcells ON cell = qcell AND cellsr.vec_id <> query_id) t
        |WHERE rnk <= 5""".stripMargin,
    // same memory-bounded aggregate-argmax rewrite as sim_ivf_nprobe
    "sim_ivf" ->
      s"""WITH $centroidCteSql,
        |ascore AS (SELECT e.vec_id, c.cent_id,
        |    round(${dotSql.format("e.embedding", "cv")}, 4) AS sc
        |  FROM embeddings e, c),
        |abest AS MATERIALIZED (SELECT vec_id, max(sc) AS bsc
        |  FROM ascore GROUP BY vec_id),
        |cells AS MATERIALIZED (SELECT a.vec_id, min(a.cent_id) AS cell
        |  FROM ascore a JOIN abest b ON a.vec_id = b.vec_id AND a.sc = b.bsc
        |  GROUP BY a.vec_id),
        |qcells AS (
        |  SELECT query_id, qv, qcell FROM (
        |    SELECT q.vec_id AS query_id, q.embedding AS qv, c.cent_id AS qcell,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(${dotSql.format("q.embedding", "cv")}, 4) DESC, c.cent_id ASC) AS arnk
        |    FROM embeddings q, c WHERE q.vec_id < 3) t WHERE arnk = 1)
        |SELECT query_id, vec_id, cell, cos_r, rnk FROM (
        |  SELECT query_id, cells.vec_id, cell,
        |    round(${dotSql.format("qv", "ce.embedding")}, 4) AS cos_r,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(${dotSql.format("qv", "ce.embedding")}, 4) DESC, cells.vec_id ASC) AS rnk
        |  FROM cells JOIN qcells ON cell = qcell AND cells.vec_id <> query_id
        |  JOIN embeddings ce ON ce.vec_id = cells.vec_id) t
        |WHERE rnk <= 5""".stripMargin
  )
}

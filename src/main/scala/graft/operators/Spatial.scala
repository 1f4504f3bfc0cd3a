package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** Spatial bbox operators (SURVEY.md §2b filter_clamp_latlon /
  * filter_area, §2c join_range_bbox).
  *
  * The reference models changeset geometry as an axis-aligned bbox
  * (4 decimals, queries.py:11-14) optionally lifted to a PostGIS
  * polygon (queries.py:49-52). Every documented spatial operation —
  * `ST_MakeEnvelope` containment (README.md:120-124) and the
  * equal-area size filter (README.md:77) — is closed over axis-aligned
  * envelopes, so the engine represents geometry as plain numeric
  * columns and the operators reduce to interval arithmetic: fully
  * codegen'd, parquet min/max-stats prunable (the GIST-index analog),
  * no geometry library needed.
  *
  * The test tables carry no lon/lat, so the demonstrations derive a
  * deterministic bbox per order from integer key arithmetic (exact in
  * IEEE doubles → exact oracle parity).
  */
object Spatial {

  /** Deterministic synthetic bbox per order (integer-degree corners). */
  def ordersBbox(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(
      col("o_orderkey"), col("o_custkey"),
      (col("o_orderkey") % 340 - 170).cast(DoubleType).as("min_lon"),
      (col("o_custkey") % 160 - 80).cast(DoubleType).as("min_lat"),
      (col("o_orderkey") % 340 - 170 + 1 + col("o_orderkey") % 7).cast(DoubleType).as("max_lon"),
      (col("o_custkey") % 160 - 80 + 1 + col("o_custkey") % 5).cast(DoubleType).as("max_lat"))

  /** Clamp out-of-range latitudes into [-90, 90] — the data-quality
    * repair the reference documents for dirty dumps (README.md:78). */
  def filterClampLatlon(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(
      col("o_orderkey"),
      (col("o_custkey") % 220 - 110).cast(DoubleType).as("raw_lat"))
      .withColumn("lat",
        least(greatest(col("raw_lat"), lit(-90.0)), lit(90.0)))
      .withColumn("was_dirty", col("lat") =!= col("raw_lat"))

  /** Equal-area bbox area on the authalic sphere:
    * R² · Δλ · (sin φ₂ − sin φ₁) — the EPSG:3410 equal-area size
    * filter of README.md:77, as a composed column expression
    * (stays inside whole-stage codegen; no UDF). */
  def areaM2(minLon: Column, minLat: Column, maxLon: Column, maxLat: Column): Column = {
    val R = lit(6371007.0) // authalic Earth radius, m
    def rad(c: Column): Column = c * lit(math.Pi) / lit(180.0)
    R * R * (rad(maxLon) - rad(minLon)) * (sin(rad(maxLat)) - sin(rad(minLat)))
  }

  /** Same formula as a native codegen Expression (functions/
    * BboxAreaExpr.scala) — identical IEEE operation sequence, so it is
    * interchangeable with areaM2 under the same oracle; kept as the
    * default for filter_area to keep the custom expression
    * load-bearing. */
  def areaM2Native(minLon: Column, minLat: Column, maxLon: Column, maxLat: Column): Column =
    graft.functions.BboxArea.bboxArea(minLon, minLat, maxLon, maxLat)

  /** Area filter: drop continent-sized boxes (threshold scaled to the
    * synthetic integer-degree boxes; reference constant is 225 km²). */
  def filterArea(s: SparkSession, d: String): DataFrame = {
    val b = ordersBbox(s, d)
    b.withColumn("area_m2",
        areaM2Native(col("min_lon"), col("min_lat"), col("max_lon"), col("max_lat")))
      .filter(col("area_m2") < 2.0e10)
      .select(
        col("o_orderkey"),
        floor(col("area_m2") / 1e6).cast(LongType).as("area_km2"))
  }

  /** bbox → geometry envelope (the reference's `-g` build,
    * `changesetmd.py:55-64` + `queries.py:49-52` `ST_MakeEnvelope(...,
    * 4326)`): the engine's geometry type is a typed STRUCT — an
    * SRID-tagged axis-aligned envelope — rather than an opaque PostGIS
    * POLYGON, because every documented spatial operation (equal-area
    * size, containment, bbox join) is closed over envelopes; the
    * struct keeps min/max stats usable for pruning where a binary
    * geometry blob would be opaque. */
  def geomEnvelope(minLon: Column, minLat: Column, maxLon: Column, maxLat: Column): Column =
    struct(
      lit(4326).as("srid"),
      minLon.as("min_lon"), minLat.as("min_lat"),
      maxLon.as("max_lon"), maxLat.as("max_lat"))

  /** WKT rendering of the envelope — the interop surface
    * (`ST_AsText(ST_MakeEnvelope(...))` ring order: counter-clockwise
    * from (min_lon, min_lat), closed). Corner columns must render
    * identically in any engine, so callers pass integer-valued
    * corners or pre-format. */
  def envelopeWkt(minLon: Column, minLat: Column, maxLon: Column, maxLat: Column): Column =
    concat(lit("POLYGON(("),
      minLon, lit(" "), minLat, lit(","),
      maxLon, lit(" "), minLat, lit(","),
      maxLon, lit(" "), maxLat, lit(","),
      minLon, lit(" "), maxLat, lit(","),
      minLon, lit(" "), minLat, lit("))"))

  /** Gate query: envelope build over the synthetic bbox — emits the
    * flattened struct fields plus WKT from the integer corners (flat
    * columns are representation-stable across both engines' hashers;
    * the struct constructor itself is covered by SpatialSpec). */
  def geomEnvelopeQuery(s: SparkSession, d: String): DataFrame = {
    val b = ordersBbox(s, d)
      .withColumn("geom", geomEnvelope(
        col("min_lon"), col("min_lat"), col("max_lon"), col("max_lat")))
    b.select(
      col("o_orderkey"),
      col("geom.srid").as("srid"),
      col("geom.min_lon").as("g_min_lon"),
      col("geom.min_lat").as("g_min_lat"),
      col("geom.max_lon").as("g_max_lon"),
      col("geom.max_lat").as("g_max_lat"),
      envelopeWkt(
        col("geom.min_lon").cast(LongType), col("geom.min_lat").cast(LongType),
        col("geom.max_lon").cast(LongType), col("geom.max_lat").cast(LongType)).as("wkt"))
  }

  /** Envelope containment join (`ST_CoveredBy(c.geom, s.geom)` with a
    * literal query envelope, README.md:120-124): theta join against a
    * tiny broadcast dimension → BroadcastNestedLoopJoin; the fact side
    * never shuffles. For box×box joins at 100 TB the same predicate
    * runs behind a coarse-grid-cell equi-join prefix (see
    * plans/GridJoin notes). */
  def joinRangeBbox(s: SparkSession, d: String): DataFrame = {
    val envSchema = StructType(Seq(
      StructField("env_id", IntegerType, false),
      StructField("lon_lo", DoubleType, false),
      StructField("lon_hi", DoubleType, false),
      StructField("lat_lo", DoubleType, false),
      StructField("lat_hi", DoubleType, false)))
    val envs = s.createDataFrame(
      java.util.Arrays.asList(
        Row(1, -20.0, 30.0, -10.0, 40.0),
        Row(2, 100.0, 150.0, 0.0, 50.0),
        Row(3, -170.0, -110.0, -60.0, 10.0),
        Row(4, 40.0, 90.0, 30.0, 85.0)),
      envSchema)
    val b = ordersBbox(s, d)
    b.join(broadcast(envs),
        col("min_lon") >= col("lon_lo") && col("max_lon") <= col("lon_hi") &&
        col("min_lat") >= col("lat_lo") && col("max_lat") <= col("lat_hi"))
      .groupBy(col("env_id"))
      .agg(
        count(lit(1)).as("n_boxes"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  /** Default coarse-grid cell size (degrees) for the box×box join —
    * near the average box dimension (the classic grid-join optimum
    * when explode cost and candidate cost balance), and a POWER OF
    * TWO so cell bounds cx·g and the floor assignment floor(x/g) are
    * exact binary scalings: the range-form dedup predicate below is
    * then bit-equal to the floor form for every finite coordinate.
    * `joinBboxGrid` picks the size density-adaptively (see
    * [[chooseGrid]]); this is the fallback / probe default. */
  val GridDeg = 4

  /** Power-of-two check via the IEEE-754 significand: exactly the
    * values for which x/g and c·g introduce no rounding. */
  private[graft] def isPow2(g: Double): Boolean = {
    val bits = java.lang.Double.doubleToLongBits(g)
    g > 0 && java.lang.Double.isFinite(g) &&
      (bits & 0x000FFFFFFFFFFFFFL) == 0L
  }

  /** Deterministic synthetic bbox per customer (integer corners —
    * a second, non-tiny box set so the box×box join is fact×fact). */
  def customerBbox(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(
      col("c_custkey"),
      (col("c_custkey") % 340 - 170).cast(DoubleType).as("c_min_lon"),
      (col("c_custkey") * 3 % 160 - 80).cast(DoubleType).as("c_min_lat"),
      (col("c_custkey") % 340 - 170 + 1 + col("c_custkey") % 9).cast(DoubleType).as("c_max_lon"),
      (col("c_custkey") * 3 % 160 - 80 + 1 + col("c_custkey") % 7).cast(DoubleType).as("c_max_lat"))

  /** One row per grid cell covered by the box (boxes span ≤ 2×2 cells
    * here; a pathological continent-sized box should be area-filtered
    * upstream — the standard grid-join caveat). */
  private[graft] def withCellsG(df: DataFrame, g: Double, minLon: String,
      maxLon: String, minLat: String, maxLat: String): DataFrame =
    df.withColumn("cx", explode(sequence(
        floor(col(minLon) / g).cast(IntegerType),
        floor(col(maxLon) / g).cast(IntegerType))))
      .withColumn("cy", explode(sequence(
        floor(col(minLat) / g).cast(IntegerType),
        floor(col(maxLat) / g).cast(IntegerType))))

  /** Box×box INTERSECTION join at scale: the coarse-grid-cell
    * equi-join prefix (the SCALING.md spatial-join shape, same
    * candidate-then-verify pattern as the LSH dedup path). Each box
    * explodes to its covering cells; candidates meet in a plain
    * (cx, cy) hash-shuffle equi-join — never a nested-loop cross
    * product over two fact tables — and the exact interval predicate
    * verifies candidates. LOSSLESS: two axis-aligned boxes intersect
    * ⇒ their cell ranges intersect ⇒ they share ≥ 1 cell, so the
    * result equals the direct theta join (which is exactly what the
    * DuckDB oracle computes — the grid is pure physical optimization).
    *
    * Boundary-straddling pairs are deduplicated WITHOUT a shuffle by
    * the reference-cell rule (the PBSM trick — Patel & DeWitt,
    * SIGMOD 1996): a pair is emitted only by the one cell containing
    * the intersection rectangle's lower-left corner
    * (max(min_lons), max(min_lats)) — a point inside both boxes, so
    * both sides cover its cell. The duplicate-elimination
    * `dropDuplicates` exchange disappears from the plan entirely.
    *
    * PHYSICAL-PATH CHOICE (cost-based, from the same stats that size
    * the grid): at low expected candidate counts the declarative
    * equi-join form wins — it composes with Catalyst, broadcasts when
    * a side is small, and stays inside whole-stage codegen. But the
    * join is OUTPUT-bound at high density, and there the per-candidate
    * constant IS the runtime: SMJ/SHJ iterate an UnsafeRow buffer per
    * probe row (~4M candidate-evals/core/s measured at sf5). Past
    * [[KernelCandidateThreshold]] expected candidates the operator
    * switches to [[joinBboxGridLocalG]] — the PBSM/Sedona "local join"
    * kernel: same cells, same predicate, same dedup rule, but the
    * per-cell pair loop runs over primitive arrays with in-kernel
    * partial aggregation (~20x the per-candidate throughput; measured
    * 188 s → ~13 s at sf5). */
  def joinBboxGrid(s: SparkSession, d: String): DataFrame = {
    val (sa, sb) = sideStats(s, d)
    val g = chooseGrid(sa, sb)
    if (expectedCandidates(sa, sb, g) > KernelCandidateThreshold)
      joinBboxGridLocalG(s, d, g)
    else joinBboxGridG(s, d, g)
  }

  // The two-sided box stats are a pure function of the dataset and
  // cost two aggregate jobs per probe — memoize per (session, dataset)
  // like Similarity.collectCentroids, so repeated joinBboxGrid /
  // joinBboxGridLocal calls in one run scan the inputs for stats once
  // (the per-invocation probe cost join_bbox_grid +38% at sf0.1 in r7
  // while buying the 11x kernel switch at sf5).
  private[graft] val statsCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (BoxStats, BoxStats)]()

  /** Evict this session's memoized box stats (Cleanup.dropAll). */
  def dropStatsCache(s: SparkSession): Unit =
    statsCache.keySet.removeIf(_._1 eq s)

  private[graft] def sideStats(s: SparkSession, d: String): (BoxStats, BoxStats) =
    statsCache.computeIfAbsent((s, d), _ => (
      boxStats(ordersBbox(s, d), "min_lon", "max_lon", "min_lat", "max_lat"),
      boxStats(customerBbox(s, d), "c_min_lon", "c_max_lon", "c_min_lat", "c_max_lat")))

  /** Expected candidate rows (with shared-cell multiplicity) under
    * the uniform-placement model — the same estimate chooseGrid
    * minimizes, exposed for the physical-path decision. */
  private[graft] def expectedCandidates(a: BoxStats, b: BoxStats, g: Double): Double = {
    val W = math.max(a.lonExt, b.lonExt)
    val H = math.max(a.latExt, b.latExt)
    a.n.toDouble * b.n.toDouble *
      ((a.w + g) * (b.w + g) * (a.h + g) * (b.h + g)) / (g * g * W * H)
  }

  /** Crossover between the declarative join and the local kernel:
    * the kernel pays ~O(rows) dataset serde + per-cell buffering
    * (cheap, linear) to buy ~20x per-candidate throughput, so it wins
    * once candidate work dominates input work. 2e8 candidates ≈ 1.5
    * core-seconds declaratively — well past where the kernel's linear
    * overhead (~30 ns x input rows) is noise. */
  val KernelCandidateThreshold = 2e8

  /** Per-side box statistics feeding the grid-size chooser: one
    * narrow aggregate over each input (count, mean box dims, domain
    * extent). Deterministic — a pure function of the data — so the
    * chosen grid, and therefore the plan, is reproducible across
    * parallelism levels. */
  private[graft] case class BoxStats(n: Long, w: Double, h: Double,
      lonExt: Double, latExt: Double)

  private[graft] def boxStats(df: DataFrame, minLon: String, maxLon: String,
      minLat: String, maxLat: String): BoxStats = {
    val r = df.agg(
      count(lit(1)), avg(col(maxLon) - col(minLon)), avg(col(maxLat) - col(minLat)),
      min(col(minLon)), max(col(maxLon)), min(col(minLat)), max(col(maxLat))).head()
    // empty input: avg/min/max are NULL — degenerate stats keep the
    // join well-defined (it returns zero rows either way) instead of
    // throwing on getDouble
    if (r.getLong(0) == 0L) BoxStats(0L, 0.0, 0.0, 1e-9, 1e-9)
    else BoxStats(r.getLong(0), r.getDouble(1), r.getDouble(2),
      math.max(r.getDouble(4) - r.getDouble(3), 1e-9),
      math.max(r.getDouble(6) - r.getDouble(5), 1e-9))
  }

  /** Candidate grid sizes — powers of two only, so the range-form
    * dedup predicate stays exactly equivalent to floor assignment. */
  val GridCandidates: Seq[Double] = Seq(0.5, 1.0, 2.0, 4.0, 8.0, 16.0)

  /** Measured cost ratio (sf1; SCALING.md, spatial "Measured (rounds
    * 5-7)"): producing one exploded cell row (project + exchange +
    * sort) costs ~8× evaluating one candidate pair (a handful of
    * codegen'd compares). */
  val ExplodeCostRatio = 8.0

  /** Data-adaptive grid size. Modeled cost =
    * ExplodeCostRatio · Σ n·E[cells/box]  +  E[candidate rows], where
    * candidate rows carry MULTIPLICITY — the cell equi-join emits an
    * overlapping pair once per shared cell, so
    *   E[candidates] = n_a·n_b · Σ_cells P[both cover the cell]
    *                 = n_a·n_b · (w_a+g)(w_b+g)(h_a+g)(h_b+g)/(g²·W·H)
    * (a width-w box covers a fixed cell iff its min falls in a length
    * w+g window; W/g · H/g cells). Verified against the measured sf1
    * candidates (SCALING.md, spatial item 1): predicts 1.0e9
    * candidates at g=4 vs 1.02e9 measured. The
    * g² denominator vs (w+g)⁴ numerator puts the optimum near the
    * geometric mean of the box dimensions INDEPENDENT of density —
    * finer cells re-emit an overlapping pair across more shared cells
    * (g=1 measured 2.4e9 candidates, 4× slower than g=4) — while the
    * explode term nudges the pick coarser when the inputs are small. */
  private[graft] def chooseGrid(a: BoxStats, b: BoxStats): Double = {
    val W = math.max(a.lonExt, b.lonExt)
    val H = math.max(a.latExt, b.latExt)
    def cost(g: Double): Double = {
      def cells(w: Double, h: Double) = (w / g + 1.0) * (h / g + 1.0)
      val explode = a.n * cells(a.w, a.h) + b.n * cells(b.w, b.h)
      val cands = a.n.toDouble * b.n.toDouble *
        ((a.w + g) * (b.w + g) * (a.h + g) * (b.h + g)) / (g * g * W * H)
      ExplodeCostRatio * explode + cands
    }
    GridCandidates.minBy(cost)
  }

  /** Grid-size-parameterized form — lossless for any power-of-two g
    * (the grid is pure physical optimization; require() guards the
    * exactness precondition of the range-form predicate).
    *
    * The PBSM reference-cell test `cx == floor(max(min_lons)/g)` is
    * algebraically rewritten into pure comparisons against the cell's
    * precomputed bounds [clx, chx): with x = max(min_lon, c_min_lon),
    *   floor(x/g) == cx  ⟺  clx ≤ x < chx
    *   x < chx  ⟺ min_lon < chx ∧ c_min_lon < chx, and min_lon < chx
    *             holds for EVERY cell the a-box covers → dropped;
    *   x ≥ clx  ⟺ min_lon ≥ clx ∨ c_min_lon ≥ clx.
    * Net: the join's hot loop evaluates 3 compares per axis instead
    * of a division + floor + cast + greatest — on an output-bound
    * join (sf5: ~10⁹ candidates) the predicate cost IS the runtime. */
  def joinBboxGridG(s: SparkSession, d: String, g: Double): DataFrame = {
    require(isPow2(g),
      s"grid size must be a power of two for the exact range-form dedup predicate; got $g")
    val a = withCellsG(ordersBbox(s, d), g, "min_lon", "max_lon", "min_lat", "max_lat")
      .withColumn("clx", col("cx").cast(DoubleType) * g)
      .withColumn("cly", col("cy").cast(DoubleType) * g)
      .withColumn("chx", (col("cx").cast(DoubleType) + 1.0d) * g)
      .withColumn("chy", (col("cy").cast(DoubleType) + 1.0d) * g)
    val b = withCellsG(customerBbox(s, d), g, "c_min_lon", "c_max_lon", "c_min_lat", "c_max_lat")
    a.as("a").join(b.as("b"),
        col("a.cx") === col("b.cx") && col("a.cy") === col("b.cy") &&
        col("min_lon") <= col("c_max_lon") && col("max_lon") >= col("c_min_lon") &&
        col("min_lat") <= col("c_max_lat") && col("max_lat") >= col("c_min_lat") &&
        col("c_min_lon") < col("chx") &&
        (col("min_lon") >= col("clx") || col("c_min_lon") >= col("clx")) &&
        col("c_min_lat") < col("chy") &&
        (col("min_lat") >= col("cly") || col("c_min_lat") >= col("cly")))
      .select(col("o_orderkey"), col("c_custkey"))
      .groupBy(col("c_custkey"))
      .agg(
        count(lit(1)).as("n_overlaps"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  /** One exploded cell row for the local kernel (side 0 = orders,
    * 1 = customer), carrying its sub-split tile coordinates. */
  private[graft] case class CellBox(cx: Int, cy: Int, sa: Int, sb: Int,
      side: Byte, key: Long,
      minLon: Double, minLat: Double, maxLon: Double, maxLat: Double)

  /** Per-side row cap for one kernel task (`spark.graft.bbox.
    * subSplitLimit` overrides): a cell whose side exceeds it is tiled
    * into ⌈n/limit⌉ sub-keys, bounding the per-task pair loop at
    * ~limit² (≈0.8 s of kernel work at the measured pair throughput)
    * regardless of how clustered the geometry is. */
  val SubSplitSideLimit = 8192

  /** Pluggable in-kernel reducer: for each b (customer) row the
    * kernel streams the intersecting, reference-cell-deduped a
    * (order) rows — key plus intersection-rectangle extent — and the
    * reducer folds them into at most one partial row. Partials from
    * different tiles of the same b key merge in the tiny final agg of
    * the query that owns the reducer, so the ~10⁹-pair candidate
    * stream still never materializes whatever the query shape. */
  private[graft] trait PairReducer[T] extends Serializable {
    def start(bKey: Long): Unit
    def pair(aKey: Long, iw: Double, ih: Double): Unit
    def finish(): Option[T]
  }

  /** The tiled cell rows both kernels consume (cells + hot-cell
    * sub-split; see joinBboxGridLocalG's doc). */
  private[graft] def cellTiles(s: SparkSession, d: String, g: Double): Dataset[CellBox] = {
    require(isPow2(g),
      s"grid size must be a power of two for the exact range-form dedup predicate; got $g")
    import s.implicits._
    val limit = s.conf.get("spark.graft.bbox.subSplitLimit",
      SubSplitSideLimit.toString).toInt
    def cellRows(df: DataFrame, side: Int, key: String, mnx: String,
        mxx: String, mny: String, mxy: String) =
      withCellsG(df, g, mnx, mxx, mny, mxy).select(
        col("cx"), col("cy"), lit(side).cast(ByteType).as("side"),
        col(key).as("key"),
        col(mnx).as("minLon"), col(mny).as("minLat"),
        col(mxx).as("maxLon"), col(mxy).as("maxLat"))
    val a = cellRows(ordersBbox(s, d), 0, "o_orderkey",
      "min_lon", "max_lon", "min_lat", "max_lat")
    val b = cellRows(customerBbox(s, d), 1, "c_custkey",
      "c_min_lon", "c_max_lon", "c_min_lat", "c_max_lat")
    val both = a.unionByName(b)
    // cell histogram: #cells is domain-bounded (≤ (360/g)·(180/g)
    // rows), so the split factors ride a broadcast join; cells under
    // the limit get ma = mb = 1 — the un-split fast path
    val splits = both.groupBy(col("cx"), col("cy")).agg(
      greatest(lit(1L), ceil(
        sum(when(col("side") === 0, 1L).otherwise(0L)) / limit)).cast(IntegerType).as("ma"),
      greatest(lit(1L), ceil(
        sum(when(col("side") === 1, 1L).otherwise(0L)) / limit)).cast(IntegerType).as("mb"))
    both.join(broadcast(splits), Seq("cx", "cy"))
      .withColumn("rep", explode(when(col("side") === 0,
        sequence(lit(0), col("mb") - 1)).otherwise(sequence(lit(0), col("ma") - 1))))
      .select(col("cx"), col("cy"),
        when(col("side") === 0, pmod(hash(col("key")), col("ma")))
          .otherwise(col("rep")).cast(IntegerType).as("sa"),
        when(col("side") === 1, pmod(hash(col("key")), col("mb")))
          .otherwise(col("rep")).cast(IntegerType).as("sb"),
        col("side"), col("key"),
        col("minLon"), col("minLat"), col("maxLon"), col("maxLat"))
      .as[CellBox]
  }

  /** The per-tile kernel: columnarize, pair loop, reference-cell
    * dedup, reducer fold. One reducer instance per task, reset per b
    * row — no allocation in the pair loop. */
  private[graft] def kernelPartials[T: org.apache.spark.sql.Encoder](
      s: SparkSession, d: String, g: Double)(mk: () => PairReducer[T]): Dataset[T] = {
    import s.implicits._
    cellTiles(s, d, g)
      .groupByKey(r => (r.cx, r.cy, r.sa, r.sb))
      .flatMapGroups { (cell: (Int, Int, Int, Int), it: Iterator[CellBox]) =>
        val (cx, cy, _, _) = cell
        val rows = it.toArray
        val na = rows.count(_.side == 0)
        val nb = rows.length - na
        // columnarize each side: the inner loop reads flat primitives
        val aKey = new Array[Long](na)
        val aMnx = new Array[Double](na); val aMny = new Array[Double](na)
        val aMxx = new Array[Double](na); val aMxy = new Array[Double](na)
        val bKey = new Array[Long](nb)
        val bMnx = new Array[Double](nb); val bMny = new Array[Double](nb)
        val bMxx = new Array[Double](nb); val bMxy = new Array[Double](nb)
        var ia = 0; var ib = 0
        rows.foreach { r =>
          if (r.side == 0) {
            aKey(ia) = r.key; aMnx(ia) = r.minLon; aMny(ia) = r.minLat
            aMxx(ia) = r.maxLon; aMxy(ia) = r.maxLat; ia += 1
          } else {
            bKey(ib) = r.key; bMnx(ib) = r.minLon; bMny(ib) = r.minLat
            bMxx(ib) = r.maxLon; bMxy(ib) = r.maxLat; ib += 1
          }
        }
        val clx = cx * g; val chx = clx + g
        val cly = cy * g; val chy = cly + g
        val red = mk()
        val out = List.newBuilder[T]
        var bi = 0
        while (bi < nb) {
          val bmnx = bMnx(bi); val bmxx = bMxx(bi)
          val bmny = bMny(bi); val bmxy = bMxy(bi)
          red.start(bKey(bi))
          var ai = 0
          while (ai < na) {
            if (aMnx(ai) <= bmxx && aMxx(ai) >= bmnx &&
                aMny(ai) <= bmxy && aMxy(ai) >= bmny) {
              val ix = if (aMnx(ai) > bmnx) aMnx(ai) else bmnx
              val iy = if (aMny(ai) > bmny) aMny(ai) else bmny
              if (ix >= clx && ix < chx && iy >= cly && iy < chy) {
                val jx = if (aMxx(ai) < bmxx) aMxx(ai) else bmxx
                val jy = if (aMxy(ai) < bmxy) aMxy(ai) else bmxy
                red.pair(aKey(ai), jx - ix, jy - iy)
              }
            }
            ai += 1
          }
          red.finish().foreach(out += _)
          bi += 1
        }
        out.result().iterator
      }
  }

  private final class CountMinMaxReducer
      extends PairReducer[(Long, Long, Long, Long)] {
    private var b = 0L; private var cnt = 0L
    private var mn = Long.MaxValue; private var mx = Long.MinValue
    def start(bKey: Long): Unit = {
      b = bKey; cnt = 0L; mn = Long.MaxValue; mx = Long.MinValue
    }
    def pair(aKey: Long, iw: Double, ih: Double): Unit = {
      cnt += 1
      if (aKey < mn) mn = aKey
      if (aKey > mx) mx = aKey
    }
    def finish(): Option[(Long, Long, Long, Long)] =
      if (cnt > 0L) Some((b, cnt, mn, mx)) else None
  }

  /** PBSM "local join" kernel (Patel & DeWitt, SIGMOD 1996; the same
    * shape Sedona's partitioned spatial join uses): both box sets
    * explode to covering cells exactly as the declarative form, then
    * co-partition by (cell, tile) — one sort-based exchange — and run
    * the pair loop per group over PRIMITIVE arrays inside
    * flatMapGroups — intersection test, reference-cell dedup, and the
    * per-customer COUNT/MIN/MAX accumulation all happen in the
    * kernel, so the ~10⁹-row candidate stream never materializes as
    * rows at all; only |customer cell rows| partial accumulators
    * leave the kernel, into a tiny final merge agg. Semantics are
    * identical to joinBboxGridG (same cells, same closed-interval
    * predicate, same once-per-pair rule — the spec asserts result
    * equality and the gate hash-checks it against the same theta-join
    * oracle).
    *
    * This is the documented "mapPartitions as a last resort" case:
    * the declarative join already has the right PLAN (cell equi-join,
    * partial agg), but an output-bound join spends its life in the
    * per-candidate inner loop, where UnsafeRow iteration costs ~20x a
    * primitive-array compare. At 100 TB the kernel shape also holds:
    * cells shard the work arbitrarily wide, and per-task work is
    * bounded even under clustered real-world geometry (a metro-area
    * hot cell) by the PBSM tile refinement in [[cellTiles]]. NOTE a
    * `groupByKey` group is NOT split by AQE skew handling — one key
    * is one task — so the split must be in the grouping key itself: a
    * cell whose side exceeds [[SubSplitSideLimit]] is tiled by a tiny
    * broadcast cell histogram into ⌈n_a/L⌉×⌈n_b/L⌉ sub-keys (a-rows
    * hash into their `sa` stripe and replicate across `sb`, b-rows
    * mirrored), so every pair still meets in EXACTLY one
    * (cell, sa, sb) task and no task loops more than ~L² pairs.
    * Replication cost is the classic fragment-replicate √ bound: each
    * row duplicates ⌈n_other/L⌉ times only inside over-populated
    * cells. Measured (SCALING.md, spatial item 4: 100k×4k one-cell
    * fixture): unsplit = one 3.2 s task; tiled = max task 1.1 s,
    * identical output. */
  def joinBboxGridLocalG(s: SparkSession, d: String, g: Double): DataFrame = {
    import s.implicits._
    val partials = kernelPartials(s, d, g)(() => new CountMinMaxReducer)
      .toDF("c_custkey", "pcnt", "pmin", "pmax")
    partials.groupBy(col("c_custkey"))
      .agg(
        sum(col("pcnt")).as("n_overlaps"),
        min(col("pmin")).as("min_key"),
        max(col("pmax")).as("max_key"))
  }

  private final class TopOverlapReducer
      extends PairReducer[(Long, Double, Long)] {
    private var b = 0L; private var any = false
    private var bestArea = 0.0; private var bestKey = 0L
    def start(bKey: Long): Unit = { b = bKey; any = false }
    def pair(aKey: Long, iw: Double, ih: Double): Unit = {
      val area = iw * ih
      if (!any || area > bestArea || (area == bestArea && aKey < bestKey)) {
        any = true; bestArea = area; bestKey = aKey
      }
    }
    def finish(): Option[(Long, Double, Long)] =
      if (any) Some((b, bestArea, bestKey)) else None
  }

  /** Second query shape over the SAME kernel machinery (cells,
    * hot-cell tiles, reference-cell dedup): for every customer box,
    * the order box with the LARGEST intersection rectangle (ties →
    * smallest o_orderkey). The argmax merges across tiles as
    * max(struct(area, -key)) — idempotent and order-independent — so
    * the per-tile partials stay one row per (tile, customer). The
    * box coordinates are integer-valued doubles, so the areas are
    * IEEE-exact in both engines and the oracle's window argmax over
    * the direct theta join is bit-comparable. */
  def joinBboxTopOverlap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (sa, sb) = sideStats(s, d)
    val partials = kernelPartials(s, d, chooseGrid(sa, sb))(
      () => new TopOverlapReducer).toDF("c_custkey", "parea", "pkey")
    partials.groupBy(col("c_custkey"))
      .agg(max(struct(col("parea"), (-col("pkey")).as("nk"))).as("best"))
      .select(col("c_custkey"),
        (-col("best.nk")).as("o_orderkey"),
        col("best.parea").as("overlap_area"))
  }

  /** Gate entry forcing the kernel path at any density, so both
    * physical forms stay hash-checked against the same oracle. */
  def joinBboxGridLocal(s: SparkSession, d: String): DataFrame = {
    val (sa, sb) = sideStats(s, d)
    joinBboxGridLocalG(s, d, chooseGrid(sa, sb))
  }

  /** The OPTIMIZER-planned form of the box×box join: the query is the
    * NAIVE declarative overlap join — exactly what a reference user
    * writes and what vanilla Spark plans as a BroadcastNestedLoopJoin —
    * and [[graft.plans.GridBboxJoinRule]] rewrites it into the grid
    * equi-join at optimization time (same rewrite `joinBboxGridG`
    * hand-codes; same oracle as `join_bbox_grid`). The broadcast-skip
    * guard is lowered to 0 for the demonstration (the test tables fit
    * under the default 10 MB threshold, where skipping IS the right
    * call) and eagerly materialized under that setting; GridRuleSpec
    * asserts the plan shape (no nested-loop node, cells present). */
  /** Lazy form for the plan audit: rule installed, no conf toggling
    * (the audit supplies `broadcastSkipBytes=0` per check), no eager
    * checkpoint — the audited plan is the one the rewrite produces. */
  def joinBboxAutoPlan(s: SparkSession, d: String): DataFrame = {
    graft.plans.GridBboxJoinRule.install(s)
    ordersBbox(s, d).join(customerBbox(s, d),
        col("min_lon") <= col("c_max_lon") && col("max_lon") >= col("c_min_lon") &&
        col("min_lat") <= col("c_max_lat") && col("max_lat") >= col("c_min_lat"))
      .groupBy(col("c_custkey"))
      .agg(
        count(lit(1)).as("n_overlaps"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  def joinBboxAuto(s: SparkSession, d: String): DataFrame = {
    graft.plans.GridBboxJoinRule.install(s)
    val prev = s.conf.getOption(graft.plans.GridBboxJoinRule.SkipBytesKey)
    s.conf.set(graft.plans.GridBboxJoinRule.SkipBytesKey, "0")
    try {
      joinBboxAutoPlan(s, d).localCheckpoint(true)
    } finally prev match {
      case Some(v) => s.conf.set(graft.plans.GridBboxJoinRule.SkipBytesKey, v)
      case None    => s.conf.unset(graft.plans.GridBboxJoinRule.SkipBytesKey)
    }
  }

  /** Deterministic price interval per order (doubles on both engines). */
  def priceIntervals(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(
      col("o_orderkey"),
      (col("o_totalprice") - lit(1.0) -
        (col("o_orderkey") % 300).cast(DoubleType)).as("iv_lo"),
      col("o_totalprice").as("iv_hi"))

  /** Lazy form for the plan audit: the naive 1-D interval-overlap
    * theta join (`iv_lo <= band_hi && band_lo <= iv_hi`) —
    * [[graft.plans.GridBboxJoinRule]]'s single-axis shape. */
  def joinIntervalAutoPlan(s: SparkSession, d: String): DataFrame = {
    graft.plans.GridBboxJoinRule.install(s)
    priceIntervals(s, d).join(priceBands(s, d),
        col("iv_lo") <= col("band_hi") && col("band_lo") <= col("iv_hi"))
      .groupBy(col("c_custkey"))
      .agg(
        count(lit(1)).as("n_overlaps"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  /** The optimizer-planned interval-overlap join (the temporal /
    * session-overlap shape on a price axis). Cell size 256 ≈ the
    * median interval length (and a power of two, as the rule
    * requires); broadcast-skip lowered to 0 as in [[joinBboxAuto]]. */
  def joinIntervalAuto(s: SparkSession, d: String): DataFrame = {
    graft.plans.GridBboxJoinRule.install(s)
    val keys = Seq(graft.plans.GridBboxJoinRule.SkipBytesKey,
      graft.plans.GridBboxJoinRule.CellDegKey)
    val prev = keys.map(k => k -> s.conf.getOption(k)).toMap
    s.conf.set(graft.plans.GridBboxJoinRule.SkipBytesKey, "0")
    s.conf.set(graft.plans.GridBboxJoinRule.CellDegKey, "256")
    try {
      joinIntervalAutoPlan(s, d).localCheckpoint(true)
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Deterministic price band per customer (doubles on both engines —
    * identical IEEE arithmetic, so the theta predicate is bit-equal). */
  def priceBands(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(
      col("c_custkey"),
      (col("c_acctbal") * 40).as("band_lo"),
      (col("c_acctbal") * 40 + lit(1.0) +
        (col("c_custkey") % 500).cast(DoubleType)).as("band_hi"))

  /** Lazy form for the plan audit (the audit supplies the cell-width
    * and broadcast-skip confs per check). */
  def joinBandAutoPlan(s: SparkSession, d: String): DataFrame = {
    graft.plans.BandJoinRule.install(s)
    orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      .join(priceBands(s, d),
        col("o_totalprice") >= col("band_lo") && col("o_totalprice") <= col("band_hi"))
      .groupBy(col("c_custkey"))
      .agg(
        count(lit(1)).as("n_hits"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  /** The optimizer-planned point-in-interval join: the query is the
    * naive `p BETWEEN lo AND hi` theta join (the IP-range / price-band
    * lookup shape); [[graft.plans.BandJoinRule]] blocks it on
    * fixed-width cells at optimization time. Width 256 ≈ the median
    * band length (the classic blocking optimum); broadcast-skip
    * lowered to 0 for the demonstration as in [[joinBboxAuto]]. */
  def joinBandAuto(s: SparkSession, d: String): DataFrame = {
    graft.plans.BandJoinRule.install(s)
    val keys = Seq(graft.plans.BandJoinRule.SkipBytesKey,
      graft.plans.BandJoinRule.CellWidthKey)
    val prev = keys.map(k => k -> s.conf.getOption(k)).toMap
    s.conf.set(graft.plans.BandJoinRule.SkipBytesKey, "0")
    s.conf.set(graft.plans.BandJoinRule.CellWidthKey, "256")
    try {
      joinBandAutoPlan(s, d).localCheckpoint(true)
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "filter_clamp_latlon" -> filterClampLatlon _,
    "filter_area" -> filterArea _,
    "join_range_bbox" -> joinRangeBbox _,
    "join_bbox_grid" -> joinBboxGrid _,
    "join_bbox_grid_local" -> joinBboxGridLocal _,
    "join_bbox_top_overlap" -> joinBboxTopOverlap _,
    "join_bbox_auto" -> joinBboxAuto _,
    "join_band_auto" -> joinBandAuto _,
    "join_interval_auto" -> joinIntervalAuto _,
    "geom_envelope" -> geomEnvelopeQuery _
  )

  // Shared SQL fragment: the synthetic bbox (must mirror ordersBbox).
  private val bboxSql =
    """SELECT o_orderkey, o_custkey,
      |  CAST(o_orderkey % 340 - 170 AS DOUBLE) AS min_lon,
      |  CAST(o_custkey % 160 - 80 AS DOUBLE) AS min_lat,
      |  CAST(o_orderkey % 340 - 170 + 1 + o_orderkey % 7 AS DOUBLE) AS max_lon,
      |  CAST(o_custkey % 160 - 80 + 1 + o_custkey % 5 AS DOUBLE) AS max_lat
      |FROM orders""".stripMargin

  val oracles: Map[String, String] = Map(
    "filter_clamp_latlon" ->
      """SELECT o_orderkey,
        |  CAST(o_custkey % 220 - 110 AS DOUBLE) AS raw_lat,
        |  least(greatest(CAST(o_custkey % 220 - 110 AS DOUBLE), -90.0), 90.0) AS lat,
        |  least(greatest(CAST(o_custkey % 220 - 110 AS DOUBLE), -90.0), 90.0)
        |    <> CAST(o_custkey % 220 - 110 AS DOUBLE) AS was_dirty
        |FROM orders""".stripMargin,
    "filter_area" ->
      s"""WITH b AS ($bboxSql)
        |SELECT o_orderkey,
        |  CAST(floor(6371007.0 * 6371007.0 * (max_lon * pi() / 180.0 - min_lon * pi() / 180.0)
        |    * (sin(max_lat * pi() / 180.0) - sin(min_lat * pi() / 180.0)) / 1e6) AS BIGINT) AS area_km2
        |FROM b
        |WHERE 6371007.0 * 6371007.0 * (max_lon * pi() / 180.0 - min_lon * pi() / 180.0)
        |    * (sin(max_lat * pi() / 180.0) - sin(min_lat * pi() / 180.0)) < 2.0e10""".stripMargin,
    "join_range_bbox" ->
      s"""WITH b AS ($bboxSql),
        |e(env_id, lon_lo, lon_hi, lat_lo, lat_hi) AS (VALUES
        |  (1, -20.0, 30.0, -10.0, 40.0),
        |  (2, 100.0, 150.0, 0.0, 50.0),
        |  (3, -170.0, -110.0, -60.0, 10.0),
        |  (4, 40.0, 90.0, 30.0, 85.0))
        |SELECT env_id, count(*) AS n_boxes, min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM b, e
        |WHERE min_lon >= lon_lo AND max_lon <= lon_hi
        |  AND min_lat >= lat_lo AND max_lat <= lat_hi
        |GROUP BY env_id""".stripMargin,
    // ground truth is the direct theta join: the Spark side's grid
    // prefix is lossless, so no grid appears in the oracle at all
    "join_bbox_grid" ->
      s"""WITH b AS ($bboxSql),
        |cb AS (SELECT c_custkey,
        |  CAST(c_custkey % 340 - 170 AS DOUBLE) AS c_min_lon,
        |  CAST(c_custkey * 3 % 160 - 80 AS DOUBLE) AS c_min_lat,
        |  CAST(c_custkey % 340 - 170 + 1 + c_custkey % 9 AS DOUBLE) AS c_max_lon,
        |  CAST(c_custkey * 3 % 160 - 80 + 1 + c_custkey % 7 AS DOUBLE) AS c_max_lat
        |FROM customer)
        |SELECT c_custkey, count(*) AS n_overlaps,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM b, cb
        |WHERE min_lon <= c_max_lon AND max_lon >= c_min_lon
        |  AND min_lat <= c_max_lat AND max_lat >= c_min_lat
        |GROUP BY c_custkey""".stripMargin,
    // the optimizer-rewritten naive join answers the SAME question:
    // identical theta-join ground truth as the hand-built grid form
    "join_bbox_auto" ->
      s"""WITH b AS ($bboxSql),
        |cb AS (SELECT c_custkey,
        |  CAST(c_custkey % 340 - 170 AS DOUBLE) AS c_min_lon,
        |  CAST(c_custkey * 3 % 160 - 80 AS DOUBLE) AS c_min_lat,
        |  CAST(c_custkey % 340 - 170 + 1 + c_custkey % 9 AS DOUBLE) AS c_max_lon,
        |  CAST(c_custkey * 3 % 160 - 80 + 1 + c_custkey % 7 AS DOUBLE) AS c_max_lat
        |FROM customer)
        |SELECT c_custkey, count(*) AS n_overlaps,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM b, cb
        |WHERE min_lon <= c_max_lon AND max_lon >= c_min_lon
        |  AND min_lat <= c_max_lat AND max_lat >= c_min_lat
        |GROUP BY c_custkey""".stripMargin,
    // naive point-in-interval theta join; the oracle is the direct
    // predicate — the cell blocking must be invisible in the result
    "join_band_auto" ->
      """WITH pb AS (SELECT c_custkey,
        |  c_acctbal * 40 AS band_lo,
        |  c_acctbal * 40 + 1.0 + CAST(c_custkey % 500 AS DOUBLE) AS band_hi
        |FROM customer)
        |SELECT c_custkey, count(*) AS n_hits,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders, pb
        |WHERE o_totalprice >= band_lo AND o_totalprice <= band_hi
        |GROUP BY c_custkey""".stripMargin,
    // naive 1-D interval-overlap theta join; direct-predicate oracle
    "join_interval_auto" ->
      """WITH iv AS (SELECT o_orderkey,
        |  o_totalprice - 1.0 - CAST(o_orderkey % 300 AS DOUBLE) AS iv_lo,
        |  o_totalprice AS iv_hi
        |FROM orders),
        |pb AS (SELECT c_custkey,
        |  c_acctbal * 40 AS band_lo,
        |  c_acctbal * 40 + 1.0 + CAST(c_custkey % 500 AS DOUBLE) AS band_hi
        |FROM customer)
        |SELECT c_custkey, count(*) AS n_overlaps,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM iv, pb
        |WHERE iv_lo <= band_hi AND band_lo <= iv_hi
        |GROUP BY c_custkey""".stripMargin,
    // the kernel path answers the SAME question: identical theta-join
    // ground truth, so any divergence between the two physical forms
    // fails one of the two hash checks
    "join_bbox_grid_local" ->
      s"""WITH b AS ($bboxSql),
        |cb AS (SELECT c_custkey,
        |  CAST(c_custkey % 340 - 170 AS DOUBLE) AS c_min_lon,
        |  CAST(c_custkey * 3 % 160 - 80 AS DOUBLE) AS c_min_lat,
        |  CAST(c_custkey % 340 - 170 + 1 + c_custkey % 9 AS DOUBLE) AS c_max_lon,
        |  CAST(c_custkey * 3 % 160 - 80 + 1 + c_custkey % 7 AS DOUBLE) AS c_max_lat
        |FROM customer)
        |SELECT c_custkey, count(*) AS n_overlaps,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM b, cb
        |WHERE min_lon <= c_max_lon AND max_lon >= c_min_lon
        |  AND min_lat <= c_max_lat AND max_lat >= c_min_lat
        |GROUP BY c_custkey""".stripMargin,
    // same direct-theta-join ground truth, argmax query shape.
    // MEMORY-BOUNDED oracle (the sim_ivf_nprobe r12 pattern): the old
    // windowed row_number materialized+sorted every overlapping pair
    // (~billions at sf5 in the fixed-domain synthetic geometry — the
    // 70 GB DuckDB spill), while the kernel never materializes pairs.
    // All coordinates are integer-valued, so overlap_area is an exact
    // integer in [0, 35]; packing (area, -o_orderkey) into one BIGINT
    // (area*2^40 + (2^40-1 - o_orderkey)) makes the kernel's
    // (area DESC, key ASC) rule a plain streaming max() per customer —
    // the same hash-agg shape as join_bbox_grid's count oracle, which
    // passes at sf5. Decode is exact integer arithmetic.
    "join_bbox_top_overlap" ->
      s"""WITH b AS ($bboxSql),
        |cb AS (SELECT c_custkey,
        |  CAST(c_custkey % 340 - 170 AS DOUBLE) AS c_min_lon,
        |  CAST(c_custkey * 3 % 160 - 80 AS DOUBLE) AS c_min_lat,
        |  CAST(c_custkey % 340 - 170 + 1 + c_custkey % 9 AS DOUBLE) AS c_max_lon,
        |  CAST(c_custkey * 3 % 160 - 80 + 1 + c_custkey % 7 AS DOUBLE) AS c_max_lat
        |FROM customer),
        |mx AS (
        |  SELECT c_custkey, max(
        |    CAST((least(max_lon, c_max_lon) - greatest(min_lon, c_min_lon)) *
        |         (least(max_lat, c_max_lat) - greatest(min_lat, c_min_lat))
        |      AS BIGINT) * 1099511627776
        |    + (1099511627775 - o_orderkey)) AS packed
        |  FROM b, cb
        |  WHERE min_lon <= c_max_lon AND max_lon >= c_min_lon
        |    AND min_lat <= c_max_lat AND max_lat >= c_min_lat
        |  GROUP BY c_custkey)
        |SELECT c_custkey,
        |  1099511627775 - (packed % 1099511627776) AS o_orderkey,
        |  CAST(packed // 1099511627776 AS DOUBLE) AS overlap_area
        |FROM mx""".stripMargin,
    "geom_envelope" ->
      s"""WITH b AS ($bboxSql)
        |SELECT o_orderkey, 4326 AS srid,
        |  min_lon AS g_min_lon, min_lat AS g_min_lat,
        |  max_lon AS g_max_lon, max_lat AS g_max_lat,
        |  'POLYGON((' ||
        |    CAST(CAST(min_lon AS BIGINT) AS VARCHAR) || ' ' || CAST(CAST(min_lat AS BIGINT) AS VARCHAR) || ',' ||
        |    CAST(CAST(max_lon AS BIGINT) AS VARCHAR) || ' ' || CAST(CAST(min_lat AS BIGINT) AS VARCHAR) || ',' ||
        |    CAST(CAST(max_lon AS BIGINT) AS VARCHAR) || ' ' || CAST(CAST(max_lat AS BIGINT) AS VARCHAR) || ',' ||
        |    CAST(CAST(min_lon AS BIGINT) AS VARCHAR) || ' ' || CAST(CAST(max_lat AS BIGINT) AS VARCHAR) || ',' ||
        |    CAST(CAST(min_lon AS BIGINT) AS VARCHAR) || ' ' || CAST(CAST(min_lat AS BIGINT) AS VARCHAR) || '))' AS wkt
        |FROM b""".stripMargin
  )
}

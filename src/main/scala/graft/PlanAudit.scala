package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import java.nio.file.{Files, Paths}

/** Physical-plan audit: captures the formatted plan of each headline
  * query, checks the plan properties the 100 TB design depends on
  * (pushdown, pruning, broadcast, top-k, codegen), and writes
  * PLANS.md. Run: sbt "runMain graft.PlanAudit [sfDir]".
  *
  * A property failure prints AUDIT-FAIL and exits non-zero — this is
  * a plan regression test, not just documentation.
  */
object PlanAudit {

  /** needle prefixes: `EXECUTED:` looks in the post-run adaptive plan
    * (codegen markers only appear there); `ABSENT:` asserts the string
    * does NOT occur; `REGEX:` matches as a regex (`ABSENT:REGEX:`
    * asserts no match). `conf` pairs are set for plan construction and
    * restored after (e.g. disabling auto-broadcast to prove a join CAN
    * shuffle). */
  case class Check(query: String, property: String, needle: String,
      rationale: String, conf: Map[String, String] = Map.empty)

  val checks: Seq[Check] = Seq(
    Check("scan_parquet", "filter pushdown", "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate",
      "range predicate reaches the parquet reader -> row-group min/max pruning (the B-tree-index analog)"),
    // timestamp type differs by tier (driver testdata writes NTZ,
    // ScaleGen tiers session-UTC micros) — accept either encoding
    Check("scan_parquet", "column pruning", "REGEX:ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double,l_shipdate:timestamp(_ntz)?>",
      "3-column projection + filter column scans 4 of 11 columns"),
    Check("join_broadcast", "broadcast join", "BroadcastHashJoin",
      "dimension tables broadcast: the fact side never shuffles"),
    Check("join_inner_hash", "shuffle join", "REGEX:SortMergeJoin|ShuffledHashJoin",
      "fact-fact join shuffles both sides on the key when neither side is broadcast-small (asserted with auto-broadcast off; at sf0.01 AQE broadcasts it, which is also right)",
      conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("sort_limit_topk", "top-k", "TakeOrderedAndProject",
      "ORDER BY+LIMIT lowers to per-partition top-k + merge, never a global sort"),
    Check("join_range_bbox", "broadcast theta join", "BroadcastNestedLoopJoin",
      "literal-envelope containment join broadcasts the 4-row envelope table"),
    Check("join_asof", "no join operator at all", "ABSENT:Join",
      "the as-of match is a tagged union + one per-user ordered window: one shuffle, no join machinery, no ts>=ts range-join blowup"),
    Check("join_asof", "single ordered window pass", "Window",
      "latest-state carry-forward via last(_, ignoreNulls) over the per-user timeline"),
    Check("join_bbox_grid", "grid-cell equi-join, no nested loop", "ABSENT:BroadcastNestedLoopJoin",
      "fact-by-fact box intersection joins on (cx, cy) grid cells — a hash-shuffle equi-join with exact verify, never an all-pairs loop",
      conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("join_bbox_grid", "grid join shuffles on cells", "REGEX:SortMergeJoin|ShuffledHashJoin",
      "with broadcast off, candidates meet in a cell-keyed shuffle join: the scale path for box-by-box spatial joins",
      conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("join_bbox_grid_local", "no shuffle join: pairs live only inside the kernel", "ABSENT:REGEX:SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin",
      "the candidate-bound physical form: the ~1e9-row candidate stream never materializes as rows — intersection, dedup, and count/min/max run per cell over primitive arrays (the only join is the domain-bounded cell-histogram broadcast that tiles hot cells)"),
    Check("join_bbox_grid_local", "one cell co-partitioning feeds the kernel", "MapGroups",
      "cell rows meet in a single sort-based exchange into flatMapGroups; only |cell|-bounded partial accumulators leave it for the tiny merge agg"),
    Check("join_bbox_top_overlap", "argmax query rides the same kernel", "ABSENT:REGEX:SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin",
      "the pluggable in-kernel reducer answers a second query shape (largest-intersection argmax) with the identical cells/tiles/dedup machinery: pairs still never materialize as rows"),
    Check("join_bbox_top_overlap", "one cell co-partitioning feeds the kernel", "MapGroups",
      "same physical spine as join_bbox_grid_local: cell/tile rows meet in one sort-based exchange into flatMapGroups; only per-(tile, customer) argmax partials leave for the struct-max merge"),
    Check("agg_group", "partial aggregation", "HashAggregate",
      "map-side partial + final aggregate: shuffle carries group states, not rows"),
    Check("agg_group", "whole-stage codegen", "EXECUTED:*(1)",
      "exact-decimal TPC-H Q1 shape stays fully code-generated"),
    Check("win_dedup_lastwins", "single shuffle", "Window",
      "last-writer-wins dedup is one hash partitioning by key, no join"),
    Check("sim_topk", "broadcast queries", "BroadcastNestedLoopJoin",
      "query vectors broadcast; corpus scanned map-side only"),
    Check("map_contains", "codegen map predicate", "EXECUTED:*(1)",
      "property-bag containment stays inside generated code (no UDF barrier)"),
    Check("sort_seq", "no single-partition stage", "ABSENT:SinglePartition",
      "global dense numbering via range partitions + offsets: nothing funnels the table through one task"),
    Check("sim_topk", "per-partition top-k", "MapPartitions",
      "bounded heaps shrink each task to k rows per query before the merge: no corpus-sized shuffle into #queries reducers"),
    Check("dedup_simhash", "banded candidate equi-join", "chunk_val",
      "multi-index banding joins on (source, chunk_id, chunk_value): pair work is O(bucket), not O(n^2) per source"),
    Check("dedup_minhash_lsh", "native one-pass signatures", "minhash_sig",
      "shingling + 16-slot MinHash run as single native expressions in the scan projection, not 16 interpreted lambdas"),
    Check("dedup_minhash_lsh", "banded candidate equi-join", "band_key",
      "LSH bands join on (band_id, band_key): candidate generation is equi-join shaped, never all-pairs"),
    Check("dedup_minhash_lsh_bucketed", "co-located band self-join, no input shuffle",
      "ABSENT:REGEX:hashpartitioning\\(band_",
      "the persisted bucketBy(band_key) band table pre-partitions both sides of the candidate join: write-once ETL, every dedup run joins shuffle-free",
      conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("dedup_embed_cosine", "cell-blocked candidates", "imi_cell2",
      "IVF cell id is a narrow per-row argmax expression (beam-2 two-level, r9); the pair join is blocked on (label, cell), not label alone"),
    Check("dedup_embed_cosine", "zero-shuffle two-level assignment", "ABSENT:HashAggregate",
      "SemDeDup assignment uses the same beam-2 two-level (IMI) quantizer as sim_ivf_imi: top-2 supers + union-argmax in one narrow projection, O(3*sqrt(k)*d) per row — the corpus never shuffles or aggregates to get assigned"),
    Check("join_bucketed", "co-located join, no input shuffle", "ABSENT:REGEX:hashpartitioning\\(o_orderkey",
      "bucketBy layout pre-partitions both fact sides: the FK join reads buckets aligned, zero shuffle on join inputs",
      conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("sim_ann_lsh", "narrow bucket computation", "ABSENT:HashAggregate",
      "bucket id is a per-row expression over 8 literal planes: the corpus never shuffles, aggregates, or inflates 8x to get bucketed"),
    Check("sim_ivf", "zero-shuffle cell assignment", "ABSENT:HashAggregate",
      "cell id is a collected-centroid argmax projection over the scan: the corpus never shuffles or aggregates to get assigned (the old crossJoin+groupBy form shuffled one row per vector)"),
    Check("sim_ivf", "broadcast probe join", "BroadcastHashJoin",
      "queries probe their cell via a broadcast equi-join on cell id; the corpus side never moves for the probe"),
    Check("sim_ivf_imi", "zero-shuffle two-level assignment", "ABSENT:HashAggregate",
      "both quantizer levels (super argmax + in-group argmax) are native expressions in one narrow projection: the corpus never shuffles or inflates x(k/S) through a parent-map join to get assigned"),
    Check("sim_ivf_imi", "broadcast probe join", "BroadcastHashJoin",
      "the two-level form keeps the identical probe shape: queries meet the corpus in a broadcast equi-join on cell id"),
    Check("dedup_embed_cosine", "zero-shuffle cell assignment", "ABSENT:BroadcastNestedLoopJoin",
      "SemDeDup assignment has no centroid cross-join: the only shuffle left is the (label, cell) candidate equi-join itself"),
    Check("sim_ivf_nprobe", "corpus-side work unchanged under multi-probe", "ABSENT:HashAggregate",
      "nprobe=2 ranks probes on the tiny query side only: the corpus keeps the zero-shuffle nearest_centroid projection and one broadcast probe join"),
    Check("sim_ann_lsh_multiprobe", "corpus-side work unchanged under multi-probe", "ABSENT:HashAggregate",
      "the 9-bucket probe expansion explodes on the broadcast query side only; the corpus keeps the narrow literal-plane bucket projection"),
    Check("pipeline_pack", "no single-partition stage", "ABSENT:SinglePartition",
      "sequence packing buckets the token stream by doc_id DIV width (a deterministic key-derived slice) and adds per-slice offsets: a plain running-sum window would funnel each source through one task"),
    Check("pipeline_decontaminate", "corpus never shuffles", "ABSENT:REGEX:SortMergeJoin|ShuffledHashJoin",
      "eval-set grams and the contaminated-id set are both benchmark-bounded: the gram semi-join and the final anti-join broadcast, so the corpus is scanned but never exchanged",
      conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("sample_mixture", "pure projection + explode, zero exchange", "ABSENT:Exchange",
      "weighted mixing with fractional epochs is a narrow per-row decision plus a generator: the corpus is scanned once and never shuffled, joined, or aggregated"),
    Check("text_repetition", "row-local repetition stats", "ABSENT:REGEX:hashpartitioning\\(",
      "duplicate/top-2-gram fractions are intra-document: one projection over the scan, no hash shuffle, no window, no join (the only exchange is local-mode round-robin spread)"),
    Check("sim_topk_int8", "broadcast quantized queries", "BroadcastNestedLoopJoin",
      "the int8 query codes broadcast; the corpus scan scores integer dot products map-side only"),
    Check("sim_topk_int8", "per-partition top-k", "MapPartitions",
      "bounded heaps shrink each task to k rows per query before the merge — same two-level shape as the float path, no corpus-sized shuffle into #queries reducers"),
    Check("sim_ivf_int8", "zero-shuffle two-level assignment", "ABSENT:HashAggregate",
      "the production pair routes like sim_ivf_imi: both quantizer levels plus the int8 codes are expressions in one narrow corpus projection — assignment and quantization never shuffle, aggregate, or inflate the corpus"),
    Check("sim_ivf_int8", "broadcast probe join", "BroadcastHashJoin",
      "quantized queries probe their IMI cell via a broadcast equi-join on cell id; the int8 corpus side never moves for the probe"),
    Check("sim_ivf_int8_bucketed", "serve scan reads materialized codes", "REGEX:ReadSchema: struct<vec_id:bigint,cell:",
      "the persisted index is write-once ETL: the corpus side of the serve plan is a bare bucketed scan of (vec_id, cell, c_scale, cq) — assignment and quantization run only on the query rows at serve time, never over the corpus"),
    Check("sim_ivf_int8_bucketed", "index-aligned probe: corpus side never exchanges", "ABSENT:REGEX:hashpartitioning\\(cell",
      "with broadcast off, the probe equi-join clusters on cell — which the bucketBy(cell) layout already satisfies, so only the tiny query side shuffles; the index is written once and served forever without moving",
      conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("sim_ivf_pq_bucketed", "PQ serve scan reads the 8-byte codes only", "REGEX:ReadSchema: struct<vec_id:bigint,cell:bigint,codes",
      "the SAME bucketBy(cell) index serves every code family: the PQ path column-prunes to (vec_id, cell, codes) — 8 bytes of payload per vector, no float or int8 column read, no assignment or encoding at serve time"),
    Check("sim_ivf_pq_bucketed", "PQ probe: corpus side never exchanges", "ABSENT:REGEX:hashpartitioning\\(cell",
      "the ADC probe join clusters on cell, already satisfied by the index bucketing — only the tiny query LUT table moves",
      conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("sim_ivf_pq16", "finer-geometry encode is one narrow corpus projection", "ABSENT:REGEX:hashpartitioning\\(cell",
      "the 16x4x16 family reuses the whole PQ chain unchanged: IMI assignment + residual + pq_encode are expressions in one corpus projection — doubling code entropy changed constants, not the plan; the corpus never exchanges on cell"),
    Check("sim_ivf_pq16", "broadcast probe join", "BroadcastHashJoin",
      "the per-query ADC LUT table broadcasts to the candidates' cells; the coded corpus side never moves for the probe"),
    Check("text_surprisal", "corpus-side scoring is a narrow projection", "ABSENT:REGEX:hashpartitioning\\(",
      "below the approx_count_distinct vocabulary gate the frequency table is collected once and applied as a literal map: the scored corpus never hash-shuffles (the wordcount runs eagerly as its own bounded job)"),
    Check("text_surprisal", "over-threshold vocab downgrades to the join form", "REGEX:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
      "past the vocabulary gate the token bits come from an explode + join on token and a per-document re-aggregation: one extra corpus pass, zero driver-side vocabulary state — a web-scale vocab never visits the driver",
      conf = Map("spark.graft.surprisal.maxVocab" -> "0")),
    Check("text_surprisal_joined", "join form holds no driver state", "REGEX:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
      "the named join-form entry (oracle-shared with text_surprisal, the join_bbox_grid_local pattern): frequency table meets the exploded corpus in a join, never a collected literal"),
    Check("multimodal_audio_windows", "zero-exchange feature extraction", "ABSENT:Exchange",
      "PCM decode + windowing are row-local over the asset scan: no shuffle anywhere in the feature plan"),
    Check("dedup_incremental_bucketed", "corpus side served from the bucketed index", "Bucketed: true",
      "incremental admission reads corpus bands from the same persisted bucketBy(band_key) layout the full dedup builds: the corpus-side scan is bucketed, so only the (small) fresh-batch band table shuffles to meet it",
      conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("dedup_incremental_bucketed", "exactly one band exchange: the fresh batch, never the index", "COUNT1:REGEX:hashpartitioning\\(band_",
      "the candidate join clusters on the band keys; the bucketBy(band_key) layout already satisfies it for the corpus scan, so the plan carries exactly ONE band exchange — the small fresh-batch side moving to the data",
      conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("dedup_minhash_lsh_capped", "hot-band list broadcasts to flag band rows", "REGEX:BroadcastHashJoin.*LeftOuter|LeftOuter, BuildRight",
      "the over-cap bucket list is data-derived and tiny (<= 4n/cap keys), so it broadcasts to split the band table into cold (exact all-pairs) and hot (O(b) star-pair) branches — a mass-duplicated template costs linear candidates instead of quadratic"),
    Check("dedup_substring", "duplicated-gram count combines map-side", "REGEX:HashAggregate.*partial_count|partial_count",
      "the per-gram occurrence count is partial-aggregable: a boilerplate K-run duplicated across the whole corpus combines inside each map task before the gram-key shuffle — the suffix-array original has no sharded analog of this at all"),
    Check("dedup_substring", "hit flag-back is a semi-join on the gram key", "REGEX:SortMergeJoin.*LeftSemi|ShuffledHashJoin.*LeftSemi",
      "positions meet their duplicated grams in a left-semi equi-join on the 64-bit md5 prefix (with broadcast off it shuffles on that fixed-width key); AQE's skew split handles web-hot grams",
      conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("dedup_substring", "no all-pairs operator anywhere", "ABSENT:REGEX:BroadcastNestedLoopJoin|CartesianProduct",
      "span-level exact dedup never compares documents pairwise: duplication is a property of a gram's corpus-wide count, so the whole query is scans, one count, one semi-join, and per-document aggregates",
      conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("dedup_substring_bucketed", "corpus gram index served bucketed", "Bucketed: true",
      "substring admission probes the persisted bucketBy(g) corpus gram index: the corpus side of the semi-join scans in place",
      conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("dedup_substring_bucketed", "exactly one gram exchange: the batch, never the index", "COUNT1:REGEX:hashpartitioning\\(g#",
      "the flag-back semi-join clusters on the gram key; the bucketed layout already satisfies it for the corpus scan, so only the small fresh-batch gram table moves to the data",
      conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("text_bm25_topk", "postings tf combines map-side", "REGEX:HashAggregate.*partial_count|partial_count",
      "the inverted-index build is one partial-aggregable groupBy on the 64-bit gram hash: boilerplate grams combine inside each map task before the term-key shuffle"),
    Check("text_bm25_topk", "query vocabulary broadcasts to prune postings", "BroadcastHashJoin",
      "the tiny query-gram set broadcasts and prunes the postings stream map-side FIRST — df and BM25 weights are computed over the pruned candidates, so the corpus-wide term dictionary is never aggregated"),
    Check("text_bm25_bucketed", "postings index served bucketed", "Bucketed: true",
      "retrieval reads the persisted bucketBy(g) postings index: postings arrive already clustered by term, the write-once ETL layout every retrieval run reuses"),
    Check("text_bm25_bucketed", "zero gram-keyed exchanges: neither the index nor the vocabulary", "COUNT0:REGEX:hashpartitioning\\(g#",
      "document frequencies were denormalized into the index at write time (the IR-dictionary layout), so serving aggregates nothing per-gram, and since r18 the single (query_id, g) term broadcast replaced the separate distinct-g pruning table — no exchange anywhere is keyed on the gram alone; the corpus postings never move"),
    Check("pipeline_decontaminate_bm25", "eval vocabulary broadcasts to prune postings", "BroadcastHashJoin",
      "the benchmark-bounded eval gram set broadcasts exactly like the query vocabulary in text_bm25_topk: the corpus postings stream is pruned map-side before any scoring work, and the corpus itself never exchanges to meet the eval set"),
    Check("sim_hybrid_rrf", "dense side rides the bounded-heap scan", "MapPartitions",
      "the fused plan reuses sim_topk's two-level top-k — per-task bounded heaps, no corpus-sized shuffle into #queries reducers — while the sparse side keeps the broadcast-pruned postings join; fusion itself touches only 2k rows per query"),
    Check("sim_hybrid_rrf_ann", "dense side rides the ANN cell probe, not the exact scan", "ABSENT:MapPartitions",
      "the index-scale hybrid replaces the O(corpus·d)-per-query exact dense list with the IMI-routed int8 cell probe (a broadcast equi-join on cell id over one narrow code projection); no bounded-heap kernel appears because no corpus-wide scoring happens"),
    Check("sim_hybrid_rrf_ann", "ANN probe is a broadcast equi-join on the cell id", "BroadcastHashJoin",
      "the tiny quantized query set broadcasts to meet the corpus code projection on cell equality — per-query work is one cell's codes, the sublinear serve shape the dense side inherits from sim_ivf_int8"),
    Check("text_classify_nb", "training counts combine map-side", "REGEX:HashAggregate.*partial_count|partial_count",
      "NB training is two partial-aggregable groupBys over the token stream: per-(class, token) counts combine inside each map task, the shuffle carries states not token rows"),
    Check("join_bbox_auto", "optimizer rewrites the naive theta join to grid cells", "graft_cx",
      "users write the declarative overlap join; GridBboxJoinRule plans it — the exploded cell columns in the optimized plan are the rewrite's signature",
      conf = Map(graft.plans.GridBboxJoinRule.SkipBytesKey -> "0")),
    Check("join_bbox_auto", "no nested loop after rewrite", "ABSENT:REGEX:BroadcastNestedLoopJoin|CartesianProduct",
      "the naive form would plan as an O(n*m) nested loop over two fact tables; after the rewrite no nested-loop node survives at any broadcast setting",
      conf = Map(graft.plans.GridBboxJoinRule.SkipBytesKey -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("join_bbox_auto", "rewritten join shuffles on cells", "REGEX:SortMergeJoin|ShuffledHashJoin",
      "with broadcast off the rewritten candidates meet in a cell-keyed shuffle equi-join — identical physical shape to the hand-built join_bbox_grid",
      conf = Map(graft.plans.GridBboxJoinRule.SkipBytesKey -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    // EP3: SQL text lowers to the same physical plans as the DSL —
    // including the injected optimizer rule firing on a SQL-typed join
    Check("sql_bbox_auto", "optimizer rewrites the SQL-typed theta join to grid cells", "graft_cx",
      "a psql-style user types the naive overlap join as SQL text; GridBboxJoinRule plans it identically to the DataFrame form",
      conf = Map(graft.plans.GridBboxJoinRule.SkipBytesKey -> "0")),
    Check("sql_bbox_auto", "no nested loop after SQL-typed rewrite", "ABSENT:REGEX:BroadcastNestedLoopJoin|CartesianProduct",
      "the SQL parse path must not bypass the rule: no nested-loop node survives at any broadcast setting",
      conf = Map(graft.plans.GridBboxJoinRule.SkipBytesKey -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("sql_envelope_join", "SQL containment join broadcasts the envelope VALUES", "BroadcastNestedLoopJoin",
      "the README's envelope-containment query typed as SQL plans exactly like join_range_bbox: 4-row inline VALUES broadcast, fact side never shuffles"),
    Check("sql_area_filter", "injected bbox_area expression reachable from SQL", "bbox_area",
      "the custom Catalyst expression appears in the SQL-typed plan — the hstore/PostGIS extension analog is the session function registry"),
    Check("sql_map_contains", "SQL property-bag predicate stays code-generated", "EXECUTED:*(1)",
      "map_contains_key typed as SQL text compiles into whole-stage codegen like the DSL form"),
    Check("join_band_auto", "optimizer blocks the BETWEEN join on cells", "graft_pcell",
      "the point-in-interval (IP-range / price-band lookup) shape: BandJoinRule adds floor(p/w) to the point side and explodes intervals to covered cells — the cell columns are the rewrite's signature",
      conf = Map(graft.plans.BandJoinRule.SkipBytesKey -> "0",
        graft.plans.BandJoinRule.CellWidthKey -> "256")),
    Check("join_band_auto", "no nested loop after rewrite", "ABSENT:REGEX:BroadcastNestedLoopJoin|CartesianProduct",
      "two fact tables meet on the cell equi-join with the original predicate as verify, never an O(n*m) loop",
      conf = Map(graft.plans.BandJoinRule.SkipBytesKey -> "0",
        graft.plans.BandJoinRule.CellWidthKey -> "256",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("join_interval_auto", "optimizer rewrites the 1-D overlap join on one cell axis", "graft_cx",
      "the temporal/session interval-overlap shape: a single cell dimension blocks both interval sides — one Generate per side, no second axis",
      conf = Map(graft.plans.GridBboxJoinRule.SkipBytesKey -> "0",
        graft.plans.GridBboxJoinRule.CellDegKey -> "256")),
    Check("join_interval_auto", "exactly one cell axis, no nested loop", "ABSENT:REGEX:graft_cy|BroadcastNestedLoopJoin|CartesianProduct",
      "the 1-D form must not pay a second explode, and the two fact interval tables never meet in an O(n*m) loop",
      conf = Map(graft.plans.GridBboxJoinRule.SkipBytesKey -> "0",
        graft.plans.GridBboxJoinRule.CellDegKey -> "256",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("join_band_auto", "point side never explodes", "ABSENT:REGEX:Generate.*graft_pcell",
      "the point side gains its cell as a narrow projection (one row in, one row out) — only the band side explodes, and a point's unique cell makes the rewrite duplicate-free with no reference-cell test",
      conf = Map(graft.plans.BandJoinRule.SkipBytesKey -> "0",
        graft.plans.BandJoinRule.CellWidthKey -> "256")),
    Check("join_bloom_prefilter", "bloom probe compiled into the probe scan stage", "bloom_might_contain",
      "the serialized filter rides the plan as a literal; the probe is one codegen mightContainLong per row in the scan's Filter — rows the build side can't match die before the wire",
      conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Check("join_bloom_prefilter", "exact semi-join stays downstream of the prefilter", "REGEX:SortMergeJoin.*LeftSemi|ShuffledHashJoin.*LeftSemi",
      "false positives (1% budget) are dropped by the real join, so the answer is bit-identical to the plain semi-join — the bloom changes where rows die, never the result",
      conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")))

  private var lastPlan: String = ""

  def main(args: Array[String]): Unit = {
    val failed = Probe.run() { h => audit(h.spark, args.headOption.getOrElse("/root/testdata/sf0.01")) }
    if (failed > 0) sys.exit(1)
  }

  /** Evaluate every check, write PLANS.md; returns the failure count. */
  private def audit(spark: SparkSession, sfDir: String): Int = {

    def withConf[T](conf: Map[String, String])(body: => T): T = {
      val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    // operators whose public form eagerly localCheckpoints (cache
    // hygiene) return an opaque checkpoint scan — audit the lazy plan
    // that executes inside the materialization instead
    val planOnly: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      Map("dedup_simhash" -> graft.operators.Dedup.dedupSimhashPlan _,
        "dedup_minhash_lsh" -> graft.operators.Dedup.dedupMinhashLshPlan _,
        "dedup_minhash_lsh_bucketed" -> graft.operators.Dedup.dedupMinhashLshBucketedPlan _,
        "dedup_incremental_bucketed" -> graft.operators.Dedup.dedupIncrementalBucketedPlan _,
        "dedup_minhash_lsh_capped" -> graft.operators.Dedup.dedupMinhashLshCappedPlan _,
        "dedup_substring_bucketed" -> graft.operators.Dedup.dedupSubstringBucketedPlan _,
        // the equi-join-shape checks are about the DECLARATIVE form;
        // the public operator cost-switches to the local kernel at
        // high density (audited separately as join_bbox_grid_local)
        "join_bbox_grid" ->
          ((s: SparkSession, d: String) =>
            graft.operators.Spatial.joinBboxGridG(s, d, graft.operators.Spatial.GridDeg)),
        "join_bbox_auto" -> graft.operators.Spatial.joinBboxAutoPlan _,
        "join_band_auto" -> graft.operators.Spatial.joinBandAutoPlan _,
        "join_interval_auto" -> graft.operators.Spatial.joinIntervalAutoPlan _,
        "sql_bbox_auto" -> graft.operators.SqlSurface.sqlBboxAutoPlan _)
    def build(name: String) =
      planOnly.getOrElse(name, SparkEntry.queries(name))(spark, sfDir)
    val audited = checks.map(_.query).distinct
    val plans: Map[String, String] = audited.map { name =>
      name -> build(name).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    }.toMap
    // post-execution final plans (AQE reveals codegen only after run) —
    // only for queries an EXECUTED: check actually reads; the rest of
    // the audit is explain-only (the default-conf form of the
    // rule-demonstration queries would otherwise RUN as a nested loop)
    val executedNeeded =
      checks.filter(_.needle.startsWith("EXECUTED:")).map(_.query).distinct
    val executed: Map[String, String] = executedNeeded.map { name =>
      val df = build(name)
      df.collect() // finalize this queryExecution's adaptive plan
      name -> df.queryExecution.executedPlan.toString
    }.toMap
    def planHas(c: Check): Boolean = {
      val plan =
        if (c.conf.nonEmpty) withConf(c.conf) {
          build(c.query).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        }
        else if (c.needle.startsWith("EXECUTED:")) executed(c.query)
        else plans(c.query)
      lastPlan = plan
      c.needle match {
        case n if n.startsWith("EXECUTED:") => plan.contains(n.stripPrefix("EXECUTED:"))
        case n if n.startsWith("ABSENT:REGEX:") =>
          n.stripPrefix("ABSENT:REGEX:").r.findFirstIn(plan).isEmpty
        case n if n.startsWith("ABSENT:") => !plan.contains(n.stripPrefix("ABSENT:"))
        case n if n.startsWith("REGEX:") => n.stripPrefix("REGEX:").r.findFirstIn(plan).nonEmpty
        case n if n.startsWith("COUNT1:REGEX:") =>
          n.stripPrefix("COUNT1:REGEX:").r.findAllIn(plan).size == 1
        case n if n.startsWith("COUNT0:REGEX:") =>
          n.stripPrefix("COUNT0:REGEX:").r.findAllIn(plan).isEmpty
        case n => plan.contains(n)
      }
    }

    var failed = 0
    var dumpIdx = 0
    val md = new StringBuilder
    md.append("# PLANS — physical-plan audit of the headline operators\n\n")
    md.append("Generated by `graft.PlanAudit` (a plan regression test: each\n")
    md.append("property below is asserted against the current optimizer output).\n")
    md.append(s"Scale factor dir: `$sfDir`.\n\n")
    md.append("| query | property | status | why it matters at 100 TB |\n|---|---|---|---|\n")
    checks.foreach { c =>
      val ok = planHas(c)
      if (!ok) {
        failed += 1
        println(s"AUDIT-FAIL ${c.query}: ${c.property} (missing: ${c.needle})")
        // dump the exact plan the check evaluated (the conf'd variant
        // differs from the PLANS.md rendering) for diagnosis
        val dump = Paths.get(s"target/audit-fail-$dumpIdx-${c.query}.txt")
        Files.createDirectories(dump.getParent)
        Files.writeString(dump, lastPlan)
        dumpIdx += 1
      }
      md.append(s"| `${c.query}` | ${c.property} | ${if (ok) "OK" else "**MISSING**"} | ${c.rationale} |\n")
    }
    md.append("\n## Formatted plans\n")
    audited.foreach { name =>
      md.append(s"\n### $name\n\n```\n${plans(name).trim.take(4000)}\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), md.toString)
    println(s"PLANS.md written; ${checks.size - failed}/${checks.size} plan properties hold")
    failed
  }
}

package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._

/** Benchmark main (driver contract): runs the headline operator set on
  * `SPARK_GRAFT_SF_DIR` and prints exactly ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * The printed line is kept COMPACT (contract keys + per-query medians
  * + ingest throughput only, < ~1.5 KB): the driver captures a bounded
  * tail of sbt output, and round 5's line — which inlined every
  * per-run sample — overflowed that window, truncating the line's head
  * and leaving the round with `"parsed": null` instead of numbers.
  * The full per-run detail (EVERY sample behind each median, so a
  * machine-contention outlier is visible in the artifact instead of
  * silently skewing it — the round-3 lesson: one anomalous 49 s run
  * recorded as a 13× "regression" that never existed) now goes to
  * `BENCH_DETAIL.json` in the working directory, committed per round.
  * `ingest_rows_per_sec` (distributed-XML bulk-load throughput,
  * directly comparable to the reference's 3,000–4,600 changesets/sec
  * single-thread rate, BASELINE.md) stays on the printed line.
  */
object Bench {

  /** Representative headline queries (one per operator family);
    * the full inventory runs in Verify, correctness-gated. */
  private val headline: Seq[String] = Seq(
    "scan_parquet",        // pushdown scan
    "filter_pred",         // predicates
    "agg_group",           // TPC-H Q1 shape, exact decimals
    "agg_distinct",        // shuffle-heavy distinct
    "join_inner_hash",     // fact-fact join
    "join_broadcast",      // star join, broadcast dims
    "join_bucketed",       // co-located zero-shuffle FK join (read-only)
    "join_asof",           // as-of match via union + ordered window
    "win_dedup_lastwins",  // window dedup
    "sort_limit_topk",     // top-k
    "map_contains",        // property-bag predicate
    "join_range_bbox",     // spatial theta join (tiny envelope set)
    "join_bbox_grid",      // fact-fact box join, cost-chosen physical form
    // (join_bbox_grid_local is gate-checked + probe-measured, not a
    // headline entry: it would double-count the heaviest query in
    // `total` — the auto form already takes the kernel path at sf>=1)
    "dedup_minhash_lsh",   // MinHash+LSH near-dup
    "dedup_substring",     // span-level ExactSubstr coverage (r10 — grows `total` by one entry)
    "dedup_embed_cosine",  // SemDeDup cell-blocked embedding near-dup
    "sim_topk",            // brute-force cosine top-k (exact; bounded-heap scan)
    "sim_topk_int8",       // quantized top-k (integer dot products)
    "sim_ivf_imi",         // two-level quantizer: O(2·sqrt(k)·d) assignment
    "text_tokens",         // text analysis
    "text_bm25_topk",      // sparse n-gram BM25 retrieval (r10 — grows `total` by one entry)
    "text_repetition",     // row-local Gopher repetition stats
    "agg_heavy_hitters",   // SpaceSaving sketch + exact recount
    "stream_window_agg",   // streaming windowed agg
    "stream_source_v2",    // V2 source AvailableNow drain
    "pipeline_curate")     // end-to-end curation pipeline

  /** Deliberately-kept BASELINE forms, benched for the ablation table
    * but excluded from `total` (VERDICT r10 item 4: sim_ivf's flat
    * O(n²/cellsize) assignment was 14% of the sf5 headline total —
    * the production router is sim_ivf_imi, which stays headline). */
  private val ablations: Seq[String] = Seq(
    "sim_ivf")             // flat-assignment IVF (ablation vs the IMI router)

  /** Base samples per query median (SPARK_GRAFT_RUNS to override): the
    * r8 map_contains "regression" was median noise over 3 samples with
    * a 0.48–0.88 s spread — a wider run count pins whether a delta is
    * a plan change or contention (BENCH_r09_sf0.1_detail.json: 7). */
  private def runsPerQuery: Int =
    sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt

  /** Queries whose base runs show a relative spread above this extend
    * to `maxRuns` samples (r11 VERDICT item 2: 3 samples cannot
    * resolve a 20% delta — sf5 pipeline_curate rode a ±15% spread and
    * dedup_minhash_lsh's "+26%" sat inside its own 5.5–7.0 s runs).
    * Sampling adapts to the measured noise instead of paying 7 runs
    * everywhere: a tight query stays at 3, a noisy one earns the
    * extra 4. The per-query variance budget is reported as MAD in
    * BENCH_DETAIL; a cross-round delta within 3×MAD of either round
    * is run noise, not a regression (the stated budget a claim must
    * clear — SCALING.md). */
  private val SpreadThreshold = 0.10
  private def maxRuns: Int =
    sys.env.getOrElse("SPARK_GRAFT_MAX_RUNS", "7").toInt

  def main(args: Array[String]): Unit = Probe.run() { h =>
    val spark = h.spark
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // spill accounting (r11 VERDICT item 4 — the memory-pressure
    // proof): stage-level memory/disk spill bytes, read around each
    // query so a constrained-heap run documents WHERE the operators
    // spill instead of asserting they don't; scan-side accounting (r12
    // VERDICT item 6): bytes/records read from storage per query, so an
    // I/O-bound step change (e.g. the join_bucketed sf5 ratio) is
    // confirmed from the metrics instead of asserted from the plan. The
    // meter drains the listener bus before every reading, so per-query
    // attribution is exact, not one-trailing-stage fuzzy.
    val meter = new Probe.StageMeter(spark)

    // SPARK_GRAFT_ONLY (r16): resolved before the warmups so a
    // targeted single-query invocation skips the bucketed-table ETL
    // it would never read — selection only, measured code unchanged
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // warm the session (codegen, parquet footers) outside timing
    Tables.lineitem(spark, sfDir).count()
    Tables.events(spark, sfDir).count()
    // the bucketed LAYOUT is write-time ETL, not query work: build it
    // once here so join_bucketed times the read-only co-located join
    val (bktOrders, bktLineitem) =
      if (only.forall(_.contains("join_bucketed")))
        graft.operators.Relational.buildBucketedTables(spark, sfDir)
      else ("", "")
    // per-run cleanup hooks (run OUTSIDE timing): a query that stages
    // an invocation-scoped cache registers its release here, so run 2
    // never reuses run 1's cache (leaked caches flatten medians) and
    // the release isn't charged to the measurement.
    val cleanups = scala.collection.mutable.Map[String, () => Unit]()
    val benchFns: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      SparkEntry.queries +
        ("join_bucketed" ->
          ((s: SparkSession, _: String) =>
            graft.operators.Relational.joinBucketedOn(s, bktOrders, bktLineitem))) +
        // bench the operator itself (signatures + banded join + verify),
        // not Verify's cache-hygiene localCheckpoint write (r4: +0.5 s
        // of checkpoint I/O charged to the query)
        ("dedup_minhash_lsh" ->
          ((s: SparkSession, dd: String) => {
            val (df, cl) = graft.operators.Dedup.dedupMinhashLshStaged(s, dd)
            cleanups("dedup_minhash_lsh") = cl
            df
          }))

    val runs = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val ablRuns = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val warmups = scala.collection.mutable.LinkedHashMap[String, Double]()
    val stages = scala.collection.mutable.LinkedHashMap[String, Probe.Stages]()
    def benchInto(out: scala.collection.mutable.LinkedHashMap[String, Seq[Double]])(
        name: String): Unit = {
      val fn = benchFns(name)
      def sample(): Double = {
        val t = Probe.timed(fn(spark, sfDir).write.mode("overwrite").format("noop").save())._2
        cleanups.remove(name).foreach(_.apply())
        t
      }
      try {
        // one DISCARDED warmup run per query: the first execution pays
        // codegen compilation, class loading, and memoized-index
        // builds — r10's medians drifted +27% at sf0.1 purely because
        // run-1 (≈1.5× run-3, BENCH_DETAIL) sat inside a 3-sample
        // median. The warmup is recorded in BENCH_DETAIL (visible,
        // never silently dropped) but excluded from the median, so
        // the artifact reports steady-state.
        warmups += name -> sample()
        val before = meter.read()
        val base = (1 to runsPerQuery).map(_ => sample())
        // adaptive widening: a noisy query earns extra samples so its
        // median can actually resolve a cross-round delta
        val spread = (base.max - base.min) / math.max(Probe.median(base), 1e-9)
        out += name -> (if (spread <= SpreadThreshold || base.size >= maxRuns) base
          else base ++ (base.size until maxRuns).map(_ => sample()))
        stages += name -> (meter.read() - before)
      } catch { case _: Throwable =>
        cleanups.remove(name).foreach(_.apply())
        out += name -> Seq(-1.0)
      }
    }
    // SPARK_GRAFT_ONLY: targeted subset for PAIRED experiments
    // (r16 — the join_inner_hash attribution A/B runs one query per
    // invocation to pair at the query level instead of ~2 min apart
    // inside a full bench). Selection only: warmup, sampling, and the
    // measured code are byte-identical to the full run.
    def selected(names: Seq[String]): Seq[String] =
      only.fold(names)(o => names.filter(o))
    selected(headline).foreach(benchInto(runs))
    // deliberately-kept baseline forms: measured, reported under
    // "ablations", excluded from `total` so the headline curve is the
    // production path
    selected(ablations).foreach(benchInto(ablRuns))
    // distributed XML bulk-load throughput (EP1 analog) — a named
    // bench metric (`ingest_bulk`, VERDICT r4 item 8) so the
    // 3,000–4,600 rows/s baseline comparison is pinned by the harness.
    // Kept OUT of `total`, which stays the headline-query sum
    // (comparable across rounds). Same 3-sample + MAD discipline as
    // every other row (r14 VERDICT item 5 — it was the one
    // headline-adjacent metric reported at n=1); the reported rate
    // uses the MEDIAN run.
    val ingestSamples =
      if (only.forall(_.contains("ingest_bulk")))
        (1 to 3).map(_ => xmlIngestBench(h))
      else Seq((0L, 0.0))
    val ingestRows = ingestSamples.head._1
    val ingestSec = Probe.median(ingestSamples.map(_._2))
    if (only.forall(_.contains("ingest_bulk")))
      runs += "ingest_bulk" -> ingestSamples.map(_._2)
    def medians(rs: Iterable[(String, Seq[Double])]): Seq[(String, Double)] =
      rs.map { case (k, v) => k -> (if (v.exists(_ < 0)) -1.0 else Probe.median(v)) }.toSeq
    def obj(kvs: Iterable[(String, JValue)]): JValue = JObject(kvs.toList)
    val total = medians(runs).collect {
      case (k, v) if v >= 0 && k != "ingest_bulk" => v }.sum
    val rate = if (ingestSec > 0) (ingestRows / ingestSec).round else 0L
    val mb = 1024 * 1024
    val spill = meter.read()
    // per-sample averages: the accumulated window covers the timed
    // samples only (warmup excluded by the reading placement); divide
    // bytes by run count BEFORE flooring to KB (flooring first zeroed
    // any query reading < nRuns MB total — r13 ADVICE); KB resolution
    // keeps small-tier I/O visible
    def perRun(k: String, st: Probe.Stages): (String, JValue) = {
      val n = math.max(1, (runs ++ ablRuns)(k).length)
      k -> (("read_kb_per_run" -> st.inputBytes / n / 1024) ~
        ("records_per_run" -> st.inputRecords / n))
    }
    Probe.save("BENCH_DETAIL.json",
      ("runs" -> obj((runs ++ ablRuns).map { case (k, v) => k -> JArray(v.map(Probe.num(_)).toList) })) ~
      ("mad" -> obj((runs ++ ablRuns).collect {
        case (k, v) if !v.exists(_ < 0) => k -> Probe.num(Probe.mad(v)) })) ~
      ("warmup" -> obj(warmups.map { case (k, v) => k -> Probe.num(v) })) ~
      ("spread_threshold" -> SpreadThreshold) ~
      ("spills" -> obj(stages.map { case (k, st) =>
        k -> (("mem_spill_mb" -> st.memSpillBytes / mb) ~ ("disk_spill_mb" -> st.diskSpillBytes / mb)) })) ~
      ("inputs" -> obj(stages.map { case (k, st) => perRun(k, st) })) ~
      ("total_mem_spill_mb" -> spill.memSpillBytes / mb) ~
      ("total_disk_spill_mb" -> spill.diskSpillBytes / mb) ~
      ("heap_max_mb" -> Runtime.getRuntime.maxMemory() / mb) ~
      ("ingest_rows" -> ingestRows) ~ ("sf" -> sfDir))
    // headline error bar (r16 VERDICT item 7): the first number anyone
    // reads carries its own spread — `total_mad` is the sum of
    // per-query MADs (conservative: MADs are not additive, the sum
    // upper-bounds the robust spread of the total), so a cross-round
    // total delta inside ~3× the larger round's total_mad is run
    // noise, not a regression. Full per-sample detail: BENCH_DETAIL.
    val totalMad = runs.collect {
      case (k, v) if !v.exists(_ < 0) && k != "ingest_bulk" => Probe.mad(v) }.sum
    // the headline is the last stdout line (sbt's `run` forwards the
    // fork's stdout undecorated); the same line goes to
    // BENCH_HEADLINE.json next to BENCH_DETAIL.json
    Probe.emit(
      ("metric" -> "total") ~ ("value" -> Probe.num(total)) ~ ("unit" -> "sec") ~
        ("queries" -> obj(medians(runs).map { case (k, v) => k -> Probe.num(v) })) ~
        ("ablations" -> obj(medians(ablRuns).map { case (k, v) => k -> Probe.num(v) })) ~
        ("total_mad" -> Probe.num(totalMad)) ~
        ("ingest_rows_per_sec" -> rate) ~ ("sf" -> sfDir),
      Some("BENCH_HEADLINE.json"))
  }

  /** Generate an OSM-shaped XML dump and measure scan→cast→tag-fold→
    * parquet-write wall time (the reference's whole EP1 pipeline). */
  private def xmlIngestBench(h: Probe.Harness, n: Int = 120000,
      nFiles: Int = 8): (Long, Double) = {
    val dir = h.tempDir("graft_bench_xml")
    val per = n / nFiles
    (0 until nFiles).foreach { f =>
      val sb = new StringBuilder(per * 260)
      sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n")
      var i = f * per
      val end = i + per
      while (i < end) {
        val lat = ((i % 160) - 80).toDouble; val lon = ((i % 340) - 170).toDouble
        sb.append(s"""<changeset id="$i" created_at="2015-11-${1 + i % 28}T${i % 24}:00:01Z" """)
        if (i % 3 != 0) sb.append(s"""closed_at="2015-11-${1 + i % 28}T${i % 24}:05:01Z" """)
        sb.append(s"""open="${i % 3 == 0}" num_changes="${i % 500}" user="user${i % 5000}" uid="${i % 5000}" """)
        sb.append(s"""min_lat="${lat + 0.1}" max_lat="${lat + 0.9}" min_lon="${lon + 0.1}" max_lon="${lon + 0.9}">""")
        sb.append(s"""<tag k="created_by" v="JOSM/1.5 (${i % 900})"/>""")
        if (i % 4 == 0) sb.append(s"""<tag k="comment" v="edit number $i"/>""")
        sb.append("</changeset>\n")
        i += 1
      }
      sb.append("</osm>\n")
      Files.writeString(dir.resolve(f"part$f%02d.osm.xml"), sb.toString)
    }
    val ((rows, _), sec) = Probe.timed(graft.sources.BulkLoad.run(
      h.spark, dir.toString + "/part*.osm.xml", dir.resolve("out").toString))
    // 3 samples per bench run now (r15): don't accumulate temp trees
    graft.streaming.PartitionedTable.deleteRecursively(dir)
    (rows, sec)
  }
}

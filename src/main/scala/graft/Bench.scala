package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.Files

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

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Median absolute deviation — the robust spread the medians ride. */
  private def mad(xs: Seq[Double]): Double = {
    val m = median(xs); median(xs.map(x => math.abs(x - m)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")

    // spill accounting (r11 VERDICT item 4 — the memory-pressure
    // proof): stage-level memory/disk spill bytes, snapshotted around
    // each query so a constrained-heap run documents WHERE the
    // operators spill instead of asserting they don't. Listener events
    // are async, so the bus is DRAINED before every snapshot
    // (ListenerFlush) — per-query attribution is exact, not
    // one-trailing-stage fuzzy.
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    // scan-side accounting (r12 VERDICT item 6): bytes/records read
    // from storage per query, so an I/O-bound step change (e.g. the
    // join_bucketed sf5 ratio) is confirmed from the metrics instead
    // of asserted from the plan
    val inputBytes = new java.util.concurrent.atomic.AtomicLong
    val inputRecs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        spillMem.addAndGet(sc.stageInfo.taskMetrics.memoryBytesSpilled)
        spillDisk.addAndGet(sc.stageInfo.taskMetrics.diskBytesSpilled)
        inputBytes.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.bytesRead)
        inputRecs.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.recordsRead)
      }
    })

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

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    val runs = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val ablRuns = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val warmups = scala.collection.mutable.LinkedHashMap[String, Double]()
    val spills = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
    val inputs = scala.collection.mutable.LinkedHashMap[String, (Long, Long, Int)]()
    def benchInto(out: scala.collection.mutable.LinkedHashMap[String, Seq[Double]])(
        name: String): Unit = {
      val fn = benchFns(name)
      try {
        // one DISCARDED warmup run per query: the first execution pays
        // codegen compilation, class loading, and memoized-index
        // builds — r10's medians drifted +27% at sf0.1 purely because
        // run-1 (≈1.5× run-3, BENCH_DETAIL) sat inside a 3-sample
        // median. The warmup is recorded in BENCH_DETAIL (visible,
        // never silently dropped) but excluded from the median, so
        // the artifact reports steady-state.
        warmups += name ->
          time(fn(spark, sfDir).write.mode("overwrite").format("noop").save())
        cleanups.remove(name).foreach(_.apply())
        def sample(): Double = {
          val t = time(fn(spark, sfDir).write.mode("overwrite").format("noop").save())
          cleanups.remove(name).foreach(_.apply())
          t
        }
        org.apache.spark.graftbridge.ListenerFlush.waitUntilEmpty(spark.sparkContext)
        val (m0, d0) = (spillMem.get(), spillDisk.get())
        val (b0, r0) = (inputBytes.get(), inputRecs.get())
        val base = (1 to runsPerQuery).map(_ => sample())
        // adaptive widening: a noisy query earns extra samples so its
        // median can actually resolve a cross-round delta
        val spread = (base.max - base.min) / math.max(median(base), 1e-9)
        out += name -> (if (spread <= SpreadThreshold || base.size >= maxRuns) base
          else base ++ (base.size until maxRuns).map(_ => sample()))
        org.apache.spark.graftbridge.ListenerFlush.waitUntilEmpty(spark.sparkContext)
        spills += name -> (spillMem.get() - m0, spillDisk.get() - d0)
        inputs += name -> (inputBytes.get() - b0, inputRecs.get() - r0,
          out(name).length)
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
        (1 to 3).map(_ => xmlIngestBench(spark))
      else Seq((0L, 0.0))
    val ingestRows = ingestSamples.head._1
    val ingestSec = median(ingestSamples.map(_._2))
    if (only.forall(_.contains("ingest_bulk")))
      runs += "ingest_bulk" -> ingestSamples.map(_._2)
    val medians = runs.map { case (k, v) =>
      k -> (if (v.exists(_ < 0)) -1.0 else median(v)) }

    // Locale.ROOT pins the decimal separator: the default-locale f"%"
    // interpolator would emit "1,234" on comma-decimal locales,
    // breaking the contract line's JSON (r6 ADVICE).
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val ablMedians = ablRuns.map { case (k, v) =>
      k -> (if (v.exists(_ < 0)) -1.0 else median(v)) }
    val qs = medians.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
    val as = ablMedians.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
    val rs = (runs ++ ablRuns).map { case (k, v) =>
      s""""$k":${v.map(fmt).mkString("[", ",", "]")}""" }.mkString("{", ",", "}")
    val mads = (runs ++ ablRuns).collect { case (k, v) if !v.exists(_ < 0) =>
      s""""$k":${fmt(mad(v))}""" }.mkString("{", ",", "}")
    val ws = warmups.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
    val total = medians.collect {
      case (k, v) if v >= 0 && k != "ingest_bulk" => v }.sum
    val rate = if (ingestSec > 0) (ingestRows / ingestSec).round else 0L
    graft.operators.Cleanup.dropAll(spark)
    val sp = spills.map { case (k, (m, dk)) =>
      s""""$k":{"mem_spill_mb":${m / (1024 * 1024)},"disk_spill_mb":${dk / (1024 * 1024)}}""" }
      .mkString("{", ",", "}")
    // per-sample averages: the accumulated window covers the timed
    // samples only (warmup excluded by the snapshot placement)
    // divide bytes by run count BEFORE flooring to KB (flooring first
    // zeroed any query reading < nRuns MB total — r13 ADVICE); KB
    // resolution keeps small-tier I/O visible
    val inp = inputs.map { case (k, (b, r, nRuns)) =>
      s""""$k":{"read_kb_per_run":${b / math.max(1, nRuns) / 1024},""" +
        s""""records_per_run":${r / math.max(1, nRuns)}}""" }
      .mkString("{", ",", "}")
    val heapMax = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val detail = s"""{"runs":$rs,"mad":$mads,"warmup":$ws,""" +
      s""""spread_threshold":$SpreadThreshold,"spills":$sp,"inputs":$inp,""" +
      s""""total_mem_spill_mb":${spillMem.get() / (1024 * 1024)},""" +
      s""""total_disk_spill_mb":${spillDisk.get() / (1024 * 1024)},""" +
      s""""heap_max_mb":$heapMax,"ingest_rows":$ingestRows,"sf":"$sfDir"}"""
    Files.writeString(java.nio.file.Paths.get("BENCH_DETAIL.json"), detail + "\n")
    // headline error bar (r16 VERDICT item 7): the first number anyone
    // reads carries its own spread — `total_mad` is the sum of
    // per-query MADs (conservative: MADs are not additive, the sum
    // upper-bounds the robust spread of the total), so a cross-round
    // total delta inside ~3× the larger round's total_mad is run
    // noise, not a regression. Full per-sample detail: BENCH_DETAIL.
    val totalMad = runs.collect {
      case (k, v) if !v.exists(_ < 0) && k != "ingest_bulk" => mad(v) }.sum
    val headlineLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
        s""""ablations":$as,"total_mad":${fmt(totalMad)},""" +
        s""""ingest_rows_per_sec":$rate,"sf":"$sfDir"}"""
    // the println goes through sbt's logger, which prefixes "[info] "
    // and appends a "[success]" line — the driver's extractor missed it
    // in BOTH r16 and r17 ("parsed": null). Write the exact same line
    // to a file next to BENCH_DETAIL.json so the contract survives any
    // log decoration (r17 VERDICT item 1).
    Files.writeString(java.nio.file.Paths.get("BENCH_HEADLINE.json"),
      headlineLine + "\n")
    println(headlineLine)
    spark.stop()
  }

  /** Generate an OSM-shaped XML dump and measure scan→cast→tag-fold→
    * parquet-write wall time (the reference's whole EP1 pipeline). */
  private def xmlIngestBench(spark: SparkSession, n: Int = 120000,
      nFiles: Int = 8): (Long, Double) = {
    val dir = Files.createTempDirectory("graft_bench_xml")
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
    val out = dir.resolve("out").toString
    val t0 = System.nanoTime()
    val (rows, _) = graft.sources.BulkLoad.run(
      spark, dir.toString + "/part*.osm.xml", out)
    val sec = (System.nanoTime() - t0) / 1e9
    // 3 samples per bench run now (r15): don't accumulate temp trees
    graft.streaming.PartitionedTable.deleteRecursively(dir)
    (rows, sec)
  }
}

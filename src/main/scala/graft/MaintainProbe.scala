package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._
import graft.Probe.{mad, median, num, timed}

/** Measures the index-maintenance trilogy's scale contract: merging a
  * FIXED-SIZE arriving batch into a standing index costs about the
  * same however large the standing index is — per-trigger work is
  * proportional to the BATCH, never to the index. For the BM25
  * postings index and the frozen-quantizer ANN index, a constant
  * 500-doc/500-vector batch (deterministic md5-order prefix of the
  * arrival slice, so the same documents at every tier that contains
  * them) is appended into standing indexes built from tiers 10×
  * apart in size; reported per (family × tier): standing rows, batch
  * rows, derived bucket count, touched buckets, append seconds.
  *
  * The derived bucket count grows with the standing corpus
  * (`spark.graft.bucket.targetRows`), so bucket SIZE is bounded —
  * the property that keeps a touched-bucket rewrite O(bucket), and
  * therefore the whole merge O(batch × bucket), at any corpus size.
  *
  * Usage: runMain graft.MaintainProbe [outFile] [sfDir ...]
  */
object MaintainProbe {

  /** Runs of the tiered loop per tier: its fold schedule follows an
    * EWMA of wall-clock serve times, so one run cannot tell a cadence
    * change from noise. */
  private val TieredRuns = 3

  def main(args: Array[String]): Unit = Probe.run() { h =>
    val spark = h.spark
    val out = args.headOption.getOrElse("MAINTAIN_r12.json")
    val tiers = if (args.length > 1) args.drop(1).toSeq
      else Seq("/root/testdata/sf0.1", "/root/repo/testdata-local/sf1")
    // bounded bucket size: the derived bucket count must grow with
    // the standing corpus for the O(bucket) touched-rewrite bound
    spark.conf.set("spark.graft.bucket.targetRows", (1 << 16).toString)
    import graft.operators.{LayoutRegistry, Retrieval, Similarity}

    def fixedBatch(df: DataFrame, key: String): DataFrame = {
      val b = df.filter(Retrieval.isArrival(col(key)))
        .orderBy(md5(col(key).cast("string")), col(key)).limit(500).cache()
      b.count(); b
    }

    val rows = tiers.map { d =>
      val tag = d.split('/').last
      val wd = java.nio.file.Files.createTempDirectory("graft_maintprobe")
      try {
        // ---- BM25 postings family --------------------------------
        val docs = Tables.documents(spark, d)
        val arrD = fixedBatch(docs, "doc_id")
        val idx = Retrieval.buildMaintained(spark, wd.resolve("bm25"),
          docs.filter(!Retrieval.isArrival(col("doc_id"))))
        val standingP = idx.postings.read(spark).count()
        val batchP = Retrieval.postingsOf(arrD).cache()
        val batchPRows = batchP.count()
        // the streaming loop's per-trigger path: O(batch) segment write
        val segDir = wd.resolve("bm25segs")
        java.nio.file.Files.createDirectories(segDir)
        val (seg, secSeg) = timed(Retrieval.writeSegment(segDir, 0L, batchP))
        // the deferred per-epoch fold (one bucketed-base rewrite)
        val (_, secFold) = timed(Retrieval.foldSegments(spark, idx,
          Seq(0 -> seg), Seq.empty, 1L))
        // ablation: the DIRECT bucketed merge per batch — gram keys
        // are uniform, so this touches ~every bucket and its cost
        // tracks the STANDING index, which is why the streaming loop
        // does not do this per trigger
        val (touchedP, secP) = timed(
          idx.postings.appendInto(spark, batchP, Some("probe" -> 2L)))
        val (_, secDl) = timed(idx.doclens.mergeInto(spark,
          Retrieval.doclensOf(arrD), Some("probedl" -> 2L)))
        // ---- frozen-quantizer ANN family -------------------------
        val e = Tables.embeddings(spark, d)
        val arrV = fixedBatch(e, "vec_id")
        val (supers, groups) = Similarity.twoLevelIndexOf(
          Similarity.collectCentroidsOf(
            e.filter(!Retrieval.isArrival(col("vec_id")))))
        def rowsOf(df: DataFrame): DataFrame =
          Similarity.int8Rows(df, graft.functions.ImiCell2.cell(_, supers, groups))
        val baseV = rowsOf(e.filter(!Retrieval.isArrival(col("vec_id"))))
        val nbV = LayoutRegistry.derivedBuckets(spark, baseV.count())
        val pt = new graft.streaming.PartitionedTable(
          wd.resolve("ann"), "cell", nbV)
        pt.appendInto(spark, baseV, Some("p" -> 0L))
        val standingV = pt.read(spark).count()
        val batchV = rowsOf(arrV).cache()
        val batchVRows = batchV.count()
        val vSegDir = wd.resolve("annsegs")
        java.nio.file.Files.createDirectories(vSegDir)
        val (vSeg, secVSeg) = timed {
          val p = vSegDir.resolve("seg0000")
          batchV.write.mode("overwrite").parquet(p.toString); p
        }
        val (_, secVFold) = timed(
          pt.appendInto(spark, spark.read.parquet(vSeg.toString),
            Some("p" -> 1L)))
        val (touchedV, secV) = timed(
          pt.appendInto(spark, batchV, Some("p" -> 2L)))
        // ---- serve latency vs UNFOLDED segment count (r11 age-out) --
        // the LSM read path between folds is base ∪ segments: each
        // unfolded segment adds a leaf scan, so serve degrades with
        // segment count — the number that sets the fold cadence. Land
        // the same fixed batch as 32 hash-split segments, serve at
        // S ∈ {0, 8, 32}, then ONE fold + compact + prune and the
        // post-OPTIMIZE serve + worst-bucket file count.
        // Runs against a FRESH index over the non-arrival base: `idx`
        // above has already absorbed arrD twice (fold at txn 1 +
        // direct-append ablation), so measuring on it would serve an
        // index with inflated tf/row counts and overstate steady state.
        val idxS = Retrieval.buildMaintained(spark, wd.resolve("bm25srv"),
          docs.filter(!Retrieval.isArrival(col("doc_id"))))
        val sSegDir = wd.resolve("bm25servesegs")
        java.nio.file.Files.createDirectories(sSegDir)
        val segN = 32
        val arrSeg = arrD.withColumn("__seg",
          pmod(hash(col("doc_id")), lit(segN)))
        val pSegs = (0 until segN).map { k =>
          Retrieval.writeSegment(sSegDir.resolve("p"), k.toLong,
            Retrieval.postingsOf(arrSeg.filter(col("__seg") === k).drop("__seg")))
        }
        val dSegs = (0 until segN).map { k =>
          Retrieval.writeSegment(sSegDir.resolve("d"), k.toLong,
            Retrieval.doclensOf(arrSeg.filter(col("__seg") === k).drop("__seg")))
        }
        val qterms = Retrieval.queryGramsOf(docs)
        def serveSec(n: Int): Double = timed(
          Retrieval.serveWithSegments(spark, idxS, pSegs.take(n), dSegs.take(n),
            qterms).write.mode("overwrite").format("noop").save())._2
        serveSec(0) // warm the serve path (codegen) outside the samples
        val serveBySeg = Seq(0, 8, 32).map(n => n -> serveSec(n))
        // ---- r17 (r16 VERDICT item 5): does ONE run of 32 serve like
        // one leaf or like 32? The r16 loop improved serve p50 only
        // ~2-3% over single-level; suspected mechanism: mergeRun
        // inherited one part-file per input split, so a run of k tiny
        // segments kept ~k files — same opens as the segments it
        // replaced. mergeRun now size-coalesces; this measures the
        // corrected form: serve over {base}, {base+1 run(32)},
        // {base+32 loose}, 3 samples each, medians.
        def med3(f: => Double): Double = Seq(f, f, f).sorted.apply(1)
        val pRunAll = graft.streaming.LsmFold.mergeRun(spark,
          wd.resolve("bm25srvruns/p"), 0, pSegs.zipWithIndex.map(_.swap))
        val dRunAll = graft.streaming.LsmFold.mergeRun(spark,
          wd.resolve("bm25srvruns/d"), 0, dSegs.zipWithIndex.map(_.swap))
        val runFiles = graft.streaming.PartitionedTable
          .listDir(pRunAll._2).count(_.getFileName.toString.endsWith(".parquet"))
        val serveBase3 = med3(serveSec(0))
        val serveRun3 = med3(timed(Retrieval.serveWithSegments(spark, idxS,
          Seq(pRunAll._2), Seq(dRunAll._2), qterms)
          .write.mode("overwrite").format("noop").save())._2)
        val serveLoose3 = med3(serveSec(32))
        println(f"[maintain] $tag run-vs-segments: base=$serveBase3%.2f " +
          f"run1(32)=$serveRun3%.2f loose32=$serveLoose3%.2f " +
          s"run_files=$runFiles")
        // the tiered loop's seeds, from this curve: tax = least-squares
        // slope of serve-vs-segments per SEGMENT; the policy prices per
        // FILE and these segments are multi-file, so its per-file seed
        // divides by their average files-per-segment (r17 ADVICE; the
        // EWMA recalibrates from the first observed serve either way)
        val taxSeed = math.max(1e-3,
          graft.streaming.TieredFoldPolicy.estimateTaxPerSegment(serveBySeg))
        val filesPerSeg = math.max(1.0,
          (pSegs ++ dSegs).map(graft.streaming.LsmFold.parquetFiles).sum.toDouble /
            (pSegs.size + dSegs.size))
        val (_, secFoldServe) = timed(Retrieval.foldSegments(spark, idxS,
          pSegs.zipWithIndex.map(_.swap), dSegs.zipWithIndex.map(_.swap), 9L))
        idxS.postings.compact(spark)
        idxS.doclens.compact(spark)
        graft.streaming.LsmFold.prune(pSegs ++ dSegs)
        val servePost = serveSec(0)
        val maxFiles = idxS.postings.manifest.values.map { rel =>
          graft.streaming.PartitionedTable.listDir(
            idxS.postings.dir.resolve(rel))
            .count(_.getFileName.toString.endsWith(".parquet"))
        }.max
        val segsLeft = Seq("p", "d").map(n => sSegDir.resolve(n))
          .filter(java.nio.file.Files.exists(_))
          .map(p => graft.streaming.PartitionedTable.listDir(p).size).sum
        println(f"[maintain] $tag serve-vs-segments: " +
          serveBySeg.map { case (n, t) => f"S$n=$t%.2f" }.mkString(" ") +
          f" post_fold=$servePost%.2f files/bucket<=$maxFiles segs_left=$segsLeft")
        // ---- r17 (r16 VERDICT item 2): attribute the 39.4 s sf1 base
        // fold — is fold-to-base over RUN parts (few large dirs)
        // systematically more expensive than over the same rows as
        // loose segments? Controlled within-session A/B on idxS:
        // alternate 3 loose-shape folds (32 parts) and 3 run-shape
        // folds (4 runs of 8), fresh sub-batch ids per fold so markers
        // never filter; run-merge time excluded from the fold clock.
        // Postings standing grows ~batch rows per fold (append) —
        // noise against the sf0.1/sf1 standing index the fold rewrites.
        def mkAbSegs(idBase: Int, sub: String): (Seq[(Int, java.nio.file.Path)], Seq[(Int, java.nio.file.Path)]) = {
          val pd = wd.resolve(s"ab$sub/p"); val dd = wd.resolve(s"ab$sub/d")
          java.nio.file.Files.createDirectories(pd)
          java.nio.file.Files.createDirectories(dd)
          val ps = (0 until segN).map { k =>
            (idBase + k) -> Retrieval.writeSegment(pd, (idBase + k).toLong,
              Retrieval.postingsOf(arrSeg.filter(col("__seg") === k).drop("__seg")))
          }
          val ds = (0 until segN).map { k =>
            (idBase + k) -> Retrieval.writeSegment(dd, (idBase + k).toLong,
              Retrieval.doclensOf(arrSeg.filter(col("__seg") === k).drop("__seg")))
          }
          (ps, ds)
        }
        var abVer = 50L
        val foldLoose = scala.collection.mutable.ArrayBuffer[Double]()
        val foldRuns = scala.collection.mutable.ArrayBuffer[Double]()
        (0 until 3).foreach { i =>
          val (psL, dsL) = mkAbSegs(100 * (2 * i + 1), s"L$i")
          foldLoose += timed(Retrieval.foldSegments(spark, idxS, psL, dsL, abVer))._2
          abVer += 1
          val (psR, dsR) = mkAbSegs(100 * (2 * i + 2), s"R$i")
          val rd = wd.resolve(s"abruns$i")
          val pRunParts = (0 until 4).map(j => graft.streaming.LsmFold.mergeRun(
            spark, rd.resolve("p"), j, psR.slice(j * 8, j * 8 + 8)))
          val dRunParts = (0 until 4).map(j => graft.streaming.LsmFold.mergeRun(
            spark, rd.resolve("d"), j, dsR.slice(j * 8, j * 8 + 8)))
          foldRuns += timed(Retrieval.foldPaired(spark, idxS,
            pRunParts, dRunParts, abVer))._2
          abVer += 1
        }
        println(f"[maintain] $tag fold-shape-ab: " +
          s"loose=${foldLoose.map(x => f"$x%.3f").mkString(",")} " +
          s"runs=${foldRuns.map(x => f"$x%.3f").mkString(",")}")
        // ---- TIERED policy loop (r16): the serve-interleaved cadence
        // the gate entries never see — one serve per landed segment, on
        // the same Epoch the maintain loops run: mid-epoch folds go to
        // flat-priced RUNS (O(segments since last run fold)), the
        // O(standing) base rewrite is paid only when the run tax has
        // accrued to it or at epoch close. The artifact claim: per-fold
        // mid-epoch cost stays FLAT across the epoch (the single-level
        // loop's fold cost grew with every fold — MAINTAIN_r15 sf1:
        // 8.2 → 27.6 s within one epoch).
        def tieredRun(): (Seq[Double], Seq[graft.streaming.Epoch.Fold]) = {
          val tPolicy = new graft.streaming.TieredFoldPolicy(
            initialRunFoldCostSec = math.max(0.05, secSeg),
            initialBaseFoldCostSec = secFoldServe,
            initialTaxPerFileSec = taxSeed / filesPerSeg)
          graft.streaming.Epoch.run(spark, "graft_maintprobe_tier", tPolicy) { ep =>
            val base = docs.filter(!Retrieval.isArrival(col("doc_id")))
            val idxT = Retrieval.maintainedIndex(spark, ep.dir.resolve("idx"), base)
            val dl = ep.table(idxT.doclens, "bm25dl", merge = true)
            val post = ep.table(idxT.postings, "bm25idx", merge = false,
              Retrieval.pairMarkerOf(idxT))
            Retrieval.seedMaintained(spark, idxT, base)
            def serveT(): Double = timed(
              Retrieval.serveWithSegments(spark, idxT, ep.leaves(post),
                ep.leaves(dl), qterms)
                .write.mode("overwrite").format("noop").save())._2
            val base0T = serveT()
            val secs = (0 until segN).map { k =>
              val batch = arrSeg.filter(col("__seg") === k).drop("__seg")
              ep.land(post, k, Retrieval.postingsOf(batch))
              ep.land(dl, k, Retrieval.doclensOf(batch))
              val sec = serveT()
              ep.onServe(Some(sec), base0T)
              sec
            }
            ep.finish()
            (secs, ep.folds)
          }
        }
        def schedule(serveSecs: Seq[Double], folds: Seq[graft.streaming.Epoch.Fold]): JObject = {
          val runFolds = folds.count(_.level == "run")
          ("fold_at_segments" -> folds.map(_.atSegment)) ~
            ("fold_levels" -> folds.map(_.level)) ~
            ("fold_secs" -> folds.map(f => num(f.sec))) ~
            ("total_fold_secs" -> num(folds.map(_.sec).sum)) ~
            ("realized_run_folds" -> runFolds) ~
            ("realized_base_folds" -> (folds.size - runFolds)) ~
            ("serve_secs" -> serveSecs.map(num(_)))
        }
        val tiered = (1 to TieredRuns).map(_ => tieredRun())
        val bills = tiered.map(_._2.map(_.sec).sum)
        tiered.foreach { case (_, folds) =>
          println(f"[maintain] $tag tiered-loop: " +
            s"fold_at=${folds.map(_.atSegment).mkString(",")} " +
            s"levels=${folds.map(_.level).mkString(",")} " +
            s"fold_secs=${folds.map(f => f"${f.sec}%.3f").mkString(",")}")
        }
        // the top-level schedule is the run whose fold bill is the median
        val (medServe, medFolds) = tiered(bills.indexOf(median(bills)))
        println(f"[maintain] $tag bm25: standing=$standingP%,d batch=$batchPRows%,d " +
          f"buckets=${idx.postings.nBuckets} touched=${touchedP.size} " +
          f"seg=$secSeg%.2f fold=$secFold%.2f direct=${secP + secDl}%.2f")
        println(f"[maintain] $tag ann:  standing=$standingV%,d batch=$batchVRows%,d " +
          f"buckets=$nbV touched=${touchedV.size} " +
          f"seg=$secVSeg%.2f fold=$secVFold%.2f direct=$secV%.2f")
        tag -> (
          ("bm25" ->
            ("standing_rows" -> standingP) ~ ("batch_rows" -> batchPRows) ~
            ("buckets" -> idx.postings.nBuckets) ~ ("touched_buckets" -> touchedP.size) ~
            ("segment_write_sec" -> num(secSeg)) ~ ("fold_sec" -> num(secFold)) ~
            ("direct_merge_sec" -> num(secP + secDl)) ~
            ("serve_sec_by_unfolded_segments" ->
              JObject(serveBySeg.map { case (n, t) => n.toString -> num(t) }.toList)) ~
            ("serve_run_vs_segments" ->
              ("base_med3" -> num(serveBase3)) ~ ("one_run_of_32_med3" -> num(serveRun3)) ~
              ("loose_32_med3" -> num(serveLoose3)) ~ ("run_files" -> runFiles)) ~
            ("fold_shape_ab" ->
              ("loose_secs" -> foldLoose.map(num(_))) ~ ("run_secs" -> foldRuns.map(num(_)))) ~
            ("epoch_fold_sec" -> num(secFoldServe)) ~
            ("serve_sec_post_fold" -> num(servePost)) ~
            ("postings_files_per_bucket_max_post_optimize" -> maxFiles) ~
            ("segments_after_prune" -> segsLeft) ~
            ("policy_loop_tiered" -> (
              ("seed_run_fold_sec" -> num(math.max(0.05, secSeg))) ~
              ("seed_base_fold_sec" -> num(secFoldServe)) ~
              ("seed_tax_sec_per_file" -> num(taxSeed)) ~
              schedule(medServe, medFolds) ~
              ("runs" -> tiered.map { case (sv, f) => schedule(sv, f) }) ~
              ("total_fold_secs_median" -> num(median(bills))) ~
              ("total_fold_secs_mad" -> num(mad(bills)))))) ~
          ("ann" ->
            ("standing_rows" -> standingV) ~ ("batch_rows" -> batchVRows) ~
            ("buckets" -> nbV) ~ ("touched_buckets" -> touchedV.size) ~
            ("segment_write_sec" -> num(secVSeg)) ~ ("fold_sec" -> num(secVFold)) ~
            ("direct_merge_sec" -> num(secV))))
      } finally {
        graft.streaming.PartitionedTable.deleteRecursively(wd)
      }
    }
    Probe.emit(("metric" -> "index_maintain") ~ ("batch_docs" -> 500) ~
      ("note" -> ("fixed-size batch into standing indexes 10x apart: the per-trigger " +
        "segment write is O(batch) and stays flat; the direct bucketed merge is the " +
        "ablation - uniform keys touch every bucket so its cost tracks the standing " +
        "index, which is why the streaming loops fold segments once per epoch instead")) ~
      ("tiers" -> JObject(rows.toList)), Some(out))
  }
}

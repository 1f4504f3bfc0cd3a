package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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

  private def timeIt[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Locale-pinned seconds formatting for the JSON artifact — the
    * f"%.3f" interpolator uses the JVM default locale, which on a
    * comma-decimal locale would emit malformed JSON (0,412). */
  private def s3(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("MAINTAIN_r12.json")
    val tiers = if (args.length > 1) args.drop(1).toSeq
      else Seq("/root/testdata/sf0.1", "/root/repo/testdata-local/sf1")
    val spark = GraftSession()
    // bounded bucket size: the derived bucket count must grow with
    // the standing corpus for the O(bucket) touched-rewrite bound
    spark.conf.set("spark.graft.bucket.targetRows", (1 << 16).toString)
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.{Retrieval, Similarity}

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
        val (seg, secSeg) = timeIt(Retrieval.writeSegment(segDir, 0L, batchP))
        // the deferred per-epoch fold (one bucketed-base rewrite)
        val (_, secFold) = timeIt(Retrieval.foldSegments(spark, idx,
          Seq(0 -> seg), Seq.empty, 1L))
        // ablation: the DIRECT bucketed merge per batch — gram keys
        // are uniform, so this touches ~every bucket and its cost
        // tracks the STANDING index, which is why the streaming loop
        // does not do this per trigger
        val (touchedP, secP) = timeIt(
          idx.postings.appendInto(spark, batchP, Some("probe" -> 2L)))
        val (_, secDl) = timeIt(idx.doclens.mergeInto(spark,
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
        val nbV = Similarity.derivedBuckets(spark, baseV.count(),
          "spark.graft.ann.maintain.buckets")
        val pt = new graft.streaming.PartitionedTable(
          wd.resolve("ann"), "cell", nbV)
        pt.appendInto(spark, baseV, Some("p" -> 0L))
        val standingV = pt.read(spark).count()
        val batchV = rowsOf(arrV).cache()
        val batchVRows = batchV.count()
        val vSegDir = wd.resolve("annsegs")
        java.nio.file.Files.createDirectories(vSegDir)
        val (vSeg, secVSeg) = timeIt {
          val p = vSegDir.resolve("seg0000")
          batchV.write.mode("overwrite").parquet(p.toString); p
        }
        val (_, secVFold) = timeIt(
          pt.appendInto(spark, spark.read.parquet(vSeg.toString),
            Some("p" -> 1L)))
        val (touchedV, secV) = timeIt(
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
        def serveSec(n: Int): Double = timeIt(
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
        val serveRun3 = med3(timeIt(Retrieval.serveWithSegments(spark, idxS,
          Seq(pRunAll._2), Seq(dRunAll._2), qterms)
          .write.mode("overwrite").format("noop").save())._2)
        val serveLoose3 = med3(serveSec(32))
        println(f"[maintain] $tag run-vs-segments: base=$serveBase3%.2f " +
          f"run1(32)=$serveRun3%.2f loose32=$serveLoose3%.2f " +
          s"run_files=$runFiles")
        val (_, secFoldServe) = timeIt(Retrieval.foldSegments(spark, idxS,
          pSegs.zipWithIndex.map(_.swap), dSegs.zipWithIndex.map(_.swap), 9L))
        idxS.postings.compact(spark)
        idxS.doclens.compact(spark)
        Retrieval.pruneSegments(pSegs ++ dSegs)
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
          foldLoose += timeIt(Retrieval.foldSegments(spark, idxS, psL, dsL, abVer))._2
          abVer += 1
          val (psR, dsR) = mkAbSegs(100 * (2 * i + 2), s"R$i")
          val rd = wd.resolve(s"abruns$i")
          val pRunParts = (0 until 4).map(j => graft.streaming.LsmFold.mergeRun(
            spark, rd.resolve("p"), j, psR.slice(j * 8, j * 8 + 8)))
          val dRunParts = (0 until 4).map(j => graft.streaming.LsmFold.mergeRun(
            spark, rd.resolve("d"), j, dsR.slice(j * 8, j * 8 + 8)))
          foldRuns += timeIt(Retrieval.foldPaired(spark, idxS,
            pRunParts, dRunParts, abVer))._2
          abVer += 1
        }
        println(f"[maintain] $tag fold-shape-ab: " +
          s"loose=${foldLoose.map(s3).mkString(",")} " +
          s"runs=${foldRuns.map(s3).mkString(",")}")
        // ---- POLICY-DRIVEN maintain loop (r15: FoldPolicy wired) ----
        // the serve-interleaved cadence the gate entries never see:
        // one serve per landed segment, the rent-or-buy policy seeded
        // from THIS tier's just-measured curve (tax = least-squares
        // slope of serve-vs-segments, fold cost = the measured epoch
        // fold), folds going through the loops' real machinery
        // (PolicyFolder → foldSegments). The first fold lands NEAR the
        // analytic steadyStateTrigger — not exactly at it: onServe
        // EWMA-updates the tax from the very first observed serve (and
        // base0 ages as folds grow the base), so the realized trigger
        // legitimately drifts from the frozen-estimate analytic k (the
        // exact pin with frozen estimates lives in FoldPolicySpec).
        val idxP = Retrieval.buildMaintained(spark, wd.resolve("bm25pol"),
          docs.filter(!Retrieval.isArrival(col("doc_id"))))
        val polSegDir = wd.resolve("bm25polsegs")
        java.nio.file.Files.createDirectories(polSegDir)
        val pPol = (0 until segN).map { k =>
          Retrieval.writeSegment(polSegDir.resolve("p"), k.toLong,
            Retrieval.postingsOf(arrSeg.filter(col("__seg") === k).drop("__seg")))
        }
        val dPol = (0 until segN).map { k =>
          Retrieval.writeSegment(polSegDir.resolve("d"), k.toLong,
            Retrieval.doclensOf(arrSeg.filter(col("__seg") === k).drop("__seg")))
        }
        val taxSeed = math.max(1e-3,
          graft.streaming.FoldPolicy.estimateTaxPerSegment(serveBySeg))
        val policy = new graft.streaming.FoldPolicy(
          initialFoldCostSec = secFoldServe, initialTaxPerSegmentSec = taxSeed)
        val analyticK = graft.streaming.FoldPolicy
          .steadyStateTrigger(secFoldServe, taxSeed)
        val pUnfolded = scala.collection.mutable.ArrayBuffer[(Int, java.nio.file.Path)]()
        val dUnfolded = scala.collection.mutable.ArrayBuffer[(Int, java.nio.file.Path)]()
        val foldAt = scala.collection.mutable.ArrayBuffer[Int]()
        val foldSecs = scala.collection.mutable.ArrayBuffer[Double]()
        var polTxn = 20L
        var curSeg = 0
        val folder = new graft.streaming.PolicyFolder(policy, () => {
          val (_, fs) = timeIt(Retrieval.foldSegments(spark, idxP,
            pUnfolded.toSeq, dUnfolded.toSeq, polTxn))
          polTxn += 1
          pUnfolded.clear(); dUnfolded.clear()
          foldAt += curSeg
          foldSecs += fs
        })
        def serveP(): Double = timeIt(
          Retrieval.serveWithSegments(spark, idxP, pUnfolded.toSeq.map(_._2),
            dUnfolded.toSeq.map(_._2), qterms)
            .write.mode("overwrite").format("noop").save())._2
        val base0 = serveP() // zero-segment baseline on THIS index
        val polServeSecs = (0 until segN).map { k =>
          curSeg = k + 1
          pUnfolded += (k -> pPol(k)); dUnfolded += (k -> dPol(k))
          folder.onSegment()
          val sec = serveP()
          folder.onServe(Some(sec), base0)
          sec
        }
        folder.finish()
        println(f"[maintain] $tag policy-loop: analytic_k=$analyticK " +
          s"fold_at=${foldAt.mkString(",")} " +
          f"realized=${folder.realizedFolds} seed_fold=$secFoldServe%.2f " +
          f"seed_tax=$taxSeed%.3f")
        // ---- TIERED policy loop (r16): same serve-interleaved cadence
        // through the two-level policy — mid-epoch folds go to flat-
        // priced RUNS (O(segments since last run fold)), the
        // O(standing) base rewrite is paid only when the run tax has
        // accrued to it or at epoch close. The artifact claim: per-fold
        // mid-epoch cost stays FLAT across the epoch, vs the
        // single-level loop's fold cost growing with every fold
        // (MAINTAIN_r15 sf1: 8.2 → 27.6 s within one epoch).
        val idxT = Retrieval.buildMaintained(spark, wd.resolve("bm25tier"),
          docs.filter(!Retrieval.isArrival(col("doc_id"))))
        val tierSegDir = wd.resolve("bm25tiersegs")
        java.nio.file.Files.createDirectories(tierSegDir)
        val pTier = (0 until segN).map { k =>
          Retrieval.writeSegment(tierSegDir.resolve("p"), k.toLong,
            Retrieval.postingsOf(arrSeg.filter(col("__seg") === k).drop("__seg")))
        }
        val dTier = (0 until segN).map { k =>
          Retrieval.writeSegment(tierSegDir.resolve("d"), k.toLong,
            Retrieval.doclensOf(arrSeg.filter(col("__seg") === k).drop("__seg")))
        }
        val pRuns = scala.collection.mutable.ArrayBuffer[(Seq[Int], java.nio.file.Path)]()
        val dRuns = scala.collection.mutable.ArrayBuffer[(Seq[Int], java.nio.file.Path)]()
        val pLoose = scala.collection.mutable.ArrayBuffer[(Int, java.nio.file.Path)]()
        val dLoose = scala.collection.mutable.ArrayBuffer[(Int, java.nio.file.Path)]()
        val tFoldLevel = scala.collection.mutable.ArrayBuffer[String]()
        val tFoldAt = scala.collection.mutable.ArrayBuffer[Int]()
        val tFoldSecs = scala.collection.mutable.ArrayBuffer[Double]()
        var runSeqT = 0
        var tierTxn = 40L
        var curSegT = 0
        // taxSeed is a per-SEGMENT serve slope, but the tiered policy
        // prices per FILE and this loop's segments are multi-file:
        // divide by the tier segments' average files-per-segment so the
        // seed is in the right unit (r17 ADVICE; the EWMA recalibrates
        // from the first observed serve either way)
        val tierSegFiles = (pTier ++ dTier)
          .map(graft.streaming.LsmFold.parquetFiles).sum
        val filesPerSeg = math.max(1.0,
          tierSegFiles.toDouble / math.max(1, pTier.size + dTier.size))
        val tPolicy = new graft.streaming.TieredFoldPolicy(
          initialRunFoldCostSec = math.max(0.05, secSeg),
          initialBaseFoldCostSec = secFoldServe,
          initialTaxPerFileSec = taxSeed / filesPerSeg)
        val tFolder = new graft.streaming.TieredPolicyFolder(tPolicy,
          () => {
            var newFiles = 0
            val (_, fs) = timeIt {
              if (pLoose.nonEmpty) {
                val r = graft.streaming.LsmFold.mergeRun(spark,
                  wd.resolve("bm25tierruns/p"), runSeqT, pLoose.toSeq)
                pRuns += r
                newFiles += graft.streaming.LsmFold.parquetFiles(r._2)
              }
              if (dLoose.nonEmpty) {
                val r = graft.streaming.LsmFold.mergeRun(spark,
                  wd.resolve("bm25tierruns/d"), runSeqT, dLoose.toSeq)
                dRuns += r
                newFiles += graft.streaming.LsmFold.parquetFiles(r._2)
              }
              runSeqT += 1
              pLoose.clear(); dLoose.clear()
            }
            tFoldLevel += "run"; tFoldAt += curSegT; tFoldSecs += fs
            newFiles
          },
          () => {
            val (_, fs) = timeIt {
              val pParts = pRuns.toSeq ++ pLoose.toSeq.map { case (k, p) => (Seq(k), p) }
              val dParts = dRuns.toSeq ++ dLoose.toSeq.map { case (k, p) => (Seq(k), p) }
              graft.streaming.LsmFold.foldToBase(spark, idxT.postings,
                "bm25idx", pParts, tierTxn, merge = false)
              graft.streaming.LsmFold.foldToBase(spark, idxT.doclens,
                "bm25dl", dParts, tierTxn, merge = true)
              tierTxn += 1
              pRuns.clear(); dRuns.clear(); pLoose.clear(); dLoose.clear()
            }
            tFoldLevel += "base"; tFoldAt += curSegT; tFoldSecs += fs
          })
        def serveT(): Double = timeIt(
          Retrieval.serveWithSegments(spark, idxT,
            (pRuns.map(_._2) ++ pLoose.map(_._2)).toSeq,
            (dRuns.map(_._2) ++ dLoose.map(_._2)).toSeq, qterms)
            .write.mode("overwrite").format("noop").save())._2
        val base0T = serveT()
        val tServeSecs = (0 until segN).map { k =>
          curSegT = k + 1
          pLoose += (k -> pTier(k)); dLoose += (k -> dTier(k))
          tFolder.onSegment(math.max(1,
            graft.streaming.LsmFold.parquetFiles(pTier(k)) +
              graft.streaming.LsmFold.parquetFiles(dTier(k))))
          val sec = serveT()
          tFolder.onServe(Some(sec), base0T)
          sec
        }
        tFolder.finish()
        val runSecs = tFoldLevel.zip(tFoldSecs).filter(_._1 == "run").map(_._2)
        println(f"[maintain] $tag tiered-loop: run_folds=${tFolder.realizedRunFolds} " +
          f"base_folds=${tFolder.realizedBaseFolds} " +
          s"fold_at=${tFoldAt.mkString(",")} levels=${tFoldLevel.mkString(",")} " +
          s"fold_secs=${tFoldSecs.map(s3).mkString(",")}" +
          (if (runSecs.nonEmpty)
            f" run_fold_max=${runSecs.max}%.2f run_fold_min=${runSecs.min}%.2f"
          else ""))
        println(f"[maintain] $tag bm25: standing=$standingP%,d batch=$batchPRows%,d " +
          f"buckets=${idx.postings.nBuckets} touched=${touchedP.size} " +
          f"seg=$secSeg%.2f fold=$secFold%.2f direct=${secP + secDl}%.2f")
        println(f"[maintain] $tag ann:  standing=$standingV%,d batch=$batchVRows%,d " +
          f"buckets=$nbV touched=${touchedV.size} " +
          f"seg=$secVSeg%.2f fold=$secVFold%.2f direct=$secV%.2f")
        s""""$tag":{"bm25":{"standing_rows":$standingP,"batch_rows":$batchPRows,
           |"buckets":${idx.postings.nBuckets},"touched_buckets":${touchedP.size},
           |"segment_write_sec":${s3(secSeg)},"fold_sec":${s3(secFold)},
           |"direct_merge_sec":${s3(secP + secDl)},
           |"serve_sec_by_unfolded_segments":{${
             serveBySeg.map { case (n, t) => s""""$n":${s3(t)}""" }.mkString(",")}},
           |"serve_run_vs_segments":{"base_med3":${s3(serveBase3)},
           |"one_run_of_32_med3":${s3(serveRun3)},
           |"loose_32_med3":${s3(serveLoose3)},"run_files":$runFiles},
           |"fold_shape_ab":{"loose_secs":[${foldLoose.map(s3).mkString(",")}],
           |"run_secs":[${foldRuns.map(s3).mkString(",")}]},
           |"epoch_fold_sec":${s3(secFoldServe)},
           |"serve_sec_post_fold":${s3(servePost)},
           |"postings_files_per_bucket_max_post_optimize":$maxFiles,
           |"segments_after_prune":$segsLeft,
           |"policy_loop":{"seed_fold_cost_sec":${s3(secFoldServe)},
           |"seed_tax_sec_per_segment":${s3(taxSeed)},
           |"analytic_trigger":$analyticK,
           |"fold_at_segments":[${foldAt.mkString(",")}],
           |"fold_secs":[${foldSecs.map(s3).mkString(",")}],
           |"total_fold_secs":${s3(foldSecs.sum)},
           |"realized_folds":${folder.realizedFolds},
           |"serve_secs":[${polServeSecs.map(s3).mkString(",")}]},
           |"policy_loop_tiered":{"seed_run_fold_sec":${s3(math.max(0.05, secSeg))},
           |"seed_base_fold_sec":${s3(secFoldServe)},
           |"seed_tax_sec_per_file":${s3(taxSeed)},
           |"fold_at_segments":[${tFoldAt.mkString(",")}],
           |"fold_levels":[${tFoldLevel.map(l => s""""$l"""").mkString(",")}],
           |"fold_secs":[${tFoldSecs.map(s3).mkString(",")}],
           |"total_fold_secs":${s3(tFoldSecs.sum)},
           |"realized_run_folds":${tFolder.realizedRunFolds},
           |"realized_base_folds":${tFolder.realizedBaseFolds},
           |"serve_secs":[${tServeSecs.map(s3).mkString(",")}]}},
           |"ann":{"standing_rows":$standingV,"batch_rows":$batchVRows,
           |"buckets":$nbV,"touched_buckets":${touchedV.size},
           |"segment_write_sec":${s3(secVSeg)},"fold_sec":${s3(secVFold)},
           |"direct_merge_sec":${s3(secV)}}}""".stripMargin.replace("\n", "")
      } finally {
        graft.streaming.PartitionedTable.deleteRecursively(wd)
      }
    }
    val json = s"""{"metric":"index_maintain","batch_docs":500,
       |"note":"fixed-size batch into standing indexes 10x apart: the per-trigger segment write is O(batch) and stays flat; the direct bucketed merge is the ablation - uniform keys touch every bucket so its cost tracks the standing index, which is why the streaming loops fold segments once per epoch instead",
       |"tiers":{${rows.mkString(",")}}}""".stripMargin.replace("\n", "")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    println(json)
    spark.stop()
  }
}

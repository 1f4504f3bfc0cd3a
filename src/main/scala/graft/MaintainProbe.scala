package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._
import graft.Probe.{median, num, timed}
import graft.streaming.Epoch

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
  * Usage: runMain graft.MaintainProbe <outFile> <sfDir> [sfDir ...]
  */
object MaintainProbe {

  def main(args: Array[String]): Unit = Probe.run() { h =>
    require(args.length >= 2,
      "usage: runMain graft.MaintainProbe <outFile> <sfDir> [sfDir ...]")
    val spark = h.spark
    val out = args.head
    val tiers = args.toSeq.drop(1)
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
      // ---- BM25 postings family ----------------------------------
      val docs = Tables.documents(spark, d)
      val base = docs.filter(!Retrieval.isArrival(col("doc_id")))
      val arrD = fixedBatch(docs, "doc_id")
      val batchP = Retrieval.postingsOf(arrD).cache()
      val batchPRows = batchP.count()
      val (standingP, nbP, secSeg, secFold, touchedP, secDirect) =
        Epoch.run(spark, "graft_maintprobe_bm25") { ep =>
          val idx = Retrieval.maintainedIndex(spark, ep.dir.resolve("idx"), base)
          Retrieval.seedMaintained(spark, idx, base)
          // only postings is registered, so the fold timed is postings only
          val post = ep.table(idx.postings, "bm25idx", merge = false)
          val standing = idx.postings.read(spark).count()
          // the streaming loop's per-trigger path: O(batch) segment write
          val secSeg = timed(ep.land(post, 0, batchP))._2
          // the deferred per-epoch fold (one bucketed-base rewrite, then
          // the prune of its one segment)
          ep.finish()
          // ablation: the DIRECT bucketed merge per batch — gram keys
          // are uniform, so this touches ~every bucket and its cost
          // tracks the STANDING index, which is why the streaming loop
          // does not do this per trigger
          val (touched, secP) = timed(
            idx.postings.appendInto(spark, batchP, Some("probe" -> 2L)))
          val (_, secDl) = timed(idx.doclens.mergeInto(spark,
            Retrieval.doclensOf(arrD), Some("probedl" -> 2L)))
          (standing, idx.postings.nBuckets, secSeg, ep.foldSec.get,
            touched.size, secP + secDl)
        }
      // ---- frozen-quantizer ANN family ---------------------------
      val e = Tables.embeddings(spark, d)
      val arrV = fixedBatch(e, "vec_id")
      val (supers, groups) = Similarity.twoLevelIndexOf(
        Similarity.collectCentroidsOf(
          e.filter(!Retrieval.isArrival(col("vec_id")))))
      def rowsOf(df: DataFrame): DataFrame =
        Similarity.int8Rows(df, graft.functions.ImiCell2.cell(_, supers, groups))
      val baseV = rowsOf(e.filter(!Retrieval.isArrival(col("vec_id"))))
      val nbV = LayoutRegistry.derivedBuckets(spark, baseV.count())
      val batchV = rowsOf(arrV).cache()
      val batchVRows = batchV.count()
      val (standingV, secVSeg, secVFold, touchedV, secV) =
        Epoch.run(spark, "graft_maintprobe_ann") { ep =>
          val t = ep.table(new graft.streaming.PartitionedTable(
            ep.dir.resolve("ann"), "cell", nbV), "annidx", merge = false)
          t.pt.appendInto(spark, baseV, Some("annidx" -> 0L))
          val standing = t.pt.read(spark).count()
          val secSeg = timed(ep.land(t, 0, batchV))._2
          ep.finish()
          val (touched, secDirect) = timed(
            t.pt.appendInto(spark, batchV, Some("probe" -> 2L)))
          (standing, secSeg, ep.foldSec.get, touched.size, secDirect)
        }
      // ---- serve latency vs UNFOLDED segment count (r11 age-out) --
      // the LSM read path between folds is base ∪ segments, read as
      // ONE multi-path scan (`Epoch.unfolded`). Land the same fixed
      // batch as `segN` hash-split sub-batches on a fresh index over
      // the non-arrival base, serve over base ∪ the first S segments
      // (median of 3), then the epoch's one close fold + compact, the
      // post-OPTIMIZE serve and worst-bucket file count. The curve is
      // why an epoch folds once, at its close: it steps at the first
      // segment and grows slowly after, so the few segments an epoch
      // lands buy no earlier fold.
      val segN = 128
      val arrSeg = arrD.withColumn("__seg",
        pmod(hash(col("doc_id")), lit(segN)))
      def segBatch(k: Int): DataFrame =
        arrSeg.filter(col("__seg") === k).drop("__seg")
      val qterms = Retrieval.queryGramsOf(docs)
      def serveSec(served: => DataFrame): Double =
        timed(served.write.mode("overwrite").format("noop").save())._2
      val (serveBySeg, secFoldServe, servePost, maxFiles, segsLeft) =
        Epoch.run(spark, "graft_maintprobe_serve") { ep =>
          val idx = Retrieval.maintainedIndex(spark, ep.dir.resolve("idx"), base)
          val pair = new Retrieval.Bm25Epoch(ep, idx)
          Retrieval.seedMaintained(spark, idx, base)
          (0 until segN).foreach(k => pair.land(k, segBatch(k)))
          serveSec(pair.serve(qterms, 0)) // warm the serve path (codegen) outside the samples
          val curve = Seq(0, 1, 2, 8, 32, segN).map(n =>
            n -> median((1 to 3).map(_ => serveSec(pair.serve(qterms, n)))))
          ep.finish()
          val maxFiles = idx.postings.manifest.values.map { rel =>
            graft.streaming.LsmFold.parquetFiles(idx.postings.dir.resolve(rel))
          }.max
          // segment dirs the close fold left behind (pruning removes all)
          val segsLeft = Seq(pair.postings, pair.doclens)
            .map(t => ep.dir.resolve("segs").resolve(t.app))
            .filter(java.nio.file.Files.exists(_))
            .map(graft.streaming.PartitionedTable.listDir(_).size).sum
          (curve, ep.foldSec.get, serveSec(pair.serve(qterms)), maxFiles, segsLeft)
        }
      println(f"[maintain] $tag serve-vs-segments: " +
        serveBySeg.map { case (n, t) => f"S$n=$t%.2f" }.mkString(" ") +
        f" post_fold=$servePost%.2f files/bucket<=$maxFiles segs_left=$segsLeft")
      println(f"[maintain] $tag bm25: standing=$standingP%,d batch=$batchPRows%,d " +
        f"buckets=$nbP touched=$touchedP " +
        f"seg=$secSeg%.2f fold=$secFold%.2f direct=$secDirect%.2f")
      println(f"[maintain] $tag ann:  standing=$standingV%,d batch=$batchVRows%,d " +
        f"buckets=$nbV touched=$touchedV " +
        f"seg=$secVSeg%.2f fold=$secVFold%.2f direct=$secV%.2f")
      tag -> (
        ("bm25" ->
          ("standing_rows" -> standingP) ~ ("batch_rows" -> batchPRows) ~
          ("buckets" -> nbP) ~ ("touched_buckets" -> touchedP) ~
          ("segment_write_sec" -> num(secSeg)) ~ ("fold_sec" -> num(secFold)) ~
          ("direct_merge_sec" -> num(secDirect)) ~
          ("serve_sec_by_unfolded_segments" ->
            JObject(serveBySeg.map { case (n, t) => n.toString -> num(t) }.toList)) ~
          ("epoch_fold_sec" -> num(secFoldServe)) ~
          ("serve_sec_post_fold" -> num(servePost)) ~
          ("postings_files_per_bucket_max_post_optimize" -> maxFiles) ~
          ("segments_after_prune" -> segsLeft)) ~
        ("ann" ->
          ("standing_rows" -> standingV) ~ ("batch_rows" -> batchVRows) ~
          ("buckets" -> nbV) ~ ("touched_buckets" -> touchedV) ~
          ("segment_write_sec" -> num(secVSeg)) ~ ("fold_sec" -> num(secVFold)) ~
          ("direct_merge_sec" -> num(secV))))
    }
    Probe.emit(("metric" -> "index_maintain") ~ ("batch_docs" -> 500) ~
      ("note" -> ("fixed-size batch into standing indexes 10x apart: the per-trigger " +
        "segment write is O(batch) and stays flat; the direct bucketed merge is the " +
        "ablation - uniform keys touch every bucket so its cost tracks the standing " +
        "index, which is why the streaming loops fold segments once per epoch instead; " +
        "serve_sec_by_unfolded_segments times Epoch.unfolded's one multi-path scan over " +
        "base and the first S of 128 segments, median of 3 (MAINTAIN_r11..r17 timed one " +
        "union leg per segment, so their values are not comparable with these)")) ~
      ("tiers" -> JObject(rows.toList)), Some(out))
  }
}

package graft

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.json4s._
import org.json4s.JsonDSL._
import graft.Probe.{median, num, timed}
import graft.operators.{LayoutRegistry, Similarity}
import graft.streaming.{Epoch, PartitionedTable}

/** ANN index-build soak, one decade past the gate tiers (r12 VERDICT
  * item 5): the gate exercises the ANN family at ≤100k vectors; this
  * main drives the FULL frozen-quantizer lifecycle — train → assign +
  * int8 + PQ16 encode → bucketed PartitionedTable build → segment
  * arrivals → fold + OPTIMIZE → serve from the persisted layout — at
  * ~5M synthetic 64-dim vectors, the dense mirror of IngestSoak.
  *
  *   SPARK_GRAFT_ANNSOAK_OUT=BENCH_r13_annsoak.json \
  *     sbt "runMain graft.AnnBuildSoak 5000000"
  *
  * Corpus: deterministic planted mixture (4096 cluster ids, one
  * xxhash64-derived centroid each, per-id hash noise) generated as a
  * narrow projection — no driver-side data, no RNG state.
  *
  * Quantizer budget: the gate's dynamic k = n/64 exists so ORACLE
  * parity holds at tiny tiers; a 5M-vector deployment picks its own
  * k (here 2048 → ~2.4k vectors/cell), trains on the same md5-order
  * SampleFactor·k sample via the same seed+Lloyd code, and FREEZES
  * the quantizer for arrivals — the stream_ann_maintain contract.
  * Everything driver-resident stays bounded: k·dim floats (512 KB)
  * + the 1 KB PQ16 codebook, independent of n. */
object AnnBuildSoak {

  private val Dim = 64
  private val PlantedK = 4096
  private val TrainK = 2048
  private val NProbe = 2
  private val NQueries = 16

  /** embedding[j] = clusterCentroid[j] + smallHashNoise — integer
    * hash arithmetic only, deterministic under any partitioning. */
  private def vecCol: Column = expr(
    s"""transform(sequence(0, ${Dim - 1}), j -> CAST(
       |  (pmod(xxhash64(pmod(id, $PlantedK) * $Dim + j), 1000) / 500.0 - 1.0)
       |  + (pmod(xxhash64(id * $Dim + j), 1000) / 5000.0)
       |AS FLOAT))""".stripMargin)

  /** Driver-side top-`np` IMI cells for a query — the Recall probe
    * ranking: top-2 supers by (round4 dot desc, id asc), children
    * re-ranked the same way. */
  private def probeCells(q: Array[Float],
      supers: Array[(Long, Array[Float])],
      groups: Array[Array[(Long, Array[Float])]], np: Int): Seq[Long] =
    supers.sortBy { case (sid, sv) => (-Similarity.dotRound4(q, sv), sid) }
      .take(math.max(2, np))
      .flatMap { case (sid, _) => groups(sid.toInt) }
      .sortBy { case (cid, cv) => (-Similarity.dotRound4(q, cv), cid) }
      .take(np).map(_._1).toSeq

  /** (query_id, qcell): each query's `NProbe` probed cells, one partition. */
  private def probeDf(spark: SparkSession, qs: Seq[(Long, Array[Float])],
      supers: Array[(Long, Array[Float])],
      groups: Array[Array[(Long, Array[Float])]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(qs.flatMap { case (qid, qv) =>
        probeCells(qv, supers, groups, NProbe).map(c => Row(qid, c)) }, 1),
      StructType(Seq(StructField("query_id", LongType), StructField("qcell", LongType))))

  def main(args: Array[String]): Unit = Probe.run(tempWarehouse = true) { h =>
    val spark = h.spark
    val n = args.headOption.map(_.toLong).getOrElse(5000000L)
    val out = sys.env.getOrElse("SPARK_GRAFT_ANNSOAK_OUT", "BENCH_annsoak.json")
    val work = h.tempDir("graft_annsoak")
    // ---- corpus: written to parquet first (builds read storage) --
    val (_, genS) = timed {
      spark.range(n).select(col("id").as("vec_id"), vecCol.as("embedding"))
        .write.mode("overwrite").parquet(work.resolve("corpus").toString)
    }
    val e = spark.read.parquet(work.resolve("corpus").toString)
    val isArr = operators.Retrieval.isArrival(col("vec_id"))
    val base = e.filter(!isArr)
    val arrivals = e.filter(isArr)
    val nBase = base.count(); val nArr = arrivals.count()

    // ---- train (frozen thereafter): seed + Lloyd on the md5 sample
    val ((cents, supers, groups, cb16), trainS) = timed {
      val m = math.min(nBase, Similarity.SampleFactor.toLong * TrainK).toInt
      val samp = base
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(m).localCheckpoint(true)
      val seed = Similarity.centroids(base, TrainK).collect()
        .map(r => (r.getLong(0), Similarity.collectVector(r, 1)))
      val cents = Similarity.refineCentroids(samp, seed)
      val (sup, grp) = Similarity.twoLevelIndexOf(cents)
      val cb = Similarity.pqCodebookOf(samp, cents.toMap,
        v => graft.functions.ImiCell2.cell(v, sup, grp),
        Similarity.GeomPq16)
      (cents, sup, grp, cb)
    }

    val centDf = spark.createDataFrame(
      spark.sparkContext.parallelize(cents.toSeq.map { case (id, cv) =>
        org.apache.spark.sql.Row(id, cv.toSeq) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cent_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))

    // one narrow projection: IMI cell + int8 codes + packed PQ16
    def indexRows(df: DataFrame): DataFrame = {
      val (csc, cq) = Similarity.quantizeCols(col("embedding"))
      df.select(col("vec_id"),
          graft.functions.ImiCell2.cell(col("embedding"), supers, groups)
            .as("cell"),
          col("embedding"), csc.as("c_scale"), cq.as("cq"))
        .join(broadcast(centDf), col("cell") === col("cent_id"))
        .select(col("vec_id"), col("cell"), col("c_scale"), col("cq"),
          Similarity.pqCodesCol(cb16, Similarity.GeomPq16)(
            Similarity.residCol(col("embedding"), col("cv"))).as("codes"))
    }

    // ---- bulk build into the cell-bucketed serve layout ----------
    val nb = LayoutRegistry.derivedBuckets(spark, nBase)
    val pt = new PartitionedTable(work.resolve("idx"), "cell", nb)
    val (_, buildS) = timed {
      pt.appendInto(spark, indexRows(base), Some("annsoak" -> 0L))
    }

    // ---- arrivals: O(batch) segments, one fold, OPTIMIZE ---------
    val (segS, foldS, compactS) = Epoch.run(spark, "graft_annsoak_epoch") { ep =>
      val t = ep.table(pt, "annsoak", merge = false)
      val (_, segS) = timed {
        (0 until 4).foreach { k =>
          ep.land(t, k, indexRows(arrivals.filter(pmod(col("vec_id"), lit(4)) === k)))
        }
      }
      // finish() is the one close fold, then OPTIMIZE
      val (_, finishS) = timed(ep.finish())
      val foldS = ep.foldSec.getOrElse(0.0)
      (segS, foldS, finishS - foldS)
    }

    // ---- serve p50 from the persisted layout ---------------------
    val qs = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), Similarity.collectVector(r, 1)))
    val qfeat = Similarity.int8Queries(Similarity.queryBatch(e, NQueries))
    val qcells = probeDf(spark, qs.toSeq, supers, groups).join(qfeat, "query_id")
    val serveP50 = median((1 to 7).map { _ =>
      val (n5, t) = timed {
        Similarity.frozenInt8Serve(pt.read(spark), qcells).count()
      }
      require(n5 == 5L * NQueries, s"serve returned $n5 rows")
      t
    })

    // ---- serve latency decomposition (r14 VERDICT item 3): where
    // does the p50 go at an online query stream? Three layers:
    //   1. PLANNING: cold runs above rebuild+reanalyze the DataFrame
    //      per query; a long-lived serve session reuses one Dataset
    //      (AQE plan finalized once) — the cold−reused delta is the
    //      per-query planning tax a naive client pays.
    //   2. DRIVER SUBMIT: reused wall − in-job wall = scheduler/
    //      DAG-submit overhead outside any Spark job.
    //   3. EXECUTION: per-stage wall and summed executor task time
    //      (task_time / cores = the ideal-parallel floor — the part
    //      that scales with the index; everything above it is
    //      per-query constant that amortizes at higher qps or
    //      disappears behind a reused-plan serve loop).
    val meter = new Probe.StageMeter(spark)
    val servedOnce = Similarity.frozenInt8Serve(pt.read(spark), qcells)
    servedOnce.collect() // finalize the AQE plan outside timing
    val reusedRuns = (1 to 7).map { _ =>
      val before = meter.read()
      val (rows, t) = timed { servedOnce.collect() }
      require(rows.length == 5 * NQueries, s"serve returned ${rows.length} rows")
      (t, meter.read() - before)
    }.sortBy(_._1)
    meter.close()
    val (reusedP50, st) = reusedRuns(reusedRuns.length / 2)
    val cores = spark.sparkContext.defaultParallelism
    val breakdown =
      ("cold_plan_p50_s" -> num(serveP50)) ~
      ("reused_plan_p50_s" -> num(reusedP50)) ~
      ("planning_overhead_p50_s" -> num(serveP50 - reusedP50)) ~
      ("jobs_wall_p50_s" -> num(st.jobWallS)) ~
      ("driver_submit_overhead_p50_s" -> num(reusedP50 - st.jobWallS)) ~
      ("stage_wall_p50_s" -> num(st.stageWallS)) ~
      ("executor_task_time_p50_s" -> num(st.taskS)) ~
      ("ideal_parallel_task_s" -> num(st.taskS / cores)) ~ ("cores" -> cores)

    // ---- batched serve throughput (r14 VERDICT item 4): the
    // ServeSession architecture — index pinned as an in-memory
    // relation at session open, queries arriving as a parameter
    // relation, ONE probe per batch — measured at 16/256/4096
    // queries per probe. The breakdown above says the per-probe
    // cost is driver-side constant (planning + submit), so qps
    // should scale near-linearly with batch size until executor
    // work dominates. graft.operators.AnnServeSession is the API
    // form of exactly this path (semantics pinned in
    // ServeSessionSpec); this block pins the numbers at 5 M
    // vectors.
    val pinned = pt.read(spark)
      .select(col("vec_id"), col("cell"), col("c_scale"), col("cq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pinned.count()
    val maxB = 4096
    val qAll = e.filter(col("vec_id") < maxB)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), Similarity.collectVector(r, 1)))
    val qfeatAll = Similarity.int8Queries(Similarity.queryBatch(e, maxB))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    qfeatAll.count()
    var single4096P50 = Double.NaN
    val serveBatched = Seq(16, 256, 4096).map { b =>
      val qc = probeDf(spark, qAll.take(b).toSeq, supers, groups).join(qfeatAll, "query_id")
      qc.count() // materialize the batch outside the serve clock
      def p50Of(serve: => Long): Double = median((1 to 5).map { _ =>
        // a NEW serve Dataset per probe — each real batch differs,
        // so per-probe planning belongs inside the clock; the
        // pinned index keeps that planning file-listing-free
        val (n5, t) = timed(serve)
        require(n5 == 5L * b, s"batched serve returned $n5 rows for $b")
        t
      })
      // r16: the production batched kernel (two-level bounded-heap
      // top-5 — the rank shuffle carries ≤ 5·|batch|·partitions
      // rows) vs the window kernel it replaced (shuffles+sorts
      // EVERY candidate pair — the measured wall behind r15's
      // 217 qps plateau at 4096 q/probe)
      val p50 = p50Of(Similarity.frozenInt8ServeBatched(pinned, qc).count())
      if (b == maxB) single4096P50 = p50
      val p50W = p50Of(Similarity.frozenInt8Serve(pinned, qc).count())
      println(f"[annsoak] serve_batched b=$b p50=$p50%.3f s qps=${b / p50}%.0f " +
        f"(window kernel p50=$p50W%.3f s qps=${b / p50W}%.0f)")
      ("batch" -> b) ~ ("p50_s" -> num(p50)) ~ ("qps" -> (b / p50).toLong) ~
        ("window_p50_s" -> num(p50W)) ~ ("window_qps" -> (b / p50W).toLong)
    }

    // ---- sharded serve (r16 VERDICT item 6): the 4096-q/probe
    // plateau is scan-bound on ONE pinned relation; a serve fleet
    // shards the index by cell and each node pins its shard — the
    // same bucketBy architecture as the layout it reads. Simulated
    // here as N=4 shard pins in one JVM: probe pairs route by
    // pmod(cell, N), the four shard probes run CONCURRENTLY
    // (separate Spark jobs — the local stand-in for four serve
    // nodes), and a router merge folds per-query top-5s (≤5·N tiny
    // rows per query, the fleet router's job). Semantics pinned
    // against the single-session kernel below.
    val NShards = 4
    val shardPins = (0 until NShards).map { sh =>
      val p = pt.read(spark)
        .filter(pmod(col("cell"), lit(NShards)) === sh)
        .select(col("vec_id"), col("cell"), col("c_scale"), col("cq"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count(); p
    }
    val qcAll = probeDf(spark, qAll.toSeq, supers, groups).join(qfeatAll, "query_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    qcAll.count()
    val qcShards = (0 until NShards).map { sh =>
      val q = qcAll.filter(pmod(col("qcell"), lit(NShards)) === sh)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      q.count(); q
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    def shardedProbe(): Seq[(Long, Long, Double)] = {
      val fs = (0 until NShards).map { sh =>
        Future(Similarity.frozenInt8ServeBatched(shardPins(sh), qcShards(sh))
          .select(col("query_id"), col("vec_id"), col("cos_q")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
      }
      val all = fs.flatMap(f => Await.result(f, Duration.Inf))
      // router merge: the kernel's exact total order (cos_q desc,
      // vec_id asc), top-5 per query
      all.groupBy(_._1).iterator.flatMap { case (_, rows) =>
        rows.sortBy(t => (-t._3, t._2)).take(5)
      }.toSeq
    }
    val shardRuns = (1 to 5).map { _ => timed(shardedProbe()) }
    val shardP50 = median(shardRuns.map(_._2))
    // semantics: the sharded merge equals the single-session kernel
    val singleRows = Similarity.frozenInt8ServeBatched(pinned, qcAll)
      .select(col("query_id"), col("vec_id"), col("cos_q")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    require(shardRuns.head._1.toSet == singleRows,
      s"sharded merge diverged: ${shardRuns.head._1.size} vs ${singleRows.size} rows")
    println(f"[annsoak] serve_sharded n=$NShards b=$maxB p50=$shardP50%.3f s " +
      f"qps=${maxB / shardP50}%.0f (single-session ${maxB / single4096P50}%.0f)")
    val shardJson =
      ("n_shards" -> NShards) ~ ("batch" -> maxB) ~ ("p50_s" -> num(shardP50)) ~
      ("qps" -> (maxB / shardP50).toLong) ~
      ("single_session_qps" -> (maxB / single4096P50).toLong) ~
      ("speedup" -> num(single4096P50 / shardP50, 2))
    shardPins.foreach(_.unpersist())
    qcShards.foreach(_.unpersist())
    qcAll.unpersist()
    pinned.unpersist()
    qfeatAll.unpersist()

    // ---- snapshot-pinned maintained session (r16): refresh cost
    // next to the steady serve — the consistency contract's price.
    // Open pins the latest snapshot (readAt + persist + count);
    // a maintain commit lands underneath; refresh() re-pins.
    def sessQcells(q: DataFrame): DataFrame = Similarity.int8Queries(q,
      Some(graft.functions.ImiCell2.cell(_, supers, groups)))
    val sessQueries = Similarity.queryBatch(e, NQueries)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sessQueries.count()
    val (sess, sessOpenS) = timed(
      graft.operators.ServeSession.annMaintained(spark, pt, sessQcells))
    val snapBefore = sess.pinnedSnapshot
    val sessServeP50 = median((1 to 7).map { _ =>
      val (n5, t) = timed(sess.serveIds(sessQueries).count())
      require(n5 == 5L * NQueries, s"session serve returned $n5 rows")
      t
    })
    // a maintain fold lands underneath the open session
    pt.appendInto(spark,
      indexRows(e.filter(col("vec_id") < 1000))
        .withColumn("vec_id", col("vec_id") + n),
      Some("annsoak" -> 2L))
    val (snapAfter, refreshS) = timed(sess.refresh())
    val (n5r, postRefreshServe) = timed(sess.serveIds(sessQueries).count())
    require(n5r == 5L * NQueries, s"post-refresh serve returned $n5r rows")
    // ---- r17 (r16 VERDICT item 3): the refresh TRIGGER in a live
    // loop — maintain commits folds underneath, the serve side polls
    // refreshIfStale() between batches (the fold-notification hook's
    // poll form). Recorded: how many snapshots behind the head each
    // serve ran (the spec'd bound is ≤1 fold; with the poll before
    // every batch it should be 0), and the poll+re-pin price.
    val behindHead = (0 until 4).map { f =>
      pt.appendInto(spark,
        indexRows(e.filter(col("vec_id") < 1000))
          .withColumn("vec_id", col("vec_id") + n + 1000L * (f + 2)),
        Some("annsoak" -> (3L + f)))
      val (_, pollS) = timed(sess.refreshIfStale())
      val behind = pt.snapshots.last - sess.pinnedSnapshot
      val (n5b, serveS) = timed(sess.serveIds(sessQueries).count())
      require(n5b == 5L * NQueries, s"loop serve returned $n5b rows")
      (behind, pollS, serveS)
    }
    require(behindHead.forall(_._1 == 0L),
      s"refresh trigger left a serve behind the head: $behindHead")
    sess.close()
    sessQueries.unpersist()
    println(f"[annsoak] maintained session: open=$sessOpenS%.3f s " +
      f"serve_p50=$sessServeP50%.3f s refresh=$refreshS%.3f s " +
      s"(snapshot s$snapBefore -> s$snapAfter) " +
      s"serves_behind_head=${behindHead.map(_._1).mkString(",")}")

    val idxWalk = Files.walk(work.resolve("idx"))
    val idxBytes =
      try idxWalk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally idxWalk.close()
    Probe.emit(
      ("metric" -> "ann_build_soak") ~ ("n" -> n) ~ ("n_base" -> nBase) ~
      ("n_arrivals" -> nArr) ~ ("dim" -> Dim) ~ ("k" -> TrainK) ~ ("n_buckets" -> nb) ~
      ("gen_s" -> num(genS, 1)) ~ ("train_s" -> num(trainS, 1)) ~
      ("build_s" -> num(buildS, 1)) ~ ("build_rows_per_s" -> (nBase / buildS).toLong) ~
      ("seg_write_s" -> num(segS, 1)) ~ ("fold_s" -> num(foldS, 1)) ~
      ("fold_rows_per_s" -> (nArr / foldS).toLong) ~ ("compact_s" -> num(compactS, 1)) ~
      ("serve_p50_s" -> num(serveP50)) ~ ("nprobe" -> NProbe) ~
      ("serve_breakdown" -> breakdown) ~ ("serve_batched" -> serveBatched) ~
      ("serve_sharded" -> shardJson) ~
      ("maintained_session" ->
        ("open_s" -> num(sessOpenS)) ~ ("serve_p50_s" -> num(sessServeP50)) ~
        ("refresh_s" -> num(refreshS)) ~ ("post_refresh_serve_s" -> num(postRefreshServe)) ~
        ("snapshot_before" -> snapBefore) ~ ("snapshot_after" -> snapAfter) ~
        ("serves_behind_head" -> behindHead.map(_._1)) ~
        ("poll_refresh_s" -> behindHead.map(t => num(t._2))) ~
        ("loop_serve_s" -> behindHead.map(t => num(t._3)))) ~
      ("n_queries" -> NQueries) ~ ("index_bytes" -> idxBytes),
      Some(out))
  }
}

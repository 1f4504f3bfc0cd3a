package graft

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.streaming.PartitionedTable

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

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

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

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(5000000L)
    val out = sys.env.getOrElse("SPARK_GRAFT_ANNSOAK_OUT", "BENCH_annsoak.json")
    val spark =
      GraftSession(warehouse = Some(Files.createTempDirectory("graft_annsoak_wh")))
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft_annsoak")
    try {
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
      val nb = Similarity.derivedBuckets(spark, nBase, "spark.graft.ann.buckets")
      val pt = new PartitionedTable(work.resolve("idx"), "cell", nb)
      val (_, buildS) = timed {
        pt.appendInto(spark, indexRows(base), Some("annsoak" -> 0L))
      }

      // ---- arrivals: O(batch) segments, one fold, OPTIMIZE ---------
      val segDir = work.resolve("segs")
      Files.createDirectories(segDir)
      val (_, segS) = timed {
        (0 until 4).foreach { k =>
          indexRows(arrivals.filter(pmod(col("vec_id"), lit(4)) === k))
            .write.mode("overwrite")
            .parquet(segDir.resolve(f"seg$k%04d").toString)
        }
      }
      val (_, foldS) = timed {
        pt.appendInto(spark,
          spark.read.parquet((0 until 4).map(k =>
            segDir.resolve(f"seg$k%04d").toString): _*),
          Some("annsoak" -> 1L))
      }
      val (_, compactS) = timed { pt.compact(spark) }

      // ---- serve p50 from the persisted layout ---------------------
      val qs = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), Similarity.collectVector(r, 1)))
      val qfeat = Similarity.int8Queries(Similarity.queryBatch(e, NQueries))
      val probeDf = spark.createDataFrame(
        spark.sparkContext.parallelize(qs.toSeq.flatMap { case (qid, qv) =>
          probeCells(qv, supers, groups, NProbe).map(c =>
            org.apache.spark.sql.Row(qid, c)) }, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("qcell",
            org.apache.spark.sql.types.LongType))))
      val qcells = probeDf.join(qfeat, "query_id")
      val serveRuns = (1 to 7).map { _ =>
        val (n5, t) = timed {
          Similarity.frozenInt8Serve(pt.read(spark), qcells).count()
        }
        require(n5 == 5L * NQueries, s"serve returned $n5 rows")
        t
      }.sorted
      val serveP50 = serveRuns(serveRuns.length / 2)

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
      val jobStarts = new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Long]
      val jobWallMs = new java.util.concurrent.atomic.AtomicLong
      val stageWallMs = new java.util.concurrent.atomic.AtomicLong
      val taskTimeMs = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobStarts.put(j.jobId, j.time)
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val t0 = jobStarts.remove(j.jobId)
          if (t0 != null) jobWallMs.addAndGet(j.time - t0)
        }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          for (s <- si.submissionTime; c <- si.completionTime)
            stageWallMs.addAndGet(c - s)
          taskTimeMs.addAndGet(si.taskMetrics.executorRunTime)
        }
      }
      spark.sparkContext.addSparkListener(listener)
      def drain(): Unit =
        org.apache.spark.graftbridge.ListenerFlush.waitUntilEmpty(spark.sparkContext)
      val servedOnce = Similarity.frozenInt8Serve(pt.read(spark), qcells)
      servedOnce.collect() // finalize the AQE plan outside timing
      val reusedRuns = (1 to 7).map { _ =>
        drain()
        val (j0, s0, t0) = (jobWallMs.get, stageWallMs.get, taskTimeMs.get)
        val (rows, t) = timed { servedOnce.collect() }
        require(rows.length == 5 * NQueries, s"serve returned ${rows.length} rows")
        drain()
        (t, (jobWallMs.get - j0) / 1e3, (stageWallMs.get - s0) / 1e3,
          (taskTimeMs.get - t0) / 1e3)
      }.sortBy(_._1)
      spark.sparkContext.removeSparkListener(listener)
      val (reusedP50, jobsW, stageW, taskT) = reusedRuns(reusedRuns.length / 2)
      val cores = spark.sparkContext.defaultParallelism
      val breakdown =
        s"""{"cold_plan_p50_s":${f"$serveP50%.3f"},""" +
        s""""reused_plan_p50_s":${f"$reusedP50%.3f"},""" +
        s""""planning_overhead_p50_s":${f"${serveP50 - reusedP50}%.3f"},""" +
        s""""jobs_wall_p50_s":${f"$jobsW%.3f"},""" +
        s""""driver_submit_overhead_p50_s":${f"${reusedP50 - jobsW}%.3f"},""" +
        s""""stage_wall_p50_s":${f"$stageW%.3f"},""" +
        s""""executor_task_time_p50_s":${f"$taskT%.3f"},""" +
        s""""ideal_parallel_task_s":${f"${taskT / cores}%.3f"},"cores":$cores}"""

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
        val pdf = spark.createDataFrame(
          spark.sparkContext.parallelize(qAll.take(b).toSeq.flatMap {
            case (qid, qv) => probeCells(qv, supers, groups, NProbe).map(c =>
              org.apache.spark.sql.Row(qid, c)) }, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("query_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("qcell",
              org.apache.spark.sql.types.LongType))))
        val qc = pdf.join(qfeatAll, "query_id")
        qc.count() // materialize the batch outside the serve clock
        def p50Of(serve: => Long): Double = {
          val runs = (1 to 5).map { _ =>
            // a NEW serve Dataset per probe — each real batch differs,
            // so per-probe planning belongs inside the clock; the
            // pinned index keeps that planning file-listing-free
            val (n5, t) = timed(serve)
            require(n5 == 5L * b, s"batched serve returned $n5 rows for $b")
            t
          }.sorted
          runs(runs.length / 2)
        }
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
        s"""{"batch":$b,"p50_s":${f"$p50%.3f"},"qps":${(b / p50).toLong},""" +
          s""""window_p50_s":${f"$p50W%.3f"},"window_qps":${(b / p50W).toLong}}"""
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
      val pdfAll = spark.createDataFrame(
        spark.sparkContext.parallelize(qAll.toSeq.flatMap {
          case (qid, qv) => probeCells(qv, supers, groups, NProbe).map(c =>
            org.apache.spark.sql.Row(qid, c)) }, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("qcell",
            org.apache.spark.sql.types.LongType))))
      val qcAll = pdfAll.join(qfeatAll, "query_id")
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
      val shardP50 = shardRuns.map(_._2).sorted.apply(2)
      // semantics: the sharded merge equals the single-session kernel
      val singleRows = Similarity.frozenInt8ServeBatched(pinned, qcAll)
        .select(col("query_id"), col("vec_id"), col("cos_q")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      require(shardRuns.head._1.toSet == singleRows,
        s"sharded merge diverged: ${shardRuns.head._1.size} vs ${singleRows.size} rows")
      println(f"[annsoak] serve_sharded n=$NShards b=$maxB p50=$shardP50%.3f s " +
        f"qps=${maxB / shardP50}%.0f (single-session ${maxB / single4096P50}%.0f)")
      val shardJson =
        s"""{"n_shards":$NShards,"batch":$maxB,"p50_s":${f"$shardP50%.3f"},""" +
        s""""qps":${(maxB / shardP50).toLong},""" +
        s""""single_session_qps":${(maxB / single4096P50).toLong},""" +
        s""""speedup":${f"${single4096P50 / shardP50}%.2f"}}"""
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
      val sessServeRuns = (1 to 7).map { _ =>
        val (n5, t) = timed(sess.serveIds(sessQueries).count())
        require(n5 == 5L * NQueries, s"session serve returned $n5 rows")
        t
      }.sorted
      val sessServeP50 = sessServeRuns(sessServeRuns.length / 2)
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
      val json =
        s"""{"metric":"ann_build_soak","n":$n,"n_base":$nBase,"n_arrivals":$nArr,""" +
        s""""dim":$Dim,"k":$TrainK,"n_buckets":$nb,"gen_s":${f"$genS%.1f"},""" +
        s""""train_s":${f"$trainS%.1f"},"build_s":${f"$buildS%.1f"},""" +
        s""""build_rows_per_s":${(nBase / buildS).toLong},""" +
        s""""seg_write_s":${f"$segS%.1f"},"fold_s":${f"$foldS%.1f"},""" +
        s""""fold_rows_per_s":${(nArr / foldS).toLong},""" +
        s""""compact_s":${f"$compactS%.1f"},""" +
        s""""serve_p50_s":${f"$serveP50%.3f"},"nprobe":$NProbe,""" +
        s""""serve_breakdown":$breakdown,""" +
        s""""serve_batched":[${serveBatched.mkString(",")}],""" +
        s""""serve_sharded":$shardJson,""" +
        s""""maintained_session":{"open_s":${f"$sessOpenS%.3f"},""" +
        s""""serve_p50_s":${f"$sessServeP50%.3f"},""" +
        s""""refresh_s":${f"$refreshS%.3f"},""" +
        s""""post_refresh_serve_s":${f"$postRefreshServe%.3f"},""" +
        s""""snapshot_before":$snapBefore,"snapshot_after":$snapAfter,""" +
        s""""serves_behind_head":[${behindHead.map(_._1).mkString(",")}],""" +
        s""""poll_refresh_s":[${behindHead.map(t => f"${t._2}%.3f").mkString(",")}],""" +
        s""""loop_serve_s":[${behindHead.map(t => f"${t._3}%.3f").mkString(",")}]},""" +
        s""""n_queries":$NQueries,"index_bytes":$idxBytes}"""
      Files.writeString(java.nio.file.Paths.get(out), json + "\n")
      println(json)
    } finally {
      PartitionedTable.deleteRecursively(work)
      spark.stop()
    }
  }
}

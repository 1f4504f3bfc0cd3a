package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Spatial

/** Scratch diagnostic for join_bbox_grid scaling (not part of the
  * library surface): times the REAL grid join (`Spatial.joinBboxGridG`)
  * at several cell sizes and prints exploded-row / candidate counts.
  *
  * sf1 findings it produced (recorded in SCALING.md "Spatial joins"):
  * true intersecting pairs grow 32k (sf0.1) → 322.8M (sf1) because the
  * ScaleGen key-shifts decorrelate the synthetic lon/lat congruences —
  * the query is OUTPUT-bound there (≈80M candidate-evals/sec on 32
  * cores, 3.3:1 candidate:true ratio at g=5), not plan-bound.
  */
object SpatialProbe {

  /** Candidate pairs before the exact-predicate verify (cell equi-join only). */
  def candidatesG(s: SparkSession, d: String, g: Double): Long = {
    val a = Spatial.withCellsG(Spatial.ordersBbox(s, d), g,
      "min_lon", "max_lon", "min_lat", "max_lat")
    val b = Spatial.withCellsG(Spatial.customerBbox(s, d), g,
      "c_min_lon", "c_max_lon", "c_min_lat", "c_max_lat")
    a.as("a").join(b.as("b"),
      col("a.cx") === col("b.cx") && col("a.cy") === col("b.cy")).count()
  }

  /** Max finished-task duration observer (probe-grade: listener bus
    * is async, so read after a short settle). */
  private final class MaxTask extends org.apache.spark.scheduler.SparkListener {
    @volatile var maxMs = 0L
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null && e.taskInfo.duration > maxMs)
        maxMs = e.taskInfo.duration
  }

  /** Clustered-geometry probe (round-8 VERDICT item 4): every box's
    * min corner lands in ONE grid cell — the metro-area hot cell the
    * uniform cost model can't see. Key residues force it: orderkeys
    * ≡ 0 (mod 340) pin min_lon, custkeys ≡ 0 (mod 2720) pin both
    * customer corners (2720 = lcm(340, 160) and 3·2720 ≡ 0 mod 160).
    * Runs the kernel UNSPLIT (limit ≥ cell population: one task owns
    * all ~n_a·n_b pairs) vs TILED (default limit), and reports wall +
    * max task ms — the bounded-max-task-time evidence for the
    * fragment-replicate sub-split. */
  private def clusterProbe(spark: SparkSession, nA: Int, nB: Int): Unit = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cluster")
    (1 to nA).map(i => (340L * i, 160L * (i % 997 + 1)))
      .toDF("o_orderkey", "o_custkey")
      .write.parquet(root.resolve("orders.parquet").toString)
    (1 to nB).map(j => 2720L * j).toDF("c_custkey")
      .write.parquet(root.resolve("customer.parquet").toString)
    val d = root.toString
    val (sa, sbb) = (Spatial.boxStats(Spatial.ordersBbox(spark, d),
        "min_lon", "max_lon", "min_lat", "max_lat"),
      Spatial.boxStats(Spatial.customerBbox(spark, d),
        "c_min_lon", "c_max_lon", "c_min_lat", "c_max_lat"))
    val g = Spatial.chooseGrid(sa, sbb)
    println(s"cluster fixture: nA=$nA nB=$nB g=$g (all min-corners in one cell)")
    def run(label: String, limit: Long): Long = {
      spark.conf.set("spark.graft.bbox.subSplitLimit", limit.toString)
      val lst = new MaxTask
      spark.sparkContext.addSparkListener(lst)
      val t0 = System.nanoTime()
      val n = Spatial.joinBboxGridLocalG(spark, d, g).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // listener bus settle
      spark.sparkContext.removeSparkListener(lst)
      println(f"$label: rows=$n wall=$wall%.2f s max_task=${lst.maxMs} ms")
      n
    }
    val unsplit = run("unsplit (limit > cell population: one task, all pairs)", 1000000000L)
    val tiled = run(s"tiled   (default limit ${Spatial.SubSplitSideLimit})",
      Spatial.SubSplitSideLimit.toLong)
    spark.conf.unset("spark.graft.bbox.subSplitLimit")
    require(unsplit == tiled, s"tiling changed the result: $unsplit vs $tiled")
    println("results identical; tiling bounds the hot-cell task")
  }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/repo/testdata-local/sf1")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")

    if (d == "cluster") {
      clusterProbe(spark,
        args.lift(1).map(_.toInt).getOrElse(100000),
        args.lift(2).map(_.toInt).getOrElse(4000))
      spark.stop()
      return
    }

    def t(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime; val n = body
      println(f"$label n=$n sec=${(System.nanoTime - t0) / 1e9}%.2f")
    }

    t("orders_rows")(Spatial.ordersBbox(spark, d).count())
    t("customer_rows")(Spatial.customerBbox(spark, d).count())
    val sa = Spatial.boxStats(Spatial.ordersBbox(spark, d),
      "min_lon", "max_lon", "min_lat", "max_lat")
    val sb = Spatial.boxStats(Spatial.customerBbox(spark, d),
      "c_min_lon", "c_max_lon", "c_min_lat", "c_max_lat")
    println(s"stats a=$sa b=$sb chooseGrid=${Spatial.chooseGrid(sa, sb)}")
    t("join_auto")(Spatial.joinBboxGrid(spark, d).count())
    // "-" as the 2nd arg: stats + auto join only (skip per-g sweeps —
    // the candidate COUNT itself costs a full join pass at high sf)
    for (g <- args.lift(1).filter(_ != "-")
        .map(_.split(",").map(_.toDouble).toSeq).getOrElse(
          if (args.lift(1).contains("-")) Seq.empty else Seq(4.0, 2.0, 8.0, 1.0))) {
      t(f"cellsA_g$g%.0f")(Spatial.withCellsG(Spatial.ordersBbox(spark, d), g,
        "min_lon", "max_lon", "min_lat", "max_lat").count())
      t(f"cellsB_g$g%.0f")(Spatial.withCellsG(Spatial.customerBbox(spark, d), g,
        "c_min_lon", "c_max_lon", "c_min_lat", "c_max_lat").count())
      t(f"cands_g$g%.0f")(candidatesG(spark, d, g))
      t(f"join_g$g%.0f_run1")(Spatial.joinBboxGridG(spark, d, g).count())
      t(f"join_g$g%.0f_run2")(Spatial.joinBboxGridG(spark, d, g).count())
    }
    spark.stop()
  }
}

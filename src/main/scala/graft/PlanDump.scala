package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Optimization-round measurement tool: dump `.explain("formatted")`
  * for named declared queries to `plans/<round>/<query>_<suffix>.txt`
  * so plan-shape claims (Exchange count, join strategy, PushedFilters,
  * ReadSchema) are checkable against committed artifacts without
  * running Spark.
  *
  * Usage: sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]"
  * Defaults: /root/testdata/sf0.1 plans/r17 before <the Bench headline set>.
  *
  * Runs on the shared GraftSession, so the dumped plans are the plans
  * the bench actually runs. Each file carries the lazy formatted plan
  * and, when the query executes cheaply, the POST-RUN adaptive plan
  * (AQE finalizes join strategy + coalescing only after execution).
  */
object PlanDump {

  /** The Bench headline set (kept in sync by hand; PlanDump is a
    * measurement tool, not a contract surface). */
  private val defaultQueries = Seq(
    "scan_parquet", "filter_pred", "agg_group", "agg_distinct",
    "join_inner_hash", "join_broadcast", "join_bucketed", "join_asof",
    "win_dedup_lastwins", "sort_limit_topk", "map_contains",
    "join_range_bbox", "join_bbox_grid", "dedup_minhash_lsh",
    "dedup_substring", "dedup_embed_cosine", "sim_topk", "sim_topk_int8",
    "sim_ivf_imi", "text_tokens", "text_bm25_topk", "text_repetition",
    "agg_heavy_hitters", "stream_window_agg", "stream_source_v2",
    "pipeline_curate")

  def main(args: Array[String]): Unit = Probe.run() { h =>
    val spark = h.spark
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "plans/r17"
    val suffix = if (args.length > 2) args(2) else "before"
    val names =
      if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else defaultQueries
    Files.createDirectories(Paths.get(outDir))

    // the same substitutions Bench makes: time the operator, not
    // Verify's cache-hygiene localCheckpoint write
    val planOnly: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      Map("dedup_minhash_lsh" -> graft.operators.Dedup.dedupMinhashLshPlan _,
        "dedup_simhash" -> graft.operators.Dedup.dedupSimhashPlan _)
    names.foreach { name =>
      try {
        spark.sparkContext.setJobDescription(s"plandump: $name")
        val fn = planOnly.getOrElse(name, SparkEntry.queries(name))
        val df = fn(spark, sfDir)
        val lazyPlan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // finalize AQE via the noop sink (guide §1.4) on a fresh DF of
        // the same query so the lazy dump above stays pre-execution.
        // The write runs its OWN QueryExecution (df2.queryExecution
        // stays isFinalPlan=false — the r17 dumps' "executed plan" was
        // actually the initial plan); capture the write's QE through a
        // QueryExecutionListener so the dump shows the REAL final
        // adaptive plan, including runtime exchange/stage reuse.
        val df2 = fn(spark, sfDir)
        val captured = new java.util.concurrent.atomic.AtomicReference[String]("")
        val listener = new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            captured.set(qe.executedPlan.toString)
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        }
        spark.listenerManager.register(listener)
        try {
          df2.write.mode("overwrite").format("noop").save()
          // listener callbacks are async on the listener bus
          org.apache.spark.graftbridge.ListenerFlush.waitUntilEmpty(spark.sparkContext)
        } finally spark.listenerManager.unregister(listener)
        val finalPlan =
          if (captured.get.nonEmpty) captured.get
          else df2.queryExecution.executedPlan.toString
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
          s"== $name @ $sfDir (${spark.sparkContext.master}) ==\n\n" +
            "---- explain(formatted), pre-execution ----\n" + lazyPlan +
            "\n---- executed plan (AQE final) ----\n" + finalPlan + "\n")
        println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
  }
}

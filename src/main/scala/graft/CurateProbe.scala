package graft

import org.apache.spark.sql.functions._

/** r18 measurement tool (guide §1: measure BEFORE touching the most
  * expensive untouched query): decompose `pipeline_curate`'s wall time
  * into its stages — corpus checkpoint, exact-dedup keepers, LSH
  * candidate pairs, connected components, survivor joins, fused
  * annotation — each timed with the noop sink, labeled, repeated.
  *
  * Usage: sbt "runMain graft.CurateProbe <sfDir> [runs] [out.json]"
  */
object CurateProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(1).map(_.toInt).getOrElse(3)
    val out = args.lift(2).getOrElse("/tmp/curate_probe.json")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.{Dedup, Pipeline, TextAnalysis}

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    val results = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    def bench(name: String)(body: => Unit): Unit = {
      spark.sparkContext.setJobDescription(s"curateprobe: $name")
      val xs = (0 to runs).map(_ => time(body)) // first = warmup, dropped
      results += name -> xs.tail
      println(f"[curateprobe] $name%-22s median ${med(xs.tail)}%.3f  runs ${xs.tail.map(x => f"$x%.3f").mkString(",")} (warm ${xs.head}%.3f)")
    }

    // stage 1: the eager corpus checkpoint (charged to every run of the
    // full query — it happens at DataFrame construction)
    bench("checkpoint") {
      val docs = graft.Tables.spread(Tables.documents(spark, sfDir)).localCheckpoint(true)
      docs.unpersist(blocking = true)
    }
    // shared checkpointed corpus for the stage timings below (built
    // once OUTSIDE them, mirroring what each stage sees inside the
    // full query)
    val docs = graft.Tables.spread(Tables.documents(spark, sfDir)).localCheckpoint(true)
    bench("keepers_exact") { noop(Dedup.dedupExactOn(docs)) }
    bench("lsh_pairs") { noop(Dedup.dedupMinhashLshOn(docs)) }
    val pairs = Dedup.dedupMinhashLshOn(docs)
    bench("components") { noop(Dedup.dedupComponentsOf(pairs)) }
    val keepers = Dedup.dedupExactOn(docs).select(col("keeper_doc_id").as("doc_id"))
    val drops = Dedup.dedupComponentsOf(Dedup.dedupMinhashLshOn(docs))
      .filter(col("component") < col("doc_id")).select(col("doc_id"))
      .localCheckpoint(true)
    val keepersCk = keepers.localCheckpoint(true)
    bench("survivor_joins_only") {
      noop(docs.join(keepersCk, Seq("doc_id"), "left_semi")
        .join(drops, Seq("doc_id"), "left_anti"))
    }
    bench("annotation_only") {
      val surviving = docs.join(keepersCk, Seq("doc_id"), "left_semi")
        .join(drops, Seq("doc_id"), "left_anti")
      noop(surviving
        .withColumn("n_words", size(split(col("text"), " ")))
        .withColumn("uniq_pct",
          expr("(size(array_distinct(split(text, ' '))) * 100) div size(split(text, ' '))"))
        .filter(col("n_words").between(20, 200) && col("uniq_pct") >= 30)
        .select(col("doc_id"), col("source"), col("n_words"), col("uniq_pct"),
          TextAnalysis.langPred(col("text")).as("lang_pred"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint")))
    }
    bench("full_query") { noop(Pipeline.pipelineCurate(spark, sfDir)) }

    val json = results.map { case (k, v) =>
      s""""$k":{"median":${med(v)},"runs":[${v.mkString(",")}]}"""
    }.mkString("{", ",", s""","sf":"$sfDir","runs_per_stage":$runs}""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    println(s"[curateprobe] wrote $out")
    spark.stop()
  }
}

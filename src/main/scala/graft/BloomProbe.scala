package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.BloomJoin
import graft.functions.BloomMightContain

/** Measures what the Bloom prefilter actually buys on the gate join
  * (`join_bloom_prefilter`): rows entering the probe-side Exchange
  * with and without the filter, the realized false-positive rate
  * against the exact semi-join, the filter's byte cost vs an exact
  * key set, and end-to-end wall time for the plain vs prefiltered
  * form (median of `runs`). Emits one JSON line; usage:
  *
  *   runMain graft.BloomProbe <sfDir> [outFile] [runs]
  */
object BloomProbe {

  private def sel(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000.0)
      .select(col("o_orderkey"))

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; s(s.length / 2)
  }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = GraftSession()
    // pin the shuffled shape the operator targets: at probe scale AQE
    // would broadcast the build side and there would be no probe-side
    // Exchange to cut — at 100 TB there is
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.setLogLevel("ERROR")

    val probe = Tables.lineitem(spark, d)
    val build = sel(spark, d)
    val buildKeys = build.count()
    val probeRows = probe.count()

    val bits = BloomJoin.buildBloom(build, "o_orderkey", 0.01)
    val passBloom = probe
      .filter(BloomMightContain.mightContain(bits, col("l_orderkey")))
      .count()
    val trueMatch = probe
      .join(build, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .count()
    val fpr =
      if (probeRows == trueMatch) 0.0
      else (passBloom - trueMatch).toDouble / (probeRows - trueMatch)

    def plainAgg(): Unit = {
      probe.join(build.hint("merge"),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .collect()
    }
    // steady-state form: filter pre-built (per-batch build is amortized
    // over every join that reuses it; its one-off cost is reported
    // separately as sec_bloom_build)
    def bloomAgg(): Unit = {
      probe.filter(BloomMightContain.mightContain(bits, col("l_orderkey")))
        .join(build.hint("merge"),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .collect()
    }
    // warm both paths once, then alternate
    plainAgg(); bloomAgg()
    val tPlain = median((1 to runs).map(_ => timed(plainAgg())))
    val tBloom = median((1 to runs).map(_ => timed(bloomAgg())))
    val tBuild = median((1 to runs).map(_ =>
      timed(BloomJoin.buildBloom(build, "o_orderkey", 0.01))))

    val doc =
      s"""{"metric":"bloom_prefilter","sf_dir":"$d",""" +
        s""""probe_rows":$probeRows,"build_keys":$buildKeys,""" +
        s""""rows_into_exchange_plain":$probeRows,"rows_into_exchange_bloom":$passBloom,""" +
        s""""true_semi_rows":$trueMatch,""" +
        f""""measured_fpr":$fpr%.5f,"shuffle_cut_x":${probeRows.toDouble / math.max(passBloom, 1)}%.2f,""" +
        s""""bloom_bytes":${bits.length},"exact_keyset_bytes":${buildKeys * 8},""" +
        f""""sec_plain":$tPlain%.3f,"sec_bloom":$tBloom%.3f,""" +
        f""""sec_bloom_build":$tBuild%.3f,"runs":$runs}"""
    println(doc)
    args.lift(1).foreach(f =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f), doc + "\n"))
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._
import graft.Probe.{median, num, timed}
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

  def main(args: Array[String]): Unit = Probe.run() { h =>
    val spark = h.spark
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    // pin the shuffled shape the operator targets: at probe scale AQE
    // would broadcast the build side and there would be no probe-side
    // Exchange to cut — at 100 TB there is
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

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
    def sec(f: => Any): Double = median((1 to runs).map(_ => timed(f)._2))
    val tPlain = sec(plainAgg())
    val tBloom = sec(bloomAgg())
    val tBuild = sec(BloomJoin.buildBloom(build, "o_orderkey", 0.01))

    Probe.emit(("metric" -> "bloom_prefilter") ~ ("sf_dir" -> d) ~
      ("probe_rows" -> probeRows) ~ ("build_keys" -> buildKeys) ~
      ("rows_into_exchange_plain" -> probeRows) ~ ("rows_into_exchange_bloom" -> passBloom) ~
      ("true_semi_rows" -> trueMatch) ~ ("measured_fpr" -> num(fpr, 5)) ~
      ("shuffle_cut_x" -> num(probeRows.toDouble / math.max(passBloom, 1), 2)) ~
      ("bloom_bytes" -> bits.length) ~ ("exact_keyset_bytes" -> buildKeys * 8) ~
      ("sec_plain" -> num(tPlain)) ~ ("sec_bloom" -> num(tBloom)) ~
      ("sec_bloom_build" -> num(tBuild)) ~ ("runs" -> runs), args.lift(1))
  }
}

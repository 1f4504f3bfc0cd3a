package graft

import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._
import graft.Probe.{num, timed}

/** Measures the ONE iterative operator's scale story with numbers
  * instead of the pattern argument (r11 VERDICT item 5):
  * `dedup_components` is hash-min label propagation over the verified
  * LSH pair graph — convergence is O(component diameter) rounds, each
  * round one equi-join + partial-aggregated min with a localCheckpoint
  * lineage cut. This probe runs the exact production loop per tier and
  * records: graph size (vertices/edges), rounds to converge, per-round
  * changed-label counts (the geometric decay that IS the diameter
  * bound), per-round seconds (flat ⇒ the lineage cut works — without
  * it round N replans rounds 1..N-1 and the curve slopes up), and the
  * component census (count, max size).
  *
  * Usage: runMain graft.ComponentsProbe [outFile] [sfDir ...]
  */
object ComponentsProbe {

  def main(args: Array[String]): Unit = Probe.run() { h =>
    val spark = h.spark
    val out = args.headOption.getOrElse("COMPONENTS_r12.json")
    val tiers = if (args.length > 1) args.drop(1).toSeq
      else Seq("/root/testdata/sf0.1", "/root/repo/testdata-local/sf1",
        "/root/repo/testdata-local5/sf5")
    import graft.operators.Dedup

    val rows = tiers.map { d =>
      val tag = d.split('/').last
      // the production pair graph (verified LSH pairs), checkpointed
      // so pair generation is not charged to the propagation rounds
      val pairs = Dedup.dedupMinhashLsh(spark, d)
        .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
      val nEdges = pairs.count()
      val rounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
      val (comps, totalSec) = timed(Dedup.dedupComponentsOf(pairs,
        (r, changed, sec) => rounds += ((r, changed, sec)))
        .localCheckpoint(true))
      val nV = comps.count()
      val census = comps.groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_comp"), max(col("sz")).as("max_sz"))
        .head()
      println(f"[components] $tag V=$nV%,d E=$nEdges%,d rounds=${rounds.size} " +
        f"total=$totalSec%.2f s comps=${census.getLong(0)}%,d max=${census.getLong(1)} " +
        s"changed=${rounds.map(_._2).mkString(",")}")
      tag -> (("vertices" -> nV) ~ ("edges" -> nEdges) ~ ("rounds" -> rounds.size) ~
        ("total_sec" -> num(totalSec)) ~
        ("changed_by_round" -> rounds.map(_._2)) ~
        ("sec_by_round" -> rounds.map(t => num(t._3))) ~
        ("n_components" -> census.getLong(0)) ~
        ("max_component_size" -> census.getLong(1)))
    }
    // ---- planted-chain stress: the lineage-cut evidence --------------
    // The production graph's components are shallow (diameter <= 2 at
    // every tier), so its 2 rounds cannot show what happens when the
    // loop runs LONG. A path graph of length L forces exactly L
    // propagation rounds (the min label walks one hop per round) —
    // per-round seconds staying FLAT across all L rounds is the
    // localCheckpoint lineage cut doing its job; without the cut,
    // round N replans rounds 1..N-1 and the curve slopes up
    // super-linearly.
    val chainL = 32
    val chain = spark.range(0, chainL.toLong)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val chainRounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    Dedup.dedupComponentsOf(chain,
      (r, changed, sec) => chainRounds += ((r, changed, sec))).count()
    val secs = chainRounds.map(_._3)
    println(f"[components] chain L=$chainL rounds=${chainRounds.size} " +
      f"first=${secs.head}%.3f last=${secs.last}%.3f " +
      f"max/min=${secs.max / secs.min}%.2f")
    Probe.emit(("metric" -> "components_convergence") ~
      ("note" -> ("hash-min label propagation over the verified LSH pair graph: rounds " +
        "bounded by component diameter (changed-label counts decay to 0), per-round " +
        "seconds flat because localCheckpoint cuts lineage each round - round N never " +
        "replans rounds 1..N-1; the planted chain forces diameter-many rounds to show " +
        "the flatness over a long loop")) ~
      ("planted_chain" -> (("length" -> chainL) ~ ("rounds" -> chainRounds.size) ~
        ("sec_by_round" -> secs.map(num(_))) ~
        ("sec_first" -> num(secs.head)) ~ ("sec_last" -> num(secs.last)))) ~
      ("tiers" -> JObject(rows.toList)), Some(out))
  }
}

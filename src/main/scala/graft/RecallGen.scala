package graft

import org.apache.spark.sql.functions._

/** Unified-recipe recall corpora (r14 VERDICT item 6): the driver
  * testdata embeddings change CHARACTER across tiers (sf≤0.1 are
  * near-random vectors; ScaleGen's sf1 is 10-nudged-copy clusters),
  * so RECALL_rNN's cross-tier recall table could never answer "does
  * recall hold as the corpus grows?" — the corpus recipe changed
  * under it. This main generates tiers that differ ONLY in size:
  * the same planted-mixture recipe as AnnBuildSoak (one
  * xxhash64-derived centroid per cluster + per-id hash noise,
  * integer-hash arithmetic, deterministic under any partitioning),
  * with cluster COUNT scaled ∝ n at a fixed ~10 vectors/cluster —
  * the ScaleGen cluster shape, now at every tier.
  *
  * Run: `sbt "runMain graft.RecallGen [outBase]"` then feed the three
  * `u*` dirs to graft.Recall alongside the standard tiers. At equal
  * probe FRACTION the exact-scoring ceilings should be roughly
  * tier-invariant — that invariance (or its failure) is the scaling
  * answer the artifact exists to give.
  */
object RecallGen {

  private val Dim = 64
  private val ClusterSize = 10

  def main(args: Array[String]): Unit = Probe.run() { h =>
    val spark = h.spark
    val outBase = args.headOption.getOrElse("recall-local")
    val tiers = Seq("u0.01" -> 500L, "u0.1" -> 2000L, "u1" -> 20000L)
    tiers.foreach { case (name, n) =>
      val k = math.max(2L, n / ClusterSize)
      val vec = expr(
        s"""transform(sequence(0, ${Dim - 1}), j -> CAST(
           |  (pmod(xxhash64(pmod(id, $k) * $Dim + j), 1000) / 500.0 - 1.0)
           |  + (pmod(xxhash64(id * $Dim + j), 1000) / 5000.0)
           |AS FLOAT))""".stripMargin)
      spark.range(n)
        .select(col("id").as("vec_id"), vec.as("embedding"),
          pmod(col("id"), lit(k)).cast("int").as("label"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$outBase/$name/embeddings.parquet")
      println(s"[recallgen] $name: n=$n clusters=$k dim=$Dim")
    }
  }
}

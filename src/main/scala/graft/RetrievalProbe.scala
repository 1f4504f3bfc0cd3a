package graft

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import graft.Probe.num
import graft.operators.Retrieval

/** Sparse-retrieval quality measurement — the BM25 analog of
  * `graft.Recall`'s ANN artifact: overlap@10 of `text_bm25_topk`
  * against the exact 3-gram-set Jaccard top-10 on the same corpus,
  * per query, per tier. BM25 is a RANKING function, not a Jaccard
  * estimator, so perfect overlap is not expected — the artifact
  * states how closely the idf/length-normalized ranking tracks plain
  * set similarity on this corpus (8–9/10 at sf0.01 when built).
  *
  * Run: `sbt "runMain graft.RetrievalProbe RETRIEVAL_r10.json [sfDir ...]"`.
  */
object RetrievalProbe {
  def main(args: Array[String]): Unit = Probe.run(tempWarehouse = true) { h =>
    val spark = h.spark
    val out = args.headOption.getOrElse("RETRIEVAL_r11.json")
    val dirs = if (args.length > 1) args.drop(1).toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val tiers = dirs.map { d =>
      val (per, mean) = overlapAt10(spark, d)
      val perQ = per.toSeq.sortBy(_._1)
      println(s"[retprobe] $d mean_overlap@10=$mean per-query=${perQ.mkString(",")}")
      d -> (("per_query" -> JObject(perQ.map { case (q, o) => q.toString -> JInt(o) }.toList)) ~
        ("mean_overlap10" -> num(mean, 4)))
    }
    // hybrid fusion quality: planted blind-spot corpus, recall@10 of
    // BM25-only / dense-only / fused / fused-ANN (VERDICT r10 item 5)
    val (hd, hids, hrel) = plantHybridCorpus(spark)
    h.own(java.nio.file.Paths.get(hd))
    val hq = hybridRecall(spark, hd, hids, hrel)
    println(s"[retprobe] hybrid planted: $hq")
    val nRel = hrel.head._2.size
    Probe.emit(("metric" -> "retrieval_quality") ~ ("queries" -> Retrieval.QueryDocs) ~
      ("overlap_tiers" -> JObject(tiers.toList)) ~
      ("hybrid_planted" -> (("queries" -> hids.size) ~ ("relevant_per_query" -> nRel) ~
        ("note" -> (s"each query has ${nRel / 2} lexical-only and ${nRel / 2} " +
          "semantic-only relevant docs - each family is blind to half; fusion must " +
          "recover both")) ~
        ("recall10" -> (("bm25_only" -> num(hq.bm25Only, 4)) ~
          ("dense_only" -> num(hq.denseOnly, 4)) ~ ("fused_rrf" -> num(hq.fused, 4)) ~
          ("fused_rrf_ann" -> num(hq.fusedAnn, 4)))))), Some(out))
  }

  // ---- hybrid fusion quality on a PLANTED corpus ----------------------

  /** Per-method recall@10 of the four retrieval forms over the same
    * planted corpus (the measurement RRF exists for, Cormack 2009:
    * fusion must beat each family alone when each family has blind
    * spots the other covers). */
  final case class HybridQuality(bm25Only: Double, denseOnly: Double,
      fused: Double, fusedAnn: Double)

  /** Plant a corpus where every query has 2·`nEach` relevant docs
    * split into the two families' blind spots:
    *
    *  - `nEach` LEXICAL twins: share a topic-unique 8-word phrase with
    *    the query (6 shared 3-grams — exactly what BM25 ranks on) but
    *    carry a RANDOM unit embedding (cosine ≈ 0 to the query: the
    *    dense side is blind to them);
    *  - `nEach` SEMANTIC neighbors: embedding in the query's tight
    *    cluster (in-cluster cosine ≈ 0.95, the planted-recall
    *    geometry) but with per-doc UNIQUE vocabulary — zero shared
    *    3-grams, so the lexical side is blind to them;
    *  - `nBackground` distractors: unique vocabulary, random unit
    *    embeddings.
    *
    * Filler tokens are unique per (doc, position), so no accidental
    * cross-doc gram collisions exist: each family's top-10 is exactly
    * its visible relevant set plus noise. Returns (dir, query ids,
    * relevant sets). */
  def plantHybridCorpus(spark: SparkSession, nTopics: Int = 24,
      nEach: Int = 4, nBackground: Int = 2000):
      (String, Seq[Long], Map[Long, Set[Long]]) = {
    import spark.implicits._
    val dim = 64
    val rnd = new scala.util.Random(4242)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val sigma = 0.32 / math.sqrt(dim.toDouble)
    val centers = Array.fill(nTopics)(unit(Array.fill(dim)(rnd.nextGaussian())))
    def member(t: Int): Seq[Float] =
      unit(centers(t).map(_ + sigma * rnd.nextGaussian())).map(_.toFloat).toSeq
    def randomVec(): Seq[Float] =
      unit(Array.fill(dim)(rnd.nextGaussian())).map(_.toFloat).toSeq
    def phrase(t: Int): String = (0 until 8).map(j => s"topic${t}p$j").mkString(" ")
    def filler(id: Long, n: Int): String =
      (0 until n).map(j => s"f${id}x$j").mkString(" ")
    val queries = (0 until nTopics).map { t =>
      (t.toLong, s"${phrase(t)} ${filler(t.toLong, 8)}", member(t), t)
    }
    val lexBase = nTopics.toLong
    val lex = for (t <- 0 until nTopics; j <- 0 until nEach) yield {
      val id = lexBase + t.toLong * nEach + j
      (id, s"${phrase(t)} ${filler(id, 8)}", randomVec(), t)
    }
    val semBase = lexBase + nTopics.toLong * nEach
    val sem = for (t <- 0 until nTopics; j <- 0 until nEach) yield {
      val id = semBase + t.toLong * nEach + j
      (id, filler(id, 16), member(t), t)
    }
    val bgBase = semBase + nTopics.toLong * nEach
    val bg = (0 until nBackground).map { i =>
      val id = bgBase + i
      (id, filler(id, 16), randomVec(), -1)
    }
    val rows = queries ++ lex ++ sem ++ bg
    val dir = java.nio.file.Files.createTempDirectory("graft_hybrid")
    rows.map { case (id, text, _, _) =>
      (id, text, "en", "planted", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    rows.map { case (id, _, v, t) => (id, v, t) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
    val ids = queries.map(_._1)
    val relevant = (0 until nTopics).map { t =>
      t.toLong -> ((0 until nEach).map(j => lexBase + t.toLong * nEach + j) ++
        (0 until nEach).map(j => semBase + t.toLong * nEach + j)).toSet
    }.toMap
    (dir.toString, ids, relevant)
  }

  /** recall@10 of each retrieval form against the planted truth —
    * every list is the SHIPPED list builder (sparseTopFor /
    * denseTopExactFor / denseTopAnnFor / the two fusions), not a
    * re-derivation. */
  def hybridRecall(s: SparkSession, d: String, ids: Seq[Long],
      relevant: Map[Long, Set[Long]]): HybridQuality = {
    def rec(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "doc_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val per = ids.map { q =>
        val rel = relevant(q)
        got.getOrElse(q, Set.empty).intersect(rel).size.toDouble /
          math.min(10, rel.size)
      }
      per.sum / per.size
    }
    HybridQuality(
      bm25Only = rec(Retrieval.sparseTopFor(s, d, ids)),
      denseOnly = rec(Retrieval.denseTopExactFor(s, d, ids)),
      fused = rec(Retrieval.simHybridRrfFor(s, d, ids)),
      fusedAnn = rec(Retrieval.simHybridRrfAnnFor(s, d, ids)))
  }

  /** Per-query |BM25 top-10 ∩ Jaccard top-10| and the mean. */
  def overlapAt10(s: SparkSession, d: String): (Map[Long, Int], Double) = {
    val docs = Tables.documents(s, d)
    val ids = Retrieval.QueryDocs
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "doc_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val bm = sets(Retrieval.textBm25Topk(s, d))
    val tr = sets(Retrieval.jaccardTop(docs, ids))
    val per = ids.map(q =>
      q -> bm.getOrElse(q, Set.empty).intersect(tr.getOrElse(q, Set.empty)).size).toMap
    (per, if (per.isEmpty) 0.0 else per.values.sum.toDouble / per.size)
  }
}

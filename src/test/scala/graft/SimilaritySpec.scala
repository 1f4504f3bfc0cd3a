package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Multimodal, Similarity, TextAnalysis}

/** Known-answer tests for similarity search, text analysis, and the
  * multimodal decode plumbing. */
class SimilaritySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  test("dot: deterministic left-fold cosine on known vectors") {
    val df = Seq(
      (Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
      (Array(0.6f, 0.8f, 0.0f), Array(0.6f, 0.8f, 0.0f))).toDF("a", "b")
    val r = df.select(Similarity.dot(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(r(0) === 1.0)
    assert(r(1) === 0.0)
    assert(math.abs(r(2) - 1.0) < 1e-7) // float32 0.6/0.8 squares
  }

  test("sim_topk on the test corpus: self excluded, ranks contiguous, scores non-increasing") {
    val r = Similarity.simTopk(spark, "/root/testdata/sf0.001")
      .orderBy("query_id", "rnk").collect()
    val byQuery = r.groupBy(_.getLong(0))
    assert(byQuery.keySet === Set(0L, 1L, 2L))
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getInt(3)).toSeq === (1 to 10))
      val scores = rows.map(r => r.getDouble(2))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(!rows.exists(row => row.getLong(1) == row.getLong(0))) // no self-match
    }
  }

  test("int8 quantization: codes bounded to ±127, the max-|v| element saturates, scale > 0") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (sc, q) = Similarity.quantizeCols(col("embedding"))
    val rows = e.select(col("vec_id"), sc.as("sc"), q.as("q")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val codes = r.getSeq[Byte](2)
      assert(codes.forall(c => c >= -127 && c <= 127), s"vec ${r.getLong(0)}")
      // the element at max |v| maps to ±127 (symmetric saturation)
      assert(codes.exists(c => math.abs(c.toInt) === 127), s"vec ${r.getLong(0)}")
      assert(r.getDouble(1) > 0.0)
    }
  }

  test("native quantize_i8 equals the portable HOF quantizer on the corpus") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (nsc, nq) = Similarity.quantizeCols(col("embedding"))
    val (hsc, hq) = Similarity.quantizeColsHof(col("embedding"))
    val both = e.select(col("vec_id"), nsc.as("ns"), nq.as("ncodes"),
      hsc.as("hs"), hq.as("hcodes")).collect()
    both.foreach { r =>
      assert(r.getDouble(1) === r.getDouble(3), s"scale, vec ${r.getLong(0)}")
      assert(r.getSeq[Byte](2) === r.getSeq[Byte](4), s"codes, vec ${r.getLong(0)}")
    }
  }

  test("sim_topk_int8: high recall vs the exact float top-10") {
    val d = "/root/testdata/sf0.001"
    val exact = Similarity.simTopk(spark, d)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.simTopkInt8(spark, d)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(quant.size === 30)
    val overlap = (exact intersect quant).size
    // int8 cos error is ~1e-3; only near-ties can flip rank
    assert(overlap >= 24, s"int8 top-10 overlap with exact: $overlap/30")
  }

  test("quantizer property: codes bounded, dequantization error within half a step, zero vector safe") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val vecGen = for {
      n <- Gen.chooseNum(1, 96)
      v <- Gen.listOfN(n, Gen.chooseNum(-8.0f, 8.0f))
    } yield v.toArray
    val vecs: Seq[Array[Float]] =
      ((0 until 40).flatMap(i => vecGen(Gen.Parameters.default, Seed(7L + i))) :+
        Array.fill(16)(0.0f)) // all-zero edge case
    val df = vecs.map(v => Tuple1(v)).toDF("embedding")
    val (sc, q) = Similarity.quantizeCols(col("embedding"))
    val rows = df.select(col("embedding"), sc.as("sc"), q.as("q")).collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0)
      val scale = r.getDouble(1)
      val codes = r.getSeq[Byte](2)
      assert(codes.length === v.length)
      if (v.forall(_ == 0.0f)) {
        assert(scale === 0.0)
        assert(codes.forall(_ === 0.toByte))
      } else {
        assert(scale > 0.0)
        assert(codes.forall(c => c >= -127 && c <= 127))
        // |code - v*scale| <= 0.5 (floor(x+0.5) is within half a step)
        v.zip(codes).foreach { case (x, c) =>
          assert(math.abs(c.toDouble - x.toDouble * scale) <= 0.5 + 1e-9,
            s"x=$x scale=$scale code=$c")
        }
      }
    }
  }

  test("sim_ivf_int8 probes the same cells as sim_ivf_imi; quantized ranking stays close") {
    val d = "/root/testdata/sf0.001"
    // int8 shares the two-level (IMI) assignment with sim_ivf_imi —
    // identical candidate cells, only the score arithmetic differs:
    // the per-cell top-5 can flip only among quantization near-ties
    val f = Similarity.simIvfImi(spark, d)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val q = Similarity.simIvfInt8(spark, d)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(q.nonEmpty)
    val overlap = (f intersect q).size
    assert(overlap * 10 >= f.size * 8, s"overlap $overlap of ${f.size}")
  }

  test("bucketed index serve returns exactly the sim_ivf_int8 relation") {
    val d = "/root/testdata/sf0.001"
    // the persisted bucketBy(cell) index is a LAYOUT choice: the
    // serve path must produce the identical relation, row for row
    val direct = Similarity.simIvfInt8(spark, d)
      .select("query_id", "vec_id", "cell", "cos_q", "rnk")
      .as[(Long, Long, Long, Double, Int)].collect().toSet
    val served = Similarity.simIvfInt8Bucketed(spark, d)
      .select("query_id", "vec_id", "cell", "cos_q", "rnk")
      .as[(Long, Long, Long, Double, Int)].collect().toSet
    assert(served.nonEmpty)
    assert(served === direct)
    Similarity.dropIndexTables(spark)
  }

  test("native dot_f32 is bit-equal to the higher-order-function fold on the corpus") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q"))
    val both = e.crossJoin(broadcast(q)).select(
      Similarity.dot(col("embedding"), col("q")).as("native"),
      Similarity.dotHof(col("embedding"), col("q")).as("hof"))
    both.collect().foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
    // null semantics match zip_with padding: length mismatch -> NULL
    import spark.implicits._
    val odd = Seq((Array(1.0f, 2.0f), Array(1.0f))).toDF("a", "b")
    assert(odd.select(Similarity.dot(col("a"), col("b"))).head().isNullAt(0))
    assert(odd.select(Similarity.dotHof(col("a"), col("b"))).head().isNullAt(0))
  }

  test("sim_topk two-level top-k equals the direct single-window form") {
    val d = "/root/testdata/sf0.001"
    val twoLevel = Similarity.simTopk(spark, d)
      .select("query_id", "vec_id", "cos_r", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val e = Tables.embeddings(spark, d)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(Similarity.dot(col("q"), col("embedding")), 4).as("cos_r"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_r").desc, col("vec_id").asc)
    val direct = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(twoLevel === direct)
  }

  test("sim_topk_int8 two-level top-k equals the direct single-window form") {
    // the int8 twin of the float case above: quantized cosines tie far
    // more often than float ones, so this pins the heap's (cos_q desc,
    // vec_id asc) total order against the window's on the int8 shape
    val d = "/root/testdata/sf0.001"
    val cols = Seq("query_id", "vec_id", "qdot", "cos_q", "rnk").map(col)
    val twoLevel = Similarity.simTopkInt8(spark, d).select(cols: _*)
      .orderBy("query_id", "rnk").as[(Long, Long, Long, Double, Int)].collect().toSeq
    val e = Tables.embeddings(spark, d)
    val (sc, q) = Similarity.quantizeCols(col("embedding"))
    val corpus = e.select(col("vec_id"), sc.as("c_scale"), q.as("cq"))
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), sc.as("q_scale"), q.as("qq"))
    val qdot = graft.functions.DotI8.dotI8(col("cq"), col("qq"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), qdot.as("qdot"),
        Similarity.cosQ(qdot).as("cos_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_q").desc, col("vec_id").asc)
    val direct = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10).select(cols: _*)
      .orderBy("query_id", "rnk").as[(Long, Long, Long, Double, Int)].collect().toSeq
    assert(direct.length === 30)
    assert(twoLevel === direct)
    // the kernel on a tie-heavy relation of the same shape: 5 distinct
    // scores over 200 rows per query, so every k-cut lands inside a
    // tie; rows arrive in DESCENDING vec_id, so a heap that broke ties
    // by arrival instead of vec_id asc would keep the wrong ones
    val ties = (0L until 3L).flatMap(q => (199L to 0L by -1).map(v =>
        (q, v, v % 13, ((v * 7919 + q) % 5).toDouble)))
      .toDF("query_id", "vec_id", "qdot", "cos_q").repartition(4)
    assert(Similarity.heapTopK[(Long, Long, Long, Double)](ties, 10, "cos_q")
      .collect().toSet === Similarity.topK(ties, "cos_q", 10).collect().toSet)
  }

  test("nearest_centroid expression equals the crossJoin+max_by argmax form") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val cents = Similarity.collectCentroidsOf(e)
    val viaExpr = e.select(col("vec_id"),
        graft.functions.NearestCentroid.nearest(col("embedding"), cents).as("cell"))
      .as[(Long, Long)].collect().toMap
    // the round-3 join form this expression replaced — same argmax,
    // same round-4 + smallest-id tie-break, via shuffle machinery —
    // over the SAME (refined) centroid set
    val centsDf = cents.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("cent_id", "c_emb")
    val viaJoin = e.crossJoin(broadcast(centsDf))
      .select(col("vec_id"), col("cent_id"),
        round(Similarity.dot(col("embedding"), col("c_emb")), 4).as("ccos"))
      .groupBy(col("vec_id"))
      .agg(expr("max_by(cent_id, struct(ccos, -cent_id))").as("cell"))
      .as[(Long, Long)].collect().toMap
    assert(viaExpr === viaJoin)
    assert(viaExpr.size === 500)
  }

  test("nearest_centroid ties break on the ROUNDED dot: 4-decimal tie -> smallest id") {
    // ids ascending, but the LOWER id has the (slightly) lower raw dot:
    // 0.70706 vs 0.70714 — both round to 0.7071, so the oracle's
    // row_number ORDER BY round(dot,4) DESC, cent_id ASC picks id 1.
    // A raw-dot argmax would pick id 2 and diverge from DuckDB.
    val cents = Array(
      (1L, Array(0.70706f, 0.0f)),
      (2L, Array(0.70714f, 0.0f)))
    val df = Seq((1L, Array(1.0f, 0.0f))).toDF("id", "v")
    val cell = df.select(
        graft.functions.NearestCentroid.nearest(col("v"), cents).as("cell"))
      .head().getLong(0)
    assert(cell === 1L)
    // and an unambiguous winner is still the raw max
    val cents2 = Array((1L, Array(0.5f, 0.0f)), (2L, Array(0.9f, 0.0f)))
    val cell2 = df.select(
        graft.functions.NearestCentroid.nearest(col("v"), cents2).as("cell"))
      .head().getLong(0)
    assert(cell2 === 2L)
  }

  test("nearest_centroid null semantics: null vector or length mismatch -> NULL cell") {
    val cents = Array((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
    val df = Seq(
      (1L, Some(Array(0.9f, 0.1f))),
      (2L, None: Option[Array[Float]]),
      (3L, Some(Array(0.9f)))).toDF("id", "v") // wrong dim
    val r = df.select(col("id"),
        graft.functions.NearestCentroid.nearest(col("v"), cents).as("cell"))
      .collect().map(row => row.getLong(0) -> (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
    assert(r(1L) === Some(1L))
    assert(r(2L) === None)
    assert(r(3L) === None)
  }

  test("multi-probe LSH dominates single-probe pointwise by rank") {
    val d = "/root/testdata/sf0.001"
    def byRank(df: org.apache.spark.sql.DataFrame): Map[(Long, Int), Double] =
      df.select("query_id", "rnk", "cos_r")
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val single = byRank(Similarity.simAnnLsh(spark, d))
    val multi = byRank(Similarity.simAnnLshMultiprobe(spark, d))
    // the multi-probe candidate set is a superset, so at every rank the
    // returned score can only be >= the single-probe score
    single.foreach { case (key, cs) =>
      assert(multi.contains(key) && multi(key) >= cs,
        s"$key: multiprobe ${multi.get(key)} < single-probe $cs") }
    assert(multi.size >= single.size)
    assert(multi.nonEmpty)
  }

  test("IVF nprobe=2 never loses recall vs nprobe=1; candidates stay cell-bounded") {
    val d = "/root/testdata/sf0.001"
    def weakest(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.groupBy("query_id").agg(min(col("cos_r")).as("w"))
        .as[(Long, Double)].collect().toMap
    val one = weakest(Similarity.simIvf(spark, d))
    val two = weakest(Similarity.simIvfNprobe(spark, d))
    // a strictly larger candidate pool can only raise (or keep) the
    // weakest of the returned top-5 per query
    one.foreach { case (q, w1) => assert(two(q) >= w1,
      s"query $q: nprobe=2 weakest ${two(q)} < nprobe=1 weakest $w1") }
    assert(two.keySet === Set(0L, 1L, 2L))
  }

  test("quantizer cell population stays bounded (k grows with the corpus)") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val n = e.count()
    val k = Similarity.centroidK(n)
    val cents = Similarity.collectCentroidsOf(e)
    assert(cents.length === k)
    val sizes = e.select(
        graft.functions.NearestCentroid.nearest(col("embedding"), cents).as("cell"))
      .groupBy("cell").count().as[(Long, Long)].collect().map(_._2)
    // bounded cells are what keep the SemDeDup verify join and IVF
    // probes from going quadratic/linear — assert max <= 4x average
    val avgCeil = (n + k - 1) / k
    assert(sizes.max <= 4 * avgCeil,
      s"max cell ${sizes.max} exceeds 4x average cell $avgCeil (k=$k, n=$n)")
    // and k itself scales: 10x the corpus must raise k 10x (mod clamps)
    assert(Similarity.centroidK(64L * Similarity.MaxCentroidK) === Similarity.MaxCentroidK)
    assert(Similarity.centroidK(6400) === 100)
    assert(Similarity.centroidK(64000) === 1000)
  }

  test("Lloyd refinement: ids preserved, recall not worse, cells not more skewed") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val k = Similarity.centroidK(e.count())
    val seed = Similarity.centroids(e, k).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val refined = Similarity.refineCentroids(e, seed)
    // ids never change (NearestCentroid requires ascending ids; the
    // oracle CTE joins rounds on cent_id)
    assert(refined.map(_._1).toSeq === seed.map(_._1).toSeq)
    assert(refined.exists { case (id, v) => // refinement actually moved something
      !java.util.Arrays.equals(v, seed.find(_._1 == id).get._2) })

    def cellSizes(cents: Array[(Long, Array[Float])]): Seq[Long] =
      e.select(graft.functions.NearestCentroid.nearest(col("embedding"), cents).as("cell"))
        .groupBy("cell").count().as[(Long, Long)].collect().map(_._2).toSeq
    def spread(sizes: Seq[Long]): Double = {
      val mean = sizes.sum.toDouble / sizes.size
      math.sqrt(sizes.map(s => (s - mean) * (s - mean)).sum / sizes.size)
    }
    // Lloyd balances cells toward the data's density: population
    // spread must not get worse than the raw sample's
    assert(spread(cellSizes(refined)) <= spread(cellSizes(seed)),
      s"refined spread ${spread(cellSizes(refined))} > seed ${spread(cellSizes(seed))}")

    // recall vs the exact top-5 (nprobe=1 IVF with each centroid set)
    val exact = Similarity.simTopk(spark, d).filter(col("rnk") <= 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def ivfHits(cents: Array[(Long, Array[Float])]): Int = {
      val cells = e.select(col("vec_id"),
        graft.functions.NearestCentroid.nearest(col("embedding"), cents).as("cell"),
        col("embedding"))
      val q = e.filter(col("vec_id") < 3).select(col("vec_id").as("query_id"),
        graft.functions.NearestCentroid.nearest(col("embedding"), cents).as("qcell"),
        col("embedding").as("qv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos_r").desc, col("vec_id").asc)
      cells.join(broadcast(q),
          col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(Similarity.dot(col("qv"), col("embedding")), 4).as("cos_r"))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
        .select("query_id", "vec_id").as[(Long, Long)].collect()
        .count { case (q2, v) => exact.getOrElse(q2, Set.empty).contains(v) }
    }
    assert(ivfHits(refined) >= ivfHits(seed),
      "refinement must not lose recall vs the raw seed sample")
  }

  test("language ID: priority argmax picks the list language on planted stopwords") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_text")
    Seq(
      (1L, "el gato de la casa y el perro de los vecinos", "es", "s0"),
      (2L, "the cat and the dog of a house", "en", "s0"),
      (3L, "xyz qqq zzz www", "zh", "s0")) // no stopword hits -> all scores 0 -> 'en' (priority)
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    val r = TextAnalysis.textLangid(spark, tmp.toString)
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(r(1L) === "es")
    assert(r(2L) === "en")
    assert(r(3L) === "en") // tie -> first in priority order
  }

  test("multimodal decode is a real PNG decode: round-trips arbitrary pixels") {
    // a non-constant gradient: decode must recover the exact raster
    // (PNG is lossless), so the checksum equals the direct pixel sum —
    // impossible for anything short of a genuine decoder
    val img = new java.awt.image.BufferedImage(5, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var expected = 0L
    for (y <- 0 until 3; x <- 0 until 5) {
      val (r, g, b) = (x * 40, y * 80, (x + y) * 17)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
      expected += r + g + b
    }
    val asset = Multimodal.Asset(1L, Multimodal.encodePng(img), 5, 3, 3)
    val f = Multimodal.decode(asset)
    assert(f.width === 5 && f.height === 3 && f.n_pixels === 15)
    assert(f.first_byte === 137) // PNG magic
    assert(f.checksum === (expected % 256).toInt)
  }

  test("multimodal decode on the corpus: decoded geometry/checksum match the doc_id formula") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_mm")
    Seq((7L, "hello world", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    val r = Multimodal.multimodalDecode(spark, tmp.toString).collect()(0)
    // doc 7: 23x23 constant fill (7, 49, 91)
    assert(r.getAs[Int]("width") === 23 && r.getAs[Int]("height") === 23)
    assert(r.getAs[Int]("n_pixels") === 529)
    assert(r.getAs[Int]("first_byte") === 137)
    assert(r.getAs[Int]("checksum") === (529L * (7 + 49 + 91) % 256).toInt)
  }

  test("multimodal resize: real resample hits both keep and downscale branches") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_mm3")
    // doc 8: 24x24 (<=64, keep); doc 63: 79x31 (downscale to 64x25)
    Seq((8L, "a", "en", "s0"), (63L, "b", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    val r = Multimodal.multimodalResize(spark, tmp.toString)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Int]("out_w"), x.getAs[Int]("out_h"), x.getAs[Int]("checksum")))).toMap
    assert(r(8L) === ((24, 24, (24L * 24 * ((8 % 256) + (8 * 7 % 256) + (8 * 13 % 256)) % 256).toInt)))
    val (ow, oh) = (79 * 64 / 79, 31 * 64 / 79) // 64 x 25
    assert(r(63L) === ((ow, oh,
      (ow.toLong * oh * ((63 % 256) + (63 * 7 % 256) + (63 * 13 % 256)) % 256).toInt)))
  }

  test("audio windows: s16le round-trip matches the waveform formula; window aggs exact") {
    val d = "/root/testdata/sf0.001"
    val rows = Multimodal.multimodalAudioWindows(spark, d)
      .orderBy("doc_id", "window_id").collect()
    assert(rows.nonEmpty)
    // brute-force recomputation from the waveform formula for a few docs
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.keys.toSeq.sorted.take(5).foreach { id =>
      val n = Multimodal.pcmSamples(id)
      val samples = (0 until n).map(i => math.abs(Multimodal.pcmSample(id, i)).toLong)
      val expect = samples.zipWithIndex.groupBy(_._2 / 40).toSeq.sortBy(_._1)
        .map { case (w, ss) => (w.toLong, ss.size.toLong, ss.map(_._1).sum, ss.map(_._1).max) }
      val got = byDoc(id).sortBy(_.getLong(1))
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      assert(got === expect, s"doc $id")
    }
    // every full window has exactly 40 samples; peaks bounded by s16
    rows.foreach { r =>
      assert(r.getLong(2) <= 40L && r.getLong(2) >= 1L)
      assert(r.getLong(4) <= 32768L)
    }
  }

  test("frame sampling emits n_frames rows per asset at 40ms offsets") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_mm2")
    Seq((6L, "abc", "en", "s0"), (5L, "def", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    val r = Multimodal.multimodalFrames(spark, tmp.toString)
      .orderBy("doc_id", "frame_idx").collect()
    // doc 5: 5%4=1 -> 2 frames; doc 6: 6%4=2 -> 3 frames
    assert(r.count(_.getLong(0) == 5L) === 2)
    assert(r.count(_.getLong(0) == 6L) === 3)
    assert(r.filter(_.getLong(0) == 6L).map(_.getInt(3)).toSeq === Seq(0, 40, 80))
  }

  test("beam-2 IMI assignment (imi_cell2) equals the driver-side top-2-super argmax") {
    val d = "/root/testdata/sf0.001"
    val (supers, groups) = Similarity.twoLevelIndex(spark, d)
    def dot4(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var j = 0
      while (j < a.length) { acc += a(j).toDouble * b(j).toDouble; j += 1 }
      java.math.BigDecimal.valueOf(acc)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    val e = Tables.embeddings(spark, d)
    val got = e.select(col("vec_id"),
        Similarity.imiCellOf(spark, d)(col("embedding")).as("cell"),
        col("embedding")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2).toArray))
    assert(got.nonEmpty)
    got.foreach { case (vid, cell, v) =>
      val top2 = supers.sortBy { case (sid, sv) => (-dot4(v, sv), sid) }.take(2)
      val cands = top2.flatMap { case (sid, _) => groups(sid.toInt) }
      val expected = cands.map { case (id, cv) => (id, dot4(v, cv)) }
        .sortBy { case (id, sc) => (-sc, id) }.head._1
      assert(cell === expected, s"vec $vid: got cell $cell, expected $expected")
    }
  }

  test("imi_cells_top2: element 0 is the imi_cell2 assignment; element 1 the global runner-up") {
    val d = "/root/testdata/sf0.001"
    val (supers, groups) = Similarity.twoLevelIndex(spark, d)
    def dot4(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var j = 0
      while (j < a.length) { acc += a(j).toDouble * b(j).toDouble; j += 1 }
      java.math.BigDecimal.valueOf(acc)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    val e = Tables.embeddings(spark, d)
    val got = e.select(col("vec_id"),
        Similarity.imiCellOf(spark, d)(col("embedding")).as("cell"),
        graft.functions.ImiCellsTop2.cells(col("embedding"), supers, groups).as("cells2"),
        col("embedding")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toSeq, r.getSeq[Float](3).toArray))
    assert(got.nonEmpty)
    got.foreach { case (vid, cell1, cells2, v) =>
      val top2 = supers.sortBy { case (sid, sv) => (-dot4(v, sv), sid) }.take(2)
      val cands = top2.flatMap { case (sid, _) => groups(sid.toInt) }
      val ranked = cands.map { case (id, cv) => (id, dot4(v, cv)) }
        .sortBy { case (id, sc) => (-sc, id) }.map(_._1)
      assert(cells2.head === cell1, s"vec $vid: top2 head disagrees with imi_cell2")
      assert(cells2 === ranked.take(2).toSeq, s"vec $vid: expected ${ranked.take(2).toSeq}, got $cells2")
      assert(cells2.distinct.size === cells2.size, s"vec $vid: duplicate cells")
    }
  }

  test("sim_ivf_imi_ma never loses a pair vs sim_ivf_imi at the same probe budget") {
    val d = "/root/testdata/sf0.001"
    val ma = Similarity.simIvfImiMa(spark, d)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val imi = Similarity.simIvfImi(spark, d)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the ma candidate set is a superset per query (same probed cell,
    // corpus additionally reachable through rank-2 assignments), so at
    // top-5 the ma result can only improve or re-rank, never shrink
    val imiByQ = imi.groupBy(_._1); val maByQ = ma.groupBy(_._1)
    imiByQ.foreach { case (q, pairs) =>
      assert(maByQ.getOrElse(q, Set.empty).size >= pairs.size,
        s"query $q: ma returned fewer top-5 rows than imi")
    }
    // and each pair's cell is the query's probed cell by construction
    val cellRows = Similarity.simIvfImiMa(spark, d).select("query_id", "cell")
      .distinct().collect()
    assert(cellRows.map(_.getLong(0)).distinct.length === cellRows.length,
      "a query matched through more than one cell: probe side must be single-cell")
  }

  test("beam-1 two-level assignment (ablation pair) equals the driver-side argmax over the parent map") {
    val d = "/root/testdata/sf0.001"
    val (supers, groups) = Similarity.twoLevelIndex(spark, d)
    val k = groups.map(_.length).sum
    assert(supers.length === math.ceil(math.sqrt(k.toDouble)).toInt)
    assert(groups.flatMap(_.map(_._1)).sorted.toSeq ===
      groups.flatMap(_.map(_._1)).toSeq.sorted) // ascending ids per group union
    // same fold + round rule as the expressions
    def dot4(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var j = 0
      while (j < a.length) { acc += a(j).toDouble * b(j).toDouble; j += 1 }
      java.math.BigDecimal.valueOf(acc)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    def argmax(v: Array[Float], cands: Array[(Long, Array[Float])]): Long =
      cands.map { case (id, cv) => (id, dot4(v, cv)) }
        .reduceLeft((x, y) => if (y._2 > x._2) y else x)._1
    val e = Tables.embeddings(spark, d)
    val cellCol = graft.functions.NearestCentroidInGroup.nearestIn(
      col("embedding"),
      graft.functions.NearestCentroid.nearest(col("embedding"), supers), groups)
    val got = e.select(col("vec_id"), cellCol.as("cell"),
        col("embedding")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2).toArray))
    assert(got.nonEmpty)
    got.foreach { case (vid, cell, v) =>
      val sIdx = argmax(v, supers)
      val expected = argmax(v, groups(sIdx.toInt))
      assert(cell === expected, s"vec $vid: got cell $cell, expected $expected")
      assert(groups(sIdx.toInt).exists(_._1 == cell),
        s"vec $vid: cell $cell is not a child of super $sIdx")
    }
    // out-of-range super id -> NULL, never a wrong cell
    val nulls = e.select(graft.functions.NearestCentroidInGroup.nearestIn(
      col("embedding"), lit(supers.length.toLong), groups).as("c")).collect()
    assert(nulls.forall(_.isNullAt(0)))
  }

  test("stream_ann_serve: micro-batch union equals the one-shot probe") {
    val d = "/root/testdata/sf0.001"
    val streamed = Similarity.streamAnnServe(spark, d)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(streamed.nonEmpty && streamed.map(_.getInt(5)).distinct.sorted == Seq(0, 1, 2))
    // retrieval is stateless: the loop's union must equal the batch
    // probe over the same 12 queries, modulo the sub_batch tag
    val batch = Similarity.simIvfInt8BucketedFor(spark, d, 12)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(streamed.map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getInt(4))) ==
      batch.map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getInt(4))))
    streamed.foreach(r => assert(r.getInt(5) == (r.getLong(0) % 3).toInt))
  }

  test("stream_ann_maintain: maintained table serves the direct frozen projection exactly") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val isArr = graft.operators.Retrieval.isArrival(col("vec_id"))
    assert(e.filter(isArr).count() > 0) // the fixture must actually stream something
    val maintained = Similarity.streamAnnMaintain(spark, d)
      .select("query_id", "vec_id", "cell", "cos_q", "rnk")
      .as[(Long, Long, Long, Double, Int)].collect().toSet
    // the same frozen quantizer applied directly, no PartitionedTable,
    // no streaming — the maintenance plumbing must lose/duplicate
    // nothing through append, txn replay protection, and compaction
    val (supers, groups) =
      Similarity.twoLevelIndexOf(Similarity.collectCentroidsOf(e.filter(!isArr)))
    def cellOf(v: org.apache.spark.sql.Column) =
      graft.functions.ImiCell2.cell(v, supers, groups)
    val direct = e.select(col("vec_id"), cellOf(col("embedding")).as("cell"),
      Similarity.quantizeCols(col("embedding"))._1.as("c_scale"),
      Similarity.quantizeCols(col("embedding"))._2.as("cq"))
    val qcells = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), cellOf(col("embedding")).as("qcell"),
        Similarity.quantizeCols(col("embedding"))._1.as("q_scale"),
        Similarity.quantizeCols(col("embedding"))._2.as("qq"))
    val expected = Similarity.frozenInt8Serve(direct, qcells)
      .select("query_id", "vec_id", "cell", "cos_q", "rnk")
      .as[(Long, Long, Long, Double, Int)].collect().toSet
    assert(maintained === expected && maintained.nonEmpty)
  }
}

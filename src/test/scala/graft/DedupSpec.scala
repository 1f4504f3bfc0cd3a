package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Known-answer tests for the dedup suite on handcrafted corpora
  * (the driver-table queries are oracle-checked; these pin the
  * *semantics* on inputs with known ground truth). */
class DedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog near the old river bank today"
  private val nearDup = // one word changed
    "the quick brown fox jumps over the lazy cat near the old river bank today"
  private val unrelated =
    "spark executes declarative plans with columnar batches and code generation stages"

  private def docs = Seq(
    (1L, base, "s0"), (2L, base, "s0"),          // exact dups
    (3L, nearDup, "s0"), (4L, unrelated, "s0"),
    (5L, unrelated + " extra", "s1")
  ).toDF("doc_id", "text", "source")

  test("shingles: k=3 over n words yields n-k+1 distinct shingles") {
    val r = docs.select(Dedup.shingles(col("text"), 3).as("s"))
      .filter(col("s").isNotNull).collect()
    assert(r(0).getSeq[String](0).length === 13) // 15 words -> 13 shingles
    assert(r(0).getSeq[String](0).head === "the quick brown")
  }

  test("minhash signature: identical texts get identical sigs; near-dups share most slots") {
    val sigs = docs.select(col("doc_id"),
        Dedup.minhashSig(Dedup.shingles(col("text"), 3), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sigs(1L) === sigs(2L))
    val sharedNear = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    val sharedFar = sigs(1L).zip(sigs(4L)).count { case (a, b) => a == b }
    assert(sharedNear > sharedFar)
    assert(sharedFar === 0) // disjoint shingle sets
  }

  test("LSH candidate pairs include the exact pair and survive Jaccard>=0.5 verification") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dedup")
    docs.write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    val pairs = Dedup.dedupMinhashLsh(spark, tmp.toString)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))  // exact dup always survives
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // near-dup: J = 10/14 ≈ 0.71
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(4L) && Set(a, b).intersect(Set(1L, 2L, 3L)).nonEmpty })
  }

  test("exact dedup groups identical texts under one keeper") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dedup2")
    docs.write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    val r = Dedup.dedupExact(spark, tmp.toString)
      .select("keeper_doc_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(r(1L) === 2L) // docs 1 and 2 collapse, keeper = min id
    assert(r(3L) === 1L)
  }

  test("native WordShingles expression is bit-equal to the portable HOF form") {
    val corpus = docs.select(col("text"))
      .unionAll(Seq("one", "one two", "a  b c", " lead", "trail ", "a b a b a b")
        .toDF("text"))
    val both = corpus.select(
      graft.functions.WordShingles.shingles(col("text"), 3).as("native"),
      Dedup.shingles(col("text"), 3).as("hof"))
    both.collect().foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1)) // incl. distinct order
    }
    val k2 = corpus.select(
      graft.functions.WordShingles.shingles(col("text"), 2).as("native"),
      Dedup.shingles(col("text"), 2).as("hof"))
    k2.collect().foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
  }

  test("NULL text: native kernels match HOF forms (empty shingles, k-NULL signature)") {
    // HOF shingles: when(size(NULL) >= k) has a NULL condition -> the
    // otherwise() empty array; HOF minhash: array_min(transform(NULL))
    // is NULL per seed -> k-NULL signature (never a NULL array)
    val both = Seq((Option.empty[String], 1)).toDF("text", "pad").select(
      graft.functions.WordShingles.shingles(col("text"), 3).as("ns"),
      Dedup.shingles(col("text"), 3).as("hs"),
      graft.functions.MinHashSig.minhashSig(
        graft.functions.WordShingles.shingles(col("text"), 3), 4).as("nm"),
      Dedup.minhashSig(Dedup.shingles(col("text"), 3), 4).as("hm"))
    val r = both.collect()(0)
    assert(r.getSeq[String](0) === Seq.empty)
    assert(r.getSeq[String](0) === r.getSeq[String](1))
    assert(r.getSeq[String](2) === Seq(null, null, null, null))
    assert(r.getSeq[String](2) === r.getSeq[String](3))
    // a NULL shingle ARRAY (not derivable from text) also yields k NULLs
    val direct = Seq(1).toDF("x").select(
      graft.functions.MinHashSig.minhashSig(
        lit(null).cast("array<string>"), 3).as("sig")).collect()(0)
    assert(direct.getSeq[String](0) === Seq(null, null, null))
  }

  test("property: native shingle/minhash kernels equal HOF forms on random texts") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val wordGen = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(4)),
      Gen.const(""),           // consecutive-space artifacts
      Gen.const("émoji✓"),     // multi-byte UTF-8
      Gen.const("a"))
    val textGen = for {
      n <- Gen.chooseNum(0, 12)
      ws <- Gen.listOfN(n, wordGen)
    } yield ws.mkString(" ")
    val texts = Gen.listOfN(80, textGen)(Gen.Parameters.default, Seed(42L)).get
    val both = texts.toDF("text").select(
      graft.functions.WordShingles.shingles(col("text"), 3).as("ns"),
      Dedup.shingles(col("text"), 3).as("hs"),
      graft.functions.MinHashSig.minhashSig(
        graft.functions.WordShingles.shingles(col("text"), 3), 8).as("nm"),
      Dedup.minhashSig(Dedup.shingles(col("text"), 3), 8).as("hm"))
    both.collect().foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1))
      assert(r.getSeq[String](2) === r.getSeq[String](3))
    }
  }

  test("native MinHashSig expression is bit-equal to the portable HOF form") {
    val both = docs.select(
      graft.functions.MinHashSig.minhashSig(
        Dedup.shingles(col("text"), 3), 16).as("native"),
      Dedup.minhashSig(Dedup.shingles(col("text"), 3), 16).as("hof"))
    both.collect().foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1))
    }
    // empty shingle set (doc shorter than k words) -> all-NULL slots
    val short = Seq("one two").toDF("text").select(
      graft.functions.MinHashSig.minhashSig(Dedup.shingles(col("text"), 3), 4).as("sig"),
      Dedup.minhashSig(Dedup.shingles(col("text"), 3), 4).as("hof"))
    val row = short.collect()(0)
    assert(row.getSeq[String](0) === Seq(null, null, null, null))
    assert(row.getSeq[String](0) === row.getSeq[String](1))
  }

  test("native SimHash32 expression is bit-equal to the portable SQL form") {
    val both = docs.select(
      graft.functions.SimHash32.simhash32(
        array_distinct(split(col("text"), " "))).as("native"),
      Dedup.simhashExpr("array_distinct(split(text, ' '))").as("sql"))
    both.collect().foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("components: chained near-dups collapse to one keeper (transitive closure)") {
    // chain: A~B (one word changed), B~C (one more word changed);
    // A~C may or may not be a direct pair — the component must still
    // unify all three. D/E are an unrelated near-dup pair.
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron"
    val b = a.replace("beta", "bravo")
    val c = b.replace("omicron", "oscar")
    val u = "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen"
    val v = u.replace("seven", "sevens")
    val tmp = java.nio.file.Files.createTempDirectory("graft_cc")
    Seq((1L, a, "s0"), (2L, b, "s0"), (3L, c, "s0"), (4L, u, "s0"), (5L, v, "s0"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    val comp = Dedup.dedupComponents(spark, tmp.toString)
      .as[(Long, Long)].collect().toMap
    assert(comp(1L) === 1L && comp(2L) === 1L && comp(3L) === 1L)
    assert(comp(4L) === 4L && comp(5L) === 4L)
  }

  test("banded simhash candidates are lossless: identical to the exhaustive pair set") {
    // pigeonhole property: 7 chunks over 32 bits must recover EVERY
    // Hamming<=6 pair the all-pairs scan finds (banding is an
    // optimization, not an approximation)
    val d = "/root/testdata/sf0.001"
    val banded = Dedup.dedupSimhash(spark, d)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val sigs = graft.Tables.documents(spark, d).select(
      col("doc_id"), col("source"),
      graft.functions.SimHash32.simhash32(
        array_distinct(split(col("text"), " "))).as("sim"))
    val exhaustive = sigs.as("a").join(sigs.as("b"),
        col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(expr("a.sim ^ b.sim")).cast("int"))
      .as[(Long, Long, Int)].collect().filter(_._3 <= 6).toSet
    assert(banded === exhaustive)
    assert(banded.nonEmpty)
  }

  test("embed cosine dedup: cell-blocked pairs are contained in the exhaustive qualifying set") {
    val d = "/root/testdata/sf0.001"
    val blocked = Dedup.dedupEmbedCosine(spark, d)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val e = graft.Tables.embeddings(spark, d)
    val exhaustive = e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        graft.operators.Similarity.dot(col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= 0.35)
      .select(col("a.vec_id"), col("b.vec_id")).as[(Long, Long)].collect().toSet
    assert(blocked.nonEmpty)
    assert(blocked.subsetOf(exhaustive)) // cluster-then-verify never invents pairs
  }

  test("semantic dedup keep set: partition of corpus, dominators are earlier, cluster minima kept") {
    val d = "/root/testdata/sf0.01" // sf0.001 holds no within-cell pair at cos >= 0.35
    val kept = Dedup.dedupSemantic(spark, d)
      .select("vec_id").as[Long].collect().toSet
    val e = graft.Tables.embeddings(spark, d)
    val cells = e.select(col("vec_id"), col("label"), col("embedding"),
      graft.operators.Similarity.imiCellOf(spark, d)(col("embedding")).as("cell"))
    val all = cells.select("vec_id").as[Long].collect().toSet
    assert(kept.nonEmpty && kept.subsetOf(all))
    val prunedSet = all -- kept
    assert(prunedSet.nonEmpty) // the corpus does contain semantic redundancy
    // every pruned vector has a lower-id co-cluster dominator at cos >= 0.35
    val dominated = cells.as("a").join(cells.as("b"),
        col("a.label") === col("b.label") && col("a.cell") === col("b.cell") &&
        col("a.vec_id") < col("b.vec_id") &&
        graft.operators.Similarity.dot(col("a.embedding"), col("b.embedding")) >= 0.35)
      .select(col("b.vec_id")).as[Long].collect().toSet
    assert(prunedSet === dominated)
    // the lowest vec_id of every (label, cell) cluster can never be dominated
    val minima = cells.groupBy(col("label"), col("cell"))
      .agg(min(col("vec_id")).as("m")).select("m").as[Long].collect().toSet
    assert(minima.subsetOf(kept))
  }

  test("bucketed LSH layout: same pairs as the shuffle form, no exchange on the band join") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lshbkt_spec")
    docs.write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    val viaShuffle = Dedup.dedupMinhashLsh(spark, tmp.toString)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val viaBucketed = Dedup.dedupMinhashLshBucketed(spark, tmp.toString)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(viaBucketed === viaShuffle)
    assert(viaBucketed.nonEmpty)
    // the candidate join plans with no exchange on its bucketed inputs
    val plan = Dedup.dedupMinhashLshBucketedPlan(spark, tmp.toString)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!"hashpartitioning\\(band_".r.findFirstIn(plan).isDefined,
      s"band self-join should read co-located buckets:\n$plan")
  }

  test("ngram jaccard df-cut: a ubiquitous gram cannot pair-bomb its source block") {
    // 74 docs share a 4-word template (3 template grams with df=74)
    // plus a unique tail gram. The budget-derived cap lands between
    // the near-dup grams (df=2) and the template grams (74² per gram
    // blows the 8x work budget): WITHOUT the cut every template pair
    // passes Jaccard (3/5 = 0.6) -> ~n²/2 output pairs and a
    // quadratic-hot join key; WITH it the template grams are cut and
    // the docs share nothing. A genuine near-dup pair whose grams
    // stay under the cap must still be found.
    val n = 74
    val hotDocs = (1 to n).map(i => (i.toLong, s"the quick brown fox unique$i", "s0"))
    val near = Seq(
      (900L, "alpha beta gamma delta epsilon zeta", "s0"),
      (901L, "alpha beta gamma delta epsilon eta", "s0"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_gramcap")
    (hotDocs ++ near).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    val pairs = Dedup.dedupNgramJaccard(spark, tmp.toString)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((900L, 901L)),
      s"expected only the rare-gram near-dup pair, got ${pairs.size} pairs")
  }

  test("derived gram df cap: cumulative work-budget prefix, floor 1") {
    import spark.implicits._
    // everything fits the budget -> cap = max df
    assert(Dedup.deriveGramDfCap(Seq(1L, 1L, 2L, 3L).toDF("df")) === 3L)
    // one mega-hot gram blows the budget on its own -> floor cap 1
    assert(Dedup.deriveGramDfCap(Seq(100L).toDF("df")) === 1L)
    // mixed: df=2 fits (w2=6 <= 8*42=336), df=38 does not (w2=1450)
    assert(Dedup.deriveGramDfCap(
      (Seq.fill(2)(1L) ++ Seq.fill(1)(2L) ++ Seq(38L)).toDF("df")) === 2L)
  }

  test("dedup operators release their working caches (no session-lifetime leak)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cachechk")
    docs.write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    spark.catalog.clearCache() // isolate from other suites
    Dedup.dedupMinhashLsh(spark, tmp.toString).count()
    Dedup.dedupSimhash(spark, tmp.toString).count()
    Dedup.dedupNgramJaccard(spark, tmp.toString).count()
    Dedup.dedupComponents(spark, tmp.toString).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "a dedup operator left a cached table behind for the session's lifetime")
  }

  test("simhash: exact dups at Hamming 0; near-dups closer than unrelated") {
    val sigs = docs.select(col("doc_id"),
        Dedup.simhashExpr("array_distinct(split(text, ' '))").as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) === 0)
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)))
  }

  test("line-level dedup: boilerplate survives once, docs reassemble in order") {
    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // each handcrafted "line" is exactly LineWords words wide
    val boiler = (1 to Dedup.LineWords).map(i => s"b$i").mkString(" ")
    val uniq1 = (1 to Dedup.LineWords).map(i => s"u$i").mkString(" ")
    val uniq2 = (1 to Dedup.LineWords).map(i => s"v$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$boiler $uniq1", "s0"), // first occurrence of both lines
      (2L, s"$boiler $uniq2", "s0"), // boilerplate dropped, uniq2 kept
      (3L, s"$uniq1 $uniq1", "s0"))  // cross-doc dup + internal repeat: all dropped
      .toDF("doc_id", "text", "source")
    val tmp = java.nio.file.Files.createTempDirectory("graft_lines")
    corpus.write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    val r = Dedup.dedupLines(spark, tmp.toString).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r(1L) === ((2L, 2L, md5hex(s"$boiler $uniq1"))))
    assert(r(2L) === ((2L, 1L, md5hex(uniq2))))
    assert(r(3L) === ((2L, 0L, md5hex(""))))
  }

  test("incremental dedup: verdict agrees with full LSH pairs; bucketed form identical") {
    val d = "/root/testdata/sf0.001"
    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def isBatch(id: Long): Boolean = md5hex(id.toString).substring(0, 2) < "20"

    val verdict = Dedup.dedupIncremental(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    // the verdict covers exactly the deterministic batch slice
    val allIds = graft.Tables.documents(spark, d)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(verdict.keySet === allIds.filter(isBatch))
    assert(verdict.nonEmpty && verdict.size < allIds.size)
    // internal consistency: dups bounded by candidates; admit == no dup
    verdict.values.foreach { case (nCand, nDup, admit) =>
      assert(nDup <= nCand)
      assert(admit === (nDup == 0L))
    }
    // cross-check against the independently-verified full pair set:
    // a batch doc is refused iff it has a verified pair to a CORPUS doc
    val pairs = Dedup.dedupMinhashLsh(spark, d)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val refusedExpected = pairs.flatMap { case (a, b) =>
      Seq(a -> b, b -> a).collect {
        case (x, y) if isBatch(x) && !isBatch(y) => x
      }
    }.toSet
    assert(verdict.filter(!_._2._3).keySet === refusedExpected)
    assert(refusedExpected.nonEmpty) // the fixture must exercise refusal
    // layout independence: the persisted-index form is the same relation
    val bucketed = Dedup.dedupIncrementalBucketed(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(bucketed === verdict)
  }

  test("streaming admission: an earlier admission refuses its later twin") {
    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def isBatch(id: Long) = md5hex(id.toString).substring(0, 2) < "20"
    def sub(id: Long) = md5hex(id.toString).charAt(2).toInt % 3
    // hash-mine ids for the roles the fixture needs
    val ids = (1L to 20000L)
    val early = ids.find(i => isBatch(i) && sub(i) == 0).get
    val late = ids.find(i => isBatch(i) && sub(i) == 2 && i != early).get
    val lone = ids.find(i => isBatch(i) && sub(i) == 1 && i != early && i != late).get
    val corpusId = ids.find(i => !isBatch(i)).get
    val docs = Seq(
      (early, base, "s0"),      // stream sub-batch 0: novel -> admitted
      (late, base, "s0"),       // sub-batch 2: twin of an ADMISSION -> refused
      (lone, "columnar engines vectorize scan filters while shuffle exchanges hash partition rows between stages", "s0"), // sub-batch 1: novel -> admitted
      (corpusId, unrelated, "s0")      // pre-existing corpus
    ).toDF("doc_id", "text", "source")
    val tmp = java.nio.file.Files.createTempDirectory("graft_admit_spec")
    docs.write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    val r = Dedup.streamDedupAdmission(spark, tmp.toString).collect()
      .map(x => x.getLong(0) -> ((x.getInt(1), x.getLong(2), x.getLong(3), x.getBoolean(4))))
      .toMap
    assert(r.keySet === Set(early, late, lone))
    assert(r(early)._4 === true)          // novel at stage 0
    assert(r(late) === ((2, 1L, 1L, false))) // collides with the stage-0 ADMISSION
    assert(r(lone)._4 === true)
    // the single-shot batch form CANNOT refuse `late`: neither twin
    // is in the corpus, so batch-vs-corpus admits both
    val flat = Dedup.dedupIncremental(spark, tmp.toString).collect()
      .map(x => x.getLong(0) -> x.getBoolean(3)).toMap
    assert(flat(early) && flat(late))
  }

  test("hot-band cap: mass-duplicated template emits O(b) star pairs, not O(b^2)") {
    // 200 identical docs: every band bucket holds all 200 copies, so
    // the uncapped join emits 200*199/2 pairs from each of the 4
    // buckets (19,900 after dedup) — the quadratic blowup. The capped
    // form star-pairs each hot bucket to its min doc_id: 199 pairs,
    // every copy still connected to the keeper.
    val template = (1L to 200L).map(i => (i, base, "s0"))
    val hotDocs = (template :+ ((300L, unrelated, "s0")))
      .toDF("doc_id", "text", "source")
    val uncapped = Dedup.dedupMinhashLshOn(hotDocs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size >= 19900)
    val capped = Dedup.dedupMinhashLshCappedOn(hotDocs, 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped.size <= 210) // linear in copies, not quadratic
    // star connectivity: every copy pairs with the representative
    (2L to 200L).foreach(x => assert(capped.contains((1L, x))))
    assert(!capped.exists { case (a, b) => a == 300L || b == 300L })
    // sub-cap buckets keep the exact all-pairs relation: on a corpus
    // with no hot bucket the capped operator IS the uncapped one
    val coldDocs = docs
    val cold = Dedup.dedupMinhashLshCappedOn(coldDocs, 1000)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val full = Dedup.dedupMinhashLshOn(coldDocs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(cold === full)
  }

  // ---- substring-level (ExactSubstr) dedup ----------------------------

  private def substrCorpus = Seq(
    (1L, base, "s0"), (2L, base, "s0"),            // exact dup pair: fully covered
    (3L, nearDup, "s0"),                           // shares only the p=0 8-run with base
    (10L, "a b c d e f g h a b c d e f g h", "s1"), // self-repetition duplicates too
    (11L, "tiny doc", "s1"),                       // < K words: no grams, no coverage
    (12L, "completely fresh words nobody else ever wrote anywhere once more", "s1")
  ).toDF("doc_id", "text", "source")

  test("substring dedup: coverage is the union of duplicated 8-word runs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_substr")
    substrCorpus.write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    val r = Dedup.dedupSubstring(spark, tmp.toString).collect()
      .map(x => x.getLong(0) -> ((x.getInt(1), x.getInt(2), x.getInt(3)))).toMap
    assert(r(1L) === ((15, 15, 1)) && r(2L) === ((15, 15, 1))) // exact dup: everything covered
    // base vs nearDup differ at index 8 ("dog"/"cat"): the only shared
    // 8-run starts at p=0, so exactly tokens [0,8) are covered
    assert(r(3L) === ((15, 8, 1)))
    assert(r(10L) === ((16, 16, 1))) // within-doc repeat counts as duplication
    assert(r(11L) === ((2, 0, 0)))   // too short to carry an 8-run
    assert(r(12L)._2 === 0)          // genuinely fresh text untouched
  }

  test("substring removal: covered tokens cut, order kept, empty not missing") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_substr2")
    substrCorpus.write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    val c = Dedup.dedupSubstringClean(spark, tmp.toString).collect()
      .map(x => x.getLong(0) -> ((x.getInt(1), x.getInt(2), x.getString(3)))).toMap
    assert(c.size === 6)                       // fully-covered docs still present
    assert(c(1L) === ((15, 0, "")))            // ...as empty documents
    assert(c(3L) === ((15, 7, "cat near the old river bank today")))
    assert(c(11L) === ((2, 2, "tiny doc")))    // untouched text reassembles verbatim
    assert(c(12L)._3 === "completely fresh words nobody else ever wrote anywhere once more")
  }

  test("substring property: stats and removal agree on every random corpus") {
    // seeded generator — a tiny vocabulary forces chance 8-gram
    // repeats, duplicated tails force planted ones
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e")
    val texts = (0 until 60).map { i =>
      val body = Vector.fill(4 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
      (if (i % 7 == 0) body ++ body.take(9) else body).mkString(" ") // planted self-repeat
    }
    val corpus = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "s") }
      .toDF("doc_id", "text", "source")
    val tmp = java.nio.file.Files.createTempDirectory("graft_substr3")
    corpus.write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    val stats = Dedup.dedupSubstring(spark, tmp.toString).collect()
      .map(x => x.getLong(0) -> ((x.getInt(1), x.getInt(2), x.getInt(3)))).toMap
    val clean = Dedup.dedupSubstringClean(spark, tmp.toString).collect()
      .map(x => x.getLong(0) -> ((x.getInt(1), x.getInt(2), x.getString(3)))).toMap
    assert(stats.keySet === clean.keySet && stats.size === 60)
    stats.foreach { case (id, (n, dup, flag)) =>
      val (nc, kept, txt) = clean(id)
      assert(nc === n)
      assert(kept === n - dup)               // the two forms partition every doc
      assert(dup >= 0 && dup <= n)
      assert(flag === (if (2 * dup >= n) 1 else 0))
      val toks = if (txt.isEmpty) 0 else txt.split(" ").length
      assert(toks === kept)                  // reassembly emits exactly the kept tokens
      if (dup == 0) assert(txt === texts(id.toInt)) // untouched docs round-trip verbatim
    }
    assert(stats.count(_._2._2 > 0) > 0)     // the corpus actually exercises coverage
  }

  test("substring admission: corpus membership coverage; bucketed form identical") {
    // md5-split batch ids among small longs: 6, 19, 24, 27 (prefix < '20')
    val corpus = Seq(
      (1L, base, "s0"),                                    // corpus holds base
      (2L, unrelated, "s0"),
      (6L, base, "s0"),                                    // batch: exact copy of corpus doc
      (19L, "genuinely novel words that match nothing in the admitted reference corpus", "s0"),
      (24L, nearDup, "s0"),                                // batch: shares only the p=0 run
      (27L, "so", "s0")                                    // batch: sub-K, no grams
    ).toDF("doc_id", "text", "source")
    val tmp = java.nio.file.Files.createTempDirectory("graft_substr4")
    corpus.write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    def collect(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => x.getLong(0) -> ((x.getInt(1), x.getInt(2), x.getBoolean(3)))).toMap
    val inc = collect(Dedup.dedupSubstringIncremental(spark, tmp.toString))
    assert(inc.keySet === Set(6L, 19L, 24L, 27L)) // verdict row per batch doc, corpus absent
    assert(inc(6L) === ((15, 15, false)))  // full copy: fully covered, refused
    assert(inc(19L)._2 === 0 && inc(19L)._3)   // novel: admitted
    assert(inc(24L) === ((15, 8, false)))  // the single shared 8-run covers [0,8): 16 >= 15
    assert(inc(27L) === ((1, 0, true)))    // sub-K: no grams, admitted
    val bkt = collect(Dedup.dedupSubstringBucketed(spark, tmp.toString))
    assert(bkt === inc)                    // the index is a layout choice, not a semantic one
    graft.operators.Cleanup.dropAll(spark)
  }

  test("durable admission: stream_dedup_maintain equals stream_dedup_admission row for row") {
    // the "earlier admission refuses its later twin" fixture: `late`
    // (sub-batch 2) twins `early` (sub-batch 0); `lone` (sub-batch 1)
    // and the corpus doc are unrelated to both
    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def isBatch(id: Long) = md5hex(id.toString).substring(0, 2) < "20"
    def sub(id: Long) = md5hex(id.toString).charAt(2).toInt % 3
    val ids = (1L to 20000L)
    val early = ids.find(i => isBatch(i) && sub(i) == 0).get
    val late = ids.find(i => isBatch(i) && sub(i) == 2 && i != early).get
    val lone = ids.find(i => isBatch(i) && sub(i) == 1 && i != early && i != late).get
    val corpusId = ids.find(i => !isBatch(i)).get
    val tmp = java.nio.file.Files.createTempDirectory("graft_maintain_spec")
    Seq((early, base, "s0"), (late, base, "s0"),
      (lone, "columnar engines vectorize scan filters while shuffle exchanges hash partition rows between stages", "s0"),
      (corpusId, unrelated, "s0"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getLong(3), x.getBoolean(4)))
      .sortBy(_._1).toSeq
    val fixture = rows(Dedup.streamDedupMaintain(spark, tmp.toString))
    assert(fixture === rows(Dedup.streamDedupAdmission(spark, tmp.toString)))
    assert(fixture.map(_._1).toSet === Set(early, late, lone))
    assert(fixture.find(_._1 == late).get === ((late, 2, 1L, 1L, false))) // refused by the stage-0 ADMISSION
    val sf = "/root/testdata/sf0.001"
    val maintained = rows(Dedup.streamDedupMaintain(spark, sf))
    assert(maintained.nonEmpty)
    assert(maintained === rows(Dedup.streamDedupAdmission(spark, sf)))
  }
}

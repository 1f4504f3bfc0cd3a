package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** Deduplication suite for training-data pipelines (SURVEY.md §2j):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
  * (MinHash: Broder, "On the resemblance and containment of
  * documents", 1997; banded LSH: Indyk & Motwani 1998 / Leskovec-
  * Rajaraman-Ullman MMDS ch.3; SimHash: Charikar, "Similarity
  * estimation techniques from rounding algorithms", STOC 2002.)
  *
  * Design for 100 TB:
  *  - Signatures (shingle sets, MinHash sketches, SimHash bits) are
  *    computed as per-row nested-collection expressions — narrow,
  *    codegen'd, no explode/shuffle until the candidate join.
  *  - Candidate generation is banded LSH: only rows sharing a band
  *    key meet in the shuffle, so the join is equi-join shaped (never
  *    an O(n²) cross product). Exact verification runs only on
  *    candidates.
  *  - Verification thresholds use integer cross-multiplication
  *    (2·|A∩B| ≥ |A∪B| for J ≥ 0.5): no floating point anywhere in
  *    the decision, so results are deterministic across engines and
  *    partitionings.
  *  - Hash family is md5-prefix (hex-lexicographic min ≡ numeric min):
  *    portable, stable across JVM/engine versions.
  */
object Dedup {

  // ---- signature expressions (per-row, no shuffle) -------------------

  /** Distinct k-word shingles of `text`. */
  def shingles(text: Column, k: Int): Column = {
    val words = split(text, " ")
    array_distinct(
      when(size(words) >= k,
        transform(sequence(lit(0), size(words) - k),
          i => concat_ws(" ", slice(words, i + 1, lit(k)))))
        .otherwise(array().cast(ArrayType(StringType))))
  }

  /** MinHash signature, portable HOF form: for each seed, the minimum
    * md5-prefix of the seeded shingle — an 8-hex-digit string whose
    * lexicographic min equals the numeric min of the 32-bit hash.
    * This is what the DuckDB oracle mirrors; the operator itself uses
    * the bit-equal native expression (functions/MinHashSigExpr.scala,
    * equality spec-tested) because the 16 `transform` lambdas here run
    * interpreted. */
  def minhashSig(shingleSet: Column, nHashes: Int): Column =
    array((0 until nHashes).map { s =>
      array_min(transform(shingleSet,
        sh => substring(md5(concat(lit(s.toString), lit(":"), sh)), 1, 8)))
    }: _*)

  /** LSH band keys: signature grouped into bands of `rowsPerBand`,
    * each band concatenated into one join key. */
  def bandKeys(sig: Column, nBands: Int, rowsPerBand: Int): Column =
    array((0 until nBands).map { b =>
      concat((0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1)): _*)
    }: _*)

  /** 32-bit SimHash bit-majority over an array of md5 HEX STRINGS
    * (one md5 per token, computed once upstream — inlining md5 into
    * each of the 32 bit-aggregates would recompute it 32×). Per bit,
    * majority vote of the nibble-parsed token-hash bits; portable
    * across engines. */
  def simhashOverHexes(hexesCol: String): Column = {
    val bitSums = (0 until 32).map { j =>
      val nibbleIdx = j / 4 + 1
      val shift = 1 << (j % 4)
      s"""(CASE WHEN 2 * aggregate($hexesCol, CAST(0 AS BIGINT), (acc, h) ->
         |  acc + (locate(substr(h, $nibbleIdx, 1), '0123456789abcdef') - 1) div $shift % 2)
         |  >= size($hexesCol) THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)""".stripMargin
    }
    expr(bitSums.mkString("(", " + ", ")"))
  }

  /** Convenience form over a token-array SQL expression (tests):
    * stages the per-token md5 into a materialized column first. */
  def simhashExpr(tokensExprSql: String): Column =
    simhashOverHexes(s"transform($tokensExprSql, t -> md5(t))")

  // ---- operators -----------------------------------------------------

  /** Exact dedup by content hash: one hash-shuffle, keeper = min id
    * (`dropDuplicates` analog with an explicit survivorship rule). */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    dedupExactOn(documents(s, d))

  /** Same, over an already-staged corpus (Pipeline stages `documents`
    * once and feeds every stage from it). */
  def dedupExactOn(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))

  /** Words per "line" for the sub-document dedup gate entry: the
    * driver corpus is a flat word stream (no newlines), so the line
    * splitter chunks deterministically; a real corpus passes its own
    * splitter (newline — the CCNet shape). */
  val LineWords = 12

  /** LINE-level (sub-document) exact dedup — the CCNet/RefinedWeb
    * pipeline step the whole-document family can't express: a line
    * that already appeared anywhere in the corpus is dropped from
    * every later document (keep-first by (doc_id, pos) — boilerplate
    * headers/footers survive exactly once), and each document is
    * reassembled in original line order. Output per document: line
    * counts before/after and the md5 of the reassembled text (the
    * representation-stable boundary; the text itself is intermediate).
    *
    * 100 TB shape: the dedup decision is one PARTIAL-AGGREGABLE
    * `min(struct(doc_id, pos))` per distinct line — a hot boilerplate
    * line combines map-side instead of funneling every copy through
    * one reducer the way a rank window would — and keep-markers come
    * back on the UNIQUE (line, doc_id, pos) key, so no join key is
    * ever hot. Reassembly is one doc_id shuffle whose group size is
    * bounded by document length. Zero driver state anywhere. */
  def dedupLines(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.spread(documents(s, d))
    val lines = docs.select(col("doc_id"),
      posexplode(expr(
        s"""transform(
           |  sequence(0, greatest(CAST(ceil(size(split(text, ' ')) / $LineWords.0) AS INT), 1) - 1),
           |  i -> array_join(slice(split(text, ' '), i * $LineWords + 1, $LineWords), ' '))"""
          .stripMargin)).as(Seq("pos", "line")))
    val firsts = lines.groupBy(col("line"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
      .select(col("line"), col("f.doc_id").as("doc_id"), col("f.pos").as("pos"))
    val kept = lines.join(firsts, Seq("line", "doc_id", "pos"), "left_semi")
    val stats = lines.groupBy(col("doc_id")).agg(count(lit(1)).as("n_lines"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), " ").as("txt"))
    stats.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        md5(coalesce(col("txt"), lit(""))).as("dedup_md5"))
  }

  /** Duplicated-run window length in words for the substring-level
    * family (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", 2022 — ExactSubstr; their production threshold
    * is 50 BPE tokens, scaled to this corpus's 10-99-word documents).
    * Any exact K-word run occurring ≥ 2 times ANYWHERE in the corpus
    * (across documents or self-repetition within one) is duplicated
    * text; a token is covered iff some duplicated run spans it. */
  val SubstrK = 8

  /** K-gram hash stream of `text` — positional, NON-distinct (unlike
    * WordShingles: coverage needs every start; the start index comes
    * back for free from `posexplode`). The 16-hex md5 prefix bounds
    * shuffle-key width; both engines hash identically so collisions
    * (≈2⁻⁶⁴) cannot split the gate. Native one-pass expression
    * (functions/PosGramHashesExpr) — the interpreted transform-HOF
    * twin it replaced dominated the substring family's scan cost. */
  private def posGramArr(k: Int): Column =
    graft.functions.PosGramHashes.posGramHashes(col("text"), k)

  /** Positional K-grams exploded to (doc_id, p, g) plus the corpus-
    * global duplicated-gram semi-join — the shared front half of the
    * substring family. 100 TB shape: occurrence counting is one
    * partial-aggregable groupBy on the 64-bit gram hash (boilerplate
    * grams combine map-side); the flag-back is a left-semi equi-join
    * on the same key, never a per-pair comparison, and AQE's skew
    * split handles web-boilerplate hot grams. */
  private def dupGramHits(docs: DataFrame): DataFrame = {
    val g = graft.Tables.spread(docs)
      .select(col("doc_id"), posexplode(posGramArr(SubstrK)).as(Seq("p", "g")))
    val dup = g.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("g"))
    g.join(dup, Seq("g"), "left_semi")
  }

  /** Substring-level (span) dedup STATS — per document, how many of
    * its tokens sit under some duplicated K-run. Coverage is the
    * union of [p, p+K) intervals, counted as distinct exploded
    * positions (group size bounded by document length, never by
    * corpus hotness). drop_flag marks majority-duplicated documents —
    * the ExactSubstr removal decision as a verdict column. */
  def dedupSubstring(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val cov = dupGramHits(docs)
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + (SubstrK - 1))).as("cp"))
      .groupBy(col("doc_id")).agg(countDistinct(col("cp")).as("dup_tokens"))
    docs.select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).cast(IntegerType).as("dup_tokens"),
        when(coalesce(col("dup_tokens"), lit(0L)) * 2 >= col("n_tokens"), 1)
          .otherwise(0).as("drop_flag"))
  }

  /** Substring-level dedup REMOVAL — the cleaned corpus: every token
    * under a duplicated K-run is cut and the document reassembled in
    * original order (fully-duplicated documents come back empty, not
    * missing, so downstream row counts are stable). Reassembly is one
    * doc_id shuffle with sort_array over (pos, token) structs —
    * identical shape to dedupLines, bounded by document length. */
  def dedupSubstringClean(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val covered = dupGramHits(docs)
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + (SubstrK - 1))).as("p"))
      .distinct()
    val toks = graft.Tables.spread(docs)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "tok")))
    val kept = toks.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(IntegerType).as("kept_tokens"),
        array_join(transform(
          sort_array(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok")), " ").as("txt"))
    docs.select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0)).as("kept_tokens"),
        coalesce(col("txt"), lit("")).as("clean_text"))
  }

  /** Positional K-grams tagged with the deterministic batch/corpus
    * split (same hash-split contract as the LSH admission family). */
  private def substrPosGramsTagged(docs: DataFrame): DataFrame =
    graft.Tables.spread(docs)
      .withColumn("is_batch", isBatchDoc(col("doc_id")))
      .select(col("doc_id"), col("is_batch"),
        posexplode(posGramArr(SubstrK)).as(Seq("p", "g")))

  /** Shared admission back half: batch positions flagged against a
    * corpus gram set (left-semi on the 64-bit gram key), coverage per
    * batch document, verdict row for every batch doc (no-hit docs
    * admit with zero coverage). */
  private def substrAdmission(docs: DataFrame, batchGrams: DataFrame,
      corpusGrams: DataFrame): DataFrame = {
    val cov = batchGrams.join(corpusGrams, Seq("g"), "left_semi")
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + (SubstrK - 1))).as("cp"))
      .groupBy(col("doc_id")).agg(countDistinct(col("cp")).as("dup_tokens"))
    docs.filter(isBatchDoc(col("doc_id")))
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).cast(IntegerType).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)) * 2 < col("n_tokens")).as("admit"))
  }

  /** Substring-level batch-vs-corpus ADMISSION — the ingest-path form
    * of `dedupSubstring`: the corpus is the admitted reference, so a
    * batch token is duplicated if ANY K-run through it already exists
    * there (membership, df ≥ 1 — unlike the full form's corpus-wide
    * count ≥ 2). Grams never meet batch×batch or corpus×corpus; the
    * verdict mirrors `dedup_incremental`'s shape (n_tokens coverage +
    * admit = less than half covered). */
  def dedupSubstringIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val g = substrPosGramsTagged(docs).cache()
    try {
      val corpusGrams = g.filter(!col("is_batch")).select(col("g")).distinct()
      substrAdmission(docs, g.filter(col("is_batch")), corpusGrams)
        .localCheckpoint(true)
    } finally g.unpersist()
  }

  /** Memoized corpus gram index: the distinct corpus-side K-gram
    * hashes written once as a bucketBy(g) table — what the corpus
    * snapshot ETL would maintain so daily admission never re-shuffles
    * the corpus. Bucket count derived from the gram row count. */
  private[graft] val gramTables =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, java.nio.file.Path)]()

  private[graft] def bucketedGramTable(s: SparkSession, d: String): DataFrame = {
    val (gt, _) = gramTables.computeIfAbsent((s, d), _ => {
      val wh = java.nio.file.Files.createTempDirectory("graft_substrbkt")
      val name = "substr_grams_" + wh.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "_")
      val grams = substrPosGramsTagged(documents(s, d))
        .filter(!col("is_batch")).select(col("g")).distinct()
      val nb = Similarity.derivedBuckets(s, grams.count(), "spark.graft.substr.buckets")
      grams.write.mode("overwrite").bucketBy(nb, "g").sortBy("g")
        .option("path", wh.resolve("grams").toString).saveAsTable(name)
      (name, wh)
    })
    s.table(gt)
  }

  /** Drop this session's memoized gram index tables + files. */
  def dropGramTables(s: SparkSession): Unit = {
    val it = gramTables.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) {
        val (gt, wh) = e.getValue
        s.sql(s"DROP TABLE IF EXISTS $gt")
        val files = java.nio.file.Files.walk(wh)
        try files.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally files.close()
        it.remove()
      }
    }
  }

  /** The serve form: corpus grams come from the persisted bucketBy(g)
    * index, so the semi-join's corpus side is exchange-free — only the
    * small batch gram table shuffles on g to meet it (plan-asserted:
    * exactly one gram exchange). Same relation and oracle as
    * `dedup_substring_incremental`: the index is a layout choice. */
  def dedupSubstringBucketed(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val g = substrPosGramsTagged(docs)
    substrAdmission(docs, g.filter(col("is_batch")), bucketedGramTable(s, d))
      .localCheckpoint(true)
  }

  /** Lazy-plan variant for PlanAudit: the admission semi-join against
    * the bucketed gram index without the eager verdict. */
  private[graft] def dedupSubstringBucketedPlan(s: SparkSession, d: String): DataFrame =
    substrPosGramsTagged(documents(s, d)).filter(col("is_batch"))
      .join(bucketedGramTable(s, d), Seq("g"), "left_semi")
      .select(col("doc_id"), col("p"))

  /** MinHash(16) + LSH(4 bands × 4 rows) near-dup candidate pairs,
    * verified by exact shingle Jaccard ≥ 0.5. */
  private def minhashBase(s: SparkSession, d: String): DataFrame =
    minhashBaseOf(documents(s, d))

  private def minhashBaseOf(docs: DataFrame): DataFrame =
    graft.Tables.spread(docs) // signature kernel is CPU-bound: use every core
      .select(col("doc_id"), graft.functions.WordShingles.shingles(col("text"), 3).as("shs"))
      .withColumn("sig", graft.functions.MinHashSig.minhashSig(col("shs"), 16))
      .withColumn("bands", bandKeys(col("sig"), 4, 4))

  private def minhashPairs(base: DataFrame): DataFrame = {
    val bands = base.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_id", "band_key")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyPairs(cand, base)
  }

  /** Shared exact-Jaccard verification tail: fetch both shingle sets
    * per candidate pair, keep J >= 0.5 (integer cross-multiply). */
  private def verifyPairs(cand: DataFrame, base: DataFrame): DataFrame = {
    val sets = base.select(col("doc_id"), col("shs"))
    cand
      .join(sets.as("x"), col("doc_a") === col("x.doc_id"))
      .join(sets.as("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("x.shs"), col("y.shs"))).as("inter"),
        size(array_distinct(concat(col("x.shs"), col("y.shs")))).as("uni"))
      .filter(col("inter") * 2 >= col("uni")) // J >= 0.5, integer-exact
  }

  def dedupMinhashLsh(s: SparkSession, d: String): DataFrame =
    dedupMinhashLshOn(documents(s, d))

  /** The LSH pair operator over an already-staged corpus.
    * Materializes the signature table before the self-join: without
    * this, projection collapse inlines the shingle construction into
    * both join sides. At cluster scale this table is persisted/
    * bucketed by band key; cache() is the local analog — scoped to
    * this invocation: the result is materialized eagerly
    * (localCheckpoint) so the signature cache is released on return
    * instead of leaking for the session's lifetime. */
  def dedupMinhashLshOn(docs: DataFrame): DataFrame = {
    val base = minhashBaseOf(docs).cache()
    try minhashPairs(base).localCheckpoint(true) finally base.unpersist()
  }

  /** The lazy plan inside dedupMinhashLsh's eager materialization
    * (minus the signature cache) — what PlanAudit asserts the native
    * signature projection and banded equi-join on. */
  private[graft] def dedupMinhashLshPlan(s: SparkSession, d: String): DataFrame =
    minhashPairs(minhashBase(s, d))

  /** Bench form: the operator's lazy plan over an invocation-staged
    * (cached) signature table, plus the cleanup that releases the
    * cache. The caller materializes the plan inside its timing and
    * runs the cleanup outside it — so the measurement covers the full
    * operator (signatures + banded join + verify) WITHOUT the gate's
    * localCheckpoint write, which is cache hygiene for Verify, not
    * query work (r4 bench regression: checkpoint I/O charged +0.5 s
    * to the query). */
  private[graft] def dedupMinhashLshStaged(
      s: SparkSession, d: String): (DataFrame, () => Unit) = {
    val base = minhashBase(s, d).cache()
    (minhashPairs(base), () => { base.unpersist(true); () })
  }

  /** Gate-scale hot-band cap: LOW so the sf0.01 corpus (bucket sizes
    * 1–3) exercises BOTH branches under the oracle; production sets
    * `spark.graft.lsh.hotBandCap` to ~1000 (pairs-per-bucket work cap
    * of ~500k). The oracle mirrors whatever value the query ran with,
    * so the gate stays value-exact at any setting. */
  val HotBandCap = 2

  /** Hot-band-capped LSH candidate generation — the all-pairs band
    * join's 100 TB degenerate case, closed. A corpus with a mass-
    * duplicated template (boilerplate pages, mirrored docs) puts b
    * copies in ONE band bucket — identical text collides in every
    * band — and the uncapped self-join emits b(b-1)/2 candidates from
    * that single key: quadratic output no physical trick (AQE skew
    * split, salting) can bound, because the ROWS themselves are the
    * blowup. The standard mitigation (star-pairing, as in the
    * SlimPajama/BigQuery dedup recipes): buckets over a size cap emit
    * only (bucket-min, member) pairs — O(b) — which keeps every
    * member connected to the bucket representative, exactly what the
    * downstream component/survivorship pass needs; sub-cap buckets
    * keep the exact all-pairs relation. The pair RELATION over hot
    * buckets is deliberately sparser (a member pair (x,y) with
    * neither = rep is not emitted), so this is its own gate entry
    * with its own oracle, not a layout alias of `dedup_minhash_lsh`.
    *
    * Scale shape: the hot-bucket list is data-derived and TINY
    * (≤ 4n/cap keys, realistically a handful of templates), so it
    * BROADCASTS to flag band rows — same pattern as the n-gram df
    * cap; the cold self-join and the hot star-pairing are then one
    * union with bounded per-key output everywhere. With cap c, any
    * bucket's candidate contribution is ≤ max(c², b): linear in the
    * template's copy count instead of quadratic (spec: 200 identical
    * docs → 199 star pairs vs 19,900 uncapped). */
  private[graft] def cappedPairs(base: DataFrame, cap: Int): DataFrame = {
    val bands = base.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_id", "band_key")))
    val hot = bands.groupBy(col("band_id"), col("band_key"))
      .agg(count(lit(1)).as("bn"), min(col("doc_id")).as("rep"))
      .filter(col("bn") > cap)
    val flagged = bands.join(broadcast(hot.select(col("band_id"),
      col("band_key"), col("rep"))), Seq("band_id", "band_key"), "left")
    val cold = flagged.filter(col("rep").isNull)
      .select(col("doc_id"), col("band_id"), col("band_key"))
    val coldPairs = cold.as("a").join(cold.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // rep = bucket min, so doc_a < doc_b holds by construction
    val hotPairs = flagged
      .filter(col("rep").isNotNull && col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    verifyPairs(
      coldPairs.union(hotPairs).dropDuplicates("doc_a", "doc_b"), base)
  }

  def dedupMinhashLshCapped(s: SparkSession, d: String): DataFrame = {
    val base = minhashBase(s, d).cache()
    try cappedPairs(base, HotBandCap).localCheckpoint(true)
    finally base.unpersist()
  }

  /** Lazy-plan variant for PlanAudit (broadcast hot-list assert). */
  private[graft] def dedupMinhashLshCappedPlan(s: SparkSession, d: String): DataFrame =
    cappedPairs(minhashBase(s, d), HotBandCap)

  /** Spec entry point: capped pairs over an arbitrary corpus/cap. */
  private[graft] def dedupMinhashLshCappedOn(docs: DataFrame, cap: Int): DataFrame = {
    val base = minhashBaseOf(docs).cache()
    try cappedPairs(base, cap).localCheckpoint(true) finally base.unpersist()
  }

  /** The 100 TB layout of the same operator: the exploded band table
    * persisted `bucketBy(band_key)` with band_id FOLDED into the key
    * (write-time ETL), so the candidate self-join is a single-key
    * equi-join reading co-located buckets with NO exchange on either
    * input — the signature table is written once and every dedup run
    * against it joins shuffle-free, and a non-bucketed batch side (the
    * incremental form) can align to the same layout with one shuffle.
    * Same result and oracle as dedup_minhash_lsh: bucketing is a
    * layout choice, not a semantic one. */
  def dedupMinhashLshBucketed(s: SparkSession, d: String): DataFrame = {
    val base = minhashBase(s, d).cache()
    try {
      val bands = bucketedBandTable(s, d, base)
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band_key") === col("b.band_key") && // band_id folded in
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
      val sets = base.select(col("doc_id"), col("shs"))
      cand
        .join(sets.as("x"), col("doc_a") === col("x.doc_id"))
        .join(sets.as("y"), col("doc_b") === col("y.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("x.shs"), col("y.shs"))).as("inter"),
          size(array_distinct(concat(col("x.shs"), col("y.shs")))).as("uni"))
        .filter(col("inter") * 2 >= col("uni"))
        .localCheckpoint(true)
    } finally base.unpersist()
  }

  // One persisted band table per (session, dataset dir): the write is
  // once-per-corpus ETL, so repeat invocations in the same session
  // (the gate runs the operator, then PlanAudit re-plans it twice
  // under conf scopes) must REUSE the layout, not rebuild and leak a
  // new temp dir + catalog table each time (ADVICE r4).
  private[graft] val bandTables =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, java.nio.file.Path)]()

  /** Return the persisted band table for `d`, building it on first use
    * in this session (temp-dir-unique name, `bucketBy(band_key)`). */
  private[graft] def bucketedBandTable(s: SparkSession, d: String,
      base: DataFrame): DataFrame = {
    val (bt, _) = bandTables.computeIfAbsent((s, d), _ => {
      val wh = java.nio.file.Files.createTempDirectory("graft_lshbkt")
      val name = "lsh_bands_" + wh.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "_")
      // band_id is FOLDED into the stored key (single-key layout): a
      // one-key equi-join lets a NON-bucketed side align to the
      // bucketing (the incremental batch join); a (band_id, band_key)
      // two-key join over a band_key-bucketed table makes the planner
      // shuffle BOTH sides — co-partition checks need the partitioning
      // to cover every join key
      val bands = base.select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band_id", "bk")))
        .select(col("doc_id"),
          concat(col("band_id").cast("string"), lit(":"), col("bk")).as("band_key"))
      // bucket count derived from the exploded row count (4 bands/doc),
      // not a demo constant — see Similarity.derivedBuckets
      val nb = Similarity.derivedBuckets(s, bands.count(), "spark.graft.bands.buckets")
      bands
        .write.mode("overwrite")
        .bucketBy(nb, "band_key").sortBy("band_key")
        .option("path", wh.resolve("bands").toString).saveAsTable(name)
      (name, wh)
    })
    s.table(bt)
  }

  /** Drop this session's memoized band tables and delete their files
    * (Bench/Verify call this when their run is over). */
  def dropBandTables(s: SparkSession): Unit = {
    val it = bandTables.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) {
        val (bt, wh) = e.getValue
        s.sql(s"DROP TABLE IF EXISTS $bt")
        val files = java.nio.file.Files.walk(wh)
        try files.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally files.close()
        it.remove()
      }
    }
  }

  /** Lazy-plan variant for PlanAudit: builds the bucketed table, then
    * returns the un-checkpointed candidate join over it. */
  private[graft] def dedupMinhashLshBucketedPlan(s: SparkSession, d: String): DataFrame = {
    val base = minhashBase(s, d)
    val bands = bucketedBandTable(s, d, base)
    bands.as("a").join(bands.as("b"),
        col("a.band_key") === col("b.band_key") && // band_id folded in
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** SimHash near-dup pairs: 32-bit signatures, Hamming ≤ 6 within a
    * `source` block. Candidate generation is multi-index banding
    * (Manku-Jain-Sarma, WWW 2007 §3): the signature splits into 7
    * chunks, and by pigeonhole any pair with Hamming ≤ 6 differs in at
    * most 6 chunks, so at least one chunk matches EXACTLY. The
    * self-join is therefore equi-join shaped on
    * (source, chunk_id, chunk_value) — pair work is O(bucket), never
    * O(n²) within a source block — and exact Hamming verification runs
    * on candidates only. Output is identical to the exhaustive form
    * (the banding is lossless for the threshold, not approximate). */
  private def simhashSigs(s: SparkSession, d: String): DataFrame =
    // native SimHash32 expression: one md5 + one vote loop per row
    // (the portable SQL form it is bit-equal to — simhashOverHexes —
    // is what the DuckDB oracle mirrors; equality is spec-tested)
    graft.Tables.spread(documents(s, d)).select(
      col("doc_id"), col("source"),
      graft.functions.SimHash32.simhash32(
        array_distinct(split(col("text"), " "))).as("sim"))

  private def simhashPairs(sigs: DataFrame): DataFrame = {
    val widths = Seq(5, 5, 5, 5, 4, 4, 4) // 7 chunks covering 32 bits
    val offsets = widths.scanLeft(0)(_ + _).init
    val chunkArr = array(widths.zip(offsets).map { case (w, off) =>
      expr(s"(sim >> $off) & ${(1 << w) - 1}")
    }: _*)
    val chunks = sigs.select(col("doc_id"), col("source"),
      posexplode(chunkArr).as(Seq("chunk_id", "chunk_val")))
    val cand = chunks.as("a").join(chunks.as("b"),
        col("a.source") === col("b.source") &&
        col("a.chunk_id") === col("b.chunk_id") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sim").as("sim_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sim").as("sim_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bit_count(expr("sim_a ^ sim_b")).as("hamming"))
      .filter(col("hamming") <= 6)
  }

  def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    val sigs = simhashSigs(s, d).cache() // invocation-scoped, like dedupMinhashLsh
    try simhashPairs(sigs).localCheckpoint(true) finally sigs.unpersist()
  }

  /** The lazy plan that executes inside dedupSimhash's eager
    * materialization (minus the signature cache) — what PlanAudit
    * asserts the banded equi-join shape on, since the public operator
    * returns an already-checkpointed scan. */
  private[graft] def dedupSimhashPlan(s: SparkSession, d: String): DataFrame =
    simhashPairs(simhashSigs(s, d))

  /** Work-budget multiplier for the gram self-join: the candidate
    * stage may do at most this many pair evaluations per input gram
    * occurrence. The df cap is DERIVED from the corpus's own df
    * histogram under this budget (below) instead of a fixed constant,
    * so the recall/cost trade is explicit and scale-independent: a
    * gram with df=b makes its join key quadratic-hot (b docs meet
    * b²/2 times in the shuffle), and ubiquitous grams carry no
    * near-dup signal anyway (they are the stopwords of the gram
    * space). Jaccard is computed over the kept-gram space on BOTH
    * sides, and the DuckDB oracle applies the identical derivation. */
  val GramJoinWorkBudget = 8L

  /** Largest df value v such that Σ_{df ≤ v} df²·count(df) stays
    * within GramJoinWorkBudget × total gram occurrences (floor 1).
    * Computed from the df VALUE HISTOGRAM — a provably bounded
    * collect: k distinct df values with counts ≥ 1 satisfy
    * Σ df·c ≥ k²/2, so k ≤ √(2N) for N total gram occurrences
    * (≤ 1.5M histogram rows even at 10¹² occurrences — driver-safe at
    * any corpus scale, same pattern as pipelineCurateFull's median).
    * The cumulative-work prefix is monotone, so "largest satisfying
    * v" is well-defined and the oracle's windowed cumsum mirrors it
    * exactly. */
  private[graft] def deriveGramDfCap(dfs: DataFrame): Long = {
    val hist = dfs.groupBy(col("df")).agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n1 = hist.map { case (v, c) => v * c }.sum
    // df²·c terms overflow a signed Long at df ≳ 3e9 (exactly the web
    // scale the derivation exists for) — and the DuckDB oracle sums in
    // exact HUGEINT. Saturate each product and stop at the first value
    // past the budget: the prefix is monotone, so the cap is already
    // final there, and a saturated prefix stays > budget just like the
    // exact one — the two engines agree at any df.
    def satMul(a: Long, b: Long): Long =
      if (a != 0L && b > Long.MaxValue / a) Long.MaxValue else a * b
    val budget = satMul(GramJoinWorkBudget, n1)
    var w2 = 0L; var cap = 1L; var i = 0
    while (i < hist.length && w2 <= budget) {
      val (v, c) = hist(i)
      val term = satMul(satMul(v, v), c)
      w2 = if (w2 > Long.MaxValue - term) Long.MaxValue else w2 + term
      if (w2 <= budget) cap = v
      i += 1
    }
    cap
  }

  /** Word-2-gram Jaccard within `source` blocks (the non-LSH
    * baseline). Shaped as an exploded n-gram equi-join —
    * intersections come out of a (source, gram) shuffle join + count,
    * never a per-pair array scan: the pair set costs
    * O(co-occurring kept grams) with the budget-derived df cap
    * bounding every join key's bucket, and every step is a plain hash
    * shuffle/aggregate that scales horizontally (38 s → ~3 s at sf0.1
    * vs the pairwise array_intersect form). */
  def dedupNgramJaccard(s: SparkSession, d: String): DataFrame = {
    val grams = graft.Tables.spread(documents(s, d))
      .select(col("doc_id"), col("source"),
        explode(graft.functions.WordShingles.shingles(col("text"), 2)).as("g"))
      .cache() // invocation-scoped, like dedupMinhashLsh
    val dfs = grams.groupBy(col("source"), col("g"))
      .agg(count(lit(1)).as("df"))
    val cap = deriveGramDfCap(dfs)
    Console.err.println(
      s"[graft] dedup_ngram_jaccard: derived df cap = $cap (budget ${GramJoinWorkBudget}x)")
    // hot-gram set is tiny -> the anti-join auto-broadcasts
    val hot = dfs.filter(col("df") > cap).select(col("source"), col("g"))
    val rare = grams.join(hot, Seq("source", "g"), "left_anti").cache()
    try {
      val sizes = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = rare.as("a").join(rare.as("b"),
          col("a.source") === col("b.source") && col("a.g") === col("b.g") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("inter").cast(IntegerType).as("inter"),
          (col("na") + col("nb") - col("inter")).cast(IntegerType).as("uni"))
        .filter(col("inter") * 2 >= col("uni"))
        .localCheckpoint(true)
    } finally { rare.unpersist(); grams.unpersist() }
  }

  /** Embedding near-dup, cluster-then-verify (the SemDeDup shape —
    * Abbas et al., "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", 2023): every vector is assigned
    * to its max-cosine IVF cell (the same dynamic-k deterministic
    * centroid sample as Similarity.simIvf — k = ⌈n/TargetCellSize⌉,
    * so the DuckDB oracle can mirror the assignment exactly), and
    * cosine ≥ 0.35 is verified only on pairs sharing (label, cell).
    *
    * Scale: k grows with the corpus, so cells stay ~TargetCellSize
    * and the within-(label, cell) verify self-join is O(n ·
    * TargetCellSize) — bounded cell population is what keeps the
    * verify stage from going quadratic, not a bounded broadcast.
    * Assignment is the TWO-LEVEL (IMI) argmax shared with
    * Similarity.simIvfImi: super-cell first (S ≈ √k dots), then among
    * that super's children — O(2√k·d) per row instead of the flat
    * O(k·d), which with k = n/TargetCellSize made assignment the
    * O(n²d/64) term that dominated sf5 (measured 8.9 s; the IMI form
    * runs it in one narrow two-expression projection, zero shuffle,
    * zero aggregation). Like any clustered dedup, recall < 1 vs
    * the exhaustive within-label scan (pairs straddling a cell
    * boundary are unseen) — DedupSpec checks containment in the
    * exhaustive pair set. Dot products are explicit left-to-right
    * double folds for cross-engine determinism. */
  def dedupEmbedCosine(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cells = e.select(col("vec_id"), col("label"), col("embedding"),
      Similarity.imiCellOf(s, d)(col("embedding")).as("cell"))
    cells.as("a").join(cells.as("b"),
        col("a.label") === col("b.label") && col("a.cell") === col("b.cell") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").as("label"),
        Similarity.dot(col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= 0.35)
      .select(col("vec_a"), col("vec_b"), col("label"), round(col("cos"), 4).as("cos_r"))
  }

  /** Semantic-dedup KEEP SET (the pruning half of SemDeDup — Abbas et
    * al. 2023): where dedupEmbedCosine emits the near-dup PAIRS, this
    * emits the curated corpus after cluster-wise pruning. Every vector
    * joins its (label, IMI cell) cluster; within a cluster a vector is
    * PRUNED iff some lower-vec_id member sits within cosine ≥ 0.35 of
    * it — dominated pruning, a deterministic join-expressible
    * over-approximation of the paper's greedy sweep (an item may be
    * dominated by an item that was itself dominated; the paper keeps
    * exactly one per ε-group, we keep at most that — both shrink the
    * semantic ball to one representative, and determinism is what
    * makes the DuckDB oracle exact).
    *
    * Scale: identical candidate pricing to dedupEmbedCosine — the
    * dominance join touches only co-(label, cell) pairs, O(n ·
    * TargetCellSize); the keep set falls out of one left_anti on
    * vec_id. No driver state beyond the memoized centroids. */
  def dedupSemantic(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cells = e.select(col("vec_id"), col("label"), col("embedding"),
      Similarity.imiCellOf(s, d)(col("embedding")).as("cell"))
    val pruned = cells.as("a").join(cells.as("b"),
        col("a.label") === col("b.label") && col("a.cell") === col("b.cell") &&
        col("a.vec_id") < col("b.vec_id") &&
        Similarity.dot(col("a.embedding"), col("b.embedding")) >= 0.35)
      .select(col("b.vec_id").as("vec_id")).distinct()
    cells.join(pruned, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** Near-dup transitive closure: connected components of the verified
    * LSH pair graph by iterative hash-min label propagation (the
    * Pregel/GraphX pattern as plain DataFrame joins): every vertex
    * starts labeled with itself; each round it takes the min label of
    * itself and its neighbors; convergence in O(component diameter)
    * rounds. The cluster representative (component min doc_id) is what
    * a curation pipeline keeps — pairwise drops under-delete chains
    * (a~b, b~c ⇒ one keeper for {a,b,c}, even if a~c was never a
    * candidate pair).
    *
    * Scale: each round is one equi-join + partial-aggregated min —
    * all-horizontal; `localCheckpoint` cuts the growing lineage so
    * round N doesn't replan rounds 1..N-1. Near-dup components are
    * small (diameter ≤ a few hops), so the loop terminates fast; the
    * driver only sees one converged-count per round. */
  def dedupComponents(s: SparkSession, d: String): DataFrame =
    dedupComponentsOf(dedupMinhashLsh(s, d))

  /** The closure over an already-computed (checkpointed) pair set.
    * `onRound(round, changed, seconds)` observes each propagation
    * round — graft.ComponentsProbe uses it to measure the
    * rounds-to-converge × per-round-cost curve per tier. */
  def dedupComponentsOf(pairsIn: DataFrame,
      onRound: (Int, Long, Double) => Unit = (_, _, _) => ()): DataFrame = {
    val pairs = pairsIn.select(col("doc_a"), col("doc_b")).cache()
    val sym = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .cache()
    // Initialization FUSED with propagation round 1 (r18, guide §1.2
    // "remove passes"): starting labels are min(v, min neighbor) — the
    // exact state the old comp=v seeding reached after its first
    // round — computed in the same aggregation that enumerates the
    // vertex set, so convergence costs one fewer full pass over the
    // edge set (at sf0.1 each round is ~0.25–0.35 s of join+checkpoint
    // fixed cost; at scale a round is a real shuffle of the pairs).
    // Identical fixpoint: propagation is monotone (comp only
    // decreases), so any state on the old trajectory yields the same
    // converged labels.
    var labels = sym.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("comp"))
      .select(col("src").as("v"), col("comp")).localCheckpoint(true)
    var changed = 1L
    var round = 0
    while (changed > 0) {
      val t0 = System.nanoTime()
      val neighborMin = sym.join(labels, col("dst") === col("v"))
        .groupBy(col("src")).agg(min(col("comp")).as("ncomp"))
      val stepped = labels.join(neighborMin, col("v") === col("src"), "left")
        .select(col("v"), col("comp"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp2"))
        .localCheckpoint(true)
      changed = stepped.filter(col("comp2") < col("comp")).count()
      labels = stepped.select(col("v"), col("comp2").as("comp"))
      round += 1
      onRound(round, changed, (System.nanoTime() - t0) / 1e9)
    }
    // the loop ran eagerly and labels is checkpointed — release the
    // working caches instead of holding them for the session's lifetime
    sym.unpersist()
    pairs.unpersist()
    labels.select(col("v").as("doc_id"), col("comp").as("component"))
  }

  /** Corpus-level MinHash sketches via the custom
    * TypedImperativeAggregate (functions/MinHashAgg.scala): one 16-slot
    * sketch per `source`, then pairwise slot-match counts — the
    * constant-state, mergeable way to estimate cross-corpus overlap
    * (n_match/16 ≈ Jaccard). */
  def aggMinhashSketch(s: SparkSession, d: String): DataFrame = {
    val sk = graft.Tables.spread(documents(s, d))
      .select(col("source"), explode(graft.functions.WordShingles.shingles(col("text"), 3)).as("sh"))
      .groupBy(col("source"))
      .agg(graft.functions.MinHashAgg.minhashSketch(col("sh"), 16).as("sk"))
    sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        size(filter(zip_with(col("a.sk"), col("b.sk"), (x, y) => x === y),
          m => m)).as("n_match"))
  }

  // ---- incremental (batch-vs-corpus) dedup ---------------------------

  /** Deterministic batch/corpus split: ~12.5% of documents (md5 prefix
    * < '20') play the role of a newly arrived ingest batch; the rest
    * are the existing corpus. Same hash-split contract as
    * Sampling.splitOf: membership is a pure function of the key. */
  private def isBatchDoc(id: Column): Column =
    substring(md5(id.cast("string")), 1, 2) < "20"

  /** Incremental near-dup admission — the actual 100 TB ingest path.
    * Full-corpus dedup is a once-per-snapshot job; what runs daily is
    * "does this new batch duplicate anything already admitted?". For
    * each batch document: LSH band collisions against CORPUS documents
    * only (never batch×batch, never corpus×corpus), exact-Jaccard
    * verification on the candidates, then a per-batch-doc verdict:
    * candidate count, verified-dup count, and the admit decision.
    *
    * Scale shape: the batch side is small (signatures computed fresh,
    * one narrow kernel); the corpus side is the SAME exploded band
    * relation the full dedup uses — at scale it is the persisted
    * bucketed index (see `dedupIncrementalBucketed`), so the candidate
    * join shuffles only the batch. Verification fetches corpus shingle
    * sets only for candidate ids (semi-join–shaped), not the corpus. */
  /** Explode + fold the band list to the single-key form the persisted
    * index stores: band_key = "<band_id>:<key>". */
  private def foldedBands(withBands: DataFrame): DataFrame =
    withBands.select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band_id", "bk")))
      .select(col("doc_id"),
        concat(col("band_id").cast("string"), lit(":"), col("bk")).as("band_key"))

  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val base = minhashBaseOf(documents(s, d))
      .withColumn("is_batch", isBatchDoc(col("doc_id"))).cache()
    try {
      incrementalVerdict(
        base.filter(col("is_batch")).select(col("doc_id"), col("shs")),
        foldedBands(base.filter(col("is_batch"))),
        foldedBands(base.filter(!col("is_batch"))),
        base.filter(!col("is_batch")).select(col("doc_id"), col("shs")))
        .localCheckpoint(true)
    } finally base.unpersist()
  }

  /** The serve form: corpus bands come from the persisted
    * `bucketBy(band_key)` index (built once by the full dedup's ETL,
    * shared via `bucketedBandTable`), filtered to corpus rows — a
    * filter over a bucketed scan keeps the bucketing, so the corpus
    * side of the candidate join is exchange-free and only the (small)
    * batch band table shuffles to meet it. Corpus shingle sets for
    * verification are recomputed on demand for candidate ids only.
    * Same relation and oracle as `dedup_incremental`: the index is a
    * layout choice, not a semantic one. */
  def dedupIncrementalBucketed(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val base = minhashBaseOf(docs).cache()
    try {
      val corpusBands = bucketedBandTable(s, d, base)
        .filter(!isBatchDoc(col("doc_id")))
      val batch = base.filter(isBatchDoc(col("doc_id"))).cache()
      try {
        incrementalVerdict(
          batch.select(col("doc_id"), col("shs")),
          foldedBands(batch),
          corpusBands,
          base.filter(!isBatchDoc(col("doc_id")))
            .select(col("doc_id"), col("shs")))
          .localCheckpoint(true)
      } finally batch.unpersist()
    } finally base.unpersist()
  }

  /** Lazy-plan variant for PlanAudit: the candidate join of the
    * persisted-index form (batch bands fresh, corpus bands from the
    * bucketed table) without the eager verdict materialization. */
  private[graft] def dedupIncrementalBucketedPlan(s: SparkSession, d: String): DataFrame = {
    val base = minhashBaseOf(documents(s, d))
    val corpusBands = bucketedBandTable(s, d, base)
      .filter(!isBatchDoc(col("doc_id")))
    foldedBands(base.filter(isBatchDoc(col("doc_id")))).as("a")
      .join(corpusBands.as("b"), col("a.band_key") === col("b.band_key"))
      .select(col("a.doc_id").as("batch_id"), col("b.doc_id").as("corpus_id"))
      .dropDuplicates("batch_id", "corpus_id")
  }

  /** Shared verdict kernel: band-collision candidates (batch × corpus
    * single-key equi-join on the folded band key), exact-Jaccard
    * verify, then a left join back to the batch so no-candidate
    * documents still get an admit row. */
  private def incrementalVerdict(batchSets: DataFrame, batchBands: DataFrame,
      corpusBands: DataFrame, corpusSets: DataFrame): DataFrame = {
    val cand = batchBands.as("a").join(corpusBands.as("b"),
        col("a.band_key") === col("b.band_key"))
      .select(col("a.doc_id").as("batch_id"), col("b.doc_id").as("corpus_id"))
      .dropDuplicates("batch_id", "corpus_id")
    val ver = cand
      .join(batchSets.as("x"), col("batch_id") === col("x.doc_id"))
      .join(corpusSets.as("y"), col("corpus_id") === col("y.doc_id"))
      .select(col("batch_id"),
        (size(array_intersect(col("x.shs"), col("y.shs"))) * 2 >=
          size(array_distinct(concat(col("x.shs"), col("y.shs"))))).as("dup"))
    val agg = ver.groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_cand"), sum(col("dup").cast("long")).as("n_dup"))
    batchSets.select(col("doc_id").as("batch_id"))
      .join(agg, Seq("batch_id"), "left")
      .select(col("batch_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        (coalesce(col("n_dup"), lit(0L)) === 0).as("admit"))
  }

  // ---- streaming (continuous) dedup admission ------------------------

  /** Sub-batch id 0/1/2 for a batch doc — pure hash of the key, like
    * `isBatchDoc` (portable: ascii of the 3rd md5 hex char mod 3). */
  private def subBatchOf(id: Column): Column =
    ascii(substring(md5(id.cast("string")), 3, 1)) % 3

  /** CONTINUOUS near-dup admission — `dedup_incremental` run as the
    * production loop: the batch slice arrives as a STREAM of three
    * sub-batches (one file per micro-batch, `maxFilesPerTrigger=1`
    * under `Trigger.AvailableNow` — the bounded-catch-up harness every
    * §2h query uses), and each sub-batch is admitted against the
    * corpus PLUS everything admitted before it. The admission index
    * GROWS as the stream runs — the semantics a daily-ingest pipeline
    * actually has, which no single batch-vs-corpus join expresses:
    * a doc in sub-batch 2 that duplicates a sub-batch-0 ADMISSION is
    * refused, while its twin in sub-batch 0 was admitted.
    *
    * Determinism: admission ORDER is data-defined (the sub_batch hash
    * column), not trigger-defined — inside foreachBatch the present
    * sub-batches are processed in ascending order, so the result is
    * identical however the engine groups files into micro-batches.
    * The oracle replays the same three stages as chained CTEs.
    *
    * Scale shape: per micro-batch work is the `dedup_incremental`
    * kernel (fresh signatures for the small batch, single-key band
    * equi-join into the corpus index, semi-join-shaped verification);
    * the admitted-doc bands/shingles APPEND to driver-free state
    * tables (at cluster scale: appends to the persisted bucketed band
    * layout — the same bucketBy(band_key) table `bucketedBandTable`
    * writes; here the in-session analog is a checkpointed union).
    * State growth is admitted-docs-only, and every join key stays
    * band-bounded. */
  def streamDedupAdmission(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val batchDocs = docs.filter(isBatchDoc(col("doc_id")))
      .withColumn("sub_batch", subBatchOf(col("doc_id")))
    val cbase = minhashBaseOf(docs.filter(!isBatchDoc(col("doc_id"))))
    val baseBands = foldedBands(cbase).localCheckpoint(true)
    val baseSets = cbase.select(col("doc_id"), col("shs")).localCheckpoint(true)
    // per-sub-batch state keyed by sub_batch (not mutable unions):
    // a replayed sub-batch k reads base ∪ admissions of STRICTLY
    // earlier sub-batches — exactly the state it saw the first
    // time — and its verdict/admission entries REPLACE, so the
    // returned union is replay-idempotent like the index state
    val admBands = new graft.streaming.SubBatchState[DataFrame]
    val admSets = new graft.streaming.SubBatchState[DataFrame]
    val results = new graft.streaming.SubBatchState[DataFrame]
    graft.streaming.SubBatchState.streamSubBatches(s, batchDocs) { (k, batch) =>
      val base = minhashBaseOf(batch).localCheckpoint(true)
      val stateBands =
        (baseBands +: admBands.earlier(k)).reduce(_ unionByName _)
      val stateSets =
        (baseSets +: admSets.earlier(k)).reduce(_ unionByName _)
      val verdict = incrementalVerdict(
        base.select(col("doc_id"), col("shs")), foldedBands(base),
        stateBands, stateSets)
        .withColumn("sub_batch", lit(k))
        .select(col("batch_id"), col("sub_batch"),
          col("n_cand"), col("n_dup"), col("admit"))
        .localCheckpoint(true)
      results.put(k, verdict)
      val admitted = verdict.filter(col("admit"))
        .select(col("batch_id").as("doc_id"))
      admBands.put(k,
        foldedBands(base).join(admitted, Seq("doc_id"), "left_semi")
          .localCheckpoint(true))
      admSets.put(k,
        base.select(col("doc_id"), col("shs"))
          .join(admitted, Seq("doc_id"), "left_semi")
          .localCheckpoint(true))
    }
    if (results.isEmpty) emptyVerdicts(s) // degenerate corpus: no batch docs at all
    else results.values.reduce(_ union _)
  }

  /** The admission loops' empty result (a corpus with no batch docs). */
  private def emptyVerdicts(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("batch_id", LongType),
        StructField("sub_batch", IntegerType),
        StructField("n_cand", LongType), StructField("n_dup", LongType),
        StructField("admit", BooleanType))))

  /** The DURABLE form of the admission loop — `stream_dedup_admission`
    * with its growing state moved from in-session checkpointed unions
    * to the PartitionedTable commit protocol, completing the
    * index-maintenance trilogy (BM25 postings, ANN cells, dedup
    * bands): band rows APPEND keyed by band_key (an admitted doc only
    * ADDS band postings; only touched band buckets rewrite), shingle
    * sets UPSERT keyed by doc_id, both txn-versioned per sub-batch so
    * a replayed micro-batch neither double-admits nor double-counts —
    * and the admission index now survives a restart, which the
    * checkpointed-union form never could. Admission semantics are
    * IDENTICAL (each sub-batch admitted against corpus + all earlier
    * admissions, ascending hash order): same relation, same oracle as
    * `stream_dedup_admission` — the state backend is a layout choice. */
  def streamDedupMaintain(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val batchDocs = docs.filter(isBatchDoc(col("doc_id")))
      .withColumn("sub_batch", subBatchOf(col("doc_id")))
    val workDir = java.nio.file.Files.createTempDirectory("graft_dedupmaint")
    try {
      val cbase = minhashBaseOf(docs.filter(!isBatchDoc(col("doc_id"))))
      val cb = foldedBands(cbase)
      val nb = Similarity.derivedBuckets(s, cb.count(),
        "spark.graft.dedup.maintain.buckets")
      val bandsPt = new graft.streaming.PartitionedTable(
        workDir.resolve("bands"), "band_key", nb)
      val setsPt = new graft.streaming.PartitionedTable(
        workDir.resolve("sets"), "doc_id", math.max(4, nb / 4))
      // fenced single-writer lease over build + fold + OPTIMIZE (r11
      // VERDICT item 8) — a stolen lease is refused at the commit point
      graft.streaming.Replication.withWriterLease(workDir) { lease =>
      bandsPt.withFence(() => lease.check(), Some(lease.generation))
      setsPt.withFence(() => lease.check(), Some(lease.generation))
      try {
      bandsPt.appendInto(s, cb, Some("admbands" -> 0L))
      setsPt.mergeInto(s, cbase.select(col("doc_id"), col("shs")),
        Some("admsets" -> 0L))
      // per-trigger O(batch) SEGMENT writes: band keys are uniform, so
      // merging every admission into the bucketed table per trigger
      // would rewrite the standing index per trigger (the measured
      // flaw in MAINTAIN_r10.json). Admissions land as segments the
      // NEXT sub-batches read (base ∪ segments with id < k — the
      // strict-earlier filter also makes a replayed sub-batch see
      // exactly the state it saw the first time), and one deferred
      // fold + compaction lands them in the bucketed base.
      val bSegDir = workDir.resolve("bsegs")
      val sSegDir = workDir.resolve("ssegs")
      java.nio.file.Files.createDirectories(bSegDir)
      java.nio.file.Files.createDirectories(sSegDir)
      val bandSegs = new graft.streaming.SubBatchState[String]
      val setSegs = new graft.streaming.SubBatchState[String]
      val results = new graft.streaming.SubBatchState[DataFrame]
      // fold cadence through the rent-or-buy policy (r15): this
      // write-only admission epoch accrues no serve tax, so the only
      // fold is the close fold — same cadence as pre-r15, now the
      // policy's call; a serve-interleaved deployment folds mid-epoch
      var foldTxn = 1L
      // TIERED fold (r16): mid-epoch folds merge loose segments into
      // flat-priced RUNS; the O(standing) base rewrite happens once at
      // epoch close (or when run tax accrues to it). Base folds are
      // replay-safe structurally: LsmFold records sub-batch ids as txn
      // markers atomically with the commit and filters already-folded
      // ids (FoldReplaySpec).
      val bRunDir = workDir.resolve("bruns")
      val sRunDir = workDir.resolve("sruns")
      val bRuns = scala.collection.mutable.ArrayBuffer[(Seq[Int], java.nio.file.Path)]()
      val sRuns = scala.collection.mutable.ArrayBuffer[(Seq[Int], java.nio.file.Path)]()
      var runSeq = 0
      def partsOf(st: graft.streaming.SubBatchState[String]): Seq[(Int, java.nio.file.Path)] =
        st.entries.map { case (k, p) => k -> java.nio.file.Paths.get(p) }
      val folder = new graft.streaming.TieredPolicyFolder(
        graft.streaming.TieredPolicyFolder.defaultPolicy(),
        () => { // fold-to-RUN; returns the new runs' file count (the
          // policy's per-file leaf pricing, r17)
          val be = partsOf(bandSegs); val se = partsOf(setSegs)
          var newFiles = 0
          if (be.nonEmpty) {
            val r = graft.streaming.LsmFold.mergeRun(s, bRunDir, runSeq, be)
            bRuns += r
            newFiles += graft.streaming.LsmFold.parquetFiles(r._2)
            graft.streaming.LsmFold.prune(be.map(_._2))
          }
          if (se.nonEmpty) {
            val r = graft.streaming.LsmFold.mergeRun(s, sRunDir, runSeq, se)
            sRuns += r
            newFiles += graft.streaming.LsmFold.parquetFiles(r._2)
            graft.streaming.LsmFold.prune(se.map(_._2))
          }
          runSeq += 1
          bandSegs.clear(); setSegs.clear()
          newFiles
        },
        () => { // fold-to-BASE
          val bParts = bRuns.toSeq ++ partsOf(bandSegs).map { case (k, p) => (Seq(k), p) }
          val sParts = sRuns.toSeq ++ partsOf(setSegs).map { case (k, p) => (Seq(k), p) }
          graft.streaming.LsmFold.foldToBase(s, bandsPt, "admbands",
            bParts, foldTxn, merge = false)
          graft.streaming.LsmFold.foldToBase(s, setsPt, "admsets",
            sParts, foldTxn, merge = true)
          foldTxn += 1
          graft.streaming.LsmFold.prune(bParts.map(_._2) ++ sParts.map(_._2))
          bRuns.clear(); sRuns.clear(); bandSegs.clear(); setSegs.clear()
        })
      graft.streaming.SubBatchState.streamSubBatches(s, batchDocs) { (k, batch) =>
        // a replay of a sub-batch a mid-epoch fold already landed
        // (base markers or a live run) skips the VERDICT recompute:
        // its admission verdict is already in `results` (first
        // delivery — this holds for same-process retries; after a
        // checkpoint-recovery RESTART the in-memory results store
        // starts empty and the replayed sub-batch's verdict row is
        // absent from the returned relation, a documented limit of
        // this in-process harness), and recomputing it against a
        // corpus that now CONTAINS its own admitted rows would
        // mis-flag them as duplicates of themselves. The landing
        // guard is PER TABLE (r16 ADVICE): the fold commits bands
        // then sets, so a restart between the two commits leaves
        // bands folded and sets not — the replay re-lands ONLY the
        // missing table's segment, reconstructing the admitted set
        // from the table that DID land (admitted docs are exactly
        // the sub-batch docs present in it).
        val bFresh = bandsPt.lastTxn(s"admbands.seg$k").isEmpty &&
          !bRuns.exists(_._1.contains(k))
        val sFresh = setsPt.lastTxn(s"admsets.seg$k").isEmpty &&
          !sRuns.exists(_._1.contains(k))
        if (bFresh != sFresh) {
          val base = minhashBaseOf(batch).localCheckpoint(true)
          val landed = if (bFresh) setsPt.read(s) else bandsPt.read(s)
          val admitted = base.select(col("doc_id"))
            .join(landed.select(col("doc_id")).distinct(),
              Seq("doc_id"), "left_semi")
          val seg = if (bFresh) {
            val bSeg = bSegDir.resolve(f"seg$k%04d")
            foldedBands(base).join(admitted, Seq("doc_id"), "left_semi")
              .write.mode("overwrite").parquet(bSeg.toString)
            bandSegs.put(k, bSeg.toString)
            bSeg
          } else {
            val sSeg = sSegDir.resolve(f"seg$k%04d")
            base.select(col("doc_id"), col("shs"))
              .join(admitted, Seq("doc_id"), "left_semi")
              .write.mode("overwrite").parquet(sSeg.toString)
            setSegs.put(k, sSeg.toString)
            sSeg
          }
          folder.onSegment(
            math.max(1, graft.streaming.LsmFold.parquetFiles(seg)))
        } else if (bFresh) {
          // fully fresh on BOTH tables: the normal verdict path (this
          // includes a same-process replay whose segments are still
          // loose — the strict-earlier corpus makes the recompute see
          // exactly the state it saw the first time, and the segment
          // overwrite is idempotent)
          val base = minhashBaseOf(batch).localCheckpoint(true)
          // the admission corpus is base ∪ RUNS ∪ strictly-earlier
          // loose segments: a mid-epoch run fold moves earlier
          // sub-batches out of the segment store without landing
          // them in the base, and they must stay visible (runs only
          // ever hold earlier sub-batches — a fresh k is never in
          // a run by the landing guard above)
          val earlierB = bRuns.toSeq.map(_._2.toString) ++ bandSegs.earlier(k)
          val earlierS = sRuns.toSeq.map(_._2.toString) ++ setSegs.earlier(k)
          val corpusBands =
            if (earlierB.isEmpty) bandsPt.read(s)
            else bandsPt.read(s).unionByName(s.read.parquet(earlierB: _*))
          val corpusSets =
            if (earlierS.isEmpty) setsPt.read(s)
            else setsPt.read(s).unionByName(s.read.parquet(earlierS: _*))
          val verdict = incrementalVerdict(
            base.select(col("doc_id"), col("shs")), foldedBands(base),
            corpusBands, corpusSets)
            .withColumn("sub_batch", lit(k))
            .select(col("batch_id"), col("sub_batch"),
              col("n_cand"), col("n_dup"), col("admit"))
            .localCheckpoint(true)
          results.put(k, verdict)
          val admitted = verdict.filter(col("admit"))
            .select(col("batch_id").as("doc_id"))
          val bSeg = bSegDir.resolve(f"seg$k%04d")
          foldedBands(base).join(admitted, Seq("doc_id"), "left_semi")
            .write.mode("overwrite").parquet(bSeg.toString)
          bandSegs.put(k, bSeg.toString)
          val sSeg = sSegDir.resolve(f"seg$k%04d")
          base.select(col("doc_id"), col("shs"))
            .join(admitted, Seq("doc_id"), "left_semi")
            .write.mode("overwrite").parquet(sSeg.toString)
          setSegs.put(k, sSeg.toString)
          folder.onSegment(math.max(1,
            graft.streaming.LsmFold.parquetFiles(bSeg) +
              graft.streaming.LsmFold.parquetFiles(sSeg)))
        }
      }
      // deferred OPTIMIZE: the policy's close fold lands the epoch's
      // admissions in the bucketed base in one commit per table
      folder.finish()
      bandsPt.compact(s)
      setsPt.compact(s)
      if (results.isEmpty) emptyVerdicts(s)
      else results.values.reduce(_ union _)
      // fence cleared in finally so an exception mid-scope can't leave
      // it installed (Replication.catchUp's discipline)
      } finally { bandsPt.clearFence(); setsPt.clearFence() }
      }
    } finally {
      graft.streaming.PartitionedTable.deleteRecursively(workDir)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_minhash_sketch" -> aggMinhashSketch _,
    "dedup_exact" -> dedupExact _,
    "dedup_lines" -> dedupLines _,
    "dedup_substring" -> dedupSubstring _,
    "dedup_substring_clean" -> dedupSubstringClean _,
    "dedup_substring_incremental" -> dedupSubstringIncremental _,
    "dedup_substring_bucketed" -> dedupSubstringBucketed _,
    "dedup_minhash_lsh" -> dedupMinhashLsh _,
    "dedup_minhash_lsh_bucketed" -> dedupMinhashLshBucketed _,
    "dedup_minhash_lsh_capped" -> dedupMinhashLshCapped _,
    "dedup_simhash" -> dedupSimhash _,
    "dedup_ngram_jaccard" -> dedupNgramJaccard _,
    "dedup_embed_cosine" -> dedupEmbedCosine _,
    "dedup_semantic" -> dedupSemantic _,
    "dedup_components" -> dedupComponents _,
    "dedup_incremental" -> dedupIncremental _,
    "dedup_incremental_bucketed" -> dedupIncrementalBucketed _,
    "stream_dedup_admission" -> streamDedupAdmission _,
    "stream_dedup_maintain" -> streamDedupMaintain _
  )

  // Shared front half of the substring-family oracles: positional
  // K-grams (same md5-prefix hash as posGrams) and their duplicated-
  // gram hits. Yields CTEs `w` (doc_id, ws) and `hits` (doc_id, p, g).
  private lazy val substrCovCteSql: String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id, i - 1 AS p,
      |    substr(md5(array_to_string(ws[i:i+${SubstrK - 1}], ' ')), 1, 16) AS g
      |  FROM w, unnest(range(1, len(ws) - $SubstrK + 2)) t(i)
      |  WHERE len(ws) >= $SubstrK),
      |dup AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
      |hits AS (SELECT h.doc_id, h.p FROM g h JOIN dup USING (g))""".stripMargin

  // Admission oracle, shared by the shuffle and persisted-index forms:
  // batch positions flagged by corpus gram MEMBERSHIP (not count>=2),
  // batch/corpus split = md5 prefix < '20' (the isBatchDoc contract).
  private lazy val substrAdmissionOracle: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
      |    substr(md5(doc_id::VARCHAR), 1, 2) < '20' AS is_batch FROM documents),
      |g AS (SELECT doc_id, is_batch, i - 1 AS p,
      |    substr(md5(array_to_string(ws[i:i+${SubstrK - 1}], ' ')), 1, 16) AS g
      |  FROM w, unnest(range(1, len(ws) - $SubstrK + 2)) t(i)
      |  WHERE len(ws) >= $SubstrK),
      |cg AS (SELECT DISTINCT g FROM g WHERE NOT is_batch),
      |cov AS (SELECT h.doc_id, CAST(count(DISTINCT h.p + o) AS INTEGER) AS dup_tokens
      |  FROM g h JOIN cg USING (g), unnest(range(0, $SubstrK)) u(o)
      |  WHERE h.is_batch GROUP BY h.doc_id)
      |SELECT w.doc_id, CAST(len(w.ws) AS INTEGER) AS n_tokens,
      |  coalesce(cov.dup_tokens, 0) AS dup_tokens,
      |  2 * coalesce(cov.dup_tokens, 0) < len(w.ws) AS admit
      |FROM w LEFT JOIN cov ON cov.doc_id = w.doc_id
      |WHERE w.is_batch""".stripMargin

  private val shinglesSqlDuck = // DuckDB k=3 shingle list (distinct)
    """list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
      |  THEN [array_to_string(string_split(text,' ')[i:i+2], ' ')
      |        FOR i IN range(1, len(string_split(text,' ')) - 1)]
      |  ELSE [] END)""".stripMargin

  private val gram2SqlDuck = // DuckDB k=2 shingle list (distinct)
    """list_distinct(CASE WHEN len(string_split(text,' ')) >= 2
      |  THEN [array_to_string(string_split(text,' ')[i:i+1], ' ')
      |        FOR i IN range(1, len(string_split(text,' ')))]
      |  ELSE [] END)""".stripMargin

  private val simhashSqlDuck: String = {
    val bitSums = (0 until 32).map { j =>
      val nibbleIdx = j / 4 + 1
      val shift = 1 << (j % 4)
      s"""(CASE WHEN 2 * list_sum([(strpos('0123456789abcdef', substr(md5(t), $nibbleIdx, 1)) - 1) // $shift % 2
         |  FOR t IN toks]) >= len(toks) THEN ${1L << j}::BIGINT ELSE 0::BIGINT END)""".stripMargin
    }
    bitSums.mkString("(", " + ", ")")
  }

  private lazy val minhashLshOracle: String =
    s"""WITH sh AS (SELECT doc_id, $shinglesSqlDuck AS shs FROM documents),
      |sig AS (SELECT doc_id, shs,
      |  [list_min([substr(md5(s::VARCHAR || ':' || x), 1, 8) FOR x IN shs]) FOR s IN range(0, 16)] AS sigs
      |  FROM sh),
      |bands AS (SELECT doc_id, b AS band_id,
      |  sigs[4*b+1] || sigs[4*b+2] || sigs[4*b+3] || sigs[4*b+4] AS band_key
      |  FROM sig, unnest(range(0, 4)) t(b)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b,
      |  len(list_intersect(x.shs, y.shs)) AS inter,
      |  len(list_distinct(x.shs || y.shs)) AS uni
      |FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
      |WHERE 2 * len(list_intersect(x.shs, y.shs)) >= len(list_distinct(x.shs || y.shs))""".stripMargin

  val oracles: Map[String, String] = Map(
    "agg_minhash_sketch" ->
      s"""WITH sh AS (
        |  SELECT source, unnest($shinglesSqlDuck) AS s FROM documents),
        |m AS (
        |  SELECT source, seed, min(substr(md5(seed::VARCHAR || ':' || s), 1, 8)) AS mh
        |  FROM sh, unnest(range(0, 16)) t(seed)
        |  GROUP BY source, seed)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS INTEGER) AS n_match
        |FROM m a JOIN m b ON a.seed = b.seed AND a.source < b.source
        |GROUP BY a.source, b.source""".stripMargin,
    "dedup_lines" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |ln AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS pos,
        |    array_to_string(ws[i * $LineWords + 1 : i * $LineWords + $LineWords], ' ') AS line
        |  FROM w, unnest(range(0, greatest(CAST(ceil(len(ws) / $LineWords.0) AS BIGINT), 1))) t(i)),
        |marked AS (
        |  SELECT doc_id, pos, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rnk
        |  FROM ln),
        |kept AS (SELECT doc_id, pos, line FROM marked WHERE rnk = 1),
        |stats AS (SELECT doc_id, count(*) AS n_lines FROM ln GROUP BY doc_id),
        |reb AS (SELECT doc_id, count(*) AS n_kept,
        |    md5(string_agg(line, ' ' ORDER BY pos)) AS m
        |  FROM kept GROUP BY doc_id)
        |SELECT s.doc_id, s.n_lines,
        |  CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(reb.m, md5('')) AS dedup_md5
        |FROM stats s LEFT JOIN reb USING (doc_id)""".stripMargin,
    // mirrors dedupSubstring exactly: positional K-grams hashed to the
    // same 16-hex md5 prefix, duplicated = total occurrences >= 2
    // (self-repetition counts, as in ExactSubstr), coverage = distinct
    // positions under the union of [p, p+K) windows.
    "dedup_substring" ->
      s"""WITH $substrCovCteSql,
        |cv AS (SELECT h.doc_id, CAST(count(DISTINCT h.p + o) AS INTEGER) AS dup_tokens
        |  FROM hits h, unnest(range(0, $SubstrK)) u(o) GROUP BY h.doc_id)
        |SELECT w.doc_id, CAST(len(w.ws) AS INTEGER) AS n_tokens,
        |  coalesce(cv.dup_tokens, 0) AS dup_tokens,
        |  CASE WHEN 2 * coalesce(cv.dup_tokens, 0) >= len(w.ws)
        |    THEN 1 ELSE 0 END AS drop_flag
        |FROM w LEFT JOIN cv ON cv.doc_id = w.doc_id""".stripMargin,
    // same duplicated-gram front half, then token-level removal and
    // ordered reassembly; fully-covered documents yield '' not NULL.
    "dedup_substring_clean" ->
      s"""WITH $substrCovCteSql,
        |cov AS (SELECT DISTINCT h.doc_id, h.p + o AS p
        |  FROM hits h, unnest(range(0, $SubstrK)) u(o)),
        |tok AS (SELECT doc_id, i - 1 AS p, ws[i] AS tok
        |  FROM w, unnest(range(1, len(ws) + 1)) t(i)),
        |ka AS (SELECT t.doc_id, CAST(count(*) AS INTEGER) AS kept_tokens,
        |    string_agg(t.tok, ' ' ORDER BY t.p) AS txt
        |  FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.p
        |  WHERE c.p IS NULL GROUP BY t.doc_id)
        |SELECT w.doc_id, CAST(len(w.ws) AS INTEGER) AS n_tokens,
        |  coalesce(ka.kept_tokens, 0) AS kept_tokens,
        |  coalesce(ka.txt, '') AS clean_text
        |FROM w LEFT JOIN ka ON ka.doc_id = w.doc_id""".stripMargin,
    // admission: batch coverage against CORPUS gram membership
    // (df >= 1 there), same md5-prefix split as the LSH admission
    "dedup_substring_incremental" -> substrAdmissionOracle,
    // the bucketed form is a physical layout choice, not a semantic
    // one — identical oracle
    "dedup_substring_bucketed" -> substrAdmissionOracle,
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_doc_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "dedup_minhash_lsh" -> minhashLshOracle,
    // identical relation: bucketing the band table is a layout choice
    "dedup_minhash_lsh_bucketed" -> minhashLshOracle,
    // mirrors the hot-band cap exactly: per-bucket counts, star pairs
    // (bucket-min rep) over the cap, all-pairs under it
    "dedup_minhash_lsh_capped" ->
      s"""WITH sh AS (SELECT doc_id, $shinglesSqlDuck AS shs FROM documents),
        |sig AS (SELECT doc_id, shs,
        |  [list_min([substr(md5(s::VARCHAR || ':' || x), 1, 8) FOR x IN shs]) FOR s IN range(0, 16)] AS sigs
        |  FROM sh),
        |bands AS (SELECT doc_id, b AS band_id,
        |  sigs[4*b+1] || sigs[4*b+2] || sigs[4*b+3] || sigs[4*b+4] AS band_key
        |  FROM sig, unnest(range(0, 4)) t(b)),
        |bs AS (SELECT band_id, band_key, count(*) AS bn, min(doc_id) AS rep
        |  FROM bands GROUP BY band_id, band_key),
        |cold AS (SELECT b.doc_id, b.band_id, b.band_key
        |  FROM bands b JOIN bs USING (band_id, band_key) WHERE bs.bn <= $HotBandCap),
        |coldp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM cold a JOIN cold b
        |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |hotp AS (SELECT bs.rep AS doc_a, b.doc_id AS doc_b
        |  FROM bands b JOIN bs USING (band_id, band_key)
        |  WHERE bs.bn > $HotBandCap AND b.doc_id <> bs.rep),
        |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
        |  SELECT * FROM coldp UNION ALL SELECT * FROM hotp))
        |SELECT doc_a, doc_b,
        |  len(list_intersect(x.shs, y.shs)) AS inter,
        |  len(list_distinct(x.shs || y.shs)) AS uni
        |FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
        |WHERE 2 * len(list_intersect(x.shs, y.shs)) >= len(list_distinct(x.shs || y.shs))""".stripMargin,
    "dedup_simhash" ->
      s"""WITH sigs AS (
        |  SELECT doc_id, source, $simhashSqlDuck AS sim
        |  FROM (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks FROM documents))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  bit_count(xor(a.sim, b.sim)) AS hamming
        |FROM sigs a JOIN sigs b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sim, b.sim)) <= 6""".stripMargin,
    // Mirrors the Spark side exactly: the df cap is derived from the
    // df histogram under the same work budget (largest df whose
    // cumulative df²-work prefix fits B × total occurrences, floor 1),
    // hotter grams are cut BEFORE pairing, and Jaccard runs over the
    // kept-gram space. A doc left gram-less (< 2 words, or all grams
    // hot) vanishes from `rg`, mirroring the explode side — without
    // that, two such docs would emit a phantom (0,0) pair.
    "dedup_ngram_jaccard" ->
      s"""WITH g AS (SELECT doc_id, source, $gram2SqlDuck AS gs FROM documents),
        |gx AS (SELECT doc_id, source, unnest(gs) AS gr FROM g),
        |dfs AS (SELECT source, gr, count(*) AS df FROM gx GROUP BY source, gr),
        |hist AS (SELECT df, count(*) AS c FROM dfs GROUP BY df),
        |cum AS (SELECT df, sum(df * df * c) OVER (ORDER BY df) AS w2 FROM hist),
        |tot AS (SELECT sum(df) AS n1 FROM dfs),
        |cap AS (SELECT coalesce(max(df), 1) AS v FROM cum, tot
        |  WHERE w2 <= $GramJoinWorkBudget * n1),
        |hot AS (SELECT source, gr FROM dfs, cap WHERE df > cap.v),
        |gxs AS MATERIALIZED (SELECT gx.doc_id, gx.source, gx.gr
        |  FROM gx LEFT JOIN hot ON gx.source = hot.source AND gx.gr = hot.gr
        |  WHERE hot.gr IS NULL),
        |rg AS MATERIALIZED (SELECT doc_id, source, list(gr) AS gs
        |  FROM gxs GROUP BY doc_id, source),
        |-- candidate BLOCKING on a shared surviving gram (lossless:
        |-- every doc in rg has >= 1 gram, so an emitted pair needs
        |-- inter >= 1, i.e. a shared gram; the df cap bounds pairs per
        |-- gram at cap^2 and the cap budget bounds the total —
        |-- the direct rg x rg within-source join is quadratic in docs
        |-- and exceeded any time budget at the 250k-doc tier)
        |cand AS MATERIALIZED (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |  FROM gxs x JOIN gxs y
        |    ON x.source = y.source AND x.gr = y.gr AND x.doc_id < y.doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.gs, b.gs)) AS inter,
        |  len(list_distinct(a.gs || b.gs)) AS uni
        |FROM cand c JOIN rg a ON a.doc_id = c.da JOIN rg b ON b.doc_id = c.db
        |WHERE 2 * len(list_intersect(a.gs, b.gs)) >= len(list_distinct(a.gs || b.gs))""".stripMargin,
    // mirrors the two-level (IMI) cell assignment (same supers +
    // parent map + tie-breaks as the Spark side, via the shared CTE),
    // then the within-(label, cell) cosine verify
    "dedup_embed_cosine" ->
      s"""WITH ${Similarity.imiCellsCteSql}
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
        |  round(list_sum(list_transform(range(1, 65),
        |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), 4) AS cos_r
        |FROM cells a JOIN cells b
        |  ON a.label = b.label AND a.cell = b.cell AND a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(range(1, 65),
        |  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) >= 0.35""".stripMargin,
    // same shared IMI-cell CTE, then dominated pruning: a vector is
    // dropped iff a lower-vec_id co-(label, cell) member has cos >= 0.35
    "dedup_semantic" ->
      s"""WITH ${Similarity.imiCellsCteSql},
        |pr AS (SELECT DISTINCT b.vec_id
        |  FROM cells a JOIN cells b
        |    ON a.label = b.label AND a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE ${Similarity.dotSql.format("a.embedding", "b.embedding")} >= 0.35)
        |SELECT c.vec_id, c.label FROM cells c
        |LEFT JOIN pr ON pr.vec_id = c.vec_id
        |WHERE pr.vec_id IS NULL""".stripMargin,
    // connected components = min doc_id reachable in the undirected
    // verified-pair graph (recursive reachability closure)
    "dedup_components" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id, $shinglesSqlDuck AS shs FROM documents),
        |sig AS (SELECT doc_id, shs,
        |  [list_min([substr(md5(s::VARCHAR || ':' || x), 1, 8) FOR x IN shs]) FOR s IN range(0, 16)] AS sigs
        |  FROM sh),
        |bands AS (SELECT doc_id, b AS band_id,
        |  sigs[4*b+1] || sigs[4*b+2] || sigs[4*b+3] || sigs[4*b+4] AS band_key
        |  FROM sig, unnest(range(0, 4)) t(b)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |pairs AS (SELECT doc_a, doc_b FROM cand
        |  JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
        |  WHERE 2 * len(list_intersect(x.shs, y.shs)) >= len(list_distinct(x.shs || y.shs))),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(v, comp) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.v)
        |SELECT v AS doc_id, min(comp) AS component
        |FROM reach GROUP BY v""".stripMargin,
    "dedup_incremental" -> incrementalOracle,
    // identical relation: the bucketed corpus index is a layout choice
    "dedup_incremental_bucketed" -> incrementalOracle,
    // sequential replay of the three admission stages as chained CTEs:
    // stage k's corpus = the base corpus plus every EARLIER admission
    "stream_dedup_admission" -> admissionOracle,
    // identical admission semantics — the durable PartitionedTable
    // state backend is a layout choice, not a semantic one
    "stream_dedup_maintain" -> admissionOracle
  )

  /** The streaming-admission oracle: three chained stages over the
    * shared shingle/signature/band CTEs. Stage k admits sub-batch k
    * against the corpus plus stages < k's admissions — the exact
    * sequential semantics the foreachBatch loop executes. */
  private lazy val admissionOracle: String = {
    def stage(k: Int, admittedPred: String): String =
      s"""cand$k AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
        |  FROM bands a JOIN bands b
        |    ON a.band_id = b.band_id AND a.band_key = b.band_key
        |  WHERE a.is_batch AND a.sub = $k AND (NOT b.is_batch$admittedPred)),
        |ver$k AS (SELECT batch_id,
        |    2 * len(list_intersect(x.shs, y.shs)) >= len(list_distinct(x.shs || y.shs)) AS dup
        |  FROM cand$k JOIN sh x ON x.doc_id = batch_id JOIN sh y ON y.doc_id = corpus_id),
        |agg$k AS (SELECT batch_id, count(*) AS n_cand,
        |    CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |  FROM ver$k GROUP BY batch_id),
        |res$k AS (SELECT d.doc_id AS batch_id, CAST($k AS INTEGER) AS sub_batch,
        |    coalesce(n_cand, 0) AS n_cand, coalesce(n_dup, 0) AS n_dup,
        |    coalesce(n_dup, 0) = 0 AS admit
        |  FROM sh d LEFT JOIN agg$k ON agg$k.batch_id = d.doc_id
        |  WHERE d.is_batch AND d.sub = $k),
        |adm$k AS (SELECT batch_id FROM res$k WHERE admit)""".stripMargin
    s"""WITH sh AS (SELECT doc_id,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20' AS is_batch,
      |    ascii(substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) % 3 AS sub,
      |    $shinglesSqlDuck AS shs FROM documents),
      |sig AS (SELECT doc_id, is_batch, sub, shs,
      |  [list_min([substr(md5(s::VARCHAR || ':' || x), 1, 8) FOR x IN shs]) FOR s IN range(0, 16)] AS sigs
      |  FROM sh),
      |bands AS (SELECT doc_id, is_batch, sub, b AS band_id,
      |  sigs[4*b+1] || sigs[4*b+2] || sigs[4*b+3] || sigs[4*b+4] AS band_key
      |  FROM sig, unnest(range(0, 4)) t(b)),
      |${stage(0, "")},
      |${stage(1, " OR b.doc_id IN (SELECT batch_id FROM adm0)")},
      |${stage(2,
        " OR b.doc_id IN (SELECT batch_id FROM adm0)" +
        " OR b.doc_id IN (SELECT batch_id FROM adm1)")}
      |SELECT * FROM res0 UNION ALL SELECT * FROM res1
      |UNION ALL SELECT * FROM res2""".stripMargin
  }

  private lazy val incrementalOracle: String =
    s"""WITH sh AS (SELECT doc_id,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20' AS is_batch,
      |    $shinglesSqlDuck AS shs FROM documents),
      |sig AS (SELECT doc_id, is_batch, shs,
      |  [list_min([substr(md5(s::VARCHAR || ':' || x), 1, 8) FOR x IN shs]) FOR s IN range(0, 16)] AS sigs
      |  FROM sh),
      |bands AS (SELECT doc_id, is_batch, b AS band_id,
      |  sigs[4*b+1] || sigs[4*b+2] || sigs[4*b+3] || sigs[4*b+4] AS band_key
      |  FROM sig, unnest(range(0, 4)) t(b)),
      |cand AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
      |  FROM bands a JOIN bands b
      |    ON a.band_id = b.band_id AND a.band_key = b.band_key
      |  WHERE a.is_batch AND NOT b.is_batch),
      |ver AS (SELECT batch_id,
      |    2 * len(list_intersect(x.shs, y.shs)) >= len(list_distinct(x.shs || y.shs)) AS dup
      |  FROM cand JOIN sh x ON x.doc_id = batch_id JOIN sh y ON y.doc_id = corpus_id),
      |agg AS (SELECT batch_id, count(*) AS n_cand,
      |    CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
      |  FROM ver GROUP BY batch_id)
      |SELECT d.doc_id AS batch_id,
      |  coalesce(n_cand, 0) AS n_cand, coalesce(n_dup, 0) AS n_dup,
      |  coalesce(n_dup, 0) = 0 AS admit
      |FROM sh d LEFT JOIN agg ON agg.batch_id = d.doc_id
      |WHERE d.is_batch""".stripMargin
}

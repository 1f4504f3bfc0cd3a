package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, Murmur3Hash, Pmod}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.operators.Upsert

/** Partition-pruned upsert table — the 100 TB merge path promised in
  * SCALING.md (SURVEY.md §7 "hard parts": delete+insert on immutable
  * storage must not rewrite the table).
  *
  * Layout: rows are hash-bucketed by key into `nBuckets`; a manifest
  * file maps bucket → current data directory (relative to the table
  * root). A merge:
  *
  *   1. computes the bucket set of the update batch: on the driver
  *      for a local batch (a replication tick's), by one probe job over
  *      the cached batch for a distributed one,
  *   2. anti-join+unions ONLY those buckets' current data with the
  *      updates — one distributed merge plan over all touched buckets;
  *      a local batch's anti-join is a filter on its driver-held keys,
  *   3. writes every touched bucket in one write (`partitionBy("__b")`
  *      into a fresh commit directory — the dynamic-partition-overwrite
  *      shape; no serial per-bucket driver loop), each bucket from the
  *      one task that holds all its rows (`writeAligned`), then
  *      atomically swaps one manifest.
  *
  * Untouched buckets are untouched files: merge cost is
  * O(touched buckets), not O(table) — but uniformly hashed keys put a
  * batch of more than a few dozen keys in every bucket. Crash before
  * the manifest swap leaves the old manifest → old complete state
  * (idempotent re-apply, same contract UpsertSpec property-tests for
  * the simple merge).
  */
class PartitionedTable(val dir: Path, val keyCol: String, val nBuckets: Int) {

  private def manifestFile = dir.resolve("MANIFEST")

  private def bucketExpr = pmod(hash(col(keyCol)), lit(nBuckets))

  /** Key-aligned bucket write: `repartition(nBuckets, key)` is Spark's
    * HashPartitioning, `pmod(murmur3(key, 42), nBuckets)` — the same
    * expression as `bucketExpr` — so every row of bucket b lands in
    * task b and each written bucket dir holds exactly ONE parquet file.
    * A merge written from the upstream tasks instead leaves up to one
    * file per task in every bucket, and the next merge reads them all
    * back. `partitionBy("__b")` still routes the rows, so correctness
    * never rests on that equality; only the file count does
    * (PartitionedTableSpec pins the Spark property). */
  private def writeAligned(rows: DataFrame, commitRel: String): Unit =
    rows.repartition(nBuckets, col(keyCol))
      .withColumn("__b", bucketExpr)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("__b")
      .parquet(dir.resolve(commitRel).toString)

  def exists: Boolean = Files.exists(manifestFile)

  /** bucket -> current data dir (relative to `dir`). Refuses to parse
    * a manifest without the current format marker: path semantics have
    * changed across layout versions, so guessing would misread old
    * tables silently — an explicit error beats wrong data. */
  def manifest: Map[Int, String] =
    if (!exists) Map.empty
    else {
      val lines = Files.readAllLines(manifestFile).asScala.toSeq
      if (!lines.headOption.contains(PartitionedTable.FormatMarker))
        throw new IllegalStateException(
          s"incompatible table layout at $dir: manifest lacks format marker " +
            s"'${PartitionedTable.FormatMarker}' (found '${lines.headOption.getOrElse("<empty>")}'); " +
          "this table was written by an older layout — re-create it from source data")
      // bucket-count guard: rows are addressed by pmod(hash(key), n) —
      // opening an existing table with a DIFFERENT n silently misroutes
      // every key (a merge rewrites the wrong buckets and duplicates
      // keys; a lookup opens the wrong bucket and answers empty).
      // The count is recorded at every commit; a handle constructed
      // with another value is refused before it can touch data.
      lines.drop(1).find(_.startsWith(PartitionedTable.NBucketsPrefix))
        .map(_.stripPrefix(PartitionedTable.NBucketsPrefix).trim.toInt)
        .foreach { n =>
          require(n == nBuckets,
            s"table at $dir was written with nBuckets=$n but opened with " +
              s"nBuckets=$nBuckets — bucket addressing is keyed to the " +
              "count; re-open with the recorded value (resizing needs a rewrite)")
        }
      parseBuckets(lines)
    }

  /** Last recorded transaction version per writer application — the
    * Delta `txnAppId`/`txnVersion` analog. Carried inside the manifest
    * (same atomic swap as the bucket pointers) so "data applied" and
    * "txn recorded" can never be observed apart, whatever the crash
    * point. A streaming sink passes its (appId, batchId); a replayed
    * micro-batch after checkpoint recovery sees its id already
    * recorded and no-ops — exactly-once on top of at-least-once
    * delivery. */
  def txns: Map[String, Long] =
    if (!exists) Map.empty
    else parseTxns(Files.readAllLines(manifestFile).asScala.toSeq)

  def lastTxn(appId: String): Option[Long] = txns.get(appId)

  /** Txn records AS OF a committed snapshot — what `txns` answered
    * when `MANIFEST.s<snap>` was current. Snapshot manifests carry the
    * full txn map (same body as MANIFEST), so a marker written
    * atomically with a commit (e.g. the BM25 fold's paired-snapshot
    * record) is readable at exactly the snapshot that carries it: a
    * serve session pinning snapshot N resolves N's markers, never the
    * head's. Fails loudly on a vacuumed snapshot, like `readAt`. */
  def txnsAt(snap: Long): Map[String, Long] = {
    val f = dir.resolve(s"MANIFEST.s$snap")
    require(Files.exists(f),
      s"snapshot s$snap not found under $dir (vacuumed? available: ${snapshots.mkString(",")})")
    parseTxns(Files.readAllLines(f).asScala.toSeq)
  }

  private def parseBuckets(lines: Seq[String]): Map[Int, String] =
    lines.drop(1).filterNot(_.startsWith("!"))
      .map(_.split("=", 2)).collect { case Array(b, v) => b.toInt -> v }.toMap

  private def parseTxns(lines: Seq[String]): Map[String, Long] =
    lines.drop(1).filter(_.startsWith(PartitionedTable.TxnPrefix))
      .map(_.stripPrefix(PartitionedTable.TxnPrefix).split("=", 2))
      .collect { case Array(a, v) => a -> v.toLong }.toMap

  private def parseSchema(lines: Seq[String]): Option[org.apache.spark.sql.types.StructType] =
    lines.drop(1).find(_.startsWith(PartitionedTable.SchemaPrefix))
      .map(l => org.apache.spark.sql.types.DataType.fromJson(
        l.stripPrefix(PartitionedTable.SchemaPrefix))
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** The table's current (union) schema as recorded in the manifest —
    * written at every commit so READS never run schema inference: a
    * `mergeSchema` read launches a distributed footer job over every
    * file of every touched bucket at DataFrame-creation time, which a
    * minutely merge loop pays per diff (the r10 3.3× catch-up
    * regression). Absent on pre-r11 manifests → mergeSchema fallback. */
  def storedSchema: Option[org.apache.spark.sql.types.StructType] =
    if (!exists) None
    else parseSchema(Files.readAllLines(manifestFile).asScala.toSeq)

  /** Commit: record the mapping as the immutable snapshot
    * `MANIFEST.s<commit>` — the Delta/Iceberg version-log analog —
    * then swap MANIFEST atomically. Snapshots are what make a
    * training run REPRODUCIBLE against a continuously-merged table:
    * pin the snapshot id at run start, `readAt` it forever after
    * (until `vacuum`'s retention horizon sweeps it).
    *
    * The snapshot is created with CREATE_NEW and doubles as the
    * OPTIMISTIC-CONCURRENCY arbiter: commit ids are a deterministic
    * function of the base state (max existing id + 1), so two writers
    * that based on the same state race for the same snapshot file and
    * exactly one CREATE_NEW wins. The loser's data dir (unique per
    * attempt — see nonce in the mutators) is unreferenced garbage for
    * `vacuum`; the loser re-reads and retries
    * (`PartitionedTable.retryingCommit`). A crash between snapshot
    * and swap leaves a snapshot no MANIFEST points at — never a torn
    * current state; the next writer skips past its id (nextCommit
    * counts snapshots) and vacuum sweeps the orphan. */
  /** Test seam: runs after the commit id is fixed and the data dir is
    * written, before the CREATE_NEW arbitration — the window a
    * concurrent winner lands in. */
  protected[graft] def onBeforeCommit(commit: Long): Unit = ()

  /** Fencing-token check run immediately before every commit's
    * CREATE_NEW arbitration (the publish point): a single-writer
    * loop passes its `WriterLease.check` here so a holder whose lease
    * was STOLEN (frozen past the horizon, overlapped by a cross-host
    * stealer) is refused at commit — it can still compute, but can no
    * longer publish state. Default: unfenced (multi-writer OCC relies
    * on the CREATE_NEW race alone). */
  @volatile private var fence: () => Unit = () => ()
  @volatile private var fenceGen: Option[Long] = None
  def withFence(check: () => Unit,
                generation: Option[Long] = None): this.type = {
    fence = check; fenceGen = generation; this
  }

  /** Remove an installed fence — call when the lease scope that
    * installed it ends. A fence outliving its lease is a trap: the
    * lease's LOCK file is gone, so `check()` fails forever and every
    * later commit on this instance is refused for a lease that no one
    * holds. Lease scopes (Replication.catchUp, the maintain loops)
    * clear in a finally. */
  def clearFence(): this.type = { fence = () => (); fenceGen = None; this }

  private def parseFenceGen(lines: Seq[String]): Long =
    lines.drop(1).find(_.startsWith(PartitionedTable.FencePrefix))
      .map(_.stripPrefix(PartitionedTable.FencePrefix).trim.toLong)
      .getOrElse(0L)

  /** Highest fencing generation a commit has carried — the number the
    * monotonic-token check compares against. */
  def recordedFenceGen: Long =
    if (!exists) 0L
    else parseFenceGen(Files.readAllLines(manifestFile).asScala.toSeq)

  /** Schema to RECORD in the manifest for a mutation whose merged
    * output has `mutationSchema`. With a schema line already present,
    * the mutation read resolved through the full recorded union, so
    * mutationSchema IS the table union. On a LEGACY manifest (pre-
    * schema-line) the mutation read only its touched buckets — a
    * widened column living solely in UNTOUCHED buckets would be
    * dropped from the first recorded schema and then silently from
    * every subsequent explicit-schema read. Seed the union from a
    * one-time mergeSchema footer pass over ALL manifest buckets
    * instead (paid once per legacy table, ever — the next commit has
    * the schema line). */
  private def schemaToRecord(spark: SparkSession,
      mutationSchema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    if (storedSchema.isDefined) {
      // union with the RECORDED schema, never replace: a mutation that
      // touches only buckets with no existing files (fresh bucket of an
      // append) reads nothing back, so its own schema can be NARROWER
      // than the table union — recording it verbatim would silently
      // drop the missing columns from every later explicit-schema read
      // of the untouched buckets (r14 fix; spec-pinned)
      unionByName(mutationSchema, storedSchema.get)
    } else {
      val m = manifest
      if (m.isEmpty) mutationSchema
      else {
        val paths = m.toSeq.sortBy(_._1).map { case (_, v) => dir.resolve(v).toString }
        val full = spark.read.option("mergeSchema", "true").parquet(paths: _*).schema
        unionByName(mutationSchema, full)
      }
    }

  /** Name-keyed schema union with TYPE reconciliation: a name that
    * exists on both sides must carry the SAME dataType (nullability-
    * insensitive, same catalogString rule as the mergeInto additive-
    * only check at :465) — the stored field wins on nullability, and
    * a genuine type conflict fails fast. Pre-r15 the mutation's type
    * was recorded VERBATIM, so a fresh-bucket append (which reads no
    * existing rows back and therefore bypasses the mergeInto check)
    * carrying e.g. int for a column older buckets store as long
    * silently narrowed the recorded schema — later explicit-schema
    * reads of those buckets would truncate or fail (r14 ADVICE;
    * spec-pinned). */
  private def unionByName(
      mutation: org.apache.spark.sql.types.StructType,
      stored: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val storedByName = stored.fields.map(f => f.name -> f).toMap
    val merged = mutation.fields.map { mf =>
      storedByName.get(mf.name) match {
        case Some(sf) =>
          require(sf.dataType.catalogString == mf.dataType.catalogString,
            s"schema evolution on $keyCol-table ${dir.getFileName}: column ${mf.name} " +
              s"is ${sf.dataType.simpleString} in the recorded schema but " +
              s"${mf.dataType.simpleString} in the batch — additive columns " +
              "only, type changes need a rewrite")
          sf.copy(nullable = sf.nullable || mf.nullable)
        case None => mf
      }
    }
    StructType(merged ++
      stored.fields.filterNot(f => mutation.fieldNames.contains(f.name)))
  }

  private def writeManifest(m: Map[Int, String], commit: Long,
                            txn: Map[String, Long], attemptRel: Option[String],
                            schema: org.apache.spark.sql.types.StructType): Unit = {
    onBeforeCommit(commit)
    val recordedGen = recordedFenceGen
    try {
      fence()
      // monotonic fencing token (Chubby/ZooKeeper-style): a commit
      // carrying a generation LOWER than one this table has already
      // accepted comes from a holder whose lease was stolen — refuse,
      // even if the lock file itself has since ping-ponged
      fenceGen.foreach { g =>
        if (g < recordedGen)
          throw new PartitionedTable.FencedCommitException(
            s"fencing token $g is stale (table at $dir has accepted " +
              s"generation $recordedGen): refusing to commit")
      }
    } catch {
      case e: Throwable =>
        // refused commit: this attempt's data dir is dead — drop it
        // now (same cleanup as losing the CREATE_NEW race)
        attemptRel.foreach { rel =>
          val d = dir.resolve(rel)
          if (Files.exists(d)) PartitionedTable.deleteRecursively(d)
        }
        throw e
    }
    Files.createDirectories(dir)
    val genLine = (fenceGen.toSeq :+ recordedGen).max match {
      case 0L => Nil
      case g  => Seq(PartitionedTable.FencePrefix + g)
    }
    val schemaLine = PartitionedTable.SchemaPrefix +
      PartitionedTable.nullableOf(schema).json
    val nbLine = PartitionedTable.NBucketsPrefix + nBuckets
    val body = (Seq(PartitionedTable.FormatMarker, schemaLine, nbLine) ++ genLine ++
      (txn.toSeq.sortBy(_._1).map { case (a, v) => s"${PartitionedTable.TxnPrefix}$a=$v" } ++
        m.toSeq.sortBy(_._1).map { case (b, v) => s"$b=$v" })).mkString("", "\n", "\n")
    try
      Files.writeString(dir.resolve(s"MANIFEST.s$commit"), body,
        java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        // another writer committed `commit` first: this attempt's data
        // dir is dead — drop it now rather than waiting for vacuum
        attemptRel.foreach { rel =>
          val d = dir.resolve(rel)
          if (Files.exists(d)) PartitionedTable.deleteRecursively(d)
        }
        throw new java.util.ConcurrentModificationException(
          s"commit s$commit at $dir lost to a concurrent writer; re-read and retry")
    }
    val tmp = dir.resolve("MANIFEST.tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, manifestFile, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def parseManifest(p: Path): Map[Int, String] =
    parseBuckets(Files.readAllLines(p).asScala.toSeq)

  /** Committed snapshot ids, oldest first. */
  def snapshots: Seq[Long] =
    if (!Files.isDirectory(dir)) Nil
    else PartitionedTable.listDir(dir)
      .map(_.getFileName.toString)
      .collect { case PartitionedTable.SnapFile(n) => n.toLong }
      .sorted

  /** Time-travel read: the table exactly as of snapshot `snap`.
    * Fails loudly if the snapshot was vacuumed past — a pinned
    * training run must error, not silently read newer data. */
  def readAt(spark: SparkSession, snap: Long): DataFrame = {
    val f = dir.resolve(s"MANIFEST.s$snap")
    require(Files.exists(f),
      s"snapshot s$snap not found under $dir (vacuumed? available: ${snapshots.mkString(",")})")
    val lines = Files.readAllLines(f).asScala.toSeq
    val m = parseBuckets(lines)
    val paths = m.toSeq.sortBy(_._1).map { case (_, v) => dir.resolve(v).toString }
    require(paths.nonEmpty, s"snapshot s$snap is empty")
    readPaths(spark, paths, parseSchema(lines))
  }

  /** Reads resolve the schema from the MANIFEST (recorded at every
    * commit): buckets written before an additive schema evolution
    * (see mergeInto) coexist with widened ones, and the explicit
    * union schema reads pre-evolution rows as NULL without ANY
    * footer inference — at 100 TB a `mergeSchema` read is a
    * distributed footer job over every referenced file at planning
    * time, per read. Pre-schema-line manifests (older layouts) fall
    * back to exactly that mergeSchema read. */
  private def readPaths(spark: SparkSession, paths: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    schema match {
      case Some(sc) => spark.read.schema(sc).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }

  def readBuckets(spark: SparkSession, buckets: Seq[Int]): DataFrame = {
    val m = manifest
    val paths = buckets.flatMap(b => m.get(b).map(v => dir.resolve(v).toString))
    require(paths.nonEmpty, s"no committed buckets under $dir")
    readPaths(spark, paths, storedSchema)
  }

  def read(spark: SparkSession): DataFrame =
    readBuckets(spark, manifest.keys.toSeq.sorted)

  /** Bucket ids of `key` over `rows`, evaluated on the driver:
    * `pmod(murmur3(key, 42), nBuckets)`, the terms of `bucketExpr`
    * (`hash` is murmur3 with seed 42), so no Spark job runs. Used by
    * `lookup` and by `mergeInto`'s local-batch path. */
  private def bucketsOf(key: Expression, rows: Iterable[InternalRow]): Seq[Int] = {
    val b = Pmod(Murmur3Hash(Seq(key), 42), Literal(nBuckets))
    rows.iterator.map(b.eval(_).asInstanceOf[Int]).toSeq.distinct.sorted
  }

  /** Point lookup — the PK-index analog: the key's bucket id is
    * recomputed on the driver from the key itself by evaluating the
    * bucket expression (`pmod(murmur3(key, 42), nBuckets)`) over the
    * literal — no Spark job — so the read opens exactly ONE bucket's
    * files and the filter prunes inside them via footer stats. O(1
    * bucket) however large the table. The key is first cast to the
    * key column's recorded type: murmur3 hashes an Int and a Long of
    * the same value differently, so `lookup(spark, 123)` on a Long key
    * would otherwise open the wrong bucket. A key whose bucket was
    * never written (or was emptied by deleteKeys) answers with zero
    * rows, not an error. */
  def lookup(spark: SparkSession, key: Any): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val raw = Literal(key)
    val t = storedSchema.fold(raw.dataType)(_(keyCol).dataType)
    val typed = Literal(Cast(raw, t, Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(), t)
    manifest.get(bucketsOf(typed, Seq(InternalRow.empty)).head) match {
      case Some(v) =>
        readPaths(spark, Seq(dir.resolve(v).toString), storedSchema)
          .filter(col(keyCol) === lit(key).cast(t))
      case None => read(spark).limit(0)
    }
  }

  /** next commit id: one more than the largest already on disk.
    * Derived from the SNAPSHOT ids as well as the manifest's dir
    * names: the manifest alone can understate history — a deleteKeys
    * that empties buckets DROPS them, so a table whose newest commits
    * only deleted would hand out an id already spent and overwrite
    * that snapshot (silent time-travel corruption). Snapshot files
    * outlive their manifest pointers until vacuum, and vacuum always
    * keeps the most recent one, so their max is the true high-water
    * mark. */
  private def nextCommit(m: Map[Int, String]): Long = {
    val fromDirs =
      m.values.collect { case PartitionedTable.CommitDir(n) => n.toLong }.maxOption
    (fromDirs.toSeq ++ snapshots.maxOption).maxOption.map(_ + 1).getOrElse(0L)
  }

  /** Per-attempt commit dir: the id makes it sortable/debuggable, the
    * nonce makes it UNIQUE — two optimistic writers racing for commit
    * N must not overwrite each other's files BEFORE the snapshot
    * CREATE_NEW arbitrates, so each attempt writes its own dir and
    * only the winner's becomes referenced. */
  private def attemptDir(commit: Long): String =
    s"commits/c$commit-${java.util.UUID.randomUUID.toString.take(8)}"

  /** First write into a table with no committed buckets: one pass,
    * no batch cache, no bucket probe — rows stream source→write, and
    * the touched-bucket set is read back from the `__b=` dirs the
    * write produced. Memory is O(task), never O(batch): the path a
    * 100 TB initial load takes. Empty input commits nothing and
    * records no txn (same contract as the probe path). */
  private def freshWrite(spark: SparkSession, rows: DataFrame,
      txn: Option[(String, Long)],
      alsoRecord: Map[String, Long] = Map.empty): Seq[Int] = {
    val m = manifest // empty; nextCommit still counts snapshots
    val commit = nextCommit(m)
    val commitRel = attemptDir(commit)
    rows.withColumn("__b", bucketExpr)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("__b")
      .parquet(dir.resolve(commitRel).toString)
    val written = PartitionedTable.listDir(dir.resolve(commitRel))
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("__b=") => s.stripPrefix("__b=").toInt }
      .sorted
    if (written.isEmpty) {
      PartitionedTable.deleteRecursively(dir.resolve(commitRel))
      return Nil
    }
    writeManifest(written.map(b => b -> s"$commitRel/__b=$b").toMap, commit,
      txns ++ txn ++ alsoRecord, Some(commitRel), schemaToRecord(spark, rows.schema))
    written
  }

  /** Merge `updates` (last-wins-compacted by caller) into the table,
    * rewriting only the buckets that hold update keys — in one
    * key-aligned write, one file per touched bucket. Returns the
    * touched bucket ids (empty input → no-op, no jobs beyond a
    * distributed batch's bucket probe).
    *
    * `txn = Some(appId -> version)` makes the write IDEMPOTENT per
    * writer: a version ≤ the recorded one for `appId` is a replay
    * (checkpoint recovery re-delivering a micro-batch) and no-ops;
    * otherwise the version commits atomically WITH the data.
    *
    * `alsoRecord` commits EXTRA txn records atomically with the same
    * manifest swap — the LSM fold path's replay guard (r15 VERDICT):
    * a fold that lands several sub-batches records one
    * `<app>.seg<k>` marker per folded sub-batch, so "this sub-batch's
    * rows are in the base" and "the rows are in the base" can never
    * be observed apart, and a replayed already-folded sub-batch is
    * refused STRUCTURALLY (LsmFold.foldToBase filters on the
    * markers) instead of by loop discipline. */
  def mergeInto(spark: SparkSession, updates: DataFrame,
                txn: Option[(String, Long)] = None,
                alsoRecord: Map[String, Long] = Map.empty): Seq[Int] = {
    if (txn.exists { case (a, v) => lastTxn(a).exists(_ >= v) }) return Nil
    // FRESH-TABLE fast path (the bulk-load shape): with no committed
    // buckets there is nothing to merge against and nothing to probe —
    // the batch cache + touched-bucket distinct exist to price a
    // partial rewrite, and both are O(batch). A 10 GB dump pushed
    // through the probe path caches the entire parse (the r12 soak's
    // measured OOM at 40 M rows / 8 GiB heap); the fast path writes
    // single-pass and derives the manifest from the written __b= dirs
    // (the deleteKeys listing pattern).
    if (manifest.isEmpty) return freshWrite(spark, updates, txn, alsoRecord)
    // A LOCAL batch (a replication batch built on the driver) names its
    // touched buckets by evaluating the bucket expression over its keys
    // on the driver, and drops the rows it replaces by those keys: no
    // cache, no probe job, no broadcast. A distributed batch is cached
    // and probed.
    val localKeys = updates.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(keysOf(spark, l))
      case _ => None
    }
    val cached =
      if (localKeys.isDefined) None else Some(updates.withColumn("__b", bucketExpr).cache())
    val touched = localKeys match {
      case Some((t, keys)) => bucketsOf(BoundReference(0, t, nullable = true), keys.map(InternalRow(_)))
      case None => cached.get.select("__b").distinct().collect().map(_.getInt(0)).sorted.toSeq
    }
    if (touched.isEmpty) { cached.foreach(_.unpersist()); return Nil }
    val m = manifest
    val existingPaths = touched.flatMap(b => m.get(b).map(v => dir.resolve(v).toString))
    // one merge plan over all touched buckets: existing bucket ids are
    // recomputed from the key (hash-stable), so no per-bucket reads
    val existing =
      if (existingPaths.isEmpty) None
      else Some(readPaths(spark, existingPaths, storedSchema))
    val updFlat = cached.fold(updates)(_.drop("__b"))
    val merged = existing match {
      case Some(ex) =>
        // additive schema evolution: a batch may carry NEW columns
        // (old rows read as NULL) or OMIT recent ones (its rows get
        // NULL) — both sides widen to the union schema before the
        // merge; a same-name type conflict is refused loudly
        val target = org.apache.spark.sql.types.StructType(
          ex.schema.fields ++
            updFlat.schema.fields.filterNot(f => ex.schema.fieldNames.contains(f.name)))
        updFlat.schema.fields.foreach { f =>
          ex.schema.fields.find(_.name == f.name).foreach { g =>
            // nullability variance is NOT a type change: parquet reads
            // arrays/structs back with containsNull=true however the
            // writing expression was typed, so compare the catalog
            // form, which is nullability-insensitive
            require(g.dataType.catalogString == f.dataType.catalogString,
              s"schema evolution on $keyCol-table ${dir.getFileName}: column ${f.name} " +
                s"is ${g.dataType.simpleString} on disk but ${f.dataType.simpleString} " +
                "in the batch — additive columns only, type changes need a rewrite")
          }
        }
        def widen(df: DataFrame): DataFrame =
          target.fields.foldLeft(df)((d, f) =>
            if (d.columns.contains(f.name)) d
            else d.withColumn(f.name, lit(null).cast(f.dataType)))
            .select(target.fieldNames.map(col).toSeq: _*)
        localKeys match {
          // `Upsert.merge`'s null-safe anti join by the driver-held
          // keys: NULL is one key, so a NULL key in the batch replaces
          // the row with a NULL key
          case Some((t, keys)) =>
            val replaced = keys.filter(_ != null).map(CatalystTypeConverters.convertToScala(_, t))
            val kept = !col(keyCol).isInCollection(replaced)
            widen(ex).filter(
              if (keys.contains(null)) col(keyCol).isNotNull && kept
              else col(keyCol).isNull || kept)
              .unionByName(widen(updFlat))
          case None => Upsert.merge(widen(ex), widen(updFlat), Seq(keyCol))
        }
      case None => updFlat
    }
    val commit = nextCommit(m)
    val commitRel = attemptDir(commit)
    writeAligned(merged, commitRel)
    cached.foreach(_.unpersist())
    // partitionBy writes one __b=<n> dir per touched bucket under the
    // commit dir; repoint only those buckets, one atomic manifest swap
    writeManifest(m ++ touched.map(b => b -> s"$commitRel/__b=$b"), commit,
      txns ++ txn ++ alsoRecord, Some(commitRel), schemaToRecord(spark, merged.schema))
    touched
  }

  /** The key column of a batch whose plan optimizes to a
    * `LocalRelation`: its type and its values, internal form. */
  private def keysOf(spark: SparkSession, l: LocalRelation): (DataType, Seq[Any]) = {
    val i = l.output.indexWhere(a => spark.sessionState.conf.resolver(a.name, keyCol))
    require(i >= 0, s"batch has no key column $keyCol: ${l.output.mkString(", ")}")
    val t = l.output(i).dataType
    (t, l.data.map(r => if (r.isNullAt(i)) null else r.get(i, t)))
  }

  /** Append `rows` WITHOUT key dedup — the insert-only fact-stream
    * path (events, logs): unlike the upsert merge, a replayed batch
    * here DUPLICATES rows, which is exactly what the `txn` id guards
    * against (see mergeInto). Touched buckets are unioned with the new
    * rows (additive columns null-fill both ways) and rewritten in one
    * job; same commit protocol. */
  def appendInto(spark: SparkSession, rows: DataFrame,
                 txn: Option[(String, Long)] = None,
                 alsoRecord: Map[String, Long] = Map.empty): Seq[Int] = {
    if (txn.exists { case (a, v) => lastTxn(a).exists(_ >= v) }) return Nil
    // same fresh-table single-pass fast path as mergeInto: with no
    // committed buckets, append == first write
    if (manifest.isEmpty) return freshWrite(spark, rows, txn, alsoRecord)
    val withBucket = rows.withColumn("__b", bucketExpr).cache()
    val touched = withBucket.select("__b").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    if (touched.isEmpty) { withBucket.unpersist(); return Nil }
    val m = manifest
    val existingPaths = touched.flatMap(b => m.get(b).map(v => dir.resolve(v).toString))
    val appended = withBucket.drop("__b")
    val merged =
      if (existingPaths.isEmpty) appended
      else readPaths(spark, existingPaths, storedSchema)
        .unionByName(appended, allowMissingColumns = true)
    val commit = nextCommit(m)
    val commitRel = attemptDir(commit)
    merged.withColumn("__b", bucketExpr)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("__b")
      .parquet(dir.resolve(commitRel).toString)
    withBucket.unpersist()
    writeManifest(m ++ touched.map(b => b -> s"$commitRel/__b=$b"), commit,
      txns ++ txn ++ alsoRecord, Some(commitRel), schemaToRecord(spark, merged.schema))
    touched
  }

  /** OPTIMIZE: coalesce fragmented buckets into one file each.
    * `freshWrite`, `appendInto` and `deleteKeys` write a touched
    * bucket from whatever tasks hold its rows, so a bucket written
    * under `spark.sql.shuffle.partitions` = P can land as up to P
    * small part-files (`mergeInto` writes key-aligned and leaves one).
    * At 100 TB that is the small-files problem that kills scan
    * throughput (per-file open/footer cost) and pushes the file
    * listing itself into the driver's time budget. Compaction is the standard lakehouse
    * answer (Delta/Iceberg OPTIMIZE): rewrite each bucket whose dir
    * holds more than `maxFilesPerBucket` files into a single file —
    * the key-aligned write (`writeAligned`) puts each bucket's rows in
    * exactly one task, so `partitionBy` emits exactly one file per
    * bucket dir — then repoint ONLY those buckets in one atomic
    * manifest swap. Readers are never blocked (they resolve through
    * MANIFEST), superseded dirs are dead and `vacuum` sweeps them;
    * content is untouched — compaction is physical, not semantic.
    * Runs under the same single-writer lease as the merge loop.
    * Returns the compacted bucket ids. */
  def compact(spark: SparkSession, maxFilesPerBucket: Int = 1,
              alsoRecord: Map[String, Long] = Map.empty): Seq[Int] = {
    val m = manifest
    val frag = m.toSeq.sortBy(_._1).filter { case (_, rel) =>
      PartitionedTable.listDir(dir.resolve(rel))
        .count(_.getFileName.toString.endsWith(".parquet")) > maxFilesPerBucket
    }.map(_._1)
    if (frag.isEmpty) return Nil
    val commit = nextCommit(m)
    val commitRel = attemptDir(commit)
    val full = readBuckets(spark, frag)
    writeAligned(full, commitRel)
    writeManifest(m ++ frag.map(b => b -> s"$commitRel/__b=$b"), commit,
      txns ++ alsoRecord, Some(commitRel), schemaToRecord(spark, full.schema))
    frag
  }

  /** Targeted deletion — the right-to-be-forgotten path on immutable
    * storage (no row can be updated in place; the bucket holding it
    * is rewritten WITHOUT it). Same pricing as the merge: buckets
    * holding delete keys are found from the keys themselves (hash-
    * stable), rewritten minus the keys in one Spark job, repointed in
    * one atomic manifest swap + snapshot — O(touched buckets), never
    * O(table); `changesBetween` across the swap emits the removed
    * rows as `delete` ops. Deleted bytes leave DISK when the last
    * retaining snapshot leaves the vacuum horizon — retention policy
    * and deletion-latency contract are the same dial at 100 TB.
    * Returns the touched bucket ids. */
  def deleteKeys(spark: SparkSession, keys: DataFrame): Seq[Int] = {
    val withBucket = keys.select(col(keyCol)).distinct()
      .withColumn("__b", bucketExpr).cache()
    val touched = withBucket.select("__b").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val m = manifest
    val existing = touched.flatMap(b => m.get(b).map(v => dir.resolve(v).toString))
    if (touched.isEmpty || existing.isEmpty) { withBucket.unpersist(); return Nil }
    val kept = readPaths(spark, existing, storedSchema)
      .join(withBucket.drop("__b"), Seq(keyCol), "left_anti")
    val commit = nextCommit(m)
    val commitRel = attemptDir(commit)
    kept.withColumn("__b", bucketExpr)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("__b")
      .parquet(dir.resolve(commitRel).toString)
    withBucket.unpersist()
    // a bucket emptied entirely still gets repointed: partitionBy
    // writes no dir for it, so point it at nothing by dropping it
    // from the manifest rather than at a missing path
    val writtenBuckets = PartitionedTable.listDir(dir.resolve(commitRel))
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("__b=") => s.stripPrefix("__b=").toInt }
      .toSet
    val updated = m ++ touched.filter(writtenBuckets).map(b => b -> s"$commitRel/__b=$b") --
      touched.filterNot(writtenBuckets)
    writeManifest(updated, commit, txns, Some(commitRel), schemaToRecord(spark, kept.schema))
    touched
  }

  /** Change feed between two snapshots — the Delta CDF analog,
    * priced by the MANIFEST DIFF, not the table: a bucket whose dir
    * pointer is identical in both snapshots provably holds identical
    * rows (dirs are immutable), so only pointer-changed buckets are
    * read on either side. Within those, rows are compared by value
    * (a merge copies a touched bucket's unchanged co-bucketed rows
    * into the new dir — file identity is not row identity), so a
    * pure compaction between the snapshots yields an EMPTY feed.
    * Returns (op ∈ insert|update|delete, <key>, before, after) with
    * before/after structs of the non-key columns. */
  def changesBetween(spark: SparkSession, s0: Long, s1: Long): DataFrame = {
    def manifestAt(s: Long): (Map[Int, String], Option[org.apache.spark.sql.types.StructType]) = {
      val f = dir.resolve(s"MANIFEST.s$s")
      require(Files.exists(f),
        s"snapshot s$s not found under $dir (vacuumed? available: ${snapshots.mkString(",")})")
      val lines = Files.readAllLines(f).asScala.toSeq
      (parseBuckets(lines), parseSchema(lines))
    }
    val (m0, sc0) = manifestAt(s0)
    val (m1, sc1) = manifestAt(s1)
    val changed = (m0.keySet ++ m1.keySet).toSeq.sorted
      .filter(b => m0.get(b) != m1.get(b))
    val schema = readAt(spark, s1).schema
    val dataCols = schema.fieldNames.filterNot(_ == keyCol)
    def side(m: Map[Int, String], sc: Option[org.apache.spark.sql.types.StructType],
        name: String): DataFrame = {
      val paths = changed.flatMap(m.get).map(v => dir.resolve(v).toString)
      val df0 =
        if (paths.isEmpty)
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        else readPaths(spark, paths, sc)
      // a side written before an additive evolution lacks the new
      // columns entirely — null-fill to s1's schema so the structs
      // compare field-by-field (a NULL-vs-value difference IS a change)
      val df = dataCols.foldLeft(df0)((d, c0) =>
        if (d.columns.contains(c0)) d
        else d.withColumn(c0, lit(null).cast(schema(c0).dataType)))
      df.select(col(keyCol), struct(dataCols.map(col).toSeq: _*).as(name))
    }
    side(m0, sc0, "before").join(side(m1, sc1, "after"), Seq(keyCol), "full_outer")
      .withColumn("op",
        when(col("before").isNull, lit("insert"))
          .when(col("after").isNull, lit("delete"))
          .when(col("before") =!= col("after"), lit("update")))
      .filter(col("op").isNotNull) // co-bucketed untouched rows are not changes
      .select(col("op"), col(keyCol), col("before"), col("after"))
  }

  /** GC: delete bucket-version dirs referenced by neither MANIFEST
    * nor the `retainSnapshots` most recent snapshots, then commit
    * dirs left empty, then the swept snapshots' manifest files. A
    * minutely feed writes one commit per merge; without this,
    * superseded bucket versions accumulate forever (1,440/day). The
    * retention horizon is the time-travel contract: snapshots inside
    * it stay `readAt`-able, older ones die with their files (a pinned
    * reader past the horizon gets a loud error, never silent newer
    * data). Safe at any point AFTER a manifest swap: readers resolve
    * paths through MANIFEST/snapshots only, so every unreferenced dir
    * is dead, and a crash mid-sweep just leaves garbage for the next
    * sweep (referenced paths are never touched). Returns the number
    * of bucket-version dirs deleted. */
  def vacuum(retainSnapshots: Int = 1): Int = {
    val snaps = snapshots
    val kept = snaps.takeRight(math.max(retainSnapshots, 1)).toSet
    val live = manifest.values.toSet ++
      kept.flatMap(s => parseManifest(dir.resolve(s"MANIFEST.s$s")).values)
    snaps.filterNot(kept).foreach(s =>
      Files.deleteIfExists(dir.resolve(s"MANIFEST.s$s")))
    val commitsDir = dir.resolve("commits")
    if (!Files.exists(commitsDir)) return 0
    var deleted = 0
    PartitionedTable.listDir(commitsDir).foreach { c =>
      PartitionedTable.listDir(c).filter(Files.isDirectory(_)).foreach { b =>
        val rel = s"commits/${c.getFileName}/${b.getFileName}"
        if (!live.contains(rel)) {
          PartitionedTable.deleteRecursively(b)
          deleted += 1
        }
      }
      // a commit whose buckets were all superseded leaves only spark
      // _SUCCESS markers behind — drop the empty shell
      if (!PartitionedTable.listDir(c).exists(Files.isDirectory(_)))
        PartitionedTable.deleteRecursively(c)
    }
    deleted
  }
}

object PartitionedTable {
  /** Manifest format id — bump when bucket-path semantics change.
    * (v1 still parses: the nonce suffix and !txn lines are additive.) */
  val FormatMarker = "graft.partitioned.v1"

  /** Manifest line prefix for writer-transaction records; `!` keeps
    * them out of the bucket parser (and out of v1 readers, which never
    * wrote them). */
  val TxnPrefix = "!txn "

  /** Manifest line prefix for the recorded table schema (additive,
    * same `!` escape as txn lines). */
  val SchemaPrefix = "!schema "

  /** Manifest line prefix for the highest accepted fencing
    * generation (additive; absent until a fenced writer commits). */
  val FencePrefix = "!fence "

  /** Manifest line prefix for the table's bucket count (additive;
    * validated on every manifest read — see the guard in
    * `manifest`). */
  val NBucketsPrefix = "!nbuckets "

  /** Deep-nullable normalization for the RECORDED schema: files
    * written before an additive evolution read the new columns as
    * NULL, and parquet reads nested arrays/structs back with
    * containsNull=true regardless of the writing expression's type —
    * recording the relaxed form keeps the explicit-schema read
    * faithful to what mergeSchema inference would have produced. */
  private[streaming] def nullableOf(
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullableOf(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = nullableOf(a.elementType), containsNull = true)
      case m: MapType => m.copy(keyType = nullableOf(m.keyType),
        valueType = nullableOf(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  private[streaming] def nullableOf(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    nullableOf(s: org.apache.spark.sql.types.DataType)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  private val CommitDir = "commits/c(\\d+)(?:-[0-9a-f]+)?/.*".r

  /** Run an optimistic mutation (mergeInto/appendInto/deleteKeys/
    * compact) with bounded retries on commit conflicts. Each retry
    * re-enters the mutator, which re-reads the manifest — so the
    * rebase is automatic; with every round exactly one contender
    * wins, so `attempts` bounds the CONTENDER count, not luck. */
  def retryingCommit[T](attempts: Int = 8)(body: => T): T = {
    var left = attempts
    while (true) {
      try return body
      catch {
        // fencing refusal is TERMINAL, not a rebase signal: the lease
        // is gone (or the token is permanently stale), so retrying
        // recomputes and rewrites the attempt dir `attempts` times for
        // a commit that can never land — surface it immediately
        case e: FencedCommitException => throw e
        case e: java.util.ConcurrentModificationException =>
          left -= 1
          if (left <= 0) throw e
      }
    }
    sys.error("unreachable")
  }

  /** A commit refused by the FENCE (lease lost or fencing token
    * stale). Subclasses ConcurrentModificationException so legacy
    * catch sites still see a concurrency refusal, but is rethrown
    * immediately by `retryingCommit` — a lost lease is not a
    * rebase-and-retry situation. */
  final class FencedCommitException(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  private[streaming] val SnapFile = "MANIFEST\\.s(\\d+)".r

  private[graft] def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    val s = Files.walk(p)
    try {
      val it = s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator()
      while (it.hasNext) Files.delete(it.next())
    } finally s.close()
  }
}

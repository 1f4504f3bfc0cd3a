package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.sources.OsmXml

/** Minutely-replication subsystem (SURVEY.md §2h; reference
  * `changesetmd.py:127-195`): bounded catch-up over sequence-numbered
  * gzip diffs with a persisted offset/watermark state document,
  * single-writer locking, and idempotent (exactly-once-by-effect)
  * upsert application.
  *
  * The reference applies diffs row-by-row against Postgres; here each
  * diff batch is built on the driver and merged into an immutable
  * versioned parquet table — and, unlike the reference, many diffs can
  * be compacted last-wins into ONE merge per catch-up run.
  */
object Replication {

  // ---- offset → path addressing (changesetmd.py:127-135) -------------

  /** sequence n → `nnn/nnn/nnn.osm.gz` (fixed 3-digit groups). */
  def sequencePath(seq: Long): String =
    f"${seq / 1000000}%03d/${(seq / 1000) % 1000}%03d/${seq % 1000}%03d.osm.gz"

  // ---- state document (osm_changeset_state, queries.py:28-35) --------

  /** Persisted stream progress: offset + producer watermark + writer
    * mutex, initialized to (-1, null, 0) like queries.py:35. */
  case class ReplState(lastSequence: Long, lastTimestamp: Option[String],
      updateInProgress: Boolean)

  object StateDoc {
    def init(path: Path): Unit =
      if (!Files.exists(path)) write(path, ReplState(-1L, None, updateInProgress = false))

    def read(path: Path): ReplState = {
      val m = Files.readAllLines(path).asScala.mkString("\n")
        .split("\n").map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      ReplState(m("last_sequence").toLong,
        Option(m.getOrElse("last_timestamp", "")).filter(_.nonEmpty),
        m.getOrElse("update_in_progress", "0") == "1")
    }

    def write(path: Path, st: ReplState): Unit = {
      Files.createDirectories(path.getParent)
      val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
      Files.writeString(tmp,
        s"last_sequence=${st.lastSequence}\n" +
        s"last_timestamp=${st.lastTimestamp.getOrElse("")}\n" +
        s"update_in_progress=${if (st.updateInProgress) "1" else "0"}\n")
      Files.move(tmp, path, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Head-of-stream discovery: the upstream `state.yaml`
    * (changesetmd.py:167-171) — driver-side metadata, one tiny read. */
  def readServerState(baseDir: Path): (Long, String) =
    parseServerState(Files.readAllLines(baseDir.resolve("state.yaml")).asScala.toSeq)

  private def parseServerState(lines: Seq[String]): (Long, String) = {
    val kv = lines.map(_.split(":", 2)).collect { case Array(k, v) => k.trim -> v.trim }.toMap
    (kv("sequence").toLong, kv.getOrElse("last_run", ""))
  }

  // ---- feed transport (changesetmd.py:127-135, 167-171) ---------------

  /** Where `state.yaml` and sequence-numbered diffs come from. The
    * reference fetches both over HTTP from the planet replication
    * feed; hermetic tests use a local directory. Staging is
    * driver-side — minutely diffs are KB-sized — and `catchUp` parses
    * the staged copies on the driver too (`OsmXml.parsePath`). */
  sealed trait ReplicationSource {
    /** (sequence, last_run) of the feed head. */
    def serverState(): (Long, String)
    /** Make `seqs` available locally; returns paths for OsmXml.parsePath. */
    def stage(seqs: Seq[Long]): Seq[String]
  }

  final case class LocalDirSource(base: Path) extends ReplicationSource {
    def serverState(): (Long, String) = readServerState(base)
    def stage(seqs: Seq[Long]): Seq[String] =
      seqs.map(s => base.resolve(sequencePath(s)).toString)
  }

  /** HTTP(S) transport — `urllib2.urlopen(baseUrl + seq_path)` parity
    * (changesetmd.py:127-135): GET `<baseUrl>/state.yaml` and
    * `<baseUrl>/nnn/nnn/nnn.osm.gz`, staging diffs under `staging`
    * with an atomic rename (re-runs reuse already-staged files — the
    * feed's diffs are immutable once published).
    *
    * Staging fetches up to `concurrency` diffs in flight (r4 VERDICT:
    * a deep catch-up — the reference's "first run may take a few
    * minutes", README.md:69 — is otherwise dominated by serial KB-GET
    * round-trips). Concurrency is a transport detail only: each diff
    * still lands via its own atomic tmp→rename, the returned paths
    * are in ascending sequence order regardless of completion order,
    * and the catch-up loop still APPLIES batches strictly in order. */
  final case class HttpSource(baseUrl: String, staging: Path, concurrency: Int = 6)
      extends ReplicationSource {
    private val client = java.net.http.HttpClient.newBuilder()
      .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
      .connectTimeout(java.time.Duration.ofSeconds(30))
      .build()

    private def get(rel: String): Array[Byte] = {
      val req = java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(s"${baseUrl.stripSuffix("/")}/$rel"))
        // per-request timeout: a stalled transfer must fail (releasing
        // the writer LOCK via withWriterLock's finally), not hang catchUp
        .timeout(java.time.Duration.ofMinutes(2))
        .GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      require(resp.statusCode() == 200, s"GET $baseUrl/$rel -> HTTP ${resp.statusCode()}")
      resp.body()
    }

    def serverState(): (Long, String) =
      parseServerState(new String(get("state.yaml"), "UTF-8").split("\n").toSeq)

    private def stageOne(s: Long): String = {
      val rel = sequencePath(s)
      val dest = staging.resolve(rel)
      if (!Files.exists(dest)) {
        Files.createDirectories(dest.getParent)
        val tmp = dest.resolveSibling(dest.getFileName.toString + ".tmp")
        Files.write(tmp, get(rel))
        Files.move(tmp, dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      dest.toString
    }

    def stage(seqs: Seq[Long]): Seq[String] = {
      if (seqs.size <= 1) return seqs.map(stageOne(_))
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(concurrency, seqs.size))
      try {
        // submit all, then collect in SEQUENCE order; the first
        // failure propagates with its real cause (a missing diff must
        // abort the run exactly like the serial form did)
        val fs = seqs.map(s => pool.submit(
          new java.util.concurrent.Callable[String] { def call(): String = stageOne(s) }))
        fs.map { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally pool.shutdownNow()
    }
  }

  // ---- single-writer lock (changesetmd.py:138-160) -------------------

  /** Holder heartbeat period and the staleness horizon after which a
    * silent lock is presumed dead. A live holder refreshes well inside
    * the horizon (15 beats); a holder that crashed — or whose pid was
    * recycled by an unrelated process, which then never heartbeats —
    * goes stale and the next acquirer steals the lock. Tunable per
    * deployment via system properties (read once per JVM — every
    * contender on a share must agree on the horizon). */
  private def longProp(key: String, default: Long): Long =
    sys.props.get(key).map { v =>
      scala.util.Try(v.trim.toLong).getOrElse {
        // a malformed tunable must not turn into an opaque
        // ExceptionInInitializerError at first use (r13 ADVICE)
        System.err.println(s"[graft] malformed $key='$v' — using $default")
        default
      }
    }.getOrElse(default)

  val HeartbeatMillis: Long = longProp("graft.lease.heartbeat.ms", 2000L)
  val StaleAfterMillis: Long = longProp("graft.lease.stale.ms", 30000L)

  /** `LOCK ... NOWAIT` analog with LEASE TAKEOVER, two layers deep.
    *
    * Layer 1 — OS file lock (`FileChannel.tryLock`), the direct analog
    * of the reference's Postgres `LOCK ... NOWAIT`
    * (`changesetmd.py:138-160`): kernel-enforced mutual exclusion for
    * every contender that can see the lock (all threads of this JVM —
    * the JVM tracks overlaps process-wide — and all processes on this
    * host), non-blocking, and released automatically when the holder
    * dies, which closes the reference's documented crash caveat ("or
    * an error will forever leave it locked", `changesetmd.py:163-164`)
    * without any staleness heuristics.
    *
    * Layer 2 — lease payload `<pid> <heartbeat-millis> <nonce>` in the
    * lock file, for contenders the OS lock cannot see (another host on
    * a shared filesystem that does not propagate advisory locks): a
    * fresh heartbeat refuses the acquirer; a dead pid or a heartbeat
    * past `StaleAfterMillis` is taken over. An unparseable payload is
    * HELD while its mtime is fresh (a cross-host holder mid-write must
    * not be stolen) and stale only past the same horizon, which still
    * clears a file orphaned by a crash mid-create.
    *
    * Acquisition is settle-then-verify, so takeover has no
    * check-then-act hole: win the OS lock, judge the PRE-EXISTING
    * payload, write our own through the locked channel, then re-read
    * the path and require our nonce back. The verify catches both the
    * orphaned-inode case (we locked a file that was unlinked under us
    * by a releasing holder — rare, bounded retries) and a cross-host
    * simultaneous steal (last writer wins the path; the loser reads
    * the winner's nonce and backs off). Release joins the heartbeat
    * thread, then deletes only a path that still answers with our
    * nonce, so a successor's lock is never deleted. The residual
    * lease-fundamental caveat — a holder frozen past the horizon can
    * overlap a CROSS-HOST stealer by up to one heartbeat; same-host
    * overlap is impossible (the OS lock outlives any freeze) — is
    * closed at the COMMIT: the lease nonce doubles as a fencing token
    * (`WriterLease.check` → `PartitionedTable.withFence`), so the
    * overlapped holder is refused at its next publish. */
  def withWriterLock[T](dir: Path)(body: => T): T =
    withWriterLease(dir)(_ => body)

  /** A held writer lock as a FENCING TOKEN: the lease-fundamental
    * residual (a holder frozen past the horizon can overlap a
    * CROSS-HOST stealer by up to one heartbeat) is closed at the
    * COMMIT, not the lock — a mutator carries `check()` into
    * `PartitionedTable.withFence`, which runs it immediately before
    * the snapshot CREATE_NEW: if the lock file no longer answers with
    * our nonce (a stealer overwrote it), the commit is REFUSED and the
    * attempt's data dir dropped — the frozen holder can burn CPU, but
    * can no longer publish state. */
  final class WriterLease private[Replication] (lockPath: Path, nonce: String,
      val generation: Long, lost: java.util.concurrent.atomic.AtomicBoolean) {
    def stillHeld: Boolean =
      !lost.get() && {
        try new String(Files.readAllBytes(lockPath), "UTF-8").trim
          .split("\\s+").lift(2).contains(nonce)
        catch { case _: Exception => false }
      }
    /** Throws if the lease was stolen — wire into
      * `PartitionedTable.withFence` so every commit is fenced. */
    def check(): Unit =
      if (!stillHeld)
        throw new PartitionedTable.FencedCommitException(
          s"writer lease at $lockPath lost to another holder (fencing " +
            "token mismatch): refusing to commit")
  }

  /** `withWriterLock` with the lease exposed to the body as a fencing
    * token (see WriterLease). */
  def withWriterLease[T](dir: Path)(body: WriterLease => T): T = {
    import java.nio.channels.{FileChannel, OverlappingFileLockException}
    import java.nio.file.StandardOpenOption.{CREATE, READ, WRITE}
    val lock = dir.resolve("LOCK")
    Files.createDirectories(dir)
    val nonce = java.util.UUID.randomUUID.toString
    // Monotonic FENCING GENERATION: every acquisition (first or
    // takeover) writes predecessor-generation + 1, so a stealer's
    // token is strictly greater than the frozen holder's — the number
    // a fenced resource (PartitionedTable manifest) can compare even
    // if the lock FILE later ping-pongs between the two holders.
    var generation = 1L
    def payload = (s"${ProcessHandle.current.pid} ${System.currentTimeMillis} " +
      s"$nonce $generation").getBytes("UTF-8")
    def held(): Nothing =
      throw new IllegalStateException(s"replication already in progress ($lock held)")
    def pathNonce(): Boolean =
      try new String(Files.readAllBytes(lock), "UTF-8").trim
        .split("\\s+").lift(2).contains(nonce)
      catch { case _: Exception => false }
    // Cross-host lease verdict on the payload found under a won OS lock.
    def leaseStale(bytes: Array[Byte], mtime: Long): Boolean = {
      val now = System.currentTimeMillis
      val parts = new String(bytes, "UTF-8").trim.split("\\s+")
      // clean-handoff tombstone: immediately acquirable, and its
      // recorded generation seeds the successor's (see release below)
      if (parts.lift(2).contains("released")) return true
      try {
        val alive = ProcessHandle.of(parts(0).toLong)
          .map[java.lang.Boolean](_.isAlive).orElse(false)
        !alive || now - parts(1).toLong > StaleAfterMillis
      } catch { case _: Exception => now - mtime > StaleAfterMillis }
    }
    // write, THEN trim — LOCK is never empty: a `WriterLease.check`
    // reading an empty file finds no nonce and refuses the holder's own
    // commit as stolen. A beat rewrites the same nonce at the same
    // offset, so every concurrent read sees it.
    def refresh(ch: FileChannel): Unit = {
      val bytes = payload
      ch.write(java.nio.ByteBuffer.wrap(bytes), 0L)
      ch.truncate(bytes.length.toLong)
      ch.force(true)
    }
    def acquire(): FileChannel = {
      var attempt = 0
      while (attempt < 5) {
        attempt += 1
        val preExisting = Files.exists(lock)
        val ch = try FileChannel.open(lock, CREATE, WRITE, READ)
          catch { case _: Exception => held() }
        var keep = false
        try {
          val fl = try ch.tryLock()
            catch { case _: OverlappingFileLockException => null }
          if (fl == null) held() // NOWAIT: a live same-host holder
          if (preExisting) {
            val mtime = try Files.getLastModifiedTime(lock).toMillis
              catch { case _: Exception => 0L }
            val bytes = try Files.readAllBytes(lock)
              catch { case _: Exception => null }
            if (bytes != null && !leaseStale(bytes, mtime)) held()
            // bytes == null: the path vanished under us (orphaned
            // inode) — the verify below fails and we retry fresh.
            // takeover: our fencing token strictly exceeds the
            // predecessor's (unparseable payload → treat as 0)
            if (bytes != null) generation = 1L + (
              try new String(bytes, "UTF-8").trim.split("\\s+")
                .lift(3).map(_.toLong).getOrElse(0L)
              catch { case _: Exception => 0L })
          }
          refresh(ch)
          if (pathNonce()) { keep = true; return ch }
        } finally if (!keep) ch.close()
        Thread.sleep(10L * attempt)
      }
      held()
    }
    val ch = acquire()
    // HONEST heartbeat: verify-then-refresh with a ONE-WAY loss latch.
    // A frozen holder whose lease was stolen must not, on waking,
    // blindly rewrite its own payload over the stealer's — that would
    // make fencing-by-path ping-pong between the two holders. The
    // first beat that reads a foreign nonce latches `lost` and stops
    // writing forever; the read-modify race this leaves (beat reads
    // our nonce just before the steal, writes just after the
    // stealer's verify) is closed by the monotonic GENERATION check
    // at the commit point.
    //
    // Release stops the heartbeat through a latch, never an interrupt:
    // FileChannel is interruptible, and an interrupt landing in
    // `refresh` between truncate and write would close the channel with
    // LOCK empty — no nonce, so no tombstone, and the next acquirer
    // refused for a whole staleness horizon. The join lets an in-flight
    // refresh finish before the tombstone is written.
    val lost = new java.util.concurrent.atomic.AtomicBoolean(false)
    val released = new java.util.concurrent.CountDownLatch(1)
    val hb = new Thread(() => {
      try while (!lost.get() &&
          !released.await(HeartbeatMillis, java.util.concurrent.TimeUnit.MILLISECONDS)) {
        if (pathNonce()) refresh(ch) else lost.set(true)
      }
      catch { case _: Throwable => } // io fault: the commit fence decides
    }, s"graft-lock-heartbeat-$lock")
    hb.setDaemon(true); hb.start()
    try body(new WriterLease(lock, nonce, generation, lost)) finally {
      released.countDown(); hb.join()
      if (pathNonce()) {
        // Leave a RELEASED tombstone carrying the fencing generation,
        // never delete: deleting reset the epoch to 1 on the next
        // clean acquisition while any table that had accepted a
        // takeover's higher token remembered it — every later lease's
        // commit was then refused FOREVER (the mirror image of the
        // reference's "forever locked" caveat, changesetmd.py:163-164;
        // found by the r14 chaos duel, ChaosDuelSpec). The tombstone
        // (pid 0, marker "released") is immediately acquirable and
        // seeds the successor's generation at predecessor + 1, keeping
        // the epoch monotone across clean handoffs too.
        writeTombstone(lock, ch, generation)
      }
      try ch.close() catch { case _: Exception => () }
    }
  }

  /** Write the RELEASED tombstone through the heartbeat channel, with
    * a PATH-based fallback: an interrupt of the releasing thread
    * closes the SHARED channel (FileChannel is an
    * InterruptibleChannel), so the channel write can throw
    * ClosedChannelException on a perfectly clean release. Pre-r15 the
    * fallback DELETED the lock file — reintroducing the epoch-reset
    * bug the tombstone exists to fix, one generation per interrupted
    * release (r14 ADVICE; spec: LockSpec closed-channel fallback). */
  private[graft] def writeTombstone(lock: Path,
      ch: java.nio.channels.FileChannel, generation: Long): Unit = {
    val bytes =
      s"0 ${System.currentTimeMillis} released $generation".getBytes("UTF-8")
    try {
      ch.truncate(0L)
      ch.write(java.nio.ByteBuffer.wrap(bytes), 0L)
      ch.force(true)
    } catch { case _: Exception =>
      // the fallback must NOT go through an InterruptibleChannel: the
      // releasing thread often still CARRIES the pending interrupt that
      // closed the shared channel in the first place, and Files.write
      // opens another interruptible channel — it would throw
      // ClosedByInterruptException immediately, leaving the stale
      // heartbeat payload and costing the successor a full staleness-
      // horizon wait on a clean release (r15 ADVICE). Clear the
      // interrupt for the write, restore it after (the owner of the
      // interrupt protocol is the caller), and write via FileOutputStream
      // whose write path is not interrupt-sensitive.
      val wasInterrupted = Thread.interrupted()
      try {
        val os = new java.io.FileOutputStream(lock.toFile, false)
        try { os.write(bytes); os.getFD.sync() } finally os.close()
      } catch { case _: Exception => () }
      finally if (wasInterrupted) Thread.currentThread().interrupt()
    }
  }

  /** A lease directory with NO live holder: the lock file is absent or
    * holds the clean-handoff tombstone. (The tombstone is not a held
    * lock — it exists to carry the fencing generation forward.) */
  def lockReleased(dir: Path): Boolean = {
    val lock = dir.resolve("LOCK")
    !Files.exists(lock) || {
      try new String(Files.readAllBytes(lock), "UTF-8").trim
        .split("\\s+").lift(2).contains("released")
      catch { case _: Exception => false }
    }
  }

  // ---- bounded catch-up loop (changesetmd.py:179-186) ----------------

  /** Replication table handles: changesets + comments as hash-bucketed
    * PartitionedTables. A diff rewrites only the buckets its ids hash
    * into, but ids hash uniformly, so any diff of more than a few dozen
    * ids hits every bucket and a tick rewrites the whole table — its
    * cost tracks the table, not the diff (ROADMAP direction 3). Each
    * rewritten bucket is written as one file. */
  def changesetTable(tableDir: Path, nBuckets: Int = 8): PartitionedTable =
    new PartitionedTable(tableDir, "id", nBuckets)

  def commentsTable(tableDir: Path, nBuckets: Int = 8): PartitionedTable =
    new PartitionedTable(
      tableDir.resolveSibling(tableDir.getFileName.toString + "_comments"),
      "comment_changeset_id", nBuckets)

  /** Read the current changesets relation maintained by catchUp. */
  def readTable(spark: SparkSession, tableDir: Path): DataFrame =
    changesetTable(tableDir).read(spark)

  /** While local < server: fetch diff, parse, last-wins compact, merge
    * both relations, commit offset. `batchSize` > 1 compacts several
    * diffs into one merge — a capability the reference lacks.
    * A batch is built on the driver: each staged diff is parsed once,
    * typed by the `OsmXml` projections over a local relation, and
    * compacted there, so the merges get local relations and
    * PartitionedTable computes their touched buckets and drops the
    * replaced rows without a probe or broadcast job. The Spark jobs
    * left are each table's merge stages and key-aligned write; the
    * comments merge runs beside the changesets merge (`inParallel`),
    * and the offset commits once both tables have. An empty comments
    * batch is a no-op.
    * Returns the number of diffs applied. */
  def catchUp(spark: SparkSession, baseDir: Path, tableDir: Path,
      statePath: Path, batchSize: Int = 8, nBuckets: Int = 8): Int = {
    StateDoc.init(statePath)
    require(StateDoc.read(statePath).lastSequence >= 0 ||
        Files.exists(baseDir.resolve("state.yaml")),
      "uninitialized state and no upstream state.yaml") // guard ≙ changesetmd.py:156-158
    catchUp(spark, LocalDirSource(baseDir), tableDir, statePath, batchSize, nBuckets)
  }

  /** Transport-generic catch-up: same loop over any ReplicationSource
    * (local dir for hermetic tests, HttpSource for the live feed). */
  def catchUp(spark: SparkSession, source: ReplicationSource, tableDir: Path,
      statePath: Path, batchSize: Int, nBuckets: Int): Int =
    catchUp(spark, source, changesetTable(tableDir, nBuckets),
      commentsTable(tableDir, nBuckets), statePath, batchSize)

  /** The catch-up loop over given table handles (tests pass handles
    * whose commits fail on purpose). */
  private[graft] def catchUp(spark: SparkSession, source: ReplicationSource,
      table: PartitionedTable, comments: PartitionedTable,
      statePath: Path, batchSize: Int): Int = {
    StateDoc.init(statePath)
    val st0 = StateDoc.read(statePath)
    val (serverSeq, serverTs) = source.serverState()
    var applied = 0
    withWriterLease(table.dir.getParent) { lease =>
      // fence every commit on the lease nonce: a frozen holder whose
      // lease was stolen is refused at the PUBLISH point, closing the
      // one-heartbeat cross-host overlap the lock alone cannot
      table.withFence(() => lease.check(), Some(lease.generation))
      comments.withFence(() => lease.check(), Some(lease.generation))
      try {
      val conf = spark.sparkContext.hadoopConfiguration
      var local = st0.lastSequence
      while (local < serverSeq) {
        val hi = math.min(local + batchSize, serverSeq)
        val seqs = (local + 1) to hi
        val diffs = source.stage(seqs).map(OsmXml.parsePath(conf, _).toVector).zip(seqs)
        inParallel(
          table.mergeInto(spark, OsmXml.changesets(OsmXml.local(spark, lastWins(spark, diffs)))),
          comments.mergeInto(spark, compactLocal(spark,
            OsmXml.localComments(spark, diffs.flatMap(_._1)))))
        applied += (hi - local).toInt
        local = hi
        // offset committed after each applied batch → crash-safe replay ≤ batchSize
        StateDoc.write(statePath, ReplState(local, Some(serverTs), updateInProgress = false))
      }
      // retention sweep once per run, after all swaps: superseded
      // bucket versions from this catch-up (and any prior crash) go
      table.vacuum()
      comments.vacuum()
      // the fence dies with the lease scope: leaving it installed
      // would refuse every later commit on these instances once the
      // LOCK file is deleted on release
      } finally { table.clearFence(); comments.clearFence() }
    }
    applied
  }

  /** Within-batch last-wins over a batch's (raw rows, sequence)
    * diffs, `Upsert.lastWins`' rule on the driver: per id, the raw row
    * whose typed (sequence, closed_at, num_changes) is highest, nulls
    * lowest; winners keep feed order. The order follows the FEED — the
    * reference applies diffs sequentially, so the row from the highest
    * sequence wins whatever its content (a content proxy like
    * closed_at breaks the moment timestamps aren't monotone with the
    * feed); content columns only break ties within one diff. The typed
    * keys come from `OsmXml.changesets`, row for row, folded on the
    * driver. */
  private def lastWins(spark: SparkSession, diffs: Seq[(Seq[Row], Long)]): Seq[Row] = {
    val raw = diffs.flatMap(_._1).toIndexedSeq
    val seqOf = diffs.flatMap { case (rows, q) => rows.map(_ => q) }.toIndexedSeq
    val keys = OsmXml.changesets(OsmXml.local(spark, raw))
      .select("id", "closed_at", "num_changes").collect()
    def nullsLow(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
    }
    val order: Ordering[Int] = (i, j) => Seq(
      java.lang.Long.compare(seqOf(i), seqOf(j)),
      nullsLow(keys(i).get(1), keys(j).get(1)),
      nullsLow(keys(i).get(2), keys(j).get(2))).find(_ != 0).getOrElse(0)
    keys.indices.groupBy(keys(_).get(0)).values.map(_.max(order)).toSeq.sorted.map(raw)
  }

  /** Within-batch comment identity. It includes the TEXT: the
    * reference stores every comment row verbatim (changesetmd.py:
    * 71-76,105-106), so two distinct same-user same-second comments
    * must both survive — only true replays (identical text) collapse. */
  val CommentIdentity: Seq[String] =
    Seq("comment_changeset_id", "comment_user_id", "comment_date", "comment_text")

  /** Within-batch comment dedup over a distributed relation. */
  def compactComments(comments: DataFrame): DataFrame =
    comments.dropDuplicates(CommentIdentity)

  /** `compactComments` on the driver over a local relation of typed
    * comment rows (collecting it runs no job): the first row of each
    * identity, as a local relation. */
  private def compactLocal(spark: SparkSession, cm: DataFrame): DataFrame = {
    val id = CommentIdentity.map(cm.schema.fieldIndex)
    spark.createDataFrame(
      cm.collect().toSeq.distinctBy(r => id.map(r.get)).asJava, cm.schema)
  }

  /** Run `branch` on a new thread while `main` runs on this one, and
    * return both results once BOTH have finished — on failure too, so
    * no write of either outlives the caller's scope (a writer lease,
    * say). The new thread starts with this thread's Spark local
    * properties (job group, trace span): SparkContext keeps them in an
    * inheritable thread-local that a new thread copies. The first
    * failure is rethrown, the other attached to it as suppressed. */
  def inParallel[A, B](main: => A, branch: => B): (A, B) = {
    val first = new java.util.concurrent.atomic.AtomicReference[Throwable]
    def failed(e: Throwable): Unit =
      if (!first.compareAndSet(null, e)) first.get.addSuppressed(e)
    var b: Option[B] = None
    val t = new Thread(() => try b = Some(branch) catch { case e: Throwable => failed(e) },
      "graft-branch")
    t.setDaemon(true)
    t.start()
    val a = try Some(main) catch { case e: Throwable => failed(e); None }
    var interrupted = false
    while (t.isAlive) try t.join() catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread.interrupt()
    Option(first.get).foreach(e => throw e)
    (a.get, b.get)
  }

  // ---- hermetic fixture world ----------------------------------------

  /** Build a replication directory: `nSeqs` gzip diffs + state.yaml. */
  def writeFixtureWorld(baseDir: Path, nSeqs: Int): Unit = {
    (1 to nSeqs).foreach { seq =>
      OsmXml.writeFixture(baseDir.resolve(sequencePath(seq.toLong)),
        OsmXml.diffFixture(seq.toLong))
    }
    Files.createDirectories(baseDir)
    Files.writeString(baseDir.resolve("state.yaml"),
      s"---\nlast_run: 2015-11-16 12:00:00.000000000 +00:00\nsequence: $nSeqs\n")
  }

  /** End-to-end demo for the driver: bulk-load the dump fixture, then
    * catch up over 5 replication diffs; returns the final changesets
    * relation (rows-only check — the XML world is not visible to the
    * SQL oracle). */
  def streamMicrobatch(spark: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_repl")
    val base = root.resolve("replication")
    val table = root.resolve("tables/changesets")
    val state = root.resolve("state.txt")
    // bulk load (EP1) straight into the bucketed table
    val dump = root.resolve("dump/changesets.osm.xml.gz")
    OsmXml.writeFixture(dump, OsmXml.bulkFixture)
    val raw = OsmXml.scan(spark, dump.toString)
    changesetTable(table).mergeInto(spark, OsmXml.changesets(raw))
    // operator bootstraps the offset after bulk load (the reference
    // refuses to replicate from the -1 sentinel, changesetmd.py:156-158)
    StateDoc.write(state, ReplState(0L, None, updateInProgress = false))
    // replication catch-up (EP2)
    writeFixtureWorld(base, 5)
    catchUp(spark, base, table, state, batchSize = 3)
    readTable(spark, table)
      .select(col("id"), col("user_name"), col("num_changes"), col("open"),
        element_at(col("tags"), "seq").as("seq_tag"))
  }

  /** The registered V2 streaming source end-to-end: 5-diff fixture
    * world drained through `format("osm-replication")` with
    * maxSeqsPerBatch=2 (so AvailableNow takes 3 micro-batches), raw
    * per-diff rows into a table. Coordinates are absent in diff
    * fixtures; timestamps prove the StAX parse. */
  def streamSourceV2(spark: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_srcv2")
    writeFixtureWorld(root.resolve("feed"), 5)
    val df = spark.readStream.format("osm-replication")
      .option("path", root.resolve("feed").toString)
      .option("maxSeqsPerBatch", "2")
      .load()
      .select(col("seq"), col("id"), col("created_at"),
        col("num_changes"), col("open"), col("user_name"),
        element_at(col("tags"), "seq").as("seq_tag"))
    EventStreams.runToTable(df, org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** Single-writer mutex semantics as a checkable relation
    * (changesetmd.py:138-160): a held lock refuses a second writer;
    * release makes it acquirable again. */
  def streamSingleWriter(spark: SparkSession, d: String): DataFrame = {
    val dir = Files.createTempDirectory("graft_lockq")
    val refused = withWriterLock(dir) {
      try { withWriterLock(dir) { false } }
      catch { case _: IllegalStateException => true }
    }
    val reacquired = withWriterLock(dir) { true }
    import spark.implicits._
    Seq(("second_writer_refused", refused),
      ("reacquired_after_release", reacquired)).toDF("probe", "ok")
  }

  /** Failure-isolation semantics as a checkable relation
    * (changesetmd.py:165-195): a missing diff aborts the run AFTER the
    * preceding batch committed, the lock is released, and a repaired
    * rerun completes exactly the remaining work. */
  def streamFailureIsolation(spark: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_failq")
    val base = root.resolve("repl")
    val tableDir = root.resolve("tables/cs")
    val state = root.resolve("state.txt")
    writeFixtureWorld(base, 4)
    Files.delete(base.resolve(sequencePath(3L))) // sabotage batch 2
    StateDoc.write(state, ReplState(0L, None, updateInProgress = false))
    val failed =
      try { catchUp(spark, base, tableDir, state, batchSize = 2); false }
      catch { case _: Exception => true }
    val offsetAfterFailure = StateDoc.read(state).lastSequence
    val lockReleased = Replication.lockReleased(tableDir.getParent)
    OsmXml.writeFixture(base.resolve(sequencePath(3L)), OsmXml.diffFixture(3L))
    val appliedAfterRepair = catchUp(spark, base, tableDir, state, batchSize = 2)
    val finalOffset = StateDoc.read(state).lastSequence
    val finalRows = readTable(spark, tableDir).count()
    import spark.implicits._
    Seq(
      ("failed_mid_run", if (failed) 1L else 0L),
      ("offset_after_failure", offsetAfterFailure),
      ("lock_released", if (lockReleased) 1L else 0L),
      ("applied_after_repair", appliedAfterRepair.toLong),
      ("final_offset", finalOffset),
      ("final_rows", finalRows)).toDF("probe", "value")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_microbatch" -> streamMicrobatch _,
    "stream_source_v2" -> streamSourceV2 _,
    "stream_single_writer" -> streamSingleWriter _,
    "stream_failure_isolation" -> streamFailureIsolation _
  )

  /** Known-answer oracle: bulk fixture (ids 10,11,12) + 5 diffs; diff
    * seq s rewrites id 11 (num_changes=s, tag seq=s) and inserts id
    * 100+s — last-wins leaves id 11 at seq 5. */
  val oracles: Map[String, String] = Map(
    "stream_microbatch" ->
      """SELECT * FROM (VALUES
        |  (CAST(10 AS BIGINT), 'alice', 12, false, CAST(NULL AS VARCHAR)),
        |  (11, 'bob', 5, false, '5'),
        |  (12, NULL, NULL, false, NULL),
        |  (101, 'dave', 1, true, NULL),
        |  (102, 'dave', 1, true, NULL),
        |  (103, 'dave', 1, true, NULL),
        |  (104, 'dave', 1, true, NULL),
        |  (105, 'dave', 1, true, NULL)
        |) AS t(id, user_name, num_changes, open, seq_tag)""".stripMargin,
    // diff seq s: changeset 11 (closed, num_changes=s, tag seq=s) +
    // new id 100+s created at 0s:10
    "stream_source_v2" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(11 AS BIGINT), TIMESTAMP '2015-11-15 23:00:00', 1, false, 'bob', '1'),
        |  (1, 101, TIMESTAMP '2015-11-16 01:10:00', 1, true, 'dave', NULL),
        |  (2, 11, TIMESTAMP '2015-11-15 23:00:00', 2, false, 'bob', '2'),
        |  (2, 102, TIMESTAMP '2015-11-16 02:10:00', 1, true, 'dave', NULL),
        |  (3, 11, TIMESTAMP '2015-11-15 23:00:00', 3, false, 'bob', '3'),
        |  (3, 103, TIMESTAMP '2015-11-16 03:10:00', 1, true, 'dave', NULL),
        |  (4, 11, TIMESTAMP '2015-11-15 23:00:00', 4, false, 'bob', '4'),
        |  (4, 104, TIMESTAMP '2015-11-16 04:10:00', 1, true, 'dave', NULL),
        |  (5, 11, TIMESTAMP '2015-11-15 23:00:00', 5, false, 'bob', '5'),
        |  (5, 105, TIMESTAMP '2015-11-16 05:10:00', 1, true, 'dave', NULL)
        |) AS t(seq, id, created_at, num_changes, open, user_name, seq_tag)""".stripMargin,
    "stream_single_writer" ->
      """SELECT * FROM (VALUES
        |  ('second_writer_refused', true),
        |  ('reacquired_after_release', true)
        |) AS t(probe, ok)""".stripMargin,
    // batch 1 (diffs 1-2) commits before the missing diff 3 aborts the
    // run; repaired rerun applies exactly diffs 3-4; final table =
    // id 11 + ids 101..104
    "stream_failure_isolation" ->
      """SELECT * FROM (VALUES
        |  ('failed_mid_run', CAST(1 AS BIGINT)),
        |  ('offset_after_failure', 2),
        |  ('lock_released', 1),
        |  ('applied_after_repair', 2),
        |  ('final_offset', 4),
        |  ('final_rows', 5)
        |) AS t(probe, value)""".stripMargin
  )
}

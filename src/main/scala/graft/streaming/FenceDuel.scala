package graft.streaming

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-process fencing duel — the single-writer story's first
  * SEPARATE-PROCESS proof. The reference gets cross-process mutual
  * exclusion for free from Postgres (`LOCK ... NOWAIT`,
  * changesetmd.py:138-160) but documents that a crash leaves the
  * table "forever locked" (changesetmd.py:163-164); this engine's
  * two-layer lease must do strictly better ACROSS PROCESSES: refuse
  * a live holder, survive a crashed one, and fence out a frozen one
  * whose lease was stolen.
  *
  * Each role below runs in its own forked JVM (`FenceDuelSpec`
  * orchestrates); the processes share nothing but the table
  * directory and marker files — the same observables two hosts on a
  * shared filesystem would have.
  *
  * Roles (args: `<role> <tableDir> [expect]`):
  *  - `holder`: acquires the writer lease, fences the table on the
  *    lease token, commits batch A (writer="A"), drops marker
  *    HOLDER_COMMITTED, then parks until STEAL_DONE appears. The
  *    park is where the spec SIGSTOPs the whole JVM past the
  *    staleness horizon — a faithful stand-in for a GC pause or VM
  *    freeze, because SIGSTOP halts the heartbeat thread exactly
  *    like a freeze would while the OS file lock (which outlives
  *    any freeze) stays held. On resume it attempts to commit
  *    batch B and exits 0 iff the outcome matches `expect`
  *    ("refused" → FencedCommitException, "committed" → success).
  *  - `contender`: calls the real `withWriterLease` against a LIVE
  *    holder on the same host. Exit 0 iff refused with the NOWAIT
  *    IllegalStateException — kernel-enforced, no heuristics.
  *  - `crash_taker`: calls the real `withWriterLease` after the
  *    holder was SIGKILLed. Exit 0 iff it acquires with a BUMPED
  *    fencing generation (dead pid ⇒ layer-2 stale; the OS lock died
  *    with the holder) and lands batch C (writer="C").
  *  - `stealer`: a CROSS-HOST contender. Advisory file locks do not
  *    propagate across a network share, so — exactly as the layer-2
  *    protocol documents — it judges the lease by payload alone: it
  *    requires the heartbeat timestamp stale past StaleAfterMillis
  *    (it cannot see the remote pid), overwrites the payload with
  *    its own nonce and generation+1, fences the table on its own
  *    token, and commits batch S (writer="S"). Exit 0 iff committed.
  *    (No heartbeat thread: its scope is a single commit, bounded
  *    well inside the horizon.)
  *
  * Exit codes: 0 expected outcome; 3 commit succeeded where a fence
  * was expected (FENCING BROKEN); 4 commit refused where success was
  * expected; 5 role-specific precondition failed. */
object FenceDuel {

  private def session(): SparkSession = {
    val s = graft.GraftSession(cores = 2,
      warehouse = Some(Files.createTempDirectory("graft_duel_wh")))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def batch(s: SparkSession, lo: Long, writer: String): DataFrame =
    s.range(lo, lo + 10L).select(col("id"), lit(writer).as("writer"))

  private def table(dir: Path) = new PartitionedTable(dir, "id", 2)

  def main(args: Array[String]): Unit = {
    val role = args(0)
    val dir = Paths.get(args(1))
    val expect = args.lift(2).getOrElse("")
    val leaseDir = dir.resolveSibling("lease")
    def marker(name: String) = dir.resolveSibling(name)
    def drop(name: String): Unit = Files.writeString(marker(name), "1")
    // self-terminating wait: an orphaned child (orchestrator died or
    // forgot us) must not park forever — a leaked 1 GB JVM per lost
    // marker adds up fast on a shared box
    def await(name: String): Unit = {
      val deadline = System.currentTimeMillis + 600000L
      while (!Files.exists(marker(name))) {
        if (System.currentTimeMillis > deadline) {
          System.err.println(s"orphaned: marker $name never appeared in 10 min")
          sys.exit(5)
        }
        Thread.sleep(50L)
      }
    }

    val code: Int = role match {
      case "holder" =>
        val s = session()
        try Replication.withWriterLease(leaseDir) { lease =>
          val pt = table(dir)
            .withFence(() => lease.check(), Some(lease.generation))
          try {
            pt.appendInto(s, batch(s, 0L, "A"), Some("holder" -> 0L))
            drop("HOLDER_COMMITTED")
            await("STEAL_DONE") // ← spec SIGSTOPs/SIGCONTs us in here
            try {
              // NOTE: the holder's own txn app — a shared app id would
              // make the stealer's later version swallow this commit as
              // an idempotent replay BEFORE the fence even runs
              pt.appendInto(s, batch(s, 100L, "B"), Some("holder" -> 1L))
              if (expect == "committed") 0 else 3
            } catch {
              case e: PartitionedTable.FencedCommitException =>
                Files.writeString(marker("HOLDER_REFUSED"), e.getMessage)
                if (expect == "refused") 0 else 4
            }
          } finally pt.clearFence()
        } finally s.stop()

      case "contender" =>
        try {
          Replication.withWriterLease(leaseDir) { _ => () }
          5 // acquired against a live same-host holder: NOWAIT broken
        } catch {
          case e: IllegalStateException
            if e.getMessage.contains("already in progress") => 0
        }

      case "crash_taker" =>
        val s = session()
        try Replication.withWriterLease(leaseDir) { lease =>
          if (lease.generation < 2L) 5 // takeover must bump the token
          else {
            val pt = table(dir)
              .withFence(() => lease.check(), Some(lease.generation))
            try { pt.appendInto(s, batch(s, 200L, "C"), Some("taker" -> 0L)); 0 }
            finally pt.clearFence()
          }
        } finally s.stop()

      // Chaos-duel contestant (`graft.streaming.ChaosDuel` orchestrates
      // N of these × M rounds with randomized SIGKILL / SIGSTOP+steal
      // injection): per round, race the other writers for the lease and
      // commit the round's batch exactly once. The committed-already
      // check runs UNDER the lease, so a predecessor that was SIGKILLed
      // between its manifest swap and its DONE marker cannot cause a
      // double commit — the successor reads the committed state first.
      // Exits 0 after its last round; FencedCommitException (lease
      // stolen mid-commit) retries the round under a fresh lease.
      case "chaos_writer" =>
        val id = args(2).toInt
        val rounds = args(3).toInt
        val start = args.lift(4).map(_.toInt).getOrElse(0)
        val s = session()
        try {
          for (k <- start until rounds) {
            await(s"ROUND_${k}_GO")
            var done = false
            while (!done) {
              if (Files.exists(marker(s"ROUND_${k}_DONE"))) done = true
              else try Replication.withWriterLease(leaseDir) { lease =>
                val pt = table(dir)
                  .withFence(() => lease.check(), Some(lease.generation))
                try {
                  val already = pt.exists &&
                    pt.read(s).filter(col("round") === k).limit(1).count() > 0L
                  if (!already) {
                    val base = k.toLong * 1000L + id.toLong * 100L
                    pt.appendInto(s,
                      s.range(base, base + 10L).select(col("id"),
                        lit(s"w$id").as("writer"), lit(k).as("round")),
                      Some(s"w$id" -> k.toLong))
                    drop(s"ROUND_${k}_WIN_w$id")
                  }
                  drop(s"ROUND_${k}_DONE")
                  done = true
                } catch {
                  case _: PartitionedTable.FencedCommitException =>
                    // stolen mid-commit: record the refusal (the chaos
                    // orchestrator asserts the freeze victim WAS fenced)
                    // and retry the round under a fresh lease
                    drop(s"FENCED_w${id}_r$k")
                } finally pt.clearFence()
              } catch {
                case e: IllegalStateException
                  if e.getMessage.contains("already in progress") =>
                  Thread.sleep(30L) // NOWAIT-refused: spin politely
              }
            }
          }
          0
        } finally s.stop()

      case "stealer" =>
        val stealIdx = args.lift(2).filter(_.forall(_.isDigit))
          .map(_.toLong).getOrElse(0L)
        val lock = leaseDir.resolve("LOCK")
        // Patience loop: a real cross-host contender WAITS for the
        // horizon rather than giving up on one fresh read — a frozen
        // holder's heartbeat cannot refresh, so staleness is a matter
        // of time; a LIVE holder keeps refreshing and the loop times
        // out with the correct refusal.
        var parts = Array.empty[String]
        var hbAge = 0L
        val patience = System.currentTimeMillis +
          Replication.StaleAfterMillis + 30000L
        var stale = false
        while (!stale && System.currentTimeMillis < patience) {
          parts = new String(Files.readAllBytes(lock), "UTF-8")
            .trim.split("\\s+")
          hbAge = System.currentTimeMillis - parts(1).toLong
          stale = hbAge > Replication.StaleAfterMillis
          if (!stale) Thread.sleep(500L)
        }
        if (!stale) {
          System.err.println(s"lease heartbeat only ${hbAge}ms old after " +
            "waiting out the horizon: a cross-host contender must NOT " +
            "steal a live lease")
          5
        } else {
          val gen = parts.lift(3).map(_.toLong).getOrElse(0L) + 1L
          val nonce = java.util.UUID.randomUUID.toString
          Files.writeString(lock, s"${ProcessHandle.current.pid} " +
            s"${System.currentTimeMillis} $nonce $gen")
          def check(): Unit = {
            val held = try new String(Files.readAllBytes(lock), "UTF-8")
              .trim.split("\\s+").lift(2).contains(nonce)
            catch { case _: Exception => false }
            if (!held) throw new PartitionedTable.FencedCommitException(
              s"stealer lease at $lock lost: refusing to commit")
          }
          val s = session()
          try {
            val pt = table(dir).withFence(() => check(), Some(gen))
            // per-steal base id + txn version so a chaos run's repeated
            // steals each land (same (app, ver) would no-op as replay)
            try { pt.appendInto(s, batch(s, 300L + stealIdx * 10L, "S"),
              Some("stealer" -> stealIdx)); 0 }
            finally pt.clearFence()
          } finally s.stop()
        }

      case other =>
        System.err.println(s"unknown role: $other"); 5
    }
    sys.exit(code)
  }
}

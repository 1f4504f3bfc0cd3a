package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Chaos fencing duel (r14 VERDICT item 4): N contending writer
  * PROCESSES × M rounds with randomized SIGKILL and SIGSTOP+steal
  * injection, asserting the GLOBAL single-writer invariants rather
  * than each adversary once (FenceDuelSpec proves the per-adversary
  * mechanics; this proves they compose over a whole contended run).
  *
  * Per round, every live writer races `Replication.withWriterLease`
  * and the winner commits one 10-row batch tagged (round, writer)
  * through the fenced PartitionedTable commit protocol (the
  * `chaos_writer` role in [[FenceDuel]]). Injections:
  *
  *  - KILL: a seeded-random writer is SIGKILLed mid-round (it may be
  *    anywhere: racing, holding the lease, mid-commit) and replaced by
  *    a fresh process starting at the interrupted round. Layer-1
  *    (kernel lock dies with the process) or layer-2 (stale payload)
  *    recovers the lease; the committed-already check under the next
  *    lease prevents a double commit if the victim died between its
  *    manifest swap and its DONE marker.
  *  - FREEZE+STEAL: whichever writer is caught holding the lease is
  *    SIGSTOPped past the staleness horizon (heartbeat halts, OS lock
  *    stays — the GC-pause/VM-freeze shape), a cross-host-style
  *    payload stealer (FenceDuel `stealer`) bumps the generation and
  *    commits its own batch, the victim is resumed and its in-flight
  *    commit MUST be refused by the monotonic fencing token, after
  *    which it re-acquires with a higher generation and finishes the
  *    round.
  *
  * Global invariants checked from the final state (the reference
  * anchor this must dominate: the single Postgres lock with its
  * "forever locked" crash caveat, changesetmd.py:138-164):
  *
  *  1. exactly one committed batch per round — 10 rows, one writer;
  *  2. every successful steal landed exactly its 10 rows;
  *  3. fencing generations are MONOTONE NON-DECREASING across the
  *     manifest snapshot chain, and strictly increased by takeovers;
  *  4. the final table is exactly the replay of accepted commits —
  *     no torn batch, no lost batch, no zombie rows from fenced
  *     holders.
  *
  * Run: `sbt "runMain graft.streaming.ChaosDuel <writers> <rounds>
  * <seed> [artifactPath]"` (ChaosDuelSpec runs a small configuration
  * in-suite).
  */
object ChaosDuel {

  case class Result(writers: Int, rounds: Int, seed: Long, kills: Int,
      freezes: Int, stealsCommitted: Int, fencedRefusals: Int,
      winners: Map[Int, String], fenceGens: Seq[Long],
      violations: Seq[String]) {
    def ok: Boolean = violations.isEmpty
  }

  // ---- child-process plumbing (same shape as FenceDuelSpec) ---------

  private def javaBin =
    Paths.get(System.getProperty("java.home"), "bin", "java").toString

  private def addOpens: Seq[String] = {
    val in = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments
    val out = mutable.ArrayBuffer[String]()
    val i = in.iterator()
    while (i.hasNext) {
      val a = i.next()
      if (a == "--add-opens") { out += a; if (i.hasNext) out += i.next() }
      else if (a.startsWith("--add-opens=")) out += a
    }
    out.toSeq
  }

  private def launch(work: Path, hbMs: Long, staleMs: Long,
      args: Seq[String], log: String): Process = {
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx1g",
      s"-Dgraft.lease.heartbeat.ms=$hbMs",
      s"-Dgraft.lease.stale.ms=$staleMs",
      "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.streaming.FenceDuel") ++ args
    new ProcessBuilder(cmd: _*)
      .redirectOutput(work.resolve(s"$log.out").toFile)
      .redirectError(work.resolve(s"$log.err").toFile)
      .start()
  }

  private def signal(pid: Long, sig: String): Boolean =
    try new ProcessBuilder("kill", s"-$sig", pid.toString)
      .start().waitFor() == 0
    catch { case _: Exception => false }

  /** pid in the current lease payload, if any. */
  private def holderPid(leaseDir: Path): Option[Long] = {
    val lock = leaseDir.resolve("LOCK")
    if (!Files.exists(lock)) None
    else try new String(Files.readAllBytes(lock), "UTF-8")
      .trim.split("\\s+").headOption.map(_.toLong)
    catch { case _: Exception => None }
  }

  // ---- the duel ------------------------------------------------------

  def run(work: Path, nWriters: Int, rounds: Int, seed: Long,
      hbMs: Long = 300L, staleMs: Long = 2500L,
      nKills: Int = 1, nFreezes: Int = 1): Result = {
    require(nWriters >= 2 && rounds >= 3)
    require(nKills >= 1 && nFreezes >= 1 &&
      nKills < rounds - 1 && nFreezes < rounds - 2)
    val tableDir = work.resolve("table")
    val leaseDir = work.resolve("lease")
    def marker(n: String) = work.resolve(n)
    def drop(n: String): Unit = Files.writeString(marker(n), "1")
    def awaitMarker(n: String, deadlineMs: Long): Unit = {
      val limit = System.currentTimeMillis + deadlineMs
      while (!Files.exists(marker(n))) {
        require(System.currentTimeMillis < limit, s"timeout waiting for $n")
        Thread.sleep(20L)
      }
    }

    val rnd = new scala.util.Random(seed)
    val procs = mutable.Map[Int, Process]()
    def launchWriter(id: Int, startRound: Int): Process =
      launch(work, hbMs, staleMs,
        Seq("chaos_writer", tableDir.toString, id.toString,
          rounds.toString, startRound.toString), s"writer$id-r$startRound")
    for (id <- 0 until nWriters) procs(id) = launchWriter(id, 0)

    var kills = 0
    var freezes = 0
    var steals = 0
    // adversary SCHEDULE: the r14 single-shot placements (kill at
    // rounds/3, freeze window from 2·rounds/3) when one of each is
    // asked for — the ChaosDuelSpec configuration — and a seeded
    // randomized schedule for the soak (r14 VERDICT item 6): nKills
    // distinct kill rounds, nFreezes freeze targets; a freeze target
    // that misses its hold retries on subsequent rounds exactly like
    // the single-shot form did.
    val killRounds: Set[Int] =
      if (nKills <= 1) Set(rounds / 3)
      else rnd.shuffle((1 until rounds).toList).take(nKills).toSet
    var freezeTargets: List[Int] =
      if (nFreezes <= 1) List((2 * rounds) / 3)
      else rnd.shuffle((2 until rounds).toList).take(nFreezes).sorted
    var freezeDone = false

    // whatever happens below, never leak writer JVMs (a failed run
    // once left parked children behind for hours)
    val writerExits = try {

    for (k <- 0 until rounds) {
      drop(s"ROUND_${k}_GO")

      if (killRounds.contains(k)) {
        // land the SIGKILL anywhere inside the round
        Thread.sleep(50L + rnd.nextInt(400).toLong)
        val victim = rnd.nextInt(nWriters)
        procs(victim).destroyForcibly()
        procs(victim).waitFor(30L, TimeUnit.SECONDS)
        kills += 1
        procs(victim) = launchWriter(victim, k)
      }

      freezeDone = false
      if (freezeTargets.nonEmpty && k >= freezeTargets.head) {
        // Freeze-while-holding races a ~300 ms hold: the 1 ms payload
        // poll catches fast, but kill -STOP's fork/exec can land
        // after the hold ended. So VERIFY the freeze immediately — a
        // frozen holder cannot release, so if the payload still names
        // the pid right after the STOP landed it is frozen mid-hold —
        // and on a miss CONT and retry within the same round instead
        // of discovering the miss a staleness-horizon later.
        val window = System.currentTimeMillis + 15000L
        while (!freezeDone && System.currentTimeMillis < window &&
          !Files.exists(marker(s"ROUND_${k}_DONE"))) {
          holderPid(leaseDir)
            .filter(p => p > 0 && procs.values.exists(_.pid == p)) match {
            case None => Thread.sleep(1L)
            case Some(pid) =>
              if (signal(pid, "STOP")) {
                if (holderPid(leaseDir).contains(pid)) {
                  System.err.println(s"[chaos] round $k froze holder $pid")
                  // heartbeat halted mid-hold: let it go stale, steal
                  Thread.sleep(staleMs + 4L * hbMs)
                  val payload = try new String(Files.readAllBytes(
                    leaseDir.resolve("LOCK")), "UTF-8") catch { case _: Exception => "?" }
                  System.err.println(s"[chaos] round $k pre-steal payload: '$payload' " +
                    s"(now=${System.currentTimeMillis})")
                  freezes += 1
                  val st = launch(work, hbMs, staleMs,
                    Seq("stealer", tableDir.toString, steals.toString),
                    s"stealer$steals")
                  val finished = st.waitFor(120L, TimeUnit.SECONDS)
                  // a timed-out stealer must die NOW: left running it
                  // would leak a JVM past the finally sweep (it's not
                  // in procs) and could commit after ok=false, tripping
                  // the row-count invariants spuriously (r14 ADVICE).
                  // destroyForcibly is ASYNC — await the kill before
                  // the steals accounting, or the dying stealer can
                  // still publish its commit after ok=false is recorded
                  // (r15 ADVICE)
                  if (!finished) {
                    st.destroyForcibly()
                    require(st.waitFor(30L, TimeUnit.SECONDS),
                      s"stealer$steals survived destroyForcibly")
                  }
                  val ok = finished && st.exitValue == 0
                  System.err.println(s"[chaos] round $k stealer exit ok=$ok")
                  if (ok) steals += 1
                  freezeDone = true
                } else System.err.println(
                  s"[chaos] round $k STOP landed after $pid released; retrying")
                signal(pid, "CONT")
              }
          }
        }
        // this target landed: move to the next planned freeze. A
        // window that closed without catching a holder keeps the
        // target, retrying on the next round (old single-shot
        // semantics, generalized).
        if (freezeDone) freezeTargets = freezeTargets.tail
      }

      awaitMarker(s"ROUND_${k}_DONE", 240000L)
    }

    procs.values.foreach { p =>
      require(p.waitFor(240L, TimeUnit.SECONDS), "writer did not exit")
    }
    procs.values.map(_.exitValue).toSeq
    } finally procs.values.foreach(p => if (p.isAlive) p.destroyForcibly())

    // ---- global invariants from the final state ----------------------
    val violations = mutable.ArrayBuffer[String]()
    if (writerExits.exists(_ != 0))
      violations += s"writer exit codes: $writerExits"

    // getOrCreate would REUSE a caller's live session (the shared test
    // session) — only stop what this run actually created
    val existing = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
    val spark = existing.getOrElse {
      val s = graft.GraftSession(cores = 2,
        warehouse = Some(Files.createTempDirectory("graft_chaos_wh")))
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val (winners, fenceGens, fencedRefusals) =
      try {
        val pt = new PartitionedTable(tableDir, "id", 2)
        val rows = pt.read(spark)
          .select(col("id"), col("writer"),
            coalesce(col("round"), lit(-1)).as("round"))
          .collect()

        // 1. exactly one complete batch per round
        val byRound = rows.filter(_.getInt(2) >= 0).groupBy(_.getInt(2))
        val winners = (0 until rounds).flatMap { k =>
          byRound.get(k) match {
            case None =>
              violations += s"round $k: no committed batch"; None
            case Some(rs) =>
              val ws = rs.map(_.getString(1)).distinct
              if (ws.length != 1)
                violations += s"round $k: ${ws.length} writers committed (${ws.mkString(",")})"
              if (rs.length != 10 * ws.length)
                violations += s"round $k: torn batch (${rs.length} rows)"
              Some(k -> ws.head)
          }
        }.toMap

        // 2. every successful steal landed its own complete batch
        val stealRows = rows.count(_.getString(1) == "S")
        if (stealRows != 10 * steals)
          violations += s"steal rows $stealRows != ${10 * steals}"

        // 4. replay completeness: nothing else in the table
        if (rows.length != 10 * rounds + 10 * steals)
          violations += s"table has ${rows.length} rows, expected ${10 * rounds + 10 * steals}"

        // 3. fencing generations monotone across the snapshot chain
        val gens = {
          val ls = Files.list(tableDir)
          try ls.iterator().asScala
            .filter(_.getFileName.toString.startsWith("MANIFEST.s"))
            .map { p =>
              val snapId = p.getFileName.toString.stripPrefix("MANIFEST.s").toLong
              val gen = Files.readAllLines(p).asScala
                .find(_.startsWith(PartitionedTable.FencePrefix))
                .map(_.stripPrefix(PartitionedTable.FencePrefix).trim.toLong)
                .getOrElse(0L)
              snapId -> gen
            }.toSeq.sortBy(_._1).map(_._2)
          finally ls.close()
        }
        gens.sliding(2).foreach {
          case Seq(a, b) if b < a =>
            violations += s"fencing generation regressed: $a -> $b"
          case _ => ()
        }
        if (steals > 0 && gens.lastOption.exists(_ < 2L))
          violations += s"steals happened but final generation ${gens.lastOption} never bumped"

        // fence refusals the writers recorded (FENCED_* markers). A
        // steal does not ALWAYS force one — if the freeze landed after
        // the victim's commit published, the victim resumes with
        // nothing left to publish — so this is telemetry, not an
        // invariant; the invariant is the table/generation state above.
        val refusals = {
          val ls = Files.list(work)
          try ls.iterator().asScala
            .count(_.getFileName.toString.startsWith("FENCED_"))
          finally ls.close()
        }
        (winners, gens, refusals)
      } finally if (existing.isEmpty) spark.stop()

    Result(nWriters, rounds, seed, kills, freezes, steals, fencedRefusals,
      winners, fenceGens, violations.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val nWriters = args.lift(0).map(_.toInt).getOrElse(3)
    val rounds = args.lift(1).map(_.toInt).getOrElse(9)
    val seed = args.lift(2).map(_.toLong).getOrElse(14L)
    val artifact = args.lift(3)
    val nKills = args.lift(4).map(_.toInt).getOrElse(1)
    val nFreezes = args.lift(5).map(_.toInt).getOrElse(1)
    val work = Files.createTempDirectory("graft_chaos")
    val r = run(work, nWriters, rounds, seed, nKills = nKills,
      nFreezes = nFreezes)
    val json =
      s"""{"metric":"chaos_fence_duel","writers":${r.writers},"rounds":${r.rounds},""" +
      s""""seed":${r.seed},"kills":${r.kills},"freezes":${r.freezes},""" +
      s""""steals_committed":${r.stealsCommitted},""" +
      s""""winners":{${r.winners.toSeq.sortBy(_._1).map { case (k, w) => s""""$k":"$w"""" }.mkString(",")}},""" +
      s""""fence_generations":[${r.fenceGens.mkString(",")}],""" +
      s""""violations":[${r.violations.map(v => "\"" + v.replace("\"", "'") + "\"").mkString(",")}]}"""
    println(json)
    artifact.foreach(p => Files.writeString(Paths.get(p), json + "\n"))
    sys.exit(if (r.ok) 0 else 1)
  }
}

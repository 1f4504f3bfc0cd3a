package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.PartitionedTable

/** TWO-PROCESS fencing contention (r12 VERDICT item 3): LockSpec and
  * RetrievalSpec prove the steal in-process; the reference's
  * single-writer story (`changesetmd.py:138-164`) is about SEPARATE
  * processes. Each scenario forks real JVMs (graft.streaming.FenceDuel
  * roles) that share nothing but the table directory:
  *
  *  1. NOWAIT    — a second process is refused while the holder lives.
  *  2. CRASH     — a SIGKILLed holder's lease is taken over (the
  *                 reference's "forever locked" caveat, closed
  *                 cross-process) with a bumped fencing generation.
  *  3. FROZEN    — the holder is SIGSTOPped past the staleness
  *                 horizon (a faithful GC-pause/VM-freeze stand-in: it
  *                 halts the heartbeat thread while the OS lock stays
  *                 held), a cross-host-style stealer lands its commit,
  *                 and the RESUMED holder's commit is REFUSED by the
  *                 fence — table state intact: batch A + batch S,
  *                 never batch B.
  *
  * Children run a short lease horizon via -Dgraft.lease.*.ms (the
  * production default is 30 s; the protocol is identical). */
class FenceDuelSpec extends AnyFunSuite {

  private val HbMs = 300L
  private val StaleMs = 2500L

  private def javaBin =
    java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString

  private def launch(work: Path, role: String, tableDir: Path,
                     expect: String = ""): Process = {
    val cmd = Seq(javaBin) ++ TestSpark.addOpens ++ Seq(
      "-Xmx1g",
      s"-Dgraft.lease.heartbeat.ms=$HbMs",
      s"-Dgraft.lease.stale.ms=$StaleMs",
      "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.streaming.FenceDuel", role, tableDir.toString) ++
      (if (expect.nonEmpty) Seq(expect) else Nil)
    new ProcessBuilder(cmd: _*)
      .redirectOutput(work.resolve(s"$role.out").toFile)
      .redirectError(work.resolve(s"$role.err").toFile)
      .start()
  }

  private def signal(pid: Long, sig: String): Unit =
    assert(new ProcessBuilder("kill", s"-$sig", pid.toString)
      .start().waitFor() == 0, s"kill -$sig $pid failed")

  private def awaitMarker(work: Path, name: String, p: Process): Unit = {
    val deadline = System.currentTimeMillis + 180000L
    while (!Files.exists(work.resolve(name))) {
      assert(p.isAlive || Files.exists(work.resolve(name)),
        s"child died before $name: " + tail(work, "holder.err"))
      assert(System.currentTimeMillis < deadline, s"timeout waiting for $name")
      Thread.sleep(50L)
    }
  }

  private def awaitExit(p: Process, what: String, work: Path, log: String): Int = {
    assert(p.waitFor(180L, TimeUnit.SECONDS), s"$what did not exit: " + tail(work, log))
    p.exitValue()
  }

  private def tail(work: Path, name: String): String = {
    val f = work.resolve(name)
    if (!Files.exists(f)) "" else {
      val lines = Files.readAllLines(f)
      lines.subList(math.max(0, lines.size - 15), lines.size)
        .toArray.mkString("\n", "\n", "")
    }
  }

  private def writersOf(work: Path): Map[String, Long] = {
    val s = TestSpark.session
    new PartitionedTable(work.resolve("table"), "id", 2).read(s)
      .groupBy("writer").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("NOWAIT: a second process is refused while the holder lives") {
    val work = Files.createTempDirectory("graft_duel1")
    val tableDir = work.resolve("table")
    val holder = launch(work, "holder", tableDir, "committed")
    try {
      awaitMarker(work, "HOLDER_COMMITTED", holder)
      val contender = launch(work, "contender", tableDir)
      assert(awaitExit(contender, "contender", work, "contender.err") == 0,
        "live same-host holder must refuse a second process (NOWAIT)" +
          tail(work, "contender.err"))
      Files.writeString(work.resolve("STEAL_DONE"), "1")
      assert(awaitExit(holder, "holder", work, "holder.err") == 0,
        "unstolen holder's second commit must succeed" + tail(work, "holder.err"))
      assert(writersOf(work) == Map("A" -> 10L, "B" -> 10L))
    } finally holder.destroyForcibly()
  }

  test("CRASH: a SIGKILLed holder's lease is taken over with a bumped generation") {
    val work = Files.createTempDirectory("graft_duel2")
    val tableDir = work.resolve("table")
    val holder = launch(work, "holder", tableDir, "committed")
    try {
      awaitMarker(work, "HOLDER_COMMITTED", holder)
      holder.destroyForcibly() // SIGKILL: the reference's crash caveat
      holder.waitFor(30L, TimeUnit.SECONDS)
      val taker = launch(work, "crash_taker", tableDir)
      assert(awaitExit(taker, "crash_taker", work, "crash_taker.err") == 0,
        "crash takeover must acquire with generation 2 and commit" +
          tail(work, "crash_taker.err"))
      assert(writersOf(work) == Map("A" -> 10L, "C" -> 10L))
      assert(new PartitionedTable(tableDir, "id", 2).recordedFenceGen == 2L,
        "crash takeover must carry the bumped fencing token")
    } finally holder.destroyForcibly()
  }

  test("FROZEN: stolen-lease holder's commit is refused; table = A + S, never B") {
    val work = Files.createTempDirectory("graft_duel3")
    val tableDir = work.resolve("table")
    val holder = launch(work, "holder", tableDir, "refused")
    try {
      awaitMarker(work, "HOLDER_COMMITTED", holder)
      signal(holder.pid(), "STOP") // freeze: heartbeat halts, OS lock stays
      try {
        Thread.sleep(StaleMs + 4L * HbMs) // let the heartbeat go stale
        val stealer = launch(work, "stealer", tableDir)
        assert(awaitExit(stealer, "stealer", work, "stealer.err") == 0,
          "cross-host stealer must take the stale lease and commit" +
            tail(work, "stealer.err"))
      } finally signal(holder.pid(), "CONT")
      Files.writeString(work.resolve("STEAL_DONE"), "1")
      assert(awaitExit(holder, "holder", work, "holder.err") == 0,
        "resumed holder's commit must be REFUSED by the fence" +
          tail(work, "holder.err"))
      assert(Files.exists(work.resolve("HOLDER_REFUSED")),
        "holder must record the FencedCommitException")
      assert(writersOf(work) == Map("A" -> 10L, "S" -> 10L),
        "table state intact: the frozen holder's batch B must not land")
      assert(new PartitionedTable(tableDir, "id", 2).recordedFenceGen == 2L,
        "the stealer's bumped token is the recorded generation")
    } finally holder.destroyForcibly()
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Replication
import java.nio.file.Files

/** Lease takeover for the single-writer lock (r8 VERDICT item 7): the
  * reference documents that a crash leaves replication locked forever
  * (`changesetmd.py:163-164`); our lock must steal a stale lease and
  * still refuse a live one. */
class LockSpec extends AnyFunSuite {

  private def lockDir() = Files.createTempDirectory("graft_lock")

  private def deadPid(): Long = {
    var p = 4000000L
    while (ProcessHandle.of(p).isPresent) p -= 1
    p
  }

  test("a crashed holder's lock (dead pid) is stolen; the run proceeds") {
    val dir = lockDir()
    Files.write(dir.resolve("LOCK"),
      s"${deadPid()} ${System.currentTimeMillis}".getBytes("UTF-8"))
    val ran = Replication.withWriterLock(dir) { true }
    assert(ran)
    assert(Replication.lockReleased(dir), "lock released after the stolen run")
  }

  test("a silent holder (live pid, heartbeat past the horizon) is stolen") {
    val dir = lockDir()
    val staleTs = System.currentTimeMillis - Replication.StaleAfterMillis - 60000
    Files.write(dir.resolve("LOCK"),
      s"${ProcessHandle.current.pid} $staleTs".getBytes("UTF-8"))
    assert(Replication.withWriterLock(dir) { true })
  }

  test("a live holder with a fresh heartbeat still refuses a second writer") {
    val dir = lockDir()
    val refused = Replication.withWriterLock(dir) {
      intercept[IllegalStateException] { Replication.withWriterLock(dir) { () } }
      true
    }
    assert(refused)
    assert(Replication.lockReleased(dir))
  }

  test("a FRESH unreadable lock file is treated as held — a transient read must not be stolen") {
    val dir = lockDir()
    Files.write(dir.resolve("LOCK"), Array.emptyByteArray) // mtime = now
    intercept[IllegalStateException] { Replication.withWriterLock(dir) { () } }
    assert(Files.exists(dir.resolve("LOCK")), "the live holder's file survives the refusal")
  }

  test("an unreadable lock PAST the staleness horizon (crash mid-create) is stolen") {
    val dir = lockDir()
    val lock = dir.resolve("LOCK")
    Files.write(lock, Array.emptyByteArray)
    Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis - Replication.StaleAfterMillis - 60000))
    assert(Replication.withWriterLock(dir) { true })
    assert(Replication.lockReleased(dir))
  }

  test("N contenders racing on one stale lock: mutual exclusion holds, exactly one body at a time") {
    val dir = lockDir()
    Files.write(dir.resolve("LOCK"),
      s"${deadPid()} ${System.currentTimeMillis}".getBytes("UTF-8"))
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val overlapped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        start.await()
        try Replication.withWriterLock(dir) {
          if (active.incrementAndGet() != 1) overlapped.set(true)
          Thread.sleep(25)
          active.decrementAndGet()
          ran.incrementAndGet()
        } catch { case _: IllegalStateException => () } // refused: lock was live
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join(30000))
    assert(!overlapped.get, "two writers were inside the lock simultaneously")
    assert(ran.get >= 1, "the stale lock was never taken over")
    assert(Replication.lockReleased(dir), "last holder released")
  }

  test("tombstone survives a closed channel: the fallback writes by PATH, never deletes") {
    // an interrupt of the releasing thread closes the shared FileChannel
    // (InterruptibleChannel) mid-release; the old fallback DELETED the
    // LOCK file, resetting the fencing epoch (r14 ADVICE). The fallback
    // must land the same released-tombstone bytes path-based.
    val dir = lockDir()
    val lock = dir.resolve("LOCK")
    val ch = java.nio.channels.FileChannel.open(lock,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    ch.close() // simulate ClosedByInterruptException's aftermath
    Replication.writeTombstone(lock, ch, generation = 7L)
    assert(Files.exists(lock), "fallback must not delete the lock file")
    val parts = new String(Files.readAllBytes(lock), "UTF-8").trim.split("\\s+")
    assert(parts.lift(2).contains("released"))
    assert(parts.lift(3).contains("7"), "tombstone must carry the generation")
    assert(Replication.lockReleased(dir))
    // and the successor seeds at predecessor + 1 off the fallback tombstone
    Replication.withWriterLease(dir) { lease =>
      assert(lease.generation === 8L)
    }
  }

  test("back-to-back leases at a 1 ms heartbeat: every release leaves an acquirable lock") {
    // at a 1 ms period many releases land while the heartbeat is inside
    // `refresh`; stopping it with an interrupt there closes the channel
    // between truncate and write, leaves LOCK empty and refuses the next
    // cycle for the whole staleness horizon. Forked: the period is read
    // once per JVM.
    val dir = lockDir()
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val p = new ProcessBuilder(javaBin, "-Dgraft.lease.heartbeat.ms=1",
      "-cp", System.getProperty("java.class.path"),
      "graft.LeaseCycles", dir.toString, "300").redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() === 0, out)
    assert(Replication.lockReleased(dir))
  }

  test("a holder's own fencing check never reads a torn LOCK at a 1 ms heartbeat") {
    // the heartbeat rewrites LOCK every beat; a check reading it mid-beat
    // must still find the holder's nonce, or the holder's own commit is
    // refused as stolen. Forked: the period is read once per JVM.
    val dir = lockDir()
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val p = new ProcessBuilder(javaBin, "-Dgraft.lease.heartbeat.ms=1",
      "-cp", System.getProperty("java.class.path"),
      "graft.LeaseChecks", dir.toString, "3000").redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() === 0, out)
  }

  test("release is idempotent against a successor: a finished run never deletes the next holder's lock") {
    val dir = lockDir()
    assert(Replication.withWriterLock(dir) { true })
    // simulate a successor acquiring right after our release…
    Files.write(dir.resolve("LOCK"),
      s"${ProcessHandle.current.pid} ${System.currentTimeMillis} other-nonce".getBytes("UTF-8"))
    // …then a second full cycle against that live foreign lock refuses and leaves it intact
    intercept[IllegalStateException] { Replication.withWriterLock(dir) { () } }
    assert(Files.exists(dir.resolve("LOCK")))
  }

  test("fencing token: a frozen holder overlapped by a cross-host stealer is refused at COMMIT, table state intact") {
    // The lease-fundamental residual (VERDICT r10 item 8): a holder
    // frozen past the horizon can overlap a CROSS-HOST stealer by one
    // heartbeat — the OS lock cannot see the stealer, so the overlap
    // must be closed at the PUBLISH point. Simulate the overlap: while
    // we hold the lease, a "stealer" overwrites the LOCK payload with
    // its own nonce (exactly what takeover writes); our next commit
    // must be REFUSED, and the table must still read the pre-steal
    // state with no new snapshot and no live garbage.
    val spark = TestSpark.session
    import spark.implicits._
    val dir = lockDir()
    val tableDir = dir.resolve("t")
    val t = new graft.streaming.PartitionedTable(tableDir, "id", 4)
    Replication.withWriterLease(dir) { lease =>
      t.withFence(() => lease.check(), Some(lease.generation))
      t.mergeInto(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      val snapsBefore = t.snapshots
      // cross-host steal: last writer wins the PATH (the OS lock does
      // not propagate to the other host)
      Files.write(dir.resolve("LOCK"),
        (s"${ProcessHandle.current.pid} ${System.currentTimeMillis} " +
          s"stolen-nonce ${lease.generation + 1}").getBytes("UTF-8"))
      intercept[java.util.ConcurrentModificationException] {
        t.mergeInto(spark, Seq((1L, "STALE"), (3L, "STALE")).toDF("id", "v"))
      }
      // the stale commit published NOTHING: same snapshots, same rows
      assert(t.snapshots == snapsBefore, "no snapshot from the refused commit")
      val rows = t.read(spark).orderBy("id").as[(Long, String)].collect().toSeq
      assert(rows == Seq((1L, "a"), (2L, "b")), s"pre-steal state intact, got $rows")
      // and the refused attempt's data dir was dropped (no garbage
      // waiting on vacuum)
      assert(t.vacuum() == 0, "refused commit left no unreferenced dirs")
    }
  }
}

/** `LockSpec`'s forked child: `<dir> <n>` runs n back-to-back lease
  * cycles and exits 1 if any acquisition was refused. */
object LeaseCycles {
  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Paths.get(args(0))
    // bodies of 0-2 ms, so releases land at every phase of the heartbeat
    val refused = (1 to args(1).toInt).count { i =>
      try { Replication.withWriterLease(dir)(_ => Thread.sleep(i % 3)); false }
      catch { case _: IllegalStateException => true }
    }
    println(s"$refused of ${args(1)} acquisitions refused")
    sys.exit(if (refused == 0) 0 else 1)
  }
}

object LeaseChecks {
  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Paths.get(args(0))
    // hold one lease and run the commit-point check for `args(1)` ms
    val deadline = System.currentTimeMillis + args(1).toLong
    val (checks, refused) = Replication.withWriterLease(dir) { lease =>
      var n = 0L; var bad = 0L
      while (System.currentTimeMillis < deadline) {
        try lease.check()
        catch { case _: graft.streaming.PartitionedTable.FencedCommitException => bad += 1 }
        n += 1
      }
      (n, bad)
    }
    println(s"$refused of $checks checks refused")
    sys.exit(if (refused == 0) 0 else 1)
  }
}

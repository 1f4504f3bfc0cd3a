package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.graftbridge.ListenerFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.operators.Cleanup
import graft.streaming.PartitionedTable

/** The one harness every measurement and tool main runs on (Bench, the
  * probes and soaks, PlanAudit, PlanDump, ScaleGen, RecallGen, Verify):
  * the session and its teardown, wall-clock timing, median/MAD, one
  * stage meter and one JSON writer. A main holds only what it measures.
  *
  * {{{
  *   def main(args: Array[String]): Unit = Probe.run() { h =>
  *     val (n, sec) = Probe.timed(h.spark.range(10).count())
  *     Probe.emit(("n" -> n) ~ ("sec" -> Probe.num(sec)), args.headOption)
  *   }
  * }}}
  */
object Probe {

  // ---- session lifecycle -------------------------------------------

  /** A main's session plus the dirs deleted at its teardown. */
  final class Harness private[Probe] (val spark: SparkSession) {
    private[Probe] val owned = ArrayBuffer.empty[Path]

    /** Delete `dir` at teardown; returns it. */
    def own(dir: Path): Path = owned.synchronized { owned += dir; dir }

    /** A fresh temp dir, deleted at teardown. */
    def tempDir(prefix: String): Path = own(Files.createTempDirectory(prefix))
  }

  /** A `GraftSession` at `logLevel`. The CLI uses it directly; mains run
    * on [[run]], which also tears the session down. */
  def session(logLevel: String = "ERROR", warehouse: Option[Path] = None): SparkSession = {
    val s = GraftSession(warehouse = warehouse)
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** Run `body` on a fresh session. Whether it returns or throws, the
    * teardown runs every step: `Cleanup.dropAll`, `spark.stop()`, then
    * the owned dirs (and the private warehouse, when `tempWarehouse`)
    * are deleted. A teardown failure after a body failure is attached
    * to it as suppressed; after a clean body it is thrown. */
  def run[T](logLevel: String = "ERROR", tempWarehouse: Boolean = false)(
      body: Harness => T): T = {
    val wh = if (tempWarehouse) Some(Files.createTempDirectory("graft_probe_wh")) else None
    val h = try new Harness(session(logLevel, wh)) catch { case t: Throwable =>
      wh.foreach(PartitionedTable.deleteRecursively); throw t
    }
    wh.foreach(h.own)
    def teardown(cause: Option[Throwable]): Unit = {
      var first: Option[Throwable] = None
      Seq(() => Cleanup.dropAll(h.spark),
          () => h.spark.stop(),
          () => h.owned.filter(Files.exists(_)).foreach(PartitionedTable.deleteRecursively))
        .foreach { step =>
          try step() catch { case t: Throwable =>
            cause.orElse(first) match {
              case Some(c) => c.addSuppressed(t)
              case None => first = Some(t)
            }
          }
        }
      first.foreach(throw _)
    }
    val result = try body(h) catch { case t: Throwable => teardown(Some(t)); throw t }
    teardown(None)
    result
  }

  // ---- timing and stats ----------------------------------------------

  /** `f`'s result and its wall-clock seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The middle sample (the upper one of an even count). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  /** Median absolute deviation from the median. */
  def mad(xs: Seq[Double]): Double = {
    val m = median(xs)
    median(xs.map(x => math.abs(x - m)))
  }

  // ---- stage meter ---------------------------------------------------

  /** Running totals over every job and stage since a meter opened. */
  final case class Stages(jobWallS: Double, stageWallS: Double, taskS: Double,
      memSpillBytes: Long, diskSpillBytes: Long, inputBytes: Long, inputRecords: Long) {
    def -(o: Stages): Stages = Stages(jobWallS - o.jobWallS, stageWallS - o.stageWallS,
      taskS - o.taskS, memSpillBytes - o.memSpillBytes, diskSpillBytes - o.diskSpillBytes,
      inputBytes - o.inputBytes, inputRecords - o.inputRecords)
  }

  /** Counts job wall, stage wall, executor task time, memory and disk
    * spill, and bytes/records read, from the moment it is built until
    * `close()`. `read()` drains the listener bus first, so a reading
    * taken right after a query has seen every one of its stages. */
  final class StageMeter(spark: SparkSession) extends SparkListener with AutoCloseable {
    private val jobStarts = new ConcurrentHashMap[Integer, java.lang.Long]
    private val jobMs, stageMs, taskMs, memSpill, diskSpill, inBytes, inRecs = new AtomicLong
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(j: SparkListenerJobStart): Unit = jobStarts.put(j.jobId, j.time)

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(j.jobId)).foreach(t0 => jobMs.addAndGet(j.time - t0))

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      for (s <- si.submissionTime; c <- si.completionTime) stageMs.addAndGet(c - s)
      taskMs.addAndGet(m.executorRunTime)
      memSpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
      inBytes.addAndGet(m.inputMetrics.bytesRead)
      inRecs.addAndGet(m.inputMetrics.recordsRead)
    }

    def read(): Stages = {
      ListenerFlush.waitUntilEmpty(spark.sparkContext)
      Stages(jobMs.get / 1e3, stageMs.get / 1e3, taskMs.get / 1e3, memSpill.get,
        diskSpill.get, inBytes.get, inRecs.get)
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(this)
  }

  // ---- JSON ----------------------------------------------------------

  /** `x` rounded half-up to `digits` decimals, rendered the same under
    * every default locale; a NaN or infinity is `null`. */
  def num(x: Double, digits: Int = 3): JValue =
    if (x.isNaN || x.isInfinite) JNull
    else JDecimal(BigDecimal(x).setScale(digits, BigDecimal.RoundingMode.HALF_UP))

  /** One compact JSON line; strings are escaped. */
  def render(doc: JValue): String = JsonMethods.compact(JsonMethods.render(doc))

  /** Write `doc` as one line to `path`. */
  def save(path: String, doc: JValue): Unit =
    Files.writeString(Paths.get(path), render(doc) + "\n")

  /** Print `doc` as one line, and write it to `out` when given. */
  def emit(doc: JValue, out: Option[String] = None): Unit = {
    out.foreach(save(_, doc))
    println(render(doc))
  }
}

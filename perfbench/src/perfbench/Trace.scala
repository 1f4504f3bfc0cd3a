package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** A timed region of the benchmark: one call into a module.
  * Times are epoch milliseconds (comparable with Spark's task
  * launch/finish times) plus a nanosecond duration. */
final class Span(val id: Long, val name: String, val parent: Long,
    val startMs: Long, val startNs: Long) {
  var endMs: Long = 0L
  var endNs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Work Spark did on behalf of one span: every job, stage and task
  * whose `perfbench.span` local property carried the span's id, plus
  * the query executions that finished while the span was innermost. */
final class SpanCounters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, schedDelayMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output, recordsWritten = 0L
  var planningMs = 0L
  var gridRewrites = 0L
  var lshCandidates = 0L
  var lshSeen = false
  val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
  /** stage id -> task durations (ms) */
  val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
}

/** Spans around every call into a module, attributed through Spark's
  * public listener APIs: a SparkListener for jobs/stages/tasks (keyed
  * by the span id carried in a local property) and a
  * QueryExecutionListener for planning phases and executed plans.
  * Everything stays in memory until the run ends. With tracing off
  * `span` only runs the body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val Key = "perfbench.span"
  private val sc = spark.sparkContext
  private var nextId = 1L
  private val stack = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[Long, SpanCounters]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val finishedQe = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  @volatile var unattributedJobs = 0L

  def countersOf(id: Long): SpanCounters = counters.computeIfAbsent(id, _ => new SpanCounters)

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(Key))).map(_.toLong)

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        spanOf(e.properties) match {
          case Some(id) => countersOf(id).synchronized { countersOf(id).jobs += 1 }
          case None => unattributedJobs += 1
        }

      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val id = spanOf(e.properties).getOrElse(0L)
        stageSpan.put(e.stageInfo.stageId, id)
        stageSubmit.put(e.stageInfo.stageId,
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
        val c = countersOf(id)
        c.synchronized { c.stages += 1 }
      }

      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val id: Long = stageSpan.getOrDefault(e.stageId, 0L)
        val c = countersOf(id)
        val info = e.taskInfo
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          c.taskIntervals += ((info.launchTime, info.finishTime))
          c.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) +=
            (info.finishTime - info.launchTime)
          c.schedDelayMs += math.max(0L,
            info.launchTime - stageSubmit.getOrDefault(e.stageId, info.launchTime))
          if (m != null) {
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.input += m.inputMetrics.bytesRead
            c.output += m.outputMetrics.bytesWritten
            c.recordsWritten += m.outputMetrics.recordsWritten
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        finishedQe.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        finishedQe.add(qe)
    })
  }

  /** Run `body` as span `name`, a child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption
    val s = new Span(nextId, name, parent.map(_.id).getOrElse(0L),
      System.currentTimeMillis(), System.nanoTime())
    nextId += 1
    spans += s
    stack.push(s)
    sc.setLocalProperty(Key, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.pop()
      sc.setLocalProperty(Key, parent.map(_.id.toString).orNull)
      drainQueryExecutions(s)
    }
  }

  /** Attribute the query executions finished since the last drain to
    * `s`: ops run one at a time, so whatever completed while `s` was
    * the innermost open span belongs to it. */
  private def drainQueryExecutions(s: Span): Unit = {
    org.apache.spark.perfbench.BusFlush(sc)
    val c = countersOf(s.id)
    var qe = finishedQe.poll()
    while (qe != null) {
      val phases = qe.tracker.phases
      val plan = planNodes(qe.executedPlan)
      c.synchronized {
        c.planningMs += Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum
        if (plan.exists(_.output.exists(_.name == "graft_cx")) ||
            plan.exists(_.verboseStringWithOperatorId().contains("graft_cx")))
          c.gridRewrites += 1
        plan.filter(p => p.nodeName.contains("Join") &&
            p.verboseStringWithOperatorId().contains("band_key"))
          .foreach { j =>
            j.metrics.get("numOutputRows").foreach { m =>
              c.lshCandidates += m.value; c.lshSeen = true
            }
          }
      }
      qe = finishedQe.poll()
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  def flush(): Unit = if (enabled) org.apache.spark.perfbench.BusFlush(sc)

  /** Drop query executions that finished outside any span (set-up). */
  def discardPending(): Unit = { flush(); finishedQe.clear() }

  /** The span and all of its descendants. */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def go(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).toSeq.flatMap(go)
    go(root)
  }

  /** Counters summed over a set of spans. */
  def sum(ss: Seq[Span]): SpanCounters = {
    val out = new SpanCounters
    ss.foreach { s =>
      Option(counters.get(s.id)).foreach { c => c.synchronized {
        out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
        out.runMs += c.runMs; out.cpuNs += c.cpuNs; out.gcMs += c.gcMs
        out.schedDelayMs += c.schedDelayMs
        out.shuffleWrite += c.shuffleWrite; out.shuffleRead += c.shuffleRead
        out.spill += c.spill; out.input += c.input; out.output += c.output
        out.recordsWritten += c.recordsWritten; out.planningMs += c.planningMs
        out.gridRewrites += c.gridRewrites
        out.lshCandidates += c.lshCandidates; out.lshSeen ||= c.lshSeen
        out.taskIntervals ++= c.taskIntervals
        c.stageTasks.foreach { case (k, v) =>
          out.stageTasks.getOrElseUpdate(k, mutable.ArrayBuffer[Long]()) ++= v }
      } }
    }
    out
  }

  /** Wall time of `s` during which no task attributed to its subtree
    * ran: planning, job launch and driver-side work. */
  def driverSeconds(s: Span): Double = {
    val ivs = sum(subtree(s)).taskIntervals
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.seconds - covered / 1e3)
  }

  /** Span duration minus the part covered by its child spans. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    kids.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, (s.endNs - s.startNs - covered) / 1e9)
  }

  /** The worst stage's max/median task time among stages with at least
    * two tasks (1.0 when no stage qualifies). */
  def taskSkew(c: SpanCounters): Double = {
    val ratios = c.stageTasks.values.filter(_.size >= 2).map { ts =>
      val sorted = ts.sorted
      val med = sorted(sorted.size / 2).toDouble
      sorted.last / math.max(med, 1.0)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  def spansJson(): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val c = sum(Seq(s))
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
      "self_seconds" -> selfSeconds(s), "jobs" -> c.jobs, "tasks" -> c.tasks,
      "task_seconds" -> c.runMs / 1e3, "planning_seconds" -> c.planningMs / 1e3)
  }
}

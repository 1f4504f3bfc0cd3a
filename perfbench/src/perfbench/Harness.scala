package perfbench

import graft.Main
import graft.functions.GraftExtensions
import graft.sources.OsmXml
import graft.streaming.Replication
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: builds the session the way the
  * shipped CLI does, sets up the workload, drives it for the
  * configured seconds through the program's public functions, checks
  * every output and writes raw samples to `<work>/result.json`.
  *
  * Usage: `perfbench.Harness <config.json>` (written by run.py). */
object Harness {

  implicit val formats: Formats = DefaultFormats

  final class Config(j: JValue) {
    val workload: String = (j \ "workload").extract[String]
    val seed: Long = (j \ "seed").extract[Long]
    val seconds: Double = (j \ "seconds").extract[Double]
    val trace: Boolean = (j \ "trace").extract[Boolean]
    val startMs: Long = (j \ "start_ms").extract[Long]
    val work: Path = Paths.get((j \ "work").extract[String])
    val data: String = (j \ "data").extractOrElse[String]("")
    val world: Path = Paths.get((j \ "world").extractOrElse[String]("."))
    val warm: Path = Paths.get((j \ "warm").extractOrElse[String]("."))
    val corpus: JValue = (j \ "corpus")
    val truth: JValue = JsonMethods.parse(Files.readString(Paths.get((j \ "truth").extract[String])))
    val entries: Seq[String] = (j \ "entries").extractOrElse[Seq[String]](Nil)
    val fault: String = (j \ "fault").extractOrElse[String]("")
    val cores: Int = (j \ "cores").extract[Int]
    val oracleDone: String = (j \ "oracle_done").extractOrElse[String]("")
  }

  def main(args: Array[String]): Unit = {
    val cfg = new Config(JsonMethods.parse(Files.readString(Paths.get(args(0)))))
    // the shipped CLI's session (graft.Main.main), at this host's core count
    val spark = SparkSession.builder()
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .master(s"local[${cfg.cores}]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark, cfg)
    try {
      cfg.workload match {
        case "ingest" => run.ingest()
        case "query" => run.query()
        case "selftest-spans" => run.selftestSpans()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      run.writeResult()
    } finally spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}

final class Run(spark: SparkSession, cfg: Harness.Config) {
  import Harness.formats

  val tracer = new Tracer(spark, cfg.trace)
  private val rng = new scala.util.Random(cfg.seed)

  // ---- samples and verdicts ----------------------------------------
  private var deadlineNs = 0L
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val info = mutable.LinkedHashMap[String, Any]()
  val perLayer = mutable.LinkedHashMap[String, Double]()
  val absent = mutable.LinkedHashMap[String, String]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  /** SparkEntry name -> (set-up result dir, timed executions) */
  val oracleRuns = mutable.LinkedHashMap[String, (String, Int)]()

  private def sample(kind: String, v: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer[Double]()) += v

  /** Record one checked operation. `expected`/`actual` are canonical
    * values; a configured fault corrupts one op kind's actual value. */
  private def check(op: String, expected: Any, actual: => Any): Boolean = {
    attempted += 1
    val got = try { if (cfg.fault == op) "<fault>" else actual }
      catch { case e: Throwable => s"<error: $e>" }
    val ok = got == expected
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += s"$op: expected ${short(expected)} got ${short(got)}"
    }
    ok
  }

  /** An op that threw before its output could be checked. */
  private def failedOp(op: String, e: Throwable): Unit = {
    attempted += 1
    failed += 1
    if (failures.size < 20) failures += s"$op: ${short(e)}"
  }

  private def short(v: Any): String = { val s = String.valueOf(v); if (s.length > 200) s.take(200) + "..." else s }

  private def startWindow(): Unit = {
    // the DuckDB ground truth is computed beside the JVM's set-up; the
    // timed window starts only once it is done, so it never shares cores
    if (cfg.oracleDone.nonEmpty) phase("await_oracle") {
      val done = Paths.get(cfg.oracleDone)
      while (!Files.exists(done)) Thread.sleep(20)
    }
    tracer.discardPending()
    deadlineNs = System.nanoTime() + (cfg.seconds * 1e9).toLong
    info("setup_s") = (System.currentTimeMillis() - cfg.startMs) / 1e3
    info("setup_phases") = setupPhases.synchronized(setupPhases.toMap)
    info("jvm_start_s") = (java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime - cfg.startMs) / 1e3
  }

  private val setupPhases = mutable.LinkedHashMap[String, Double]()

  /** A timed set-up step, reported in the detail. Set-up steps may run
    * on several threads, so they carry no span. */
  private def phase[T](name: String)(body: => T): T = {
    val (r, s) = timed(body)
    setupPhases.synchronized { setupPhases(name) = setupPhases.getOrElse(name, 0.0) + s }
    r
  }

  private def timeLeft: Boolean = System.nanoTime() < deadlineNs

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  // ---- canonical forms ----------------------------------------------
  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)

  private def cell(v: Any): String = v match {
    case null => "null"
    case t: java.sql.Timestamp => tsFmt.format(t.toInstant)
    case i: java.time.Instant => tsFmt.format(i)
    case d: java.math.BigDecimal => d.toPlainString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"$k=$x" }.sorted.mkString(",")
    case other => other.toString
  }

  private val csCols = Seq("id", "user_id", "created_at", "min_lat", "max_lat",
    "min_lon", "max_lon", "closed_at", "open", "num_changes", "user_name", "tags")

  def changesetRow(r: Row): String = csCols.map(c => cell(r.getAs[Any](c))).mkString("|")

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => r.toSeq.map(cell).mkString("|")).sorted

  /** Order-insensitive content digest computed by Spark itself: row
    * count and the exact sum of per-row 64-bit hashes of the row's JSON. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)))
    val r = df.agg(count(lit(1)), sum(h.cast(DecimalType(20, 0)))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  // ---- changeset world ----------------------------------------------
  private var world = cfg.world
  private var db = cfg.work.resolve("db")
  private def csDir = db.resolve("tables").resolve("changesets")
  private def dump = world.resolve("dump/changesets.osm.bz2").toString
  private def feed = world.resolve("feed")

  private def cli(args: String*): Seq[String] = Main.run(spark, Main.parse(args.toList))

  private def load(): Unit =
    cli("-d", db.toString, "-c", "-f", dump, "--init-sequence", "0")

  private def replicate(): Unit = cli("-d", db.toString, "-r", feed.toString)

  private def commentCount(): Long =
    Replication.readTable(spark, csDir).filter(expr("map_contains_key(tags, 'comment')")).count()

  private def publish(seq: Long): Unit = {
    val rel = Replication.sequencePath(seq)
    val to = feed.resolve(rel)
    Files.createDirectories(to.getParent)
    Files.move(world.resolve("pending").resolve(rel), to, StandardCopyOption.ATOMIC_MOVE)
    val tmp = feed.resolve("state.yaml.tmp")
    Files.writeString(tmp,
      s"---\nlast_run: 2015-11-16 12:00:00.000000000 +00:00\nsequence: $seq\n")
    Files.move(tmp, feed.resolve("state.yaml"), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def tables = Seq(Replication.changesetTable(csDir), Replication.commentsTable(csDir))

  /** (files, bytes) referenced by the current manifests of both tables. */
  private def liveFiles(): (Long, Long) = {
    val files = tables.flatMap { t =>
      t.manifest.values.toSeq.flatMap { rel =>
        val d = t.dir.resolve(rel)
        if (!Files.isDirectory(d)) Nil
        else {
          val ls = Files.list(d)
          try ls.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
          finally ls.close()
        }
      }
    }
    (files.size.toLong, files.map(Files.size).sum)
  }

  private def manifests(): Seq[Map[Int, String]] = tables.map(_.manifest)

  // ---- ingest ---------------------------------------------------------
  def ingest(): Unit = {
    val t = cfg.truth
    val ticks = (t \ "ticks").extract[Seq[JValue]]
    // set-up: the same load, catch-up and ticks over a small world of
    // its own, so the timed window measures the warm code paths
    world = cfg.warm
    db = cfg.work.resolve("warmdb")
    phase("warm_load")(load())
    phase("warm_replicate")(replicate())
    (3L to 5L).foreach { seq =>
      phase("warm_tick") {
        publish(seq); replicate()
        Replication.changesetTable(csDir).lookup(spark, 1L).collect()
        commentCount()
      }
    }
    world = cfg.world
    startWindow()
    val runSpan = tracer.span("run") {
      // two rounds of bulk load + backlog catch-up into fresh databases;
      // the ticks then run on the second
      val ab = t \ "after_backlog"
      // only checked ops contribute latency samples; an op that throws
      // or answers wrong is counted in `failed` instead
      Seq("db1", "db").foreach { name =>
        db = cfg.work.resolve(name)
        try {
          val (_, loadS) = timed(tracer.span("cli.load")(load()))
          if (check("load", (t \ "dump_changesets").extract[Long],
              tracer.span("check.load")(Replication.readTable(spark, csDir).count())))
            sample("load", loadS)
        } catch { case e: Exception => failedOp("load", e) }
        try {
          val (_, catchS) = timed(tracer.span("cli.replicate")(replicate()))
          if (check("catchup",
              ((ab \ "changesets").extract[Long], (ab \ "comment_count").extract[Long]),
              tracer.span("check.catchup")(
                (Replication.readTable(spark, csDir).count(), commentCount()))))
            sample("pass", catchS)
        } catch { case e: Exception => failedOp("catchup", e) }
      }
      info("load_rows") = (t \ "dump_changesets").extract[Long]
      info("backlog_diffs") = (t \ "backlog").extract[Long]
      val tickSpans = mutable.ArrayBuffer[(Span, JValue, Int)]()
      val it = ticks.iterator
      var nTicks = 0
      while (timeLeft && it.hasNext) {
        val tk = it.next()
        nTicks += 1
        val before = if (cfg.trace) manifests() else Nil
        val id = (tk \ "lookup_id").extract[Long]
        try {
          val ((row, n), s) = timed(tracer.span("tick") {
            publish((tk \ "seq").extract[Long])
            tracer.span("cli.replicate")(replicate())
            val row = tracer.span("streaming.lookup")(
              Replication.changesetTable(csDir).lookup(spark, id).collect().toSeq)
            val n = tracer.span("streaming.fresh_read")(commentCount())
            (row, n)
          })
          if (check("tick",
              ((tk \ "lookup_row").extract[String], (tk \ "comment_count").extract[Long]),
              (row.map(changesetRow).mkString(";"), n)))
            sample("op", s)
        } catch { case e: Exception => failedOp("tick", e) }
        if (cfg.trace) {
          val after = manifests()
          val rewritten = before.zip(after).map { case (b, a) =>
            a.count { case (k, v) => !b.get(k).contains(v) } }.sum
          tickSpans += ((tracer.spans.filter(_.name == "tick").last, tk, rewritten))
        }
      }
      info("ticks") = nTicks
      tickSpans
    }
    if (cfg.trace) {
      val run = tracer.spans.find(_.name == "run").get
      val ticksDone = runSpan.toSeq
      def med(xs: Seq[Double]): Double = Stats.median(xs)
      def byName(n: String, within: Seq[Span]) = within.filter(_.name == n).map(_.seconds)
      val tickTrees = ticksDone.map { case (s, _, _) => tracer.subtree(s) }
      perLayer("cli.load_s") = med(byName("cli.load", tracer.spans.toSeq))
      perLayer("cli.replicate_s") = med(tickTrees.flatMap(byName("cli.replicate", _)))
      perLayer("streaming.lookup_s") = med(tickTrees.flatMap(byName("streaming.lookup", _)))
      perLayer("streaming.fresh_read_s") = med(tickTrees.flatMap(byName("streaming.fresh_read", _)))
      perLayer("streaming.jobs_per_tick") = med(tickTrees.map(tr => tracer.sum(tr).jobs.toDouble))
      perLayer("streaming.bytes_written_per_tick_mb") =
        med(tickTrees.map(tr => tracer.sum(tr).output / 1048576.0))
      perLayer("streaming.buckets_rewritten_per_tick") = med(ticksDone.map(_._3.toDouble))
      ticksDone.headOption.foreach { case (s, tk, _) =>
        val written = tracer.sum(tracer.subtree(s).filter(_.name == "cli.replicate")
          .flatMap(tracer.subtree)).recordsWritten
        perLayer("streaming.rows_written_per_row_changed") =
          written.toDouble / (tk \ "changed_ids").extract[Long]
      }
      val (files, bytes) = liveFiles()
      perLayer("streaming.live_files") = files.toDouble
      perLayer("streaming.live_mb") = bytes / 1048576.0
      ticksDone.lastOption.foreach { case (_, tk, _) =>
        perLayer("streaming.stored_bytes_per_changeset") =
          bytes.toDouble / (tk \ "changesets").extract[Long]
      }
      sparkLayer(run)
      // the sources layer in isolation, outside the timed window: the
      // same dump, and the last published diff, scanned to a noop sink
      def scanNoop(path: String): Unit = {
        val raw = OsmXml.scan(spark, path)
        OsmXml.changesets(raw).write.mode("overwrite").format("noop").save()
        OsmXml.comments(raw).write.mode("overwrite").format("noop").save()
      }
      tracer.span("sources.dump_scan")(scanNoop(dump))
      val dumpScan = tracer.spans.last
      perLayer("sources.dump_scan_s") = dumpScan.seconds
      perLayer("sources.input_mb") = tracer.sum(Seq(dumpScan)).input / 1048576.0
      ticksDone.lastOption.foreach { case (_, tk, _) =>
        tracer.span("sources.diff_scan")(
          scanNoop(feed.resolve(Replication.sequencePath((tk \ "seq").extract[Long])).toString))
        perLayer("sources.diff_scan_s") = tracer.spans.last.seconds
      }
    }
  }

  // ---- query ----------------------------------------------------------
  private val readmeSql: Seq[(String, String)] = Seq(
    "sql_readme_1" ->
      "SELECT count(*) AS n FROM osm_changeset WHERE map_contains_key(tags, 'comment')",
    "sql_readme_2" ->
      "SELECT count(*) AS n FROM osm_changeset WHERE try_element_at(tags, 'created_by') LIKE 'JOSM%'",
    "sql_readme_3" ->
      """SELECT c.id, c.user_name, m.comment_user_id, m.comment_user_name, m.comment_text
        |FROM osm_changeset c
        |JOIN osm_changeset_comment m ON m.comment_changeset_id = c.id""".stripMargin,
    "sql_readme_4" ->
      """SELECT count(id) AS n
        |FROM osm_changeset c,
        |     (SELECT -74.0474545D AS lon_lo, 40.6884971D AS lat_lo,
        |             -74.0433990D AS lon_hi, 40.6911817D AS lat_hi) s
        |WHERE c.min_lon >= s.lon_lo AND c.max_lon <= s.lon_hi
        |  AND c.min_lat >= s.lat_lo AND c.max_lat <= s.lat_hi""".stripMargin,
    "sql_area_filter" ->
      """SELECT count(*) AS n FROM osm_changeset
        |WHERE bbox_area(CAST(min_lon AS DOUBLE), CAST(min_lat AS DOUBLE),
        |                CAST(max_lon AS DOUBLE), CAST(max_lat AS DOUBLE)) < 2.25e8""".stripMargin,
    "sql_user_day_rollup" ->
      """SELECT user_id, CAST(to_date(created_at) AS STRING) AS day,
        |       count(*) AS n, sum(num_changes) AS changes
        |FROM osm_changeset
        |GROUP BY user_id, to_date(created_at)""".stripMargin)

  private lazy val entryFns = graft.SparkEntry.queries

  /** Set-up execution of a SparkEntry entry: its result is written for
    * the DuckDB comparison, and its digest is what every later
    * execution must reproduce. */
  private def warmEntry(name: String): String = {
    val out = cfg.work.resolve("results").resolve(name).toString
    phase(name) {
      entryFns(name)(spark, cfg.data).write.mode("overwrite").parquet(out)
      oracleRuns.synchronized { oracleRuns(name) = (out, 0) }
      digest(spark.read.parquet(out))
    }
  }

  private def runEntry(name: String, ref: String): (Boolean, Double) = {
    val (d, s) = timed(tracer.span(s"operators.$name")(
      try digest(entryFns(name)(spark, cfg.data)) catch { case e: Throwable => s"<error: $e>" }))
    oracleRuns(name) = oracleRuns(name).copy(_2 = oracleRuns(name)._2 + 1)
    (check(name, ref, d), s)
  }

  def query(): Unit = {
    // set-up runs on three threads: the changeset world through the CLI
    // and the README SQL on this one, the SparkEntry entries' set-up
    // executions split over the other two
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val (evens, odds) = cfg.entries.zipWithIndex.partition(_._2 % 2 == 0)
    val warmed = scala.concurrent.Future.sequence(Seq(evens, odds).map(half =>
      scala.concurrent.Future(half.map { case (n, _) => n -> warmEntry(n) })))
    phase("world") {
      load()
      replicate()
      GraftExtensions.register(spark)
      Replication.readTable(spark, csDir).createOrReplaceTempView("osm_changeset")
      Replication.commentsTable(csDir).read(spark).createOrReplaceTempView("osm_changeset_comment")
    }
    val truth = (cfg.truth \ "after_backlog" \ "readme").extract[Map[String, Seq[String]]]
    val sqlNames = readmeSql.map(_._1)
    val sqlText = readmeSql.toMap
    def runSql(name: String): Seq[String] = rowsOf(spark.sql(sqlText(name)))
    // set-up executions: compile, warm, and check once
    sqlNames.foreach(n => check(n, truth(n), phase(n)(runSql(n))))
    val refs = scala.concurrent.Await.result(warmed, scala.concurrent.duration.Duration.Inf)
      .flatten.toMap
    recallChecks()
    val mix = sqlNames ++ cfg.entries
    startWindow()
    tracer.span("run") {
      var complete = true
      while (timeLeft && complete) {
        val pass = rng.shuffle(mix)
        val t0 = System.nanoTime()
        val lat = mutable.ArrayBuffer[Double]()
        complete = pass.forall { n =>
          if (!timeLeft) false
          else {
            val (ok, s) =
              if (sqlText.contains(n)) {
                val (rows, s) = timed(tracer.span(s"operators.$n")(
                  try runSql(n) catch { case e: Throwable => Seq(s"<error: $e>") }))
                (check(n, truth(n), rows), s)
              } else runEntry(n, refs(n))
            if (ok) { lat += s; sample(s"entry.$n", s) }
            true
          }
        }
        // latencies pool over complete passes only, so every run pools
        // the same mix of queries
        if (complete) {
          sample("pass", (System.nanoTime() - t0) / 1e9)
          lat.foreach(sample("op", _))
        }
      }
    }
    info("mix") = mix
    if (cfg.trace) {
      val run = tracer.spans.find(_.name == "run").get
      operatorLayer(run, mix)
      val (files, bytes) = liveFiles()
      perLayer("streaming.live_files") = files.toDouble
      perLayer("streaming.live_mb") = bytes / 1048576.0
      perLayer("streaming.stored_bytes_per_changeset") =
        bytes.toDouble / (cfg.truth \ "after_backlog" \ "changesets").extract[Long]
      perLayer("plans.grid_rewrites") = tracer.sum(tracer.subtree(run)).gridRewrites.toDouble
      val lshSpans = tracer.subtree(run).filter(_.name == "operators.dedup_minhash_lsh")
      val lsh = tracer.sum(lshSpans.flatMap(tracer.subtree))
      if (lsh.lshSeen && lshSpans.nonEmpty)
        perLayer("operators.lsh_candidates_per_dup_pair") =
          lsh.lshCandidates.toDouble / lshSpans.size / math.max(1, dupPairs)
      else absent("operators.lsh_candidates_per_dup_pair") =
        "no band-key join with an output-row metric in the executed plans"
      sparkLayer(run)
    }
  }

  private def operatorLayer(run: Span, names: Seq[String]): Unit = {
    val inRun = tracer.subtree(run)
    names.foreach { n =>
      val xs = inRun.filter(_.name == s"operators.$n").map(_.seconds)
      if (xs.nonEmpty) perLayer(s"operators.${n}_s") = Stats.median(xs)
      else absent(s"operators.${n}_s") = "no timed execution in the run window"
    }
  }

  /** The engine under every module, over the timed window. */
  private def sparkLayer(run: Span): Unit = {
    val c = tracer.sum(tracer.subtree(run))
    perLayer("spark.planning_s") = c.planningMs / 1e3
    perLayer("spark.driver_s") = tracer.driverSeconds(run)
    perLayer("spark.jobs") = c.jobs.toDouble
    perLayer("spark.stages") = c.stages.toDouble
    perLayer("spark.tasks") = c.tasks.toDouble
    perLayer("spark.task_s") = c.runMs / 1e3
    perLayer("spark.cpu_s") = c.cpuNs / 1e9
    perLayer("spark.sched_delay_s") = c.schedDelayMs / 1e3
    perLayer("spark.gc_s") = c.gcMs / 1e3
    perLayer("spark.shuffle_write_mb") = c.shuffleWrite / 1048576.0
    perLayer("spark.shuffle_read_mb") = c.shuffleRead / 1048576.0
    perLayer("spark.spill_mb") = c.spill / 1048576.0
    perLayer("spark.input_mb") = c.input / 1048576.0
    perLayer("spark.output_mb") = c.output / 1048576.0
    perLayer("spark.task_skew") = tracer.taskSkew(c)
    info("unattributed_jobs") = tracer.unattributedJobs
  }

  // ---- planted-pair recall of the approximate entries ---------------
  private var dupPairs = 0

  /** Recall of the approximate entries on the corpus's planted pairs,
    * from their set-up results: MinHash-LSH over the planted duplicate
    * documents, the IMI probe over the planted near-twins of the query
    * vectors. A recall under the floor fails one op. */
  private def recallChecks(): Unit = {
    def pairs(name: String, a: String, b: String): Set[(Long, Long)] =
      oracleRuns.get(name).toSeq.flatMap { case (dir, _) =>
        spark.read.parquet(dir).select(a, b).collect().toSeq
          .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      }.toSet
    def planted(key: String): Set[(Long, Long)] =
      (cfg.corpus \ key).extract[Seq[Seq[Long]]].map(p => (p(0), p(1))).toSet
    val dups = planted("dup_doc_pairs")
    dupPairs = dups.size
    val dedupRecall = (dups & pairs("dedup_minhash_lsh", "doc_a", "doc_b")).size.toDouble /
      math.max(1, dups.size)
    val twins = planted("query_vec_pairs")
    val annRecall = (twins & pairs("sim_ivf_imi", "query_id", "vec_id")).size.toDouble /
      math.max(1, twins.size)
    perLayer("operators.dedup_recall") = dedupRecall
    perLayer("operators.ann_recall_at_5") = annRecall
    check("dedup_recall_floor", true, dedupRecall >= 0.75)
    check("ann_recall_floor", true, annRecall >= 0.6)
  }

  // ---- self test: span attribution of a toy job ----------------------
  def selftestSpans(): Unit = {
    startWindow()
    tracer.span("outer") {
      spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()
      tracer.span("inner")(spark.range(0, 1000, 1, 3).selectExpr("sum(id)").collect())
    }
    val outer = tracer.spans.find(_.name == "outer").get
    val inner = tracer.spans.find(_.name == "inner").get
    val own = tracer.sum(Seq(outer))
    val kid = tracer.sum(Seq(inner))
    info("selftest") = Map(
      "outer_own_jobs" -> own.jobs, "inner_jobs" -> kid.jobs,
      "outer_tree_jobs" -> tracer.sum(tracer.subtree(outer)).jobs,
      "inner_tasks" -> kid.tasks, "outer_own_tasks" -> own.tasks,
      "inner_planning_s" -> kid.planningMs / 1e3,
      "outer_seconds" -> outer.seconds, "outer_self_seconds" -> tracer.selfSeconds(outer),
      "inner_seconds" -> inner.seconds)
    sample("op", outer.seconds)
    check("selftest", true, true)
  }

  // ---- output ---------------------------------------------------------
  def writeResult(): Unit = {
    tracer.flush()
    val out = Map(
      "setup_s" -> info.getOrElse("setup_s", 0.0),
      "peak_rss_mb" -> Harness.peakRssMb(),
      "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "info" -> info.toMap,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "oracle_runs" -> oracleRuns.map { case (k, (d, n)) =>
        k -> Map("dir" -> d, "executions" -> n) }.toMap,
      "per_layer" -> perLayer.toMap, "absent" -> absent.toMap,
      "sql_conf" -> spark.conf.getAll,
      "spans" -> (if (cfg.trace) tracer.spansJson() else Nil))
    Files.writeString(cfg.work.resolve("result.json"), Serialization.write(out))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.operators.Upsert
import graft.streaming.Replication

/** Upsert/merge + replication invariants. The central safety property
  * is the reference's own (README.md:59): re-applying a diff "will
  * just update the data to its current state again" — idempotence of
  * merge, checked here as a ScalaCheck property over generated
  * changelogs. */
class UpsertSpec extends AnyFunSuite {

  /** Deterministic property driver: n samples from a seeded Gen. */
  private def forSamples[A](gen: Gen[A], n: Int = 15)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  private def sameRows(a0: DataFrame, b0: DataFrame): Boolean = {
    // MapType columns are not set-op comparable: stringify them
    def norm(df: DataFrame): DataFrame =
      df.schema.fields.foldLeft(df) {
        case (d, f) if f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] =>
          d.withColumn(f.name, to_json(col(f.name)))
        case (d, _) => d
      }
    val (a, b) = (norm(a0), norm(b0))
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
  }

  private val changelogGen = for {
    n <- Gen.chooseNum(0, 40)
    rows <- Gen.listOfN(n, for {
      id <- Gen.chooseNum(1L, 10L)
      seq <- Gen.chooseNum(1L, 20L)
      v <- Gen.alphaLowerStr.map(_.take(6))
    } yield (id, seq, v))
  } yield rows

  test("merge is idempotent: apply(apply(s,d),d) == apply(s,d)") {
    forSamples(Gen.zip(changelogGen, changelogGen), n = 10) { case (base, diff) =>
      val s0 = Upsert.lastWins(base.toDF("id", "seq", "v"), Seq("id"), Seq(col("seq"), col("v")))
      val d0 = Upsert.lastWins(diff.toDF("id", "seq", "v"), Seq("id"), Seq(col("seq"), col("v")))
      val once = Upsert.merge(s0, d0, Seq("id"))
      val twice = Upsert.merge(once, d0, Seq("id"))
      assert(sameRows(once, twice))
    }
  }

  test("merge keys are unique and updates win") {
    val base = Seq((1L, "old"), (2L, "keep")).toDF("id", "v")
    val upd = Seq((1L, "new"), (3L, "ins")).toDF("id", "v")
    val m = Upsert.merge(base, upd, Seq("id"))
    assert(m.count() === 3)
    assert(m.filter($"id" === 1).select("v").head().getString(0) === "new")
    assert(m.filter($"id" === 2).select("v").head().getString(0) === "keep")
  }

  test("lastWins picks highest ordering per key, deterministically") {
    val df = Seq((1L, 1L, "a"), (1L, 3L, "c"), (1L, 2L, "b"), (2L, 1L, "x"))
      .toDF("id", "seq", "v")
    val got = Upsert.lastWins(df, Seq("id"), Seq(col("seq")))
      .orderBy("id").select("v").collect().map(_.getString(0)).toSeq
    assert(got === Seq("c", "x"))
  }

  test("sequencePath matches the nnn/nnn/nnn addressing (changesetmd.py:127-135)") {
    assert(Replication.sequencePath(1612345L) === "001/612/345.osm.gz")
    assert(Replication.sequencePath(7L) === "000/000/007.osm.gz")
  }

  test("catchUp applies all diffs once, is a no-op when caught up, and replay is idempotent") {
    val root = Files.createTempDirectory("graft_t_repl")
    val base = root.resolve("repl")
    val table = root.resolve("tables/cs")
    val state = root.resolve("state.txt")
    Replication.writeFixtureWorld(base, 4)
    Replication.StateDoc.write(state,
      Replication.ReplState(0L, None, updateInProgress = false))

    assert(Replication.catchUp(spark, base, table, state, batchSize = 3) === 4)
    // materialize the snapshot fully: catchUp vacuums superseded
    // bucket versions, so a lazy DataFrame over pre-replay paths is
    // stale by design (GC'd storage, like any table format's VACUUM)
    def snapshot() = Replication.readTable(spark, table)
      .select("id", "user_name", "num_changes", "open")
      .orderBy("id").collect().toSeq
    val after = snapshot()
    assert(after.find(_.getLong(0) == 11L).get.getInt(2) === 4)

    // caught up -> no work
    assert(Replication.catchUp(spark, base, table, state) === 0)

    // deliberate rewind (README.md:58-59): re-apply everything
    Replication.StateDoc.write(state,
      Replication.ReplState(0L, None, updateInProgress = false))
    assert(Replication.catchUp(spark, base, table, state, batchSize = 2) === 4)
    assert(snapshot() === after)
  }

  test("catchUp merge is partition-pruned: untouched bucket dirs stay byte-identical") {
    val root = Files.createTempDirectory("graft_t_prune")
    val base = root.resolve("repl")
    val tableDir = root.resolve("tables/cs")
    val state = root.resolve("state.txt")
    // bulk-load many keys so every bucket is populated
    val pt = Replication.changesetTable(tableDir)
    val wide = spark.range(1000, 1200).select(
      col("id"),
      col("id").as("user_id"),
      lit(null).cast("timestamp").as("created_at"),
      lit(null).cast("decimal(10,7)").as("min_lat"),
      lit(null).cast("decimal(10,7)").as("max_lat"),
      lit(null).cast("decimal(10,7)").as("min_lon"),
      lit(null).cast("decimal(10,7)").as("max_lon"),
      lit(null).cast("timestamp").as("closed_at"),
      lit(true).as("open"),
      lit(1).as("num_changes"),
      lit("bulk").as("user_name"),
      map().cast("map<string,string>").as("tags"))
    pt.mergeInto(spark, wide)
    val manifestBefore = pt.manifest
    assert(manifestBefore.size === 8) // all buckets hit
    def bucketBytes(rel: String): Seq[(String, Long)] = {
      val d = tableDir.resolve(rel)
      val s = java.nio.file.Files.walk(d)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (d.relativize(p).toString, java.nio.file.Files.size(p))).toSeq.sorted
      finally s.close()
    }
    val bytesBefore = manifestBefore.map { case (b, rel) => b -> bucketBytes(rel) }

    // diffs touch only ids {11, 101..104}: a few buckets at most
    Replication.writeFixtureWorld(base, 4)
    Replication.StateDoc.write(state,
      Replication.ReplState(0L, None, updateInProgress = false))
    Replication.catchUp(spark, base, tableDir, state, batchSize = 4)

    val manifestAfter = pt.manifest
    val untouched = manifestAfter.filter { case (b, rel) => manifestBefore(b) == rel }
    assert(untouched.nonEmpty, "some buckets must be untouched by a 5-key diff")
    untouched.foreach { case (b, rel) =>
      assert(bucketBytes(rel) === bytesBefore(b), s"bucket $b files changed")
    }
    // every key still present exactly once
    assert(Replication.readTable(spark, tableDir).count() === 200 + 5)
  }

  test("failure isolation: missing diff aborts the run, lock released, offset not advanced past applied batches (changesetmd.py:165-195)") {
    val root = Files.createTempDirectory("graft_t_fail")
    val base = root.resolve("repl")
    val table = root.resolve("tables/cs")
    val state = root.resolve("state.txt")
    Replication.writeFixtureWorld(base, 4)
    // sabotage: delete diff #3 so the second batch fails mid-run
    Files.delete(base.resolve(Replication.sequencePath(3L)))
    Replication.StateDoc.write(state,
      Replication.ReplState(0L, None, updateInProgress = false))
    intercept[Exception] {
      Replication.catchUp(spark, base, table, state, batchSize = 2)
    }
    // batch 1 (diffs 1-2) committed before the failure; offset reflects it
    assert(Replication.StateDoc.read(state).lastSequence === 2L)
    // lock must be released: a repaired rerun succeeds and catches up
    graft.sources.OsmXml.writeFixture(base.resolve(Replication.sequencePath(3L)),
      graft.sources.OsmXml.diffFixture(3L))
    assert(Replication.catchUp(spark, base, table, state, batchSize = 2) === 2)
    assert(Replication.StateDoc.read(state).lastSequence === 4L)
  }

  test("HTTP transport: catchUp over a live HTTP server completes and matches local-dir catchUp") {
    val root = Files.createTempDirectory("graft_t_http")
    val feed = root.resolve("feed")
    Replication.writeFixtureWorld(feed, 4)
    // serve the fixture world over real HTTP (loopback)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/replication/changesets", { exchange =>
      val rel = exchange.getRequestURI.getPath
        .stripPrefix("/replication/changesets/")
      val f = feed.resolve(rel)
      if (Files.isRegularFile(f)) {
        val bytes = Files.readAllBytes(f)
        exchange.sendResponseHeaders(200, bytes.length.toLong)
        exchange.getResponseBody.write(bytes)
      } else exchange.sendResponseHeaders(404, -1L)
      exchange.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val src = Replication.HttpSource(
        s"http://127.0.0.1:$port/replication/changesets",
        root.resolve("staging"))
      assert(src.serverState()._1 === 4L)
      val table = root.resolve("tables/cs")
      val state = root.resolve("state.txt")
      Replication.StateDoc.write(state,
        Replication.ReplState(0L, None, updateInProgress = false))
      assert(Replication.catchUp(spark, src, table, state,
        batchSize = 3, nBuckets = 8) === 4)
      val got = Replication.readTable(spark, table)
      assert(got.count() === 5) // id 11 + ids 101..104
      assert(got.filter($"id" === 11).select("num_changes").head().getInt(0) === 4)
      // diffs staged once, reused on re-run
      assert(Files.isRegularFile(root.resolve("staging")
        .resolve(Replication.sequencePath(4L))))
    } finally server.stop(0)
  }

  test("writer lock refuses concurrent catch-up (changesetmd.py:138-160)") {
    val dir = Files.createTempDirectory("graft_t_lock")
    Replication.withWriterLock(dir) {
      intercept[IllegalStateException] {
        Replication.withWriterLock(dir) { fail("second writer entered") }
      }
    }
    // released after the block: can lock again
    Replication.withWriterLock(dir) {}
  }

  test("state doc roundtrip incl. the (-1, null, 0) init sentinel (queries.py:35)") {
    val p = Files.createTempDirectory("graft_t_state").resolve("s.txt")
    Replication.StateDoc.init(p)
    assert(Replication.StateDoc.read(p) ===
      Replication.ReplState(-1L, None, updateInProgress = false))
    val st = Replication.ReplState(42L, Some("2015-11-16T12:00:00Z"), updateInProgress = true)
    Replication.StateDoc.write(p, st)
    assert(Replication.StateDoc.read(p) === st)
  }

  // ---- the driver-built replication batch ----------------------------

  /** One `<changeset>` element; id 0 writes no id attribute (a NULL key). */
  private def csXml(id: Int, closed: Option[String], n: Option[Int], uid: Int,
      tags: Seq[(String, String)], comments: Seq[(Int, Int, String)]): String = {
    val attrs = Seq(s"""id="$id"""").filter(_ => id != 0) ++
      Seq("""created_at="2015-11-15T23:00:00Z"""",
      s"""user="u$uid"""", s"""uid="$uid"""", """open="false"""") ++
      closed.map(c => s"""closed_at="2015-11-16T$c:00:00Z"""") ++ n.map(v => s"""num_changes="$v"""")
    val tagXml = tags.distinctBy(_._1).map { case (k, v) => s"""<tag k="$k" v="$v"/>""" }
    val cmXml = if (comments.isEmpty) "" else comments.map { case (cu, sec, t) =>
      s"""<comment uid="$cu" user="c$cu" date="2015-11-16T03:00:0${sec}Z"><text>$t</text></comment>"""
    }.mkString("<discussion>", "", "</discussion>")
    s"""  <changeset ${attrs.mkString(" ")}>${tagXml.mkString}$cmXml</changeset>"""
  }

  /** The tick property's fixed first two diffs (one batch at every
    * batch size it draws): id 1 in both diffs and twice in the first,
    * where closed_at breaks the `__seq` tie; id 2 twice with one
    * closed_at, where num_changes breaks it; id 3 with NULL closed_at
    * and NULL num_changes beside a non-null twin; changeset 4 with two
    * comments of one user in one second with different text, and a
    * replayed comment; a changeset with no id (a NULL key in both
    * tables), which replaces the loaded world's NULL-key rows. */
  private val plantedDiffs: Seq[Seq[String]] = Seq(
    Seq(csXml(0, Some("01"), None, 2, Nil, Seq((2, 0, "n"))),
      csXml(1, Some("01"), Some(5), 1, Seq("k0" -> "old"), Nil),
      csXml(1, Some("02"), Some(0), 2, Seq("k0" -> "new"), Nil),
      csXml(2, Some("01"), Some(1), 1, Nil, Nil),
      csXml(2, Some("01"), Some(2), 2, Seq("k1" -> "x"), Nil),
      csXml(3, None, None, 1, Nil, Nil),
      csXml(3, Some("01"), None, 2, Nil, Nil),
      csXml(4, None, None, 1, Nil, Seq((1, 0, "a"), (1, 0, "b"), (1, 0, "a")))),
    Seq(csXml(1, None, None, 3, Seq("k2" -> "last"), Seq((2, 1, "c")))))

  /** One random diff of the tick property: ids from a pool of 6 and
    * NULL, so ids repeat within a diff and across the diffs of a batch;
    * closed_at and num_changes from small sets with NULL; comments from
    * 2 users in 2 seconds with 3 texts. No two rows of one diff share
    * (id, closed_at, num_changes): that full tie has no defined winner
    * in either pipeline. */
  private val tickDiffGen: Gen[Seq[String]] = {
    val changeset = for {
      id <- Gen.chooseNum(0, 6)
      closed <- Gen.option(Gen.oneOf("01", "02"))
      n <- Gen.option(Gen.chooseNum(0, 2))
      uid <- Gen.chooseNum(1, 3)
      tags <- Gen.listOfN(2, Gen.zip(Gen.oneOf("k0", "k1", "k2"), Gen.alphaLowerStr.map(_.take(3))))
      nc <- Gen.chooseNum(0, 3)
      cms <- Gen.listOfN(nc, Gen.zip(Gen.chooseNum(1, 2), Gen.chooseNum(0, 1), Gen.oneOf("a", "b", "c")))
    } yield ((id, closed, n), csXml(id, closed, n, uid, tags, cms))
    Gen.chooseNum(1, 6).flatMap(k => Gen.listOfN(k, changeset))
      .map(_.distinctBy(_._1).map(_._2))
  }

  private def writeDiffs(feed: java.nio.file.Path, diffs: Seq[Seq[String]]): Unit = {
    diffs.zipWithIndex.foreach { case (cs, i) =>
      graft.sources.OsmXml.writeFixture(feed.resolve(Replication.sequencePath(i + 1L)),
        cs.mkString("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n",
          "\n", "\n</osm>\n"))
    }
    Files.writeString(feed.resolve("state.yaml"),
      s"---\nlast_run: 2015-11-16 12:00:00.000000000 +00:00\nsequence: ${diffs.size}\n")
  }

  /** A replication world loaded with the bulk fixture plus ids 1..6's
    * older versions and a changeset with no id (a NULL key, which a
    * batch's NULL-key rows replace), so every batch merges into a
    * non-empty table. */
  private def loadedWorld(name: String): (java.nio.file.Path, java.nio.file.Path, java.nio.file.Path) = {
    val root = Files.createTempDirectory(name)
    val dump = root.resolve("dump.osm")
    graft.sources.OsmXml.writeFixture(dump, graft.sources.OsmXml.bulkFixture.replace("</osm>",
      (1 to 6).map(i =>
        s"""<changeset id="$i" created_at="2015-11-15T20:00:00Z" open="true" user="old" uid="9">""" +
          s"""<discussion><comment uid="9" user="old" date="2015-11-15T20:00:00Z"><text>o$i</text></comment></discussion></changeset>"""
      ).mkString("", "\n", "\n") + csXml(0, None, None, 9, Nil, Seq((9, 0, "o"))) + "\n</osm>"))
    val tableDir = root.resolve("tables/cs")
    val raw = graft.sources.OsmXml.scan(spark, dump.toString)
    Replication.changesetTable(tableDir).mergeInto(spark, graft.sources.OsmXml.changesets(raw))
    Replication.commentsTable(tableDir).mergeInto(spark, graft.sources.OsmXml.comments(raw))
    val state = root.resolve("state.txt")
    Replication.StateDoc.write(state, Replication.ReplState(0L, None, updateInProgress = false))
    (root.resolve("feed"), tableDir, state)
  }

  test("property: catchUp's driver-built batches equal the scan-based reference pipeline") {
    val worldGen = for {
      n <- Gen.chooseNum(1, 5)
      diffs <- Gen.listOfN(n, tickDiffGen)
      batch <- Gen.chooseNum(2, 4)
    } yield (plantedDiffs ++ diffs, batch)
    forSamples(worldGen, n = 4) { case (diffs, batchSize) =>
      val (feed, tableDir, state) = loadedWorld("graft_t_tick_eq")
      var refCs = Replication.readTable(spark, tableDir).localCheckpoint()
      var refCm = Replication.commentsTable(tableDir).read(spark).localCheckpoint()
      writeDiffs(feed, diffs)
      assert(Replication.catchUp(spark, feed, tableDir, state, batchSize = batchSize) === diffs.size)
      // reference: OsmXml.scan -> Upsert.lastWins -> compactComments -> Upsert.merge
      (1 to diffs.size).grouped(batchSize).foreach { seqs =>
        val raws = seqs.map(q =>
          (graft.sources.OsmXml.scan(spark, feed.resolve(Replication.sequencePath(q.toLong)).toString), q))
        val cs = Upsert.lastWins(
          raws.map { case (raw, q) => graft.sources.OsmXml.changesets(raw).withColumn("__seq", lit(q)) }
            .reduce(_ unionByName _),
          Seq("id"), Seq(col("__seq"), col("closed_at"), col("num_changes"))).drop("__seq")
        refCs = Upsert.merge(refCs, cs, Seq("id")).localCheckpoint()
        refCm = Upsert.merge(refCm, Replication.compactComments(
          raws.map { case (raw, _) => graft.sources.OsmXml.comments(raw) }.reduce(_ unionByName _)),
          Seq("comment_changeset_id")).localCheckpoint()
      }
      assert(sameRows(Replication.readTable(spark, tableDir), refCs), s"changesets, batch $batchSize")
      assert(sameRows(Replication.commentsTable(tableDir).read(spark), refCm), s"comments, batch $batchSize")
    }
  }

  test("a one-diff catchUp into a loaded table launches at most 4 Spark jobs") {
    val (feed, tableDir, state) = loadedWorld("graft_t_tick_jobs")
    writeDiffs(feed, Seq(Seq(
      """  <changeset id="2" created_at="2015-11-15T23:00:00Z" closed_at="2015-11-16T01:00:00Z" open="false" num_changes="3" user="u1" uid="1"><tag k="a" v="b"/><discussion><comment uid="1" user="u1" date="2015-11-16T01:00:00Z"><text>hi</text></comment></discussion></changeset>""",
      """  <changeset id="77" created_at="2015-11-16T00:00:00Z" open="true" user="u2" uid="2"/>""")))
    val group = s"tick-jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val all = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        all.incrementAndGet()
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "one-diff catchUp")
      try assert(Replication.catchUp(spark, feed, tableDir, state, batchSize = 8) === 1)
      finally spark.sparkContext.clearJobGroup()
      org.apache.spark.graftbridge.ListenerFlush.waitUntilEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get > 0, "the listener saw no job of the catch-up")
    assert(jobs.get === all.get, "a job of the catch-up ran outside its job group")
    // each table's merge stages and key-aligned write; the comments
    // merge runs on its own thread and carries the caller's job group
    assert(jobs.get <= 4, s"one-diff catchUp launched ${jobs.get} jobs")
    assert(Replication.changesetTable(tableDir).lookup(spark, 2L)
      .select("num_changes").head().getInt(0) === 3)
    assert(Replication.commentsTable(tableDir).read(spark)
      .filter(col("comment_changeset_id") === 2).select("comment_text").collect()
      .map(_.getString(0)).toSeq === Seq("hi"))
  }

  test("a failing commit in either table: catchUp joins the other, rethrows, keeps the offset, and a re-run converges") {
    // the planted NULL-id changeset rides along: NULL is one key, so
    // the replayed batch replaces its NULL-key rows instead of adding them
    for (failing <- Seq("changesets", "comments")) {
      val (feed, tableDir, state) = loadedWorld("graft_t_branch_fail")
      writeDiffs(feed, plantedDiffs)
      val other = new java.util.concurrent.atomic.AtomicBoolean(false)
      // the failing table throws at its commit; the other commits late,
      // so it is still running when the failure is thrown
      def handle(t: graft.streaming.PartitionedTable, fail: Boolean) =
        new graft.streaming.PartitionedTable(t.dir, t.keyCol, t.nBuckets) {
          override protected[graft] def onBeforeCommit(commit: Long): Unit =
            if (fail) throw new IllegalStateException(s"injected $failing commit failure")
            else Thread.sleep(1500)
          override def mergeInto(spark: SparkSession, updates: DataFrame,
              txn: Option[(String, Long)], alsoRecord: Map[String, Long]): Seq[Int] = {
            val r = super.mergeInto(spark, updates, txn, alsoRecord)
            if (!fail) other.set(true)
            r
          }
        }
      val cs = handle(Replication.changesetTable(tableDir), failing == "changesets")
      val cm = handle(Replication.commentsTable(tableDir), failing == "comments")
      val e = intercept[IllegalStateException](Replication.catchUp(spark,
        Replication.LocalDirSource(feed), cs, cm, state, batchSize = 8))
      assert(e.getMessage === s"injected $failing commit failure")
      assert(other.get, s"the other table's merge had not finished when $failing failed")
      assert(Replication.StateDoc.read(state).lastSequence === 0L, "the offset advanced")
      // a clean re-run replays the batch and lands where a clean run does
      assert(Replication.catchUp(spark, feed, tableDir, state, batchSize = 8) === plantedDiffs.size)
      val (refFeed, refDir, refState) = loadedWorld("graft_t_branch_ref")
      writeDiffs(refFeed, plantedDiffs)
      assert(Replication.catchUp(spark, refFeed, refDir, refState, batchSize = 8) === plantedDiffs.size)
      assert(sameRows(Replication.readTable(spark, tableDir), Replication.readTable(spark, refDir)),
        s"changesets after a $failing failure")
      assert(sameRows(Replication.commentsTable(tableDir).read(spark),
        Replication.commentsTable(refDir).read(spark)), s"comments after a $failing failure")
    }
  }
}

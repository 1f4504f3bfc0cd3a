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
}

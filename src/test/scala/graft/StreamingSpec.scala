package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Watermark / late-data semantics (SURVEY.md §2h stream_late_data):
  * append-mode windowed agg emits a window only once its watermark
  * passes; late rows within the watermark still count, rows later
  * than the watermark are dropped. (The reference's replication
  * subsystem instead *applies* late diffs idempotently — covered by
  * UpsertSpec; this is the [ext] watermarked-analytics path.) */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def ts(s: String) = Timestamp.valueOf(s)

  test("sub-batch stream harness: sub-batches 0, 1, 2 once each in order, own rows only, staging deleted") {
    import spark.implicits._
    val rows = (0L until 30L).map(i => (i, (i % 3).toInt)).toDF("id", "sub_batch")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Seq[Int], Seq[String])]()
    graft.streaming.SubBatchState.streamSubBatches(spark, rows) { (k, frame) =>
      val rows = frame.select(col("sub_batch"), input_file_name()).as[(Int, String)]
        .collect().toSeq
      seen.add((k, rows.map(_._1), rows.map(_._2).distinct))
      ()
    }
    val calls = seen.asScala.toSeq
    assert(calls.map(_._1) === Seq(0, 1, 2))
    calls.foreach { case (k, subs, files) =>
      assert(subs.length === 10 && subs.forall(_ == k), s"sub-batch $k read $subs")
      assert(files.length === 1, s"sub-batch $k read $files")
    }
    val staging = calls.flatMap(_._3)
      .map(f => java.nio.file.Paths.get(new java.net.URI(f)).getParent).distinct
    assert(staging.length === 1)
    assert(!Files.exists(staging.head), s"staging dir ${staging.head} left behind")
  }

  test("osm-replication V2 source: sequence offsets checkpoint; restart reads only new diffs") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_v2src")
    val feed = root.resolve("feed")
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    graft.streaming.Replication.writeFixtureWorld(feed, 3)

    def drain(): Unit = {
      val q = spark.readStream.format("osm-replication")
        .option("path", feed.toString)
        .option("maxSeqsPerBatch", "2")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    drain()
    val first = spark.read.parquet(out)
    assert(first.count() === 6) // 3 diffs x 2 changesets
    assert(first.select("seq").distinct().as[Long].collect().toSet === Set(1L, 2L, 3L))

    // feed advances to seq 5 (files 1-3 rewritten byte-identically)
    graft.streaming.Replication.writeFixtureWorld(feed, 5)
    drain()
    val second = spark.read.parquet(out)
    assert(second.count() === 10) // only diffs 4-5 appended, no re-read
    assert(second.filter($"seq" <= 3).count() === 6)
    assert(second.filter($"id" === 11 && $"seq" === 5L)
      .select("num_changes").head().getInt(0) === 5)
  }

  test("osm-replication soak: ProcessingTime trigger follows a GROWING feed; offsets monotone, batches capped") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_v2soak")
    val feed = root.resolve("feed")
    graft.streaming.Replication.writeFixtureWorld(feed, 3)

    def advanceHead(seq: Int): Unit = { // atomic state.yaml swap — the
      // query's latestOffset polls this file while we rewrite it
      val tmp = feed.resolve("state.yaml.tmp")
      Files.writeString(tmp,
        s"---\nlast_run: 2015-11-16 12:00:00.000000000 +00:00\nsequence: $seq\n")
      Files.move(tmp, feed.resolve("state.yaml"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }

    val nFinal = 9
    val q = spark.readStream.format("osm-replication")
      .option("path", feed.toString)
      .option("maxSeqsPerBatch", "2")
      .load()
      .writeStream.format("memory").queryName("v2soak")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      // grow the feed WHILE the query runs: diff file first, head after
      (4 to nFinal).foreach { s =>
        graft.sources.OsmXml.writeFixture(
          feed.resolve(graft.streaming.Replication.sequencePath(s.toLong)),
          graft.sources.OsmXml.diffFixture(s.toLong))
        advanceHead(s)
        Thread.sleep(150)
      }
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def drained = spark.table("v2soak").count() == 2L * nFinal
      while (!drained && System.nanoTime() < deadline) Thread.sleep(100)
      assert(drained, s"soak under-drained: ${spark.table("v2soak").count()} of ${2 * nFinal} rows")
      // every diff seen exactly once — no replays, no holes
      val bySeq = spark.table("v2soak").groupBy("seq").count()
        .as[(Long, Long)].collect().toMap
      assert(bySeq.keySet === (1L to nFinal).toSet)
      assert(bySeq.values.forall(_ == 2L), s"per-seq row counts off: $bySeq")
    } finally q.stop()
    // offset monotonicity + admission capping across every batch that ran
    val offs = q.recentProgress.toSeq
      .filter(_.sources.nonEmpty).map(_.sources.head)
      .filter(s => s.startOffset != null && s.endOffset != null)
      .map(s => (s.startOffset.trim.toLong, s.endOffset.trim.toLong))
    assert(offs.nonEmpty)
    offs.foreach { case (lo, hi) =>
      assert(hi >= lo, s"offset went backwards: $lo -> $hi")
      assert(hi - lo <= 2, s"batch [$lo,$hi] wider than maxSeqsPerBatch=2")
    }
    offs.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(lo2 == hi1, s"batches not contiguous: end $hi1 then start $lo2")
      case _ =>
    }
  }

  test("osm-replication options are case-insensitive: camelCase maxSeqsPerBatch reaches the table") {
    // Spark passes getTable the original-case options map; the provider
    // must resolve through CaseInsensitiveStringMap or the admission-
    // control knob is silently ignored (default 8)
    val props = new java.util.HashMap[String, String]()
    props.put("path", "/tmp/feed")
    props.put("maxSeqsPerBatch", "2")
    val table = new graft.streaming.ReplicationSourceV2()
      .getTable(graft.streaming.ReplicationSourceV2.schema, Array.empty, props)
      .asInstanceOf[graft.streaming.ReplicationTable]
    assert(table.maxSeqsPerBatch === 2)
  }

  test("statePartitionsFor derives from input bytes: floor 1, session cap, ~32 MB per partition; session conf restored after the run") {
    // the r17 state-partition sizing (OPTIMIZATION_r17.md §2): a tiny
    // events source must get 1 state partition (not one per core),
    // a large one is capped at the session's own shuffle partitions
    val dir = Files.createTempDirectory("graft_spart")
    val ev = dir.resolve("events.parquet")
    Files.createDirectories(ev)
    Files.write(ev.resolve("part-0.parquet"), new Array[Byte](1 << 20))
    assert(graft.streaming.EventStreams.statePartitionsFor(spark, dir.toString) === 1)
    // 100 MB -> ceil(100/32) = 4, below any sane session cap
    Files.write(ev.resolve("part-1.parquet"), new Array[Byte](100 << 20))
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val got = graft.streaming.EventStreams.statePartitionsFor(spark, dir.toString)
    assert(got === math.min(cap, 4), s"got $got cap $cap")
    // the scoped override must not leak into the session: run a real
    // stateful stream and check the conf round-trips
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    graft.streaming.EventStreams.streamWindowAgg(spark, "/root/testdata/sf0.001")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
    graft.streaming.PartitionedTable.deleteRecursively(dir)
  }

  test("transformWithState (RocksDB) produces the same relation as mapGroupsWithState") {
    val d = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("user_id").collect().map(_.toSeq).toSeq
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(providerKey)
    val viaTws = rows(graft.streaming.EventStreams.streamStateTws(spark, d))
    val viaMgws = rows(graft.streaming.EventStreams.streamStateMgmt(spark, d))
    assert(viaTws === viaMgws)
    assert(viaTws.nonEmpty)
    // the RocksDB override is scoped: the session's provider is restored
    assert(spark.conf.getOption(providerKey) === before)
  }

  test("watermark finalizes windows; in-watermark late rows count, beyond-watermark rows drop") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_late_src").toString
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("v", LongType)))

    def writeBatch(rows: Seq[(Timestamp, Long)], n: Int): Unit =
      rows.toDF("ts", "v").coalesce(1).write.mode("append").parquet(src)

    // batch 1: two on-time events in the 00:00 and 00:10 windows
    writeBatch(Seq((ts("2024-01-01 00:05:00"), 1L), (ts("2024-01-01 00:12:00"), 2L)), 1)

    val agg = spark.readStream.schema(schema).parquet(src)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))

    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("late_demo")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      // nothing final yet: watermark = 00:12 - 10 min = 00:02
      assert(spark.table("late_demo").count() === 0)

      // batch 2: advances event time to 01:00 AND back-fills 00:06
      // (later than the current 00:02 watermark -> accepted)
      writeBatch(Seq((ts("2024-01-01 01:00:00"), 3L), (ts("2024-01-01 00:06:00"), 4L)), 2)
      q.processAllAvailable()
      // watermark now 00:50: the 00:00 and 00:10 windows are final
      val emitted = spark.table("late_demo").orderBy("win_start")
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSeq
      assert(emitted === Seq(("2024-01-01 00:00:00.0", 2L), ("2024-01-01 00:10:00.0", 1L)))

      // batch 3: 00:07 is older than the 00:50 watermark -> dropped
      writeBatch(Seq((ts("2024-01-01 00:07:00"), 5L)), 3)
      q.processAllAvailable()
      assert(spark.table("late_demo").count() === 2) // unchanged
      assert(spark.table("late_demo")
        .filter(col("win_start") === ts("2024-01-01 00:00:00")).head().getLong(1) === 2L)
    } finally q.stop()
  }
}

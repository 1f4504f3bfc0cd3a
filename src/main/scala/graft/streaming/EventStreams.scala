package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._
import java.util.concurrent.atomic.AtomicLong

/** Structured-Streaming operators over the `events` table
  * (SURVEY.md §2h): tumbling/sliding/session windows, watermarking,
  * and custom keyed state via mapGroupsWithState.
  *
  * The reference's replication loop is a hand-rolled micro-batch
  * engine (`changesetmd.py:179-186`); this module is the same
  * semantics on Spark's engine. `Trigger.AvailableNow` ≙ the bounded
  * catch-up loop: process everything available, commit state, stop —
  * so the queries below run hermetically in tests and in the driver's
  * Verify pass while remaining genuine streaming plans (they'd run
  * unchanged against a live file/Kafka source).
  */
object EventStreams {

  private val nameCounter = new AtomicLong(0)

  /** events.parquet as an unbounded stream. Handles both physical
    * layouts the harness produces: the driver's single file carrying
    * TIMESTAMP(NANOS) (read nanos-as-long, truncate to micros — same
    * policy as Tables.events) and a Spark-written directory (ScaleGen
    * sf1 tier) whose footer schema streams as-is. The footer is probed
    * with the batch reader so the stream schema always matches the
    * files. */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = java.nio.file.Paths.get(d, "events.parquet").toAbsolutePath
    val schema = s.read.parquet(path.toString).schema
    val dir =
      if (java.nio.file.Files.isDirectory(path)) path
      else {
        // the file-stream source lists a directory; stage the single
        // parquet file into one (symlink — no data copy)
        val tmp = java.nio.file.Files.createTempDirectory("graft_evstream")
        java.nio.file.Files.createSymbolicLink(
          tmp.resolve("events.parquet"), path)
        tmp
      }
    val raw = s.readStream.schema(schema).parquet(dir.toString)
    schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        // naive-micros writer variant; session tz is UTC so the cast
        // relabels the same instant (see Tables.normalizeNtz)
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Scale-adaptive STATE partition count for a stateful stream whose
    * source is `<d>/events.parquet`: one state partition per ~32 MB of
    * source input, floored at 1, capped at the session's configured
    * shuffle partitions (the deployment's own parallelism intent — at
    * cluster scale the cap binds and nothing changes). A stateful
    * operator's partition count is frozen at query start from
    * `spark.sql.shuffle.partitions`; leaving it at the core count made
    * the gate streams pay one state-store commit PER CORE for tiny
    * state, and that cost is not flat: measured on the sf0.1 events
    * stream (OPTIMIZATION_r17.md), steady-state batch time grows
    * 1.3 → 1.6 → 2.1 → 4.1 s across 1/4/8/32 state partitions while
    * the state-commit task-time SUM explodes 0.37 → 44.8 s from 4 to
    * 32 partitions (~0.1 s fixed commit cost per partition plus
    * superlinear contention between concurrent commits; raw fsync on
    * this box is 2–8 ms, so it is commit-path machinery, not disk).
    * Result sets are invariant to state partitioning, so oracles are
    * untouched. */
  private[graft] def statePartitionsFor(s: SparkSession, d: String): Int = {
    val p = java.nio.file.Paths.get(d, "events.parquet")
    val bytes =
      if (java.nio.file.Files.isDirectory(p)) {
        // *.parquet only: _SUCCESS and .crc checksum files are not
        // source bytes (r17 ADVICE; same filter as LsmFold.parquetFiles)
        val w = java.nio.file.Files.walk(p)
        try w.filter(java.nio.file.Files.isRegularFile(_))
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally w.close()
      } else if (java.nio.file.Files.exists(p)) java.nio.file.Files.size(p)
      else 0L
    val perPartition = 32L << 20
    val cap = scala.util.Try(
      s.conf.get("spark.sql.shuffle.partitions").toLong)
      .getOrElse(s.sparkContext.defaultParallelism.toLong)
    math.max(1L, math.min(cap, (bytes + perPartition - 1) / perPartition)).toInt
  }

  /** Run a streaming DataFrame to completion into a memory sink and
    * return the materialized result. `statePartitions` (stateful
    * queries only) pins the query's state partition count for its
    * lifetime by scoping `spark.sql.shuffle.partitions` around the
    * run — the session value is restored before the result is read,
    * so downstream batch queries are untouched.
    *
    * CONSTRAINT (r17 ADVICE): the save/restore mutates session-global
    * conf, so two streams with `statePartitions` must not run
    * concurrently on one SparkSession (the override can be clobbered
    * or the temporary value leak — restores are not nested). Every
    * caller in this repo is sequential; a concurrent deployment should
    * run each stream on `spark.newSession()`. */
  def runToTable(df: DataFrame, mode: OutputMode,
      statePartitions: Option[Int] = None): DataFrame = {
    val s = df.sparkSession
    // State-store provider: EXAMINED AND KEPT AT DEFAULT (r18, VERDICT
    // item 6). RocksDB + changelog checkpointing was wired here and
    // 5-pair A/B'd on stream_window_agg at sf0.1: parity (paired delta
    // −0.28 s at MAD 0.41, not significant — AB_STREAM_r18.json).
    // Mechanism: statePartitionsFor already bounds the state partition
    // count to 1 (sf0.1/sf1) – 3 (sf5), so the per-partition commit
    // bill the changelog would amortize is structurally gone at every
    // tier. At 100 TB state volumes a deployment should set
    // spark.sql.streaming.stateStore.providerClass=RocksDBStateStoreProvider
    // + rocksdb.changelogCheckpointing.enabled=true (state bounded by
    // disk, delta-only commits); streamStateTws (transformWithState)
    // requires and sets RocksDB regardless.
    val overrides: Seq[(String, String)] = statePartitions.toSeq.map(n =>
      "spark.sql.shuffle.partitions" -> n.toString)
    val saved = overrides.map { case (k, _) => k -> s.conf.getOption(k) }
    overrides.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val name = s"graft_stream_${nameCounter.incrementAndGet()}"
      val q = df.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name)
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Tumbling 6 h event-time windows with watermark-driven state GC:
    * count + exact-decimal sum per (window, event_type). */
  def streamWindowAgg(s: SparkSession, d: String): DataFrame = {
    val agg = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value").cast(DoubleType).as("sum_value"))
    runToTable(agg, OutputMode.Complete(), Some(statePartitionsFor(s, d)))
  }

  /** Sliding windows (12 h length, 6 h slide): each event lands in two
    * windows. */
  def streamSlidingAgg(s: SparkSession, d: String): DataFrame = {
    val agg = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "12 hours", "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
    runToTable(agg, OutputMode.Complete(), Some(statePartitionsFor(s, d)))
  }

  /** Session windows: 30 min inactivity gap per user
    * (`session_window` merges adjacent events; a gap ≥ 30 min starts a
    * new session). */
  def streamSessionWindow(s: SparkSession, d: String): DataFrame = {
    val agg = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))
    runToTable(agg, OutputMode.Complete(), Some(statePartitionsFor(s, d)))
  }

  // ---- custom keyed state (stream_state_mgmt) ------------------------

  case class Ev(event_id: Long, user_id: Long, ts_us: Long, event_type: String, value: Double)
  case class UserState(n: Long, last_ts_us: Long, last_event_id: Long, last_value: Double)
  case class UserOut(user_id: Long, n_events: Long, last_ts_us: Long, last_value: Double)

  /** Per-user running state via mapGroupsWithState — the engine-level
    * analog of the reference's persisted `osm_changeset_state` +
    * last-writer-wins row state (queries.py:28-35): arbitrary keyed
    * state, updated per micro-batch, surviving across batches via the
    * state store. */
  def streamStateMgmt(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ds: Dataset[Ev] = eventsStream(s, d)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      .as[Ev]

    def update(userId: Long, evs: Iterator[Ev], st: GroupState[UserState]): UserOut = {
      var cur = st.getOption.getOrElse(UserState(0L, Long.MinValue, Long.MinValue, 0.0))
      evs.foreach { e =>
        val newer = e.ts_us > cur.last_ts_us ||
          (e.ts_us == cur.last_ts_us && e.event_id > cur.last_event_id)
        cur = UserState(cur.n + 1,
          if (newer) e.ts_us else cur.last_ts_us,
          if (newer) e.event_id else cur.last_event_id,
          if (newer) e.value else cur.last_value)
      }
      st.update(cur)
      UserOut(userId, cur.n, cur.last_ts_us, cur.last_value)
    }

    val out = ds.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(update)
    val table = runToTable(out.toDF(), OutputMode.Update(),
      Some(statePartitionsFor(s, d)))
    // one update row per key per micro-batch: keep the final state
    graft.operators.Upsert.lastWins(table, Seq("user_id"), Seq(col("n_events")))
      .select(col("user_id"), col("n_events"),
        timestamp_micros(col("last_ts_us")).as("last_ts"),
        col("last_value").cast(DecimalType(12, 2)).cast(DoubleType).as("last_value"))
  }

  /** The same per-user running state on Spark 4's transformWithState —
    * the successor API to mapGroupsWithState: typed state variables
    * from a StatefulProcessorHandle (ValueState here; ListState/
    * MapState/timers/TTL available), backed by the RocksDB state store
    * provider, which at 100 TB is the difference between state bounded
    * by executor heap and state bounded by local disk. Output contract
    * and oracle are identical to stream_state_mgmt; a spec asserts the
    * two APIs produce the same relation. */
  class UserStateProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, UserOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[UserState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[UserState]("userState",
        org.apache.spark.sql.Encoders.product[UserState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(userId: Long, evs: Iterator[Ev],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[UserOut] = {
      var cur = Option(st.get()).getOrElse(
        UserState(0L, Long.MinValue, Long.MinValue, 0.0))
      evs.foreach { e =>
        val newer = e.ts_us > cur.last_ts_us ||
          (e.ts_us == cur.last_ts_us && e.event_id > cur.last_event_id)
        cur = UserState(cur.n + 1,
          if (newer) e.ts_us else cur.last_ts_us,
          if (newer) e.event_id else cur.last_event_id,
          if (newer) e.value else cur.last_value)
      }
      st.update(cur)
      Iterator.single(UserOut(userId, cur.n, cur.last_ts_us, cur.last_value))
    }
  }

  def streamStateTws(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ds: Dataset[Ev] = eventsStream(s, d)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
        .as[Ev]
      val out = ds.groupByKey(_.user_id)
        .transformWithState(new UserStateProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      val table = runToTable(out.toDF(), OutputMode.Update(),
        Some(statePartitionsFor(s, d)))
      graft.operators.Upsert.lastWins(table, Seq("user_id"), Seq(col("n_events")))
        .select(col("user_id"), col("n_events"),
          timestamp_micros(col("last_ts_us")).as("last_ts"),
          col("last_value").cast(DecimalType(12, 2)).cast(DoubleType).as("last_value"))
    } finally prev match {
      case Some(v) => s.conf.set(providerKey, v)
      case None => s.conf.unset(providerKey)
    }
  }

  /** Streaming upsert sink — the EP2 redesign end-to-end on Spark's
    * engine: the event stream is a changelog keyed by user_id; each
    * micro-batch is last-wins-compacted and merged into a
    * PartitionedTable via foreachBatch (partition-pruned, atomic
    * manifest swap per batch = the reference's per-diff commit). The
    * final table state is the current row per user. */
  def streamUpsertSink(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    val dir = java.nio.file.Files.createTempDirectory("graft_upsink")
    val table = new PartitionedTable(dir.resolve("users"), "user_id", nBuckets = 8)
    val q = eventsStream(s, d)
      .select(c("user_id"), c("event_id"), c("event_type"),
        c("value").cast(DecimalType(12, 2)).as("value"), c("ts"))
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val compacted = graft.operators.Upsert.lastWins(
          batch, Seq("user_id"), Seq(c("ts"), c("event_id")))
        table.mergeInto(batch.sparkSession, compacted)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    table.read(s).select(c("user_id"), c("event_id"), c("event_type"),
      c("value").cast(DoubleType).as("value"))
  }

  /** Exactly-once APPEND sink — the non-idempotent half of the sink
    * story. The upsert sink above is replay-safe by semantics (last
    * wins); an insert-only fact stream is NOT: checkpoint recovery
    * re-delivers the in-flight micro-batch and a naive sink doubles
    * its rows. Here every batch is deliberately applied TWICE with
    * the same (appId, batchId) transaction — the Delta txnAppId/
    * txnVersion pattern, recorded inside the same atomic manifest
    * swap as the data — and the replays no-op, so the table holds
    * each event exactly once. The oracle is the plain events
    * projection: any double-apply fails the row-count, any lost
    * batch fails the hash. */
  def streamTableTxn(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    val dir = java.nio.file.Files.createTempDirectory("graft_txnsink")
    val table = new PartitionedTable(dir.resolve("facts"), "event_id", nBuckets = 8)
    val q = eventsStream(s, d)
      .select(c("event_id"), c("user_id"), c("event_type"))
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val sess = batch.sparkSession
        table.appendInto(sess, batch, txn = Some("events_sink" -> id))
        // simulated at-least-once redelivery of the same micro-batch
        table.appendInto(sess, batch, txn = Some("events_sink" -> id))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    table.read(s).select(c("event_id"), c("user_id"), c("event_type"))
  }

  /** Streaming change feed — the CDC composition a downstream consumer
    * (cache invalidation, index refresh, incremental training-set
    * delta) actually subscribes to: the event stream merges into the
    * snapshotted PartitionedTable (one sub-batch per micro-batch, the
    * §2h bounded-catch-up harness; sub-batch = event_id % 3, processed
    * ascending inside foreachBatch so the result is trigger-grouping-
    * independent, the stream_dedup_admission discipline), and after
    * each merge `changesBetween(prev, cur)` emits exactly the rows
    * that merge changed — priced by the manifest diff, with copied
    * co-bucketed rows excluded by the value compare. The oracle
    * replays the per-(user, sub-batch) winners and derives each
    * step's old/new via one lag window — the telescoped history the
    * union of feeds must equal. */
  def streamChangeFeed(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    val ev = graft.Tables.events(s, d)
      .withColumn("sub_batch", (c("event_id") % 3).cast("int"))
      .select(c("sub_batch"), c("user_id"), c("event_id"), c("ts"))
    // the sink table dir outlives the call: the returned feed reads it
    val table = new PartitionedTable(
      java.nio.file.Files.createTempDirectory("graft_cdfsink").resolve("users"),
      "user_id", nBuckets = 8)
    SubBatchState.streamSubBatches(s, ev) { (_, batch) =>
      val compacted = graft.operators.Upsert.lastWins(batch,
          Seq("user_id"), Seq(c("ts"), c("event_id")))
        .select(c("user_id"), c("event_id"))
      table.mergeInto(batch.sparkSession, compacted)
    }
    val snaps = table.snapshots
    (1 until snaps.length).map { i =>
      table.changesBetween(s, snaps(i - 1), snaps(i))
        .select(lit(snaps(i)).cast("int").as("step"), c("op"), c("user_id"),
          c("before.event_id").as("old_event_id"),
          c("after.event_id").as("new_event_id"))
    }.reduce(_ unionByName _)
  }

  /** Stream-stream interval join: purchases joined to the same user's
    * clicks within the preceding 30 minutes. Both sides carry
    * watermarks and the join predicate bounds event time, so the state
    * store holds only a 30-minute window per side — the unbounded-state
    * trap of naive stream joins is structurally excluded. Append mode:
    * a match emits once both watermarks pass it. */
  def streamStreamJoin(s: SparkSession, d: String): DataFrame = {
    val ev = eventsStream(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("click_id"), col("purchase_ts"), col("click_ts"))
    runToTable(joined, OutputMode.Append(), Some(statePartitionsFor(s, d)))
  }

  /** Streaming exact dedup with bounded state:
    * dropDuplicatesWithinWatermark keeps each key's state only until
    * the watermark passes — at-least-once sources (the replication
    * feed re-delivers diffs by design, README.md:58-59) become
    * effectively-once without unbounded key state. */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    val deduped = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))
    runToTable(deduped, OutputMode.Complete(), Some(statePartitionsFor(s, d)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_stream_join" -> streamStreamJoin _,
    "stream_dedup" -> streamDedup _,
    "stream_change_feed" -> streamChangeFeed _,
    "stream_upsert_sink" -> streamUpsertSink _,
    "stream_table_txn" -> streamTableTxn _,
    "stream_window_agg" -> streamWindowAgg _,
    "stream_sliding_agg" -> streamSlidingAgg _,
    "stream_session_window" -> streamSessionWindow _,
    "stream_state_mgmt" -> streamStateMgmt _,
    "stream_state_tws" -> streamStateTws _
  )

  val oracles: Map[String, String] = Map(
    // bounded batch equivalent: with AvailableNow + Complete drain the
    // stream-stream interval join emits exactly the batch join result
    "stream_stream_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
        |  p.ts AS purchase_ts, c.ts AS click_ts
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts""".stripMargin,
    // event_id is unique in the corpus, so streaming dedup = identity
    "stream_dedup" ->
      """SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 21600000000) AS win_start,
        |  count(DISTINCT event_id) AS n
        |FROM events GROUP BY 1""".stripMargin,
    // every event exactly once despite each micro-batch being applied twice
    "stream_table_txn" ->
      "SELECT event_id, user_id, event_type FROM events",
    "stream_upsert_sink" ->
      """SELECT user_id, event_id, event_type,
        |  CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
        |WHERE rn = 1""".stripMargin,
    // per-(user, sub-batch) winners, then each step's old/new via one
    // lag over the user's batch history (skipped batches fall through
    // to the last batch that held the user); step-0 rows seed the lag
    // but are not feed rows (the first merge has no predecessor)
    "stream_change_feed" ->
      """WITH w AS (
        |  SELECT user_id, b, event_id FROM (
        |    SELECT user_id, event_id % 3 AS b, event_id,
        |      row_number() OVER (PARTITION BY user_id, event_id % 3
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) t WHERE rn = 1),
        |f AS (
        |  SELECT user_id, b,
        |    lag(event_id) OVER (PARTITION BY user_id ORDER BY b) AS old_event_id,
        |    event_id AS new_event_id
        |  FROM w)
        |SELECT CAST(b AS INT) AS step,
        |  CASE WHEN old_event_id IS NULL THEN 'insert' ELSE 'update' END AS op,
        |  user_id, old_event_id, new_event_id
        |FROM f WHERE b >= 1""".stripMargin,
    // Spark tumbling windows align to the 1970 epoch: bucket = µs - µs mod 6h.
    "stream_window_agg" ->
      """SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 21600000000) AS win_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "stream_sliding_agg" ->
      """WITH shifted AS (
        |  SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 21600000000) AS w0, event_type
        |  FROM events)
        |SELECT win_start, event_type, count(*) AS n FROM (
        |  SELECT w0 AS win_start, event_type FROM shifted
        |  UNION ALL
        |  SELECT w0 - INTERVAL 6 HOUR AS win_start, event_type FROM shifted)
        |GROUP BY win_start, event_type""".stripMargin,
    "stream_session_window" ->
      """WITH e AS (
        |  SELECT user_id, ts, epoch_us(ts) AS us FROM events),
        |brk AS (
        |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |                   OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |sess AS (
        |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM brk)
        |SELECT min(ts) AS session_start, user_id, count(*) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin,
    // last_value tie-break is explicit (ts DESC, event_id DESC) — the
    // same total order the Spark state update uses; arg_max(value, ts)
    // alone would be nondeterministic on timestamp-tied events.
    "stream_state_mgmt" -> stateOracle,
    "stream_state_tws" -> stateOracle
  )

  /** Shared by both keyed-state APIs (mapGroupsWithState and
    * transformWithState): same contract, same known answer. */
  private lazy val stateOracle: String =
    """WITH lastv AS (
      |  SELECT user_id, value FROM (
      |    SELECT user_id, value, row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
      |  WHERE rn = 1)
      |SELECT e.user_id, count(*) AS n_events,
      |  max(e.ts) AS last_ts,
      |  CAST(CAST(min(l.value) AS DECIMAL(12,2)) AS DOUBLE) AS last_value
      |FROM events e JOIN lastv l USING (user_id)
      |GROUP BY e.user_id""".stripMargin
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Tables._

/** Upsert / merge semantics on immutable columnar storage
  * (SURVEY.md §2a sink_insert / sink_upsert).
  *
  * The reference upserts by per-row DELETE+INSERT keyed by changeset
  * id (`changesetmd.py:71-76,105-106`) — last-writer-wins, idempotent
  * (README.md:59). On immutable files that becomes:
  *
  *   merged = existing ⟕anti updates  ∪  updates
  *
  * with within-batch last-wins compaction first (the reference cannot
  * batch diffs; we can — one merge per catch-up run instead of one
  * round-trip per row, the central scale inversion of this project).
  *
  * `graft.streaming.PartitionedTable.mergeInto` runs this merge over
  * only the hash buckets that hold update keys. Ids hash uniformly, so
  * a replication batch of more than a few dozen ids touches every
  * bucket and rewrites the whole table; a merge whose cost tracks the
  * diff needs a merge-on-read layout (ROADMAP direction 2).
  */
object Upsert {

  /** Keep only the winning row per key: row_number over
    * (key, ordering desc) — one shuffle, no join. */
  def lastWins(df: DataFrame, key: Seq[String], orderDesc: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(orderDesc.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Anti-join + union merge: rows of `existing` whose key appears in
    * `updates` are replaced. Keys match null-safely, so NULL is one key
    * here as in `lastWins`, and re-applying `updates` is a no-op. Both
    * inputs must share a schema. */
  def merge(existing: DataFrame, updates: DataFrame, key: Seq[String]): DataFrame =
    existing.as("e").join(updates.as("u"),
      key.map(k => col(s"e.$k") <=> col(s"u.$k")).reduce(_ && _), "left_anti")
      .unionByName(updates)

  // ---- demonstrations on the test tables -----------------------------

  /** Append-sink roundtrip: write events partitioned by event_type
    * (the partitioned-parquet analog of the reference's INSERT sink,
    * changesetmd.py:53-69), read back, aggregate. Exercises the real
    * write path including partition pruning on re-read. */
  def sinkInsert(s: SparkSession, d: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    events(s, d)
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    s.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("event_id")).as("max_id"))
  }

  /** Upsert demo: even-event_id states are the base table, odd ones
    * the update stream (both compacted last-wins per user first);
    * merge is anti-join+union. A user present in both keeps only the
    * update row — exactly delete+insert. */
  def sinkUpsert(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val ord = Seq(col("ts"), col("event_id"))
    val base = lastWins(ev.filter(col("event_id") % 2 === 0), Seq("user_id"), ord)
    val updates = lastWins(ev.filter(col("event_id") % 2 === 1), Seq("user_id"), ord)
    merge(base, updates, Seq("user_id"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        // exact decimal internally, canonical DOUBLE at the boundary
        // (mirrored in the oracle) — see Relational.outD
        col("value").cast(DecimalType(12, 2)).cast(DoubleType).as("value"))
  }

  /** Time-travel demo over the snapshotted merge table
    * (PartitionedTable.readAt): commit the even-parity state, merge
    * the odd-parity updates, then join snapshot s0 against current —
    * per user, the event that WAS current vs the one that IS. The
    * oracle reconstructs both states from `events` directly (s0 =
    * even last-wins, s1 = the parity-dominant last-wins sink_upsert
    * proves), so the gate checks that snapshots are frozen states of
    * the merge sequence, not copies of current. */
  def sinkTimeTravel(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val ord = Seq(col("ts"), col("event_id"))
    val base = lastWins(ev.filter(col("event_id") % 2 === 0), Seq("user_id"), ord)
      .select(col("user_id"), col("event_id"))
    val updates = lastWins(ev.filter(col("event_id") % 2 === 1), Seq("user_id"), ord)
      .select(col("user_id"), col("event_id"))
    val dir = java.nio.file.Files.createTempDirectory("graft_tt")
    val t = new graft.streaming.PartitionedTable(dir, "user_id", nBuckets = 8)
    t.mergeInto(s, base)
    t.mergeInto(s, updates)
    val snaps = t.snapshots
    val old = t.readAt(s, snaps.head)
      .select(col("user_id"), col("event_id").as("old_event_id"))
    val cur = t.readAt(s, snaps.last)
      .select(col("user_id"), col("event_id").as("new_event_id"))
    old.join(cur, Seq("user_id"), "full_outer")
      .select(col("user_id"), col("old_event_id"), col("new_event_id"))
  }

  /** Change feed between the two snapshots of the sinkTimeTravel
    * merge sequence (PartitionedTable.changesBetween): rows the merge
    * actually CHANGED — an insert for a user the base state never
    * had, an update where the odd winner displaced the even one, and
    * nothing for untouched users even when they share a rewritten
    * bucket (the value comparison drops copied rows). The oracle
    * reconstructs the same feed from `events` alone, so the gate pins
    * the manifest-diff + value-diff semantics, not just row counts. */
  def sinkChangeFeed(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val ord = Seq(col("ts"), col("event_id"))
    val base = lastWins(ev.filter(col("event_id") % 2 === 0), Seq("user_id"), ord)
      .select(col("user_id"), col("event_id"))
    val updates = lastWins(ev.filter(col("event_id") % 2 === 1), Seq("user_id"), ord)
      .select(col("user_id"), col("event_id"))
    val dir = java.nio.file.Files.createTempDirectory("graft_cdf")
    val t = new graft.streaming.PartitionedTable(dir, "user_id", nBuckets = 8)
    t.mergeInto(s, base)
    t.mergeInto(s, updates)
    val snaps = t.snapshots
    t.changesBetween(s, snaps.head, snaps.last)
      .select(col("op"), col("user_id"),
        col("before.event_id").as("old_event_id"),
        col("after.event_id").as("new_event_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sink_insert" -> sinkInsert _,
    "sink_upsert" -> sinkUpsert _,
    "sink_time_travel" -> sinkTimeTravel _,
    "sink_change_feed" -> sinkChangeFeed _
  )

  val oracles: Map[String, String] = Map(
    "sink_insert" ->
      """SELECT event_type, count(*) AS n, max(event_id) AS max_id
        |FROM events GROUP BY event_type""".stripMargin,
    // Merge(base=even lastwins, updates=odd lastwins) ≡ one last-wins
    // pass where parity dominates the ordering: odd rows always beat
    // even rows for a user, then recency decides.
    "sink_upsert" ->
      """SELECT user_id, event_id, event_type,
        |  CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY event_id % 2 DESC, ts DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1""".stripMargin,
    // s0 = even-only last-wins; current = parity-dominant last-wins
    // (the sink_upsert oracle); full outer on user_id
    "sink_time_travel" ->
      """WITH s0 AS (
        |  SELECT user_id, event_id FROM (
        |    SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_id % 2 = 0) t WHERE rn = 1),
        |cur AS (
        |  SELECT user_id, event_id FROM (
        |    SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
        |      ORDER BY event_id % 2 DESC, ts DESC, event_id DESC) AS rn
        |    FROM events) t WHERE rn = 1)
        |SELECT coalesce(s0.user_id, cur.user_id) AS user_id,
        |  s0.event_id AS old_event_id,
        |  cur.event_id AS new_event_id
        |FROM s0 FULL OUTER JOIN cur ON s0.user_id = cur.user_id""".stripMargin,
    // the feed is exactly the users holding >=1 odd event (those are
    // the only winners the odd-parity merge can displace); op splits
    // on whether an even-parity state existed to displace
    "sink_change_feed" ->
      """WITH s0 AS (
        |  SELECT user_id, event_id FROM (
        |    SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_id % 2 = 0) t WHERE rn = 1),
        |cur AS (
        |  SELECT user_id, event_id FROM (
        |    SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
        |      ORDER BY event_id % 2 DESC, ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_id % 2 = 1) t WHERE rn = 1)
        |SELECT CASE WHEN s0.user_id IS NULL THEN 'insert' ELSE 'update' END AS op,
        |  cur.user_id,
        |  s0.event_id AS old_event_id,
        |  cur.event_id AS new_event_id
        |FROM cur LEFT JOIN s0 ON s0.user_id = cur.user_id""".stripMargin
  )
}

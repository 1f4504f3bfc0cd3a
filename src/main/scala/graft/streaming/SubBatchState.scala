package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Thread-safe, replay-idempotent per-sub-batch state for the
  * foreachBatch maintenance/serve loops (§2h): writes happen on the
  * stream-execution thread, the final read on the caller thread after
  * `awaitTermination()`. A plain ListBuffer there has two defects —
  * no happens-before edge between the two threads (visibility relied
  * on incidental synchronization inside StreamingQuery), and a
  * redelivered micro-batch would APPEND duplicate rows to the
  * returned union even though the index state itself (segment files
  * named by sub-batch, txn-versioned commits) is replay-idempotent.
  *
  * This store keys every value by its sub-batch id and REPLACES on
  * replay, so the caller-side union is exactly one entry per
  * sub-batch however many times the engine delivers it, and
  * `ConcurrentHashMap` supplies the cross-thread visibility edge.
  */
final class SubBatchState[V] {
  private val m = new java.util.concurrent.ConcurrentHashMap[Int, V]()

  /** Insert-or-replace the value for sub-batch `k` (replace = replay). */
  def put(k: Int, v: V): Unit = m.put(k, v)

  def isEmpty: Boolean = m.isEmpty
  def nonEmpty: Boolean = !m.isEmpty

  /** All values in ascending sub-batch order. */
  def values: Seq[V] = m.asScala.toSeq.sortBy(_._1).map(_._2)

  /** All (sub-batch id, value) pairs in ascending id order — the fold
    * path's shape, where each landed segment carries the id the
    * replay-guard markers are keyed by (r15 VERDICT item 5). */
  def entries: Seq[(Int, V)] = m.asScala.toSeq.sortBy(_._1)

  /** Values of STRICTLY earlier sub-batches — the state a replayed
    * sub-batch `k` must see: exactly what it saw the first time. */
  def earlier(k: Int): Seq[V] =
    m.asScala.toSeq.filter(_._1 < k).sortBy(_._1).map(_._2)

  /** The sub-batch result frames unioned in ascending id order, or
    * the empty relation of `schema` when no sub-batch delivered one. */
  def union(s: SparkSession, schema: StructType)(
      implicit asFrame: V <:< DataFrame): DataFrame =
    if (isEmpty) s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    else values.map(asFrame).reduce(_ union _)

  /** Drop all entries — called when an Epoch fold consumes the
    * tracked segments, so the store only ever holds UNFOLDED ones. */
  def clear(): Unit = m.clear()
}

object SubBatchState {

  /** The §2h bounded-catch-up harness every sub-batch stream runs on:
    * stage `rows` (an int `sub_batch` column in 0..2) as one parquet
    * file per sub-batch with ascending mtimes, read the files back as
    * a file stream with `maxFilesPerTrigger=1` under
    * `Trigger.AvailableNow`, and call `body(k, frame)` once per
    * sub-batch present in each micro-batch, in ascending `k`. The
    * order is data-defined, not trigger-defined, so the result is the
    * same however the engine groups files into micro-batches. `frame`
    * is sub-batch `k`'s rows; it reads the staged file, so it is valid
    * only inside the call — the staging directory is deleted before
    * this returns, exception or not. */
  def streamSubBatches(s: SparkSession, rows: DataFrame)(
      body: (Int, DataFrame) => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_subbatch")
    try {
      (0 until 3).foreach { k =>
        val side = dir.resolve(s"side$k")
        rows.filter(col("sub_batch") === k).coalesce(1)
          .write.mode("overwrite").parquet(side.toString)
        val part = Files.list(side).filter(p =>
          p.getFileName.toString.endsWith(".parquet")).findFirst().get()
        val dst = dir.resolve(f"batch$k%04d.parquet")
        Files.move(part, dst)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + k * 60000L))
      }
      s.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.toString + "/batch*.parquet")
        .writeStream
        .foreachBatch { (mb: DataFrame, _: Long) =>
          mb.select(col("sub_batch")).distinct()
            .collect().map(_.getInt(0)).sorted
            .foreach(k => body(k, mb.filter(col("sub_batch") === k)))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally PartitionedTable.deleteRecursively(dir)
  }
}

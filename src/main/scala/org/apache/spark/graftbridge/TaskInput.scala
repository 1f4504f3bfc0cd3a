package org.apache.spark.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.util.SerializableConfiguration

/** What a task that reads files itself needs from Spark's namespace:
  * a Hadoop configuration that reaches its tasks (Spark's own
  * serializable wrapper, the one its file sources use) and the task's
  * input-bytes metric (`incBytesRead` is `private[spark]`), so a scan
  * that opens its files directly still reports the bytes it read. */
object TaskInput {
  /** `conf` broadcast once: every job over the returned accessor
    * reuses it. In a task closure instead, the ~110 KB conf is
    * serialized into every job's task binary and read back by every
    * task (~20 ms a job, measured on a 4-core host). */
  def shipped(sc: SparkContext, conf: Configuration): () => Configuration = {
    val b = SerializableConfiguration.broadcast(sc, conf)
    () => b.value.value
  }

  /** Add `n` to the running task's input bytes; a no-op off a task. */
  def addBytesRead(n: Long): Unit =
    Option(TaskContext.get).foreach(_.taskMetrics().inputMetrics.incBytesRead(n))
}

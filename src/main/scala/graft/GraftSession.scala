package graft

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** The one Spark session every entry point runs on — the CLI (`Main`),
  * the oracle gate (`Verify`), the bench, the plan audit, every probe
  * and soak, the forked duel children and the test suites — so the
  * configuration the gate checks is the one the bench times and the CLI
  * ships.
  *
  * Master is `SPARK_GRAFT_MASTER`, else `local[cores]`; cores default to
  * `SPARK_GRAFT_CPUS`, else every available processor. An experiment
  * that needs a different SQL conf sets it on the returned session
  * (`spark.conf.set`). The factory does not install `GraftExtensions`:
  * entries that need the SQL functions or rules call their idempotent
  * `register`/`install` on the session they are given. */
object GraftSession {

  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The pinned conf at `cores` shuffle partitions. */
  def conf(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // Always use the sort-based shuffle writer (r18, guide §2.2 — the
    // 8-beats-32-core inversion's root cause): with R = cores, the
    // bypass-merge writer opens M×R per-reduce files per shuffle
    // (cores² block files) and concatenates them via transferTo →
    // mmap/munmap, whose TLB shootdowns serialize a many-vCPU host —
    // jstack'd in AB_CORES/AB_BYPASS_r18.json; the sort writer is
    // −2.3 s over the four kernel-shuffle queries at 32 cores, parity
    // elsewhere. At production R (> 200) the threshold is moot (the
    // sort writer is chosen anyway).
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    // events.parquet carries TIMESTAMP(NANOS) (see Tables.events)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    // Spark's own default, but read from SPARK_ANSI_SQL_MODE when unset:
    // pinned so an overflow (e.g. a long-cents agg_group sum outside its
    // envelope) raises instead of wrapping, whatever the caller's shell.
    "spark.sql.ansi.enabled" -> "true")

  /** @param cores     local cores and shuffle partitions; the test suites
    *                  pin 8 so results do not depend on the host, and the
    *                  forked duel children 2 to keep each fork small
    * @param warehouse  a private `spark.sql.warehouse.dir` (default:
    *                   Spark's `./spark-warehouse`) */
  def apply(cores: Int = defaultCores, warehouse: Option[Path] = None): SparkSession = {
    val b = SparkSession.builder()
      .appName("graft")
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"))
    conf(cores).foreach { case (k, v) => b.config(k, v) }
    warehouse.foreach(w => b.config("spark.sql.warehouse.dir", w.toString))
    b.getOrCreate()
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** Multi-dimensional data layout: Z-order (Morton) clustering for
  * scan pruning. (Morton, "A computer oriented geodetic data base",
  * 1966; the standard lakehouse file-skipping layout.)
  *
  * The reference's answer to selective access is secondary B-tree
  * indexes (queries.py:41-47); a columnar lake has no row indexes —
  * what it has is per-row-group min/max statistics, and those only
  * prune if the write ORDER puts correlated values in the same files.
  * A linear sort clusters exactly one dimension; interleaving the
  * bits of two bucketized dimensions (Z-order) bounds the min/max
  * range of BOTH per file, so 2-D slice predicates skip most row
  * groups — the difference between "scan 100 TB" and "scan the three
  * files that overlap the query box".
  *
  * Scale shape: the layout build is write-time ETL — one narrow
  * projection (the z key is ~20 integer ops, codegen'd) plus one
  * range repartition on z; serving reads are plain parquet scans that
  * prune on footer stats with zero extra runtime machinery. The
  * skipping factor is measured, not asserted: graft.LayoutProbe reads
  * the footers of both layouts and counts row groups overlapping each
  * query box (LAYOUT_r10.json).
  */
object Layout {

  /** Spread the low 16 bits of `c` to the even bit positions (the
    * classic magic-number dilation — 4 shift/mask rounds, all
    * codegen-friendly integer ops). */
  private def spreadBits(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton key of two 16-bit bucket ids: x in even bits, y in
    * odd bits. */
  def zorder32(x: Column, y: Column): Column =
    spreadBits(x).bitwiseOR(shiftleft(spreadBits(y), 1))

  private val ZFiles = 64

  /** Spark's default parquet timestamp encoding is legacy INT96, which
    * carries NO row-group statistics — a clustered layout written that
    * way cannot prune on time at all (measured: the probe's time_slice
    * matched 64/64 groups). Scope the write to TIMESTAMP_MICROS
    * (INT64), which stats normally. */
  private[graft] def withMicrosTimestamps[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val before = s.conf.getOption(key)
    s.conf.set(key, "TIMESTAMP_MICROS")
    try body
    finally before match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Build (once per session+dataset+curve) a clustered copy of
    * `events`: bucketize (user_id, epoch-micros) to 16 bits each from
    * the table's own min/max, combine through the space-filling curve
    * (`zorder32` or `hilbert32` — both single codegen'd projections),
    * range-partition + sort by the curve key, write `ZFiles` parquet
    * files. The two driver-side stats rows are layout ETL (like the
    * derived bucket counts), not query work. One copy per (session,
    * dataset, curve), kept in LayoutRegistry as a layout with no
    * catalog table; repeat invocations reuse the files. */
  private[graft] def curveEventsDir(
      s: SparkSession, d: String, curve: String): java.nio.file.Path =
    LayoutRegistry.getOrBuild(s, curve, d) { out =>
      val ev = events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val st = ev.agg(
        min(col("user_id")), max(col("user_id")),
        min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val (uLo, uHi, tLo, tHi) =
        (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
      def b16(v: String, lo: Long, hi: Long): Column = // integer-exact
        if (hi <= lo) lit(0L)
        else expr(s"(($v - ${lo}L) * 65535L) DIV ${hi - lo}L")
      val key: (Column, Column) => Column = curve match {
        case "zorder" => zorder32
        case "hilbert" => graft.functions.HilbertIndex32.hilbert32
        case other => sys.error(s"unknown layout curve: $other")
      }
      withMicrosTimestamps(s) {
        ev.withColumn("__tus", unix_micros(col("ts")))
          .withColumn("z", key(
            b16("user_id", uLo, uHi), b16("__tus", tLo, tHi)))
          .drop("__tus")
          .repartitionByRange(ZFiles, col("z"))
          .sortWithinPartitions(col("z"))
          .drop("z")
          .write.mode("overwrite").parquet(out.resolve("events").toString)
      }
      Nil
    }.dir

  /** Back-compat alias used by LayoutProbe and the gate query. */
  private[graft] def zorderedEventsDir(s: SparkSession, d: String): java.nio.file.Path =
    curveEventsDir(s, d, "zorder")

  /** Gate query: a 2-D slice aggregate (user band × time band) served
    * from the curve-clustered copy. The predicate bounds are derived
    * from the table's own min/max with integer arithmetic (reproduced
    * verbatim in the oracle over the ORIGINAL table), so the check
    * proves the layout is content-preserving — the probe artifact,
    * not the oracle, carries the skipping numbers, because pruning is
    * physical, not semantic. */
  private def layoutSlice(s: SparkSession, d: String, curve: String): DataFrame = {
    val dir = curveEventsDir(s, d, curve)
    val ev = s.read.parquet(dir.resolve("events").toString)
    val st = ev.agg(
      min(col("user_id")).as("umin"), max(col("user_id")).as("umax"),
      min(unix_micros(col("ts"))).as("tmin"),
      max(unix_micros(col("ts"))).as("tmax"))
    ev.crossJoin(broadcast(st))
      .filter(
        col("user_id") >= col("umin") + expr("(umax - umin) * 25 DIV 100") &&
        col("user_id") <= col("umin") + expr("(umax - umin) * 35 DIV 100") &&
        unix_micros(col("ts")) >= col("tmin") + expr("(tmax - tmin) * 40 DIV 100") &&
        unix_micros(col("ts")) <= col("tmin") + expr("(tmax - tmin) * 60 DIV 100"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).as("sum_value"))
      .select(col("user_id"), col("n"),
        col("sum_value").cast(DoubleType).as("sum_value"))
  }

  def layoutZorder(s: SparkSession, d: String): DataFrame = layoutSlice(s, d, "zorder")

  /** Same slice served from the Hilbert-clustered copy — proving the
    * second curve is also content-preserving; the skipping DIFFERENCE
    * between the curves is what LAYOUT_r10.json measures. */
  def layoutHilbert(s: SparkSession, d: String): DataFrame = layoutSlice(s, d, "hilbert")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "layout_zorder" -> layoutZorder _,
    "layout_hilbert" -> layoutHilbert _
  )

  private val sliceOracle =
      """WITH st AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
        |    min(epoch_us(ts)) AS tmin, max(epoch_us(ts)) AS tmax FROM events)
        |SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events, st
        |WHERE user_id BETWEEN umin + (umax - umin) * 25 // 100
        |                  AND umin + (umax - umin) * 35 // 100
        |  AND epoch_us(ts) BETWEEN tmin + (tmax - tmin) * 40 // 100
        |                       AND tmin + (tmax - tmin) * 60 // 100
        |GROUP BY user_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "layout_zorder" -> sliceOracle,
    "layout_hilbert" -> sliceOracle
  )
}

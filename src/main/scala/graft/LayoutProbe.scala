package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._
import scala.jdk.CollectionConverters._

/** Measures what the Z-order layout actually buys: per-row-group
  * min/max footer statistics are read straight from the parquet files
  * of a linear (time-sorted) layout and the Morton layout
  * (operators.Layout), and each probe query's predicate box is tested
  * against them — a row group whose [min,max] interval overlaps the
  * box must be read; every other one is skipped. This is the exact
  * pruning a columnar engine performs at scan time, computed from the
  * same footers it would use, with no engine timing noise.
  *
  * Emits one JSON line per (layout × query): row groups total/matched
  * and rows total/must-scan. Usage:
  *   runMain graft.LayoutProbe <sfDir> [outFile]
  */
object LayoutProbe {

  /** (min,max) of two long-typed leaf columns per row group, plus the
    * group's row count, read from footers (ts is INT64 micros as Spark
    * writes TimestampType). */
  def rowGroupStats(dir: String, colA: String, colB: String)
      : Seq[((Long, Long), (Long, Long), Long)] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(conf)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(f => f.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    files.toSeq.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(f.getPath, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        r.getFooter.getBlocks.asScala.toSeq
          .filter(_.getRowCount > 0) // range partitioning can leave empty groups
          .map { b =>
            def mm(name: String): (Long, Long) = {
              val c = b.getColumns.asScala
                .find(_.getPath.toDotString == name)
                .getOrElse(sys.error(s"column $name not in footer"))
              val st = c.getStatistics
              if (st == null || !st.hasNonNullValue)
                (Long.MinValue, Long.MaxValue) // no stats ⇒ engine must read it
              else
                (st.genericGetMin.asInstanceOf[Number].longValue(),
                  st.genericGetMax.asInstanceOf[Number].longValue())
            }
            (mm(colA), mm(colB), b.getRowCount)
          }
      } finally r.close()
    }
  }

  /** Row groups whose stats intervals overlap the (possibly
    * unbounded) query box. */
  def matching(stats: Seq[((Long, Long), (Long, Long), Long)],
      aBox: Option[(Long, Long)], bBox: Option[(Long, Long)])
      : (Int, Long) = {
    val hit = stats.filter { case ((aMin, aMax), (bMin, bMax), _) =>
      aBox.forall { case (lo, hi) => aMax >= lo && aMin <= hi } &&
        bBox.forall { case (lo, hi) => bMax >= lo && bMin <= hi }
    }
    (hit.size, hit.map(_._3).sum)
  }

  /** The same derived predicate bands the gate query uses: user band
    * 25–35%, time band 40–60% of each dimension's span. */
  def bands(s: SparkSession, d: String): ((Long, Long), (Long, Long)) = {
    val st = Tables.events(s, d).agg(
      min(col("user_id")), max(col("user_id")),
      min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val (uLo, uHi, tLo, tHi) =
      (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
    ((uLo + (uHi - uLo) * 25 / 100, uLo + (uHi - uLo) * 35 / 100),
      (tLo + (tHi - tLo) * 40 / 100, tLo + (tHi - tLo) * 60 / 100))
  }

  /** Write the linear (time-sorted) baseline layout: same file count
    * as the z layout, clustered on ts alone — what a naive
    * append-by-arrival lake looks like after a time compaction. */
  def linearEventsDir(s: SparkSession, d: String, nFiles: Int): java.nio.file.Path = {
    val out = java.nio.file.Files.createTempDirectory("graft_linear")
    graft.operators.Layout.withMicrosTimestamps(s) {
      Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .repartitionByRange(nFiles, col("ts"))
        .sortWithinPartitions(col("ts"))
        .write.mode("overwrite").parquet(out.resolve("events").toString)
    }
    out
  }

  def main(args: Array[String]): Unit = Probe.run() { h =>
    val spark = h.spark
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")

    val (uBand, tBand) = bands(spark, d)
    val zDir = graft.operators.Layout.curveEventsDir(spark, d, "zorder")
      .resolve("events").toString
    val hDir = graft.operators.Layout.curveEventsDir(spark, d, "hilbert")
      .resolve("events").toString
    val linDir = h.own(linearEventsDir(spark, d, 64)).resolve("events").toString

    val layouts = Seq("linear_ts" -> linDir, "zorder" -> zDir, "hilbert" -> hDir)
    val queries = Seq(
      ("time_slice", None, Some(tBand)),
      ("user_slice", Some(uBand), None),
      ("point_box", Some(uBand), Some(tBand)))

    val results = for {
      (lname, dir) <- layouts
      stats = rowGroupStats(dir, "user_id", "ts")
      (qname, ub, tb) <- queries
    } yield {
      val (rgHit, rowsHit) = matching(stats, ub, tb)
      ("layout" -> lname) ~ ("query" -> qname) ~
        ("rg_total" -> stats.size) ~ ("rg_match" -> rgHit) ~
        ("rows_total" -> stats.map(_._3).sum) ~ ("rows_scan" -> rowsHit)
    }
    Probe.emit(("metric" -> "layout_skipping") ~ ("sf_dir" -> d) ~ ("probes" -> results),
      args.lift(1))
  }
}

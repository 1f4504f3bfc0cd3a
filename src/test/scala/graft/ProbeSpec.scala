package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import java.util.concurrent.TimeUnit
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Cleanup, LayoutRegistry}

/** The measurement harness every main runs on: its JSON is valid under
  * any default locale, and its teardown runs when the body throws. */
class ProbeSpec extends AnyFunSuite {

  test("a document renders to one line that parses back equal under a comma-decimal locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      // the default-locale formatter the mains used to write numbers with
      assert(f"${0.4125}%.3f" === "0,413")
      val doc = ("sec" -> Probe.num(0.4125)) ~ ("fpr" -> Probe.num(0.012345, 5)) ~
        ("sf_dir" -> """/data/a "quoted" dir\with\backslashes""")
      val out = Files.createTempFile("graft_probe", ".json")
      try {
        Probe.save(out.toString, doc)
        val lines = Files.readAllLines(out)
        assert(lines.size === 1)
        assert(lines.get(0).contains("\"sec\":0.413"), lines.get(0))
        assert(JsonMethods.parse(lines.get(0), useBigDecimalForDouble = true) === doc)
      } finally Files.delete(out)
    } finally Locale.setDefault(saved)
  }

  test("median, MAD and num: upper middle sample, robust spread, half-up rounding, null for NaN") {
    assert(Probe.median(Seq(3.0, 1.0, 2.0, 10.0)) === 3.0)
    assert(Probe.mad(Seq(1.0, 2.0, 3.0, 4.0, 100.0)) === 1.0)
    assert(Probe.render(Probe.num(2.0005)) === "2.001")
    assert(Probe.num(Double.NaN) === JNull)
  }

  test("a harness body that throws still drops the memos, stops the session and deletes its dirs") {
    // forked: the child stops its own session, never the shared test one
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val pb = new ProcessBuilder((Seq(javaBin) ++ TestSpark.addOpens ++ Seq("-Xmx1g",
      "-cp", System.getProperty("java.class.path"), "graft.ProbeTeardownChild")): _*)
      .redirectErrorStream(true)
    pb.environment().put("SPARK_GRAFT_CPUS", "1")
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor(180L, TimeUnit.SECONDS), out)
    assert(p.exitValue() === 0, out)
    val report = out.linesIterator.filter(_.startsWith("report ")).toSeq
    assert(report.size === 1, out)
    Seq("thrown=body-failed", "existed=true", "warehouse_gone=true", "scratch_gone=true",
        "layout_gone=true", "memos=0", "stopped=true").foreach { token =>
      assert(report.head.split(" ").contains(token), report.head)
    }
  }
}

/** `ProbeSpec`'s forked child: a harness body with a private warehouse,
  * a scratch dir and a layout memo throws; prints what teardown left. */
object ProbeTeardownChild {
  def main(args: Array[String]): Unit = {
    var spark: SparkSession = null
    var dirs = Seq.empty[Path]
    var existed = false
    val thrown = try Probe.run(tempWarehouse = true) { h =>
      spark = h.spark
      val warehouse = Paths.get(
        new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
      val scratch = h.tempDir("graft_probe_child")
      Files.writeString(scratch.resolve("part"), "x")
      val layout = LayoutRegistry.getOrBuild(spark, "probe_child", "none")(_ => Nil).dir
      dirs = Seq(warehouse, scratch, layout)
      existed = dirs.forall(Files.exists(_))
      throw new IllegalStateException("body-failed")
    } catch { case e: IllegalStateException => e.getMessage }
    val Seq(warehouse, scratch, layout) = dirs
    println(Seq("report",
      s"thrown=$thrown",
      s"existed=$existed",
      s"warehouse_gone=${!Files.exists(warehouse)}",
      s"scratch_gone=${!Files.exists(scratch)}",
      s"layout_gone=${!Files.exists(layout)}",
      s"memos=${Cleanup.liveEntries(spark)}",
      s"stopped=${spark.sparkContext.isStopped}").mkString(" "))
  }
}

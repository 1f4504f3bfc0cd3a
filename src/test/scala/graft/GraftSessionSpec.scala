package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every entry point runs on `GraftSession`, so the conf the oracle gate
  * checks is the conf the bench times, the CLI ships and the suites test. */
class GraftSessionSpec extends AnyFunSuite {

  test("GraftSession is the only place a SparkSession is built") {
    val builderCall = "SparkSession\\.builder\\(".r
    def sources(root: String): Seq[Path] = {
      val s = Files.walk(Paths.get(root))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    val files = sources("src/main") ++ sources("src/test")
    assert(files.exists(_.endsWith("GraftSession.scala")),
      s"sources not found under ${Paths.get("").toAbsolutePath}")
    val offenders = for {
      f <- files if !f.endsWith("GraftSession.scala")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim if !code.startsWith("*") && !code.startsWith("//")
      if builderCall.findFirstIn(code).nonEmpty
    } yield s"$f:${i + 1}"
    assert(offenders.isEmpty, offenders.mkString("session built outside GraftSession: ", ", ", ""))
  }

  test("the test session carries every pinned key at the factory's value") {
    val s = TestSpark.session
    val pinned = GraftSession.conf(8)
    assert(pinned("spark.sql.ansi.enabled") === "true")
    assert(pinned("spark.shuffle.sort.bypassMergeThreshold") === "1")
    pinned.foreach { case (k, v) =>
      // core (non-SQL) keys take effect through the SparkContext's conf
      val got =
        if (k.startsWith("spark.sql.")) s.conf.get(k) else s.sparkContext.getConf.get(k)
      assert(got === v, k)
    }
  }
}

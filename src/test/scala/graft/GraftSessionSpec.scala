package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every entry point runs on `GraftSession`, so the conf the oracle gate
  * checks is the conf the bench times, the CLI ships and the suites test. */
class GraftSessionSpec extends AnyFunSuite {

  private def sources(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
  }

  /** `file:line` of every non-comment source line matching `pattern`. */
  private def codeHits(files: Seq[Path], pattern: String): Seq[String] = {
    val re = pattern.r
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim if !code.startsWith("*") && !code.startsWith("//")
      if re.findFirstIn(code).nonEmpty
    } yield s"$f:${i + 1}"
  }

  test("GraftSession is the only place a SparkSession is built") {
    val files = sources("src/main") ++ sources("src/test")
    assert(files.exists(_.endsWith("GraftSession.scala")),
      s"sources not found under ${Paths.get("").toAbsolutePath}")
    val offenders = codeHits(files.filterNot(_.endsWith("GraftSession.scala")),
      "SparkSession\\.builder\\(")
    assert(offenders.isEmpty, offenders.mkString("session built outside GraftSession: ", ", ", ""))
  }

  test("the bounded-heap top-k and the sub-batch stream staging each exist once") {
    // Similarity.heapTopK and SubBatchState.streamSubBatches; a second
    // hit is a copy of either coming back
    val files = sources("src/main")
    Seq("PriorityQueue\\.empty", "setLastModifiedTime").foreach { p =>
      val hits = codeHits(files, p)
      assert(hits.length === 1, hits.mkString(s"$p: ", ", ", ""))
    }
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

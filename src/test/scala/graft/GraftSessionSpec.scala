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
    // Similarity.heapTopK, SubBatchState.streamSubBatches and
    // SubBatchState.union; a second hit is a copy of one coming back
    val files = sources("src/main")
    Seq("PriorityQueue\\.empty", "setLastModifiedTime", "emptyRDD\\[").foreach { p =>
      val hits = codeHits(files, p)
      assert(hits.length === 1, hits.mkString(s"$p: ", ", ", ""))
    }
  }

  test("one fold per epoch: no fold policy, run level or serve-triggered fold in src/main") {
    // Epoch folds once, to the base, in finish(): the read between folds
    // is one multi-path scan that costs about the same at the few
    // segments an epoch lands as at one, so a policy, a run level or a
    // fold on serve is a second fold path coming back
    val files = sources("src/main")
    assert(files.exists(_.endsWith("streaming/Epoch.scala")),
      s"sources not found under ${Paths.get("").toAbsolutePath}")
    Seq("TieredFoldPolicy", "mergeRun", "foldToRun", "onServe\\(").foreach { p =>
      val hits = codeHits(files, p)
      assert(hits.isEmpty, hits.mkString(s"$p: ", ", ", ""))
    }
  }

  test("Epoch is the only LSM driver: no other main source folds, merges runs, prunes or names a segment dir") {
    // streaming.Epoch lands segments and drives the LsmFold kernels; a
    // call to a kernel or a segment dir name anywhere else is a second
    // LSM path coming back
    val files = sources("src/main").filterNot(p =>
      p.endsWith("streaming/Epoch.scala") || p.endsWith("streaming/LsmFold.scala"))
    assert(files.exists(_.endsWith("Retrieval.scala")),
      s"sources not found under ${Paths.get("").toAbsolutePath}")
    Seq("LsmFold\\.(foldToBase|mergeRun|prune)\\b", "seg\\S*%04d", "seg0000").foreach { p =>
      val hits = codeHits(files, p)
      assert(hits.isEmpty, hits.mkString(s"$p outside Epoch: ", ", ", ""))
    }
  }

  test("one StAX parser: XMLInputFactory appears only in sources/OsmXml") {
    // OsmXml.parseFile; a factory anywhere else is a second pull-parse
    // loop coming back
    val hits = codeHits(sources("src/main"), "XMLInputFactory")
    assert(hits.nonEmpty && hits.forall(_.contains("sources/OsmXml.scala:")),
      hits.mkString("XMLInputFactory: ", ", ", ""))
  }

  test("one XML reader: Spark's XML source is read nowhere in src/main") {
    // OsmXml.scan runs the StAX parse as one task per file; a
    // format("xml") read is a second parser (and one that cannot split
    // a multi-line dump) coming back. The tests keep it as a reference.
    val hits = codeHits(sources("src/main"), "format\\(\"xml\"\\)")
    assert(hits.isEmpty, hits.mkString("format(\"xml\"): ", ", ", ""))
  }

  test("one recursive delete: reverseOrder appears only in PartitionedTable") {
    // PartitionedTable.deleteRecursively; a walk sorted in reverse
    // anywhere else is a hand-rolled copy of it
    val hits = codeHits(sources("src/main"), "reverseOrder")
    assert(hits.nonEmpty && hits.forall(_.contains("streaming/PartitionedTable.scala:")),
      hits.mkString("reverseOrder: ", ", ", ""))
  }

  test("every persisted-layout drop goes through LayoutRegistry: no file walk in the operators") {
    // LayoutRegistry.drop deletes through PartitionedTable.deleteRecursively;
    // a Files.walk in an operator is a private layout memo coming back
    val hits = codeHits(sources("src/main/scala/graft/operators"), "Files\\.walk")
    assert(hits.isEmpty, hits.mkString("Files.walk in an operator: ", ", ", ""))
  }

  test("the probe harness exists once: no main but Probe times, formats, listens or tears down") {
    // graft.Probe owns the session teardown, the timer, median/MAD, the
    // locale-proof number rendering and the stage meter; any of them in
    // another top-level main is a hand-rolled copy coming back
    val mains = {
      val s = Files.list(Paths.get("src/main/scala/graft"))
      try s.iterator.asScala.filter(p => p.toString.endsWith(".scala") &&
        !p.endsWith("Probe.scala")).toList finally s.close()
    }
    assert(mains.exists(_.endsWith("Bench.scala")),
      s"sources not found under ${Paths.get("").toAbsolutePath}")
    Seq("System\\.nanoTime", "setLogLevel", "spark\\.stop\\(\\)", "def (median|mad)\\b",
        "Locale\\.ROOT", "(new|extends)\\s+(org\\.apache\\.spark\\.scheduler\\.)?SparkListener\\b")
      .foreach { p =>
        val hits = codeHits(mains, p)
        assert(hits.isEmpty, hits.mkString(s"$p outside Probe: ", ", ", ""))
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

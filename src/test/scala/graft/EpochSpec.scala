package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Epoch, LsmFold, PartitionedTable}

/** The LSM epoch kernel the maintain loops run on, driven directly:
  * the write-only cadence the gate loops see, the serve-interleaved
  * run path no gate loop reaches, and the per-table landing guard
  * across a crash between two tables' base commits. */
class EpochSpec extends AnyFunSuite {
  private val spark = TestSpark.session

  /** A 1,000-doc (doc_id, text) corpus, sub-batch `k` = doc_id mod `n`
    * for k < n - 1; the last residue is the standing base. */
  private def corpus(n: Int): (DataFrame, Int => DataFrame) = {
    val docs = spark.range(1000).select(col("id").as("doc_id"),
      concat(lit("doc "), col("id").cast("string")).as("text"))
    val part = pmod(col("doc_id"), lit(n.toLong))
    (docs.filter(part === n - 1), k => docs.filter(part === k))
  }

  private def sorted(df: DataFrame): Seq[(Long, String)] = {
    import spark.implicits._
    df.select("doc_id", "text").as[(Long, String)].collect().toSeq.sorted
  }

  /** One append table over `n - 1` sub-batches, `serve` after each,
    * then sub-batch 0 delivered again. Returns the folds and the folded
    * base's rows. */
  private def oneTableEpoch(n: Int, serve: Boolean): (Seq[Epoch.Fold], Seq[(Long, String)]) = {
    val (base, batch) = corpus(n)
    Epoch.run(spark, "graft_epochspec") { ep =>
      val t = ep.table(new PartitionedTable(ep.dir.resolve("t"), "doc_id", 4),
        "docs", merge = false)
      t.pt.appendInto(spark, base, Some("docs" -> 0L))
      (0 until n - 1).foreach { k =>
        if (ep.fresh(t, k)) ep.land(t, k, batch(k))
        if (serve) ep.onServe(None)
      }
      // a replay of sub-batch 0: loose, it overwrites its own segment;
      // run-folded, the guard must refuse it (a re-land would duplicate)
      if (serve) assert(!ep.fresh(t, 0), "a run-folded sub-batch is not fresh")
      if (ep.fresh(t, 0)) ep.land(t, 0, batch(0))
      ep.finish()
      (0 until n - 1).foreach { k =>
        assert(t.pt.lastTxn(s"docs.seg$k").nonEmpty, s"sub-batch $k not in the base")
      }
      assert(ep.leaves(t).isEmpty)
      Seq("segs", "runs").foreach { sub =>
        assert(LsmFold.parquetFiles(ep.dir.resolve(sub)) === 0, s"$sub not pruned")
      }
      (ep.folds, sorted(t.pt.read(spark)))
    }
  }

  test("tiered: write-only epoch = exactly one close fold, straight to base (gate loops unchanged)") {
    val (base, batch) = corpus(33)
    Epoch.run(spark, "graft_epochspec") { ep =>
      val t = ep.table(new PartitionedTable(ep.dir.resolve("t"), "doc_id", 4),
        "docs", merge = false)
      t.pt.appendInto(spark, base, Some("docs" -> 0L))
      (0 until 32).foreach(k => ep.land(t, k, batch(k)))
      def runFolds = ep.folds.count(_.level == "run")
      def baseFolds = ep.folds.count(_.level == "base")
      assert(runFolds === 0 && baseFolds === 0,
        "no serve paid a tax; nothing to amortize at either level")
      ep.finish()
      assert(runFolds === 0 && baseFolds === 1,
        "the close fold lands everything in the base in one commit")
      assert(ep.policy.unfoldedLeaves === 0)
      ep.finish()
      assert(baseFolds === 1, "finish is idempotent when nothing is unfolded")
    }
  }

  test("serve-interleaved epoch folds to a run at segment 2, lands every sub-batch, prunes, and equals the write-only epoch") {
    val (served, rows) = oneTableEpoch(7, serve = true)
    // default seed: run fold 0.4 s, tax 0.15 s/file — segment tax
    // crosses the run price at the second serve (0.15 + 0.30 >= 0.4)
    assert(served.head.level === "run" && served.head.atSegment === 2,
      s"first fold ${served.head}")
    assert(served.last.level === "base")
    val (writeOnly, rowsWriteOnly) = oneTableEpoch(7, serve = false)
    assert(writeOnly.map(_.level) === Seq("base"))
    assert(rows === rowsWriteOnly)
    assert(rows.map(_._1).distinct.size === rows.size, "a sub-batch landed twice")
  }

  test("a crash between two tables' base commits re-lands only the table that missed them") {
    val (base, batch) = corpus(4)
    val dir = Files.createTempDirectory("graft_epochspec_crash")
    try {
      val a = new PartitionedTable(dir.resolve("a"), "doc_id", 4)
      val b = new PartitionedTable(dir.resolve("b"), "doc_id", 4)
      a.appendInto(spark, base, Some("ta" -> 0L))
      b.mergeInto(spark, base, Some("tb" -> 0L))
      var crash = true
      def epoch(): Unit = Epoch.run(spark, "graft_epochspec") { ep =>
        val ta = ep.table(a, "ta", merge = false)
        // evaluated after `a` commits and before `b` does
        val tb = ep.table(b, "tb", merge = true,
          if (crash) throw new IllegalStateException("crash between commits") else Map.empty)
        (0 until 3).foreach { k =>
          if (ep.fresh(ta, k)) ep.land(ta, k, batch(k))
          if (ep.fresh(tb, k)) ep.land(tb, k, batch(k))
        }
        if (!crash) (0 until 3).foreach { k =>
          assert(!ep.fresh(ta, k) && ep.fresh(tb, k), s"sub-batch $k guard")
        }
        ep.finish()
      }
      intercept[IllegalStateException](epoch())
      (0 until 3).foreach { k =>
        assert(a.lastTxn(s"ta.seg$k").nonEmpty && b.lastTxn(s"tb.seg$k").isEmpty)
      }
      val aRows = sorted(a.read(spark))
      crash = false
      epoch()
      assert(sorted(a.read(spark)) === aRows, "the folded table re-landed")
      assert(a.lastTxn("ta") === Some(1L) && b.lastTxn("tb") === Some(1L))
      (0 until 3).foreach(k => assert(b.lastTxn(s"tb.seg$k").nonEmpty))
      assert(sorted(b.read(spark)) === aRows)
    } finally PartitionedTable.deleteRecursively(dir)
  }
}

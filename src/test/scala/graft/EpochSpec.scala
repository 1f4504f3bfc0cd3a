package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Epoch, LsmFold, PartitionedTable}

/** The LSM epoch kernel the maintain loops run on, driven directly:
  * the write-only cadence every loop runs (one close fold), a replayed
  * sub-batch inside an epoch, and the per-table landing guard across a
  * crash between two tables' base commits. */
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

  test("write-only epoch = exactly one close fold, straight to base") {
    val (base, batch) = corpus(33)
    Epoch.run(spark, "graft_epochspec") { ep =>
      val t = ep.table(new PartitionedTable(ep.dir.resolve("t"), "doc_id", 4),
        "docs", merge = false)
      t.pt.appendInto(spark, base, Some("docs" -> 0L))
      (0 until 32).foreach(k => ep.land(t, k, batch(k)))
      assert(ep.foldSec.isEmpty && t.pt.lastTxn("docs") === Some(0L),
        "landing folds nothing")
      ep.finish()
      assert(ep.foldSec.nonEmpty && t.pt.lastTxn("docs") === Some(1L),
        "the close fold lands everything in the base in one commit")
      assert(ep.leaves(t).isEmpty)
      val folded = ep.foldSec
      ep.finish()
      assert(ep.foldSec === folded && t.pt.lastTxn("docs") === Some(1L),
        "finish is idempotent when nothing is unfolded")
    }
  }

  test("a re-delivered sub-batch overwrites its own segment; every sub-batch lands once, segments are pruned, rows equal the one-shot") {
    val (base, batch) = corpus(7)
    Epoch.run(spark, "graft_epochspec") { ep =>
      val t = ep.table(new PartitionedTable(ep.dir.resolve("t"), "doc_id", 4),
        "docs", merge = false)
      t.pt.appendInto(spark, base, Some("docs" -> 0L))
      (0 until 6).foreach { k => if (ep.fresh(t, k)) ep.land(t, k, batch(k)) }
      // a replay of sub-batch 0 before the close fold: still fresh, and
      // its re-land overwrites the one segment it already has
      assert(ep.fresh(t, 0), "a loose sub-batch is fresh until the close fold")
      ep.land(t, 0, batch(0))
      assert(ep.leaves(t).size === 6, "one segment per sub-batch")
      ep.finish()
      (0 until 6).foreach { k =>
        assert(t.pt.lastTxn(s"docs.seg$k").nonEmpty, s"sub-batch $k not in the base")
        assert(!ep.fresh(t, k), s"folded sub-batch $k is still fresh")
      }
      assert(ep.leaves(t).isEmpty)
      assert(LsmFold.parquetFiles(ep.dir.resolve("segs")) === 0, "segments not pruned")
      val rows = sorted(t.pt.read(spark))
      assert(rows === sorted((0 until 6).map(batch).foldLeft(base)(_ unionByName _)))
      assert(rows.map(_._1).distinct.size === rows.size, "a sub-batch landed twice")
    }
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

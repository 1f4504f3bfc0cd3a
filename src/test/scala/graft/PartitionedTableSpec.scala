package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.streaming.PartitionedTable
import graft.operators.Upsert

/** Partition-pruned merge: only buckets holding update keys are
  * rewritten; result always equals the naive full merge. */
class PartitionedTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  test("mergeInto rewrites only touched buckets; untouched version dirs stay byte-identical") {
    val dir = Files.createTempDirectory("graft_pt")
    val t = new PartitionedTable(dir, "id", nBuckets = 8)

    val base = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
    t.mergeInto(spark, base)
    assert(t.read(spark).count() === 200)
    val manifestBefore = t.manifest

    // one update key -> exactly one bucket rewritten
    val upd = Seq((42L, "UPDATED")).toDF("id", "v")
    val touched = t.mergeInto(spark, upd)
    assert(touched.size === 1)
    val manifestAfter = t.manifest
    val changed = manifestAfter.filter { case (b, v) => manifestBefore.get(b) != Some(v) }
    assert(changed.keySet === touched.toSet)

    // correctness: equals naive merge
    val expected = Upsert.merge(base, upd, Seq("id"))
    val got = t.read(spark)
    assert(got.count() === 200)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    assert(got.filter($"id" === 42L).select("v").head().getString(0) === "UPDATED")
  }

  test("property: a random sequence of merges equals the naive whole-table merge") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val batchGen = for {
      n <- Gen.chooseNum(0, 30)
      rows <- Gen.listOfN(n, for {
        id <- Gen.chooseNum(1L, 25L)
        v <- Gen.alphaLowerStr.map(_.take(5))
      } yield (id, v))
    } yield rows
    val runGen = Gen.listOfN(4, batchGen)
    (0 until 5).foreach { i =>
      runGen(Gen.Parameters.default, Seed(7L + i)).foreach { batches =>
        val dir = Files.createTempDirectory(s"graft_pt_prop$i")
        val t = new PartitionedTable(dir, "id", nBuckets = 4)
        var naive: Option[org.apache.spark.sql.DataFrame] = None
        batches.foreach { b =>
          // last-wins compact within the batch (caller contract)
          val upd = Upsert.lastWins(b.toDF("id", "v"), Seq("id"), Seq($"v"))
          t.mergeInto(spark, upd)
          naive = Some(naive.map(Upsert.merge(_, upd, Seq("id"))).getOrElse(upd))
        }
        (naive, t.exists) match {
          case (Some(exp), true) =>
            val got = t.read(spark)
            assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty,
              s"seed ${7L + i}: bucketed merge diverged from naive merge")
          case (Some(exp), false) => assert(exp.isEmpty)
          case (None, exists) => assert(!exists)
        }
      }
    }
  }

  test("vacuum deletes only superseded bucket versions; readers see identical data") {
    val dir = Files.createTempDirectory("graft_pt_gc")
    val t = new PartitionedTable(dir, "id", nBuckets = 4)
    // 5 merges over overlapping keys -> superseded versions accumulate
    (1 to 5).foreach { i =>
      t.mergeInto(spark, (1L to 40L).map(k => (k, s"r$i-$k")).toDF("id", "v"))
    }
    val before = t.read(spark).orderBy("id").as[(Long, String)].collect().toSeq
    def bucketDirs = PartitionedTable.listDir(dir.resolve("commits"))
      .flatMap(c => PartitionedTable.listDir(c).filter(Files.isDirectory(_)))
    val deadBefore = bucketDirs.size - t.manifest.size
    assert(deadBefore > 0, "expected dead versions before vacuum")
    assert(t.vacuum() === deadBefore) // every dead version swept
    assert(bucketDirs.size === t.manifest.size) // only live versions remain
    assert(t.read(spark).orderBy("id").as[(Long, String)].collect().toSeq === before)
    assert(t.vacuum() === 0) // idempotent
    // crash-mid-sweep analog: a later merge + vacuum still converges
    t.mergeInto(spark, Seq((1L, "post-gc")).toDF("id", "v"))
    t.vacuum()
    assert(t.read(spark).filter($"id" === 1L).select("v").head().getString(0) === "post-gc")
    assert(t.read(spark).count() === 40)
  }

  test("time travel: readAt pins each snapshot; retention sweeps past the horizon loudly") {
    val dir = Files.createTempDirectory("graft_pt_tt")
    val t = new PartitionedTable(dir, "id", nBuckets = 4)
    t.mergeInto(spark, (1L to 30L).map(k => (k, s"gen0-$k")).toDF("id", "v"))
    t.mergeInto(spark, (11L to 20L).map(k => (k, s"gen1-$k")).toDF("id", "v"))
    t.mergeInto(spark, (21L to 40L).map(k => (k, s"gen2-$k")).toDF("id", "v"))
    assert(t.snapshots === Seq(0L, 1L, 2L))

    def state(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").as[(Long, String)].collect().toSeq
    // s0: all gen0; s1: 11-20 replaced; s2 == current
    assert(state(t.readAt(spark, 0)) ===
      (1L to 30L).map(k => (k, s"gen0-$k")))
    assert(state(t.readAt(spark, 1)) ===
      (1L to 30L).map(k => (k, if (k >= 11 && k <= 20) s"gen1-$k" else s"gen0-$k")))
    assert(state(t.readAt(spark, 2)) === state(t.read(spark)))

    // retention: keep the last 2 snapshots; s0 must die, s1/s2 survive
    t.vacuum(retainSnapshots = 2)
    assert(t.snapshots === Seq(1L, 2L))
    intercept[IllegalArgumentException] { t.readAt(spark, 0) }
    assert(state(t.readAt(spark, 1)) ===
      (1L to 30L).map(k => (k, if (k >= 11 && k <= 20) s"gen1-$k" else s"gen0-$k")))
    assert(state(t.readAt(spark, 2)) === state(t.read(spark)))

    // default vacuum: only the current snapshot remains readable
    t.vacuum()
    assert(t.snapshots === Seq(2L))
    assert(state(t.readAt(spark, 2)) === state(t.read(spark)))
  }

  test("retained snapshots protect their bucket dirs from vacuum") {
    val dir = Files.createTempDirectory("graft_pt_tt2")
    val t = new PartitionedTable(dir, "id", nBuckets = 2)
    t.mergeInto(spark, (1L to 20L).map(k => (k, s"a$k")).toDF("id", "v"))
    t.mergeInto(spark, (1L to 20L).map(k => (k, s"b$k")).toDF("id", "v"))
    // retain both: commit-0 dirs are dead for MANIFEST but live for s0
    assert(t.vacuum(retainSnapshots = 2) === 0)
    assert(t.readAt(spark, 0).filter($"id" === 1L).select("v").head().getString(0) === "a1")
    // drop the horizon: commit-0 dirs now sweep
    assert(t.vacuum() > 0)
    assert(t.read(spark).filter($"id" === 1L).select("v").head().getString(0) === "b1")
  }

  test("changesBetween: manifest-diff pruning, value-level diff, compaction yields empty feed") {
    val dir = Files.createTempDirectory("graft_pt_cdf")
    val t = new PartitionedTable(dir, "id", nBuckets = 8)
    t.mergeInto(spark, (1L to 80L).map(k => (k, s"a$k")).toDF("id", "v"))
    // touch a few keys: updates (changed value), inserts (new keys),
    // plus one key rewritten with the SAME value (a copied row)
    t.mergeInto(spark, (Seq((5L, "B5"), (13L, "B13"), (90L, "B90"), (1L, "a1")))
      .toDF("id", "v"))
    val feed = t.changesBetween(spark, 0L, 1L)
    val rows = feed.select($"op", $"id", $"before.v", $"after.v")
      .as[(String, Long, Option[String], Option[String])].collect().toSet
    assert(rows === Set(
      ("update", 5L, Some("a5"), Some("B5")),
      ("update", 13L, Some("a13"), Some("B13")),
      ("insert", 90L, None, Some("B90"))))
    // (1L, "a1") was rewritten into a fresh bucket dir but its VALUE
    // is unchanged — asserted absent above (file identity != row identity)

    // pruning: the feed reads only pointer-changed buckets' dirs, not
    // the table — strictly fewer input files than a full-table read
    val feedFiles = feed.inputFiles.toSet
    val allFiles = t.read(spark).inputFiles.toSet
    assert(feedFiles.nonEmpty && feedFiles.size < allFiles.size,
      s"feed read ${feedFiles.size} files vs table ${allFiles.size}")

    // a pure compaction changes pointers but not content: empty feed
    val fragged = t.compact(spark)
    if (fragged.nonEmpty) {
      val s = t.snapshots
      assert(t.changesBetween(spark, s(s.length - 2), s.last).isEmpty)
    }
  }

  test("deleteKeys rewrites only touched buckets; feed emits delete ops; emptied bucket drops") {
    val dir = Files.createTempDirectory("graft_pt_del")
    val t = new PartitionedTable(dir, "id", nBuckets = 4)
    t.mergeInto(spark, (1L to 200L).map(k => (k, s"v$k")).toDF("id", "v"))

    // partial-bucket delete: two keys
    val touched = t.deleteKeys(spark, Seq(7L, 8L).toDF("id"))
    assert(touched.nonEmpty && touched.size <= 2)
    assert(t.read(spark).count() === 198)
    assert(t.read(spark).filter($"id".isin(7L, 8L)).isEmpty)
    val feed = t.changesBetween(spark, 0L, 1L)
    val dels = feed.filter($"op" === "delete")
      .select($"id", $"before.v").as[(Long, String)].collect().toSet
    assert(dels === Set((7L, "v7"), (8L, "v8")))
    // co-bucketed survivors were copied, not changed
    assert(feed.filter($"op" =!= "delete").isEmpty)

    // full-bucket delete: every key hashing to one bucket
    val bucketOf = t.read(spark)
      .withColumn("__b", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash($"id"), org.apache.spark.sql.functions.lit(4)))
    val b0keys = bucketOf.filter($"__b" === 0).select("id")
    val n0 = b0keys.count()
    assert(n0 > 0)
    t.deleteKeys(spark, b0keys)
    assert(!t.manifest.contains(0), "emptied bucket must leave the manifest")
    assert(t.read(spark).count() === 198 - n0)
    assert(t.changesBetween(spark, 1L, 2L).filter($"op" === "delete").count() === n0)

    // deleting absent keys is a no-op beyond the bucket probe
    val before = t.read(spark).count()
    t.deleteKeys(spark, Seq(9999L).toDF("id"))
    assert(t.read(spark).count() === before)
  }

  test("additive schema evolution: new batch columns null-fill old rows; type change refused") {
    val dir = Files.createTempDirectory("graft_pt_evo")
    val t = new PartitionedTable(dir, "id", nBuckets = 4)
    t.mergeInto(spark, (1L to 20L).map(k => (k, s"v$k")).toDF("id", "v"))
    // widened batch: adds a 'score' column
    t.mergeInto(spark, Seq((5L, "V5", 0.9), (21L, "V21", 0.7)).toDF("id", "v", "score"))
    val cur = t.read(spark)
    assert(cur.columns.sorted.toSeq === Seq("id", "score", "v"))
    assert(cur.count() === 21)
    assert(cur.filter($"id" === 5L).select("score").head().getDouble(0) === 0.9)
    assert(cur.filter($"id" === 1L).select("score").head().isNullAt(0)) // pre-evolution row is NULL
    // a narrower batch (omits score) still merges; its rows get NULL
    t.mergeInto(spark, Seq((6L, "W6")).toDF("id", "v"))
    assert(t.read(spark).filter($"id" === 6L).select("score").head().isNullAt(0))
    assert(t.read(spark).filter($"id" === 5L).select("score").head().getDouble(0) === 0.9)
    // feed across the evolution: NULL-vs-value IS a change
    val feed = t.changesBetween(spark, 0L, 1L)
    assert(feed.filter($"id" === 5L).select("op").head().getString(0) === "update")
    // type conflict is refused loudly
    val e = intercept[IllegalArgumentException] {
      t.mergeInto(spark, Seq((7L, 123)).toDF("id", "v"))
    }
    assert(e.getMessage.contains("additive columns only"))
  }

  test("lookup reads exactly one bucket's files") {
    val dir = Files.createTempDirectory("graft_pt_lu")
    val t = new PartitionedTable(dir, "id", nBuckets = 8)
    t.mergeInto(spark, (1L to 400L).map(k => (k, s"v$k")).toDF("id", "v"))
    val hit = t.lookup(spark, 123L)
    assert(hit.select("v").head().getString(0) === "v123")
    assert(hit.inputFiles.toSet.size < t.read(spark).inputFiles.toSet.size,
      "lookup must open fewer files than a table scan")
    // absent key in an existing bucket: zero rows, no error
    assert(t.lookup(spark, 999999L).isEmpty)
  }

  test("property: random merge/delete sequence — state equals naive replay, feeds telescope") {
    val rnd = new scala.util.Random(31)
    val dir = Files.createTempDirectory("graft_pt_prop")
    val t = new PartitionedTable(dir, "id", nBuckets = 4)
    var naive = Map.empty[Long, String]
    (0 until 8).foreach { i =>
      if (i % 3 == 2 && naive.nonEmpty) {
        val dels = naive.keys.toSeq.sorted.filter(_ => rnd.nextBoolean()).take(10)
        if (dels.nonEmpty) {
          t.deleteKeys(spark, dels.toDF("id"))
          naive = naive -- dels
        } else {
          t.mergeInto(spark, Seq((1000L + i, s"x$i")).toDF("id", "v"))
          naive += (1000L + i) -> s"x$i"
        }
      } else {
        val batch = (1 to 15).map(_ => (rnd.nextInt(40).toLong, s"r$i-${rnd.nextInt(99)}"))
          .groupBy(_._1).map { case (k, vs) => (k, vs.last._2) }.toSeq
        t.mergeInto(spark, batch.toDF("id", "v"))
        naive = naive ++ batch
      }
    }
    val got = t.read(spark).as[(Long, String)].collect().toMap
    assert(got === naive)
    // telescoping: key-reduced union of consecutive feeds == end-to-end diff
    val snaps = t.snapshots
    val perStep = (1 until snaps.length).map(i =>
      t.changesBetween(spark, snaps(i - 1), snaps(i))
        .select($"id", $"before", $"after", lit(i).as("step")))
      .reduce(_ unionByName _)
    val reduced = perStep
      .withColumn("rn_first", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"id").orderBy($"step")))
      .withColumn("rn_last", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"id").orderBy($"step".desc)))
    val firstBefore = reduced.filter($"rn_first" === 1).select($"id", $"before")
    val lastAfter = reduced.filter($"rn_last" === 1).select($"id", $"after")
    val telescoped = firstBefore.join(lastAfter, Seq("id"))
      .filter(!($"before" <=> $"after")) // keys that net out to no change drop
      .select($"id", $"before.v".as("b"), $"after.v".as("a"))
      .as[(Long, Option[String], Option[String])].collect()
      .map { case (k, b, a) => k -> ((b, a)) }.toMap
    val direct = t.changesBetween(spark, snaps.head, snaps.last)
      .select($"id", $"before.v".as("b"), $"after.v".as("a"))
      .as[(Long, Option[String], Option[String])].collect()
      .map { case (k, b, a) => k -> ((b, a)) }.toMap
    assert(telescoped === direct)
  }

  test("compact coalesces fragmented buckets to one file each; content identical") {
    val dir = Files.createTempDirectory("graft_pt_compact")
    val t = new PartitionedTable(dir, "id", nBuckets = 4)
    // a wide merge: each bucket's rows arrive from many shuffle tasks,
    // so bucket dirs hold multiple small part-files
    val base = (1L to 2000L).map(i => (i, s"v$i")).toDF("id", "v").repartition(16)
    t.mergeInto(spark, base)
    def filesOf(rel: String): Int =
      java.nio.file.Files.list(dir.resolve(rel)).filter(p =>
        p.getFileName.toString.endsWith(".parquet")).count().toInt
    val before = t.manifest
    assert(before.values.exists(filesOf(_) > 1)) // fragmentation exists
    val contentBefore = t.read(spark).collect().toSet

    val compacted = t.compact(spark)
    assert(compacted.nonEmpty)
    val after = t.manifest
    // every compacted bucket: repointed and now exactly one file
    compacted.foreach { b =>
      assert(after(b) !== before(b))
      assert(filesOf(after(b)) === 1)
    }
    // non-fragmented buckets keep their dirs untouched
    (before.keySet -- compacted).foreach(b => assert(after(b) === before(b)))
    // physical only: same rows, and a second compact is a no-op
    assert(t.read(spark).collect().toSet === contentBefore)
    assert(t.compact(spark) === Nil)
    // superseded fragmented dirs are dead -> vacuum sweeps them
    assert(t.vacuum() >= compacted.size)
    assert(t.read(spark).collect().toSet === contentBefore)
  }

  test("manifest without the format marker is rejected with an explicit layout error") {
    val dir = Files.createTempDirectory("graft_pt_old")
    val t = new PartitionedTable(dir, "id", nBuckets = 2)
    t.mergeInto(spark, Seq((1L, "a")).toDF("id", "v"))
    // simulate a table written by the pre-marker layout
    val old = Files.readAllLines(dir.resolve("MANIFEST"))
    Files.write(dir.resolve("MANIFEST"), java.util.List.copyOf(old.subList(1, old.size)))
    val err = intercept[IllegalStateException] { t.read(spark) }
    assert(err.getMessage.contains("incompatible table layout"))
  }

  test("mergeInto is idempotent and inserts new keys into their buckets") {
    // a driver-held batch takes the local path, a repartitioned one the
    // distributed path; on both, NULL is one key that a batch replaces
    Seq(false, true).foreach { distributed =>
      val dir = Files.createTempDirectory("graft_pt2")
      val t = new PartitionedTable(dir, "id", nBuckets = 4)
      t.mergeInto(spark, Seq((Some(1L), "a"), (Some(2L), "b"), (None, "n")).toDF("id", "v"))
      val local = Seq((Some(2L), "b2"), (Some(999L), "new"), (None, "n2")).toDF("id", "v")
      val upd = if (distributed) local.repartition(2) else local
      t.mergeInto(spark, upd)
      val once = t.read(spark).orderBy("id").as[(Option[Long], String)].collect().toSeq
      t.mergeInto(spark, upd) // re-apply: idempotent
      val twice = t.read(spark).orderBy("id").as[(Option[Long], String)].collect().toSeq
      assert(once === twice, s"distributed=$distributed")
      assert(once === Seq((None, "n2"), (Some(1L), "a"), (Some(2L), "b2"), (Some(999L), "new")),
        s"distributed=$distributed")
    }
  }

  test("optimistic concurrency: a lost commit race throws, leaves state intact, cleans its attempt dir") {
    val dir = Files.createTempDirectory("graft_pt_occ")
    // a concurrent writer lands commit 1 INSIDE our race window (after
    // our id pick + data write, before our CREATE_NEW) — the seam
    // injects its snapshot exactly there, once
    var inject = true
    val t = new PartitionedTable(dir, "id", nBuckets = 4) {
      override protected[graft] def onBeforeCommit(commit: Long): Unit =
        if (commit == 1L && inject) {
          inject = false
          Files.writeString(dir.resolve("MANIFEST.s1"),
            Files.readString(dir.resolve("MANIFEST.s0")))
        }
    }
    t.mergeInto(spark, Seq((1L, "a")).toDF("id", "v"))
    val stateBefore = t.read(spark).collect().toSet
    val manifestBefore = t.manifest
    val err = intercept[java.util.ConcurrentModificationException] {
      t.mergeInto(spark, Seq((2L, "b")).toDF("id", "v"))
    }
    assert(err.getMessage.contains("lost to a concurrent writer"))
    assert(t.manifest === manifestBefore) // MANIFEST not swapped
    assert(t.read(spark).collect().toSet === stateBefore)
    // the loser's attempt dir (commits/c1-<nonce>) was deleted on abort
    val attemptDirs = PartitionedTable.listDir(dir.resolve("commits"))
      .map(_.getFileName.toString).filter(_.startsWith("c1-"))
    assert(attemptDirs.isEmpty)
    // a retry re-reads, sees commit 1 spent (its snapshot is on disk),
    // commits as 2, and lands
    PartitionedTable.retryingCommit() {
      t.mergeInto(spark, Seq((2L, "b")).toDF("id", "v"))
    }
    assert(t.snapshots.max === 2L)
    assert(t.read(spark).count() === 2)
  }

  test("two concurrent writers with retryingCommit both land; disjoint keys all present") {
    val dir = Files.createTempDirectory("graft_pt_race")
    val t = new PartitionedTable(dir, "id", nBuckets = 4)
    t.mergeInto(spark, (1L to 40L).map(i => (i, "base")).toDF("id", "v"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (0 until 2).map { w =>
      Future {
        (0 until 3).foreach { k =>
          PartitionedTable.retryingCommit() {
            val lo = 1000L * (w + 1) + 10 * k
            t.mergeInto(spark, (lo until lo + 5).map(i => (i, s"w$w-$k")).toDF("id", "v"))
          }
        }
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    val got = t.read(spark)
    assert(got.count() === 40 + 2 * 3 * 5) // every writer's every batch landed exactly once
    assert(got.filter($"id" >= 1000L).count() === 30)
    // commit history is a clean sequence: snapshot ids are distinct and gap-free
    // modulo aborted attempts, and the current manifest parses
    assert(t.snapshots.distinct.size === t.snapshots.size)
    assert(t.manifest.nonEmpty)
  }

  test("regression: commit ids never reuse a snapshot after deleteKeys empties the manifest") {
    val dir = Files.createTempDirectory("graft_pt_idreuse")
    val t = new PartitionedTable(dir, "id", nBuckets = 2)
    t.mergeInto(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val s0 = t.snapshots.head
    val s0Content = t.readAt(spark, s0).collect().toSet
    // empty the table: every bucket drops from the manifest, so the
    // manifest alone no longer witnesses commits 0 and 1
    t.deleteKeys(spark, Seq(Tuple1(1L), Tuple1(2L)).toDF("id"))
    assert(t.manifest.isEmpty)
    // next commit must be 2, NOT 0 — a reused id would overwrite
    // MANIFEST.s0 and clobber its data (silent time-travel corruption)
    t.mergeInto(spark, Seq((3L, "c")).toDF("id", "v"))
    assert(t.snapshots === Seq(0L, 1L, 2L))
    assert(t.readAt(spark, s0).collect().toSet === s0Content)
    assert(t.read(spark).as[(Long, String)].collect().toSeq === Seq((3L, "c")))
  }

  test("bucket-count mismatch is refused: a handle with the wrong nBuckets cannot touch data") {
    // rows are addressed pmod(hash(key), n): an existing table opened
    // with a different n would silently misroute every key — a merge
    // rewrites the wrong buckets (duplicating keys), a lookup opens
    // the wrong bucket (answering empty). The manifest records n at
    // every commit and every manifest read validates it.
    val dir = Files.createTempDirectory("graft_pt_nb")
    val t = new PartitionedTable(dir, "id", nBuckets = 8)
    t.mergeInto(spark, (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"))
    val wrong = new PartitionedTable(dir, "id", nBuckets = 16)
    val e = intercept[IllegalArgumentException] {
      wrong.mergeInto(spark, Seq((1L, "X")).toDF("id", "v"))
    }
    assert(e.getMessage.contains("nBuckets=8"))
    intercept[IllegalArgumentException] { wrong.read(spark) }
    // the correct handle still works
    assert(new PartitionedTable(dir, "id", 8).read(spark).count() === 50)
  }

  test("txn ids make appendInto/mergeInto exactly-once under at-least-once replay") {
    val dir = Files.createTempDirectory("graft_pt_txn")
    val t = new PartitionedTable(dir, "id", nBuckets = 4)
    val b0 = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    // append WITHOUT txn: a replay duplicates (the hazard)
    t.appendInto(spark, b0)
    t.appendInto(spark, b0)
    assert(t.read(spark).count() === 4)
    // fresh table, appends guarded by (appId, batchId)
    val dir2 = Files.createTempDirectory("graft_pt_txn2")
    val g = new PartitionedTable(dir2, "id", nBuckets = 4)
    assert(g.appendInto(spark, b0, txn = Some("sinkA" -> 0L)).nonEmpty)
    assert(g.appendInto(spark, b0, txn = Some("sinkA" -> 0L)) === Nil) // replay no-ops
    assert(g.lastTxn("sinkA") === Some(0L))
    assert(g.appendInto(spark, b0, txn = Some("sinkA" -> 1L)).nonEmpty) // next batch lands
    // a different appId is an independent sequence
    assert(g.appendInto(spark, b0, txn = Some("sinkB" -> 0L)).nonEmpty)
    assert(g.read(spark).count() === 6)
    assert(g.txns === Map("sinkA" -> 1L, "sinkB" -> 0L))
    // txn state survives unrelated commits (merge/compact keep the map)
    g.mergeInto(spark, Seq((99L, "z")).toDF("id", "v"), txn = Some("merger" -> 7L))
    g.compact(spark, maxFilesPerBucket = 1)
    assert(g.lastTxn("sinkA") === Some(1L) && g.lastTxn("merger") === Some(7L))
    assert(g.mergeInto(spark, b0, txn = Some("merger" -> 7L)) === Nil)
  }

  test("narrow append into only-fresh buckets must not narrow the recorded union schema") {
    // r14 fix: an append whose touched buckets have NO existing files
    // reads nothing back, so merged.schema is just the batch's — if
    // that were recorded verbatim, columns living only in untouched
    // buckets would vanish from every later explicit-schema read
    val dir = Files.createTempDirectory("graft_pt_schema")
    val t = new PartitionedTable(dir, "id", nBuckets = 4)
    // pick one id per bucket with the table's own bucket function
    val byBucket = spark.range(0, 64)
      .select(col("id"), pmod(hash(col("id")), lit(4)).as("b"))
      .collect().groupBy(_.getInt(1)).map { case (b, rs) => b -> rs.head.getLong(0) }
    val wideId = byBucket(0)
    val narrowId = byBucket(1) // lands in a bucket the wide write never touched
    t.appendInto(spark, Seq((wideId, "keepme")).toDF("id", "extra"),
      txn = Some("w" -> 0L))
    t.appendInto(spark, Seq(narrowId).toDF("id"), txn = Some("w" -> 1L))
    val out = t.read(spark)
    assert(out.columns.toSet === Set("id", "extra"),
      s"recorded schema narrowed to ${out.columns.mkString(",")}")
    val rows = out.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(rows(wideId) === "keepme", "wide bucket's column value lost")
    assert(rows(narrowId) === null)
  }

  test("fresh-bucket append with a CONFLICTING type for a stored column is refused at the record point") {
    // a fresh-bucket append reads no existing rows back, so the
    // mergeInto-time additive-only check never sees the conflict —
    // pre-r15 the batch's type was recorded VERBATIM, silently
    // narrowing the schema for every later explicit-schema read of
    // the old buckets (r14 ADVICE)
    val dir = Files.createTempDirectory("graft_pt_typeconf")
    val t = new PartitionedTable(dir, "id", nBuckets = 4)
    val byBucket = spark.range(0, 64)
      .select(col("id"), pmod(hash(col("id")), lit(4)).as("b"))
      .collect().groupBy(_.getInt(1)).map { case (b, rs) => b -> rs.head.getLong(0) }
    t.appendInto(spark, Seq((byBucket(0), "x")).toDF("id", "v"),
      txn = Some("w" -> 0L))
    val e = intercept[IllegalArgumentException] {
      t.appendInto(spark, Seq((byBucket(1), 123)).toDF("id", "v"),
        txn = Some("w" -> 1L))
    }
    assert(e.getMessage.contains("additive columns only"))
    // the refused commit must not have landed and the schema is intact
    assert(t.read(spark).columns.toSet === Set("id", "v"))
    assert(t.read(spark).count() === 1)
    assert(t.read(spark).select("v").head().getString(0) === "x")
  }

  test("lookup casts the key to the key column's type: Int, Long and String keys find every row") {
    // murmur3 hashes an Int and a Long of the same value differently;
    // hashing the literal as typed opened the wrong bucket and
    // answered empty for lookup(spark, 123) on a Long-keyed table
    def allFound[K](t: PartitionedTable, keys: Seq[K]): Long =
      keys.map(k => t.lookup(spark, k)).reduce(_ union _).count()
    val longT = new PartitionedTable(Files.createTempDirectory("graft_pt_lul"), "id", 8)
    longT.mergeInto(spark, (1L to 24L).map(k => (k, s"v$k")).toDF("id", "v"))
    assert(allFound(longT, (1L to 24L)) === 24)
    assert(allFound(longT, (1 to 24)) === 24, "Int key on a Long-keyed table")
    val intT = new PartitionedTable(Files.createTempDirectory("graft_pt_lui"), "id", 8)
    intT.mergeInto(spark, (1 to 24).map(k => (k, s"v$k")).toDF("id", "v"))
    assert(allFound(intT, (1 to 24)) === 24)
    assert(allFound(intT, (1L to 24L)) === 24, "Long key on an Int-keyed table")
    val strT = new PartitionedTable(Files.createTempDirectory("graft_pt_lus"), "id", 8)
    strT.mergeInto(spark, (1 to 24).map(k => (s"k$k", k)).toDF("id", "v"))
    assert(allFound(strT, (1 to 24).map(k => s"k$k")) === 24)
    assert(longT.lookup(spark, 7).select("v").head().getString(0) === "v7")
  }

  test("a local batch's driver-computed touched buckets equal the probe's for Int, Long and String keys") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    def isLocal(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    def bothWays(name: String, base: org.apache.spark.sql.DataFrame,
        batch: org.apache.spark.sql.DataFrame): Unit = {
      val local = new PartitionedTable(Files.createTempDirectory(s"graft_pt_lb_$name"), "id", 8)
      val probed = new PartitionedTable(Files.createTempDirectory(s"graft_pt_pb_$name"), "id", 8)
      Seq(local, probed).foreach(_.mergeInto(spark, base))
      val distributed = batch.repartition(3)
      assert(isLocal(batch) && !isLocal(distributed), name)
      val viaDriver = local.mergeInto(spark, batch)
      val viaProbe = probed.mergeInto(spark, distributed)
      assert(viaDriver === viaProbe, name)
      assert(viaDriver.nonEmpty && viaDriver.size < 8, s"$name touched $viaDriver")
      val expected = batch.select(pmod(hash(col("id")), lit(8))).distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      assert(viaDriver === expected, name)
      val (a, b) = (local.read(spark), probed.read(spark))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, name)
    }
    bothWays("long", (100L to 140L).map(k => (k, "b")).toDF("id", "v"),
      Seq((3L, "x"), (120L, "y"), (7L, "z")).toDF("id", "v"))
    bothWays("int", (100 to 140).map(k => (k, "b")).toDF("id", "v"),
      Seq((3, "x"), (120, "y"), (7, "z")).toDF("id", "v"))
    bothWays("string", (100 to 140).map(k => (s"k$k", "b")).toDF("id", "v"),
      Seq(("k3", "x"), ("k120", "y"), ("k7", "z")).toDF("id", "v"))
  }

  test("a merge into a non-empty table writes exactly one file per touched bucket") {
    val dir = Files.createTempDirectory("graft_pt_onefile")
    val t = new PartitionedTable(dir, "id", nBuckets = 8)
    val base = (1L to 2000L).map(i => (i, s"v$i")).toDF("id", "v").repartition(16)
    t.mergeInto(spark, base)
    val before = t.manifest
    // updates and inserts whose keys hash into buckets 0-4 only, spread
    // over many input partitions: each bucket's rows arrive from many
    // upstream tasks
    val upd = spark.range(1L, 2600L).toDF("id")
      .filter(pmod(hash(col("id")), lit(8)) < 5 && col("id") % 3 === 0)
      .select(col("id"), concat(lit("u"), col("id").cast("string")).as("v"))
      .repartition(16)
    val touched = t.mergeInto(spark, upd)
    assert(touched === Seq(0, 1, 2, 3, 4))
    val after = t.manifest
    def parquetFiles(rel: String): Long = PartitionedTable.listDir(dir.resolve(rel))
      .count(_.getFileName.toString.endsWith(".parquet")).toLong
    touched.foreach { b =>
      assert(after(b) !== before(b))
      assert(parquetFiles(after(b)) === 1, s"bucket $b holds ${parquetFiles(after(b))} files")
    }
    (before.keySet -- touched).foreach(b => assert(after(b) === before(b)))
    val expected = Upsert.merge(base, upd, Seq("id"))
    val got = t.read(spark)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("repartition(n, key) places each row in task pmod(hash(key), n): the key-aligned write's premise") {
    // PartitionedTable's one-file-per-bucket write relies on Spark's
    // HashPartitioning being pmod(murmur3(key, 42), n), the bucket
    // expression; a Spark upgrade that changes it fails here
    val rows = spark.range(0, 500).select(
      col("id").as("l"), col("id").cast("int").as("i"),
      concat(lit("k"), col("id").cast("string")).as("s"))
    Seq("l", "i", "s").foreach { k =>
      Seq(5, 8).foreach { n =>
        val placed = rows.repartition(n, col(k))
          .select(spark_partition_id().as("p"), pmod(hash(col(k)), lit(n)).as("b"))
        assert(placed.filter(col("p") =!= col("b")).count() === 0, s"key $k, n=$n")
        assert(placed.select("p").distinct().count() === n, s"key $k, n=$n")
      }
    }
  }
}

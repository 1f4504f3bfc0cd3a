package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import graft.streaming.{PartitionedTable, Replication}

/** Operator-facing CLI — the `changesetmd.py` argparse surface
  * (`changesetmd.py:202-230`) mapped onto the engine:
  *
  *   -d/--database DIR   warehouse root (≙ the Postgres database)
  *   -c/--create         create/initialize the table layout (≙ -c)
  *   -t/--truncate       drop table contents, keep layout (≙ -t)
  *   -f/--file PATH      bulk-load a changeset dump (.osm[.gz|.bz2]) (≙ -f)
  *   -r/--replicate SRC  catch up from a replication feed: local dir
  *                       or http(s) URL (≙ -r; the reference hardcodes
  *                       the planet URL, here it is an argument)
  *   -g/--geometry       materialize the geometry envelope column (≙ -g)
  *   --init-sequence N   bootstrap the replication offset (the
  *                       reference refuses to replicate from the -1
  *                       sentinel, changesetmd.py:156-158 — after a
  *                       bulk load the operator pins the feed position
  *                       explicitly)
  *
  * Flags compose in the reference's order: create → truncate → load →
  * replicate → geometry.
  */
object Main {

  final case class Config(
      db: Option[Path] = None,
      create: Boolean = false,
      truncate: Boolean = false,
      bulkFile: Option[String] = None,
      replicateSrc: Option[String] = None,
      geometry: Boolean = false,
      initSequence: Option[Long] = None)

  def parse(args: List[String], c: Config = Config()): Config = args match {
    case Nil => c
    case ("-d" | "--database") :: v :: rest => parse(rest, c.copy(db = Some(Paths.get(v))))
    case ("-c" | "--create") :: rest => parse(rest, c.copy(create = true))
    case ("-t" | "--truncate") :: rest => parse(rest, c.copy(truncate = true))
    case ("-f" | "--file") :: v :: rest => parse(rest, c.copy(bulkFile = Some(v)))
    case ("-r" | "--replicate") :: v :: rest => parse(rest, c.copy(replicateSrc = Some(v)))
    case ("-g" | "--geometry") :: rest => parse(rest, c.copy(geometry = true))
    case "--init-sequence" :: v :: rest => parse(rest, c.copy(initSequence = Some(v.toLong)))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  private def tablesDir(db: Path) = db.resolve("tables")
  private def changesetsDir(db: Path) = tablesDir(db).resolve("changesets")
  private def stateFile(db: Path) = db.resolve("replication_state.txt")

  /** Run the composed actions; returns a short action log (tested). */
  def run(spark: SparkSession, cfg: Config): Seq[String] = {
    val db = cfg.db.getOrElse(
      throw new IllegalArgumentException("missing -d/--database DIR"))
    val log = Seq.newBuilder[String]
    val csDir = changesetsDir(db)

    if (cfg.create) {
      Files.createDirectories(tablesDir(db))
      Replication.StateDoc.init(stateFile(db))
      log += "create: initialized layout"
    }

    if (cfg.truncate) {
      // drop contents, keep the layout (≙ TRUNCATE, queries.py:37-39)
      Seq(csDir, Replication.commentsTable(csDir).dir).filter(Files.exists(_))
        .foreach(PartitionedTable.deleteRecursively)
      log += "truncate: dropped table contents"
    }

    cfg.bulkFile.foreach { dump =>
      // the two tables load side by side, each from its own scan
      val raw = graft.sources.OsmXml.scan(spark, dump)
      val (nCs, nCm) = Replication.inParallel(
        Replication.changesetTable(csDir)
          .mergeInto(spark, graft.sources.OsmXml.changesets(raw)).size,
        Replication.commentsTable(csDir)
          .mergeInto(spark, graft.sources.OsmXml.comments(raw)).size)
      log += s"load: $dump into $nCs changeset buckets, $nCm comment buckets"
    }

    cfg.initSequence.foreach { seq =>
      Replication.StateDoc.write(stateFile(db),
        Replication.ReplState(seq, None, updateInProgress = false))
      log += s"init-sequence: $seq"
    }

    cfg.replicateSrc.foreach { src =>
      val st = { Replication.StateDoc.init(stateFile(db)); Replication.StateDoc.read(stateFile(db)) }
      require(st.lastSequence >= 0,
        "replication state uninitialized: run --init-sequence first " +
          "(the reference refuses the -1 sentinel, changesetmd.py:156-158)")
      val source: Replication.ReplicationSource =
        if (src.startsWith("http://") || src.startsWith("https://"))
          Replication.HttpSource(src, db.resolve("staging"))
        else Replication.LocalDirSource(Paths.get(src))
      val n = Replication.catchUp(spark, source, csDir, stateFile(db),
        batchSize = 8, nBuckets = 8)
      log += s"replicate: applied $n diffs from $src"
    }

    if (cfg.geometry) {
      // ≙ queries.py:49-52: add the geometry column and backfill it
      import graft.operators.Spatial
      val cs = Replication.readTable(spark, csDir)
      val out = tablesDir(db).resolve("changesets_geom")
      cs.withColumn("geom", Spatial.geomEnvelope(
          col("min_lon").cast("double"), col("min_lat").cast("double"),
          col("max_lon").cast("double"), col("max_lat").cast("double")))
        .write.mode(SaveMode.Overwrite).parquet(out.toString)
      log += s"geometry: materialized envelope column at $out"
    }

    log.result()
  }

  /** The full CLI composition as a checkable relation (gate entry
    * `cli_entry`): create → bulk-load the dump fixture →
    * --init-sequence → replicate 5 diffs → geometry, exactly the
    * reference's flag order (`changesetmd.py:202-230`), then probe the
    * action log order and the resulting tables. Known answers: bulk
    * fixture = ids {10,11,12} with 2 comments on id 10; diffs 1..5
    * rewrite id 11 and insert 101..105 → 8 changesets, offset 5. */
  def cliEntry(spark: SparkSession, d: String): Seq[(String, Long)] = {
    val root = Files.createTempDirectory("graft_cli_entry")
    val db = root.resolve("db")
    val dump = root.resolve("dump/changesets.osm.xml.gz")
    graft.sources.OsmXml.writeFixture(dump, graft.sources.OsmXml.bulkFixture)
    val feed = root.resolve("feed")
    Replication.writeFixtureWorld(feed, 5)
    val log = run(spark, parse(List(
      "-d", db.toString, "-c", "-f", dump.toString,
      "--init-sequence", "0", "-r", feed.toString, "-g")))
    def pos(prefix: String): Long = log.indexWhere(_.startsWith(prefix)) + 1L
    val csDir = changesetsDir(db)
    Seq(
      ("action_create", pos("create:")),
      ("action_load", pos("load:")),
      ("action_init_sequence", pos("init-sequence:")),
      ("action_replicate", pos("replicate: applied 5")),
      ("action_geometry", pos("geometry:")),
      ("final_changesets", Replication.readTable(spark, csDir).count()),
      ("final_comments", Replication.commentsTable(csDir).read(spark).count()),
      ("final_offset", Replication.StateDoc.read(stateFile(db)).lastSequence),
      ("geom_rows",
        spark.read.parquet(tablesDir(db).resolve("changesets_geom").toString).count()))
  }

  val queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "cli_entry" -> ((s, d) => {
      import s.implicits._
      cliEntry(s, d).toDF("probe", "value")
    }))

  val oracles: Map[String, String] = Map(
    "cli_entry" ->
      """SELECT * FROM (VALUES
        |  ('action_create', CAST(1 AS BIGINT)),
        |  ('action_load', 2),
        |  ('action_init_sequence', 3),
        |  ('action_replicate', 4),
        |  ('action_geometry', 5),
        |  ('final_changesets', 8),
        |  ('final_comments', 2),
        |  ('final_offset', 5),
        |  ('geom_rows', 8)
        |) AS t(probe, value)""".stripMargin)

  def main(args: Array[String]): Unit = {
    val cfg = parse(args.toList)
    run(Probe.session("WARN"), cfg).foreach(println)
  }
}

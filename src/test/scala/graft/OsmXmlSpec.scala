package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.sources.OsmXml

/** Golden tests for the XML scan pipeline (FIXTURES.md §A.4):
  * the reference README's example queries as assertions. */
class OsmXmlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private lazy val raw = {
    val p = Files.createTempDirectory("graft_t_xml").resolve("dump.osm.xml")
    OsmXml.writeFixture(p, OsmXml.bulkFixture)
    OsmXml.scan(spark, p.toString).cache()
  }
  private lazy val cs = OsmXml.changesets(raw).cache()
  private lazy val cm = OsmXml.comments(raw).cache()

  test("scan yields one row per changeset element") {
    assert(cs.count() === 3)
  }

  test("the StAX scan and driver parse equal Spark's XML source (plain, gz, a directory)") {
    def norm(df: org.apache.spark.sql.DataFrame) =
      OsmXml.changesets(df).withColumn("tags", to_json(col("tags")))
    def normCm(df: org.apache.spark.sql.DataFrame) = OsmXml.comments(df)
    def assertSame(got: org.apache.spark.sql.DataFrame, generic: org.apache.spark.sql.DataFrame,
        what: String): Unit = {
      assert(norm(got).exceptAll(norm(generic)).isEmpty &&
        norm(generic).exceptAll(norm(got)).isEmpty, s"changesets differ ($what)")
      assert(normCm(got).exceptAll(normCm(generic)).isEmpty &&
        normCm(generic).exceptAll(normCm(got)).isEmpty, s"comments differ ($what)")
    }
    for (ext <- Seq("dump.osm.xml", "dump.osm.xml.gz")) {
      val p = Files.createTempDirectory("graft_stax").resolve(ext)
      OsmXml.writeFixture(p, OsmXml.bulkFixture)
      val generic = TestSpark.xmlSource(spark, p.toString)
      assertSame(OsmXml.scan(spark, p.toString), generic, s"scan, $ext")
      assertSame(OsmXml.local(spark,
        OsmXml.parsePath(spark.sparkContext.hadoopConfiguration, p.toString).toSeq),
        generic, s"driver parse, $ext")
    }
    // a directory of two dumps (one plain, one gz; the second holds the
    // diff fixture's rows) beside a `_`-named file both readers skip
    val dir = Files.createTempDirectory("graft_stax_dir")
    OsmXml.writeFixture(dir.resolve("a.osm.xml"), OsmXml.bulkFixture)
    OsmXml.writeFixture(dir.resolve("b.osm.xml.gz"), OsmXml.diffFixture(3L))
    OsmXml.writeFixture(dir.resolve("_SUCCESS"), OsmXml.diffFixture(4L))
    val scanned = OsmXml.scan(spark, dir.toString)
    assert(scanned.rdd.getNumPartitions === 2, "one task per file")
    assert(scanned.count() === 5)
    assertSame(scanned, TestSpark.xmlSource(spark, dir.toString), "directory")
  }

  test("parseFile is lazy: rows come out before the stream fails, and the failure closes it") {
    val xml = (0 until 2000).map(i =>
      s"""<changeset id="$i" created_at="2015-11-15T22:00:01Z" open="true"><tag k="k" v="v$i"/></changeset>""")
      .mkString("<osm>\n", "\n", "\n</osm>\n").getBytes("UTF-8")
    val failAt = xml.length / 2
    var closed = false
    val in = new java.io.InputStream {
      private var pos = 0
      def read(): Int = {
        if (pos >= failAt) throw new java.io.IOException(s"fault at byte $pos")
        pos += 1
        xml(pos - 1) & 0xff
      }
      override def close(): Unit = closed = true
    }
    val rows = OsmXml.parseFile(in)
    assert(rows.take(3).map(_.getAs[Long]("_id")).toSeq === Seq(0L, 1L, 2L))
    assert(!closed)
    val e = intercept[Exception](rows.foreach(_ => ()))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains(s"fault at byte $failAt")), e.toString)
    assert(closed, "a failed parse leaves its stream open")
  }

  test("hstore containment: tags ? 'comment' (README.md:110-112)") {
    assert(cs.filter(map_contains_key(col("tags"), "comment")).count() === 1)
  }

  test("hstore lookup + prefix LIKE 'JOSM%' (README.md:114-118)") {
    assert(cs.filter(element_at(col("tags"), "created_by").like("JOSM%")).count() === 1)
    // missing key -> NULL -> LIKE is null-false, matching Postgres
    assert(cs.filter(element_at(col("tags"), "nope").like("x%")).count() === 0)
  }

  test("nullability contract: absent attributes are NULL (README.md:95)") {
    val r11 = cs.filter(col("id") === 11).collect()(0)
    assert(r11.isNullAt(r11.fieldIndex("closed_at")))
    assert(r11.isNullAt(r11.fieldIndex("min_lat")))
    assert(r11.isNullAt(r11.fieldIndex("num_changes")))
    val r12 = cs.filter(col("id") === 12).collect()(0)
    assert(r12.isNullAt(r12.fieldIndex("user_name"))) // anonymous changeset
  }

  test("no discussion -> no comment rows; nested comments explode (changesetmd.py:94-103)") {
    assert(cm.count() === 2)
    assert(cm.filter(col("comment_changeset_id") === 10).count() === 2)
    val texts = cm.orderBy("comment_date").select("comment_text")
      .collect().map(_.getString(0)).toSeq
    assert(texts === Seq("looks good", "thanks"))
  }

  test("comment identity includes text: same-user same-second comments both survive") {
    // the reference stores every comment row verbatim — a replication
    // merge must not collapse two distinct comments that share
    // (changeset, user, timestamp); only identical replays collapse
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<osm version="0.6">
        |  <changeset id="50" created_at="2015-11-15T22:00:01Z" open="false" uid="7" user="alice">
        |    <discussion>
        |      <comment uid="8" user="bob" date="2015-11-16T00:00:00Z"><text>first thought</text></comment>
        |      <comment uid="8" user="bob" date="2015-11-16T00:00:00Z"><text>second thought</text></comment>
        |      <comment uid="8" user="bob" date="2015-11-16T00:00:00Z"><text>first thought</text></comment>
        |    </discussion>
        |  </changeset>
        |</osm>""".stripMargin
    val p = Files.createTempDirectory("graft_cmid").resolve("d.osm.xml")
    OsmXml.writeFixture(p, xml)
    val cm2 = graft.streaming.Replication.compactComments(
      OsmXml.comments(OsmXml.scan(spark, p.toString)))
    val texts = cm2.select("comment_text").collect().map(_.getString(0)).sorted
    assert(texts === Array("first thought", "second thought")) // replay collapsed, distinct kept
  }

  test("coordinates cast to DECIMAL(10,7) exactly (queries.py:11-14)") {
    val r = cs.filter(col("id") === 10).collect()(0)
    assert(r.getDecimal(r.fieldIndex("min_lat")).toPlainString === "40.6884971")
    assert(r.getDecimal(r.fieldIndex("max_lon")).toPlainString === "-74.0433990")
  }

  test("out-of-range latitude survives scan, clamp repairs it (README.md:78)") {
    val dirty = cs.filter(col("id") === 12)
      .select(
        least(greatest(col("min_lat").cast("double"), lit(-90.0)), lit(90.0)).as("lo"),
        least(greatest(col("max_lat").cast("double"), lit(-90.0)), lit(90.0)).as("hi"))
      .collect()(0)
    assert(dirty.getDouble(0) === -90.0 && dirty.getDouble(1) === 90.0)
  }

  test("bbox containment: Liberty-Island envelope covers changeset 10 (README.md:120-124)") {
    val hits = cs.filter(
      col("min_lon").cast("double") >= -74.048 && col("max_lon").cast("double") <= -74.04 &&
      col("min_lat").cast("double") >= 40.68 && col("max_lat").cast("double") <= 40.7)
    assert(hits.select("id").collect().map(_.getLong(0)).toSeq === Seq(10L))
  }

  test("EP1 bulk load: scan -> partitioned, sorted columnar tables (BulkLoad.run)") {
    val in = Files.createTempDirectory("graft_t_bl").resolve("dump.osm.xml")
    OsmXml.writeFixture(in, OsmXml.bulkFixture)
    val out = Files.createTempDirectory("graft_t_bl_out").toString
    val (nCs, nCm) = graft.sources.BulkLoad.run(spark, in.toString, out)
    assert(nCs === 3 && nCm === 2)
    // partition layout: created_month=2015-11 directory exists
    val loaded = spark.read.parquet(s"$out/changesets")
    assert(loaded.select("created_month").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("2015-11"))
    // date-range queries prune on the partition column
    assert(loaded.filter(col("created_month") === "2015-11").count() === 3)
  }

  test("typed API boundary: scan lifts into Dataset[Changeset]/Dataset[Comment] (Schemas)") {
    val typed = Schemas.changesets(cs).collect().sortBy(_.id)
    assert(typed.map(_.id).toSeq === Seq(10L, 11L, 12L))
    val c10 = typed(0)
    assert(c10.user_name === Some("alice") && c10.num_changes === Some(12))
    assert(c10.tags("created_by").startsWith("JOSM"))
    assert(typed(1).closed_at === None && typed(1).open === Some(true))
    val tcm = Schemas.comments(cm).collect()
    assert(tcm.length === 2 && tcm.forall(_.comment_changeset_id === 10L))
  }

  test("gzip path reads identically (changesetmd.py:239-248)") {
    val p = Files.createTempDirectory("graft_t_gz").resolve("dump.osm.xml.gz")
    OsmXml.writeFixture(p, OsmXml.bulkFixture)
    val gz = OsmXml.changesets(OsmXml.scan(spark, p.toString))
    assert(gz.count() === 3)
    // MapType is not set-op comparable: stringify tags first
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("tags", to_json(col("tags")))
    assert(norm(gz).exceptAll(norm(cs)).count() === 0 &&
      norm(cs).exceptAll(norm(gz)).count() === 0)
  }

  test("bz2 path (the weekly-dump codec, changesetmd.py:23-27) reads identically") {
    val dir = Files.createTempDirectory("graft_t_bz2")
    val p = dir.resolve("dump.osm.xml.bz2")
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(spark.sparkContext.hadoopConfiguration)
    val out = codec.createOutputStream(Files.newOutputStream(p))
    try out.write(OsmXml.bulkFixture.getBytes("UTF-8")) finally out.close()
    val bz = OsmXml.changesets(OsmXml.scan(spark, p.toString))
    assert(bz.count() === 3)
    assert(bz.select("id").orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(10L, 11L, 12L))
  }

  test("multi-stream bz2 dump (pbzip2 layout) scans completely") {
    // One XML document cut across 2 concatenated bz2 streams — the
    // pbzip2 planet layout. The codec handles stream concatenation,
    // but the XML row reader stops at the first ROOT close, so a
    // document-per-stream layout silently halves the rows (measured
    // in round 8's soak): this pins the correct one-document layout.
    val p = Files.createTempDirectory("graft_t_ms").resolve("dump.osm.bz2")
    val (raw, comp) = IngestSoak.writeDumpFile(p, 0L, 5000L)
    assert(raw > comp && comp === Files.size(p))
    val df = OsmXml.scan(spark, p.toString)
    assert(df.count() === 5000)
    assert(df.agg(org.apache.spark.sql.functions.countDistinct(
      org.apache.spark.sql.functions.col("_id"))).head().getLong(0) === 5000)
  }
}

package graft.sources

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.TaskContext
import org.apache.spark.graftbridge.TaskInput
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** OSM changeset-XML scan (SURVEY.md §2a scan_xml / scan_compressed;
  * reference `changesetmd.py:78-125`).
  *
  * The reference pull-parses `<changeset>` elements single-threaded
  * with manual memory reclamation (`iterparse` + `elem.clear()`,
  * changesetmd.py:82,119-122). Here one StAX pull-parse
  * (`parseFile`) serves every path: `scan` runs it as one Spark task
  * per input file, and a replication batch runs it on the driver
  * (`parsePath`). Gzip/bz2 decompression comes from the Hadoop codecs
  * exactly as the reference's `gzip`/`bz2` branches do
  * (`changesetmd.py:239-248`). A single dump file is ONE task: the
  * scan does not split one huge dump by bz2 block (a block-split
  * record reader measured 3× the CPU of a one-task parse), so a dump
  * loads on as many cores as it has files.
  *
  * Attribute strings are kept raw in the scan schema and cast
  * explicitly downstream — the reference delegates those coercions to
  * the Postgres wire layer (`changesetmd.py:108-113`); this engine
  * makes them visible plan nodes.
  */
object OsmXml {

  /** Raw scan schema: XML attributes surface with `_` prefix; nested
    * `<tag>` entries and `<discussion><comment><text>` kept as typed
    * nested arrays (the shape the reference flattens at
    * changesetmd.py:90-103). */
  val xmlSchema: StructType = StructType(Seq(
    StructField("_id", LongType),
    StructField("_created_at", StringType),
    StructField("_closed_at", StringType),
    StructField("_open", StringType),
    StructField("_num_changes", StringType),
    StructField("_user", StringType),
    StructField("_uid", StringType),
    StructField("_min_lat", StringType),
    StructField("_max_lat", StringType),
    StructField("_min_lon", StringType),
    StructField("_max_lon", StringType),
    StructField("tag", ArrayType(StructType(Seq(
      StructField("_k", StringType),
      StructField("_v", StringType))))),
    StructField("discussion", StructType(Seq(
      StructField("comment", ArrayType(StructType(Seq(
        StructField("_uid", StringType),
        StructField("_user", StringType),
        StructField("_date", StringType),
        StructField("text", StringType))))))))))

  /** Distributed scan over one or more paths (plain, .gz or .bz2) into
    * raw rows in `xmlSchema`: one task per input file, each streaming
    * `parsePath`'s rows. A path names a file, a directory (its files)
    * or a glob (its matches); names starting with `_` or `.` in a
    * directory or among a glob's matches are skipped, as Spark's file
    * index skips them. The paths are expanded now, the files read when
    * the relation runs. Values are byte-faithful: no whitespace
    * trimming, which XML 1.0 attribute-value normalization does not
    * license for #x20 (XmlFuzzSpec pins the scan equal to Spark's XML
    * source read with `ignoreSurroundingSpaces=false`). */
  def scan(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val files = paths.flatMap(expand(conf, _))
    val shipped = TaskInput.shipped(spark.sparkContext, conf)
    spark.createDataFrame(
      spark.sparkContext.parallelize(files, math.max(1, files.size))
        .mapPartitions(_.flatMap(parsePath(shipped(), _))),
      xmlSchema)
  }

  /** The files a scan path names, sorted: itself, a directory's files,
    * or a glob's matches (directories among them read their files). */
  private def expand(conf: Configuration, path: String): Seq[String] = {
    val hp = new HPath(path)
    val fs = hp.getFileSystem(conf)
    def visible(p: HPath) = !p.getName.startsWith("_") && !p.getName.startsWith(".")
    val isGlob = path.exists("{}[]*?\\".contains(_))
    val matched = Option(fs.globStatus(hp)).toSeq.flatten.filter(s => !isGlob || visible(s.getPath))
    if (matched.isEmpty) throw new java.io.FileNotFoundException(s"Path does not exist: $path")
    matched.flatMap { s =>
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.filter(f => f.isFile && visible(f.getPath))
      else Seq(s)
    }.map(_.getPath.toString).sorted
  }

  // ---- StAX parse (every scan path) -----------------------------------

  /** StAX pull-parse of one changeset stream into raw rows in
    * `xmlSchema`'s shape, so `changesets`/`comments` type them. Lazy:
    * each `next` parses up to the end of one `<changeset>`, so memory
    * is O(one element) — the reference's `iterparse` + `elem.clear()`
    * discipline (`changesetmd.py:82,119-122`). Closes `in` when the
    * rows run out or the parse throws, and, inside a Spark task, when
    * the task completes. */
  def parseFile(in: java.io.InputStream): Iterator[Row] = new Iterator[Row] {
    private val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    private val r = try f.createXMLStreamReader(in) catch { case e: Throwable => in.close(); throw e }
    private var closed = false
    private var pending: Row = null
    Option(TaskContext.get).foreach(_.addTaskCompletionListener[Unit](_ => close()))

    private def close(): Unit = if (!closed) { closed = true; try r.close() finally in.close() }

    private def attr(name: String): String = {
      var i = 0
      while (i < r.getAttributeCount) {
        if (r.getAttributeLocalName(i) == name) return r.getAttributeValue(i)
        i += 1
      }
      null
    }

    private var cs: Array[Any] = null
    private var tags = List.empty[Row]
    private var comments = List.empty[Row]
    private var curComment: Array[Any] = null
    private var inText = false
    private val text = new StringBuilder

    /** Pull events until one changeset completes (→ `pending`) or the
      * stream ends (→ closed). */
    private def advance(): Unit = try {
      while (pending == null && r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "changeset" =>
                cs = Array[Any](Option(attr("id")).map(java.lang.Long.valueOf).orNull,
                  attr("created_at"), attr("closed_at"), attr("open"),
                  attr("num_changes"), attr("user"), attr("uid"),
                  attr("min_lat"), attr("max_lat"), attr("min_lon"), attr("max_lon"),
                  null, null)
                tags = Nil; comments = Nil
              case "tag" if cs != null =>
                tags = Row(attr("k"), attr("v")) :: tags
              case "comment" if cs != null =>
                curComment = Array[Any](attr("uid"), attr("user"), attr("date"), null)
              case "text" if curComment != null =>
                inText = true; text.clear()
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS if inText =>
            text.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "text" if inText =>
                inText = false
                curComment(3) = text.toString
              case "comment" if curComment != null =>
                comments = Row.fromSeq(curComment.toSeq) :: comments
                curComment = null
              case "changeset" if cs != null =>
                cs(11) = tags.reverse
                cs(12) = if (comments.isEmpty) null else Row(comments.reverse)
                pending = new GenericRowWithSchema(cs, xmlSchema)
                cs = null
              case _ =>
            }
          case _ =>
        }
      }
      if (pending == null) close()
    } catch { case e: Throwable => close(); throw e }

    def hasNext: Boolean = {
      if (pending == null && !closed) advance()
      pending != null
    }

    def next(): Row = {
      if (!hasNext) throw new NoSuchElementException("no more changesets")
      val row = pending
      pending = null
      row
    }
  }

  /** Parse one file (plain or any Hadoop codec): open `path` on its
    * Hadoop filesystem, decompress through the codec its extension
    * names, and `parseFile` it. Inside a Spark task the compressed
    * bytes read count as the task's input bytes. */
  def parsePath(conf: Configuration, path: String): Iterator[Row] = {
    val hp = new HPath(path)
    val raw = new CountingInputStream(hp.getFileSystem(conf).open(hp))
    parseFile(Option(new CompressionCodecFactory(conf).getCodec(hp))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw)))
  }

  /** Counts the bytes read through it and adds them to the running
    * task's input metrics on close. */
  private final class CountingInputStream(in: java.io.InputStream)
      extends java.io.FilterInputStream(in) {
    private var n = 0L
    override def read(): Int = { val b = super.read(); if (b >= 0) n += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val k = super.read(b, off, len); if (k > 0) n += k; k
    }
    override def skip(k: Long): Long = { val s = super.skip(k); n += s; s }
    override def close(): Unit = {
      try super.close()
      finally { TaskInput.addBytesRead(n); n = 0 }
    }
  }

  /** Raw rows as a local relation in `xmlSchema`: `changesets` over it
    * folds to a local relation on the driver (no Spark job). */
  def local(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, xmlSchema)

  /** Raw scan → the `changesets` relation: explicit casts
    * (string→long/decimal(10,7)/timestamp/boolean/int per
    * queries.py:8-18), absent attributes → NULL (README.md:95), and
    * the `<tag k v>` fold into MAP<STRING,STRING>
    * (changesetmd.py:90-92). Narrow expressions only — no shuffle. */
  def changesets(raw: DataFrame): DataFrame = {
    val coord = DecimalType(10, 7)
    raw.select(
      col("_id").as("id"),
      col("_uid").cast(LongType).as("user_id"),
      to_timestamp(col("_created_at")).as("created_at"),
      col("_min_lat").cast(coord).as("min_lat"),
      col("_max_lat").cast(coord).as("max_lat"),
      col("_min_lon").cast(coord).as("min_lon"),
      col("_max_lon").cast(coord).as("max_lon"),
      to_timestamp(col("_closed_at")).as("closed_at"),
      col("_open").cast(BooleanType).as("open"),
      col("_num_changes").cast(IntegerType).as("num_changes"),
      col("_user").as("user_name"),
      coalesce(
        map_from_entries(transform(col("tag"), t => struct(t("_k"), t("_v")))),
        map(). cast(MapType(StringType, StringType))).as("tags"))
  }

  /** Raw scan → normalized `comments` child relation: the nested
    * discussion array exploded into one row per comment
    * (changesetmd.py:94-103, queries.py:21-27), then typed. */
  def comments(raw: DataFrame): DataFrame =
    typeComments(raw
      .filter(col("discussion").isNotNull && col("discussion.comment").isNotNull)
      .select(col("_id").as("comment_changeset_id"),
        explode(col("discussion.comment")).as("c")))

  /** The exploded shape `typeComments` reads: the changeset id beside
    * one raw `<comment>` struct. */
  private val commentStructs: StructType = StructType(Seq(
    StructField("comment_changeset_id", LongType),
    StructField("c", xmlSchema("discussion").dataType.asInstanceOf[StructType]("comment")
      .dataType.asInstanceOf[ArrayType].elementType)))

  /** `comments` over raw rows on the driver: the explode done on the
    * rows, the typing projection over a local relation — it folds on
    * the driver, so no Spark job runs (an `explode` does not fold). */
  def localComments(spark: SparkSession, rows: Seq[Row]): DataFrame =
    typeComments(spark.createDataFrame(rows.flatMap { r =>
      Option(r.getAs[Row]("discussion")).flatMap(d => Option(d.getSeq[Row](0))).toSeq.flatten
        .map(c => Row(r.getAs[java.lang.Long]("_id"), c))
    }.asJava, commentStructs))

  private def typeComments(exploded: DataFrame): DataFrame =
    exploded.select(
      col("comment_changeset_id"),
      col("c._uid").cast(LongType).as("comment_user_id"),
      col("c._user").as("comment_user_name"),
      to_timestamp(col("c._date")).as("comment_date"),
      col("c.text").as("comment_text"))

  // ---- fixtures (FIXTURES.md §A) -------------------------------------

  /** Bulk-dump-shaped fixture: covers missing optionals → NULL, open
    * changeset, no discussion, multiple comments, out-of-range
    * latitude (README.md:78). */
  val bulkFixture: String =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<osm version="0.6" generator="planet-dump-ng 1.1.2" timestamp="2015-11-16T01:59:54Z">
      |  <changeset id="10" created_at="2015-11-15T22:00:01Z" closed_at="2015-11-15T22:05:00Z" open="false" num_changes="12" user="alice" uid="7" min_lat="40.6884971" max_lat="40.6911817" min_lon="-74.0474545" max_lon="-74.0433990">
      |    <tag k="comment" v="fix buildings"/>
      |    <tag k="created_by" v="JOSM/1.5 (8339)"/>
      |    <discussion>
      |      <comment uid="8" user="bob" date="2015-11-16T00:00:00Z"><text>looks good</text></comment>
      |      <comment uid="9" user="carol" date="2015-11-16T01:00:00Z"><text>thanks</text></comment>
      |    </discussion>
      |  </changeset>
      |  <changeset id="11" created_at="2015-11-15T23:00:00Z" open="true" user="bob" uid="8"/>
      |  <changeset id="12" created_at="2015-11-15T23:30:00Z" open="false" uid="9" min_lat="-95.0" max_lat="91.0" min_lon="-10.0" max_lon="10.0">
      |    <tag k="created_by" v="Potlatch 2"/>
      |  </changeset>
      |</osm>""".stripMargin

  /** Replication-diff fixture for sequence `seq`: a newer version of
    * changeset 11 (now closed, tagged) plus one brand-new id — the
    * delete+insert upsert shape (changesetmd.py:71-76,105-106). */
  def diffFixture(seq: Long): String = {
    val newId = 100 + seq
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<osm version="0.6" generator="replication" timestamp="2015-11-16T0${seq % 10}:00:00Z">
       |  <changeset id="11" created_at="2015-11-15T23:00:00Z" closed_at="2015-11-16T0${seq % 10}:00:00Z" open="false" num_changes="${seq}" user="bob" uid="8">
       |    <tag k="seq" v="$seq"/>
       |  </changeset>
       |  <changeset id="$newId" created_at="2015-11-16T0${seq % 10}:10:00Z" open="true" user="dave" uid="12" num_changes="1"/>
       |</osm>""".stripMargin
  }

  /** Minimal XML 1.0 escapers for generated fixtures/dumps (attribute
    * values additionally need the quote; real dumps carry escaped
    * entities, CDATA, and non-ASCII — XmlFuzzSpec round-trips all
    * three through both scan paths). */
  def escapeAttr(s: String): String = s.flatMap {
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case '"' => "&quot;"
    case c   => c.toString
  }

  def escapeText(s: String): String = s.flatMap {
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case c   => c.toString
  }

  /** Write a fixture string to `path`, gzip-compressing iff the path
    * ends in .gz (the reference's compressed-input branch,
    * changesetmd.py:239-248). */
  def writeFixture(path: java.nio.file.Path, content: String): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val out: java.io.OutputStream =
      if (path.toString.endsWith(".gz"))
        new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(path))
      else java.nio.file.Files.newOutputStream(path)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }
}

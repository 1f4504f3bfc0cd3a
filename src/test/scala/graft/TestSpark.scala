package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val session: SparkSession = {
    val s = GraftSession(cores = 8,
      warehouse = Some(java.nio.file.Files.createTempDirectory("graft_warehouse")))
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark's own XML source read with the options the engine's scan
    * used to pass it: the reference the StAX scan (`OsmXml.scan`) is
    * pinned golden-equal to. */
  def xmlSource(spark: SparkSession, paths: String*): org.apache.spark.sql.DataFrame =
    spark.read
      .format("xml")
      .option("rowTag", "changeset")
      .option("ignoreSurroundingSpaces", "false")
      .schema(graft.sources.OsmXml.xmlSchema)
      .load(paths: _*)

  /** This JVM's `--add-opens` flags: a forked child that starts Spark
    * needs the ones sbt gave the test JVM. */
  def addOpens: Seq[String] = {
    val in = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments
    val it = new scala.collection.mutable.ArrayBuffer[String]
    val i = in.iterator()
    while (i.hasNext) {
      val a = i.next()
      if (a == "--add-opens") { it += a; if (i.hasNext) it += i.next() }
      else if (a.startsWith("--add-opens=")) it += a
    }
    it.toSeq
  }
}

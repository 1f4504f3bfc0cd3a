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

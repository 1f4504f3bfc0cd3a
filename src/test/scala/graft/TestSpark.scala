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
}

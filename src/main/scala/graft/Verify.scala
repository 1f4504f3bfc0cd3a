package graft
import java.nio.file.{Files, Paths}
import org.json4s.JString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = Probe.run(logLevel = "WARN") { h =>
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (fast local iteration)
    val only = args.lift(2).map(_.split(",").toSet)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(h.spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // every key and SQL string is escaped by the harness's JSON writer
    // (quote, backslash, every control char): a tab or CR in the SQL
    // would otherwise make the driver's json.load fail
    def q(s: String): String = Probe.render(JString(s))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}

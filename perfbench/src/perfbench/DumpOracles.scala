package perfbench

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Writes the program's DuckDB oracle SQL (`SparkEntry.oracleSql`)
  * for the named entries to a JSON file, once per build.
  *
  * Usage: `perfbench.DumpOracles <out.json> <entry>...` */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val all = graft.SparkEntry.oracleSql
    val missing = args.drop(1).filterNot(all.contains)
    require(missing.isEmpty, s"entries without oracle SQL: ${missing.mkString(", ")}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
      Serialization.write(args.drop(1).map(n => n -> all(n)).toMap)(DefaultFormats))
  }
}

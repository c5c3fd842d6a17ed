package graft.perfbench

/** Writes `SparkEntry.oracleSql` (every query's DuckDB twin) as one JSON
  * object to the path given, for `perfbench/oracle.py`.
  *
  * Usage: OracleDump <out.json> */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val json = Json.obj(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> Json.str(v) })
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), json + "\n")
  }
}

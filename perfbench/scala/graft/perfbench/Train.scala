package graft.perfbench

/** Training run for the JVM class-data archive that `build.py` makes: it
  * starts a session and runs the engine paths every workload uses, so
  * benchmark JVMs load those classes from the archive.
  *
  * Usage: Train <scratch dir> */
object Train {
  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Paths.get(args(0))
    val spark = Main.session(2, dir)
    Main.touchEngine(spark)
    val p = dir.resolve("t.parquet").toString
    spark.range(1000).selectExpr("id", "cast(id % 7 as string) s").write.parquet(p)
    spark.read.parquet(p).groupBy("s").count().collect()
    spark.stop()
    System.exit(0)
  }
}

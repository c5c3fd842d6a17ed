package graft

import org.apache.spark.sql.SparkSession

/** The one local session every harness main (`Bench`, `Verify`, `Profile`,
  * `tools.DumpPlans`, `tools.RasterScaleBench`) and the test suite run on,
  * so the correctness gate, the profilers and the specs plan exactly what
  * the bench plans: graft's SQL functions, sketch UDAFs and the
  * hull-inference optimizer rule are always registered. */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // local[N] shuffles move through the page cache, not a network:
      // lz4 framing is pure CPU overhead at this scale (a real cluster
      // would keep compression on — these two are bench-host tuning, not
      // engine semantics)
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }
}

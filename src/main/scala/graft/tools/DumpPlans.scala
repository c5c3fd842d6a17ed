package graft.tools

/** Writes `.explain("formatted")` for the named queries to
  * <outDir>/<query>_<tag>.txt — the plan-evidence artifacts the
  * optimization rounds commit under plans/rNN/. Usage:
  * `runMain graft.tools.DumpPlans <outDir> <tag> <name1> <name2> ...`
  * (a name substring selects every matching query), on the bench's
  * session and data (`SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`). Eager
  * operators (e.g. connected components' iterative loop) run during
  * construction; the dump is the FINAL consumer plan, which is what the
  * declared query returns. */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length > 2,
      "usage: graft.tools.DumpPlans <outDir> <tag> <name-substring>...")
    val (outDir, tag) = (args(0), args(1))
    val sf = graft.Bench.envSfDir
    new java.io.File(outDir).mkdirs()
    val spark = graft.GraftSession.local(graft.Bench.envCpus)
    graft.SparkEntry.selected(Some(args.drop(2).mkString(",")))
      .foreach { case (n, fn) =>
        try {
          val df = fn(spark, sf)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"),
            plan.getBytes("utf-8"))
          println(s"DUMPED $n")
        } catch {
          case e: Throwable => println(s"FAILED $n: ${e.getMessage.take(120)}")
        } finally {
          graft.ops.ScratchCache.releaseAll()
          spark.catalog.clearCache()
        }
      }
    spark.stop()
  }
}

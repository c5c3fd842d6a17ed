package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, udf}

/** The driver's flagship entry point and the harness mains' shared parts:
  * the query subset filter and the profiler. */
class HarnessSpec extends AnyFunSuite with SparkSpecBase {

  test("SparkEntry.entry runs the mosaic pipeline and returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
    graft.ops.ScratchCache.releaseAll()
    spark.catalog.clearCache()
  }

  test("the subset filter selects by comma-separated name substrings") {
    assert(SparkEntry.selects(None, "q01_pricing_summary"))
    assert(SparkEntry.selects(Some("q02_,q01_"), "q01_pricing_summary"))
    assert(!SparkEntry.selects(Some("q02_"), "q01_pricing_summary"))
    val names = SparkEntry.selected(Some("q51_,q01_")).map(_._1)
    assert(names == Seq("q01_pricing_summary", "q51_dedup_groups"))
    assert(SparkEntry.selected(None).size == SparkEntry.queries.size)
  }

  test("Profile prints a time and a job table, or FAILED and no time") {
    val log = new Profile.JobLog(spark)
    try {
      val ok = Profile.profile(spark, sfSmoke, log, "ok",
        (s, _) => s.range(0, 100, 1, 4).groupBy(col("id") % 3).count())
      assert(ok.head.matches("PROF ok +[0-9.]+ s"), ok.head)
      assert(ok.tail.nonEmpty && ok.tail.forall(_.trim.startsWith("job ")), ok)
      val boom = udf((id: Long) =>
        if (id >= 0L) throw new IllegalStateException("boom") else id)
      val failed = Profile.profile(spark, sfSmoke, log, "bad",
        (s, _) => s.range(3).filter(boom(col("id")) > 0L).toDF())
      assert(failed.head.startsWith("PROF bad") && failed.head.contains("FAILED"),
        failed.head)
      assert(!failed.head.matches(".* s$"), failed.head)
    } finally spark.sparkContext.removeSparkListener(log)
  }
}

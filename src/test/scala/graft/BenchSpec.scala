package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, udf}

class BenchSpec extends AnyFunSuite with SparkSpecBase {

  test("a query that throws is reported with its error, never timed") {
    val atPlan = Bench.timeQuery(spark, sfSmoke,
      (_, _) => throw new IllegalStateException("boom"))
    assert(atPlan.left.exists(_.getMessage == "boom"))
    val boomAtRun = udf((id: Long) =>
      if (id >= 0L) throw new IllegalStateException("boom at run") else id)
    val atRun = Bench.timeQuery(spark, sfSmoke,
      (s, _) => s.range(3).filter(boomAtRun(col("id")) > 0L).toDF())
    assert(atRun.isLeft)
    val ok = Bench.timeQuery(spark, sfSmoke, (s, _) => s.range(3).toDF())
    assert(ok.exists(_ >= 0.0))
  }

  test("a query that fails in either pass is failed, not part of the times") {
    val e = new RuntimeException("x")
    val (times, failed) = Bench.minOfPasses(
      Seq("a" -> Right(3.0), "b" -> Left(e), "c" -> Right(2.0)),
      Seq("a" -> Right(1.0), "b" -> Right(1.0), "c" -> Left(e)))
    assert(times == Seq("a" -> 1.0))
    assert(failed.map(_._1) == Seq("b", "c"))
  }
}

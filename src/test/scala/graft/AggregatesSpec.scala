package graft

import org.scalatest.funsuite.AnyFunSuite

class AggregatesSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  test("q20 medians round like the DuckDB twin on a binary tie") {
    // median_qty = (1.0 + 1.01) / 2 = 1.005 and the one masked price is
    // 36538.465; as doubles both sit just below the .xx5 tie, so the twin's
    // round(x, 2) gives 1.0 and 36538.46 where Spark's round(x, 2) on the
    // decimal form would give 1.01 and 36538.47
    val dir = java.nio.file.Files.createTempDirectory("q20_tie").toString
    Seq(("A", "F", 1.0, 0.05, 36538.465), ("A", "F", 1.01, 0.0, 5.0))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_discount",
        "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val r = graft.queries.Aggregates.q20MaskedMedian(spark, dir).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Double]("median_qty") == 1.0)
    assert(r(0).getAs[Double]("median_masked_price") == 36538.46)
    assert(r(0).getAs[Long]("n") == 2L)
  }
}

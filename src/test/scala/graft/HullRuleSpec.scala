package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
import graft.plan.InferDisjunctionHulls

/** InferDisjunctionHulls: the cross-table OR-of-ANDs hull inference —
  * plan shape (hulls planted on both join children, reaching the
  * parquet PushedFilters), semantics (row set identical with the rule
  * on), fixpoint convergence, and the outer-join restriction. */
class HullRuleSpec extends AnyFunSuite with SparkSpecBase {
  import org.apache.spark.sql.functions._

  private def li = Tables.lineitem(spark, sfSmoke)
  private def pt = Tables.part(spark, sfSmoke)

  private def q19Shape(l: org.apache.spark.sql.DataFrame,
                       p: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    l.join(p, $"l_partkey" === $"p_partkey")
      .filter(
        ($"p_brand" === "Brand#1" && $"l_quantity" >= 1.0 && $"l_quantity" <= 11.0) ||
        ($"p_brand" === "Brand#2" && $"l_quantity" >= 10.0 && $"l_quantity" <= 20.0))
      .agg(count(lit(1)).as("n"))
  }

  test("hulls are planted on both sides and reach the parquet scans") {
    val df = q19Shape(li, pt)
    val optimized = df.queryExecution.optimizedPlan.toString
    // the lineitem-side hull (quantity bands) and part-side hull (brands)
    // must appear below the join — i.e. as data filters on the scans
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [IsNotNull(l_partkey), Or(And(GreaterThanOrEqual(l_quantity,1.0)")
      || physical.contains("Or(And(GreaterThanOrEqual(l_quantity,1.0),LessThanOrEqual(l_quantity,11.0))"),
      s"lineitem hull not pushed:\n$physical\n$optimized")
    assert(physical.contains("Or(EqualTo(p_brand,Brand#1),EqualTo(p_brand,Brand#2))"),
      s"part hull not pushed:\n$physical")
  }

  test("row set is unchanged by the rule (manual-hull twin agrees)") {
    import spark.implicits._
    val auto = q19Shape(li, pt).collect().head.getLong(0)
    // twin with the hulls written by hand (q202's original form) — the
    // rule's alreadyFiltered guard must also leave this one intact
    val manual = q19Shape(
      li.filter($"l_quantity" >= 1.0 && $"l_quantity" <= 20.0),
      pt.filter($"p_brand".isin("Brand#1", "Brand#2"))).collect().head.getLong(0)
    assert(auto == manual && auto > 0, s"auto=$auto manual=$manual")
  }

  test("fixpoint: applying the rule twice adds nothing") {
    val plan = q19Shape(li, pt).queryExecution.analyzed
    val once = InferDisjunctionHulls(plan)
    val twice = InferDisjunctionHulls(once)
    assert(once.collect { case f: Filter => f }.size ==
      twice.collect { case f: Filter => f }.size, twice.toString)
  }

  test("outer joins are left alone (IS NULL disjuncts would change null-extension)") {
    import spark.implicits._
    val joined = li.join(pt, $"l_partkey" === $"p_partkey", "left_outer")
      .filter(($"p_brand" === "Brand#1" && $"l_quantity" <= 11.0) ||
        ($"p_brand".isNull && $"l_quantity" > 45.0))
    val analyzed = joined.queryExecution.analyzed
    val rewritten = InferDisjunctionHulls(analyzed)
    val joins = rewritten.collect { case j: Join => j }
    assert(joins.nonEmpty &&
      joins.forall(j => j.left.collect { case f: Filter => f }.isEmpty ||
        analyzed.collect { case f: Filter => f }.size ==
          rewritten.collect { case f: Filter => f }.size),
      rewritten.toString)
  }

  test("a disjunct with no single-side conjunct implies no hull for that side") {
    import spark.implicits._
    // second disjunct constrains only lineitem → no part-side hull
    val df = li.join(pt, $"l_partkey" === $"p_partkey")
      .filter(($"p_brand" === "Brand#1" && $"l_quantity" <= 11.0) ||
        ($"l_quantity" > 45.0))
      .agg(count(lit(1)))
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("Or(EqualTo(p_brand,Brand#1)"),
      s"unsound part hull appeared:\n$physical")
    // but the lineitem side still gets its quantity hull
    assert(physical.contains("Or(LessThanOrEqual(l_quantity,11.0),GreaterThan(l_quantity,45.0))"),
      s"lineitem hull missing:\n$physical")
  }
}

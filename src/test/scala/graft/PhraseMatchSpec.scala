package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{AhoCorasick, PhraseMatch}
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick fused multi-pattern matcher: textbook adversarial cases
  * (overlaps, nested suffixes, fail-link chains) against the definition,
  * then plan-level parity with the naive |patterns|×contains form. */
class PhraseMatchSpec extends AnyFunSuite with SparkSpecBase {

  private def ids(patterns: Seq[String], text: String): Seq[Int] = {
    val ac = new AhoCorasick(patterns.toArray)
    val a = ac.matchIds(UTF8String.fromString(text))
    (0 until a.numElements()).map(a.getInt)
  }

  test("suffix outputs propagate through fail links (he/she/his/hers)") {
    val pats = Seq("he", "she", "his", "hers")
    assert(ids(pats, "ushers") == Seq(0, 1, 3)) // she, he (inside ushers), hers
    assert(ids(pats, "his") == Seq(2))
    assert(ids(pats, "xyz") == Seq())
  }

  test("overlapping and nested patterns all fire") {
    val pats = Seq("ab", "abab", "bab", "b")
    assert(ids(pats, "ababab") == Seq(0, 1, 2, 3))
    assert(ids(pats, "ab") == Seq(0, 3))
    assert(ids(pats, "ba") == Seq(3))
  }

  test("one pattern a prefix of another; ids distinct and ascending") {
    val pats = Seq("batch", "batch batch", "tch b")
    assert(ids(pats, "batch batch batch") == Seq(0, 1, 2))
    assert(ids(pats, "batch") == Seq(0))
  }

  test("null text matches nothing; pattern equal to text matches") {
    val ac = new AhoCorasick(Array("x"))
    assert(ac.matchIds(null).numElements() == 0)
    assert(ids(Seq("whole text"), "whole text") == Seq(0))
  }

  test("documents parity: automaton == naive contains conjunction") {
    val s = spark
    import s.implicits._
    val pats = graft.queries.CurationQueries.BlockPhrases
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val fused = docs
      .select($"doc_id", PhraseMatch.phraseMatches($"text", pats).as("pids"))
      .select($"doc_id", explode($"pids").as("pid"))
    val naive = pats.zipWithIndex.map { case (p, i) =>
      docs.filter($"text".contains(p))
        .select($"doc_id", lit(i).as("pid"))
    }.reduce(_ unionByName _)
    assert(fused.except(naive).isEmpty && naive.except(fused).isEmpty)
    // and the automaton actually finds something on real data
    assert(fused.count() > 0)
  }

  test("stress: 993-pattern blocklist == naive contains (JVM-side sweep)") {
    // blocklists run to 10^4-10^6 phrases; the automaton must stay exact
    // as the pattern trie deepens and fail links cross pattern families.
    // Patterns: every word pair from the corpus vocabulary (dense overlap,
    // shared prefixes/suffixes) plus char fragments that straddle word
    // boundaries.
    val words = Seq("the", "fast", "key", "order", "sort", "table", "scan",
      "merge", "part", "window", "small", "hash", "join", "batch", "stream",
      "spark", "win", "row", "data", "slow", "filter", "customer", "line",
      "value", "group", "query", "agg", "big", "a", "of", "and")
    val pats = (for (a <- words; b <- words) yield s"$a $b") ++
      words.map(w => w.take(2) + " ") ++ Seq("zz-never")
    assert(pats.size > 900)
    val ac = new AhoCorasick(pats.toArray)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("text").collect().map(_.getString(0)).take(100)
    for (t <- docs) {
      val got = {
        val a = ac.matchIds(UTF8String.fromString(t))
        (0 until a.numElements()).map(a.getInt).toSet
      }
      val want = pats.zipWithIndex.collect {
        case (p, i) if t.contains(p) => i
      }.toSet
      assert(got == want, s"mismatch on doc: ${t.take(60)}")
    }
  }

  test("SQL surface: graft_phrase_matches with literal patterns") {
    Tables.documents(spark, "/root/testdata/sf0.001").createOrReplaceTempView("pm_docs")
    val n = spark.sql(
      "SELECT graft_phrase_matches(text, 'the', 'zzz-no-match') AS p FROM pm_docs")
      .selectExpr("size(p) AS k")
      .where("k > 0").count()
    assert(n > 0)
    // non-literal pattern arguments must fail fast, not mis-plan
    val err = intercept[Exception] {
      spark.sql("SELECT graft_phrase_matches(text, text) FROM pm_docs").collect()
    }
    assert(err.getMessage.contains("STRING literal"), err.getMessage)
  }

  test("expression survives whole-stage codegen (no fallback plan)") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(PhraseMatch.phraseMatches($"text", Seq("the", "zzz")).as("p"))
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage
    val plan = docs.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [phrasematches"), plan)
    assert(docs.filter(size($"p") > 0).count() > 0)
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables.{events, lineitem}
import graft.agg.TemporalReduce
import graft.functions.TextFunctions.roundp

/** Aggregation-operator coverage (SURVEY §2.4): masked mean (A3), exact
  * holistic median via the engine's own Aggregator (A4), spatial coarsen
  * (A7) — each oracle-checked against DuckDB.
  */
object Aggregates {

  /** A3/P4: masked mean — avg over a predicate-masked value, null-skipping,
    * the relational form of `array.where(qa == 1).mean("time")`
    * (glad.py:259-265). Also emits the unmasked count to pin null semantics. */
  def q19MaskedMean(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .groupBy(($"user_id" % 100).cast("bigint").as("user_bucket"))
      .agg(
        QueryUtil.safeAvg(when($"event_type" === "click", $"value"), 2)
          .as("masked_mean"),
        count(when($"event_type" === "click", lit(1))).as("n_ok"),
        count(lit(1)).as("n_total"))
      .orderBy($"user_bucket")
  }

  val q19Sql: String =
    s"""SELECT CAST(user_id % 100 AS BIGINT) AS user_bucket,
       |  ${QueryUtil.safeAvgSql("CASE WHEN event_type = 'click' THEN value END", 2)}
       |    AS masked_mean,
       |  count(CASE WHEN event_type = 'click' THEN 1 END) AS n_ok,
       |  count(*) AS n_total
       |FROM events GROUP BY 1 ORDER BY user_bucket""".stripMargin

  /** A4: exact median through the engine's holistic MedianAggregator (not
    * Spark's builtin percentile) — numpy/DuckDB semantics: mean of the two
    * middle values on even counts. Rounded with `roundp`, the twin's
    * round(x*100)/100 on the binary double: Spark's round(x, 2) rounds
    * the double's decimal form, so a median of 1.005 (binary
    * 1.00499999...) would give 1.01 where DuckDB gives 1.0. */
  def q20MaskedMedian(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lineitem(s, d)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        roundp(TemporalReduce.medianUdaf($"l_quantity"), 2).as("median_qty"),
        roundp(TemporalReduce.medianUdaf(
          when($"l_discount" > 0.02, $"l_extendedprice")), 2).as("median_masked_price"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q20Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(median(l_quantity), 2) AS median_qty,
      |  round(median(CASE WHEN l_discount > 0.02 THEN l_extendedprice END), 2)
      |    AS median_masked_price,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** A7: coarsen — grid-cell downsample aggregation (coarsen().mean(),
    * flyte/utils.py:100-112) over an (x, y)-bucketed fact grid. */
  def q21Coarsen(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .groupBy(
        floor($"user_id" / 10).cast("bigint").as("gy"),
        floor($"value" / 5).cast("bigint").as("gx"))
      .agg(QueryUtil.safeAvg($"value", 2).as("mean_v"), count(lit(1)).as("n"))
      .orderBy($"gy", $"gx")
  }

  val q21Sql: String =
    s"""SELECT CAST(floor(user_id / 10) AS BIGINT) AS gy,
       |  CAST(floor(value / 5) AS BIGINT) AS gx,
       |  ${QueryUtil.safeAvgSql("value", 2)} AS mean_v, count(*) AS n
       |FROM events GROUP BY 1, 2 ORDER BY gy, gx""".stripMargin

  /** q57: exact percentile profile — per-source p25/p50/p75/p95 of the
    * document token-count distribution (the corpus-stats pass a data
    * pipeline runs before choosing packing/filter thresholds). Spark's
    * builtin exact `percentile` (linear interpolation at rank p·(n−1))
    * matches DuckDB's `quantile_cont` definitionally; one aggregation
    * shuffle, sort-based holistic state bounded per (source) group. */
  def q57Percentiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.roundp
    // per-source cuts via the GROUPED bounded radix selection
    // (PercentileCut.groupedCuts — bit-identical per-group interpolation,
    // spec-pinned): the builtin percentile under a groupBy buffers each
    // source's WHOLE token-count multiset in one reduce task — the
    // single-buffer hazard class at 100 TB. The scored frame persists
    // (eagerly) because every radix level re-reads it — one tokenize.
    val scored = graft.ops.ScratchCache.register(
      graft.Tables.documents(s, d)
        .select($"source",
          size(graft.functions.TextFunctions.tokens($"text"))
            .cast("double").as("n"))
        .persist())
    scored.count()
    val ps = Seq(0.25, 0.5, 0.75, 0.95)
    val cuts = graft.ops.PercentileCut.groupedCuts(scored, "source", "n", ps)
    // cuts fold back through a literal local relation (no corpus job);
    // roundp applies IN-PLAN so the float path stays byte-identical
    val cutsDf = broadcast(cuts.toSeq
      .map { case (g, cs) => (g, cs(0), cs(1), cs(2), cs(3)) }
      .toDF("source", "c25", "c50", "c75", "c95"))
    scored.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .join(cutsDf, Seq("source"))
      .select($"source",
        roundp($"c25", 6).as("p25"), roundp($"c50", 6).as("p50"),
        roundp($"c75", 6).as("p75"), roundp($"c95", 6).as("p95"),
        $"n_docs")
      .orderBy($"source")
  }

  val q57Sql: String = {
    def q(p: String, as: String) =
      DuckSql.roundpSql(s"quantile_cont(n, $p)", 6) + s" AS $as"
    s"""SELECT source, ${q("0.25", "p25")}, ${q("0.5", "p50")},
       |  ${q("0.75", "p75")}, ${q("0.95", "p95")}, count(*) AS n_docs
       |FROM (SELECT source, len(${DuckSql.tokensSql})::DOUBLE AS n
       |      FROM documents)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  /** q82: equal-frequency decile binning — bucket stats without a global
    * sort. The naive form (ntile/cume_dist over a full ORDER BY) is a
    * single-partition window — a non-starter at 100 TB. Instead: ONE
    * exact-percentile aggregation produces the 9 cutoffs (holistic but
    * |cuts|-sized output), the cutoff array rides along as a broadcast
    * literal row, and bucket assignment is a 9-comparison scan projection
    * feeding an ordinary hash aggregation. Cutoffs are rounded to 4dp on
    * BOTH engines before comparing: interpolated quantiles can land
    * within float-noise of a (2dp) data value, where an unrounded strict
    * `>` would flip engine-by-engine; after rounding, cutoff==value
    * exactly in both engines and ties resolve identically (to the lower
    * bucket). */
  def q82DecileStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ps = (1 to 9).map(_ / 10.0)
    // cutoffs via the bounded radix selection (graft.ops.PercentileCut —
    // bit-identical interpolation to the percentile builtin, spec-pinned)
    // instead of the builtin itself: the builtin merges a value→count map
    // of the WHOLE column into one final reduce buffer, the single-buffer
    // hazard class at 100 TB. The cuts come back as driver literals, so
    // bucket assignment is a pure 9-comparison projection — the broadcast
    // row (and its build job) disappears from the plan.
    val cutVals = graft.ops.PercentileCut.cuts(
      Tables.orders(s, d).select($"o_totalprice".cast("double").as("v")),
      "v", ps)
    val bucket = cutVals
      .map(c => when($"o_totalprice" > roundp(lit(c), 4), 1L).otherwise(0L))
      .reduce(_ + _)
    Tables.orders(s, d)
      .select($"o_totalprice", bucket.as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        round(min($"o_totalprice"), 2).as("lo"),
        round(max($"o_totalprice"), 2).as("hi"),
        QueryUtil.safeSum($"o_totalprice", 2).as("total"))
      .orderBy($"bucket")
  }

  val q82Sql: String = {
    val ps = (1 to 9).map(i => (i / 10.0).toString).mkString(", ")
    s"""WITH c AS (SELECT list_transform(
       |    quantile_cont(o_totalprice, [$ps]),
       |    x -> round(x * 10000.0) / 10000.0) AS cuts FROM orders)
       |SELECT len(list_filter(c.cuts, x -> o.o_totalprice > x))::BIGINT
       |    AS bucket,
       |  count(*) AS n, round(min(o_totalprice), 2) AS lo,
       |  round(max(o_totalprice), 2) AS hi,
       |  ${QueryUtil.safeSumSql("o_totalprice", 2)} AS total
       |FROM orders o CROSS JOIN c
       |GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q19_masked_mean"   -> (q19MaskedMean _),
    "q20_masked_median" -> (q20MaskedMedian _),
    "q21_coarsen"       -> (q21Coarsen _),
    "q57_percentiles"   -> (q57Percentiles _),
    "q82_decile_stats"  -> (q82DecileStats _),
  )

  val oracles: Map[String, String] = Map(
    "q19_masked_mean"   -> q19Sql,
    "q20_masked_median" -> q20Sql,
    "q21_coarsen"       -> q21Sql,
    "q57_percentiles"   -> q57Sql,
    "q82_decile_stats"  -> q82Sql,
  )
}

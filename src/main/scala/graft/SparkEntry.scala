package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates per-module maps; every entry with an `oracleSql`
  * twin is hash-checked against DuckDB at sf0.01 by the driver.
  */
object SparkEntry {

  /** Flagship: the full E2→E3→E1 mosaic pipeline (SURVEY §3) on a small
    * envelope — ingest plan, incremental anti-join, masked temporal
    * reduction, store init + idempotent parallel writes, region plan —
    * then a pricing-summary query on sf0.001. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    import graft.model.{AnnualMeanDataset, Envelope}
    import graft.pipelines.MosaicPipeline
    val store = java.nio.file.Files.createTempDirectory("graft-entry-store")
    val cfg = MosaicPipeline.Config(
      query = Envelope(-1.5, 40.2, 0.3, 41.8),
      times = Seq(java.sql.Timestamp.valueOf("2021-06-15 00:00:00")),
      dataset = AnnualMeanDataset,
      storeRoot = store.toString,
      chunkPx = 8)
    val (cube, _, regions) = MosaicPipeline.run(spark, cfg)
    require(cube.count() > 0 && regions.nonEmpty, "pipeline produced no chunks")
    graft.queries.Relational.q01PricingSummary(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
    graft.queries.Temporal.queries ++
    graft.queries.Aggregates.queries ++
    graft.queries.TextQueries.queries ++
    graft.queries.DedupQueries.queries ++
    graft.queries.SimilarityQueries.queries ++
    graft.queries.PipelineQueries.queries ++
    graft.queries.AdvancedQueries.queries ++
    graft.queries.SketchQueries.queries ++
    graft.queries.EventAnalytics.queries ++
    graft.queries.StoreQueries.queries ++
    graft.queries.GraphQueries.queries ++
    graft.queries.CurationQueries.queries ++
    graft.queries.CorpusOpsQueries.queries ++
    graft.queries.InferenceQueries.queries ++
    graft.queries.PrivacyQueries.queries

  /** The harness mains' subset filter: `name` is selected when it contains
    * one of the comma-separated substrings in `filter` (no filter selects
    * everything). Substrings, so `q51` also matches `q151_...`. */
  def selects(filter: Option[String], name: String): Boolean =
    filter.forall(_.split(",").exists(name.contains))

  /** The `queries` entries `filter` selects, in name order. */
  def selected(filter: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] =
    queries.toSeq.sortBy(_._1).filter { case (name, _) => selects(filter, name) }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracles ++
    graft.queries.Temporal.oracles ++
    graft.queries.Aggregates.oracles ++
    graft.queries.TextQueries.oracles ++
    graft.queries.DedupQueries.oracles ++
    graft.queries.SimilarityQueries.oracles ++
    graft.queries.PipelineQueries.oracles ++
    graft.queries.AdvancedQueries.oracles ++
    graft.queries.SketchQueries.oracles ++
    graft.queries.EventAnalytics.oracles ++
    graft.queries.StoreQueries.oracles ++
    graft.queries.GraphQueries.oracles ++
    graft.queries.CurationQueries.oracles ++
    graft.queries.CorpusOpsQueries.oracles ++
    graft.queries.InferenceQueries.oracles ++
    graft.queries.PrivacyQueries.oracles
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Graft, QueryDef}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Each entry in [[queries]] is an implemented operator from SURVEY §2 (or a
  * training-data-pipeline operator); [[oracleSql]] carries the DuckDB
  * equivalent for the driver's differential correctness gate.
  */
object SparkEntry {

  /** Registry of all verifiable operators, assembled per domain. */
  def registry: Seq[QueryDef] =
    graft.queries.CoreQueries.all ++
      graft.queries.CompareQueries.all ++
      graft.queries.TextQueries.all ++
      graft.queries.EmbeddingQueries.all ++
      graft.queries.StructQueries.all ++
      graft.queries.RelationalQueries.all ++
      graft.queries.TemporalQueries.all ++
      graft.queries.ExtendedQueries.all ++
      graft.queries.BenchmarkQueries.all ++
      graft.queries.TpchQueries.all ++
      graft.queries.StatsQueries.all ++
      graft.queries.TrainingQueries.all ++
      graft.queries.PipelineQueries.all ++
      graft.queries.CorpusQueries.all ++
      graft.queries.AnalyticsQueries.all ++
      graft.queries.AdvancedQueries.all ++
      graft.queries.MiningQueries.all ++
      graft.queries.ProfilingQueries.all ++
      graft.queries.PlannerQueries.all ++
      graft.queries.GovernanceQueries.all ++
      graft.queries.EvalQueries.all ++
      graft.queries.OpsQueries.all ++
      graft.queries.SketchQueries.all ++
      graft.queries.PrepQueries.all ++
      graft.queries.CurationQueries.all ++
      graft.queries.FrontierQueries.all ++
      graft.queries.AppliedQueries.all ++
      graft.queries.SignalQueries.all ++
      graft.queries.AtlasQueries.all ++
      graft.queries.StructCompareQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    Graft.configure(spark)
    registry.head.fn(spark, "/root/testdata/sf0.001")
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> { (s: SparkSession, dir: String) =>
      Graft.configure(s); q.fn(s, dir)
    }).toMap

  /** DuckDB-equivalent SQL per query. */
  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}

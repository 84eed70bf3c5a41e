package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AnalyticsQueries, CurationQueries, ExtendedQueries, GovernanceQueries, MlPrepQueries, PipelineQueries, QueryDef, RelationalQueries, SpatialQueries, StreamingQueries, SurveyQueries, TemporalQueries, UnicodeQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are assembled from three registries:
  *  - [[graft.queries.SurveyQueries]] — the reference's capability surface
  *    (clean_columns / clean_rows / merge_table_versions / sensitive_tier
  *    + the profiling aggregates) on survey-shaped derived inputs;
  *  - [[graft.queries.RelationalQueries]] — engine-grade relational
  *    operators (agg/join/window/top-k/set-ops/rollup/time-bucketing);
  *  - [[graft.queries.PipelineQueries]] — training-data pipeline operators
  *    (dedup exact/minhash/simhash/jaccard/embedding, similarity search,
  *    text analysis, multimodal plumbing).
  */
object SparkEntry {

  val allQueries: Seq[QueryDef] =
    SurveyQueries.all ++ RelationalQueries.all ++ PipelineQueries.all ++
      ExtendedQueries.all ++ CurationQueries.all ++ AnalyticsQueries.all ++
      MlPrepQueries.all ++ StreamingQueries.all ++ GovernanceQueries.all ++
      UnicodeQueries.all ++ TemporalQueries.all ++ SpatialQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the full clean_columns pipeline on a survey-shaped projection. */
  def entry(spark: SparkSession): DataFrame =
    SurveyQueries.cleanColumns.build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.build).toMap

  /** For each key in `queries`, equivalent SQL runnable by DuckDB on the
    * same parquet tables. Omitted for ops whose hashing primitives are
    * Spark-native (simhash/sign-LSH/mapPartitions decode) → driver records
    * a rows-only check; those are pinned against ground truth in
    * PipelineSpec instead. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}

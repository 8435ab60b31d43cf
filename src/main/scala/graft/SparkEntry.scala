package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module catalogs. Each module pairs a Spark
  * implementation with (where SQL-expressible) a DuckDB oracle query over
  * the same parquet tables; ML / sketch-based operators are rows-only here
  * and validated by metric-threshold ScalaTest specs instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.StarQueries.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each function
    * expects a session built by [[GraftSession]]: the graft SQL functions,
    * the as-of join strategy and the `graft_lake` catalog come from it, and
    * no query installs them itself. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.StarQueries.queries ++
      operators.ExtendedQueries.queries ++
      operators.TextQueries.queries ++
      operators.DedupQueries.queries ++
      operators.SimilarityQueries.queries ++
      operators.SteelQueries.queries ++
      operators.Multimodal.queries ++
      operators.StreamingQueries.queries ++
      operators.MlQueries.queries ++
      operators.PipelineQueries.queries ++
      operators.GraphQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.StarQueries.oracle ++
      operators.ExtendedQueries.oracle ++
      operators.TextQueries.oracle ++
      operators.DedupQueries.oracle ++
      operators.SimilarityQueries.oracle ++
      operators.SteelQueries.oracle ++
      operators.Multimodal.oracle ++
      operators.StreamingQueries.oracle ++
      operators.PipelineQueries.oracle ++
      operators.GraphQueries.oracle ++
      operators.MlQueries.oracle
}

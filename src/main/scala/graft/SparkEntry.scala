package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are registered per module in graft.queries.*; each Q carries
  * its Spark implementation and (when ANSI-SQL-expressible) a DuckDB
  * oracle over the same parquet tables.
  */
object SparkEntry {

  private def registry: Seq[Q] =
    Relational.all ++ ExtendedRelational.all ++ TextAnalysis.all ++
      DedupQueries.all ++ SimilarityQueries.all ++ MultimodalQueries.all ++
      ProfilingQueries.all ++ WindowQueries.all ++ CorpusQueries.all ++
      TrainingPrepQueries.all ++ PipelineQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.all.find(_.name == "q05_region_year_revenue").get
      .run(spark, "/root/testdata/sf0.001")

  /** Every registered query name, in registry order. */
  def names: Seq[String] = registry.map(_.name)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Q.toQueryMap(registry)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Q.toOracleMap(registry)
}

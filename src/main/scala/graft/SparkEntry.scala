package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** The SURVEY.md §7 contract: a smoke entry, the query registry
  * and its DuckDB oracles.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full related-items dataflow (reference
    * `src/glue/related_items_etl.py:99-315`).
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.riPipeline(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2 ([[Queries]])
    * plus the LLM-training-data pipeline families ([[QueriesLlm]]).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all ++ QueriesLlm.all
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Oracles.all
}

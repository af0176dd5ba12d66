package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{EngineQueries, PipelineQueries, RelationalQueries, StreamingQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the SURVEY §2 operator inventory made executable: the
  * §2B SQL surface lives in [[graft.queries.RelationalQueries]], the
  * north-star LLM-pipeline operators in
  * [[graft.queries.PipelineQueries]]. Each key with an `oracleSql`
  * entry is hash-checked by the driver against DuckDB at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.queries("q02_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ PipelineQueries.queries ++ EngineQueries.queries ++ StreamingQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → driver records a weaker
    * rows-only check (used for xxhash64-based operators DuckDB can't
    * reproduce).
    */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracleSql ++ PipelineQueries.oracleSql ++ EngineQueries.oracleSql ++ StreamingQueries.oracleSql
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Extended, Pipeline, Registry, Relational}

/** The engine's query contract (SURVEY.md §7). Query implementations
  * live under `graft.queries.*` as `Entry` values, each pairing a Spark
  * builder with its DuckDB oracle SQL; this object only concatenates the
  * three module rosters. A new contract query is one `Entry` in one of
  * those modules.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_star_join")(spark, "/root/testdata/sf0.001")

  /** The whole contract; fails to initialize if two entries share a name. */
  lazy val registry: Registry =
    new Registry(Relational.entries ++ Pipeline.entries ++ Extended.entries)

  /** Spark plan builder per contract query name. */
  lazy val queries = registry.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql = registry.oracleSql
}

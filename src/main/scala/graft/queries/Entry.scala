package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One contract query: its name, the Spark plan builder (session, scale
  * factor directory) and the ANSI SQL DuckDB runs on the same parquet
  * tables to check the builder's answer. A new contract query is one
  * `Entry`; its oracle cannot be forgotten or orphaned by a rename. */
final case class Entry(name: String,
    build: (SparkSession, String) => DataFrame, oracle: String)

/** The contract roster. Construction fails on a duplicate name, which a
  * `Map` literal would silently collapse to its last occurrence. */
final class Registry(val entries: Seq[Entry]) {
  private val duplicates =
    entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
  require(duplicates.isEmpty,
    s"duplicate contract query names: ${duplicates.toSeq.sorted.mkString(", ")}")

  /** Spark plan builder per name. */
  val queries = entries.map(e => e.name -> e.build).toMap
  /** DuckDB oracle SQL per name. */
  val oracleSql = entries.map(e => e.name -> e.oracle).toMap
}

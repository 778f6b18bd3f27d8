package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.Tables

/** One verifiable query: the Spark build plus (when SQL-expressible) an
  * equivalent ANSI SQL text the driver runs in DuckDB over the same
  * parquet tables. Column names/aliases MUST match between the two — the
  * driver sorts columns by name before hashing values.
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(build: (SparkSession, String) => DataFrame, oracle: String): QueryDef =
    QueryDef(build, Some(oracle))

  /** One SQL statement over the fixture tables ([[Tables.sql]]) on the
    * Spark side, and `oracle` on DuckDB's. */
  def sql(sparkSql: String, oracle: String): QueryDef =
    QueryDef((s, d) => Tables.sql(s, d, sparkSql), oracle)

  /** Query whose SQL runs identically on Spark and DuckDB. */
  def sqlBoth(q: String): QueryDef = sql(q, q)
}

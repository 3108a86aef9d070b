package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One harness-exposed query: the Spark plan and (when SQL-expressible)
  * the equivalent DuckDB oracle SQL run by the driver over the same parquet
  * tables. Column aliases MUST match between the two — the driver sorts
  * columns by name before hashing. */
final case class QDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QDef {
  def sql(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QDef =
    QDef(name, fn, Some(oracle))
}

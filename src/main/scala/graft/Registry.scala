package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: the Spark implementation plus (when SQL-expressible)
  * the exact ANSI-SQL oracle the driver runs in DuckDB over the same parquet
  * tables. Column names are part of the contract, row order is not: the
  * driver hash-compares values after sorting columns by name and rows by
  * value, so every computed column is aliased identically on both sides,
  * and the Spark side ends in NO global sort (results are unordered sets;
  * [[PlanAudit]] rejects a Sort at an inventory query's plan root).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

object Registry {
  def queries(qs: Seq[Q]): Map[String, (SparkSession, String) => DataFrame] =
    qs.map(q => q.name -> q.fn).toMap

  def oracles(qs: Seq[Q]): Map[String, String] =
    qs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}

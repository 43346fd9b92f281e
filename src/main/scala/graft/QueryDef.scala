package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine capability: a Spark query over a scale-factor
  * directory plus (when SQL-expressible) the equivalent DuckDB oracle
  * SQL the driver uses for the hash-match correctness gate.
  *
  * Conventions that keep the hash compare deterministic:
  *   - every output column is aliased identically on both sides;
  *   - floating-point outputs are rounded (see [[graft.ops]] docs) so
  *     parallel-reduction ulp noise can't flip the hash;
  *   - every query orders by a unique key (the driver may sort rows
  *     anyway; explicit order costs nothing at result cardinality).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))
}

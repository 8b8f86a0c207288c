package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How the driver checks a registered query's output. */
sealed trait Check

/** DuckDB SQL over the same parquet tables whose result must hash-equal
  * the Spark query's (same column names, deterministic row order). The
  * SQL is by-name: the eigen-leg oracles embed a fixture path that is
  * known only after their query has run, so it is read at dump time.
  */
final class Oracle(text: => String) extends Check {
  def sql: String = text
}

object Oracle {
  def apply(sql: => String): Oracle = new Oracle(sql)
}

/** No SQL oracle, by design: `reason` names the inherent cause and the
  * in-tree gate that checks the query instead.
  */
final case class RowsOnly(reason: String) extends Check

/** One registered query: its name, the function that builds it over an
  * sf directory, and its check. Each query is declared once, as one
  * record in its module's `registry`.
  */
final case class Q(name: String, build: (SparkSession, String) => DataFrame, check: Check)

package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its builder (the unexecuted
  * answer over the tables of a scale-factor directory) and its DuckDB
  * oracle, which is only built when asked for.
  */
final class Query private (val name: String, val build: (SparkSession, String) => DataFrame,
                           oracleOf: () => Option[String]) {
  /** The oracle SQL; None for a query checked by its rows alone. */
  def oracle: Option[String] = oracleOf()

  /** This query's builder and oracle under another name. */
  def as(alias: String): Query = new Query(alias, build, oracleOf)
}

object Query {
  def apply(name: String, build: (SparkSession, String) => DataFrame, oracle: => String): Query =
    new Query(name, build, () => Some(oracle))

  /** A query whose answer no oracle can replay (an approximate
    * sketch), checked by its rows alone.
    */
  def rowsOnly(name: String, build: (SparkSession, String) => DataFrame): Query =
    new Query(name, build, () => None)
}

/** One operator family's registrations. */
trait Family {
  def queries: Seq[Query]
}

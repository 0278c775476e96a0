package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query, declared once: its id, the Spark builder over a
  * fixture directory, the DuckDB oracle SQL for the correctness gate,
  * and optional validation metadata.
  *
  * The oracle is taken by name and rendered on each [[oracle]] call, so
  * SQL that depends on run-time settings (the `graft.sf.dir` glob of the
  * storage oracles) reads them when it is rendered, not when the module
  * object initialises. Column aliases are kept identical on both sides,
  * results are deterministically ordered on both sides, and floating
  * aggregates are rounded on both sides so double accumulation order
  * can't flip the hash.
  */
final class QueryDef(val id: String,
    val build: (SparkSession, String) => DataFrame,
    renderOracle: => String,
    val meta: Option[String]) {
  def oracle: String = renderOracle
}

object QueryDef {
  def apply(id: String, build: (SparkSession, String) => DataFrame,
      oracle: => String, meta: Option[String] = None): QueryDef =
    new QueryDef(id, build, oracle, meta)
}

/** A domain module: the queries of one concern. Initialising a module
  * does no Spark or file work; builders and oracles run on demand.
  */
trait QueryModule {
  def defs: Seq[QueryDef]

  /** The rendered oracle of one of this module's queries, for oracles
    * composed from another query's SQL.
    */
  def oracleOf(id: String): String = defs.find(_.id == id).get.oracle
}

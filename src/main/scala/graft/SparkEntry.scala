package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{MetricSink, Profiler}
import graft.registry._

/** Entry contract: the flagship [[entry]] run plus the query registry.
  *
  * Every query is declared once, as a [[QueryDef]] in the domain module
  * that owns its concern; [[queries]], [[oracleSql]] and [[queriesMeta]]
  * are views of that one registry. To add a query, add one `QueryDef` to
  * one module.
  */
object SparkEntry {

  /** Flagship: end-to-end monitor run (profile lineitem → metric rows). */
  def entry(spark: SparkSession): DataFrame = {
    val sink = MetricSink("entry-smoke")
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    Profiler.profileTo(sink, "lineitem", li)
    sink.toDf(spark)
  }

  val modules: Seq[QueryModule] = Seq(ProfilingQueries, MonitorQueries,
    DriftQueries, DedupQueries, TextQueries, GraphQueries, StatsQueries,
    TimeSeriesQueries, IngestQueries)

  /** Indexes the modules' queries by id; a duplicate id fails here,
    * named, instead of one definition silently replacing the other.
    */
  def index(modules: Seq[QueryModule]): Map[String, QueryDef] =
    modules.flatMap(_.defs).foldLeft(Map.empty[String, QueryDef]) { (m, d) =>
      require(!m.contains(d.id), s"duplicate query id ${d.id}")
      m.updated(d.id, d)
    }

  private lazy val registry: Map[String, QueryDef] = index(modules)

  /** One builder per query id, over a fixture directory. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (id, d) => id -> d.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables, rendered on every call.
    */
  def oracleSql: Map[String, String] =
    registry.map { case (id, d) => id -> d.oracle }

  /** Validation metadata for the sketch-valued queries. Each emits an
    * in-plan FIDELITY form — exact-twin values in the oracle-hashable
    * columns plus a frozen-constant `within_bound` sketch check — so all
    * hash against their oracles; a sketch breaching its bound flips
    * within_bound and goes hash-red with no special-casing. Kept
    * as documentation of the mechanism and the raw-sketch production
    * twins. Dumped by [[Verify]] as `queries_meta.json`.
    */
  def queriesMeta: Map[String, String] =
    registry.flatMap { case (id, d) => d.meta.map(id -> _) }
}

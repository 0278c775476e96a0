package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.catalog.CatalogMonitor
import graft.core.{MetricSink, Profiler}
import graft.run.{MonitorRunner, Monitors}
import graft.state.StateStore
import graft.storage.StorageMonitor

/** One op is one full scheduled monitor cycle over a lake of eight table
  * directories: the database monitor, the table fan-out with fan-in and a
  * metrics flush, and the storage monitor. Before each cycle the lake
  * changes as gen.py planned it (appends, and now and then a table
  * rewritten with a column added or dropped), so the delta and drift
  * branches run and the file counts grow.
  */
final class MonitorCycle(cfg: Map[String, Any], tr: Tracer) extends Workload {
  private val in = cfg("input").toString
  private val work = cfg("work").toString
  private val dir = s"$in/tables"
  private val statePath = s"$work/state"
  private val metricsPath = s"$work/metrics"
  private val tables = Tables.warehouse
  private val roots = tables.map(t => Tables.path(dir, t))
  private val plan: IndexedSeq[Map[String, Any]] =
    Main.json.readValue(Paths.get(s"$in/plan.json").toFile, classOf[Seq[Map[String, Any]]]).toIndexedSeq

  def open(spark: SparkSession): Unit =
    tables.foreach(t => Tables.load(spark, dir, t).schema)

  def prepare(spark: SparkSession, i: Int): Boolean = {
    if (i >= plan.size) return false
    val stage = f"$in/stage/$i%04d"
    plan(i)("actions").asInstanceOf[Seq[Map[String, String]]].foreach { a =>
      val t = a("table")
      if (a("op") == "append")
        Files.move(Paths.get(s"$stage/${a("file")}"),
          Paths.get(Tables.path(dir, t), Paths.get(a("file")).getFileName.toString))
      else {
        Fs.deleteTree(Paths.get(Tables.path(dir, t)))
        Files.move(Paths.get(s"$stage/${a("dir")}"), Paths.get(Tables.path(dir, t)),
          StandardCopyOption.ATOMIC_MOVE)
      }
    }
    true
  }

  def run(spark: SparkSession, i: Int): Map[String, Any] = {
    val sink = MetricSink(s"cycle-$i")
    tr.span("run.database_monitor")(Monitors.databaseMonitor(spark, dir, sink))
    val fanout = tr.span("run.fanout") {
      MonitorRunner.run(spark, dir, tables, statePath, Some(metricsPath)).collect()
    }
    tr.span("run.storage_monitor")(Monitors.storageMonitor(spark, roots, sink))
    val own = sink.toDf(spark).collect()
    sink.flush(spark, metricsPath)
    val metrics = (own ++ fanout).map { r =>
      r.getAs[String]("key") -> Option(r.getAs[Any]("valueDouble")).getOrElse(r.getAs[Any]("valueString"))
    }.toMap
    tr.count("core.sink.points", metrics.size)
    Map("metrics" -> metrics)
  }

  def check(spark: SparkSession, i: Int, out: Map[String, Any]): (Seq[String], Map[String, Any]) = {
    val m = out("metrics").asInstanceOf[Map[String, Any]]
    val exp = plan(i)("tables").asInstanceOf[Map[String, Map[String, Any]]]
    val prev = if (i > 0) Some(plan(i - 1)("tables").asInstanceOf[Map[String, Map[String, Any]]]) else None
    val files = plan(i)("files").asInstanceOf[Map[String, Any]]
    val bad = Seq.newBuilder[String]
    def num(k: String): Option[Double] = m.get(k).collect { case d: Double => d }
    def expect(k: String, v: Double): Unit =
      if (!num(k).contains(v)) bad += s"$k=${m.get(k)} expected $v"
    expect("db.table_count", tables.size)
    tables.foreach { t =>
      val e = exp(t)
      val rows = e("rows").toString.toDouble
      val cols = e("columns").asInstanceOf[Seq[String]]
      expect(s"$t.record_count", rows)
      expect(s"db.$t.row_count", rows)
      expect(s"db.$t.column_count", cols.size)
      e("nulls").asInstanceOf[Map[String, Any]].foreach { case (c, n) =>
        expect(s"$t.null_count.$c", n.toString.toDouble)
      }
      // the state store persists across this run's cycles only
      prev.filter(_ => i > 0).foreach { p =>
        val pr = p(t)("rows").toString.toDouble
        expect(s"$t.record_delta", rows - pr)
        val changed = p(t)("columns").asInstanceOf[Seq[String]] != cols
        expect(s"$t.columns_changed", if (changed) 1.0 else 0.0)
      }
      val root = roots(tables.indexOf(t))
      val objs = m.collect { case (k, v: Double) if k.startsWith("prefix.") &&
        k.endsWith(".num_objects") && k.contains(s"/$t.parquet") => v }
      if (objs.toSeq != Seq(files(t).toString.toDouble))
        bad += s"prefix $root num_objects=$objs expected ${files(t)}"
    }
    val mean = tables.map(t => exp(t)("rows").toString.toDouble).sum / tables.size
    expect("all_tables.mean_record_count", math.rint(mean * 100) / 100)
    (bad.result(), Map("points" -> m.size))
  }

  /** MonitorRunner's pool hides per-target work, so the traced run repeats
    * the cycle's table monitors one target at a time, against a state
    * store and sink of their own, with a span around each module call. */
  private val shadowState = new StateStore(s"$work/state-decomposed")

  override def decomposed(spark: SparkSession, i: Int): Unit = {
    val sink = MetricSink(s"decomposed-$i")
    tr.span("catalog.table_shapes")(CatalogMonitor.tableShapes(spark, dir, tables).collect())
    val inv = tr.span("storage.inventory")(StorageMonitor.inventory(spark, roots).collect())
    tr.count("storage.files_listed", inv.length)
    tables.foreach { t =>
      tr.span("run.target") {
        val df = Tables.load(spark, dir, t)
        val rc = CatalogMonitor.tableRowCounts(spark, dir, Seq(t)).collect().head.getLong(1)
        tr.span("core.profiler.duplicate_stats")(
          Profiler.duplicateStats(df, df.columns.toSeq).collect())
        tr.span("core.profiler.null_counts")(Profiler.nullCounts(df).collect())
        if (Profiler.numericColumns(df).nonEmpty)
          tr.span("core.profiler.numeric_profile")(Profiler.numericProfile(df).collect())
        tr.span("state.get") {
          shadowState.get(spark, t, "record_count"); shadowState.get(spark, t, "columns")
        }
        tr.span("state.put")(shadowState.putAll(spark, Seq(
          (t, "record_count", rc.toString), (t, "columns", df.columns.mkString(",")))))
        tr.count("state.rewrites", 1)
        sink.log(s"$t.record_count", rc.toDouble)
      }
    }
    tr.span("core.sink.flush")(sink.flush(spark, s"$work/metrics-decomposed"))
  }

  override def layerMetrics(spark: SparkSession, ops: Int): Map[String, Double] = {
    val n = math.max(1, ops).toDouble
    Map(
      "core.sink.points" -> tr.counter("core.sink.points") / n,
      "state.rewrites" -> tr.counter("state.rewrites") / n,
      "state.snapshot_bytes" -> Fs.treeBytes(Paths.get(statePath)).toDouble,
      "storage.files_listed" -> tr.counter("storage.files_listed") / n)
  }
}

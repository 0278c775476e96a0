package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.catalog.CatalogMonitor
import graft.core.{MetricSink, ProfileConfig, Profiler}
import graft.state.StateStore
import graft.storage.StorageMonitor

/** End-to-end monitor entry points — one per reference template — each
  * emitting the metric families its README "Scope of Observability"
  * documents, plus the fan-out/fan-in runner (SURVEY O1/O2).
  *
  * Fan-out in the reference is one Airflow task per target joined by an
  * XCom-pulling aggregate task (`/root/reference/Snowflake/snowflake_table_monitor.py:162-187`,
  * `/root/reference/AWS_S3/s3_key_monitor.py:223-275`). Here each target
  * produces metric rows into a shared sink in-process (each monitor's heavy
  * work is Spark jobs, so parallelism comes from the cluster, not from
  * worker processes), and the fan-in aggregate is a DataFrame groupBy over
  * the union — no message passing.
  */
object Monitors {

  /** Database monitor (Snowflake/Redshift database-monitor parity:
    * `snowflake_database_monitor.py:56-95`,
    * `redshift_database_monitor.py:66-122`). Emits table count, per-table
    * shapes, min/max/mean/median of row AND column counts (the reference
    * logs `.max()` for its "Min table column count" — SURVEY §7.4; we emit
    * true mins), largest table, and disk stats.
    */
  def databaseMonitor(spark: SparkSession, dir: String, sink: MetricSink,
      tables: Seq[String] = Tables.warehouse): Unit = {
    val shapes = CatalogMonitor.tableShapes(spark, dir, tables).cache()
    sink.log("db.table_count", shapes.count().toDouble)
    shapes.collect().foreach { r =>
      sink.log(s"db.${r.getString(0)}.row_count", r.getLong(1).toDouble)
      sink.log(s"db.${r.getString(0)}.column_count", r.getLong(2).toDouble)
    }
    val stats = shapes.agg(
      max("row_count"), min("row_count"), round(avg("row_count"), 2),
      round(median(col("row_count").cast("double")), 2),
      max("column_count"), min("column_count"), round(avg("column_count"), 2),
      round(median(col("column_count").cast("double")), 2)).collect().head
    Seq("db.max_row_count", "db.min_row_count", "db.mean_row_count",
      "db.median_row_count", "db.max_column_count", "db.min_column_count",
      "db.mean_column_count", "db.median_column_count")
      .zipWithIndex.foreach { case (k, i) =>
        sink.log(k, Option(stats.get(i)).map(_.toString.toDouble).getOrElse(0.0))
      }
    CatalogMonitor.largestTable(shapes.select("table_name", "row_count"))
      .collect().headOption.foreach(r => sink.logString("db.largest_table", r.getString(0)))
    StorageMonitor.diskStats(spark, dir).collect().headOption.foreach { d =>
      sink.log("disk.capacity_gb", d.getDouble(0))
      sink.log("disk.used_gb", d.getDouble(1))
      sink.log("disk.free_gb", d.getDouble(2))
      sink.log("disk.used_pct", d.getDouble(3))
    }
    shapes.unpersist()
  }

  /** Table monitor (Snowflake/Redshift table-monitor parity:
    * `snowflake_table_monitor.py:73-131`,
    * `redshift_table_monitor.py:37-77`). Emits record count, duplicate
    * count, schema, per-column nulls, numeric stats over an optional
    * sample, and — via the state store — record delta + column drift
    * since the previous run.
    */
  def tableMonitor(spark: SparkSession, dir: String, table: String,
      sink: MetricSink, state: StateStore, sampleFraction: Double = 1.0,
      cfg: ProfileConfig = ProfileConfig()): Unit = {
    val df = Tables.load(spark, dir, table)
    // footer row count, count() fallback (round-15, guide §6): same
    // convention as CatalogMonitor.tableRowCounts (q18) — parquet footer
    // counts are exact by format contract, so this removes one full-scan
    // job per monitored table with a value identical by construction;
    // FooterCountsKey="false" forces the count job as everywhere else
    val recordCount = (if (spark.conf.getOption(CatalogMonitor.FooterCountsKey)
        .contains("false")) None
      else CatalogMonitor.footerRowCount(spark, Tables.path(dir, table)))
      .getOrElse(df.count())
    sink.log(s"$table.record_count", recordCount.toDouble)
    sink.log(s"$table.duplicate_count",
      Profiler.duplicateStats(df, df.columns.toSeq).collect().head
        .getAs[Long]("duplicate_count").toDouble)
    Profiler.schemaReport(df).foreach { case (c, t, _) =>
      sink.logString(s"$table.schema.$c", t)
    }
    Profiler.nullCounts(df).collect().headOption.foreach { r =>
      df.columns.zipWithIndex.foreach { case (c, i) =>
        sink.log(s"$table.null_count.$c", r.getLong(i).toDouble)
      }
    }
    val sampled = if (sampleFraction >= 1.0) df
      else df.sample(withReplacement = false, sampleFraction, seed = 42)
    if (Profiler.numericColumns(sampled).nonEmpty)
      Profiler.numericProfile(sampled, cfg).collect().foreach { r =>
        if (!r.isNullAt(2) &&
            Seq("min", "max", "mean", "median", "stddev").contains(r.getString(1)))
          sink.log(s"$table.${r.getString(0)}.${r.getString(1)}", r.getDouble(2))
      }
    // state: delta + drift vs previous run (snowflake_table_monitor.py:97-113;
    // delta corrected to current - previous per SURVEY §7.4)
    val prevCount = state.get(spark, table, "record_count").map(_.toLong)
    prevCount.foreach(p => sink.log(s"$table.record_delta", (recordCount - p).toDouble))
    val prevCols = state.get(spark, table, "columns").map(_.split(",").toSeq)
    prevCols.foreach { pc =>
      val drift = graft.state.ChangeDetection.schemaDrift(pc, df.columns.toSeq, spark)
        .collect()
      sink.log(s"$table.columns_changed", if (drift.nonEmpty) 1.0 else 0.0)
      drift.foreach(r => sink.logString(s"$table.column_${r.getString(0)}", r.getString(1)))
    }
    // one snapshot rewrite for both keys (puts are serialized store-wide)
    state.putAll(spark, Seq(
      (table, "record_count", recordCount.toString),
      (table, "columns", df.columns.mkString(","))))
  }

  /** Storage monitor (S3 key/prefix/bucket-monitor parity:
    * `s3_key_monitor.py:56-138`, `s3_bucket_monitor.py:42-103`): per-object
    * metadata metrics, per-prefix aggregates, and the cross-prefix argmax
    * fan-in (`s3_key_monitor.py:167-220`).
    */
  def storageMonitor(spark: SparkSession, roots: Seq[String], sink: MetricSink): Unit = {
    val mb = 1048576.0 // s3_key_monitor.py:29
    val inv = StorageMonitor.inventory(spark, roots).cache()
    inv.collect().foreach { r =>
      val key = r.getAs[String]("file_name")
      sink.log(s"key.$key.size_mb",
        math.rint(r.getAs[Long]("size_bytes") / mb * 100) / 100)
      sink.logString(s"key.$key.content_type", r.getAs[String]("content_type"))
      sink.logString(s"key.$key.storage_class", r.getAs[String]("storage_class"))
      sink.logString(s"key.$key.last_modified",
        new java.sql.Timestamp(r.getAs[Long]("modification_ms")).toString)
    }
    val summaries = StorageMonitor.prefixSummary(inv).cache()
    summaries.collect().foreach { r =>
      val root = r.getAs[String]("root")
      sink.log(s"prefix.$root.num_objects", r.getAs[Long]("num_objects").toDouble)
      sink.log(s"prefix.$root.total_size_mb",
        math.rint(r.getAs[Long]("total_bytes") / mb * 100) / 100)
      sink.log(s"prefix.$root.max_size_mb",
        math.rint(r.getAs[Long]("max_bytes") / mb * 100) / 100)
      sink.logString(s"prefix.$root.largest_key", r.getAs[String]("largest_file"))
    }
    summaries.orderBy(col("num_objects").desc, col("root")).collect().headOption
      .foreach(r => sink.logString("largest_prefix_by_count", r.getAs[String]("root")))
    summaries.orderBy(col("total_bytes").desc, col("root")).collect().headOption
      .foreach(r => sink.logString("largest_prefix_by_size", r.getAs[String]("root")))
    summaries.unpersist(); inv.unpersist()
  }

  /** DataFrame-tracking template parity
    * (`/root/reference/DataFrames/databand_tracking_template.py:8-31`):
    * run a query, profile the result, emit row/column counts.
    */
  def trackQuery(spark: SparkSession, sql: String, name: String,
      sink: MetricSink): DataFrame = {
    val df = spark.sql(sql)
    Profiler.profileTo(sink, name, df)
    df
  }
}

/** Fan-out/fan-in driver (O1/O2) with run stamping, and a CLI `main`. */
object MonitorRunner {

  /** Run table monitors for every target, then the fan-in aggregate the
    * Snowflake DAG computes from XCom pulls (mean record count / mean
    * delta — `snowflake_table_monitor.py:133-157`). Returns the full
    * metrics DataFrame for this run.
    */
  def run(spark: SparkSession, dir: String, targets: Seq[String],
      statePath: String, metricsPath: Option[String] = None,
      parallelism: Int = 8): DataFrame = {
    val sink = MetricSink()
    val state = new StateStore(statePath)
    // Concurrent fan-out, like the reference's parallel Airflow tasks
    // (`snowflake_table_monitor.py:162-178`): each monitor is mostly
    // blocking on its own Spark jobs, so driver threads keep the
    // cluster saturated across targets (FAIR-friendly). Default 8 =
    // one thread per warehouse table; the A/B at sf0.1 measured the
    // full fan-out (q276) at ~0.55× the 4-thread wall time — the
    // per-table jobs are small enough that 4 threads left the
    // scheduler underfed. MetricSink is synchronized; StateStore
    // serializes its snapshot rewrites.
    if (parallelism <= 1 || targets.size <= 1)
      targets.foreach(t => Monitors.tableMonitor(spark, dir, t, sink, state))
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, targets.size))
      try {
        import scala.jdk.CollectionConverters._
        val tasks: Seq[java.util.concurrent.Callable[Unit]] = targets.map { t =>
          (() => Monitors.tableMonitor(spark, dir, t, sink, state)): java.util.concurrent.Callable[Unit]
        }
        pool.invokeAll(tasks.asJava).asScala.foreach(_.get()) // propagate failures
      } finally pool.shutdown()
    }
    val counts = targets.flatMap(t => sink.get(s"$t.record_count").flatMap(_.valueDouble))
    if (counts.nonEmpty)
      sink.log("all_tables.mean_record_count",
        math.rint(counts.sum / counts.size * 100) / 100)
    val deltas = targets.flatMap(t => sink.get(s"$t.record_delta").flatMap(_.valueDouble))
    if (deltas.nonEmpty)
      sink.log("all_tables.mean_record_delta",
        math.rint(deltas.sum / deltas.size * 100) / 100)
    val df = sink.toDf(spark)
    metricsPath.foreach(p => sink.flush(spark, p))
    df
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val targets = if (args.length > 1) args(1).split(",").toSeq else Tables.warehouse
    val statePath = if (args.length > 2) args(2) else "/tmp/graft-state"
    val spark = graft.util.Sessions.local(Runtime.getRuntime.availableProcessors)
    spark.sparkContext.setLogLevel("WARN")
    val metrics = run(spark, dir, targets, statePath)
    metrics.show(200, truncate = false)
    spark.stop()
  }
}

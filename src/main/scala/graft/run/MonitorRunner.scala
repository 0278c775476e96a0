package graft.run

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.catalog.CatalogMonitor
import graft.core.{MetricSink, ProfileConfig, Profiler}
import graft.state.{ChangeDetection, StateStore}
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
  * worker processes), and the fan-in aggregate reads the shared sink on
  * the driver — no message passing.
  */
object Monitors {

  // an emitted point: a number or a string
  private[graft] type Point = (String, Either[Double, String])

  private def emit(sink: MetricSink, points: Seq[Point]): Unit =
    points.foreach { case (k, v) => v.fold(sink.log(k, _), sink.logString(k, _)) }

  /** Database monitor (Snowflake/Redshift database-monitor parity:
    * `snowflake_database_monitor.py:56-95`,
    * `redshift_database_monitor.py:66-122`). Emits table count, per-table
    * shapes, min/max/mean/median of row AND column counts (the reference
    * logs `.max()` for its "Min table column count" — SURVEY §7.4; we emit
    * true mins), largest table, and disk stats.
    *
    * Every value comes from the driver-side shape list
    * ([[CatalogMonitor.shapes]]), as the reference aggregates one catalog
    * query in pandas: no Spark job once the schemas are memoized.
    */
  def databaseMonitor(spark: SparkSession, dir: String, sink: MetricSink,
      tables: Seq[String] = Tables.warehouse): Unit = {
    emit(sink, databasePoints(CatalogMonitor.shapes(spark, dir, tables)))
    StorageMonitor.diskStats(spark, dir).foreach { case (k, v) => sink.log(s"disk.$k", v) }
  }

  /** Table count, per-table shapes, the eight statistics (0.0 without
    * tables) and the largest table of (table, row_count, column_count)
    * shapes.
    */
  private[graft] def databasePoints(shapes: Seq[(String, Long, Long)]): Seq[Point] = {
    def num(k: String, v: Double): Point = k -> Left(v)
    val stats = for ((dim, xs) <- Seq("row" -> shapes.map(_._2.toDouble),
        "column" -> shapes.map(_._3.toDouble));
      (stat, v) <- Seq("max" -> xs.maxOption, "min" -> xs.minOption,
        "mean" -> Option.when(xs.nonEmpty)(xs.sum / xs.size).map(round2),
        "median" -> median(xs).map(round2)))
      yield num(s"db.${stat}_${dim}_count", v.getOrElse(0.0))
    val perTable = shapes.flatMap { case (t, rows, cols) =>
      Seq(num(s"db.$t.row_count", rows.toDouble), num(s"db.$t.column_count", cols.toDouble))
    }
    val largest = shapes.minByOption(s => (s._2, s._1))(largestFirst)
      .map(s => "db.largest_table" -> Right(s._1))
    (num("db.table_count", shapes.size.toDouble) +: perTable) ++ stats ++ largest
  }

  // argmax order of (count, name): the greatest count, then the least
  // name in Spark's string order, as `orderBy(count.desc, name)` picks
  private val largestFirst = Ordering.Tuple2(Ordering.Long.reverse, CatalogMonitor.nameOrder)

  /** Spark's `round(x, 2)` on a double: HALF_UP on its decimal form. */
  private def round2(x: Double): Double =
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Spark's `median`: the sorted values at (n - 1) / 2, interpolated. */
  private def median(xs: Seq[Double]): Option[Double] = Option.when(xs.nonEmpty) {
    val (s, pos) = (xs.sorted, (xs.size - 1) * 0.5)
    val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
    if (s(lo) == s(hi)) s(lo) else (hi - pos) * s(lo) + (pos - lo) * s(hi)
  }

  // the state keys of a table monitor's replay
  private val SignatureKey = "listing_signature"
  private val MetricsKey = "metrics"
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Points as a JSON array of [kind, key, value], doubles as raw bits so
    * NaN, ±Inf and -0.0 come back bit-exact.
    */
  private def encode(points: Seq[Point]): String = json.writeValueAsString(points.map {
    case (k, Left(d)) => Array("d", k, java.lang.Double.doubleToRawLongBits(d).toString)
    case (k, Right(v)) => Array("s", k, v)
  }.toArray)

  private def decode(stored: String): Seq[Point] =
    json.readValue(stored, classOf[Array[Array[String]]]).toSeq.map {
      case Array("d", k, bits) => k -> Left(java.lang.Double.longBitsToDouble(bits.toLong))
      case Array(_, k, v) => k -> Right(v)
    }

  /** Table monitor (Snowflake/Redshift table-monitor parity:
    * `snowflake_table_monitor.py:73-131`,
    * `redshift_table_monitor.py:37-77`). Emits record count, duplicate
    * count, schema, per-column nulls, numeric stats over an optional
    * sample, and — via the state store — record delta + column drift
    * since the previous run.
    *
    * A table whose listing signature ([[CatalogMonitor.signature]], keyed
    * by `sampleFraction` and `cfg`) equals the stored one re-emits the
    * points stored with it and runs no Spark job: the rsync quick check,
    * same name, size and mtime means same bytes. Delta and drift always
    * come from the stored count and columns; the state is written only
    * when a value changed. Returns false when the points were replayed.
    */
  def tableMonitor(spark: SparkSession, dir: String, table: String,
      sink: MetricSink, state: StateStore, sampleFraction: Double = 1.0,
      cfg: ProfileConfig = ProfileConfig()): Boolean = {
    val (profiled, changed) = monitorTarget(spark, dir, table, sink, state, sampleFraction, cfg)
    if (changed.nonEmpty) state.putAll(spark, changed)
    profiled
  }

  // (entity, key, value) state rows
  private[graft] type StateRows = Seq[(String, String, String)]

  /** [[tableMonitor]] without its state write: emits the table's points
    * and returns whether it was profiled, with the state rows whose value
    * changed, for the caller to write.
    */
  private[graft] def monitorTarget(spark: SparkSession, dir: String, table: String,
      sink: MetricSink, state: StateStore, sampleFraction: Double = 1.0,
      cfg: ProfileConfig = ProfileConfig()): (Boolean, StateRows) = {
    val files = CatalogMonitor.parquetFiles(spark, Tables.path(dir, table))
    val signature = files.filter(_.nonEmpty)
      .fold("")(fs => s"$sampleFraction $cfg\n${CatalogMonitor.signature(fs)}")
    val prev = state.entries(spark, table) // one locked listing
    val replay = prev.get(MetricsKey)
      .filter(_ => signature.nonEmpty && prev.get(SignatureKey).contains(signature))
    val points = replay.fold(profile(spark, dir, table, files, sampleFraction, cfg))(decode)
    emit(sink, points)
    val recordCount = points.collectFirst {
      case (k, Left(d)) if k == s"$table.record_count" => d.toLong }.get
    val columns = points.collect {
      case (k, _) if k.startsWith(s"$table.schema.") => k.stripPrefix(s"$table.schema.") }
    // state: delta + drift vs previous run (snowflake_table_monitor.py:97-113;
    // delta corrected to current - previous per SURVEY §7.4)
    prev.get("record_count").foreach(p =>
      sink.log(s"$table.record_delta", (recordCount - p.toLong).toDouble))
    prev.get("columns").foreach { pc =>
      val drift = ChangeDetection.schemaChanges(pc.split(",").toSeq, columns)
      sink.log(s"$table.columns_changed", if (drift.nonEmpty) 1.0 else 0.0)
      drift.foreach { case (change, c) => sink.logString(s"$table.column_$change", c) }
    }
    val changed = Seq("record_count" -> recordCount.toString,
      "columns" -> columns.mkString(","), SignatureKey -> signature,
      MetricsKey -> replay.getOrElse(encode(points)))
      .filterNot { case (k, v) => prev.get(k).contains(v) }
    (replay.isEmpty, changed.map { case (k, v) => (table, k, v) })
  }

  /** The intrinsic points of one table, computed from its data. */
  private def profile(spark: SparkSession, dir: String, table: String,
      files: Option[Seq[org.apache.hadoop.fs.FileStatus]], sampleFraction: Double,
      cfg: ProfileConfig): Seq[Point] = {
    val df = Tables.load(spark, dir, table)
    // footer row count, count() fallback, as CatalogMonitor.tableRowCounts
    // (q18): exact by the parquet format contract, and no full-scan job
    val recordCount = files.flatMap(CatalogMonitor.footerRowCount(spark, _))
      .getOrElse(df.count())
    val profile = Profiler.monitorProfile(df, sampleFraction, cfg)
    Seq[Point](s"$table.record_count" -> Left(recordCount.toDouble),
      s"$table.duplicate_count" -> Left(profile.duplicateCount.toDouble)) ++
      Profiler.schemaReport(df).map { case (c, t, _) => s"$table.schema.$c" -> Right(t) } ++
      profile.nullCounts.map { case (c, n) => s"$table.null_count.$c" -> Left(n.toDouble) } ++
      profile.stats.map { case (c, m, v) => s"$table.$c.$m" -> Left(v) }
  }

  /** Storage monitor (S3 key/prefix/bucket-monitor parity:
    * `s3_key_monitor.py:56-138`, `s3_bucket_monitor.py:42-103`): per-object
    * metadata metrics, per-prefix aggregates, and the cross-prefix argmax
    * fan-in (`s3_key_monitor.py:167-220`). The inventory is collected
    * once, its listing being the phase's one Spark job, and each root's
    * aggregates fold from its rows on the driver, as the reference folds
    * its one listing (`s3_key_monitor.py:111-123`).
    */
  def storageMonitor(spark: SparkSession, roots: Seq[String], sink: MetricSink): Unit = {
    val inv = StorageMonitor.inventory(spark, roots).collect()
    inv.foreach { r =>
      val key = r.getAs[String]("file_name")
      sink.log(s"key.$key.size_mb", sizeMb(r.getAs[Long]("size_bytes")))
      sink.logString(s"key.$key.content_type", r.getAs[String]("content_type"))
      sink.logString(s"key.$key.storage_class", r.getAs[String]("storage_class"))
      sink.logString(s"key.$key.last_modified",
        new java.sql.Timestamp(r.getAs[Long]("modification_ms")).toString)
    }
    emit(sink, prefixPoints(inv.toSeq.map(r => (r.getAs[String]("root"),
      r.getAs[String]("file_name"), r.getAs[Long]("size_bytes")))))
  }

  private def sizeMb(bytes: Long): Double =
    math.rint(bytes / 1048576.0 * 100) / 100 // MB: s3_key_monitor.py:29

  /** Per-root points and the cross-root argmaxes over (root, file_name,
    * size_bytes) objects, with [[StorageMonitor.prefixSummary]]'s values:
    * a root's largest key is its greatest (size, name).
    */
  private[graft] def prefixPoints(objects: Seq[(String, String, Long)]): Seq[Point] = {
    val name = CatalogMonitor.nameOrder
    // (root, objects, total bytes, max bytes, largest key), by root
    val prefixes = objects.groupBy(_._1).toSeq.map { case (root, os) =>
      val sizes = os.map(_._3)
      (root, os.size.toLong, sizes.sum, sizes.max,
        os.map(o => (o._3, o._2)).max(Ordering.Tuple2(Ordering.Long, name))._2)
    }.sortBy(_._1)(name)
    prefixes.flatMap { case (root, n, total, maxBytes, largest) =>
      Seq[Point](s"prefix.$root.num_objects" -> Left(n.toDouble),
        s"prefix.$root.total_size_mb" -> Left(sizeMb(total)),
        s"prefix.$root.max_size_mb" -> Left(sizeMb(maxBytes)),
        s"prefix.$root.largest_key" -> Right(largest))
    } ++ prefixes.minByOption(p => (p._2, p._1))(largestFirst)
      .map(p => "largest_prefix_by_count" -> Right(p._1)) ++
      prefixes.minByOption(p => (p._3, p._1))(largestFirst)
        .map(p => "largest_prefix_by_size" -> Right(p._1))
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
    * A target that throws (a missing or corrupt table) fails alone, as
    * each reference target is its own task: it logs `run.<target>.error`
    * (class and message) and counts in `all_tables.targets_failed`; the
    * means cover the targets that succeeded, and the flush always runs.
    * The changed state rows of every target that succeeded are written
    * in one snapshot write after the fan-out; a failing target writes
    * none, and a failing write logs `run.state.error`.
    */
  def run(spark: SparkSession, dir: String, targets: Seq[String],
      statePath: String, metricsPath: Option[String] = None,
      parallelism: Int = 8): DataFrame = {
    val sink = MetricSink()
    val state = new StateStore(statePath)
    def monitor(t: String) = Try(Monitors.monitorTarget(spark, dir, t, sink, state))
    // Concurrent fan-out, like the reference's parallel Airflow tasks
    // (`snowflake_table_monitor.py:162-178`): each monitor is mostly
    // blocking on its own Spark jobs (a fused aggregate and a median
    // census side by side per changed table, none for an unchanged one),
    // so driver threads keep the cluster saturated across targets
    // (FAIR-friendly). Default 8 = one thread per warehouse table; the A/B
    // at sf0.1 measured the full fan-out (q276) at ~0.55× the 4-thread
    // wall time — the per-table jobs are small enough that 4 threads left
    // the scheduler underfed. MetricSink is synchronized; the StateStore
    // answers reads from its in-memory snapshot, and the one write comes
    // after the fan-out.
    val outcomes = if (parallelism <= 1 || targets.size <= 1) targets.map(monitor)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, targets.size))
      try {
        import scala.jdk.CollectionConverters._
        val tasks = targets.map { t =>
          (() => monitor(t)): java.util.concurrent.Callable[Try[(Boolean, Monitors.StateRows)]]
        }
        pool.invokeAll(tasks.asJava).asScala.toSeq.map(_.get())
      } finally pool.shutdown()
    }
    val done = targets.zip(outcomes).flatMap {
      case (t, Success((profiled, changed))) => Some((t, profiled, changed))
      case (t, Failure(e)) =>
        sink.logString(s"run.$t.error", s"${e.getClass.getName}: ${e.getMessage}")
        None
    }
    val changed = done.flatMap(_._3)
    if (changed.nonEmpty) Try(state.putAll(spark, changed)).failed.foreach(e =>
      sink.logString("run.state.error", s"${e.getClass.getName}: ${e.getMessage}"))
    sink.log("all_tables.tables_profiled", done.count(_._2).toDouble)
    sink.log("all_tables.tables_unchanged", done.count(!_._2).toDouble)
    sink.log("all_tables.targets_failed", (targets.size - done.size).toDouble)
    val ok = done.map(_._1)
    val counts = ok.flatMap(t => sink.get(s"$t.record_count").flatMap(_.valueDouble))
    if (counts.nonEmpty)
      sink.log("all_tables.mean_record_count",
        math.rint(counts.sum / counts.size * 100) / 100)
    val deltas = ok.flatMap(t => sink.get(s"$t.record_delta").flatMap(_.valueDouble))
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

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Continuous monitor tier (SURVEY §2.8, O4).
  *
  * The reference's only unbounded computation is a 10-second poll loop with
  * bounded lifetime + restart (`/root/reference/databand_airflow_monitor.py:13-18,102-115`).
  * The Spark-native shape is Structured Streaming over a growing file
  * directory: `readStream` → event-time windowed aggregation → sink. Here
  * the same pipeline runs with `Trigger.AvailableNow` for deterministic
  * drain-and-stop semantics (tests/oracle) and `Trigger.ProcessingTime` for
  * production polling.
  *
  * Scale notes: windowed counts keyed by (window, event_type) shuffle only
  * the aggregated state; the watermark bounds state size, so an unbounded
  * 100 TB/day stream holds only the open windows in the state store.
  */
object ContinuousMonitor {

  /** Hourly tumbling event-time aggregate over an events directory. */
  def hourlyEventCounts(spark: SparkSession, eventsPath: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val schema = spark.read.parquet(eventsPath).schema
    // The streaming file source lists a directory; a single-file fixture
    // path is globbed ("file.parquet" → "file.parque[t]") so the resolved
    // base path becomes its parent directory.
    val streamPath =
      if (new java.io.File(eventsPath).isFile)
        eventsPath.dropRight(1) + "[" + eventsPath.last + "]"
      else eventsPath
    val raw = spark.readStream
      .schema(schema)
      .parquet(streamPath)
    graft.Tables.normalizeNanoTs(raw, "events")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))
  }

  /** Drain the stream with AvailableNow into an in-memory table and return
    * the result batch-side. Used by the correctness gate: the streaming
    * plan must produce exactly what the equivalent batch SQL produces.
    */
  def runToCompletion(spark: SparkSession, streaming: DataFrame,
      tableName: String): DataFrame = {
    // each shuffle partition materializes its own state-store instance;
    // for a drain-and-stop monitor the store startup dominates, so cap
    // the stateful-shuffle width (restored after the drain)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", math.min(prev.toInt, 8))
    try {
      val q = streaming.writeStream
        .trigger(Trigger.AvailableNow())
        .format("memory")
        .queryName(tableName)
        .outputMode("complete")
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    spark.table(tableName)
  }

  /** Continuously append windowed aggregates to the metrics table: the
    * streaming analogue of the reference's tracker-POST loop
    * (`databand_airflow_monitor.py:102-110` + `log_metric` sites). Each
    * micro-batch stamps its rows with the batch id and appends Parquet —
    * an idempotent-enough, replayable metric time-series. Returns the
    * started query; caller owns lifecycle (stop / awaitTermination).
    */
  def metricsStream(streaming: DataFrame, metricsPath: String,
      checkpointPath: String, runId: String,
      intervalSeconds: Int = 10): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.writeStream
      .trigger(Trigger.ProcessingTime(s"$intervalSeconds seconds"))
      .option("checkpointLocation", checkpointPath)
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        batch.withColumn("run_id", lit(runId))
          .withColumn("batch_id", lit(batchId))
          .withColumn("emitted_ts", current_timestamp())
          .write.mode("append").parquet(metricsPath)
      }
      .start()

  /** Outcome of a [[runSupervised]] loop: restart cycles completed, failed
    * starts absorbed by the retry budget, queries that needed the force
    * path after ignoring the polite stop.
    */
  final case class SupervisionReport(cycles: Int, failures: Int, forceKills: Int)

  /** Raised (never retried) when an incarnation survives the force-kill:
    * starting the next one while it lives would mean two writers on one
    * checkpoint.
    */
  final class StuckIncarnationException(runId: String) extends IllegalStateException(
    s"monitor query $runId still active after force-kill + grace; " +
      "refusing to start an overlapping incarnation")

  /** The full O4 supervisor, mirroring the reference's restart semantics
    * (`/root/reference/databand_airflow_monitor.py:13-18,106-115`): each
    * cycle runs the monitor for `lifetimeMs` (AUTO_RESTART_TIMEOUT), then
    * restarts it; a cycle that fails consumes one of `retries` (= 10, with
    * a fixed `retryDelayMs` = 1 s, no backoff — `retries=10` /
    * `retry_delay=1s` / `retry_exponential_backoff=False`); a query that
    * ignores the polite stop for `forceKillGraceMs` past its lifetime is
    * force-killed by cancelling its scheduler job group (the
    * FORCE_RESTART_TIMEOUT = lifetime + 5 min backup kill).
    *
    * `mkQuery` starts one monitor incarnation (e.g. [[metricsStream]] with
    * a durable checkpoint, so restarts resume exactly-once from state).
    * `maxCycles` bounds the loop for tests/drain scenarios; production
    * passes Int.MaxValue and supervises forever.
    *
    * The failure budget is PER RUN, matching the reference's Airflow
    * `retries=10` semantics: it resets after every successful cycle, so
    * sporadic transient failures spread over months never accumulate to a
    * kill — only `retries` consecutive failures do. And if an incarnation
    * survives even the force-kill (job-group cancel + grace), the
    * supervisor fails loudly instead of starting a second incarnation on
    * top of it — with a shared durable checkpoint the overlapped start
    * would fail anyway and silently burn the budget.
    */
  def runSupervised(mkQuery: () => org.apache.spark.sql.streaming.StreamingQuery,
      lifetimeMs: Long = 30L * 60 * 1000,
      forceKillGraceMs: Long = 5L * 60 * 1000,
      retries: Int = 10,
      retryDelayMs: Long = 1000L,
      maxCycles: Int = Int.MaxValue): SupervisionReport = {
    var cycles = 0
    var failures = 0
    var consecutiveFailures = 0
    var forceKills = 0
    while (cycles < maxCycles) {
      try {
        val q = mkQuery()
        val endedOnItsOwn = q.awaitTermination(lifetimeMs)
        if (!endedOnItsOwn) {
          // auto-restart: polite stop first; if the query is stuck past the
          // grace window, cancel its job group (StreamExecution runs every
          // micro-batch under jobGroup = runId)
          val runId = q.runId.toString
          val stopper = new Thread(() => try q.stop() catch { case _: Throwable => () })
          stopper.setDaemon(true)
          stopper.start()
          stopper.join(forceKillGraceMs)
          if (q.isActive) {
            forceKills += 1
            q.sparkSession.sparkContext.cancelJobGroup(runId)
            stopper.join(forceKillGraceMs)
          }
          if (q.isActive)
            throw new StuckIncarnationException(runId)
        }
        cycles += 1
        consecutiveFailures = 0 // per-run retry budget, as in the reference
      } catch {
        // a stuck incarnation must NOT be retried — starting another query
        // on top of a live one corrupts the shared checkpoint contract
        case e: StuckIncarnationException => throw e
        case scala.util.control.NonFatal(e) =>
          failures += 1
          consecutiveFailures += 1
          if (consecutiveFailures > retries) throw e
          Thread.sleep(retryDelayMs)
      }
    }
    SupervisionReport(cycles, failures, forceKills)
  }
}

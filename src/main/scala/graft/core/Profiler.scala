package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Profiling configuration.
  *
  * @param exact          exact median/percentile/distinct (oracle parity) vs
  *                       approx sketches (`percentile_approx`,
  *                       `approx_count_distinct`) for the 100 TB path. The
  *                       reference always computes exact pandas stats on a
  *                       sample (`/root/reference/AWS_Redshift/redshift_table_monitor.py:63-73`);
  *                       at scale, sketches are the only sane default.
  * @param histogramBins  numeric histogram bin count.
  * @param statColumnsPerJob cap on stat expressions per aggregation job so a
  *                       5 000-column table doesn't build one giant codegen
  *                       unit (JIT bailout / 64KB method limit).
  */
case class ProfileConfig(
    exact: Boolean = true,
    histogramBins: Int = 10,
    approxRsd: Double = 0.05,
    approxPercentileAccuracy: Int = 2500,
    statColumnsPerJob: Int = 64,
    previewRows: Int = 20)

/** One-pass, whole-stage-codegen-friendly DataFrame profiler.
  *
  * Re-expresses the reference's per-column pandas loops
  * (`/root/reference/AWS_Redshift/redshift_table_monitor.py:61-73`,
  * `/root/reference/Snowflake/snowflake_table_monitor.py:116-128`,
  * `/root/reference/DataFrames/databand_tracking_template.py:21-31`) as a
  * SINGLE Spark aggregation over all columns: the pandas code makes one pass
  * per column per statistic; here Catalyst fuses every statistic of every
  * column into one partial+final HashAggregate, so a 100 TB table is scanned
  * exactly once (and Parquet column pruning means only profiled columns are
  * read at all).
  *
  * pandas-semantics notes (SURVEY §7.4):
  *  - `std` is sample stddev (ddof=1) → `stddev_samp`.
  *  - pandas `mean`/`std` skip NaN; Spark aggregates skip NULL but not NaN →
  *    doubles are normalized NaN→NULL via `nanvl`-style guard first.
  *  - `median`/percentiles interpolate linearly → Spark `percentile`
  *    (exact mode) matches pandas & DuckDB `quantile_cont`.
  */
object Profiler {

  /** Statistic names emitted per numeric column, in emission order. */
  val numericMetrics: Seq[String] =
    Seq("count", "null_count", "distinct_count", "min", "max", "mean",
      "stddev", "p25", "median", "p75")

  /** The moment (non-order-statistic) subset of [[numericMetrics]] — exact
    * in BOTH profile modes (computed by the same codegen aggregate).
    */
  val momentMetrics: Seq[String] =
    Seq("count", "null_count", "min", "max", "mean", "stddev")

  def isNumeric(f: StructField): Boolean = f.dataType.isInstanceOf[NumericType]

  def numericColumns(df: DataFrame): Seq[String] =
    df.schema.fields.filter(isNumeric).map(_.name).toSeq

  /** NaN→NULL normalization for floating columns (pandas-skipna parity). */
  private def cleaned(df: DataFrame, c: String): Column = {
    val col0 = col(c)
    df.schema(c).dataType match {
      case DoubleType | FloatType => when(isnan(col0), lit(null)).otherwise(col0)
      case _ => col0
    }
  }

  /** Codegen-friendly moment stats of column `c`'s cleaned double value
    * `v`, aliased `<c>__<metric>` for every metric in [[momentMetrics]].
    */
  private def momentExprs(v: Column, c: String): Seq[Column] = Seq(
    count(v).cast(DoubleType).as(s"${c}__count"),
    sum(when(v.isNull, 1L).otherwise(0L)).cast(DoubleType).as(s"${c}__null_count"),
    round(min(v), 4).as(s"${c}__min"),
    round(max(v), 4).as(s"${c}__max"),
    round(avg(v), 4).as(s"${c}__mean"),
    round(stddev_samp(v), 4).as(s"${c}__stddev"))

  /** SQL text of the cleaned double cast (for building `stack` melts). */
  private def cleanedSql(df: DataFrame, c: String): String =
    df.schema(c).dataType match {
      case DoubleType | FloatType =>
        s"CASE WHEN isnan(`$c`) THEN NULL ELSE CAST(`$c` AS DOUBLE) END"
      case _ => s"CAST(`$c` AS DOUBLE)"
    }

  /** The numeric columns `cols` melted to (col_name, value): cleaned
    * doubles, NULLs dropped. An Expand of width #cols, so one job sees
    * every column.
    */
  private def melt(df: DataFrame, cols: Seq[String]): DataFrame = {
    val stackArgs = cols.map(c => s"'$c', ${cleanedSql(df, c)}").mkString(", ")
    df.selectExpr(s"stack(${cols.length}, $stackArgs) as (col_name, value)")
      .where(col("value").isNotNull)
  }

  /** Exact order statistics in histogram form: pre-aggregate the melted
    * relation to (col_name, value, cnt) — a fully parallel partial+final
    * hash aggregate across ALL cores — then sort only the DISTINCT values
    * per column (a running-count window) and pick the interpolation
    * endpoints (linear, pandas/DuckDB quantile_cont semantics) from the
    * cumulative ranges with [[interp]]. Compared to ranking every raw row,
    * the per-column sort shrinks by the duplication factor
    * (flags/quantities/discounts collapse from millions of rows to dozens
    * of values; the sort — the only #columns-bounded stage — sees orders
    * of magnitude fewer rows), and the distinct count falls out of the
    * same grouped relation for free. This also beats `percentile()` (a
    * TypedImperativeAggregate building a value→count hashmap of the whole
    * column per group) and two-phase count_distinct — and the hash
    * aggregate spills gracefully at 100 TB.
    *
    * Values are distinct per column here, so the default RANGE frame
    * equals ROWS and `cum` is an exact running row count. The per-column
    * totals (row count n, distinct count dcv) come from a whole-partition
    * window over the SAME (col_name) partitioning — NOT a separate
    * `grouped.groupBy(col_name)` + broadcast join back: Catalyst plans
    * that as a full second scan→melt→aggregate chain (exchange reuse does
    * not fire across the two subtrees), doubling the query's heavy phase.
    * The extra Window op shares the existing sort and adds no exchange.
    * Group the result by col_name to aggregate [[pick]]/[[interp]].
    */
  private def census(melted: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grouped = melted.groupBy("col_name", "value").agg(count(lit(1)).as("cnt"))
    val byVal = Window.partitionBy("col_name").orderBy("value")
    val byCol = Window.partitionBy("col_name")
    grouped.select(col("col_name"), col("value"), col("cnt"),
      sum("cnt").over(byVal).cast(DoubleType).as("cum"),
      sum("cnt").over(byCol).cast(DoubleType).as("n"),
      count(lit(1)).over(byCol).cast(DoubleType).as("dcv"))
  }

  // a distinct value covers 0-based positions [cum-cnt, cum-1]
  private def pick(p: Double, end: Column => Column): Column =
    min(when(end((col("n") - 1) * p) >= col("cum") - col("cnt") &&
      end((col("n") - 1) * p) < col("cum"), col("value")))

  private def interp(p: Double): Column = {
    val pos = (first(col("n")) - 1) * p
    val frac = pos - floor(pos)
    round(pick(p, floor) + (pick(p, ceil) - pick(p, floor)) * frac, 4)
  }

  /** Long-format numeric profile: (col_name, metric, value).
    *
    * Two scans in exact mode, one in approx mode:
    *  - Moments job: one wide HashAggregate, fully codegen, over all columns.
    *  - Exact-order-stats job: the table is melted to (col_name, value) and
    *    aggregated per column — `percentile(array(...))` + `count(DISTINCT)`.
    *    Melting (an Expand of width = #numeric cols) beats putting N
    *    `count_distinct`s in ONE agg, which would Expand every row N+1 ways
    *    AND drag 3·N non-codegen percentile buffers into the same operator —
    *    the naive fused version is ~30× slower on the fixture.
    *
    * A (col × metric) grid left-join keeps the output shape total even for
    * empty inputs (every metric row present, value NULL) — matching the
    * UNION-ALL-of-aggregates oracle shape.
    */
  def numericProfile(df0: DataFrame, cfg: ProfileConfig = ProfileConfig()): DataFrame = {
    // Repartition under-parallelized inputs: parquet parallelism is
    // row-group-bounded (util.Parallelism), so a few-row-group table
    // would otherwise run the melt and the 6·N-function moments partial
    // agg at scan width. The two consumers plan as two scan+repartition
    // subtrees (exchange reuse does not deduplicate them — measured) and
    // that is the better trade: caching the repartitioned input to share
    // one exchange was measured SLOWER (storage write+read beats a 10 MB
    // re-scan only for expensive inputs), and on a healthy
    // many-row-group table ensure() is a no-op anyway.
    val df = graft.util.Parallelism.ensure(df0)
    val spark = df.sparkSession
    import spark.implicits._
    val cols = numericColumns(df)
    require(cols.nonEmpty, "no numeric columns to profile")

    val momentsLong = momentsLongOf(df, cols, cfg)

    val longResult =
      if (!cfg.exact) {
        // Approx order stats on the melted relation: each melted row
        // updates ONE KLL/HLL sketch (grouped by col_name) instead of
        // 3·N+N sketches per wide row — ~3× fewer sketch updates, and the
        // wide moments job stays pure codegen.
        val orderStats = melt(df, cols).groupBy("col_name").agg(
          percentile_approx(col("value"), array(lit(0.25), lit(0.5), lit(0.75)),
            lit(cfg.approxPercentileAccuracy)).as("pcts"),
          approx_count_distinct(col("value"), cfg.approxRsd)
            .cast(DoubleType).as("dc"))
          .select(col("col_name"), expr(
            """stack(4,
              |'distinct_count', dc,
              |'p25', round(pcts[0], 4),
              |'median', round(pcts[1], 4),
              |'p75', round(pcts[2], 4)) as (metric, value)""".stripMargin))
        momentsLong.unionByName(orderStats.select("col_name", "metric", "value"))
      } else {
        // Exact order stats from the distinct-value census (see [[census]])
        val orderStats = census(melt(df, cols)).groupBy("col_name").agg(
          first(col("dcv")).as("dc"),
          interp(0.25).as("p25v"), interp(0.5).as("medianv"), interp(0.75).as("p75v"))
          .select(col("col_name"), expr(
            """stack(4,
              |'distinct_count', dc,
              |'p25', p25v,
              |'median', medianv,
              |'p75', p75v) as (metric, value)""".stripMargin))
        momentsLong.unionByName(orderStats.select("col_name", "metric", "value"))
      }

    val grid = cols.flatMap(c => numericMetrics.map(m => (c, m)))
      .toDF("col_name", "metric")
    grid.join(longResult, Seq("col_name", "metric"), "left")
      // all-null/empty columns drop out of the melted relation entirely;
      // their distinct count is 0 (matching COUNT(DISTINCT ...) = 0), the
      // order stats stay NULL
      .withColumn("value", when(col("metric") === "distinct_count",
        coalesce(col("value"), lit(0.0))).otherwise(col("value")))
      .orderBy("col_name", "metric")
  }

  /** Approx-profile FIDELITY report — the sketch tier (HLL distincts,
    * approx percentiles) graded IN-PLAN against the exact order
    * statistics it approximates, which is what makes the approx profile
    * driver-checkable (q43): `value` carries the EXACT statistic for
    * every grid row (oracle-computable by construction), and
    * `within_bound` carries the sketch check on the 4 sketch metrics
    * (NULL on moment rows — those are the same aggregate in both modes):
    *
    *  - distinct_count: |HLL − exact| ≤ 3·rsd·exact + 5, the 3σ band of
    *    `approx_count_distinct` at `cfg.approxRsd` plus a small-column
    *    absolute slack; deterministic per dataset (Spark's HLL hashing
    *    is deterministic).
    *  - p25/median/p75: the approx value must land inside the exact
    *    ±0.01-QUANTILE value window [pick(p−.01, floor),
    *    pick(p+.01, ceil)]. `percentile_approx` carries a DETERMINISTIC
    *    n/accuracy rank guarantee (n/2500 = 0.0004 at the default), so
    *    the 0.01 window is 25× its contract: a green flag is certain,
    *    while a sketch regression far past contract goes red.
    *
    * Cost: the exact profile's two scans plus the one-scan sketch pass —
    * a VALIDATION query by design; the production approx tier remains
    * [[numericProfile]](exact = false), one scan, no exact pass.
    */
  def approxFidelityProfile(df0: DataFrame,
      cfg: ProfileConfig = ProfileConfig(exact = false)): DataFrame = {
    val df = graft.util.Parallelism.ensure(df0)
    val spark = df.sparkSession
    import spark.implicits._
    val cols = numericColumns(df)
    require(cols.nonEmpty, "no numeric columns to profile")
    val momentsLong = momentsLongOf(df, cols, cfg)
      .withColumn("within_bound", lit(null).cast("boolean"))
    // two independent melt subtrees (sketch agg + exact census), same
    // trade as numericProfile's exact mode: re-scanning beats caching
    // the full-width melt
    val approx = melt(df, cols).groupBy("col_name").agg(
      percentile_approx(col("value"), array(lit(0.25), lit(0.5), lit(0.75)),
        lit(cfg.approxPercentileAccuracy)).as("apcts"),
      approx_count_distinct(col("value"), cfg.approxRsd)
        .cast(DoubleType).as("adc"))
    val qw = 0.01
    val ex = census(melt(df, cols)).groupBy("col_name").agg(
      first(col("dcv")).as("dc"),
      interp(0.25).as("p25v"), interp(0.5).as("medianv"),
      interp(0.75).as("p75v"),
      pick(0.25 - qw, floor).as("lo25"), pick(0.25 + qw, ceil).as("hi25"),
      pick(0.50 - qw, floor).as("lo50"), pick(0.50 + qw, ceil).as("hi50"),
      pick(0.75 - qw, floor).as("lo75"), pick(0.75 + qw, ceil).as("hi75"))
    val sketchRows = ex.join(approx, Seq("col_name"), "left")
      .withColumn("wb_dc", abs(col("adc") - col("dc")) <=
        lit(3.0 * cfg.approxRsd) * col("dc") + lit(5.0))
      .withColumn("wb_p25",
        col("apcts")(0) >= col("lo25") && col("apcts")(0) <= col("hi25"))
      .withColumn("wb_p50",
        col("apcts")(1) >= col("lo50") && col("apcts")(1) <= col("hi50"))
      .withColumn("wb_p75",
        col("apcts")(2) >= col("lo75") && col("apcts")(2) <= col("hi75"))
      .select(col("col_name"), expr(
        """stack(4,
          |'distinct_count', dc, wb_dc,
          |'p25', p25v, wb_p25,
          |'median', medianv, wb_p50,
          |'p75', p75v, wb_p75) as (metric, value, within_bound)"""
          .stripMargin))
    val longResult = momentsLong
      .select("col_name", "metric", "value", "within_bound")
      .unionByName(sketchRows
        .select("col_name", "metric", "value", "within_bound"))
    val grid = cols.flatMap(c => numericMetrics.map(m => (c, m)))
      .toDF("col_name", "metric")
    val sketchMetrics = Seq("distinct_count", "p25", "median", "p75")
    grid.join(longResult, Seq("col_name", "metric"), "left")
      .withColumn("value", when(col("metric") === "distinct_count",
        coalesce(col("value"), lit(0.0))).otherwise(col("value")))
      // an all-null column drops out of both sides: trivially within
      .withColumn("within_bound",
        when(col("metric").isin(sketchMetrics: _*),
          coalesce(col("within_bound"), lit(true))))
      .orderBy("col_name", "metric")
  }

  /** Long-format (col_name, metric, value) moments for `cols`: one wide
    * codegen HashAggregate per `statColumnsPerJob` batch, melted via stack.
    */
  private def momentsLongOf(df: DataFrame, cols: Seq[String],
      cfg: ProfileConfig): DataFrame =
    cols.grouped(cfg.statColumnsPerJob).toSeq.map { batch =>
      val exprs = batch.flatMap(c => momentExprs(cleaned(df, c).cast(DoubleType), c))
      val wide = df.agg(exprs.head, exprs.tail: _*)
      val stackArgs = batch.flatMap { c =>
        momentMetrics.map(m => s"'$c', '$m', `${c}__$m`")
      }.mkString(", ")
      val n = batch.length * momentMetrics.length
      wide.select(expr(s"stack($n, $stackArgs) as (col_name, metric, value)"))
    }.reduce(_ unionByName _)

  /** Moments-only profile: the [[momentMetrics]] half of the grid in ONE
    * codegen scan, skipping the order-statistics/sketch pass entirely.
    * These values are identical in exact and approx modes (same moments
    * aggregate), so this is both the cheap profiling tier and the
    * oracle-verifiable half of the approx profile (q43a).
    */
  def numericMoments(df0: DataFrame, cfg: ProfileConfig = ProfileConfig()): DataFrame = {
    val df = graft.util.Parallelism.ensure(df0)
    val spark = df.sparkSession
    import spark.implicits._
    val cols = numericColumns(df)
    require(cols.nonEmpty, "no numeric columns to profile")
    val grid = cols.flatMap(c => momentMetrics.map(m => (c, m)))
      .toDF("col_name", "metric")
    grid.join(momentsLongOf(df, cols, cfg), Seq("col_name", "metric"), "left")
      .orderBy("col_name", "metric")
  }

  /** What the table monitor reports of one table: the NULL-or-NaN count of
    * every column, in column order, and the non-NULL [[monitorMetrics]] of
    * every numeric column as (column, metric, value), sorted by column and
    * metric.
    */
  final case class MonitorProfile(nullCounts: Seq[(String, Long)],
      stats: Seq[(String, String, Double)])

  /** The statistics the table monitor reports per numeric column. */
  val monitorMetrics: Seq[String] = Seq("max", "mean", "median", "min", "stddev")

  /** The table monitor's profile in two aggregate queries:
    *
    *  - ONE wide aggregate (per `statColumnsPerJob` columns) holds every
    *    column's null count, as [[nullCounts]] computes it, next to the
    *    [[momentExprs]] of every numeric column. It reads the scan as it
    *    is, without [[graft.util.Parallelism.ensure]]: its partial phase
    *    is a codegen'd sum in the scan stage, cheaper than the round-robin
    *    shuffle of every column that ensure would add as one more job;
    *  - the median comes from the melted [[census]] alone (approx mode:
    *    [[numericProfile]]'s `percentile_approx` sketch), with no metric
    *    grid join and no sort.
    *
    * Its values are those of [[nullCounts]] over `df0` and of
    * [[numericProfile]] over `df0.sample(false, sampleFraction, 42)` (all of
    * `df0` at 1.0). Below 1.0 the null counts still cover the whole table,
    * and the moments see the sampled rows through a `rand(42) <
    * sampleFraction` flag set on the scan's own partitions: `df.sample`
    * draws from the same generator with the same per-partition seed, once
    * per row, so the flag keeps exactly the rows the sample keeps.
    */
  def monitorProfile(df0: DataFrame, sampleFraction: Double = 1.0,
      cfg: ProfileConfig = ProfileConfig()): MonitorProfile = {
    val sampled = sampleFraction < 1.0
    val seed = 42L
    val flag = "__graft_in_sample"
    val df = if (sampled) df0.withColumn(flag, rand(seed) < sampleFraction) else df0
    val fields = df0.schema.fields.toSeq
    val perBatch = fields.grouped(cfg.statColumnsPerJob).toSeq.map { batch =>
      val numeric = batch.filter(isNumeric).map(_.name)
      val moments = numeric.flatMap { c =>
        val v = cleaned(df, c).cast(DoubleType)
        momentExprs(if (sampled) when(col(flag), v) else v, c)
      }
      val exprs = batch.map(nullCountExpr) ++ moments
      val r = df.agg(exprs.head, exprs.tail: _*).collect().head
      val nulls = batch.indices.map(i =>
        batch(i).name -> (if (r.isNullAt(i)) 0L else r.getLong(i)))
      val stats = for {
        (c, j) <- numeric.zipWithIndex
        (m, k) <- momentMetrics.zipWithIndex
        i = batch.size + j * momentMetrics.size + k
        if monitorMetrics.contains(m) && !r.isNullAt(i)
      } yield (c, m, r.getDouble(i))
      (nulls, stats)
    }
    val numeric = numericColumns(df0)
    val medians = if (numeric.isEmpty) Nil else {
      val melted = melt(graft.util.Parallelism.ensure(
        if (sampled) df0.sample(withReplacement = false, sampleFraction, seed) else df0),
        numeric)
      val median =
        if (cfg.exact) census(melted).groupBy("col_name").agg(interp(0.5))
        else melted.groupBy("col_name").agg(round(percentile_approx(col("value"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(cfg.approxPercentileAccuracy))(1), 4))
      median.collect().toSeq.collect {
        case r if !r.isNullAt(1) => (r.getString(0), "median", r.getDouble(1))
      }
    }
    MonitorProfile(perBatch.flatMap(_._1),
      (perBatch.flatMap(_._2) ++ medians).sortBy(s => (s._1, s._2)))
  }

  /** Per-column null counts over ALL columns in one pass (SURVEY A6).
    * Returns a single wide row `null_<col>` per column.
    */
  def nullCounts(df0: DataFrame): DataFrame = {
    val df = graft.util.Parallelism.ensure(df0)
    val exprs = df.schema.fields.toSeq.map(f => nullCountExpr(f).as(s"null_${f.name}"))
    df.agg(exprs.head, exprs.tail: _*)
  }

  /** NULL-or-NaN count of one column (NULL over an empty input). */
  private def nullCountExpr(f: StructField): Column = {
    val isMissing = f.dataType match {
      case DoubleType | FloatType => col(f.name).isNull || isnan(col(f.name))
      case _ => col(f.name).isNull
    }
    sum(when(isMissing, 1L).otherwise(0L))
  }

  /** Duplicate-record count (SURVEY A5):
    * `shape[0] - drop_duplicates().shape[0]`
    * (`/root/reference/AWS_Redshift/redshift_table_monitor.py:62`).
    * One job: groupBy all key columns (map-side partial agg), then count
    * rows minus groups — no driver-side second scan, no global distinct
    * shuffle of raw rows beyond the keyed aggregate.
    */
  def duplicateStats(df0: DataFrame, keyCols: Seq[String]): DataFrame = {
    val df = graft.util.Parallelism.ensure(df0)
    df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("cnt"))
      .agg(
        sum("cnt").cast(LongType).as("row_count"),
        count(lit(1)).cast(LongType).as("distinct_count"),
        (sum("cnt") - count(lit(1))).cast(LongType).as("duplicate_count"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).cast(LongType).as("duplicate_groups"))
  }

  /** Equi-width numeric histogram (SURVEY A14): two jobs — (min,max), then
    * bucket counts. The bounds row is broadcast, so the second job is a
    * shuffle-free map + tiny aggregation; at 100 TB this is two sequential
    * scans and no wide shuffle.
    */
  def numericHistogram(df: DataFrame, c: String, bins: Int = 10): DataFrame = {
    val v = cleaned(df, c).cast(DoubleType)
    val bounds = df.agg(min(v).as("lo"), max(v).as("hi"))
    df.select(v.as("v")).where(col("v").isNotNull)
      .crossJoin(broadcast(bounds))
      .select(
        // constant column (hi == lo) → everything in bucket 0; the width
        // divide would otherwise yield 0/0 = NaN buckets (numericHistograms
        // has the same guard on its collected bounds)
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(floor((col("v") - col("lo")) / ((col("hi") - col("lo")) / bins)),
            lit(bins - 1)).cast(LongType)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
      .orderBy("bucket")
  }

  /** Equi-width histograms for ALL numeric columns in exactly two jobs
    * (SURVEY A14 at `with_histograms=True` scope — the reference computes
    * histograms per dataframe, not per column): job 1 collects every
    * column's (min, max) in one wide agg (a stat row — driver-safe at any
    * scale); job 2 melts to (col_name, value), buckets against the
    * collected bounds as literals (codegen, no join), and counts per
    * (col_name, bucket). Output: (col_name, bucket, cnt).
    */
  def numericHistograms(df0: DataFrame, bins: Int = 10,
      tablePath: Option[String] = None): DataFrame = {
    val df = graft.util.Parallelism.ensure(df0)
    val cols = numericColumns(df)
    require(cols.nonEmpty, "no numeric columns")
    // FOOTER BOUNDS fast path (round-14): when the caller names the
    // parquet location whose rows ARE df0's rows (no filter between),
    // the (min, max) stat row can come from the file footers — the
    // bounds job (a full scan of every profiled column) disappears and
    // the histogram is ONE job at any scale. footerNumericBounds
    // returns None unless every column's bounds are provably exact
    // (type/annotation/NaN/all-null rules in its scaladoc), so this is
    // never a silent approximation; `tablePath = None` takes the agg job
    // (e.g. for legacy-written FP parquet whose NaN handling predates
    // exact statistics).
    val footer = tablePath.flatMap { p =>
      graft.catalog.CatalogMonitor.footerNumericBounds(
        df.sparkSession, p, cols.map(c => c -> df.schema(c).dataType))
    }
    val bounds = footer.getOrElse {
      val boundExprs = cols.flatMap { c =>
        val v = cleaned(df, c).cast(DoubleType)
        Seq(min(v).as(s"${c}__lo"), max(v).as(s"${c}__hi"))
      }
      val b = df.agg(boundExprs.head, boundExprs.tail: _*).collect().head
      cols.map { c =>
        c -> (Option(b.getAs[java.lang.Double](s"${c}__lo")).map(_.toDouble),
          Option(b.getAs[java.lang.Double](s"${c}__hi")).map(_.toDouble))
      }.toMap
    }
    val melted = melt(df, cols)
    val bucket = cols.foldLeft(lit(-1L)) { (acc, c) =>
      bounds(c) match {
        case (Some(lo), Some(hi)) =>
          val bk = if (hi == lo) lit(0L)
            else least(floor((col("value") - lit(lo)) / lit((hi - lo) / bins)),
              lit(bins - 1)).cast(LongType)
          when(col("col_name") === c, bk).otherwise(acc)
        case _ => acc // all-null column: no melted rows anyway
      }
    }
    melted.select(col("col_name"), bucket.as("bucket"))
      .groupBy("col_name", "bucket").agg(count(lit(1)).as("cnt"))
      .orderBy("col_name", "bucket")
  }

  /** Top-k categorical histogram (SURVEY A14, categorical arm). */
  def categoricalHistogram(df: DataFrame, c: String, k: Int = 50): DataFrame =
    df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col(c).asc)
      .limit(k)

  /** Schema report (SURVEY S16 `with_schema=True`): one row per column. */
  def schemaReport(df: DataFrame): Seq[(String, String, Boolean)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType.simpleString, f.nullable))

  /** Full profile emitted to a MetricSink: shape, schema, numeric stats,
    * null counts, preview — the `log_dataframe(...)` equivalent
    * (`/root/reference/DataFrames/databand_tracking_template.py:21-29`).
    */
  def profileTo(sink: MetricSink, name: String, df: DataFrame,
      cfg: ProfileConfig = ProfileConfig()): Unit = {
    val rowCount = df.count()
    sink.log(s"$name.rows", rowCount.toDouble)
    sink.log(s"$name.columns", df.columns.length.toDouble)
    schemaReport(df).foreach { case (c, t, _) => sink.logString(s"$name.schema.$c", t) }
    val numeric = numericColumns(df)
    if (numeric.nonEmpty)
      numericProfile(df, cfg).collect().foreach { r =>
        val v = r.get(2)
        if (v != null) sink.log(s"$name.${r.getString(0)}.${r.getString(1)}",
          v.asInstanceOf[Double])
      }
    nullCounts(df).collect().headOption.foreach { r =>
      df.columns.zipWithIndex.foreach { case (c, i) =>
        sink.log(s"$name.$c.nulls", r.getLong(i).toDouble)
      }
    }
    df.limit(cfg.previewRows).collect() // preview (S16 with_preview)
  }
}

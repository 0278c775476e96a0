package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable moment profiles — the exact-statistics counterpart of
  * [[graft.operators.SketchRollup]]'s HLL story: a persisted per-slice
  * STATE relation whose algebra is closed under union, so daily
  * profiles roll up to weekly/monthly/ad-hoc windows without ever
  * rescanning raw data. Distinct counts need sketches to merge;
  * moments (n, nulls, min, max, Σx, Σx²) merge EXACTLY — the reason a
  * profile store should persist sufficient statistics, not finished
  * means and stddevs (a rounded mean cannot be combined; Σx can).
  *
  * Integer discipline: values quantize to micro on ingest; Σx and Σx²
  * accumulate in DECIMAL(38,0) (≡ HUGEINT; x² in micro² needs the
  * headroom), so merge is bit-exact in any order and the derived
  * report is reproducible verbatim in SQL — q212 pins
  * report(merge(pre, post)) ≡ the direct whole-table report by hash.
  */
object MomentState {

  private val dec = "decimal(38,0)"

  /** Per-numeric-column sufficient statistics of a slice: (col_name,
    * n, n_null, min_micro, max_micro, sum_micro, sum_sq) — ONE wide
    * codegen aggregate, melted to column grain post-agg. NaN counts as
    * null (the Profiler convention).
    */
  def state(df0: DataFrame): DataFrame = {
    val df = graft.util.Parallelism.ensure(df0)
    val cols = Profiler.numericColumns(df)
    require(cols.nonEmpty, "no numeric columns to profile")
    val a = aggs(cols)
    df.agg(a.head, a.tail: _*).select(melt(cols)).select("r.*")
  }

  /** The six sufficient-statistic aggregates of each of `cols`, as
    * `<c>__n`, `<c>__nn`, `<c>__mn`, `<c>__mx`, `<c>__s`, `<c>__ss`
    * (shared with [[graft.streaming.StreamingOps.momentStateStream]]).
    */
  private[graft] def aggs(cols: Seq[String]): Seq[Column] = {
    def v(c: String) = {
      val d = col(c).cast("double")
      when(isnan(d), lit(null)).otherwise(d)
    }
    def vm(c: String) = round(v(c) * 1e6).cast("long")
    cols.flatMap { c =>
      Seq(count(v(c)).as(s"${c}__n"),
        sum(when(v(c).isNull, 1L).otherwise(0L)).as(s"${c}__nn"),
        min(vm(c)).as(s"${c}__mn"), max(vm(c)).as(s"${c}__mx"),
        sum(vm(c).cast(dec)).as(s"${c}__s"),
        sum((vm(c).cast(dec) * vm(c).cast(dec))).as(s"${c}__ss"))
    }
  }

  /** [[aggs]]' wide row melted to one `r` struct per column: (col_name,
    * n, n_null, min_micro, max_micro, sum_micro, sum_sq).
    */
  private[graft] def melt(cols: Seq[String]): Column =
    explode(array(cols.map(c => struct(
      lit(c).as("col_name"), col(s"${c}__n").as("n"),
      col(s"${c}__nn").as("n_null"), col(s"${c}__mn").as("min_micro"),
      col(s"${c}__mx").as("max_micro"), col(s"${c}__s").as("sum_micro"),
      col(s"${c}__ss").as("sum_sq"))): _*)).as("r")

  /** Union-merge of state relations — exact, order-independent,
    * stat-grain (one row per column per input).
    */
  def merge(states: Seq[DataFrame]): DataFrame = {
    require(states.nonEmpty, "nothing to merge")
    states.reduce(_ unionByName _)
      .groupBy("col_name")
      .agg(sum("n").as("n"), sum("n_null").as("n_null"),
        min("min_micro").as("min_micro"), max("max_micro").as("max_micro"),
        sum("sum_micro").cast(dec).as("sum_micro"),
        sum("sum_sq").cast(dec).as("sum_sq"))
  }

  /** Human-facing report off a state relation: mean and sample stddev
    * (ddof = 1) derived from the exact integer cores by one closed-form
    * double each — (col_name, n, n_null, min_micro, max_micro, mean,
    * stddev), column-ordered; stddev NULL for n < 2.
    */
  def report(state: DataFrame): DataFrame = {
    val n = col("n").cast("double")
    val mean = col("sum_micro").cast("double") / n / 1e6
    val varN = (col("sum_sq").cast("double") -
      col("sum_micro").cast("double") * col("sum_micro").cast("double") / n) /
      (n - 1.0)
    state.select(col("col_name"), col("n"), col("n_null"),
        col("min_micro"), col("max_micro"),
        when(col("n") > 0, round(mean, 6)).as("mean"),
        when(col("n") > 1, round(sqrt(greatest(varN, lit(0.0))) / 1e6, 6))
          .as("stddev"))
      .orderBy("col_name")
  }
}

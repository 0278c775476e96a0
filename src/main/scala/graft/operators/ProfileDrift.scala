package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Population Stability Index (PSI) between two snapshots of a numeric
  * column — the standard "did this feature's distribution move?" monitor
  * a model-serving or corpus-refresh pipeline runs per release.
  *
  * Extends the reference's per-run histogram/stats tracking
  * (`/root/reference/DataFrames/databand_tracking_template.py:20-28`,
  * `with_histograms=True`/`with_stats=True` logged per run for
  * cross-run comparison) to the full-distribution comparison:
  * equal-width bins are frozen from the REFERENCE snapshot's extent,
  * both snapshots are histogrammed against those shared bins, and
  * PSI = Σ_bins (p_i − q_i)·ln(p_i / q_i). The conventional read:
  * < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted.
  *
  * Determinism / oracle-exactness:
  *  - Bin bounds come from an exact min/max aggregate over the reference
  *    snapshot; the bucket index is `least(B−1, floor((v−lo)/width))` —
  *    pure double arithmetic mirrored term-for-term in SQL.
  *  - Empty-bin smoothing is Laplace add-half: p_i = (c_i + 0.5)/(n + B/2),
  *    so ln never sees zero and the formula stays engine-portable. A
  *    bucket empty in BOTH snapshots has p = q, contributing exactly 0 —
  *    so skipping never-seen buckets (as the full-outer join does) is
  *    exact, not an approximation.
  *  - Each bin's contribution is rounded to integer NANO-nats before the
  *    per-group sum (the q87 convention) — an integer Σ over ≤ B terms is
  *    order-independent, so the report hashes identically cross-engine.
  *
  * Scale shape: one stat aggregate over the reference for bounds
  * (broadcast back), then ONE histogram aggregate per snapshot keyed by
  * (group, bucket) — map-side partial aggregation collapses each scan
  * partition to ≤ G·B rows, so the shuffle carries stat rows, not data.
  * The PSI join and Σ run over G·B-row relations. No window anywhere.
  *
  * The streaming twin ([[graft.streaming.StreamingOps.valueHistStream]] +
  * [[graft.streaming.StreamingOps.psiFromCounts]]) reuses
  * [[referenceBounds]]/[[bucketOf]] verbatim, so batch and stream
  * classify identically.
  */
object ProfileDrift {

  /** Per-group bin scaffold frozen from the reference snapshot:
    * `(g, lo, width)` with width = (max − min)/nBins.
    */
  def referenceBounds(ref: DataFrame, groupCol: String, valCol: String,
      nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val v = col(valCol).cast("double")
    ref.filter(v.isNotNull)
      .groupBy(col(groupCol).as("g"))
      .agg(min(v).as("lo"),
        ((max(v) - min(v)) / lit(nBins)).as("width"))
  }

  /** Shared-bin bucket index of value column `v` against joined
    * `lo`/`width` columns. A degenerate reference (width = 0: constant
    * column) puts every value in bucket 0 — PSI then measures only mass
    * that escaped the constant, which is the intended signal.
    * Out-of-range values clamp into the edge bins.
    */
  def bucketOf(v: Column, nBins: Int): Column =
    when(col("width") > 0.0,
      least(lit(nBins - 1),
        greatest(lit(0), floor((v - col("lo")) / col("width")).cast("int"))))
      .otherwise(lit(0))

  /** Histogram of one snapshot against broadcast reference bounds:
    * `(g, bucket, cntCol)`. Groups absent from the bounds drop (inner
    * join) — PSI against an unseen group is undefined by construction.
    */
  def histogram(df: DataFrame, bounds: DataFrame, groupCol: String,
      valCol: String, nBins: Int, cntCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    df.filter(v.isNotNull)
      .select(col(groupCol).as("g"), v.as("__v"))
      .join(broadcast(bounds), Seq("g"))
      .withColumn("bucket", bucketOf(col("__v"), nBins))
      .groupBy("g", "bucket").agg(count(lit(1)).as(cntCol))
  }

  /** PSI report per group: `(g, n_ref, n_cur, psi)`.
    *
    * Groups present in only one snapshot are skipped (PSI against an
    * empty side is ±∞ by construction and reads as noise; the
    * added/removed-group signal belongs to [[Diff]]-style census ops).
    */
  def psiReport(ref: DataFrame, cur: DataFrame, groupCol: String,
      valCol: String, nBins: Int = 10): DataFrame = {
    val bounds = referenceBounds(ref, groupCol, valCol, nBins)
    val h = histogram(ref, bounds, groupCol, valCol, nBins, "c_ref")
      .join(histogram(cur, bounds, groupCol, valCol, nBins, "c_cur"),
        Seq("g", "bucket"), "full_outer")
      .na.fill(0L, Seq("c_ref", "c_cur"))
    val totals = h.groupBy("g")
      .agg(sum("c_ref").as("n_ref"), sum("c_cur").as("n_cur"))
      .filter(col("n_ref") > 0 && col("n_cur") > 0)

    h.join(broadcast(totals), Seq("g"))
      .select(col("g"), col("n_ref"), col("n_cur"),
        psiNano(col("c_ref"), col("n_ref"), col("c_cur"), col("n_cur"),
          nBins).as("nano"))
      // n_ref/n_cur are functionally dependent on g — free in the key
      .groupBy("g", "n_ref", "n_cur")
      .agg(round(sum("nano") / lit(1000000000.0), 6).as("psi"))
      .select(col("g").as(groupCol), col("n_ref"), col("n_cur"), col("psi"))
      .orderBy(groupCol)
  }

  /** One bin's PSI contribution in integer nano-nats (the smoothing and
    * quantization shared by the batch report and the streaming twin).
    */
  def psiNano(cRef: Column, nRef: Column, cCur: Column, nCur: Column,
      nBins: Int): Column = {
    val p = (cRef + 0.5) / (nRef + lit(nBins / 2.0))
    val q = (cCur + 0.5) / (nCur + lit(nBins / 2.0))
    round(((p - q) * log(p / q)) * lit(1000000000.0)).cast("long")
  }

  /** Two-sample Kolmogorov–Smirnov distance per group — [[psiReport]]'s
    * bin-free sibling: D = max over the merged VALUE domain of
    * |F_ref(v) − F_cur(v)|, sensitive to any distributional shift
    * (location, scale, shape) with no binning decision to defend.
    *
    * Exact integer core: D's numerator cross-multiplies the CDFs —
    * `d_num = max |cum_ref·n_cur − cum_cur·n_ref|` over distinct values
    * (inside Long through ~3·10⁹ rows per side), so the report carries
    * no rounded intermediate; D = d_num/(n_ref·n_cur) at 6 dp is the
    * only double. ONE scan per side into the merged (group, value)
    * census (full-outer at the value grain), cumulative windows over
    * DISTINCT values only.
    *
    * Output: (group, n_ref, n_cur, d_num, ks) — plus the value at which
    * the max is FIRST attained (`argmax_micro`), the natural "where did
    * the distributions split" diagnostic.
    */
  def ksReport(ref: DataFrame, cur: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE merged census, not census(ref) FULL OUTER JOIN census(cur)
    // (round-15): a 0/1 side flag rides each value row and the (g, vm)
    // aggregate recovers both counts as exact integer sums — one
    // exchange instead of two plus the join's sorts. For non-null keys
    // the counts equal the old join's: a (g, vm) present on only one
    // side lands with the other side's count 0, as its na.fill did.
    // Null keys differ: the group-by merges a null g or null vm from
    // both sides into ONE row, where the join (null never equals null)
    // kept one row per side. A null value is thus one tied smallest
    // value in the CDF, so D no longer depends on how two tied null
    // rows happened to order. Round6jSpec pins these semantics.
    def flagged(df: DataFrame, isRef: Int) = df
      .select(col(groupCol).as("g"),
        round(col(valCol).cast("double") * 1e6).cast("long").as("vm"),
        lit(isRef.toLong).as("__isref"))
    val h = flagged(ref, 1).unionByName(flagged(cur, 0))
      .groupBy("g", "vm")
      .agg(sum("__isref").as("c_ref"),
        (count(lit(1)) - sum("__isref")).as("c_cur"))
    val wg = Window.partitionBy("g")
    val wCum = wg.orderBy("vm").rowsBetween(Window.unboundedPreceding, 0)
    val diff = abs(
      col("cum_ref") * col("n_cur") - col("cum_cur") * col("n_ref"))
    h
      .withColumn("cum_ref", sum("c_ref").over(wCum))
      .withColumn("cum_cur", sum("c_cur").over(wCum))
      .withColumn("n_ref", sum("c_ref").over(wg))
      .withColumn("n_cur", sum("c_cur").over(wg))
      .withColumn("d", diff)
      .withColumn("d_max", max("d").over(wg))
      .groupBy("g", "n_ref", "n_cur")
      .agg(max("d").as("d_num"),
        min(when(col("d") === col("d_max"), col("vm")))
          .as("argmax_micro"))
      .select(col("g").as(groupCol), col("n_ref"), col("n_cur"),
        col("d_num"), col("argmax_micro"),
        when(col("n_ref") > 0 && col("n_cur") > 0, round(
          col("d_num").cast("double") /
            (col("n_ref").cast("double") * col("n_cur")), 6)).as("ks"))
      .orderBy(groupCol)
  }

  /** KS distance per emitted WINDOW against a static reference census —
    * the stateless half of the streaming KS twin (the PSI
    * `psiFromCounts` pattern): `counts` is a drained/emitted windowed
    * value census (window_start, window_end, vm, c_cur); `reference` a
    * static (vm, c_ref) census, replicated per window so never-seen
    * values on either side enter the merged domain with count 0. Same
    * exact cross-multiplied integer numerator as [[ksReport]].
    */
  def ksFromCounts(counts: DataFrame, reference: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // re-aliased projection: the window list derives from `counts`
    // itself, so fresh attribute ids keep the self-join resolvable
    val wins = counts
      .select(col("window_start").as("__ws"), col("window_end").as("__we"))
      .distinct()
    val refRep = wins.crossJoin(broadcast(
      reference.select(col("vm").as("__vm"), col("c_ref"))))
    val h = refRep.join(counts,
        col("__ws") === col("window_start") &&
          col("__we") === col("window_end") && col("__vm") === col("vm"),
        "full_outer")
      .select(
        coalesce(col("__ws"), col("window_start")).as("window_start"),
        coalesce(col("__we"), col("window_end")).as("window_end"),
        coalesce(col("__vm"), col("vm")).as("vm"),
        coalesce(col("c_ref"), lit(0L)).as("c_ref"),
        coalesce(col("c_cur"), lit(0L)).as("c_cur"))
    val wg = Window.partitionBy("window_start", "window_end")
    val wCum = wg.orderBy("vm").rowsBetween(Window.unboundedPreceding, 0)
    h
      .withColumn("cum_ref", sum("c_ref").over(wCum))
      .withColumn("cum_cur", sum("c_cur").over(wCum))
      .withColumn("n_ref", sum("c_ref").over(wg))
      .withColumn("n_cur", sum("c_cur").over(wg))
      .withColumn("d", abs(
        col("cum_ref") * col("n_cur") - col("cum_cur") * col("n_ref")))
      .groupBy("window_start", "window_end", "n_ref", "n_cur")
      .agg(max("d").as("d_num"))
      .select(col("window_start"), col("window_end"), col("n_ref"),
        col("n_cur"), col("d_num"),
        when(col("n_ref") > 0 && col("n_cur") > 0, round(
          col("d_num").cast("double") /
            (col("n_ref").cast("double") * col("n_cur")), 6)).as("ks"))
      .orderBy("window_start")
  }

  /** Static-side (vm, c_ref) census for [[ksFromCounts]]. */
  def referenceCensus(ref: DataFrame, valCol: String): DataFrame =
    ref.select(round(col(valCol).cast("double") * 1e6).cast("long")
        .as("vm"))
      .groupBy("vm").agg(count(lit(1)).as("c_ref"))

  /** Multi-column KS drift suite: [[ksReport]] over MANY numeric
    * columns in ONE scan per side — the "monitor every column of the
    * release" form a production drift job actually runs. Columns melt
    * to (feature, value) rows at scan stage (the informationGain
    * move: the F× row fan collapses to the census in the map-side
    * partial aggregate before any exchange), and the per-feature KS
    * machinery IS ksReport with the feature name as the group key —
    * identical integer cores, identical oracle mirror.
    *
    * Output: (feature, n_ref, n_cur, d_num, argmax_micro, ks),
    * feature-ordered.
    */
  def ksSuite(ref: DataFrame, cur: DataFrame,
      featureCols: Seq[String]): DataFrame = {
    require(featureCols.nonEmpty, "featureCols must be non-empty")
    def melt(df: DataFrame) = df.select(explode(array(
        featureCols.map(c => struct(lit(c).as("feature"),
          col(c).cast("double").as("value"))): _*)).as("m"))
      .select(col("m.feature").as("feature"), col("m.value").as("value"))
    ksReport(melt(ref), melt(cur), "feature", "value")
  }

  /** Q–Q decile table per emitted WINDOW against a static reference
    * census — the stateless half of the streaming Q–Q twin, completing
    * the drift-twin family (KS, PSI and rank-sum twins exist): same
    * merge as [[ksFromCounts]], same conditional-min decile picks as
    * [[qqReport]], so stream ≡ batch value for value.
    */
  def qqFromCounts(counts: DataFrame, reference: DataFrame,
      nQ: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nQ >= 2, s"nQ must be >= 2, got $nQ")
    val wins = counts
      .select(col("window_start").as("__ws"), col("window_end").as("__we"))
      .distinct()
    val refRep = wins.crossJoin(broadcast(
      reference.select(col("vm").as("__vm"), col("c_ref"))))
    val h = refRep.join(counts,
        col("__ws") === col("window_start") &&
          col("__we") === col("window_end") && col("__vm") === col("vm"),
        "full_outer")
      .select(
        coalesce(col("__ws"), col("window_start")).as("window_start"),
        coalesce(col("__we"), col("window_end")).as("window_end"),
        coalesce(col("__vm"), col("vm")).as("vm"),
        coalesce(col("c_ref"), lit(0L)).as("c_ref"),
        coalesce(col("c_cur"), lit(0L)).as("c_cur"))
    val wg = Window.partitionBy("window_start", "window_end")
    val wCum = wg.orderBy("vm").rowsBetween(Window.unboundedPreceding, 0)
    val qs = broadcast(counts.sparkSession.range(1, nQ)
      .select(col("id").cast("int").as("q")))
    h
      .withColumn("cum_ref", sum("c_ref").over(wCum))
      .withColumn("cum_cur", sum("c_cur").over(wCum))
      .withColumn("n_ref", sum("c_ref").over(wg))
      .withColumn("n_cur", sum("c_cur").over(wg))
      .crossJoin(qs)
      .groupBy("window_start", "window_end", "q", "n_ref", "n_cur")
      .agg(
        min(when(col("cum_ref") >=
          expr(s"(q * n_ref + ${nQ - 1}) div $nQ"), col("vm")))
          .as("ref_micro"),
        min(when(col("cum_cur") >=
          expr(s"(q * n_cur + ${nQ - 1}) div $nQ"), col("vm")))
          .as("cur_micro"))
      .select(col("window_start"), col("window_end"),
        col("q").as("q_decile"), col("n_ref"), col("n_cur"),
        col("ref_micro"), col("cur_micro"),
        (col("cur_micro") - col("ref_micro")).as("shift_micro"))
      .orderBy("window_start", "q_decile")
  }

  /** Robust (trimmed-mean) location shift per group — the
    * outlier-immune companion of [[welchTReport]]: each side's mean is
    * computed after dropping the lowest and highest `trimPct`% of
    * observations, so one fat-fingered value can't fake (or mask) a
    * release-over-release move.
    *
    * Entirely exact integers: with t = ⌊n·trimPct/100⌋ dropped per
    * tail, each census cell (vm, c) contributes
    * `vm · (min(cum, n−t) − max(cum−c, t))` clamped at 0 — the exact
    * overlap of the cell's rank interval with the kept window — so the
    * trimmed sum needs no per-row pass and no boundary special-casing.
    * The trimmed mean is the floor `sum div (n−2t)`; the shift is an
    * integer difference. One census per side, windows over distinct
    * values.
    *
    * Output: (group, n_ref, n_cur, trim_ref, trim_cur, mean_ref_micro,
    * mean_cur_micro, shift_micro); means NULL when trimming empties a
    * side.
    */
  def trimmedMeanShift(ref: DataFrame, cur: DataFrame, groupCol: String,
      valCol: String, trimPct: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(trimPct >= 0 && trimPct < 50, s"trimPct in [0, 50): $trimPct")
    def side(df: DataFrame, name: String) = df
      .select(lit(name).as("side"), col(groupCol).as("g"),
        round(col(valCol).cast("double") * 1e6).cast("long").as("vm"))
    val h = side(ref, "ref").unionByName(side(cur, "cur"))
      .groupBy("side", "g", "vm").agg(count(lit(1)).as("c"))
    val wsg = Window.partitionBy("side", "g")
    val wCum = wsg.orderBy("vm").rowsBetween(Window.unboundedPreceding, 0)
    val stats = h
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(wsg))
      .withColumn("t", expr(s"(n * $trimPct) div 100"))
      .withColumn("keep", greatest(lit(0L),
        least(col("cum"), col("n") - col("t")) -
          greatest(col("cum") - col("c"), col("t"))))
      .groupBy("side", "g", "n", "t")
      .agg(sum(col("vm") * col("keep")).as("ts"))
      .withColumn("mean_micro",
        when(col("n") - lit(2) * col("t") > 0,
          expr("ts div (n - 2 * t)")))
    def pick(s: String, c: String, as: String) =
      max(when(col("side") === s, col(c))).as(as)
    stats.groupBy("g")
      .agg(pick("ref", "n", "n_ref"), pick("cur", "n", "n_cur"),
        pick("ref", "t", "trim_ref"), pick("cur", "t", "trim_cur"),
        pick("ref", "mean_micro", "mean_ref_micro"),
        pick("cur", "mean_micro", "mean_cur_micro"))
      .select(col("g").as(groupCol), col("n_ref"), col("n_cur"),
        col("trim_ref"), col("trim_cur"),
        col("mean_ref_micro"), col("mean_cur_micro"),
        (col("mean_cur_micro") - col("mean_ref_micro")).as("shift_micro"))
      .orderBy(groupCol)
  }

  /** Multi-column PSI drift suite — [[ksSuite]]'s binned sibling: every
    * monitored column's [[psiReport]] off ONE melted scan per side.
    * Same melt, same per-feature machinery, same nano-nat integer
    * cells; the conventional 0.1/0.25 PSI bands then apply per column.
    */
  def psiSuite(ref: DataFrame, cur: DataFrame, featureCols: Seq[String],
      nBins: Int = 10): DataFrame = {
    require(featureCols.nonEmpty, "featureCols must be non-empty")
    def melt(df: DataFrame) = df.select(explode(array(
        featureCols.map(c => struct(lit(c).as("feature"),
          col(c).cast("double").as("value"))): _*)).as("m"))
      .select(col("m.feature").as("feature"), col("m.value").as("value"))
    psiReport(melt(ref), melt(cur), "feature", "value", nBins)
  }

  /** Quantile–quantile drift table per group — the "WHERE did the
    * distribution move" companion of [[ksReport]] (which says how much,
    * at one split point): for each interior decile, the reference and
    * current order statistics side by side with their shift. The table
    * a release review actually reads — "p90 latency moved +40 ms, the
    * median didn't".
    *
    * Exact: both sides share one merged-convention census (µ-quantized
    * values); each decile is the house conditional-min order-statistic
    * pick at rank ⌈q·n/10⌉, so every reported value is a real data
    * value and the shift is an exact integer difference. Windows run
    * per (side, group) over census STAT rows; the decile fan is a
    * 9-row broadcast.
    *
    * Output: (group, q_decile, n_ref, n_cur, ref_micro, cur_micro,
    * shift_micro), (group, decile)-ordered.
    */
  def qqReport(ref: DataFrame, cur: DataFrame, groupCol: String,
      valCol: String, nQ: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nQ >= 2, s"nQ must be >= 2, got $nQ")
    def side(df: DataFrame, name: String) = df
      .select(lit(name).as("side"), col(groupCol).as("g"),
        round(col(valCol).cast("double") * 1e6).cast("long").as("vm"))
    val h = side(ref, "ref").unionByName(side(cur, "cur"))
      .groupBy("side", "g", "vm").agg(count(lit(1)).as("c"))
    val wsg = Window.partitionBy("side", "g")
    val wCum = wsg.orderBy("vm").rowsBetween(Window.unboundedPreceding, 0)
    val qs = broadcast(
      ref.sparkSession.range(1, nQ).select(col("id").cast("int").as("q")))
    val picks = h
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(wsg))
      .crossJoin(qs)
      .groupBy("side", "g", "q", "n")
      .agg(min(when(col("cum") >=
        expr(s"(q * n + ${nQ - 1}) div $nQ"), col("vm"))).as("pick"))
    val refP = picks.filter(col("side") === "ref")
      .select(col("g"), col("q"), col("n").as("n_ref"),
        col("pick").as("ref_micro"))
    val curP = picks.filter(col("side") === "cur")
      .select(col("g"), col("q"), col("n").as("n_cur"),
        col("pick").as("cur_micro"))
    refP.join(curP, Seq("g", "q"), "full_outer")
      .select(col("g").as(groupCol), col("q").as("q_decile"),
        col("n_ref"), col("n_cur"), col("ref_micro"), col("cur_micro"),
        (col("cur_micro") - col("ref_micro")).as("shift_micro"))
      .orderBy(groupCol, "q_decile")
  }

  /** Rank-sum statistics per emitted WINDOW against a static reference
    * census — the stateless half of the streaming rank-sum twin (the
    * [[ksFromCounts]] pattern, same merge): per window the doubled-U
    * integer, tie term, rank-biserial effect size and tie-corrected z
    * of [[rankSumReport]], computed from the drained windowed value
    * census. Batch and stream classify identically because both derive
    * the doubles from the same integer cores.
    */
  def rankSumFromCounts(counts: DataFrame,
      reference: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = counts
      .select(col("window_start").as("__ws"), col("window_end").as("__we"))
      .distinct()
    val refRep = wins.crossJoin(broadcast(
      reference.select(col("vm").as("__vm"), col("c_ref"))))
    val h = refRep.join(counts,
        col("__ws") === col("window_start") &&
          col("__we") === col("window_end") && col("__vm") === col("vm"),
        "full_outer")
      .select(
        coalesce(col("__ws"), col("window_start")).as("window_start"),
        coalesce(col("__we"), col("window_end")).as("window_end"),
        coalesce(col("__vm"), col("vm")).as("vm"),
        coalesce(col("c_ref"), lit(0L)).as("c_ref"),
        coalesce(col("c_cur"), lit(0L)).as("c_cur"))
    val wg = Window.partitionBy("window_start", "window_end")
    val wCum = wg.orderBy("vm").rowsBetween(Window.unboundedPreceding, 0)
    val t = col("c_ref") + col("c_cur")
    val s = h
      .withColumn("cum_cur", sum("c_cur").over(wCum))
      .withColumn("n_ref", sum("c_ref").over(wg))
      .withColumn("n_cur", sum("c_cur").over(wg))
      .groupBy("window_start", "window_end", "n_ref", "n_cur")
      .agg(
        sum(col("c_ref") * (lit(2) * col("cum_cur") - col("c_cur")))
          .as("u2"),
        sum(t * t * t - t).as("tie3"))
    val n1 = col("n_ref").cast("double")
    val nAll = col("n_ref") + col("n_cur")
    val variance = (n1 * col("n_cur") / lit(12.0)) *
      ((nAll + lit(1)) -
        col("tie3").cast("double") / (nAll.cast("double") * (nAll - lit(1))))
    s
      .withColumn("r_rb",
        when(col("n_ref") > 0 && col("n_cur") > 0,
          round(col("u2").cast("double") / (n1 * col("n_cur")) - lit(1), 6)))
      .withColumn("z",
        when(col("n_ref") > 0 && col("n_cur") > 0 && variance > 0,
          round((col("u2") - col("n_ref") * col("n_cur")) /
            (lit(2.0) * sqrt(variance)), 6)))
      .select(col("window_start"), col("window_end"), col("n_ref"),
        col("n_cur"), col("u2"), col("tie3"), col("r_rb"), col("z"))
      .orderBy("window_start")
  }

  /** Two-sample Mann–Whitney rank-sum test per group — [[ksReport]]'s
    * location-shift sibling: KS asks "did the distribution move at
    * all?", the rank-sum asks "did one snapshot stochastically dominate
    * the other?" and quantifies it with the rank-biserial effect size
    * (≡ Cliff's delta for two samples).
    *
    * Exact integer core over the same merged value census as KS: with
    * ties counted half, the DOUBLED U statistic is an integer —
    * `u2 = Σ_v c_ref(v)·(2·cum_cur<(v) + c_cur(v))
    *     = Σ_v c_ref(v)·(2·cum_cur(v) − c_cur(v))`
    * (cum inclusive) — each cell's contribution is a product of exact
    * counts, so the Σ is combine-order-free. The tie correction carries
    * `tie3 = Σ_v t·(t²−1)` with t = c_ref+c_cur. Both stay in Long
    * through ~2·10⁹ rows per side (u2 ≤ 2·n_ref·n_cur); beyond that the
    * census cells are what you shard, not this aggregate.
    *
    * Doubles are derived only from those integers, identically in the
    * SQL oracle: rank-biserial r = u2/(n₁n₂) − 1 ∈ [−1, 1] (positive =
    * ref values tend LARGER), and the normal-approximation z with tie
    * correction, NULL when every value is tied (variance 0). Same scan
    * shape as [[ksReport]]: one census per side, full-outer merge,
    * windows over DISTINCT values only.
    *
    * Output: (group, n_ref, n_cur, u2, tie3, r_rb, z).
    */
  def rankSumReport(ref: DataFrame, cur: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def census(df: DataFrame, cName: String) = df
      .select(col(groupCol).as("g"),
        round(col(valCol).cast("double") * 1e6).cast("long").as("vm"))
      .groupBy("g", "vm").agg(count(lit(1)).as(cName))
    val h = census(ref, "c_ref")
      .join(census(cur, "c_cur"), Seq("g", "vm"), "full_outer")
      .na.fill(0L, Seq("c_ref", "c_cur"))
    val wg = Window.partitionBy("g")
    val wCum = wg.orderBy("vm").rowsBetween(Window.unboundedPreceding, 0)
    val t = col("c_ref") + col("c_cur")
    val s = h
      .withColumn("cum_cur", sum("c_cur").over(wCum))
      .withColumn("n_ref", sum("c_ref").over(wg))
      .withColumn("n_cur", sum("c_cur").over(wg))
      .groupBy("g", "n_ref", "n_cur")
      .agg(
        sum(col("c_ref") * (lit(2) * col("cum_cur") - col("c_cur")))
          .as("u2"),
        sum(t * t * t - t).as("tie3"))
    val n1 = col("n_ref").cast("double")
    val n2 = col("n_cur").cast("double")
    val nAll = col("n_ref") + col("n_cur")
    // Var(U) = (n₁n₂/12)·((n+1) − tie3/(n(n−1))); z = (2U − n₁n₂)/(2σ)
    val variance = (n1 * col("n_cur") / lit(12.0)) *
      ((nAll + lit(1)) -
        col("tie3").cast("double") / (nAll.cast("double") * (nAll - lit(1))))
    s
      .withColumn("r_rb",
        when(col("n_ref") > 0 && col("n_cur") > 0,
          round(col("u2").cast("double") / (n1 * col("n_cur")) - lit(1), 6)))
      .withColumn("z",
        when(col("n_ref") > 0 && col("n_cur") > 0 && variance > 0,
          round((col("u2") - col("n_ref") * col("n_cur")) /
            (lit(2.0) * sqrt(variance)), 6)))
      .select(col("g").as(groupCol), col("n_ref"), col("n_cur"),
        col("u2"), col("tie3"), col("r_rb"), col("z"))
      .orderBy(groupCol)
  }

  /** Welch's unequal-variance t-test per group — the parametric
    * mean-shift companion of [[rankSumReport]] and the two-sample
    * sibling of [[Correlate.anovaF]] (whose milli-integer sufficient-
    * statistic convention it shares): quantifies whether the snapshot
    * MEANS differ, with no equal-variance assumption (release-over-
    * release corpora rarely keep their variance).
    *
    * Exact cores: values quantize to milli integers at scan stage; each
    * side contributes (n, Σx, Σx²) with the square accumulating in
    * DECIMAL(38,0) (milli² headroom passes a Long around ~10⁶ rows ·
    * 10⁶ milli — the oracle's HUGEINT matches exactly). The sample
    * variance `v = (n·Σx² − (Σx)²)/(n(n−1))` rounds to an integer
    * milli² PER SIDE (the anovaF convention), and t / Welch–
    * Satterthwaite df derive from those integers alone — identical
    * doubles in both engines. ONE aggregate per side, stat-row join.
    *
    * Output: (group, n_ref, n_cur, s_ref_milli, s_cur_milli,
    * v_ref_milli2, v_cur_milli2, t_stat, df_w); t/df NULL when either
    * side has < 2 rows or both variances are 0.
    */
  def welchTReport(ref: DataFrame, cur: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val vm = round(col(valCol).cast("double") * 1e3).cast("long")
    def side(df: DataFrame, suf: String) = df
      .groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as(s"n_$suf"),
        sum(vm).as(s"s_${suf}_milli"),
        sum(vm.cast(dec) * vm.cast(dec)).as(s"q_$suf"))
    def vInt(suf: String) = round(
      (col(s"n_$suf").cast(dec) * col(s"q_$suf") -
        col(s"s_${suf}_milli").cast(dec) * col(s"s_${suf}_milli").cast(dec))
        .cast("double") /
        (col(s"n_$suf").cast("double") * (col(s"n_$suf") - lit(1))))
      .cast("long")
    val joined = side(ref, "ref")
      .join(side(cur, "cur"), Seq("g"), "full_outer")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .withColumn("v_ref_milli2",
        when(col("n_ref") > 1, vInt("ref")))
      .withColumn("v_cur_milli2",
        when(col("n_cur") > 1, vInt("cur")))
    val se1 = col("v_ref_milli2").cast("double") / col("n_ref")
    val se2c = col("v_cur_milli2").cast("double") / col("n_cur")
    val se = se1 + se2c
    val ok = col("n_ref") > 1 && col("n_cur") > 1 && se > 0
    joined
      .withColumn("t_stat", when(ok, round(
        (col("s_ref_milli").cast("double") / col("n_ref") -
          col("s_cur_milli").cast("double") / col("n_cur")) / sqrt(se), 6)))
      .withColumn("df_w", when(ok, round(
        (se * se) / ((se1 * se1) / (col("n_ref") - lit(1)) +
          (se2c * se2c) / (col("n_cur") - lit(1))), 3)))
      .select(col("g").as(groupCol), col("n_ref"), col("n_cur"),
        col("s_ref_milli"), col("s_cur_milli"),
        col("v_ref_milli2"), col("v_cur_milli2"),
        col("t_stat"), col("df_w"))
      .orderBy(groupCol)
  }

  /** WASSERSTEIN-1 (earth-mover) drift per group (public metric:
    * Kantorovich–Rubinstein; the 1-D closed form ∫|F_ref − F_cur|) —
    * the drift number with UNITS: "the distributions are 0.37 value
    * units of mass-transport apart", where PSI (q98) is bin-relative
    * and KS (q158) is a single worst-point gap. The standard metric
    * when the magnitude of a shift matters, not just its existence.
    *
    * 1-D W1 is exact on the merged value census: between consecutive
    * distinct values the CDF gap is constant, so
    *
    *   W1 = Σ_gaps |cum_ref·n_cur − cum_cur·n_ref| · gap
    *        ───────────────────────────────────────────   (micro)
    *                      n_ref · n_cur
    *
    * with every numerator term an exact DECIMAL integer (the common-
    * denominator form never divides per gap) and ONE floor division
    * per group at the end. Same merged-census scan shape as
    * [[rankSumReport]] — the whole two-sample battery shares it.
    *
    * Output per group: (group, n_ref, n_cur, w1_micro) — w1 in micro
    * value units; NULL when either side is empty.
    */
  def wassersteinReport(ref: DataFrame, cur: DataFrame,
      groupCol: String, valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def census(df: DataFrame, cName: String) = df
      .select(col(groupCol).as("g"),
        round(col(valCol).cast("double") * 1e6).cast("long").as("vm"))
      .groupBy("g", "vm").agg(count(lit(1)).as(cName))
    val h = census(ref, "c_ref")
      .join(census(cur, "c_cur"), Seq("g", "vm"), "full_outer")
      .na.fill(0L, Seq("c_ref", "c_cur"))
    val wg = Window.partitionBy("g")
    val wCum = wg.orderBy("vm")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wLead = wg.orderBy("vm")
    h.withColumn("cum_ref", sum("c_ref").over(wCum))
      .withColumn("cum_cur", sum("c_cur").over(wCum))
      .withColumn("n_ref", sum("c_ref").over(wg))
      .withColumn("n_cur", sum("c_cur").over(wg))
      .withColumn("nxt", lead("vm", 1).over(wLead))
      .groupBy("g", "n_ref", "n_cur")
      .agg(sum(expr(
        "case when nxt is null then cast(0 as decimal(38,0)) else " +
          "abs(cast(cum_ref as decimal(38,0)) * n_cur - " +
          "cast(cum_cur as decimal(38,0)) * n_ref) * (nxt - vm) end"))
        .as("num"))
      .select(col("g").as(groupCol), col("n_ref"), col("n_cur"),
        when(col("n_ref") > 0 && col("n_cur") > 0, expr(
          "cast(num div (cast(n_ref as decimal(38,0)) * n_cur) " +
            "as long)")).as("w1_micro"))
      .orderBy(groupCol)
  }
}

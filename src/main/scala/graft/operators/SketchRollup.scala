package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Mergeable-sketch rollups: distinct counts that AGGREGATE ACROSS
  * pre-aggregated slices — the property exact distinct counts lack
  * (daily exact distincts cannot sum to a weekly distinct) and the
  * reason warehouse rollup tables store sketches, not counts.
  *
  * Built on Spark's native Apache DataSketches HLL functions
  * (`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`), so the
  * daily relation here stands in for a PERSISTED sketch table: at 100 TB
  * you materialize `dailySketches` once per day (cost: the day's
  * events, never history) and every wider window — week, month, ad-hoc
  * ranges — derives from unioning the stored sketches, touching the raw
  * log zero times. The union estimate is IDENTICAL to sketching the raw
  * window directly (same insertions → same registers; spec-pinned), and
  * within the usual ~2% HLL band of the exact distinct.
  *
  * No SQL oracle (DuckDB's approx_count_distinct is a different
  * sketch) — the q43 rows-only class; equality and accuracy laws are
  * spec-pinned instead.
  */
object SketchRollup {

  /** Per-day HLL sketch of `idCol` — the persistable rollup grain. */
  def dailySketches(events: DataFrame, tsCol: String = "ts",
      idCol: String = "user_id"): DataFrame =
    events
      .select(to_date(col(tsCol)).as("day"), col(idCol).as("id"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_rows"), hll_sketch_agg(col("id")).as("sk"))

  /** Exact twin of [[weeklyDistinct]]: same week buckets and row
    * accounting, `count_distinct` instead of the HLL estimate. NOT the
    * 100 TB path — exact weekly distincts must touch every event and
    * do not roll up from stored daily state; this is the
    * oracle-checkable reference (q153a) that pins the rollup's
    * bucketing/accounting exactly and that Round6hSpec's accuracy
    * band compares the estimate against.
    *
    * Output: (week_start, n_days, n_rows, distinct_exact).
    */
  def weeklyDistinctExact(events: DataFrame, tsCol: String = "ts",
      idCol: String = "user_id"): DataFrame =
    events
      .select(date_trunc("week", col(tsCol)).cast("date").as("week_start"),
        to_date(col(tsCol)).as("day"), col(idCol).as("id"))
      .groupBy("week_start")
      .agg(count_distinct(col("day")).as("n_days"),
        count(lit(1)).as("n_rows"),
        count_distinct(col("id")).as("distinct_exact"))
      .orderBy("week_start")

  /** The sketch rollup graded IN-PLAN against its exact twin — q153's
    * driver-green form: [[weeklyDistinct]]'s HLL estimate joined back to
    * [[weeklyDistinctExact]] per week, emitting the EXACT values
    * (oracle-computable) plus `within_bound` = |est − exact| ≤
    * 8%·exact + 10. Spark's `hll_sketch_agg` defaults to lgConfigK=12
    * (rsd ≈ 1.625%), so 8% is ~5σ — deterministic-green per dataset
    * (HLL hashing is deterministic), red only on a genuine sketch
    * regression. The exact side touches every event, which is the
    * point: this is the VALIDATION query; the 100 TB path remains
    * [[weeklyDistinct]] over persisted daily sketches.
    *
    * Output: (week_start, n_days, n_rows, distinct_exact, within_bound).
    */
  def weeklyDistinctChecked(events: DataFrame, tsCol: String = "ts",
      idCol: String = "user_id"): DataFrame =
    weeklyDistinctExact(events, tsCol, idCol)
      .join(weeklyDistinct(events, tsCol, idCol)
          .select(col("week_start"), col("distinct_est")),
        Seq("week_start"))
      .select(col("week_start"), col("n_days"), col("n_rows"),
        col("distinct_exact"),
        (abs(col("distinct_est").cast("double") -
            col("distinct_exact").cast("double")) <=
          lit(0.08) * col("distinct_exact").cast("double") + lit(10.0))
          .as("within_bound"))
      .orderBy("week_start")

  /** Weekly distinct estimates from unioning the daily sketches —
    * (week_start, n_days, n_rows, distinct_est).
    */
  def weeklyDistinct(events: DataFrame, tsCol: String = "ts",
      idCol: String = "user_id"): DataFrame =
    dailySketches(events, tsCol, idCol)
      .groupBy(date_trunc("week", col("day")).cast("date").as("week_start"))
      .agg(count(lit(1)).as("n_days"), sum("n_rows").as("n_rows"),
        hll_union_agg(col("sk")).as("sk"))
      .select(col("week_start"), col("n_days"), col("n_rows"),
        hll_sketch_estimate(col("sk")).as("distinct_est"))
      .orderBy("week_start")

  // -----------------------------------------------------------------
  // Count-min sketch (Cormode & Muthukrishnan 2005)
  // -----------------------------------------------------------------

  /** Seed-salted CMS bucket of `key` in row `seed`: the house
    * cross-engine polynomial hash of "seed:key" reduced mod the sketch
    * width — expressible verbatim in the DuckDB oracle, unlike
    * Murmur-based `hash()`.
    */
  def cmsBucket(key: Column, seed: Int, w: Int): Column =
    graft.functions.PolyHash.polyHash(
      concat(lit(s"$seed:"), key), TextOps.HashMod) % w

  /** CMS cell relation (seed, bucket, cell) of a COUNT CENSUS
    * (key, cnt): each key adds its count to one bucket per seed row.
    * Built from the census rather than raw rows because CMS is count-
    * additive — sketching pre-aggregated slices gives byte-identical
    * cells to sketching the raw stream, which is also why the relation
    * is MERGEABLE: cells of a union = cell-wise sum of the parts
    * (spec-pinned), the property that lets a 100 TB deployment keep a
    * d×w-row sketch table per day and answer any window by summing —
    * the frequency-sketch sibling of the HLL rollup above.
    */
  def cmsCells(census: DataFrame, d: Int, w: Int,
      keyCol: String = "token", cntCol: String = "cnt"): DataFrame = {
    require(d >= 1 && w >= 2, "need d >= 1 hash rows and width >= 2")
    census
      .select(explode(array((0 until d).map(i =>
        struct(lit(i).cast("int").as("seed"),
          cmsBucket(col(keyCol), i, w).as("bucket"),
          col(cntCol).cast("long").as("cnt"))): _*)).as("x"))
      .select(col("x.seed"), col("x.bucket"), col("x.cnt"))
      .groupBy("seed", "bucket")
      .agg(sum("cnt").cast("long").as("cell"))
  }

  /** CMS heavy-hitter FIDELITY report (the q43/q153 driver-green
    * convention): the top-K tokens by EXACT count (hashable columns),
    * each graded against its CMS point estimate — `est_cnt` is the min
    * over d rows of the probed cells, `within_bound` checks the sketch
    * contract: est ≥ exact ALWAYS (CMS never underestimates — a red
    * here is a broken sketch, not noise) and est ≤ exact +
    * (N·bandNum) div w (bandNum× the expected per-row collision mass
    * N/w; the frozen-multiplier band convention). Everything after the
    * token census is vocabulary- or stat-grain: the cell relation is
    * ≤ d·w rows (broadcast), candidates are K rows.
    */
  def cmsTopTokensChecked(docs: DataFrame, d: Int = 3, w: Int = 8192,
      topK: Int = 20, bandNum: Long = 8L,
      textCol: String = "text"): DataFrame = {
    require(topK >= 1 && bandNum >= 1)
    val census = graft.util.Caches.cached(
      docs.select(explode(TextOps.tokens(col(textCol))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt")))
    val cms = cmsCells(census, d, w)
    val cand = census.orderBy(col("cnt").desc, col("token")).limit(topK)
    val probes = cand.select(col("token"), col("cnt"),
        explode(array((0 until d).map(i =>
          struct(lit(i).cast("int").as("seed"),
            cmsBucket(col("token"), i, w).as("bucket"))): _*)).as("p"))
      .select(col("token"), col("cnt"), col("p.seed"), col("p.bucket"))
    val est = probes.join(broadcast(cms), Seq("seed", "bucket"))
      .groupBy("token", "cnt").agg(min("cell").as("est_cnt"))
    // est is the ≤ topK candidate relation — finish the ranking and the
    // bound flags driver-side on those K stat rows (the countedCollect
    // allowance) instead of an unpartitioned row_number window, so no
    // WindowExec with an empty partition spec appears anywhere in the
    // plan. n_total is one scalar off the cached census.
    val nTotal = Option(census.agg(sum("cnt").cast("long")).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val rows = graft.util.Guards.countedCollect(
      est, "SketchRollup.cmsTopTokensChecked", topK.toLong)
    val spark = docs.sparkSession
    val ranked = rows.toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (token, cnt, _) => (-cnt, token) }
      .zipWithIndex.map { case ((token, cnt, estCnt), i) =>
        Row(i + 1, token, cnt, estCnt,
          estCnt >= cnt && estCnt <= cnt + nTotal * bandNum / w)
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(ranked, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("token",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("exact_cnt",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("est_cnt",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("within_bound",
          org.apache.spark.sql.types.BooleanType, nullable = false))))
  }
}

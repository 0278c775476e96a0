package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{MomentState, ProfileConfig, Profiler}
import graft.operators.{AsOfJoin, Layout, RangeJoin, Reshape, Sessionize,
  SketchRollup, SkewReport}
import graft.util.SkewJoin

/** Relational core and dataset profiling: grouped aggregates, joins
  * (broadcast, salted, bloom, as-of, range, overlap), top-k and window
  * shapes, per-column null/numeric/histogram profiles with their sketch
  * fidelity twins, pivots, cubes and key-skew censuses.
  */
object ProfilingQueries extends QueryModule {

  /** DuckDB oracle for Profiler.numericProfile: one UNION ALL block per
    * (column, metric), deterministically ordered like the Spark output.
    */
  private[graft] def numericProfileOracle(table: String,
      cols: Seq[String]): String = {
    val blocks = cols.flatMap { c =>
      val v = s"CAST($c AS DOUBLE)"
      Seq(
        ("count", s"CAST(count($v) AS DOUBLE)"),
        ("null_count", s"CAST(sum(CASE WHEN $v IS NULL THEN 1 ELSE 0 END) AS DOUBLE)"),
        ("distinct_count", s"CAST(count(DISTINCT $v) AS DOUBLE)"),
        ("min", s"round(min($v), 4)"),
        ("max", s"round(max($v), 4)"),
        ("mean", s"round(avg($v), 4)"),
        ("stddev", s"round(stddev_samp($v), 4)"),
        ("p25", s"round(quantile_cont($v, 0.25), 4)"),
        ("median", s"round(quantile_cont($v, 0.5), 4)"),
        ("p75", s"round(quantile_cont($v, 0.75), 4)")
      ).map { case (m, e) =>
        s"SELECT '$c' AS col_name, '$m' AS metric, $e AS value FROM $table"
      }
    }
    s"SELECT * FROM (${blocks.mkString(" UNION ALL ")}) ORDER BY col_name, metric"
  }

  /** 2 h attribution window for q63 (seconds). */
  val WindowSeconds = 7200L

  /** q62*'s shared sides: clicks probe, purchases pre-aggregated to one
    * row per (user_id, ts) so the carried payload is deterministic.
    */
  private def asofSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables.load(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "event_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts")
      .agg(max("event_id").as("p_event"),
        max_by(col("value"), col("event_id")).as("p_value"))
    (clicks, purchases)
  }

  private val asofCtes =
    """c AS (SELECT user_id, event_id, ts FROM events
      |  WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts, max(event_id) AS p_event,
      |    arg_max(value, event_id) AS p_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)""".stripMargin

  /** q92 session gap (2 h — shorter than q44's 12 h so sessions stay
    * hour-scale and the overlap relation is dense at the gate SF).
    */
  val OverlapGapSeconds = 7200L

  /** q92 hot-hour threshold: an (event_type, hour) cell is a "hot
    * window" when it holds at least this many events.
    */
  val HotMin = 5L

  val HourSeconds = 3600L

  /** q95 as-of tolerance (4 h — invalidates ~92% of the unbounded q62
    * matches at the gate SF, so the tolerance path genuinely binds).
    */
  val AsofToleranceSeconds = 14400L

  /** Floored epoch seconds — Spark `unix_timestamp` parity (see class
    * doc).
    */
  private def epochSql(e: String): String =
    s"CAST(floor(epoch($e)) AS BIGINT)"

  /** q100 heavy-key census size. */
  val SkewTopN = 20

  /** q103 pivot categories: pinned list = stable schema + single-scan. */
  val PivotCategories = Seq("view", "click", "purchase", "signup", "error")

  private def pivotOracle: String = {
    val cats = PivotCategories.map { c =>
      s"""  CAST(sum(CASE WHEN event_type = '$c' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS ${c}_n,
         |  round(sum(CASE WHEN event_type = '$c'
         |      THEN CAST(round(value * 1000000.0) AS BIGINT)
         |      ELSE 0 END) / 1000000.0, 4) AS ${c}_value""".stripMargin
    }.mkString(",\n")
    s"""SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       |$cats
       |FROM events GROUP BY 1 ORDER BY day""".stripMargin
  }

  /** q127 geometry: 8 bits/dim × 2 dims, 4 bucket bits = 16 buckets. */
  val ZBits = 8

  val ZBucketBits = 4

  val JoinSizeTopN = 10

  private def colSql(c: String): String =
    s"""SELECT '$c' AS col_name, CAST(count(v) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_null,
       |  min(vm) AS min_micro, max(vm) AS max_micro,
       |  CASE WHEN count(v) > 0 THEN
       |    round(sum(CAST(vm AS HUGEINT))::DOUBLE / count(v) / 1e6, 6)
       |    END AS mean,
       |  CASE WHEN count(v) > 1 THEN
       |    round(sqrt(greatest(
       |      (sum(CAST(vm AS HUGEINT) * vm)::DOUBLE -
       |        sum(CAST(vm AS HUGEINT))::DOUBLE *
       |        sum(CAST(vm AS HUGEINT))::DOUBLE / count(v)) /
       |      (count(v)::DOUBLE - 1.0), 0.0)) / 1e6, 6) END AS stddev
       |FROM (SELECT CASE WHEN isnan($c::DOUBLE) THEN NULL
       |    ELSE $c::DOUBLE END AS v,
       |  CAST(round(CASE WHEN isnan($c::DOUBLE) THEN NULL
       |    ELSE $c::DOUBLE END * 1e6) AS BIGINT) AS vm FROM events)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // A1/A7-A11: grouped multi-aggregate (TPC-H Q1 shape), one scan,
    // partial agg map-side; 6 groups → no skew at any scale.
    QueryDef("q01_pricing_summary", (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // P1-P4 + L1: filter + projection + limit. Predicate and column set
    // push down to the Parquet scan (PushedFilters / ReadSchema).
    QueryDef("q02_filter_project", (s, dir) => {
      Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 200000 && col("o_orderstatus") === "F")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
        .limit(100)
    },
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |WHERE o_totalprice > 200000 AND o_orderstatus = 'F'
        |ORDER BY o_orderkey LIMIT 100""".stripMargin),

    // J1/J2: two broadcast hash joins (dims are tiny at every scale —
    // nation/region are bounded), then grouped rollup.
    QueryDef("q03_join_broadcast", (s, dir) => {
      Tables.load(s, dir, "customer")
        .join(broadcast(Tables.load(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("cnt"), round(avg("c_acctbal"), 4).as("avg_bal"))
        .orderBy("r_name")
    },
      """SELECT r_name, count(*) AS cnt, round(avg(c_acctbal), 4) AS avg_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),

    // J1 at fact scale: orders⋈lineitem shuffle join on the natural key;
    // AQE picks SMJ/SHJ; aggregation is partial map-side.
    QueryDef("q04_join_agg", (s, dir) => {
      Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS cnt
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // W1/L1: top-k by aggregate — TakeOrderedAndProject, no global sort.
    QueryDef("q05_topk", (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    // A12 argmax: deterministic row-of-max via max_by with a TOTAL
    // ordering key (price desc, then unique (orderkey, linenumber) asc,
    // encoded as negated components). One partial+final aggregation —
    // no sort at all. The windowed formulation would partition by
    // l_returnflag (3 values), sorting the whole fact table into 3
    // tasks regardless of cluster size; per-group top-1 belongs in an
    // aggregate, windows in the per-KEY top-n case (q07, where group
    // count is high and partitions balance).
    QueryDef("q06_argmax", (s, dir) => {
      val ord = struct(col("l_extendedprice"),
        -col("l_orderkey"), -col("l_linenumber"))
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(max_by(struct(col("l_extendedprice"), col("l_orderkey")), ord).as("m"))
        .select(col("l_returnflag"),
          col("m.l_extendedprice").as("l_extendedprice"),
          col("m.l_orderkey").as("l_orderkey"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, l_extendedprice, l_orderkey FROM (
        |  SELECT l_returnflag, l_extendedprice, l_orderkey,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) WHERE rn = 1 ORDER BY l_returnflag""".stripMargin),

    // W1: per-group top-1 (largest order per customer).
    QueryDef("q07_window_topn", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.load(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin),

    // A3/A4: distinct counts per group (exact here; approx_count_distinct
    // is the 100 TB toggle in Profiler).
    QueryDef("q08_distinct_count", (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"), count_distinct(col("l_partkey")).as("distinct_parts"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, count(*) AS cnt,
        |  count(DISTINCT l_partkey) AS distinct_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // S10: sampling. Spark .sample() is seed-dependent and can't match an
    // external oracle, so the conformance query uses a deterministic
    // hash-mod sample (same arithmetic both sides); the library also
    // exposes df.sample(fraction) for production use.
    QueryDef("q09_sample_stats", (s, dir) => {
      Tables.load(s, dir, "lineitem")
        // reduce mod 97 before multiplying: identical values ((k·c) mod 97
        // = ((k mod 97)·c) mod 97) but no silent long overflow at the
        // orderkey magnitudes a 100 TB TPC-H reaches
        .filter(((col("l_orderkey") % 97) * lit(2654435761L)) % 97 < 2)
        .agg(
          count(lit(1)).as("cnt"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(min("l_extendedprice"), 2).as("min_price"),
          round(max("l_extendedprice"), 2).as("max_price"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
    },
      """SELECT count(*) AS cnt, round(avg(l_quantity), 4) AS avg_qty,
        |  round(min(l_extendedprice), 2) AS min_price,
        |  round(max(l_extendedprice), 2) AS max_price,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem WHERE ((l_orderkey % 97) * 2654435761) % 97 < 2""".stripMargin),

    // A6: per-column null/NaN counts, all columns, one pass.
    QueryDef("q10_null_counts", (s, dir) => Profiler.nullCounts(Tables.load(s, dir, "lineitem")), {
      val dbl = Set("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val ordered = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      val exprs = ordered.map { c =>
        val cond = if (dbl(c)) s"$c IS NULL OR isnan($c)" else s"$c IS NULL"
        s"CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS null_$c"
      }
      s"SELECT ${exprs.mkString(", ")} FROM lineitem"
    }),

    // A15 (the dense profiling block): every numeric column's stats in one
    // aggregation job, reshaped long.
    QueryDef("q11_numeric_profile", (s, dir) =>
      Profiler.numericProfile(Tables.load(s, dir, "lineitem")),
      numericProfileOracle("lineitem",
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // A14 numeric histogram: two jobs (bounds, then bucket counts).
    QueryDef("q12_histogram", (s, dir) =>
      Profiler.numericHistogram(Tables.load(s, dir, "lineitem"), "l_extendedprice", 10),
      """WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem)
        |SELECT CASE WHEN hi = lo THEN 0 ELSE
        |    CAST(least(floor((l_extendedprice - lo) / ((hi - lo) / 10)), 9) AS BIGINT) END AS bucket,
        |  count(*) AS cnt
        |FROM lineitem, b WHERE l_extendedprice IS NOT NULL
        |GROUP BY bucket ORDER BY bucket""".stripMargin),

    // A14 categorical histogram.
    QueryDef("q13_cat_histogram", (s, dir) =>
      Profiler.categoricalHistogram(Tables.load(s, dir, "lineitem"), "l_returnflag", 50)
        .withColumnRenamed("l_returnflag", "category"),
      """SELECT l_returnflag AS category, count(*) AS cnt FROM lineitem
        |GROUP BY category ORDER BY cnt DESC, category LIMIT 50""".stripMargin),

    // A5: duplicate-record stats on a projected key set.
    QueryDef("q14_dupes", (s, dir) =>
      Profiler.duplicateStats(Tables.load(s, dir, "lineitem"), Seq("l_partkey", "l_suppkey")),
      """WITH g AS (SELECT l_partkey, l_suppkey, count(*) AS cnt
        |  FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT CAST(sum(cnt) AS BIGINT) AS row_count,
        |  CAST(count(*) AS BIGINT) AS distinct_count,
        |  CAST(sum(cnt) - count(*) AS BIGINT) AS duplicate_count,
        |  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS duplicate_groups
        |FROM g""".stripMargin),

    // Rollup extension (SURVEY §2.4 note): DB-monitor + table-monitor
    // rollups in one pass.
    QueryDef("q15_rollup", (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("cnt"), col("sum_qty"))
        .orderBy("flag", "status")
    },
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin),

    // E1-adjacent: anti join (customers with no orders).
    QueryDef("q16_anti_join", (s, dir) => {
      Tables.load(s, dir, "customer")
        .join(Tables.load(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_customers_no_orders"))
    },
      """SELECT CAST(count(*) AS BIGINT) AS n_customers_no_orders FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin),

    // E2: unionByName fan-in then keyed aggregate.
    QueryDef("q17_union", (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val high = o.filter(col("o_totalprice") > 300000).withColumn("tag", lit("high"))
      val low = o.filter(col("o_totalprice") <= 100000).withColumn("tag", lit("low"))
      high.unionByName(low)
        .groupBy("tag")
        .agg(count(lit(1)).as("cnt"), round(avg("o_totalprice"), 4).as("avg_price"))
        .orderBy("tag")
    },
      """SELECT tag, count(*) AS cnt, round(avg(o_totalprice), 4) AS avg_price
        |FROM (
        |  SELECT o_totalprice, 'high' AS tag FROM orders WHERE o_totalprice > 300000
        |  UNION ALL
        |  SELECT o_totalprice, 'low' AS tag FROM orders WHERE o_totalprice <= 100000)
        |GROUP BY tag ORDER BY tag""".stripMargin),

    // F12: JSON extraction from the events props column.
    QueryDef("q24_json_extract", (s, dir) => {
      Tables.load(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), round(avg("k"), 4).as("avg_k"),
          max("k").as("max_k"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS cnt,
        |  round(avg(CAST(props->>'k' AS INTEGER)), 4) AS avg_k,
        |  max(CAST(props->>'k' AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // A14 at log_dataframe scope: histograms of every numeric column —
    // bounds ride the parquet FOOTER stats (exactness-gated, automatic
    // agg fallback), so the whole report is ONE bucket-count job.
    QueryDef("q41_histograms_all", (s, dir) =>
      Profiler.numericHistograms(Tables.load(s, dir, "lineitem"), 10,
        Some(Tables.path(dir, "lineitem"))), {
      val dbl = Set("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val blocks = cols.map { c =>
        val v = if (dbl(c)) s"CASE WHEN isnan($c) THEN NULL ELSE CAST($c AS DOUBLE) END"
          else s"CAST($c AS DOUBLE)"
        s"""SELECT '$c' AS col_name,
           |  CASE WHEN hi = lo THEN 0 ELSE
           |    CAST(least(floor((v - lo) / ((hi - lo) / 10)), 9) AS BIGINT) END AS bucket,
           |  count(*) AS cnt
           |FROM (SELECT $v AS v FROM lineitem) x,
           |  (SELECT min($v) AS lo, max($v) AS hi
           |   FROM lineitem) b
           |WHERE v IS NOT NULL GROUP BY col_name, bucket""".stripMargin
      }
      s"SELECT * FROM (${blocks.mkString(" UNION ALL ")}) ORDER BY col_name, bucket"
    }),

    // The approx-profile FIDELITY report: the sketch tier (HLL
    // distincts, approx percentiles) graded in-plan against the exact
    // order stats — value = exact (oracle-hashable), within_bound = the
    // frozen-constant sketch check. Fully driver-green; the one-scan
    // production approx tier itself stays numericProfile(exact=false),
    // spec-pinned in ProfilerSpec.
    QueryDef("q43_profile_approx", (s, dir) =>
      graft.core.Profiler.approxFidelityProfile(
        Tables.load(s, dir, "lineitem")), {
      // The fidelity report's exact grid is q11's oracle verbatim; the
      // sketch rows additionally carry within_bound = TRUE (the Spark side
      // goes red — hash mismatch — the day a sketch breaches its frozen
      // bound; moment rows carry NULL, they are exact in both modes).
      val base = numericProfileOracle("lineitem",
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      s"""SELECT col_name, metric, value,
         |  CASE WHEN metric IN ('distinct_count', 'p25', 'median', 'p75')
         |    THEN TRUE END AS within_bound
         |FROM ($base) ORDER BY col_name, metric""".stripMargin
    },
      meta = Some("fidelity_report: HLL/KLL sketch tier graded in-plan vs exact " +
        "order stats (bounds: 3σ HLL band; ±0.01-quantile windows); " +
        "raw production tier = Profiler.numericProfile(exact=false), " +
        "moments twin q43a_approx_moments")),

    // The exact half of the approx profile: count/null/min/max/mean/std
    // come from the same codegen moments aggregate in BOTH modes, so this
    // slice of q43 hash-matches the exact oracle even with sketches on —
    // only the sketch metrics (distincts, percentiles) stay rows-only.
    // numericMoments runs JUST that aggregate (one scan, no sketch pass).
    QueryDef("q43a_approx_moments", (s, dir) =>
      graft.core.Profiler.numericMoments(Tables.load(s, dir, "lineitem"),
        graft.core.ProfileConfig(exact = false)), {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val blocks = cols.flatMap { c =>
        val v = s"CAST($c AS DOUBLE)"
        Seq(
          ("count", s"CAST(count($v) AS DOUBLE)"),
          ("null_count", s"CAST(sum(CASE WHEN $v IS NULL THEN 1 ELSE 0 END) AS DOUBLE)"),
          ("min", s"round(min($v), 4)"),
          ("max", s"round(max($v), 4)"),
          ("mean", s"round(avg($v), 4)"),
          ("stddev", s"round(stddev_samp($v), 4)"))
          .map { case (m, e) =>
            s"SELECT '$c' AS col_name, '$m' AS metric, $e AS value FROM lineitem" }
      }
      s"SELECT * FROM (${blocks.mkString(" UNION ALL ")}) ORDER BY col_name, metric"
    }),

    // The q04 join re-expressed through the salted-join pattern: results
    // must equal the plain join (the oracle IS the plain join), proving
    // the salt is semantics-free. Orientation per SkewJoin's cost model:
    // the skewed fact (lineitem, many rows per orderkey) is the salted
    // LEFT; the smaller orders relation is the replicated RIGHT — only
    // the small side pays the salts× replication through the exchange.
    // salts=4 here: lineitem:orders is ~4:1, so higher salt counts push
    // the replicated side PAST the fact size and the "small side pays"
    // premise stops holding — salt count is bounded by the size ratio.
    QueryDef("q46_salted_join", (s, dir) => {
      val joined = SkewJoin.saltedInnerJoin(
        Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey").as("k"), col("l_extendedprice"), col("l_discount")),
        Tables.load(s, dir, "orders").select("o_orderkey", "o_orderpriority")
          .withColumnRenamed("o_orderkey", "k"),
        Seq("k"), salts = 4)
      joined.groupBy("o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS cnt
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Exact per-group top-k via the native TopKBy TypedImperativeAggregate
    // (partial aggregation keeps <=k rows per group per partition before
    // the shuffle — no per-group sort of all rows, O(k) memory per heap;
    // the window twin is the oracle). Top-3 orders per customer.
    QueryDef("q59_group_topn", (s, dir) => {
      import graft.functions.TopKBy.topKBy
      val ordered = struct(col("o_totalprice"), (-col("o_orderkey")).as("neg_key"))
      Tables.load(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(topKBy(ordered, 3).as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("o_custkey"), (col("pos") + 1).cast("int").as("rank"),
          (-col("t.neg_key")).as("o_orderkey"),
          col("t.o_totalprice").as("o_totalprice"))
        .orderBy("o_custkey", "rank")
    },
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rank
        |  FROM orders)
        |SELECT o_custkey, rank, o_orderkey, o_totalprice FROM r
        |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin),

    // As-of join: attribute each click to the user's most recent
    // at-or-before purchase. The right side is pre-aggregated to one row
    // per (user_id, ts) (max_by on event_id) so the carried payload is
    // deterministic — matching what DuckDB's native ASOF JOIN picks.
    QueryDef("q62_asof_join", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max("event_id").as("p_event"),
          max_by(col("value"), col("event_id")).as("p_value"))
      AsOfJoin.asofLast(clicks, purchases, Seq("user_id"), "ts", "ts",
        Seq("p_event", "p_value"))
        .orderBy("user_id", "event_id")
    },
      """WITH c AS (SELECT user_id, event_id, ts FROM events
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, max(event_id) AS p_event,
        |    arg_max(value, event_id) AS p_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT c.user_id, c.event_id, c.ts, p.p_event, p.p_value
        |FROM c ASOF JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.user_id, c.event_id""".stripMargin),

    // As-of join, strictly-before quadrant: each click attributed to the
    // most recent purchase with ts < click ts (ASOF `>`): a purchase at
    // the exact click instant no longer matches.
    QueryDef("q62a_asof_strict", (s, dir) => {
      val (clicks, purchases) = asofSides(s, dir)
      AsOfJoin.asofLast(clicks, purchases, Seq("user_id"), "ts", "ts",
        Seq("p_event", "p_value"), inclusive = false)
        .orderBy("user_id", "event_id")
    },
      s"""WITH $asofCtes
         |SELECT c.user_id, c.event_id, c.ts, p.p_event, p.p_value
         |FROM c ASOF JOIN p ON c.user_id = p.user_id AND c.ts > p.ts
         |ORDER BY c.user_id, c.event_id""".stripMargin),

    // As-of join, LEFT quadrant: clicks with no preceding purchase are
    // kept with null payload.
    QueryDef("q62b_asof_left", (s, dir) => {
      val (clicks, purchases) = asofSides(s, dir)
      AsOfJoin.asofLast(clicks, purchases, Seq("user_id"), "ts", "ts",
        Seq("p_event", "p_value"), joinType = "left")
        .orderBy("user_id", "event_id")
    },
      s"""WITH $asofCtes
         |SELECT c.user_id, c.event_id, c.ts, p.p_event, p.p_value
         |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
         |ORDER BY c.user_id, c.event_id""".stripMargin),

    // Binned range join: clicks landing inside each purchase's 2-hour
    // attribution window, per user — counted per purchase. Bin width =
    // the window width, so each interval registers under ≤2 bins.
    QueryDef("q63_range_join", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event"),
          unix_timestamp(col("ts")).as("lo"),
          (unix_timestamp(col("ts")) + WindowSeconds).as("hi"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_timestamp(col("ts")).as("v"))
      RangeJoin.binnedRangeJoin(clicks, purchases, Seq("user_id"),
        "v", "lo", "hi", binWidth = WindowSeconds)
        .groupBy("p_event")
        .agg(count(lit(1)).as("n_clicks"))
        .orderBy("p_event")
    },
      s"""WITH p AS (SELECT user_id, event_id AS p_event,
         |    CAST(epoch(ts) AS BIGINT) AS lo,
         |    CAST(epoch(ts) AS BIGINT) + $WindowSeconds AS hi
         |  FROM events WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, CAST(epoch(ts) AS BIGINT) AS v FROM events
         |  WHERE event_type = 'click')
         |SELECT p_event, count(*) AS n_clicks
         |FROM p JOIN c ON p.user_id = c.user_id AND c.v >= p.lo AND c.v < p.hi
         |GROUP BY p_event ORDER BY p_event""".stripMargin),

    // Bloom-pruned fact join: the selective dimension slice (urgent
    // orders, ~20%) blooms; lineitem is membership-tested at the SCAN
    // before its join exchange. Oracle = the plain join (bloom is
    // conservative; false positives die in the real join).
    QueryDef("q90_bloom_join", (s, dir) => {
      val sel = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("k"), col("o_orderpriority"))
      val fact = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_extendedprice"),
          col("l_discount"))
      operators.BloomJoin.prunedInnerJoin(fact, sel, Seq("k"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("cnt"))
    },
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS cnt
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin),

    // Interval-overlap join: user sessions × hot (event_type, hour)
    // windows, keyless — the bin trick turns the would-be nested-loop
    // into an equi-join on the hour bin, and the canonical-meeting-bin
    // rule keeps each overlapping pair exactly once with no dedup.
    QueryDef("q92_overlap_join", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val sess = Sessionize.assignSessions(ev, OverlapGapSeconds)
        .groupBy("user_id", "session_idx")
        .agg(unix_timestamp(min(col("ts"))).as("s_lo"),
          (unix_timestamp(max(col("ts"))) + 1L).as("s_hi"))
      val hot = ev
        .groupBy(col("event_type"),
          unix_timestamp(date_trunc("hour", col("ts"))).as("w_lo"))
        .agg(count(lit(1)).as("n_events"))
        .filter(col("n_events") >= HotMin)
        .withColumn("w_hi", col("w_lo") + HourSeconds)
      RangeJoin.overlapJoin(sess, hot, Seq.empty,
          "s_lo", "s_hi", "w_lo", "w_hi", binWidth = HourSeconds)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_overlaps"),
          sum(least(col("s_hi"), col("w_hi"))
            - greatest(col("s_lo"), col("w_lo"))).as("sum_overlap_sec"))
        .orderBy("event_type")
    },
      s"""WITH g AS (SELECT user_id, event_id, ts,
         |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM events),
         |s AS (SELECT user_id, ts,
         |    CASE WHEN prev_ts IS NULL
         |      OR date_diff('second', prev_ts, ts) > $OverlapGapSeconds
         |      THEN 1 ELSE 0 END AS new_s
         |  FROM g),
         |c AS (SELECT user_id, ts,
         |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
         |      ROWS UNBOUNDED PRECEDING) AS sidx
         |  FROM s),
         |sess AS (SELECT user_id, sidx,
         |    ${epochSql("min(ts)")} AS s_lo, ${epochSql("max(ts)")} + 1 AS s_hi
         |  FROM c GROUP BY user_id, sidx),
         |hot AS (SELECT event_type,
         |    ${epochSql("date_trunc('hour', ts)")} AS w_lo,
         |    ${epochSql("date_trunc('hour', ts)")} + $HourSeconds AS w_hi
         |  FROM events GROUP BY 1, 2, 3 HAVING count(*) >= $HotMin),
         |ov AS (SELECT h.event_type,
         |    least(s.s_hi, h.w_hi) - greatest(s.s_lo, h.w_lo) AS ov_sec
         |  FROM sess s JOIN hot h ON s.s_lo < h.w_hi AND h.w_lo < s.s_hi)
         |SELECT event_type, count(*) AS n_overlaps,
         |  CAST(sum(ov_sec) AS BIGINT) AS sum_overlap_sec
         |FROM ov GROUP BY event_type ORDER BY event_type""".stripMargin),

    // As-of with tolerance: q62's attribution, but a purchase older than
    // 4 h no longer matches. Same single shuffle+sort plan — tolerance is
    // a post-window predicate, never a re-search.
    QueryDef("q95_asof_tolerance", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max("event_id").as("p_event"),
          max_by(col("value"), col("event_id")).as("p_value"))
      AsOfJoin.asofLast(clicks, purchases, Seq("user_id"), "ts", "ts",
        Seq("p_event", "p_value"),
        maxGapSeconds = Some(AsofToleranceSeconds))
        .orderBy("user_id", "event_id")
    },
      s"""WITH c AS (SELECT user_id, event_id, ts FROM events
         |  WHERE event_type = 'click'),
         |p AS (SELECT user_id, ts, max(event_id) AS p_event,
         |    arg_max(value, event_id) AS p_value
         |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
         |SELECT c.user_id, c.event_id, c.ts, p.p_event, p.p_value
         |FROM c ASOF JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
         |WHERE date_diff('second', p.ts, c.ts) <= $AsofToleranceSeconds
         |ORDER BY c.user_id, c.event_id""".stripMargin),

    // Heavy-key census on the orders→customer join key.
    QueryDef("q100_key_skew", (s, dir) =>
      SkewReport.keySkew(Tables.load(s, dir, "orders"), "o_custkey",
        SkewTopN),
      s"""WITH c AS (SELECT o_custkey AS key, count(*) AS cnt
         |  FROM orders GROUP BY 1),
         |t AS (SELECT sum(cnt) AS total FROM c),
         |top AS (SELECT key, cnt FROM c
         |  ORDER BY cnt DESC, key ASC LIMIT $SkewTopN),
         |r AS (SELECT key, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, key ASC) AS rank,
         |    sum(cnt) OVER (ORDER BY cnt DESC, key ASC
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM top)
         |SELECT r.rank, r.key, r.cnt,
         |  round(r.cnt * 10000.0 / t.total, 4) AS share_bp,
         |  round(r.cum * 10000.0 / t.total, 4) AS cum_bp
         |FROM r, t ORDER BY rank""".stripMargin),

    // Daily × event-type pivot: counts + value sums per category column.
    QueryDef("q103_pivot_daily", (s, dir) =>
      Reshape.pivotDaily(Tables.load(s, dir, "events"), PivotCategories),
      pivotOracle),

    // CUBE over (returnflag, linestatus) — all four grouping sets.
    QueryDef("q108_cube", (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          round(sum("l_quantity"), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("cnt"), col("sum_qty"))
        .orderBy("flag", "status"),
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin),

    // Z-order layout census: Morton keys over (custkey, orderkey),
    // bucketed by the top bits — the zone-map ranges files written in
    // z-key order would carry. Integer quantization off ONE broadcast
    // stat row; the interleave is a closed-form shift/mask fold.
    QueryDef("q127_zorder", (s, dir) =>
      Layout.zOrderReport(Tables.load(s, dir, "orders"),
        Seq("o_custkey", "o_orderkey"), ZBits, ZBucketBits), {
      // Same quantization + bit-interleave, generated as a literal OR
      // chain (DuckDB's integer &, |, <<, >> match Spark's long ops;
      // non-negative quantized dims ⇒ // and integer division agree).
      val maxQ = (1L << ZBits) - 1
      def q(c: String) =
        s"(($c - mn_$c) * $maxQ // greatest(mx_$c - mn_$c, 1))"
      val inter = (0 until ZBits).flatMap { b =>
        Seq(s"(((q0 >> $b) & 1) << ${b * 2})",
          s"(((q1 >> $b) & 1) << ${b * 2 + 1})")
      }.mkString(" | ")
      val shift = ZBits * 2 - ZBucketBits
      s"""WITH st AS (SELECT min(o_custkey) AS mn_o_custkey,
         |    max(o_custkey) AS mx_o_custkey,
         |    min(o_orderkey) AS mn_o_orderkey,
         |    max(o_orderkey) AS mx_o_orderkey FROM orders),
         |qd AS (SELECT o_custkey, o_orderkey,
         |    ${q("o_custkey")} AS q0, ${q("o_orderkey")} AS q1
         |  FROM orders, st),
         |z AS (SELECT o_custkey, o_orderkey, ($inter) AS zkey FROM qd)
         |SELECT zkey >> $shift AS bucket, count(*) AS n_rows,
         |  min(o_custkey) AS min_o_custkey, max(o_custkey) AS max_o_custkey,
         |  min(o_orderkey) AS min_o_orderkey, max(o_orderkey) AS max_o_orderkey
         |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin
    }),

    // Weekly distinct users from UNIONED daily HLL sketches, graded
    // in-plan against the exact twin — distinct_exact is oracle-hashable
    // and within_bound is the frozen ~5σ HLL band, so the rollup is
    // fully driver-green (DataSketches itself has no DuckDB mirror; the
    // union-≡-direct law stays spec-pinned in Round6hSpec). The 100 TB
    // production path remains weeklyDistinct over persisted sketches.
    QueryDef("q153_sketch_rollup", (s, dir) =>
      SketchRollup.weeklyDistinctChecked(Tables.load(s, dir, "events")),
      // q153a's exact relation + within_bound TRUE: the Spark side goes
      // hash-red the day the HLL estimate leaves its frozen 8%+10 band.
      """SELECT CAST(date_trunc('week', ts) AS DATE) AS week_start,
        |  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_exact,
        |  TRUE AS within_bound
        |FROM events GROUP BY 1 ORDER BY week_start""".stripMargin,
      meta = Some("fidelity_report: HLL union rollup graded in-plan vs the exact " +
        "weekly distincts (8%+10 band ≈ 5σ at lgConfigK=12); raw " +
        "production tier = SketchRollup.weeklyDistinct, exact twin " +
        "q153a_weekly_distinct_exact")),

    // q153a: the exact twin of the sketch rollup — same week buckets
    // and row accounting with count_distinct, so the bucketing and
    // accounting of q153 are oracle-pinned even though its HLL estimate
    // cannot be (DuckDB sketches differently).
    QueryDef("q153a_weekly_distinct_exact", (s, dir) =>
      SketchRollup.weeklyDistinctExact(Tables.load(s, dir, "events")),
      """SELECT CAST(date_trunc('week', ts) AS DATE) AS week_start,
        |  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_exact
        |FROM events GROUP BY 1 ORDER BY week_start""".stripMargin),

    // Region → nation revenue rollup with exact share-of-parent /
    // share-of-grand basis points (cents-integer revenue).
    QueryDef("q154_share_of_parent", (s, dir) => {
      val rev = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("rev_cents"))
      import org.apache.spark.sql.expressions.Window
      rev
        .withColumn("region_rev_cents",
          sum("rev_cents").over(Window.partitionBy("r_name")))
        .withColumn("grand_rev_cents",
          sum("rev_cents").over(Window.partitionBy()))
        .withColumn("share_of_region_bp",
          expr("(rev_cents * 10000) div region_rev_cents"))
        .withColumn("share_of_grand_bp",
          expr("(region_rev_cents * 10000) div grand_rev_cents"))
        .orderBy("r_name", "n_name")
    },
      """WITH rev AS (SELECT r_name, n_name,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS rev_cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2),
        |w AS (SELECT *,
        |    CAST(sum(rev_cents) OVER (PARTITION BY r_name) AS BIGINT)
        |      AS region_rev_cents,
        |    CAST(sum(rev_cents) OVER () AS BIGINT) AS grand_rev_cents
        |  FROM rev)
        |SELECT r_name, n_name, rev_cents, region_rev_cents,
        |  grand_rev_cents,
        |  CAST((rev_cents * 10000) // region_rev_cents AS BIGINT)
        |    AS share_of_region_bp,
        |  CAST((region_rev_cents * 10000) // grand_rev_cents AS BIGINT)
        |    AS share_of_grand_bp
        |FROM w ORDER BY r_name, n_name""".stripMargin),

    // Exact |L ⋈ R| forecast + top exploding keys from the two key
    // censuses — the pre-join guard; no data-side join runs.
    QueryDef("q201_join_size", (s, dir) =>
      SkewReport.joinSizeReport(Tables.load(s, dir, "events"),
        Tables.load(s, dir, "orders"), "user_id", "o_custkey",
        JoinSizeTopN),
      s"""WITH cl AS (SELECT user_id::VARCHAR AS key,
         |    CAST(count(*) AS BIGINT) AS n_left FROM events GROUP BY 1),
         |cr AS (SELECT o_custkey::VARCHAR AS key,
         |    CAST(count(*) AS BIGINT) AS n_right FROM orders GROUP BY 1),
         |j AS (SELECT key, n_left, n_right,
         |    CAST(n_left * n_right AS BIGINT) AS out_rows
         |  FROM cl JOIN cr USING (key)),
         |t AS (SELECT '__all' AS key, CAST(sum(n_left) AS BIGINT)
         |      AS n_left,
         |    CAST(sum(n_right) AS BIGINT) AS n_right,
         |    CAST(sum(out_rows) AS BIGINT) AS out_rows FROM j),
         |tp AS (SELECT * FROM j
         |  ORDER BY out_rows DESC, key LIMIT $JoinSizeTopN)
         |SELECT * FROM (SELECT * FROM t UNION ALL SELECT * FROM tp)
         |ORDER BY (key <> '__all'), out_rows DESC, key""".stripMargin),

    QueryDef("q212_profile_merge", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select("event_id", "user_id", "value")
      val cut = lit(DriftQueries.PsiCutoff).cast("timestamp")
      val pre = Tables.load(s, dir, "events").filter(col("ts") < cut)
        .select("event_id", "user_id", "value")
      val post = Tables.load(s, dir, "events").filter(col("ts") >= cut)
        .select("event_id", "user_id", "value")
      // deliberately NOT state(ev): the merge of the two slice states
      // must reproduce the direct report bit-for-bit
      MomentState.report(MomentState.merge(Seq(
        MomentState.state(pre), MomentState.state(post))))
    },
      s"""SELECT * FROM (
         |${colSql("event_id")}
         |UNION ALL
         |${colSql("user_id")}
         |UNION ALL
         |${colSql("value")}
         |) ORDER BY col_name""".stripMargin))
}

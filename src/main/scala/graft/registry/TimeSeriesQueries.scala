package graft
package registry

import org.apache.spark.sql.functions._

import graft.operators.{Anomaly, EventFunnel, Sessionize, TimeSeries,
  Transitions}

/** Time series and event sequences: windows, sessions, rolling
  * activity, cohorts and funnels, change-point and trend tests,
  * forecasts, seasonality and state-transition reports.
  */
object TimeSeriesQueries extends QueryModule {

  /** 12 h gap: matches the fixture's event cadence (~3.6 h mean per-user
    * inter-event time), yielding multi-event sessions at every SF.
    */
  val SessionGapSeconds = 43200L

  /** q99 rolling window — the standard weekly-active shape. */
  val RollDays = 7

  /** q105 funnel steps, in required temporal order. */
  val FunnelSteps = Seq("view", "click", "purchase")

  private def funnelOracle: String = {
    val stepCtes = FunnelSteps.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"""s1 AS (SELECT user_id AS u, min(ts) AS t FROM events
           |  WHERE event_type = '$st' GROUP BY 1)""".stripMargin
      else
        s"""s${i + 1} AS (SELECT e.user_id AS u, min(e.ts) AS t
           |  FROM events e JOIN s$i ON s$i.u = e.user_id AND e.ts > s$i.t
           |  WHERE e.event_type = '$st' GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val unions = FunnelSteps.zipWithIndex.map { case (st, i) =>
      if (i == 0) s"SELECT 1 AS step_idx, '$st' AS step, count(*) AS users FROM s1"
      else s"SELECT ${i + 1}, '$st', count(*) FROM s${i + 1}"
    }.mkString("\n  UNION ALL ")
    s"""WITH $stepCtes,
       |n AS ($unions)
       |SELECT step_idx, step, CAST(users AS BIGINT) AS users,
       |  CASE WHEN (SELECT users FROM n WHERE step_idx = 1) > 0
       |    THEN round(users * 10000.0 /
       |      (SELECT users FROM n WHERE step_idx = 1), 4) END AS conv_bp
       |FROM n ORDER BY step_idx""".stripMargin
  }

  val PathLen = 3

  val PathTopN = 10

  val SeasonalThresholdPermille = 300L

  val XcorrMaxLag = 3

  val RemovalSteps = 6

  val TriplesTopN = 30

  val PhDelta = 0L

  val PhLambda = 10L

  val defs: Seq[QueryDef] = Seq(
    // Event-time tumbling window (batch form).
    QueryDef("q25_time_window", (s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("window_start"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"),
          round(avg("value"), 4).as("avg_value"))
        .orderBy("window_start")
    },
      """SELECT date_trunc('hour', ts) AS window_start, count(*) AS cnt,
        |  round(sum(value), 2) AS sum_value, round(avg(value), 4) AS avg_value
        |FROM events GROUP BY window_start ORDER BY window_start""".stripMargin),

    // Gap-based sessionization: one shuffle + one per-user sort; both
    // window functions share a single Window operator.
    QueryDef("q44_sessions", (s, dir) =>
      Sessionize.sessionSummary(Tables.load(s, dir, "events"), SessionGapSeconds)
        .orderBy("user_id", "session_idx"),
      s"""WITH g AS (SELECT user_id, event_id, ts, value,
         |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM events),
         |s AS (SELECT user_id, event_id, ts, value,
         |    CASE WHEN prev_ts IS NULL
         |      OR date_diff('second', prev_ts, ts) > $SessionGapSeconds
         |      THEN 1 ELSE 0 END AS new_s
         |  FROM g),
         |c AS (SELECT user_id, ts, value,
         |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
         |  FROM s)
         |SELECT user_id, session_idx, count(*) AS n_events,
         |  date_diff('second', min(ts), max(ts)) AS duration_sec,
         |  round(sum(value), 2) AS sum_value
         |FROM c GROUP BY user_id, session_idx
         |ORDER BY user_id, session_idx""".stripMargin),

    // Daily + rolling-7d activity; day serialized to ISO for the oracle.
    QueryDef("q99_rolling_activity", (s, dir) =>
      TimeSeries.rollingActivity(Tables.load(s, dir, "events"), RollDays)
        .withColumn("day", col("day").cast("string"))
        .orderBy("day"),
      s"""WITH base AS (SELECT CAST(ts AS DATE) AS day, user_id AS u,
         |    CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
         |daily AS (SELECT day, count(*) AS n_events, sum(vm) AS vm
         |  FROM base GROUP BY day),
         |du AS (SELECT DISTINCT day, u FROM base),
         |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
         |roll AS (SELECT d.day,
         |    CAST(sum(x.n_events) AS BIGINT) AS n_events_roll,
         |    round(sum(x.vm) / 1000000.0, 4) AS value_roll
         |  FROM daily d JOIN daily x
         |    ON x.day BETWEEN d.day - ${RollDays - 1} AND d.day
         |  GROUP BY d.day),
         |wau AS (SELECT d.day, count(DISTINCT x.u) AS wau
         |  FROM daily d JOIN du x
         |    ON x.day BETWEEN d.day - ${RollDays - 1} AND d.day
         |  GROUP BY d.day)
         |SELECT CAST(d.day AS VARCHAR) AS day, dau.dau, d.n_events,
         |  wau.wau, roll.n_events_roll, roll.value_roll
         |FROM daily d
         |JOIN dau ON dau.day = d.day
         |JOIN wau ON wau.day = d.day
         |JOIN roll ON roll.day = d.day
         |ORDER BY day""".stripMargin),

    // Weekly cohort retention from first-activity day.
    QueryDef("q104_cohort_retention", (s, dir) =>
      TimeSeries.cohortRetention(Tables.load(s, dir, "events")),
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u
        |  FROM events),
        |c AS (SELECT u, min(day) AS cohort_day FROM du GROUP BY u),
        |sz AS (SELECT cohort_day, count(*) AS cohort_users
        |  FROM c GROUP BY 1),
        |cells AS (SELECT DISTINCT c.cohort_day,
        |    CAST(floor((du.day - c.cohort_day) / 7.0) AS INTEGER) AS period,
        |    du.u
        |  FROM du JOIN c USING (u)),
        |a AS (SELECT cohort_day, period, count(*) AS active_users
        |  FROM cells GROUP BY 1, 2)
        |SELECT CAST(a.cohort_day AS VARCHAR) AS cohort_day, a.period,
        |  CAST(a.active_users AS BIGINT) AS active_users,
        |  CAST(sz.cohort_users AS BIGINT) AS cohort_users,
        |  round(a.active_users * 10000.0 / sz.cohort_users, 4)
        |    AS retention_bp
        |FROM a JOIN sz USING (cohort_day)
        |ORDER BY cohort_day, period""".stripMargin),

    // view → click → purchase ordered funnel.
    QueryDef("q105_sequence_funnel", (s, dir) =>
      EventFunnel.sequenceFunnel(Tables.load(s, dir, "events"),
        FunnelSteps),
      funnelOracle),

    // SCD2 change intervals over the event stream: per user, runs of
    // the same event_type collapse to validity windows (open run =
    // null valid_to). One user-keyed shuffle; both windows and the
    // interval aggregate share its partitioning.
    QueryDef("q121_change_intervals", (s, dir) =>
      TimeSeries.changeIntervals(Tables.load(s, dir, "events"),
        "user_id", "event_type", "ts")
        .orderBy("key", "valid_from", "state"),
      // Run-length state history: lag flags changes, a ROWS-framed running
      // sum numbers runs (ROWS on BOTH sides — DuckDB's default RANGE
      // frame would merge tied timestamps), lead closes each interval.
      """WITH b AS (SELECT user_id AS key, event_type AS state, ts
        |  FROM events),
        |g AS (SELECT key, state, ts, lag(state) OVER (PARTITION BY key
        |    ORDER BY ts, state) AS prev FROM b),
        |r AS (SELECT key, state, ts,
        |    sum(CASE WHEN prev IS NULL OR prev <> state THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY key ORDER BY ts, state
        |        ROWS UNBOUNDED PRECEDING) AS run FROM g),
        |i AS (SELECT key, state, run, min(ts) AS valid_from,
        |    count(*) AS n_obs FROM r GROUP BY key, state, run),
        |f AS (SELECT key, state, valid_from,
        |    lead(valid_from) OVER (PARTITION BY key ORDER BY run)
        |      AS valid_to, n_obs FROM i)
        |SELECT key, state, valid_from, valid_to, n_obs FROM f
        |ORDER BY key, valid_from, state""".stripMargin),

    // First-order Markov transition matrix over each user's event
    // timeline: counts + P(to | from), state-domain stat rows only.
    QueryDef("q128_transitions", (s, dir) =>
      Transitions.transitionMatrix(Tables.load(s, dir, "events"),
        "user_id", "event_type"),
      // Lag over (ts, event_id) per user → state-pair census; per-from
      // totals as a window over the S² stat rows.
      """WITH g AS (SELECT user_id, event_type AS state, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_state
        |  FROM events),
        |c AS (SELECT from_state, state AS to_state, count(*) AS n
        |  FROM g WHERE from_state IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT *, sum(n) OVER (PARTITION BY from_state) AS tot
        |  FROM c)
        |SELECT from_state, to_state, n, round(n::DOUBLE / tot, 6) AS p
        |FROM t ORDER BY from_state, to_state""".stripMargin),

    // Per-event-type OLS trend of daily value volume: daily micro sums,
    // closed-form regression from DECIMAL(38,0) sufficient statistics,
    // integer num/den as the hash core.
    QueryDef("q135_trend", (s, dir) =>
      TimeSeries.trendReport(Tables.load(s, dir, "events"), "event_type"),
      // Daily micro sums → closed-form OLS from HUGEINT sufficient
      // statistics (exact, the pearsonMatrix convention), num/den BIGINT.
      """WITH d0 AS (SELECT event_type AS key, date_trunc('day', ts)::DATE
        |    AS day, CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
        |    AS y
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(day) AS day0 FROM d0),
        |d AS (SELECT key, CAST(day - day0 AS BIGINT) AS x, y FROM d0, b),
        |s AS (SELECT key, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(x * y) AS sxy FROM d GROUP BY key),
        |f AS (SELECT key, n, CAST(n * sxy - sx * sy AS BIGINT) AS num,
        |    CAST(n * sxx - sx * sx AS BIGINT) AS den FROM s)
        |SELECT key AS event_type, CAST(n AS BIGINT) AS n_days,
        |  num AS slope_num, den AS slope_den,
        |  CASE WHEN den > 0 THEN round(num::DOUBLE / den::DOUBLE, 6) END
        |    AS slope_micro_per_day
        |FROM f ORDER BY event_type""".stripMargin),

    // Upper CUSUM over each event type's daily micro-volume: integer
    // fold over the key's sorted (day, y) array; peak statistic + first
    // peak day. One corpus scan into the daily aggregate.
    QueryDef("q142_cusum", (s, dir) =>
      TimeSeries.cusumReport(Tables.load(s, dir, "events"), "event_type"),
      // The fold as a per-key recursive CTE over the row-numbered daily
      // series — identical integer updates, same first-argmax peak rule.
      """WITH RECURSIVE
        |d0 AS (SELECT event_type AS key, date_trunc('day', ts)::DATE AS day,
        |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT key, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(y) // count(*) AS BIGINT) AS mu,
        |    CAST(((sum(y) // count(*)) * 50) // 1000 AS BIGINT) AS k
        |  FROM d0 GROUP BY key),
        |o AS (SELECT d0.*, row_number() OVER (PARTITION BY key ORDER BY day)
        |    AS rn FROM d0),
        |r AS (
        |  SELECT o.key, o.rn,
        |    greatest(0, o.y - st.mu - st.k) AS s,
        |    greatest(0, o.y - st.mu - st.k) AS smax,
        |    CASE WHEN greatest(0, o.y - st.mu - st.k) > 0 THEN o.day END
        |      AS peak
        |  FROM o JOIN st ON st.key = o.key WHERE o.rn = 1
        |  UNION ALL
        |  SELECT o.key, o.rn,
        |    greatest(0, r.s + o.y - st.mu - st.k),
        |    CASE WHEN greatest(0, r.s + o.y - st.mu - st.k) > r.smax
        |      THEN greatest(0, r.s + o.y - st.mu - st.k) ELSE r.smax END,
        |    CASE WHEN greatest(0, r.s + o.y - st.mu - st.k) > r.smax
        |      THEN o.day ELSE r.peak END
        |  FROM r JOIN o ON o.key = r.key AND o.rn = r.rn + 1
        |  JOIN st ON st.key = o.key)
        |SELECT st.key AS event_type, st.n_days, st.mu AS mu_floor,
        |  st.k AS slack, CAST(f.smax AS BIGINT) AS cusum_max,
        |  f.peak AS peak_day
        |FROM st JOIN r f ON f.key = st.key AND f.rn = st.n_days
        |ORDER BY event_type""".stripMargin),

    // Median of pairwise daily slopes per event type — calendar-grain
    // pair join over the cached daily census, doubled-integer median.
    QueryDef("q146_theil_sen", (s, dir) =>
      TimeSeries.theilSen(Tables.load(s, dir, "events"), "event_type"),
      """WITH d0 AS (SELECT event_type AS key,
        |    date_trunc('day', ts)::DATE AS day,
        |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(day) AS day0 FROM d0),
        |d AS (SELECT key, CAST(day - day0 AS BIGINT) AS x, y FROM d0, b),
        |sl AS (SELECT a.key,
        |    CAST(round((b2.y - a.y)::DOUBLE / (b2.x - a.x)) AS BIGINT)
        |      AS slope
        |  FROM d a JOIN d b2 ON a.key = b2.key AND b2.x > a.x),
        |ag AS (SELECT key, count(*) AS n_pairs,
        |    array_agg(slope ORDER BY slope) AS arr FROM sl GROUP BY key),
        |m AS (SELECT key, CAST(n_pairs AS BIGINT) AS n_pairs,
        |    CAST(arr[CAST((n_pairs + 1) // 2 AS INT)] +
        |      arr[CAST(n_pairs // 2 + 1 AS INT)] AS BIGINT) AS med2
        |  FROM ag)
        |SELECT key AS event_type, n_pairs, med2,
        |  round(med2::DOUBLE / 2, 1) AS slope_micro_per_day
        |FROM m ORDER BY event_type""".stripMargin),

    // Weekday indices: each dow's share of the key's mean daily volume
    // in exact integer ppm.
    QueryDef("q147_seasonality", (s, dir) =>
      TimeSeries.seasonalityReport(Tables.load(s, dir, "events"), "event_type"),
      """WITH daily AS (SELECT event_type AS key,
        |    date_trunc('day', ts)::DATE AS day,
        |    CAST(sum(CAST(round(value * 1e3) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |bd AS (SELECT key, CAST(dayofweek(day) + 1 AS INTEGER) AS dow,
        |    count(*) AS n_days_dow, CAST(sum(y) AS BIGINT) AS s_dow
        |  FROM daily GROUP BY 1, 2),
        |w AS (SELECT *,
        |    CAST(sum(n_days_dow) OVER (PARTITION BY key) AS BIGINT)
        |      AS n_days,
        |    CAST(sum(s_dow) OVER (PARTITION BY key) AS BIGINT) AS s_total
        |  FROM bd)
        |SELECT key AS event_type, dow,
        |  CAST(n_days_dow AS BIGINT) AS n_days_dow, s_dow AS s_dow_milli,
        |  n_days, s_total AS s_total_milli,
        |  CAST((s_dow * n_days * 1000000) // (n_days_dow * s_total)
        |    AS BIGINT) AS idx_ppm
        |FROM w ORDER BY event_type, dow""".stripMargin),

    // Serial dependence of daily volume per event type: cleared-denominator
    // cross/centered terms rounded to integer milli² before totalling.
    QueryDef("q148_autocorr", (s, dir) =>
      TimeSeries.autocorrReport(Tables.load(s, dir, "events"), "event_type"),
      """WITH d0 AS (SELECT event_type AS key,
        |    date_trunc('day', ts)::DATE AS day,
        |    CAST(sum(CAST(round(value * 1e3) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT key, count(*) AS n_days, sum(y) AS s_all
        |  FROM d0 GROUP BY key),
        |w AS (SELECT d0.key, d0.day, d0.y, st.n_days, st.s_all
        |  FROM d0 JOIN st USING (key)),
        |den AS (SELECT key, CAST(max(n_days) AS BIGINT) AS n_days,
        |    CAST(sum(CAST(round(
        |      CAST((y * n_days - s_all) * (y * n_days - s_all) AS DOUBLE) /
        |      (n_days::DOUBLE * n_days)) AS BIGINT)) AS BIGINT)
        |      AS den_milli2
        |  FROM w GROUP BY key),
        |num AS (SELECT a.key, count(*) AS n_pairs,
        |    CAST(sum(CAST(round(
        |      CAST((a.y * a.n_days - a.s_all) * (b.y * a.n_days - a.s_all)
        |        AS DOUBLE) / (a.n_days::DOUBLE * a.n_days)) AS BIGINT))
        |      AS BIGINT) AS num_milli2
        |  FROM w a JOIN w b ON a.key = b.key AND b.day = a.day + 1
        |  GROUP BY a.key)
        |SELECT den.key AS event_type, den.n_days,
        |  CAST(coalesce(num.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  num.num_milli2, den.den_milli2,
        |  CASE WHEN den.den_milli2 > 0 AND coalesce(num.n_pairs, 0) > 0
        |    THEN round(num.num_milli2::DOUBLE / den.den_milli2, 6) END
        |    AS acf1
        |FROM den LEFT JOIN num ON num.key = den.key
        |ORDER BY event_type""".stripMargin),

    // Nonparametric trend: integer S over the calendar pair join + the
    // tie-corrected 18·Var(S); continuity-corrected z at 6 dp.
    QueryDef("q149_mann_kendall", (s, dir) =>
      TimeSeries.mannKendall(Tables.load(s, dir, "events"), "event_type"),
      """WITH d0 AS (SELECT event_type AS key,
        |    date_trunc('day', ts)::DATE AS day,
        |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.key, CAST(sign(b2.y - a.y) AS BIGINT) AS sgn
        |  FROM d0 a JOIN d0 b2 ON a.key = b2.key AND a.day < b2.day),
        |s AS (SELECT key, count(*) AS n_pairs, sum(sgn) AS s_stat
        |  FROM p GROUP BY key),
        |t0 AS (SELECT key, y, count(*) AS t FROM d0 GROUP BY 1, 2),
        |t AS (SELECT key, count(*) AS n_distinct, sum(t) AS n_days,
        |    sum(t * (t - 1) * (2 * t + 5)) AS tie_term FROM t0 GROUP BY key),
        |f AS (SELECT t.key, CAST(t.n_days AS BIGINT) AS n_days,
        |    CAST(t.n_distinct AS BIGINT) AS n_distinct,
        |    CAST(coalesce(s.n_pairs, 0) AS BIGINT) AS n_pairs,
        |    CAST(coalesce(s.s_stat, 0) AS BIGINT) AS s_stat,
        |    CAST(t.n_days * (t.n_days - 1) * (2 * t.n_days + 5) -
        |      t.tie_term AS BIGINT) AS var18
        |  FROM t LEFT JOIN s ON s.key = t.key)
        |SELECT key AS event_type, n_days, n_distinct, n_pairs, s_stat,
        |  var18,
        |  CASE WHEN var18 > 0 THEN round(
        |    (CASE WHEN s_stat > 0 THEN s_stat - 1
        |      WHEN s_stat < 0 THEN s_stat + 1 ELSE 0 END)::DOUBLE /
        |    sqrt(var18::DOUBLE / 18.0), 6) END AS z_stat
        |FROM f ORDER BY event_type""".stripMargin),

    // Daily trailing-7-day exact P95 of event value: value-domain fan +
    // conditional-min pick at ⌈0.95·n⌉.
    QueryDef("q151_rolling_p95", (s, dir) =>
      TimeSeries.rollingP95(Tables.load(s, dir, "events")),
      """WITH h AS (SELECT date_trunc('day', ts)::DATE AS day,
        |    CAST(round(value * 1e6) AS BIGINT) AS vm, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM h),
        |fan AS (SELECT d.day AS day, h.vm, CAST(sum(h.c) AS BIGINT) AS c
        |  FROM days d JOIN h ON h.day <= d.day AND h.day > d.day - 7
        |  GROUP BY 1, 2),
        |w AS (SELECT *, sum(c) OVER (PARTITION BY day ORDER BY vm
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY day) AS BIGINT) AS n_window
        |  FROM fan)
        |SELECT day, n_window,
        |  CAST((19 * n_window + 19) // 20 AS BIGINT) AS rank_q,
        |  CAST(min(CASE WHEN cum >= (19 * n_window + 19) // 20 THEN vm END)
        |    AS BIGINT) AS p95_micro
        |FROM w GROUP BY day, n_window ORDER BY day""".stripMargin),

    // α=¼ integer EWMA per event type + one-step MAE.
    QueryDef("q161_ewma_forecast", (s, dir) =>
      TimeSeries.ewmaForecast(Tables.load(s, dir, "events"), "event_type"),
      """WITH RECURSIVE
        |d0 AS (SELECT event_type AS key,
        |    date_trunc('day', ts)::DATE AS day,
        |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT key, count(*) AS n FROM d0 GROUP BY key),
        |o AS (SELECT d0.*, row_number() OVER (PARTITION BY key
        |    ORDER BY day) AS rn FROM d0),
        |r AS (
        |  SELECT key, rn, y AS s, CAST(0 AS BIGINT) AS ae
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.key, o.rn, (3 * r.s + o.y) // 4, r.ae + abs(o.y - r.s)
        |  FROM r JOIN o ON o.key = r.key AND o.rn = r.rn + 1)
        |SELECT st.key AS event_type, CAST(st.n AS BIGINT) AS n_days,
        |  CAST(f.s AS BIGINT) AS ewma_final,
        |  CASE WHEN st.n > 1 THEN CAST(f.ae // (st.n - 1) AS BIGINT) END
        |    AS mae_micro
        |FROM st JOIN r f ON f.key = st.key AND f.rn = st.n
        |ORDER BY event_type""".stripMargin),

    // Per-type usage cadence: consecutive-event gaps per (user, type),
    // exact value-domain quartiles off the gap census.
    QueryDef("q168_inter_arrival", (s, dir) =>
      TimeSeries.interArrivalReport(Tables.load(s, dir, "events"),
        "event_type"),
      """WITH e AS (SELECT event_type AS k, user_id AS u,
        |    epoch_us(ts) AS t, event_id AS eid FROM events),
        |d AS (SELECT k, t - lag(t) OVER (PARTITION BY u, k
        |    ORDER BY t, eid) AS dt FROM e),
        |c AS (SELECT k, dt, count(*) AS c FROM d WHERE dt IS NOT NULL
        |  GROUP BY 1, 2),
        |w AS (SELECT *,
        |    sum(c) OVER (PARTITION BY k ORDER BY dt
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY k) AS BIGINT) AS n,
        |    CAST(sum(dt * c) OVER (PARTITION BY k) AS BIGINT) AS s
        |  FROM c)
        |SELECT k AS event_type, n AS n_gaps,
        |  CAST(s // n AS BIGINT) AS mean_us,
        |  CAST(min(CASE WHEN cum >= (n + 3) // 4 THEN dt END)
        |    AS BIGINT) AS p25_us,
        |  CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN dt END)
        |    AS BIGINT) AS p50_us,
        |  CAST(min(CASE WHEN cum >= (3 * n + 3) // 4 THEN dt END)
        |    AS BIGINT) AS p75_us,
        |  CAST(min(CASE WHEN cum >= (9 * n + 9) // 10 THEN dt END)
        |    AS BIGINT) AS p90_us
        |FROM w GROUP BY k, n, s ORDER BY event_type""".stripMargin),

    QueryDef("q171_conversion_latency", (s, dir) =>
      EventFunnel.conversionLatency(Tables.load(s, dir, "events"),
        col("event_type") === "view",
        col("event_type") === "purchase" && col("value") > StatsQueries.ConvMinValue),
      s"""WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t,
         |    (event_type = 'view') AS isa,
         |    (event_type = 'purchase' AND value > ${StatsQueries.ConvMinValue}) AS isb
         |  FROM events
         |  WHERE event_type = 'view'
         |    OR (event_type = 'purchase' AND value > ${StatsQueries.ConvMinValue})),
         |fa AS (SELECT u, min(t) AS ta FROM e WHERE isa GROUP BY u),
         |cv AS (SELECT fa.u, fa.ta, min(e.t) AS tb FROM fa
         |  JOIN e ON e.u = fa.u AND e.isb AND e.t >= fa.ta
         |  GROUP BY fa.u, fa.ta),
         |st AS (SELECT make_timestamp(ta)::DATE AS day,
         |    CAST(count(*) AS BIGINT) AS n_started FROM fa GROUP BY 1),
         |c AS (SELECT make_timestamp(ta)::DATE AS day, tb - ta AS dt,
         |    count(*) AS c FROM cv GROUP BY 1, 2),
         |w AS (SELECT *,
         |    sum(c) OVER (PARTITION BY day ORDER BY dt
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    CAST(sum(c) OVER (PARTITION BY day) AS BIGINT) AS n,
         |    CAST(sum(dt * c) OVER (PARTITION BY day) AS BIGINT) AS s
         |  FROM c),
         |q AS (SELECT day, n, s,
         |    CAST(min(CASE WHEN cum >= (n + 3) // 4 THEN dt END)
         |      AS BIGINT) AS p25_us,
         |    CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN dt END)
         |      AS BIGINT) AS p50_us,
         |    CAST(min(CASE WHEN cum >= (3 * n + 3) // 4 THEN dt END)
         |      AS BIGINT) AS p75_us,
         |    CAST(min(CASE WHEN cum >= (9 * n + 9) // 10 THEN dt END)
         |      AS BIGINT) AS p90_us
         |  FROM w GROUP BY day, n, s)
         |SELECT st.day, st.n_started,
         |  coalesce(q.n, 0) AS n_converted,
         |  CAST((coalesce(q.n, 0) * 1000000) // st.n_started AS BIGINT)
         |    AS conv_ppm,
         |  CASE WHEN coalesce(q.n, 0) > 0 THEN CAST(q.s // q.n AS BIGINT)
         |    END AS mean_us,
         |  q.p25_us, q.p50_us, q.p75_us, q.p90_us
         |FROM st LEFT JOIN q ON q.day = st.day
         |ORDER BY st.day""".stripMargin),

    // 3 of 5 event types read overdispersed at sf0.01 — binds both ways.
    QueryDef("q182_fano", (s, dir) =>
      TimeSeries.fanoReport(Tables.load(s, dir, "events"), "event_type"),
      """WITH d AS (SELECT event_type AS key, date_trunc('day', ts) AS dd,
        |    count(*) AS c FROM events GROUP BY 1, 2),
        |s AS (SELECT key, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(c) AS BIGINT) AS sum_events,
        |    CAST(sum(c * c) AS BIGINT) AS scc FROM d GROUP BY 1)
        |SELECT key AS event_type, n_days, sum_events,
        |  CAST(n_days * scc - sum_events * sum_events AS BIGINT)
        |    AS var_num,
        |  CASE WHEN n_days > 1 AND sum_events > 0 THEN
        |    CAST(((n_days * scc - sum_events * sum_events) * 1000000) //
        |      ((n_days - 1) * sum_events) AS BIGINT) END AS fano_ppm,
        |  CASE WHEN n_days > 1 AND sum_events > 0 THEN
        |    ((n_days * scc - sum_events * sum_events) * 1000000) //
        |      ((n_days - 1) * sum_events) > 1000000 END AS overdispersed
        |FROM s ORDER BY event_type""".stripMargin),

    QueryDef("q183_holt_forecast", (s, dir) =>
      TimeSeries.holtForecast(Tables.load(s, dir, "events"),
        "event_type"),
      """WITH RECURSIVE
        |d0 AS (SELECT event_type AS key,
        |    date_trunc('day', ts)::DATE AS day,
        |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT key, count(*) AS n FROM d0 GROUP BY key),
        |o AS (SELECT d0.*, row_number() OVER (PARTITION BY key
        |    ORDER BY day) AS rn FROM d0),
        |r AS (
        |  SELECT key, rn, y AS l, CAST(0 AS BIGINT) AS b,
        |    CAST(0 AS BIGINT) AS ae
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.key, o.rn,
        |    (3 * (r.l + r.b) + o.y) // 4,
        |    (3 * r.b + ((3 * (r.l + r.b) + o.y) // 4 - r.l)) // 4,
        |    r.ae + abs(o.y - (r.l + r.b))
        |  FROM r JOIN o ON o.key = r.key AND o.rn = r.rn + 1)
        |SELECT st.key AS event_type, CAST(st.n AS BIGINT) AS n_days,
        |  CAST(f.l AS BIGINT) AS level_final,
        |  CAST(f.b AS BIGINT) AS trend_final,
        |  CAST(f.l + f.b AS BIGINT) AS forecast_next,
        |  CASE WHEN st.n > 1 THEN CAST(f.ae // (st.n - 1) AS BIGINT) END
        |    AS mae_micro
        |FROM st JOIN r f ON f.key = st.key AND f.rn = st.n
        |ORDER BY event_type""".stripMargin),

    QueryDef("q208_chow_break", (s, dir) =>
      TimeSeries.chowTest(Tables.load(s, dir, "events"), "event_type",
        DriftQueries.PsiCutoff),
      s"""WITH d AS (SELECT event_type AS key,
         |    date_trunc('day', ts)::DATE AS day,
         |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT min(day) AS day0 FROM d),
         |x AS (SELECT key, CAST(day - day0 AS BIGINT) AS x, y,
         |    CASE WHEN day < DATE '${DriftQueries.PsiCutoff}'
         |      THEN 0 ELSE 1 END AS seg
         |  FROM d, b),
         |st AS (SELECT key, seg, CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
         |  FROM x GROUP BY 1, 2),
         |sp AS (SELECT key, CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
         |  FROM x GROUP BY 1),
         |j AS (SELECT a.key,
         |    a.n AS an, a.sx AS asx, a.sy AS asy, a.sxx AS asxx,
         |    a.sxy AS asxy, a.syy AS asyy,
         |    c.n AS bn, c.sx AS bsx, c.sy AS bsy, c.sxx AS bsxx,
         |    c.sxy AS bsxy, c.syy AS bsyy,
         |    p.n AS pn, p.sx AS psx, p.sy AS psy, p.sxx AS psxx,
         |    p.sxy AS psxy, p.syy AS psyy
         |  FROM st a JOIN st c ON a.key = c.key AND a.seg = 0
         |    AND c.seg = 1
         |  JOIN sp p ON p.key = a.key),
         |f AS (SELECT key,
         |    CAST(an AS BIGINT) AS n_pre, CAST(bn AS BIGINT) AS n_post,
         |    asxx::DOUBLE - asx::DOUBLE * asx::DOUBLE / an::DOUBLE
         |      AS sxxa,
         |    asxy::DOUBLE - asx::DOUBLE * asy::DOUBLE / an::DOUBLE
         |      AS sxya,
         |    asyy::DOUBLE - asy::DOUBLE * asy::DOUBLE / an::DOUBLE
         |      AS syya,
         |    bsxx::DOUBLE - bsx::DOUBLE * bsx::DOUBLE / bn::DOUBLE
         |      AS sxxb,
         |    bsxy::DOUBLE - bsx::DOUBLE * bsy::DOUBLE / bn::DOUBLE
         |      AS sxyb,
         |    bsyy::DOUBLE - bsy::DOUBLE * bsy::DOUBLE / bn::DOUBLE
         |      AS syyb,
         |    psxx::DOUBLE - psx::DOUBLE * psx::DOUBLE / pn::DOUBLE
         |      AS sxxp,
         |    psxy::DOUBLE - psx::DOUBLE * psy::DOUBLE / pn::DOUBLE
         |      AS sxyp,
         |    psyy::DOUBLE - psy::DOUBLE * psy::DOUBLE / pn::DOUBLE
         |      AS syyp,
         |    an::DOUBLE + bn::DOUBLE AS nt
         |  FROM j)
         |SELECT key AS event_type, n_pre, n_post,
         |  CASE WHEN sxxa > 0 THEN round(sxya / sxxa, 6) END AS slope_pre,
         |  CASE WHEN sxxb > 0 THEN round(sxyb / sxxb, 6) END
         |    AS slope_post,
         |  CASE WHEN n_pre >= 3 AND n_post >= 3 AND sxxa > 0
         |      AND sxxb > 0 AND ((syya - sxya * sxya / sxxa) +
         |        (syyb - sxyb * sxyb / sxxb)) > 0 THEN
         |    round((((syyp - sxyp * sxyp / sxxp) -
         |      (syya - sxya * sxya / sxxa) -
         |      (syyb - sxyb * sxyb / sxxb)) / 2.0) /
         |      (((syya - sxya * sxya / sxxa) +
         |        (syyb - sxyb * sxyb / sxxb)) / (nt - 4.0)), 6) END
         |    AS f_stat
         |FROM f ORDER BY event_type""".stripMargin),

    QueryDef("q213_session_paths", (s, dir) =>
      Sessionize.topPaths(Tables.load(s, dir, "events"),
        SessionGapSeconds, PathLen, PathTopN),
      s"""WITH g AS (SELECT user_id, event_id, ts, event_type,
         |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS prev_ts
         |  FROM events),
         |s AS (SELECT user_id, event_id, ts, event_type,
         |    CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts,
         |      ts) > ${SessionGapSeconds} THEN 1 ELSE 0 END
         |      AS new_s
         |  FROM g),
         |c AS (SELECT user_id, event_id, ts, event_type,
         |    CAST(sum(new_s) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) AS session_idx
         |  FROM s),
         |r AS (SELECT *, row_number() OVER (PARTITION BY user_id,
         |    session_idx ORDER BY ts, event_id) AS rn FROM c),
         |p AS (SELECT user_id, session_idx,
         |    string_agg(event_type, '>' ORDER BY rn) AS path
         |  FROM r WHERE rn <= $PathLen GROUP BY 1, 2),
         |cen AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
         |  FROM p GROUP BY 1),
         |sh AS (SELECT path, n_sessions,
         |    CAST((n_sessions * 1000000) // (sum(n_sessions) OVER ())
         |      AS BIGINT) AS share_ppm
         |  FROM cen)
         |SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path)
         |    AS INTEGER) AS rank, path, n_sessions, share_ppm
         |FROM sh ORDER BY n_sessions DESC, path LIMIT $PathTopN""".stripMargin),

    QueryDef("q218_seasonal_residuals", (s, dir) =>
      Anomaly.seasonalResidualReport(Tables.load(s, dir, "events"),
        "event_type", thresholdPermille = SeasonalThresholdPermille),
      s"""WITH d AS (SELECT event_type AS key,
         |    date_trunc('day', ts)::DATE AS day,
         |    CAST(count(*) AS BIGINT) AS volume
         |  FROM events GROUP BY 1, 2),
         |dd AS (SELECT *, CAST(dayofweek(day) AS INTEGER) AS dow FROM d),
         |p AS (SELECT key, dow,
         |    CAST(sum(volume) // count(*) AS BIGINT) AS dow_mean_floor
         |  FROM dd GROUP BY 1, 2)
         |SELECT dd.key AS event_type, dd.day, dd.dow, dd.volume,
         |  p.dow_mean_floor,
         |  CAST(dd.volume - p.dow_mean_floor AS BIGINT) AS residual,
         |  abs(dd.volume - p.dow_mean_floor) * 1000 >
         |    p.dow_mean_floor * $SeasonalThresholdPermille AS flagged
         |FROM dd JOIN p ON p.key = dd.key AND p.dow = dd.dow
         |ORDER BY event_type, day""".stripMargin),

    // Do errors follow purchases, and by how many days?
    QueryDef("q220_cross_correlation", (s, dir) =>
      TimeSeries.crossCorrelation(Tables.load(s, dir, "events"),
        "event_type", "purchase", "error", XcorrMaxLag),
      s"""WITH d AS (SELECT event_type AS key,
         |    date_trunc('day', ts)::DATE AS day,
         |    CAST(count(*) AS BIGINT) AS y
         |  FROM events WHERE event_type IN ('purchase', 'error')
         |  GROUP BY 1, 2),
         |a AS (SELECT day, y AS ya FROM d WHERE key = 'purchase'),
         |b AS (SELECT day AS day_b, y AS yb FROM d WHERE key = 'error'),
         |f AS (SELECT a.day, a.ya, CAST(l.lag AS INTEGER) AS lag
         |  FROM a, unnest(range(-$XcorrMaxLag, ${XcorrMaxLag + 1}))
         |    l(lag)),
         |s AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
         |    CAST(sum(CAST(ya AS HUGEINT)) AS HUGEINT) AS sx,
         |    CAST(sum(CAST(yb AS HUGEINT)) AS HUGEINT) AS sy,
         |    CAST(sum(CAST(ya AS HUGEINT) * ya) AS HUGEINT) AS sxx,
         |    CAST(sum(CAST(yb AS HUGEINT) * yb) AS HUGEINT) AS syy,
         |    CAST(sum(CAST(ya AS HUGEINT) * yb) AS HUGEINT) AS sxy
         |  FROM f JOIN b ON b.day_b = f.day + f.lag
         |  GROUP BY 1),
         |r AS (SELECT lag, n_days,
         |    CASE WHEN n_days >= 3
         |      AND (n_days::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
         |        > 0
         |      AND (n_days::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)
         |        > 0 THEN
         |      round((n_days::DOUBLE * sxy::DOUBLE -
         |        sx::DOUBLE * sy::DOUBLE) /
         |        sqrt((n_days::DOUBLE * sxx::DOUBLE -
         |          sx::DOUBLE * sx::DOUBLE) *
         |         (n_days::DOUBLE * syy::DOUBLE -
         |          sy::DOUBLE * sy::DOUBLE)), 6) END AS r
         |  FROM s),
         |m AS (SELECT max(CASE WHEN r IS NOT NULL THEN
         |      CAST(round(abs(r) * 1e6) AS BIGINT) END) AS am FROM r),
         |bl AS (SELECT min(lag) AS best_lag FROM r, m
         |  WHERE r IS NOT NULL
         |    AND CAST(round(abs(r) * 1e6) AS BIGINT) = m.am)
         |SELECT r.lag, r.n_days, r.r,
         |  (bl.best_lag IS NOT NULL AND r.lag = bl.best_lag) AS best
         |FROM r, bl ORDER BY r.lag""".stripMargin),

    QueryDef("q222_best_break", (s, dir) =>
      TimeSeries.bestMeanBreak(Tables.load(s, dir, "events"),
        "event_type"),
      """WITH d AS (SELECT event_type AS key,
        |    date_trunc('day', ts)::DATE AS day,
        |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT *,
        |    CAST(row_number() OVER (PARTITION BY key ORDER BY day)
        |      AS BIGINT) AS i,
        |    CAST(sum(CAST(y AS HUGEINT)) OVER (PARTITION BY key
        |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS HUGEINT) AS cy,
        |    CAST(sum(CAST(y AS HUGEINT) * y) OVER (PARTITION BY key
        |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS HUGEINT) AS cyy,
        |    CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n,
        |    CAST(sum(CAST(y AS HUGEINT)) OVER (PARTITION BY key)
        |      AS HUGEINT) AS ty,
        |    CAST(sum(CAST(y AS HUGEINT) * y) OVER (PARTITION BY key)
        |      AS HUGEINT) AS tyy
        |  FROM d),
        |f AS (SELECT key, day, i, n,
        |    (cyy::DOUBLE - cy::DOUBLE * cy::DOUBLE / i) +
        |    ((tyy::DOUBLE - cyy::DOUBLE) -
        |      (ty::DOUBLE - cy::DOUBLE) * (ty::DOUBLE - cy::DOUBLE) /
        |      (n - i)) AS rss_split,
        |    tyy::DOUBLE - ty::DOUBLE * ty::DOUBLE / n AS rss_total
        |  FROM c WHERE n >= 4 AND i >= 2 AND i <= n - 2),
        |r AS (SELECT *, CAST(round(rss_split / 1e6) AS BIGINT) AS rm,
        |    row_number() OVER (PARTITION BY key
        |      ORDER BY CAST(round(rss_split / 1e6) AS BIGINT), day)
        |      AS pick
        |  FROM f)
        |SELECT key AS event_type, n AS n_days, day AS split_after_day,
        |  i AS n_left, round(rss_total / 1e12, 6) AS rss_total,
        |  round(rss_split / 1e12, 6) AS rss_split,
        |  CASE WHEN rss_total > 0 THEN
        |    round((rss_total - rss_split) / rss_total, 6) END
        |    AS var_reduction
        |FROM r WHERE pick = 1 ORDER BY event_type""".stripMargin),

    // Removal-effect attribution over purchase journeys: channel
    // credit = absorption-probability drop when the channel's node
    // redirects to ~null. All variants propagate together.
    QueryDef("q230_removal_effect", (s, dir) =>
      Transitions.removalEffect(Tables.load(s, dir, "events"),
        "purchase", RemovalSteps), {
      def step(k: Int) =
        s"""w$k AS (SELECT stt.v, stt.s,
           |    CASE WHEN stt.s = '~conv' THEN 1000000
           |      WHEN stt.s = '~null' THEN 0
           |      ELSE coalesce(a.agg, 0) END AS val
           |  FROM stt LEFT JOIN (
           |    SELECT vm.v, vm.f AS s,
           |      sum(vm.p * pv.val) // 1000000 AS agg
           |    FROM vm JOIN w${k - 1} pv
           |      ON pv.v = vm.v AND pv.s = vm.t
           |    GROUP BY 1, 2) a ON a.v = stt.v AND a.s = stt.s)"""
          .stripMargin
      s"""WITH ev AS (SELECT user_id AS u, event_type AS s, ts,
         |    event_id AS e FROM events),
         |cv AS (SELECT u, ts AS cts, e AS ce FROM (
         |    SELECT u, ts, e, row_number() OVER (PARTITION BY u
         |      ORDER BY ts, e) AS rn FROM ev WHERE s = 'purchase')
         |  WHERE rn = 1),
         |j AS (SELECT ev.u, ev.s, cv.cts IS NOT NULL AS has_conv,
         |    row_number() OVER (PARTITION BY ev.u
         |      ORDER BY ev.ts, ev.e) AS rn,
         |    count(*) OVER (PARTITION BY ev.u) AS nmax,
         |    lag(ev.s) OVER (PARTITION BY ev.u
         |      ORDER BY ev.ts, ev.e) AS prev
         |  FROM ev LEFT JOIN cv ON cv.u = ev.u
         |  WHERE cv.u IS NULL OR ev.ts < cv.cts
         |    OR (ev.ts = cv.cts AND ev.e < cv.ce)),
         |tr AS (
         |  SELECT prev AS f, s AS t FROM j WHERE rn >= 2
         |  UNION ALL SELECT '~start', s FROM j WHERE rn = 1
         |  UNION ALL SELECT s, CASE WHEN has_conv THEN '~conv'
         |    ELSE '~null' END FROM j WHERE rn = nmax
         |  UNION ALL SELECT '~start', '~conv' FROM cv
         |    WHERE u NOT IN (SELECT DISTINCT u FROM j)),
         |mm AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM tr
         |  GROUP BY 1, 2),
         |m AS (SELECT f, t, (n * 1000000) //
         |    sum(n) OVER (PARTITION BY f) AS p FROM mm),
         |ch AS (SELECT DISTINCT f AS c FROM m WHERE f <> '~start'),
         |vm AS (SELECT v, f, t, CAST(sum(p) AS BIGINT) AS p FROM (
         |    SELECT '~full' AS v, f, t, p FROM m
         |    UNION ALL
         |    SELECT ch.c, m.f, CASE WHEN m.t = ch.c THEN '~null'
         |      ELSE m.t END, m.p
         |    FROM m JOIN ch ON m.f <> ch.c) GROUP BY 1, 2, 3),
         |stt AS (SELECT DISTINCT v, s FROM (SELECT v, f AS s FROM vm
         |    UNION ALL SELECT v, t FROM vm)),
         |w0 AS (SELECT v, s, CASE WHEN s = '~conv' THEN 1000000
         |    ELSE 0 END AS val FROM stt),
         |${(1 to RemovalSteps).map(step).mkString(",\n")},
         |res AS (SELECT v, val FROM w$RemovalSteps
         |  WHERE s = '~start'),
         |pf AS (SELECT val AS pfull FROM res WHERE v = '~full'),
         |per AS (SELECT v AS channel, pfull, val,
         |    pfull - val AS rem FROM res, pf WHERE v <> '~full'),
         |tt AS (SELECT CAST(sum(rem) AS BIGINT) AS rtot FROM per)
         |SELECT channel, CAST(pfull AS BIGINT) AS p_conv_full_micro,
         |  CAST(val AS BIGINT) AS p_conv_removed_micro,
         |  CASE WHEN pfull > 0 THEN CAST((rem * 1000000) // pfull
         |    AS BIGINT) END AS removal_effect_ppm,
         |  CASE WHEN rtot > 0 THEN CAST((rem * 1000000) // rtot
         |    AS BIGINT) END AS share_ppm
         |FROM per, tt ORDER BY channel""".stripMargin
    }),

    // Gap-tolerant "a then eventually b" census with lift vs the
    // independence baseline — funnel discovery over the event log.
    QueryDef("q231_followed_by", (s, dir) =>
      Transitions.followedByCensus(Tables.load(s, dir, "events")),
      """WITH pos AS (SELECT user_id AS key, event_type AS state,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS pos
        |  FROM events),
        |per AS (SELECT key, state, min(pos) AS fp, max(pos) AS lp
        |  FROM pos GROUP BY 1, 2),
        |nk AS (SELECT CAST(count(DISTINCT key) AS BIGINT) AS n_keys
        |  FROM per),
        |tt AS (SELECT state, CAST(count(*) AS BIGINT) AS n_with
        |  FROM per GROUP BY 1),
        |pr AS (SELECT a.state AS type_a, b.state AS type_b,
        |    CAST(sum(CASE WHEN a.fp < b.lp THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_ab
        |  FROM per a JOIN per b ON a.key = b.key
        |    AND a.state <> b.state
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_keys, ta.n_with AS n_a,
        |  tb.n_with AS n_b, n_ab,
        |  CAST((n_ab * 1000000) // ta.n_with AS BIGINT)
        |    AS followed_ppm,
        |  CAST((CAST(n_ab AS HUGEINT) * n_keys * 1000000) //
        |    (CAST(ta.n_with AS HUGEINT) * tb.n_with) AS BIGINT)
        |    AS lift_ppm
        |FROM pr JOIN tt ta ON ta.state = type_a
        |  JOIN tt tb ON tb.state = type_b, nk
        |ORDER BY type_a, type_b""".stripMargin),

    // Length-3 gapped sequential patterns by key support — the
    // PrefixSpan question at fixed depth via witness statistics.
    QueryDef("q234_seq_triples", (s, dir) =>
      Transitions.sequentialTriples(Tables.load(s, dir, "events"),
        TriplesTopN),
      s"""WITH pos AS (SELECT user_id AS key, event_type AS state,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS pos
         |  FROM events),
         |st AS (SELECT key, state, min(pos) AS fp, max(pos) AS lp
         |  FROM pos GROUP BY 1, 2),
         |fab AS (SELECT a.key, a.state AS a, p.state AS b,
         |    CAST(min(p.pos) AS BIGINT) AS fab
         |  FROM st a JOIN pos p ON p.key = a.key AND p.pos > a.fp
         |    AND p.state <> a.state
         |  GROUP BY 1, 2, 3)
         |SELECT fab.a AS type_a, fab.b AS type_b, c.state AS type_c,
         |  CAST(count(*) AS BIGINT) AS support
         |FROM fab JOIN st c ON c.key = fab.key
         |  AND c.state <> fab.a AND c.state <> fab.b
         |  AND fab.fab < c.lp
         |GROUP BY 1, 2, 3
         |ORDER BY support DESC, type_a, type_b, type_c
         |LIMIT $TriplesTopN""".stripMargin),

    // Online drift vs the RUNNING mean — CUSUM's prospective sibling.
    QueryDef("q243_page_hinkley", (s, dir) =>
      TimeSeries.pageHinkleyReport(Tables.load(s, dir, "events"),
        "event_type", deltaCount = PhDelta, lambdaCount = PhLambda),
      s"""WITH d AS (SELECT event_type AS key,
         |    date_trunc('day', ts)::DATE AS day,
         |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
         |t AS (SELECT key, day, x,
         |    row_number() OVER (PARTITION BY key ORDER BY day) AS i,
         |    sum(x) OVER (PARTITION BY key ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum FROM d),
         |u AS (SELECT key, day, x,
         |    sum(x - cum // i - $PhDelta) OVER (PARTITION BY key
         |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
         |      CURRENT ROW) AS u FROM t),
         |m AS (SELECT key, day, x, u,
         |    min(u) OVER (PARTITION BY key ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS minu FROM u)
         |SELECT key AS event_type, day, x,
         |  CAST(u - minu AS BIGINT) AS ph_stat,
         |  (u - minu) > $PhLambda AS alarm
         |FROM m ORDER BY event_type, day""".stripMargin))
}

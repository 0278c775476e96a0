package graft
package registry

import org.apache.spark.sql.functions._

import graft.operators.{CorpusStats, EmbeddingDrift, ProfileDrift}

/** Distribution drift between two snapshots of the same data: PSI,
  * KS, rank-sum, Welch, QQ, Wasserstein and trimmed-shift reports,
  * token-distribution KL and embedding-centroid drift.
  */
object DriftQueries extends QueryModule {

  /** q98 snapshot cut: mid-range of the fixture's 30-day event window,
    * so both sides hold real mass at every SF.
    */
  val PsiCutoff = "2024-01-16"

  val PsiBins = 10

  /** q184 monitors the four lineitem numeric columns across a
    * ship-date cut.
    */
  val DriftCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  val ShipCutoff = "1998-01-01"

  val TrimPct = 5

  val defs: Seq[QueryDef] = Seq(
    // Per-source KL from the corpus blend: integer nano-nat sums, so
    // the vocabulary-sized Σ is order-independent and oracle-exact.
    QueryDef("q87_token_kl", (s, dir) =>
      CorpusStats.tokenKlReport(Tables.load(s, dir, "documents")),
      // per-term contribution rounded to nano-nats BEFORE the sum — the
      // identical double expression on both engines feeds CAST(round(...))
      s"""WITH tk AS (SELECT source AS g, unnest($tokSql) AS w FROM documents),
         |sc AS (SELECT g, w, count(*) AS c FROM tk GROUP BY g, w),
         |corpus AS (SELECT w, sum(c) AS ca FROM sc GROUP BY w),
         |tot AS (SELECT g, sum(c) AS t FROM sc GROUP BY g),
         |gr AS (SELECT sum(t) AS grand FROM tot),
         |n AS (SELECT sc.g, tot.t,
         |    CAST(round(((c / t) * ln((c / t) / (ca / gr.grand)))
         |      * 1000000000.0) AS BIGINT) AS nano
         |  FROM sc JOIN corpus USING (w) JOIN tot ON sc.g = tot.g, gr)
         |SELECT g AS source, count(*) AS n_terms,
         |  CAST(t AS BIGINT) AS n_tokens,
         |  round(sum(nano) / 1000000000.0, 6) AS kl
         |FROM n GROUP BY g, t ORDER BY source""".stripMargin),

    // Embedding drift between two snapshot slices (vec_id % 5 carves
    // overlapping-but-different 80% subsets): per-label centroid cosine
    // and norm ratio.
    QueryDef("q88_embedding_drift", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      EmbeddingDrift.report(
        e.filter(col("vec_id") % 5 =!= 0),
        e.filter(col("vec_id") % 5 =!= 1))
    },
      // range(1, 65) = the fixture's 64 embedding dims (FIXTURES.md; same
      // constant as q49's oracle) — the OPERATOR is dimension-agnostic,
      // only this oracle pins the fixture geometry. The centroid cosine
      // is double arithmetic whose combine order differs per engine; the
      // 4-dp round absorbs it (ulp-scale error vs 1e-4 resolution — same
      // accepted trade as q49's avg_centroid_cos).
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |o AS (SELECT * FROM e WHERE vec_id % 5 <> 0),
        |nw AS (SELECT * FROM e WHERE vec_id % 5 <> 1),
        |po AS (SELECT label, pos, avg(v[pos]) AS mo
        |  FROM o, (SELECT unnest(range(1, 65)) AS pos) p GROUP BY label, pos),
        |pn AS (SELECT label, pos, avg(v[pos]) AS mn
        |  FROM nw, (SELECT unnest(range(1, 65)) AS pos) p GROUP BY label, pos),
        |g AS (SELECT po.label,
        |    round(sum(mo * mn) / (sqrt(sum(mo * mo)) * sqrt(sum(mn * mn))), 4)
        |      AS centroid_cos,
        |    round(sqrt(sum(mn * mn)) / sqrt(sum(mo * mo)), 4) AS norm_ratio
        |  FROM po JOIN pn ON po.label = pn.label AND po.pos = pn.pos
        |  GROUP BY po.label),
        |co AS (SELECT label, count(*) AS n_old FROM o GROUP BY label),
        |cn AS (SELECT label, count(*) AS n_new FROM nw GROUP BY label)
        |SELECT g.label, n_old, n_new, centroid_cos, norm_ratio
        |FROM g JOIN co ON g.label = co.label JOIN cn ON g.label = cn.label
        |ORDER BY g.label""".stripMargin),

    // PSI drift on purchase/click/... values across the mid-month cut.
    QueryDef("q98_psi_drift", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val cut = lit(PsiCutoff).cast("timestamp")
      ProfileDrift.psiReport(ev.filter(col("ts") < cut),
        ev.filter(col("ts") >= cut), "event_type", "value", PsiBins)
    }, {
      val half = PsiBins / 2.0
      def share(c: String, n: String) = s"(($c + 0.5) / ($n + $half))"
      val p = share("c_ref", "n_ref")
      val q = share("c_cur", "n_cur")
      s"""WITH r AS (SELECT event_type AS g, value AS v FROM events
         |    WHERE ts < TIMESTAMP '$PsiCutoff' AND value IS NOT NULL),
         |c AS (SELECT event_type AS g, value AS v FROM events
         |    WHERE ts >= TIMESTAMP '$PsiCutoff' AND value IS NOT NULL),
         |b AS (SELECT g, min(v) AS lo,
         |    (max(v) - min(v)) / $PsiBins AS width FROM r GROUP BY g),
         |hr AS (SELECT r.g,
         |    CASE WHEN b.width > 0 THEN least(${PsiBins - 1}, greatest(0,
         |      CAST(floor((r.v - b.lo) / b.width) AS INTEGER)))
         |    ELSE 0 END AS bucket, count(*) AS c_ref
         |  FROM r JOIN b USING (g) GROUP BY 1, 2),
         |hc AS (SELECT c.g,
         |    CASE WHEN b.width > 0 THEN least(${PsiBins - 1}, greatest(0,
         |      CAST(floor((c.v - b.lo) / b.width) AS INTEGER)))
         |    ELSE 0 END AS bucket, count(*) AS c_cur
         |  FROM c JOIN b USING (g) GROUP BY 1, 2),
         |h AS (SELECT coalesce(hr.g, hc.g) AS g,
         |    coalesce(hr.bucket, hc.bucket) AS bucket,
         |    coalesce(c_ref, 0) AS c_ref, coalesce(c_cur, 0) AS c_cur
         |  FROM hr FULL OUTER JOIN hc
         |    ON hr.g = hc.g AND hr.bucket = hc.bucket),
         |t AS (SELECT g, CAST(sum(c_ref) AS BIGINT) AS n_ref,
         |    CAST(sum(c_cur) AS BIGINT) AS n_cur
         |  FROM h GROUP BY g
         |  HAVING sum(c_ref) > 0 AND sum(c_cur) > 0),
         |k AS (SELECT h.g, t.n_ref, t.n_cur,
         |    CAST(round((($p - $q) * ln($p / $q)) * 1000000000.0)
         |      AS BIGINT) AS nano
         |  FROM h JOIN t USING (g))
         |SELECT g AS event_type, n_ref, n_cur,
         |  round(sum(nano) / 1000000000.0, 6) AS psi
         |FROM k GROUP BY g, n_ref, n_cur ORDER BY event_type""".stripMargin
    }),

    // KS across the same mid-month cut as q98: exact cross-multiplied
    // integer numerator, first-argmax split point.
    QueryDef("q158_ks_drift", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val cut = lit(PsiCutoff).cast("timestamp")
      ProfileDrift.ksReport(ev.filter(col("ts") < cut),
        ev.filter(col("ts") >= cut), "event_type", "value")
    },
      s"""WITH v AS (SELECT event_type AS g,
         |    CAST(round(value * 1e6) AS BIGINT) AS vm,
         |    CASE WHEN ts < TIMESTAMP '${PsiCutoff}'
         |      THEN 1 ELSE 0 END AS isref FROM events),
         |h AS (SELECT g, vm, sum(isref) AS c_ref, sum(1 - isref) AS c_cur
         |  FROM v GROUP BY 1, 2),
         |w AS (SELECT *,
         |    sum(c_ref) OVER (PARTITION BY g ORDER BY vm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ref,
         |    sum(c_cur) OVER (PARTITION BY g ORDER BY vm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cur,
         |    CAST(sum(c_ref) OVER (PARTITION BY g) AS BIGINT) AS n_ref,
         |    CAST(sum(c_cur) OVER (PARTITION BY g) AS BIGINT) AS n_cur
         |  FROM h),
         |d AS (SELECT *, abs(cum_ref * n_cur - cum_cur * n_ref) AS dd
         |  FROM w),
         |m AS (SELECT *, max(dd) OVER (PARTITION BY g) AS d_max FROM d)
         |SELECT g AS event_type, n_ref, n_cur,
         |  CAST(max(dd) AS BIGINT) AS d_num,
         |  CAST(min(CASE WHEN dd = d_max THEN vm END) AS BIGINT)
         |    AS argmax_micro,
         |  CASE WHEN n_ref > 0 AND n_cur > 0 THEN
         |    round(max(dd)::DOUBLE / (n_ref::DOUBLE * n_cur), 6) END AS ks
         |FROM m GROUP BY g, n_ref, n_cur ORDER BY event_type""".stripMargin),

    // Rank-sum over the same mid-month cut as q98 PSI / q158 KS:
    // doubled-U integer core, tie-corrected z, rank-biserial effect.
    QueryDef("q165_rank_sum", (s, dir) => {
      val (ref, cur) = eventsSplit(s, dir)
      ProfileDrift.rankSumReport(ref, cur, "event_type", "value")
    },
      s"""WITH v AS (SELECT event_type AS g,
         |    CAST(round(value * 1e6) AS BIGINT) AS vm,
         |    CASE WHEN ts < TIMESTAMP '${PsiCutoff}'
         |      THEN 1 ELSE 0 END AS isref FROM events),
         |h AS (SELECT g, vm, sum(isref) AS c_ref, sum(1 - isref) AS c_cur
         |  FROM v GROUP BY 1, 2),
         |w AS (SELECT *,
         |    sum(c_cur) OVER (PARTITION BY g ORDER BY vm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cur,
         |    CAST(sum(c_ref) OVER (PARTITION BY g) AS BIGINT) AS n_ref,
         |    CAST(sum(c_cur) OVER (PARTITION BY g) AS BIGINT) AS n_cur
         |  FROM h),
         |s AS (SELECT g, n_ref, n_cur,
         |    CAST(sum(c_ref * (2 * cum_cur - c_cur)) AS BIGINT) AS u2,
         |    CAST(sum((c_ref + c_cur) * (c_ref + c_cur) * (c_ref + c_cur)
         |      - (c_ref + c_cur)) AS BIGINT) AS tie3
         |  FROM w GROUP BY 1, 2, 3),
         |e AS (SELECT *,
         |    (n_ref::DOUBLE * n_cur / 12.0) * ((n_ref + n_cur + 1) -
         |      tie3::DOUBLE / ((n_ref + n_cur)::DOUBLE
         |        * (n_ref + n_cur - 1))) AS var_u
         |  FROM s)
         |SELECT g AS event_type, n_ref, n_cur, u2, tie3,
         |  CASE WHEN n_ref > 0 AND n_cur > 0 THEN
         |    round(u2::DOUBLE / (n_ref::DOUBLE * n_cur) - 1, 6) END AS r_rb,
         |  CASE WHEN n_ref > 0 AND n_cur > 0 AND var_u > 0 THEN
         |    round((u2 - n_ref * n_cur) / (2.0 * sqrt(var_u)), 6) END AS z
         |FROM e ORDER BY event_type""".stripMargin),

    // Welch's t on the same cut: milli-integer sufficient statistics,
    // per-side integer variance cores, Welch–Satterthwaite df.
    QueryDef("q166_welch_t", (s, dir) => {
      val (ref, cur) = eventsSplit(s, dir)
      ProfileDrift.welchTReport(ref, cur, "event_type", "value")
    },
      s"""WITH v AS (SELECT event_type AS g,
         |    CAST(round(value * 1e3) AS BIGINT) AS y,
         |    CASE WHEN ts < TIMESTAMP '${PsiCutoff}'
         |      THEN 1 ELSE 0 END AS isref FROM events),
         |s AS (SELECT g,
         |    CAST(sum(isref) AS BIGINT) AS n_ref,
         |    CAST(sum(1 - isref) AS BIGINT) AS n_cur,
         |    CAST(sum(y * isref) AS BIGINT) AS s_ref_milli,
         |    CAST(sum(y * (1 - isref)) AS BIGINT) AS s_cur_milli,
         |    sum(y * y * isref) AS q_ref,
         |    sum(y * y * (1 - isref)) AS q_cur FROM v GROUP BY g),
         |c AS (SELECT g, n_ref, n_cur, s_ref_milli, s_cur_milli,
         |    CASE WHEN n_ref > 1 THEN CAST(round(
         |      CAST(n_ref * q_ref - s_ref_milli::HUGEINT * s_ref_milli
         |        AS DOUBLE) /
         |      (n_ref::DOUBLE * (n_ref - 1))) AS BIGINT) END AS v_ref_milli2,
         |    CASE WHEN n_cur > 1 THEN CAST(round(
         |      CAST(n_cur * q_cur - s_cur_milli::HUGEINT * s_cur_milli
         |        AS DOUBLE) /
         |      (n_cur::DOUBLE * (n_cur - 1))) AS BIGINT) END AS v_cur_milli2
         |  FROM s),
         |e AS (SELECT *, v_ref_milli2::DOUBLE / n_ref AS se1,
         |    v_cur_milli2::DOUBLE / n_cur AS se2 FROM c)
         |SELECT g AS event_type, n_ref, n_cur, s_ref_milli, s_cur_milli,
         |  v_ref_milli2, v_cur_milli2,
         |  CASE WHEN n_ref > 1 AND n_cur > 1 AND se1 + se2 > 0 THEN
         |    round((s_ref_milli::DOUBLE / n_ref - s_cur_milli::DOUBLE / n_cur)
         |      / sqrt(se1 + se2), 6) END AS t_stat,
         |  CASE WHEN n_ref > 1 AND n_cur > 1 AND se1 + se2 > 0 THEN
         |    round(((se1 + se2) * (se1 + se2)) /
         |      ((se1 * se1) / (n_ref - 1) + (se2 * se2) / (n_cur - 1)), 3)
         |  END AS df_w
         |FROM e ORDER BY event_type""".stripMargin),

    QueryDef("q181_qq_drift", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val cut = lit(PsiCutoff).cast("timestamp")
      ProfileDrift.qqReport(ev.filter(col("ts") < cut),
        ev.filter(col("ts") >= cut), "event_type", "value")
    },
      s"""WITH v AS (SELECT CASE WHEN ts <
         |      TIMESTAMP '${PsiCutoff}'
         |      THEN 'ref' ELSE 'cur' END AS side, event_type AS g,
         |    CAST(round(value * 1e6) AS BIGINT) AS vm FROM events),
         |h AS (SELECT side, g, vm, count(*) AS c FROM v GROUP BY 1, 2, 3),
         |w AS (SELECT *,
         |    sum(c) OVER (PARTITION BY side, g ORDER BY vm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    CAST(sum(c) OVER (PARTITION BY side, g) AS BIGINT) AS n
         |  FROM h),
         |qq AS (SELECT CAST(unnest(range(1, 10)) AS INTEGER) AS q),
         |p AS (SELECT side, g, q, n,
         |    CAST(min(CASE WHEN cum >= (q * n + 9) // 10 THEN vm END)
         |      AS BIGINT) AS pick
         |  FROM w, qq GROUP BY 1, 2, 3, 4),
         |r AS (SELECT g, q, n AS n_ref, pick AS ref_micro FROM p
         |  WHERE side = 'ref'),
         |c AS (SELECT g, q, n AS n_cur, pick AS cur_micro FROM p
         |  WHERE side = 'cur')
         |SELECT coalesce(r.g, c.g) AS event_type,
         |  coalesce(r.q, c.q) AS q_decile, r.n_ref, c.n_cur,
         |  r.ref_micro, c.cur_micro,
         |  c.cur_micro - r.ref_micro AS shift_micro
         |FROM r FULL OUTER JOIN c ON c.g = r.g AND c.q = r.q
         |ORDER BY event_type, q_decile""".stripMargin),

    QueryDef("q184_ks_suite", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val cut = lit(ShipCutoff).cast("timestamp")
      ProfileDrift.ksSuite(li.filter(col("l_shipdate") < cut),
        li.filter(col("l_shipdate") >= cut), DriftCols)
    }, {
      val melt = DriftCols.map(c =>
        s"SELECT '$c' AS f, $c AS value, l_shipdate FROM lineitem")
        .mkString(" UNION ALL ")
      s"""WITH m AS ($melt),
         |v AS (SELECT f AS g, CAST(round(value * 1e6) AS BIGINT) AS vm,
         |    CASE WHEN l_shipdate < TIMESTAMP '$ShipCutoff'
         |      THEN 1 ELSE 0 END AS isref FROM m),
         |h AS (SELECT g, vm, sum(isref) AS c_ref, sum(1 - isref) AS c_cur
         |  FROM v GROUP BY 1, 2),
         |w AS (SELECT *,
         |    sum(c_ref) OVER (PARTITION BY g ORDER BY vm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ref,
         |    sum(c_cur) OVER (PARTITION BY g ORDER BY vm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cur,
         |    CAST(sum(c_ref) OVER (PARTITION BY g) AS BIGINT) AS n_ref,
         |    CAST(sum(c_cur) OVER (PARTITION BY g) AS BIGINT) AS n_cur
         |  FROM h),
         |d AS (SELECT *, abs(cum_ref * n_cur - cum_cur * n_ref) AS dd
         |  FROM w),
         |mm AS (SELECT *, max(dd) OVER (PARTITION BY g) AS d_max FROM d)
         |SELECT g AS feature, n_ref, n_cur,
         |  CAST(max(dd) AS BIGINT) AS d_num,
         |  CAST(min(CASE WHEN dd = d_max THEN vm END) AS BIGINT)
         |    AS argmax_micro,
         |  CASE WHEN n_ref > 0 AND n_cur > 0 THEN
         |    round(max(dd)::DOUBLE / (n_ref::DOUBLE * n_cur), 6) END AS ks
         |FROM mm GROUP BY g, n_ref, n_cur ORDER BY feature""".stripMargin
    }),

    QueryDef("q187_psi_suite", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val cut = lit(ShipCutoff).cast("timestamp")
      ProfileDrift.psiSuite(li.filter(col("l_shipdate") < cut),
        li.filter(col("l_shipdate") >= cut), DriftCols)
    }, {
      val half = 10 / 2.0
      def share(c: String, n: String) = s"(($c + 0.5) / ($n + $half))"
      val p = share("c_ref", "n_ref")
      val q = share("c_cur", "n_cur")
      val melt = DriftCols.map(c =>
        s"SELECT '$c' AS f, $c AS value, l_shipdate FROM lineitem")
        .mkString(" UNION ALL ")
      s"""WITH m AS ($melt),
         |r AS (SELECT f AS g, value AS v FROM m
         |    WHERE l_shipdate < TIMESTAMP '${ShipCutoff}'
         |      AND value IS NOT NULL),
         |c AS (SELECT f AS g, value AS v FROM m
         |    WHERE l_shipdate >= TIMESTAMP '${ShipCutoff}'
         |      AND value IS NOT NULL),
         |b AS (SELECT g, min(v) AS lo,
         |    (max(v) - min(v)) / 10 AS width FROM r GROUP BY g),
         |hr AS (SELECT r.g,
         |    CASE WHEN b.width > 0 THEN least(9, greatest(0,
         |      CAST(floor((r.v - b.lo) / b.width) AS INTEGER)))
         |    ELSE 0 END AS bucket, count(*) AS c_ref
         |  FROM r JOIN b USING (g) GROUP BY 1, 2),
         |hc AS (SELECT c.g,
         |    CASE WHEN b.width > 0 THEN least(9, greatest(0,
         |      CAST(floor((c.v - b.lo) / b.width) AS INTEGER)))
         |    ELSE 0 END AS bucket, count(*) AS c_cur
         |  FROM c JOIN b USING (g) GROUP BY 1, 2),
         |h AS (SELECT coalesce(hr.g, hc.g) AS g,
         |    coalesce(hr.bucket, hc.bucket) AS bucket,
         |    coalesce(c_ref, 0) AS c_ref, coalesce(c_cur, 0) AS c_cur
         |  FROM hr FULL OUTER JOIN hc
         |    ON hr.g = hc.g AND hr.bucket = hc.bucket),
         |t AS (SELECT g, CAST(sum(c_ref) AS BIGINT) AS n_ref,
         |    CAST(sum(c_cur) AS BIGINT) AS n_cur
         |  FROM h GROUP BY g
         |  HAVING sum(c_ref) > 0 AND sum(c_cur) > 0),
         |k AS (SELECT h.g, t.n_ref, t.n_cur,
         |    CAST(round((($p - $q) * ln($p / $q)) * 1000000000.0)
         |      AS BIGINT) AS nano
         |  FROM h JOIN t USING (g))
         |SELECT g AS feature, n_ref, n_cur,
         |  round(sum(nano) / 1000000000.0, 6) AS psi
         |FROM k GROUP BY g, n_ref, n_cur ORDER BY feature""".stripMargin
    }),

    QueryDef("q189_trimmed_shift", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val cut = lit(PsiCutoff).cast("timestamp")
      ProfileDrift.trimmedMeanShift(ev.filter(col("ts") < cut),
        ev.filter(col("ts") >= cut), "event_type", "value", TrimPct)
    },
      s"""WITH v AS (SELECT CASE WHEN ts <
         |      TIMESTAMP '${PsiCutoff}'
         |      THEN 'ref' ELSE 'cur' END AS side, event_type AS g,
         |    CAST(round(value * 1e6) AS BIGINT) AS vm FROM events),
         |h AS (SELECT side, g, vm, count(*) AS c FROM v GROUP BY 1, 2, 3),
         |w AS (SELECT *,
         |    sum(c) OVER (PARTITION BY side, g ORDER BY vm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    CAST(sum(c) OVER (PARTITION BY side, g) AS BIGINT) AS n
         |  FROM h),
         |e AS (SELECT *, (n * $TrimPct) // 100 AS t,
         |    greatest(0, least(cum, n - (n * $TrimPct) // 100) -
         |      greatest(cum - c, (n * $TrimPct) // 100)) AS keep
         |  FROM w),
         |s AS (SELECT side, g, n, t,
         |    CAST(sum(vm * keep) AS BIGINT) AS ts_sum,
         |    CASE WHEN n - 2 * t > 0 THEN
         |      CAST(CAST(sum(vm * keep) AS BIGINT) // (n - 2 * t)
         |        AS BIGINT) END AS mean_micro
         |  FROM e GROUP BY 1, 2, 3, 4)
         |SELECT g AS event_type,
         |  max(CASE WHEN side = 'ref' THEN n END) AS n_ref,
         |  max(CASE WHEN side = 'cur' THEN n END) AS n_cur,
         |  max(CASE WHEN side = 'ref' THEN t END) AS trim_ref,
         |  max(CASE WHEN side = 'cur' THEN t END) AS trim_cur,
         |  max(CASE WHEN side = 'ref' THEN mean_micro END)
         |    AS mean_ref_micro,
         |  max(CASE WHEN side = 'cur' THEN mean_micro END)
         |    AS mean_cur_micro,
         |  max(CASE WHEN side = 'cur' THEN mean_micro END) -
         |    max(CASE WHEN side = 'ref' THEN mean_micro END)
         |    AS shift_micro
         |FROM s GROUP BY g ORDER BY event_type""".stripMargin),

    // How far apart (in value units) the two halves' distributions
    // are — the same mid-month cut as q98 PSI / q158 KS / q165 U.
    QueryDef("q253_wasserstein", (s, dir) => {
      val (ref, cur) = eventsSplit(s, dir)
      ProfileDrift.wassersteinReport(ref, cur, "event_type", "value")
    },
      s"""WITH v AS (SELECT event_type AS g,
         |    CAST(round(value * 1e6) AS BIGINT) AS vm,
         |    CASE WHEN ts < TIMESTAMP '${PsiCutoff}'
         |      THEN 1 ELSE 0 END AS isref FROM events),
         |h AS (SELECT g, vm, CAST(sum(isref) AS BIGINT) AS c_ref,
         |    CAST(sum(1 - isref) AS BIGINT) AS c_cur
         |  FROM v GROUP BY 1, 2),
         |w AS (SELECT *,
         |    sum(c_ref) OVER wc AS cum_ref,
         |    sum(c_cur) OVER wc AS cum_cur,
         |    CAST(sum(c_ref) OVER (PARTITION BY g) AS BIGINT)
         |      AS n_ref,
         |    CAST(sum(c_cur) OVER (PARTITION BY g) AS BIGINT)
         |      AS n_cur,
         |    lead(vm) OVER (PARTITION BY g ORDER BY vm) AS nxt
         |  FROM h WINDOW wc AS (PARTITION BY g ORDER BY vm
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |s AS (SELECT g, n_ref, n_cur,
         |    CAST(sum(CASE WHEN nxt IS NULL THEN 0 ELSE
         |      abs(CAST(cum_ref AS HUGEINT) * n_cur -
         |        CAST(cum_cur AS HUGEINT) * n_ref) * (nxt - vm)
         |      END) AS HUGEINT) AS num
         |  FROM w GROUP BY 1, 2, 3)
         |SELECT g AS event_type, n_ref, n_cur,
         |  CASE WHEN n_ref > 0 AND n_cur > 0 THEN
         |    CAST(num // (CAST(n_ref AS HUGEINT) * n_cur) AS BIGINT)
         |  END AS w1_micro
         |FROM s ORDER BY event_type""".stripMargin))
}

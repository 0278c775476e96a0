package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{AssociationRules, Attribution, Bootstrap,
  Concentration, Correlate, Deciles, Evaluation, Experiment, Preference,
  Privacy, Rfm, Sampling, Standardize, Survival, TextOps, Winsorize}

/** Statistics and experiments: correlation and association tests,
  * evaluation metrics, survival curves, A/B and causal estimators,
  * rater agreement, concentration and privacy risk measures.
  */
object StatsQueries extends QueryModule {

  /** q96 winsorization band. */
  val WinsorLo = 0.05

  val WinsorHi = 0.95

  /** q107 correlated columns (lineitem numerics). */
  val CorrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private def corrOracle: String = {
    def m(c: String) = s"m_$c"
    def h(e: String) = s"CAST($e AS HUGEINT)"
    val quant = CorrCols.map(c =>
      s"CAST(round($c * 1000000.0) AS BIGINT) AS ${m(c)}").mkString(",\n    ")
    val pairs = for {
      i <- CorrCols.indices; j <- CorrCols.indices if i < j
    } yield (CorrCols(i), CorrCols(j))
    val moments = (CorrCols.flatMap(c => Seq(
      s"sum(${h(m(c))}) AS s_$c",
      s"sum(${h(m(c))} * ${h(m(c))}) AS ss_$c")) ++
      pairs.map { case (a, b) =>
        s"sum(${h(m(a))} * ${h(m(b))}) AS sp_${a}_${b}"
      }).mkString(",\n    ")
    val rows = pairs.map { case (a, b) =>
      val num = s"CAST(n * sp_${a}_${b} - s_$a * s_$b AS DOUBLE)"
      val dx = s"CAST(n * ss_$a - s_$a * s_$a AS DOUBLE)"
      val dy = s"CAST(n * ss_$b - s_$b * s_$b AS DOUBLE)"
      s"""SELECT '$a' AS col_x, '$b' AS col_y, CAST(n AS BIGINT) AS n,
         |    CASE WHEN $dx > 0 AND $dy > 0
         |      THEN round($num / sqrt($dx * $dy), 6) END AS r FROM s""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH q AS (SELECT
       |    $quant
       |  FROM lineitem),
       |s AS (SELECT count(*) AS n,
       |    $moments
       |  FROM q)
       |$rows
       |ORDER BY col_x, col_y""".stripMargin
  }

  /** q126's attribution window (2 h, matching the q63 convention). */
  val AttrWindowSeconds = 7200L

  /** q131's anonymity threshold: at sf0.01 the (event_type, day, hour)
    * partition has 3,385 classes, 624 of them single-user — both flags
    * bind richly at k = 3.
    */
  val AnonK = 3L

  val CalBins = 10

  /** q143's replicate count: 24 gives a 2nd/23rd order-statistic
    * interval (~92% coverage) while keeping the aggregate row at
    * 2·24+2 longs.
    */
  val BootReplicates = 24

  /** q144's diversity floor: at sf0.01 the (lang, source) × length-hectochar
    * census leaves several classes under 3 distinct buckets, so both
    * flags bind.
    */
  val DiversityL = 3L

  val NdcgK = 10

  /** The q162 (nDCG/MRR) and q163 (RFM) oracles, which share the frozen
    * discount literals and quintile-boundary helpers built here.
    */
  private def rankingOracles: Map[String, String] = {
    val d = Evaluation.discountNano(NdcgK)
    val dList = d.mkString("[", ", ", "]")
    val ideal = (1 to NdcgK).map(i =>
      s"CASE WHEN n_relevant >= $i THEN CAST(${d(i - 1)} AS BIGINT) ELSE 0 END")
      .mkString(" + ")

    def bounds(metric: String): String = {
      val mins = (1 to 4).map(q =>
        s"min(CASE WHEN cum >= ($q * n + 4) // 5 THEN v END) AS b$q")
        .mkString(", ")
      s"""(SELECT $mins FROM (SELECT v, sum(c) OVER (ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(c) OVER () AS n FROM (SELECT $metric AS v, count(*) AS c
         |    FROM u GROUP BY 1)))""".stripMargin
    }
    def ascScore(metric: String, p: String): String =
      (1 to 4).map(q =>
        s"CASE WHEN $metric > $p.b$q THEN 1 ELSE 0 END").mkString(" + ")

    Map(
      "q162_ndcg" ->
        s"""WITH r AS (SELECT * FROM (SELECT source AS g,
           |    CAST(n_chars AS BIGINT) AS s, doc_id AS id,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY n_chars DESC, doc_id ASC) AS rank
           |  FROM documents) WHERE rank <= $NdcgK),
           |g AS (SELECT g, count(*) AS n_items,
           |    CAST(sum(rel) AS BIGINT) AS n_relevant,
           |    CAST(sum(rel * (CAST($dList AS BIGINT[]))[rank]) AS BIGINT) AS dcg_nano,
           |    min(CASE WHEN rel = 1 THEN rank END) AS first_rel_rank
           |  FROM r GROUP BY g)
           |SELECT g AS source, CAST(n_items AS BIGINT) AS n_items,
           |  n_relevant, dcg_nano, CAST($ideal AS BIGINT) AS idcg_nano,
           |  CASE WHEN $ideal > 0 THEN
           |    round(dcg_nano::DOUBLE / ($ideal), 6) END AS ndcg,
           |  CAST(coalesce(CAST(round(1e9 / first_rel_rank) AS BIGINT), 0)
           |    AS BIGINT) AS mrr_nano
           |FROM g ORDER BY source""".stripMargin,

      "q163_rfm" ->
        s"""WITH hz AS (SELECT max(date_trunc('day', ts)::DATE) AS h
           |  FROM events),
           |u AS (SELECT user_id AS u,
           |    CAST(h - max(date_trunc('day', ts)::DATE) AS BIGINT)
           |      AS recency_days,
           |    count(*) AS frequency,
           |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
           |      AS monetary_micro
           |  FROM events, hz GROUP BY u, h),
           |rb AS ${bounds("recency_days")},
           |fb AS ${bounds("frequency")},
           |mb AS ${bounds("monetary_micro")}
           |SELECT u AS user_id, recency_days,
           |  CAST(frequency AS BIGINT) AS frequency, monetary_micro,
           |  CAST(6 - (${ascScore("recency_days", "rb")} + 1) AS BIGINT)
           |    AS r_q,
           |  CAST(${ascScore("frequency", "fb")} + 1 AS BIGINT) AS f_q,
           |  CAST(${ascScore("monetary_micro", "mb")} + 1 AS BIGINT) AS m_q
           |FROM u, rb, fb, mb ORDER BY user_id""".stripMargin)
  }

  /** Pair/item support floor for q167 — 3 binds hard at sf0.01 (3,253
    * of 3,313 co-occurring pairs fall below it, leaving 60).
    */
  val RuleMinSupport = 3L

  /** q171 conversion: first 'view' → first high-value purchase. The
    * value floor makes non-converters BIND at sf0.01 (116 of 150 users
    * convert).
    */
  val ConvMinValue = 100.0

  val TClosenessMilli = 200L

  val ConformalAlphaPermille = 100L

  val BrierBins = 10

  /** Min-max normalized micro-probability forecast off the event value
    * (the deterministic stand-in for a model score — one broadcast
    * stat row, exact integer arithmetic).
    */
  private def probMicro(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.load(s, dir, "events")
      .select(round(col("value") * 1e6).cast("long").as("vm"),
        col("event_type"))
    val mm = b.agg(min("vm").as("mn"), max("vm").as("mx"))
    b.crossJoin(broadcast(mm))
      .select(expr("((vm - mn) * 1000000) div (mx - mn + 1)").as("pm"),
        col("event_type"))
  }

  val NeymanBudget = 1000L

  val DpEpsilonPermille = 1000L // epsilon = 1.0

  val DpSalt = 0L

  val FdrAlphaPpm = 50000L

  /** p-value proxy from the Welch t: the logistic approximation to the
    * two-sided normal tail, `p ≈ 2/(1+e^{1.702|t|})` — documented as
    * an approximation (the ADJUSTMENT mechanics are the operator);
    * identical formula on both engines, rounded to ppm.
    */
  private def welchP(s: SparkSession, dir: String): DataFrame =
    Correlate.pairwiseWelch(Tables.load(s, dir, "events"),
      "event_type", "value")
      .withColumn("p_ppm",
        round(lit(2e6) / (lit(1.0) +
          exp(lit(1.702) * abs(col("t_stat"))))).cast("long"))
      .select("group_a", "group_b", "p_ppm")

  /** MM rounds for the Bradley–Terry fit (unrolled in the oracle). */
  val BtRounds = 2

  /** Fixed panel size for Fleiss' κ: each user's first 4 events. */
  val FleissRaters = 4

  /** Mid-window cut for the McNemar before/after pairing. */
  val McnemarCut = "2024-01-16 00:00:00"

  private def matchups(s: SparkSession, dir: String): DataFrame =
    Preference.matchupCensus(Tables.load(s, dir, "events"),
      "user_id", "event_type", "value")

  /** Shared oracle CTE: the matchup census over events. */
  private val MatchupSql =
    """um AS (SELECT user_id AS u, event_type AS it,
      |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
      |      AS sv
      |  FROM events GROUP BY 1, 2),
      |pr AS (SELECT a.it AS item_a, b.it AS item_b,
      |    CAST(sum(CASE WHEN a.sv > b.sv THEN 1 ELSE 0 END)
      |      AS BIGINT) AS wins_a,
      |    CAST(sum(CASE WHEN a.sv < b.sv THEN 1 ELSE 0 END)
      |      AS BIGINT) AS wins_b,
      |    CAST(sum(CASE WHEN a.sv = b.sv THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ties
      |  FROM um a JOIN um b ON a.u = b.u AND a.it < b.it
      |  GROUP BY 1, 2)""".stripMargin

  val IsoBins = 20

  val CaBins = 10

  /** Panel bound for Krippendorff (clears denominators via
    * lcm(1..3) = 6).
    */
  val KaMaxRaters = 4

  val P0 = 400000L

  val P1 = 500000L

  val Alpha = 50000L

  val Beta = 50000L

  /** Frozen nano-LLR constants shared with the oracle (the
    * discountNano convention — no runtime ln crosses engines).
    */
  private def lnNano(x: Double) = math.round(math.log(x) * 1e9)

  private val PosInc = lnNano(P1.toDouble) - lnNano(P0.toDouble)

  private val NegInc = lnNano(1e6 - P1) - lnNano(1e6 - P0)

  private val Upper = lnNano(1e6 - Beta) - lnNano(Alpha.toDouble)

  private val Lower = lnNano(Beta.toDouble) - lnNano(1e6 - Alpha)

  val CaItems = Seq("click", "error", "purchase", "signup", "view")

  val defs: Seq[QueryDef] = Seq(
    // Winsorized per-source robust stats on n_chars: exact interpolated
    // p05/p95 bounds from the value histogram, micro-integer clamp.
    QueryDef("q96_winsorized", (s, dir) =>
      Winsorize.winsorizedStats(Tables.load(s, dir, "documents"), "source", "n_chars",
        WinsorLo, WinsorHi)
        .orderBy("source"),
      s"""WITH b AS (SELECT source,
         |    quantile_cont(n_chars::DOUBLE, $WinsorLo) AS lo,
         |    quantile_cont(n_chars::DOUBLE, $WinsorHi) AS hi
         |  FROM documents GROUP BY source),
         |c AS (SELECT d.source, b.lo, b.hi,
         |    least(greatest(CAST(round(d.n_chars * 1000000.0) AS BIGINT),
         |        CAST(round(b.lo * 1000000.0) AS BIGINT)),
         |      CAST(round(b.hi * 1000000.0) AS BIGINT)) AS wq
         |  FROM documents d JOIN b USING (source))
         |SELECT source, count(*) AS n, round(lo, 4) AS lo, round(hi, 4) AS hi,
         |  CAST(sum(wq) AS BIGINT) AS wsum_micro,
         |  round(CAST(sum(wq) AS BIGINT) / count(*) / 1000000.0, 6) AS wmean
         |FROM c GROUP BY source, lo, hi ORDER BY source""".stripMargin),

    // Per-source length z-scores over the corpus.
    QueryDef("q101_zscore", (s, dir) =>
      Standardize.zScore(Tables.load(s, dir, "documents"), "source",
        "n_chars")
        .select("doc_id", "source", "n_chars", "z")
        .orderBy("doc_id"),
      """WITH s AS (SELECT source,
        |    round(avg(CAST(n_chars AS DOUBLE)), 6) AS mu,
        |    round(stddev_samp(CAST(n_chars AS DOUBLE)), 6) AS sigma
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars,
        |  CASE WHEN s.sigma > 0
        |    THEN round((CAST(d.n_chars AS DOUBLE) - s.mu) / s.sigma, 4)
        |  END AS z
        |FROM documents d JOIN s USING (source)
        |ORDER BY d.doc_id""".stripMargin),

    // Exact-integer Pearson matrix over lineitem numerics.
    QueryDef("q107_correlation", (s, dir) =>
      Correlate.pearsonMatrix(Tables.load(s, dir, "lineitem"), CorrCols),
      corrOracle),

    // Leave-one-out target encoding (leakage-safe categorical mean):
    // G-row stat broadcast + scan-stage arithmetic, zero data shuffles.
    QueryDef("q125_target_encoding", (s, dir) =>
      Standardize.looTargetEncode(Tables.load(s, dir, "orders"),
        "o_orderpriority", "o_totalprice")
        .select("o_orderkey", "o_orderpriority", "loo_mean")
        .orderBy("o_orderkey"),
      // LOO mean: micro-integer group sums, (sum − own)/(n−1)/10⁶ with
      // the same division association as the Spark side.
      """WITH v AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(round(o_totalprice * 1000000.0) AS BIGINT) AS vm
        |  FROM orders),
        |s AS (SELECT o_orderpriority, CAST(sum(vm) AS BIGINT) AS sm,
        |    count(*) AS n FROM v GROUP BY o_orderpriority)
        |SELECT v.o_orderkey, v.o_orderpriority,
        |  CASE WHEN s.n > 1 THEN
        |    round(((s.sm - v.vm)::DOUBLE / (s.n - 1)) / 1000000.0, 6)
        |  END AS loo_mean
        |FROM v JOIN s USING (o_orderpriority)
        |ORDER BY o_orderkey""".stripMargin),

    // Linear multi-touch attribution: each purchase's value split
    // equally (integer micro-quotients) across the user's clicks in the
    // preceding 2 h; per-click credit totals.
    QueryDef("q126_attribution", (s, dir) =>
      Attribution.linearCredits(Tables.load(s, dir, "events"),
        AttrWindowSeconds),
      // Pairing window [purchase − 2 h, purchase); per-purchase touch
      // count as a window over the pair relation; integer micro-quotients.
      s"""WITH p AS (SELECT user_id, event_id AS p_event,
         |    CAST(round(value * 1000000.0) AS BIGINT) AS vm,
         |    CAST(floor(epoch(ts)) AS BIGINT) - $AttrWindowSeconds AS lo,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS hi
         |  FROM events WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, event_id,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS v
         |  FROM events WHERE event_type = 'click'),
         |j AS (SELECT c.event_id, p.p_event, p.vm
         |  FROM p JOIN c ON p.user_id = c.user_id
         |    AND c.v >= p.lo AND c.v < p.hi),
         |n AS (SELECT *, count(*) OVER (PARTITION BY p_event) AS np
         |  FROM j)
         |SELECT event_id, count(*) AS n_purchases,
         |  CAST(sum(vm // np) AS BIGINT) AS credit_micro
         |FROM n GROUP BY event_id ORDER BY event_id""".stripMargin),

    // k-anonymity audit of the event log under the (event_type, day,
    // hour) quasi-identifier: class sizes, distinct-user diversity, and
    // both violation flags. One scan, one aggregate.
    QueryDef("q131_k_anonymity", (s, dir) =>
      Privacy.kAnonymityReport(
        Tables.load(s, dir, "events")
          .withColumn("day", to_date(col("ts")))
          .withColumn("hour", hour(col("ts")).cast("int")),
        Seq("event_type", "day", "hour"), "user_id", AnonK),
      s"""SELECT event_type, date_trunc('day', ts)::DATE AS day,
         |  CAST(extract(hour FROM ts) AS INTEGER) AS hour,
         |  count(*) AS n_rows, count(DISTINCT user_id) AS n_ids,
         |  count(*) < $AnonK AS k_violation,
         |  count(DISTINCT user_id) = 1 AS single_id
         |FROM events GROUP BY 1, 2, 3
         |ORDER BY event_type, day, hour""".stripMargin),

    // ROC AUC of n_chars as an English-detector score, per source:
    // rank-sum identity over the distinct-score histogram (value-domain
    // windows only; doubled-integer pair count is the hash core).
    QueryDef("q132_auc", (s, dir) =>
      Evaluation.aucReport(Tables.load(s, dir, "documents"), "source", "n_chars",
        col("lang") === "en"),
      // Rank-sum AUC over the distinct-score histogram: cumneg via a
      // ROWS-framed window over score order, doubled-integer pair count.
      """WITH h AS (SELECT source AS g, n_chars AS s,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos,
        |    sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS neg
        |  FROM documents GROUP BY 1, 2),
        |c AS (SELECT *, coalesce(sum(neg) OVER (PARTITION BY g ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
        |  FROM h),
        |a AS (SELECT g, CAST(sum(pos) AS BIGINT) AS n_pos,
        |    CAST(sum(neg) AS BIGINT) AS n_neg,
        |    CAST(sum(pos * (2 * cumneg + neg)) AS BIGINT) AS auc_num2
        |  FROM c GROUP BY g)
        |SELECT g AS source, n_pos, n_neg, auc_num2,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    round(auc_num2::DOUBLE / (2.0 * n_pos * n_neg), 6)
        |  END AS auc
        |FROM a ORDER BY source""".stripMargin),

    // Calibration bins for the same score/label: frozen integer bin
    // arithmetic off one broadcast min/max row, all-integer output.
    QueryDef("q133_calibration", (s, dir) =>
      Evaluation.calibrationReport(Tables.load(s, dir, "documents"), "n_chars",
        col("lang") === "en", CalBins),
      // Frozen-bounds integer bins; all-integer floor means and ppm rates.
      s"""WITH v AS (SELECT CAST(n_chars AS BIGINT) AS s,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
         |b AS (SELECT min(s) AS mn, max(s) AS mx FROM v)
         |SELECT ((s - mn) * $CalBins) // (mx - mn + 1) AS bin,
         |  count(*) AS n_rows, CAST(sum(y) AS BIGINT) AS n_pos,
         |  CAST(sum(s) // count(*) AS BIGINT) AS mean_score_floor,
         |  CAST((sum(y) * 1000000) // count(*) AS BIGINT) AS pos_rate_ppm
         |FROM v, b GROUP BY 1 ORDER BY bin""".stripMargin),

    // Mutual information between source and language over documents:
    // contingency census + nano-nat cell contributions (the q87
    // convention), marginals as windows over the 100 stat rows.
    QueryDef("q134_mutual_information", (s, dir) =>
      Correlate.mutualInformation(Tables.load(s, dir, "documents"), "source", "lang"),
      // Contingency census + nano-nat cells; same double association as
      // the Spark side ((n_ab/n) · ln(n·n_ab/(n_a·n_b)) · 1e9).
      """WITH c AS (SELECT source AS a, lang AS b, count(*) AS n_ab
        |  FROM documents GROUP BY 1, 2),
        |w AS (SELECT *, sum(n_ab) OVER (PARTITION BY a) AS n_a,
        |    sum(n_ab) OVER (PARTITION BY b) AS n_b,
        |    sum(n_ab) OVER () AS n FROM c),
        |k AS (SELECT a, b, n_ab,
        |    CAST(round((n_ab::DOUBLE / n) *
        |      ln(n::DOUBLE * n_ab / (n_a::DOUBLE * n_b)) * 1e9) AS BIGINT)
        |      AS contrib_nano
        |  FROM w)
        |SELECT a AS source, b AS lang, n_ab, contrib_nano,
        |  CAST(sum(contrib_nano) OVER () AS BIGINT) AS mi_nano
        |FROM k ORDER BY source, lang""".stripMargin),

    // Chi-square independence of event_type × day-of-week: full grid
    // reconstituted from the marginals (zero cells contribute), integer
    // chi_num core, nano contributions, Cramér's V at 6 dp.
    QueryDef("q136_chi_square", (s, dir) =>
      Correlate.chiSquare(
        Tables.load(s, dir, "events").withColumn("dow", dayofweek(col("ts"))),
        "event_type", "dow"),
      // Same grid algebra: marginal cross, left-join census, windows over
      // the stat grid; contribution doubles multiply in the same order.
      """WITH c AS (SELECT event_type AS a,
        |    CAST(dayofweek(ts) + 1 AS INTEGER) AS b, count(*) AS n_ab
        |  FROM events GROUP BY 1, 2),
        |ma AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM c GROUP BY a),
        |mb AS (SELECT b, CAST(sum(n_ab) AS BIGINT) AS n_b FROM c GROUP BY b),
        |g AS (SELECT ma.a, mb.b, CAST(coalesce(c.n_ab, 0) AS BIGINT) AS n_ab,
        |    ma.n_a, mb.n_b
        |  FROM ma CROSS JOIN mb LEFT JOIN c ON c.a = ma.a AND c.b = mb.b),
        |w AS (SELECT *, CAST(sum(n_ab) OVER () AS BIGINT) AS n,
        |    count(*) OVER (PARTITION BY b) AS nla,
        |    count(*) OVER (PARTITION BY a) AS nlb FROM g),
        |k AS (SELECT *, CAST(n * n_ab - n_a * n_b AS BIGINT) AS chi_num,
        |    CAST(round(
        |      (CAST(n * n_ab - n_a * n_b AS DOUBLE) *
        |       CAST(n * n_ab - n_a * n_b AS DOUBLE)) /
        |      (n::DOUBLE * n_a * n_b) * 1e9) AS BIGINT) AS contrib_nano
        |  FROM w)
        |SELECT a AS event_type, b AS dow, n_ab, n_a, n_b, chi_num,
        |  contrib_nano,
        |  CAST(sum(contrib_nano) OVER () AS BIGINT) AS chi2_nano,
        |  CAST((nla - 1) * (nlb - 1) AS BIGINT) AS dof,
        |  CASE WHEN (nla - 1) * (nlb - 1) > 0 AND n > 0 THEN
        |    round(sqrt((sum(contrib_nano) OVER ()) / 1e9 /
        |      (n::DOUBLE * least(nla - 1, nlb - 1))), 6) END AS cramers_v
        |FROM k ORDER BY event_type, dow""".stripMargin),

    // Gini concentration of document length per source: distinct-value
    // histogram windows only; DECIMAL(38,0) numerator lands as BIGINT.
    QueryDef("q137_gini", (s, dir) =>
      Concentration.giniReport(Tables.load(s, dir, "documents"), "source", "n_chars"),
      // Tied-run telescoping: v·c·(2·cum + c − n) per distinct value.
      """WITH h AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v,
        |    count(*) AS c FROM documents GROUP BY 1, 2),
        |w AS (SELECT *,
        |    coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS n,
        |    sum(v * c) OVER (PARTITION BY g) AS total FROM h),
        |a AS (SELECT g, CAST(max(n) AS BIGINT) AS n_rows,
        |    CAST(max(total) AS BIGINT) AS sum_val,
        |    CAST(sum(v * c * (2 * cum + c - n)) AS BIGINT) AS gini_num
        |  FROM w GROUP BY g)
        |SELECT g AS source, n_rows, sum_val, gini_num,
        |  CASE WHEN sum_val > 0 THEN
        |    round(gini_num::DOUBLE / (n_rows::DOUBLE * sum_val), 6)
        |  END AS gini
        |FROM a ORDER BY source""".stripMargin),

    // Quantile-normalize document length per source onto the pooled
    // distribution: value-domain census + cumulative windows, pooled
    // side broadcast into the containment join.
    QueryDef("q141_quantile_norm", (s, dir) =>
      Standardize.quantileNormalize(
        Tables.load(s, dir, "documents"), "source", "n_chars"),
      // Max-rank of each tied run → pooled ordinal ⌈cum_hi·N/n_g⌉ picked
      // by cumulative-interval containment.
      """WITH h AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v,
        |    count(*) AS c FROM documents GROUP BY 1, 2),
        |grp AS (SELECT *,
        |    sum(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_hi,
        |    sum(c) OVER (PARTITION BY g) AS n_g,
        |    sum(c) OVER () AS n_all FROM h),
        |j AS (SELECT g, v, CAST(c AS BIGINT) AS c,
        |    CAST((cum_hi * n_all + n_g - 1) // n_g AS BIGINT) AS p
        |  FROM grp),
        |pl AS (SELECT v, sum(c) AS pc FROM h GROUP BY v),
        |pool AS (SELECT v AS v_norm,
        |    sum(pc) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
        |    sum(pc) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - pc AS lo
        |  FROM pl)
        |SELECT j.g AS source, j.v AS value, j.c AS n_rows,
        |  j.p AS pooled_rank, CAST(pool.v_norm AS BIGINT) AS v_norm
        |FROM j JOIN pool ON j.p > pool.lo AND j.p <= pool.hi
        |ORDER BY source, value""".stripMargin),

    // Poisson-bootstrap mean CI per event type: 24 deterministic
    // hash-weighted replicates as extra aggregate columns on ONE scan.
    QueryDef("q143_bootstrap_ci", (s, dir) =>
      Bootstrap.meanCi(Tables.load(s, dir, "events"), "event_type",
        "value", "event_id", BootReplicates),
      // Same Knuth hash, same frozen Poisson CDF thresholds; the oracle
      // affords the ×24 lateral blow-up the aggregate columns avoid.
      """WITH v AS (SELECT event_type AS g, event_id AS id,
        |    CAST(round(value * 1e6) AS BIGINT) AS y FROM events),
        |w AS (SELECT g, b.b AS b, y,
        |    ((id * 24 + b.b) % 1000000007) * 2654435761 % 1000000007 AS h
        |  FROM v, range(0, 24) b(b)),
        |ww AS (SELECT g, b, y, CASE
        |    WHEN h < 367879443 THEN 0 WHEN h < 735758887 THEN 1
        |    WHEN h < 919698609 THEN 2 WHEN h < 981011849 THEN 3
        |    WHEN h < 996340160 THEN 4 ELSE 5 END AS wt FROM w),
        |r AS (SELECT g, b, CASE WHEN sum(wt) > 0
        |    THEN sum(wt * y) // sum(wt) END AS m FROM ww GROUP BY 1, 2),
        |a AS (SELECT g, array_agg(m ORDER BY m)
        |    FILTER (WHERE m IS NOT NULL) AS ms FROM r GROUP BY g),
        |t AS (SELECT g, count(*) AS n_rows, sum(y) AS sy FROM v GROUP BY g)
        |SELECT t.g AS event_type, CAST(t.n_rows AS BIGINT) AS n_rows,
        |  CAST(t.sy AS BIGINT) AS sum_micro,
        |  CAST(t.sy // t.n_rows AS BIGINT) AS mean_micro_floor,
        |  CASE WHEN len(a.ms) >= 3 THEN CAST(a.ms[2] AS BIGINT) END
        |    AS ci_lo_micro,
        |  CASE WHEN len(a.ms) >= 3 THEN CAST(a.ms[len(a.ms) - 1] AS BIGINT)
        |    END AS ci_hi_micro,
        |  CAST(24 - len(a.ms) AS INTEGER) AS n_dead
        |FROM t JOIN a ON a.g = t.g ORDER BY event_type""".stripMargin),

    // l-diversity of the length-bucket "sensitive" attribute under the
    // (lang, source) quasi-identifier.
    QueryDef("q144_l_diversity", (s, dir) =>
      Privacy.lDiversityReport(
        Tables.load(s, dir, "documents")
          .withColumn("len_bucket", expr("n_chars div 100")),
        Seq("lang", "source"), "len_bucket", DiversityL),
      s"""WITH c AS (SELECT lang, source, n_chars // 100 AS sv,
         |    count(*) AS c FROM documents GROUP BY 1, 2, 3)
         |SELECT lang, source, CAST(sum(c) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_sensitive,
         |  CAST(max(c) AS BIGINT) AS max_freq,
         |  count(*) < $DiversityL AS l_violation,
         |  count(*) = 1 AS homogeneous
         |FROM c GROUP BY lang, source ORDER BY lang, source""".stripMargin),

    // Does mean event value differ by type? Milli-integer sufficient
    // statistics, per-group contributions rounded to integer milli²
    // before totalling (order-free), F at 6 dp.
    QueryDef("q145_anova", (s, dir) =>
      Correlate.anovaF(Tables.load(s, dir, "events"), "event_type", "value"),
      // HUGEINT-exact cores mirrored from the decimal(38,0) Spark side;
      // every double derives from the same exact integer in the same
      // operation order.
      """WITH v AS (SELECT event_type AS g,
        |    CAST(round(value * 1e3) AS BIGINT) AS y FROM events),
        |s AS (SELECT g, count(*) AS n_g, sum(y) AS s_g,
        |    sum(y * y) AS ssq_g FROM v GROUP BY g),
        |w AS (SELECT *, CAST(sum(n_g) OVER () AS BIGINT) AS n_all,
        |    CAST(sum(s_g) OVER () AS BIGINT) AS s_all,
        |    count(*) OVER () AS k FROM s),
        |c AS (SELECT *,
        |    CAST(round(CAST(n_g * ssq_g - s_g * s_g AS DOUBLE) / n_g)
        |      AS BIGINT) AS ssw_milli2,
        |    CAST(round(CAST((s_g * n_all - s_all * n_g) *
        |        (s_g * n_all - s_all * n_g) AS DOUBLE) /
        |      (n_g::DOUBLE * n_all * n_all)) AS BIGINT) AS ssb_milli2
        |  FROM w),
        |t AS (SELECT *, CAST(sum(ssw_milli2) OVER () AS BIGINT)
        |      AS ssw_total,
        |    CAST(sum(ssb_milli2) OVER () AS BIGINT) AS ssb_total,
        |    CAST(k - 1 AS BIGINT) AS df1,
        |    CAST(n_all - k AS BIGINT) AS df2 FROM c)
        |SELECT g AS event_type, CAST(n_g AS BIGINT) AS n_g,
        |  CAST(s_g AS BIGINT) AS s_milli, ssw_milli2, ssb_milli2,
        |  ssw_total, ssb_total, df1, df2,
        |  CASE WHEN df1 > 0 AND df2 > 0 AND ssw_total > 0 THEN
        |    round((ssb_total::DOUBLE / df1) / (ssw_total::DOUBLE / df2), 6)
        |  END AS f_stat
        |FROM t ORDER BY event_type""".stripMargin),

    // IG of source / lang / length-bucket w.r.t. the is-English label —
    // one scan, F× scan-stage melt, nano-nat entropies. (lang trivially
    // saturates IG = H(Y) — the sanity anchor; the other two rank.)
    QueryDef("q152_info_gain", (s, dir) =>
      Correlate.informationGain(
        Tables.load(s, dir, "documents").withColumn("len_bucket", expr("n_chars div 100")),
        Seq("source", "lang", "len_bucket"), col("lang") === "en"),
      """WITH m AS (
        |  SELECT 'source' AS feature, source AS x, lang = 'en' AS y
        |    FROM documents
        |  UNION ALL SELECT 'lang', lang, lang = 'en' FROM documents
        |  UNION ALL SELECT 'len_bucket', CAST(n_chars // 100 AS VARCHAR),
        |    lang = 'en' FROM documents),
        |c AS (SELECT feature, x, y, count(*) AS n_xy FROM m GROUP BY 1, 2, 3),
        |cc AS (SELECT *, sum(n_xy) OVER (PARTITION BY feature, x) AS n_x,
        |    sum(n_xy) OVER (PARTITION BY feature) AS n FROM c),
        |cond AS (SELECT feature, CAST(count(DISTINCT x) AS BIGINT)
        |      AS n_levels, CAST(max(n) AS BIGINT) AS n,
        |    CAST(sum(CAST(round((n_xy::DOUBLE / n) *
        |      ln(n_x::DOUBLE / n_xy) * 1e9) AS BIGINT)) AS BIGINT)
        |      AS h_cond_nano
        |  FROM cc GROUP BY feature),
        |lc AS (SELECT feature, y, sum(n_xy) AS n_y FROM c GROUP BY 1, 2),
        |lcc AS (SELECT *, sum(n_y) OVER (PARTITION BY feature) AS n FROM lc),
        |hl AS (SELECT feature,
        |    CAST(sum(CAST(round((n_y::DOUBLE / n) *
        |      ln(n::DOUBLE / n_y) * 1e9) AS BIGINT)) AS BIGINT)
        |      AS h_label_nano
        |  FROM lcc GROUP BY feature)
        |SELECT cond.feature, cond.n_levels, cond.n, hl.h_label_nano,
        |  cond.h_cond_nano,
        |  CAST(hl.h_label_nano - cond.h_cond_nano AS BIGINT) AS ig_nano
        |FROM cond JOIN hl USING (feature) ORDER BY feature""".stripMargin),

    // One PR point per distinct threshold off the score histogram —
    // the cutoff-picking sweep behind the q132 AUC single number.
    QueryDef("q156_pr_curve", (s, dir) =>
      Evaluation.prCurve(Tables.load(s, dir, "documents"), "n_chars", col("lang") === "en"),
      """WITH h AS (SELECT CAST(n_chars AS BIGINT) AS s,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos,
        |    sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS neg
        |  FROM documents GROUP BY 1),
        |w AS (SELECT *,
        |    sum(pos) OVER (ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        |    sum(neg) OVER (ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
        |    sum(pos) OVER () AS p_all FROM h)
        |SELECT s AS threshold, CAST(tp AS BIGINT) AS tp,
        |  CAST(fp AS BIGINT) AS fp, CAST(p_all - tp AS BIGINT) AS fn,
        |  CAST((tp * 1000000) // (tp + fp) AS BIGINT) AS precision_ppm,
        |  CAST((tp * 1000000) // p_all AS BIGINT) AS recall_ppm
        |FROM w ORDER BY threshold DESC""".stripMargin),

    // τ-b between document length and token count — heavy ties by
    // construction; doubled-integer concordance core.
    QueryDef("q159_kendall_tau", (s, dir) =>
      Correlate.kendallTauB(
        Tables.load(s, dir, "documents").withColumn("tok_n",
          size(TextOps.tokens(col("text"))).cast("long")),
        "n_chars", "tok_n"),
      """WITH d AS (SELECT CAST(n_chars AS BIGINT) AS x,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |      AS BIGINT) AS y FROM documents),
        |cells AS (SELECT x, y, count(*) AS c FROM d GROUP BY 1, 2),
        |cd AS (SELECT CAST(sum(CAST(sign(a.x - b.x) AS BIGINT) *
        |      CAST(sign(a.y - b.y) AS BIGINT) * a.c * b.c) AS BIGINT)
        |      AS cd2
        |  FROM cells a, cells b WHERE a.x <> b.x OR a.y <> b.y),
        |st AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_cells FROM cells),
        |t1 AS (SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS n1_2
        |  FROM (SELECT sum(c) AS t FROM cells GROUP BY x)),
        |t2 AS (SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS n2_2
        |  FROM (SELECT sum(c) AS t FROM cells GROUP BY y))
        |SELECT st.n, st.n_cells,
        |  CAST(coalesce(cd.cd2, 0) AS BIGINT) AS cd2,
        |  CAST(st.n * (st.n - 1) AS BIGINT) AS n0_2, t1.n1_2, t2.n2_2,
        |  CASE WHEN st.n * (st.n - 1) > t1.n1_2
        |      AND st.n * (st.n - 1) > t2.n2_2 THEN
        |    round(coalesce(cd.cd2, 0)::DOUBLE /
        |      sqrt((st.n * (st.n - 1) - t1.n1_2)::DOUBLE *
        |        (st.n * (st.n - 1) - t2.n2_2)::DOUBLE), 6) END AS tau_b
        |FROM st, cd, t1, t2""".stripMargin),

    // Time-to-first-SEVERE-error per user (value > 150 — exactly half
    // the 150 users ever hit one at sf0.01, so observed and censored
    // populations both bind); right-censored at the horizon,
    // log-domain nano product, survival in exact ppm.
    QueryDef("q160_kaplan_meier", (s, dir) =>
      Survival.kaplanMeier(Tables.load(s, dir, "events"),
        col("event_type") === "error" && col("value") > 150),
      """WITH u AS (SELECT user_id AS u,
        |    min(date_trunc('day', ts)::DATE) AS entry,
        |    min(CASE WHEN event_type = 'error' AND value > 150
        |      THEN date_trunc('day', ts)::DATE END) AS event_day
        |  FROM events GROUP BY 1),
        |b AS (SELECT max(date_trunc('day', ts)::DATE) AS horizon
        |  FROM events),
        |lt AS (SELECT CAST(CASE WHEN event_day IS NOT NULL
        |      THEN event_day - entry ELSE horizon - entry END AS BIGINT)
        |      AS t,
        |    event_day IS NOT NULL AS observed FROM u, b),
        |cs AS (SELECT t, sum(CASE WHEN observed THEN 1 ELSE 0 END) AS d,
        |    sum(CASE WHEN observed THEN 0 ELSE 1 END) AS c
        |  FROM lt GROUP BY t),
        |w AS (SELECT *, CAST(sum(d + c) OVER () -
        |      coalesce(sum(d + c) OVER (ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_at_risk FROM cs),
        |k AS (SELECT *, CASE
        |    WHEN d > 0 AND n_at_risk > d THEN
        |      CAST(round(ln((n_at_risk - d)::DOUBLE / n_at_risk) * 1e9)
        |        AS BIGINT)
        |    WHEN d = n_at_risk THEN NULL ELSE 0 END AS cell_nano FROM w),
        |m AS (SELECT *, CAST(sum(cell_nano) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum,
        |    max(CASE WHEN d = n_at_risk THEN 1 ELSE 0 END) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS extinct
        |  FROM k)
        |SELECT t, n_at_risk, CAST(d AS BIGINT) AS n_events,
        |  CAST(c AS BIGINT) AS n_censored,
        |  CASE WHEN extinct = 0 THEN cum END AS cum_ln_nano,
        |  CASE WHEN extinct = 1 THEN 0
        |    ELSE CAST(round(exp(cum::DOUBLE / 1e9) * 1e6) AS BIGINT) END
        |    AS survival_ppm
        |FROM m ORDER BY t""".stripMargin),

    // nDCG@10 / MRR of the length ranking against the is-English label
    // per source.
    QueryDef("q162_ndcg", (s, dir) =>
      Evaluation.ndcgReport(Tables.load(s, dir, "documents"),
        "source", "n_chars", "doc_id", col("lang") === "en", NdcgK),
      rankingOracles("q162_ndcg")),

    // Per-user R/F/M metrics + 1-5 quintile scores from broadcast
    // order-statistic boundaries.
    QueryDef("q163_rfm", (s, dir) =>
      Rfm.rfmReport(Tables.load(s, dir, "events")),
      rankingOracles("q163_rfm")),

    // Association rules over order baskets (capped like the co-purchase
    // graph); minSupport prunes items before the pair join.
    QueryDef("q167_assoc_rules", (s, dir) =>
      AssociationRules.rules(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", RuleMinSupport,
        maxGroupSize = Some(GraphQueries.CoPurchaseCap)),
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS it
         |  FROM lineitem),
         |hot AS (SELECT g FROM li GROUP BY g
         |  HAVING count(*) > ${GraphQueries.CoPurchaseCap}),
         |base AS (SELECT * FROM li WHERE g NOT IN (SELECT g FROM hot)),
         |nb AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n_baskets
         |  FROM base),
         |ic AS (SELECT it, CAST(count(*) AS BIGINT) AS n_it FROM base
         |  GROUP BY it),
         |fi AS (SELECT it FROM ic WHERE n_it >= $RuleMinSupport),
         |pr AS (SELECT * FROM base WHERE it IN (SELECT it FROM fi)),
         |p AS (SELECT a.it AS it_a, b.it AS it_b,
         |    CAST(count(*) AS BIGINT) AS n_both
         |  FROM pr a JOIN pr b ON a.g = b.g AND a.it < b.it
         |  GROUP BY 1, 2 HAVING count(*) >= $RuleMinSupport),
         |d AS (SELECT it_a AS antecedent, it_b AS consequent, n_both FROM p
         |  UNION ALL SELECT it_b, it_a, n_both FROM p)
         |SELECT d.antecedent, d.consequent, nb.n_baskets,
         |  a.n_it AS n_ante, c.n_it AS n_cons, d.n_both,
         |  CAST((d.n_both * 1000000) // nb.n_baskets AS BIGINT) AS supp_ppm,
         |  CAST((d.n_both * 1000000) // a.n_it AS BIGINT) AS conf_ppm,
         |  round(d.n_both::DOUBLE * nb.n_baskets /
         |    (a.n_it::DOUBLE * c.n_it), 6) AS lift
         |FROM d JOIN ic a ON a.it = d.antecedent
         |  JOIN ic c ON c.it = d.consequent, nb
         |ORDER BY antecedent, consequent""".stripMargin),

    // Language-mix balance per source: entropy, effective language
    // count, Pielou evenness.
    QueryDef("q176_diversity", (s, dir) =>
      Concentration.diversityReport(Tables.load(s, dir, "documents"),
        "source", "lang"),
      """WITH c AS (SELECT source AS g, lang AS cat, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |w AS (SELECT *,
        |    CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n,
        |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS k FROM c),
        |s AS (SELECT g, n, k,
        |    CAST(sum(CAST(round(-(c / n) * ln(c / n) * 1e9) AS BIGINT))
        |      AS BIGINT) AS h_nano
        |  FROM w GROUP BY 1, 2, 3)
        |SELECT g AS source, n AS n_rows, k AS n_cats, h_nano,
        |  round(exp(h_nano / 1e9), 6) AS eff_cats,
        |  CASE WHEN k > 1 THEN
        |    round((h_nano / 1e9) / ln(k::DOUBLE), 6) END AS evenness
        |FROM s ORDER BY source""".stripMargin),

    // CUPED over the q98 cut: pre-period spend as each user's own
    // covariate; deterministic user-parity arms.
    QueryDef("q178_cuped", (s, dir) =>
      Experiment.cupedReport(Tables.load(s, dir, "events"),
        col("ts") < lit(DriftQueries.PsiCutoff).cast("timestamp"),
        pmod(col("u"), lit(2L))),
      s"""WITH u AS (SELECT user_id AS u,
         |    CAST(sum(CASE WHEN ts < TIMESTAMP '${DriftQueries.PsiCutoff}'
         |      THEN CAST(round(value * 1e3) AS BIGINT) ELSE 0 END)
         |      AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN ts < TIMESTAMP '${DriftQueries.PsiCutoff}'
         |      THEN 0 ELSE CAST(round(value * 1e3) AS BIGINT) END)
         |      AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    sum(x * y) AS sxy, sum(x * x) AS sxx FROM u),
         |t AS (SELECT *, CASE WHEN (n * sxx - sx * sx) > 0 THEN
         |      CAST(n * sxy - sx * sy AS DOUBLE) /
         |        CAST(n * sxx - sx * sx AS DOUBLE)
         |    ELSE 0 END AS theta FROM g),
         |a AS (SELECT u % 2 AS arm, CAST(count(*) AS BIGINT) AS n_users,
         |    CAST(sum(y) AS BIGINT) AS sum_y_milli,
         |    CAST(sum(x) AS BIGINT) AS sum_x_milli FROM u GROUP BY 1)
         |SELECT a.arm, a.n_users, a.sum_y_milli, a.sum_x_milli,
         |  round(a.sum_y_milli::DOUBLE / a.n_users, 6) AS mean_y_milli,
         |  round(a.sum_y_milli::DOUBLE / a.n_users -
         |    t.theta * (a.sum_x_milli::DOUBLE / a.n_users -
         |      t.sx::DOUBLE / t.n), 6) AS adj_mean_y_milli,
         |  round(t.theta, 6) AS theta
         |FROM a, t ORDER BY arm""".stripMargin),

    // SMD at the conventional 0.1 flag: 2 of 5 features balanced at
    // sf0.01 under parity arms — binds both ways.
    QueryDef("q185_covariate_balance", (s, dir) =>
      Experiment.covariateBalance(Tables.load(s, dir, "events"),
        pmod(col("u"), lit(2L))),
      """WITH f AS (SELECT user_id AS u, event_type AS ft,
        |    CAST(sum(CAST(round(value * 1e3) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |un AS (SELECT DISTINCT u FROM f),
        |ft AS (SELECT DISTINCT ft FROM f),
        |grid AS (SELECT un.u, ft.ft, CAST(coalesce(f.v, 0) AS BIGINT) AS v,
        |    un.u % 2 AS arm
        |  FROM un CROSS JOIN ft LEFT JOIN f ON f.u = un.u AND f.ft = ft.ft),
        |s AS (SELECT ft, arm, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS s, sum(v * v) AS q FROM grid
        |  GROUP BY 1, 2),
        |p AS (SELECT ft,
        |    max(CASE WHEN arm = 0 THEN n END) AS n0,
        |    max(CASE WHEN arm = 0 THEN s END) AS s0,
        |    max(CASE WHEN arm = 0 THEN q END) AS q0,
        |    max(CASE WHEN arm = 1 THEN n END) AS n1,
        |    max(CASE WHEN arm = 1 THEN s END) AS s1,
        |    max(CASE WHEN arm = 1 THEN q END) AS q1
        |  FROM s GROUP BY 1),
        |e AS (SELECT *,
        |    CAST(n0 * q0 - s0::HUGEINT * s0 AS DOUBLE) /
        |      (n0::DOUBLE * (n0 - 1)) AS v0,
        |    CAST(n1 * q1 - s1::HUGEINT * s1 AS DOUBLE) /
        |      (n1::DOUBLE * (n1 - 1)) AS v1
        |  FROM p),
        |z AS (SELECT *, (v0 + v1) / 2.0 AS pooled,
        |    CASE WHEN n0 > 1 AND n1 > 1 AND (v0 + v1) / 2.0 > 0 THEN
        |      round((s1::DOUBLE / n1 - s0::DOUBLE / n0) /
        |        sqrt((v0 + v1) / 2.0), 6) END AS smd
        |  FROM e)
        |SELECT ft AS feature, n0 AS n_ctrl, n1 AS n_treat,
        |  round(s0::DOUBLE / n0, 6) AS mean_ctrl_milli,
        |  round(s1::DOUBLE / n1, 6) AS mean_treat_milli, smd,
        |  CASE WHEN smd IS NOT NULL THEN abs(smd) < 0.1 END AS balanced
        |FROM z ORDER BY feature""".stripMargin),

    // best length threshold separating English from non-English docs
    QueryDef("q192_best_split", (s, dir) =>
      Correlate.bestSplit(Tables.load(s, dir, "documents"),
        "n_chars", col("lang") === "en"), {
      def cell(c: String, side: String) =
        s"""CASE WHEN $c > 0 THEN CAST(round(($c::DOUBLE / n) *
           |      ln($side::DOUBLE / $c) * 1e9) AS BIGINT) ELSE 0 END"""
          .stripMargin
      s"""WITH c AS (SELECT CAST(round(n_chars * 1e6) AS BIGINT) AS vm,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM documents),
         |h AS (SELECT vm, CAST(sum(y) AS BIGINT) AS c1,
         |    CAST(sum(1 - y) AS BIGINT) AS c0 FROM c GROUP BY 1),
         |w AS (SELECT *,
         |    sum(c1) OVER (ORDER BY vm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
         |    sum(c0) OVER (ORDER BY vm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum0,
         |    CAST(sum(c1) OVER () AS BIGINT) AS n1,
         |    CAST(sum(c0) OVER () AS BIGINT) AS n0 FROM h),
         |e AS (SELECT *, n1 + n0 AS n, cum1 + cum0 AS nl,
         |    (n1 + n0) - (cum1 + cum0) AS nr FROM w),
         |f AS (SELECT * FROM e WHERE nr > 0),
         |g AS (SELECT *,
         |    ${cell("cum1", "nl")} + ${cell("cum0", "nl")} +
         |    (CASE WHEN n1 - cum1 > 0 THEN CAST(round(
         |      ((n1 - cum1)::DOUBLE / n) * ln(nr::DOUBLE / (n1 - cum1))
         |        * 1e9) AS BIGINT) ELSE 0 END) +
         |    (CASE WHEN n0 - cum0 > 0 THEN CAST(round(
         |      ((n0 - cum0)::DOUBLE / n) * ln(nr::DOUBLE / (n0 - cum0))
         |        * 1e9) AS BIGINT) ELSE 0 END) AS h_cond_nano,
         |    ${cell("n1", "n")} + ${cell("n0", "n")} AS h_label_nano
         |  FROM f),
         |b AS (SELECT *, h_label_nano - h_cond_nano AS ig,
         |    max(h_label_nano - h_cond_nano) OVER () AS big FROM g)
         |SELECT n, n1 AS n_pos, h_label_nano,
         |  CAST(min(vm) AS BIGINT) AS best_threshold_micro,
         |  CAST(h_label_nano - big AS BIGINT) AS h_cond_nano,
         |  CAST(big AS BIGINT) AS ig_nano
         |FROM b WHERE ig = big
         |GROUP BY n, n1, h_label_nano, big""".stripMargin
    }),

    QueryDef("q193_proportion_z", (s, dir) => {
      val units = Tables.load(s, dir, "events")
        .groupBy(col("user_id").as("u"))
        .agg(max(col("event_type") === "purchase" &&
          col("value") > ConvMinValue).as("success"))
        .select(col("u"), pmod(col("u"), lit(2L)).as("arm"),
          col("success"), pmod(col("u"), lit(3L)).as("segment"))
      Experiment.proportionZ(units)
    },
      s"""WITH u AS (SELECT user_id AS u,
         |    CAST(max(CASE WHEN event_type = 'purchase'
         |      AND value > ${ConvMinValue} THEN 1 ELSE 0
         |      END) AS BIGINT) AS s
         |  FROM events GROUP BY 1),
         |seg AS (SELECT (u % 3)::VARCHAR AS segment, u % 2 AS arm, s
         |    FROM u
         |  UNION ALL SELECT '__all', u % 2, s FROM u),
         |a AS (SELECT segment,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_ctrl,
         |    CAST(sum(CASE WHEN arm = 0 THEN s ELSE 0 END) AS BIGINT)
         |      AS conv_ctrl,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_treat,
         |    CAST(sum(CASE WHEN arm = 1 THEN s ELSE 0 END) AS BIGINT)
         |      AS conv_treat
         |  FROM seg GROUP BY 1),
         |e AS (SELECT *,
         |    (conv_ctrl + conv_treat)::DOUBLE / (n_ctrl + n_treat)
         |      AS pooled FROM a)
         |SELECT segment, n_ctrl, conv_ctrl, n_treat, conv_treat,
         |  CAST((conv_ctrl * 1000000) // n_ctrl AS BIGINT)
         |    AS rate_ctrl_ppm,
         |  CAST((conv_treat * 1000000) // n_treat AS BIGINT)
         |    AS rate_treat_ppm,
         |  CAST((conv_treat * 1000000) // n_treat -
         |    (conv_ctrl * 1000000) // n_ctrl AS BIGINT) AS diff_ppm,
         |  CASE WHEN n_ctrl > 0 AND n_treat > 0 AND pooled > 0
         |      AND pooled < 1 THEN
         |    round((conv_treat::DOUBLE / n_treat -
         |      conv_ctrl::DOUBLE / n_ctrl) /
         |      sqrt(pooled * (1.0 - pooled) *
         |        (1.0 / n_ctrl + 1.0 / n_treat)), 6) END AS z
         |FROM e ORDER BY segment""".stripMargin),

    QueryDef("q194_did", (s, dir) =>
      Experiment.didReport(Tables.load(s, dir, "events"),
        pmod(col("user_id"), lit(2L)),
        col("ts") < lit(DriftQueries.PsiCutoff).cast("timestamp")), {
      val pre = s"ts < TIMESTAMP '${DriftQueries.PsiCutoff}'"
      def n(arm: Int, preSide: Boolean, suf: String) = {
        val cond = s"user_id % 2 = $arm AND ${if (preSide) pre else s"NOT ($pre)"}"
        s"""CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_$suf,
           |  CAST(sum(CASE WHEN $cond THEN CAST(round(value * 1e3)
           |    AS BIGINT) ELSE 0 END) AS BIGINT) AS s_$suf""".stripMargin
      }
      s"""WITH a AS (SELECT
         |  ${n(0, preSide = true, "c_pre")},
         |  ${n(0, preSide = false, "c_post")},
         |  ${n(1, preSide = true, "t_pre")},
         |  ${n(1, preSide = false, "t_post")}
         |  FROM events)
         |SELECT n_c_pre, s_c_pre, n_c_post, s_c_post,
         |  n_t_pre, s_t_pre, n_t_post, s_t_post,
         |  round(s_c_pre::DOUBLE / n_c_pre, 6) AS mean_c_pre,
         |  round(s_c_post::DOUBLE / n_c_post, 6) AS mean_c_post,
         |  round(s_t_pre::DOUBLE / n_t_pre, 6) AS mean_t_pre,
         |  round(s_t_post::DOUBLE / n_t_post, 6) AS mean_t_post,
         |  round((s_t_post::DOUBLE / n_t_post -
         |    s_t_pre::DOUBLE / n_t_pre) -
         |    (s_c_post::DOUBLE / n_c_post -
         |      s_c_pre::DOUBLE / n_c_pre), 6) AS did_milli
         |FROM a""".stripMargin
    }),

    QueryDef("q195_source_influence", (s, dir) =>
      Concentration.influenceReport(Tables.load(s, dir, "documents"),
        "source", "n_chars"),
      """WITH g AS (SELECT source AS g, CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(sum(CAST(round(n_chars * 1e3) AS BIGINT)) AS BIGINT)
        |      AS s_g
        |  FROM documents GROUP BY 1),
        |w AS (SELECT *, CAST(sum(n_g) OVER () AS BIGINT) AS n_all,
        |    CAST(sum(s_g) OVER () AS BIGINT) AS s_all FROM g),
        |e AS (SELECT *, round(s_all::DOUBLE / n_all, 6) AS mean_all,
        |    CASE WHEN n_all > n_g THEN
        |      round((s_all - s_g)::DOUBLE / (n_all - n_g), 6) END
        |      AS mean_wo FROM w)
        |SELECT g AS source, n_g, s_g AS s_g_milli,
        |  mean_all AS mean_all_milli, mean_wo AS mean_wo_milli,
        |  CASE WHEN n_all > n_g THEN round(mean_all - mean_wo, 6) END
        |    AS influence_milli
        |FROM e ORDER BY source""".stripMargin),

    QueryDef("q196_mde", (s, dir) => {
      val units = Tables.load(s, dir, "events")
        .groupBy(col("user_id").as("u"))
        .agg(max(col("event_type") === "purchase" &&
          col("value") > ConvMinValue).as("success"))
        .select(pmod(col("u"), lit(2L)).as("arm"), col("success"))
      Experiment.mdeReport(units)
    }, {
      val z = (Experiment.ZAlphaMicro + Experiment.ZPowerMicro).toDouble / 1e6
      s"""WITH u AS (SELECT user_id AS u,
         |    max(CASE WHEN event_type = 'purchase'
         |      AND value > ${ConvMinValue}
         |      THEN 1 ELSE 0 END) AS s
         |  FROM events GROUP BY 1),
         |a AS (SELECT
         |    CAST(sum(CASE WHEN u % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_ctrl,
         |    CAST(sum(CASE WHEN u % 2 = 0 THEN s ELSE 0 END) AS BIGINT)
         |      AS conv_ctrl,
         |    CAST(sum(CASE WHEN u % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_treat,
         |    CAST(sum(CASE WHEN u % 2 = 1 THEN s ELSE 0 END) AS BIGINT)
         |      AS conv_treat
         |  FROM u),
         |e AS (SELECT *,
         |    (conv_ctrl + conv_treat)::DOUBLE / (n_ctrl + n_treat)
         |      AS pooled FROM a)
         |SELECT n_ctrl, n_treat, conv_ctrl, conv_treat,
         |  CAST(((conv_ctrl + conv_treat) * 1000000) //
         |    (n_ctrl + n_treat) AS BIGINT) AS baseline_ppm,
         |  CASE WHEN n_ctrl > 0 AND n_treat > 0 AND pooled > 0
         |      AND pooled < 1 THEN
         |    round($z * sqrt(pooled * (1.0 - pooled) *
         |      (1.0 / n_ctrl + 1.0 / n_treat)), 6) END AS mde_abs
         |FROM e""".stripMargin
    }),

    QueryDef("q197_pairwise_welch", (s, dir) =>
      Correlate.pairwiseWelch(Tables.load(s, dir, "events"),
        "event_type", "value"),
      """WITH s AS (SELECT event_type AS g,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(value * 1e3) AS BIGINT)) AS BIGINT) AS s,
        |    sum(CAST(round(value * 1e3) AS BIGINT) *
        |      CAST(round(value * 1e3) AS BIGINT)) AS q
        |  FROM events GROUP BY 1),
        |v AS (SELECT g, n, s, CASE WHEN n > 1 THEN CAST(round(
        |    CAST(n * q - s::HUGEINT * s AS DOUBLE) /
        |    (n::DOUBLE * (n - 1))) AS BIGINT) END AS v FROM s),
        |p AS (SELECT a.g AS group_a, b.g AS group_b,
        |    a.n AS n_a, b.n AS n_b, a.s AS s_a, b.s AS s_b,
        |    a.v AS v_a_milli2, b.v AS v_b_milli2
        |  FROM v a JOIN v b ON a.g < b.g),
        |e AS (SELECT *, v_a_milli2::DOUBLE / n_a AS se1,
        |    v_b_milli2::DOUBLE / n_b AS se2 FROM p)
        |SELECT group_a, group_b, n_a, n_b, v_a_milli2, v_b_milli2,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND se1 + se2 > 0 THEN
        |    round((s_a::DOUBLE / n_a - s_b::DOUBLE / n_b) /
        |      sqrt(se1 + se2), 6) END AS t_stat,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND se1 + se2 > 0 THEN
        |    round(((se1 + se2) * (se1 + se2)) /
        |      ((se1 * se1) / (n_a - 1) + (se2 * se2) / (n_b - 1)), 3)
        |  END AS df_w
        |FROM e ORDER BY group_a, group_b""".stripMargin),

    // HHI of the language mix per source — the dominant-category
    // counterpart of q176's entropy view.
    QueryDef("q198_hhi", (s, dir) =>
      Concentration.hhiReport(Tables.load(s, dir, "documents"),
        "source", "lang"),
      """WITH c AS (SELECT source AS g, lang AS cat, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |s AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(c::HUGEINT * c) AS BIGINT) AS sum_sq
        |  FROM c GROUP BY 1)
        |SELECT g AS source, n AS n_rows, k AS n_cats, sum_sq,
        |  round(sum_sq::DOUBLE / (n::DOUBLE * n), 6) AS hhi,
        |  round((n::DOUBLE * n) / sum_sq::DOUBLE, 6) AS eff_n
        |FROM s ORDER BY source""".stripMargin),

    // ESS per source when docs are importance-weighted by length.
    QueryDef("q199_ess", (s, dir) =>
      Sampling.essReport(Tables.load(s, dir, "documents"),
        "source", "n_chars"),
      """WITH w AS (SELECT source AS g,
        |    CAST(round(n_chars * 1e3) AS BIGINT) AS wm FROM documents),
        |s AS (SELECT g, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(wm) AS BIGINT) AS sw, sum(wm::HUGEINT * wm) AS sww
        |  FROM w GROUP BY 1),
        |e AS (SELECT g, n_rows, sw,
        |    CASE WHEN sww > 0 THEN
        |      round((sw::DOUBLE * sw) / sww::DOUBLE, 6) END AS ess
        |  FROM s)
        |SELECT g AS source, n_rows, sw AS sum_w_milli, ess,
        |  CASE WHEN ess IS NOT NULL THEN round(ess / n_rows, 6) END
        |    AS ess_ratio
        |FROM e ORDER BY source""".stripMargin),

    // Group-sequential conversion monitor: the q193 unit grain with a
    // deterministic peek index; cumulative z vs frozen O'Brien-Fleming
    // boundaries answers "when could this test have stopped".
    QueryDef("q203_group_sequential", (s, dir) => {
      val units = Tables.load(s, dir, "events")
        .groupBy(col("user_id").as("u"))
        .agg(max(col("event_type") === "purchase" &&
          col("value") > ConvMinValue).as("success"))
        .select(pmod(col("u"), lit(2L)).as("arm"),
          (pmod(expr("u div 2"), lit(4L)) + 1).as("peek"),
          col("success"))
      Experiment.groupSequentialZ(units, "peek")
    }, {
      val b = Experiment.ObfBoundaryMicro
      s"""WITH u AS (SELECT user_id AS u,
         |    CAST(max(CASE WHEN event_type = 'purchase'
         |      AND value > ${ConvMinValue} THEN 1 ELSE 0
         |      END) AS BIGINT) AS s
         |  FROM events GROUP BY 1),
         |seg AS (SELECT u % 2 AS arm, ((u // 2) % 4) + 1 AS peek, s
         |  FROM u),
         |pp AS (SELECT peek,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS dn0,
         |    CAST(sum(CASE WHEN arm = 0 THEN s ELSE 0 END) AS BIGINT)
         |      AS dk0,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS dn1,
         |    CAST(sum(CASE WHEN arm = 1 THEN s ELSE 0 END) AS BIGINT)
         |      AS dk1
         |  FROM seg GROUP BY 1),
         |c AS (SELECT CAST(peek AS INTEGER) AS peek,
         |    CAST(sum(dn0) OVER w AS BIGINT) AS n_ctrl,
         |    CAST(sum(dk0) OVER w AS BIGINT) AS conv_ctrl,
         |    CAST(sum(dn1) OVER w AS BIGINT) AS n_treat,
         |    CAST(sum(dk1) OVER w AS BIGINT) AS conv_treat
         |  FROM pp WINDOW w AS (ORDER BY peek
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |e AS (SELECT *,
         |    (conv_ctrl + conv_treat)::DOUBLE / (n_ctrl + n_treat)
         |      AS pooled FROM c),
         |f AS (SELECT peek, n_ctrl, conv_ctrl, n_treat, conv_treat,
         |    CASE WHEN n_ctrl > 0 AND n_treat > 0 AND pooled > 0
         |        AND pooled < 1 THEN
         |      round((conv_treat::DOUBLE / n_treat -
         |        conv_ctrl::DOUBLE / n_ctrl) /
         |        sqrt(pooled * (1.0 - pooled) *
         |          (1.0 / n_ctrl + 1.0 / n_treat)), 6) END AS z,
         |    CASE peek WHEN 1 THEN ${b(0)} WHEN 2 THEN ${b(1)}
         |      WHEN 3 THEN ${b(2)} WHEN 4 THEN ${b(3)} END
         |      AS boundary_micro
         |  FROM e),
         |g AS (SELECT *, coalesce(CAST(round(abs(z) * 1e6) AS BIGINT)
         |      >= boundary_micro, false) AS crossed FROM f)
         |SELECT *, CAST(min(CASE WHEN crossed THEN peek END) OVER ()
         |    AS INTEGER) AS first_cross_peek
         |FROM g ORDER BY peek""".stripMargin
    }),

    // Who responds to treatment: per-user activity count as the
    // targeting score, q193's conversion as outcome, parity arms.
    QueryDef("q204_uplift_bins", (s, dir) => {
      val units = Tables.load(s, dir, "events")
        .groupBy(col("user_id").as("u"))
        .agg(count(lit(1)).as("score"),
          max(col("event_type") === "purchase" &&
            col("value") > ConvMinValue).as("success"))
        .select(col("score"), pmod(col("u"), lit(2L)).as("arm"),
          col("success"))
      Experiment.upliftByDecile(units, "score")
    },
      s"""WITH u AS (SELECT user_id AS u, CAST(count(*) AS BIGINT) AS sc,
         |    CAST(max(CASE WHEN event_type = 'purchase'
         |      AND value > ${ConvMinValue} THEN 1 ELSE 0
         |      END) AS BIGINT) AS s
         |  FROM events GROUP BY 1),
         |bd AS (SELECT min(sc) AS mn, max(sc) AS mx FROM u),
         |v AS (SELECT ((sc - mn) * 10) // (mx - mn + 1) AS bin,
         |    u % 2 AS arm, s FROM u, bd),
         |p AS (SELECT bin,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_ctrl,
         |    CAST(sum(CASE WHEN arm = 0 THEN s ELSE 0 END) AS BIGINT)
         |      AS conv_ctrl,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_treat,
         |    CAST(sum(CASE WHEN arm = 1 THEN s ELSE 0 END) AS BIGINT)
         |      AS conv_treat
         |  FROM v GROUP BY 1),
         |c AS (SELECT *,
         |    CAST(sum(n_ctrl) OVER w AS BIGINT) AS cum_n_ctrl,
         |    CAST(sum(conv_ctrl) OVER w AS BIGINT) AS cum_k_ctrl,
         |    CAST(sum(n_treat) OVER w AS BIGINT) AS cum_n_treat,
         |    CAST(sum(conv_treat) OVER w AS BIGINT) AS cum_k_treat
         |  FROM p WINDOW w AS (ORDER BY bin DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT bin, n_ctrl, conv_ctrl, n_treat, conv_treat,
         |  (CASE WHEN n_treat > 0 THEN (conv_treat * 1000000) // n_treat
         |     END -
         |   CASE WHEN n_ctrl > 0 THEN (conv_ctrl * 1000000) // n_ctrl
         |     END) AS uplift_ppm,
         |  cum_n_treat,
         |  (CASE WHEN cum_n_treat > 0 THEN
         |     (cum_k_treat * 1000000) // cum_n_treat END -
         |   CASE WHEN cum_n_ctrl > 0 THEN
         |     (cum_k_ctrl * 1000000) // cum_n_ctrl END) AS cum_uplift_ppm
         |FROM c ORDER BY bin DESC""".stripMargin),

    // Skewness-attack audit: does any nation's market-segment mix
    // differ from the table's by more than 200 milli TV?
    QueryDef("q205_t_closeness", (s, dir) =>
      Privacy.tClosenessReport(Tables.load(s, dir, "customer"),
        Seq("c_nationkey"), "c_mktsegment", TClosenessMilli),
      s"""WITH cen AS (SELECT c_nationkey AS q, c_mktsegment AS v,
         |    CAST(count(*) AS BIGINT) AS c FROM customer GROUP BY 1, 2),
         |g AS (SELECT v, CAST(sum(c) AS BIGINT) AS gv FROM cen
         |  GROUP BY 1),
         |nt AS (SELECT CAST(sum(c) AS BIGINT) AS ntot FROM cen),
         |nc AS (SELECT q, CAST(sum(c) AS BIGINT) AS nrows FROM cen
         |  GROUP BY 1),
         |j AS (SELECT cen.q,
         |    sum(abs(CAST(cen.c AS HUGEINT) * nt.ntot -
         |      CAST(g.gv AS HUGEINT) * nc.nrows)) AS present,
         |    CAST(sum(g.gv) AS BIGINT) AS gp
         |  FROM cen JOIN g USING (v) CROSS JOIN nt
         |    JOIN nc ON nc.q = cen.q
         |  GROUP BY cen.q),
         |f AS (SELECT j.q, nc.nrows AS n_rows,
         |    CAST(((j.present + CAST(nc.nrows AS HUGEINT) *
         |      (nt.ntot - j.gp)) * 500) //
         |      (CAST(nc.nrows AS HUGEINT) * nt.ntot) AS BIGINT)
         |      AS tv_milli
         |  FROM j JOIN nc ON nc.q = j.q CROSS JOIN nt)
         |SELECT q AS c_nationkey, n_rows, tv_milli,
         |  tv_milli > $TClosenessMilli AS t_violation
         |FROM f ORDER BY c_nationkey""".stripMargin),

    // Do even- and odd-user populations reach their first severe
    // error at different rates? (q160's lifetime model, two arms.)
    QueryDef("q206_log_rank", (s, dir) =>
      Survival.logRank(Tables.load(s, dir, "events"),
        col("event_type") === "error" && col("value") > 150,
        col("user_id") % 2 === 0),
      """WITH u AS (SELECT user_id AS u,
        |    min(date_trunc('day', ts)::DATE) AS entry,
        |    min(CASE WHEN event_type = 'error' AND value > 150
        |      THEN date_trunc('day', ts)::DATE END) AS event_day,
        |    max(user_id % 2 = 0) AS is_a
        |  FROM events GROUP BY 1),
        |b AS (SELECT max(date_trunc('day', ts)::DATE) AS horizon
        |  FROM events),
        |lt AS (SELECT CAST(CASE WHEN event_day IS NOT NULL
        |      THEN event_day - entry ELSE horizon - entry END AS BIGINT)
        |      AS t,
        |    event_day IS NOT NULL AS observed, is_a FROM u, b),
        |cs AS (SELECT t,
        |    sum(CASE WHEN observed AND is_a THEN 1 ELSE 0 END) AS d1,
        |    sum(CASE WHEN observed AND NOT is_a THEN 1 ELSE 0 END) AS d2,
        |    sum(CASE WHEN NOT observed AND is_a THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN NOT observed AND NOT is_a THEN 1 ELSE 0 END)
        |      AS c2
        |  FROM lt GROUP BY t),
        |w AS (SELECT *,
        |    CAST(sum(d1 + c1) OVER () AS BIGINT) AS na_tot,
        |    CAST(sum(d2 + c2) OVER () AS BIGINT) AS nb_tot,
        |    CAST(sum(d1 + c1) OVER () - coalesce(sum(d1 + c1)
        |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND 1 PRECEDING), 0) AS BIGINT) AS n1,
        |    CAST(sum(d2 + c2) OVER () - coalesce(sum(d2 + c2)
        |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND 1 PRECEDING), 0) AS BIGINT) AS n2
        |  FROM cs),
        |r AS (SELECT *, n1 + n2 AS n, d1 + d2 AS d FROM w
        |  WHERE d1 + d2 > 0 AND n1 > 0 AND n2 > 0 AND n1 + n2 > 1),
        |k AS (SELECT na_tot, nb_tot, d1, d2,
        |    CAST(round((d1 - d::DOUBLE * n1 / n) * 1e9) AS BIGINT)
        |      AS ome_nano,
        |    CAST(round(d::DOUBLE * (n1::DOUBLE / n) * (n2::DOUBLE / n) *
        |      ((n - d)::DOUBLE / (n - 1)) * 1e9) AS BIGINT) AS v_nano
        |  FROM r)
        |SELECT na_tot AS n_a, nb_tot AS n_b,
        |  CAST(sum(d1) AS BIGINT) AS events_a,
        |  CAST(sum(d2) AS BIGINT) AS events_b,
        |  CASE WHEN sum(v_nano) > 0 THEN
        |    round((sum(ome_nano)::DOUBLE / 1e9) *
        |      (sum(ome_nano)::DOUBLE / 1e9) /
        |      (sum(v_nano)::DOUBLE / 1e9), 6) END AS chi2
        |FROM k GROUP BY na_tot, nb_tot""".stripMargin),

    QueryDef("q209_conformal", (s, dir) =>
      Evaluation.conformalReport(Tables.load(s, dir, "events"),
        "event_type", "value", "event_id", ConformalAlphaPermille), {
      val a = ConformalAlphaPermille
      val p = graft.operators.Sampling.HashMod
      s"""WITH b AS (SELECT event_type AS g,
         |    CAST(round(value * 1e6) AS BIGINT) AS vm,
         |    ((event_id % $p) * 2654435761) % $p % 2 = 0 AS cal
         |  FROM events),
         |m AS (SELECT g, CAST(count(*) AS BIGINT) AS n_cal,
         |    CAST(sign(sum(vm)) * (abs(sum(vm)) // count(*)) AS BIGINT)
         |      AS mean_micro
         |  FROM b WHERE cal GROUP BY 1),
         |rc AS (SELECT b.g, abs(vm - mean_micro) AS r,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM b JOIN m ON m.g = b.g WHERE cal GROUP BY 1, 2),
         |q AS (SELECT rc.g, min(CASE WHEN cum >= rank THEN r END)
         |      AS qhat_micro
         |  FROM (SELECT g, r, sum(c) OVER (PARTITION BY g ORDER BY r
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |    FROM rc) rc
         |  JOIN (SELECT g, least(((n_cal + 1) * ${1000 - a} + 999)
         |      // 1000, n_cal) AS rank FROM m) k ON k.g = rc.g
         |  GROUP BY 1)
         |SELECT b.g AS event_type, m.n_cal,
         |  CAST(count(*) AS BIGINT) AS n_test, m.mean_micro,
         |  q.qhat_micro,
         |  CAST(sum(CASE WHEN abs(vm - mean_micro) <= qhat_micro
         |    THEN 1 ELSE 0 END) AS BIGINT) AS covered,
         |  CAST((sum(CASE WHEN abs(vm - mean_micro) <= qhat_micro
         |    THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT)
         |    AS coverage_ppm
         |FROM b JOIN m ON m.g = b.g JOIN q ON q.g = b.g
         |WHERE NOT cal GROUP BY 1, 2, 4, 5
         |ORDER BY event_type""".stripMargin
    }),

    // Which event types reach the same users — exact pairwise
    // intersections off the distinct (user, type) relation.
    QueryDef("q211_audience_overlap", (s, dir) =>
      Concentration.audienceOverlap(Tables.load(s, dir, "events")),
      """WITH m AS (SELECT DISTINCT user_id AS u, event_type AS l
        |  FROM events),
        |s AS (SELECT l, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY 1),
        |b AS (SELECT a.l AS label_a, c.l AS label_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM m a JOIN m c ON a.u = c.u AND a.l < c.l
        |  GROUP BY 1, 2)
        |SELECT label_a, label_b, sa.n AS n_a, sb.n AS n_b, n_both,
        |  CAST((n_both * 1000000) // (sa.n + sb.n - n_both) AS BIGINT)
        |    AS jaccard_ppm
        |FROM b JOIN s sa ON sa.l = label_a JOIN s sb ON sb.l = label_b
        |ORDER BY label_a, label_b""".stripMargin),

    // Monotone dependence between a user's activity volume and spend
    // (value-domain ranks, tie-averaged).
    QueryDef("q217_spearman", (s, dir) => {
      val u = Tables.load(s, dir, "events")
        .groupBy(col("user_id").as("u"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("spend_cents"))
      Correlate.spearman(u, "n_events", "spend_cents")
    },
      """WITH u AS (SELECT user_id AS u,
        |    CAST(count(*) AS BIGINT) AS x,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |cc AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM u
        |  GROUP BY 1, 2),
        |rx AS (SELECT x, 2 * coalesce(sum(t) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + t + 1 AS rx2
        |  FROM (SELECT x, CAST(sum(c) AS BIGINT) AS t FROM cc
        |    GROUP BY x)),
        |ry AS (SELECT y, 2 * coalesce(sum(t) OVER (ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + t + 1 AS ry2
        |  FROM (SELECT y, CAST(sum(c) AS BIGINT) AS t FROM cc
        |    GROUP BY y)),
        |s AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_cells,
        |    CAST(sum(CAST(c AS HUGEINT) * rx2) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(c AS HUGEINT) * ry2) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(c AS HUGEINT) * rx2 * rx2) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(c AS HUGEINT) * ry2 * ry2) AS HUGEINT) AS syy,
        |    CAST(sum(CAST(c AS HUGEINT) * rx2 * ry2) AS HUGEINT) AS sxy
        |  FROM cc JOIN rx USING (x) JOIN ry USING (y))
        |SELECT n, n_cells,
        |  CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |      > 0 AND (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)
        |      > 0 THEN
        |    round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
        |      sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
        |        (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6)
        |    END AS rho
        |FROM s""".stripMargin),

    // Chance-corrected agreement between the labeled language and the
    // n-gram language-ID prediction (the q31 confusion matrix's single
    // honest number).
    QueryDef("q225_cohens_kappa", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("lang"),
          TextOps.predictedLang(col("text")).as("predicted"))
      Evaluation.cohensKappa(docs, "lang", "predicted")
    }, {
      val hits = TextOps.LangMarkers.map { case (code, ms) =>
        s"${TextQueries.langHitSql(ms)} AS h_$code"
      }.mkString(", ")
      val codes = TextOps.LangMarkers.map(_._1)
      val greatest = s"greatest(${codes.map(c => s"h_$c").mkString(", ")})"
      val caseChain = codes.map(c =>
        s"WHEN h_$c = $greatest THEN '$c'").mkString(" ")
      s"""WITH s AS (SELECT lang, $hits FROM documents),
         |p AS (SELECT lang AS a, CASE WHEN $greatest = 0 THEN 'und'
         |    $caseChain END AS b FROM s),
         |cen AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM p
         |  GROUP BY 1, 2),
         |ma AS (SELECT a, CAST(sum(c) AS BIGINT) AS ra FROM cen
         |  GROUP BY 1),
         |mb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM cen
         |  GROUP BY 1),
         |ch AS (SELECT CAST(sum(CAST(ra AS HUGEINT) * cb) AS HUGEINT)
         |    AS pe_num FROM ma JOIN mb ON ma.a = mb.b),
         |bs AS (SELECT CAST(sum(c) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
         |      AS n_agree FROM cen)
         |SELECT n, n_agree,
         |  CAST((n_agree * 1000000) // n AS BIGINT) AS agree_ppm,
         |  CASE WHEN CAST(n AS HUGEINT) * n <> coalesce(pe_num, 0) THEN
         |    round((n_agree::DOUBLE * n - coalesce(pe_num, 0)::DOUBLE) /
         |      (n::DOUBLE * n - coalesce(pe_num, 0)::DOUBLE), 6) END
         |    AS kappa
         |FROM bs, ch""".stripMargin
    }),

    // Murphy decomposition of the Brier score for the value-derived
    // forecast of "this event is a purchase".
    QueryDef("q229_brier", (s, dir) =>
      Evaluation.brierReport(probMicro(s, dir), "pm",
        col("event_type") === "purchase", BrierBins),
      s"""WITH b AS (SELECT CAST(round(value * 1e6) AS BIGINT) AS vm,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
         |  FROM events),
         |mx AS (SELECT min(vm) AS mn, max(vm) AS mx FROM b),
         |v AS (SELECT ((vm - mn) * 1000000) // (mx - mn + 1) AS pm,
         |    CAST(y AS BIGINT) AS y FROM b, mx),
         |v2 AS (SELECT pm, y, (pm * $BrierBins) // 1000001 AS bin
         |  FROM v),
         |bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_k,
         |    CAST(sum(pm) // count(*) AS BIGINT) AS fbar,
         |    CAST((sum(y) * 1000000) // count(*) AS BIGINT) AS obar
         |  FROM v2 GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS n_pos,
         |    CAST(sum(CAST((pm - y * 1000000) * (pm - y * 1000000)
         |      AS HUGEINT)) AS HUGEINT) AS bsum,
         |    CAST((sum(y) * 1000000) // count(*) AS BIGINT) AS obar_all
         |  FROM v2),
         |parts AS (SELECT CAST(count(*) AS BIGINT) AS n_bins_used,
         |    CAST(sum(CAST(n_k AS HUGEINT) * (fbar - obar)
         |      * (fbar - obar)) AS HUGEINT) AS rel_num,
         |    CAST(sum(CAST(n_k AS HUGEINT) * (obar - obar_all)
         |      * (obar - obar_all)) AS HUGEINT) AS res_num
         |  FROM bins, tot)
         |SELECT n, n_pos, n_bins_used,
         |  round(bsum::DOUBLE / (n::DOUBLE * 1e12), 6) AS brier,
         |  round(rel_num::DOUBLE / (n::DOUBLE * 1e12), 6)
         |    AS reliability,
         |  round(res_num::DOUBLE / (n::DOUBLE * 1e12), 6)
         |    AS resolution,
         |  round(obar_all::DOUBLE * (1e6 - obar_all::DOUBLE) / 1e12, 6)
         |    AS uncertainty
         |FROM tot, parts""".stripMargin),

    // Exact Shapley channel credit over purchase journeys: coalition
    // value = observed conversion rate of the exact touched set.
    QueryDef("q232_shapley_attribution", (s, dir) =>
      Attribution.shapleyAttribution(Tables.load(s, dir, "events"),
        "purchase"),
      """WITH ev AS (SELECT user_id AS u, event_type AS s, ts,
        |    event_id AS e FROM events),
        |cv AS (SELECT u, ts AS cts, e AS ce FROM (
        |    SELECT u, ts, e, row_number() OVER (PARTITION BY u
        |      ORDER BY ts, e) AS rn FROM ev WHERE s = 'purchase')
        |  WHERE rn = 1),
        |tj AS (SELECT DISTINCT ev.u, ev.s, cv.cts IS NOT NULL AS conv
        |  FROM ev LEFT JOIN cv ON cv.u = ev.u
        |  WHERE cv.u IS NULL OR ev.ts < cv.cts
        |    OR (ev.ts = cv.cts AND ev.e < cv.ce)),
        |ci AS (SELECT s, CAST(row_number() OVER (ORDER BY s) - 1
        |    AS INTEGER) AS idx FROM (SELECT DISTINCT s FROM tj)),
        |kk AS (SELECT CAST(count(*) AS INTEGER) AS k FROM ci),
        |mk AS (SELECT u, conv,
        |    CAST(sum(CAST(1 AS BIGINT) << idx) AS BIGINT) AS mask
        |  FROM tj JOIN ci USING (s) GROUP BY 1, 2
        |  UNION ALL SELECT cv.u, true, 0 FROM cv
        |    WHERE cv.u NOT IN (SELECT DISTINCT u FROM tj)),
        |coal AS (SELECT mask, CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_conv FROM mk GROUP BY 1),
        |cvv AS (SELECT mask, (n_conv * 1000000) // n_keys AS v
        |  FROM coal),
        |ss AS (SELECT CAST(u.i AS BIGINT) AS ss
        |  FROM kk, unnest(range(0, CAST(1 AS BIGINT) << k)) u(i)),
        |pr AS (SELECT ci.s AS channel, ss.ss,
        |    ss.ss + (CAST(1 AS BIGINT) << idx) AS sc,
        |    CAST(bit_count(ss.ss) AS INTEGER) AS sz
        |  FROM ss, ci WHERE (ss.ss & (CAST(1 AS BIGINT) << idx)) = 0),
        |wv AS (SELECT pr.channel,
        |    CAST(factorial(pr.sz) * factorial(kk.k - 1 - pr.sz)
        |      AS HUGEINT) AS w,
        |    CAST(coalesce(va.v, 0) - coalesce(vb.v, 0) AS BIGINT)
        |      AS dv
        |  FROM pr CROSS JOIN kk
        |  LEFT JOIN cvv vb ON vb.mask = pr.ss
        |  LEFT JOIN cvv va ON va.mask = pr.sc),
        |ph AS (SELECT channel, CAST(sum(w * dv) AS HUGEINT) AS num
        |  FROM wv GROUP BY 1),
        |st AS (SELECT s AS channel,
        |    CAST(count(*) AS BIGINT) AS n_keys_touched,
        |    CAST(sum(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_conv_touched
        |  FROM tj GROUP BY 1)
        |SELECT st.channel, n_keys_touched, n_conv_touched,
        |  CAST(ph.num // CAST(factorial(kk.k) AS HUGEINT) AS BIGINT)
        |    AS shapley_micro
        |FROM st JOIN ph ON ph.channel = st.channel, kk
        |ORDER BY st.channel""".stripMargin),

    // IPW ATE with empirical bin propensities (treatment = user
    // parity, covariate = event type); naive contrast alongside.
    QueryDef("q235_ipw_ate", (s, dir) =>
      Experiment.ipwAte(Tables.load(s, dir, "events"),
        pmod(col("user_id"), lit(2L)) === 1, col("value"),
        col("event_type")),
      """WITH b AS (SELECT event_type AS g,
        |    CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS t,
        |    CAST(round(value * 1e6) AS BIGINT) AS ym FROM events),
        |bins AS (SELECT g, CAST(count(*) AS BIGINT) AS n_b,
        |    CAST(sum(t) AS BIGINT) AS nt_b FROM b GROUP BY 1),
        |us AS (SELECT g, (nt_b * 1000000) // n_b AS e FROM bins
        |  WHERE (nt_b * 1000000) // n_b > 0
        |    AND (nt_b * 1000000) // n_b < 1000000),
        |cl AS (SELECT t, ym, CASE WHEN t = 1
        |      THEN (CAST(ym AS HUGEINT) * 1000000) // e
        |      ELSE -((CAST(ym AS HUGEINT) * 1000000) // (1000000 - e))
        |      END AS cell
        |  FROM b JOIN us ON us.g = b.g),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b)
        |SELECT tot.n, CAST(count(*) AS BIGINT) AS n_used,
        |  CAST(sum(t) AS BIGINT) AS n_treated_used,
        |  CAST(sum(cell) // count(*) AS BIGINT) AS ate_ipw_micro,
        |  CAST(sum(CASE WHEN t = 1 THEN ym ELSE 0 END) // sum(t) -
        |    sum(CASE WHEN t = 0 THEN ym ELSE 0 END) //
        |      (count(*) - sum(t)) AS BIGINT) AS ate_naive_micro
        |FROM cl, tot GROUP BY tot.n""".stripMargin),

    // Neyman sample-budget allocation across event-type strata by
    // exact N_h·σ_h weights, largest-remainder to hit the budget.
    QueryDef("q236_neyman_allocation", (s, dir) =>
      Sampling.neymanAllocation(Tables.load(s, dir, "events"),
        "event_type", "value", NeymanBudget),
      s"""WITH s AS (SELECT event_type AS g,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(round(sqrt(CAST(count(*) *
         |        sum(CAST(CAST(round(value * 1e6) AS BIGINT)
         |          AS HUGEINT) * CAST(round(value * 1e6) AS BIGINT)) -
         |        CAST(sum(CAST(round(value * 1e6) AS BIGINT))
         |          AS HUGEINT) * sum(CAST(round(value * 1e6)
         |          AS BIGINT)) AS DOUBLE)) / count(*)) AS BIGINT)
         |      AS sigma_micro
         |  FROM events GROUP BY 1),
         |w AS (SELECT *, CAST(n_rows AS HUGEINT) * sigma_micro AS w
         |  FROM s),
         |tw AS (SELECT CAST(sum(w) AS HUGEINT) AS tw FROM w),
         |sh AS (SELECT g, n_rows, sigma_micro,
         |    CASE WHEN tw > 0 THEN CAST((w * $NeymanBudget) // tw
         |      AS BIGINT) ELSE 0 END AS fl,
         |    CASE WHEN tw > 0 THEN (w * $NeymanBudget) % tw
         |      ELSE 0 END AS rem, tw
         |  FROM w, tw),
         |short AS (SELECT $NeymanBudget - sum(fl) AS short FROM sh)
         |SELECT g AS event_type, n_rows, sigma_micro,
         |  CAST(fl + CASE WHEN rk <= short AND tw > 0 THEN 1 ELSE 0
         |    END AS BIGINT) AS alloc
         |FROM (SELECT *, row_number() OVER (ORDER BY rem DESC, g ASC)
         |    AS rk FROM sh), short
         |ORDER BY event_type""".stripMargin),

    // Average precision of the char-length score for "is a purchase"
    // — the imbalance-honest single-number PR summary.
    QueryDef("q237_average_precision", (s, dir) =>
      Evaluation.averagePrecision(
        Tables.load(s, dir, "events")
          .select(round(col("value") * 100).cast("long").as("score"),
            col("event_type")),
        "score", col("event_type") === "purchase"),
      """WITH v AS (SELECT CAST(round(value * 100) AS BIGINT) AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |h AS (SELECT s, CAST(sum(y) AS BIGINT) AS pos,
        |    CAST(sum(1 - y) AS BIGINT) AS neg FROM v GROUP BY 1),
        |c AS (SELECT s, pos, neg,
        |    sum(pos) OVER (ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        |    sum(neg) OVER (ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
        |  FROM h)
        |SELECT CAST(sum(pos + neg) AS BIGINT) AS n,
        |  CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(count(*) AS BIGINT) AS n_thresholds,
        |  CAST(sum(CAST((CAST(pos AS HUGEINT) * tp * 1000000) //
        |    (tp + fp) AS BIGINT)) // sum(pos) AS BIGINT) AS ap_ppm
        |FROM c""".stripMargin),

    // epsilon-DP event-type counts via the Laplace mechanism with
    // hash-deterministic noise (reproducible release; see scaladoc
    // for the production salt contract).
    QueryDef("q239_dp_histogram", (s, dir) =>
      Privacy.dpHistogram(Tables.load(s, dir, "events"), "event_type",
        DpEpsilonPermille, DpSalt), {
      val mod = TextOps.HashMod
      val b = 1000.0 / DpEpsilonPermille
      val hs = DedupQueries.rollSql(s"key || '#$DpSalt'")
      s"""WITH c AS (SELECT event_type AS key,
         |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
         |h AS (SELECT key, n,
         |    ((($hs) % $mod + $mod) % $mod)::DOUBLE / $mod AS u
         |  FROM c),
         |l AS (SELECT key, n,
         |    CAST(round(-$b * sign(u - 0.5) *
         |      ln(1 - 2 * greatest(abs(u - 0.5) - 1.0 / $mod, 0)) *
         |      1e6) AS BIGINT) AS lap_micro
         |  FROM h)
         |SELECT key AS event_type, n, lap_micro,
         |  CAST(n + lap_micro // 1000000 AS BIGINT) AS n_released
         |FROM l ORDER BY event_type""".stripMargin
    }),

    // Rank-based one-way ANOVA across event types — robust where the
    // mean contrasts are dragged by heavy tails.
    QueryDef("q240_kruskal_wallis", (s, dir) =>
      Correlate.kruskalWallis(Tables.load(s, dir, "events"),
        "event_type", "value"),
      """WITH cl AS (SELECT event_type AS g,
        |    CAST(round(value * 1e6) AS BIGINT) AS vm,
        |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        |bv AS (SELECT vm, CAST(sum(c) AS BIGINT) AS ct FROM cl
        |  GROUP BY 1),
        |rk AS (SELECT vm, 2 * (cum - ct) + ct + 1 AS r2, ct
        |  FROM (SELECT vm, ct, sum(ct) OVER (ORDER BY vm
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM bv)),
        |pg AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_h,
        |    CAST(sum(CAST(c AS HUGEINT) * r2) AS HUGEINT) AS r2_h
        |  FROM cl JOIN rk USING (vm) GROUP BY 1),
        |pt AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(n_h) AS BIGINT) AS n,
        |    CAST(sum((r2_h * r2_h) // n_h) AS HUGEINT) AS sq FROM pg),
        |tt AS (SELECT CAST(sum(CAST(ct AS HUGEINT) * ct * ct - ct)
        |    AS HUGEINT) AS t3 FROM rk),
        |o AS (SELECT n, n_groups,
        |    round(3.0 * sq::DOUBLE / (n::DOUBLE * (n + 1)::DOUBLE) -
        |      3.0 * (n + 1)::DOUBLE, 6) AS h_stat,
        |    round(1.0 - t3::DOUBLE / (n::DOUBLE * n::DOUBLE *
        |      n::DOUBLE - n::DOUBLE), 6) AS tie_correction
        |  FROM pt, tt)
        |SELECT n, n_groups, h_stat, tie_correction,
        |  CASE WHEN tie_correction > 0
        |    THEN round(h_stat / tie_correction, 6) END AS h_corrected
        |FROM o""".stripMargin),

    // Variance homogeneity with median centers — the assumption check
    // upstream of pooled-variance contrasts.
    QueryDef("q241_brown_forsythe", (s, dir) =>
      Correlate.brownForsythe(Tables.load(s, dir, "events"),
        "event_type", "value"),
      """WITH cl AS (SELECT event_type AS g,
        |    CAST(round(value * 1e6) AS BIGINT) AS vm,
        |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        |wc AS (SELECT g, vm, c, sum(c) OVER (PARTITION BY g
        |      ORDER BY vm ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS ng FROM cl),
        |md AS (SELECT g,
        |    min(CASE WHEN cum >= (ng + 1) // 2 THEN vm END) +
        |    min(CASE WHEN cum >= (ng + 2) // 2 THEN vm END) AS m2
        |  FROM wc GROUP BY g),
        |dv AS (SELECT cl.g, c, abs(2 * vm - m2) AS d
        |  FROM cl JOIN md ON md.g = cl.g),
        |pg AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_h,
        |    CAST(sum(CAST(c AS HUGEINT) * d) AS HUGEINT) AS s_h,
        |    CAST(sum(CAST(c AS HUGEINT) * d * d) AS HUGEINT) AS ss_h
        |  FROM dv GROUP BY 1),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(n_h) AS BIGINT) AS n,
        |    CAST(sum(s_h) AS HUGEINT) AS s,
        |    CAST(sum(ss_h) AS HUGEINT) AS ss,
        |    CAST(sum((s_h * s_h) // n_h) AS HUGEINT) AS sqh FROM pg)
        |SELECT n, k AS n_groups,
        |  CASE WHEN k > 1 AND (ss - sqh)::DOUBLE > 0 THEN
        |    round((n - k)::DOUBLE / (k - 1)::DOUBLE *
        |      (sqh::DOUBLE - (s * s)::DOUBLE / n::DOUBLE) /
        |      (ss - sqh)::DOUBLE, 6) END AS f_stat
        |FROM ag""".stripMargin),

    // Benjamini-Hochberg step-up over the pairwise-Welch sweep.
    QueryDef("q242_fdr_welch", (s, dir) =>
      Correlate.fdrBh(welchP(s, dir), Seq("group_a", "group_b"),
        "p_ppm", FdrAlphaPpm), {
      val w = oracleOf("q197_pairwise_welch")
      s"""WITH w AS ($w),
         |p AS (SELECT group_a, group_b,
         |    CAST(round(2e6 / (1.0 + exp(1.702 * abs(t_stat))))
         |      AS BIGINT) AS p_ppm
         |  FROM w WHERE t_stat IS NOT NULL),
         |r AS (SELECT group_a, group_b, p_ppm,
         |    CAST(row_number() OVER (ORDER BY p_ppm, group_a, group_b)
         |      AS INTEGER) AS rank,
         |    count(*) OVER () AS n_tests
         |  FROM p),
         |c AS (SELECT *, least((CAST(p_ppm AS HUGEINT) * n_tests) //
         |    rank, 1000000) AS cand FROM r)
         |SELECT group_a, group_b, p_ppm, rank,
         |  CAST(min(cand) OVER (ORDER BY rank DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS adj_p_ppm,
         |  min(cand) OVER (ORDER BY rank DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    <= $FdrAlphaPpm AS significant
         |FROM c ORDER BY rank""".stripMargin
    }),

    // Strengths from "which event type carries more value per user" —
    // the Bradley-Terry read of the pairwise-preference census.
    QueryDef("q244_bradley_terry", (s, dir) =>
      Preference.bradleyTerry(matchups(s, dir), BtRounds), {
      // two MM rounds unrolled; every division a positive HUGEINT `//`
      val s = "1000000000000"
      def round(i: Int): String =
        s"""d$i AS (SELECT g.i,
           |    sum((CAST(g.n AS HUGEINT) * $s) // (wi.w + wj.w)) AS d
           |  FROM g JOIN w${i - 1} wi ON wi.i = g.i
           |    JOIN w${i - 1} wj ON wj.i = g.j GROUP BY 1),
           |r$i AS (SELECT it.i, (it.wins * $s) // d$i.d AS r
           |  FROM it JOIN d$i ON d$i.i = it.i),
           |w$i AS (SELECT i,
           |    (r * (SELECT k FROM k) * 1000000) //
           |      (SELECT sum(r) FROM r$i) AS w FROM r$i)""".stripMargin
      s"""WITH $MatchupSql,
         |g AS (SELECT item_a AS i, item_b AS j, wins_a + wins_b AS n,
         |    wins_a AS w FROM pr WHERE wins_a + wins_b > 0
         |  UNION ALL SELECT item_b, item_a, wins_a + wins_b, wins_b
         |  FROM pr WHERE wins_a + wins_b > 0),
         |it AS (SELECT i, CAST(sum(w) AS HUGEINT) AS wins,
         |    CAST(sum(n) AS BIGINT) AS games FROM g GROUP BY 1),
         |k AS (SELECT CAST(count(*) AS HUGEINT) AS k FROM it),
         |w0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS w FROM it),
         |${round(1)},
         |${round(2)}
         |SELECT it.i AS item, CAST(it.wins AS BIGINT) AS wins,
         |  it.games AS games, CAST(w2.w AS BIGINT) AS strength_micro,
         |  CAST(row_number() OVER (ORDER BY w2.w DESC, it.i)
         |    AS BIGINT) AS rank
         |FROM it JOIN w2 ON w2.i = it.i ORDER BY rank""".stripMargin
    }),

    // Did the per-user error incidence CHANGE between the window's
    // halves — the within-subject test on the discordant users only.
    QueryDef("q245_mcnemar", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val cut = lit(McnemarCut).cast("timestamp")
      val isErr = col("event_type") === "error"
      val paired = ev.groupBy("user_id").agg(
        (sum(when(isErr && col("ts") < cut, 1L).otherwise(0L)) > 0)
          .as("a"),
        (sum(when(isErr && col("ts") >= cut, 1L).otherwise(0L)) > 0)
          .as("b"))
      Preference.mcnemar(paired, "a", "b")
    },
      s"""WITH p AS (SELECT user_id,
         |    sum(CASE WHEN event_type = 'error' AND
         |      ts < TIMESTAMP '$McnemarCut' THEN 1 ELSE 0 END) > 0
         |      AS a,
         |    sum(CASE WHEN event_type = 'error' AND
         |      ts >= TIMESTAMP '$McnemarCut' THEN 1 ELSE 0 END) > 0
         |      AS b
         |  FROM events GROUP BY 1),
         |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
         |      AS BIGINT) AS a_only,
         |    CAST(sum(CASE WHEN b AND NOT a THEN 1 ELSE 0 END)
         |      AS BIGINT) AS b_only,
         |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_both,
         |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_neither
         |  FROM p)
         |SELECT n, a_only, b_only, n_both, n_neither,
         |  CASE WHEN a_only + b_only > 0 THEN
         |    round((abs(a_only - b_only)::DOUBLE - 1.0) *
         |      (abs(a_only - b_only)::DOUBLE - 1.0) /
         |      (a_only + b_only)::DOUBLE, 6) END AS chi2_cc
         |FROM c""".stripMargin),

    // Multi-rater agreement over each user's first-4-event panel:
    // do a user's early events "vote" for one event type.
    QueryDef("q246_fleiss_kappa", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val ratings = ev.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= FleissRaters)
      Preference.fleissKappa(ratings, "user_id", "event_type",
        FleissRaters)
    },
      s"""WITH r AS (SELECT user_id, event_type,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS rn FROM events),
         |cen AS (SELECT user_id AS item, event_type AS cat,
         |    CAST(count(*) AS BIGINT) AS c FROM r
         |  WHERE rn <= $FleissRaters GROUP BY 1, 2),
         |keep AS (SELECT cen.* FROM cen JOIN (SELECT item FROM cen
         |    GROUP BY item HAVING sum(c) = $FleissRaters) k
         |  USING (item)),
         |bc AS (SELECT CAST(count(*) AS BIGINT) AS n_categories,
         |    CAST(sum(CAST(s_c AS HUGEINT) * s_c) AS HUGEINT)
         |      AS pe_num
         |  FROM (SELECT cat, CAST(sum(c) AS BIGINT) AS s_c FROM keep
         |    GROUP BY 1)),
         |bi AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
         |    CAST(sum(sq) AS HUGEINT) AS sq_sum
         |  FROM (SELECT item, sum(CAST(c AS HUGEINT) * c) AS sq
         |    FROM keep GROUP BY 1)),
         |o AS (SELECT n_items, CAST($FleissRaters AS BIGINT)
         |      AS n_raters, n_categories,
         |    round((sq_sum::DOUBLE - n_items::DOUBLE *
         |        $FleissRaters.0) /
         |      (n_items::DOUBLE * $FleissRaters.0 *
         |        ($FleissRaters.0 - 1.0)), 6) AS p_observed,
         |    round(pe_num::DOUBLE /
         |      (n_items::DOUBLE * $FleissRaters.0 *
         |        n_items::DOUBLE * $FleissRaters.0), 6) AS p_expected
         |  FROM bi, bc)
         |SELECT n_items, n_raters, n_categories, p_observed,
         |  p_expected,
         |  CASE WHEN p_expected < 1.0 THEN
         |    round((p_observed - p_expected) / (1.0 - p_expected), 6)
         |  END AS kappa
         |FROM o""".stripMargin),

    // The ordered win-rate matrix with Wilson bounds — the honest
    // per-pair read underneath the q244 strengths.
    QueryDef("q247_win_rate_wilson", (s, dir) =>
      Preference.winRateMatrix(
        graft.util.Caches.cached(matchups(s, dir))),
      s"""WITH $MatchupSql,
         |b AS (SELECT item_a AS item, item_b AS opponent,
         |    wins_a AS wins, wins_a + wins_b AS n FROM pr
         |  UNION ALL SELECT item_b, item_a, wins_b, wins_a + wins_b
         |  FROM pr)
         |SELECT item, opponent, wins, n AS n_decisions,
         |  (wins * 1000000) // n AS win_rate_ppm,
         |  round((wins::DOUBLE / n::DOUBLE +
         |      (1.96 * 1.96) / (2.0 * n::DOUBLE)) /
         |      (1.0 + (1.96 * 1.96) / n::DOUBLE) -
         |    (1.96 * sqrt(wins::DOUBLE / n::DOUBLE *
         |        (1.0 - wins::DOUBLE / n::DOUBLE) / n::DOUBLE +
         |        (1.96 * 1.96) / (4.0 * n::DOUBLE * n::DOUBLE))) /
         |      (1.0 + (1.96 * 1.96) / n::DOUBLE), 6) AS wilson_lo,
         |  round((wins::DOUBLE / n::DOUBLE +
         |      (1.96 * 1.96) / (2.0 * n::DOUBLE)) /
         |      (1.0 + (1.96 * 1.96) / n::DOUBLE) +
         |    (1.96 * sqrt(wins::DOUBLE / n::DOUBLE *
         |        (1.0 - wins::DOUBLE / n::DOUBLE) / n::DOUBLE +
         |        (1.96 * 1.96) / (4.0 * n::DOUBLE * n::DOUBLE))) /
         |      (1.0 + (1.96 * 1.96) / n::DOUBLE), 6) AS wilson_hi
         |FROM b WHERE n > 0 ORDER BY item, opponent""".stripMargin),

    // The monotone calibration map of "value score -> purchase rate":
    // the weighted-L2 isotonic fit over the reliability bins.
    QueryDef("q248_isotonic_calibration", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .withColumn("s", round(col("value") * 1e6).cast("long"))
      Evaluation.isotonicCalibration(ev, "s",
        col("event_type") === "purchase", IsoBins)
    },
      s"""WITH v AS (SELECT CAST(round(value * 1e6) AS BIGINT) AS s,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
         |  FROM events),
         |b AS (SELECT min(s) AS mn, max(s) AS mx FROM v),
         |c AS (SELECT ((s - mn) * $IsoBins) // (mx - mn + 1) AS bin,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(sum(y) AS BIGINT) AS n_pos
         |  FROM v, b GROUP BY 1),
         |p AS (SELECT bin, n_rows, n_pos,
         |    sum(n_rows) OVER w AS cum_n, sum(n_pos) OVER w AS cum_p
         |  FROM c WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED
         |    PRECEDING AND CURRENT ROW)),
         |pr AS (SELECT lo.bin AS j, hi.bin AS k,
         |    ((hi.cum_p - (lo.cum_p - lo.n_pos)) * 1000000) //
         |      (hi.cum_n - (lo.cum_n - lo.n_rows)) AS avg_ppm
         |  FROM p lo JOIN p hi ON lo.bin <= hi.bin),
         |sm AS (SELECT j, k, min(avg_ppm) OVER (PARTITION BY j
         |    ORDER BY k DESC ROWS BETWEEN UNBOUNDED PRECEDING AND
         |    CURRENT ROW) AS sm FROM pr),
         |i AS (SELECT k AS bin, CAST(max(sm) AS BIGINT)
         |    AS iso_rate_ppm FROM sm GROUP BY 1)
         |SELECT c.bin, c.n_rows, c.n_pos,
         |  (c.n_pos * 1000000) // c.n_rows AS pos_rate_ppm,
         |  i.iso_rate_ppm
         |FROM c JOIN i USING (bin) ORDER BY bin""".stripMargin),

    // Does the English rate trend across document-length deciles —
    // the ordered dose-response read. Decile assignment rides the
    // distributed exact-ntile (census offsets + per-value partitioned
    // rank), bit-identical to the oracle's global ntile without an
    // unpartitioned window over the raw documents relation.
    QueryDef("q250_cochran_armitage", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val d = Deciles.ntileExact(docs, "n_chars", "doc_id", CaBins, "t")
      Experiment.cochranArmitage(d, "t", col("lang") === "en")
    },
      s"""WITH d AS (SELECT CAST(ntile($CaBins) OVER (ORDER BY
         |      n_chars, doc_id) AS BIGINT) AS t,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM documents),
         |c AS (SELECT t, CAST(count(*) AS BIGINT) AS n_g,
         |    CAST(sum(y) AS BIGINT) AS r_g FROM d GROUP BY 1),
         |a AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
         |    CAST(sum(r_g) AS BIGINT) AS n_pos,
         |    CAST(count(*) AS BIGINT) AS n_groups,
         |    CAST(sum(CAST(t AS HUGEINT) * n_g) AS HUGEINT) AS stn,
         |    CAST(sum(CAST(t AS HUGEINT) * r_g) AS HUGEINT) AS str,
         |    CAST(sum(CAST(t AS HUGEINT) * t * n_g) AS HUGEINT)
         |      AS sttn
         |  FROM c)
         |SELECT n, n_pos, n_groups,
         |  CASE WHEN CAST(n_pos AS HUGEINT) * (n - n_pos) *
         |      (CAST(n AS HUGEINT) * sttn - stn * stn) > 0 THEN
         |    round((CAST(n AS HUGEINT) * str -
         |        CAST(n_pos AS HUGEINT) * stn)::DOUBLE /
         |      sqrt((CAST(n_pos AS HUGEINT) * (n - n_pos) *
         |        (CAST(n AS HUGEINT) * sttn - stn * stn))::DOUBLE /
         |        n::DOUBLE), 6)
         |  END AS z_trend
         |FROM a""".stripMargin),

    // Agreement over each user's first-up-to-4-event panel — unlike
    // q246's Fleiss, users with only 2 or 3 events still count.
    QueryDef("q251_krippendorff_alpha", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val ratings = ev.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= KaMaxRaters)
      Preference.krippendorffAlpha(ratings, "user_id", "event_type",
        KaMaxRaters)
    },
      s"""WITH r AS (SELECT user_id, event_type,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS rn FROM events),
         |cen AS (SELECT user_id AS item, event_type AS cat,
         |    CAST(count(*) AS BIGINT) AS c FROM r
         |  WHERE rn <= $KaMaxRaters GROUP BY 1, 2),
         |pi AS (SELECT item, CAST(sum(c) AS BIGINT) AS m,
         |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sq
         |  FROM cen GROUP BY 1 HAVING sum(c) >= 2),
         |it AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
         |    CAST(sum(m) AS BIGINT) AS n_ratings,
         |    CAST(sum(((CAST(m AS HUGEINT) * m - sq) * 6) // (m - 1))
         |      AS HUGEINT) AS o_off_s
         |  FROM pi),
         |ct AS (SELECT CAST(count(*) AS BIGINT) AS n_categories,
         |    CAST(sum(CAST(n_c AS HUGEINT) * n_c) AS HUGEINT) AS sq_c
         |  FROM (SELECT cat, CAST(sum(c) AS BIGINT) AS n_c
         |    FROM cen JOIN pi USING (item) GROUP BY 1)),
         |o AS (SELECT n_items, n_ratings, n_categories, o_off_s,
         |    (CAST(n_ratings AS HUGEINT) * n_ratings - sq_c) * 6
         |      AS d_e_s
         |  FROM it, ct)
         |SELECT n_items, n_ratings, n_categories,
         |  CASE WHEN d_e_s > 0 THEN round(1.0 -
         |    ((n_ratings - 1)::DOUBLE * o_off_s::DOUBLE) /
         |    d_e_s::DOUBLE, 6) END AS alpha
         |FROM o""".stripMargin),

    // Does a positive balance associate with the BUILDING segment
    // once pooled within nations — the confounder-proof odds ratio.
    QueryDef("q252_mantel_haenszel", (s, dir) =>
      Experiment.mantelHaenszel(Tables.load(s, dir, "customer"),
        "c_nationkey", col("c_acctbal") >= 0,
        col("c_mktsegment") === "BUILDING"),
      """WITH cl AS (SELECT c_nationkey AS s,
        |    CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END AS e,
        |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
        |      AS y
        |  FROM customer),
        |cells AS (SELECT s, CAST(sum(e * y) AS BIGINT) AS a,
        |    CAST(sum(e * (1 - y)) AS BIGINT) AS b,
        |    CAST(sum((1 - e) * y) AS BIGINT) AS c,
        |    CAST(sum((1 - e) * (1 - y)) AS BIGINT) AS d
        |  FROM cl GROUP BY 1),
        |w AS (SELECT *, a + b + c + d AS n_i FROM cells),
        |agg AS (SELECT CAST(sum(n_i) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_strata,
        |    CAST(sum(a) AS BIGINT) AS sum_a,
        |    CAST(sum((CAST(a AS HUGEINT) * d * 1000000) // n_i)
        |      AS HUGEINT) AS r_micro,
        |    CAST(sum((CAST(b AS HUGEINT) * c * 1000000) // n_i)
        |      AS HUGEINT) AS s_micro,
        |    CAST(sum((CAST(a + b AS HUGEINT) * (a + c) * 1000000)
        |      // n_i) AS HUGEINT) AS e_micro,
        |    CAST(sum(CASE WHEN n_i > 1 THEN
        |      (CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d)
        |        * 1000000) //
        |      (CAST(n_i AS HUGEINT) * n_i * (n_i - 1)) ELSE 0 END)
        |      AS HUGEINT) AS v_micro
        |  FROM w)
        |SELECT n, n_strata, sum_a,
        |  CASE WHEN s_micro > 0 THEN
        |    round(r_micro::DOUBLE / s_micro::DOUBLE, 6) END AS or_mh,
        |  CASE WHEN v_micro > 0 THEN
        |    round((abs(sum_a::DOUBLE - e_micro::DOUBLE / 1e6) - 0.5)
        |      * (abs(sum_a::DOUBLE - e_micro::DOUBLE / 1e6) - 0.5)
        |      / (v_micro::DOUBLE / 1e6), 6) END AS chi2_cmh
        |FROM agg""".stripMargin),

    // WHICH event-type pairs differ in rank location after q240's
    // omnibus — Dunn's z on the pooled ranking.
    QueryDef("q254_dunn_pairs", (s, dir) =>
      Correlate.dunnPairs(Tables.load(s, dir, "events"),
        "event_type", "value"),
      """WITH cl AS (SELECT event_type AS g,
        |    CAST(round(value * 1e6) AS BIGINT) AS vm,
        |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        |bv AS (SELECT vm, CAST(sum(c) AS BIGINT) AS ct FROM cl
        |  GROUP BY 1),
        |rk AS (SELECT vm, 2 * (cum - ct) + ct + 1 AS r2, ct
        |  FROM (SELECT vm, ct, sum(ct) OVER (ORDER BY vm
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM bv)),
        |pg AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_h,
        |    CAST(sum(CAST(c AS HUGEINT) * r2) AS HUGEINT) AS r2_h
        |  FROM cl JOIN rk USING (vm) GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_h) AS BIGINT) AS n FROM pg),
        |tt AS (SELECT CAST(sum(CAST(ct AS HUGEINT) * ct * ct - ct)
        |    AS HUGEINT) AS t3 FROM rk)
        |SELECT a.g AS group_a, b.g AS group_b,
        |  a.n_h AS n_a, b.n_h AS n_b,
        |  CASE WHEN n > 1 AND
        |    (n::DOUBLE * (n::DOUBLE + 1.0) / 12.0 -
        |      t3::DOUBLE / (12.0 * (n::DOUBLE - 1.0))) *
        |      (1.0 / a.n_h::DOUBLE + 1.0 / b.n_h::DOUBLE) > 0 THEN
        |    round((a.r2_h::DOUBLE / (2.0 * a.n_h::DOUBLE) -
        |        b.r2_h::DOUBLE / (2.0 * b.n_h::DOUBLE)) /
        |      sqrt((n::DOUBLE * (n::DOUBLE + 1.0) / 12.0 -
        |        t3::DOUBLE / (12.0 * (n::DOUBLE - 1.0))) *
        |        (1.0 / a.n_h::DOUBLE + 1.0 / b.n_h::DOUBLE)), 6)
        |  END AS z_dunn
        |FROM pg a JOIN pg b ON a.g < b.g, tot, tt
        |ORDER BY group_a, group_b""".stripMargin),

    // Does event value shift monotonically across the day's four
    // six-hour bins — the directional read q240's omnibus can't give.
    QueryDef("q257_jonckheere", (s, dir) =>
      Correlate.jonckheereTerpstra(
        Tables.load(s, dir, "events")
          .withColumn("t", expr("hour(ts) div 6")),
        "t", "value"), {
      val varSql =
        """(n::DOUBLE * (n::DOUBLE - 1.0) * (2.0 * n::DOUBLE + 5.0)
          |      - a_g::DOUBLE - a_t::DOUBLE) / 72.0 +
          |    b1::DOUBLE * b2::DOUBLE / (36.0 * n::DOUBLE *
          |      (n::DOUBLE - 1.0) * (n::DOUBLE - 2.0)) +
          |    c1::DOUBLE * c2::DOUBLE / (8.0 * n::DOUBLE *
          |      (n::DOUBLE - 1.0))""".stripMargin
      s"""WITH cl AS (SELECT CAST(hour(ts) // 6 AS BIGINT) AS g,
         |    CAST(round(value * 1e6) AS BIGINT) AS vm,
         |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
         |vs AS (SELECT DISTINCT vm FROM cl),
         |gs AS (SELECT DISTINCT g FROM cl),
         |dense AS (SELECT gs.g, vs.vm, coalesce(cl.c, 0) AS c
         |  FROM gs CROSS JOIN vs
         |  LEFT JOIN cl ON cl.g = gs.g AND cl.vm = vs.vm),
         |dc AS (SELECT g, vm, c,
         |    sum(c) OVER (PARTITION BY g ORDER BY vm ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND CURRENT ROW) - c AS cumlt
         |  FROM dense),
         |jt AS (SELECT CAST(sum(CAST(b.c AS HUGEINT) *
         |      (2 * a.cumlt + a.c)) AS HUGEINT) AS jt2
         |  FROM dc a JOIN dc b ON a.vm = b.vm AND a.g < b.g),
         |ng AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
         |    CAST(sum(n_k) AS BIGINT) AS n,
         |    CAST(sum(CAST(n_k AS HUGEINT) * n_k) AS HUGEINT)
         |      AS sq_n,
         |    CAST(sum(CAST(n_k AS HUGEINT) * (n_k - 1) *
         |      (2 * n_k + 5)) AS HUGEINT) AS a_g,
         |    CAST(sum(CAST(n_k AS HUGEINT) * (n_k - 1) * (n_k - 2))
         |      AS HUGEINT) AS b1,
         |    CAST(sum(CAST(n_k AS HUGEINT) * (n_k - 1)) AS HUGEINT)
         |      AS c1
         |  FROM (SELECT g, CAST(sum(c) AS BIGINT) AS n_k FROM cl
         |    GROUP BY 1)),
         |tt AS (SELECT
         |    CAST(sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5))
         |      AS HUGEINT) AS a_t,
         |    CAST(sum(CAST(t AS HUGEINT) * (t - 1) * (t - 2))
         |      AS HUGEINT) AS b2,
         |    CAST(sum(CAST(t AS HUGEINT) * (t - 1)) AS HUGEINT)
         |      AS c2
         |  FROM (SELECT vm, CAST(sum(c) AS BIGINT) AS t FROM cl
         |    GROUP BY 1))
         |SELECT n, n_groups, CAST(jt2 AS BIGINT) AS jt2,
         |  CAST((CAST(n AS HUGEINT) * n - sq_n) // 2 AS BIGINT)
         |    AS e2,
         |  CASE WHEN n > 2 AND $varSql > 0 THEN
         |    round((jt2::DOUBLE -
         |        ((CAST(n AS HUGEINT) * n - sq_n) // 2)::DOUBLE) /
         |      (2.0 * sqrt($varSql)), 6)
         |  END AS z_jt
         |FROM jt, ng, tt""".stripMargin
    }),

    // Is each event type's "value > 5" rate at 40% or 50% — stop per
    // type the moment the sequential evidence crosses a Wald bound.
    QueryDef("q259_sprt", (s, dir) =>
      Experiment.sprtReport(Tables.load(s, dir, "events"),
        "event_type", Seq("ts", "event_id"), col("value") > 5.0,
        P0, P1, Alpha, Beta),
      s"""WITH p AS (SELECT event_type AS g,
         |    CASE WHEN value > 5.0 THEN 1 ELSE 0 END AS y,
         |    row_number() OVER w AS rn,
         |    sum(CASE WHEN value > 5.0 THEN $PosInc
         |      ELSE $NegInc END) OVER (PARTITION BY event_type
         |      ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND CURRENT ROW) AS llr
         |  FROM events
         |  WINDOW w AS (PARTITION BY event_type ORDER BY ts,
         |    event_id)),
         |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS n_pos,
         |    min(CASE WHEN llr >= $Upper THEN rn END) AS first_h1,
         |    min(CASE WHEN llr <= $Lower THEN rn END) AS first_h0
         |  FROM p GROUP BY 1)
         |SELECT g AS event_type, n, n_pos,
         |  $PosInc * n_pos + $NegInc * (n - n_pos)
         |    AS llr_final_nano,
         |  CASE WHEN first_h1 IS NOT NULL AND (first_h0 IS NULL OR
         |      first_h1 <= first_h0) THEN 'h1'
         |    WHEN first_h0 IS NOT NULL THEN 'h0'
         |    ELSE 'none' END AS decision,
         |  least(first_h1, first_h0) AS n_at_decision
         |FROM a ORDER BY event_type""".stripMargin),

    // Do a user's five per-type value totals cohere into one "scale"
    // — the reliability read over the complete-case user panel.
    QueryDef("q260_cronbach_alpha", (s, dir) =>
      Preference.cronbachAlpha(Tables.load(s, dir, "events"),
        "user_id", "event_type", "value", CaItems), {
      val itemsSql = CaItems.map(i => s"'$i'").mkString("(", ", ", ")")
      val k = CaItems.size
      s"""WITH cells AS (SELECT user_id AS u, event_type AS it,
         |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
         |      AS s
         |  FROM events WHERE event_type IN $itemsSql GROUP BY 1, 2),
         |complete AS (SELECT cells.* FROM cells JOIN (SELECT u
         |    FROM cells GROUP BY u HAVING count(*) = $k) c
         |  USING (u)),
         |pi AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
         |    CAST(max(n) AS BIGINT) AS n_units,
         |    CAST(sum(CAST(n AS HUGEINT) * sxx - sx * sx) AS HUGEINT)
         |      AS v_items
         |  FROM (SELECT it, CAST(count(*) AS BIGINT) AS n,
         |      CAST(sum(CAST(s AS HUGEINT)) AS HUGEINT) AS sx,
         |      CAST(sum(CAST(s AS HUGEINT) * s) AS HUGEINT) AS sxx
         |    FROM complete GROUP BY 1)),
         |tv AS (SELECT CAST(CAST(n_t AS HUGEINT) * stt - st * st
         |      AS HUGEINT) AS v_tot
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS n_t,
         |      CAST(sum(CAST(t AS HUGEINT)) AS HUGEINT) AS st,
         |      CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt
         |    FROM (SELECT u, CAST(sum(s) AS BIGINT) AS t
         |      FROM complete GROUP BY 1)))
         |SELECT n_units, n_items,
         |  CASE WHEN v_tot > 0 THEN
         |    round(($k.0 / ${k - 1}.0) *
         |      (1.0 - v_items::DOUBLE / v_tot::DOUBLE), 6)
         |  END AS alpha
         |FROM pi, tv""".stripMargin
    }),

    // Does "per-type mean value" cover at the promised 90%? q̂ from the
    // odd-user calibration half, coverage on the even-user half.
    QueryDef("q267_conformal", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_type").as("g"),
          (col("user_id") % 2 === 1).as("cal"),
          round(col("value").cast("double") * 1e6).cast("long").as("vm"))
      // sign split off before the floor division (house idiom, see
      // topEigenReport): Spark `div` truncates toward zero, DuckDB `//`
      // floors — they agree only on non-negative operands, and a group
      // whose calibration sum went negative would otherwise shift yhat
      // by one micro between the engines
      val means = ev.filter(col("cal")).groupBy("g")
        .agg(expr("(case when sum(vm) < 0 then -1 else 1 end) * " +
          "(abs(cast(sum(vm) as decimal(38,0))) div count(1))")
          .as("yhat"))
      Evaluation.splitConformal(ev.join(broadcast(means), Seq("g")),
        col("cal"), col("vm"), col("yhat"))
    },
      """WITH b AS (SELECT event_type AS g, (user_id % 2 = 1) AS cal,
        |    CAST(round(value * 1e6) AS BIGINT) AS vm FROM events),
        |m AS (SELECT g, CAST((CASE WHEN sum(vm) < 0 THEN -1 ELSE 1 END)
        |    * (abs(CAST(sum(vm) AS HUGEINT)) // count(*))
        |    AS BIGINT) AS yhat FROM b WHERE cal GROUP BY g),
        |e AS (SELECT b.cal, abs(b.vm - m.yhat) AS s
        |  FROM b JOIN m ON m.g = b.g),
        |cen AS (SELECT s, CAST(count(*) AS BIGINT) AS c FROM e
        |  WHERE cal GROUP BY s),
        |cm AS (SELECT s, CAST(sum(c) OVER (ORDER BY s ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER () AS BIGINT) AS n_cal FROM cen),
        |q AS (SELECT n_cal, min(CASE WHEN cum >=
        |      ((n_cal + 1) * 900 + 999) // 1000 THEN s END)
        |    AS qhat_micro FROM cm GROUP BY n_cal),
        |ev AS (SELECT s FROM e WHERE NOT cal)
        |SELECT q.n_cal, CAST(count(*) AS BIGINT) AS n_eval,
        |  q.qhat_micro,
        |  CASE WHEN q.qhat_micro IS NOT NULL THEN CAST(sum(CASE WHEN
        |    s <= q.qhat_micro THEN 1 ELSE 0 END) AS BIGINT) END
        |    AS n_covered,
        |  CASE WHEN q.qhat_micro IS NOT NULL THEN
        |    CAST((CAST(sum(CASE WHEN s <= q.qhat_micro THEN 1 ELSE 0
        |      END) AS HUGEINT) * 1000000) // count(*) AS BIGINT) END
        |    AS coverage_ppm,
        |  CAST(900000 AS BIGINT) AS target_ppm
        |FROM ev, q GROUP BY q.n_cal, q.qhat_micro""".stripMargin),

    // q160's cumulative-hazard twin: same severe-error lifetimes,
    // H(t) = Σ d/n in exact floor micro — no ln/exp ULP exposure.
    QueryDef("q269_nelson_aalen", (s, dir) =>
      graft.operators.Survival.nelsonAalen(Tables.load(s, dir, "events"),
        col("event_type") === "error" && col("value") > 150),
      """WITH u AS (SELECT user_id AS u,
        |    min(date_trunc('day', ts)::DATE) AS entry,
        |    min(CASE WHEN event_type = 'error' AND value > 150
        |      THEN date_trunc('day', ts)::DATE END) AS event_day
        |  FROM events GROUP BY 1),
        |b AS (SELECT max(date_trunc('day', ts)::DATE) AS horizon
        |  FROM events),
        |lt AS (SELECT CAST(CASE WHEN event_day IS NOT NULL
        |      THEN event_day - entry ELSE horizon - entry END AS BIGINT)
        |      AS t,
        |    event_day IS NOT NULL AS observed FROM u, b),
        |cs AS (SELECT t, sum(CASE WHEN observed THEN 1 ELSE 0 END) AS d,
        |    sum(CASE WHEN observed THEN 0 ELSE 1 END) AS c
        |  FROM lt GROUP BY t),
        |w AS (SELECT *, CAST(sum(d + c) OVER () -
        |      coalesce(sum(d + c) OVER (ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_at_risk FROM cs),
        |k AS (SELECT *, CASE WHEN d > 0
        |    THEN (CAST(d AS BIGINT) * 1000000) // n_at_risk
        |    ELSE 0 END AS cell_micro FROM w)
        |SELECT t, n_at_risk, CAST(d AS BIGINT) AS n_events,
        |  CAST(c AS BIGINT) AS n_censored,
        |  CAST(sum(cell_micro) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS BIGINT) AS hazard_micro
        |FROM k ORDER BY t""".stripMargin))
}

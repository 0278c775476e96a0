package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bootstrap, Cdc, Concentration, CorpusStats, Correlate,
  Deciles, Evaluation, Experiment, Graph, Preference, PrefixSum, Privacy,
  ProfileDrift, Relevance, Rfm, Sampling, Similarity, SketchRollup,
  SkewReport, SpanDedup, Survival, TimeSeries, Transitions}
import graft.plans.PlanLeaves
import graft.streaming.StreamingOps
import graft.util.Guards

import TestSpark._

// Specs of the operators behind [[registry.StatsQueries]].
//
// Statistics and experiments: correlation and association tests,
// evaluation metrics, survival curves, A/B and causal estimators,
// rater agreement, concentration and privacy risk measures.
//
// Each suite keeps its class name, so every test keeps the suite-qualified
// name it is reported under; the suites are grouped here by domain.

/** Round-6 part four: chi-square independence, Gini concentration, CDC
  * latest-wins apply. Toys pin the closed forms (independence → 0,
  * perfect association → V=1, the {0,1} Gini, all three merge paths);
  * plan gates pin the scan shapes.
  */
class Round6cSpec extends AnyFunSuite {

  // ----------------------------------------------------------- chi-square

  test("chiSquare: independent uniform cross scores zero everywhere") {
    import spark.implicits._
    val df = (for { a <- Seq("x", "y"); b <- Seq(1, 2); _ <- 1 to 3 }
      yield (a, b)).toDF("a", "b")
    val r = Correlate.chiSquare(df, "a", "b").collect()
    assert(r.length == 4)
    assert(r.forall(_.getLong(5) == 0L))            // chi_num
    assert(r.forall(_.getLong(6) == 0L))            // contrib_nano
    assert(r.forall(_.getLong(7) == 0L))            // chi2_nano
    assert(r.forall(_.getLong(8) == 1L))            // dof = (2-1)(2-1)
    assert(r.forall(_.getDouble(9) == 0.0))         // cramers_v
  }

  test("chiSquare: perfect association fills zero cells and hits V = 1") {
    import spark.implicits._
    val df = Seq(("x", 1), ("x", 1), ("y", 2), ("y", 2)).toDF("a", "b")
    val r = Correlate.chiSquare(df, "a", "b").collect()
      .map(x => (x.getString(0), x.getInt(1)) -> x).toMap
    assert(r.size == 4) // the two unobserved cells are PRESENT
    assert(r(("x", 2)).getLong(2) == 0L)            // n_ab of a zero cell
    assert(r(("x", 2)).getLong(5) == -4L)           // chi_num = 0·n − n_a·n_b
    assert(r(("x", 1)).getLong(5) == 4L)
    // every cell contributes (O−E)²/E = 1 → χ² = 4, V = √(4/(4·1)) = 1
    assert(r.values.forall(_.getLong(6) == 1000000000L))
    assert(r.values.forall(_.getLong(7) == 4000000000L))
    assert(r.values.forall(_.getDouble(9) == 1.0))
  }

  test("chiSquare: marginals and total are consistent on fixture data") {
    val ev = Tables.load(spark, sf, "events")
      .withColumn("dow", dayofweek(col("ts")))
    val r = Correlate.chiSquare(ev, "event_type", "dow").collect()
    val n = ev.count()
    assert(r.map(_.getLong(2)).sum == n)            // Σ n_ab over grid = n
    // a's marginal repeated once per b level — consistency of the grid
    val byA = r.groupBy(_.getString(0))
    assert(byA.values.forall(g =>
      g.map(_.getLong(2)).sum == g.head.getLong(3)))
  }

  // ----------------------------------------------------------------- gini

  test("giniReport: equal values → 0; {0,1} → 1/2; scale-invariant") {
    import spark.implicits._
    val eq = Seq(("g", 5L), ("g", 5L), ("g", 5L)).toDF("src", "v")
    val r0 = Concentration.giniReport(eq, "src", "v").collect().head
    assert(r0.getLong(3) == 0L && r0.getDouble(4) == 0.0)

    val half = Seq(("g", 0L), ("g", 1L)).toDF("src", "v")
    val r1 = Concentration.giniReport(half, "src", "v").collect().head
    assert(r1.getDouble(4) == 0.5)

    val base = Seq(("g", 1L), ("g", 2L), ("g", 7L))
    val g1 = Concentration.giniReport(base.toDF("src", "v"), "src", "v")
      .collect().head.getDouble(4)
    val g3 = Concentration.giniReport(
      base.map { case (s, v) => (s, v * 3) }.toDF("src", "v"), "src", "v")
      .collect().head.getDouble(4)
    assert(g1 == g3)
  }

  test("giniReport: ties collapse to the value domain, groups independent") {
    import spark.implicits._
    // group a: {1,1,4} → sorted contributions (2i−n−1)x: (−2)·1+0·1+2·4=6,
    // den = 3·6 = 18 → 1/3. group b: one row → 0.
    val df = Seq(("a", 1L), ("a", 1L), ("a", 4L), ("b", 9L)).toDF("src", "v")
    val r = Concentration.giniReport(df, "src", "v").collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r("a").getLong(3) == 6L)
    assert(r("a").getDouble(4) == 0.333333)
    assert(r("b").getLong(3) == 0L && r("b").getDouble(4) == 0.0)
  }

  // ------------------------------------------------------------------ cdc

  test("applyChanges: delete, latest-wins upsert, insert, pass-through") {
    import spark.implicits._
    val base = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("k", "p")
    val ch = Seq(
      (2L, 10L, "U", "two-upd"), (2L, 20L, "D", "tomb"), // delete wins
      (3L, 10L, "U", "old"), (3L, 30L, "U", "three-new"), // newer wins
      (4L, 5L, "U", "four") // insert of an unseen key
    ).toDF("k", "seq", "op", "p")
    val out = Cdc.applyChanges(base, ch, "k", "seq", "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "one", 3L -> "three-new", 4L -> "four"))
  }

  test("applyChanges: idempotent — re-applying the changelog is a no-op") {
    import spark.implicits._
    val base = Seq((1L, "one"), (2L, "two")).toDF("k", "p")
    val ch = Seq((1L, 1L, "U", "upd"), (2L, 2L, "D", "x"), (5L, 1L, "U", "new"))
      .toDF("k", "seq", "op", "p")
    val once = Cdc.applyChanges(base, ch, "k", "seq", "op")
    val twice = Cdc.applyChanges(once, ch, "k", "seq", "op")
    assert(once.collect().map(r => (r.getLong(0), r.getString(1))).sorted
      .sameElements(twice.collect().map(r => (r.getLong(0), r.getString(1))).sorted))
  }

  // ----------------------------------------------------------- plan gates

  private def leafCounts(name: String): Map[String, Int] = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    PlanLeaves.counts(df)
  }

  test("plan gates: q136 one cached census scan; q137 one scan; q138 two") {
    assert(PlanLeaves.parquetScans(leafCounts("q136_chi_square")) <= 1)
    assert(PlanLeaves.parquetScans(leafCounts("q137_gini")) == 1)
    assert(PlanLeaves.parquetScans(leafCounts("q138_cdc_snapshot")) == 2)
    graft.util.Caches.releaseAll()
  }
}

/** Round-6 part six: CUSUM fold, Poisson-bootstrap CI, l-diversity. */
class Round6eSpec extends AnyFunSuite {

  // ---------------------------------------------------------------- cusum

  private def ev(rows: Seq[(String, String, Double)]) = {
    import spark.implicits._
    rows.toDF("event_type", "d", "value")
      .select(col("event_type"), to_timestamp(col("d")).as("ts"), col("value"))
  }

  test("cusumReport: flat series never rises; peak stays NULL") {
    val r = TimeSeries.cusumReport(ev(Seq(
      ("a", "2024-01-01", 5.0), ("a", "2024-01-02", 5.0),
      ("a", "2024-01-03", 5.0))), "event_type").collect().head
    assert(r.getLong(4) == 0L)
    assert(r.isNullAt(5))
  }

  test("cusumReport: hand-computed step change, first-argmax peak day") {
    // daily y (micro): 1e6, 1e6, 4e6, 4e6 → μ = 2.5e6, k = 125000.
    // increments y−μ−k: −1625000, −1625000, +1375000, +1375000
    // S: 0, 0, 1375000, 2750000 → max 2750000 first reached on day 4.
    val r = TimeSeries.cusumReport(ev(Seq(
      ("a", "2024-01-01", 1.0), ("a", "2024-01-02", 1.0),
      ("a", "2024-01-03", 4.0), ("a", "2024-01-04", 4.0))),
      "event_type").collect().head
    assert(r.getLong(2) == 2500000L)       // mu_floor
    assert(r.getLong(3) == 125000L)        // slack at 50‰
    assert(r.getLong(4) == 2750000L)       // cusum_max
    assert(r.getDate(5).toString == "2024-01-04")
  }

  test("cusumReport: input row order cannot perturb the fold") {
    val rows = Seq(
      ("a", "2024-01-03", 9.0), ("a", "2024-01-01", 2.0),
      ("a", "2024-01-02", 7.0), ("a", "2024-01-04", 1.0))
    val r1 = TimeSeries.cusumReport(ev(rows), "event_type").collect()
    val r2 = TimeSeries.cusumReport(ev(rows.reverse), "event_type").collect()
    assert(r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq)
  }

  // ------------------------------------------------------------ bootstrap

  test("meanCi: constant-valued group — interval degenerates to the mean") {
    import spark.implicits._
    val df = (1L to 500L).map(i => ("g", i, 3.25)).toDF("g", "id", "v")
    val r = Bootstrap.meanCi(df, "g", "v", "id").collect().head
    assert(r.getLong(3) == 3250000L)               // mean_micro_floor
    assert(r.getLong(4) == 3250000L)               // ci_lo
    assert(r.getLong(5) == 3250000L)               // ci_hi
    assert(r.getInt(6) == 0)                       // no dead replicates
  }

  test("meanCi: deterministic across runs and partitionings; lo ≤ hi") {
    import spark.implicits._
    val df = (1L to 400L).map(i => (s"g${i % 2}", i, (i % 13).toDouble))
      .toDF("g", "id", "v")
    val a = Bootstrap.meanCi(df, "g", "v", "id").collect()
    val b = Bootstrap.meanCi(df.repartition(13), "g", "v", "id").collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.forall(r => r.getLong(4) <= r.getLong(5)))
    assert(a.forall(r => r.getLong(4) <= r.getLong(3) + 200000 &&
      r.getLong(3) <= r.getLong(5) + 200000)) // interval brackets the mean
  }

  test("replicateWeight: Poisson(1)-ish mass — mean weight near 1") {
    import spark.implicits._
    val ids = (1L to 2000L).toDF("id")
    val total = ids.select(
      Bootstrap.replicateWeight(col("id"), 0, 24).as("w"))
      .agg(sum("w")).collect().head.getLong(0)
    assert(total > 1800 && total < 2200) // E[Σw] = 2000, sd ≈ 45
  }

  // ---------------------------------------------------------- l-diversity

  test("lDiversityReport: homogeneous class flagged; diverse class passes") {
    import spark.implicits._
    val df = Seq(
      ("q1", "s1"), ("q1", "s1"), ("q1", "s1"),        // pure class
      ("q2", "s1"), ("q2", "s2"), ("q2", "s3"), ("q2", "s2"))
      .toDF("q", "sv")
    val r = Privacy.lDiversityReport(df, Seq("q"), "sv", 3L).collect()
      .map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getBoolean(4),
          x.getBoolean(5))).toMap
    assert(r("q1") == (3L, 1L, 3L, true, true))
    assert(r("q2") == (4L, 3L, 2L, false, false))
  }
}

/** Round-6 part nine: information gain, HLL sketch rollup laws, SQL
  * registration of the Gram aggregate.
  */
class Round6hSpec extends AnyFunSuite {

  // ------------------------------------------------------ information gain

  test("informationGain: label-identical feature saturates, noise gains 0") {
    import spark.implicits._
    val df = Seq(
      ("a", "x", true), ("a", "x", true), ("b", "x", false), ("b", "x", false))
      .toDF("copy", "const", "y")
    val r = Correlate.informationGain(df, Seq("copy", "const"), col("y"))
      .collect().map(x => x.getString(0) ->
        (x.getLong(3), x.getLong(4), x.getLong(5))).toMap
    // H(Y) = ln 2 nano-nats on both rows
    val ln2 = math.round(0.5 * math.log(2.0) * 1e9) * 2
    assert(r("copy")._1 == ln2 && r("const")._1 == ln2)
    assert(r("copy")._2 == 0L)              // feature determines label
    assert(r("copy")._3 == ln2)             // IG = H(Y)
    assert(r("const")._2 == ln2)            // constant feature: no info
    assert(r("const")._3 == 0L)
    graft.util.Caches.releaseAll()
  }

  test("informationGain: IG is non-negative and bounded by H(Y) on fixtures") {
    val r = Correlate.informationGain(
      Tables.load(spark, sf, "documents")
        .withColumn("len_bucket", expr("n_chars div 100")),
      Seq("source", "lang", "len_bucket"), col("lang") === "en").collect()
    assert(r.length == 3)
    assert(r.forall(x => x.getLong(5) >= -2 /* nano rounding slack */))
    assert(r.forall(x => x.getLong(5) <= x.getLong(3) + 2))
    val byF = r.map(x => x.getString(0) -> x.getLong(5)).toMap
    assert(byF("lang") >= byF("source")) // lang saturates by construction
    graft.util.Caches.releaseAll()
  }

  // ------------------------------------------------------- sketch rollup

  test("weeklyDistinct: union of daily sketches ≡ sketching the raw week") {
    val ev = Tables.load(spark, sf, "events")
    val viaRollup = SketchRollup.weeklyDistinct(ev).collect()
      .map(r => r.getDate(0).toString -> r.getLong(3)).toMap
    val direct = ev
      .groupBy(date_trunc("week", to_date(col("ts"))).cast("date")
        .as("week_start"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
        .as("distinct_est"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(viaRollup == direct)
  }

  test("weeklyDistinct: estimate within the HLL band of the exact count") {
    val ev = Tables.load(spark, sf, "events")
    val est = SketchRollup.weeklyDistinct(ev).collect()
      .map(r => r.getDate(0).toString -> r.getLong(3)).toMap
    val exact = ev
      .groupBy(date_trunc("week", to_date(col("ts"))).cast("date").as("w"))
      .agg(countDistinct(col("user_id")).as("d"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (w, d) =>
      assert(math.abs(est(w) - d) <= math.max(3L, (d * 0.05).toLong),
        s"week $w: est ${est(w)} vs exact $d")
    }
  }

  test("weeklyDistinctExact: buckets/accounting match the sketch path") {
    val ev = Tables.load(spark, sf, "events")
    // (week, n_days, n_rows) must agree between the sketch rollup and
    // the exact twin — only the distinct column differs in method
    val sketch = SketchRollup.weeklyDistinct(ev).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    val exact = SketchRollup.weeklyDistinctExact(ev).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(exact.nonEmpty &&
      exact.map(e => e._1 -> (e._2, e._3)).toMap == sketch)
    exact.foreach(e => assert(e._4 >= 1L && e._4 <= e._3))
  }

  // ------------------------------------------------------ gram in SQL

  test("graft_gram registered: SQL ≡ Column API covariance core") {
    graft.functions.GraftExtensions.register(spark)
    Tables.load(spark, sf, "embeddings").createOrReplaceTempView("emb_g")
    val viaSql = spark.sql(
      """SELECT g.n AS n, g.pairs[0].s AS s11 FROM (
        |  SELECT graft_gram(transform(CAST(embedding AS ARRAY<DOUBLE>),
        |    x -> CAST(round(x * 1e6) AS BIGINT))) AS g FROM emb_g) t
        |""".stripMargin).collect().head
    val viaApi = graft.operators.Similarity
      .covarianceMatrix(Tables.load(spark, sf, "embeddings"))
      .filter(col("i") === 1 && col("j") === 1).collect().head
    assert(viaSql.getLong(0) == viaApi.getLong(2)) // n
    assert(viaSql.getLong(1) == viaApi.getLong(5)) // Σx₁x₁
  }
}

/** Round-6 part twelve: Kaplan–Meier and integer EWMA. */
class Round6kSpec extends AnyFunSuite {

  private def ev(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("user_id", "d", "event_type")
      .select(col("user_id"), to_timestamp(col("d")).as("ts"),
        col("event_type"), lit(1.0).as("value"))
  }

  // ---------------------------------------------------------------- km

  test("kaplanMeier: hand-computed curve with censoring reducing risk set") {
    // 4 users entering 01-01. u1 hits X on day 1 (t=1), u2 on day 3
    // (t=3); u3, u4 never hit → censored at horizon 01-04 (t=3).
    // t=1: n=4, d=1 → S = 3/4. t=3: n=3, d=1, c=2 → S = 3/4 · 2/3 = 1/2.
    val log = Seq(
      (1L, "2024-01-01", "view"), (1L, "2024-01-02", "err"),
      (2L, "2024-01-01", "view"), (2L, "2024-01-04", "err"),
      (3L, "2024-01-01", "view"), (3L, "2024-01-04", "view"),
      (4L, "2024-01-01", "view"))
    val r = Survival.kaplanMeier(ev(log), col("event_type") === "err")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(5))).toMap
    assert(r(1L) == (4L, 1L, 0L, 750000L))
    assert(r(3L) == (3L, 1L, 2L, 500000L))
  }

  test("kaplanMeier: censored users are NOT deaths — curve stays higher") {
    // same layout but u3/u4 treated naively as churns would halve S(1)
    val log = Seq(
      (1L, "2024-01-01", "err"),
      (2L, "2024-01-01", "view"), (3L, "2024-01-01", "view"),
      (4L, "2024-01-01", "view"), (9L, "2024-01-05", "view"))
    val r = Survival.kaplanMeier(ev(log), col("event_type") === "err")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(5))).toMap
    // t=0: 5 at risk, 1 event → S = 4/5; the 3 never-hit users censor
    // at t=4 (horizon − entry), the late entrant at t=0
    assert(r(0L)._1 == 5L && r(0L)._2 == 1L)
    assert(r(0L)._4 == 800000L)
    assert(r(4L) == (3L, 0L, 3L, 800000L)) // censoring leaves S alone
  }

  test("kaplanMeier: extinction level reports survival 0, NULL log-sum") {
    val log = Seq((1L, "2024-01-01", "err"), (2L, "2024-01-01", "view"),
      (2L, "2024-01-02", "err"))
    val r = Survival.kaplanMeier(ev(log), col("event_type") === "err")
      .collect()
    val last = r.last
    assert(last.getLong(1) == last.getLong(2)) // d == at-risk
    assert(last.isNullAt(4) && last.getLong(5) == 0L)
  }

  // -------------------------------------------------------------- ewma

  private def dv(rows: Seq[(String, String, Double)]) = {
    import spark.implicits._
    rows.toDF("event_type", "d", "value")
      .select(col("event_type"), to_timestamp(col("d")).as("ts"), col("value"))
  }

  test("ewmaForecast: constant tracks exactly; hand-computed two-step") {
    val flat = TimeSeries.ewmaForecast(dv(Seq(
      ("a", "2024-01-01", 5.0), ("a", "2024-01-02", 5.0),
      ("a", "2024-01-03", 5.0))), "event_type").collect().head
    assert(flat.getLong(2) == 5000000L && flat.getLong(3) == 0L)

    // y = 4e6, 8e6: s₁=4e6, s₂=(3·4e6+8e6)/4=5e6; |8e6−4e6| → MAE 4e6
    val r = TimeSeries.ewmaForecast(dv(Seq(
      ("a", "2024-01-01", 4.0), ("a", "2024-01-02", 8.0))),
      "event_type").collect().head
    assert(r.getLong(2) == 5000000L)
    assert(r.getLong(3) == 4000000L)
  }

  test("ewmaForecast: single-day key yields NULL MAE; order-invariant") {
    val one = TimeSeries.ewmaForecast(dv(Seq(("a", "2024-01-01", 2.0))),
      "event_type").collect().head
    assert(one.isNullAt(3))
    val rows = Seq(("a", "2024-01-02", 7.0), ("a", "2024-01-01", 3.0),
      ("a", "2024-01-03", 1.0))
    val r1 = TimeSeries.ewmaForecast(dv(rows), "event_type").collect()
    val r2 = TimeSeries.ewmaForecast(dv(rows.reverse), "event_type").collect()
    assert(r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq)
  }
}

/** Round-6 part thirteen: nDCG/MRR and RFM. */
class Round6lSpec extends AnyFunSuite {

  // ----------------------------------------------------------------- ndcg

  test("ndcgReport: relevant-on-top scores 1, buried scores less, MRR") {
    import spark.implicits._
    val df = Seq(
      // group a: 2 relevant, ranked 1-2 by score → ideal
      ("a", 90L, 1L, true), ("a", 80L, 2L, true), ("a", 70L, 3L, false),
      // group b: 1 relevant at rank 3
      ("b", 90L, 4L, false), ("b", 80L, 5L, false), ("b", 70L, 6L, true))
      .toDF("g", "s", "id", "y")
    val r = Evaluation.ndcgReport(df, "g", "s", "id", col("y"), 10)
      .collect().map(x => x.getString(0) ->
        (x.getLong(2), x.getDouble(5), x.getLong(6))).toMap
    assert(r("a")._1 == 2L && r("a")._2 == 1.0)
    assert(r("a")._3 == 1000000000L)                // first relevant at 1
    val d = Evaluation.discountNano(10)
    val expectB = BigDecimal(d(2).toDouble / d(0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r("b")._2 == expectB)
    assert(r("b")._3 == math.round(1e9 / 3))
  }

  test("ndcgReport: no relevant items → NULL ndcg, zero MRR; k truncates") {
    import spark.implicits._
    val df = Seq(("a", 5L, 1L, false), ("a", 4L, 2L, false))
      .toDF("g", "s", "id", "y")
    val r0 = Evaluation.ndcgReport(df, "g", "s", "id", col("y"), 10)
      .collect().head
    assert(r0.isNullAt(5) && r0.getLong(6) == 0L)

    // relevant item at rank 3 falls outside k = 2
    val df2 = Seq(("a", 5L, 1L, false), ("a", 4L, 2L, false),
      ("a", 3L, 3L, true)).toDF("g", "s", "id", "y")
    val r2 = Evaluation.ndcgReport(df2, "g", "s", "id", col("y"), 2)
      .collect().head
    assert(r2.getLong(1) == 2L && r2.getLong(2) == 0L)
  }

  // ------------------------------------------------------------------ rfm

  private def ev(rows: Seq[(Long, String, Double)]) = {
    import spark.implicits._
    rows.toDF("user_id", "d", "value")
      .select(col("user_id"), to_timestamp(col("d")).as("ts"), col("value"))
  }

  test("rfmReport: metrics exact; quintile scores ordered with the metric") {
    // 5 users with strictly increasing frequency/monetary and strictly
    // DECREASING recency → f_q/m_q ascend 1..5 and r_q also ascends
    // (later users are more recent)
    val rows = (1 to 5).flatMap { u =>
      (1 to u).map(i => (u.toLong, f"2024-01-${u * 2}%02d", u.toDouble))
    }
    val r = Rfm.rfmReport(ev(rows)).collect()
      .map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3),
          x.getLong(4), x.getLong(5), x.getLong(6))).toMap
    (1 to 5).foreach { u =>
      val (rec, f, m, rq, fq, mq) = r(u.toLong)
      assert(f == u.toLong)
      assert(m == u.toLong * u * 1000000L)
      assert(rec == (10 - u * 2).toLong)
      assert(fq == u.toLong && mq == u.toLong && rq == u.toLong)
    }
    graft.util.Caches.releaseAll()
  }

  test("rfmReport: ties share a score; partitioning-invariant") {
    val rows = Seq((1L, "2024-01-01", 5.0), (2L, "2024-01-01", 5.0),
      (3L, "2024-01-01", 5.0))
    val r = Rfm.rfmReport(ev(rows)).collect()
    assert(r.map(_.getLong(4)).distinct.length == 1)
    assert(r.map(_.getLong(5)).distinct.length == 1)
    val r2 = Rfm.rfmReport(ev(rows).repartition(7)).collect()
    assert(r.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq)
    graft.util.Caches.releaseAll()
  }
}

/** Round-6 part nineteen: diversity, assortativity, CUPED. */
class Round6rSpec extends AnyFunSuite {

  test("diversityReport: balanced mix reads eff_cats = k, evenness 1") {
    import spark.implicits._
    val df = Seq(("s", "en"), ("s", "de"), ("s", "fr"),
      ("t", "en"), ("t", "en"), ("t", "en"), ("t", "de"))
      .toDF("source", "lang")
    val r = Concentration.diversityReport(df, "source", "lang")
      .collect().map(x => x.getString(0) -> x).toMap
    // s: 3 balanced categories → H = ln 3, eff = 3, evenness = 1
    assert(r("s").getLong(2) == 3L)
    assert(r("s").getDouble(4) == 3.0)
    assert(r("s").getDouble(5) == 1.0)
    // t: 3:1 split → H < ln 2, eff between 1 and 2
    assert(r("t").getDouble(4) > 1.0 && r("t").getDouble(4) < 2.0)
    // hand-check: cells round(0.75·ln(4/3)·1e9) + round(0.25·ln4·1e9)
    val h = math.rint(0.75 * math.log(4.0 / 3) * 1e9) +
      math.rint(0.25 * math.log(4.0) * 1e9)
    assert(r("t").getLong(3) == h.toLong)
  }

  test("diversityReport: single category → zero entropy, NULL evenness") {
    import spark.implicits._
    val df = Seq(("s", "en"), ("s", "en")).toDF("source", "lang")
    val r = Concentration.diversityReport(df, "source", "lang")
      .collect().head
    assert(r.getLong(3) == 0L && r.getDouble(4) == 1.0 && r.isNullAt(5))
  }

  test("assortativity: star graph is NULL only when degree-regular") {
    import spark.implicits._
    // path 1-2-3: degrees 1,2,1. directed pairs (dx,dy):
    // (1,2),(2,1),(2,1),(1,2) → r = −1 (perfectly disassortative)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("node_a", "node_b")
    val rp = Graph.assortativityReport(path).collect().head
    assert(rp.getLong(0) == 4L)
    assert(rp.getDouble(3) == -1.0)
    graft.util.Caches.releaseAll()
    // triangle: degree-regular → variance 0 → NULL
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("node_a", "node_b")
    val rt = Graph.assortativityReport(tri).collect().head
    assert(rt.isNullAt(3))
    graft.util.Caches.releaseAll()
  }

  test("cupedReport: perfectly predictive covariate flattens the arms") {
    import spark.implicits._
    val cut = ts("2024-01-16 00:00:00")
    // y = 2x per user: after adjustment every user has identical
    // residual, so both arms' adjusted means collapse to the same value
    val ev = Seq(
      (1L, ts("2024-01-10 00:00:00"), 10.0), // user 1 pre
      (1L, ts("2024-01-20 00:00:00"), 20.0), // user 1 post
      (2L, ts("2024-01-10 00:00:00"), 30.0),
      (2L, ts("2024-01-20 00:00:00"), 60.0),
      (3L, ts("2024-01-10 00:00:00"), 50.0),
      (3L, ts("2024-01-20 00:00:00"), 100.0),
      (4L, ts("2024-01-10 00:00:00"), 70.0),
      (4L, ts("2024-01-20 00:00:00"), 140.0))
      .toDF("user_id", "ts", "value")
    val r = Experiment.cupedReport(ev, col("ts") < lit(cut),
      pmod(col("u"), lit(2L))).collect()
    assert(r.length == 2)
    assert(r(0).getDouble(6) == 2.0)     // theta = cov/var = 2
    // raw means differ (odd users 20,100 vs even 60,140)…
    assert(r(0).getDouble(4) != r(1).getDouble(4))
    // …adjusted means agree exactly
    assert(r(0).getDouble(5) == r(1).getDouble(5))
  }

  test("cupedReport: constant covariate degrades to theta 0") {
    import spark.implicits._
    val cut = ts("2024-01-16 00:00:00")
    val ev = Seq(
      (1L, ts("2024-01-10 00:00:00"), 5.0),
      (1L, ts("2024-01-20 00:00:00"), 7.0),
      (2L, ts("2024-01-10 00:00:00"), 5.0),
      (2L, ts("2024-01-20 00:00:00"), 9.0))
      .toDF("user_id", "ts", "value")
    val r = Experiment.cupedReport(ev, col("ts") < lit(cut),
      pmod(col("u"), lit(2L))).collect()
    assert(r.forall(_.getDouble(6) == 0.0))
    // adjusted ≡ raw when theta is 0
    assert(r.forall(x => x.getDouble(4) == x.getDouble(5)))
  }
}

/** Round-6 part twenty-three: KS suite and covariate balance. */
class Round6vSpec extends AnyFunSuite {

  test("ksSuite: per-feature results ≡ per-column ksReport") {
    import spark.implicits._
    val ref = Seq((1.0, 10.0), (2.0, 20.0), (3.0, 30.0)).toDF("a", "b")
    val cur = Seq((1.0, 40.0), (2.0, 50.0), (4.0, 60.0)).toDF("a", "b")
    val suite = ProfileDrift.ksSuite(ref, cur, Seq("a", "b")).collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getDouble(5))).toMap
    for (c <- Seq("a", "b")) {
      val single = ProfileDrift.ksReport(
        ref.select(lit(c).as("g"), col(c).as("v")),
        cur.select(lit(c).as("g"), col(c).as("v")), "g", "v")
        .collect().head
      assert(suite(c) == (single.getLong(3), single.getDouble(5)),
        s"feature $c diverged from the single-column report")
    }
    // disjoint column b → KS = 1; overlapping a → KS = 1/3
    assert(suite("b")._2 == 1.0)
    assert(suite("a")._2 == 0.333333)
  }

  test("covariateBalance: shifted arm flags imbalance, zero-fill binds") {
    import spark.implicits._
    // feature 'x': arm1 users spend 10× arm0 → imbalanced
    // feature 'y': identical spend both arms → balanced (smd 0)
    // user 4 never logs 'y' → zero-filled, not dropped
    val ev = Seq(
      (0L, "x", 1.0), (2L, "x", 2.0),   // arm 0
      (1L, "x", 15.0), (3L, "x", 25.0), // arm 1
      (0L, "y", 5.0), (2L, "y", 7.0),
      (1L, "y", 5.0), (3L, "y", 7.0),
      (4L, "x", 2.0))                   // arm 0, no 'y'
      .map { case (u, f, v) => (u, f, v, ts("2024-01-01 00:00:00")) }
      .toDF("user_id", "event_type", "value", "ts")
    val r = Experiment.covariateBalance(ev, pmod(col("u"), lit(2L)))
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("x").getLong(1) == 3L && r("x").getLong(2) == 2L)
    assert(!r("x").getBoolean(6))            // imbalanced
    assert(r("y").getLong(1) == 3L)          // user 4 zero-filled into ctrl
    // y means: ctrl (5000+7000+0)/3 = 4000, treat 6000 → some smd, but
    // the ZERO fill is what moved ctrl — assert it did
    assert(r("y").getDouble(3) == 4000.0)
    assert(r("y").getDouble(4) == 6000.0)
  }

  test("covariateBalance: equal arms read smd 0 and balanced") {
    import spark.implicits._
    val ev = Seq(
      (0L, "x", 1.0), (2L, "x", 9.0),
      (1L, "x", 1.0), (3L, "x", 9.0))
      .map { case (u, f, v) => (u, f, v, ts("2024-01-01 00:00:00")) }
      .toDF("user_id", "event_type", "value", "ts")
    val r = Experiment.covariateBalance(ev, pmod(col("u"), lit(2L)))
      .collect().head
    assert(r.getDouble(5) == 0.0 && r.getBoolean(6))
  }
}

/** Round-6 part twenty-seven: decision-stump split and the Q–Q twin. */
class Round6zSpec extends AnyFunSuite {

  test("bestSplit: perfect separator found with full label entropy gained") {
    import spark.implicits._
    val df = Seq((1.0, "p"), (1.0, "p"), (2.0, "q"), (2.0, "q"))
      .toDF("v", "lab")
    val r = Correlate.bestSplit(df, "v", col("lab") === "p")
      .collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L)
    assert(r.getLong(3) == 1000000L)            // threshold v ≤ 1
    assert(r.getLong(4) == 0L)                  // perfect: H_cond = 0
    assert(r.getLong(5) == r.getLong(2))        // ig = H(label)
    // balanced binary label: H = 2·round(0.5·ln2·1e9)
    assert(r.getLong(2) == 2L * math.rint(0.5 * math.log(2) * 1e9).toLong)
  }

  test("bestSplit: constant feature yields no candidate row") {
    import spark.implicits._
    val df = Seq((3.0, "p"), (3.0, "q")).toDF("v", "lab")
    assert(Correlate.bestSplit(df, "v", col("lab") === "p").count() == 0)
  }

  test("bestSplit: argmax ties resolve to the smallest threshold") {
    import spark.implicits._
    // alternating labels: the symmetric candidates t=1 and t=3 tie at
    // the maximum gain (each isolates one pure singleton side)
    val df = Seq((1.0, "p"), (2.0, "q"), (3.0, "p"), (4.0, "q"))
      .toDF("v", "lab")
    val r = Correlate.bestSplit(df, "v", col("lab") === "p")
      .collect().head
    assert(r.getLong(3) == 1000000L)            // smallest of the tie
  }

  test("streaming Q–Q twin: drained windowed census ≡ batch qqReport") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val census = StreamingOps.valueCensusStream(
      input.toDS().toDF("ts", "value"), "1 hour", "1 minute")
    val name = "qq_census_" + System.nanoTime()
    val q = census.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), 2.0), (ts("2024-01-01 10:15:00"), 3.0),
        (ts("2024-01-01 10:25:00"), 4.0), (ts("2024-01-01 10:35:00"), 9.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 13:00:00"), 1.0)) // advance watermark
      q.processAllAvailable()
      val ref = Seq(1.0, 2.0, 3.0, 4.0).toDF("value")
      val got = ProfileDrift.qqFromCounts(
        spark.table(name), ProfileDrift.referenceCensus(ref, "value"))
        .filter(col("window_start") === ts("2024-01-01 10:00:00"))
        .collect().map(r => r.getInt(2) ->
          (r.getLong(5), r.getLong(6), r.getLong(7))).toMap
      val batch = ProfileDrift.qqReport(
        ref.withColumn("g", lit("w")),
        Seq(2.0, 3.0, 4.0, 9.0).toDF("value").withColumn("g", lit("w")),
        "g", "value").collect()
        .map(r => r.getInt(1) ->
          (r.getLong(4), r.getLong(5), r.getLong(6))).toMap
      assert(got == batch)
    } finally q.stop()
  }
}

/** Round-6 part twenty-eight: two-proportion z with segments. */
class Round7Spec extends AnyFunSuite {

  test("proportionZ: hand-computed z and the pooled __all row") {
    import spark.implicits._
    // ctrl 1/4 convert, treat 3/4 convert
    val units = Seq(
      (0, false, "s"), (0, false, "s"), (0, false, "s"), (0, true, "s"),
      (1, true, "s"), (1, true, "s"), (1, true, "s"), (1, false, "s"))
      .toDF("arm", "success", "segment")
    val r = Experiment.proportionZ(units).collect()
      .map(x => x.getString(0) -> x).toMap
    val all = r("__all")
    assert(all.getLong(1) == 4L && all.getLong(2) == 1L)
    assert(all.getLong(5) == 250000L && all.getLong(6) == 750000L)
    assert(all.getLong(7) == 500000L)
    // z = (0.75−0.25)/√(0.5·0.5·(¼+¼)) = 0.5/√0.125 = 1.414214
    assert(all.getDouble(8) == 1.414214)
    // single segment ≡ pooled numbers
    assert(r("s").getDouble(8) == all.getDouble(8))
  }

  test("proportionZ: Simpson flip is visible across segment rows") {
    import spark.implicits._
    // within both segments treat converts BETTER, but ctrl is
    // concentrated in the easy segment → pooled diff favors ctrl
    val easyCtrl = (1 to 80).map(_ => (0, true, "easy")) ++
      (1 to 20).map(_ => (0, false, "easy"))
    val easyTreat = (1 to 9).map(_ => (1, true, "easy")) :+ (1, false, "easy")
    val hardCtrl = (1 to 10).map(i => (0, i <= 1, "hard"))
    val hardTreat = (1 to 100).map(i => (1, i <= 20, "hard"))
    val units = (easyCtrl ++ easyTreat ++ hardCtrl ++ hardTreat)
      .toDF("arm", "success", "segment")
    val r = Experiment.proportionZ(units).collect()
      .map(x => x.getString(0) -> x.getLong(7)).toMap
    assert(r("easy") > 0 && r("hard") > 0)   // treat wins inside each
    assert(r("__all") < 0)                   // yet loses pooled
  }

  test("proportionZ: a segment missing one arm reports 0 counts, NULL z") {
    import spark.implicits._
    // segment 'solo' has only treatment units — counts must be ZERO
    // (not NULL, the old max-pivot behavior) and rate/z NULL
    val units = Seq(
      (0, true, "both"), (0, false, "both"), (1, true, "both"),
      (1, true, "solo"), (1, false, "solo"))
      .toDF("arm", "success", "segment")
    val r = Experiment.proportionZ(units).collect()
      .map(x => x.getString(0) -> x).toMap
    val solo = r("solo")
    assert(solo.getLong(1) == 0L && solo.getLong(2) == 0L)
    assert(solo.getLong(3) == 2L && solo.getLong(4) == 1L)
    assert(solo.isNullAt(5) && solo.isNullAt(8)) // no ctrl rate, no z
    assert(r("__all").getLong(1) == 2L && r("__all").getLong(3) == 3L)
  }
}

/** Round-6 part twenty-nine: DiD and source influence. */
class Round7bSpec extends AnyFunSuite {


  test("didReport: shared trend nets out, treatment effect remains") {
    import spark.implicits._
    val cut = ts("2024-01-16 00:00:00")
    // both arms drift +10 post; treatment adds +5 on top
    val ev = Seq(
      (0L, ts("2024-01-10 00:00:00"), 100.0),
      (0L, ts("2024-01-20 00:00:00"), 110.0),
      (1L, ts("2024-01-10 00:00:00"), 200.0),
      (1L, ts("2024-01-20 00:00:00"), 215.0))
      .toDF("user_id", "ts", "value")
    val r = Experiment.didReport(ev, pmod(col("user_id"), lit(2L)),
      col("ts") < lit(cut)).collect().head
    assert(r.getDouble(8) == 100000.0 && r.getDouble(9) == 110000.0)
    assert(r.getDouble(12) == 5000.0)    // DiD = 15 − 10 in milli
  }

  test("didReport: empty cell yields NULL readout, cores intact") {
    import spark.implicits._
    val cut = ts("2024-01-16 00:00:00")
    val ev = Seq(
      (0L, ts("2024-01-10 00:00:00"), 100.0),
      (1L, ts("2024-01-20 00:00:00"), 215.0))
      .toDF("user_id", "ts", "value")
    val r = Experiment.didReport(ev, pmod(col("user_id"), lit(2L)),
      col("ts") < lit(cut)).collect().head
    assert(r.getLong(0) == 1L && r.getLong(2) == 0L)
    assert(r.isNullAt(12))
  }

  test("influenceReport: the heavy outlier group owns the mean shift") {
    import spark.implicits._
    val df = Seq(("a", 10.0), ("a", 10.0), ("b", 10.0), ("b", 70.0))
      .toDF("source", "v")
    val r = Concentration.influenceReport(df, "source", "v")
      .collect().map(x => x.getString(0) -> x).toMap
    // mean_all = 25; without b = 10; without a = 40
    assert(r("a").getDouble(3) == 25000.0)
    assert(r("a").getDouble(4) == 40000.0)
    assert(r("a").getDouble(5) == -15000.0)  // a pulls the mean DOWN
    assert(r("b").getDouble(5) == 15000.0)   // b pulls it UP
    // single-group corpus → NULLs
    val solo = Concentration.influenceReport(
      Seq(("x", 1.0)).toDF("source", "v"), "source", "v").collect().head
    assert(solo.isNullAt(4) && solo.isNullAt(5))
  }
}

/** Round-6 part thirty: MDE sizing and pairwise Welch. */
class Round7cSpec extends AnyFunSuite {

  test("mdeReport: hand-computed detectable lift shrinks with traffic") {
    import spark.implicits._
    def units(n: Int) = (1 to n).map(i => (i % 2, i % 10 == 0))
      .toDF("arm", "success")
    val small = Experiment.mdeReport(units(100)).collect().head
    val big = Experiment.mdeReport(units(10000)).collect().head
    assert(small.getLong(4) == 100000L)   // baseline 10%
    val z = 2.801585                      // frozen (1.959964 + 0.841621)
    val expSmall = math.rint(z * math.sqrt(0.1 * 0.9 *
      (1.0 / 50 + 1.0 / 50)) * 1e6) / 1e6
    assert(small.getDouble(5) == expSmall)
    assert(big.getDouble(5) < small.getDouble(5) / 5) // ~10× traffic
  }

  test("pairwiseWelch: pair rows match welchTReport on the same split") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 2.0), ("b", 4.0), ("b", 6.0),
      ("c", 10.0), ("c", 10.0)).toDF("g", "value")
    val m = Correlate.pairwiseWelch(df, "g", "value").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(m.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    // the (a, b) row must equal the two-sample operator on that pair
    val two = ProfileDrift.welchTReport(
      df.filter(col("g") === "a").withColumn("g", lit("x")),
      df.filter(col("g") === "b").withColumn("g", lit("x")),
      "g", "value").collect().head
    val ab = m(("a", "b"))
    assert(ab.getDouble(6) == two.getDouble(7))  // t: a − b both ways
    assert(ab.getDouble(7) == two.getDouble(8))  // Welch df
    // constant group c: variance 0 → t defined vs a (pooled se > 0)
    assert(!m(("a", "c")).isNullAt(6))
    graft.util.Caches.releaseAll()
  }
}

/** Round-7 part four: join-size forecast + group-sequential monitor. */
class Round7iSpec extends AnyFunSuite {

  test("joinSizeReport: census products equal the real join cardinality") {
    import spark.implicits._
    val l = Seq("a", "a", "b", "d").toDF("k")
    val r = Seq("a", "a", "a", "c").toDF("j")
    val rep = SkewReport.joinSizeReport(l, r, "k", "j").collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toMap
    // only 'a' matches: 2 left x 3 right = 6 output rows
    assert(rep("a") == (2L, 3L, 6L))
    assert(rep("__all") == (2L, 3L, 6L))
    assert(!rep.contains("b") && !rep.contains("c") && !rep.contains("d"))
    // forecast ≡ the join Spark would actually run
    val actual = l.join(r, col("k") === col("j")).count()
    assert(rep("__all")._3 == actual)
  }

  test("joinSizeReport: top-N cut orders by output rows then key") {
    import spark.implicits._
    val l = (1 to 5).flatMap(k => Seq.fill(k)(s"k$k")).toDF("k")
    val r = (1 to 5).flatMap(k => Seq.fill(k)(s"k$k")).toDF("j")
    val rows = SkewReport.joinSizeReport(l, r, "k", "j", topN = 2).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("__all", "k5", "k4"))
    assert(rows(1).getLong(3) == 25L && rows(2).getLong(3) == 16L)
    // __all = 1+4+9+16+25
    assert(rows(0).getLong(3) == 55L)
  }

  test("groupSequentialZ: an overwhelming early effect stops at peek 1") {
    import spark.implicits._
    // peek 1: ctrl 0/40 vs treat 40/40 -> |z| = sqrt(80) ≈ 8.9 >= 4.048
    val p1 = (1 to 40).map(_ => (0, false, 1)) ++
      (1 to 40).map(_ => (1, true, 1))
    val rest = (2 to 4).flatMap(p => (1 to 10).map(i =>
      (i % 2, i % 2 == 1, p)))
    val units = (p1 ++ rest).toDF("arm", "success", "peek")
    val r = Experiment.groupSequentialZ(units, "peek").collect()
    assert(r.length == 4)
    assert(r(0).getBoolean(7), "peek 1 must cross the 4.048 boundary")
    r.foreach(x => assert(x.getInt(8) == 1, "first_cross_peek = 1 everywhere"))
    // cumulative accounting is monotone in n
    val ns = r.map(x => x.getLong(1) + x.getLong(3))
    assert(ns.sameElements(ns.sorted))
    // boundaries descend toward the final look
    val bs = r.map(_.getLong(6))
    assert(bs.sameElements(bs.sorted.reverse) && bs.last == 2024000L)
  }

  test("groupSequentialZ: a null effect never crosses; no stop peek") {
    import spark.implicits._
    // identical arms at every peek -> z = 0 everywhere
    val units = (1 to 4).flatMap(p => (1 to 20).map(i =>
      (i % 2, i <= 10, p))).toDF("arm", "success", "peek")
    val r = Experiment.groupSequentialZ(units, "peek").collect()
    assert(r.forall(!_.getBoolean(7)))
    assert(r.forall(_.isNullAt(8)))
  }
}

/** Round-7 part five: uplift bins, t-closeness, log-rank. */
class Round7jSpec extends AnyFunSuite {


  test("logRank: identical arm lifetimes score exactly zero") {
    import spark.implicits._
    // same event days in both arms -> O − E = 0 at every time
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), "start", 0.0),
      (1L, ts("2024-01-03 00:00:00"), "churn", 1.0),
      (2L, ts("2024-01-01 00:00:00"), "start", 0.0),
      (2L, ts("2024-01-03 00:00:00"), "churn", 1.0),
      (3L, ts("2024-01-01 00:00:00"), "start", 0.0),
      (3L, ts("2024-01-05 00:00:00"), "churn", 1.0),
      (4L, ts("2024-01-01 00:00:00"), "start", 0.0),
      (4L, ts("2024-01-05 00:00:00"), "churn", 1.0))
      .toDF("user_id", "ts", "event_type", "value")
    val r = Survival.logRank(ev, col("event_type") === "churn",
      col("user_id") % 2 === 0).collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 2L && r.getLong(3) == 2L)
    assert(r.getDouble(4) == 0.0)
  }

  test("logRank: a strongly separated arm clears the 5% critical value") {
    import spark.implicits._
    // arm A (even users) churns on day 2, arm B never churns
    val ev = (0L until 40L).flatMap { u =>
      val base = Seq((u, ts("2024-01-01 00:00:00"), "start", 0.0),
        (u, ts("2024-01-10 00:00:00"), "ping", 0.0))
      if (u % 2 == 0) base :+ ((u, ts("2024-01-02 00:00:00"), "churn", 1.0))
      else base
    }.toDF("user_id", "ts", "event_type", "value")
    val r = Survival.logRank(ev, col("event_type") === "churn",
      col("user_id") % 2 === 0).collect().head
    assert(r.getLong(2) == 20L && r.getLong(3) == 0L)
    assert(r.getDouble(4) > 3.841, s"chi2 ${r.getDouble(4)} not significant")
  }

  test("upliftByDecile: treatment effect concentrated in high scores") {
    import spark.implicits._
    // scores 0..99; only score >= 80 treated units convert, plus a
    // 0-rate control everywhere
    val units = (0 until 100).flatMap(s => Seq(
      (s.toLong, 0, false),
      (s.toLong, 1, s >= 80)))
      .toDF("score", "arm", "success")
    val r = Experiment.upliftByDecile(units, "score").collect()
    assert(r.length == 10)
    // rows come highest bin first; top two bins (scores 80..99) carry
    // all the uplift
    assert(r.head.getLong(0) == 9L)
    assert(r.head.getLong(5) == 1000000L) // bin-9 uplift = 100% in ppm
    assert(r.last.getLong(5) == 0L)
    // cumulative uplift declines as low-score bins dilute the slice
    val cum = r.map(_.getLong(7))
    assert(cum.head == 1000000L && cum.last == 200000L)
    assert(cum.zip(cum.tail).forall { case (a, b) => a >= b })
  }

  test("tClosenessReport: hand-computed total-variation milli") {
    import spark.implicits._
    // global x:3 y:1; class A=[x,x] and B=[x,y] both sit at TV=0.25
    val df = Seq(("A", "x"), ("A", "x"), ("B", "x"), ("B", "y"))
      .toDF("q", "v")
    val r = Privacy.tClosenessReport(df, Seq("q"), "v", 200L).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2),
        x.getBoolean(3))).toMap
    assert(r("A") == (2L, 250L, true))
    assert(r("B") == (2L, 250L, true))
    // a class mirroring the global mix scores zero
    val df2 = Seq(("A", "x"), ("A", "y"), ("B", "x"), ("B", "y"))
      .toDF("q", "v")
    val r2 = Privacy.tClosenessReport(df2, Seq("q"), "v", 200L).collect()
    assert(r2.forall(x => x.getLong(2) == 0L && !x.getBoolean(3)))
  }
}

/** Round-7 part twenty: Good–Turing + Cohen's κ. */
class Round7zSpec extends AnyFunSuite {

  test("goodTuringReport: singleton accounting drives the missing mass") {
    import spark.implicits._
    // slice 'a': tokens x x y z -> N=4, V=3, singletons {y,z}=2
    // slice 'b': all repeats -> zero missing mass
    val docs = Seq(("a", "x x y z"), ("b", "q q"), ("b", "q q"))
      .toDF("source", "text")
    val r = CorpusStats.goodTuringReport(docs).collect()
      .map(x => x.getString(0) -> x).toMap
    val a = r("a")
    assert(a.getLong(1) == 4L && a.getLong(2) == 3L && a.getLong(3) == 2L)
    assert(a.getLong(4) == 500000L)  // 2/4 unseen mass
    assert(a.getLong(5) == 666666L)  // 2/3 of vocab are singletons
    val b = r("b")
    assert(b.getLong(3) == 0L && b.getLong(4) == 0L)
  }

  test("cohensKappa: perfect, chance-level, and imbalanced agreement") {
    import spark.implicits._
    val perfect = Seq(("x", "x"), ("y", "y"), ("x", "x")).toDF("a", "b")
    assert(Evaluation.cohensKappa(perfect, "a", "b").collect()
      .head.getDouble(3) == 1.0)
    // marginal-independent 50/50 labels at chance -> kappa = 0
    val chance = Seq(("x", "x"), ("x", "y"), ("y", "x"), ("y", "y"))
      .toDF("a", "b")
    assert(Evaluation.cohensKappa(chance, "a", "b").collect()
      .head.getDouble(3) == 0.0)
    // both constant -> pe = 1 -> NULL (agreement is vacuous)
    val const = Seq(("x", "x"), ("x", "x")).toDF("a", "b")
    assert(Evaluation.cohensKappa(const, "a", "b").collect()
      .head.isNullAt(3))
    // the classic imbalance point: 90% agreement can be mostly chance
    val imb = (1 to 81).map(_ => ("x", "x")) ++
      (1 to 9).map(_ => ("x", "y")) ++ (1 to 9).map(_ => ("y", "x")) ++
      Seq(("y", "y"))
    val k = Evaluation.cohensKappa(imb.toDF("a", "b"), "a", "b")
      .collect().head
    assert(k.getLong(2) == 820000L)          // 82% raw agreement...
    assert(k.getDouble(3) < 0.1, s"kappa ${k.getDouble(3)}") // ...mostly chance
  }
}

/** Round-8 part six specs: sequential triples, IPW, Neyman
  * allocation, average precision.
  */
class Round8eSpec extends AnyFunSuite {

  test("sequentialTriples: subsequence witness, gaps allowed") {
    import spark.implicits._
    // user 1: a x b y c  (a..b..c with gaps present)
    // user 2: c b a      (reversed -> absent)
    // user 3: a c b      (a..c..b present; a..b..c absent: no c after b)
    val rows = Seq(
      (1L, "a"), (1L, "x"), (1L, "b"), (1L, "y"), (1L, "c"),
      (2L, "c"), (2L, "b"), (2L, "a"),
      (3L, "a"), (3L, "c"), (3L, "b"))
    val ev = rows.zipWithIndex.map { case ((u, s), i) =>
      (u, ts(s"2024-01-01 10:${"%02d".format(i)}:00"), i.toLong, s)
    }.toDF("user_id", "ts", "event_id", "event_type")
    val r = Transitions.sequentialTriples(ev, 100).collect()
      .map(x => (x.getString(0), x.getString(1), x.getString(2)) ->
        x.getLong(3)).toMap
    assert(r(("a", "b", "c")) == 1L, s"$r")
    assert(r(("a", "c", "b")) == 1L, s"$r")
    assert(!r.contains(("c", "b", "x")) || r(("c", "b", "x")) == 1L)
    assert(r(("c", "b", "a")) == 1L, s"user 2's own order: $r")
    graft.util.Caches.releaseAll()
  }

  test("ipwAte: reweighting removes a planted confound") {
    import spark.implicits._
    // bin A: 80% treated, outcome 10 regardless of arm
    // bin B: 20% treated, outcome 0 regardless of arm
    // true ATE = 0, but naive contrast is confounded upward (treated
    // units over-represent the high-outcome bin)
    val rows =
      (1 to 80).map(i => ("A", true, 10.0)) ++
      (1 to 20).map(i => ("A", false, 10.0)) ++
      (1 to 20).map(i => ("B", true, 0.0)) ++
      (1 to 80).map(i => ("B", false, 0.0))
    val df = rows.toDF("bin", "t", "y")
    val r = Experiment.ipwAte(df, col("t"), col("y"), col("bin"))
      .collect()(0)
    assert(r.getLong(3) == 0L, s"IPW recovers the null effect: $r")
    assert(r.getLong(4) > 5000000L, s"naive is confounded upward: $r")
    assert(r.getLong(0) == 200L && r.getLong(1) == 200L)
    graft.util.Caches.releaseAll()
  }

  test("ipwAte: degenerate bins are excluded from n_used") {
    import spark.implicits._
    val rows = (1 to 10).map(_ => ("all_t", true, 1.0)) ++
      (1 to 10).map(i => ("mixed", i % 2 == 0, 1.0))
    val r = Experiment.ipwAte(rows.toDF("bin", "t", "y"),
      col("t"), col("y"), col("bin")).collect()(0)
    assert(r.getLong(0) == 20L && r.getLong(1) == 10L,
      s"the all-treated bin must drop: $r")
    graft.util.Caches.releaseAll()
  }

  test("neymanAllocation: volatile strata win, budget sums exactly") {
    import spark.implicits._
    // stratum a: 100 rows constant (sigma 0); b: 100 rows volatile;
    // c: 50 rows equally volatile -> alloc ratio b:c = 2:1, a = 0
    val rows = (1 to 100).map(i => ("a", 5.0)) ++
      (1 to 100).map(i => ("b", if (i % 2 == 0) 0.0 else 10.0)) ++
      (1 to 50).map(i => ("c", if (i % 2 == 0) 0.0 else 10.0))
    val r = Sampling.neymanAllocation(rows.toDF("g", "v"), "g", "v", 999L)
      .collect().map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(r("a") == 0L, s"constant stratum gets nothing: $r")
    assert(r.values.sum == 999L, s"largest-remainder hits the budget: $r")
    assert(math.abs(r("b") - 2L * r("c")) <= 1L, s"2:1 by N·sigma: $r")
    graft.util.Caches.releaseAll()
  }

  test("averagePrecision: perfect ranking = 1e6, inverted is low") {
    import spark.implicits._
    val perfect = (1 to 100).map(i => (i.toLong, i > 90))
      .toDF("score", "y")
    val p = Evaluation.averagePrecision(perfect, "score", col("y"))
      .collect()(0)
    assert(p.getLong(3) == 1000000L, s"perfect ranking: $p")
    val inverted = (1 to 100).map(i => (i.toLong, i <= 10))
      .toDF("score", "y")
    val w = Evaluation.averagePrecision(inverted, "score", col("y"))
      .collect()(0)
    assert(w.getLong(3) < 200000L, s"inverted ranking scores low: $w")
    graft.util.Caches.releaseAll()
  }
}

/** Round-8 part seven specs: RAKE keywords and the DP count release. */
class Round8gSpec extends AnyFunSuite {

  test("rakeKeywords: multi-word phrases outrank lone frequent words") {
    import spark.implicits._
    // "data quality" always appears as a phrase; "model" appears often
    // but always alone between stopwords — RAKE must rank the phrase
    // above the unigram (degree rewards phrase company)
    val docs = (1 to 10).map(i =>
      (i.toLong, "the data quality of the model is the model and data quality"))
      .toDF("doc_id", "text")
    val r = Relevance.rakeKeywords(docs, 10).collect()
      .map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(r.contains("data quality"), s"$r")
    assert(r("data quality") > r("model"), s"$r")
    // phrase score = sum of word scores: deg(data)=deg(quality)=2 per
    // occurrence pattern, each word's score_w = (deg*1e6) div freq
    assert(r("model") == 1000000L, s"lone word scores deg/freq = 1: $r")
    graft.util.Caches.releaseAll()
  }

  test("rakeKeywords: islands split at stopwords, order kept") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta of gamma")).toDF("doc_id", "text")
    val r = Relevance.rakeKeywords(docs, 10).collect().map(_.getString(0))
    assert(r.contains("alpha beta") && r.contains("gamma"), r.mkString(","))
    assert(!r.contains("beta alpha") && !r.contains("beta gamma"))
    graft.util.Caches.releaseAll()
  }

  test("dpHistogram: released counts differ by bounded noise, reproducibly") {
    import spark.implicits._
    val df = (1 to 300).map(i => ("k" + (i % 3), i)).toDF("key", "x")
    val r1 = Privacy.dpHistogram(df, "key", 1000L).collect()
    val r2 = Privacy.dpHistogram(df, "key", 1000L).collect()
    assert(r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq,
      "same salt => identical release")
    r1.foreach { row =>
      assert(row.getLong(1) == 100L)
      // Laplace(b=1) noise at micro scale: |noise| < 25 with
      // overwhelming margin for any hash-uniform draw we clamp
      assert(math.abs(row.getLong(2)) < 25L * 1000000L, s"$row")
      assert(row.getLong(3) == row.getLong(1) +
        row.getLong(2) / 1000000L, s"$row")
    }
    // a different salt moves the noise (release freshness lever)
    val r3 = Privacy.dpHistogram(df, "key", 1000L, salt = 7L).collect()
    assert(r1.map(_.getLong(2)).toSeq != r3.map(_.getLong(2)).toSeq,
      "salt must change the draw")
    graft.util.Caches.releaseAll()
  }

  test("dpCountsStream: each drained window ≡ the batch release " +
      "with that window's epoch salt") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val rows = (0 until 48).map { i =>
      (ts(f"2024-01-01 ${i % 24}%02d:10:00"), "k" + (i % 3))
    }
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val out = graft.streaming.StreamingOps.dpCountsStream(
      input.toDS().toDF("ts", "event_type"), "1 day", "0 seconds",
      1000L)
    val name = "dp_stream_" + System.nanoTime()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      input.addData(Seq((ts("2044-01-01 00:00:00"), "flush")))
      q.processAllAvailable()
      val win = spark.table(name)
        .filter(col("window_start") === lit(ts("2024-01-01 00:00:00")))
      val got = win.select("key", "n", "lap_micro", "n_released")
        .collect().map(_.toSeq).sortBy(_.head.toString)
      assert(got.nonEmpty, "the fixture window must have closed")
      // the same slice through the BATCH release, salt = window epoch
      val epoch = ts("2024-01-01 00:00:00").getTime / 1000L
      val slice = rows.filter(_._1.before(ts("2024-01-02 00:00:00")))
        .toDF("ts", "event_type")
      val exp = graft.operators.Privacy
        .dpHistogram(slice, "event_type", 1000L, salt = epoch)
        .collect().map(_.toSeq).sortBy(_.head.toString)
      assert(got.toSeq == exp.toSeq,
        s"stream window must equal the batch release: $got vs $exp")
    } finally q.stop()
  }

  test("dpHistogram: smaller epsilon means larger noise scale") {
    import spark.implicits._
    val df = (1 to 100).map(i => ("k" + (i % 5), i)).toDF("key", "x")
    val tight = Privacy.dpHistogram(df, "key", 2000L).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val loose = Privacy.dpHistogram(df, "key", 500L).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    // same u per key, scale b quadruples: noise is exactly 4x (up to
    // the micro rounding)
    tight.foreach { case (k, n) =>
      assert(math.abs(loose(k) - 4L * n) <= 2L, s"$k: $n vs ${loose(k)}")
    }
    graft.util.Caches.releaseAll()
  }
}

/** Round-8 part eight specs: Kruskal–Wallis, Brown–Forsythe, BH-FDR,
  * Page–Hinkley.
  */
class Round8hSpec extends AnyFunSuite {

  test("kruskalWallis: shifted distributions score high, identical ~0") {
    import spark.implicits._
    val shifted = ((1 to 30).map(i => ("a", i.toDouble)) ++
      (1 to 30).map(i => ("b", i + 100.0))).toDF("g", "v")
    val hs = Correlate.kruskalWallis(shifted, "g", "v").collect()(0)
    // complete separation of two n=30 groups: H ≈ 44.26
    assert(hs.getDouble(2) > 40.0, s"$hs")
    assert(hs.getDouble(3) == 1.0, "no ties -> correction 1")
    val same = ((1 to 30).map(i => ("a", (i % 5).toDouble)) ++
      (1 to 30).map(i => ("b", (i % 5).toDouble))).toDF("g", "v")
    val h0 = Correlate.kruskalWallis(same, "g", "v").collect()(0)
    assert(math.abs(h0.getDouble(2)) < 1.0, s"identical: $h0")
    assert(h0.getDouble(3) < 1.0, "heavy ties -> correction < 1")
    graft.util.Caches.releaseAll()
  }

  test("brownForsythe: unequal spreads flag, equal spreads don't") {
    import spark.implicits._
    val unequal = ((1 to 40).map(i => ("tight", 100 + (i % 3).toDouble)) ++
      (1 to 40).map(i => ("wide", 100 + (i % 3) * 50.0))).toDF("g", "v")
    val f1 = Correlate.brownForsythe(unequal, "g", "v").collect()(0)
    assert(f1.getDouble(2) > 10.0, s"unequal spread: $f1")
    // same distribution, different locations: deviations identical
    val equal = ((1 to 40).map(i => ("lo", (i % 7).toDouble)) ++
      (1 to 40).map(i => ("hi", 1000 + (i % 7).toDouble))).toDF("g", "v")
    val f2 = Correlate.brownForsythe(equal, "g", "v").collect()(0)
    assert(f2.getDouble(2) == 0.0, s"equal spread: $f2")
    graft.util.Caches.releaseAll()
  }

  test("fdrBh: step-up adjustment, monotone and hand-checked") {
    import spark.implicits._
    // classic BH fixture: p = .01, .02, .03, .04, .5 (n=5).
    // cand_t = p_t·n/t = 50000, 50000, 50000, 50000, 500000; the
    // step-up min from the bottom leaves t1–t4 at 50000 (all
    // significant at α=.05 — BH's whole point vs Bonferroni, which
    // would keep only p ≤ 10000) and t5 at 500000.
    val df = Seq(("t1", 10000L), ("t2", 20000L), ("t3", 30000L),
      ("t4", 40000L), ("t5", 500000L)).toDF("id", "p_ppm")
    val r = Correlate.fdrBh(df, Seq("id"), "p_ppm", 50000L).collect()
      .map(x => x.getString(0) -> (x.getLong(3), x.getBoolean(4))).toMap
    assert(r("t1") == (50000L, true), s"$r")
    assert(r("t2") == (50000L, true), s"$r")
    assert(r("t3") == (50000L, true), s"$r")
    assert(r("t4") == (50000L, true), s"$r")
    assert(r("t5") == (500000L, false), s"$r")
    // a late small p pulls earlier larger ones down (the step-up):
    // p = .04, .05 with n=2 -> cand = 80000, 50000 -> both 50000
    val df2 = Seq(("a", 40000L), ("b", 50000L)).toDF("id", "p_ppm")
    val r2 = Correlate.fdrBh(df2, Seq("id"), "p_ppm", 50000L).collect()
      .map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(r2("a") == 50000L && r2("b") == 50000L, s"$r2")
    // adjusted p is monotone in rank
    val seq = Correlate.fdrBh(df, Seq("id"), "p_ppm", 50000L).collect()
      .map(_.getLong(3))
    assert(seq.sameElements(seq.sorted), "monotone step-up")
  }

  test("pageHinkley: a volume step trips the running-mean detector") {
    import spark.implicits._
    // 10 days at 5 events, then 5 days at 50 — PH must alarm after
    // the step while the flat prefix stays silent
    val ev = (1 to 15).flatMap { d =>
      val n = if (d <= 10) 5 else 50
      (1 to n).map(k => ("api", ts(f"2024-01-$d%02d 12:00:00"), k.toLong))
    }.toDF("event_type", "ts", "event_id")
    val r = TimeSeries.pageHinkleyReport(ev, "event_type",
        lambdaCount = 20L)
      .collect().map(x => x.getDate(1).toString ->
        (x.getLong(3), x.getBoolean(4))).toMap
    assert(!r("2024-01-10")._2, s"flat prefix silent: $r")
    assert(r("2024-01-12")._2, s"step alarms: $r")
    assert(r("2024-01-15")._1 > r("2024-01-11")._1,
      "drift statistic accumulates")
    graft.util.Caches.releaseAll()
  }
}

/** Round-8 part nine specs: matchup census, Bradley–Terry, Wilson
  * win rates, McNemar, Fleiss' κ.
  */
class Round8iSpec extends AnyFunSuite {

  private def matchupFixture = {
    import spark.implicits._
    // 3 units; x beats y for u1/u2, loses for u3; z ties y at u3
    Seq(
      (1L, "x", 5.0), (1L, "y", 1.0),
      (2L, "x", 4.0), (2L, "y", 2.0), (2L, "z", 9.0),
      (3L, "x", 1.0), (3L, "y", 3.0), (3L, "z", 3.0))
      .toDF("u", "it", "v")
  }

  test("matchupCensus: winners, ties, and decision counts by hand") {
    val m = Preference.matchupCensus(matchupFixture, "u", "it", "v")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(m.toSet === Set(
      ("x", "y", 2L, 1L, 0L, 3L),   // u1,u2 x wins; u3 y wins
      ("x", "z", 0L, 2L, 0L, 2L),   // z beats x at u2 and u3
      ("y", "z", 0L, 1L, 1L, 1L)),  // u2 z wins; u3 exact tie
      m.mkString(","))
  }

  test("bradleyTerry: dominance ranks first, mass is conserved") {
    import spark.implicits._
    // a beats b 9:1, b beats c 9:1, a beats c 10:0 — transitive
    val m = Seq(
      ("a", "b", 9L, 1L), ("b", "c", 9L, 1L), ("a", "c", 10L, 0L))
      .toDF("item_a", "item_b", "wins_a", "wins_b")
    val bt = Preference.bradleyTerry(m, 2).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4)))
    val byRank = bt.sortBy(_._3).map(_._1).toSeq
    assert(byRank === Seq("a", "b", "c"), bt.mkString(","))
    val mass = bt.map(_._2).sum
    // sum-normalized to K·10⁶ up to one truncation unit per item
    assert(math.abs(mass - 3000000L) <= 3, s"mass $mass")
    val s = bt.map(t => t._1 -> t._2).toMap
    assert(s("a") > s("b") && s("b") > s("c"), bt.mkString(","))
  }

  test("bradleyTerry: zero-decision pairs drop, undefeated dominates") {
    import spark.implicits._
    val m = Seq(("a", "b", 7L, 0L), ("a", "c", 0L, 0L))
      .toDF("item_a", "item_b", "wins_a", "wins_b")
    val bt = Preference.bradleyTerry(m, 2).collect()
    // c never played a decided game — excluded
    assert(bt.map(_.getString(0)).toSet === Set("a", "b"))
    val s = bt.map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(s("a") > s("b"))
    // b's strength floors to 0 (W_b = 0) and a absorbs the mass
    assert(s("b") === 0L && s("a") === 2000000L, s.toString)
  }

  test("bradleyTerry: input row order cannot move a strength") {
    import spark.implicits._
    val rows = Seq(("a", "b", 9L, 1L), ("b", "c", 9L, 1L),
      ("a", "c", 10L, 0L))
    def fit(s: Seq[(String, String, Long, Long)]) =
      Preference.bradleyTerry(
        s.toDF("item_a", "item_b", "wins_a", "wins_b"), 2)
        .collect().map(r => (r.getString(0), r.getLong(3))).toSeq
    assert(fit(rows) === fit(rows.reverse))
  }

  test("winRateMatrix: sweep and Wilson bounds behave") {
    import spark.implicits._
    val m = Seq(("a", "b", 8L, 2L)).toDF("item_a", "item_b",
      "wins_a", "wins_b")
    val w = Preference.winRateMatrix(m).collect()
      .map(r => (r.getString(0), r.getLong(4), r.getDouble(5),
        r.getDouble(6))).sortBy(_._1)
    val Seq(a, b) = w.toSeq
    assert(a._2 === 800000L && b._2 === 200000L)
    // Wilson stays inside (0,1) and brackets the plug-in rate
    assert(a._3 > 0.0 && a._4 < 1.0 && a._3 < 0.8 && a._4 > 0.8)
    // the two directions mirror: lo_a = 1 - hi_b up to rounding
    assert(math.abs(a._3 - (1.0 - b._4)) < 2e-6, w.mkString(","))
  }

  test("mcnemar: hand-computed discordant cells and statistic") {
    import spark.implicits._
    val pairs = (Seq.fill(3)((true, false)) ++ Seq.fill(1)((false, true)) ++
      Seq.fill(5)((true, true)) ++ Seq.fill(2)((false, false)))
      .toDF("a", "b")
    val r = Preference.mcnemar(pairs, "a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((11L, 3L, 1L, 5L, 2L)))
    // ((|3-1|-1)^2)/(3+1) = 0.25
    assert(r.getDouble(5) === 0.25)
    // no discordance -> undefined
    val none = Seq((true, true), (false, false)).toDF("a", "b")
    assert(Preference.mcnemar(none, "a", "b").collect()(0).isNullAt(5))
  }

  test("fleissKappa: perfect agreement is 1, hand case is -1/3") {
    import spark.implicits._
    val perfect = Seq(
      (1L, "A"), (1L, "A"), (2L, "B"), (2L, "B"))
      .toDF("item", "cat")
    val p = Preference.fleissKappa(perfect, "item", "cat", 2)
      .collect()(0)
    assert(p.getDouble(5) === 1.0, p.toString)
    // items (A,A) and (A,B): PA=0.5, Pe=0.625, kappa=-1/3
    val mixed = Seq(
      (1L, "A"), (1L, "A"), (2L, "A"), (2L, "B"))
      .toDF("item", "cat")
    val m = Preference.fleissKappa(mixed, "item", "cat", 2)
      .collect()(0)
    assert(m.getDouble(3) === 0.5 && m.getDouble(4) === 0.625,
      m.toString)
    assert(m.getDouble(5) === -0.333333, m.toString)
    // an item with only 1 rating is excluded from the panel
    val ragged = Seq(
      (1L, "A"), (1L, "A"), (2L, "A"))
      .toDF("item", "cat")
    val g = Preference.fleissKappa(ragged, "item", "cat", 2)
      .collect()(0)
    assert(g.getLong(0) === 1L, g.toString)
  }
}

/** Round-8 part ten specs: isotonic calibration, DSIR importance,
  * Cochran–Armitage.
  */
class Round8jSpec extends AnyFunSuite {

  test("isotonicCalibration: pools the violating bins, PAV by hand") {
    import spark.implicits._
    // 3 bins (scores 0/1/2, nBins=3): rates 0.2, 0.6, 0.4 -> the last
    // two pool to 0.5; counts chosen so every division is exact
    val rows =
      (1 to 10).map(i => (0L, i <= 2)) ++
        (1 to 10).map(i => (1L, i <= 6)) ++
        (1 to 10).map(i => (2L, i <= 4))
    val df = rows.toDF("s", "y")
    val out = Evaluation.isotonicCalibration(df, "s", col("y"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq((0L, 200000L, 200000L),
      (1L, 600000L, 500000L), (2L, 400000L, 500000L)),
      out.mkString(","))
    graft.util.Caches.releaseAll()
  }

  test("isotonicCalibration: monotone input is returned unchanged") {
    import spark.implicits._
    val rows =
      (1 to 10).map(i => (0L, i <= 1)) ++
        (1 to 10).map(i => (5L, i <= 5)) ++
        (1 to 10).map(i => (9L, i <= 9))
    val out = Evaluation.isotonicCalibration(rows.toDF("s", "y"),
      "s", col("y"), 10).collect()
      .map(r => (r.getLong(3), r.getLong(4)))
    assert(out.forall { case (raw, iso) => raw == iso },
      out.mkString(","))
    // and the fit is non-decreasing
    assert(out.map(_._2).toSeq === out.map(_._2).sorted.toSeq)
    graft.util.Caches.releaseAll()
  }

  test("importanceWeights: target-like documents rank first") {
    import spark.implicits._
    val docs = Seq(
      (1L, "zebra zebra zebra stripes", true),
      (2L, "zebra stripes common words", true),
      (3L, "common words only here", false),
      (4L, "zebra zebra stripes stripes", false),
      (5L, "totally unrelated filler text", false))
      .toDF("doc_id", "text", "is_tgt")
    val out = Relevance.importanceWeights(docs, col("is_tgt"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 4 shares the target's vocabulary without being in it —
    // it must outrank the non-target-looking docs 3 and 5
    val byId = out.map(t => t._1 -> t._3).toMap
    assert(byId(4L) > byId(3L) && byId(4L) > byId(5L),
      out.mkString(","))
    assert(out.map(_._1).take(1).head != 5L)
    // token counts are the plain whitespace-word counts here
    assert(out.find(_._1 == 1L).get._2 === 4L)
    graft.util.Caches.releaseAll()
  }

  test("cochranArmitage: linear trend flags, flat is exactly 0") {
    import spark.implicits._
    val trend = (1 to 5).flatMap(t =>
      (1 to 20).map(i => (t.toLong, i <= 4 * t - 2)))
    val z1 = Experiment.cochranArmitage(trend.toDF("t", "y"), "t",
      col("y")).collect()(0)
    assert(z1.getDouble(3) > 5.0, z1.toString)
    val flat = (1 to 5).flatMap(t =>
      (1 to 20).map(i => (t.toLong, i <= 10)))
    val z0 = Experiment.cochranArmitage(flat.toDF("t", "y"), "t",
      col("y")).collect()(0)
    assert(z0.getDouble(3) === 0.0, z0.toString)
    // a single group has no trend axis -> NULL
    val one = (1 to 20).map(i => (1L, i <= 7))
    val zn = Experiment.cochranArmitage(one.toDF("t", "y"), "t",
      col("y")).collect()(0)
    assert(zn.isNullAt(3), zn.toString)
  }
}

/** Round-8 part eleven specs: Krippendorff's α, Mantel–Haenszel. */
class Round8kSpec extends AnyFunSuite {

  test("krippendorffAlpha: unequal panels agree perfectly -> 1") {
    import spark.implicits._
    // 3 and 2 ratings — Fleiss would drop one item; Krippendorff keeps
    // both, and perfect within-item agreement reads 1 exactly
    val ratings = Seq(
      (1L, "A"), (1L, "A"), (1L, "A"),
      (2L, "B"), (2L, "B"))
      .toDF("item", "cat")
    val r = Preference.krippendorffAlpha(ratings, "item", "cat", 3)
      .collect()(0)
    assert((r.getLong(0), r.getLong(1)) === ((2L, 5L)))
    assert(r.getDouble(3) === 1.0, r.toString)
  }

  test("krippendorffAlpha: hand-computed disagreement, -1/3") {
    import spark.implicits._
    // i1=(A,B,A), i2=(A,B): o_off_s=8 (S=2), n=5, D_e_s=24 -> -1/3
    val ratings = Seq(
      (1L, "A"), (1L, "B"), (1L, "A"),
      (2L, "A"), (2L, "B"))
      .toDF("item", "cat")
    val r = Preference.krippendorffAlpha(ratings, "item", "cat", 3)
      .collect()(0)
    assert(r.getDouble(3) === -0.333333, r.toString)
    // single-rating items are excluded but don't crash
    val ragged = ratings.union(Seq((3L, "A")).toDF("item", "cat"))
    val r2 = Preference.krippendorffAlpha(ragged, "item", "cat", 3)
      .collect()(0)
    assert(r2.getLong(0) === 2L && r2.getDouble(3) === -0.333333)
    // one category only -> expected disagreement 0 -> NULL
    val mono = Seq((1L, "A"), (1L, "A"), (2L, "A"), (2L, "A"))
      .toDF("item", "cat")
    assert(Preference.krippendorffAlpha(mono, "item", "cat", 2)
      .collect()(0).isNullAt(3))
  }

  private def mhRows(spec: Seq[(Long, Int, Int, Int, Int)]) = {
    import spark.implicits._
    spec.flatMap { case (s, a, b, c, d) =>
      Seq.fill(a)((s, true, true)) ++ Seq.fill(b)((s, true, false)) ++
        Seq.fill(c)((s, false, true)) ++
        Seq.fill(d)((s, false, false))
    }.toDF("stratum", "e", "y")
  }

  test("mantelHaenszel: hand-computed pooled OR and CMH") {
    // s1 null (OR=1), s2 strong: OR_MH = (2.5+8)/(2.5+0.5) = 3.5
    val df = mhRows(Seq((1L, 10, 10, 10, 10), (2L, 20, 5, 5, 20)))
    val r = Experiment.mantelHaenszel(df, "stratum", col("e"),
      col("y")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ===
      ((90L, 2L, 30L)))
    assert(r.getDouble(3) === 3.5, r.toString)
    // E=22.5, V=2.564102+3.188775 micro-floored -> chi2 ~ 8.52
    assert(r.getDouble(4) > 8.0 && r.getDouble(4) < 9.0, r.toString)
  }

  test("mantelHaenszel: degenerate denominators go NULL, not NaN") {
    // no discordant bc product anywhere -> OR undefined
    val df = mhRows(Seq((1L, 5, 0, 0, 5)))
    val r = Experiment.mantelHaenszel(df, "stratum", col("e"),
      col("y")).collect()(0)
    assert(r.isNullAt(3), r.toString)
    // a single-row stratum has V=0 -> chi2 NULL
    val tiny = mhRows(Seq((1L, 1, 0, 0, 0)))
    val r2 = Experiment.mantelHaenszel(tiny, "stratum", col("e"),
      col("y")).collect()(0)
    assert(r2.isNullAt(4), r2.toString)
  }
}

/** Round-8 part fourteen specs: Jonckheere–Terpstra. */
class Round8nSpec extends AnyFunSuite {

  test("jonckheereTerpstra: hand-computed two-group case") {
    import spark.implicits._
    // groups 1:{1,2}, 2:{3,4}: all 4 cross pairs ordered -> JT = 4
    // (its maximum), JT2 = 8; E2 = Σ_{i<j} n_i·n_j = 4; no ties, so
    // Var = [4·3·13 − 2·(2·1·9)]/72 = 120/72 = 5/3 and
    // z = (8−4)/(2·√(5/3)) = 1.549193
    val df = Seq((1L, 1.0), (1L, 2.0), (2L, 3.0), (2L, 4.0))
      .toDF("t", "v")
    val r = Correlate.jonckheereTerpstra(df, "t", "v").collect()(0)
    assert(r.getLong(2) === 8L, r.toString)
    assert(r.getLong(3) === 4L, r.toString)
    assert(r.getDouble(4) === 1.549193, r.toString)
    graft.util.Caches.releaseAll()
  }

  test("jonckheereTerpstra: monotone trend positive, reversed negative") {
    import spark.implicits._
    val up = (1 to 4).flatMap(t =>
      (1 to 15).map(i => (t.toLong, t * 10.0 + (i % 3))))
    val zUp = Correlate.jonckheereTerpstra(up.toDF("t", "v"), "t",
      "v").collect()(0)
    assert(zUp.getDouble(4) > 5.0, zUp.toString)
    val down = up.map { case (t, v) => (t, -v) }
    val zDn = Correlate.jonckheereTerpstra(down.toDF("t", "v"), "t",
      "v").collect()(0)
    assert(zDn.getDouble(4) < -5.0, zDn.toString)
    // exchangeable groups sit near zero
    val flat = (1 to 4).flatMap(t =>
      (1 to 15).map(i => (t.toLong, (i % 5).toDouble)))
    val z0 = Correlate.jonckheereTerpstra(flat.toDF("t", "v"), "t",
      "v").collect()(0)
    assert(math.abs(z0.getDouble(4)) < 0.5, z0.toString)
    graft.util.Caches.releaseAll()
  }
}

/** Round-8 part sixteen specs: Wald's SPRT. */
class Round8pSpec extends AnyFunSuite {

  private def sprt(rows: Seq[(String, Long, Int)]) = {
    import spark.implicits._
    Experiment.sprtReport(rows.toDF("g", "ord", "y"), "g",
      Seq("ord"), col("y") === 1, 400000L, 500000L, 50000L, 50000L)
      .collect()
      .map(r => r.getString(0) -> ((r.getString(4),
        if (r.isNullAt(5)) -1 else r.getInt(5)))).toMap
  }

  test("sprt: all-success crosses h1 at exactly 14, all-fail h0 at 17") {
    // posInc = ln(1.25) nano ≈ 0.2231e9, upper = ln(19) ≈ 2.9444e9:
    // 14 successes cross; negInc = ln(5/6) ≈ -0.1823e9: 17 failures
    val rows =
      (1 to 30).map(i => ("up", i.toLong, 1)) ++
        (1 to 30).map(i => ("dn", i.toLong, 0)) ++
        Seq(("mid", 1L, 1), ("mid", 2L, 0), ("mid", 3L, 1))
    val out = sprt(rows)
    assert(out("up") === (("h1", 14)), out.toString)
    assert(out("dn") === (("h0", 17)), out.toString)
    assert(out("mid") === (("none", -1)), out.toString)
  }

  test("sprt: the first boundary hit wins even if the path recrosses") {
    // 20 failures (h0 fires at 17) then 60 successes (would reach h1
    // later): the sequential decision is h0 at 17, not h1
    val rows = (1 to 20).map(i => ("g", i.toLong, 0)) ++
      (21 to 80).map(i => ("g", i.toLong, 1))
    val out = sprt(rows)
    assert(out("g") === (("h0", 17)), out.toString)
  }
}

/** Round-8 part seventeen specs: Cronbach's α. */
class Round8qSpec extends AnyFunSuite {

  private def alpha(rows: Seq[(Long, String, Double)],
      items: Seq[String]) = {
    import spark.implicits._
    Preference.cronbachAlpha(rows.toDF("u", "it", "v"), "u", "it",
      "v", items).collect()(0)
  }

  test("cronbachAlpha: perfectly parallel items read exactly 1") {
    val rows = (1 to 10).flatMap(u =>
      Seq((u.toLong, "a", u * 2.0), (u.toLong, "b", u * 2.0)))
    val r = alpha(rows, Seq("a", "b"))
    assert(r.getLong(0) === 10L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === 1.0, r.toString)
    graft.util.Caches.releaseAll()
  }

  test("cronbachAlpha: opposed items zero the total -> NULL; " +
    "incomplete units are excluded") {
    // x and -x: total is constant, v_tot = 0
    val opp = (1 to 10).flatMap(u =>
      Seq((u.toLong, "a", u * 1.0), (u.toLong, "b", -u * 1.0)))
    assert(alpha(opp, Seq("a", "b")).isNullAt(2))
    // one unit missing item b drops out and the rest still read 1
    val ragged = (1 to 10).flatMap(u =>
      Seq((u.toLong, "a", u * 2.0), (u.toLong, "b", u * 2.0))) ++
      Seq((99L, "a", 7.0))
    val r = alpha(ragged, Seq("a", "b"))
    assert(r.getLong(0) === 10L && r.getDouble(2) === 1.0, r.toString)
    graft.util.Caches.releaseAll()
  }

  test("cronbachAlpha: unrelated items score low") {
    val rows = (1 to 24).flatMap(u =>
      Seq((u.toLong, "a", (u % 4) * 1.0),
        (u.toLong, "b", ((u * 7) % 5) * 1.0)))
    val r = alpha(rows, Seq("a", "b"))
    assert(r.getDouble(2) < 0.5, r.toString)
    graft.util.Caches.releaseAll()
  }
}

/** Round-9 part one specs: the sketch-fidelity query forms (exact-twin
  * values + frozen-bound validity flags), the generalized ANN recall
  * grader, the driver-side collect guards, and the mixed-sign packed-key
  * guard.
  */
class Round9Spec extends AnyFunSuite {

  // ---------------------------------------------------------------
  // Guards.countedCollect
  // ---------------------------------------------------------------

  test("countedCollect: passes at the cap, fails loudly one past it") {
    val atCap = spark.range(10).toDF("x")
    assert(graft.util.Guards.countedCollect(atCap, "op", cap = 10)
      .length === 10)
    val over = spark.range(11).toDF("x")
    val e = intercept[IllegalArgumentException] {
      graft.util.Guards.countedCollect(over, "bradleyTerry", cap = 10)
    }
    assert(e.getMessage.contains("bradleyTerry"), e.getMessage)
    assert(e.getMessage.contains("driver-side cap"), e.getMessage)
  }

  test("bradleyTerry: an over-cap census fails before collecting it") {
    import spark.implicits._
    val big = spark.range(graft.util.Guards.MaxCensusRows + 1)
      .select(col("id").as("item_a"), (col("id") + 1).as("item_b"),
        lit(1L).as("wins_a"), lit(0L).as("wins_b"))
    val e = intercept[IllegalArgumentException] {
      Preference.bradleyTerry(big, rounds = 1)
    }
    assert(e.getMessage.contains("bradleyTerry"), e.getMessage)
  }

  test("krippendorffAlpha: an item rated past maxRaters fails loudly") {
    import spark.implicits._
    val ratings = Seq((1L, "a"), (1L, "b"), (1L, "a"),
      (2L, "a"), (2L, "b")).toDF("item", "cat")
    val e = intercept[IllegalArgumentException] {
      Preference.krippendorffAlpha(ratings, "item", "cat", maxRaters = 2)
        .collect()
    }
    assert(e.getMessage.contains("maxRaters"), e.getMessage)
    graft.util.Caches.releaseAll()
    // and at a truthful cap the same panel fits
    val ok = Preference.krippendorffAlpha(ratings, "item", "cat",
      maxRaters = 3).collect()
    assert(ok.length === 1)
    graft.util.Caches.releaseAll()
  }

  // ---------------------------------------------------------------
  // ipwAte: the decimal-first cast must survive warehouse-scale
  // outcomes (|y| > 9.2e6 units overflowed the old LONG product)
  // ---------------------------------------------------------------

  test("ipwAte: 2e7-unit outcomes compute exactly (old LONG cell " +
    "product wrapped at ~9.2e6)") {
    import spark.implicits._
    // one bin, e = 0.5: ATE = 2e7 − 1e7 = 1e7 units = 1e13 micro
    val df = Seq(
      ("b", true, 2.0e7), ("b", true, 2.0e7),
      ("b", false, 1.0e7), ("b", false, 1.0e7))
      .toDF("bin", "treat", "y")
    val r = graft.operators.Experiment.ipwAte(df, col("treat"),
      col("y"), col("bin")).collect()(0)
    assert(r.getLong(0) === 4L && r.getLong(1) === 4L)
    assert(r.getLong(3) === 10000000000000L, r.toString)
    assert(r.getLong(4) === 10000000000000L, r.toString)
    graft.util.Caches.releaseAll()
  }

  // ---------------------------------------------------------------
  // adamicAdarTopK: mixed-sign node ids must not take the packed path
  // ---------------------------------------------------------------

  test("adamicAdarTopK: mixed-sign ids score identically to the same " +
    "graph shifted non-negative") {
    import spark.implicits._
    // K4 minus one edge on ids {-2, -1, 1, 2}; shift +10 → {8, 9, 11, 12}
    val edges = Seq((-2L, -1L), (-2L, 1L), (-1L, 1L), (-1L, 2L), (1L, 2L))
    val neg = Graph.adamicAdarTopK(
      edges.toDF("node_a", "node_b"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    graft.util.Caches.releaseAll()
    val pos = Graph.adamicAdarTopK(
      edges.map { case (a, b) => (a + 10, b + 10) }
        .toDF("node_a", "node_b"), 10)
      .collect().map(r => (r.getLong(0) - 10, r.getLong(1) - 10,
        r.getLong(2), r.getLong(3))).toSet
    graft.util.Caches.releaseAll()
    assert(neg === pos)
  }

  // ---------------------------------------------------------------
  // recallVsExact
  // ---------------------------------------------------------------

  test("recallVsExact: the exact ranking grades itself at 100% and a " +
    "disjoint ranking at 0") {
    val e = Tables.load(spark, sf, "embeddings")
    val qids = Seq(0L, 1L)
    val exact = Similarity.bruteForceTopK(e, qids, 3)
    val self = Similarity.recallVsExact(e, exact, qids, 3).collect()
    assert(self.length === 2)
    self.foreach { r =>
      assert(r.getLong(4) === 1000000L, r.toString)
      assert(r.getLong(1) === r.getLong(3), r.toString)
    }
    import spark.implicits._
    val none = Similarity.recallVsExact(e,
      Seq((0L, -100L), (1L, -101L)).toDF("query_id", "vec_id"),
      qids, 3).collect()
    none.foreach { r =>
      assert(r.getLong(3) === 0L && r.getLong(4) === 0L, r.toString)
    }
    graft.util.Caches.releaseAll()
  }

  // ---------------------------------------------------------------
  // Deciles.boundaryFidelity
  // ---------------------------------------------------------------

  test("boundaryFidelity: uniform 1..100 yields the textbook quantiles, " +
    "all within bound") {
    import spark.implicits._
    val df = (1 to 100).map(v => ("g", v.toLong, v.toLong))
      .toDF("source", "doc_id", "n_tokens")
    val rows = Deciles.boundaryFidelity(df, "source", "n_tokens")
      .collect()
    assert(rows.length === 9)
    rows.foreach { r =>
      val i = r.getInt(1)
      assert(r.getLong(2) === 100L)
      // quantile_cont at i/10 over 1..100: 1 + 99·i/10
      assert(r.getDouble(3) === 1.0 + 99.0 * i / 10.0, r.toString)
      assert(r.getBoolean(4), r.toString)
    }
  }

  test("boundaryFidelity: heavy ties collapse the window and still pass") {
    import spark.implicits._
    // 90% of mass on one value — most boundaries sit on the tie
    val df = (Seq.fill(90)(7L) ++ (1L to 10L))
      .zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
      .toDF("source", "doc_id", "n_tokens")
    val rows = Deciles.boundaryFidelity(df, "source", "n_tokens")
      .collect()
    assert(rows.length === 9)
    assert(rows.forall(_.getBoolean(4)), rows.mkString("; "))
  }

  // ---------------------------------------------------------------
  // SketchRollup.weeklyDistinctChecked
  // ---------------------------------------------------------------

  test("weeklyDistinctChecked: exact columns match the exact twin and " +
    "the HLL band holds on the fixture") {
    val ev = Tables.load(spark, sf, "events")
    val checked = SketchRollup.weeklyDistinctChecked(ev).collect()
    val exact = SketchRollup.weeklyDistinctExact(ev).collect()
    assert(checked.length === exact.length && checked.nonEmpty)
    checked.zip(exact).foreach { case (c, e) =>
      assert(c.getDate(0) === e.getDate(0))
      assert(c.getLong(3) === e.getLong(3), s"distinct_exact: $c vs $e")
      assert(c.getBoolean(4), s"HLL estimate out of band: $c")
    }
  }

  // ---------------------------------------------------------------
  // Profiler.approxFidelityProfile
  // ---------------------------------------------------------------

  test("approxFidelityProfile: full grid, exact values, sketch flags " +
    "green, moment flags null") {
    import spark.implicits._
    val df = (1 to 100).map(v => (v.toDouble, v.toLong))
      .toDF("x", "y")
    val rows = graft.core.Profiler.approxFidelityProfile(df).collect()
    assert(rows.length === 20, s"grid: ${rows.length}")
    val sketch = Set("distinct_count", "p25", "median", "p75")
    rows.foreach { r =>
      val metric = r.getString(1)
      if (sketch(metric)) assert(r.getBoolean(3), r.toString)
      else assert(r.isNullAt(3), r.toString)
    }
    val byKey = rows.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(byKey(("x", "median")).getDouble(2) === 50.5)
    assert(byKey(("x", "distinct_count")).getDouble(2) === 100.0)
    assert(byKey(("y", "p25")).getDouble(2) === 25.75)
  }
}

/** Round-9 part five specs: split-conformal calibration, hand-checked
  * ranks and the honest small-n (infinite-interval) branch.
  */
class Round9fSpec extends AnyFunSuite {

  private def run(cal: Seq[Long], ev: Seq[Long],
      alphaPermille: Long = 100L) = {
    import spark.implicits._
    val df = (cal.map(s => (true, s)) ++ ev.map(s => (false, s)))
      .toDF("cal", "s")
      .select(col("cal"), col("s").as("y"), lit(0L).as("yhat"))
    val r = Evaluation.splitConformal(df, col("cal"), col("y"),
      col("yhat"), alphaPermille).collect()
    graft.util.Caches.releaseAll()
    assert(r.length === 1)
    r.head
  }

  test("splitConformal: k = ceil((n+1)(1-alpha)) picks the textbook " +
    "order statistic") {
    // n_cal = 9, alpha = 0.1 → k = ceil(10·0.9) = 9 → qhat = 9th
    // smallest = 9; eval {5, 9, 10} → covered 2/3
    val r = run(cal = (1L to 9L), ev = Seq(5L, 9L, 10L))
    assert(r.getLong(0) === 9L && r.getLong(1) === 3L)
    assert(r.getLong(2) === 9L, r.toString)
    assert(r.getLong(3) === 2L)
    assert(r.getLong(4) === 2000000L / 3L, r.toString)
    assert(r.getLong(5) === 900000L)
  }

  test("splitConformal: duplicate scores resolve by cumulative count") {
    // cal = {2×5, 7×8}: n=9, k=9 → cum at s=5 is 2 (<9), at s=8 is 9 → 8
    val r = run(cal = Seq.fill(2)(5L) ++ Seq.fill(7)(8L),
      ev = Seq(8L, 9L))
    assert(r.getLong(2) === 8L, r.toString)
    assert(r.getLong(3) === 1L)
  }

  test("splitConformal: k > n_cal goes NULL, not a fake finite width") {
    // n_cal = 5, alpha = 0.1 → k = ceil(6·0.9) = 6 > 5
    val r = run(cal = (1L to 5L), ev = Seq(1L, 2L))
    assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4), r.toString)
    assert(r.getLong(0) === 5L && r.getLong(1) === 2L)
  }

  test("splitConformal: tighter alpha lowers the pick") {
    // alpha = 0.5 → k = ceil(10·0.5) = 5 → qhat = 5
    val r = run(cal = (1L to 9L), ev = Seq(4L, 6L), alphaPermille = 500L)
    assert(r.getLong(2) === 5L, r.toString)
    assert(r.getLong(5) === 500000L)
  }

  test("mmrRerank: diversity beats a redundant near-copy at step 2") {
    import spark.implicits._
    // query 0 = (1,0,0); A(1) and B(2) are near-copies on one side of
    // the query, C(3) mirrors A on the OTHER side — all three equally
    // relevant at 4 dp, but sim(B,A) ≈ 1 while sim(C,A) ≈ 0.98.
    // Greedy: step 1 takes A (tie → lowest id); step 2 must take C —
    // B's redundancy penalty wipes out the tie at λ = 0.5. (2-D can't
    // express this: a candidate as close to A as to the query is
    // automatically as redundant as it is relevant.)
    val embs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.99f, 0.1f, 0.0f)),
      (2L, Seq(0.99f, 0.1f, 0.001f)),
      (3L, Seq(0.99f, -0.1f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = graft.operators.Similarity
      .mmrRerank(embs, Seq(0L), k = 2, poolN = 3, lambdaPermille = 500L)
      .collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
    assert(r.length === 2, r.mkString(";"))
    assert(r(0)._1 === 1L && r(0)._2 === 1L, r.mkString(";"))
    // step-1 score is λ·rel with an empty selected set
    assert(r(0)._4 === 500L * r(0)._3, r.mkString(";"))
    assert(r(1)._1 === 2L && r(1)._2 === 3L,
      s"step 2 must pick the diverse candidate: ${r.mkString(";")}")
  }

  test("nelsonAalen: hand-computed hazard increments accumulate " +
    "exactly, censoring adds nothing") {
    import spark.implicits._
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:00")
    // 5 users entering day 0: u5 fails t=1, u1/u2 fail t=2, u3/u4
    // censored at the day-4 horizon
    val rows =
      (1 to 5).map(u => (u.toLong, "view", ts(0))) ++ Seq(
        (5L, "error", ts(1)),
        (1L, "error", ts(2)), (2L, "error", ts(2)),
        (3L, "view", ts(4)), (4L, "view", ts(4)))
    val ev = rows.toDF("user_id", "event_type", "ts")
    val r = graft.operators.Survival
      .nelsonAalen(ev, col("event_type") === "error")
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
    // t=1: 1/5 → 200000; t=2: 2/4 → +500000; t=4: censor only → flat
    assert(r.toSeq == Seq(
      (1L, 5L, 1L, 0L, 200000L),
      (2L, 4L, 2L, 0L, 700000L),
      (4L, 2L, 0L, 2L, 700000L)), r.mkString(";"))
    graft.util.Caches.releaseAll()
  }

  test("mmrRerank: lambda = 1000 degenerates to pure relevance order") {
    import spark.implicits._
    val embs = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.999f, 0.01f)),
      (2L, Seq(0.998f, 0.02f)),
      (3L, Seq(0.7f, 0.7f)))
      .toDF("vec_id", "embedding")
    val r = graft.operators.Similarity
      .mmrRerank(embs, Seq(0L), k = 3, poolN = 3,
        lambdaPermille = 1000L)
      .collect().map(x => (x.getLong(1), x.getLong(2)))
    assert(r.toSeq === Seq((1L, 1L), (2L, 2L), (3L, 3L)),
      r.mkString(";"))
  }
}

/** Round-10 part one specs: the round-9 advice-item edge cases — the
  * splitConformal 1-row contract on degenerate splits, join-tier ≡
  * scan-tier decontamination agreement on an empty reference, clamped
  * boundary-fidelity windows at n > 100, the sign-split q267 yhat, and
  * the collect-cap range guard.
  */
class Round10Spec extends AnyFunSuite {

  private def conformal(rows: Seq[(Boolean, Long)]) = {
    import spark.implicits._
    val df = rows.toDF("cal", "s")
      .select(col("cal"), col("s").as("y"), lit(0L).as("yhat"))
    val out = Evaluation
      .splitConformal(df, col("cal"), col("y"), col("yhat")).collect()
    graft.util.Caches.releaseAll()
    out
  }

  test("splitConformal: empty calibration still emits the 1-row report " +
    "(n_cal = 0, NULL qhat/coverage)") {
    val r = conformal(Seq((false, 3L), (false, 5L)))
    assert(r.length === 1, r.mkString(";"))
    val h = r.head
    assert(h.getLong(0) === 0L && h.getLong(1) === 2L, h.toString)
    assert(h.isNullAt(2) && h.isNullAt(3) && h.isNullAt(4), h.toString)
    assert(h.getLong(5) === 900000L)
  }

  test("splitConformal: empty eval still emits the 1-row report " +
    "(n_eval = 0, NULL coverage, finite qhat kept)") {
    // n_cal = 19, alpha = 0.1 → k = ceil(20·0.9) = 18 → qhat = 18
    val r = conformal((1L to 19L).map(s => (true, s)))
    assert(r.length === 1, r.mkString(";"))
    val h = r.head
    assert(h.getLong(0) === 19L && h.getLong(1) === 0L, h.toString)
    assert(h.getLong(2) === 18L, h.toString)
    assert(h.isNullAt(3) && h.isNullAt(4), h.toString)
  }

  test("splitConformal: fully empty input is still one all-degenerate " +
    "row, never an empty relation") {
    val r = conformal(Seq.empty)
    assert(r.length === 1, r.mkString(";"))
    val h = r.head
    assert(h.getLong(0) === 0L && h.getLong(1) === 0L, h.toString)
    assert(h.isNullAt(2) && h.isNullAt(3) && h.isNullAt(4), h.toString)
  }

  test("splitConformal: non-degenerate values are unchanged by the " +
    "seeded-row form") {
    // the Round9fSpec textbook case re-run through the new plan shape
    val r = conformal((1L to 9L).map(s => (true, s)) ++
      Seq(5L, 9L, 10L).map(s => (false, s)))
    val h = r.head
    assert(h.getLong(0) === 9L && h.getLong(1) === 3L, h.toString)
    assert(h.getLong(2) === 9L && h.getLong(3) === 2L, h.toString)
    assert(h.getLong(4) === 2000000L / 3L, h.toString)
  }

  private def corpus(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("decontReportScan: an all-short reference (zero window hashes) " +
    "agrees with the join tier — clean zero-contamination report") {
    val reference = corpus((100L, "a b")) // shorter than l=5: no windows
    val c = corpus((1L, "x a b c d e y"), (2L, "p q r"))
      .withColumn("source", lit("s"))
    val scan = SpanDedup.decontReportScan(c, reference, "source", 5)
      .collect()
    val join = SpanDedup.decontReport(c, reference, "source", 5)
      .collect()
    assert(scan.toSeq.map(_.toString) === join.toSeq.map(_.toString))
    assert(scan.length === 1)
    val g = scan.head
    // 2 docs, 0 contaminated, 10 tokens, 0 contaminated, 0 ppm
    assert(g.getLong(1) === 2L && g.getLong(2) === 0L &&
      g.getLong(3) === 10L && g.getLong(4) === 0L &&
      g.getLong(5) === 0L, g.toString)
  }

  test("boundaryFidelity: n > 100 clamps the ±1%-quantile window to " +
    "[0,1] instead of going silently NULL") {
    import spark.implicits._
    val df = (1 to 50).map(v => ("g", v.toLong, v.toLong))
      .toDF("source", "doc_id", "n_tokens")
    val rows = Deciles
      .boundaryFidelity(df, "source", "n_tokens", n = 200).collect()
    assert(rows.length === 199)
    rows.foreach { r =>
      assert(!r.isNullAt(4), s"NULL within_bound at $r")
      assert(r.getBoolean(4), r.toString)
    }
  }

  test("q267 yhat: sign-split floor division truncates toward zero on " +
    "negative sums — the structure both engines agree on") {
    import spark.implicits._
    val df = Seq(("a", -7L), ("a", 0L), ("b", 7L), ("b", 0L))
      .toDF("g", "vm")
    val y = df.groupBy("g")
      .agg(expr("(case when sum(vm) < 0 then -1 else 1 end) * " +
        "(abs(cast(sum(vm) as decimal(38,0))) div count(1))")
        .as("yhat"))
      .collect().map(r => r.getString(0) ->
        r.getAs[Number]("yhat").longValue).toMap
    // -7/2: sign-split gives -1·(7 div 2) = -3 in BOTH engines; a bare
    // floor division would give -4 in DuckDB and -3 in Spark
    assert(y === Map("a" -> -3L, "b" -> 3L), y.toString)
  }

  test("countedCollect: cap at/above Int.MaxValue or non-positive is " +
    "rejected loudly, not wrapped") {
    val df = spark.range(1).toDF("x")
    val e = intercept[IllegalArgumentException] {
      graft.util.Guards.countedCollect(df, "wrapOp",
        cap = Int.MaxValue.toLong)
    }
    assert(e.getMessage.contains("wrapOp"), e.getMessage)
    intercept[IllegalArgumentException] {
      graft.util.Guards.countedCollect(df, "wrapOp", cap = 0L)
    }
  }
}

/** Round-12 part one: the PrefixSum two-level scan and the in-plan
  * census-cardinality guard.
  *
  * 1. `PrefixSum.cumBefore` must be BIT-IDENTICAL to the unpartitioned
  *    window `sum(cnt) OVER (ORDER BY val ROWS UNBOUNDED PRECEDING TO
  *    -1)` it replaces (Spearman/Dunn ranks, conformal/RFM
  *    order-statistic picks, ntileExact offsets) — across ties,
  *    negatives, single-bucket degeneracy, and empty input — while
  *    planning ZERO unpartitioned windows.
  * 2. `Guards.boundedCensus` must be a row-identical no-op under the
  *    ceiling and a LOUD runtime failure over it (the deliberately
  *    overflowing census the round-11 verdict asked for).
  */
class Round12Spec extends AnyFunSuite {

  private def check(pairs: Seq[(Long, Long)], buckets: Int = 0): Unit = {
    import spark.implicits._
    val census = pairs.toDF("v", "c").repartition(3)
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val expected = census
      .withColumn("cb", coalesce(sum("c").over(w), lit(0L)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = PrefixSum
      .cumBefore(census, "v", "c", "cb", "Round12Spec", buckets)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === expected, s"pairs=$pairs buckets=$buckets")
    graft.util.Caches.releaseAll()
  }

  test("cumBefore == unpartitioned exclusive cumsum: scattered values") {
    check(Seq(5L -> 2L, 3L -> 1L, 9L -> 4L, 1L -> 3L, 7L -> 1L))
  }

  test("cumBefore: negative values and a single bucket") {
    check(Seq(-10L -> 5L, 0L -> 1L, -3L -> 2L, 42L -> 7L))
    check(Seq(-10L -> 5L, 0L -> 1L, -3L -> 2L, 42L -> 7L), buckets = 1)
  }

  test("cumBefore: dense consecutive domain, many buckets") {
    check((0L until 40L).map(v => v -> (v % 5 + 1)), buckets = 16)
  }

  test("cumBefore: single value and empty census") {
    check(Seq(7L -> 9L))
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("v", "c")
    assert(PrefixSum.cumBefore(empty, "v", "c", "cb").count() === 0L)
    graft.util.Caches.releaseAll()
  }

  test("cumBefore plans zero unpartitioned windows") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val census = (0L until 100L).map(v => v -> 1L).toDF("v", "c")
    val plan = PrefixSum.cumBefore(census, "v", "c", "cb", "Round12Spec")
      .queryExecution.optimizedPlan
    val bad = plan.collectWithSubqueries {
      case lw: LWindow if lw.partitionSpec.isEmpty => lw
    }
    assert(bad.isEmpty, s"unpartitioned windows in cumBefore plan: $bad")
    graft.util.Caches.releaseAll()
  }

  test("boundedCensus under the cap: row-identical pass-through") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    val out = Guards.boundedCensus(df, "Round12Spec", cap = 3L)
    assert(out.columns.toSeq === Seq("k", "s"))
    assert(out.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("boundedCensus over the cap: loud in-plan failure naming the op") {
    import spark.implicits._
    val df = (0L until 50L).map(v => (v, v % 3)).toDF("k", "g")
    val e = intercept[Exception] {
      Guards.boundedCensus(df, "Round12Spec.overflow", cap = 10L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val all = messages(e).mkString(" | ")
    assert(all.contains("Round12Spec.overflow") &&
      all.contains("cardinality"),
      s"guard failure lost its message: $all")
  }

  test("boundedCensus guard survives downstream windows and joins " +
    "(the call-site shape)") {
    import spark.implicits._
    val census = (0L until 30L).map(v => (v, 1L)).toDF("v", "c")
    val guarded = Guards.boundedCensus(census, "Round12Spec.site", 5L)
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val e = intercept[Exception] {
      guarded.withColumn("cum", sum("c").over(w))
        .agg(max("cum")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).mkString(" | ").contains("Round12Spec.site"))
  }
}

/** Round-13: the lazy PrefixSum rebuild and the round-12 ADVICE holes.
  *
  * 1. NULL census values no longer NPE the offsets nor silently drop
  *    through an inner bucket join: nulls-first range partitioning +
  *    the nulls-first local window give the null row outCol = 0 and
  *    fold its count into every non-null prefix (the window
  *    formulation's order).
  * 2. A census spanning more than Long.MaxValue (values near both
  *    ±2⁶²) no longer overflows bucket-width math into negative bucket
  *    ids — there is no width math: `repartitionByRange` is the
  *    monotone splitter.
  * 3. NULL counts coalesce to 0 (window sum skips nulls).
  * 4. The call is FULLY LAZY: constructing the result runs ZERO Spark
  *    jobs (the round-12 version spent two driver actions per call —
  *    the q163/q217/q267 fixed cost the round-12 verdict asked to
  *    amortize).
  */
class Round13PrefixSumSpec extends AnyFunSuite {

  private def census(rows: Seq[(java.lang.Long, java.lang.Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("v", "c").repartition(3)
  }

  /** expected exclusive prefix under value semantics: nulls first
    * (outCol 0), then ascending; computed independently on the driver.
    */
  private def expected(rows: Seq[(java.lang.Long, java.lang.Long)])
      : Map[Option[Long], Long] = {
    val sorted = rows.sortBy { case (v, _) =>
      (if (v == null) 0 else 1, if (v == null) 0L else v.longValue())
    }
    var acc = 0L
    sorted.map { case (v, c) =>
      val off = acc; acc += (if (c == null) 0L else c.longValue())
      Option(v).map(_.longValue()) -> off
    }.toMap
  }

  private def run(rows: Seq[(java.lang.Long, java.lang.Long)],
      buckets: Int): Map[Option[Long], Long] = {
    val got = PrefixSum.cumBefore(census(rows), "v", "c", "cb",
      "Round13PrefixSumSpec", buckets)
      .collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        r.getLong(2)).toMap
    graft.util.Caches.releaseAll()
    got
  }

  private def check(rows: Seq[(java.lang.Long, java.lang.Long)]): Unit = {
    val want = expected(rows)
    Seq(0, 1, 7).foreach { b =>
      assert(run(rows, b) === want, s"buckets=$b rows=$rows")
    }
  }

  private def L(v: Long): java.lang.Long = java.lang.Long.valueOf(v)

  test("null census values: outCol 0 for the null row, its count in " +
    "every non-null prefix (ADVICE medium)") {
    check(Seq((null: java.lang.Long) -> L(7), L(5) -> L(2), L(-3) -> L(4),
      L(11) -> L(1)))
  }

  test("all-null census: outCol 0") {
    check(Seq((null: java.lang.Long) -> L(9)))
  }

  test("±2⁶²-spanning domain: no Long-overflow bucket corruption " +
    "(ADVICE low)") {
    check(Seq(L(Long.MinValue + 5) -> L(3), L(-(1L << 62)) -> L(2),
      L(-17L) -> L(5), L(1L << 62) -> L(4), L(Long.MaxValue - 5) -> L(1)))
  }

  test("null counts coalesce to 0") {
    check(Seq(L(1) -> L(2), L(2) -> (null: java.lang.Long), L(3) -> L(5)))
  }

  test("plain censuses across bucket counts") {
    check(Seq(L(5) -> L(2), L(3) -> L(1), L(9) -> L(4), L(1) -> L(3)))
    check((0L until 40L).map(v => L(v) -> L(v % 5 + 1)))
  }

  test("construction runs at most ONE Spark job — the probe — and the " +
    "pinned bucket path runs ZERO (the amortization contract)") {
    import spark.implicits._
    val cen = (0L until 1000L).map(v => v -> 1L).toDF("v", "c")
    try {
      lazy val out = PrefixSum.cumBefore(cen, "v", "c", "cb",
        "Round13PrefixSumSpec")
      // force analysis+optimization too
      val jobs = TestSpark.jobsDuring { out.queryExecution.optimizedPlan }
      // the probe is ONE action; through the internal census cache the
      // CollectLimit may scan in two incremental partition batches
      // (cache fill + remainder), so allow 2 driver-side jobs — the
      // r12 design's floor was 2 FULL census aggregations plus a cache
      // fill, so this still strictly dominates
      assert(jobs <= 2,
        "hybrid cumBefore construction costs at most the one probe " +
          s"action (saw $jobs jobs)")
      // and the stat-path plan still computes the right thing
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got === (0L until 1000L).map(v => v -> v).toMap)

      lazy val lazyOut = PrefixSum.cumBefore(cen, "v", "c", "cb",
        "Round13PrefixSumSpec", buckets = 8)
      assert(TestSpark.jobsDuring { lazyOut.queryExecution.optimizedPlan } === 0,
        "the pinned bucket path must be fully lazy — zero driver actions")
      val gotLazy = lazyOut.collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(gotLazy === (0L until 1000L).map(v => v -> v).toMap)
    } finally graft.util.Caches.releaseAll()
  }

  test("cumBeforeBy: per-group exclusive prefix sums, one probe, " +
    "null-group and null-value rows included") {
    import spark.implicits._
    val rows = Seq(("a", L(5), L(2)), ("a", L(1), L(3)), ("a", null, L(4)),
      ("b", L(1), L(7)), ("b", L(9), L(1)))
    val df = rows.toDF("g", "v", "c").repartition(3)
    def got(buckets: Int) = {
      val out = PrefixSum.cumBeforeBy(df, Seq("g"), "v", "c", "cb",
        "Round13PrefixSumSpec", buckets)
        .collect()
        .map(r => (r.getString(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1))) -> r.getLong(3))
        .toMap
      graft.util.Caches.releaseAll()
      out
    }
    val want = Map(("a", Option.empty[Long]) -> 0L, ("a", Some(1L)) -> 4L,
      ("a", Some(5L)) -> 7L, ("b", Some(1L)) -> 0L, ("b", Some(9L)) -> 7L)
    assert(got(0) === want, "stat path")
    assert(got(5) === want, "bucket path")
  }
}

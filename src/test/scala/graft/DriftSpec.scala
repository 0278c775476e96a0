package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AssociationRules, Correlate, Graph, ProfileDrift,
  SkewReport, Standardize, TimeSeries}

import TestSpark._

// Specs of the operators behind [[registry.DriftQueries]].
//
// Distribution drift between two snapshots of the same data: PSI,
// KS, rank-sum, Welch, QQ, Wasserstein and trimmed-shift reports,
// token-distribution KL and embedding-centroid drift.
//
// Each suite keeps its class name, so every test keeps the suite-qualified
// name it is reported under; the suites are grouped here by domain.

/** Part-six operators: PSI distribution drift, rolling calendar-window
  * activity, join-key skew census, per-group z-score standardization.
  */
class Round5fSpec extends AnyFunSuite {
  import spark.implicits._

  // ------------------------------------------------------------------
  // ProfileDrift.psiReport
  // ------------------------------------------------------------------

  test("psiReport: identical snapshots score exactly zero") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 10.0),
      ("b", 5.0), ("b", 6.0)).toDF("g", "v")
    val got = ProfileDrift.psiReport(df, df, "g", "v", nBins = 4)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("a", 4L, 4L, 0.0), ("b", 2L, 2L, 0.0)))
  }

  test("psiReport: a shifted distribution scores past the 0.25 alarm") {
    // reference uniform over [0, 100); current piles everything at the
    // top of the range — the textbook "feature moved" case
    val ref = (0 until 100).map(i => ("a", i.toDouble)).toDF("g", "v")
    val cur = (0 until 100).map(i => ("a", 95.0 + (i % 5))).toDF("g", "v")
    val Array((psiSame, psiShift)) =
      ProfileDrift.psiReport(ref, ref, "g", "v").select("psi")
        .crossJoin(ProfileDrift.psiReport(ref, cur, "g", "v")
          .select(col("psi").as("psi2")))
        .as[(Double, Double)].collect()
    assert(psiSame == 0.0)
    assert(psiShift > 0.25, s"shifted PSI should alarm, got $psiShift")
  }

  test("psiReport: out-of-range current values clamp into the edge bins") {
    val ref = Seq(("a", 0.0), ("a", 10.0)).toDF("g", "v")
    val cur = Seq(("a", -50.0), ("a", 999.0)).toDF("g", "v")
    val rows = ProfileDrift.psiReport(ref, cur, "g", "v", nBins = 2)
      .as[(String, Long, Long, Double)].collect()
    assert(rows.length == 1 && rows(0)._2 == 2L && rows(0)._3 == 2L)
  }

  test("psiReport: groups on only one side are skipped, not scored") {
    val ref = Seq(("a", 1.0), ("gone", 2.0)).toDF("g", "v")
    val cur = Seq(("a", 1.5), ("new", 9.0)).toDF("g", "v")
    val gs = ProfileDrift.psiReport(ref, cur, "g", "v")
      .select("g").as[String].collect().toSet
    assert(gs == Set("a"))
  }

  // ------------------------------------------------------------------
  // TimeSeries.rollingActivity
  // ------------------------------------------------------------------

  private def ev(day: Int, user: Long, value: Double) =
    (java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), user, value)

  test("rollingActivity: hand-computed 2-day window") {
    // day 1: users {1,2}; day 2: {2}; day 4: {3} (day 3 silent)
    val events = Seq(ev(1, 1L, 1.0), ev(1, 2L, 2.0), ev(2, 2L, 4.0),
      ev(4, 3L, 8.0)).toDF("ts", "user_id", "value")
    val got = TimeSeries.rollingActivity(events, windowDays = 2)
      .withColumn("day", col("day").cast("string"))
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("2024-01-01", 2L, 2L, 2L, 2L, 3.0),   // window = day 1 only
      ("2024-01-02", 1L, 1L, 2L, 3L, 7.0),   // users {1,2} over days 1-2
      ("2024-01-04", 1L, 1L, 1L, 1L, 8.0)))  // day 3 empty, window = day 4
  }

  test("rollingActivity: windowDays=1 degenerates to the daily report") {
    val events = Seq(ev(1, 1L, 1.5), ev(1, 1L, 2.5), ev(2, 2L, 3.0))
      .toDF("ts", "user_id", "value")
    val rows = TimeSeries.rollingActivity(events, windowDays = 1).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("wau") == r.getAs[Long]("dau"))
      assert(r.getAs[Long]("n_events_roll") == r.getAs[Long]("n_events"))
    }
  }

  test("rollingActivity: no phantom days past the observed range") {
    val events = Seq(ev(5, 1L, 1.0)).toDF("ts", "user_id", "value")
    val days = TimeSeries.rollingActivity(events, windowDays = 7)
      .select(col("day").cast("string")).as[String].collect().toSeq
    assert(days == Seq("2024-01-05"))
  }

  // ------------------------------------------------------------------
  // SkewReport.keySkew
  // ------------------------------------------------------------------

  test("keySkew: hand-computed census, ties broken by key") {
    // key 7 × 4 rows, keys 1 and 3 × 2 rows each (tie), key 9 × 1
    val df = (Seq.fill(4)(7L) ++ Seq(1L, 1L, 3L, 3L, 9L)).toDF("k")
    val got = SkewReport.keySkew(df, "k", topN = 3)
      .as[(Int, Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(
      (1, 7L, 4L, 4444.4444, 4444.4444),
      (2, 1L, 2L, 2222.2222, 6666.6667),
      (3, 3L, 2L, 2222.2222, 8888.8889)))
  }

  test("keySkew: topN past the key count returns every key") {
    val df = Seq(1L, 2L, 2L).toDF("k")
    assert(SkewReport.keySkew(df, "k", topN = 50).count() == 2)
  }

  // ------------------------------------------------------------------
  // Standardize.zScore
  // ------------------------------------------------------------------

  test("zScore: hand-computed scores; zero-spread group gets NULL, keeps rows") {
    // group a: values 1, 3 -> mu=2, sigma=sqrt(2); group b constant
    val df = Seq(("a", 1L), ("a", 3L), ("b", 5L), ("b", 5L))
      .toDF("source", "n")
    val got = Standardize.zScore(df, "source", "n")
    assert(got.count() == 4)
    val za = got.filter(col("source") === "a" && col("n") === 3)
      .select("z").as[Double].collect()(0)
    assert(za == math.floor((3.0 - 2.0) / 1.414214 * 10000 + 0.5) / 10000)
    assert(got.filter(col("source") === "b").select("z")
      .collect().forall(_.isNullAt(0)))
  }
}

/** Round-6 part eleven: KS drift and Kendall τ-b. */
class Round6jSpec extends AnyFunSuite {

  // -------------------------------------------------------------- ks test

  private def gv(rows: Seq[(String, Double)]) = {
    import spark.implicits._
    rows.toDF("g", "v")
  }

  test("ksReport: identical samples → D = 0; disjoint ranges → D = 1") {
    val same = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0))
    val r0 = ProfileDrift.ksReport(gv(same), gv(same), "g", "v")
      .collect().head
    assert(r0.getLong(3) == 0L && r0.getDouble(5) == 0.0)

    val lo = Seq(("a", 1.0), ("a", 2.0))
    val hi = Seq(("a", 10.0), ("a", 20.0), ("a", 30.0))
    val r1 = ProfileDrift.ksReport(gv(lo), gv(hi), "g", "v").collect().head
    assert(r1.getDouble(5) == 1.0)
    assert(r1.getLong(4) == 2000000L) // first attained at ref's max value
  }

  test("ksReport: a null group or null value merges across sides into " +
    "one census row") {
    import spark.implicits._
    def df(rows: Seq[(Option[String], Option[Double])]) = rows.toDF("g", "v")
    val ref = df(Seq(
      (Some("a"), Some(1.0)), (Some("a"), None), (Some("a"), Some(2.0)),
      (None, Some(1.0)), (None, None),
      (Some("b"), None), (Some("b"), None)))
    val cur = df(Seq(
      (Some("a"), None), (Some("a"), Some(3.0)),
      (None, Some(1.0)), (None, Some(2.0)),
      (Some("b"), None), (Some("b"), Some(5.0))))
    val rows = ProfileDrift.ksReport(ref, cur, "g", "v").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2),
        r.getLong(3), Option(r.get(4)), r.getDouble(5))).toSeq
    // nulls sort first, as ONE tied value per side-merged key; argmax
    // skips the null value (min over the tied maxima ignores nulls).
    // Group b pins the merge: its null value is c_ref 2, c_cur 1 in one
    // row (d = 2); two separate per-side null rows would have let
    // d reach 4 or 2 depending on their order.
    assert(rows == Seq(
      (None, 2L, 2L, 2L, Some(1000000L), 0.5),
      (Some("a"), 3L, 2L, 3L, Some(2000000L), 0.5),
      (Some("b"), 2L, 2L, 2L, None, 0.5)))
  }

  test("ksReport: hand-computed mixed case with the exact numerator") {
    // ref {1,2,3}, cur {2,3,4}: D attained at v=1: |1·3 − 0·3| = 3 →
    // D = 3/9 = 1/3 (ties at v∈{2,3} give the same 3)
    val r = ProfileDrift.ksReport(
      gv(Seq(("a", 1.0), ("a", 2.0), ("a", 3.0))),
      gv(Seq(("a", 2.0), ("a", 3.0), ("a", 4.0))), "g", "v")
      .collect().head
    assert(r.getLong(3) == 3L)
    assert(r.getLong(4) == 1000000L) // FIRST argmax
    assert(r.getDouble(5) == 0.333333)
  }

  test("ksReport: location shift is detected even when PSI bins would blur") {
    val ref = (1 to 100).map(i => ("a", i.toDouble))
    val cur = (1 to 100).map(i => ("a", i + 10.0))
    val r = ProfileDrift.ksReport(gv(ref), gv(cur), "g", "v").collect().head
    assert(r.getDouble(5) == 0.1) // exactly the 10/100 CDF gap
  }

  // ---------------------------------------------------------- kendall tau

  test("kendallTauB: perfect monotone → 1; reversed → −1; ties correct") {
    import spark.implicits._
    val up = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("x", "y")
    assert(Correlate.kendallTauB(up, "x", "y").collect().head
      .getDouble(6) == 1.0)
    val down = Seq((1L, 30L), (2L, 20L), (3L, 10L)).toDF("x", "y")
    assert(Correlate.kendallTauB(down, "x", "y").collect().head
      .getDouble(6) == -1.0)
    graft.util.Caches.releaseAll()
  }

  test("kendallTauB: hand-computed tie case") {
    import spark.implicits._
    // pairs: (1,1)-(1,2): x-tie; (1,1)-(2,1): y-tie; (1,2)-(2,1):
    // discordant; (1,1)-(2,2)... full set over {(1,1),(1,2),(2,1)}:
    // n=3, n0_2=6, n1_2 (x=1 twice)=2, n2_2 (y=1 twice)=2,
    // cd2 = 2(C−D) = 2(0−1) = −2 → τ = −2/√(4·4) = −0.5
    val df = Seq((1L, 1L), (1L, 2L), (2L, 1L)).toDF("x", "y")
    val r = Correlate.kendallTauB(df, "x", "y").collect().head
    assert(r.getLong(0) == 3L && r.getLong(2) == -2L)
    assert(r.getLong(3) == 6L && r.getLong(4) == 2L && r.getLong(5) == 2L)
    assert(r.getDouble(6) == -0.5)
    graft.util.Caches.releaseAll()
  }

  test("kendallTauB: all-tied column yields NULL (undefined)") {
    import spark.implicits._
    val df = Seq((1L, 5L), (2L, 5L), (3L, 5L)).toDF("x", "y")
    val r = Correlate.kendallTauB(df, "x", "y").collect().head
    assert(r.isNullAt(6))
    graft.util.Caches.releaseAll()
  }
}

/** Round-6 part fifteen: Mann–Whitney rank-sum, Welch's t, association
  * rules.
  */
class Round6nSpec extends AnyFunSuite {

  private def df1(vs: Seq[Double]) = {
    import spark.implicits._
    vs.map(("g", _)).toDF("k", "value")
  }

  test("rankSumReport: dominance reads ±1 rank-biserial") {
    // ref entirely below cur → ref never larger → r_rb = −1
    val lo = ProfileDrift.rankSumReport(
      df1(Seq(1.0, 2.0)), df1(Seq(3.0)), "k", "value").collect().head
    assert(lo.getLong(3) == 0L)          // u2
    assert(lo.getDouble(5) == -1.0)      // r_rb
    // ref entirely above cur → r_rb = +1
    val hi = ProfileDrift.rankSumReport(
      df1(Seq(3.0)), df1(Seq(1.0, 2.0)), "k", "value").collect().head
    assert(hi.getLong(3) == 4L && hi.getDouble(5) == 1.0)
  }

  test("rankSumReport: single shared value ties out — r 0, z NULL") {
    val r = ProfileDrift.rankSumReport(
      df1(Seq(1.0)), df1(Seq(1.0)), "k", "value").collect().head
    assert(r.getLong(3) == 1L)           // u2 = 2·(0 + ½)
    assert(r.getLong(4) == 6L)           // tie3 = 2³−2
    assert(r.getDouble(5) == 0.0)        // r_rb
    assert(r.isNullAt(6))                // variance 0 → z NULL
  }

  test("rankSumReport: hand-computed z on a shifted sample") {
    // ref {1,2,3}, cur {2,3,4}: u2 per cell — v=2: 1·(2·1−1)=1,
    // v=3: 1·(2·2−1)=3 → u2=4; ties at 2 and 3: tie3 = 6+6 = 12
    // var = (9/12)·(7 − 12/30) = 4.95; z = (4−9)/(2·√4.95) = −1.123666
    val r = ProfileDrift.rankSumReport(
      df1(Seq(1.0, 2.0, 3.0)), df1(Seq(2.0, 3.0, 4.0)), "k", "value")
      .collect().head
    assert(r.getLong(3) == 4L && r.getLong(4) == 12L)
    assert(r.getDouble(6) == math.rint(
      (4.0 - 9.0) / (2.0 * math.sqrt(4.95)) * 1e6) / 1e6)
  }

  test("welchTReport: hand-computed t and Welch df") {
    val r = ProfileDrift.welchTReport(
      df1(Seq(1.0, 2.0, 3.0)), df1(Seq(2.0, 4.0, 6.0)), "k", "value")
      .collect().head
    assert(r.getLong(1) == 3L && r.getLong(2) == 3L)
    assert(r.getLong(5) == 1000000L)     // var{1000,2000,3000} milli²
    assert(r.getLong(6) == 4000000L)
    val se1 = 1000000.0 / 3; val se2 = 4000000.0 / 3; val se = se1 + se2
    assert(r.getDouble(7) == math.rint(
      (2000.0 - 4000.0) / math.sqrt(se) * 1e6) / 1e6)
    assert(r.getDouble(8) == math.rint(
      se * se / (se1 * se1 / 2 + se2 * se2 / 2) * 1e3) / 1e3)
  }

  test("welchTReport: identical sides → t = 0; constants → NULL") {
    val same = ProfileDrift.welchTReport(
      df1(Seq(1.0, 5.0)), df1(Seq(1.0, 5.0)), "k", "value").collect().head
    assert(same.getDouble(7) == 0.0)
    val const = ProfileDrift.welchTReport(
      df1(Seq(2.0, 2.0)), df1(Seq(3.0, 3.0)), "k", "value").collect().head
    assert(const.isNullAt(7) && const.isNullAt(8)) // both variances 0
  }

  test("association rules: downward-closure prune and pair floor bind") {
    import spark.implicits._
    val baskets = Seq(
      (1L, "a"), (1L, "b"),
      (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "b"), (3L, "c"),
      (4L, "c"), (4L, "d")).toDF("g", "it")
    val r = AssociationRules.rules(baskets, "g", "it", minSupport = 2)
      .collect()
    // d (support 1) pruned before the pair join; (a,c)/(b,c) fall at the
    // pair floor → only a↔b survives, in both directions
    assert(r.map(x => (x.getString(0), x.getString(1))).toSet ==
      Set(("a", "b"), ("b", "a")))
    val ab = r.find(_.getString(0) == "a").get
    assert(ab.getLong(2) == 4L)          // n_baskets
    assert(ab.getLong(3) == 3L && ab.getLong(4) == 3L) // n_ante, n_cons
    assert(ab.getLong(5) == 3L)          // n_both
    assert(ab.getLong(6) == 750000L)     // supp: 3e6 div 4
    assert(ab.getLong(7) == 1000000L)    // conf: 3e6 div 3
    assert(ab.getDouble(8) == 1.333333)  // lift 3·4/9
    graft.util.Caches.releaseAll()
  }

  test("association rules: mega-basket cap drops the basket whole") {
    import spark.implicits._
    val mega = (0 until 12).map(i => (9L, s"x$i"))
    val baskets = (Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b")) ++ mega)
      .toDF("g", "it")
    val r = AssociationRules.rules(baskets, "g", "it", minSupport = 2,
      maxGroupSize = Some(10L)).collect()
    assert(r.forall(_.getLong(2) == 2L)) // survivors only in n_baskets
    assert(r.map(_.getString(0)).toSet == Set("a", "b"))
    graft.util.Caches.releaseAll()
  }
}

/** Round-6 part twenty-five: item recs and trimmed-mean shift. */
class Round6xSpec extends AnyFunSuite {

  private def df1(vs: Seq[Double]) = {
    import spark.implicits._
    vs.map(("g", _)).toDF("k", "value")
  }

  test("itemSimilarityTopK: popularity normalization reorders raw counts") {
    import spark.implicits._
    // item 1 co-occurs twice with ubiquitous 9 (n=4) and once with
    // niche 5 (n=1): raw counts favor 9, cosine favors 5
    // cos(1,9) = 2/√(3·4) = 0.57735; cos(1,5) = 1/√3 = 0.57735 — tie!
    // adjust: 9 appears in 5 baskets → cos(1,9) = 2/√15 = 0.516398
    val baskets = Seq(
      (1L, 1L), (1L, 9L), (2L, 1L), (2L, 9L), (3L, 1L), (3L, 5L),
      (4L, 9L), (5L, 9L), (6L, 9L)).toDF("g", "it")
    val r = Graph.itemSimilarityTopK(baskets, "g", "it", 2)
      .filter(col("item") === 1L).collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(5L, 9L)) // niche first
    assert(r.head.getDouble(5) == 0.57735)           // 1/√3
    assert(r(1).getDouble(5) == 0.516398)            // 2/√15
    assert(r.map(_.getInt(6)).toSeq == Seq(1, 2))
    graft.util.Caches.releaseAll()
  }

  test("trimmedMeanShift: outlier moves the raw mean, not the trimmed") {
    // ref 1..20; cur = same but one wild 10⁶ replaces the 20.
    // 5% trim of n=20 drops 1 from each tail: the outlier vanishes.
    val ref = df1((1 to 20).map(_.toDouble))
    val cur = df1((1 to 19).map(_.toDouble) :+ 1e6)
    val r = ProfileDrift.trimmedMeanShift(ref, cur, "k", "value")
      .collect().head
    assert(r.getLong(3) == 1L && r.getLong(4) == 1L)  // t per side
    // ref kept 2..19 → mean 10.5; cur kept 2..19 too (1 and 1e6 cut)
    assert(r.getLong(5) == 10500000L)
    assert(r.getLong(6) == 10500000L)
    assert(r.getLong(7) == 0L)                        // robust: no shift
  }

  test("trimmedMeanShift: genuine location move survives trimming") {
    val ref = df1((1 to 20).map(_.toDouble))
    val cur = df1((1 to 20).map(_ + 3.0))
    val r = ProfileDrift.trimmedMeanShift(ref, cur, "k", "value")
      .collect().head
    assert(r.getLong(7) == 3000000L)
    // trim emptying: 1-row sides with 50-adjacent trim still behave
    val tiny = ProfileDrift.trimmedMeanShift(df1(Seq(5.0)), df1(Seq(7.0)),
      "k", "value", trimPct = 0).collect().head
    assert(tiny.getLong(7) == 2000000L)
  }
}

/** Round-8 part twelve specs: Wasserstein-1, Dunn's pairs. */
class Round8lSpec extends AnyFunSuite {

  test("wassersteinReport: a pure location shift reads its own size") {
    import spark.implicits._
    // cur = ref + 2.5 exactly: W1 of a shift IS the shift
    val ref = (1 to 50).map(i => ("a", (i % 10).toDouble))
    val cur = ref.map { case (g, v) => (g, v + 2.5) }
    val r = ProfileDrift.wassersteinReport(ref.toDF("g", "v"),
      cur.toDF("g", "v"), "g", "v").collect()(0)
    assert(r.getLong(3) === 2500000L, r.toString)
    graft.util.Caches.releaseAll()
  }

  test("wassersteinReport: identical halves read 0, empty side NULL") {
    import spark.implicits._
    val x = (1 to 40).map(i => ("a", (i % 7).toDouble)).toDF("g", "v")
    val r = ProfileDrift.wassersteinReport(x, x, "g", "v")
      .collect()(0)
    assert(r.getLong(3) === 0L, r.toString)
    val empty = x.filter(col("v") < -1)
    val r2 = ProfileDrift.wassersteinReport(x, empty, "g", "v")
      .collect()(0)
    assert(r2.isNullAt(3), r2.toString)
    graft.util.Caches.releaseAll()
  }

  test("wassersteinReport: W1 is symmetric in its two sides") {
    import spark.implicits._
    val x = (1 to 40).map(i => ("a", (i % 9).toDouble)).toDF("g", "v")
    val y = (1 to 25).map(i => ("a", (i % 4) * 3.0)).toDF("g", "v")
    val xy = ProfileDrift.wassersteinReport(x, y, "g", "v")
      .collect()(0).getLong(3)
    val yx = ProfileDrift.wassersteinReport(y, x, "g", "v")
      .collect()(0).getLong(3)
    assert(xy === yx && xy > 0, s"$xy $yx")
    graft.util.Caches.releaseAll()
  }

  test("dunnPairs: separated group flags against both others") {
    import spark.implicits._
    val df = ((1 to 30).map(i => ("lo", (i % 5).toDouble)) ++
      (1 to 30).map(i => ("mid", (i % 5).toDouble)) ++
      (1 to 30).map(i => ("hi", 100 + (i % 5).toDouble)))
      .toDF("g", "v")
    val out = Correlate.dunnPairs(df, "g", "v").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(4)))
      .toMap
    // hi is completely separated; lo/mid are identical distributions
    assert(math.abs(out(("hi", "lo"))) > 5.0, out.toString)
    assert(math.abs(out(("hi", "mid"))) > 5.0, out.toString)
    assert(math.abs(out(("lo", "mid"))) < 0.5, out.toString)
    // mean-rank sign: hi has the larger ranks
    assert(out(("hi", "lo")) > 0.0)
    graft.util.Caches.releaseAll()
  }

  test("dunnPairs: hand-computed two-group z ties out to rank sums") {
    import spark.implicits._
    // groups {1,2,3} and {4,5,6}: mean ranks 2 and 5, N=6, no ties
    // var = (6*7/12)*(1/3+1/3) = 7/3, z = -3/sqrt(7/3) = -1.963961
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 4.0), ("b", 5.0), ("b", 6.0)).toDF("g", "v")
    val r = Correlate.dunnPairs(df, "g", "v").collect()(0)
    assert(r.getDouble(4) === -1.963961, r.toString)
    graft.util.Caches.releaseAll()
  }
}

package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{MomentState, ProfileConfig, Profiler}
import graft.operators.{AsOfJoin, CorpusStats, Dedup, Layout, Pipeline,
  RangeJoin, SketchRollup, Winsorize}
import graft.sources.Sources
import graft.storage.StorageMonitor
import graft.util.TempDirs.withTempDir

import TestSpark._

// Specs of the operators behind [[registry.ProfilingQueries]].
//
// Relational core and dataset profiling: grouped aggregates, joins
// (broadcast, salted, bloom, as-of, range, overlap), top-k and window
// shapes, per-column null/numeric/histogram profiles with their sketch
// fidelity twins, pivots, cubes and key-skew censuses.
//
// Each suite keeps its class name, so every test keeps the suite-qualified
// name it is reported under; the suites are grouped here by domain.

class AsOfJoinSpec extends AnyFunSuite {
  import spark.implicits._


  // trades (left) and quotes (right) for one symbol + one with no quotes
  private val trades = Seq(
    (1L, "A", ts("2026-01-01 10:00:05"), 100.0),
    (2L, "A", ts("2026-01-01 10:00:10"), 101.0),
    (3L, "A", ts("2026-01-01 10:00:00"), 99.0), // ties the first quote
    (4L, "B", ts("2026-01-01 10:00:07"), 50.0)) // key B has no quotes
    .toDF("trade_id", "sym", "t_ts", "t_price")

  private val quotes = Seq(
    ("A", ts("2026-01-01 10:00:00"), 10L),
    ("A", ts("2026-01-01 10:00:06"), 11L),
    ("A", ts("2026-01-01 10:00:10"), 12L))
    .toDF("sym", "q_ts", "q_id")

  private def run(joinType: String, inclusive: Boolean): Map[Long, Any] =
    AsOfJoin.asofLast(trades, quotes, Seq("sym"), "t_ts", "q_ts",
      Seq("q_id"), joinType, inclusive)
      .collect().map(r => r.getLong(0) -> r.get(4)).toMap

  test("inclusive inner: each trade gets the latest quote at-or-before it") {
    val m = run("inner", inclusive = true)
    assert(m == Map(1L -> 10L, 2L -> 12L, 3L -> 10L)) // trade 4: no match, dropped
  }

  test("strict mode excludes equal-timestamp right rows") {
    val m = run("inner", inclusive = false)
    // trade 3 (10:00:00) no longer sees the 10:00:00 quote → dropped;
    // trade 2 (10:00:10) steps back to the 10:00:06 quote
    assert(m == Map(1L -> 10L, 2L -> 11L))
  }

  test("left join keeps unmatched left rows with null payload") {
    val m = run("left", inclusive = true)
    assert(m.keySet == Set(1L, 2L, 3L, 4L))
    assert(m(4L) == null)
  }

  test("fixture scale: every quadrant matches the brute-force range-join reference") {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "event_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts")
      .agg(max("event_id").as("p_event"))

    def brute(inclusive: Boolean, left: Boolean): Set[(Long, Long, Any)] = {
      val cmp = if (inclusive) col("c.ts") >= col("p.ts") else col("c.ts") > col("p.ts")
      val joined = clicks.as("c").join(purchases.as("p"),
        col("c.user_id") === col("p.user_id") && cmp,
        if (left) "left" else "inner")
      val w = Window.partitionBy(col("c.user_id"), col("c.event_id"))
        .orderBy(col("p.ts").desc)
      joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("c.user_id"), col("c.event_id"), col("p.p_event"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSet
    }
    def asof(inclusive: Boolean, left: Boolean): Set[(Long, Long, Any)] =
      AsOfJoin.asofLast(clicks, purchases, Seq("user_id"), "ts", "ts",
        Seq("p_event"), if (left) "left" else "inner", inclusive)
        .select("user_id", "event_id", "p_event")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSet

    for (inclusive <- Seq(true, false); left <- Seq(true, false)) {
      val b = brute(inclusive, left)
      val a = asof(inclusive, left)
      assert(a == b, s"quadrant (inclusive=$inclusive, left=$left) diverged: " +
        s"asof=${a.size} rows, brute=${b.size} rows")
      assert(a.nonEmpty, "fixture quadrant should produce rows")
    }
  }

  test("a legitimately-null payload value on a matched row survives inner mode") {
    val r = Seq(("A", ts("2026-01-01 10:00:00"), Option.empty[Long]))
      .toDF("sym", "q_ts", "q_id")
    val out = AsOfJoin.asofLast(trades.filter(col("sym") === "A"), r,
      Seq("sym"), "t_ts", "q_ts", Seq("q_id"))
    assert(out.count() == 3) // matched (struct non-null), payload field null
    assert(out.filter(col("q_id").isNull).count() == 3)
  }
}

class ProfilerSpec extends AnyFunSuite {
  import spark.implicits._

  private def profileMap(df: org.apache.spark.sql.DataFrame,
      cfg: ProfileConfig = ProfileConfig()): Map[(String, String), Option[Double]] =
    Profiler.numericProfile(df, cfg).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap

  test("numericMoments equals the moments slice of the full profile (both modes)") {
    val df = Tables.load(spark, sf, "lineitem")
    for (exact <- Seq(true, false)) {
      val cfg = ProfileConfig(exact = exact)
      val moments = Profiler.numericMoments(df, cfg).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      val slice = profileMap(df, cfg)
        .filter { case ((_, metric), _) => Profiler.momentMetrics.contains(metric) }
      assert(moments == slice, s"moments tier diverged from full profile (exact=$exact)")
    }
  }

  test("numericProfile: stats on a known column") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    val m = profileMap(df)
    assert(m(("x", "count")) == Some(4.0))
    assert(m(("x", "null_count")) == Some(0.0))
    assert(m(("x", "min")) == Some(1.0))
    assert(m(("x", "max")) == Some(4.0))
    assert(m(("x", "mean")) == Some(2.5))
    assert(m(("x", "median")) == Some(2.5)) // interpolated, pandas/DuckDB style
    assert(m(("x", "p25")) == Some(1.75))
    assert(m(("x", "distinct_count")) == Some(4.0))
    // sample stddev (ddof=1) like pandas .std()
    assert(math.abs(m(("x", "stddev")).get - 1.2910) < 1e-4)
  }

  test("numericProfile: NaN is treated as NULL (pandas skipna parity)") {
    val df = Seq(1.0, Double.NaN, 3.0).toDF("x")
    val m = profileMap(df)
    assert(m(("x", "count")) == Some(2.0))
    assert(m(("x", "null_count")) == Some(1.0))
    assert(m(("x", "mean")) == Some(2.0))
    assert(m(("x", "distinct_count")) == Some(2.0))
  }

  test("numericProfile: all-null and empty inputs keep the full metric grid") {
    val allNull = Seq[Option[Double]](None, None).toDF("x")
    val m = profileMap(allNull)
    assert(m(("x", "count")) == Some(0.0))
    assert(m(("x", "null_count")) == Some(2.0))
    assert(m(("x", "min")) == None)

    val empty = Seq.empty[Double].toDF("x")
    val me = profileMap(empty)
    assert(me.size == Profiler.numericMetrics.size) // grid is total
    assert(me(("x", "count")) == Some(0.0))
    assert(me(("x", "median")) == None)
  }

  test("numericProfile: approx mode emits the same metric grid") {
    val df = Seq(1.0, 2.0, 3.0).toDF("x")
    val m = profileMap(df, ProfileConfig(exact = false))
    assert(m.keySet == Profiler.numericMetrics.map(("x", _)).toSet)
    assert(m(("x", "distinct_count")) == Some(3.0))
  }

  test("numericProfile: invariants hold on mixed data") {
    val df = Seq((1, 10.5), (2, -3.0), (3, 7.25), (4, -3.0), (5, 0.0))
      .toDF("id", "v")
    val m = profileMap(df)
    for (c <- Seq("id", "v")) {
      val cnt = m((c, "count")).get + m((c, "null_count")).get
      assert(cnt == 5.0)
      assert(m((c, "min")).get <= m((c, "median")).get)
      assert(m((c, "median")).get <= m((c, "max")).get)
      assert(m((c, "p25")).get <= m((c, "p75")).get)
    }
  }

  test("nullCounts counts NULL and NaN for floating columns only") {
    val df = Seq(
      (Some(1.0), Some("a")),
      (Some(Double.NaN), None),
      (None, Some("c"))).toDF("d", "s")
    val r = Profiler.nullCounts(df).collect().head
    assert(r.getAs[Long]("null_d") == 2L) // NULL + NaN
    assert(r.getAs[Long]("null_s") == 1L)
  }

  test("duplicateStats") {
    val df = Seq((1, "a"), (1, "a"), (2, "b"), (3, "c"), (3, "c"), (3, "c"))
      .toDF("k", "v")
    val r = Profiler.duplicateStats(df, Seq("k", "v")).collect().head
    assert(r.getAs[Long]("row_count") == 6L)
    assert(r.getAs[Long]("distinct_count") == 3L)
    assert(r.getAs[Long]("duplicate_count") == 3L)
    assert(r.getAs[Long]("duplicate_groups") == 2L)
  }

  test("numericHistogram: buckets cover the range, max lands in last bucket") {
    val df = (0 until 100).map(_.toDouble).toDF("x")
    val h = Profiler.numericHistogram(df, "x", 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h.keySet == (0L until 10L).toSet)
    assert(h.values.sum == 100L)
    assert(h(9L) == 10L) // 90..99, with 99 (the max) in bucket 9 not 10
  }

  test("numericHistogram: constant column lands wholly in bucket 0") {
    val df = Seq(5.0, 5.0, 5.0).toDF("x")
    val h = Profiler.numericHistogram(df, "x", 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(h.toSeq == Seq(0L -> 3L)) // hi == lo: no NaN buckets from 0/0
  }

  test("categoricalHistogram: ordered by count desc then value") {
    val df = Seq("a", "b", "b", "c", "c").toDF("x")
    val h = Profiler.categoricalHistogram(df, "x", 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(h.toSeq == Seq(("b", 2L), ("c", 2L), ("a", 1L)))
  }
}

class RangeJoinSpec extends AnyFunSuite {
  import spark.implicits._

  private val points = Seq(
    ("u1", 5L), ("u1", 10L), ("u1", 19L), ("u1", 20L), ("u1", 35L),
    ("u2", 10L)) // same value, different key
    .toDF("k", "v")

  private val intervals = Seq(
    ("u1", "a", 10L, 20L),  // [10, 20): hits 10, 19; NOT 20 (exclusive) or 5
    ("u1", "b", 0L, 40L),   // spans many bins: hits all u1 points
    ("u1", "c", 25L, 25L),  // empty interval: hits nothing
    ("u2", "d", 0L, 15L))   // other key: hits only u2's 10
    .toDF("k", "name", "lo", "hi")

  private def run(binWidth: Long): Set[(String, Long, String)] =
    RangeJoin.binnedRangeJoin(points, intervals, Seq("k"), "v", "lo", "hi", binWidth)
      .select("k", "v", "name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet

  private val expected = Set(
    ("u1", 10L, "a"), ("u1", 19L, "a"),
    ("u1", 5L, "b"), ("u1", 10L, "b"), ("u1", 19L, "b"),
    ("u1", 20L, "b"), ("u1", 35L, "b"),
    ("u2", 10L, "d"))

  test("lo inclusive, hi exclusive, keyed; empty intervals match nothing") {
    assert(run(binWidth = 10) == expected)
  }

  test("result is bin-width independent (no duplicate pairs across bins)") {
    // an interval spanning N bins must still produce each pair exactly once
    for (w <- Seq(1L, 3L, 7L, 100L)) {
      val r = RangeJoin.binnedRangeJoin(points, intervals, Seq("k"),
        "v", "lo", "hi", w)
        .select("k", "v", "name")
        .collect().map(x => (x.getString(0), x.getLong(1), x.getString(2)))
      assert(r.length == r.toSet.size, s"duplicates at binWidth=$w")
      assert(r.toSet == expected, s"wrong pairs at binWidth=$w")
    }
  }

  test("adaptive width (median interval width) yields the identical result") {
    val auto = RangeJoin.binnedRangeJoin(points, intervals, Seq("k"), "v", "lo", "hi")
      .select("k", "v", "name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(auto == expected)
  }

  test("adaptive width survives degenerate inputs (empty / zero-width intervals)") {
    val none = intervals.filter(col("name") === "zzz") // empty relation
    assert(RangeJoin.binnedRangeJoin(points, none, Seq("k"), "v", "lo", "hi")
      .count() == 0)
    val zero = Seq(("u1", "z", 10L, 10L)).toDF("k", "name", "lo", "hi")
    assert(RangeJoin.binnedRangeJoin(points, zero, Seq("k"), "v", "lo", "hi")
      .count() == 0) // median width 0 clamps to 1, empty interval matches nothing
  }

  test("plans as an equi-join on (key, bin), not a nested-loop product") {
    val p = RangeJoin.binnedRangeJoin(points, intervals, Seq("k"),
      "v", "lo", "hi", 10).queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell back to a product join:\n$p")
  }
}

/** Part-five operators: interval-overlap join, vocabulary coverage,
  * filter funnel, as-of tolerance, winsorized stats, containment pairs.
  */
class Round5eSpec extends AnyFunSuite {
  import spark.implicits._

  // ------------------------------------------------------------------
  // RangeJoin.overlapJoin
  // ------------------------------------------------------------------

  test("overlapJoin: hand-computed pairs, duplicate-free across shared bins") {
    // left interval [0, 100) spans many bins with w=10; right [95, 105)
    // overlaps it in bin 9 only by the canonical rule. [200, 210) is
    // disjoint. [50, 60) is fully inside the left interval.
    val l = Seq((1L, 0L, 100L), (2L, 300L, 310L))
      .toDF("l_id", "l_lo", "l_hi")
    val r = Seq((10L, 95L, 105L), (11L, 200L, 210L), (12L, 50L, 60L))
      .toDF("r_id", "r_lo", "r_hi")
    val got = RangeJoin.overlapJoin(l, r, Seq.empty,
        "l_lo", "l_hi", "r_lo", "r_hi", binWidth = 10)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (1L, 12L)))
  }

  test("overlapJoin: result equals the brute-force inequality join for any bin width") {
    val l = (0L until 40L).map(i => (i, i * 7 % 50, i * 7 % 50 + 1 + i % 13))
      .toDF("l_id", "l_lo", "l_hi")
    val r = (0L until 40L).map(i => (i, i * 11 % 60, i * 11 % 60 + 1 + i % 9))
      .toDF("r_id", "r_lo", "r_hi")
    val brute = l.join(r, col("l_lo") < col("r_hi") && col("r_lo") < col("l_hi"))
      .select("l_id", "r_id").as[(Long, Long)].collect().sorted.toSeq
    for (w <- Seq(1L, 3L, 10L, 100L)) {
      val got = RangeJoin.overlapJoin(l, r, Seq.empty,
          "l_lo", "l_hi", "r_lo", "r_hi", binWidth = w)
        .select("l_id", "r_id").as[(Long, Long)].collect().sorted.toSeq
      assert(got == brute, s"binWidth=$w")
    }
  }

  test("overlapJoin: empty intervals match nothing; keys separate pairs") {
    val l = Seq(("a", 1L, 0L, 10L), ("a", 2L, 5L, 5L), ("b", 3L, 0L, 10L))
      .toDF("k", "l_id", "l_lo", "l_hi")
    val r = Seq(("a", 10L, 5L, 15L), ("b", 11L, 20L, 30L))
      .toDF("k", "r_id", "r_lo", "r_hi")
    val got = RangeJoin.overlapJoin(l, r, Seq("k"),
        "l_lo", "l_hi", "r_lo", "r_hi", binWidth = 4)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    // empty [5,5) matches nothing; cross-key overlap (3,10) is excluded
    assert(got == Set((1L, 10L)))
  }

  // ------------------------------------------------------------------
  // AsOfJoin tolerance
  // ------------------------------------------------------------------


  test("asofLast tolerance: stale matches invalidated, never re-searched") {
    val left = Seq((1L, 100L, ts("2024-01-01 10:00:00")),
      (1L, 101L, ts("2024-01-01 13:00:00")))
      .toDF("user_id", "event_id", "ts")
    val right = Seq((1L, ts("2024-01-01 09:30:00"), "early"),
      (1L, ts("2024-01-01 09:45:00"), "late"))
      .toDF("user_id", "ts", "tag")
    // unbounded: both left rows match the LATEST preceding right (09:45)
    val unbounded = AsOfJoin.asofLast(left, right, Seq("user_id"),
      "ts", "ts", Seq("tag"))
    assert(unbounded.select("event_id", "tag").as[(Long, String)]
      .collect().toSet == Set((100L, "late"), (101L, "late")))
    // 1 h tolerance: 10:00 is 15 min past 09:45 (keep); 13:00 is stale.
    // Crucially the stale row does NOT fall back to 09:30 — tolerance
    // invalidates, it never reaches further back.
    val inner = AsOfJoin.asofLast(left, right, Seq("user_id"),
      "ts", "ts", Seq("tag"), maxGapSeconds = Some(3600L))
    assert(inner.select("event_id", "tag").as[(Long, String)]
      .collect().toSet == Set((100L, "late")))
    val leftJoin = AsOfJoin.asofLast(left, right, Seq("user_id"),
      "ts", "ts", Seq("tag"), joinType = "left", maxGapSeconds = Some(3600L))
    assert(leftJoin.select("event_id", "tag").as[(Long, Option[String])]
      .collect().toSet == Set((100L, Some("late")), (101L, None)))
  }

  test("asofLast tolerance: huge gap reduces to the unbounded join on fixture data") {
    val ev = Tables.load(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "event_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("event_id").as("p_event"))
    def run(gap: Option[Long]) =
      AsOfJoin.asofLast(clicks, purchases, Seq("user_id"), "ts", "ts",
        Seq("p_event"), maxGapSeconds = gap)
        .select("event_id", "p_event").as[(Long, Long)].collect().toSet
    assert(run(Some(100L * 365 * 86400)) == run(None))
    // and a zero gap keeps only exact-timestamp matches (a subset)
    assert(run(Some(0L)).subsetOf(run(None)))
  }

  // ------------------------------------------------------------------
  // CorpusStats.vocabCoverage
  // ------------------------------------------------------------------

  test("vocabCoverage: hand-computed OOV against a top-2 vocabulary") {
    val docs = Seq(
      (1L, "s1", "aa aa bb cc"), // vocab {aa,bb}: 1 OOV of 4
      (2L, "s2", "bb bb aa dd dd")) // 2 OOV of 5
      .toDF("doc_id", "source", "text")
    // counts: aa=3, bb=3, cc=1, dd=2 → top-2 (count desc, term asc) = aa, bb
    val rows = CorpusStats.vocabCoverage(docs, 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set(("s1", 4L, 1L), ("s2", 5L, 2L)))
  }

  test("vocabCoverage: full-vocabulary size gives zero OOV everywhere") {
    val docs = Tables.load(spark, sf, "documents")
    val report = CorpusStats.vocabCoverage(docs, 100000)
    assert(report.agg(sum("n_oov")).collect().head.getLong(0) == 0L)
  }

  // ------------------------------------------------------------------
  // Pipeline.filterFunnel
  // ------------------------------------------------------------------

  test("filterFunnel: hand-computed cascade accounting") {
    val df = Seq((1, 10), (2, 20), (3, 30), (4, 40)).toDF("id", "v")
    val got = Pipeline.filterFunnel(df, Seq(
        "ge20" -> (col("v") >= 20),
        "le30" -> (col("v") <= 30)))
      .orderBy("stage")
      .as[(Int, String, Long, Long)].collect().toSeq
    assert(got == Seq((0, "input", 4L, 0L), (1, "ge20", 3L, 1L),
      (2, "le30", 2L, 1L)))
  }

  test("filterFunnel: passes are monotone non-increasing and drops reconcile") {
    val docs = Tables.load(spark, sf, "documents")
    val rows = Pipeline.filterFunnel(docs, Seq(
        "chars" -> col("n_chars").between(100, 500),
        "lang" -> col("lang").isin("en", "de"),
        "even" -> (col("doc_id") % 2 === 0)))
      .orderBy("stage").collect()
    val passes = rows.map(_.getLong(2))
    assert(passes.zip(passes.tail).forall { case (a, b) => a >= b })
    rows.sliding(2).foreach { case Array(prev, cur) =>
      assert(cur.getLong(3) == prev.getLong(2) - cur.getLong(2))
    }
  }

  // ------------------------------------------------------------------
  // Winsorize
  // ------------------------------------------------------------------

  test("winsorizedStats: hand-computed clamp on a known distribution") {
    // g: values 0..10 plus an outlier 1000. p05/p95 over 12 values:
    // pos_lo = 11*0.05 = 0.55 → 0 + 0.55*(1-0) = 0.55
    // pos_hi = 11*0.95 = 10.45 → 10 + 0.45*(1000-10) = 455.5
    val df = ((0 to 10).map(v => ("g", v)) :+ (("g", 1000))).toDF("grp", "v")
    val row = Winsorize.winsorizedStats(df, "grp", "v", 0.05, 0.95).collect().head
    assert(row.getLong(row.fieldIndex("n")) == 12L)
    assert(math.abs(row.getDouble(row.fieldIndex("lo")) - 0.55) < 1e-9)
    assert(math.abs(row.getDouble(row.fieldIndex("hi")) - 455.5) < 1e-9)
    // clamped sum: 0.55 + 1..10 (=55) + 455.5 = 511.05 → micro 511050000
    assert(row.getLong(row.fieldIndex("wsum_micro")) == 511050000L)
  }

  test("winsorizedStats: approx path bounds within tolerance of exact") {
    val docs = Tables.load(spark, sf, "documents")
    val exact = Winsorize.winsorizedStats(docs, "source", "n_chars", 0.05, 0.95)
      .select("source", "lo", "hi").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = Winsorize.winsorizedStats(docs, "source", "n_chars",
        0.05, 0.95, exact = false)
      .select("source", "lo", "hi").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (s, (lo, hi)) =>
      val (alo, ahi) = approx(s)
      // approx_percentile returns an actual value near the percentile;
      // with ~25 docs per source the neighbor-value slack is wide, but
      // bounds must stay inside the group's value range and ordered
      assert(alo <= ahi)
      assert(math.abs(alo - lo) <= (hi - lo))
      assert(math.abs(ahi - hi) <= (hi - lo))
    }
  }

  test("winsorized mean is outlier-resistant where the raw mean is not") {
    val base = (0 until 100).map(v => ("g", v.toDouble))
    val spiked = base :+ (("g", 1e9))
    val df = spiked.toDF("grp", "v")
    val w = Winsorize.winsorizedStats(df, "grp", "v", 0.05, 0.95)
      .collect().head
    val wmean = w.getDouble(w.fieldIndex("wmean"))
    val rawMean = df.agg(avg("v")).collect().head.getDouble(0)
    assert(rawMean > 1e6) // destroyed by the outlier
    assert(wmean < 100) // robust
  }

  // ------------------------------------------------------------------
  // Dedup.containmentPairs
  // ------------------------------------------------------------------

  test("containmentPairs: a quoted subset scores ~1 from the short side, low Jaccard") {
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val short = (1 to 8).map(i => s"w$i").mkString(" ") // bigrams subset of long
    val docs = Seq((1L, "en", long), (2L, "en", short), (3L, "en",
      (100 to 140).map(i => s"x$i").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val rows = Dedup.containmentPairs(docs, "lang", 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(r.fieldIndex("cont_a")), r.getDouble(r.fieldIndex("cont_b")))))
      .toMap
    assert(rows.keySet == Set((1L, 2L)))
    val (contLong, contShort) = rows((1L, 2L))
    assert(contShort == 1.0) // all of short's bigrams are inside long
    assert(contLong < 0.4) // the long side is mostly unshared
    // symmetric Jaccard would be ~7/39 ≈ 0.18 — below any useful cut;
    // containment is exactly the axis that catches this pair
  }

  test("containmentPairs: consistency with jaccardPairs intersections") {
    val docs = Tables.load(spark, sf, "documents")
    val cont = Dedup.containmentPairs(docs, "lang", 0.5)
      .select("doc_a", "doc_b", "cont_a", "cont_b").collect()
    cont.foreach { r =>
      assert(r.getDouble(2) <= 1.0 && r.getDouble(3) <= 1.0)
      assert(math.max(r.getDouble(2), r.getDouble(3)) >= 0.5)
    }
  }
}

/** Round-7 part nine: mergeable moment profiles. */
class Round7nSpec extends AnyFunSuite {

  test("moment states merge exactly: any split, any order ≡ direct") {
    val ev = Tables.load(spark, sf, "events")
      .select("event_id", "user_id", "value")
    val direct = MomentState.report(MomentState.state(ev))
      .collect().map(_.toSeq).toSeq
    // three uneven slices, merged in two different orders
    val s1 = MomentState.state(ev.filter(col("event_id") % 5 === 0))
    val s2 = MomentState.state(ev.filter(col("event_id") % 5 === 1))
    val s3 = MomentState.state(ev.filter(col("event_id") % 5 >= 2))
    val m123 = MomentState.report(MomentState.merge(Seq(s1, s2, s3)))
      .collect().map(_.toSeq).toSeq
    val m312 = MomentState.report(MomentState.merge(Seq(s3, s1, s2)))
      .collect().map(_.toSeq).toSeq
    assert(direct.nonEmpty && m123 == direct && m312 == direct)
    // merging a merged state with a fresh one also lands exactly
    val nested = MomentState.report(MomentState.merge(Seq(
      MomentState.merge(Seq(s1, s2)), s3))).collect().map(_.toSeq).toSeq
    assert(nested == direct)
  }

  test("NaN counts as null; null never reaches min/max/sums") {
    import spark.implicits._
    val df = Seq(Some(1.0), Some(3.0), None, Some(Double.NaN))
      .toDF("value")
    val r = MomentState.report(MomentState.state(df)).collect().head
    assert(r.getLong(1) == 2L)           // n: two real values
    assert(r.getLong(2) == 2L)           // null + NaN both count null
    assert(r.getLong(3) == 1000000L && r.getLong(4) == 3000000L)
    assert(r.getDouble(5) == 2.0)        // mean
    assert(r.getDouble(6) == 1.414214)   // stddev ddof=1 of {1,3}
  }
}

/** Round-7 part nineteen: layout clustering advisor + validated
  * semi-structured reads.
  */
class Round7ySpec extends AnyFunSuite {

  test("clusteringReport: sorted column prunes, scattered column doesn't") {
    import spark.implicits._
    // repartitionByRange on x gives disjoint x ranges per partition;
    // y is uncorrelated so every partition spans the whole y domain
    val df = (0 until 4000).map(i => (i.toLong, (i * 2654435761L) % 1000))
      .toDF("x", "y")
      .repartitionByRange(8, col("x"))
    val r = Layout.clusteringReport(df, Seq("x", "y")).collect()
      .map(row => row.getString(0) -> row.getLong(4)).toMap
    assert(r("x") == 0L, s"range-partitioned x must not overlap: $r")
    assert(r("y") > 900000L, s"scattered y must overlap nearly always: $r")
    graft.util.Caches.releaseAll()
  }

  /** Reference O(K²) pair-join overlap count — the implementation the
    * sweep replaced, kept HERE as the equivalence oracle.
    */
  private def pairJoinReport(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): Map[String, (Long, Long, Long)] = {
    val aggCols = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(
        min(col(c)).cast("long").as(s"mn_$c"),
        max(col(c)).cast("long").as(s"mx_$c")))
    val parts = df.withColumn("__pid", spark_partition_id())
      .groupBy("__pid").agg(aggCols.head, aggCols.tail: _*).cache()
    val out = cols.map { c =>
      val a = parts.select(col("__pid").as("pa"),
        col(s"mn_$c").as("amn"), col(s"mx_$c").as("amx"))
      val b = parts.select(col("__pid").as("pb"),
        col(s"mn_$c").as("bmn"), col(s"mx_$c").as("bmx"))
      val r = a.join(b, col("pa") < col("pb"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("amn") <= col("bmx") &&
            col("bmn") <= col("amx"), 1L).otherwise(0L)).as("ov"))
        .collect()(0)
      val k = parts.count()
      c -> (k, r.getLong(0), r.getLong(1))
    }.toMap
    parts.unpersist()
    out
  }

  test("clusteringReport sweep == pair join on both layout shapes") {
    import spark.implicits._
    val base = (0 until 4000).map(i =>
      (i.toLong, (i * 2654435761L) % 1000))
    // layout A: range-partitioned x (disjoint), scattered y (overlaps)
    // layout B: round-robin — BOTH columns overlap across partitions
    val layouts = Seq(
      base.toDF("x", "y").repartitionByRange(8, col("x")),
      base.toDF("x", "y").repartition(8))
    for (df <- layouts) {
      val exp = pairJoinReport(df, Seq("x", "y"))
      val got = Layout.clusteringReport(df, Seq("x", "y")).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(got == exp, s"sweep=$got pairJoin=$exp")
      graft.util.Caches.releaseAll()
    }
  }

  test("clusteringReport: null-bounds partitions count pairs, not overlaps") {
    import spark.implicits._
    // one partition carries only null y values: it must stay in the
    // pair denominator but never the overlap numerator (the pair
    // join's null-condition otherwise(0) contract)
    val df = (0 until 100).map { i =>
      val y: java.lang.Long = if (i % 4 == 3) null
        else java.lang.Long.valueOf(i.toLong % 7)
      (i.toLong, y, i % 4)
    }.toDF("x", "y", "p").repartitionByRange(4, col("p"))
    val exp = pairJoinReport(df, Seq("y"))
    val got = Layout.clusteringReport(df, Seq("y")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == exp, s"sweep=$got pairJoin=$exp")
    graft.util.Caches.releaseAll()
  }

  test("readValidated: malformed rows land in _corrupt_record") {
    withTempDir("jsonl") { tmp =>
      val dir = new java.io.File(tmp)
      val f = new java.io.File(dir, "part.json")
      val w = new java.io.PrintWriter(f)
      w.println("""{"id": 1, "name": "ok"}""")
      w.println("""{"id": "not a number", "name": "bad type"}""")
      w.println("""not json at all""")
      w.println("""{"id": 3, "name": "fine"}""")
      w.close()
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("name", StringType)))
      val df = Sources.readValidated(spark, f.getPath, schema).cache()
      val clean = df.filter(col("_corrupt_record").isNull)
      val bad = df.filter(col("_corrupt_record").isNotNull)
      assert(clean.count() == 2L)
      assert(clean.select("id").collect().map(_.getLong(0)).sorted
        .sameElements(Array(1L, 3L)))
      assert(bad.count() == 2L)
      // the raw malformed text is preserved for quarantine
      assert(bad.collect().forall(r =>
        r.getAs[String]("_corrupt_record").nonEmpty))
      df.unpersist()
    }
  }
}

/** Round-10 part three: PROOF that AQE's skew-join split actually
  * engages on the q04 join shape with a planted hot key — until now the
  * config was set (Bench, SparkEntry) and the salted fallback existed
  * (util.SkewJoin), but nothing demonstrated the runtime re-plan fires
  * and what it buys. The spec plants one key carrying ~83% of the fact
  * side, runs the same shuffle join with the skew optimizer off and on,
  * and checks three things: the final adaptive plan carries the
  * isSkewJoin flag, the listener-measured max/median task shuffle-read
  * ratio collapses, and row counts agree (the split changes the
  * schedule, never the relation). The salted fallback is held to the
  * same relation as the differential.
  */
class Round10cSkewSpec extends AnyFunSuite {

  /** Shuffle-read bytes of every shuffle-reading task during `body` —
    * the per-task load balance, measured, not inferred from the plan.
    */
  private def taskReadBytes(body: => Unit): Seq[Long] =
    tasksDuring(body).map(_.shuffleReadMetrics.totalBytesRead).filter(_ > 0)

  /** left: 600k rows, key 0 carries 500k (~83%); the hash payload
    * defeats shuffle compression enough for AQE's byte thresholds to
    * see the skew. right: one row per key — broadcast is disabled in
    * the test confs, so this forces the q04 shuffle-join shape.
    */
  private def planted() = {
    // 32 map partitions: AQE splits a skewed reduce partition at
    // map-output granularity, so few map tasks would cap the split at
    // few chunks no matter the advisory size
    val left = spark.range(0, 600000, 1, 32).select(
      when(col("id") < 500000, 0L)
        .otherwise(pmod(col("id"), lit(999L)) + 1).as("k"),
      hash(col("id")).as("payload"))
    val right = spark.range(1000)
      .select(col("id").as("k"), (col("id") * 7).as("dim"))
    (left, right)
  }

  private def flat(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
    case q: QueryStageExec => flat(q.plan)
    case n => n +: (n.children ++ n.subqueries).flatMap(flat)
  }

  private def hasSkewSplit(p: SparkPlan): Boolean = flat(p).exists {
    case j: SortMergeJoinExec => j.isSkewJoin
    case j: ShuffledHashJoinExec => j.isSkewJoin
    case _ => false
  }

  private def ratio(reads: Seq[Long]): Double = {
    val s = reads.sorted
    s.max.toDouble / math.max(1L, s(s.size / 2)).toDouble
  }

  test("AQE skew-join: the planted-skew q04 shape splits the hot " +
    "partition (isSkewJoin in the final plan, task balance restored)") {
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128k") {
      val (left, right) = planted()

      // skew optimizer OFF: the hot key lands on one reduce task
      val qeOff = withConf(
        "spark.sql.adaptive.skewJoin.enabled" -> "false") {
        left.join(right, Seq("k")).queryExecution
      }
      var offCount = 0L
      val offReads = taskReadBytes { offCount = withConf(
        "spark.sql.adaptive.skewJoin.enabled" -> "false") {
        qeOff.toRdd.count() } }
      assert(!hasSkewSplit(qeOff.executedPlan),
        "control run must not skew-split")

      // skew optimizer ON: same relation, re-planned at runtime
      val qeOn = left.join(right, Seq("k")).queryExecution
      var onCount = 0L
      val onReads = taskReadBytes { onCount = withConf(
        "spark.sql.adaptive.skewJoin.enabled" -> "true") {
        qeOn.toRdd.count() } }

      assert(offCount === 600000L && onCount === offCount,
        "the split must not change the relation")
      assert(hasSkewSplit(qeOn.executedPlan),
        "expected isSkewJoin in the final adaptive plan:\n" +
          qeOn.executedPlan.toString.take(4000))

      // measured balance: one hot task vs many advisory-sized ones
      val (rOff, rOn) = (ratio(offReads), ratio(onReads))
      info(f"max/median task shuffle-read: off=$rOff%.1f " +
        f"(${offReads.size} tasks) on=$rOn%.1f (${onReads.size} tasks)")
      assert(offReads.max > 4 * onReads.max,
        s"hot task must shrink: off max=${offReads.max} on max=${onReads.max}")
      assert(rOff > 3 * rOn,
        f"balance must improve: off=$rOff%.1f on=$rOn%.1f")
    }
    graft.util.Caches.releaseAll()
  }

  test("salted fallback: saltedInnerJoin returns exactly the plain " +
    "join's relation on the planted-skew fixture") {
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val (left, right) = planted()
      val salted = graft.util.SkewJoin
        .saltedInnerJoin(left, right, Seq("k"), salts = 8)
      assert(salted.count() === 600000L)
      // aggregate equality (sum of a join-dependent product) — cheaper
      // than a full anti-join and sensitive to any lost/duplicated row
      val a = salted.agg(sum(col("payload") * col("dim"))).collect()(0)
      val b = left.join(right, Seq("k"))
        .agg(sum(col("payload") * col("dim"))).collect()(0)
      assert(a === b)
    }
    graft.util.Caches.releaseAll()
  }
}

/** Round-10 part five: count-min-sketch laws (never-underestimate,
  * cell-wise mergeability, exactness when the width dominates the
  * vocabulary — including the BINDING regime the oracle can't hold)
  * and the compaction planner's next-fit arithmetic.
  */
class Round10fSpec extends AnyFunSuite {

  private def census(rows: (String, Long)*) = {
    import spark.implicits._
    rows.toDF("token", "cnt")
  }

  test("cmsCells: cells of a union are the cell-wise sum of the parts " +
    "(the mergeable-sketch law)") {
    val a = census(("alpha", 5L), ("beta", 3L))
    val b = census(("alpha", 2L), ("gamma", 7L))
    val all = census(("alpha", 7L), ("beta", 3L), ("gamma", 7L))
    def cells(df: org.apache.spark.sql.DataFrame) =
      SketchRollup.cmsCells(df, d = 3, w = 16).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = (cells(a).toSeq ++ cells(b).toSeq)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(merged === cells(all))
  }

  test("cms estimate never underestimates, and is exact when the " +
    "width dominates the vocabulary") {
    import spark.implicits._
    // 40 tokens: t0 x40, t1 x39, ... (distinct counts, total order)
    val docs = (0 until 40).flatMap(i => Seq.fill(40 - i)(s"t$i"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    // wide sketch: zero collisions possible to matter at w=8192
    val wide = SketchRollup
      .cmsTopTokensChecked(docs, d = 3, w = 8192, topK = 10).collect()
    assert(wide.length === 10)
    wide.foreach { r =>
      assert(r.getLong(3) === r.getLong(2), r.toString) // est == exact
      assert(r.getBoolean(4), r.toString)
    }
    assert(wide.map(_.getString(1)).toSeq ===
      (0 until 10).map(i => s"t$i"), "exact top-k order (count desc)")
    graft.util.Caches.releaseAll()
    // BINDING regime: w=4 forces collisions — est strictly >= exact
    // still holds for every candidate (the one-sided CMS guarantee)
    val tight = SketchRollup
      .cmsTopTokensChecked(docs, d = 2, w = 4, topK = 10).collect()
    tight.foreach { r =>
      assert(r.getLong(3) >= r.getLong(2),
        s"CMS underestimated: $r")
    }
    assert(tight.exists(r => r.getLong(3) > r.getLong(2)),
      "w=4 over 40 tokens must collide somewhere")
    graft.util.Caches.releaseAll()
  }

  test("cmsBucket is deterministic and seed-decorrelated") {
    import spark.implicits._
    val toks = (0 until 100).map(i => s"tok$i").toDF("token")
    val b = toks.select(
      SketchRollup.cmsBucket(col("token"), 0, 64).as("b0"),
      SketchRollup.cmsBucket(col("token"), 1, 64).as("b1")).collect()
    assert(b.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 64))
    // different seeds must not be the same permutation
    assert(b.count(r => r.getLong(0) === r.getLong(1)) < 20)
  }

  test("compactionPlan: next-fit cumulative-sum bucketing, hand case") {
    import spark.implicits._
    // name order a(600) b(500) c(400) d(300): cum_before 0/600/1100/1500
    // at target 1000 -> bins 0,0,1,1
    val inv = Seq(("a", 600L), ("b", 500L), ("c", 400L), ("d", 300L))
      .toDF("file_name", "size_bytes")
    val plan = StorageMonitor.compactionPlan(inv, 1000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4)))
    assert(plan.toSeq === Seq(
      (0L, 2L, 1100L, "a", "b"),
      (1L, 2L, 700L, "c", "d")), plan.mkString("; "))
  }

  test("compactionPlan: a file spanning several targets skips bin ids " +
    "and totals are conserved") {
    import spark.implicits._
    val inv = Seq(("a", 100L), ("big", 5000L), ("z", 100L))
      .toDF("file_name", "size_bytes")
    val plan = StorageMonitor.compactionPlan(inv, 1000L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // cum_before: a=0, big=100, z=5100 -> bins 0, 0, 5
    assert(plan === Map(0L -> (2L, 5100L), 5L -> (1L, 100L)),
      plan.toString)
    assert(plan.values.map(_._2).sum === 5200L, "byte conservation")
  }
}

/** Round-14: footer-stat histogram bounds (verdict task 6) and the
  * census-EM linkage rework (verdict task 1).
  *
  * The q41 contract: `numericHistograms(df, bins, Some(path))` must be
  * value-identical to the bounds-agg formulation on ANY input —
  * including NaN-bearing floats, all-NULL columns, and decimal columns
  * the footer path must refuse — while spending ONE Spark job instead
  * of two when the footers resolve.
  */
class Round14Spec extends AnyFunSuite {

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def histBoth(df: DataFrame, path: String): (Seq[String], Seq[String]) = {
    val footer = sortedRows(Profiler.numericHistograms(df, 10, Some(path)))
    val agg = sortedRows(Profiler.numericHistograms(df, 10, None))
    (footer, agg)
  }

  test("footer bounds ≡ agg bounds on the lineitem fixture, one job " +
    "instead of two") {
    val path = Tables.path(sf, "lineitem")
    val df = Tables.load(spark, sf, "lineitem")
    val (footer, agg) = histBoth(df, path)
    assert(footer === agg)
    assert(footer.nonEmpty)
    // job-count proof: the footer path must not run the bounds job
    val withFooter = TestSpark.jobsDuring {
      Profiler.numericHistograms(df, 10, Some(path)).collect() }
    val withAgg = TestSpark.jobsDuring {
      Profiler.numericHistograms(df, 10, None).collect() }
    assert(withFooter < withAgg,
      s"footer path ran $withFooter jobs, agg path $withAgg")
  }

  test("footer bounds: NaN floats, all-NULL column, and decimals all " +
    "fall back (or resolve) to the agg answer") {
    import spark.implicits._
    withTempDir("r14_footer") { dir =>
      val df0 = Seq(
        (1L, java.lang.Double.valueOf(1.5), java.lang.Double.valueOf(Double.NaN), "x"),
        (2L, java.lang.Double.valueOf(-3.5), null.asInstanceOf[java.lang.Double], "y"),
        (3L, java.lang.Double.valueOf(Double.NaN), null.asInstanceOf[java.lang.Double], "z"),
        (4L, java.lang.Double.valueOf(9.25), null.asInstanceOf[java.lang.Double], "w"))
        .toDF("k", "v_nan", "v_null", "s")
        .withColumn("d", col("k").cast("decimal(10,2)"))
      df0.write.mode("overwrite").parquet(dir)
      val df = spark.read.parquet(dir)
      val (footer, agg) = histBoth(df, dir)
      assert(footer === agg)
      // NaN-only + null column produces no rows for v_null; v_nan keeps
      // only its two non-NaN values (cleaned() parity)
      assert(!footer.exists(_.contains("v_null")))
    }
  }

  test("footerNumericBounds refuses a missing column instead of " +
    "reporting it all-NULL") {
    import spark.implicits._
    withTempDir("r14_missing") { dir =>
      Seq((1L, 2.0), (3L, 4.0)).toDF("a", "b")
        .write.mode("overwrite").parquet(dir)
      val got = graft.catalog.CatalogMonitor.footerNumericBounds(
        spark, dir, Seq("a" -> org.apache.spark.sql.types.LongType,
          "nope" -> org.apache.spark.sql.types.DoubleType))
      assert(got.isEmpty)
    }
  }

  test("census-EM emWeights ≡ the r13 per-pair formulation on a " +
    "synthetic pair relation (weighted integer sums are exact)") {
    import spark.implicits._
    // planted structure: two agreement fields, correlated matches
    val rng = new scala.util.Random(14)
    val pairs = Seq.fill(500) {
      val m = rng.nextDouble() < 0.3
      (if (m) rng.nextDouble() < 0.9 else rng.nextDouble() < 0.2,
        if (m) rng.nextDouble() < 0.8 else rng.nextDouble() < 0.1)
    }.toDF("f1", "f2")
    val out = graft.operators.Linkage.emWeights(pairs, Seq("f1", "f2"))
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(r.fieldIndex("n_pairs")) === 500L)
    val m1 = r.getLong(r.fieldIndex("f1_m_micro"))
    val u1 = r.getLong(r.fieldIndex("f1_u_micro"))
    assert(m1 > u1, s"EM failed to separate m=$m1 u=$u1")
    // n_matched bounded by n_pairs and parameters in [0, 1e6]
    assert(r.getLong(r.fieldIndex("n_matched")) <= 500L)
    assert(r.getLong(r.fieldIndex("lambda_micro")) > 0L)
    graft.util.Caches.releaseAll()
  }
}

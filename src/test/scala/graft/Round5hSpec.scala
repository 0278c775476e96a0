package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.{Anomaly, Constraints}
import graft.plans.PlanLeaves

/** Part-eight operators — the data-observability judgement layer:
  * declarative constraint suites, referential-integrity audits, and
  * robust (median/MAD) anomaly detection. Every case is hand-computed;
  * robust-z expectations re-derive from the documented formula
  * `2·dev2 / (1.4826·mad4)` with med2/mad4 themselves hand-derived.
  */
class Round5hSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // ------------------------------------------------------------------
  // Constraints.check
  // ------------------------------------------------------------------

  private lazy val toyOrders = Seq(
    (Option(1L), "O", "a-1", Option(100.0)),
    (Option(1L), "F", "b-2", Option(200.0)),
    (Option.empty[Long], "Z", "zz", Option(-5.0)),
    (Option(3L), "O", "c-3", Option.empty[Double])
  ).toDF("k", "st", "code", "v")

  test("check: every rule type counts its violations on a hand toy") {
    val got = Constraints.check(toyOrders, Seq(
      Constraints.complete("k"),
      Constraints.unique("k"),
      Constraints.inSet("st", Seq("O", "F")),
      Constraints.matches("code", "^[a-c]-"),
      Constraints.bounds("v", 0.0, 300.0)))
      .as[(String, String, Long, Long, Double, Boolean)].collect().toSeq
    assert(got == Seq(
      ("bounds", "v", 4L, 1L, 2500.0, false), // -5.0; the NULL is not charged
      ("complete", "k", 4L, 1L, 2500.0, false), // the null key
      ("in_set", "st", 4L, 1L, 2500.0, false), // "Z"
      ("pattern", "code", 4L, 1L, 2500.0, false), // "zz"
      // count(*)=4 − count(distinct k)=2: the duplicate AND the null row
      ("unique", "k", 4L, 2L, 5000.0, false)))
  }

  test("check: a clean suite reports passed=true with 0 bp") {
    val got = Constraints.check(toyOrders, Seq(
      Constraints.bounds("v", -10.0, 300.0),
      Constraints.inSet("st", Seq("O", "F", "Z"))))
      .as[(String, String, Long, Long, Double, Boolean)].collect().toSeq
    assert(got == Seq(
      ("bounds", "v", 4L, 0L, 0.0, true),
      ("in_set", "st", 4L, 0L, 0.0, true)))
  }

  test("check rejects an empty rule suite") {
    intercept[IllegalArgumentException] {
      Constraints.check(toyOrders, Nil)
    }
  }

  test("q109: the whole constraint suite runs in ONE scan of orders") {
    val p = SparkEntry.queries("q109_constraints")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"constraint suite re-scanned the table:\n$p")
  }

  // ------------------------------------------------------------------
  // Constraints.refIntegrity
  // ------------------------------------------------------------------

  test("refIntegrity: orphans, coverage and null FKs on a hand toy") {
    val child = Seq(Option(1L), Option(1L), Option(2L), Option.empty[Long])
      .toDF("fk")
    val parent = Seq(1L, 3L).toDF("pk")
    val got = Constraints.refIntegrity(child, "child", "fk",
      parent, "parent", "pk").collect().toSeq
    assert(got == Seq(Row(
      "child", "fk", "parent", "pk",
      4L, // n_child_rows
      1L, // n_null_fk (not charged as an orphan)
      1L, // n_orphan_rows: the single fk=2 row
      2500.0, // orphan_bp = 1/4
      2L, // n_parent_keys
      1L, // n_unreferenced: pk=3
      5000.0))) // unreferenced_bp = 1/2
  }

  test("refIntegrity: fully-covered pair audits clean") {
    val child = Seq(1L, 2L, 2L).toDF("fk")
    val parent = Seq(1L, 2L).toDF("pk")
    val r = Constraints.refIntegrity(child, "c", "fk", parent, "p", "pk")
      .collect().head
    assert(r.getLong(5) == 0L && r.getLong(6) == 0L && r.getLong(9) == 0L)
    assert(r.getDouble(7) == 0.0 && r.getDouble(10) == 0.0)
  }

  test("q110: only key relations meet — one full-outer join and two scans per pair") {
    val p = SparkEntry.queries("q110_ref_integrity")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert("FullOuter".r.findAllIn(p).size == 3,
      s"expected one full-outer key join per FK pair:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 6,
      s"expected exactly child+parent scans per pair:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"stat-row combine regressed to a product join:\n$p")
  }

  // ------------------------------------------------------------------
  // Anomaly.dailyVolumeAnomaly
  // ------------------------------------------------------------------

  /** One row per (day, i<n) — a day with exactly n events. */
  private def eventsWithDailyCounts(counts: Map[String, Int]) =
    counts.toSeq.flatMap { case (d, n) =>
      (0 until n).map(i => (ts(s"$d 12:00:00"), i))
    }.toDF("ts", "i")

  test("dailyVolumeAnomaly: hand-computed median/MAD and flags") {
    val df = eventsWithDailyCounts(Map(
      "2024-01-01" -> 8, "2024-01-02" -> 10, "2024-01-03" -> 12,
      "2024-01-04" -> 10, "2024-01-05" -> 30))
    val got = Anomaly.dailyVolumeAnomaly(df, "ts", 2.0).collect().toSeq
    // counts sorted [8,10,10,12,30]: median 10 (med2=20);
    // dev2=|2n−20| per day; sorted [0,0,4,4,40] → MAD 2 (mad4=8)
    def z(dev2: Long) = round6(2.0 * dev2 / (1.4826 * 8))
    assert(got == Seq(
      Row("2024-01-01", 8L, 10.0, 2.0, z(4), false),
      Row("2024-01-02", 10L, 10.0, 2.0, z(0), false),
      Row("2024-01-03", 12L, 10.0, 2.0, z(4), false),
      Row("2024-01-04", 10L, 10.0, 2.0, z(0), false),
      Row("2024-01-05", 30L, 10.0, 2.0, z(40), true)))
    assert(z(40) > 2.0 && z(4) < 2.0) // the cut actually separates
  }

  test("dailyVolumeAnomaly: zero MAD degrades to flagging any deviation") {
    val df = eventsWithDailyCounts(Map(
      "2024-02-01" -> 10, "2024-02-02" -> 10, "2024-02-03" -> 10,
      "2024-02-04" -> 100))
    val got = Anomaly.dailyVolumeAnomaly(df, "ts", 2.0).collect().toSeq
    // sorted [10,10,10,100]: median 10, deviations [0,0,0,180] → MAD 0
    assert(got.map(r => (r.getString(0), r.getLong(1),
      r.isNullAt(4), r.getBoolean(5))) == Seq(
      ("2024-02-01", 10L, true, false),
      ("2024-02-02", 10L, true, false),
      ("2024-02-03", 10L, true, false),
      ("2024-02-04", 100L, true, true)))
  }

  test("q111: ONE events scan and a join-free stat-domain plan") {
    val p = SparkEntry.queries("q111_volume_anomaly")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"expected exactly 1 events scan:\n$p")
    assert(!p.contains("Join"), s"volume anomaly planned a join:\n$p")
  }

  // ------------------------------------------------------------------
  // Anomaly.benfordReport
  // ------------------------------------------------------------------

  test("benfordReport: digit census on a hand toy; all 9 rows present") {
    val df = Seq(1.00, 19.99, 2.50, 300.0, 0.004, -5.0, 9999.0).toDF("amt")
    // cents: 100, 1999, 250, 30000, 0 (excluded), -500 (excluded), 999900
    val got = Anomaly.benfordReport(df, "amt").collect().toSeq
    assert(got.size == 9)
    val byDigit = got.map(r => r.getInt(0) -> r).toMap
    assert(byDigit(1).getLong(1) == 2L && byDigit(1).getDouble(2) == 4000.0)
    assert(byDigit(2).getLong(1) == 1L && byDigit(2).getDouble(2) == 2000.0)
    assert(byDigit(3).getLong(1) == 1L)
    assert(byDigit(9).getLong(1) == 1L)
    assert((4 to 8).forall(d =>
      byDigit(d).getLong(1) == 0L && byDigit(d).getDouble(2) == 0.0))
    // absent digit deviates by exactly −expectation
    val exp4 = Anomaly.BenfordExpectedBp.toMap.apply(4)
    assert(byDigit(4).getDouble(4) == round6(-exp4))
  }

  test("benfordReport expectation literals sum to ~100% and decrease") {
    val bps = Anomaly.BenfordExpectedBp.map(_._2)
    assert(math.abs(bps.sum - 10000.0) < 0.01)
    assert(bps == bps.sorted.reverse)
    assert(bps.head == 3010.3) // log10(2) = 0.30103 pinned at 4 dp
  }

  // ------------------------------------------------------------------
  // Anomaly.madOutliers
  // ------------------------------------------------------------------

  test("madOutliers: hand-computed per-group census incl. zero-MAD group") {
    val df = (Seq(1L, 2L, 3L, 4L, 100L).map(("a", _)) ++
      Seq(5L, 5L, 5L, 9L).map(("b", _)) ++
      Seq(1L, 2L).map(("c", _))).toDF("g", "v")
    val got = Anomaly.madOutliers(df, "g", "v", 2.0).collect().toSeq
    // a: sorted [1,2,3,4,100] → median 3, dev2=|2v−6|=[4,2,0,2,194],
    //    sorted [0,2,2,4,194] → MAD 1 (mad4=4); only 100 clears k=2
    val zMax = round6(2.0 * 194 / (1.4826 * 4))
    assert(got(0) == Row("a", 5L, 3.0, 1.0, 1L, 2000.0, zMax))
    // b: median 5, deviations [0,0,0,8] → MAD 0 → degrade: the 9 flags,
    //    and max_robust_z is NULL (z undefined at zero MAD)
    assert(got(1).getString(0) == "b" && got(1).getLong(1) == 4L &&
      got(1).getDouble(2) == 5.0 && got(1).getDouble(3) == 0.0 &&
      got(1).getLong(4) == 1L && got(1).getDouble(5) == 2500.0 &&
      got(1).isNullAt(6))
    // c: even n → fractional median 1.5; MAD 0.5; |2·1−3|=1 = |2·2−3|
    //    → both z = 2/(1.4826·2) ≈ 0.674 < 2 → clean group
    assert(got(2) == Row("c", 2L, 1.5, 0.5, 0L, 0.0,
      round6(2.0 * 1 / (1.4826 * 2))))
  }

  test("q113: ONE documents scan — medians are windows, not joins") {
    val p = SparkEntry.queries("q113_mad_outliers")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"expected exactly 1 documents scan:\n$p")
    assert(!p.contains("Join"), s"outlier census planned a join:\n$p")
  }

  test("q112: Benford runs in ONE scan (grand total is a window, not a re-agg)") {
    val p = SparkEntry.queries("q112_benford")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"expected exactly 1 orders scan:\n$p")
  }

  // ------------------------------------------------------------------
  // Constraints.fkDiscovery
  // ------------------------------------------------------------------

  test("fkDiscovery: containment and parent key-ness on a hand toy") {
    val child = Seq(Option(1L), Option(2L), Option(3L), Option(2L),
      Option.empty[Long]).toDF("fk")
    val parent = Seq(1L, 2L, 4L, 4L).toDF("pk")
    val got = Constraints.fkDiscovery(Seq(
      (child, "c", "fk", parent, "p", "pk"))).collect().toSeq
    assert(got == Seq(Row("c", "fk", "p", "pk",
      3L, // distinct non-null child keys {1,2,3}
      2L, // {1,2} hit the parent
      6666.6667, // containment bp
      4L, // parent rows
      3L, // distinct parent keys {1,2,4}
      false))) // 4 repeats: not key-like
  }

  test("fkDiscovery: a true FK into a unique parent reads 10000 bp") {
    val child = Seq(1L, 1L, 2L).toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val r = Constraints.fkDiscovery(Seq(
      (child, "c", "fk", parent, "p", "pk"))).collect().head
    assert(r.getDouble(6) == 10000.0 && r.getBoolean(9))
  }

  test("q118: candidate stage joins distinct-key relations, no product joins") {
    val p = SparkEntry.queries("q118_fk_discovery")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"stat-row combine regressed to a cartesian:\n$p")
    // every equi-join runs on the __k key relations
    assert(!"Join [a-z_]".r.findAllIn(p).exists(x => !x.contains("__k")) ||
      !p.contains("SortMergeJoin [f"), s"row-level join leaked:\n$p")
  }

  test("q118: exactly one scan per side per candidate (tree-counted)") {
    // 5 candidates × (1 child + 1 parent) = 10 parquet leaves; the
    // parent's row/key totals ride its key relation, no second lineage
    val n = PlanLeaves.parquetScans(PlanLeaves.counts(SparkEntry.queries(
      "q118_fk_discovery")(spark, "/root/testdata/sf0.001")))
    assert(n == 2 * graft.registry.MonitorQueries.FkCandidates.size,
      s"expected 2 parquet leaves per candidate, got $n total")
  }
}

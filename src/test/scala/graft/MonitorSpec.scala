package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.CatalogMonitor
import graft.operators.{Anomaly, Constraints}
import graft.plans.PlanLeaves
import graft.util.TempDirs.withTempDir

import TestSpark._

// Specs of the operators behind [[registry.MonitorQueries]].
//
// Monitors: the catalog, table, state, storage and data-quality
// checks a monitor run executes — row counts and shapes, schema and
// row-count deltas, object-store inventory and compaction, declarative
// constraints, referential integrity and volume/distribution anomaly
// detectors, and the fan-out monitor run itself.
//
// Each suite keeps its class name, so every test keeps the suite-qualified
// name it is reported under; the suites are grouped here by domain.

/** Part-eight operators — the data-observability judgement layer:
  * declarative constraint suites, referential-integrity audits, and
  * robust (median/MAD) anomaly detection. Every case is hand-computed;
  * robust-z expectations re-derive from the documented formula
  * `2·dev2 / (1.4826·mad4)` with med2/mad4 themselves hand-derived.
  */
class Round5hSpec extends AnyFunSuite {
  import spark.implicits._

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
    val p = SparkEntry.queries("q109_constraints")(spark, sf)
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
    val p = SparkEntry.queries("q110_ref_integrity")(spark, sf)
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
    val p = SparkEntry.queries("q111_volume_anomaly")(spark, sf)
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
    val p = SparkEntry.queries("q113_mad_outliers")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"expected exactly 1 documents scan:\n$p")
    assert(!p.contains("Join"), s"outlier census planned a join:\n$p")
  }

  test("q112: Benford runs in ONE scan (grand total is a window, not a re-agg)") {
    val p = SparkEntry.queries("q112_benford")(spark, sf)
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
    val p = SparkEntry.queries("q118_fk_discovery")(spark, sf)
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
      "q118_fk_discovery")(spark, sf)))
    assert(n == 2 * graft.registry.MonitorQueries.FkCandidates.size,
      s"expected 2 parquet leaves per candidate, got $n total")
  }
}

/** Round-6 part thirty-two: inferred range contracts. */
class Round7eSpec extends AnyFunSuite {

  test("rangeContractReport: envelope holds, breaks, and unknown key flags") {
    import spark.implicits._
    val ref = Seq(("a", 1.0), ("a", 5.0), ("b", 10.0), ("b", 20.0))
      .toDF("k", "v")
    val cur = Seq(
      ("a", 3.0),             // inside
      ("a", 0.5), ("a", 9.0), // below + above
      ("b", 15.0),            // inside → clean key
      ("z", 7.0))             // unseen key
      .toDF("k", "v")
    val r = Constraints.rangeContractReport(ref, cur, "k", "v")
      .collect().map(x => x.getString(0) -> x).toMap
    val a = r("a")
    assert(a.getBoolean(1))
    assert(a.getLong(2) == 1000000L && a.getLong(3) == 5000000L)
    assert(a.getLong(5) == 1L && a.getLong(6) == 1L)
    assert(a.getLong(7) == 666666L && a.getBoolean(8))
    val b = r("b")
    assert(b.getLong(5) == 0L && b.getLong(6) == 0L && !b.getBoolean(8))
    val z = r("z")
    assert(!z.getBoolean(1) && z.isNullAt(2) && z.getBoolean(8))
    assert(z.getLong(5) == 0L) // NULL bounds never count as violations
  }
}

/** Round-10 part four: the parquet-footer row-count fast path.
  * SURVEY §4.2's metadata-only option for plain counts, now real:
  * `tableRowCounts` answers from direct footer sums instead of one count
  * job per table. The spec pins (a) value equality with
  * `Tables.load(…).count()` per table — so the q18 oracle hash is
  * path-independent — and (b) that the footer path performs ZERO
  * file-input IO on the executors: no task reads a byte or a record
  * from any data file.
  */
class Round10dSpec extends AnyFunSuite {

  /** The reference relation: one count job per table. */
  private def countJobs(): Seq[(String, Long)] =
    Tables.all.sorted.map(t => t -> Tables.load(spark, sf, t).count())

  private def footerCounts(): Seq[(String, Long)] =
    CatalogMonitor.tableRowCounts(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq

  /** (input bytes, input records, tasks) across all tasks in `body`. */
  private def taskInput(body: => Unit): (Long, Long, Long) = {
    val input = tasksDuring(body).map(_.inputMetrics)
    (input.map(_.bytesRead).sum, input.map(_.recordsRead).sum, input.size.toLong)
  }

  test("footer path returns exactly the count-job path's relation") {
    val jobs = countJobs()
    val footers = footerCounts()
    assert(jobs.nonEmpty && footers === jobs, s"jobs=$jobs footers=$footers")
  }

  test("footer path reads zero data bytes and zero records on the " +
    "executors (metadata-only, q18 shape)") {
    var rows: Long = 0L
    val (bytes, recs, _) = taskInput {
      rows = CatalogMonitor.tableRowCounts(spark, sf).collect().length.toLong
    }
    assert(rows === Tables.all.size.toLong)
    assert(bytes === 0L && recs === 0L,
      s"footer path must not scan: bytesRead=$bytes recordsRead=$recs")
  }

  test("count-job control: the forced-jobs path DOES schedule scan " +
    "tasks (the contrast that makes the zero-IO assertion meaningful)") {
    val (_, _, tasks) = taskInput { countJobs() }
    assert(tasks > 0L, "expected at least one task on the count-job path")
  }

  test("footer path is the DEFAULT: flag unset performs zero executor " +
    "file IO and matches the forced-jobs relation") {
    var rel: Seq[(String, Long)] = Nil
    val (bytes, recs, _) = taskInput { rel = footerCounts() }
    assert(bytes === 0L && recs === 0L,
      s"default path must be metadata-only: bytes=$bytes recs=$recs")
    assert(rel === countJobs())
  }

  test("footer path sees Spark's file set on a PARTITIONED layout: " +
    "recursive key=value subdirs counted, hidden staging files skipped") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    withTempDir("graft-footer") { tmpDir =>
      val tmp = new java.io.File(tmpDir)
      val root = s"${tmp.getAbsolutePath}/t.parquet"
      import spark.implicits._
      (0L until 100L).map(i => (i, i % 3)).toDF("id", "k")
        .write.partitionBy("k").parquet(root)
      // plant an in-progress staging COPY of a real part file: if the
      // footer path counted it, the count would visibly double one
      // partition (Spark's file index ignores '.'/'_' segments)
      val aPart = Files.walk(Paths.get(root)).filter(p =>
        p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .findFirst().get()
      Files.copy(aPart, Paths.get(root, "._part-staging.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      Files.copy(aPart, Paths.get(root, ".hidden-dir-stand-in.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      val footer = CatalogMonitor.footerRowCount(spark, root)
      val viaSpark = spark.read.parquet(root).count()
      assert(viaSpark === 100L)
      assert(footer === Some(viaSpark),
        s"footer=$footer must equal Spark's own file-index count $viaSpark")
    }
  }

  test("fallback edge: a relation with NO visible .parquet files " +
    "(extensionless part files) answers via a count job, not 0") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    withTempDir("graft-fallback") { tmpDir =>
      val tmp = new java.io.File(tmpDir)
      val staged = s"${tmp.getAbsolutePath}/staged"
      import spark.implicits._
      (0L until 57L).toDF("id").write.parquet(staged)
      val root = Paths.get(tmp.getAbsolutePath, "t.parquet")
      Files.createDirectories(root)
      // parquet DATA, extensionless NAMES — Spark reads them fine, the
      // footer lister (by design) does not claim to know they're parquet
      var i = 0
      Files.walk(Paths.get(staged)).filter(p =>
        p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .forEach { p =>
          Files.copy(p, root.resolve(s"part-$i"),
            StandardCopyOption.REPLACE_EXISTING)
          i += 1
        }
      assert(CatalogMonitor.footerRowCount(spark, root.toString) === None,
        "no visible .parquet files must mean None (fall back), never Some(0)")
      val rel = CatalogMonitor.tableRowCounts(
        spark, tmp.getAbsolutePath, Seq("t")).collect()
      assert(rel.map(r => r.getString(0) -> r.getLong(1)).toSeq ===
        Seq("t" -> 57L))
    }
  }
}

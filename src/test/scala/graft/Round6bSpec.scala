package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Correlate, Evaluation, Graph, Privacy, TimeSeries}
import graft.plans.PlanLeaves

/** Round-6 part three: graph analytics, evaluation, privacy, MI, trend.
  * Hand-computed toys pin every closed-form core; plan gates hold the
  * scan shapes the scaladocs claim.
  */
class Round6bSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  // ---------------------------------------------------------------- graph

  test("coOccurrenceEdges: pair census + stop-group cap binds") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L), // group 1: 3 items → 3 pairs
      (2L, 10L), (2L, 11L),            // group 2: repeats the (10,11) pair
      (2L, 10L),                       // duplicate row — distinct first
      (3L, 20L)                        // singleton group: no pairs
    ).toDF("g", "it")
    val e = Graph.coOccurrenceEdges(df, "g", "it")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(e == Map((10L, 11L) -> 2L, (10L, 12L) -> 1L, (11L, 12L) -> 1L))
    // cap 2 drops group 1 entirely; only the (10,11) pair survives, with
    // its weight reduced to group 2's contribution
    val capped = Graph.coOccurrenceEdges(df, "g", "it", Some(2L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped == Map((10L, 11L) -> 1L))
  }

  test("pageRankMicro: hand-unrolled damping updates on a path graph") {
    import spark.implicits._
    // 1 — 2 — 3: degrees 1, 2, 1. Unit mass 10⁶ per node.
    // round 1: in(1)=in(3)=5·10⁵, in(2)=2·10⁶
    //   → r1 = (575000, 1850000, 575000)
    // round 2: 2 sends 925000 each way, ends send their whole rank to 2
    //   → r2 = (936250, 1127500, 936250)
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("node_a", "node_b")
    val r = Graph.pageRankMicro(edges, 2)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r == Map(1L -> (1L, 936250L), 2L -> (2L, 1127500L),
      3L -> (1L, 936250L)))
  }

  test("pageRankMicro: zero iterations returns unit mass, mass bounded") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("node_a", "node_b")
    val r0 = Graph.pageRankMicro(edges, 0).collect()
    assert(r0.forall(_.getLong(2) == 1000000L))
    // damping is mass-contractive up to floor loss: Σrank ≤ n·10⁶ after
    // any number of rounds on a regular graph
    val r3 = Graph.pageRankMicro(edges, 3).collect()
    assert(r3.map(_.getLong(2)).sum <= 3000000L)
  }

  test("triangleReport: triangle + pendant, coefficients and NULLs") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("node_a", "node_b")
    val r = Graph.triangleReport(edges).collect()
      .map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2),
          if (x.isNullAt(3)) None else Some(x.getDouble(3)))).toMap
    assert(r(1L) == (2L, 1L, Some(1.0)))
    assert(r(2L) == (2L, 1L, Some(1.0)))
    assert(r(3L) == (3L, 1L, Some(0.333333)))
    assert(r(4L) == (1L, 0L, None)) // degree 1: coefficient undefined
  }

  test("triangleReport: square has no triangles; diagonal makes two") {
    import spark.implicits._
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    val r1 = Graph.triangleReport(square.toDF("node_a", "node_b")).collect()
    assert(r1.forall(_.getLong(2) == 0L))
    val r2 = Graph.triangleReport((square :+ (1L, 3L)).toDF("node_a", "node_b"))
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r2 == Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  // ----------------------------------------------------------- evaluation

  test("aucReport: rank-sum identity with ties; one-class group NULL") {
    import spark.implicits._
    // pos scores {3, 2}, neg {1, 2}: 3 clear wins + 1 tie → AUC 0.875
    val df = Seq(
      ("g", 3L, true), ("g", 2L, true), ("g", 1L, false), ("g", 2L, false),
      ("h", 5L, true), ("h", 7L, true) // positives only: AUC undefined
    ).toDF("src", "score", "y")
    val r = Evaluation.aucReport(df, "src", "score", col("y")).collect()
      .map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3),
          if (x.isNullAt(4)) None else Some(x.getDouble(4)))).toMap
    assert(r("g") == (2L, 2L, 7L, Some(0.875)))
    assert(r("h") == (2L, 0L, 0L, None))
  }

  test("aucReport: perfect separation gives 1.0, reversed gives 0.0") {
    import spark.implicits._
    val perfect = Seq(("g", 10L, true), ("g", 11L, true),
      ("g", 1L, false), ("g", 2L, false)).toDF("src", "score", "y")
    assert(Evaluation.aucReport(perfect, "src", "score", col("y"))
      .collect().head.getDouble(4) == 1.0)
    val reversed = perfect.withColumn("y", !col("y"))
    assert(Evaluation.aucReport(reversed, "src", "score", col("y"))
      .collect().head.getDouble(4) == 0.0)
  }

  test("calibrationReport: integer bins, floor means, ppm rates") {
    import spark.implicits._
    // scores 0..9, 5 bins over (mx−mn+1)=10 → bin = s div 2
    val df = (0L to 9L).map(s => (s, s % 2 == 0)).toDF("score", "y")
    val r = Evaluation.calibrationReport(df, "score", col("y"), 5).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
    assert(r.length == 5)
    // every bin holds {2k, 2k+1}: n=2, one even (pos), floor mean = 2k
    r.zipWithIndex.foreach { case ((bin, n, pos, mean, ppm), k) =>
      assert(bin == k && n == 2L && pos == 1L && mean == 2L * k &&
        ppm == 500000L)
    }
  }

  // ------------------------------------------------------------- MI/trend

  test("mutualInformation: exact 0 on independence, ln 2 on identity") {
    import spark.implicits._
    // perfectly independent 2×2 uniform: every cell's log term is ln 1
    val ind = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("u", "v")
    val r1 = Correlate.mutualInformation(ind, "u", "v").collect()
    assert(r1.forall(_.getLong(3) == 0L))
    assert(r1.forall(_.getLong(4) == 0L))
    // identity coupling of 2 symbols: MI = ln 2; each cell contributes
    // round(0.5·ln2·1e9) = 346573590 nano-nats
    val dep = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y"))
      .toDF("u", "v")
    val r2 = Correlate.mutualInformation(dep, "u", "v").collect()
    assert(r2.forall(_.getLong(3) == 346573590L))
    assert(r2.forall(_.getLong(4) == 693147180L))
  }

  test("trendReport: exact slope on linear data, NULL on a single day") {
    import spark.implicits._
    val df = Seq(
      ("A", "2024-01-01 00:00:00", 1.0), ("A", "2024-01-02 00:00:00", 2.0),
      ("A", "2024-01-03 00:00:00", 3.0),
      ("A", "2024-01-03 12:00:00", 0.0), // same-day row folds into day 2
      ("B", "2024-01-02 00:00:00", 9.0)  // one day: den = 0 → NULL
    ).toDF("k", "tss", "value").withColumn("ts", to_timestamp(col("tss")))
    val r = TimeSeries.trendReport(df, "k").collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getLong(3),
        if (x.isNullAt(4)) None else Some(x.getDouble(4)))).toMap
    // daily micro sums 1e6, 2e6, 3e6 at x = 0,1,2 → slope exactly 10⁶/day
    assert(r("A") == (3L, 6000000L, 6L, Some(1000000.0)))
    assert(r("B") == (1L, 0L, 0L, None))
  }

  // -------------------------------------------------------------- privacy

  test("kAnonymityReport: class census and both violation flags") {
    import spark.implicits._
    val df = Seq(
      ("t1", 0, 100L), ("t1", 0, 100L), ("t1", 0, 101L), // 3 rows, 2 ids
      ("t1", 1, 102L),                                   // 1 row: k-breach
      ("t2", 0, 103L), ("t2", 0, 103L), ("t2", 0, 103L)  // 3 rows, 1 id
    ).toDF("et", "h", "uid")
    val r = Privacy.kAnonymityReport(df, Seq("et", "h"), "uid", 3L).collect()
      .map(x => (x.getString(0), x.getInt(1)) ->
        (x.getLong(2), x.getLong(3), x.getBoolean(4), x.getBoolean(5))).toMap
    assert(r(("t1", 0)) == (3L, 2L, false, false))
    assert(r(("t1", 1)) == (1L, 1L, true, true))
    assert(r(("t2", 0)) == (3L, 1L, false, true)) // k-fine, single-subject
  }

  // ------------------------------------------------------------ plan gates

  private def leafCounts(name: String): Map[String, Int] =
    PlanLeaves.counts(SparkEntry.queries(name)(spark, sf))

  test("plan gates: single-scan audits, two-scan frozen-bounds reports") {
    // one scan: the aggregate-only shapes
    for (q <- Seq("q131_k_anonymity", "q132_auc", "q134_mutual_information"))
      assert(PlanLeaves.parquetScans(leafCounts(q)) == 1, s"$q scans != 1")
    // two scans: main pass + the 1-row broadcast bounds relation
    for (q <- Seq("q133_calibration", "q135_trend"))
      assert(PlanLeaves.parquetScans(leafCounts(q)) <= 2, s"$q scans > 2")
  }

  test("plan gates: no product joins in the graph queries") {
    for (q <- Seq("q129_pagerank", "q130_triangles")) {
      val p = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q has a product join:\n$p")
    }
  }
}

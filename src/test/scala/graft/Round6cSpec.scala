package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Cdc, Concentration, Correlate}
import graft.plans.PlanLeaves

/** Round-6 part four: chi-square independence, Gini concentration, CDC
  * latest-wins apply. Toys pin the closed forms (independence → 0,
  * perfect association → V=1, the {0,1} Gini, all three merge paths);
  * plan gates pin the scan shapes.
  */
class Round6cSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

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

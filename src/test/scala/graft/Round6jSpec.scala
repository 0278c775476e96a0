package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Correlate, ProfileDrift}

/** Round-6 part eleven: KS drift and Kendall τ-b. */
class Round6jSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

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

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Correlate, Graph}

/** Round-7 part thirteen: k-core peeling + Spearman. */
class Round7rSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("kCoreReport: tails peel, cores survive, cascades propagate") {
    import spark.implicits._
    // triangle 1-2-3 with a tail 3-4; path 5-6-7
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (5L, 6L), (6L, 7L)).toDF("node_a", "node_b")
    val r = Graph.kCoreReport(edges, k = 2, rounds = 3).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2))).toMap
    assert(r(1L) == (2L, true) && r(2L) == (2L, true))
    assert(r(3L) == (3L, true))  // keeps the triangle after the tail dies
    assert(r(4L) == (1L, false))
    // the path cascades to nothing under k=2: ends peel, middle follows
    assert(!r(5L)._2 && !r(6L)._2 && !r(7L)._2)
    graft.util.Caches.releaseAll()
  }

  test("kCoreReport: fixture rounds reach the peeling fixpoint") {
    val e = registry.GraphQueries.coPurchase(spark, "/root/testdata/sf0.001")
    val a = Graph.kCoreReport(e, registry.GraphQueries.CoreK,
      registry.GraphQueries.CoreRounds).collect().map(_.toSeq).toSeq
    graft.util.Caches.releaseAll()
    val b = Graph.kCoreReport(e, registry.GraphQueries.CoreK,
      registry.GraphQueries.CoreRounds + 1).collect().map(_.toSeq).toSeq
    assert(a == b, "one more peel changed the core — raise CoreRounds")
    // and the peel BINDS: someone died
    assert(a.exists(r => r(2) == false))
    graft.util.Caches.releaseAll()
  }

  test("spearman: monotone nonlinear = 1, reversal = -1, ties averaged") {
    import spark.implicits._
    val cube = (1 to 20).map(x => (x.toLong, (x.toLong * x * x)))
      .toDF("x", "y")
    assert(Correlate.spearman(cube, "x", "y").collect().head
      .getDouble(2) == 1.0)
    val rev = (1 to 20).map(x => (x.toLong, (21 - x).toLong)).toDF("x", "y")
    assert(Correlate.spearman(rev, "x", "y").collect().head
      .getDouble(2) == -1.0)
    // constant y -> NULL rho
    val const = (1 to 5).map(x => (x.toLong, 7L)).toDF("x", "y")
    assert(Correlate.spearman(const, "x", "y").collect().head.isNullAt(2))
    // tie-averaged: x = (1,2,2,3), y = (1,3,2,4): hand-computed 0.948683
    val tied = Seq((1L, 1L), (2L, 3L), (2L, 2L), (3L, 4L)).toDF("x", "y")
    assert(Correlate.spearman(tied, "x", "y").collect().head
      .getDouble(2) == 0.948683)
    graft.util.Caches.releaseAll()
  }
}

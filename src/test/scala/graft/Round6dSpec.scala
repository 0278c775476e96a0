package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Graph, Similarity, Standardize}
import graft.plans.PlanLeaves

/** Round-6 part five: Gram-aggregate covariance, frontier BFS, quantile
  * normalization. The Gram aggregate gets a differential test against a
  * posexplode formulation (the blow-up it replaces) plus a partitioning
  * invariance check (merge path).
  */
class Round6dSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  // ------------------------------------------------------------- gram/cov

  test("covarianceMatrix: hand-computed 2-d toy, quantScale 1") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq(1.0f, 2.0f)), Tuple1(Seq(3.0f, 4.0f)))
      .toDF("embedding")
    val r = Similarity.covarianceMatrix(df, quantScale = 1.0).collect()
      .map(x => (x.getInt(0), x.getInt(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5),
          x.getLong(6), x.getDouble(7))).toMap
    // dims: x=(1,3), y=(2,4). Σx=4, Σy=6, Σxx=10, Σxy=14, Σyy=20.
    assert(r((1, 1)) == (2L, 4L, 4L, 10L, 4L, 2.0))
    assert(r((1, 2)) == (2L, 4L, 6L, 14L, 4L, 2.0))
    assert(r((2, 2)) == (2L, 6L, 6L, 20L, 4L, 2.0))
  }

  test("Gram: partitioning-invariant (merge ≡ update) and null-row skip") {
    import spark.implicits._
    val rows = (1 to 50).map(i => Tuple1(Seq(i.toFloat, (i % 7).toFloat)))
    val one = Similarity.covarianceMatrix(
      rows.toDF("embedding").coalesce(1), quantScale = 1.0).collect()
    val many = Similarity.covarianceMatrix(
      rows.toDF("embedding").repartition(7), quantScale = 1.0).collect()
    assert(one.map(_.toSeq).toSeq == many.map(_.toSeq).toSeq)

    val withNull = rows.toDF("embedding")
      .unionByName(Seq(Tuple1(null: Seq[Float])).toDF("embedding"))
    val skipped = Similarity.covarianceMatrix(withNull, quantScale = 1.0)
      .collect()
    assert(skipped.map(_.toSeq).toSeq == one.map(_.toSeq).toSeq)
  }

  test("covarianceMatrix: differential vs posexplode formulation on fixtures") {
    val emb = Tables.load(spark, sf, "embeddings")
    val viaGram = Similarity.covarianceMatrix(emb).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(5), r.getLong(6)))
      .toMap
    // reference: explicit d²-row blow-up with the same quantization
    val q = emb.select(col("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => round(x * 1e6).cast("long")).as("qv"))
    val flat = q.select(col("vec_id"), posexplode(col("qv")).as(Seq("p", "x")))
    val ref = flat.as("a").join(flat.as("b"),
        col("a.vec_id") === col("b.vec_id") && col("a.p") <= col("b.p"))
      .groupBy((col("a.p") + 1).as("i"), (col("b.p") + 1).as("j"))
      .agg(sum(col("a.x") * col("b.x")).as("s_xy"), count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(ref.keySet == viaGram.keySet)
    assert(ref.forall { case (k, sxy) => viaGram(k)._2 == sxy })
  }

  // ----------------------------------------------------------------- khop

  test("khopMinDist: path graph distances, cutoff NULL, off-graph seed") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("node_a", "node_b")
    val seeds = Seq(1L, 99L).toDF("node") // 99 is not a graph node
    val r = Graph.khopMinDist(edges, seeds, 2).collect()
      .map(x => x.getLong(0) ->
        (if (x.isNullAt(2)) None else Some(x.getInt(2)))).toMap
    assert(r == Map(1L -> Some(0), 2L -> Some(1), 3L -> Some(2),
      4L -> None, 5L -> None))
    graft.util.Caches.releaseAll()
  }

  test("khopMinDist: min over multiple seeds, cycles don't loop") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("node_a", "node_b")
    val seeds = Seq(1L, 4L).toDF("node")
    val r = Graph.khopMinDist(edges, seeds, 3).collect()
      .map(x => x.getLong(0) -> x.getInt(2)).toMap
    assert(r == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 0))
    graft.util.Caches.releaseAll()
  }

  // ------------------------------------------------------- quantile norm

  test("quantileNormalize: single group is the identity mapping") {
    import spark.implicits._
    val df = Seq(("a", 3L), ("a", 1L), ("a", 4L), ("a", 1L), ("a", 5L))
      .toDF("src", "v")
    val r = Standardize.quantileNormalize(df, "src", "v").collect()
    assert(r.forall(x => x.getLong(1) == x.getLong(4)))
    graft.util.Caches.releaseAll()
  }

  test("quantileNormalize: two groups map onto pooled order statistics") {
    import spark.implicits._
    // g1 = {10, 20}, g2 = {1, 2}. Pooled sorted: 1, 2, 10, 20 (N = 4).
    // g1: v=10 → p = ⌈1·4/2⌉ = 2 → pooled[2] = 2; v=20 → p=4 → 20.
    // g2: v=1 → p=2 → 2; v=2 → p=4 → 20.
    val df = Seq(("g1", 10L), ("g1", 20L), ("g2", 1L), ("g2", 2L))
      .toDF("src", "v")
    val r = Standardize.quantileNormalize(df, "src", "v").collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getLong(4)).toMap
    assert(r == Map(("g1", 10L) -> 2L, ("g1", 20L) -> 20L,
      ("g2", 1L) -> 2L, ("g2", 2L) -> 20L))
    graft.util.Caches.releaseAll()
  }

  test("quantileNormalize: ties map together (max-rank convention)") {
    import spark.implicits._
    val df = Seq(("g", 7L), ("g", 7L), ("g", 9L), ("h", 1L), ("h", 2L))
      .toDF("src", "v")
    val r = Standardize.quantileNormalize(df, "src", "v").collect()
    val tied = r.filter(x => x.getString(0) == "g" && x.getLong(1) == 7L)
    assert(tied.length == 1 && tied.head.getLong(2) == 2L) // one row, c=2
    graft.util.Caches.releaseAll()
  }

  // ----------------------------------------------------------- plan gates

  private def leafCounts(name: String): Map[String, Int] = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    PlanLeaves.counts(df)
  }

  test("plan gates: q140 one scan into one aggregate; q141 one cached scan") {
    val l140 = leafCounts("q140_embedding_cov")
    assert(PlanLeaves.parquetScans(l140) == 1)
    assert(PlanLeaves.parquetScans(leafCounts("q141_quantile_norm")) <= 1)
    graft.util.Caches.releaseAll()
  }
}

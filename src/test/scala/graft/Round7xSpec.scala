package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CorpusConfig, CorpusStats, Similarity}

/** Round-7 part eighteen-b: Heaps fit + CorpusConfig ANN routing. */
class Round7xSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("heapsFit: growth regimes land at their known exponents") {
    import spark.implicits._
    // fresh-vocab corpus: every doc introduces 5 new tokens -> V grows
    // linearly with N -> beta ≈ 1
    val fresh = (0L until 64L).map(i =>
      (i, (0 until 5).map(j => s"w${i * 5 + j}").mkString(" ")))
      .toDF("doc_id", "text")
    val bFresh = CorpusStats.heapsFit(fresh).collect().head.getDouble(3)
    assert(bFresh > 0.9 && bFresh <= 1.01, s"fresh-vocab beta $bFresh")
    graft.util.Caches.releaseAll()
    // saturating corpus: a tiny fixed vocab -> V flat -> beta ≈ 0
    // (the synthetic documents fixture behaves the same way: its 31
    // fixed tokens saturate at the first checkpoint)
    val sat = (0L until 64L).map(i =>
      (i, "a b c d e f g h")).toDF("doc_id", "text")
    val bSat = CorpusStats.heapsFit(sat).collect().head.getDouble(3)
    assert(math.abs(bSat) < 0.01, s"saturated beta $bSat")
    graft.util.Caches.releaseAll()
    val r = CorpusStats.heapsFit(
      Tables.load(spark, dir, "documents")).collect().head
    assert(r.getLong(0) >= 3L && r.getLong(1) > r.getLong(2))
    graft.util.Caches.releaseAll()
  }

  test("CorpusConfig routes kNN consumers by tier") {
    val embs = Tables.load(spark, dir, "embeddings")
    val ids = registry.DedupQueries.HardNegQueryIds
    val k = registry.DedupQueries.HardNegK
    val exact = CorpusConfig.Exact.hardNegatives(embs, ids, k)
      .collect().map(_.toSeq).toSeq
    val direct = Similarity.hardNegatives(embs, ids, k)
      .collect().map(_.toSeq).toSeq
    assert(exact == direct)
    val prod = CorpusConfig.Production.hardNegatives(embs, ids, k)
      .collect().map(_.toSeq).toSeq
    val lsh = Similarity.hardNegativesLsh(embs, ids, k)
      .collect().map(_.toSeq).toSeq
    assert(prod == lsh && prod != exact)
    graft.util.Caches.releaseAll()
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{CorpusConfig, Dedup, Similarity}

/** Round-7 part one: production tiers for passage dedup (64-bit
  * fingerprints) and the LSH-blocked kNN consumers.
  */
class Round7fSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("passageDupStats: fingerprint tier equals the raw-string tier") {
    val docs = Tables.load(spark, dir, "documents")
    val raw = Dedup.passageDupStats(docs, 10).collect().toSeq
    val fp = Dedup.passageDupStats(docs, 10, fingerprint = true)
      .collect().toSeq
    assert(raw.nonEmpty && raw == fp)
    // and the CorpusConfig.Production switch routes to the same path
    val viaConfig = CorpusConfig.Production.passageDupStats(docs, 10)
      .collect().toSeq
    assert(viaConfig == fp)
  }

  test("passageDupStats: forced collisions only OVER-report sharing") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p q r s t"),
      (2L, "a b c d e f g h i j z z z z z z z z z z"),
      (3L, "totally different words in this one doc here now ok yes"))
      .toDF("doc_id", "text")
    val exact = Dedup.passageDupStats(docs, 10).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // bucket space of 1: every passage collides into one key, so every
    // passage looks shared — the collision direction is one-sided
    val collided = Dedup.passageDupStats(docs, 10, fingerprint = true,
      fingerprintBuckets = 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(exact(1L) == 1L && exact(3L) == 0L) // only the a..j passage shared
    collided.foreach { case (id, shared) =>
      assert(shared >= exact(id), s"doc $id under-reported under collision")
    }
    assert(collided(3L) == 2L) // all passages report shared at 1 bucket
  }

  test("hardNegativesLsh: per-rank dominance vs exact, and the block binds") {
    val embs = Tables.load(spark, dir, "embeddings")
    val ids = registry.DedupQueries.HardNegQueryIds
    val k = registry.DedupQueries.HardNegK
    val exact = Similarity.hardNegatives(embs, ids, k).collect()
      .map(r => (r.getLong(0), r.getInt(5)) -> (r.getLong(2), r.getDouble(4)))
      .toMap
    val lsh = Similarity.hardNegativesLsh(embs, ids, k).collect()
      .map(r => (r.getLong(0), r.getInt(5)) -> (r.getLong(2), r.getDouble(4)))
      .toMap
    assert(lsh.nonEmpty)
    // LSH candidates are a subset of the exact pool, so at every rank
    // the exact tier's cosine is at least the LSH tier's
    lsh.foreach { case (qr, (_, cs)) =>
      assert(exact.contains(qr) && exact(qr)._2 >= cs,
        s"rank dominance violated at $qr")
    }
    // and the restriction BINDS at this scale: some anchor's list differs
    assert(lsh != exact.filter { case (qr, _) => lsh.contains(qr) } ||
      lsh.size < exact.size,
      "LSH blocking did not bind — widen planes or the fixture")
  }

  test("labelAgreementLsh: votes stay within k and the block binds") {
    val embs = Tables.load(spark, dir, "embeddings")
    val ids = registry.DedupQueries.NoiseAnchorIds
    val k = registry.DedupQueries.NoiseK
    val exact = Similarity.labelAgreement(embs, ids, k).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val lsh = Similarity.labelAgreementLsh(embs, ids, k).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(lsh.nonEmpty && lsh.keySet.subsetOf(exact.keySet))
    lsh.foreach { case (q, (kUsed, nAgree)) =>
      assert(kUsed >= 1 && kUsed <= k && nAgree <= kUsed)
    }
    assert(lsh != exact.filter { case (q, _) => lsh.contains(q) },
      "LSH restriction did not change any vote at this scale")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bpe, Concentration, CorpusConfig, CorpusStats,
  Deciles, Dedup, DedupConfig, Evaluation, FuzzyMatch, Graph, Linkage,
  Similarity, SpanDedup, Standardize, TextOps}
import graft.plans.PlanLeaves

import TestSpark._

class DedupSpec extends AnyFunSuite {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "s1"),
    (2L, "the quick brown fox jumps over the lazy dog", "s1"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog", "s1"), // near dup of 1
    (4L, "completely different text about spark and scala here", "s1"),
    (5L, "another unrelated document mentioning data pipelines", "s2"))
    .toDF("doc_id", "text", "source")

  test("exactStats finds the exact duplicate") {
    val r = Dedup.exactStats(corpus).collect().head
    assert(r.getAs[Long]("total_docs") == 5L)
    assert(r.getAs[Long]("unique_docs") == 4L)
    assert(r.getAs[Long]("duplicate_docs") == 1L)
    assert(r.getAs[Long]("duplicate_groups") == 1L)
  }

  test("dropExactDuplicates keeps the min doc_id") {
    val kept = Dedup.dropExactDuplicates(corpus).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("jaccardPairs finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.jaccardPairs(corpus, "source", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical → jaccard 1.0
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash signatures: identical docs identical, width k, minhash-LSH recovers the near-dup pairs") {
    val sigs = Dedup.minhashSignatures(corpus, k = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs.values.forall(_.length == 16))
    assert(sigs(1L) != sigs(4L))

    val found = Dedup.minhashNearDups(corpus, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((1L, 2L)))
    assert(found.contains((1L, 3L)))
  }

  test("empty/short docs produce the sentinel signature, no crash") {
    val edge = Seq((1L, "", "s"), (2L, "word", "s")).toDF("doc_id", "text", "source")
    val sigs = Dedup.minhashSignatures(edge).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L).forall(_ == 1000000007L))
    assert(sigs(2L).forall(_ == 1000000007L)) // single token → no bigram
  }

  test("simhash: identical docs at Hamming 0, near-dups closer than unrelated") {
    val sh = Dedup.simhashSignatures(corpus, "source")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(sh(1L) == sh(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(3L)) < ham(sh(1L), sh(4L)))

    val pairs = Dedup.simhashPairs(corpus, "source", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("production skew caps: capped output is a subset with bounded recall loss") {
    val docs = Tables.load(spark, sf, "documents")
    val exact = Dedup.minhashNearDups(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.util.Caches.releaseAll()
    val capped = Dedup.minhashNearDups(docs,
      maxBucketSize = DedupConfig.Production.maxBucketSize)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.util.Caches.releaseAll()
    // the cap only ever removes candidates — never invents pairs
    assert(capped.subsetOf(exact),
      s"capped pairs must be a subset; extras: ${(capped -- exact).take(5)}")
    // documented tradeoff: skipping hot buckets costs recall, but the loss
    // is bounded (hot buckets hold SOME real dups, not most of them)
    if (exact.nonEmpty) {
      val recall = capped.size.toDouble / exact.size
      assert(recall >= 0.5, s"capped recall $recall collapsed — cap too tight")
    }

    // same law for the shingle-frequency cap on the Jaccard path: with a
    // tiny cap the pair set can only shrink, and survivors keep scores
    val uncapped = Dedup.jaccardPairs(docs, "source", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val shCapped = Dedup.jaccardPairs(docs, "source", 0.5,
      maxShingleDocs = Some(16L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shCapped.subsetOf(uncapped))
  }

  test("simhash of empty doc is 0") {
    val sh = Dedup.simhashSignatures(
      Seq((9L, "", "s")).toDF("doc_id", "text", "source"), "source")
      .collect().head.getLong(2)
    assert(sh == 0L)
  }
}

/** The one-switch scale tier: Production must run the q71 capstone
  * end-to-end (near-dup included) with every cap wired, and its
  * dispatchers must reproduce the underlying operators at matching
  * knobs — so "run this at 100 TB" is `CorpusConfig.Production` and
  * nothing else.
  */
class CorpusConfigSpec extends AnyFunSuite {
  private def docs = Tables.load(spark, sf, "documents")

  test("Production capstone runs end-to-end; shard budgets hold") {
    val budget = 512L
    val out = CorpusConfig.Production
      .prepareTrainingShards(docs, minQuality = 0.5,
        chunkWindow = 32, chunkStride = 24, shardBudgetTokens = budget)
      .collect()
    assert(out.nonEmpty, "capstone produced no shards")
    // assignShards is a prefix-sum cut: a shard may overflow by at most
    // one chunk, so the bound is budget + max chunk size (window = 32)
    out.foreach { r =>
      val (src, shard, n, tok) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(tok <= budget + 32, s"shard ($src, $shard) over budget: $tok")
      assert(n > 0)
    }
    // shards are contiguous from 0 within each source
    out.groupBy(_.getString(0)).foreach { case (src, rows) =>
      val ids = rows.map(_.getLong(1)).sorted.toSeq
      assert(ids == (0L until ids.length).toSeq,
        s"non-contiguous shards for $src: $ids")
    }
    graft.util.Caches.releaseAll()
  }

  test("Production near-dup removal keeps exactly min-id per pair-cluster") {
    val kept = graft.operators.Pipeline.prepareCorpus(docs, minQuality = 0.5)
    val pairs = CorpusConfig.Production.minhashNearDups(
      kept.select(col("doc_id"), col("norm_text").as("text")))
    val clusters = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(clusters.nonEmpty) // fixture has near-dups post-quality-filter
    val expectLosers = clusters.filter { case (id, c) => id != c }.map(_._1).toSet
    val got = CorpusConfig.Production.prepareTrainingShards(docs, 0.5,
      32, 24, 512L) // smoke: runs with the same inputs
    assert(got.columns.toSeq ==
      Seq("source", "shard", "n_chunks", "shard_tokens"))
    assert(expectLosers.nonEmpty, "no near-dup losers at fixture scale")
    graft.util.Caches.releaseAll()
  }

  test("tier dispatch: Exact deciles plan a window; Production plans approx bounds") {
    val d = docs.select(col("doc_id"), col("source"),
      length(col("text")).cast("long").as("n_tokens"))
    val exactPlan = CorpusConfig.Exact
      .decileReport(d, "source", "n_tokens", "doc_id")
      .queryExecution.executedPlan.toString
    val prodPlan = CorpusConfig.Production
      .decileReport(d, "source", "n_tokens", "doc_id")
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("Window"), "exact tier lost its ntile window")
    assert(!prodPlan.contains("Window"),
      s"production deciles still plan a corpus-scale window:\n$prodPlan")
    // and the production result matches the operator called directly
    val a = CorpusConfig.Production
      .decileReport(d, "source", "n_tokens", "doc_id").collect().toSeq
    val b = Deciles.report(d, "source", "n_tokens", "doc_id",
      exact = false).collect().toSeq
    assert(a == b)
  }

  test("tier dispatch: pair joins carry the caps (capped ⊆ exact)") {
    val exact = CorpusConfig.Exact
      .jaccardPairs(docs, "lang", 0.3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Production's 1024-doc cap can't bind on a 50-doc fixture: equal
    val prod = CorpusConfig.Production
      .jaccardPairs(docs, "lang", 0.3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && prod == exact,
      "non-binding production cap changed the exact result")
  }
}

class SimilaritySpec extends AnyFunSuite {
  import spark.implicits._

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  // 4-dim corpus with an obvious structure: 1≈0 (same direction),
  // 2 orthogonal, 3 opposite, 4 nearly aligned with 0.
  private val embeddings = Seq(
    (0L, vec(1, 0, 0, 0), 0),
    (1L, vec(2, 0, 0, 0), 0),
    (2L, vec(0, 1, 0, 0), 0),
    (3L, vec(-1, 0, 0, 0), 1),
    (4L, vec(0.9, 0.1, 0, 0), 1))
    .toDF("vec_id", "embedding", "label")

  test("cosine: aligned=1, orthogonal=0, opposite=-1") {
    val r = embeddings.as("a").crossJoin(embeddings.as("b"))
      .filter(col("a.vec_id") === 0 && col("b.vec_id").isin(1, 2, 3))
      .select(col("b.vec_id"),
        round(Similarity.cosine(
          col("a.embedding").cast("array<double>"),
          col("b.embedding").cast("array<double>")), 6).as("c"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) == 1.0)
    assert(r(2L) == 0.0)
    assert(r(3L) == -1.0)
  }

  test("native ArrayDot is bit-identical to the built-ins fold on fixture vectors") {
    val embs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")).limit(300)
    val pairs = embs.as("a").crossJoin(embs.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id")).limit(2000)
    val diff = pairs.select(
      Similarity.dot(col("a.v"), col("b.v")).as("native"),
      Similarity.dotBuiltins(col("a.v"), col("b.v")).as("ref"))
      .filter(col("native") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("bruteForceTopK ranks by cosine with deterministic ties") {
    val top = Similarity.bruteForceTopK(embeddings, Seq(0L), k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(top.head == (1L, 1))      // same direction → rank 1
    assert(top(1) == (4L, 2))        // nearly aligned → rank 2
    assert(top(2) == (2L, 3))        // orthogonal beats opposite
  }

  test("lshTopK: results are a subset of brute-force candidates, same-direction vectors share a bucket") {
    val brute = Similarity.bruteForceTopK(embeddings, Seq(0L), 4, vecCol = "embedding")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    val lsh = Similarity.lshTopK(embeddings, Seq(0L), 4, nPlanes = 4, dim = 4)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(lsh.nonEmpty)
    // identical-direction vector must land in the same hyperplane bucket
    assert(lsh.map(_._1).contains(1L))
    // every LSH score equals the brute-force score for that vec
    lsh.foreach { case (id, c) => assert(brute(id) == c) }
  }

  test("lshTopK recall on the fixture corpus is reasonable") {
    val embs = Tables.load(spark, sf, "embeddings")
    val qids = Seq(0L, 1L, 2L)
    val brute = Similarity.bruteForceTopK(embs, qids, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(embs, qids, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    // single-probe 6-plane LSH: recall well above random (64 buckets)
    assert(recall > 0.2, s"recall=$recall")
  }

  test("ivfTopK: scores agree with brute force, same-direction vector shares the cell") {
    val embs = Tables.load(spark, sf, "embeddings")
    val qids = Seq(0L, 1L, 2L)
    val brute = Similarity.bruteForceTopK(embs, qids, 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val ivf = Similarity.ivfTopK(embs, qids, 10, (0 until 16).map(_.toLong * 7))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(ivf.nonEmpty)
    // every IVF hit carries the exact brute-force score (subset property)
    ivf.foreach { case (k, c) => assert(brute.get(k).forall(_ == c)) }
    // the recall of single-probe IVF is bounded but nonzero
    val recall = ivf.map(_._1).count(brute.contains).toDouble / brute.size
    assert(recall > 0.1, s"recall=$recall")
  }

  test("ivf multi-probe: recall(nprobe=2) >= recall(nprobe=1), scores stay exact") {
    val embs = Tables.load(spark, sf, "embeddings")
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val cids = (0 until 16).map(_.toLong * 7)
    val brute = Similarity.bruteForceTopK(embs, qids, 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    def run(np: Int): Array[((Long, Long), Double)] =
      Similarity.ivfTopK(embs, qids, 10, cids, nprobe = np)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    def recall(xs: Array[((Long, Long), Double)]): Double =
      xs.map(_._1).count(brute.contains).toDouble / brute.size
    val p1 = run(1)
    val p2 = run(2)
    assert(recall(p2) >= recall(p1),
      s"nprobe=2 recall ${recall(p2)} < nprobe=1 recall ${recall(p1)}")
    // widening the probe set must never change a score, only add candidates
    p2.foreach { case (k, c) => assert(brute.get(k).forall(_ == c)) }
  }

  test("ivfTrain: deterministic Lloyd iterations improve assignment quality") {
    val embs = Tables.load(spark, sf, "embeddings")
    import org.apache.spark.sql.functions._
    val corpus = embs.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nv", Similarity.norm(col("v")))
    val initIds = (0 until 8).map(_.toLong)
    def objective(centroids: org.apache.spark.sql.DataFrame): Double =
      Similarity.ivfAssign(corpus, centroids)
        .join(centroids, col("cell") === col("cid"))
        .select(avg(Similarity.cosine(col("v"), col("cv"))).as("o"))
        .collect().head.getDouble(0)
    val init = corpus.filter(col("vec_id").isin(initIds: _*))
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nv").as("ncv"))
    val trained = Similarity.ivfTrain(embs, initIds, iters = 3)
    assert(trained.count() <= 8 && trained.count() > 0)
    // mean member→centroid cosine should not degrade under Lloyd updates
    assert(objective(trained) >= objective(init) - 1e-9)
    // determinism: same seeds → identical centroids
    val again = Similarity.ivfTrain(embs, initIds, iters = 3)
    assert(trained.orderBy("cid").collect().toSeq ==
      again.orderBy("cid").collect().toSeq)
    // trained centroids drive the same search path
    val r = Similarity.ivfTopKWith(corpus, Seq(0L, 1L), 5, trained)
    assert(r.count() > 0)
  }

  test("nearDupPairs finds aligned pairs within label blocks only") {
    val pairs = Similarity.nearDupPairs(embeddings, "label", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L))) // 3,4 share label 1 but are anti-aligned
  }
}

/** Part-nine operator: SymSpell deletion-neighborhood variant mining.
  * The load-bearing property is EXACT equality with the brute-force V²
  * Levenshtein scan — blocking guarantees recall at distance 1, the
  * residual filter restores precision.
  */
class Round5iSpec extends AnyFunSuite {
  import spark.implicits._

  /** One doc per word occurrence, so token counts are the multiplicities. */
  private def corpus(words: (String, Int)*) =
    words.toSeq.flatMap { case (w, n) => Seq.fill(n)(w) }
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")

  /** Reference Levenshtein for the differentials. */
  private def levDist(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("variantPairs: substitution / insertion pairs found, dist-2 killed") {
    val docs = corpus(
      ("abcd", 3), ("abed", 2), // substitution, dist 1
      ("abcde", 1), // 'e' inserted vs abcd, dist 1
      ("axyd", 1), // two substitutions vs abcd, dist 2 — excluded
      ("bacd", 1), // transposition vs abcd: SHARES deletion keys, dist 2
      ("abc", 9)) // below minLen, never in vocab
    val got = FuzzyMatch.variantPairs(docs, vocabSize = 100, minLen = 4)
      .as[(String, String, Long, Long)].collect().toSeq
    // sanity on the fixture itself: bacd is a candidate the residual kills
    assert(levDist("abcd", "bacd") == 2)
    assert(got == Seq(
      ("abcd", "abcde", 3L, 1L),
      ("abcd", "abed", 3L, 2L)))
  }

  test("variantPairs ≡ brute force on an adversarial dense vocabulary") {
    // every length-4 and length-5 word over {a,b}: deletion buckets
    // collide maximally and transposition-like dist-2 pairs abound
    val all4 = (0 until 16).map(i =>
      (0 until 4).map(j => if (((i >> j) & 1) == 1) 'b' else 'a').mkString)
    val all5 = (0 until 32).map(i =>
      (0 until 5).map(j => if (((i >> j) & 1) == 1) 'b' else 'a').mkString)
    val vocabWords = (all4 ++ all5).distinct
    val docs = corpus(vocabWords.map(w => (w, 1)): _*)
    val got = FuzzyMatch.variantPairs(docs, vocabSize = 100, minLen = 4)
      .as[(String, String, Long, Long)].collect()
      .map(p => (p._1, p._2)).toSet
    val truth = (for {
      a <- vocabWords; b <- vocabWords
      if a < b && levDist(a, b) == 1
    } yield (a, b)).toSet
    assert(got == truth, s"missing=${truth -- got} extra=${got -- truth}")
    // both substitution and indel pairs are exercised by the truth set
    assert(truth.exists { case (a, b) => a.length == b.length })
    assert(truth.exists { case (a, b) => a.length != b.length })
  }

  test("variantPairs: canonical order, no self pairs, vocab cut respected") {
    val docs = corpus(("aaaa", 5), ("aaab", 4), ("aabb", 3), ("abbb", 2))
    // vocabSize=2 keeps only {aaaa, aaab}: the aabb/abbb pairs vanish
    val got = FuzzyMatch.variantPairs(docs, vocabSize = 2, minLen = 4)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == Seq(("aaaa", "aaab", 5L, 4L)))
  }

  test("q114 plan: candidate join is broadcast, corpus never re-scanned") {
    val df = SparkEntry.queries("q114_typo_variants")(
      spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // vocab is localCheckpoint'd: the self-join reads checkpointed stat
    // rows, not two fresh corpus lineages
    assert(!p.contains("Scan parquet"),
      s"variant join re-scanned the corpus:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"key join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"key join regressed:\n$p")
  }

  test("fuzzyJoinNames: exact + distance-1 links, counts carried, exact droppable") {
    val left = corpus(("abcd", 2), ("xxxx", 1))
      .withColumnRenamed("text", "name")
    val right = corpus(("abed", 1), ("abcd", 3), ("zzzz", 1))
      .withColumnRenamed("text", "name")
    val got = FuzzyMatch.fuzzyJoinNames(left, "name", right, "name")
      .as[(String, String, Long, Long, Int)].collect().toSeq
    assert(got == Seq(
      ("abcd", "abcd", 2L, 3L, 0),
      ("abcd", "abed", 2L, 1L, 1)))
    val noExact = FuzzyMatch.fuzzyJoinNames(left, "name", right, "name",
      includeExact = false)
      .as[(String, String, Long, Long, Int)].collect().toSeq
    assert(noExact == Seq(("abcd", "abed", 2L, 1L, 1)))
  }

  test("fuzzyJoinNames ≡ brute force across a dense two-relation split") {
    val all4 = (0 until 16).map(i =>
      (0 until 4).map(j => if (((i >> j) & 1) == 1) 'b' else 'a').mkString)
    val (l, r) = all4.partition(_.count(_ == 'b') % 2 == 0)
    val left = corpus(l.map((_, 1)): _*).withColumnRenamed("text", "name")
    val right = corpus(r.map((_, 1)): _*).withColumnRenamed("text", "name")
    val got = FuzzyMatch.fuzzyJoinNames(left, "name", right, "name")
      .as[(String, String, Long, Long, Int)].collect()
      .map(p => (p._1, p._2, p._5)).toSet
    val truth = (for {
      a <- l; b <- r; d = levDist(a, b) if d <= 1
    } yield (a, b, d)).toSet
    // the parity split means no exact matches and EVERY substitution
    // crosses sides — maximal stress on the shared-deletion-key recall
    assert(truth.nonEmpty && truth.forall(_._3 == 1))
    assert(got == truth, s"missing=${truth -- got} extra=${got -- truth}")
  }


  test("q115 plan: candidate stage runs on distinct names — two scans, no product") {
    val df = SparkEntry.queries("q115_fuzzy_join")(
      spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).size == 2,
      s"expected one scan per side:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidate stage regressed to a product join:\n$p")
    // name column + the parity filter key only — no wide reads
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string>"),
      s"scan reads more than the parity key and the name:\n$p")
  }

  // ------------------------------------------------------------------
  // BPE vocabulary induction
  // ------------------------------------------------------------------

  /** Sequential reference BPE (Sennrich): the ground truth the
    * distributed learner must reproduce exactly.
    */
  private def refBpe(words: Map[String, Long], nMerges: Int,
      marker: Boolean): Seq[(Int, String, String, Long)] = {
    def mergeSeq(s: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += s(i); i += 1 }
      }
      out.result()
    }
    var vocab: Map[Vector[String], Long] = words.toSeq.map { case (w, n) =>
      val chars = w.map(_.toString).toVector
      val syms = if (marker) chars.init :+ (chars.last + Bpe.Eow) else chars
      syms -> n
    }.groupMapReduce(_._1)(_._2)(_ + _)
    (1 to nMerges).flatMap { rank =>
      val pairs = vocab.toSeq.flatMap { case (s, n) =>
        s.sliding(2).collect { case Vector(a, b) => (a, b) -> n }
      }.groupMapReduce(_._1)(_._2)(_ + _)
      if (pairs.isEmpty) None
      else {
        val ((l, r), c) = pairs.minBy { case ((l, r), c) => (-c, l, r) }
        vocab = vocab.toSeq.map { case (s, n) => mergeSeq(s, l, r) -> n }
          .groupMapReduce(_._1)(_._2)(_ + _)
        Some((rank, l, r, c))
      }
    }
  }

  test("learnMerges: hand-derived merge sequence, markerless") {
    val docs = corpus(("aaab", 2), ("ab", 1))
    val got = Bpe.learnMerges(docs, 3, marker = false)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    // round 1: (a,a) weight 4 beats (a,b) 3; leftmost-greedy turns
    // aaab into [aa, a, b]; round 2: (a,b) 3 beats (aa,a) 2; round 3
    // only (aa, ab) remains
    assert(got == Seq((1, "a", "a", 4L), (2, "a", "b", 3L),
      (3, "aa", "ab", 2L)))
  }

  test("learnMerges: end-of-word marker keeps word-final symbols distinct") {
    val docs = corpus(("ab", 2), ("cb", 1))
    val got = Bpe.learnMerges(docs, 2)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1, "a", s"b${Bpe.Eow}", 2L),
      (2, "c", s"b${Bpe.Eow}", 1L)))
  }

  test("learnMerges stops early when no pair remains") {
    val docs = corpus(("ab", 3))
    val got = Bpe.learnMerges(docs, 10, marker = false)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got == Seq((1, "a", "b", 3L))) // "ab" is one symbol after it
  }

  test("learnMerges ≡ sequential reference BPE on the fixture corpus") {
    val docs = graft.Tables.documents(spark, sf)
    val words = Bpe.wordCounts(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = refBpe(words, 6, marker = true)
    val got = Bpe.learnMerges(docs, 6)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(expect.size == 6 && got == expect)
  }

  test("segment: leftmost-greedy application incl. the overlap case") {
    val docs = corpus(("aaa", 1), ("aaab", 1), ("ba", 1))
    val got = Bpe.segment(docs, Seq(("a", "a"), ("a", "b")),
      marker = false)
      .as[(String, Long, Seq[String])].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got("aaa") == Seq("aa", "a")) // non-overlapping, leftmost
    assert(got("aaab") == Seq("aa", "ab")) // second merge applies after
    assert(got("ba") == Seq("b", "a")) // order matters: (b,a) unmerged
  }
}

/** Round-6 part five: Gram-aggregate covariance, frontier BFS, quantile
  * normalization. The Gram aggregate gets a differential test against a
  * posexplode formulation (the blow-up it replaces) plus a partitioning
  * invariance check (merge path).
  */
class Round6dSpec extends AnyFunSuite {

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

/** Round-6 part ten: passage dedup, PR sweep, Zipf fit. */
class Round6iSpec extends AnyFunSuite {

  // -------------------------------------------------------- passage dedup

  test("passageDupStats: shared block flagged in both docs, unique not") {
    import spark.implicits._
    val block = (1 to 10).map(i => s"w$i").mkString(" ") // one exact passage
    val df = Seq(
      (1L, block + " " + (1 to 10).map(i => s"a$i").mkString(" ")),
      (2L, block + " " + (1 to 10).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 10).map(i => s"c$i").mkString(" ")),
      (4L, "tiny doc")) // shorter than one passage
      .toDF("doc_id", "text")
    val r = Dedup.passageDupStats(df, 10).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toMap
    assert(r(1L) == (2L, 1L, 5000L))
    assert(r(2L) == (2L, 1L, 5000L))
    assert(r(3L) == (1L, 0L, 0L))
    assert(r(4L) == (1L, 0L, 0L))
    graft.util.Caches.releaseAll()
  }

  test("passageDupStats: within-doc repetition is NOT cross-doc sharing") {
    import spark.implicits._
    val block = (1 to 10).map(i => s"x$i").mkString(" ")
    val df = Seq((1L, block + " " + block)).toDF("doc_id", "text")
    val r = Dedup.passageDupStats(df, 10).collect().head
    assert(r.getLong(1) == 2L && r.getLong(2) == 0L)
    graft.util.Caches.releaseAll()
  }

  // ------------------------------------------------------------- pr curve

  test("prCurve: hand-computed sweep, precision falls as recall rises") {
    import spark.implicits._
    val df = Seq((3L, true), (3L, true), (2L, true), (2L, false),
      (1L, false), (1L, false)).toDF("s", "y")
    val r = Evaluation.prCurve(df, "s", col("y")).collect()
      .map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))
      .toMap
    assert(r(3L) == (2L, 0L, 1L, 1000000L, 666666L))
    assert(r(2L) == (3L, 1L, 0L, 750000L, 1000000L))
    assert(r(1L) == (3L, 3L, 0L, 500000L, 1000000L))
  }

  // ----------------------------------------------------------------- zipf

  test("zipfFit: slope matches the closed-form OLS over the same census") {
    val r = CorpusStats.zipfFit(
      Tables.load(spark, sf, "documents"), 50)
      .collect().head
    val n = r.getLong(0).toDouble
    val (sx, sy, sxx, sxy) =
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val expected = (n * sxy / 1e9 - (sx.toDouble / 1e9) * (sy.toDouble / 1e9)) /
      (n * sxx / 1e9 - (sx.toDouble / 1e9) * (sx.toDouble / 1e9))
    assert(r.getDouble(6) == BigDecimal(expected)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getDouble(6) < 0) // frequency decays with rank
  }

  test("zipfFit: vocab cut bounds the census") {
    val r = CorpusStats.zipfFit(
      Tables.load(spark, sf, "documents"), 10)
      .collect().head
    assert(r.getLong(0) == 10L)
  }
}

/** Round-6 part twenty-six: random negatives and dedup survivorship. */
class Round6ySpec extends AnyFunSuite {

  test("randomNegatives: hash order, label exclusion, determinism") {
    import spark.implicits._
    val embs = Seq(
      (0L, 0), (1L, 0), (2L, 1), (3L, 1), (4L, 2), (5L, 2))
      .toDF("vec_id", "label")
      .withColumn("embedding", array(lit(1.0f)))
    val r1 = Similarity.randomNegatives(embs, Seq(0L), 3).collect()
    assert(r1.length == 3)
    assert(r1.forall(_.getInt(3) != 0))        // never the anchor label
    assert(!r1.map(_.getLong(2)).contains(1L)) // same-label excluded
    // replay: the md5 order is reproducible
    val expected = Seq(2L, 3L, 4L, 5L)
      .map(v => v -> java.security.MessageDigest.getInstance("MD5")
        .digest(s"0:$v".getBytes).map("%02x".format(_)).mkString)
      .sortBy { case (v, h) => (h, v) }(Ordering.Tuple2(
        Ordering.String.reverse, Ordering.Long))
      .take(3).map(_._1)
    assert(r1.map(_.getLong(2)).toSeq == expected)
    val r2 = Similarity.randomNegatives(embs, Seq(0L), 3).collect()
    assert(r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq)
  }

  test("survivorshipMatrix: min-id winner, cross-source drain counted") {
    import spark.implicits._
    // cluster {1,2,3}: winner 1 (src A) drops 2 (B) and 3 (A);
    // cluster {10,11}: winner 10 (B) drops 11 (B)
    val docs = Seq(
      (1L, "A"), (2L, "B"), (3L, "A"), (10L, "B"), (11L, "B"), (99L, "C"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val r = Dedup.survivorshipMatrix(docs, pairs).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    assert(r == Map(("A", "A") -> 1L, ("A", "B") -> 1L, ("B", "B") -> 1L))
    graft.util.Caches.releaseAll()
  }
}

/** Round-7 part one: production tiers for passage dedup (64-bit
  * fingerprints) and the LSH-blocked kNN consumers.
  */
class Round7fSpec extends AnyFunSuite {

  test("passageDupStats: fingerprint tier equals the raw-string tier") {
    val docs = Tables.load(spark, sf, "documents")
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
    val embs = Tables.load(spark, sf, "embeddings")
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
    val embs = Tables.load(spark, sf, "embeddings")
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

/** Round-7 part eight: FS linkage EM + audience overlap. */
class Round7mSpec extends AnyFunSuite {

  test("emWeights: a planted match cluster separates m from u") {
    import spark.implicits._
    // 100 planted matches (fields agree, deterministic few exceptions)
    // + 900 non-matches (fields mostly disagree)
    val matches = (0 until 100).map(i =>
      (i % 10 != 0, i % 7 != 0, i % 5 != 0))
    val nons = (0 until 900).map(i =>
      (i % 11 == 0, i % 13 == 0, i % 9 == 0))
    val pairs = (matches ++ nons).toDF("f1", "f2", "f3")
    val r = Linkage.emWeights(pairs, Seq("f1", "f2", "f3")).collect().head
    assert(r.getLong(0) == 1000L)
    val lam = r.getLong(1)
    assert(lam > 50000L && lam < 250000L, s"lambda $lam") // ~10% planted
    // every field must discriminate: m well above u
    for (f <- 0 until 3) {
      val m = r.getLong(2 + 2 * f); val u = r.getLong(3 + 2 * f)
      assert(m > u + 300000L, s"field $f: m=$m u=$u")
    }
    val matched = r.getLong(8)
    assert(matched > 60L && matched < 220L, s"n_matched $matched")
  }

  test("emWeights: a rare independent noise field does not separate") {
    import spark.implicits._
    // f1 carries the class signal; f2 is RARE independent noise (a
    // 50/50 independent field would itself be a competing latent
    // split — the classic EM identifiability caveat, so the fixture
    // keeps noise rare in both classes)
    // 12 rounds: the aggressive symmetric prior (m=0.9) leaves the
    // noise field visibly inflated after 2 rounds; convergence washes
    // it toward the base rate
    val pairs = (0 until 1000).map(i =>
      (i < 100, i % 17 == 0)).toDF("f1", "f2")
    val r = Linkage.emWeights(pairs, Seq("f1", "f2"), rounds = 12)
      .collect().head
    val (m1, u1) = (r.getLong(2), r.getLong(3))
    val (m2, u2) = (r.getLong(4), r.getLong(5))
    assert(m1 > u1 + 300000L, s"signal field separates: m=$m1 u=$u1")
    assert(math.abs(m2 - u2) < 200000L,
      s"noise field should not separate: m=$m2 u=$u2")
  }

  test("audienceOverlap: hand-computed intersections and jaccard") {
    import spark.implicits._
    val ev = Seq(
      (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "a"),
      (4L, "c"), (1L, "a")) // duplicate row must not double-count
      .toDF("user_id", "event_type")
    val r = Concentration.audienceOverlap(ev).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5))).toMap
    // a: {1,2,3}, b: {1,2}, c: {4}
    assert(r(("a", "b")) == (3L, 2L, 2L, 666666L)) // 2/3 jaccard
    assert(!r.contains(("a", "c")) && !r.contains(("b", "c")))
  }
}

/** Round-7 part twelve: relational power iteration. */
class Round7qSpec extends AnyFunSuite {

  test("topEigenReport: recovers a planted dominant direction") {
    import spark.implicits._
    // 64-dim vectors whose variance is concentrated on dim 1 (±2.0)
    // with small deterministic structure elsewhere
    val rows = (0 until 200).map { k =>
      val v = Array.tabulate(64) { j =>
        if (j == 0) (if (k % 2 == 0) 2.0f else -2.0f)
        else ((k * 7 + j) % 5 - 2) * 0.01f
      }
      (k.toLong, v.toSeq)
    }
    val embs = rows.toDF("vec_id", "embedding")
    val r = Similarity.topEigenReport(embs).collect()
      .map(x => x.getInt(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r.size == 64)
    // the planted direction dominates: dim 1 at full ∞-norm scale,
    // every other component at least 10× smaller
    assert(math.abs(r(1)._1) == 1000000L)
    (2 to 64).foreach { d =>
      assert(math.abs(r(d)._1) < 100000L, s"dim $d leaked ${r(d)._1}")
    }
    // Rayleigh quotient positive (a covariance is PSD up to floor noise)
    assert(r(1)._2 > 0L)
  }

  test("topEigenReport: more rounds do not change a converged direction") {
    import spark.implicits._
    val rows = (0 until 100).map { k =>
      val v = Array.tabulate(64)(j =>
        if (j == 0) k.toFloat / 50f - 1f else 0.001f * ((k + j) % 3))
      (k.toLong, v.toSeq)
    }
    val embs = rows.toDF("vec_id", "embedding")
    val v3 = Similarity.topEigenReport(embs, rounds = 3).collect()
      .map(x => x.getInt(0) -> x.getLong(1)).toMap
    graft.util.Caches.releaseAll()
    val v6 = Similarity.topEigenReport(embs, rounds = 6).collect()
      .map(x => x.getInt(0) -> x.getLong(1)).toMap
    val drift = v3.keys.map(d => math.abs(v3(d) - v6(d))).max
    assert(drift < 5000L, s"direction still moving after 3 rounds: $drift")
    graft.util.Caches.releaseAll()
  }
}

/** Round-7 part fifteen: capture–recapture duplicate sizing. */
class Round7tSpec extends AnyFunSuite {

  test("captureRecapture: hand-computed Chapman estimate and recalls") {
    import spark.implicits._
    val a = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val b = Seq((1L, 2L), (7L, 8L)).toDF("doc_a", "doc_b")
    val r = Dedup.captureRecapture(a, b).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L && r.getLong(2) == 1L)
    // Chapman: (4*3)/2 - 1 = 5
    assert(r.getLong(3) == 5L)
    assert(r.getLong(4) == 600000L && r.getLong(5) == 400000L)
  }

  test("captureRecapture: full overlap collapses to the union size") {
    import spark.implicits._
    val a = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val r = Dedup.captureRecapture(a, a).collect().head
    // (3*3)/3 - 1 = 2: both passes caught everything
    assert(r.getLong(3) == 2L)
    assert(r.getLong(4) == 1000000L && r.getLong(5) == 1000000L)
  }
}

/** Round-7 part eighteen-b: Heaps fit + CorpusConfig ANN routing. */
class Round7xSpec extends AnyFunSuite {

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
      Tables.load(spark, sf, "documents")).collect().head
    assert(r.getLong(0) >= 3L && r.getLong(1) > r.getLong(2))
    graft.util.Caches.releaseAll()
  }

  test("CorpusConfig routes kNN consumers by tier") {
    val embs = Tables.load(spark, sf, "embeddings")
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

/** Round-8 part fifteen specs: ANN recall report. */
class Round8oSpec extends AnyFunSuite {

  test("annRecallReport: recall against itself is 1, LSH is bounded") {
    val emb = Tables.load(spark, sf,
      "embeddings")
    val out = Similarity.annRecallReport(emb, Seq(0L, 1L, 2L), 5)
      .collect()
    assert(out.length === 3)
    out.foreach { r =>
      assert(r.getLong(1) === 5L, r.toString)            // exact k
      assert(r.getLong(3) <= r.getLong(1), r.toString)   // hits ≤ k
      assert(r.getLong(3) <= r.getLong(2), r.toString)   // hits ≤ lsh
      val ppm = r.getLong(4)
      assert(ppm >= 0L && ppm <= 1000000L, r.toString)
      assert(ppm === r.getLong(3) * 1000000L / 5L)
    }
    graft.util.Caches.releaseAll()
  }

  test("annRecallReport: identical rankings give recall exactly 1") {
    // degenerate check via the operator's own exact arm: joining the
    // brute-force set with itself must give n_hits = n_exact
    val emb = Tables.load(spark, sf,
      "embeddings")
    val bf = Similarity.bruteForceTopK(emb, Seq(0L), 5)
      .select("query_id", "vec_id")
    val self = bf.join(bf, Seq("query_id", "vec_id"))
      .groupBy("query_id").count().collect()(0)
    assert(self.getLong(1) === 5L)
    graft.util.Caches.releaseAll()
  }
}

/** Round-9 part four specs: exact duplicated-span detection/removal.
  * Hand-built corpora with known shared runs; window length 3 keeps the
  * arithmetic checkable on paper.
  */
class Round9dSpec extends AnyFunSuite {
  private val L = 3

  private def corpus(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("duplicatedSpans: a shared run flags only the LATER copy, " +
    "merged to one maximal span") {
    // docs share the 5-token run "a b c d e" → three 3-windows, all
    // flagged in doc 2 only, merging to span [1, 6) (6-1=5 tokens)
    val df = corpus(
      (1L, "a b c d e x y"),
      (2L, "z a b c d e q"))
    val spans = SpanDedup.duplicatedSpans(df, L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(spans.toSeq == Seq((2L, 1, 6, 3L)), spans.mkString(";"))
  }

  test("duplicatedSpans: disjoint shared runs stay separate spans; " +
    "touching runs merge") {
    // doc 3 copies doc 1's head run at positions 0.. and its tail run
    // far apart → two spans; doc 4 copies them adjacent → one span
    val df = corpus(
      (1L, "a b c x y z q w e r"),
      (3L, "a b c k k k k q w e"),
      (4L, "a b c q w e k k k k"))
    val spans = SpanDedup.duplicatedSpans(df, L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // doc 3 flags "a b c"@0, the second "k k k"@4 (canonical is its
    // own @3), and "q w e"@7; [4,7) and [7,10) touch → merged [4,10)
    assert(spans.filter(_._1 == 3L) == Set((3L, 0, 3), (3L, 4, 10)),
      spans.toString)
    // doc 4 flags @0 @3 @6 @7 — every region touches → one span [0,10)
    assert(spans.filter(_._1 == 4L) == Set((4L, 0, 10)), spans.toString)
  }

  test("duplicatedSpans: WITHIN-doc repetition flags the second copy") {
    val df = corpus((7L, "a b c x a b c"))
    val spans = SpanDedup.duplicatedSpans(df, L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(spans.toSeq == Seq((7L, 4, 7, 1L)), spans.mkString(";"))
  }

  test("docReport + report: exact token accounting") {
    val df = corpus(
      (1L, "a b c d e x y"),
      (2L, "z a b c d e q"))
      .withColumn("source", lit("s1"))
    val doc = SpanDedup.docReport(df, L).collect()
    assert(doc.length == 1)
    val r = doc.head
    assert(r.getLong(0) == 2L && r.getLong(1) == 7L &&
      r.getLong(2) == 1L && r.getLong(3) == 3L && r.getLong(4) == 5L,
      r.toString)
    assert(r.getLong(5) == (5L * 1000000L) / 7L, r.toString)
    val rep = SpanDedup.report(df, "source", L).collect()
    assert(rep.length == 1)
    val g = rep.head
    assert(g.getString(0) == "s1" && g.getLong(1) == 2L &&
      g.getLong(2) == 1L && g.getLong(3) == 14L && g.getLong(4) == 5L,
      g.toString)
    assert(g.getLong(5) == (5L * 1000000L) / 14L, g.toString)
  }

  test("scrub: kept sequence drops exactly the span tokens and hashes " +
    "the remainder; clean docs hash their full sequence") {
    val df = corpus(
      (1L, "a b c d e x y"),
      (2L, "z a b c d e q"))
    val out = SpanDedup.scrub(df, L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    import spark.implicits._
    def hashOf(s: String): Long =
      Seq(s).toDF("x").select(TextOps.rollingHash(col("x")))
        .collect()(0).getLong(0)
    assert(out(1L) == ((7L, 7L, hashOf("a b c d e x y"))), out.toString)
    // doc 2 loses positions [1,6) = "a b c d e" → kept "z q"
    assert(out(2L) == ((7L, 2L, hashOf("z q"))), out.toString)
  }

  test("spansAgainst: corpus spans matching the reference flag with no " +
    "canonical-first exemption; clean docs stay clean") {
    import spark.implicits._
    val reference = corpus((100L, "a b c d e"))
    val c = corpus(
      (1L, "x a b c d e y"), // carries the reference run at [1,6)
      (2L, "p q r s t u v")) // clean
    val spans = graft.operators.SpanDedup
      .spansAgainst(c, reference, L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(spans.toSeq == Seq((1L, 1, 6)), spans.mkString(";"))
    val rep = graft.operators.SpanDedup
      .decontReport(c.withColumn("source", lit("s")), reference,
        "source", L).collect()
    val g = rep.head
    // 2 docs, 1 contaminated, 14 tokens, 5 contaminated
    assert(g.getLong(1) == 2L && g.getLong(2) == 1L &&
      g.getLong(3) == 14L && g.getLong(4) == 5L, g.toString)
    assert(g.getLong(5) == (5L * 1000000L) / 14L, g.toString)
  }

  test("contaminatedTokens: the scan-stage fold counts the exact " +
    "coverage union, including overlapping flagged windows") {
    import spark.implicits._
    val reference = corpus((100L, "a b c d e"))
    val refHashes = graft.operators.SpanDedup
      .windowHashes(reference, L).select("h").distinct()
      .collect().map(_.getLong(0)).toSeq
    val c = corpus(
      (1L, "x a b c d e y"), // union of 3 overlapping windows = 5
      (2L, "p q r s t u v"), // clean → 0
      (3L, "a b"))           // shorter than L → 0
    val out = c.select(col("doc_id"), graft.operators.SpanDedup
        .contaminatedTokens(col("text"), refHashes, L).as("bad"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 5L, 2L -> 0L, 3L -> 0L), out.toString)
  }

  test("contaminatedTokens: streaming-safe — the same expression runs " +
    "in a streaming projection with no state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val reference = corpus((100L, "a b c d e"))
    val refHashes = graft.operators.SpanDedup
      .windowHashes(reference, L).select("h").distinct()
      .collect().map(_.getLong(0)).toSeq
    val input = MemoryStream[(Long, String)]
    val out = input.toDS().toDF("doc_id", "text")
      .select(col("doc_id"), graft.operators.SpanDedup
        .contaminatedTokens(col("text"), refHashes, L).as("bad"))
    val q = out.writeStream.format("memory").queryName("decon_stream")
      .outputMode("append").start()
    try {
      input.addData(Seq((1L, "x a b c d e y"), (2L, "p q r s t u v")))
      q.processAllAvailable()
      val rows = spark.table("decon_stream").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows == Map(1L -> 5L, 2L -> 0L), rows.toString)
    } finally q.stop()
  }

  test("contaminatedTokens: reference cap enforced loudly") {
    val e = intercept[IllegalArgumentException] {
      graft.operators.SpanDedup.contaminatedTokens(col("text"),
        (0L to graft.operators.SpanDedup.MaxInPlanRefHashes.toLong)
          .toSeq, L)
    }
    assert(e.getMessage.contains("join tier"), e.getMessage)
  }

  test("windowHashes: short docs contribute nothing; counts are n-L+1") {
    val df = corpus((1L, "a b"), (2L, "a b c d"))
    val wh = SpanDedup.windowHashes(df, L).collect()
    assert(wh.forall(_.getLong(0) == 2L))
    assert(wh.length == 2, wh.mkString(";"))
  }

  test("PositionedWindowHashes ≡ the built-ins formulation " +
    "(differential, fixture-wide)") {
    import org.apache.spark.sql.functions._
    val d = Tables.load(spark, sf, "documents")
      .limit(200)
    val ws = TextOps.tokens(col("text"))
    val builtins = when(size(ws) >= L,
      transform(sequence(lit(0), size(ws) - L),
        p => TextOps.rollingHash(concat_ws(" ", slice(ws, p + 1, lit(L))))))
      .otherwise(array().cast("array<bigint>"))
    val bad = d.select(
        graft.functions.PositionedWindowHashes
          .positionedWindowHashes(col("text"), L).as("nat"),
        builtins.as("ref"))
      .filter(col("nat") =!= col("ref"))
      .count()
    assert(bad == 0L, s"$bad docs diverge from the built-ins form")
    // punctuation/unicode edge: tokenizer equivalence rides TextTokens,
    // already differential-pinned; empty text yields the empty array
    import spark.implicits._
    val e = Seq((1L, ""), (2L, "ab"), (3L, "A,b!C d☃e f"))
      .toDF("doc_id", "text")
      .select(graft.functions.PositionedWindowHashes
        .positionedWindowHashes(col("text"), L).as("nat"), builtins.as("ref"))
      .filter(col("nat") =!= col("ref")).count()
    assert(e == 0L)
  }
}

/** Round-13 (verdict optional task 8): the hot-bucket cap on
  * [[Similarity.semanticDedupLsh]] — buckets past `maxBucketSize` skip
  * the pair stage (all their rows keep themselves; the q61 recall
  * trade), while uncapped behavior is bit-identical to before (q70a's
  * oracle hash is pinned at three scales by CORRECTNESS).
  */
class Round13SemanticCapSpec extends AnyFunSuite {

  // two tight clusters that land in LSH buckets and near-dup within
  private def embeddings = {
    import spark.implicits._
    val dim = 64
    def vec(seed: Int, eps: Double): Array[Float] =
      Array.tabulate(dim)(j =>
        (math.sin(seed * 31 + j) + (if (j == seed % dim) eps else 0.0)).toFloat)
    (0 until 12).map { i =>
      val cluster = i % 2
      (i.toLong, s"l$cluster", vec(cluster + 1, 0.001 * i))
    }.toDF("vec_id", "label", "embedding")
  }

  test("uncapped vs binding cap: capped run keeps every row of the " +
    "over-full buckets; uncapped clusters collapse") {
    val unc = Similarity.semanticDedupLsh(embeddings, 0.45, nPlanes = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(unc.size < 12,
      s"fixture must actually cluster somewhere: kept $unc")
    // cap of 1: every bucket with >1 row skips pairing -> all 12 kept
    val capped = Similarity.semanticDedupLsh(embeddings, 0.45,
      nPlanes = 3, maxBucketSize = Some(1L))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(capped.size === 12,
      s"cap=1 must keep everything (no pair stage runs): $capped")
    // a cap that binds nowhere is a no-op: identical keep set
    val loose = Similarity.semanticDedupLsh(embeddings, 0.45,
      nPlanes = 3, maxBucketSize = Some(1000L))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(loose === unc, "non-binding cap must not change outcomes")
    graft.util.Caches.releaseAll()
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Collocations, Decontaminate, Retrieval}

class Round5dSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // -------------------------------------------------------------------
  // BM25
  // -------------------------------------------------------------------

  /** The operator's exact double formula, reproduced independently —
    * the test recomputes expected micro-scores from first principles.
    */
  private def bm25Micro(tf: Long, df: Long, dl: Long, n: Long, avgdl: Double): Long = {
    val idf = math.log(((n.toDouble - df + 0.5) / (df + 0.5)) + 1.0)
    val w = idf * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
    math.round(w * 1000000.0)
  }

  test("bm25TopK matches hand-computed scores on a toy corpus") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple")).toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, Seq(1 -> Seq("apple")), 10)
      .orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    // N=3 docs, 6 tokens, avgdl=2.0; df(apple)=2
    val d1 = bm25Micro(tf = 2, df = 2, dl = 3, n = 3, avgdl = 2.0)
    val d3 = bm25Micro(tf = 1, df = 2, dl = 1, n = 3, avgdl = 2.0)
    assert(d3 > d1, "short doc should outscore long doc at equal idf (length norm)")
    assert(got.toSeq == Seq((1, 3L, d3), (2, 1L, d1)))
  }

  test("bm25: docs without any query term never appear; multi-term scores add") {
    val docs = Seq(
      (1L, "apple banana"),
      (2L, "cherry date"),
      (3L, "apple cherry"),
      (4L, "elderberry fig")).toDF("doc_id", "text")
    val rows = Retrieval.bm25Scores(docs,
      Seq(1 -> Seq("apple", "cherry"))).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(rows.keySet == Set(1L, 2L, 3L)) // doc 4 has no query term
    // N=4 docs, 8 tokens, avgdl=2.0; df=2 for both terms, tf=1, dl=2
    val a = bm25Micro(tf = 1, df = 2, dl = 2, n = 4, avgdl = 2.0)
    // doc 3 holds one of EACH term: its score is the sum of two
    // single-term contributions (identical tf/df/dl here)
    assert(rows(3L) == 2 * a)
    assert(rows(1L) == a && rows(2L) == a)
  }

  test("bm25 dedups repeated query terms (no double counting)") {
    val docs = Seq((1L, "apple pie")).toDF("doc_id", "text")
    val once = Retrieval.bm25Scores(docs, Seq(1 -> Seq("apple"))).collect()
    val twice = Retrieval.bm25Scores(docs, Seq(1 -> Seq("apple", "apple"))).collect()
    assert(once.map(_.getLong(2)).toSeq == twice.map(_.getLong(2)).toSeq)
  }

  test("bm25/pmi/kl on an EMPTY corpus return empty results, not crashes") {
    import graft.operators.{Collocations, CorpusStats}
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    assert(Retrieval.bm25TopK(empty, Seq(1 -> Seq("x")), 5).collect().isEmpty)
    assert(Collocations.pmiTop(empty, 10).collect().isEmpty)
    assert(CorpusStats.tokenKlReport(empty).collect().isEmpty)
    // token-less (all-empty-string) corpus: same contract
    val blank = Seq((1L, "a", ""), (2L, "b", "")).toDF("doc_id", "source", "text")
    assert(Retrieval.bm25TopK(blank, Seq(1 -> Seq("x")), 5).collect().isEmpty)
    assert(Collocations.pmiTop(blank, 10).collect().isEmpty)
  }

  test("bm25 edge cases: vocabulary-absent query terms and empty docs") {
    val docs = Seq((1L, "apple pie"), (2L, "")).toDF("doc_id", "text")
    // a term absent from the corpus contributes nothing (drops at the
    // vocabulary join) instead of poisoning the query
    val got = Retrieval.bm25TopK(docs,
      Seq(1 -> Seq("apple", "zzz_not_in_corpus")), 10).collect()
    assert(got.map(_.getLong(2)).toSeq == Seq(1L))
    // a query made ONLY of absent terms yields zero rows, not a failure
    assert(Retrieval.bm25TopK(docs, Seq(2 -> Seq("zzz")), 10).collect().isEmpty)
  }

  // -------------------------------------------------------------------
  // PMI collocations
  // -------------------------------------------------------------------

  test("pmiTop matches hand-computed PMI on a toy corpus") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    // unigrams a=3 b=2 c=1, T=6; bigrams: (a,b)x2 (a,c)x1, B=3
    val got = Collocations.pmiTop(docs, 10, floorOverride = Some(1L))
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    val pmiAB = BigDecimal(math.log((2.0 * 6 * 6) / (3.0 * 3 * 2)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pmiAC = BigDecimal(math.log((1.0 * 6 * 6) / (3.0 * 3 * 1)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map(("a", "b") -> (2L, pmiAB), ("a", "c") -> (1L, pmiAC)))
  }

  test("pmi floor: derived minCount filters rare pairs; topN caps output") {
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val out = Collocations.pmiTop(d, 20).collect()
    assert(out.length == 20, "fixture corpus should saturate topN")
    val counts = out.map(_.getLong(2))
    assert(counts.sameElements(counts.sortBy(-_)), "ordered by n_pair desc")
  }

  // -------------------------------------------------------------------
  // Hybrid RRF
  // -------------------------------------------------------------------

  test("hybridTopK: ranks 1..k per query, rrf consistent with contributing ranks") {
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val out = Retrieval.hybridTopK(d, e, registry.DedupQueries.HybridSpecs, 10, 20)
      .collect()
    val byQuery = out.groupBy(_.getInt(0))
    assert(byQuery.keySet == Set(1, 2, 3))
    byQuery.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to 10))
      // rrf nonincreasing in rank, and recomputable from the rank columns
      val rrfs = sorted.map(_.getDouble(3))
      assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b })
      sorted.foreach { r =>
        val lex = if (r.isNullAt(4)) None else Some(r.getInt(4))
        val vec = if (r.isNullAt(5)) None else Some(r.getInt(5))
        assert(lex.isDefined || vec.isDefined)
        val expect = lex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
          vec.map(x => 1.0 / (60 + x)).getOrElse(0.0)
        assert(math.abs(r.getDouble(3) - expect) < 1e-6)
      }
    }
  }

  // -------------------------------------------------------------------
  // Semantic decontamination
  // -------------------------------------------------------------------

  test("semanticReport flags cosine hits per label on hand-built vectors") {
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f), 0),  // cos 1.0 vs eval -> contaminated
      (11L, Array(0.0f, 1.0f), 0),  // orthogonal -> kept
      (12L, Array(-1.0f, 0.0f), 1)) // opposite -> kept
      .toDF("vec_id", "embedding", "label")
    val eval = Seq((99L, Array(1.0f, 0.0f), 9))
      .toDF("vec_id", "embedding", "label")
    val got = Decontaminate.semanticReport(corpus, eval, 0.9)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0, 2L, 1L, 1L), (1, 1L, 0L, 1L)))
  }

  test("semanticReport: multiple eval matches count once per corpus vector") {
    val corpus = Seq((1L, Array(1.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val eval = Seq(
      (2L, Array(1.0f, 0.0f), 9),
      (3L, Array(0.9f, 0.1f), 9)).toDF("vec_id", "embedding", "label")
    val got = Decontaminate.semanticReport(corpus, eval, 0.5).collect()
    assert(got.length == 1 && got(0).getLong(2) == 1L)
  }

  // -------------------------------------------------------------------
  // Token-distribution KL drift
  // -------------------------------------------------------------------

  test("tokenKlReport matches hand-computed KL on a toy corpus") {
    import graft.operators.CorpusStats
    val docs = Seq((1L, "a", "x x y"), (2L, "b", "x z"))
      .toDF("doc_id", "source", "text")
    // corpus: x=3 y=1 z=1, T=5
    def nano(c: Long, t: Long, ca: Long): Long = {
      val p = c.toDouble / t; val q = ca.toDouble / 5
      math.round((p * math.log(p / q)) * 1e9)
    }
    def kl(parts: Long*): Double =
      BigDecimal(parts.sum / 1e9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = CorpusStats.tokenKlReport(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(
      "a" -> (2L, 3L, kl(nano(2, 3, 3), nano(1, 3, 1))),
      "b" -> (2L, 2L, kl(nano(1, 2, 3), nano(1, 2, 1)))))
  }

  test("tokenKl: a source identical to the blend has KL ~ 0; skewed source > 0") {
    import graft.operators.CorpusStats
    // two sources with the SAME distribution -> blend == each source
    val same = Seq((1L, "a", "x y"), (2L, "b", "x y"))
      .toDF("doc_id", "source", "text")
    assert(CorpusStats.tokenKlReport(same).collect()
      .forall(_.getDouble(3) == 0.0))
    val skew = Seq((1L, "a", "x x x x"), (2L, "b", "y y y y"))
      .toDF("doc_id", "source", "text")
    assert(CorpusStats.tokenKlReport(skew).collect()
      .forall(_.getDouble(3) > 0.5)) // ln(2) each
  }

  // -------------------------------------------------------------------
  // Weighted sampling
  // -------------------------------------------------------------------

  test("weightedSample: inclusion skews toward heavy rows, deterministic, excludes w<=0") {
    import graft.operators.{Sampling, TextOps}
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    val s1 = Sampling.weightedSample(d, "n_tokens", 100).collect()
    val s2 = Sampling.weightedSample(d, "n_tokens", 100).collect()
    assert(s1.map(_.getLong(0)).toSeq == s2.map(_.getLong(0)).toSeq, "replay-stable")
    val sampleMean = s1.map(_.getLong(1)).sum.toDouble / s1.length
    val corpusMean = d.agg(avg("n_tokens")).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"weighted sample should skew heavy: $sampleMean vs $corpusMean")
    // zero-weight rows can never appear
    val withZero = d.withColumn("n_tokens",
      when(col("doc_id") % 2 === 0, lit(0L)).otherwise(col("n_tokens")))
    val ids = Sampling.weightedSample(withZero, "n_tokens", 100)
      .collect().map(_.getLong(0))
    assert(ids.forall(_ % 2 != 0))
  }

  // -------------------------------------------------------------------
  // Bloom-pruned join
  // -------------------------------------------------------------------

  test("prunedInnerJoin equals the plain join and actually prunes the scan") {
    import graft.operators.BloomJoin
    val sf = "/root/testdata/sf0.001"
    val sel = Tables.load(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("k"), col("o_totalprice"))
    val fact = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_quantity"))
    val plain = fact.join(sel, Seq("k"))
    val pruned = BloomJoin.prunedInnerJoin(fact, sel, Seq("k"))
    assert(pruned.count() == plain.count())
    assert(pruned.agg(sum("l_quantity")).head().getDouble(0) ==
      plain.agg(sum("l_quantity")).head().getDouble(0))
    // the membership test must cut the fact side well below full size
    // (selective dim slice) while keeping every true match
    val bloom = BloomJoin.buildBloom(sel, Seq("k"))
    val passed = fact.filter(BloomJoin.mightContain(bloom, Seq(col("k")))).count()
    assert(passed >= plain.count(), "bloom must never drop a true match")
    assert(passed < fact.count() / 2,
      s"expected substantial pruning, passed $passed of ${fact.count()}")
  }

  test("prunedInnerJoin: empty small side yields an empty result") {
    import graft.operators.BloomJoin
    val sf = "/root/testdata/sf0.001"
    val sel = Tables.load(spark, sf, "orders")
      .filter(col("o_orderpriority") === "no-such-priority")
      .select(col("o_orderkey").as("k"))
    val fact = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey").as("k"))
    assert(BloomJoin.prunedInnerJoin(fact, sel, Seq("k")).count() == 0)
  }

  // -------------------------------------------------------------------
  // Temperature mixture
  // -------------------------------------------------------------------

  test("temperatureRebalance flattens a skewed mixture at alpha=0.5") {
    import graft.operators.Mixture
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val in = d.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = Mixture.temperatureRebalance(d, "source", 0.5)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == in.keySet)
    assert(out.forall { case (s, n) => n <= in(s) }, "downsample only")
    // flattening: the kept-share of the biggest source must be LOWER
    // than that of the smallest source (sqrt compresses the ratio)
    val big = in.maxBy(_._2)._1
    val small = in.minBy(_._2)._1
    if (in(big) > in(small)) {
      val shareBig = out(big).toDouble / in(big)
      val shareSmall = out(small).toDouble / in(small)
      assert(shareBig < shareSmall,
        s"expected big source downsampled harder: $shareBig vs $shareSmall")
    }
  }

  test("temperatureRebalance at alpha=1 keeps every row") {
    import graft.operators.Mixture
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    assert(Mixture.temperatureRebalance(d, "source", 1.0).count() == d.count())
  }

  // -------------------------------------------------------------------
  // Embedding drift
  // -------------------------------------------------------------------

  test("embedding drift of identical snapshots is cos=1, norm_ratio=1") {
    import graft.operators.EmbeddingDrift
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val rep = EmbeddingDrift.report(e, e).collect()
    assert(rep.length == 10)
    assert(rep.forall(r => r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0))
  }

  test("embedding drift detects a deliberate scale+rotate shift") {
    import graft.operators.EmbeddingDrift
    val oldV = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f), 0)).toDF("vec_id", "embedding", "label")
    // new snapshot: doubled norms, one vector flipped -> centroid rotates
    val newV = Seq(
      (1L, Array(2.0f, 0.0f), 0),
      (2L, Array(0.0f, -2.0f), 0)).toDF("vec_id", "embedding", "label")
    val r = EmbeddingDrift.report(oldV, newV).collect()(0)
    // old centroid (0.5, 0.5), new (1.0, -1.0): cos = 0, norm ratio = 2
    assert(r.getDouble(3) == 0.0 && r.getDouble(4) == 2.0)
    assert(r.getLong(1) == 2L && r.getLong(2) == 2L)
  }
}

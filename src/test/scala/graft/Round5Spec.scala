package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Deciles, TextOps}

class Round5Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def tokenDocs = Tables.load(spark, sf, "documents")
    .select(col("source"), col("doc_id"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))

  test("approx deciles: populations track the exact deciles within tolerance") {
    val exact = Deciles.report(tokenDocs, "source", "n_tokens", "doc_id",
        exact = true)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val approx = Deciles.report(tokenDocs, "source", "n_tokens", "doc_id",
        exact = false)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    // same groups; decile ids in range
    assert(approx.keys.map(_._1).toSet == exact.keys.map(_._1).toSet)
    assert(approx.keys.forall { case (_, d) => d >= 1 && d <= 10 })
    // per-source totals identical (classification is total: every row
    // lands in exactly one bucket)
    val exactTotals = exact.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val approxTotals = approx.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    assert(approxTotals == exactTotals)
    // each bucket within 50% + 2 of the ideal equal share (ties group
    // together in the approx path where ntile splits them — the fixture's
    // token counts repeat heavily at small SF, hence the loose band)
    approxTotals.foreach { case (src, n) =>
      val ideal = n.toDouble / 10
      (1 to 10).foreach { d =>
        val got = approx.getOrElse((src, d), 0L).toDouble
        assert(got <= ideal * 2.5 + 2,
          s"approx decile ($src, $d) holds $got of ~$ideal rows")
      }
    }
  }

  test("approx decile assignment is total and ordered by value") {
    val assigned = Deciles.assign(tokenDocs, "source", "n_tokens", "doc_id",
      exact = false)
    assert(assigned.filter(col("decile") < 1 || col("decile") > 10).count() == 0)
    // monotone: a doc with strictly more tokens never lands in a lower decile
    val perSource = assigned
      .groupBy("source", "decile")
      .agg(min("n_tokens").as("lo"), max("n_tokens").as("hi"))
      .orderBy("source", "decile")
      .collect()
    perSource.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(3) <= b.getLong(2),
            s"decile ${b.getInt(1)} starts below decile ${a.getInt(1)}'s max")
        case _ => ()
      }
    }
  }

  test("q61/q61a: capped minhash output is a subset of the exact q34 pairs") {
    val d = Tables.load(spark, sf, "documents")
    val exact = graft.operators.Dedup.minhashNearDups(d)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.util.Caches.releaseAll()
    val capped = graft.operators.Dedup.minhashNearDups(d,
        maxBucketSize = Some(registry.DedupQueries.TightBucketCap))
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.util.Caches.releaseAll()
    assert(capped.subsetOf(exact), "the cap may only DROP pairs, never add")
  }

  test("chunking: window/stride geometry on a hand-built doc") {
    import spark.implicits._
    val d = Seq((1L, "aa bb cc dd ee"), (2L, ""), (3L, "zz"))
      .toDF("doc_id", "text")
    val chunks = graft.operators.Chunk.chunkByTokens(d, window = 3, stride = 2)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    // doc 1: 5 tokens, starts 0/2/4 -> "aa bb cc", "cc dd ee", "ee";
    // doc 2: empty -> no rows; doc 3: single token
    assert(chunks.toSeq == Seq(
      (1L, 0, 3L, "aa bb cc"), (1L, 1, 3L, "cc dd ee"), (1L, 2, 1L, "ee"),
      (3L, 0, 1L, "zz")))

    // carryCols ride through onto every chunk row
    val withSrc = graft.operators.Chunk.chunkByTokens(
      d.withColumn("source", concat(lit("s"), col("doc_id"))),
      window = 3, stride = 2, carryCols = Seq("source"))
      .select("doc_id", "source").distinct()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(withSrc == Map(1L -> "s1", 3L -> "s3"))
  }

  test("chunking: fixture coverage — chunk counts and token accounting") {
    val (w, s) = (registry.TextQueries.ChunkWindow, registry.TextQueries.ChunkStride)
    val d = Tables.load(spark, sf, "documents")
    val chunks = graft.operators.Chunk.chunkByTokens(d, w, s)
    val perDoc = chunks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), max("chunk_idx").as("max_idx"),
        sum("n_tokens").as("tok_sum"))
    val docs = d.select(col("doc_id"),
      TextOps.tokenCount(col("text")).cast("long").as("n"))
    val joined = perDoc.join(docs, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (nChunks, maxIdx, tokSum, n) =
        (r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))
      assert(nChunks == math.ceil(n.toDouble / s).toLong, s"doc ${r.getLong(0)}")
      assert(maxIdx == nChunks - 1)
      // overlap = w - s per interior boundary; token accounting is exact
      val expected = (0L until nChunks).map(i => math.min(n - i * s, w.toLong)).sum
      assert(tokSum == expected)
    }
  }

  test("incremental dedup: drops known and within-batch duplicates, keeps min id") {
    import spark.implicits._
    val existing = Seq((100L, "the same old text")).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "the same old text"),      // known fingerprint -> dropped
      (2L, "THE SAME old TEXT!!"),    // same token set -> known -> dropped
      (3L, "fresh words here"),       // new fp, min id -> kept
      (4L, "fresh words here"),       // within-batch dup -> dropped
      (5L, "another new doc"))        // kept
      .toDF("doc_id", "text")
    val kept = graft.operators.Dedup.incrementalNewDocs(incoming, existing)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 5L))
  }

  test("stratified sample: per-stratum rates are honored exactly") {
    import spark.implicits._
    val df = (0L until 300L).map(i => (i, s"src${i % 3}")).toDF("doc_id", "source")
    val out = graft.operators.Sampling.stratifiedSample(df, "source",
      Map("src0" -> 1.0, "src1" -> 0.0), defaultRate = 0.5)
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("src0") == 100L, "rate 1.0 keeps every row")
    assert(!out.contains("src1"), "rate 0.0 keeps none")
    val mid = out.getOrElse("src2", 0L)
    assert(mid > 20L && mid < 80L, s"default 0.5 kept $mid of 100")
    // determinism + subset property: same rows on rerun
    val again = graft.operators.Sampling.stratifiedSample(df, "source",
      Map("src0" -> 1.0, "src1" -> 0.0), defaultRate = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val first = graft.operators.Sampling.stratifiedSample(df, "source",
      Map("src0" -> 1.0, "src1" -> 0.0), defaultRate = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == first)
  }

  test("mixture rebalance: binding stratum keeps all, output tracks target shares") {
    import spark.implicits._
    // 400/200/100 rows of a/b/c with target 25/25/50: c binds (100/0.5=200),
    // so expected kept ≈ 50/50/100
    val df = ((0L until 400L).map(i => (i, "a")) ++
      (1000L until 1200L).map(i => (i, "b")) ++
      (2000L until 2100L).map(i => (i, "c")))
      .toDF("doc_id", "source")
    val shares = Map("a" -> 0.25, "b" -> 0.25, "c" -> 0.5)
    val out = graft.operators.Mixture.rebalance(df, "source", shares)
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("c") == 100L, "the binding stratum must keep every row")
    // hash-filter keep counts are binomial around the exact rate
    assert(out("a") > 25L && out("a") < 80L, s"a kept ${out("a")} of ~50")
    assert(out("b") > 25L && out("b") < 80L, s"b kept ${out("b")} of ~50")
    // unlisted strata are dropped
    val withJunk = df.union(Seq((5000L, "junk")).toDF("doc_id", "source"))
    val out2 = graft.operators.Mixture.rebalance(withJunk, "source", shares)
    assert(out2.filter(col("source") === "junk").count() == 0)
  }

  test("semantic dedup: one representative per cluster, no kept near-dup pair") {
    // sf0.01: the smallest fixture with cosine-0.45 near-dup pairs (q38)
    val e = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val pairs = graft.operators.Similarity.nearDupPairs(e, "label", 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture should contain embedding near-dups")
    val kept = graft.operators.Similarity.semanticDedup(e, "label", 0.45)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    graft.util.Caches.releaseAll()
    // directly-paired vectors share a cluster — at most one survives
    pairs.foreach { case (a, b) =>
      assert(!(kept(a) && kept(b)), s"near-dup pair ($a, $b) both kept")
    }
    // count identity: kept = all - (clustered members - clusters)
    val cc = graft.operators.Dedup.connectedComponents(
      graft.operators.Similarity.nearDupPairs(e, "label", 0.45),
      "vec_a", "vec_b")
    val members = cc.count()
    val clusters = cc.select("cluster").distinct().count()
    graft.util.Caches.releaseAll()
    assert(kept.size == e.count() - (members - clusters))
  }

  test("connected components: empty pair relation yields empty labels, not a crash") {
    import spark.implicits._
    // regression: sum over the empty edge set is NULL; an LSH blocking
    // that finds no pairs is a legitimate input
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(graft.operators.Dedup.connectedComponents(empty).count() == 0)
    graft.util.Caches.releaseAll()
    // semantic dedup over a pairless corpus keeps everything
    val e = Tables.load(spark, sf, "embeddings")
    val kept = graft.operators.Similarity.semanticDedupLsh(e, 0.9999, nPlanes = 6)
    assert(kept.count() == e.count())
    graft.util.Caches.releaseAll()
  }

  test("round-5 queries are wired with oracles") {
    val qs = SparkEntry.queries
    val os = SparkEntry.oracleSql
    Seq("q58a_token_deciles_approx", "q62a_asof_strict", "q62b_asof_left",
      "q64a_split_leakage_safe", "q61a_minhash_cap_bind", "q66_chunking",
      "q67_incremental_dedup", "q68_stratified_sample",
      "q69_mixture_rebalance", "q70_semantic_dedup",
      "q70a_semantic_dedup_lsh", "q71_corpus_pipeline").foreach { q =>
      assert(qs.contains(q), s"$q missing from SparkEntry.queries")
    }
    Seq("q58a_token_deciles_approx",
      "q61_minhash_capped", "q61a_minhash_cap_bind", "q62a_asof_strict",
      "q62b_asof_left", "q64a_split_leakage_safe", "q66_chunking",
      "q67_incremental_dedup", "q68_stratified_sample",
      "q69_mixture_rebalance", "q70_semantic_dedup",
      "q70a_semantic_dedup_lsh", "q71_corpus_pipeline").foreach { q =>
      assert(os.contains(q), s"$q missing from SparkEntry.oracleSql")
    }
  }
}

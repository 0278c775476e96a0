package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{CorpusStats, Dedup, Export}

class CorpusStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fixture = Tables.load(spark, "/root/testdata/sf0.001", "documents")

  // -------------------------------------------------------------------
  // Boilerplate scoring
  // -------------------------------------------------------------------

  test("boilerplateScores: hand-computed frequencies on a toy corpus") {
    // "a b" appears in docs 1,2,3 (df=3); "b c" in 1,2 (df=2); "c d" in 1
    val docs = Seq(
      (1L, "s", "a b c d"),   // shingles: a b, b c, c d
      (2L, "s", "a b c"),     // a b, b c
      (3L, "s", "a b"),       // a b
      (4L, "s", "x"))         // no shingles
      .toDF("doc_id", "source", "text")
    val scored = CorpusStats.boilerplateScores(docs, minDf = 2L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_frequent"),
          r.getAs[Double]("boiler_ratio"))).toMap
    assert(scored(1L) == ((3L, 2L, 0.6667)))
    assert(scored(2L) == ((2L, 2L, 1.0)))
    assert(scored(3L) == ((1L, 1L, 1.0)))
    assert(scored(4L) == ((0L, 0L, 0.0))) // shingle-less doc kept, scores 0
  }

  test("boilerplateScores: ratio bounded in [0,1] and total on the fixture") {
    val d = fixture
    val scored = CorpusStats.boilerplateScores(d, minDf = 5L)
    assert(scored.count() == d.count(), "every doc gets a score")
    val bad = scored.filter(col("boiler_ratio") < 0 || col("boiler_ratio") > 1).count()
    assert(bad == 0L)
  }

  test("boilerplateScores: minDf=1 marks every shingle frequent") {
    val d = fixture.limit(50)
    val all1 = CorpusStats.boilerplateScores(d, minDf = 1L)
      .filter(col("n_shingles") > 0)
      .filter(col("boiler_ratio") =!= 1.0).count()
    assert(all1 == 0L, "df >= 1 holds for every present shingle")
  }

  // -------------------------------------------------------------------
  // Unigram LM scoring
  // -------------------------------------------------------------------

  test("unigramNll: hand-computed surprisal on a toy corpus") {
    // corpus tokens: a a a b — T=4, p(a)=3/4, p(b)=1/4
    val docs = Seq((1L, "s", "a a a"), (2L, "s", "b"))
      .toDF("doc_id", "source", "text")
    val r = CorpusStats.unigramNll(docs)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_tokens"), x.getAs[Double]("avg_nll"))).toMap
    val nllA = math.log(4.0 / 3.0)
    val nllB = math.log(4.0 / 1.0)
    assert(r(1L)._1 == 3L)
    assert(math.abs(r(1L)._2 - BigDecimal(nllA).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(r(2L)._1 == 1L)
    assert(math.abs(r(2L)._2 - BigDecimal(nllB).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("unigramNll: rare-token docs score strictly higher than common-token docs") {
    val docs = Seq(
      (1L, "s", "common common common common common common common common"),
      (2L, "s", "rareword"))
      .toDF("doc_id", "source", "text")
    val r = CorpusStats.unigramNll(docs)
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("avg_nll")).toMap
    assert(r(2L) > r(1L))
  }

  test("unigramNll: fixture scores are positive and token counts match tokenCount") {
    val d = fixture
    val scored = CorpusStats.unigramNll(d)
    assert(scored.filter(col("avg_nll") <= 0).count() == 0L,
      "ln(T/cnt) >= ln(1) for every token, > 0 unless a single token dominates the corpus")
    val direct = d.select(sum(operators.TextOps.tokenCount(col("text"))))
      .collect().head.getLong(0)
    val viaScores = scored.agg(sum("n_tokens")).collect().head.getLong(0)
    assert(direct == viaScores, "occurrence totals agree with the tokenizer")
  }

  // -------------------------------------------------------------------
  // Duplicated-span coverage
  // -------------------------------------------------------------------

  test("spanCoverage: hand-computed interval unions on a toy corpus") {
    // the 1/2 pair and the 4/5 pair use disjoint vocabularies so each
    // doc's duplicated spans come only from its intended partner
    val docs = Seq(
      (1L, "s", "a b c d e"),     // shares ONLY "a b c" with doc 2 → 3/5
      (2L, "s", "x a b c y"),     // 3/5
      (3L, "s", "p q r s"),       // nothing shared → 0
      (4L, "s", "f g h i"),       // spans "f g h","g h i" shared w/ 5 → union 4/4
      (5L, "s", "f g h i z"),     // 4/5
      (6L, "s", "m n o m n o"),   // span repeats only WITHIN the doc → 0
      (7L, "s", "xy"))            // shorter than k → 0
      .toDF("doc_id", "source", "text")
    val r = CorpusStats.spanCoverage(docs, k = 3)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("covered_tokens"), x.getAs[Double]("dup_coverage"))).toMap
    assert(r(1L) == ((3L, 0.6)))
    assert(r(2L) == ((3L, 0.6)))
    assert(r(3L) == ((0L, 0.0)))
    assert(r(4L) == ((4L, 1.0)), "overlapping shared spans must union, not add")
    assert(r(5L) == ((4L, 0.8)))
    assert(r(6L) == ((0L, 0.0)), "within-doc repetition is not cross-doc duplication")
    assert(r(7L) == ((0L, 0.0)))
    assert(r.size == 7, "every doc scores, including short and clean ones")
  }

  test("spanCoverage: identical docs reach coverage 1.0; bounds hold on the fixture") {
    val d = fixture
    val twins = Seq((900001L, "s", "one two three four five six seven eight nine ten"),
      (900002L, "s", "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "source", "text")
    val r = CorpusStats.spanCoverage(twins, k = 8)
      .collect().map(_.getAs[Double]("dup_coverage"))
    assert(r.forall(_ == 1.0), "exact copies are fully covered")
    val bad = CorpusStats.spanCoverage(d.limit(100), k = 8)
      .filter(col("dup_coverage") < 0 || col("dup_coverage") > 1 ||
        col("covered_tokens") > col("n_tokens")).count()
    assert(bad == 0L)
  }

  // -------------------------------------------------------------------
  // Source-overlap matrix
  // -------------------------------------------------------------------

  test("sourceOverlap: hand-computed matrix, including a zero-overlap pair") {
    val docs = Seq(
      (1L, "s1", "a b c"),  // s1 shingles: {a b, b c}
      (2L, "s2", "a b"),    // s2: {a b}
      (3L, "s3", "x y"))    // s3: {x y} — disjoint
      .toDF("doc_id", "source", "text")
    val m = CorpusStats.sourceOverlap(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("n_common"), r.getAs[Double]("jaccard"))).toMap
    assert(m.size == 3, "full upper triangle: 3 pairs for 3 sources")
    assert(m(("s1", "s2")) == ((2L, 1L, 1L, 0.5)))
    assert(m(("s1", "s3")) == ((2L, 1L, 0L, 0.0)))
    assert(m(("s2", "s3")) == ((1L, 1L, 0L, 0.0)))
  }

  test("sourceOverlap: symmetric-definition sanity on the fixture") {
    val d = fixture
    val nSources = d.select("source").distinct().count()
    val m = CorpusStats.sourceOverlap(d)
    assert(m.count() == nSources * (nSources - 1) / 2, "full upper triangle")
    val bad = m.filter(col("jaccard") < 0 || col("jaccard") > 1 ||
      col("n_common") > least(col("n_a"), col("n_b"))).count()
    assert(bad == 0L)
  }

  // -------------------------------------------------------------------
  // Incremental near-dup (cross-corpus LSH)
  // -------------------------------------------------------------------

  test("incrementalNearDups: equals the cross-membership slice of the full-corpus run") {
    val d = fixture
    val mod = registry.TextQueries.BenchMod
    val existing = d.filter(col("doc_id") % mod === 0)
    val incoming = d.filter(col("doc_id") % mod =!= 0)
    val crossPairs = Dedup.incrementalNearDups(incoming, existing)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.util.Caches.releaseAll()
    val full = Dedup.minhashNearDups(d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.util.Caches.releaseAll()
    val expected = full.collect {
      case (a, b) if (a % mod == 0) != (b % mod == 0) =>
        if (a % mod == 0) (b, a) else (a, b) // (incoming, existing)
    }
    assert(crossPairs == expected)
  }

  test("incrementalNearDups: exact duplicate across corpora is always found") {
    val existing = Seq((17L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // exact dup
      (2L, "completely different words entirely unrelated content here"))
      .toDF("doc_id", "text")
    val r = Dedup.incrementalNearDups(incoming, existing)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    assert(r.toSeq == Seq((1L, 17L, 1.0)))
  }

  // -------------------------------------------------------------------
  // Training-export sharding
  // -------------------------------------------------------------------

  test("assignTrainingOrder: total, deterministic, seed changes the order") {
    val d = fixture
    val a = Export.assignTrainingOrder(d, numShards = 8, seed = 7L)
    assert(a.count() == d.count())
    assert(a.filter(col("shard") < 0 || col("shard") >= 8).count() == 0L)
    val o1 = a.select("doc_id", "ord").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val o2 = Export.assignTrainingOrder(d, 8, 7L)
      .select("doc_id", "ord").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(o1 == o2, "same seed, same order")
    val o3 = Export.assignTrainingOrder(d, 8, 8L)
      .select("doc_id", "ord").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(o1 != o3, "different seed reshuffles")
  }

  test("writeTrainingShards: shard dirs are pure and internally ordered") {
    val d = fixture.limit(200)
    val out = java.nio.file.Files.createTempDirectory("graft_shards").toString
    try {
      Export.writeTrainingShards(d, numShards = 4, path = out, seed = 3L)
      val back = spark.read.parquet(out)
      assert(back.count() == 200L)
      // each shard directory holds exactly its own shard, ordered by (ord, id)
      (0 until 4).foreach { sh =>
        val rows = spark.read.parquet(s"$out/shard=$sh")
          .select("ord", "doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
        assert(rows.sameElements(rows.sortBy(identity)),
          s"shard $sh must be written in (ord, doc_id) order")
      }
      // round-trip order matches assignTrainingOrder
      val assigned = Export.assignTrainingOrder(d, 4, 3L)
        .select("doc_id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val written = back.select("doc_id", "shard").collect()
        .map(r => r.getLong(0) -> r.getAs[Number]("shard").longValue()).toMap
      assert(assigned == written)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("shardStats: totals reconcile and bounds are true argmin/argmax") {
    val d = fixture
    val stats = Export.shardStats(d, ExportShardsForTest, seed = 7L)
    val total = stats.agg(sum("n_docs")).collect().head.getLong(0)
    assert(total == d.count())
    // first_doc of each shard really is the minimum (ord, id) member
    val assigned = Export.assignTrainingOrder(d, ExportShardsForTest, 7L)
      .select("shard", "ord", "doc_id").collect()
      .groupBy(_.getLong(0))
    stats.collect().foreach { r =>
      val sh = r.getLong(0)
      val members = assigned(sh).map(x => (x.getLong(1), x.getLong(2))).sorted
      assert(r.getAs[Long]("first_doc") == members.head._2)
      assert(r.getAs[Long]("last_doc") == members.last._2)
    }
  }

  private val ExportShardsForTest = 8
}

package graft

import java.sql.Timestamp

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Chat, Collocations, Concentration, CorpusStats,
  Deciles, Decontaminate, Dedup, Diff, Export, Mixture, Multimodal, Pack,
  QualityModel, Repetition, Retrieval, Sampling, Scrub, Sessionize,
  Similarity, Split, TextOps, TimeSeries}
import graft.util.SkewJoin
import graft.util.TempDirs.withTempDir

import Multimodal.{AudioCodec, VideoContainer}

import TestSpark._

// Specs of the operators behind [[registry.TextQueries]].
//
// Text and corpus preparation: tokenisation and quality statistics,
// normalisation, scrubbing, decontamination, sampling and mixture
// weighting, chunking and packing, language-model corpus statistics,
// keyword extraction, multimodal payload metadata and sketch-based
// token frequency.
//
// Each suite keeps its class name, so every test keeps the suite-qualified
// name it is reported under; the suites are grouped here by domain.

class CorpusStatsSpec extends AnyFunSuite {
  import spark.implicits._

  private def fixture = Tables.load(spark, sf, "documents")

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
    withTempDir("graft_shards") { out =>
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

class ExtSpec extends AnyFunSuite {
  import spark.implicits._


  test("sessionize: gap strictly greater than threshold starts a new session") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10L, 1.0),
      (2L, ts("2024-01-01 00:30:00"), 10L, 2.0), // gap == 1800 → same session
      (3L, ts("2024-01-01 01:00:01"), 10L, 3.0), // gap 1801 → new session
      (4L, ts("2024-01-01 09:00:00"), 10L, 4.0), // new session
      (5L, ts("2024-01-01 00:00:00"), 20L, 5.0)  // other user
    ).toDF("event_id", "ts", "user_id", "value")
    val r = Sessionize.sessionSummary(ev, 1800L).orderBy("user_id", "session_idx")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq(
      (10L, 1L, 2L, 1800L), // events 1+2 span exactly the gap
      (10L, 2L, 1L, 0L),
      (10L, 3L, 1L, 0L),
      (20L, 1L, 1L, 0L)))
  }

  test("sessionize: deterministic tiebreak on equal timestamps") {
    val t0 = ts("2024-01-01 00:00:00")
    val ev = Seq((2L, t0, 1L, 1.0), (1L, t0, 1L, 1.0))
      .toDF("event_id", "ts", "user_id", "value")
    val r = Sessionize.assignSessions(ev, 60L).orderBy("event_id")
      .select("session_idx").collect().map(_.getLong(0))
    assert(r.toSeq == Seq(1L, 1L)) // same instant → one session regardless of order
  }

  test("salted join returns exactly the plain join's rows") {
    val o = Tables.load(spark, sf, "orders").select(col("o_orderkey").as("k"), col("o_orderpriority"))
    val l = Tables.load(spark, sf, "lineitem").select(col("l_orderkey").as("k"), col("l_extendedprice"))
    val plain = o.join(l, "k")
    val salted = SkewJoin.saltedInnerJoin(o, l, Seq("k"), salts = 8)
    assert(salted.count() == plain.count())
    assert(salted.columns.toSeq == plain.columns.toSeq)
    // exact multiset equality via groupBy-count anti-join in both directions
    val pg = plain.groupBy(plain.columns.map(col): _*).count()
    val sg = salted.groupBy(salted.columns.map(col): _*).count()
    assert(pg.except(sg).isEmpty && sg.except(pg).isEmpty)
  }

  test("word n-grams: n=1 is distinct tokens, n=3 is trigrams, short docs empty") {
    def run(c: org.apache.spark.sql.Column, s: String) =
      Seq(s).toDF("text").select(c.as("r")).collect().head.getSeq[String](0).toList
    assert(run(TextOps.ngrams(col("text"), 1), "b a b a") == List("b", "a"))
    assert(run(TextOps.ngrams(col("text"), 3), "a b c d") == List("a b c", "b c d"))
    assert(run(TextOps.ngrams(col("text"), 3), "a b") == Nil)
    assert(run(TextOps.ngrams(col("text"), 2), "x y x y") ==
      run(TextOps.bigrams(col("text")), "x y x y"))
  }

  test("tfidf: corpus-wide terms score zero, distinctive terms rank first") {
    val docs = Seq(
      (1L, "a", "common apple apple"),
      (2L, "a", "common banana"),
      (3L, "b", "common cherry")).toDF("doc_id", "source", "text")
    val scored = graft.operators.Relevance.tfidf(docs, "source")
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_id")) ->
        r.getAs[Double]("tfidf")).toMap
    assert(scored(("common", 1L)) == 0.0) // df = N → ln(1) = 0
    assert(math.abs(scored(("apple", 1L)) - 2.0 * math.log(3.0)) < 1e-12)
    val top = graft.operators.Relevance.topTerms(docs, "source", 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(top("a") == "apple" && top("b") == "cherry")
  }

  test("labelProfile: identical members give cohesion 1, count and norm right") {
    val e = Seq(
      (0L, 0L, Array(3.0f, 4.0f)), (1L, 0L, Array(3.0f, 4.0f)),
      (2L, 1L, Array(1.0f, 0.0f)), (3L, 1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val r = graft.operators.Similarity.labelProfile(e)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2), x.getDouble(3))).toMap
    assert(r(0L) == ((2L, 5.0, 1.0)))
    assert(r(1L)._1 == 2L && math.abs(r(1L)._3 - math.cos(math.Pi / 4)) < 1e-3)
  }

  test("incremental monitor: first run profiles all, second run skips unchanged") {
    withTempDir("graft-incr") { tmp =>
      // copy two fixture tables into a mutable dir
      val src = sf
      val targets = Seq("nation", "region")
      for (t <- targets)
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$src/$t.parquet"),
          java.nio.file.Paths.get(s"$tmp/$t.parquet"))
      // (profiled, unchanged) as the runner's fan-in reports them
      def run(): (Double, Double) = {
        val m = graft.run.MonitorRunner.run(spark, tmp, targets, tmp + "/state")
          .filter(col("key").startsWith("all_tables.tables_")).collect()
          .map(r => r.getAs[String]("key") -> r.getAs[Double]("valueDouble")).toMap
        (m("all_tables.tables_profiled"), m("all_tables.tables_unchanged"))
      }
      assert(run() == ((2.0, 0.0)))
      assert(run() == ((0.0, 2.0)))
      // touch one table → only it is re-profiled
      val f = new java.io.File(s"$tmp/nation.parquet")
      assert(f.setLastModified(System.currentTimeMillis() + 5000))
      assert(run() == ((1.0, 1.0)))
    }
  }

  test("parallel monitor fan-out loses no state rows or metrics") {
    withTempDir("graft-par") { tmp =>
      val targets = Seq("nation", "region", "supplier", "customer")
      val metrics = graft.run.MonitorRunner.run(spark, sf,
        targets, tmp + "/state", parallelism = 4)
      val keys = metrics.select("key").collect().map(_.getString(0)).toSet
      targets.foreach(t => assert(keys.contains(s"$t.record_count"), s"missing $t metric"))
      // concurrent snapshot rewrites must not drop any table's state
      val state = new graft.state.StateStore(tmp + "/state")
      targets.foreach { t =>
        assert(state.get(spark, t, "record_count").nonEmpty, s"lost state for $t")
        assert(state.get(spark, t, "columns").nonEmpty)
      }
    }
  }

  test("native expressions are callable from SQL after registration") {
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql("""
      SELECT graft_poly_hash('ab') AS h,
             graft_tokens('Hello, World!') AS t,
             graft_ngrams('a b c d', 3) AS g,
             graft_array_jaccard(array('x','y'), array('y','z')) AS j,
             graft_array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
             graft_window_hashes('a b c d', 3) AS wh
    """).collect().head
    assert(r.getAs[Long]("h") == 3105L)
    // positioned: [hash('a b c'), hash('b c d')] — mirrors graft_ngrams
    assert(r.getSeq[Long](5).length == 2)
    assert(r.getSeq[String](1).toList == List("hello", "world"))
    assert(r.getSeq[String](2).toList == List("a b c", "b c d"))
    assert(math.abs(r.getAs[Double]("j") - 1.0 / 3) < 1e-9)
    assert(r.getAs[Double]("d") == 11.0)
    // and through a full SQL pipeline over a temp view
    Tables.load(spark, sf, "documents").limit(50)
      .createOrReplaceTempView("docs_sqlfn")
    val n = spark.sql(
      "SELECT count(*) FROM docs_sqlfn WHERE size(graft_bigrams(text)) > 0")
      .collect().head.getLong(0)
    assert(n > 0)
  }

  test("connected components merge transitive near-dup chains") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (9L, 8L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val cc = graft.operators.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 7L, 20L -> 20L, 21L -> 20L))
    val sizes = graft.operators.Dedup.clusterSizes(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(1L -> 3L, 7L -> 3L, 20L -> 2L))
  }

  test("prep pipeline: normalize, quality-filter and dedup compose") {
    val prose = "the quick brown fox jumps and it is a fine day in the field " * 3
    val docs = Seq(
      (1L, "a", prose + " https://x.example/path"),
      (2L, "a", prose), // same token set as 1 after URL strip → retired
      (3L, "a", "@@@@ ####"), // junk → quality-filtered
      (4L, "b", prose + " extra words here")
    ).toDF("doc_id", "source", "text")
    val kept = graft.operators.Pipeline.prepareCorpus(docs, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L))
    val report = graft.operators.Pipeline.corpusReport(docs, 0.5)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(report("a") == ((3L, 1L)) && report("b") == ((1L, 1L)))
  }

  test("normalize strips URLs, collapses whitespace, trims") {
    def one(s: String) = Seq(s).toDF("text")
      .select(TextOps.normalize(col("text")).as("r")).collect().head.getString(0)
    assert(one("  see https://ex.com/a?b=1 now\n\tok  ") == "see now ok")
    assert(one("no urls here") == "no urls here")
    assert(one("http://only.example ") == "")
  }
}

class SplitPackSpec extends AnyFunSuite {
  import spark.implicits._

  private val weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  test("assignSplits: deterministic, total, append-stable, roughly proportional") {
    val docs = Tables.load(spark, sf, "documents")
    val a = Split.assignSplits(docs, weights)
    val counts = a.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet.subsetOf(Set("train", "val", "test")))
    val n = counts.values.sum.toDouble
    assert(counts("train") / n > 0.7 && counts("train") / n < 0.9)
    // append stability: a doc's split is identical when assigned in a subset
    val sub = Split.assignSplits(docs.limit(100), weights)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val full = a.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    sub.foreach { case (id, s) => assert(full(id) == s) }
  }

  test("leakage-safe splits: every near-dup cluster lands in exactly one split") {
    val docs = Tables.load(spark, sf, "documents")
    val pairs = Dedup.minhashNearDups(docs)
    val assigned = Split.assignSplitsLeakageSafe(docs, pairs, weights)
    graft.util.Caches.releaseAll()
    val cc = Dedup.connectedComponents(pairs)
    val perCluster = assigned
      .join(cc.withColumnRenamed("doc_id", "doc_id"), Seq("doc_id"))
      .groupBy("cluster").agg(count_distinct(col("split")).as("k"))
      .agg(max("k")).collect().head.getLong(0)
    graft.util.Caches.releaseAll()
    assert(perCluster == 1L,
      "members of one near-dup cluster must share a split")
  }

  test("assignShards: budget respected up to one doc, order deterministic, no gaps") {
    val docs = Seq(
      (1L, "s", 1000L), (2L, "s", 1000L), (3L, "s", 1000L),
      (4L, "s", 1500L), (5L, "s", 200L), (6L, "s", 5000L), (7L, "s", 100L))
      .toDF("doc_id", "source", "n_tokens")
    val shards = Pack.assignShards(docs, budget = 3000L, groupCol = "source")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // cum-before: 0,1000,2000,3000,4500,4700,9700 → /3000 → 0,0,0,1,1,1,3
    assert(shards == Map(1L -> 0L, 2L -> 0L, 3L -> 0L,
      4L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 3L))
    // every doc lands in exactly one shard; shard of first doc is 0
    assert(shards.values.min == 0L)
  }

  test("assignShards: shard token totals stay within budget + max doc size") {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        graft.operators.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    val budget = 4096L
    val maxDoc = docs.agg(max("n_tokens")).collect().head.getLong(0)
    val over = Pack.assignShards(docs, budget, "source")
      .groupBy("source", "shard").agg(sum("n_tokens").as("t"))
      .filter(col("t") > budget + maxDoc).count()
    assert(over == 0L, s"a shard exceeded budget ($budget) + max doc ($maxDoc)")
  }

  test("assignShards: distributed prefix sum equals the global-window formulation") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        graft.operators.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    val budget = 1024L
    // reference: the serial-per-group window (correct, wrong plan at scale)
    val w = Window.partitionBy("source").orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expect = docs.withColumn("shard",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / budget))
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // chunked prefix sum, with a bucket count that forces many chunks
    val got = Pack.assignShards(docs, budget, "source", buckets = 13)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect, "bucketed prefix sum must match the global window exactly")
  }

  test("assignShards: a single-source frame still packs on >1 task") {
    // AQE coalesces the tiny test shuffle into one partition (a scale
    // artifact, not a plan property) — disable coalescing so the probe
    // sees the plan's intrinsic key space
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val docs = Tables.load(spark, sf, "documents")
        .select(col("doc_id"), lit("one").as("source"),
          graft.operators.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      // shard must stay referenced through the collect or the optimizer
      // prunes the window (cardinality-preserving) and the probe reads
      // the scan stage instead of the packing stage
      val parts = Pack.assignShards(docs, 1024L, "source", buckets = 8)
        .select(spark_partition_id().as("pid"), col("shard"))
        .collect().map(_.getInt(0)).distinct.length
      assert(parts > 1,
        "packing one group must not serialize onto a single task")
    }
  }
}

class TextOpsSpec extends AnyFunSuite {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("text").select(c.as("r")).collect().head.getAs[T]("r")

  private def strs(c: org.apache.spark.sql.Column, text: String): List[String] =
    Seq(text).toDF("text").select(c.as("r")).collect().head.getSeq[String](0).toList

  test("tokens lowercase and split on non-alphanumerics") {
    assert(strs(TextOps.tokens(col("text")), "Hello, World! x2")
      == List("hello", "world", "x2"))
  }

  test("bigrams of a 4-token doc") {
    assert(strs(TextOps.bigrams(col("text")), "a b c d")
      == List("a b", "b c", "c d"))
  }

  test("bigrams guard: <2 tokens gives empty, not a sequence error") {
    assert(strs(TextOps.bigrams(col("text")), "solo") == Nil)
    assert(strs(TextOps.bigrams(col("text")), "") == Nil)
  }

  test("rollingHash matches the hand-computed polynomial") {
    // "ab": ((0*31+97)%M)*31 + 98 = 3105
    assert(one[Long](TextOps.rollingHash(col("text")), "ab") == 3105L)
    assert(one[Long](TextOps.rollingHash(col("text")), "") == 0L)
  }

  test("native PolyHash agrees with the built-ins fold on fixture text") {
    val docs = Tables.load(spark, sf, "documents").limit(200)
    val diff = docs.select(
      TextOps.rollingHash(col("text")).as("native"),
      TextOps.rollingHashBuiltins(col("text")).as("ref"))
      .filter(col("native") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("native tokenizer/bigrams agree with the regex+lambda built-ins on fixture text") {
    val docs = Tables.load(spark, sf, "documents").limit(200)
    val tokDiff = docs.select(
      TextOps.tokens(col("text")).as("native"),
      TextOps.tokensBuiltins(col("text")).as("ref"))
      .filter(col("native") =!= col("ref")).count()
    assert(tokDiff == 0)
    val bgDiff = docs.select(
      TextOps.bigrams(col("text")).as("native"),
      TextOps.bigramsBuiltins(col("text")).as("ref"))
      .filter(col("native") =!= col("ref")).count()
    assert(bgDiff == 0)
    // non-ASCII + empty edge cases: Unicode lowercasing must stay in sync
    val edge = Seq("", "  ", "Größe STRASSE über", "İstanbul KK", "a", "Ab1 cD2")
      .toDF("text")
    val edgeDiff = edge.select(
      TextOps.tokens(col("text")).as("n"), TextOps.tokensBuiltins(col("text")).as("r"),
      TextOps.bigrams(col("text")).as("nb"), TextOps.bigramsBuiltins(col("text")).as("rb"))
      .filter(col("n") =!= col("r") || col("nb") =!= col("rb")).count()
    assert(edgeDiff == 0)
  }

  test("hashedNgrams ≡ sort(distinct(rollingHash over ngrams)) on fixture + edge text") {
    val docs = Tables.load(spark, sf, "documents").limit(200)
      .select(col("text"))
      .unionByName(Seq("", " ", "solo", "a b", "Größe ÜBER über x").toDF("text"))
    for (n <- Seq(2, 3)) {
      val diff = docs.select(
        TextOps.hashedNgrams(col("text"), n).as("native"),
        array_sort(array_distinct(transform(
          TextOps.ngrams(col("text"), n), s => TextOps.rollingHash(s)))).as("ref"))
        .filter(col("native") =!= col("ref")).count()
      assert(diff == 0, s"n=$n")
    }
  }

  test("SortedLongJaccard over hashed shingles ≡ ArrayJaccard over string shingles") {
    // the fixture vocabulary is collision-free under the rolling hash, so
    // the hashed-set Jaccard must equal the string-set Jaccard exactly
    val docs = Tables.load(spark, sf, "documents").limit(60)
      .select(col("doc_id"), col("text"))
    val a = docs.select(col("doc_id").as("ida"),
      TextOps.bigrams(col("text")).as("sa"), TextOps.hashedNgrams(col("text")).as("ha"))
    val b = docs.select(col("doc_id").as("idb"),
      TextOps.bigrams(col("text")).as("sb"), TextOps.hashedNgrams(col("text")).as("hb"))
    val diff = a.join(b, col("ida") < col("idb"))
      .select(
        graft.functions.ArrayJaccard.arrayJaccard(col("sa"), col("sb")).as("s"),
        graft.functions.SortedLongJaccard.sortedLongJaccard(col("ha"), col("hb")).as("h"))
      .filter(col("s") =!= col("h")).count()
    assert(diff == 0)
    // empty∪empty guard on both kernels
    val e = Seq(("", "")).toDF("ta", "tb").select(
      graft.functions.SortedLongJaccard.sortedLongJaccard(
        TextOps.hashedNgrams(col("ta")), TextOps.hashedNgrams(col("tb"))).as("j"))
      .collect().head.getDouble(0)
    assert(e == 0.0)
  }

  test("fingerprint is order- and repetition-invariant") {
    val df = Seq("the cat sat", "sat THE cat cat", "the dog sat").toDF("text")
    val fps = df.select(TextOps.fingerprint(col("text")).as("f"))
      .collect().map(_.getString(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("quality score stays in [0,1] and rewards stopword-bearing prose") {
    val good = one[Double](TextOps.qualityScore(col("text")),
      ("the quick brown fox jumps over the lazy dog and it is a fine day " * 4))
    val junk = one[Double](TextOps.qualityScore(col("text")), "@@@ ### !!!")
    assert(good > junk)
    assert(good >= 0.0 && good <= 1.0 && junk >= 0.0 && junk <= 1.0)
  }

  test("predictedLang picks marker-matching language, und for no hits") {
    assert(one[String](TextOps.predictedLang(col("text")),
      "der hund und die katze ist da") == "de")
    assert(one[String](TextOps.predictedLang(col("text")),
      "el que es la casa y los") == "es")
    assert(one[String](TextOps.predictedLang(col("text")), "xyzzy qwerty") == "und")
    // tie (zero-overlap marker counts equal) → first language in list order
    assert(one[String](TextOps.predictedLang(col("text")), "und le") == "de")
  }
}

class Round3Spec extends AnyFunSuite {
  import spark.implicits._

  // ------------------------------------------------------------------
  // Decontaminate
  // ------------------------------------------------------------------

  private val corpus = Seq(
    (1L, "alpha beta gamma delta", "s1"),   // shingles: alpha beta, beta gamma, gamma delta
    (2L, "alpha beta epsilon", "s1"),       // alpha beta, beta epsilon
    (3L, "zeta eta", "s2"),                 // zeta eta
    (4L, "solo", "s2")                      // no bigrams
  ).toDF("doc_id", "text", "source")

  private val bench = Seq((100L, "alpha beta gamma", "b")) // alpha beta, beta gamma
    .toDF("doc_id", "text", "source")

  test("decontaminate overlap: containment of doc shingles in benchmark set") {
    val m = Decontaminate.overlapScores(corpus, bench)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(m(1L) == ((3L, 2L, 0.6667)))  // 2 of 3 shingles in benchmark
    assert(m(2L) == ((2L, 1L, 0.5)))
    assert(m(3L) == ((1L, 0L, 0.0)))
    assert(m(4L) == ((0L, 0L, 0.0)))     // shingle-less doc stays, overlap 0
  }

  test("decontaminate report: threshold counts per group") {
    val r = Decontaminate.report(corpus, bench, "source", 0.5)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(r("s1") == ((2L, 2L)))  // both docs >= 0.5
    assert(r("s2") == ((2L, 0L)))
  }

  // ------------------------------------------------------------------
  // Repetition
  // ------------------------------------------------------------------

  test("repetition doc stats: token_rep and top bigram occupancy") {
    val d = Seq(
      (1L, "a a a a"),        // 4 tokens, 1 distinct -> rep 0.75; bigrams: "a a" x3 -> top 1.0
      (2L, "a b c d"),        // all distinct -> rep 0; each bigram once -> top 1/3
      (3L, "a b a b a"),      // 5 tokens 2 distinct -> rep 0.6; bigrams a b, b a, a b, b a -> top 0.5
      (4L, ""),               // empty -> 0, 0
      (5L, "solo")            // 1 token -> rep 0, no bigrams -> 0
    ).toDF("doc_id", "text")
    val m = Repetition.docStats(d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(m(1L) == ((4L, 0.75, 1.0)))
    assert(m(2L) == ((4L, 0.0, 0.3333)))
    assert(m(3L) == ((5L, 0.6, 0.5)))
    assert(m(4L) == ((0L, 0.0, 0.0)))
    assert(m(5L) == ((1L, 0.0, 0.0)))
  }

  test("WordNgramsAll keeps duplicate occurrences in order") {
    val r = Seq("a b a b").toDF("text")
      .select(graft.functions.WordNgramsAll.wordNgramsAll(col("text"), 2).as("g"))
      .collect().head.getSeq[String](0).toList
    assert(r == List("a b", "b a", "a b"))
  }

  // ------------------------------------------------------------------
  // Sampling
  // ------------------------------------------------------------------

  test("quotaSample keeps at most k per group, deterministically") {
    val d = (1L to 100L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
      .toDF("doc_id", "source")
    val s1 = Sampling.quotaSample(d, "source", 7, "doc_id")
    val s2 = Sampling.quotaSample(d, "source", 7, "doc_id")
    assert(s1.groupBy("source").count().collect().forall(_.getLong(1) == 7L))
    // bit-identical across runs
    assert(s1.orderBy("source", "rank").collect().toSeq
      == s2.orderBy("source", "rank").collect().toSeq)
    // rank is 1..k within each group
    assert(s1.groupBy("source").agg(min("rank"), max("rank")).collect()
      .forall(r => r.getInt(1) == 1 && r.getInt(2) == 7))
  }

  test("quotaSample with k beyond group size keeps the whole group") {
    val d = Seq((1L, "g"), (2L, "g")).toDF("doc_id", "source")
    assert(Sampling.quotaSample(d, "source", 10).count() == 2)
  }

  test("hashSample is a stable subset with roughly the right rate") {
    val d = (1L to 10000L).toDF("doc_id")
    val n = Sampling.hashSample(d, 0.1, "doc_id").count()
    assert(n > 700 && n < 1300, s"got $n for fraction 0.1 of 10k")
    // appending rows never changes earlier rows' fate
    val d2 = (1L to 20000L).toDF("doc_id")
    val first = Sampling.hashSample(d2, 0.1, "doc_id")
      .filter($"doc_id" <= 10000L).count()
    assert(first == n)
  }

  // ------------------------------------------------------------------
  // Scrub (PII)
  // ------------------------------------------------------------------

  test("scrub redacts emails, IPs, phones and long digit runs") {
    val t = "mail a.b+c@ex-a.co.uk ip 10.0.255.1 tel 555-867-5309 id 1234567890 ok 123"
    val out = Seq(t).toDF("text").select(Scrub.scrub(col("text")).as("r"))
      .collect().head.getString(0)
    assert(out == "mail <EMAIL> ip <IP> tel <PHONE> id <NUM> ok 123")
  }

  test("scrub docStats counts per rule and chars removed") {
    val d = Seq(
      (1L, "contact x@y.io or 1.2.3.4"),
      (2L, "clean text only")
    ).toDF("doc_id", "text")
    val m = Scrub.docStats(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(m(1L)._1 == 1L)  // email
    assert(m(1L)._2 == 1L)  // ipv4
    assert(m(1L)._5 == ("contact x@y.io or 1.2.3.4".length
      - "contact <EMAIL> or <IP>".length).toLong)
    assert(m(2L) == ((0L, 0L, 0L, 0L, 0L)))
  }

  test("scrub report flags clean docs per group") {
    val d = Seq(
      (1L, "x@y.io", "a"), (2L, "clean", "a"), (3L, "also clean", "b")
    ).toDF("doc_id", "text", "source")
    val r = Scrub.report(d, "source").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getAs[Long]("clean_docs"))).toMap
    assert(r("a") == ((2L, 1L)))
    assert(r("b") == ((1L, 1L)))
  }

  // ------------------------------------------------------------------
  // TopKBy aggregate
  // ------------------------------------------------------------------

  test("TopKBy differential: equals the window top-n on the fixture") {
    import graft.functions.TopKBy.topKBy
    import org.apache.spark.sql.expressions.Window
    val li = Tables.load(spark, sf, "lineitem")
    val ordered = struct(col("l_extendedprice"), (-col("l_orderkey")).as("nk"),
      (-col("l_linenumber")).as("nl"))
    val agg = li.groupBy("l_returnflag")
      .agg(topKBy(ordered, 5).as("top"))
      .select(col("l_returnflag"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("l_returnflag"), col("pos"),
        col("t.l_extendedprice").as("price"),
        (-col("t.nk")).as("okey"), (-col("t.nl")).as("lnum"))
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
    val win = li.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("l_returnflag"), (col("rn") - 1).as("pos"),
        col("l_extendedprice").as("price"),
        col("l_orderkey").as("okey"), col("l_linenumber").cast("long").as("lnum"))
    assert(agg.orderBy("l_returnflag", "pos").collect().toSeq
      == win.orderBy("l_returnflag", "pos").collect().toSeq)
  }

  test("TopKBy edge cases: k > group size, single row, null ord structs kept by field rules") {
    import graft.functions.TopKBy.topKBy
    val d = Seq((1, 10.0), (1, 30.0), (2, 20.0)).toDF("g", "v")
    val r = d.groupBy("g").agg(topKBy(struct(col("v")), 5).as("top"))
      .select(col("g"), col("top"))
      .collect().map(x => x.getInt(0) -> x.getSeq[org.apache.spark.sql.Row](1).map(_.getDouble(0))).toMap
    assert(r(1) == Seq(30.0, 10.0))  // whole group, descending
    assert(r(2) == Seq(20.0))
  }

  test("TopKBy keeps exactly k with ties broken by the encoded struct order") {
    import graft.functions.TopKBy.topKBy
    val d = Seq((1L, 5.0), (2L, 5.0), (3L, 5.0), (4L, 5.0)).toDF("id", "v")
    val top = d.agg(topKBy(struct(col("v"), (-col("id")).as("ni")), 2).as("t"))
      .select(explode(col("t")).as("x")).select(col("x.v"), (-col("x.ni")).as("id"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(top == Seq((5.0, 1L), (5.0, 2L)))  // smallest ids win the tie
  }

  // ------------------------------------------------------------------
  // Product quantization
  // ------------------------------------------------------------------

  private lazy val embs = Tables.load(spark, sf, "embeddings")

  test("PQ encode: every vector gets M codes from the codebook range") {
    import graft.operators.ProductQuantization._
    val sub = subvectors(embs, 8)
    val enc = encode(sub, codebookFromIds(sub, registry.DedupQueries.PqCodebookIds))
    val n = embs.count()
    assert(enc.count() == n * 8)
    val codes = enc.agg(min("code"), max("code")).head()
    assert(codes.getInt(0) >= 0 && codes.getInt(1) <= 15)
    // a codebook member quantizes to itself in every subspace (self-dist 0)
    val self = enc.filter($"vec_id" === 7L).orderBy("m")
      .select("code").collect().map(_.getInt(0)).toSeq
    assert(self == Seq.fill(8)(1), s"vec 7 should encode to its own cid 1: $self")
  }

  test("PQ ADC top-k approximates brute-force cosine neighbors (recall sanity)") {
    import graft.operators.ProductQuantization._
    val pq = adcTopK(embs, Seq(0L, 1L, 2L), 10, registry.DedupQueries.PqCodebookIds)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = graft.operators.Similarity.bruteForceTopK(embs, Seq(0L, 1L, 2L), 10)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pq & bf).size.toDouble / bf.size
    assert(recall >= 0.2, s"ADC recall vs brute force collapsed: $recall")
  }

  test("PQ Lloyd training reduces quantization error") {
    import graft.operators.ProductQuantization._
    val initial = {
      val sub = subvectors(embs, 8)
      codebookFromIds(sub, registry.DedupQueries.PqCodebookIds)
    }
    val trained = train(embs, registry.DedupQueries.PqCodebookIds, iters = 2)
    val e0 = quantizationError(embs, initial)
    val e2 = quantizationError(embs, trained)
    assert(e2 < e0, s"training should reduce error: $e0 -> $e2")
  }

  // ------------------------------------------------------------------
  // Fixture-level sanity for the new queries (sf0.001 smoke)
  // ------------------------------------------------------------------

  test("round-3 queries run non-empty on sf0.001") {
    for (name <- Seq("q52_decontaminate", "q53_repetition", "q54_quota_sample",
        "q55_mixture", "q56_top_tokens", "q57_pii_scrub", "q58_token_deciles",
        "q59_group_topn", "q60_ann_pq")) {
      val n = SparkEntry.queries(name)(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("q54 quota sample rows = sources x k on the fixture") {
    val df = SparkEntry.queries("q54_quota_sample")(spark, sf)
    val sources = Tables.load(spark, sf, "documents")
      .select("source").distinct().count()
    assert(df.count() == sources * registry.TextQueries.QuotaK)
  }

  test("q58 deciles partition each source into 10 buckets covering all docs") {
    val df = SparkEntry.queries("q58_token_deciles")(spark, sf)
      .collect()
    val bySource = df.groupBy(_.getString(0))
    bySource.foreach { case (_, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toList == (1 to 10).toList)
    }
    val total = df.map(_.getLong(2)).sum
    val docs = Tables.load(spark, sf, "documents").count()
    assert(total == docs)
  }
}

class Round5Spec extends AnyFunSuite {

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

class Round5cSpec extends AnyFunSuite {
  import spark.implicits._

  // -------------------------------------------------------------------
  // Diff
  // -------------------------------------------------------------------

  test("corpusDiff classifies added/removed/changed/unchanged on a hand-built pair") {
    val oldV = Seq(
      (1L, "a", "same text"),
      (2L, "a", "will change"),
      (3L, "b", "will be removed")).toDF("doc_id", "source", "text")
    val newV = Seq(
      (1L, "a", "same text"),
      (2L, "a", "did change"),
      (4L, "b", "brand new")).toDF("doc_id", "source", "text")
    val got = Diff.corpusDiff(oldV, newV).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("corpusDiff carries source from the surviving side") {
    val oldV = Seq((1L, "old_src", "x")).toDF("doc_id", "source", "text")
    val newV = Seq((2L, "new_src", "y")).toDF("doc_id", "source", "text")
    val bySrc = Diff.corpusDiff(oldV, newV).collect()
      .map(r => r.getString(1) -> r.getString(2)).toMap
    assert(bySrc == Map("old_src" -> "removed", "new_src" -> "added"))
  }

  test("diffReport of identical versions is all-unchanged") {
    val d = Tables.load(spark, sf, "documents")
    val rep = Diff.diffReport(d, d).collect()
    assert(rep.forall(_.getString(1) == "unchanged"))
    assert(rep.map(_.getLong(2)).sum == d.count())
  }

  // -------------------------------------------------------------------
  // QualityModel
  // -------------------------------------------------------------------

  test("quality score: deterministic, bounded, zero on empty docs") {
    val df = Seq("the quick brown fox", "the quick brown fox", "", "  ..  ")
      .toDF("text").select(QualityModel.score(col("text")).as("s"))
    val s = df.collect().map(_.getDouble(0))
    assert(s(0) == s(1))           // pure function of the text
    assert(s(2) == 0.0 && s(3) == 0.0) // empty token list
    assert(s.forall(v => v >= -1.0 && v <= 1.0))
  }

  test("quality score separates docs (not constant) on fixture text") {
    val d = Tables.load(spark, sf, "documents")
    val n = d.select(QualityModel.scoreBp(col("text")).as("bp"))
      .select(countDistinct("bp")).collect().head.getLong(0)
    assert(n > 10, s"expected a spread of scores, got $n distinct")
  }

  // -------------------------------------------------------------------
  // Token accounting
  // -------------------------------------------------------------------

  test("bpe/ws token counts on hand-computed examples") {
    import graft.operators.TextOps
    val rows = Seq(
      "don't stop", // ws 2; words don,t,stop=3; bpe don,',t,stop=4
      "x2 + y10",   // ws 3; words x2,y10=2;     bpe x,2,+,y,10=5
      "",           // all zero
      "  spaced  out  ") // ws 2; words 2; bpe 2
      .toDF("text").select(
        TextOps.wsTokenCount(col("text")).as("ws"),
        TextOps.tokenCount(col("text")).as("words"),
        TextOps.bpeTokenCount(col("text")).as("bpe"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    assert(rows.toSeq == Seq((2, 3, 4), (3, 2, 5), (0, 0, 0), (2, 2, 2)))
  }

  test("bpe pretokens subdivide word tokens: bpe >= words on fixture text") {
    import graft.operators.TextOps
    val d = Tables.load(spark, sf, "documents")
    val bad = d.select(TextOps.tokenCount(col("text")).as("w"),
        TextOps.bpeTokenCount(col("text")).as("b"))
      .filter(col("b") < col("w")).count()
    assert(bad == 0)
  }

  // -------------------------------------------------------------------
  // Split.leakageReport
  // -------------------------------------------------------------------

  test("leakageReport counts straddling pairs; leakage-safe split zeroes them") {
    val d = Tables.load(spark, sf, "documents")
    val pairs = Dedup.minhashNearDups(d)
    val w = registry.DedupQueries.SplitWeights
    val plain = Split.leakageReport(pairs, w)
    val total = plain.agg(sum("n_pairs")).collect().head.getLong(0)
    assert(total == pairs.count())

    // the same pairs under the CLUSTER-keyed assignment: rebuild each
    // endpoint's effective key (cluster min, as assignSplitsLeakageSafe
    // does) and re-audit — every pair must land within one split
    val cc = Dedup.connectedComponents(pairs)
    val safeKeys = pairs
      .join(cc.select(col("doc_id").as("doc_a"), col("cluster").as("ka")), "doc_a")
      .join(cc.select(col("doc_id").as("doc_b"), col("cluster").as("kb")), "doc_b")
      .select(col("ka").as("doc_a"), col("kb").as("doc_b"))
    val leaked = Split.leakageReport(safeKeys, w)
      .filter(col("leaked")).agg(coalesce(sum("n_pairs"), lit(0L)))
      .collect().head.getLong(0)
    assert(leaked == 0L)
    graft.util.Caches.releaseAll()
  }
}

class Round5dSpec extends AnyFunSuite {
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
    val d = Tables.load(spark, sf, "documents")
    val out = Collocations.pmiTop(d, 20).collect()
    assert(out.length == 20, "fixture corpus should saturate topN")
    val counts = out.map(_.getLong(2))
    assert(counts.sameElements(counts.sortBy(-_)), "ordered by n_pair desc")
  }

  // -------------------------------------------------------------------
  // Hybrid RRF
  // -------------------------------------------------------------------

  test("hybridTopK: ranks 1..k per query, rrf consistent with contributing ranks") {
    val d = Tables.load(spark, sf, "documents")
    val e = Tables.load(spark, sf, "embeddings")
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
    val d = Tables.load(spark, sf, "documents")
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
    val d = Tables.load(spark, sf, "documents")
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
    val d = Tables.load(spark, sf, "documents")
    assert(Mixture.temperatureRebalance(d, "source", 1.0).count() == d.count())
  }

  // -------------------------------------------------------------------
  // Embedding drift
  // -------------------------------------------------------------------

  test("embedding drift of identical snapshots is cos=1, norm_ratio=1") {
    import graft.operators.EmbeddingDrift
    val e = Tables.load(spark, sf, "embeddings")
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

/** Round-6 stop-shingle cap semantics: the caps only remove intersection
  * evidence, so capped survivors are a SUBSET of the uncapped exact tier
  * with pointwise-smaller overlap counts — and the test caps are tight
  * enough to BIND at the fixture SF (assertions would pass vacuously on
  * a cap that drops nothing).
  */
class Round6Spec extends AnyFunSuite {
  private def docs = Tables.load(spark, sf, "documents")

  test("containmentPairs: capped survivors ⊆ uncapped, inter pointwise ≤") {
    val tau = registry.DedupQueries.ContainmentTau
    val un = Dedup.containmentPairs(docs, "lang", tau)
      .select("doc_a", "doc_b", "inter").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // cap=6 binds at sf0.001 (3 of 18 pairs survive) without emptying
    // the result — both halves of the subset law stay non-vacuous
    val cp = Dedup.containmentPairs(docs, "lang", tau,
      maxShingleDocs = Some(6L))
      .select("doc_a", "doc_b", "inter").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cp.nonEmpty, "capped result empty — cap too tight to test subset law")
    assert(cp.size < un.size, "cap did not bind (no pairs dropped)")
    cp.foreach { case (k, interC) =>
      assert(un.contains(k), s"capped pair $k absent from uncapped result")
      assert(interC <= un(k), s"capped inter > uncapped for $k")
    }
  }

  test("sourceOverlap: capped n_common pointwise ≤, sizes exact, binds") {
    val un = CorpusStats.sourceOverlap(docs)
      .select("source_a", "source_b", "n_a", "n_b", "n_common").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val cp = CorpusStats.sourceOverlap(docs, maxShingleSources = Some(2L))
      .select("source_a", "source_b", "n_a", "n_b", "n_common").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // full matrix on both sides: same pair set regardless of the cap
    assert(cp.keySet == un.keySet, "capped matrix lost scaffold pairs")
    var dropped = 0L
    cp.foreach { case (k, (na, nb, common)) =>
      val (una, unb, uncommon) = un(k)
      assert(na == una && nb == unb, s"cap changed exact sizes for $k")
      assert(common <= uncommon, s"capped n_common > uncapped for $k")
      dropped += uncommon - common
    }
    assert(dropped > 0, "cap did not bind (no common shingles dropped)")
  }

  test("AudioCodec: build → parse round-trips every parameter") {
    import graft.operators.Multimodal.AudioCodec
    val data = Array.tabulate(1001)(i => (i % 251).toByte)
    for (ch <- Seq(1, 2); rate <- Seq(8000, 44100)) {
      val wav = AudioCodec.buildWav(ch, rate, data)
      val info = AudioCodec.parseWav(wav).get
      val frames = data.length / (ch * 2)
      assert(info == AudioCodec.WavInfo(ch, rate, 16, frames,
        frames * 1000L / rate))
    }
  }

  test("AudioCodec: chunk walk skips LIST chunks; truncation clamps frames") {
    import graft.operators.Multimodal.AudioCodec
    val wav = AudioCodec.buildWav(1, 8000, Array.fill(100)(7.toByte))
    // splice a LIST chunk between fmt and data (RIFF allows any order)
    val listChunk = "LIST".getBytes ++
      Array[Byte](6, 0, 0, 0) ++ "INFOxy".getBytes
    val spliced = wav.take(36) ++ listChunk ++ wav.drop(36)
    // patch the RIFF size (not strictly needed by the parser, but honest)
    val info = AudioCodec.parseWav(spliced).get
    assert(info.nFrames == 50 && info.sampleRate == 8000)
    // truncated data section: header promises 100 bytes, file holds 20
    val truncated = wav.take(44 + 20)
    assert(AudioCodec.parseWav(truncated).get.nFrames == 10)
    // malformed: not RIFF at all
    assert(AudioCodec.parseWav("not a wav file".getBytes).isEmpty)
    assert(AudioCodec.parseWav(Array.empty[Byte]).isEmpty)
  }

  test("q97a/q76a: hot-set guard joins broadcast (plan gate)") {
    for (q <- Seq("q97a_containment_capped", "q76a_source_overlap_capped")) {
      val p = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined,
        s"$q: stop-shingle anti-join not broadcast:\n$p")
    }
  }

  test("MisraGries: exact when capacity ≥ distinct; MG bounds when it binds") {
    import graft.functions.MisraGries.misraGries
    import graft.operators.TextOps
    val toks = docs.select(explode(TextOps.tokens(col("text"))).as("w"))
    val truth = toks.groupBy("w").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = truth.values.sum
    def summary(cap: Int): Seq[(String, Long)] =
      toks.agg(misraGries(col("w"), cap).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item"), col("e.count_lower")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
    // capacity ≥ distinct (31 in the fixture): EXACT — sorted equality
    val exact = summary(64)
    assert(exact.toMap == truth, "non-binding capacity must be exact")
    assert(exact == exact.sortBy { case (w, c) => (-c, w) }, "output unsorted")
    // capacity 8 < 31: classic Misra-Gries bounds
    val cap = 8
    val mg = summary(cap).toMap
    assert(mg.size <= cap)
    val eps = n.toDouble / (cap + 1)
    mg.foreach { case (w, c) =>
      assert(c <= truth(w), s"count_lower above truth for $w")
      assert(truth(w) - c <= eps, s"error above n/(cap+1) for $w")
    }
    truth.foreach { case (w, c) =>
      if (c > eps) assert(mg.contains(w), s"heavy item $w missing (n=$c > $eps)")
    }
  }

  test("keepRepresentative: rep is the max-score member; sizes partition clusters") {
    import graft.operators.Dedup
    val pairs = Dedup.minhashNearDups(docs)
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val chars = docs.select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reps = Dedup.keepRepresentative(docs, pairs, "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(reps.nonEmpty)
    val members = cc.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(reps.map(_._1).toSet == members.keySet, "one rep per cluster")
    reps.foreach { case (cl, rep, sz, score) =>
      val m = members(cl)
      assert(m.contains(rep) && sz == m.size && score == chars(rep))
      val best = m.map(id => (-chars(id), id)).min._2
      assert(rep == best, s"cluster $cl rep $rep != max-score member $best")
    }
    graft.util.Caches.releaseAll()
  }

  test("changeIntervals: runs, ties, open-run null, n_obs arithmetic") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", ts("2024-01-01 10:00:00")),
      (1L, "a", ts("2024-01-01 11:00:00")),
      (1L, "b", ts("2024-01-01 12:00:00")),
      (1L, "a", ts("2024-01-01 13:00:00")),
      // key 2: duplicate timestamp with two states — (ts, state) order
      (2L, "y", ts("2024-01-01 10:00:00")),
      (2L, "x", ts("2024-01-01 10:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val got = graft.operators.TimeSeries
      .changeIntervals(df, "user_id", "event_type", "ts")
      .orderBy("key", "valid_from", "state").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        Option(r.getTimestamp(3)), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, "a", ts("2024-01-01 10:00:00"), Some(ts("2024-01-01 12:00:00")), 2L),
      (1L, "b", ts("2024-01-01 12:00:00"), Some(ts("2024-01-01 13:00:00")), 1L),
      (1L, "a", ts("2024-01-01 13:00:00"), None, 1L),
      (2L, "x", ts("2024-01-01 10:00:00"), Some(ts("2024-01-01 10:00:00")), 1L),
      (2L, "y", ts("2024-01-01 10:00:00"), None, 1L)))
  }

  test("q121: one exchange, one sort (window-arithmetic run aggregation)") {
    val p = SparkEntry.queries("q121_change_intervals")(spark, sf)
      .queryExecution.executedPlan.toString
    // the final orderBy adds a rangepartitioning exchange + sort; the
    // operator itself must contribute exactly ONE hash exchange and ONE
    // key sort
    assert("Exchange hashpartitioning\\(key".r.findAllIn(p).size == 1,
      s"expected exactly 1 key shuffle:\n$p")
    val belowOrder = p.split("rangepartitioning").last
    assert("\\bSort \\[key".r.findAllIn(belowOrder).size == 1,
      s"expected exactly 1 key sort under the windows:\n$p")
  }

  test("Rendezvous: minimal movement on resize; no empty shard at fixture scale") {
    import graft.operators.Rendezvous
    val s8 = Rendezvous.assignShards(docs, 8).select("doc_id", "shard")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val s9 = Rendezvous.assignShards(docs, 9).select("doc_id", "shard")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // THE rendezvous law: a doc either keeps its shard or moves to the
    // NEW one — never between two old shards
    s8.foreach { case (d, sh) =>
      assert(s9(d) == sh || s9(d) == 8,
        s"doc $d moved between old shards: $sh -> ${s9(d)}")
    }
    val moved = s8.count { case (d, sh) => s9(d) != sh }
    // expected n/9 ≈ 56; generous band to stay non-flaky but binding
    assert(moved > 0 && moved < s8.size / 3, s"movement off-profile: $moved")
    assert((0 until 8).forall(sh => s8.values.exists(_ == sh)),
      "an empty shard at 500 docs signals a degenerate weight")
    // scan-stage argmax mirrors the closed-form weight
    val d0 = s8.keysIterator.next()
    val expect = (0 until 8).maxBy(s => (Rendezvous.weight(d0, s), -s))
    assert(s8(d0) == expect)
  }

  test("looTargetEncode: hand toy — LOO means, singleton NULL") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 6.0), ("b", 5.0))
      .toDF("cat", "v")
    val got = graft.operators.Standardize.looTargetEncode(df, "cat", "v")
      .select("cat", "v", "loo_mean").collect()
      .map(r => (r.getString(0), r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(got == Set(
      ("a", 1.0, Some(4.0)),  // (2+6)/2
      ("a", 2.0, Some(3.5)),  // (1+6)/2
      ("a", 6.0, Some(1.5)),  // (1+2)/2
      ("b", 5.0, None)))      // no peers
  }

  test("linearCredits: hand toy — equal split, truncated micro-quotient") {
    import spark.implicits._
    val ev = Seq(
      // two clicks inside the window, one outside, one AT purchase ts
      (1L, ts("2024-01-01 09:00:00"), 7L, "click", 0.0),
      (2L, ts("2024-01-01 09:30:00"), 7L, "click", 0.0),
      (3L, ts("2024-01-01 07:59:59"), 7L, "click", 0.0),
      (4L, ts("2024-01-01 10:00:00"), 7L, "click", 0.0),
      (5L, ts("2024-01-01 10:00:00"), 7L, "purchase", 10.000001),
      // other user: no clicks -> purchase attributes nothing
      (6L, ts("2024-01-01 10:00:00"), 8L, "purchase", 99.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.operators.Attribution.linearCredits(ev, 7200L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // value 10.000001 -> 10000001 micro; 2 clicks -> 5000000 each,
    // remainder 1 dropped; click at exactly purchase ts is OUT ([lo, hi))
    assert(got == Set((1L, 1L, 5000000L), (2L, 1L, 5000000L)))
  }

  test("SQL surface: graft_misra_gries and graft_topk_by resolve and agree") {
    graft.functions.GraftExtensions.register(spark)
    docs.createOrReplaceTempView("r6docs")
    val sql = spark.sql(
      s"""SELECT source, graft_misra_gries(w, 64) AS hh FROM (
         |  SELECT source, explode(graft_tokens(text)) AS w FROM r6docs)
         |GROUP BY source""".stripMargin)
      .select(col("source"), explode(col("hh")).as("e"))
      .select("source", "e.item", "e.count_lower").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val api = docs
      .select(col("source"),
        explode(graft.operators.TextOps.tokens(col("text"))).as("w"))
      .groupBy("source")
      .agg(graft.functions.MisraGries.misraGries(col("w"), 64).as("hh"))
      .select(col("source"), explode(col("hh")).as("e"))
      .select("source", "e.item", "e.count_lower").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(sql == api && sql.nonEmpty)
    val topk = spark.sql(
      """SELECT graft_topk_by(struct(n_chars, doc_id), 3) AS t
        |FROM r6docs""".stripMargin).collect()
    assert(topk.head.getSeq[org.apache.spark.sql.Row](0).size == 3)
  }

  test("Layout: z-buckets localize BOTH dimensions; toy interleave is exact") {
    import spark.implicits._
    import graft.operators.Layout
    // toy: quantized values ARE the raw values (min 0, max 255 present)
    val toy = (0L to 255L).flatMap(x => Seq((x, 0L), (x, 255L)))
      .toDF("a", "b")
    val keyed = Layout.withZKey(toy, Seq("a", "b"), 8)
      .select("a", "b", "zkey").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    keyed.foreach { case (a, b, z) =>
      val expect = (0 until 8).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }
      assert(z == expect, s"interleave($a, $b) = $z != $expect")
    }
    // fixture locality: average per-bucket span of EACH dim must be a
    // small fraction of its global span (the data-skipping win)
    val rep = SparkEntry.queries("q127_zorder")(spark, sf).collect()
    val spans = rep.map(r => (r.getLong(3) - r.getLong(2),
      r.getLong(5) - r.getLong(4)))
    val globalCust = docsSpanOf("o_custkey")
    val globalOrd = docsSpanOf("o_orderkey")
    val avgCust = spans.map(_._1).sum.toDouble / spans.length
    val avgOrd = spans.map(_._2).sum.toDouble / spans.length
    assert(avgCust < globalCust / 2.0 && avgOrd < globalOrd / 2.0,
      s"z-buckets don't localize: cust $avgCust/$globalCust ord $avgOrd/$globalOrd")
  }

  private def docsSpanOf(c: String): Double = {
    val r = Tables.load(spark, sf, "orders")
      .agg(min(col(c)).cast("long"), max(col(c)).cast("long")).head()
    (r.getLong(1) - r.getLong(0)).toDouble
  }

  test("Transitions: hand toy — counts, conditional rows sum to 1, tie order") {
    import spark.implicits._
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), "v", 1L),
      (1L, ts("2024-01-01 11:00:00"), "c", 2L),
      (1L, ts("2024-01-01 12:00:00"), "v", 3L),
      (1L, ts("2024-01-01 13:00:00"), "c", 4L),
      // same ts: event_id breaks the tie (5 before 6)
      (2L, ts("2024-01-01 10:00:00"), "v", 5L),
      (2L, ts("2024-01-01 10:00:00"), "p", 6L)
    ).toDF("user_id", "ts", "event_type", "event_id")
    val got = graft.operators.Transitions
      .transitionMatrix(ev, "user_id", "event_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == Set(
      ("v", "c", 2L, 0.666667), ("v", "p", 1L, 0.333333),
      ("c", "v", 1L, 1.0)))
    // conditional distribution check on the fixture
    val fx = SparkEntry.queries("q128_transitions")(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(3)))
    fx.groupBy(_._1).foreach { case (from, rows) =>
      val s = rows.map(_._2).sum
      assert(math.abs(s - 1.0) < 1e-4, s"P(.|$from) sums to $s")
    }
  }

  test("kmeansReport: census partitions the corpus; inertia falls across rounds") {
    import graft.operators.Similarity
    val e = Tables.load(spark, sf, "embeddings")
    val r1 = Similarity.kmeansReport(e, registry.DedupQueries.KmInitIds, 1).collect()
    val r2 = Similarity.kmeansReport(e, registry.DedupQueries.KmInitIds, 2).collect()
    val total = e.count()
    for (r <- Seq(r1, r2)) {
      assert(r.map(_.getLong(1)).sum == total, "cells must partition the corpus")
      assert(r.map(_.getLong(0)).toSet.subsetOf(
        registry.DedupQueries.KmInitIds.toSet), "cells keyed by init centroid ids")
    }
    val i1 = r1.map(_.getLong(2)).sum
    val i2 = r2.map(_.getLong(2)).sum
    assert(i2 < i1, s"Lloyd round must not increase inertia: $i1 -> $i2")
  }
}

/** Round-6 part sixteen: inter-arrival quartiles, hard negatives,
  * char entropy.
  */
class Round6oSpec extends AnyFunSuite {


  test("interArrivalReport: hand-computed quartiles, one user") {
    import spark.implicits._
    // gaps 10 s, 20 s, 70 s → n=3: p25 = rank 1 = 10 s, p50 = rank 2,
    // p75 = rank ⌈9/4⌉ = 3 = 70 s, p90 = rank 3; mean = 100/3 s floored
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 7L, "click"),
      (2L, ts("2024-01-01 00:00:10"), 7L, "click"),
      (3L, ts("2024-01-01 00:00:30"), 7L, "click"),
      (4L, ts("2024-01-01 00:01:40"), 7L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val r = TimeSeries.interArrivalReport(ev, "event_type").collect().head
    assert(r.getLong(1) == 3L)                    // n_gaps
    assert(r.getLong(2) == 33333333L)             // mean_us floor
    assert(r.getLong(3) == 10000000L)             // p25
    assert(r.getLong(4) == 20000000L)             // p50
    assert(r.getLong(5) == 70000000L)             // p75
    assert(r.getLong(6) == 70000000L)             // p90
  }

  test("interArrivalReport: gaps never span users or event types") {
    import spark.implicits._
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "a"),
      (2L, ts("2024-01-01 00:05:00"), 2L, "a"),  // other user — no gap
      (3L, ts("2024-01-01 00:09:00"), 1L, "b"))  // other type — no gap
      .toDF("event_id", "ts", "user_id", "event_type")
    assert(TimeSeries.interArrivalReport(ev, "event_type").count() == 0)
  }

  test("hardNegatives: same-label candidates (and self) never rank") {
    import spark.implicits._
    val embs = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.9f, 0.1f), 0),   // same label as anchor — excluded
      (2L, Seq(1.0f, 0.01f), 1),  // near-identical, other label → rank 1
      (3L, Seq(0.0f, 1.0f), 1))   // orthogonal, other label → rank 2
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.hardNegatives(embs, Seq(0L), 2).collect()
    assert(r.map(_.getLong(2)).toSeq == Seq(2L, 3L))
    assert(r.map(_.getInt(5)).toSeq == Seq(1, 2))
    assert(r.head.getInt(1) == 0 && r.head.getInt(3) == 1) // labels carried
    assert(r.head.getDouble(4) > 0.99 && r(1).getDouble(4) == 0.0)
  }

  test("charEntropyNano: hand-computed nano-nat cells") {
    import spark.implicits._
    val df = Seq("aabb", "abcd", "aaaa", "a", "")
      .toDF("text")
      .withColumn("e", TextOps.charEntropyNano(col("text")))
      .select(col("text"), col("e.n_runs"), col("e.ent_nano"))
    val m = df.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2))).toMap
    // aabb: 2 cells of round(0.5·ln2·1e9) = 346573590
    assert(m("aabb") == (2L, 693147180L))
    // abcd: 4 cells of round(0.25·ln4·1e9) = 346573590
    assert(m("abcd") == (4L, 1386294360L))
    assert(m("aaaa") == (1L, 0L))   // constant text → zero entropy
    assert(m("a") == (1L, 0L))
    assert(m("") == (0L, 0L))       // guard: no descending sequence
  }

  test("charEntropyNano: fold over sorted runs ≡ census formulation") {
    import spark.implicits._
    // interleaved chars — the sort must regroup them into census cells
    val df = Seq("abab", "xyzzyx").toDF("text")
      .withColumn("e", TextOps.charEntropyNano(col("text")))
    val got = df.select(col("text"), col("e.ent_nano")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def census(sft: String): Long =
      sft.groupBy(identity).values.map { run =>
        val p = run.length.toDouble / sft.length
        math.rint(-p * math.log(p) * 1e9).toLong
      }.sum
    assert(got("abab") == census("abab"))
    assert(got("xyzzyx") == census("xyzzyx"))
  }
}

/** Round-6 part eighteen: readability, bigram NLL, vocab coverage. */
class Round6qSpec extends AnyFunSuite {

  test("readability: hand-computed Flesch; unpunctuated floors at 1") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s", "The cat sat. The dog ran!"),
      (2L, "s", "aaa bbb"),
      (3L, "s", ""))
      .toDF("doc_id", "source", "text")
    val r = QualityModel.readability(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    // 6 words / 2 sentences / 6 vowel runs:
    // 206.835 − 1.015·3 − 84.6·1 = 119.19
    assert(r(1L).getLong(2) == 6L && r(1L).getLong(3) == 2L &&
      r(1L).getLong(4) == 6L)
    assert(r(1L).getDouble(5) == 119.19)
    assert(r(2L).getLong(3) == 1L)     // sentence floor
    assert(r(3L).isNullAt(5))          // empty doc → NULL score
  }

  test("bigramNll: hand-computed interpolated cells") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s", "a b a b"),
      (2L, "s", "a a"),
      (3L, "s", "solo"))
      .toDF("doc_id", "source", "text")
    val r = CorpusStats.bigramNll(docs, 75).collect()
      .map(x => x.getLong(0) -> x).toMap
    // census over 4 instances: f(a,b)=2 f(b,a)=1 f(a,a)=1;
    // f_p: a=3 b=1; f_w: b=2 a=2; N=4
    def cell(fpw: Long, fp: Long, fw: Long): Long =
      math.rint(-math.log(0.75 * (fpw.toDouble / fp) +
        0.25 * (fw.toDouble / 4)) * 1e9).toLong
    val d1 = 2 * cell(2, 3, 2) + cell(1, 1, 2)
    assert(r(1L).getLong(2) == 3L)
    assert(r(1L).getLong(3) == d1 / 3)
    assert(r(2L).getLong(2) == 1L && r(2L).getLong(3) == cell(1, 3, 2))
    assert(r(3L).getLong(2) == 0L && r(3L).isNullAt(3)) // < 2 tokens
    graft.util.Caches.releaseAll()
  }

  test("vocabCoverage: curve binds at each budget, clamp above vocab") {
    import spark.implicits._
    val docs = Seq("a a a b b c").toDF("text")
    val r = CorpusStats.vocabCoverageCurve(docs, Seq(1, 2, 5)).collect()
    assert(r.map(_.getInt(0)).toSeq == Seq(1, 2, 5))
    assert(r.map(_.getLong(2)).toSeq == Seq(3L, 5L, 6L))    // covered
    assert(r.map(_.getLong(4)).toSeq ==
      Seq(500000L, 833333L, 1000000L))                       // ppm
    assert(r.forall(_.getLong(1) == 3L))                     // n_vocab_total
    graft.util.Caches.releaseAll()
  }
}

/** Round-6 part twenty: nearest-neighbor label-noise audit + MP3
  * frame-header parsing.
  */
class Round6sSpec extends AnyFunSuite {

  import Multimodal.AudioCodec

  test("parseMp3: round-trips buildMp3 parameters exactly") {
    for (kbps <- Seq(64, 128, 320); rate <- Seq(44100, 48000, 32000)) {
      val b = AudioCodec.buildMp3(kbps, rate, 4)
      val i = AudioCodec.parseMp3(b).get
      assert(i.bitrateKbps == kbps && i.sampleRate == rate)
      assert(i.nFrames == 4L)
      assert(i.durationMs == 4L * 1152 * 1000 / rate)
    }
  }

  test("parseMp3: junk prefix skipped, truncated final frame uncounted") {
    val clean = AudioCodec.buildMp3(128, 44100, 3)
    val prefixed = Array[Byte](1, 2, 3, 0x49, 0x44, 0x33) ++ clean
    assert(AudioCodec.parseMp3(prefixed).get.nFrames == 3L)
    val truncated = clean.dropRight(10) // cuts into frame 3
    assert(AudioCodec.parseMp3(truncated).get.nFrames == 2L)
    assert(AudioCodec.parseMp3("not audio".getBytes).isEmpty)
    // a WAV is not an MP3 and vice versa
    val wav = AudioCodec.buildWav(1, 8000, new Array[Byte](64))
    assert(AudioCodec.parseMp3(wav).isEmpty)
    assert(AudioCodec.parseWav(clean).isEmpty)
  }

  test("parseMp3: mid-stream invalid header keeps the frames already walked") {
    val clean = AudioCodec.buildMp3(128, 44100, 3)
    // append a sync-aliasing header with a FREE bitrate (index 0):
    // 0xff 0xfb 0x00 — pre-fix this nulled the whole stream
    val corruptTail = clean ++ Array[Byte](0xff.toByte, 0xfb.toByte, 0, 0)
    val i = AudioCodec.parseMp3(corruptTail).get
    assert(i.nFrames == 3L && i.bitrateKbps == 128)
    // reserved sample-rate index (binary 11) mid-walk: same rule
    val badRate = clean ++ Array[Byte](0xff.toByte, 0xfb.toByte,
      ((1 << 4) | (3 << 2)).toByte, 0)
    assert(AudioCodec.parseMp3(badRate).get.nFrames == 3L)
    // but a FIRST synced frame that is invalid still returns None
    val onlyBad = Array[Byte](0xff.toByte, 0xfb.toByte, 0, 0)
    assert(AudioCodec.parseMp3(onlyBad).isEmpty)
  }

  test("labelAgreement: out-voted anchor flags suspect, clustered doesn't") {
    import spark.implicits._
    // anchor 0 (label 0) sits inside a label-1 cluster → suspect;
    // anchor 10 (label 1) sits inside its own cluster → clean
    val embs = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.99f, 0.1f), 1),
      (2L, Seq(0.98f, 0.15f), 1),
      (10L, Seq(-1.0f, 0.0f), 1),
      (11L, Seq(-0.99f, 0.05f), 1),
      (12L, Seq(-0.97f, 0.1f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.labelAgreement(embs, Seq(0L, 10L), 2).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(0L).getLong(3) == 0L && r(0L).getBoolean(5))   // out-voted
    assert(r(10L).getLong(3) == 2L && !r(10L).getBoolean(5))
    assert(r(10L).getLong(4) == 1000000L)                    // agree_ppm
  }

  test("labelAgreement: k clamps to available neighbors") {
    import spark.implicits._
    val embs = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.9f, 0.1f), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.labelAgreement(embs, Seq(0L), 5).collect().head
    assert(r.getLong(2) == 1L)          // only one neighbor exists
    assert(r.getLong(3) == 1L && !r.getBoolean(5))
  }
}

/** Round-6 part thirty-one: HHI and effective sample size. */
class Round7dSpec extends AnyFunSuite {

  test("hhiReport: monopoly reads 1, balanced mix reads 1/k") {
    import spark.implicits._
    val df = Seq(("m", "en"), ("m", "en"), ("m", "en"),
      ("b", "en"), ("b", "de"), ("b", "fr"), ("b", "zh"))
      .toDF("source", "lang")
    val r = Concentration.hhiReport(df, "source", "lang")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("m").getDouble(4) == 1.0 && r("m").getDouble(5) == 1.0)
    assert(r("b").getDouble(4) == 0.25)   // 4 equal shares → 1/4
    assert(r("b").getDouble(5) == 4.0)    // 4 effective competitors
    assert(r("b").getLong(3) == 4L)       // Σc² = 4·1
  }

  test("essReport: equal weights keep full ESS, one dominant halves it") {
    import spark.implicits._
    val eq = Seq(("e", 2.0), ("e", 2.0), ("e", 2.0), ("e", 2.0))
      .toDF("source", "w")
    val re = Sampling.essReport(eq, "source", "w").collect().head
    assert(re.getDouble(3) == 4.0 && re.getDouble(4) == 1.0)
    // weights 1,1,1,3: ESS = 36/12 = 3
    val sk = Seq(("s", 1.0), ("s", 1.0), ("s", 1.0), ("s", 3.0))
      .toDF("source", "w")
    val rs = Sampling.essReport(sk, "source", "w").collect().head
    assert(rs.getDouble(3) == 3.0 && rs.getDouble(4) == 0.75)
    // all-zero weights → NULL
    val z = Seq(("z", 0.0)).toDF("source", "w")
    assert(Sampling.essReport(z, "source", "w").collect().head.isNullAt(3))
  }
}

/** Round-7 part six: MP4/ISO-BMFF container parsing. */
class Round7kSpec extends AnyFunSuite {

  test("parseMp4: round-trips buildMp4 parameters exactly") {
    for (ts <- Seq(600, 1000, 90000); secs <- Seq(1L, 5L);
         tracks <- Seq(1, 2); dim <- Seq(320, 336)) {
      val b = VideoContainer.buildMp4(ts, secs * ts, tracks, dim, dim / 2)
      val i = VideoContainer.parseMp4(b).get
      assert(i.timescale == ts && i.durationTicks == secs * ts)
      assert(i.durationMs == secs * 1000L)
      assert(i.nTracks == tracks)
      assert(i.width == dim && i.height == dim / 2)
    }
  }

  test("parseMp4: the ftyp brand gate rejects non-BMFF payloads") {
    assert(VideoContainer.parseMp4("not a video at all".getBytes).isEmpty)
    assert(VideoContainer.parseMp4(Array[Byte]()).isEmpty)
    // a WAV and an MP3 never pass the gate; and an MP4 is neither
    val wav = AudioCodec.buildWav(1, 8000, new Array[Byte](64))
    val mp3 = AudioCodec.buildMp3(128, 44100, 2)
    assert(VideoContainer.parseMp4(wav).isEmpty)
    assert(VideoContainer.parseMp4(mp3).isEmpty)
    val mp4 = VideoContainer.buildMp4(600, 600, 1, 320, 240)
    assert(AudioCodec.parseWav(mp4).isEmpty)
    assert(AudioCodec.parseMp3(mp4).isEmpty)
  }

  test("parseMp4: truncated trailing box keeps the parsed moov") {
    val full = VideoContainer.buildMp4(1000, 3000, 2, 320, 240)
    // mdat is the last 8 bytes; cutting into it must not null the file
    val cut = full.dropRight(4)
    val i = VideoContainer.parseMp4(cut).get
    assert(i.durationMs == 3000L && i.nTracks == 2)
    // but cutting into moov itself leaves no complete mvhd -> None
    val headOnly = full.take(30)
    assert(VideoContainer.parseMp4(headOnly).isEmpty)
  }

  test("parseMp4: corrupt-size trailing box after moov keeps metadata") {
    val full = VideoContainer.buildMp4(1000, 5000, 1, 320, 240)
    // a trailing box whose size field is an invalid 3 (< 8): the walk
    // stops AT moov, so garbage after a complete moov can never null
    // already-parsed metadata — the parseMp3 stop-and-keep rule
    val bad = new Array[Byte](12)
    bad(3) = 3; "junk".getBytes.copyToArray(bad, 4)
    val i = VideoContainer.parseMp4(full ++ bad).get
    assert(i.durationMs == 5000L && i.nTracks == 1 && i.width == 320)
    // same for a size-0 (to-end, unsupported scope) trailing box
    val toEnd = new Array[Byte](12)
    "skip".getBytes.copyToArray(toEnd, 4)
    val i2 = VideoContainer.parseMp4(full ++ toEnd).get
    assert(i2.durationMs == 5000L && i2.nTracks == 1)
  }

  test("parseMp4: corrupt box inside moov keeps what parsed before it") {
    val full = VideoContainer.buildMp4(800, 1600, 1, 100, 50)
    // moov at 24 (after the 24-byte ftyp), mvhd at 32 (108 bytes),
    // first trak at 140 — corrupt the trak's size field to 3
    val cut = full.clone()
    cut(140) = 0; cut(141) = 0; cut(142) = 0; cut(143) = 3
    val i = VideoContainer.parseMp4(cut).get
    // mvhd parsed before the corruption survives; the trak does not
    assert(i.timescale == 800 && i.durationTicks == 1600L)
    assert(i.nTracks == 0 && i.width == 0 && i.height == 0)
  }

  test("parseMp4: unknown top-level boxes are skipped, not fatal") {
    val full = VideoContainer.buildMp4(600, 1200, 1, 640, 480)
    // splice a 'free' box between ftyp and moov
    val free = new Array[Byte](16)
    free(3) = 16; "free".getBytes.copyToArray(free, 4)
    val spliced = full.take(24) ++ free ++ full.drop(24)
    val i = VideoContainer.parseMp4(spliced).get
    assert(i.durationMs == 2000L && i.width == 640 && i.height == 480)
  }
}

/** Round-7 part eleven: chat-turn parsing. */
class Round7pSpec extends AnyFunSuite {

  test("parseTurns: markers, unknown lines, blanks, token counts") {
    import spark.implicits._
    val chats = Seq(
      (1L, "user: hello there\nassistant: hi\n\nno marker line"),
      (2L, "assistant: starts wrong"))
      .toDF("doc_id", "text")
    val r = Chat.parseTurns(chats).collect()
      .map(x => (x.getLong(0), x.getInt(1)) ->
        (x.getString(2), x.getInt(3))).toMap
    assert(r((1L, 0)) == ("user", 2))
    assert(r((1L, 1)) == ("assistant", 1))
    // the blank line drops BEFORE indexing: turn_idx stays contiguous
    // (a gap would flip the alternation parity downstream)
    assert(r((1L, 2)) == ("unknown", 3))
    assert(!r.contains((1L, 3)))
    assert(r((2L, 0)) == ("assistant", 2))
  }

  test("turnStats: blank separator lines do not break alternation") {
    import spark.implicits._
    // genuinely alternating transcript with blank lines between turns
    // — under line-index parity this misreported alternates=false
    val chats = Seq(
      (1L, "user: a\n\nassistant: b\n\nuser: c"),
      (2L, "user: a\n\nuser: b")) // still a real violation
      .toDF("doc_id", "text")
    val r = Chat.turnStats(chats).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getBoolean(6), "blank-separated alternation must pass")
    assert(r(1L).getLong(1) == 3L)
    assert(!r(2L).getBoolean(6))
  }

  test("turnStats: alternation flag binds both ways") {
    import spark.implicits._
    val chats = Seq(
      (1L, "user: a\nassistant: b c\nuser: d"),
      (2L, "user: a\nuser: b"),       // double user -> not alternating
      (3L, "assistant: a\nuser: b"))  // starts wrong -> not alternating
      .toDF("doc_id", "text")
    val r = Chat.turnStats(chats).collect()
      .map(x => x.getLong(0) -> x).toMap
    val d1 = r(1L)
    assert(d1.getLong(1) == 3L && d1.getLong(2) == 2L && d1.getLong(3) == 1L)
    assert(d1.getLong(4) == 2L && d1.getLong(5) == 2L)
    assert(d1.getBoolean(6))
    assert(!r(2L).getBoolean(6) && !r(3L).getBoolean(6))
  }

  test("synthesizeChats round-trips through the parser") {
    val docs = Tables.load(spark, sf, "documents")
    val stats = Chat.turnStats(Chat.synthesizeChats(docs)).collect()
    assert(stats.length == 500)
    stats.foreach { s =>
      val id = s.getLong(0)
      assert(s.getLong(1) == 2 + id % 5)
      assert(s.getBoolean(6), s"doc $id must alternate")
      val userTok = (0L until (2 + id % 5)).filter(_ % 2 == 0)
        .map(i => 3 + (id + i) % 5).sum
      assert(s.getLong(4) == userTok)
    }
  }
}

/** Round-8 part thirteen specs: raking, weight ESS. */
class Round8mSpec extends AnyFunSuite {

  private def corpus = {
    import spark.implicits._
    // rows A:B split 40:10; cols x:y split 40:10; A is 80% of mass
    (Seq.fill(30)(("A", "x")) ++ Seq.fill(10)(("A", "y")) ++
      Seq.fill(10)(("B", "x"))).toDF("lang", "source")
  }

  test("rakeWeights: row shares equalize, column masses are kept") {
    val out = Mixture.rakeWeights(corpus, "lang", "source", 2)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // raked row share moves from 800000/200000 ppm toward 500000
    val shares = out.map(t => t._1._1 -> t._4).toMap
    assert(shares("A") > 400000L && shares("A") < 600000L,
      out.mkString(","))
    assert(shares("B") > 400000L && shares("B") < 600000L)
    // the LAST step scales to column targets: col mass == target up
    // to one floor unit per cell
    val colMass = out.groupBy(_._1._2)
      .map { case (c, rows) => c -> rows.map(_._3).sum }
    assert(math.abs(colMass("x") - 40000000L) <= 2, colMass.toString)
    assert(math.abs(colMass("y") - 10000000L) <= 2, colMass.toString)
    assert(out.forall(_._3 > 0))
    graft.util.Caches.releaseAll()
  }

  test("weightEss: uniform weights give ESS = N exactly, skew less") {
    import spark.implicits._
    val uniform = Seq((10L, 10000000L), (20L, 20000000L),
      (30L, 30000000L)).toDF("n", "weight_micro")
    val r = Mixture.weightEss(uniform, "n", "weight_micro")
      .collect()(0)
    assert(r.getLong(0) === 60L && r.getDouble(3) === 60.0,
      r.toString)
    assert(r.getLong(4) === 1000000L)
    // all mass on one small cell -> far fewer effective rows
    val skew = Seq((10L, 59000000L), (50L, 1000000L))
      .toDF("n", "weight_micro")
    val s = Mixture.weightEss(skew, "n", "weight_micro").collect()(0)
    assert(s.getDouble(3) < 11.0, s.toString)
    graft.util.Caches.releaseAll()
  }

  test("rakeWeights: raked corpus ESS stays a sane fraction of N") {
    val ess = Mixture.weightEss(
      Mixture.rakeWeights(corpus, "lang", "source", 2),
      "n", "weight_micro").collect()(0)
    assert(ess.getLong(0) === 50L)
    assert(ess.getDouble(3) > 25.0 && ess.getDouble(3) <= 50.0,
      ess.toString)
    graft.util.Caches.releaseAll()
  }
}

/** Round-11 part one: the distributed exact-ntile (census offsets +
  * per-value partitioned rank) must be BIT-IDENTICAL to the SQL-window
  * ntile it replaces in q250 — across uneven splits (N mod n ≠ 0),
  * heavy value ties, N < n, and n = 1.
  */
class Round11Spec extends AnyFunSuite {

  private def check(values: Seq[Long], n: Int): Unit = {
    import spark.implicits._
    val df = values.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      .repartition(3) // assignment must not depend on layout
    val w = Window.orderBy(col("v"), col("id"))
    val expected = df.withColumn("t", ntile(n).over(w))
      .select("id", "t").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = Deciles.ntileExact(df, "v", "id", n, "t")
      .select("id", "t").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === expected, s"values=$values n=$n")
    graft.util.Caches.releaseAll()
  }

  test("ntileExact == window ntile: even split") {
    check(Seq(5L, 3L, 9L, 1L, 7L, 2L, 8L, 4L, 6L, 0L), 5)
  }

  test("ntileExact == window ntile: uneven split (first buckets take " +
    "the extra row)") {
    check(Seq(5L, 3L, 9L, 1L, 7L, 2L, 8L), 3) // 7 = 3+2+2
    check((0L until 23L).map(i => (i * 7) % 23), 10) // 23 over 10 bins
  }

  test("ntileExact == window ntile: heavy ties resolved by the unique " +
    "order column") {
    check(Seq(1L, 1L, 1L, 1L, 2L, 2L, 2L, 3L, 3L, 1L, 2L, 3L), 4)
    check(Seq.fill(9)(42L), 3) // one value, pure tiebreak ordering
  }

  test("ntileExact == window ntile: N < n and n = 1") {
    check(Seq(3L, 1L, 2L), 10) // one row per bucket, buckets 4..10 empty
    check(Seq(3L, 1L, 2L, 5L), 1) // single bucket
  }

  test("compact executes its own plan: per-bin round trip (files in " +
    "each bin -> ONE output file, rows and bytes conserved bin-wise)") {
    import graft.storage.StorageMonitor
    import spark.implicits._
    withTempDir("graft-compact") { tmp =>
      val staged = s"$tmp/staged"
      val out = s"$tmp/out"
      // 6 deterministic shards of 300 rows -> 6 small files
      (0L until 300L).map(i => (i, s"payload-$i", i % 6))
        .toDF("id", "payload", "shard")
        .repartition(col("shard"))
        .write.partitionBy("shard").parquet(staged)
      val inv = StorageMonitor.inventory(spark, Seq(staged))
        .filter(col("extension") === "parquet")
      val target = 4096L
      val plan = StorageMonitor.compactionPlan(inv, target).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val manifest = StorageMonitor.compact(spark, inv, target, out).collect()
      assert(manifest.nonEmpty && manifest.length === plan.size,
        "manifest must carry exactly the planned bins")
      manifest.foreach { r =>
        val bin = r.getAs[Long]("bin")
        val (nFiles, bytes) = plan(bin)
        assert(r.getAs[Long]("n_files_in") === nFiles)
        assert(r.getAs[Long]("bytes_in") === bytes)
        assert(r.getAs[Long]("n_files_out") === 1L,
          s"bin $bin must compact to exactly one file")
        assert(r.getAs[Long]("n_rows") > 0L)
      }
      assert(manifest.map(_.getAs[Long]("n_rows")).sum === 300L,
        "row conservation through the full read->bin->write->read-back")
      // per-bin row counts must equal the sum of each bin's INPUT files'
      // rows (conservation at bin grain, not just in total)
      val srcRows = spark.read.parquet(staged)
        .withColumn("__src", input_file_name())
        .groupBy("__src").count().collect()
        .map(r => r.getString(0).replaceFirst("^[a-zA-Z0-9+.-]+:/+", "")
          -> r.getLong(1)).toMap
      val binRows = StorageMonitor.binAssignments(inv, target).collect()
        .groupBy(_.getAs[Long]("bin"))
        .view.mapValues(_.map(r => srcRows(
          r.getAs[String]("path").replaceFirst("^[a-zA-Z0-9+.-]+:/+", ""))).sum)
        .toMap
      manifest.foreach { r =>
        assert(r.getAs[Long]("n_rows") === binRows(r.getAs[Long]("bin")),
          s"bin ${r.getAs[Long]("bin")} rows must equal its input files' rows")
      }
      graft.util.Caches.releaseAll()
    }
  }

  test("ntileExact: no unpartitioned window touches the data relation " +
    "(the census window rides distinct values only)") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, i % 7)).toDF("id", "v")
    val plan = Deciles.ntileExact(df, "v", "id", 10, "t")
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val emptySpecChildMax = plan.collect {
      case w: LWindow if w.partitionSpec.isEmpty =>
        // the only unpartitioned window is over the value census: its
        // subtree must aggregate before the window (grain change) — the
        // census arrives either as a logical Aggregate or already cached
        // as an InMemoryRelation whose physical plan aggregated
        w.child.collectFirst {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
          case m: org.apache.spark.sql.execution.columnar.InMemoryRelation
            if m.cachedPlan.toString.contains("HashAggregate") => m
        }.isDefined
    }
    assert(emptySpecChildMax.forall(identity),
      "unpartitioned window over a non-aggregated (data-grain) relation")
    graft.util.Caches.releaseAll()
  }
}

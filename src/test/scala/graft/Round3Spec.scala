package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Decontaminate, Repetition, Sampling, Scrub}

class Round3Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
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
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
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

  private lazy val embs = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

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
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("q52_decontaminate", "q53_repetition", "q54_quota_sample",
        "q55_mixture", "q56_top_tokens", "q57_pii_scrub", "q58_token_deciles",
        "q59_group_topn", "q60_ann_pq")) {
      val n = SparkEntry.queries(name)(spark, dir).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("q54 quota sample rows = sources x k on the fixture") {
    val df = SparkEntry.queries("q54_quota_sample")(spark, "/root/testdata/sf0.001")
    val sources = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("source").distinct().count()
    assert(df.count() == sources * registry.TextQueries.QuotaK)
  }

  test("q58 deciles partition each source into 10 buckets covering all docs") {
    val df = SparkEntry.queries("q58_token_deciles")(spark, "/root/testdata/sf0.001")
      .collect()
    val bySource = df.groupBy(_.getString(0))
    bySource.foreach { case (_, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toList == (1 to 10).toList)
    }
    val total = df.map(_.getLong(2)).sum
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents").count()
    assert(total == docs)
  }
}

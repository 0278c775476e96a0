package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Batching, Correlate, EventFunnel, ProductQuantization, Reshape, Similarity, TimeSeries}

/** Part-seven operators: pivot/melt reshaping, cohort retention, ordered
  * event-sequence funnel, power-of-two padding buckets, exact-integer
  * Pearson correlation, and IVF-PQ ANN.
  */
class Round5gSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  // ------------------------------------------------------------------
  // Reshape
  // ------------------------------------------------------------------

  test("pivotDaily: hand-computed cells; absent categories coalesce to 0") {
    val ev = Seq(
      (ts("2024-01-01 01:00:00"), "view", 1.5),
      (ts("2024-01-01 02:00:00"), "view", 2.5),
      (ts("2024-01-01 03:00:00"), "click", 10.0),
      (ts("2024-01-02 01:00:00"), "click", 4.0)
    ).toDF("ts", "event_type", "value")
    val got = Reshape.pivotDaily(ev, Seq("view", "click", "purchase"))
      .as[(String, Long, Double, Long, Double, Long, Double)]
      .collect().toSeq
    assert(got == Seq(
      ("2024-01-01", 2L, 4.0, 1L, 10.0, 0L, 0.0),
      ("2024-01-02", 0L, 0.0, 1L, 4.0, 0L, 0.0)))
  }

  test("pivotDaily drops categories outside the pinned list") {
    val ev = Seq((ts("2024-01-01 01:00:00"), "other", 1.0))
      .toDF("ts", "event_type", "value")
    val got = Reshape.pivotDaily(ev, Seq("view"))
      .as[(String, Long, Double)].collect().toSeq
    // the day row still exists (it has events), but the pinned column is 0
    assert(got == Seq(("2024-01-01", 0L, 0.0)))
  }

  test("melt inverts the pivot layout (roundtrip on the count columns)") {
    val ev = Seq(
      (ts("2024-01-01 01:00:00"), "view", 1.0),
      (ts("2024-01-01 02:00:00"), "click", 2.0),
      (ts("2024-01-02 03:00:00"), "view", 3.0)
    ).toDF("ts", "event_type", "value")
    val cats = Seq("view", "click")
    val wide = Reshape.pivotDaily(ev, cats)
    val long = Reshape.melt(wide, Seq("day"), cats.map(c => s"${c}_n"),
      "cat", "n")
      .filter(col("n") > 0)
      .select(col("day"), regexp_replace(col("cat"), "_n$", "").as("cat"),
        col("n"))
    val direct = ev.select(to_date(col("ts")).cast("string").as("day"),
      col("event_type").as("cat"))
      .groupBy("day", "cat").agg(count(lit(1)).as("n"))
    assert(long.except(direct).isEmpty && direct.except(long).isEmpty)
  }

  // ------------------------------------------------------------------
  // TimeSeries.cohortRetention
  // ------------------------------------------------------------------

  test("cohortRetention: hand-computed matrix; period 0 is always 10000 bp") {
    val ev = Seq(
      (ts("2024-01-01 10:00:00"), 1L), // u1 cohort 01-01
      (ts("2024-01-08 10:00:00"), 1L), // u1 active again in period 1
      (ts("2024-01-01 11:00:00"), 2L), // u2 cohort 01-01, never returns
      (ts("2024-01-02 09:00:00"), 3L)  // u3 cohort 01-02
    ).toDF("ts", "user_id")
    val got = TimeSeries.cohortRetention(ev)
      .as[(String, Int, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("2024-01-01", 0, 2L, 2L, 10000.0),
      ("2024-01-01", 1, 1L, 2L, 5000.0),
      ("2024-01-02", 0, 1L, 1L, 10000.0)))
  }

  test("cohortRetention: same-period repeat activity counts a user once") {
    val ev = Seq(
      (ts("2024-01-01 10:00:00"), 1L),
      (ts("2024-01-03 10:00:00"), 1L), // still period 0 (7-day periods)
      (ts("2024-01-05 10:00:00"), 1L)
    ).toDF("ts", "user_id")
    val got = TimeSeries.cohortRetention(ev)
      .as[(String, Int, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("2024-01-01", 0, 1L, 1L, 10000.0)))
  }

  // ------------------------------------------------------------------
  // EventFunnel
  // ------------------------------------------------------------------

  test("sequenceFunnel: order matters — a click before the first view does not convert") {
    val ev = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "view"),
      (ts("2024-01-01 11:00:00"), 1L, "click"),    // u1 converts
      (ts("2024-01-01 09:00:00"), 2L, "click"),
      (ts("2024-01-01 10:00:00"), 2L, "view"),     // u2: click precedes view
      (ts("2024-01-01 10:00:00"), 3L, "view")      // u3: view only
    ).toDF("ts", "user_id", "event_type")
    val got = EventFunnel.sequenceFunnel(ev, Seq("view", "click"))
      .as[(Int, String, Long, Double)].collect().toSeq
    assert(got == Seq((1, "view", 3L, 10000.0), (2, "click", 1L, 3333.3333)))
  }

  test("sequenceFunnel: greedy-earliest anchors are complete (later view still converts)") {
    // u1's FIRST view (t=1) precedes the click (t=5) — converts even
    // though another view (t=9) comes after the click
    val ev = Seq(
      (ts("2024-01-01 01:00:00"), 1L, "view"),
      (ts("2024-01-01 05:00:00"), 1L, "click"),
      (ts("2024-01-01 09:00:00"), 1L, "view"),
      (ts("2024-01-01 12:00:00"), 1L, "purchase")
    ).toDF("ts", "user_id", "event_type")
    val got = EventFunnel.sequenceFunnel(ev, Seq("view", "click", "purchase"))
      .as[(Int, String, Long, Double)].collect().toSeq
    assert(got == Seq((1, "view", 1L, 10000.0), (2, "click", 1L, 10000.0),
      (3, "purchase", 1L, 10000.0)))
  }

  test("sequenceFunnel: strictly-equal timestamps do not advance the funnel") {
    val ev = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "view"),
      (ts("2024-01-01 10:00:00"), 1L, "click") // same instant: not AFTER
    ).toDF("ts", "user_id", "event_type")
    val got = EventFunnel.sequenceFunnel(ev, Seq("view", "click"))
      .as[(Int, String, Long, Double)].collect().toSeq
    assert(got == Seq((1, "view", 1L, 10000.0), (2, "click", 0L, 0.0)))
  }

  test("sequenceFunnel: counts are monotone non-increasing on the fixture") {
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val users = EventFunnel.sequenceFunnel(ev, Seq("view", "click", "purchase"))
      .orderBy("step_idx").as[(Int, String, Long, Double)].collect()
      .map(_._3)
    assert(users.length == 3 && users.sliding(2).forall(w => w(0) >= w(1)))
    assert(users(0) > 0)
  }

  // ------------------------------------------------------------------
  // Batching
  // ------------------------------------------------------------------

  test("pow2Bucket: integer-exact next-power-of-two, incl. exact powers") {
    val got = (0L to 9L).toDF("n")
      .select(col("n"), Batching.pow2Bucket(col("n")).as("b"))
      .orderBy("n").as[(Long, Long)].collect().toSeq
    assert(got.map(_._2) == Seq(1L, 1L, 2L, 4L, 4L, 8L, 8L, 8L, 8L, 16L))
  }

  test("paddingReport: hand-computed buckets and waste") {
    val docs = Seq(
      ("a", "one two three"),        // 3 tokens -> bucket 4
      ("a", "one two three four"),   // 4 tokens -> bucket 4
      ("a", "one"),                  // 1 token  -> bucket 1
      ("b", "one two three four five") // 5 -> bucket 8
    ).toDF("source", "text")
    val got = Batching.paddingReport(docs)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("a", 1L, 1L, 1L, 1L, 0.0),
      ("a", 4L, 2L, 7L, 8L, 1250.0),
      ("b", 8L, 1L, 5L, 8L, 3750.0)))
  }

  test("paddingReport: padded slots always cover the real tokens") {
    val rep = Batching.paddingReport(
      Tables.load(spark, "/root/testdata/sf0.001", "documents"))
    assert(rep.filter(col("padded_tokens") < col("sum_tokens")).isEmpty)
    assert(rep.filter(col("waste_bp") < 0 || col("waste_bp") > 10000).isEmpty)
  }

  // ------------------------------------------------------------------
  // Correlate
  // ------------------------------------------------------------------

  test("pearsonMatrix: exact ±1 on linear columns, NULL on a constant") {
    val df = (1 to 20).map(i =>
      (i.toDouble, 2.0 * i + 3.0, -1.0 * i, 7.0))
      .toDF("x", "y2x", "neg", "const")
    val got = Correlate.pearsonMatrix(df, Seq("x", "y2x", "neg", "const"))
      .as[(String, String, Long, Option[Double])].collect()
      .map(r => ((r._1, r._2), r._4)).toMap
    assert(got(("x", "y2x")).contains(1.0))
    assert(got(("x", "neg")).contains(-1.0))
    assert(got(("x", "const")).isEmpty) // zero variance -> NULL
    assert(got(("y2x", "neg")).contains(-1.0))
  }

  test("pearsonMatrix matches the double-precision corr within 1e-6") {
    val df = (1 to 200).map { i =>
      val x = (i * 37 % 101).toDouble
      val y = x * 0.5 + (i * 13 % 17).toDouble
      (x, y)
    }.toDF("x", "y")
    val exact = Correlate.pearsonMatrix(df, Seq("x", "y"))
      .as[(String, String, Long, Double)].head()
    val approx = Correlate.pearsonMatrixApprox(df, Seq("x", "y"))
      .as[(String, String, Long, Double)].head()
    assert(math.abs(exact._4 - approx._4) < 1e-6)
    assert(exact._3 == 200L && approx._3 == 200L)
  }

  // ------------------------------------------------------------------
  // ProductQuantization.ivfAdcTopK
  // ------------------------------------------------------------------

  test("ivfAdcTopK with ONE cell reproduces plain ADC exactly (shift invariance)") {
    // integer coordinates: every dot/norm is integer-valued and exact in
    // doubles, so residual shifting cancels bit-for-bit
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 2f)),
      (1L, Array(2f, 1f, 0f, 1f)),
      (2L, Array(0f, 3f, 1f, 0f)),
      (3L, Array(1f, 1f, 1f, 1f)),
      (4L, Array(4f, 0f, 2f, 1f)),
      (5L, Array(0f, 0f, 3f, 2f))
    ).toDF("vec_id", "embedding")
    val cb = Seq(1L, 2L, 4L)
    val plain = ProductQuantization.adcTopK(vecs, Seq(0L), 3, cb, m = 2)
      .as[(Long, Long, Double, Int)].collect().toSeq
    val ivfpq = ProductQuantization.ivfAdcTopK(vecs, Seq(0L), 3,
      centroidIds = Seq(3L), codebookIds = cb, m = 2)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(plain.nonEmpty && ivfpq == plain)
  }

  test("ivfAdcTopK: single-probe results all live in the query's cell") {
    val sf = "/root/testdata/sf0.001"
    val embs = Tables.load(spark, sf, "embeddings")
    val centroidIds = registry.DedupQueries.IvfCentroidIds
    val got = ProductQuantization.ivfAdcTopK(embs, Seq(0L, 1L), 5,
      centroidIds, registry.DedupQueries.PqCodebookIds)
    val corpus = embs.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("nv", Similarity.norm(col("v")))
    val centroids = corpus.filter(col("vec_id").isin(centroidIds: _*))
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        col("nv").as("ncv"))
    val cells = Similarity.ivfAssign(corpus, centroids)
      .select(col("vec_id"), col("cell"))
    val joined = got
      .join(cells.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("cell", "qcell"), Seq("query_id"))
      .join(cells, Seq("vec_id"))
    assert(joined.filter(col("cell") =!= col("qcell")).isEmpty)
    // ranks contiguous from 1, distances non-decreasing per query
    val byQ = got.orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().groupBy(_._1)
    byQ.values.foreach { rows =>
      assert(rows.map(_._4).toSeq == (1 to rows.length))
      assert(rows.map(_._3).toSeq.sliding(2).forall {
        case Seq(a, b) => a <= b; case _ => true
      })
    }
  }
}

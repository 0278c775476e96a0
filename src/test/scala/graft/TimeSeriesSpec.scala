package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Batching, CorpusStats, Correlate, Deciles, Evaluation,
  EventFunnel, ProductQuantization, ProfileDrift, Reshape, Sessionize,
  Similarity, SkewReport, TimeSeries}
import graft.streaming.StreamingOps

import TestSpark._

// Specs of the operators behind [[registry.TimeSeriesQueries]].
//
// Time series and event sequences: windows, sessions, rolling
// activity, cohorts and funnels, change-point and trend tests,
// forecasts, seasonality and state-transition reports.
//
// Each suite keeps its class name, so every test keeps the suite-qualified
// name it is reported under; the suites are grouped here by domain.

/** Part-seven operators: pivot/melt reshaping, cohort retention, ordered
  * event-sequence funnel, power-of-two padding buckets, exact-integer
  * Pearson correlation, and IVF-PQ ANN.
  */
class Round5gSpec extends AnyFunSuite {
  import spark.implicits._


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
    val ev = Tables.load(spark, sf, "events")
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
      Tables.load(spark, sf, "documents"))
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

/** Round-6 part seven: ANOVA F, Theil–Sen, seasonality, and the CDC
  * latest-wins streaming twin.
  */
class Round6fSpec extends AnyFunSuite {

  private def ev(rows: Seq[(String, String, Double)]) = {
    import spark.implicits._
    rows.toDF("event_type", "d", "value")
      .select(col("event_type"), to_timestamp(col("d")).as("ts"), col("value"))
  }

  // ---------------------------------------------------------------- anova

  test("anovaF: hand-computed two-group separation, F = 13.5") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 4.0), ("b", 5.0), ("b", 6.0)).toDF("g", "v")
    val r = Correlate.anovaF(df, "g", "v").collect()
    assert(r.length == 2)
    val a = r.find(_.getString(0) == "a").get
    assert(a.getLong(1) == 3L)             // n_g
    assert(a.getLong(2) == 6000L)          // s_milli
    assert(a.getLong(3) == 2000000L)       // ssw contribution
    assert(a.getLong(4) == 6750000L)       // ssb contribution
    assert(a.getLong(5) == 4000000L)       // ssw_total
    assert(a.getLong(6) == 13500000L)      // ssb_total
    assert(a.getLong(7) == 1L && a.getLong(8) == 4L)
    assert(a.getDouble(9) == 13.5)
  }

  test("anovaF: identical group distributions → between-variance 0, F = 0") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 1.0), ("b", 3.0))
      .toDF("g", "v")
    val r = Correlate.anovaF(df, "g", "v").collect()
    assert(r.forall(_.getLong(4) == 0L))
    assert(r.forall(_.getDouble(9) == 0.0))
  }

  // ------------------------------------------------------------ theil-sen

  test("theilSen: exact slope on a linear series; robust to one outlier") {
    val lin = TimeSeries.theilSen(ev(Seq(
      ("a", "2024-01-01", 5.0), ("a", "2024-01-02", 7.0),
      ("a", "2024-01-03", 9.0), ("a", "2024-01-04", 11.0))),
      "event_type").collect().head
    assert(lin.getLong(1) == 6L)                       // C(4,2) pairs
    assert(lin.getDouble(3) == 2000000.0)              // 2 units/day micro

    // one wild day: OLS would swing; the pair-slope median holds at 2
    val rob = TimeSeries.theilSen(ev(Seq(
      ("a", "2024-01-01", 5.0), ("a", "2024-01-02", 7.0),
      ("a", "2024-01-03", 9.0), ("a", "2024-01-04", 11.0),
      ("a", "2024-01-05", 500.0))), "event_type").collect().head
    assert(rob.getDouble(3) == 2000000.0)
    graft.util.Caches.releaseAll()
  }

  // ---------------------------------------------------------- seasonality

  test("seasonalityReport: flat series → every weekday index is 10⁶ ppm") {
    val rows = (1 to 14).map(d => ("a", f"2024-01-$d%02d", 3.0))
    val r = TimeSeries.seasonalityReport(ev(rows), "event_type").collect()
    assert(r.length == 7)
    assert(r.forall(_.getLong(6) == 1000000L))
    assert(r.forall(_.getLong(2) == 2L)) // two of each weekday
  }

  test("seasonalityReport: doubled Sundays — index splits 1.75x vs 0.875x") {
    // 2024-01-07 and -14 are Sundays. value 6 there, 3 elsewhere:
    // mean_sun/mean_all = 6 / (48/14) = 1.75
    val rows = (1 to 14).map { d =>
      val v = if (d == 7 || d == 14) 6.0 else 3.0
      ("a", f"2024-01-$d%02d", v)
    }
    val r = TimeSeries.seasonalityReport(ev(rows), "event_type").collect()
      .map(x => x.getInt(1) -> x.getLong(6)).toMap
    assert(r(1) == 1750000L)               // Sunday (Spark dow 1)
    assert(r(2) == 875000L)                // Monday
  }

  // ------------------------------------------------------------- cdc twin

  test("latestChangeStream: last emitted per key ≡ batch latest-wins") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamingOps.CdcChange
    val input = MemoryStream[CdcChange]
    val out = StreamingOps.latestChangeStream(input.toDS().toDF())
    val name = "cdc_stream_" + System.nanoTime()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(CdcChange(1, 10, "U", "v1"), CdcChange(2, 5, "U", "w1"))
      q.processAllAvailable()
      // batch 2: key 1 advances; key 2 gets a LATE lower-seq change
      input.addData(CdcChange(1, 20, "D", "v2"), CdcChange(2, 3, "U", "stale"))
      q.processAllAvailable()
      // batch 3: key 2 advances twice within one batch (only max emits
      // after the fold processes in seq order — both emit, latest last)
      input.addData(CdcChange(2, 8, "U", "w2"), CdcChange(2, 9, "D", "w3"))
      q.processAllAvailable()
      val emitted = spark.table(name).as[CdcChange].collect()
      // the stale change must never have been emitted
      assert(!emitted.exists(c => c.key == 2 && c.payload == "stale"))
      val lastPerKey = emitted.groupBy(_.key).view
        .mapValues(_.maxBy(_.seq)).toMap
      assert(lastPerKey(1L) == CdcChange(1, 20, "D", "v2"))
      assert(lastPerKey(2L) == CdcChange(2, 9, "D", "w3"))
    } finally q.stop()
  }
}

/** Round-6 part eight: autocorrelation, Mann–Kendall, random projection,
  * rolling P95.
  */
class Round6gSpec extends AnyFunSuite {

  private def ev(rows: Seq[(String, String, Double)]) = {
    import spark.implicits._
    rows.toDF("event_type", "d", "value")
      .select(col("event_type"), to_timestamp(col("d")).as("ts"), col("value"))
  }

  // ------------------------------------------------------------- autocorr

  test("autocorrReport: hand-computed linear series → ACF₁ = 0.25") {
    // daily milli y = 0,1000,2000,3000; centered terms/n² give
    // den = 5·10⁶, num = 1.25·10⁶ → 0.25
    val r = TimeSeries.autocorrReport(ev(Seq(
      ("a", "2024-01-01", 0.0), ("a", "2024-01-02", 1.0),
      ("a", "2024-01-03", 2.0), ("a", "2024-01-04", 3.0))),
      "event_type").collect().head
    assert(r.getLong(2) == 3L)             // n_pairs
    assert(r.getLong(3) == 1250000L)       // num_milli2
    assert(r.getLong(4) == 5000000L)       // den_milli2
    assert(r.getDouble(5) == 0.25)
    graft.util.Caches.releaseAll()
  }

  test("autocorrReport: constant series has zero variance → NULL ACF") {
    val r = TimeSeries.autocorrReport(ev(Seq(
      ("a", "2024-01-01", 2.0), ("a", "2024-01-02", 2.0),
      ("a", "2024-01-03", 2.0))), "event_type").collect().head
    assert(r.getLong(4) == 0L)
    assert(r.isNullAt(5))
    graft.util.Caches.releaseAll()
  }

  test("autocorrReport: calendar gaps break lag pairs") {
    val r = TimeSeries.autocorrReport(ev(Seq(
      ("a", "2024-01-01", 1.0), ("a", "2024-01-02", 2.0),
      ("a", "2024-01-05", 3.0))), "event_type").collect().head
    assert(r.getLong(2) == 1L) // only (01→02); the 02→05 gap is no pair
    graft.util.Caches.releaseAll()
  }

  // ---------------------------------------------------------- mann-kendall

  test("mannKendall: strictly increasing series, continuity-corrected z") {
    val r = TimeSeries.mannKendall(ev(Seq(
      ("a", "2024-01-01", 1.0), ("a", "2024-01-02", 2.0),
      ("a", "2024-01-03", 3.0), ("a", "2024-01-04", 4.0))),
      "event_type").collect().head
    assert(r.getLong(3) == 6L && r.getLong(4) == 6L) // n_pairs, S
    assert(r.getLong(5) == 156L)                     // 4·3·13, no ties
    val z = 5.0 / math.sqrt(156.0 / 18.0)
    assert(math.abs(r.getDouble(6) - z) < 1e-6)
    graft.util.Caches.releaseAll()
  }

  test("mannKendall: ties shrink the variance via the correction term") {
    val r = TimeSeries.mannKendall(ev(Seq(
      ("a", "2024-01-01", 1.0), ("a", "2024-01-02", 1.0),
      ("a", "2024-01-03", 2.0))), "event_type").collect().head
    assert(r.getLong(4) == 2L)     // S: two up-pairs, one tie
    assert(r.getLong(5) == 48L)    // 3·2·11 − 2·1·9
    assert(r.getLong(2) == 2L)     // n_distinct
    graft.util.Caches.releaseAll()
  }

  // ---------------------------------------------------- random projection

  test("randomProjection: basis vector reads the sign matrix back") {
    import spark.implicits._
    val dim = 16
    val onehot = Array.fill(dim)(0.0f)
    onehot(3) = 1.0f // dim index 3 (0-based)
    val df = Seq((7L, onehot.toSeq)).toDF("vec_id", "embedding")
    val r = Similarity.randomProjection(df, 4, dim).collect()
      .map(x => x.getInt(1) -> x.getLong(2)).toMap
    val p = graft.operators.Sampling.HashMod
    (0 until 4).foreach { j =>
      val h = (((3L * 4 + j) % p) * 2654435761L) % p
      val want = if (h < Similarity.RpSignThreshold) 1000000L else -1000000L
      assert(r(j + 1) == want)
    }
  }

  test("randomProjection: deterministic and partitioning-invariant") {
    val emb = Tables.load(spark, sf, "embeddings")
    val a = Similarity.randomProjection(emb, 4, 64).collect()
    val b = Similarity.randomProjection(emb.repartition(11), 4, 64)
      .orderBy("vec_id", "j").collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  // ----------------------------------------------------------- rolling p95

  test("rollingP95: exact order statistic accumulates across the window") {
    val d1 = (1 to 20).map(i => ("x", "2024-01-01", i.toDouble))
    val d2 = (1 to 20).map(i => ("x", "2024-01-02", i.toDouble))
    val r = TimeSeries.rollingP95(ev(d1 ++ d2)).collect()
      .map(x => x.getDate(0).toString -> (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toMap
    assert(r("2024-01-01") == (20L, 19L, 19000000L))
    assert(r("2024-01-02") == (40L, 38L, 19000000L))
    graft.util.Caches.releaseAll()
  }

  test("rollingP95: days beyond the trailing window fall out") {
    val r = TimeSeries.rollingP95(ev(Seq(
      ("x", "2024-01-01", 100.0), ("x", "2024-01-10", 1.0)))
    ).collect().map(x => x.getDate(0).toString -> x.getLong(3)).toMap
    assert(r("2024-01-01") == 100000000L)
    assert(r("2024-01-10") == 1000000L) // the 100 from day 1 aged out
    graft.util.Caches.releaseAll()
  }
}

/** Round-6 part seventeen: conversion latency, distinctive terms, and
  * the streaming rank-sum twin.
  */
class Round6pSpec extends AnyFunSuite {


  test("conversionLatency: cohort-day quartiles, non-convert binds") {
    import spark.implicits._
    val ev = Seq(
      // user 1: A at 00:00, B at 00:10 → dt = 600 s
      (1L, ts("2024-01-01 00:00:00"), 1L, "a"),
      (2L, ts("2024-01-01 00:10:00"), 1L, "b"),
      // user 2: B BEFORE first A only → started, not converted
      (3L, ts("2024-01-01 01:00:00"), 2L, "b"),
      (4L, ts("2024-01-01 02:00:00"), 2L, "a"),
      // user 3: A next day, B 30 s later → second cohort day
      (5L, ts("2024-01-02 00:00:00"), 3L, "a"),
      (6L, ts("2024-01-02 00:00:30"), 3L, "b"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val r = EventFunnel.conversionLatency(ev,
      col("event_type") === "a", col("event_type") === "b")
      .collect()
    assert(r.length == 2)
    val d1 = r(0)
    assert(d1.getDate(0).toString == "2024-01-01")
    assert(d1.getLong(1) == 2L && d1.getLong(2) == 1L) // started, converted
    assert(d1.getLong(3) == 500000L)                   // conv_ppm = 1e6 div 2
    assert(d1.getLong(4) == 600000000L)                // mean 600 s in µs
    assert(d1.getLong(5) == 600000000L && d1.getLong(8) == 600000000L)
    val d2 = r(1)
    assert(d2.getLong(1) == 1L && d2.getLong(2) == 1L)
    assert(d2.getLong(6) == 30000000L)                 // p50 = 30 s
    graft.util.Caches.releaseAll()
  }

  test("conversionLatency: zero-conversion day keeps NULL quartiles") {
    import spark.implicits._
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "a"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val r = EventFunnel.conversionLatency(ev,
      col("event_type") === "a", col("event_type") === "b")
      .collect().head
    assert(r.getLong(2) == 0L && r.getLong(3) == 0L)
    assert(r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(8))
    graft.util.Caches.releaseAll()
  }

  test("distinctiveTerms: over-used token rises, zero cell surfaces negative") {
    import spark.implicits._
    // group X uses 'foo' heavily; group Y never does (zero cell);
    // 'base' is common ground
    val docs = Seq(
      ("x", "foo foo foo foo base base"),
      ("x", "foo foo base base"),
      ("y", "base base base base bar bar"),
      ("y", "base base bar bar"))
      .toDF("source", "text")
    val r = CorpusStats.distinctiveTerms(docs, "source",
      vocabSize = 10, alpha0 = 4L, topK = 3).collect()
    val xTop = r.filter(_.getString(0) == "x").head
    assert(xTop.getString(1) == "foo")       // rank 1 for its heavy user
    assert(xTop.getDouble(5) > 0)
    // foo appears in Y's grid as a ZERO cell with negative z
    val yFoo = r.filter(x => x.getString(0) == "y" && x.getString(1) == "foo")
    if (yFoo.nonEmpty) assert(yFoo.head.getLong(2) == 0L &&
      yFoo.head.getDouble(5) < 0)
    val yTop = r.filter(_.getString(0) == "y").head
    assert(yTop.getString(1) == "bar" && yTop.getDouble(5) > 0)
    graft.util.Caches.releaseAll()
  }

  test("distinctiveTerms: symmetric corpora give mirror-image z") {
    import spark.implicits._
    val docs = Seq(("p", "aa bb"), ("q", "bb cc"))
      .toDF("source", "text")
    val r = CorpusStats.distinctiveTerms(docs, "source",
      vocabSize = 3, alpha0 = 2L, topK = 3).collect()
    def z(g: String, w: String) =
      r.find(x => x.getString(0) == g && x.getString(1) == w).get.getDouble(5)
    // aa: p-exclusive; cc: q-exclusive — same counts, so mirrored z
    assert(z("p", "aa") == z("q", "cc"))
    assert(z("p", "cc") == z("q", "aa"))
    assert(z("p", "bb") == z("q", "bb"))     // shared token, equal usage
    graft.util.Caches.releaseAll()
  }

  test("streaming rank-sum twin: drained windowed census ≡ batch report") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val census = StreamingOps.valueCensusStream(
      input.toDS().toDF("ts", "value"), "1 hour", "1 minute")
    val name = "rs_census_" + System.nanoTime()
    val q = census.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(
        (ts("2024-01-01 10:10:00"), 2.0), (ts("2024-01-01 10:20:00"), 3.0),
        (ts("2024-01-01 10:30:00"), 4.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 13:00:00"), 9.0)) // advance watermark
      q.processAllAvailable()
      val ref = Seq(1.0, 2.0, 3.0).toDF("value")
      val got = ProfileDrift.rankSumFromCounts(
        spark.table(name), ProfileDrift.referenceCensus(ref, "value"))
        .filter(col("window_start") === ts("2024-01-01 10:00:00"))
        .collect().head
      val batch = ProfileDrift.rankSumReport(
        ref.withColumn("g", lit("w")),
        Seq(2.0, 3.0, 4.0).toDF("value").withColumn("g", lit("w")),
        "g", "value").collect().head
      // (n_ref, n_cur, u2, tie3, r_rb, z) identical stream vs batch
      assert((got.getLong(2), got.getLong(3), got.getLong(4),
        got.getLong(5), got.getDouble(6), got.getDouble(7)) ==
        (batch.getLong(1), batch.getLong(2), batch.getLong(3),
          batch.getLong(4), batch.getDouble(5), batch.getDouble(6)))
    } finally q.stop()
  }
}

/** Round-6 part twenty-one: Q–Q drift and Fano overdispersion. */
class Round6tSpec extends AnyFunSuite {

  private def df1(vs: Seq[Double]) = {
    import spark.implicits._
    vs.map(("g", _)).toDF("k", "value")
  }

  test("qqReport: pure location shift reads the shift at every decile") {
    val ref = df1((1 to 100).map(_.toDouble))
    val cur = df1((1 to 100).map(_ + 7.0))
    val r = ProfileDrift.qqReport(ref, cur, "k", "value").collect()
    assert(r.length == 9)
    assert(r.forall(_.getLong(6) == 7000000L))   // +7 at every decile
    // decile picks are real data values: q5 of 1..100 is 50
    val q5 = r.find(_.getInt(1) == 5).get
    assert(q5.getLong(4) == 50000000L && q5.getLong(5) == 57000000L)
  }

  test("qqReport: identical sides read zero shift") {
    val ref = df1(Seq(1.0, 2.0, 3.0, 4.0, 5.0))
    val r = ProfileDrift.qqReport(ref, ref, "k", "value").collect()
    assert(r.forall(_.getLong(6) == 0L))
    // ⌈q·5/10⌉ picks: q1→1st=1, q5→3rd=3, q9→5th=5
    val byQ = r.map(x => x.getInt(1) -> x.getLong(4)).toMap
    assert(byQ(1) == 1000000L && byQ(5) == 3000000L && byQ(9) == 5000000L)
  }

  test("fanoReport: constant days ⇒ 0, bursty ⇒ overdispersed") {
    import spark.implicits._
    // 'flat': 2 events/day × 3 days → var 0, fano 0
    // 'burst': 1, 1, 7 events → var_num = 3·51−81 = 72;
    //   fano_ppm = 72e6 div (2·9) = 4e6 → overdispersed
    val ev =
      (1 to 2).flatMap(i => Seq(
        ("flat", ts("2024-01-01 00:00:00")), ("flat", ts("2024-01-02 00:00:00")),
        ("flat", ts("2024-01-03 00:00:00")))) ++
      Seq(("burst", ts("2024-01-01 00:00:00")), ("burst", ts("2024-01-02 00:00:00"))) ++
      (1 to 7).map(_ => ("burst", ts("2024-01-03 00:00:00")))
    val r = TimeSeries.fanoReport(ev.toDF("event_type", "ts"), "event_type")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("flat").getLong(4) == 0L && !r("flat").getBoolean(5))
    assert(r("burst").getLong(3) == 72L)
    assert(r("burst").getLong(4) == 4000000L && r("burst").getBoolean(5))
  }

  test("fanoReport: single-day key reports NULL ratio") {
    import spark.implicits._
    val ev = Seq(("solo", ts("2024-01-01 10:00:00")))
      .toDF("event_type", "ts")
    val r = TimeSeries.fanoReport(ev, "event_type").collect().head
    assert(r.isNullAt(4) && r.isNullAt(5))
  }
}

/** Round-6 part twenty-two: Holt linear-trend forecaster. */
class Round6uSpec extends AnyFunSuite {


  private def daily(key: String, vals: Seq[Double]) =
    vals.zipWithIndex.map { case (v, i) =>
      (key, ts(f"2024-01-${i + 1}%02d 12:00:00"), v)
    }

  test("holtForecast: hand-computed level/trend on a rising series") {
    import spark.implicits._
    // y (micro) = 4e6, 8e6, 12e6:
    // t1: l=4e6 b=0
    // t2: p=4e6; l=⌊(12e6+8e6)/4⌋=5e6; b=⌊(0+1e6)/4⌋=250000; ae=4e6
    // t3: p=5.25e6; l=⌊(15.75e6+12e6)/4⌋=6937500;
    //     b=⌊(750000+1937500)/4⌋=671875; ae=4e6+6.75e6=10.75e6
    val ev = daily("k", Seq(4.0, 8.0, 12.0))
      .toDF("event_type", "ts", "value")
    val r = TimeSeries.holtForecast(ev, "event_type").collect().head
    assert(r.getLong(1) == 3L)
    assert(r.getLong(2) == 6937500L)       // level
    assert(r.getLong(3) == 671875L)        // trend
    assert(r.getLong(4) == 6937500L + 671875L)
    assert(r.getLong(5) == 10750000L / 2)  // mae
  }

  test("holtForecast: falling series carries a NEGATIVE truncated trend") {
    import spark.implicits._
    // y = 12e6, 4e6: t2: p=12e6; l=(36e6+4e6) div 4=10e6;
    // b=(0 + (10e6−12e6)) div 4 = −500000
    val ev = daily("k", Seq(12.0, 4.0)).toDF("event_type", "ts", "value")
    val r = TimeSeries.holtForecast(ev, "event_type").collect().head
    assert(r.getLong(2) == 10000000L && r.getLong(3) == -500000L)
    // TRUNCATION semantics on a negative non-multiple (both engines
    // truncate toward zero — Spark div ≡ DuckDB //):
    // l = 40000004 div 4 = 10000001, dl = −1999999 →
    // b = −1999999 div 4 = −499999 (floor would give −500000)
    val ev2 = daily("k", Seq(12.0, 4.000004)).toDF("event_type", "ts", "value")
    val r2 = TimeSeries.holtForecast(ev2, "event_type").collect().head
    assert(r2.getLong(2) == 10000001L && r2.getLong(3) == -499999L)
  }

  test("holtForecast: constant series tracks exactly after step one") {
    import spark.implicits._
    val ev = daily("k", Seq(5.0, 5.0, 5.0, 5.0))
      .toDF("event_type", "ts", "value")
    val r = TimeSeries.holtForecast(ev, "event_type").collect().head
    assert(r.getLong(2) == 5000000L && r.getLong(3) == 0L)
    assert(r.getLong(5) == 0L)             // zero one-step error
    // single day → NULL mae
    val one = daily("k", Seq(5.0)).toDF("event_type", "ts", "value")
    assert(TimeSeries.holtForecast(one, "event_type")
      .collect().head.isNullAt(5))
  }
}

/** Round-7 part seven: Chow break, conformal intervals, and the
  * streaming join-size twin.
  */
class Round7lSpec extends AnyFunSuite {


  test("chowTest: a slope kink at the breakpoint drives a large F") {
    import spark.implicits._
    // key 'kink': slope +1 for days 0..9, slope +5 after; key 'line':
    // one straight line throughout -> F ~ 0
    val rows = (0 until 20).flatMap { d =>
      val day = f"2024-01-${d + 1}%02d 12:00:00"
      val kinkV = if (d < 10) d.toDouble else 10.0 + 5.0 * (d - 10)
      Seq(("kink", ts(day), kinkV), ("line", ts(day), 2.0 * d))
    }.toDF("event_type", "ts", "value")
    val r = TimeSeries.chowTest(rows, "event_type", "2024-01-11")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("kink").getLong(1) == 10L && r("kink").getLong(2) == 10L)
    // two clean lines fit the segments exactly -> RSS1+RSS2 = 0 -> NULL
    // guard would fire; add jitter-free check on 'line' instead
    assert(r("line").getDouble(3) == r("line").getDouble(4),
      "straight line: equal segment slopes")
    val fLine = if (r("line").isNullAt(5)) 0.0 else r("line").getDouble(5)
    assert(fLine < 1.0, s"no-break F should be ~0, got $fLine")
  }

  test("chowTest: noisy kink clears the 1% critical value, noisy line does not") {
    import spark.implicits._
    // deterministic jitter so segment RSS > 0
    def jit(d: Int) = (d * 37 % 7 - 3) * 0.05
    val rows = (0 until 24).flatMap { d =>
      val day = f"2024-01-${d + 1}%02d 12:00:00"
      val kinkV = (if (d < 12) d.toDouble else 12.0 + 6.0 * (d - 12)) + jit(d)
      Seq(("kink", ts(day), kinkV), ("line", ts(day), 1.5 * d + jit(d)))
    }.toDF("event_type", "ts", "value")
    val r = TimeSeries.chowTest(rows, "event_type", "2024-01-13")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("kink").getDouble(5) > 5.85, // F(2, 20) at 1%
      s"kink F = ${r("kink").getDouble(5)}")
    assert(r("line").getDouble(5) < 5.85,
      s"line F = ${r("line").getDouble(5)}")
  }

  test("conformalReport: empirical coverage meets the 1-alpha guarantee") {
    import spark.implicits._
    // deterministic spread of values around a group mean
    val rows = (0L until 2000L).map { i =>
      ("g", i, 100.0 + (i * 13 % 41).toDouble - 20.0)
    }.toDF("event_type", "event_id", "value")
    val r = Evaluation.conformalReport(rows, "event_type", "value",
      "event_id", 100L).collect().head
    val nCal = r.getLong(1); val nTest = r.getLong(2)
    assert(nCal + nTest == 2000L && nCal > 800 && nTest > 800)
    // coverage >= 1 - alpha (minus small-sample slack)
    assert(r.getLong(6) >= 880000L,
      s"coverage ${r.getLong(6)} ppm below the guarantee")
    // qhat is a real calibration residual
    assert(r.getLong(4) >= 0L && r.getLong(4) <= 21000000L)
  }

  test("streaming join-size twin ≡ batch forecast on a drained stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = Tables.load(spark, sf, "events")
    val orders = Tables.load(spark, sf, "orders")
    val all = ev.select(col("ts"), col("user_id"))
      .as[(java.sql.Timestamp, Long)].collect().toSeq
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val census = StreamingOps.keyCensusStream(
      input.toDS().toDF("ts", "user_id"), "3650 days", "0 seconds")
    val name = "js_census_" + System.nanoTime()
    val q = census.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(all)
      q.processAllAvailable()
      input.addData((ts("2044-01-01 00:00:00"), -999L)) // flush window
      q.processAllAvailable()
      val firstWindow = spark.table(name)
        .groupBy().agg(min("window_start")).collect()(0).getTimestamp(0)
      val got = SkewReport.joinSizeFromCounts(
          spark.table(name).filter(col("window_start") === lit(firstWindow)),
          orders, "o_custkey")
        .drop("window_start", "window_end").collect().map(_.toSeq).toSeq
      val want = SkewReport.joinSizeReport(ev, orders,
        "user_id", "o_custkey").collect().map(_.toSeq).toSeq
      assert(want.nonEmpty && got == want)
    } finally q.stop()
  }
}

/** Round-7 part ten: session path census. */
class Round7oSpec extends AnyFunSuite {


  test("topPaths: hand-built journeys, truncation, share accounting") {
    import spark.implicits._
    // user 1: one session view>click>buy>extra (truncated at 3);
    // user 2: two sessions (gap > 1h): view>click | view
    // user 3: view>click>buy
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, 2L, ts("2024-01-01 10:01:00"), "click"),
      (1L, 3L, ts("2024-01-01 10:02:00"), "buy"),
      (1L, 4L, ts("2024-01-01 10:03:00"), "extra"),
      (2L, 5L, ts("2024-01-01 09:00:00"), "view"),
      (2L, 6L, ts("2024-01-01 09:05:00"), "click"),
      (2L, 7L, ts("2024-01-01 12:00:00"), "view"),
      (3L, 8L, ts("2024-01-01 08:00:00"), "view"),
      (3L, 9L, ts("2024-01-01 08:01:00"), "click"),
      (3L, 10L, ts("2024-01-01 08:02:00"), "buy"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val r = Sessionize.topPaths(ev, gapSeconds = 3600, pathLen = 3)
      .collect().map(x => x.getString(1) ->
        (x.getInt(0), x.getLong(2), x.getLong(3))).toMap
    // 4 sessions total: view>click>buy ×2, view>click ×1, view ×1
    assert(r("view>click>buy") == (1, 2L, 500000L))
    assert(r("view") == (2, 1L, 250000L)) // n-tie: lexicographic path
    assert(r("view>click") == (3, 1L, 250000L))
    assert(r.size == 3)
    // equal-ts determinism: ties break by event_id inside the window
    val tie = Seq(
      (9L, 2L, ts("2024-01-01 10:00:00"), "b"),
      (9L, 1L, ts("2024-01-01 10:00:00"), "a"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val p = Sessionize.topPaths(tie, 3600, 2).collect().head.getString(1)
    assert(p == "a>b")
  }
}

/** Round-7 part sixteen: cross-correlation + weighted median. */
class Round7uSpec extends AnyFunSuite {


  test("crossCorrelation: a planted 2-day lag peaks at lag 2") {
    import spark.implicits._
    // series a: a distinctive daily pattern; series b = a shifted by
    // 2 days — corr at lag 2 is exactly 1
    val pat = Seq(3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7)
    val ev = pat.zipWithIndex.flatMap { case (n, i) =>
      (1 to n).map(_ => ("a", ts(f"2024-01-${i + 1}%02d 10:00:00"))) ++
        (1 to n).map(_ => ("b", ts(f"2024-01-${i + 3}%02d 10:00:00")))
    }.toDF("event_type", "ts")
      .withColumn("user_id", lit(1L))
    val r = TimeSeries.crossCorrelation(ev, "event_type", "a", "b", 3)
      .collect().map(x => x.getInt(0) ->
        (x.getDouble(2), x.getBoolean(3))).toMap
    assert(r(2) == (1.0, true))
    assert(!r(0)._2 && !r(-2)._2)
    assert(r(0)._1 < 1.0)
    graft.util.Caches.releaseAll()
  }

  test("weightedMedian: token mass moves the median; ties pick smallest") {
    import spark.implicits._
    // values 1..4 with weights concentrating mass on 4
    val df = Seq(("s", 1L, 1L), ("s", 2L, 1L), ("s", 3L, 1L),
      ("s", 4L, 7L)).toDF("g", "v", "w")
    val r = Deciles.weightedMedian(df, "g", "v", "w").collect().head
    assert(r.getLong(1) == 4L && r.getLong(2) == 10L)
    // cum weights 1,2,3,10; threshold (10+1) div 2 = 5 -> v = 4
    assert(r.getLong(3) == 4L)
    // unweighted median would be 2 (exact census pick on counts)
    val uw = Seq(("s", 1L, 1L), ("s", 2L, 1L), ("s", 3L, 1L),
      ("s", 4L, 1L)).toDF("g", "v", "w")
    assert(Deciles.weightedMedian(uw, "g", "v", "w").collect()
      .head.getLong(3) == 2L)
  }
}

/** Round-7 part seventeen: searched mean-shift changepoint. */
class Round7vSpec extends AnyFunSuite {


  test("bestMeanBreak: finds a planted level shift at the right day") {
    import spark.implicits._
    // key 'shift': daily sums 10 for Jan 1-8, then 50 for Jan 9-16
    // key 'flat': constant 20 throughout -> zero variance reduction
    val ev = (1 to 16).flatMap { d =>
      val day = f"2024-01-$d%02d 08:00:00"
      Seq(("shift", ts(day), if (d <= 8) 10.0 else 50.0),
        ("flat", ts(day), 20.0))
    }.toDF("event_type", "ts", "value")
    val r = TimeSeries.bestMeanBreak(ev, "event_type").collect()
      .map(x => x.getString(0) -> x).toMap
    val sh = r("shift")
    assert(sh.getLong(1) == 16L)
    assert(sh.getDate(2).toString == "2024-01-08") // split after Jan 8
    assert(sh.getLong(3) == 8L)
    // the split explains ALL the variance of a clean step
    assert(sh.getDouble(6) == 1.0)
    val fl = r("flat")
    assert(fl.getDouble(4) == 0.0 && fl.isNullAt(6))
  }

  test("bestMeanBreak: short series emit nothing") {
    import spark.implicits._
    val ev = (1 to 3).map(d =>
      ("k", ts(f"2024-01-$d%02d 08:00:00"), d.toDouble))
      .toDF("event_type", "ts", "value")
    assert(TimeSeries.bestMeanBreak(ev, "event_type").collect().isEmpty)
  }
}

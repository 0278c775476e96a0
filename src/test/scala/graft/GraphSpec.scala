package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Attribution, CorpusStats, Correlate, Dedup,
  Evaluation, Graph, Linkage, Privacy, ProfileDrift, TimeSeries, Transitions}
import graft.plans.PlanLeaves
import graft.streaming.StreamingOps

import TestSpark._

// Specs of the operators behind [[registry.GraphQueries]].
//
// Graph analytics over co-occurrence and interaction edges:
// PageRank variants, triangles, k-hop reach, k-core, label
// propagation, assortativity and link-prediction scores.
//
// Each suite keeps its class name, so every test keeps the suite-qualified
// name it is reported under; the suites are grouped here by domain.

/** Round-6 part three: graph analytics, evaluation, privacy, MI, trend.
  * Hand-computed toys pin every closed-form core; plan gates hold the
  * scan shapes the scaladocs claim.
  */
class Round6bSpec extends AnyFunSuite {

  // ---------------------------------------------------------------- graph

  test("coOccurrenceEdges: pair census + stop-group cap binds") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L), // group 1: 3 items → 3 pairs
      (2L, 10L), (2L, 11L),            // group 2: repeats the (10,11) pair
      (2L, 10L),                       // duplicate row — distinct first
      (3L, 20L)                        // singleton group: no pairs
    ).toDF("g", "it")
    val e = Graph.coOccurrenceEdges(df, "g", "it")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(e == Map((10L, 11L) -> 2L, (10L, 12L) -> 1L, (11L, 12L) -> 1L))
    // cap 2 drops group 1 entirely; only the (10,11) pair survives, with
    // its weight reduced to group 2's contribution
    val capped = Graph.coOccurrenceEdges(df, "g", "it", Some(2L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped == Map((10L, 11L) -> 1L))
  }

  test("pageRankMicro: hand-unrolled damping updates on a path graph") {
    import spark.implicits._
    // 1 — 2 — 3: degrees 1, 2, 1. Unit mass 10⁶ per node.
    // round 1: in(1)=in(3)=5·10⁵, in(2)=2·10⁶
    //   → r1 = (575000, 1850000, 575000)
    // round 2: 2 sends 925000 each way, ends send their whole rank to 2
    //   → r2 = (936250, 1127500, 936250)
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("node_a", "node_b")
    val r = Graph.pageRankMicro(edges, 2)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r == Map(1L -> (1L, 936250L), 2L -> (2L, 1127500L),
      3L -> (1L, 936250L)))
  }

  test("pageRankMicro: zero iterations returns unit mass, mass bounded") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("node_a", "node_b")
    val r0 = Graph.pageRankMicro(edges, 0).collect()
    assert(r0.forall(_.getLong(2) == 1000000L))
    // damping is mass-contractive up to floor loss: Σrank ≤ n·10⁶ after
    // any number of rounds on a regular graph
    val r3 = Graph.pageRankMicro(edges, 3).collect()
    assert(r3.map(_.getLong(2)).sum <= 3000000L)
  }

  test("triangleReport: triangle + pendant, coefficients and NULLs") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("node_a", "node_b")
    val r = Graph.triangleReport(edges).collect()
      .map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2),
          if (x.isNullAt(3)) None else Some(x.getDouble(3)))).toMap
    assert(r(1L) == (2L, 1L, Some(1.0)))
    assert(r(2L) == (2L, 1L, Some(1.0)))
    assert(r(3L) == (3L, 1L, Some(0.333333)))
    assert(r(4L) == (1L, 0L, None)) // degree 1: coefficient undefined
  }

  test("triangleReport: square has no triangles; diagonal makes two") {
    import spark.implicits._
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    val r1 = Graph.triangleReport(square.toDF("node_a", "node_b")).collect()
    assert(r1.forall(_.getLong(2) == 0L))
    val r2 = Graph.triangleReport((square :+ (1L, 3L)).toDF("node_a", "node_b"))
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r2 == Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  // ----------------------------------------------------------- evaluation

  test("aucReport: rank-sum identity with ties; one-class group NULL") {
    import spark.implicits._
    // pos scores {3, 2}, neg {1, 2}: 3 clear wins + 1 tie → AUC 0.875
    val df = Seq(
      ("g", 3L, true), ("g", 2L, true), ("g", 1L, false), ("g", 2L, false),
      ("h", 5L, true), ("h", 7L, true) // positives only: AUC undefined
    ).toDF("src", "score", "y")
    val r = Evaluation.aucReport(df, "src", "score", col("y")).collect()
      .map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3),
          if (x.isNullAt(4)) None else Some(x.getDouble(4)))).toMap
    assert(r("g") == (2L, 2L, 7L, Some(0.875)))
    assert(r("h") == (2L, 0L, 0L, None))
  }

  test("aucReport: perfect separation gives 1.0, reversed gives 0.0") {
    import spark.implicits._
    val perfect = Seq(("g", 10L, true), ("g", 11L, true),
      ("g", 1L, false), ("g", 2L, false)).toDF("src", "score", "y")
    assert(Evaluation.aucReport(perfect, "src", "score", col("y"))
      .collect().head.getDouble(4) == 1.0)
    val reversed = perfect.withColumn("y", !col("y"))
    assert(Evaluation.aucReport(reversed, "src", "score", col("y"))
      .collect().head.getDouble(4) == 0.0)
  }

  test("calibrationReport: integer bins, floor means, ppm rates") {
    import spark.implicits._
    // scores 0..9, 5 bins over (mx−mn+1)=10 → bin = s div 2
    val df = (0L to 9L).map(s => (s, s % 2 == 0)).toDF("score", "y")
    val r = Evaluation.calibrationReport(df, "score", col("y"), 5).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
    assert(r.length == 5)
    // every bin holds {2k, 2k+1}: n=2, one even (pos), floor mean = 2k
    r.zipWithIndex.foreach { case ((bin, n, pos, mean, ppm), k) =>
      assert(bin == k && n == 2L && pos == 1L && mean == 2L * k &&
        ppm == 500000L)
    }
  }

  // ------------------------------------------------------------- MI/trend

  test("mutualInformation: exact 0 on independence, ln 2 on identity") {
    import spark.implicits._
    // perfectly independent 2×2 uniform: every cell's log term is ln 1
    val ind = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("u", "v")
    val r1 = Correlate.mutualInformation(ind, "u", "v").collect()
    assert(r1.forall(_.getLong(3) == 0L))
    assert(r1.forall(_.getLong(4) == 0L))
    // identity coupling of 2 symbols: MI = ln 2; each cell contributes
    // round(0.5·ln2·1e9) = 346573590 nano-nats
    val dep = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y"))
      .toDF("u", "v")
    val r2 = Correlate.mutualInformation(dep, "u", "v").collect()
    assert(r2.forall(_.getLong(3) == 346573590L))
    assert(r2.forall(_.getLong(4) == 693147180L))
  }

  test("trendReport: exact slope on linear data, NULL on a single day") {
    import spark.implicits._
    val df = Seq(
      ("A", "2024-01-01 00:00:00", 1.0), ("A", "2024-01-02 00:00:00", 2.0),
      ("A", "2024-01-03 00:00:00", 3.0),
      ("A", "2024-01-03 12:00:00", 0.0), // same-day row folds into day 2
      ("B", "2024-01-02 00:00:00", 9.0)  // one day: den = 0 → NULL
    ).toDF("k", "tss", "value").withColumn("ts", to_timestamp(col("tss")))
    val r = TimeSeries.trendReport(df, "k").collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getLong(3),
        if (x.isNullAt(4)) None else Some(x.getDouble(4)))).toMap
    // daily micro sums 1e6, 2e6, 3e6 at x = 0,1,2 → slope exactly 10⁶/day
    assert(r("A") == (3L, 6000000L, 6L, Some(1000000.0)))
    assert(r("B") == (1L, 0L, 0L, None))
  }

  // -------------------------------------------------------------- privacy

  test("kAnonymityReport: class census and both violation flags") {
    import spark.implicits._
    val df = Seq(
      ("t1", 0, 100L), ("t1", 0, 100L), ("t1", 0, 101L), // 3 rows, 2 ids
      ("t1", 1, 102L),                                   // 1 row: k-breach
      ("t2", 0, 103L), ("t2", 0, 103L), ("t2", 0, 103L)  // 3 rows, 1 id
    ).toDF("et", "h", "uid")
    val r = Privacy.kAnonymityReport(df, Seq("et", "h"), "uid", 3L).collect()
      .map(x => (x.getString(0), x.getInt(1)) ->
        (x.getLong(2), x.getLong(3), x.getBoolean(4), x.getBoolean(5))).toMap
    assert(r(("t1", 0)) == (3L, 2L, false, false))
    assert(r(("t1", 1)) == (1L, 1L, true, true))
    assert(r(("t2", 0)) == (3L, 1L, false, true)) // k-fine, single-subject
  }

  // ------------------------------------------------------------ plan gates

  private def leafCounts(name: String): Map[String, Int] =
    PlanLeaves.counts(SparkEntry.queries(name)(spark, sf))

  test("plan gates: single-scan audits, two-scan frozen-bounds reports") {
    // one scan: the aggregate-only shapes
    for (q <- Seq("q131_k_anonymity", "q132_auc", "q134_mutual_information"))
      assert(PlanLeaves.parquetScans(leafCounts(q)) == 1, s"$q scans != 1")
    // two scans: main pass + the 1-row broadcast bounds relation
    for (q <- Seq("q133_calibration", "q135_trend"))
      assert(PlanLeaves.parquetScans(leafCounts(q)) <= 2, s"$q scans > 2")
  }

  test("plan gates: no product joins in the graph queries") {
    for (q <- Seq("q129_pagerank", "q130_triangles")) {
      val p = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q has a product join:\n$p")
    }
  }
}

/** Round-6 part fourteen: weighted PageRank and the streaming KS twin. */
class Round6mSpec extends AnyFunSuite {

  test("pageRankMicro weighted: mass splits proportionally to weights") {
    import spark.implicits._
    // 1—2 (w=3), 2—3 (w=1): strengths 3, 4, 1.
    // round 1: in(1) = (10⁶·3)div4 = 750000, in(2) = 10⁶ + 10⁶ = 2·10⁶,
    // in(3) = (10⁶·1)div4 = 250000 → ranks 787500 / 1850000 / 362500.
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L))
      .toDF("node_a", "node_b", "w")
    val r = Graph.pageRankMicro(edges, 1, "node_a", "node_b", Some("w"))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1L) == (3L, 787500L))
    assert(r(2L) == (4L, 1850000L))
    assert(r(3L) == (1L, 362500L))
    graft.util.Caches.releaseAll()
  }

  test("pageRankMicro: unit weights reproduce the unweighted ranks") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("node_a", "node_b")
    val plain = Graph.pageRankMicro(edges, 2).collect().map(_.toSeq)
    graft.util.Caches.releaseAll()
    val weighted = Graph.pageRankMicro(
      edges.withColumn("w", lit(1L)), 2, "node_a", "node_b", Some("w"))
      .collect().map(_.toSeq)
    assert(plain.toSeq == weighted.toSeq)
    graft.util.Caches.releaseAll()
  }

  test("streaming KS twin: drained windowed census ≡ batch ksReport") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    case class Ev(ts: java.sql.Timestamp, value: Double)
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val census = StreamingOps.valueCensusStream(
      input.toDS().toDF("ts", "value"), "1 hour", "1 minute")
    val name = "ks_census_" + System.nanoTime()
    val q = census.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(
        (ts("2024-01-01 10:10:00"), 2.0), (ts("2024-01-01 10:20:00"), 3.0),
        (ts("2024-01-01 10:30:00"), 4.0),
        (ts("2024-01-01 11:10:00"), 1.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 13:00:00"), 9.0)) // advance watermark
      q.processAllAvailable()
      val ref = Seq(1.0, 2.0, 3.0).toDF("value")
      val got = ProfileDrift.ksFromCounts(
        spark.table(name), ProfileDrift.referenceCensus(ref, "value"))
        .collect()
        .map(r => r.getTimestamp(0).toString ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
        .toMap
      // window 10:00: cur {2,3,4} vs ref {1,2,3} → d=3, ks=1/3
      assert(got("2024-01-01 10:00:00.0") == (3L, 3L, 3L, 0.333333))
      // window 11:00: cur {1} → d = |1·1 − 1·3| = 2, ks = 2/3
      assert(got("2024-01-01 11:00:00.0") == (3L, 1L, 2L, 0.666667))
      // cross-check the first window against the batch operator
      val batch = ProfileDrift.ksReport(
        ref.withColumn("g", lit("w")),
        Seq(2.0, 3.0, 4.0).toDF("value").withColumn("g", lit("w")),
        "g", "value").collect().head
      assert(batch.getLong(3) == 3L && batch.getDouble(5) == 0.333333)
    } finally q.stop()
  }
}

/** Round-6 part twenty-four: personalized PageRank and the PSI suite. */
class Round6wSpec extends AnyFunSuite {

  test("personalized PR: restart mass lands only on seeds") {
    import spark.implicits._
    // path 1-2-3, seed {1}: restart = 150000·3 div 1 = 450000 on node 1
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("node_a", "node_b")
    val seeds = Seq((1L, 1L)).toDF("node", "w")
    val r = Graph.pageRankPersonalizedMicro(edges, 1, seeds)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(2) == 450000L)
    assert(r(2L).getLong(2) == 0L && r(3L).getLong(2) == 0L)
    // round 1 from uniform 10⁶ ranks:
    // in(1) = 10⁶ div 2 = 500000 → 450000 + 425000 = 875000
    // in(2) = 10⁶ + 10⁶ = 2·10⁶ → 0 + 1700000
    // in(3) = 500000 → 0 + 425000
    assert(r(1L).getLong(3) == 875000L)
    assert(r(2L).getLong(3) == 1700000L)
    assert(r(3L).getLong(3) == 425000L)
    graft.util.Caches.releaseAll()
  }

  test("personalized PR: seed proximity orders the steady ranks") {
    import spark.implicits._
    // star: hub 1 with leaves 2..5; seed {2} — after some rounds the
    // seed itself outranks the other leaves
    val edges = (2L to 5L).map(l => (1L, l)).toDF("node_a", "node_b")
    val seeds = Seq((2L, 1L)).toDF("node", "w")
    val r = Graph.pageRankPersonalizedMicro(edges, 4, seeds)
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(r(2L) > r(3L) && r(3L) == r(4L) && r(4L) == r(5L))
    graft.util.Caches.releaseAll()
  }

  test("psiSuite ≡ per-column psiReport") {
    import spark.implicits._
    val ref = Seq((1.0, 10.0), (2.0, 20.0), (3.0, 35.0), (4.0, 40.0))
      .toDF("a", "b")
    val cur = Seq((1.0, 38.0), (1.5, 39.0), (4.0, 41.0)).toDF("a", "b")
    val suite = ProfileDrift.psiSuite(ref, cur, Seq("a", "b"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    for (c <- Seq("a", "b")) {
      val single = ProfileDrift.psiReport(
        ref.select(lit(c).as("g"), col(c).as("v")),
        cur.select(lit(c).as("g"), col(c).as("v")), "g", "v")
        .collect().head.getDouble(3)
      assert(suite(c) == single, s"feature $c diverged")
    }
    // b's mass concentrated at the top bins → larger PSI than a
    assert(suite("b") > suite("a"))
  }
}

/** Round-7 part thirteen: k-core peeling + Spearman. */
class Round7rSpec extends AnyFunSuite {

  test("kCoreReport: tails peel, cores survive, cascades propagate") {
    import spark.implicits._
    // triangle 1-2-3 with a tail 3-4; path 5-6-7
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (5L, 6L), (6L, 7L)).toDF("node_a", "node_b")
    val r = Graph.kCoreReport(edges, k = 2, rounds = 3).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2))).toMap
    assert(r(1L) == (2L, true) && r(2L) == (2L, true))
    assert(r(3L) == (3L, true))  // keeps the triangle after the tail dies
    assert(r(4L) == (1L, false))
    // the path cascades to nothing under k=2: ends peel, middle follows
    assert(!r(5L)._2 && !r(6L)._2 && !r(7L)._2)
    graft.util.Caches.releaseAll()
  }

  test("kCoreReport: fixture rounds reach the peeling fixpoint") {
    val e = registry.GraphQueries.coPurchase(spark, sf)
    val a = Graph.kCoreReport(e, registry.GraphQueries.CoreK,
      registry.GraphQueries.CoreRounds).collect().map(_.toSeq).toSeq
    graft.util.Caches.releaseAll()
    val b = Graph.kCoreReport(e, registry.GraphQueries.CoreK,
      registry.GraphQueries.CoreRounds + 1).collect().map(_.toSeq).toSeq
    assert(a == b, "one more peel changed the core — raise CoreRounds")
    // and the peel BINDS: someone died
    assert(a.exists(r => r(2) == false))
    graft.util.Caches.releaseAll()
  }

  test("spearman: monotone nonlinear = 1, reversal = -1, ties averaged") {
    import spark.implicits._
    val cube = (1 to 20).map(x => (x.toLong, (x.toLong * x * x)))
      .toDF("x", "y")
    assert(Correlate.spearman(cube, "x", "y").collect().head
      .getDouble(2) == 1.0)
    val rev = (1 to 20).map(x => (x.toLong, (21 - x).toLong)).toDF("x", "y")
    assert(Correlate.spearman(rev, "x", "y").collect().head
      .getDouble(2) == -1.0)
    // constant y -> NULL rho
    val const = (1 to 5).map(x => (x.toLong, 7L)).toDF("x", "y")
    assert(Correlate.spearman(const, "x", "y").collect().head.isNullAt(2))
    // tie-averaged: x = (1,2,2,3), y = (1,3,2,4): hand-computed 0.948683
    val tied = Seq((1L, 1L), (2L, 3L), (2L, 2L), (3L, 4L)).toDF("x", "y")
    assert(Correlate.spearman(tied, "x", "y").collect().head
      .getDouble(2) == 0.948683)
    graft.util.Caches.releaseAll()
  }
}

/** Round-8 part one: k-core exchange budget + sorted-neighborhood
  * linkage blocking laws.
  */
class Round8aSpec extends AnyFunSuite {

  /** Total shuffle-write bytes during `body` — the exchange budget an
    * iterative operator actually pays, visible ACROSS its internal
    * checkpoint/cache-fill jobs (the final executedPlan can't see
    * inside them). Stage counts would conflate node-grain and
    * full-relation exchanges; bytes weigh them honestly.
    */
  private def shuffleBytesDuring(body: => Unit): Long =
    tasksDuring(body).map(_.shuffleWriteMetrics.bytesWritten).sum

  /** The round-7 k-core round shape — fixed-orientation, checkpoint
    * (layout lost), both endpoints re-shuffled every round — kept
    * here as the exchange-budget baseline the cached alternating form
    * must beat.
    */
  private def kCoreBothEnds(edges: org.apache.spark.sql.DataFrame,
      k: Long, rounds: Int): org.apache.spark.sql.DataFrame = {
    val directed0 = edges
      .select(col("node_a").as("src"), col("node_b").as("dst"))
      .unionByName(edges
        .select(col("node_b").as("src"), col("node_a").as("dst")))
    var live = directed0.localCheckpoint()
    for (_ <- 1 to rounds) {
      val keep = live.groupBy("src").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("src").localCheckpoint()
      live = live.join(keep, Seq("src"))
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"))
        .localCheckpoint()
    }
    live.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("final_degree"))
  }

  private def ring(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
      .toDF("node_a", "node_b")
  }

  test("kCoreReport: alternating rounds beat shuffle-both-ends on bytes") {
    // force the sort-merge regime — the 100 TB case the layout design
    // targets; at broadcast scale neither form shuffles the relation
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val edges = ring(20000)
      // warm-up so codegen/session startup doesn't pollute either side
      Graph.kCoreReport(edges, 2, 2).collect()
      graft.util.Caches.releaseAll()
      val newBytes = shuffleBytesDuring {
        Graph.kCoreReport(edges, 2, 6).collect(); ()
      }
      graft.util.Caches.releaseAll()
      val oldBytes = shuffleBytesDuring {
        kCoreBothEnds(edges, 2, 6).collect(); ()
      }
      info(s"shuffle bytes: alternating=$newBytes bothEnds=$oldBytes")
      assert(newBytes < oldBytes * 8 / 10,
        s"alternating form must shuffle materially less: " +
          s"new=$newBytes old=$oldBytes")
    }
  }

  test("kCoreReport: ring peels below k=3 and keeps a 3-core") {
    import spark.implicits._
    // two triangles sharing no edge + a pendant chain: k=2 keeps the
    // triangles, peels the chain
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L),
      (5L, 3L), (0L, 6L), (6L, 7L)).toDF("node_a", "node_b")
    val r = Graph.kCoreReport(edges, 2, 6).collect()
      .map(x => x.getLong(0) -> x.getBoolean(2)).toMap
    assert(Seq(0L, 1L, 2L, 3L, 4L, 5L).forall(r(_)), s"triangles survive: $r")
    assert(!r(6L) && !r(7L), s"chain peels: $r")
    graft.util.Caches.releaseAll()
  }

  test("sortedNeighborhoodPairs ⊆ blockedPairs, and the blocking binds") {
    import spark.implicits._
    val df = (0 until 200).map { i =>
      (i.toLong, i % 5, (i * 7919L) % 10000 - 1000)
    }.toDF("id", "blk", "v")
    val sn = Linkage.sortedNeighborhoodPairs(df, "blk", "v", 500L, "id")
      .select(least(col("a_id"), col("b_id")).as("x"),
        greatest(col("a_id"), col("b_id")).as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = Linkage.blockedPairs(df, "blk", "id")
      .select(col("a_id").as("x"), col("b_id").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sn.subsetOf(all), "SN pairs must be a subset of block pairs")
    assert(sn.size < all.size, "the neighborhood restriction must bind")
    assert(sn.nonEmpty, "some close pairs must survive")
    // no duplicate unordered pairs from the adjacent-bucket fan-out
    val raw = Linkage.sortedNeighborhoodPairs(df, "blk", "v", 500L, "id")
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(raw.length == raw.toSet.size, "pair list must be duplicate-free")
  }

  test("sortedNeighborhoodPairs: every pair within bucketWidth is kept") {
    import spark.implicits._
    val df = (0 until 80).map { i =>
      (i.toLong, 0, (i * 997L) % 3000 - 1500)
    }.toDF("id", "blk", "v")
    val sn = Linkage.sortedNeighborhoodPairs(df, "blk", "v", 400L, "id")
      .select(least(col("a_id"), col("b_id")).as("x"),
        greatest(col("a_id"), col("b_id")).as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(2))
    val within = (for {
      (ia, va) <- rows; (ib, vb) <- rows
      if ia < ib && math.abs(va - vb) < 400L
    } yield (ia, ib)).toSet
    assert(within.subsetOf(sn),
      s"missing close pairs: ${within.diff(sn).take(5)}")
  }
}

/** Round-8 part three/four specs: winnowing, Kneser–Ney, LPA, Brier
  * decomposition, removal-effect attribution.
  */
class Round8cSpec extends AnyFunSuite {

  test("winnowingReport: shared run guarantees a shared fingerprint") {
    import spark.implicits._
    // docs 1/2 share an 8-token run (>= windowSize+k-1 = 6 tokens), doc
    // 3 is disjoint — the winnowing coverage theorem forces 1 and 2 to
    // share a fingerprint; 3 must share nothing
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"one two $shared three"),
      (2L, s"$shared four five six"),
      (3L, "completely different words here nothing matches at all"))
      .toDF("doc_id", "text")
    val r = Dedup.winnowingReport(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(2), x.getLong(3))).toMap
    assert(r(1L)._2 > 0, s"doc 1 must share a fingerprint: $r")
    assert(r(2L)._2 > 0, s"doc 2 must share a fingerprint: $r")
    assert(r(3L)._2 == 0, s"doc 3 shares nothing: $r")
    // density: fingerprints are a strict subset of the grams
    assert(r(1L)._1 > 0 && r(1L)._1 < 9)
    graft.util.Caches.releaseAll()
  }

  test("winnowingReport: short docs form one whole-doc window") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b")).toDF("doc_id", "text")
    val r = Dedup.winnowingReport(docs, k = 3, windowSize = 4).collect()
    // doc 1 has exactly one 3-gram -> one fingerprint; doc 2 has no
    // 3-gram and drops out
    assert(r.map(_.getLong(0)).toSeq == Seq(1L))
    assert(r(0).getLong(1) == 1L && r(0).getLong(2) == 1L)
    graft.util.Caches.releaseAll()
  }

  test("bigramKnNll: repeated fluent text scores below shuffled text") {
    import spark.implicits._
    val fluent = Seq.fill(20)("the quick brown fox jumps over the lazy dog")
      .mkString(" ")
    // every transition unique: no bigram repeats, so each backs off to
    // its continuation probability — maximal surprisal
    val salad = (0 until 180).map(i => s"w${(i * 37) % 180}")
      .mkString(" ")
    val docs = (1 to 6).map(i => (i.toLong, if (i <= 3) fluent else salad,
      "src")).toDF("doc_id", "text", "source")
    val r = CorpusStats.bigramKnNll(docs).collect()
      .map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(r(1L) < r(4L),
      s"fluent must score lower NLL than salad: $r")
    graft.util.Caches.releaseAll()
  }

  test("labelPropagation: two cliques joined by a bridge separate") {
    import spark.implicits._
    def clique(ids: Seq[Long]) =
      for { a <- ids; b <- ids if a < b } yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ ((4L, 10L)))
      .toDF("node_a", "node_b")
    val r = Graph.labelPropagation(edges, 4).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // each clique converges to its own min label
    assert(Seq(1L, 2L, 3L).map(r).distinct.size == 1)
    assert(Seq(11L, 12L, 13L).map(r).distinct.size == 1)
    assert(r(1L) != r(11L), s"cliques must separate: $r")
    graft.util.Caches.releaseAll()
  }

  test("brierReport: perfect and constant forecasts decompose sanely") {
    import spark.implicits._
    // perfect forecast: pm = y * 1e6 -> brier 0, reliability 0
    val perfect = (1 to 100).map(i =>
      (if (i % 4 == 0) 1000000L else 0L, i % 4 == 0))
      .toDF("pm", "y")
    val p = Evaluation.brierReport(perfect, "pm", col("y")).collect()(0)
    assert(p.getDouble(3) == 0.0 && p.getDouble(4) == 0.0)
    // resolution equals uncertainty when forecasts perfectly separate
    assert(math.abs(p.getDouble(5) - p.getDouble(6)) < 1e-3,
      s"resolution ~ uncertainty for a perfect forecast: $p")
    // constant base-rate forecast: no resolution, tiny reliability
    val const = (1 to 100).map(i => (250000L, i % 4 == 0)).toDF("pm", "y")
    val c = Evaluation.brierReport(const, "pm", col("y")).collect()(0)
    assert(c.getDouble(5) == 0.0, s"constant forecast has no resolution: $c")
    assert(c.getDouble(4) < 1e-3, s"base-rate forecast is calibrated: $c")
    graft.util.Caches.releaseAll()
  }

  test("removalEffect: the channel on every converting path gets credit") {
    import spark.implicits._
    // users 1..3: view -> click -> purchase; users 4..6: view -> error
    // (no conversion). Removing click must kill ALL conversions;
    // removing error must cost nothing.
    val ev = (1 to 3).flatMap(u => Seq(
      (u.toLong, ts(s"2024-01-0$u 10:00:00"), 10L * u, "view"),
      (u.toLong, ts(s"2024-01-0$u 10:01:00"), 10L * u + 1, "click"),
      (u.toLong, ts(s"2024-01-0$u 10:02:00"), 10L * u + 2, "purchase"))) ++
      (4 to 6).flatMap(u => Seq(
        (u.toLong, ts(s"2024-01-0$u 10:00:00"), 10L * u, "view"),
        (u.toLong, ts(s"2024-01-0$u 10:01:00"), 10L * u + 1, "error")))
    val df = ev.toDF("user_id", "ts", "event_id", "event_type")
    val r = Transitions.removalEffect(df, "purchase", steps = 6)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    val full = r("click")._1
    assert(full > 0, s"some conversion mass must reach ~conv: $r")
    assert(r("click")._2 == 0 && r("click")._3 == 1000000L,
      s"click is on every converting path: $r")
    assert(r("error")._2 == full && r("error")._3 == 0L,
      s"error is never on a converting path: $r")
    // removal can only reduce conversion probability
    assert(r.values.forall(v => v._2 <= full), s"monotone: $r")
    graft.util.Caches.releaseAll()
  }
}

/** Round-8 part five specs: followed-by census, Shapley attribution,
  * Adamic–Adar link prediction.
  */
class Round8dSpec extends AnyFunSuite {

  test("followedByCensus: gap-tolerant ordering, not just adjacency") {
    import spark.implicits._
    // user 1: a .. x .. b (a before b WITH a gap — transitionMatrix
    // would never pair them); user 2: b then a (not a-then-b)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "a"),
      (1L, ts("2024-01-01 10:01:00"), 2L, "x"),
      (1L, ts("2024-01-01 10:02:00"), 3L, "b"),
      (2L, ts("2024-01-01 11:00:00"), 4L, "b"),
      (2L, ts("2024-01-01 11:01:00"), 5L, "a"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val r = Transitions.followedByCensus(ev).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(3), x.getLong(4), x.getLong(5), x.getLong(6))).toMap
    // a→b: only user 1 (user 2's a comes after its b)
    assert(r(("a", "b")) == (2L, 2L, 1L, 500000L), s"$r")
    // b→a: only user 2
    assert(r(("b", "a")) == (2L, 2L, 1L, 500000L), s"$r")
    // a→x: user 1 only; x appears once
    assert(r(("a", "x"))._3 == 1L)
    graft.util.Caches.releaseAll()
  }

  test("shapleyAttribution: efficiency and a hand-computed split") {
    import spark.implicits._
    // 4 users: {a}→conv, {a}→no, {b}→no, {a,b}→conv
    // v({a}) = 500000, v({b}) = 0, v({a,b}) = 1000000, v(∅) = 0
    // φ_a = (1/2)(v(a)−v(∅)) + (1/2)(v(ab)−v(b)) = 250000 + 500000
    // φ_b = (1/2)(v(b)−v(∅)) + (1/2)(v(ab)−v(a)) = 0 + 250000
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "a"),
      (1L, ts("2024-01-01 10:01:00"), 2L, "purchase"),
      (2L, ts("2024-01-02 10:00:00"), 3L, "a"),
      (3L, ts("2024-01-03 10:00:00"), 4L, "b"),
      (4L, ts("2024-01-04 10:00:00"), 5L, "a"),
      (4L, ts("2024-01-04 10:01:00"), 6L, "b"),
      (4L, ts("2024-01-04 10:02:00"), 7L, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val r = Attribution.shapleyAttribution(ev, "purchase").collect()
      .map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(r("a") == 750000L, s"$r")
    assert(r("b") == 250000L, s"$r")
    // efficiency: Σφ = v(full) − v(∅) = 1000000 − 0
    assert(r.values.sum == 1000000L, s"$r")
    graft.util.Caches.releaseAll()
  }

  test("adamicAdarTopK: rare shared neighbor outranks a hub") {
    import spark.implicits._
    // z1 (degree 2) connects 1-2; hub z2 (degree 4) connects 3-4;
    // both candidate pairs have one common neighbor, but 1-2 scores
    // 1/ln(2) > 3-4's 1/ln(4)
    val edges = Seq((100L, 1L), (100L, 2L), (200L, 3L), (200L, 4L),
      (200L, 5L), (200L, 6L)).toDF("node_a", "node_b")
    val r = Graph.adamicAdarTopK(edges, 10).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(3)).toMap
    assert(r((1L, 2L)) > r((3L, 4L)), s"$r")
    assert(r((1L, 2L)) == math.round(1e6 / math.log(2.0)), s"$r")
    // existing edges never appear as candidates
    assert(!r.contains((100L, 1L)) && !r.contains((1L, 100L)))
    graft.util.Caches.releaseAll()
  }

  test("adamicAdarTopK: the wedge cap drops hub centers") {
    import spark.implicits._
    val edges = Seq((100L, 1L), (100L, 2L), (200L, 3L), (200L, 4L),
      (200L, 5L), (200L, 6L)).toDF("node_a", "node_b")
    val r = Graph.adamicAdarTopK(edges, 10, Some(3L)).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    // hub z2 (degree 4 > cap 3) contributes nothing: only 1-2 remains
    assert(r.contains((1L, 2L)) && !r.exists(p => p._1 >= 3L && p._1 <= 6L),
      s"$r")
    graft.util.Caches.releaseAll()
  }
}

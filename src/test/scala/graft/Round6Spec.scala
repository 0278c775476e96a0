package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{CorpusStats, Dedup}

/** Round-6 stop-shingle cap semantics: the caps only remove intersection
  * evidence, so capped survivors are a SUBSET of the uncapped exact tier
  * with pointwise-smaller overlap counts — and the test caps are tight
  * enough to BIND at the fixture SF (assertions would pass vacuously on
  * a cap that drops nothing).
  */
class Round6Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
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
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
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
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
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
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
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

package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.core.MomentState
import graft.operators.Constraints
import graft.streaming.StreamingOps
import graft.util.TempDirs.withTempDir

import TestSpark._

case class StreamEv(doc_id: Long, fp: String, ts: Timestamp, user_id: Long, value: Double)
case class StreamDoc(doc_id: Long, text: String, ts: Timestamp)
case class SrcDoc(doc_id: Long, source: String, text: String, ts: Timestamp)
case class RawEv(user_id: Long, ts: Timestamp, event_type: String, event_id: Long, value: Double)

class StreamingOpsSpec extends AnyFunSuite {


  test("streaming dedup keeps first occurrence within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[StreamEv]
    val out = StreamingOps.dropDuplicatesStream(
      input.toDS().toDF(), Seq("fp"), "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(
        StreamEv(1, "aaa", ts("2024-01-01 00:00:00"), 1, 1.0),
        StreamEv(2, "aaa", ts("2024-01-01 00:00:30"), 1, 1.0), // dup in-batch
        StreamEv(3, "bbb", ts("2024-01-01 00:01:00"), 1, 1.0))
      q.processAllAvailable()
      input.addData(
        StreamEv(4, "aaa", ts("2024-01-01 00:02:00"), 1, 1.0), // dup cross-batch
        StreamEv(5, "ccc", ts("2024-01-01 00:03:00"), 1, 1.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("doc_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 3L, 5L))
    } finally q.stop()
  }

  test("streaming as-of enrichment equals the batch as-of join on a drained stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, sf, "events")
    val all = ev.select(col("user_id").cast("long"), col("ts"),
        col("event_type"), col("event_id").cast("long"),
        col("value").cast("double"))
      .as[RawEv].collect().toSeq
    val input = MemoryStream[RawEv]
    val out = StreamingOps.asofEnrichStream(input.toDS().toDF(), "1 hour")
    val name = "asof_stream_" + System.nanoTime()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(all) // one batch: in-batch ordering = exact as-of
      q.processAllAvailable()
      val got = spark.table(name)
        .select("user_id", "event_id", "p_event", "p_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2), r.get(3))).toSet
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max("event_id").as("p_event"),
          max_by(col("value"), col("event_id")).as("p_value"))
      val expect = graft.operators.AsOfJoin.asofLast(clicks, purchases,
          Seq("user_id"), "ts", "ts", Seq("p_event", "p_value"))
        .select("user_id", "event_id", "p_event", "p_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2), r.get(3))).toSet
      assert(expect.nonEmpty && got == expect)
    } finally q.stop()
  }

  test("streaming as-of carries state across batches but never retro-attributes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[RawEv]
    val out = StreamingOps.asofEnrichStream(input.toDS().toDF(), "0 seconds",
      joinType = "left")
    val name = "asof_stream2_" + System.nanoTime()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: click with no purchase yet -> emitted unattributed
      input.addData(RawEv(1, ts("2024-01-01 10:00:00"), "click", 100, 0.0))
      q.processAllAvailable()
      // batch 2: a purchase EARLIER than the batch-1 click (late arrival)
      // plus a later click — only the later click attributes to it
      input.addData(
        RawEv(1, ts("2024-01-01 09:00:00"), "purchase", 50, 9.99),
        RawEv(1, ts("2024-01-01 11:00:00"), "click", 101, 0.0))
      q.processAllAvailable()
      val rows = spark.table(name)
        .select("event_id", "p_event")
        .collect().map(r => r.getLong(0) -> r.get(1)).toMap
      assert(rows(100L) == null, "emit-once: no retro-attribution")
      assert(rows(101L) == 50L, "state carries the purchase across batches")
    } finally q.stop()
  }

  test("streaming as-of state TTL: idle keys expire once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[RawEv]
    val out = StreamingOps.asofEnrichStream(input.toDS().toDF(), "0 seconds",
      joinType = "left", stateTtlMs = Some(30L * 60 * 1000)) // 30 min TTL
    val name = "asof_ttl_" + System.nanoTime()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // b1: user 1 purchase at 10:00 -> state carried, timeout armed 10:30
      input.addData(RawEv(1, ts("2024-01-01 10:00:00"), "purchase", 50, 9.99))
      q.processAllAvailable()
      // b2: unrelated user advances the watermark past 10:30
      input.addData(RawEv(2, ts("2024-01-01 11:00:00"), "click", 60, 0.0))
      q.processAllAvailable()
      // b3: another tick lets user 1's timeout fire (no data for key 1)
      input.addData(RawEv(2, ts("2024-01-01 11:01:00"), "click", 61, 0.0))
      q.processAllAvailable()
      // b4: user 1 clicks after expiry -> unattributed, like a new key
      input.addData(RawEv(1, ts("2024-01-01 12:00:00"), "click", 100, 0.0))
      q.processAllAvailable()
      val rows = spark.table(name).select("event_id", "p_event")
        .collect().map(r => r.getLong(0) -> r.get(1)).toMap
      assert(rows(100L) == null,
        "state idle past the TTL must be dropped, not attributed")
    } finally q.stop()
  }

  test("streaming as-of TTL: a batch of only-late events must not throw") {
    // Pins the actual Spark 4 semantics the timeout clamp defends
    // around: under EventTimeTimeout, rows older than the watermark are
    // filtered BEFORE flatMapGroupsWithState, so a late-only batch
    // neither throws (the setTimeoutTimestamp <= watermark hazard) nor
    // attributes — the late click simply disappears and the idle key
    // expires by TTL.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[RawEv]
    val out = StreamingOps.asofEnrichStream(input.toDS().toDF(), "0 seconds",
      joinType = "left", stateTtlMs = Some(30L * 60 * 1000)) // 30 min TTL
    val name = "asof_late_" + System.nanoTime()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // b1: user 1 purchase at 10:00; user 2 at 12:00 pushes the
      // post-batch watermark to 12:00 (delay 0)
      input.addData(
        RawEv(1, ts("2024-01-01 10:00:00"), "purchase", 50, 9.99),
        RawEv(2, ts("2024-01-01 12:00:00"), "click", 60, 0.0))
      q.processAllAvailable()
      // b2: user 1's ONLY event is late (10:05 < watermark 12:00);
      // base = 10:05, base + 30 min = 10:35 <= 12:00 -> pre-fix throw
      input.addData(RawEv(1, ts("2024-01-01 10:05:00"), "click", 100, 0.0))
      q.processAllAvailable() // must not throw
      val ids = spark.table(name).select("event_id")
        .collect().map(_.getLong(0)).toSet
      assert(!ids.contains(100L),
        "rows below the watermark are filtered before the state function" +
          " under EventTimeTimeout — the late click must not attribute")
    } finally q.stop()
  }

  test("streaming session windows merge near events and emit closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[StreamEv]
    val out = StreamingOps.sessionStream(
      input.toDS().toDF(), gap = "5 minutes", watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("session_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(
        StreamEv(1, "x", ts("2024-01-01 00:00:00"), 7, 1.5),
        StreamEv(2, "x", ts("2024-01-01 00:03:00"), 7, 2.5), // merges (gap 3m < 5m)
        StreamEv(3, "x", ts("2024-01-01 00:20:00"), 7, 4.0)) // separate session
      q.processAllAvailable()
      // advance watermark far enough to close both sessions
      input.addData(StreamEv(9, "y", ts("2024-01-01 02:00:00"), 8, 0.0))
      q.processAllAvailable()
      val rows = spark.table("session_stream")
        .filter($"user_id" === 7).orderBy("session_start")
        .collect().map(r => (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      assert(rows.toSeq == Seq((2L, 4.0), (1L, 4.0)))
    } finally q.stop()
  }

  test("streaming incremental dedup equals the batch form on a drained stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // static corpus: two already-ingested docs
    val existing = Seq(
      (100L, "alpha beta gamma"),
      (101L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val input = MemoryStream[StreamDoc]
    val out = StreamingOps.incrementalDedupStream(
      input.toDS().toDF(), existing, "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("incdedup_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(
        StreamDoc(1, "alpha beta gamma", ts("2024-01-01 00:00:00")),   // known → dropped
        StreamDoc(2, "fresh new content", ts("2024-01-01 00:00:10")),  // new → kept
        StreamDoc(3, "fresh new content", ts("2024-01-01 00:00:20")))  // in-batch dup → dropped
      q.processAllAvailable()
      input.addData(
        StreamDoc(4, "fresh new content", ts("2024-01-01 00:01:00")),  // cross-batch dup → dropped
        StreamDoc(5, "delta epsilon zeta", ts("2024-01-01 00:01:10")), // known → dropped
        StreamDoc(6, "another novel doc", ts("2024-01-01 00:01:20")))  // new → kept
      q.processAllAvailable()
      val streamed = spark.table("incdedup_stream").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(streamed == Set(2L, 6L))
      // batch twin agrees: ids arrived in id order, so first-arrival ==
      // min-id and the kept sets coincide
      val incoming = Seq(
        (1L, "alpha beta gamma"), (2L, "fresh new content"),
        (3L, "fresh new content"), (4L, "fresh new content"),
        (5L, "delta epsilon zeta"), (6L, "another novel doc"))
        .toDF("doc_id", "text")
      val batch = graft.operators.Dedup.incrementalNewDocs(incoming, existing)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(batch == streamed)
    } finally q.stop()
  }

  test("streaming KL drift equals the batch tokenKlReport on a drained window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[SrcDoc]
    val counts = StreamingOps.tokenCountStream(
      input.toDS().toDF(), "10 minutes", "5 minutes")
    val q = counts.writeStream.format("memory").queryName("kl_counts")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(
        SrcDoc(1, "a", "x x y", ts("2024-01-01 00:01:00")),
        SrcDoc(2, "b", "x z", ts("2024-01-01 00:02:00")))
      q.processAllAvailable()
      // late flush doc advances the watermark past the first window
      input.addData(SrcDoc(9, "a", "flush", ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      val emitted = spark.table("kl_counts")
        .filter(col("window_start") === ts("2024-01-01 00:00:00"))
      // reference == the blend of the same docs => streaming KL must
      // equal the batch operator's per-source report exactly
      val batchDocs = Seq((1L, "a", "x x y"), (2L, "b", "x z"))
        .toDF("doc_id", "source", "text")
      val ref = StreamingOps.referenceDistribution(batchDocs)
      val got = StreamingOps.klFromCounts(emitted, ref, 1e-9)
        .select("source", "n_terms", "n_tokens", "kl").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val want = graft.operators.CorpusStats.tokenKlReport(batchDocs).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == want)
    } finally q.stop()
  }

  test("streaming KL drift flags a window of unseen terms via the floor") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[SrcDoc]
    val counts = StreamingOps.tokenCountStream(
      input.toDS().toDF(), "10 minutes", "5 minutes")
    val q = counts.writeStream.format("memory").queryName("kl_drifted")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(SrcDoc(1, "a", "zz qq zz", ts("2024-01-01 00:01:00")))
      q.processAllAvailable()
      input.addData(SrcDoc(9, "a", "flush", ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      val emitted = spark.table("kl_drifted")
        .filter(col("window_start") === ts("2024-01-01 00:00:00"))
      val ref = StreamingOps.referenceDistribution(
        Seq((1L, "a", "x y z")).toDF("doc_id", "source", "text"))
      val kl = StreamingOps.klFromCounts(emitted, ref, 1e-9)
        .collect()(0).getDouble(5)
      // every term unseen: KL ~ ln(1/floorQ) = ln(1e9) ~ 20.7 nats
      assert(kl > 15.0, s"expected a large drift signal, got $kl")
    } finally q.stop()
  }

  test("streaming PSI equals the batch psiReport on a drained window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.ProfileDrift
    val nBins = 4
    // reference snapshot: uniform-ish values per type
    val ref = Seq(("click", 0.0), ("click", 5.0), ("click", 10.0),
      ("view", 2.0), ("view", 4.0)).toDF("event_type", "value")
    val bounds = ProfileDrift.referenceBounds(ref, "event_type", "value", nBins)
    val input = MemoryStream[RawEv]
    val hist = StreamingOps.valueHistStream(
      input.toDS().toDF(), "10 minutes", "5 minutes", bounds, nBins)
    val q = hist.writeStream.format("memory").queryName("psi_hist")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(
        RawEv(1, ts("2024-01-01 00:01:00"), "click", 1, 9.0),
        RawEv(2, ts("2024-01-01 00:02:00"), "click", 2, 9.5),
        RawEv(3, ts("2024-01-01 00:03:00"), "view", 3, 2.5))
      q.processAllAvailable()
      input.addData(RawEv(9, ts("2024-01-01 01:00:00"), "click", 9, 0.0))
      q.processAllAvailable()
      val emitted = spark.table("psi_hist")
        .filter(col("window_start") === ts("2024-01-01 00:00:00"))
      val refHist = ProfileDrift.histogram(ref, bounds, "event_type",
        "value", nBins, "c_ref")
      val got = StreamingOps.psiFromCounts(emitted, refHist, nBins)
        .select("g", "n_ref", "n_cur", "psi").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      // batch twin over the same window slice must agree exactly
      val cur = Seq(("click", 9.0), ("click", 9.5), ("view", 2.5))
        .toDF("event_type", "value")
      val want = ProfileDrift.psiReport(ref, cur, "event_type", "value", nBins)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == want)
      // the click mass moved to the top bin — the signal must be nonzero
      assert(got.find(_._1 == "click").get._4 > 0.0)
    } finally q.stop()
  }

  test("streaming funnel on a drained stream equals the batch sequence funnel") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, sf)
    val steps = graft.registry.TimeSeriesQueries.FunnelSteps
    val all = ev.select("user_id", "ts", "event_type", "event_id", "value")
      .as[RawEv].collect().toSeq
    val input = MemoryStream[RawEv]
    val out = StreamingOps.funnelStream(input.toDS().toDF(), steps, "1 hour")
    val name = "funnel_stream_" + System.nanoTime()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(all)
      q.processAllAvailable()
      // emitted (user, step) rows are unique; counts per step = reach
      val emitted = spark.table(name)
      assert(emitted.groupBy("user_id", "step_idx").count()
        .filter(col("count") > 1).isEmpty, "a (user, step) emitted twice")
      val got = emitted.groupBy("step_idx").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val expect = graft.operators.EventFunnel
        .sequenceFunnel(ev, steps)
        .select("step_idx", "users")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(expect(1) > 0 && got == expect.filter(_._2 > 0))
    } finally q.stop()
  }

  test("streaming funnel carries anchors across batches; no retro-lowering") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[RawEv]
    val out = StreamingOps.funnelStream(input.toDS().toDF(),
      Seq("view", "click"), "0 seconds")
    val name = "funnel_stream2_" + System.nanoTime()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: user 1 views; user 2 clicks (click before any view
      // never converts, exactly as in batch)
      input.addData(
        RawEv(1, ts("2024-01-01 10:00:00"), "view", 1, 0.0),
        RawEv(2, ts("2024-01-01 10:00:00"), "click", 2, 0.0))
      q.processAllAvailable()
      // batch 2: user 1 clicks AFTER the carried view anchor -> step 2;
      // user 2's later view opens step 1 but its old click cannot
      // retro-fill step 2 (emit-once)
      input.addData(
        RawEv(1, ts("2024-01-01 11:00:00"), "click", 3, 0.0),
        RawEv(2, ts("2024-01-01 11:00:00"), "view", 4, 0.0))
      q.processAllAvailable()
      val got = spark.table(name)
        .select("user_id", "step_idx")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == Set((1L, 1), (1L, 2), (2L, 1)))
    } finally q.stop()
  }

  test("streaming funnel: equal timestamps never advance the chain") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[RawEv]
    val out = StreamingOps.funnelStream(input.toDS().toDF(),
      Seq("view", "click"), "0 seconds")
    val name = "funnel_stream3_" + System.nanoTime()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(
        RawEv(1, ts("2024-01-01 10:00:00"), "view", 1, 0.0),
        RawEv(1, ts("2024-01-01 10:00:00"), "click", 2, 0.0))
      q.processAllAvailable()
      val got = spark.table(name)
        .select("user_id", "step_idx")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == Set((1L, 1)))
    } finally q.stop()
  }

  test("streaming exact DAU equals the batch daily distinct count") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, sf)
    val all = ev.select("user_id", "ts", "event_type", "event_id", "value")
      .as[RawEv].collect().toSeq
    val input = MemoryStream[RawEv]
    val out = StreamingOps.dailyDistinctUsersStream(
      input.toDS().toDF(), "1 hour")
    val name = "dau_stream_" + System.nanoTime()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(all)
      q.processAllAvailable()
      // push the watermark far past the data so every day closes
      input.addData(RawEv(0, ts("2030-01-01 00:00:00"), "view", 0, 0.0))
      q.processAllAvailable()
      val got = spark.table(name)
        .select(to_date(col("window_start")).cast("string").as("day"),
          col("dau"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expect = ev
        .select(to_date(col("ts")).cast("string").as("day"),
          col("user_id"))
        .distinct().groupBy("day").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(expect.nonEmpty && expect.forall { case (d, n) =>
        got.get(d).contains(n) })
    } finally q.stop()
  }

  test("streaming heavy hitters on a drained window equal the batch MG census") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = graft.Tables.load(spark, sf, "documents")
    val all = d.select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => SrcDoc(r.getLong(0), r.getString(1),
        r.getString(2), ts("2024-01-01 00:30:00"))).toSeq
    val input = MemoryStream[SrcDoc]
    val out = StreamingOps.heavyHittersStream(
      input.toDS().toDF(), "1 hour", "10 minutes", capacity = 64)
    val name = "hh_stream_" + System.nanoTime()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(all)
      q.processAllAvailable()
      input.addData(SrcDoc(-1, "zz", "closer", ts("2030-01-01 00:00:00")))
      q.processAllAvailable()
      val got = spark.table(name)
        .filter(col("window_start") === ts("2024-01-01 00:00:00"))
        .select(col("g"), explode(col("hh")).as("e"))
        .select("g", "e.item", "e.count_lower").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val expect = d
        .select(col("source").as("g"),
          explode(graft.operators.TextOps.tokens(col("text"))).as("w"))
        .groupBy("g", "w").agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got == expect && got.nonEmpty)
    } finally q.stop()
  }

  test("streaming change intervals: closed runs match batch; open runs stay in state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[RawEv]
    val out = StreamingOps.changeIntervalsStream(
      input.toDS().toDF(), "1 hour")
    val name = "scd2_stream_" + System.nanoTime()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: user 1 run of 'a' (2 obs)
      input.addData(
        RawEv(1, ts("2024-01-01 10:00:00"), "a", 1, 0.0),
        RawEv(1, ts("2024-01-01 11:00:00"), "a", 2, 0.0))
      q.processAllAvailable()
      assert(spark.table(name).isEmpty, "open run must not emit")
      // batch 2: 'b' closes the 'a' run (carried across batches)
      input.addData(RawEv(1, ts("2024-01-01 12:00:00"), "b", 3, 0.0))
      q.processAllAvailable()
      // batch 3: 'a' again closes 'b'
      input.addData(RawEv(1, ts("2024-01-01 13:00:00"), "a", 4, 0.0))
      q.processAllAvailable()
      val got = spark.table(name)
        .select("key", "state", "valid_from", "valid_to", "n_obs")
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getTimestamp(2), r.getTimestamp(3), r.getLong(4))).toSet
      val batch = graft.operators.TimeSeries.changeIntervals(
        Seq((1L, "a", ts("2024-01-01 10:00:00")),
          (1L, "a", ts("2024-01-01 11:00:00")),
          (1L, "b", ts("2024-01-01 12:00:00")),
          (1L, "a", ts("2024-01-01 13:00:00")))
          .toDF("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts")
        .filter(col("valid_to").isNotNull)
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getTimestamp(2), r.getTimestamp(3), r.getLong(4))).toSet
      assert(got == batch && got.size == 2,
        s"stream $got != batch closed $batch")
    } finally q.stop()
  }

  test("streaming DAU: same-day re-activity beyond the watermark delay counts ONCE") {
    // the dropDuplicatesWithinWatermark formulation failed exactly this:
    // its dedup state evicts `delay` after each arrival, so a user active
    // twice in one day, with the watermark advanced past the first
    // arrival + delay in between, double-counted. The chained windowed
    // aggregates key state on the DAY window, which only closes at
    // day-end + delay.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[RawEv]
    val out = StreamingOps.dailyDistinctUsersStream(
      input.toDS().toDF(), "1 hour")
    val name = "dau_stream2_" + System.nanoTime()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: user 1 active at 10:00
      input.addData(RawEv(1, ts("2024-01-01 10:00:00"), "view", 1, 0.0))
      q.processAllAvailable()
      // batch 2: a DIFFERENT user advances the watermark to 12:00 —
      // past 10:00 + 1 h, where per-arrival dedup state would evict
      input.addData(RawEv(2, ts("2024-01-01 13:00:00"), "view", 2, 0.0))
      q.processAllAvailable()
      // batch 3: user 1 again, SAME day, 10 h after the first arrival
      input.addData(RawEv(1, ts("2024-01-01 20:00:00"), "view", 3, 0.0))
      q.processAllAvailable()
      // close the day
      input.addData(RawEv(0, ts("2030-01-01 00:00:00"), "view", 4, 0.0))
      q.processAllAvailable()
      val got = spark.table(name)
        .filter(to_date(col("window_start")) === lit("2024-01-01"))
        .select("dau").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(2L), s"expected exactly [2] (users 1 and 2), got $got")
    } finally q.stop()
  }

  test("streaming transitions: drained pair census == batch matrix counts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[RawEv]
    val out = StreamingOps.transitionPairsStream(
      input.toDS().toDF(), "1 hour")
    val name = "trans_stream_" + System.nanoTime()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: user 1 a->b (in-batch disorder: b arrives first in the
      // data but sorts after by ts); user 2 lone event (no pair yet)
      input.addData(
        RawEv(1, ts("2024-01-01 10:30:00"), "b", 2, 0.0),
        RawEv(1, ts("2024-01-01 10:00:00"), "a", 1, 0.0),
        RawEv(2, ts("2024-01-01 10:00:00"), "x", 3, 0.0))
      q.processAllAvailable()
      // batch 2: carries close across the boundary: b->b for user 1
      // (same-state pairs COUNT in a transition matrix), x->y for user 2
      input.addData(
        RawEv(1, ts("2024-01-01 11:00:00"), "b", 4, 0.0),
        RawEv(2, ts("2024-01-01 11:00:00"), "y", 5, 0.0))
      q.processAllAvailable()
      val census = spark.table(name)
        .groupBy("from_state", "to_state").count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val batch = graft.operators.Transitions.transitionMatrix(
        Seq((1L, "a", ts("2024-01-01 10:00:00"), 1L),
          (1L, "b", ts("2024-01-01 10:30:00"), 2L),
          (1L, "b", ts("2024-01-01 11:00:00"), 4L),
          (2L, "x", ts("2024-01-01 10:00:00"), 3L),
          (2L, "y", ts("2024-01-01 11:00:00"), 5L))
          .toDF("user_id", "event_type", "ts", "event_id"),
        "user_id", "event_type")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(census == batch && census.size == 3,
        s"stream census $census != batch $batch")
    } finally q.stop()
  }
}

/** Round-7 part two: the streaming range-contract twin. */
class Round7gSpec extends AnyFunSuite {

  test("streaming range-contract twin ≡ batch report on a drained stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the q200 fixture split: ref = events before the PSI cutoff,
    // cur = events after it, streamed through a keyed value census
    val ev = Tables.load(spark, sf, "events")
    val cut = lit(registry.DriftQueries.PsiCutoff).cast("timestamp")
    val ref = ev.filter(col("ts") < cut)
      .select("event_type", "value").cache()
    val cur = ev.filter(col("ts") >= cut)
      .select(col("ts"), col("event_type"), col("value").cast("double"))
      .as[(java.sql.Timestamp, String, Double)].collect().toSeq
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val census = StreamingOps.keyedValueCensusStream(
      input.toDS().toDF("ts", "event_type", "value"),
      "3650 days", "0 seconds")
    val name = "rc_census_" + System.nanoTime()
    val q = census.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(cur)
      q.processAllAvailable()
      // flush event far in the future closes the fixture's window
      input.addData((java.sql.Timestamp.valueOf("2044-01-01 00:00:00"),
        "flush", 0.0))
      q.processAllAvailable()
      val firstWindow = spark.table(name)
        .groupBy().agg(min("window_start")).collect()(0).getTimestamp(0)
      val got = Constraints.rangeContractFromCounts(
          spark.table(name).filter(col("window_start") === lit(firstWindow)),
          ref, "event_type", "value")
        .drop("window_start", "window_end").collect().map(_.toSeq).toSeq
      val want = Constraints.rangeContractReport(
          ref, ev.filter(col("ts") >= cut), "event_type", "value")
        .collect().map(_.toSeq).toSeq
      assert(want.nonEmpty && got == want)
      // at sf0.001 every key flags (the clean-key case lives at sf0.01,
      // q200) — require only that the flag path is exercised
      assert(want.exists(r => r.last == true))
    } finally { q.stop(); ref.unpersist() }
  }
}

/** Round-7 part eighteen: the streaming moment-state twin. */
class Round7wSpec extends AnyFunSuite {

  test("merged streamed window states ≡ the direct batch profile") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = Tables.load(spark, sf, "events")
      .select(col("ts"), col("user_id"), col("value"))
    val all = ev.as[(java.sql.Timestamp, Long, Double)].collect().toSeq
    val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val states = StreamingOps.momentStateStream(
      input.toDS().toDF("ts", "user_id", "value"),
      "1 day", "0 seconds", Seq("user_id", "value"))
    val name = "ms_stream_" + System.nanoTime()
    val q = states.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(all)
      q.processAllAvailable()
      input.addData((java.sql.Timestamp.valueOf("2044-01-01 00:00:00"),
        -1L, 0.0)) // flush the last fixture window
      q.processAllAvailable()
      val flush = java.sql.Date.valueOf("2043-12-01")
      val windows = spark.table(name)
        .filter(col("window_start") < lit(flush))
        .drop("window_start", "window_end")
      assert(windows.select("col_name").distinct().count() == 2)
      assert(windows.count() > 10, "expected many daily windows")
      val merged = MomentState.report(MomentState.merge(Seq(windows)))
        .collect().map(_.toSeq).toSeq
      val direct = MomentState.report(MomentState.state(
        ev.select("user_id", "value"))).collect().map(_.toSeq).toSeq
      assert(merged == direct,
        "windowed states must merge to the direct profile bit-for-bit")
    } finally q.stop()
  }
}

/** Round-8 part two: streaming state-store DURABILITY. The twins are
  * batch-equivalent on drained streams (Round7wSpec); this scenario
  * kills the query mid-stream and restarts it from its checkpoint —
  * the O4 continuous-sync restart semantic — proving the recovered
  * window state still merges to the exact batch profile. The sink is
  * the FILE sink (exactly-once via its commit log, restart-capable),
  * not the debug memory sink (which forbids recovery).
  */
class Round8bSpec extends AnyFunSuite {

  test("momentStateStream restarted from checkpoint still merges ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = Tables.load(spark, sf, "events")
      .select(col("ts"), col("user_id"), col("value"))
    val all = ev.as[(java.sql.Timestamp, Long, Double)].collect()
      .sortBy(_._1.getTime).toSeq
    val (firstHalf, secondHalf) = all.splitAt(all.size / 2)
    withTempDir("ms") { tmp =>
      val outDir = tmp + "/out"
      val cpDir = tmp + "/cp"
      val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
      val states = StreamingOps.momentStateStream(
        input.toDS().toDF("ts", "user_id", "value"),
        "1 day", "0 seconds", Seq("user_id", "value"))
      def start() = states.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", cpDir)
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      // phase 1: consume the first half, then KILL the query — windows
      // straddling the split are still open in the state store
      val q1 = start()
      try { input.addData(firstHalf); q1.processAllAvailable() }
      finally q1.stop()
      // phase 2: restart from the checkpoint; the recovered state must
      // absorb the second half and the flush row that closes the tail
      val q2 = start()
      try {
        input.addData(secondHalf)
        q2.processAllAvailable()
        input.addData(Seq((java.sql.Timestamp.valueOf("2044-01-01 00:00:00"),
          -1L, 0.0)))
        q2.processAllAvailable()
      } finally q2.stop()
      val flush = java.sql.Date.valueOf("2043-12-01")
      val windows = spark.read.parquet(outDir)
        .filter(col("window_start") < lit(flush))
        .drop("window_start", "window_end")
      assert(windows.count() > 10, "expected many daily windows")
      // no double-emitted window rows across the restart (exactly-once)
      val dups = windows.groupBy(windows.columns.map(col).toSeq: _*)
        .count().filter(col("count") > 1).count()
      assert(dups == 0, "restart must not re-emit closed windows")
      val merged = MomentState.report(MomentState.merge(Seq(windows)))
        .collect().map(_.toSeq).toSeq
      val direct = MomentState.report(MomentState.state(
        ev.select("user_id", "value"))).collect().map(_.toSeq).toSeq
      assert(merged == direct,
        "recovered + post-restart states must merge to the batch profile")
    }
  }
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twins of the batch pipeline operators: exact dedup and
  * gap-based sessionization over an unbounded stream.
  *
  * Both are watermark-bounded — the only way their state stays finite on
  * an unbounded stream. The batch forms ([[graft.operators.Dedup]],
  * [[graft.operators.Sessionize]]) are the oracle-checkable equivalents;
  * these run continuously with `readStream`/`writeStream`.
  */
object StreamingOps {

  /** Streaming exact dedup: keep the FIRST occurrence of each key seen
    * within the watermark horizon; keys older than the horizon are
    * evicted from state, so state size is bounded by the horizon's key
    * arrival rate, not by stream lifetime. The batch equivalent is
    * `Dedup.dropExactDuplicates` (keep min-id per fingerprint).
    */
  def dropDuplicatesStream(events: DataFrame, keyCols: Seq[String],
      tsCol: String, watermarkDelay: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** One tagged input row of [[asofEnrichStream]]. */
  final case class AsofEvent(user_id: Long, ts: java.sql.Timestamp,
      side: Int, event_id: Long, value: Double)

  /** Per-user carried state: the latest reference (purchase) row. */
  final case class AsofCarry(tsMillis: Long, pEvent: Long, pValue: Double)

  /** One enriched left (click) row. */
  final case class AsofEnriched(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, p_event: Option[Long], p_value: Option[Double])

  /** Streaming as-of enrichment: attach to each left event (clicks) the
    * most recent right event (purchases) at-or-before it, per user — the
    * continuous form of [[graft.operators.AsOfJoin.asofLast]]
    * (inner/inclusive), via `flatMapGroupsWithState`.
    *
    * Semantics: within a micro-batch, each user's rows are processed in
    * (ts, side, event_id) order — purchases at a timestamp become visible
    * to clicks at the same timestamp (inclusive), and equal-ts purchases
    * resolve to the max event id, matching q62's pre-aggregation. Across
    * batches the carried state is the latest purchase seen so far, so a
    * right row arriving AFTER a left row was already emitted cannot
    * retro-attribute it — emit-once streaming semantics; bound lateness
    * upstream with the watermark. State is one tuple per user (the
    * latest purchase); with an UNBOUNDED key space that still grows
    * without bound over the stream's lifetime, so `stateTtlMs` arms an
    * event-time timeout: a key idle past its last event time + TTL (as
    * judged by the watermark) drops its carried state — keys seen after
    * expiry start unattributed, exactly like new keys.
    */
  def asofEnrichStream(events: DataFrame, watermarkDelay: String,
      leftType: String = "click", rightType: String = "purchase",
      joinType: String = "inner", stateTtlMs: Option[Long] = None): DataFrame = {
    require(Seq("inner", "left").contains(joinType), s"joinType: $joinType")
    require(stateTtlMs.forall(_ > 0), "stateTtlMs must be positive")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val tagged = events
      .filter(col("event_type").isin(leftType, rightType))
      .select(
        col("user_id").cast("long").as("user_id"), col("ts"),
        when(col("event_type") === rightType, 0).otherwise(1).as("side"),
        col("event_id").cast("long").as("event_id"),
        col("value").cast("double").as("value"))
      .withWatermark("ts", watermarkDelay)
      .as[AsofEvent]
    val timeoutConf =
      if (stateTtlMs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    tagged.groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofCarry, AsofEnriched](
        OutputMode.Append, timeoutConf) {
        (user: Long, rows: Iterator[AsofEvent], state: GroupState[AsofCarry]) =>
          if (state.hasTimedOut) {
            // idle past TTL: the watermark passed last-event-time + TTL
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq
              .sortBy(e => (e.ts.getTime, e.side, e.event_id))
            val out = Seq.newBuilder[AsofEnriched]
            var carry = state.getOption
            sorted.foreach { e =>
              if (e.side == 0) {
                // ascending (ts, event_id) order → last write wins = the
                // max event id per timestamp, q62's determinism rule
                carry = Some(AsofCarry(e.ts.getTime, e.event_id, e.value))
              } else {
                val m = carry.filter(_.tsMillis <= e.ts.getTime)
                if (m.isDefined || joinType == "left")
                  out += AsofEnriched(user, e.event_id, e.ts,
                    m.map(_.pEvent), m.map(_.pValue))
              }
            }
            carry.foreach { c =>
              state.update(c)
              // expire relative to the key's latest activity, not just
              // the carried purchase
              stateTtlMs.foreach { ttl =>
                val base = (c.tsMillis +: sorted.map(_.ts.getTime)).max
                // Under EventTimeTimeout Spark filters rows older than
                // the watermark BEFORE this function (verified by spec:
                // a late-only batch produces no calls), so base + ttl >
                // watermark holds whenever data arrives. The clamp is
                // defense-in-depth against that filter ever changing —
                // a timeout at-or-before the watermark would throw
                // IllegalArgumentException. Same rule as funnelStream.
                state.setTimeoutTimestamp(
                  math.max(base + ttl, state.getCurrentWatermarkMs() + 1))
              }
            }
            out.result().iterator
          }
      }.toDF()
  }

  /** One typed input row of [[funnelStream]]. */
  final case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
      etype: String)

  /** Per-user greedy anchors, epoch millis; Long.MinValue = unreached. */
  final case class FunnelAnchors(anchors: Seq[Long])

  /** One newly-reached funnel step (emitted at most once per
    * (user, step) over the stream's lifetime — anchors are set-once).
    */
  final case class FunnelReach(user_id: Long, step_idx: Int,
      ts: java.sql.Timestamp)

  /** Streaming ordered-sequence funnel — the continuous form of
    * [[graft.operators.EventFunnel.sequenceFunnel]]: per user, the
    * greedy anchor chain t₁ < t₂ < … advances as events arrive, and
    * every newly-reached step emits one `(user, step_idx, anchor_ts)`
    * row. Counting emitted rows per step over any drained horizon
    * reproduces the batch funnel's reach counts exactly (anchors are
    * SET-ONCE: processing a batch in ascending event-time order fixes
    * each anchor at its final value the moment it is first set — the
    * same induction that makes the batch chain's greedy-earliest
    * matching complete).
    *
    * Cross-batch semantics mirror [[asofEnrichStream]]: anchors carry
    * forward and only ADVANCE; an event arriving in a later batch with
    * an earlier timestamp than an already-set anchor cannot retro-lower
    * it (emit-once, no retro-attribution). State is one fixed-size
    * anchor vector per user, expired via event-time timeout `stateTtlMs`
    * past the user's latest activity when set.
    */
  def funnelStream(events: DataFrame, steps: Seq[String],
      watermarkDelay: String, stateTtlMs: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    require(stateTtlMs.forall(_ > 0), "stateTtlMs must be positive")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .filter(col("event_type").isin(steps.map(s => s: Any): _*))
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("event_type").as("etype"))
      .withWatermark("ts", watermarkDelay)
      .as[FunnelEvent]
    val timeoutConf =
      if (stateTtlMs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val k = steps.size
    val Unset = Long.MinValue
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelAnchors, FunnelReach](
        OutputMode.Append, timeoutConf) {
        (user: Long, rows: Iterator[FunnelEvent],
            state: GroupState[FunnelAnchors]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val anchors = state.getOption
              .map(_.anchors.toArray)
              .getOrElse(Array.fill(k)(Unset))
            val out = Seq.newBuilder[FunnelReach]
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            sorted.foreach { e =>
              val t = e.ts.getTime
              var i = 0
              while (i < k) {
                if (steps(i) == e.etype && anchors(i) == Unset &&
                    (i == 0 ||
                      (anchors(i - 1) != Unset && t > anchors(i - 1)))) {
                  anchors(i) = t
                  out += FunnelReach(user, i + 1, e.ts)
                }
                i += 1
              }
            }
            if (sorted.nonEmpty || anchors.exists(_ != Unset)) {
              state.update(FunnelAnchors(anchors.toSeq))
              stateTtlMs.foreach { ttl =>
                val latest = (anchors.filter(_ != Unset) ++
                  sorted.map(_.ts.getTime)).max
                // Spark filters late rows before this function under
                // EventTimeTimeout (spec-verified on asofEnrichStream),
                // so `latest + ttl > watermark` holds when data arrives;
                // the clamp is defense-in-depth — a timeout at-or-before
                // the current watermark throws. Clamp to watermark + 1 ms.
                state.setTimeoutTimestamp(
                  math.max(latest + ttl, state.getCurrentWatermarkMs() + 1))
              }
            }
            out.result().iterator
          }
      }.toDF()
  }


  /** Streaming incremental dedup against a STATIC corpus: the continuous
    * form of [[graft.operators.Dedup.incrementalNewDocs]]. Incoming docs
    * fingerprint scan-stage; a stream-static LEFT ANTI join against the
    * corpus's distinct-fingerprint relation drops already-ingested
    * content, and `dropDuplicatesWithinWatermark` keeps the first
    * arrival of each NEW fingerprint within the watermark horizon
    * (the batch form's min-id tie-break becomes arrival order — the
    * only meaningful order an unbounded stream has).
    *
    * Scale shape: the static side reduces to distinct 32-byte
    * fingerprints — never text. Stream-static joins re-plan per
    * micro-batch: Spark broadcasts the fingerprint relation while it
    * fits, and above broadcast size each micro-batch shuffles only the
    * delivery (the static side is already materialized), so per-batch
    * cost tracks delivery size, not corpus × deliveries. Dedup state is
    * watermark-bounded exactly as in [[dropDuplicatesStream]].
    */
  def incrementalDedupStream(incoming: DataFrame, existing: DataFrame,
      tsCol: String, watermarkDelay: String,
      textCol: String = "text"): DataFrame = {
    val knownFps = existing
      .select(graft.operators.TextOps.fingerprint(col(textCol)).as("__fp"))
      .distinct()
    incoming
      .withColumn("__fp", graft.operators.TextOps.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .join(knownFps, Seq("__fp"), "left_anti")
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")
  }

  /** NATIVE stream-stream INTERVAL join — every (click, purchase) pair
    * of the same user with the purchase inside [click − `window`,
    * click]: Spark's watermarked two-sided state join, the marquee
    * Structured Streaming feature the rest of the suite approximates
    * one-sidedly. Unlike [[asofEnrichStream]] (latest-ONE purchase,
    * custom `flatMapGroupsWithState`), this emits EVERY qualifying
    * purchase (the q92 interval-overlap twin), and BOTH sides' state is
    * bounded automatically: the interval condition plus the watermark
    * tell Spark exactly how long each side's rows can still match, so
    * retention is `watermarkDelay + window` of event time — independent
    * of stream lifetime.
    *
    * Inner-join matches emit eagerly per micro-batch (no flush row
    * needed to drain); because eviction only drops rows too old to
    * satisfy the interval condition, a drained run — even one killed
    * and restarted from its checkpoint mid-stream — equals the batch
    * join of the same two relations exactly (watermarks are no-ops in
    * batch; Round9bSpec pins both).
    *
    * Output per match: (user_id, click_id, click_ts, p_event, p_value,
    * p_ts).
    */
  def intervalJoinStream(events: DataFrame, window: String = "1 hour",
      watermarkDelay: String = "0 seconds",
      leftType: String = "click", rightType: String = "purchase")
      : DataFrame = {
    val clicks = events.filter(col("event_type") === leftType)
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermarkDelay)
    val purchases = events.filter(col("event_type") === rightType)
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_event"), col("value").as("p_value"))
      .withWatermark("p_ts", watermarkDelay)
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") <= col("click_ts") &&
          col("p_ts") >= col("click_ts") - expr(s"INTERVAL $window"),
        "inner")
      .select("user_id", "click_id", "click_ts", "p_event", "p_value",
        "p_ts")
  }

  /** Streaming gap-based sessions via Spark's native `session_window`:
    * events within `gap` of each other merge into one session per user;
    * a session closes (and emits, in append mode) once the watermark
    * passes its end. The batch equivalent is `Sessionize.sessionSummary`.
    */
  def sessionStream(events: DataFrame, gap: String, watermarkDelay: String,
      userCol: String = "user_id", tsCol: String = "ts",
      valueCol: String = "value"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap), col(userCol))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col(valueCol)), 2).as("sum_value"))
      .select(col(userCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  // -------------------------------------------------------------------
  // Streaming distribution drift (the continuous twin of
  // CorpusStats.tokenKlReport)
  // -------------------------------------------------------------------

  /** Stage 1 — the ONLY stateful step: per-window (group, term) token
    * counts. One watermark-bounded windowed aggregation; state is
    * bounded by (windows in flight) × active vocabulary, independent of
    * stream lifetime. Emits (window_start, window_end, g, w, c) in
    * append mode when the watermark closes a window.
    */
  def tokenCountStream(docs: DataFrame, windowLen: String,
      watermarkDelay: String, tsCol: String = "ts",
      groupCol: String = "source", textCol: String = "text"): DataFrame =
    docs.withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), col(groupCol).as("g"),
        explode(graft.operators.TextOps.tokens(col(textCol))).as("w"))
      .groupBy(window(col(tsCol), windowLen), col("g"), col("w"))
      .agg(count(lit(1)).as("c"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("g"), col("w"), col("c"))

  /** The (w, q) reference distribution a drift monitor compares
    * against, derived once from a static corpus snapshot.
    */
  def referenceDistribution(docs: DataFrame,
      textCol: String = "text"): DataFrame = {
    val tok = graft.util.Parallelism.ensure(docs)
      .select(explode(graft.operators.TextOps.tokens(col(textCol))).as("w"))
    val counts = tok.groupBy("w").agg(count(lit(1)).as("c"))
    val grandRow = counts.agg(sum("c")).head()
    val grand = if (grandRow.isNullAt(0)) 1L else grandRow.getLong(0)
    counts.select(col("w"), (col("c") / lit(grand)).as("q"))
  }

  /** Stage 2 — STATELESS: KL(window dist ‖ reference) per (window,
    * group), over the counts stage 1 emits (run it downstream of the
    * sink, or per micro-batch in foreachBatch). Terms absent from the
    * reference take `floorQ` (the caller's smoothing choice — a drifted
    * window full of unseen terms is exactly what the monitor must
    * flag, not divide-by-zero on). Numerics as the batch twin: per-term
    * nano-nat integers, order-independent sums.
    */
  def klFromCounts(counts: DataFrame, reference: DataFrame,
      floorQ: Double): DataFrame = {
    // totals are re-derived from the SAME counts relation — project to
    // fresh names first so the self-join resolves cleanly
    val t = counts
      .select(col("window_start").as("__ws"), col("window_end").as("__we"),
        col("g").as("__g"), col("c").as("__c"))
      .groupBy("__ws", "__we", "__g").agg(sum("__c").as("t"))
    val p = col("c") / col("t")
    val nano = round((p * log(p / coalesce(col("q"), lit(floorQ))))
      * lit(1000000000.0)).cast("long")
    counts.join(reference, Seq("w"), "left")
      .join(t, col("window_start") === col("__ws") &&
        col("window_end") === col("__we") && col("g") === col("__g"))
      .select(col("window_start"), col("window_end"), col("g"), col("t"),
        nano.as("nano"))
      .groupBy("window_start", "window_end", "g", "t")
      .agg(count(lit(1)).as("n_terms"),
        round(sum("nano") / lit(1000000000.0), 6).as("kl"))
      .select(col("window_start"), col("window_end"),
        col("g").as("source"), col("n_terms"), col("t").as("n_tokens"),
        col("kl"))
  }

  /** Stage 1 of the streaming PSI monitor (the q98 batch twin): windowed
    * value histogram against STATIC reference bounds
    * ([[graft.operators.ProfileDrift.referenceBounds]], broadcast into a
    * stream-static join) → `(window_start, window_end, g, bucket,
    * c_cur)`. The only stateful operator is the watermark-bounded
    * windowed count; bucket classification reuses
    * [[graft.operators.ProfileDrift.bucketOf]] verbatim, so stream and
    * batch bin identically.
    */
  /** Streaming EXACT daily distinct users (DAU) — the continuous form
    * of the daily-DAU half of
    * [[graft.operators.TimeSeries.rollingActivity]] (daily event
    * volume already streams via `ContinuousMonitor.hourlyEventCounts`;
    * the rolling WAU spread stays a batch reading over emitted daily
    * relations, exactly as the batch operator derives it from daily
    * stat rows).
    *
    * Exactness without unbounded state — and without the approx
    * sketch Spark would otherwise require for a streaming DISTINCT:
    * two CHAINED windowed aggregates (the Spark 3.5+ chained
    * time-window form). The first groups by (1-day window, user) — its
    * state is keyed on the window, so a user active twice in the same
    * day collapses to ONE row no matter how many micro-batches or how
    * far apart the arrivals, as long as they beat the watermark. The
    * second re-windows the first's `window` column and counts rows =
    * distinct users. This is exact under ANY watermarkDelay — unlike a
    * `dropDuplicatesWithinWatermark` formulation, whose dedup state is
    * evicted `delay` after each arrival rather than at day close, and
    * which therefore double-counts a user re-appearing in the same day
    * more than `delay` apart.
    *
    * Returns (window_start, window_end, dau): one row per closed day.
    */
  def dailyDistinctUsersStream(events: DataFrame, watermarkDelay: String,
      tsCol: String = "ts", userCol: String = "user_id"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), "1 day"), col(userCol).as("__u"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(window(col("window"), "1 day"))
      .agg(count(lit(1)).as("dau"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("dau"))

  def valueHistStream(events: DataFrame, windowLen: String,
      watermarkDelay: String, bounds: DataFrame, nBins: Int,
      tsCol: String = "ts", groupCol: String = "event_type",
      valCol: String = "value"): DataFrame = {
    val v = col(valCol).cast("double")
    events.withWatermark(tsCol, watermarkDelay)
      .filter(v.isNotNull)
      .select(col(tsCol), col(groupCol).as("g"), v.as("__v"))
      .join(broadcast(bounds), Seq("g"))
      .withColumn("bucket",
        graft.operators.ProfileDrift.bucketOf(col("__v"), nBins))
      .groupBy(window(col(tsCol), windowLen), col("g"), col("bucket"))
      .agg(count(lit(1)).as("c_cur"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("g"), col("bucket"),
        col("c_cur"))
  }

  /** Stage 2 — STATELESS: PSI per (window, group) over the counts stage
    * 1 emits, against a static reference histogram
    * ([[graft.operators.ProfileDrift.histogram]] of the reference
    * snapshot, counts named `c_ref`). Run downstream of the sink or per
    * micro-batch in foreachBatch, like [[klFromCounts]].
    *
    * A bucket empty in BOTH relations has p = q under add-half smoothing
    * and contributes exactly 0, so scoring the union of ref and window
    * buckets (the full-outer below) is exact — no grid completion.
    * Groups with an empty side are skipped, mirroring the batch report.
    */
  /** Streaming windowed heavy hitters: the continuous form of q122's
    * [[graft.functions.MisraGries]] census — per (event-time window,
    * group), the bounded-memory top-token summary, emitted when the
    * watermark closes the window. The MG aggregate composes with
    * Spark's streaming partial/merge aggregation exactly like any
    * built-in (that is the point of implementing it as a
    * TypedImperativeAggregate): per-batch partials hold ≤ capacity
    * counters per open window, and the error bounds compose across
    * merges. With capacity ≥ the window's distinct items the summary is
    * exact — the spec's batch-equivalence condition.
    */
  def heavyHittersStream(docs: DataFrame, windowLen: String,
      watermarkDelay: String, capacity: Int, tsCol: String = "ts",
      groupCol: String = "source", textCol: String = "text"): DataFrame =
    docs.withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), col(groupCol).as("g"),
        explode(graft.operators.TextOps.tokens(col(textCol))).as("w"))
      .groupBy(window(col(tsCol), windowLen), col("g"))
      .agg(graft.functions.MisraGries.misraGries(col("w"), capacity)
        .as("hh"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("g"), col("hh"))

  /** One keyed observation of [[changeIntervalsStream]]. */
  final case class RunEvent(key: Long, state: String,
      ts: java.sql.Timestamp)

  /** The open run carried per key. */
  final case class RunCarry(state: String, fromMillis: Long, nObs: Long)

  /** One CLOSED state-validity interval. */
  final case class ClosedRun(key: Long, state: String,
      valid_from: java.sql.Timestamp, valid_to: java.sql.Timestamp,
      n_obs: Long)

  /** Streaming SCD2: the continuous form of
    * [[graft.operators.TimeSeries.changeIntervals]] — per key, runs of
    * the same state collapse into validity intervals; an interval is
    * emitted the moment its run CLOSES (a different state arrives for
    * the key). The still-open run per key is exactly the state carried
    * by `flatMapGroupsWithState`, so output matches the batch
    * operator's closed (valid_to non-null) rows on a drained stream;
    * the batch form's open-interval rows are precisely what remains in
    * state.
    *
    * Ordering: rows are processed in (ts, state) order WITHIN a batch
    * (micro-batch disorder handled); across batches arrival order is
    * history — a row arriving late enough to land before the open run's
    * start cannot rewrite emitted intervals (emit-once; bound lateness
    * upstream with the watermark, as [[funnelStream]] documents).
    */
  def changeIntervalsStream(events: DataFrame, watermarkDelay: String,
      keyCol: String = "user_id", stateCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.withWatermark(tsCol, watermarkDelay)
      .select(col(keyCol).cast("long").as("key"),
        col(stateCol).cast("string").as("state"),
        col(tsCol).cast("timestamp").as("ts"))
      .as[RunEvent]
    typed.groupByKey(_.key)
      .flatMapGroupsWithState[RunCarry, ClosedRun](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[RunEvent], st: GroupState[RunCarry]) =>
          val out = Seq.newBuilder[ClosedRun]
          var carry = st.getOption
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.state))
          sorted.foreach { e =>
            carry match {
              case Some(c) if c.state == e.state =>
                carry = Some(c.copy(nObs = c.nObs + 1))
              case Some(c) =>
                out += ClosedRun(key, c.state,
                  new java.sql.Timestamp(c.fromMillis), e.ts, c.nObs)
                carry = Some(RunCarry(e.state, e.ts.getTime, 1L))
              case None =>
                carry = Some(RunCarry(e.state, e.ts.getTime, 1L))
            }
          }
          carry.foreach(st.update)
          out.result().iterator
      }.toDF()
  }

  final case class TransEvent(key: Long, state: String,
      ts: java.sql.Timestamp, tie: Long)
  final case class TransCarry(state: String)
  final case class TransitionPair(key: Long, from_state: String,
      to_state: String)

  /** Streaming Markov transitions: the continuous form of
    * [[graft.operators.Transitions.transitionMatrix]] — per key, each
    * consecutive (previous state → current state) pair is emitted the
    * moment the successor arrives. The carried state per key is ONLY the
    * most recent state (one string), so memory is O(keys); the pair
    * census / probability rollup is the caller's downstream aggregate,
    * exactly as the batch operator builds it from its pair relation.
    *
    * On a drained stream the emitted pair multiset equals the batch
    * operator's lag-pair relation: rows are processed in (ts, tie)
    * order WITHIN a batch (the batch twin's ordering), and the last
    * state carries across micro-batch boundaries. Emit-once: a row
    * arriving out of order across batches is history (bound lateness
    * upstream with the watermark, as [[funnelStream]] documents).
    */
  def transitionPairsStream(events: DataFrame, watermarkDelay: String,
      keyCol: String = "user_id", stateCol: String = "event_type",
      tsCol: String = "ts", tieCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.withWatermark(tsCol, watermarkDelay)
      .select(col(keyCol).cast("long").as("key"),
        col(stateCol).cast("string").as("state"),
        col(tsCol).cast("timestamp").as("ts"),
        col(tieCol).cast("long").as("tie"))
      .as[TransEvent]
    typed.groupByKey(_.key)
      .flatMapGroupsWithState[TransCarry, TransitionPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[TransEvent], st: GroupState[TransCarry]) =>
          val out = Seq.newBuilder[TransitionPair]
          var carry = st.getOption
          rows.toSeq.sortBy(e => (e.ts.getTime, e.tie)).foreach { e =>
            carry.foreach(c => out += TransitionPair(key, c.state, e.state))
            carry = Some(TransCarry(e.state))
          }
          carry.foreach(st.update)
          out.result().iterator
      }.toDF()
  }

  def psiFromCounts(hist: DataFrame, refHist: DataFrame,
      nBins: Int): DataFrame = {
    // replicate the reference histogram across each emitted (window, g)
    // so ref-only buckets still score with c_cur = 0; the grid side is
    // projected to fresh names (it shares hist's lineage — same
    // attribute ids would make the self-join ambiguous)
    val grid = hist.select("window_start", "window_end", "g").distinct()
      .join(refHist, Seq("g"))
      .select(col("window_start").as("__ws"), col("window_end").as("__we"),
        col("g").as("__g"), col("bucket").as("__b"),
        col("c_ref").as("__cref"))
    val joined = grid.join(hist,
        col("__ws") === col("window_start") &&
        col("__we") === col("window_end") &&
        col("__g") === col("g") && col("__b") === col("bucket"),
        "full_outer")
      .select(coalesce(col("window_start"), col("__ws")).as("ws"),
        coalesce(col("window_end"), col("__we")).as("we"),
        coalesce(col("g"), col("__g")).as("grp"),
        coalesce(col("__cref"), lit(0L)).as("c_ref"),
        coalesce(col("c_cur"), lit(0L)).as("c_cur"))
    val totals = joined
      .select(col("ws").as("__ws"), col("we").as("__we"),
        col("grp").as("__g"), col("c_ref").as("__cr"),
        col("c_cur").as("__cc"))
      .groupBy("__ws", "__we", "__g")
      .agg(sum("__cr").as("n_ref"), sum("__cc").as("n_cur"))
      .filter(col("n_ref") > 0 && col("n_cur") > 0)
    joined.join(totals, col("ws") === col("__ws") &&
        col("we") === col("__we") && col("grp") === col("__g"))
      .select(col("ws").as("window_start"), col("we").as("window_end"),
        col("grp").as("g"), col("n_ref"), col("n_cur"),
        graft.operators.ProfileDrift.psiNano(col("c_ref"), col("n_ref"),
          col("c_cur"), col("n_cur"), nBins).as("nano"))
      .groupBy("window_start", "window_end", "g", "n_ref", "n_cur")
      .agg(round(sum("nano") / lit(1000000000.0), 6).as("psi"))
  }

  /** Windowed value CENSUS stream — the streaming-side half of the KS
    * drift twin: exact (window, value, count) rows emitted as windows
    * close, which [[graft.operators.ProfileDrift.ksFromCounts]] turns
    * into per-window KS distances against a static reference census.
    * Unlike the PSI twin's binned histogram, KS needs the raw value
    * domain — state is bounded by distinct values per open window
    * (micro-quantized), the same cardinality the batch census carries.
    */
  def valueCensusStream(events: DataFrame, windowLen: String,
      watermarkDelay: String, tsCol: String = "ts",
      valCol: String = "value"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol),
        round(col(valCol).cast("double") * 1e6).cast("long").as("vm"))
      .groupBy(window(col(tsCol), windowLen), col("vm"))
      .agg(count(lit(1)).as("c_cur"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("vm"), col("c_cur"))

  /** Windowed per-KEY value census — the streaming half of the
    * range-contract twin
    * ([[graft.operators.Constraints.rangeContractFromCounts]]): exact
    * (window, key, micro-value, count) rows emitted as windows close.
    * State is bounded by distinct (key, micro-value) pairs per open
    * window. The contract comparison happens batch-side, so the stream
    * stays contract-agnostic: one running census serves any number of
    * audits, including re-audits against a refreshed trusted snapshot.
    */
  def keyedValueCensusStream(events: DataFrame, windowLen: String,
      watermarkDelay: String, keyCol: String = "event_type",
      tsCol: String = "ts", valCol: String = "value"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), col(keyCol).as("k"),
        round(col(valCol).cast("double") * 1e6).cast("long").as("vm"))
      .groupBy(window(col(tsCol), windowLen), col("k"), col("vm"))
      .agg(count(lit(1)).as("c_cur"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("k"), col("vm"),
        col("c_cur"))

  /** Windowed per-key COUNT census — the streaming half of the
    * join-explosion twin
    * ([[graft.operators.SkewReport.joinSizeFromCounts]]): exact
    * (window, key, count) rows as windows close. State is bounded by
    * distinct keys per open window; the forecast against any static
    * dimension census happens batch-side, so one running census
    * guards every join that keys on this column.
    */
  def keyCensusStream(events: DataFrame, windowLen: String,
      watermarkDelay: String, keyCol: String = "user_id",
      tsCol: String = "ts"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), col(keyCol).cast("string").as("key"))
      .groupBy(window(col(tsCol), windowLen), col("key"))
      .agg(count(lit(1)).as("n_left"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("key"), col("n_left"))

  /** Windowed DP COUNT release — the continuous form of
    * [[graft.operators.Privacy.dpHistogram]], and the place its salt
    * contract becomes STRUCTURAL: every closed window is its own
    * release, seeded by the window's start epoch, so no two releases
    * ever reuse a draw — the property the batch operator can only
    * document, the stream enforces by construction. Per closed
    * window: (window_start, window_end, key, n, lap_micro,
    * n_released), the noise from the SAME shared expression as the
    * batch path (drained-window rows ≡ the per-slice batch release
    * with salt = that window's epoch, spec-pinned). State is bounded
    * by distinct keys per open window.
    */
  def dpCountsStream(events: DataFrame, windowLen: String,
      watermarkDelay: String, epsilonPermille: Long,
      keyCol: String = "event_type", tsCol: String = "ts"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), col(keyCol).cast("string").as("key"))
      .groupBy(window(col(tsCol), windowLen), col("key"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("key"), col("n"))
      .withColumn("lap_micro", graft.operators.Privacy.laplaceMicro(
        concat(col("key"), lit("#"),
          unix_timestamp(col("window_start")).cast("string")),
        1000.0 / epsilonPermille))
      .withColumn("n_released",
        col("n") + expr("lap_micro div 1000000"))

  /** Windowed moment-state stream — the continuous form of
    * [[graft.core.MomentState]]'s profile store: per closed window,
    * each numeric column's exact sufficient statistics (n, nulls,
    * min/max micro, Σx, Σx² in DECIMAL), i.e. rows INSERTABLE into the
    * same state table the batch path writes. Because the state algebra
    * is closed under union, `MomentState.merge` over any set of
    * emitted windows reproduces the direct whole-range profile
    * bit-for-bit (spec-pinned on a drained stream) — the profile store
    * stays fresh without ever rescanning history.
    */
  def momentStateStream(events: DataFrame, windowLen: String,
      watermarkDelay: String, cols: Seq[String],
      tsCol: String = "ts"): DataFrame = {
    require(cols.nonEmpty, "no columns to profile")
    val aggs = graft.core.MomentState.aggs(cols)
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), graft.core.MomentState.melt(cols))
      .select(col("window_start"), col("window_end"), col("r.*"))
  }

  /** One change of [[latestChangeStream]]. */
  final case class CdcChange(key: Long, seq: Long, op: String,
    payload: String)

  /** Per-key carried latest change. */
  final case class CdcCarry(seq: Long, op: String, payload: String)

  /** Streaming CDC tail: the continuous form of
    * [[graft.operators.Cdc.applyChanges]]'s latest-wins window — per
    * key, carry the highest-`seq` change ever seen and emit a row each
    * time the latest ADVANCES (changes arriving with a lower seq than
    * the carried one are late by definition and ignored, which is
    * precisely latest-wins). The per-key state is one (seq, op,
    * payload) — O(keys), independent of changelog length.
    *
    * On a drained stream, the LAST row emitted per key equals the batch
    * operator's latest-change relation, so folding those rows onto a
    * base snapshot with `Cdc.applyChanges` semantics reproduces the
    * batch snapshot exactly (spec-pinned across multi-batch feeds with
    * out-of-order seqs).
    */
  def latestChangeStream(changes: DataFrame,
      keyCol: String = "key", seqCol: String = "seq",
      opCol: String = "op", payloadCol: String = "payload"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = changes.sparkSession
    import spark.implicits._
    val typed = changes
      .select(col(keyCol).cast("long").as("key"),
        col(seqCol).cast("long").as("seq"),
        col(opCol).cast("string").as("op"),
        col(payloadCol).cast("string").as("payload"))
      .as[CdcChange]
    typed.groupByKey(_.key)
      .flatMapGroupsWithState[CdcCarry, CdcChange](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[CdcChange], st: GroupState[CdcCarry]) =>
          val out = Seq.newBuilder[CdcChange]
          var carry = st.getOption
          rows.toSeq.sortBy(_.seq).foreach { c =>
            if (carry.forall(_.seq < c.seq)) {
              carry = Some(CdcCarry(c.seq, c.op, c.payload))
              out += c
            }
          }
          carry.foreach(st.update)
          out.result().iterator
      }.toDF()
  }
}

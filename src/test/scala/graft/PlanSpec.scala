package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.plans.PlanLeaves
import graft.sources.Sinks

/** Physical-plan assertions: the plans the 100 TB design story depends on
  * must actually materialize — filters reach the parquet scan, small dims
  * broadcast, top-k avoids global sorts, sessionization plans ONE window,
  * bucketed joins skip the shuffle. A regression here silently turns a
  * scan-bounded job into a shuffle-bounded one long before any bench
  * notices at fixture scale.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def leafCounts(name: String): Map[String, Int] =
    PlanLeaves.counts(SparkEntry.queries(name)(spark, sf))

  test("q02: predicate and projection push down to the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThan(o_totalprice"), s"no pushed filter in:\n$p")
    // scan reads exactly projection ∪ filter columns (4 of 9), nothing more
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string," +
      "o_totalprice:double,o_orderpriority:string>"),
      "scan reads more columns than projection + filter need")
  }

  test("q03: dimension joins are broadcast, not shuffled") {
    val p = plan("q03_join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, s"expected 2 BHJs in:\n$p")
    assert(!p.contains("SortMergeJoin"), "dim join fell back to SMJ")
  }

  test("q05: top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q05_topk")
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject in:\n$p")
  }

  test("q06: argmax is a partial aggregation, not a 3-partition window sort") {
    val p = plan("q06_argmax")
    assert(!p.contains("Window"), s"argmax regressed to a window:\n$p")
    assert("partial_max_by|partial_maxby|HashAggregate".r.findAllIn(p).nonEmpty,
      s"expected aggregate-based argmax:\n$p")
  }

  test("q44: stacked session windows reuse one sort and one shuffle") {
    // the running-sum window consumes the lag window's output, so two
    // Window operators stack — but same (partition, order) means the
    // second adds NO extra Sort or Exchange, and the session aggregate
    // reuses the user_id partitioning. One shuffle total before the agg.
    val p = plan("q44_sessions")
    val beforeAgg = p.split("HashAggregate").last // plan prints top-down; take below-agg section
    assert("\\bSort\\b".r.findAllIn(beforeAgg).size == 1,
      s"expected exactly 1 sort under the windows:\n$p")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"expected exactly 1 user_id shuffle:\n$p")
  }

  test("q46: salted join replicates the small side (orders), never the fact") {
    // SkewJoin's cost model: the replicated (exploded) side pays salts×
    // through the exchange, so it must be the smaller relation. The
    // Generate explode(sequence(...)) node must sit over the orders scan;
    // lineitem — the fact — must reach the join un-replicated.
    val p = plan("q46_salted_join")
    assert(p.contains("Generate explode"), s"no salt replication node in:\n$p")
    val afterGen = p.split("Generate").last
    assert(afterGen.contains("orders"),
      s"replicated side should scan orders:\n$p")
    assert(!afterGen.contains("lineitem"),
      s"fact table lineitem must not be under the replication Generate:\n$p")
  }

  test("q62: as-of join is one union-side shuffle and one sort, no range explosion") {
    // the union formulation's whole point: |L|+|R| rows through ONE
    // Exchange + ONE Sort — a range join here would cross-product per key
    val p = plan("q62_asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of join regressed to a product join:\n$p")
    // exactly one key-only shuffle for the window (the (user_id, ts)
    // hashpartitioning is the right side's dedup pre-aggregation, the
    // range one the final presentation ORDER BY)
    assert("Exchange hashpartitioning\\(user_id#\\d+L, \\d+\\)".r.findAllIn(p).size == 1,
      s"expected exactly 1 key-only shuffle for the as-of window:\n$p")
  }

  test("q63: range join is an equi-join on (key, bin) — no nested-loop product") {
    val p = plan("q63_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join regressed to a product join:\n$p")
    assert(p.contains("Generate explode"), s"no interval bin fan-out in:\n$p")
  }

  test("q10: null counts are a single aggregation over a single scan") {
    val p = plan("q10_null_counts")
    // one scan; one stat-row exchange to the final aggregate; plus (on
    // under-partitioned inputs like the single-row-group fixtures) the
    // round-robin repartition Parallelism.ensure inserts so the partial
    // aggregate isn't single-task
    assert("Scan parquet".r.findAllIn(p).size == 1, s"expected exactly 1 scan:\n$p")
    val exchanges = "Exchange [a-zA-Z]+".r.findAllIn(p).toSeq
    assert(exchanges.size <= 2 &&
      exchanges.count(_.contains("SinglePartition")) <= 1,
      s"unexpected exchanges $exchanges in:\n$p")
  }

  test("bucketed tables join without a shuffle") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Sinks.bucketedTable(Tables.load(spark, sf, "orders")
        .select("o_orderkey", "o_orderpriority"), "b_orders", Seq("o_orderkey"), 4)
      Sinks.bucketedTable(Tables.load(spark, sf, "lineitem")
        .select("l_orderkey", "l_extendedprice"), "b_lineitem", Seq("l_orderkey"), 4)
      val j = spark.table("b_orders").join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed join should not shuffle:\n$p")
      assert(j.count() == Tables.load(spark, sf, "lineitem").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("q52: benchmark shingle set broadcasts; corpus rows never shuffle for membership") {
    val p = plan("q52_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark membership test should be a broadcast join:\n$p")
    // corpus-side explode must not feed an Exchange before the broadcast
    // join (the membership probe happens map-side in the scan stage)
    val generateToJoin = p.split("BroadcastHashJoin").last
    assert(!generateToJoin.split("Generate").head.contains("Exchange hashpartitioning"),
      s"corpus shingles shuffled before the broadcast probe:\n$p")
  }

  test("hashSample is a pure filter: no shuffle, no window") {
    val df = graft.operators.Sampling.hashSample(
      Tables.load(spark, sf, "documents"), 0.1)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Window"),
      s"hashSample must stay a scan-stage filter:\n$p")
  }

  test("q54: quota sample is a bounded-heap aggregate, not a per-source window sort") {
    // TopKBy partial aggregation ships <=k rows per source through the
    // exchange; a Window here would sort each whole source on one task —
    // the q58/q65 serialization hazard class
    val p = plan("q54_quota_sample")
    assert(!p.contains("Window"), s"quota sample regressed to a window:\n$p")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_topkby"),
      s"expected a partial TopKBy aggregate:\n$p")
  }

  test("q59: TopKBy plans as ObjectHashAggregate with a partial phase (<=k rows per group shuffle)") {
    val p = plan("q59_group_topn")
    assert(p.contains("ObjectHashAggregate"), s"TopKBy should use ObjectHashAggregate:\n$p")
    assert(p.contains("partial_topkby"), s"expected a partial TopKBy phase:\n$p")
    assert(!p.contains("Window"), s"q59 must not fall back to a window:\n$p")
  }

  test("q65: shard packing never sorts keyed only by the low-cardinality group") {
    // the distributed-prefix-sum rework: every Window/Sort in the DATA path
    // must be keyed by (source, bucket), never by source alone — a
    // source-only window serializes a whole source onto one task at 100 TB.
    // The one allowed source-only window runs over the tiny subtotal
    // relation (input = an Aggregate, not the scan).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LWindow}
    val df = SparkEntry.queries("q65_pack_shards")(spark, sf)
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "expected window operators in the packing plan")
    // a window sits over the tiny subtotal relation iff its child chain
    // reaches an Aggregate through UNARY nodes only (a join in between
    // means the window consumes re-joined data rows)
    def overAggregate(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case u if u.children.size == 1 => overAggregate(u.children.head)
      case _ => false
    }
    val dataPathSourceOnly = windows.filter { w =>
      w.partitionSpec.size == 1 &&
        w.partitionSpec.head.references.map(_.name).toSeq == Seq("source") &&
        !overAggregate(w.child)
    }
    assert(dataPathSourceOnly.isEmpty,
      s"data-path window keyed only by source:\n${df.queryExecution.optimizedPlan}")
  }

  test("chunking is scan-stage only: no hash shuffle, no window") {
    val p = graft.operators.Chunk.chunkByTokens(
      Tables.load(spark, sf, "documents"), 32, 24)
      .queryExecution.executedPlan.toString
    // Parallelism.ensure may insert one round-robin repartition for the
    // single-row-group fixture; a KEYED shuffle or window would mean the
    // operator stopped being scan-stage
    assert(!p.contains("hashpartitioning") && !p.contains("Window"),
      s"chunking must stay scan-stage:\n$p")
  }

  test("stratifiedSample is a pure filter: no shuffle, no window") {
    val p = graft.operators.Sampling.stratifiedSample(
      Tables.load(spark, sf, "documents"), "source",
      Map("src0" -> 0.5), 0.1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Window"),
      s"stratifiedSample must stay a scan-stage filter:\n$p")
  }

  test("q67: incremental report is ONE fingerprint-partitioned pass per input") {
    val p = plan("q67_incremental_dedup")
    // the within-batch min-id window partitions on the high-cardinality
    // fingerprint, never a low-cardinality key — and there is exactly
    // ONE such shuffle: the known-flag join's partitioning is reused
    assert("Exchange hashpartitioning\\(__fp".r.findAllIn(p).size >= 1,
      s"window must partition by fingerprint:\n$p")
    // each input (delivery, corpus) is scanned exactly once — the old
    // accounting ran the membership join AND the kept-set derivation
    // as separate lineages (4 scans)
    val ls = leafCounts("q67_incremental_dedup")
    assert(PlanLeaves.parquetScans(ls) == 2,
      s"expected exactly incoming+existing scans: $ls\n$p")
    assert(!p.contains("CartesianProduct"), s"membership join regressed:\n$p")
  }

  test("q69: mixture rates broadcast into a scan-stage filter") {
    val p = plan("q69_mixture_rebalance")
    // the rate relation joins broadcast — data rows never shuffle before
    // the keep/drop decision
    assert(p.contains("BroadcastHashJoin"),
      s"rate application should be a broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"mixture filter must not shuffle the corpus:\n$p")
  }

  test("q56: top tokens plans TakeOrderedAndProject over a partial agg") {
    val p = plan("q56_top_tokens")
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject in:\n$p")
    assert("HashAggregate.*partial".r.findAllIn(p).nonEmpty
      || p.contains("partial_count"), s"word count should partial-agg map-side:\n$p")
  }

  test("q72/q73: corpus-stat scoring has no window and no low-cardinality sort") {
    Seq("q72_boilerplate", "q73_unigram_lm").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q must score via aggregates + joins, not windows:\n$p")
      // every Sort in the plan belongs to the final presentation ORDER BY,
      // not the data path (SortAggregate / sort-merge fallback would show
      // up as extra sorts)
      assert(!p.contains("SortAggregate"),
        s"$q aggregates must hash, not sort:\n$p")
    }
  }

  test("q75: shard manifest is aggregate-only — no window, no global sort of data rows") {
    val p = plan("q75_export_shards")
    assert(!p.contains("Window"), s"manifest regressed to a window:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_max") ||
      "HashAggregate.*partial".r.findAllIn(p).nonEmpty,
      s"expected partial min/max struct aggregates:\n$p")
  }

  test("q76: overlap matrix broadcasts the size relation; intersection joins on the shingle") {
    val p = plan("q76_source_overlap")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"size scaffold should broadcast:\n$p")
    // the data-volume join (sh x sh on the shingle) must be an equi-join,
    // never a cartesian product
    assert(!p.contains("CartesianProduct"),
      s"intersection must equi-join on the shingle:\n$p")
  }

  test("q83: BM25 broadcasts the query set and top-ks via the aggregate, not a window") {
    val p = plan("q83_bm25")
    assert(!p.contains("Window"), s"BM25 top-k regressed to a window:\n$p")
    assert(p.contains("partial_topkby"), s"expected a partial TopKBy phase:\n$p")
    // both query-side joins (vocab->terms, tf->candidates) broadcast;
    // the corpus never shuffles for the query restriction
    assert(p.contains("BroadcastHashJoin"), s"query join must broadcast:\n$p")
  }

  test("q84: top-N collocations plan TakeOrderedAndProject, not a global sort") {
    val p = plan("q84_collocations")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit should plan TakeOrdered:\n$p")
    assert(!p.contains("Window"), s"no window belongs in PMI:\n$p")
  }

  test("q85: only the bounded post-fusion ranking may use a window") {
    // the fusion input is two <=pool-rows-per-query relations; the one
    // Window in the plan must consume the fused join, and the BM25 /
    // cosine candidate stages below it must stay window-free (TopKBy).
    val p = plan("q85_hybrid_rrf")
    assert("\\bWindow\\b".r.findAllIn(p).size <= 1,
      s"expected at most one (bounded) ranking window:\n$p")
    assert(p.contains("partial_topkby"),
      s"both pools must come from TopKBy partial aggregation:\n$p")
  }

  test("q91: weighted sample plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q91_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted top-k should plan TakeOrdered:\n$p")
    assert(!p.contains("Window"), s"no window belongs in weighted sampling:\n$p")
  }

  test("q90: bloom membership test runs scan-side, below the join") {
    val p = plan("q90_bloom_join")
    assert(p.contains("might_contain"),
      s"expected the BloomFilterMightContain predicate in the plan:\n$p")
    // the filter must sit under the join: in the top-down plan print the
    // join operator appears BEFORE (above) the might_contain filter line
    val joinAt = p.indexOf("Join")
    val bloomAt = p.indexOf("might_contain")
    assert(joinAt >= 0 && bloomAt > joinAt,
      s"bloom filter should be below the join in the plan:\n$p")
  }

  test("q86: semantic decontamination broadcasts the eval set; corpus does not shuffle vectors") {
    val p = plan("q86_semantic_decon")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"cosine-predicate join must broadcast the eval side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"eval join must not plan a cartesian product:\n$p")
    // the only exchanges are for the tiny stat aggregations, keyed by
    // vec_id then label — never a shuffle carrying the embedding arrays
    assert(!"Exchange hashpartitioning\\([^)]*embedding".r.findAllIn(p).hasNext,
      s"vectors must not shuffle:\n$p")
  }

  test("q92: overlap join is a bin equi-join — no nested-loop product, no dedup pass") {
    val p = plan("q92_overlap_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"interval overlap must not plan a product join:\n$p")
    // duplicate-freedom comes from the canonical-bin rule, not an
    // extra distinct (which would be a second corpus-sized aggregate
    // right above the join)
    assert(!"HashAggregate\\(keys=\\[[^\\]]*__bin".r.findAllIn(p).hasNext,
      s"no post-join dedup keyed on the bin is allowed:\n$p")
  }

  test("q93: vocabulary re-enters as a broadcast; corpus tokens never shuffle for membership") {
    val p = plan("q93_vocab_coverage")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab membership should be a broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"vocab membership must not shuffle the token stream:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-V vocabulary should plan TakeOrderedAndProject:\n$p")
  }

  test("q94: funnel is ONE aggregate over one scan — no shuffle fan-out per stage") {
    val p = plan("q94_filter_funnel")
    // one partial+final pair over a single-partition exchange; any
    // per-stage job structure would multiply the scans
    assert("FileScan|Scan parquet".r.findAllIn(p).size == 1,
      s"funnel must read the corpus exactly once:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"funnel needs no window and no join:\n$p")
  }

  test("q95: as-of tolerance keeps exactly q62's exchange/sort structure") {
    val p = plan("q95_asof_tolerance")
    val q62 = plan("q62_asof_join")
    def shape(s: String) = ("Exchange ".r.findAllIn(s).size,
      "\\bSort\\b".r.findAllIn(s).size, "Window".r.findAllIn(s).size)
    assert(shape(p) == shape(q62),
      s"tolerance must be a pure post-window predicate — same exchanges/" +
        s"sorts/windows as q62 (${shape(q62)}), got ${shape(p)}:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"as-of must stay a union+window, never a range join:\n$p")
  }

  test("q96: winsorize windows only the value HISTOGRAM; bounds broadcast back") {
    val p = plan("q96_winsorized")
    assert(p.contains("BroadcastHashJoin"),
      s"bounds must re-enter via broadcast:\n$p")
    // the window's input is the (group, value) grouped relation — its
    // child chain must contain the histogram aggregate, not raw rows
    val windowAt = p.indexOf("Window")
    assert(windowAt >= 0 &&
      p.indexOf("HashAggregate", windowAt) >= 0,
      s"the running count must sort distinct values, not data rows:\n$p")
  }

  test("q97: containment pairs meet on the shingle equi-join — never a product") {
    val p = plan("q97_containment")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"containment must block on (lang, shingle), not compare all pairs:\n$p")
    // the pair relation comes from one exploded-shingle self-join keyed
    // on (block, shingle) — at fixture scale it may broadcast, at 100 TB
    // it shuffles; either way the meeting keys must include the shingle
    assert("HashJoin \\[[^\\]]*sh#".r.findAllIn(p).hasNext,
      s"expected an equi-join keyed on the shingle:\n$p")
  }

  test("q98: PSI histograms against broadcast bounds — no window, no data-row sort") {
    val p = plan("q98_psi_drift")
    assert(!p.contains("Window"),
      s"PSI is aggregates + stat joins, never a window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"reference bounds must re-enter as a broadcast:\n$p")
  }

  test("q99: rolling windows come from explode+re-aggregate, not a window function") {
    val p = plan("q99_rolling_activity")
    assert(!p.contains("Window"),
      s"rolling aggregates must not window data rows:\n$p")
    assert(p.contains("Generate explode"),
      s"daily rows should explode to their target days:\n$p")
    // every consumer derives from the cached (day, user)-grain
    // aggregate — the event log is scanned once, at cache fill
    val ls = leafCounts("q99_rolling_activity")
    assert(ls.getOrElse("InMemoryTableScan", 0) >= 3,
      s"a consumer bypassed the day-user cache: $ls\n$p")
    assert(PlanLeaves.parquetScans(ls) == 0,
      s"a consumer re-scanned events past the cache: $ls\n$p")
  }

  test("q104: cohort matrix is checkpointed stat rows — one events scan") {
    val p = plan("q104_cohort_retention")
    assert(!p.contains("Scan parquet"),
      s"cells/sizes re-ran the corpus lineage:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the stat-scale cells/sizes join should broadcast:\n$p")
  }

  test("q100: heavy-key cut is TakeOrdered; the only window ranks the N stat rows") {
    val p = plan("q100_key_skew")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N keys must not globally sort the count relation:\n$p")
    // the rank window sits above the TakeOrdered cut (N rows), below it
    // only aggregates touch the data
    val windowAt = p.indexOf("Window")
    assert(windowAt >= 0 && p.indexOf("TakeOrderedAndProject", windowAt) > 0,
      s"rank window must consume the TakeOrdered stat rows only:\n$p")
  }

  test("q101: z-score is a broadcast stats join over one scan — no window, no shuffle of rows") {
    val p = plan("q101_zscore")
    assert(!p.contains("Window"), s"z-score needs no window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"group stats must re-enter as a broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"data rows must not shuffle for the stats join:\n$p")
  }

  test("q103: pinned-values pivot is ONE scan and ONE aggregate — no window, no distinct job") {
    val p = plan("q103_pivot_daily")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"pivot must not rescan for category discovery:\n$p")
    assert(!p.contains("Window"), s"pivot needs no window:\n$p")
  }

  test("q106: padding report is scan-stage bucketing + one aggregate") {
    val p = plan("q106_padding_report")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"expected exactly 1 scan:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"bucket arithmetic must stay in the scan stage:\n$p")
  }

  test("q107: correlation matrix is ONE scan, ONE aggregate; pair fan-out never rescans") {
    val p = plan("q107_correlation")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"the pair rows must explode from the single stat row, not per-pair scans:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"no join/window belongs in a sufficient-statistics plan:\n$p")
  }

  test("q102: IVF-PQ candidates join on vec_id — no cartesian product, bounded-heap ranking") {
    val p = plan("q102_ann_ivfpq")
    assert(!p.contains("CartesianProduct"),
      s"in-cell ADC scoring must not cross-join the corpus:\n$p")
    assert(p.contains("partial_topkby"),
      s"final ranking should be the TopKBy bounded-heap aggregate:\n$p")
    assert(!p.contains("Window"), s"no window belongs in the ADC path:\n$p")
  }

  test("q105: funnel is ONE scan + ONE user shuffle of stacked windows, no joins") {
    // the greedy anchors t1..tK are K conditional-min windows over the
    // SAME user partition: one exchange, one sort, and the per-user +
    // stat aggregates reuse that partitioning. The earlier join-chain
    // formulation re-ran the events scan once per step and per count.
    val p = plan("q105_sequence_funnel")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"funnel re-scanned the event log:\n$p")
    assert(!p.contains("Join"), s"funnel planned a join:\n$p")
    assert("Exchange hashpartitioning\\(u#".r.findAllIn(p).size == 1,
      s"expected exactly one user shuffle:\n$p")
  }

  test("q167: every rule-stage consumer reads the basket cache; no product join") {
    // the distinct (group, item) relation is cached once (its fill is the
    // only lineitem lineage); the hot-group census, item census, pair
    // self-join and rule joins all read it back. The 1-row n_baskets
    // relation broadcasts.
    val p = plan("q167_assoc_rules")
    val ls = leafCounts("q167_assoc_rules")
    assert(PlanLeaves.parquetScans(ls) == 0,
      s"a rule stage re-scanned lineitem past the basket cache: $ls\n$p")
    assert(ls.getOrElse("InMemoryTableScan", 0) >= 3,
      s"expected the basket/item caches to feed every stage: $ls\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only the 1-row basket count may cross-join, broadcast:\n$p")
    graft.util.Caches.releaseAll()
  }
}

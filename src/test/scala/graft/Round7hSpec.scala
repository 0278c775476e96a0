package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PlanLeaves

/** Round-7 part three: tree-probe scan-shape gates over the post-audit
  * additions q188–q200 and the round-7 queries — extends PlanSpec's
  * regression net so none of these silently grows a re-scan. Counts
  * are TREE-traversed final adaptive plans (the string form reprints
  * cached fill plans and inflates naive counts).
  */
class Round7hSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def leafCounts(name: String): Map[String, Int] = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize AQE
    val m = PlanLeaves.counts(df)
    graft.util.Caches.releaseAll()
    spark.sharedState.cacheManager.clearCache()
    m
  }

  /** (query, max parquet leaves, cache-backed allowed). The bound is
    * the count the operator's design needs — one leaf per distinct
    * input relation pass, 0 when a cache/checkpoint feeds the plan.
    */
  private val gates: Seq[(String, Int)] = Seq(
    "q188_item_recs" -> 0,            // capped basket relation cached
    "q189_trimmed_shift" -> 2,        // one melted scan per side
    "q190_random_negatives" -> 2,     // corpus (id,label) + anchor pick
    "q191_dedup_survivorship" -> 0,   // shingle relation cached
    "q192_best_split" -> 1,           // census off one scan
    "q193_proportion_z" -> 1,         // union reuses the unit exchange
    "q194_did" -> 1,                  // one conditional aggregate
    "q195_source_influence" -> 1,     // group cores off one scan
    "q196_mde" -> 1,
    "q197_pairwise_welch" -> 1,       // G stat rows, pair stage reuses
    "q198_hhi" -> 1,
    "q199_ess" -> 1,
    "q200_range_contract" -> 2,       // ref snapshot + current side
    "q153a_weekly_distinct_exact" -> 1,
    "q155a_passage_fingerprint" -> 0, // passage census cached
    "q169a_hard_negatives_lsh" -> 2,  // bucketed corpus + anchor pick
    "q179a_label_noise_lsh" -> 2,
    "q201_join_size" -> 2,            // one census per side, reused
    "q203_group_sequential" -> 1,
    "q204_uplift_bins" -> 0,          // unit relation cached
    "q205_t_closeness" -> 0,          // QI×value census cached
    "q206_log_rank" -> 0,             // user-grain relation cached
    "q160_kaplan_meier" -> 0,         // same shape, same cache
    "q207_mp4_metadata" -> 0,         // synthesized RDD payloads
    "q208_chow_break" -> 0,           // daily census cached
    "q209_conformal" -> 0,            // split base cached
    "q210_linkage_em" -> 0,           // pair relation cached
    "q211_audience_overlap" -> 0,     // (user, label) relation cached
    "q212_profile_merge" -> 2,        // pre + post slice states
    "q213_session_paths" -> 1,
    "q214_chat_turns" -> 0,           // synthesized RDD payloads
    "q215_top_eigen" -> 0,            // cov + vector relations cached
    "q216_kcore" -> 0,                // peel rounds checkpoint-backed
    "q217_spearman" -> 0,             // cell census cached
    "q218_seasonal_residuals" -> 0,   // daily census cached
    "q219_capture_recapture" -> 0,    // both pair stages cache-backed
    "q220_cross_correlation" -> 0,    // daily census cached
    "q221_weighted_median" -> 1,
    "q222_best_break" -> 1,
    "q223_heaps_fit" -> 0,         // token relation cached
    "q224_good_turing" -> 1,
    "q225_cohens_kappa" -> 0)      // label census cached

  gates.foreach { case (name, maxLeaves) =>
    test(s"$name: ≤ $maxLeaves parquet leaves in the final plan") {
      val ls = leafCounts(name)
      val n = PlanLeaves.parquetScans(ls)
      assert(n <= maxLeaves,
        s"$name grew a re-scan: $n parquet leaves (max $maxLeaves) in $ls")
    }
  }

  test("q193/q197: the self-union rides a ReusedExchange, not a re-scan") {
    assert(leafCounts("q193_proportion_z").getOrElse("ReusedExchange", 0) >= 1)
    assert(leafCounts("q197_pairwise_welch").getOrElse("ReusedExchange", 0) >= 1)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PlanLeaves

/** Round-10 scan-shape gates: the Round7h/8f/9e net extended to EVERY
  * query at or above 0.5 s in the committed quiet bench — plan creep of
  * the q215 class (an extra scan appearing through a refactor) is now
  * caught at spec time for the whole heavy tail instead of two rounds
  * late by bench drift. Each bound is the audited final-plan leaf count
  * at the time of freezing: tree-traversed final adaptive plans (string
  * forms double-count under AQE/caches), one parquet leaf per distinct
  * input table unless the operator deliberately takes a second pass
  * (fidelity twins, recall graders), 0 when cache/checkpoint-backed
  * (iterative graph/EM/BPE families, streaming twins fed from memory).
  */
class Round10eSpec extends AnyFunSuite {
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

  private val gates: Seq[(String, Int)] = Seq(
    // iterative graph/clustering: census cached, rounds checkpointed
    "q186_pagerank_personalized" -> 0,
    "q129_pagerank" -> 0,
    "q164_pagerank_weighted" -> 0,
    "q139_khop_reach" -> 0,
    "q177_assortativity" -> 0,
    "q130_triangles" -> 2,              // degree census + wedge probe
    "q120_cluster_reps" -> 1,
    "q123_kmeans" -> 1,
    // ANN tiers: code relation + query side per tier
    "q102_ann_ivfpq" -> 4,
    "q42_ann_ivf" -> 3,
    "q60_ann_pq" -> 2,
    "q150_random_projection" -> 1,
    // profile/stat blocks: one pass per input table
    "q11_numeric_profile" -> 1,
    "q41_histograms_all" -> 1,
    "q107_correlation" -> 1,
    "q43a_approx_moments" -> 1,
    "q104_cohort_retention" -> 0,       // event census cached
    "q103_pivot_daily" -> 1,
    "q105_sequence_funnel" -> 1,
    "q99_rolling_activity" -> 0,
    "q151_rolling_p95" -> 0,
    "q163_rfm" -> 0,
    "q168_inter_arrival" -> 1,
    "q98_psi_drift" -> 3,               // split + baseline + current
    "q187_psi_suite" -> 3,
    "q184_ks_suite" -> 2,               // two-sample: one pass per side
    "q159_kendall_tau" -> 0,
    "q109_constraints" -> 1,
    "q110_ref_integrity" -> 5,          // one leaf per checked FK edge
    "q118_fk_discovery" -> 8,           // schema-wide candidate census
    "q19_table_shapes" -> 2,            // catalog shapes: local relations
    // dedup/text: corpus census cached where 2+ branches feed on it
    "q50_dup_clusters" -> 0,
    "q33_jaccard_pairs" -> 2,
    "q34_minhash_lsh" -> 0,
    "q35_simhash" -> 0,
    "q47_trigram_jaccard" -> 2,
    "q61_minhash_capped" -> 0,
    "q61a_minhash_cap_bind" -> 0,
    "q70_semantic_dedup" -> 2,
    "q70a_semantic_dedup_lsh" -> 2,
    "q155_passage_dedup" -> 0,
    "q114_typo_variants" -> 0,
    "q97_containment" -> 2,
    "q97a_containment_capped" -> 3,
    "q115_fuzzy_join" -> 2,
    "q31_langid" -> 2,                  // corpus + ngram model side
    "q48_tfidf_terms" -> 1,
    "q83_bm25" -> 0,
    "q84_collocations" -> 0,
    "q87_token_kl" -> 0,
    "q172_distinctive_terms" -> 0,
    "q71_corpus_pipeline" -> 0,
    "q106_padding_report" -> 1,
    "q117_bpe_merges" -> 0,             // pair census driver-iterated
    "q85_hybrid_rrf" -> 2,
    "q88_embedding_drift" -> 2,
    "q210a_linkage_em_sn" -> 0,
    "q167_assoc_rules" -> 0,
    // splits/joins
    "q64a_split_leakage_safe" -> 1,
    "q81_split_leakage" -> 0,
    "q04_join_agg" -> 2,
    "q46_salted_join" -> 2,
    "q05_topk" -> 1,
    "q26_streaming_hourly" -> 0,        // memory-stream fed
    // round-10 additions (census cached / RDD-backed inventory)
    "q273_cms_heavy_hitters" -> 0,
    "q274_compaction_plan" -> 0,
    // round-11: driver-finished manifest row (the staging/compact IO is
    // RDD/write-jobs; the returned relation is local)
    "q275_compaction_execute" -> 0,
    // round-11: the 13 queries that crossed 0.5 s on the r11 host,
    // each frozen at its audited final-plan leaf count
    "q171_conversion_latency" -> 0,  // event census cached (3 IMR scans)
    "q73_unigram_lm" -> 2,           // corpus + heldout side, exch reused
    "q79_corpus_diff" -> 2,          // one pass per compared slice
    "q158_ks_drift" -> 2,            // two-sample: one pass per side
    "q19a_catalog_columns" -> 0,     // schema-derived local relation
    "q148_autocorr" -> 0,            // series census cached (6 IMR scans)
    "q40_dedup_kept" -> 1,
    "q141_quantile_norm" -> 0,       // value censuses cached
    "q65_pack_shards" -> 2,          // Pack's contract: subtotal pass +
                                     // data pass re-read the projection
    "q181_qq_drift" -> 2,            // two-sample + quantile Range probe
    "q49_label_profile" -> 2,
    "q03_join_broadcast" -> 3,       // three-table broadcast join
    "q165_rank_sum" -> 2,
    // round-11: runner metrics are a driver-side local relation
    "q276_monitor_fanout_fanin" -> 0,
    // round-11b/c: round-trip/ingest checksums are localCheckpoint'd
    // one-row relations (the staging IO is write jobs, probed 0-leaf)
    "q279_orc_roundtrip" -> 0,
    "q280_stream_ingest_e2e" -> 0,
    "q281_stream_neardup_ingest" -> 0)  // driver-built report relation

  gates.foreach { case (name, maxLeaves) =>
    test(s"$name: ≤ $maxLeaves parquet leaves in the final plan") {
      val ls = leafCounts(name)
      val n = PlanLeaves.parquetScans(ls)
      assert(n <= maxLeaves,
        s"$name grew a re-scan: $n parquet leaves (max $maxLeaves) in $ls")
    }
  }
}

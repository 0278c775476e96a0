package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PlanLeaves

/** Round-9 scan-shape gates — the Round8fSpec net extended over the
  * fidelity-report rewrites (q43/q58a/q153), the ANN recall tiers
  * (q261–q263), and the span-dedup family (q264–q266), so none of them
  * silently grows a re-scan. Counts are TREE-traversed final adaptive
  * plans (string forms double-count under AQE/caches).
  */
class Round9eSpec extends AnyFunSuite {
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
    // fidelity reports: the exact twin is an intentional second pass;
    // q43's two melts exchange-reuse down to ONE lineitem scan
    "q43_profile_approx" -> 1,
    "q58a_token_deciles_approx" -> 2,   // approx agg + exact census
    "q153_sketch_rollup" -> 2,          // sketch rollup + exact twin
    // recall graders: exact brute-force + the tier's own scans
    "q261_ann_recall_ivf" -> 3,
    "q262_ann_recall_pq" -> 2,
    "q263_ann_recall_ivfpq" -> 4,
    // span dedup: window census + occurrence join + doc sizes — the
    // full-width window relation is deliberately NOT cached (larger
    // than the corpus; the jaccardPairs trade, measured there)
    "q264_dup_spans" -> 3,
    "q265_span_dedup_report" -> 3,
    "q266_span_scrub" -> 3,
    "q267_conformal" -> 0,              // event relation cached
    "q268_mmr_rerank" -> 0,             // driver greedy over stat rows
    "q269_nelson_aalen" -> 0,           // user-grain relation cached
    "q270_span_decontaminate" -> 3,     // corpus + reference + sizes
    "q271_span_decon_scan" -> 1,        // ONE corpus scan, pure fold
    "q272_interval_join" -> 2)          // the two event-side scans

  gates.foreach { case (name, maxLeaves) =>
    test(s"$name: ≤ $maxLeaves parquet leaves in the final plan") {
      val ls = leafCounts(name)
      val n = PlanLeaves.parquetScans(ls)
      assert(n <= maxLeaves,
        s"$name grew a re-scan: $n parquet leaves (max $maxLeaves) in $ls")
    }
  }
}

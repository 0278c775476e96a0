package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PlanLeaves

/** Round-8 scan-shape gates over q226–q237 — the Round7hSpec net
  * extended so none of the round-8 operators silently grows a
  * re-scan. Counts are TREE-traversed final adaptive plans.
  */
class Round8fSpec extends AnyFunSuite {
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
    "q226_winnowing" -> 0,            // selected-fingerprint cache
    "q227_kneser_ney" -> 1,           // docs re-enter the final left join
    "q228_label_propagation" -> 0,    // labels checkpoint-backed
    "q229_brier" -> 0,                // row relation cached
    "q230_removal_effect" -> 0,       // journey + matrix caches
    "q231_followed_by" -> 0,          // (key, state) stats cached
    "q232_shapley_attribution" -> 1,  // touched cache + coalition range
    "q233_adamic_adar" -> 0,          // edge relation cached
    "q233a_adamic_adar_capped" -> 0,  // same cache, capped centers
    "q234_seq_triples" -> 0,          // position + stat caches
    "q235_ipw_ate" -> 0,              // unit relation cached
    "q236_neyman_allocation" -> 1,    // one stratum census scan
    "q237_average_precision" -> 1,    // one value-domain census scan
    "q238_rake_keywords" -> 0,        // phrase relation cached
    "q239_dp_histogram" -> 1,         // one key census scan
    "q240_kruskal_wallis" -> 0,       // K-row driver finish
    "q241_brown_forsythe" -> 0,       // K-row driver finish
    "q242_fdr_welch" -> 1,            // one group-stats scan, reused
    "q243_page_hinkley" -> 1,         // one daily census scan
    "q244_bradley_terry" -> 0,        // K-row driver MM finish
    "q245_mcnemar" -> 1,              // one paired aggregate scan
    "q246_fleiss_kappa" -> 1,         // one panel census scan
    "q247_win_rate_wilson" -> 0,      // matchup census cached
    "q248_isotonic_calibration" -> 0, // bin census cached
    "q249_dsir_importance" -> 0,      // tf relation cached
    "q250_cochran_armitage" -> 1,     // one decile census scan
    "q251_krippendorff_alpha" -> 0,   // panel census cached
    "q252_mantel_haenszel" -> 1,      // one stratum census scan
    "q253_wasserstein" -> 2,          // the two half-window scans
    "q254_dunn_pairs" -> 0,           // rank census cached
    "q255_rake_weights" -> 0,         // cell census cached
    "q256_weight_ess" -> 0,           // same cached census
    "q257_jonckheere" -> 0,           // value census cached
    "q258_ann_recall" -> 2,           // exact + LSH embedding scans
    "q259_sprt" -> 1,                 // one ordered event scan
    "q260_cronbach_alpha" -> 0)       // complete-case panel cached

  gates.foreach { case (name, maxLeaves) =>
    test(s"$name: ≤ $maxLeaves parquet leaves in the final plan") {
      val ls = leafCounts(name)
      val n = PlanLeaves.parquetScans(ls)
      assert(n <= maxLeaves,
        s"$name grew a re-scan: $n parquet leaves (max $maxLeaves) in $ls")
    }
  }
}

package graft

/** Stable name for the MinHash-LSH pair CTE chain, which the perfbench
  * ingest workload writes out next to its run records.
  */
object LlmQueries {
  def minhashPairsCtes: String = registry.DedupQueries.minhashPairsCtes
}

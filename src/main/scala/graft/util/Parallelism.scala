package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Guard against under-partitioned scans feeding compute-heavy stages.
  *
  * Parquet parallelism is bounded by ROW GROUPS, not byte splits: a
  * single-row-group file (small fixture exports, badly-written upstream
  * data) is read by exactly one task, so everything fused into the scan
  * stage — explodes, hashes, melts, partial aggregates — runs on one
  * core no matter the cluster size. [[ensure]] repartitions ONLY when
  * the scan's expected split count is below the session's default
  * parallelism; a healthy 100 TB table (thousands of row groups) passes
  * through untouched, so the shuffle cost is paid exactly when it buys
  * parallelism.
  *
  * The probe reads the OPTIMIZED plan's file index — after
  * PruneFileSourcePartitions, so a partition-pruned scan is estimated at
  * its pruned size, not the table total (the analyzed plan would
  * overestimate pruned scans and skip the repartition exactly when the
  * real scan is small) — and mirrors Spark's own
  * `FilePartition.maxSplitBytes` arithmetic. No physical planning and no
  * plan→RDD conversion, which the previous `df.rdd.getNumPartitions`
  * probe paid once per wrapped operator (a full extra QueryExecution down
  * to RDD lineage).
  */
object Parallelism {

  /** MEASURED AND REJECTED (round-15): repartitioning by a
    * deterministic whole-row hash key — `pmod(xxhash64(all cols),
    * 100·n)` — instead of round-robin, to skip round-robin's local
    * sort-before-repartition. An ISOLATED scan→repartition→noop probe
    * (lineitem sf0.1) read the hash leg 1.67× faster, but IN-QUERY the
    * verdict inverts: evaluating xxhash64 over every column of a WIDE
    * row (16 lineitem columns, or a documents row whose text is KBs)
    * costs far more than the sort it replaces — interleaved per-stage
    * timing (`tools.Probe stages`) on q14_dupes put the 3-task
    * guard stage at 456–496 ms hashed vs 99–105 ms round-robin, and
    * the full-bench A/B read q10_null_counts +78% / q14_dupes +120%
    * with NO end-to-end win on any other query (q11 exactly flat: the
    * guard leg is off the critical path under AQE's concurrent stage
    * scheduling). Round-robin's sort is the cheaper half of this
    * trade; do not retry without per-row-width evidence.
    */
  def ensure(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val conf = spark.sessionState.conf
    val fileRelations = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation]
    }
    if (fileRelations.nonEmpty) {
      // Spark packs splits of maxSplitBytes = min(maxPartitionBytes,
      // max(openCostInBytes, totalBytes/cores)); estimated task count =
      // ceil(total/maxSplit) per relation (file-boundary padding ignored —
      // a slight underestimate, erring toward repartitioning, which is
      // the safe direction for this guard).
      val est = fileRelations.map { r =>
        val total = math.max(1L, r.location.sizeInBytes)
        val bytesPerCore = total / math.max(1, target)
        val maxSplit = math.min(conf.filesMaxPartitionBytes,
          math.max(conf.filesOpenCostInBytes, bytesPerCore))
        (total + maxSplit - 1) / maxSplit
      }.sum
      if (est < target) df.repartition(target) else df
    } else {
      // non-file source (local relation, jdbc): fall back to the RDD probe
      // — these are small driver-adjacent inputs where the conversion is
      // negligible
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    }
  }
}

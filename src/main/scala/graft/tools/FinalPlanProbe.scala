package graft.tools

/** Post-AQE scan audit: runs each query to completion and reports the
  * FINAL adaptive plan's FileScan / ReusedExchange counts (the pre-AQE
  * `executedPlan` string can both over-count — AQE may reuse identical
  * exchange subtrees at runtime — and under-report: when
  * `isFinalPlan=true` the string prints initial AND final sections, so
  * divide by 2 when comparing against PlanSpec's pre-execution gates).
  * This is the probe that caught the q111/q113 aggregate-of-aggregate
  * lineage re-scanning events 4x / documents 6x.
  *
  * Usage: runMain graft.tools.FinalPlanProbe <sfDir> <q1> [q2...]
  */
object FinalPlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.util.Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    args.tail.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      // tree-based: the toString form reprints cached-plan children under
      // InMemoryRelation and (post-AQE) an initial-plan section, both of
      // which inflate naive string counts
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def leaves(p: SparkPlan): Seq[String] = p match {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case q: QueryStageExec => leaves(q.plan)
        case l if l.children.isEmpty && l.subqueries.isEmpty =>
          Seq(l.nodeName)
        case n => (n.children ++ n.subqueries).flatMap(leaves)
      }
      val ls = leaves(df.queryExecution.executedPlan)
        .groupBy(identity).view.mapValues(_.size).toMap
      println(s"=== $name: " + ls.toSeq.sortBy(-_._2)
        .map { case (k, v) => s"$k=$v" }.mkString(" "))
      spark.sharedState.cacheManager.clearCache()
      graft.util.Caches.releaseAll()
    }
    spark.stop()
  }
}

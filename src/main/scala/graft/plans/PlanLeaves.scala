package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Scan-shape audit of a physical plan: leaf `nodeName` → count, by
  * TREE traversal through adaptive plans and their query stages (and
  * into subqueries). Never count leaves in the plan string: it reprints
  * cached fill plans under every InMemoryTableScan and, once AQE has
  * finalised, prints an initial-plan section next to the final one.
  *
  * Before the first action this walks the initial adaptive plan; after
  * an action (`collect()`) it walks the final one, whose stages may
  * reuse an exchange (`ReusedExchange` leaves).
  */
object PlanLeaves {

  def counts(df: DataFrame): Map[String, Int] =
    leaves(df.queryExecution.executedPlan)
      .groupBy(identity).view.mapValues(_.size).toMap

  /** Parquet file-scan leaves among `counts`. */
  def parquetScans(counts: Map[String, Int]): Int =
    counts.collect { case (k, v) if k.startsWith("Scan parquet") => v }.sum

  private def leaves(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case l if l.children.isEmpty && l.subqueries.isEmpty => Seq(l.nodeName)
    case n => (n.children ++ n.subqueries).flatMap(leaves)
  }
}

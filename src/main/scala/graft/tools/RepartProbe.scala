package graft.tools

import org.apache.spark.sql.functions._

/** A/B the ensure() repartition shapes on one table (round-15): plain
  * round-robin `repartition(n)` (pays sortBeforeRepartition's local
  * sort in the scan stage) vs deterministic hash `repartition(n,
  * pmod(xxhash64(all cols), 50·n))` (guide §2.5's deterministic
  * synthetic key — no local sort, retry-safe). Times scan→repartition→
  * noop so the full width is computed (guide §1.4).
  * Usage: runMain graft.tools.RepartProbe <sfDir> <table> [reps]
  */
object RepartProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val table = if (args.length > 1) args(1) else "lineitem"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.util.Sessions.local(32)
    spark.sparkContext.setLogLevel("WARN")
    val df = graft.Tables.load(spark, sfDir, table)
    df.count()
    val target = spark.sparkContext.defaultParallelism
    def noop(d: org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      d.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    (1 to reps).foreach { i =>
      val rr = noop(df.repartition(target))
      val hash = noop(df.repartition(target,
        pmod(xxhash64(df.columns.map(col): _*), lit(50L * target))))
      val none = noop(df)
      println(f"REPART $table run$i: roundrobin=$rr%.3f hash=$hash%.3f baseline_noop=$none%.3f")
    }
    spark.stop()
  }
}

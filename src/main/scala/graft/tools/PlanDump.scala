package graft.tools
/** Dump .explain("formatted") of named queries to <outDir>/<q>_<tag>.txt.
  * Usage: runMain graft.tools.PlanDump <tag> <sfDir> <q1> [q2...]
  * Output dir from $PLAN_DUMP_DIR (default plans/out), created if absent
  * (ADVICE r14: no baked-in round number, no NoSuchFileException).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0); val sfDir = args(1); val names = args.drop(2)
    val outDir = sys.env.getOrElse("PLAN_DUMP_DIR", "plans/out")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val spark = graft.util.Sessions.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
        txt.getBytes("UTF-8"))
      println(s"dumped $name")
      spark.sharedState.cacheManager.clearCache()
      graft.util.Caches.releaseAll()
    }
    spark.stop()
  }
}

package graft.tools

/** Self-instrumenting stall hunter: runs a query repeatedly; a watchdog
  * thread samples all stacks mid-run, and samples of runs slower than the
  * threshold are printed — catches sporadic multi-second stalls whose
  * cause an external jstack keeps missing.
  */
object StallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = if (args.length > 1) args(1) else "q34_minhash_lsh"
    val reps = if (args.length > 2) args(2).toInt else 8
    val spark = graft.util.Sessions.local(32)
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.all.foreach(t => graft.Tables.load(spark, sfDir, t).count())
    val fn = graft.SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      @volatile var done = false
      val samples = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val watchdog = new Thread(() => {
        val t0 = System.nanoTime()
        while (!done) {
          Thread.sleep(2500)
          if (!done) {
            val dt = (System.nanoTime() - t0) / 1e9
            val sb = new StringBuilder(f"--- sample at $dt%.1f s:\n")
            import scala.jdk.CollectionConverters._
            Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
              if (st.nonEmpty && t.getState == Thread.State.RUNNABLE &&
                  !t.getName.contains("watchdog")) {
                sb.append(s"  [R] ${t.getName}: ${st.take(4).mkString(" <- ")}\n")
              }
            }
            // also show what the main/driver threads wait on
            Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
              if (st.nonEmpty && (t.getName == "main" || t.getName.startsWith("dag-scheduler"))) {
                sb.append(s"  [${t.getState}] ${t.getName}: ${st.take(5).mkString(" <- ")}\n")
              }
            }
            samples.add(sb.toString)
          }
        }
      }, "watchdog")
      watchdog.setDaemon(true)
      val t0 = System.nanoTime()
      watchdog.start()
      val n = fn(spark, sfDir).count()
      done = true
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"STALL $name run$i: $dt%.2f s, $n rows")
      if (dt > 6.0) {
        import scala.jdk.CollectionConverters._
        samples.asScala.foreach(println)
      }
      spark.sharedState.cacheManager.clearCache()
      graft.util.Caches.releaseAll()
    }
    spark.stop()
  }
}

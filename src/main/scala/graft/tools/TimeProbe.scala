package graft.tools

/** Throwaway spot-timer: times construction vs execution of the named
  * registry queries at the given SF dir, min-of-2, per-phase.
  * Usage: runMain graft.tools.TimeProbe <sfDir> <q1,q2,...>
  */
object TimeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val qs = args(1).split(",").toSeq
    val spark = graft.util.Sessions.local(32)
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.all.foreach(t => graft.Tables.load(spark, sfDir, t).count())
    qs.foreach { q =>
      (1 to 2).foreach { i =>
        val fn = graft.SparkEntry.queries(q)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.count()
        val t2 = System.nanoTime()
        println(f"$q try$i construct=${(t1 - t0) / 1e9}%.3f exec=${(t2 - t1) / 1e9}%.3f")
        spark.sharedState.cacheManager.clearCache()
        graft.util.Caches.releaseAll()
      }
    }
    spark.stop()
  }
}

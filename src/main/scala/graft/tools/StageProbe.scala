package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage timing for one query: runs it N times and prints each run's
  * stages (duration, task time, GC time, name) — separates "a stage is
  * intrinsically slow" from "the JVM stalled between stages".
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = if (args.length > 1) args(1) else "q34_minhash_lsh"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.util.Sessions.local(32)
    spark.sparkContext.setLogLevel("WARN")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s
        stages.add(f"    stage ${si.stageId}%3d: wall=${wall.getOrElse(-1L)}%6d ms " +
          f"taskTime=${si.taskMetrics.executorRunTime}%7d ms " +
          f"gc=${si.taskMetrics.jvmGCTime}%5d ms tasks=${si.numTasks}%3d " +
          si.name.takeWhile(_ != '\n').take(60))
      }
    })
    graft.Tables.all.foreach(t => graft.Tables.load(spark, sfDir, t).count())
    val fn = graft.SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      stages.clear()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener drain
      println(f"SPROBE $name run$i: $dt%.2f s, $n rows")
      import scala.jdk.CollectionConverters._
      stages.asScala.foreach(println)
      spark.sharedState.cacheManager.clearCache()
      graft.util.Caches.releaseAll()
    }
    spark.stop()
  }
}

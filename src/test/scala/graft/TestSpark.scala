package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = graft.util.Sessions.local(4)

  /** Drain the shared session's listener bus (see
    * [[graft.util.Sessions.drainListenerBus]]).
    */
  def drainListenerBus(): Unit = graft.util.Sessions.drainListenerBus(spark)

  /** Spark jobs started while `body` runs, counted by a listener after
    * the bus has drained on both sides.
    */
  def jobsDuring(body: => Unit): Int = {
    drainListenerBus()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; drainListenerBus() }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }
}

package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (forked test JVM), and
  * the helpers every spec shares. Specs `import TestSpark._`.
  */
object TestSpark {
  lazy val spark: SparkSession = graft.util.Sessions.local(4)

  /** The smallest fixture scale, which every spec reads. */
  val sf = "/root/testdata/sf0.001"

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** Drain the shared session's listener bus (see
    * [[graft.util.Sessions.drainListenerBus]]).
    */
  def drainListenerBus(): Unit = graft.util.Sessions.drainListenerBus(spark)

  /** Run `body` with `listener` attached, draining the bus on both sides
    * so it sees exactly the events `body` caused.
    */
  private def listening(listener: SparkListener)(body: => Unit): Unit = {
    drainListenerBus()
    spark.sparkContext.addSparkListener(listener)
    try { body; drainListenerBus() }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })(body)
    jobs.get()
  }

  /** Metrics of every task that ended while `body` ran. */
  def tasksDuring(body: => Unit): Seq[TaskMetrics] = {
    val tasks = new ConcurrentLinkedQueue[TaskMetrics]()
    listening(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) tasks.add(e.taskMetrics)
    })(body)
    tasks.asScala.toSeq
  }

  /** Run `body` with the session confs `kvs` set, then restore each key's
    * previous value, or unset it if it had none.
    */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

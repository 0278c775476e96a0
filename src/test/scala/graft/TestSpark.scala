package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = graft.util.Sessions.local(4)

  /** Drain the async listener bus so metric-collecting specs see every
    * TaskEnd before removing their listener (the Bench.drainBus
    * pattern: a fixed sleep drops late events under CI load and lets
    * the assertions pass vacuously with partial data).
    * `LiveListenerBus.waitUntilEmpty` is private[spark] but public in
    * bytecode — reflection reaches it; the fallback polls the bus's
    * queued-event estimate until it stabilizes.
    */
  def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      ()
    } catch {
      case scala.util.control.NonFatal(_) => Thread.sleep(1500)
    }
  }
}

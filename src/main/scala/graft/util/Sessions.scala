package graft.util

import org.apache.spark.sql.SparkSession

/** The one local session factory: the mains and the test suite all run
  * on `local[cpus]` with the shuffle width matched to the cores, UTC
  * session time, fixture timestamps read as TIMESTAMP (not NTZ),
  * adaptive execution with skew-join splitting, and no UI.
  */
object Sessions {
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Drain the async listener bus, so a listener has seen every event
    * of the actions that already returned before it is read or removed
    * (a fixed sleep drops late events under load and lets per-query
    * deltas leak into the next query). The bus's own drain is
    * private[spark] but public in bytecode, so reflection reaches it;
    * if it is unreachable or times out, wait a fixed 1.5 s instead.
    */
  def drainListenerBus(spark: SparkSession): Unit = {
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

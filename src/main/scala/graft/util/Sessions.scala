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
}

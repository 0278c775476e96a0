package graft.tools

/** Drives SparkEntry.entry the way the driver's smoke check does. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.Sessions.local(8)
    spark.sparkContext.setLogLevel("WARN")
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = false)
    println(s"[entry-smoke] rows=$n (driver requires > 0)")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}

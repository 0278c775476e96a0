package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc single-query timing + plan dump: runMain graft.tools.QueryProbe <sfDir> <q1> [q2...] */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // ad-hoc conf overrides for A/B probing: PROBE_CONF="k=v;k=v", set as
    // spark.* system properties, which SparkConf reads when the session is
    // built (core and static confs included). They are silently IGNORED
    // when a session already exists in this JVM (an A/B probe
    // would then report results for the wrong config) — fail loudly instead.
    val probeConf = sys.env.get("PROBE_CONF").toSeq
      .flatMap(_.split(";").filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    require(probeConf.isEmpty ||
      SparkSession.getActiveSession.isEmpty &&
        SparkSession.getDefaultSession.isEmpty,
      "PROBE_CONF set but a SparkSession already exists in this JVM — " +
        "its confs would be silently ignored")
    probeConf.foreach { case (k, v) => sys.props(k) = v }
    val spark = graft.util.Sessions.local(cpus.toInt)
    // the factory's own builder confs win over system properties: re-set
    // runtime ones, and fail on any override that did not take effect
    probeConf.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k)) spark.conf.set(k, v)
      require(spark.conf.getOption(k).contains(v), s"PROBE_CONF $k=$v did not take effect")
    }
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.all.foreach(t => graft.Tables.load(spark, sfDir, t).count())
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      if (sys.env.contains("PROBE_EXPLAIN")) fn(spark, sfDir).explain("formatted")
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"PROBE $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s, $n rows")
        // mimic Bench: drop operator caches so queries don't interact
        spark.sharedState.cacheManager.clearCache()
        graft.util.Caches.releaseAll()
      }
    }
    spark.stop()
  }
}

package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{SparkEntry, Tables}
import graft.plans.PlanLeaves
import graft.util.{Caches, Sessions}

/** One diagnostics main for registry queries. It warms the fixture
  * tables once, runs each named query in the chosen mode, and releases
  * the operator and Spark caches after every run so queries do not
  * interact (as Bench does).
  *
  * Usage: runMain graft.tools.Probe <mode> <sfDir> <q1,q2,…> [reps]
  *
  *  - `plan [outDir]`: runs each query once, writes the formatted
  *    explain of its final adaptive plan to `<outDir>/<q>.txt` (default
  *    `plans/out`) and prints the plan's leaf counts
  *    ([[graft.plans.PlanLeaves]]). Healthy shapes have one parquet leaf
  *    per distinct input table, 0 when cache- or checkpoint-backed.
  *  - `time`: construct vs execute wall and row count per rep.
  *  - `stages`: wall and row count per rep, then each completed stage's
  *    wall, executor run time, GC time, task count and name — tells a
  *    slow stage from a stall between stages.
  *  - `stall`: a watchdog samples every thread's stack each 2.5 s of a
  *    rep; reps slower than 6 s print their samples, which catches
  *    sporadic stalls an external jstack keeps missing.
  *
  * `reps` defaults to 3. The session is `local[$SPARK_GRAFT_CPUS]`
  * (default 32, as in Bench and Verify). `PROBE_CONF="k=v;k=v"` sets
  * session confs for A/B probing, core and static ones included.
  */
object Probe {
  private val Usage =
    "usage: Probe <plan|time|stages|stall> <sfDir> <q1,q2,…> [reps | outDir for plan]"
  private val StallSampleMs = 2500L
  private val StallReportS = 6.0

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, Usage)
    val spark = session()
    try run(spark, args(0), args(1), args(2).split(",").toSeq, args.lift(3))
    finally spark.stop()
  }

  /** `Sessions.local` with `PROBE_CONF` applied. The overrides are set
    * as `spark.*` system properties, which SparkConf reads when the
    * session is built; they would be silently ignored if a session
    * already existed in this JVM, so that fails instead.
    */
  private def session(): SparkSession = {
    val probeConf = sys.env.get("PROBE_CONF").toSeq
      .flatMap(_.split(";").filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    require(probeConf.isEmpty ||
      SparkSession.getActiveSession.isEmpty &&
        SparkSession.getDefaultSession.isEmpty,
      "PROBE_CONF set but a SparkSession already exists in this JVM — " +
        "its confs would be silently ignored")
    probeConf.foreach { case (k, v) => sys.props(k) = v }
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // the factory's own builder confs win over system properties: re-set
    // runtime ones, and fail on any override that did not take effect
    probeConf.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k)) spark.conf.set(k, v)
      require(spark.conf.getOption(k).contains(v), s"PROBE_CONF $k=$v did not take effect")
    }
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Probe `names` on `spark`, printing to `Console.out`. The session is
    * the caller's: it is never stopped here.
    */
  def run(spark: SparkSession, mode: String, sfDir: String,
      names: Seq[String], arg: Option[String]): Unit = {
    def reps = arg.fold(3)(_.toInt)
    val (n, once): (Int, (String, () => DataFrame, Int) => Unit) = mode match {
      case "plan" =>
        val outDir = Files.createDirectories(Paths.get(arg.getOrElse("plans/out")))
        (1, (name, build, _) => plan(name, build(), outDir))
      case "time" => (reps, time)
      case "stages" => (reps, stages(spark))
      case "stall" => (reps, stall)
      case other => throw new IllegalArgumentException(s"unknown mode '$other'; $Usage")
    }
    val queries = names.map(q => q -> SparkEntry.queries(q))
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
    for ((name, fn) <- queries; i <- 1 to n) {
      try once(name, () => fn(spark, sfDir), i)
      finally {
        spark.sharedState.cacheManager.clearCache()
        Caches.releaseAll()
      }
    }
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def plan(name: String, df: DataFrame, outDir: Path): Unit = {
    df.collect()
    Files.write(outDir.resolve(s"$name.txt"),
      df.queryExecution.explainString(FormattedMode).getBytes("UTF-8"))
    println(s"=== $name: " + PlanLeaves.counts(df).toSeq
      .sortBy { case (k, v) => (-v, k) }.map { case (k, v) => s"$k=$v" }.mkString(" "))
  }

  private def time(name: String, build: () => DataFrame, i: Int): Unit = {
    val t0 = System.nanoTime()
    val df = build()
    val construct = secondsSince(t0)
    val t1 = System.nanoTime()
    val rows = df.count()
    println(f"TIME $name rep$i: construct=$construct%.3f s exec=${secondsSince(t1)}%.3f s, $rows rows")
  }

  private def stages(spark: SparkSession)(name: String, build: () => DataFrame, i: Int): Unit = {
    val lines = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = for (s <- si.submissionTime; c <- si.completionTime) yield c - s
        lines.add(f"    stage ${si.stageId}%3d: wall=${wall.getOrElse(-1L)}%6d ms " +
          f"taskTime=${si.taskMetrics.executorRunTime}%7d ms " +
          f"gc=${si.taskMetrics.jvmGCTime}%5d ms tasks=${si.numTasks}%3d " +
          si.name.takeWhile(_ != '\n').take(60))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val rows = try {
      val r = build().count()
      Sessions.drainListenerBus(spark)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    println(f"STAGES $name rep$i: ${secondsSince(t0)}%.2f s, $rows rows")
    lines.asScala.foreach(println)
  }

  private def stall(name: String, build: () => DataFrame, i: Int): Unit = {
    val caller = Thread.currentThread()
    val done = new CountDownLatch(1)
    val samples = new ConcurrentLinkedQueue[String]()
    val t0 = System.nanoTime()
    val watchdog = new Thread(() => {
      while (!done.await(StallSampleMs, TimeUnit.MILLISECONDS)) {
        val sb = new StringBuilder(f"--- sample at ${secondsSince(t0)}%.1f s:\n")
        val all = Thread.getAllStackTraces.asScala
        all.foreach { case (t, st) =>
          if (st.nonEmpty && t.getState == Thread.State.RUNNABLE && t != Thread.currentThread())
            sb.append(s"  [R] ${t.getName}: ${st.take(4).mkString(" <- ")}\n")
        }
        // and what the probing thread and the DAG scheduler wait on
        all.foreach { case (t, st) =>
          if (st.nonEmpty && (t == caller || t.getName.startsWith("dag-scheduler")))
            sb.append(s"  [${t.getState}] ${t.getName}: ${st.take(5).mkString(" <- ")}\n")
        }
        samples.add(sb.toString)
      }
    }, "probe-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()
    val rows = try build().count() finally { done.countDown(); watchdog.join() }
    val dt = secondsSince(t0)
    println(f"STALL $name rep$i: $dt%.2f s, $rows rows")
    if (dt > StallReportS) samples.asScala.foreach(println)
  }
}

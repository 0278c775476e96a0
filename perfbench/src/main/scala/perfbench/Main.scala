package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The outcome of one op. `detail` holds what the output check needs. */
final case class OpRecord(i: Int, latS: Double, cleanupS: Double, cpuS: Double, ok: Boolean,
    error: String, detail: Map[String, Any])

/** A closed-loop workload with one client: ops run one after another. */
trait Workload {
  /** Opens the inputs in a fresh session; called once per set-up round. */
  def open(spark: SparkSession): Unit
  /** Untimed: stages the inputs op `i` consumes. False when none are left. */
  def prepare(spark: SparkSession, i: Int): Boolean
  /** Timed: one op. Returns what the check needs; throws on failure. */
  def run(spark: SparkSession, i: Int): Map[String, Any]
  /** Outside the op's latency but inside the throughput window. */
  def cleanup(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    graft.util.Caches.releaseAll()
  }
  /** Untimed: checks op `i`'s output. Returns the mismatches, and readings
    * to keep in the op's record. */
  def check(spark: SparkSession, i: Int, out: Map[String, Any]): (Seq[String], Map[String, Any])
  /** Untimed, traced runs only: the sequential per-layer pass for op `i`. */
  def decomposed(spark: SparkSession, i: Int): Unit = ()
  /** Per-layer values only this workload can measure, for the traced run. */
  def layerMetrics(spark: SparkSession, ops: Int): Map[String, Double] = Map.empty
  /** How many ops make up the cold unit that runs before the timed window. */
  def coldOps: Int = 1
  /** The timed window ends on a multiple of this many ops after the cold
    * unit, so every run measures whole passes over its inputs. */
  def passOps: Int = 1
}

object Fs {
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

/** Runs one workload: set-up rounds, the cold unit, then whole passes of
  * ops for at least the given number of seconds; writes every measurement
  * to a JSON file. The caller (run.py) turns them into the benchmark's
  * metrics.
  *
  * Usage: Main <config.json> <result.json>
  *        Main --list-queries <ids.json>
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def session(cfg: Map[String, Any]): SparkSession = {
    val cpus = cfg("cpus").toString
    val work = cfg("work").toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A fixed single-threaded integer loop; its time tracks the CPU the
    * host gives this process. Recorded beside the metrics, never used to
    * rescale them. */
  def cpuProbeS(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L; var i = 0
      while (i < 15000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42) println("")
      (System.nanoTime() - t0) / 1e9
    }
    Seq.fill(3)(once()).sorted.apply(1)
  }

  def loadavg(): Seq[Double] =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")
      .take(3).map(_.toDouble).toSeq

  /** (steal ticks, total ticks) of the aggregate CPU line of /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head
      .split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  /** CPU seconds this process has used, all threads together. */
  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Heap in use after full collections, once the listener bus is empty.
    * The pauses let Spark's ContextCleaner drop the blocks of broadcasts
    * and RDDs a collection found unreachable; collections repeat until two
    * readings agree, so the reading does not depend on how far that
    * asynchronous cleanup had got. */
  def heapAfterFullGcMb(sc: org.apache.spark.SparkContext): Double = {
    SparkLayer.drain(sc)
    def used(): Double = {
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used(); var cur = used(); var n = 2
    while (math.abs(cur - prev) > 1.0 && n < 6) { prev = cur; cur = used(); n += 1 }
    cur
  }

  def main(args: Array[String]): Unit = {
    if (args(0) == "--list-queries") {
      json.writeValue(Paths.get(args(1)).toFile, graft.SparkEntry.queries.keys.toSeq.sorted)
      return
    }
    val cfg = json.readValue(Paths.get(args(0)).toFile, classOf[Map[String, Any]])
    val tracer = new Tracer(cfg("trace").toString == "1")
    val seconds = cfg("seconds").toString.toDouble
    val setupRounds = cfg.getOrElse("setup_rounds", 3).toString.toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl: Workload = cfg("workload") match {
      case "monitor_cycle" => new MonitorCycle(cfg, tracer)
      case "ingest_stream" => new IngestStream(cfg, tracer)
      case "query_mix" => new QueryMix(cfg, tracer)
      case w => sys.error(s"unknown workload $w")
    }

    // Set-up: a fresh session that has opened the workload's inputs. It is
    // done several times and the median reported, so one slow round does
    // not move the metric; the first round also pays JVM class loading.
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var firstReadyS = 0.0 // JVM start to the end of the first round
    (1 to setupRounds).foreach { r =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cfg)
      wl.open(spark)
      setupS += (System.nanoTime() - t0) / 1e9
      if (r == 1) firstReadyS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    }
    val layer = new SparkLayer(() => tracer.trace)
    if (tracer.on) {
      tracer.sc = Some(spark.sparkContext)
      spark.sparkContext.addSparkListener(layer)
    }

    val ops = ArrayBuffer.empty[OpRecord]
    val opWindows = ArrayBuffer.empty[(Int, Long, Long)] // trace, start ms, end ms
    def one(i: Int): Boolean = {
      if (!wl.prepare(spark, i)) return false
      tracer.trace = i + 1
      val w0 = System.currentTimeMillis()
      val c0 = processCpuS()
      val t0 = System.nanoTime()
      val (out, err) =
        try (wl.run(spark, i), "")
        catch { case e: Throwable => (Map.empty[String, Any], s"${e.getClass.getName}: ${e.getMessage}".take(400)) }
      val t1 = System.nanoTime()
      val c1 = processCpuS()
      val w1 = System.currentTimeMillis()
      wl.cleanup(spark)
      val t2 = System.nanoTime()
      val (mismatches, detail) =
        if (err.nonEmpty) (Seq(err), Map.empty[String, Any])
        else try wl.check(spark, i, out)
        catch { case e: Throwable => (Seq(s"check failed: ${e.getMessage}".take(400)), Map.empty[String, Any]) }
      ops += OpRecord(i, (t1 - t0) / 1e9, (t2 - t1) / 1e9, c1 - c0, mismatches.isEmpty,
        mismatches.take(5).mkString("; "), detail)
      System.err.println(f"[perfbench] op $i%d ${(t1 - t0) / 1e9}%.3f s ok=${mismatches.isEmpty} " +
        detail.getOrElse("id", ""))
      opWindows += ((i + 1, w0, w1))
      if (tracer.on && i >= wl.coldOps) { // spans of the cold unit are not reported
        tracer.trace = -(i + 1) // the decomposed pass is filed apart from the op
        try wl.decomposed(spark, i)
        catch { case e: Throwable => System.err.println(s"[perfbench] decomposed pass: $e") }
        tracer.trace = i + 1
      }
      true
    }

    // the cold unit: the first work in a fresh process, as a newly
    // scheduled job pays JIT, codegen and footer reads
    val maxOps = cfg.getOrElse("max_ops", Int.MaxValue).toString.toInt
    val coldOps = wl.coldOps
    // every run starts its cold unit from the same state: the set-up's
    // events delivered, its garbage collected, its cleanup done
    heapAfterFullGcMb(spark.sparkContext)
    val (coldSteal0, coldTotal0) = cpuTicks()
    (0 until coldOps).foreach(one)
    val (coldSteal1, coldTotal1) = cpuTicks()
    tracer.timedFrom = coldOps + 1
    val probeBefore = cpuProbeS()
    val (steal0, total0) = cpuTicks()
    val load0 = loadavg()
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    var i = coldOps
    var exhausted = false
    def passDone = (i - coldOps) % wl.passOps == 0
    while (!exhausted && ((System.nanoTime() - t0) / 1e9 < seconds || !passDone)) {
      exhausted = i >= maxOps || !one(i)
      if (!exhausted) i += 1
    }
    val gcS = gcSeconds() - gc0
    val (steal1, total1) = cpuTicks()
    val load1 = loadavg()
    val heapUsedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val liveRdds = spark.sparkContext.getPersistentRDDs.size
    val storageMemMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    val heapRetainedMb = heapAfterFullGcMb(spark.sparkContext)
    val probeAfter = cpuProbeS()

    val timed = ops.filter(_.i >= coldOps)
    val layers: Map[String, Double] =
      if (!tracer.on) Map.empty
      else {
        SparkLayer.drain(spark.sparkContext)
        val n = math.max(1, timed.size)
        val sparkTot = timed.map(o => layer.totals(o.i + 1).asMap)
          .foldLeft(Map.empty[String, Double])((a, m) =>
            m.foldLeft(a) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0.0) + v) })
        val gap = opWindows.filter(_._1 > coldOps).map { case (t, a, b) => layer.driverGapS(t, a, b) }.sum
        val perOp = (sparkTot + ("spark.driver_gap_s" -> gap)).map { case (k, v) => k -> v / n }
        perOp ++ wl.layerMetrics(spark, timed.size) ++ Map(
            "util.caches.live_rdds" -> liveRdds.toDouble,
            "util.storage_mem_mb" -> storageMemMb,
            "jvm.heap_used_mb" -> heapUsedMb,
            "jvm.gc_s" -> gcS / n)
      }
    val spans = tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "trace" -> s.trace, "name" -> s.name,
      "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9))
    val result = Map(
      "cold_ops" -> coldOps,
      "setup_rounds_s" -> setupS.toSeq,
      "jvm_first_ready_s" -> firstReadyS,
      "exhausted" -> exhausted,
      "ops" -> ops.toSeq.map(o => Map("i" -> o.i, "lat_s" -> o.latS,
        "cleanup_s" -> o.cleanupS, "cpu_s" -> o.cpuS, "ok" -> o.ok, "error" -> o.error) ++ o.detail),
      "heap_retained_mb" -> heapRetainedMb,
      "host" -> Map("cpu_probe_before_s" -> probeBefore, "cpu_probe_after_s" -> probeAfter,
        "loadavg_before" -> load0, "loadavg_after" -> load1,
        "steal_share" -> (if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0),
        "cold_steal_share" -> (if (coldTotal1 > coldTotal0)
          (coldSteal1 - coldSteal0).toDouble / (coldTotal1 - coldTotal0) else 0.0)),
      "layers" -> layers,
      "spans" -> spans)
    json.writeValue(Paths.get(args(1)).toFile, result)
    spark.stop()
  }
}

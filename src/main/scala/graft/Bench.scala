package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal

/** Benchmark main: times every registry query (min-of-2) on
  * `SPARK_GRAFT_SF_DIR`, with in-band host-weather calibration,
  * per-query task-metric telemetry for the heavy tail, and a vs-prev
  * regression block — one JSON line to stdout, the full artifact to
  * `bench_full.json`.
  */
object Bench {
  /** /proc/loadavg sample: (la1, la5, la15, runnable/total threads). */
  private def loadavg(): String =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim
      val f = s.split("\\s+")
      s"""{"la1":${f(0)},"la5":${f(1)},"la15":${f(2)},"procs":"${f(3)}"}"""
    } catch { case NonFatal(_) => """{"la1":-1}""" }

  /** Per-query task-metric accumulator: shuffle bytes, spill, GC and
    * executor time summed over tasks, peak execution memory maxed —
    * the numbers that adjudicate a heavy query's movement (GC pressure
    * vs host weather vs a real plan change) from the artifact alone.
    */
  private final class MetricsListener extends SparkListener {
    val shufRead = new AtomicLong; val shufWrite = new AtomicLong
    val spillMem = new AtomicLong; val spillDisk = new AtomicLong
    val gcMs = new AtomicLong; val taskMs = new AtomicLong
    val peakMem = new AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
        gcMs.addAndGet(m.jvmGCTime)
        taskMs.addAndGet(m.executorRunTime)
        peakMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
        ()
      }
    }
    def snap(): Seq[Long] = Seq(shufRead.get, shufWrite.get,
      spillMem.get, spillDisk.get, gcMs.get, taskMs.get)
  }

  /** Minimal extractor for the previous artifact's "queries" block —
    * enough to compute cross-round ratios without a JSON dependency in
    * the hot path (the artifact is machine-written, single-line).
    */
  private def parseQueries(txt: String): Map[String, Double] = {
    val m = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt)
    m.map(_.group(1).split(",").flatMap { kv =>
      kv.split(":") match {
        case Array(k, v) =>
          try Some(k.trim.stripPrefix("\"").stripSuffix("\"")
            -> v.trim.toDouble)
          catch { case NonFatal(_) => None }
        case _ => None
      }
    }.toMap).getOrElse(Map.empty)
  }

  /** Contention analysis over the calibration series (round-14 verdict
    * task 2: the r13 artifact published three 3–7× phantom walls whose
    * evidence — a 0.12→0.74 s calibration spike — was already in-band,
    * but nothing consumed it).
    *
    * A sweep position's WINDOW RATIO is max(bracketing successful
    * calibration walls) / run cal_min: the calibration query's
    * intrinsic cost is constant, so a ratio ≫ 1 means the host was
    * contended somewhere in that segment. `cal` carries (pos, sec,
    * succeeded).
    */
  private[graft] def windowRatio(cal: Seq[(Int, Double, Boolean)],
      pos: Int, calMin: Double): Double = {
    val ok = cal.filter(_._3)
    if (ok.isEmpty || !(calMin > 0)) return 1.0
    val left = ok.filter(_._1 <= pos).map(_._2).lastOption
    val right = ok.find(_._1 >= pos).map(_._2)
    val vals = left.toSeq ++ right.toSeq
    if (vals.isEmpty) 1.0 else vals.max / calMin
  }

  /** Bracketing calibration walls read ≥ `ContentionThreshold` × the
    * run's cal_min ⇒ every measurement in that segment is suspect.
    */
  private[graft] val ContentionThreshold = 2.0

  /** CPU-probe contention threshold (round-15, verdict task 7): the IO
    * probe (a lineitem filter+count) undersenses pure CPU steal — r14
    * observed untouched CPU-heavy queries at 1.8–2.1× while the IO
    * probe read 1.05–1.5×. The CPU probe (a fixed 64M-row xxhash64
    * fold, no I/O) tracks available CPU directly and is much steadier
    * on a quiet host, so its contention bar sits lower. Windows are
    * adjudicated on EITHER probe via [[effectiveWindowRatio]], which
    * rescales the CPU ratio onto the IO threshold scale so
    * [[moverVerdict]]'s single-threshold contract (and its spec) stays
    * unchanged. Bar derived from measured distributions (round-15):
    * normal in-bench spread reads up to ~1.6 max/min (GC and cache
    * turnover from the surrounding queries ride the probe), while a
    * deliberately CPU-loaded window reads ≥2× — 1.8 separates the two
    * without over-flagging ordinary windows into
    * "unresolved_contention".
    */
  private[graft] val CpuContentionThreshold = 1.8

  /** One window ratio on the IO-threshold scale from the window's IO
    * and CPU calibration ratios: contended ⇔ io > [[ContentionThreshold]]
    * OR cpu > [[CpuContentionThreshold]].
    */
  private[graft] def effectiveWindowRatio(io: Double, cpu: Double): Double =
    math.max(io, cpu * ContentionThreshold / CpuContentionThreshold)

  /** Mover verdict given its post-retry ratio and the window ratios of
    * the segments its evidence came from. A regression only counts as
    * "persists" when at least ONE of its measurement windows was clean;
    * a mover whose every window overlapped a calibration outlier ships
    * as "unresolved_contention" — the automatic in-artifact note the
    * round-13 phantom walls (q44/q45/q125) lacked.
    */
  private[graft] def moverVerdict(finalRatio: Double,
      windowRatios: Seq[Double]): String =
    if (finalRatio <= 1.5) "weather"
    else if (windowRatios.isEmpty ||
      windowRatios.exists(_ <= ContentionThreshold)) "persists"
    else "unresolved_contention"

  /** Whether a query's previous and current walls are worth a ratio:
    * both at least 0.3 s (below that a ratio is mostly scheduler noise),
    * or apart by 0.5 s or more, so a sub-0.3 s query that jumps (q237's
    * 0.24 → 1.60 s) is still retried and listed as a mover.
    */
  private[graft] def comparableWalls(prev: Double, cur: Double): Boolean =
    math.min(prev, cur) >= 0.3 || math.abs(cur - prev) >= 0.5

  /** First-pass walls over 1.5× their previous wall, among comparable
    * walls: the queries the mover retry rounds re-time.
    */
  private[graft] def retryCandidates(prev: collection.Map[String, Double],
      firstPass: collection.Map[String, Double]): Seq[String] =
    firstPass.collect { case (k, v) if prev.get(k).exists(p =>
      comparableWalls(p, v) && v / p > 1.5) => k }.toSeq

  /** (query, prev, cur, cur/prev) for every query with comparable walls:
    * the population of the artifact's vs_prev median and movers.
    */
  private[graft] def comparableQueries(prev: collection.Map[String, Double],
      results: collection.Map[String, Double]): Seq[(String, Double, Double, Double)] =
    results.toSeq.collect {
      case (k, v) if prev.get(k).exists(p => comparableWalls(p, v)) =>
        (k, prev(k), v, v / prev(k))
    }

  /** Bytes the trailing compact line may take. Only the last 2000 bytes
    * of Bench stdout are kept by the harness that parses it, and sbt's
    * 73-byte `[success]` trailer, the line's `[info] ` prefix and its
    * newline share that window; 1900 leaves the line whole inside it.
    */
  private[graft] val CompactLineBytes = 1900

  /** The trailing COMPACT summary line: only the last 2000 bytes of
    * Bench stdout are kept, so the full per-query line (~18 KB at 297
    * queries) truncates unparseably. This line is printed as the LAST
    * stdout line and stays within [[CompactLineBytes]], so the tail
    * window contains one complete JSON object in the documented shape
    * (metric/value/unit/queries/sf): run total,
    * calibration anchors, and as many of the BIGGEST per-query walls as
    * fit (wall-descending, ms precision). The full per-query map remains
    * in stdout line 1 and in the bench_full.json artifact — nothing is
    * removed from either.
    */
  private[graft] def compactLine(results: Seq[(String, Double)],
      sfDir: String, method: String, calMin: Double, calMax: Double,
      cpuCalMin: Double): String = {
    val total = results.map(_._2).sum
    val head = s"""{"metric":"total","value":$total,"unit":"sec","queries":{"""
    def tail(n: Int) =
      s"""},"n_queries":${results.size},"n_in_line":$n,"sf":"$sfDir",""" +
        s""""method":"$method","cal_min":$calMin,"cal_max":$calMax,""" +
        s""""cpu_cal_min":$cpuCalMin,"compact":true,"full":"bench_full.json"}"""
    // tail(results.size) is the longest tail any n_in_line can produce
    val budget = CompactLineBytes - head.length - tail(results.size).length
    val sorted = results.sortBy { case (_, v) => -v }
    val sb = new StringBuilder
    var n = 0
    var done = false
    sorted.foreach { case (k, v) =>
      val ent = (if (n > 0) "," else "") + "\"" + k + "\":" +
        ((v * 1000).round / 1000.0)
      if (!done && sb.length + ent.length <= budget) {
        sb.append(ent); n += 1
      } else done = true
    }
    head + sb + tail(n)
  }

  /** The vs_prev baseline, in priority order: SPARK_GRAFT_BENCH_PREV
    * (a file path) if set, else the last COMMITTED bench_full.json via
    * `git show HEAD:bench_full.json`, else the working-dir file. The
    * git default is the round-9→10 lesson: a mid-round working-dir
    * artifact silently became the comparison base, so a real 218→230 s
    * cross-round movement shipped unadjudicated. An empty parse from an
    * existing source warns on stderr instead of silently degrading
    * vs_prev to null.
    */
  private def prevQueries(): (String, Option[String], Map[String, Double]) = {
    val sfRe = """"sf":"([^"]*)"""".r
    def read(src: String, txt: => Option[String]): Option[(String, Option[String], Map[String, Double])] =
      try txt.map { t =>
        val q = parseQueries(t)
        if (q.isEmpty)
          System.err.println(s"[bench] WARNING: vs_prev source $src " +
            "exists but parsed to an empty queries map — the regression " +
            "block will be degraded")
        (src, sfRe.findFirstMatchIn(t).map(_.group(1)), q)
      } catch { case NonFatal(_) => None }
    val fromEnv = sys.env.get("SPARK_GRAFT_BENCH_PREV").flatMap { p =>
      read(p, Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8")))
    }
    def fromGit = read("git:HEAD:bench_full.json", {
      val out = new java.io.ByteArrayOutputStream
      val pb = new ProcessBuilder("git", "show", "HEAD:bench_full.json")
      pb.redirectErrorStream(false)
      val proc = pb.start()
      val bytes = proc.getInputStream.readAllBytes()
      out.write(bytes)
      if (proc.waitFor() == 0 && bytes.nonEmpty)
        Some(new String(bytes, "UTF-8"))
      else None
    })
    def fromFile = read("bench_full.json", {
      val p = java.nio.file.Paths.get("bench_full.json")
      if (java.nio.file.Files.exists(p))
        Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      else None
    })
    fromEnv.orElse(fromGit).orElse(fromFile)
      .getOrElse(("none", None, Map.empty[String, Double]))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val ml = new MetricsListener
    spark.sparkContext.addSparkListener(ml)
    // previous committed quiet artifact, read BEFORE this run overwrites
    // it: the vs_prev block makes every >1.5x mover ship adjudicated
    // in-artifact instead of two rounds late by cross-round forensics.
    // A baseline from a DIFFERENT scale factor is not a regression
    // baseline (every query would read as a 3x "mover" and the retry
    // pass would re-time half the registry) — drop it with a warning.
    val (prevPath1, prevSf, prev1) = prevQueries()
    val (prevPath, prev) =
      if (prevSf.exists(_ != sfDir)) {
        System.err.println(s"[bench] vs_prev baseline $prevPath1 is at " +
          s"sf ${prevSf.get}, this run is at $sfDir — skipping the " +
          "regression block and the mover-retry pass")
        (s"$prevPath1 (sf mismatch, ignored)", Map.empty[String, Double])
      } else (prevPath1, prev1)
    // untimed warmup: session/codegen/parquet-footer startup otherwise
    // lands entirely on whichever query happens to run first
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
    // A FAILED try returns NEGATIVE elapsed (sign = failure flag) so a
    // crash can never publish a spuriously tiny duration: a retry that
    // dies in 50 ms must not lower the min of a query that legitimately
    // takes 5 s (round-12 ADVICE). goodMin below keeps the min over
    // SUCCESSFUL tries only, falling back to |elapsed| when every try
    // failed (something still gets published; the correctness gate is
    // what flags a genuinely broken query).
    def timeOnce(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      // operators that cache self-joined intermediates (dedup LSH) would
      // otherwise carry storage pressure into later measurements
      spark.sharedState.cacheManager.clearCache()
      graft.util.Caches.releaseAll()
      if (ok) dt else -dt
    }
    def goodMin(tries: Double*): Double = {
      val ok = tries.filter(_ >= 0)
      if (ok.nonEmpty) ok.min else tries.map(math.abs).min
    }
    // Fixed CALIBRATION query — the q02 shape (bare filter+project+count
    // on lineitem), re-timed every `calEvery` queries. Its intrinsic
    // cost is constant across the run, so any drift in its timeline IS
    // host contention, visible in-band: a round whose per-query numbers
    // moved can be adjudicated from the artifact alone instead of by
    // cross-round forensics.
    val calibrate: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => Tables.load(s, dir, "lineitem")
        .filter(org.apache.spark.sql.functions.col("l_quantity") < 10)
        .select("l_orderkey", "l_quantity")
    val calEvery = 20
    // (pos, |elapsed|, loadavg, succeeded) — timeOnce signs failures
    // negative, and a raw negative sample would corrupt cal_min (the
    // cross-round normalization anchor) silently (round-13 ADVICE):
    // store the magnitude plus an explicit flag, and let the summary
    // stats below consume successful samples only.
    val cal = scala.collection.mutable.ArrayBuffer[(Int, Double, String, Boolean)]()
    // CPU-bound calibration series (round-15, verdict task 7): a fixed
    // 64M-row xxhash64+sum over spark.range — pure codegen compute, no
    // input I/O — timed at every calibration point. Under CPU steal this
    // probe moves proportionally while the IO probe barely does; the
    // mover adjudication below consults BOTH series.
    val cpuCal = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    val cpuProbe: () => Double = () => {
      import org.apache.spark.sql.functions.{sum, pmod, xxhash64, col, lit}
      val t0 = System.nanoTime()
      // pmod bounds the summand so the 67M-term sum cannot overflow
      // Long under ANSI mode (raw xxhash64 values span the full range)
      spark.range(0L, 1L << 26, 1L, spark.sparkContext.defaultParallelism)
        .select(sum(pmod(xxhash64(col("id")), lit(1024L))))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    def calPoint(pos: Int): Unit = {
      val t = timeOnce(calibrate)
      cal += ((pos, math.abs(t), loadavg(), t >= 0))
      val c = try cpuProbe() catch { case NonFatal(_) => -1.0 }
      cpuCal += ((pos, c))
    }
    // unrecorded warmup of the calibration shape: JIT + codegen-cache
    // cold-start would otherwise inflate calibration[0], making the
    // timeline read as early contention on a quiet host
    timeOnce(calibrate)
    try cpuProbe() catch { case NonFatal(_) => () }
    calPoint(0)
    // optional comma-separated query filter for local spot measurement
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // min-of-2 for EVERY query, with BOTH tries retained in the file
    // artifact: the host this runs on freezes the whole VM for
    // multi-second windows under load, and a sub-second query hit by one
    // freeze otherwise reads as a 3x regression across rounds — the
    // minimum is the intrinsic cost, the try spread is the contention
    // evidence.
    val tries = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    val qpos = scala.collection.mutable.Map[String, Int]()
    // task-metric deltas measured around try 2 (warm, representative):
    // (shuf_read, shuf_write, spill_mem, spill_disk, gc_ms, task_ms,
    // peak_exec_mem) — bytes except the two _ms fields
    val telem = scala.collection.mutable.LinkedHashMap[String, Seq[Long]]()
    names.zipWithIndex.foreach { case ((name, fn), i) =>
      val t1 = timeOnce(fn)
      graft.util.Sessions.drainListenerBus(spark)
      val before = ml.snap(); ml.peakMem.set(0L)
      val t2 = timeOnce(fn)
      graft.util.Sessions.drainListenerBus(spark)
      val d = ml.snap().zip(before).map { case (a, b) => a - b }
      tries += name -> (t1, t2)
      qpos += name -> i
      telem += name -> (d :+ ml.peakMem.get)
      if ((i + 1) % calEvery == 0) calPoint(i + 1)
    }
    calPoint(names.size)
    val firstPass = tries.map { case (k, (a, b)) => k -> goodMin(a, b) }
    def calSeq = cal.toSeq.map(t => (t._1, t._2, t._4))
    def runCalMin = {
      val ok = cal.filter(_._4).map(_._2)
      if (ok.nonEmpty) ok.min else Double.NaN
    }
    // SELF-ADJUDICATING MOVERS (round 12, contention-aware since round
    // 14): any query whose min-of-2 regressed >1.5x vs the previous
    // committed run is re-timed after the sweep. Round 14 closes the
    // hole the r13 phantom walls (q44/q45/q125) exposed — both sweep
    // tries AND the single retry can sit inside one host-contention
    // window, publishing a 3–7x wall on untouched code. Now every
    // retry ROUND is bracketed by calibration points; a mover that
    // still reads >1.5x is re-timed again (up to MaxRetryRounds) while
    // every window its evidence came from was contended, and the mover
    // block records each window's calibration ratio plus a verdict —
    // "persists" requires at least one CLEAN measurement window, else
    // the artifact says "unresolved_contention" in-band.
    val MaxRetryRounds = 3
    val retries = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    // per retry round: (calPos before, calPos after) — its window
    val roundBrackets = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    def currentMin(k: String): Double =
      goodMin((firstPass(k) :: retries.getOrElse(k, Nil)): _*)
    def cpuSeq = cpuCal.toSeq.map(t => (t._1, t._2, t._2 > 0))
    def runCpuMin = {
      val ok = cpuCal.filter(_._2 > 0).map(_._2)
      if (ok.nonEmpty) ok.min else Double.NaN
    }
    // per-position ratios on each probe, and the combined effective
    // ratio the verdicts consume (contended ⇔ either probe over bar)
    def ioWindow(pos: Int): Double = windowRatio(calSeq, pos, runCalMin)
    def cpuWindow(pos: Int): Double = windowRatio(cpuSeq, pos, runCpuMin)
    def sweepWindow(k: String): Double =
      effectiveWindowRatio(ioWindow(qpos(k)), cpuWindow(qpos(k)))
    def retryWindows(k: String): Seq[Double] =
      roundBrackets.take(retries.getOrElse(k, Nil).length).map {
        case (a, b) =>
          math.max(effectiveWindowRatio(ioWindow(a), cpuWindow(a)),
            effectiveWindowRatio(ioWindow(b), cpuWindow(b)))
      }.toSeq
    var round = 0
    var candidates = retryCandidates(prev, firstPass)
    while (round < MaxRetryRounds && candidates.nonEmpty) {
      val posBefore = cal.last._1
      candidates.foreach { k =>
        retries(k) = retries.getOrElse(k, Nil) :+
          timeOnce(SparkEntry.queries(k))
      }
      val posAfter = names.size + round + 1
      calPoint(posAfter)
      roundBrackets += ((posBefore, posAfter))
      round += 1
      // next round: still >1.5x AND no clean window has measured it yet
      candidates = candidates.filter { k =>
        prev.get(k).exists(p => currentMin(k) / p > 1.5) &&
          (sweepWindow(k) +: retryWindows(k))
            .forall(_ > ContentionThreshold)
      }
    }
    val results = firstPass.map { case (k, v) =>
      k -> goodMin((v :: retries.getOrElse(k, Nil)): _*) }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // "method" records the timing protocol so cross-round comparisons stay
    // apples-to-apples: min-of-2 since round 4 (rounds 1-3 were single-run,
    // so their numbers include scheduler noise this protocol excludes)
    val calJson = cal.map { case (p, t, la, ok) =>
      s"""{"pos":$p,"sec":$t,"load":$la,"ok":$ok}""" }.mkString("[", ",", "]")
    // cal_min/cal_max over SUCCESSFUL calibration tries only — a failed
    // try's wall is crash timing, not host speed (fallback to all
    // magnitudes only if every try failed, so the fields still exist)
    val calTimes = {
      val ok = cal.filter(_._4).map(_._2)
      if (ok.nonEmpty) ok else cal.map(_._2)
    }
    val cpuOk = cpuCal.filter(_._2 > 0).map(_._2)
    val calSummary =
      s""""cal_min":${calTimes.min},"cal_max":${calTimes.max}""" + (
        if (cpuOk.nonEmpty)
          s""","cpu_cal_min":${cpuOk.min},"cpu_cal_max":${cpuOk.max}"""
        else "")
    val method = "min_of_2+mover_retry+cal_adjudication"
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","method":"$method",$calSummary}"""
    println(line)
    // The driver's BENCH artifact keeps only the tail of stdout, which
    // truncates the per-query map once there are 200+ queries — also
    // persist the full line PLUS the adjudication telemetry (per-try
    // times, calibration timeline, loadavg samples, task metrics for the
    // heavy tail, ratios vs the previous committed run) to a file so
    // every number and its context survive the round.
    val triesJson = tries.map { case (k, (a, b)) =>
      s"\"" + k + s"\":[$a,$b]" }.mkString("{", ",", "}")
    // telemetry for the heavy tail only (>=0.5s) plus anything that
    // spilled — sub-half-second queries carry no adjudication value
    val mb = 1048576L
    val telemJson = telem.filter { case (k, d) =>
      results.getOrElse(k, 0.0) >= 0.5 || d(2) > 0 || d(3) > 0
    }.map { case (k, d) =>
      s"\"" + k + "\":" +
        s"""{"shuf_read_mb":${d(0) / mb},"shuf_write_mb":${d(1) / mb},""" +
        s""""spill_mem_mb":${d(2) / mb},"spill_disk_mb":${d(3) / mb},""" +
        s""""gc_ms":${d(4)},"task_ms":${d(5)},""" +
        s""""peak_exec_mem_mb":${d(6) / mb}}"""
    }.mkString("{", ",", "}")
    // vs_prev: per-query ratio against the previous committed quiet run,
    // movers (>1.5x either way among comparableWalls) listed in-artifact;
    // "common_ge_300ms" keeps its name but counts comparableQueries
    val comparable = comparableQueries(prev, results)
    val vsPrev = if (comparable.isEmpty) "null" else {
      val ratios = comparable.map(_._4).sorted
      val med = ratios(ratios.size / 2)
      val movers = comparable
        .filter { case (k, _, _, r) =>
          r > 1.5 || r < 1.0 / 1.5 || retries.contains(k) }
        .sortBy { case (_, _, _, r) => -r }
        .map { case (k, p, c, r) =>
          // every mover carries its sweep segment's IO and CPU
          // calibration ratios; retried movers additionally carry each
          // retry round's wall, each window's combined ratio, and the
          // contention-aware verdict (windows adjudicated on the
          // effective ratio — either probe over its bar)
          val swIo = (ioWindow(qpos(k)) * 1000).round / 1000.0
          val swCpu = (cpuWindow(qpos(k)) * 1000).round / 1000.0
          val adj = retries.get(k).map { rts =>
            val ws = retryWindows(k)
            val verdict = moverVerdict(c / p, sweepWindow(k) +: ws)
            val wsJson = ws.map(x => (x * 1000).round / 1000.0)
              .mkString("[", ",", "]")
            s""","retry_s":${rts.mkString("[", ",", "]")},""" +
              s""""retry_cal_ratios":$wsJson,"adjudication":"$verdict""""
          }.getOrElse("")
          s"""{"q":"$k","prev":$p,"cur":$c,""" +
            s""""ratio":${(r * 1000).round / 1000.0},""" +
            s""""sweep_cal_ratio":$swIo,"sweep_cpu_ratio":$swCpu$adj}""" }
        .mkString("[", ",", "]")
      val prevTotal = prev.values.sum
      s"""{"prev_file":"$prevPath","prev_total":$prevTotal,""" +
        s""""common_ge_300ms":${comparable.size},""" +
        s""""median_ratio":${(med * 1000).round / 1000.0},""" +
        s""""movers":$movers}"""
    }
    // free-text adjudication notes ride into the artifact so a mover's
    // verdict lives next to its numbers (round-13: the q177 class —
    // movement with zero code delta needs its evidence in-band)
    val notes = sys.env.get("SPARK_GRAFT_BENCH_NOTES")
      .map(n => "\"" + n.flatMap {
        case '\\' => "\\\\"
        case '"' => "\\\""
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => "\\u%04x".format(c.toInt)
        case c => c.toString
      } + "\"")
      .getOrElse("null")
    val cpuCalJson = cpuCal.map { case (p, t) =>
      s"""{"pos":$p,"sec":$t}""" }.mkString("[", ",", "]")
    val full = line.dropRight(1) +
      s""","tries":$triesJson,"calibration":$calJson""" +
      s""","cpu_calibration":$cpuCalJson""" +
      s""","telemetry":$telemJson,"vs_prev":$vsPrev,"notes":$notes}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_full.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (full + "\n").getBytes("UTF-8"))
    } catch { case NonFatal(_) => () } // stdout line remains the contract
    // trailing compact summary — MUST be the last stdout line (the
    // driver's tail capture; see compactLine's scaladoc)
    println(compactLine(results.toSeq, sfDir, method,
      calTimes.min, calTimes.max,
      if (cpuOk.nonEmpty) cpuOk.min else -1.0))
    spark.stop()
  }
}

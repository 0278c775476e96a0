package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, DoubleAdder}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call into a layer. `trace` is the op that caused it. */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
    startNs: Long, endNs: Long)

/** Spans and counters recorded around calls into the program's modules.
  *
  * Spans are kept in memory and written when the run ends. When tracing
  * is off, [[span]] runs its body and records nothing, and no listener is
  * installed, so the untraced run measures the program alone.
  */
final class Tracer(val on: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  @volatile var trace: Int = 0
  /** Trace id of the first op in the timed window; counters skip earlier ones. */
  @volatile var timedFrom: Int = Int.MaxValue
  var sc: Option[SparkContext] = None

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      // jobs submitted inside the call (and by threads it starts) carry
      // the span as their job group, so the listener can attribute them
      val prevGroup = sc.flatMap(c => Option(c.getLocalProperty("spark.jobGroup.id")))
      sc.foreach(_.setJobGroup(s"pb-$trace-$id-$name", name))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        sc.foreach { c =>
          c.clearJobGroup()
          prevGroup.foreach(g => c.setLocalProperty("spark.jobGroup.id", g))
        }
        synchronized { spans += Span(id, parent, trace, name, t0, t1) }
      }
    }

  /** Adds to a counter; ops before the timed window are left out. */
  def count(name: String, v: Double): Unit =
    if (on && math.abs(trace) >= timedFrom) counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  def counter(name: String): Double =
    Option(counters.get(name)).map(_.sum).getOrElse(0.0)

  def all: Seq[Span] = synchronized(spans.toSeq)
}

/** Spark task and job totals for one op (one trace id). */
final class SparkTotals {
  val jobs = new DoubleAdder; val stages = new DoubleAdder; val tasks = new DoubleAdder
  val schedulerDelayS = new DoubleAdder; val taskRunS = new DoubleAdder
  val taskCpuS = new DoubleAdder; val shuffleReadMb = new DoubleAdder
  val shuffleWriteMb = new DoubleAdder; val spillMb = new DoubleAdder
  val gcS = new DoubleAdder; val inputMb = new DoubleAdder
  val outputMb = new DoubleAdder; val failedTasks = new DoubleAdder
  /** (start ms, end ms) of every job, for the time the driver ran alone. */
  val jobSpans = ArrayBuffer.empty[(Long, Long)]

  def asMap: Map[String, Double] = Map(
    "spark.jobs" -> jobs.sum, "spark.stages" -> stages.sum, "spark.tasks" -> tasks.sum,
    "spark.scheduler_delay_s" -> schedulerDelayS.sum, "spark.task_run_s" -> taskRunS.sum,
    "spark.task_cpu_s" -> taskCpuS.sum, "spark.shuffle_read_mb" -> shuffleReadMb.sum,
    "spark.shuffle_write_mb" -> shuffleWriteMb.sum, "spark.spill_mb" -> spillMb.sum,
    "spark.gc_s" -> gcS.sum, "spark.input_mb" -> inputMb.sum,
    "spark.output_mb" -> outputMb.sum, "spark.failed_tasks" -> failedTasks.sum)
}

/** The engine layer, observed from outside: a listener that files every
  * job, stage and task under the op whose span submitted it. The trace id
  * is the second field of the job group the [[Tracer]] sets; jobs whose
  * group the program replaced (a streaming query sets its own) go to the
  * op that was running, since the client runs one op at a time. */
final class SparkLayer(current: () => Int) extends SparkListener {
  private val byTrace = new ConcurrentHashMap[Int, SparkTotals]()
  private val stageTrace = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()
  private val mb = 1024.0 * 1024.0

  def totals(trace: Int): SparkTotals =
    byTrace.computeIfAbsent(trace, _ => new SparkTotals)

  private def traceOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-")).map(_.split("-")(1).toInt)
      .getOrElse(current())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t = traceOf(e.properties)
    totals(t).jobs.add(1)
    e.stageIds.foreach(s => stageTrace.put(s, t))
    jobStart.put(e.jobId, (t, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t, start) =>
      val tot = totals(t)
      tot.synchronized { tot.jobSpans += ((start, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageTrace.get(e.stageInfo.stageId)).foreach(t => totals(t).stages.add(1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTrace.get(e.stageId)).foreach { t =>
      val tot = totals(t)
      tot.tasks.add(1)
      if (e.reason != Success) tot.failedTasks.add(1)
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        val accounted = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + info.gettingResultTime
        tot.schedulerDelayS.add(math.max(0L, info.duration - accounted) / 1e3)
        tot.taskRunS.add(m.executorRunTime / 1e3)
        tot.taskCpuS.add(m.executorCpuTime / 1e9)
        tot.shuffleReadMb.add(m.shuffleReadMetrics.totalBytesRead / mb)
        tot.shuffleWriteMb.add(m.shuffleWriteMetrics.bytesWritten / mb)
        tot.spillMb.add(m.diskBytesSpilled / mb)
        tot.gcS.add(m.jvmGCTime / 1e3)
        tot.inputMb.add(m.inputMetrics.bytesRead / mb)
        tot.outputMb.add(m.outputMetrics.bytesWritten / mb)
      }
    }

  /** Wall time of [t0, t1] (ms) during which no job of `trace` ran. */
  def driverGapS(trace: Int, t0Ms: Long, t1Ms: Long): Double = {
    val iv = totals(trace).synchronized(totals(trace).jobSpans.toSeq)
      .map { case (s, e) => (math.max(s, t0Ms), math.min(e, t1Ms)) }
    var covered = 0L; var curS = 0L; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE != Long.MinValue) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE != Long.MinValue) covered += curE - curS
    math.max(0L, (t1Ms - t0Ms) - covered) / 1e3
  }
}

object SparkLayer {
  /** Waits until the listener bus has delivered every event posted so far,
    * so an op's totals are complete before they are read. The method is
    * package-private in Spark but public in bytecode. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }
}

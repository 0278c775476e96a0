package perfbench

import java.nio.file.Paths
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** One op is one registry query with its result fully collected, the way
  * an ad-hoc observability query is read. The mix (ids, family and order)
  * comes from run.py; the check compares a fingerprint of the collected
  * rows with the one recorded in pool.json.
  */
final class QueryMix(cfg: Map[String, Any], tr: Tracer) extends Workload {
  private val dir = s"${cfg("input")}/tables"
  private val mix = Main.json.readValue(Paths.get(s"${cfg("input")}/mix.json").toFile,
    classOf[Seq[Map[String, Any]]]).toIndexedSeq

  /** The cold unit is the first pass over the mix; the window times the
    * passes after it. */
  override def coldOps: Int = mix.size
  override def passOps: Int = mix.size

  private def query(i: Int): Map[String, Any] = mix(i % mix.size)
  private var registry: Map[String, (SparkSession, String) => DataFrame] = Map.empty
  /** pool.py sets this so one runaway query cannot stall a capture pass. */
  private val timeoutS = cfg.get("query_timeout_s").map(_.toString.toDouble)
  private val familyS = scala.collection.mutable.Map.empty[String, (Double, Int)]

  def open(spark: SparkSession): Unit = {
    registry = SparkEntry.queries
    graft.Tables.all.foreach(t => graft.Tables.load(spark, dir, t).schema)
  }

  def prepare(spark: SparkSession, i: Int): Boolean = true

  def run(spark: SparkSession, i: Int): Map[String, Any] = {
    val q = query(i)
    val id = q("id").toString
    val family = q("family").toString
    val t0 = System.nanoTime()
    val watchdog = timeoutS.map { s =>
      val t = new java.util.Timer(true)
      t.schedule(new java.util.TimerTask {
        def run(): Unit = spark.sparkContext.cancelAllJobs()
      }, (s * 1000).toLong)
      t
    }
    val (df, rows) = try tr.span(s"operators.$family") {
      val df = tr.span("sparkentry.build")(registry(id)(spark, dir))
      if (tr.on) tr.span("sparkentry.plan")(df.queryExecution.executedPlan)
      (df, tr.span("sparkentry.collect")(df.collect()))
    } finally watchdog.foreach(_.cancel())
    if (tr.on && math.abs(tr.trace) >= tr.timedFrom) {
      val (s, n) = familyS.getOrElse(family, (0.0, 0))
      familyS(family) = (s + (System.nanoTime() - t0) / 1e9, n + 1)
      tr.count("sparkentry.result_rows", rows.length)
    }
    Map("id" -> id, "rows" -> rows, "columns" -> df.columns.toSeq)
  }

  def check(spark: SparkSession, i: Int, out: Map[String, Any]): (Seq[String], Map[String, Any]) = {
    val q = query(i)
    val got = QueryMix.fingerprint(out("columns").asInstanceOf[Seq[String]],
      out("rows").asInstanceOf[Array[Row]])
    val want = q("fingerprint").toString
    (if (got == want) Nil else Seq(s"${q("id")} fingerprint $got expected $want"),
      Map("id" -> q("id"), "fingerprint" -> got))
  }

  override def layerMetrics(spark: SparkSession, ops: Int): Map[String, Double] =
    Map("sparkentry.result_rows" -> tr.counter("sparkentry.result_rows") / math.max(1, ops)) ++
      familyS.map { case (f, (s, n)) => s"operators.$f.query_s" -> s / n }
}

object QueryMix {
  /** Order-free digest of a result: columns sorted by name, each row
    * rendered with its values in that order, rows sorted, SHA-256. */
  def fingerprint(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    def show(v: Any): String = v match {
      case null => "null"
      case r: Row => r.toSeq.map(show).mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => s"${show(k)}:${show(x)}" }.sorted.mkString("<", ",", ">")
      case a: Array[Byte] => a.map("%02x".format(_)).mkString
      case d: Double => java.lang.Double.toString(d)
      case f: Float => java.lang.Float.toString(f)
      case x => x.toString
    }
    val lines = rows.map(r => order.map(j => show(r.get(j))).mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(columns.sorted.mkString(",").getBytes("UTF-8"))
    lines.foreach(l => md.update(("\n" + l).getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import graft.catalog.CatalogMonitor

/** Round-10 part four: the parquet-footer row-count fast path.
  * SURVEY §4.2's metadata-only option for plain counts, now real:
  * `tableRowCounts` answers from direct footer sums instead of one count
  * job per table. The spec pins (a) value equality with
  * `Tables.load(…).count()` per table — so the q18 oracle hash is
  * path-independent — and (b) that the footer path performs ZERO
  * file-input IO on the executors: no task reads a byte or a record
  * from any data file.
  */
class Round10dSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** The reference relation: one count job per table. */
  private def countJobs(): Seq[(String, Long)] =
    Tables.all.sorted.map(t => t -> Tables.load(spark, sf, t).count())

  private def footerCounts(): Seq[(String, Long)] =
    CatalogMonitor.tableRowCounts(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq

  /** (input bytes, input records, tasks) across all tasks in `body`. */
  private def taskInput(body: => Unit): (Long, Long, Long) = {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val recs = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          bytes.addAndGet(m.inputMetrics.bytesRead)
          recs.addAndGet(m.inputMetrics.recordsRead)
          tasks.incrementAndGet()
          ()
        }
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; TestSpark.drainListenerBus() }
    finally spark.sparkContext.removeSparkListener(l)
    (bytes.get, recs.get, tasks.get)
  }

  test("footer path returns exactly the count-job path's relation") {
    val jobs = countJobs()
    val footers = footerCounts()
    assert(jobs.nonEmpty && footers === jobs, s"jobs=$jobs footers=$footers")
  }

  test("footer path reads zero data bytes and zero records on the " +
    "executors (metadata-only, q18 shape)") {
    var rows: Long = 0L
    val (bytes, recs, _) = taskInput {
      rows = CatalogMonitor.tableRowCounts(spark, sf).collect().length.toLong
    }
    assert(rows === Tables.all.size.toLong)
    assert(bytes === 0L && recs === 0L,
      s"footer path must not scan: bytesRead=$bytes recordsRead=$recs")
  }

  test("count-job control: the forced-jobs path DOES schedule scan " +
    "tasks (the contrast that makes the zero-IO assertion meaningful)") {
    val (_, _, tasks) = taskInput { countJobs() }
    assert(tasks > 0L, "expected at least one task on the count-job path")
  }

  test("footer path is the DEFAULT: flag unset performs zero executor " +
    "file IO and matches the forced-jobs relation") {
    var rel: Seq[(String, Long)] = Nil
    val (bytes, recs, _) = taskInput { rel = footerCounts() }
    assert(bytes === 0L && recs === 0L,
      s"default path must be metadata-only: bytes=$bytes recs=$recs")
    assert(rel === countJobs())
  }

  test("footer path sees Spark's file set on a PARTITIONED layout: " +
    "recursive key=value subdirs counted, hidden staging files skipped") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Files.createTempDirectory("graft-footer").toFile
    tmp.deleteOnExit()
    val root = s"${tmp.getAbsolutePath}/t.parquet"
    import spark.implicits._
    (0L until 100L).map(i => (i, i % 3)).toDF("id", "k")
      .write.partitionBy("k").parquet(root)
    // plant an in-progress staging COPY of a real part file: if the
    // footer path counted it, the count would visibly double one
    // partition (Spark's file index ignores '.'/'_' segments)
    val aPart = Files.walk(Paths.get(root)).filter(p =>
      p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .findFirst().get()
    Files.copy(aPart, Paths.get(root, "._part-staging.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.copy(aPart, Paths.get(root, ".hidden-dir-stand-in.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val footer = CatalogMonitor.footerRowCount(spark, root)
    val viaSpark = spark.read.parquet(root).count()
    assert(viaSpark === 100L)
    assert(footer === Some(viaSpark),
      s"footer=$footer must equal Spark's own file-index count $viaSpark")
  }

  test("fallback edge: a relation with NO visible .parquet files " +
    "(extensionless part files) answers via a count job, not 0") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Files.createTempDirectory("graft-fallback").toFile
    tmp.deleteOnExit()
    val staged = s"${tmp.getAbsolutePath}/staged"
    import spark.implicits._
    (0L until 57L).toDF("id").write.parquet(staged)
    val root = Paths.get(tmp.getAbsolutePath, "t.parquet")
    Files.createDirectories(root)
    // parquet DATA, extensionless NAMES — Spark reads them fine, the
    // footer lister (by design) does not claim to know they're parquet
    var i = 0
    Files.walk(Paths.get(staged)).filter(p =>
      p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .forEach { p =>
        Files.copy(p, root.resolve(s"part-$i"),
          StandardCopyOption.REPLACE_EXISTING)
        i += 1
      }
    assert(CatalogMonitor.footerRowCount(spark, root.toString) === None,
      "no visible .parquet files must mean None (fall back), never Some(0)")
    val rel = CatalogMonitor.tableRowCounts(
      spark, tmp.getAbsolutePath, Seq("t")).collect()
    assert(rel.map(r => r.getString(0) -> r.getLong(1)).toSeq ===
      Seq("t" -> 57L))
  }
}

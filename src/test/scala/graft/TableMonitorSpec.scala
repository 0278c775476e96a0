package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{MetricSink, ProfileConfig, Profiler}
import graft.run.Monitors
import graft.state.{ChangeDetection, StateStore}

/** `Monitors.tableMonitor` computes its profile with
  * `Profiler.monitorProfile` (one fused aggregate plus a median census),
  * its schema drift on the driver and its state from the store's
  * in-memory snapshot. These specs pin every emitted key and value to the
  * standalone `nullCounts` + `numericProfile` + `schemaDrift` functions,
  * over a table with nulls in every column, NaN and ±Inf doubles, an
  * all-null numeric column and a non-numeric column, and bound the Spark
  * jobs of one warm call.
  */
class TableMonitorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType.fromDDL(
    "id int, x double, z double, q long, f float, d decimal(10,2), " +
      "allnull double, s string")

  private def rows(n: Int): Seq[Row] = (0 until n).map { i =>
    def nul[T](every: Int, v: => T): Any = if (i % every == 0) null else v
    Row(
      nul(17, i),
      if (i % 23 == 1) Double.NaN else if (i == 5) Double.PositiveInfinity
      else if (i == 9) Double.NegativeInfinity else nul(19, (i % 13) * 1.25),
      if (i % 29 == 2) Double.NaN else nul(7, (i * 37 % 101) / 3.0),
      nul(11, (i * 7919L) % 1000L),
      if (i % 31 == 3) Float.NaN else nul(13, (i % 9).toFloat / 4),
      nul(5, new java.math.BigDecimal(BigInt(i * 131 % 997).bigInteger, 2)),
      null,
      nul(3, s"w${i % 4}"))
  }

  /** Writes `data` as a two-file parquet table `t` under a fresh lake
    * directory (two files, so the scan has two partitions).
    */
  private def lake(data: Seq[Row]): String = {
    val dir = Files.createTempDirectory("graft-tm-lake").toString
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
      .repartition(2).write.parquet(Tables.path(dir, "t"))
    dir
  }

  /** (key, value) of every sink point, NaN-safe and order-free. */
  private def points(sink: MetricSink): Seq[(String, String)] =
    sink.toDf(spark).collect().toSeq.map { r =>
      r.getAs[String]("key") ->
        Option(r.get(r.fieldIndex("valueDouble"))).getOrElse(r.getAs[String]("valueString"))
          .toString
    }.sorted

  /** The metric points of one table-monitor run, rebuilt from the
    * standalone profiler and drift functions.
    */
  private def expected(df: DataFrame, sampleFraction: Double,
      prevCount: Option[Long], prevCols: Option[Seq[String]],
      cfg: ProfileConfig = ProfileConfig()): Seq[(String, String)] = {
    val b = ArrayBuffer.empty[(String, Any)]
    val n = df.count()
    b += "t.record_count" -> n.toDouble
    b += "t.duplicate_count" -> Profiler.duplicateStats(df, df.columns.toSeq)
      .collect().head.getAs[Long]("duplicate_count").toDouble
    df.schema.fields.foreach(f => b += s"t.schema.${f.name}" -> f.dataType.simpleString)
    val nulls = Profiler.nullCounts(df).collect().head
    df.columns.zipWithIndex.foreach { case (c, i) =>
      // a global sum over no rows is NULL: no missing values
      b += s"t.null_count.$c" -> (if (nulls.isNullAt(i)) 0.0 else nulls.getLong(i).toDouble)
    }
    val sampled = if (sampleFraction >= 1.0) df
      else df.sample(withReplacement = false, sampleFraction, seed = 42)
    Profiler.numericProfile(sampled, cfg).collect().foreach { r =>
      if (!r.isNullAt(2) && Profiler.monitorMetrics.contains(r.getString(1)))
        b += s"t.${r.getString(0)}.${r.getString(1)}" -> r.getDouble(2)
    }
    prevCount.foreach(p => b += "t.record_delta" -> (n - p).toDouble)
    prevCols.foreach { pc =>
      val drift = ChangeDetection.schemaDrift(pc, df.columns.toSeq, spark).collect()
      b += "t.columns_changed" -> (if (drift.nonEmpty) 1.0 else 0.0)
      drift.foreach(r => b += s"t.column_${r.getString(0)}" -> r.getString(1))
    }
    b.toSeq.map { case (k, v) => k -> v.toString }.sorted
  }

  for ((variant, data) <- Seq("multi-row" -> rows(300),
         "single-row" -> rows(300).slice(40, 41), "empty" -> Nil);
       fraction <- Seq(1.0, 0.5))
    test(s"tableMonitor metrics equal the standalone profile: $variant table, " +
      s"sampleFraction $fraction") {
      val dir = lake(data)
      val df = Tables.load(spark, dir, "t")
      val state = new StateStore(Files.createTempDirectory("graft-tm-state").toString + "/s")
      // first run: no previous state
      val first = MetricSink("first")
      Monitors.tableMonitor(spark, dir, "t", first, state, sampleFraction = fraction)
      assert(points(first) == expected(df, fraction, None, None))
      // second run against a previous snapshot with other columns
      state.putAll(spark, Seq(("t", "record_count", "7"),
        ("t", "columns", "id,x,gone,s")))
      val second = MetricSink("second")
      Monitors.tableMonitor(spark, dir, "t", second, state, sampleFraction = fraction)
      val exp = expected(df, fraction, Some(7L), Some(Seq("id", "x", "gone", "s")))
      assert(points(second) == exp)
      assert(exp.contains("t.column_removed" -> "gone"))
      assert(exp.contains("t.column_added" -> "allnull"))
      if (data.size > 1) {
        assert(exp.exists { case (k, v) => k == "t.x.max" && v == "Infinity" })
        assert(exp.exists { case (k, _) => k == "t.z.median" })
        assert(!exp.exists { case (k, _) => k.startsWith("t.allnull.") })
        assert(!exp.exists { case (k, _) => k.startsWith("t.s.") && !k.contains("null") })
      }
    }

  for (fraction <- Seq(1.0, 0.5))
    test(s"tableMonitor in approx mode keeps numericProfile's sketch median: " +
      s"sampleFraction $fraction") {
      val dir = lake(rows(300))
      val cfg = ProfileConfig(exact = false)
      val state = new StateStore(Files.createTempDirectory("graft-tm-state").toString + "/s")
      val sink = MetricSink("approx")
      Monitors.tableMonitor(spark, dir, "t", sink, state, sampleFraction = fraction, cfg = cfg)
      val exp = expected(Tables.load(spark, dir, "t"), fraction, None, None, cfg)
      assert(points(sink) == exp)
      assert(exp.exists { case (k, _) => k == "t.q.median" })
    }

  test("one warm tableMonitor call runs at most 14 Spark jobs") {
    val dir = lake(rows(300))
    val state = new StateStore(Files.createTempDirectory("graft-tm-state").toString + "/s")
    Monitors.tableMonitor(spark, dir, "t", MetricSink("cold"), state)
    val jobs = TestSpark.jobsDuring(
      Monitors.tableMonitor(spark, dir, "t", MetricSink("warm"), state))
    info(s"$jobs Spark jobs")
    assert(jobs > 0)
    assert(jobs <= 14, s"$jobs jobs")
  }
}

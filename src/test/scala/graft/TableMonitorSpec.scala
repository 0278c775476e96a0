package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{MetricSink, ProfileConfig, Profiler}
import graft.run.Monitors
import graft.state.{ChangeDetection, StateStore}
import graft.util.TempDirs.withTempDir

import TestSpark._

/** `Monitors.tableMonitor` computes its profile with
  * `Profiler.monitorProfile` (one fused aggregate, duplicate count
  * included, alongside a median census),
  * its schema drift on the driver and its state from the store's
  * in-memory snapshot. These specs pin every emitted key and value to the
  * standalone `nullCounts` + `numericProfile` + `schemaDrift` functions,
  * over a table with nulls in every column, NaN and ±Inf doubles, an
  * all-null numeric column and a non-numeric column, and bound the Spark
  * jobs of one warm call.
  */
class TableMonitorSpec extends AnyFunSuite {
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

  /** Writes `data` as a two-file parquet table `t` under the lake
    * directory `dir` (two files, so the scan has two partitions).
    */
  private def lake(dir: String, data: Seq[Row]): Unit =
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
      .repartition(2).write.parquet(Tables.path(dir, "t"))

  /** The visible part files of table `t` under `dir`. */
  private def partFiles(dir: String): Seq[java.io.File] =
    new java.io.File(Tables.path(dir, "t")).listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  /** Every sink point with doubles as raw bits: bit-exact, order-free. */
  private def bits(sink: MetricSink): Seq[(String, Either[Long, String])] =
    sink.toDf(spark).collect().toSeq.map { r =>
      r.getAs[String]("key") -> Option(r.get(r.fieldIndex("valueDouble")))
        .map(d => Left(java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double])))
        .getOrElse(Right(r.getAs[String]("valueString")))
    }.sortBy(_._1)

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
      withTempDir("graft-tm-lake") { dir =>
        lake(dir, data)
        val df = Tables.load(spark, dir, "t")
        withTempDir("graft-tm-state") { tmp =>
          val state = new StateStore(tmp + "/s")
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
      }
    }

  for (fraction <- Seq(1.0, 0.5))
    test(s"tableMonitor in approx mode keeps numericProfile's sketch median: " +
      s"sampleFraction $fraction") {
      withTempDir("graft-tm-lake") { dir =>
        lake(dir, rows(300))
        val cfg = ProfileConfig(exact = false)
        withTempDir("graft-tm-state") { tmp =>
          val state = new StateStore(tmp + "/s")
          val sink = MetricSink("approx")
          Monitors.tableMonitor(spark, dir, "t", sink, state, sampleFraction = fraction, cfg = cfg)
          val exp = expected(Tables.load(spark, dir, "t"), fraction, None, None, cfg)
          assert(points(sink) == exp)
          assert(exp.exists { case (k, _) => k == "t.q.median" })
        }
      }
    }

  test("one warm tableMonitor call runs at most 9 Spark jobs") {
    withTempDir("graft-tm-lake") { dir =>
      lake(dir, rows(300))
      withTempDir("graft-tm-state") { tmp =>
        val state = new StateStore(tmp + "/s")
        Monitors.tableMonitor(spark, dir, "t", MetricSink("cold"), state)
        // a new modification time: the warm call profiles, not replays
        assert(partFiles(dir).head.setLastModified(System.currentTimeMillis() + 5000))
        val jobs = TestSpark.jobsDuring(
          Monitors.tableMonitor(spark, dir, "t", MetricSink("warm"), state))
        info(s"$jobs Spark jobs")
        assert(jobs > 0)
        assert(jobs <= 9, s"$jobs jobs")
      }
    }
  }

  test("a warm call on an unchanged table replays its points and runs no Spark job") {
    withTempDir("graft-tm-lake") { dir =>
      lake(dir, rows(300))
      withTempDir("graft-tm-state") { tmp =>
        val state = new StateStore(tmp + "/s")
        val cold = MetricSink("cold")
        assert(Monitors.tableMonitor(spark, dir, "t", cold, state))
        val warm = MetricSink("warm")
        var profiled = true
        val jobs = TestSpark.jobsDuring {
          profiled = Monitors.tableMonitor(spark, dir, "t", warm, state)
        }
        assert(!profiled)
        assert(jobs == 0, s"$jobs jobs")
        // the replayed points plus delta and drift against the stored state
        assert(bits(warm) == (bits(cold) ++ Seq("t.record_delta" -> Left(0L),
          "t.columns_changed" -> Left(0L))).sortBy(_._1))
      }
    }
  }

  test("an appended file, a touched file, a column-changing rewrite, another " +
    "sampleFraction and another ProfileConfig each re-profile") {
    withTempDir("graft-tm-lake") { dir =>
      lake(dir, rows(300))
      withTempDir("graft-tm-state") { tmp =>
        val state = new StateStore(tmp + "/s")
        def monitor(fraction: Double = 1.0, cfg: ProfileConfig = ProfileConfig()): Boolean =
          Monitors.tableMonitor(spark, dir, "t", MetricSink("m"), state, fraction, cfg)
        assert(monitor())
        assert(!monitor())
        spark.createDataFrame(java.util.Arrays.asList(rows(20): _*), schema)
          .coalesce(1).write.mode("append").parquet(Tables.path(dir, "t"))
        assert(monitor(), "appended file")
        assert(!monitor())
        assert(partFiles(dir).head.setLastModified(System.currentTimeMillis() + 5000))
        assert(monitor(), "touched file")
        assert(!monitor())
        spark.createDataFrame(java.util.Arrays.asList(rows(40): _*), schema)
          .drop("q").coalesce(1).write.mode("overwrite").parquet(Tables.path(dir, "t"))
        val sink = MetricSink("rewrite")
        assert(Monitors.tableMonitor(spark, dir, "t", sink, state), "rewrite")
        assert(sink.get("t.column_removed").flatMap(_.valueString).contains("q"))
        assert(sink.get("t.record_count").flatMap(_.valueDouble).contains(40.0))
        assert(!monitor())
        assert(monitor(fraction = 0.5), "sampleFraction")
        assert(!monitor(fraction = 0.5))
        assert(monitor(fraction = 0.5, cfg = ProfileConfig(exact = false)), "ProfileConfig")
        assert(!monitor(fraction = 0.5, cfg = ProfileConfig(exact = false)))
      }
    }
  }

  test("over a lake that grows and drifts for 12 cycles, every cycle emits the " +
    "points of a full recompute, bit-exact") {
    withTempDir("graft-tm-lake") { dir =>
      withTempDir("graft-tm-state") { tmp =>
        val base = rows(600)
        val state = new StateStore(tmp + "/incremental")
        var taken = 120
        var tagged = false
        def shaped(data: Seq[Row]): DataFrame = {
          val df = spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
          if (tagged) df.withColumn("tag", col("id") * 3L) else df
        }
        shaped(base.take(taken)).repartition(2).write.parquet(Tables.path(dir, "t"))
        var prev: Option[(String, String)] = None // (record_count, columns) of the last cycle
        for (cycle <- 0 until 12) {
          val change = if (cycle == 0) "initial" else cycle % 4 match {
            case 1 => "rewrite"
            case 3 => "none"
            case _ => "append"
          }
          change match {
            case "append" =>
              shaped(base.slice(taken, taken + 37)).coalesce(1)
                .write.mode("append").parquet(Tables.path(dir, "t"))
              taken += 37
            case "rewrite" =>
              tagged = !tagged
              shaped(base.take(taken)).repartition(2)
                .write.mode("overwrite").parquet(Tables.path(dir, "t"))
            case _ =>
          }
          val incremental = MetricSink(s"incremental-$cycle")
          val profiled = Monitors.tableMonitor(spark, dir, "t", incremental, state)
          assert(profiled == (change != "none"), s"cycle $cycle ($change)")
          val fresh = new StateStore(s"$tmp/full-$cycle")
          prev.foreach { case (n, cols) =>
            fresh.putAll(spark, Seq(("t", "record_count", n), ("t", "columns", cols)))
          }
          val full = MetricSink(s"full-$cycle")
          assert(Monitors.tableMonitor(spark, dir, "t", full, fresh))
          assert(bits(incremental) == bits(full), s"cycle $cycle ($change)")
          val cols = Tables.load(spark, dir, "t").columns.mkString(",")
          assert(tagged == cols.endsWith(",tag"))
          prev = Some((taken.toString, cols))
        }
      }
    }
  }
}

/** `Tables.load` memoizes each table's inferred schema per session, keyed
  * by the table's listing signature: the schema must be the one a fresh
  * inference gives, an unchanged table must load with no Spark job, any
  * change to the listing must be seen, and concurrent loads must agree
  * with sequential ones.
  */
class TablesLoadSpec extends AnyFunSuite {
  private def fresh(dir: String, t: String): StructType =
    Tables.normalizeNanoTs(spark.read.parquet(Tables.path(dir, t)), t).schema

  test("Tables.load gives a fresh inference's schema for every fixture table, " +
    "and a second load runs no Spark job") {
    Tables.all.foreach { t =>
      val first = Tables.load(spark, sf, t).schema
      assert(first == fresh(sf, t), t)
      var second: StructType = null
      val jobs = TestSpark.jobsDuring { second = Tables.load(spark, sf, t).schema }
      assert(jobs == 0, s"$t: $jobs jobs")
      assert(second == first, t)
    }
    assert(Tables.load(spark, sf, "events").schema("ts").dataType == TimestampType)
    val ts = Tables.load(spark, sf, "events").select("ts").orderBy("ts").collect().toSeq
    assert(ts == Tables.normalizeNanoTs(spark.read.parquet(Tables.path(sf, "events")),
      "events").select("ts").orderBy("ts").collect().toSeq)
  }

  test("Tables.load sees an appended file and a column-changing rewrite") {
    withTempDir("graft-load") { dir =>
      val p = Tables.path(dir, "t")
      spark.range(10).toDF("id").coalesce(1).write.parquet(p)
      assert(Tables.load(spark, dir, "t").count() == 10)
      spark.range(10, 15).toDF("id").coalesce(1).write.mode("append").parquet(p)
      assert(Tables.load(spark, dir, "t").count() == 15)
      spark.range(3).toDF("id").withColumn("extra", lit("x"))
        .coalesce(1).write.mode("overwrite").parquet(p)
      val df = Tables.load(spark, dir, "t")
      assert(df.columns.toSeq == Seq("id", "extra"))
      assert(df.schema == fresh(dir, "t"))
      assert(df.count() == 3)
    }
  }

  test("8 threads loading the warehouse tables at once get the sequential schemas") {
    withTempDir("graft-load") { dir =>
      Tables.warehouse.foreach(t => java.nio.file.Files.copy(
        java.nio.file.Paths.get(Tables.path(sf, t)), java.nio.file.Paths.get(Tables.path(dir, t))))
      val sequential = Tables.warehouse.map(t => t -> Tables.load(spark, sf, t).schema).toMap
      // both read confs start at the other value, so every thread may write them
      val concurrent = withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false",
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true") {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
        try Tables.warehouse.map { t =>
          t -> pool.submit(new java.util.concurrent.Callable[StructType] {
            def call(): StructType = Tables.load(spark, dir, t).schema
          })
        }.map { case (t, f) => t -> f.get() }.toMap
        finally pool.shutdown()
      }
      assert(concurrent == sequential)
    }
  }
}

/** `Monitors.tableMonitor`'s `duplicate_count` is the row count minus the
  * number of distinct rows, Spark's `groupBy` over every column
  * (`Profiler.duplicateStats`): −0.0 equals 0.0 and every NaN equals every
  * other NaN, also inside arrays; NULLs equal each other; the count covers
  * the whole table at any `sampleFraction`. Each case pins both the
  * standalone count and a hand count of its data.
  */
class DuplicateCountSpec extends AnyFunSuite {
  private def table(dir: String, schema: StructType, data: Seq[Row]): Unit =
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
      .repartition(2).write.parquet(Tables.path(dir, "t"))

  /** `tableMonitor`'s and `duplicateStats`'s duplicate counts of table `t`. */
  private def counts(dir: String, sampleFraction: Double): (Double, Double) =
    withTempDir("graft-dup-state") { tmp =>
      val sink = MetricSink("dup")
      Monitors.tableMonitor(spark, dir, "t", sink, new StateStore(tmp + "/s"),
        sampleFraction = sampleFraction)
      val df = Tables.load(spark, dir, "t")
      val r = Profiler.duplicateStats(df, df.columns.toSeq).collect().head
      // duplicateStats is NULL over an empty table
      val standalone = Option(r.get(r.fieldIndex("duplicate_count")))
        .fold(0L)(_.asInstanceOf[Long]).toDouble
      (sink.get("t.duplicate_count").flatMap(_.valueDouble).get, standalone)
    }

  private def check(schema: StructType, data: Seq[Row], byHand: Double,
      fractions: Seq[Double] = Seq(1.0)): Unit =
    withTempDir("graft-dup-lake") { dir =>
      table(dir, schema, data)
      fractions.foreach { f =>
        assert(counts(dir, f) == (byHand, byHand), s"sampleFraction $f")
      }
    }

  test("-0.0 equals 0.0 and NaN payloads equal NaN, in double, float and array columns") {
    val nanD = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    val nanF = java.lang.Float.intBitsToFloat(0x7fc00123)
    assert(nanD.isNaN && nanF.isNaN)
    val schema = StructType.fromDDL("d double, f float, a array<double>, k int")
    def row(d: Double, f: Float, k: Int) = Row(d, f, Seq(d, f.toDouble), k)
    check(schema, Seq(
      row(0.0, 0.0f, 1), row(-0.0, -0.0f, 1),
      row(Double.NaN, Float.NaN, 2), row(nanD, nanF, 2),
      row(1.5, 1.5f, 3), row(1.5, 1.5f, 3),
      row(Double.NaN, 1.0f, 4)), byHand = 3)
  }

  test("repeated all-null rows are duplicates of each other") {
    val schema = StructType.fromDDL("a int, b string, c double")
    check(schema, Seq(Row(null, null, null), Row(null, null, null), Row(null, null, null),
      Row(1, "x", 2.0), Row(1, "x", 2.0), Row(1, null, 2.0)), byHand = 3)
  }

  test("decimal, timestamp and string columns") {
    val schema = StructType.fromDDL("dec decimal(12,3), ts timestamp, s string")
    def dec(s: String) = new java.math.BigDecimal(s)
    val (t1, t2) = (ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00.000001"))
    check(schema, Seq(
      Row(dec("1.500"), t1, "a"), Row(dec("1.5"), t1, "a"), Row(dec("1.500"), t1, "A"),
      Row(dec("1.500"), t2, "a"), Row(null, t1, ""), Row(null, t1, ""),
      Row(null, t1, null)), byHand = 2)
  }

  test("a table of more than 64 columns, at sampleFraction 1.0 and 0.5") {
    val schema = StructType((0 until 70).map(j => StructField(s"c$j", IntegerType)))
    // row i is (i % 7, …, i % 7, i % 3): 21 distinct rows of 50
    val data = (0 until 50).map(i => Row((0 until 70).map(j => if (j == 69) i % 3 else i % 7): _*))
    check(schema, data, byHand = 29, fractions = Seq(1.0, 0.5))
  }

  test("the count covers the whole table at sampleFraction 0.5") {
    val schema = StructType.fromDDL("k long, v double, s string")
    val data = (0 until 400).map(i => Row((i % 150).toLong, (i % 150) * 0.5, s"s${i % 150}"))
    check(schema, data, byHand = 250, fractions = Seq(1.0, 0.5))
  }

  test("monitorProfile counts NaN payloads and signed zeros as groupBy does, " +
    "in memory where the payloads survive") {
    // parquet writes every NaN in its canonical form, so only an
    // in-memory relation can carry a NaN payload to the count
    val nanD = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(0.0, Seq(0.0)), Row(-0.0, Seq(-0.0)), Row(Double.NaN, Seq(nanD)),
      Row(nanD, Seq(Double.NaN)), Row(1.0, Seq(1.0, 2.0))),
      StructType.fromDDL("d double, a array<double>"))
    val r = Profiler.duplicateStats(df, df.columns.toSeq).collect().head
    assert(r.getAs[Long]("duplicate_count") == 2)
    assert(Profiler.monitorProfile(df).duplicateCount == 2)
  }

  test("an empty table has no duplicates") {
    check(StructType.fromDDL("a int, b double, s string"), Nil, byHand = 0,
      fractions = Seq(1.0, 0.5))
  }
}

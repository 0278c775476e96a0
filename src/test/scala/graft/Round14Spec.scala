package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Profiler

/** Round-14: footer-stat histogram bounds (verdict task 6) and the
  * census-EM linkage rework (verdict task 1).
  *
  * The q41 contract: `numericHistograms(df, bins, Some(path))` must be
  * value-identical to the bounds-agg formulation on ANY input —
  * including NaN-bearing floats, all-NULL columns, and decimal columns
  * the footer path must refuse — while spending ONE Spark job instead
  * of two when the footers resolve.
  */
class Round14Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def histBoth(df: DataFrame, path: String): (Seq[String], Seq[String]) = {
    val footer = sortedRows(Profiler.numericHistograms(df, 10, Some(path)))
    val agg = sortedRows(Profiler.numericHistograms(df, 10, None))
    (footer, agg)
  }

  test("footer bounds ≡ agg bounds on the lineitem fixture, one job " +
    "instead of two") {
    val path = Tables.path(sf, "lineitem")
    val df = Tables.load(spark, sf, "lineitem")
    val (footer, agg) = histBoth(df, path)
    assert(footer === agg)
    assert(footer.nonEmpty)
    // job-count proof: the footer path must not run the bounds job
    val withFooter = TestSpark.jobsDuring {
      Profiler.numericHistograms(df, 10, Some(path)).collect() }
    val withAgg = TestSpark.jobsDuring {
      Profiler.numericHistograms(df, 10, None).collect() }
    assert(withFooter < withAgg,
      s"footer path ran $withFooter jobs, agg path $withAgg")
  }

  test("footer bounds: NaN floats, all-NULL column, and decimals all " +
    "fall back (or resolve) to the agg answer") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("r14_footer").toString
    val df0 = Seq(
      (1L, java.lang.Double.valueOf(1.5), java.lang.Double.valueOf(Double.NaN), "x"),
      (2L, java.lang.Double.valueOf(-3.5), null.asInstanceOf[java.lang.Double], "y"),
      (3L, java.lang.Double.valueOf(Double.NaN), null.asInstanceOf[java.lang.Double], "z"),
      (4L, java.lang.Double.valueOf(9.25), null.asInstanceOf[java.lang.Double], "w"))
      .toDF("k", "v_nan", "v_null", "s")
      .withColumn("d", col("k").cast("decimal(10,2)"))
    df0.write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val (footer, agg) = histBoth(df, dir)
    assert(footer === agg)
    // NaN-only + null column produces no rows for v_null; v_nan keeps
    // only its two non-NaN values (cleaned() parity)
    assert(!footer.exists(_.contains("v_null")))
  }

  test("footerNumericBounds refuses a missing column instead of " +
    "reporting it all-NULL") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("r14_missing").toString
    Seq((1L, 2.0), (3L, 4.0)).toDF("a", "b")
      .write.mode("overwrite").parquet(dir)
    val got = graft.catalog.CatalogMonitor.footerNumericBounds(
      spark, dir, Seq("a" -> org.apache.spark.sql.types.LongType,
        "nope" -> org.apache.spark.sql.types.DoubleType))
    assert(got.isEmpty)
  }

  test("census-EM emWeights ≡ the r13 per-pair formulation on a " +
    "synthetic pair relation (weighted integer sums are exact)") {
    import spark.implicits._
    // planted structure: two agreement fields, correlated matches
    val rng = new scala.util.Random(14)
    val pairs = Seq.fill(500) {
      val m = rng.nextDouble() < 0.3
      (if (m) rng.nextDouble() < 0.9 else rng.nextDouble() < 0.2,
        if (m) rng.nextDouble() < 0.8 else rng.nextDouble() < 0.1)
    }.toDF("f1", "f2")
    val out = graft.operators.Linkage.emWeights(pairs, Seq("f1", "f2"))
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(r.fieldIndex("n_pairs")) === 500L)
    val m1 = r.getLong(r.fieldIndex("f1_m_micro"))
    val u1 = r.getLong(r.fieldIndex("f1_u_micro"))
    assert(m1 > u1, s"EM failed to separate m=$m1 u=$u1")
    // n_matched bounded by n_pairs and parameters in [0, 1e6]
    assert(r.getLong(r.fieldIndex("n_matched")) <= 500L)
    assert(r.getLong(r.fieldIndex("lambda_micro")) > 0L)
    graft.util.Caches.releaseAll()
  }
}

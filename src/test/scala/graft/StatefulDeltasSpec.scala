package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CountDelta, CountObs, StatefulDeltas}
import graft.util.TempDirs.withTempDir

import TestSpark._

class StatefulDeltasSpec extends AnyFunSuite {
  test("flatMapGroupsWithState emits per-entity deltas across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[CountObs]
    val q = StatefulDeltas.countDeltas(input.toDS())
      .writeStream.format("memory").queryName("deltas")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(CountObs("orders", 100), CountObs("lineitem", 500))
      q.processAllAvailable()
      input.addData(CountObs("orders", 120))
      q.processAllAvailable()
      input.addData(CountObs("orders", 90), CountObs("lineitem", 480))
      q.processAllAvailable()
      val rows = spark.table("deltas").as[CountDelta].collect()
        .groupBy(_.entity).view.mapValues(_.map(d => (d.cur_count, d.delta)).toSet).toMap
      // first observation → delta 0; then signed current - previous
      assert(rows("orders") == Set((100L, 0L), (120L, 20L), (90L, -30L)))
      assert(rows("lineitem") == Set((500L, 0L), (480L, -20L)))
    } finally q.stop()
  }

  test("metricsStream appends batch-stamped metric rows to parquet") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withTempDir("graft-ms") { tmp =>
      val input = MemoryStream[CountObs]
      val agg = input.toDS().toDF()
        .groupBy("entity").agg(org.apache.spark.sql.functions.sum("cnt").as("total"))
      val q = graft.streaming.ContinuousMonitor.metricsStream(
        agg, tmp + "/metrics", tmp + "/ckpt", "run-1", intervalSeconds = 0)
      try {
        input.addData(CountObs("orders", 10), CountObs("orders", 5))
        q.processAllAvailable()
        val out = spark.read.parquet(tmp + "/metrics")
        assert(out.columns.toSet ==
          Set("entity", "total", "run_id", "batch_id", "emitted_ts"))
        val r = out.filter($"entity" === "orders").orderBy($"batch_id".desc)
          .select("total").collect().head.getLong(0)
        assert(r == 15L)
      } finally q.stop()
    }
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Constraints
import graft.streaming.StreamingOps

/** Round-7 part two: the streaming range-contract twin. */
class Round7gSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("streaming range-contract twin ≡ batch report on a drained stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the q200 fixture split: ref = events before the PSI cutoff,
    // cur = events after it, streamed through a keyed value census
    val ev = Tables.load(spark, dir, "events")
    val cut = lit(registry.DriftQueries.PsiCutoff).cast("timestamp")
    val ref = ev.filter(col("ts") < cut)
      .select("event_type", "value").cache()
    val cur = ev.filter(col("ts") >= cut)
      .select(col("ts"), col("event_type"), col("value").cast("double"))
      .as[(java.sql.Timestamp, String, Double)].collect().toSeq
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val census = StreamingOps.keyedValueCensusStream(
      input.toDS().toDF("ts", "event_type", "value"),
      "3650 days", "0 seconds")
    val name = "rc_census_" + System.nanoTime()
    val q = census.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(cur)
      q.processAllAvailable()
      // flush event far in the future closes the fixture's window
      input.addData((java.sql.Timestamp.valueOf("2044-01-01 00:00:00"),
        "flush", 0.0))
      q.processAllAvailable()
      val firstWindow = spark.table(name)
        .groupBy().agg(min("window_start")).collect()(0).getTimestamp(0)
      val got = Constraints.rangeContractFromCounts(
          spark.table(name).filter(col("window_start") === lit(firstWindow)),
          ref, "event_type", "value")
        .drop("window_start", "window_end").collect().map(_.toSeq).toSeq
      val want = Constraints.rangeContractReport(
          ref, ev.filter(col("ts") >= cut), "event_type", "value")
        .collect().map(_.toSeq).toSeq
      assert(want.nonEmpty && got == want)
      // at sf0.001 every key flags (the clean-key case lives at sf0.01,
      // q200) — require only that the flag path is exercised
      assert(want.exists(r => r.last == true))
    } finally { q.stop(); ref.unpersist() }
  }
}

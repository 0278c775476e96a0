package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.MomentState
import graft.streaming.StreamingOps
import graft.util.TempDirs.withTempDir

import TestSpark._

/** Checkpoint KILL-RESTART durability for EVERY stateful stream,
  * parameterized over the STATE-STORE PROVIDER — the matrix axis a
  * 100 TB deployment actually flips: local kill-restart proofs on the
  * default HDFS-backed in-memory store say nothing about the RocksDB
  * store the large-state production config runs, whose checkpoint
  * format, changelog and recovery path are entirely different code.
  *
  * One harness: feed half the fixture, kill the query mid-stream
  * (windows/sessions still open in the state store), restart from the
  * checkpoint, feed the rest plus a watermark-flush row, and require
  * the recovered output to equal the BATCH run of the same transform
  * bit-for-bit with zero double-emission. The batch twin is the same
  * StreamingOps function over the static fixture (watermarks are
  * no-ops in batch; window/session_window aggregate identically), so
  * the comparison has no second implementation to drift.
  *
  * @param axis display tag for the provider under test
  * @param providerClass None = Spark's default (HDFSBackedStateStore);
  *   Some(fqcn) is set on the session for the duration of each test
  * @param includeMomentState the moment-state shape is already covered
  *   on the default axis by Round8bSpec; non-default axes set this
  *   to run all 8 stateful shapes in one matrix row
  */
abstract class KillRestartBehaviors(axis: String,
    providerClass: Option[String],
    includeMomentState: Boolean) extends AnyFunSuite {
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Pin the state-store provider for the whole test body (both query
    * starts — a provider flip across a restart would be a different,
    * unsupported scenario) and restore the session default after.
    */
  private def withProvider[T](body: => T): T = providerClass match {
    case None => body
    case Some(p) => withConf(ProviderKey -> p)(body)
  }

  private val flushTs = java.sql.Timestamp.valueOf("2044-01-01 00:00:00")
  private val flushCut = java.sql.Date.valueOf("2043-12-01")

  private def fixture(): DataFrame =
    Tables.load(spark, sf, "events")
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))

  /** Streamed-with-restart output of `transform`, drained and flushed. */
  private def killRestart(
      transform: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val all = fixture()
      .as[(java.sql.Timestamp, Long, String, Double)].collect()
      .sortBy(_._1.getTime).toSeq
    val (firstHalf, secondHalf) = all.splitAt(all.size / 2)
    withTempDir("kr") { tmp =>
      val outDir = tmp + "/out"
      val cpDir = tmp + "/cp"
      val input = MemoryStream[(java.sql.Timestamp, Long, String, Double)]
      val out = transform(
        input.toDS().toDF("ts", "user_id", "event_type", "value"))
      def start() = out.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", cpDir)
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      // phase 1: half the stream, then KILL — state straddles the split
      val q1 = start()
      try { input.addData(firstHalf); q1.processAllAvailable() }
      finally q1.stop()
      // phase 2: restart from checkpoint, rest of the stream + flush
      val q2 = start()
      try {
        input.addData(secondHalf)
        q2.processAllAvailable()
        input.addData(Seq((flushTs, -1L, "flush", 0.0)))
        q2.processAllAvailable()
      } finally q2.stop()
      spark.read.parquet(outDir).localCheckpoint()
    }
  }

  /** recovered ≡ batch, and zero double-emission across the restart. */
  private def assertRecoveredEqualsBatch(recovered0: DataFrame,
      batch0: DataFrame): Unit = {
    val cols = batch0.columns.sorted.toSeq
    val recovered = recovered0.select(cols.map(col): _*)
    val dups = recovered.groupBy(cols.map(col): _*)
      .count().filter(col("count") > 1).count()
    assert(dups == 0, "restart must not re-emit closed state")
    def canon(df: DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.map {
        case d: java.sql.Timestamp => d.getTime
        case x => x
      }).toSeq.sortBy(_.mkString("|"))
    val r = canon(recovered)
    val b = canon(batch0.select(cols.map(col): _*))
    assert(r.nonEmpty, "expected closed state to have been emitted")
    assert(r == b, s"recovered (${r.size} rows) != batch (${b.size} rows)")
  }

  test(s"keyCensusStream survives kill-restart ≡ batch [$axis]") {
    withProvider {
      val f: DataFrame => DataFrame =
        df => StreamingOps.keyCensusStream(df, "1 day", "0 seconds")
      assertRecoveredEqualsBatch(
        killRestart(f).filter(col("window_start") < lit(flushCut)),
        f(fixture()))
    }
    graft.util.Caches.releaseAll()
  }

  test(s"keyedValueCensusStream survives kill-restart ≡ batch [$axis]") {
    withProvider {
      val f: DataFrame => DataFrame =
        df => StreamingOps.keyedValueCensusStream(df, "1 day", "0 seconds")
      assertRecoveredEqualsBatch(
        killRestart(f).filter(col("window_start") < lit(flushCut)),
        f(fixture()))
    }
    graft.util.Caches.releaseAll()
  }

  test("dpCountsStream survives kill-restart ≡ the batch release " +
    s"(same window-epoch salts) [$axis]") {
    withProvider {
      val f: DataFrame => DataFrame = df =>
        StreamingOps.dpCountsStream(df, "1 day", "0 seconds",
          epsilonPermille = 1000L)
      assertRecoveredEqualsBatch(
        killRestart(f).filter(col("window_start") < lit(flushCut)),
        f(fixture()))
    }
    graft.util.Caches.releaseAll()
  }

  test("sessionStream survives kill-restart ≡ batch (sessions spanning " +
    s"the kill merge correctly) [$axis]") {
    withProvider {
      val f: DataFrame => DataFrame =
        df => StreamingOps.sessionStream(df, "1 hour", "0 seconds")
      // exclude the flush user's own (never-closed) session on the
      // streamed side; the batch twin never sees the flush row at all
      assertRecoveredEqualsBatch(
        killRestart(f).filter(col("user_id") =!= -1L),
        f(fixture()))
    }
    graft.util.Caches.releaseAll()
  }

  test("asofEnrichStream (flatMapGroupsWithState) survives kill-restart: " +
    s"carried per-user purchase state attributes post-restart clicks [$axis]") {
    withProvider {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val ev = Tables.load(spark, sf, "events")
      val all = ev.select(col("user_id").cast("long"), col("ts"),
          col("event_type"), col("event_id").cast("long"),
          col("value").cast("double"))
        .as[(Long, java.sql.Timestamp, String, Long, Double)]
        .collect().sortBy(_._2.getTime).toSeq
      // a ts-ordered split preserves the emit-once as-of semantics across
      // the cut, so recovered output must equal the batch as-of join; the
      // split lands mid-stream, leaving many users' latest-purchase state
      // open in the store at the kill
      val (firstHalf, secondHalf) = all.splitAt(all.size / 2)
      withTempDir("asof") { tmp =>
        val outDir = tmp + "/out"
        val cpDir = tmp + "/cp"
        val input = MemoryStream[(Long, java.sql.Timestamp, String, Long,
          Double)]
        val out = StreamingOps.asofEnrichStream(
          input.toDS().toDF("user_id", "ts", "event_type", "event_id",
            "value"), "1 hour")
        def start() = out.writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", cpDir)
          .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
        val q1 = start()
        try { input.addData(firstHalf); q1.processAllAvailable() }
        finally q1.stop()
        val q2 = start()
        try { input.addData(secondHalf); q2.processAllAvailable() }
        finally q2.stop()
        val got = spark.read.parquet(outDir)
          .select("user_id", "event_id", "p_event", "p_value")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.get(2), r.get(3)))
        assert(got.length == got.distinct.length,
          "restart must not re-emit enriched clicks")
        val clicks = ev.filter(col("event_type") === "click")
          .select("user_id", "event_id", "ts")
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts")
          .agg(max("event_id").as("p_event"),
            max_by(col("value"), col("event_id")).as("p_value"))
        val expect = graft.operators.AsOfJoin.asofLast(clicks, purchases,
            Seq("user_id"), "ts", "ts", Seq("p_event", "p_value"))
          .select("user_id", "event_id", "p_event", "p_value")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.get(2), r.get(3))).toSet
        assert(expect.nonEmpty && got.toSet == expect,
          s"recovered ${got.length} != batch ${expect.size}")
      }
    }
    graft.util.Caches.releaseAll()
  }

  test("intervalJoinStream (stream-stream two-sided state) survives " +
    s"kill-restart ≡ the batch interval join [$axis]") {
    withProvider {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val ev = Tables.load(spark, sf, "events")
        .select(col("user_id").cast("long"), col("ts"), col("event_type"),
          col("event_id").cast("long"), col("value").cast("double"))
      val all = ev
        .as[(Long, java.sql.Timestamp, String, Long, Double)]
        .collect().sortBy(_._2.getTime).toSeq
      val (firstHalf, secondHalf) = all.splitAt(all.size / 2)
      withTempDir("ssj") { tmp =>
        val outDir = tmp + "/out"
        val cpDir = tmp + "/cp"
        val input = MemoryStream[(Long, java.sql.Timestamp, String, Long,
          Double)]
        val out = StreamingOps.intervalJoinStream(
          input.toDS().toDF("user_id", "ts", "event_type", "event_id",
            "value"), window = "1 hour")
        def start() = out.writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", cpDir)
          .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
        // kill with purchases of in-flight intervals still in both-sided
        // state; the restart must keep matching phase-2 clicks to phase-1
        // purchases inside the hour
        val q1 = start()
        try { input.addData(firstHalf); q1.processAllAvailable() }
        finally q1.stop()
        val q2 = start()
        try { input.addData(secondHalf); q2.processAllAvailable() }
        finally q2.stop()
        // batch twin: the SAME operator over the static relation
        // (watermarks no-op in batch — no second implementation)
        assertRecoveredEqualsBatch(spark.read.parquet(outDir),
          StreamingOps.intervalJoinStream(ev, window = "1 hour"))
      }
    }
    graft.util.Caches.releaseAll()
  }

  test("dropDuplicatesStream survives kill-restart: one row per key, " +
    s"duplicates arriving after the restart stay suppressed [$axis]") {
    withProvider {
      val f: DataFrame => DataFrame = df =>
        StreamingOps.dropDuplicatesStream(df, Seq("user_id"), "ts",
          "3650 days")
      val out = killRestart(f).filter(col("user_id") =!= -1L)
      val keys = out.select("user_id").collect().map(_.getLong(0)).toSeq
      assert(keys.size == keys.distinct.size,
        "a key emitted twice across the restart")
      val expected = fixture().select("user_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(keys.toSet == expected,
        s"expected ${expected.size} distinct keys, got ${keys.size}")
    }
    graft.util.Caches.releaseAll()
  }

  if (includeMomentState)
    test("momentStateStream restarted from checkpoint still merges " +
      s"≡ batch [$axis]") {
      withProvider {
        implicit val sqlCtx = spark.sqlContext
        import spark.implicits._
        val ev = Tables.load(spark, sf, "events")
          .select(col("ts"), col("user_id"), col("value"))
        val all = ev.as[(java.sql.Timestamp, Long, Double)].collect()
          .sortBy(_._1.getTime).toSeq
        val (firstHalf, secondHalf) = all.splitAt(all.size / 2)
        withTempDir("ms") { tmp =>
          val outDir = tmp + "/out"
          val cpDir = tmp + "/cp"
          val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
          val states = StreamingOps.momentStateStream(
            input.toDS().toDF("ts", "user_id", "value"),
            "1 day", "0 seconds", Seq("user_id", "value"))
          def start() = states.writeStream.format("parquet")
            .option("path", outDir).option("checkpointLocation", cpDir)
            .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
          val q1 = start()
          try { input.addData(firstHalf); q1.processAllAvailable() }
          finally q1.stop()
          val q2 = start()
          try {
            input.addData(secondHalf)
            q2.processAllAvailable()
            input.addData(Seq((flushTs, -1L, 0.0)))
            q2.processAllAvailable()
          } finally q2.stop()
          val windows = spark.read.parquet(outDir)
            .filter(col("window_start") < lit(flushCut))
            .drop("window_start", "window_end")
          assert(windows.count() > 10, "expected many daily windows")
          val dups = windows.groupBy(windows.columns.map(col).toSeq: _*)
            .count().filter(col("count") > 1).count()
          assert(dups == 0, "restart must not re-emit closed windows")
          val merged = MomentState.report(MomentState.merge(Seq(windows)))
            .collect().map(_.toSeq).toSeq
          val direct = MomentState.report(MomentState.state(
            ev.select("user_id", "value"))).collect().map(_.toSeq).toSeq
          assert(merged == direct,
            "recovered + post-restart states must merge to the batch profile")
        }
      }
      graft.util.Caches.releaseAll()
    }
}

/** The kill-restart ≡ batch matrix on Spark's DEFAULT state-store
  * provider (HDFS-backed in-memory map). The moment-state shape is
  * covered on this axis by Round8bSpec (StreamingOpsSpec.scala).
  */
class Round9bSpec extends KillRestartBehaviors(
  axis = "default-hdfs", providerClass = None,
  includeMomentState = false)

/** ALL 8 stateful kill-restart shapes on the ROCKSDB state-store
  * provider — the config a 100 TB streaming deployment actually runs,
  * where keyed state outgrows executor heap and lives in a RocksDB
  * instance per state partition with its own checkpoint/changelog/
  * recovery path. Green here means the durability story is
  * provider-portable, not an artifact of the default in-memory store's
  * snapshot format.
  */
class Round10bRocksDbSpec extends KillRestartBehaviors(
  axis = "rocksdb",
  providerClass = Some("org.apache.spark.sql.execution.streaming" +
    ".state.RocksDBStateStoreProvider"),
  includeMomentState = true)

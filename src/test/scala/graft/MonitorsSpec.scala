package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.CatalogMonitor
import graft.core.{MetricRow, MetricSink, Profiler}
import graft.operators.Multimodal
import graft.state.{ChangeDetection, StateStore}
import graft.storage.StorageMonitor
import graft.streaming.ContinuousMonitor
import graft.util.TempDirs.withTempDir

import TestSpark._

class MonitorsSpec extends AnyFunSuite {
  import spark.implicits._

  test("catalog row counts cover all fixture tables with positive counts") {
    val counts = CatalogMonitor.tableRowCounts(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Tables.all.toSet)
    assert(counts.values.forall(_ > 0))
    assert(counts("region") == 5L)
  }

  test("table shapes joins row and column counts") {
    val shapes = CatalogMonitor.tableShapes(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val li = shapes.find(_._1 == "lineitem").get
    assert(li._3 == 11L)
  }

  test("state store: put/get/overwrite survives reopen") {
    withTempDir("graft-state") { tmp =>
      val dir = tmp + "/state"
      val store = new StateStore(dir)
      store.put(spark, "orders", "row_count", "100")
      store.put(spark, "orders", "row_count", "120")
      store.put(spark, "lineitem", "row_count", "500")
      assert(store.get(spark, "orders", "row_count") == Some("120"))
      val reopened = new StateStore(dir)
      assert(reopened.get(spark, "lineitem", "row_count") == Some("500"))
      assert(reopened.read(spark).count() == 2)
    }
  }

  test("change detection: corrected delta sign and symmetric drift") {
    val d = ChangeDetection.rowDelta("t", prevCount = 10, curCount = 25, spark)
      .collect().head
    assert(d.getAs[Long]("delta") == 15L)
    val drift = ChangeDetection.schemaDrift(Seq("a", "b"), Seq("b", "c"), spark)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(drift.toSet == Set(("removed", "a"), ("added", "c")))
  }

  test("storage inventory lists files with sizes and mime mapping") {
    val inv = StorageMonitor.inventory(spark, Seq(sf)).collect()
    assert(inv.length == Tables.all.size)
    val byName = inv.map(r => r.getAs[String]("file_name") -> r).toMap
    assert(byName.keySet.contains("lineitem.parquet"))
    assert(byName("lineitem.parquet").getAs[Long]("size_bytes") > 0)
    assert(byName("lineitem.parquet").getAs[String]("content_type")
      == "application/vnd.apache.parquet")
    // S11 key-metadata parity: parts_count models multipart parts from the
    // size; metadata is the (empty, for plain filesystems) user-tag map
    val li = byName("lineitem.parquet")
    assert(li.getAs[Int]("parts_count") >= 1)
    assert(li.getAs[Map[String, String]]("metadata").isEmpty)
    val big = inv.filter(_.getAs[Long]("size_bytes") > StorageMonitor.MultipartPartSizeBytes)
    assert(big.forall(_.getAs[Int]("parts_count") > 1))
  }

  test("prefix summary: counts, totals and deterministic largest file") {
    val r = StorageMonitor.prefixSummary(StorageMonitor.inventory(spark, Seq(sf)))
      .collect().head
    assert(r.getAs[Long]("num_objects") == Tables.all.size.toLong)
    assert(r.getAs[Long]("total_bytes") > r.getAs[Long]("max_bytes"))
  }

  test("streaming hourly aggregate equals the batch aggregate") {
    val streaming = ContinuousMonitor.hourlyEventCounts(spark, Tables.path(sf, "events"))
    val streamed = ContinuousMonitor
      .runToCompletion(spark, streaming, "spec_stream_" + System.nanoTime())
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = Tables.load(spark, sf, "events")
      .groupBy(date_trunc("hour", col("ts")).as("ws"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("runSupervised restarts the monitor across bounded lifetimes, then stops") {
    var starts = 0
    val mk = () => {
      starts += 1
      ContinuousMonitor.hourlyEventCounts(spark, Tables.path(sf, "events"))
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
        .format("memory")
        .queryName("supervised_" + System.nanoTime())
        .outputMode("complete")
        .start()
    }
    val report = ContinuousMonitor.runSupervised(mk, lifetimeMs = 500,
      forceKillGraceMs = 20000, maxCycles = 2)
    assert(starts == 2, "supervisor must restart the query after each lifetime")
    assert(report.cycles == 2 && report.failures == 0)
    assert(spark.streams.active.forall(q =>
      !Option(q.name).exists(_.startsWith("supervised_"))),
      "supervised queries must all be stopped when the loop exits")
  }

  test("runSupervised absorbs failures up to the retry budget, then rethrows") {
    var attempts = 0
    val boom: () => org.apache.spark.sql.streaming.StreamingQuery =
      () => { attempts += 1; throw new RuntimeException("monitor died") }
    val ex = intercept[RuntimeException] {
      ContinuousMonitor.runSupervised(boom, lifetimeMs = 100,
        retries = 2, retryDelayMs = 1)
    }
    assert(ex.getMessage == "monitor died")
    assert(attempts == 3, "initial attempt + 2 retries")
  }

  test("runSupervised: retry budget is per run — resets after a successful cycle") {
    // 2 failures, success, 2 failures, success with retries=2: a GLOBAL
    // budget dies at the 3rd failure; the per-run budget (the reference's
    // Airflow retries=10 semantics) completes both cycles
    var calls = 0
    val flaky = () => {
      calls += 1
      if (calls % 3 != 0) throw new RuntimeException("transient")
      ContinuousMonitor.hourlyEventCounts(spark, Tables.path(sf, "events"))
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("memory")
        .queryName("flaky_" + System.nanoTime())
        .outputMode("complete")
        .start()
    }
    val report = ContinuousMonitor.runSupervised(flaky, lifetimeMs = 60000,
      retries = 2, retryDelayMs = 1, maxCycles = 2)
    assert(report.cycles == 2 && report.failures == 4)
  }

  test("multimodal: payload schema contract and deterministic stub features") {
    val docs = Tables.load(spark, sf, "documents").limit(50)
    val payloads = Multimodal.synthesizePayloads(docs)
    assert(payloads.schema("payload").dataType.typeName == "binary")
    assert(payloads.schema("metadata").dataType.typeName == "struct")
    val feats = Multimodal.extractFeatures(payloads)
    assert(feats.schema == Multimodal.featureSchema)
    val row = feats.orderBy("doc_id").collect().head
    assert(row.getAs[Int]("width") >= 64 && row.getAs[Int]("height") >= 64)
    assert(row.getSeq[Double](row.fieldIndex("feature")).length == 8)
    // determinism: extracting twice yields identical features
    val again = Multimodal.extractFeatures(payloads).orderBy("doc_id").collect().head
    assert(again == row)
  }

  test("multimodal resize and frame sampling keep the plumbing contracts") {
    val docs = Tables.load(spark, sf, "documents").limit(20)
    val payloads = Multimodal.synthesizePayloads(docs)
    val resized = Multimodal.resize(payloads, 32, 32)
    assert(resized.schema("payload").dataType.typeName == "binary")
    val meta = resized.select("metadata.width", "metadata.height").collect()
    assert(meta.forall(r => r.getInt(0) == 32 && r.getInt(1) == 32))
    // resized payloads still flow through feature extraction
    assert(Multimodal.extractFeatures(resized).count() == 20)

    val frames = Multimodal.sampleFrames(payloads, n = 4)
    assert(frames.count() == 80)
    val idx = frames.select("frame_idx").distinct().collect().map(_.getInt(0)).sorted
    assert(idx.toSeq == Seq(0, 1, 2, 3))
    assert(frames.filter(col("frame_mean_byte") <= 0).count() == 0)

    // empty payload (zero-length doc): resize emits an empty array, frame
    // sampling emits no rows — neither throws
    val empty = Multimodal.synthesizePayloads(
      Seq((999L, "")).toDF("doc_id", "text").withColumn("source", lit("png")))
    val er = Multimodal.resize(empty, 32, 32).collect().head
    assert(er.getAs[Array[Byte]]("payload").isEmpty)
    assert(Multimodal.sampleFrames(empty, n = 4).count() == 0)
  }

  test("multimodal: real PNG payloads decode via javax.imageio, not the stub") {
    // generate a real PNG in-memory (JDK-only): 17×9, left half black,
    // right half white → meanLuma ≈ 127, features concentrated in the
    // lowest and highest luminance buckets
    val im = new java.awt.image.BufferedImage(17, 9,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 9; x <- 0 until 17)
      im.setRGB(x, y, if (x < 8) 0x000000 else 0xFFFFFF)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", buf)
    val png = buf.toByteArray
    assert(Multimodal.ImageCodec.looksLikeImage(png))

    val payloads = Seq((1L, png)).toDF("doc_id", "payload")
      .withColumn("metadata", struct(
        length(col("payload")).cast("long").as("size_bytes"),
        lit("image/png").as("mime"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height")))
    val row = Multimodal.extractFeatures(payloads).collect().head
    assert(row.getAs[Int]("width") == 17 && row.getAs[Int]("height") == 9,
      "real decode must report the true pixel dimensions")
    val feat = row.getSeq[Double](row.fieldIndex("feature"))
    assert(feat.length == 8 && math.abs(feat.sum - 1.0) < 1e-9)
    assert(feat.head > 0.4 && feat.last > 0.4,
      "black/white halves must land in the extreme luminance buckets")

    // real resize: output payload is a decodable PNG at the target size
    val rr = Multimodal.resize(payloads, 10, 8).collect().head
    val outBytes = rr.getAs[Array[Byte]]("payload")
    assert(Multimodal.ImageCodec.looksLikeImage(outBytes))
    val back = Multimodal.ImageCodec.decode(outBytes).get
    assert(back.getWidth == 10 && back.getHeight == 8)

    // text payloads must keep taking the deterministic stub path
    assert(!Multimodal.ImageCodec.looksLikeImage("hello world".getBytes))
  }

  test("perceptual hash: near-identical images pair, unrelated images don't") {
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(40, 24,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 40) im.setRGB(x, y, f(x, y))
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", buf)
      buf.toByteArray
    }
    // gradient, the same gradient with a small corner blemish, and noise
    val base = png((x, _) => { val v = x * 255 / 39; (v << 16) | (v << 8) | v })
    val nearDup = png((x, y) =>
      if (x < 2 && y < 2) 0xFFFFFF
      else { val v = x * 255 / 39; (v << 16) | (v << 8) | v })
    val other = png((x, y) => if ((x / 2 + y / 2) % 2 == 0) 0xFFFFFF else 0)

    val ha = Multimodal.ImageCodec.aHash(Multimodal.ImageCodec.decode(base).get)
    val hb = Multimodal.ImageCodec.aHash(Multimodal.ImageCodec.decode(nearDup).get)
    val hc = Multimodal.ImageCodec.aHash(Multimodal.ImageCodec.decode(other).get)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(ha, hb) <= 5, s"blemished copy must stay close (got ${ham(ha, hb)})")
    assert(ham(ha, hc) > 5, s"unrelated image must be far (got ${ham(ha, hc)})")
    // aHash survives resize+re-encode — the property raw-byte hashing lacks
    val resized = Multimodal.ImageCodec.resize(base, 20, 12).get
    val hr = Multimodal.ImageCodec.aHash(Multimodal.ImageCodec.decode(resized).get)
    assert(ham(ha, hr) <= 5, s"resized copy must stay close (got ${ham(ha, hr)})")

    val payloads = Seq((1L, base), (2L, nearDup), (3L, other))
      .toDF("doc_id", "payload")
    val pairs = Multimodal.imageNearDups(payloads, maxHamming = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.util.Caches.releaseAll()
    assert(pairs == Set((1L, 2L)), s"only the near-dup pair qualifies: $pairs")
  }

  test("hammingPairs: banded blocking finds exactly the brute-force pair set") {
    // adversarial hash set: clustered flips, band-boundary flips, far apart
    val hashes = Seq(
      (1L, 0x0000000000000L), (2L, 0x0000000000003L), // ham 2 (one band)
      (3L, 0x0000400000001L),                         // flips in 2 bands vs 1
      (4L, 0x7FFFFFFFFFFFFL),                         // far from all
      (5L, 0x0000000000007L),                         // ham 3/1/2 vs 1/2/3
      (6L, 0x0420010840021L))                         // scattered bits
      .toDF("doc_id", "ph")
    val got = graft.operators.Dedup.hammingPairs(hashes, maxHamming = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    graft.util.Caches.releaseAll()
    val rows = Seq(1L -> 0x0000000000000L, 2L -> 0x0000000000003L,
      3L -> 0x0000400000001L, 4L -> 0x7FFFFFFFFFFFFL,
      5L -> 0x0000000000007L, 6L -> 0x0420010840021L)
    val want = (for {
      (ia, ha) <- rows; (ib, hb) <- rows if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 5
    } yield (ia, ib, d)).toSet
    assert(got == want, s"got $got, want $want")
    assertThrows[IllegalArgumentException] {
      graft.operators.Dedup.hammingPairs(hashes, maxHamming = 6) // = bands
    }
  }

  test("hammingPairs bucket cap: degenerate buckets skip, rest unaffected") {
    // 20 identical hashes (one hot bucket per band) + one isolated near pair
    val hot = (1L to 20L).map(i => (i, 0x0000000000000L))
    val pairAway = Seq((100L, 0x7000000300001L), (101L, 0x7000000300003L))
    val df = (hot ++ pairAway).toDF("doc_id", "ph")
    val capped = graft.operators.Dedup.hammingPairs(df, maxHamming = 5,
        maxBucketSize = Some(8L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.util.Caches.releaseAll()
    assert(capped == Set((100L, 101L)),
      "hot-bucket pairs drop; pairs in small buckets survive")
    val uncapped = graft.operators.Dedup.hammingPairs(df, maxHamming = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.util.Caches.releaseAll()
    assert(capped.subsetOf(uncapped) && uncapped.size == 190 + 1,
      "uncapped finds all 20-choose-2 hot pairs plus the isolated pair")
  }

  test("sinks: partitioned parquet round-trip with partition pruning") {
    withTempDir("graft-sink") { tmp =>
      val dir = tmp + "/out"
      val df = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0))
        .toDF("id", "part", "v")
      graft.sources.Sinks.parquet(df, dir, partitionCols = Seq("part"))
      assert(new java.io.File(dir, "part=a").exists())
      val back = spark.read.parquet(dir)
      assert(back.count() == 3)
      assert(back.filter(col("part") === "a").count() == 2)
      val csvDir = tmp + "/csv"
      graft.sources.Sinks.csv(df, csvDir)
      assert(graft.sources.Sources.file(spark, csvDir, "csv").count() == 3)
    }
  }

  test("metric sink buffers typed points and round-trips via DataFrame") {
    val sink = MetricSink("test-run")
    sink.log("rows", 42.0)
    sink.logString("schema.a", "bigint")
    assert(sink.size == 2)
    val df = sink.toDf(spark)
    assert(df.filter(col("key") === "rows").select("valueDouble")
      .collect().head.getDouble(0) == 42.0)
  }

  test("profileTo emits the documented metric key families") {
    val sink = MetricSink("profile-run")
    val df = Seq((1, 2.0), (2, 3.0)).toDF("a", "b")
    Profiler.profileTo(sink, "t", df)
    val keys = sink.keys
    assert(keys.contains("t.rows"))
    assert(keys.contains("t.columns"))
    assert(keys.exists(_.startsWith("t.schema.")))
    assert(keys.contains("t.a.median"))
    assert(keys.contains("t.b.nulls"))
  }
}

/** The database and storage monitors at the edges of their inputs: no
  * tables, a zero-row table, and an empty storage root.
  */
class MonitorEdgeSpec extends AnyFunSuite {
  import java.nio.file.{Files, Paths}
  import spark.implicits._
  import graft.run.Monitors

  private val stats = for (s <- Seq("max", "min", "mean", "median");
    d <- Seq("row", "column")) yield s"db.${s}_${d}_count"

  private def num(sink: MetricSink, k: String): Option[Double] =
    sink.get(k).flatMap(_.valueDouble)

  test("databaseMonitor over no tables: table_count 0, every stat 0.0, " +
    "no largest table") {
    val sink = MetricSink()
    Monitors.databaseMonitor(spark, sf, sink, tables = Nil)
    assert(num(sink, "db.table_count") === Some(0.0))
    stats.foreach(k => assert(num(sink, k) === Some(0.0), k))
    assert(sink.keys.toSet === Set("db.table_count") ++ stats ++
      Seq("capacity_gb", "used_gb", "free_gb", "used_pct").map("disk." + _))
  }

  test("databaseMonitor with a zero-row parquet table: its row count is " +
    "0 and it is not the largest") {
    withTempDir("graft-db-edge") { dir =>
      Seq.empty[(Long, String, Double)].toDF("a", "b", "c")
        .write.parquet(Tables.path(dir, "empty"))
      Seq((1L, "x"), (2L, "y")).toDF("a", "b")
        .write.parquet(Tables.path(dir, "small"))
      val sink = MetricSink()
      Monitors.databaseMonitor(spark, dir, sink, tables = Seq("small", "empty"))
      val expected = Map("db.table_count" -> 2.0,
        "db.empty.row_count" -> 0.0, "db.empty.column_count" -> 3.0,
        "db.small.row_count" -> 2.0, "db.small.column_count" -> 2.0,
        "db.max_row_count" -> 2.0, "db.min_row_count" -> 0.0,
        "db.mean_row_count" -> 1.0, "db.median_row_count" -> 1.0,
        "db.max_column_count" -> 3.0, "db.min_column_count" -> 2.0,
        "db.mean_column_count" -> 2.5, "db.median_column_count" -> 2.5)
      expected.foreach { case (k, v) => assert(num(sink, k) === Some(v), k) }
      assert(sink.get("db.largest_table").flatMap(_.valueString) === Some("small"))
    }
  }

  test("storageMonitor over an empty root and a non-empty root: the " +
    "empty root emits no prefix keys") {
    withTempDir("graft-storage-edge") { dir =>
      val empty = s"$dir/empty"
      val full = s"$dir/full"
      Seq(empty, full).foreach(d => Files.createDirectories(Paths.get(d)))
      Files.write(Paths.get(s"$full/a.json"), Array.fill[Byte](30)(1))
      Files.write(Paths.get(s"$full/b.csv"), Array.fill[Byte](20)(1))
      val sink = MetricSink()
      Monitors.storageMonitor(spark, Seq(empty, full), sink)
      assert(!sink.keys.exists(_.startsWith(s"prefix.$empty.")))
      assert(num(sink, s"prefix.$full.num_objects") === Some(2.0))
      assert(sink.get(s"prefix.$full.largest_key").flatMap(_.valueString) ===
        Some("a.json"))
      Seq("largest_prefix_by_count", "largest_prefix_by_size").foreach(k =>
        assert(sink.get(k).flatMap(_.valueString) === Some(full), k))
    }
  }
}

/** The database and storage monitors compute their statistics on the
  * driver. Each value must equal, bit for bit, the Spark expression it
  * replaces, evaluated over the same rows: the fixture's, and synthetic
  * rows that reach interpolation, ties and rounding boundaries.
  */
class MonitorParitySpec extends AnyFunSuite {
  import spark.implicits._
  import graft.run.Monitors

  private type Value = Either[Long, String] // a double's raw bits, or a string
  private def bits(d: Double): Value = Left(java.lang.Double.doubleToRawLongBits(d))

  private val statKeys = for (d <- Seq("row", "column");
    s <- Seq("max", "min", "mean", "median")) yield s"db.${s}_${d}_count"

  /** The eight statistics and the largest table as Spark computes them
    * from a (table_name, row_count, column_count) relation.
    */
  private def sparkDb(shapes: DataFrame): Map[String, Value] = {
    val st = shapes.agg(
      max("row_count"), min("row_count"), round(avg("row_count"), 2),
      round(median(col("row_count").cast("double")), 2),
      max("column_count"), min("column_count"), round(avg("column_count"), 2),
      round(median(col("column_count").cast("double")), 2)).collect().head
    statKeys.zipWithIndex.map { case (k, i) =>
      k -> bits(Option(st.get(i)).map(_.toString.toDouble).getOrElse(0.0))
    }.toMap ++ CatalogMonitor.largestTable(shapes.select("table_name", "row_count"))
      .collect().headOption.map(r => "db.largest_table" -> Right(r.getString(0)))
  }

  private def values(points: Seq[(String, Either[Double, String])]): Map[String, Value] =
    points.map { case (k, v) => k -> v.fold(bits, Right(_)) }.toMap

  private def sinkValues(sink: MetricSink): Map[String, Value] =
    values(sink.toDf(spark).as[MetricRow].collect().toSeq
      .map(r => r.key -> r.valueDouble.toLeft(r.valueString.get)))

  private def driverDb(shapes: Seq[(String, Long, Long)]): Map[String, Value] =
    values(Monitors.databasePoints(shapes))
      .filter { case (k, _) => statKeys.contains(k) || k == "db.largest_table" }

  test("fixture: tableShapes equals the row-count and column-count join, " +
    "and databaseMonitor's statistics equal Spark's over it") {
    val colCounts = CatalogMonitor.tableColumns(spark, sf, Tables.warehouse)
      .groupBy("table_name").agg(count_distinct(col("column_name")).as("column_count"))
    val joined = CatalogMonitor.tableRowCounts(spark, sf, Tables.warehouse)
      .join(broadcast(colCounts), Seq("table_name"), "left")
      .na.fill(0, Seq("column_count")).orderBy("table_name")
    def rows(df: DataFrame) = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows(CatalogMonitor.tableShapes(spark, sf, Tables.warehouse)) === rows(joined))
    val sink = MetricSink()
    Monitors.databaseMonitor(spark, sf, sink)
    val expected = sparkDb(joined)
    assert(sinkValues(sink).filter { case (k, _) => expected.contains(k) } === expected)
  }

  test("synthetic shapes: even counts, ties, HALF_UP boundaries, one table") {
    val cases: Seq[(String, Seq[(String, Long, Long)])] = Seq(
      "even count" -> Seq(("a", 1L, 2L), ("b", 4L, 3L), ("c", 10L, 5L), ("d", 7L, 7L)),
      "six tables" -> Seq(("t1", 3L, 1L), ("t2", 1L, 1L), ("t3", 100L, 9L),
        ("t4", 8L, 2L), ("t5", 8L, 4L), ("t6", 123456789012L, 4L)),
      "tie on row count" -> Seq(("zeta", 9L, 1L), ("alpha", 9L, 2L), ("mid", 3L, 3L)),
      // 9 / 8 = 1.125 exactly: HALF_UP reads 1.13 where half-even reads 1.12
      "mean on 1.125" -> (Seq.tabulate(7)(i => (s"r$i", 1L, 3L)) :+ (("r7", 2L, 4L))),
      // 201 / 200 is the double nearest 1.005, just below it; Spark rounds
      // its decimal form, 1.005, up to 1.01
      "mean on 1.005" -> (Seq.tabulate(199)(i => (f"s$i%03d", 1L, 1L)) :+ (("s199", 2L, 2L))),
      "one table" -> Seq(("only", 42L, 6L)),
      "equal middle values" -> Seq(("p", 5L, 5L), ("q", 5L, 5L), ("r", 1L, 9L), ("s", 9L, 1L)))
    cases.foreach { case (label, shapes) =>
      val expected = sparkDb(shapes.toDF("table_name", "row_count", "column_count"))
      assert(driverDb(shapes) === expected, label)
    }
    assert(driverDb(Seq(("x", 1L, 1L), ("y", 2L, 1L), ("z", 2L, 1L)))("db.largest_table")
      === Right("y"))
  }

  /** Each root's points and the two argmaxes as the Spark path computes
    * them: prefixSummary, MB rounding, and an orderBy per argmax.
    */
  private def sparkPrefix(objects: DataFrame): Map[String, Value] = {
    def mb(b: Long) = bits(math.rint(b / 1048576.0 * 100) / 100)
    val summaries = StorageMonitor.prefixSummary(objects)
    val perRoot = summaries.collect().flatMap { r =>
      val root = r.getAs[String]("root")
      Seq(s"prefix.$root.num_objects" -> bits(r.getAs[Long]("num_objects").toDouble),
        s"prefix.$root.total_size_mb" -> mb(r.getAs[Long]("total_bytes")),
        s"prefix.$root.max_size_mb" -> mb(r.getAs[Long]("max_bytes")),
        s"prefix.$root.largest_key" -> Right(r.getAs[String]("largest_file")))
    }
    def argmax(key: String, by: String) =
      summaries.orderBy(col(by).desc, col("root")).collect().headOption
        .map(r => key -> Right(r.getAs[String]("root")))
    perRoot.toMap ++ argmax("largest_prefix_by_count", "num_objects") ++
      argmax("largest_prefix_by_size", "total_bytes")
  }

  private def isPrefixKey(k: String) = k.startsWith("prefix.") || k.startsWith("largest_prefix_")

  test("fixture: storageMonitor's prefix points equal prefixSummary's") {
    val roots = Tables.all.map(Tables.path(sf, _)) :+ sf
    val sink = MetricSink()
    Monitors.storageMonitor(spark, roots, sink)
    val expected = sparkPrefix(StorageMonitor.inventory(spark, roots))
    assert(sinkValues(sink).filter { case (k, _) => isPrefixKey(k) } === expected)
  }

  test("synthetic objects: equal sizes, roots tied on count and bytes, " +
    "non-ASCII names in Spark's byte order") {
    // U+FF21 sorts after a surrogate pair in UTF-16 but before it in UTF-8
    val (wide, emoji) = ("Ａ", "😀")
    val cases: Seq[(String, Seq[(String, String, Long)])] = Seq(
      "equal sizes" -> Seq(("r1", "a", 10L), ("r1", "c", 10L), ("r1", "b", 5L),
        ("r2", "x", 7L), ("r2", "y", 8L), ("r3", "p", 15L), ("r3", "q", 0L)),
      "tied roots" -> Seq(("r3", "p", 15L), ("r3", "q", 0L), ("r2", "x", 7L), ("r2", "y", 8L)),
      "non-ASCII" -> Seq((emoji, wide, 3L), (emoji, emoji, 3L), (wide, "k", 6L),
        (wide, "l", 0L)),
      "one object" -> Seq(("solo", "f", 3145728L)),
      "sizes across MB" -> Seq(("m", "big", 5767168L), ("m", "odd", 1572863L),
        ("n", "n1", 1048576L), ("n", "n2", 1048576L), ("n", "n3", 1L)))
    cases.foreach { case (label, objects) =>
      val expected = sparkPrefix(objects.toDF("root", "file_name", "size_bytes"))
      assert(values(Monitors.prefixPoints(objects)) === expected, label)
    }
  }
}

/** The database monitor reads metadata the driver already holds, and the
  * storage monitor's one Spark job is its listing.
  */
class MonitorJobBudgetSpec extends AnyFunSuite {
  import graft.run.Monitors

  test("databaseMonitor runs no Spark job over the sf0.001 fixture") {
    Monitors.databaseMonitor(spark, sf, MetricSink()) // memoizes the schemas
    assert(jobsDuring(Monitors.databaseMonitor(spark, sf, MetricSink())) === 0)
  }

  test("storageMonitor runs exactly one Spark job: the listing") {
    val roots = Tables.warehouse.map(Tables.path(sf, _))
    assert(jobsDuring(Monitors.storageMonitor(spark, roots, MetricSink())) === 1)
  }
}

/** A target that throws is recorded, and the run goes on without it. */
class MonitorFailureSpec extends AnyFunSuite {
  import java.nio.file.{Files, Paths}
  import spark.implicits._
  import graft.run.MonitorRunner

  private def points(m: DataFrame): Map[String, MetricRow] =
    m.as[MetricRow].collect().map(r => r.key -> r).toMap

  test("a missing table fails alone: the other targets keep their metrics " +
    "and state, targets_failed is 1 and the metrics are flushed") {
    Seq(8, 1).foreach { parallelism =>
      withTempDir("graft-runner-fail") { tmp =>
        val m = MonitorRunner.run(spark, sf, Seq("region", "nation", "no_such_table"),
          s"$tmp/state", Some(s"$tmp/metrics"), parallelism)
        val p = points(m)
        assert(p("region.record_count").valueDouble === Some(5.0), parallelism)
        assert(p("nation.record_count").valueDouble === Some(25.0), parallelism)
        assert(p("all_tables.mean_record_count").valueDouble === Some(15.0), parallelism)
        assert(p("all_tables.tables_profiled").valueDouble === Some(2.0), parallelism)
        assert(p("all_tables.targets_failed").valueDouble === Some(1.0), parallelism)
        val err = p("run.no_such_table.error").valueString.get
        assert(err.startsWith("org.apache.spark.sql.AnalysisException: "), err)
        assert(!p.keys.exists(_.startsWith("no_such_table.")), parallelism)
        val state = new StateStore(s"$tmp/state")
        Seq("region" -> "5", "nation" -> "25").foreach { case (t, n) =>
          assert(state.get(spark, t, "record_count") === Some(n), t) }
        assert(spark.read.parquet(s"$tmp/metrics").count() === m.count())
      }
    }
  }

  test("a corrupt parquet file fails its table alone") {
    withTempDir("graft-runner-corrupt") { tmp =>
      Seq("region", "nation").foreach(t =>
        Files.copy(Paths.get(Tables.path(sf, t)), Paths.get(Tables.path(tmp, t))))
      Files.write(Paths.get(Tables.path(tmp, "broken")), "not a parquet file".getBytes)
      val p = points(MonitorRunner.run(spark, tmp, Seq("region", "broken", "nation"),
        s"$tmp/state", Some(s"$tmp/metrics")))
      assert(p("all_tables.targets_failed").valueDouble === Some(1.0))
      assert(p("all_tables.mean_record_count").valueDouble === Some(15.0))
      assert(p("run.broken.error").valueString.exists(_.nonEmpty))
      assert(spark.read.parquet(s"$tmp/metrics").count() === p.size.toLong)
    }
  }

  /** Snapshot writes into directory `dir` while `body` runs. */
  private def writesInto(dir: String)(body: => Unit): Int = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val target = new org.apache.hadoop.fs.Path(dir).toUri.getPath
    val writes = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qe.logical.foreach {
        case c: InsertIntoHadoopFsRelationCommand if c.outputPath.toUri.getPath == target =>
          writes.incrementAndGet()
        case _ =>
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drainListenerBus()
    spark.listenerManager.register(listener)
    try { body; drainListenerBus() } finally spark.listenerManager.unregister(listener)
    writes.get()
  }

  test("a run over three changed targets, one of them failing, writes the state " +
    "snapshot once, with both good targets' state") {
    withTempDir("graft-runner-once") { tmp =>
      Seq("region", "nation").foreach(t =>
        Files.copy(Paths.get(Tables.path(sf, t)), Paths.get(Tables.path(tmp, t))))
      Files.write(Paths.get(Tables.path(tmp, "broken")), "not a parquet file".getBytes)
      val state = s"$tmp/state"
      def run(): Map[String, MetricRow] =
        points(MonitorRunner.run(spark, tmp, Seq("region", "broken", "nation"), state))
      val first = writesInto(state + ".tmp") {
        val p = run()
        assert(p("all_tables.tables_profiled").valueDouble === Some(2.0))
        assert(p("all_tables.targets_failed").valueDouble === Some(1.0))
      }
      assert(first === 1)
      val reopened = new StateStore(state)
      Seq("region" -> "5", "nation" -> "25").foreach { case (t, n) =>
        assert(reopened.get(spark, t, "record_count") === Some(n), t)
        assert(reopened.entries(spark, t).keySet ===
          Set("record_count", "columns", "listing_signature", "metrics"), t)
      }
      assert(reopened.entries(spark, "broken").isEmpty)
      assert(reopened.read(spark).count() === 8)
      // nothing changed: the replaying run writes no snapshot
      assert(writesInto(state + ".tmp") {
        assert(run()("all_tables.tables_unchanged").valueDouble === Some(2.0))
      } === 0)
    }
  }

  test("a failing state write is recorded, and the targets' metrics are still " +
    "computed and flushed") {
    withTempDir("graft-runner-state-fail") { tmp =>
      // the state path lies under a regular file, so no snapshot can be written
      Files.write(Paths.get(s"$tmp/file"), "x".getBytes)
      val p = points(MonitorRunner.run(spark, sf, Seq("region", "nation"),
        s"$tmp/file/state", Some(s"$tmp/metrics")))
      assert(p("run.state.error").valueString.exists(_.nonEmpty))
      assert(p("all_tables.targets_failed").valueDouble === Some(0.0))
      assert(p("all_tables.mean_record_count").valueDouble === Some(15.0))
      assert(spark.read.parquet(s"$tmp/metrics").count() === p.size.toLong)
    }
  }

  test("a clean run reports targets_failed = 0 and no error keys") {
    withTempDir("graft-runner-clean") { tmp =>
      val p = points(MonitorRunner.run(spark, sf, Seq("region", "nation"), s"$tmp/state"))
      assert(p("all_tables.targets_failed").valueDouble === Some(0.0))
      assert(!p.keys.exists(_.startsWith("run.")))
    }
  }
}

/** The listing every monitor, the ingest corpus read and the codec
  * matrix share: `graft.util.Listing.files` returns what
  * `FileSystem.listFiles(root, true)` does, file for file and in the same
  * order, without building a `LocatedFileStatus` per file.
  */
class ListingSpec extends AnyFunSuite {
  import org.apache.hadoop.fs.{FileStatus, Path}

  private def triple(st: FileStatus) =
    (st.getPath.toString, st.getLen, st.getModificationTime)

  test("the walk and listFiles list the same files in the same order " +
    "under hidden segments, checksum files and an empty directory") {
    withTempDir("graft-listing") { dir =>
      val root = new Path(dir, "lake")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the local checksum file system writes a `.<name>.crc` beside each
      Seq("t/part-0.parquet", "t/k=1/part-1.parquet", "t/_stage/part-2.parquet",
        "t/.tmp/part-3.parquet", "t/k=1/_SUCCESS", "t/notes.crc", "u/a.json",
        "top.parquet").zipWithIndex.foreach { case (rel, i) =>
        val out = fs.create(new Path(root, rel))
        out.write(Array.fill(i + 1)(i.toByte))
        out.close()
      }
      fs.mkdirs(new Path(root, "t/empty"))
      def viaListFiles(p: Path) = {
        val it = fs.listFiles(p, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).map(triple).toList
      }
      val walked = graft.util.Listing.files(fs, root).map(triple).toList
      assert(walked === viaListFiles(root))
      assert(walked.size === 8)
      assert(walked.exists(_._1.endsWith("/t/.tmp/part-3.parquet")))
      assert(!walked.exists(_._1.endsWith(".parquet.crc")))
      assert(new java.io.File(s"$dir/lake/t/.part-0.parquet.crc").exists)
      // a file root lists itself
      val file = new Path(root, "top.parquet")
      assert(graft.util.Listing.files(fs, file).map(triple).toList ===
        viaListFiles(file))
      // the catalog's visible parquet set: hidden segments skipped
      val visible = CatalogMonitor.parquetFiles(spark, s"$dir/lake/t").get
        .map(_.getPath.getName).toSet
      assert(visible === Set("part-0.parquet", "part-1.parquet"))
    }
  }
}

/** The footer guard: the one-argument `ParquetFileReader.open(InputFile)`
  * builds its read options from a fresh Hadoop `Configuration`, parsing
  * the default resources once per file, so the program passes read
  * options built from the caller's conf.
  */
class FooterReaderGuardSpec extends AnyFunSuite {

  /** The argument lists of every `ParquetFileReader.open(` call in `src`. */
  private def openCalls(src: String): Seq[String] = {
    val call = "ParquetFileReader.open("
    Iterator.iterate(src.indexOf(call))(i => src.indexOf(call, i + 1)).takeWhile(_ >= 0)
      .map { i =>
        val start = i + call.length
        var (depth, j) = (1, start)
        while (depth > 0 && j < src.length) {
          src(j) match { case '(' => depth += 1 case ')' => depth -= 1 case _ => }
          j += 1
        }
        src.substring(start, j - 1)
      }.toSeq
  }

  /** Whether an argument list has a comma outside nested parentheses. */
  private def severalArgs(args: String): Boolean =
    args.foldLeft((0, false)) { case ((depth, seen), ch) => ch match {
      case '(' => (depth + 1, seen)
      case ')' => (depth - 1, seen)
      case ',' => (depth, seen || depth == 0)
      case _ => (depth, seen)
    } }._2

  test("the guard tells one-argument calls from calls with read options") {
    assert(openCalls("ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))")
      .map(severalArgs) === Seq(false))
    assert(openCalls("x; ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf), options)")
      .map(severalArgs) === Seq(true))
  }

  test("no program source calls the one-argument ParquetFileReader.open(") {
    val offenders = ListingGuardSpec.mainSources(_ => true)(src =>
      openCalls(src).exists(!severalArgs(_)))
    assert(offenders.isEmpty, s"one-argument ParquetFileReader.open( in: $offenders")
  }
}

/** The listing guard: a recursive `listFiles` builds a
  * `LocatedFileStatus` per file, which on the local file system forks a
  * process per file, so the program lists only through
  * `graft.util.Listing`.
  */
class ListingGuardSpec extends AnyFunSuite {

  test("no program source outside graft.util.Listing calls listFiles(") {
    val offenders = ListingGuardSpec.mainSources(
      _ != "scala/graft/util/Listing.scala")(_.contains("listFiles("))
    assert(offenders.isEmpty, s"listFiles( outside the walk helper: $offenders")
  }
}

object ListingGuardSpec {

  /** The `src/main` files, relative to it, that `include` admits and
    * whose text `offends`. */
  def mainSources(include: String => Boolean)(offends: String => Boolean): List[String] = {
    val main = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(main), main.toAbsolutePath)
    val stream = java.nio.file.Files.walk(main)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) && include(main.relativize(p).toString))
        .filter(p => offends(java.nio.file.Files.readString(p)))
        .map(main.relativize(_).toString).toList
    } finally stream.close()
  }
}

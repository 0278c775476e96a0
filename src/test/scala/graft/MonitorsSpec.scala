package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.CatalogMonitor
import graft.core.{MetricSink, Profiler}
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

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FormatRoundTrip, Sources}
import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.IngestPaths
import graft.util.TempDirs.withTempDir

import TestSpark._

// Specs of the operators behind [[registry.IngestQueries]].
//
// Streaming and ingest: Structured Streaming drains, streaming
// near-duplicate ingest, interval joins and file-format round trips.
//
// Each suite keeps its class name, so every test keeps the suite-qualified
// name it is reported under; the suites are grouped here by domain.

/** Round-11b: interchange-format round trips (q277–q279). The oracle
  * grades the checksums against the parquet source; these specs pin
  * the parts the oracle cannot see — byte-level fidelity per row
  * across each format, the non-vacuity of the hostile suffixes, and
  * the PERMISSIVE corrupt capture actually firing on malformed input.
  */
class Round11bSpec extends AnyFunSuite {

  /** Tiny corpus that exercises every hostile class (doc_id 0..7). */
  private def docs() = {
    import spark.implicits._
    (0L until 8L).map(i => (i, s"doc $i body", if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect().head

  test("jsonl round trip: checksum equals the source relation's, zero corrupt") {
    withTempDir("graft-rt-spec") { dir =>
      val got = rows(FormatRoundTrip.jsonlRoundTrip(spark, docs(), s"$dir/j"))
      assert(got.getAs[Long]("n_rows") === 8L)
      assert(got.getAs[Long]("n_corrupt") === 0L)
      assert(got.getAs[Long]("n_multiline") === 2L) // doc_id 0, 4
      assert(got.getAs[Long]("n_distinct") === 8L)
    }
  }

  test("csv round trip == jsonl round trip checksum (same relation " +
    "through both dialects, trailing tab and unicode included)") {
    withTempDir("graft-rt-spec") { dir =>
      val j = rows(FormatRoundTrip.jsonlRoundTrip(spark, docs(), s"$dir/j"))
      val c = rows(FormatRoundTrip.csvRoundTrip(spark, docs(), s"$dir/c"))
      Seq("n_rows", "n_corrupt", "total_chars", "n_distinct",
        "n_multiline", "row_xor", "md5_min").foreach { col =>
        assert(j.getAs[Any](col) === c.getAs[Any](col), col)
      }
    }
  }

  test("csv round trip is byte-exact per row (text2 survives newline, " +
    "quote, backslash, tab, non-ASCII)") {
    withTempDir("graft-rt-spec") { dir =>
      val src = FormatRoundTrip.hostileDocs(docs())
      src.write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(s"$dir/c")
      val back = spark.read.format("csv")
        .schema(new StructType()
          .add("doc_id", LongType).add("text2", StringType).add("lang", StringType))
        .option("header", "true").option("escape", "\"")
        .option("multiLine", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .load(s"$dir/c")
      val want = src.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val got = back.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === want)
      // the hostile classes are actually present post-trip
      assert(got.values.count(_.contains("\n")) === 2)
      assert(got.values.count(_.contains("\\slash\t")) === 2)
      assert(got.values.count(_.contains("\u20ac\u4e2d\u00e9")) === 2)
      assert(got.values.count(_.contains("\"quoted\"")) === 2)
    }
  }

  test("permissive corrupt capture fires: a malformed jsonl line lands " +
    "in n_corrupt, clean rows still count") {
    withTempDir("graft-rt-spec") { dir =>
      FormatRoundTrip.hostileDocs(docs()).coalesce(1)
        .write.mode("overwrite").json(s"$dir/j")
      // append a malformed line to the single part file
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/j"))
        .filter(p => p.getFileName.toString.startsWith("part-")).findFirst().get()
      java.nio.file.Files.writeString(part,
        "\n{\"doc_id\": 99, \"text2\": unquoted}\n",
        java.nio.file.StandardOpenOption.APPEND)
      // drop the LocalFileSystem checksum sidecar the raw append broke
      java.nio.file.Files.deleteIfExists(
        part.resolveSibling("." + part.getFileName.toString + ".crc"))
      val got = rows(FormatRoundTrip.jsonlRoundTripRead(spark, s"$dir/j"))
      assert(got.getAs[Long]("n_corrupt") === 1L)
      assert(got.getAs[Long]("n_rows") === 9L) // 8 clean + 1 corrupt row
    }
  }

  test("orc round trip: typed checksum equals the parquet-direct one " +
    "(timestamp seconds and half-even cents exact)") {
    import spark.implicits._
    withTempDir("graft-rt-spec") { dir =>
      val ev = Seq(
        (1L, java.sql.Timestamp.valueOf("2025-01-02 03:04:05.678"), 10L, "click", 1.005, "{\"a\":1}"),
        (2L, java.sql.Timestamp.valueOf("2025-06-07 08:09:10.999"), 11L, "view", 2.675, "{}"),
        (3L, java.sql.Timestamp.valueOf("2025-12-31 23:59:59.001"), 12L, "click", -0.125, "x"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val viaOrc = rows(FormatRoundTrip.orcRoundTrip(spark, ev, s"$dir/o"))
      // same checksum computed directly (no format hop)
      val direct = rows(FormatRoundTrip.eventChecksum(ev))
      Seq("n_rows", "id_sum", "ts_epoch_sum", "value_cents", "n_types",
        "row_xor").foreach { c =>
        assert(viaOrc.getAs[Any](c) === direct.getAs[Any](c), c)
      }
      assert(viaOrc.getAs[Long]("n_rows") === 3L)
      // rint half-even: 1.005*100 = 100.49999... -> 100; 2.675*100 is
      // EXACTLY 267.5 -> 268 (to even); -0.125*100 = -12.5 -> -12 (to even)
      assert(viaOrc.getAs[Long]("value_cents") === (100L + 268L - 12L))
    }
  }
}

/** Continuous corpus ingest (q280): the pieces the oracle can't grade —
  * the streaming wrapper's checkpoint resume (consumed files are never
  * reprocessed across restarts), replay stability at the corpus-row
  * level, the store-exclusion law that prevents the two-sink replay
  * loss, and verbatim quarantine capture.
  */
class Round11cSpec extends AnyFunSuite {

  private val schema = new StructType()
    .add("doc_id", LongType).add("text", StringType).add("lang", StringType)

  private def jsonl(path: String, lines: String*): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
    ()
  }

  /** The file stream source orders by modification time with an
    * unspecified tie-break; deliveries written in the same millisecond
    * need explicit stamps for a deterministic batch order.
    */
  private def stamp(path: String, secondsAgo: Long): Unit = {
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(path),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - secondsAgo * 1000))
    ()
  }

  private def doc(id: Long, text: String, lang: String = "en"): String =
    s"""{"doc_id": $id, "text": "$text", "lang": "$lang"}"""

  private def corpusIds(paths: IngestPaths): Set[Long] =
    StreamingIngest.corpus(spark, paths)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("streaming drain + restart: consumed files never reprocess, new " +
    "files dedup against the store") {
    withTempDir("graft-rt-spec") { dir =>
      val in = s"$dir/in"
      val paths = IngestPaths(s"$dir/c", s"$dir/s", s"$dir/q")
      jsonl(s"$in/d0.json", doc(1, "alpha beta"), doc(2, "gamma delta"))
      jsonl(s"$in/d1.json", doc(3, "alpha beta"), doc(4, "epsilon zeta"))
      stamp(s"$in/d0.json", 10); stamp(s"$in/d1.json", 5)
      val q1 = StreamingIngest.ingestAvailable(spark, in, schema, paths,
        s"$dir/ckpt", maxFilesPerTrigger = 1)
      q1.awaitTermination()
      // doc 3 duplicates doc 1's token set across deliveries
      assert(corpusIds(paths) === Set(1L, 2L, 4L))

      jsonl(s"$in/d2.json", doc(5, "gamma delta"), doc(6, "eta theta"))
      val q2 = StreamingIngest.ingestAvailable(spark, in, schema, paths,
        s"$dir/ckpt", maxFilesPerTrigger = 1)
      q2.awaitTermination()
      // restart with the same checkpoint: d0/d1 not reprocessed (their
      // batch partitions would otherwise be overwritten empty-of-new or
      // duplicated under fresh ids), doc 5 deduped against the store
      assert(corpusIds(paths) === Set(1L, 2L, 4L, 6L))
      val batches = StreamingIngest.corpus(spark, paths)
        .select("ingest_batch").distinct().count()
      assert(batches === 3L) // d0, d1, d2 — one partition each
    }
  }

  test("replay of a batch is row-identical (two-sink crash recovery)") {
    withTempDir("graft-rt-spec") { dir =>
      val in = s"$dir/in"
      val paths = IngestPaths(s"$dir/c", s"$dir/s", s"$dir/q")
      jsonl(s"$in/d0.json", doc(1, "alpha beta"), doc(2, "gamma delta"))
      jsonl(s"$in/d1.json", doc(3, "alpha beta"), doc(4, "iota kappa"),
        doc(5, "iota kappa"))
      def batch(file: String) = Sources.readValidated(spark, s"$in/$file", schema, "json")
      StreamingIngest.processBatch(batch("d0.json"), 0, paths)
      StreamingIngest.processBatch(batch("d1.json"), 1, paths)
      val before = StreamingIngest.corpus(spark, paths)
        .collect().map(_.toString).sorted.toSeq
      // replay batch 1 — same input, same id, store already contains
      // batch 1's fingerprints; the before-batch exclusion must make
      // the survivor set identical instead of empty
      StreamingIngest.processBatch(batch("d1.json"), 1, paths)
      val after = StreamingIngest.corpus(spark, paths)
        .collect().map(_.toString).sorted.toSeq
      assert(after === before)
      assert(corpusIds(paths) === Set(1L, 2L, 4L)) // 3 dup-of-1, 5 dup-of-4 in-batch
      // store stays one row per corpus doc
      assert(StreamingIngest.storeFingerprints(spark, paths.store).count() === 3L)
    }
  }

  test("storeFingerprints(beforeBatch) excludes the replaying batch's " +
    "own partition — the law that prevents replay loss") {
    withTempDir("graft-rt-spec") { dir =>
      val in = s"$dir/in"
      val paths = IngestPaths(s"$dir/c", s"$dir/s", s"$dir/q")
      jsonl(s"$in/d0.json", doc(1, "alpha beta"))
      jsonl(s"$in/d1.json", doc(2, "gamma delta"))
      def batch(file: String) = Sources.readValidated(spark, s"$in/$file", schema, "json")
      StreamingIngest.processBatch(batch("d0.json"), 0, paths)
      StreamingIngest.processBatch(batch("d1.json"), 1, paths)
      assert(StreamingIngest.storeFingerprints(spark, paths.store, beforeBatch = 1L)
        .count() === 1L)
      assert(StreamingIngest.storeFingerprints(spark, paths.store).count() === 2L)
      // empty store: well-typed empty relation, not an error
      assert(StreamingIngest.storeFingerprints(spark, s"$dir/nope").count() === 0L)
    }
  }

  test("near-dup ingest: store drop, within-batch drop, novel kept — " +
    "and the one-step chain law (a~b, b~c, a!~c retires BOTH b and c)") {
    withTempDir("graft-ingest-spec") { dir =>
      val in = s"$dir/in"
      val paths = IngestPaths(s"$dir/c", s"$dir/s", s"$dir/q")
      // sliding 10-word windows over a 14-word sequence: J(a,b)=7/11,
      // J(b,c)=7/11 (both >= 0.5), J(a,c)=5/13 (< 0.5)
      val ws = (1 to 14).map(i => s"w$i")
      def win(from: Int) = ws.slice(from, from + 10).mkString(" ")
      val a = win(0); val b = win(2); val c = win(4)
      jsonl(s"$in/d0.json", doc(1, a), doc(2, "totally different words here"))
      // batch 1: 3 = store-dup of doc 1 (identical text), 4 novel,
      // 5 = within-dup of 4 (identical), plus the chain b(6)~a-store?
      jsonl(s"$in/d1.json", doc(3, a), doc(4, "unrelated novel content"),
        doc(5, "unrelated novel content"), doc(6, b), doc(7, c))
      def batch(f: String) = Sources.readValidated(spark, s"$in/$f", schema, "json")
      // rowsPerBand = 1 (16 single-row bands): candidate recall at
      // J >= 0.5 is effectively total, so the LAW is what's under test,
      // not the banding luck of a 5-doc fixture (q281 exercises the
      // production 4-row banding at corpus scale)
      def run(f: String, id: Long) = StreamingIngest.processBatchNearDup(
        batch(f), id, paths, rowsPerBand = 1).collect().head
      val r0 = run("d0.json", 0)
      assert(r0.getAs[Long]("n_kept") === 2L)
      val r1 = run("d1.json", 1)
      // 3 drops against the STORE (identical to survivor 1 = text a);
      // 5 drops WITHIN (identical to lower-id 4); 6 (= b) drops against
      // store-survivor a (J = 7/11); 7 (= c) drops within against
      // lower-id 6 EVEN THOUGH 6 itself dropped — the one-step law
      assert(r1.getAs[Long]("n_dropped_store") >= 2L,  // 3 and 6
        r1.toString)
      assert(r1.getAs[Long]("n_kept") === 1L, r1.toString) // only 4
      assert(corpusIds(paths) === Set(1L, 2L, 4L))
      // replay of batch 1 is row-identical (three-sink crash recovery)
      val r1b = run("d1.json", 1)
      assert(r1b.toSeq === r1.toSeq)
      assert(corpusIds(paths) === Set(1L, 2L, 4L))
    }
  }

  test("near-dup streaming wrapper drains deliveries under the same " +
    "checkpoint contract; hot-bucket cap thins candidates but the store " +
    "keeps full signatures") {
    withTempDir("graft-rt-spec") { dir =>
      val in = s"$dir/in"
      val paths = IngestPaths(s"$dir/c", s"$dir/s", s"$dir/q")
      jsonl(s"$in/d0.json", doc(1, "alpha beta gamma"), doc(2, "delta epsilon"))
      jsonl(s"$in/d1.json", doc(3, "alpha beta gamma"), doc(4, "zeta eta"))
      stamp(s"$in/d0.json", 10); stamp(s"$in/d1.json", 5)
      val q = StreamingIngest.ingestAvailableNearDup(spark, in, schema, paths,
        s"$dir/ckpt", maxFilesPerTrigger = 1)
      q.awaitTermination()
      assert(corpusIds(paths) === Set(1L, 2L, 4L)) // 3 identical to 1
      // store carries full band sets for every survivor: 4 bands each
      val bands = spark.read.option("basePath", s"$dir/s/bands")
        .parquet(s"$dir/s/bands")
      assert(bands.count() === 3L * 4L)
      // cap = 0 drops every candidate bucket: nothing can collide, so
      // an identical re-delivery is KEPT (recall loss is the documented
      // cost) — while its full signature still lands in the store
      val d2 = s"$dir/in2"
      jsonl(s"$d2/d.json", doc(5, "alpha beta gamma"))
      val r = StreamingIngest.processBatchNearDup(
        Sources.readValidated(spark, d2, schema, "json"), 99, paths,
        maxBucketSize = Some(0L)).collect().head
      assert(r.getAs[Long]("n_kept") === 1L)
      assert(r.getAs[Long]("n_dropped_store") === 0L)
      val bandsAfter = spark.read.option("basePath", s"$dir/s/bands")
        .parquet(s"$dir/s/bands").filter(col("ingest_batch") === 99)
      assert(bandsAfter.count() === 4L)
    }
  }

  test("malformed lines quarantine verbatim and never reach the corpus") {
    withTempDir("graft-rt-spec") { dir =>
      val in = s"$dir/in"
      val paths = IngestPaths(s"$dir/c", s"$dir/s", s"$dir/q")
      val bad = """{"doc_id": 9, "text": unquoted}"""
      jsonl(s"$in/d0.json", doc(1, "alpha beta"), bad)
      StreamingIngest.processBatch(
        Sources.readValidated(spark, in, schema, "json"), 0, paths)
      assert(corpusIds(paths) === Set(1L))
      val quar = StreamingIngest.quarantined(spark, paths).get
        .select("raw_line").collect().map(_.getString(0)).toSeq
      assert(quar === Seq(bad))
    }
  }
}

/** Round-12: store COMPACTION for long-running ingest — batches below
  * the replay watermark merge into the base partition (ingest_batch =
  * −1) with layout, bucketing, and dedup semantics unchanged.
  *
  *   1. row multisets identical pre/post compaction, file count drops;
  *   2. the dedup law is UNCHANGED: post-compaction deliveries still
  *      drop against survivors that now live in the base partition
  *      (−1 < N for every later batch N);
  *   3. crash-window duplicate tolerance: rows present in BOTH base
  *      and a not-yet-dropped batch partition (the state a crash
  *      between the base insert and the partition drops leaves) do not
  *      change any delivery's outcome, and re-running the compaction
  *      converges;
  *   4. compaction is repeat-safe (second run with nothing new merges
  *      nothing / changes nothing).
  */
class Round12CompactStoreSpec extends AnyFunSuite {

  private def asBatch(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("_corrupt_record", lit(null).cast("string"))
  }

  private val base = "the quick brown fox jumps over the lazy dog and " +
    "then runs far away into the deep dark forest tonight"

  private def bandRows(tmp: String) =
    spark.table(StreamingIngest.storeTableName("bands", s"$tmp/store/bands"))

  private def parquetFiles(dir: String): Long =
    graft.sources.FormatRoundTrip.dataFileCount(spark, dir)

  test("near-dup store compaction: identical rows, fewer files, drop " +
    "law preserved, repeat-safe") {
    withTempDir("graft-r12-compact") { tmp =>
      val paths = IngestPaths(s"$tmp/corpus", s"$tmp/store", s"$tmp/quarantine")
      (0 until 4).foreach { k =>
        StreamingIngest.processBatchNearDup(asBatch(Seq(
          (100L * k + 1, s"wholly distinct content number $k about " +
            s"topic ${('a' + k).toChar} with no shared phrasing"),
          (100L * k + 2, base + s" variant $k"))), k.toLong, paths)
      }
      val before = bandRows(tmp)
        .select("doc_id", "band_idx", "band_key")
        .collect().map(_.toSeq).sortBy(_.toString)
      val filesBefore = parquetFiles(s"$tmp/store/bands")

      // merge batches 0..2; batch 3 stays replayable
      val rep = StreamingIngest.compactStores(spark, paths, beforeBatch = 3L)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2))).toMap
      assert(rep.keySet === Set("bands", "ngrams"),
        s"near-dup run compacts bands+ngrams only: $rep")
      assert(rep("bands")._1 === 3L, s"three band partitions merged: $rep")

      val after = bandRows(tmp)
        .select("doc_id", "band_idx", "band_key")
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(after.toSeq === before.toSeq,
        "compaction must not change the band row multiset")
      val partsAfter = bandRows(tmp).select("ingest_batch").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(partsAfter === Set(-1L, 3L), s"base + live batch: $partsAfter")
      assert(parquetFiles(s"$tmp/store/bands") < filesBefore,
        "compaction must reduce the file count")

      // the drop law reads through the base partition: a near-dup of a
      // batch-0 survivor (now in base) still drops
      val r4 = StreamingIngest.processBatchNearDup(asBatch(Seq(
        (900L, base + " variant 0 almost"),
        (901L, "entirely novel text mentioning compaction and nothing " +
          "else from any earlier delivery whatsoever"))), 4L, paths)
        .collect().head
      assert(r4.getLong(3) >= 1L && r4.getLong(5) <= 1L,
        s"base-partition survivor must still block near-dups: $r4")

      // repeat-safe: nothing below the watermark left to merge
      val rep2 = StreamingIngest.compactStores(spark, paths, 3L)
      assert(rep2.filter(col("store") === "bands").count() === 0L)
      StreamingIngest.dropStoreTables(spark, paths)
    }
  }

  test("exact-tier compaction + crash-window duplicates: outcomes " +
    "unchanged, re-run converges") {
    withTempDir("graft-r12-compact-fps") { tmp =>
      val paths = IngestPaths(s"$tmp/corpus", s"$tmp/store", s"$tmp/quarantine")
      StreamingIngest.processBatch(asBatch(Seq(
        (1L, "alpha beta"), (2L, "gamma delta"))), 0L, paths)
      StreamingIngest.processBatch(asBatch(Seq(
        (3L, "epsilon zeta"))), 1L, paths)
      val fpsBefore = StreamingIngest.storeFingerprints(spark, paths.store)
        .collect().map(_.getString(0)).sorted.toSeq

      StreamingIngest.compactStores(spark, paths, beforeBatch = 2L)
      val fpsAfter = StreamingIngest.storeFingerprints(spark, paths.store)
        .collect().map(_.getString(0)).sorted.toSeq
      assert(fpsAfter === fpsBefore, "fingerprint set unchanged")

      // crash-window state: base rows ALSO present in a stale batch
      // partition (as if the post-insert drops never ran) — duplicate
      // fingerprints must not change any later delivery's outcome
      val t = StreamingIngest.storeTableName("fps", paths.store)
      spark.table(t).filter(col("ingest_batch") === -1L)
        .select("fingerprint").limit(1)
        .createOrReplaceTempView("__r12_dup_fp")
      spark.sql(s"INSERT INTO $t PARTITION (ingest_batch=0) " +
        "SELECT * FROM __r12_dup_fp")
      StreamingIngest.processBatch(asBatch(Seq(
        (10L, "alpha beta"), (11L, "fresh eta theta"))), 2L, paths)
      val ids = StreamingIngest.corpus(spark, paths)
        .filter(col("ingest_batch") === 2L)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(11L),
        s"duplicated store fingerprints must not change outcomes: $ids")

      // re-running the compaction absorbs the stale partition and its
      // duplicate: raw row count == distinct count afterwards
      StreamingIngest.compactStores(spark, paths, beforeBatch = 2L)
      val raw = spark.table(t).count()
      val dis = spark.table(t).select("fingerprint").distinct().count()
      assert(raw === dis,
        s"compaction re-run converges to a duplicate-free store ($raw/$dis)")
      assert(StreamingIngest.storeFingerprints(spark, paths.store, 2L)
        .collect().map(_.getString(0)).sorted.toSeq === fpsBefore,
        "pre-watermark fingerprint set unchanged by the re-run")
      val parts = spark.table(t).select("ingest_batch").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(parts === Set(-1L, 2L), s"stale partition absorbed: $parts")
      StreamingIngest.dropStoreTables(spark, paths)
    }
  }
}

/** Round-12: COMPRESSED deliveries through the ingest loop — the codec
  * axis (q282) meeting the continuous-ingest surface (q280/q281). Real
  * feeds arrive as `.json.gz`; Spark's file sources decompress by
  * extension, so the whole quarantine/dedup/replay machinery must work
  * unchanged on gzipped JSONL — including a malformed line INSIDE a
  * gzipped member (the corrupt capture runs post-decompression) and a
  * mixed plain+gzip directory, which is what a feed migration looks
  * like mid-cutover.
  */
class Round12GzipIngestSpec extends AnyFunSuite {

  private val schema = new StructType()
    .add("doc_id", LongType).add("text", StringType).add("lang", StringType)

  private def gz(path: String, lines: String*): Unit = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path).getParent)
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)))
    out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    out.close()
  }

  private def plain(path: String, lines: String*): Unit = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path), lines.mkString("\n") + "\n")
    ()
  }

  private def doc(id: Long, text: String): String =
    s"""{"doc_id": $id, "text": "$text", "lang": "en"}"""

  private def readValidated(in: String) =
    graft.sources.Sources.readValidated(spark, in, schema, "json")

  test("gzipped JSONL deliveries: dedup across batches, malformed line " +
    "inside the gzip member quarantines, replay is row-identical") {
    withTempDir("graft-gz-ingest") { dir =>
      val paths = IngestPaths(s"$dir/c", s"$dir/s", s"$dir/q")
      gz(s"$dir/in0/d0.json.gz",
        doc(1, "alpha beta"), doc(2, "gamma delta"),
        """{"doc_id": 99, "text": unquoted}""")
      StreamingIngest.processBatch(readValidated(s"$dir/in0"), 0L, paths)
      // batch 1 arrives PLAIN (mid-cutover mix) with a cross-batch dup
      plain(s"$dir/in1/d1.json",
        doc(3, "alpha beta"), doc(4, "epsilon zeta"))
      StreamingIngest.processBatch(readValidated(s"$dir/in1"), 1L, paths)
      // replay batch 1 (two-sink crash recovery) on the same input
      StreamingIngest.processBatch(readValidated(s"$dir/in1"), 1L, paths)

      val ids = StreamingIngest.corpus(spark, paths)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 2L, 4L),
        "doc 3 dups doc 1 across the gzip boundary; malformed never lands")
      val quarantined = StreamingIngest.quarantined(spark, paths)
        .map(_.select("raw_line").collect().map(_.getString(0)).toSeq)
        .getOrElse(Nil)
      assert(quarantined === Seq("""{"doc_id": 99, "text": unquoted}"""),
        "the malformed line inside the gzip member quarantines verbatim")
    }
  }

  test("gzipped deliveries through the NEAR-dup tier: store drop law " +
    "holds across compressed batches") {
    withTempDir("graft-gz-neardup") { dir =>
      val paths = IngestPaths(s"$dir/c", s"$dir/s", s"$dir/q")
      val base = "the quick brown fox jumps over the lazy dog and then " +
        "runs far away into the deep dark forest tonight"
      gz(s"$dir/in0/d0.json.gz", doc(1, base))
      val r0 = StreamingIngest.processBatchNearDup(
        readValidated(s"$dir/in0"), 0L, paths).collect().head
      assert(r0.getLong(5) === 1L)
      gz(s"$dir/in1/d1.json.gz",
        doc(10, base.replace("tonight", "today")),
        doc(11, "wholly different content with no shared bigrams at all " +
          "describing compressed delivery handling in the ingest loop"))
      val r1 = StreamingIngest.processBatchNearDup(
        readValidated(s"$dir/in1"), 1L, paths).collect().head
      assert(r1.getLong(3) === 1L && r1.getLong(5) === 1L,
        s"near-dup of the gzipped batch-0 survivor drops: $r1")
      StreamingIngest.dropStoreTables(spark, paths)
    }
  }
}

/** Round-12: the near-dup ingest store is a BUCKETED external table —
  * the r11 verdict's task 4. Checks, on a real two-delivery run:
  *
  *   1. drop semantics across the store boundary survive the layout
  *      change (a batch-1 near-dup of a batch-0 survivor drops as
  *      n_dropped_store), and a batch replay is bit-stable;
  *   2. the candidate probe's physical plan reads the store side
  *      WITHOUT an Exchange (bucket layout == join key) while the
  *      delivery side carries the only shuffle — the whole point of
  *      bucketing: per-delivery cost never re-shuffles the
  *      accumulated store;
  *   3. the ngram verification join likewise streams the ngram store
  *      shuffle-free on its doc_id bucketing.
  */
class Round12IngestStoreSpec extends AnyFunSuite {

  private def doc(id: Long, text: String): (Long, String) = (id, text)

  private def asBatch(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("_corrupt_record", lit(null).cast("string"))
  }

  private val base = "the quick brown fox jumps over the lazy dog " +
    "and then runs far away into the deep dark forest tonight"

  test("store-backed near-dup drop law and replay stability on the " +
    "bucketed table layout") {
    withTempDir("graft-r12-store") { tmp =>
      val paths = IngestPaths(s"$tmp/corpus", s"$tmp/store", s"$tmp/quarantine")
      val b0 = asBatch(Seq(
        doc(1L, base),
        doc(2L, "completely unrelated content about spark bucketing " +
          "and sorted store layouts for incremental ingest pipelines")))
      val r0 = StreamingIngest.processBatchNearDup(b0, 0L, paths)
        .collect().head
      assert(r0.getLong(5) === 2L, s"batch 0 keeps both docs: $r0")
      // batch 1: doc 10 near-dups doc 1 (one word changed), doc 11 fresh
      val b1 = asBatch(Seq(
        doc(10L, base.replace("tonight", "today")),
        doc(11L, "a third totally distinct document mentioning neither " +
          "foxes nor bucket layouts just to survive the filter stage")))
      val r1 = StreamingIngest.processBatchNearDup(b1, 1L, paths)
        .collect().head
      assert(r1.getLong(3) === 1L, s"batch 1 store-drop expected: $r1")
      assert(r1.getLong(5) === 1L, s"batch 1 keeps one doc: $r1")
      // replay batch 1 (crash-recovery): identical report, store stable
      val r1b = StreamingIngest.processBatchNearDup(b1, 1L, paths)
        .collect().head
      assert(r1.toSeq === r1b.toSeq, "replay must be bit-stable")
      val bandsTable = StreamingIngest
        .storeTableName("bands", s"$tmp/store/bands")
      val perBatch = spark.table(bandsTable)
        .groupBy("ingest_batch").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perBatch.keySet === Set(0L, 1L),
        s"one store partition per delivery: $perBatch")
      // survivors only: batch 1 persisted exactly one doc's bands
      val docsB1 = spark.table(bandsTable)
        .filter(col("ingest_batch") === 1L)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(docsB1 === Set(11L), s"batch 1 persists only survivors: $docsB1")
      StreamingIngest.dropStoreTables(spark, paths)
    }
  }

  /** No Exchange anywhere above the store table's scan: collect every
    * shuffle in the (initial) physical plan and assert none of their
    * subtrees reach a file scan rooted under `storeDirFragment`.
    * With `requireBucketed` the scan must additionally BE bucketed —
    * the shuffle-free-by-layout regime (sort-merge path); without it
    * the planner may legitimately stream the store through a
    * BroadcastHashJoin and skip bucketed reading entirely.
    */
  private def assertStoreSideShuffleFree(df: DataFrame,
      storeDirFragment: String, requireBucketed: Boolean): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def scansUnder(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => f
    }
    val plan = unwrap(df.queryExecution.executedPlan)
    val storeScans = scansUnder(plan).filter(f =>
      f.relation.location.rootPaths.exists(_.toString.contains(storeDirFragment)))
    assert(storeScans.nonEmpty, s"no store scan in plan:\n$plan")
    if (requireBucketed)
      assert(storeScans.forall(_.bucketedScan),
        s"store scan not bucketed:\n$plan")
    val shuffles = plan.collect {
      case e: ShuffleExchangeLike
          if scansUnder(e.asInstanceOf[SparkPlan]).exists(f =>
            f.relation.location.rootPaths.exists(
              _.toString.contains(storeDirFragment))) =>
        e.nodeName
    }
    assert(shuffles.isEmpty,
      s"store side under $storeDirFragment must not shuffle, " +
        s"found $shuffles in:\n$plan")
  }

  test("EXACT-tier fingerprint store: anti-join reads the store side " +
    "without an Exchange (distinct included)") {
    withTempDir("graft-r12-fps") { tmp =>
      val paths = IngestPaths(s"$tmp/corpus", s"$tmp/store", s"$tmp/quarantine")
      StreamingIngest.processBatch(asBatch(
        (1L to 30L).map(i => doc(i, s"alpha document $i"))), 0L, paths)
      StreamingIngest.processBatch(asBatch(
        (100L to 120L).map(i => doc(i, s"beta document $i"))), 1L, paths)
      // cross-batch dup law survives the table layout
      StreamingIngest.processBatch(asBatch(Seq(
        doc(500L, "alpha document 1"), doc(501L, "novel gamma text"))),
        2L, paths)
      val ids = StreamingIngest.corpus(spark, paths)
        .filter(col("ingest_batch") === 2L)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(501L), s"dup of batch-0 doc must drop: $ids")

      import spark.implicits._
      val known = StreamingIngest.storeFingerprints(spark, paths.store, 3L)
      def anti = Seq((900L, "zz")).toDF("doc_id", "__fp")
        .join(known, col("__fp") === col("fingerprint"), "left_anti")
      assertStoreSideShuffleFree(anti, "store", requireBucketed = false)
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        assertStoreSideShuffleFree(anti, "store", requireBucketed = true)
      }
      StreamingIngest.dropStoreTables(spark, paths)
    }
  }

  test("candidate probe and ngram verification read the store side " +
    "without an Exchange") {
    withTempDir("graft-r12-plan") { tmp =>
      val paths = IngestPaths(s"$tmp/corpus", s"$tmp/store", s"$tmp/quarantine")
      val b0 = asBatch((1L to 40L).map(i =>
        doc(i, s"document number $i with shared vocabulary " + base)))
      StreamingIngest.processBatchNearDup(b0, 0L, paths)
      val b1 = asBatch((100L to 120L).map(i =>
        doc(i, s"fresh delivery $i probing the persistent store " + base)))
      StreamingIngest.processBatchNearDup(b1, 1L, paths)

      import graft.operators.Dedup
      val bandsNew = Dedup.bandExplode(
        Dedup.minhashSignatures(asBatch(Seq(doc(500L, base + " anew"))), 16))
      val bandsTable = StreamingIngest
        .storeTableName("bands", s"$tmp/store/bands")
      val storeBands = spark.table(bandsTable)
        .filter(col("ingest_batch") < 2L)
        .select(col("doc_id").as("store_id"), col("band_idx"), col("band_key"))
      // the operator's candidate probe up to the join (its distinct()
      // shuffles JOIN OUTPUT, which is expected and not under test)
      def probe = bandsNew
        .join(storeBands, Seq("band_idx", "band_key"))
        .select("doc_id", "store_id")
      val ngramsTable = StreamingIngest
        .storeTableName("ngrams", s"$tmp/store/ngrams")
      val storeNg = spark.table(ngramsTable)
        .filter(col("ingest_batch") < 2L)
        .select(col("doc_id").as("store_id"), col("hs").as("hb"))
      import spark.implicits._
      def verify = Seq((500L, 1L), (500L, 2L)).toDF("doc_id", "store_id")
        .join(storeNg, "store_id")

      // regime 1 (default): small delivery broadcasts, store STREAMS
      assertStoreSideShuffleFree(probe, "store/bands",
        requireBucketed = false)
      assertStoreSideShuffleFree(verify, "store/ngrams",
        requireBucketed = false)
      // regime 2 (large delivery — broadcast off): sort-merge path,
      // where the BUCKET layout is what saves the store-side Exchange
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        assertStoreSideShuffleFree(probe, "store/bands",
          requireBucketed = true)
        assertStoreSideShuffleFree(verify, "store/ngrams",
          requireBucketed = true)
      }
      StreamingIngest.dropStoreTables(spark, paths)
    }
  }
}

/** Round-13 verdict task 6: compaction WIRED INTO the ingest loop.
  *
  * 1. A 10-delivery near-dup ingest with `compactEvery = Some(4)`
  *    (compaction fires inside the loop after batches 4 and 8) produces
  *    a corpus BIT-IDENTICAL to the uncompacted twin run — per (doc_id,
  *    ingest_batch) — while the band store ends with the base partition
  *    plus only the post-watermark batches, in fewer files.
  * 2. The drop law reads through the compacted base: a late delivery's
  *    near-dup of a batch-0 survivor (whose signatures now live in
  *    ingest_batch = −1) still drops.
  * 3. Round-12 ADVICE: the eager localCheckpoints inside the batch
  *    functions no longer leak — the persistent-RDD set is unchanged
  *    after a batch completes.
  */
class Round13IngestLoopSpec extends AnyFunSuite {

  private val schema = new StructType()
    .add("doc_id", LongType).add("text", StringType).add("lang", StringType)

  private def jsonl(path: String, lines: String*): Unit = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
    ()
  }

  private def stamp(path: String, secondsAgo: Long): Unit = {
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(path),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - secondsAgo * 1000))
    ()
  }

  private def doc(id: Long, text: String): String =
    s"""{"doc_id": $id, "text": "$text", "lang": "en"}"""

  private val base = "the quick brown fox jumps over the lazy dog and " +
    "then runs far away into the deep dark forest tonight under stars"

  /** 10 deliveries: per batch k one wholly-unique doc (100k+1) and one
    * near-dup of the batch-0 base variant (100k+2) that must drop from
    * batch 1 on.
    */
  private def writeDeliveries(in: String): Unit =
    (0 until 10).foreach { k =>
      jsonl(s"$in/d$k.json",
        doc(100L * k + 1, s"wholly distinct content number $k about " +
          s"subject ${('a' + k).toChar} with completely unshared phrasing " +
          s"item$k widget$k gadget$k"),
        doc(100L * k + 2, base + s" tail$k"))
      stamp(s"$in/d$k.json", 100 - k)
    }

  private def corpusPairs(paths: IngestPaths): Set[(Long, Long)] =
    StreamingIngest.corpus(spark, paths)
      // partition discovery types ingest_batch as INT on the raw read
      .select(col("doc_id"), col("ingest_batch").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def parquetFiles(dir: String): Long =
    graft.sources.FormatRoundTrip.dataFileCount(spark, dir)

  test("10 deliveries with in-loop compactEvery=4: corpus bit-identical " +
    "to the uncompacted twin, store collapsed to base + live batches") {
    withTempDir("graft-r13-loop") { tmp =>
      val inA = s"$tmp/inA"; val inB = s"$tmp/inB"
      writeDeliveries(inA); writeDeliveries(inB)
      val pA = IngestPaths(s"$tmp/ca", s"$tmp/sa", s"$tmp/qa")
      val pB = IngestPaths(s"$tmp/cb", s"$tmp/sb", s"$tmp/qb")

      StreamingIngest.ingestAvailableNearDup(spark, inA, schema, pA,
        s"$tmp/ckA", maxFilesPerTrigger = 1, compactEvery = Some(4))
        .awaitTermination()
      StreamingIngest.ingestAvailableNearDup(spark, inB, schema, pB,
        s"$tmp/ckB", maxFilesPerTrigger = 1)
        .awaitTermination()

      val a = corpusPairs(pA); val b = corpusPairs(pB)
      assert(a === b, "in-loop compaction must not change any outcome")
      // expected law: batch 0 keeps both docs; batches 1-9 keep only
      // the unique doc (their base variant near-dups batch 0's)
      val expected = Set((1L, 0L), (2L, 0L)) ++
        (1 until 10).map(k => (100L * k + 1, k.toLong)).toSet
      assert(a === expected, s"drop law: $a")

      // compaction fired at batches 4 and 8: bands hold base + 8,9 only
      val bandParts = spark.table(
        StreamingIngest.storeTableName("bands", s"${pA.store}/bands"))
        .select("ingest_batch").distinct().collect()
        .map(_.getLong(0)).toSet
      assert(bandParts === Set(-1L, 8L, 9L),
        s"compacted store partitions: $bandParts")
      assert(parquetFiles(s"${pA.store}/bands") <
        parquetFiles(s"${pB.store}/bands"),
        "compaction must reduce the band store file count")

      // row multisets identical between the twins (layout differs only)
      def bandRows(p: IngestPaths) = spark.table(
        StreamingIngest.storeTableName("bands", s"${p.store}/bands"))
        .select("doc_id", "band_idx", "band_key").collect()
        .map(_.toSeq).sortBy(_.toString).toSeq
      assert(bandRows(pA) === bandRows(pB),
        "band signatures must be unaffected by compaction")

      StreamingIngest.dropStoreTables(spark, pA)
      StreamingIngest.dropStoreTables(spark, pB)
    }
  }

  test("day-zero bootstrap: the FIRST streaming delivery (batch 0) " +
    "dedups against the bootstrapped store and cannot overwrite it") {
    withTempDir("graft-r13-boot") { tmp =>
      import spark.implicits._
      val in = s"$tmp/in"
      val paths = IngestPaths(s"$tmp/c", s"$tmp/s", s"$tmp/q")
      // existing corpus: one doc whose near-dups must drop from day one
      StreamingIngest.bootstrapNearDupStore(spark,
        Seq((5000L, base)).toDF("doc_id", "text"), paths)
      jsonl(s"$in/d0.json",
        doc(1L, base + " tailX"), // near-dup of the bootstrapped doc
        doc(2L, "entirely novel content about day zero bootstrap " +
          "semantics and nothing else whatsoever"))
      StreamingIngest.ingestAvailableNearDup(spark, in, schema, paths,
        s"$tmp/ck", maxFilesPerTrigger = 1).awaitTermination()
      // streaming numbers its first batch 0: the bootstrap partition
      // must be BELOW it (ingest_batch = -1), visible and untouched
      assert(corpusPairs(paths) === Set((2L, 0L)),
        "batch 0 must drop the bootstrap near-dup and keep the novel doc")
      val bootRows = spark.table(
        StreamingIngest.storeTableName("bands", s"${paths.store}/bands"))
        .filter(col("ingest_batch") === -1L)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(bootRows === Set(5000L),
        s"bootstrap partition must survive the first delivery: $bootRows")
      StreamingIngest.dropStoreTables(spark, paths)
    }
  }

  test("restart boundary: a second drain under the same checkpoint " +
    "resumes past compacted history and keeps deduping against it") {
    withTempDir("graft-r13-restart") { tmp =>
      val in = s"$tmp/in"
      val paths = IngestPaths(s"$tmp/c", s"$tmp/s", s"$tmp/q")
      // phase 1: 5 deliveries, compaction fires in-loop after batch 4
      (0 until 5).foreach { k =>
        jsonl(s"$in/d$k.json",
          doc(100L * k + 1, s"unique phase one text $k alpha$k beta$k " +
            s"gamma$k"),
          doc(100L * k + 2, base + s" tail$k"))
        stamp(s"$in/d$k.json", 200 - k)
      }
      StreamingIngest.ingestAvailableNearDup(spark, in, schema, paths,
        s"$tmp/ck", maxFilesPerTrigger = 1, compactEvery = Some(4))
        .awaitTermination()
      val partsMid = spark.table(
        StreamingIngest.storeTableName("bands", s"${paths.store}/bands"))
        .select("ingest_batch").distinct().collect()
        .map(_.getLong(0)).toSet
      assert(partsMid === Set(-1L, 4L), s"phase-1 store layout: $partsMid")

      // phase 2 ("restart"): 3 more deliveries under the SAME
      // checkpoint — consumed files must not reprocess, and the new
      // batches dedup against survivors now living in the BASE partition
      (5 until 8).foreach { k =>
        jsonl(s"$in/d$k.json",
          doc(100L * k + 1, s"unique phase two text $k delta$k eps$k " +
            s"zeta$k"),
          doc(100L * k + 2, base + s" tail$k"))
        stamp(s"$in/d$k.json", 200 - k)
      }
      StreamingIngest.ingestAvailableNearDup(spark, in, schema, paths,
        s"$tmp/ck", maxFilesPerTrigger = 1, compactEvery = Some(4))
        .awaitTermination()
      val expected = Set((1L, 0L), (2L, 0L)) ++
        (1 until 8).map(k => (100L * k + 1, k.toLong)).toSet
      assert(corpusPairs(paths) === expected,
        "restart must resume at batch 5 and dedup against compacted " +
          s"history: ${corpusPairs(paths)}")
      StreamingIngest.dropStoreTables(spark, paths)
    }
  }

  test("compactEvery = Some(0) is refused before the stream starts, so " +
    "no delivery is written") {
    withTempDir("graft-compact-every") { tmp =>
      val in = s"$tmp/in"
      val paths = IngestPaths(s"$tmp/c", s"$tmp/s", s"$tmp/q")
      jsonl(s"$in/d0.json", doc(1L, base))
      intercept[IllegalArgumentException] {
        StreamingIngest.ingestAvailable(spark, in, schema, paths, s"$tmp/ck1",
          compactEvery = Some(0))
      }
      intercept[IllegalArgumentException] {
        StreamingIngest.ingestAvailableNearDup(spark, in, schema, paths,
          s"$tmp/ck2", compactEvery = Some(0))
      }
      assert(!new java.io.File(paths.corpus).exists())
    }
  }

  test("localCheckpoint blocks release after each batch (ADVICE: no " +
    "persistent-RDD accumulation in a long-running loop)") {
    withTempDir("graft-r13-ckpt") { tmp =>
      import spark.implicits._
      val paths = IngestPaths(s"$tmp/c", s"$tmp/s", s"$tmp/q")
      def batch(k: Long) = Seq(
        (100L * k + 1, s"unique payload number $k entirely fresh " +
          s"wording alpha$k beta$k"),
        (100L * k + 2, base + s" suffix$k"))
        .toDF("doc_id", "text")
        .withColumn("_corrupt_record", lit(null).cast("string"))
      val before = spark.sparkContext.getPersistentRDDs.size
      (0L until 3L).foreach { k =>
        StreamingIngest.processBatchNearDup(batch(k), k, paths)
        StreamingIngest.processBatch(batch(k + 10L), k + 100L,
          IngestPaths(s"$tmp/c2", s"$tmp/s2", s"$tmp/q2"))
      }
      val after = spark.sparkContext.getPersistentRDDs.size
      assert(after <= before,
        s"checkpoint blocks must release batch-by-batch: $before -> $after")
      StreamingIngest.dropStoreTables(spark, paths)
      StreamingIngest.dropStoreTables(spark,
        IngestPaths(s"$tmp/c2", s"$tmp/s2", s"$tmp/q2"))
    }
  }
}

/** Near-dup ingest at the edges the fixtures never reach: a null text,
  * an empty text, one-word texts (no bigram, so an empty shingle set and
  * a signature of `HashMod` in every slot), a delivery of malformed lines
  * only, and an empty delivery. Each report row, the corpus, the
  * quarantine and both store relations are pinned row for row.
  */
class NearDupEdgeSpec extends AnyFunSuite {

  private val schema = new StructType()
    .add("doc_id", LongType).add("text", StringType).add("lang", StringType)

  private def jsonl(path: String, lines: String*): Unit = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.map(_ + "\n").mkString)
    ()
  }

  private val M = graft.operators.TextOps.HashMod

  test("edge deliveries: null, empty and one-word texts are kept with " +
    "all-HashMod signatures; malformed-only and empty deliveries add " +
    "no document") {
    withTempDir("graft-neardup-edge") { dir =>
      val paths = IngestPaths(s"$dir/c", s"$dir/s", s"$dir/q")
      val bad = Seq("""{"doc_id": 9, "text": unquoted}""", "not json at all")
      jsonl(s"$dir/in0/d.json", """{"doc_id": 1, "text": null, "lang": "en"}""")
      jsonl(s"$dir/in1/d.json", """{"doc_id": 3, "text": "", "lang": "en"}""")
      jsonl(s"$dir/in2/d.json",
        """{"doc_id": 4, "text": "solitary", "lang": "en"}""",
        """{"doc_id": 5, "text": "Lonely!", "lang": "de"}""")
      jsonl(s"$dir/in3/d.json", bad: _*)
      jsonl(s"$dir/in4/d.json")
      val reports = (0 until 5).map { k =>
        StreamingIngest.processBatchNearDup(
          Sources.readValidated(spark, s"$dir/in$k", schema, "json"),
          k.toLong, paths).collect().head.toSeq
      }
      // (ingest_batch, n_in, n_corrupt, n_dropped_store, n_dropped_within,
      // n_kept): the empty and one-word docs band-collide with the store's
      // null-text doc and with each other, but an empty shingle set
      // verifies at Jaccard 0 (or null against a null set), so none drops
      assert(reports === Seq(
        Seq(0L, 1L, 0L, 0L, 0L, 1L),
        Seq(1L, 1L, 0L, 0L, 0L, 1L),
        Seq(2L, 2L, 0L, 0L, 0L, 2L),
        Seq(3L, 0L, 2L, 0L, 0L, 0L),
        Seq(4L, 0L, 0L, 0L, 0L, 0L)))

      val corpus = StreamingIngest.corpus(spark, paths)
        .select(col("doc_id"), col("text"), col("ingest_batch").cast("long"))
        .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2)))
        .toSet
      assert(corpus === Set((1L, None, 0L), (3L, Some(""), 1L),
        (4L, Some("solitary"), 2L), (5L, Some("Lonely!"), 2L)))

      val quarantine = StreamingIngest.quarantined(spark, paths).get
        .select(col("raw_line"), col("ingest_batch").cast("long")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(quarantine === bad.map(_ -> 3L).toSet)

      val kept = Set((1L, 0L), (3L, 1L), (4L, 2L), (5L, 2L))
      val bands = spark.table(
        StreamingIngest.storeTableName("bands", s"${paths.store}/bands"))
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band_idx"),
          r.getAs[String]("band_key"), r.getAs[Long]("ingest_batch"))).toSet
      val allMod = Seq.fill(4)(M).mkString(",")
      assert(bands === (for ((d, b) <- kept; i <- 0 until 4)
        yield (d, i, allMod, b)))

      val ngrams = spark.table(
        StreamingIngest.storeTableName("ngrams", s"${paths.store}/ngrams"))
        .collect().map(r => (r.getAs[Long]("doc_id"),
          Option(r.getAs[scala.collection.Seq[Long]]("hs")).map(_.toSeq),
          r.getAs[Long]("ingest_batch"))).toSet
      assert(ngrams === Set((1L, None, 0L), (3L, Some(Nil), 1L),
        (4L, Some(Nil), 2L), (5L, Some(Nil), 2L)))
      StreamingIngest.dropStoreTables(spark, paths)
    }
  }

  test("a doc_id repeated within one delivery: each row gets its own " +
    "signature, and every row of a dropped id drops") {
    withTempDir("graft-neardup-dupid") { dir =>
      import spark.implicits._
      val paths = IngestPaths(s"$dir/c", s"$dir/s", s"$dir/q")
      def batch(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")
        .withColumn("_corrupt_record", lit(null).cast("string"))
      val a = "the quick brown fox jumps over the lazy dog tonight"
      val b = "seventeen entirely separate words describe nothing at all " +
        "about foxes dogs or any animal whatsoever in this long sentence"
      val c = "a third text about bucketed stores and ingest pipelines"
      val d = "mountains rivers valleys and plains under open skies"
      val e = "compilers parse tokens into trees then emit machine code"
      StreamingIngest.processBatchNearDup(batch(1L -> a), 0L, paths).collect()
      val r = StreamingIngest.processBatchNearDup(
        batch(7L -> a, 7L -> b, 8L -> c, 9L -> d, 9L -> e), 1L, paths)
        .collect().head.toSeq
      // row (7, a) repeats store doc 1, so id 7 drops against the store,
      // and with it its other row (7, b); counts are rows
      assert(r === Seq(1L, 5L, 0L, 2L, 0L, 3L))
      val corpus = StreamingIngest.corpus(spark, paths)
        .filter(col("ingest_batch") === 1)
        .select("doc_id", "text").as[(Long, String)].collect().sorted.toSeq
      assert(corpus === Seq(8L -> c, 9L -> d, 9L -> e).sorted)

      // the store holds each kept row's own bands and shingles: those of
      // the same text delivered alone
      import graft.operators.{Dedup, TextOps}
      def alone(id: Long, t: String) = Seq(id -> t).toDF("doc_id", "text")
      val kept = Seq(8L -> c, 9L -> d, 9L -> e)
      val expectBands = kept.flatMap { case (id, t) =>
        Dedup.bandExplode(Dedup.minhashSignatures(alone(id, t)))
          .as[(Long, Int, String)].collect().toSeq }.sorted
      val bands = spark.table(
        StreamingIngest.storeTableName("bands", s"${paths.store}/bands"))
        .filter(col("ingest_batch") === 1L)
        .select("doc_id", "band_idx", "band_key").as[(Long, Int, String)]
        .collect().sorted.toSeq
      assert(bands === expectBands)
      val expectNgrams = kept.map { case (id, t) =>
        id -> alone(id, t).select(TextOps.hashedNgrams(col("text")))
          .as[Seq[Long]].head() }.sortBy(_.toString)
      val ngrams = spark.table(
        StreamingIngest.storeTableName("ngrams", s"${paths.store}/ngrams"))
        .filter(col("ingest_batch") === 1L)
        .select("doc_id", "hs").as[(Long, Seq[Long])].collect()
        .toSeq.sortBy(_.toString)
      assert(ngrams === expectNgrams)
      StreamingIngest.dropStoreTables(spark, paths)
    }
  }
}

/** The Spark-job cost of one near-dup delivery. A delivery's fixed cost is
  * its job count (each job pays scheduling and a driver round trip), so a
  * change that adds an action to the delivery path fails here. The store
  * inserts run fewer write tasks than buckets, so the spec also pins the
  * bucket layout they must keep: one file per bucket present in every
  * store partition.
  */
class NearDupJobBudgetSpec extends AnyFunSuite {

  test("a warm near-dup delivery into an existing store runs at most " +
    "17 Spark jobs and writes one store file per bucket") {
    withTempDir("graft-neardup-jobs") { dir =>
      import spark.implicits._
      val paths = IngestPaths(s"$dir/c", s"$dir/s", s"$dir/q")
      val base = "the quick brown fox jumps over the lazy dog and then " +
        "runs far away into the deep dark forest tonight"
      def batch(k: Long): DataFrame = Seq(
        (100L * k + 1, s"wholly distinct content number $k alpha$k beta$k"),
        (100L * k + 2, base + s" tail$k"),
        (100L * k + 3, s"wholly distinct content number $k alpha$k beta$k"),
        (100L * k + 4, null))
        .toDF("doc_id", "text")
        .withColumn("_corrupt_record", lit(null).cast("string"))
        .union(Seq((-1L, null: String, "{broken")).toDF("doc_id", "text",
          "_corrupt_record"))
      (0L until 2L).foreach { k =>
        StreamingIngest.processBatchNearDup(batch(k), k, paths).collect() }
      var report: Seq[Any] = Nil
      val jobs = jobsDuring {
        report = StreamingIngest.processBatchNearDup(batch(2L), 2L, paths)
          .collect().head.toSeq
      }
      // 4 clean rows: 202 drops against the store (it near-dups 2), 203
      // within (it repeats 201), 201 and the null-text 204 are kept; and
      // 1 corrupt line
      assert(report === Seq(2L, 4L, 1L, 1L, 1L, 2L))
      assert(jobs <= 17, s"jobs: $jobs")

      // bucketed file names end `_<bucket id>.c<n>…`: no bucket id may
      // repeat within a partition
      val bucketOf = """.*_(\d{5})\.c\d+.*\.parquet""".r
      for (store <- Seq("bands", "ngrams"); k <- 0 to 2) {
        val part = new java.io.File(s"${paths.store}/$store/ingest_batch=$k")
        val buckets = part.list().toSeq.collect { case bucketOf(b) => b }
        assert(buckets.nonEmpty, part)
        assert(buckets.distinct.size === buckets.size, s"$part: $buckets")
        assert(buckets.size === part.list().count(_.endsWith(".parquet")), part)
        if (store == "bands") assert(buckets.size > 1, s"$part: $buckets")
      }
      StreamingIngest.dropStoreTables(spark, paths)
    }
  }
}

/** The exact tier at the edges the fixtures never reach, pinned row for
  * row: null, empty and reordered texts, a `doc_id` delivered twice,
  * malformed lines beside a clean null text, malformed-only and empty
  * deliveries, and a replayed delivery. The tier decides at ROW grain: a
  * row drops when its fingerprint is in the store or a lower-id row of
  * its delivery has the same fingerprint. A null text fingerprints to
  * null, which never equals a stored one, so null texts dedup within a
  * delivery only.
  */
class ExactEdgeSpec extends AnyFunSuite {

  private val schema = new StructType()
    .add("doc_id", LongType).add("text", StringType).add("lang", StringType)

  private def jsonl(path: String, lines: String*): Unit = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.map(_ + "\n").mkString)
    ()
  }

  private def doc(id: Long, text: String): String =
    s"""{"doc_id": $id, "text": ${Option(text).fold("null")(t => s""""$t"""")}, "lang": "en"}"""

  private val bad = Seq("""{"doc_id": 90, "text": unquoted}""", "not json at all")

  /** The deliveries, one per batch id, and the reason each is here. */
  private val deliveries = Seq(
    Seq(doc(2, null), doc(1, null)),          // two null texts: the min id stays
    Seq(doc(3, null)),                        // a null never equals the stored null
    Seq(doc(5, ""), doc(4, "")),              // "" dedups within a delivery
    Seq(doc(6, "")),                          // and against the store
    Seq(doc(7, "a b")),
    Seq(doc(8, "b a")),                       // the same token set as 7
    Seq(doc(10, "same words"), doc(10, "same words"),
      doc(11, "one text"), doc(11, "other text")),
    bad :+ doc(12, null),                     // malformed lines beside a null text
    bad,                                      // malformed lines only
    Nil)                                      // an empty delivery

  private def deliver(dir: String, paths: IngestPaths, k: Int) =
    StreamingIngest.processBatch(
      Sources.readValidated(spark, s"$dir/in$k", schema, "json"), k.toLong, paths)

  private def corpusRows(paths: IngestPaths): Seq[(Long, Option[String], Long)] =
    StreamingIngest.corpus(spark, paths)
      .select(col("doc_id"), col("text"), col("ingest_batch").cast("long"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2)))
      .toSeq.sortBy(_.toString)

  private def storeRows(paths: IngestPaths): Seq[(Option[String], Long)] =
    spark.table(StreamingIngest.storeTableName("fps", paths.store))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1)))
      .toSeq.sortBy(_.toString)

  private def quarantineRows(paths: IngestPaths): Seq[(String, Long)] =
    StreamingIngest.quarantined(spark, paths).get
      .select(col("raw_line"), col("ingest_batch").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_.toString)

  /** The `ingest_batch=` directories under `root`, as batch ids. */
  private def batchDirs(root: String): Set[Long] =
    Option(new java.io.File(root).list()).toSeq.flatten
      .collect { case s if s.startsWith("ingest_batch=") =>
        s.stripPrefix("ingest_batch=").toLong }.toSet

  /** Delivers every delivery in order and returns their reports. */
  private def ingestAll(dir: String, paths: IngestPaths): Seq[Seq[Any]] =
    deliveries.indices.map { k =>
      jsonl(s"$dir/in$k/d.json", deliveries(k): _*)
      deliver(dir, paths, k).collect().head.toSeq
    }

  test("null, empty and reordered texts, a repeated doc_id, malformed " +
    "lines, and malformed-only and empty deliveries") {
    withTempDir("graft-exact-edge") { dir =>
      val paths = IngestPaths(s"$dir/c", s"$dir/s", s"$dir/q")
      ingestAll(dir, paths)
      assert(corpusRows(paths) === Seq(
        (1L, None, 0L), (3L, None, 1L), (4L, Some(""), 2L),
        (7L, Some("a b"), 4L), (10L, Some("same words"), 6L),
        (11L, Some("one text"), 6L), (11L, Some("other text"), 6L),
        (12L, None, 7L)).sortBy(_.toString))
      assert(quarantineRows(paths) ===
        (bad.map(_ -> 7L) ++ bad.map(_ -> 8L)).sortBy(_.toString))

      // one store row per kept row: its fingerprint, null for a null text
      import spark.implicits._
      val expectStore = StreamingIngest.corpus(spark, paths)
        .select(graft.operators.TextOps.fingerprint(col("text")),
          col("ingest_batch").cast("long"))
        .as[(Option[String], Long)].collect().toSeq.sortBy(_.toString)
      assert(storeRows(paths) === expectStore)
      assert(storeRows(paths).count(_._1.isEmpty) === 3)

      // every delivery writes its corpus and store partitions; only the
      // deliveries with malformed lines write a quarantine partition
      assert(batchDirs(paths.corpus) === deliveries.indices.map(_.toLong).toSet)
      assert(batchDirs(paths.store) === deliveries.indices.map(_.toLong).toSet)
      assert(batchDirs(paths.quarantine) === Set(7L, 8L))
      StreamingIngest.dropStoreTables(spark, paths)
    }
  }

  test("replaying a delivery leaves the corpus, store and quarantine identical") {
    withTempDir("graft-exact-replay") { dir =>
      val paths = IngestPaths(s"$dir/c", s"$dir/s", s"$dir/q")
      ingestAll(dir, paths)
      val before = (corpusRows(paths), storeRows(paths), quarantineRows(paths))
      Seq(6, 7, 3, 0).foreach(deliver(dir, paths, _))
      assert((corpusRows(paths), storeRows(paths), quarantineRows(paths)) === before)
      StreamingIngest.dropStoreTables(spark, paths)
    }
  }

  test("each delivery reports its rows' fates, and a replay reports the same") {
    withTempDir("graft-exact-report") { dir =>
      val paths = IngestPaths(s"$dir/c", s"$dir/s", s"$dir/q")
      val reports = ingestAll(dir, paths)
      // (ingest_batch, n_in, n_corrupt, n_dropped_store, n_dropped_within,
      // n_kept); n_in counts the clean rows
      assert(reports === Seq(
        Seq(0L, 2L, 0L, 0L, 1L, 1L),
        Seq(1L, 1L, 0L, 0L, 0L, 1L),
        Seq(2L, 2L, 0L, 0L, 1L, 1L),
        Seq(3L, 1L, 0L, 1L, 0L, 0L),
        Seq(4L, 1L, 0L, 0L, 0L, 1L),
        Seq(5L, 1L, 0L, 1L, 0L, 0L),
        Seq(6L, 4L, 0L, 0L, 1L, 3L),
        Seq(7L, 1L, 2L, 0L, 0L, 1L),
        Seq(8L, 0L, 2L, 0L, 0L, 0L),
        Seq(9L, 0L, 0L, 0L, 0L, 0L)))
      Seq(6, 7, 3, 0).foreach { k =>
        assert(deliver(dir, paths, k).collect().head.toSeq === reports(k), s"replay of $k")
      }
      StreamingIngest.dropStoreTables(spark, paths)
    }
  }
}

/** The Spark-job cost of one exact-tier delivery, as
  * [[NearDupJobBudgetSpec]] pins the near-dup tier's.
  */
class ExactJobBudgetSpec extends AnyFunSuite {

  test("a warm exact delivery with a malformed line runs at most 7 Spark jobs") {
    withTempDir("graft-exact-jobs") { dir =>
      import spark.implicits._
      val paths = IngestPaths(s"$dir/c", s"$dir/s", s"$dir/q")
      val base = "the quick brown fox jumps over the lazy dog"
      def batch(k: Long): DataFrame = Seq(
        (100L * k + 1, s"wholly distinct content number $k alpha$k beta$k"),
        (100L * k + 2, base),
        (100L * k + 3, s"wholly distinct content number $k alpha$k beta$k"),
        (100L * k + 4, null))
        .toDF("doc_id", "text")
        .withColumn("_corrupt_record", lit(null).cast("string"))
        .union(Seq((-1L, null: String, "{broken")).toDF("doc_id", "text",
          "_corrupt_record"))
      (0L until 2L).foreach(k => StreamingIngest.processBatch(batch(k), k, paths))
      val jobs = jobsDuring { StreamingIngest.processBatch(batch(2L), 2L, paths); () }
      // 202 drops against the store (its text is batch 0's 2), 203 within
      // (it repeats 201); 201 and the null-text 204 are kept
      val kept = StreamingIngest.corpus(spark, paths)
        .filter(col("ingest_batch") === 2).select("doc_id").as[Long].collect().toSet
      assert(kept === Set(201L, 204L))
      assert(jobs <= 7, s"jobs: $jobs")
      StreamingIngest.dropStoreTables(spark, paths)
    }
  }
}

/** Both ingest tiers run through one delivery skeleton, guarded at the
  * source: one eager checkpoint in the ingest module, and no Dataset
  * `isEmpty` job ahead of it (a text guard, so no `.isEmpty` at all).
  */
class IngestSkeletonGuardSpec extends AnyFunSuite {

  test("StreamingIngest.scala holds exactly one localCheckpoint( call and no .isEmpty") {
    val file = "scala/graft/streaming/StreamingIngest.scala"
    val found = ListingGuardSpec.mainSources(_ == file) _
    assert(found(_ => true) === List(file))
    assert(found("localCheckpoint\\(".r.findAllMatchIn(_).size != 1).isEmpty,
      "one localCheckpoint( call expected")
    assert(found(_.contains(".isEmpty")).isEmpty, ".isEmpty found")
  }
}

/** The near-dup drop law at id grain, pinned where rows and ids disagree.
  * The DuckDB statement of the law pairs ids: `cand` is a DISTINCT over
  * doc ids, and `j` joins the per-row shingle relation on `doc_id`. So an
  * id delivered in several rows drops when ONE of its rows band-collides
  * with a partner and ANOTHER of its rows verifies against it. The
  * hot-bucket cap counts bands at row grain (the `hot` CTE counts the
  * per-row `bands` relation), so a repeated id's rows count separately.
  *
  * Each case's texts come from a seeded search over word-substitution
  * variants of a base text, and each is compared with a driver-side
  * reference of the law; a case also checks that a per-row law (or an
  * id-grain cap count) would decide it differently, so it cannot pass
  * vacuously.
  */
class NearDupIdLawSpec extends AnyFunSuite {
  import spark.implicits._

  private val Threshold = 0.5

  /** A text's hashed shingle set and its LSH bands (`idx:key`). */
  private final case class Feat(hs: Set[Long], bands: Set[String])

  private def features(texts: Seq[String]): Map[String, Feat] = {
    import graft.operators.{Dedup, TextOps}
    texts.distinct.toDF("text")
      .select(col("text"), TextOps.hashedNgrams(col("text")).as("hs"))
      .select(col("text"), col("hs"), Dedup.minhashSig(col("hs")).as("sig"))
      .as[(String, Seq[Long], Seq[Long])].collect()
      .map { case (t, hs, sig) =>
        t -> Feat(hs.toSet, sig.grouped(4).zipWithIndex
          .map { case (g, i) => s"$i:${g.mkString(",")}" }.toSet)
      }.toMap
  }

  private def jaccard(a: Set[Long], b: Set[Long]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else (a & b).size.toDouble / (a | b).size

  /** Seeded base texts of 24 words and, per base, variants with 1 to 10
    * word positions replaced — pairs across the whole Jaccard range.
    */
  private def pool(seed: Long): Seq[(String, Seq[String])] = {
    val rnd = new scala.util.Random(seed)
    def word() = Seq.fill(4 + rnd.nextInt(4))(('a' + rnd.nextInt(26)).toChar).mkString
    val vocab = Vector.fill(600)(word())
    Seq.fill(6) {
      val base = Vector.fill(24)(vocab(rnd.nextInt(vocab.size)))
      val variants = Seq.fill(150) {
        val m = 1 + rnd.nextInt(10)
        val pos = rnd.shuffle((0 until base.size).toVector).take(m)
        pos.foldLeft(base)((w, p) => w.updated(p, vocab(rnd.nextInt(vocab.size))))
          .mkString(" ")
      }
      base.mkString(" ") -> variants.distinct
    }
  }

  /** The first base, with two variants, where `pick` finds them. */
  private def search(seed: Long)(pick: (Feat, Seq[(String, Feat)]) =>
      Option[Seq[String]]): (String, Seq[String], Map[String, Feat]) = {
    val p = pool(seed)
    val f = features(p.flatMap { case (b, vs) => b +: vs })
    p.iterator.flatMap { case (b, vs) =>
      pick(f(b), vs.map(v => v -> f(v))).map(found => (b, found, f))
    }.nextOption().getOrElse(fail(s"no texts found for seed $seed"))
  }

  /** r1 band-collides with the base without verifying; r2 verifies
    * against it without colliding.
    */
  private def collideAndVerify(seed: Long) = search(seed) { (b, vs) =>
    for {
      (r1, _) <- vs.find { case (_, v) =>
        (v.bands & b.bands).nonEmpty && jaccard(v.hs, b.hs) < Threshold }
      (r2, _) <- vs.find { case (_, v) =>
        (v.bands & b.bands).isEmpty && jaccard(v.hs, b.hs) >= Threshold }
    } yield Seq(r1, r2)
  }

  /** The law over successive deliveries of (doc_id, text) rows: per
    * delivery, (ids dropped against the store, ids dropped within the
    * batch only). `idGrain = false` is the per-row law the engine must
    * NOT follow (a collision and a verification on the same row pair);
    * `rowGrainCap = false` counts a hot bucket's ids, not its rows.
    */
  private def reference(deliveries: Seq[Seq[(Long, String)]],
      f: Map[String, Feat], cap: Option[Long] = None, idGrain: Boolean = true,
      rowGrainCap: Boolean = true): Seq[(Set[Long], Set[Long])] = {
    var store = Map.empty[Long, Seq[Feat]]
    deliveries.map { rows =>
      val byId = rows.groupBy(_._1).map { case (id, rs) => id -> rs.map(r => f(r._2)) }
      val hot = cap.fold(Set.empty[String]) { c =>
        val counted =
          if (rowGrainCap) rows.flatMap(r => f(r._2).bands)
          else byId.values.toSeq.flatMap(_.flatMap(_.bands).distinct)
        counted.groupBy(identity).collect { case (k, ks) if ks.size > c => k }.toSet
      }
      def pair(x: Seq[Feat], y: Seq[Feat]): Boolean =
        if (idGrain)
          (x.flatMap(_.bands).toSet -- hot).intersect(y.flatMap(_.bands).toSet).nonEmpty &&
            x.exists(a => y.exists(b => jaccard(a.hs, b.hs) >= Threshold))
        else x.exists(a => y.exists(b =>
          ((a.bands -- hot) & b.bands).nonEmpty && jaccard(a.hs, b.hs) >= Threshold))
      val st = byId.collect { case (id, x) if store.values.exists(pair(x, _)) => id }.toSet
      val within = byId.collect { case (id, x)
        if byId.exists { case (a, y) => a < id && pair(y, x) } => id }.toSet -- st
      rows.filterNot(r => st(r._1) || within(r._1)).groupBy(_._1).foreach {
        case (id, rs) => store += id -> (store.getOrElse(id, Nil) ++ rs.map(r => f(r._2)))
      }
      (st, within)
    }
  }

  /** Runs the deliveries and checks each report and corpus partition
    * against the reference.
    */
  private def check(dir: String, deliveries: Seq[Seq[(Long, String)]],
      f: Map[String, Feat], cap: Option[Long] = None): Unit = {
    val paths = IngestPaths(s"$dir/c", s"$dir/s", s"$dir/q")
    val expected = reference(deliveries, f, cap)
    deliveries.zip(expected).zipWithIndex.foreach {
      case ((rows, (st, within)), k) =>
        val report = StreamingIngest.processBatchNearDup(
          rows.toDF("doc_id", "text")
            .withColumn("_corrupt_record", lit(null).cast("string")),
          k.toLong, paths, threshold = Threshold, maxBucketSize = cap)
          .collect().head.toSeq
        def n(p: Long => Boolean) = rows.count(r => p(r._1)).toLong
        assert(report === Seq(k.toLong, rows.size.toLong, 0L, n(st), n(within),
          n(id => !st(id) && !within(id))), s"delivery $k")
        val corpus = StreamingIngest.corpus(spark, paths)
          .filter(col("ingest_batch") === k)
          .select("doc_id", "text").as[(Long, String)].collect().sorted.toSeq
        assert(corpus === rows.filterNot(r => st(r._1) || within(r._1)).sorted,
          s"delivery $k")
    }
    StreamingIngest.dropStoreTables(spark, paths)
  }

  test("(a) a repeated id drops against the store when one of its rows " +
    "collides and another verifies") {
    val (base, Seq(r1, r2), f) = collideAndVerify(9101L)
    val deliveries = Seq(Seq(1L -> base), Seq(7L -> r1, 7L -> r2))
    assert(reference(deliveries, f)(1) === (Set(7L), Set.empty[Long]))
    assert(reference(deliveries, f, idGrain = false)(1) ===
      (Set.empty[Long], Set.empty[Long]))
    withTempDir("graft-idlaw-a")(check(_, deliveries, f))
  }

  test("(b) a repeated id decides a within-batch drop, as the retired " +
    "higher id and as the lower partner") {
    val (base, Seq(r1, r2), f) = collideAndVerify(9202L)
    val higher = Seq(Seq(1L -> base, 2L -> r1, 2L -> r2))
    val lower = Seq(Seq(1L -> r1, 1L -> r2, 2L -> base))
    Seq(higher, lower).foreach { d =>
      assert(reference(d, f) === Seq((Set.empty[Long], Set(2L))))
      assert(reference(d, f, idGrain = false) ===
        Seq((Set.empty[Long], Set.empty[Long])))
    }
    withTempDir("graft-idlaw-b") { dir =>
      check(s"$dir/h", higher, f)
      check(s"$dir/l", lower, f)
    }
  }

  test("(c) the hot-bucket cap counts a repeated id's rows separately") {
    // the variant shares exactly one band with the base and verifies;
    // the base's id is delivered twice, so that band holds 3 rows of 2 ids
    val (base, Seq(v), f) = search(9303L) { (b, vs) =>
      vs.collectFirst { case (t, x)
        if (x.bands & b.bands).size == 1 && jaccard(x.hs, b.hs) >= Threshold =>
        Seq(t) }
    }
    val deliveries = Seq(Seq(1L -> base, 1L -> base, 2L -> v))
    val cap = Some(2L)
    assert(reference(deliveries, f, cap) === Seq((Set.empty[Long], Set.empty[Long])))
    assert(reference(deliveries, f, cap, rowGrainCap = false) ===
      Seq((Set.empty[Long], Set(2L))))
    withTempDir("graft-idlaw-c")(check(_, deliveries, f, cap))
  }
}

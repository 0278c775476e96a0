package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.Tables
import graft.sources.FormatRoundTrip
import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.IngestPaths

/** Round-12 bench extras, two JSON artifacts:
  *
  * 1. STORE-GROWTH axis of the near-dup ingest (r11 verdict task 4's
  *    "done" probe): the documents table split into `N_DELIVERIES`
  *    JSONL deliveries pushed through
  *    [[StreamingIngest.processBatchNearDup]]; per batch it records
  *    wall seconds against the ACCUMULATED store size (rows + bytes).
  *    With the bucketed store the per-batch cost should grow with the
  *    one store scan (shuffle-free probe), never with a store
  *    re-shuffle — the curve makes that inspectable per round.
  *
  * 2. CODEC size/speed report (task 6's storage-monitor tie-in): per
  *    [[FormatRoundTrip.CodecMatrix]] cell, bytes on disk, ratio vs
  *    the same format uncompressed, write and read-back wall ms —
  *    the numbers the oracled q282 deliberately leaves out of its
  *    hash (machine-dependent).
  *
  * Usage: runMain graft.tools.IngestGrowthBench [sfDir] [outPrefix]
  */
object IngestGrowthBench {

  private val NDeliveries = 8

  private val DocsSchema = new StructType()
    .add("doc_id", LongType).add("text", StringType).add("lang", StringType)
    .add("source", StringType).add("n_chars", LongType)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outPrefix = if (args.length > 1) args(1) else ""
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    val growth = ingestGrowth(spark, sfDir)
    val large = largeRegime(spark, sfDir)
    // round-14 verdict task 5: the ≥64-delivery compaction soak is a
    // separate opt-in axis (several minutes of wall) — pass "soak" as
    // an extra arg to run it; without it the previous artifact's soak
    // block (if any) is not regenerated
    val soak = if (args.contains("soak")) Some(soakRegime(spark, sfDir))
      else None
    writeOut(s"${outPrefix}BENCH_ingest_growth.json",
      growth.stripSuffix("}") + s""","large_regime":$large""" +
        soak.map(s => s""","soak":$s""").getOrElse("") + "}")
    val codec = codecReport(spark, sfDir)
    writeOut(s"${outPrefix}BENCH_codec_report.json", codec)
    spark.stop()
  }

  /** LONG-HORIZON compaction soak (round-14 verdict task 5): the
    * in-loop compaction claim is "wall and file count stay flat with a
    * bounded sawtooth over an unbounded delivery horizon"
    * (`StreamingIngest.scala` scaladoc's 10⁵-delivery viability).
    * Round13IngestLoopSpec proves 8+compact+2 bit-identical; this axis
    * measures 64 deliveries with `compactEvery`-style maintenance
    * (beforeBatch = current id, the maybeCompact contract) at a store
    * regime that starts ≈640× one delivery: per-delivery wall, the
    * compaction wall when one runs, the band-store file count (the
    * sawtooth under test — rises ≤ `CompactEvery` batch partitions
    * above base, then collapses), and the store row count.
    */
  private def soakRegime(spark: SparkSession, sfDir: String): String =
    graft.util.TempDirs.withTempDir("graft-soak") { tmp =>
      val N = 64
      val CompactEvery = 8
      val paths = IngestPaths(s"$tmp/corpus", s"$tmp/store", s"$tmp/quarantine")
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val replicated = (0 until 10).map(r =>
        docs.select((col("doc_id") + lit(10000000L * (r + 1))).as("doc_id"),
          concat(col("text"), lit(s" replica$r marker")).as("text")))
        .reduce(_ unionByName _)
      val t0 = System.nanoTime()
      StreamingIngest.bootstrapNearDupStore(spark, replicated, paths)
      val bootstrapS = (System.nanoTime() - t0) / 1e9
      val bandsTable = StreamingIngest
        .storeTableName("bands", s"$tmp/store/bands")
      val rows = (0 until N).map { k =>
        val bid = k + 1L // batch 0 is the bootstrap convention
        val in = s"$tmp/in$k"
        Tables.load(spark, sfDir, "documents")
          .filter(pmod(col("doc_id"), lit(N.toLong)) === k)
          .write.mode("overwrite").json(in)
        val batch = graft.sources.Sources
          .readValidated(spark, in, DocsSchema, "json")
        val t1 = System.nanoTime()
        StreamingIngest.processBatchNearDup(batch, bid, paths)
          .collect()
        val wall = (System.nanoTime() - t1) / 1e9
        // the maybeCompact schedule: after every CompactEvery-th
        // delivery, merge everything strictly BEFORE the current id
        val compactS = if (bid % CompactEvery == 0) {
          val t2 = System.nanoTime()
          StreamingIngest.compactStores(spark, paths, beforeBatch = bid)
            .collect()
          (System.nanoTime() - t2) / 1e9
        } else 0.0
        val files = FormatRoundTrip.dataFileCount(spark, s"$tmp/store/bands")
        val storeRows = spark.table(bandsTable).count()
        graft.util.Caches.releaseAll()
        s"""{"batch":$bid,"wall_s":$wall,"compact_s":$compactS,""" +
          s""""band_files":$files,"store_band_rows":$storeRows}"""
      }
      StreamingIngest.dropStoreTables(spark, paths)
      s"""{"n_deliveries":$N,"compact_every":$CompactEvery,""" +
        s""""bootstrap_s":$bootstrapS,""" +
        s""""deliveries":[${rows.mkString(",")}]}"""
    }

  /** Count shuffles whose subtree reads the store (initial physical
    * plan — the Round12IngestStoreSpec probe, transposed to the bench
    * so the artifact carries the proof, not just the spec).
    */
  private def storeExchanges(df: org.apache.spark.sql.DataFrame,
      frag: String): Int = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case o => o
    }
    plan.collect {
      case e: ShuffleExchangeLike
        if e.asInstanceOf[SparkPlan].collect {
          case f: FileSourceScanExec => f
        }.exists(_.relation.location.rootPaths
          .exists(_.toString.contains(frag))) => 1
    }.sum
  }

  /** STORE ≫ DELIVERY regime (round-13 verdict task 1): the flat
    * per-batch claim is only evidence once the store is far past the
    * broadcast regime. Bootstrap the band/ngram stores from the
    * documents table replicated 10× (≈80× one delivery's docs), then
    * push the same 8 deliveries and record per-batch wall, store size,
    * and the store-side Exchange count of the candidate probe (must
    * stay 0 — the bucketed layout IS the claim). Ends with the task-6
    * probe-wall cell: candidate-probe wall before vs after
    * [[StreamingIngest.compactStores]].
    */
  private def largeRegime(spark: SparkSession, sfDir: String): String =
    graft.util.TempDirs.withTempDir("graft-growth-large") { tmp =>
      import graft.operators.{Dedup, TextOps}
      val paths = IngestPaths(s"$tmp/corpus", s"$tmp/store", s"$tmp/quarantine")
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val replicated = (0 until 10).map(r =>
        docs.select((col("doc_id") + lit(10000000L * (r + 1))).as("doc_id"),
          concat(col("text"), lit(s" replica$r marker")).as("text")))
        .reduce(_ unionByName _)
      val nBoot = replicated.count()
      val t0 = System.nanoTime()
      StreamingIngest.bootstrapNearDupStore(spark, replicated, paths)
      val bootstrapS = (System.nanoTime() - t0) / 1e9
      val bandsTable = StreamingIngest
        .storeTableName("bands", s"$tmp/store/bands")
      val preRows = spark.table(bandsTable).count()

      def probe(bid: Long, delivery: org.apache.spark.sql.DataFrame) = {
        val bandsNew = Dedup.bandExplode(delivery
          .select(col("doc_id"), TextOps.hashedNgrams(col("text")).as("hs"))
          .select(col("doc_id"), Dedup.minhashSig(col("hs"), 16).as("sig")), 4)
        val storeBands = spark.table(bandsTable)
          .filter(col("ingest_batch") < bid)
          .select(col("doc_id").as("store_id"), col("band_idx"),
            col("band_key"))
        // probe boundary = the join (the operator's own distinct()
        // shuffles JOIN OUTPUT — candidate pairs at delivery grain —
        // which is expected and not the store-side claim under test;
        // the Round12IngestStoreSpec boundary, kept identical here)
        bandsNew.join(storeBands, Seq("band_idx", "band_key"))
          .select("doc_id", "store_id")
      }

      val rows = (0 until NDeliveries).map { k =>
        val bid = k + 1L // batch 0 is the bootstrap
        val in = s"$tmp/in$k"
        Tables.load(spark, sfDir, "documents")
          .filter(pmod(col("doc_id"), lit(NDeliveries.toLong)) === k)
          .write.mode("overwrite").json(in)
        val batch = graft.sources.Sources
          .readValidated(spark, in, DocsSchema, "json")
        val t1 = System.nanoTime()
        val rep = StreamingIngest.processBatchNearDup(batch, bid, paths)
          .collect().head
        val wall = (System.nanoTime() - t1) / 1e9
        val exch = storeExchanges(
          probe(bid + 1, spark.read.json(in)), "store/bands")
        val storeRows = spark.table(bandsTable).count()
        val storeBytes =
          FormatRoundTrip.dirBytes(spark, s"$tmp/store/bands") +
            FormatRoundTrip.dirBytes(spark, s"$tmp/store/ngrams")
        graft.util.Caches.releaseAll()
        s"""{"batch":$bid,"wall_s":$wall,"n_in":${rep.getLong(1)},""" +
          s""""n_kept":${rep.getLong(5)},"store_band_rows":$storeRows,""" +
          s""""store_bytes":$storeBytes,"store_exchanges":$exch}"""
      }

      // task-6 probe-wall cell: same candidate probe, before vs after
      // compacting every committed batch into the base partition
      val lastIn = s"$tmp/in${NDeliveries - 1}"
      def probeWall(): Double = {
        val t = System.nanoTime()
        probe(NDeliveries + 1L, spark.read.json(lastIn)).count()
        graft.util.Caches.releaseAll()
        (System.nanoTime() - t) / 1e9
      }
      val wallBefore = probeWall()
      val filesBefore = FormatRoundTrip.dataFileCount(spark, s"$tmp/store/bands")
      StreamingIngest.compactStores(spark, paths, NDeliveries + 1L)
      val wallAfter = probeWall()
      val filesAfter = FormatRoundTrip.dataFileCount(spark, s"$tmp/store/bands")
      StreamingIngest.dropStoreTables(spark, paths)
      s"""{"bootstrap_docs":$nBoot,"bootstrap_s":$bootstrapS,""" +
        s""""preload_band_rows":$preRows,""" +
        s""""deliveries":[${rows.mkString(",")}],""" +
        s""""probe_wall_precompact_s":$wallBefore,""" +
        s""""probe_wall_postcompact_s":$wallAfter,""" +
        s""""band_files_precompact":$filesBefore,""" +
        s""""band_files_postcompact":$filesAfter}"""
    }


  private def writeOut(path: String, json: String): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (json + "\n").getBytes("UTF-8"))
    println(json)
  }

  private def ingestGrowth(spark: SparkSession, sfDir: String): String =
    graft.util.TempDirs.withTempDir("graft-growth") { tmp =>
      val paths = IngestPaths(s"$tmp/corpus", s"$tmp/store", s"$tmp/quarantine")
      val rows = (0 until NDeliveries).map { k =>
        val in = s"$tmp/in$k"
        Tables.load(spark, sfDir, "documents")
          .filter(pmod(col("doc_id"), lit(NDeliveries.toLong)) === k)
          .write.mode("overwrite").json(in)
        val batch = graft.sources.Sources
          .readValidated(spark, in, DocsSchema, "json")
        val t0 = System.nanoTime()
        val rep = StreamingIngest.processBatchNearDup(batch, k, paths)
          .collect().head
        val wall = (System.nanoTime() - t0) / 1e9
        val bands = spark.table(StreamingIngest
          .storeTableName("bands", s"$tmp/store/bands"))
        val storeRows = bands.count()
        val storeBytes =
          FormatRoundTrip.dirBytes(spark, s"$tmp/store/bands") +
            FormatRoundTrip.dirBytes(spark, s"$tmp/store/ngrams")
        s"""{"batch":$k,"wall_s":$wall,"n_in":${rep.getLong(1)},""" +
          s""""n_kept":${rep.getLong(5)},"store_band_rows":$storeRows,""" +
          s""""store_bytes":$storeBytes}"""
      }
      StreamingIngest.dropStoreTables(spark, paths)
      s"""{"bench":"neardup_ingest_store_growth","sf":"$sfDir",""" +
        s""""n_deliveries":$NDeliveries,"deliveries":[${rows.mkString(",")}]}"""
    }

  private def codecReport(spark: SparkSession, sfDir: String): String =
    graft.util.TempDirs.withTempDir("graft-codecs") { tmp =>
      val docs = Tables.load(spark, sfDir, "documents")
      val hostile = FormatRoundTrip.hostileDocs(docs).coalesce(1)
        .localCheckpoint() // isolate codec cost from the derivation
      def writeMs(fmt: String, codec: String, path: String): Double = {
        val t0 = System.nanoTime()
        val w = hostile.write.mode("overwrite").option("compression", codec)
        fmt match {
          case "jsonl" => w.json(path)
          case "csv" => w.option("header", "true").option("escape", "\"")
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false").csv(path)
          case "orc" => w.orc(path)
          case "parquet" => w.parquet(path)
        }
        (System.nanoTime() - t0) / 1e6
      }
      def readMs(fmt: String, path: String): Double = {
        val schema = new StructType().add("doc_id", LongType)
          .add("text2", StringType).add("lang", StringType)
        val t0 = System.nanoTime()
        (fmt match {
          case "jsonl" => spark.read.schema(schema).json(path)
          case "csv" => spark.read.schema(schema)
            .option("header", "true").option("escape", "\"")
            .option("multiLine", "true").csv(path)
          case "orc" => spark.read.orc(path)
          case "parquet" => spark.read.parquet(path)
        }).agg(count(lit(1))).collect()
        (System.nanoTime() - t0) / 1e6
      }
      val plain = Map("csv" -> "none", "jsonl" -> "none",
        "orc" -> "none", "parquet" -> "uncompressed")
      val plainBytes = plain.map { case (fmt, codec) =>
        writeMs(fmt, codec, s"$tmp/$fmt-plain")
        fmt -> FormatRoundTrip.dirBytes(spark, s"$tmp/$fmt-plain")
      }
      val cells = FormatRoundTrip.CodecMatrix.map { case (fmt, codec) =>
        val p = s"$tmp/$fmt-$codec"
        val wms = writeMs(fmt, codec, p)
        val rms = readMs(fmt, p)
        val bytes = FormatRoundTrip.dirBytes(spark, p)
        val ratio = (bytes.toDouble / plainBytes(fmt) * 1000).round / 1000.0
        s"""{"format":"$fmt","codec":"$codec","bytes":$bytes,""" +
          s""""vs_plain":$ratio,"write_ms":${wms.round},""" +
          s""""read_ms":${rms.round}}"""
      }
      s"""{"bench":"codec_size_speed","sf":"$sfDir","plain_bytes":{${
        plainBytes.map { case (f, b) => s""""$f":$b""" }.mkString(",")
      }},"cells":[${cells.mkString(",")}]}"""
    }
}

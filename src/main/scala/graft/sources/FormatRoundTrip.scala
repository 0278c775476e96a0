package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Interchange-format round trips: JSONL and CSV ingest (the formats
  * training corpora actually arrive in) and ORC (the second columnar
  * lake format Spark ships a native vectorized reader for), each
  * graded write→read→checksum against the source relation.
  *
  * The reference monitors warehouse tables and S3 objects but never
  * grades the FORMAT boundary itself; in a 100 TB corpus build the
  * JSONL→lake ingest is where silent corruption happens (quote/newline
  * escaping, encoding, schema drift), so the round trip is oracled as
  * a first-class surface: the DuckDB oracle recomputes the checksums
  * from the parquet source, so any row or character the format layer
  * loses, reorders within a row, or re-escapes flips the hash.
  *
  * Escaping is made NON-VACUOUS by deriving a hostile text column
  * first — every row gets a suffix drawn by `doc_id % 4` from
  * [[FormatRoundTrip.HostileSuffixes]] (embedded newline, quote,
  * delimiter, backslash, tab, non-ASCII BMP), stated identically on
  * the oracle side. CSV uses RFC-4180 conventions (quote-doubling via
  * escape = quote, multiLine read) — the dialect every warehouse
  * UNLOAD speaks.
  *
  * Scale shape: the write is one pass (scan-stage projection, no
  * shuffle), the read-back is a parallel file scan, and the checksum
  * is a single wide aggregate (partial+final, one stat row). Nothing
  * here is bounded by anything but the corpus scan itself; at 100 TB
  * the same code runs with more output files, no driver state.
  */
object FormatRoundTrip {

  /** Hostile suffixes indexed by `doc_id % 4`: embedded newline +
    * comma + quotes; backslash + tab; non-ASCII BMP (€ 中 é); comma +
    * quoted word. Every CSV/JSON escaping class the dialect must
    * survive.
    */
  val HostileSuffixes: Seq[String] = Seq(
    "\nline2,\"q\"",
    "\\slash\t",
    " \u20ac\u4e2d\u00e9",
    ",comma \"quoted\"")

  /** documents with `text2` = text + hostile suffix (scan-stage
    * projection; `pmod` so the law holds for any id sign).
    */
  def hostileDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(col("text"),
        element_at(array(HostileSuffixes.map(lit): _*),
          (pmod(col("doc_id"), lit(4L)) + 1).cast("int"))).as("text2"),
      col("lang"))

  /** 60-bit row fingerprint: first 15 md5 hex digits of the
    * '|'-joined row string, as a long — the same value DuckDB states
    * as `CAST(concat('0x', substring(md5(s),1,15)) AS BIGINT)`.
    */
  private def md5_60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast(LongType)

  /** One-row checksum of a (doc_id, text2, lang, h) relation (`h` =
    * the [[md5_60]] row fingerprint): row and character totals,
    * distinct texts, how many rows kept their embedded newline (the
    * non-vacuity witness), an order-independent xor of per-row
    * fingerprints, and the minimum fingerprint string.
    */
  private def docChecksum(df: DataFrame, corruptCol: Option[String]): DataFrame = {
    val rowStr = concat_ws("|", col("doc_id"), col("text2"), col("lang"))
    df.agg(
      count(lit(1)).as("n_rows"),
      corruptCol.map(c => count(col(c)).as("n_corrupt"))
        .getOrElse(lit(0L).as("n_corrupt")),
      sum(length(col("text2"))).cast(LongType).as("total_chars"),
      // distinct over the text's md5, not the text: the distinct
      // shuffle moves 32-byte keys instead of document bodies (same
      // value modulo md5 collisions; the oracle states
      // count(DISTINCT md5(text2)) identically)
      countDistinct(md5(col("text2"))).as("n_distinct"),
      count(when(col("text2").contains("\n"), 1)).as("n_multiline"),
      expr("bit_xor(h)").as("row_xor"),
      min(md5(rowStr)).as("md5_min"))
  }

  private val DocSchema = new StructType()
    .add("doc_id", LongType).add("text2", StringType).add("lang", StringType)

  /** JSONL: write the hostile relation as JSON lines, read it back
    * under the explicit schema with corrupt-record capture
    * (PERMISSIVE — a row the parser cannot round-trip lands in
    * `n_corrupt` instead of silently nulling), and checksum.
    */
  def jsonlRoundTrip(spark: SparkSession, docs: DataFrame, path: String): DataFrame = {
    hostileDocs(docs).write.mode("overwrite").json(path)
    jsonlRoundTripRead(spark, path)
  }

  /** The read half of [[jsonlRoundTrip]] on an existing JSONL
    * directory — the standing ingest posture for feeds the engine did
    * not write itself (malformed lines land in `n_corrupt`).
    */
  def jsonlRoundTripRead(spark: SparkSession, path: String): DataFrame = {
    val back = Sources.readValidated(spark, path, DocSchema, "json")
    withFingerprint(back, checkCorrupt = true)
  }

  /** CSV, RFC-4180 dialect on BOTH sides: quote-doubling
    * (escape = quote), header, multiLine read for embedded newlines,
    * and whitespace trimming OFF — Spark's CSV WRITER defaults
    * `ignoreTrailingWhiteSpace=true` and silently eats a trailing tab
    * (this round trip caught it). Explicit schema (no inference
    * drift), corrupt capture as above.
    */
  def csvRoundTrip(spark: SparkSession, docs: DataFrame, path: String): DataFrame = {
    hostileDocs(docs).write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)
    val withCorrupt = DocSchema.add("_corrupt_record", StringType)
    val back = spark.read.format("csv")
      .schema(withCorrupt)
      .option("header", "true").option("escape", "\"")
      .option("multiLine", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .load(path)
    withFingerprint(back, checkCorrupt = true)
  }

  private def withFingerprint(back: DataFrame, checkCorrupt: Boolean): DataFrame = {
    val rowStr = concat_ws("|", col("doc_id"), col("text2"), col("lang"))
    docChecksum(back.withColumn("h", md5_60(rowStr)),
      if (checkCorrupt) Some("_corrupt_record") else None)
  }

  /** ORC: write the typed events relation (bigint / timestamp /
    * double / string) to ORC, read it back, and checksum in exact
    * integer space — epoch seconds floored (`unix_timestamp` ≡ DuckDB
    * `floor(epoch(ts))`), doubles as half-even cents (`rint` ≡
    * `round_even`) — so timestamp and decimal fidelity across the
    * format grade exactly.
    */
  def orcRoundTrip(spark: SparkSession, events: DataFrame, path: String): DataFrame = {
    events.write.mode("overwrite").orc(path)
    eventChecksum(spark.read.orc(path))
  }

  /** The COMPRESSION-CODEC axis (round 12): every in-box codec the
    * engine grades, per format. Text formats have no zstd codec in a
    * stock Spark/Hadoop classpath (native libhadoop absent), so the
    * text tier grades gzip/deflate; the columnar tier grades
    * zstd/snappy/gzip (ORC via aircompressor, parquet via
    * zstd-jni/snappy-java — all pure-JVM).
    */
  val CodecMatrix: Seq[(String, String)] = Seq(
    // text tier: every codec the sandbox Hadoop actually carries
    // (round-13 probe: deflate/bzip2/lz4/snappy load pure-Java; text
    // zstd needs native libhadoop, absent here — columnar zstd below
    // rides zstd-jni instead)
    ("csv", "gzip"), ("csv", "deflate"), ("csv", "bzip2"),
    ("jsonl", "deflate"), ("jsonl", "gzip"), ("jsonl", "bzip2"),
    ("orc", "snappy"), ("orc", "zstd"),
    ("parquet", "gzip"), ("parquet", "zstd"))

  /** Per-format UNCOMPRESSED codec name (the size baseline). */
  private val PlainCodec = Map(
    "csv" -> "none", "jsonl" -> "none",
    "orc" -> "none", "parquet" -> "uncompressed")

  /** One hostile-docs round trip through `format` + `codec` under
    * `path`; returns the [[docChecksum]] row (corrupt capture graded
    * for the text dialects, 0 by construction for columnar).
    * `coalesce(1)`: this is a GRADING query — one file per cell keeps
    * the size comparison free of per-file overhead noise; production
    * writes go through [[graft.sources.Sinks]] unchanged.
    */
  private def writeAs(docs: DataFrame, path: String, format: String,
      codec: String): Unit = {
    val one = hostileDocs(docs).coalesce(1)
    format match {
      case "jsonl" => one.write.mode("overwrite")
        .option("compression", codec).json(path)
      case "csv" => one.write.mode("overwrite")
        .option("compression", codec)
        .option("header", "true").option("escape", "\"")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
      case "orc" => one.write.mode("overwrite")
        .option("compression", codec).orc(path)
      case "parquet" => one.write.mode("overwrite")
        .option("compression", codec).parquet(path)
    }
  }

  private def readBack(spark: SparkSession, path: String,
      format: String): DataFrame = format match {
    case "jsonl" => Sources.readValidated(spark, path, DocSchema, "json")
    case "csv" => spark.read.format("csv")
      .schema(DocSchema.add("_corrupt_record", StringType))
      .option("header", "true").option("escape", "\"")
      .option("multiLine", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .load(path)
    case "orc" => spark.read.orc(path)
    case "parquet" => spark.read.parquet(path)
  }

  /** Data-file count under `path` (parquet only, hidden/_ skipped) —
    * the compaction evidence metric [[dirBytes]]' sibling; shared by
    * the growth bench and the compaction specs so "what counts as a
    * data file" has exactly one definition.
    */
  def dataFileCount(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0L
    graft.util.Listing.files(fs, p).count { f =>
      val name = f.getPath.getName
      name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")
    }.toLong
  }

  /** Data bytes under `path` (hidden/_ files skipped). */
  def dirBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.util.Listing.files(fs, p).filter { f =>
      val n = f.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getLen).sum
  }

  /** The codec grading relation: one row per [[CodecMatrix]] cell —
    * (format, codec, docChecksum columns..., smaller_than_plain). The
    * checksum columns are codec-INDEPENDENT (any codec that corrupts,
    * drops, or re-escapes a row flips them against the DuckDB
    * recomputation); `smaller_than_plain` compares the cell's bytes
    * against the SAME format written uncompressed — the
    * frozen-constant fidelity convention: TRUE is certain for working
    * codecs on text corpora, and a codec that silently stops
    * compressing goes hash-red.
    */
  def codecMatrixChecksums(spark: SparkSession, docs: DataFrame,
      tmp: String): DataFrame = {
    // The 14 cell writes are independent single-task jobs on distinct
    // paths — submitted from a driver pool they back-fill each other's
    // tails (guide §2.6) instead of serializing 14 job+commit
    // latencies; the checksum read-back stays ONE union action.
    // Results are unchanged: plain baselines complete before any cell
    // compares against them, and the output is (format, codec)-ordered.
    def inParallel[A, B](items: Seq[A])(f: A => B): Seq[B] = {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(8, math.max(1, items.size)))
      try {
        import scala.jdk.CollectionConverters._
        val tasks: Seq[java.util.concurrent.Callable[B]] =
          items.map(a => (() => f(a)): java.util.concurrent.Callable[B])
        // rethrow the REAL failure, not invokeAll's ExecutionException
        // wrapper (ADVICE r14: error reporting parity with the old
        // sequential path)
        pool.invokeAll(tasks.asJava).asScala.map { fut =>
          try fut.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw Option(e.getCause).getOrElse(e)
          }
        }.toSeq
      } finally { pool.shutdown(); () }
    }
    val plainBytes = inParallel(PlainCodec.toSeq) { case (fmt, plain) =>
      val p = s"$tmp/$fmt-plain"
      writeAs(docs, p, fmt, plain)
      fmt -> dirBytes(spark, p)
    }.toMap
    val cellBytes = inParallel(CodecMatrix) { case (fmt, codec) =>
      val p = s"$tmp/$fmt-$codec"
      writeAs(docs, p, fmt, codec)
      (fmt, codec, dirBytes(spark, p))
    }
    cellBytes.map { case (fmt, codec, bytes) =>
      val p = s"$tmp/$fmt-$codec"
      val checkCorrupt = fmt == "jsonl" || fmt == "csv"
      withFingerprint(readBack(spark, p, fmt), checkCorrupt)
        .select(lit(fmt).as("format"), lit(codec).as("codec"), col("*"))
        .withColumn("smaller_than_plain", lit(bytes < plainBytes(fmt)))
    }.reduce(_ unionByName _).orderBy("format", "codec")
  }

  /** Typed checksum of an events-shaped relation, format-independent —
    * [[orcRoundTrip]] applies it to the read-back side; specs apply it
    * directly to the source to prove the hop changed nothing.
    */
  def eventChecksum(events: DataFrame): DataFrame = {
    val cents = rint(col("value") * 100).cast(LongType)
    val rowStr = concat_ws("|", col("event_id"), unix_timestamp(col("ts")),
      col("user_id"), col("event_type"), cents, col("props"))
    events.withColumn("h", md5_60(rowStr)).agg(
      count(lit(1)).as("n_rows"),
      sum(col("event_id")).cast(LongType).as("id_sum"),
      sum(unix_timestamp(col("ts"))).cast(LongType).as("ts_epoch_sum"),
      sum(cents).cast(LongType).as("value_cents"),
      countDistinct(col("event_type")).as("n_types"),
      expr("bit_xor(h)").as("row_xor"))
  }
}

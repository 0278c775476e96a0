package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.sources.Sources
import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.IngestPaths

/** One op lands one JSONL delivery and drains it with
  * `StreamingIngest.ingestAvailableNearDup(compactEvery = Some(8))`; the op
  * ends when the streaming query terminates. The output check (the
  * survivors of each delivery, recomputed by DuckDB) runs in run.py after
  * the process ends, from the per-delivery report recorded here.
  */
final class IngestStream(cfg: Map[String, Any], tr: Tracer) extends Workload {
  private val in = cfg("input").toString
  private val work = cfg("work").toString
  private val landing = s"$work/landing"
  private val paths = IngestPaths(s"$work/corpus", s"$work/store", s"$work/quarantine")
  private val checkpoint = s"$work/checkpoint"
  private val shadow = IngestPaths(s"$work/d-corpus", s"$work/d-store", s"$work/d-quarantine")
  val CompactEvery = 8
  /** Runs end on whole pairs of deliveries, so every run has the replayed
    * third delivery gen.py plans. */
  override def passOps: Int = 2
  private val files: IndexedSeq[String] =
    Main.json.readValue(Paths.get(s"$in/deliveries.json").toFile, classOf[Seq[Map[String, Any]]])
      .map(_("file").toString).toIndexedSeq
  private val schema = new StructType()
    .add("doc_id", LongType).add("text", StringType).add("lang", StringType)
    .add("source", StringType).add("n_chars", LongType)
  private var inputBytes = 0L
  private var kept = 0L
  private var arrived = 0L

  def open(spark: SparkSession): Unit = {
    Files.createDirectories(Paths.get(landing))
    // the program's own DuckDB statement of its near-duplicate pair law,
    // which run.py's check replays over the deliveries
    Files.writeString(Paths.get(s"$work/minhash_pairs_ctes.sql"), graft.LlmQueries.minhashPairsCtes)
    Sources.readValidated(spark, s"$in/stage/${files.head}", schema, "json").schema
    ()
  }

  def prepare(spark: SparkSession, i: Int): Boolean = {
    if (i >= files.size) return false
    val src = Paths.get(s"$in/stage/${files(i)}")
    inputBytes += Files.size(src)
    Files.copy(src, Paths.get(landing, files(i)))
    true
  }

  def run(spark: SparkSession, i: Int): Map[String, Any] = {
    tr.span("streaming.ingest") {
      val q = StreamingIngest.ingestAvailableNearDup(spark, landing, schema, paths,
        checkpoint, compactEvery = Some(CompactEvery))
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    Map.empty
  }

  /** Reads back what delivery `i` committed: its corpus partition and its
    * quarantined lines. The comparison itself is done by run.py. */
  def check(spark: SparkSession, i: Int, out: Map[String, Any]): (Seq[String], Map[String, Any]) = {
    val part = s"${paths.corpus}/ingest_batch=$i"
    val (n, idSum, idSq, xor) =
      if (!Files.exists(Paths.get(part))) (0L, 0L, 0L, 0L)
      else {
        val r = spark.read.parquet(part)
          .withColumn("h", conv(substring(md5(concat_ws("|", col("doc_id"), col("text"))),
            1, 15), 16, 10).cast(LongType))
          .agg(count(lit(1)), coalesce(sum("doc_id"), lit(0L)),
            coalesce(sum(col("doc_id") * col("doc_id")), lit(0L)),
            coalesce(expr("bit_xor(h)"), lit(0L)))
          .collect().head
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
    val qpart = s"${paths.quarantine}/ingest_batch=$i"
    val nBad = if (!Files.exists(Paths.get(qpart))) 0L else spark.read.parquet(qpart).count()
    kept += n
    (Nil, Map("kept" -> n, "id_sum" -> idSum, "id_sq" -> idSq, "xor" -> xor,
      "quarantined" -> nBad, "file" -> files(i)))
  }

  /** The streaming query hides its batch function and compaction, so the
    * traced run replays each delivery through them one call at a time,
    * into a corpus and store of its own. */
  override def decomposed(spark: SparkSession, i: Int): Unit = {
    val batch = tr.span("sources.read_validated")(
      Sources.readValidated(spark, s"$landing/${files(i)}", schema, "json").cache())
    tr.count("sources.corrupt_lines", batch.filter(col("_corrupt_record").isNotNull).count())
    arrived += batch.filter(col("_corrupt_record").isNull).count()
    tr.span("streaming.process_batch")(
      StreamingIngest.processBatchNearDup(batch, i, shadow).collect())
    batch.unpersist()
    if (i > 0 && i % CompactEvery == 0)
      tr.span("streaming.compact")(StreamingIngest.compactStores(spark, shadow, i).collect())
  }

  override def layerMetrics(spark: SparkSession, ops: Int): Map[String, Double] = {
    val store = Paths.get(paths.store)
    val storeFiles = parquetFiles(store)
    val ngramRows = parquetFiles(Paths.get(paths.store, "ngrams")).map(footerRows).sum
    val stored = Fs.treeBytes(Paths.get(paths.corpus)) + Fs.treeBytes(store)
    val n = math.max(1, ops).toDouble
    Map(
      "sources.corrupt_lines" -> tr.counter("sources.corrupt_lines") / n,
      "streaming.store_files" -> storeFiles.size.toDouble,
      "streaming.store_rows" -> ngramRows.toDouble,
      "streaming.kept_ratio" -> (if (arrived > 0) kept.toDouble / arrived else 0.0),
      "streaming.stored_bytes_per_input_byte" ->
        (if (inputBytes > 0) stored.toDouble / inputBytes else 0.0))
  }

  private def parquetFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(f => Files.isRegularFile(f) &&
      f.getFileName.toString.endsWith(".parquet")).toSeq

  private def footerRows(p: Path): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri), new org.apache.hadoop.conf.Configuration()))
    try r.getRecordCount finally r.close()
  }
}

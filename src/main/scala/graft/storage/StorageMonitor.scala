package graft.storage

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** Object-store inventory monitor (SURVEY S11-S13, §3.3).
  *
  * The reference walks S3 with boto3 on a single worker — HEAD per key
  * (`/root/reference/AWS_S3/s3_key_monitor.py:66-86`), paginated prefix
  * listing with a hand-rolled single-pass max
  * (`/root/reference/AWS_S3/s3_key_monitor.py:111-123`), and a full-bucket
  * loop its own docs warn is "naive ... not suitable for large buckets"
  * (`/root/reference/AWS_S3/s3_bucket_monitor.py:44,69`).
  *
  * Here listing is DISTRIBUTED: roots are parallelized across executors and
  * each task walks its subtree via the Hadoop FileSystem API (works for
  * file://, hdfs://, s3a://). A 100M-object bucket splits into prefixes so
  * no single task lists more than one subtree, and every downstream
  * aggregate is a partial+final agg — the reference's manual streaming max
  * and driver-side dict transposition collapse into one `groupBy` (q28).
  * The monitor path (`Monitors.storageMonitor`) needs every row for its
  * per-key metrics anyway, so it collects the inventory once and computes
  * its aggregates on the driver; q27 and q28 keep the distributed relation.
  */
object StorageMonitor {

  /** Multipart-part-size model for `parts_count` (the S3 multipart default
    * part size): the Hadoop FS API exposes no upload-part metadata, so the
    * count is derived deterministically from the object size — 1 for
    * anything under one part, ceil(size/part) above.
    */
  val MultipartPartSizeBytes: Long = 8L * 1024 * 1024

  /** One row per object: the S3-key-metadata relation. `content_type` is
    * derived from the extension (the HDFS API has no MIME metadata —
    * SURVEY S11); `storage_class` defaults like the reference's
    * `"s3 standard"` fallback (`s3_key_monitor.py:82-86`); `parts_count`
    * and the user-`metadata` map mirror the reference's key metrics
    * (`s3_key_monitor.py:78-86`) — the filesystem API carries no user
    * metadata, so the map is empty (a store with tags would fill it).
    */
  def inventory(spark: SparkSession, roots: Seq[String]): DataFrame = {
    import spark.implicits._
    // Ship the driver's Hadoop conf to executors: spark.hadoop.* settings
    // (s3a credentials/endpoints, hdfs nameservices) live in the session
    // conf, and a bare `new Configuration()` built inside the closure
    // would drop them — file:// happens to work, authenticated stores fail.
    val serConf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val inv = spark.sparkContext
      .parallelize(roots, math.max(1, roots.size))
      .flatMap { root =>
        val rootPath = new Path(root)
        val fs = rootPath.getFileSystem(serConf.value)
        graft.util.Listing.files(fs, rootPath).map { st =>
          val p = st.getPath
          (root, p.toString, p.getName, st.getLen, st.getModificationTime)
        }
      }
      .toDF("root", "path", "file_name", "size_bytes", "modification_ms")
    inv.withColumn("extension",
        when(col("file_name").contains("."),
          element_at(split(col("file_name"), "\\."), -1)).otherwise(lit("")))
      .withColumn("content_type",
        when(col("extension") === "parquet", lit("application/vnd.apache.parquet"))
          .when(col("extension") === "json", lit("application/json"))
          .when(col("extension") === "csv", lit("text/csv"))
          .otherwise(lit("application/octet-stream")))
      .withColumn("storage_class", lit("s3 standard"))
      .withColumn("parts_count",
        greatest(lit(1L), ceil(col("size_bytes") / lit(MultipartPartSizeBytes.toDouble)))
          .cast("int"))
      .withColumn("metadata", map().cast("map<string,string>"))
  }

  /** Per-root (prefix) aggregate block — the whole `monitor_S3_prefix`
    * body (`s3_key_monitor.py:113-133`) as one aggregation: object count,
    * total/max/mean size, largest key (deterministic argmax).
    */
  def prefixSummary(inventory: DataFrame): DataFrame =
    inventory.groupBy("root").agg(
      count(lit(1)).as("num_objects"),
      sum("size_bytes").as("total_bytes"),
      max("size_bytes").as("max_bytes"),
      round(avg("size_bytes"), 4).as("avg_bytes"),
      max_by(col("file_name"), struct(col("size_bytes"), col("file_name"))).as("largest_file"))

  /** Filesystem capacity stats (SURVEY S8): the `stv_partitions`
    * capacity/used/free-GB block
    * (`/root/reference/AWS_Redshift/redshift_database_monitor.py:50-57,111-116`)
    * re-expressed over the Hadoop FileSystem status API, as (name, value)
    * pairs: capacity_gb, used_gb, free_gb, used_pct.
    */
  def diskStats(spark: SparkSession, root: String): Seq[(String, Double)] = {
    val p = new Path(root)
    val st = p.getFileSystem(spark.sessionState.newHadoopConf()).getStatus(p)
    val gb = 1024.0 * 1024 * 1024
    val (cap, used, free) = (st.getCapacity / gb, st.getUsed / gb, st.getRemaining / gb)
    Seq("capacity_gb" -> cap, "used_gb" -> used, "free_gb" -> free)
      .map { case (k, v) => k -> math.rint(v * 100) / 100 } :+
      ("used_pct" -> (if (cap == 0) 0.0 else math.rint(used / cap * 10000) / 100))
  }

  /** Small-files COMPACTION PLAN over an inventory relation
    * (file_name, size_bytes): files in deterministic name order pack
    * into ≈`targetBytes` bins by cumulative-sum bucketing — bin =
    * (bytes before this file) div target — the planning step of an
    * OPTIMIZE/compaction job (the lakehouse maintenance the reference's
    * bucket monitor can only observe the need for: thousands of tiny
    * objects, `AWS_S3/s3_bucket_monitor.py:44,69`). Next-fit semantics:
    * a bin may overshoot the target by less than one file; bin ids may
    * skip where a single file spans several targets.
    *
    * Scale shape — a DISTRIBUTED prefix sum, never a global window:
    * file-metadata grain is millions of rows at 100 TB, and an
    * unpartitioned cumsum window would sort all of them through one
    * task. Instead the two-level scan (the `Pack.assignShards` idiom,
    * transposed to a string order key via a RangePartitioner):
    *
    *   1. ONE range partitioning by `file_name` spreads the inventory
    *      over P sorted, contiguous buckets (the partitioner's sampled
    *      boundaries are fixed at construction, so both passes below
    *      see the identical layout — and the second job reuses the
    *      first's shuffle files outright);
    *   2. per-bucket byte subtotals — P stat values — collect to the
    *      driver and prefix-scan into bucket start offsets, the only
    *      cross-bucket communication;
    *   3. each bucket streams its local running sum rebased by its
    *      offset, in parallel, assigning bins on the fly.
    *
    * Values are identical to the global-window form (prefix sums don't
    * care where chunk boundaries fall). Ties on `file_name` (possible
    * across roots) order arbitrarily within a bucket — the same
    * nondeterminism the window form had.
    *
    * Output per bin: (bin, n_files, total_bytes, first_file,
    * last_file).
    */
  def compactionPlan(inventory: DataFrame,
      targetBytes: Long): DataFrame =
    binAssignments(inventory, targetBytes)
      .groupBy("bin")
      .agg(count(lit(1)).cast("long").as("n_files"),
        sum("size_bytes").cast("long").as("total_bytes"),
        min("file_name").as("first_file"),
        max("file_name").as("last_file"))
      .orderBy("bin")

  /** Per-FILE bin assignment — the relation [[compactionPlan]] groups
    * and [[compact]] executes: (bin, file_name, path, size_bytes).
    * `path` passes through when the inventory carries one (the compact
    * executor needs it to read the bin's files); a bare
    * (file_name, size_bytes) relation gets path = file_name.
    */
  def binAssignments(inventory: DataFrame,
      targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    val spark = inventory.sparkSession
    import spark.implicits._
    val withPath =
      if (inventory.columns.contains("path")) inventory
      else inventory.withColumn("path", col("file_name"))
    val triples = withPath
      .select(col("file_name").cast("string"), col("path").cast("string"),
        col("size_bytes").cast("long"))
      .na.drop()
      .as[(String, String, Long)].rdd
      .map { case (n, p, s) => (n, (p, s)) }
    val nBuckets = math.max(spark.sparkContext.defaultParallelism,
      triples.getNumPartitions)
    val part = new org.apache.spark.RangePartitioner(nBuckets, triples)
    val sorted = triples.repartitionAndSortWithinPartitions(part)
    // step 2: P subtotal stat values (empty buckets emit 0), driver scan
    val subs = sorted.mapPartitionsWithIndex { case (pid, it) =>
      var s = 0L; it.foreach(s += _._2._2); Iterator((pid, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(subs.scanLeft(0L)(_ + _))
    // step 3: bucket-local running sums, rebased — shuffle files reused
    sorted.mapPartitionsWithIndex { case (pid, it) =>
      var cum = offsets.value(pid)
      it.map { case (name, (p, sz)) =>
        val bin = cum / targetBytes; cum += sz; (bin, name, p, sz)
      }
    }.toDF("bin", "file_name", "path", "size_bytes")
  }

  /** EXECUTE a compaction plan: read each bin's files, write exactly
    * ONE parquet file per bin under `outDir` (`__bin=N/` directories),
    * and return the read-back MANIFEST — the step after
    * [[compactionPlan]], i.e. the lakehouse OPTIMIZE job itself.
    *
    * Requirements: every inventory file shares one schema (compaction
    * is per-table), and the inventory carries `path`.
    *
    * Shape: the file→bin map is file-METADATA grain (capped driver
    * collect — real OPTIMIZE implementations hold the same file list
    * in the transaction log); rows then move in ONE distributed pass —
    * scan all files, broadcast-join each row's source file to its bin,
    * hash-repartition by bin (each bin lands whole in one task, so the
    * per-bin directory gets exactly one file), write. The manifest
    * joins the plan against the ACTUAL written output: per bin, input
    * file/byte counts, output file count, and the read-back row count
    * — so conservation is measured, not assumed.
    *
    * Output per bin: (bin, n_files_in, bytes_in, n_files_out,
    * bytes_out, n_rows).
    */
  def compact(spark: SparkSession, inv: DataFrame,
      targetBytes: Long, outDir: String): DataFrame = {
    val assign = graft.util.Caches.cached(
      binAssignments(inv, targetBytes))
    val files = graft.util.Guards.countedCollect(
      assign.select(col("path")), "StorageMonitor.compact")
      .map(_.getString(0))
    val plan = assign.groupBy("bin")
      .agg(count(lit(1)).cast("long").as("n_files_in"),
        sum("size_bytes").cast("long").as("bytes_in"))
    if (files.isEmpty) {
      return plan.select(col("bin"), col("n_files_in"), col("bytes_in"),
        lit(0L).as("n_files_out"), lit(0L).as("bytes_out"),
        lit(0L).as("n_rows"))
    }
    // scheme-normalize so input_file_name() ("file:///x") matches the
    // inventory's Hadoop path rendering ("file:/x")
    def norm(c: org.apache.spark.sql.Column) =
      regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "")
    val binMap = assign.select(norm(col("path")).as("__srcn"), col("bin"))
    val nBins = assign.agg(countDistinct(col("bin"))).head().getLong(0)
    spark.read.parquet(files.toSeq: _*)
      .withColumn("__srcn", norm(input_file_name()))
      .join(broadcast(binMap), Seq("__srcn"))
      .withColumnRenamed("bin", "__bin")
      .drop("__srcn")
      .repartition(math.max(1, nBins.toInt), col("__bin"))
      .write.mode("overwrite").partitionBy("__bin").parquet(outDir)
    val outInv = inventory(spark, Seq(outDir))
      .filter(col("extension") === "parquet")
      .withColumn("bin",
        regexp_extract(col("path"), "__bin=(-?\\d+)", 1).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).cast("long").as("n_files_out"),
        sum("size_bytes").cast("long").as("bytes_out"))
    val outRows = spark.read.parquet(outDir)
      .groupBy(col("__bin").cast("long").as("bin"))
      .agg(count(lit(1)).cast("long").as("n_rows"))
    plan
      .join(outInv, Seq("bin"), "left")
      .join(outRows, Seq("bin"), "left")
      .na.fill(0L, Seq("n_files_out", "bytes_out", "n_rows"))
      .orderBy("bin")
  }
}

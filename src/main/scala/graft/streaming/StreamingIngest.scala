package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.operators.TextOps

/** Continuous corpus ingest — the daily operation of a training-data
  * pipeline: JSONL deliveries land in a directory; each micro-batch is
  * parsed under an explicit schema with PERMISSIVE corrupt capture, its
  * malformed lines are quarantined, its documents are deduplicated
  * against a PERSISTENT store of earlier survivors (and within the
  * delivery), and the survivors append to the clean corpus and extend
  * the store. (The reference's monitors observe tables that some such
  * ingest produced; this is the Spark-native producer, composed from the
  * engine's own pieces: `Sources.readValidated`'s corrupt posture, the
  * drop laws of `Dedup`, the file-stream source of `ContinuousMonitor`.)
  *
  * Two tiers share one delivery skeleton, [[deliver]]. The exact tier
  * ([[processBatch]], q280) drops a row whose token-set fingerprint is
  * stored or repeats a lower-id row's; the near-dup tier
  * ([[processBatchNearDup]], q281) drops on verified MinHash band
  * collisions. A tier supplies only its per-row drop marker and its store
  * sinks. The skeleton gives every row one fate, checkpoints the fated
  * rows once with the report counts observed on that job, and writes
  * every sink as a filter of the checkpoint.
  *
  * Effectively-exactly-once WITHOUT a transactional sink: foreachBatch
  * writes several outputs (quarantine, corpus, store), and a crash
  * between them must not lose or duplicate documents on replay. Every
  * write is a batch-id-partitioned overwrite (`.../ingest_batch=N`
  * replaces itself), and the dedup decision is REPLAY-STABLE because the
  * store read excludes the replaying batch's own partition
  * (`ingest_batch < N`) — so a half-written batch N re-derives the
  * same survivor set and overwrites every partition to the same
  * state. Without the exclusion, replaying batch N would anti-join
  * against its own first-attempt store rows and drop every survivor
  * as a "duplicate" — the classic two-sink replay loss.
  *
  * Scale shape per batch: cost ~ |delivery| + |store| (fingerprints,
  * band keys and shingle hashes, no text), never |corpus| × deliveries;
  * the only document-body shuffle is the delivery itself. The store read
  * prunes to earlier partitions; long-running loops pass `compactEvery`
  * to [[ingestAvailable]] / [[ingestAvailableNearDup]] so every n-th
  * delivery folds the committed batch partitions into the base partition
  * via [[compactStores]] — same layout, fewer files.
  */
object StreamingIngest {

  /** Output layout: clean corpus, fingerprint store, corrupt-line
    * quarantine — each partitioned by `ingest_batch`.
    */
  final case class IngestPaths(corpus: String, store: String, quarantine: String)

  /** Run a delivery's independent sink writes concurrently from a
    * driver pool (guide §2.6, the codec-matrix pattern): each write is
    * a batch-partitioned overwrite of its own path/table, so their
    * job+commit latencies overlap instead of serializing — at delivery
    * grain those fixed costs dominate the per-batch wall (round-15).
    * Replay safety is ORDER-FREE by construction: the dedup decision
    * only reads `ingest_batch < N`, so a crash that leaves ANY subset
    * of batch N's sinks written replays to the identical final state
    * (the kill-restart specs pin the resulting hashes). Rethrows the
    * first real failure, not invokeAll's ExecutionException wrapper.
    */
  private def writeSinksInParallel(tasks: Seq[() => Unit]): Unit =
    if (tasks.size <= 1) tasks.foreach(_.apply())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
      try {
        import scala.jdk.CollectionConverters._
        val cs: Seq[java.util.concurrent.Callable[Unit]] =
          tasks.map(t => (() => t()): java.util.concurrent.Callable[Unit])
        pool.invokeAll(cs.asJava).asScala.foreach { fut =>
          try { fut.get(); () }
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw Option(e.getCause).getOrElse(e)
          }
        }
        ()
      } finally { pool.shutdown(); () }
    }

  /** Delivery-report schema of both tiers: the batch id, the clean rows
    * in, the malformed lines, and the clean rows dropped against the
    * store, dropped within the delivery and kept.
    */
  val DeliveryReportSchema: StructType = new StructType()
    .add("ingest_batch", LongType, nullable = false)
    .add("n_in", LongType, nullable = false)
    .add("n_corrupt", LongType, nullable = false)
    .add("n_dropped_store", LongType, nullable = false)
    .add("n_dropped_within", LongType, nullable = false)
    .add("n_kept", LongType, nullable = false)

  /** The delivery skeleton of both tiers. `marked` is the delivery's
    * per-row relation — every line of `batch`, `_corrupt_record`
    * included, plus the tier's own columns — with the tier's drop marker
    * `__st`: true for a row dropped against the store, false for one
    * dropped within the delivery, null for a row the tier keeps.
    *
    * Each row gets one fate: corrupt first, whatever its marker, then
    * dropped against the store, dropped within the batch, or kept. The
    * fated relation is checkpointed once, and the four report counts
    * ride that checkpoint job as observed metrics (`Dataset.observe`), so
    * no separate aggregate runs. EAGER checkpoint, not cache: the
    * marker's lineage reads the store tables, and a store INSERT
    * OVERWRITE may not read from the table it overwrites — the
    * checkpoint cuts the plan at the materialized rows. `cached`, a cache
    * the tier's relation reads, is released once the checkpoint holds
    * the rows.
    *
    * Every sink is a filter of the checkpoint: the quarantine (the
    * corrupt lines, written only when there are any), the corpus (the
    * kept rows' document columns) and the tier's `storeSinks` of the
    * kept rows. No sink joins back to a survivor set, and all start
    * together: each overwrites its own batch partition, so they run
    * overlapped ([[writeSinksInParallel]], whose scaladoc gives the
    * order-free replay argument).
    *
    * Returns the one-row delivery report ([[DeliveryReportSchema]]) as a
    * local relation (collecting it runs no Spark job).
    */
  private def deliver(batch: DataFrame, batchId: Long, paths: IngestPaths,
      marked: => DataFrame, cached: Option[DataFrame] = None)(
      storeSinks: DataFrame => Seq[() => Unit]): DataFrame = {
    def n(fate: Int) = count_if(col("__fate") === fate)
    val counts = new org.apache.spark.sql.Observation()
    val fated = try {
      marked.withColumn("__fate",
          when(col("_corrupt_record").isNotNull, lit(FateCorrupt))
            .when(col("__st"), lit(FateDroppedStore))
            .when(!col("__st"), lit(FateDroppedWithin))
            .otherwise(lit(FateKept)))
        .drop("__st")
        .observe(counts, n(FateCorrupt).as("corrupt"),
          n(FateDroppedStore).as("store"), n(FateDroppedWithin).as("within"),
          n(FateKept).as("kept"))
        .localCheckpoint()
    } finally cached.foreach(_.unpersist())

    try {
      // the checkpoint job has ended, so its observed counts are final
      val observed = counts.get
      def c(name: String) = observed(name).asInstanceOf[Long]
      val (nCorrupt, nStore, nWithin, nKept) =
        (c("corrupt"), c("store"), c("within"), c("kept"))
      val kept = fated.filter(col("__fate") === FateKept)
      val quarantine = if (nCorrupt == 0) Nil else Seq(() =>
        fated.filter(col("__fate") === FateCorrupt)
          .select(col("_corrupt_record").as("raw_line"))
          .write.mode("overwrite")
          .parquet(s"${paths.quarantine}/ingest_batch=$batchId"))
      writeSinksInParallel(quarantine ++ Seq(() =>
        kept.select(batch.columns.toSeq.filter(_ != "_corrupt_record").map(col): _*)
          .write.mode("overwrite")
          .parquet(s"${paths.corpus}/ingest_batch=$batchId")) ++ storeSinks(kept))

      batch.sparkSession.createDataFrame(java.util.Collections.singletonList(
        org.apache.spark.sql.Row(batchId, nStore + nWithin + nKept, nCorrupt,
          nStore, nWithin, nKept)), DeliveryReportSchema)
    } finally {
      // checkpoint blocks are not cache entries: release them explicitly
      // (round-12 ADVICE)
      graft.util.Caches.releaseCheckpoint(fated)
    }
  }

  /** EXACT-dup ingest (q280), a tier of [[deliver]]: a row drops when its
    * fingerprint ([[TextOps.fingerprint]], md5 over the sorted distinct
    * token set) is in the store — a left join against the earlier
    * batches' [[storeFingerprints]], distinct so that it adds no row — or
    * when a lower-id clean row of its own delivery has the same
    * fingerprint (`row_number` over the fingerprint; the window also keys
    * on cleanliness, so a malformed line never retires a clean row). The
    * law is at ROW grain: a `doc_id` delivered twice with one text keeps
    * one row, with two texts both. A null text fingerprints to null,
    * which equals no stored fingerprint, so null texts dedup within a
    * delivery only. The store sink appends the kept rows' fingerprints.
    *
    * `batch` must carry the document columns plus `_corrupt_record`
    * (the [[graft.sources.Sources.readValidated]] posture); `batchId`
    * is the foreachBatch epoch (or the caller's delivery number).
    * Returns the delivery report.
    */
  def processBatch(batch: DataFrame, batchId: Long, paths: IngestPaths,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = batch.sparkSession
    val known = storeFingerprints(spark, paths.store, beforeBatch = batchId)
    val fpTable = ensureStoreTable(spark, FpsStore, paths.store)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__fp"), col("_corrupt_record").isNull)
      .orderBy(col(idCol).asc)
    deliver(batch, batchId, paths, batch
      .withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .join(known, col("__fp") === col("fingerprint"), "left")
      .withColumn("__st", when(col("fingerprint").isNotNull, lit(true))
        .when(row_number().over(w) > 1, lit(false)))
      .drop("fingerprint")) { kept =>
      Seq(() => insertBatchPartition(spark, fpTable, FpsStore, batchId,
        kept.select(col("__fp").as("fingerprint"))))
    }
  }

  /** NEAR-dup ingest (q281), the fuzzy tier of [[deliver]]: the
    * persistent store holds the SURVIVORS' MinHash band keys (blocking)
    * and hashed-bigram sets (verification) — the production layout for
    * near-dedup-on-ingest: deliveries never join document text against
    * the corpus, only band keys and ngram-hash arrays
    * ([[graft.operators.Dedup.incrementalNearDups]]' law, store-backed).
    *
    * Store layout (round 12): both stores are BUCKETED external tables
    * anchored at `paths.store/bands|ngrams` — bands CLUSTERED BY
    * (band_idx, band_key), ngrams by doc_id, [[StoreBuckets]] buckets,
    * still partitioned by `ingest_batch`. The per-delivery candidate
    * probe (`delivery bands ⋈ store bands`) and the verification join
    * (`candidates ⋈ store ngrams`) therefore read the STORE SIDE
    * WITHOUT an Exchange — only the (small) delivery side shuffles to
    * the bucket layout — so per-batch cost stays ~|delivery| +
    * one store SCAN even as the store grows, instead of re-shuffling
    * the accumulated store every delivery. Reads are also a total
    * function of the catalog (an empty table, never a missing path),
    * which removes the bands-present/ngrams-missing crash window the
    * old two-path read had: a crash between the two store writes
    * replays into two half-empty RELATIONS, not a `None.get`.
    * `idCol` must be long-valued (the store schema pins BIGINT ids —
    * the house document-id convention).
    *
    * Drop law (one-step, deterministic, no transitive closure):
    * an incoming doc is dropped iff it verifies (bigram Jaccard ≥
    * `threshold`) against (i) any earlier-batch SURVIVOR it
    * band-collides with — the store join — or (ii) any LOWER-ID doc of
    * its own batch it band-collides with, survivor or not. (ii) is
    * deliberately one-step: chains a~b, b~c retire both b and c even
    * when a≁c — conservative for training data, and exactly restatable
    * in SQL (no recursive closure), so the whole multi-delivery run
    * oracles batch-by-batch.
    *
    * Shape: ONE per-row relation of the delivery — every line, its
    * hashed bigrams `hs` and its MinHash signature `sig`
    * ([[graft.operators.Dedup.minhashSig]], row-local) — feeds the drop
    * computation, and the dropped ids join back onto it as the drop
    * marker. The store sinks are the kept rows' `hs` (ngram store) and
    * their `sig` through `bandExplode` (band store).
    *
    * Rows are the unit of the store and the report: a `doc_id`
    * delivered twice in one batch keeps one signature per row (the
    * oracle's per-row `sig`), not one merged over both texts. The drop
    * law pairs ids (see [[droppedIds]]), so every row of a dropped id
    * drops, and the report counts rows.
    *
    * Returns the delivery report.
    */
  def processBatchNearDup(batch: DataFrame, batchId: Long, paths: IngestPaths,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 16, rowsPerBand: Int = 4, threshold: Double = 0.5,
      maxBucketSize: Option[Long] = None): DataFrame = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    val bandsTable = ensureStoreTable(spark, BandsStore, s"${paths.store}/bands")
    val ngramsTable = ensureStoreTable(spark, NgramsStore, s"${paths.store}/ngrams")
    // the per-row relation, cached for the checkpoint job: the drop
    // computation and the marker join both read it. Hash-partitioned by
    // id, which spreads the shingle and signature work over the cores and
    // lets the drop computation's per-id collapse run without a shuffle
    // of its own. `__hs` is its own projection, so the k signature slots
    // share one shingle pass
    val rows = batch
      .repartition(spark.sparkContext.defaultParallelism, col(idCol))
      .withColumn("__hs", TextOps.hashedNgrams(col(textCol)))
      .withColumn("__sig", Dedup.minhashSig(col("__hs"), k))
      .cache()
    deliver(batch, batchId, paths, cached = Some(rows), marked = rows
      .join(broadcast(droppedIds(rows.filter(col("_corrupt_record").isNull),
        batchId, bandsTable, ngramsTable, idCol, rowsPerBand, threshold,
        maxBucketSize)), col(idCol) === col("__drop_id"), "left")
      .drop("__drop_id")) { kept =>
      // the store keeps survivors' FULL band sets (the cap thins the
      // candidate join, never the persisted signatures); static
      // partition INSERT OVERWRITE = the replay-safe batch-partitioned
      // overwrite, through the bucketed tables
      Seq(
        () => insertBatchPartition(spark, bandsTable, BandsStore, batchId,
          Dedup.bandExplode(
            kept.select(col(idCol).as("doc_id"), col("__sig").as("sig")),
            rowsPerBand)
            .select(col("doc_id").cast("long"), col("band_idx").cast("int"),
              col("band_key").cast("string"))),
        () => insertBatchPartition(spark, ngramsTable, NgramsStore, batchId,
          kept.select(col(idCol).cast("long").as("doc_id"), col("__hs").as("hs"))))
    }
  }

  /** The delivery's dropped ids under [[processBatchNearDup]]'s drop law,
    * one row per id: (`__drop_id`, `__st`), where `__st` is true when the
    * id verifies against an earlier-batch survivor (an id dropped on both
    * counts is a store drop) and false when only a lower-id doc of its
    * own batch retires it. `clean` is the per-row relation without its
    * corrupt lines, hash-partitioned by `idCol`.
    *
    * The law pairs IDS, as the DuckDB statement of it does (`cand` is a
    * DISTINCT over doc ids; `j` joins the per-row shingle sets on
    * `doc_id`): an id delivered in several rows pairs with a partner when
    * any of its rows band-collides with the partner and any of its rows
    * verifies against any of the partner's. So the probe runs at id
    * grain: one row per id carrying the list of its rows' shingle sets
    * and the distinct bands of its rows' signatures; both probes carry
    * the shingle lists through their band joins and verify with
    * `exists(…, jaccard ≥ threshold)`, so no pair set is deduplicated
    * and nothing joins back to the shingles. The hot-bucket cap counts
    * bands at ROW grain, as the oracle's `hot` CTE does.
    */
  private def droppedIds(clean: DataFrame, batchId: Long, bandsTable: String,
      ngramsTable: String, idCol: String, rowsPerBand: Int,
      threshold: Double, maxBucketSize: Option[Long]): DataFrame = {
    import graft.operators.Dedup
    import graft.functions.SortedLongJaccard.sortedLongJaccard
    val spark = clean.sparkSession
    val rowBands = transform(Dedup.bandKeys(col("__sig"), rowsPerBand),
      (key, i) => struct(i.as("band_idx"), key.as("band_key")))
    val narrow = clean.select(col(idCol).as("doc_id"), col("__hs").as("hs"),
      rowBands.as("bands"))
    // one row per id; `collect_list` skips a null-text row's null set,
    // which verifies against nothing anyway
    val perId = narrow.groupBy("doc_id").agg(
      collect_list(col("hs")).as("hss"),
      array_distinct(flatten(collect_list(col("bands")))).as("bands"))
    val bandsAll = perId.select(col("doc_id"), col("hss"), inline(col("bands")))
    // hot-bucket cap, the q34/q61 skew guard transposed to ingest: a
    // band key shared by d store docs × m delivery docs fans the
    // candidate join out d·m rows, so one boilerplate bucket can
    // dominate the whole delivery. The cap drops the delivery's OWN
    // over-full buckets (deterministic — the store side is already
    // survivor-thinned); recall for pairs that only collide in hot
    // buckets is the documented cost, exactly as in
    // [[graft.operators.Dedup.lshCandidates]] /
    // [[graft.operators.DedupConfig.Production]].
    val bandsNew = maxBucketSize match {
      case None => bandsAll
      case Some(cap) =>
        val hot = narrow.select(inline(col("bands")))
          .groupBy("band_idx", "band_key")
          .agg(count(lit(1)).as("__n")).filter(col("__n") > cap)
          .select("band_idx", "band_key")
        bandsAll.join(broadcast(hot), Seq("band_idx", "band_key"), "left_anti")
    }
    def verifies(hss: Column, hb: Column): Column =
      exists(hss, ha => sortedLongJaccard(ha, hb) >= threshold)

    // (i) verified collision with an earlier-batch survivor. Both
    // store reads come off the bucketed tables: the band probe and
    // the ngram verification stream the store side shuffle-free
    // (bucket layout == join key), and an empty store is an empty
    // RELATION, so the first batch and the crash-between-sinks
    // replay take the same code path.
    val storeBands = spark.table(bandsTable)
      .filter(col("ingest_batch") < batchId)
      .select(col("doc_id").as("store_id"), col("band_idx"),
        col("band_key"))
    val storeNg = spark.table(ngramsTable)
      .filter(col("ingest_batch") < batchId)
      .select(col("doc_id").as("store_id"), col("hs").as("hb"))
    val droppedStore = bandsNew.join(storeBands, Seq("band_idx", "band_key"))
      .join(storeNg, "store_id")
      .filter(verifies(col("hss"), col("hb")))
      .select("doc_id")
    // (ii) verified collision with a lower-id doc of the same batch
    val droppedWithin = bandsNew.as("a").join(bandsNew.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .filter(exists(col("b.hss"), hb => verifies(col("a.hss"), hb)))
      .select(col("b.doc_id").as("doc_id"))
    droppedStore.withColumn("__st", lit(true))
      .unionByName(droppedWithin.withColumn("__st", lit(false)))
      .groupBy(col("doc_id").as("__drop_id")).agg(max(col("__st")).as("__st"))
  }

  /** Row fates of [[deliver]]'s per-row relation. */
  private final val FateKept = 0
  private final val FateDroppedStore = 1
  private final val FateDroppedWithin = 2
  private final val FateCorrupt = 3

  /** Bucket count of the near-dup store tables. Sized like a shuffle
    * partition count for the STORE's steady-state volume, not the
    * delivery's: each delivery probe reads the store at this
    * parallelism without an Exchange.
    */
  val StoreBuckets: Int = 16

  /** One kind of store table: the catalog-name prefix, the column DDL
    * and the bucket columns (CLUSTERED BY and SORTED BY).
    */
  private final case class StoreKind(kind: String, columnsDdl: String,
      bucketCols: Seq[String])

  private val FpsStore = StoreKind("fps", "fingerprint STRING", Seq("fingerprint"))
  private val BandsStore = StoreKind("bands",
    "doc_id BIGINT, band_idx INT, band_key STRING", Seq("band_idx", "band_key"))
  private val NgramsStore = StoreKind("ngrams",
    "doc_id BIGINT, hs ARRAY<BIGINT>", Seq("doc_id"))

  /** Every store table with its location under the store root. */
  private def stores(paths: IngestPaths): Seq[(StoreKind, String)] = Seq(
    FpsStore -> paths.store,
    BandsStore -> s"${paths.store}/bands",
    NgramsStore -> s"${paths.store}/ngrams")

  /** BOOTSTRAP the near-dup store from an EXISTING corpus — the
    * operational day-zero of near-dedup-on-ingest: a pipeline rarely
    * starts empty; it starts against a deduplicated corpus whose
    * signatures must pre-populate the store so the very first delivery
    * dedups against history. Writes the corpus docs' full band sets and
    * hashed-bigram arrays as ONE batch partition — by default the BASE
    * partition `ingest_batch = −1`: Structured Streaming numbers its
    * FIRST micro-batch 0, whose store read filters `ingest_batch < 0`
    * and whose own insert OVERWRITES partition 0, so a bootstrap at 0
    * would be both invisible to and destroyed by the first delivery;
    * −1 is below every batch id (visible to all) and is exactly the
    * partition [[compactStores]] maintains, so compaction semantics
    * are unchanged. No dedup runs here — the corpus is presumed
    * already deduplicated, exactly like a survivor set. Also the
    * large-regime store builder for the growth bench (round-13 verdict
    * task 1: prove the probe at store ≫ delivery).
    */
  def bootstrapNearDupStore(spark: SparkSession, corpus: DataFrame,
      paths: IngestPaths, batchId: Long = -1L, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 16, rowsPerBand: Int = 4): Unit = {
    import graft.operators.Dedup
    // the delivery path's per-row signature, so bootstrap and delivery
    // bands agree
    val ngrams = graft.util.Parallelism.ensure(corpus)
      .select(col(idCol).as("doc_id"), TextOps.hashedNgrams(col(textCol)).as("hs"))
    val bands = Dedup.bandExplode(
      ngrams.select(col("doc_id"), Dedup.minhashSig(col("hs"), k).as("sig")),
      rowsPerBand)
    insertBatchPartition(spark,
      ensureStoreTable(spark, BandsStore, s"${paths.store}/bands"),
      BandsStore, batchId,
      bands.select(col("doc_id").cast("long"), col("band_idx").cast("int"),
        col("band_key").cast("string")))
    insertBatchPartition(spark,
      ensureStoreTable(spark, NgramsStore, s"${paths.store}/ngrams"),
      NgramsStore, batchId,
      ngrams.select(col("doc_id").cast("long"), col("hs")))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Catalog name of a store table anchored at `location` — derived
    * from the location so concurrent ingest roots in one session never
    * collide, and deterministic so a RESTARTED session (fresh
    * in-memory catalog) re-binds the same files.
    */
  def storeTableName(kind: String, location: String): String =
    s"graft_ingest_${kind}_${md5hex(location).take(12)}"

  /** CREATE IF NOT EXISTS + partition recovery for a bucketed EXTERNAL
    * store table. RECOVER PARTITIONS is the restart path: a new JVM's
    * catalog starts empty, the parquet under `location` does not — the
    * recover re-registers every earlier delivery's `ingest_batch=N`
    * directory (idempotent and cheap mid-run: one listing).
    *
    * ENSURED ONCE PER CATALOG (round-13): processBatchNearDup touches
    * three tables per delivery, and the CREATE + RECOVER pair is two
    * catalog round-trips each — measurable per-batch DDL drag on the
    * e2e loop. Within one catalog lifetime the entry cannot go stale
    * (our own INSERTs register their partitions). The memo is keyed by
    * the session's SharedState (weakly, so stopped sessions GC): a
    * REBUILT SparkSession in the same JVM gets a fresh in-memory
    * catalog and therefore a fresh memo — it re-runs the CREATE +
    * RECOVER restart path instead of trusting a stale one.
    * [[dropStoreTables]] un-memoizes so short-lived staging roots
    * re-create cleanly.
    */
  private val ensured =
    new java.util.WeakHashMap[AnyRef, java.util.Set[String]]()

  private def ensuredSet(spark: SparkSession): java.util.Set[String] =
    ensured.synchronized {
      ensured.computeIfAbsent(spark.sharedState,
        _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
    }

  private def ensureStoreTable(spark: SparkSession, store: StoreKind,
      location: String): String = {
    val name = storeTableName(store.kind, location)
    if (ensuredSet(spark).contains(name)) return name
    // first delivery: the external location must exist before RECOVER
    // PARTITIONS walks it
    val loc = new org.apache.hadoop.fs.Path(location)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(loc)
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $name (${store.columnsDdl},
         |  ingest_batch BIGINT)
         |USING parquet PARTITIONED BY (ingest_batch)
         |CLUSTERED BY (${store.bucketCols.mkString(", ")})
         |SORTED BY (${store.bucketCols.mkString(", ")})
         |INTO $StoreBuckets BUCKETS
         |LOCATION '$location'""".stripMargin)
    spark.sql(s"ALTER TABLE $name RECOVER PARTITIONS")
    ensuredSet(spark).add(name)
    name
  }

  /** Replay-safe store append: STATIC partition INSERT OVERWRITE —
    * only `ingest_batch=$batchId` is replaced, whatever the session's
    * partitionOverwriteMode, and the write lands bucketed+sorted per
    * the table spec. The input must carry the table's column types.
    *
    * The input is hash-partitioned by the bucket columns into the
    * largest divisor of [[StoreBuckets]] that does not exceed the
    * session's parallelism. Spark's bucket id is
    * `pmod(murmur3(bucket cols), StoreBuckets)` and the partition id
    * `pmod(murmur3(bucket cols), n)`, which for n dividing
    * [[StoreBuckets]] is the bucket id mod n: every bucket's rows land
    * in exactly one write task, so an insert writes one file per bucket
    * present, in no more write tasks than the session has cores.
    */
  private def insertBatchPartition(spark: SparkSession, table: String,
      store: StoreKind, batchId: Long, df: DataFrame): Unit = {
    val cores = spark.sparkContext.defaultParallelism
    val tasks = (StoreBuckets to 1 by -1)
      .find(n => StoreBuckets % n == 0 && n <= cores).getOrElse(1)
    // identifier-safe for the base partition's negative id
    val view = s"__graft_insert_${table}_" +
      (if (batchId < 0) s"m${-batchId}" else batchId.toString)
    df.repartition(tasks, store.bucketCols.map(col): _*)
      .createOrReplaceTempView(view)
    spark.sql(s"INSERT OVERWRITE TABLE $table " +
      s"PARTITION (ingest_batch=$batchId) SELECT * FROM $view")
    spark.catalog.dropTempView(view)
    ()
  }

  /** Compact every store partition of batches in [0, beforeBatch) into
    * the single BASE partition `ingest_batch = -1` — the maintenance
    * job a long-running ingest needs: each delivery adds up to
    * [[StoreBuckets]] files per store (one per bucket present), so at
    * 10⁵ deliveries the per-delivery store scan pays millions of file
    * opens; compaction collapses them to one bucketed file set while
    * keeping layout,
    * bucketing, and read semantics IDENTICAL (every reader filters
    * `ingest_batch < N`, and −1 < N always, so base rows keep
    * participating in dedup exactly as before).
    *
    * Crash safety by IDEMPOTENCE + DUPLICATE TOLERANCE, not
    * transactions: (1) merged rows stage under a `_compact_stage` dir
    * (hidden from table reads); (2) the base partition INSERT
    * OVERWRITEs from the stage (re-runnable); (3) only then are the
    * merged batch partitions dropped and their directories deleted. A
    * crash after (2) leaves rows duplicated between base and the
    * not-yet-dropped batches — harmless by construction: every
    * consumer (fingerprint anti-join, band-collision distinct, ngram
    * verification) is duplicate-tolerant, and re-running the
    * compaction converges.
    *
    * CALLER CONTRACT: `beforeBatch` must be ≤ every batch id that
    * could still replay (i.e. ≤ the checkpoint's committed watermark);
    * replay excludes only its OWN partition, which compaction must
    * therefore never absorb.
    *
    * Returns one (store, n_partitions_merged, n_rows) row per store
    * that had anything to merge.
    */
  def compactStores(spark: SparkSession, paths: IngestPaths,
      beforeBatch: Long): DataFrame = {
    require(beforeBatch >= 0, "beforeBatch must be >= 0")
    import spark.implicits._
    val report = stores(paths).flatMap { case (store, loc) =>
      if (!hasBatchDirs(spark, loc)) None
      else compactStoreTable(spark, store, loc, beforeBatch)
    }
    report.toDF("store", "n_partitions_merged", "n_rows")
  }

  private def compactStoreTable(spark: SparkSession, store: StoreKind,
      location: String, beforeBatch: Long): Option[(String, Long, Long)] = {
    val t = ensureStoreTable(spark, store, location)
    val parts = spark.sql(s"SHOW PARTITIONS $t").collect()
      .map(_.getString(0).stripPrefix("ingest_batch=").toLong)
    val mergeable = parts.filter(b => b >= 0 && b < beforeBatch)
    val hasBase = parts.contains(-1L)
    if (mergeable.length == 0) return None
    val dataCols = spark.table(t).columns.filter(_ != "ingest_batch")
    val stage = s"$location/_compact_stage"
    // full-row distinct: all three stores are SET-semantics relations,
    // so the merge also absorbs any crash-window duplicates (rows left
    // in both base and a not-yet-dropped batch by an earlier aborted
    // compaction)
    val merged = spark.table(t)
      .filter(col("ingest_batch") < beforeBatch)
      .select(dataCols.map(col): _*).distinct()
    merged.write.mode("overwrite").parquet(stage)
    insertBatchPartition(spark, t, store, -1L, spark.read.parquet(stage))
    val nRows = spark.table(t).filter(col("ingest_batch") === -1L).count()
    val fs = new org.apache.hadoop.fs.Path(location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    mergeable.foreach { b =>
      spark.sql(s"ALTER TABLE $t DROP IF EXISTS PARTITION (ingest_batch=$b)")
      fs.delete(new org.apache.hadoop.fs.Path(s"$location/ingest_batch=$b"),
        true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    Some((store.kind, mergeable.length.toLong + (if (hasBase) 1L else 0L), nRows))
  }

  /** Drop the near-dup store tables' catalog entries (external — files
    * under `paths.store` are untouched). Call when tearing down a
    * staging-root ingest so short-lived roots don't leave dangling
    * catalog entries.
    */
  def dropStoreTables(spark: SparkSession, paths: IngestPaths): Unit = {
    stores(paths).foreach { case (store, loc) =>
      val name = storeTableName(store.kind, loc)
      spark.sql(s"DROP TABLE IF EXISTS $name")
      ensuredSet(spark).remove(name)
    }
    ()
  }

  /** Existence = direct `ingest_batch=` children: a recursive parquet
    * read at the store root would trip partition discovery when the
    * near-dup subtrees (`bands/`, `ngrams/`) share the root.
    */
  private def hasBatchDirs(spark: SparkSession, loc: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(loc)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p)
      .exists(_.getPath.getName.startsWith("ingest_batch="))
  }

  /** Distinct fingerprints of every batch strictly before `beforeBatch`
    * (partition-pruned), or an empty relation when the store doesn't
    * exist yet. `Long.MaxValue` reads the whole store.
    *
    * Table-backed since round 12: the store is an external table
    * CLUSTERED BY (fingerprint), so both the distinct and the
    * per-delivery anti-join consume the store WITHOUT an Exchange (the
    * bucket layout already satisfies their clustering). The
    * no-files-yet case stays a pure read (empty relation, no table or
    * directory created as a side effect).
    */
  def storeFingerprints(spark: SparkSession, store: String,
      beforeBatch: Long = Long.MaxValue): DataFrame =
    if (!hasBatchDirs(spark, store))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        new StructType().add("fingerprint", StringType))
    else {
      val t = ensureStoreTable(spark, FpsStore, store)
      spark.table(t).filter(col("ingest_batch") < beforeBatch)
        .select("fingerprint").distinct()
    }

  /** The ingested corpus (document columns + `ingest_batch`). */
  def corpus(spark: SparkSession, paths: IngestPaths): DataFrame =
    readPartitioned(spark, paths.corpus).getOrElse(
      sys.error(s"no corpus at ${paths.corpus}"))

  /** Quarantined raw lines (+ `ingest_batch`), empty if none ever. */
  def quarantined(spark: SparkSession, paths: IngestPaths): Option[DataFrame] =
    readPartitioned(spark, paths.quarantine)

  /** basePath read so `ingest_batch=` directories surface as a column;
    * None when the root has no parquet yet (first delivery).
    */
  private def readPartitioned(spark: SparkSession, root: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(p) && graft.util.Listing.files(fs, p).exists { f =>
      val seg = f.getPath.getName
      seg.endsWith(".parquet") && !seg.startsWith("_") && !seg.startsWith(".")
    }
    if (hasData)
      Some(spark.read.option("basePath", root).parquet(root))
    else None
  }

  /** Drain every pending delivery file through [[processBatch]]; see
    * [[drain]] for the checkpoint, replay and compaction contract.
    */
  def ingestAvailable(spark: SparkSession, inPath: String, schema: StructType,
      paths: IngestPaths, checkpoint: String,
      maxFilesPerTrigger: Int = 1,
      compactEvery: Option[Int] = None): StreamingQuery =
    drain(spark, inPath, schema, paths, checkpoint, maxFilesPerTrigger,
      compactEvery)(processBatch(_, _, paths))

  /** [[ingestAvailable]]'s fuzzy sibling: drains pending deliveries
    * through [[processBatchNearDup]]. `maxBucketSize` carries the
    * production hot-bucket cap.
    */
  def ingestAvailableNearDup(spark: SparkSession, inPath: String,
      schema: StructType, paths: IngestPaths, checkpoint: String,
      maxFilesPerTrigger: Int = 1, threshold: Double = 0.5,
      maxBucketSize: Option[Long] = None,
      compactEvery: Option[Int] = None): StreamingQuery =
    drain(spark, inPath, schema, paths, checkpoint, maxFilesPerTrigger,
      compactEvery)(processBatchNearDup(_, _, paths, threshold = threshold,
        maxBucketSize = maxBucketSize))

  /** Drain every pending delivery file through `deliverBatch` with
    * AvailableNow semantics, parsed under `schema` with PERMISSIVE
    * corrupt capture: the checkpoint tracks consumed source files, so a
    * restart resumes at the first unprocessed (or uncommitted — then
    * replayed, safely) batch. `maxFilesPerTrigger` bounds a micro-batch
    * to a delivery's files.
    *
    * IN-LOOP compaction (round-13): `compactEvery = Some(n)`, checked
    * before the stream starts, merges the fully-committed batch
    * partitions into the base partition after every n-th delivery. The
    * watermark is the CURRENT batch id — batch `id` itself is not yet
    * committed when foreachBatch runs (the checkpoint commits after it
    * returns), so it can still replay and must keep its own partition;
    * every batch strictly below `id` IS committed (AvailableNow
    * processes batches in order), satisfying [[compactStores]]' caller
    * contract. A crash DURING compaction replays batch `id`, which
    * re-delivers it (replay-safe) and, on the next trigger boundary,
    * re-runs the compaction — idempotent and duplicate-tolerant by
    * construction.
    */
  private def drain(spark: SparkSession, inPath: String, schema: StructType,
      paths: IngestPaths, checkpoint: String, maxFilesPerTrigger: Int,
      compactEvery: Option[Int])(
      deliverBatch: (DataFrame, Long) => DataFrame): StreamingQuery = {
    compactEvery.foreach(n => require(n >= 1, "compactEvery must be >= 1"))
    spark.readStream
      .schema(schema.add("_corrupt_record", StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .json(inPath)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        deliverBatch(b, id)
        compactEvery.filter(n => id > 0 && id % n == 0).foreach { _ =>
          compactStores(b.sparkSession, paths, beforeBatch = id).collect()
        }
      }
      .start()
  }
}

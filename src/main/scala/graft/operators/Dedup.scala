package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines: exact,
  * n-gram-Jaccard, MinHash+LSH and SimHash near-dup detection over a
  * `documents(doc_id, text, ...)` corpus.
  *
  * Scale design (the point of each variant):
  *  - exact: one hash-groupBy on a 32-byte fingerprint — a single shuffle
  *    of (fingerprint, doc_id), never of text bodies.
  *  - Jaccard: quadratic, so it only ever runs on candidate pairs produced
  *    by a blocking key (here) or by MinHash LSH buckets (below) — at
  *    100 TB the join is banded, not a cross join.
  *  - MinHash/LSH: signatures are k mins over shingle hashes (linear
  *    scan); the band-bucket self-join shuffles only (band_key, doc_id)
  *    pairs, and true-Jaccard verification touches only candidates.
  *  - SimHash: one 32-bit signature per doc; near-dup = small Hamming
  *    distance, again joined within blocks.
  *
  * All hashes are the deterministic mod-every-step rolling hash from
  * [[TextOps.rollingHash]] so the DuckDB oracle reproduces every value.
  */
/** Skew-cap configuration for the near-dup operators.
  *
  * The quadratic stages (shingle equi-join, LSH bucket self-join) fan out
  * d² rows per hot key; the caps bound that fan-out by dropping
  * over-frequent shingles / over-full buckets, trading a measured recall
  * loss (DedupSpec asserts it) for a bounded intermediate.
  *
  * - [[DedupConfig.Exact]] (both caps off) is the oracle mode: every true
  *   pair is reachable, intermediates unbounded — correct at fixture
  *   scale, a skew hazard at 100 TB.
  * - [[DedupConfig.Production]] is the 100 TB default: shingles seen in
  *   >1024 docs of a block are stop-shingles (near-zero discrimination);
  *   LSH buckets over 64 docs are skipped (on the sf0.01 fixture this
  *   drops 29 of 245 true pairs — the hot buckets do hold real dups, which
  *   is why the cap is a config, not hardcoded).
  */
final case class DedupConfig(
    maxShingleDocs: Option[Long],
    maxBucketSize: Option[Long])

object DedupConfig {
  val Exact: DedupConfig = DedupConfig(None, None)
  val Production: DedupConfig = DedupConfig(Some(1024L), Some(64L))
}

object Dedup {

  import TextOps.HashMod

  // -------------------------------------------------------------------
  // Exact dedup
  // -------------------------------------------------------------------

  /** Per-fingerprint groups: (fingerprint, n_docs, keep_doc_id) with
    * keep = min doc_id (the canonical survivor).
    */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.util.Parallelism.ensure(docs).groupBy(TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_doc_id"))

  /** Corpus-level exact-dedup stats. */
  def exactStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    exactGroups(docs, idCol, textCol).agg(
      sum("n_docs").cast("long").as("total_docs"),
      count(lit(1)).cast("long").as("unique_docs"),
      (sum("n_docs") - count(lit(1))).cast("long").as("duplicate_docs"),
      sum(when(col("n_docs") > 1, 1L).otherwise(0L)).cast("long").as("duplicate_groups"))

  /** The deduplicated corpus: keep the min-id doc per fingerprint. */
  def dropExactDuplicates(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(TextOps.fingerprint(col(textCol)))
      .orderBy(col(idCol).asc)
    graft.util.Parallelism.ensure(docs).withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Incremental exact dedup: of an `incoming` batch, keep only docs
    * whose fingerprint is new versus BOTH the `existing` corpus and
    * earlier (lower-id) docs of the batch itself — the daily-ingest step
    * that avoids re-deduplicating the whole corpus per delivery.
    *
    * Scale shape: the existing side reduces to a distinct-fingerprint
    * relation (32-byte keys, no text) before the anti-join; within-batch
    * survivors come from the same min-id-per-fingerprint window as
    * [[dropExactDuplicates]], keyed by the high-cardinality fingerprint.
    * Nothing ever shuffles document bodies except the incoming batch
    * itself, and cost scales with |incoming| + |existing fingerprints| —
    * not |corpus| × deliveries. (In production the fingerprint relation
    * would be a maintained table; here it derives from `existing`.)
    */
  def incrementalNewDocs(incoming: DataFrame, existing: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val knownFps = graft.util.Parallelism.ensure(existing)
      .select(TextOps.fingerprint(col(textCol)).as("__fp")).distinct()
    val fresh = graft.util.Parallelism.ensure(incoming)
      .withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .join(knownFps, Seq("__fp"), "left_anti")
    val w = Window.partitionBy("__fp").orderBy(col(idCol).asc)
    fresh.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** Per-group ingest accounting for one delivery against an existing
    * corpus: `(group, n_incoming, n_dup_existing, n_new_unique,
    * n_dup_within)` — the report form of [[incrementalNewDocs]].
    *
    * ONE scan per input: the delivery's fingerprint relation left-joins
    * the corpus's distinct fingerprints (known flag), the min-id-per-
    * fingerprint window REUSES that join's fingerprint partitioning (a
    * fingerprint is known for all its rows or none, so ranking over all
    * rows ≡ ranking over fresh rows), and one aggregate emits all four
    * counts. Deriving the kept set via [[incrementalNewDocs]] and
    * re-joining would scan both inputs twice.
    */
  def incrementalReport(incoming: DataFrame, existing: DataFrame,
      groupCol: String, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val knownFps = graft.util.Parallelism.ensure(existing)
      .select(TextOps.fingerprint(col(textCol)).as("__fp")).distinct()
      .withColumn("__known", lit(1L))
    val flagged = graft.util.Parallelism.ensure(incoming)
      .select(col(groupCol), col(idCol).as("__id"),
        TextOps.fingerprint(col(textCol)).as("__fp"))
      .join(knownFps, Seq("__fp"), "left")
    val w = Window.partitionBy("__fp").orderBy(col("__id").asc)
    flagged.withColumn("__rn", row_number().over(w))
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_incoming"),
        sum(coalesce(col("__known"), lit(0L))).as("n_dup_existing"),
        sum(when(col("__known").isNull && col("__rn") === 1, 1L)
          .otherwise(0L)).as("n_new_unique"))
      .withColumn("n_dup_within",
        col("n_incoming") - col("n_dup_existing") - col("n_new_unique"))
      .orderBy(groupCol)
  }

  // -------------------------------------------------------------------
  // n-gram Jaccard near-dup (blocked pairwise)
  // -------------------------------------------------------------------

  /** (doc_id, block, shingles) — sorted distinct HASHED n-gram shingles
    * per doc (longs, not strings: the exploded join below shuffles one
    * 8-byte key per shingle instead of a shingle string; the oracle
    * applies the same `list_distinct(list_transform(..., rollhash))` so
    * the comparison stays exact under hash collisions too).
    */
  def shingled(docs: DataFrame, blockCol: String, idCol: String = "doc_id",
      textCol: String = "text", ngram: Int = 2): DataFrame =
    graft.util.Parallelism.ensure(docs).select(col(idCol).as("doc_id"), col(blockCol).as("block"),
      TextOps.hashedNgrams(col(textCol), ngram).as("shingles"))

  /** Near-duplicate pairs by bigram Jaccard within a blocking key.
    * Emits (doc_a, doc_b, jaccard) for jaccard ≥ threshold, doc_a < doc_b.
    * The rounded value is thresholded so the oracle cut is identical.
    *
    * Shape: shingles explode and the pair list comes from an equi-join on
    * (block, shingle) + per-pair count — |A∩B| is a grouped count and
    * |A∪B| = |A|+|B|-|A∩B|. This replaces the blocked cross join with
    * per-pair O(n) array intersections (~6× slower, and quadratic in
    * block size regardless of similarity). Pairs sharing zero shingles
    * never materialize, which is exactly right for any threshold > 0.
    */
  def jaccardPairs(docs: DataFrame, blockCol: String, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      maxShingleDocs: Option[Long] = None, ngram: Int = 2): DataFrame = {
    require(threshold > 0.0, "threshold must be > 0 (zero-overlap pairs are never materialized)")
    val s = shingled(docs, blockCol, idCol, textCol, ngram)
    // NB: only (block, doc_id, exploded shingle) pass through the Generate.
    // Carrying size(shingles) alongside the explode makes codegen re-inline
    // the whole shingle expression once per OUTPUT element (~50× per doc);
    // set sizes are instead recovered from the exploded rows themselves
    // (shingles are distinct per doc, so |A| = the row count).
    // NOT cached although consumed three times: with zip_with bigrams the
    // recompute is cheaper than materializing 50 rows/doc to storage
    // memory (measured — caching here made the query ~40% slower)
    val exAll = s.select(col("block"), col("doc_id"), explode(col("shingles")).as("sh"))
    val sizes = exAll.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // Hot-shingle skew guard (scale knob, off by default to keep exact
    // oracle semantics): a shingle present in d docs of a block produces
    // d² join rows, so ubiquitous shingles dominate the intermediate while
    // contributing almost nothing to discrimination. Capping doc frequency
    // (standard stop-shingle removal) bounds per-key fan-out; note |A∩B|
    // then slightly undercounts pairs that share only hot shingles.
    val ex = maxShingleDocs match {
      case Some(cap) =>
        val hot = exAll.groupBy("block", "sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("block", "sh")
        exAll.join(broadcast(hot), Seq("block", "sh"), "left_anti")
      case None => exAll
    }
    // NB: no broadcast hint on the size lookups — `sizes` has corpus
    // cardinality (one row per doc with ≥1 shingle), which blows past
    // broadcast/driver limits at 100 TB. Left to AQE, the join broadcasts
    // when sizes is actually small and shuffles otherwise.
    ex.as("a").join(ex.as("b"),
        col("a.block") === col("b.block") && col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      .withColumn("jaccard", round(col("inter").cast("double")
        / (col("sza") + col("szb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Directed near-dup pairs by shingle CONTAINMENT — the asymmetric
    * criterion Jaccard misses: a short document quoted wholesale inside a
    * long one has tiny Jaccard (the union is large) but containment ≈ 1
    * from the short side. The standard second dedup axis next to q33's
    * symmetric Jaccard (quote-expansion, boilerplate-wrapping, and
    * subset-document detection).
    *
    * Emits `(doc_a, doc_b, inter, cont_a, cont_b)` for doc_a < doc_b
    * where cont_x = |A∩B| / |X's shingles| and max(cont_a, cont_b) ≥
    * threshold (rounded to 4 dp before the cut, so the oracle's
    * comparison is identical).
    *
    * Shape: identical to [[jaccardPairs]] — one shingle explode, an
    * equi-join on (block, shingle), a per-pair count, and two size
    * lookups; pairs sharing zero shingles never materialize. Same
    * scale/skew profile, and the same stop-shingle cap: `maxShingleDocs`
    * drops shingles present in more than that many docs of a block from
    * the INTERSECTION join (denominators |A|, |B| stay exact, from the
    * uncapped explode). A shingle in d docs fans out d²/2 join rows, so
    * at 100 TB one boilerplate shingle without the cap is a guaranteed
    * hot key; capped containment only ever DECREASES, so capped
    * survivors ⊆ uncapped survivors (spec-pinned).
    */
  def containmentPairs(docs: DataFrame, blockCol: String, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      maxShingleDocs: Option[Long] = None, ngram: Int = 2): DataFrame = {
    require(threshold > 0.0, "threshold must be > 0 (zero-overlap pairs are never materialized)")
    val s = shingled(docs, blockCol, idCol, textCol, ngram)
    val exAll = s.select(col("block"), col("doc_id"), explode(col("shingles")).as("sh"))
    val sizes = exAll.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // Stop-shingle skew guard — same pattern as jaccardPairs: the hot-set
    // relation is tiny (only shingles with df > cap) and broadcasts.
    val ex = maxShingleDocs match {
      case Some(cap) =>
        val hot = exAll.groupBy("block", "sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("block", "sh")
        exAll.join(broadcast(hot), Seq("block", "sh"), "left_anti")
      case None => exAll
    }
    ex.as("a").join(ex.as("b"),
        col("a.block") === col("b.block") && col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      .withColumn("cont_a", round(col("inter").cast("double") / col("sza"), 4))
      .withColumn("cont_b", round(col("inter").cast("double") / col("szb"), 4))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select("doc_a", "doc_b", "inter", "cont_a", "cont_b")
  }

  // -------------------------------------------------------------------
  // MinHash + LSH
  // -------------------------------------------------------------------

  /** Universal-hash parameters for the k MinHash functions: deterministic,
    * odd multipliers, matching the oracle's generated SQL.
    */
  def minhashParams(k: Int): Seq[(Long, Long)] =
    (0 until k).map(i => (2L * i + 3, 7919L * i + 13))

  /** (doc_id, sig) — MinHash signature (array of k longs) per doc:
    * sig_i = min over shingles s of (a_i * rollingHash(s) + b_i) mod p.
    *
    * Shape: explode shingles → hash each ONCE → groupBy(doc_id) with k
    * `min` aggregates. The naive all-in-one-projection version re-evaluates
    * the char-level hash fold k times per shingle (Catalyst collapses
    * projections, so no reuse) — ~10× slower. Here partial aggregation
    * collapses each partition to one row per doc before the shuffle, so
    * only (doc_id, k mins) ever move. Empty shingle sets (explode_outer)
    * get sig_i = p, which never collides with a real hash.
    */
  def minhashSignatures(docs: DataFrame, k: Int = 16, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // hashed-shingle explode: the n-gram strings are never materialized
    // (HashedWordNgrams hashes straight off the token byte spans); the
    // Generate emits 8-byte longs, and min over the distinct hash set
    // equals min over the per-occurrence multiset
    val exploded = graft.util.Parallelism.ensure(docs)
      .select(col(idCol).as("doc_id"),
        explode_outer(TextOps.hashedNgrams(col(textCol))).as("h"))
    val aggs = minhashParams(k).zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % HashMod).as(s"s$i")
    }
    exploded.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => coalesce(col(s"s$i"), lit(HashMod))): _*).as("sig"))
  }

  /** The MinHash signature of ONE row's hashed-shingle set `hs`
    * ([[TextOps.hashedNgrams]] output), as a column: slot i is
    * `coalesce(array_min(transform(hs, h -> (h*a_i + b_i) % p)), p)`,
    * the oracle's per-row `sig` (`DedupQueries.minhashSigSql`). An empty
    * or null set gets p in every slot, as in [[minhashSignatures]].
    *
    * Row-local: no explode and no shuffle. Pass `hs` as a column that an
    * earlier projection computed; the k slots then share it. For a
    * unique `doc_id` this equals [[minhashSignatures]]' grouped
    * signature; for an id that repeats, each row keeps its own.
    */
  def minhashSig(hs: Column, k: Int = 16): Column =
    array(minhashParams(k).map { case (a, b) =>
      coalesce(array_min(transform(hs, h => (h * a + b) % HashMod)),
        lit(HashMod))
    }: _*)

  /** (doc_id, band_idx, band_key): each signature exploded into its LSH
    * band keys — the blocking relation both the self-join ([[lshCandidates]])
    * and the cross-corpus join ([[incrementalNearDups]]) are built on.
    */
  def bandExplode(signatures: DataFrame, rowsPerBand: Int = 4): DataFrame =
    signatures.select(col("doc_id"), posexplode(bandKeys(col("sig"), rowsPerBand)))
      .toDF("doc_id", "band_idx", "band_key")

  /** The band keys of one signature, as a column: element i joins slots
    * [i·rowsPerBand, (i+1)·rowsPerBand) with ",", so its position is the
    * band index [[bandExplode]] emits.
    */
  def bandKeys(sig: Column, rowsPerBand: Int = 4): Column =
    transform(sequence(lit(0), (size(sig) / rowsPerBand).cast("int") - 1),
      bIdx => array_join(slice(sig, bIdx * rowsPerBand + 1, lit(rowsPerBand)), ","))

  /** LSH candidate pairs: docs sharing at least one band of the signature.
    * Bands of `rowsPerBand` signature slots are hashed to a band key; the
    * (band_idx, band_key) self-join is the only shuffle, and its keys are
    * tiny. Pairs are distinct (a pair may share several bands).
    *
    * `maxBucketSize` is the skew guard for the 100 TB path: a bucket of d
    * docs fans out d²/2 join rows, so one degenerate band key (empty-ish
    * docs, boilerplate) can dominate the whole stage. Skipping over-full
    * buckets (standard practice in production LSH dedup) bounds per-key
    * fan-out at the cost of recall for pairs that ONLY collide in hot
    * buckets — off by default because it is lossy (on the fixture a cap
    * of 64 drops 29 of 245 true pairs; the hot buckets hold real dups).
    * [[DedupConfig.Production]] carries the recommended 100 TB caps;
    * DedupSpec measures the recall loss they cost.
    */
  def lshCandidates(signatures: DataFrame, rowsPerBand: Int = 4,
      maxBucketSize: Option[Long] = None): DataFrame = {
    // cached (release via graft.util.Caches.releaseAll): the self-join
    // below would otherwise re-run the whole signature pipeline
    // (explode + hash + groupBy) once per side
    val bandedAll = graft.util.Caches.cached(bandExplode(signatures, rowsPerBand))
    val banded = maxBucketSize match {
      case Some(cap) =>
        val hot = bandedAll.groupBy("band_idx", "band_key")
          .agg(count(lit(1)).as("d")).filter(col("d") > cap)
          .select("band_idx", "band_key")
        bandedAll.join(broadcast(hot), Seq("band_idx", "band_key"), "left_anti")
      case None => bandedAll
    }
    banded.as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_key") === col("y.band_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: signatures → band buckets →
    * candidate pairs → verify true bigram Jaccard ≥ threshold. Only the
    * candidates are re-shingled (join back to text), so the quadratic
    * verify cost is proportional to the collision count, not the corpus.
    */
  def minhashNearDups(docs: DataFrame, k: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, idCol: String = "doc_id",
      textCol: String = "text",
      maxBucketSize: Option[Long] = None): DataFrame = {
    val cands = lshCandidates(minhashSignatures(docs, k, idCol, textCol),
      rowsPerBand, maxBucketSize)
    // cached (Caches.releaseAll to drop): joined twice (a-side and b-side).
    // HASHED shingle sets (sorted longs): the verify join duplicates this
    // array into every candidate pair row, so array width is the stage's
    // shuffle cost — 8-byte longs, not shingle strings
    val sh = graft.util.Caches.cached(graft.util.Parallelism.ensure(docs)
      .select(col(idCol).as("doc_id"), TextOps.hashedNgrams(col(textCol)).as("sh")))
    cands
      .join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sa"), "doc_a")
      .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sb"), "doc_b")
      // native one-pass sorted-merge Jaccard (no hash-set build, no
      // per-element string hashing); also 0.0 on empty∪empty where the
      // built-ins' 0/0 → NaN would leak past the threshold
      .withColumn("jaccard", round(
        graft.functions.SortedLongJaccard.sortedLongJaccard(col("sa"), col("sb")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Cross-corpus NEAR-dup detection, the fuzzy twin of
    * [[incrementalNewDocs]]: incoming docs that LSH-collide with any
    * already-ingested doc, verified by true bigram Jaccard ≥ threshold.
    * Returns (doc_id, dup_of, jaccard) — one row per verified
    * (incoming, existing) pair.
    *
    * Scale shape: both corpora reduce to band relations (doc_id,
    * band_idx, band_key) — never text — and the ONLY cross-corpus work
    * is the equi-join of those bands, so cost scales with
    * |incoming bands| + |existing bands| + collisions, not
    * |corpus| × |delivery|. Verification re-joins text only at the
    * collision pairs. The pair set equals the cross-membership slice of
    * [[minhashNearDups]] on the union (same signatures, same bands), so
    * it oracles through the same SQL CTE chain.
    */
  def incrementalNearDups(incoming: DataFrame, existing: DataFrame,
      k: Int = 16, rowsPerBand: Int = 4, threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bNew = bandExplode(minhashSignatures(incoming, k, idCol, textCol), rowsPerBand)
    val bOld = bandExplode(minhashSignatures(existing, k, idCol, textCol), rowsPerBand)
    val cands = bNew.as("n").join(bOld.as("o"),
        col("n.band_idx") === col("o.band_idx") &&
        col("n.band_key") === col("o.band_key"))
      .select(col("n.doc_id").as("doc_id"), col("o.doc_id").as("dup_of"))
      .distinct()
    val shNew = graft.util.Parallelism.ensure(incoming)
      .select(col(idCol).as("doc_id"), TextOps.hashedNgrams(col(textCol)).as("sa"))
    val shOld = graft.util.Parallelism.ensure(existing)
      .select(col(idCol).as("dup_of"), TextOps.hashedNgrams(col(textCol)).as("sb"))
    cands.join(shNew, "doc_id").join(shOld, "dup_of")
      .withColumn("jaccard", round(
        graft.functions.SortedLongJaccard.sortedLongJaccard(col("sa"), col("sb")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_id", "dup_of", "jaccard")
  }

  // -------------------------------------------------------------------
  // Duplicate clusters (connected components over near-dup pairs)
  // -------------------------------------------------------------------

  /** Connected components over an undirected pair list: every doc gets
    * the MINIMUM doc id reachable through near-dup edges as its cluster
    * id — the transitive-closure step that turns pairwise near-dups into
    * keep-one-per-group decisions (A~B, B~C must retire two of three
    * even though A~C was never emitted).
    *
    * Algorithm: min-label propagation — labels start as self, each round
    * every node takes the min of its own and its neighbors' labels,
    * until a fixpoint. Rounds ≈ component diameter (near-dup clusters
    * are shallow); each round is one join + one aggregate, labels are
    * materialized per round so plan lineage stays flat. This is the
    * standard big-graph CC shape (the large-star/small-star variant
    * optimizes constants, not the round structure).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxRounds: Int = 20): DataFrame = {
    // explode, not union: the union shape plans the (expensive — LSH
    // candidate + verify) pair pipeline once per branch inside the
    // cache fill; explode derives both directions from one execution
    // (round-14, the Graph.bothDirections rationale)
    val edges = pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
    graft.util.Caches.cached(edges)
    // labels stay DISTRIBUTED across rounds: localCheckpoint (eager)
    // truncates lineage executor-side each round — never collected to
    // the driver, so component count is unbounded by driver memory.
    // Convergence is detected by the label-sum scalar: labels only ever
    // decrease, so the sum strictly falls until the fixpoint.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    // sum over an EMPTY edge set is NULL — an empty pair list is a valid
    // input (nothing to cluster) and must yield an empty label relation,
    // not a crash
    def labelSum(df: DataFrame): Long = {
      val r = df.select(sum("label")).collect().head
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var prevSum = labelSum(labels)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy("src").agg(min("label").as("nl"))
      val next = labels.join(neighborMin, labels("id") === neighborMin("src"), "left")
        .select(labels("id"), least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        .localCheckpoint()
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      labels = next
      round += 1
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster"))
  }

  /** Per-cluster rollup: (cluster, n_docs) for clusters of size ≥ 2. */
  def clusterSizes(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .groupBy("cluster").agg(count(lit(1)).as("n_docs"))

  /** Quality-based cluster representative selection: per near-dup
    * cluster keep the doc with the HIGHEST `scoreCol` (min doc_id on
    * ties) instead of [[connectedComponents]]' min-id default — "keep
    * the most complete version", the choice real pipelines make when
    * near-dups differ by truncation or boilerplate stripping.
    *
    * Returns `(cluster, rep_doc, n_docs, rep_score)` for every cluster
    * of size ≥ 2. Docs in no pair are their own survivors and don't
    * appear (callers anti-join the non-representatives away, exactly as
    * with the min-id convention).
    *
    * Shape: the component relation (pair-participating docs only — far
    * smaller than the corpus) joins doc scores once, then ONE window
    * ranked by (score DESC, doc_id) inside each cluster picks the rep
    * while the same partition feeds the size count — a single
    * cluster-keyed shuffle after CC.
    */
  def keepRepresentative(docs: DataFrame, pairs: DataFrame,
      scoreCol: String, idCol: String = "doc_id"): DataFrame = {
    val cc = connectedComponents(pairs)
    val scored = cc.join(
      docs.select(col(idCol).as("doc_id"), col(scoreCol).as("__score")),
      Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster")
      .orderBy(col("__score").desc, col("doc_id").asc)
    scored
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_docs",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("cluster")))
      .filter(col("__rn") === 1)
      .select(col("cluster"), col("doc_id").as("rep_doc"),
        col("n_docs"), col("__score").as("rep_score"))
  }

  /** Dedup survivorship matrix: when near-dup clusters are collapsed to
    * their min-id representative, WHICH sources keep content and which
    * lose it — the "is dedup silently draining source X into source Y"
    * audit a mixture designer runs before trusting post-dedup source
    * shares.
    *
    * Shape: the pair-participant-sized CC relation joins doc metadata
    * once; winners are a per-cluster min aggregate (the q50 keep-min-id
    * convention); the matrix is a stat-grain (kept_source,
    * dropped_source) count. Diagonal rows = within-source dedup,
    * off-diagonal = cross-source drain.
    *
    * Output: (kept_source, dropped_source, n_dropped), ordered.
    */
  def survivorshipMatrix(docs: DataFrame, pairs: DataFrame,
      groupCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    val cc = connectedComponents(pairs)
    val d = graft.util.Caches.cached(cc.join(
      docs.select(col(idCol).as("doc_id"), col(groupCol).as("__grp")),
      Seq("doc_id")))
    val winners = d.groupBy("cluster").agg(min("doc_id").as("winner"))
    val keptSrc = winners.join(
      d.select(col("doc_id").as("winner"), col("__grp").as("kept_source")),
      Seq("winner"))
    d.join(keptSrc, Seq("cluster"))
      .filter(col("doc_id") =!= col("winner"))
      .groupBy(col("kept_source"), col("__grp").as("dropped_source"))
      .agg(count(lit(1)).as("n_dropped"))
      .orderBy("kept_source", "dropped_source")
  }

  // -------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------

  /** 32-bit SimHash signature over token hashes: bit b is set iff the
    * sum over tokens of ±1 (sign of token-hash bit b) is ≥ 0.
    */
  def simhash(text: Column, bits: Int = 32): Column = {
    val hs = transform(TextOps.tokens(text), w => TextOps.rollingHash(w))
    val terms = (0 until bits).map { b =>
      when(aggregate(hs, lit(0L),
        (acc, h) => acc + (shiftright(h, b).bitwiseAND(1) * 2 - 1)) >= 0,
        lit(1L << b)).otherwise(lit(0L))
    }
    // empty token list → signature 0 (not all-bits-set from the >=0 ties)
    when(size(hs) === 0, lit(0L)).otherwise(terms.reduce(_ + _))
  }

  /** (doc_id, block, sh) SimHash signatures via the same explode →
    * hash-once → groupBy-aggregate shape as [[minhashSignatures]]: one
    * `sum` of ±1 per bit position, then the bits are assembled from the
    * aggregated sums. Empty docs aggregate to all-NULL sums → signature 0.
    */
  def simhashSignatures(docs: DataFrame, blockCol: String, bits: Int = 32,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val exploded = graft.util.Parallelism.ensure(docs)
      .select(col(idCol).as("doc_id"), col(blockCol).as("block"),
        explode_outer(TextOps.tokens(col(textCol))).as("w"))
      .withColumn("h", TextOps.rollingHash(col("w")))
    val sums = (0 until bits).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(1) * 2 - 1).as(s"b$b")
    }
    val sig = (0 until bits).map { b =>
      when(col(s"b$b").isNotNull && col(s"b$b") >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    exploded.groupBy("doc_id", "block").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), col("block"), sig.as("sh"))
  }

  /** SimHash near-dup pairs within a blocking key: Hamming distance of the
    * signatures ≤ maxHamming. Signatures are computed once (linear), the
    * pairwise XOR/bit_count runs only within blocks.
    */
  def simhashPairs(docs: DataFrame, blockCol: String, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // cached (Caches.releaseAll to drop): the block self-join would
    // re-run the signature pipeline per side
    val s = graft.util.Caches.cached(simhashSignatures(docs, blockCol, 32, idCol, textCol))
    val a = s.select(col("doc_id").as("doc_a"), col("block"), col("sh").as("ha"))
    val b = s.select(col("doc_id").as("doc_b"), col("block"), col("sh").as("hb"))
    a.join(b, Seq("block")).filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Band-blocked Hamming pairing over precomputed bit-hashes (doc_id,
    * hashCol): pairs within `maxHamming` bit flips, found WITHOUT an
    * all-pairs product. The hash splits into `bands` chunks of
    * `bitsPerBand` bits; by pigeonhole, two hashes differing in fewer
    * than `bands` bits agree on at least one chunk — so with
    * `maxHamming < bands` (enforced) the equi-join on (band_idx,
    * band_val) finds EVERY qualifying pair, and the only shuffle keys on
    * the band value. This is [[simhashPairs]]' generalization: no
    * external blocking column needed, recall guaranteed by construction.
    * Hashes must use < 64 bits (`bands × bitsPerBand ≤ 63`) so shifted
    * chunks never touch the BIGINT sign bit — keeps the arithmetic
    * identical in the DuckDB oracle.
    *
    * `maxBucketSize` is the same deterministic skew guard as
    * [[lshCandidates]]': a degenerate band value shared by d hashes
    * (blank images, constant payloads) fans out d²/2 join rows, so
    * production runs skip over-full buckets — lossy (the recall
    * guarantee no longer covers pairs that ONLY collide in hot
    * buckets), bounded, and oracle-exact since the dropped buckets are
    * a pure count filter.
    */
  def hammingPairs(hashes: DataFrame, maxHamming: Int = 5, bands: Int = 6,
      bitsPerBand: Int = 10, idCol: String = "doc_id",
      hashCol: String = "ph", maxBucketSize: Option[Long] = None): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming ($maxHamming) < bands ($bands)")
    require(bands * bitsPerBand <= 63, "chunks must stay below the sign bit")
    val mask = (1L << bitsPerBand) - 1
    val chunks = (0 until bands).map(bi =>
      shiftright(col(hashCol), bi * bitsPerBand).bitwiseAND(lit(mask)))
    // cached (Caches.releaseAll to drop): self-joined below
    val bandedAll = graft.util.Caches.cached(hashes
      .select(col(idCol).as("doc_id"), col(hashCol).as("ph"),
        posexplode(array(chunks: _*)))
      .toDF("doc_id", "ph", "band_idx", "band_val"))
    val banded = maxBucketSize match {
      case Some(cap) =>
        val hot = bandedAll.groupBy("band_idx", "band_val")
          .agg(count(lit(1)).as("d")).filter(col("d") > cap)
          .select("band_idx", "band_val")
        bandedAll.join(broadcast(hot), Seq("band_idx", "band_val"), "left_anti")
      case None => bandedAll
    }
    banded.as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_val") === col("y.band_val") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.ph").as("ha"), col("y.ph").as("hb"))
      .distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Sub-document (passage-level) duplication census — the C4/CCNet
    * granularity between exact whole-doc dedup and shingle near-dup:
    * split each document into consecutive `passageWords`-word passages
    * and measure, per document, how much of it also appears verbatim in
    * OTHER documents (boilerplate headers, license blocks, templated
    * sections — removable spans even when the documents as wholes are
    * unique).
    *
    * Passages derive scan-stage (space-split → fixed slices →
    * posexplode — no collect_list ordering hazard); the cross-document
    * census is one passage-keyed aggregate (distinct doc count per
    * passage), re-entering the passage relation through a co-keyed
    * join. Both relations are passage-grain.
    *
    * `fingerprint = true` is the 100 TB tier (wired through
    * [[CorpusConfig.Production]]): passages swap for their `xxhash64`
    * BEFORE the census and join-back, so the two shuffles carry 8-byte
    * keys instead of ~10-word strings (~10× lighter), same plan shape.
    * A 64-bit collision merges two distinct passages and can only
    * OVER-report sharing — never under — and at corpus scales below
    * ~2³² passages it is birthday-rare; q155a pins fingerprint ≡ raw
    * at fixture scale. `fingerprintBuckets > 0` further folds the hash
    * mod N (spec-only: it forces collisions to demonstrate the
    * over-report direction; production keeps the full 64 bits).
    *
    * Output per doc: (doc_id, n_passages, n_shared_passages, shared_bp)
    * — a passage is SHARED when it occurs in ≥ 2 distinct documents.
    */
  def passageDupStats(docs: DataFrame, passageWords: Int = 10,
      idCol: String = "doc_id", textCol: String = "text",
      fingerprint: Boolean = false,
      fingerprintBuckets: Long = 0L): DataFrame = {
    val toks = split(col(textCol), " ")
    val nChunks = ceil(size(toks).cast("double") / passageWords).cast("int")
    val raw = docs
      .select(col(idCol).as("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1), i =>
          array_join(slice(toks, i * passageWords + 1, lit(passageWords)), " ")))
          .as(Seq("cidx", "passage")))
    val keyed = if (fingerprint) {
      val h = xxhash64(col("passage"))
      val k = if (fingerprintBuckets > 0) pmod(h, lit(fingerprintBuckets))
        else h
      raw.select(col("doc_id"), k.as("pkey"))
    } else raw.select(col("doc_id"), col("passage").as("pkey"))
    val passages = graft.util.Caches.cached(keyed)
    val census = passages
      .groupBy("pkey")
      .agg(count_distinct(col("doc_id")).as("n_docs_with"))
    passages
      .join(census, Seq("pkey"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("n_docs_with") >= 2, 1L).otherwise(0L))
          .as("n_shared_passages"))
      .withColumn("shared_bp",
        expr("(n_shared_passages * 10000) div n_passages"))
      .orderBy("doc_id")
  }

  /** Capture–recapture estimate of the TOTAL near-duplicate population
    * from two independent detectors — the corpus-QA question "how many
    * duplicate pairs exist that NEITHER pass caught": treating
    * detector A's pairs as the first capture and B's as the marked
    * recapture, the bias-corrected Chapman estimator
    * `N̂ = ⌊(n_a+1)(n_b+1)/(n_both+1)⌋ − 1` (public method: Chapman
    * 1951; standard ecology/record-linkage practice) sizes the full
    * population, and each detector's recall follows.
    *
    * Validity rests on the detectors being (approximately)
    * independent — e.g. MinHash (token shingles) vs SimHash (token
    * hashes) miss DIFFERENT pairs; two LSH parameterizations of the
    * same family would violate it and overestimate recall.
    *
    * Scale shape: both inputs are already-blocked pair relations; the
    * overlap is one equi-join on (doc_a, doc_b) and the output a
    * 1-row stat. Exact integers throughout.
    *
    * Output: (n_a, n_b, n_both, est_total, recall_a_ppm,
    * recall_b_ppm) — recalls against the estimate, NULL when the
    * estimate degenerates to 0.
    */
  def captureRecapture(pairsA: DataFrame, pairsB: DataFrame): DataFrame = {
    // cached: each detector relation feeds its own count AND the
    // overlap join — uncached, the full upstream LSH pipeline of each
    // detector executed twice per call (round-14, measured ~2x wall)
    val a = graft.util.Caches.cached(
      pairsA.select(col("doc_a"), col("doc_b")))
    val b = graft.util.Caches.cached(
      pairsB.select(col("doc_a"), col("doc_b")))
    val both = a.join(b, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_both"))
    a.agg(count(lit(1)).as("n_a"))
      .crossJoin(b.agg(count(lit(1)).as("n_b")))
      .crossJoin(both)
      .withColumn("est_total",
        expr("((n_a + 1) * (n_b + 1)) div (n_both + 1) - 1"))
      .select(col("n_a"), col("n_b"), col("n_both"), col("est_total"),
        when(col("est_total") > 0,
          expr("(n_a * 1000000L) div est_total")).as("recall_a_ppm"),
        when(col("est_total") > 0,
          expr("(n_b * 1000000L) div est_total")).as("recall_b_ppm"))
  }

  /** WINNOWING fingerprint census (public method: Schleimer, Wilkerson
    * & Aiken 2003's winnowing, the MOSS selector; word k-grams instead
    * of character k-grams, matching the house shingle unit): per doc,
    * every window of `windowSize` consecutive k-grams selects its
    * minimal gram — so any shared run of ≥ windowSize+k−1 tokens is
    * GUARANTEED to share a fingerprint (the winnowing coverage
    * theorem), at ~2/(windowSize+1) the density of full shingling.
    *
    * Selection order: the gram's own byte order stands in for the
    * paper's hash order (the token alphabet is [a-z0-9 ], identical
    * binary collation on both engines), ties to the RIGHTMOST position
    * (the paper's rule) via a composite sort key `gram ∥ 0x01 ∥
    * pad(maxPos − pos)` — the 0x01 separator sorts below every token
    * byte, so composite order ≡ (gram asc, pos desc) even when one
    * gram prefixes another. Docs with fewer than `windowSize` grams
    * form one whole-doc window.
    *
    * Scale shape: grams explode scan-stage; the per-window min is a
    * doc-partitioned sliding frame (doc grain, never corpus); the
    * sharing census runs over the SELECTED grams only (~2/(w+1) of the
    * corpus volume). Output per doc: (doc_id, n_grams, n_fingerprints,
    * n_shared, shared_ppm) — n_shared counts fingerprint grams also
    * selected in ≥ 1 other doc, the plagiarism/near-dup signal.
    */
  def winnowingReport(docs: DataFrame, k: Int = 3, windowSize: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && windowSize >= 1, "k/windowSize")
    import org.apache.spark.sql.expressions.Window
    val toks = TextOps.tokens(col(textCol))
    val grams = graft.util.Parallelism.ensure(docs)
      .select(col(idCol).as("doc_id"), toks.as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"),
        (size(col("ws")) - (k - 1)).cast("long").as("n_grams"),
        posexplode(expr(
          s"transform(slice(ws, 1, size(ws) - ${k - 1})," +
            s" (x, i) -> array_join(slice(ws, i + 1, $k), ' '))"))
          .as(Seq("pos", "g")))
    val keyed = grams.withColumn("skey",
      concat(col("g"), lit("\u0001"),
        lpad((lit(100000000) - col("pos")).cast("string"), 9, "0")))
    val frame = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(0, windowSize - 1)
    val selected = graft.util.Caches.cached(keyed
      .withColumn("sel", min("skey").over(frame))
      // frames starting past n_grams - windowSize are the truncated
      // tail the paper excludes (kept only for the short-doc case)
      .filter(col("pos") <= greatest(col("n_grams") - windowSize, lit(0)))
      .select(col("doc_id"), col("n_grams"),
        substring_index(col("sel"), "\u0001", 1).as("fp"))
      .distinct())
    val census = selected.groupBy("fp")
      .agg(count_distinct(col("doc_id")).as("n_docs_with"))
    selected.join(census, Seq("fp"))
      .groupBy("doc_id", "n_grams")
      .agg(count(lit(1)).as("n_fingerprints"),
        sum(when(col("n_docs_with") > 1, 1L).otherwise(0L))
          .as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_fingerprints"),
        col("n_shared"),
        expr("(n_shared * 1000000L) div n_fingerprints")
          .as("shared_ppm"))
      .orderBy("doc_id")
  }
}

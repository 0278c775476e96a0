package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TopKBy

/** Product-quantization ANN (the memory-scale path of the similarity
  * family: brute force → LSH buckets → IVF cells → PQ codes).
  *
  * A d-dim vector splits into M contiguous subvectors; each subspace gets
  * a K-centroid codebook, and a vector compresses to M small codes
  * (M·log₂K bits ≈ 8 bytes for 64-dim float32 at M=8, K=16 — a 32×
  * compression). Queries never decompress the corpus: the query's
  * distance to every (subspace, centroid) pair is tabulated once
  * (M·K entries), and an asymmetric-distance (ADC) scan approximates
  * ||q−x||² as the sum of M table lookups over x's codes.
  *
  * Scale shape: codebooks and query tables are O(M·K) → broadcast; the
  * corpus is touched twice (encode scan, ADC scan) with nothing wider
  * than (vec_id, m, code) ever shuffling, and the final ranking is the
  * [[graft.functions.TopKBy]] partial-aggregate (≤k candidates per query
  * per partition cross the wire).
  *
  * Cross-engine determinism: all distances are computed with the same
  * fold order on both engines (codegen'd [[graft.functions.ArrayDot]] /
  * DuckDB `list_dot_product` — sequential doubles either way, so
  * bit-identical), then scaled to integer micro-units; every downstream
  * sum/argmin/rank is exact integer math, immune to accumulation order.
  */
object ProductQuantization {

  /** (vec_id, m, sv, n2i) — subvector relation: m-th slice of each
    * vector with its squared norm in integer micro-units.
    */
  def subvectors(embeddings: DataFrame, m: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", carryCols: Seq[String] = Nil): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    // Spark's `/` is double division — keep the slice bounds integral
    val subLen = (size(col("v")) / lit(m)).cast("int")
    graft.util.Parallelism.ensure(embeddings)
      .select(col(idCol).as("vec_id") +: (carryCols.map(col) :+ v.as("v")): _*)
      .select(col("vec_id") +: (carryCols.map(col) :+ posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          i => slice(col("v"), i * subLen + 1, subLen)))
        .as(Seq("m", "sv"))): _*)
  }

  /** Squared L2 in integer micro-units between subvector columns, via
    * precomputed squared norms: ‖a−b‖² = ‖a‖²+‖b‖²−2⟨a,b⟩. All three
    * terms come from the same codegen'd dot fold, so the double is
    * bit-identical across engines before the single rounding.
    */
  def d2Micro(n2a: Column, n2b: Column, a: Column, b: Column): Column =
    round((n2a + n2b - Similarity.dot(a, b) * 2.0) * 1e6, 0).cast("long")

  private def withNorm(sub: DataFrame): DataFrame =
    sub.withColumn("n2", Similarity.dot(col("sv"), col("sv")))

  /** Codebook from explicit corpus vector ids (cid = position in
    * `codebookIds`): the deterministic-stub stand-in for [[train]], same
    * convention as IVF's fixed centroid subset (q42).
    */
  def codebookFromIds(sub: DataFrame, codebookIds: Seq[Long]): DataFrame = {
    val spark = sub.sparkSession
    import spark.implicits._
    val cids = codebookIds.zipWithIndex.map { case (v, i) => (v, i) }
      .toDF("vec_id", "cid")
    withNorm(sub).join(broadcast(cids), "vec_id")
      .select(col("cid"), col("m"), col("sv").as("cv"), col("n2").as("cn2"))
  }

  /** Encode every vector: per (vec, subspace), the nearest codebook
    * centroid (integer distances; ties to the smallest cid). One scan,
    * broadcast codebook, min_by partial aggregation.
    */
  def encode(sub: DataFrame, codebook: DataFrame,
      carryCols: Seq[String] = Nil): DataFrame =
    withNorm(sub).join(broadcast(codebook), Seq("m"))
      .select(col("vec_id") +: (carryCols.map(col) ++ Seq(col("m"),
        col("cid"),
        d2Micro(col("n2"), col("cn2"), col("sv"), col("cv")).as("d2i"))): _*)
      .groupBy(((Seq("vec_id") ++ carryCols) :+ "m").map(col): _*)
      .agg(min_by(col("cid"), struct(col("d2i"), col("cid"))).as("code"))

  /** ADC top-k: approximate ‖q−x‖² as Σ_m table[m, code_m(x)] over the
    * query's (subspace, centroid) distance table, rank ascending.
    * Output: (query_id, vec_id, approx_d2, rank).
    */
  def adcTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      codebookIds: Seq[Long], m: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // ONE cached subvector relation feeds codebook, encode AND the
    // query table (round-15: each consumer re-derived the full
    // scan→slice-explode pipeline — the r14 graph-family pathology).
    // Footprint: the cache holds every vector's M subvector rows, i.e.
    // about the whole embeddings corpus (plus a vec_id and m per
    // subvector) at Dataset.cache()'s MEMORY_AND_DISK — compressed
    // columnar batches, spilling to local disk past storage memory,
    // kept until Caches.releaseAll.
    val sub = graft.util.Caches.cached(
      subvectors(embeddings, m, idCol, vecCol))
    val codebook = codebookFromIds(sub, codebookIds)
    val encoded = encode(sub, codebook)
    // the query's exact distance to every centroid of every subspace —
    // M·K rows per query, broadcast to the ADC scan
    val qtab = withNorm(sub.filter(col("vec_id").isin(queryIds: _*)))
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(codebook), Seq("m"))
      .select(col("query_id"), col("m"), col("cid"),
        d2Micro(col("n2"), col("cn2"), col("sv"), col("cv")).as("qd2i"))
    val scored = encoded
      .join(broadcast(qtab),
        encoded("m") === qtab("m") && encoded("code") === qtab("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("qd2i").as("ai"))  // exact long sum — order-independent
    scored
      .groupBy("query_id")
      .agg(TopKBy.topKBy(struct((-col("ai")).as("nai"),
        (-col("vec_id")).as("nv")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (-col("t.nv")).as("vec_id"),
        round(-col("t.nai") / 1e6, 4).as("approx_d2"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** IVF-PQ: coarse inverted-file cells + product quantization of the
    * RESIDUALS (vector − its cell centroid) — the standard
    * billion-vector ANN composition (FAISS's IVFPQ): the coarse
    * quantizer prunes the search to the probed cell, and the PQ codes
    * make the in-cell scan an 8-byte-per-vector table-lookup sum.
    * Residuals concentrate near the origin, so one SHARED codebook
    * (trained/pinned across cells) quantizes them far better than it
    * would raw vectors.
    *
    * Composition of the q42 coarse path ([[Similarity.ivfAssign]]:
    * rounded-cosine assignment, ties to the smallest centroid id) and
    * the q60 PQ path over residual subvectors; single-probe (the
    * query's own cell), matching q42's oracle configuration.
    *
    * Scale shape: centroids, the residual codebook, and the query ADC
    * tables are O(K·M·k) → broadcast. The corpus is scanned for
    * assignment and encoding with nothing wider than
    * (vec_id, m, code) shuffling; candidate scoring joins the encoded
    * relation on `vec_id` (high-cardinality) against the cell-pruned
    * candidate set, sums integer table entries, and ranks via the
    * [[graft.functions.TopKBy]] bounded-heap aggregate.
    *
    * Determinism: residual arithmetic is element-wise double
    * subtraction (exact in IEEE — no rounding step), every distance is
    * the shared codegen'd dot fold rounded to integer micro-units, and
    * all downstream sums/argmins/ranks are integer-exact — the DuckDB
    * oracle replays the identical pipeline from the same pinned
    * centroid/codebook ids.
    */
  def ivfAdcTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      centroidIds: Seq[Long], codebookIds: Seq[Long], m: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val corpus = graft.util.Parallelism.ensure(embeddings)
      .select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nv", Similarity.norm(col("v")))
    val centroids = corpus.filter(col("vec_id").isin(centroidIds: _*))
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        col("nv").as("ncv"))
    // (vec_id, v, nv, cell) — one corpus scan + broadcast centroids
    val cells = Similarity.ivfAssign(corpus, centroids)
    val resid = cells
      .join(broadcast(centroids.select(col("cid").as("cell"), col("cv"))),
        Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("r"))
    // `cell` rides the subvector/code relations (carryCols), so the
    // corpus is scanned ONCE and the single-probe candidate restriction
    // is a broadcast join on the carried cell — no second assignment
    // pass, no corpus-scale vec_id self-join. CACHED (round-15): four
    // consumers (codebook, encode, query ADC table, query cell) each
    // re-derived the scan→assign→residual→slice-explode pipeline.
    val sub = graft.util.Caches.cached(
      subvectors(resid, m, "vec_id", "r", carryCols = Seq("cell")))
    val codebook = codebookFromIds(sub, codebookIds)
    val encoded = encode(sub, codebook, carryCols = Seq("cell"))
    // query ADC tables: the query's RESIDUAL (wrt its own cell) against
    // every (subspace, centroid) — M·K rows per query, broadcast
    val qtab = withNorm(sub.filter(col("vec_id").isin(queryIds: _*)))
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(codebook), Seq("m"))
      .select(col("query_id"), col("m"), col("cid"),
        d2Micro(col("n2"), col("cn2"), col("sv"), col("cv")).as("qd2i"))
    // single-probe: score corpus codes against queries of the SAME cell
    val qcell = sub.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("cell")).distinct()
    val scored = encoded.join(broadcast(qcell), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(qtab.withColumnRenamed("cid", "code")),
        Seq("query_id", "m", "code"))
      .groupBy("query_id", "vec_id")
      .agg(sum("qd2i").as("ai")) // exact long sum — order-independent
    scored
      .groupBy("query_id")
      .agg(TopKBy.topKBy(struct((-col("ai")).as("nai"),
        (-col("vec_id")).as("nv")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (-col("t.nv")).as("vec_id"),
        round(-col("t.nai") / 1e6, 4).as("approx_d2"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Per-subspace Lloyd training (the real codebook path; the q60 query
    * pins [[codebookFromIds]] for oracle determinism). All M subspaces
    * train in ONE DataFrame loop — assignment and centroid recomputation
    * are keyed by (m, cid), so a round is one broadcast join + one
    * partial-aggregated shuffle regardless of M.
    *
    * Determinism caveats: ASSIGNMENT is deterministic given init ids and
    * iteration count (integer distances, ties to smallest cid), but
    * centroid recomputation averages doubles, whose value depends on
    * partition combine order — trained codebooks are statistically stable
    * but not bit-stable across runs/layouts (only the pinned
    * [[codebookFromIds]] path is). A cell that loses all members emits no
    * centroid and silently vanishes, shrinking the effective K — standard
    * Lloyd behavior, same as [[Similarity.ivfTrain]].
    * Returns (cid, m, cv, cn2) like [[codebookFromIds]].
    */
  def train(embeddings: DataFrame, initIds: Seq[Long], iters: Int, m: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = embeddings.sparkSession
    val sub = withNorm(subvectors(embeddings, m, idCol, vecCol))
    var codebook = codebookFromIds(sub.drop("n2"), initIds)
    for (_ <- 1 to iters) {
      val assigned = sub.join(broadcast(codebook), Seq("m"))
        .select(col("vec_id"), col("m"), col("sv"), col("cid"),
          d2Micro(col("n2"), col("cn2"), col("sv"), col("cv")).as("d2i"))
        .groupBy("vec_id", "m")
        .agg(min_by(struct(col("sv"), col("cid")), struct(col("d2i"), col("cid"))).as("a"))
        .select(col("m"), col("a.cid").as("cid"), col("a.sv").as("sv"))
      val next = assigned
        .select(col("m"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("m", "cid", "pos").agg(avg("x").as("c"))
        .groupBy("m", "cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("cid"), col("m"),
          transform(col("pc"), s => s.getField("c")).as("cv"))
        .withColumn("cn2", Similarity.dot(col("cv"), col("cv")))
      // materialize the tiny (M·K) codebook per round to cut lineage
      codebook = spark.createDataFrame(
        java.util.Arrays.asList(next.collect(): _*), next.schema)
    }
    codebook
  }

  /** Mean quantization error (micro-units) of a codebook over the corpus
    * — the training objective; Round3Spec asserts it decreases.
    */
  def quantizationError(embeddings: DataFrame, codebook: DataFrame, m: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): Double = {
    val sub = withNorm(subvectors(embeddings, m, idCol, vecCol))
    sub.join(broadcast(codebook), Seq("m"))
      .select(col("vec_id"), col("m"),
        d2Micro(col("n2"), col("cn2"), col("sv"), col("cv")).as("d2i"))
      .groupBy("vec_id", "m").agg(min("d2i").as("best"))
      .agg(avg("best")).head().getDouble(0)
  }
}

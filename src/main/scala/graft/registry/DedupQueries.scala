package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CorpusConfig, Decontaminate, Dedup, DedupConfig,
  FuzzyMatch, Linkage, Multimodal, ProductQuantization, Retrieval, Sampling,
  Similarity, SpanDedup, Split, TextOps}

/** Deduplication, similarity and nearest-neighbour search: exact and
  * near-duplicate detection (fingerprint, Jaccard, MinHash LSH, SimHash,
  * winnowing, span-level), record linkage and fuzzy joins, embedding
  * ANN (brute force, hyperplane LSH, IVF, PQ, IVF-PQ) with recall
  * reports, and retrieval (BM25, hybrid rank fusion, MMR).
  */
object DedupQueries extends QueryModule {

  /** ANN probe queries and k, shared by every ANN tier and its recall
    * report.
    */
  val AnnQueryIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L)

  val AnnK = 5

  private val trigramsSql =
    "CASE WHEN len(ws) < 3 THEN []::VARCHAR[] ELSE " +
      "list_distinct(list_transform(range(1, len(ws)-1), " +
      "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END"

  private def jaccardSql(a: String, b: String): String =
    s"CASE WHEN len(list_distinct($a || $b)) = 0 THEN 0.0 ELSE " +
      s"round(len(list_intersect($a, $b))::DOUBLE / len(list_distinct($a || $b)), 4) END"

  private val M = TextOps.HashMod

  /** Mod-every-step rolling hash of string expression `e`. */
  private[graft] def rollSql(e: String, init: Long = 0L, mod: Long = M): String =
    s"list_reduce(list_prepend(CAST($init AS BIGINT), " +
      s"list_transform(regexp_extract_all($e, '.'), ch -> CAST(ascii(ch) AS BIGINT))), " +
      s"(a, b) -> (a * 31 + b) % $mod)"

  private[graft] val fingerprintSql =
    s"md5(array_to_string(list_sort(list_distinct($tokSql)), ' '))"

  private def minhashSigSql: String = {
    // sig exprs s0..s15 from the same (a,b) parameter list as the operator
    Dedup.minhashParams(16).zipWithIndex.map { case ((a, b), i) =>
      s"coalesce(list_min(list_transform(hs, x -> (x * $a + $b) % $M)), $M) AS s$i"
    }.mkString(", ")
  }

  private[graft] def simhashSql: String = {
    val terms = (0 until 32).map { b =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> $b) & 1) * 2 - 1)) >= 0 " +
        s"THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)"
    }
    s"CASE WHEN len(hs) = 0 THEN 0 ELSE ${terms.mkString(" + ")} END"
  }

  private[graft] def planesValuesSql: String = {
    val rows = for (p <- 0 until 6; j <- 0 until 64)
      yield s"($p, ${j + 1}, ${Similarity.planeWeight(p, j)}.0)"
    s"(VALUES ${rows.mkString(", ")}) AS planes(p, j, w)"
  }

  private val annIdsSql = AnnQueryIds.mkString("(", ", ", ")")

  /** The CTE chain producing verified MinHash-LSH pairs as relation `j`
    * — q34's body, shared with q50's duplicate-cluster oracle.
    * With `maxBucketSize` set, band buckets holding more than that many
    * docs are dropped before candidate generation — the exact SQL twin of
    * [[graft.operators.Dedup.lshCandidates]]'s deterministic skew cap, so
    * the capped production pipeline (q61) oracles exactly too.
    */
  def minhashPairsCtesCapped(maxBucketSize: Option[Long]): String = {
    val bands = (0 until 4).map { bi =>
      val key = (0 until 4).map(r => s"CAST(s${bi * 4 + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $bi AS band_idx, $key AS band_key FROM sig"
    }.mkString(" UNION ALL ")
    // the cap is a deterministic filter (bucket size > cap), not a sketch:
    // the same buckets drop on both engines
    val (capCte, candSrc) = maxBucketSize match {
      case Some(cap) => (
        s"""hot AS (SELECT band_idx, band_key FROM bands
           |  GROUP BY band_idx, band_key HAVING count(*) > $cap),
           |banded AS (SELECT b.doc_id, b.band_idx, b.band_key FROM bands b
           |  LEFT JOIN hot h ON b.band_idx = h.band_idx AND b.band_key = h.band_key
           |  WHERE h.band_idx IS NULL),
           |""".stripMargin, "banded")
      case None => ("", "bands")
    }
    s"""t AS (SELECT doc_id, $tokSql AS ws FROM documents),
       |sh AS (SELECT doc_id, $bigramsSql AS shingles FROM t),
       |h AS (SELECT doc_id,
       |  list_distinct(list_transform(shingles, s -> ${rollSql("s")})) AS hs FROM sh),
       |sig AS (SELECT doc_id, $minhashSigSql FROM h),
       |bands AS ($bands),
       |${capCte}cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM $candSrc a JOIN $candSrc b ON a.band_idx = b.band_idx
       |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |j AS (SELECT doc_a, doc_b, ${jaccardSql("x.hs", "y.hs")} AS jaccard
       |  FROM cand JOIN h x ON x.doc_id = doc_a JOIN h y ON y.doc_id = doc_b)""".stripMargin
  }

  val minhashPairsCtes: String = minhashPairsCtesCapped(None)

  /** 16 deterministic codebook/centroid ids, present at every SF. */
  val PqCodebookIds: Seq[Long] = (0 until 16).map(_.toLong * 7)

  /** q61a's deliberately tight bucket cap — binds at sf0.01. */
  val TightBucketCap = 2L

  /** q64's split mix. */
  val SplitWeights: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** q70's cosine threshold — q38's value, where the fixture has pairs. */
  val SemDedupThreshold = 0.45

  /** q70a's hyperplane count — 3 planes (8 buckets) is the coarsest
    * blocking that still BINDS at sf0.01 (2 bucket-collision pairs
    * survive the cosine threshold), so the oracle exercises real
    * clustering, not the everything-kept trivial case.
    */
  val SemLshPlanes = 3

  /** The q64 split CASE over an arbitrary key expression — same Knuth
    * hash and thresholds as [[Split.splitExpr]]/[[Sampling.idHash]].
    */
  private[graft] def splitCaseSql(keyExpr: String): String = {
    val m = Sampling.HashMod
    val h = s"(($keyExpr % $m) * 2654435761) % $m"
    val conds = SplitWeights
      .zip(Split.thresholds(SplitWeights))
    val cases = conds.init
      .map { case ((name, _), thr) => s"WHEN $h < $thr THEN '$name'" }
      .mkString(" ")
    s"CASE $cases ELSE '${conds.last._1._1}' END"
  }

  /** q77's Hamming radius — binds at sf0.01 (closest fixture pairs are
    * at distance 4-5) while staying under the 6-band recall guarantee.
    */
  val PhashMaxHamming = 5

  /** Fixed query workload: terms drawn from the fixture vocabulary so
    * every query matches a deep candidate pool at every SF.
    */
  val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join"),
    2 -> Seq("window", "sort", "merge"),
    3 -> Seq("vector", "scan"))

  /** q85's vector probes: each query also carries a probe embedding
    * (doc ids and vec ids share the fixture id space).
    */
  val HybridSpecs: Seq[(Int, Seq[String], Long)] =
    Bm25Queries.zip(Seq(0L, 1L, 2L)).map { case ((q, ts), p) => (q, ts, p) }

  val Bm25K = 10

  val RrfPool = 20

  /** q86's eval-set carve-out (vec_id % 97 = 0 ≈ 1%) and threshold —
    * 0.35 flags 9 of 494 corpus vectors at the sf0.01 gate, with the
    * nearest cosine 0.004 away from the cut (no cross-engine boundary
    * risk).
    */
  val EvalMod = 97L

  val SemanticTau = 0.35

  // ts.distinct mirrors Retrieval.bm25Scores — a repeated query term
  // must not double-count in either engine
  private val qValuesSql = Bm25Queries
    .flatMap { case (q, ts) => ts.distinct.map(t => s"($q, '$t')") }.mkString(", ")

  private val pqValuesSql = HybridSpecs
    .map { case (q, _, p) => s"($q, $p)" }.mkString(", ")

  /** The BM25 CTE chain shared by q83 and q85: per-term micro-point
    * scores (identical double parenthesization to
    * [[graft.operators.Retrieval.bm25Scores]]) → integer sum → rank.
    */
  private val bm25Ctes =
    s"""q(query_id, term) AS (VALUES $qValuesSql),
       |t AS (SELECT doc_id, $tokSql AS ws FROM documents),
       |st AS (SELECT count(*)::DOUBLE AS n,
       |    sum(len(ws))::DOUBLE / count(*) AS avgdl FROM t),
       |tfx AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
       |    SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM t)
       |  GROUP BY doc_id, dl, term),
       |dfx AS (SELECT term, count(*) AS df FROM tfx GROUP BY term),
       |sc AS (SELECT q.query_id, tfx.doc_id,
       |    CAST(round(ln(((st.n - df + 0.5) / (df + 0.5)) + 1.0)
       |      * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / st.avgdl)))
       |      * 1000000.0) AS BIGINT) AS s
       |  FROM tfx JOIN q USING (term) JOIN dfx USING (term), st),
       |ag AS (SELECT query_id, doc_id,
       |    CAST(sum(s) AS BIGINT) AS score_micro FROM sc
       |  GROUP BY query_id, doc_id),
       |br AS (SELECT query_id, doc_id, score_micro,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rank FROM ag)""".stripMargin

  /** q97 containment threshold (binds at 17 pairs at the gate SF,
    * including pairs whose symmetric Jaccard sits below the q33 cut).
    */
  val ContainmentTau = 0.4

  /** q102 pinned coarse centroids (the q42 convention) — the PQ codebook
    * ids are [[PqCodebookIds]].
    */
  val IvfCentroidIds: Seq[Long] = (0 until 16).map(_.toLong * 7)

  private def ivfpqOracle: String = {
    val cids = IvfCentroidIds.mkString("(", ", ", ")")
    val qids = AnnQueryIds.mkString("(", ", ", ")")
    val cbValues = PqCodebookIds.zipWithIndex
      .map { case (v, i) => s"($v, $i)" }.mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cc AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id IN $cids),
       |sc AS (SELECT e.vec_id,
       |    round(list_cosine_similarity(e.v, c.cv), 4) AS ccos, c.cid
       |  FROM e, cc c),
       |asg AS (SELECT vec_id, cid AS cell FROM (SELECT *,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, cid) AS rn FROM sc) WHERE rn = 1),
       |res AS (SELECT e.vec_id, asg.cell,
       |    list_transform(list_zip(e.v, c.cv), x -> x[1] - x[2]) AS r
       |  FROM e JOIN asg ON e.vec_id = asg.vec_id
       |  JOIN cc c ON c.cid = asg.cell),
       |ms AS (SELECT unnest(range(0, 8)) AS m),
       |sn AS (SELECT vec_id, cell, m, r[m*8+1 : m*8+8] AS sv,
       |    list_dot_product(r[m*8+1 : m*8+8], r[m*8+1 : m*8+8]) AS n2
       |  FROM res, ms),
       |pq0 AS (SELECT * FROM (VALUES $cbValues) AS t(cvid, cid)),
       |pcb AS (SELECT pq0.cid, sn.m, sn.sv AS cv, sn.n2 AS cn2
       |  FROM pq0 JOIN sn ON sn.vec_id = pq0.cvid),
       |d AS (SELECT s.vec_id, s.cell, s.m, c.cid,
       |    CAST(round((s.n2 + c.cn2 - 2*list_dot_product(s.sv, c.cv)) * 1e6)
       |      AS BIGINT) AS d2i
       |  FROM sn s JOIN pcb c ON s.m = c.m),
       |enc AS (SELECT vec_id, cell, m, cid AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY d2i, cid) AS rn FROM d) WHERE rn = 1),
       |adist AS (SELECT dq.vec_id AS query_id, ex.vec_id, sum(dq.d2i) AS ai
       |  FROM d dq JOIN enc ex ON dq.m = ex.m AND dq.cid = ex.code
       |    AND dq.cell = ex.cell
       |  WHERE dq.vec_id IN $qids AND ex.vec_id <> dq.vec_id
       |  GROUP BY 1, 2),
       |r AS (SELECT query_id, vec_id, round(ai / 1e6, 4) AS approx_d2,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY ai ASC, vec_id ASC) AS INTEGER) AS rank
       |  FROM adist)
       |SELECT query_id, vec_id, approx_d2, rank FROM r
       |WHERE rank <= ${AnnK}
       |ORDER BY query_id, rank""".stripMargin
  }

  /** q114 runs over ENTITY LABELS (customer.c_name), the classic
    * entity-resolution input: the fixture's documents vocabulary is a
    * small pinned word list with zero distance-1 pairs at any cut, but
    * entity names ("Customer#000000421") are digit-substitution rich —
    * 2,980 pairs bind at sf0.01 under V=300. The length floor keeps
    * deletion keys ≥ 3 chars.
    */
  val VariantVocabV = 300

  val VariantMinLen = 4

  /** q97a's stop-shingle doc-frequency cap. At sf0.01 the (lang, shingle)
    * df distribution tops out at 28 with 856 of 4473 keys above 8, so 8
    * BINDS hard (it is NOT the production value — production would sit
    * at the boilerplate knee, e.g. 10⁴ — it is the tightest cap that
    * still leaves the gate result non-trivial).
    */
  val ContainmentShingleCap = 8L

  /** q123's k-means geometry: 8 deterministic init centroids (vec_ids
    * present at every fixture SF) × 2 Lloyd rounds — enough for the
    * recompute-reassign cycle to be exercised, small enough for the
    * unrolled SQL oracle to stay mechanical.
    */
  val KmInitIds: Seq[Long] = (0 until 8).map(i => i.toLong * 13)

  val KmRounds = 2

  val RpK = 8

  val RpDim = 64

  val PassageWords = 10

  /** Anchor set for q169 — the q36 ANN query ids. */
  val HardNegQueryIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L)

  val HardNegK = 5

  /** 30 anchors, k = 2 — on the fixture's geometry 27 anchors are
    * out-voted (suspect) and 3 agree with a neighbor, so the flag BINDS
    * both ways at sf0.01.
    */
  val NoiseAnchorIds: Seq[Long] = (0L until 30L)

  val NoiseK = 2

  /** Shared oracle CTE chain: per-vector 6-plane LSH buckets and the
    * anchors' 7-probe (own + Hamming-1) bucket fan-out, the exact SQL
    * twin of [[Similarity.lshBucket]] + the probe explode.
    */
  private def lshCtes(ids: String): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
       |  FROM embeddings),
       |d AS (SELECT vec_id, p, sum(v[j] * w) AS dot
       |  FROM e, ${planesValuesSql} GROUP BY vec_id, p),
       |bk AS (SELECT vec_id, CAST(sum(CASE WHEN dot >= 0
       |    THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM d GROUP BY vec_id),
       |eb AS (SELECT e.vec_id, v, label, bucket
       |  FROM e JOIN bk ON e.vec_id = bk.vec_id),
       |q AS (SELECT vec_id AS query_id, v AS qv, label AS ql,
       |    xor(bucket, m) AS bucket
       |  FROM eb, (VALUES (0), (1), (2), (4), (8), (16), (32)) AS probes(m)
       |  WHERE vec_id IN $ids)""".stripMargin

  val LinkFields = Seq("seg_eq", "bal_close", "key_close")

  /** SN bucket width in CENTS = the $500 bal_close threshold, so two
    * balance-close records are always same-or-adjacent bucket.
    */
  val LinkBucketCents = 50000L

  private def cust(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        (col("c_acctbal") * 100).cast("long").as("cents"))

  /** Agreement flags off a `a_*`/`b_*` pair relation. abs() keeps the
    * flags order-free: on the exact tier a < b always so this matches
    * the original directed forms verbatim; adjacent-bucket SN pairs
    * canonicalise by bucket, not id.
    */
  private def flags(p: DataFrame): DataFrame = p.select(
    (col("a_c_mktsegment") === col("b_c_mktsegment")).as("seg_eq"),
    (abs(col("a_cents") - col("b_cents")) < LinkBucketCents).as("bal_close"),
    (abs(col("b_c_custkey") - col("a_c_custkey")) < 10).as("key_close"))

  private def pairsAt(cfg: CorpusConfig)(s: SparkSession, dir: String): DataFrame =
    flags(cfg.linkagePairs(cust(s, dir), "c_nationkey", "cents",
      LinkBucketCents, "c_custkey"))

  /** SQL twin of [[Linkage.gammaMicro]] given param SQL expressions. */
  private def gammaSql(lm: String, ms: Seq[String], us: Seq[String]): String = {
    val a = (s"($lm)::DOUBLE" +: LinkFields.zip(ms).map { case (f, m) =>
      s"(CASE WHEN $f THEN ($m)::DOUBLE ELSE 1000000 - ($m) END)"
    }).mkString(" * ")
    val b = (s"(1000000 - ($lm))::DOUBLE" +: LinkFields.zip(us).map {
      case (f, u) =>
        s"(CASE WHEN $f THEN ($u)::DOUBLE ELSE 1000000 - ($u) END)"
    }).mkString(" * ")
    s"CAST(round(($a) / (($a) + ($b)) * 1000000) AS BIGINT)"
  }

  /** One EM round: sums CTE `s$k` off `g$k`, params CTE `p$k`. */
  private def emRoundSql(k: Int): String = {
    val sums = LinkFields.map(f =>
      s"""    CAST(sum(CASE WHEN $f THEN CAST(g AS HUGEINT) ELSE 0 END)
         |      AS HUGEINT) AS sga_$f,
         |    CAST(sum(CASE WHEN $f THEN 1000000 ELSE 0 END) AS HUGEINT)
         |      AS sa_$f""".stripMargin).mkString(",\n")
    val ps = LinkFields.map(f =>
      s"""    CAST((sga_$f * 1000000) // greatest(sg, 1::HUGEINT)
         |      AS BIGINT) AS m_$f,
         |    CAST(((sa_$f - sga_$f) * 1000000) //
         |      greatest(n * 1000000 - sg, 1::HUGEINT) AS BIGINT)
         |      AS u_$f""".stripMargin).mkString(",\n")
    s"""s$k AS (SELECT CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(CAST(g AS HUGEINT)) AS HUGEINT) AS sg,
       |$sums
       |  FROM g$k),
       |p$k AS (SELECT CAST(sg // n AS BIGINT) AS lm,
       |$ps
       |  FROM s$k)""".stripMargin
  }

  /** Full EM oracle given the candidate-pair CTE body (must produce
    * the three agreement flag columns).
    */
  private def emSql(prBody: String): String = {
    val g1 = gammaSql(Linkage.Lambda0.toString,
      LinkFields.map(_ => Linkage.M0.toString),
      LinkFields.map(_ => Linkage.U0.toString))
    val g2 = gammaSql("p1.lm", LinkFields.map(f => s"p1.m_$f"),
      LinkFields.map(f => s"p1.u_$f"))
    val gf = gammaSql("p2.lm", LinkFields.map(f => s"p2.m_$f"),
      LinkFields.map(f => s"p2.u_$f"))
    val outCols = LinkFields.map(f =>
      s"p2.m_$f AS ${f}_m_micro, p2.u_$f AS ${f}_u_micro")
      .mkString(",\n  ")
    s"""WITH pr AS ($prBody),
       |g1 AS (SELECT *, $g1 AS g FROM pr),
       |${emRoundSql(1)},
       |g2 AS (SELECT pr.*, $g2 AS g FROM pr, p1),
       |${emRoundSql(2)},
       |gf AS (SELECT $gf AS g FROM pr, p2),
       |fin AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(CASE WHEN g > 500000 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_matched FROM gf)
       |SELECT fin.n_pairs, p2.lm AS lambda_micro,
       |  $outCols,
       |  fin.n_matched
       |FROM fin, p2""".stripMargin
  }

  val EigenRounds = 3

  /** One power-iteration round: w = C·v, then ∞-norm renormalize with
    * the sign split off the floor division (// on non-negative ≡
    * Spark's div).
    */
  private def powerRoundSql(k: Int): String =
    s"""w$k AS (SELECT cf.i AS dim,
       |    CAST(sum(CAST(cf.cov_num AS HUGEINT) * v${k - 1}.v_micro)
       |      AS HUGEINT) AS w
       |  FROM cf JOIN v${k - 1} ON v${k - 1}.dim = cf.j GROUP BY 1),
       |m$k AS (SELECT max(abs(w)) AS mx FROM w$k),
       |v$k AS (SELECT dim, CAST((CASE WHEN w < 0 THEN -1 ELSE 1 END) *
       |    ((abs(w) * 1000000) // greatest(mx, 1::HUGEINT)) AS BIGINT)
       |    AS v_micro
       |  FROM w$k, m$k)""".stripMargin

  val WinnowK = 3

  val WinnowWindow = 4

  /** q258's recall SQL shape over an arbitrary approx tier's oracle. */
  private def recallOracle(approxSql: String): String = {
    val bf = oracleOf("q36_ann_bruteforce")
    s"""WITH bf AS (SELECT * FROM ($bf)),
       |ap AS (SELECT * FROM ($approxSql)),
       |j AS (SELECT bf.query_id,
       |    CAST(count(*) AS BIGINT) AS n_exact,
       |    CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0
       |      END) AS BIGINT) AS n_hits
       |  FROM bf LEFT JOIN ap ON bf.query_id = ap.query_id AND
       |    bf.vec_id = ap.vec_id
       |  GROUP BY 1),
       |ac AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_approx
       |  FROM ap GROUP BY 1)
       |SELECT j.query_id, n_exact,
       |  coalesce(ac.n_approx, 0) AS n_approx, n_hits,
       |  (n_hits * 1000000) // n_exact AS recall_ppm
       |FROM j LEFT JOIN ac ON j.query_id = ac.query_id
       |ORDER BY j.query_id""".stripMargin
  }

  /** Window length in tokens — frozen so the census, the oracle, and
    * the spec all cut at the same run length. */
  val SpanL = 8

  /** Shared CTE chain: tokens → positioned window hashes → census with
    * the canonical-first rule → flagged extras → island-merged spans.
    */
  private def spanCtes: String = {
    val l = SpanL
    val win = s"array_to_string(list_slice(ws, i, i + ${l - 1}), ' ')"
    s"""t AS (SELECT doc_id, source,
       |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |  FROM documents),
       |wi AS (SELECT doc_id, ws,
       |    unnest(range(1, len(ws) - $l + 2)) AS i
       |  FROM t WHERE len(ws) >= $l),
       |wh AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
       |    ${rollSql(win)} AS h
       |  FROM wi),
       |cen AS (SELECT h, count(*) AS c, min(doc_id) AS fd
       |  FROM wh GROUP BY h),
       |fp AS (SELECT wh.h, min(wh.pos) AS fpos
       |  FROM wh JOIN cen ON cen.h = wh.h AND wh.doc_id = cen.fd
       |  WHERE cen.c >= 2 GROUP BY wh.h),
       |ex AS (SELECT wh.doc_id, wh.pos
       |  FROM wh JOIN cen ON cen.h = wh.h JOIN fp ON fp.h = wh.h
       |  WHERE cen.c >= 2
       |    AND (wh.doc_id <> cen.fd OR wh.pos <> fp.fpos)),
       |isl AS (SELECT doc_id, pos, max(pos) OVER (PARTITION BY doc_id
       |    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1
       |    PRECEDING) AS prev_max FROM ex),
       |isl2 AS (SELECT *, CASE WHEN prev_max IS NULL OR
       |    pos > prev_max + $l THEN 1 ELSE 0 END AS ns FROM isl),
       |isl3 AS (SELECT *, sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
       |  FROM isl2),
       |sp AS (SELECT doc_id, span_id, CAST(min(pos) AS INTEGER)
       |    AS span_start, CAST(max(pos) + $l AS INTEGER) AS span_end,
       |    CAST(count(*) AS BIGINT) AS n_windows
       |  FROM isl3 GROUP BY 1, 2)""".stripMargin
  }

  /** Shared by q270 (join tier) and q271 (scan tier): the two
    * implementations are value-identical by construction, so one oracle
    * doubles as a standing differential test between them.
    */
  private def decontOracle: String = {
    val l = SpanL
    val win = s"array_to_string(list_slice(ws, i, i + ${l - 1}), ' ')"
    s"""WITH t AS (SELECT doc_id, source,
       |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |  FROM documents),
       |wi AS (SELECT doc_id, ws,
       |    unnest(range(1, len(ws) - $l + 2)) AS i
       |  FROM t WHERE len(ws) >= $l),
       |wh AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
       |    ${rollSql(win)} AS h
       |  FROM wi),
       |rw AS (SELECT DISTINCT h FROM wh
       |  WHERE doc_id % ${TextQueries.BenchMod} = 0),
       |ex AS (SELECT wh.doc_id, wh.pos FROM wh JOIN rw ON rw.h = wh.h
       |  WHERE wh.doc_id % ${TextQueries.BenchMod} <> 0),
       |isl AS (SELECT doc_id, pos, max(pos) OVER (PARTITION BY doc_id
       |    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1
       |    PRECEDING) AS prev_max FROM ex),
       |isl2 AS (SELECT *, CASE WHEN prev_max IS NULL OR
       |    pos > prev_max + $l THEN 1 ELSE 0 END AS ns FROM isl),
       |isl3 AS (SELECT *, sum(ns) OVER (PARTITION BY doc_id ORDER BY
       |    pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS span_id FROM isl2),
       |sp AS (SELECT doc_id, span_id, CAST(min(pos) AS INTEGER)
       |    AS span_start, CAST(max(pos) + $l AS INTEGER) AS span_end
       |  FROM isl3 GROUP BY 1, 2),
       |pd AS (SELECT doc_id,
       |    CAST(sum(span_end - span_start) AS BIGINT) AS bad_tokens
       |  FROM sp GROUP BY 1)
       |SELECT t.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN pd.bad_tokens IS NOT NULL THEN 1 ELSE 0
       |    END) AS BIGINT) AS docs_contaminated,
       |  CAST(sum(len(t.ws)) AS BIGINT) AS total_tokens,
       |  CAST(sum(coalesce(pd.bad_tokens, 0)) AS BIGINT)
       |    AS contaminated_tokens,
       |  (CAST(sum(coalesce(pd.bad_tokens, 0)) AS BIGINT) * 1000000)
       |    // CAST(sum(len(t.ws)) AS BIGINT) AS contaminated_ppm
       |FROM t LEFT JOIN pd ON pd.doc_id = t.doc_id
       |WHERE t.doc_id % ${TextQueries.BenchMod} <> 0
       |GROUP BY t.source ORDER BY t.source""".stripMargin
  }

  val MmrK = 5

  val MmrPool = 20

  val MmrLambda = 700L

  /** One greedy MMR step: the (score desc, vec_id) argmax over the
    * candidates not yet selected, scored against sel{t-1}. */
  private def mmrStep(t: Int): String = {
    val lam = MmrLambda
    s"""rem$t AS (SELECT c.* FROM cand c LEFT JOIN sel${t - 1} s
       |  ON s.query_id = c.query_id AND s.vec_id = c.vec_id
       |  WHERE s.vec_id IS NULL),
       |ms$t AS (SELECT c.query_id, c.vec_id, c.rel, max(p.sim) AS ms
       |  FROM rem$t c JOIN p ON p.query_id = c.query_id
       |    AND p.da = c.vec_id
       |  JOIN sel${t - 1} s ON s.query_id = p.query_id
       |    AND s.vec_id = p.db
       |  GROUP BY 1, 2, 3),
       |pick$t AS (SELECT query_id, $t AS rank, vec_id, rel,
       |    $lam * rel - ${1000 - lam} * ms AS score
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY $lam * rel - ${1000 - lam} * ms DESC, vec_id)
       |      AS rn FROM ms$t) WHERE rn = 1),
       |sel$t AS (SELECT * FROM sel${t - 1}
       |  UNION ALL SELECT * FROM pick$t)""".stripMargin
  }

  private def mmrOracle: String = {
    val qids = AnnQueryIds.mkString("(", ", ", ")")
    val steps = (2 to MmrK).map(mmrStep).mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e
       |  WHERE vec_id IN $qids),
       |sc AS (SELECT query_id, vec_id,
       |    round(list_cosine_similarity(qv, v), 4) AS cos_sim
       |  FROM q, e WHERE vec_id <> query_id),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, vec_id) AS rank FROM sc),
       |cand AS (SELECT query_id, vec_id,
       |    CAST(round(cos_sim * 1e6) AS BIGINT) AS rel
       |  FROM rk WHERE rank <= $MmrPool),
       |p AS (SELECT a.query_id, a.vec_id AS da, b.vec_id AS db,
       |    CAST(round(round(list_cosine_similarity(av.v, bv.v), 4)
       |      * 1e6) AS BIGINT) AS sim
       |  FROM cand a JOIN cand b ON a.query_id = b.query_id
       |    AND a.vec_id <> b.vec_id
       |  JOIN e av ON av.vec_id = a.vec_id
       |  JOIN e bv ON bv.vec_id = b.vec_id),
       |sel1 AS (SELECT query_id, 1 AS rank, vec_id, rel,
       |    $MmrLambda * rel AS score
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY $MmrLambda * rel DESC, vec_id) AS rn FROM cand)
       |  WHERE rn = 1),
       |$steps
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
       |  rel AS rel_micro, CAST(score AS BIGINT) AS mmr_score
       |FROM sel$MmrK ORDER BY query_id, rank""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    // Exact-dedup stats on the token-set md5 fingerprint.
    QueryDef("q32_fingerprint", (s, dir) => Dedup.exactStats(Tables.load(s, dir, "documents")),
      s"""WITH fp AS (SELECT doc_id, $fingerprintSql AS f FROM documents),
         |g AS (SELECT f, count(*) AS c FROM fp GROUP BY f)
         |SELECT CAST(sum(c) AS BIGINT) AS total_docs,
         |  CAST(count(*) AS BIGINT) AS unique_docs,
         |  CAST(sum(c) - count(*) AS BIGINT) AS duplicate_docs,
         |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS duplicate_groups
         |FROM g""".stripMargin),

    // Pairwise bigram-Jaccard near-dups, blocked by source.
    QueryDef("q33_jaccard_pairs", (s, dir) =>
      Dedup.jaccardPairs(Tables.load(s, dir, "documents"), "source", 0.5).orderBy("doc_a", "doc_b"),
      // hashed shingle sets (list_distinct of the rolling hash), mirroring
      // the Spark side's HashedWordNgrams relation exactly
      s"""WITH t AS (SELECT doc_id, source, $tokSql AS ws FROM documents),
         |bg0 AS (SELECT doc_id, source, $bigramsSql AS sg FROM t),
         |bg AS (SELECT doc_id, source,
         |  list_distinct(list_transform(sg, s -> ${rollSql("s")})) AS sh FROM bg0)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  ${jaccardSql("a.sh", "b.sh")} AS jaccard
         |FROM bg a JOIN bg b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE ${jaccardSql("a.sh", "b.sh")} >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin),

    // MinHash signatures → LSH bands → candidates → verified Jaccard.
    QueryDef("q34_minhash_lsh", (s, dir) =>
      Dedup.minhashNearDups(Tables.load(s, dir, "documents")).orderBy("doc_a", "doc_b"),
      s"""WITH $minhashPairsCtes
         |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin),

    // SimHash near-dup pairs (Hamming ≤ 3), blocked by source.
    QueryDef("q35_simhash", (s, dir) =>
      Dedup.simhashPairs(Tables.load(s, dir, "documents"), "source", 3).orderBy("doc_a", "doc_b"),
      s"""WITH t AS (SELECT doc_id, source, $tokSql AS ws FROM documents),
         |hh AS (SELECT doc_id, source,
         |  list_transform(ws, w -> ${rollSql("w")}) AS hs FROM t),
         |sg AS (SELECT doc_id, source, $simhashSql AS sh FROM hh)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.sh, b.sh)) AS hamming
         |FROM sg a JOIN sg b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Brute-force cosine top-k ANN baseline.
    QueryDef("q36_ann_bruteforce", (s, dir) =>
      Similarity.bruteForceTopK(Tables.load(s, dir, "embeddings"), AnnQueryIds, AnnK)
        .orderBy("query_id", "rank"),
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN $annIdsSql),
         |s AS (SELECT query_id, vec_id,
         |    round(list_cosine_similarity(qv, v), 4) AS cos_sim
         |  FROM q, e WHERE vec_id <> query_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank FROM s)
         |SELECT query_id, vec_id, cos_sim, rank FROM r WHERE rank <= $AnnK
         |ORDER BY query_id, rank""".stripMargin),

    // Hyperplane-LSH bucketed ANN (the scale path).
    QueryDef("q37_ann_lsh", (s, dir) =>
      Similarity.lshTopK(Tables.load(s, dir, "embeddings"), AnnQueryIds, AnnK)
        .orderBy("query_id", "rank"),
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |d AS (SELECT vec_id, p, sum(v[j] * w) AS dot
         |  FROM e, $planesValuesSql GROUP BY vec_id, p),
         |bk AS (SELECT vec_id, CAST(sum(CASE WHEN dot >= 0
         |    THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM d GROUP BY vec_id),
         |eb AS (SELECT e.vec_id, v, bucket FROM e JOIN bk ON e.vec_id = bk.vec_id),
         |q AS (SELECT vec_id AS query_id, v AS qv, xor(bucket, m) AS bucket
         |  FROM eb, (VALUES (0), (1), (2), (4), (8), (16), (32)) AS probes(m)
         |  WHERE vec_id IN $annIdsSql),
         |s AS (SELECT query_id, eb.vec_id,
         |    round(list_cosine_similarity(qv, v), 4) AS cos_sim
         |  FROM q JOIN eb ON q.bucket = eb.bucket AND eb.vec_id <> q.query_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank FROM s)
         |SELECT query_id, vec_id, cos_sim, rank FROM r WHERE rank <= $AnnK
         |ORDER BY query_id, rank""".stripMargin),

    // Embedding-cosine near-dup pairs within label blocks.
    QueryDef("q38_embedding_neardup", (s, dir) =>
      Similarity.nearDupPairs(Tables.load(s, dir, "embeddings"), "label", 0.45)
        .orderBy("vec_a", "vec_b"),
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
         |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.45
         |ORDER BY vec_a, vec_b""".stripMargin),

    // Corpus stats after exact dedup (keep min doc_id per fingerprint).
    QueryDef("q40_dedup_kept", (s, dir) =>
      Dedup.dropExactDuplicates(Tables.load(s, dir, "documents"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum("n_chars").cast("long").as("total_chars")),
      s"""WITH fp AS (SELECT doc_id, n_chars, $fingerprintSql AS f FROM documents),
         |k AS (SELECT f, min(doc_id) AS keep FROM fp GROUP BY f)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM fp JOIN k ON fp.doc_id = k.keep""".stripMargin),

    // IVF-bucketed ANN (deterministic centroid subset; single-probe).
    QueryDef("q42_ann_ivf", (s, dir) =>
      Similarity.ivfTopK(Tables.load(s, dir, "embeddings"), AnnQueryIds, AnnK, IvfCentroidIds)
        .orderBy("query_id", "rank"), {
      val cidsSql = IvfCentroidIds.mkString("(", ", ", ")")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id IN $cidsSql),
         |sc AS (SELECT e.vec_id,
         |    round(list_cosine_similarity(e.v, c.cv), 4) AS ccos, c.cid
         |  FROM e, c),
         |asg AS (SELECT vec_id, cid AS cell FROM (SELECT *,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cid) AS rn FROM sc) WHERE rn = 1),
         |eb AS (SELECT e.vec_id, e.v, asg.cell
         |  FROM e JOIN asg ON e.vec_id = asg.vec_id),
         |q AS (SELECT vec_id AS query_id, v AS qv, cell FROM eb
         |  WHERE vec_id IN $annIdsSql),
         |s AS (SELECT query_id, eb.vec_id,
         |    round(list_cosine_similarity(qv, eb.v), 4) AS cos_sim
         |  FROM q JOIN eb ON q.cell = eb.cell AND eb.vec_id <> q.query_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank FROM s)
         |SELECT query_id, vec_id, cos_sim, rank FROM r WHERE rank <= $AnnK
         |ORDER BY query_id, rank""".stripMargin
    }),

    // n-gram Jaccard at n=3: the configurable-shingle variant of q33.
    QueryDef("q47_trigram_jaccard", (s, dir) =>
      Dedup.jaccardPairs(Tables.load(s, dir, "documents"), "source", 0.3, ngram = 3)
        .orderBy("doc_a", "doc_b"),
      // hashed shingle sets (list_distinct of the rolling hash), mirroring
      // the Spark side's HashedWordNgrams relation exactly
      s"""WITH t AS (SELECT doc_id, source, $tokSql AS ws FROM documents),
         |bg0 AS (SELECT doc_id, source, $trigramsSql AS sg FROM t),
         |bg AS (SELECT doc_id, source,
         |  list_distinct(list_transform(sg, s -> ${rollSql("s")})) AS sh FROM bg0)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  ${jaccardSql("a.sh", "b.sh")} AS jaccard
         |FROM bg a JOIN bg b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE ${jaccardSql("a.sh", "b.sh")} >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Embedding cohesion per label: centroid + mean member→centroid cosine.
    QueryDef("q49_label_profile", (s, dir) =>
      Similarity.labelProfile(Tables.load(s, dir, "embeddings")),
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT label, pos, avg(v[pos]) AS m
        |  FROM e, (SELECT unnest(range(1, 65)) AS pos) p GROUP BY label, pos),
        |c AS (SELECT label, list(m ORDER BY pos) AS cv FROM m GROUP BY label)
        |SELECT e.label, count(*) AS n_vecs,
        |  round(avg(sqrt(list_dot_product(v, v))), 4) AS avg_norm,
        |  round(avg(list_cosine_similarity(v, cv)), 4) AS avg_centroid_cos
        |FROM e JOIN c ON e.label = c.label
        |GROUP BY e.label ORDER BY e.label""".stripMargin),

    // Duplicate clusters: connected components over the verified MinHash
    // near-dup pairs (min-label propagation; the keep-one-per-group
    // closure of pairwise dedup).
    QueryDef("q50_dup_clusters", (s, dir) =>
      Dedup.clusterSizes(Dedup.minhashNearDups(Tables.load(s, dir, "documents")))
        .orderBy("cluster"),
      // fixture embeddings are 64-dim (FIXTURES.md); positions come from an
      // explicit range because DuckDB lacks UNNEST ... WITH ORDINALITY
      // Transitive closure as a recursive CTE: nodes seed with their own
      // id, each step adds every neighbor's reachable label, UNION dedups
      // → terminates; min over reached labels = component minimum, exactly
      // the Spark side's min-label-propagation fixpoint.
      s"""WITH RECURSIVE ${minhashPairsCtes},
         |pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |r AS (SELECT DISTINCT src AS id, src AS lab FROM edges
         |  UNION SELECT e.src, r.lab FROM edges e JOIN r ON e.dst = r.id),
         |cc AS (SELECT id, min(lab) AS cluster FROM r GROUP BY id)
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs
         |FROM cc GROUP BY cluster ORDER BY cluster""".stripMargin),

    // Product-quantization ADC top-k: the memory-scale ANN path (8-byte
    // codes, broadcast codebook + query tables, integer distances so
    // every rank is exact across engines). Codebook ids are the fixed
    // deterministic subset (training = ProductQuantization.train, spec'd
    // separately — same stub convention as IVF's q42).
    QueryDef("q60_ann_pq", (s, dir) =>
      graft.operators.ProductQuantization.adcTopK(
        Tables.load(s, dir, "embeddings"), AnnQueryIds, AnnK, PqCodebookIds)
        .orderBy("query_id", "rank"), {
      val cbValues = PqCodebookIds.zipWithIndex
        .map { case (v, i) => s"($v, $i)" }.mkString(", ")
      val qids = AnnQueryIds.mkString("(", ", ", ")")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |ms AS (SELECT unnest(range(0, 8)) AS m),
         |sn AS (SELECT vec_id, m, v[m*8+1 : m*8+8] AS sv,
         |    list_dot_product(v[m*8+1 : m*8+8], v[m*8+1 : m*8+8]) AS n2
         |  FROM e, ms),
         |cb0 AS (SELECT * FROM (VALUES $cbValues) AS t(cvid, cid)),
         |cb AS (SELECT cb0.cid, sn.m, sn.sv AS cv, sn.n2 AS cn2
         |  FROM cb0 JOIN sn ON sn.vec_id = cb0.cvid),
         |d AS (SELECT s.vec_id, s.m, c.cid,
         |    CAST(round((s.n2 + c.cn2 - 2*list_dot_product(s.sv, c.cv)) * 1e6)
         |      AS BIGINT) AS d2i
         |  FROM sn s JOIN cb c ON s.m = c.m),
         |enc AS (SELECT vec_id, m, cid AS code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY d2i, cid) AS rn FROM d) WHERE rn = 1),
         |adist AS (SELECT dq.vec_id AS query_id, ex.vec_id, sum(dq.d2i) AS ai
         |  FROM d dq JOIN enc ex ON dq.m = ex.m AND dq.cid = ex.code
         |  WHERE dq.vec_id IN $qids AND ex.vec_id <> dq.vec_id
         |  GROUP BY 1, 2),
         |r AS (SELECT query_id, vec_id, round(ai / 1e6, 4) AS approx_d2,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY ai ASC, vec_id ASC) AS INTEGER) AS rank
         |  FROM adist)
         |SELECT query_id, vec_id, approx_d2, rank FROM r WHERE rank <= $AnnK
         |ORDER BY query_id, rank""".stripMargin
    }),

    QueryDef("q61_minhash_capped", (s, dir) =>
      Dedup.minhashNearDups(Tables.load(s, dir, "documents"),
        maxBucketSize = DedupConfig.Production.maxBucketSize)
        .orderBy("doc_a", "doc_b"), {
      val cap = DedupConfig.Production.maxBucketSize.get
      s"""WITH ${minhashPairsCtesCapped(Some(cap))}
         |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin
    }),

    QueryDef("q61a_minhash_cap_bind", (s, dir) =>
      Dedup.minhashNearDups(Tables.load(s, dir, "documents"),
        maxBucketSize = Some(TightBucketCap))
        .orderBy("doc_a", "doc_b"),
      s"""WITH ${minhashPairsCtesCapped(Some(TightBucketCap))}
         |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Leakage-safe split: every near-dup CLUSTER (connected component of
    // the verified MinHash pairs) lands in one split; per (split, source)
    // doc counts, same rollup as q64.
    QueryDef("q64a_split_leakage_safe", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      Split.assignSplitsLeakageSafe(d, Dedup.minhashNearDups(d),
        SplitWeights)
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("split", "source")
    },
      // CC over the verified MinHash pairs (q50's recursive CTE), then the
      // q64 hash CASE keyed by coalesce(cluster, doc_id).
      s"""WITH RECURSIVE ${minhashPairsCtes},
         |pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |r AS (SELECT DISTINCT src AS id, src AS lab FROM edges
         |  UNION SELECT e.src, r.lab FROM edges e JOIN r ON e.dst = r.id),
         |cc AS (SELECT id, min(lab) AS cluster FROM r GROUP BY id),
         |d AS (SELECT d.source, coalesce(cc.cluster, d.doc_id) AS k
         |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.id),
         |s AS (SELECT source, ${splitCaseSql("k")} AS split FROM d)
         |SELECT split, source, count(*) AS n_docs FROM s
         |GROUP BY split, source ORDER BY split, source""".stripMargin),

    // Incremental exact dedup: the doc_id % BenchMod == 0 slice plays the
    // already-ingested corpus, the rest the incoming delivery; per-source
    // accounting of new/known/within-batch duplicates.
    QueryDef("q67_incremental_dedup", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val existing = d.filter(col("doc_id") % TextQueries.BenchMod === 0)
      val incoming = d.filter(col("doc_id") % TextQueries.BenchMod =!= 0)
      Dedup.incrementalReport(incoming, existing, "source")
    }, {
      val mod = TextQueries.BenchMod
      val fpSql = "md5(array_to_string(list_sort(list_distinct(" +
        "regexp_extract_all(lower(text), '[a-z0-9]+'))), ' '))"
      s"""WITH fp AS (SELECT doc_id, source, $fpSql AS f FROM documents),
         |ex AS (SELECT DISTINCT f FROM fp WHERE doc_id % $mod = 0),
         |inc AS (SELECT fp.doc_id, fp.source, fp.f,
         |    CASE WHEN ex.f IS NOT NULL THEN 1 ELSE 0 END AS known
         |  FROM fp LEFT JOIN ex ON fp.f = ex.f WHERE doc_id % $mod <> 0),
         |kept AS (SELECT source FROM (SELECT *, row_number() OVER
         |    (PARTITION BY f ORDER BY doc_id) AS rn FROM inc WHERE known = 0)
         |  WHERE rn = 1),
         |g1 AS (SELECT source, count(*) AS n_incoming,
         |    CAST(sum(known) AS BIGINT) AS n_dup_existing
         |  FROM inc GROUP BY source),
         |g2 AS (SELECT source, count(*) AS n_new_unique FROM kept GROUP BY source)
         |SELECT g1.source, n_incoming, n_dup_existing,
         |  CAST(coalesce(n_new_unique, 0) AS BIGINT) AS n_new_unique,
         |  n_incoming - n_dup_existing - coalesce(n_new_unique, 0) AS n_dup_within
         |FROM g1 LEFT JOIN g2 ON g1.source = g2.source
         |ORDER BY g1.source""".stripMargin
    }),

    // Semantic dedup (SemDedup): per-label vec counts before/after
    // keeping one representative per embedding near-dup cluster.
    QueryDef("q70_semantic_dedup", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val kept = Similarity.semanticDedup(e, "label", SemDedupThreshold)
        .groupBy("label").agg(count(lit(1)).as("n_kept"))
      e.groupBy("label").agg(count(lit(1)).as("n_vecs"))
        .join(kept, Seq("label"), "left")
        .na.fill(0L, Seq("n_kept"))
        .orderBy("label")
    },
      // q38's pair predicate + the q50-style recursive-CTE closure; kept =
      // cluster minimum (or self when never paired).
      s"""WITH RECURSIVE e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
         |  FROM embeddings),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= $SemDedupThreshold),
         |edges AS (SELECT vec_a AS src, vec_b AS dst FROM p
         |  UNION SELECT vec_b, vec_a FROM p),
         |r AS (SELECT DISTINCT src AS id, src AS lab FROM edges
         |  UNION SELECT e2.src, r.lab FROM edges e2 JOIN r ON e2.dst = r.id),
         |cc AS (SELECT id, min(lab) AS cluster FROM r GROUP BY id),
         |k AS (SELECT e.label,
         |    (cc.cluster IS NULL OR cc.cluster = e.vec_id) AS keep
         |  FROM e LEFT JOIN cc ON e.vec_id = cc.id)
         |SELECT label, count(*) AS n_vecs,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM k GROUP BY label ORDER BY label""".stripMargin),

    // The 100 TB semantic-dedup path: hyperplane-bucket blocking instead
    // of label blocking — deterministic, so oracle-exact too.
    QueryDef("q70a_semantic_dedup_lsh", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val kept = Similarity.semanticDedupLsh(e, SemDedupThreshold,
          nPlanes = SemLshPlanes)
        .groupBy("label").agg(count(lit(1)).as("n_kept"))
      e.groupBy("label").agg(count(lit(1)).as("n_vecs"))
        .join(kept, Seq("label"), "left")
        .na.fill(0L, Seq("n_kept"))
        .orderBy("label")
    }, {
      // q37's bucket CTEs as the blocking key + the q70 closure.
      val planeRows = for (p <- 0 until SemLshPlanes; j <- 0 until 64)
        yield s"($p, ${j + 1}, ${Similarity.planeWeight(p, j)}.0)"
      val planes = s"(VALUES ${planeRows.mkString(", ")}) AS planes(p, j, w)"
      s"""WITH RECURSIVE e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
         |  FROM embeddings),
         |d AS (SELECT vec_id, p, sum(v[j] * w) AS dot
         |  FROM e, $planes GROUP BY vec_id, p),
         |bk AS (SELECT vec_id, CAST(sum(CASE WHEN dot >= 0
         |    THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM d GROUP BY vec_id),
         |eb AS (SELECT e.vec_id, e.v, bk.bucket
         |  FROM e JOIN bk ON e.vec_id = bk.vec_id),
         |pr AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= $SemDedupThreshold),
         |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pr
         |  UNION SELECT vec_b, vec_a FROM pr),
         |r AS (SELECT DISTINCT src AS id, src AS lab FROM edges
         |  UNION SELECT e2.src, r.lab FROM edges e2 JOIN r ON e2.dst = r.id),
         |cc AS (SELECT id, min(lab) AS cluster FROM r GROUP BY id),
         |k AS (SELECT e.label,
         |    (cc.cluster IS NULL OR cc.cluster = e.vec_id) AS keep
         |  FROM e LEFT JOIN cc ON e.vec_id = cc.id)
         |SELECT label, count(*) AS n_vecs,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM k GROUP BY label ORDER BY label""".stripMargin
    }),

    // Cross-corpus near-dup ingest: the doc_id % BenchMod == 0 slice
    // plays the already-ingested corpus (as in q67); incoming docs that
    // MinHash-LSH-collide with it and verify at Jaccard ≥ 0.5 are
    // near-known. Only band relations cross corpora — never text.
    QueryDef("q74_incremental_neardup", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val existing = d.filter(col("doc_id") % TextQueries.BenchMod === 0)
      val incoming = d.filter(col("doc_id") % TextQueries.BenchMod =!= 0)
      val nearIds = Dedup.incrementalNearDups(incoming, existing)
        .select("doc_id").distinct().withColumn("__near", lit(1L))
      incoming.join(nearIds, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_incoming"),
          sum(coalesce(col("__near"), lit(0L))).as("n_near_known"))
        .withColumn("n_novel", col("n_incoming") - col("n_near_known"))
        .orderBy("source")
    }, {
      // The full-corpus pair CTEs (q34's chain) restricted to pairs that
      // straddle the corpus/delivery membership split — identical to the
      // operator's cross-only band join because signatures and bands are
      // per-document.
      val mod = TextQueries.BenchMod
      s"""WITH ${minhashPairsCtes},
         |cr AS (SELECT CASE WHEN doc_a % $mod = 0 THEN doc_b ELSE doc_a END AS id
         |  FROM j WHERE jaccard >= 0.5
         |    AND ((doc_a % $mod = 0) <> (doc_b % $mod = 0))),
         |nd AS (SELECT DISTINCT id FROM cr),
         |inc AS (SELECT d.source,
         |    CASE WHEN nd.id IS NOT NULL THEN 1 ELSE 0 END AS near
         |  FROM documents d LEFT JOIN nd ON d.doc_id = nd.id
         |  WHERE d.doc_id % $mod <> 0)
         |SELECT source, count(*) AS n_incoming,
         |  CAST(sum(near) AS BIGINT) AS n_near_known,
         |  CAST(count(*) - sum(near) AS BIGINT) AS n_novel
         |FROM inc GROUP BY source ORDER BY source""".stripMargin
    }),

    // Perceptual-hash near-dup over multimodal payloads: 60-bit aHash
    // per payload (byte-stream path on the text-byte fixture), banded
    // Hamming pairing, pair counts by distance. The fixture's closest
    // payloads sit at Hamming 4-5, so maxHamming=5 BINDS (6 pairs) and
    // the 6-band pigeonhole guarantee (5 < 6) makes the pair set exact.
    QueryDef("q77_phash_neardup", (s, dir) =>
      Multimodal.imageNearDups(
        Multimodal.synthesizePayloads(Tables.load(s, dir, "documents")), PhashMaxHamming)
        .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
        .orderBy("hamming"),
      // byteAHash mirrored over ascii codes (the payload is the UTF-8 text
      // bytes and the fixture text is pure ASCII — same caveat as q39's
      // oracle); banding identical to Dedup.hammingPairs' chunk arithmetic.
      s"""WITH f AS (SELECT doc_id, list_transform(regexp_extract_all(text, '.'),
         |    c -> CAST(ascii(c) AS BIGINT)) AS codes FROM documents),
         |m AS (SELECT doc_id, codes, len(codes) AS n,
         |  CASE WHEN len(codes) = 0 THEN 0.0
         |       ELSE list_sum(codes)::DOUBLE / len(codes) END AS mu FROM f),
         |h AS (SELECT doc_id, CASE WHEN n = 0 THEN 0 ELSE
         |    list_sum(list_transform(range(0, 60), i ->
         |      CASE WHEN codes[(n * i) // 60 + 1] >= mu
         |           THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER)) ELSE 0 END))
         |  END AS ph FROM m),
         |b AS (SELECT doc_id, ph, unnest(range(0, 6)) AS bi FROM h),
         |bb AS (SELECT doc_id, ph, bi,
         |  (ph >> CAST(10 * bi AS INTEGER)) & 1023 AS bv FROM b),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b2.doc_id AS db,
         |    a.ph AS pa, b2.ph AS pb
         |  FROM bb a JOIN bb b2 ON a.bi = b2.bi AND a.bv = b2.bv
         |    AND a.doc_id < b2.doc_id),
         |p AS (SELECT bit_count(xor(pa, pb)) AS hamming FROM cand
         |  WHERE bit_count(xor(pa, pb)) <= $PhashMaxHamming)
         |SELECT hamming, count(*) AS n_pairs FROM p
         |GROUP BY hamming ORDER BY hamming""".stripMargin),

    // Split-leakage audit: near-dup pairs straddling splits under the
    // PLAIN per-doc hash split (q64). Splits are recomputed per pair
    // endpoint by the scan-stage hash CASE — no join against the corpus.
    QueryDef("q81_split_leakage", (s, dir) =>
      Split.leakageReport(Dedup.minhashNearDups(Tables.load(s, dir, "documents")),
        SplitWeights)
        .orderBy("split_a", "split_b"),
      s"""WITH ${minhashPairsCtes},
         |p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |sp AS (SELECT ${splitCaseSql("doc_a")} AS split_a,
         |    ${splitCaseSql("doc_b")} AS split_b FROM p)
         |SELECT split_a, split_b, count(*) AS n_pairs,
         |  split_a <> split_b AS leaked
         |FROM sp GROUP BY split_a, split_b ORDER BY split_a, split_b""".stripMargin),

    // BM25 top-10 per query: two corpus-sized stat aggregates + broadcast
    // query join + TopKBy — no corpus-sized window, no text shuffle.
    QueryDef("q83_bm25", (s, dir) =>
      Retrieval.bm25TopK(Tables.load(s, dir, "documents"), Bm25Queries, Bm25K)
        .orderBy("query_id", "rank"),
      s"""WITH $bm25Ctes
         |SELECT query_id, rank, doc_id, score_micro FROM br
         |WHERE rank <= $Bm25K ORDER BY query_id, rank""".stripMargin),

    // Hybrid retrieval: BM25 ∪ cosine top-20 pools fused by
    // rrf = Σ 1/(60+rank); the ranking window's input is ≤40 rows/query.
    QueryDef("q85_hybrid_rrf", (s, dir) =>
      Retrieval.hybridTopK(Tables.load(s, dir, "documents"), Tables.load(s, dir, "embeddings"), HybridSpecs,
        Bm25K, RrfPool)
        .orderBy("query_id", "rank"),
      s"""WITH $bm25Ctes,
         |l AS (SELECT query_id, doc_id, rank AS lex_rank FROM br
         |  WHERE rank <= $RrfPool),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |pq(query_id, probe_id) AS (VALUES $pqValuesSql),
         |qe AS (SELECT pq.query_id, pq.probe_id, e.v AS qv
         |  FROM pq JOIN e ON e.vec_id = pq.probe_id),
         |vs AS (SELECT qe.query_id, e.vec_id AS doc_id,
         |    round(list_cosine_similarity(qv, v), 4) AS cs
         |  FROM qe JOIN e ON e.vec_id <> qe.probe_id),
         |vr AS (SELECT query_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cs DESC, doc_id) AS INTEGER) AS vec_rank FROM vs),
         |v2 AS (SELECT * FROM vr WHERE vec_rank <= $RrfPool),
         |f AS (SELECT coalesce(l.query_id, v2.query_id) AS query_id,
         |    coalesce(l.doc_id, v2.doc_id) AS doc_id, lex_rank, vec_rank
         |  FROM l FULL OUTER JOIN v2
         |    ON l.query_id = v2.query_id AND l.doc_id = v2.doc_id),
         |g AS (SELECT query_id, doc_id, lex_rank, vec_rank,
         |    coalesce(1.0 / (60 + lex_rank), 0.0)
         |      + coalesce(1.0 / (60 + vec_rank), 0.0) AS rrf FROM f),
         |r2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, doc_id) AS INTEGER) AS rank FROM g)
         |SELECT query_id, rank, doc_id, round(rrf, 6) AS rrf,
         |  lex_rank, vec_rank
         |FROM r2 WHERE rank <= $Bm25K ORDER BY query_id, rank""".stripMargin),

    // Semantic decontamination per label: corpus scans once against the
    // broadcast eval set; vectors never shuffle.
    QueryDef("q86_semantic_decon", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Decontaminate.semanticReport(
        e.filter(col("vec_id") % EvalMod =!= 0),
        e.filter(col("vec_id") % EvalMod === 0),
        SemanticTau)
    },
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
         |  FROM embeddings),
         |ev AS (SELECT v AS evv FROM e WHERE vec_id % $EvalMod = 0),
         |c AS (SELECT vec_id, label, v FROM e WHERE vec_id % $EvalMod <> 0),
         |f AS (SELECT c.vec_id, c.label,
         |    max(CASE WHEN ev.evv IS NOT NULL THEN 1 ELSE 0 END) AS contam
         |  FROM c LEFT JOIN ev
         |    ON round(list_cosine_similarity(c.v, ev.evv), 4) >= $SemanticTau
         |  GROUP BY c.vec_id, c.label)
         |SELECT label, count(*) AS n_total,
         |  CAST(sum(contam) AS BIGINT) AS n_contaminated,
         |  CAST(count(*) - sum(contam) AS BIGINT) AS n_kept
         |FROM f GROUP BY label ORDER BY label""".stripMargin),

    // Containment near-dup pairs, blocked by lang: directed overlap
    // fractions from the same one-explode shingle equi-join as q33.
    QueryDef("q97_containment", (s, dir) =>
      Dedup.containmentPairs(Tables.load(s, dir, "documents"), "lang", ContainmentTau)
        .orderBy("doc_a", "doc_b"), {
      val roll = rollSql("s")
      s"""WITH t AS (SELECT doc_id, lang, $tokSql AS ws FROM documents),
         |bg0 AS (SELECT doc_id, lang, ${bigramsSql} AS sg FROM t),
         |bg AS (SELECT doc_id, lang,
         |  list_distinct(list_transform(sg, s -> $roll)) AS sh FROM bg0),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_intersect(a.sh, b.sh)) AS inter,
         |    len(a.sh) AS sza, len(b.sh) AS szb
         |  FROM bg a JOIN bg b ON a.lang = b.lang AND a.doc_id < b.doc_id),
         |c AS (SELECT doc_a, doc_b, inter,
         |    round(inter::DOUBLE / sza, 4) AS cont_a,
         |    round(inter::DOUBLE / szb, 4) AS cont_b
         |  FROM p WHERE inter > 0)
         |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter, cont_a, cont_b
         |FROM c WHERE greatest(cont_a, cont_b) >= $ContainmentTau
         |ORDER BY doc_a, doc_b""".stripMargin
    }),

    // Capped containment pairs: same one-explode shingle equi-join as
    // q97, minus shingles in > cap docs of the block. The hot-set
    // relation is tiny and broadcasts; per-key join fan-out is bounded
    // by cap²/2.
    QueryDef("q97a_containment_capped", (s, dir) =>
      Dedup.containmentPairs(Tables.load(s, dir, "documents"), "lang", ContainmentTau,
        maxShingleDocs = Some(ContainmentShingleCap))
        .orderBy("doc_a", "doc_b"), {
      val tok = tokSql
      val roll = rollSql("s")
      s"""WITH t AS (SELECT doc_id, lang, $tok AS ws FROM documents),
         |bg0 AS (SELECT doc_id, lang, ${bigramsSql} AS sg FROM t),
         |bg AS (SELECT doc_id, lang,
         |  list_distinct(list_transform(sg, s -> $roll)) AS sh FROM bg0),
         |ex AS (SELECT doc_id, lang, unnest(sh) AS h FROM bg),
         |hot AS (SELECT lang, h FROM ex GROUP BY lang, h
         |  HAVING count(*) > $ContainmentShingleCap),
         |exc AS (SELECT e.doc_id, e.lang, e.h FROM ex e
         |  WHERE NOT EXISTS (SELECT 1 FROM hot x
         |    WHERE x.lang = e.lang AND x.h = e.h)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS inter
         |  FROM exc a JOIN exc b ON a.lang = b.lang AND a.h = b.h
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |c AS (SELECT doc_a, doc_b, inter,
         |    round(inter::DOUBLE / x.sz, 4) AS cont_a,
         |    round(inter::DOUBLE / y.sz, 4) AS cont_b
         |  FROM p JOIN sz x ON p.doc_a = x.doc_id
         |    JOIN sz y ON p.doc_b = y.doc_id)
         |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter, cont_a, cont_b
         |FROM c WHERE greatest(cont_a, cont_b) >= ${ContainmentTau}
         |ORDER BY doc_a, doc_b""".stripMargin
    }),

    // IVF coarse cells + PQ residual codes, single-probe ADC top-k.
    QueryDef("q102_ann_ivfpq", (s, dir) =>
      ProductQuantization.ivfAdcTopK(Tables.load(s, dir, "embeddings"),
        AnnQueryIds, AnnK, IvfCentroidIds,
        PqCodebookIds)
        .orderBy("query_id", "rank"),
      ivfpqOracle),

    QueryDef("q114_typo_variants", (s, dir) =>
      FuzzyMatch.variantPairs(Tables.load(s, dir, "customer"),
        VariantVocabV, VariantMinLen, textCol = "c_name"),
      s"""WITH tk AS (SELECT
         |    unnest(regexp_extract_all(lower(c_name), '[a-z0-9]+')) AS w
         |  FROM customer),
         |v AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM tk
         |  WHERE length(w) >= $VariantMinLen
         |  GROUP BY w ORDER BY n DESC, w ASC LIMIT $VariantVocabV)
         |SELECT a.w AS term_a, b.w AS term_b, a.n AS n_a, b.n AS n_b
         |FROM v a JOIN v b
         |  ON a.w < b.w AND levenshtein(a.w, b.w) = 1
         |ORDER BY term_a, term_b""".stripMargin),

    // q115: two-relation fuzzy entity match — link the even-custkey
    // half of the customer file against the odd half by name at
    // Levenshtein distance <= 1 (the dirty-file-vs-master-file shape;
    // the parity split makes every match non-exact: 3,750 digit-
    // substitution pairs bind at sf0.01)
    QueryDef("q115_fuzzy_join", (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      FuzzyMatch.fuzzyJoinNames(
        c.where(col("c_custkey") % 2 === 0), "c_name",
        c.where(col("c_custkey") % 2 === 1), "c_name")
    },
      """WITH a AS (SELECT c_name AS w, CAST(count(*) AS BIGINT) AS n
         |  FROM customer WHERE c_custkey % 2 = 0 AND c_name IS NOT NULL
         |    AND length(c_name) >= 2 GROUP BY 1),
         |b AS (SELECT c_name AS w, CAST(count(*) AS BIGINT) AS n
         |  FROM customer WHERE c_custkey % 2 = 1 AND c_name IS NOT NULL
         |    AND length(c_name) >= 2 GROUP BY 1)
         |SELECT a.w AS left_name, b.w AS right_name,
         |  a.n AS n_left, b.n AS n_right,
         |  CAST(levenshtein(a.w, b.w) AS INTEGER) AS dist
         |FROM a, b WHERE levenshtein(a.w, b.w) <= 1
         |ORDER BY left_name, right_name""".stripMargin),

    // Quality-based dedup cluster representatives: keep the LONGEST doc
    // per MinHash near-dup cluster (most-complete-version selection)
    // instead of min-id. CC relation is pair-participant-sized; one
    // cluster-keyed window picks rep + size together.
    QueryDef("q120_cluster_reps", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      Dedup.keepRepresentative(d, Dedup.minhashNearDups(d), "n_chars")
        .orderBy("cluster")
    },
      // q64a's recursive CC over the verified MinHash pairs, then the rep
      // pick: (n_chars DESC, doc_id) window inside each cluster.
      s"""WITH RECURSIVE ${minhashPairsCtes},
         |pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |r AS (SELECT DISTINCT src AS id, src AS lab FROM edges
         |  UNION SELECT e.src, r.lab FROM edges e JOIN r ON e.dst = r.id),
         |cc AS (SELECT id, min(lab) AS cluster FROM r GROUP BY id),
         |m AS (SELECT cc.cluster, cc.id AS doc_id, d.n_chars
         |  FROM cc JOIN documents d ON d.doc_id = cc.id),
         |s AS (SELECT cluster, count(*) AS n_docs FROM m GROUP BY cluster),
         |rep AS (SELECT cluster, doc_id, n_chars FROM (SELECT *,
         |    row_number() OVER (PARTITION BY cluster
         |      ORDER BY n_chars DESC, doc_id) AS rn FROM m) WHERE rn = 1)
         |SELECT rep.cluster, rep.doc_id AS rep_doc, s.n_docs,
         |  rep.n_chars AS rep_score
         |FROM rep JOIN s USING (cluster) ORDER BY cluster""".stripMargin),

    // Oracle-exact k-means census: 2 Lloyd rounds from fixed init ids,
    // micro-integer distances and centroid means (combine-order-free),
    // final (cell, n_vecs, inertia_micro) — the convergence diagnostic.
    QueryDef("q123_kmeans", (s, dir) =>
      Similarity.kmeansReport(Tables.load(s, dir, "embeddings"),
        KmInitIds, KmRounds), {
      // Unrolled 2-round Lloyd: micro-integer distances (sequential L2
      // fold, same order as Spark's aggregate), micro-integer centroid
      // means, argmin ties to the smallest cid.
      val ids = KmInitIds.mkString("(", ", ", ")")
      def d2m(c: String) =
        s"""CAST(round(list_reduce(list_prepend(0.0,
           |      list_transform(range(len(e.v)), j ->
           |        (e.v[j+1] - $c.cv[j+1]) * (e.v[j+1] - $c.cv[j+1]))),
           |      (a, b) -> a + b) * 1000000.0) AS BIGINT)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id IN $ids),
         |s1 AS (SELECT e.vec_id, e.v, c0.cid, ${d2m("c0")} AS d2m
         |  FROM e, c0),
         |a1 AS (SELECT vec_id, v, cid AS cell FROM (SELECT *,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2m, cid)
         |      AS rn FROM s1) WHERE rn = 1),
         |px AS (SELECT cell, r.pos AS pos, r.x AS x FROM (SELECT cell,
         |    unnest(list_transform(range(len(v)), j ->
         |      struct_pack(pos := j, x := v[j+1]))) AS r FROM a1)),
         |cm AS (SELECT cell, pos,
         |    sum(CAST(round(x * 1000000.0) AS BIGINT))::DOUBLE
         |      / count(*) / 1000000.0 AS m
         |  FROM px GROUP BY cell, pos),
         |c1 AS (SELECT cell AS cid, list(m ORDER BY pos) AS cv
         |  FROM cm GROUP BY cell),
         |s2 AS (SELECT e.vec_id, c1.cid, ${d2m("c1")} AS d2m
         |  FROM e, c1),
         |a2 AS (SELECT vec_id, cid AS cell, d2m FROM (SELECT *,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2m, cid)
         |      AS rn FROM s2) WHERE rn = 1)
         |SELECT cell, count(*) AS n_vecs,
         |  CAST(sum(d2m) AS BIGINT) AS inertia_micro
         |FROM a2 GROUP BY cell ORDER BY cell""".stripMargin
    }),

    // d×d covariance from ONE Gram-aggregate pass over the embeddings:
    // the buffer carries all d(d+3)/2+1 sums; cells unfold from the
    // single stat row. cov_num is the integer hash core.
    QueryDef("q140_embedding_cov", (s, dir) =>
      Similarity.covarianceMatrix(Tables.load(s, dir, "embeddings")),
      // Same micro quantization (HALF_UP round on the float→double value),
      // exact integer sums; the oracle affords the d² lateral blow-up the
      // Gram aggregate exists to avoid.
      """WITH v AS (SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |    CAST(round(embedding[t.i] * 1e6) AS BIGINT) AS x
        |  FROM embeddings, range(1, 65) t(i)),
        |p AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT)
        |    AS s_xy
        |  FROM v a JOIN v b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY 1, 2),
        |c AS (SELECT i, CAST(sum(x) AS BIGINT) AS s FROM v GROUP BY i),
        |n AS (SELECT count(*) AS n FROM embeddings)
        |SELECT p.i, p.j, CAST(n.n AS BIGINT) AS n, ca.s AS s_x,
        |  cb.s AS s_y, p.s_xy,
        |  CAST(n.n * p.s_xy - ca.s * cb.s AS BIGINT) AS cov_num,
        |  CASE WHEN n.n > 1 THEN
        |    round(CAST(n.n * p.s_xy - ca.s * cb.s AS DOUBLE) /
        |      (n.n::DOUBLE * (n.n - 1)) / 1e12, 9) END AS cov
        |FROM p, n
        |JOIN c ca ON ca.i = p.i JOIN c cb ON cb.i = p.j
        |ORDER BY p.i, p.j""".stripMargin),

    // 64→8 JL sketch with a frozen hash-sign matrix; exact integer
    // micro components, pure scan-stage folds.
    QueryDef("q150_random_projection", (s, dir) =>
      Similarity.randomProjection(Tables.load(s, dir, "embeddings"),
        RpK, RpDim),
      // 0-based (i,j) into the Knuth hash; +1 below threshold, −1 above —
      // identical to the Scala literal matrix.
      s"""WITH v AS (SELECT vec_id, CAST(t.i AS INTEGER) AS i,
         |    CAST(round(embedding[t.i] * 1e6) AS BIGINT) AS x
         |  FROM embeddings, range(1, ${RpDim + 1}) t(i)),
         |s AS (SELECT v.vec_id, u.j AS j, v.x,
         |    CASE WHEN (((CAST(v.i - 1 AS BIGINT) * $RpK + (u.j - 1))
         |        % 1000000007) * 2654435761) % 1000000007
         |        < ${Similarity.RpSignThreshold} THEN 1 ELSE -1 END AS sgn
         |  FROM v, range(1, ${RpK + 1}) u(j))
         |SELECT vec_id, CAST(j AS INTEGER) AS j,
         |  CAST(sum(x * sgn) AS BIGINT) AS comp_micro
         |FROM s GROUP BY 1, 2 ORDER BY vec_id, j""".stripMargin),

    // Per-doc verbatim-passage sharing: scan-stage slicing, one
    // passage-keyed census, co-keyed join back.
    QueryDef("q155_passage_dedup", (s, dir) =>
      Dedup.passageDupStats(Tables.load(s, dir, "documents"), PassageWords),
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents),
         |ch AS (SELECT doc_id, CAST((i - 1) // $PassageWords AS INT)
         |      AS cidx,
         |    string_agg(w, ' ' ORDER BY i) AS passage
         |  FROM (SELECT doc_id, unnest(ws) AS w,
         |      generate_subscripts(ws, 1) AS i FROM tk)
         |  GROUP BY 1, 2),
         |cs AS (SELECT passage, count(DISTINCT doc_id) AS nd
         |  FROM ch GROUP BY passage)
         |SELECT ch.doc_id, CAST(count(*) AS BIGINT) AS n_passages,
         |  CAST(sum(CASE WHEN cs.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_shared_passages,
         |  CAST((sum(CASE WHEN cs.nd >= 2 THEN 1 ELSE 0 END) * 10000)
         |    // count(*) AS BIGINT) AS shared_bp
         |FROM ch JOIN cs USING (passage)
         |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin),

    // The 100 TB passage-census tier: passages swap for xxhash64
    // fingerprints before the census + join-back (8-byte shuffle keys
    // instead of ~10-word strings). The oracle is the COLLISION-FREE
    // reference (raw-string census): hash-green here proves the
    // fingerprint path emits identical counts at fixture scale, i.e.
    // no collision and no keying bug.
    QueryDef("q155a_passage_fingerprint", (s, dir) =>
      Dedup.passageDupStats(Tables.load(s, dir, "documents"),
        PassageWords, fingerprint = true),
      // Collision-free reference census (identical to q155's oracle):
      // the fingerprint path must reproduce it exactly at this scale.
      oracleOf("q155_passage_dedup")),

    // For each anchor vector: top-k most-similar DIFFERENT-label
    // vectors — the InfoNCE denominator miner.
    QueryDef("q169_hard_negatives", (s, dir) =>
      Similarity.hardNegatives(Tables.load(s, dir, "embeddings"),
        HardNegQueryIds, HardNegK), {
      val ids = HardNegQueryIds.mkString("(", ", ", ")")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv, label AS ql FROM e
         |  WHERE vec_id IN $ids),
         |s AS (SELECT query_id, ql AS q_label, vec_id, label AS neg_label,
         |    round(list_cosine_similarity(qv, v), 4) AS cos_sim
         |  FROM q, e WHERE label <> ql),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank FROM s)
         |SELECT query_id, q_label, vec_id, neg_label, cos_sim, rank
         |FROM r WHERE rank <= $HardNegK ORDER BY query_id, rank""".stripMargin
    }),

    // Hard-negative mining restricted to the anchors' multi-probe LSH
    // buckets — the oracle rebuilds the same 6-plane bucket predicate
    // (q37's CTE chain) plus the different-label clause, so the
    // restriction BINDS: any divergence from the bucket membership the
    // Scala side computes flips the hash.
    QueryDef("q169a_hard_negatives_lsh", (s, dir) =>
      Similarity.hardNegativesLsh(Tables.load(s, dir, "embeddings"),
        HardNegQueryIds, HardNegK), {
      val ids = HardNegQueryIds.mkString("(", ", ", ")")
      s"""${lshCtes(ids)},
         |s AS (SELECT query_id, ql AS q_label, eb.vec_id,
         |    label AS neg_label,
         |    round(list_cosine_similarity(qv, v), 4) AS cos_sim
         |  FROM q JOIN eb ON q.bucket = eb.bucket AND eb.label <> q.ql),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank FROM s)
         |SELECT query_id, q_label, vec_id, neg_label, cos_sim, rank
         |FROM r WHERE rank <= ${HardNegK}
         |ORDER BY query_id, rank""".stripMargin
    }),

    QueryDef("q179_label_noise", (s, dir) =>
      Similarity.labelAgreement(Tables.load(s, dir, "embeddings"),
        NoiseAnchorIds, NoiseK), {
      val ids = NoiseAnchorIds.mkString("(", ", ", ")")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv, label AS ql FROM e
         |  WHERE vec_id IN $ids),
         |s AS (SELECT query_id, ql, e.vec_id, label AS nb,
         |    round(list_cosine_similarity(qv, v), 4) AS cs
         |  FROM q, e WHERE e.vec_id <> query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cs DESC, vec_id) AS rk FROM s),
         |a AS (SELECT query_id, ql AS q_label,
         |    CAST(count(*) AS BIGINT) AS k_used,
         |    CAST(sum(CASE WHEN nb = ql THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_agree
         |  FROM r WHERE rk <= $NoiseK GROUP BY 1, 2)
         |SELECT query_id, q_label, k_used, n_agree,
         |  CAST((n_agree * 1000000) // k_used AS BIGINT) AS agree_ppm,
         |  (n_agree * 2 < k_used) AS suspect
         |FROM a ORDER BY query_id""".stripMargin
    }),

    // The label-noise kNN vote over the same LSH candidate restriction.
    QueryDef("q179a_label_noise_lsh", (s, dir) =>
      Similarity.labelAgreementLsh(Tables.load(s, dir, "embeddings"),
        NoiseAnchorIds, NoiseK), {
      val ids = NoiseAnchorIds.mkString("(", ", ", ")")
      s"""${lshCtes(ids)},
         |s AS (SELECT query_id, ql, eb.vec_id, label AS nb,
         |    round(list_cosine_similarity(qv, v), 4) AS cs
         |  FROM q JOIN eb ON q.bucket = eb.bucket
         |    AND eb.vec_id <> q.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cs DESC, vec_id) AS rk FROM s)
         |SELECT query_id, ql AS q_label,
         |  CAST(count(*) AS BIGINT) AS k_used,
         |  CAST(sum(CASE WHEN nb = ql THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_agree,
         |  CAST((sum(CASE WHEN nb = ql THEN 1 ELSE 0 END) * 1000000)
         |    // count(*) AS BIGINT) AS agree_ppm,
         |  (2 * sum(CASE WHEN nb = ql THEN 1 ELSE 0 END) < count(*))
         |    AS suspect
         |FROM r WHERE rk <= ${NoiseK}
         |GROUP BY query_id, ql ORDER BY query_id""".stripMargin
    }),

    QueryDef("q190_random_negatives", (s, dir) =>
      Similarity.randomNegatives(Tables.load(s, dir, "embeddings"),
        HardNegQueryIds, HardNegK), {
      val ids = HardNegQueryIds.mkString("(", ", ", ")")
      s"""WITH e AS (SELECT vec_id, label FROM embeddings),
         |q AS (SELECT vec_id AS query_id, label AS ql FROM e
         |  WHERE vec_id IN $ids),
         |s AS (SELECT query_id, ql AS q_label, vec_id, label AS neg_label,
         |    md5(query_id::VARCHAR || ':' || vec_id::VARCHAR) AS h
         |  FROM q, e WHERE label <> ql),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY h DESC, vec_id) AS INTEGER) AS rank FROM s)
         |SELECT query_id, q_label, vec_id, neg_label, rank
         |FROM r WHERE rank <= ${HardNegK}
         |ORDER BY query_id, rank""".stripMargin
    }),

    QueryDef("q191_dedup_survivorship", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      Dedup.survivorshipMatrix(d, Dedup.minhashNearDups(d))
    },
      s"""WITH RECURSIVE ${minhashPairsCtes},
         |pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |r AS (SELECT DISTINCT src AS id, src AS lab FROM edges
         |  UNION SELECT e.src, r.lab FROM edges e JOIN r ON e.dst = r.id),
         |cc AS (SELECT id, min(lab) AS cluster FROM r GROUP BY id),
         |dd AS (SELECT cc.id, cc.cluster, doc.source FROM cc
         |  JOIN documents doc ON doc.doc_id = cc.id),
         |w AS (SELECT cluster, min(id) AS winner FROM dd GROUP BY cluster),
         |ws AS (SELECT w.cluster, w.winner, dd.source AS kept_source
         |  FROM w JOIN dd ON dd.id = w.winner)
         |SELECT ws.kept_source, dd.source AS dropped_source,
         |  CAST(count(*) AS BIGINT) AS n_dropped
         |FROM dd JOIN ws ON ws.cluster = dd.cluster
         |WHERE dd.id <> ws.winner
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Nation-blocked candidate pairs; EM learns per-field m/u and the
    // match prior in the micro-integer domain (2 rounds, one DAG).
    // ORACLE TIER: exact within-block pairs are quadratic in block
    // size by contract (see Linkage.blockedPairs scaladoc) — q210a is
    // the production tier a corpus-scale run ships.
    QueryDef("q210_linkage_em", (s, dir) =>
      Linkage.emWeights(pairsAt(CorpusConfig.Exact)(s, dir), LinkFields),
      emSql(
      """SELECT
        |    a.c_mktsegment = b.c_mktsegment AS seg_eq,
        |    abs(a.c_acctbal - b.c_acctbal) < 500 AS bal_close,
        |    b.c_custkey - a.c_custkey < 10 AS key_close
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey
        |    AND a.c_custkey < b.c_custkey""".stripMargin)),

    // Production blocking tier: sorted-neighborhood on (nation ×
    // acctbal bucket) — within-block pair growth drops from n² to
    // linear; the blocking BINDS at sf0.01 (fewer pairs than q210, so
    // the learned parameters differ) and the oracle rebuilds the same
    // bucket predicate.
    QueryDef("q210a_linkage_em_sn", (s, dir) =>
      Linkage.emWeights(pairsAt(CorpusConfig.Production)(s, dir),
        LinkFields),
      // Sorted-neighborhood tier: same EM over pairs restricted to the
      // same-or-adjacent $500 acctbal bucket (DuckDB `//` truncates
      // toward zero exactly like Spark `div` — measured — so the bucket
      // keys agree verbatim, double-width zero bucket included).
      emSql(
      s"""WITH c AS (SELECT c_custkey AS k, c_nationkey AS nat,
         |      c_mktsegment AS seg, CAST(c_acctbal * 100 AS BIGINT)
         |        AS cents,
         |      CAST(c_acctbal * 100 AS BIGINT) // $LinkBucketCents AS bk
         |    FROM customer)
         |  SELECT a.seg = b.seg AS seg_eq,
         |    abs(a.cents - b.cents) < $LinkBucketCents AS bal_close,
         |    abs(b.k - a.k) < 10 AS key_close
         |  FROM c a JOIN c b ON a.nat = b.nat
         |    AND (b.bk = a.bk OR b.bk = a.bk + 1)
         |    AND (b.bk = a.bk + 1 OR a.k < b.k)""".stripMargin)),

    QueryDef("q215_top_eigen", (s, dir) =>
      Similarity.topEigenReport(Tables.load(s, dir, "embeddings"),
        EigenRounds), {
      val rounds = (1 to EigenRounds).map(powerRoundSql).mkString(",\n")
      s"""WITH v AS (SELECT vec_id, CAST(t.i AS INTEGER) AS i,
         |    CAST(round(embedding[t.i] * 1e6) AS BIGINT) AS x
         |  FROM embeddings, range(1, 65) t(i)),
         |p AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT)
         |    AS s_xy
         |  FROM v a JOIN v b ON a.vec_id = b.vec_id AND a.i <= b.i
         |  GROUP BY 1, 2),
         |c AS (SELECT i, CAST(sum(x) AS BIGINT) AS s FROM v GROUP BY i),
         |nn AS (SELECT count(*) AS n FROM embeddings),
         |cu AS (SELECT p.i, p.j,
         |    CAST(nn.n * p.s_xy - ca.s * cb.s AS BIGINT) AS cov_num
         |  FROM p, nn JOIN c ca ON ca.i = p.i JOIN c cb ON cb.i = p.j),
         |cf AS (SELECT i, j, cov_num FROM cu
         |  UNION ALL SELECT j, i, cov_num FROM cu WHERE i <> j),
         |v0 AS (SELECT DISTINCT i AS dim, CAST(1000000 AS BIGINT)
         |    AS v_micro FROM cf),
         |$rounds,
         |wf AS (SELECT cf.i AS dim,
         |    CAST(sum(CAST(cf.cov_num AS HUGEINT) *
         |      v$EigenRounds.v_micro) AS HUGEINT) AS w
         |  FROM cf JOIN v$EigenRounds ON v$EigenRounds.dim = cf.j
         |  GROUP BY 1),
         |rs AS (SELECT sum(CAST(v.v_micro AS HUGEINT) * wf.w) AS num,
         |    sum(CAST(v.v_micro AS HUGEINT) * v.v_micro) AS den
         |  FROM v$EigenRounds v JOIN wf ON wf.dim = v.dim),
         |ray AS (SELECT CASE WHEN den > 0 THEN
         |    CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
         |      (abs(num) // den) AS BIGINT) END AS lambda FROM rs)
         |SELECT v.dim, v.v_micro, ray.lambda
         |FROM v$EigenRounds v, ray ORDER BY v.dim""".stripMargin
    }),

    QueryDef("q219_capture_recapture", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.captureRecapture(
        Dedup.minhashNearDups(docs),
        Dedup.simhashPairs(docs, "source", 3))
    },
      // both detectors' pair CTEs are the q34/q35 oracles verbatim
      s"""WITH ${minhashPairsCtes}
         |, mp AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |t2 AS (SELECT doc_id, source, ${tokSql} AS ws
         |  FROM documents),
         |hh2 AS (SELECT doc_id, source,
         |  list_transform(ws, w -> ${rollSql("w")}) AS hs
         |  FROM t2),
         |sg2 AS (SELECT doc_id, source, ${simhashSql} AS sh
         |  FROM hh2),
         |sp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sg2 a JOIN sg2 b ON a.source = b.source
         |    AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
         |s AS (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM mp) AS n_a,
         |    (SELECT CAST(count(*) AS BIGINT) FROM sp) AS n_b,
         |    (SELECT CAST(count(*) AS BIGINT) FROM mp
         |      JOIN sp USING (doc_a, doc_b)) AS n_both)
         |SELECT n_a, n_b, n_both,
         |  CAST(((n_a + 1) * (n_b + 1)) // (n_both + 1) - 1 AS BIGINT)
         |    AS est_total,
         |  CASE WHEN ((n_a + 1) * (n_b + 1)) // (n_both + 1) - 1 > 0
         |    THEN CAST((n_a * 1000000) //
         |      (((n_a + 1) * (n_b + 1)) // (n_both + 1) - 1) AS BIGINT)
         |    END AS recall_a_ppm,
         |  CASE WHEN ((n_a + 1) * (n_b + 1)) // (n_both + 1) - 1 > 0
         |    THEN CAST((n_b * 1000000) //
         |      (((n_a + 1) * (n_b + 1)) // (n_both + 1) - 1) AS BIGINT)
         |    END AS recall_b_ppm
         |FROM s""".stripMargin),

    // Winnowing fingerprint census: guaranteed-coverage near-dup
    // fingerprints at ~2/(w+1) shingle density; shared_ppm is the
    // cross-doc contamination signal.
    QueryDef("q226_winnowing", (s, dir) =>
      Dedup.winnowingReport(Tables.load(s, dir, "documents"),
        WinnowK, WinnowWindow), {
      val k = WinnowK; val w = WinnowWindow
      s"""WITH tk AS (SELECT doc_id,
         |    regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         |g AS (SELECT doc_id, CAST(len(t) - ${k - 1} AS BIGINT)
         |      AS n_grams, CAST(i - 1 AS INTEGER) AS pos,
         |    array_to_string(t[i:i + ${k - 1}], ' ') AS g
         |  FROM (SELECT doc_id, t,
         |      unnest(range(1, len(t) - ${k - 2})) AS i
         |    FROM tk WHERE len(t) >= $k)),
         |ky AS (SELECT doc_id, n_grams, pos,
         |    g || chr(1) || lpad(CAST(100000000 - pos AS VARCHAR), 9,
         |      '0') AS skey
         |  FROM g),
         |sw AS (SELECT doc_id, n_grams, pos,
         |    min(skey) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS sel
         |  FROM ky),
         |sel AS (SELECT DISTINCT doc_id, n_grams,
         |    split_part(sel, chr(1), 1) AS fp
         |  FROM sw WHERE pos <= greatest(n_grams - $w, 0)),
         |cs AS (SELECT fp, count(DISTINCT doc_id) AS n_docs_with
         |  FROM sel GROUP BY 1)
         |SELECT sel.doc_id, sel.n_grams,
         |  CAST(count(*) AS BIGINT) AS n_fingerprints,
         |  CAST(sum(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_shared,
         |  CAST((sum(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END)
         |    * 1000000) // count(*) AS BIGINT) AS shared_ppm
         |FROM sel JOIN cs ON cs.fp = sel.fp
         |GROUP BY 1, 2 ORDER BY sel.doc_id""".stripMargin
    }),

    // Does the q37 bucketed search actually return the q36 truth —
    // per-query recall@5 of the scale path.
    QueryDef("q258_ann_recall", (s, dir) =>
      Similarity.annRecallReport(
        Tables.load(s, dir, "embeddings"),
        AnnQueryIds, AnnK), {
      val bf = oracleOf("q36_ann_bruteforce")
      val ls = oracleOf("q37_ann_lsh")
      s"""WITH bf AS (SELECT * FROM ($bf)),
         |ls AS (SELECT * FROM ($ls)),
         |j AS (SELECT bf.query_id,
         |    CAST(count(*) AS BIGINT) AS n_exact,
         |    CAST(sum(CASE WHEN ls.vec_id IS NOT NULL THEN 1 ELSE 0
         |      END) AS BIGINT) AS n_hits
         |  FROM bf LEFT JOIN ls ON bf.query_id = ls.query_id AND
         |    bf.vec_id = ls.vec_id
         |  GROUP BY 1),
         |lc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_lsh
         |  FROM ls GROUP BY 1)
         |SELECT j.query_id, n_exact,
         |  coalesce(lc.n_lsh, 0) AS n_lsh, n_hits,
         |  (n_hits * 1000000) // n_exact AS recall_ppm
         |FROM j LEFT JOIN lc ON j.query_id = lc.query_id
         |ORDER BY j.query_id""".stripMargin
    }),

    // Single-probe IVF (q42's ranking) vs exact top-k.
    QueryDef("q261_ann_recall_ivf", (s, dir) =>
      Similarity.recallVsExact(Tables.load(s, dir, "embeddings"),
        Similarity.ivfTopK(Tables.load(s, dir, "embeddings"), AnnQueryIds,
          AnnK, IvfCentroidIds),
        AnnQueryIds, AnnK),
      recallOracle(oracleOf("q42_ann_ivf"))),

    // PQ asymmetric-distance top-k (q60's ranking) vs exact top-k.
    QueryDef("q262_ann_recall_pq", (s, dir) =>
      Similarity.recallVsExact(Tables.load(s, dir, "embeddings"),
        ProductQuantization.adcTopK(Tables.load(s, dir, "embeddings"),
          AnnQueryIds, AnnK,
          PqCodebookIds),
        AnnQueryIds, AnnK),
      recallOracle(oracleOf("q60_ann_pq"))),

    // IVF coarse cells + PQ residual codes (q102's ranking) vs exact.
    QueryDef("q263_ann_recall_ivfpq", (s, dir) =>
      Similarity.recallVsExact(Tables.load(s, dir, "embeddings"),
        ProductQuantization.ivfAdcTopK(Tables.load(s, dir, "embeddings"),
          AnnQueryIds, AnnK,
          IvfCentroidIds, PqCodebookIds),
        AnnQueryIds, AnnK),
      recallOracle(oracleOf("q102_ann_ivfpq"))),

    // Which docs carry duplicated runs, and how much of each doc is a
    // copy: per-doc maximal-span report.
    QueryDef("q264_dup_spans", (s, dir) =>
      SpanDedup.docReport(Tables.load(s, dir, "documents"), SpanL),
      s"""WITH $spanCtes,
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |    CAST(sum(n_windows) AS BIGINT) AS dup_windows,
         |    CAST(sum(span_end - span_start) AS BIGINT) AS dup_tokens
         |  FROM sp GROUP BY 1)
         |SELECT pd.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
         |  pd.n_spans, pd.dup_windows, pd.dup_tokens,
         |  (pd.dup_tokens * 1000000) // len(t.ws) AS dup_ppm
         |FROM pd JOIN t ON t.doc_id = pd.doc_id
         |ORDER BY pd.doc_id""".stripMargin),

    // The corpus-health rollup per source.
    QueryDef("q265_span_dedup_report", (s, dir) =>
      SpanDedup.report(Tables.load(s, dir, "documents"), "source", SpanL),
      s"""WITH $spanCtes,
         |pd AS (SELECT doc_id,
         |    CAST(sum(span_end - span_start) AS BIGINT) AS dup_tokens
         |  FROM sp GROUP BY 1)
         |SELECT t.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN pd.dup_tokens IS NOT NULL THEN 1 ELSE 0
         |    END) AS BIGINT) AS docs_flagged,
         |  CAST(sum(len(t.ws)) AS BIGINT) AS total_tokens,
         |  CAST(sum(coalesce(pd.dup_tokens, 0)) AS BIGINT) AS dup_tokens,
         |  (CAST(sum(coalesce(pd.dup_tokens, 0)) AS BIGINT) * 1000000)
         |    // CAST(sum(len(t.ws)) AS BIGINT) AS dup_ppm
         |FROM t LEFT JOIN pd ON pd.doc_id = t.doc_id
         |GROUP BY t.source ORDER BY t.source""".stripMargin),

    // Span REMOVAL: every doc's kept-token count + the exact rolling
    // hash of the scrubbed token sequence (the re-ingest fingerprint).
    QueryDef("q266_span_scrub", (s, dir) =>
      SpanDedup.scrub(Tables.load(s, dir, "documents"), SpanL), {
      val keptHash = rollSql(
        "array_to_string(list(tok ORDER BY i), ' ')")
      s"""WITH $spanCtes,
         |ti AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS idx
         |  FROM t),
         |tw AS (SELECT doc_id, CAST(idx - 1 AS INTEGER) AS p,
         |    ws[idx] AS tok
         |  FROM ti),
         |kept AS (SELECT tw.doc_id, tw.p AS i, tw.tok FROM tw
         |  WHERE NOT EXISTS (SELECT 1 FROM sp
         |    WHERE sp.doc_id = tw.doc_id AND tw.p >= sp.span_start
         |      AND tw.p < sp.span_end)),
         |kh AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
         |    $keptHash AS kept_hash
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
         |  coalesce(kh.kept_tokens, 0) AS kept_tokens,
         |  coalesce(kh.kept_hash, 0) AS kept_hash
         |FROM t LEFT JOIN kh ON kh.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin
    }),

    // Diversity-aware top-5 from a 20-candidate pool, λ = 0.7.
    QueryDef("q268_mmr_rerank", (s, dir) =>
      Similarity.mmrRerank(Tables.load(s, dir, "embeddings"),
        AnnQueryIds, MmrK, MmrPool, MmrLambda),
      mmrOracle),

    // Span-level benchmark DECONTAMINATION: corpus spans that appear
    // verbatim in the held-out benchmark slice (q52's doc_id % 17
    // split) — the removal-grade complement of q52's doc-level overlap.
    QueryDef("q270_span_decontaminate", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      SpanDedup.decontReport(
        d.filter(col("doc_id") % TextQueries.BenchMod =!= 0),
        d.filter(col("doc_id") % TextQueries.BenchMod === 0),
        "source", SpanL)
    },
      decontOracle),

    // The SCAN-STAGE tier of q270: the benchmark's window hashes ride
    // the plan as one literal array and every doc folds once — no
    // explode, no join, no shuffle; streaming-safe. Same oracle as
    // q270 (differential pair by construction).
    QueryDef("q271_span_decon_scan", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      SpanDedup.decontReportScan(
        d.filter(col("doc_id") % TextQueries.BenchMod =!= 0),
        d.filter(col("doc_id") % TextQueries.BenchMod === 0),
        "source", SpanL)
    },
      // the scan-stage tier is value-identical by construction — the two
      // implementations (census join vs literal-array fold) share one
      // oracle, making the pair a standing differential test
      decontOracle))
}

package graft
package registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Batching, Bpe, Chat, Chunk, Collocations, CorpusStats,
  Deciles, Decontaminate, Diff, Export, Mixture, Multimodal, Pack, Pipeline,
  QualityModel, Relevance, Rendezvous, Repetition, Sampling, Scrub,
  SketchRollup, Split, TextOps}

/** Text and corpus preparation: tokenisation and quality statistics,
  * normalisation, scrubbing, decontamination, sampling and mixture
  * weighting, chunking and packing, language-model corpus statistics,
  * keyword extraction, multimodal payload metadata and sketch-based
  * token frequency.
  */
object TextQueries extends QueryModule {

  private val stopListSql =
    TextOps.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")

  private[graft] def langHitSql(markers: Seq[String]): String =
    s"len(list_filter($tokSql, w -> list_contains(${markers.map(m => s"'$m'").mkString("[", ",", "]")}, w)))"

  /** CMS geometry: d hash rows × w buckets. w far above the fixture
    * vocabulary keeps collisions rare while the band (8× the expected
    * per-row collision mass N/w) stays certain-green; the BINDING
    * regime (tiny w, colliding mass) is spec-pinned in Round10fSpec,
    * not oracled — the fidelity flags there would depend on layout.
    */
  val CmsDepth = 3

  val CmsWidth = 8192

  val CmsTopK = 20

  val CmsBandNum = 8L

  /** DuckDB twin of [[SketchRollup.cmsBucket]]: the house mod-every-
    * step rolling hash of 'seed:token', reduced mod the width.
    */
  private def bucketSql(seedExpr: String, tokExpr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(regexp_extract_all($seedExpr || ':' || $tokExpr, '.'), " +
      s"ch -> CAST(ascii(ch) AS BIGINT))), " +
      s"(a, b) -> (a * 31 + b) % ${TextOps.HashMod}) % $CmsWidth"

  /** doc_id % BenchMod == 0 plays the held-out benchmark set. */
  val BenchMod = 17L

  val ContaminationThreshold = 0.5

  val QuotaK = 5

  val MaxTopNgramFrac = 0.2

  /** Non-distinct bigram occurrences (repetition counting). */
  private val bigramsAllSql =
    "CASE WHEN len(ws) < 2 THEN []::VARCHAR[] ELSE " +
      "list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) END"

  // reduce-then-multiply, mirroring Sampling.idHash's overflow-safe form
  private val idHashSql =
    s"((doc_id % ${Sampling.HashMod}) * 2654435761) % ${Sampling.HashMod}"

  /** q65's per-shard token budget — small enough that every source splits
    * into multiple shards at the sf0.01 correctness gate, so the oracle
    * actually exercises shard boundaries (production would use a context
    * window size, e.g. 8192).
    */
  val ShardBudgetTokens = 512L

  /** q71's chunk-order packing key: doc_id · 2^20 + chunk_idx — a single
    * numeric layout order (chunk counts are far below 2^20; doc ids past
    * ~2^43 would need a wider encoding).
    */
  val ChunkOrdShift = 20

  /** q66's chunk geometry: window 32, stride 24 → 8-token overlap, and
    * the ~54-token fixture docs split into ≥2 chunks at every SF so the
    * oracle exercises both interior and short tail chunks.
    */
  val ChunkWindow = 32

  val ChunkStride = 24

  /** q68's stratum keep rates (sources beyond the map use the default). */
  val StratRates: Map[String, Double] = Map("src0" -> 0.5, "src1" -> 0.25)

  val StratDefault = 0.04

  /** q69's target mixture (fixture sources are uniform, so src0 binds —
    * rate 1.0 — and the rest downsample to 0.75 / 0.5 / 0.25).
    */
  val MixShares: Map[String, Double] =
    Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1)

  /** q72's document-frequency floor: 4% of the corpus (integer floor,
    * min 2), derived from the corpus size so the definition is
    * scale-free; at sf0.01 (500 docs) this is 20, where the fixture's
    * ratio spread is real (0.79–1.0).
    */
  def boilerMinDf(nDocs: Long): Long = math.max(nDocs * 4L / 100L, 2L)

  /** q72's flag threshold: docs whose shingles are ≥98% corpus-frequent
    * (183 of 500 at sf0.01 — binding, not all-or-nothing).
    */
  val BoilerThreshold = 0.98

  /** q73's surprisal threshold: fixture per-doc avg NLL spans 3.38–3.70
    * nats; 3.42 flags the rare-token tail (27 of 500 docs).
    */
  val NllThreshold = 3.42

  /** q75's export geometry: 8 shards, seed 7 (any seed re-shuffles). */
  val ExportShards = 8

  val ExportSeed = 7L

  /** q78's span length and heavy-doc threshold: 8-token spans flag the
    * near-dup copies (47 of 500 docs at sf0.01, all past 0.5 coverage)
    * without tripping on the fixture's shared small vocabulary the way
    * shorter spans would.
    */
  val SpanK = 8

  val SpanHeavyThreshold = 0.5

  /** q79's two synthetic corpus versions, derived from the one fixture
    * table by deterministic id predicates: the old version lacks the
    * docs the "refresh" added (id % 7 = 3), the new version dropped
    * id % 13 = 5 and re-extracted id % 11 = 0 with a trailing marker
    * (changed text). At sf0.01 all four statuses are populated.
    */
  def diffOld(d: DataFrame): DataFrame = d.filter(col("doc_id") % 7 =!= 3)

  def diffNew(d: DataFrame): DataFrame =
    d.filter(col("doc_id") % 13 =!= 5)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" rev")))
          .otherwise(col("text")))

  /** q80's keep threshold: mean pseudo-weight ≥ 0 (the model's scores
    * are roughly centered, so the cut separates ~half the fixture —
    * binding at every SF).
    */
  val QualityKeep = 0.0

  private val M = operators.TextOps.HashMod

  /** q93 induced-vocabulary size — below the fixture's full vocabulary
    * at every SF, so OOV binds.
    */
  val VocabV = 20

  /** q94 funnel: the standard curation cascade (length band → language
    * allowlist → token floor → lexical-diversity floor).
    */
  val FunnelLangs = Seq("en", "de", "fr")

  val FunnelMinUniq = 0.35

  /** q116 census cut (binds below the fixture's distinct pair count). */
  val BpePairsTopN = 40

  /** q117 merge budget. */
  val BpeMerges = 8

  /** q117 oracle: the merge loop UNROLLED into [[BpeMerges]] plain CTE
    * stages (no recursion — recursive CTEs cannot aggregate over the
    * recursive relation, but a FIXED merge budget needs no recursion).
    *
    * Representation: each word's symbol sequence is the string
    * `' s1  s2  ...  sk '` — every symbol owns a leading and trailing
    * space, so adjacent symbols are separated by exactly two spaces and
    * a substring match of `' l  r '` can only align with a
    * token-adjacent (l, r) pair (symbols never contain spaces). SQL
    * `replace()`'s left-to-right non-overlapping input scan is then
    * EXACTLY the leftmost-greedy merge fold the Scala side runs
    * ("a a a a" under (a,a) → [aa, aa], "a a a" → [aa, a]). Each stage:
    * pair census off the split strings → 1-row argmax under the same
    * (count DESC, left, right) total order → replace-rewrite.
    */
  private def bpeMergesOracle: String = {
    val stages = (1 to BpeMerges).map { k =>
      val prev = s"v${k - 1}"
      s"""p$k AS (SELECT t[i] AS l, t[i + 1] AS r,
         |    CAST(sum(n) AS BIGINT) AS c
         |  FROM (SELECT string_split(substr(s, 2, length(s) - 2), '  ')
         |      AS t, n FROM $prev),
         |    unnest(range(1, len(t))) AS u(i)
         |  GROUP BY 1, 2),
         |m$k AS (SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
         |v$k AS (SELECT replace(s, ' ' || l || '  ' || r || ' ',
         |    ' ' || l || r || ' ') AS s, n FROM $prev, m$k)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to BpeMerges).map { k =>
      if (k == 1)
        """SELECT CAST(1 AS INTEGER) AS "rank", l AS "left",
          |  r AS "right", c AS n_pair FROM m1""".stripMargin
      else s"UNION ALL SELECT $k, l, r, c FROM m$k"
    }.mkString("\n")
    s"""WITH wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(${tokSql}) AS w FROM documents)
       |  GROUP BY 1),
       |v0 AS (SELECT ' ' || array_to_string(list_append(
       |      cs[1:len(cs) - 1], cs[-1] || '</w>'), '  ') || ' ' AS s, n
       |  FROM (SELECT string_split(w, '') AS cs, n FROM wc)),
       |$stages
       |SELECT * FROM ($finals) ORDER BY "rank"""".stripMargin
  }

  /** q76a's stop-shingle source-frequency cap. The sf0.01 fixture has 20
    * sources and 35 of 916 distinct bigrams present in >18 of them —
    * exactly the ubiquitous-boilerplate band the cap exists to drop.
    */
  val OverlapSourceCap = 18L

  /** q122's Misra-Gries capacity: ≥ the fixture's 31-token vocabulary,
    * so no decrement ever fires and every count is EXACT (the oracle
    * condition); Round6Spec separately proves the error bound where the
    * capacity BINDS.
    */
  val HeavyCap = 64

  val HeavyTopK = 10

  /** q124 geometry (resize spec grows it by one). */
  val RendezvousShards = 8

  val ZipfVocab = 200

  val DistinctiveVocab = 500

  val DistinctiveAlpha0 = 1000L

  val DistinctiveTopK = 10

  /** q175 budgets — the fixture vocabulary is 31 tokens, so the curve
    * BINDS at every step and the 50 budget exercises the
    * above-vocabulary clamp.
    */
  val CoverageBudgets: Seq[Int] = Seq(2, 5, 10, 20, 50)

  val BigramLambdaPct = 75

  val HeapsPoints = 16

  val KnDiscountPct = 75

  val RakeTopK = 40

  val DsirTopK = 40

  /** IPF rounds (unrolled in the oracle). */
  val RakeRounds = 2

  /** The raked cell table, shared by both oracles. */
  private val RakeSql = {
    def round(i: Int, prev: String): String =
      s"""r${i}a AS (SELECT r, c, n, t_row, t_col,
         |    (w * t_row) // (sum(w) OVER (PARTITION BY r)) AS w
         |  FROM $prev),
         |r${i}b AS (SELECT r, c, n, t_row, t_col,
         |    (w * t_col) // (sum(w) OVER (PARTITION BY c)) AS w
         |  FROM r${i}a)""".stripMargin
    s"""cen AS (SELECT lang AS r, source AS c,
       |    CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1, 2),
       |nr AS (SELECT CAST(count(DISTINCT r) AS HUGEINT) AS n_row_keys
       |  FROM cen),
       |base AS (SELECT r, c, n, CAST(n AS HUGEINT) * 1000000 AS w,
       |    sum(CAST(n AS HUGEINT) * 1000000) OVER () AS total_mass,
       |    sum(CAST(n AS HUGEINT) * 1000000) OVER (PARTITION BY c)
       |      AS t_col
       |  FROM cen),
       |b2 AS (SELECT r, c, n, w, t_col,
       |    total_mass // n_row_keys AS t_row FROM base, nr),
       |${round(1, "b2")},
       |${round(2, "r1b")},
       |rk AS (SELECT r AS lang, c AS source, n,
       |    CAST(w AS BIGINT) AS weight_micro,
       |    CAST((sum(w) OVER (PARTITION BY r) * 1000000) //
       |      (sum(w) OVER ()) AS BIGINT) AS w_row_ppm
       |  FROM r2b)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    // Token counting (whitespace/regex tokenizer) rolled up per language.
    QueryDef("q29_token_stats", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("lang"), TextOps.tokenCount(col("text")).as("n_tokens"),
          col("n_chars"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("total_tokens"),
          round(avg("n_tokens"), 4).as("avg_tokens"),
          round(avg("n_chars"), 4).as("avg_chars"))
        .orderBy("lang")
    },
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(len($tokSql)) AS BIGINT) AS total_tokens,
         |  round(avg(len($tokSql)), 4) AS avg_tokens,
         |  round(avg(n_chars), 4) AS avg_chars
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // Quality scoring (length/stopword/punctuation heuristics) per source.
    QueryDef("q30_quality", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("source"), TextOps.qualityScore(col("text")).as("q"),
          round(TextOps.stopwordRatio(col("text")), 4).as("sr"),
          round(TextOps.punctRatio(col("text")), 4).as("pr"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("q"), 4).as("avg_quality"),
          round(avg("sr"), 4).as("avg_stopword_ratio"),
          round(avg("pr"), 4).as("avg_punct_ratio"))
        .orderBy("source")
    },
      s"""WITH t AS (SELECT source, $tokSql AS ws, text FROM documents),
         |s AS (SELECT source,
         |  CASE WHEN len(ws) = 0 THEN 0.0 ELSE
         |    len(list_filter(ws, w -> list_contains(${TextOps.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")}, w)))::DOUBLE / len(ws) END AS sr,
         |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
         |    len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE / length(text) END AS pr,
         |  len(ws) AS ntok FROM t),
         |q AS (SELECT source, round(sr, 4) AS sr4, round(pr, 4) AS pr4,
         |  round((least(ntok::DOUBLE / 50.0, 1.0) + least(sr * 5.0, 1.0) +
         |         greatest(1.0 - pr * 10.0, 0.0)) / 3.0, 4) AS quality FROM s)
         |SELECT source, count(*) AS n_docs, round(avg(quality), 4) AS avg_quality,
         |  round(avg(sr4), 4) AS avg_stopword_ratio,
         |  round(avg(pr4), 4) AS avg_punct_ratio
         |FROM q GROUP BY source ORDER BY source""".stripMargin),

    // Language-ID confusion matrix: labeled lang × predicted lang —
    // explode-once + broadcast marker join (one tokenizer pass per doc).
    QueryDef("q31_langid", (s, dir) => TextOps.langIdConfusion(Tables.load(s, dir, "documents")), {
      val hits = TextOps.LangMarkers.map { case (code, ms) =>
        s"${langHitSql(ms)} AS h_$code"
      }.mkString(", ")
      val codes = TextOps.LangMarkers.map(_._1)
      val greatest = s"greatest(${codes.map(c => s"h_$c").mkString(", ")})"
      val caseChain = codes.map(c => s"WHEN h_$c = $greatest THEN '$c'").mkString(" ")
      s"""WITH s AS (SELECT lang, $hits FROM documents),
         |p AS (SELECT lang, CASE WHEN $greatest = 0 THEN 'und' $caseChain END AS predicted FROM s)
         |SELECT lang, predicted, count(*) AS cnt FROM p
         |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
    }),

    // Multimodal plumbing: binary payloads + stub decode → per-mime rollup.
    QueryDef("q39_multimodal", (s, dir) =>
      Multimodal.featureSummary(
        Multimodal.extractFeatures(Multimodal.synthesizePayloads(Tables.load(s, dir, "documents")))),
      // NB: equivalence with the Spark side (which hashes UTF-8 BYTES via
      // encode(text,'UTF-8')) relies on the fixture being pure ASCII — this
      // oracle iterates per-character code points (ascii(c)) and character
      // length(text), which diverge from bytes on any non-ASCII text. The
      // fixture is verified ASCII-only at every SF (octet_length == length
      // for all docs); DuckDB has no blob→byte-list primitive to make the
      // oracle byte-based outright.
      s"""WITH f AS (SELECT doc_id, 'image/' || source AS mime,
         |  CAST(length(text) AS BIGINT) AS size_bytes,
         |  list_transform(regexp_extract_all(text, '.'), c -> CAST(ascii(c) AS BIGINT)) AS codes
         |  FROM documents),
         |d AS (SELECT mime, size_bytes,
         |  list_reduce(list_prepend(CAST(17 AS BIGINT), codes), (a, b) -> (a * 31 + b) % 1000003) AS hsh,
         |  CASE WHEN len(codes) = 0 THEN 0.0 ELSE list_sum(codes)::DOUBLE / len(codes) END AS mean_byte
         |  FROM f),
         |g AS (SELECT mime, size_bytes, 64 + (hsh % 193) AS width,
         |  64 + ((hsh // 193) % 129) AS height, mean_byte FROM d)
         |SELECT mime, count(*) AS n_items, CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
         |  round(avg(mean_byte), 4) AS avg_mean_byte,
         |  round(avg(width), 4) AS avg_width, round(avg(height), 4) AS avg_height
         |FROM g GROUP BY mime ORDER BY mime""".stripMargin),

    // Normalization pass: URL strip + whitespace collapse, rolled up per
    // source so the oracle output is compact at every SF.
    QueryDef("q45_normalize", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("source"),
          length(col("text")).as("raw_len"),
          length(TextOps.normalize(col("text"))).as("norm_len"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("raw_len").cast("long")).as("total_raw_chars"),
          sum(col("norm_len").cast("long")).as("total_norm_chars"),
          sum(when(col("norm_len") < col("raw_len"), 1L).otherwise(0L))
            .as("changed_docs"))
        .orderBy("source"),
      """WITH n AS (SELECT source, length(text) AS raw_len,
        |    length(trim(regexp_replace(regexp_replace(text,
        |      'https?://\S+', '', 'g'), '\s+', ' ', 'g'))) AS norm_len
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(raw_len) AS BIGINT) AS total_raw_chars,
        |  CAST(sum(norm_len) AS BIGINT) AS total_norm_chars,
        |  CAST(sum(CASE WHEN norm_len < raw_len THEN 1 ELSE 0 END) AS BIGINT)
        |    AS changed_docs
        |FROM n GROUP BY source ORDER BY source""".stripMargin),

    // TF-IDF keyword profile: top-5 terms per source by summed score.
    QueryDef("q48_tfidf_terms", (s, dir) =>
      Relevance.topTerms(Tables.load(s, dir, "documents"), "source", 5)
        .orderBy("block", "rank"),
      s"""WITH tok AS (SELECT doc_id, source AS block, unnest($tokSql) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, block, term, count(*) AS tf
         |  FROM tok GROUP BY doc_id, block, term),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |sc AS (SELECT block, term,
         |    round(sum(tf * ln(n.n / df)), 4) AS score
         |  FROM tf JOIN dfx USING (term), n GROUP BY block, term),
         |r AS (SELECT block, term, score,
         |    CAST(row_number() OVER (PARTITION BY block
         |      ORDER BY score DESC, term) AS INTEGER) AS rank FROM sc)
         |SELECT block, term, score, rank FROM r WHERE rank <= 5
         |ORDER BY block, rank""".stripMargin),

    // The composed prep pipeline: normalize → quality-filter →
    // exact-dedup → per-source report, one declarative plan.
    QueryDef("q51_prep_pipeline", (s, dir) =>
      graft.operators.Pipeline.corpusReport(Tables.load(s, dir, "documents"), minQuality = 0.5),
      s"""WITH n AS (SELECT doc_id, source,
         |    trim(regexp_replace(regexp_replace(text, 'https?://\\S+', '', 'g'),
         |      '\\s+', ' ', 'g')) AS nt
         |  FROM documents),
         |t AS (SELECT doc_id, source, nt,
         |    regexp_extract_all(lower(nt), '[a-z0-9]+') AS ws FROM n),
         |q AS (SELECT doc_id, source, nt,
         |  round((least(len(ws)::DOUBLE / 50.0, 1.0)
         |    + least((CASE WHEN len(ws) = 0 THEN 0.0 ELSE
         |        len(list_filter(ws, w -> list_contains($stopListSql, w)))::DOUBLE / len(ws) END) * 5.0, 1.0)
         |    + greatest(1.0 - (CASE WHEN length(nt) = 0 THEN 0.0 ELSE
         |        len(regexp_extract_all(nt, '[^a-zA-Z0-9\\s]'))::DOUBLE / length(nt) END) * 10.0, 0.0)
         |  ) / 3.0, 4) AS quality,
         |  md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS f
         |  FROM t),
         |p AS (SELECT * FROM q WHERE quality >= 0.5),
         |k AS (SELECT f, min(doc_id) AS keep FROM p GROUP BY f),
         |kept AS (SELECT p.* FROM p JOIN k ON p.doc_id = k.keep),
         |ks AS (SELECT source, count(*) AS kept_docs,
         |    round(avg(quality), 4) AS avg_quality,
         |    CAST(sum(length(nt)) AS BIGINT) AS norm_chars
         |  FROM kept GROUP BY source),
         |raw AS (SELECT source, count(*) AS raw_docs FROM documents GROUP BY source)
         |SELECT raw.source, CAST(raw_docs AS BIGINT) AS raw_docs,
         |  CAST(coalesce(kept_docs, 0) AS BIGINT) AS kept_docs,
         |  round(coalesce(kept_docs, 0)::DOUBLE / raw_docs, 4) AS kept_share,
         |  avg_quality,
         |  coalesce(norm_chars, 0) AS norm_chars
         |FROM raw LEFT JOIN ks ON raw.source = ks.source
         |ORDER BY raw.source""".stripMargin),

    // Benchmark decontamination: bigram containment of each corpus doc
    // in the (broadcast) benchmark shingle vocabulary, per-source report.
    QueryDef("q52_decontaminate", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      Decontaminate.report(
        d.filter(col("doc_id") % BenchMod =!= 0),
        d.filter(col("doc_id") % BenchMod === 0),
        "source", ContaminationThreshold)
    },
      s"""WITH t AS (SELECT doc_id, source, $tokSql AS ws FROM documents),
         |sh AS (SELECT doc_id, source, $bigramsSql AS sh FROM t),
         |bench AS (SELECT DISTINCT unnest(sh) AS s FROM sh
         |  WHERE doc_id % $BenchMod = 0),
         |corp AS (SELECT doc_id, unnest(sh) AS s FROM sh
         |  WHERE doc_id % $BenchMod <> 0),
         |pd AS (SELECT doc_id, count(*) AS n_sh,
         |    sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS hits
         |  FROM corp LEFT JOIN bench b USING (s) GROUP BY doc_id),
         |f AS (SELECT d.source,
         |    CASE WHEN coalesce(n_sh, 0) = 0 THEN CAST(0 AS BIGINT)
         |      ELSE CAST(round(hits * 10000.0 / n_sh) AS BIGINT) END AS bp
         |  FROM (SELECT doc_id, source FROM documents
         |        WHERE doc_id % $BenchMod <> 0) d
         |  LEFT JOIN pd USING (doc_id))
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN bp >= ${(ContaminationThreshold * 10000).toLong}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS contaminated_docs,
         |  round(sum(bp) / (count(*) * 10000.0), 4) AS avg_overlap
         |FROM f GROUP BY source ORDER BY source""".stripMargin),

    // Gopher-style repetition stats: duplicate-token fraction and
    // top-bigram occupancy, rolled up per source.
    QueryDef("q53_repetition", (s, dir) =>
      Repetition.report(Tables.load(s, dir, "documents"), "source", MaxTopNgramFrac),
      s"""WITH t AS (SELECT doc_id, source, $tokSql AS ws FROM documents),
         |g AS (SELECT doc_id, source,
         |  CASE WHEN len(ws) = 0 THEN 0.0
         |    ELSE round(1.0 - len(list_distinct(ws))::DOUBLE / len(ws), 4)
         |  END AS token_rep,
         |  $bigramsAllSql AS bg FROM t),
         |d AS (SELECT source, token_rep,
         |  CASE WHEN len(bg) = 0 THEN 0.0
         |    ELSE round(list_max(list_transform(list_distinct(bg),
         |      x -> len(list_filter(bg, y -> y = x))))::DOUBLE / len(bg), 4)
         |  END AS top_frac FROM g)
         |SELECT source, count(*) AS n_docs,
         |  round(sum(CAST(round(token_rep * 10000, 0) AS BIGINT))
         |    / (count(*) * 10000.0), 4) AS avg_token_rep,
         |  round(sum(CAST(round(top_frac * 10000, 0) AS BIGINT))
         |    / (count(*) * 10000.0), 4) AS avg_top_ngram_frac,
         |  CAST(sum(CASE WHEN top_frac > $MaxTopNgramFrac THEN 1 ELSE 0 END)
         |    AS BIGINT) AS would_drop
         |FROM d GROUP BY source ORDER BY source""".stripMargin),

    // Deterministic per-source quota sample (hash-rank top-k): the
    // corpus-mixing "cap any one domain" rule, reproducible on any engine.
    QueryDef("q54_quota_sample", (s, dir) =>
      Sampling.quotaSample(Tables.load(s, dir, "documents"), "source", QuotaK)
        .select("source", "rank", "doc_id")
        .orderBy("source", "rank"),
      s"""WITH r AS (SELECT source, doc_id,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY $idHashSql ASC, doc_id ASC) AS INTEGER) AS rank
         |  FROM documents)
         |SELECT source, rank, doc_id FROM r WHERE rank <= $QuotaK
         |ORDER BY source, rank""".stripMargin),

    // Corpus mixture report: (source, lang) doc/token counts + each
    // cell's share of all tokens — the dataset-card composition table.
    // The grand total joins back via a broadcast single-row aggregate;
    // cardinality after the first agg is bounded by |sources|x|langs|.
    QueryDef("q55_mixture", (s, dir) => {
      val m = Tables.load(s, dir, "documents")
        .select(col("source"), col("lang"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tokens"))
      val tot = m.agg(sum("total_tokens").cast("double").as("t"))
      m.crossJoin(broadcast(tot))
        .select(col("source"), col("lang"), col("n_docs"), col("total_tokens"),
          round(col("total_tokens") / col("t"), 6).as("token_share"))
        .orderBy("source", "lang")
    },
      s"""WITH m AS (SELECT source, lang, count(*) AS n_docs,
         |    CAST(sum(len($tokSql)) AS BIGINT) AS total_tokens
         |  FROM documents GROUP BY source, lang),
         |tot AS (SELECT sum(total_tokens)::DOUBLE AS t FROM m)
         |SELECT source, lang, n_docs, total_tokens,
         |  round(total_tokens / t, 6) AS token_share
         |FROM m, tot ORDER BY source, lang""".stripMargin),

    // Global token frequency top-20 (exact word-count: partial aggs +
    // TakeOrderedAndProject; ties broken by token for determinism).
    QueryDef("q56_top_tokens", (s, dir) =>
      graft.util.Parallelism.ensure(Tables.load(s, dir, "documents"))
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc)
        .limit(20),
      s"""SELECT token, count(*) AS cnt
         |FROM (SELECT unnest($tokSql) AS token FROM documents)
         |GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20""".stripMargin),

    // PII scrub report: per-rule match totals + clean-doc counts. (The
    // fixture corpus is digit-/@-free so totals are 0 there — the rule
    // behavior itself is pinned by Round3Spec on synthetic PII rows; this
    // query exercises the full scan-stage scrub plan and its oracle.)
    QueryDef("q57_pii_scrub", (s, dir) => Scrub.report(Tables.load(s, dir, "documents"), "source"), {
      val countSqls = Scrub.Rules.map { case (name, pat, _) =>
        s"CAST(sum(len(regexp_extract_all(text, '$pat'))) AS BIGINT) AS total_$name"
      }
      val anyPii = Scrub.Rules
        .map { case (_, pat, _) => s"len(regexp_extract_all(text, '$pat'))" }
        .mkString(" + ")
      val scrubbed = Scrub.Rules.foldLeft("text") { case (t, (_, pat, repl)) =>
        s"regexp_replace($t, '$pat', '$repl', 'g')"
      }
      s"""SELECT source, count(*) AS n_docs,
         |  ${countSqls.mkString(",\n  ")},
         |  CAST(sum(CASE WHEN $anyPii = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS clean_docs,
         |  CAST(sum(length(text) - length($scrubbed)) AS BIGINT)
         |    AS chars_delta
         |FROM documents GROUP BY source ORDER BY source""".stripMargin
    }),

    // Token-length deciles per source, exact path: ntile over
    // (n_tokens, doc_id) — bit-exact for the oracle; decile edges are
    // exact integer math on both engines. NB the window partitions on
    // the low-cardinality source key — fine at the gate SF, serial per
    // source at 100 TB; q58a is the scale-safe approx
    // axis of the same operator.
    QueryDef("q58_token_deciles", (s, dir) =>
      graft.operators.Deciles.report(
        Tables.load(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            TextOps.tokenCount(col("text")).cast("long").as("n_tokens")),
        "source", "n_tokens", "doc_id", exact = true),
      s"""WITH t AS (SELECT source, doc_id,
         |    CAST(len($tokSql) AS BIGINT) AS n_tokens FROM documents),
         |d AS (SELECT source, n_tokens,
         |    CAST(ntile(10) OVER (PARTITION BY source
         |      ORDER BY n_tokens ASC, doc_id ASC) AS INTEGER) AS decile
         |  FROM t)
         |SELECT source, decile, count(*) AS n_docs,
         |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
         |FROM d GROUP BY source, decile ORDER BY source, decile""".stripMargin),

    // The approx-decile boundary FIDELITY report: the scale path's
    // percentile_approx boundaries graded in-plan against the exact
    // per-source quantiles — q_exact is oracle-hashable, within_bound
    // is the frozen ±0.01-quantile window check. Fully driver-green;
    // the production approx tier itself stays Deciles.report(exact =
    // false), spec-pinned in Round5Spec.
    QueryDef("q58a_token_deciles_approx", (s, dir) =>
      Deciles.boundaryFidelity(
        Tables.load(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            TextOps.tokenCount(col("text")).cast("long").as("n_tokens")),
        "source", "n_tokens"), {
      // Exact per-source quantiles (quantile_cont ≡ the value-domain
      // interp, the q11 idiom) + within_bound TRUE: the Spark side goes
      // hash-red the day a sketch boundary leaves its frozen window.
      val blocks = (1 to 9).map { i =>
        s"""SELECT source, CAST($i AS INTEGER) AS bound_idx,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  round(quantile_cont(CAST(n_tokens AS DOUBLE), ${i / 10.0}), 4)
           |    AS q_exact,
           |  TRUE AS within_bound FROM t GROUP BY source""".stripMargin
      }
      s"""WITH t AS (SELECT source,
         |    CAST(len(${tokSql}) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT * FROM (${blocks.mkString(" UNION ALL ")})
         |ORDER BY source, bound_idx""".stripMargin
    },
      meta = Some("fidelity_report: approx-percentile boundaries graded in-plan " +
        "vs exact per-source quantiles (±0.01-quantile windows); raw " +
        "production tier = Deciles.report(exact=false), exact twin " +
        "q58_token_deciles")),

    // Deterministic 80/10/10 split: per (split, source) doc counts. The
    // assignment is a scan-stage hash CASE — no shuffle until the rollup.
    QueryDef("q64_split", (s, dir) =>
      Split.assignSplits(Tables.load(s, dir, "documents"), DedupQueries.SplitWeights)
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("split", "source"), {
      val m = Sampling.HashMod
      val h = s"((doc_id % $m) * 2654435761) % $m"
      val conds = DedupQueries.SplitWeights.zip(Split.thresholds(DedupQueries.SplitWeights))
      val cases = conds.init
        .map { case ((name, _), thr) => s"WHEN $h < $thr THEN '$name'" }
        .mkString(" ")
      s"""SELECT split, source, count(*) AS n_docs FROM (
         |  SELECT source, CASE $cases ELSE '${conds.last._1._1}' END AS split
         |  FROM documents)
         |GROUP BY split, source ORDER BY split, source""".stripMargin
    }),

    // Token-budget shard packing: per (source, shard) doc/token totals.
    QueryDef("q65_pack_shards", (s, dir) =>
      Pack.assignShards(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("source"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens")),
        ShardBudgetTokens, "source")
        .groupBy("source", "shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("shard_tokens"))
        .orderBy("source", "shard"),
      s"""WITH t AS (SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents),
         |s AS (SELECT source, n_tokens,
         |    CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tokens)
         |      / $ShardBudgetTokens) AS BIGINT) AS shard
         |  FROM t)
         |SELECT source, shard, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
         |FROM s GROUP BY source, shard ORDER BY source, shard""".stripMargin),

    // Token-window chunking: scan-stage row multiplication, no shuffle;
    // every chunk row is oracle-compared including its text.
    QueryDef("q66_chunking", (s, dir) =>
      Chunk.chunkByTokens(Tables.load(s, dir, "documents"), ChunkWindow, ChunkStride)
        .orderBy("doc_id", "chunk_idx"), {
      val (w, s) = (ChunkWindow, ChunkStride)
      s"""WITH t AS (SELECT doc_id,
         |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
         |c AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n,
         |    unnest(range(0, CAST(ceil(len(ws)::DOUBLE / $s) AS BIGINT))) AS ci
         |  FROM t WHERE len(ws) > 0)
         |SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
         |  CAST(least(n - ci * $s, $w) AS BIGINT) AS n_tokens,
         |  array_to_string(ws[ci * $s + 1 : least(ci * $s + $w, n)], ' ')
         |    AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
    }),

    // Stratified deterministic sampling: per-stratum keep rates, still a
    // pure scan-stage hash filter (no shuffle, no window).
    QueryDef("q68_stratified_sample", (s, dir) =>
      Sampling.stratifiedSample(Tables.load(s, dir, "documents"), "source", StratRates, StratDefault)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("total_chars"))
        .orderBy("source"), {
      val m = Sampling.HashMod
      val h = s"((doc_id % $m) * 2654435761) % $m"
      val cases = StratRates.toSeq.sortBy(_._1)
        .map { case (g, r) => s"WHEN source = '$g' THEN ${(m * r).toLong}" }
        .mkString(" ")
      val thr = s"CASE $cases ELSE ${(m * StratDefault).toLong} END"
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM documents WHERE $h < $thr
         |GROUP BY source ORDER BY source""".stripMargin
    }),

    // Mixture rebalancing: rates DERIVED from target shares inside the
    // plan (stat-row agg + scalar min + broadcast), then the scan-stage
    // hash filter; strata outside the target mix are dropped.
    QueryDef("q69_mixture_rebalance", (s, dir) =>
      Mixture.rebalance(Tables.load(s, dir, "documents"), "source", MixShares)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source"), {
      val m = Sampling.HashMod
      val h = s"((d.doc_id % $m) * 2654435761) % $m"
      val values = MixShares.toSeq.sortBy(_._1)
        .map { case (g, sh) => s"('$g', $sh)" }.mkString(", ")
      // the rate expression mirrors Mixture.rebalance's double arithmetic
      // term for term (share * t / n, then rate * HashMod) so IEEE
      // evaluation is bit-identical on both engines
      s"""WITH c AS (SELECT source, count(*)::DOUBLE AS n FROM documents
         |  GROUP BY source),
         |sh AS (SELECT * FROM (VALUES $values) AS t(source, share)),
         |j AS (SELECT c.source, n, share FROM c JOIN sh ON c.source = sh.source),
         |mt AS (SELECT min(n / share) AS t FROM j),
         |r AS (SELECT source, share * t / n AS rate FROM j, mt)
         |SELECT d.source, count(*) AS n_docs
         |FROM documents d JOIN r ON d.source = r.source
         |WHERE CAST($h AS DOUBLE) < rate * $m
         |GROUP BY d.source ORDER BY d.source""".stripMargin
    }),

    // The full corpus-build capstone, ONE declarative plan: normalize →
    // quality-filter → exact-dedup (Pipeline.prepareCorpus) → token-window
    // chunking of the normalized text → token-budget shard packing of the
    // chunks (distributed prefix sum) → per-(source, shard) rollup.
    // Catalyst sees every stage at once: normalization fuses into the
    // scan, the quality filter prunes before the dedup shuffle, chunking
    // multiplies rows scan-stage, and packing adds its bounded stat-row
    // machinery on top.
    QueryDef("q71_corpus_pipeline", (s, dir) => {
      val kept = Pipeline.prepareCorpus(Tables.load(s, dir, "documents"), minQuality = 0.5)
      val chunks = Chunk.chunkByTokens(
        kept.select(col("doc_id"), col("source"),
          col("norm_text").as("text")),
        ChunkWindow, ChunkStride, carryCols = Seq("source"))
      // packing's two passes (subtotals + rebase) would otherwise re-run
      // the whole normalize→dedup→chunk pipeline twice; cache the SLIM
      // chunk relation (3 columns, no chunk text — ~30 bytes/row, released
      // via Caches.releaseAll) so both passes read materialized stat rows
      val slim = graft.util.Caches.cached(
        chunks.select(col("source"), col("n_tokens"),
          ((col("doc_id") * (1L << ChunkOrdShift)) + col("chunk_idx")).as("__ord")))
      Pack.assignShards(slim, ShardBudgetTokens, "source",
        tokensCol = "n_tokens", orderCol = "__ord")
        .groupBy("source", "shard")
        .agg(count(lit(1)).as("n_chunks"),
          sum("n_tokens").cast("long").as("shard_tokens"))
        .orderBy("source", "shard")
    }, {
      // q51's prep CTEs + q66's chunk CTEs + q65's pack window, end to end.
      val (w, st) = (ChunkWindow, ChunkStride)
      val budget = ShardBudgetTokens
      val stopList = TextOps.Stopwords.map(x => s"'$x'").mkString("[", ",", "]")
      s"""WITH n AS (SELECT doc_id, source,
         |    trim(regexp_replace(regexp_replace(text, 'https?://\\S+', '', 'g'),
         |      '\\s+', ' ', 'g')) AS nt
         |  FROM documents),
         |t AS (SELECT doc_id, source, nt,
         |    regexp_extract_all(lower(nt), '[a-z0-9]+') AS ws FROM n),
         |q AS (SELECT doc_id, source, ws,
         |  round((least(len(ws)::DOUBLE / 50.0, 1.0)
         |    + least((CASE WHEN len(ws) = 0 THEN 0.0 ELSE
         |        len(list_filter(ws, x -> list_contains($stopList, x)))::DOUBLE / len(ws) END) * 5.0, 1.0)
         |    + greatest(1.0 - (CASE WHEN length(nt) = 0 THEN 0.0 ELSE
         |        len(regexp_extract_all(nt, '[^a-zA-Z0-9\\s]'))::DOUBLE / length(nt) END) * 10.0, 0.0)
         |  ) / 3.0, 4) AS quality,
         |  md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS f
         |  FROM t),
         |p AS (SELECT * FROM q WHERE quality >= 0.5),
         |k AS (SELECT f, min(doc_id) AS keep FROM p GROUP BY f),
         |kept AS (SELECT p.doc_id, p.source, p.ws
         |  FROM p JOIN k ON p.doc_id = k.keep),
         |c AS (SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS nn,
         |    unnest(range(0, CAST(ceil(len(ws)::DOUBLE / $st) AS BIGINT))) AS ci
         |  FROM kept WHERE len(ws) > 0),
         |ch AS (SELECT source,
         |    CAST(least(nn - ci * $st, $w) AS BIGINT) AS n_tokens,
         |    doc_id * ${1L << ChunkOrdShift} + ci AS ord FROM c),
         |sh AS (SELECT source, n_tokens,
         |    CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY ord
         |      ROWS UNBOUNDED PRECEDING) - n_tokens) / $budget) AS BIGINT) AS shard
         |  FROM ch)
         |SELECT source, shard, count(*) AS n_chunks,
         |  CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
         |FROM sh GROUP BY source, shard ORDER BY source, shard""".stripMargin
    }),

    // Boilerplate by shingle document-frequency (the CCNet/C4 signal):
    // per-source mean boilerplate ratio and the count of template-heavy
    // docs. Two shingle-keyed shuffles + one doc-keyed re-aggregate;
    // the df floor derives from ONE driver-side count scalar.
    QueryDef("q72_boilerplate", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val minDf = boilerMinDf(d.count())
      CorpusStats.boilerplateScores(d, minDf)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("boiler_ratio"), 4).as("avg_boiler_ratio"),
          sum(when(col("boiler_ratio") >= BoilerThreshold, 1L).otherwise(0L))
            .as("n_boiler_docs"))
        .orderBy("source")
    }, {
      val tok = tokSql
      val big = bigramsSql
      s"""WITH t AS (SELECT doc_id, source, $tok AS ws FROM documents),
         |sh AS (SELECT doc_id, source, unnest($big) AS s FROM t),
         |md AS (SELECT greatest(count(*) * 4 // 100, 2) AS m FROM documents),
         |df AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
         |pd AS (SELECT sh.doc_id, count(*) AS n_sh,
         |    sum(CASE WHEN df.df >= md.m THEN 1 ELSE 0 END) AS n_freq
         |  FROM sh JOIN df USING (s), md GROUP BY sh.doc_id),
         |sc AS (SELECT d.source,
         |    CASE WHEN coalesce(pd.n_sh, 0) = 0 THEN 0.0
         |         ELSE round(pd.n_freq::DOUBLE / pd.n_sh, 4) END AS r
         |  FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id)
         |SELECT source, count(*) AS n_docs,
         |  round(avg(r), 4) AS avg_boiler_ratio,
         |  CAST(sum(CASE WHEN r >= $BoilerThreshold THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_boiler_docs
         |FROM sc GROUP BY source ORDER BY source""".stripMargin
    }),

    // Corpus-unigram LM scoring (the sandbox-honest KenLM stand-in):
    // per-source mean surprisal and the rare-token-tail count. The
    // vocabulary is one token-keyed aggregate; T rides a broadcast stat
    // row; no windows.
    QueryDef("q73_unigram_lm", (s, dir) =>
      CorpusStats.unigramNll(Tables.load(s, dir, "documents"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("avg_nll"), 4).as("avg_nll"),
          sum(when(col("avg_nll") >= NllThreshold, 1L).otherwise(0L))
            .as("n_surprising"))
        .orderBy("source"), {
      val tok = tokSql
      s"""WITH tk AS (SELECT doc_id, source, unnest($tok) AS w FROM documents),
         |v AS (SELECT w, count(*)::DOUBLE AS cnt FROM tk GROUP BY w),
         |tt AS (SELECT sum(cnt) AS t FROM v),
         |sc AS (SELECT tk.doc_id, tk.source, ln(t / cnt) AS nll
         |  FROM tk JOIN v USING (w), tt),
         |pd AS (SELECT doc_id, source, round(avg(nll), 4) AS d_nll
         |  FROM sc GROUP BY doc_id, source)
         |SELECT source, count(*) AS n_docs, round(avg(d_nll), 4) AS avg_nll,
         |  CAST(sum(CASE WHEN d_nll >= $NllThreshold THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_surprising
         |FROM pd GROUP BY source ORDER BY source""".stripMargin
    }),

    // Deterministic training-export manifest: per-shard row/char totals
    // and the first/last doc in stream order — aggregate-only (struct
    // min/max argmin), no window, no global sort.
    QueryDef("q75_export_shards", (s, dir) =>
      Export.shardStats(Tables.load(s, dir, "documents"), ExportShards, ExportSeed)
        .orderBy("shard"), {
      val m = operators.Sampling.HashMod
      s"""WITH h AS (SELECT doc_id, n_chars,
         |    (((doc_id + $ExportSeed) % $m) * 2654435761) % $m AS ord
         |  FROM documents),
         |s AS (SELECT doc_id, n_chars, ord, ord % $ExportShards AS shard FROM h),
         |fr AS (SELECT shard, doc_id AS fd, row_number() OVER
         |    (PARTITION BY shard ORDER BY ord, doc_id) AS rn FROM s),
         |lr AS (SELECT shard, doc_id AS ld, row_number() OVER
         |    (PARTITION BY shard ORDER BY ord DESC, doc_id DESC) AS rn FROM s)
         |SELECT s.shard, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_weight,
         |  min(fr.fd) AS first_doc, min(lr.ld) AS last_doc
         |FROM s JOIN fr ON s.shard = fr.shard AND fr.rn = 1
         |       JOIN lr ON s.shard = lr.shard AND lr.rn = 1
         |GROUP BY s.shard ORDER BY s.shard""".stripMargin
    }),

    // Pairwise source-overlap matrix: distinct-shingle intersection and
    // Jaccard for every unordered source pair (zero-overlap pairs
    // included). Per-shingle join fan-out ≤ (S choose 2), independent
    // of corpus size; the size relation broadcasts.
    QueryDef("q76_source_overlap", (s, dir) =>
      CorpusStats.sourceOverlap(Tables.load(s, dir, "documents"))
        .orderBy("source_a", "source_b"), {
      val tok = tokSql
      val big = bigramsSql
      s"""WITH t AS (SELECT source, $tok AS ws FROM documents),
         |sh AS (SELECT DISTINCT source, s FROM
         |  (SELECT source, unnest($big) AS s FROM t)),
         |sz AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
         |iv AS (SELECT a.source AS sa, b.source AS sb, count(*) AS c
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
         |  GROUP BY a.source, b.source)
         |SELECT x.source AS source_a, y.source AS source_b,
         |  x.n AS n_a, y.n AS n_b,
         |  CAST(coalesce(iv.c, 0) AS BIGINT) AS n_common,
         |  round(coalesce(iv.c, 0)::DOUBLE / (x.n + y.n - coalesce(iv.c, 0)), 4)
         |    AS jaccard
         |FROM sz x JOIN sz y ON x.source < y.source
         |LEFT JOIN iv ON iv.sa = x.source AND iv.sb = y.source
         |ORDER BY source_a, source_b""".stripMargin
    }),

    // Capped source-overlap matrix: ubiquitous shingles leave the
    // intersection join; n_a/n_b stay exact from the uncapped relation.
    QueryDef("q76a_source_overlap_capped", (s, dir) =>
      CorpusStats.sourceOverlap(Tables.load(s, dir, "documents"),
        maxShingleSources = Some(OverlapSourceCap))
        .orderBy("source_a", "source_b"), {
      val tok = tokSql
      val big = bigramsSql
      s"""WITH t AS (SELECT source, $tok AS ws FROM documents),
         |sh AS (SELECT DISTINCT source, s FROM
         |  (SELECT source, unnest($big) AS s FROM t)),
         |sz AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
         |hot AS (SELECT s FROM sh GROUP BY s
         |  HAVING count(*) > $OverlapSourceCap),
         |shc AS (SELECT sh.source, sh.s FROM sh
         |  WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.s = sh.s)),
         |iv AS (SELECT a.source AS sa, b.source AS sb, count(*) AS c
         |  FROM shc a JOIN shc b ON a.s = b.s AND a.source < b.source
         |  GROUP BY a.source, b.source)
         |SELECT x.source AS source_a, y.source AS source_b,
         |  x.n AS n_a, y.n AS n_b,
         |  CAST(coalesce(iv.c, 0) AS BIGINT) AS n_common,
         |  round(coalesce(iv.c, 0)::DOUBLE / (x.n + y.n - coalesce(iv.c, 0)), 4)
         |    AS jaccard
         |FROM sz x JOIN sz y ON x.source < y.source
         |LEFT JOIN iv ON iv.sa = x.source AND iv.sb = y.source
         |ORDER BY source_a, source_b""".stripMargin
    }),

    // Duplicated-span coverage (substring-dedup criterion): fraction of
    // each doc's tokens covered by 8-token spans occurring in >= 2 docs;
    // per-source mean and span-duplicate-heavy doc counts. Shingle-keyed
    // aggregate + semi-join; interval union under a doc_id window.
    QueryDef("q78_span_coverage", (s, dir) =>
      CorpusStats.spanCoverage(Tables.load(s, dir, "documents"), SpanK)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("dup_coverage"), 4).as("avg_coverage"),
          sum(when(col("dup_coverage") >= SpanHeavyThreshold, 1L)
            .otherwise(0L)).as("n_dup_heavy"))
        .orderBy("source"), {
      val tok = tokSql
      val k = SpanK
      s"""WITH t AS (SELECT doc_id, source, $tok AS ws FROM documents),
         |ps AS (SELECT doc_id, source, len(ws) AS n, i AS pos,
         |    array_to_string(ws[i+1:i+$k], ' ') AS sh
         |  FROM t CROSS JOIN unnest(range(0, greatest(len(ws) - $k + 1, 0)))
         |    AS u(i)),
         |dfq AS (SELECT sh, count(DISTINCT doc_id) AS df FROM ps GROUP BY sh),
         |dup AS (SELECT ps.doc_id, ps.source, ps.n, ps.pos
         |  FROM ps JOIN dfq USING (sh) WHERE df >= 2),
         |sw AS (SELECT doc_id, source, n, pos,
         |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM dup),
         |cv AS (SELECT doc_id, source, n,
         |    sum(CASE WHEN prev IS NULL THEN $k
         |             ELSE least($k, pos - prev) END) AS covered
         |  FROM sw GROUP BY doc_id, source, n),
         |al AS (SELECT d.source,
         |    CASE WHEN cv.covered IS NULL THEN 0.0
         |         ELSE round(cv.covered::DOUBLE / cv.n, 4) END AS cov
         |  FROM documents d LEFT JOIN cv ON d.doc_id = cv.doc_id)
         |SELECT source, count(*) AS n_docs, round(avg(cov), 4) AS avg_coverage,
         |  CAST(sum(CASE WHEN cov >= $SpanHeavyThreshold THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dup_heavy
         |FROM al GROUP BY source ORDER BY source""".stripMargin
    }),

    // Corpus snapshot diff: per-(source, status) churn counts between
    // two corpus versions. Each side reduces to (id, source, md5) before
    // ONE full-outer join on doc_id; text never shuffles.
    QueryDef("q79_corpus_diff", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      Diff.diffReport(diffOld(d), diffNew(d))
        .orderBy("source", "status")
    },
      s"""WITH oldv AS (SELECT doc_id, source, md5(text) AS ck FROM documents
         |  WHERE doc_id % 7 <> 3),
         |newv AS (SELECT doc_id, source,
         |    md5(CASE WHEN doc_id % 11 = 0 THEN text || ' rev' ELSE text END) AS ck
         |  FROM documents WHERE doc_id % 13 <> 5),
         |d AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |    coalesce(n.source, o.source) AS source,
         |    CASE WHEN o.ck IS NULL THEN 'added'
         |         WHEN n.ck IS NULL THEN 'removed'
         |         WHEN o.ck <> n.ck THEN 'changed'
         |         ELSE 'unchanged' END AS status
         |  FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id)
         |SELECT source, status, count(*) AS n_docs
         |FROM d GROUP BY source, status ORDER BY source, status""".stripMargin),

    // Hashed-feature linear quality model: per-source mean score and
    // kept-count at the threshold. Scan-stage only (tokens → feature
    // hash → integer weight sum); per-doc scores are integer basis
    // points so the cross-engine comparison is exact.
    QueryDef("q80_quality_model", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      d.withColumn("score_bp", QualityModel.scoreBp(col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(sum("score_bp") / (count(lit(1)) * 10000.0), 4).as("avg_quality"),
          sum(when(col("score_bp") >= (QualityKeep * 10000).toLong, 1L)
            .otherwise(0L)).as("n_kept"))
        .orderBy("source")
    }, {
      val f = s"(${DedupQueries.rollSql("w")} % ${QualityModel.Dim})"
      val w = s"(((($f * ${QualityModel.Knuth}) % ${QualityModel.WMod}) % 2001) - 1000)"
      s"""WITH t AS (SELECT source, $tokSql AS ws FROM documents),
         |f AS (SELECT source, len(ws) AS n,
         |    list_sum(list_transform(ws, w -> $w)) AS total
         |  FROM t),
         |s AS (SELECT source,
         |    CASE WHEN n = 0 THEN 0
         |      ELSE CAST(round(total * 10.0 / n) AS BIGINT) END AS score_bp
         |  FROM f)
         |SELECT source, count(*) AS n_docs,
         |  round(sum(score_bp) / (count(*) * 10000.0), 4) AS avg_quality,
         |  CAST(sum(CASE WHEN score_bp >= ${(QualityKeep * 10000).toLong}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM s GROUP BY source ORDER BY source""".stripMargin
    }),

    // Token-budget accounting, three ways: whitespace tokens, word
    // tokens, and BPE-ish pretokens (letter/digit/punctuation runs) —
    // the three counts a budgeting/packing stage reconciles. Pure scan
    // stage: three counters in one pass, one aggregate.
    QueryDef("q82_token_accounting", (s, dir) => {
      import graft.operators.TextOps
      Tables.load(s, dir, "documents")
        .select(col("source"),
          TextOps.wsTokenCount(col("text")).cast("long").as("ws"),
          TextOps.tokenCount(col("text")).cast("long").as("words"),
          TextOps.bpeTokenCount(col("text")).cast("long").as("bpe"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("ws").as("ws_tokens"),
          sum("words").as("word_tokens"),
          sum("bpe").as("bpe_tokens"),
          round(sum("bpe") / count(lit(1)).cast("double"), 4)
            .as("avg_bpe_per_doc"))
        .orderBy("source")
    },
      s"""WITH t AS (SELECT source,
         |    len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\r\\f]+'),
         |      x -> len(x) > 0)) AS ws,
         |    len($tokSql) AS words,
         |    len(regexp_extract_all(text, '${operators.TextOps.BpePattern}')) AS bpe
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
         |  CAST(sum(words) AS BIGINT) AS word_tokens,
         |  CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
         |  round(sum(bpe) / CAST(count(*) AS DOUBLE), 4) AS avg_bpe_per_doc
         |FROM t GROUP BY source ORDER BY source""".stripMargin),

    // Top-100 PMI collocations (count floor scales with corpus size).
    QueryDef("q84_collocations", (s, dir) =>
      Collocations.pmiTop(Tables.load(s, dir, "documents"), 100),
      s"""WITH t AS (SELECT doc_id, $tokSql AS ws FROM documents),
         |uni AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(ws) AS w FROM t)
         |  GROUP BY w),
         |bg AS (SELECT unnest($bigramsAllSql) AS g FROM t),
         |pair AS (SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
         |    count(*) AS n_pair FROM bg GROUP BY 1, 2),
         |st AS (SELECT (SELECT sum(c1)::DOUBLE FROM uni) AS t,
         |    (SELECT sum(n_pair)::DOUBLE FROM pair) AS b,
         |    (SELECT greatest(${Collocations.FloorMin},
         |      CAST(sum(n_pair) AS BIGINT) // ${Collocations.FloorDiv})
         |      FROM pair) AS m),
         |sc AS (SELECT p.w1, p.w2, p.n_pair,
         |    round(ln(((p.n_pair::DOUBLE * st.t) * st.t)
         |      / ((st.b * ua.c1) * ub.c1)), 4) AS pmi
         |  FROM pair p JOIN uni ua ON p.w1 = ua.w
         |    JOIN uni ub ON p.w2 = ub.w, st
         |  WHERE p.n_pair >= st.m)
         |SELECT w1, w2, n_pair, pmi FROM sc
         |ORDER BY n_pair DESC, w1, w2 LIMIT 100""".stripMargin),

    // Temperature-flattened mixture at α=0.5 (sqrt — the IEEE-exact
    // power), reported per source. Rates derive from the data inside
    // the plan; the filter is the scan-stage hash predicate.
    QueryDef("q89_temperature_mixture", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val kept = operators.Mixture.temperatureRebalance(d, "source", 0.5)
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      d.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(kept, Seq("source"), "left")
        .na.fill(0L, Seq("n_kept"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          round(col("n_kept") / col("n_docs"), 4).as("kept_share"))
        .orderBy("source")
    }, {
      // weights quantized to integer micro-points before the normalizing
      // sum (order-independent); α=0.5 via sqrt — correctly rounded IEEE,
      // so shares/rates are bit-identical cross-engine
      val hashSql = s"((doc_id % ${operators.Sampling.HashMod}) * 2654435761) " +
        s"% ${operators.Sampling.HashMod}"
      s"""WITH c AS (SELECT source, count(*)::DOUBLE AS n FROM documents
         |  GROUP BY source),
         |w AS (SELECT source, n,
         |    CAST(round(sqrt(n) * 1000000.0) AS BIGINT) AS wq FROM c),
         |sw AS (SELECT CAST(sum(wq) AS BIGINT) AS s FROM w),
         |sh AS (SELECT source, n, wq / sw.s AS share FROM w, sw),
         |t AS (SELECT min(n / share) AS t FROM sh),
         |r AS (SELECT source, n, ((share * t.t) / n) AS rate FROM sh, t),
         |k AS (SELECT d.source, count(*) AS n_kept
         |  FROM documents d JOIN r ON d.source = r.source
         |  WHERE ($hashSql) < rate * ${operators.Sampling.HashMod}
         |  GROUP BY d.source)
         |SELECT r.source, CAST(r.n AS BIGINT) AS n_docs,
         |  coalesce(k.n_kept, 0) AS n_kept,
         |  round(coalesce(k.n_kept, 0) / r.n, 4) AS kept_share
         |FROM r LEFT JOIN k ON r.source = k.source
         |ORDER BY r.source""".stripMargin
    }),

    // Weighted sampling (Efraimidis-Spirakis, weight = token count):
    // scan-stage exponential keys + TakeOrdered top-k.
    QueryDef("q91_weighted_sample", (s, dir) =>
      operators.Sampling.weightedSample(
        Tables.load(s, dir, "documents").select(col("doc_id"),
          operators.TextOps.tokenCount(col("text")).cast("long").as("n_tokens")),
        "n_tokens", 100), {
      // u = (idHash+1)/(HashMod+1) in (0,1]; key = -ln(u)/w quantized to
      // integer micro-points; id tiebreak makes the cut a total order
      val hashSql = s"((doc_id % ${operators.Sampling.HashMod}) * 2654435761) " +
        s"% ${operators.Sampling.HashMod}"
      s"""WITH t AS (SELECT doc_id, len($tokSql) AS n_tokens FROM documents),
         |w AS (SELECT doc_id, n_tokens FROM t WHERE n_tokens > 0),
         |k AS (SELECT doc_id, n_tokens,
         |    CAST(round((-ln((($hashSql) + 1) / ${operators.Sampling.HashMod + 1L})
         |      / n_tokens) * 1000000.0) AS BIGINT) AS key_micro
         |  FROM w)
         |SELECT doc_id, n_tokens, key_micro FROM k
         |ORDER BY key_micro, doc_id LIMIT 100""".stripMargin
    }),

    // Vocabulary coverage: corpus top-V vocab (deterministic order) →
    // broadcast membership → per-source OOV stat rows.
    QueryDef("q93_vocab_coverage", (s, dir) =>
      CorpusStats.vocabCoverage(Tables.load(s, dir, "documents"), VocabV),
      s"""WITH tk AS (SELECT source AS g, unnest($tokSql) AS w FROM documents),
         |v AS (SELECT w FROM (SELECT w, count(*) AS c FROM tk GROUP BY w
         |  ORDER BY c DESC, w ASC LIMIT $VocabV)),
         |f AS (SELECT g,
         |    CASE WHEN w IN (SELECT w FROM v) THEN 0 ELSE 1 END AS oov
         |  FROM tk)
         |SELECT g AS source, count(*) AS n_tokens,
         |  CAST(sum(oov) AS BIGINT) AS n_oov,
         |  round(CAST(sum(oov) AS BIGINT) * 10000 / count(*), 4) AS oov_bp
         |FROM f GROUP BY g ORDER BY source""".stripMargin),

    // Filter-funnel attrition: one scan, one stat row, stack()ed into
    // per-stage (n_pass, n_drop) rows.
    QueryDef("q94_filter_funnel", (s, dir) => {
      val t = Tables.load(s, dir, "documents").withColumn("__ws", TextOps.tokens(col("text")))
      Pipeline.filterFunnel(t, Seq(
        "chars" -> col("n_chars").between(100, 500),
        "lang" -> col("lang").isin(FunnelLangs.map(x => x: Any): _*),
        "tokens" -> (size(col("__ws")) >= 20),
        "uniq" -> when(size(col("__ws")) > 0,
          size(array_distinct(col("__ws"))).cast("double")
            / size(col("__ws")) >= FunnelMinUniq).otherwise(lit(false))))
        .orderBy("stage")
    }, {
      val langs = FunnelLangs.map(l => s"'$l'").mkString(", ")
      s"""WITH t AS (SELECT n_chars, lang, $tokSql AS ws FROM documents),
         |f AS (SELECT (n_chars BETWEEN 100 AND 500) AS f1,
         |    (lang IN ($langs)) AS f2,
         |    (len(ws) >= 20) AS f3,
         |    (CASE WHEN len(ws) > 0
         |      THEN len(list_distinct(ws))::DOUBLE / len(ws) >= $FunnelMinUniq
         |      ELSE FALSE END) AS f4
         |  FROM t),
         |a AS (SELECT count(*) AS n0,
         |    count(*) FILTER (WHERE f1) AS n1,
         |    count(*) FILTER (WHERE f1 AND f2) AS n2,
         |    count(*) FILTER (WHERE f1 AND f2 AND f3) AS n3,
         |    count(*) FILTER (WHERE f1 AND f2 AND f3 AND f4) AS n4
         |  FROM f)
         |SELECT * FROM (
         |  SELECT 0 AS stage, 'input' AS name, n0 AS n_pass,
         |    CAST(0 AS BIGINT) AS n_drop FROM a
         |  UNION ALL SELECT 1, 'chars', n1, n0 - n1 FROM a
         |  UNION ALL SELECT 2, 'lang', n2, n1 - n2 FROM a
         |  UNION ALL SELECT 3, 'tokens', n3, n2 - n3 FROM a
         |  UNION ALL SELECT 4, 'uniq', n4, n3 - n4 FROM a)
         |ORDER BY stage""".stripMargin
    }),

    // Power-of-two length buckets + padding-waste accounting.
    QueryDef("q106_padding_report", (s, dir) =>
      Batching.paddingReport(Tables.load(s, dir, "documents")),
      """WITH t AS (SELECT source,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (SELECT source, n_tokens,
        |    CASE WHEN n_tokens <= 1 THEN 1
        |      ELSE (1::BIGINT << length(bin(n_tokens - 1))) END AS bucket
        |  FROM t),
        |g AS (SELECT source, bucket, count(*) AS n_docs,
        |    sum(n_tokens) AS sum_tokens
        |  FROM b GROUP BY 1, 2)
        |SELECT source, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(sum_tokens AS BIGINT) AS sum_tokens,
        |  CAST(n_docs * bucket AS BIGINT) AS padded_tokens,
        |  round((n_docs * bucket - sum_tokens) * 10000.0 /
        |    (n_docs * bucket), 4) AS waste_bp
        |FROM g ORDER BY source, bucket""".stripMargin),

    // q116: BPE tokenizer training, round-1 pair census — the
    // oracle-checkable stage of the learner (markerless so the SQL
    // mirror stays a plain substr pair explode)
    QueryDef("q116_bpe_pairs", (s, dir) =>
      Bpe.firstPairCounts(Tables.load(s, dir, "documents"), BpePairsTopN),
      s"""WITH tk AS (SELECT unnest(${tokSql}) AS w
         |  FROM documents),
         |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM tk
         |  GROUP BY 1),
         |p AS (SELECT substr(w, CAST(i AS INTEGER), 1) AS l,
         |    substr(w, CAST(i AS INTEGER) + 1, 1) AS r, n
         |  FROM wc, unnest(range(1, length(w))) AS t(i))
         |SELECT l AS "left", r AS "right",
         |  CAST(sum(n) AS BIGINT) AS n_pair
         |FROM p GROUP BY 1, 2
         |ORDER BY n_pair DESC, l, r LIMIT $BpePairsTopN""".stripMargin),

    // q117: the learned merge table itself. The argmax-per-round loop
    // IS SQL-expressible without recursion because the merge budget is
    // a fixed constant: the oracle unrolls BpeMerges CTE stages (see
    // bpeMergesOracle). Round5iSpec additionally proves the learner
    // equal to a sequential reference implementation.
    QueryDef("q117_bpe_merges", (s, dir) =>
      Bpe.learnMerges(Tables.load(s, dir, "documents"), BpeMerges),
      bpeMergesOracle),

    // REAL audio metadata: each doc's bytes wrapped into a genuine
    // RIFF/WAVE container (channels/rate varied by doc_id), then parsed
    // back by the chunk-walking header parser. The oracle recomputes
    // every field in closed form from (doc_id, byte length) — so the
    // parser is checked against independent arithmetic, not itself.
    QueryDef("q119_audio_metadata", (s, dir) =>
      Multimodal.audioMetadata(
        Multimodal.synthesizeWavPayloads(Tables.load(s, dir, "documents")))
        .orderBy("doc_id"),
      // WAV synthesis parameters in closed form: channels = 1 + id%2,
      // rate = 8000 + (id%3)*4000, 16-bit PCM, data truncated to whole
      // frames ⇒ n_frames = floor(utf8_bytes / (channels*2)).
      """WITH p AS (SELECT doc_id,
        |    CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |    CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
        |    octet_length(encode(text)) AS nb
        |  FROM documents)
        |SELECT doc_id, channels, sample_rate,
        |  CAST(16 AS INTEGER) AS bits_per_sample,
        |  CAST(nb // (channels * 2) AS BIGINT) AS n_frames,
        |  CAST((nb // (channels * 2)) * 1000 // sample_rate AS BIGINT)
        |    AS duration_ms
        |FROM p ORDER BY doc_id""".stripMargin),

    // One-pass bounded-memory heavy hitters (Misra-Gries aggregate):
    // per-source top tokens. Capacity ≥ vocabulary at the gate SF, so
    // counts are exact and the oracle is plain GROUP BY counts; the
    // capacity-BINDING regime is spec-pinned (error bound), not oracled
    // — MG summaries under decrements are stream-order-dependent.
    QueryDef("q122_heavy_hitters", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy("source")
        .agg(graft.functions.MisraGries.misraGries(col("w"), HeavyCap).as("hh"))
        .select(col("source"), posexplode(col("hh")).as(Seq("pos", "e")))
        .filter(col("pos") < HeavyTopK)
        .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
          col("e.item").as("item"), col("e.count_lower").as("count_lower"))
        .orderBy("source", "rank"), {
      // Non-binding capacity ⇒ MG counts are exact ⇒ the oracle is the
      // plain per-source token census, top-K by (count DESC, token).
      val tok = tokSql
      s"""WITH t AS (SELECT source, unnest($tok) AS w FROM documents),
         |c AS (SELECT source, w, count(*) AS n FROM t GROUP BY source, w),
         |r AS (SELECT source, w, n, row_number() OVER (PARTITION BY source
         |    ORDER BY n DESC, w) AS rk FROM c)
         |SELECT source, CAST(rk AS INTEGER) AS rank, w AS item,
         |  n AS count_lower
         |FROM r WHERE rk <= $HeavyTopK ORDER BY source, rank""".stripMargin
    }),

    // Rendezvous (minimal-movement) sharding census: argmax-weight
    // shard as a scan-stage array fold — no explode, no shuffle before
    // the rollup. Stability under resize is spec-pinned.
    QueryDef("q124_rendezvous", (s, dir) =>
      Rendezvous.shardReport(Tables.load(s, dir, "documents"), RendezvousShards), {
      // Highest-random-weight argmax per doc, unrolled as a cross join +
      // rank (the Spark side folds the same weights scan-stage).
      val m = graft.operators.Sampling.HashMod
      s"""WITH s AS (SELECT range AS s FROM range($RendezvousShards)),
         |h AS (SELECT d.doc_id, s.s,
         |    ((d.doc_id % $m) * 2654435761 + 11) % $m
         |      * ((2654435761 + s.s * 97003) % $m) % $m AS h
         |  FROM documents d, s),
         |a AS (SELECT doc_id, s AS shard FROM (SELECT *,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s)
         |      AS rn FROM h) WHERE rn = 1)
         |SELECT CAST(shard AS INTEGER) AS shard, count(*) AS n_docs,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM a GROUP BY shard ORDER BY shard""".stripMargin
    }),

    // ln-ln OLS over the top-200 token census (TakeOrdered, no global
    // sort); integer nano product cells, slope at 6 dp.
    QueryDef("q157_zipf", (s, dir) =>
      CorpusStats.zipfFit(Tables.load(s, dir, "documents"), ZipfVocab),
      s"""WITH c AS (SELECT token AS w, count(*) AS c FROM (
         |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
         |      AS token FROM documents) GROUP BY 1
         |  ORDER BY c DESC, w ASC LIMIT $ZipfVocab),
         |r AS (SELECT *, row_number() OVER (ORDER BY c DESC, w ASC)
         |    AS rank FROM c),
         |k AS (SELECT *,
         |    CAST(round(ln(rank::DOUBLE) * 1e9) AS BIGINT) AS x_nano,
         |    CAST(round(ln(c::DOUBLE) * 1e9) AS BIGINT) AS y_nano,
         |    CAST(round(ln(rank::DOUBLE) * ln(rank::DOUBLE) * 1e9)
         |      AS BIGINT) AS xx_nano,
         |    CAST(round(ln(rank::DOUBLE) * ln(c::DOUBLE) * 1e9)
         |      AS BIGINT) AS xy_nano FROM r),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(c) AS BIGINT) AS total_count,
         |    CAST(sum(x_nano) AS BIGINT) AS sx_nano,
         |    CAST(sum(y_nano) AS BIGINT) AS sy_nano,
         |    CAST(sum(xx_nano) AS BIGINT) AS sxx_nano,
         |    CAST(sum(xy_nano) AS BIGINT) AS sxy_nano FROM k)
         |SELECT n_tokens, total_count, sx_nano, sy_nano, sxx_nano,
         |  sxy_nano,
         |  round((n_tokens::DOUBLE * sxy_nano / 1e9 -
         |      (sx_nano::DOUBLE / 1e9) * (sy_nano::DOUBLE / 1e9)) /
         |    (n_tokens::DOUBLE * sxx_nano / 1e9 -
         |      (sx_nano::DOUBLE / 1e9) * (sx_nano::DOUBLE / 1e9)), 6)
         |    AS zipf_slope
         |FROM s""".stripMargin),

    // Char-entropy quality signal per document, scan-stage fold (runs
    // of the sorted char array ≡ the oracle's unnest census).
    QueryDef("q170_char_entropy", (s, dir) =>
      Tables.load(s, dir, "documents")
        .withColumn("__e", TextOps.charEntropyNano(col("text")))
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n_ch"),
          col("__e.n_runs").as("n_distinct_ch"),
          col("__e.ent_nano").as("ent_nano"))
        .orderBy("doc_id"),
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
        |  FROM documents),
        |cc AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2),
        |nn AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_ch FROM cc
        |  GROUP BY 1),
        |e AS (SELECT cc.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_distinct_ch,
        |    CAST(sum(CAST(round(-(cnt / n_ch) * ln(cnt / n_ch) * 1e9)
        |      AS BIGINT)) AS BIGINT) AS ent_nano
        |  FROM cc JOIN nn ON nn.doc_id = cc.doc_id GROUP BY 1)
        |SELECT d.doc_id, d.lang, nn.n_ch, e.n_distinct_ch, e.ent_nano
        |FROM documents d JOIN nn ON nn.doc_id = d.doc_id
        |  JOIN e ON e.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    QueryDef("q172_distinctive_terms", (s, dir) =>
      CorpusStats.distinctiveTerms(Tables.load(s, dir, "documents"),
        "source", DistinctiveVocab, DistinctiveAlpha0, DistinctiveTopK),
      s"""WITH tok AS (SELECT source AS g,
         |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |  FROM documents),
         |census AS (SELECT g, w, CAST(count(*) AS BIGINT) AS y_gw
         |  FROM tok GROUP BY 1, 2),
         |vocab AS (SELECT w, CAST(sum(y_gw) AS BIGINT) AS y_w FROM census
         |  GROUP BY w ORDER BY y_w DESC, w LIMIT $DistinctiveVocab),
         |gt AS (SELECT g, CAST(sum(y_gw) AS BIGINT) AS n_g FROM census
         |  GROUP BY g),
         |nn AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_all FROM gt),
         |grid AS (SELECT gt.g, gt.n_g, v.w, v.y_w,
         |    CAST(coalesce(c.y_gw, 0) AS BIGINT) AS y_gw, nn.n_all
         |  FROM gt CROSS JOIN vocab v
         |  LEFT JOIN census c ON c.g = gt.g AND c.w = v.w, nn),
         |zz AS (SELECT *,
         |    round((ln((y_gw + $DistinctiveAlpha0 * (y_w / n_all)) /
         |        ((n_g + $DistinctiveAlpha0 - y_gw) -
         |          $DistinctiveAlpha0 * (y_w / n_all))) -
         |      ln(((y_w - y_gw) + $DistinctiveAlpha0 * (y_w / n_all)) /
         |        ((n_all - n_g + $DistinctiveAlpha0 - (y_w - y_gw)) -
         |          $DistinctiveAlpha0 * (y_w / n_all)))) /
         |      sqrt(1.0 / (y_gw + $DistinctiveAlpha0 * (y_w / n_all)) +
         |        1.0 / ((y_w - y_gw) +
         |          $DistinctiveAlpha0 * (y_w / n_all))), 6) AS z_lo
         |  FROM grid),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY g
         |    ORDER BY z_lo DESC, w) AS INTEGER) AS rank FROM zz)
         |SELECT g AS source, w AS token, y_gw, y_w, n_g, z_lo, rank
         |FROM r WHERE rank <= $DistinctiveTopK
         |ORDER BY source, rank""".stripMargin),

    QueryDef("q173_readability", (s, dir) =>
      QualityModel.readability(Tables.load(s, dir, "documents")),
      """WITH b AS (SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |      AS BIGINT) AS n_words,
        |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
        |      AS BIGINT) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, source, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN round(206.835 -
        |    1.015 * (n_words / n_sentences) -
        |    84.6 * (n_syllables / n_words), 4) END AS flesch
        |FROM b ORDER BY doc_id""".stripMargin),

    QueryDef("q174_bigram_nll", (s, dir) =>
      CorpusStats.bigramNll(Tables.load(s, dir, "documents"),
        BigramLambdaPct), {
      val lam = BigramLambdaPct / 100.0
      s"""WITH tk AS (SELECT doc_id,
         |    regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         |inst AS (SELECT doc_id, t[i] AS p, t[i + 1] AS w
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
         |    FROM tk WHERE len(t) >= 2)),
         |bi AS (SELECT p, w, CAST(count(*) AS BIGINT) AS f_pw FROM inst
         |  GROUP BY 1, 2),
         |up AS (SELECT p, CAST(count(*) AS BIGINT) AS f_p FROM inst
         |  GROUP BY 1),
         |uw AS (SELECT w, CAST(count(*) AS BIGINT) AS f_w FROM inst
         |  GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM inst),
         |st AS (SELECT bi.p, bi.w, f_pw, f_p, f_w, n_all FROM bi
         |  JOIN up ON up.p = bi.p JOIN uw ON uw.w = bi.w, nn),
         |pd AS (SELECT inst.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(sum(CAST(round(-ln($lam * (f_pw / f_p) +
         |      ${1.0 - lam} * (f_w / n_all)) * 1e9) AS BIGINT))
         |      AS BIGINT) AS s
         |  FROM inst JOIN st ON st.p = inst.p AND st.w = inst.w
         |  GROUP BY 1)
         |SELECT d.doc_id, d.source,
         |  CAST(coalesce(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CASE WHEN pd.n_bigrams > 0 THEN CAST(pd.s // pd.n_bigrams
         |    AS BIGINT) END AS nll_nano
         |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }),

    QueryDef("q175_vocab_coverage", (s, dir) =>
      CorpusStats.vocabCoverageCurve(Tables.load(s, dir, "documents"),
        CoverageBudgets), {
      val budgets = CoverageBudgets.sorted.mkString("[", ", ", "]")
      s"""WITH c AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM
         |    (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
         |      AS w FROM documents) GROUP BY 1),
         |t AS (SELECT CAST(sum(c) AS BIGINT) AS total_tokens,
         |    CAST(count(*) AS BIGINT) AS n_vocab_total FROM c),
         |r AS (SELECT *,
         |    CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT)
         |      AS rank,
         |    CAST(sum(c) OVER (ORDER BY c DESC, w
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum FROM c),
         |b AS (SELECT unnest($budgets) AS vocab_size)
         |SELECT b.vocab_size, t.n_vocab_total, r.cum AS covered,
         |  t.total_tokens,
         |  CAST((r.cum * 1000000) // t.total_tokens AS BIGINT)
         |    AS coverage_ppm
         |FROM b, t JOIN r ON r.rank = least(b.vocab_size, t.n_vocab_total)
         |ORDER BY b.vocab_size""".stripMargin
    }),

    QueryDef("q180_mp3_metadata", (s, dir) =>
      Multimodal.mp3Metadata(
        Multimodal.synthesizeMp3Payloads(Tables.load(s, dir, "documents")))
        .orderBy("doc_id"),
      // the parser's output in closed form from doc_id alone — if the
      // frame walk mis-reads any header field, the hash flips
      """SELECT doc_id,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 64 WHEN 1 THEN 128
        |    WHEN 2 THEN 192 ELSE 320 END AS INTEGER) AS bitrate_kbps,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |    ELSE 32000 END AS INTEGER) AS sample_rate,
        |  CAST(1 + doc_id % 5 AS BIGINT) AS n_frames,
        |  CAST(((1 + doc_id % 5) * 1152 * 1000) //
        |    (CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |      ELSE 32000 END) AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin),

    QueryDef("q207_mp4_metadata", (s, dir) =>
      Multimodal.mp4Metadata(
        Multimodal.synthesizeMp4Payloads(Tables.load(s, dir, "documents")))
        .orderBy("doc_id"),
      // synthesis parameters derive from doc_id alone, so the oracle
      // recomputes the expected metadata without parsing bytes (the
      // q180 convention)
      """SELECT doc_id,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
        |    ELSE 90000 END AS INTEGER) AS timescale,
        |  CAST((1 + doc_id % 7) * 1000 AS BIGINT) AS duration_ms,
        |  CAST(1 + doc_id % 2 AS INTEGER) AS n_tracks,
        |  CAST(320 + 16 * (doc_id % 4) AS INTEGER) AS width,
        |  CAST(240 + 16 * (doc_id % 4) AS INTEGER) AS height
        |FROM documents ORDER BY doc_id""".stripMargin),

    QueryDef("q214_chat_turns", (s, dir) =>
      Chat.turnStats(
        Chat.synthesizeChats(Tables.load(s, dir, "documents"))),
      // synthesis structure is doc_id arithmetic (the q180/q207
      // convention): nTurns = 2 + id%5, turn i carries 3 + (id+i)%5
      // tokens, roles alternate starting user
      """WITH t AS (SELECT doc_id, CAST(i AS BIGINT) AS i
        |  FROM documents, unnest(range(2 + doc_id % 5)) u(i)),
        |k AS (SELECT doc_id, i, i % 2 = 0 AS is_user,
        |    3 + (doc_id + i) % 5 AS tok FROM t)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_turns,
        |  CAST(sum(CASE WHEN is_user THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_user_turns,
        |  CAST(sum(CASE WHEN is_user THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_assistant_turns,
        |  CAST(sum(CASE WHEN is_user THEN tok ELSE 0 END) AS BIGINT)
        |    AS user_tokens,
        |  CAST(sum(CASE WHEN is_user THEN 0 ELSE tok END) AS BIGINT)
        |    AS assistant_tokens,
        |  true AS alternates
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Median doc length by TOKEN MASS per source (vs the unweighted
    // median a doc-count view reports).
    QueryDef("q221_weighted_median", (s, dir) =>
      Deciles.weightedMedian(
        Tables.load(s, dir, "documents")
          .select(col("source"), col("n_chars"),
            TextOps.tokenCount(col("text")).cast("long").as("n_tokens")),
        "source", "n_chars", "n_tokens"),
      s"""WITH d AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v,
         |    CAST(len(${tokSql}) AS BIGINT) AS w
         |  FROM documents),
         |cen AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c,
         |    CAST(sum(w) AS BIGINT) AS wsum FROM d GROUP BY 1, 2),
         |k AS (SELECT *,
         |    CAST(sum(wsum) OVER (PARTITION BY g ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cw,
         |    CAST(sum(wsum) OVER (PARTITION BY g) AS BIGINT) AS tw,
         |    CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
         |  FROM cen)
         |SELECT g AS source, n AS n_rows, tw AS total_weight,
         |  CAST(min(CASE WHEN cw >= (tw + 1) // 2 THEN v END) AS BIGINT)
         |    AS wmedian
         |FROM k GROUP BY 1, 2, 3 ORDER BY source""".stripMargin),

    QueryDef("q223_heaps_fit", (s, dir) =>
      CorpusStats.heapsFit(Tables.load(s, dir, "documents"),
        HeapsPoints),
      s"""WITH tk AS (SELECT doc_id AS id,
         |    unnest(${tokSql}) AS w FROM documents),
         |dt AS (SELECT id, CAST(count(*) AS BIGINT) AS nt FROM tk
         |  GROUP BY 1),
         |fdc AS (SELECT w, min(id) AS fd FROM tk GROUP BY 1),
         |bx AS (SELECT max(id) AS mx FROM dt),
         |tp AS (SELECT CAST(u.i AS INTEGER) AS i,
         |    CAST(sum(CASE WHEN id <= ((mx + 1) * u.i) // $HeapsPoints
         |      THEN nt ELSE 0 END) AS BIGINT) AS toks
         |  FROM dt, bx, unnest(range(1, ${HeapsPoints + 1})) u(i)
         |  GROUP BY 1),
         |vp AS (SELECT CAST(u.i AS INTEGER) AS i,
         |    CAST(sum(CASE WHEN fd <= ((mx + 1) * u.i) // $HeapsPoints
         |      THEN 1 ELSE 0 END) AS BIGINT) AS voc
         |  FROM fdc, bx, unnest(range(1, ${HeapsPoints + 1})) u(i)
         |  GROUP BY 1),
         |cells AS (SELECT tp.i, toks, voc,
         |    CAST(round(ln(toks::DOUBLE) * 1e9) AS BIGINT) AS xn,
         |    CAST(round(ln(voc::DOUBLE) * 1e9) AS BIGINT) AS yn,
         |    CAST(round(ln(toks::DOUBLE) * ln(toks::DOUBLE) * 1e9)
         |      AS BIGINT) AS xxn,
         |    CAST(round(ln(toks::DOUBLE) * ln(voc::DOUBLE) * 1e9)
         |      AS BIGINT) AS xyn
         |  FROM tp JOIN vp ON vp.i = tp.i
         |  WHERE toks > 0 AND voc > 0),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
         |    CAST(count(DISTINCT xn) AS BIGINT) AS ndx,
         |    CAST(max(toks) AS BIGINT) AS total_tokens,
         |    CAST(max(voc) AS BIGINT) AS total_vocab,
         |    CAST(sum(xn) AS BIGINT) AS sx,
         |    CAST(sum(yn) AS BIGINT) AS sy,
         |    CAST(sum(xxn) AS BIGINT) AS sxx,
         |    CAST(sum(xyn) AS BIGINT) AS sxy
         |  FROM cells),
         |g AS (SELECT *, n_points::DOUBLE * sxx::DOUBLE / 1e9 -
         |    (sx::DOUBLE / 1e9) * (sx::DOUBLE / 1e9) AS den FROM s)
         |SELECT n_points, total_tokens, total_vocab,
         |  CASE WHEN n_points >= 3 AND ndx >= 2 AND den > 0 THEN
         |    round((n_points::DOUBLE * sxy::DOUBLE / 1e9 -
         |      (sx::DOUBLE / 1e9) * (sy::DOUBLE / 1e9)) / den, 6) END
         |    AS heaps_beta,
         |  CASE WHEN n_points >= 3 AND ndx >= 2 AND den > 0 THEN
         |    round((sy::DOUBLE / 1e9 -
         |      ((n_points::DOUBLE * sxy::DOUBLE / 1e9 -
         |        (sx::DOUBLE / 1e9) * (sy::DOUBLE / 1e9)) / den) *
         |      sx::DOUBLE / 1e9) / n_points, 6) END AS heaps_ln_k
         |FROM g""".stripMargin),

    // How much probability mass lives in tokens each source has never
    // seen — the vocab/LM-planning number.
    QueryDef("q224_good_turing", (s, dir) =>
      CorpusStats.goodTuringReport(Tables.load(s, dir, "documents")),
      s"""WITH tk AS (SELECT source AS slice,
         |    unnest(${tokSql}) AS w FROM documents),
         |cen AS (SELECT slice, w, CAST(count(*) AS BIGINT) AS c
         |  FROM tk GROUP BY 1, 2),
         |s AS (SELECT slice, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_vocab,
         |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_singletons
         |  FROM cen GROUP BY 1)
         |SELECT slice AS source, n_tokens, n_vocab, n_singletons,
         |  CAST((n_singletons * 1000000) // n_tokens AS BIGINT)
         |    AS unseen_mass_ppm,
         |  CAST((n_singletons * 1000000) // n_vocab AS BIGINT)
         |    AS singleton_vocab_ppm
         |FROM s ORDER BY source""".stripMargin),

    // Interpolated Kneser–Ney bigram NLL: continuation-probability
    // backoff — the stronger fluency filter over q174's JM mixture.
    QueryDef("q227_kneser_ney", (s, dir) =>
      CorpusStats.bigramKnNll(Tables.load(s, dir, "documents"),
        KnDiscountPct), {
      val d = KnDiscountPct / 100.0
      s"""WITH tk AS (SELECT doc_id,
         |    regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         |inst AS (SELECT doc_id, t[i] AS p, t[i + 1] AS w
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
         |    FROM tk WHERE len(t) >= 2)),
         |bi AS (SELECT p, w, CAST(count(*) AS BIGINT) AS f_pw FROM inst
         |  GROUP BY 1, 2),
         |up AS (SELECT p, CAST(sum(f_pw) AS BIGINT) AS f_p,
         |    CAST(count(*) AS BIGINT) AS n1_fwd FROM bi GROUP BY 1),
         |uw AS (SELECT w, CAST(count(*) AS BIGINT) AS n1_back FROM bi
         |  GROUP BY 1),
         |ty AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM bi),
         |st AS (SELECT bi.p, bi.w, f_pw, f_p, n1_fwd, n1_back, n_types
         |  FROM bi JOIN up ON up.p = bi.p JOIN uw ON uw.w = bi.w, ty),
         |pd AS (SELECT inst.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(sum(CAST(round(-ln((f_pw - $d) / f_p +
         |      $d * n1_fwd / f_p * (n1_back / n_types)) * 1e9)
         |      AS BIGINT)) AS BIGINT) AS s
         |  FROM inst JOIN st ON st.p = inst.p AND st.w = inst.w
         |  GROUP BY 1)
         |SELECT d.doc_id, d.source,
         |  CAST(coalesce(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CASE WHEN pd.n_bigrams > 0 THEN CAST(pd.s // pd.n_bigrams
         |    AS BIGINT) END AS kn_nll_nano
         |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }),

    // Multi-word keyword phrases by degree/frequency — what tf-idf's
    // unigram view misses.
    QueryDef("q238_rake_keywords", (s, dir) =>
      Relevance.rakeKeywords(Tables.load(s, dir, "documents"),
        RakeTopK), {
      val stops = TextOps.Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH tk AS (SELECT doc_id,
         |    regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         |w0 AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS w
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
         |    FROM tk)),
         |nz AS (SELECT doc_id, pos, w FROM w0
         |  WHERE w NOT IN ($stops)),
         |isl AS (SELECT doc_id, pos, w,
         |    pos - row_number() OVER (PARTITION BY doc_id
         |      ORDER BY pos) AS island
         |  FROM nz),
         |ph AS (SELECT doc_id, island,
         |    CAST(count(*) AS BIGINT) AS n_words,
         |    string_agg(w, ' ' ORDER BY pos) AS phrase
         |  FROM isl GROUP BY 1, 2),
         |wd AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
         |    CAST(sum(n_words) AS BIGINT) AS deg
         |  FROM (SELECT n_words, unnest(string_split(phrase, ' '))
         |      AS w FROM ph) GROUP BY 1),
         |sc AS (SELECT w, (deg * 1000000) // freq AS score_w FROM wd),
         |cs AS (SELECT phrase, n_words,
         |    CAST(count(*) AS BIGINT) AS n_occurrences
         |  FROM ph GROUP BY 1, 2)
         |SELECT x.phrase, x.n_words, x.n_occurrences,
         |  CAST(sum(score_w) AS BIGINT) AS score_micro
         |FROM (SELECT phrase, n_words, n_occurrences,
         |    unnest(string_split(phrase, ' ')) AS w FROM cs) x
         |  JOIN sc ON sc.w = x.w
         |GROUP BY 1, 2, 3
         |ORDER BY score_micro DESC, x.phrase
         |LIMIT $RakeTopK""".stripMargin
    }),

    // Which documents "look most like" the English slice — unigram
    // DSIR importance ranking for curation resampling.
    QueryDef("q249_dsir_importance", (s, dir) =>
      Relevance.importanceWeights(Tables.load(s, dir, "documents"),
        col("lang") === "en", DsirTopK),
      s"""WITH tf AS (SELECT doc_id AS id, lang = 'en' AS tgt, w,
         |    CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, lang, unnest(${tokSql})
         |      AS w FROM documents)
         |  GROUP BY 1, 2, 3),
         |wc AS (SELECT w, CAST(sum(tf) AS BIGINT) AS cs,
         |    CAST(sum(CASE WHEN tgt THEN tf ELSE 0 END) AS BIGINT)
         |      AS ct
         |  FROM tf GROUP BY 1),
         |t AS (SELECT CAST(sum(cs) AS BIGINT) AS n_src,
         |    CAST(sum(ct) AS BIGINT) AS n_tgt,
         |    CAST(count(*) AS BIGINT) AS vocab FROM wc),
         |lam AS (SELECT w,
         |    CAST(round(ln((ct + 1)::DOUBLE) * 1e9) AS BIGINT) -
         |    CAST(round(ln((n_tgt + vocab)::DOUBLE) * 1e9) AS BIGINT) -
         |    CAST(round(ln((cs + 1)::DOUBLE) * 1e9) AS BIGINT) +
         |    CAST(round(ln((n_src + vocab)::DOUBLE) * 1e9) AS BIGINT)
         |      AS lam_nano
         |  FROM wc, t),
         |sc AS (SELECT id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |    CAST(sum(CAST(tf AS HUGEINT) * lam_nano) AS BIGINT)
         |      AS logw_nano
         |  FROM tf JOIN lam USING (w) GROUP BY 1)
         |SELECT id AS doc_id, n_tokens, logw_nano,
         |  CAST(row_number() OVER (ORDER BY logw_nano DESC, id)
         |    AS BIGINT) AS rank
         |FROM sc ORDER BY rank LIMIT $DsirTopK""".stripMargin),

    // Reweight the corpus so language mass is EQUAL while source mass
    // stays observed — two IPF rounds on the micro-mass grid.
    QueryDef("q255_rake_weights", (s, dir) =>
      Mixture.rakeWeights(Tables.load(s, dir, "documents"),
        "lang", "source", RakeRounds),
      s"""WITH $RakeSql
         |SELECT lang, source, n, weight_micro, w_row_ppm
         |FROM rk ORDER BY lang, source""".stripMargin),

    // How many effective documents the raked weights retain.
    QueryDef("q256_weight_ess", (s, dir) =>
      Mixture.weightEss(
        Mixture.rakeWeights(Tables.load(s, dir, "documents"),
          "lang", "source", RakeRounds),
        "n", "weight_micro"),
      s"""WITH $RakeSql,
         |agg AS (SELECT CAST(sum(n) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS n_cells,
         |    CAST(sum(CAST(weight_micro AS HUGEINT)) AS HUGEINT)
         |      AS sum_w,
         |    CAST(sum((CAST(weight_micro AS HUGEINT) * weight_micro)
         |      // n) AS HUGEINT) AS sq_per
         |  FROM rk)
         |SELECT n, n_cells, CAST(sum_w AS BIGINT) AS sum_w_micro,
         |  CASE WHEN sq_per > 0 THEN
         |    round(sum_w::DOUBLE * sum_w::DOUBLE / sq_per::DOUBLE, 6)
         |  END AS ess,
         |  CASE WHEN sq_per > 0 AND n > 0 THEN
         |    CAST(((sum_w * sum_w // sq_per) * 1000000) // n
         |      AS BIGINT)
         |  END AS ess_ratio_ppm
         |FROM agg""".stripMargin),

    // Mergeable CMS frequency sketch graded against the exact top-20:
    // est >= exact always (a red = broken sketch), est <= exact + 8N/w.
    QueryDef("q273_cms_heavy_hitters", (s, dir) =>
      SketchRollup.cmsTopTokensChecked(Tables.load(s, dir, "documents"),
        CmsDepth, CmsWidth, CmsTopK, CmsBandNum),
      s"""WITH cen AS (SELECT tok AS token, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(regexp_extract_all(lower(text),
         |    '[a-z0-9]+')) AS tok FROM documents) GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM cen),
         |sd AS (SELECT unnest(range(0, $CmsDepth)) AS seed),
         |cells AS (SELECT seed,
         |    ${bucketSql("seed::VARCHAR", "token")} AS bucket,
         |    CAST(sum(cnt) AS BIGINT) AS cell
         |  FROM cen, sd GROUP BY 1, 2),
         |cand AS (SELECT token, cnt FROM cen
         |  ORDER BY cnt DESC, token LIMIT $CmsTopK),
         |probes AS (SELECT c.token, c.cnt, s.seed,
         |    ${bucketSql("s.seed::VARCHAR", "c.token")} AS bucket
         |  FROM cand c, sd s),
         |est AS (SELECT p.token, p.cnt, min(cl.cell) AS est_cnt
         |  FROM probes p JOIN cells cl
         |    ON cl.seed = p.seed AND cl.bucket = p.bucket
         |  GROUP BY 1, 2)
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token)
         |    AS INTEGER) AS rank,
         |  token, cnt AS exact_cnt, est_cnt,
         |  (est_cnt >= cnt AND est_cnt <= cnt +
         |    (n_total * $CmsBandNum) // $CmsWidth) AS within_bound
         |FROM est, tot ORDER BY rank""".stripMargin))
}

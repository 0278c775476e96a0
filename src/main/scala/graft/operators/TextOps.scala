package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines.
  *
  * The reference profiles tabular data only; these extend the same
  * profile-and-emit pattern (`/root/reference/DataFrames/databand_tracking_template.py:21-31`)
  * to a document corpus: tokenization, quality scoring, language ID and
  * fingerprinting over `documents.text`.
  *
  * Everything here is built from Spark SQL built-in + higher-order
  * expressions (no UDFs): each helper returns a [[Column]], so the whole
  * pipeline stays inside Catalyst, columns prune down to `text` at the
  * Parquet scan, and per-row work distributes with no shuffle until the
  * final aggregate.
  *
  * Cross-engine determinism: the DuckDB oracle mirrors each expression
  * 1:1 (`regexp_extract_all`, list lambdas, `md5`). The rolling hash takes
  * `% 1000000007` at every fold step — DuckDB BIGINT arithmetic *errors*
  * on overflow rather than wrapping, so an end-only modulus would diverge.
  */
object TextOps {

  /** Word tokens: lowercased alphanumeric runs. The regex doubles as a
    * cheap BPE-ish pre-tokenizer — punctuation splits, case-folds.
    */
  val TokenPattern = "[a-z0-9]+"

  val HashMod = 1000000007L

  /** Backed by the native codegen'd [[graft.functions.AsciiWords]]; the
    * regex formulation ([[tokensBuiltins]]) is kept as the differential-
    * test reference (java.util.regex scan per row, ~6× the work).
    */
  def tokens(text: Column): Column =
    graft.functions.AsciiWords.asciiWords(text)

  /** Built-ins-only tokenizer, differential-test reference for the native
    * expression (TextOpsSpec asserts equality).
    */
  def tokensBuiltins(text: Column): Column =
    regexp_extract_all(lower(text), lit(TokenPattern), lit(0))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Adjacent-word bigram shingles (distinct), the dedup unit. Backed by
    * the native [[graft.functions.WordBigrams]] (one byte scan, codegen);
    * [[bigramsBuiltins]] is the differential reference.
    */
  def bigrams(text: Column): Column =
    graft.functions.WordBigrams.wordBigrams(text)

  /** Distinct space-joined word n-grams (n=2 ≡ [[bigrams]]); the general
    * shingle unit for n-gram Jaccard dedup.
    */
  def ngrams(text: Column, n: Int): Column =
    graft.functions.WordNgrams.wordNgrams(text, n)

  /** SORTED DISTINCT polynomial hashes of the word n-grams — the compact
    * shingle-set relation the pairwise dedup paths ship and compare
    * (8-byte longs instead of shingle strings; see
    * [[graft.functions.HashedWordNgrams]]). ≡ `array_sort(array_distinct(
    * transform(ngrams(text, n), rollingHash)))` without materializing the
    * strings.
    */
  def hashedNgrams(text: Column, n: Int = 2): Column =
    graft.functions.HashedWordNgrams.hashedWordNgrams(text, n, HashMod)

  /** BPE-ish pretokenization count — the OTHER token accounting a
    * training pipeline reports alongside whitespace/word counts (budget
    * estimates, packing): letter runs, digit runs, and punctuation runs
    * each count as one pretoken, case preserved, whitespace dropped.
    * This is the RE2-safe approximation of the GPT-2 pretokenizer (whose
    * lookaheads RE2 — and hence the DuckDB oracle — cannot express);
    * subword merges would subdivide these pretokens, so it LOWER-bounds
    * the true BPE token count. The whitespace class is written out
    * explicitly because Java's `\s` and RE2's `\s` disagree on \x0B.
    */
  val BpePattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\r\\f]+"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  /** Whitespace-delimited token count (the naive budget estimate). */
  def wsTokenCount(text: Column): Column =
    size(filter(split(text, "[ \\t\\n\\r\\f]+"), t => length(t) > 0))

  /** Corpus text normalization (the cleanup pass a training-data pipeline
    * runs before dedup/quality): strip URLs, collapse whitespace runs to a
    * single space, trim. Pure built-ins — `regexp_replace` replaces all
    * occurrences in both Spark and the DuckDB oracle ('g' flag there).
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(text, lit("https?://\\S+"), lit("")),
      lit("\\s+"), lit(" ")))

  /** Built-ins-only bigrams, kept as the differential-test reference.
    *
    * Built with `zip_with(tokens, tokens[2..], concat)` — NOT
    * `transform(sequence(1, n-1), i -> element_at(ws, i) ...)`: an
    * expression referenced inside a lambda body is re-evaluated per
    * element, so the indexed form re-runs the regex tokenizer twice per
    * bigram (~100× per doc — it made shingling the dominant cost of every
    * dedup pipeline). zip_with evaluates each array argument once.
    * zip_with pads the shorter side with NULL, concat propagates the NULL,
    * and the filter drops it — which also yields [] for 0/1-token docs.
    */
  def bigramsBuiltins(text: Column): Column = {
    val ws = tokensBuiltins(text)
    val nxt = slice(ws, lit(2), greatest(size(ws) - 1, lit(0)))
    array_distinct(filter(
      zip_with(ws, nxt, (cur, nx) => concat(cur, lit(" "), nx)),
      x => x.isNotNull))
  }

  /** Polynomial rolling hash of a string → [0, 1e9+7). Matches the DuckDB
    * `list_reduce(list_prepend(0, ...))` form exactly (mod every step).
    * Backed by the native codegen'd [[graft.functions.PolyHash]] — the
    * built-in formulation ([[rollingHashBuiltins]]) allocates a
    * per-character array + two interpreted lambda dispatches per char.
    */
  def rollingHash(s: Column): Column =
    graft.functions.PolyHash.polyHash(s, HashMod)

  /** Built-ins-only rolling hash, kept as the differential-test reference
    * for the native expression (TextOpsSpec asserts equality).
    */
  def rollingHashBuiltins(s: Column): Column =
    aggregate(
      transform(regexp_extract_all(s, lit("."), lit(0)), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, c) => (acc * 31 + c) % HashMod)

  /** Content fingerprint: md5 over the sorted distinct token set — robust
    * to word order and repetition, the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " "))

  // -------------------------------------------------------------------
  // Quality scoring (length / punctuation / stopword ratios)
  // -------------------------------------------------------------------

  val Stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def stopwordRatio(text: Column): Column = {
    val ws = tokens(text)
    when(size(ws) === 0, lit(0.0)).otherwise(
      size(filter(ws, w => w.isin(Stopwords.map(x => x: Any): _*))).cast("double")
        / size(ws))
  }

  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      size(regexp_extract_all(text, lit("[^a-zA-Z0-9\\s]"), lit(0))).cast("double")
        / length(text))

  /** Composite quality score in [0,1]: long enough, words not too short /
    * too long, some (but not only) stopwords, little punctuation. A
    * heuristic filter in the C4/Gopher-rules tradition, deterministic and
    * oracle-expressible.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 50.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    val punctScore = greatest(lit(1.0) - punctRatio(text) * 10.0, lit(0.0))
    round((lenScore + stopScore + punctScore) / 3.0, 4)
  }

  // -------------------------------------------------------------------
  // Language ID (marker-token heuristic)
  // -------------------------------------------------------------------

  /** Per-language marker tokens (function-word unigrams — the degenerate
    * n=1 case of n-gram language ID; real corpora would extend the lists).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "and", "is", "of", "to"),
    "es" -> Seq("el", "la", "los", "que", "es", "y"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "zh" -> Seq("de5", "shi4", "le5", "bu4", "wo3", "ni3"))

  def markerHits(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), w => w.isin(markers.map(x => x: Any): _*)))

  /** Predicted language: argmax marker-hit count, ties broken by language
    * code ascending, no hits at all → "und" (undetermined).
    */
  /** Corpus-level language ID: label × predicted confusion counts.
    *
    * Scale shape: tokens explode ONCE per doc, hit a broadcast marker
    * table, and per-language hits come back as conditional sums keyed by
    * doc — one tokenizer pass total (the Column-level [[predictedLang]]
    * re-tokenizes once per language, fine for ad-hoc use, wrong at 100 TB).
    * Docs with zero marker hits survive via the left join → "und".
    */
  def langIdConfusion(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", labelCol: String = "lang"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val markers = LangMarkers.flatMap { case (code, ws) => ws.map(w => (w, code)) }
      .toDF("w", "marker_lang")
    val tok = graft.util.Parallelism.ensure(docs)
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("w"))
    val hitAggs = LangMarkers.map { case (code, _) =>
      sum(when(col("marker_lang") === code, 1L).otherwise(0L)).as(s"h_$code")
    }
    val hits = tok.join(broadcast(markers), "w")
      .groupBy("id").agg(hitAggs.head, hitAggs.tail: _*)
    val withIdx = LangMarkers.zipWithIndex.map { case ((code, _), i) =>
      struct(coalesce(col(s"h_$code"), lit(0L)).as("hits"),
        lit(-i).as("negIdx"), lit(code).as("code"))
    }
    val winner = array_max(array(withIdx: _*))
    docs.select(col(idCol).as("id"), col(labelCol).as("lang"))
      .join(hits, Seq("id"), "left")
      .select(col("lang"),
        when(winner.getField("hits") === 0, lit("und"))
          .otherwise(winner.getField("code")).as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("lang", "predicted")
  }

  def predictedLang(text: Column): Column = {
    // array_max over (hits, -listIndex, code) structs is lexicographic, so
    // the winner has the highest hit count and, on ties, the smallest list
    // index — i.e. first-in-LangMarkers-order, matching the oracle's CASE
    // WHEN chain.
    val withIdx = LangMarkers.zipWithIndex.map { case ((code, markers), i) =>
      struct(markerHits(text, markers).as("hits"),
        lit(-i).as("negIdx"), lit(code).as("code"))
    }
    val winner = array_max(array(withIdx: _*))
    when(winner.getField("hits") === 0, lit("und"))
      .otherwise(winner.getField("code"))
  }

  /** Per-document character Shannon entropy in integer NANO-nats — the
    * Gopher-style "is this text actually text?" quality signal: natural
    * prose sits around 2.5–3.5 nats/char, while pad/repeat junk
    * (`aaaa…`) and base64 blobs fall far outside the band.
    *
    * Entirely SCAN-STAGE — no explode, no shuffle: the char array
    * (substring fan over `sequence(1, length)` — regex-split trailing-
    * empty quirks avoided by construction) is sorted and folded once,
    * each equal-char RUN contributing `round(−(c/n)·ln(c/n)·10⁹)` as it
    * closes. Runs of the sorted array ARE the distinct-char census
    * cells, so the fold equals the census formulation the SQL oracle
    * computes via unnest + GROUP BY — cell-rounded integer nano-nats,
    * combine-order-free on both sides.
    *
    * Returns a (n_runs, ent_nano) struct column: n_runs = distinct
    * characters, ent_nano = Σ cell contributions (0 for empty/constant
    * text).
    */
  def charEntropyNano(text: Column): Column = {
    val arr = array_sort(transform(
      sequence(lit(1), length(text)), i => text.substr(i, lit(1))))
    val n = size(arr)
    // empty/null text guard BEFORE the fold: sequence(1, 0) would count
    // down, not produce an empty array
    when(text.isNull || length(text) === 0,
      struct(lit(0L).as("n_runs"), lit(0L).as("ent_nano")))
    .otherwise(aggregate(
      arr,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("k"), lit(0L).as("ent")),
      (acc, ch) => {
        val cell = round(-(acc.getField("run") / n) *
          log(acc.getField("run") / n) * lit(1e9)).cast("long")
        when(acc.getField("prev").isNotNull &&
            ch === acc.getField("prev"),
          struct(ch.as("prev"), (acc.getField("run") + 1).as("run"),
            acc.getField("k").as("k"), acc.getField("ent").as("ent")))
          .otherwise(struct(ch.as("prev"), lit(1L).as("run"),
            (acc.getField("k") + 1).as("k"),
            (acc.getField("ent") +
              when(acc.getField("prev").isNull, lit(0L)).otherwise(cell))
              .as("ent")))
      },
      acc => {
        val cell = round(-(acc.getField("run") / n) *
          log(acc.getField("run") / n) * lit(1e9)).cast("long")
        struct(acc.getField("k").as("n_runs"),
          (acc.getField("ent") +
            when(acc.getField("prev").isNull, lit(0L)).otherwise(cell))
            .as("ent_nano"))
      }))
  }
}

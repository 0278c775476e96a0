package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level statistical quality signals: the two-pass operators a
  * training-data pipeline derives FROM the corpus itself rather than
  * from per-document features — boilerplate detection by shingle
  * document-frequency (the CCNet/C4 move: text shared by many documents
  * is template noise), a corpus-unigram language-model score (the
  * sandbox-honest stand-in for a KenLM perplexity filter: rare-token-
  * heavy documents read as gibberish), and the pairwise source-overlap
  * matrix used to design de-duplicated mixtures.
  *
  * These extend the reference's profile-and-emit pattern
  * (`/root/reference/DataFrames/databand_tracking_template.py:21-31`)
  * with signals that need a full corpus pass before a document can be
  * scored.
  *
  * Scale shape, common to all three: tokens/shingles explode scan-stage
  * (no shuffle), the corpus statistic is ONE grouped count whose key is
  * the term/shingle itself — high-cardinality, so the shuffle spreads
  * evenly — and the score join re-shuffles on that same key. Per-doc
  * re-aggregation shuffles on doc_id (also high-cardinality). No
  * windows, no driver-side data; the only scalars that cross stages
  * ride a broadcast stat row (grand totals), never rows.
  */
object CorpusStats {

  /** Per-document boilerplate ratio: the fraction of the document's
    * distinct shingles that occur in at least `minDf` documents.
    * Returns idCol + carryCols + (n_shingles, n_frequent, boiler_ratio);
    * shingle-less documents score 0.0 (nothing shared ⇒ no boilerplate).
    *
    * Two passes over the shingle relation — the document-frequency
    * aggregate, then the score join — both keyed on the shingle, plus
    * the per-doc re-aggregate keyed on doc id. At 100 TB each key is
    * high-cardinality; the known hot spot (a shingle present in
    * millions of docs) still produces ONE df row and fans join rows
    * only at the docs that contain it — linear, never quadratic.
    */
  def boilerplateScores(docs: DataFrame, minDf: Long,
      idCol: String = "doc_id", textCol: String = "text",
      carryCols: Seq[String] = Seq("source")): DataFrame = {
    val carry = carryCols.map(col)
    val sh = graft.util.Parallelism.ensure(docs)
      .select(col(idCol) +: carry :+
        explode_outer(TextOps.bigrams(col(textCol))).as("s"): _*)
    val dfreq = sh.filter(col("s").isNotNull)
      .groupBy("s").agg(count(lit(1)).as("df"))
    sh.join(dfreq, Seq("s"), "left")
      .groupBy(col(idCol) +: carry: _*)
      .agg(count(col("s")).as("n_shingles"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_frequent"))
      .withColumn("boiler_ratio",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(round(col("n_frequent") / col("n_shingles"), 4)))
  }

  /** Per-document corpus-unigram negative log-likelihood: every token
    * occurrence scores ln(T / count(token)) — its surprisal under the
    * corpus's own unigram distribution — and the document's score is
    * the mean over its occurrences (rounded to 4, the engine-parity
    * convention). High avg_nll = rare-token-heavy = the documents a
    * perplexity filter would drop. Token-less documents are absent
    * from the result (they have no distribution to score under).
    *
    * The vocabulary aggregate keys on the token (high-cardinality);
    * the grand total T crosses stages as ONE broadcast stat row, and
    * the score join shuffles occurrences by token. At 100 TB the
    * vocabulary relation is bounded by distinct-token count (≪ corpus),
    * exactly like [[Relevance.tfidf]]'s df relation.
    */
  def unigramNll(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      carryCols: Seq[String] = Seq("source")): DataFrame = {
    val carry = carryCols.map(col)
    val tok = graft.util.Parallelism.ensure(docs)
      .select(col(idCol) +: carry :+
        explode(TextOps.tokens(col(textCol))).as("w"): _*)
    val vocab = tok.groupBy("w").agg(count(lit(1)).cast("double").as("cnt"))
    val total = vocab.agg(sum("cnt").as("t"))
    tok.join(vocab.crossJoin(broadcast(total)), Seq("w"))
      .groupBy(col(idCol) +: carry: _*)
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("t") / col("cnt"))), 4).as("avg_nll"))
  }

  /** Per-document duplicated-span coverage — the practical approximation
    * of suffix-array substring dedup (the "dedup exact substrings ≥ k
    * tokens" criterion): the fraction of a document's tokens covered by
    * k-token spans that also occur in at least one OTHER document.
    * Returns idCol + carryCols + (n_tokens, covered_tokens,
    * dup_coverage); docs shorter than k tokens score 0.0.
    *
    * Positional k-grams explode scan-stage from the materialized token
    * array (the array is a projected column, so the lambda reads it —
    * never re-tokenizes per span); span document-frequency is one
    * shingle-keyed aggregate; the semi-join back is shingle-keyed; and
    * the interval union runs under a window PARTITIONED BY doc_id —
    * high-cardinality, each task sweeps single documents. For
    * fixed-length sorted intervals the union length is exactly
    * Σ min(k, posᵢ − posᵢ₋₁) (first span contributes k), so no
    * interval-merge state is needed.
    */
  def spanCoverage(docs: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text",
      carryCols: Seq[String] = Seq("source")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val carry = carryCols.map(col)
    // cached (Caches.releaseAll to drop): the materialized token
    // relation feeds the span explode AND the all-docs completion join
    // — without the cache each consumer re-tokenizes the corpus
    val base = graft.util.Caches.cached(
      graft.util.Parallelism.ensure(docs)
        .select(col(idCol).as("doc_id") +: carry :+
          TextOps.tokens(col(textCol)).as("ws"): _*)
        .withColumn("n", size(col("ws")).cast("long")))
    val spans = base
      .select(col("doc_id") +: carry :+ col("n") :+ explode(
        when(col("n") >= k,
          transform(sequence(lit(0), (col("n") - k).cast("int")),
            i => struct(i.as("pos"),
              array_join(slice(col("ws"), i + 1, lit(k)), " ").as("sh"))))
          .otherwise(array().cast("array<struct<pos:int,sh:string>>")))
        .as("sp"): _*)
      .select(col("doc_id") +: carry :+ col("n") :+
        col("sp.pos").as("pos") :+ col("sp.sh").as("sh"): _*)
    val dupShingles = spans.groupBy("sh")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2).select("sh")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val covered = spans.join(dupShingles, Seq("sh"), "left_semi")
      .withColumn("prev", lag("pos", 1).over(w))
      .groupBy(col("doc_id") +: carry :+ col("n"): _*)
      .agg(sum(when(col("prev").isNull, lit(k.toLong))
        .otherwise(least(lit(k.toLong), col("pos") - col("prev"))))
        .as("covered_tokens"))
    base.select(col("doc_id") +: carry :+ col("n"): _*)
      .join(covered.select("doc_id", "covered_tokens"), Seq("doc_id"), "left")
      .na.fill(0L, Seq("covered_tokens"))
      .withColumn("dup_coverage",
        when(col("n") === 0, lit(0.0))
          .otherwise(round(col("covered_tokens") / col("n"), 4)))
      .select(col("doc_id") +: carry :+ col("n").as("n_tokens") :+
        col("covered_tokens") :+ col("dup_coverage"): _*)
  }

  /** Pairwise shingle overlap between corpus slices: for every unordered
    * source pair, the distinct-shingle intersection size and Jaccard —
    * the contamination/redundancy matrix a mixture designer reads before
    * weighting sources. Returns the FULL upper-triangular matrix
    * (zero-overlap pairs included).
    *
    * The intersection count joins the (source, shingle)-distinct
    * relation with itself ON THE SHINGLE: per-shingle fan-out is capped
    * by (#sources choose 2) — independent of corpus size — so the join
    * output is |distinct shingles| · O(S²) at worst, and the per-source
    * size relation (S rows) broadcasts to complete the matrix.
    *
    * `maxShingleSources` is the stop-shingle knob for wide-S catalogs
    * (user/tenant/domain slices, where S² per shingle is no longer
    * small): shingles present in MORE than that many sources are dropped
    * from the intersection join only — per-source sizes n_a/n_b stay
    * exact — so n_common/jaccard only ever decrease under the cap.
    */
  def sourceOverlap(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text",
      maxShingleSources: Option[Long] = None): DataFrame = {
    val sh = graft.util.Parallelism.ensure(docs)
      .select(col(groupCol).as("g"),
        explode(TextOps.bigrams(col(textCol))).as("s"))
      .distinct()
    val sizes = sh.groupBy("g").agg(count(lit(1)).as("n"))
    val shJ = maxShingleSources match {
      case Some(cap) =>
        val hot = sh.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("s")
        sh.join(broadcast(hot), Seq("s"), "left_anti")
      case None => sh
    }
    val inter = shJ.as("x").join(shJ.as("y"),
        col("x.s") === col("y.s") && col("x.g") < col("y.g"))
      .groupBy(col("x.g").as("ga"), col("y.g").as("gb"))
      .agg(count(lit(1)).as("n_common"))
    // sizes is S rows — broadcast both sides of the matrix scaffold
    val scaffold = broadcast(sizes.select(col("g").as("ga"), col("n").as("n_a")))
      .join(broadcast(sizes.select(col("g").as("gb"), col("n").as("n_b"))),
        col("ga") < col("gb"))
    scaffold.join(inter, Seq("ga", "gb"), "left")
      .na.fill(0L, Seq("n_common"))
      .withColumn("jaccard",
        round(col("n_common") / (col("n_a") + col("n_b") - col("n_common")), 4))
      .select(col("ga").as("source_a"), col("gb").as("source_b"),
        col("n_a"), col("n_b"), col("n_common"), col("jaccard"))
  }

  /** Per-source token-distribution drift: KL(source unigram dist ‖
    * corpus unigram dist) — the mixture-design diagnostic ("how far does
    * each slice sit from the blend?"; rising KL for a source between
    * corpus versions flags an extraction change upstream).
    *
    * Numerics: each term's contribution p·ln(p/q) is rounded to integer
    * NANO-nats before the per-source sum (the [[Retrieval]] micro-point
    * move) — an integer sum is order-independent, so the result is exact
    * cross-engine even though a double Σ over a large vocabulary would
    * depend on partition combine order.
    *
    * Scale shape: ONE token explode → (source, term) counts; corpus
    * counts re-aggregate that relation (no second pass); the score join
    * is term-keyed (high-cardinality), per-source totals ride a
    * broadcast; output is S stat rows.
    */
  def tokenKlReport(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val tok = graft.util.Parallelism.ensure(docs)
      .select(col(groupCol).as("g"),
        explode(TextOps.tokens(col(textCol))).as("w"))
    // sc feeds three consumers (corpus counts, totals, score join) —
    // persist the vocabulary-scale relation so tokens explode once
    val sc = graft.util.Caches.cached(
      tok.groupBy("g", "w").agg(count(lit(1)).as("c")))
    val corpus = sc.groupBy("w").agg(sum("c").as("ca"))
    val totals = sc.groupBy("g").agg(sum("c").as("t"))
    val grandRow = totals.agg(sum("t")).head()
    val grand = if (grandRow.isNullAt(0)) 1L else grandRow.getLong(0)
    val p = col("c") / col("t")
    val q = col("ca") / lit(grand)
    val nano = round((p * log(p / q)) * lit(1000000000.0)).cast("long")
    sc.join(corpus, "w")
      .join(broadcast(totals), "g")
      .select(col("g"), col("t"), nano.as("nano"))
      .groupBy("g", "t") // t is functionally dependent on g — free in the key
      .agg(count(lit(1)).as("n_terms"),
        round(sum("nano") / lit(1000000000.0), 6).as("kl"))
      .select(col("g").as(groupCol), col("n_terms"), col("t").as("n_tokens"),
        col("kl"))
      .orderBy(groupCol)
  }

  /** Vocabulary coverage / OOV report per group: induce the corpus top-V
    * vocabulary (count desc, term asc — a deterministic total order),
    * then report each group's token count, OOV token count, and OOV
    * rate against it. The tokenizer-design feedback loop: "how much of
    * each source falls outside a V-entry vocabulary".
    *
    * Scale shape: ONE token explode feeds both the vocabulary aggregate
    * and the coverage aggregate; the vocabulary (V rows, a constant) is
    * TakeOrdered'd and re-enters as a broadcast LEFT join — corpus
    * tokens never shuffle for membership. Output is one stat row per
    * group. OOV rate is an integer basis-point division at the end —
    * order-independent.
    */
  def vocabCoverage(docs: DataFrame, vocabSize: Int,
      groupCol: String = "source", textCol: String = "text"): DataFrame = {
    val tok = graft.util.Parallelism.ensure(docs)
      .select(col(groupCol).as("g"),
        explode(TextOps.tokens(col(textCol))).as("w"))
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(vocabSize)
      .select(col("w"), lit(1).as("__in"))
    tok.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("g")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("g").as(groupCol), col("n_tokens"), col("n_oov"),
        round(col("n_oov") * lit(10000) / col("n_tokens"), 4).as("oov_bp"))
      .orderBy(groupCol)
  }

  /** Zipf-law fit of the token frequency distribution: OLS slope of
    * ln(frequency) against ln(rank) over the top-`vocabSize` tokens —
    * the one-number "is this corpus natural language or templated
    * noise" diagnostic (natural text sits near −1; machine-generated /
    * boilerplate-heavy corpora flatten or steepen it).
    *
    * Shape: ONE token-census aggregate, TakeOrdered to the top V under
    * (count DESC, token ASC) — never a global sort or a corpus-scale
    * window; ranks are a row_number over those V STAT rows. Each row's
    * (x, y, xx, xy) log products round to integer NANO before the sums
    * (the house order-free convention), and the slope derives from the
    * five exact integer sums in a fixed operation order at 6 dp.
    *
    * Output: ONE row — (n_tokens, total_count, sx_nano, sy_nano,
    * sxx_nano, sxy_nano, zipf_slope).
    */
  def zipfFit(docs: DataFrame, vocabSize: Int = 200,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = docs
      .select(explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(vocabSize)
    val ranked = top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("c").desc, col("w").asc)))
    def nano(e: org.apache.spark.sql.Column) =
      round(e * lit(1e9)).cast("long")
    val cells = ranked
      .withColumn("x_nano", nano(log(col("rank").cast("double"))))
      .withColumn("y_nano", nano(log(col("c").cast("double"))))
      .withColumn("xx_nano", nano(
        log(col("rank").cast("double")) * log(col("rank").cast("double"))))
      .withColumn("xy_nano", nano(
        log(col("rank").cast("double")) * log(col("c").cast("double"))))
    val s = cells.agg(
      count(lit(1)).as("n_tokens"), sum("c").as("total_count"),
      sum("x_nano").as("sx_nano"), sum("y_nano").as("sy_nano"),
      sum("xx_nano").as("sxx_nano"), sum("xy_nano").as("sxy_nano"))
    s.withColumn("zipf_slope", round(
        (col("n_tokens").cast("double") * col("sxy_nano") / 1e9 -
          (col("sx_nano").cast("double") / 1e9) *
            (col("sy_nano").cast("double") / 1e9)) /
        (col("n_tokens").cast("double") * col("sxx_nano") / 1e9 -
          (col("sx_nano").cast("double") / 1e9) *
            (col("sx_nano").cast("double") / 1e9)), 6))
      .select("n_tokens", "total_count", "sx_nano", "sy_nano",
        "sxx_nano", "sxy_nano", "zipf_slope")
  }

  /** Good–Turing missing-mass estimate per slice — "how much
    * probability lives in tokens this slice has NEVER seen":
    * `P(unseen) ≈ n₁/N` (singleton count over token count, Good 1953),
    * the number that says whether a vocabulary/LM built on this slice
    * will keep meeting new words. The companion coverage readout is
    * Simpson-style seen-mass 1 − n₁/N, and the singleton share of the
    * vocabulary (a high-singleton vocab is still growing —
    * [[heapsFit]]'s pointwise cousin).
    *
    * ONE token scan to the (slice, token) census; everything after is
    * census-grain conditional aggregation. Exact integers + ppm floor
    * divisions.
    *
    * Output per slice: (slice, n_tokens, n_vocab, n_singletons,
    * unseen_mass_ppm, singleton_vocab_ppm), slice-ordered.
    */
  def goodTuringReport(docs: DataFrame, sliceCol: String = "source",
      textCol: String = "text"): DataFrame =
    graft.util.Parallelism.ensure(docs)
      .select(col(sliceCol).as("slice"),
        explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy("slice", "w").agg(count(lit(1)).as("c"))
      .groupBy("slice")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_singletons"))
      .select(col("slice").as(sliceCol), col("n_tokens"), col("n_vocab"),
        col("n_singletons"),
        expr("(n_singletons * 1000000L) div n_tokens")
          .as("unseen_mass_ppm"),
        expr("(n_singletons * 1000000L) div n_vocab")
          .as("singleton_vocab_ppm"))
      .orderBy(sliceCol)

  /** Heaps'-law vocabulary-growth fit — [[zipfFit]]'s companion
    * scaling law: `V(N) ≈ K·N^β` (vocab size vs tokens seen), the
    * number a tokenizer-vocab or dedup-capacity plan extrapolates
    * from. The growth curve samples at `nPoints` doc-id checkpoints
    * `tᵢ = ⌊(maxId+1)·i/nPoints⌋`: tokens-so-far is a conditional sum
    * over the per-doc token counts, vocab-so-far counts words whose
    * FIRST containing doc is ≤ tᵢ — both conditional aggregates over
    * a checkpoint fan-out of stat-grain relations (per-doc counts,
    * per-word first-doc census), no corpus-row windows. The ln–ln OLS
    * follows zipfFit's convention exactly: integer nano cells, the
    * slope (= β) and intercept the rounded doubles.
    *
    * Output (ONE row): (n_points, total_tokens, total_vocab,
    * heaps_beta, heaps_ln_k) — empty-corpus degenerate rows excluded
    * (checkpoints with zero tokens drop before the fit).
    */
  def heapsFit(docs: DataFrame, nPoints: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(nPoints >= 3, "need >= 3 points to fit")
    val toks = graft.util.Caches.cached(docs
      .select(col(idCol).as("id"),
        explode(TextOps.tokens(col(textCol))).as("w")))
    val docTok = toks.groupBy("id").agg(count(lit(1)).as("nt"))
    val firstDoc = toks.groupBy("w").agg(min("id").as("fd"))
    val bounds = docTok.agg(max("id").as("mx"))
    def points(df: DataFrame, idc: String, cnt: Column) = df
      .crossJoin(broadcast(bounds))
      .select(col(idc), cnt.as("c"),
        explode(sequence(lit(1), lit(nPoints))).as("i"),
        col("mx"))
      .groupBy("i")
      .agg(sum(when(col(idc) <= expr(s"((mx + 1) * i) div $nPoints"),
        col("c")).otherwise(0L)).as("v"))
    val tokPts = points(docTok, "id", col("nt"))
      .withColumnRenamed("v", "toks")
    val vocPts = points(firstDoc, "fd", lit(1L))
      .withColumnRenamed("v", "voc")
    def nano(e: Column) = round(e * lit(1e9)).cast("long")
    val cells = tokPts.join(vocPts, Seq("i"))
      .filter(col("toks") > 0 && col("voc") > 0)
      .withColumn("x", log(col("toks").cast("double")))
      .withColumn("y", log(col("voc").cast("double")))
      .select(col("i"), col("toks"), col("voc"),
        nano(col("x")).as("xn"), nano(col("y")).as("yn"),
        nano(col("x") * col("x")).as("xxn"),
        nano(col("x") * col("y")).as("xyn"))
    val s = cells.agg(count(lit(1)).as("n_points"),
      countDistinct(col("xn")).as("ndx"),
      max("toks").as("total_tokens"), max("voc").as("total_vocab"),
      sum("xn").as("sx"), sum("yn").as("sy"),
      sum("xxn").as("sxx"), sum("xyn").as("sxy"))
    def d(c: String) = col(c).cast("double")
    val den = d("n_points") * d("sxx") / 1e9 -
      (d("sx") / 1e9) * (d("sx") / 1e9)
    val beta = (d("n_points") * d("sxy") / 1e9 -
      (d("sx") / 1e9) * (d("sy") / 1e9)) / den
    // degenerate-x guard (e.g. a 1-doc corpus where every checkpoint
    // sees the same token count): NULL fit, never NaN. `den > 0` alone
    // is NOT robust — with constant toks the nano quantization of
    // ln(toks) can leave den a tiny positive rounding artifact
    // (~n²·2e-8), passing the guard and emitting a noise-derived beta;
    // requiring ≥2 DISTINCT quantized x values tests degeneracy
    // directly.
    val fit = col("n_points") >= 3 && col("ndx") >= 2 && den > 0
    s.select(col("n_points"), col("total_tokens"), col("total_vocab"),
      when(fit, round(beta, 6)).as("heaps_beta"),
      when(fit,
        round((d("sy") / 1e9 - beta * d("sx") / 1e9) / d("n_points"), 6))
        .as("heaps_ln_k"))
  }

  /** Per-document interpolated BIGRAM negative log-likelihood — the
    * stronger gibberish filter over [[unigramNll]]: word salad whose
    * unigrams are all common still scores badly when its transitions
    * are rare. Jelinek–Mercer interpolation,
    * `P(w|p) = λ·f_pw/f_p + (1−λ)·f_w/N` with λ = `lambdaPct`/100, so
    * unseen-in-context bigrams back off to the unigram rate instead of
    * −∞.
    *
    * Exactness: every count is an integer; each bigram INSTANCE
    * contributes `round(−ln(P)·10⁹)` nano-nats (identical instances →
    * identical integers, so the per-doc Σ is order-free), and the doc
    * mean is the exact floor `Σ div n`. Scale shape: one token scan
    * explodes bigram instances scan-stage (zip-with-next over the token
    * array — no self-join); the (p, w) census re-aggregates from the
    * instances; f_p / f_w attach to the CENSUS (census-grain joins),
    * and the one instance-grain join is the (p, w) equi-join back —
    * the stats ride one relation, so instances shuffle once.
    *
    * Output: (idCol, carryCols..., n_bigrams, nll_nano) — nll_nano NULL
    * for docs with < 2 tokens (kept via left join, n_bigrams 0).
    */
  def bigramNll(docs: DataFrame, lambdaPct: Int = 75,
      idCol: String = "doc_id", textCol: String = "text",
      carryCols: Seq[String] = Seq("source")): DataFrame = {
    require(lambdaPct > 0 && lambdaPct < 100, "lambdaPct in (0, 100)")
    val carry = carryCols.map(col)
    val lam = lambdaPct / 100.0
    val toks = graft.util.Parallelism.ensure(docs)
      .select(col(idCol), TextOps.tokens(col(textCol)).as("ws"))
    val inst = graft.util.Caches.cached(toks
      .filter(size(col("ws")) >= 2) // slice length must stay >= 0
      .select(col(idCol), explode(expr(
        "transform(slice(ws, 1, size(ws) - 1)," +
          " (x, i) -> struct(x AS p, ws[i + 1] AS w))")).as("b"))
      .select(col(idCol), col("b.p").as("p"), col("b.w").as("w")))
    val bi = inst.groupBy("p", "w").agg(count(lit(1)).as("f_pw"))
    val uniP = inst.groupBy("p").agg(count(lit(1)).as("f_p"))
    // unigram backoff uses the bigram-position census (token starts):
    // the same N normalizes both terms, keeping P a true mixture
    val uniW = inst.groupBy("w").agg(count(lit(1)).as("f_w"))
    val nAll = inst.agg(count(lit(1)).as("n_all"))
    val stats = bi.join(uniP, Seq("p")).join(uniW, Seq("w"))
      .crossJoin(broadcast(nAll))
    val cell = round(-log(lit(lam) * (col("f_pw") / col("f_p")) +
      lit(1.0 - lam) * (col("f_w") / col("n_all"))) * lit(1e9))
      .cast("long")
    val perDoc = inst.join(stats, Seq("p", "w"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum(cell).as("s"))
    docs.select(col(idCol) +: carry: _*)
      .join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_bigrams"))
      .select(col(idCol) +: carry :+ col("n_bigrams") :+
        when(col("n_bigrams") > 0, expr("s div n_bigrams"))
          .as("nll_nano"): _*)
      .orderBy(idCol)
  }

  /** Per-document interpolated KNESER–NEY bigram negative
    * log-likelihood — the stronger language-model scorer over the
    * Jelinek–Mercer mixture of [[bigramNll]] (public method: Kneser &
    * Ney 1995; Chen & Goodman 1999's interpolated form): absolute
    * discounting with a CONTINUATION-probability backoff,
    * `P(w|p) = (c(pw) − D)/c(p·) + D·N1+(p·)/c(p·) · N1+(·w)/T`,
    * where N1+(p·)/N1+(·w) count distinct continuations/histories and
    * T is the bigram-type count — "how many contexts has w completed"
    * replaces raw frequency, which is what stops boilerplate tokens
    * (frequent but context-locked) looking fluent.
    *
    * Exactness: every statistic is an integer count off the bigram
    * census (distinct-continuation counts are just census row counts —
    * no extra scan); each bigram instance contributes
    * `round(−ln(P)·10⁹)` nano-nats and the doc mean is `Σ div n`.
    * Scoring the corpus's own bigrams means c(pw) ≥ 1 > D, so P > 0
    * always — the unseen-event branch never arises. Same
    * one-instance-join scale shape as [[bigramNll]].
    *
    * Output: (idCol, carryCols..., n_bigrams, kn_nll_nano) — NULL for
    * docs with < 2 tokens.
    */
  def bigramKnNll(docs: DataFrame, discountPct: Int = 75,
      idCol: String = "doc_id", textCol: String = "text",
      carryCols: Seq[String] = Seq("source")): DataFrame = {
    require(discountPct > 0 && discountPct < 100, "discountPct in (0, 100)")
    val carry = carryCols.map(col)
    val d = discountPct / 100.0
    val toks = graft.util.Parallelism.ensure(docs)
      .select(col(idCol), TextOps.tokens(col(textCol)).as("ws"))
    val inst = graft.util.Caches.cached(toks
      .filter(size(col("ws")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(slice(ws, 1, size(ws) - 1)," +
          " (x, i) -> struct(x AS p, ws[i + 1] AS w))")).as("b"))
      .select(col(idCol), col("b.p").as("p"), col("b.w").as("w")))
    val bi = graft.util.Caches.cached(
      inst.groupBy("p", "w").agg(count(lit(1)).as("f_pw")))
    // f_p = Σ_w f_pw and N1+(p·) = #census rows for p — one census agg
    val up = bi.groupBy("p")
      .agg(sum("f_pw").as("f_p"), count(lit(1)).as("n1_fwd"))
    val uw = bi.groupBy("w").agg(count(lit(1)).as("n1_back"))
    val types = bi.agg(count(lit(1)).as("n_types"))
    val stats = bi.join(up, Seq("p")).join(uw, Seq("w"))
      .crossJoin(broadcast(types))
    val cell = round(-log(
      (col("f_pw") - lit(d)) / col("f_p") +
        lit(d) * col("n1_fwd") / col("f_p") *
          (col("n1_back") / col("n_types"))) * lit(1e9))
      .cast("long")
    val perDoc = inst.join(stats, Seq("p", "w"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum(cell).as("s"))
    docs.select(col(idCol) +: carry: _*)
      .join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_bigrams"))
      .select(col(idCol) +: carry :+ col("n_bigrams") :+
        when(col("n_bigrams") > 0, expr("s div n_bigrams"))
          .as("kn_nll_nano"): _*)
      .orderBy(idCol)
  }

  /** Vocabulary coverage curve: what share of all token INSTANCES do
    * the top-V vocabulary entries cover, for each candidate budget —
    * the tokenizer/vocab sizing signal (diminishing coverage returns
    * tell you where to stop).
    *
    * One token scan to the census; the top-maxV cut is TakeOrdered
    * under the (count desc, token asc) total order (never a global
    * sort); the cumulative window runs over ≤ maxV STAT rows; each
    * requested budget reads its cumulative row. Exact ppm via `div`.
    *
    * Output: (vocab_size, n_vocab_total, covered, total_tokens,
    * coverage_ppm), budget-ordered; budgets above the distinct-token
    * count report full-vocabulary coverage of their available rows.
    */
  def vocabCoverageCurve(docs: DataFrame, budgets: Seq[Int],
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgets.nonEmpty, "budgets must be non-empty")
    val maxV = budgets.max
    val census = graft.util.Caches.cached(docs
      .select(explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c")))
    val totals = census.agg(sum("c").as("total_tokens"),
      count(lit(1)).as("n_vocab_total"))
    val top = census.orderBy(col("c").desc, col("w").asc).limit(maxV)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("c").desc, col("w").asc)))
      .withColumn("cum", sum("c").over(
        Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)))
    val budgetRows = budgets.sorted.map(v =>
      struct(lit(v).as("vocab_size")))
    val wanted = top.select(col("rank"), col("cum"))
      .join(broadcast(totals.select(
        explode(array(budgetRows: _*)).as("b"),
        col("total_tokens"), col("n_vocab_total"))),
        col("rank") === least(col("b.vocab_size"), col("n_vocab_total")))
    wanted.select(col("b.vocab_size").as("vocab_size"),
        col("n_vocab_total"), col("cum").as("covered"),
        col("total_tokens"),
        expr("(cum * 1000000L) div total_tokens").as("coverage_ppm"))
      .orderBy("vocab_size")
  }

  /** Class-discriminative vocabulary per corpus slice — Monroe/Colaresi/
    * Quinn "Fightin' Words" log-odds with an informative Dirichlet
    * prior: for each group g and token w, how much more than the REST
    * of the corpus does g use w, shrunk toward the corpus rate so rare
    * tokens can't dominate on noise (the failure mode of raw PMI /
    * TF-IDF rankings). The standard "what characterizes each source"
    * audit before mixing corpora.
    *
    * δ = ln(a₁/b₁) − ln(a₂/b₂) with a₁ = y_gw + α_w,
    * b₁ = (n_g + α₀ − y_gw) − α_w (rest-slice a₂/b₂ analogous),
    * α_w = α₀·(y_w/n); z = δ/√(1/a₁ + 1/a₂) (the usual variance
    * approximation dropping the b-terms). All inputs are exact integer
    * counts; the doubles derive from them with the identical expression
    * tree in the SQL oracle, so z at 6 dp hashes cross-engine.
    *
    * Scale shape: one token scan to the cached (g, w) census; token and
    * group totals re-aggregate the census (stat grain); the vocabulary
    * cut is TakeOrdered under the (count desc, token asc) total order —
    * never a global sort — and broadcasts; the FULL G×V grid is
    * reconstituted from the marginals (the chiSquare move) so zero
    * cells surface with their strongly negative δ instead of silently
    * dropping. The rank window runs over G·V stat rows only.
    *
    * Output: (group, token, y_gw, y_w, n_g, z_lo, rank) — top `topK`
    * per group by (z desc, token asc), (group, rank)-ordered.
    */
  def distinctiveTerms(docs: DataFrame, groupCol: String = "source",
      vocabSize: Int = 500, alpha0: Long = 1000L, topK: Int = 10,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val census = graft.util.Caches.cached(docs
      .select(col(groupCol).as("g"),
        explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy("g", "w").agg(count(lit(1)).as("y_gw")))
    val vocab = census.groupBy("w").agg(sum("y_gw").as("y_w"))
      .orderBy(col("y_w").desc, col("w").asc).limit(vocabSize)
    val gTotals = census.groupBy("g").agg(sum("y_gw").as("n_g"))
    val nAll = gTotals.agg(sum("n_g").as("n_all"))
    val grid = gTotals.crossJoin(broadcast(vocab))
      .join(census, Seq("g", "w"), "left")
      .na.fill(0L, Seq("y_gw"))
      .crossJoin(broadcast(nAll))
    val aw = lit(alpha0) * (col("y_w") / col("n_all"))
    val a1 = col("y_gw") + aw
    val b1 = (col("n_g") + lit(alpha0) - col("y_gw")) - aw
    val a2 = (col("y_w") - col("y_gw")) + aw
    val b2 = ((col("n_all") - col("n_g") + lit(alpha0)) -
      (col("y_w") - col("y_gw"))) - aw
    val z = round((log(a1 / b1) - log(a2 / b2)) /
      sqrt(lit(1.0) / a1 + lit(1.0) / a2), 6)
    grid
      .withColumn("z_lo", z)
      .withColumn("rank", row_number().over(Window.partitionBy("g")
        .orderBy(col("z_lo").desc, col("w").asc)).cast("int"))
      .filter(col("rank") <= topK)
      .select(col("g").as(groupCol), col("w").as("token"),
        col("y_gw"), col("y_w"), col("n_g"), col("z_lo"), col("rank"))
      .orderBy(groupCol, "rank")
  }
}

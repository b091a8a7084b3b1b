package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * The reference has no text analytics (its only string ops are lowercase +
  * whitelist membership — reference: dags/etl/schema_check.py:176-181); these
  * are the SURVEY.md §7.3.7 extensions. Everything below is built-in-only
  * (codegen'd, no UDFs): `regexp_extract_all` tokenization, higher-order
  * `filter`/`transform`/`aggregate` lambdas, `md5` fingerprints.
  *
  * Scale posture: every operator is a projection or a single hash aggregate —
  * no self-joins, no windows over the whole corpus, no collect. Token
  * explosion (`topTokens`) does one explode + one partial-aggregated groupBy;
  * at 100 TB the explode fan-out (~tokens/doc) is bounded and map-side
  * combine collapses the long tail before the shuffle.
  */
object TextAnalysis {

  /** Whitespace/punctuation-robust tokenizer: all [a-z0-9]+ runs, lowercased.
    * A "BPE-ish" regex in the sense that it splits on every non-alnum byte
    * and never produces empty tokens (unlike split-on-whitespace).
    */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Token COUNT without materializing the token array: `regexp_count`
    * walks the same matches `tokens` extracts but allocates nothing —
    * identical to `size(tokens(text))` (TextAnalysisSpec pins it), ~2×
    * on count-only scans. Use wherever the array itself is not needed. */
  def tokenCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z0-9]+"))

  /** Corpus rollup per (lang, source): doc counts, token counts, avg chars.
    * One aggregation pass. */
  def textStats(docs: DataFrame): DataFrame =
    docs.select(col("lang"), col("source"), col("n_chars"),
        tokenCount(col("text")).as("n_tokens"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(avg(col("n_tokens")), 6).as("avg_tokens"),
        round(avg(col("n_chars")), 6).as("avg_chars"))
      .orderBy(col("lang"), col("source"))

  /** Top-k corpus vocabulary with deterministic tie-break (count desc, token
    * asc). explode → partial-agg groupBy → single top-k. */
  def topTokens(docs: DataFrame, k: Int): DataFrame =
    docs.select(explode_outer(tokens(col("text"))).as("token"))
      .where(col("token").isNotNull) // outer: avoids InferFiltersFromGenerate
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /** Language marker words: tiny per-language stopword sets. On real corpora
    * these would be the top character n-grams / function words per language;
    * the mechanism (per-language hit scoring, deterministic argmax) is the
    * operator under test. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de", "que"),
    "fr" -> Seq("le", "la", "et", "les"))

  private def hitCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => markers.map(m => t === lit(m)).reduce(_ || _)))

  /** N-gram-heuristic language ID: score = marker-word hits per language,
    * predicted = argmax with ties broken alphabetically, 'unk' when no
    * marker hits at all. Pure projection — embarrassingly parallel. */
  def withLangId(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scored = docs.withColumn("__t", toks)
      .withColumn("s_de", hitCount(col("__t"), langMarkers(0)._2))
      .withColumn("s_en", hitCount(col("__t"), langMarkers(1)._2))
      .withColumn("s_es", hitCount(col("__t"), langMarkers(2)._2))
      .withColumn("s_fr", hitCount(col("__t"), langMarkers(3)._2))
    scored.withColumn("predicted_lang",
      when(greatest(col("s_de"), col("s_en"), col("s_es"), col("s_fr")) === 0, lit("unk"))
        .when(col("s_de") >= col("s_en") && col("s_de") >= col("s_es")
          && col("s_de") >= col("s_fr"), lit("de"))
        .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), lit("en"))
        .when(col("s_es") >= col("s_fr"), lit("es"))
        .otherwise(lit("fr")))
      .drop("__t")
  }

  /** Confusion rollup of the language-ID heuristic vs the labeled lang. */
  def langIdConfusion(docs: DataFrame): DataFrame =
    withLangId(docs)
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted_lang"))

  /** Quality scoring: length/stopword/token-shape ratios combined into a
    * bounded linear score. Deliberately transcendental-free (no exp/log) so
    * the score is bit-reproducible across engines (SURVEY.md §7.5.1c).
    */
  def qualityScored(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.withColumn("__t", toks)
      .withColumn("n_tokens", size(col("__t")).cast("long"))
      .withColumn("stop_hits",
        hitCount(col("__t"), Seq("the", "a", "of", "and", "is", "in")).cast("long"))
      .withColumn("avg_token_len",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(
            aggregate(col("__t"), lit(0L), (acc, t) => acc + length(t))
              .cast("double") / col("n_tokens")))
      .withColumn("stopword_ratio",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("stop_hits").cast("double") / col("n_tokens")))
      .withColumn("quality_score", round(
        least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.5
          + col("stopword_ratio") * 0.3
          + least(col("avg_token_len") / 8.0, lit(1.0)) * 0.2, 6))
      .drop("__t")
  }

  /** Per-document quality rows (projection only). */
  def qualityScores(docs: DataFrame): DataFrame =
    qualityScored(docs)
      .select(col("doc_id"), col("n_tokens"), col("stopword_ratio"),
        round(col("avg_token_len"), 6).as("avg_token_len"), col("quality_score"))
      .orderBy(col("doc_id"))

  /** Gopher/C4-style HARD quality rules — boolean per-document gates, as
    * opposed to [[qualityScored]]'s continuous score. Production filters
    * are rule lists (Rae et al. 2021 "Gopher" §A1.1; Raffel et al. 2020
    * "C4"): each rule kills documents independently, and the pipeline
    * must account for per-rule attrition, not just the survivor count —
    * a rule that silently removes 40% of one language is a data bug.
    * Pure projection; thresholds are integer/rational so the flags are
    * bit-reproducible across engines. */
  def qualityFlags(docs: DataFrame, minTokens: Int = 20,
                   minAvgLen: Double = 3.0, maxAvgLen: Double = 10.0,
                   minStopHits: Int = 2): DataFrame =
    qualityScored(docs)
      .withColumn("pass_min_tokens", col("n_tokens") >= minTokens)
      .withColumn("pass_avg_len",
        col("avg_token_len") >= minAvgLen && col("avg_token_len") <= maxAvgLen)
      .withColumn("pass_stopwords", col("stop_hits") >= minStopHits)
      .withColumn("keep",
        col("pass_min_tokens") && col("pass_avg_len") && col("pass_stopwords"))

  /** Per-language attrition funnel over [[qualityFlags]]: documents
    * scanned, survivors of each rule, and survivors of all rules — one
    * hash aggregate. */
  def qualityFunnel(docs: DataFrame): DataFrame =
    qualityFlags(docs)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pass_min_tokens"), 1L).otherwise(0L)).as("n_min_tokens"),
        sum(when(col("pass_avg_len"), 1L).otherwise(0L)).as("n_avg_len"),
        sum(when(col("pass_stopwords"), 1L).otherwise(0L)).as("n_stopwords"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .orderBy(col("lang"))

  /** TF-IDF: per-doc top-k tokens by tf × ln(N/df). Classic IR weighting
    * (Salton & Buckley) as three hash aggregates + one broadcast of the
    * single-row corpus count — no driver-side collect, fully lazy.
    *
    * `docFilter` restricts the OUTPUT docs only; document frequency is
    * computed over the whole corpus first (filtering before df would
    * change the statistic). */
  def tfIdf(docs: DataFrame, topK: Int,
            docFilter: Column = lit(true)): DataFrame = {
    // tf feeds the df re-aggregation AND the score join
    val tf = Retrieval.tfFrame(docs)
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "token").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token").asc)
    scored.where(docFilter)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("tfidf"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Unigram-LM perplexity scoring — the classic LM-quality filter for
    * training corpora (cf. the CCNet-style perplexity gate): train an
    * add-α-smoothed unigram model ON the corpus itself, score each doc by
    * `ppl = exp(−Σ m_w · ln p(w) / Σ m_w)` with
    * `p(w) = (count(w)+α) / (T+α·V)`. High perplexity = token
    * distribution far from the corpus norm (gibberish, boilerplate,
    * wrong-language); the downstream gate thresholds or buckets it.
    *
    * Scale posture: ONE corpus scan → per-(doc, token) counts (map-side
    * combine); the vocabulary and the (T, V) totals re-aggregate FROM
    * that same grouped frame, so Catalyst reuses the exchange instead of
    * re-scanning the corpus (PlanShapeSpec pins scan-count 1). The
    * score join shuffles on token — vocabulary-sized, not corpus-sized,
    * and AQE broadcasts it while it fits; the totals ride a broadcast
    * one-row frame exactly like [[tfIdf]]'s corpus count. No driver-side
    * state, no UDFs — ln/exp are codegen'd builtins.
    *
    * Determinism: pure arithmetic on exact counts; round(…, 6) keeps the
    * float surface inside the repo's cross-engine convention (ln is not
    * bit-standardized, but 6 dp sits ~9 orders above double ulp noise —
    * same precedent as tfIdf). Zero-token docs have no defined perplexity
    * and are excluded (the quality gate drops them upstream anyway). */
  def unigramPerplexity(docs: DataFrame, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"need positive smoothing alpha: $alpha")
    // (doc, token, tf) feeds the model re-aggregation AND the score join
    val tf = Retrieval.tfFrame(docs)
    val vocab = tf.groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
    val totals = vocab.agg(sum(col("cnt")).as("T"),
      count(lit(1)).as("V"))
    tf.join(vocab, "token")
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        (-sum(col("tf") * log((col("cnt") + lit(alpha)) /
            (col("T") + lit(alpha) * col("V"))))
          / sum(col("tf"))).as("nll"))
      .select(col("doc_id"), col("n_tokens"),
        round(exp(col("nll")), 6).as("ppl"))
  }

  /** Bigram-LM perplexity — the sequence-aware upgrade of
    * [[unigramPerplexity]] (production perplexity gates are n-gram LMs,
    * cf. CCNet's KenLM): train add-α-smoothed bigram conditionals ON the
    * corpus, score each doc by `ppl = exp(−Σ m·ln p(w₂|w₁) / Σ m)` with
    * `p(w₂|w₁) = (c(w₁w₂)+α) / (c₁(w₁)+α·V)`, V = corpus unigram
    * vocabulary and c₁(w₁) = how often w₁ starts a bigram. A doc whose
    * token ORDER is scrambled keeps its unigram ppl but its bigram ppl
    * explodes — exactly the gibberish signal unigrams cannot see.
    *
    * Shape mirrors the unigram scorer: bigrams are built INSIDE the
    * projection (a HOF over the token array — no positional self-join),
    * then one (doc, bigram) aggregation with map-side combine; the
    * model re-aggregates FROM that grouped frame; the score join is
    * bigram-vocabulary-sized. Docs with < 2 tokens have no bigrams and
    * are absent, like the unigram scorer's zero-token exclusion. */
  def bigramPerplexity(docs: DataFrame, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"need positive smoothing alpha: $alpha")
    // token array MATERIALIZED per row before element reads: passing the
    // raw regexp expression into the HOF re-evaluates the whole extract
    // per element_at (the ProductQuant withNormalized lesson)
    val bigrams = transform(sequence(lit(1), size(col("__t")) - 1),
      i => concat(element_at(col("__t"), i), lit(" "),
        element_at(col("__t"), i + 1)))
    // same build-once checkpoint (and stated durability tradeoff) as
    // [[unigramPerplexity]]'s dt
    val dt = Spread(docs)
      .withColumn("__t", tokens(col("text")))
      .where(size(col("__t")) >= 2)
      .select(col("doc_id"), explode_outer(bigrams).as("bg"))
      .where(col("bg").isNotNull) // computed-array explode trap
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("m"))
      .localCheckpoint(true)
    val c2 = dt.groupBy(col("bg")).agg(sum(col("m")).as("c2"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vocab = docs.select(explode_outer(tokens(col("text"))).as("tok"))
      .where(col("tok").isNotNull)
      .agg(countDistinct(col("tok")).as("V"))
    dt.join(c2.select(col("bg"), col("w1"), col("c2")), "bg")
      .join(c1, "w1")
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).cast("long").as("n_bigrams"),
        (-sum(col("m") * log((col("c2") + lit(alpha)) /
            (col("c1") + lit(alpha) * col("V"))))
          / sum(col("m"))).as("nll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(exp(col("nll")), 6).as("ppl"))
  }

  /** Vocabulary growth curve (the Heaps'-law sizing pass): distinct-token
    * count within each document-id prefix of the corpus — the curve a
    * tokenizer/vocab budget is planned from ("how fast does vocabulary
    * still grow at our scale?"). ONE corpus scan: each token reduces to
    * its FIRST document (min doc_id), then the curve is a cumulative
    * count over the prefix grid — never one distinct-aggregation per
    * grid point. */
  def vocabGrowth(docs: DataFrame, prefixes: Seq[Long]): DataFrame = {
    require(prefixes.nonEmpty && prefixes == prefixes.sorted,
      s"prefix grid must be ascending: $prefixes")
    val firstSeen = Spread(docs)
      .select(col("doc_id"),
        explode_outer(tokens(col("text"))).as("token"))
      .where(col("token").isNotNull)
      .groupBy(col("token")).agg(min(col("doc_id")).as("first_doc"))
    val grid = typedLit(prefixes)
    firstSeen
      .select(explode(grid).as("prefix_docs"), col("first_doc"))
      .where(col("first_doc") < col("prefix_docs"))
      .groupBy(col("prefix_docs"))
      .agg(count(lit(1)).as("vocab"))
      .orderBy(col("prefix_docs"))
  }

  /** Top-k collocations by pointwise mutual information — the classic
    * phrase-mining pass (Church & Hanks 1990): PMI(a,b) =
    * ln( (c₂(ab)/T₂) / ((c₁(a)/T₁)·(c₁(b)/T₁)) ), ranked on the ROUNDED
    * value (deterministic cross-engine ties), restricted to pairs seen
    * ≥ `minCount` times (PMI is notoriously noisy on rare pairs). Same
    * shapes as [[bigramPerplexity]]: corpus-scan aggregations, then
    * vocabulary-scale joins. */
  def collocationsPmi(docs: DataFrame, minCount: Long = 5L,
                      topK: Int = 20): DataFrame = {
    val bigrams = transform(sequence(lit(1), size(col("__t")) - 1),
      i => concat(element_at(col("__t"), i), lit(" "),
        element_at(col("__t"), i + 1)))
    val c2 = Spread(docs)
      .withColumn("__t", tokens(col("text")))
      .where(size(col("__t")) >= 2)
      .select(explode_outer(bigrams).as("bg"))
      .where(col("bg").isNotNull)
      .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val c1 = docs.select(explode_outer(tokens(col("text"))).as("w"))
      .where(col("w").isNotNull)
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val t2 = c2.agg(sum(col("c2")).as("T2"))
    val t1 = c1.agg(sum(col("c1")).as("T1"))
    val scored = c2.where(col("c2") >= minCount)
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(c1.select(col("w").as("w1"), col("c1").as("ca")), "w1")
      .join(c1.select(col("w").as("w2"), col("c1").as("cb")), "w2")
      .crossJoin(broadcast(t2)).crossJoin(broadcast(t1))
      .withColumn("pmi", round(
        log((col("c2").cast("double") / col("T2"))
          / ((col("ca").cast("double") / col("T1"))
            * (col("cb").cast("double") / col("T1")))), 6))
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc))
        .cast("long"))
      .where(col("rank") <= topK)
      .select(col("rank"), col("w1"), col("w2"), col("c2"), col("pmi"))
      .orderBy(col("rank"))
  }

  /** Document fingerprinting: md5 over the whitespace-normalized lowercased
    * token stream — the canonical-form hash used for exact dedup at scale
    * (one groupBy on a 32-char key instead of full-text comparison). */
  def fingerprint(text: Column): Column =
    md5(array_join(tokens(text), " "))

  /** Exact-dedup surface on the fingerprint: one group per distinct content,
    * survivor = smallest doc_id (deterministic; SURVEY.md §2.5 D1/D2 at
    * document scale). */
  def fingerprintDedup(docs: DataFrame): DataFrame =
    docs.select(fingerprint(col("text")).as("fingerprint"), col("doc_id"))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("survivor_doc_id"))
      .orderBy(col("fingerprint"))

  /** Incremental-ingest dedup: which documents of a new `batch` are
    * genuinely new vs already present in `corpus`, by canonical content
    * [[fingerprint]] — the daily-crawl shape (match new files against an
    * existing 100 TB corpus WITHOUT re-deduping the corpus). Per-group
    * report: batch size and new-document count.
    *
    * Scale shape: the corpus reduces to its distinct 32-char fingerprint
    * set — a corpus-cardinality shuffle of 32-byte keys, paid ONCE and
    * amortized by persisting the set bucketed on `fp` (BucketingSpec's
    * zero-Exchange join), after which each daily batch joins with only a
    * batch-sized shuffle. The full text never shuffles and nothing is
    * pairwise. */
  def incrementalDedupReport(corpus: DataFrame, batch: DataFrame,
                             groupCols: Seq[String]): DataFrame = {
    val seen = corpus.select(fingerprint(col("text")).as("fp"))
      .distinct().withColumn("__seen", lit(1))
    batch.withColumn("fp", fingerprint(col("text")))
      .join(seen, Seq("fp"), "left")
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_batch"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_new"))
      .orderBy(groupCols.map(col): _*)
  }

  /** Per-document repetition scoring: the share of the document taken by
    * its single most frequent token — the cheap boilerplate/spam signal a
    * training pipeline thresholds on (a doc that is 40% one token is
    * generated/repeated content, not prose). Token-less docs are absent
    * (no tokens → nothing to score).
    *
    * Shape: explode (positional tokens, NOT distinct — repetition is the
    * point) → (doc, token) counts → per-doc rollup in a second hash
    * aggregate. The min(struct(-count, token)) trick folds argmax-with-
    * deterministic-tie-break (highest count, then alphabetically first
    * token) into the same aggregation pass — no window, no self-join. */
  def repetitionScores(docs: DataFrame): DataFrame = {
    val toks = Spread(docs)
      .select(col("doc_id"), explode_outer(tokens(col("text"))).as("token"))
      .where(col("token").isNotNull) // outer: avoids InferFiltersFromGenerate
    val counts = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        min(struct((-col("c")).as("nc"), col("token").as("t"))).as("top"))
      .select(col("doc_id"), col("n_tokens"),
        col("top.t").as("top_token"),
        (-col("top.nc")).as("top_count"),
        round((-col("top.nc")).cast("double") / col("n_tokens"), 6)
          .as("top_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Token-count estimators, rolled up per language — the budgeting pass a
    * training pipeline runs before tokenizing 100 TB for real. Three
    * standard estimates per document, cheapest to closest:
    *  - whitespace runs (`\S+`) — classic word count;
    *  - a BPE-ish pre-tokenizer count: letter runs, single digits, single
    *    punctuation marks (the granularity byte-pair tokenizers split at
    *    before merges — digits and punctuation rarely merge);
    *  - the chars/4 rule of thumb used for quick corpus sizing.
    * One projection + one hash aggregate; no explode (counting needs only
    * `size`, never the token rows). */
  def tokenEstimates(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        // counts only — regexp_count never materializes the match arrays
        // (same swap as [[tokenCount]]; TokenEstimates needs no tokens)
        regexp_count(col("text"), lit("\\S+"))
          .cast("long").as("ws"),
        regexp_count(col("text"),
            lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"))
          .cast("long").as("bpe"),
        ceil(length(col("text")) / 4.0).cast("long").as("est4"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("est4")).as("char_est_tokens"))
      .orderBy(col("lang"))

  /** Jensen–Shannon divergence between per-group token distributions —
    * the data-mix diagnostic a training pipeline watches when blending
    * sources/languages (Lin 1991): 0 = identical unigram distributions,
    * ln 2 ≈ 0.693 = disjoint. JS (not KL) because real corpora always
    * have tokens unique to one side, where KL is infinite and JS is
    * finite by construction (0·ln 0 ≡ 0; the mixture m = (p+q)/2 is
    * positive wherever either side is).
    *
    * For every group pair (a < b): p(w) = cₐ(w)/Tₐ and q(w) = c_b(w)/T_b
    * over the PAIR'S UNION vocabulary (each side's full mass lives
    * there, so p and q are genuine distributions — no smoothing needed).
    *
    * Shape: ONE corpus scan → (group, token) counts; the pair frame is
    * groups² rows (languages/sources — single digits); the union-vocab
    * expansion is a pair-count × vocab-sized join, never corpus-sized;
    * one final hash aggregate per pair. At 100 TB the corpus is touched
    * once and everything downstream is vocabulary-scale. */
  def tokenDivergence(docs: DataFrame,
                      groupCol: String = "lang"): DataFrame = {
    val counts = Spread(docs)
      .select(col(groupCol).as("g"),
        explode_outer(tokens(col("text"))).as("token"))
      .where(col("token").isNotNull)
      .groupBy(col("g"), col("token"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("g")).agg(sum(col("c")).as("t"))
    val pairs = totals.select(col("g").as("ga"), col("t").as("ta"))
      .crossJoin(totals.select(col("g").as("gb"), col("t").as("tb")))
      .where(col("ga") < col("gb"))
    val u = pairs.join(counts,
        col("g") === col("ga") || col("g") === col("gb"))
      .groupBy(col("ga"), col("gb"), col("ta"), col("tb"), col("token"))
      .agg(sum(when(col("g") === col("ga"), col("c")).otherwise(0L)).as("ca"),
        sum(when(col("g") === col("gb"), col("c")).otherwise(0L)).as("cb"))
    val p = col("ca").cast("double") / col("ta").cast("double")
    val q = col("cb").cast("double") / col("tb").cast("double")
    val m = (p + q) / 2.0
    u.groupBy(col("ga").as("group_a"), col("gb").as("group_b"))
      .agg(count(lit(1)).as("vocab_union"),
        round(sum(
          when(col("ca") > 0, p * log(p / m)).otherwise(0.0) * 0.5 +
            when(col("cb") > 0, q * log(q / m)).otherwise(0.0) * 0.5), 6)
          .as("js_div"))
      .orderBy(col("group_a"), col("group_b"))
  }

  /** Feature hashing (Weinberger et al., "Feature Hashing for Large
    * Scale Multitask Learning", ICML'09 — the HashingVectorizer /
    * Vowpal Wabbit trick): each token lands in bucket `h % dim` with
    * sign `(h div dim) even ? +1 : −1`, h = the md5-hex32 portable
    * hash ([[Sampling.hashBucket]]'s family, reproducible in any
    * engine). No vocabulary, no fit, no driver state — the property
    * that makes it THE text→vector bridge at 100 TB: a pure
    * per-token computation followed by one combiner-friendly
    * aggregation, embarrassingly parallel and identical on every
    * executor forever (signed hashing keeps collision noise
    * zero-mean).
    *
    * Returns the SPARSE form (doc_id, bucket, weight) — what survives
    * the single (doc_id, bucket) shuffle; densify with
    * [[hashingVectorizer]]. The explode is `explode_outer` +
    * `isNotNull` (the InferFiltersFromGenerate re-evaluation trap —
    * see the verify notes). */
  def hashedFeatures(docs: DataFrame, dim: Int = 64): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode_outer(tokens(col("text"))).as("t"))
      .where(col("t").isNotNull)
      .withColumn("hv",
        conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long"))
    tok
      .withColumn("bucket", (col("hv") % dim).cast("int"))
      .withColumn("s",
        when(expr(s"hv div $dim") % 2 === 0, 1.0).otherwise(-1.0))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("s")).as("weight"))
  }

  /** [[hashedFeatures]] computed FROM a pre-grouped (doc_id, token, tf)
    * postings frame (Retrieval.tfFrame) — same buckets, same signs,
    * same weights: the per-occurrence sum of ±1 equals ±tf per
    * DISTINCT token (both exact integers in double, far below 2^53),
    * so the grouped aggregate is arithmetic-identical. Lets a caller
    * that already built the postings frame (BM25) feed the dense half
    * of hybrid retrieval without a second corpus tokenize. */
  def hashedFeaturesFromTf(tf: DataFrame, dim: Int = 64): DataFrame =
    tf
      .withColumn("hv",
        conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long"))
      .withColumn("bucket", (col("hv") % dim).cast("int"))
      .withColumn("s",
        when(expr(s"hv div $dim") % 2 === 0, 1.0).otherwise(-1.0))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("s") * col("tf")).as("weight"))

  /** Dense `dim`-float embedding per doc from [[hashedFeatures]] —
    * schema-compatible with the `embeddings` table, so every ANN /
    * PQ / semantic-dedup operator composes directly on text. Docs
    * with no tokens embed as the zero vector (the norm-0 guard
    * downstream handles them). */
  def hashingVectorizer(docs: DataFrame, dim: Int = 64): DataFrame =
    hashedFeatures(docs, dim)
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(
        struct(col("bucket"), col("weight")))).as("__m"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("__m"), i), lit(0.0)).cast("float"))
          .as("embedding"))
}

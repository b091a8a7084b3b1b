package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Okapi BM25 full-text retrieval over the `documents` table — the lexical
  * search/ranking half of a training-data pipeline (contamination candidate
  * retrieval, eval-set leakage triage, dedup-cluster inspection), and the
  * classic IR complement of [[TextAnalysis.tfIdf]].
  *
  * The reference has no retrieval at all (its only string ops are lowercase +
  * whitelist membership — reference: dags/etl/schema_check.py:176-181); this
  * is a SURVEY.md §7.3.7-family extension built entirely from codegen'd
  * built-ins (no UDFs).
  *
  * Scoring is the Lucene/standard BM25 variant (Robertson et al., TREC-3;
  * idf kept positive via the +1 inside the log):
  *
  *   score(q, d) = Σ_{t ∈ q∩d} ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
  *                   · tf_td·(k1+1) / (tf_td + k1·(1 − b + b·dl_d/avgdl))
  *
  * Query term frequency is deliberately not weighted (each DISTINCT query
  * term counts once) — the common short-query simplification; queries here
  * are a handful of terms, not documents.
  *
  * Scale posture (the inverted-index shape, not a cross join):
  *  - ONE corpus scan builds per-(doc, token) counts with map-side combine;
  *    doc lengths and per-token document frequencies RE-aggregate from that
  *    grouped frame (narrow rows), never from the text again.
  *  - The query term set is broadcast (queries are small by definition), so
  *    postings probe as a broadcast hash join — only rows whose token
  *    matches a query term survive, i.e. exactly the postings lists an
  *    inverted index would touch. The corpus-sized tf frame never shuffles
  *    for the probe.
  *  - df joins token-keyed (vocabulary-sized); corpus totals (N, avgdl)
  *    ride a broadcast one-row frame like [[TextAnalysis.tfIdf]]'s count.
  *  - Top-k uses the bounded TopKByDouble aggregate: only O(queries × k)
  *    (score, doc) tuples cross the final exchange — no window sort over
  *    every candidate.
  *
  * Determinism: scores round to 6 dp (the repo's cross-engine float
  * convention — ln is not bit-standardized but 6 dp sits far above libm
  * ulp disagreement) and ranking orders by (rounded score desc, doc_id asc),
  * so ties break identically in any engine.
  */
object Retrieval {

  /** The shared (doc_id, token, tf) postings frame — the root every
    * retrieval path re-aggregates from (doc lengths, corpus totals,
    * document frequencies, the postings probe, hashed dense features):
    * one eager executor-local checkpoint of the narrow grouped rows
    * runs the corpus tokenize exactly once per invocation (the
    * inverted-index build-once posture the object doc promises).
    *
    * Durability tradeoff, stated (this frame is POSTINGS-sized —
    * corpus-scale rows, unlike the verdict/vocabulary-sized frames
    * checkpointed elsewhere): localCheckpoint truncates lineage into
    * unreplicated executor-local blocks, so losing an executor
    * mid-query fails the QUERY and the caller re-runs — acceptable
    * because the whole query is one retrieval pass, not multi-hour
    * state. The recomputable alternative, persist(MEMORY_AND_DISK),
    * was measured 1.5-1.7x SLOWER end to end on every consumer of
    * this frame (r17, interleaved best-of-6 at sf0.1: bm25_top_docs
    * 1.07 -> 1.76 s, bm25_scores_sample 0.88 -> 1.47 s, hybrid_rrf
    * 1.62 -> 2.83 s — columnar InMemoryRelation conversion dwarfs the
    * blocks write) AND, registered in CacheManager with no
    * containment point on a lazily-returned frame, leaks plan-
    * identity across invocations — the warm-pass-feeds-timed-pass
    * dishonesty r17's KnnGraph/PageRank containment work eliminated. */
  private[graft] def tfFrame(docs: DataFrame): DataFrame = {
    Spread(docs)
      .select(col("doc_id"),
        explode_outer(TextAnalysis.tokens(col("text"))).as("token"))
      .where(col("token").isNotNull) // outer: avoids InferFiltersFromGenerate
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
  }

  /** Per-(query, document) BM25 scores for every document sharing at least
    * one term with the query. `queries` must have (query_id: long,
    * query_text: string). Output: (query_id, doc_id, n_terms, score) where
    * n_terms is the count of distinct query terms the document matched.
    */
  def bm25Scores(docs: DataFrame, queries: DataFrame,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25ScoresFromTf(tfFrame(docs), queries, k1, b)

  /** [[bm25Scores]] over a pre-built [[tfFrame]] — the shared-postings
    * entry hybrid retrieval composes on. */
  private[graft] def bm25ScoresFromTf(tf: DataFrame, queries: DataFrame,
                                      k1: Double = 1.2,
                                      b: Double = 0.75): DataFrame = {
    require(k1 > 0 && b >= 0 && b <= 1, s"bad BM25 params k1=$k1 b=$b")
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val totals = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val qterms = queries
      .select(col("query_id"),
        explode_outer(TextAnalysis.tokens(col("query_text"))).as("token"))
      .where(col("token").isNotNull)
      .distinct()
    tf.join(broadcast(qterms), "token") // postings probe: corpus side never shuffles
      .join(dfreq, "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(k1 + 1.0))
          / (col("tf") + lit(k1) * (lit(1.0 - b)
            + lit(b) * col("dl").cast("double") / col("avgdl"))))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        round(sum(col("contrib")), 6).as("score"))
  }

  /** Top-k documents per query by BM25, rank 1-based, deterministic
    * tie-break (score desc, doc_id asc) — via the bounded top-k aggregate
    * (only queries × k tuples cross the exchange). */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKFromTf(tfFrame(docs), queries, k, k1, b)

  private[graft] def bm25TopKFromTf(tf: DataFrame, queries: DataFrame,
                                    k: Int, k1: Double = 1.2,
                                    b: Double = 0.75): DataFrame =
    bm25ScoresFromTf(tf, queries, k1, b)
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate.topKBy(
        col("score"), col("doc_id"), k).as("top"))
      .select(col("query_id"), posexplode_outer(col("top")).as(Seq("pos", "e")))
      .where(col("e").isNotNull)
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("doc_id"), col("e.v").as("score"))

  /** Corpus-level index statistics (N, avgdl, vocabulary size, postings
    * count) — the sizing numbers a retrieval deployment is planned from,
    * and an exactly-oracled integer surface for the BM25 inputs. */
  def bm25CorpusStats(docs: DataFrame): DataFrame = {
    // two consumers (doc lengths, postings/vocab)
    val tf = tfFrame(docs)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val postings = tf.agg(count(lit(1)).as("n_postings"),
      countDistinct(col("token")).as("vocab"))
    dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("total_tokens"),
        round(sum(col("dl")).cast("double") / count(lit(1)), 6).as("avgdl"))
      .crossJoin(broadcast(postings))
      .select(col("n_docs"), col("total_tokens"), col("avgdl"),
        col("vocab"), col("n_postings"))
  }

  /** Top-k documents per query by EXACT hashed-feature dot product — the
    * dense half of hybrid retrieval when text rides the
    * [[TextAnalysis.hashedFeatures]] signed-hashing space. Feature weights
    * are integer-valued (sums of ±1), so the dot product is computed in
    * LONG space: bit-exact in any engine, no float rounding anywhere.
    * Candidates are exactly the docs sharing ≥ 1 feature bucket with the
    * query (the sparse join — corpus features never shuffle for the
    * probe; the query side is broadcast). Output: (query_id, rank,
    * doc_id, dot), rank 1-based by (dot desc, doc_id asc). */
  def hashedDenseTopK(docs: DataFrame, queries: DataFrame, k: Int,
                      dim: Int = 64): DataFrame =
    hashedDenseTopKFrom(
      TextAnalysis.hashedFeatures(docs, dim), queries, k, dim)

  /** [[hashedDenseTopK]] over corpus features derived FROM a pre-built
    * [[tfFrame]] — identical weights ([[TextAnalysis
    * .hashedFeaturesFromTf]] proves ±1-per-occurrence ≡ ±tf-per-distinct-
    * token), zero extra corpus tokenize. */
  private[graft] def hashedDenseTopKFromTf(tf: DataFrame,
                                           queries: DataFrame, k: Int,
                                           dim: Int = 64): DataFrame =
    hashedDenseTopKFrom(
      TextAnalysis.hashedFeaturesFromTf(tf, dim), queries, k, dim)

  private def hashedDenseTopKFrom(features: DataFrame, queries: DataFrame,
                                  k: Int, dim: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"unreasonable k: $k")
    val corpusF = features
      .select(col("doc_id"), col("bucket"),
        col("weight").cast("long").as("w"))
    val queryF = TextAnalysis.hashedFeatures(
      queries.select(col("query_id").as("doc_id"),
        col("query_text").as("text")), dim)
      .select(col("doc_id").as("query_id"), col("bucket"),
        col("weight").cast("long").as("qw"))
    corpusF.join(broadcast(queryF), "bucket")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w") * col("qw")).as("dot"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate.topKBy(
        col("dot").cast("double"), col("doc_id"), k).as("top"))
      .select(col("query_id"),
        posexplode_outer(col("top")).as(Seq("pos", "e")))
      .where(col("e").isNotNull)
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("doc_id"), col("e.v").cast("long").as("dot"))
  }

  /** Hybrid lexical+dense retrieval with the postings frame built ONCE
    * (guide §2.4 — the r16 verdict's double-tokenize note): BM25 and
    * the hashed dense ranks both re-aggregate from one [[tfFrame]]
    * checkpoint, then fuse via [[rrfFuse]]. Results are bit-identical
    * to composing [[bm25TopK]] + [[hashedDenseTopK]] directly (each
    * FromTf leg is arithmetic-identical to its standalone twin). */
  def hybridRrfTopDocs(docs: DataFrame, queries: DataFrame, k: Int,
                       dim: Int = 64, c: Int = 60): DataFrame = {
    val tf = tfFrame(docs)
    rrfFuse(bm25TopKFromTf(tf, queries, k),
      hashedDenseTopKFromTf(tf, queries, k, dim), c)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher, SIGIR 2009) of a
    * lexical and a dense ranked list: rrf(d) = Σ_lists 1/(c + rank_d),
    * a document absent from one list contributes nothing for it. Rank
    * fusion needs no score calibration between the two retrievers —
    * the reason RRF is the default hybrid-search combiner. Inputs are
    * (query_id, rank, doc_id, …) frames (e.g. [[bm25TopK]] and
    * [[hashedDenseTopK]]); both are top-k-bounded, so the fusion frame
    * is at most 2k rows per query — the final per-query rank window is
    * over that tiny frame, partitioned by query. Absent ranks surface
    * as 0 (never null) so the output is total and engine-portable. */
  def rrfFuse(lex: DataFrame, dense: DataFrame, c: Int = 60): DataFrame = {
    require(c >= 1, s"rrf constant must be positive: $c")
    val l = lex.select(col("query_id"), col("doc_id"),
      col("rank").as("lex_rank"))
    val d = dense.select(col("query_id"), col("doc_id"),
      col("rank").as("dense_rank"))
    val fused = l.join(d, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        col("lex_rank"), col("dense_rank"),
        round(coalesce(lit(1.0) / (lit(c) + col("lex_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(c) + col("dense_rank")), lit(0.0)),
          6).as("rrf_score"))
    val byQuery = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused
      .withColumn("fused_rank", row_number().over(byQuery).cast("long"))
      .select(col("query_id"), col("fused_rank"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(0L)).as("dense_rank"),
        col("rrf_score"))
  }
}

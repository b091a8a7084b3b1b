package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection via importance resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling",
  * arXiv:2302.03169): score every raw document by the log-likelihood
  * ratio of a TARGET-domain hashed n-gram model to the RAW-corpus model,
  * and keep the highest-ratio fraction — the standard recipe for tilting
  * a web-scale crawl toward a quality/domain target without training a
  * classifier per domain.
  *
  * Feature space is the paper's: unigrams ∪ bigrams, hashed into `dim`
  * buckets with the library's md5-hex32 family ([[Sampling.hashBucket]] /
  * [[TextAnalysis.hashedFeatures]]) — no vocabulary, no fit, no driver
  * state, reproducible bit-for-bit in any engine. Both bucket models are
  * add-α smoothed multinomials.
  *
  * Scale shape: TWO corpus scans, both embarrassingly parallel — one
  * builds the two bucket models (a `dim`-row aggregate: target counts
  * ride the same pass as raw counts via a conditional sum, so the target
  * slice is never re-scanned), one scores documents against the
  * broadcast `dim`-row log-ratio table (map-side join + per-doc sum).
  * Nothing driver-side ever exceeds `dim` rows. The feature frame is
  * computed ONCE and reused for both passes via an eager executor-local
  * checkpoint of the narrow (doc_id, __tgt, bucket, cnt) rows — the
  * heavy tokenize/bigram/hash fan-out never re-executes per consumer,
  * and the carried target flag means the model aggregate never joins
  * the postings-sized frame back to the corpus.
  *
  * Determinism: per-doc weights round to 6 dp; selection ranks on the
  * ROUNDED weight with doc_id as the total tie-break.
  */
object ImportanceSampling {

  /** Hashed unigram+bigram counts per document: (doc_id, bucket, cnt).
    * Bigrams join tokens with a single space; the token array is
    * materialized per row before element reads (the HOF re-evaluation
    * trap, cf. [[Bpe]]), and `sequence(1, size-1)` is guarded by
    * `size >= 2` — Spark sequences step backwards when start > stop.
    *
    * Extra doc-level columns `carry` ride through the grouped aggregate
    * (each must be functionally dependent on doc_id — e.g. a
    * target-domain flag): grouping by (doc_id, carry, bucket) yields
    * exactly the (doc_id, bucket) groups with the carried columns riding
    * along, so a consumer needing them reads the grouped frame directly
    * instead of re-attaching them with a corpus-keyed join over the
    * postings-sized rows (guide §2.4). */
  private def hashedNgramCountsCarrying(docs: DataFrame, dim: Int,
                                        carry: Seq[String]): DataFrame = {
    require(dim >= 2, s"unreasonable feature dim: $dim")
    val keep = (col("doc_id") +: carry.map(col)) :+
      TextAnalysis.tokens(col("text")).as("__t")
    val ids = col("doc_id") +: carry.map(col)
    val base = Spread(docs).select(keep: _*)
    val uni = base
      .select((ids :+ explode_outer(col("__t")).as("g")): _*)
      .where(col("g").isNotNull)
    val bi = base.where(size(col("__t")) >= 2)
      .select((ids :+ explode_outer(
        transform(sequence(lit(1), size(col("__t")) - 1), i =>
          concat(element_at(col("__t"), i), lit(" "),
            element_at(col("__t"), i + 1)))).as("g")): _*)
      .where(col("g").isNotNull)
    uni.unionByName(bi)
      .withColumn("bucket",
        (conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long")
          % dim).cast("int"))
      .groupBy((ids :+ col("bucket")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-document importance weight: Σ_b cnt(doc,b) · (ln p̂_target(b) −
    * ln p̂_raw(b)), rounded to 6 dp. `isTarget` is any boolean Column
    * over `docs`' columns defining the target domain (e.g.
    * col("source") === "src0"); the raw model is the WHOLE corpus,
    * target included, as in the paper. Documents with no tokens carry
    * weight 0. Output: (doc_id, weight). */
  def importanceWeights(docs: DataFrame, isTarget: Column,
                        dim: Int = 1024, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"smoothing alpha must be positive: $alpha")
    val flagged = docs.withColumn("__tgt", isTarget)
    // The hashed-feature frame feeds TWO consumers — the bucket-model
    // aggregate and the per-doc scoring join — through a chain of nested
    // broadcast subtrees (totals inside ratio inside the score join).
    // One eager executor-local checkpoint runs the tokenize + bigram +
    // md5 fan-out exactly once; the stored rows are the narrow
    // (doc_id, __tgt, bucket, cnt) triples — the target flag is CARRIED
    // through the grouped aggregate (functionally dependent on doc_id,
    // so the groups are unchanged), which lets the bucket-model
    // aggregate read it directly instead of re-attaching it with a
    // doc_id-keyed join over the postings-sized frame (one corpus-sized
    // exchange removed, guide §2.4). This is the persisted intermediate
    // the scale note below always promised at 100 TB — now the shipped
    // shape at every scale (guide §8: heavy pass once, decisions on the
    // proxy).
    val feats = hashedNgramCountsCarrying(flagged, dim, Seq("__tgt"))
      .localCheckpoint(true)
    // one dim-row model table for BOTH distributions
    val buckets = feats.groupBy(col("bucket"))
      .agg(sum(when(col("__tgt"), col("cnt")).otherwise(lit(0L))).as("ct"),
        sum(col("cnt")).as("cr"))
    val totals = buckets.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    val ratio = buckets.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log((col("ct") + lit(alpha))
            / (col("tt") + lit(alpha * dim)))
          - log((col("cr") + lit(alpha))
            / (col("tr") + lit(alpha * dim)))).as("lr"))
    val scored = feats.join(broadcast(ratio), "bucket")
      .groupBy(col("doc_id"))
      .agg(round(sum(col("cnt") * col("lr")), 6).as("weight"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("weight"), lit(0.0)).as("weight"))
  }

  /** The resampling step: keep the ceil(frac·n) highest-weight documents
    * (rounded weight desc, doc_id asc). Output: docs' columns + weight +
    * selected flag — callers filter on `selected` to materialize the
    * tilted corpus. Ranking runs distributed
    * ([[graft.operators.DistributedRank.globalRowNumber]] — range chunks
    * + bounded offsets, never a single-partition window) over the narrow
    * (doc_id, weight) frame. */
  def selectTopFraction(docs: DataFrame, isTarget: Column, frac: Double,
                        dim: Int = 1024, alpha: Double = 1.0): DataFrame = {
    require(frac > 0 && frac <= 1, s"fraction out of (0,1]: $frac")
    val w = importanceWeights(docs, isTarget, dim, alpha)
    // corpus row count: metadata-cheap on a scan-rooted frame, a catalog
    // statistic at 100 TB
    val n = docs.count()
    val k = math.ceil(frac * n).toLong
    val ranked = graft.operators.DistributedRank.globalRowNumber(
      w, "__r", col("weight").desc, col("doc_id").asc)
    docs.join(ranked, "doc_id")
      .withColumn("selected", col("__r") <= k)
      .drop("__r")
  }

  /** Mixture-shift report: per source, corpus share vs share of the
    * selected top-`frac` — the diagnostic showing the resampling tilts
    * the mixture toward the target domain. */
  def mixtureShift(docs: DataFrame, isTarget: Column, frac: Double,
                   dim: Int = 1024, alpha: Double = 1.0): DataFrame =
    selectTopFraction(docs, isTarget, frac, dim, alpha)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("selected"), 1L).otherwise(0L)).as("n_selected"),
        round(avg(col("weight")), 4).as("mean_weight"))
      .orderBy(col("source"))
}

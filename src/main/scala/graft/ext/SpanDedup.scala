package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.BoundedCollect.collectListCapped

/** Span-level (sub-document) duplication analysis — the missing granularity
  * between [[TextAnalysis.fingerprintDedup]] (whole-doc exact) and the
  * [[Dedup]] near-dup family (whole-doc approximate). Training corpora are
  * full of *partially* duplicated text — license boilerplate, quoted
  * passages, templated headers — that document-level dedup cannot see
  * (the docs are distinct) and document-level near-dup only catches when
  * the shared portion dominates. The remedy is the substring-dedup idea of
  * Lee et al., "Deduplicating Training Data Makes Language Models Better"
  * (ACL 2022): find token spans repeated ACROSS documents and measure how
  * much of each document they cover.
  *
  * Their suffix-array construction is a single-machine algorithm; the
  * Spark-native equivalent is positional k-gram matching: a span repeated
  * across docs necessarily repeats all its k-grams, so k-gram collision is
  * an exact detector for duplicated runs of length >= k (shorter repeats
  * are below the noise floor by choice of k). All shapes are
  * answer-bounded:
  *
  *  - ONE corpus scan produces positional k-grams; ONE shuffle on the span
  *    groups occurrences (bucket-collect, same shape as
  *    [[Dedup.jaccardPairs]] — no self-join, no second scan).
  *  - Per-doc coverage merges overlapping span hits with a gaps-and-islands
  *    window (two window functions, one exchange on doc_id) — NOT by
  *    exploding the k positions each hit covers, which would multiply the
  *    hit table by k for the same answer.
  *  - `maxOcc` caps the per-span occurrence list exactly like `maxBucket`
  *    in [[Dedup.jaccardPairs]]: a span occurring beyond the cap is
  *    boilerplate whose list would concentrate on one task; the cap makes
  *    coverage a documented lower bound there. (At 100 TB, hot spans are
  *    better removed up front by a count-only stop-span pass — same
  *    shapes, one extra shuffle.)
  *
  * Reference scope: the reference has no sub-document analysis at all
  * (its unit of work is the row — dags/etl/transform.py); this family is
  * part of the LLM-pipeline extension surface.
  */
object SpanDedup {

  /** Positional k-grams: (doc_id, n_tokens, pos, span), pos 1-based.
    * Unlike [[Dedup.docShingles]] there is no `array_distinct` — span
    * analysis needs every occurrence WITH its offset, because coverage is
    * a property of positions, not of the shingle set. */
  def spanRows(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"span length must be >= 2, got $k")
    val w = TextAnalysis.tokens(col("text"))
    // Same rebalance rationale as docShingles: the k-gram fan-out is
    // tokens× work per row; a small scan (one file, one partition) must
    // not run it on a single core.
    Spread(docs)
      .select(col("doc_id"), w.as("w"))
      // < k tokens => empty array INSIDE the expression (sequence(1, n)
      // turns descending for n < 1 — see docShingles). posexplode_outer,
      // not posexplode: InferFiltersFromGenerate would clone the whole
      // tokenize->span expression into a filter below the repartition
      // (see shingleRows); the outer form is exempt and the null filter
      // runs on the generated output.
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        posexplode_outer(
          when(size(col("w")) >= k,
            transform(sequence(lit(1), size(col("w")) - (k - 1)),
              i => array_join(slice(col("w"), i, lit(k)), " ")))
            .otherwise(array().cast("array<string>"))))
      .where(col("col").isNotNull)
      .select(col("doc_id"), col("n_tokens"),
        (col("pos") + 1).cast("long").as("pos"), col("col").as("span"))
  }

  /** Spans occurring in >= minDocs distinct documents, with their reach:
    * (span, n_docs, n_occ), the `topN` most-shared first (n_docs desc,
    * n_occ desc, span — deterministic; span text is unique per row).
    * Top-N => TakeOrdered: the output is answer-sized no matter the
    * corpus, and the single aggregation is map-side partial (countDistinct
    * expands to a two-phase distinct aggregate on (span, doc_id) — still
    * one logical shuffle chain on span). */
  def dupSpanReport(docs: DataFrame, k: Int, minDocs: Int = 2,
                    topN: Int = 100): DataFrame =
    spanRows(docs, k)
      .groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .where(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("span"))
      .limit(topN)

  /** Per-document duplicated-span coverage: how much of each doc is text
    * that also appears (as a >= k-token run) in other documents.
    * Output: (doc_id, n_tokens, n_dup_spans, n_islands, covered_tokens,
    * dup_ratio), docs with no duplicated span omitted.
    *
    * covered_tokens is the size of the UNION of the [pos, pos+k-1]
    * intervals of the doc's duplicated-span hits, computed by
    * gaps-and-islands: a hit opens a new island iff its start lies past
    * the running max end of all earlier hits; island width is then
    * max(start) - min(start) + k because every hit has the same length.
    * Both windows share one (doc_id, pos) sort — one exchange — and the
    * two following groupBys key on supersets of doc_id, so the window's
    * hash partitioning satisfies them with no further shuffle. */
  /** The ACTION the two reports inform (and Lee et al.'s actual
    * transform): rewrite the corpus with duplicated spans CUT. Ownership
    * is per span: the doc with the smallest doc_id keeps its occurrences,
    * every other doc's occurrences are removed (intra-doc repeats inside
    * the owner are deliberately untouched — that is [[TextAnalysis]]'s
    * `doc_repetition` signal, a different treatment). Overlapping cut
    * spans merge into islands exactly as in [[spanDupCoverage]], and the
    * rebuild drops the islands' token ranges.
    *
    * Output: (doc_id, n_before, n_after, clean_md5) for EVERY doc —
    * untouched docs flow through with n_before == n_after and the md5 of
    * their unchanged normalized token stream (the rebuild works on the
    * tokenized representation, same normalization as
    * [[TextAnalysis.fingerprintDedup]]; original casing/punctuation is
    * not this pipeline's concern).
    *
    * Shape: detection pass (one scan + one span shuffle, as above) emits
    * cut-doc-sized interval lists; the rebuild pass re-scans the corpus
    * and left-joins the intervals on doc_id — the per-row cut is then a
    * codegen'd indexed `filter` over the token array against the doc's
    * own (few) intervals, no position explode, no second span pass. */
  def cutDuplicatedSpans(docs: DataFrame, k: Int, minDocs: Int = 2,
                         maxOcc: Int = 10000): DataFrame = {
    val sp = spanRows(docs, k)
    val cutHits = sp
      .groupBy(col("span"))
      .agg(collectListCapped(struct(col("doc_id"), col("pos")), maxOcc).as("d"),
        count(lit(1)).as("c"))
      .where(size(array_distinct(transform(col("d"),
        x => x.getField("doc_id")))) >= minDocs && col("c") <= maxOcc)
      .withColumn("own",
        array_min(transform(col("d"), x => x.getField("doc_id"))))
      .select(explode_outer(filter(col("d"),
        x => x.getField("doc_id") =!= col("own"))).as("h"))
      .where(col("h").isNotNull)
      .select(col("h.doc_id").as("doc_id"), col("h.pos").as("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + (k - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val ivs = cutHits
      .withColumn("flag",
        when(col("pos") > coalesce(prevEnd, lit(-1L)), 1L).otherwise(0L))
      .withColumn("island", sum(col("flag")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (k - 1)).as("e"))
      .groupBy(col("doc_id"))
      // bounded buffer: one interval per cut island, at most n_tokens/k
      // per doc — the same per-row bound as the doc's own token array
      .agg(collect_list(struct(col("s"), col("e"))).as("ivs"))
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
      .join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("w")).cast("long").as("n_before"),
        when(col("ivs").isNull, col("w")).otherwise(
          filter(col("w"), (_, i) => !exists(col("ivs"),
            iv => (i + 1) >= iv.getField("s") &&
              (i + 1) <= iv.getField("e")))).as("kept"))
      .select(col("doc_id"), col("n_before"),
        size(col("kept")).cast("long").as("n_after"),
        md5(array_join(col("kept"), " ")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  def spanDupCoverage(docs: DataFrame, k: Int, minDocs: Int = 2,
                      maxOcc: Int = 10000): DataFrame = {
    val sp = spanRows(docs, k)
    // Bucket-collect on the span: ONE shuffle co-locates all occurrences
    // of a span; the distinct-doc gate and the occurrence cap both read
    // the collected bucket. (A spans⋈dup_spans semi-join instead would
    // re-run the whole tokenize->span pipeline as its second branch —
    // Spark does not reuse plan subtrees across DataFrame branches.)
    val hits = sp
      .groupBy(col("span"))
      .agg(collectListCapped(struct(col("doc_id"), col("n_tokens"),
          col("pos")), maxOcc).as("d"), count(lit(1)).as("c"))
      .where(size(array_distinct(transform(col("d"),
        x => x.getField("doc_id")))) >= minDocs && col("c") <= maxOcc)
      .select(explode_outer(col("d")).as("h"))
      .where(col("h").isNotNull)
      .select(col("h.doc_id").as("doc_id"), col("h.n_tokens").as("n_tokens"),
        col("h.pos").as("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + (k - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("flag",
        when(col("pos") > coalesce(prevEnd, lit(-1L)), 1L).otherwise(0L))
      .withColumn("island", sum(col("flag")).over(byDoc))
      .groupBy(col("doc_id"), col("n_tokens"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"),
        count(lit(1)).as("nh"))
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(sum(col("nh")).as("n_dup_spans"),
        count(lit(1)).as("n_islands"),
        sum(col("e") - col("s") + k).as("covered_tokens"))
      .withColumn("dup_ratio",
        round(col("covered_tokens").cast("double")
          / col("n_tokens").cast("double"), 6))
      .orderBy(col("doc_id"))
  }
}

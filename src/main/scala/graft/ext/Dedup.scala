package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.BoundedCollect.collectSetCapped

/** Near-duplicate detection over `documents` — the LLM-training-data dedup
  * suite (SURVEY.md §7.3.7). Exact dedup lives in
  * [[graft.operators.Cleaning]] / [[TextAnalysis.fingerprintDedup]]; this file
  * is the *near*-dup family: n-gram Jaccard (exact), MinHash+LSH banding
  * (approximate, the 100 TB path), and SimHash bucketing.
  *
  * All hashes are md5 (hex string) so results are engine-portable and
  * oracle-checkable; a production deployment would swap in xxhash64 (also a
  * Spark built-in) for speed without changing any shapes.
  *
  * Scale posture:
  *  - Jaccard is quadratic in the worst case (self-join on shingle); it is
  *    the correctness baseline. Its join key is the shingle, so co-grouping
  *    is a single shuffle and skew is bounded by shingle frequency —
  *    a real corpus caps bucket size (stop-shingle removal) exactly like
  *    the `maxBucket` guard here.
  *  - MinHash+LSH is the linear-ish path: per doc, B band signatures (one
  *    shuffle to group per band value); candidate generation never compares
  *    non-colliding docs. This is the standard shingle→minhash→band→bucket
  *    pipeline (Broder; Leskovec et al. MMDS ch.3) on DataFrame ops only.
  *  - SimHash: one aggregation per doc → 64-bit signature; near-dups found
  *    by the pigeonhole band trick for hamming<=k (Manku et al. WWW'07) —
  *    bucket on exact band-signature collision, verify with bit_count(xor).
  */
object Dedup {

  /** (doc_id[, carry...], shingles: array<string>) — distinct k-gram
    * shingles per doc as ONE projection, so multiple consumers (explode,
    * sizes) branch off a single tokenization instead of re-running the
    * regexp per branch. `carry` names cheap per-doc columns to keep
    * alongside (e.g. a split label) — carrying them through beats joining
    * them back after the explode. */
  def docShingles(docs: DataFrame, k: Int,
                  carry: Seq[String] = Nil): DataFrame = {
    val w = TextAnalysis.tokens(col("text"))
    // The shingle transform fans out ~tokens× work per row; a small input
    // (one parquet file => one partition) would otherwise run it on a single
    // core. Rebalance to the cluster's parallelism first — at corpus scale
    // the scan is already many-partitioned and this shuffle is one tiny
    // extra exchange of raw text.
    val keep = col("doc_id") +: carry.map(col)
    // NB: the < k-token case must be handled INSIDE the expression (empty
    // array), not only by a preceding filter — Spark's sequence(1, n) turns
    // *descending* for n < 1 rather than empty, and the optimizer may
    // evaluate the projection on rows the filter would drop.
    // No size()>0 filter here: a filter on the computed column would make
    // Catalyst evaluate the whole shingle transform a second time (once for
    // the predicate, once for the projection); downstream explode() already
    // drops empty arrays for free.
    Spread(docs).select(keep :+ w.as("w"): _*)
      .select(keep :+
        when(size(col("w")) >= k, array_distinct(
          transform(sequence(lit(1), size(col("w")) - (k - 1)),
            i => array_join(slice(col("w"), i, lit(k)), " "))))
          .otherwise(array().cast("array<string>")).as("shingles"): _*)
  }

  // explode_outer + isNotNull instead of explode: InferFiltersFromGenerate
  // would add size(shingles)>0 under an inner explode and predicate
  // pushdown then INLINES the whole tokenize->shingle expression into a
  // Filter below the repartition (recomputed, single-partition). The outer
  // variant is exempt; the null filter runs on the generated output.
  def shingleRows(docs: DataFrame, k: Int): DataFrame =
    docShingles(docs, k)
      .select(col("doc_id"), explode_outer(col("shingles")).as("shingle"))
      .where(col("shingle").isNotNull)

  /** Exact n-gram Jaccard near-dup pairs: |A∩B| / |A∪B| >= threshold.
    * `maxBucket` drops stop-shingles (shared by too many docs) before the
    * self-join — the standard skew guard that keeps this from going
    * quadratic on boilerplate text. */
  def jaccardPairs(docs: DataFrame, k: Int, threshold: Double,
                   maxBucket: Int = 1000): DataFrame = {
    // Each exploded shingle row carries its doc's set size `n` (a size()
    // off the already-computed array — no second tokenization), so the
    // union-size denominator rides the bucket structs and the old
    // sizes-table joins disappear: those two joins each re-ran the WHOLE
    // tokenize->shingle pipeline as their build side (3 corpus scans
    // total, caught by PlanShapeSpec). Now: ONE scan, ONE shuffle.
    val sh = docShingles(docs, k)
      .select(col("doc_id"), size(col("shingles")).cast("long").as("n"),
        explode_outer(col("shingles")).as("shingle"))
      .where(col("shingle").isNotNull) // outer: see shingleRows
    // Bucket-collect instead of self-join: ONE shuffle groups the docs
    // sharing each shingle; pairs are generated inside the bucket. A
    // self-join on shingle recomputes the whole tokenize->shingle->explode
    // pipeline on both sides (Spark does not reuse the exchange across the
    // aliased branches) and shuffles the corpus twice. collect_set spills
    // via ObjectHashAggregate; the maxBucket cap drops boilerplate
    // stop-shingles. (At extreme skew, pre-filter hot shingles with a
    // count-only pass before collecting — same shapes, one more shuffle.)
    val buckets = sh.groupBy(col("shingle"))
      .agg(sort_array(collectSetCapped(struct(col("doc_id"), col("n")), maxBucket)).as("d"),
        count(lit(1)).as("c"))
      .where(col("c") >= 2 && col("c") <= maxBucket)
    val pairs = buckets.select(explode_outer(
        flatten(transform(col("d"), (x, i) =>
          transform(slice(col("d"), i + 2, size(col("d"))),
            y => struct(x.getField("doc_id").as("a"),
              x.getField("n").as("na"),
              y.getField("doc_id").as("b"),
              y.getField("n").as("nb"))))))
        .as("p"))
      .where(col("p").isNotNull) // outer: see shingleRows
    // n_a/n_b are functionally dependent on doc_a/doc_b; keeping them as
    // grouping keys changes nothing about the groups and keeps this a
    // single aggregate.
    pairs.groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"),
        col("p.na").as("n_a"), col("p.nb").as("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard", round(col("n_common").cast("double")
        / (col("n_a") + col("n_b") - col("n_common")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** MinHash signatures, one row per (doc, band): the band's signature is
    * min(md5(band || '|' || shingle)) over the doc's shingles — md5 keyed by
    * band index plays the role of B independent hash functions.
    *
    * Perf shape: ONE md5 per (band, shingle) pair would be bands×|shingles|
    * hash evaluations; instead we hash each shingle once and derive the B
    * band hashes by Kirsch-Mitzenmacher double hashing (h1 + b·h2 mod 2^32,
    * h1/h2 = two 32-bit halves of one md5) — a standard Bloom/MinHash
    * construction. The per-band mins are B parallel `min` aggregates in one
    * partial-aggregated groupBy (map-side combine, one shuffle on doc_id),
    * then unpivoted to (doc, band, sig) rows for the LSH bucket join. */
  def minhashBands(docs: DataFrame, k: Int, bands: Int): DataFrame = {
    val hashed = shingleRows(docs, k)
      .withColumn("h1", conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast("long"))
      .withColumn("h2", conv(substring(md5(col("shingle")), 9, 8), 16, 10).cast("long"))
    val M = 4294967296L // 2^32
    val sigCols = (0 until bands).map(b =>
      min((col("h1") + lit(b.toLong) * col("h2")) % M).as(s"sig_$b"))
    val wide = hashed.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    val stackExpr = (0 until bands).map(b => s"${b}L, sig_$b").mkString(", ")
    wide.selectExpr("doc_id", s"stack($bands, $stackExpr) AS (band, sig)")
  }

  /** LSH candidate pairs: docs colliding on >= `minBands` band signatures.
    * Only colliding docs are ever paired — the linear-ish 100 TB path.
    *
    * Same bucket-collect shape as [[jaccardPairs]]: ONE shuffle groups the
    * doc ids sharing each (band, sig) bucket and pairs generate inside the
    * bucket. The earlier self-join formulation recomputed the whole
    * shingle→minhash pipeline on both aliased branches (Spark does not
    * reuse the exchange across self-join aliases) and shuffled the corpus
    * twice; this shape computes and shuffles it once. `maxBucket` caps
    * degenerate buckets (e.g. boilerplate-heavy corpora where thousands of
    * docs share a band signature) before the quadratic in-bucket pair-gen,
    * exactly like the stop-shingle guard in [[jaccardPairs]]. */
  def minhashPairs(docs: DataFrame, k: Int, bands: Int,
                   minBands: Int = 1, maxBucket: Int = 1000): DataFrame = {
    val sig = minhashBands(docs, k, bands)
    val buckets = sig.groupBy(col("band"), col("sig"))
      .agg(sort_array(collectSetCapped(col("doc_id"), maxBucket)).as("d"),
        count(lit(1)).as("c"))
      .where(col("c") >= 2 && col("c") <= maxBucket)
    val pairs = buckets.select(explode_outer(
        flatten(transform(col("d"), (x, i) =>
          transform(slice(col("d"), i + 2, size(col("d"))),
            y => struct(x.as("_1"), y.as("_2"))))))
        .as("p"))
      .where(col("p").isNotNull) // outer: see shingleRows
    pairs.groupBy(col("p._1").as("doc_a"), col("p._2").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .where(col("n_shared_bands") >= minBands)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 64-bit SimHash over the document's distinct tokens: token hash = the
    * first 16 hex digits of md5(token) as two 32-bit words (chars 1-8 →
    * bits 0-31, chars 9-16 → bits 32-63); bit j of the signature is 1 iff
    * the sum over tokens of (bit j set ? +1 : -1) is positive.
    *
    * Perf shape: explode(distinct tokens) → one md5 + two conv per token →
    * 64 static-shift bit votes as parallel `sum` aggregates in ONE
    * partial-aggregated groupBy. Everything stays in WholeStageCodegen with
    * map-side combine; a nested-lambda formulation (aggregate inside
    * aggregate over bits × tokens) evaluated interpreted and was ~50×
    * slower at sf0.1. Token-less docs get signature 0 via the left join.
    *
    * 64 bits (vs the earlier 32) is what makes signature buckets usable at
    * corpus scale: with a 32-bit sig, random collisions alone go quadratic
    * as N approaches 2^16 per bucket; 64 bits pushes that past any real
    * corpus, and enables the hamming-distance band trick in
    * [[simhashPairs]]. Summing distinct powers of two is overflow-safe in
    * ANSI mode: bits 0..62 sum below 2^63 and adding the bit-63 term
    * (Long.MinValue) moves the sum back toward zero. */
  /** (doc_id, simhash) for EVERY doc, from ONE scan of `docs`: the
    * explode_outer null-token row a token-less doc keeps (no isNotNull
    * filter here, unlike [[shingleRows]]) hashes to null, its null bit
    * tests fall through when()'s otherwise to a −1 vote, and all-negative
    * votes yield signature 0 — the same default a join-back would assign,
    * without scanning or shuffling the corpus a second time. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val toks = Spread(docs).select(col("doc_id"),
      explode_outer(array_distinct(TextAnalysis.tokens(col("text")))).as("tok"))
    val hashed = toks
      .withColumn("hLo", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
      .withColumn("hHi", conv(substring(md5(col("tok")), 9, 8), 16, 10).cast("long"))
    // ONE long[64] vote buffer per doc (functions/SimhashVotes) instead
    // of 64 separate sum(when(shift...)) aggregate expressions — same
    // signature bit-for-bit (SimhashSpec pins the equivalence), ~2× on
    // the corpus scan that used to be the heaviest non-fixture bench
    // query.
    hashed.groupBy(col("doc_id"))
      .agg(graft.functions.SimhashAggregate
        .simhashVotes(col("hLo"), col("hHi")).as("simhash"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken '03 — the MOSS
    * algorithm): positional k-gram hashes → minimum of each w-hash sliding
    * window → the distinct selected values are the document's fingerprint
    * set. Guarantee: any shared token run of length >= w+k-1 contributes at
    * least one shared fingerprint, while only ~2/(w+1) of all k-gram hashes
    * are kept — rolling-hash dedup with a provable detection floor at a
    * fraction of the index size.
    *
    * Unlike [[docShingles]] the k-gram hashes here are POSITIONAL (no
    * array_distinct before windowing — winnowing's guarantee depends on
    * hash order); selection dedups afterwards. One projection per doc, no
    * explode until the (doc, fingerprint) rows. */
  def winnowingFingerprints(docs: DataFrame, k: Int = 5, w: Int = 4): DataFrame = {
    val toks = Spread(docs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
    val hashed = toks.select(col("doc_id"),
      when(size(col("w")) >= k,
        transform(sequence(lit(1), size(col("w")) - (k - 1)),
          i => conv(substring(md5(array_join(slice(col("w"), i, lit(k)), " ")),
            1, 8), 16, 10).cast("long")))
        .otherwise(array().cast("array<long>")).as("hs"))
    // Window min as least(hs[j], ..., hs[j+w-1]) — element_at chains, no
    // per-position slice allocation (array_min(slice(...)) materializes a
    // w-array per window; least() is a flat codegen'd comparison tree).
    // try_element_at (NOT element_at: ANSI mode is on, out-of-bounds would
    // throw) yields null past the end and least() ignores nulls, so the
    // short-doc window (fewer than w hashes) falls out for free.
    def windowMin(hs: org.apache.spark.sql.Column,
                  j: org.apache.spark.sql.Column) =
      (0 until w).map(o => try_element_at(hs, j + o))
        .reduce((a, b) => least(a, b))
    hashed.select(col("doc_id"),
        explode_outer(when(size(col("hs")) === 0, array().cast("array<long>"))
          .otherwise(array_distinct(transform(
            sequence(lit(1), greatest(size(col("hs")) - (w - 1), lit(1))),
            j => windowMin(col("hs"), j)))))
          .as("fp"))
      .where(col("fp").isNotNull) // outer: see shingleRows
  }

  /** Near-dup pairs by shared winnowing fingerprints (>= `minShared`).
    * Same bucket-collect shape as [[jaccardPairs]] — one shuffle groups
    * doc ids per fingerprint, pairs generate inside the bucket. */
  def winnowingPairs(docs: DataFrame, k: Int = 5, w: Int = 4,
                     minShared: Long = 10, maxBucket: Int = 1000): DataFrame =
    winnowingPairsFromFps(winnowingFingerprints(docs, k, w), minShared,
      maxBucket)

  /** [[winnowingPairs]]' pair-generation stage on an ALREADY-BUILT
    * (doc_id, fp) frame — the entry the persisted split index uses so
    * its committed fingerprint postings and its committed edges come
    * from the same frame (and so the in-bucket pair algebra lives in
    * exactly one place). */
  def winnowingPairsFromFps(fp: DataFrame, minShared: Long = 10,
                            maxBucket: Int = 1000): DataFrame = {
    val buckets = fp.groupBy(col("fp"))
      .agg(sort_array(collectSetCapped(col("doc_id"), maxBucket)).as("d"), count(lit(1)).as("c"))
      .where(col("c") >= 2 && col("c") <= maxBucket)
    val pairs = buckets.select(explode_outer(
        flatten(transform(col("d"), (x, i) =>
          transform(slice(col("d"), i + 2, size(col("d"))),
            y => struct(x.as("_1"), y.as("_2"))))))
        .as("p"))
      .where(col("p").isNotNull)
    pairs.groupBy(col("p._1").as("doc_a"), col("p._2").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .where(col("n_shared_fp") >= minShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Eval-set decontamination (the GPT-3/PaLM-style n-gram overlap check):
    * (test doc, train doc) pairs sharing >= `minShared` k-gram shingles,
    * where splits come from [[Sampling.deterministicSplit]] over doc_id.
    *
    * Split assignment is a pure projection of doc_id, so the whole check
    * rides the [[jaccardPairs]] bucket-collect shape — ONE corpus scan,
    * ONE shuffle on the shingle, `maxBucket` stop-shingle guard — with
    * pair generation restricted to cross-split (test × train) pairs inside
    * each bucket. Rows from other splits (val) are dropped before the
    * shuffle. At 100 TB this is the same cost as one near-dup pass; the
    * naive formulation (join test-shingles against train-shingles) would
    * shuffle and compute the shingle pipeline twice. */
  def contaminationPairs(docs: DataFrame, k: Int,
                         weights: Seq[(String, Int)],
                         trainSplit: String = "train",
                         testSplit: String = "test",
                         minShared: Long = 5,
                         maxBucket: Int = 1000): DataFrame = {
    // Split BEFORE shingling: one md5 per DOC (not per exploded shingle
    // row), and docs from other splits (val) never get tokenized at all —
    // the filter runs on the cheap split projection under the shingle
    // transform.
    val sh = docShingles(
        Sampling.deterministicSplit(docs, col("doc_id"), weights)
          .where(col("split").isin(trainSplit, testSplit)),
        k, carry = Seq("split"))
      .select(col("doc_id"), col("split"),
        explode_outer(col("shingles")).as("shingle"))
      .where(col("shingle").isNotNull) // outer: see shingleRows
    // collect_set skips nulls, so each bucket carries its train and test
    // doc sets side by side from one aggregation.
    val buckets = sh.groupBy(col("shingle"))
      .agg(sort_array(collectSetCapped(when(col("split") === trainSplit,
          col("doc_id")), maxBucket)).as("tr"),
        sort_array(collectSetCapped(when(col("split") === testSplit,
          col("doc_id")), maxBucket)).as("te"),
        count(lit(1)).as("c"))
      .where(size(col("tr")) >= 1 && size(col("te")) >= 1
        && col("c") <= maxBucket)
    val pairs = buckets.select(explode_outer(
        flatten(transform(col("te"), t =>
          transform(col("tr"), r =>
            struct(t.as("_1"), r.as("_2"))))))
        .as("p"))
      .where(col("p").isNotNull) // outer: see shingleRows
    pairs.groupBy(col("p._1").as("test_doc"), col("p._2").as("train_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy(col("test_doc"), col("train_doc"))
  }

  /** SimHash near-dup pairs with hamming distance <= `maxHamming`, via the
    * pigeonhole band trick (Manku/Jain/Sarma WWW'07): split the 64-bit
    * signature into `maxHamming + 1` equal bands — any pair within the
    * distance bound differs in at most `maxHamming` bits, so it must agree
    * EXACTLY on at least one band. Candidate generation is therefore
    * band-bucket collision only (never all-pairs), followed by the exact
    * `bit_count(xor)` filter.
    *
    * Scale shape: same bucket-collect as [[jaccardPairs]]/[[minhashPairs]]
    * — ONE shuffle groups (doc_id, simhash) per (band, band-sig) bucket,
    * pairs generate in-bucket, `maxBucket` caps collision buckets (the
    * guard the 32-bit exact-collision version lacked), and the final
    * distinct dedups pairs that collide in several bands. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   maxBucket: Int = 1000): DataFrame = {
    val nBands = maxHamming + 1
    require(64 % nBands == 0,
      s"maxHamming + 1 must divide 64 (got ${nBands} bands)")
    val width = 64 / nBands
    val mask = (1L << width) - 1
    val sig = simhashSignatures(docs)
    val banded = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * width).bitwiseAND(lit(mask))
            .as("bsig"))): _*)).as("bs"))
    val buckets = banded
      .groupBy(col("bs.band").as("band"), col("bs.bsig").as("bsig"))
      .agg(sort_array(collectSetCapped(struct(col("doc_id"), col("simhash")),
          maxBucket)).as("d"), count(lit(1)).as("c"))
      .where(col("c") >= 2 && col("c") <= maxBucket)
    val pairs = buckets.select(explode_outer(
        flatten(transform(col("d"), (x, i) =>
          transform(slice(col("d"), i + 2, size(col("d"))),
            y => struct(x.getField("doc_id").as("doc_a"),
              y.getField("doc_id").as("doc_b"),
              x.getField("simhash").as("sig_a"),
              y.getField("simhash").as("sig_b"))))))
        .as("p"))
      .where(col("p").isNotNull) // outer: see shingleRows
    pairs.select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        bit_count(col("p.sig_a").bitwiseXOR(col("p.sig_b"))).cast("long")
          .as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }
}

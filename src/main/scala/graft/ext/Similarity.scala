package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dotNative

/** Vector similarity search over the `embeddings` table
  * (vec_id, embedding: array<float>, label) — SURVEY.md §7.3.7.
  *
  * One scoring kernel, several candidate strategies. The kernel is the
  * contract every strategy shares and every oracle mirrors, so tied
  * values compare equal bitwise across strategies:
  *  - [[cosSim]]: the 6-dp rounded cosine, norms computed once per side;
  *  - [[topK]]: per-group `row_number` over (cos_sim desc, id asc),
  *    rank ≤ k, ordered (group, rank);
  *  - [[ivfListId]] / [[ivfListIds]]: the IVF probe order, both read
  *    from one centroid-distance array.
  *
  * The strategies differ only in which pairs reach the kernel:
  *  - brute force ([[knnBruteForce]], [[cosineNearDupPairs]]): every
  *    pair — the correctness baseline, capped at [[BruteForceCap]]. The
  *    query side is tiny and broadcasts; the corpus never shuffles;
  *  - LSH ([[knnLsh]], [[knnLshOr]], [[hardNegativesLsh]], and the
  *    near-dup family over [[multiProbePairs]]): pairs sharing a seeded
  *    sign-bit bucket (Charikar SimHash / Indyk-Motwani LSH);
  *  - IVF ([[knnIvf]], [[knnIvfAdaptive]], [[knnGraphIvf]]): pairs
  *    within the probed k-means lists.
  * Outside this object, [[ProductQuant]] re-ranks its ADC shortlist with
  * [[cosSim]] and [[topK]], and [[SemanticDedup]], [[KnnGraph]],
  * [[KnnGraphIndex]] and [[SplitIndex]] score their pairs with [[cosSim]].
  * Recall of the approximate strategies is tested against brute force,
  * not oracled.
  *
  * The pair dot product is one compiled expression (`dotNative`, no UDF,
  * bit-identical to the [[dotN]] fold). Elements are cast
  * float→double *before* multiply and summed left-to-right, i.e. the
  * same IEEE754 operation sequence any other engine performs with the
  * same plan, which keeps cosine values bit-comparable for the oracle
  * (rounded to 6 dp anyway).
  */
object Similarity {

  /** Fixed-dimension dot product: folds over a LITERAL index sequence
    * (constant-folded once per plan, not allocated per row) and never
    * materializes the products array — the hot-path variant for N²-pair
    * scoring, where zip_with's per-pair 64-element allocation is pure GC
    * churn. Left fold from 0.0, the op order of the native dot product,
    * so results are bit-identical. */
  def dotN(a: Column, b: Column, dim: Int): Column =
    aggregate(sequence(lit(1), lit(dim)), lit(0.0),
      (acc, i) => acc + element_at(a, i).cast("double")
        * element_at(b, i).cast("double"))

  /** Pairwise cosine with norms computed ONCE per side (not 3 dot products
    * per pair): dot / (sqrt(n2a) * sqrt(n2b)); 0.0 for zero-norm inputs.
    */
  private def pairCosine(dotCol: Column, n2a: Column, n2b: Column): Column =
    when(sqrt(n2a) === 0.0 || sqrt(n2b) === 0.0, lit(0.0))
      .otherwise(dotCol / (sqrt(n2a) * sqrt(n2b)))

  /** The scoring kernel: cosine of `a` and `b` given their squared norms,
    * rounded to 6 dp. Every strategy ranks and thresholds on exactly this
    * value, so an external oracle computing the same rounded cosine
    * agrees at every boundary and tie. */
  def cosSim(a: Column, b: Column, n2a: Column, n2b: Column): Column =
    round(pairCosine(dotNative(a, b), n2a, n2b), 6)

  /** One scoring side: `vec_id` as `id`, `embedding` as `v`, |v|² as
    * `n2`, then `extra` (evaluated over the same input row). */
  private[ext] def scoringSide(df: DataFrame, id: String, v: String,
                               n2: String, extra: Column*): DataFrame =
    df.select(Seq(col("vec_id").as(id), col("embedding").as(v),
      dotNative(col("embedding"), col("embedding")).as(n2)) ++ extra: _*)

  /** The ranking tail shared by every top-k strategy: per `group`,
    * `rank` = row_number over (cos_sim desc, `id` asc) as a long, keep
    * rank ≤ k, order by (group, rank). */
  private[ext] def topK(scored: DataFrame, group: String, id: String,
                        k: Int, rank: String = "rank"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(group))
      .orderBy(col("cos_sim").desc, col(id).asc)
    scored.withColumn(rank, row_number().over(w).cast("long"))
      .where(col(rank) <= k)
      .orderBy(col(group), col(rank))
  }

  /** Row cap above which the all-pairs control paths ([[knnBruteForce]],
    * [[cosineNearDupPairs]]) refuse to run. They exist as correctness
    * baselines for the bucketed scale paths ([[knnLsh]], [[knnIvf]],
    * [[cosineNearDupPairsLsh]]) and are quadratic in the corpus — at 100 TB
    * an accidental invocation is a cluster-killer, so the cap fails fast
    * with a pointer to the scale path instead. 100k rows ≈ 5×10⁹ pairs,
    * already minutes of work; anything larger is certainly a mistake. */
  val BruteForceCap: Long = 100000L

  /** Hard ceiling on [[ivfFit]]'s nlist — the driver-side Lloyd fit must
    * stay a bounded planner statistic (sample ≤ cap × samplePerList rows,
    * ~16 MB at 64 dims; worst-case Lloyd ~2×10¹⁰ flops, a few seconds
    * ONCE) no matter how large the corpus grows. More lists than this →
    * hierarchical composition ([[SemanticDedup.verdicts]]' refined
    * path), never a bigger flat fit. */
  val IvfFitNlistCap: Int = 256

  /** Fail fast when an all-pairs control path is invoked on a corpus above
    * [[BruteForceCap]] rows, unless the caller explicitly opts in with
    * `force=true`. The count runs EAGERLY at DataFrame-construction time:
    * on a scan-rooted corpus it is metadata-cheap (parquet row-group
    * counts, no column decode), but on a DERIVED corpus (filter/join/agg
    * upstream) it executes that upstream plan once before — and even
    * without — the real run. Pass `force=true` to skip the guard when the
    * corpus is derived-and-known-small. */
  private def guardBruteForce(corpus: DataFrame, what: String,
                              scalePath: String, force: Boolean): Unit =
    if (!force) {
      val n = corpus.count()
      require(n <= BruteForceCap,
        s"$what is an O(N²) all-pairs control path and the corpus has $n rows " +
          s"(cap $BruteForceCap). Use $scalePath at corpus scale, or pass " +
          "force=true to run the brute-force baseline anyway.")
    }

  /** [[guardBruteForce]] for the corpus × queries shape: the work is the
    * PAIR PRODUCT, not the corpus size — a 10-query recall witness over
    * a 10M-row corpus is a linear broadcast scan, while a self-join is
    * n². The cap is therefore [[BruteForceCap]]² scored pairs, which
    * degenerates to exactly the old per-side cap when queries = corpus.
    * Both counts run eagerly (same caveat as [[guardBruteForce]]). */
  private def guardBruteForcePair(corpus: DataFrame, queries: DataFrame,
                                  what: String, scalePath: String,
                                  force: Boolean): Unit =
    if (!force) {
      val n = corpus.count()
      val cap = BruteForceCap.toDouble * BruteForceCap
      // The queries side is typically a tiny derived witness frame
      // (e.g. `emb.where(vec_id < 10)`); a full count would execute its
      // upstream plan as an extra construction-time job (ADVICE r13).
      // The product check needs m only up to the failure threshold
      // cap²/n, so the count is LIMIT-bounded at threshold+1: below the
      // threshold the limited count IS m (identical accept/reject set
      // to the exact check — n·(⌊cap²/n⌋+1) > cap² always), at it the
      // guard fails exactly as before. Never more work than the full
      // count; a scan-rooted frame stops at its first row groups.
      val mStop = (math.min(cap / math.max(n, 1L),
        Int.MaxValue.toDouble - 2) + 1).toInt
      val m = queries.limit(mStop).count()
      require(n.toDouble * m <= cap,
        s"$what scores corpus × queries = $n × ${
          if (m >= mStop) s">=$m" else s"$m"} pairs " +
          s"(cap ${cap.toLong}). Use $scalePath at corpus scale, or pass " +
          "force=true to run the brute-force baseline anyway.")
    }

  /** Exact cosine top-k: for each query vector (`queries`, small — gets
    * broadcast), the k nearest corpus vectors by cosine, deterministically
    * tie-broken (cosine desc, candidate id asc). Self-pairs excluded.
    * Guarded by [[BruteForceCap]]: this is the correctness baseline for
    * [[knnLsh]]/[[knnIvf]], not the scale path. */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame, k: Int,
                    dim: Int = 64, force: Boolean = false): DataFrame = {
    guardBruteForcePair(corpus, queries, "knnBruteForce",
      "knnLsh or knnIvf", force)
    val q = scoringSide(queries, "query_id", "qv", "qn2")
    // Rebalance the candidate side: queries×dim dot products per corpus row
    // must engage every core even when the corpus scan is one small file.
    val c = scoringSide(Spread(corpus), "cand_id", "cv", "cn2")
    val scored = c.crossJoin(broadcast(q))
      .where(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        cosSim(col("qv"), col("cv"), col("qn2"), col("cn2")).as("cos_sim"))
    topK(scored, "query_id", "cand_id", k)
  }

  /** Tie-aware recall@k witness for an ANN path, as one lazy plan:
    * `(n_queries, k, recall_ge_0NN)` — the witness column's name is
    * derived from `threshold` (e.g. 0.6 → `recall_ge_060`, 0.7 →
    * `recall_ge_070`) so a non-default caller's column never misstates
    * the predicate it encodes — where a retrieved candidate is a
    * hit when its EXACT (rounded) cosine clears the query's k-th
    * brute-force cosine — the standard ANN-benchmark recall under
    * distance ties. The set-intersection form (join retrieved against
    * the brute-force id set) is NOT tie-safe: on a replicated corpus
    * every copy of a true neighbor sits at the identical distance, the
    * brute-force top-k keeps k of them by id tie-break, and an ANN path
    * returning OTHER equally-near copies scores zero — the x10 sweep
    * flipped knn_pq's witness exactly this way while every retrieved
    * distance was optimal. Without ties the two forms agree (a
    * candidate at sim > kth would itself be in the top-k set), so the
    * sf0.01 oracle stays hash-exact. `retrieved` must carry
    * (query_id, cand_id); exact similarities are recomputed in-plan
    * from one corpus scan joined to the broadcast k·|queries| pair
    * list — witness cost linear in the corpus, same as the brute-force
    * leg it already carries. */
  def recallWitness(retrieved: DataFrame, corpus: DataFrame,
                    queries: DataFrame, k: Int, threshold: Double = 0.6,
                    force: Boolean = false): DataFrame =
    recallFraction(retrieved, corpus, queries, k, force)
      .select(col("n_queries"), col("k"),
        // compare on raw hit counts (not the display-rounded fraction)
        // so boundary semantics are bit-identical to the r12 witness
        (col("hits").cast("double") >=
          lit(threshold) * col("n_queries").cast("double") * col("k"))
          .as(f"recall_ge_${(threshold * 100).round}%03d"))

  /** The NUMBER behind [[recallWitness]]: tie-aware recall@k as
    * `(n_queries, k, hits, recall)` — same hit rule (a retrieved
    * candidate whose exact rounded cosine clears the query's k-th
    * brute-force cosine), same one-corpus-scan plan, but the fraction
    * itself instead of a thresholded boolean, for sizing sweeps
    * (`graft.Probe recall`) where the distance to the floor is the
    * signal. */
  def recallFraction(retrieved: DataFrame, corpus: DataFrame,
                     queries: DataFrame, k: Int,
                     force: Boolean = false): DataFrame = {
    val bf = knnBruteForce(corpus, queries, k, force = force)
    // k-th true similarity per query: min over its top-k rows (bf emits
    // exactly the rank <= k rows, cosine desc)
    val kth = bf.groupBy(col("query_id"))
      .agg(min(col("cos_sim")).as("__kth"))
    // exact similarity of each retrieved pair, identical expression and
    // rounding to knnBruteForce so tied values compare equal bitwise
    val q = scoringSide(queries, "query_id", "qv", "qn2")
    val pairs = retrieved.select(col("query_id"), col("cand_id"))
    val scored = scoringSide(corpus, "cand_id", "cv", "cn2")
      .join(broadcast(pairs), Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"),
        cosSim(col("qv"), col("cv"), col("qn2"), col("cn2")).as("__sim"))
    val hits = scored.join(broadcast(kth), Seq("query_id"))
      .where(col("__sim") >= col("__kth"))
      .agg(count(lit(1)).as("__hits"))
    queries.agg(count(lit(1)).as("n_queries"))
      .crossJoin(broadcast(hits))
      .select(col("n_queries"), lit(k.toLong).as("k"),
        col("__hits").as("hits"),
        round(col("__hits").cast("double")
          / (col("n_queries").cast("double") * k), 6).as("recall"))
  }

  /** Embedding-cosine near-dup pairs: all (a < b) pairs with cosine >=
    * threshold. Brute-force N²/2 — the correctness baseline whose scale
    * path is [[knnLsh]]-style bucketing (compare within LSH buckets only).
    * Norms are precomputed per vector; the threshold filters on the ROUNDED
    * value so an external oracle computing the same rounded cosine agrees
    * at the boundary. Guarded by [[BruteForceCap]]: use
    * [[cosineNearDupPairsLsh]] at corpus scale. */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
                         dim: Int = 64, force: Boolean = false): DataFrame = {
    guardBruteForce(corpus, "cosineNearDupPairs", "cosineNearDupPairsLsh", force)
    val v = Spread(corpus).select(col("vec_id"), col("embedding"),
      dotNative(col("embedding"), col("embedding")).as("n2"))
    val a = v.select(col("vec_id").as("vec_a"), col("embedding").as("va"),
      col("n2").as("n2a"))
    val b = v.select(col("vec_id").as("vec_b"), col("embedding").as("vb"),
      col("n2").as("n2b"))
    a.crossJoin(b).where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosSim(col("va"), col("vb"), col("n2a"), col("n2b")).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** LSH-bucketed cosine near-dup pairs — the linear-ish scale path for
    * [[cosineNearDupPairs]]: only vectors landing in the same hyperplane
    * bucket are compared (corpus shuffles ONCE on the bucket id; expected
    * pairs-per-bucket = (N/2^P)² instead of N²). Recall is bounded by the
    * bucket split — near-dups on a hyperplane boundary are missed, which is
    * the deliberate trade; raise recall with fewer planes or multiple plane
    * sets (OR-amplification), both pure config. Bucket semantics are
    * deterministic (seeded planes), so an external oracle reproduces them
    * exactly. One table, one mask of [[multiProbePairs]]. */
  def cosineNearDupPairsLsh(corpus: DataFrame, threshold: Double,
                            nPlanes: Int = 4, seed: Long = 42L,
                            dim: Int = 64): DataFrame =
    multiProbePairs(corpus, threshold, nPlanes, 1, 1, seed, dim)

  /** [[cosineNearDupPairsLsh]] with the two knobs that make the plan
    * survive corpus growth, derived from the corpus itself (the round-10
    * x30 scale probe measured the fixed-plane form going quadratic:
    * 2^4 = 16 buckets means per-bucket pairs grow as (N/16)² — 1.6 s at
    * 20k vectors, 33 s at 60k, tail exponent 2.77):
    *
    *  - PLANES grow with log2(N / targetBucket), keeping expected bucket
    *    occupancy — and so per-bucket pair work — bounded by a constant.
    *    Pair generation returns to ~linear: T · N · targetBucket.
    *  - More planes cut recall (a θ-similar pair co-buckets with prob
    *    (1-θ/π)^P), so TABLES OR-amplify it back: T is the smallest
    *    count with 1-(1-p^P)^T ≥ p^4, i.e. the adaptive form never
    *    recalls worse than the fixed 4-plane baseline at the threshold.
    *    Tables are seeded seed+t; threshold-filtered pairs dedup
    *    deterministically on (vec_a, vec_b) across tables.
    *
    * Scaling law, measured and theoretical: with recall PINNED, T must
    * grow as p^-P ~ N^(log2(1/p)) — the classic LSH 1+ρ exponent. At
    * this query's deliberately low threshold 0.4 (p ≈ 0.63) that is
    * ~N^1.66: sub-quadratic, far from linear — the probe's x30 tail
    * exponent ~1.4-1.7 on this operator is LSH theory, not a plan bug.
    * At production near-dup thresholds (0.9 ⇒ p ≈ 0.86) the same rule
    * gives ~N^1.22. When the threshold is low enough that 1+ρ hurts,
    * the right tool changes shape: kNN via the IVF index (per-item
    * candidates bounded by probed lists) or clustering — both shipped
    * here (`knn_ivf`, `label_centroids`).
    *
    * At N ≤ targetBucket·2^4 this degenerates to P=4, T=1 with table
    * seed `seed` — bit-identical to [[cosineNearDupPairsLsh]], which is
    * what keeps the DuckDB oracle exact at test scales. The one
    * `corpus.count()` is the stat a table catalog would hold at 100 TB
    * (the stats sidecar already stores it for persisted tables). */
  def cosineNearDupPairsLshAdaptive(corpus: DataFrame, threshold: Double,
                                    targetBucket: Int = 512,
                                    seed: Long = 42L,
                                    dim: Int = 64): DataFrame = {
    val n = math.max(1L, corpus.count())
    val (planes, tables) = lshAdaptiveParams(n, threshold, targetBucket)
    multiProbePairs(corpus, threshold, planes, 1, tables, seed, dim)
  }

  /** Multi-probe cosine-LSH near-dup pairs (the probing idea of Lv et
    * al., "Multi-Probe LSH", VLDB'07, on sign-bit tables): same seeded
    * hyperplane tables and sizing as [[cosineNearDupPairsLshAdaptive]],
    * but the candidate side additionally probes the P buckets at
    * Hamming distance 1 from its own — a pair is generated whenever the
    * two signatures differ in AT MOST ONE bit. Per-table catch
    * probability at the threshold angle rises from p^P to
    * p^P + P·p^(P-1)(1-p); on the x10 sweep corpus (20k vectors,
    * threshold 0.4) measured pair recall vs the exact O(N²) ground
    * truth rose 0.195 → 0.659 at the SAME table count and corpus-scan
    * count. The price is probe-side fan-out P+1 (= O(log n) — the
    * explode is masks over the already-computed signature, not
    * re-hashing), so candidate volume grows by the one factor that does
    * NOT multiply corpus scans: the cost lever OR-tables cannot reach
    * (T tables = T scans + T shuffles). Same bucket-bounded pair
    * generation as every dedup operator here — never all-pairs.
    *
    * Output schema/tie-break matches [[cosineNearDupPairsLshAdaptive]];
    * reported bucket is the exact bucket of the lower-id vector,
    * min across tables. Note the degenerate small-corpus regime is NOT
    * bit-identical to the single-bucket form (it probes by design), so
    * this operator carries its own Hamming-≤1 oracle.
    *
    * Scale law, measured (SCALEPROBE x30 tail 1.55 vs the sibling's
    * 1.03): this operator holds threshold recall ROUGHLY CONSTANT
    * (~0.66 designed and measured at x10; the shared table sizing
    * lands within one table of the 0.6-target rule at every probed
    * factor) while the single-bucket form lets recall fall toward the
    * p⁴ floor (~0.16) as P grows — constant recall across a growing
    * corpus at a fixed threshold costs super-linear candidate volume
    * by the LSH ρ-law (see the ~N^1.66 derivation on
    * [[lshAdaptiveParams]]). Pick per use: screening where misses are
    * cheap → the sibling; dedup/decontamination where recall is the
    * contract → this one, budgeted accordingly. */
  def cosineNearDupPairsMultiProbe(corpus: DataFrame, threshold: Double,
                                   targetBucket: Int = 512,
                                   seed: Long = 42L,
                                   dim: Int = 64): DataFrame = {
    val n = math.max(1L, corpus.count())
    val (planes, tables) = lshAdaptiveParams(n, threshold, targetBucket)
    multiProbePairs(corpus, threshold, planes, planes + 1, tables, seed, dim)
  }

  /** Budget-ruled multi-probe sizing (pure, spec-pinnable) — the r12
    * verdict's ask: make the multi-probe family's constant-recall cost
    * a CHOSEN point instead of a fixed one. planes is the shared
    * occupancy rule ([[lshAdaptiveParams]]); then the CHEAPEST
    * (probes m, tables T) reaching `recallTarget` pair recall at the
    * threshold angle is picked, where per-table catch with the exact
    * bucket + (m−1) Hamming-1 masks is q = p^P + (m−1)·p^(P−1)·(1−p)
    * and cost is modeled as T·(scanWeight + m): a table is a corpus
    * scan + signature + its own shuffle (scanWeight ≈ 4 probe-joins'
    * worth), a probe mask is one more exploded row through an existing
    * table's join. Probes are the cheaper recall lever, so the rule
    * exhausts masks before adding tables; when even all P+1 masks per
    * table cannot reach the target, T grows by the honest ρ-law price
    * (see [[cosineNearDupPairsMultiProbe]]'s scale-law note).
    *
    * Measured trade (budget → recall, tail) on the x10 replica corpus
    * (20k vectors, threshold 0.4, exact O(N²) ground-truth pair join;
    * tails from SCALEPROBE x10→x30, seconds at {x1, x10, x30}):
    *
    *  - single bucket, sibling T rule: recall 0.195, tail 1.03
    *  - all-masks multi-probe, sibling T rule (the registered
    *    `neardup_multiprobe`): recall 0.659, tail 1.55,
    *    {1.0, 4.5, 24.6} s
    *  - this rule, target 0.6 (registered
    *    `neardup_multiprobe_budgeted`): measured recall 0.659, tail
    *    1.56, {1.6, 4.0, 22.1} s — the same recall as the fixed form,
    *    slightly cheaper at scale, and the target is now an argument
    *    with the cost model in code instead of a behavior to
    *    reverse-engineer
    *  - this rule, target 0.8: measured recall 0.834 at x10 — the
    *    target is honored, at proportionally more tables (the ρ-law
    *    price curve, chosen knowingly).
    *
    * The tail stays the constant-recall ρ-law cost at every target —
    * the rule does not repeal it, it prices it.
    *
    * Returns (planes, probeMasks, tables). */
  def multiProbeParams(n: Long, threshold: Double,
                       targetBucket: Int = 512,
                       recallTarget: Double = 0.6,
                       scanWeight: Double = 4.0): (Int, Int, Int) = {
    require(recallTarget > 0.0 && recallTarget < 1.0,
      s"recallTarget must be in (0, 1): $recallTarget")
    val (planes, _) = lshAdaptiveParams(n, threshold, targetBucket)
    val p = 1.0 - math.acos(threshold) / math.Pi
    val options = (1 to planes + 1).map { m =>
      val q = math.min(1.0 - 1e-12,
        math.pow(p, planes) + (m - 1) * math.pow(p, planes - 1) * (1.0 - p))
      val t =
        if (q >= recallTarget) 1
        else math.max(1, math.ceil(
          math.log1p(-recallTarget) / math.log1p(-q)).toInt)
      (m, t)
    }
    val (m, t) = options.minBy { case (m, t) =>
      (t * (scanWeight + m), t.toDouble, m.toDouble) }
    (planes, m, t)
  }

  /** [[cosineNearDupPairsMultiProbe]] with the [[multiProbeParams]]
    * budget rule: same seeded tables, masks restricted to the exact
    * bucket + the rule's (m−1) lowest sign bits, table count from the
    * rule's recall target instead of the single-bucket sibling's
    * baseline. Output schema/tie-break identical. */
  def cosineNearDupPairsMultiProbeBudgeted(corpus: DataFrame,
                                           threshold: Double,
                                           targetBucket: Int = 512,
                                           recallTarget: Double = 0.6,
                                           seed: Long = 42L,
                                           dim: Int = 64): DataFrame = {
    val n = math.max(1L, corpus.count())
    val (planes, probes, tables) =
      multiProbeParams(n, threshold, targetBucket, recallTarget)
    multiProbePairs(corpus, threshold, planes, probes, tables, seed, dim)
  }

  /** The one LSH near-dup pair generator: `probes` masks (the exact
    * bucket + probes−1 single sign bits) over `tables` seeded plane
    * sets of `planes` bits, pairs scored with [[cosSim]], thresholded,
    * then deduplicated across tables (smallest bucket kept). The
    * single-bucket family ([[cosineNearDupPairsLsh]],
    * [[cosineNearDupPairsLshAdaptive]]) is `probes = 1`. private[ext]: [[SplitIndex]]'s semantic
    * regime must generate pairs under its FROZEN model params (a
    * crash-recovered create may not re-derive the adaptive sizing from
    * today's corpus count), so it calls this directly instead of the
    * count-adaptive public wrapper. */
  private[ext] def multiProbePairs(corpus: DataFrame, threshold: Double,
                                   planes: Int, probes: Int, tables: Int,
                                   seed: Long, dim: Int): DataFrame = {
    require(probes >= 1 && probes <= planes + 1,
      s"probes must be in [1, ${planes + 1}]: $probes")
    val v = Spread(corpus).select(col("vec_id"), col("embedding"),
      dotNative(col("embedding"), col("embedding")).as("n2"))
    // XOR masks: 0 (the exact bucket) plus each probed single sign bit
    val masks = lit(0L) +: (0 until probes - 1).map(i => lit(1L << i))
    val perTable = (0 until tables).map { t =>
      val pl = hyperplanes(planes, dim, seed + t)
      val vt = v.withColumn("bucket", bucketId(col("embedding"), pl))
      val a = vt.select(col("bucket"), col("vec_id").as("vec_a"),
        col("embedding").as("va"), col("n2").as("n2a"))
      // Probe side: each vector visits its bucket and the P Hamming-1
      // neighbors. A pair differing in bit i is caught at mask e_i and
      // only there (mask 0 catches the equal-signature pairs), so no
      // within-table double-count exists to dedup. One mask (the exact
      // bucket alone) needs no generator at all.
      // explode_outer + isNotNull: the computed-array explode trap
      // (InferFiltersFromGenerate re-evaluates the array — and the
      // signature under it — in a filter below the generate)
      val probed =
        if (probes == 1) vt
        else vt.withColumn("bucket", explode_outer(
            array(masks.map(m => col("bucket").bitwiseXOR(m)): _*)))
          .where(col("bucket").isNotNull)
      val b = probed.select(col("bucket"), col("vec_id").as("vec_b"),
        col("embedding").as("vb"), col("n2").as("n2b"))
      // Threshold BEFORE the cross-table dedup: cos_sim is identical for
      // every sighting of a pair (same vectors, same rounding), so the
      // filter commutes with dedup — and it is the difference between
      // shuffling a handful of near-dup rows and shuffling every
      // co-bucket candidate pair into the dedup exchange.
      a.join(b, Seq("bucket")).where(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"), col("bucket"),
          cosSim(col("va"), col("vb"), col("n2a"), col("n2b")).as("cos_sim"))
        .where(col("cos_sim") >= threshold)
    }
    // Deterministic cross-table dedup: bucket differs per table — keep
    // the smallest. (dropDuplicates would keep an arbitrary sighting's.)
    perTable.reduce(_ unionByName _)
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(min(col("bucket")).as("bucket"), max(col("cos_sim")).as("cos_sim"))
      .select(col("vec_a"), col("vec_b"), col("bucket"), col("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The adaptive-LSH sizing rule, pure so the spec can pin it:
    * planes = max(4, ceil(log2(n / targetBucket))) bounds expected bucket
    * occupancy; tables = smallest T with 1-(1-p^P)^T ≥ p^4 (p = co-bucket
    * probability at the threshold angle) so recall never drops below the
    * fixed 4-plane baseline. Returns (planes, tables). */
  def lshAdaptiveParams(n: Long, threshold: Double,
                        targetBucket: Int): (Int, Int) = {
    val planes = math.max(4, math.ceil(
      math.log(math.max(1L, n).toDouble / targetBucket) / math.log(2.0)).toInt)
    (planes, orTablesFor(planes, threshold))
  }

  /** OR-amplification table count for a `planes`-bit split at `threshold`
    * — the tables half of [[lshAdaptiveParams]], shared with
    * [[SemanticDedup]]'s within-cluster refinement: the smallest T with
    * 1-(1-p^planes)^T ≥ p^4 (p = co-bucket probability at the threshold
    * angle), i.e. amplified recall never below the library's fixed
    * 4-plane LSH baseline. planes ≤ 4 needs no amplification (p^planes ≥
    * p^4 already). Pure, so sizing specs can pin it. */
  def orTablesFor(planes: Int, threshold: Double): Int =
    if (planes <= 4) 1
    else {
      val pCollide = 1.0 - math.acos(threshold) / math.Pi
      val baseRecall = math.pow(pCollide, 4)
      val tableRecall = math.pow(pCollide, planes)
      math.max(1, math.ceil(
        math.log1p(-baseRecall) / math.log1p(-tableRecall)).toInt)
    }

  /** Deterministic pseudo-random hyperplanes (values in [-0.5, 0.5)),
    * generated from a fixed seed — inlined as literals so an external oracle
    * can use the exact same planes. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    // 3-decimal grid keeps the literal SQL text small and exact in binary?
    // No — 0.001 is not exact in binary, but BOTH engines parse the same
    // decimal literal to the same nearest double, so determinism holds.
    Array.fill(nPlanes, dim)(math.floor(rnd.nextDouble() * 1000.0 - 500.0) / 1000.0)
  }

  /** Bucket id = integer of sign bits of dot(v, plane_p), p = 0..P-1. */
  def bucketId(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dotN(v, typedLit(p.toSeq), p.length) >= 0.0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** IVF coarse quantizer: Lloyd's k-means over a BOUNDED deterministic
    * sample of the corpus — the `samplePerList × nlist` rows with the
    * smallest `xxhash64(vec_id, seed)`, fetched via orderBy+limit
    * (per-partition top-k merge, never a full sort) and fit on the driver.
    * Hash order spreads the sample uniformly across the id space: sampling
    * the LOWEST vec_ids would bias the fit toward whatever content
    * correlates with early ids (ingestion order, time), degrading list
    * balance; hash order is ingestion-order-independent and still fully
    * deterministic for a given `seed`.
    *
    * Why driver-side (vs the earlier mllib KMeans): the quantizer only
    * needs a representative sample (FAISS trains on ~256 points/list), so
    * the fit is O(sample × nlist × dim × iters) REGARDLESS of corpus size
    * — a few ms of arithmetic. Running those Lloyd iterations as 20+
    * distributed mllib jobs is pure scheduling overhead at every scale
    * (9.7 s vs ~0.1 s at sf0.1), and the corpus-side cost (one bounded
    * top-k scan) is unchanged. Deterministic by construction: hash-sorted
    * sample (vec_id tie-break), then the [[Lloyd]] loop's evenly-spaced
    * init and first-index tie-breaks, no RNG.
    *
    * nlist is HARD-CAPPED at [[IvfFitNlistCap]]: both the collected
    * sample (nlist × samplePerList rows) and the Lloyd cost
    * (iter × sample × nlist × dim) grow with nlist, so an uncapped
    * caller scaling nlist with the corpus (the round-10 SemDeDup bug:
    * nlist = n/1024 ⇒ an O(n²) single-threaded driver fit) turns this
    * bounded planner statistic into a scale-killer. Callers needing more
    * lists than the cap compose hierarchically — a capped coarse fit
    * plus per-cell refinement — the way
    * [[SemanticDedup.verdicts]]' refined path does. */
  def ivfFit(corpus: DataFrame, nlist: Int, seed: Long = 42L,
             maxIter: Int = 20, samplePerList: Int = 256): Array[Array[Double]] = {
    require(nlist >= 1 && nlist <= IvfFitNlistCap,
      s"ivfFit nlist=$nlist outside [1, $IvfFitNlistCap]: the driver-side " +
        "Lloyd fit is bounded BY this cap (sample nlist*samplePerList rows, " +
        "cost iter*sample*nlist*dim). Compose a capped coarse fit with " +
        "per-cell refinement (see SemanticDedup.verdicts) instead of " +
        "raising nlist with the corpus.")
    val pts: Array[Array[Double]] = corpus
      .select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id"), lit(seed)), col("vec_id"))
      .limit(nlist * samplePerList)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(pts.length >= nlist, s"need >= $nlist sample vectors, got ${pts.length}")
    Lloyd.fit(pts, nlist, maxIter)
  }

  /** Per-vector int8 quantization (absmax scaling — the standard 4x
    * compression applied to embedding corpora before ANN indexing):
    * `scale = max|x| / 127`, `q_i = round(x_i / scale)` computed as
    * `floor(x/scale + 0.5)` — explicit, because CAST-to-int rounding is
    * engine-specific (Spark truncates, DuckDB rounds half-even) while
    * floor is IEEE-identical everywhere. Appends the code array, the
    * scale, and the per-vector mean reconstruction error (the quality
    * metric a pipeline thresholds before committing to int8). Pure
    * projection — no shuffle, embarrassingly parallel. Zero vectors get
    * code 0 / error 0. */
  def quantizeInt8(vecs: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol)
    vecs
      .withColumn("scale",
        array_max(transform(v, x => abs(x.cast("double")))) / 127.0)
      .withColumn("qcode",
        when(col("scale") === 0.0, transform(v, _ => lit(0)))
          .otherwise(transform(v,
            x => floor(x.cast("double") / col("scale") + 0.5).cast("int"))))
      .withColumn("quant_mae",
        when(col("scale") === 0.0, lit(0.0))
          .otherwise(aggregate(v, lit(0.0), (acc, x) =>
            acc + abs(floor(x.cast("double") / col("scale") + 0.5)
              * col("scale") - x.cast("double"))) / size(v)))
  }

  /** The IVF routing order: one struct(d, i) per centroid i, d its
    * squared L2 distance expanded as |v|² − 2·v·c + |c|² with the
    * per-row constant |v|² dropped. One [[dotN]] per centroid, all
    * inlined literals — a pure projection. Sorting it ascending gives
    * the probe order (distance, then centroid index). */
  private def centroidDistances(v: Column,
                                centroids: Array[Array[Double]]): Column =
    array(centroids.zipWithIndex.map { case (c, i) =>
      val c2 = c.map(x => x * x).sum
      struct((lit(-2.0) * dotN(v, typedLit(c.toSeq), c.length) + lit(c2))
        .as("d"), lit(i).as("i"))
    }.toIndexedSeq: _*)

  /** Nearest-centroid list id: the minimum of [[centroidDistances]]. */
  def ivfListId(v: Column, centroids: Array[Array[Double]]): Column =
    array_min(centroidDistances(v, centroids)).getField("i")

  /** The `probes` nearest-centroid list ids, nearest first, as an array
    * — the multi-probe assignment of [[knnIvf]], [[knnGraphIvf]] and
    * [[SemanticDedup]] (a near-dup pair straddling a k-means boundary is
    * rescued by the second probe: single-assignment recall measured
    * < 0.5 on the test corpus, 2-probe 0.79–1.0). Bounded at
    * [[IvfFitNlistCap]] × dim inlined values, like [[ivfListId]]. */
  def ivfListIds(v: Column, centroids: Array[Array[Double]],
                 probes: Int): Column =
    transform(slice(array_sort(centroidDistances(v, centroids)),
      1, math.min(probes, centroids.length)), s => s.getField("i"))

  /** IVF-bucketed ANN: queries search only their `nprobe` nearest lists.
    * Corpus shuffles once on list id; each query fans out to nprobe list
    * partitions (corpus/nlist × nprobe candidates in expectation) — the
    * standard inverted-file trade of recall for a nlist/nprobe speedup. */
  def knnIvf(corpus: DataFrame, queries: DataFrame, k: Int,
             centroids: Array[Array[Double]], nprobe: Int,
             dim: Int = 64): DataFrame = {
    val c = scoringSide(Spread(corpus), "cand_id", "cv", "cn2",
      ivfListId(col("embedding"), centroids).as("list_id"))
    val q = scoringSide(queries, "query_id", "qv", "qn2",
      explode(ivfListIds(col("embedding"), centroids, nprobe)).as("list_id"))
    val scored = c.join(broadcast(q), Seq("list_id"))
      .where(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        cosSim(col("qv"), col("cv"), col("qn2"), col("cn2")).as("cos_sim"))
      .dropDuplicates("query_id", "cand_id")
    topK(scored, "query_id", "cand_id", k)
  }

  /** Adaptive-nprobe IVF ANN: instead of a fixed nprobe, each query scans
    * its nearest lists until the CUMULATIVE list size reaches
    * `budgetFrac × corpus` — the standard quality knob (FAISS exposes it
    * as nprobe tuning; this automates it per query). Fixed nprobe
    * under-scans queries that land near small lists and over-scans ones
    * near hot lists; budget-based probing equalizes the per-query work, so
    * at the SAME total candidate budget recall strictly dominates fixed
    * nprobe (measured: 0.72 fixed vs >=0.8 adaptive at 3/8 coverage on the
    * spec corpus).
    *
    * List sizes are one nlist-row aggregate collected to the driver —
    * bounded by nlist (like the quantizer's 256/list sample, never
    * corpus-sized) — and inlined as a literal, so the per-query list
    * selection is a pure projection: sort the centroid-distance structs,
    * fold until the running size crosses the budget. One shuffle (corpus
    * on list id), broadcast queries — same join as [[knnIvf]]. */
  def knnIvfAdaptive(corpus: DataFrame, queries: DataFrame, k: Int,
                     centroids: Array[Array[Double]],
                     budgetFrac: Double): DataFrame = {
    val nlist = centroids.length
    val c = scoringSide(Spread(corpus), "cand_id", "cv", "cn2",
      ivfListId(col("embedding"), centroids).as("list_id"))
    // Bounded driver-side stats: nlist rows, independent of corpus size.
    val sizeRows = c.groupBy(col("list_id")).count().collect()
    val sizes = Array.fill(nlist)(0L)
    sizeRows.foreach(r => sizes(r.getInt(0)) = r.getLong(1))
    val budget = math.max(1L, math.ceil(budgetFrac * sizes.sum).toLong)
    val sizesLit = typedLit(sizes.toSeq)
    // Fold nearest-first: keep appending list ids while the running
    // candidate count is below the budget (so the budget is crossed by at
    // most one list — the spec pins the overshoot bound).
    val probeIds = aggregate(
      array_sort(centroidDistances(col("embedding"), centroids)),
      struct(lit(0L).as("cum"),
        array().cast("array<int>").as("ids")),
      (acc, s) => when(acc.getField("cum") >= lit(budget), acc)
        .otherwise(struct(
          (acc.getField("cum") +
            element_at(sizesLit, s.getField("i") + 1)).as("cum"),
          array_append(acc.getField("ids"), s.getField("i")).as("ids"))),
      acc => acc.getField("ids"))
    val q = scoringSide(queries, "query_id", "qv", "qn2",
      explode(probeIds).as("list_id"))
    val pairs = c.join(broadcast(q), Seq("list_id"))
      .where(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        cosSim(col("qv"), col("cv"), col("qn2"), col("cn2")).as("cos_sim"))
      .dropDuplicates("query_id", "cand_id")
    topK(pairs, "query_id", "cand_id", k)
  }

  /** Corpus-wide approximate kNN GRAPH: every vector's `k` nearest
    * neighbors, as (vec_id, neighbor_id, rank, cos_sim) — the primitive
    * under dataset cartography, graph-based dedup (SemDeDup-style
    * cluster pruning consumes exactly these edges), and hubness
    * diagnostics. The per-query ANN paths ([[knnIvf]]/[[knnLsh]]…)
    * BROADCAST their query set, which is correct for a handful of
    * probes and impossible when the query set IS the corpus; this is
    * the self-join form:
    *
    *  - the corpus shuffles ONCE on its IVF cell id (the data side —
    *    every vector lives in exactly one cell, so no candidate pair is
    *    generated twice and no dedup pass exists);
    *  - the query side re-derives each vector's `nprobe` nearest cells
    *    and fans out by plain equi-join on cell id — a second shuffle
    *    of (id, vec, cell) rows, never a broadcast;
    *  - per-vector top-k rides the bounded [[graft.functions
    *    .TopKAggregate]] (≤ 2k entries per group per partition,
    *    map-side combined): the exchange after candidate scoring
    *    carries O(n·k) tuples, not the candidate volume — the
    *    window-rank form would shuffle every candidate pair to its
    *    vector's reducer and sort there.
    *
    * Candidate volume is n · nprobe · (n/nlist): at FIXED nlist this is
    * quadratic — the x30 probe measured tail exponent 3.17 (499 s at
    * 60 k vectors) with nlist frozen at 8. The caller contract is
    * therefore cells of BOUNDED size: size nlist from the corpus-count
    * catalog stat (≈ n/512, floored at 8, capped at
    * [[IvfFitNlistCap]] — the registered query's form), which makes
    * candidate volume n·nprobe·512, linear until the fit cap; beyond
    * the cap the next tool is hierarchical/IVF-PQ routing
    * ([[graft.ext.ProductQuant]]). Neighbors missed when none of the
    * probed cells holds them are the IVF recall trade, witnessed
    * tie-aware by the registered query ([[recallWitness]]).
    *
    * Recall-vs-coverage honesty: with bounded cells and fixed nprobe,
    * the scanned FRACTION shrinks as the corpus grows (that is what
    * makes the graph linear), so recall holds only as far as neighbors
    * are LOCAL to nearby cells — the IVF bet, true of clustered real
    * embedding corpora, false of isotropic noise. On THIS repo's
    * near-isotropic synthetic vectors (the documented worst case — see
    * the PCA notes) the earned 0.6 floor holds at the gate SFs
    * (500/2000 vectors, ≥ 19% coverage) and measured FALSE at x10
    * (7.7% coverage) — exactly the coverage-bound prediction. When
    * recall at corpus scale is the contract on hard data, the shipped
    * escalation is [[graft.ext.SemanticDedup]]'s per-cell OR-LSH
    * refinement (earned ≥ 0.6 at every probed factor). */
  def knnGraphIvf(corpus: DataFrame, k: Int,
                  centroids: Array[Array[Double]],
                  nprobe: Int = 2): DataFrame = {
    val nlist = centroids.length
    require(nprobe >= 1 && nprobe <= nlist,
      s"nprobe must be in [1, $nlist]: $nprobe")
    val c = scoringSide(Spread(corpus), "neighbor_id", "cv", "cn2",
      ivfListId(col("embedding"), centroids).as("list_id"))
    // explode_outer + isNotNull: the computed-array explode trap
    val q = scoringSide(corpus, "vec_id", "qv", "qn2",
        explode_outer(ivfListIds(col("embedding"), centroids, nprobe))
          .as("list_id"))
      .where(col("list_id").isNotNull)
    val pairs = c.join(q, Seq("list_id"))
      .where(col("neighbor_id") =!= col("vec_id"))
      .select(col("vec_id"),
        cosSim(col("qv"), col("cv"), col("qn2"), col("cn2")).as("cos_sim"),
        col("neighbor_id"))
    pairs.groupBy(col("vec_id"))
      .agg(graft.functions.TopKAggregate.topKBy(
        col("cos_sim"), col("neighbor_id"), k).as("__nb"))
      .select(col("vec_id"),
        posexplode_outer(col("__nb")).as(Seq("__p", "__e")))
      .where(col("__e").isNotNull)
      .select(col("vec_id"), col("__e.id").as("neighbor_id"),
        (col("__p") + 1).cast("long").as("rank"),
        col("__e.v").as("cos_sim"))
  }

  /** LSH-bucketed ANN: exact top-k *within* the query's bucket. Candidates
    * and queries shuffle once on the bucket id; each query compares against
    * its bucket only (corpus/2^P per bucket in expectation). */
  def knnLsh(corpus: DataFrame, queries: DataFrame, k: Int,
             nPlanes: Int = 4, seed: Long = 42L): DataFrame = {
    val dim = 64
    val planes = hyperplanes(nPlanes, dim, seed)
    val c = scoringSide(Spread(corpus), "cand_id", "cv", "cn2",
      bucketId(col("embedding"), planes).as("bucket"))
    val q = scoringSide(queries, "query_id", "qv", "qn2",
      bucketId(col("embedding"), planes).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("bucket"), col("cand_id"),
        cosSim(col("qv"), col("cv"), col("qn2"), col("cn2")).as("cos_sim"))
    topK(scored, "query_id", "cand_id", k)
  }

  /** OR-amplified LSH ANN — the recall fix for [[knnLsh]]: `nTables`
    * independent seeded plane sets hash every vector `nTables` times, and a
    * candidate counts if it shares the query's bucket in ANY table (union
    * of bucket candidates, deduplicated). Collision probability for a
    * neighbor at angle θ rises from (1−θ/π)^P to 1−(1−(1−θ/π)^P)^L — the
    * standard OR-construction (Indyk–Motwani; Leskovec/Rajaraman/Ullman
    * MMDS ch. 3) — while the expected candidate budget is L/2^P of the
    * corpus per query, so L tables of P planes cost the same as one table
    * of P − log2(L) planes but recall far more.
    *
    * Plan shape: the corpus explodes to (table, bucket) — `nTables` rows
    * per vector — and shuffles ONCE on that pair; queries (small) broadcast
    * the same way. Duplicate (query, candidate) pairs found by several
    * tables are scored cheaply (a 64-mult dot each) and deduplicated
    * AFTER scoring, so only scalar rows reach the dedup exchange, never
    * the vectors. Plane set `t` is seeded `seed + t` — fully deterministic,
    * reproducible by an external oracle. */
  def knnLshOr(corpus: DataFrame, queries: DataFrame, k: Int,
               nTables: Int = 12, nPlanes: Int = 5,
               seed: Long = 42L): DataFrame = {
    require(nTables >= 1 && nPlanes >= 1, s"need >= 1 table/plane")
    val dim = 64
    val tables = Array.tabulate(nTables)(t => hyperplanes(nPlanes, dim, seed + t))
    // posexplode_outer: the plain explode of a COMPUTED array would make
    // InferFiltersFromGenerate re-evaluate all L×P dot products in a
    // pushed-down size() filter below the exchange
    val buckets = posexplode_outer(array(tables.map(p =>
      bucketId(col("embedding"), p)).toIndexedSeq: _*)).as(Seq("tbl", "bucket"))
    val c = scoringSide(Spread(corpus), "cand_id", "cv", "cn2", buckets)
    val q = scoringSide(queries, "query_id", "qv", "qn2", buckets)
    val scored = c.join(broadcast(q), Seq("tbl", "bucket"))
      .where(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        cosSim(col("qv"), col("cv"), col("qn2"), col("cn2")).as("cos_sim"))
      .dropDuplicates("query_id", "cand_id")
    topK(scored, "query_id", "cand_id", k)
  }

  /** Hard-negative mining for contrastive training — the counterpart
    * to [[Sampling.contrastiveNegatives]]' random picks: candidates
    * from the anchor's OWN LSH bucket whose cosine lands in [lo, hi) —
    * close enough to be informative, below the near-dup cap `hi` so a
    * disguised positive can never be labeled negative. Top-`m` hardest
    * (highest similarity, id tiebreak) per anchor.
    *
    * Same bucketed plan as [[knnLsh]] (anchors broadcast, each probes
    * only its bucket) and the same determinism contract: seeded planes
    * + rounded similarity ranking reproduce bit-identically in an
    * external oracle. */
  def hardNegativesLsh(corpus: DataFrame, anchors: DataFrame, m: Int,
                       lo: Double, hi: Double,
                       nPlanes: Int = 4, seed: Long = 42L): DataFrame = {
    require(m > 0 && lo < hi, s"need m > 0 and lo < hi: $m, [$lo, $hi)")
    val dim = 64
    val planes = hyperplanes(nPlanes, dim, seed)
    val c = scoringSide(Spread(corpus), "neg_id", "cv", "cn2",
      bucketId(col("embedding"), planes).as("bucket"))
    val q = scoringSide(anchors, "anchor_id", "qv", "qn2",
      bucketId(col("embedding"), planes).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where(col("neg_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("neg_id"),
        cosSim(col("qv"), col("cv"), col("qn2"), col("cn2")).as("cos_sim"))
      .where(col("cos_sim") >= lo && col("cos_sim") < hi)
    topK(scored, "anchor_id", "neg_id", m, rank = "neg_rank")
  }
}

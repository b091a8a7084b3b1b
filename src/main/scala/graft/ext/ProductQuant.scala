package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PqFunctions.{pqCodeNative, pqLutNative}
import graft.functions.VectorFunctions.{adcNative, dotNative}

/** Product quantization for embedding search at corpus scale (Jégou,
  * Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
  * IEEE TPAMI 2011) — the compression half of the FAISS-style IVF-PQ
  * stack whose coarse half already ships as [[Similarity.ivfFit]] /
  * [[Similarity.knnIvf]].
  *
  * The 100 TB motivation is MEMORY, not arithmetic: a 64-dim float
  * embedding is 256 bytes/vector; its PQ code at m=16 subspaces ×
  * 16 codes is 16 nibbles — semantically 8 bytes — so the scan side
  * of an ANN query touches ~3 % of the bytes. At 100 TB of raw
  * embeddings the code table is ~3 TB: the difference between an
  * index that fits in cluster page cache and one that doesn't.
  * Scoring shrinks the same way: m table lookups per pair instead of
  * dim multiplies.
  *
  * Pipeline:
  *  1. [[pqFit]] — per-subspace Lloyd codebooks over a BOUNDED
  *     deterministic sample (the [[Similarity.ivfFit]] discipline:
  *     hash-ordered top-k sample, driver-side fit that costs the same
  *     whether the corpus is 1 GB or 100 TB).
  *  2. [[encode]] — pure projection: argmin centroid per subspace on
  *     the L2-NORMALIZED vector (cosine ranking ⇔ L2 ranking on the
  *     unit sphere: ‖q̂−x̂‖² = 2−2·cos, so one geometry serves both).
  *  3. [[knnPq]] — asymmetric distance computation (ADC): each query
  *     precomputes an m×ksub lookup table of exact
  *     subspace-to-centroid distances; a candidate scores as m
  *     `element_at`s against its stored code. Codes-only scan,
  *     broadcast queries, top-R by ADC, then an exact cosine
  *     re-rank of the R survivors (the standard refine step) — the
  *     full vectors are touched for R×queries rows only, never the
  *     corpus.
  *
  * Plan-size discipline: the codebooks enter the plan as ONE literal
  * (an m × ksub × dsub nested array) walked by higher-order functions
  * (`transform`/`aggregate` folds), so the expression TREE is O(m)
  * regardless of ksub — inlining per-centroid expressions (the
  * [[Similarity.ivfListId]] struct-min shape, fine at nlist ≤ 256)
  * would put m×ksub subtrees into analysis/codegen and stall the
  * planner long before the executors see a row (the round-10 SemDeDup
  * verdict's exact failure mode).
  *
  * Determinism: hash-ordered sample, evenly-spaced init, first-index
  * tie-breaks (both in Lloyd and in `array_position` decode), no RNG —
  * a given (corpus, seed) always yields the same codebooks, codes, and
  * neighbor lists, so the registered witness can hash-match its recall
  * contract.
  */
object ProductQuant {

  /** Fit-sample ceiling: the driver fit collects at most this many
    * vectors no matter the corpus size (FAISS trains PQ on ~10k-100k
    * points). 16384 × 64 dims × 8 B = 8 MB collected; Lloyd cost
    * m × sample × ksub × dsub × iter ≈ 3×10⁸ flops worst case — a
    * bounded planner statistic, like [[Similarity.IvfFitNlistCap]]
    * bounds the IVF fit. */
  val PqFitSampleCap: Int = 16384

  /** Append the L2-normalized vector (array<float|double> →
    * array<double>; zero vectors map to all-zero, not NaN) as a
    * MATERIALIZED column `as`, computed once per row in its own
    * projection. Consumers that READ BACK individual elements (the code /
    * LUT / error expressions below) reference this attribute: an inline
    * normalize expression would re-evaluate the whole transform —
    * including the norm's dot product — at every `element_at`, because
    * the higher-order functions are CodegenFallback (no common-
    * subexpression elimination): measured 70 s instead of ~2 s on the
    * sf0.1 error rollup. CollapseProject will not inline the column into
    * consumers: the alias is non-cheap and multiply-referenced, which is
    * exactly the property that keeps the m×ksub×dsub element reads O(1)
    * each. */
  private def withNormalized(df: DataFrame, vecCol: String,
                             as: String): DataFrame =
    df.withColumn("__nrm", sqrt(dotNative(col(vecCol), col(vecCol))))
      .withColumn(as,
        when(col("__nrm") === 0.0, transform(col(vecCol), _ => lit(0.0)))
          .otherwise(transform(col(vecCol),
            x => x.cast("double") / col("__nrm"))))
      .drop("__nrm")

  /** Per-subspace Lloyd codebooks over the hash-ordered bounded sample.
    * Returns codebooks(sub)(code)(d): m subspaces × ksub centroids ×
    * (dim/m) dims, fit on L2-normalized vectors by the same [[Lloyd]]
    * loop as [[Similarity.ivfFit]]. */
  def pqFit(corpus: DataFrame, m: Int = 16, ksub: Int = 16, dim: Int = 64,
            seed: Long = 42L, maxIter: Int = 20): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(ksub >= 2 && ksub <= 256, s"ksub $ksub outside [2, 256]")
    val sampled = normalizedSample(corpus, seed)
    require(sampled.length >= ksub,
      s"need >= $ksub sample vectors to fit $ksub codes, got ${sampled.length}")
    fitSubspaces(sampled, m, ksub, maxIter)
  }

  /** One [[Lloyd]] fit per subspace over an in-memory point set — shared
    * by [[pqFit]] (raw normalized vectors) and [[pqFitIvf]] (coarse-cell
    * residuals). */
  private def fitSubspaces(sampled: Array[Array[Double]], m: Int, ksub: Int,
                           maxIter: Int): Array[Array[Array[Double]]] = {
    val dsub = sampled(0).length / m
    Array.tabulate(m) { s =>
      val off = s * dsub
      val pts = sampled.map(v => java.util.Arrays.copyOfRange(v, off, off + dsub))
      Lloyd.fit(pts, ksub, maxIter)
    }
  }

  /** The bounded deterministic fit sample, L2-normalized: the hash-order
    * discipline shared with [[Similarity.ivfFit]]. */
  private def normalizedSample(corpus: DataFrame, seed: Long): Array[Array[Double]] =
    corpus.select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id"), lit(seed)), col("vec_id"))
      .limit(PqFitSampleCap)
      .collect().map { r =>
        val raw = r.getSeq[Float](1).map(_.toDouble).toArray
        val n = math.sqrt(raw.map(x => x * x).sum)
        if (n == 0.0) raw else raw.map(_ / n)
      }

  /** Coarse quantizer for the IVF half of IVF-PQ: a single-subspace
    * [[pqFit]] (m=1, ksub=nlist) on NORMALIZED vectors — nlist full-dim
    * centroids, same bounded-fit discipline (and the same ≤256 ceiling
    * the flat [[Similarity.ivfFit]] enforces). */
  def coarseFit(corpus: DataFrame, nlist: Int, dim: Int = 64,
                seed: Long = 42L, maxIter: Int = 20): Array[Array[Double]] =
    pqFit(corpus, m = 1, ksub = nlist, dim = dim, seed = seed,
      maxIter = maxIter)(0)

  /** Residual PQ codebooks for IVF-PQ (Jégou et al. §IV: encode
    * r = v̂ − c_cell, not v̂ — residuals concentrate near 0, so the same
    * code budget spends its resolution where the data actually is).
    * Same bounded sample; each sampled vector is assigned to its coarse
    * cell on the driver and the Lloyd fit runs on the residuals. */
  def pqFitIvf(corpus: DataFrame, coarse: Array[Array[Double]],
               m: Int = 16, ksub: Int = 16, dim: Int = 64,
               seed: Long = 42L, maxIter: Int = 20): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(ksub >= 2 && ksub <= 256, s"ksub $ksub outside [2, 256]")
    val sampled = normalizedSample(corpus, seed)
    require(sampled.length >= ksub,
      s"need >= $ksub sample vectors to fit $ksub codes, got ${sampled.length}")
    val residuals = sampled.map { v =>
      val c = coarse(Lloyd.nearest(v, coarse))
      Array.tabulate(v.length)(j => v(j) - c(j))
    }
    fitSubspaces(residuals, m, ksub, maxIter)
  }

  /** The codebooks as ONE plan literal: array(sub)(code)(d). */
  private def cbLit(codebooks: Array[Array[Array[Double]]]): Column =
    typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)

  /** ‖v[off+1..off+dsub] − cj‖² as a fold: dsub `element_at` pairs. */
  private def subDist(v: Column, cj: Column, off: Column, dsub: Int): Column =
    aggregate(sequence(lit(1), lit(dsub)), lit(0.0), (acc, i) => {
      val d = element_at(v, i + off) - element_at(cj, i)
      acc + d * d
    })

  /** Per-subspace squared distances of normalized `v` to every centroid
    * of subspace `s` (0-based): a ksub-element array column. One
    * expression subtree per SUBSPACE, not per centroid. */
  private def subDists(vn: Column, cb: Column, s: Int, dsub: Int): Column =
    transform(element_at(cb, s + 1),
      cj => subDist(vn, cj, lit(s * dsub), dsub))

  /** Argmin-centroid code expressions per subspace for a materialized
    * normalized-vector column; FIRST-index tie-break (`array_position`
    * returns the first match), mirroring the fit's tie-break. */
  private def codeExprs(vn: Column, cb: Column, m: Int,
                        dsub: Int): Seq[Column] =
    (0 until m).map { s =>
      val dists = subDists(vn, cb, s, dsub)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }

  /** Bits per sub-code. */
  private def codeBits(ksub: Int): Int =
    math.max(1, 32 - Integer.numberOfLeadingZeros(ksub - 1))

  /** Pack per-subspace codes into ONE long, sub-code s at bit s·bits —
    * this is what makes the 8-bytes-per-vector claim literal: an
    * `array<int>` row costs ~(4+overhead)·m bytes and its ADC read is
    * an ArrayData access; the packed long is 8 bytes flat and the ADC
    * read is two codegen-friendly bit ops. Requires m·bits ≤ 64 (m=16,
    * ksub=16 → exactly 64). */
  private def packExpr(codes: Seq[Column], bits: Int): Column = {
    require(codes.length * bits <= 64,
      s"${codes.length} sub-codes × $bits bits do not fit one long")
    codes.zipWithIndex.map { case (c, s) =>
      shiftleft(c.cast("long"), s * bits)
    }.reduce(_ bitwiseOR _)
  }

  /** Append `pq_code` (array<int>, length m — the inspectable
    * representation) to `vecs`. Encodes the L2-NORMALIZED vector so
    * ADC distance ranks by cosine. Pure projection, no shuffle. */
  def encode(vecs: DataFrame, codebooks: Array[Array[Array[Double]]],
             vecCol: String = "embedding"): DataFrame = {
    val cb = cbLit(codebooks)
    withNormalized(vecs, vecCol, "__vn")
      .withColumn("pq_code", array(codeExprs(col("__vn"), cb,
        codebooks.length, codebooks(0)(0).length): _*))
      .drop("__vn")
  }

  /** Append `pq_packed` (ONE long) — the storage/scan representation
    * the scoring paths use. Same codes as [[encode]], bit-packed. */
  def encodePacked(vecs: DataFrame, codebooks: Array[Array[Array[Double]]],
                   vecCol: String = "embedding"): DataFrame =
    withNormalized(vecs, vecCol, "__vn")
      .withColumn("pq_packed", pqCodeNative(col("__vn"), codebooks))
      .drop("__vn")

  /** Row cap multiplier for [[tieAwareShortlist]]: one distance level
    * may hold arbitrarily many candidates (worst case: a corpus of one
    * repeated vector), so the rerank pool is bounded at TieCap·r rows
    * even when r distinct levels would admit more. 16 keeps full
    * distinct-level coverage up to 16-fold duplication. */
  private val TieCap = 16

  /** Cut an (query_id, cand_id, adc_dist) frame to the per-query ADC
    * shortlist, TIE-AWARE: keep the candidates at the `r` smallest
    * DISTINCT distances (dense_rank), bounded at [[TieCap]]·r rows by
    * (adc_dist, cand_id). A plain row_number cut is wrong under
    * duplication: a k-replica corpus gives every copy one identical
    * code, so r rows cover only r/k distinct vectors — the x10 sweep
    * shrank knn_pq's effective refine 10-fold exactly this way and the
    * recall floor failed while every ADC distance was optimal. The
    * distinct-distance cut restores x1 coverage at any replication;
    * without ties at the boundary the two cuts admit the same rows.
    * Both windows share one (query_id)-partitioned sort — no extra
    * exchange. */
  private def tieAwareShortlist(scored: DataFrame, r: Int): DataFrame = {
    val wDist = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("adc_dist").asc)
    val wRow = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("cand_id").asc)
    scored
      .withColumn("__dr", dense_rank().over(wDist))
      .withColumn("__r", row_number().over(wRow))
      .where(col("__dr") <= r && col("__r") <= r * TieCap)
      .select(col("query_id"), col("cand_id"))
  }

  /** ADC ANN with exact re-rank: top-`k` cosine neighbors per query,
    * found by scanning PQ CODES (m lookups/pair) for the `refine`-sized
    * shortlist, then rescoring that shortlist exactly.
    *
    * Plan shape: the corpus is encoded once (projection) and only
    * (cand_id, pq_packed) — 16 bytes/row — flows into the scoring
    * join; the full vectors
    * re-enter for shortlist rows only, via a broadcast join of the
    * (queries × refine)-sized shortlist against the corpus. Queries
    * broadcast with their per-subspace lookup tables (m × ksub doubles
    * each, exact query-side arithmetic — "asymmetric": only the
    * candidate side is quantized). Only SCALAR rows (query_id, cand_id,
    * adc_dist) reach the shortlist window's exchange. Output schema and
    * tie-break contract match [[Similarity.knnBruteForce]] (cos_sim
    * desc, cand_id asc), so recall witnesses compose.
    *
    * refine defaults to 10·k: the shortlist must out-size k enough to
    * absorb ADC's quantization-induced rank inversions; the registered
    * witness earns its recall floor at this setting, and the spec pins
    * the recall-vs-refine trade. */
  def knnPq(corpus: DataFrame, queries: DataFrame, k: Int,
            codebooks: Array[Array[Array[Double]]],
            refine: Int = 0): DataFrame = {
    val m = codebooks.length
    val ksub = codebooks(0).length
    val r = if (refine > 0) refine else 10 * k
    val codesOnly = encodePacked(Spread(corpus), codebooks)
      .select(col("vec_id").as("cand_id"), col("pq_packed"))
    // Per-query LUT: lut[s][j] = ‖q̂_s − c_{s,j}‖², exact on the query
    // side ("asymmetric" — only candidates are quantized).
    val lut = pqLutNative(col("__vn"), codebooks)
    val q = withNormalized(queries, "embedding", "__vn")
      .select(col("vec_id").as("query_id"), lut.as("lut"))
    // ADC score: ONE codegen'd loop of shifts/masks/array reads per
    // (candidate, query) row (functions/AdcDistExpr) — the composable
    // element_at form ran interpreted and dominated pair scoring.
    val adc = adcNative(col("lut"), col("pq_packed"), m, ksub)
    val shortlist = tieAwareShortlist(
      codesOnly.crossJoin(broadcast(q))
        .where(col("cand_id") =!= col("query_id"))
        .select(col("query_id"), col("cand_id"), adc.as("adc_dist")), r)
    // Exact re-rank of the shortlist: rejoin the full candidate and
    // query vectors (shortlist is queries×refine rows — broadcast
    // side), score exact cosine with the shared op order, keep top-k.
    val qv = Similarity.scoringSide(queries, "query_id", "qv", "qn2")
    val cand = Similarity.scoringSide(corpus, "cand_id", "cv", "cn2")
    val exact = cand.join(
        broadcast(shortlist.join(qv, Seq("query_id"))), Seq("cand_id"))
      .select(col("query_id"), col("cand_id"),
        Similarity.cosSim(col("qv"), col("cv"), col("qn2"), col("cn2"))
          .as("cos_sim"))
    Similarity.topK(exact, "query_id", "cand_id", k)
  }

  /** IVF-PQ ANN (IVFADC, Jégou et al. §V) — the composition that makes
    * PQ a 100 TB INDEX rather than a full-scan compression: the coarse
    * quantizer routes each query to its `nprobe` nearest inverted
    * lists, and within probed lists candidates score by ADC over
    * RESIDUAL codes (r = v̂ − c_cell). Per-query work drops from
    * O(N·m lookups) to O(N·nprobe/nlist·m); the corpus-side state is
    * still 8 bytes + a list id per vector.
    *
    * Plan shape: corpus normalizes ONCE, assigns its list id and
    * residual codes in one projection, and shuffles nothing — the
    * scoring join hash-partitions the codes-only frame by list id
    * against broadcast (query × nprobe) rows, each carrying the LUT for
    * ITS list's residual (asymmetric: exact query-side residual per
    * probed cell). A candidate lives in exactly one list, so no
    * cross-table dedup is needed. Shortlist window sees scalar rows
    * only; exact cosine re-rank of the `refine` survivors as in
    * [[knnPq]]. Output schema and tie-breaks match
    * [[Similarity.knnBruteForce]].
    *
    * Single-literal discipline throughout: the coarse centroids and
    * codebooks are each ONE nested-array literal; list assignment,
    * probe ranking, residuals, and LUTs are `transform`/`array_sort`
    * folds over materialized columns — expression tree O(m + 1),
    * plan literals bounded by (nlist + m·ksub)·dim doubles. */
  def knnIvfPq(corpus: DataFrame, queries: DataFrame, k: Int,
               coarse: Array[Array[Double]],
               codebooks: Array[Array[Array[Double]]],
               nprobe: Int, refine: Int = 0): DataFrame = {
    val codes = encodeIvfPacked(Spread(corpus), coarse, codebooks)
      .select(col("vec_id"), col("list_id"), col("pq_packed"))
    adcSearchIvf(codes, queries, k, coarse, codebooks, nprobe, refine,
      rerank = corpus)
  }

  /** Residual of a normalized vector vs an assigned cell id (both
    * materialized columns). */
  private def residual(vn: Column, cellId: Column, coarseL: Column,
                       dim: Int): Column =
    transform(sequence(lit(1), lit(dim)), i =>
      element_at(vn, i) - element_at(element_at(coarseL, cellId + 1), i))

  /** The corpus-side IVF-PQ state, one projection per vector: cell
    * assignment (`list_id`) + packed RESIDUAL codes (`pq_packed`) —
    * the 12-bytes-per-vector frame an IVF-PQ index persists
    * ([[PqIndex]]) or feeds straight to [[adcSearchIvf]]. */
  def encodeIvfPacked(vecs: DataFrame, coarse: Array[Array[Double]],
                      codebooks: Array[Array[Array[Double]]],
                      vecCol: String = "embedding"): DataFrame = {
    val dim = coarse(0).length
    val coarseL = typedLit(coarse.map(_.toSeq).toSeq)
    withNormalized(vecs, vecCol, "__vn")
      // the coarse assignment IS a 1-subspace PQ code: argmin over
      // nlist full-dim centroids, compiled to one loop
      // coalesce makes list_id NON-NULLABLE: the scoring join would
      // otherwise infer isnotnull(list_id) and push it below the
      // exchange with the whole assignment chain SUBSTITUTED inline
      // (alias substitution in predicate pushdown), re-evaluating it
      // per row per element — measured 40 s instead of 2 s on the
      // sf0.1 corpus. A non-nullable key yields no inferred filter at
      // all. (-1 is unreachable given non-null embeddings.)
      .withColumn("list_id", coalesce(
        pqCodeNative(col("__vn"), Array(coarse)).cast("int"), lit(-1)))
      .withColumn("__res", residual(col("__vn"), col("list_id"), coarseL, dim))
      .withColumn("pq_packed", pqCodeNative(col("__res"), codebooks))
      .drop("__vn", "__res")
  }

  /** ADC search against an already-encoded codes frame ((vec_id,
    * list_id, pq_packed) — fresh from [[encodeIvfPacked]] or read back
    * from a persisted [[PqIndex]]): probe, score, shortlist, then exact
    * cosine re-rank against `rerank` ((vec_id, embedding) — the raw
    * corpus or any table that can serve shortlist vectors). */
  def adcSearchIvf(codes: DataFrame, queries: DataFrame, k: Int,
                   coarse: Array[Array[Double]],
                   codebooks: Array[Array[Array[Double]]],
                   nprobe: Int, refine: Int,
                   rerank: DataFrame): DataFrame = {
    val m = codebooks.length
    val dim = coarse(0).length
    val nlist = coarse.length
    require(nprobe >= 1 && nprobe <= nlist, s"nprobe $nprobe outside [1, $nlist]")
    val r = if (refine > 0) refine else 10 * k
    val coarseL = typedLit(coarse.map(_.toSeq).toSeq)
    val codesOnly = codes.select(col("vec_id").as("cand_id"),
      col("list_id"), col("pq_packed"))

    // Queries: nprobe nearest cells each; one LUT per (query, cell) on
    // the query's residual AGAINST THAT CELL.
    val probed = withNormalized(queries, "embedding", "__vn")
      .withColumn("__cd", pqLutNative(col("__vn"), Array(coarse)))
      .withColumn("__ranked", array_sort(transform(
        sequence(lit(0), lit(nlist - 1)),
        j => struct(element_at(col("__cd"), j + 1).as("d"), j.as("i")))))
      .withColumn("list_id", explode_outer(slice(
        transform(col("__ranked"), s => s.getField("i")), 1, nprobe)))
      .where(col("list_id").isNotNull)
      .withColumn("list_id", coalesce(col("list_id").cast("int"), lit(-1)))
      .withColumn("__qres", residual(col("__vn"), col("list_id"), coarseL, dim))
    val q = probed.select(col("vec_id").as("query_id"), col("list_id"),
      pqLutNative(col("__qres"), codebooks).as("lut"))

    val adc = adcNative(col("lut"), col("pq_packed"), m,
      codebooks(0).length)
    val shortlist = tieAwareShortlist(
      codesOnly.join(broadcast(q), Seq("list_id"))
        .where(col("cand_id") =!= col("query_id"))
        .select(col("query_id"), col("cand_id"), adc.as("adc_dist")), r)

    val qv = Similarity.scoringSide(queries, "query_id", "qv", "qn2")
    val cand = Similarity.scoringSide(rerank, "cand_id", "cv", "cn2")
    val exact = cand.join(
        broadcast(shortlist.join(qv, Seq("query_id"))), Seq("cand_id"))
      .select(col("query_id"), col("cand_id"),
        Similarity.cosSim(col("qv"), col("cv"), col("qn2"), col("cn2"))
          .as("cos_sim"))
    Similarity.topK(exact, "query_id", "cand_id", k)
  }

  /** Per-query MINIMUM ADC distance to any coded vector in the query's
    * `nprobe` probed cells — the semantic-decontamination screen's
    * kernel ([[PqIndex.semanticContamination]]): one hash join of the
    * codes frame against broadcast probed queries, a partial-aggregated
    * `min` (map-side combine — only one row per (query, partition)
    * reaches the exchange), no window, no re-rank, no raw vectors.
    * Queries whose id matches an indexed id are excluded (self-match).
    * Queries probing only empty cells return no row — the caller's
    * left join reads that as "nothing near": distance ∞. */
  def adcMinDistance(codes: DataFrame, queries: DataFrame,
                     coarse: Array[Array[Double]],
                     codebooks: Array[Array[Array[Double]]],
                     nprobe: Int): DataFrame = {
    val m = codebooks.length
    val dim = coarse(0).length
    val nlist = coarse.length
    require(nprobe >= 1 && nprobe <= nlist, s"nprobe $nprobe outside [1, $nlist]")
    val coarseL = typedLit(coarse.map(_.toSeq).toSeq)
    val probed = withNormalized(queries, "embedding", "__vn")
      .withColumn("__cd", pqLutNative(col("__vn"), Array(coarse)))
      .withColumn("__ranked", array_sort(transform(
        sequence(lit(0), lit(nlist - 1)),
        j => struct(element_at(col("__cd"), j + 1).as("d"), j.as("i")))))
      .withColumn("list_id", explode_outer(slice(
        transform(col("__ranked"), s => s.getField("i")), 1, nprobe)))
      .where(col("list_id").isNotNull)
      .withColumn("list_id", coalesce(col("list_id").cast("int"), lit(-1)))
      .withColumn("__qres", residual(col("__vn"), col("list_id"), coarseL, dim))
    val q = probed.select(col("vec_id").as("query_id"), col("list_id"),
      pqLutNative(col("__qres"), codebooks).as("lut"))
    val adc = adcNative(col("lut"), col("pq_packed"), m,
      codebooks(0).length)
    codes.select(col("vec_id").as("cand_id"), col("list_id"),
        col("pq_packed"))
      .join(broadcast(q), Seq("list_id"))
      .where(col("cand_id") =!= col("query_id"))
      .groupBy(col("query_id"))
      .agg(min(adc).as("min_adc_dist"))
  }

  /** IVF-PQ reconstruction error: ‖v̂ − (c_cell + decode(code(r)))‖² =
    * Σ_s min_j ‖r_s − c_{s,j}‖² over the RESIDUAL codebooks — the
    * error the ADC screen actually incurs per indexed vector (a
    * re-sent duplicate's ADC distance to its own code IS this value).
    * Appends `pq_err2`. */
  def ivfReconstructionError(vecs: DataFrame,
                             coarse: Array[Array[Double]],
                             codebooks: Array[Array[Array[Double]]],
                             vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val ksub = codebooks(0).length
    val dim = coarse(0).length
    val coarseL = typedLit(coarse.map(_.toSeq).toSeq)
    val perSub = (0 until m).map(s =>
      array_min(slice(col("__lut"), s * ksub + 1, ksub)))
    withNormalized(vecs, vecCol, "__vn")
      .withColumn("__cell", coalesce(
        pqCodeNative(col("__vn"), Array(coarse)).cast("int"), lit(-1)))
      .withColumn("__res", residual(col("__vn"), col("__cell"), coarseL, dim))
      .withColumn("__lut", pqLutNative(col("__res"), codebooks))
      .withColumn("pq_err2", greatest(perSub.reduce(_ + _), lit(0.0)))
      .drop("__vn", "__cell", "__res", "__lut")
  }

  /** Per-vector PQ reconstruction error on the unit sphere —
    * ‖v̂ − decode(code(v̂))‖² = Σ_s min_j ‖v̂_s − c_{s,j}‖², the quality
    * stat a pipeline thresholds before committing to m/ksub (the PQ
    * analogue of [[Similarity.quantizeInt8]]'s quant_mae). Appends
    * `pq_err2`. One pass, pure projection. */
  def reconstructionError(vecs: DataFrame,
                          codebooks: Array[Array[Array[Double]]],
                          vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val ksub = codebooks(0).length
    val perSub = (0 until m).map(s =>
      array_min(slice(col("__lut"), s * ksub + 1, ksub)))
    withNormalized(vecs, vecCol, "__vn")
      .withColumn("__lut", pqLutNative(col("__vn"), codebooks))
      .withColumn("pq_err2", greatest(perSub.reduce(_ + _), lit(0.0)))
      .drop("__vn", "__lut")
  }
}

package graft.ext

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorMoments

/** Embedding dimensionality reduction — the pre-ANN compression pass of a
  * training-data pipeline (project 64-d → 16-d before IVF/PQ indexing, or
  * before pairwise semantic dedup, to cut every downstream dot product 4×).
  *
  * Two reducers with opposite trade-offs:
  *
  *  - [[randomProjection]] (Achlioptas 2003 / JL): data-INDEPENDENT signed
  *    projection. No fit at all — the sign matrix derives from the
  *    portable md5 hash family, so every executor (and any other engine)
  *    regenerates it from (i, j) alone. Exactly oracle-able.
  *  - PCA ([[pcaFit]]/[[projectPca]]): data-DEPENDENT optimal linear
  *    reducer. Fit consumes ONE [[VectorMoments]] row (n, Σv, Σvvᵀ — a
  *    single aggregation scan, O(d²) bytes to the driver regardless of
  *    corpus size) and runs Jacobi eigensolve on the d×d covariance
  *    driver-side: d=64 → a ~130 k-flop solve, corpus-independent — the
  *    bounded-fit discipline (`Similarity.IvfFitNlistCap` rationale) by
  *    construction. Projection ships the k×d component matrix as ONE
  *    nested-array literal (the ProductQuant plan-size lesson: O(k)
  *    expression nodes, never O(k·d) inlined subtrees).
  *
  * The reference has nothing remotely comparable (single-process pandas;
  * reference: dags/etl/transform_stream_data.py operates on scalar
  * columns only) — this is SURVEY.md §7.3.8-family scale tooling.
  */
object DimReduce {

  /** PCA model: row-major components (k × d, orthonormal, eigenvalue
    * descending), the input mean, eigenvalues of ALL d directions
    * (descending — [k] onward is the discarded tail), and the fit size. */
  final case class PcaModel(n: Long, mean: Array[Double],
                            eigenvalues: Array[Double],
                            components: Array[Array[Double]]) {
    def k: Int = components.length
    def dim: Int = mean.length
  }

  /** The one-pass sufficient statistics: [n, Σv, upper-tri Σvvᵀ]. */
  def moments(emb: DataFrame, vecCol: String = "embedding"): Array[Double] = {
    val row = emb.agg(VectorMoments.vecMoments(col(vecCol)).as("m"))
      .collect()(0)
    require(!row.isNullAt(0), "pcaFit: no non-null vectors to fit on")
    row.getSeq[Double](0).toArray
  }

  /** Fit a k-component PCA from one [[VectorMoments]] pass + a driver-side
    * Jacobi eigensolve of the d×d covariance (O(d³) once, corpus-free). */
  def pcaFit(emb: DataFrame, k: Int, vecCol: String = "embedding"): PcaModel = {
    val m = moments(emb, vecCol)
    val n = m(0).toLong
    val d = ((math.sqrt(9.0 + 8.0 * (m.length - 1)) - 3.0) / 2.0).round.toInt
    require(k >= 1 && k <= d, s"pcaFit: k=$k out of range for dim $d")
    require(n >= 2, s"pcaFit: need at least 2 vectors, got $n")
    val mean = Array.tabulate(d)(i => m(1 + i) / n)
    // C(i,j) = E[v_i v_j] − μ_i μ_j
    val c = Array.ofDim[Double](d, d)
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val g = m(VectorMoments.triIndex(d, i, j)) / n - mean(i) * mean(j)
        c(i)(j) = g; c(j)(i) = g
        j += 1
      }
      i += 1
    }
    val (eigs, vecs) = jacobiEigen(c)
    // sort descending by eigenvalue; orient each vector so its largest-
    // magnitude entry is positive (sign is otherwise arbitrary)
    val order = eigs.indices.sortBy(ix => -eigs(ix))
    val comps = order.map { ix =>
      val v = Array.tabulate(d)(r => vecs(r)(ix))
      val m0 = v.indices.maxBy(a => math.abs(v(a)))
      if (v(m0) < 0) v.map(-_) else v
    }.toArray
    PcaModel(n, mean, order.map(eigs).toArray, comps.take(k))
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix. Returns
    * (eigenvalues, column-eigenvector matrix). Deterministic: fixed sweep
    * order, fixed convergence threshold. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]],
                               maxSweeps: Int = 64): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((r, c) => if (r == c) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    val eps = 1e-14 * math.max(1.0, frob(a))
    while (off > eps && sweep < maxSweeps) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > eps / (d * d)) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val cth = 1.0 / math.sqrt(t * t + 1.0)
            val sth = t * cth
            var r = 0
            while (r < d) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = cth * arp - sth * arq
              a(r)(q) = sth * arp + cth * arq
              r += 1
            }
            r = 0
            while (r < d) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = cth * apr - sth * aqr
              a(q)(r) = sth * apr + cth * aqr
              r += 1
            }
            r = 0
            while (r < d) {
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = cth * vrp - sth * vrq
              v(r)(q) = sth * vrp + cth * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    (Array.tabulate(d)(ix => a(ix)(ix)), v)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }

  private def frob(a: Array[Array[Double]]): Double =
    math.sqrt(a.map(_.map(x => x * x).sum).sum)

  /** Project `vecCol` onto the model's components: out_j = Wⱼ·(v − μ).
    * The k×d matrix rides as one nested-array literal (k expression
    * nodes); per row this is k·d multiply-adds inside codegen'd HOFs.
    * Output replaces `vecCol` with the k-d array<float> (embeddings
    * schema), so the whole ANN/PQ family composes downstream. */
  def projectPca(df: DataFrame, model: PcaModel,
                 vecCol: String = "embedding"): DataFrame = {
    val comps = typedLit(model.components.map(_.toSeq).toSeq)
    val mu = typedLit(model.mean.toSeq)
    val d = model.dim
    df.withColumn(vecCol,
      transform(comps, w =>
        aggregate(sequence(lit(1), lit(d)), lit(0.0), (acc, i) =>
          acc + element_at(w, i) *
            (element_at(col(vecCol), i).cast("double") - element_at(mu, i)))
          .cast("float")))
  }

  /** Whitened PCA projection: out_j = Wⱼ·(v − μ) / √λⱼ — decorrelated,
    * unit-variance coordinates (the normalization step before cosine/L2
    * ANN when raw dimensions have wildly unequal scales). Components with
    * λ ≤ `minVar` are dropped rather than amplified (dividing by √~0
    * turns numerical noise into dominant coordinates). */
  def projectPcaWhitened(df: DataFrame, model: PcaModel,
                         vecCol: String = "embedding",
                         minVar: Double = 1e-12): DataFrame = {
    val keep = model.eigenvalues.take(model.k).count(_ > minVar)
    val scaled = model.components.take(keep).zipWithIndex.map { case (w, j) =>
      val s = 1.0 / math.sqrt(model.eigenvalues(j))
      w.map(_ * s)
    }
    projectPca(df, model.copy(components = scaled), vecCol)
  }

  /** Mahalanobis distance² of every vector from the corpus distribution:
    * d²(v) = (v − μ)ᵀ C⁻¹ (v − μ) — the covariance-aware outlier score
    * (an embedding far along a LOW-variance direction is anomalous even
    * when its L2 norm is ordinary). Computed as the squared norm of the
    * FULL-RANK whitened projection (C⁻¹ = W Λ⁻¹ Wᵀ), so it reuses the
    * one-pass moments fit + bounded Jacobi machinery — no matrix
    * inversion, no extra scan.
    *
    * Built-in calibration check (the trace identity): with the
    * population covariance of the SAME data, Σᵢ d²ᵢ = n · rank exactly —
    * so avg(d²) must equal the effective rank, and a registered witness
    * can earn that contract in-plan. `minVar` drops degenerate
    * directions (they contribute 0/0); the returned frame carries the
    * kept rank so callers compare against it. */
  def mahalanobisScores(df: DataFrame, model: PcaModel,
                        vecCol: String = "embedding",
                        minVar: Double = 1e-12): DataFrame = {
    require(model.k == model.dim,
      s"mahalanobis needs a FULL-rank model (k=dim): k=${model.k} dim=${model.dim}")
    val kept = model.eigenvalues.take(model.k).count(_ > minVar)
    projectPcaWhitened(df, model, vecCol, minVar)
      .withColumn("d2",
        aggregate(col(vecCol), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double")))
      .withColumn("mahal_rank", lit(kept))
      .drop(vecCol)
  }

  /** Per-group second-moment diagnostics from ONE grouped [[VectorMoments]]
    * pass: vector count, ‖μ‖², and the covariance trace (total variance)
    * per group — the embedding-quality drift monitor (a collapsing
    * group's trace → 0; a shifting group moves ‖μ‖²). Unpacks the
    * sufficient-statistics row with codegen'd HOFs; both outputs are
    * plain arithmetic on exact sums, so an external engine reproduces
    * them to 6 dp from the raw vectors. */
  def groupMomentStats(df: DataFrame, groupCol: String, dim: Int,
                       vecCol: String = "embedding"): DataFrame = {
    val m = col("__m")
    val n = element_at(m, 1)
    // mean_norm2 = Σ (sᵢ/n)²; var_trace = Σ (gᵢᵢ/n − (sᵢ/n)²)
    // gᵢᵢ rides at triIndex(dim, i, i) = 1 + dim + i·dim − i(i−1)/2
    def mu(i: Column) = element_at(m, (i + lit(2)).cast("int")) / n
    def gii(i: Column) = element_at(m,
      (lit(1 + dim) + i * lit(dim) - i * (i - lit(1)) / lit(2) + lit(1))
        .cast("int")) / n
    df.groupBy(col(groupCol))
      .agg(graft.functions.VectorMoments.vecMoments(col(vecCol)).as("__m"))
      .select(col(groupCol), n.cast("long").as("n_vecs"),
        round(aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0),
          (acc, i) => acc + mu(i) * mu(i)), 6).as("mean_norm2"),
        round(aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0),
          (acc, i) => acc + (gii(i) - mu(i) * mu(i))), 6).as("var_trace"))
  }

  /** Deterministic sign for random-projection cell (i, j): the portable
    * md5-hex32 family (Sampling.hashBucket / TextAnalysis.hashedFeatures)
    * over the key "rp_i_j" — reproducible in any engine with md5. */
  def rpSign(i: Int, j: Int): Int = {
    val md = MessageDigest.getInstance("MD5")
    val hex = md.digest(s"rp_${i}_$j".getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.substring(0, 8)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
  }

  /** Signed random projection to k dims (Achlioptas 2003; JL lemma):
    * out_j = Σᵢ s(i,j)·vᵢ / √k with s ∈ {±1} from [[rpSign]]. Fit-free and
    * data-independent — the projection of any row is decided by (i, j)
    * arithmetic alone, so it runs identically on every executor, on
    * streams, and in external engines (the oracle regenerates the matrix
    * from md5). LONG-form output (vec_id, out_dim, p_micros, p): the
    * inner sum rides EXACT integer micros (round(vᵢ·10⁶) per element), so
    * `p_micros` is bit-identical regardless of summation order or engine
    * — the q9 cent-straddle lesson applied up front. `p` = p_micros /
    * (10⁶·√k) is the convenience double; oracle on `p_micros` (its final
    * division can straddle a round-6 boundary across engines — observed
    * live: 502466/4·10⁶ rounds differently under shortest-decimal vs
    * binary rounding).
    *
    * For the dense array<float> form composing with ANN, use
    * [[rpVectorizer]]. */
  def randomProjection(df: DataFrame, k: Int, dim: Int,
                       vecCol: String = "embedding",
                       idCol: String = "vec_id"): DataFrame = {
    val micros = rpMicros(k, dim, vecCol)
    val scale = 1e6 * math.sqrt(k.toDouble)
    // posexplode_outer + isNotNull: the COMPUTED-array explode trap
    // (InferFiltersFromGenerate would re-evaluate rpMicros in a filter)
    df.select(col(idCol), posexplode_outer(micros).as(Seq("out_dim", "pm")))
      .where(col("pm").isNotNull)
      .select(col(idCol), col("out_dim").cast("long").as("out_dim"),
        col("pm").as("p_micros"),
        round(col("pm").cast("double") / lit(scale), 6).as("p"))
  }

  /** Dense k-d array<float> random projection, embeddings-schema
    * compatible (same micros arithmetic as [[randomProjection]]). */
  def rpVectorizer(df: DataFrame, k: Int, dim: Int,
                   vecCol: String = "embedding"): DataFrame = {
    val micros = rpMicros(k, dim, vecCol)
    val scale = 1e6 * math.sqrt(k.toDouble)
    df.withColumn(vecCol,
      transform(micros, pm => (pm.cast("double") / lit(scale)).cast("float")))
  }

  /** Per-row array of k signed micro-sums: Σᵢ s(i,j)·round(vᵢ·10⁶). The
    * sign matrix is a k×dim nested literal of ±1 longs. */
  private def rpMicros(k: Int, dim: Int, vecCol: String): Column = {
    require(k >= 1 && dim >= 1, s"bad projection shape k=$k dim=$dim")
    val signs = typedLit(
      (0 until k).map(j => (0 until dim).map(i => rpSign(i, j).toLong)))
    transform(signs, srow =>
      aggregate(sequence(lit(1), lit(dim)), lit(0L), (acc, i) =>
        acc + element_at(srow, i) *
          round(element_at(col(vecCol), i).cast("double") * lit(1e6))
            .cast("long")))
  }
}

package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Persisted IVF-PQ embedding index — the fourth index family next to
  * [[DedupIndex]]'s fingerprint/minhash/span tables, and the lifecycle
  * that makes [[ProductQuant]] a production index rather than a
  * per-query computation: FIT ONCE, encode once, persist 12 bytes per
  * vector, then every later query or ingest reuses the stored model.
  *
  * Layout under `root`:
  *  - `_model/` — one small parquet with the coarse centroids and PQ
  *    codebooks (≈ (nlist + m·ksub)·dim doubles), written exactly once
  *    at [[create]]. The model is FROZEN: ingested batches are encoded
  *    with the stored codebooks, never refit, so codes stay comparable
  *    across versions (refitting would silently re-key every existing
  *    code — the classic drifting-index bug).
  *  - the [[VersionedTable]] codes table — (vec_id, list_id,
  *    pq_packed) rows; each [[ingest]] appends a version, so time
  *    travel and the streaming replay posture
  *    ([[graft.streaming.StreamingDecontamination]]) compose.
  *
  * Raw embeddings are NOT stored (that is the point — at 100 TB of
  * vectors the index is ~0.5 % of the data); exact re-rank joins the
  * caller's corpus table by vec_id for shortlist rows only, and
  * [[semanticContamination]] screens on ADC distance alone, the way a
  * FAISS IVFPQ deployment does.
  */
object PqIndex {

  private def modelPath(root: String) = new Path(root, "_model")

  /** Build the index: fit coarse + residual codebooks on the corpus
    * (bounded samples — [[ProductQuant.pqFit]] discipline), persist the
    * model, commit codes v1. No-op if the index already exists. */
  def create(corpus: DataFrame, root: String, nlist: Int = 8,
             m: Int = 16, ksub: Int = 16, dim: Int = 64,
             seed: Long = 42L): Unit =
    // same-root creators serialize in-JVM (a shared session's concurrent
    // queries both reference one fingerprinted root — KeyedLocks doc);
    // cross-process the model write keeps errorifexists + the codes
    // commit keeps the atomic manifest, so a cross-process loser still
    // fails clean rather than corrupting the frozen model.
    graft.sources.KeyedLocks.withLock(root) {
    val spark = corpus.sparkSession
    val mp = modelPath(root)
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(mp) && VersionedTable.versions(spark, root).nonEmpty) {
      // already built (the common case after the first query touches
      // this root): nothing to do
    } else {
    val coarse = ProductQuant.coarseFit(corpus, nlist, dim, seed)
    val cb = ProductQuant.pqFitIvf(corpus, coarse, m, ksub, dim, seed)
    if (!fs.exists(mp)) {
      import spark.implicits._
      // calibration stat alongside the model: the p99 reconstruction
      // error of the corpus under THIS model — the margin a dup-screen
      // threshold must clear (an indexed vector's ADC distance to its
      // own code is exactly its reconstruction error). One
      // approx-percentile pass at build time, never again.
      // The stats row also records the BUILD-TIME CORPUS COUNT — the
      // fit stat [[stalenessRatio]] compares the grown index against
      // (a count is exact in Double far past any corpus size the
      // sample-capped fit could see).
      // ONE aggregate job yields both stats: the p99 AND the build-time
      // corpus count ride the same reconstruction-error pass (the
      // error frame is one row per corpus vector, so its count IS the
      // corpus count) — the separate corpus.count() job this used to
      // issue was a second full scan for a number already flowing by
      val statsRow = ProductQuant
        .ivfReconstructionError(corpus, coarse, cb)
        .agg(expr("percentile_approx(pq_err2, 0.99, 10000)"),
          count(lit(1)))
        .head
      val errP99 = statsRow.getDouble(0)
      val buildN = statsRow.getLong(1)
      val rows =
        coarse.zipWithIndex.map { case (c, j) =>
          ("coarse", 0, j, c.toSeq) } ++
        cb.zipWithIndex.flatMap { case (sub, s) =>
          sub.zipWithIndex.map { case (c, j) => ("cb", s, j, c.toSeq) } } ++
        Seq(("stats", 0, 0, Seq(errP99, buildN.toDouble)))
      rows.toSeq.toDF("kind", "sub", "code", "dims")
        .coalesce(1).write.mode("errorifexists").parquet(mp.toString)
    }
    if (VersionedTable.versions(spark, root).isEmpty)
      // rows-only stats commit: the sidecar keeps the codes row count
      // a METADATA read, which is what lets the per-trigger staleness
      // check cost nothing
      graft.sources.VersionedStats.commitWithRowStat(
        ProductQuant.encodeIvfPacked(corpus, coarse, cb)
          .select(col("vec_id"), col("list_id"), col("pq_packed")), root)
    }
    }

  private val modelCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Array[Double]], Array[Array[Array[Double]]])]()

  /** The stored (coarse, codebooks) model. Cached per JVM by root: the
    * model is FROZEN at create (the whole point — see object doc), so
    * the cache can never serve a stale fit; it saves the per-call
    * collect for loops that screen/ingest every trigger. */
  def readModel(spark: SparkSession,
                root: String): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val cached = modelCache.get(root)
    if (cached != null) return cached
    val loaded = loadModel(spark, root)
    modelCache.putIfAbsent(root, loaded)
    loaded
  }

  private def loadModel(spark: SparkSession,
                root: String): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val rows = spark.read.parquet(modelPath(root).toString)
      .select(col("kind"), col("sub"), col("code"), col("dims"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getSeq[Double](3).toArray))
    val coarse = rows.filter(_._1 == "coarse").sortBy(_._3).map(_._4)
    val cbRows = rows.filter(_._1 == "cb")
    val m = cbRows.map(_._2).max + 1
    val cb = Array.tabulate(m)(s =>
      cbRows.filter(_._2 == s).sortBy(_._3).map(_._4))
    require(coarse.nonEmpty && cb.forall(_.nonEmpty),
      s"PqIndex model at $root is empty or torn")
    (coarse, cb)
  }

  // the parsed stats-row dims (err2_p99, build_n), cached per root: the
  // stats row is FROZEN at create (same argument as [[readModel]]'s
  // cache), and the per-trigger staleness check reads it — without the
  // cache each ingest trigger paid a _model parquet read for a constant
  private val statsCache = new java.util.concurrent.ConcurrentHashMap[
    String, Option[Seq[Double]]]()

  private def statsDims(spark: SparkSession,
                        root: String): Option[Seq[Double]] = {
    val cached = statsCache.get(root)
    if (cached != null) return cached
    val loaded = spark.read.parquet(modelPath(root).toString)
      .where(col("kind") === "stats")
      .select(col("dims")).collect()
      .headOption.map(_.getSeq[Double](0))
    statsCache.putIfAbsent(root, loaded)
    loaded
  }

  /** Codes frame (vec_id, list_id, pq_packed) — latest version, or a
    * pinned one (time travel; the streaming replay posture needs the
    * screen recomputed against the batch's PRE-ingest version). */
  def codes(spark: SparkSession, root: String,
            version: Option[Long] = None): DataFrame =
    VersionedTable.read(spark, root, version)

  /** STALENESS of the frozen codebooks: indexed codes count (from the
    * rows-stats sidecar — metadata-only) over the build-time corpus
    * count recorded in the model's stats row. Same boundary class as
    * [[KnnGraphIndex.stalenessRatio]]: the sample-capped Lloyd fit saw
    * the BUILD corpus; one decade of growth later ~90% of the indexed
    * mass was never seen by the fit, and quantization error (hence
    * every ADC screen threshold) drifts silently. Degrades OPEN
    * (0.0) for legacy roots without the build_n stats element or the
    * rows sidecar. */
  def stalenessRatio(spark: SparkSession, root: String): Double = {
    statsDims(spark, root)
      .filter(_.length >= 2).map(_.apply(1)) match {
      case Some(buildN) =>
        graft.sources.VersionedStats.statsFor(spark, root) match {
          case Some((rows, _)) => rows.toDouble / math.max(1.0, buildN)
          case None => 0.0
        }
      case None => 0.0
    }
  }

  /** One decade of growth past the build count — [[stalenessRatio]]'s
    * refusal boundary (shared constant class with
    * [[KnnGraphIndex.StaleDecade]]). */
  val StaleDecade = 10.0

  /** Encode a new batch with the STORED model and append it as the next
    * version. Returns the new version. Caller contract: batch vec_ids
    * are new (dedup upstream — the index is an append log, not a map).
    * Refuses loudly once the index has outgrown the frozen fit's decade
    * boundary ([[stalenessRatio]]) — re-[[create]] on the accumulated
    * corpus, or pass `allowStale = true` knowingly. */
  def ingest(root: String, batch: DataFrame,
             allowStale: Boolean = false): Long = {
    val spark = batch.sparkSession
    val (coarse, cb) = readModel(spark, root)
    val stale = stalenessRatio(spark, root)
    require(allowStale || stale < StaleDecade,
      f"PqIndex at $root is STALE: the indexed codes are $stale%.1fx " +
        "the build-time corpus count — past the frozen codebooks' " +
        "decade boundary quantization error (and every tau2-calibrated " +
        "screen) drifts silently. re-create the index, or pass " +
        "allowStale = true to keep ingesting at the frozen fit")
    graft.sources.VersionedStats.commitWithRowStat(
      ProductQuant.encodeIvfPacked(batch, coarse, cb)
        .select(col("vec_id"), col("list_id"), col("pq_packed")),
      root, append = true)
  }

  /** Top-k ANN against the PERSISTED codes — identical plan to
    * [[ProductQuant.knnIvfPq]] from the scoring join up, but the
    * corpus-side state comes off disk (12 B/vector scan) instead of
    * being re-encoded; `rerankFrom` serves raw vectors for the
    * shortlist (typically the original corpus table). */
  def knn(spark: SparkSession, root: String, queries: DataFrame, k: Int,
          nprobe: Int, rerankFrom: DataFrame, refine: Int = 0): DataFrame = {
    val (coarse, cb) = readModel(spark, root)
    ProductQuant.adcSearchIvf(codes(spark, root), queries, k, coarse, cb,
      nprobe, refine, rerankFrom)
  }

  /** Semantic-decontamination screen: for each query vector, its
    * minimum ADC distance to any indexed vector in its probed cells,
    * flagged `contaminated` when that distance is under `tau2` (squared
    * unit-sphere distance; cos θ ≥ t ⇔ dist² ≤ 2−2t). Pure
    * codes-vs-queries ([[ProductQuant.adcMinDistance]]) — no raw
    * vectors touched, which is exactly what a training pipeline runs
    * against a frozen eval-set index. ADC is approximate: calibrate
    * `tau2` with the measured quantization error
    * ([[ProductQuant.reconstructionError]]) — the spec pins the
    * screen's recall against the exact twin on the test corpus.
    * Queries probing only empty cells keep a null min_adc_dist and are
    * not contaminated. */
  def semanticContamination(spark: SparkSession, root: String,
                            queries: DataFrame, nprobe: Int,
                            tau2: Double,
                            version: Option[Long] = None): DataFrame = {
    val (coarse, cb) = readModel(spark, root)
    val mins = ProductQuant.adcMinDistance(codes(spark, root, version),
      queries, coarse, cb, nprobe)
    queries.select(col("vec_id").as("query_id"))
      .join(mins, Seq("query_id"), "left")
      .select(col("query_id"), col("min_adc_dist"),
        coalesce(col("min_adc_dist") <= tau2, lit(false))
          .as("contaminated"))
      .orderBy(col("query_id"))
  }
}

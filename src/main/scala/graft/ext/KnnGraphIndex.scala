package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TopKAggregate
import graft.functions.VectorFunctions.dotNative
import graft.sources.{VersionedStats, VersionedTable}

/** Persisted corpus kNN graph — the fifth index family
  * ([[DedupIndex]] fingerprints/minhash/span, [[PqIndex]] codes, this):
  * every production use of a kNN graph (dataset cartography, graph
  * dedup, diversity sampling) is build-once read-many, yet
  * [[KnnGraph.knnGraphDescent]] rebuilt its descent rounds on every
  * invocation — 12.1 s at sf0.1, 999 s at 400k vectors, build-dominated
  * (VERDICT r13 gap #1). The asset:
  *
  *  - `_model/` — the frozen coarse centroids (the engine-seeded
  *    [[Similarity.ivfFit]] the build used) plus the build parameters
  *    (k, nprobe, degree, iters, targetCell, seed, buildN — typed
  *    columns), written exactly once at [[create]]. Frozen for the
  *    same reason [[PqIndex]] freezes its codebooks: [[ingest]] must
  *    seed new vectors from the SAME cells the build used, or
  *    incremental edges stop being comparable to built ones. The
  *    frozen fit carries its refusal boundary ([[stalenessRatio]]).
  *  - the [[VersionedTable]] edge table — the descent's full
  *    DEGREE-width adjacency (vec_id, neighbor_id, cos_sim), not the
  *    top-k: readers derive the top-k view with one bounded aggregate
  *    ([[topK]], answer-sized), while incremental maintenance resumes
  *    descent from the stored adjacency. Stats sidecar maintained at
  *    every commit (row count + vec_id sketch).
  *
  * Like [[PqIndex]], raw embeddings are NOT stored — the graph is
  * n·degree scalar rows (~1% of the vector bytes at dim 64); [[ingest]]
  * takes the caller's corpus table for the vectors it scores.
  *
  * Reference scope: the reference pipeline has no vector operators at
  * all; this extends the LLM-data-pipeline surface (SURVEY.md §6).
  */
object KnnGraphIndex {

  private def modelPath(root: String) = new Path(root, "_model")

  /** Frozen build parameters, stored beside the centroids. `buildN` is
    * the corpus count at [[create]] — the fit stat the staleness check
    * ([[stalenessRatio]]) compares the grown corpus against. */
  case class Params(k: Int, nprobe: Int, degree: Int, iters: Int,
                    targetCell: Int, seed: Long, buildN: Long)

  /** Schema of the persisted `_model` parquet. Params live in TYPED
    * columns (not a Seq[Double] — a Long seed widened through Double
    * silently loses precision past 2^53, so a caller pinning a large
    * seed would read back a model recording a different seed than the
    * build used); centroid rows carry the dims array and leave the
    * param columns null. */
  private val ModelSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("kind", StringType, nullable = false),
      StructField("code", IntegerType, nullable = false),
      StructField("dims", ArrayType(DoubleType), nullable = true),
      StructField("k", IntegerType, nullable = true),
      StructField("nprobe", IntegerType, nullable = true),
      StructField("degree", IntegerType, nullable = true),
      StructField("iters", IntegerType, nullable = true),
      StructField("target_cell", IntegerType, nullable = true),
      StructField("seed", LongType, nullable = true),
      StructField("build_n", LongType, nullable = true)))
  }

  /** Build-if-missing: fit cells (nlist from the corpus count, the
    * registered queries' catalog-stat sizing), run the full descent
    * build ONCE, persist model + adjacency v1. No-op when the index
    * already exists; same-root creators serialize in-JVM
    * ([[graft.sources.KeyedLocks]]) and a cross-process loser fails
    * clean on the model's errorifexists / the manifest commit. */
  def create(corpus: DataFrame, root: String, k: Int = 3,
             nprobe: Int = 3, iters: Int = 3, targetCell: Int = 512,
             seed: Long = 42L): Unit =
    graft.sources.KeyedLocks.withLock(root) {
      val spark = corpus.sparkSession
      val mp = modelPath(root)
      val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
      val committed = VersionedTable.versions(spark, root).nonEmpty
      if (fs.exists(mp) && committed) {
        // already built — the common case after the first touch
      } else if (fs.exists(mp)) {
        // CRASH RECOVERY: a prior attempt wrote the model but died
        // before the version commit. Build the adjacency FROM THE
        // STORED model — never re-fit: a re-fit on the current corpus
        // would commit an adjacency inconsistent with the frozen
        // centroids/params when the corpus changed between attempts
        // (ingest would then seed new vectors from stale cells, and
        // the frozen degree would disagree with the committed edges).
        val (centroids, p) = readModel(spark, root)
        val adj = KnnGraph.descentAdjacency(corpus, centroids, p.nprobe,
          p.degree, p.iters, p.targetCell, p.seed)
        commitChecked(adj, root)
      } else {
        val n = corpus.count()
        val nlist = math.min(Similarity.IvfFitNlistCap.toLong,
          math.max(8L, n / targetCell)).toInt
        val centroids = Similarity.ivfFit(corpus, nlist = nlist,
          seed = seed)
        // structure-aware degree (KnnGraph.degreeForCorpus): the
        // isotropic rule shrunk toward the floor on measurably
        // clustered corpora — the statistic is one linear aggregate,
        // noise next to the build this create exists to amortize
        val degree = KnnGraph.degreeForCorpus(n,
          KnnGraph.compactness(corpus, centroids))
        require(k >= 1 && degree >= k,
          s"need 1 <= k <= degree: k=$k degree=$degree")
        val adj = KnnGraph.descentAdjacency(corpus, centroids, nprobe,
          degree, iters, targetCell, seed)
        // model first, then the version commit: the recovery branch
        // above makes the (model-written, uncommitted) crash window
        // converge to a consistent asset. errorifexists keeps a
        // cross-process loser failing clean.
        val rows: Seq[org.apache.spark.sql.Row] =
          centroids.zipWithIndex.map { case (c, j) =>
            org.apache.spark.sql.Row("centroid", j, c.toSeq,
              null, null, null, null, null, null, null) }.toSeq :+
          org.apache.spark.sql.Row("params", 0, null,
            k, nprobe, degree, iters, targetCell, seed, n)
        spark.createDataFrame(
            java.util.Arrays.asList(rows: _*), ModelSchema)
          .coalesce(1).write.mode("errorifexists").parquet(mp.toString)
        if (VersionedTable.versions(spark, root).isEmpty)
          commitChecked(adj, root)
      }
    }

  /** Commit the adjacency + stats, then earn the persistence round-trip
    * witness at build time (the only moment the fresh frame exists):
    * the committed bytes read back row-identical to what descent
    * produced. adj is localCheckpointed (materialized), so this is two
    * linear passes over n·degree scalar rows — noise next to the
    * build. */
  private def commitChecked(adj: DataFrame, root: String): Unit = {
    val spark = adj.sparkSession
    VersionedStats.commitWithStats(adj, root, keyCols = Seq("vec_id"))
    val back = VersionedTable.read(spark, root)
    val torn = back.exceptAll(adj).limit(1).count() +
      adj.exceptAll(back).limit(1).count()
    require(torn == 0L,
      s"kNN graph round-trip mismatch at $root — torn commit?")
  }

  private val modelCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Array[Double]], Params)]()

  /** The stored (centroids, params) — frozen at [[create]], so the
    * per-JVM cache can never serve a stale model.
    *
    * LEGACY roots (written before the typed-params schema) pack the
    * params into the `dims` array of the params row — (k, nprobe,
    * degree, iters, targetCell, seed), no build_n. Selecting the typed
    * columns there would throw AnalysisException and brick every
    * pre-change persisted root, so the reader degrades by SCHEMA, not
    * by root name: a model file without a `build_n` column parses the
    * packed row (exact — all legacy params fit a Double) and records
    * buildN = 0, the sentinel [[stalenessRatio]] treats as "no build
    * stat: advisory check degrades open", matching [[PqIndex]]'s
    * legacy posture. */
  def readModel(spark: SparkSession,
                root: String): (Array[Array[Double]], Params) = {
    val cached = modelCache.get(root)
    if (cached != null) return cached
    val df = spark.read.parquet(modelPath(root).toString)
    val centroids = df.where(col("kind") === "centroid")
      .select(col("code"), col("dims")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
    require(centroids.nonEmpty, s"KnnGraphIndex model at $root is empty")
    val params =
      if (df.columns.contains("build_n")) {
        val p = df.where(col("kind") === "params")
          .select(col("k"), col("nprobe"), col("degree"), col("iters"),
            col("target_cell"), col("seed"), col("build_n"))
          .collect().headOption
          .getOrElse(sys.error(
            s"KnnGraphIndex model at $root has no params row"))
        Params(p.getInt(0), p.getInt(1), p.getInt(2), p.getInt(3),
          p.getInt(4), p.getLong(5), p.getLong(6))
      } else {
        val p = df.where(col("kind") === "params")
          .select(col("dims")).collect().headOption
          .map(_.getSeq[Double](0))
          .getOrElse(sys.error(
            s"KnnGraphIndex model at $root has no params row"))
        Params(p(0).toInt, p(1).toInt, p(2).toInt, p(3).toInt,
          p(4).toInt, p(5).toLong, buildN = 0L)
      }
    val loaded = (centroids, params)
    modelCache.putIfAbsent(root, loaded)
    loaded
  }

  /** STALENESS of the frozen model: the ratio of the indexed corpus
    * size to the build-time corpus count ([[Params.buildN]]). The
    * indexed size comes from the stats sidecar the commits maintain
    * (adjacency rows / frozen degree) — metadata-only, no scan.
    *
    * The refit boundary is a DECADE: [[KnnGraph.degreeFor]] steps the
    * internal degree +12 per decade of n, so once the corpus outgrows
    * 10× the build count the frozen degree sits a full rule-step below
    * what a fresh fit would choose — recall quietly decays from there
    * (measured: fixed d18 fell 0.767 → 0.50 from 20k to 200k on the
    * isotropic family). Same boundary class as a frozen PQ codebook's.
    * [[ingest]] refuses past the boundary rather than degrading
    * silently; re-[[create]] (or pass `allowStale = true` knowingly). */
  def stalenessRatio(spark: SparkSession, root: String): Double = {
    val (_, p) = readModel(spark, root)
    // buildN == 0 is the legacy-model sentinel (see [[readModel]]):
    // no build-time count was recorded, so the advisory check degrades
    // OPEN rather than dividing by the max(1, 0) floor and refusing
    // every legacy ingest as infinitely stale
    if (p.buildN == 0L) return 0.0
    VersionedStats.statsFor(spark, root) match {
      case Some((rows, _)) =>
        (rows.toDouble / p.degree) / math.max(1L, p.buildN)
      case None => 0.0 // no stat: advisory check degrades open
    }
  }

  /** One decade of growth past the build count — [[stalenessRatio]]'s
    * refusal boundary, public so callers can probe before ingesting. */
  val StaleDecade = 10.0

  /** The stored degree-width adjacency — latest version, or pinned. */
  def adjacency(spark: SparkSession, root: String,
                version: Option[Long] = None): DataFrame =
    VersionedTable.read(spark, root, version)

  /** The read path: top-k ranked edges per vector off the committed
    * adjacency — one bounded aggregate over n·degree scalar rows, no
    * descent, no vectors. Identical rows to a fresh
    * [[KnnGraph.knnGraphDescent]] at the stored parameters (the
    * committed adjacency IS the fresh build's internal state —
    * round-trip asserted at [[create]], determinism pinned in
    * KnnGraphIndexSpec). */
  def topK(spark: SparkSession, root: String,
           version: Option[Long] = None): DataFrame =
    KnnGraph.topKView(adjacency(spark, root, version),
      readModel(spark, root)._2.k)

  /** Incremental maintenance: absorb `batch` (new vec_ids) into the
    * graph WITHOUT a full rebuild. `corpus` is the caller's current
    * vector table INCLUDING the batch (the asset stores no vectors).
    *
    *  1. SEED — batch vectors join corpus members of their `nprobe`
    *     probed cells (the frozen centroids), scored exactly as the
    *     build scores (rounded cosine): |batch|·nprobe·cellsize pairs,
    *     batch-linear.
    *  2. LOCAL DESCENT — `rounds` NN-descent rounds restricted to the
    *     AFFECTED neighborhood: only vertices sighted in new edges
    *     join their adjacency lists; the far rest of the graph is
    *     never touched by the quadratic step.
    *  3. MERGE — vertices with at least one new candidate recompute
    *     their top-degree lists (deterministic, same aggregate as the
    *     build); untouched vertices' rows are carried byte-identical.
    *     Committed as the next version (full snapshot, stats
    *     maintained).
    *
    * Re-ingesting a batch whose ids are all already in the graph is a
    * no-op (returns the current version). The frozen degree is the
    * build-time count-scaled value — re-[[create]] when the corpus
    * outgrows the rule's next decade ([[KnnGraph.degreeFor]]), the same
    * refit boundary a frozen PQ codebook has. That boundary is
    * ENFORCED, not just documented: once [[stalenessRatio]] crosses
    * [[StaleDecade]] the ingest refuses loudly (metadata-only check)
    * instead of silently committing edges at a degree the rule has
    * outgrown; pass `allowStale = true` to override knowingly. */
  def ingest(root: String, corpus: DataFrame, batch: DataFrame,
             rounds: Int = 1, allowStale: Boolean = false): Long =
    graft.sources.KeyedLocks.withLock(root) {
      val spark = batch.sparkSession
      require(rounds >= 0, s"rounds must be >= 0: $rounds")
      val (centroids, p) = readModel(spark, root)
      val existing = adjacency(spark, root)
      // no distinct on the anti-join's right side: left_anti never
      // duplicates left rows, and the distinct was an index-wide
      // aggregation on EVERY ingest call — the exact O(index)
      // per-trigger pass the affected-neighborhood design removes
      // everywhere else
      val fresh = batch.select(col("vec_id"))
        .join(existing.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .limit(1).count()
      if (fresh == 0L)
        // the no-op short-circuit runs BEFORE the staleness refusal: a
        // replayed all-duplicate batch (the documented crash-replay
        // convergence of the streaming lane) must stay a no-op even
        // when the index has since crossed the decade boundary —
        // refusing it would wedge a stream on work it does not do
        VersionedTable.versions(spark, root).last
      else {
        val stale = stalenessRatio(spark, root)
        require(allowStale || stale < StaleDecade,
          f"KnnGraphIndex at $root is STALE: the indexed corpus is " +
            f"$stale%.1fx the build-time count (${p.buildN} vectors, " +
            f"frozen degree ${p.degree}) — past the degree rule's " +
            "decade boundary recall decays silently. re-create the " +
            "index, or pass allowStale = true to keep ingesting at " +
            "the frozen fit")
        // Union children are CHECKPOINTED LEAVES throughout ingest: a
        // union whose children share attribute lineage (the stored
        // adjacency semi-joined through `touched`, which itself derives
        // from the other child) trips Catalyst's union constraint
        // rewrite with a dangling attribute (NoSuchElementException in
        // UnionBase.rewriteConstraints, surfacing lazily from
        // PruneFilters) — and the crash survives re-aliasing because
        // the optimizer collapses projections before constraints are
        // computed. A leaf has no constraints to rewrite. The
        // checkpointed frames are all AFFECTED-sized (|touched|·degree
        // scalar rows), never graph-sized, so the materialization cost
        // rides the locality the ingest exists for.
        val par = spark.sparkContext.defaultParallelism
        val v = Spread(corpus)
          .select(col("vec_id"), col("embedding"),
            dotNative(col("embedding"), col("embedding")).as("n2"))
          .persist()
        try {
        def score(pairs: DataFrame): DataFrame = pairs
          .where(col("neighbor_id") =!= col("vec_id"))
          .select(col("vec_id"), col("neighbor_id"),
            Similarity.cosSim(col("qv"), col("cv"), col("qn2"), col("cn2"))
              .as("cos_sim"))
        // seed: batch (probed cells) x corpus (home cell) — the same
        // pair space the build's flat-cell join generates for these
        // vectors; in-cell splitting is skipped because the batch side
        // bounds the volume (|batch|·nprobe·cellsize)
        val cand = v.withColumn("cell",
            element_at(Similarity.ivfListIds(col("embedding"),
              centroids, 1), 1))
          .select(col("cell"), col("vec_id").as("neighbor_id"),
            col("embedding").as("cv"), col("n2").as("cn2"))
        val bkeys = batch.select(col("vec_id"))
        val q = v.join(bkeys, Seq("vec_id"), "left_semi")
          .withColumn("cell",
            explode_outer(Similarity.ivfListIds(col("embedding"),
              centroids, p.nprobe)))
          .where(col("cell").isNotNull)
          .select(col("cell"), col("vec_id"), col("embedding").as("qv"),
            col("n2").as("qn2"))
        // RAW pair lists are never materialized (the build's own
        // discipline — scored pairs stream into bounded, map-side
        // combined, spillable top-k aggregates): the first probe of
        // this path checkpointed the scored seed verbatim and
        // materialized |batch|·nprobe·cellsize rows (42M at the 200k
        // lane — the exact unbounded intermediate KnnGraph exists to
        // avoid). Capping at 2·degree per vertex BEFORE every
        // checkpoint is lossless for the final merge: top-degree of
        // (old ∪ new) ⊆ old ∪ top-2·degree-of-new per vertex. The
        // capped frame is also what breaks the reversal's lineage (the
        // aliased column swap over a plan still carrying the score
        // filter's constraint trips Catalyst's union constraint
        // rewrite; a checkpointed leaf has no constraints).
        val seed = score(cand.join(q, Seq("cell")))
        val fwd = KnnGraph.topDegree(seed, 2 * p.degree)
          .localCheckpoint(true)
        // reverse sightings (an old vertex near a new vector must gain
        // it) derive from the CAPPED forward lists — the same
        // reversed-from-capped adjacency the build's descent walks
        val rev = KnnGraph.topDegree(
          fwd.select(col("neighbor_id").as("vec_id"),
            col("vec_id").as("neighbor_id"), col("cos_sim")),
          2 * p.degree).localCheckpoint(true)
        var newRows = fwd.unionByName(rev)
        for (_ <- 1 to rounds) {
          // affected adjacency = stored edges of touched vertices + the
          // new sightings; capped at 2·degree per vertex as the build
          // caps ([[KnnGraph]] object doc — bounds the local join at
          // |affected|·(2d)²/2 pairs)
          val touched = newRows.select(col("vec_id")).distinct()
          val local = existing
            .join(touched, Seq("vec_id"), "left_semi")
            .localCheckpoint(true)
            .unionByName(newRows)
          val capped = local
            .select(col("vec_id").as("b"), col("neighbor_id").as("p"),
              col("cos_sim"))
            .groupBy(col("b"))
            .agg(TopKAggregate.topKByDistinct(col("cos_sim"), col("p"),
              2 * p.degree).as("__adj"))
            .select(col("b"), explode_outer(col("__adj")).as("__e"))
            .where(col("__e").isNotNull)
            .select(col("b"), col("__e.id").as("p"))
          // exchange sized from the affected-vertex count so per-task
          // sort chunks stay bounded (the build's adjP rule; touched is
          // a leaf-derived distinct, so the count is one cheap job)
          val nTouched = touched.count()
          val dim = centroids(0).length
          val adjRowBytes = dim * 8L + 64L
          val adjP = math.max(par.toLong, math.min(4096L,
            nTouched * 2 * p.degree * adjRowBytes / (32L << 20) + 1)).toInt
          val adj = capped.join(
              v.select(col("vec_id").as("p"), col("embedding"),
                col("n2")).hint("shuffle_hash"),
              Seq("p"))
            .repartition(adjP, col("b"))
          val x = adj.select(col("b"), col("p").as("u"),
            col("embedding").as("uv"), col("n2").as("un2"))
          val y = adj.select(col("b"), col("p").as("w"),
            col("embedding").as("wv"), col("n2").as("wn2"))
          val pairs = x.join(y, Seq("b"))
            .where(col("u") < col("w"))
            .select(col("u"), col("w"),
              Similarity.cosSim(col("uv"), col("wv"), col("un2"),
                col("wn2")).as("cos_sim"))
          // scored descent pairs stream straight into the bounded
          // aggregate — only top-2·degree new sightings per vertex ever
          // materialize (lossless for the final merge, see above)
          val roundNew = KnnGraph.topDegree(
            pairs.select(col("u").as("vec_id"),
                col("w").as("neighbor_id"), col("cos_sim"))
              .unionByName(pairs.select(col("w").as("vec_id"),
                col("u").as("neighbor_id"), col("cos_sim"))),
            2 * p.degree).localCheckpoint(true)
          newRows = newRows.unionByName(roundNew)
        }
        // merge: touched vertices recompute their top-degree lists
        // (duplicate sightings carry bit-identical rounded cosines, so
        // the distinct-id aggregate dedups exactly — the build's own
        // merge discipline); untouched rows carry over byte-identical
        val touched = newRows.select(col("vec_id")).distinct()
        val updated = KnnGraph.topDegree(
          existing.join(touched, Seq("vec_id"), "left_semi")
            .localCheckpoint(true)
            .unionByName(newRows), p.degree)
          .localCheckpoint(true)
        val merged = existing
          .join(touched, Seq("vec_id"), "left_anti")
          .unionByName(updated)
        VersionedStats.commitWithStats(merged, root,
          keyCols = Seq("vec_id"))
        // try/finally, not success-path-only: an exception mid-descent
        // must not leak the cached corpus projection for the session
        } finally v.unpersist(false)
      }
    }
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dotNative

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): prune near-identical embeddings WITHIN k-means
  * clusters instead of over all pairs. Complements the document-text
  * family (MinHash/SimHash/winnowing in [[Dedup]]) and the LSH cosine
  * path ([[Similarity.cosineNearDupPairsLshAdaptive]]) — k-means lists
  * give semantically-coherent buckets, so the within-bucket comparison
  * catches paraphrase-level duplicates that shingle hashing cannot see.
  *
  * Scale shape (the reason SemDeDup exists at corpus scale): the corpus
  * shuffles ONCE on the cluster id and pairs are generated per cluster —
  * expected pair work is N·clusterSize/2, not N²/2. Cluster-count sizing
  * is TWO-REGIME, because the naive adaptive rule (nlist = n/target,
  * round 10) made the centroid FIT itself O(n²) on the driver and inlined
  * O(n) centroid literals into the plan:
  *
  *  - nlist ≤ [[FlatNlistCap]] (256): one flat driver-side k-means fit
  *    ([[Similarity.ivfFit]], sample and Lloyd cost both bounded by the
  *    cap), pairs within each of the `probes` nearest lists —
  *    bit-identical to the round-10 behavior at every test/gate scale.
  *  - nlist > cap: the fit does NOT grow. A capped coarse quantizer
  *    (exactly [[FlatNlistCap]] cells, same bounded fit) splits the
  *    corpus into semantically-coherent cells, and each OVERFULL cell is
  *    refined by seeded random-hyperplane LSH with per-cell depth
  *    planes(c) = ceil(log2(cellSize/target)) — so effective cluster
  *    occupancy stays ~target as n grows, while everything driver-side
  *    stays bounded: the fit sample (cap × 256 rows), the per-cell plane
  *    depths (one cap-row aggregate, like [[Similarity.knnIvfAdaptive]]'s
  *    list sizes), and the plan literals (cap × dim centroid values +
  *    maxPlanes × dim plane values — never O(n)). Hyperplane splitting
  *    can separate a near-dup pair inside a cell, so the refinement is
  *    OR-amplified ([[refineTablesFor]]): T independent plane sets, a
  *    pair counts if co-bucketed in ANY — in-bucket recall floored at
  *    0.8 of what the flat regime's full in-cell comparison would catch.
  *    The honest scaling note from BASELINE.md applies: holding recall
  *    pinned, T grows as the classic 1+ρ LSH exponent — sub-quadratic,
  *    not linear; at production thresholds (≥0.9) ~N^1.2.
  *
  * At 100 TB the `count()` here is a table-catalog statistic, and both
  * regimes scan the corpus the same number of times (once for cell
  * occupancy in the refined regime — bounded cap-row output — plus once
  * for pair generation).
  *
  * Pruning rule (deterministic, order-free): a vector is PRUNED iff some
  * LOWER-ID vector in the same cluster (flat) / same refined bucket of
  * any table (refined) has rounded cosine ≥ threshold with it; its
  * `keeper_id` is the smallest such id. Consequences the witness queries
  * verify in-plan rather than trust:
  *  - every pruned vector is also globally prunable (a lower-id
  *    co-bucketed neighbor is a lower-id global neighbor), so pruned ⊆
  *    the exact brute-force prunable set — in BOTH regimes;
  *  - flat regime: survivors are pairwise non-duplicate within every
  *    cluster (if two survivors matched, the higher id would have been
  *    pruned); refined regime relaxes this to per-(cell, table, bucket);
  *  - recall vs the exact set is bounded by the cluster/bucket split —
  *    the deliberate SemDeDup trade, measured and floored in the
  *    registered witnesses (`semantic_dedup`, `semantic_dedup_refined`).
  *
  * An identical copy of a vector can NEVER escape either regime: equal
  * vectors get equal cell assignments and equal sign bits in every
  * table, so exact duplicates are always co-bucketed (spec-pinned).
  *
  * Cosine is [[Similarity.cosSim]], the same 6-dp rounded value as
  * [[Similarity.cosineNearDupPairs]], so the subset relation holds
  * exactly at the threshold boundary.
  *
  * Reference scope: the reference pipeline has no embedding operators —
  * this is part of the beyond-reference LLM-curation surface (SURVEY.md
  * §2 extensions), built only from the published SemDeDup/FAISS ideas.
  */
object SemanticDedup {

  /** Flat-regime ceiling: the largest cluster count fit as ONE driver
    * k-means (also the refined regime's fixed coarse-cell count). Equal
    * to [[Similarity.IvfFitNlistCap]] — the flat fit is exactly an
    * [[Similarity.ivfFit]] call, so the two caps are one invariant. */
  val FlatNlistCap: Int = Similarity.IvfFitNlistCap

  /** Total-cluster sizing (pure, spec-pinned): ceil(n/target), floor 8 —
    * the round-10 adaptive rule, now a TARGET the two regimes realize
    * differently rather than a literal flat-fit size. */
  def nlistFor(n: Long, targetClusterSize: Int): Int =
    math.max(8, math.ceil(
      math.max(1L, n).toDouble / targetClusterSize).toInt)

  /** Per-cell LSH refinement depth (pure, spec-pinned): enough sign bits
    * that expected bucket occupancy ≈ target — 0 for cells already at or
    * under target (no refinement, flat behavior per cell). */
  def refinePlanesFor(cellSize: Long, targetClusterSize: Int): Int =
    if (cellSize <= targetClusterSize) 0
    else math.ceil(math.log(cellSize.toDouble / targetClusterSize)
      / math.log(2.0)).toInt

  /** OR-table count for the refinement split (pure, spec-pinned):
    * smallest T with 1-(1-p^planes)^T ≥ `recallFloor`, p = co-bucket
    * probability at the threshold angle. DIFFERENT contract from
    * [[Similarity.orTablesFor]] (which restores the LSH path's fixed
    * 4-plane baseline, a weak p⁴ target): the refined regime replaces a
    * flat regime whose in-cell pair recall is 1.0, so the split must
    * bound its LOSS — in-bucket recall ≥ 0.8 of the pairs the flat
    * regime would have caught (the p⁴ sizing measured 0.50 overall at
    * θ=0.4, failing the witness floor; 0.8 restores it). T grows as
    * p^-planes holding the floor — the honest 1+ρ cost, steep exactly
    * when the threshold is low AND the split deep; the library's answer
    * there is the same as for adaptive LSH (BASELINE.md): change tool
    * shape (kNN/clustering), not drop the floor. */
  def refineTablesFor(planes: Int, threshold: Double,
                      recallFloor: Double = 0.8): Int =
    if (planes <= 0) 1
    else {
      val p = 1.0 - math.acos(threshold) / math.Pi
      val perTable = math.pow(p, planes)
      if (perTable >= recallFloor) 1
      else math.max(1, math.ceil(
        math.log1p(-recallFloor) / math.log1p(-perTable)).toInt)
    }

  /** Per-vector verdict frame: `vec_id`, `cluster` (nearest coarse list
    * id), `pruned` (boolean), `keeper_id`/`keeper_cos` (smallest
    * qualifying lower-id neighbor and its rounded cosine; null for
    * survivors). Pairs are generated within each of the `probes` nearest
    * lists per vector (expected pair work probes²·N·clusterSize/2 —
    * linear in N modulo the refined regime's OR-table count, never
    * all-pairs). `flatNlistCap` exists for specs/witnesses to force the
    * refined regime at test scale; production callers leave the
    * default. */
  def verdicts(corpus: DataFrame, threshold: Double,
               targetClusterSize: Int = 1024, seed: Long = 42L,
               probes: Int = 2, flatNlistCap: Int = FlatNlistCap): DataFrame = {
    require(flatNlistCap >= 1 && flatNlistCap <= FlatNlistCap,
      s"flatNlistCap=$flatNlistCap outside [1, $FlatNlistCap]")
    // metadata-cheap on a scan-rooted corpus; a catalog stat at scale
    val n = math.max(1L, corpus.count())
    val nlist = nlistFor(n, targetClusterSize)
    if (nlist <= flatNlistCap)
      flatVerdicts(corpus, threshold, nlist, seed, probes)
    else
      refinedVerdicts(corpus, threshold, targetClusterSize, seed, probes,
        flatNlistCap)
  }

  /** Flat regime: one bounded k-means fit, pairs within probed lists —
    * the round-10 operator, bit-identical for nlist ≤ the cap. */
  private def flatVerdicts(corpus: DataFrame, threshold: Double,
                           nlist: Int, seed: Long,
                           probes: Int): DataFrame = {
    val centroids = Similarity.ivfFit(corpus, nlist, seed)
    val v0 = assigned(corpus, centroids, probes)
    val v = v0.withColumn("plist", explode(col("__lists")))
    val a = v.select(col("plist"), col("vec_id").as("vec_a"),
      col("embedding").as("va"), col("n2").as("n2a"))
    val b = v.select(col("plist"), col("vec_id").as("vec_b"),
      col("embedding").as("vb"), col("n2").as("n2b"))
    // one shuffle on list id; pairs never leave their list partition. A
    // pair sharing several probed lists is sighted more than once — the
    // keeper struct-min below collapses sightings, so no distinct pass.
    val dupPairs = a.join(b, Seq("plist"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        Similarity.cosSim(col("va"), col("vb"), col("n2a"), col("n2b"))
          .as("cos_sim"))
      .where(col("cos_sim") >= threshold)
    withKeepers(v0, dupPairs)
  }

  /** Refined regime: capped coarse cells + per-cell OR-amplified LSH
    * refinement. Fit, per-cell stats, and plan literals all bounded by
    * the cap regardless of n; pair work T·probes²·N·target/2. */
  private def refinedVerdicts(corpus: DataFrame, threshold: Double,
                              targetClusterSize: Int, seed: Long,
                              probes: Int, k1: Int): DataFrame = {
    val centroids = Similarity.ivfFit(corpus, k1, seed)
    val dim = centroids(0).length
    val v0 = assigned(corpus, centroids, probes)
    // cell occupancy by NEAREST assignment: one aggregate, k1-row output
    // to the driver — the same bounded planner statistic as
    // knnIvfAdaptive's list sizes, never corpus-sized
    val sizeRows = v0.select(element_at(col("__lists"), 1).as("cell"))
      .groupBy(col("cell")).count().collect()
    val cellSizes = Array.fill(k1)(0L)
    sizeRows.foreach(r => cellSizes(r.getInt(0)) = r.getLong(1))
    val planesPerCell = cellSizes.map(refinePlanesFor(_, targetClusterSize))
    val maxPlanes = planesPerCell.max
    val tables = refineTablesFor(maxPlanes, threshold)
    val planesLit = typedLit(planesPerCell.toSeq)
    val vc = v0.withColumn("cell", explode(col("__lists")))
      .withColumn("pl", element_at(planesLit, col("cell") + 1))
    // One maxPlanes-bit signature per table; each cell keeps its LOW
    // planes(c) bits — per-cell depth without per-cell plane sets. Seed
    // offset keeps these planes disjoint from every other LSH family in
    // the library for the same user seed. All T tables ride ONE
    // (table, bucket) explode and ONE shuffle join — the knnLshOr
    // shape — rather than T unioned joins, whose per-branch
    // scheduling overhead dominated the bench row (T separate shuffle
    // joins of the same exploded frame; 10 tables cost 8 s on a corpus
    // whose pair work is milliseconds).
    val tableBuckets = array((0 until tables).map { t =>
      val pl = Similarity.hyperplanes(maxPlanes, dim, seed + 7001 + t)
      when(col("pl") === 0, lit(0L)).otherwise(
        Similarity.bucketId(col("embedding"), pl)
          .bitwiseAND(expr("shiftleft(1L, pl) - 1L")))
    }: _*)
    // posexplode_outer, not posexplode: the plain explode of a COMPUTED
    // array would make InferFiltersFromGenerate re-evaluate every
    // table's plane dots in a pushed-down size() filter (see knnLshOr)
    val vt = vc.select(col("cell"), col("vec_id"), col("embedding"),
      col("n2"), posexplode_outer(tableBuckets).as(Seq("tbl", "bucket")))
    val a = vt.select(col("cell"), col("tbl"), col("bucket"),
      col("vec_id").as("vec_a"), col("embedding").as("va"),
      col("n2").as("n2a"))
    val b = vt.select(col("cell"), col("tbl"), col("bucket"),
      col("vec_id").as("vec_b"), col("embedding").as("vb"),
      col("n2").as("n2b"))
    // threshold BEFORE the keeper aggregate: cos_sim is identical for
    // every sighting of a pair (probes and tables alike), so the filter
    // commutes with the struct-min dedup — only near-dup rows reach the
    // groupBy exchange
    val dupPairs = a.join(b, Seq("cell", "tbl", "bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        Similarity.cosSim(col("va"), col("vb"), col("n2a"), col("n2b"))
          .as("cos_sim"))
      .where(col("cos_sim") >= threshold)
    withKeepers(v0, dupPairs)
  }

  /** Shared projection: (vec_id, embedding, |v|², probed list ids). */
  private def assigned(corpus: DataFrame,
                       centroids: Array[Array[Double]],
                       probes: Int): DataFrame = {
    Spread(corpus)
      .select(col("vec_id"), col("embedding"),
        dotNative(col("embedding"), col("embedding")).as("n2"))
      .withColumn("__lists",
        Similarity.ivfListIds(col("embedding"), centroids, probes))
  }

  /** Fold qualifying pairs into the verdict frame: smallest qualifying
    * keeper per vector (its cosine riding the same struct-min — also
    * what collapses multi-sighted pairs from probes/tables), left-joined
    * onto every vector with its nearest list as `cluster`. */
  private def withKeepers(v0: DataFrame, dupPairs: DataFrame): DataFrame = {
    val pruned = dupPairs
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(struct(col("vec_a"), col("cos_sim"))).as("__k"))
      .select(col("vec_id"), col("__k.vec_a").as("keeper_id"),
        col("__k.cos_sim").as("keeper_cos"))
    v0.select(col("vec_id"), element_at(col("__lists"), 1).as("cluster"))
      .join(pruned, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("keeper_id").isNotNull.as("pruned"),
        col("keeper_id"), col("keeper_cos"))
  }

  /** Surviving corpus after [[verdicts]]-based pruning (the operator a
    * pipeline actually chains): anti-join on the pruned ids — one
    * broadcast-able verdict side at real scale since pruned ids are a
    * fraction of the corpus, but written as a plain left-anti so AQE
    * decides. */
  def survivors(corpus: DataFrame, threshold: Double,
                targetClusterSize: Int = 1024, seed: Long = 42L,
                probes: Int = 2,
                flatNlistCap: Int = FlatNlistCap): DataFrame = {
    val pruned = verdicts(corpus, threshold, targetClusterSize, seed,
      probes, flatNlistCap)
      .where(col("pruned")).select(col("vec_id"))
    corpus.join(pruned, Seq("vec_id"), "left_anti")
  }

  /** In-plan [[Similarity.cosSim]] between two embedding columns — for
    * witness queries re-verifying pruned pairs. */
  def roundedCosine(a: Column, b: Column): Column =
    Similarity.cosSim(a, b, dotNative(a, a), dotNative(b, b))
}

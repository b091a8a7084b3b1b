package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{MetaFile, VersionedStats, VersionedTable}

/** Persisted leakage-safe SPLIT LABELS — the sixth index family
  * ([[DedupIndex]] fingerprints/minhash/span, [[PqIndex]] codes,
  * [[KnnGraphIndex]] adjacency, this): production train/eval splits are
  * assigned ONCE and looked up forever — retraining pipelines, eval
  * harnesses and decontamination screens all read the same assignment
  * — yet the registered split queries regenerate winnowing pairs +
  * connected components per invocation (3.75 s / 8.99 s per call at
  * sf0.1; VERDICT r14 #5). Two regimes share the machinery: LEXICAL
  * ([[create]]/[[ingest]] — winnowing edges only) and SEMANTIC
  * ([[createSemantic]]/[[ingestSemantic]] — winnowing ∪ multi-probe
  * LSH cosine edges, two extra tables; see the semantic section
  * below). The lexical asset, three versioned tables under one root:
  *
  *  - `labels/` — (doc_id, rep): every corpus doc's near-dup component
  *    representative (min doc_id in its winnowing-component; singletons
  *    represent themselves). THE lookup path: a split is a pure hash
  *    projection of `rep` ([[Sampling.deterministicSplit]]), so reading
  *    labels answers "which side is this doc on" with zero pair work.
  *    Stored MERGE-ON-READ (the deletion-vector idea of the modern
  *    table formats, at row grain): the base snapshot plus per-ingest
  *    OVERLAY appends carrying only the recomputed (affected) rows,
  *    superseded by doc_id at read time — so the label WRITE of an
  *    ingest scales with the affected neighborhood, never the corpus
  *    (the one O(corpus) term the r15 design still paid per delta).
  *    Overlay debt is bounded by a two-signal compaction policy —
  *    appended FILES past the base (many small ingests) or overlay
  *    ROWS passing half the base count (few large deltas), both
  *    metadata-only — that folds the reconstructed view back into a
  *    base snapshot (amortized: one corpus-sized write per budget,
  *    not per ingest).
  *  - `edges/` — the near-dup pair frame (doc_a, doc_b, n_shared_fp)
  *    that fed the components, kept so the COUNTED cross-boundary
  *    witness stays computable from stored state (never assumed).
  *  - `fps/` — the winnowing fingerprint postings (doc_id, fp), the
  *    state [[ingest]] needs to find delta↔corpus pairs without ever
  *    rescanning corpus text.
  *
  * Build params (k, w, minShared, maxBucket) freeze at [[create]] in
  * `_model` — [[ingest]] must generate delta edges under the SAME
  * rules or incremental components stop being comparable to built
  * ones.
  *
  * Incremental honesty: ingest reproduces a fresh rebuild's edges for
  * every fingerprint bucket that stays within `maxBucket` (the
  * bucket-size gate is computed over the UNION postings of the
  * fingerprints the delta touches, so delta-delta and delta-corpus
  * pairs see exactly the fresh build's stop-fingerprint rule). A
  * bucket that CROSSES the cap between versions would retroactively
  * drop its contribution to old-old pairs in a fresh rebuild; the
  * index keeps edges once found (monotone), which is the side a
  * leakage-safe split must err on — a kept edge can only merge
  * clusters, never split one across the boundary.
  *
  * Reference scope: the reference pipeline has no dedup or split
  * machinery at all; this extends the LLM-data-pipeline surface
  * (SURVEY.md §6).
  */
object SplitIndex {

  private def labelsRoot(root: String) = new Path(root, "labels").toString
  private def edgesRoot(root: String) = new Path(root, "edges").toString
  private def fpsRoot(root: String) = new Path(root, "fps").toString
  private def modelPath(root: String) = new Path(root, "_model")

  /** Frozen pair-generation parameters. */
  case class Params(k: Int, w: Int, minShared: Long, maxBucket: Int)

  private val ModelSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("k", IntegerType, nullable = false),
      StructField("w", IntegerType, nullable = false),
      StructField("min_shared", LongType, nullable = false),
      StructField("max_bucket", IntegerType, nullable = false)))
  }

  def readModel(spark: SparkSession, root: String): Params = {
    val r = spark.read.parquet(modelPath(root).toString)
      .select(col("k"), col("w"), col("min_shared"), col("max_bucket"))
      .collect().headOption
      .getOrElse(sys.error(s"SplitIndex model at $root is empty"))
    Params(r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3))
  }

  /** Build-if-missing: one winnowing pass over the corpus, components,
    * labels for EVERY doc. No-op when the index exists; same-root
    * creators serialize in-JVM, a cross-process loser fails clean on
    * the model's errorifexists / the manifest commit. */
  def create(docs: DataFrame, root: String, k: Int = 5, w: Int = 4,
             minShared: Long = 10, maxBucket: Int = 1000): Unit =
    graft.sources.KeyedLocks.withLock(root) {
      val spark = docs.sparkSession
      val mp = modelPath(root)
      val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(mp) &&
          VersionedTable.versions(spark, labelsRoot(root)).nonEmpty) {
        // already built
      } else {
        val p =
          if (fs.exists(mp)) readModel(spark, root) // crash recovery:
          else Params(k, w, minShared, maxBucket)   // never re-freeze
        // ONE corpus text scan: the fingerprint frame feeds the
        // committed postings AND the pair generation
        val fps = Dedup.winnowingFingerprints(docs, p.k, p.w)
          .localCheckpoint(true)
        val pairs = Dedup.winnowingPairsFromFps(fps, p.minShared,
          p.maxBucket).localCheckpoint(true)
        val comps = Components.connectedComponents(pairs, "doc_a", "doc_b")
        val labels = docs.select(col("doc_id"))
          .join(comps, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("rep"))
        if (!fs.exists(mp))
          spark.createDataFrame(
              java.util.Arrays.asList(
                org.apache.spark.sql.Row(p.k, p.w, p.minShared,
                  p.maxBucket)), ModelSchema)
            .coalesce(1).write.mode("errorifexists").parquet(mp.toString)
        if (VersionedTable.versions(spark, fpsRoot(root)).isEmpty)
          VersionedStats.commitWithRowStat(fps, fpsRoot(root))
        if (VersionedTable.versions(spark, edgesRoot(root)).isEmpty)
          VersionedTable.commit(pairs, edgesRoot(root))
        if (VersionedTable.versions(spark, labelsRoot(root)).isEmpty)
          commitLabelsBase(labels, root)
      }
    }

  // ---- merge-on-read label storage ---------------------------------
  // Base snapshot rows carry is_base = true; each ingest appends ONLY
  // the recomputed rows (is_base = false) stamped with a monotone lv,
  // and the read path supersedes by doc_id (highest lv wins; ties
  // impossible — one commit's doc_ids are distinct). At most one base
  // generation is ever manifested: compaction commits the merged view
  // with append = false, which drops the old base AND all overlays
  // from the new manifest while old versions stay time-travelable.

  /** Commit `labels` (doc_id, rep) as a full BASE snapshot and record
    * the base file count + row count (the compaction triggers' zero
    * points). */
  private def commitLabelsBase(labels: DataFrame, root: String): Long = {
    val spark = labels.sparkSession
    val lv = VersionedTable.latest(spark, labelsRoot(root)) + 1
    val v = VersionedStats.commitWithRowStat(
      labels.select(col("doc_id"), col("rep"), lit(lv).as("lv"),
        lit(true).as("is_base")),
      labelsRoot(root))
    writeBaseMarker(spark, root, v,
      VersionedTable.fileCount(spark, labelsRoot(root), Some(v)),
      VersionedStats.statsFor(spark, labelsRoot(root), Some(v))
        .map(_._1).getOrElse(0L))
    v
  }

  private def baseMarkerPath(root: String) = new Path(root, "_labels_base")

  // marker = "baseVersion baseFileCount baseRows". ADVISORY only:
  // reads never consult it (the is_base column is the truth), so a
  // crash between a base commit and the marker rewrite merely
  // overstates the overlay debt and triggers one extra compaction,
  // which converges.
  private def writeBaseMarker(spark: SparkSession, root: String,
                              v: Long, files: Int, rows: Long): Unit =
    MetaFile.replace(spark, baseMarkerPath(root), s"$v $files $rows")

  /** (baseVersion, baseFileCount, baseRows) from the marker —
    * (-1, 0, 0) when absent or torn (pre-rows markers degrade to rows
    * 0, which only means the rows trigger fires once and the fold
    * rewrites the marker). */
  private def baseMarker(spark: SparkSession,
                         root: String): (Long, Int, Long) =
    try MetaFile.read(spark, baseMarkerPath(root)).map { s =>
      val parts = s.trim.split("\\s+")
      (parts(0).toLong, parts(1).toInt,
        if (parts.length >= 3) parts(2).toLong else 0L)
    }.getOrElse((-1L, 0, 0L))
    catch { case scala.util.control.NonFatal(_) => (-1L, 0, 0L) }

  /** The committed (doc_id, rep) labels — latest version, or pinned:
    * the base snapshot with overlay rows superseding by doc_id. The
    * base and overlay branches are SEPARATE reads of the manifest (not
    * two filters of one frame) so the union's children share no
    * attribute lineage — the Catalyst union-constraint rewrite trips
    * on conflicting filters over one scan. Plan shape: the overlay
    * aggregate is overlay-sized and its doc_id set anti-joins the base
    * scan (broadcastable while the compaction policy holds overlay
    * small), so the read path never shuffles the base. */
  def labels(spark: SparkSession, root: String,
             version: Option[Long] = None): DataFrame = {
    // Fast path for the COMMON state — the manifest being read is
    // exactly the latest base snapshot (right after create or a fold,
    // and on every read-dominated root between ingests): the marker's
    // base version deciding it is ADVISORY-safe, because when the
    // requested version IS a base snapshot its manifest holds only
    // base files, so the overlay machinery below would plan an empty
    // aggregate + anti-join around the same scan — correct but three
    // extra operators per consumption. A stale/absent marker merely
    // falls through to the general plan, which is always correct.
    val (baseV, _, _) = baseMarker(spark, root)
    val v = version.getOrElse(
      VersionedTable.versions(spark, labelsRoot(root))
        .lastOption.getOrElse(-2L))
    if (baseV >= 0L && v == baseV)
      return VersionedTable.read(spark, labelsRoot(root), Some(v))
        .select(col("doc_id"), col("rep"))
    val latest = VersionedTable
      .read(spark, labelsRoot(root), version)
      .where(col("is_base") === false)
      .groupBy(col("doc_id"))
      .agg(max_by(col("rep"), col("lv")).as("rep"))
    VersionedTable.read(spark, labelsRoot(root), version)
      .where(col("is_base") === true)
      .select(col("doc_id"), col("rep"))
      .join(latest.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(latest.select(col("doc_id"), col("rep")))
  }

  /** The committed near-dup edges (doc_a, doc_b, n_shared_fp). */
  def edges(spark: SparkSession, root: String,
            version: Option[Long] = None): DataFrame =
    VersionedTable.read(spark, edgesRoot(root), version)

  /** THE lookup path: the deterministic split read off the committed
    * labels — a hash projection of `rep`, zero pair work, zero text.
    * Output: (doc_id, rep, split). */
  def split(spark: SparkSession, root: String,
            weights: Seq[(String, Int)]): DataFrame =
    Sampling.deterministicSplit(labels(spark, root), col("rep"), weights)

  /** Absorb `delta` (new doc_ids with text) WITHOUT rebuilding: delta
    * fingerprints join the STORED postings to find every delta↔corpus
    * and delta↔delta near-dup pair under the frozen rules (corpus text
    * never rescanned), then components re-run over the AFFECTED
    * neighborhood only — the new edges plus the stored (doc_id → rep)
    * membership edges of every component a new edge touches; the far
    * rest of the label table is carried BY THE MANIFEST (merge-on-read
    * overlay — see the object doc), so the label write is
    * affected-sized too. Commits postings, edges, then labels (labels
    * LAST — they are the idempotence authority: re-ingesting a delta
    * whose ids are all labeled is a no-op, and every earlier crash
    * window re-runs to the same state thanks to the per-table dedup
    * guards). Returns the labels version. */
  def ingest(root: String, delta: DataFrame,
             compactLabelsAboveFiles: Int = 16): Long =
    graft.sources.KeyedLocks.withLock(root) {
      val spark = delta.sparkSession
      val p = readModel(spark, root)
      require(!isSemanticRoot(spark, root),
        s"SplitIndex at $root is a SEMANTIC-regime root — lexical-only " +
          "ingest would stop maintaining its signature postings and " +
          "semantic edges (labels silently diverge from a fresh " +
          "rebuild); use ingestSemantic")
      val lab = labels(spark, root)
      val deltaIds = delta.select(col("doc_id")).localCheckpoint(true)
      val freshCount = deltaIds
        .join(lab.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .limit(1).count()
      if (freshCount == 0L)
        VersionedTable.versions(spark, labelsRoot(root)).last
      else {
        val (unpostedFps, newEdges) =
          lexicalDeltaEdges(spark, root, p, delta, deltaIds)
        // postings and edges first (each with a replay-dedup guard),
        // labels LAST — the commit that flips the no-op check. The
        // emptiness probe is delta-bounded (unpostedFps is already
        // materialized) and keeps a pure replay from committing an
        // empty posting version per re-run.
        if (unpostedFps.limit(1).count() > 0L)
          VersionedStats.commitWithRowStat(unpostedFps, fpsRoot(root),
            append = true)
        val storedEdges = VersionedTable.read(spark, edgesRoot(root))
        VersionedTable.commit(
          newEdges.join(storedEdges.select(col("doc_a"), col("doc_b")),
            Seq("doc_a", "doc_b"), "left_anti"),
          edgesRoot(root), append = true)
        relabelAffected(spark, root, lab, deltaIds,
          newEdges.select(col("doc_a"), col("doc_b")),
          compactLabelsAboveFiles)
      }
    }

  /** Lexical delta pair generation under the frozen rules: delta
    * fingerprints probe the stored postings for every delta↔corpus and
    * delta↔delta pair (corpus text never rescanned). Returns
    * (unpostedFps, newEdges), both eagerly materialized.
    *
    * The re-append guard is PER DOC, not per batch: a delta mixing one
    * already-posted doc_id (a re-sent seed doc in a streaming batch)
    * with fresh docs must still post the fresh docs' fingerprints — a
    * batch-level flag skipped the whole append and permanently lost
    * them, so later near-dups of those docs were undetectable (the
    * silent leakage-safety break). Posting commits are atomic per
    * delta, so a doc's postings are always wholly present or wholly
    * absent — the doc_id anti-join is exact. left_anti never
    * duplicates left rows: no distinct on the stored side, the probe
    * stays delta-bounded. */
  private def lexicalDeltaEdges(spark: SparkSession, root: String,
                                p: Params, delta: DataFrame,
                                deltaIds: DataFrame)
      : (DataFrame, DataFrame) = {
    // delta postings (delta-sized); stored postings EXCLUDING any
    // partially-appended prior attempt for these same doc_ids (the
    // crash-replay guard — labels, the authority, were not
    // committed, so the re-run must not double-count)
    val dFps = Dedup.winnowingFingerprints(delta, p.k, p.w)
      .localCheckpoint(true)
    val unpostedFps = dFps
      .join(VersionedTable.read(spark, fpsRoot(root))
        .select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val stored = VersionedTable.read(spark, fpsRoot(root))
      .join(deltaIds, Seq("doc_id"), "left_anti")
    // only fingerprints the delta TOUCHES can create new pairs:
    // the union-postings bucket gate and the pair join are both
    // delta-bounded, never index-bounded
    val touched = dFps.select(col("fp")).distinct()
    val unionPostings = stored
      .join(touched, Seq("fp"), "left_semi")
      .select(col("fp"), col("doc_id"), lit(false).as("is_delta"))
      .unionByName(dFps
        .select(col("fp"), col("doc_id"), lit(true).as("is_delta")))
      .localCheckpoint(true)
    val kept = unionPostings.groupBy(col("fp"))
      .agg(count(lit(1)).as("__c"))
      .where(col("__c") >= 2 && col("__c") <= p.maxBucket)
      .select(col("fp"))
    val d = dFps.join(kept, Seq("fp"), "left_semi")
      .select(col("fp"), col("doc_id").as("__d"))
    val o = unionPostings.join(kept, Seq("fp"), "left_semi")
      .select(col("fp"), col("doc_id").as("__o"), col("is_delta"))
    // delta-old pairs generate once (o is old); delta-delta pairs
    // once via the < ordering — then normalize to (min, max) to
    // match the fresh build's sorted-bucket convention
    val newEdges = d.join(o, Seq("fp"))
      .where(col("__o") =!= col("__d") &&
        (!col("is_delta") || col("__d") < col("__o")))
      .select(least(col("__d"), col("__o")).as("doc_a"),
        greatest(col("__d"), col("__o")).as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .where(col("n_shared_fp") >= p.minShared)
      .localCheckpoint(true)
    (unpostedFps, newEdges)
  }

  /** Affected-neighborhood relabel + the delta-shaped label commit
    * (labels LAST — the idempotence authority). `allNew` is the full
    * candidate pair frame (doc_a, doc_b) from every generator the
    * regime runs, eagerly materialized by the caller. */
  private def relabelAffected(spark: SparkSession, root: String,
                              lab: DataFrame, deltaIds: DataFrame,
                              allNew: DataFrame,
                              compactLabelsAboveFiles: Int): Long = {
    // affected neighborhood: every component a new edge touches,
    // rebuilt from (new edges ∪ stored membership edges); members
    // is affected-component-sized, never corpus-sized
    val endpoints = allNew.select(col("doc_a").as("doc_id"))
      .unionByName(allNew.select(col("doc_b").as("doc_id")))
      .distinct()
    val affectedReps = lab
      .join(endpoints, Seq("doc_id"), "left_semi")
      .select(col("rep")).distinct()
    val members = lab
      .join(affectedReps, Seq("rep"), "left_semi")
      .select(col("doc_id"), col("rep"))
      .localCheckpoint(true)
    val ccEdges = allNew.select(col("doc_a"), col("doc_b"))
      .unionByName(members
        .select(col("doc_id").as("doc_a"), col("rep").as("doc_b")))
    val comps = Components.connectedComponents(ccEdges,
      "doc_a", "doc_b")
    val recomputed = deltaIds
      .unionByName(members.select(col("doc_id")))
      .distinct()
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("rep"))
      .localCheckpoint(true)
    // the label commit is DELTA-SHAPED: only the recomputed
    // (affected) rows append as an overlay; the untouched rest of
    // the label table is carried by the manifest, not rewritten —
    // write bytes scale with |affected|, never |corpus|
    val lv = VersionedTable.versions(spark, labelsRoot(root)).last + 1
    val v = VersionedStats.commitWithRowStat(
      recomputed.select(col("doc_id"), col("rep"),
        lit(lv).as("lv"), lit(false).as("is_base")),
      labelsRoot(root), append = true)
    // fold overlay debt back into a base snapshot once EITHER budget
    // is spent — compactLabelsAboveFiles appended files (many small
    // ingests: manifest growth is the debt) or overlay rows passing
    // half the base row count (few LARGE deltas: a file-count-only
    // policy would let overlay rows outgrow the base before 16 files
    // accrue, and the read path's supersede set stops being the small
    // side of the anti-join). Both signals are metadata-only (manifest
    // size + the rows sidecar vs the marker's base row count); the
    // fold is one corpus-sized write AMORTIZED over the budget.
    if (compactLabelsAboveFiles > 0) {
      val (_, baseFiles, baseRows) = baseMarker(spark, root)
      val files = VersionedTable.fileCount(spark, labelsRoot(root))
      val totalRows = VersionedStats
        .statsFor(spark, labelsRoot(root)).map(_._1).getOrElse(0L)
      if (files - baseFiles > compactLabelsAboveFiles ||
          (baseRows > 0L && totalRows - baseRows > baseRows / 2))
        commitLabelsBase(labels(spark, root).localCheckpoint(true),
          root)
      else v
    } else v
  }

  // ---- the SEMANTIC regime ------------------------------------------
  // Components over the UNION of both pair generators — winnowing
  // (lexical) edges plus multi-probe LSH cosine near-dup edges — so a
  // cluster that is lexically distinct but semantically duplicated
  // (paraphrases) still lands wholly on one split side. Two more
  // versioned tables under the root:
  //  - `sigs/` — per-table signature postings (tbl, bucket, vec_id,
  //    embedding, n2) under the FROZEN hyperplanes: the state
  //    ingestSemantic probes to find delta↔corpus cosine pairs without
  //    rescanning the embedding table (the embedding rides along
  //    because the exact-cosine filter needs both endpoints' vectors).
  //  - `semedges/` — the committed semantic pair frame (doc_a, doc_b),
  //    kept separate from the lexical edges so the witness's UNION-ALL
  //    multiplicity (a pair found by BOTH generators counts twice,
  //    exactly as in the fresh query) survives persistence.
  // The LSH sizing (planes/probes/tables) freezes at createSemantic
  // from the build-time corpus count — the semantic analog of the
  // lexical maxBucket contract: a fresh rebuild on a corpus that has
  // grown past the next planes boundary (n > targetBucket·2^planes)
  // would hash with MORE planes and find a (higher-precision) subset
  // of the frozen rule's pairs, so ingest is exact below that boundary
  // and monotone (never drops a found edge) beyond it — the side a
  // leakage-safe split must err on.

  private def sigsRoot(root: String) = new Path(root, "sigs").toString
  private def semEdgesRoot(root: String) =
    new Path(root, "semedges").toString

  /** Frozen semantic pair-generation parameters (multi-probe LSH). */
  case class SemParams(threshold: Double, planes: Int, probes: Int,
                       tables: Int, seed: Long, dim: Int)

  private val SemModelSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("k", IntegerType, nullable = false),
      StructField("w", IntegerType, nullable = false),
      StructField("min_shared", LongType, nullable = false),
      StructField("max_bucket", IntegerType, nullable = false),
      StructField("sem_threshold", DoubleType, nullable = false),
      StructField("sem_planes", IntegerType, nullable = false),
      StructField("sem_probes", IntegerType, nullable = false),
      StructField("sem_tables", IntegerType, nullable = false),
      StructField("sem_seed", LongType, nullable = false),
      StructField("sem_dim", IntegerType, nullable = false)))
  }

  private def isSemanticRoot(spark: SparkSession, root: String): Boolean =
    spark.read.parquet(modelPath(root).toString)
      .columns.contains("sem_planes")

  def readSemModel(spark: SparkSession,
                   root: String): (Params, SemParams) = {
    val df = spark.read.parquet(modelPath(root).toString)
    require(df.columns.contains("sem_planes"),
      s"SplitIndex at $root is a lexical-regime root (no sem_* model " +
        "columns) — use readModel/ingest")
    val r = df.select(col("k"), col("w"), col("min_shared"),
        col("max_bucket"), col("sem_threshold"), col("sem_planes"),
        col("sem_probes"), col("sem_tables"), col("sem_seed"),
        col("sem_dim"))
      .collect().headOption
      .getOrElse(sys.error(s"SplitIndex model at $root is empty"))
    (Params(r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3)),
      SemParams(r.getDouble(4), r.getInt(5), r.getInt(6), r.getInt(7),
        r.getLong(8), r.getInt(9)))
  }

  /** Per-table signature postings (tbl, bucket, vec_id, embedding, n2)
    * under the frozen planes — the exact signatures
    * [[Similarity.multiProbePairs]] computes, persisted. */
  private def signatures(emb: DataFrame, sp: SemParams): DataFrame =
    (0 until sp.tables).map { t =>
      val pl = Similarity.hyperplanes(sp.planes, sp.dim, sp.seed + t)
      emb.select(lit(t).as("tbl"),
        Similarity.bucketId(col("embedding"), pl).as("bucket"),
        col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions
          .dotNative(col("embedding"), col("embedding")).as("n2"))
    }.reduce(_ unionByName _)

  /** ALL committed near-dup pairs (doc_a, doc_b) with generator
    * multiplicity — lexical edges UNION ALL semantic edges, mirroring
    * the fresh semantic query's union of both generators (a pair found
    * by both counts twice in the witness, exactly as fresh). */
  def unionEdges(spark: SparkSession, root: String): DataFrame =
    edges(spark, root).select(col("doc_a"), col("doc_b"))
      .unionByName(VersionedTable.read(spark, semEdgesRoot(root))
        .select(col("doc_a"), col("doc_b")))

  /** Build-if-missing, SEMANTIC regime: one winnowing pass over the
    * corpus text plus one multi-probe LSH pass over the embeddings
    * (vec_id ≡ doc_id for docs carrying an embedding), components over
    * the union, labels for EVERY doc. The LSH sizing freezes from the
    * build-time embedding count; crash recovery re-reads the frozen
    * model and never re-derives it from today's corpus. */
  def createSemantic(docs: DataFrame, emb: DataFrame, root: String,
                     k: Int = 5, w: Int = 4, minShared: Long = 10,
                     maxBucket: Int = 1000, threshold: Double = 0.4,
                     targetBucket: Int = 512, semSeed: Long = 42L,
                     dim: Int = 64): Unit =
    graft.sources.KeyedLocks.withLock(root) {
      val spark = docs.sparkSession
      val mp = modelPath(root)
      val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(mp) &&
          VersionedTable.versions(spark, labelsRoot(root)).nonEmpty) {
        // already built
      } else {
        val (p, sp) =
          if (fs.exists(mp)) readSemModel(spark, root) // crash recovery
          else {
            val n = math.max(1L, emb.count())
            val (planes, tables) =
              Similarity.lshAdaptiveParams(n, threshold, targetBucket)
            (Params(k, w, minShared, maxBucket),
              // all P+1 masks — the cosineNearDupPairsMultiProbe rule
              SemParams(threshold, planes, planes + 1, tables, semSeed,
                dim))
          }
        val fps = Dedup.winnowingFingerprints(docs, p.k, p.w)
          .localCheckpoint(true)
        val lexPairs = Dedup.winnowingPairsFromFps(fps, p.minShared,
          p.maxBucket).localCheckpoint(true)
        val sigs = signatures(emb, sp).localCheckpoint(true)
        val semPairs = Similarity.multiProbePairs(emb, sp.threshold,
            sp.planes, sp.probes, sp.tables, sp.seed, sp.dim)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
          .localCheckpoint(true)
        val unionPairs = lexPairs.select(col("doc_a"), col("doc_b"))
          .unionByName(semPairs)
        val comps = Components.connectedComponents(unionPairs,
          "doc_a", "doc_b")
        val labels0 = docs.select(col("doc_id"))
          .join(comps, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("rep"))
        if (!fs.exists(mp))
          spark.createDataFrame(
              java.util.Arrays.asList(
                org.apache.spark.sql.Row(p.k, p.w, p.minShared,
                  p.maxBucket, sp.threshold, sp.planes, sp.probes,
                  sp.tables, sp.seed, sp.dim)), SemModelSchema)
            .coalesce(1).write.mode("errorifexists").parquet(mp.toString)
        if (VersionedTable.versions(spark, fpsRoot(root)).isEmpty)
          VersionedStats.commitWithRowStat(fps, fpsRoot(root))
        if (VersionedTable.versions(spark, edgesRoot(root)).isEmpty)
          VersionedTable.commit(lexPairs, edgesRoot(root))
        if (VersionedTable.versions(spark, sigsRoot(root)).isEmpty)
          VersionedStats.commitWithRowStat(sigs, sigsRoot(root))
        if (VersionedTable.versions(spark, semEdgesRoot(root)).isEmpty)
          VersionedTable.commit(semPairs, semEdgesRoot(root))
        if (VersionedTable.versions(spark, labelsRoot(root)).isEmpty)
          commitLabelsBase(labels0, root)
      }
    }

  /** Absorb a delta into a SEMANTIC-regime index: the lexical branch
    * probes the stored fingerprint postings ([[lexicalDeltaEdges]]);
    * the semantic branch hashes the delta embeddings under the FROZEN
    * planes and joins the stored signature postings — a pair is
    * generated whenever two signatures differ in at most one probed
    * bit (the same catch rule as the fresh generator, which is
    * symmetric in the pair, so probing from the delta side alone finds
    * every delta↔corpus and delta↔delta pair), then the exact rounded
    * cosine filters at the frozen threshold. Neither corpus table is
    * rescanned; the stored-side join is bounded by the delta's probed
    * bucket set. Components re-run over the affected neighborhood of
    * the UNION of both new-edge frames; label commit is the shared
    * delta-shaped overlay. Commit order: fps, sigs, lex edges, sem
    * edges (each replay-guarded), labels LAST. */
  def ingestSemantic(root: String, delta: DataFrame,
                     deltaEmb: DataFrame,
                     compactLabelsAboveFiles: Int = 16): Long =
    graft.sources.KeyedLocks.withLock(root) {
      val spark = delta.sparkSession
      val (p, sp) = readSemModel(spark, root)
      val lab = labels(spark, root)
      val deltaIds = delta.select(col("doc_id")).localCheckpoint(true)
      val freshCount = deltaIds
        .join(lab.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .limit(1).count()
      if (freshCount == 0L)
        VersionedTable.versions(spark, labelsRoot(root)).last
      else {
        val (unpostedFps, newLexEdges) =
          lexicalDeltaEdges(spark, root, p, delta, deltaIds)
        // semantic branch: delta signatures under the frozen planes;
        // stored postings EXCLUDE any partially-appended prior attempt
        // for these vec_ids (crash replay — same discipline as fps)
        val dSigs = signatures(deltaEmb, sp).localCheckpoint(true)
        val deltaVecIds = deltaEmb.select(col("vec_id"))
          .localCheckpoint(true)
        val storedSigs = VersionedTable.read(spark, sigsRoot(root))
          .join(deltaVecIds, Seq("vec_id"), "left_anti")
        val unpostedSigs = dSigs
          .join(VersionedTable.read(spark, sigsRoot(root))
            .select(col("vec_id")), Seq("vec_id"), "left_anti")
          .localCheckpoint(true)
        // probe side: each delta vector visits its own bucket plus the
        // probes−1 Hamming-1 neighbors (explode_outer + isNotNull: the
        // computed-array explode trap — see multiProbePairs)
        val masks = lit(0L) +:
          (0 until sp.probes - 1).map(i => lit(1L << i))
        val dProbe = dSigs
          .withColumn("bucket", explode_outer(
            array(masks.map(m => col("bucket").bitwiseXOR(m)): _*)))
          .where(col("bucket").isNotNull)
          .select(col("tbl"), col("bucket"),
            col("vec_id").as("vec_b"), col("embedding").as("vb"),
            col("n2").as("n2b"))
        // only buckets the delta probes can hold a new pair: the
        // stored side is semi-joined down to them BEFORE the pair
        // join, so the join is delta-bounded, never index-bounded
        val aSide = storedSigs
          .join(dProbe.select(col("tbl"), col("bucket")).distinct(),
            Seq("tbl", "bucket"), "left_semi")
          .unionByName(dSigs)
          .select(col("tbl"), col("bucket"),
            col("vec_id").as("vec_a"), col("embedding").as("va"),
            col("n2").as("n2a"))
        val semCand = aSide.join(dProbe, Seq("tbl", "bucket"))
          .where(col("vec_a") =!= col("vec_b"))
          .select(least(col("vec_a"), col("vec_b")).as("doc_a"),
            greatest(col("vec_a"), col("vec_b")).as("doc_b"),
            Similarity.cosSim(col("va"), col("vb"), col("n2a"), col("n2b"))
              .as("cos_sim"))
          .where(col("cos_sim") >= sp.threshold)
          .select(col("doc_a"), col("doc_b")).distinct()
          .localCheckpoint(true)
        // commits: postings and edges first (each replay-guarded),
        // labels LAST — the shared order discipline
        if (unpostedFps.limit(1).count() > 0L)
          VersionedStats.commitWithRowStat(unpostedFps, fpsRoot(root),
            append = true)
        if (unpostedSigs.limit(1).count() > 0L)
          VersionedStats.commitWithRowStat(unpostedSigs, sigsRoot(root),
            append = true)
        val storedEdges = VersionedTable.read(spark, edgesRoot(root))
        VersionedTable.commit(
          newLexEdges.join(
            storedEdges.select(col("doc_a"), col("doc_b")),
            Seq("doc_a", "doc_b"), "left_anti"),
          edgesRoot(root), append = true)
        val storedSem = VersionedTable.read(spark, semEdgesRoot(root))
        VersionedTable.commit(
          semCand.join(storedSem.select(col("doc_a"), col("doc_b")),
            Seq("doc_a", "doc_b"), "left_anti"),
          semEdgesRoot(root), append = true)
        relabelAffected(spark, root, lab, deltaIds,
          newLexEdges.select(col("doc_a"), col("doc_b"))
            .unionByName(semCand),
          compactLabelsAboveFiles)
      }
    }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** The near-dup index as a MAINTAINED ASSET: at 100 TB the corpus's
  * dedup signatures (content fingerprints, span hashes) are
  * not recomputed per ingest — they persist as a
  * [[graft.sources.VersionedTable]], each daily batch is matched
  * against the index READ (signature-sized, never corpus-text-sized),
  * and the batch's own signatures append as the next index version.
  * The corpus text is scanned exactly once ever (at index build); every
  * later ingest touches only signatures.
  *
  * Two index families, matching the two dedup regimes:
  *  - [[fingerprintIndex]]: the distinct canonical-content md5 set —
  *    exact dedup ([[TextAnalysis.fingerprint]] semantics, so reports
  *    computed against the index are bit-identical to the
  *    recompute-the-corpus path in
  *    [[TextAnalysis.incrementalDedupReport]]).
  *  - [[spanIndex]]: the distinct k-gram hashes — substring
  *    ([[SpanDedup]]) contamination, batch-vs-index.
  */
object DedupIndex {

  /** Exact-content index: the corpus's distinct fingerprint set (column
    * `fp`). 32-byte keys — the 100 TB corpus reduces to a
    * fingerprint-cardinality table, persisted bucketed on `fp`. */
  def fingerprintIndex(corpus: DataFrame): DataFrame =
    corpus.select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()

  /** Read the latest committed index version, or build it from the
    * corpus and commit v1 if the table is empty — the only path that
    * ever scans corpus text, paid once per corpus. `statsKeys` non-empty
    * commits through [[graft.sources.VersionedStats.commitWithStats]]
    * so the index carries its catalog stats (row count + key sketches)
    * from birth — the stat the span probes' prune gate reads. */
  def readOrBuild(spark: SparkSession, root: String,
                  build: => DataFrame,
                  statsKeys: Seq[String] = Nil): DataFrame = {
    // In-JVM: same-root builders serialize (first builds, rest read) —
    // a shared session's concurrent queries otherwise race the
    // check-then-commit and the loser throws instead of reading the
    // winner. Cross-process: the commit's create-no-overwrite manifest
    // stays the arbiter — a lost race here means another PROCESS
    // committed first, so fall through to reading its version.
    graft.sources.KeyedLocks.withLock(root) {
      if (VersionedTable.versions(spark, root).isEmpty)
        try {
          if (statsKeys.isEmpty) VersionedTable.commit(build, root)
          else graft.sources.VersionedStats.commitWithStats(build, root,
            statsKeys)
        } catch {
          case e: IllegalStateException =>
            if (VersionedTable.versions(spark, root).isEmpty) throw e
        }
    }
    VersionedTable.read(spark, root)
  }

  /** [[TextAnalysis.incrementalDedupReport]] with the corpus leg
    * replaced by the PERSISTED fingerprint index: same per-group
    * (n_batch, n_new) report, same oracle, but the only corpus-sized
    * input is the 32-byte-key index read — corpus text is not
    * rescanned (IncrementalIndexSpec pins the plan). */
  def incrementalNewDocs(index: DataFrame, batch: DataFrame,
                         groupCols: Seq[String]): DataFrame = {
    val seen = index.select(col("fp")).distinct()
      .withColumn("__seen", lit(1))
    batch.withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .join(seen, Seq("fp"), "left")
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_batch"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_new"))
      .orderBy(groupCols.map(col): _*)
  }

  /** Span-level (substring) index — the second index family, for the
    * [[SpanDedup]] granularity: the corpus's DISTINCT k-gram hashes
    * (column `sh`, md5). This is the exact form of the n-gram
    * decontamination index production pipelines keep for eval-set
    * leakage checks; it is corpus-token-sized (the honest cost of exact
    * substring matching — a Bloom filter over the same keys is the
    * lossy shrink, at the price of false "seen" verdicts, and would
    * slot in here unchanged). Hashes, not span text: the index never
    * stores corpus content, only 32-hex-char keys. */
  def spanIndex(corpus: DataFrame, k: Int): DataFrame =
    SpanDedup.spanRows(corpus, k).select(md5(col("span")).as("sh"))
      .distinct()

  /** The batch side of a span probe: (doc_id, pos, sh) — positional
    * k-gram hashes, span text already dropped (probes key on the hash;
    * carrying the k-token string through the exchange would multiply
    * its bytes by k for nothing). */
  def spanHashFrame(batch: DataFrame, k: Int): DataFrame =
    SpanDedup.spanRows(batch, k)
      .select(col("doc_id"), col("pos"), md5(col("span")).as("sh"))

  /** The batch's span COUNT, without materializing the span frame: one
    * tokenize pass, no posexplode, no k-gram strings — sum over docs of
    * max(0, n_tokens - k + 1). This is the prune gate's batch-side
    * input; it costs a fraction of the probe's own batch pass. */
  def spanCount(batch: DataFrame, k: Int): Long =
    batch.select(sum(greatest(
        size(TextAnalysis.tokens(col("text"))) - (k - 1), lit(0))
      .cast("long")).as("n")).head().getLong(0)

  /** Engage the bloom prune only when the index outweighs the batch by
    * this factor: below it the full index exchange is cheaper than the
    * prune's constant (an extra batch-side pass for the bloom build),
    * and the r13 shape paid that constant UNCONDITIONALLY — measured
    * 0.88 → 2.61 s on `span_cut_indexed` at sf0.1 where index ≈ 3× the
    * batch, and static-index streaming lane p50 3.7 → 5.3 s with no
    * growth term to win back. At ≥ 4× the index-side exchange saved
    * dominates the batch-side pass paid. */
  private val PruneIndexToBatchRatio = 4L

  /** Floor for the prune bloom's sizing: below this the bloom is a few
    * KB either way and a tighter fit buys nothing. */
  private val MinBloomItems = 1024L

  /** The index side of a per-batch span probe — the r13 bloom prune,
    * now GATED on catalog stats (r14). The prune itself: the probe
    * joins (`left_semi`/`left`/`left_anti`, batch on the left) plan as
    * sort-merge, so the INDEX side — the side that grows with the
    * corpus — is otherwise scanned AND shuffled in full on every
    * trigger (BENCH_MIXED r12: trigger p50 2.8 → 7.0 s as the index
    * grew). A bloom of the batch's span hashes (runtime-filter shape,
    * [[graft.operators.BloomJoin]]) prunes the index scan BEFORE its
    * exchange: index rows outside the bloom match no batch span (no
    * false negatives), so every probe's result is bit-identical, while
    * the index-side exchange carries ≈ true hits + fpp·|index| rows and
    * AQE collapses the join to a broadcast of those survivors.
    *
    * The gate (r14): the prune's constant — one extra batch-side span
    * pass for the bloom build — is paid only when `indexRows` (the
    * stats-sidecar catalog stat, [[graft.sources.VersionedStats]]) is
    * at least [[PruneIndexToBatchRatio]] × the batch's span count;
    * below that, or when no catalog stat exists (`indexRows` None — an
    * ad-hoc frame that never came from a versioned root), the probe
    * keeps the plain shape. The bloom is sized to the MEASURED batch
    * span count (`spanRows`), not a fixed capacity — the r13 fixed 4M
    * sizing silently degraded toward a full index pass when a batch
    * overran it, and over-reserved 4 MB of bits under it. Every path
    * is bit-identical; the gate chooses plans, never answers. */
  private def gatedSeen(index: DataFrame, batchSpans: DataFrame,
                        indexRows: Option[Long],
                        spanRows: => Long): DataFrame =
    indexRows match {
      case Some(n) =>
        val b = spanRows
        if (n >= PruneIndexToBatchRatio * math.max(b, 1L))
          graft.operators.BloomJoin.prune(
            index.select(col("sh")), col("sh"),
            graft.operators.BloomJoin.bloomBuild(
              batchSpans.select(col("sh")), col("sh"),
              expectedItems = math.max(b, MinBloomItems), fpp = 0.02))
        else index.select(col("sh"))
      case None => index.select(col("sh"))
    }

  /** Per-batch-doc span contamination against the PERSISTED index: how
    * many of each doc's k-gram spans already exist anywhere in the
    * corpus. The batch side is batch-sized, the index side is a
    * hash-key semi-join probe — corpus text is never rescanned
    * (IncrementalIndexSpec pins the plan). The seen_ratio is the
    * span-granular analog of [[Dedup.contaminationPairs]]' shingle
    * overlap, usable directly as an eval-decontamination gate. */
  def spanContamination(index: DataFrame, batch: DataFrame, k: Int,
                        indexRows: Option[Long] = None): DataFrame = {
    val batchSpans = spanHashFrame(batch, k)
    // distinct AFTER the prune: it exists only as left-join
    // row-duplication safety against a malformed index, and on the
    // pruned survivors it is candidate-sized, not index-sized
    val seen = gatedSeen(index, batchSpans, indexRows, spanCount(batch, k))
      .distinct()
      .withColumn("__seen", lit(1))
    batchSpans
      .join(seen, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__seen").isNotNull, 1L).otherwise(0L)).as("n_seen"))
      .withColumn("seen_ratio", round(col("n_seen").cast("double")
        / col("n_spans").cast("double"), 6))
      .orderBy(col("doc_id"))
  }

  /** [[spanContamination]] probed through a BLOOM FILTER of the index
    * keys instead of the key set itself — the lossy shrink the span
    * index's own doc points at: the corpus-token-sized hash table
    * compresses to `-n·ln(fpp)/ln²2` bits (a few GB per trillion spans
    * at 3 %), broadcast once, at the price of false "seen" verdicts.
    * The asymmetry is exactly right for a decontamination GATE: no
    * false negatives ever (a contaminated span can never slip through),
    * so per doc `n_seen` is an over-count within fpp of the clean-span
    * count and `seen_ratio` is a sound UPPER bound — a doc passing the
    * bloom gate passes the exact gate. Same report shape as the exact
    * twin; `expectedItems` is the indexed-key cardinality (a stored
    * stat at scale — the index's row count). */
  def spanContaminationBloom(index: DataFrame, batch: DataFrame, k: Int,
                             expectedItems: Long,
                             fpp: Double = 0.03): DataFrame = {
    val bloom = graft.operators.BloomJoin.bloomBuild(
      index.select(col("sh")), col("sh"), expectedItems, fpp)
    SpanDedup.spanRows(batch, k)
      .withColumn("sh", md5(col("span")))
      .withColumn("__seen",
        graft.operators.BloomJoin.mightContain(col("sh"), bloom))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__seen"), 1L).otherwise(0L)).as("n_seen"))
      .withColumn("seen_ratio", round(col("n_seen").cast("double")
        / col("n_spans").cast("double"), 6))
      .orderBy(col("doc_id"))
  }

  /** Append a batch's not-yet-indexed span hashes as the next version;
    * re-ingesting the same batch appends nothing (the index absorbs
    * each batch exactly once). The commit maintains the index's stats
    * sidecar (row count + `sh` sketch, delta-only on append) — the
    * catalog stat the probes' prune gate reads, so the gate costs zero
    * scans at probe time. Returns the committed version. */
  def ingestSpans(root: String, batch: DataFrame, k: Int): Long =
    ingestSpansOn(root, batch.sparkSession, spanHashFrame(batch, k),
      () => spanCount(batch, k))

  /** [[ingestSpans]] on an already-built raw span-hash frame (any frame
    * with an `sh` column) — the streaming loop computes the batch's
    * span frame ONCE per trigger (persisted) and shares it between the
    * cut report and this ingest, so the tokenize+explode pass runs once
    * per trigger instead of once per probe. `spanRows` is called only
    * when the gate has a catalog stat to compare against (a cached
    * caller's count() is free by then). */
  private[graft] def ingestSpansOn(root: String, spark: SparkSession,
                                   batchSpans: DataFrame,
                                   spanRows: () => Long): Long = {
    val index = VersionedTable.read(spark, root)
    val indexRows = graft.sources.VersionedStats.statsFor(spark, root)
      .map(_._1)
    // anti-probe through the same gated index side as the screen
    // ([[gatedSeen]]): index rows outside the batch bloom eliminate
    // nothing, so the anti result is unchanged while the per-trigger
    // index exchange stays batch-sized once the index outgrows batches
    val fresh = batchSpans.select(col("sh")).distinct().join(
      gatedSeen(index, batchSpans, indexRows, spanRows()),
      Seq("sh"), "left_anti")
    // rows-only sidecar: the gate consumes the row count and nothing
    // estimates joins on md5 keys — the AGMS pass would be a pure
    // per-trigger constant
    graft.sources.VersionedStats.commitWithRowStat(fresh, root,
      append = true)
  }

  /** Ensure the latest version of a span-index root carries registered
    * per-file key ranges for the file-skip read path. The full
    * range-clustering rewrite ([[graft.sources.Compaction
    * .compactVersioned]] with the `sh` range stat) runs at most ONCE
    * per root — when no committed version has ever carried ranges.
    * After that, an append that leaves the latest version sidecar-less
    * gets its ranges REGISTERED (one aggregate pass over the version,
    * [[graft.sources.VersionedStats.writeFileRanges]]) rather than
    * re-clustered: the base files keep their disjoint compacted ranges,
    * the appended delta files get their own (possibly wide) ranges, and
    * the no-false-skip contract holds either way — pruning quality on
    * the bulk is preserved without paying an O(index) rewrite per
    * append. Idempotent across runs; same-root callers serialize
    * in-JVM. */
  def ensureFileRanges(spark: SparkSession, root: String,
                       targetRowsPerFile: Long = 4096): Unit =
    graft.sources.KeyedLocks.withLock(root) {
      if (graft.sources.VersionedStats.fileRangesFor(spark, root).nonEmpty) {
        // latest already registered — metadata-only no-op
      } else {
        val everRanged = VersionedTable.versions(spark, root)
          .exists(v => graft.sources.VersionedStats
            .fileRangesFor(spark, root, Some(v)).nonEmpty)
        if (everRanged) {
          VersionedTable.versions(spark, root).lastOption.foreach(v =>
            graft.sources.VersionedStats.writeFileRanges(spark, root, v,
              "sh"))
        } else
          graft.sources.Compaction.compactVersioned(spark, root,
            Seq(col("sh")), targetRowsPerFile, rangeStatCol = Some("sh"))
      }
    }

  /** Driver-collected probe-key budget for the file-skip read path. */
  val ProbeLookupMaxKeys = 4096

  /** FILE-level pruned read of a span index for a SMALL key set: load
    * only the manifest files whose registered [min, max] `sh` range
    * ([[graft.sources.VersionedStats.writeFileRanges]]) contains at
    * least one probe key. No false skips — a key present in the table
    * lies inside its file's range by definition — so membership
    * verdicts off the pruned frame are exact. Files without a
    * registered range are always read (unknown range never skips).
    * Returns (frame, files read, files total).
    *
    * Scale regime, stated honestly: md5 keys are uniform, so a probe
    * of B keys against F range-clustered files expects ~F·(1−(1−1/F)^B)
    * files hit — the skip wins when B is small relative to F (the
    * eval-suite / sentence-lookup shape: dozens of spans against a
    * corpus-sized index), and degrades gracefully to a full read for
    * batch-sized probes, where the bloom-pruned exchange
    * ([[gatedSeen]]) is the operative defense. */
  def prunedSpanIndexRead(spark: SparkSession, root: String,
                          keys: Seq[String],
                          version: Option[Long] = None)
      : (DataFrame, Int, Int) = {
    require(keys.size <= ProbeLookupMaxKeys,
      s"file-skip probe collects keys to the driver: ${keys.size} > " +
        s"$ProbeLookupMaxKeys — use spanContamination for batch probes")
    val vs = VersionedTable.versions(spark, root)
    require(vs.nonEmpty, s"no committed versions under $root")
    val v = version.getOrElse(vs.last)
    val all = VersionedTable.manifestFiles(spark, root, v)
    val ranges = graft.sources.VersionedStats.fileRangesFor(spark, root,
      Some(v))
    val keep = ranges match {
      case None => all
      case Some(r) => all.filter { f =>
        r.get(f) match {
          case Some((lo, hi)) => keys.exists(k => k >= lo && k <= hi)
          case None => true
        }
      }
    }
    val df =
      if (keep.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("sh",
              org.apache.spark.sql.types.StringType))))
      else spark.read.parquet(keep: _*)
    (df.select(col("sh")), keep.size, all.size)
  }

  /** Span membership lookup through the file-skip path: for each probe
    * row (probe_id, span), is the span's k-gram hash anywhere in the
    * persisted index? The eval-decontamination question at its smallest
    * grain ("is this exact sentence in the corpus"), answered by
    * reading only the files whose key range can contain a probe.
    * Probes are collected (small by contract — [[ProbeLookupMaxKeys]]).
    * Output: (probe_id, seen, files_pruned), probe_id ascending; also
    * returns (files read, files total) for callers that assert the
    * skip. */
  def spanProbeLookup(spark: SparkSession, root: String,
                      probes: DataFrame): (DataFrame, Int, Int) = {
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val rows = probes.select(col("probe_id"), col("span")).collect()
    require(rows.length <= ProbeLookupMaxKeys,
      s"${rows.length} probes exceed the lookup budget $ProbeLookupMaxKeys")
    val keyed = rows.map(r => (r.getLong(0), md5hex(r.getString(1))))
    val (idx, read, total) = prunedSpanIndexRead(spark, root,
      keyed.map(_._2).distinct.toSeq)
    import spark.implicits._
    val keysDf = keyed.toSeq.toDF("probe_id", "sh")
    val hits = idx
      .join(broadcast(keysDf.select(col("sh")).distinct()),
        Seq("sh"), "left_semi")
      .distinct().withColumn("__seen", lit(1))
    val out = keysDf.join(hits, Seq("sh"), "left")
      .select(col("probe_id"), col("__seen").isNotNull.as("seen"),
        lit(read < total).as("files_pruned"))
      .orderBy(col("probe_id"))
    (out, read, total)
  }

  /** The production shape of substring dedup at 100 TB: cut an incoming
    * batch against the PERSISTED span index — every batch token run
    * already present anywhere in the corpus is removed, the corpus is
    * never rescanned, and ownership needs no arbitration (the corpus,
    * being first, owns everything it contains). This is
    * [[SpanDedup.cutDuplicatedSpans]] with "seen in index" replacing
    * "non-owner occurrence": batch spans hash-probe the index, hits
    * merge into gaps-and-islands intervals per doc, and the rebuild is
    * the same indexed-filter token drop. Output mirrors
    * `cutDuplicatedSpans`: (doc_id, n_before, n_after, clean_md5) for
    * every batch doc. Run [[ingestSpans]] AFTER cutting so the next
    * batch also dedups against what this one contributed. */
  def cutSeenSpans(index: DataFrame, batch: DataFrame, k: Int,
                   indexRows: Option[Long] = None): DataFrame =
    cutSeenSpansOn(index, batch, spanHashFrame(batch, k), k, indexRows,
      () => spanCount(batch, k))

  /** [[cutSeenSpans]] on an already-built raw span-hash frame — the
    * shared-frame entry the streaming loop uses (one persisted span
    * frame per trigger feeds both this report and [[ingestSpansOn]]). */
  private[graft] def cutSeenSpansOn(index: DataFrame, batch: DataFrame,
                                    batchSpans: DataFrame, k: Int,
                                    indexRows: Option[Long],
                                    spanRows: () => Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NO distinct on the index side: a LEFT SEMI join never duplicates
    // its left rows, so deduplicating the (already-distinct-by-
    // construction — spanIndex/ingestSpans both dedup) index here only
    // added a full index-sized aggregation to EVERY streaming trigger —
    // the soak lane measured the per-trigger time climbing with index
    // growth from exactly this kind of avoidable O(index) pass. The
    // index side is gated-bloom-pruned by the batch's own span hashes
    // ([[gatedSeen]]) so the per-trigger exchange stops growing with
    // the corpus once the index outweighs the batch.
    val hits = batchSpans
      .join(gatedSeen(index, batchSpans, indexRows, spanRows()),
        Seq("sh"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + (k - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val ivs = hits
      .withColumn("flag",
        when(col("pos") > coalesce(prevEnd, lit(-1L)), 1L).otherwise(0L))
      .withColumn("island", sum(col("flag")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (k - 1)).as("e"))
      .groupBy(col("doc_id"))
      // bounded buffer: one interval per cut island, at most n_tokens/k
      // per doc — the same per-row bound as the doc's own token array
      .agg(collect_list(struct(col("s"), col("e"))).as("ivs"))
    batch
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
}

package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ext.SplitIndex
import graft.sources.{MetaFile, VersionedTable}

/** Streaming maintenance of the persisted SPLIT-LABELS index — the
  * sixth index family's per-trigger loop, completing the family
  * symmetry (span → [[StreamingDecontamination]], PQ →
  * [[StreamingSemanticDecontamination]], lexical →
  * [[StreamingLexicalScreen]], kNN graph → [[StreamingKnnGraph]]).
  * A continuous stream of (doc_id, text) rows is absorbed into the
  * split assignment: per trigger [[SplitIndex.ingest]] probes the
  * STORED fingerprint postings for every delta↔corpus and delta↔delta
  * near-dup pair (corpus text never rescanned) and re-labels only the
  * affected components; then the batch's assignments — (doc_id, rep,
  * split), read off the post-ingest labels — append to an audit/report
  * table, so downstream training jobs learn each arriving document's
  * side the moment it lands. A stream additionally carrying an
  * `embedding` column maintains a SEMANTIC-regime index instead
  * ([[SplitIndex.ingestSemantic]] — both posting families probed, so
  * paraphrase arrivals with no shared text still inherit their
  * cluster's side); the batch shape declares the regime and a
  * mismatch with the root's frozen model fails loudly.
  *
  * This is the production split discipline at streaming grain: a
  * document that near-duplicates anything already assigned INHERITS
  * that cluster's side (the component representative is stable under
  * growth unless a smaller doc_id joins the cluster — in which case
  * the whole cluster moves TOGETHER, preserving the zero-cross-pair
  * invariant by construction).
  *
  * Bootstrap contract: [[SplitIndex.create]] must have run on the seed
  * corpus before the stream starts. The batch fails fast otherwise.
  *
  * Replay posture: [[SplitIndex.ingest]] is idempotent on its own
  * (labels are the commit-last authority; re-ingesting labeled ids is
  * a no-op and every crash window converges via the per-table dedup
  * guards), so the ingest leg needs NO marker. The report leg does: a
  * marker under `root/_stream/` records the report's pre-append
  * version AND the post-ingest labels version; a replayed batch
  * recomputes its assignments against the PINNED labels version (time
  * travel — a later batch may have merged this batch's cluster under a
  * smaller representative, and the replay must reproduce what was
  * originally reported, not today's view) and re-commits only when the
  * report version still matches — the report converges to exactly one
  * row per batch doc, byte-identical across redeliveries.
  */
object StreamingSplitMaintenance {

  private def markerPath(root: String, batchId: Long) =
    new Path(new Path(root, "_stream"), s"b$batchId")

  private def markedVersions(spark: SparkSession, root: String,
                             batchId: Long): Option[(Long, Long)] =
    MetaFile.read(spark, markerPath(root, batchId)).map { s =>
      val parts = s.trim.split("\\s+")
      (parts(0).toLong, parts(1).toLong)
    }

  /** One batch through the loop — public so specs can replay a batch
    * exactly as foreachBatch would. Returns the batch's assignment
    * report (doc_id, rep, split).
    *
    * `compactAboveFiles > 0` arms the shared file-count compaction
    * policy on the POSTINGS table, clustered on `fp` — the ingest's
    * probe reads postings by fingerprint, so fp-clustered files keep
    * footer stats useful. (Labels bound their own overlay debt: the
    * ingest's merge-on-read commit carries a built-in file-count
    * compaction policy — [[SplitIndex.ingest]].) */
  def assignBatch(batch: DataFrame, batchId: Long, indexRoot: String,
                  reportRoot: String,
                  weights: Seq[(String, Int)] = Seq("train" -> 80,
                    "eval" -> 20),
                  compactAboveFiles: Int = 0,
                  compactTargetRows: Long = 4000000L): DataFrame = {
    val spark = batch.sparkSession
    require(VersionedTable.versions(spark, indexRoot + "/labels").nonEmpty,
      s"SplitIndex at $indexRoot has no committed labels — create the " +
        "index from the seed corpus before starting the stream")
    val docs = batch.select(col("doc_id"), col("text"))
    // the batch SHAPE declares the regime: a stream carrying an
    // embedding column maintains a semantic-regime index (both posting
    // families probed, vec_id ≡ doc_id — the corpus contract); a
    // text-only stream maintains the lexical regime. A mismatch with
    // the root's frozen model fails loudly inside the ingest (each
    // regime's ingest requires its own model schema) rather than
    // silently half-maintaining the asset. Both ingests are idempotent
    // by construction (labels committed last, per-table replay guards).
    if (batch.columns.contains("embedding"))
      SplitIndex.ingestSemantic(indexRoot, docs,
        batch.select(col("doc_id").as("vec_id"), col("embedding")))
    else
      SplitIndex.ingest(indexRoot, docs)
    val labelsPost0 = VersionedTable
      .versions(spark, indexRoot + "/labels").last
    val reportPre0 = VersionedTable.versions(spark, reportRoot)
      .lastOption.getOrElse(0L)
    val marked = markedVersions(spark, indexRoot, batchId)
    if (marked.isEmpty)
      MetaFile.replace(spark, markerPath(indexRoot, batchId),
        s"$reportPre0 $labelsPost0")
    val (reportPre, labelsV) = marked.getOrElse((reportPre0, labelsPost0))
    val report = graft.ext.Sampling.deterministicSplit(
        SplitIndex.labels(spark, indexRoot, Some(labelsV)),
        col("rep"), weights)
      .join(docs.select(col("doc_id")), Seq("doc_id"), "left_semi")
    if (VersionedTable.versions(spark, reportRoot)
        .lastOption.getOrElse(0L) == reportPre)
      VersionedTable.commit(report, reportRoot, append = true)
    if (compactAboveFiles > 0 &&
        VersionedTable.fileCount(spark, indexRoot + "/fps")
          > compactAboveFiles)
      graft.sources.Compaction.compactVersioned(spark,
        indexRoot + "/fps", Seq(col("fp")), compactTargetRows)
    report
  }

  /** Wire a (doc_id, text) stream into the loop. */
  def assignWriter(docs: DataFrame, indexRoot: String, reportRoot: String,
                   checkpoint: String,
                   weights: Seq[(String, Int)] = Seq("train" -> 80,
                     "eval" -> 20),
                   onBatch: (Long, Long) => Unit = (_, _) => (),
                   trigger: Trigger = Trigger.AvailableNow(),
                   compactAboveFiles: Int = 0,
                   compactTargetRows: Long = 4000000L)
      : DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // pass the embedding column through when the stream carries
          // one — the semantic-regime maintenance path
          val cols = Seq(col("doc_id"), col("text")) ++
            (if (batch.columns.contains("embedding"))
              Seq(col("embedding")) else Seq.empty)
          assignBatch(batch.select(cols: _*), batchId,
            indexRoot, reportRoot, weights, compactAboveFiles,
            compactTargetRows)
          val v = VersionedTable
            .versions(batch.sparkSession, indexRoot + "/labels")
            .lastOption.getOrElse(0L)
          onBatch(batchId, v)
        }
      }
}

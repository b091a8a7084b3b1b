package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ext.SplitIndex
import graft.sources.{Compaction, VersionedTable}

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
  * Replay: [[SplitIndex.ingest]] is idempotent on its own (labels are
  * the commit-last authority; re-ingesting labeled ids is a no-op and
  * every crash window converges via the per-table dedup guards), so the
  * ingest leg needs NO marker. The report leg does ([[BatchMarker]]
  * contract): the marker under `root/_stream/` records "<pre-append
  * report version> <post-ingest labels version>"; a replayed batch
  * recomputes its assignments against the RECORDED labels version (a
  * later batch may have merged this batch's cluster under a smaller
  * representative, and the replay must reproduce what was originally
  * reported, not today's view) and re-commits only when the report
  * version still matches — the report converges to exactly one row per
  * batch doc, byte-identical across redeliveries.
  */
object StreamingSplitMaintenance {

  private def marker(root: String) = BatchMarker(root, "_stream")

  /** One batch through the loop — public so specs can replay a batch
    * exactly as foreachBatch would. Returns the batch's assignment
    * report (doc_id, rep, split).
    *
    * `compactAboveFiles > 0` arms [[graft.sources.Compaction.compactAbove]]
    * on the POSTINGS table, clustered on `fp` — the ingest's probe reads
    * postings by fingerprint, so fp-clustered files keep footer stats
    * useful. (Labels bound their own overlay debt: the ingest's
    * merge-on-read commit carries a built-in file-count compaction
    * policy — [[SplitIndex.ingest]].) */
  def assignBatch(batch: DataFrame, batchId: Long, indexRoot: String,
                  reportRoot: String,
                  weights: Seq[(String, Int)] = Seq("train" -> 80,
                    "eval" -> 20),
                  compactAboveFiles: Int = 0): DataFrame = {
    val spark = batch.sparkSession
    require(VersionedTable.latest(spark, indexRoot + "/labels") > 0L,
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
    val (reportPre, labelsV) = marker(indexRoot).read(spark, batchId) match {
      case Some(m) => (m(0), m(1))
      case None =>
        val reportPre0 = VersionedTable.latest(spark, reportRoot)
        val labelsPost0 = VersionedTable.latest(spark, indexRoot + "/labels")
        marker(indexRoot).publish(spark, batchId, reportPre0, labelsPost0)
        (reportPre0, labelsPost0)
    }
    val report = graft.ext.Sampling.deterministicSplit(
        SplitIndex.labels(spark, indexRoot, Some(labelsV)),
        col("rep"), weights)
      .join(docs.select(col("doc_id")), Seq("doc_id"), "left_semi")
    if (VersionedTable.latest(spark, reportRoot) == reportPre)
      VersionedTable.commit(report, reportRoot, append = true)
    Compaction.compactAbove(spark, indexRoot + "/fps", Seq(col("fp")),
      compactAboveFiles)
    report
  }

  /** Wire a (doc_id, text) stream into the loop. `onBatch` gets the
    * labels version. */
  def assignWriter(docs: DataFrame, indexRoot: String, reportRoot: String,
                   checkpoint: String,
                   weights: Seq[(String, Int)] = Seq("train" -> 80,
                     "eval" -> 20),
                   onBatch: (Long, Long) => Unit = (_, _) => (),
                   trigger: Trigger = Trigger.AvailableNow(),
                   compactAboveFiles: Int = 0)
      : DataStreamWriter[Row] =
    BatchMarker.writer(docs, checkpoint, trigger, marker(indexRoot),
        onBatch) { (batch, batchId) =>
      // pass the embedding column through when the stream carries
      // one — the semantic-regime maintenance path
      val cols = Seq(col("doc_id"), col("text")) ++
        (if (batch.columns.contains("embedding"))
          Seq(col("embedding")) else Seq.empty)
      assignBatch(batch.select(cols: _*), batchId,
        indexRoot, reportRoot, weights, compactAboveFiles)
      VersionedTable.latest(batch.sparkSession, indexRoot + "/labels")
    }
}

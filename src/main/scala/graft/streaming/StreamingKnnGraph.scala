package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ext.KnnGraphIndex
import graft.sources.{Compaction, VersionedTable}

/** Streaming maintenance of the PERSISTED corpus kNN graph — the fifth
  * index family's per-trigger loop (the span index has
  * [[StreamingDecontamination]], the PQ codes
  * [[StreamingSemanticDecontamination]], the lexical index
  * [[StreamingLexicalScreen]]; the graph had a batch [[KnnGraphIndex
  * .ingest]] but no lane). A continuous stream of (vec_id, embedding)
  * rows is absorbed into the graph WITHOUT rebuilds: per trigger the
  * batch's novel vectors append to the lane-owned VERSIONED CORPUS
  * TABLE (the graph stores no raw vectors — production pairs the
  * adjacency with its vector store, and ingest needs the vectors to
  * score), then [[KnnGraphIndex.ingest]] seeds them from the frozen
  * cells and runs local descent over the affected neighborhood only.
  * Per-trigger work is batch-local: the one corpus-shaped pass is the
  * novelty anti-join against the stored vec_ids (a single-column scan,
  * the same shape [[graft.ext.DedupIndex.ingestSpansOn]] pays per
  * trigger); the graph itself is touched only where new edges land.
  *
  * Bootstrap contract: [[KnnGraphIndex.create]] must have run on the
  * seed corpus AND the same seed vectors must be committed at
  * `corpusRoot` before the stream starts — the frozen model is fit on
  * a representative corpus, not whatever rows the first trigger
  * carries. The batch fails fast if either half is missing.
  *
  * Replay ([[BatchMarker]] contract): the marker under
  * `graphRoot/_stream/` records the batch's pre-append corpus version; a
  * replayed batch whose corpus append already committed skips the
  * append, and the graph ingest is idempotent on its own (all batch
  * ids present → no-op). Each trigger advances the corpus version
  * exactly once (all-duplicate batches commit an empty append) so the
  * guard stays monotone per batch.
  *
  * The frozen model's staleness boundary ([[KnnGraphIndex
  * .stalenessRatio]]) applies per trigger: a long-running stream that
  * grows the corpus past a decade of the build count gets the loud
  * refusal, not silent recall decay — re-[[KnnGraphIndex.create]] on
  * the accumulated corpus table and resume (or pass `allowStale`).
  *
  * In-batch duplicate vec_ids are NOT deduplicated against each other
  * (same contract as the sibling lanes): feed batches through exact
  * dedup upstream if intra-batch duplication matters.
  */
object StreamingKnnGraph {

  private def marker(graphRoot: String) = BatchMarker(graphRoot, "_stream")

  /** One batch through the loop — public so specs can replay a batch
    * exactly as foreachBatch would. Returns the graph version after
    * the batch is absorbed. `compactAboveFiles > 0` arms
    * [[graft.sources.Compaction.compactAbove]] on the CORPUS table (the
    * append-per-trigger side; the graph commits full snapshots, so its
    * file count is version-shaped, not append-shaped), clustered on
    * vec_id. */
  def ingestBatch(batch: DataFrame, batchId: Long, graphRoot: String,
                  corpusRoot: String, rounds: Int = 1,
                  allowStale: Boolean = false,
                  compactAboveFiles: Int = 0): Long = {
    val spark = batch.sparkSession
    val corpusLatest = VersionedTable.latest(spark, corpusRoot)
    require(corpusLatest > 0L,
      s"corpus table at $corpusRoot has no committed version — commit " +
        "the seed corpus (the vectors the graph was created on) before " +
        "starting the stream")
    require(VersionedTable.latest(spark, graphRoot) > 0L,
      s"KnnGraphIndex at $graphRoot has no committed version — create " +
        "the index from the seed corpus before starting the stream")
    val vecs = batch.select(col("vec_id"), col("embedding"))
    val marked = marker(graphRoot).read(spark, batchId)
    val pre = marked.fold(corpusLatest)(_.head)
    if (marked.isEmpty) marker(graphRoot).publish(spark, batchId, pre)
    if (VersionedTable.latest(spark, corpusRoot) == pre) {
      // novelty filter: only vec_ids absent from the stored corpus
      // append (re-sent vectors must not duplicate corpus rows); the
      // empty-append fallback keeps versions monotone per batch
      val novel = vecs.join(
        VersionedTable.read(spark, corpusRoot).select(col("vec_id")),
        Seq("vec_id"), "left_anti")
      VersionedTable.commit(novel, corpusRoot, append = true)
    }
    // the graph ingest is idempotent by id-set: on a replay whose
    // append already landed, every batch id is in the graph → no-op
    // the batch ingested is the STORED projection of the batch ids —
    // on replay the scored vectors are bit-identical to what the
    // corpus table holds, whatever the redelivered frame carries
    val corpus = VersionedTable.read(spark, corpusRoot)
    val batchInCorpus = corpus.join(vecs.select(col("vec_id")),
      Seq("vec_id"), "left_semi")
    val version = KnnGraphIndex.ingest(graphRoot, corpus, batchInCorpus,
      rounds, allowStale)
    Compaction.compactAbove(spark, corpusRoot, Seq(col("vec_id")),
      compactAboveFiles)
    version
  }

  /** Wire a (vec_id, embedding) stream into the loop, with
    * [[ingestBatch]]'s default rounds and stale-model policy. `onBatch`
    * gets the graph version. */
  def ingestWriter(vecs: DataFrame, graphRoot: String, corpusRoot: String,
                   checkpoint: String,
                   onBatch: (Long, Long) => Unit = (_, _) => (),
                   trigger: Trigger = Trigger.AvailableNow(),
                   compactAboveFiles: Int = 0)
      : DataStreamWriter[Row] =
    BatchMarker.writer(vecs, checkpoint, trigger, marker(graphRoot),
        onBatch) { (batch, batchId) =>
      ingestBatch(batch.select(col("vec_id"), col("embedding")), batchId,
        graphRoot, corpusRoot, compactAboveFiles = compactAboveFiles)
    }
}

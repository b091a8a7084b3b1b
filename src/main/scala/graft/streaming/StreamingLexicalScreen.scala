package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ext.LexicalIndex
import graft.sources.VersionedTable

/** Streaming lexical decontamination: the training-document stream is
  * screened per micro-batch against the STATIC persisted BM25 index of
  * the eval set ([[LexicalIndex]]), and each batch's screen report
  * appends as a version of an audit-log table — the lexical sibling of
  * [[StreamingDecontamination]] (exact spans) and
  * [[StreamingSemanticDecontamination]] (embeddings).
  *
  * The replay story is STRUCTURALLY simpler than the other two loops:
  * production decontamination screens the stream against a FROZEN
  * eval/benchmark index — nothing ingests, so a replayed batch
  * recomputes a bit-identical report from the same index. The only
  * at-least-once hazard left is double-APPENDING that identical report,
  * closed by a [[BatchMarker]] under `reportRoot/_screen/` recording the
  * report log's pre-commit version: a replay whose log already moved
  * past it skips the commit, while a later batch that happens to
  * produce identical rows still commits.
  */
object StreamingLexicalScreen {

  private def marker(reportRoot: String) = BatchMarker(reportRoot, "_screen")

  /** One batch through the screen — public so specs can replay it as
    * foreachBatch would. Returns the batch's report (committed at most
    * once). The report is computed ONCE (persisted before the commit
    * write, so a caller's count/collect hits the cache instead of
    * re-running the whole BM25 scoring); callers that are done with it
    * should `unpersist()` — [[screenWriter]] does. */
  def screenBatch(batch: DataFrame, batchId: Long,
                  si: LexicalIndex.ScreenIndex, reportRoot: String,
                  threshold: Double, probeTerms: Int): DataFrame = {
    val spark = batch.sparkSession
    val report = LexicalIndex.screenWith(si, batch, threshold, probeTerms)
      .persist()
    val pre = marker(reportRoot).read(spark, batchId) match {
      case Some(m) => m.head
      case None =>
        val v = VersionedTable.latest(spark, reportRoot)
        marker(reportRoot).publish(spark, batchId, v)
        v
    }
    if (VersionedTable.latest(spark, reportRoot) == pre)
      VersionedTable.commit(report, reportRoot, append = true)
    report
  }

  /** [[screenBatch]] with per-call index stats — spec/one-shot form;
    * the streaming writer computes the stats once for the whole run. */
  def screenBatch(batch: DataFrame, batchId: Long, indexRoot: String,
                  reportRoot: String, threshold: Double,
                  probeTerms: Int = 16): DataFrame =
    screenBatch(batch, batchId,
      LexicalIndex.indexStats(batch.sparkSession, indexRoot),
      reportRoot, threshold, probeTerms)

  /** Wire a document stream (doc_id, text) into the screen. The frozen
    * index's derived stats (postings, lengths, document frequencies)
    * are loop invariants: computed and cached ONCE here, reused by
    * every micro-batch — not re-aggregated per trigger. `onBatch` gets
    * the batch's report row count. */
  def screenWriter(docs: DataFrame, indexRoot: String, reportRoot: String,
                   threshold: Double, checkpoint: String,
                   probeTerms: Int = 16,
                   onBatch: (Long, Long) => Unit = (_, _) => (),
                   trigger: Trigger = Trigger.AvailableNow())
      : DataStreamWriter[Row] = {
    val si = LexicalIndex.indexStats(docs.sparkSession, indexRoot).persist()
    BatchMarker.writer(docs, checkpoint, trigger, marker(reportRoot),
        onBatch) { (batch, batchId) =>
      val r = screenBatch(batch.select(col("doc_id"), col("text")),
        batchId, si, reportRoot, threshold, probeTerms)
      try r.count() finally { r.unpersist(); () }
    }
  }
}

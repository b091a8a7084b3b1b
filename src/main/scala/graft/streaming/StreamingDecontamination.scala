package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ext.DedupIndex
import graft.sources.{Compaction, VersionedTable}

/** The streaming substring-decontamination loop: a continuous document
  * stream is cut against the PERSISTED span index
  * ([[graft.ext.DedupIndex.cutSeenSpans]]), each micro-batch's cut
  * report lands as a version of an audit-log table, and the batch's own
  * spans are ingested so batch N+1 dedups against everything through
  * batch N. Corpus text is never rescanned — each trigger touches the
  * batch and hash keys only, the streaming form of the span index's
  * whole point.
  *
  * Replay ([[BatchMarker]] contract): the report computed against the
  * CURRENT index would be wrong on replay — if the crash hit after
  * ingest, the batch's own spans read as "seen" and the recomputed
  * report would cut everything. So the marker under `indexRoot/_ingest/`
  * records "<pre-ingest index version> <pre-commit report version>",
  * and a replay recomputes the report against that index version. Step
  * order per batch (marker → report commit → ingest) makes every crash
  * window converge:
  *
  *  - before the marker: nothing persisted, full replay is identical;
  *  - after the marker: the report log still sits at the marker's
  *    pre-commit version, so the commit (and everything after) runs;
  *  - after the report commit: the log has moved past the marker's
  *    pre-commit version, so the duplicate commit skips, while a
  *    genuinely new batch whose rows happen to coincide with logged
  *    ones (a re-sent fully-cut doc) is still recorded;
  *  - after the ingest: index version > pre-version, everything skips.
  *
  * Legacy one-version markers (index version only) fall back to a
  * content-diff guard on the report append. A doc re-sent AFTER being
  * fully cut reports identically (n_after = 0) and appends nothing —
  * re-delivering already-decontaminated content is a no-op by design.
  */
object StreamingDecontamination {

  private[graft] def marker(indexRoot: String) = BatchMarker(indexRoot, "_ingest")

  /** The index at version `v`, where 0 means "before any commit" — an
    * empty hash-key frame. */
  private def indexAt(spark: SparkSession, indexRoot: String,
                      v: Long): DataFrame =
    if (v == 0L)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("sh", StringType))))
    else VersionedTable.read(spark, indexRoot, Some(v))

  /** One batch through the loop — public so a redelivered batch can be
    * simulated in specs exactly as foreachBatch would replay it.
    * Returns the report committed (or re-derived, on replay) for the
    * batch. `compactAboveFiles > 0` arms
    * [[graft.sources.Compaction.compactAbove]] on the index after the
    * ingest, clustered on the hash key. */
  def decontaminateBatch(batch: DataFrame, batchId: Long, indexRoot: String,
                         reportRoot: String, k: Int,
                         compactAboveFiles: Int = 0): DataFrame = {
    val spark = batch.sparkSession
    val reportLatest0 = VersionedTable.latest(spark, reportRoot)
    val marked = marker(indexRoot).read(spark, batchId)
    val pre = marked.fold(VersionedTable.latest(spark, indexRoot))(_.head)
    // the prune gate's catalog stat for the PINNED version (replay reads
    // the same stat); None (legacy pre-seed with no sidecar) degrades to
    // the ungated plan — same rows either way, the gate chooses plans
    val idxRows: Option[Long] =
      if (pre == 0L) Some(0L)
      else graft.sources.VersionedStats.statsFor(spark, indexRoot,
        Some(pre)).map(_._1)
    // ONE span pass per trigger: the batch's (doc_id, pos, sh) frame is
    // persisted and shared by the cut report's probe, the prune gate's
    // count, and the ingest's anti-probe — r13 recomputed the
    // tokenize+explode lineage up to four times per trigger (report
    // probe + its bloom, ingest anti + its bloom)
    val spans = DedupIndex.spanHashFrame(batch, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      lazy val nSpans = spans.count()
      val report = DedupIndex.cutSeenSpansOn(indexAt(spark, indexRoot, pre),
        batch, spans, k, idxRows, () => nSpans)
      // the marker is the batch's first write
      if (marked.isEmpty)
        marker(indexRoot).publish(spark, batchId, pre, reportLatest0)
      // append guard, keyed on the marker's pre-commit report version;
      // legacy (index-only) markers fall back to the content guard
      val doCommit = marked.fold(Option(reportLatest0))(_.lift(1)) match {
        case Some(reportPre) =>
          VersionedTable.latest(spark, reportRoot) == reportPre
        case None =>
          VersionedTable.versions(spark, reportRoot).isEmpty ||
            !report.exceptAll(VersionedTable.read(spark, reportRoot)).isEmpty
      }
      if (doCommit) VersionedTable.commit(report, reportRoot, append = true)
      // ingest exactly once: the marker pins pre, so version == pre means
      // the ingest has not happened yet (batches are serial per stream)
      if (VersionedTable.latest(spark, indexRoot) == pre) {
        if (pre == 0L)
          graft.sources.VersionedStats.commitWithRowStat(
            spans.select(col("sh")).distinct(), indexRoot)
        else DedupIndex.ingestSpansOn(indexRoot, spark, spans,
          () => nSpans)
      }
      // after ingest, so the rewrite always covers this batch's spans;
      // the hash key is the screen's join key, so clustering on it gives
      // the rewritten files disjoint sh ranges (footer min/max pruning)
      Compaction.compactAbove(spark, indexRoot, Seq(col("sh")),
        compactAboveFiles)
      report
    } finally spans.unpersist(false)
  }

  /** Wire a document stream (doc_id, text) into the loop: per trigger,
    * cut the batch against the persisted span index, append the cut
    * report as the audit log's next version, and ingest the batch's
    * spans for the next trigger. `onBatch` gets the index version. */
  def decontaminationWriter(docs: DataFrame, indexRoot: String,
                            reportRoot: String, k: Int, checkpoint: String,
                            onBatch: (Long, Long) => Unit = (_, _) => (),
                            trigger: Trigger = Trigger.AvailableNow(),
                            compactAboveFiles: Int = 0)
      : DataStreamWriter[Row] =
    BatchMarker.writer(docs, checkpoint, trigger, marker(indexRoot),
        onBatch) { (batch, batchId) =>
      decontaminateBatch(batch.select(col("doc_id"), col("text")),
        batchId, indexRoot, reportRoot, k, compactAboveFiles)
      VersionedTable.latest(batch.sparkSession, indexRoot)
    }
}

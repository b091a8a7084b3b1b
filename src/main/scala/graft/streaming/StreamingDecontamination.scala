package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ext.DedupIndex
import graft.sources.{MetaFile, VersionedTable}

/** The streaming substring-decontamination loop: a continuous document
  * stream is cut against the PERSISTED span index
  * ([[graft.ext.DedupIndex.cutSeenSpans]]), each micro-batch's cut
  * report lands as a version of an audit-log table, and the batch's own
  * spans are ingested so batch N+1 dedups against everything through
  * batch N. Corpus text is never rescanned — each trigger touches the
  * batch and hash keys only, the streaming form of the span index's
  * whole point.
  *
  * Crash/replay posture (foreachBatch can re-deliver a batch): the
  * report computed against the CURRENT index would be wrong on replay —
  * if the crash hit after ingest, the batch's own spans read as "seen"
  * and the recomputed report would cut everything. The index being a
  * [[VersionedTable]] solves this: a marker under `indexRoot/_ingest/`
  * records each batch's PRE-ingest index version AND pre-commit report
  * version before any write runs, and a replay recomputes the report
  * against that index version via time travel — the same report, every
  * time. Step order per batch (marker → report commit → ingest) makes
  * every crash window converge:
  *
  *  - before the marker: nothing persisted, full replay is identical;
  *  - after the marker: the report log still sits at the marker's
  *    pre-commit version, so the commit (and everything after) runs;
  *  - after the report commit: the log has moved past the marker's
  *    pre-commit version, so the duplicate commit skips — a VERSION
  *    check, not a content diff, so it costs nothing at any log size
  *    and a genuinely new batch whose rows happen to coincide with
  *    logged ones (a re-sent fully-cut doc) is still recorded;
  *  - after the ingest: index version > pre-version, everything skips.
  *
  * Single-writer contract: one stream owns the index and the report
  * table (the [[VersionedTable]] posture; batches within a stream are
  * already serial). A doc re-sent AFTER being fully cut reports
  * identically (n_after = 0) and appends nothing — re-delivering
  * already-decontaminated content is a no-op by design.
  *
  * Vacuum composes with one retention rule: only the LAST batch can
  * ever replay (the stream checkpoint), and its marker points at the
  * previous index version — so `vacuum(keepVersions >= 2)` between
  * triggers is always safe, while keep-1 could reclaim the version an
  * in-flight replay needs. (VersionedTable already forbids vacuum
  * concurrent with a writer; this is the cross-trigger rule.)
  */
object StreamingDecontamination {

  private def markerPath(indexRoot: String, batchId: Long) =
    new Path(new Path(indexRoot, "_ingest"), s"b$batchId")

  /** The recorded (pre-ingest index version, pre-commit report version)
    * for a batch, if its marker exists (0 = table was empty). Legacy
    * markers carry only the index version — their report half is None
    * and the caller falls back to the content-diff guard. */
  private def markedVersions(spark: SparkSession, indexRoot: String,
                             batchId: Long): Option[(Long, Option[Long])] =
    MetaFile.read(spark, markerPath(indexRoot, batchId)).map { s =>
      val parts = s.trim.split("\\s+")
      (parts(0).toLong,
        if (parts.length >= 2) Some(parts(1).toLong) else None)
    }

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
    * batch.
    *
    * `compactAboveFiles > 0` arms the in-loop compaction policy: after
    * the ingest step, if the latest index manifest lists more than that
    * many files, the snapshot is rewritten right-sized and clustered on
    * the hash key ([[graft.sources.Compaction.compactVersioned]]) and
    * committed as the next version. Per-trigger append commits otherwise
    * grow the manifest by one file-set per trigger FOREVER (measured
    * 6 → 46 files across 6 triggers), and every screen pays the
    * file-open amplification. The trigger condition is a FILE COUNT, not
    * an every-N-versions counter, because a file-count policy is
    * self-stabilizing under replay: a crash between ingest and
    * compaction re-enters with the count still high and compacts; a
    * crash after compaction re-enters with the count low and skips —
    * no extra marker state needed. Readers are never torn: a trigger
    * holding a pre-compaction manifest keeps its exact file set (the
    * [[graft.sources.Compaction]] snapshot-isolation contract), and the
    * marker scheme's time travel keeps working because compaction adds
    * a version without deleting any.
    *
    * Vacuum note: with compaction armed a batch's pinned pre-version can
    * sit TWO versions behind latest (ingest + compaction in one
    * trigger), so the safe between-trigger retention becomes
    * `vacuum(keepVersions >= 3)` — keep-2 could reclaim the version an
    * in-flight replay needs. */
  def decontaminateBatch(batch: DataFrame, batchId: Long, indexRoot: String,
                         reportRoot: String, k: Int,
                         compactAboveFiles: Int = 0,
                         compactTargetRows: Long = 4000000L): DataFrame = {
    val spark = batch.sparkSession
    // replay-stable planning point: the index/report versions this batch
    // runs against are the ones recorded at first delivery, else the
    // current latest
    val latest = VersionedTable.versions(spark, indexRoot)
      .lastOption.getOrElse(0L)
    val reportLatest0 = VersionedTable.versions(spark, reportRoot)
      .lastOption.getOrElse(0L)
    val marked = markedVersions(spark, indexRoot, batchId)
    val pre = marked.map(_._1).getOrElse(latest)
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
      // the marker is the FIRST write: every later step guards on a stored
      // version against the marker's recorded pre-version
      if (marked.isEmpty)
        MetaFile.replace(spark, markerPath(indexRoot, batchId),
          s"$pre $reportLatest0")
      // append guard, keyed on the marker's pre-commit report version — a
      // metadata check, never a content diff against the whole log. Legacy
      // (index-only) markers fall back to the old content guard.
      val doCommit = marked.map(_._2).getOrElse(Some(reportLatest0)) match {
        case Some(reportPre) =>
          VersionedTable.versions(spark, reportRoot)
            .lastOption.getOrElse(0L) == reportPre
        case None =>
          VersionedTable.versions(spark, reportRoot).isEmpty ||
            !report.exceptAll(VersionedTable.read(spark, reportRoot)).isEmpty
      }
      if (doCommit) VersionedTable.commit(report, reportRoot, append = true)
      // ingest exactly once: the marker pins pre, so version == pre means
      // the ingest has not happened yet (batches are serial per stream)
      val nowLatest = VersionedTable.versions(spark, indexRoot)
        .lastOption.getOrElse(0L)
      if (nowLatest == pre) {
        if (pre == 0L)
          graft.sources.VersionedStats.commitWithRowStat(
            spans.select(col("sh")).distinct(), indexRoot)
        else DedupIndex.ingestSpansOn(indexRoot, spark, spans,
          () => nSpans)
      }
      // compaction policy: metadata-only check (one manifest parse), runs
      // AFTER ingest so the rewrite always covers this batch's spans; the
      // hash key is the screen's join key, so clustering on it gives the
      // rewritten files disjoint sh ranges (footer min/max pruning)
      if (compactAboveFiles > 0 &&
          VersionedTable.fileCount(spark, indexRoot) > compactAboveFiles)
        graft.sources.Compaction.compactVersioned(spark, indexRoot,
          Seq(col("sh")), compactTargetRows)
      report
    } finally spans.unpersist(false)
  }

  /** Wire a document stream (doc_id, text) into the loop: per trigger,
    * cut the batch against the persisted span index, append the cut
    * report as the audit log's next version, and ingest the batch's
    * spans for the next trigger. */
  def decontaminationWriter(docs: DataFrame, indexRoot: String,
                            reportRoot: String, k: Int, checkpoint: String,
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
          decontaminateBatch(batch.select(col("doc_id"), col("text")),
            batchId, indexRoot, reportRoot, k,
            compactAboveFiles, compactTargetRows)
          val v = VersionedTable.versions(batch.sparkSession, indexRoot)
            .lastOption.getOrElse(0L)
          onBatch(batchId, v)
        }
      }
}

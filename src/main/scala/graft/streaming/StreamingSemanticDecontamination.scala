package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ext.PqIndex
import graft.sources.{Compaction, VersionedTable}

/** Streaming SEMANTIC decontamination — the embedding-modality sibling
  * of [[StreamingDecontamination]]'s span loop: a continuous stream of
  * (vec_id, embedding) rows is screened against the PERSISTED IVF-PQ
  * index ([[PqIndex.semanticContamination]] — min ADC distance over
  * probed cells, codes only, no raw corpus vectors), each micro-batch's
  * screen report lands as a version of an audit-log table, and the
  * batch's SURVIVORS (not-contaminated vectors) are encoded with the
  * index's frozen model and ingested, so batch N+1 screens against
  * everything accepted through batch N. Per trigger the work is the
  * batch × (nprobe/nlist × index) ADC join — the index's raw
  * embeddings are never touched and its codes are never re-encoded.
  *
  * Bootstrap contract: the index must be CREATED before the stream
  * starts ([[PqIndex.create]] on the seed corpus) — the realistic
  * shape, since the screen's model (coarse centroids + codebooks) is
  * fit on a representative corpus, not on whatever 25 rows the first
  * trigger happens to carry. The writer fails fast if the model or v1
  * is missing.
  *
  * Replay ([[BatchMarker]] contract): a replayed batch screened against
  * the POST-ingest index would see its own survivors as "already
  * indexed" and flag everything contaminated. So the marker under
  * `indexRoot/_screen/` records "<pre-ingest index version>
  * <pre-commit report version>", the replay recomputes the screen
  * against that index version, and the report append and survivor
  * ingest guard on version equality — as in [[StreamingDecontamination]].
  *
  * In-batch duplicates are NOT screened against each other (the index
  * doesn't contain them yet — same contract as the span loop); feed
  * batches through exact/minhash dedup upstream if intra-batch
  * duplication matters.
  *
  * The frozen model's staleness boundary applies per trigger: a stream
  * whose survivor ingests grow the codes past a decade of the
  * build-time corpus count gets [[PqIndex.ingest]]'s loud refusal
  * (quantization error — and every tau2-calibrated threshold — drifts
  * past the frozen fit), not silent degradation. Re-[[PqIndex.create]]
  * on the accumulated corpus and resume.
  */
object StreamingSemanticDecontamination {

  private def marker(indexRoot: String) = BatchMarker(indexRoot, "_screen")

  /** One batch through the loop — public so specs can replay a batch
    * exactly as foreachBatch would. Returns the screen report
    * (vec_id, min_adc_dist, contaminated) for the batch, computed
    * against the batch's pinned pre-ingest index version.
    * `compactAboveFiles > 0` arms [[graft.sources.Compaction.compactAbove]]
    * on the codes, clustered on `list_id` — the screen reads only probed
    * cells, so cell-clustered files let footer min/max stats skip every
    * unprobed cell's bytes. */
  def screenBatch(batch: DataFrame, batchId: Long, indexRoot: String,
                  reportRoot: String, nprobe: Int, tau2: Double,
                  ingestSurvivors: Boolean = true,
                  compactAboveFiles: Int = 0): DataFrame = {
    val spark = batch.sparkSession
    val latest = VersionedTable.latest(spark, indexRoot)
    if (latest == 0L) throw new IllegalStateException(
      s"PqIndex at $indexRoot has no committed version — create the " +
        "index from the seed corpus before starting the screen stream")
    val reportLatest0 = VersionedTable.latest(spark, reportRoot)
    val marked = marker(indexRoot).read(spark, batchId)
    val pre = marked.fold(latest)(_.head)
    // persist: the screen is consumed up to three times per trigger
    // (report commit, survivor anti-join, caller) — without a
    // materialization point each consumer re-runs the whole ADC join
    // (measured 14 s/trigger instead of ~5 at 2000 vec/trigger).
    // Batch-sized, so memory-and-disk is safe at any batch size.
    val report = PqIndex.semanticContamination(spark, indexRoot,
        batch, nprobe, tau2, version = Some(pre))
      .withColumnRenamed("query_id", "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (marked.isEmpty)
      marker(indexRoot).publish(spark, batchId, pre, reportLatest0)
    val reportPre = marked.fold(reportLatest0)(_(1))
    if (VersionedTable.latest(spark, reportRoot) == reportPre)
      VersionedTable.commit(report, reportRoot, append = true)
    if (ingestSurvivors && VersionedTable.latest(spark, indexRoot) == pre) {
      val survivors = batch.join(
        report.where(col("contaminated")).select(col("vec_id")),
        Seq("vec_id"), "left_anti")
      if (!survivors.isEmpty) PqIndex.ingest(indexRoot, survivors)
      else {
        // all-contaminated batches still advance the version so the
        // version-equality replay guards stay monotone per batch
        VersionedTable.commit(
          PqIndex.codes(spark, indexRoot, Some(pre)).limit(0),
          indexRoot, append = true)
      }
    }
    // after ingest, so the rewrite covers this batch's survivors
    Compaction.compactAbove(spark, indexRoot, Seq(col("list_id")),
      compactAboveFiles)
    // async unpersist: consumers inside this call are done; a caller
    // re-reading the returned frame recomputes deterministically
    report.unpersist(blocking = false)
    report
  }

  /** Wire a (vec_id, embedding) stream into the loop. `onBatch` gets
    * the index version. */
  def screenWriter(vecs: DataFrame, indexRoot: String, reportRoot: String,
                   nprobe: Int, tau2: Double, checkpoint: String,
                   ingestSurvivors: Boolean = true,
                   onBatch: (Long, Long) => Unit = (_, _) => (),
                   trigger: Trigger = Trigger.AvailableNow(),
                   compactAboveFiles: Int = 0)
      : DataStreamWriter[Row] =
    BatchMarker.writer(vecs, checkpoint, trigger, marker(indexRoot),
        onBatch) { (batch, batchId) =>
      screenBatch(batch.select(col("vec_id"), col("embedding")),
        batchId, indexRoot, reportRoot, nprobe, tau2, ingestSurvivors,
        compactAboveFiles)
      VersionedTable.latest(batch.sparkSession, indexRoot)
    }
}

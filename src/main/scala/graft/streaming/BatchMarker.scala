package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.sources.MetaFile

/** The per-batch replay marker of the exactly-once streaming writers
  * ([[StreamingDecontamination]], [[StreamingSemanticDecontamination]],
  * [[StreamingLexicalScreen]], [[StreamingKnnGraph]],
  * [[StreamingSplitMaintenance]]): `foreachBatch` can re-deliver a
  * batch, and a replay must land the state the first delivery did.
  * The marker for batch N is the file `<root>/<dir>/b<N>` holding a few
  * space-separated table versions; this is the one place that knows
  * its path, its payload and its lifetime.
  *
  *  - The marker is the batch's FIRST write. It records the versions
  *    the batch planned against (an index's pre-ingest version, a
  *    report log's pre-commit version, ...) before anything else is
  *    committed, and it is published whole or not at all
  *    ([[graft.sources.MetaFile.replace]]), so a crash leaves either
  *    no marker (the replay runs as a first delivery) or the full one.
  *  - Every later step guards on VERSION EQUALITY against the recorded
  *    versions: a table still at its recorded version has not taken the
  *    step yet; one past it has, and the replay skips the step. A
  *    metadata check, never a content diff, so it costs nothing at any
  *    table size. A replay recomputes its output against the recorded
  *    versions (time travel), never against what later steps committed.
  *  - Only the LAST batch can replay: Spark starts batch N only after
  *    it has committed every batch below N. So once batch N's body
  *    returns, every marker below N is dead, and [[BatchMarker.writer]]
  *    purges them ([[purgeBelow]] — the rule Spark's own offset and
  *    commit logs follow).
  *  - Vacuum retention between triggers: the last batch's recorded
  *    version must stay readable, so keep at least 2 versions of a
  *    marked table, or at least 3 when in-loop compaction is armed (an
  *    ingest plus a compaction can put the recorded version two behind
  *    the latest). Keep-1 could reclaim the version a replay needs.
  *
  * Single writer: one stream owns the marker directory and the tables
  * it guards (the [[graft.sources.VersionedTable]] posture; batches
  * within a stream are already serial). */
final case class BatchMarker(root: String, dir: String) {

  private def markerDir = new Path(root, dir)

  private def path(batchId: Long) = new Path(markerDir, s"b$batchId")

  /** The versions recorded for `batchId`, if its marker exists. */
  def read(spark: SparkSession, batchId: Long): Option[Seq[Long]] =
    MetaFile.read(spark, path(batchId))
      .map(_.trim.split("\\s+").toSeq.map(_.toLong))

  /** Record `versions` as batch `batchId`'s marker. */
  def publish(spark: SparkSession, batchId: Long, versions: Long*): Unit =
    MetaFile.replace(spark, path(batchId), versions.mkString(" "))

  /** The ids of the live markers `b<N>`, ascending. Other names in the
    * directory (a torn `b<N>.tmp` sibling, a `.b<N>.crc` checksum) are
    * not markers. */
  def batches(spark: SparkSession): Seq[Long] = {
    val f = markerDir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!f.exists(markerDir)) Nil
    else f.listStatus(markerDir).toSeq.map(_.getPath.getName).collect {
      case name if name.length > 1 && name.head == 'b' &&
          name.tail.forall(_.isDigit) => name.tail.toLong
    }.sorted
  }

  /** Delete every marker `b<N>` with `N < batchId`. Other names (a torn
    * `b<N>.tmp` sibling) are left to the next [[publish]]. */
  def purgeBelow(spark: SparkSession, batchId: Long): Unit = {
    val f = markerDir.getFileSystem(spark.sessionState.newHadoopConf())
    batches(spark).filter(_ < batchId).foreach(n => f.delete(path(n), false))
  }
}

object BatchMarker {

  /** Wire `df` into a marked writer: per non-empty trigger, `body` runs
    * the batch and returns the value handed to `onBatch`; then the
    * markers below the batch are purged. `body` is a writer's public
    * `*Batch` function, which never purges: specs replay an older batch
    * through it after a newer one. */
  def writer(df: DataFrame, checkpoint: String, trigger: Trigger,
             marker: BatchMarker, onBatch: (Long, Long) => Unit)
            (body: (DataFrame, Long) => Long): DataStreamWriter[Row] =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val v = body(batch, batchId)
          marker.purgeBelow(batch.sparkSession, batchId)
          onBatch(batchId, v)
        }
      }
}

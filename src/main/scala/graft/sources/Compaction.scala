package graft.sources

import org.apache.spark.sql.{Column, SparkSession}

/** Small-files compaction — rewrite a versioned table into right-sized,
  * range-clustered parquet files.
  *
  * The reference ingests up to 100 small CSV objects per hourly run
  * (reference: dags/etl/extract_stream_data.py:31-45) and archives them
  * as-is; at 100 TB that ingestion pattern produces millions of KB-sized
  * files, and file-open overhead (not bytes) starts dominating scan time.
  * The standard fix is a periodic compaction pass: read the small files,
  * range-repartition on the query-predicate columns, write ~target-sized
  * files.
  *
  * Clustering matters as much as sizing: `repartitionByRange` +
  * `sortWithinPartitions` makes each output file a contiguous key range,
  * so parquet footer min/max statistics prune files for range predicates
  * (same motivation as `operators/ZOrder`, which generalizes the
  * clustering key to multiple dimensions — use that for multi-column
  * predicate sets).
  */
object Compaction {

  /** Rows per file of an in-loop compaction rewrite ([[compactAbove]]). */
  val TargetRowsPerFile = 4000000L

  /** The streaming writers' in-loop compaction policy: when
    * `aboveFiles > 0` and the latest manifest of `root` lists more than
    * that many files, rewrite the snapshot right-sized and clustered on
    * `keys` as the next version ([[compactVersioned]]). Per-trigger
    * append commits otherwise grow the manifest by one file-set per
    * trigger forever (measured 6 → 46 files across 6 triggers), and
    * every reader pays the file-open amplification.
    *
    * The trigger is a FILE COUNT (one manifest parse, no data touched),
    * not an every-N-versions counter, because a file-count policy is
    * self-stabilizing under replay: a crash before the rewrite
    * re-enters with the count still high and compacts; a crash after it
    * re-enters with the count low and skips — no marker state needed.
    * A rewrite adds a version and deletes none, so a replay's time
    * travel to its recorded version keeps working. */
  def compactAbove(spark: SparkSession, root: String, keys: Seq[Column],
                   aboveFiles: Int): Unit =
    if (aboveFiles > 0 && VersionedTable.fileCount(spark, root) > aboveFiles)
      compactVersioned(spark, root, keys, TargetRowsPerFile)

  /** Lakehouse OPTIMIZE: rewrite a versioned table's latest snapshot
    * into right-sized range-clustered files and commit the rewrite as
    * the NEXT version — content-identical (a pure layout change), fully
    * transactional (readers see either the fragmented or the compacted
    * version, never a mix), and reversible via time travel until
    * [[VersionedTable.vacuum]] reclaims the small files. This is how
    * compaction must work under concurrent readers: never rewrite files
    * in place — a reader holding the old manifest keeps its exact file
    * set.
    *
    * Many-small-files versions arise naturally here from per-trigger
    * streaming commits and append commits; running this
    * periodically bounds file-count growth the same way the reference's
    * archive step would need at scale.
    *
    * Returns the committed version. */
  def compactVersioned(spark: SparkSession, root: String,
                       clusterCols: Seq[Column],
                       targetRowsPerFile: Long,
                       rangeStatCol: Option[String] = None): Long = {
    require(targetRowsPerFile > 0, s"need positive target: $targetRowsPerFile")
    val latest = VersionedTable.read(spark, root)
    val n = latest.count()
    val parts = math.max(1, math.ceil(n.toDouble / targetRowsPerFile)).toInt
    val prior = VersionedTable.versions(spark, root).last
    val clustered = latest
      .repartitionByRange(parts, clusterCols: _*)
      .sortWithinPartitions(clusterCols: _*)
    // one file per range partition — the partition count already sizes
    // files to the target; commit() stages them under a fresh
    // data/v{N+1} directory and manifests atomically
    val v = VersionedTable.commit(clustered, root)
    // a layout rewrite is content-identical, so the stats sidecar (when
    // maintained) carries forward EXACTLY — OPTIMIZE must not demote
    // the catalog to on-demand estimation
    VersionedStats.carryForward(spark, root, prior, v)
    // the rewrite is exactly when per-file key ranges become disjoint
    // contiguous runs — register them so small-probe readers can skip
    // files ([[VersionedStats.writeFileRanges]])
    rangeStatCol.foreach(c => VersionedStats.writeFileRanges(spark, root, v, c))
    v
  }
}

package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Persisted physical layouts: bucketed tables (hash-clustered on a join
  * key) and hive-partitioned directories — the two ingest-time layout
  * decisions that amortize query-time work at warehouse scale.
  *
  * WHY (the 100 TB story): a fact⋈fact join on a stable key (orders ⋈
  * lineitem on the order key) pays a full shuffle of both sides EVERY
  * query. Writing both sides bucketed by that key — `bucketBy(n, key)`,
  * hash-partitioned into n files per write — moves that shuffle to ingest,
  * ONCE: Spark's scan reports the bucketing as a hash partitioning, the
  * join planner sees both sides co-partitioned, and the exchange
  * disappears from every subsequent join on that key (pinned in
  * PlanShapeSpec / BucketingSpec: zero ShuffleExchange under the
  * SortMergeJoin). Equality/IN predicates on the bucket key additionally
  * prune to the matching buckets (`SelectedBucketsCount: k out of n` in
  * the scan), an O(1/n) point-lookup path with no index structure.
  * Partitioned directories are the coarse twin: low-cardinality filter
  * columns become directory levels, and a filtered read lists only the
  * matching directories (PartitionFilters in the scan — never a post-scan
  * filter over everything). Reference scope: the reference reloads its
  * staging CSVs flat every run (dags/etl/kpi_processor.py:27-37) and
  * re-pays the join cost each time; these layouts are the Spark-native
  * replacement.
  *
  * Mechanics: layouts are MATERIALIZED ARTIFACTS keyed by (source dir,
  * table, layout spec, layout version, SOURCE FINGERPRINT) under
  * java.io.tmpdir — writing one is idempotent and re-entrant. The
  * fingerprint (file count + total bytes + max mtime of the source
  * parquet) is load-bearing: tmpdir layouts outlive JVMs, so without it
  * a source regenerated at the same path (refreshed testdata, a re-built
  * scale-probe dir) would silently serve the STALE materialization to
  * consumers that have no oracle. Bucketed reads require catalog
  * metadata (a bare parquet path read ignores bucket files), so a fresh
  * session re-registers an already-written layout as an EXTERNAL table
  * over the existing files (schema from the source frame, CLUSTERED BY
  * from the layout spec) instead of rewriting; `_SUCCESS` is the
  * completeness marker, so a crashed write re-runs — and a catalog entry
  * whose FILES have vanished (tmp reaper between runs sharing a
  * warehouse) is dropped and re-materialized instead of failing the scan
  * with an opaque FileNotFound. Residual known gap: two JVMs racing the
  * same cold layout can interleave writes to one path (single-writer is
  * the contract, as for [[VersionedTable]]); within one JVM, catalog ops
  * are serialized by Spark. The writer repartitions by the bucket column
  * first so each bucket lands as ONE file — the layout Spark's
  * sorted-scan optimization requires. On a real cluster the same calls
  * target the warehouse root instead of tmpdir; nothing else changes.
  *
  * Session contract: reading layouts as buckets requires
  * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false`
  * (Spark's DisableUnnecessaryBucketedScan rule otherwise turns the
  * bucketed scan off exactly for the point lookups whose bucket PRUNING
  * we want). [[configure]] sets it, called ONCE at session bootstrap by
  * [[graft.GraftSession]], which every entry point (each `main` and the
  * test SparkSpec) builds its session through — a table READER mutating session confs as a side effect
  * made plan shapes order-dependent (ADVICE r10), so bucketed() no
  * longer does. */
object BucketedTable {

  /** Layout-format version: bump to invalidate previously-materialized
    * layouts after a semantic change. */
  private val LayoutVersion = 2

  /** Opt the session into reading materialized layouts as buckets —
    * call once at session bootstrap (see the session contract above).
    * The cost is numBuckets-task parallelism on full scans of OUR layout
    * tables (sized for that); the gain is bucket pruning + exchange-free
    * joins, deterministically, regardless of query order. */
  def configure(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
      "false")

  private def stableId(parts: String*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(parts.mkString("|").getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
  }

  /** Cheap source-content fingerprint: (file count, total bytes, max
    * mtime) over the source parquet path — no data read. Folded into the
    * layout id so regenerating the source invalidates the cached layout
    * (the stale layout files are simply never selected again; tmpdir
    * reclaims them). */
  private def sourceFingerprint(dir: String, table: String): String = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
          .sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val fs = walk(new File(dir, s"$table.parquet"))
    s"${fs.size}:${fs.map(_.length).sum}:" +
      s"${fs.foldLeft(0L)((m, f) => math.max(m, f.lastModified))}"
  }

  private[graft] def layoutRoot: File =
    new File(sys.props("java.io.tmpdir"), "graft-layout")

  /** The catalog name a (source, spec) pair materializes under —
    * package-visible so specs exercising the re-registration path can
    * drop EXACTLY this table (picking any `graft_b_<table>_*` match
    * could hit another suite's layout; ADVICE r10). */
  private[graft] def bucketedName(dir: String, table: String,
                                  bucketCol: String, numBuckets: Int): String =
    s"graft_b_${table}_" + stableId(dir, table, bucketCol,
      numBuckets.toString, LayoutVersion.toString,
      sourceFingerprint(dir, table))

  /** Read `table` from `dir` bucketed by `bucketCol` into `numBuckets`
    * (writing/registering the layout on first use in this JVM+tmpdir).
    * Returned frame scans the bucketed files: joins on `bucketCol`
    * against an equally-bucketed side need no exchange, and equality/IN
    * filters on it prune buckets. Requires [[configure]] at session
    * bootstrap for the bucketed-scan guarantees. */
  def bucketed(spark: SparkSession, dir: String, table: String,
               bucketCol: String, numBuckets: Int): DataFrame = {
    val name = bucketedName(dir, table, bucketCol, numBuckets)
    // Same-layout materialize/register serializes in-JVM: a shared
    // session's concurrent queries can otherwise both observe a cold
    // layout and interleave two saveAsTable writes into ONE path (the
    // single-writer note above is about separate PROCESSES sharing a
    // tmpdir; threads of one session we can and do serialize).
    KeyedLocks.withLock(s"layout:$name") {
    val path = new File(layoutRoot, name).getAbsolutePath
    val complete = new File(path, "_SUCCESS").isFile
    // catalog entry without files (tmp reaper / crashed write): drop and
    // fall through to re-materialize rather than FileNotFound at scan
    if (spark.catalog.tableExists(name) && !complete)
      spark.sql(s"DROP TABLE IF EXISTS $name")
    if (!spark.catalog.tableExists(name)) {
      val src = Tables.table(spark, dir, table)
      if (complete) {
        // layout already materialized by an earlier session: register the
        // existing files — metadata-only, no rewrite
        spark.sql(
          s"""CREATE TABLE $name (${src.schema.toDDL})
             |USING PARQUET
             |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
             |INTO $numBuckets BUCKETS
             |LOCATION '$path'""".stripMargin)
      } else {
        // one file per bucket: pre-partition on the bucket column so each
        // write task owns exactly one bucket
        src.repartition(numBuckets, col(bucketCol))
          .write.mode("overwrite")
          .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
          .option("path", path)
          .format("parquet")
          .saveAsTable(name)
      }
    }
    spark.table(name)
    }
  }

  /** Read `table` from `dir` re-laid-out as hive-partitioned parquet on
    * `partCol` (materializing on first use). Filters on `partCol` become
    * PartitionFilters — directory pruning, not row filtering. */
  def partitioned(spark: SparkSession, dir: String, table: String,
                  partCol: String): DataFrame = {
    val id = stableId(dir, table, s"part:$partCol", LayoutVersion.toString,
      sourceFingerprint(dir, table))
    val path = new File(layoutRoot, s"graft_p_${table}_$id").getAbsolutePath
    // serialize same-path materialization across a shared session's
    // threads (see bucketed)
    KeyedLocks.withLock(s"layout:$path") {
      if (!new File(path, "_SUCCESS").isFile) {
        Tables.table(spark, dir, table)
          .write.mode("overwrite").partitionBy(partCol).parquet(path)
      }
    }
    spark.read.parquet(path)
  }
}

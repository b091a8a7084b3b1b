package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-committed versioned parquet table — the minimal
  * transactional-commit / time-travel primitive (the core idea of the
  * modern table formats, reduced to its essentials): data files land
  * under `data/`, but a version EXISTS only once its manifest (the full
  * file list for that snapshot) is written. Readers resolve a manifest
  * and load exactly its files, so
  *
  *  - a failed/partial write leaves ORPHAN data files that no reader
  *    ever sees (no half-written snapshots — the reference's CSV
  *    staging ports over with none of its torn-read risk),
  *  - every committed version stays readable (time travel), and
  *  - two versions diff with [[graft.operators.SnapshotDiff]] — the CDC
  *    loop over table HISTORY instead of externally-kept snapshots.
  *
  * Two race points, both atomic: data stages under a writer-unique
  * dot-directory and CLAIMS `data/vN` by rename (so no two writers can
  * ever interleave files into one version directory), then the manifest
  * write is the commit point — a single file creation with
  * overwrite=false, atomic on local/HDFS semantics. Two racing commits
  * of the same version resolve to exactly ONE winner; the loser's claim
  * fails, its staged files are removed, and it throws CLEANLY. Both
  * race points assume ATOMIC RENAME + atomic create-no-overwrite —
  * true of file:// and HDFS, NOT of plain S3A (rename there is a
  * non-atomic copy+delete): object-store deployments use
  * [[commitObjectStore]], which removes the rename entirely and needs
  * only conditional-put (S3 `If-None-Match`) for the manifest; the
  * reader-side contract (manifest = source of
  * truth) is unchanged. Sustained multi-writer throughput (retry loops,
  * log compaction) is out of scope — the contract here is the weaker
  * "a lost race is a CLEAN failure, never a torn table".
  *
  * Vacuum-vs-writer: [[vacuum]] cannot distinguish a crashed writer's
  * orphans from an IN-FLIGHT commit's staged-but-not-yet-manifested
  * files by inspection, so it only sweeps staging directories at or
  * below the latest manifested version — an in-flight commit always
  * stages ABOVE it (see [[commit]]'s version choice), so the sweep
  * never races an active writer. A crashed writer's stage becomes
  * sweepable as soon as any later commit lands.
  */
object VersionedTable {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def manifestDir(root: String) = new Path(root, "_manifests")

  /** Committed version numbers, ascending (empty for a fresh path). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val dir = manifestDir(root)
    val f = fs(spark, dir)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted.toSeq
  }

  /** The latest committed version, 0 for a fresh path. */
  def latest(spark: SparkSession, root: String): Long =
    versions(spark, root).lastOption.getOrElse(0L)

  /** Commit `df` as the next version. `append = true` carries the
    * previous version's files forward (the new snapshot = old + new
    * files); `false` makes the new manifest list only this commit's
    * files (logical overwrite — old files stay for time travel).
    * Returns the committed version number. */
  def commit(df: DataFrame, root: String, append: Boolean = false): Long = {
    val spark = df.sparkSession
    val prior = latest(spark, root)
    // next version = past BOTH the manifested versions and any staged
    // data/vN directory: a crashed writer's leftover stage (data without
    // a manifest) must not collide with — and so permanently block — the
    // next commit; skipping over it leaves the orphans below the manifest
    // horizon where vacuum may sweep them
    val v = math.max(prior, latestStaged(spark, root)) + 1
    // Stage under a WRITER-UNIQUE dot-directory first, then CLAIM the
    // version directory by rename. Staging straight into data/vN with
    // errorifexists (the first cut) was check-then-write, not a claim:
    // two racing writers could both pass the existence check and
    // interleave part files into one data/vN, and the manifest winner
    // then LISTED the loser's files into its snapshot — a torn commit
    // the race spec caught under full-suite load ("2 did not equal 1").
    // The rename is atomic on local/HDFS; on stores without atomic
    // dir-rename the deployment substitutes its conditional primitive,
    // as already documented for the manifest create. A lost claim
    // (dataDir appeared first, rename refused, or — local-FS rename
    // semantics — our stage landed NESTED inside the winner's dir) is
    // detected, our files are removed, and the commit fails CLEAN; the
    // manifest create below stays the commit point.
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val stage = new Path(root, s"data/.stage-v$v-$nonce")
    df.write.mode("errorifexists").parquet(stage.toString)
    val dataDir = new Path(root, s"data/v$v")
    val f = fs(spark, dataDir)
    val nested = new Path(dataDir, stage.getName)
    val claimed = !f.exists(dataDir) && f.rename(stage, dataDir) &&
      !f.exists(nested)
    if (!claimed) {
      if (f.exists(nested)) f.delete(nested, true)
      if (f.exists(stage)) f.delete(stage, true)
      throw new IllegalStateException(
        s"lost commit race for version $v of $root (another writer " +
          "claimed the version directory); staged files removed — " +
          "retrying commits a fresh version")
    }
    publish(spark, root, v, prior, append, dataDir)
  }

  /** Object-store-safe commit: the same manifest contract with NO
    * directory rename anywhere. [[commit]]'s claim step renames the
    * staged directory to `data/vN` — atomic on file:// and HDFS, but on
    * plain S3A a "rename" is a non-atomic per-object copy+delete (the
    * reference's own archive step does copy+delete for exactly this,
    * reference: dags/etl/load_to_redshift.py:350-388), so two racing
    * writers could interleave a torn claim. Here the staged
    * writer-unique directory IS the version's permanent data directory:
    *
    *  1. stage under `data/obj-v{N}-{nonce}` (writer-unique, never
    *     renamed, never shared — no interleaving is possible);
    *  2. the manifest create with overwrite=false is the ONLY commit
    *     point and the ONLY primitive that needs atomicity.
    *
    * PRECONDITION (loud, not assumed): the store must give
    * create-no-overwrite atomicity for the manifest. Local FS and HDFS
    * do natively. S3 does since it added conditional writes
    * (`If-None-Match` on PUT, strong consistency) — S3A exposes it via
    * `fs.s3a.create.conditional.enabled`; on a store WITHOUT conditional
    * put, two racing manifest creates can both "succeed" and this mode
    * degrades to last-writer-wins on the SAME version number — a torn
    * history, not a torn snapshot (each manifest still references only
    * its own writer's complete file set, so readers never see a mix;
    * what is lost is the loser's commit without its writer learning).
    * Deployments on such stores must serialize writers externally.
    *
    * Readers are untouched: a manifest is a file list; whether those
    * files live under `data/vN` or `data/obj-v5-ab12cd34` is invisible.
    * Returns the committed version. */
  def commitObjectStore(df: DataFrame, root: String,
                        append: Boolean = false): Long = {
    val spark = df.sparkSession
    val prior = latest(spark, root)
    val v = prior + 1
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    // no leading dot: the name must survive any path-component filtering
    // a reader's file index applies to hidden (./_) segments
    val dataDir = new Path(root, s"data/obj-v$v-$nonce")
    df.write.mode("errorifexists").parquet(dataDir.toString)
    publish(spark, root, v, prior, append, dataDir)
  }

  /** Write version `v`'s manifest — `dataDir`'s files, after the prior
    * version's on an append — as the COMMIT POINT of both commit modes,
    * and the only step whose atomicity is required. ONLY an existing
    * manifest is the lost-race signal; a write that fails after the
    * create is a FAILED commit, whose partial manifest [[MetaFile]]
    * removes (so versions() never lists a torn v{N}.json). Either way
    * this writer's data directory is removed too, so a retry commits a
    * fresh version with no orphans. Returns `v`. */
  private def publish(spark: SparkSession, root: String, v: Long,
                      prior: Long, append: Boolean,
                      dataDir: Path): Long = {
    val f = fs(spark, dataDir)
    val newFiles = f.listStatus(dataDir)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toUri.toString).sorted
    val carried =
      if (append && prior > 0L) manifestFiles(spark, root, prior)
      else Seq.empty
    val all = carried ++ newFiles
    try MetaFile.createNew(spark, new Path(manifestDir(root), s"v$v.json"),
      all.mkString("{\"files\": [\"", "\", \"", "\"]}"))
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException =>
        f.delete(dataDir, true)
        throw new IllegalStateException(
          s"lost commit race for version $v of $root (manifest already " +
            "created by another writer); staged files removed — retrying " +
            "commits a fresh version")
      case NonFatal(e) =>
        try f.delete(dataDir, true) catch { case _: java.io.IOException => }
        throw e
    }
    v
  }

  /** The highest version with a staged `data/vN` directory (0 when
    * none) — committed, in-flight, and crashed-writer stages alike. */
  private def latestStaged(spark: SparkSession, root: String): Long = {
    val dataRoot = new Path(root, "data")
    val f = fs(spark, dataRoot)
    if (!f.exists(dataRoot)) return 0L
    f.listStatus(dataRoot).map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.drop(1).forall(_.isDigit) =>
        s.drop(1).toLong }
      .maxOption.getOrElse(0L)
  }

  private[graft] def manifestFiles(spark: SparkSession, root: String,
                                   v: Long): Seq[String] = {
    val json = MetaFile.read(spark, new Path(manifestDir(root), s"v$v.json"))
    require(json.isDefined, s"no such version $v under $root")
    // manifests are machine-written (above): a flat {"files": [...]}
    "\"(file:[^\"]+|hdfs:[^\"]+|[^\",\\[\\]{}]+\\.parquet)\"".r
      .findAllMatchIn(json.get).map(_.group(1)).toSeq
  }

  /** Number of data files in a committed version's manifest (latest by
    * default) — the metadata-only signal a compaction policy reads: one
    * small-file manifest parse, no data touched, no listing of `data/`.
    * 0 when no version is committed yet. */
  def fileCount(spark: SparkSession, root: String,
                version: Option[Long] = None): Int = {
    val vs = versions(spark, root)
    if (vs.isEmpty) 0
    else manifestFiles(spark, root, version.getOrElse(vs.last)).size
  }

  /** Read a committed snapshot: the latest version, or `version`. Only
    * manifested files load — orphans from failed writes are invisible.
    *
    * `mergeSchema = true` reconciles SCHEMA EVOLUTION across the
    * snapshot's files: an append commit may carry new columns, so a
    * version can legitimately mix file schemas — the merged read
    * resolves the union schema and nulls the missing columns of older
    * files (parquet's standard evolution semantics). The default stays
    * false: uniform-schema tables skip the footer-reconciliation cost. */
  def read(spark: SparkSession, root: String,
           version: Option[Long] = None,
           mergeSchema: Boolean = false): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions under $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not committed (have $vs)")
    spark.read
      .option("mergeSchema", mergeSchema.toString)
      .parquet(manifestFiles(spark, root, v): _*)
  }

  /** Retention: keep the newest `keepVersions` manifests, delete older
    * manifests and every data file no kept manifest references —
    * including orphans from crashed writers. Returns the number of data
    * files deleted. Readers of kept versions are unaffected (their file
    * sets are untouched); time travel past the horizon is given up
    * explicitly, never silently.
    *
    * Staging directories ABOVE the latest manifested version are never
    * touched: files there belong to an in-flight commit (which always
    * stages above the manifest horizon), and sweeping them would tear a
    * commit in progress. Orphans from a CRASHED writer sit above the
    * horizon only until the next successful commit, after which they are
    * ordinary unreferenced files and this sweep reclaims them. */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int): Long = {
    require(keepVersions >= 1, s"must keep at least one version: $keepVersions")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions under $root")
    val latest = vs.last
    val keep = vs.takeRight(keepVersions)
    val referenced = keep.flatMap(manifestFiles(spark, root, _)).toSet
    val dataRoot = new Path(root, "data")
    val f = fs(spark, dataRoot)
    val all = f.listStatus(dataRoot).flatMap { d =>
      val name = d.getPath.getName
      // claimed version dirs AND writer-unique stages (.stage-vN-*)
      // carry their target version; above the horizon either may be an
      // in-flight commit — never sweep those
      val vNum: Option[Long] =
        if (name.startsWith("v") && name.drop(1).forall(_.isDigit))
          Some(name.drop(1).toLong)
        else "^(?:\\.stage|obj)-v(\\d+)-".r.findFirstMatchIn(name)
          .map(_.group(1).toLong)
      val aboveHorizon = d.isDirectory && vNum.exists(_ > latest)
      if (aboveHorizon) Seq.empty // possible in-flight commit — never sweep
      else if (d.isDirectory) f.listStatus(d.getPath).toSeq else Seq(d)
    }.map(_.getPath).filter(_.getName.endsWith(".parquet"))
    var deleted = 0L
    all.foreach { p =>
      if (!referenced.contains(p.toUri.toString)) {
        f.delete(p, false); deleted += 1
      }
    }
    vs.dropRight(keepVersions).foreach { v =>
      f.delete(new Path(manifestDir(root), s"v$v.json"), false)
      // stats sidecars ([[VersionedStats]]) are keyed by version: one
      // sweeps with its manifest, or they accumulate forever
      f.delete(new Path(new Path(root, "_stats"), s"v$v.json"), false)
      f.delete(new Path(new Path(root, "_stats"), s"franges_v$v.json"), false)
    }
    deleted
  }
}

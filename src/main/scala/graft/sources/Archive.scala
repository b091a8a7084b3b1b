package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Post-load file archival (SURVEY.md §2.1 S10/S11): move processed staging
  * objects to an archive prefix. The reference does copy_object +
  * delete_object per key with 404s tolerated
  * (reference: dags/etl/load_to_redshift.py:350-388) and a disabled local
  * variant (dags/etl/archive_files.py:11-36). Here it is one Hadoop
  * FileSystem call per file — the same code path works on local FS, HDFS,
  * and S3A (where rename = server-side copy + delete, exactly the
  * reference's semantics).
  *
  * Not a query operator — a data-plane utility with no Spark job attached.
  */
object Archive {

  /** Move every file matching `glob` under `srcDir` into `dstDir`
    * (created if missing). Missing/concurrent-deleted sources are skipped,
    * mirroring the reference's 404 tolerance. Returns destination paths of
    * the files actually moved.
    *
    * Object-store note: a per-FILE rename on S3A is itself a non-atomic
    * copy+delete, so a crash can leave a file in BOTH prefixes — the
    * same window the reference's per-key copy+delete has. The archive
    * step is therefore designed to be RE-RUN to convergence: when the
    * destination already holds a complete copy (same length), the
    * source is simply deleted; when it holds a PARTIAL copy (different
    * length — the crash hit mid-copy), the incomplete target is deleted
    * first so the retried rename actually converges — without either
    * branch, a half-moved file would wedge (rename refuses an existing
    * target) and stay in staging forever. A length tie with different
    * content is not distinguished here (archival copies the exact bytes
    * it reads; a racing writer mutating staging files during archival
    * is outside the contract). */
  def moveMatching(spark: SparkSession, srcDir: String, dstDir: String,
                   glob: String = "*"): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val src = new Path(srcDir)
    val fs = src.getFileSystem(conf)
    val dst = new Path(dstDir)
    if (!fs.exists(dst)) fs.mkdirs(dst)
    // a missing source dir is "no files"; a malformed glob or an I/O
    // error propagates instead of leaving landing files unarchived forever
    val matches =
      try fs.globStatus(new Path(src, glob))
      catch { case _: java.io.FileNotFoundException => null }
    Option(matches).getOrElse(Array.empty).toSeq
      .filter(_.isFile)
      .flatMap { st =>
        val target = new Path(dst, st.getPath.getName)
        try {
          val targetLen = try {
            Some(fs.getFileStatus(target).getLen)
          } catch { case _: java.io.FileNotFoundException => None }
          if (targetLen.contains(st.getLen)) {
            // prior run's interrupted move: finish the delete leg
            fs.delete(st.getPath, false)
            Some(target.toString)
          } else {
            // length mismatch = a crash mid-copy left an incomplete
            // target; remove it so the retried rename converges instead
            // of refusing the existing path on every re-run
            if (targetLen.isDefined) fs.delete(target, false)
            if (fs.rename(st.getPath, target)) Some(target.toString)
            else None
          }
        } catch { case _: java.io.FileNotFoundException => None }
      }
  }
}

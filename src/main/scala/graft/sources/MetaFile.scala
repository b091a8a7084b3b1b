package graft.sources

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one way the engine reads and writes a small metadata file —
  * replay markers, version manifests, stats sidecars, the run log and
  * the split base marker — so the crash posture of each is decided
  * here, once, instead of at every call site. Readers see a whole file
  * or none: [[createNew]] removes its own partial file when the write
  * fails, and [[replace]] publishes by rename (the reference's
  * `put_object` contract: a complete object or the previous one). */
object MetaFile {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** The file's content as UTF-8, or None when it does not exist. */
  def read(spark: SparkSession, path: Path): Option[String] = {
    val f = fs(spark, path)
    if (!f.exists(path)) None
    else {
      val in = f.open(path)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    }
  }

  /** Create `path` holding `text` — the commit point of a write-once
    * file. Creation never overwrites and never renames (object stores
    * implement it as a conditional PUT), so an already-existing file
    * still raises `FileAlreadyExistsException`: the caller's lost-race
    * signal. A write or close that fails after the create deletes the
    * partial file before rethrowing, so no reader ever sees it. */
  def createNew(spark: SparkSession, path: Path, text: String): Unit = {
    val f = fs(spark, path)
    f.mkdirs(path.getParent)
    val out = f.create(path, false)
    try { try out.write(text.getBytes(UTF_8)) finally out.close() }
    catch { case NonFatal(e) =>
      try f.delete(path, false) catch { case _: IOException => }
      throw e
    }
  }

  /** Write `text` to a `.tmp` sibling and rename it over `path`: a
    * crash before the rename leaves the previous file (or none) plus a
    * leftover sibling the next call overwrites. Where the store refuses
    * rename-over-existing, the old file is deleted first, shrinking the
    * torn-read window to the delete/rename instant. */
  def replace(spark: SparkSession, path: Path, text: String): Unit = {
    val f = fs(spark, path)
    val tmp = path.suffix(".tmp")
    f.mkdirs(path.getParent)
    val out = f.create(tmp, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    if (!f.rename(tmp, path)) {
      f.delete(path, false)
      if (!f.rename(tmp, path))
        throw new IOException(s"could not publish $path")
    }
  }
}

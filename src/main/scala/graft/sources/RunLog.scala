package graft.sources

import java.time.Instant

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Buffered run log pushed to object storage at run end — the
  * reference's `S3Logger` shape (reference: dags/etl/s3_logger.py:7-36:
  * a StringIO buffer behind a standard logger, `put_object` once when
  * the run finishes), re-expressed against the Hadoop filesystem API so
  * the same code writes `file://`, `hdfs://` or `s3a://` URIs
  * unchanged.
  *
  * Design points kept from the reference: lines buffer in memory (a log
  * write must never block on or fail from storage mid-run), the push is
  * ONE object write (atomic-ish visibility for log readers: the object
  * appears complete or not at all — no partially-flushed logs), and a
  * re-push overwrites (same `put_object` semantics).
  *
  * Thread-safe: executor-side code never logs here (the buffer lives on
  * the driver, like the reference's), but driver threads may share it.
  */
final class RunLog(spark: SparkSession, path: String) {

  private val buf = new StringBuilder

  private def append(level: String, msg: String): Unit = synchronized {
    buf.append(Instant.now().toString).append(" - ").append(level)
      .append(" - ").append(msg).append('\n')
  }

  def info(msg: String): Unit = append("INFO", msg)
  def warn(msg: String): Unit = append("WARN", msg)
  def error(msg: String): Unit = append("ERROR", msg)

  /** Current buffered content (diagnostic / spec access). */
  def content: String = synchronized(buf.toString)

  /** Write the whole buffer as ONE object at `path`, overwriting any
    * previous push — `put_object` semantics: readers see a complete log
    * or the previous one ([[MetaFile.replace]]: a `.tmp` sibling renamed
    * over the target). Returns the byte count written. */
  def push(): Long = {
    val text = content
    MetaFile.replace(spark, new Path(path), text)
    text.getBytes("UTF-8").length.toLong
  }
}

object RunLog {
  def apply(spark: SparkSession, path: String): RunLog =
    new RunLog(spark, path)
}

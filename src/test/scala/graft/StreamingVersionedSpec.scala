package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.operators.SnapshotDiff
import graft.sources.VersionedTable

/** The full loop closed: streaming snapshots commit as table VERSIONS
  * (manifest per trigger), and CDC runs off the table's own history —
  * no externally-kept snapshots, no torn reads (a crash between data
  * write and manifest write is an invisible orphan, retried by the
  * stream's checkpoint replay). */
class StreamingVersionedSpec extends SparkSpec {
  import spark.implicits._

  test("per-trigger commits version the stream; history diff is the CDC") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("graft_svt")
      .resolve("tbl").toString
    val input = MemoryStream[(Long, String, Double)]
    val ckpt = tempDir("ckpt-svt").toString
    val q = input.toDF().toDF("id", "seg", "bal").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) VersionedTable.commit(batch, root)
        ()
      }.start()
    try {
      input.addData((1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0))
      q.processAllAvailable()
      input.addData((1L, "A", 10.0), (2L, "B", 25.0), (4L, "C", 40.0))
      q.processAllAvailable()
      assert(VersionedTable.versions(spark, root) === Seq(1L, 2L))
      // CDC straight off the table's own history
      val d = SnapshotDiff.diff(
          VersionedTable.read(spark, root, Some(1L)),
          VersionedTable.read(spark, root, Some(2L)), Seq("id"))
        .select("id", "diff_status").as[(Long, String)].collect().toMap
      assert(d === Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
    } finally q.stop()
  }
}

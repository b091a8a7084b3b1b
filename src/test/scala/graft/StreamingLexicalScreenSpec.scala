package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ext.LexicalIndex
import graft.sources.VersionedTable
import graft.streaming.StreamingLexicalScreen

/** Streaming lexical decontamination: batches screen against the static
  * eval index, reports append once, replays converge. */
class StreamingLexicalScreenSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    tempDir(prefix).resolve("t").toString

  private def evalDocs = Seq(
    (0L, "alpha beta gamma delta epsilon zeta"),
    (1L, "one two three four five six seven"))
    .toDF("doc_id", "text")

  test("screenBatch: flags dups, commits once, replay converges") {
    val indexRoot = tmp("lexs_idx")
    val reportRoot = tmp("lexs_rep")
    LexicalIndex.create(evalDocs, indexRoot)

    val b0 = Seq((100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "plainly novel content entirely")).toDF("doc_id", "text")
    // the first delivery follows a crash that tore the marker's
    // temporary write: it must run exactly as a clean one
    MetaFileSpec.plantCrashedMarker(s"$reportRoot/_screen", 0L)
    val r0 = StreamingLexicalScreen.screenBatch(b0, 0L, indexRoot,
      reportRoot, threshold = 4.0)
    val rows0 = r0.as[(Long, Long, Long, Double, Boolean)].collect()
    assert(rows0.length === 1 && rows0(0)._1 === 100L && rows0(0)._5)
    assert(VersionedTable.versions(spark, reportRoot).length === 1)
    // "<report pre>", the format existing markers carry
    assert(MetaFileSpec.marker(s"$reportRoot/_screen", 0L) === "0")

    // replay batch 0: identical report, NO second append
    val r0b = StreamingLexicalScreen.screenBatch(b0, 0L, indexRoot,
      reportRoot, threshold = 4.0)
    assert(r0b.as[(Long, Long, Long, Double, Boolean)].collect().toSeq
      === rows0.toSeq)
    assert(VersionedTable.versions(spark, reportRoot).length === 1)

    // a NEW batch with identical content still commits (version guard,
    // not a content diff)
    StreamingLexicalScreen.screenBatch(b0, 1L, indexRoot, reportRoot, 4.0)
    assert(VersionedTable.versions(spark, reportRoot).length === 2)
    assert(VersionedTable.read(spark, reportRoot).count() === 2)
  }

  test("writer wiring: two triggers; audit log holds both reports") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val indexRoot = tmp("lexw_idx")
    val reportRoot = tmp("lexw_rep")
    LexicalIndex.create(evalDocs, indexRoot)
    val input = MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = StreamingLexicalScreen.screenWriter(
      input.toDF().toDF("doc_id", "text"), indexRoot, reportRoot,
      threshold = 4.0, checkpoint = tmp("ckpt-lex"),
      onBatch = (b, n) => seen.synchronized { seen += ((b, n)) },
      trigger = Trigger.ProcessingTime(0)).start()
    try {
      input.addData((200L, "one two three four five six seven"))
      q.processAllAvailable()
      input.addData((201L, "gamma delta epsilon alpha beta zeta"))
      q.processAllAvailable()
    } finally q.stop()
    assert(seen.map(_._1).toSeq === Seq(0L, 1L))
    assert(BatchMarkerSpec.markers(s"$reportRoot/_screen") === Set("b1"))
    val rep = VersionedTable.read(spark, reportRoot)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(rep.length === 2)
    assert(rep(0)._1 === 200L && rep(0)._2 === 1L && rep(0)._5)
    // word-order permutation of eval doc 0 still flags (BM25 is a bag
    // of terms — exactly the paraphrase case the span screen misses)
    assert(rep(1)._1 === 201L && rep(1)._2 === 0L && rep(1)._5)
  }
}

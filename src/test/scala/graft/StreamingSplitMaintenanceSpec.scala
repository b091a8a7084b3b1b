package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ext.SplitIndex
import graft.sources.VersionedTable
import graft.streaming.StreamingSplitMaintenance

/** Streaming split maintenance: arriving documents are absorbed into
  * the persisted split assignment (near-dups inherit their cluster's
  * side) and each batch's assignments land in a report table exactly
  * once, byte-identical across redeliveries. */
class StreamingSplitMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    tempDir(s"graft-ssm-$tag")
      .resolve("t").toString

  private def text(tag: String) = (0 until 60).map(t => s"$tag$t")
    .mkString(" ")
  private val seedCorpus = Seq(
    (10L, text("a")), (11L, text("a")),   // cluster rep 10
    (20L, text("b")),                     // singleton
    (30L, text("u30")), (31L, text("u31")))

  test("assignBatch: near-dup arrivals inherit their cluster's side; " +
      "replay returns the pinned report and appends nothing") {
    val root = tmp("assign"); val report = tmp("assign-rep")
    SplitIndex.create(seedCorpus.toDF("doc_id", "text"), root)
    val sideOf = SplitIndex.split(spark, root,
        Seq("train" -> 80, "eval" -> 20))
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap

    // batch: a twin of cluster-a (inherits side), a fresh singleton
    val b1 = Seq((100L, text("a")), (101L, text("z101")))
      .toDF("doc_id", "text")
    // the first delivery follows a crash that tore the marker's
    // temporary write: it must run exactly as a clean one
    MetaFileSpec.plantCrashedMarker(s"$root/_stream", 0L)
    val r1 = StreamingSplitMaintenance.assignBatch(b1, batchId = 0,
      root, report)
    val rows1 = r1.as[(Long, Long, String)].collect().sortBy(_._1)
    assert(rows1.map(_._1).toSeq === Seq(100L, 101L))
    val (rep100, side100) = (rows1(0)._2, rows1(0)._3)
    assert(rep100 === 10L, "twin did not join its near-dup cluster")
    assert(side100 === sideOf(10L), "twin did not inherit the side")
    assert(rows1(1)._2 === 101L) // fresh singleton reps itself
    assert(VersionedTable.read(spark, report).count() === 2L)
    val labelsVs = VersionedTable.versions(spark, root + "/labels")
    // "<report pre> <labels post>", the format existing markers carry
    assert(MetaFileSpec.marker(s"$root/_stream", 0L) ===
      s"0 ${labelsVs.last}")

    // replay the same batchId: identical rows, no second append, no
    // new labels version
    val r1b = StreamingSplitMaintenance.assignBatch(b1, batchId = 0,
      root, report)
    assert(r1b.as[(Long, Long, String)].collect().sortBy(_._1)
      === rows1)
    assert(VersionedTable.read(spark, report).count() === 2L)
    assert(VersionedTable.versions(spark, root + "/labels") === labelsVs)
  }

  test("replay reports against the PINNED labels version even after a " +
      "later batch merges the cluster under a smaller representative") {
    val root = tmp("pin"); val report = tmp("pin-rep")
    SplitIndex.create(seedCorpus.toDF("doc_id", "text"), root)
    // batch 0: twin of cluster a — rep 10 at this point
    val b0 = Seq((100L, text("a"))).toDF("doc_id", "text")
    val r0 = StreamingSplitMaintenance.assignBatch(b0, 0, root, report)
    assert(r0.as[(Long, Long, String)].head()._2 === 10L)
    // batch 1: doc 1 bridges cluster a (shares text a) — the whole
    // cluster's representative becomes 1 (the new global min)
    val b1 = Seq((1L, text("a"))).toDF("doc_id", "text")
    StreamingSplitMaintenance.assignBatch(b1, 1, root, report)
    assert(SplitIndex.labels(spark, root)
      .where($"doc_id" === 100L).select($"rep").head().getLong(0) === 1L)
    // replaying batch 0 must reproduce the ORIGINAL report (rep 10),
    // not today's view — and append nothing
    val n = VersionedTable.read(spark, report).count()
    val r0b = StreamingSplitMaintenance.assignBatch(b0, 0, root, report)
    assert(r0b.as[(Long, Long, String)].head()._2 === 10L)
    assert(VersionedTable.read(spark, report).count() === n)
  }

  test("writer wiring: two triggers through a real stream") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmp("writer"); val report = tmp("writer-rep")
    SplitIndex.create(seedCorpus.toDF("doc_id", "text"), root)
    val input = MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = StreamingSplitMaintenance.assignWriter(
      input.toDF().toDF("doc_id", "text"), root, report,
      checkpoint = tmp("ckpt"),
      onBatch = (b, v) => seen.synchronized { seen += ((b, v)) },
      trigger = Trigger.ProcessingTime(0)).start()
    try {
      input.addData((200L, text("a")), (201L, text("y201")))
      q.processAllAvailable()
      input.addData((210L, text("y201")))
      q.processAllAvailable()
    } finally q.stop()
    assert(seen.map(_._1).toSeq === Seq(0L, 1L))
    assert(BatchMarkerSpec.markers(s"$root/_stream") === Set("b1"))
    val rep = VersionedTable.read(spark, report)
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(rep.map(_._1).toSeq === Seq(200L, 201L, 210L))
    // trigger-2's doc near-dups trigger-1's 201 and inherits its side
    val by = rep.map(r => r._1 -> r).toMap
    assert(by(210L)._2 === 201L && by(210L)._3 === by(201L)._3)
    // and the maintained labels equal a fresh build on everything
    val all = seedCorpus ++ Seq((200L, text("a")), (201L, text("y201")),
      (210L, text("y201")))
    val fresh = tmp("writer-fresh")
    SplitIndex.create(all.toDF("doc_id", "text"), fresh)
    assert(SplitIndex.labels(spark, root)
      .as[(Long, Long)].collect().toMap
      === SplitIndex.labels(spark, fresh)
        .as[(Long, Long)].collect().toMap)
  }

  test("semantic regime: a stream carrying an embedding column " +
      "maintains BOTH posting families — a semantic twin with a " +
      "unique text inherits the side through the signature probe") {
    val root = tmp("sem"); val report = tmp("sem-rep")
    def bvec(axis: Int): Array[Float] =
      Array.tabulate(64)(j => if (j == axis) 1f else 0f)
    SplitIndex.createSemantic(
      seedCorpus.toDF("doc_id", "text"),
      seedCorpus.map { case (id, _) => (id, bvec(id.toInt)) }
        .toDF("vec_id", "embedding"),
      root)
    val sideOf = SplitIndex.split(spark, root,
        Seq("train" -> 80, "eval" -> 20))
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    // the arriving doc shares NO text with anything indexed — only its
    // vector (axis 20) links it to doc 20. Inheriting the side proves
    // the stored signature postings were probed, not just fingerprints.
    val b = Seq((200L, text("z200"), bvec(20)))
      .toDF("doc_id", "text", "embedding")
    val r = StreamingSplitMaintenance.assignBatch(b, batchId = 0,
      root, report)
    val row = r.as[(Long, Long, String)].head()
    assert(row._2 === 20L, "semantic twin did not join its cluster")
    assert(row._3 === sideOf(20L), "semantic twin did not inherit side")
    // the semantic posting family was maintained: the new vector's
    // signatures are committed, so FUTURE semantic twins of 200 find it
    assert(VersionedTable.read(spark, root + "/sigs")
      .where($"vec_id" === 200L).count() > 0L)
    // replay converges: same report row, nothing re-appended
    val n = VersionedTable.read(spark, report).count()
    val labelsVs = VersionedTable.versions(spark, root + "/labels")
    val rb = StreamingSplitMaintenance.assignBatch(b, batchId = 0,
      root, report)
    assert(rb.as[(Long, Long, String)].head() === row)
    assert(VersionedTable.read(spark, report).count() === n)
    assert(VersionedTable.versions(spark, root + "/labels") === labelsVs)
  }
}

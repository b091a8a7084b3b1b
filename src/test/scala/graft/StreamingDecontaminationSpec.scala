package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.sources.VersionedTable
import graft.streaming.StreamingDecontamination

/** The streaming decontamination loop: each micro-batch is cut against
  * the persisted span index, its report lands as an audit-log version,
  * its spans ingest for the next trigger — and a redelivered batch
  * converges to the identical state in every crash window the marker
  * scheme covers. */
class StreamingDecontaminationSpec extends SparkSpec {
  import spark.implicits._

  private val K = 3
  private def tmp(prefix: String) = tempDir(prefix).resolve("t").toString

  private val batch1 = Seq(
    (1L, "a b c d e f"),
    (2L, "x y z w q r"))
  private val batch2 = Seq(
    (10L, "a b c d e f"),    // exact copy of doc 1 → fully cut
    (11L, "d e f u v w"),    // leading 3-gram seen in doc 1 → partial cut
    (12L, "m n o p"))        // fresh → untouched

  private def reportMap(df: DataFrame): Map[Long, (Long, Long)] =
    df.select("doc_id", "n_before", "n_after")
      .as[(Long, Long, Long)].collect()
      .map { case (d, b, a) => d -> (b, a) }.toMap

  test("per-trigger cut + ingest: batch 2 dedups against batch 1") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val indexRoot = tmp("graft_sdx"); val reportRoot = tmp("graft_sdr")
    val input = MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = StreamingDecontamination.decontaminationWriter(
      input.toDF().toDF("doc_id", "text"), indexRoot, reportRoot, K,
      tmp("ckpt-sd"), onBatch = (b, v) => seen.synchronized { seen += ((b, v)) },
      trigger = Trigger.ProcessingTime(0)).start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    // one index version and one report version per batch
    assert(VersionedTable.versions(spark, indexRoot) === Seq(1L, 2L))
    assert(VersionedTable.versions(spark, reportRoot) === Seq(1L, 2L))
    assert(seen.toSeq === Seq((0L, 1L), (1L, 2L)))
    // the writer purged every marker below the last batch
    assert(BatchMarkerSpec.markers(s"$indexRoot/_ingest") === Set("b1"))
    // batch 1 cut against an empty index: everything passes through
    val r1 = reportMap(VersionedTable.read(spark, reportRoot, Some(1L)))
    assert(r1 === Map(1L -> ((6L, 6L)), 2L -> ((6L, 6L))))
    // batch 2 cut against batch 1's contribution: the copy is emptied,
    // the overlap loses its seen prefix run, fresh text is untouched
    val r2 = reportMap(VersionedTable.read(spark, reportRoot))
    assert(r2(10L) === ((6L, 0L)))
    assert(r2(11L) === ((6L, 3L)))
    assert(r2(12L) === ((4L, 4L)))
  }

  test("redelivered batch converges: same report, no duplicate versions") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val indexRoot = tmp("graft_sdx2"); val reportRoot = tmp("graft_sdr2")
    val b1 = batch1.toDF("doc_id", "text")
    val b2 = batch2.toDF("doc_id", "text")
    StreamingDecontamination.decontaminateBatch(b1, 0L, indexRoot,
      reportRoot, K)
    // batch 2 first arrives after a crash that tore its marker's
    // temporary write: the delivery runs as a clean one would
    MetaFileSpec.plantCrashedMarker(s"$indexRoot/_ingest", 1L)
    val first = reportMap(StreamingDecontamination.decontaminateBatch(
      b2, 1L, indexRoot, reportRoot, K))
    assert(first === Map(10L -> ((6L, 0L)), 11L -> ((6L, 3L)),
      12L -> ((4L, 4L))))
    // "<index pre> <report pre>", the format existing markers carry
    assert(MetaFileSpec.marker(s"$indexRoot/_ingest", 1L) === "1 1")
    val indexV = VersionedTable.versions(spark, indexRoot)
    val reportV = VersionedTable.versions(spark, reportRoot)
    // full redelivery of batch 1 (the crash-after-everything window):
    // the marker pins its pre-ingest index version, so the recomputed
    // report is the ORIGINAL pass-through one — not a cut against an
    // index that now contains the batch itself
    val replayed = reportMap(StreamingDecontamination.decontaminateBatch(
      b1, 0L, indexRoot, reportRoot, K))
    assert(replayed === Map(1L -> ((6L, 6L)), 2L -> ((6L, 6L))))
    assert(VersionedTable.versions(spark, indexRoot) === indexV)
    assert(VersionedTable.versions(spark, reportRoot) === reportV)
    // and batch 2 redelivery reproduces its own report identically
    val replayed2 = reportMap(StreamingDecontamination.decontaminateBatch(
      b2, 1L, indexRoot, reportRoot, K))
    assert(replayed2 === first)
    assert(VersionedTable.versions(spark, indexRoot) === indexV)
    assert(VersionedTable.versions(spark, reportRoot) === reportV)
  }

  test("crash window between marker and report commit converges") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val indexRoot = tmp("graft_sdx3"); val reportRoot = tmp("graft_sdr3")
    val b1 = batch1.toDF("doc_id", "text")
    val b2 = batch2.toDF("doc_id", "text")
    StreamingDecontamination.decontaminateBatch(b1, 0L, indexRoot,
      reportRoot, K)
    // simulate: batch 2's marker landed (index pre = 1, report pre = 1),
    // then crash before the report commit and the ingest — the marker is
    // the first write, so this is the earliest persisted crash window
    val markerDir = new java.io.File(s"$indexRoot/_ingest")
    markerDir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$indexRoot/_ingest/b1"),
      "1 1".getBytes("UTF-8"))
    assert(VersionedTable.versions(spark, indexRoot) === Seq(1L))
    assert(VersionedTable.versions(spark, reportRoot) === Seq(1L))
    // redelivery must finish the remaining steps exactly once each
    // (report commit + ingest), planned against the marker's versions
    val r = reportMap(StreamingDecontamination.decontaminateBatch(
      b2, 1L, indexRoot, reportRoot, K))
    assert(r(10L) === ((6L, 0L)))
    assert(VersionedTable.versions(spark, reportRoot) === Seq(1L, 2L))
    assert(VersionedTable.versions(spark, indexRoot) === Seq(1L, 2L))
    // and a second redelivery (crash-after-everything) changes nothing
    val again = reportMap(StreamingDecontamination.decontaminateBatch(
      b2, 1L, indexRoot, reportRoot, K))
    assert(again === r)
    assert(VersionedTable.versions(spark, reportRoot) === Seq(1L, 2L))
    assert(VersionedTable.versions(spark, indexRoot) === Seq(1L, 2L))
  }

  test("vacuum(keep 2) between triggers: loop continues, last batch replays") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val indexRoot = tmp("graft_sdx5"); val reportRoot = tmp("graft_sdr5")
    StreamingDecontamination.decontaminateBatch(
      batch1.toDF("doc_id", "text"), 0L, indexRoot, reportRoot, K)
    val b2 = batch2.toDF("doc_id", "text")
    val before = reportMap(StreamingDecontamination.decontaminateBatch(
      b2, 1L, indexRoot, reportRoot, K))
    // retention sweep with the loop's rule: keep >= 2 versions so the
    // last batch's pre-version (v1) stays readable for replay
    VersionedTable.vacuum(spark, indexRoot, keepVersions = 2)
    val replayed = reportMap(StreamingDecontamination.decontaminateBatch(
      b2, 1L, indexRoot, reportRoot, K))
    assert(replayed === before)
    // and the next batch proceeds against the surviving latest version
    val b3 = Seq((20L, "m n o p q r")).toDF("doc_id", "text") // overlaps 12
    val r3 = reportMap(StreamingDecontamination.decontaminateBatch(
      b3, 2L, indexRoot, reportRoot, K))
    assert(r3(20L)._1 === 6L)
    assert(r3(20L)._2 < 6L, s"batch-2 contribution not seen: $r3")
    assert(VersionedTable.versions(spark, indexRoot).size >= 3)
  }

  test("in-loop compaction: bounded index files, identical screens, replay intact") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val indexRoot = tmp("graft_sdc"); val reportRoot = tmp("graft_sdcr")
    val plainIndex = tmp("graft_sdcp"); val plainReport = tmp("graft_sdcpr")
    val batches = Seq(
      batch1,
      batch2,
      Seq((20L, "m n o p q r"), (21L, "f g h i j k")),
      Seq((30L, "a b c d e f"), (31L, "q r s t u v")))
    // armed loop INSIDE a running stream: compaction fires mid-stream
    // whenever the manifest exceeds 2 files
    val input = MemoryStream[(Long, String)]
    val q = StreamingDecontamination.decontaminationWriter(
      input.toDF().toDF("doc_id", "text"), indexRoot, reportRoot, K,
      tmp("ckpt-sdc"), trigger = Trigger.ProcessingTime(0),
      compactAboveFiles = 2).start()
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    // unarmed twin on separate roots: the screen CONTENT must not depend
    // on whether/when compaction ran
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingDecontamination.decontaminateBatch(
        b.toDF("doc_id", "text"), i.toLong, plainIndex, plainReport, K)
    }
    val armedReport = reportMap(VersionedTable.read(spark, reportRoot))
    val plainFinal = reportMap(VersionedTable.read(spark, plainReport))
    assert(armedReport === plainFinal)
    // the policy actually fired (extra compaction versions exist) and
    // bounded the manifest; the unarmed twin kept growing
    val armedV = VersionedTable.versions(spark, indexRoot)
    assert(armedV.size > batches.size,
      s"expected compaction commits beyond the ${batches.size} ingests: $armedV")
    val armedFiles = VersionedTable.fileCount(spark, indexRoot)
    val plainFiles = VersionedTable.fileCount(spark, plainIndex)
    assert(armedFiles <= 3,
      s"armed manifest must stay bounded: $armedFiles files")
    assert(plainFiles > armedFiles,
      s"unarmed manifest should have kept growing: $plainFiles vs $armedFiles")
    // index CONTENT is unchanged by the rewrites
    assert(VersionedTable.read(spark, indexRoot).distinct().count() ===
      VersionedTable.read(spark, plainIndex).distinct().count())
    // pre-compaction versions keep their exact file sets: the last
    // batch's marker pins a pre-ingest version that compaction has since
    // superseded — its replay must still recompute the identical report
    // through time travel (snapshot isolation inside the running loop)
    val lastId = batches.size - 1L
    val replayed = reportMap(StreamingDecontamination.decontaminateBatch(
      batches.last.toDF("doc_id", "text"), lastId, indexRoot, reportRoot,
      K, compactAboveFiles = 2))
    val lastCommitted = reportMap(
      VersionedTable.read(spark, reportRoot)
        .exceptAll(VersionedTable.read(spark, reportRoot,
          Some(VersionedTable.versions(spark, reportRoot).init.last))))
    assert(replayed === lastCommitted)
    assert(VersionedTable.versions(spark, indexRoot) === armedV,
      "replay must not re-ingest or re-compact")
  }

  test("re-sending an already-cut doc: no-op content, still audited") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val indexRoot = tmp("graft_sdx4"); val reportRoot = tmp("graft_sdr4")
    StreamingDecontamination.decontaminateBatch(
      batch1.toDF("doc_id", "text"), 0L, indexRoot, reportRoot, K)
    StreamingDecontamination.decontaminateBatch(
      batch2.toDF("doc_id", "text"), 1L, indexRoot, reportRoot, K)
    val reportV = VersionedTable.versions(spark, reportRoot)
    // doc 10 was fully cut in batch 2; re-sending it in a NEW batch cuts
    // it to nothing again (idempotent content) — and the batch-keyed
    // guard still records the audit row (the old content-diff guard
    // silently dropped any batch whose rows coincided with logged ones)
    val r = reportMap(StreamingDecontamination.decontaminateBatch(
      Seq((10L, "a b c d e f")).toDF("doc_id", "text"), 2L, indexRoot,
      reportRoot, K))
    assert(r === Map(10L -> ((6L, 0L))))
    val after = VersionedTable.versions(spark, reportRoot)
    assert(after.size === reportV.size + 1,
      s"new batch's audit row must be recorded: $reportV -> $after")
    val lastVersion = reportMap(
      VersionedTable.read(spark, reportRoot, Some(after.last))
        .exceptAll(VersionedTable.read(spark, reportRoot, Some(reportV.last))))
    assert(lastVersion === Map(10L -> ((6L, 0L))))
  }
}

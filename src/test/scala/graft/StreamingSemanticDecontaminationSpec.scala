package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ext.PqIndex
import graft.sources.VersionedTable
import graft.streaming.StreamingSemanticDecontamination

/** Streaming semantic decontamination: each micro-batch of embeddings
  * screens against the persisted IVF-PQ index, survivors ingest for the
  * next trigger, and a redelivered batch converges to identical state.
  */
class StreamingSemanticDecontaminationSpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def tmp(prefix: String) = {
    val p = tempDir(prefix)
      .resolve("t").toString
    p
  }

  test("screen -> ingest survivors -> re-sent batch flags; replay converges") {
    val indexRoot = tmp("graft_ssd_idx")
    val reportRoot = tmp("graft_ssd_rep")
    val seed = emb.where(col("vec_id") < 400)
    PqIndex.create(seed, indexRoot)
    val n0 = PqIndex.codes(spark, indexRoot).count()

    // batch 0: fresh vectors — survivors (not-contaminated) must ingest
    val b1 = emb.where(col("vec_id") >= 400 && col("vec_id") < 410)
    val r1 = StreamingSemanticDecontamination.screenBatch(
      b1, batchId = 0, indexRoot, reportRoot, nprobe = 4, tau2 = 1.0)
    val rep1 = r1.as[(Long, Option[Double], Boolean)].collect()
    assert(rep1.length === 10)
    val surv1 = rep1.count(!_._3)
    assert(PqIndex.codes(spark, indexRoot).count() === n0 + surv1)
    info(s"batch0: $surv1/10 survivors ingested")

    // batch 1: the SAME embeddings under new ids — every one must flag
    // (its twin is indexed if it survived; if its twin flagged, whatever
    // indexed vector flagged the twin still does — the index only grew)
    val b2 = b1.withColumn("vec_id", col("vec_id") + 100000L)
    // its first delivery follows a crash that tore the marker's
    // temporary write: it must run exactly as a clean one
    val preB2 = VersionedTable.versions(spark, indexRoot).last
    MetaFileSpec.plantCrashedMarker(s"$indexRoot/_screen", 1L)
    val r2 = StreamingSemanticDecontamination.screenBatch(
      b2, batchId = 1, indexRoot, reportRoot, nprobe = 4, tau2 = 1.0)
    // "<index pre> <report pre>", the format existing markers carry
    assert(MetaFileSpec.marker(s"$indexRoot/_screen", 1L) === s"$preB2 1")
    val rep2 = r2.as[(Long, Option[Double], Boolean)].collect()
    assert(rep2.length === 10 && rep2.forall(_._3),
      s"unflagged re-sent vectors: ${rep2.filterNot(_._3).mkString(",")}")
    // all-contaminated batch: version still advances, no codes added
    val nAfter = PqIndex.codes(spark, indexRoot).count()
    assert(nAfter === n0 + surv1)
    val vAfterB2 = VersionedTable.versions(spark, indexRoot).last
    val reportVersions = VersionedTable.versions(spark, reportRoot)

    // replay batch 1 (foreachBatch redelivery): identical report, no
    // duplicate report append, no duplicate ingest
    val r2b = StreamingSemanticDecontamination.screenBatch(
      b2, batchId = 1, indexRoot, reportRoot, nprobe = 4, tau2 = 1.0)
    assert(r2b.as[(Long, Option[Double], Boolean)].collect().sortBy(_._1)
      === rep2.sortBy(_._1))
    assert(VersionedTable.versions(spark, indexRoot).last === vAfterB2)
    assert(VersionedTable.versions(spark, reportRoot) === reportVersions)
    assert(PqIndex.codes(spark, indexRoot).count() === nAfter)
  }

  test("writer wiring: two triggers through a real stream") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val indexRoot = tmp("graft_ssdw_idx")
    val reportRoot = tmp("graft_ssdw_rep")
    PqIndex.create(emb.where(col("vec_id") < 400), indexRoot)
    val vecs = emb.where(col("vec_id") >= 400 && col("vec_id") < 405)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val input = MemoryStream[(Long, Array[Float])]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = StreamingSemanticDecontamination.screenWriter(
      input.toDF().toDF("vec_id", "embedding"), indexRoot, reportRoot,
      nprobe = 4, tau2 = 1.0, checkpoint = tmp("ckpt-ssd"),
      onBatch = (b, v) => seen.synchronized { seen += ((b, v)) },
      trigger = Trigger.ProcessingTime(0)).start()
    try {
      input.addData(vecs.toSeq: _*)
      q.processAllAvailable()
      input.addData(vecs.map { case (id, e) => (id + 100000L, e) }.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(seen.map(_._1).toSeq === Seq(0L, 1L))
    assert(BatchMarkerSpec.markers(s"$indexRoot/_screen") === Set("b1"))
    // trigger 2's re-sent vectors all flagged in the audit log
    val rep = VersionedTable.read(spark, reportRoot)
      .where(col("vec_id") >= 100000L)
      .select("contaminated").as[Boolean].collect()
    assert(rep.length === 5 && rep.forall(identity))
  }

  test("in-loop compaction bounds codes files without changing screens") {
    val indexRoot = tmp("graft_ssdc_idx")
    val reportRoot = tmp("graft_ssdc_rep")
    val plainIndex = tmp("graft_ssdc_pidx")
    val plainReport = tmp("graft_ssdc_prep")
    val seed = emb.where(col("vec_id") < 400)
    PqIndex.create(seed, indexRoot)
    PqIndex.create(seed, plainIndex)
    val slices = (0 until 4).map(i =>
      emb.where(col("vec_id") >= 400 + i * 10 &&
        col("vec_id") < 410 + i * 10))
    val armed = slices.zipWithIndex.map { case (b, i) =>
      StreamingSemanticDecontamination.screenBatch(b, i.toLong, indexRoot,
          reportRoot, nprobe = 4, tau2 = 1.0,
          compactAboveFiles = 2)
        .as[(Long, Option[Double], Boolean)].collect().sortBy(_._1).toSeq
    }
    val plain = slices.zipWithIndex.map { case (b, i) =>
      StreamingSemanticDecontamination.screenBatch(b, i.toLong, plainIndex,
          plainReport, nprobe = 4, tau2 = 1.0)
        .as[(Long, Option[Double], Boolean)].collect().sortBy(_._1).toSeq
    }
    // screen content is independent of the layout rewrites
    assert(armed === plain)
    // the manifest stayed bounded while the unarmed twin grew, and the
    // codes themselves are identical (a compaction is a pure layout move)
    val armedFiles = VersionedTable.fileCount(spark, indexRoot)
    assert(armedFiles <= 3, s"armed codes manifest: $armedFiles files")
    assert(VersionedTable.fileCount(spark, plainIndex) > armedFiles)
    assert(PqIndex.codes(spark, indexRoot).orderBy("vec_id").collect()
      === PqIndex.codes(spark, plainIndex).orderBy("vec_id").collect())
  }
}

package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ext.KnnGraphIndex
import graft.sources.VersionedTable
import graft.streaming.StreamingKnnGraph

/** Streaming maintenance of the persisted kNN graph: per trigger the
  * batch's novel vectors append to the lane-owned corpus table and the
  * graph absorbs them via local descent; a redelivered batch converges
  * to identical state and a re-sent id set is a no-op. */
class StreamingKnnGraphSpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def tmp(prefix: String) =
    tempDir(prefix).resolve("t").toString

  private def bootstrap(graphRoot: String, corpusRoot: String,
                        seedMax: Long): Unit = {
    val seed = emb.where(col("vec_id") < seedMax)
    KnnGraphIndex.create(seed, graphRoot)
    VersionedTable.commit(seed, corpusRoot)
  }

  test("ingest absorbs a trigger batch; replay and re-sent ids converge") {
    val graphRoot = tmp("graft_skg_g")
    val corpusRoot = tmp("graft_skg_c")
    bootstrap(graphRoot, corpusRoot, seedMax = 400L)
    val k = KnnGraphIndex.readModel(spark, graphRoot)._2.k

    val b1 = emb.where(col("vec_id") >= 400 && col("vec_id") < 410)
    // the first delivery follows a crash that tore the marker's
    // temporary write: it must run exactly as a clean one
    MetaFileSpec.plantCrashedMarker(s"$graphRoot/_stream", 0L)
    val v = StreamingKnnGraph.ingestBatch(b1, batchId = 0,
      graphRoot, corpusRoot)
    assert(v === 2L)
    // "<corpus pre>", the format existing markers carry
    assert(MetaFileSpec.marker(s"$graphRoot/_stream", 0L) === "1")
    // corpus table holds seed + batch; graph covers every id with k edges
    assert(VersionedTable.read(spark, corpusRoot).count() === 410L)
    val g = KnnGraphIndex.topK(spark, graphRoot)
    assert(g.count() === 410L * k)
    assert(g.where(col("vec_id") >= 400).select("vec_id")
      .distinct().count() === 10L)

    // replay the SAME batchId (foreachBatch redelivery after a crash
    // between checkpoint commits): no duplicate corpus rows, no new
    // graph version — byte-identical state
    val corpusVs = VersionedTable.versions(spark, corpusRoot)
    val graphVs = VersionedTable.versions(spark, graphRoot)
    val adjBefore = KnnGraphIndex.adjacency(spark, graphRoot)
      .collect().map(_.toSeq).toSet
    assert(StreamingKnnGraph.ingestBatch(b1, batchId = 0,
      graphRoot, corpusRoot) === v)
    assert(VersionedTable.versions(spark, corpusRoot) === corpusVs)
    assert(VersionedTable.versions(spark, graphRoot) === graphVs)
    assert(KnnGraphIndex.adjacency(spark, graphRoot)
      .collect().map(_.toSeq).toSet === adjBefore)

    // the same ids arriving as a NEW batch (an upstream re-send, not a
    // redelivery): the novelty filter drops every row — corpus count
    // and graph version unchanged (the empty append keeps the corpus
    // version monotone per batch, so later replays still converge)
    assert(StreamingKnnGraph.ingestBatch(b1, batchId = 1,
      graphRoot, corpusRoot) === v)
    assert(VersionedTable.read(spark, corpusRoot).count() === 410L)
    assert(VersionedTable.versions(spark, graphRoot) === graphVs)
    assert(VersionedTable.versions(spark, corpusRoot).size
      === corpusVs.size + 1)
  }

  test("writer wiring: two triggers through a real stream grow the graph") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val graphRoot = tmp("graft_skgw_g")
    val corpusRoot = tmp("graft_skgw_c")
    bootstrap(graphRoot, corpusRoot, seedMax = 400L)
    val k = KnnGraphIndex.readModel(spark, graphRoot)._2.k
    val t1 = emb.where(col("vec_id") >= 400 && col("vec_id") < 405)
      .as[(Long, Array[Float])].collect()
    val t2 = emb.where(col("vec_id") >= 405 && col("vec_id") < 410)
      .as[(Long, Array[Float])].collect()
    val input = MemoryStream[(Long, Array[Float])]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = StreamingKnnGraph.ingestWriter(
      input.toDF().toDF("vec_id", "embedding"), graphRoot, corpusRoot,
      checkpoint = tmp("ckpt-skg"),
      onBatch = (b, v) => seen.synchronized { seen += ((b, v)) },
      trigger = Trigger.ProcessingTime(0)).start()
    try {
      input.addData(t1.toSeq: _*)
      q.processAllAvailable()
      input.addData(t2.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(seen.map(_._1).toSeq === Seq(0L, 1L))
    assert(seen.map(_._2).toSeq === Seq(2L, 3L))
    assert(BatchMarkerSpec.markers(s"$graphRoot/_stream") === Set("b1"))
    // both triggers' vectors are first-class graph vertices
    val g = KnnGraphIndex.topK(spark, graphRoot)
    assert(g.count() === 410L * k)
    val degs = g.where(col("vec_id") >= 400)
      .groupBy(col("vec_id")).count().collect()
    assert(degs.length === 10 && degs.forall(_.getLong(1) === k.toLong))
    assert(VersionedTable.read(spark, corpusRoot).count() === 410L)
  }

  test("in-loop corpus compaction bounds files without changing the graph") {
    val armedG = tmp("graft_skgc_g"); val armedC = tmp("graft_skgc_c")
    val plainG = tmp("graft_skgp_g"); val plainC = tmp("graft_skgp_c")
    bootstrap(armedG, armedC, seedMax = 400L)
    bootstrap(plainG, plainC, seedMax = 400L)
    val slices = (0 until 4).map(i =>
      emb.where(col("vec_id") >= 400 + i * 10 &&
        col("vec_id") < 410 + i * 10))
    slices.zipWithIndex.foreach { case (b, i) =>
      StreamingKnnGraph.ingestBatch(b, i.toLong, armedG, armedC,
        compactAboveFiles = 2)
      StreamingKnnGraph.ingestBatch(b, i.toLong, plainG, plainC)
    }
    val armedFiles = VersionedTable.fileCount(spark, armedC)
    assert(armedFiles <= 3, s"armed corpus manifest: $armedFiles files")
    assert(VersionedTable.fileCount(spark, plainC) > armedFiles)
    // compaction is a pure layout move: corpus rows and the graph are
    // identical to the unarmed twin's
    assert(VersionedTable.read(spark, armedC).orderBy("vec_id")
      .select("vec_id").as[Long].collect().toSeq
      === VersionedTable.read(spark, plainC).orderBy("vec_id")
        .select("vec_id").as[Long].collect().toSeq)
    assert(KnnGraphIndex.adjacency(spark, armedG)
      .collect().map(_.toSeq).toSet
      === KnnGraphIndex.adjacency(spark, plainG)
        .collect().map(_.toSeq).toSet)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.ext.{PqIndex, ProductQuant}

/** Persisted IVF-PQ index (ext/PqIndex): frozen-model lifecycle —
  * create/ingest/query — and the path-equality contract that the
  * indexed search is the SAME computation as the fresh one. */
class PqIndexSpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def freshRoot(tag: String): String = {
    val p = tempDir(s"graft_pqindex_$tag").toString
    new java.io.File(p).delete() // VersionedTable owns creation
    p
  }

  test("indexed knn equals the fresh knnIvfPq bit-for-bit") {
    val root = freshRoot("eq")
    val corpus = emb
    PqIndex.create(corpus, root)
    PqIndex.create(corpus, root) // idempotent
    val queries = corpus.where(col("vec_id") < 10)
    val indexed = PqIndex.knn(spark, root, queries, k = 5, nprobe = 4,
        rerankFrom = corpus, refine = 200)
      .as[(Long, Long, Double, Long)].collect().toSeq.sorted
    val coarse = ProductQuant.coarseFit(corpus, nlist = 8)
    val cb = ProductQuant.pqFitIvf(corpus, coarse)
    val fresh = ProductQuant.knnIvfPq(corpus, queries, k = 5, coarse, cb,
        nprobe = 4, refine = 200)
      .as[(Long, Long, Double, Long)].collect().toSeq.sorted
    assert(indexed.nonEmpty && indexed === fresh)
  }

  test("ingest encodes with the FROZEN model and appends a version") {
    val root = freshRoot("ingest")
    val corpus = emb.where(col("vec_id") < 400)
    PqIndex.create(corpus, root)
    val modelBefore = PqIndex.readModel(spark, root)
    val n0 = PqIndex.codes(spark, root).count()
    val batch = emb.where(col("vec_id") >= 400 && col("vec_id") < 450)
    PqIndex.ingest(root, batch)
    val modelAfter = PqIndex.readModel(spark, root)
    assert(modelBefore._1.map(_.toSeq).toSeq
      === modelAfter._1.map(_.toSeq).toSeq)
    assert(modelBefore._2.map(_.map(_.toSeq).toSeq).toSeq
      === modelAfter._2.map(_.map(_.toSeq).toSeq).toSeq)
    assert(PqIndex.codes(spark, root).count() === n0 + batch.count())
    // an ingested vector is findable: query for an exact batch member
    val q = batch.where(col("vec_id") === 420)
    val hit = PqIndex.knn(spark, root, q, k = 1, nprobe = 8,
        rerankFrom = emb, refine = 50)
      .select("cand_id", "cos_sim").as[(Long, Double)].collect()
    assert(hit.nonEmpty)
    // ingested codes cover its cell, so its exact twin or a 1.0-cosine
    // duplicate ranks first if one exists; at minimum the search runs
    // against the appended version without refit
  }

  test("stale frozen codebooks: ingest refuses past the decade " +
      "boundary, allowStale overrides knowingly") {
    val root = freshRoot("stale")
    PqIndex.create(emb.where(col("vec_id") < 40), root) // buildN = 40
    assert(PqIndex.stalenessRatio(spark, root) === 1.0)
    // one in-bounds ingest grows the codes far past a decade of the
    // build count (the pre-ingest check sees the small index)
    PqIndex.ingest(root, emb.where(col("vec_id") >= 40 &&
      col("vec_id") < 480))
    assert(PqIndex.stalenessRatio(spark, root) === 480.0 / 40.0)
    val e = intercept[IllegalArgumentException] {
      PqIndex.ingest(root, emb.where(col("vec_id") === 480))
    }
    assert(e.getMessage.contains("STALE"))
    val v = PqIndex.ingest(root, emb.where(col("vec_id") === 480),
      allowStale = true)
    assert(v === graft.sources.VersionedTable.versions(spark, root).last)
    assert(PqIndex.codes(spark, root)
      .where(col("vec_id") === 480).count() === 1L)
  }

  test("semantic contamination flags re-sent vectors, separates fresh ones") {
    val root = freshRoot("contam")
    val corpus = emb.where(col("vec_id") < 400)
    PqIndex.create(corpus, root)
    // duplicates of indexed vectors under NEW ids — the contamination
    // case a training pipeline screens for
    val dups = corpus.where(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + 100000L)
    val screen = PqIndex.semanticContamination(spark, root, dups,
        nprobe = 4, tau2 = 1.0)
      .as[(Long, Option[Double], Boolean)].collect()
    assert(screen.length === 10)
    // a duplicate's ADC distance to its own code is its reconstruction
    // error (mean ~0.3 on this corpus) — all must flag at tau2=1.0
    assert(screen.forall(_._3),
      s"unflagged duplicates: ${screen.filterNot(_._3).mkString(", ")}")
    val dupMax = screen.flatMap(_._2).max
    assert(dupMax < 1.0)
    info(f"max dup ADC dist = $dupMax%.3f")
    // held-out corpus vectors (different label rows) sit farther out on
    // average than re-sent duplicates
    val fresh = emb.where(col("vec_id") >= 400 && col("vec_id") < 450)
    val freshScreen = PqIndex.semanticContamination(spark, root, fresh,
        nprobe = 4, tau2 = 1.0)
      .as[(Long, Option[Double], Boolean)].collect()
    val dupAvg = screen.flatMap(_._2).sum / screen.length
    val freshAvg = freshScreen.flatMap(_._2).sum / freshScreen.length
    info(f"avg ADC dist: dups=$dupAvg%.3f fresh=$freshAvg%.3f")
    assert(dupAvg < freshAvg,
      f"no separation: dups $dupAvg%.3f vs fresh $freshAvg%.3f")
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ext.{KnnGraph, KnnGraphIndex, Similarity}
import graft.sources.{VersionedStats, VersionedTable}

/** The persisted kNN graph (ext/KnnGraphIndex): build-once read-many,
  * read path ≡ fresh build, incremental ingest keeps the full-build
  * contract without a rebuild. */
class KnnGraphIndexSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    tempDir(s"graft-kgi-$tag").resolve("root").toAbsolutePath.toString

  // deterministic mixture fixture: 4 loose clusters of 30 in dim 8 —
  // clustered geometry so a 3-probe seed + one descent round reaches
  // high recall at fixture scale
  private val dim = 8
  private def vec(i: Long): Array[Float] = {
    val c = (i % 4).toInt
    Array.tabulate(dim) { d =>
      val base = if (d % 4 == c) 4.0f else 0.5f
      base + ((i * 31 + d * 7) % 11).toFloat / 10f
    }
  }
  private def corpusDf(ids: Seq[Long]) =
    ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")

  private val allIds = (0L until 120L)
  private val baseIds = allIds.filter(_ % 10 != 0)
  private val batchIds = allIds.filter(_ % 10 == 0)

  test("create persists the descent build: topK off the asset equals " +
      "the fresh build exactly; re-create is a no-op") {
    val root = fresh("create")
    val corpus = corpusDf(allIds)
    KnnGraphIndex.create(corpus, root)
    assert(VersionedTable.versions(spark, root) === Seq(1L))
    val (centroids, p) = KnnGraphIndex.readModel(spark, root)
    val freshBuild = KnnGraph.knnGraphDescent(corpus, p.k, centroids,
        p.nprobe, p.degree, p.iters, p.targetCell, p.seed)
      .collect().map(_.toSeq).toSet
    val indexed = KnnGraphIndex.topK(spark, root)
      .collect().map(_.toSeq).toSet
    assert(indexed === freshBuild)
    // second create: no new version, no refit
    KnnGraphIndex.create(corpus, root)
    assert(VersionedTable.versions(spark, root) === Seq(1L))
    // stats sidecar carries the adjacency row count (the catalog stat)
    val stat = VersionedStats.statsFor(spark, root).map(_._1)
    assert(stat.contains(VersionedTable.read(spark, root).count()))
  }

  test("build determinism across roots: two creates of the same corpus " +
      "commit identical adjacencies") {
    val corpus = corpusDf(allIds)
    val r1 = fresh("det1"); val r2 = fresh("det2")
    KnnGraphIndex.create(corpus, r1)
    KnnGraphIndex.create(corpus, r2)
    val a = KnnGraphIndex.adjacency(spark, r1)
      .collect().map(_.toSeq).toSet
    val b = KnnGraphIndex.adjacency(spark, r2)
      .collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("ingest absorbs a batch without rebuild: completeness, recall, " +
      "locality, idempotence") {
    val root = fresh("ingest")
    val base = corpusDf(baseIds)
    val all = corpusDf(allIds)
    val batch = corpusDf(batchIds)
    KnnGraphIndex.create(base, root)
    val v1 = KnnGraphIndex.adjacency(spark, root)
      .collect().map(_.toSeq).toSet
    val v2n = KnnGraphIndex.ingest(root, all, batch)
    assert(v2n === 2L)
    val (_, p) = KnnGraphIndex.readModel(spark, root)
    // completeness: every corpus vector — old and ingested — has
    // exactly k ranked edges
    val g = KnnGraphIndex.topK(spark, root)
    val degs = g.groupBy($"vec_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(degs.keySet === allIds.toSet)
    assert(degs.values.forall(_ == p.k.toLong))
    // recall: the ingested vectors' edges vs brute force over the full
    // corpus clear the library floor (a seed-only or batch-blind ingest
    // fails this on the clustered fixture)
    val queries = all.join(batchIds.toDF("vec_id"), Seq("vec_id"),
      "left_semi")
    val recall = Similarity.recallFraction(
        g.join(batchIds.toDF("vec_id"), Seq("vec_id"), "left_semi")
          .select($"vec_id".as("query_id"), $"neighbor_id".as("cand_id")),
        all, queries, k = p.k)
      .select($"recall").head().getDouble(0)
    assert(recall >= 0.6, s"ingested-vector recall $recall under floor")
    // locality: ingest touches the affected neighborhood, not the
    // whole graph — some old vertices' lists change (they gained a new
    // near neighbor), but not all of them
    val v2 = KnnGraphIndex.adjacency(spark, root)
      .collect().map(_.toSeq).toSet
    val changedOld = (v2 diff v1).map(_.head.asInstanceOf[Long])
      .filter(_ % 10 != 0)
    assert(changedOld.size < baseIds.size,
      "ingest rewrote every old vertex — no locality")
    // old vertices never sighted with a new candidate carry over
    // byte-identical (their v1 rows are still present verbatim)
    val untouched = baseIds.toSet -- changedOld
    assert(untouched.nonEmpty)
    assert(v1.filter(r => untouched(r.head.asInstanceOf[Long]))
      .subsetOf(v2))
    // idempotence: re-ingesting the same batch is a no-op
    assert(KnnGraphIndex.ingest(root, all, batch) === 2L)
    assert(VersionedTable.versions(spark, root) === Seq(1L, 2L))
  }

  test("create crash recovery: a model with no committed version is " +
      "completed FROM THE STORED MODEL, never re-fit") {
    // build a full asset on corpus A, then reconstruct the crash window
    // at a second root: _model present, no version committed
    val rootA = fresh("crashA"); val rootB = fresh("crashB")
    val corpusA = corpusDf(allIds)
    // corpus B: different vectors (shifted id stream) — a re-fit on B
    // would freeze different centroids than A's stored model
    val corpusB = corpusDf(allIds.map(_ + 1000L))
    KnnGraphIndex.create(corpusA, rootA)
    val conf = spark.sessionState.newHadoopConf()
    val src = new org.apache.hadoop.fs.Path(rootA, "_model")
    val dst = new org.apache.hadoop.fs.Path(rootB, "_model")
    val fs = src.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
    // retry against the CURRENT corpus (B): must commit an adjacency
    // consistent with the frozen A-model — seeds/params from the stored
    // centroids, not a fresh fit on B
    KnnGraphIndex.create(corpusB, rootB)
    assert(VersionedTable.versions(spark, rootB) === Seq(1L))
    val (centA, pA) = KnnGraphIndex.readModel(spark, rootA)
    val (centB, pB) = KnnGraphIndex.readModel(spark, rootB)
    assert(pB === pA)
    assert(centB.map(_.toSeq).toSeq === centA.map(_.toSeq).toSeq)
    val expected = KnnGraph.knnGraphDescent(corpusB, pA.k, centA,
        pA.nprobe, pA.degree, pA.iters, pA.targetCell, pA.seed)
      .collect().map(_.toSeq).toSet
    assert(KnnGraphIndex.topK(spark, rootB)
      .collect().map(_.toSeq).toSet === expected)
  }

  test("params round-trip typed: a seed above 2^53 survives exactly") {
    val root = fresh("seed")
    val bigSeed = (1L << 55) + 3L // not representable as a Double
    KnnGraphIndex.create(corpusDf(allIds), root, seed = bigSeed)
    val (_, p) = KnnGraphIndex.readModel(spark, root)
    assert(p.seed === bigSeed)
    assert(p.buildN === allIds.size.toLong)
  }

  test("stale frozen model: ingest refuses past the decade boundary, " +
      "allowStale overrides knowingly") {
    val root = fresh("stale")
    val seedIds = (0L until 12L)
    KnnGraphIndex.create(corpusDf(seedIds), root) // buildN = 12
    // the metadata-only ratio (rows/degree vs buildN) biases LOW on tiny
    // corpora (a 12-vector vertex can't have 18 neighbors) — that only
    // DELAYS the signal, never false-fires; assert the loose band
    val r0 = KnnGraphIndex.stalenessRatio(spark, root)
    assert(r0 > 0.0 && r0 <= 1.0, s"ratio $r0")
    // grow the index far past a decade of the build count in one
    // in-bounds ingest (the pre-ingest check sees the SMALL index)
    val grown = seedIds ++ (100L until 400L)
    KnnGraphIndex.ingest(root, corpusDf(grown), corpusDf(100L until 400L))
    val r1 = KnnGraphIndex.stalenessRatio(spark, root)
    assert(r1 >= KnnGraphIndex.StaleDecade, s"ratio $r1")
    val e = intercept[IllegalArgumentException] {
      KnnGraphIndex.ingest(root, corpusDf(grown ++ Seq(999L)),
        corpusDf(Seq(999L)))
    }
    assert(e.getMessage.contains("STALE"))
    // a replayed ALL-DUPLICATE batch stays a no-op even on the stale
    // index: the streaming lane's crash-replay convergence re-sends a
    // batch whose ids are all absorbed — refusing it would wedge the
    // stream on work the ingest does not do (the no-op short-circuit
    // runs BEFORE the staleness require)
    val latest = VersionedTable.versions(spark, root).last
    assert(KnnGraphIndex.ingest(root, corpusDf(grown),
      corpusDf(100L until 400L)) === latest)
    // the loud refusal is an earned signal, not a dead end
    val v = KnnGraphIndex.ingest(root, corpusDf(grown ++ Seq(999L)),
      corpusDf(Seq(999L)), allowStale = true)
    assert(KnnGraphIndex.topK(spark, root)
      .where($"vec_id" === 999L).count() > 0)
    assert(v === VersionedTable.versions(spark, root).last)
  }

  test("legacy dims-packed model: readModel degrades by schema, " +
      "staleness degrades open, ingest still works") {
    val root = fresh("legacy-src")
    KnnGraphIndex.create(corpusDf(baseIds), root)
    val (cents, p) = KnnGraphIndex.readModel(spark, root)
    // replica root with the PRE-typed-columns model layout: params
    // packed into the dims array (k, nprobe, degree, iters,
    // targetCell, seed), no build_n column — what every persisted
    // root written before the schema change still holds on disk
    val legacyRoot = fresh("legacy")
    val src = java.nio.file.Paths.get(root)
    val dst = java.nio.file.Paths.get(legacyRoot)
    java.nio.file.Files.walk(src).forEach { from =>
      val to = dst.resolve(src.relativize(from))
      if (java.nio.file.Files.isDirectory(from))
        java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(from, to)
    }
    val mp = new java.io.File(legacyRoot, "_model")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(mp)
    val legacyRows = cents.zipWithIndex.map { case (c, j) =>
        ("centroid", j, c.toSeq) } :+
      (("params", 0, Seq[Double](p.k, p.nprobe, p.degree, p.iters,
        p.targetCell, p.seed.toDouble)))
    legacyRows.toSeq.toDF("kind", "code", "dims")
      .coalesce(1).write.parquet(mp.getAbsolutePath)
    val (c2, p2) = KnnGraphIndex.readModel(spark, legacyRoot)
    assert(c2.map(_.toSeq).toSeq === cents.map(_.toSeq).toSeq)
    assert((p2.k, p2.nprobe, p2.degree, p2.iters, p2.targetCell,
      p2.seed) === (p.k, p.nprobe, p.degree, p.iters, p.targetCell,
      p.seed))
    assert(p2.buildN === 0L) // the legacy sentinel
    // no build stat → the advisory staleness check degrades OPEN
    assert(KnnGraphIndex.stalenessRatio(spark, legacyRoot) === 0.0)
    // and the root keeps working: ingest absorbs a batch
    val v = KnnGraphIndex.ingest(legacyRoot, corpusDf(allIds),
      corpusDf(batchIds))
    assert(v === VersionedTable.versions(spark, legacyRoot).last)
    assert(KnnGraphIndex.topK(spark, legacyRoot)
      .where($"vec_id".isin(batchIds.map(java.lang.Long.valueOf): _*))
      .count() > 0)
  }

  test("ingest failure mid-descent leaks no cached corpus projection") {
    val root = fresh("leak")
    KnnGraphIndex.create(corpusDf(baseIds), root)
    // ledger: RDD ids with materialized cached blocks before the ingest
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    // a poisoned row detonates when the corpus projection is SCANNED —
    // i.e. inside the seed job, after the projection is persisted and
    // before any commit (the fresh-id probe only reads batch vec_ids,
    // so column pruning keeps it clear of the poison)
    val poisoned = corpusDf(baseIds :+ 9999L)
      .withColumn("embedding",
        when(assert_true(col("vec_id") =!= 9999L).isNull,
          col("embedding")))
    intercept[Exception] {
      KnnGraphIndex.ingest(root, poisoned, Seq((9999L, vec(9999L)))
        .toDF("vec_id", "embedding"))
    }
    // the finally-unpersist is non-blocking — poll briefly for the
    // cached corpus projection's blocks to drain. A leak (no finally)
    // never drains: nothing unpersists and no GC pressure frees it.
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var now = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    while (now.diff(before).nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(100)
      now = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    }
    assert(now.diff(before).isEmpty,
      s"failed ingest left cached blocks: rdd ids ${now.diff(before)}")
    assert(VersionedTable.versions(spark, root) === Seq(1L))
  }

  test("ingest determinism: two roots ingesting the same batch commit " +
      "identical adjacencies") {
    val base = corpusDf(baseIds)
    val all = corpusDf(allIds)
    val batch = corpusDf(batchIds)
    val r1 = fresh("idet1"); val r2 = fresh("idet2")
    KnnGraphIndex.create(base, r1); KnnGraphIndex.ingest(r1, all, batch)
    KnnGraphIndex.create(base, r2); KnnGraphIndex.ingest(r2, all, batch)
    val a = KnnGraphIndex.adjacency(spark, r1)
      .collect().map(_.toSeq).toSet
    val b = KnnGraphIndex.adjacency(spark, r2)
      .collect().map(_.toSeq).toSet
    assert(a === b)
  }
}

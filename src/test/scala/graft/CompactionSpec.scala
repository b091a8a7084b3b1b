package graft

import org.apache.spark.sql.functions._

import graft.sources.Compaction

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("compactVersioned: OPTIMIZE as a transactional version commit") {
    import graft.sources.VersionedTable
    val root = tempDir("graft_cvt")
      .resolve("tbl").toString
    // 10 append commits of 2-partition writes → a fragmented table
    (0 until 10).foreach { i =>
      VersionedTable.commit(
        (i * 100 until (i + 1) * 100).map(j => (j.toLong, s"v$j"))
          .toDF("k", "v").repartition(2),
        root, append = i > 0)
    }
    def fileCount(v: Long): Int =
      VersionedTable.read(spark, root, Some(v)).inputFiles.length
    assert(VersionedTable.versions(spark, root).size === 10)
    assert(fileCount(10L) >= 20) // ~2 files per append
    val before = VersionedTable.read(spark, root)
      .as[(Long, String)].collect().sortBy(_._1).toSeq

    val v11 = Compaction.compactVersioned(spark, root, Seq(col("k")),
      targetRowsPerFile = 250L)
    assert(v11 === 11L)
    // content-identical, far fewer files, clustered ranges
    val after = VersionedTable.read(spark, root)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(after === before)
    assert(fileCount(11L) === 4) // ceil(1000/250)
    // a pre-compaction reader is untouched (its file set still exists)
    assert(fileCount(10L) >= 20)
    assert(VersionedTable.read(spark, root, Some(10L)).count() === 1000L)
    // vacuum reclaims the fragmented history; the compacted layout stays
    val deleted = VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(deleted >= 20L)
    assert(VersionedTable.read(spark, root)
      .as[(Long, String)].collect().sortBy(_._1).toSeq === before)
    assert(fileCount(11L) === 4)
  }

  test("OPTIMIZE carries the stats sidecar forward — catalog stays warm") {
    import graft.sources.{VersionedStats, VersionedTable}
    val root = tempDir("graft_cvs")
      .resolve("tbl").toString
    val df = ((0 until 3000).map(i => (7L, i.toLong)) ++
      (0 until 7000).map(i => (i % 700 + 100L, i.toLong))).toDF("k", "v")
    VersionedStats.commitWithStats(df.repartition(8), root, Seq("k"),
      hhCols = Seq("k"))
    val Some(statsBefore) = VersionedStats.statsFor(spark, root)
    val Some(hhBefore) = VersionedStats.heavyHittersFor(spark, root)
    val v2 = Compaction.compactVersioned(spark, root, Seq(col("k")),
      targetRowsPerFile = 5000L)
    assert(v2 === 2L)
    // the rewrite changed files, not rows: the sidecar is byte-equal,
    // and skew-aware planning still runs from the catalog
    assert(VersionedStats.statsFor(spark, root) === Some(statsBefore))
    assert(VersionedStats.heavyHittersFor(spark, root) === Some(hhBefore))
    val dimRoot = tempDir("graft_cvd")
      .resolve("tbl").toString
    VersionedStats.commitWithStats(
      (0L until 800L).map(k => (k + 7L, s"d$k")).toDF("k", "name"),
      dimRoot, Seq("k"))
    val (_, d) = VersionedStats.adaptiveVersionedJoin(spark, root, dimRoot,
      "k", broadcastMaxRows = 0L, shufflePartitions = 32)
    assert(d.strategy === "salted", d)
  }
}

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  test("batch docs already in the corpus are not counted as new") {
    val corpus = Seq(
      (1L, "alpha beta gamma", "en"),
      (2L, "uno dos tres", "es"))
      .toDF("doc_id", "text", "lang")
    val batch = Seq(
      (10L, "Alpha  beta GAMMA", "en"), // same canonical fingerprint as 1
      (11L, "delta epsilon", "en"),     // new
      (12L, "uno dos tres", "es"),      // dup of 2
      (13L, "cuatro cinco", "es"))      // new
      .toDF("doc_id", "text", "lang")
    val r = graft.ext.TextAnalysis
      .incrementalDedupReport(corpus, batch, Seq("lang"))
      .as[(String, Long, Long)].collect().toSeq
    assert(r === Seq(("en", 2L, 1L), ("es", 2L, 1L)))
  }
}

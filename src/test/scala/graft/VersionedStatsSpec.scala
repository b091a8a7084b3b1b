package graft

import org.apache.spark.sql.functions._

import graft.functions.JoinSizeSketch
import graft.sources.{VersionedStats, VersionedTable}

/** Stats maintained at write time: the stored sidecar must reproduce
  * the on-demand sketch bit-for-bit, drive the same join decision with
  * zero pre-decision scans, and degrade gracefully when absent. */
class VersionedStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = tempDir("graft_vstats").resolve("tbl").toString

  test("sidecar stats equal the on-demand sketch bit-for-bit") {
    val root = tmp()
    val df = (0L until 5000L).map(i => (i % 700, s"v$i")).toDF("k", "v")
    val v = VersionedStats.commitWithStats(df, root, Seq("k"))
    assert(v === 1L)
    val Some((rows, sketches)) = VersionedStats.statsFor(spark, root)
    assert(rows === 5000L)
    val onDemand = VersionedTable.read(spark, root)
      .agg(JoinSizeSketch.agmsSketch(col("k"), 256).as("s"))
      .as[Seq[Long]].head()
    assert(sketches("k") === onDemand)
  }

  test("append commits carry combined stats") {
    val root = tmp()
    VersionedStats.commitWithStats(
      (0L until 100L).map(i => (i, "a")).toDF("k", "v"), root, Seq("k"))
    VersionedStats.commitWithStats(
      (100L until 300L).map(i => (i, "b")).toDF("k", "v"), root, Seq("k"),
      append = true)
    val Some((rows, sk)) = VersionedStats.statsFor(spark, root)
    assert(rows === 300L) // the appended snapshot, not just the delta
    val Some((rowsV1, _)) = VersionedStats.statsFor(spark, root, Some(1L))
    assert(rowsV1 === 100L) // each version keeps its own stats
    // the append's sidecar was MERGED (prior sketch + delta sketch, the
    // batch-cost maintenance path) — AGMS counters are exact sums, so
    // it must be bit-identical to a from-scratch pass over the snapshot
    val fromScratch = VersionedTable.read(spark, root)
      .agg(JoinSizeSketch.agmsSketch(col("k"), 256).as("s"))
      .as[Seq[Long]].head()
    assert(sk("k") === fromScratch)
  }

  test("corrupt sidecar degrades to None, never a failure") {
    val root = tmp()
    VersionedStats.commitWithStats(
      (0 until 1000).map(i => (i % 50 + 1L, i)).toDF("k", "v"), root,
      Seq("k"), hhCols = Seq("k"))
    assert(VersionedStats.statsFor(spark, root).isDefined)
    assert(VersionedStats.heavyHittersFor(spark, root).isDefined)
    // stomp the sidecar with garbage that still matches the outer shape
    val p = java.nio.file.Paths.get(root, "_stats", "v1.json")
    java.nio.file.Files.write(p,
      """{"rows": 99999999999999999999999, "sketches": {"k": [1,,2]},
         "hh": {"k": {"cap": 4, "items": [["zz",1]]}}}"""
        .getBytes("UTF-8"))
    assert(VersionedStats.statsFor(spark, root) === None)
    // hh items parse to empty ("zz" is not hex) → advisory None
    assert(VersionedStats.heavyHittersFor(spark, root).isEmpty
      || VersionedStats.heavyHittersFor(spark, root).get("k")._2.isEmpty)
    // and the planner path still answers correctly via on-demand stats
    val dimRoot = tmp()
    VersionedStats.commitWithStats(
      (1L to 50L).map(k => (k, k)).toDF("k", "w"), dimRoot, Seq("k"))
    val (joined, d) = VersionedStats.adaptiveVersionedJoin(
      spark, root, dimRoot, "k")
    assert(d.strategy === "broadcast_small")
    assert(joined.count() === 1000L)
  }

  test("sidecar-hostile column names are rejected loudly at write time") {
    val root = tmp()
    val df = Seq((1L, "a")).toDF("k\"q", "v")
    val e = intercept[IllegalArgumentException] {
      VersionedStats.commitWithStats(df, root, Seq("k\"q"))
    }
    assert(e.getMessage.contains("unsupported"))
  }

  test("statsFor only answers for committed versions") {
    val root = tmp()
    VersionedStats.commitWithStats(
      (0 until 100).map(i => (i.toLong, i)).toDF("k", "v"), root, Seq("k"))
    // a sidecar for a version that was never committed (leftover from a
    // crashed writer, or planted) must not be served as stats
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_stats", "v9.json"),
      """{"rows": 5, "sketches": {"k": [1,2]}}""".getBytes("UTF-8"))
    assert(VersionedStats.statsFor(spark, root, Some(9L)) === None)
    assert(VersionedStats.heavyHittersFor(spark, root, Some(9L)) === None)
    assert(VersionedStats.statsFor(spark, root, Some(1L)).isDefined)
  }

  test("vacuum sweeps the stats sidecars of reclaimed versions") {
    val root = tmp()
    VersionedStats.commitWithStats(
      (0 until 100).map(i => (i.toLong, i)).toDF("k", "v"), root, Seq("k"))
    VersionedStats.commitWithStats(
      (100 until 200).map(i => (i.toLong, i)).toDF("k", "v"), root,
      Seq("k"), append = true)
    VersionedStats.commitWithStats(
      (200 until 300).map(i => (i.toLong, i)).toDF("k", "v"), root,
      Seq("k"), append = true)
    assert(VersionedStats.statsFor(spark, root, Some(1L)).isDefined)
    VersionedTable.vacuum(spark, root, keepVersions = 2)
    // v1's manifest AND sidecar are gone; kept versions keep their stats
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_stats", "v1.json")))
    assert(VersionedStats.statsFor(spark, root, Some(1L)) === None)
    assert(VersionedStats.statsFor(spark, root, Some(3L)).isDefined)
  }

  test("append-path sidecar reflects committed bytes, not a df re-run") {
    // a non-deterministic input plan: the key column flips on every
    // evaluation, so a sidecar computed by RE-RUNNING df would disagree
    // with the committed file with probability ~1
    val root = tmp()
    VersionedStats.commitWithStats(
      (0 until 50).map(i => (i.toLong, i)).toDF("k", "v"), root, Seq("k"))
    val nonDet = spark.range(2000)
      .select((col("id") + (rand() * 1000000).cast("long")).as("k"),
        col("id").as("v"))
    VersionedStats.commitWithStats(nonDet, root, Seq("k"), append = true)
    val Some((rows, sk)) = VersionedStats.statsFor(spark, root)
    assert(rows === 2050L)
    val fromCommitted = VersionedTable.read(spark, root)
      .agg(JoinSizeSketch.agmsSketch(col("k"), 256).as("s"))
      .as[Seq[Long]].head()
    assert(sk("k") === fromCommitted,
      "append sidecar must be computed from the committed files")
  }
}

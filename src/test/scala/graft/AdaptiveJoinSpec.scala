package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.SketchAggregates
import graft.operators.AdaptiveJoin
import graft.sources.{VersionedStats, VersionedTable}

/** Skew-aware join planning: the four-way rule must pick each arm for
  * the fixture built to trigger it, every arm must return identical
  * rows, the measured hot share must respect the Misra-Gries bound, and
  * the stored-stats path must reach the same decision as on-demand
  * measurement. */
class AdaptiveJoinSpec extends SparkSpec {
  import spark.implicits._

  // 30 %-hot fixture: key 7 owns 3000 of 10000 rows, the rest spread
  // uniformly over 700 cold keys; dim covers keys 0..699 plus 7.
  private lazy val hotBig: DataFrame =
    ((0 until 3000).map(i => (7L, i.toLong)) ++
      (0 until 7000).map(i => (i % 700 + 100L, i.toLong)))
      .toDF("k", "v").repartition(4, col("v"))
  private lazy val dim: DataFrame =
    (0L until 800L).map(k => (k + 7L, s"d$k")).toDF("k", "name")

  private def plainJoin(big: DataFrame, small: DataFrame): Seq[String] =
    big.join(small, Seq("k")).collect().map(_.toString).sorted.toSeq

  test("measure surfaces the hot key within the Misra-Gries bound") {
    val s = AdaptiveJoin.measure(hotBig, "k", hhCapacity = 64)
    assert(s.rows === 10000L)
    val (item, est) = s.hh.head
    assert(item === "7")
    // MG estimates under-count by at most rows/capacity
    assert(est <= 3000L && est >= 3000L - 10000L / 64)
  }

  test("arm 1: a dim that fits broadcasts — skew is moot without a shuffle") {
    val (df, d) = AdaptiveJoin.adaptiveJoin(hotBig, dim, "k")
    assert(d.strategy === "broadcast_small")
    assert(d.salts === 0)
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"), phys.take(400))
    assert(df.collect().map(_.toString).sorted.toSeq === plainJoin(hotBig, dim))
  }

  test("arm 2: hot key + non-broadcastable dim salts, sized from the share") {
    val (df, d) = AdaptiveJoin.adaptiveJoin(hotBig, dim, "k",
      broadcastMaxRows = 0L, shufflePartitions = 32)
    assert(d.strategy === "salted")
    assert(d.hotKey === Some("7"))
    assert(d.hotShare > 0.28 && d.hotShare <= 0.30, s"share ${d.hotShare}")
    // ceil(share * 32) with the MG under-count: 0.285..0.30 * 32 -> 10
    assert(d.salts === 10, s"salts ${d.salts}")
    assert(df.collect().map(_.toString).sorted.toSeq === plainJoin(hotBig, dim))
  }

  test("arm 3: selective join blooms; arm 4: non-selective merges") {
    val uniformBig = (0 until 20000).map(i => (i % 2000 + 0L, i.toLong))
      .toDF("k", "v")
    val tinyMatch = (0L until 10L).map(k => (k, s"d$k")).toDF("k", "name")
    val (dfB, dB) = AdaptiveJoin.adaptiveJoin(uniformBig, tinyMatch, "k",
      broadcastMaxRows = 0L)
    assert(dB.strategy === "bloom_merge", dB)
    assert(dfB.collect().map(_.toString).sorted.toSeq ===
      plainJoin(uniformBig, tinyMatch))
    val fullDim = (0L until 2000L).map(k => (k, s"d$k")).toDF("k", "name")
    val (dfM, dM) = AdaptiveJoin.adaptiveJoin(uniformBig, fullDim, "k",
      broadcastMaxRows = 0L)
    assert(dM.strategy === "shuffle_merge", dM)
    assert(dfM.collect().map(_.toString).sorted.toSeq ===
      plainJoin(uniformBig, fullDim))
  }

  test("every arm is result-identical when forced onto one fixture") {
    val expected = plainJoin(hotBig, dim)
    val base = AdaptiveJoin.adaptiveJoin(hotBig, dim, "k")._2
    Seq("broadcast_small", "salted", "bloom_merge", "shuffle_merge")
      .foreach { arm =>
        val forced = base.copy(strategy = arm,
          salts = if (arm == "salted") 5 else 0)
        val got = AdaptiveJoin.applyDecision(hotBig, dim, "k", forced)
          .collect().map(_.toString).sorted.toSeq
        assert(got === expected, s"arm $arm diverged")
      }
  }

  test("mgMerge keeps the hot item and stays within the additive bound") {
    val (h1, h2) = (hotBig.where(col("v") % 2 === 0),
      hotBig.where(col("v") % 2 =!= 0))
    def summarize(df: DataFrame): Seq[(String, Long)] =
      df.agg(SketchAggregates.freqItems(col("k").cast("string"), 64).as("s"))
        .head().getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getString(0), r.getLong(1)))
    val merged = SketchAggregates.mgMerge(summarize(h1), summarize(h2), 64)
    assert(merged.size <= 64)
    val hot = merged.head
    assert(hot._1 === "7")
    // under-count only, by at most N/capacity of the COMBINED stream
    assert(hot._2 <= 3000L && hot._2 >= 3000L - 10000L / 64)
  }

  private def tmp() = tempDir("graft_adaptive").resolve("tbl").toString

  test("stored heavy hitters: written at commit, merged on append") {
    val root = tmp()
    VersionedStats.commitWithStats(hotBig.where(col("v") % 2 === 0), root,
      Seq("k"), hhCols = Seq("k"))
    VersionedStats.commitWithStats(hotBig.where(col("v") % 2 =!= 0), root,
      Seq("k"), append = true, hhCols = Seq("k"))
    val Some(hh) = VersionedStats.heavyHittersFor(spark, root)
    val (cap, items) = hh("k")
    assert(cap === 64)
    assert(items.head._1 === "7")
    assert(items.head._2 <= 3000L && items.head._2 >= 3000L - 10000L / 64)
    // each version keeps its own summary: v1 saw only the even half
    val Some(hhV1) = VersionedStats.heavyHittersFor(spark, root, Some(1L))
    assert(hhV1("k")._2.head._2 <= 1500L)
  }

  test("adaptiveVersionedJoin plans from the catalog, matching on-demand") {
    val bigRoot = tmp(); val smallRoot = tmp()
    VersionedStats.commitWithStats(hotBig, bigRoot, Seq("k"),
      hhCols = Seq("k"))
    VersionedStats.commitWithStats(dim, smallRoot, Seq("k"))
    val (df, d) = VersionedStats.adaptiveVersionedJoin(spark, bigRoot,
      smallRoot, "k", broadcastMaxRows = 0L, shufflePartitions = 32)
    assert(d.strategy === "salted")
    assert(d.salts === 10)
    assert(df.collect().map(_.toString).sorted.toSeq ===
      VersionedTable.read(spark, bigRoot)
        .join(VersionedTable.read(spark, smallRoot), Seq("k"))
        .collect().map(_.toString).sorted.toSeq)
  }

  test("the catalog's decision evolves with appends: merge flips to salted") {
    val bigRoot = tmp(); val smallRoot = tmp()
    // v1: uniform — no key above threshold, dim non-broadcastable → the
    // planner merges (est ≈ rows, above the bloom selectivity cut)
    VersionedStats.commitWithStats(
      (0 until 5000).map(i => (i % 700 + 100L, i.toLong)).toDF("k", "v"),
      bigRoot, Seq("k"), hhCols = Seq("k"))
    VersionedStats.commitWithStats(dim, smallRoot, Seq("k"))
    val (_, d1) = VersionedStats.adaptiveVersionedJoin(spark, bigRoot,
      smallRoot, "k", broadcastMaxRows = 0L, shufflePartitions = 32)
    assert(d1.strategy === "shuffle_merge", d1)
    // an append makes key 7 half the table; the sidecar's Misra-Gries
    // merge (batch cost, no rescan) must surface it and flip the
    // STORED-stats decision to the salted arm, sized from the new share
    VersionedStats.commitWithStats(
      (0 until 5000).map(i => (7L, i.toLong)).toDF("k", "v"),
      bigRoot, Seq("k"), append = true, hhCols = Seq("k"))
    val (df2, d2) = VersionedStats.adaptiveVersionedJoin(spark, bigRoot,
      smallRoot, "k", broadcastMaxRows = 0L, shufflePartitions = 32)
    assert(d2.strategy === "salted", d2)
    assert(d2.hotKey === Some("7"))
    assert(d2.hotShare > 0.45 && d2.hotShare <= 0.5, d2)
    assert(d2.salts === 16, d2) // ceil(~0.5 × 32)
    assert(df2.count() === VersionedTable.read(spark, bigRoot)
      .join(VersionedTable.read(spark, smallRoot), Seq("k")).count())
  }

  test("missing hh sidecar degrades to on-demand measurement, same answer") {
    val bigRoot = tmp(); val smallRoot = tmp()
    VersionedStats.commitWithStats(hotBig, bigRoot, Seq("k")) // no hhCols
    VersionedStats.commitWithStats(dim, smallRoot, Seq("k"))
    val (df, d) = VersionedStats.adaptiveVersionedJoin(spark, bigRoot,
      smallRoot, "k", broadcastMaxRows = 0L, shufflePartitions = 32)
    assert(d.strategy === "salted") // measured on demand instead
    assert(df.collect().map(_.toString).sorted.toSeq ===
      plainJoin(VersionedTable.read(spark, bigRoot),
        VersionedTable.read(spark, smallRoot)))
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.EstimatedJoin

/** The AGMS estimate as a PLANNER INPUT: the sketch-chosen strategy
  * must land in the physical plan, and the explosion guard must
  * overrule a row-count-only decision. */
class EstimatedJoinSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** One dim through the star-join planner: the joined frame and the
    * estimate of its single step. */
  private def joinOne(fact: DataFrame, dim: DataFrame, factKey: String,
                      dimKey: String, broadcastMaxRows: Long = 10000000L,
                      hotShareThreshold: Double = 0.10)
      : (DataFrame, EstimatedJoin.JoinEstimate) = {
    val (joined, steps) = EstimatedJoin.estimatedMultiJoin(fact,
      Seq(EstimatedJoin.DimSpec("dim", dim, factKey, dimKey)),
      broadcastMaxRows = broadcastMaxRows,
      hotShareThreshold = hotShareThreshold)
    (joined, steps.head.estimate)
  }

  test("small clean dim → broadcast, and the plan shows it") {
    val fact = (0 until 20000).map(i => (i % 500 + 1L, i.toLong))
      .toDF("fk", "v")
    val dim = (1L to 500L).map(k => (k, s"d$k")).toDF("dk", "name")
    val (joined, e) = joinOne(fact, dim, "fk", "dk")
    assert(e.strategy === "broadcast_right")
    assert(e.rowsLeft === 20000L && e.rowsRight === 500L)
    // 1-to-1 dim: join size ≈ fact size — well inside the fanout cap
    assert(e.estJoinRows < 4 * 20000L)
    val p = plan(joined)
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected merge join:\n$p")
    assert(joined.count() === 20000L)
  }

  test("both sides above the broadcast bound → sort-merge") {
    val a = (0L until 5000L).map(i => (i % 1000, i)).toDF("ak", "av")
    val b = (0L until 5000L).map(i => (i % 1000, i)).toDF("bk", "bv")
    val (joined, e) = joinOne(a, b, "ak", "bk",
      broadcastMaxRows = 1000L) // neither 5000-row side may broadcast
    assert(e.strategy === "shuffle_merge")
    val p = plan(joined)
    assert(p.contains("SortMergeJoin"), s"expected merge join:\n$p")
    assert(joined.count() === 5000L * 5) // 1000 keys × 5 × 5
  }

  test("explosion guard: tiny dim with hot keys is NOT broadcast") {
    // the case a rows/bytes threshold gets wrong: dim is only 200 rows
    // (trivially broadcastable by count) but every key collides with a
    // hot fact key → estimated output 10000×200 = 2M, fanout 200 ≫ 4.
    // Only the JOIN-SIZE estimate can see this coming. The one key holds
    // the whole fact (share 1.0), so the skew arm is switched off to pin
    // the fanout guard alone.
    val fact = (0L until 10000L).map(_ => (1L, "x")).toDF("fk", "v")
    val dim = (0L until 200L).map(_ => (1L, "y")).toDF("dk", "w")
    val (joined, e) = joinOne(fact, dim, "fk", "dk", hotShareThreshold = 1.1)
    assert(e.rowsRight === 200L) // would pass any small-side threshold
    assert(e.estJoinRows > 4 * 10000L, s"estimate too low: $e")
    assert(e.strategy === "shuffle_merge")
    val p = plan(joined)
    assert(p.contains("SortMergeJoin"), s"explosion case must merge:\n$p")
  }

  test("selective join above the broadcast bound → bloom-pruned merge") {
    // neither side may broadcast, but only 100 of 8000 left keys exist
    // on the right → estimated output ≈ 500 ≪ 0.1 × 8000: a bloom of
    // the right side's keys drops most of the left before the shuffle
    val a = (0L until 8000L).map(i => (i, s"a$i")).toDF("ak", "av")
    val b = (0L until 500L).map(i => (i % 100, s"b$i")).toDF("bk", "bv")
    val (joined, e) = joinOne(a, b, "ak", "bk", broadcastMaxRows = 100L)
    assert(e.strategy === "bloom_merge", s"estimate: $e")
    val p = plan(joined)
    assert(p.contains("might_contain"), s"bloom missing from plan:\n$p")
    // exactly the plain join's rows, left-then-right column order
    assert(joined.columns.toSeq === Seq("ak", "av", "bk", "bv"))
    assert(joined.count() === 500L)
  }

  test("decision is pure over stored sketches (mergeable table stats)") {
    // the 100 TB entry point: sketches maintained at write time, the
    // decision made without touching either table
    val est = graft.functions.JoinSizeSketch.estimate(
      Seq.fill(256)(0L), Seq.fill(256)(0L))
    assert(est === 0L)
    assert(EstimatedJoin.decide(est, rowsLeft = 1000000L, rowsRight = 10L,
      broadcastMaxRows = 1000L, fanoutCap = 4.0) === "broadcast_right")
  }

  test("multi-join: selective dim moves FIRST regardless of given order") {
    import EstimatedJoin.DimSpec
    // dimWide keeps every fact row (fk1 1..200 all present); dimNarrow
    // keeps ~1% (only fk2 values 1..5 of 1..500). Given wide-then-narrow,
    // the planner must flip: narrow first shrinks the probe side 100×
    // before the wide join runs.
    val fact = (0 until 20000)
      .map(i => (i % 200 + 1L, i % 500 + 1L, i.toLong))
      .toDF("fk1", "fk2", "v")
    val dimWide = (1L to 200L).map(k => (k, s"w$k")).toDF("wk", "wname")
    val dimNarrow = (1L to 5L).map(k => (k, s"n$k")).toDF("nk", "nname")
    val (joined, steps) = EstimatedJoin.estimatedMultiJoin(fact, Seq(
      DimSpec("wide", dimWide, "fk1", "wk"),
      DimSpec("narrow", dimNarrow, "fk2", "nk")))
    assert(steps.map(_.name) === Seq("narrow", "wide"),
      s"selective dim must be joined first: $steps")
    // the second step plans against the SHRUNK intermediate, not the fact
    assert(steps(1).estimate.rowsLeft < 20000L / 10,
      s"wide join must see the post-narrow row estimate: ${steps(1)}")
    assert(steps.forall(_.estimate.strategy.startsWith("broadcast")))
    // and the result is just the inner join, order-independent
    val expect = fact.join(dimWide, col("fk1") === col("wk"))
      .join(dimNarrow, col("fk2") === col("nk")).count()
    assert(joined.count() === expect)
    assert(joined.count() === 20000L / 500 * 5) // 40 rows per fk2 key × 5
  }

  test("multi-join: per-step strategies can differ (broadcast + merge)") {
    import EstimatedJoin.DimSpec
    val fact = (0 until 10000).map(i => (i % 50 + 1L, i % 2000 + 1L, i.toLong))
      .toDF("fk1", "fk2", "v")
    val small = (1L to 50L).map(k => (k, s"s$k")).toDF("sk", "sname")
    val big = (1L to 2000L).map(k => (k, s"b$k")).toDF("bk", "bname")
    val (joined, steps) = EstimatedJoin.estimatedMultiJoin(fact, Seq(
      DimSpec("small", small, "fk1", "sk"),
      DimSpec("big", big, "fk2", "bk")),
      broadcastMaxRows = 100L) // big's 2000 rows exceed the bound
    val byName = steps.map(s => s.name -> s.estimate.strategy).toMap
    assert(byName("small") === "broadcast_right")
    assert(byName("big") === "shuffle_merge")
    val p = plan(joined)
    assert(p.contains("BroadcastHashJoin") && p.contains("SortMergeJoin"),
      s"expected one broadcast and one merge join:\n$p")
    assert(joined.count() === 10000L)
  }

  test("multi-join: a hot fact key salts its step (AdaptiveJoin's arm)") {
    import EstimatedJoin.DimSpec
    // fk1 is 30% key 7 (the skew signal the planning pass must surface);
    // fk2 is uniform. Neither dim fits broadcastMaxRows=0, so without
    // the skew arm both steps would bloom or merge — the hot step must
    // salt instead, and ONLY that step.
    val fact = ((0 until 3000).map(i => (7L, i % 2000 + 1L, i.toLong)) ++
      (0 until 7000).map(i => (i % 600 + 100L, i % 2000 + 1L, i.toLong)))
      .toDF("fk1", "fk2", "v")
    val hotDim = (1L to 800L).map(k => (k + 6L, s"h$k")).toDF("hk", "hname")
    val uniDim = (1L to 2000L).map(k => (k, s"u$k")).toDF("uk", "uname")
    val (joined, steps) = EstimatedJoin.estimatedMultiJoin(fact, Seq(
      DimSpec("hot", hotDim, "fk1", "hk"),
      DimSpec("uni", uniDim, "fk2", "uk")),
      broadcastMaxRows = 0L, shufflePartitions = 32)
    val byName = steps.map(s => s.name -> s.estimate).toMap
    assert(byName("hot").strategy === "salted", s"steps: $steps")
    // ceil(share × 32) with the MG under-count: ~0.29..0.30 × 32 → 10
    assert(byName("hot").salts === 10, byName("hot"))
    assert(byName("uni").strategy !== "salted", s"uniform step salted: $steps")
    val expect = fact.join(hotDim, col("fk1") === col("hk"))
      .join(uniDim, col("fk2") === col("uk")).count()
    assert(joined.count() === expect)
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IncrementalKpis, SnapshotDiff}

/** Incremental KPI maintenance: delta-sized group refresh must be
  * indistinguishable from a full recompute, idempotent under re-applied
  * batches, and must NEVER touch unaffected groups — the engine
  * generalization of the reference's per-day idempotent upsert
  * (reference: dags/etl/load_to_redshift.py:186-203). */
class IncrementalKpisSpec extends SparkSpec {
  import spark.implicits._

  // fact rows (fid PK, cat group, cents value); the delta old→new:
  //   a: untouched        b: value changed      c: one row removed
  //   d: all rows removed (group must drop)     e: group added
  private def oldFacts = Seq(
    (1L, "a", 100L), (2L, "a", 200L), (3L, "b", 300L),
    (4L, "c", 400L), (5L, "c", 500L), (6L, "d", 600L))
    .toDF("fid", "cat", "cents")
  private def newFacts = Seq(
    (1L, "a", 100L), (2L, "a", 200L), (3L, "b", 350L),
    (4L, "c", 400L), (7L, "e", 700L))
    .toDF("fid", "cat", "cents")

  private def kpiOf(f: DataFrame): DataFrame =
    f.groupBy(col("cat")).agg(count(lit(1)).as("cnt"),
      sum(col("cents")).as("sum_cents"))

  private def rowDiff = SnapshotDiff.diff(oldFacts, newFacts, Seq("fid"),
    compareCols = Seq("cat", "cents"), nullSafeKeys = false)

  private def recomputeFor(groups: DataFrame): DataFrame =
    kpiOf(newFacts.join(broadcast(groups), Seq("cat"), "left_semi"))

  private def collectKpis(df: DataFrame): Seq[(String, Long, Long)] =
    df.select("cat", "cnt", "sum_cents")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq

  test("refresh over the delta equals the full recompute, dropping dead groups") {
    val affected = IncrementalKpis.affectedGroups(rowDiff, Seq("cat"))
    assert(affected.as[String].collect().sorted.toSeq ===
      Seq("b", "c", "d", "e")) // a untouched; d via removed leg
    val refreshed = IncrementalKpis.refresh(
      kpiOf(oldFacts), recomputeFor(affected), affected, Seq("cat"))
    assert(collectKpis(refreshed) === collectKpis(kpiOf(newFacts)))
    // d dropped (no fact rows remain), e appeared
    assert(!collectKpis(refreshed).exists(_._1 == "d"))
  }

  test("unaffected groups carry forward BYTE-FOR-BYTE, never recomputed") {
    // poison the previous state's untouched group: if the refresh
    // recomputed it, the poison would be healed — it must survive
    val poisonedPrev = kpiOf(oldFacts).withColumn("cnt",
      when(col("cat") === "a", lit(999L)).otherwise(col("cnt")))
    val affected = IncrementalKpis.affectedGroups(rowDiff, Seq("cat"))
    val refreshed = IncrementalKpis.refresh(
      poisonedPrev, recomputeFor(affected), affected, Seq("cat"))
    assert(collectKpis(refreshed).find(_._1 == "a").map(_._2) === Some(999L))
    // affected groups DID recompute (b healed to its new value)
    assert(collectKpis(refreshed).find(_._1 == "b") === Some(("b", 1L, 350L)))
  }

  test("re-applying the same batch is a no-op (reference idempotence)") {
    val affected = IncrementalKpis.affectedGroups(rowDiff, Seq("cat"))
    val once = IncrementalKpis.refresh(
      kpiOf(oldFacts), recomputeFor(affected), affected, Seq("cat"))
    val twice = IncrementalKpis.refresh(
      once, recomputeFor(affected), affected, Seq("cat"))
    assert(collectKpis(twice) === collectKpis(once))
  }

  test("a changed row migrating between groups touches both groups") {
    val o = Seq((1L, "x", 10L), (2L, "y", 20L)).toDF("fid", "cat", "cents")
    val n = Seq((1L, "y", 10L), (2L, "y", 20L)).toDF("fid", "cat", "cents")
    val d = SnapshotDiff.diff(o, n, Seq("fid"),
      compareCols = Seq("cat", "cents"), nullSafeKeys = false)
    val affected = IncrementalKpis.affectedGroups(d, Seq("cat"))
    assert(affected.as[String].collect().sorted.toSeq === Seq("x", "y"))
    val refreshed = IncrementalKpis.refresh(kpiOf(o),
      kpiOf(n.join(broadcast(affected), Seq("cat"), "left_semi")),
      affected, Seq("cat"))
    assert(collectKpis(refreshed) === Seq(("y", 2L, 30L))) // x emptied out
  }

  test("PROPERTY: refresh == full recompute for ARBITRARY snapshot pairs") {
    // The fixture above exercises one hand-picked delta; this drives the
    // same contract over arbitrary add/remove/change/migrate mixes,
    // including the no-op (old == new) and everything-replaced extremes.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    val snapGen: Gen[Map[Long, (String, Long)]] = for {
      n <- Gen.choose(0, 25)
      keys <- Gen.listOfN(n, Gen.choose(0L, 30L))
      vals <- Gen.listOfN(n,
        Gen.zip(Gen.oneOf("g0", "g1", "g2", "g3"), Gen.choose(-5L, 100L)))
    } yield keys.zip(vals).toMap // last write per key wins: keyed snapshot
    def df(m: Map[Long, (String, Long)]): DataFrame =
      if (m.isEmpty) Seq.empty[(Long, String, Long)].toDF("fid", "cat", "cents")
      else m.toSeq.map { case (k, (g, v)) => (k, g, v) }
        .toDF("fid", "cat", "cents")
    val prop = Prop.forAll(snapGen, snapGen) { (oldM, newM) =>
      val (o, nw) = (df(oldM), df(newM))
      val d = SnapshotDiff.diff(o, nw, Seq("fid"),
        compareCols = Seq("cat", "cents"), nullSafeKeys = false)
      val affected = IncrementalKpis.affectedGroups(d, Seq("cat"))
      val refreshed = IncrementalKpis.refresh(kpiOf(o),
        kpiOf(nw.join(broadcast(affected), Seq("cat"), "left_semi")),
        affected, Seq("cat"))
      val incr = collectKpis(refreshed)
      val full = collectKpis(kpiOf(nw))
      // and idempotence: a second refresh from the same diff is a no-op
      val d2 = SnapshotDiff.diff(nw, nw, Seq("fid"),
        compareCols = Seq("cat", "cents"), nullSafeKeys = false)
      val affected2 = IncrementalKpis.affectedGroups(d2, Seq("cat"))
      val again = collectKpis(IncrementalKpis.refresh(refreshed,
        kpiOf(nw.join(broadcast(affected2), Seq("cat"), "left_semi")),
        affected2, Seq("cat")))
      (incr == full) :| s"incremental $incr != full $full" &&
        (again == full) :| s"re-apply drifted: $again != $full"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("prunedFacts: narrow delta takes the IN literal, wide delta the semi join") {
    // parquet-backed source: ConvertToLocalRelation would otherwise fold
    // the IN filter straight into a LocalRelation and leave no plan
    // shape (IN literal vs semi join) to observe
    val dir = tempDir("graft_prune")
      .toString
    (1L to 2000L).map(k => (k, k % 500, k * 10))
      .toDF("fid", "grp", "cents").write.mode("overwrite").parquet(dir)
    val facts = spark.read.parquet(dir)
    // narrow: 3 affected groups → a static IN literal, no join in plan
    val narrow = Seq(1L, 2L, 3L).toDF("grp")
    val narrowPruned = IncrementalKpis.prunedFacts(facts, narrow,
      Seq("grp"), maxInListKeys = 256)
    val narrowPlan = narrowPruned.queryExecution.optimizedPlan.toString
    assert(narrowPlan.toLowerCase.contains(" in ("),
      s"narrow delta must prune via IN literal:\n$narrowPlan")
    assert(!narrowPlan.toLowerCase.contains("join"),
      s"narrow delta must not plan a join:\n$narrowPlan")
    // wide: 300 affected groups over a 256 cap → broadcast semi join,
    // and the plan must NOT embed a delta-sized literal
    val wide = (0L until 300L).toDF("grp")
    val widePruned = IncrementalKpis.prunedFacts(facts, wide,
      Seq("grp"), maxInListKeys = 256)
    val widePlan = widePruned.queryExecution.optimizedPlan.toString
    assert(widePlan.toLowerCase.contains("leftsemi"),
      s"wide delta must fall back to the semi join:\n$widePlan")
    assert(widePlan.length < 4000,
      s"wide-delta plan must stay literal-free (got ${widePlan.length} chars)")
    // both forms select exactly the affected groups' rows
    val bySemi = facts.join(broadcast(wide), Seq("grp"), "left_semi")
      .orderBy("fid").collect().toSeq
    assert(widePruned.orderBy("fid").collect().toSeq === bySemi)
    val byIn = facts.where(col("grp").isin(1L, 2L, 3L))
      .orderBy("fid").collect().toSeq
    assert(narrowPruned.orderBy("fid").collect().toSeq === byIn)
    // multi-column keys always take the join (tuple IN cannot prune)
    val multi = IncrementalKpis.prunedFacts(facts,
      Seq((1L, 10L)).toDF("grp", "cents"), Seq("grp", "cents"))
    assert(multi.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("leftsemi"))
  }
}

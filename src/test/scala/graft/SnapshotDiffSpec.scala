package graft

import org.apache.spark.sql.functions._

import graft.operators.{SnapshotDiff, Skew}

class SnapshotDiffSpec extends SparkSpec {
  import spark.implicits._

  test("diff classifies added/removed/changed with null-safe compares") {
    val old = Seq(
      (1L, Some(10.0), "a"), // unchanged
      (2L, Some(20.0), "b"), // value change
      (3L, None, "c"),       // null -> value
      (4L, Some(40.0), "d"), // value -> null
      (5L, Some(50.0), "e")) // removed
      .toDF("k", "bal", "seg")
    val neu = Seq(
      (1L, Some(10.0), "a"),
      (2L, Some(21.0), "b"),
      (3L, Some(30.0), "c"),
      (4L, None, "d"),
      (6L, Some(60.0), "f")) // added
      .toDF("k", "bal", "seg")
    val out = SnapshotDiff.diff(old, neu, Seq("k"))
      .orderBy("k")
      .select("k", "diff_status", "old_bal", "new_bal")
      .as[(Long, String, Option[Double], Option[Double])].collect()
    assert(out.map(r => r._1 -> r._2).toSeq === Seq(
      2L -> "changed", 3L -> "changed", 4L -> "changed",
      5L -> "removed", 6L -> "added"))
    assert(out.find(_._1 == 3L).get._4 === Some(30.0))
    assert(out.find(_._1 == 4L).get._4 === None)
  }

  test("columns present in only one snapshot are ignored, not changes") {
    val old = Seq((1L, "x", "dropme")).toDF("k", "v", "legacy")
    val neu = Seq((1L, "x", 99)).toDF("k", "v", "brand_new")
    assert(SnapshotDiff.diff(old, neu, Seq("k")).count() === 0)
  }

  test("diff requires at least one comparable column") {
    val old = Seq(Tuple1(1L)).toDF("k")
    assertThrows[IllegalArgumentException] {
      SnapshotDiff.diff(old, old, Seq("k"))
    }
  }

  test("snapshot diff over bucketed snapshots runs shuffle-free") {
    // SnapshotDiff's scaladoc claims bucketing makes the full-outer join
    // co-located at 100 TB; this is the witness. Both snapshot versions
    // are written bucketed on the key. Null-safe key equality would be
    // planned as (coalesce(key, 0), isnull(key)) join keys — expressions
    // bucketing can never satisfy — so the primary-key form
    // (nullSafeKeys = false) is what unlocks the ZERO-Exchange plan.
    spark.sql("DROP TABLE IF EXISTS snap_v1")
    spark.sql("DROP TABLE IF EXISTS snap_v2")
    val v1 = (1L to 400L).map(i => (i, s"seg${i % 5}", i * 1.0))
      .toDF("id", "seg", "bal")
    val v2 = (3L to 402L).map(i =>
        (i, s"seg${i % 5}", if (i % 7 == 0) i * 2.0 else i * 1.0))
      .toDF("id", "seg", "bal")
    v1.write.bucketBy(8, "id").sortBy("id").saveAsTable("snap_v1")
    v2.write.bucketBy(8, "id").sortBy("id").saveAsTable("snap_v2")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val diff = SnapshotDiff.diff(
        spark.table("snap_v1"), spark.table("snap_v2"), Seq("id"),
        nullSafeKeys = false)
      val plan = diff.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"),
        s"expected a sort-merge full outer join:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed snapshot diff must not shuffle:\n$plan")
      // and the classification still holds on the bucketed path
      val byStatus = diff.groupBy($"diff_status").count()
        .as[(String, Long)].collect().toMap
      assert(byStatus("added") === 2)   // 401, 402
      assert(byStatus("removed") === 2) // 1, 2
      assert(byStatus("changed") ===
        (3L to 402L).count(_ % 7 == 0).toLong)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS snap_v1")
      spark.sql("DROP TABLE IF EXISTS snap_v2")
    }
  }
}

class KeySkewReportSpec extends SparkSpec {
  import spark.implicits._

  test("keySkewReport: shares and cumulative shares over the top k") {
    // key 1 has 6 rows, key 2 has 3, key 3 has 1 -> total 10
    val df = (Seq.fill(6)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L)).toDF("k")
    val out = Skew.keySkewReport(df, "k", k = 2)
      .as[(Long, Long, Double, Double)].collect()
    assert(out.toSeq === Seq((1L, 6L, 0.6, 0.6), (2L, 3L, 0.3, 0.9)))
  }

  test("keySkewReport plan: no window over the unbounded counts table") {
    // the global window must apply AFTER the top-k limit — a Window whose
    // child is the full aggregate would serialize the key space
    val df = (1L to 1000L).map(i => i % 97).toDF("k")
    val plan = Skew.keySkewReport(df, "k", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject") || plan.contains("GlobalLimit"),
      s"expected a bounding limit before the window:\n$plan")
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.Scd

class ScdSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)

  private val dim = Seq(
    // key 1: one closed + one open version (history preserved)
    (1L, "gold", d("2020-01-01"), Option(d("2022-01-01"))),
    (1L, "silver", d("2022-01-01"), None),
    // key 2: open, will change
    (2L, "bronze", d("2021-06-01"), None),
    // key 3: open, unchanged in the snapshot
    (3L, "gold", d("2021-01-01"), None))
    .toDF("id", "tier", "effective_from", "effective_to")

  private val updates = Seq(
    (2L, "gold"),   // changed
    (3L, "gold"),   // same -> no new version
    (4L, "silver")) // brand-new key
    .toDF("id", "tier")

  test("scd2Merge closes changed versions, appends new, keeps history") {
    val out = Scd.scd2Merge(dim, updates, Seq("id"), Seq("tier"),
        asOf = lit("2023-01-01").cast("date"))
      .orderBy("id", "effective_from")
      .as[(Long, String, java.sql.Date, Option[java.sql.Date])].collect()
    assert(out.toSeq === Seq(
      (1L, "gold", d("2020-01-01"), Some(d("2022-01-01"))), // history kept
      (1L, "silver", d("2022-01-01"), None),                // open, no update
      (2L, "bronze", d("2021-06-01"), Some(d("2023-01-01"))), // closed out
      (2L, "gold", d("2023-01-01"), None),                  // new version
      (3L, "gold", d("2021-01-01"), None),                  // unchanged
      (4L, "silver", d("2023-01-01"), None)))               // new key
  }

  test("merge is idempotent: re-applying the same snapshot changes nothing") {
    val once = Scd.scd2Merge(dim, updates, Seq("id"), Seq("tier"),
      asOf = lit("2023-01-01").cast("date"))
    val twice = Scd.scd2Merge(once, updates, Seq("id"), Seq("tier"),
      asOf = lit("2023-06-01").cast("date"))
    assert(twice.count() === once.count())
    assert(twice.where(col("effective_to") === d("2023-06-01")).count() === 0)
  }

  test("open row with NULL effective_from is still recognized as present") {
    // presence is an explicit marker, not fromCol nullability: an open row
    // whose effective_from is legitimately NULL must be closed out on
    // change, not dropped and re-inserted as brand-new
    val dimNullFrom = Seq(
      (5L, "bronze", Option.empty[java.sql.Date], Option.empty[java.sql.Date]))
      .toDF("id", "tier", "effective_from", "effective_to")
    val out = Scd.scd2Merge(dimNullFrom, Seq((5L, "gold")).toDF("id", "tier"),
        Seq("id"), Seq("tier"), asOf = lit("2023-01-01").cast("date"))
      .orderBy(col("effective_from").asc_nulls_first)
      .as[(Long, String, Option[java.sql.Date], Option[java.sql.Date])]
      .collect()
    assert(out.toSeq === Seq(
      (5L, "bronze", None, Some(d("2023-01-01"))),          // closed, kept
      (5L, "gold", Some(d("2023-01-01")), None)))           // new version
  }
}

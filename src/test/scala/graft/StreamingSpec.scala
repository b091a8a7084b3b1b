package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.SketchAggregates
import graft.streaming.StreamingKpis

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    tempDir(prefix).toString

  test("windowed KPIs bucket by calendar hour with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val kpis = StreamingKpis.hourlyWindowedKpis(events, "ts", "user_id")
    val q = kpis.writeStream.format("memory").queryName("kpi_out")
      .option("checkpointLocation", tmp("ckpt-kpi")).outputMode("update")
      .start()
    input.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 1L),
      (java.sql.Timestamp.valueOf("2024-01-01 10:55:00"), 2L),
      (java.sql.Timestamp.valueOf("2024-01-01 11:05:00"), 1L))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT hour_start, n_events, approx_unique_users FROM kpi_out ORDER BY hour_start")
      .collect()
    q.stop()
    assert(rows.length === 2)
    assert(rows(0).getLong(1) === 2) // 10:00 window: 2 events
    assert(rows(0).getLong(2) === 2) // 2 distinct users (HLL exact at tiny n)
    assert(rows(1).getLong(1) === 1)
  }

  test("windowed heavy hitters: sketch state merges across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val events = input.toDF().toDF("ts", "event_type")
    // the Misra-Gries aggregate inside a watermarked window: the state
    // store persists its fixed capacity-entry buffer between triggers
    val hh = events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"),
        SketchAggregates.freqItems(col("event_type"), 8).as("top_items"))
      .select(col("w.start").as("window_start"), col("n_events"),
        col("top_items"))
    val q = hh.writeStream.format("memory").queryName("hh_out")
      .option("checkpointLocation", tmp("ckpt-hh")).outputMode("update")
      .start()
    def at(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    try {
      // trigger 1: 6 views, 2 clicks in the 10:00 window
      input.addData((1 to 6).map(i => (at(i), "view")) ++
        Seq((at(7), "click"), (at(8), "click")): _*)
      q.processAllAvailable()
      // trigger 2: SAME window gets 4 more views — the stored sketch
      // buffer must merge with the new partial, not restart
      input.addData((9 to 12).map(i => (at(i), "view")): _*)
      q.processAllAvailable()
      val row = spark.sql(
        "SELECT n_events, top_items FROM hh_out ORDER BY window_start")
        .collect().last
      assert(row.getLong(0) === 12L)
      val items = row.getSeq[org.apache.spark.sql.Row](1)
        .map(r => (r.getString(0), r.getLong(1)))
      // capacity 8 > 2 distinct items → estimates are EXACT here, and
      // exactness across triggers proves merge (not restart) semantics
      assert(items.head === (("view", 10L)), s"items: $items")
      assert(items.contains(("click", 2L)), s"items: $items")
    } finally q.stop()
  }
}

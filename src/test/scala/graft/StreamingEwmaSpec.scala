package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Ewma
import graft.streaming.StreamingEwma
import graft.streaming.StreamingEwma.EwmaInput

/** Streaming EWMA (streaming/StreamingEwma): in-order streams land on the
  * batch operator's exact values; state carries the recurrence across
  * micro-batches with O(1) per key. */
class StreamingEwmaSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("in-order batches reproduce the batch operator bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EwmaInput]
    val out = StreamingEwma.smoothed(input.toDS())
    val ckpt = tempDir("ckpt-ewma").toString
    val q = out.writeStream.format("memory").queryName("ewma_out")
      .option("checkpointLocation", ckpt).outputMode("append").start()

    val b1 = Seq(
      EwmaInput(1L, ts("2024-01-01 10:00:00"), 1L, 10.0),
      EwmaInput(1L, ts("2024-01-01 11:00:00"), 2L, 20.0),
      EwmaInput(2L, ts("2024-01-01 10:00:00"), 3L, 3.1415926535))
    val b2 = Seq(
      EwmaInput(1L, ts("2024-01-01 12:00:00"), 4L, 1.0),
      EwmaInput(2L, ts("2024-01-01 11:00:00"), 5L, 2.5))
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      // batch-1 trajectory: 10 -> (10M+20M)/2 = 15
      val t1 = spark.sql(
        """SELECT event_id, n_events, ewma FROM ewma_out
           WHERE user_id = 1 ORDER BY event_id""")
        .as[(Long, Long, Double)].collect().toSeq
      assert(t1 === Seq((1L, 1L, 10.0), (2L, 2L, 15.0)))

      input.addData(b2: _*)
      q.processAllAvailable()
      // state carried: floor((15M + 1M)/2) = 8M
      val t2 = spark.sql(
        """SELECT n_events, ewma FROM ewma_out
           WHERE user_id = 1 AND event_id = 4""")
        .as[(Long, Double)].collect().toSeq
      assert(t2 === Seq((3L, 8.0)))

      // final per-key level == the batch operator over the union
      val streamed = spark.sql(
        """SELECT user_id, max_by(ewma, n_events) AS ewma,
             max(n_events) AS n FROM ewma_out GROUP BY user_id""")
        .as[(Long, Double, Long)].collect()
        .map(r => r._1 -> (r._3, r._2)).toMap
      val batch = Ewma.perEntity((b1 ++ b2).toDF(),
          "user_id", "ts", "event_id", "value")
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("within a batch, timestamp ties fold in event_id order") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EwmaInput]
    val out = StreamingEwma.smoothed(input.toDS())
    val ckpt = tempDir("ckpt-ewma2").toString
    val q = out.writeStream.format("memory").queryName("ewma_out2")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      input.addData(
        EwmaInput(1L, ts("2024-01-01 10:00:00"), 2L, 100.0), // folds second
        EwmaInput(1L, ts("2024-01-01 10:00:00"), 1L, 0.0))   // folds first
      q.processAllAvailable()
      val fin = spark.sql(
        """SELECT ewma FROM ewma_out2 WHERE n_events = 2""")
        .as[Double].collect().toSeq
      assert(fin === Seq(50.0)) // 0 then 100 -> 50; wrong order would emit 100-first trajectories
    } finally q.stop()
  }

  test("quantize matches Spark SQL round's arithmetic") {
    // shortest-repr HALF_UP, away from zero on .5
    assert(StreamingEwma.quantize(0.0000005) === 1L)
    assert(StreamingEwma.quantize(-0.0000005) === -1L)
    assert(StreamingEwma.quantize(2.5) === 2500000L)
  }
}

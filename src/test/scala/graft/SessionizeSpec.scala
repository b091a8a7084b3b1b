package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Sessionize
import graft.streaming.StreamingSessions
import graft.streaming.StreamingSessions.SessionEvent

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("batch sessionization splits on gaps > threshold") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:10:00"), 2.0),  // same session (10 min gap)
      (1L, ts("2024-01-01 11:00:00"), 4.0),  // 50 min gap -> new session
      (2L, ts("2024-01-01 09:00:00"), 8.0))
      .toDF("user_id", "ts", "value")
    val out = Sessionize.sessionStats(events, "user_id", "ts", "value", 1800)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getLong(3), r.getDouble(4)))
    assert(out.toSeq === Seq(
      (1L, "2024-01-01 10:00:00.0", 2L, 3.0),
      (1L, "2024-01-01 11:00:00.0", 1L, 4.0),
      (2L, "2024-01-01 09:00:00.0", 1L, 8.0)))
  }

  test("streaming sessionization closes sessions on gap and on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val sessions = StreamingSessions.sessionize(
      input.toDS(), gapSeconds = 1800, watermark = "0 seconds")
    val ckpt = tempDir("ckpt-sess").toString
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .option("checkpointLocation", ckpt).outputMode("append").start()

    // batch 1: two events one session, then a gap inside the SAME batch
    // closes it immediately.
    input.addData(
      SessionEvent(1L, ts("2024-01-01 10:00:00"), 1.0),
      SessionEvent(1L, ts("2024-01-01 10:10:00"), 2.0),
      SessionEvent(1L, ts("2024-01-01 12:00:00"), 4.0))
    q.processAllAvailable()
    val afterGap = spark.sql(
      "SELECT n_events, sum_value FROM sess_out ORDER BY session_start")
      .as[(Long, Double)].collect()
    assert(afterGap.toSeq === Seq((2L, 3.0)))

    // batch 2: advance the watermark far past 12:00 + gap -> the open
    // session times out and is emitted.
    input.addData(SessionEvent(99L, ts("2024-01-01 15:00:00"), 0.0))
    q.processAllAvailable()
    input.addData(SessionEvent(99L, ts("2024-01-01 15:00:01"), 0.0))
    q.processAllAvailable()
    val closed = spark.sql(
      "SELECT user_id, n_events FROM sess_out WHERE user_id = 1 ORDER BY session_start")
      .as[(Long, Long)].collect()
    q.stop()
    assert(closed.toSeq === Seq((1L, 2L), (1L, 1L)))
  }

  test("hourlyConcurrency: overlap counts, touching intervals do not") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val sessions = Seq(
      // 10:00-10:30 and 10:15-10:45 overlap → peak 2 in hour 10
      (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00")),
      (ts("2024-01-01 10:15:00"), ts("2024-01-01 10:45:00")),
      // 11:00-11:10 then 11:10-11:20 TOUCH → peak stays 1 in hour 11
      (ts("2024-01-01 11:00:00"), ts("2024-01-01 11:10:00")),
      (ts("2024-01-01 11:10:00"), ts("2024-01-01 11:20:00")))
      .toDF("session_start", "session_end")
    val out = graft.operators.Sessionize
      .hourlyConcurrency(sessions, "session_start", "session_end")
      .as[(java.sql.Timestamp, Long)].collect().toSeq
    assert(out === Seq(
      (ts("2024-01-01 10:00:00"), 2L),
      (ts("2024-01-01 11:00:00"), 1L)))
  }

  test("hourlyConcurrency: prefix carry is exact across bucket boundaries") {
    // Deterministic interval soup spanning several hours, evaluated with
    // buckets=3 so the two-pass carry MUST cross bucket boundaries; the
    // oracle is an in-memory sweep over the same (t, d) total order.
    val base = ts("2024-03-01 00:00:00").getTime
    val ivs = (0 until 60).map { i =>
      val st = base + (i * 7919L % 14400L) * 1000L          // within 4 h
      val en = st + (300L + i * 31L % 5400L) * 1000L        // 5-95 min
      (new java.sql.Timestamp(st), new java.sql.Timestamp(en))
    }
    val hourMs = 3600L * 1000L
    val deltas = ivs.flatMap { case (s, e) =>
      Seq((s.getTime, 1), (e.getTime, -1)) }.sortBy(p => (p._1, p._2))
    var live = 0L
    val peak = scala.collection.mutable.Map.empty[Long, Long]
    deltas.foreach { case (t, d) =>
      live += d
      val h = t / hourMs * hourMs
      peak(h) = math.max(peak.getOrElse(h, Long.MinValue), live)
    }
    val want = peak.toSeq.sortBy(_._1)
      .map { case (h, m) => (new java.sql.Timestamp(h), m) }
    val got = Sessionize.hourlyConcurrency(
        ivs.toDF("session_start", "session_end"),
        "session_start", "session_end", buckets = 3)
      .as[(java.sql.Timestamp, Long)].collect().toSeq
    assert(got === want)
  }
}

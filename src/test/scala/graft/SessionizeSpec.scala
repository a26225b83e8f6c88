package graft

import java.sql.Timestamp

import graft.streaming.Sessionize

/** Gap sessionization: batch semantics, and stream/batch equivalence
  * (X6-style) for the same session_window aggregation. */
class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val log = Seq(
    // user 1: two sessions, split by a 45-minute silence.
    (1L, ts("2025-04-15 10:00:00"), 1.0),
    (1L, ts("2025-04-15 10:20:00"), 2.0),
    (1L, ts("2025-04-15 10:49:59"), 3.0), // 29:59 gap — same session
    (1L, ts("2025-04-15 11:35:00"), 4.0), // 45:01 gap — new session
    // user 2: one single-event session.
    (2L, ts("2025-04-15 10:05:00"), 10.0))

  test("batch sessions split on the gap and aggregate per session") {
    val out = Sessionize.sessions(log.toDF("user_id", "ts", "value"))
      .select($"user_id", $"session_start", $"session_end", $"n_events", $"sum_value")
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
    assert(out == Set(
      (1L, ts("2025-04-15 10:00:00"), ts("2025-04-15 10:49:59"), 3L, 6.0),
      (1L, ts("2025-04-15 11:35:00"), ts("2025-04-15 11:35:00"), 1L, 4.0),
      (2L, ts("2025-04-15 10:05:00"), ts("2025-04-15 10:05:00"), 1L, 10.0)))
  }

  test("an exactly-gap-wide silence still merges; one past it splits") {
    // Spark merges TOUCHING session windows: an event at start+gap
    // extends the session (boundary is inclusive). The oracle replay
    // in q92 must therefore break on diff > gap, not >=.
    val touching = Sessionize.sessions(Seq(
      (1L, ts("2025-04-15 10:00:00"), 1.0),
      (1L, ts("2025-04-15 10:30:00"), 1.0)).toDF("user_id", "ts", "value"))
    assert(touching.count() == 1)
    val past = Sessionize.sessions(Seq(
      (1L, ts("2025-04-15 10:00:00"), 1.0),
      (1L, ts("2025-04-15 10:30:00.000001"), 1.0)).toDF("user_id", "ts", "value"))
    assert(past.count() == 2)
  }

  test("streaming sessions equal the batch sessions once the watermark closes them") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sqlCtx = spark.sqlContext
    implicit val sq: org.apache.spark.sql.SQLContext = sqlCtx

    val input = MemoryStream[(Long, Timestamp, Double)]
    val query = Sessionize.sessionStream(
      input.toDF().toDF("user_id", "ts", "value"),
      gap = "30 minutes", delay = "10 minutes")
      .writeStream.format("memory").queryName("sessions_stream")
      .outputMode("append").start()
    try {
      input.addData(log: _*)
      query.processAllAvailable()
      // Advance the watermark far enough to close every session above
      // (sentinel user 99's own session stays open and is excluded).
      input.addData((99L, ts("2025-04-15 14:00:00"), 0.0))
      query.processAllAvailable()
      val streamed = spark.sql(
        "SELECT user_id, session_start, session_end, n_events, sum_value " +
          "FROM sessions_stream WHERE user_id != 99")
        .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
      val batch = Sessionize.sessions(log.toDF("user_id", "ts", "value"))
        .select($"user_id", $"session_start", $"session_end", $"n_events", $"sum_value")
        .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
      assert(streamed == batch)
    } finally query.stop()
  }
}

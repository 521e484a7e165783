package graft

import graft.streaming.{StreamRun, StreamingAnalytics}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** flatMapGroupsWithState sessionization: gap-based close + terminal-event
  * close (semantics session_window cannot express), on both a MemoryStream
  * and batch-style input.
  */
class CustomSessionsSpec extends SparkSpec {
  import spark.implicits._

  private def t(minute: Int) = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("sessions close on gap and on terminal event type") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, String)]
    mem.addData(Seq(
      ("u1", t(0), "view"), ("u1", t(2), "click"), ("u1", t(3), "purchase"), // terminal
      ("u1", t(5), "view"),                                                 // new session, left open
      ("u2", t(0), "view"), ("u2", t(30), "view")                           // gap close at 10-min gap
    ))
    val sessions = StreamingAnalytics.customSessions(
      mem.toDS(), gapMillis = 10 * 60 * 1000, terminalType = "purchase")
    val out = StreamRun.memory(sessions, "append").sink
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(3), r.getString(4)))
      .toSet
    // u1: one 3-event session closed by the purchase; the t(5) view stays open (no output)
    assert(out.contains(("u1", t(0), 3L, "terminal")))
    // u2: first view closed by the 30-min gap when the second arrived
    assert(out.contains(("u2", t(0), 1L, "gap")))
    assert(out.size == 2)
  }

  test("idle key times out via watermark and emits its open session") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, String)]
    val sessions = StreamingAnalytics.customSessions(
      mem.toDS(), gapMillis = 10 * 60 * 1000, terminalType = "purchase",
      watermarkDelay = "1 minute")
    val out = StreamRun.memory(sessions, "append", StreamRun.chunks(mem, Seq(
      // Batch 1: u1 has an open 2-event session, then goes idle forever.
      Seq(("u1", t(0), "view"), ("u1", t(2), "click")),
      // Batch 2: another key advances the watermark past u1's last+gap
      // (10:02 + 10 min < 10:40 - 1 min) → u1's state must time out.
      Seq(("u9", t(40), "view"))))).sink
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(3), r.getString(4)))
      .toSet
    assert(out.contains(("u1", t(0), 2L, "timeout")))
    // u9's session is still open (its timeout is ahead of the watermark).
    assert(out.size == 1)
  }
}

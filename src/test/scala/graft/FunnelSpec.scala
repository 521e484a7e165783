package graft

import graft.operators.Funnel
import graft.streaming.StreamRun
import org.apache.spark.sql.functions._

/** Fixture semantics for the windowed ordered funnel — the cases the
  * sf-data oracle can't isolate: out-of-order input, a step OUTSIDE the
  * window, a later cheaper chain that must NOT be taken (greedy
  * earliest-chain, not best-chain), and a step before the previous one.
  */
class FunnelSpec extends SparkSpec {
  import spark.implicits._

  private def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")

  private val steps = Seq("view", "click", "purchase")
  private val oneHour = expr("INTERVAL 1 HOUR")

  private def run(rows: Seq[(Long, Int, String)]) =
    Funnel.stepTimes(
      rows.map { case (u, h, t) => (u, ts(h), t) }.toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", steps, oneHour)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getTimestamp(1)), Option(r.getTimestamp(2)), Option(r.getTimestamp(3)))))
      .toMap

  test("full chain within window, regardless of input order") {
    // events deliberately shuffled: purchase first in the input
    val r = run(Seq((1L, 2, "purchase"), (1L, 0, "view"), (1L, 1, "click")))
    assert(r(1L) == ((Some(ts(0)), Some(ts(1)), Some(ts(2)))))
  }

  test("step outside the window breaks the chain there") {
    // click comes 2h after first view (window 1h) → chain stops at t1
    val r = run(Seq((1L, 0, "view"), (1L, 2, "click"), (1L, 3, "purchase")))
    assert(r(1L) == ((Some(ts(0)), None, None)))
  }

  test("greedy earliest chain: a later view would qualify, but t1 is the FIRST view") {
    // view@0 (click@4 misses its window), view@3 would chain to click@4 —
    // windowFunnel semantics anchor on the first view and report no click
    val r = run(Seq((1L, 0, "view"), (1L, 3, "view"), (1L, 4, "click")))
    assert(r(1L) == ((Some(ts(0)), None, None)))
  }

  test("a step BEFORE the previous step does not count") {
    // purchase precedes the click → not a qualifying third step
    val r = run(Seq((1L, 0, "view"), (1L, 1, "purchase"), (1L, 2, "click")))
    assert(r(1L) == ((Some(ts(0)), None, None)))
    // but an equal timestamp does (>= boundary)
    val r2 = run(Seq((2L, 0, "view"), (2L, 0, "click"), (2L, 0, "purchase")))
    assert(r2(2L) == ((Some(ts(0)), Some(ts(0)), Some(ts(0)))))
  }

  test("streaming conversionStream equals batch stepTimes completions (in-order feed)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    // 3 users: full chain, chain broken by window, chain missing a step —
    // plus a second view for user 1 AFTER conversion (must not re-convert)
    val rows = Seq(
      (1L, 0, "view"), (1L, 1, "click"), (1L, 1, "purchase"), (1L, 2, "view"),
      (2L, 0, "view"), (2L, 3, "click"), (2L, 4, "purchase"),
      (3L, 0, "view"), (3L, 1, "purchase"))
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val sdf = Funnel.conversionStream(mem.toDS(), steps, 60L * 60 * 1000)
    // two micro-batches, split mid-stream, in event-time order per user
    val all = rows.map { case (u, h, t) => (u, ts(h), t) }.sortBy(_._2.getTime)
    val streaming = StreamRun.memory(sdf, "append",
      StreamRun.chunks(mem, Seq(all.take(4), all.drop(4))))
      .sink.as[(Long, Seq[java.sql.Timestamp])].collect().toSet
    val batch = Funnel.stepTimes(
      rows.map { case (u, h, t) => (u, ts(h), t) }.toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", steps, oneHour)
      .filter("t3 is not null")
      .collect().map(r => (r.getLong(0),
        Seq(r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3)))).toSet
    assert(streaming == batch)
    assert(streaming.map(_._1) == Set(1L)) // exactly one conversion, once
  }

  test("streaming: a dead chain expires INLINE — a fresh chain in the same batch converts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val sdf = Funnel.conversionStream(mem.toDS(), steps, 60L * 60 * 1000)
    val got = StreamRun.memory(sdf, "append", StreamRun.chunks(mem, Seq(
      // batch 1 anchors a chain at 00:00 that will die (no click within 1h)
      Seq((1L, ts(0), "view")),
      // batch 2 delivers a COMPLETE fresh chain hours later, while the dead
      // chain still occupies state (the user was never idle a batch, so the
      // EventTimeTimeout cannot have fired) — the inline expiry must
      // re-anchor at the 03:00 view or the conversion is silently lost and
      // the result depends on micro-batch slicing
      Seq((1L, ts(3), "view"), (1L, ts(4), "click"), (1L, ts(5), "purchase")))))
      .sink.as[(Long, Seq[java.sql.Timestamp])].collect().toSet
    assert(got == Set((1L, Seq(ts(3), ts(4), ts(5)))))
  }

  test("users who never did step 1 are absent; funnelCounts is monotone") {
    val rows = Seq(
      (1L, 0, "view"), (1L, 1, "click"), (1L, 2, "purchase"),
      (2L, 0, "view"), (2L, 1, "click"),
      (3L, 0, "click"), (3L, 1, "purchase")) // no view → not in funnel
    val st = run(rows)
    assert(!st.contains(3L) || st(3L)._1.isEmpty)
    val counts = Funnel.funnelCounts(
      rows.map { case (u, h, t) => (u, ts(h), t) }.toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", steps, oneHour)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(counts.toSeq == Seq((1L, "view", 2L), (2L, "click", 2L), (3L, "purchase", 1L)))
  }
}

package graft

import graft.streaming.{StreamRun, StreamingAnalytics}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming parity: the same transform over a MemoryStream
  * (complete/append mode) must equal its batch run on identical data.
  */
class StreamingParitySpec extends SparkSpec {
  import spark.implicits._

  private case class Ev(ts: Timestamp, key: String)
  private def t(minute: Int) = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private val events = Seq(
    Ev(t(0), "a"), Ev(t(5), "a"), Ev(t(12), "b"),
    Ev(t(20), "a"), Ev(t(31), "b"), Ev(t(45), "a"), Ev(t(59), "c"))

  test("tumbling window counts: streaming equals batch") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    mem.addData(events.map(e => (e.ts, e.key)))
    val sdf = StreamingAnalytics.tumblingCounts(
      mem.toDF().toDF("ts", "key"), "ts", "key", "15 minutes")
    val streaming = StreamRun.memory(sdf, "complete").sink
      .select("window_start", "key", "count")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val batch = StreamingAnalytics.tumblingCounts(
      events.map(e => (e.ts, e.key)).toDF("ts", "key"), "ts", "key", "15 minutes")
      .select("window_start", "key", "count")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    assert(streaming == batch && streaming.nonEmpty)
  }

  test("sliding window counts: streaming equals batch") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    mem.addData(events.map(e => (e.ts, e.key)))
    val sdf = StreamingAnalytics.slidingCounts(
      mem.toDF().toDF("ts", "key"), "ts", "key", "30 minutes", "15 minutes")
    val streaming = StreamRun.memory(sdf, "complete").sink
      .select("window_start", "key", "count")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = StreamingAnalytics.slidingCounts(
      events.map(e => (e.ts, e.key)).toDF("ts", "key"), "ts", "key", "30 minutes", "15 minutes")
      .select("window_start", "key", "count")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streaming == batch && streaming.nonEmpty)
  }

  test("streaming MG heavy hitters: candidates cover every true per-window hitter") {
    implicit val sq = spark.sqlContext
    val k = 4
    // window 1 (10:00-11:00): key 1 dominates; window 2 (11:00-12:00): key 9
    val data = (Seq.fill(30)(1L) ++ Seq.fill(6)(2L) ++ (100L to 111L)).map(key => (t(0), key)) ++
      (Seq.fill(20)(9L) ++ (200L to 215L)).map(key => (Timestamp.valueOf("2024-01-01 11:05:00"), key))
    val mem = MemoryStream[(Timestamp, Long)]
    mem.addData(data.take(25)); // split mid-window: buffers must merge across batches
    val sdf = StreamingAnalytics.heavyHitterStream(
      mem.toDF().toDF("ts", "key"), "ts", "key", k)
    val streamed: Map[Timestamp, Set[Long]] = StreamRun.memory(sdf, "complete",
      StreamRun.chunks(mem, Seq(data.drop(25)))).sink.collect().map { r =>
      r.getTimestamp(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0)).toSet
    }.toMap
    // exact per-window truth
    data.groupBy(_._1.getTime / 3600000L).foreach { case (_, rows) =>
      val n = rows.size
      val winStart = new Timestamp(rows.head._1.getTime / 3600000L * 3600000L)
      val hitters = rows.groupBy(_._2).filter { case (_, g) => g.size * k > n }.keySet
      assert(hitters.subsetOf(streamed(winStart)),
        s"window $winStart: hitters $hitters not all in ${streamed(winStart)}")
    }
    assert(streamed.values.forall(_.size <= k))
  }

  test("streaming KMV distinct sketch equals batch sketch exactly across splits") {
    implicit val sq = spark.sqlContext
    val k = 8
    // window 1: 40 events over 15 distinct keys (> k → estimation regime)
    // plus 3 NULL keys (count(DISTINCT) semantics: skipped, not a phantom
    // 16th key — xxhash64(NULL) would otherwise sketch the seed);
    // window 2: 5 distinct keys (< k → sketch IS the distinct set)
    val data = (1 to 40).map(i => (t(0), Some((i % 15).toLong))) ++
      (1 to 3).map(_ => (t(0), Option.empty[Long])) ++
      (1 to 10).map(i => (Timestamp.valueOf("2024-01-01 11:05:00"), Some((i % 5).toLong))) ++
      // null in the <k window: the exact-regime assertions below (est ==
      // 5.0, 5-entry sketch) fail loudly if NULL sketches as a 6th key
      Seq((Timestamp.valueOf("2024-01-01 11:05:00"), Option.empty[Long]))
    val mem = MemoryStream[(Timestamp, Option[Long])]
    mem.addData(data.take(23)) // split mid-window: sketch buffers must
    val sdf = StreamingAnalytics.kmvDistinctStream( // merge through state
      mem.toDF().toDF("ts", "key"), "ts", "key", k)
    val sink = StreamRun.memory(sdf, "complete", StreamRun.chunks(mem, Seq(data.drop(23)))).sink
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getTimestamp(0), r.getDouble(1), r.getSeq[Long](2))).toSet
    val streamed = rows(sink)
    val batch = rows(StreamingAnalytics.kmvDistinctStream(
      data.toDF("ts", "key"), "ts", "key", k))
    // EXACT equality, sketch contents included — the KMV buffer is a pure
    // function of each window's value set, so micro-batch splits and
    // state-store merges must be invisible
    assert(streamed == batch && streamed.size == 2)
    // and the <k window's "estimate" is the exact distinct count
    assert(streamed.exists { case (_, est, sk) => est == 5.0 && sk.length == 5 })
  }

  test("incremental report stream: running report equals the batch one-shot") {
    implicit val sq = spark.sqlContext
    // dup texts across the split (KMV must dedup through the state store),
    // a null text (skipped by the sketch, counted by n_docs), a null
    // source (a real group), and an all-null-text source (est exactly 0.0)
    val docsSeq = Seq(
      ("the quick brown fox jumps", "web"),
      ("the quick brown fox jumps", "web"),
      ("completely different text here", "web"),
      ("lorem ipsum dolor sit amet", "books"),
      (null, "books"),
      ("sourceless text body", null),
      (null, "empty_src"))
    val mem = MemoryStream[(String, String)]
    mem.addData(docsSeq.take(3)) // split mid-source: web spans both batches
    val sdf = StreamingAnalytics.incrementalReportStream(
      mem.toDF().toDF("text", "source"))
    val sink = StreamRun.memory(sdf, "complete", StreamRun.chunks(mem, Seq(docsSeq.drop(3)))).sink
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val streamed = rows(sink)
    val batch = rows(QueriesExt.mergeReport(QueriesExt.reportPartials(
      docsSeq.toDF("text", "source"), lit(0L))))
    // EXACT equality — counters are additive, the KMV buffer is a pure
    // function of the per-source text set; the micro-batch split and the
    // state-store merges must be invisible, estimate included
    assert(streamed == batch && streamed.size == 4)
    // the all-null-text source reports 0 distinct texts, not null
    assert(streamed.exists(r => r.head == "empty_src" && r.last == 0.0))
  }

  test("streaming parse: LogParser over a line stream equals batch parse") {
    implicit val sq = spark.sqlContext
    val lines = Seq(
      "Dec 10 06:55:46 LabSZ sshd[24200]: Invalid user webmaster from 173.234.31.186",
      "Dec 10 07:07:45 LabSZ sshd[24206]: Failed password for root from 52.80.34.196 port 36060 ssh2",
      "garbage line that is dropped")
    val mem = MemoryStream[String]
    mem.addData(lines)
    val sdf = StreamingAnalytics.parseStream(mem.toDF().toDF("value"))
      .select("event", "ip", "user")
    val streaming = StreamRun.memory(sdf, "append").sink.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val batch = StreamingAnalytics.parseStream(lines.toDF("value"))
      .select("event", "ip", "user").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(streaming == batch && streaming.size == 2)
  }

  test("stream-stream interval join: streaming equals batch") {
    implicit val sq = spark.sqlContext
    val errs = Seq((1L, t(0), "a"), (2L, t(10), "b"), (3L, t(40), "a"))
    val clicks = Seq((10L, t(5), "a"), (11L, t(12), "a"), (12L, t(11), "b"),
      (13L, t(55), "a"), (14L, t(30), "c"))
    // 15-minute window: err1(a,@0) → clicks 10,11; err2(b,@10) → click 12;
    // err3(a,@40) → click 13. Click 14 has no error key match.
    def joined(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      StreamingAnalytics.intervalJoin(l, r, "err_key", "click_key",
        "err_ts", "click_ts", "15 minutes", watermark = "5 minutes")
        .select("err_id", "click_id")

    val lMem = MemoryStream[(Long, Timestamp, String)]
    val rMem = MemoryStream[(Long, Timestamp, String)]
    lMem.addData(errs)
    rMem.addData(clicks)
    val sdf = joined(lMem.toDF().toDF("err_id", "err_ts", "err_key"),
      rMem.toDF().toDF("click_id", "click_ts", "click_key"))
    val streaming = StreamRun.memory(sdf, "append").sink.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val batch = joined(errs.toDF("err_id", "err_ts", "err_key"),
      clicks.toDF("click_id", "click_ts", "click_key"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(streaming == batch)
    assert(batch == Set((1L, 10L), (1L, 11L), (2L, 12L), (3L, 13L)))
  }

  test("session windows: gap-based sessionization groups correctly") {
    val df = events.map(e => (e.ts, e.key)).toDF("ts", "key")
    val out = StreamingAnalytics.sessionCounts(df, "ts", "key", "10 minutes")
      .collect().map(r => (r.getString(2), r.getLong(3)))
    // key a: events at 0,5,20,45 with 10-min gap → sessions {0,5},{20},{45}
    val aCounts = out.filter(_._1 == "a").map(_._2).sorted.toSeq
    assert(aCounts == Seq(1L, 1L, 2L))
  }

  test("stateless kernel projection (repetition stats): streaming equals batch") {
    // the quality-filter kernels are stateless projections, so they drop
    // into a readStream -> transform -> writeStream pipeline unchanged
    implicit val sq = spark.sqlContext
    val docs = Seq((1L, "a b a b c"), (2L, "x y z"), (3L, "q q q q"))
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs)
    def stats(df: org.apache.spark.sql.DataFrame) = df.toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.NativeExpressions.repetitionStats(col("text")).as("s"))
      .select(col("doc_id"), col("s.n_tok"), col("s.n_distinct"), col("s.top_bigram"))
    val streaming = StreamRun.memory(stats(mem.toDF()), "append").sink.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    val batch = stats(docs.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(streaming == batch && streaming.size == 3)
  }

  test("PSI drift monitor: streaming equals batch across micro-batches") {
    implicit val sq = spark.sqlContext
    // two 1-hour windows with visibly different value distributions
    val vals = Seq(
      (t(0), 10.0), (t(5), 20.0), (t(12), 30.0), (t(20), 480.0), (t(31), 15.0),
      (Timestamp.valueOf("2024-01-01 11:05:00"), 400.0),
      (Timestamp.valueOf("2024-01-01 11:10:00"), 410.0),
      (Timestamp.valueOf("2024-01-01 11:40:00"), 25.0))
    val baseline = (0 until 10).map(b => (1.0 + (if (b < 2) 5 else 0)) / 20.0) // skewed to low bins
    val mem = MemoryStream[(Timestamp, Double)]
    mem.addData(vals.take(4)) // split across micro-batches
    mem.addData(vals.drop(4))
    def run(df: org.apache.spark.sql.DataFrame) =
      StreamingAnalytics.psiDriftStream(df.toDF("ts", "value"), "ts", "value",
        baseline, "1 hour")
    val sink = StreamRun.memory(run(mem.toDF()), "complete").sink
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
    val streaming = sink.collect().map(key).toSet
    val batch = run(vals.toDF("ts", "value")).collect().map(key).toSet
    assert(streaming == batch && streaming.size == 20, "2 windows x 10 bins, identical numbers")
    // the 11:00 window is dominated by high values -> positive drift vs the low-skewed baseline
    val w11 = sink.collect()
      .filter(_.getTimestamp(0) == Timestamp.valueOf("2024-01-01 11:00:00"))
    assert(w11.nonEmpty && w11.head.getDouble(4) > 0.0)
  }

  test("streaming SCD2: valid_to is the successor run's MIN ts within a batch (non-monotone ts)") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Timestamp, String)]
    val sdf = StreamingAnalytics.scd2Stream(mem.toDS())
    // successor run 'browse' has rows by event_id at ts 10:05 then 10:01 —
    // batch j12 closes 'login' at the successor's MIN (10:01), so the
    // stream must defer emission past the first successor row (which would
    // report 10:05) until the successor's in-batch min is settled
    val rows = StreamRun.memory(sdf, "append", StreamRun.chunks(mem, Seq(Seq(
      (1L, 1L, t(0), "login"), (1L, 2L, t(5), "browse"), (1L, 3L, t(1), "browse")))))
      .sink.collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getString(2) == "login" && r.getTimestamp(3) == t(0) &&
      r.getTimestamp(4) == t(1) && r.getLong(5) == 1L)
  }

  test("streaming SCD2: closed intervals over the real events table equal the batch j12 history") {
    implicit val sq = spark.sqlContext
    // the full sf0.001 events table, in event order, split across 3 micro-batches
    val rows = Tables.events(spark, "/root/testdata/sf0.001")
      .select("user_id", "event_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3)))
      .sortBy(_._2)
    val mem = MemoryStream[(Long, Long, Timestamp, String)]
    val sdf = StreamingAnalytics.scd2Stream(mem.toDS())
    val streaming = StreamRun.memory(sdf, "append",
      StreamRun.chunks(mem, rows.grouped((rows.length + 2) / 3).map(_.toSeq).toSeq)).sink.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getTimestamp(3), r.getTimestamp(4), r.getLong(5))).toMap

    val batch = SparkEntry.queries("j12_scd2_history")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getTimestamp(3),
          if (r.isNullAt(4)) null else r.getTimestamp(4), r.getLong(5), r.getBoolean(6)))
      .toMap
    val closedBatch = batch.filter(!_._2._5)
    assert(streaming.keySet == closedBatch.keySet,
      "streaming emits exactly the batch history's closed versions")
    streaming.foreach { case (k, (tpe, from, to, n)) =>
      val (btpe, bfrom, bto, bn, _) = batch(k)
      assert(tpe == btpe && from == bfrom && to == bto && n == bn, s"version $k parity")
    }
    // what the stream still holds open is exactly the batch's is_current rows
    val openBatch = batch.filter(_._2._5)
    assert(openBatch.size == rows.map(_._1).distinct.length,
      "one open run per user remains in state")
  }

  test("streaming attribution: last-touch matches the batch asOfJoin on in-order data") {
    implicit val sq = spark.sqlContext
    val win = 3L * 24 * 3600 * 1000000 // 3 days in micros
    def ts(day: Int, hour: Int) = Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")
    // user 1: click → purchase (attributed), old click → late purchase (window expired)
    // user 2: purchase with no click ever (unattributed), then click → purchase
    // user 3: two clicks before one purchase (latest click wins)
    val data = Seq(
      (1L, 1L, ts(1, 8), "click"), (1L, 2L, ts(1, 9), "purchase"),
      (2L, 3L, ts(1, 10), "purchase"),
      (3L, 4L, ts(1, 11), "click"), (3L, 5L, ts(1, 12), "click"),
      (3L, 6L, ts(1, 13), "purchase"),
      (2L, 7L, ts(2, 8), "click"), (2L, 8L, ts(2, 9), "purchase"),
      (1L, 9L, ts(5, 10), "purchase"), // 4d2h after click 1 → expired
      // user 4: click and purchase at the SAME instant, purchase with the
      // SMALLER event_id — the batch as-of makes an equal-ts click
      // visible, so the stream's click-first tie-break must attribute
      (4L, 10L, ts(3, 9), "purchase"), (4L, 11L, ts(3, 9), "click"),
      // user 5: the click arrives in micro-batch 1 but its EVENT time is
      // after the purchase that arrives late in micro-batch 2 — the batch
      // as-of (rts <= lts) never attributes a future click, nor may the
      // stream's stored-state shortcut
      // user 6: click 14 arrives in micro-batch 1; a LATE click 15 (OLDER
      // event time) arrives in micro-batch 2 and must not clobber the
      // newer stored click — the batch as-of attributes the most recent
      // click, so the stream keeps the event-time-latest
      (6L, 14L, ts(6, 10), "click"),
      (5L, 12L, ts(4, 10), "click"), (5L, 13L, ts(4, 8), "purchase"),
      (6L, 15L, ts(6, 8), "click"), (6L, 16L, ts(6, 12), "purchase"))
    val mem = MemoryStream[(Long, Long, Timestamp, String)]
    val sdf = StreamingAnalytics.attributionStream(mem.toDS(), win)
    // chunk 1 ends after user 5's click, so that click sits in STATE when
    // user 5's earlier-event-time purchase arrives in chunk 2
    val split = data.indexWhere(_._2 == 12L) + 1
    val streaming = StreamRun.memory(sdf, "append",
      StreamRun.chunks(mem, Seq(data.take(split), data.drop(split)))).sink.collect()
      .map(r => r.getLong(1) -> (Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4)))
      .toMap
    assert(streaming.keySet == Set(2L, 3L, 6L, 8L, 9L, 10L, 13L, 16L), "one row per purchase")
    assert(streaming(2L) == (Some(1L), true))
    assert(streaming(3L) == (None, false), "no click ever")
    assert(streaming(6L) == (Some(5L), true), "latest of two clicks wins")
    assert(streaming(8L) == (Some(7L), true), "state carries clicks across micro-batches")
    assert(streaming(9L) == (None, false), "3-day window expired")
    assert(streaming(10L) == (Some(11L), true), "equal-ts click visible, as in the batch as-of")
    assert(streaming(13L) == (None, false), "a click in the event-time future never attributes")
    assert(streaming(16L) == (Some(14L), true),
      "a late older click must not clobber the newer stored click")

    // batch reconciliation: asOfJoin + window filter gives the same credit
    import spark.implicits._
    val purchases = data.filter(_._4 == "purchase").map(t => (t._1, t._2, t._3))
      .toDF("user_id", "purchase_id", "pts")
    val clicks = data.filter(_._4 == "click").map(t => (t._1, t._3, t._2))
      .toDF("user_id", "cts", "click_id")
    val batch = graft.operators.TemporalJoins
      .asOfJoin(purchases, clicks, "user_id", "pts", "cts", "click_id", Seq.empty)
      .select(col("purchase_id"),
        when(col("asof").isNotNull &&
          unix_micros(col("pts")) - unix_micros(col("asof.cts")) <= win,
          col("asof.click_id")).as("click_id"))
      .collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    streaming.foreach { case (pid, (cid, _)) =>
      assert(batch(pid) == cid, s"purchase $pid: stream ≡ batch as-of")
    }
  }

  test("streaming EWMA: recursive fold across micro-batch splits equals the full-history reference") {
    implicit val sq = spark.sqlContext
    val alpha = 0.5
    // (user_id, event_id, value) — two keys, interleaved arrivals
    val data = Seq(
      (1L, 1L, 10.0), (2L, 2L, 100.0), (1L, 3L, 20.0), (1L, 4L, 2.0),
      (2L, 5L, 50.0), (1L, 6L, 40.0), (2L, 7L, 75.0), (1L, 8L, 8.0))
    val mem = MemoryStream[(Long, Long, Double)]
    val sdf = StreamingAnalytics.ewmaStream(mem.toDS(), alpha)
    // split mid-key: state must carry each key's ewma across batches
    val streaming = StreamRun.memory(sdf, "append",
      StreamRun.chunks(mem, Seq(data.take(3), data.drop(3)))).sink.collect()
      .map(r => r.getLong(1) -> (r.getDouble(3), r.getLong(4))).toMap

    // reference: plain Scala recursive fold per key in event_id order
    val expected = data.groupBy(_._1).flatMap { case (_, rows) =>
      val ordered = rows.sortBy(_._2)
      ordered.scanLeft((0L, 0.0, 0L)) { case ((_, e, n), (_, eid, x)) =>
        (eid, if (n == 0) x else alpha * x + (1 - alpha) * e, n + 1)
      }.tail.map { case (eid, e, n) => eid -> (e, n) }
    }
    assert(streaming.size == data.size, "one smoothed row per input event")
    expected.foreach { case (eid, (e, n)) =>
      assert(streaming(eid) == ((e, n)), s"event $eid: exact recursive parity")
    }
    // state is one record per key: first event of each key passes through
    assert(streaming(1L)._1 == 10.0 && streaming(2L)._1 == 100.0)
  }
}

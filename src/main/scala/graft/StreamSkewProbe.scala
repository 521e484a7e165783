package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamRun

/** Streaming-side skew measurement (r15 — the batch [[SkewProbe]] covers
  * joins/windows/aggregates; the stateful streaming path has the same
  * hot-key risk and had no numbers). Feeds the seeded hot-key corpus
  * (`make_scale10.py --hot-user=0.3`, one user owning ~30% of events)
  * through the two `flatMapGroupsWithState` twins with the heaviest
  * per-key folds — `Funnel.conversionStream` and
  * `StreamingAnalytics.scd2Stream` — as REAL streaming queries across
  * micro-batches, and measures:
  *
  *  1. Per-task spread of the stateful stage (shuffle-read bytes +
  *     duration): a keyed fold's partitioning is required state
  *     partitioning, so the hot key's group is ONE task that no
  *     optimizer can split — the streaming sibling of SkewProbe's
  *     window ceiling, quantified here so the registry's "bounded
  *     per-key state, skew is wall-clock not memory" claim is measured,
  *     not asserted. (At 100 TB the mitigation is key-space design —
  *     these operators key on users/entities, never on a boolean-like
  *     low-cardinality column — plus the batch twins for backfill.)
  *  2. The BOUNDED-STATE contract under the hot key: state rows track
  *     ACTIVE KEYS, not events — the hot key contributes one state
  *     record despite owning 30% of the stream — read from the state
  *     store's own metrics (`stateOperators.numRowsTotal`), with the
  *     per-row byte cost printed.
  *
  * Prints PASS/FAIL per assertion; exits 1 on any FAIL.
  * Usage: runMain graft.StreamSkewProbe [skewCorpusDir]
  *        (default /tmp/graft_skew10 — build with tools/skew_gate.sh)
  */
object StreamSkewProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_skew10")
    val spark = GraftSession.open()
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val meter = new Meter(spark)

    val gate = new Gate("STREAMSKEW")
    def check(name: String, ok: Boolean, detail: String): Unit =
      gate.check(ok, f"$name%-52s $detail")

    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull && col("event_type").isNotNull)
    val total = ev.count()
    val hotShare = ev.filter(col("user_id") === 0L).count().toDouble / total
    val distinctUsers = ev.select("user_id").distinct().count()
    println(f"corpus: $dir, hot user owns ${hotShare * 100}%.1f%% of $total%d events, $distinctUsers%d distinct users")

    /** One lens: feed `rows` through `fold` as a real streaming query in
      * three in-order chunks, metering the stateful stage; prints and
      * returns the stage's task spread and the state rows held after the
      * last trigger (the state store's own `numRowsTotal`). */
    def lens[T: Encoder](name: String, emitted: String, rows: Seq[T])(
        fold: Dataset[T] => Dataset[_]): (Meter.Spread, Long) = {
      val mem = MemoryStream[T]
      val out = fold(mem.toDS())
      val chunks = rows.grouped(math.max(1, rows.size / 3 + 1)).toSeq
      meter.reset()
      // started inside the meter: the stream thread inherits its job tag
      val run = meter { StreamRun.memory(out, "append", StreamRun.chunks(mem, chunks)) }
      val s = meter.spread
      val stateOps = run.progress.lastOption.toSeq.flatMap(_.stateOperators.toSeq)
      val stateRows = stateOps.map(_.numRowsTotal).sum
      val stateBytes = stateOps.map(_.memoryUsedBytes).sum
      println(s"  $name stateful stage: ${Meter.fmt(s)}")
      println(f"  $name state: $stateRows%d rows, ${stateBytes / 1e6}%.2f MB (${run.sink.count()}%d $emitted emitted)")
      (s, stateRows)
    }

    // ---- 1. conversionStream: funnel fold on the hot key ----------------
    // fed in event-time order so the 1-hour watermark never drops rows for
    // a reason unrelated to skew
    locally {
      val rows = ev.select(col("user_id"), col("ts"), col("event_type"))
        .orderBy("ts", "user_id").as[(Long, Timestamp, String)].collect().toSeq
      val (s, stateRows) = lens("conversionStream", "conversions", rows)(ds =>
        graft.operators.Funnel.conversionStream(
          ds, Seq("click", "purchase"), windowMillis = 7L * 24 * 3600 * 1000))
      check("funnel fold concentrates the hot key (1 task, unsplittable)",
        s.maxOverMedian > 5,
        f"hot task reads ${s.maxOverMedian}%.1fx the median — per-key folds cannot be split, the streaming window-ceiling sibling")
      check("funnel state tracks KEYS, not the hot key's events",
        stateRows > 0 && stateRows <= distinctUsers,
        f"$stateRows%d state rows vs $distinctUsers%d users vs ${(hotShare * total).toLong}%d hot-key events — the hot key holds ONE record")
    }

    // ---- 2. scd2Stream: open-run fold on the hot key --------------------
    locally {
      val rows = ev.select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .orderBy("event_id").as[(Long, Long, Timestamp, String)].collect().toSeq
      val (s, stateRows) = lens("scd2Stream", "closed versions", rows)(
        graft.streaming.StreamingAnalytics.scd2Stream)
      check("scd2 fold concentrates the hot key (1 task, unsplittable)",
        s.maxOverMedian > 5,
        f"hot task reads ${s.maxOverMedian}%.1fx the median")
      check("scd2 state is exactly one open run per key (NoTimeout)",
        stateRows == distinctUsers,
        f"$stateRows%d state rows vs $distinctUsers%d users — the hot key's 30%% of events collapse to one open-run record")
    }

    gate.finish(spark)
  }
}

package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamRun

/** Degenerate-input lens for the STREAMING twins (r14). The batch degen
  * gate (ship_gate stage 4) runs Verify+DuckDB on a corpus with planted
  * null event_type / null ts / null value / null-text docs / zero-norm
  * embeddings — but the streaming parity suites run on clean fixtures,
  * so a streaming-side null divergence (a watermark silently dropping a
  * row the batch twin reports, a null key poisoning a mergeable buffer)
  * would ship green. This main points twelve twins (r16: every stateful fold,
  * incl. scd2/funnel/upsert/ingest) at the
  * degen corpus itself, splits every stream mid-corpus so buffers must
  * merge across micro-batches, and compares against the batch twin on
  * the same rows. Exits 1 on any divergence. r15 adds two more lenses:
  * attributionStream against the BATCH asOfJoin (a genuinely different
  * implementation, with planted null event_types flowing through the
  * fold's ignore arm) and ewmaStream against an exact recursive
  * reference (planted null values must drop before the primitive-Double
  * encoder can fold them to 0.0).
  *
  * Null event times turn out to drop IDENTICALLY on both sides —
  * window(ts) generates no row for a null timestamp in batch just as
  * the stream never closes a window for one — and that agreement is
  * pinned explicitly (a batch-side null-window group appearing later
  * would otherwise hide behind the comparison's filter).
  *
  * A second argument seeds a RANDOM SPLIT SCHEDULE (r15): instead of the
  * fixed mid-corpus halving, every lens feeds its rows as 2-5 micro-
  * batches cut at seeded-random boundaries. The r14 fuzzer's lesson was
  * that fixed plants miss position/density-dependent divergences, and
  * streams add an axis the batch fuzzer never varies — WHERE the micro-
  * batch boundary falls relative to a planted row (a dup pair split
  * across batches, a null key alone in its own batch, an empty batch
  * between two merges). Pair it with a fuzzed corpus for the full sweep:
  *
  *   python3 tools/fuzz_degen.py <src> /tmp/graft_fuzz <seed>
  *   runMain graft.StreamDegen /tmp/graft_fuzz <seed>
  *
  * Usage: runMain graft.StreamDegen [degenDir] [splitSeed]
  *        (default /tmp/graft_degen, fixed halving)
  */
object StreamDegen {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_degen")
    val splitRng: Option[scala.util.Random] =
      args.lift(1).map(s => new scala.util.Random(s.toLong))
    splitRng.foreach(_ => println(s"[streamdegen] seeded split schedule: seed=${args(1)}"))
    /** The micro-batch schedule for one lens: seeded-random 2-5 chunks at
      * random boundaries (possibly-empty chunks included — an empty
      * micro-batch between merges is a legitimate runtime shape), or the
      * original fixed halving when unseeded. Order-preserving either way
      * (slices of the already-ordered feed): the lenses pin ORDER on
      * purpose — lateness/watermark drops are a different axis with its
      * own tests — so the schedule varies only where state must merge.
      */
    def feed[T](rows: Seq[T]): Seq[Seq[T]] = splitRng match {
      case None => Seq(rows.take(rows.size / 2), rows.drop(rows.size / 2))
      case Some(r) =>
        val cuts = Seq.fill(1 + r.nextInt(4))(r.nextInt(rows.size + 1)).sorted
        ((0 +: cuts) :+ rows.size).sliding(2).map { w => rows.slice(w.head, w.last) }.toSeq
    }
    val spark = GraftSession.open("8")
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    // the degen corpus' (doc_id, text) in file order, null texts kept
    lazy val docTexts = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq

    val gate = new Gate("STREAMDEGEN")
    def check(name: String, ok: Boolean, detail: => String): Unit =
      gate.check(ok, if (ok) name else s"$name — $detail")

    // ---- 1. heavyHitterStream: MG candidates cover exact hitters ------
    // keyed on user_id — a planted-null column (event_id 4) plus the
    // all-null-ts user 0's rows; null keys enter the MG buffer and
    // null-ts rows hit the streaming watermark path
    {
      val k = 4
      // time-ordered feed (nulls first): the lens here is NULL handling,
      // not lateness — unordered chunks would cross the 1h watermark and
      // drop whole windows for a reason unrelated to the plants
      val rows = Tables.events(spark, dir).select(col("ts"), col("user_id"))
        .orderBy(asc_nulls_first("ts")).as[(Timestamp, java.lang.Long)].collect().toSeq
      val mem = MemoryStream[(Timestamp, java.lang.Long)]
      val sdf = graft.streaming.StreamingAnalytics.heavyHitterStream(
        mem.toDF().toDF("ts", "key"), "ts", "key", k)
      val sink = StreamRun.memory(sdf, "complete", StreamRun.chunks(mem, feed(rows))).sink
      val streamed: Map[Timestamp, Set[java.lang.Long]] = sink.collect().map { r =>
        r.getTimestamp(0) ->
          r.getSeq[Row](1).map(c => if (c.isNullAt(0)) null
            else java.lang.Long.valueOf(c.getLong(0))).toSet
      }.toMap
      // exact per-window truth from the same rows. Null-ts rows have no
      // window on either side of a STREAMING agg, and null KEYS are
      // excluded by the operator's explicit contract (they'd otherwise
      // fold into key 0 through the primitive input encoder — the first
      // real catch of this gate, now documented at heavyHitterStream) —
      // so the truth excludes them from hitters but the null-key rows
      // still COUNT toward each window's total n, exactly as a null
      // group would dilute shares in the batch a21's count(*)
      val withTs = rows.filter(_._1 != null)
      var covered = true
      withTs.groupBy(_._1.getTime / 3600000L).foreach { case (h, g) =>
        val winStart = new Timestamp(h * 3600000L)
        val hitters = g.filter(_._2 != null)
          .groupBy(_._2).filter { case (_, grp) => grp.size * k > g.size }.keySet
        if (hitters.nonEmpty &&
            (!streamed.contains(winStart) || !hitters.subsetOf(streamed(winStart))))
          covered = false
      }
      check("heavyHitterStream: MG coverage on degen corpus (null keys excluded by contract)",
        covered && streamed.values.forall(_.size <= k),
        s"windows=${streamed.keySet.size}")
    }

    // ---- 2. psiDriftStream: streaming == batch minus null-window ------
    {
      val rows = Tables.events(spark, dir).select(col("ts"), col("value"))
        .orderBy(asc_nulls_first("ts")).as[(Timestamp, java.lang.Double)].collect().toSeq
      val baseline = Seq.fill(10)(0.1)
      def run(df: DataFrame) = graft.streaming.StreamingAnalytics.psiDriftStream(
        df.toDF("ts", "value"), "ts", "value", baseline, "1 hour")
      val mem = MemoryStream[(Timestamp, java.lang.Double)]
      val sink = StreamRun.memory(run(mem.toDF()), "complete", StreamRun.chunks(mem, feed(rows))).sink
      def key(r: Row) = (r.getTimestamp(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))
      val streaming = sink.collect()
        .filter(!_.isNullAt(0)).map(key).toSet
      val batchAll = run(rows.toDF("ts", "value")).collect()
      val batchNullWin = batchAll.filter(_.isNullAt(0))
      val batch = batchAll.filterNot(_.isNullAt(0)).map(key).toSet
      check("psiDriftStream: streaming == batch on degen corpus (null value rows)",
        streaming == batch && streaming.nonEmpty,
        s"stream=${streaming.size} batch=${batch.size} diff=${(streaming diff batch).take(2)} ${(batch diff streaming).take(2)}")
      // pinned AGREEMENT, not divergence: window(ts) generates no row
      // for a null event time on the batch side either, so the null-ts
      // plants are excluded identically by both engines — if batch ever
      // starts emitting a null-window group, the comparison above would
      // hide it behind the filterNot, so pin it explicitly
      check("psiDriftStream: null-ts rows drop identically on both sides",
        batchNullWin.isEmpty,
        s"batch emitted ${batchNullWin.length} null-window rows the stream cannot")
    }

    // ---- 3. cleanCorpusStream: gates+dedup parity on degen docs -------
    // null text / empty text / whitespace text / null lang all flow
    // through dedup's md5 hash (null hash groups) and the quality gates
    {
      // fed in doc_id order from ONE upstream partition: shuffle preserves
      // per-mapper order, so dropDuplicatesWithinWatermark's kept copy is
      // deterministically the min-doc_id one — the batch twin's minBy.
      // (An unordered feed would make "which duplicate survives" depend on
      // collect() order, a gate-flake waiting for a parquet row reorder.)
      val docs = docTexts.map { case (id, text) =>
        (id, new Timestamp(3600000L + id * 60000L), text) }.sortBy(_._1)
      val mem = MemoryStream[(Long, Timestamp, String)]
      // The batch twin below is GLOBAL keep-min, which matches the stream
      // only while every duplicate pair sits within the watermark horizon
      // (see the comment there). make_degen plants pairs 2 minutes apart,
      // within the fixed 30; the FUZZER plants them at arbitrary doc_id
      // (= event-minute) distances, so under a seeded schedule the delay
      // widens to cover the whole corpus span — a cross-horizon re-emit
      // is dedupStream's documented bounded-state design, not the
      // divergence this lens hunts (the seeded axis here is where the
      // state MERGES fall, not the horizon).
      val delay = if (splitRng.isDefined)
        s"${docs.map(_._1).max - docs.map(_._1).min + 60} minutes" else "30 minutes"
      val out = graft.streaming.StreamingAnalytics.cleanCorpusStream(
        mem.toDF().toDF("doc_id", "ts", "text"), "ts", delay)
      val got = StreamRun.memory(out, "append", StreamRun.chunks(mem, feed(docs))).sink
        .select("doc_id", "quality").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // batch twin: first copy per text (null-safe grouping — streaming
      // dropDuplicates treats null hashes as one group) through the SAME
      // shared gates. This global keep-min model matches the stream ONLY
      // because the corpus' duplicate pairs sit WITHIN the watermark
      // horizon (make_degen plants them 2 doc_ids = 2 event-minutes
      // apart vs the 30-minute delay) — dedupStream's bounded state
      // re-emits a wider pair BY DESIGN, so a cross-horizon plant would
      // redden this gate with no bug. The dupGroups guard below keeps
      // the dedup half of the parity non-vacuous: before r14's plant the
      // degen corpus had zero duplicate texts, so this check proved the
      // gates but silently tested nothing about dedup.
      val firstCopies = docs.groupBy(d => Option(d._3)).map(_._2.minBy(_._1)).toSeq
      val dupGroups = docs.size - firstCopies.size
      val batch = QueriesExt.cleanGates(
          firstCopies.toDF("doc_id", "ts", "text"), Seq("doc_id"))
        .select("doc_id", "quality").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      check("cleanCorpusStream == batch gates on degen docs (null/empty/ws text)",
        got == batch && batch.nonEmpty,
        s"stream=${got.size} batch=${batch.size} diff=${(got.toSet diff batch.toSet).take(2)} ${(batch.toSet diff got.toSet).take(2)}")
      check("cleanCorpusStream parity exercised the dedup arm (corpus has dup texts)",
        dupGroups >= 1,
        s"$dupGroups duplicate rows in the degen corpus — re-run tools/make_degen.py")
    }

    // ---- 4. incrementalDedupStream: per-batch parity on degen docs ----
    {
      val base = docTexts.filter(_._1 % 2 == 0).toDF("doc_id", "text")
      val arrivals = docTexts.filter(_._1 % 2 == 1)
      val chunks = feed(arrivals)
      val mem = MemoryStream[(Long, String)]
      val results = scala.collection.mutable.ArrayBuffer.empty[Map[Long, (String, Option[Long])]]
      val q = graft.streaming.StreamingAnalytics.incrementalDedupStream(
        mem.toDF().toDF("doc_id", "text"), base, n = 2, threshold = 0.5, maxDf = 100) {
        out => results += out.collect()
          .map(r => r.getLong(0) -> ((r.getString(1),
            Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
      }
      StreamRun(q, StreamRun.chunks(mem, chunks))
      val nonEmpty = results.filter(_.nonEmpty).toSeq
      // empty-chunk symmetry under a seeded schedule: an empty micro-batch
      // produces no stream output row and its batch twin is the empty map
      // — both sides drop it (incrementalStatus emits one row per arrival,
      // so a nonempty chunk can never be filtered on only one side)
      val batchTwins = chunks.filter(_.nonEmpty).map { c =>
        graft.functions.Dedup.incrementalStatus(
            graft.functions.ShingleIndex.derive(base, "doc_id", "text", 2),
            c.toDF("doc_id", "text"), "doc_id", "text", 0.5, 100)
          .collect().map(r => r.getLong(0) -> ((r.getString(1),
            Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
      }
      check("incrementalDedupStream == batch incrementalStatus per degen micro-batch",
        nonEmpty == batchTwins,
        s"stream batches=${nonEmpty.map(_.size)} batch=${batchTwins.map(_.size)}")
    }

    // ---- 5. kmvDistinctStream: exact sketch parity on degen events ----
    // null user_id keys must be SKIPPED by the nullable sketch (they'd
    // otherwise sketch the xxhash seed as a phantom key) and null-ts
    // rows must drop IDENTICALLY on both engines (window(ts) generates
    // no row for a null timestamp in batch, the stream never assigns one
    // a window) — both conventions checked against the batch twin,
    // sketch contents included, across a mid-corpus micro-batch split.
    {
      val k = 16
      val rows = Tables.events(spark, dir).select(col("ts"), col("user_id"))
        .orderBy(asc_nulls_first("ts")).as[(Timestamp, java.lang.Long)].collect().toSeq
      val mem = MemoryStream[(Timestamp, java.lang.Long)]
      val sdf = graft.streaming.StreamingAnalytics.kmvDistinctStream(
        mem.toDF().toDF("ts", "key"), "ts", "key", k)
      val sink = StreamRun.memory(sdf, "complete", StreamRun.chunks(mem, feed(rows))).sink
      def canon(df: DataFrame): Set[(Timestamp, Double, Seq[Long])] = df.collect()
        .map(r => (r.getTimestamp(0), r.getDouble(1), r.getSeq[Long](2))).toSet
      val streamed = canon(sink)
      val batchAll = canon(graft.streaming.StreamingAnalytics.kmvDistinctStream(
        rows.toDF("ts", "key"), "ts", "key", k))
      check("kmvDistinctStream == batch on degen events (sketch-exact through state merges)",
        streamed == batchAll && streamed.nonEmpty,
        s"stream=${streamed.size} batch=${batchAll.size}")
      // non-vacuity: the parity above only tests the null-ts and null-key
      // conventions if the corpus actually plants them. make_degen
      // GUARANTEES both plants, so unseeded runs enforce this; a fuzzed
      // corpus plants the two columns independently, and a rare seed can
      // land every null key on an already-null-ts row — vacuous for this
      // lens but not a divergence, so seeded runs only note it.
      val exercised =
        rows.exists(_._1 == null) && rows.exists(r => r._1 != null && r._2 == null)
      if (splitRng.isEmpty)
        check("kmvDistinctStream parity exercised null ts AND null keys (corpus plants present)",
          exercised,
          s"nullTs=${rows.count(_._1 == null)} nullKey=${rows.count(_._2 == null)}")
      else if (!exercised)
        println("[streamdegen] note: this fuzz seed left the kmv null-key-with-ts case unexercised")
    }

    // ---- 6. exactDupStream: null-text hash convention + both arms -----
    // base = doc_id % 3 != 2 of the degen corpus, stream = ALL docs, so
    // the gate exercises exact_dup (incl. the r14 dup-pair plant and the
    // null-text doc matching the base's null-text copy through the
    // xxhash64(NULL)=seed convention) AND the "new" arm (the empty-text
    // doc, id % 3 == 2, exists only stream-side).
    {
      val all = docTexts.sortBy(_._1)
      val base = all.filter(_._1 % 3 != 2).toDF("doc_id", "text")
      val mem = MemoryStream[(Long, String)]
      val out = graft.streaming.StreamingAnalytics.exactDupStream(
        mem.toDF().toDF("doc_id", "text"), base)
      val sink = StreamRun.memory(out, "append", StreamRun.chunks(mem, feed(all))).sink
      def canon(df: DataFrame): Map[Long, (String, Option[Long])] = df
        .select("doc_id", "status", "match_id").collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
      val got = canon(sink)
      val batch = canon(graft.streaming.StreamingAnalytics.exactDupStream(
        all.toDF("doc_id", "text"), base, cacheBase = false))
      check("exactDupStream == batch on degen docs (null-text hash convention identical)",
        got == batch && batch.nonEmpty,
        s"stream=${got.size} batch=${batch.size} diff=${(got.toSet diff batch.toSet).take(2)}")
      check("exactDupStream exercised BOTH arms on the degen corpus",
        got.values.exists(_._1 == "exact_dup") && got.values.exists(_._1 == "new"),
        s"statuses=${got.values.map(_._1).toSet}")
    }

    // ---- 7. attributionStream: as-of fold vs the BATCH asOfJoin -------
    // The strongest kind of twin: a different IMPLEMENTATION (union +
    // sort-merge as-of vs keyed stream fold), not the same fold run twice.
    // Null user_id and null ts drop on BOTH sides before the primitive-
    // key encoder boundary (the heavyHitterStream null→0 fold class);
    // null event_type rows FLOW into the fold and must be ignored by its
    // type match — planted nulls exercise exactly that arm.
    locally {
      val winMicros = 3L * 24 * 3600 * 1000 * 1000
      // Fed in the fold's OWN order — (event time, clicks before
      // purchases, event_id) — the operator's documented in-order-stream
      // contract. The fuzzer's ts-dup plants REORDER event time relative
      // to event_id, and an event_id-ordered feed then delivers
      // cross-batch LATE purchases, whose non-attribution is
      // attributionStream's documented bounded-state boundary ("the
      // batch asOfJoin is the order-perfect reconciliation for late
      // data"), not a divergence — this lens's axis is TIES, which the
      // contract-ordered feed still exercises fully (equal-ts rows can
      // straddle any micro-batch boundary the seed picks).
      val rows = Tables.events(spark, dir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .as[(Long, Long, Timestamp, String)].collect().toSeq
        .sortBy(t => (graft.TimeUs.toUs(t._3), if (t._4 == "click") 0 else 1, t._2))
      val mem = MemoryStream[(Long, Long, Timestamp, String)]
      val sdf = graft.streaming.StreamingAnalytics.attributionStream(mem.toDS(), winMicros)
      val streaming: Map[Long, Option[Long]] =
        StreamRun.memory(sdf, "append", StreamRun.chunks(mem, feed(rows))).sink.collect()
        .map(r => r.getLong(1) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
      import org.apache.spark.sql.functions.{unix_micros, when}
      val purchases = rows.filter(_._4 == "purchase").map(t => (t._1, t._2, t._3))
        .toDF("user_id", "purchase_id", "pts")
      val clicks = rows.filter(_._4 == "click").map(t => (t._1, t._3, t._2))
        .toDF("user_id", "cts", "click_id")
      val batch: Map[Long, Option[Long]] = graft.operators.TemporalJoins
        .asOfJoin(purchases, clicks, "user_id", "pts", "cts", "click_id", Seq.empty)
        .select(col("purchase_id"),
          when(col("asof").isNotNull &&
            unix_micros(col("pts")) - unix_micros(col("asof.cts")) <= winMicros,
            col("asof.click_id")).as("click_id"))
        .collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
      check("attributionStream == batch asOfJoin on degen events (per-purchase credit)",
        streaming == batch && streaming.nonEmpty,
        s"stream=${streaming.size} batch=${batch.size} diff=${(streaming.toSet diff batch.toSet).take(2)} ${(batch.toSet diff streaming.toSet).take(2)}")
      // non-vacuity holds by construction on make_degen's fixed plants; a
      // fuzzed corpus plants the null columns independently, so a rare
      // seed can land every null type on a dropped (null-user/null-ts)
      // row — vacuous, not a divergence (lens 5's rule)
      val nullTypeReached = rows.exists(_._4 == null)
      if (splitRng.isEmpty)
        check("attribution parity exercised null event_type rows flowing through the fold",
          nullTypeReached,
          "no null-type row reached the fold — corpus plant absent")
      else if (!nullTypeReached)
        println("[streamdegen] note: this fuzz seed left the attribution null-type arm unexercised")
    }

    // ---- 8. ewmaStream: exact recursive fold parity on degen values ----
    // value carries planted NULLs: the primitive-Double encoder would
    // fold them to 0.0 silently (the same class as the null key→0
    // catch), so the operator's contract is null-value rows drop BEFORE
    // the encoder boundary — enforced here on both sides, then the
    // stream's cross-batch state merges must reproduce the full-history
    // recursion bit-exactly.
    locally {
      val alpha = 0.25
      val rows: Seq[(Long, Long, Double)] = Tables.events(spark, dir)
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("value"))
        .orderBy("event_id").as[(Long, Long, Double)].collect().toSeq
      val mem = MemoryStream[(Long, Long, Double)]
      val sdf = graft.streaming.StreamingAnalytics.ewmaStream(mem.toDS(), alpha)
      val streaming = StreamRun.memory(sdf, "append", StreamRun.chunks(mem, feed(rows))).sink.collect()
        .map(r => r.getLong(1) -> ((r.getDouble(3), r.getLong(4)))).toMap
      // exact reference: per-key recursive fold in event_id order — the
      // same order the stream folds (within-batch sort + in-order chunks)
      val expected = rows.groupBy(_._1).flatMap { case (_, g) =>
        g.sortBy(_._2).scanLeft((0L, 0.0, 0L)) { case ((_, e, n), (_, eid, x)) =>
          (eid, if (n == 0) x else alpha * x + (1 - alpha) * e, n + 1)
        }.tail.map { case (eid, e, n) => eid -> ((e, n)) }
      }
      check("ewmaStream == exact recursive reference on degen events (null values dropped pre-encoder)",
        streaming.size == rows.size && expected.forall { case (k, v) => streaming.get(k).contains(v) },
        s"stream=${streaming.size} rows=${rows.size} firstDiff=${expected.find { case (k, v) => !streaming.get(k).contains(v) }.take(1)}")
    }

    // ---- 9. scd2Stream: chunk-aware contract model + batch j12 anchor --
    // The two heaviest stateful folds (scd2, funnel) were the only twins
    // the lens did not cover (r16 verdict task 4) — and they are exactly
    // what the ts-dup plants stress: scd2's valid_from/valid_to are RUN
    // MINIMA, so duplicated and non-monotone timestamps inside a run, and
    // runs straddling seeded micro-batch boundaries, exercise the
    // deferred-emission (`pending`) machinery. Null user_id / null ts
    // rows drop pre-encoder (the established primitive-encoder class);
    // null event_type FLOWS — the fold's null-safe run detection must
    // match batch j12's IS DISTINCT FROM. Two-level check: (1) the stream
    // equals an independent chunk-aware model of the documented contract
    // under ANY schedule; (2) every closed run's settled fields
    // (type, valid_from, n_events — final the moment the run closes)
    // equal the REAL batch j12 on the identical filtered universe, and
    // valid_to equals j12 for runs whose successor closed inside one
    // micro-batch (the model marks them; a batch-end emission's valid_to
    // is the successor's min SO FAR — j12 parity there is the documented
    // bounded-state boundary, not a divergence).
    locally {
      val evDf = Tables.events(spark, dir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      val twinDir = "/tmp/graft_sd_scd2_twin"
      evDf.write.mode("overwrite").parquet(s"$twinDir/events.parquet")
      val rows = evDf.as[(Long, Long, Timestamp, String)].collect().toSeq.sortBy(_._2)
      val chunks = feed(rows)
      val mem = MemoryStream[(Long, Long, Timestamp, String)]
      val sdf = graft.streaming.StreamingAnalytics.scd2Stream(mem.toDS())
      val streaming = StreamRun.memory(sdf, "append", StreamRun.chunks(mem, chunks)).sink.collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getString(2), r.getTimestamp(3), r.getTimestamp(4), r.getLong(5)))).toMap

      // independent chunk-aware model of the fold's documented contract
      case class R(tpe: String, minUs: Long, n: Long, version: Long)
      val refOut = scala.collection.mutable.Map
        .empty[(Long, Long), (String, Long, Long, Long)] // (tpe, fromUs, toUs, n)
      val settled = scala.collection.mutable.Set.empty[(Long, Long)]
      val curRef = scala.collection.mutable.Map.empty[Long, R]
      for (chunk <- chunks) {
        val pending = scala.collection.mutable.Map.empty[Long, R]
        chunk.sortBy(_._2).foreach { case (u, _, ts, typ) =>
          val tsUs = graft.TimeUs.toUs(ts)
          curRef.get(u) match {
            case Some(s) if s.tpe == typ =>
              curRef(u) = s.copy(minUs = math.min(s.minUs, tsUs), n = s.n + 1)
            case Some(s) =>
              pending.get(u).foreach { p =>
                refOut((u, p.version)) = ((p.tpe, p.minUs, s.minUs, p.n))
                settled += ((u, p.version))
              }
              pending(u) = s
              curRef(u) = R(typ, tsUs, 1L, s.version + 1)
            case None =>
              curRef(u) = R(typ, tsUs, 1L, 1L)
          }
        }
        pending.foreach { case (u, p) =>
          refOut((u, p.version)) = ((p.tpe, p.minUs, curRef(u).minUs, p.n))
        }
      }
      val refAsTs = refOut.view.mapValues { case (tpe, f, t, n) =>
        (tpe, graft.TimeUs.toTs(f), graft.TimeUs.toTs(t), n) }.toMap
      check("scd2Stream == chunk-aware contract model on degen events (null types, ts dups)",
        streaming == refAsTs && streaming.nonEmpty,
        s"stream=${streaming.size} model=${refAsTs.size} " +
          s"diff=${(streaming.toSet diff refAsTs.toSet).take(2)} ${(refAsTs.toSet diff streaming.toSet).take(2)}")
      val batch = SparkEntry.queries("j12_scd2_history")(spark, twinDir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getString(2), r.getTimestamp(3),
            if (r.isNullAt(4)) null else r.getTimestamp(4), r.getLong(5), r.getBoolean(6)))).toMap
      val closedBatch = batch.filter(!_._2._5)
      val settledFieldsOk = streaming.forall { case (k, (tpe, from, to, n)) =>
        closedBatch.get(k).exists { case (btpe, bfrom, bto, bn, _) =>
          tpe == btpe && from == bfrom && n == bn &&
            (!settled.contains(k) || to == bto)
        }
      }
      check("scd2Stream closed runs anchor to batch j12 (keys, type, valid_from, n; valid_to when settled)",
        streaming.keySet == closedBatch.keySet && settledFieldsOk,
        s"stream=${streaming.keySet.size} j12closed=${closedBatch.keySet.size} settled=${settled.size}")
    }

    // ---- 10. conversionStream: greedy re-anchor model on degen events --
    // The funnel fold's OUTPUT contract (greedy gap-window with inline
    // expiry and re-anchor, conversion tombstones) is schedule-invariant
    // for in-order feeds because expiry is event-time-driven — the
    // between-batch timeout and the inline reset produce the same
    // conversions. The batch stepTimes twin anchors at the FIRST step-1
    // event only (no re-anchor), so on arbitrary corpora the honest
    // reference is the contract model; FunnelSpec pins stepTimes parity
    // on the shapes where the two coincide. Ties (duplicate ts) order by
    // step position — the >= boundary the ts-dup plants exercise; null
    // event types flow to the fold's step filter.
    locally {
      val steps = Seq("view", "click", "purchase")
      val winMs = 24L * 3600 * 1000
      val stepIdx = steps.zipWithIndex.reverse.toMap
      val rows = Tables.events(spark, dir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[(Long, Timestamp, String)].collect().toSeq
        .sortBy(t => (graft.TimeUs.toUs(t._2),
          t._3 match { case s if s != null && stepIdx.contains(s) => stepIdx(s); case _ => steps.size }))
      val mem = MemoryStream[(Long, Timestamp, String)]
      val sdf = graft.operators.Funnel.conversionStream(mem.toDS(), steps, winMs)
      val streaming = StreamRun.memory(sdf, "append", StreamRun.chunks(mem, feed(rows))).sink.collect()
        .map(r => r.getLong(0) -> r.getSeq[Timestamp](1).map(graft.TimeUs.toUs)).toSet
      // contract model: per user, greedy fold with inline expiry +
      // tombstone, in the fold's own (ts, step position) order
      val winUs = winMs * 1000L
      val conversions = scala.collection.mutable.Set.empty[(Long, Seq[Long])]
      val stateRef = scala.collection.mutable.Map.empty[Long, (List[Long], Boolean)]
      rows.filter(r => r._3 != null && stepIdx.contains(r._3)).foreach { case (u, ts, typ) =>
        val t = graft.TimeUs.toUs(ts)
        var (times, done) = stateRef.getOrElse(u, (Nil, false))
        if (times.nonEmpty && t > times.last + winUs) { times = Nil; done = false }
        val k = times.length
        if (!done && typ == steps(k) &&
            (k == 0 || (t >= times.last && t <= times.last + winUs))) {
          times = times :+ t
          if (times.length == steps.length) { done = true; conversions += (u -> times) }
        }
        stateRef(u) = (times, done)
      }
      check("conversionStream == greedy re-anchor contract model on degen events",
        streaming == conversions.map { case (u, ts) => u -> ts.toSeq }.toSet,
        s"stream=${streaming.size} model=${conversions.size} " +
          s"diff=${(streaming diff conversions.toSet).take(2)} ${(conversions.toSet diff streaming).take(2)}")
      // non-vacuity follows the kmv/attribution lens rule: make_degen's
      // fixed plants guarantee completable chains, so the unseeded gate
      // enforces it; a fuzz seed can legitimately null out enough
      // ts/event_type (seed 9304: half of each) that NO chain completes —
      // vacuous for this lens, not a divergence, so seeded runs only note
      if (splitRng.isEmpty)
        check("conversionStream lens is non-vacuous (corpus produced conversions)",
          streaming.nonEmpty, "no conversions on this corpus — widen the window")
      else if (streaming.isEmpty)
        println("[streamdegen] note: this fuzz seed left the funnel lens without a completed conversion")
    }

    // ---- 11. upsertStream: CDC merge vs last-writer contract model ----
    // Degen axes: null keys dropped pre-merge (the poison-pill contract),
    // duplicate seq values (the ts-dup plants) resolved by the documented
    // whole-row-hash tie-break, null seqs ordering NULLS LAST under desc,
    // and docstore shards carrying extreme user_id zone maps. The model
    // replays the chunks through a scala-side fold using the SAME
    // tie-break expression evaluated per chunk — an independent path from
    // the stream's window + store machinery.
    locally {
      // seq = event-time in MICROSECONDS as BIGINT (the docstore value
      // domain has no timestamp type — a CDC sequence is an integer
      // anyway); the ts-dup plants become duplicate seqs
      val changes: Seq[(Option[Long], Option[Long], String, Option[Double])] =
        Tables.events(spark, dir)
          .select(col("user_id"), col("ts"), col("event_type"), col("value"))
          .orderBy(asc_nulls_first("ts"), col("event_id"))
          .as[(Option[Long], Option[Timestamp], String, Option[Double])].collect()
          .map { case (u, ts, tpe, v) => (u, ts.map(graft.TimeUs.toUs), tpe, v) }.toSeq
      val storeDir = "/tmp/graft_sd_upsert_store"
      org.apache.hadoop.fs.FileSystem.get(new org.apache.hadoop.conf.Configuration())
        .delete(new org.apache.hadoop.fs.Path(storeDir), true)
      val seed = changes.flatMap(_._1).distinct.sorted.take(5)
        .map(u => (Some(u): Option[Long], None: Option[Long], "seed", Some(0.0): Option[Double]))
      seed.toDF("user_id", "seq", "event_type", "value")
        .coalesce(1).write.format("docstore").mode("overwrite").save(storeDir)
      val chunks = feed(changes)
      val mem = MemoryStream[(Option[Long], Option[Long], String, Option[Double])]
      val q = graft.streaming.StreamingAnalytics.upsertStream(
        mem.toDF().toDF("user_id", "seq", "event_type", "value"),
        storeDir, keyCol = "user_id", seqCol = "seq")
      StreamRun(q, StreamRun.chunks(mem, chunks))
      // contract model: per chunk, per key, winner by (seq DESC NULLS
      // LAST, tieBreak ASC) — the tie-break computed by the same
      // expression the stream uses, then last-batch-wins into the store
      val store = scala.collection.mutable.Map.empty[Long, (Option[Long], String, Option[Double])]
      seed.foreach { case (Some(u), _, tpe, v) => store(u) = ((None, tpe, v)); case _ => () }
      chunks.filter(_.nonEmpty).foreach { chunk =>
        val df = chunk.toDF("user_id", "seq", "event_type", "value")
        val tb = xxhash64(struct(df.columns.map(col).toIndexedSeq: _*))
        val picked = df.filter(col("user_id").isNotNull).withColumn("_tb", tb)
          .as[(Long, Option[Long], String, Option[Double], Long)].collect()
          .groupBy(_._1).map { case (u, g) =>
            val w = g.minBy(x => (x._2.isEmpty, x._2.map(-_).getOrElse(0L), x._5))
            u -> ((w._2, w._3, w._4))
          }
        picked.foreach { case (u, v) => store(u) = v }
      }
      val back = spark.read.format("docstore").load(storeDir)
        .select("user_id", "seq", "event_type", "value")
        .as[(Long, Option[Long], String, Option[Double])].collect()
        .map { case (u, seq, tpe, v) => u -> ((seq, tpe, v)) }.toMap
      check("upsertStream final store == last-writer contract model on degen changes",
        back == store.toMap && back.nonEmpty,
        s"store=${back.size} model=${store.size} " +
          s"diff=${(back.toSet diff store.toSet).take(2)} ${(store.toSet diff back.toSet).take(2)}")
    }

    // ---- 12. streamingIngest: end-to-end pipe vs per-chunk batch twin --
    // The composed clean→dedup→upsert pipe on degen DOCUMENTS — null /
    // empty / whitespace / unicode texts flow through the quality gates,
    // shingle hashing, and the docstore's JSON shard encoding (the
    // unicode plants specifically exercise escaping + casefold paths at
    // the storage boundary). The twin replays the identical chunks
    // through ingestBatch — the documented batch reference — into a
    // second store: foreachBatch plumbing vs direct calls must converge
    // to byte-identical admission decisions.
    locally {
      val docs = docTexts.sortBy(_._1)
      val base = docs.filter(_._1 % 3 == 0)
      val delta = docs.filterNot(_._1 % 3 == 0)
      val chunks = feed(delta)
      val f = org.apache.hadoop.fs.FileSystem.get(new org.apache.hadoop.conf.Configuration())
      val dirs = Seq("/tmp/graft_sd_ingest_a", "/tmp/graft_sd_ingest_b",
        "/tmp/graft_sd_ingest_c")
      val idxDir = "/tmp/graft_sd_ingest_idx"
      f.delete(new org.apache.hadoop.fs.Path(idxDir), true)
      dirs.foreach { p =>
        f.delete(new org.apache.hadoop.fs.Path(p), true)
        base.toDF("doc_id", "text").coalesce(1)
          .write.format("docstore").mode("overwrite").save(p)
      }
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingAnalytics.streamingIngest(
        mem.toDF().toDF("doc_id", "text"), dirs.head, n = 5, threshold = 0.5, maxDf = 100)
      StreamRun(q, StreamRun.chunks(mem, chunks))
      chunks.filter(_.nonEmpty).foreach { c =>
        graft.streaming.StreamingAnalytics.ingestBatch(
          c.toDF("doc_id", "text"), dirs(1), n = 5, threshold = 0.5, maxDf = 100)
      }
      // third run: classification served by the persistent shingle index,
      // with an aggressive compaction cadence so degen texts (unicode /
      // null / whitespace) also storm segment fold + marker commits
      val memI = MemoryStream[(Long, String)]
      val qI = graft.streaming.StreamingAnalytics.streamingIngest(
        memI.toDF().toDF("doc_id", "text"), dirs(2), n = 5, threshold = 0.5,
        maxDf = 100, indexDir = Some(idxDir), indexCompactEvery = 2)
      StreamRun(qI, StreamRun.chunks(memI, chunks))
      def read(p: String): Map[Long, String] =
        spark.read.format("docstore").load(p).select("doc_id", "text")
          .as[(Long, String)].collect().toMap
      val a = read(dirs.head)
      val b = read(dirs(1))
      val c = read(dirs(2))
      check("streamingIngest == per-chunk batch ingest on degen docs (unicode/null texts through the full pipe)",
        a == b && a.size >= base.size,
        s"stream=${a.size} batch=${b.size} diff=${(a.toSet diff b.toSet).take(2)} ${(b.toSet diff a.toSet).take(2)}")
      check("index-served streamingIngest == re-derive streamingIngest on degen docs",
        c == a,
        s"indexed=${c.size} rederive=${a.size} diff=${(c.toSet diff a.toSet).take(2)} ${(a.toSet diff c.toSet).take(2)}")
      check("shingle index stayed aligned with its store on degen docs",
        graft.functions.ShingleIndex.read(spark, idxDir).stats
          .select("base_id").collect().map(_.getLong(0)).toSet == c.keySet,
        "index ids diverged from store ids")
      check("streamingIngest lens exercised admissions beyond the base",
        a.size > base.size, s"nothing admitted from the delta (base=${base.size}, store=${a.size})")
    }

    gate.finish(spark)
  }
}

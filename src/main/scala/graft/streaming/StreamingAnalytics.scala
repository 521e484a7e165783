package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.LogParser

/** Structured Streaming variants of the batch pipeline (the reference has no
  * streaming — its dashboard re-scans everything per refresh,
  * stats_dashboard.py:13-18; this module is the north-star replacement).
  *
  * Every TRANSFORM here takes a DataFrame and works identically on batch
  * and streaming inputs — the parity tests exploit that by running the
  * same function over `spark.read` and `MemoryStream` inputs — with two
  * exceptions: [[dedupStream]] and [[cleanCorpusStream]] build on
  * `dropDuplicatesWithinWatermark`, which Spark rejects on batch
  * DataFrames; their batch equivalents are
  * [[graft.functions.Dedup.exact]] (keep-min-id, deterministic) followed
  * by [[graft.QueriesExt.cleanGates]], i.e. the `pipe_clean_corpus`
  * composition. The SINK-shaped entry points — [[upsertStream]],
  * [[incrementalDedupStream]], [[streamingIngest]] — return a started
  * `StreamingQuery` via `writeStream.foreachBatch` and so only accept
  * streaming inputs; their batch equivalents are the shared per-batch
  * bodies they delegate to ([[graft.sources.docstore.DocStoreMaintenance.upsert]],
  * [[graft.functions.Dedup.incrementalStatus]], [[ingestBatch]]), which
  * the parity specs run directly. Watermarks bound state so a 100 TB/day
  * stream holds only (watermark window × key cardinality) state, not
  * history.
  */
object StreamingAnalytics {

  /** Streaming ingest: raw log lines → parsed table. Stateless projection;
    * on a cluster this is `readStream.text(dir)` over an arriving-files
    * directory with the exact same parse expressions as batch.
    */
  def parseStream(lines: DataFrame): DataFrame = LogParser.parse(lines)

  /** Tumbling event-time window counts per key with a watermark for late
    * data. Emits (window_start, window_end, key, count).
    */
  def tumblingCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowLen: String, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"), col(keyCol))
      .count()
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col(keyCol), col("count"))

  /** Sliding-window counts (windowLen, slide). */
  def slidingCounts(events: DataFrame, tsCol: String, keyCol: String,
                    windowLen: String, slide: String,
                    watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide).as("w"), col(keyCol))
      .count()
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col(keyCol), col("count"))

  /** Streaming distribution-drift monitor — the streaming twin of
    * a23_psi_drift: per tumbling window, the metric's 10-bin histogram is
    * Laplace-smoothed and compared to a FIXED baseline share vector
    * (computed once from history and passed in as constants — the
    * baseline must not recompute on the stream), emitting each window's
    * per-bin PSI terms and total.
    *
    * All ten bins ride ONE stateful aggregate as conditional sums —
    * per-window state is 10 longs, and the total/shares/PSI arithmetic is
    * a stateless projection after it (a second streaming aggregate for
    * the window total would need multi-stateful-operator support; this
    * shape needs none). Same integer-floored PSI terms as the batch twin,
    * so an alerting sink sees identical numbers either way.
    */
  def psiDriftStream(events: DataFrame, tsCol: String, valueCol: String,
                     baselineShares: Seq[Double], windowLen: String = "1 hour",
                     watermark: String = "1 hour"): DataFrame = {
    require(baselineShares.length == 10, "baseline must cover the 10 fixed bins")
    // a zero baseline share makes log(base/cur) null and the null would
    // propagate through the summed PSI into a silently-null psi_total on
    // every window — Laplace-smooth the baseline exactly like the current
    // side before passing it in
    require(baselineShares.forall(_ > 0.0),
      "baseline shares must all be positive (smooth the baseline histogram)")
    // clamp BOTH ends: negative values fold into bin 0, >449 into bin 9
    // (the batch twin reports out-of-range bins as their own rows — a
    // documented numerator divergence). The TOTAL is count(*) of the
    // window, NOT the sum of the 10 bins: a NULL value joins no bin
    // (binCol null fails every equality) but the batch twin counts the
    // null-bin row in its windowed totals, so the denominators — and
    // therefore every share and PSI term — would silently diverge on the
    // first null-valued event if the total were bin-summed.
    val binCol = greatest(least(floor(col(valueCol) / 50), lit(9)), lit(0)).cast("int")
    val aggs = (0 until 10).map(b => sum(when(binCol === b, 1L).otherwise(0L)).as(s"n$b")) :+
      count(lit(1)).as("n_all")
    val perWindow = events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"))
      .agg(aggs.head, aggs.tail: _*)
    val total = col("n_all")
    def contribI(b: Int): org.apache.spark.sql.Column = {
      val cur = (col(s"n$b").cast("double") + 1) / (total.cast("double") + 10)
      val base = lit(baselineShares(b))
      floor((base - cur) * log(base / cur) * 10000 + 0.5).cast("long")
    }
    val cis = (0 until 10).map(contribI)
    // psi_total is co-selected with the explode, so it re-evaluates once
    // per exploded bin row (~10× the 10-term log sum). Deliberate: the
    // generate-collapse amplification class matters for per-DOCUMENT
    // kernels; here the pre-explode input is the one-row-per-window
    // aggregate output, so the waste is a constant ~100 log calls per
    // window — restructuring around Catalyst's project collapse isn't
    // worth the opacity.
    perWindow.select(col("w.start").as("window_start"),
        (cis.reduce(_ + _).cast("double") / 10000).as("psi_total"),
        explode(array((0 until 10).map(b =>
          struct(lit(b).as("bin"), col(s"n$b").as("cur_n"),
            (contribI(b).cast("double") / 10000).as("psi_contrib"))): _*)).as("x"))
      .select(col("window_start"), col("x.bin").as("bin"), col("x.cur_n").as("cur_n"),
        col("x.psi_contrib").as("psi_contrib"), col("psi_total"))
  }

  /** Incremental per-entity summary — the streaming version of the per-IP
    * summary: windowed conditional counts + distinct approximation. Exact
    * distincts aren't incrementally maintainable without state explosion, so
    * the streaming path uses approx_count_distinct (HLL) — the documented
    * batch/stream precision tradeoff.
    */
  def entitySummaryStream(events: DataFrame, tsCol: String, keyCol: String,
                          suspicious: Seq[String], typeCol: String,
                          windowLen: String = "1 day",
                          watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"), col(keyCol))
      .agg(
        count(lit(1)).as("total_events"),
        sum(when(col(typeCol).isin(suspicious: _*), 1L).otherwise(0L)).as("failed_events"),
        approx_count_distinct(col(typeCol)).as("approx_diversity"),
        min(col(tsCol)).as("first_seen"),
        max(col(tsCol)).as("last_seen"))
      .select(col("w.start").as("window_start"), col(keyCol), col("total_events"),
        col("failed_events"), col("approx_diversity"), col("first_seen"), col("last_seen"))

  /** Streaming heavy hitters — the [[graft.functions.MisraGries]] sketch
    * as a per-window streaming aggregate: each tumbling window carries ONE
    * ≤k-counter buffer per key-partition that merges incrementally as
    * micro-batches arrive, so state per window is k pairs regardless of
    * how many distinct keys the stream has seen (the exact formulation
    * would hold every distinct key in state). Update mode re-emits a
    * window's candidate array as it absorbs more data; the MG guarantee
    * (candidates ⊇ every key with true share > 1/k of the window) holds at
    * every emission because reduce/merge are the same mergeable-summaries
    * operations the batch query uses — asserted against exact per-window
    * counts in StreamingParitySpec. Like the batch `a21_heavy_hitters`,
    * consumers treat the output as a CANDIDATE set and verify exactly.
    *
    * NULL keys are excluded EXPLICITLY (r14, flushed by the streaming
    * degen gate): the MisraGries Aggregator takes a primitive-Long input
    * encoder, so a null key would otherwise fold silently into key 0 —
    * corrupting an innocent bucket's counter instead of either counting
    * or erroring. The batch a21 shape already cannot report a null
    * hitter (its exact-verify inner join drops null keys), so the
    * contract on both twins is the same: null is never a hitter;
    * null-guard upstream if null keys are meaningful traffic.
    */
  def heavyHitterStream(events: DataFrame, tsCol: String, keyCol: String,
                        k: Int, windowLen: String = "1 hour",
                        watermark: String = "1 hour"): DataFrame =
    events
      .filter(col(keyCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"))
      .agg(graft.functions.TopKAgg.misraGries(col(keyCol), k).as("candidates"))
      .select(col("w.start").as("window_start"), col("candidates"))

  /** Windowed approximate distinct counts via the KMV sketch
    * ([[graft.functions.KmvMinHashes]]) — ≤ k longs of state per window
    * at ANY key cardinality, exactly like the MG heavy-hitter stream
    * above. Stronger parity property than MG though: the KMV buffer is a
    * pure function of the window's value SET (order/merge invariant), so
    * the streaming sketch — merged across micro-batches through the state
    * store — must equal the batch sketch EXACTLY, estimate and all, not
    * merely cover it. StreamingParitySpec asserts that equality across a
    * mid-window batch split.
    *
    * NULL keys are skipped (count(DISTINCT) semantics), matching every
    * batch KMV carrier (a18b, reportPartials): the hash is null-guarded
    * because Spark's `xxhash64(NULL)` returns the seed (42), which would
    * otherwise count NULL as one phantom distinct value.
    */
  def kmvDistinctStream(events: DataFrame, tsCol: String, keyCol: String,
                        k: Int, windowLen: String = "1 hour",
                        watermark: String = "1 hour"): DataFrame = {
    val sk = col("sketch")
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"))
      .agg(graft.functions.TopKAgg.kmvMinHashesNullable(
        when(col(keyCol).isNotNull,
          xxhash64(col(keyCol)).bitwiseAND(lit(Long.MaxValue))), k).as("sketch"))
      .select(col("w.start").as("window_start"),
        // 2^63 = the masked-xxhash64 space above — see kmvEstimate's doc
        graft.functions.TopKAgg.kmvEstimate(sk, k, 9.223372036854776E18)
          .as("est_distinct"),
        sk.as("sketch"))
  }

  /** Running corpus report as STREAMING state — the streaming twin of
    * `pipe_incremental_report`: ONE complete/update-mode aggregation keyed
    * by source whose per-group state is exactly the batch partial
    * ([[graft.QueriesExt.reportPartials]] — additive counters + the
    * null-skipping KMV-64 text-hash sketch), so per-source state is
    * bounded (counters + ≤64 longs) at any stream length and the sketch
    * estimate rides the same md5-60-bit hash as the batch oracle. The KMV
    * buffer is a pure function of the text-value SET, so the streamed
    * report after ANY micro-batch split equals the batch one-shot
    * EXACTLY — estimate included (StreamingParitySpec). One streaming
    * aggregation only: the estimate is a post-select on the state, not a
    * second agg (chained streaming aggregations are unsupported).
    */
  def incrementalReportStream(docs: DataFrame): DataFrame =
    graft.QueriesExt.reportPartials(docs, lit(0L))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("q_high"),
        col("q_mid"), col("q_low"), col("n_en"),
        // the md5Hash60 estimator — 2^60 rides along inside it
        graft.functions.TopKAgg.kmvEstimate60(col("sketch"), 64)
          .as("est_distinct_texts"))

  /** Custom-state sessionization via flatMapGroupsWithState — for session
    * semantics the built-in session_window can't express (here: sessions
    * also END when a terminal event type is seen, not only on gap
    * timeout). State per key is one open session (constant size);
    * GroupStateTimeout.EventTimeTimeout + the watermark bound total state
    * at (active keys × one session record) regardless of stream length.
    */
  case class SessionState(start: Long, last: Long, n: Long)
  case class SessionOut(key: String, session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp, n_events: Long,
                        closed_by: String)

  def customSessions(events: org.apache.spark.sql.Dataset[(String, java.sql.Timestamp, String)],
                     gapMillis: Long, terminalType: String,
                     watermarkDelay: String = "1 hour"): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .withWatermark("_2", watermarkDelay) // no-op on batch inputs
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, rows: Iterator[(String, java.sql.Timestamp, String)],
         state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // Idle key past its gap: close and emit the open session, drop
            // the state — total state stays (active keys × one record).
            val closed = state.getOption.map(s => SessionOut(key,
              usToTs(s.start), usToTs(s.last),
              s.n, "timeout"))
            state.remove()
            closed.iterator
          } else {
            val out = scala.collection.mutable.ListBuffer.empty[SessionOut]
            var cur = state.getOption
            rows.toSeq.sortBy(r => (tsToUs(r._2), r._3)).foreach { case (_, ts, typ) =>
              val t = tsToUs(ts)
              cur match {
                case Some(s) if t - s.last > gapMillis * 1000L =>
                  out += SessionOut(key, usToTs(s.start),
                    usToTs(s.last), s.n, "gap")
                  cur = Some(SessionState(t, t, 1))
                case Some(s) =>
                  cur = Some(SessionState(s.start, t, s.n + 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
              if (typ == terminalType) {
                val s = cur.get
                out += SessionOut(key, usToTs(s.start),
                  usToTs(s.last), s.n, "terminal")
                cur = None
              }
            }
            cur match {
              case Some(s) =>
                state.update(s)
                // Close the session once the watermark passes last+gap; the
                // timestamp must be ahead of the current watermark, so clamp
                // (a key already idle past its gap times out on the very next
                // watermark advance). Batch runs have no watermark — there
                // the timeout is set-and-ignored by design.
                val wm = try state.getCurrentWatermarkMs()
                  catch { case _: UnsupportedOperationException => Long.MinValue }
                // ceiling µs→ms: flooring would let the timeout fire up to
                // ~1ms BEFORE the exact last+gap boundary, splitting a
                // session an on-time event would still have extended
                state.setTimeoutTimestamp(
                  math.max((s.last + gapMillis * 1000L + 999L) / 1000L, wm + 1))
              case None => state.remove()
            }
            out.iterator
          }
        })
  }

  /** Streaming exact deduplication with BOUNDED state — the streaming lift
    * of `Dedup.exact`'s narrow-key design: rows are keyed by the 8-byte
    * xxhash64 of their content (document text never enters the dedup
    * state), and `dropDuplicatesWithinWatermark` keeps a hash in state only
    * until the event-time watermark passes it. A duplicate arriving within
    * the watermark delay of its first copy is dropped; state on a
    * 100 TB/day stream is (watermark window × arrival rate) hashes — an
    * unbounded-state `dropDuplicates` would hold every hash ever seen.
    */
  def dedupStream(docs: DataFrame, tsCol: String, textCol: String,
                  watermarkDelay: String = "1 hour"): DataFrame = {
    graft.operators.Guards.requireNoCollision(docs, "dedupStream: docs", Seq("_h"))
    docs
      .withColumn("_h", xxhash64(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("_h")
      .drop("_h")
  }

  /** The full clean-corpus ingest as a STREAM: bounded-state exact dedup
    * ([[dedupStream]]) followed by the exact same stateless quality /
    * language / repetition gates the batch `pipe_clean_corpus` applies
    * ([[graft.QueriesExt.cleanGates]] — one shared definition, so batch
    * and streaming can never drift). The only stateful stage is the
    * dedup's watermark-bounded hash set; every gate is a map-only
    * expression, so the stream scales exactly like the batch plan. Input
    * must carry `text` plus the event-time column.
    */
  def cleanCorpusStream(docs: DataFrame, tsCol: String,
                        watermarkDelay: String = "1 hour"): DataFrame =
    graft.QueriesExt.cleanGates(
      dedupStream(docs, tsCol, "text", watermarkDelay), Seq("doc_id", tsCol))

  /** Stream-static exact-dup classification: every arriving document is
    * labeled `exact_dup` (identical text already in the static base
    * corpus, by content hash — [[graft.functions.Dedup.exact]]'s collision
    * convention) or `new`, continuously, in append mode. The base reduces
    * to a broadcast (hash → min id) table, so the stream side is a
    * stateless map-side probe: no streaming state at all, and the base's
    * text never leaves its scan. (At 100 TB of base, swap the broadcast
    * for a pre-bucketed static side; the stream plan is unchanged.)
    */
  def exactDupStream(docs: DataFrame, base: DataFrame,
                     textCol: String = "text", cacheBase: Boolean = true): DataFrame = {
    graft.operators.Guards.requireNoCollision(docs, "exactDupStream: docs",
      Seq("_th", "match_id", "status"))
    val reduced = base.select(xxhash64(col(textCol)).as("_th"), col("doc_id").as("base_id"))
      .groupBy("_th").agg(min("base_id").as("match_id"))
    // A stream-static join re-evaluates the STATIC subtree every trigger,
    // so without this the base's hash + groupBy reduction would re-run per
    // micro-batch forever. The base is immutable by contract, so the cache
    // plan is trigger-invariant (ONE CacheManager entry per distinct base
    // plan, same rationale as incrementalStatus's cacheIndex). Lifecycle:
    // the entry lives until the session ends — right for the intended
    // shape (one long-running stream per base); an application that builds
    // many short-lived streams over DIFFERENT bases should pass
    // cacheBase=false and persist/unpersist the base itself.
    val bh = if (cacheBase) reduced.persist() else reduced
    docs.withColumn("_th", xxhash64(col(textCol)))
      .join(broadcast(bh), Seq("_th"), "left")
      .drop("_th")
      .withColumn("status", when(col("match_id").isNotNull, "exact_dup").otherwise("new"))
  }

  /** Full incremental classification (exact + near-dup + new) of a
    * document stream against a static base corpus: the multi-stage
    * candidate aggregation can't run as one continuous append-mode plan
    * (chained aggregations), so this is the production `foreachBatch`
    * shape — each micro-batch is classified by the BATCH operator
    * [[graft.functions.Dedup.incrementalStatus]] verbatim. One shared
    * definition, so stream and batch classifications can never drift;
    * per-batch cost is the batch operator's (delta = the micro-batch).
    */
  def incrementalDedupStream(docs: DataFrame, base: DataFrame,
                             n: Int, threshold: Double, maxDf: Long)
                            (sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // Long.MaxValue delta limit = skip the guard's stats job: the
        // micro-batch IS the bounded-delta contract here, and the job
        // would re-tokenize the uncached batch every trigger
        sink(graft.functions.Dedup.incrementalStatus(
          base, batch, "doc_id", "text", n, threshold, maxDf,
          deltaBroadcastLimit = Long.MaxValue))
    }.start()

  /** Streaming CDC apply: merge a change stream into a docstore collection
    * continuously — each micro-batch upserts by key through
    * [[graft.sources.docstore.DocStoreMaintenance.upsert]] verbatim, the
    * `foreachBatch` production shape (one shared definition with the batch
    * maintenance op, so stream and batch merges can never drift). A
    * micro-batch carrying several versions of one key collapses to the
    * LATEST by `seqCol` first — the CDC compaction step — so the store
    * converges to the stream's final state regardless of micro-batch
    * boundaries. Replay-safe: re-applying a batch replaces the same keys
    * with the same documents (upsert idempotence), the standard
    * foreachBatch recovery contract.
    */
  def upsertStream(changes: DataFrame, path: String, keyCol: String, seqCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    graft.operators.Guards.requireNoCollision(changes, "upsertStream: changes", Seq("_rn"))
    changes.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // deterministic tie-break on equal seqCol: without it row_number
        // picks by partition arrival order, so a replayed micro-batch
        // could converge the store to a DIFFERENT document than the first
        // attempt — breaking the replay-idempotence contract above. The
        // whole-row hash is arbitrary but stable.
        val tieBreak = xxhash64(struct(batch.columns.map(col).toIndexedSeq: _*))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCol).orderBy(col(seqCol).desc, tieBreak)
        // Drop null-key change rows BEFORE the merge: a null key is
        // unidentifiable (matches no document), and letting it through
        // would trip upsert's null-key require — killing the query AND
        // every checkpoint replay of the same batch, a permanent poison
        // pill one malformed CDC record must not be able to plant.
        val latest = batch.filter(col(keyCol).isNotNull)
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
        graft.sources.docstore.DocStoreMaintenance.upsert(
          batch.sparkSession, path, keyCol, latest)
        ()
    }.start()
  }

  /** The END-TO-END streaming ingest pipe — change-stream → clean gates →
    * incremental dedup → docstore upsert — composed from the stages that
    * previously only shipped separately (the way `pipe_training_batch`
    * composes the batch stages). Per micro-batch:
    *
    *   1. stateless clean gates ([[graft.QueriesExt.cleanGates]] — the ONE
    *      shared definition with the batch pipe, so gating can't drift);
    *   2. within-batch EXACT self-dedup, keep min doc_id (content-hash
    *      equality is transitive, so this step is split-invariant by
    *      itself);
    *   3. classification against the CURRENT store contents via
    *      [[graft.functions.Dedup.incrementalStatus]] — only `new` docs
    *      continue (exact or near dups of base + previously-ingested docs
    *      drop);
    *   4. within-batch near-dup admission with the GREEDY sequential rule:
    *      ids ascending, admit unless a near-dup neighbor with a smaller
    *      id was itself admitted — exactly what per-doc sequential
    *      ingestion would do, so the final store does not depend on where
    *      micro-batch boundaries fall (parity-tested across 1/3/5-way
    *      splits in StreamingIngestSpec);
    *   5. admitted docs upsert into the collection
    *      ([[graft.sources.docstore.DocStoreMaintenance.upsert]], keyed by
    *      doc_id).
    *
    * Replay safety: a recovered/replayed micro-batch re-classifies its own
    * docs as exact dups of the copies its failed attempt already upserted
    * and admits nothing new; upsert is idempotent by key — so the store
    * converges to the same state.
    *
    * Bounded driver state: the only collect is the batch's NEAR-DUP PAIR
    * LIST (two longs per pair, df-capped candidate generation) for the
    * greedy scan — a bounded model artifact in the sense of the repo's
    * centroid/BPE collects, sized by one micro-batch's dup density, never
    * by the corpus. Known approximation at the margins: the within-batch
    * jaccard df-caps over the batch index while the vs-store jaccard caps
    * over the base index; a shingle whose df crosses `maxDf` in one
    * universe but not the other could classify a borderline pair
    * differently per split. The caps exist for scale-safety and never bind
    * at gate thresholds in practice (they'd have to flip a pair across
    * `threshold` exactly); exact split-invariance under binding caps would
    * require maintaining one shared df table, the natural next step for a
    * persistent deployment.
    *
    * Per-batch cost grows with the store (incrementalStatus re-derives the
    * base shingle df each trigger); a long-running deployment would
    * maintain that index incrementally — the classification semantics are
    * unchanged.
    */
  def streamingIngest(docs: DataFrame, storePath: String,
                      n: Int = 5, threshold: Double = 0.5, maxDf: Long = 100,
                      maxBatchPairs: Int = 2000000,
                      checkpointDir: Option[String] = None,
                      indexDir: Option[String] = None,
                      indexCompactEvery: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // checkpointDir enables kill/restart recovery: offsets commit AFTER
    // the foreachBatch body, so a crash between the docstore upsert and
    // the offset commit REPLAYS that micro-batch on restart — the replay
    // re-classifies its docs as exact dups of the copies the failed
    // attempt upserted and admits nothing new (the exactly-once shape
    // StreamingIngestSpec's restart case demonstrates, not just argues).
    // hard-crash restart recovery: a kill -9 inside the FIRST offsets
    // write leaves Spark's own rename-temp in the checkpoint, which
    // Spark 4.x's new-checkpoint emptiness check then refuses to start
    // over (fail-stop, no data at risk) — sweep that scrap before start.
    // Safe here by the same single-owner contract the checkpoint itself
    // carries. See CheckpointRecovery's scaladoc for the full window.
    checkpointDir.foreach(c => CheckpointRecovery.dropOrphanRenameTemps(docs.sparkSession, c))
    // indexDir: classify against the persistent shingle index instead of
    // re-deriving the store's shingle universe per trigger (the one
    // store-sized per-trigger cost — see [[graft.functions.ShingleIndex]]).
    // First use bootstraps from the CURRENT store so index and store start
    // aligned; thereafter each batch's admitted docs append one segment
    // keyed by the deterministic batchId, making the append replay-proof.
    indexDir.foreach { idx =>
      if (!graft.functions.ShingleIndex.exists(idx)) {
        val store = docs.sparkSession.read.format("docstore").load(storePath)
          .select("doc_id", "text")
        graft.functions.ShingleIndex.bootstrap(store, "doc_id", "text", n, idx)
      }
    }
    val w = docs.writeStream.outputMode("append")
    checkpointDir.fold(w)(c => w.option("checkpointLocation", c)).foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        indexDir match {
          case Some(idx) =>
            ingestBatchIndexed(batch.toDF(), storePath, idx, f"b$batchId%09d",
              n, threshold, maxDf, maxBatchPairs, indexCompactEvery)
          case None =>
            ingestBatch(batch.toDF(), storePath, n, threshold, maxDf, maxBatchPairs)
        }
    }.start()
  }

  /** One micro-batch of [[streamingIngest]] — also the BATCH reference
    * implementation (a single batch containing the whole delta is the
    * batch pipe), which is what the parity spec exploits.
    *
    * `maxBatchPairs` makes the greedy-admission collect's bounded-batch
    * contract MECHANICAL: the pair pull is `limit(max+1)` (the driver
    * never materializes more than the cap even when violated) and a
    * violation fails loudly with the split-the-batch recipe instead of
    * silently growing driver memory with the batch size.
    */
  private[graft] def ingestBatch(batch: DataFrame, storePath: String,
                                 n: Int, threshold: Double, maxDf: Long,
                                 maxBatchPairs: Int = 2000000): Unit = {
    val spark = batch.sparkSession
    // Per-trigger cache discipline: the Dedup helpers are called with
    // cacheIndex=false (a .cache() inside them would register a
    // CacheManager entry per trigger that this caller can never uncache —
    // RDD-level unpersist frees blocks but leaves the cached-plan entry,
    // and a session-wide snapshot sweep could steal a concurrent query's
    // caches). The ONE multi-action intermediate worth keeping, `fresh`,
    // is persisted here and unpersisted through its own Dataset handle.
    var fresh: DataFrame = null
    try {
      val kept = prepBatch(batch)
      val store = spark.read.format("docstore").load(storePath).select("doc_id", "text")
      // fresh is consumed by THREE actions (pair collect, upsert's key
      // collect, upsert's write) — persist it so cleanGates + the
      // store-sized incrementalStatus classification run once per trigger.
      // Long.MaxValue delta limit: the micro-batch is contract-bounded and
      // the guard's stats job would recompute cleanGates + exact dedup for
      // the uncached `kept` once more per trigger (the pair-graph collect
      // below has its own mechanical maxBatchPairs bound)
      fresh = kept.join(
        graft.functions.Dedup.incrementalStatus(store, kept, "doc_id", "text",
            n, threshold, maxDf, cacheIndex = false,
            deltaBroadcastLimit = Long.MaxValue)
          .filter(col("status") === "new").select("doc_id"),
        "doc_id").persist()
      val admitted = greedyAdmit(spark, fresh, n, threshold, maxDf, maxBatchPairs)
      graft.sources.docstore.DocStoreMaintenance.upsert(spark, storePath, "doc_id", admitted)
    } finally {
      if (fresh != null) fresh.unpersist(blocking = false)
    }
    ()
  }

  /** [[ingestBatch]] with classification served by the persistent
    * [[graft.functions.ShingleIndex]] instead of a per-trigger re-derive
    * of the store's shingle universe — the store's `text` column is never
    * read. Same prep, same greedy within-batch admission, same upsert;
    * then the admitted docs append one index segment keyed by `segId`
    * (the deterministic batchId), whose marker-claim commit makes the
    * append a no-op on checkpoint replay.
    *
    * Crash alignment with the store: upsert happens BEFORE the segment
    * commit, so a crash between them replays the batch against an index
    * that lacks those docs — they classify `new` again, re-upsert
    * idempotently, and the append commits first-time. A crash after the
    * segment commit replays against an index that HAS them — each doc
    * exact-dups to its own store copy and the batch admits nothing. Either
    * way store and index converge to the same aligned state.
    *
    * Novel-id guard: an id already indexed but arriving with new content
    * would make upsert REPLACE the store doc while the append-only index
    * still carries the old shingles — silent divergence. Such rows
    * (classified non-dup yet id-present) fail the trigger loudly toward
    * [[upsertStream]], which owns revision semantics.
    */
  private[graft] def ingestBatchIndexed(batch: DataFrame, storePath: String,
                                        indexDir: String, segId: String,
                                        n: Int, threshold: Double, maxDf: Long,
                                        maxBatchPairs: Int = 2000000,
                                        indexCompactEvery: Int = 64): Unit = {
    val spark = batch.sparkSession
    // compaction runs BEFORE this trigger's index read, never after it:
    // folding at trigger end would delete covered segment dirs while the
    // trigger's (persisted, but evictable) frames can still lazily
    // recompute from them — a self-inflicted FileNotFound under memory
    // pressure. At trigger start nothing references the old layout. Safe
    // inline — the foreachBatch body IS the single maintenance writer
    // for this index (one trigger at a time).
    if (indexCompactEvery > 0 &&
        graft.functions.ShingleIndex.liveSegmentCount(indexDir) >= indexCompactEvery)
      graft.functions.ShingleIndex.compact(spark, indexDir)
    var fresh: DataFrame = null
    try {
      val kept = prepBatch(batch)
      val idx = graft.functions.ShingleIndex.read(spark, indexDir)
      fresh = kept.join(
        graft.functions.ShingleIndex
          .incrementalStatusIndexed(idx, kept, "doc_id", "text", threshold, maxDf)
          .filter(col("status") === "new").select("doc_id"),
        "doc_id").persist()
      // isEmpty, not limit(1).count(): a counted limit compiles a fresh
      // class on every trigger (Spark names its counter from a JVM-global
      // sequence), while isEmpty's CollectLimit generates no limit code.
      val noClash = idx.stats
        .join(broadcast(fresh.select(col("doc_id").as("base_id"))), "base_id")
        .isEmpty
      require(noClash,
        "ingestBatchIndexed: a batch doc's id already exists in the shingle " +
          "index with different content — the append-only index cannot track " +
          "an upsert-replace. Revision streams belong in upsertStream; " +
          "rebuild the index if the store was mutated out-of-band.")
      val admitted = greedyAdmit(spark, fresh, n, threshold, maxDf, maxBatchPairs)
      graft.sources.docstore.DocStoreMaintenance.upsert(spark, storePath, "doc_id", admitted)
      graft.functions.ShingleIndex.append(admitted, "doc_id", "text", indexDir, segId)
    } finally {
      if (fresh != null) fresh.unpersist(blocking = false)
    }
    ()
  }

  /** Shared per-trigger prep: collapse malformed multi-text ids, clean
    * gates, within-batch exact self-dedup (keep min doc_id).
    */
  private def prepBatch(batch: DataFrame): DataFrame = {
    // Robustness guard: the ingest contract is doc_id-unique deltas
    // (a crawl snapshot), but a malformed batch carrying two texts for
    // one doc_id must not crash the stream via upsert's duplicate-key
    // require. Collapse to one row per doc_id, deterministically (min
    // content hash) — NOT last-writer-wins: a true revision stream
    // carries a sequence column and belongs in [[upsertStream]].
    graft.operators.Guards.requireNoCollision(batch, "ingestBatch: batch", Seq("_rn"))
    val oneRow = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(xxhash64(col("text")))
    val unique = batch.withColumn("_rn", row_number().over(oneRow))
      .filter(col("_rn") === 1).drop("_rn")
    val gated = graft.QueriesExt.cleanGates(unique, Seq("doc_id", "text"))
    val canon = graft.functions.Dedup.exact(gated, "doc_id", "text")
      .filter(col("canonical_id") === col("doc_id")).select("doc_id")
    gated.join(canon, "doc_id")
  }

  /** Greedy sequential admission over the batch's near-dup pair graph:
    * pairs sorted by the larger id — when (a, b) is visited every pair
    * ending below b is final, so a's admitted/dropped status is settled.
    */
  private def greedyAdmit(spark: SparkSession, fresh: DataFrame,
                          n: Int, threshold: Double, maxDf: Long,
                          maxBatchPairs: Int): DataFrame = {
    val pairs = graft.functions.Dedup.ngramJaccardPairs(fresh, "doc_id", "text",
        n, threshold, maxDf, cacheIndex = false)
      // min() guards the +1 against Int overflow: the require message
      // tells operators to raise maxBatchPairs deliberately, and
      // Int.MaxValue must mean "unbounded", not limit(-2147483648)
      .select("doc_a", "doc_b")
      .limit((math.min(maxBatchPairs.toLong, Int.MaxValue - 1L) + 1L).toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(pairs.length <= maxBatchPairs,
      s"ingestBatch: within-batch near-dup pair graph exceeds maxBatchPairs=" +
        s"$maxBatchPairs — greedy admission needs the full graph on the " +
        "driver, which the ingest-batch contract bounds. Split the batch " +
        "(smaller maxFilesPerTrigger / maxOffsetsPerTrigger on the source, " +
        "or chunk a batch backfill) or raise maxBatchPairs deliberately.")
    val droppedIds = scala.collection.mutable.Set[Long]()
    pairs.sortBy(_._2).foreach { case (a, b) => if (!droppedIds(a)) droppedIds += b }
    if (droppedIds.isEmpty) fresh
    else {
      import spark.implicits._
      fresh.join(droppedIds.toSeq.toDF("doc_id"), Seq("doc_id"), "left_anti")
    }
  }

  /** Stream-stream interval join: each left row matched to right rows with
    * the same key whose event time falls in [leftTs, leftTs + window] —
    * the "did a click follow this error within N hours" correlation shape.
    * Works identically on batch inputs (watermarks are no-ops there).
    *
    * Both sides carry watermarks and the join condition bounds the right
    * time RELATIVE to the left time, which is exactly what Structured
    * Streaming needs to evict join state: a buffered left row can be
    * dropped once the right watermark passes leftTs + window, so state is
    * (watermark delay + window) × arrival rate on each side — not the
    * whole history. Inner-join matches emit immediately; only state
    * cleanup waits on the watermark. All column names must be distinct
    * across the two inputs (pre-rename in the caller).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTsCol: String, rightTsCol: String,
                   window: String, watermark: String = "1 hour"): DataFrame =
    left.withWatermark(leftTsCol, watermark)
      .join(right.withWatermark(rightTsCol, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTsCol) >= col(leftTsCol) &&
          col(rightTsCol) <= col(leftTsCol) + expr(s"interval $window"))

  /** Streaming EWMA via flatMapGroupsWithState — the exact RECURSIVE form
    * e_t = α·x_t + (1−α)·e_{t−1} over the key's full history, which the
    * batch `a27_ewma` approximates with a bounded lookback (the recursion
    * is inexpressible as a SQL window without one). State per key is a
    * single (ewma, count) record — constant size at any stream length, no
    * timeout needed — so total state is (active keys × one double), the
    * smallest possible stateful footprint. One smoothed row per input
    * event (Append mode). Events within a micro-batch fold in event_id
    * order; across batches, arrival order is the fold order, as for any
    * keyed stream.
    */
  case class EwmaState(ewma: Double, n: Long)
  case class EwmaOut(user_id: Long, event_id: Long, value: Double, ewma: Double, n_seen: Long)

  def ewmaStream(events: org.apache.spark.sql.Dataset[(Long, Long, Double)],
                 alpha: Double): org.apache.spark.sql.Dataset[EwmaOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, rows: Iterator[(Long, Long, Double)],
         state: GroupState[EwmaState]) => {
          var cur = state.getOption
          val out = rows.toSeq.sortBy(_._2).map { case (_, eid, x) =>
            val next = cur match {
              case Some(s) => EwmaState(alpha * x + (1 - alpha) * s.ewma, s.n + 1)
              case None    => EwmaState(x, 1L) // first observation passes through
            }
            cur = Some(next)
            EwmaOut(key, eid, x, next.ewma, next.n)
          }
          cur.foreach(state.update)
          out.iterator
        })
  }

  /** µs-exact Timestamp conversion — single-sourced in [[graft.TimeUs]]. */
  private[streaming] def tsToUs(t: java.sql.Timestamp): Long = graft.TimeUs.toUs(t)
  private def usToTs(us: Long): java.sql.Timestamp = graft.TimeUs.toTs(us)

  /** Streaming SCD2 history build — the streaming lift of the batch
    * `j12_scd2_history`: each user's event_type timeline collapses into
    * versioned [valid_from, valid_to) intervals AS THE STREAM ARRIVES.
    * State per key is exactly the one OPEN run (type, start, last, count,
    * version) — the closed history is emitted, never retained — so state
    * is (active keys × one record) at any stream length. A state change
    * closes the open run; its valid_to is the SUCCESSOR run's min ts
    * (half-open chain, identical to the batch operator's valid_to = next
    * valid_from), so emission defers until the successor's min is settled
    * (see the fold comment); the open run itself is what the batch query
    * reports as is_current.
    * Rows fold in event order within a batch; late cross-batch data is
    * the batch operator's job to reconcile, as with the other folds here.
    */
  case class Scd2State(tpe: String, startUs: Long, n: Long, version: Long) {
    def withRow(tsUs: Long): Scd2State =
      copy(startUs = math.min(startUs, tsUs), n = n + 1)
  }
  case class Scd2Out(user_id: Long, version_n: Long, event_type: String,
                     valid_from: java.sql.Timestamp, valid_to: java.sql.Timestamp,
                     n_events: Long)

  def scd2Stream(
      events: org.apache.spark.sql.Dataset[(Long, Long, java.sql.Timestamp, String)])
      : org.apache.spark.sql.Dataset[Scd2Out] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, String)],
         state: GroupState[Scd2State]) => {
          var cur = state.getOption
          val out = scala.collection.mutable.ListBuffer.empty[Scd2Out]
          // valid_from tracks the RUN MINIMUM ts, not the first-by-event_id
          // ts — the batch j12 (deliberately, round 9) uses min(ts) per run
          // because per-user ts monotone in event_id is not a guaranteed
          // data property. valid_to must therefore be the NEXT run's min
          // too, so a closed run is NOT emitted at the closing row (that
          // row's ts is merely the successor's min SO FAR): it parks in
          // `pending` until its successor run is itself closed — the
          // successor's min is then final — or the batch ends. Within one
          // batch this makes closed versions EQUAL batch j12 under any ts
          // order; what can still diverge is a pending run emitted at
          // batch end whose successor's min drops in a LATER batch — a
          // bounded-state consequence, same class as the expiry notes on
          // the other folds here.
          var pending: Option[Scd2State] = None
          rows.toSeq.sortBy(_._2).foreach { case (_, _, ts, typ) =>
            val tsUs = tsToUs(ts)
            cur match {
              case Some(s) if s.tpe == typ =>
                cur = Some(s.withRow(tsUs))
              case Some(s) =>
                pending.foreach { p =>
                  out += Scd2Out(key, p.version, p.tpe,
                    usToTs(p.startUs), usToTs(s.startUs), p.n)
                }
                pending = Some(s)
                cur = Some(Scd2State(typ, tsUs, 1L, s.version + 1))
              case None =>
                cur = Some(Scd2State(typ, tsUs, 1L, 1L))
            }
          }
          pending.foreach { p =>
            out += Scd2Out(key, p.version, p.tpe,
              usToTs(p.startUs), usToTs(cur.get.startUs), p.n)
          }
          cur.foreach(state.update)
          out.iterator
        })
  }

  /** Streaming last-touch attribution — the streaming lift of the batch
    * `a28_attribution`: purchases are credited to the same user's most
    * recent click within `windowMicros`, as they arrive. State per key is
    * ONE (click_id, click_ts) pair — the streaming as-of needs only the
    * latest left-hand row, not history — so total state is
    * (active users × 16 bytes) at any stream length; no timeout needed
    * because newer clicks simply overwrite. Rows fold in (ts, event_id)
    * order within a micro-batch; across batches arrival order is event
    * order, as for the other keyed folds here (the batch asOfJoin is the
    * order-perfect reconciliation for late data).
    */
  case class LastClick(clickId: Long, clickTsUs: Long)
  case class AttributionOut(user_id: Long, purchase_id: Long,
                            purchase_ts: java.sql.Timestamp,
                            click_id: java.lang.Long, attributed: Boolean)

  def attributionStream(
      events: org.apache.spark.sql.Dataset[(Long, Long, java.sql.Timestamp, String)],
      windowMicros: Long): org.apache.spark.sql.Dataset[AttributionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, String)],
         state: GroupState[LastClick]) => {
          var last = state.getOption
          val out = scala.collection.mutable.ListBuffer.empty[AttributionOut]
          // Tie-break at equal timestamps: clicks BEFORE purchases, then
          // event_id — the same visibility rule as the batch asOfJoin
          // (a click at exactly the purchase ts attributes), so the
          // stream-equals-batch contract holds on equal-ts data too.
          rows.toSeq.sortBy(r => (tsToUs(r._3), if (r._4 == "click") 0 else 1, r._2))
            .foreach { case (_, eid, ts, typ) =>
            val tsUs = tsToUs(ts)
            typ match {
              case "click" =>
                // keep the EVENT-TIME-latest click: an unconditional
                // overwrite would let a late (older-ts) click from a later
                // micro-batch clobber a newer stored click and steal
                // attribution — the batch as-of attributes the most recent
                // click, so the stream must too; ties break on event_id
                // like the sort above
                if (last.forall(c => tsUs > c.clickTsUs ||
                    (tsUs == c.clickTsUs && eid >= c.clickId)))
                  last = Some(LastClick(eid, tsUs))
              case "purchase" =>
                // lower bound matters: a click stored from an earlier
                // micro-batch can be in the event-time FUTURE of a late
                // purchase — the batch as-of (rts <= lts) never attributes
                // those, so neither does the stream
                val hit = last.filter(c =>
                  c.clickTsUs <= tsUs && tsUs - c.clickTsUs <= windowMicros)
                out += AttributionOut(key, eid, ts,
                  hit.map(c => java.lang.Long.valueOf(c.clickId)).orNull, hit.isDefined)
              case _ => ()
            }
          }
          last.foreach(state.update)
          out.iterator
        })
  }

  /** Session windows via the built-in session_window (gap-based). */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
                    gap: String, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap).as("w"), col(keyCol))
      .count()
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col(keyCol), col("count"))
}

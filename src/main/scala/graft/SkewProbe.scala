package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The skew story, MEASURED (r14 — SURVEY names "attacker IPs dominate
  * groupBy(ip)" as THE scale risk; until this probe the answer on file
  * was "AQE skew handling + j11 salting" with no run showing either
  * mechanism actually engage). Runs against a seeded hot-key corpus
  * (`make_scale10.py --hot-user=0.3`: one user owning ~30% of events)
  * and verifies, with per-task shuffle-read bytes:
  *
  *  1. On a sort-merge join keyed on the hot user, the STATIC plan's
  *     join stage has one task reading an order of magnitude more than
  *     the median (the raw skew), and AQE's skew-join split ENGAGES
  *     (skew-split shuffle reads in the executed plan) and caps the max
  *     task's bytes. Thresholds here are scaled to this corpus' MBs; at
  *     100 TB the DEFAULT 256 MB threshold trips the same rule.
  *  2. j11's salted formulation ([[operators.SkewJoins.saltedJoin]])
  *     matches the plain join's results exactly and flattens the join
  *     stage's task spread WITHOUT AQE — the portable fallback for
  *     paths AQE cannot split.
  *  3. The two non-join shapes, quantified as the design rationale the
  *     registry already encodes: a window partitioned on the hot key is
  *     one unsplittable task at ANY optimizer setting (why
  *     t4_topk_others is windowless and the sketch family uses bounded
  *     aggregators), and a hash aggregate on the hot key is ALREADY
  *     fine (map-side partial aggregation reduces the hot key to one
  *     row per mapper before the shuffle).
  *
  * Prints PASS/FAIL per assertion; exits 1 on any FAIL.
  * Usage: runMain graft.SkewProbe [skewCorpusDir]   (default /tmp/graft_skew10)
  */
object SkewProbe {
  import Meter.Spread

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_skew10")
    val spark = GraftSession.builder()
      // the probe's joins must be the shuffle joins skew can hit
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the skew splitter cuts a reduce partition along MAP-OUTPUT chunk
      // boundaries, so the probe needs production-like mapper granularity
      // (the corpus is written with 64k-row groups; 2m splits -> ~16
      // mappers — at 100 TB this is thousands of mappers for free)
      .config("spark.sql.files.maxPartitionBytes", "2m")
      // skew thresholds scaled to this corpus: the hot partition here is
      // ~MBs, not the 256 MB production default — same rule, same factor,
      // smaller trigger so the MECHANISM is observable at test scale
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "128k")
      .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val meter = new Meter(spark)

    val gate = new Gate("SKEWPROBE")
    def check(name: String, ok: Boolean, detail: String): Unit =
      gate.check(ok, f"$name%-44s $detail")

    /** Run `df` through the shared noop sink with AQE on or off, and
      * return the per-task shuffle-read profile of the heaviest
      * shuffle-reading stage (for these probes, the join/window stage).
      */
    def measure(adaptive: Boolean)(df: => DataFrame): Spread = {
      spark.conf.set("spark.sql.adaptive.enabled", adaptive.toString)
      meter.reset()
      meter(Bench.run(df))
      meter.spread
    }

    val ev = Tables.events(spark, dir)
    val total = ev.count()
    val hotShare = ev.filter(col("user_id") === 0L).count().toDouble / total
    println(f"corpus: $dir, hot user owns ${hotShare * 100}%.1f%% of $total%d events")
    def fmt(s: Spread) = Meter.fmt(s)

    // ---- 1. AQE skew-join split on a hot-key sort-merge join ------------
    // st4's shape at a 30s window (bounded matched-pair output on the hot
    // key); broadcast disabled so the join is the SMJ the skew rule
    // targets.
    def hotIntervalJoin(): DataFrame = {
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("ts").as("err_ts"),
          col("user_id").as("user_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
          col("user_id").as("click_user"))
      // the consumer is a GLOBAL aggregate on purpose: a downstream
      // groupBy(user_id) would reuse the join's hash partitioning, and
      // AQE refuses to split a skewed partition whose partitioning a
      // later stage depends on (the split would force an extra shuffle)
      graft.streaming.StreamingAnalytics.intervalJoin(
          errs, clicks, "user_id", "click_user", "err_ts", "click_ts", "30 seconds")
        .agg(count(lit(1)).as("pairs"),
          avg(unix_micros(col("click_ts")) - unix_micros(col("err_ts"))).as("avg_gap_us"))
    }
    val smjStatic = measure(adaptive = false)(hotIntervalJoin())
    val smjAqe = measure(adaptive = true)(hotIntervalJoin())
    // "skewed=true" / "skew=true" are AQEShuffleRead/SMJ markers; keying on
    // the bare word "skew" would false-positive on a corpus PATH like
    // /tmp/graft_skew10 in the scan nodes
    val skewLines = smjAqe.plan.linesIterator
      .filter(l => l.contains("AQEShuffleRead") && l.contains("skewed"))
      .take(2).map(_.trim.take(100)).toSeq
    println(s"  smj interval join, static plan : ${fmt(smjStatic)}")
    println(s"  smj interval join, AQE skew fix: ${fmt(smjAqe)}")
    skewLines.foreach(l => println(s"    plan: $l"))
    check("static smj concentrates the hot key", smjStatic.maxOverMedian > 5,
      f"one task reads ${smjStatic.maxOverMedian}%.1fx the median — the raw skew")
    check("aqe skew split engages (plan evidence)", skewLines.nonEmpty,
      "executedPlan carries skew-split shuffle reads")
    // the split's guarantee is WALL CLOCK: the hot partition's join work
    // is divided across map-output chunks, so the longest task shortens.
    // Bytes-read on a both-sides-hot self-join shrink less (each chunk
    // task re-reads the unsplit opposite chunk — read amplification is
    // the split's documented price, reported below, not hidden)
    check("aqe skew split shortens the straggler",
      smjAqe.maxDurMs * 2 <= smjStatic.maxDurMs,
      f"straggler ${smjStatic.maxDurMs}%d ms -> ${smjAqe.maxDurMs}%d ms; stage read ${smjStatic.totalBytes / 1e6}%.1f -> ${smjAqe.totalBytes / 1e6}%.1f MB (duplication = the split's price)")

    // ---- 2. salted join: same results, bounded spread WITHOUT AQE -------
    val users = ev.select("user_id").where(col("user_id").isNotNull).distinct()
      .withColumn("risk", pmod(col("user_id"), lit(97L)).cast("double"))
    // the aggregate reads value AND props so the shuffled rows carry an
    // incompressible payload: shuffling the hot key's 300k identical
    // user_ids ALONE compresses to a few KB and the byte-level skew
    // disappears from the metrics (real pipelines shuffle payloads)
    def plainJoin(): DataFrame =
      ev.join(users.hint("merge"), Seq("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("cnt"),
          sum(col("risk").cast("decimal(28,10)")).as("s"),
          sum(col("value").cast("decimal(28,10)")).as("sv"),
          sum(length(col("props"))).as("sp"))
    def saltedJoin(): DataFrame =
      graft.operators.SkewJoins.saltedJoin(
          ev, users.hint("merge"), "user_id", buckets = 16,
          saltSource = xxhash64(col("event_id")))
        .groupBy("user_id").agg(count(lit(1)).as("cnt"),
          sum(col("risk").cast("decimal(28,10)")).as("s"),
          sum(col("value").cast("decimal(28,10)")).as("sv"),
          sum(length(col("props"))).as("sp"))
    val plainS = measure(adaptive = false)(plainJoin())
    val saltedS = measure(adaptive = false)(saltedJoin())
    val plainRows = plainJoin().orderBy("user_id").collect()
    val saltedRows = saltedJoin().orderBy("user_id").collect()
    println(s"  plain merge join , no AQE: ${fmt(plainS)}")
    println(s"  salted join (16) , no AQE: ${fmt(saltedS)}")
    check("salted join matches plain results",
      plainRows.sameElements(saltedRows), s"${saltedRows.length} groups")
    check("salting flattens the join stage without AQE",
      saltedS.maxOverMedian < 3 && plainS.maxOverMedian > 5 &&
        saltedS.maxBytes * 2 < plainS.maxBytes,
      f"${plainS.maxOverMedian}%.1fx -> ${saltedS.maxOverMedian}%.1fx, max task ${plainS.maxBytes / 1e6}%.2f -> ${saltedS.maxBytes / 1e6}%.2f MB")

    // ---- 3. the two non-join shapes, quantified --------------------------
    // window over the hot key: ONE task owns the hot partition — neither
    // the static planner nor AQE can split a window's partitioning; this
    // number is why the registry prefers windowless formulations on
    // skewable keys. The lag column feeds the aggregate so pruning can't
    // drop the window.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    def windowed(): DataFrame =
      ev.withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)))
        .groupBy("user_id").agg(max("gap_us").as("max_gap_us"))
    val winStatic = measure(adaptive = false)(windowed())
    val winAqe = measure(adaptive = true)(windowed())
    println(s"  window on hot key, static : ${fmt(winStatic)}")
    println(s"  window on hot key, AQE    : ${fmt(winAqe)} — AQE cannot split a window partition")
    check("window skew is the documented ceiling", winStatic.maxOverMedian > 5 &&
      winAqe.maxBytes > winStatic.maxBytes / 2,
      f"hot task ${winStatic.maxBytes / 1e6}%.2f MB static, ${winAqe.maxBytes / 1e6}%.2f MB with AQE — unsplit either way")

    // hash aggregate on the hot key: partial aggregation already reduces
    // the hot key to <= 1 row per mapper before the shuffle
    val aggS = measure(adaptive = false)(
      ev.groupBy("user_id").agg(count(lit(1)).as("n"),
        sum("value").as("s"), countDistinct("event_type").as("k")))
    println(s"  hash agg on hot key, static: ${fmt(aggS)}")
    check("partial agg absorbs groupBy skew", aggS.maxBytes < 2L * 1024 * 1024,
      f"hot key's reduce side reads ${aggS.maxBytes / 1e3}%.0f KB, not 30%% of the corpus")

    gate.finish(spark)
  }
}

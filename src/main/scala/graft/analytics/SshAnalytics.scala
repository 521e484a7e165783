package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ingest.LogParser

/** The reference dashboard's query workload (stats_dashboard.py:13-240) as
  * composable DataFrame transforms over a parsed log table.
  *
  * Key structural fix vs. the reference: the per-IP summary there makes ~8
  * separate full-frame passes (six `df.groupby('ip')` calls at
  * stats_dashboard.py:103-117 plus two filtered re-scans). Here it is ONE
  * `groupBy("ip")` pass — conditional aggregates replace the pivot-then-graft
  * pattern, and set sizes replace `countDistinct` — so the whole summary
  * plans as one partial/final ObjectHashAggregate pair around a single
  * hash exchange on `ip` (then the range sort of its unbounded output).
  * Hot attacker IPs skew that exchange at 100 TB; AQE skew handling or
  * salting is the mitigation (partial aggregation already cuts the
  * map-side volume).
  *
  * The chart panels (hour, day, daily pivot, histogram) end in a series of
  * at most 24 hours, 366 days or one row per bucket, which the dashboard
  * collects anyway, so they sort in one partition ([[sortedSeries]])
  * instead of paying a range exchange and its sampling job.
  */
object SshAnalytics {

  import LogParser.suspiciousEvents

  /** All 11 event tags, for explicit pivot value lists (pivot with a known
    * value list avoids Spark's extra distinct-collect job).
    */
  val eventTags: Seq[String] = Seq(
    "invalid_user", "failed_password", "auth_failure", "reverse_mapping_check",
    "connection_closed", "disconnect", "no_identification",
    "too_many_failures", "ignoring_max_retries", "failed_none", "other")

  private def cnt(cond: Column): Column = sum(when(cond, 1L).otherwise(0L))

  /** The reference's dashboard preamble, applied before every metric:
    * `df['user'] = df['user'].fillna('')` (stats_dashboard.py:23) and
    * `dropna(subset=['datetime'])` (stats_dashboard.py:29). Without the
    * fill, a user-less row (ubiquitous in sshd logs — "Connection closed
    * by ...") is DROPPED from nunique instead of counting as the ''
    * value; without the drop, rows whose timestamp failed to parse leak a
    * null-hour/null-date group into every temporal metric. Applied inside
    * each dashboard transform so callers can pass the raw parsed frame.
    */
  private def prepare(df: DataFrame): DataFrame =
    df.na.fill(Map("user" -> "")).na.drop(Seq("datetime"))

  // HALF_UP rounding comes from graft.functions.Rounding.roundAt — the
  // repo-wide single definition (native round() is banned: engine-divergent
  // half cases)
  private def rnd(c: Column, d: Int): Column = graft.functions.Rounding.roundAt(c, d)

  /** A chart series ordered by `by`, sorted inside one partition. The
    * series is an aggregate keyed by hour, date or bucket that the
    * dashboard collects to the driver whole, so one task can sort it;
    * `orderBy` would add a range exchange and, under AQE, a sampling job.
    */
  private def sortedSeries(series: DataFrame, by: String): DataFrame =
    series.coalesce(1).sortWithinPartitions(by)

  /** Global dashboard metrics (stats_dashboard.py:35-42) in one pass. The
    * three `countDistinct`s keep Spark's distinct-aggregate `Expand`,
    * unlike [[ipEventSummary]]: a global aggregate has one group, so a
    * `collect_set` would hold every user or IP of the log in a single
    * buffer, while the `Expand` spreads the distinct values over a shuffle.
    */
  def globalMetrics(raw: DataFrame): DataFrame =
    prepare(raw).agg(
      count(lit(1)).as("total_records"),
      countDistinct(col("user")).as("unique_users"),
      countDistinct(col("ip")).as("unique_ips"),
      countDistinct(col("event")).as("distinct_events"),
      cnt(col("event").isin(suspiciousEvents: _*)).as("failed_events"),
      rnd(cnt(col("event").isin(suspiciousEvents: _*)) * 100.0 / count(lit(1)), 2)
        .as("failed_rate_pct"))

  /** Per-event access evolution grouped by hour (stats_dashboard.py:60-63). */
  def accessByHour(raw: DataFrame, eventFilter: String): DataFrame =
    prepare(raw).filter(col("event") === eventFilter)
      .groupBy(hour(col("datetime")).as("hour")).count()
      .withColumn("hour_label", lpad(col("hour").cast("string"), 2, "0"))
      .transform(sortedSeries(_, "hour"))

  /** Per-event access evolution grouped by day (stats_dashboard.py:65-69). */
  def accessByDay(raw: DataFrame, eventFilter: String): DataFrame =
    prepare(raw).filter(col("event") === eventFilter)
      .groupBy(to_date(col("datetime")).as("date")).count()
      .withColumn("date_label", date_format(col("date"), "MMM dd"))
      .transform(sortedSeries(_, "date"))

  /** Suspicious-vs-Normal daily pivot (stats_dashboard.py:82-86). */
  def suspiciousVsNormalDaily(raw: DataFrame): DataFrame =
    prepare(raw).withColumn("event_type", LogParser.eventTypeCol(col("event")))
      .groupBy(to_date(col("datetime")).as("date"))
      .pivot("event_type", Seq("Suspicious", "Normal")).count()
      .na.fill(0L, Seq("Suspicious", "Normal"))
      .transform(sortedSeries(_, "date"))

  /** The per-IP summary (stats_dashboard.py:103-144) in ONE aggregation pass.
    * Produces: the 11 pivoted event counts, total_events,
    * distinct_source_ports, source_ports_list, first_seen, last_seen,
    * failed_logins, failed_users, tried_root_admin, event_diversity,
    * suspicious_score, attacker/bot/authorized percentages.
    *
    * The two distinct counts are set sizes, not `countDistinct`s. Mixing
    * distinct with plain aggregates makes Spark's RewriteDistinctAggregates
    * plan an `Expand` of every row, an aggregate keyed on (ip, port, event),
    * and a second exchange and sort-based aggregate to fold it back per ip.
    * `distinct_source_ports` is instead the size of the port set the
    * summary already collects: the int→string cast is injective and both
    * forms skip nulls, so the count is the same. `event_diversity` is the
    * size of a per-ip event set, bounded by the 11 tags. The plan is one
    * ObjectHashAggregate pair around a single hash exchange on `ip`.
    */
  def ipEventSummary(raw: DataFrame): DataFrame = {
    // DELIBERATE divergence from the pandas reference: rows with a null ip
    // (pam-style lines with no "from <ip>" token, ~25% of real SSH logs)
    // form their own "unattributed" group here, where pandas
    // groupby('ip') silently DROPS them — silently losing a quarter of
    // the events from a security dashboard is the wrong default. The
    // DuckDB oracles group nulls the same way, so the carriers stay
    // hash-exact; a consumer wanting pandas parity filters
    // ip IS NOT NULL first (as the s12 pipeline query does).
    val df = prepare(raw)
    val susp = col("event").isin(suspiciousEvents: _*)
    val rootAdmin = lower(col("user")).isin("root", "admin")

    val pivotCols = eventTags.map(t => cnt(col("event") === t).as(t))
    val ports = collect_set(col("port").cast("string"))
    val aggs = pivotCols ++ Seq(
      count(lit(1)).as("total_events"),
      size(ports).cast("bigint").as("distinct_source_ports"),
      sort_array(ports).as("source_ports_list"),
      min(col("datetime")).as("first_seen"),
      max(col("datetime")).as("last_seen"),
      cnt(susp).as("failed_logins"),
      // user is non-null here by construction (prepare() na.fill's it)
      sort_array(collect_set(when(susp, col("user")))).as("failed_users"),
      cnt(rootAdmin).as("tried_root_admin"),
      size(collect_set(col("event"))).cast("bigint").as("event_diversity"))

    val base = df.groupBy(col("ip")).agg(aggs.head, aggs.tail: _*)

    val scored = base.withColumn("suspicious_score",
      Scoring.suspiciousScore(col("failed_logins"), col("distinct_source_ports"),
        col("total_events"), col("tried_root_admin"), col("event_diversity")))

    val (attacker, bot, authorized) = Scoring.classifyProfile(
      col("suspicious_score"), col("failed_logins"), col("distinct_source_ports"),
      col("tried_root_admin"), col("event_diversity"))

    scored
      .withColumn("attacker_pct", attacker)
      .withColumn("bot_pct", bot)
      .withColumn("authorized_pct", authorized)
      .orderBy(desc("suspicious_score"), col("ip"))
  }

  /** Global stats over the per-IP summary (stats_dashboard.py:149-158). */
  def globalIpStats(summary: DataFrame): DataFrame =
    summary.agg(
      count(lit(1)).as("total_ips"),
      cnt(col("failed_logins") > 0).as("failed_login_ips"),
      cnt(col("tried_root_admin") > 0).as("root_admin_ips"),
      cnt(col("total_events") > 100).as("ips_over_100_events"),
      max(col("total_events")).as("max_events_per_ip"),
      rnd(avg(col("total_events")), 2).as("avg_events_per_ip"),
      rnd(avg(col("suspicious_score")), 2).as("avg_suspicious_score"),
      cnt(col("suspicious_score") > 80).as("suspicious_over_80"))

  /** Histogram of a numeric column by fixed-width buckets
    * (stats_dashboard.py:163's nbins analog, engine-side).
    */
  def histogram(df: DataFrame, c: Column, width: Double): DataFrame =
    sortedSeries(df.groupBy(floor(c / width).as("bucket")).count(), "bucket")

  /** Top-k by count with an "Others" rollup bucket — the reference's
    * draw_pie (stats_dashboard.py:217-224). NOT a global ranking window:
    * a partition-less window funnels the whole counts table through one
    * task (WindowExec warns about exactly this). Instead the top-k rows
    * come from orderBy+limit — planned as TakeOrderedAndProject, a
    * per-partition heap + driver merge of k rows — and are broadcast back
    * as a membership probe. Same deterministic tie-break (count desc,
    * name asc); the counts table itself never moves to one node.
    */
  def topKWithOthers(counts: DataFrame, nameCol: String, countCol: String, k: Int): DataFrame = {
    // A NULL name never occupies a top-k slot (r14 fuzz find): it isn't a
    // nameable entity, and letting it rank made the two sides of the
    // cross-engine gate disagree once the null group grew large — the
    // null-unsafe membership probe below sent it to Others regardless,
    // while a rank-based oracle rendered a NULL bucket. Excluding it from
    // CANDIDACY makes "rolls into Others" the contract on both engines.
    // HOW it's excluded matters for the plan: a pre-rank isNotNull filter
    // pushes through the aggregate to the scan, so the topK branch stops
    // canonicalizing against the Others branch and events gets scanned
    // TWICE (caught by PlanDrift, sc1->sc2). Ranking the null group LAST
    // (isNull ascending leads the sort) keeps the aggregate subtree
    // byte-identical on both branches — single scan, exchange reuse —
    // and the post-LIMIT filter (which cannot push below the limit)
    // drops the null group in the only case it can slip in: fewer than k
    // real names exist.
    val topK = counts
      .orderBy(col(nameCol).isNull, desc(countCol), col(nameCol)).limit(k)
      .filter(col(nameCol).isNotNull)
      .select(col(nameCol).as("_top_name"))
    counts.join(broadcast(topK), col(nameCol) === col("_top_name"), "left")
      .withColumn("bucket",
        when(col("_top_name").isNotNull, col(nameCol).cast("string")).otherwise(lit("Others")))
      .groupBy("bucket").agg(sum(col(countCol)).as(countCol))
  }
}

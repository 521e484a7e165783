package graft

import graft.analytics.SshAnalytics
import graft.ingest.LogParser
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end reference workload: raw SSH lines → parse → the dashboard's
  * global metrics and one-pass per-IP summary, hand-checked; and the
  * summary's set-size counts and the chart panels' row order checked
  * against plain Spark on a frame with nulls and an unknown event.
  */
class SshAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  // attacker 10.0.0.1: 2 failed passwords (root) on 2 ports + 1 invalid user;
  // benign 10.0.0.2: 1 accepted ("other")
  private val lines = Seq(
    "Dec 10 07:00:01 h sshd[1]: Failed password for root from 10.0.0.1 port 1111 ssh2",
    "Dec 10 07:00:02 h sshd[2]: Failed password for root from 10.0.0.1 port 2222 ssh2",
    "Dec 10 07:00:03 h sshd[3]: Invalid user admin from 10.0.0.1",
    "Dec 10 07:00:04 h sshd[4]: Accepted password for alice from 10.0.0.2 port 3333 ssh2")

  private lazy val parsed = LogParser.parse(lines.toDF("value")).cache()

  test("globalMetrics over parsed lines") {
    val m = SshAnalytics.globalMetrics(parsed).head()
    assert(m.getAs[Long]("total_records") == 4)
    assert(m.getAs[Long]("unique_users") == 3) // root, admin, alice
    assert(m.getAs[Long]("unique_ips") == 2)
    assert(m.getAs[Long]("failed_events") == 3)
    assert(m.getAs[Double]("failed_rate_pct") == 75.0)
  }

  test("ipEventSummary: one-pass per-IP aggregate with score and profile") {
    val s = SshAnalytics.ipEventSummary(parsed).collect()
    assert(s.length == 2)
    val attacker = s.head // sorted by score desc
    assert(attacker.getAs[String]("ip") == "10.0.0.1")
    assert(attacker.getAs[Long]("failed_password") == 2)
    assert(attacker.getAs[Long]("invalid_user") == 1)
    assert(attacker.getAs[Long]("total_events") == 3)
    assert(attacker.getAs[Long]("distinct_source_ports") == 2)
    assert(attacker.getAs[scala.collection.Seq[String]]("source_ports_list").toSeq == Seq("1111", "2222"))
    assert(attacker.getAs[Long]("failed_logins") == 3)
    assert(attacker.getAs[scala.collection.Seq[String]]("failed_users").toSeq == Seq("admin", "root"))
    assert(attacker.getAs[Long]("tried_root_admin") == 3) // root,root,admin
    assert(attacker.getAs[Long]("event_diversity") == 2)
    // score = 2·3 + 3·2 + 0.5·3 + 15·1 + 1·2 = 30.5
    assert(attacker.getAs[Double]("suspicious_score") == 30.5)
    val benign = s(1)
    assert(benign.getAs[String]("ip") == "10.0.0.2")
    // 2·0 + 3·1(port) + 0.5·1(total) + 15·0 + 1·1(diversity) = 4.5
    assert(benign.getAs[Double]("suspicious_score") == 4.5)
  }

  test("topKWithOthers rolls the tail into Others") {
    val counts = Seq(("a", 10L), ("b", 8L), ("c", 5L), ("d", 2L), ("e", 1L))
      .toDF("name", "cnt")
    val out = SshAnalytics.topKWithOthers(counts, "name", "cnt", 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 10L, "b" -> 8L, "c" -> 5L, "Others" -> 3L))
  }

  test("topKWithOthers: a NULL name never takes a top-k slot — it rolls into Others") {
    // the null group is the LARGEST count; without the candidacy
    // exclusion it would claim a slot (and then fall to Others anyway
    // through the null-unsafe membership probe, silently shrinking top-k
    // to k-1 real names — the r14 fuzz-gate divergence)
    val counts = Seq((null.asInstanceOf[String], 99L), ("a", 10L), ("b", 8L),
      ("c", 5L), ("d", 2L)).toDF("name", "cnt")
    val out = SshAnalytics.topKWithOthers(counts, "name", "cnt", 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 10L, "b" -> 8L, "c" -> 5L, "Others" -> 101L))
  }

  // Null port, null ip group, null user, one port under two events, an
  // event outside eventTags, an ip whose ports are all null, and enough
  // hours/days/buckets that a hash-partitioned result would be unsorted.
  // Its session keeps every shuffle partition (AQE would merge this small
  // input into one), so a series sorted only within partitions shows.
  private lazy val edgy = {
    val spark = this.spark.newSession()
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val schema = StructType(Seq(
      StructField("ip", StringType), StructField("user", StringType),
      StructField("port", IntegerType), StructField("event", StringType),
      StructField("datetime", TimestampType)))
    def ts(day: Int, hour: Int) = java.sql.Timestamp.valueOf(f"2024-12-$day%02d $hour%02d:00:00")
    val special = Seq(
      Row("10.0.0.1", "root", 22, "failed_password", ts(3, 5)),
      Row("10.0.0.1", "admin", 22, "invalid_user", ts(3, 6)),
      Row("10.0.0.1", null, null, "failed_password", ts(4, 7)),
      Row("10.0.0.1", "bob", 23, "not_a_tag", ts(4, 8)),
      Row(null, null, 5, "connection_closed", ts(5, 9)),
      Row(null, "root", null, "other", ts(5, 10)),
      Row("10.0.0.2", "alice", null, "disconnect", ts(6, 11)),
      Row("10.0.0.2", "alice", null, null, ts(6, 12)))
    val bulk = (0 until 120).map { i =>
      Row(s"10.1.0.${i % 7}", s"u${i % 5}", 1000 + (i * 37) % 50,
        Seq("failed_password", "invalid_user", "other", "disconnect")(i % 4),
        ts(1 + (i * 5) % 28, (i / 4) % 24))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(special ++ bulk, 4), schema)
  }

  test("ipEventSummary: set-size counts equal countDistinct, schema unchanged") {
    val s = SshAnalytics.ipEventSummary(edgy)
    val expected = Seq("ip" -> StringType) ++ SshAnalytics.eventTags.map(_ -> LongType) ++ Seq(
      "total_events" -> LongType, "distinct_source_ports" -> LongType,
      "source_ports_list" -> ArrayType(StringType, containsNull = false),
      "first_seen" -> TimestampType, "last_seen" -> TimestampType,
      "failed_logins" -> LongType,
      "failed_users" -> ArrayType(StringType, containsNull = false),
      "tried_root_admin" -> LongType, "event_diversity" -> LongType,
      "suspicious_score" -> DoubleType, "attacker_pct" -> DoubleType,
      "bot_pct" -> DoubleType, "authorized_pct" -> DoubleType)
    assert(s.schema.fields.map(f => f.name -> f.dataType).toSeq == expected)
    def byIp(rows: Array[Row]) = rows.map(r => Option(r.getAs[String]("ip")) ->
      (r.getAs[Long]("distinct_source_ports"), r.getAs[Long]("event_diversity"))).toMap
    val got = byIp(s.collect())
    val reference = byIp(edgy.groupBy("ip").agg(
      countDistinct(col("port")).as("distinct_source_ports"),
      countDistinct(col("event")).as("event_diversity")).collect())
    assert(got == reference)
    assert(got(Some("10.0.0.1")) == ((2L, 3L))) // 22 under two events; null port skipped
    assert(got(None) == ((1L, 2L)))
    assert(got(Some("10.0.0.2")) == ((0L, 1L))) // only null ports; null event skipped
  }

  test("globalMetrics: grouping-set counts equal countDistinct, on the frame and on no rows") {
    def reference(raw: org.apache.spark.sql.DataFrame) = {
      val failed = sum(when(col("event").isin(LogParser.suspiciousEvents: _*), 1L).otherwise(0L))
      raw.na.fill(Map("user" -> "")).na.drop(Seq("datetime")).agg(
        count(lit(1)).as("total_records"), countDistinct(col("user")).as("unique_users"),
        countDistinct(col("ip")).as("unique_ips"), countDistinct(col("event")).as("distinct_events"),
        failed.as("failed_events"),
        graft.functions.Rounding.roundAt(failed * 100.0 / count(lit(1)), 2).as("failed_rate_pct"))
    }
    for (raw <- Seq(edgy, edgy.filter(lit(false)))) {
      val got = SshAnalytics.globalMetrics(raw)
      val want = reference(raw)
      assert(got.schema.fields.map(f => f.name -> f.dataType).toSeq ==
        want.schema.fields.map(f => f.name -> f.dataType).toSeq)
      assert(got.collect().toSeq == want.collect().toSeq)
    }
    val m = SshAnalytics.globalMetrics(edgy).head()
    assert(m.getAs[Long]("unique_ips") == 9L) // 10.0.0.1, 10.0.0.2, 10.1.0.0-6; the null ip skipped
    assert(m.getAs[Long]("distinct_events") == 6L) // the null event skipped
  }

  test("chart panels return their series in ascending key order") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    def key[K](df: org.apache.spark.sql.DataFrame, k: String) = df.collect().toSeq.map(_.getAs[K](k))
    val hours = SshAnalytics.accessByHour(edgy, "failed_password")
    val days = SshAnalytics.accessByDay(edgy, "invalid_user")
    val daily = SshAnalytics.suspiciousVsNormalDaily(edgy)
    val hist = SshAnalytics.histogram(edgy, col("port"), 5.0)
    assert(key[Int](hours, "hour").sliding(2).forall { case Seq(a, b) => a < b })
    assert(key[java.sql.Date](days, "date").sliding(2).forall { case Seq(a, b) => a.before(b) })
    assert(key[java.sql.Date](daily, "date").sliding(2).forall { case Seq(a, b) => a.before(b) })
    // the null-port bucket comes first (NULLS FIRST) and reads as 0 here
    assert(key[Long](hist, "bucket").sliding(2).forall { case Seq(a, b) => a < b })
    assert(key[Int](hours, "hour").size > 10 && key[Long](hist, "bucket").size > 5)
    // same rows as the panels' orderBy form
    val fp = edgy.filter(col("event") === "failed_password")
    assert(rows(hours) == rows(fp.groupBy(hour(col("datetime")).as("hour")).count()
      .withColumn("hour_label", lpad(col("hour").cast("string"), 2, "0")).orderBy("hour")))
    assert(rows(hist) == rows(edgy.groupBy(floor(col("port") / 5.0).as("bucket")).count().orderBy("bucket")))
  }
}

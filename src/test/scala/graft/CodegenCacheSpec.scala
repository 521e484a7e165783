package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.analytics.SshAnalytics
import graft.ingest.LogParser

/** Spark's generated-class cache holds the engine's working set (the
  * codegen settings in [[GraftSession]]): a second run of the same plans
  * compiles no class. Spark's default 100-entry cache failed both checks,
  * since a registry pass alone compiles over 200 classes.
  */
class CodegenCacheSpec extends SparkSpec {
  /** The benchmark's registry queries (perfbench's `Registry.queries`). */
  private val registryQueries = Seq("ir_bm25", "sim_ivf", "tx_bpe_encode",
    "a20_funnel", "j8_asof_join", "j11_salted_skew_join", "t4_topk_others", "w1_window_rank")

  /** The sf0.01 tables, beside the default sf directory. */
  private val sf = Paths.get(GraftSession.sfDir).resolveSibling("sf0.01").toString

  /** Each step's codegen compiles, by name, in order. */
  private def compilesOf(steps: Seq[(String, () => Unit)]): Seq[(String, Long)] = {
    val meter = new Meter(spark)
    try steps.map { case (name, step) =>
      meter.reset()
      meter(step())
      name -> meter.codegenCompiles
    } finally meter.close()
  }

  private def registryPass(): Seq[(String, Long)] = compilesOf(registryQueries.map { q =>
    q -> (() => try Bench.run(SparkEntry.queries(q)(spark, sf)) finally GraftSession.clearCaches(spark))
  })

  test("a warm pass over the benchmark's registry queries compiles no class") {
    val cold = registryPass()
    assert(cold.map(_._2).sum > 0, s"the cold pass compiled nothing: $cold")
    val warm = registryPass()
    assert(warm.forall(_._2 == 0L), s"warm pass compiles per query: $warm (cold pass: $cold)")
  }

  /** Every sshd event class of the parser grammar, on three days. */
  private val syslog = for {
    day <- 10 to 12
    line <- Seq(
      "Invalid user webmaster from 173.234.31.186",
      "Failed password for invalid user test9 from 52.80.34.196 port 36060 ssh2",
      "Failed password for root from 52.80.34.196 port 36061 ssh2",
      "pam_unix(sshd:auth): authentication failure; logname= uid=0 euid=0 tty=ssh ruser= rhost=52.80.34.196  user=root",
      "reverse mapping checking getaddrinfo for ns.example.com [173.234.31.186] failed - POSSIBLE BREAK-IN ATTEMPT!",
      "Connection closed by 52.80.34.196 [preauth]",
      "Received disconnect from 112.95.230.3: 11:  [preauth]",
      "Did not receive identification string from 190.167.74.204",
      "Disconnecting: Too many authentication failures for admin [preauth]",
      "PAM service(sshd) ignoring max retries; 6 > 3",
      "Failed none for invalid user 0 from 208.109.54.135 port 51158 ssh2",
      "Accepted password for fztu from 119.137.62.142 port 49116 ssh2")
  } yield s"Dec $day 07:${day + 10}:45 LabSZ sshd[24200]: $line"

  /** The ssh_etl benchmark's cycle: an ETL pass into a docstore, then a
    * dashboard refresh of its eight panels over the cached read. */
  private def etlAndRefresh(logPath: String, store: String): Seq[(String, Long)] = {
    var df: DataFrame = null
    var summary: DataFrame = null
    def panel(f: => Array[Row]): () => Unit = () => { f; () }
    try compilesOf(Seq(
      "etl" -> (() => LogParser.parse(spark.read.text(logPath)).drop("datetime")
        .write.format("docstore").mode("overwrite").save(store)),
      "docstore_read" -> (() => {
        df = spark.read.format("docstore").load(store)
          .select(Seq("ip", "user", "port", "event", "month", "day", "time").map(col): _*)
          .filter(col("event").isNotNull)
          .withColumn("datetime", LogParser.datetimeCol(col("month"), col("day"), col("time")))
          .cache()
        df.count()
        summary = SshAnalytics.ipEventSummary(df).cache()
      }),
      "global_metrics" -> panel(SshAnalytics.globalMetrics(df).collect()),
      "access_by_hour" -> panel(SshAnalytics.accessByHour(df, "failed_password").collect()),
      "access_by_day" -> panel(SshAnalytics.accessByDay(df, "invalid_user").collect()),
      "suspicious_daily" -> panel(SshAnalytics.suspiciousVsNormalDaily(df).collect()),
      "ip_summary" -> panel(summary.collect()),
      "global_ip_stats" -> panel(SshAnalytics.globalIpStats(summary).collect()),
      "topk_others" -> panel(SshAnalytics.topKWithOthers(df.groupBy("ip").count(), "ip", "count", 10).collect()),
      "histogram" -> panel(SshAnalytics.histogram(summary, col("total_events"), 10.0).collect())))
    finally {
      if (summary != null) summary.unpersist(blocking = true)
      if (df != null) df.unpersist(blocking = true)
    }
  }

  test("a second ETL pass and dashboard refresh compile no class") {
    val dir = Files.createTempDirectory("graft_codegen_cache")
    val logPath = Files.write(dir.resolve("ssh.log"), syslog.asJava).toString
    val cold = etlAndRefresh(logPath, dir.resolve("store1").toString)
    assert(cold.map(_._2).sum > 0, s"the cold pass compiled nothing: $cold")
    val warm = etlAndRefresh(logPath, dir.resolve("store2").toString)
    assert(warm.forall(_._2 == 0L), s"warm pass compiles per step: $warm (cold pass: $cold)")
  }
}

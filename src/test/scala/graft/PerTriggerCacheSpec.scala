package graft


import graft.streaming.{StreamRun, StreamingAnalytics}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** A `foreachBatch` body runs once per trigger with no end, so a cache
  * entry it leaves behind on each trigger is an unbounded leak. Each
  * streaming twin here runs three non-empty triggers, and the session's
  * persisted RDDs must end where they started, give or take `keep`.
  * incrementalDedupStream holds its static base's shingle frames for the
  * query's life and releases them when the query terminates, so after
  * stop it keeps nothing.
  */
class PerTriggerCacheSpec extends SparkSpec {
  import spark.implicits._

  /** 80 tokens, half of them stopwords: passes streamingIngest's gates. */
  private def mkDoc(family: String): String =
    (1 to 80).map(i => if (i % 2 == 1) "the" else s"$family${i / 2}").mkString(" ")

  private val base = Seq(1L -> mkDoc("alpha"), 2L -> mkDoc("beta"))

  private val triggers: Seq[Seq[(Long, String)]] = Seq(
    Seq(101L -> mkDoc("alpha"), 102L -> mkDoc("gamma")),
    Seq(103L -> mkDoc("delta")),
    Seq(104L -> mkDoc("beta"), 105L -> mkDoc("epsilon")))

  /** Drive a twin through the three triggers: it must start three
    * non-empty ones and leave at most `keep` persisted RDDs behind once
    * the query's termination event has reached its listeners. */
  private def assertNoLeak(start: MemoryStream[(Long, String)] => StreamingQuery,
                           keep: Int = 1): Unit = {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val before = spark.sparkContext.getPersistentRDDs.size
    val mem = MemoryStream[(Long, String)]
    val nonEmpty = StreamRun(start(mem), StreamRun.chunks(mem, triggers)).count(_.numInputRows > 0)
    org.apache.spark.sql.GraftListenerBus.drain(spark.sparkContext)
    val left = spark.sparkContext.getPersistentRDDs.size - before
    assert(nonEmpty == 3)
    assert(left <= keep, s"$left persisted RDDs left after $nonEmpty triggers")
  }

  private def ingest(indexDir: Option[String])(mem: MemoryStream[(Long, String)]) = {
    val store = tempDir("graft_leak_store").toString
    base.toDF("doc_id", "text").coalesce(1).write.format("docstore").mode("append").save(store)
    StreamingAnalytics.streamingIngest(mem.toDF().toDF("doc_id", "text"), store,
      indexDir = indexDir)
  }

  test("incrementalDedupStream leaves no cache entry per trigger") {
    assertNoLeak(mem =>
      StreamingAnalytics.incrementalDedupStream(mem.toDF().toDF("doc_id", "text"),
        base.toDF("doc_id", "text"), n = 5, threshold = 0.5, maxDf = 100)(_.collect()),
      keep = 0)
  }

  test("streamingIngest leaves no cache entry per trigger") {
    assertNoLeak(ingest(None))
  }

  test("indexed streamingIngest leaves no cache entry per trigger") {
    assertNoLeak(ingest(Some(tempDir("graft_leak_idx").toString + "/idx")))
  }
}

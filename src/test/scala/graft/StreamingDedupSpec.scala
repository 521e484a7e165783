package graft

import graft.streaming.{StreamRun, StreamingAnalytics}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Streaming exact dedup: duplicates within the watermark window are
  * dropped, distinct texts pass through, and the dedup key is the content
  * hash (bounded 8-byte state), not the text.
  */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private def t(minute: Int) = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("duplicates within the watermark are dropped; output equals batch distinct-by-text") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val rows = Seq(
      (1L, t(0), "alpha doc"), (2L, t(1), "beta doc"),
      (3L, t(2), "alpha doc"), // dup of 1 within watermark → dropped
      (4L, t(3), "gamma doc"),
      (5L, t(4), "beta doc"))  // dup of 2 → dropped
    mem.addData(rows)

    val out = StreamingAnalytics.dedupStream(
      mem.toDF().toDF("doc_id", "ts", "text"), "ts", "text", "30 minutes")
    val got = StreamRun.memory(out, "append").sink.select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 4L)) // first copy of each distinct text
    assert(got.size == rows.map(_._3).distinct.size)
  }

  test("working-column collisions fail fast instead of silently dropping caller data") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Long)]
    // a pre-existing '_h' would be overwritten by the dedup hash and then
    // dropped — the caller's column vanishing silently
    val e = intercept[IllegalArgumentException] {
      StreamingAnalytics.dedupStream(
        mem.toDF().toDF("doc_id", "ts", "text", "_h"), "ts", "text")
    }
    assert(e.getMessage.contains("_h"))
    // CASE-variant too: withColumn resolves case-insensitively under
    // Spark's default, so a caller's '_H' would be replaced just the same
    val eCase = intercept[IllegalArgumentException] {
      StreamingAnalytics.dedupStream(
        mem.toDF().toDF("doc_id", "ts", "text", "_H"), "ts", "text")
    }
    assert(eCase.getMessage.contains("_H"))
    val docs = Seq((1L, "a", "x")).toDF("doc_id", "text", "status")
    val base = Seq((10L, "a")).toDF("doc_id", "text")
    val e2 = intercept[IllegalArgumentException] {
      StreamingAnalytics.exactDupStream(docs, base)
    }
    assert(e2.getMessage.contains("status"))
  }

  test("cleanCorpusStream ≡ batch gates over the deduped stream") {
    implicit val sq = spark.sqlContext
    // distinct-word-heavy so only the INTENDED gate trips each doc
    val good = (1 to 40).flatMap(i => Seq("the", s"word$i")).mkString(" ")
    val spanish = (1 to 40).flatMap(i => Seq("el", s"palabra$i")).mkString(" ")
    val repetitive = ("spam " * 120).trim
    val junk = "zzzz"
    val mem = MemoryStream[(Long, Timestamp, String)]
    val rows = Seq(
      (1L, t(0), good),
      (2L, t(1), spanish),    // lang gate drops
      (3L, t(2), repetitive), // repetition gate drops
      (4L, t(3), junk),       // quality gate drops
      (5L, t(4), good),       // dup of 1 → dedup drops
      (6L, t(5), good + " extra tail words here")) // distinct, passes
    mem.addData(rows)

    val out = graft.streaming.StreamingAnalytics.cleanCorpusStream(
      mem.toDF().toDF("doc_id", "ts", "text"), "ts", "30 minutes")
    val got = StreamRun.memory(out, "append").sink
      .select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // batch parity: first-copy-per-text through the SAME shared gates
    val firstCopies = rows.groupBy(_._3).map(_._2.minBy(_._1)).toSeq
    val batch = QueriesExt.cleanGates(
        firstCopies.toDF("doc_id", "ts", "text"), Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == batch)
    assert(got.keySet == Set(1L, 6L), s"got $got")
  }

  test("exactDupStream labels arrivals against the static base, append mode") {
    implicit val sq = spark.sqlContext
    val base = Seq(
      (1L, "alpha doc content"), (2L, "beta doc content"),
      (3L, "alpha doc content") // dup in base: match_id must be MIN id (1)
    ).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    mem.addData(Seq((10L, "alpha doc content"), (11L, "fresh unseen text")))

    val out = StreamingAnalytics.exactDupStream(
      mem.toDF().toDF("doc_id", "text"), base)
    val got = StreamRun.memory(out, "append").sink
      .select("doc_id", "status", "match_id").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), Option(r.get(2))))).toMap
    assert(got(10L) == (("exact_dup", Some(1L))))
    assert(got(11L) == (("new", None)))
  }

  test("incrementalDedupStream ≡ batch incrementalStatus per micro-batch") {
    implicit val sq = spark.sqlContext
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (4L, "completely different content about spark catalyst optimizer rules and physical plans")
    ).toDF("doc_id", "text")
    val b1 = Seq(
      (11L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (12L, "entirely novel arrival with no shingle overlap whatsoever in this batch"))
    val b2 = Seq(
      (13L, "the quick brown fox jumps over the lazy dog near the river bank sometimes"))

    val mem = MemoryStream[(Long, String)]
    val results = scala.collection.mutable.ArrayBuffer.empty[Map[Long, (String, Option[Long])]]
    val q = StreamingAnalytics.incrementalDedupStream(
      mem.toDF().toDF("doc_id", "text"), base, n = 2, threshold = 0.5, maxDf = 100) {
      out => results += out.collect()
        .map(r => r.getLong(0) -> ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    }
    StreamRun(q, StreamRun.chunks(mem, Seq(b1, b2)))

    val nonEmpty = results.filter(_.nonEmpty)
    assert(nonEmpty.length == 2)
    assert(nonEmpty(0) == Map(11L -> (("exact_dup", Some(1L))), 12L -> (("new", None))))
    assert(nonEmpty(1) == Map(13L -> (("near_dup", Some(1L)))))
    // parity with the batch operator on the same micro-batch
    val batch = graft.functions.Dedup.incrementalStatus(
        graft.functions.ShingleIndex.derive(base, "doc_id", "text", 2),
        b2.toDF("doc_id", "text"), "doc_id", "text", 0.5, 100)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    assert(nonEmpty(1) == batch)
  }
}

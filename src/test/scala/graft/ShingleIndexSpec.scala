package graft


import graft.functions.{Dedup, ShingleIndex}
import graft.streaming.StreamingAnalytics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The persistent shingle index must be INVISIBLE semantically: indexed
  * classification is the same function as the re-derive path, segment
  * commits are replay-idempotent, and compaction changes layout only.
  * The load-bearing case is the EVOLVING HOT SET: appends push a
  * shingle's merged df over the cap after bootstrap, so `size_b` must be
  * corrected from the stored uncapped `n_total` — an error there shifts
  * every affected jaccard denominator.
  */
class ShingleIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = tempDir(prefix).toString

  /** Canonical comparison: status rows keyed by doc_id. */
  private def rows(df: DataFrame): Seq[(Long, String, Option[Any], Option[Any])] =
    df.collect().map(r => (r.getLong(0), r.getString(1),
      Option(r.get(2)), Option(r.get(3)))).sortBy(_._1).toSeq

  private val base = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (3L, "a completely different document about catalyst optimizer rules and plans"),
    (4L, null.asInstanceOf[String]),                 // null text: hash arm must skip
    (5L, "short"),                                   // fewer tokens than n → no shingles
    (6L, "")                                         // empty text
  ).toDF("doc_id", "text")

  private val delta = Seq(
    (11L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (13L, "the quick brown fox jumps over the lazy dog near the river bank sometimes"),
    (15L, "entirely novel delta text with no overlap in shingles whatsoever at all here"),
    (16L, null.asInstanceOf[String])
  ).toDF("doc_id", "text")

  test("indexed classification equals the re-derive path on the fixture") {
    val idxDir = tmp("graft_shidx_parity")
    ShingleIndex.bootstrap(base, "doc_id", "text", n = 2, idxDir)
    val idx = ShingleIndex.read(spark, idxDir)
    val expected = rows(Dedup.incrementalStatus(
      ShingleIndex.derive(base, "doc_id", "text", n = 2), delta, "doc_id", "text",
      threshold = 0.5, maxDf = 100))
    val actual = rows(Dedup.incrementalStatus(idx, delta,
      "doc_id", "text", threshold = 0.5, maxDf = 100))
    assert(actual == expected)
    // and the classification really found all three arms
    assert(actual.map(t => t._1 -> t._2).toMap ==
      Map(11L -> "exact_dup", 13L -> "near_dup", 15L -> "new", 16L -> "new"))
  }

  test("indexed classification equals the re-derive path on the real corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val b = docs.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.lit(10)) =!= 7)
    val d = docs.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.lit(10)) === 7)
    val idxDir = tmp("graft_shidx_corpus")
    ShingleIndex.bootstrap(b, "doc_id", "text", n = 5, idxDir)
    val idx = ShingleIndex.read(spark, idxDir)
    assert(rows(Dedup.incrementalStatus(idx, d, "doc_id", "text",
        threshold = 0.5, maxDf = 100)) ==
      rows(Dedup.incrementalStatus(ShingleIndex.derive(b, "doc_id", "text", n = 5),
        d, "doc_id", "text", threshold = 0.5, maxDf = 100)))
  }

  test("a segment holds derive's frames: bootstrap then read returns them, fixture and sf0.01") {
    val sf = Tables.documents(spark, "/root/testdata/sf0.01").select("doc_id", "text")
    for ((docs, n) <- Seq(base -> 2, sf -> 5)) {
      val idxDir = tmp("graft_shidx_derive")
      ShingleIndex.bootstrap(docs, "doc_id", "text", n, idxDir)
      val stored = ShingleIndex.read(spark, idxDir)
      val derived = ShingleIndex.derive(docs, "doc_id", "text", n)
      try {
        assert(stored.n == derived.n)
        for ((name, s, d) <- Seq(("postings", stored.postings, derived.postings),
                                 ("stats", stored.stats, derived.stats),
                                 ("df", stored.dfPartials, derived.dfPartials))) {
          assert(s.columns.toSeq == d.columns.toSeq, name)
          assert(s.count() == d.count() && d.count() > 0, name)
          assert(s.exceptAll(d).isEmpty && d.exceptAll(s).isEmpty, name)
        }
      } finally derived.unpersist()
    }
  }

  test("append-evolved hot set: size_b corrected from uncapped n_total") {
    // bootstrap: 3 docs share the "tok0 tok1" shingle family (df = 3,
    // under cap); appends add 3 more → merged df = 6 > maxDf = 5. The
    // indexed path must then both EXCLUDE those shingles from candidate
    // matching and SHRINK each doc's size_b below its stored n_total —
    // re-derive over (bootstrap ∪ appended) is the oracle.
    // 10 shared tokens (9 common shingles, df = #docs) + 6 family tokens
    // (family-private shingles, df = 1) per doc
    val common = (0 to 9).map(i => s"c$i").mkString(" ")
    def doc(family: String) = common + " " +
      (0 to 5).map(i => s"f${i}_$family").mkString(" ")
    val b0 = Seq(10L -> doc("aa"), 11L -> doc("bb"), 12L -> doc("cc"))
      .toDF("doc_id", "text")
    val extra = Seq(13L -> doc("dd"), 14L -> doc("ee"), 15L -> doc("ff"))
      .toDF("doc_id", "text")
    val idxDir = tmp("graft_shidx_hot")
    ShingleIndex.bootstrap(b0, "doc_id", "text", n = 2, idxDir)
    assert(ShingleIndex.append(extra, "doc_id", "text", idxDir, "b000000001"))
    val idx = ShingleIndex.read(spark, idxDir)
    val probe = Seq(
      21L -> (doc("aa").split(" ").dropRight(1) :+ "zz").mkString(" "), // near of 10
      22L -> (0 to 15).map(i => s"other$i").mkString(" ")               // new
    ).toDF("doc_id", "text")
    val expected = rows(Dedup.incrementalStatus(
      ShingleIndex.derive(b0.union(extra), "doc_id", "text", n = 2), probe,
      "doc_id", "text", threshold = 0.3, maxDf = 5))
    val actual = rows(Dedup.incrementalStatus(idx, probe,
      "doc_id", "text", threshold = 0.3, maxDf = 5))
    assert(actual == expected)
    // the fixture really exercised the corrected-size near arm
    assert(actual.map(t => t._1 -> t._2).toMap == Map(21L -> "near_dup", 22L -> "new"))
    // the hot cap really engaged: merged df of shared shingles exceeds 5
    val hotCount = idx.dfPartials.groupBy("shingle")
      .agg(org.apache.spark.sql.functions.sum("df").as("df"))
      .filter(org.apache.spark.sql.functions.col("df") > 5).count()
    assert(hotCount > 0, "fixture must actually cross the df cap")
  }

  test("a segment write derives all three tables from one tokenization, re-reading none") {
    // postings, stats and the df partial all from the cached slim frame;
    // reading the just-written postings back for the df partial would add
    // a parquet schema job
    val idxDir = tmp("graft_shidx_jobs")
    val meter = new Meter(spark)
    try {
      meter(ShingleIndex.bootstrap(base, "doc_id", "text", n = 2, idxDir))
      assert(meter.jobs == 4)
    } finally meter.close()
  }

  test("append is idempotent by segment id (streaming replay contract)") {
    val idxDir = tmp("graft_shidx_idem")
    ShingleIndex.bootstrap(base, "doc_id", "text", n = 2, idxDir)
    val seg = Seq(7L -> "fresh appended doc with several tokens").toDF("doc_id", "text")
    assert(ShingleIndex.append(seg, "doc_id", "text", idxDir, "b000000001"))
    val after1 = ShingleIndex.read(spark, idxDir).stats.count()
    assert(!ShingleIndex.append(seg, "doc_id", "text", idxDir, "b000000001"),
      "replayed segment id must be a committed no-op")
    assert(ShingleIndex.read(spark, idxDir).stats.count() == after1)
  }

  test("uncommitted segment scrap is invisible and swept by the retry") {
    val idxDir = tmp("graft_shidx_scrap")
    ShingleIndex.bootstrap(base, "doc_id", "text", n = 2, idxDir)
    val before = ShingleIndex.read(spark, idxDir).stats.count()
    // a crashed append: data dir present, marker never committed
    val scrap = new java.io.File(s"$idxDir/seg_b000000009/stats")
    scrap.mkdirs()
    Seq(99L -> "phantom").toDF("doc_id", "text")
      .write.mode("overwrite").parquet(scrap.getPath)
    assert(ShingleIndex.read(spark, idxDir).stats.count() == before,
      "readers must consult markers, not directories")
    val seg = Seq(8L -> "retry doc with enough tokens to shingle").toDF("doc_id", "text")
    assert(ShingleIndex.append(seg, "doc_id", "text", idxDir, "b000000009"))
    val stats = ShingleIndex.read(spark, idxDir).stats
    assert(stats.count() == before + 1)
    assert(stats.filter(org.apache.spark.sql.functions.col("base_id") === 99L).count() == 0,
      "the crashed attempt's phantom row must be swept, not committed")
  }

  test("compact preserves frames exactly and appends stay live after it") {
    val idxDir = tmp("graft_shidx_compact")
    ShingleIndex.bootstrap(base, "doc_id", "text", n = 2, idxDir)
    ShingleIndex.append(Seq(7L -> "alpha beta gamma delta").toDF("doc_id", "text"),
      "doc_id", "text", idxDir, "b000000001")
    ShingleIndex.append(Seq(8L -> "epsilon zeta eta theta").toDF("doc_id", "text"),
      "doc_id", "text", idxDir, "b000000002")
    def snapshot() = {
      val f = ShingleIndex.read(spark, idxDir)
      (f.postings.collect().map(r => (r.get(0), r.getString(1))).sortBy(_.toString).toSeq,
       f.stats.collect().map(r => (r.get(0), Option(r.get(1)), r.getLong(2))).sortBy(_.toString).toSeq,
       f.dfPartials.groupBy("shingle").agg(org.apache.spark.sql.functions.sum("df").as("df"))
         .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq)
    }
    val before = snapshot()
    ShingleIndex.compact(spark, idxDir)
    assert(snapshot() == before)
    val segDirs = new java.io.File(idxDir).listFiles().map(_.getName)
      .filter(_.startsWith("seg_"))
    assert(segDirs.isEmpty, s"compact must retire covered segment dirs: ${segDirs.toSeq}")
    ShingleIndex.append(Seq(9L -> "post compact doc tokens").toDF("doc_id", "text"),
      "doc_id", "text", idxDir, "b000000003")
    assert(ShingleIndex.read(spark, idxDir).stats
      .filter(org.apache.spark.sql.functions.col("base_id") === 9L).count() == 1)
    // second compact folds the tail segment into the next generation
    ShingleIndex.compact(spark, idxDir)
    assert(ShingleIndex.read(spark, idxDir).stats.count() == before._2.size + 1)
  }

  test("bootstrap refuses an existing index") {
    val idxDir = tmp("graft_shidx_refuse")
    ShingleIndex.bootstrap(base, "doc_id", "text", n = 2, idxDir)
    intercept[IllegalArgumentException] {
      ShingleIndex.bootstrap(base, "doc_id", "text", n = 2, idxDir)
    }
  }

  test("novel-id guard: indexed ingest refuses a replaced doc id loudly") {
    val store = tmp("graft_shidx_guard_store")
    val idxDir = tmp("graft_shidx_guard_idx")
    // gate-passing docs (the StreamingIngestSpec shape: 80 tokens, half
    // stopwords) — the revision must survive cleanGates to reach the guard
    def mk(family: String) = (1 to 80).map(i =>
      if (i % 2 == 1) "the" else s"$family${i / 2}").mkString(" ")
    Seq(1L -> mk("orig")).toDF("doc_id", "text").coalesce(1)
      .write.format("docstore").mode("append").save(store)
    ShingleIndex.bootstrap(
      spark.read.format("docstore").load(store).select("doc_id", "text"),
      "doc_id", "text", n = 5, idxDir)
    val revised = Seq(1L -> mk("revised")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      StreamingAnalytics.ingestBatch(revised, store,
        n = 5, threshold = 0.5, maxDf = 100, index = Some(idxDir -> "b000000001"))
    }
    assert(e.getMessage.contains("upsertStream"))
  }
}

package graft


import graft.streaming.{StreamRun, StreamingAnalytics}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** End-to-end streaming ingest pipe (change-stream → clean gates →
  * incremental dedup → docstore upsert): the final store must not depend
  * on where micro-batch boundaries fall. The fixture exercises every
  * admission path:
  *
  *   - gate drop (Spanish doc),
  *   - exact dup of the base corpus,
  *   - near-dup of the base corpus,
  *   - exact dup WITHIN the delta,
  *   - and the greedy near-dup CHAIN: 106 is a near-dup of admitted 101
  *     (dropped), 107 is a near-dup of 106 but NOT of 101 — sequential
  *     semantics must ADMIT 107 (its only near neighbor was itself
  *     dropped). A connected-components admission would wrongly cluster
  *     {101,106,107} and drop 107; this pins the greedy rule the
  *     one-doc-per-batch split naturally produces.
  *
  * Doc construction: 80 tokens alternating "the"/family-words; one edited
  * mid-token kills exactly 5 of the 76 5-gram shingles, so pair jaccards
  * are exact by arithmetic: 1 edit → 71/81 ≈ 0.88 (near), 106 vs 107
  * differ in 5 → 51/101 ≈ 0.505 (still ≥ 0.5), 101 vs 107 differ in 6 →
  * 46/106 ≈ 0.434 (below threshold).
  */
class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  private def mkDoc(family: String, edits: Map[Int, String]): String =
    (1 to 80).map { i =>
      if (i % 2 == 1) "the" else edits.getOrElse(i, s"$family${i / 2}")
    }.mkString(" ")

  private val baseA = mkDoc("alpha", Map.empty)
  private val baseB = mkDoc("beta", Map.empty)
  private val baseC = mkDoc("gamma", Map.empty)
  private val d101 = mkDoc("delta", Map.empty)
  private val spanish = (1 to 40).flatMap(i => Seq("el", s"palabra$i")).mkString(" ")

  private val delta: Seq[(Long, String)] = Seq(
    101L -> d101,                                    // fresh → admitted
    102L -> baseA,                                   // exact dup of base → dropped
    103L -> mkDoc("beta", Map(24 -> "zz")),          // near-dup of base → dropped
    104L -> spanish,                                 // lang gate → dropped
    105L -> d101,                                    // exact dup of 101 → dropped
    106L -> mkDoc("delta", Map(24 -> "qq")),         // near-dup of 101 → dropped
    107L -> mkDoc("delta", Map(8 -> "q8", 16 -> "q16", 24 -> "qq",
      32 -> "q32", 40 -> "q40", 56 -> "q56"))        // near of 106 only → ADMITTED
  )

  private def runSplit(batches: Seq[Seq[(Long, String)]]): Map[Long, String] = {
    val dir = tempDir("graft_ingest_store").toString
    Seq((1L, baseA), (2L, baseB), (3L, baseC)).toDF("doc_id", "text")
      .coalesce(1).write.format("docstore").mode("append").save(dir)

    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = StreamingAnalytics.streamingIngest(
      mem.toDF().toDF("doc_id", "text"), dir, n = 5, threshold = 0.5, maxDf = 100)
    StreamRun(q, StreamRun.chunks(mem, batches))
    spark.read.format("docstore").load(dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  test("final store is split-invariant across 1/3/5/7-way micro-batch splits") {
    val whole = runSplit(Seq(delta))
    val three = runSplit(Seq(delta.slice(0, 2), delta.slice(2, 5), delta.slice(5, 7)))
    val five = runSplit(Seq(delta.slice(0, 1), delta.slice(1, 3), delta.slice(3, 5),
      delta.slice(5, 6), delta.slice(6, 7)))
    val perDoc = runSplit(delta.map(Seq(_))) // the sequential reference

    assert(whole.keySet == Set(1L, 2L, 3L, 101L, 107L),
      s"single-batch admissions: ${whole.keySet}")
    assert(three == whole, "3-way split diverged")
    assert(five == whole, "5-way split diverged")
    assert(perDoc == whole, "per-doc sequential reference diverged")
    // the chain case really took the greedy path, not CC
    assert(whole(107L) == delta.toMap.apply(107L))
  }

  test("vacuum after a streaming ingest run bounds the per-trigger manifest log, store intact") {
    // The retention model's streaming consequence: every trigger's upsert
    // appends a full-shard-list version manifest (O(shards²) cumulative
    // metadata on a long stream — the documented growth). vacuum is the
    // answer, and it must not disturb the ingested store. Run in the
    // stream's writer-free window (the single-maintenance-writer rule).
    val dir = tempDir("graft_ingest_vac").toString
    Seq((1L, baseA), (2L, baseB), (3L, baseC)).toDF("doc_id", "text")
      .coalesce(1).write.format("docstore").mode("append").save(dir)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = StreamingAnalytics.streamingIngest(
      mem.toDF().toDF("doc_id", "text"), dir, n = 5, threshold = 0.5, maxDf = 100)
    StreamRun(q, StreamRun.chunks(mem, Seq(delta.slice(0, 2), delta.slice(2, 5), delta.slice(5, 7))))
    def readStore() = spark.read.format("docstore").load(dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def manifests() = new java.io.File(s"$dir/_commits").listFiles()
      .count(_.getName.matches("v\\d+\\.json"))
    val before = readStore()
    assert(before.keySet == Set(1L, 2L, 3L, 101L, 107L))
    val accrued = manifests()
    assert(accrued > 1, s"per-trigger upserts must accrue version manifests, saw $accrued")
    val res = graft.sources.docstore.DocStoreMaintenance.vacuum(dir, retainVersions = 1)
    assert(res.droppedVersions.size == accrued - 1)
    assert(manifests() == 1, "vacuum(1) must bound the manifest log to the horizon")
    val retired = Option(new java.io.File(s"$dir/_retired").listFiles())
      .map(_.count(!_.getName.startsWith("."))).getOrElse(0)
    assert(retired == 0, "no retained version references a superseded shard after vacuum(1)")
    assert(readStore() == before, "vacuum must not disturb the live store")
  }

  test("driven by the real docstore change-stream source: same final store") {
    // The composed claim end-to-end: a SOURCE docstore collection's
    // change stream (batch appends surfacing as micro-batches) feeds
    // streamingIngest into a TARGET collection — no MemoryStream anywhere.
    val src = tempDir("graft_ingest_src").toString
    val dir = tempDir("graft_ingest_tgt").toString
    Seq((1L, baseA), (2L, baseB), (3L, baseC)).toDF("doc_id", "text")
      .coalesce(1).write.format("docstore").mode("append").save(dir)

    delta.slice(0, 2).toDF("doc_id", "text").coalesce(1)
      .write.format("docstore").mode("overwrite").save(src)
    val stream = spark.readStream.format("docstore")
      .schema("doc_id BIGINT, text STRING").load(src)
    val q = StreamingAnalytics.streamingIngest(stream, dir,
      n = 5, threshold = 0.5, maxDf = 100)
    StreamRun(q, Seq(delta.slice(2, 5), delta.slice(5, 7)).map { d => () =>
      d.toDF("doc_id", "text").coalesce(1)
        .write.format("docstore").mode("append").save(src)
    })

    val got = spark.read.format("docstore").load(dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L, 101L, 107L), s"change-stream-driven store: $got")
  }

  test("null-text doc is gate-dropped, stream survives, split-invariance holds") {
    // A change stream CAN carry a null-text document (tombstone-ish or
    // producer bug). The clean gates drop it (null quality/predicted are
    // falsy), nothing downstream sees it — and where the batch boundary
    // falls around it must not matter.
    val withNull = delta :+ (108L -> (null: String))
    val whole = runSplit(Seq(withNull))
    val split = runSplit(Seq(withNull.slice(0, 4), withNull.slice(4, 8)))
    assert(whole.keySet == Set(1L, 2L, 3L, 101L, 107L),
      s"null-text doc must not be admitted: ${whole.keySet}")
    assert(split == whole, "split with a null-text doc diverged")
  }

  test("malformed batch with two texts for one doc_id does not kill the stream") {
    // The contract is doc_id-unique deltas; a violating batch must
    // collapse deterministically (min content hash), not crash upsert's
    // duplicate-key require inside foreachBatch.
    val textX = mkDoc("epsilon", Map.empty)
    val textY = mkDoc("zeta", Map.empty)
    val expected = if (xxhash64Lt(textX, textY)) textX else textY
    val stored = runSplit(Seq(Seq(201L -> textX, 201L -> textY)))
    assert(stored.keySet == Set(1L, 2L, 3L, 201L))
    assert(stored(201L) == expected)
  }

  test("oversized within-batch pair graph fails loudly with the split recipe") {
    // maxBatchPairs=1 with a batch carrying TWO near-dup pairs (106-101,
    // 107-106) must hit the mechanical bound — loud IllegalArgumentException
    // naming the recipe, not a silently-growing driver collect. The limit+1
    // pull also means the driver materialized at most 2 rows proving it.
    val dir = tempDir("graft_ingest_guard").toString
    Seq((1L, baseA)).toDF("doc_id", "text")
      .coalesce(1).write.format("docstore").mode("append").save(dir)
    val batch = delta.filter(d => Set(101L, 106L, 107L)(d._1)).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      StreamingAnalytics.ingestBatch(batch, dir, n = 5, threshold = 0.5,
        maxDf = 100, maxBatchPairs = 1)
    }
    assert(ex.getMessage.contains("maxBatchPairs") &&
      ex.getMessage.contains("Split the batch"), ex.getMessage)
    // and the default bound admits the same batch fine
    StreamingAnalytics.ingestBatch(batch, dir, n = 5, threshold = 0.5, maxDf = 100)
    val got = spark.read.format("docstore").load(dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 101L, 107L), s"post-guard admission: $got")
  }

  test("checkpoint restart WITH a forced batch replay converges to the uninterrupted store") {
    // The exactly-once claim, demonstrated rather than argued: kill the
    // ingest stream mid-corpus, delete the last checkpoint COMMIT marker
    // (simulating the crash window between the docstore upsert and the
    // offset commit — the window where a micro-batch both landed in the
    // sink AND will be replayed on restart), restart from the checkpoint,
    // feed the rest, and require the final store byte-equal to the
    // uninterrupted run's.
    val expected = runSplit(Seq(delta)) // uninterrupted reference

    val src = tempDir("graft_ingest_rsrc").toString
    val dir = tempDir("graft_ingest_rtgt").toString
    val ckpt = tempDir("graft_ingest_rckpt").toString
    Seq((1L, baseA), (2L, baseB), (3L, baseC)).toDF("doc_id", "text")
      .coalesce(1).write.format("docstore").mode("append").save(dir)
    delta.slice(0, 3).toDF("doc_id", "text").coalesce(1)
      .write.format("docstore").mode("overwrite").save(src)

    def start() = StreamingAnalytics.streamingIngest(
      spark.readStream.format("docstore").schema("doc_id BIGINT, text STRING").load(src),
      dir, n = 5, threshold = 0.5, maxDf = 100, checkpointDir = Some(ckpt))

    StreamRun(start()) // batch 0 fully committed
    // simulate the crash: the sink write happened (store already holds
    // 101), but the engine never recorded the batch as committed
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty, "expected at least one committed batch")
    assert(commits.last.delete(), "failed to remove the last commit marker")
    // and its ChecksumFs sibling — a stale .crc makes the replayed
    // batch's commit rename throw FileAlreadyExists
    val crc = new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
    if (crc.exists()) assert(crc.delete())

    delta.slice(3, 7).toDF("doc_id", "text").coalesce(1)
      .write.format("docstore").mode("append").save(src)
    StreamRun(start()) // restart: replays batch 0 first, then the new data

    val got = spark.read.format("docstore").load(dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == expected, s"restarted store diverged: ${got.keySet} vs ${expected.keySet}")
  }

  // ---- persistent shingle index wiring (ShingleIndex) --------------------

  private def runSplitIndexed(batches: Seq[Seq[(Long, String)]],
                              compactEvery: Int = 64)
      : (Map[Long, String], String) = {
    val dir = tempDir("graft_ingest_idx_store").toString
    val idx = tempDir("graft_ingest_idx_idx").toString + "/idx"
    Seq((1L, baseA), (2L, baseB), (3L, baseC)).toDF("doc_id", "text")
      .coalesce(1).write.format("docstore").mode("append").save(dir)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = StreamingAnalytics.streamingIngest(
      mem.toDF().toDF("doc_id", "text"), dir, n = 5, threshold = 0.5,
      maxDf = 100, indexDir = Some(idx), indexCompactEvery = compactEvery)
    StreamRun(q, StreamRun.chunks(mem, batches))
    (spark.read.format("docstore").load(dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap, idx)
  }

  private def indexIds(idx: String): Set[Long] =
    graft.functions.ShingleIndex.read(spark, idx).stats
      .select("base_id").collect().map(_.getLong(0)).toSet

  test("indexed ingest: same final store as the re-derive path, index tracks store") {
    val expected = runSplit(Seq(delta)) // re-derive reference
    val (whole, idxW) = runSplitIndexed(Seq(delta))
    val (three, idxT) = runSplitIndexed(
      Seq(delta.slice(0, 2), delta.slice(2, 5), delta.slice(5, 7)))
    assert(whole == expected, "indexed single-batch run diverged from re-derive")
    assert(three == expected, "indexed 3-way split diverged from re-derive")
    // the index mirrors the store exactly — the alignment invariant the
    // whole design rests on
    assert(indexIds(idxW) == whole.keySet)
    assert(indexIds(idxT) == three.keySet)
  }

  test("in-stream auto-compaction folds segments without changing the store or index") {
    val expected = runSplit(Seq(delta))
    val (got, idx) = runSplitIndexed(
      Seq(delta.slice(0, 2), delta.slice(2, 5), delta.slice(5, 7)),
      compactEvery = 2)
    assert(got == expected, "auto-compacted indexed run diverged")
    assert(indexIds(idx) == expected.keySet)
    val names = new java.io.File(idx).listFiles().map(_.getName)
    assert(names.exists(_.startsWith("_compact_")),
      s"compaction threshold 2 over 3 triggers must have fired: ${names.toSeq.sorted}")
    assert(graft.functions.ShingleIndex.liveSegmentCount(idx) < 4,
      "segment count must stay bounded by the compaction cadence")
  }

  test("indexed checkpoint restart: replay against BOTH index crash windows converges") {
    val expected = runSplit(Seq(delta)) // uninterrupted re-derive reference

    val src = tempDir("graft_ingest_irsrc").toString
    val dir = tempDir("graft_ingest_irtgt").toString
    val ckpt = tempDir("graft_ingest_irckpt").toString
    val idx = tempDir("graft_ingest_iridx").toString + "/idx"
    Seq((1L, baseA), (2L, baseB), (3L, baseC)).toDF("doc_id", "text")
      .coalesce(1).write.format("docstore").mode("append").save(dir)
    delta.slice(0, 3).toDF("doc_id", "text").coalesce(1)
      .write.format("docstore").mode("overwrite").save(src)

    def start() = StreamingAnalytics.streamingIngest(
      spark.readStream.format("docstore").schema("doc_id BIGINT, text STRING").load(src),
      dir, n = 5, threshold = 0.5, maxDf = 100,
      checkpointDir = Some(ckpt), indexDir = Some(idx))

    def dropLastEngineCommit(): Unit = {
      val commits = new java.io.File(s"$ckpt/commits").listFiles()
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
      assert(commits.nonEmpty)
      assert(commits.last.delete())
      val crc = new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
      if (crc.exists()) assert(crc.delete())
    }

    // window A: crash AFTER the index segment committed but before the
    // engine's offset commit — the replay classifies every doc as an
    // exact dup of its own store copy and must be a full no-op
    StreamRun(start())
    dropLastEngineCommit()

    // window B on the NEXT batch: crash after the upsert but BEFORE the
    // index segment marker — simulate by removing the marker so only
    // uncommitted scrap remains; the replay re-admits idempotently and
    // commits the segment first-time
    delta.slice(3, 7).toDF("doc_id", "text").coalesce(1)
      .write.format("docstore").mode("append").save(src)
    StreamRun(start())
    dropLastEngineCommit()
    val markers = new java.io.File(idx).listFiles()
      .filter(_.getName.matches("_seg_b\\d+\\.json"))
      .sortBy(_.getName)
    assert(markers.nonEmpty)
    assert(markers.last.delete(), "failed to remove the index segment marker")
    val mcrc = new java.io.File(idx, s".${markers.last.getName}.crc")
    if (mcrc.exists()) assert(mcrc.delete())

    StreamRun(start()) // replays the last batch through both windows

    val got = spark.read.format("docstore").load(dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == expected, s"restarted store diverged: ${got.keySet} vs ${expected.keySet}")
    assert(indexIds(idx) == expected.keySet, "index diverged from store after replays")
  }

  private def xxhash64Lt(a: String, b: String): Boolean = {
    import org.apache.spark.sql.functions.{lit, xxhash64}
    val r = Seq(1).toDF("x")
      .select(xxhash64(lit(a)).as("ha"), xxhash64(lit(b)).as("hb")).head()
    r.getLong(0) < r.getLong(1)
  }
}

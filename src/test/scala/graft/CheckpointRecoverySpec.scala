package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.StreamingQueryException

import graft.streaming.{CheckpointRecovery, StreamRun}

/** Deterministic pin of the r16 crash-fuzz window (seed 20260912,
  * diagnosed r17): a kill -9 inside the FIRST offsets write leaves only
  * HDFSMetadataLog's rename-temp in the checkpoint's offsets/ dir, and
  * Spark 4.x's new-checkpoint emptiness verification then refuses to
  * start the restarted query over Spark's own crash scrap. Three pins:
  * the refusal itself (so an upstream Spark change that closes or
  * reshapes the window is noticed), the recovery (sweep temps → clean
  * start), and recovery's conservatism (committed metadata-log entries
  * are never touched, so a mid-life restart resumes, not restarts).
  */
class CheckpointRecoverySpec extends SparkSpec {

  private val orphanTemp = ".0.7e19a18e-87e9-40d8-bf68-9c4c57db7f8d.tmp"

  private def freshDirs(): (String, String, String) = {
    val src = tempDir("graft_ckrec_src").toString + "/store"
    val tgt = tempDir("graft_ckrec_tgt").toString + "/store"
    val ckpt = tempDir("graft_ckrec_ckpt").toString + "/ckpt"
    (src, tgt, ckpt)
  }

  private def seedSource(src: String): Unit = {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .write.format("docstore").mode("append").save(src)
  }

  private def runOnce(src: String, tgt: String, ckpt: String): Unit = {
    StreamRun(spark.readStream.format("docstore")
      .schema("doc_id BIGINT, text STRING").load(src)
      .writeStream.format("docstore")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start(tgt))
  }

  private def plantOrphan(ckpt: String): Unit = {
    Files.createDirectories(Paths.get(ckpt, "offsets"))
    Files.write(Paths.get(ckpt, "offsets", orphanTemp),
      "v1\ntorn".getBytes("UTF-8"))
  }

  test("a lone offsets rename-temp makes Spark refuse to start batch 0 (the pinned upstream window)") {
    val (src, tgt, ckpt) = freshDirs()
    seedSource(src)
    plantOrphan(ckpt)
    val e = intercept[StreamingQueryException] { runOnce(src, tgt, ckpt) }
    def chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(c => String.valueOf(c.getMessage).contains("STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY")
        || c.getClass.getName.contains("CheckpointLocationNotEmpty")),
      s"expected the new-checkpoint emptiness refusal; Spark changed the window — re-adjudicate: $e")
  }

  test("dropOrphanRenameTemps sweeps exactly the temp and the query then starts clean") {
    val (src, tgt, ckpt) = freshDirs()
    seedSource(src)
    plantOrphan(ckpt)
    val removed = CheckpointRecovery.dropOrphanRenameTemps(spark, ckpt)
    assert(removed == Seq(s"offsets/$orphanTemp"), s"swept: $removed")
    runOnce(src, tgt, ckpt)
    val got = spark.read.format("docstore").load(tgt)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L))
  }

  test("recovery never touches committed metadata-log entries: a mid-life restart RESUMES") {
    import spark.implicits._
    val (src, tgt, ckpt) = freshDirs()
    seedSource(src)
    runOnce(src, tgt, ckpt) // commits batch 0 (offsets/0, commits/0)
    // crash scrap for a LATER batch beside the committed entries
    Files.write(Paths.get(ckpt, "offsets", ".1.0e19a18e-87e9-40d8-bf68-9c4c57db7f00.tmp"),
      "torn".getBytes("UTF-8"))
    val removed = CheckpointRecovery.dropOrphanRenameTemps(spark, ckpt)
    assert(removed.forall(_.endsWith(".tmp")) && removed.size == 1, s"swept: $removed")
    assert(Files.exists(Paths.get(ckpt, "offsets", "0")), "committed offsets/0 must survive recovery")
    Seq((3L, "c")).toDF("doc_id", "text")
      .write.format("docstore").mode("append").save(src)
    runOnce(src, tgt, ckpt)
    val got = spark.read.format("docstore").load(tgt)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L, 3L),
      "restart after recovery must resume from the committed offset, not reprocess")
  }

  test("the temp-name matcher accepts CheckpointFileManager shapes and nothing else") {
    assert(CheckpointRecovery.isRenameTemp(orphanTemp))
    assert(CheckpointRecovery.isRenameTemp(s".$orphanTemp.crc")) // raw-fs sidecar listing
    assert(!CheckpointRecovery.isRenameTemp("0"))
    assert(!CheckpointRecovery.isRenameTemp("23"))
    assert(!CheckpointRecovery.isRenameTemp("metadata"))
    assert(!CheckpointRecovery.isRenameTemp(".0.tmp"))            // no uuid
    assert(!CheckpointRecovery.isRenameTemp(".0.not-a-uuid.tmp"))
  }
}

package graft

import java.nio.file.{Files, Paths}

import graft.streaming.StreamRun

/** Cross-PROCESS crash fuzz for the docstore STREAMING commit path (r16
  * verdict task 5 — the LeaseFuzzSpec technique pointed at the epoch
  * machinery that had only ever been tested in-process). Each seed:
  *
  *   1. a forked peer JVM ([[StreamCrashFuzzPeer]]) runs a REAL
  *      checkpointed query — docstore change-stream source → docstore
  *      streaming sink — appending and processing source batches, and
  *      kills itself with halt() (kill -9 file-state semantics) at a
  *      seeded deadline masked to fire only inside stream processing:
  *      between a task's shard write, the epoch commit's replay cleanup /
  *      stats / manifest / schema writes, and the checkpoint offset
  *      commit — exactly the windows DocStoreStreamingWrite's
  *      idempotency claims cover;
  *   2. a second peer with the same checkpoint restarts and finishes;
  *   3. THIS JVM then asserts effective exactly-once end-to-end: the
  *      target holds every source doc exactly once (a lost epoch shows
  *      as missing ids, a doubled replay as duplicates), a FRESH
  *      change-stream read of the target sees the same set (offset/
  *      listing consistency), and every stats entry references a live
  *      shard.
  *
  * Seeded and reproducible via GRAFT_STREAM_CRASH_SEED_BASE /
  * GRAFT_STREAM_CRASH_SEEDS; kills are required to actually land in ≥1
  * seed per run (exit 137), or the deadline range has drifted and the
  * fuzz is vacuous.
  *
  * CLOSED (r17) — the r16 "one unexplained restart red" is diagnosed,
  * pinned, and fixed. The bulk hunt (tools/stream_crash_hunt.sh) re-hit
  * it at seed 20260912 (inside the original red batch's base 20260904)
  * with the r16 self-diagnosis capturing everything: the halt landed
  * INSIDE Spark's very first offsets write, leaving the checkpoint's
  * offsets/ dir holding only HDFSMetadataLog's rename-temp
  * (`.0.<uuid>.tmp` + crc; target and commit log absent — nothing was
  * committed). On restart, offsetLog.getLatest() correctly ignores the
  * temp and treats the query as NEW, but Spark 4.x's
  * verifyNewCheckpointDirectory raw-lists offsets/state/commits and
  * throws STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY over Spark's own
  * crash scrap — a fail-stop startup refusal, never data loss.
  * Fix: graft.streaming.CheckpointRecovery.dropOrphanRenameTemps, run
  * by the peer (and streamingIngest) before start — the documented
  * hard-kill restart recipe. CheckpointRecoverySpec pins the window
  * deterministically (planted temp → refusal without recovery, clean
  * start with it); this fuzz keeps proving the end-to-end path.
  */
class StreamCrashFuzzSpec extends SparkSpec {

  private val seedBase: Long = sys.env.get("GRAFT_STREAM_CRASH_SEED_BASE")
    .map(_.toLong).getOrElse(20260816L)
  private val nSeeds: Int = sys.env.get("GRAFT_STREAM_CRASH_SEEDS")
    .map(_.toInt).getOrElse(3)
  private val nBatches = 8
  private val batchSize = 40

  // same derivation as LeaseFuzzSpec: the peer builds a SparkSession
  // outside spark-submit and needs this JVM's --add-opens verbatim
  private val addOpens: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val in = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    in.zipWithIndex.flatMap {
      case (a, i) if a == "--add-opens" => Seq(a) ++ in.lift(i + 1)
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
  }

  private def runPeer(srcDir: String, tgtDir: String, ckptDir: String,
                      seed: Long, halt: Boolean,
                      mode: String = "sink"): (Int, String) = {
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.StreamCrashFuzzPeer", srcDir, tgtDir, ckptDir,
      seed.toString, if (halt) "1" else "0", nBatches.toString, batchSize.toString,
      mode)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    // Drain on a separate thread so waitFor's timeout bounds the PROCESS
    // lifetime (r16 review: draining to EOF on the calling thread first
    // meant a wedged peer — alive, pipe open, silent — blocked the suite
    // forever and the hung branch was unreachable).
    val out = new java.lang.StringBuilder
    val pump = new Thread(() => {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
      var line = try br.readLine() catch { case _: java.io.IOException => null }
      while (line != null) {
        out.synchronized { out.append(line).append('\n'); () }
        line = try br.readLine() catch { case _: java.io.IOException => null }
      }
    }, "stream-crash-fuzz-peer-pump")
    pump.setDaemon(true)
    pump.start()
    val finished = p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) {
      p.destroyForcibly()
      p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)
      fail(s"peer hung (halt=$halt):\n${out.synchronized(out.toString)}")
    }
    pump.join(10000) // let the pipe drain to EOF before reading the buffer
    (p.exitValue(), out.synchronized(out.toString))
  }

  test("kill -9 inside the epoch lifecycle: restart converges to exactly-once, offsets and stats consistent") {
    var landedKills = 0
    (0 until nSeeds).foreach { k =>
      val seed = seedBase + k
      val srcDir = tempDir(s"graft_scf_src_$k").toString
      val tgtDir = tempDir(s"graft_scf_tgt_$k").toString + "/store"
      val ckptDir = tempDir(s"graft_scf_ckpt_$k").toString + "/ckpt"
      // wipe srcDir so the peer's first append creates the collection
      new java.io.File(srcDir).delete()

      val (rc1, out1) = runPeer(srcDir, tgtDir, ckptDir, seed, halt = true)
      if (rc1 == 137) landedKills += 1
      else assert(rc1 == 0 && out1.contains("DONE"),
        s"seed $seed: halt run neither killed nor finished (rc=$rc1):\n${out1.takeRight(2000)}")

      val (rc2, out2) = runPeer(srcDir, tgtDir, ckptDir, seed, halt = false)
      if (!(rc2 == 0 && out2.contains("DONE"))) {
        // forensic snapshot before failing: the restart-crash window is
        // statistically rare, so one hit must carry its own diagnosis
        def ls(p: String): String =
          Option(new java.io.File(p).list()).map(_.sorted.mkString(", ")).getOrElse("<absent>")
        fail(s"seed $seed: restart run failed (rc=$rc2)\n" +
          s"peer says:\n${out2.linesIterator.filter(l => l.startsWith("PEER-ERROR") || l.startsWith("SRC") || l.startsWith("DONE")).mkString("\n")}\n" +
          s"target: ${ls(tgtDir)}\n" +
          s"target commits: ${ls(s"$tgtDir/_commits")}\n" +
          s"checkpoint offsets: ${ls(s"$ckptDir/offsets")} commits: ${ls(s"$ckptDir/commits")}\n" +
          s"tail:\n${out2.takeRight(1500)}")
      }

      val expected = (0L until (nBatches.toLong * batchSize)).toSet
      val got = spark.read.format("docstore").load(tgtDir)
        .select("doc_id").collect().map(_.getLong(0))
      assert(got.length == expected.size && got.toSet == expected,
        s"seed $seed: target not exactly-once — ${got.length} rows, " +
          s"${expected.size} expected; missing=${(expected diff got.toSet).take(5)} " +
          s"dups=${got.groupBy(identity).filter(_._2.length > 1).keys.take(5)}")

      // offset/listing consistency: a fresh change-stream over the target
      // must surface the same exactly-once set from its live listing
      val reread = StreamRun.memory(spark.readStream.format("docstore")
        .schema("doc_id BIGINT, text STRING").load(tgtDir), "append").sink.select("doc_id")
        .collect().map(_.getLong(0))
      assert(reread.length == expected.size && reread.toSet == expected,
        s"seed $seed: change-stream reread diverged (${reread.length} rows)")

      // metadata integrity: every stats entry references a live shard
      // (file-level check — the DocStore accessors are private[docstore])
      val live = new java.io.File(tgtDir).listFiles().map(_.getName)
        .filter(_.startsWith("part-")).toSet
      val statsJson = new String(
        Files.readAllBytes(Paths.get(tgtDir, "_stats.json")), "UTF-8")
      val statKeys = """part-[^"]+""".r.findAllIn(statsJson).toSet
      assert(statKeys.subsetOf(live),
        s"seed $seed: stats reference dead shards: ${(statKeys diff live).take(5)}")
    }
    assert(landedKills >= 1,
      s"no seed landed a kill in $nSeeds runs — deadline range is vacuous, tighten it")
  }

  test("kill -9 inside the INDEXED ingest lifecycle: restart converges, index aligned with store") {
    // r17: the same cross-JVM treatment pointed at the shingle index's
    // commit machinery — halts land inside classify → upsert → segment
    // append (marker claim) → auto-compact (every 3 triggers) → offset
    // commit, plus the index bootstrap on the very first start. After a
    // clean restart the store must hold every source doc exactly once
    // (the peer's corpus is gate-passing, pairwise-below-threshold, so
    // the deterministic admitted set is ALL ids) and the index's stats
    // ids must equal the store ids — the alignment invariant a torn
    // append/compact would break.
    var landedKills = 0
    (0 until nSeeds).foreach { k =>
      val seed = seedBase + 7000 + k // disjoint deadline stream from the sink test
      val srcDir = tempDir(s"graft_scfi_src_$k").toString
      val tgtDir = tempDir(s"graft_scfi_tgt_$k").toString + "/store"
      val ckptDir = tempDir(s"graft_scfi_ckpt_$k").toString + "/ckpt"
      new java.io.File(srcDir).delete()

      val (rc1, out1) = runPeer(srcDir, tgtDir, ckptDir, seed, halt = true, mode = "ingest")
      if (rc1 == 137) landedKills += 1
      else assert(rc1 == 0 && out1.contains("DONE"),
        s"seed $seed: halt run neither killed nor finished (rc=$rc1):\n${out1.takeRight(2000)}")

      val (rc2, out2) = runPeer(srcDir, tgtDir, ckptDir, seed, halt = false, mode = "ingest")
      if (!(rc2 == 0 && out2.contains("DONE"))) {
        def ls(p: String): String =
          Option(new java.io.File(p).list()).map(_.sorted.mkString(", ")).getOrElse("<absent>")
        fail(s"seed $seed: indexed-ingest restart failed (rc=$rc2)\n" +
          s"peer says:\n${out2.linesIterator.filter(l => l.startsWith("PEER-ERROR") || l.startsWith("SRC") || l.startsWith("DONE")).mkString("\n")}\n" +
          s"target: ${ls(tgtDir)}\n" +
          s"index: ${ls(s"${tgtDir}_idx")}\n" +
          s"checkpoint offsets: ${ls(s"$ckptDir/offsets")} commits: ${ls(s"$ckptDir/commits")}\n" +
          s"tail:\n${out2.takeRight(1500)}")
      }

      val expected = (0L until (nBatches.toLong * batchSize)).toSet
      val got = spark.read.format("docstore").load(tgtDir)
        .select("doc_id").collect().map(_.getLong(0))
      assert(got.length == expected.size && got.toSet == expected,
        s"seed $seed: ingest target not exactly-once — ${got.length} rows, " +
          s"${expected.size} expected; missing=${(expected diff got.toSet).take(5)} " +
          s"dups=${got.groupBy(identity).filter(_._2.length > 1).keys.take(5)}")

      val idxIds = graft.functions.ShingleIndex.read(spark, s"${tgtDir}_idx")
        .stats.select("base_id").collect().map(_.getLong(0))
      assert(idxIds.length == expected.size && idxIds.toSet == expected,
        s"seed $seed: index misaligned — ${idxIds.length} stats rows; " +
          s"missing=${(expected diff idxIds.toSet).take(5)} " +
          s"dups=${idxIds.groupBy(identity).filter(_._2.length > 1).keys.take(5)}")
      // compaction really ran under fire and kept the union bounded
      assert(graft.functions.ShingleIndex.liveSegmentCount(s"${tgtDir}_idx") <= nBatches,
        s"seed $seed: segment count unbounded")
    }
    assert(landedKills >= 1,
      s"no seed landed a kill in $nSeeds ingest runs — deadline range is vacuous")
  }
}

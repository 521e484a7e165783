package graft

import java.util.concurrent.atomic.AtomicBoolean

/** Forked-JVM worker for [[StreamCrashFuzzSpec]]: drives a REAL
  * checkpointed streaming query — docstore change-stream source →
  * docstore streaming sink — appending source batches and processing
  * them one epoch at a time, and (when armed) kills ITSELF with
  * `Runtime.halt` (no shutdown hooks, no cleanup — kill -9 semantics for
  * file state) at a seeded deadline that is only allowed to fire while
  * the STREAM is processing. The arm/disarm discipline is the point:
  * source batch appends complete atomically from the fuzz's point of
  * view (a halt inside one would test the BATCH path's crash windows —
  * LeaseFuzzSpec's beat — and leave a torn source the restart could
  * double-append), so every halt lands inside the sink's epoch
  * lifecycle: shard write → epoch commit (replay cleanup + stats +
  * manifest + schema merge) → checkpoint offset commit.
  *
  * args: srcDir tgtDir ckptDir seed halt(0|1) nBatches batchSize
  * Prints "SRC i" after each completed source append and "DONE" on a
  * clean finish. A restarted run derives its resume point from the
  * source's own committed doc count (appends are all-or-nothing at the
  * print, per the arming rule).
  */
object StreamCrashFuzzPeer {
  def main(args: Array[String]): Unit =
    // any crash must NAME itself on stdout: the spec relays the tail of a
    // failed restart's output, and an un-printed exception class turns a
    // statistically-rare window (one red in the first 70 seeds) into an
    // undiagnosable flake
    try run(args)
    catch {
      case e: Throwable =>
        println(s"PEER-ERROR: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
        e.getStackTrace.take(12).foreach(f => println(s"PEER-ERROR-AT: $f"))
        var c = e.getCause
        while (c != null) {
          println(s"PEER-ERROR-CAUSE: ${c.getClass.getName}: ${String.valueOf(c.getMessage).take(300)}")
          c = c.getCause
        }
        System.out.flush()
        sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val Array(srcDir, tgtDir, ckptDir, seedS, haltS, nBatchesS, batchS) = args.take(7)
    // optional 8th arg: "sink" (default — the docstore streaming sink) or
    // "ingest" (the full streamingIngest pipe with the persistent shingle
    // index: classify → upsert → segment append → auto-compact, so halts
    // land inside the INDEX commit machinery too)
    val mode = args.lift(7).getOrElse("sink")
    val seed = seedS.toLong
    val halt = haltS == "1"
    val nBatches = nBatchesS.toInt
    val b = batchS.toInt
    val spark = GraftSession.builder("4").appName("graft-stream-crash-fuzz-peer").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // ingest-mode docs must SURVIVE cleanGates deterministically (the
    // StreamingIngestSpec shape: half stopwords) and be pairwise below
    // the near-dup threshold, so the expected admitted set is ALL ids.
    // The shared 24-token preamble is deliberate: its shingles' df
    // crosses the maxDf=100 cap mid-stream, so the index's evolving
    // hot-set machinery is under the kills too (it never flips an
    // admission — shared-shingle jaccard tops out ~0.14 either way).
    def ingestText(id: Long): String =
      (0 until 12).map(j => s"the c$j").mkString(" ") + " " +
        (0 until 40).map(j => s"the d${id}x$j").mkString(" ")
    def appendBatch(i: Int): Unit = {
      ((i.toLong * b) until ((i.toLong + 1) * b))
        .map(id => (id, if (mode == "ingest") ingestText(id) else s"doc-$id"))
        .toDF("doc_id", "text")
        .coalesce(1).write.format("docstore").mode("append").save(srcDir)
      println(s"SRC $i"); System.out.flush()
    }

    // resume point from the source's committed count: appends only ever
    // complete whole (halts are masked during them), so count is k*b
    val existing =
      try spark.read.format("docstore").load(srcDir).count()
      catch { case _: Throwable => 0L }
    var next = (existing / b).toInt
    if (next == 0) { appendBatch(0); next = 1 } // source must exist pre-stream

    val armed = new AtomicBoolean(false)
    if (halt) {
      val rng = new scala.util.Random(seed)
      // the seeded delay is anchored at the FIRST arming, not process
      // start: startup (session init + the unarmed first source append)
      // costs many times the delay range, so a startup-anchored deadline
      // nearly always expired before arming and every kill collapsed
      // onto the first armed instant — the seed spread now actually
      // lands across the armed region (bootstrap, epochs, compactions)
      val delayNs = (50L + rng.nextInt(3000)) * 1000000L
      val armedAtNs = new java.util.concurrent.atomic.AtomicLong(0L)
      val killer = new Thread(() => {
        while (true) {
          Thread.sleep(2)
          if (armed.get()) {
            armedAtNs.compareAndSet(0L, System.nanoTime())
            if (System.nanoTime() > armedAtNs.get() + delayNs)
              Runtime.getRuntime.halt(137)
          }
        }
      }, "halt-at-deadline")
      killer.setDaemon(true)
      killer.start()
    }

    // the documented hard-kill restart recipe: sweep Spark's own orphaned
    // rename-temps from the checkpoint's metadata logs before starting —
    // a halt inside the FIRST offsets write otherwise trips Spark 4.x's
    // new-checkpoint emptiness check on restart (the r16 "unexplained
    // red", seed 20260912: STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY
    // over a lone .0.<uuid>.tmp — see CheckpointRecovery's scaladoc)
    graft.streaming.CheckpointRecovery.dropOrphanRenameTemps(spark, ckptDir)
      .foreach(n => println(s"RECOVERED $n"))

    // ingest mode reads the target store on every trigger (and bootstraps
    // the index from it) — the collection must exist before the stream
    if (mode == "ingest" && !new java.io.File(tgtDir).exists())
      Seq.empty[(Long, String)].toDF("doc_id", "text")
        .write.format("docstore").mode("overwrite").save(tgtDir)

    val stream = spark.readStream.format("docstore")
      .schema("doc_id BIGINT, text STRING").load(srcDir)
    // query construction is armed too: in ingest mode it contains the
    // index BOOTSTRAP and checkpoint recovery — crash windows of their
    // own, and no source append is in flight there
    armed.set(true)
    val q =
      try {
        if (mode == "ingest")
          // the full pipe, index-served, with an aggressive compaction
          // cadence so segment folds sit inside the kill window as often
          // as appends do. The target store must pre-exist for the
          // first-trigger store read + index bootstrap.
          graft.streaming.StreamingAnalytics.streamingIngest(
            stream, tgtDir, n = 5, threshold = 0.5, maxDf = 100,
            checkpointDir = Some(ckptDir), indexDir = Some(s"${tgtDir}_idx"),
            indexCompactEvery = 3)
        else stream.writeStream.format("docstore")
          .option("checkpointLocation", ckptDir)
          .outputMode("append")
          .start(tgtDir)
      } finally armed.set(false)
    def process(): Unit = {
      armed.set(true)
      try q.processAllAvailable() finally armed.set(false)
    }

    process() // drain anything pending (the restart case replays here)
    while (next < nBatches) {
      appendBatch(next)
      process()
      next += 1
    }
    q.stop()
    println("DONE"); System.out.flush()
    spark.stop()
    sys.exit(0)
  }
}

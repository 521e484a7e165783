package graft
import org.apache.spark.sql.functions._

import graft.streaming.StreamRun

/** Streaming-ingest scale probe (r12, not part of the driver contract):
  * runs the END-TO-END [[graft.streaming.StreamingAnalytics.streamingIngest]]
  * pipe — change-stream → clean gates → incremental dedup → docstore
  * upsert — over the x10 documents corpus in real micro-batches, and
  * proves two production claims the unit fixture cannot:
  *
  *   1. PER-TRIGGER BOUNDED STATE: the pipe keeps NO Spark state-store
  *      state (stateless foreachBatch; the docstore collection IS the
  *      state, bounded by the deduped corpus). Measured: checkpoint dir
  *      bytes (offsets/commits only — KBs however long the stream runs)
  *      vs store bytes (corpus-bounded), plus per-trigger durations
  *      (flat across triggers = per-trigger work bounded by batch ×
  *      store-index size, not stream history).
  *   2. STREAM/BATCH PARITY AT SCALE: a driver loop applying
  *      [[graft.streaming.StreamingAnalytics.ingestBatch]] (the ONE
  *      shared per-batch definition) to the same chunk sequence must
  *      produce an identical store — pinning that the streaming plumbing
  *      (file source ordering, checkpointing, foreachBatch) adds or
  *      loses nothing at 500k docs.
  *
  * Chunking: pmod(doc_id, nBatches). The x10 corpus shifts replica keys
  * by 50k (a multiple of nBatches=10), so all 10 copies of a document
  * land in ONE batch — a recrawl-shaped stream where within-batch exact
  * self-dedup does the first 90% of the work and the store-sized
  * incremental classification the rest.
  *
  *   sbt "runMain graft.StreamScale [x10_dir] [nBatches]"
  */
object StreamScale {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/tmp/graft_sfx10")
    val nBatches = if (args.length > 1) args(1).toInt else 10
    val spark = GraftSession.open()

    val work = java.nio.file.Files.createTempDirectory("graft_stream_scale")
    val streamIn = work.resolve("in"); java.nio.file.Files.createDirectories(streamIn)
    val docs = spark.read.parquet(s"$srcDir/documents.parquet").select("doc_id", "text")

    // one parquet file per chunk, modification times staggered so the
    // file source's default oldest-first ordering replays the exact
    // chunk sequence the twin loop uses. Chunks are STAGED and fed to
    // the source dir in two halves around a stop/restart (below).
    val staged = (0 until nBatches).map { b =>
      val chunkDir = work.resolve(s"chunk$b")
      docs.filter(pmod(col("doc_id"), lit(nBatches)) === b)
        .coalesce(1).write.parquet(chunkDir.toString)
      val part = java.nio.file.Files.list(chunkDir).iterator()
      val f = Iterator.continually(part).takeWhile(_.hasNext).map(_.next())
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = work.resolve(f"chunk-$b%03d.parquet")
      java.nio.file.Files.move(f, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + b * 60000L))
      dst
    }
    def feed(from: Int, until: Int): Unit =
      (from until math.min(until, nBatches)).foreach { b =>
        java.nio.file.Files.move(staged(b), streamIn.resolve(staged(b).getFileName))
      }

    def seedStore(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_stream_store").toString
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          docs.schema)
        .write.format("docstore").mode("overwrite").save(dir)
      dir
    }

    // ---- streaming run, with a MID-STREAM CHECKPOINT RESTART ----
    // The exactly-once restart proof (StreamingIngestSpec) runs on a
    // small fixture; here the stream is stopped cold after the first
    // half of the corpus and a NEW query resumes from the checkpoint —
    // the recovery path at 50k-doc scale. Parity with the
    // restart-free batch twin below then proves the restart admitted
    // and lost nothing.
    val storeA = seedStore()
    val ckpt = work.resolve("ckpt").toString
    def startIngest() = graft.streaming.StreamingAnalytics.streamingIngest(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(streamIn.toString),
      storeA, checkpointDir = Some(ckpt))
    // Each half runs under its own Meter for its codegen compile count:
    // generated-class compiles are the per-run cost a trigger pays and a
    // warm batch twin may not, and nothing else runs in this JVM meanwhile.
    val streamMeter = new Meter(spark)
    val t0 = System.nanoTime()
    val progress = streamMeter {
      feed(0, nBatches / 2)
      val progress1 = StreamRun(startIngest())
      feed(nBatches / 2, nBatches)
      (progress1 ++ StreamRun(startIngest())).filter(_.numInputRows > 0)
    }
    val streamSec = (System.nanoTime() - t0) / 1e9
    streamMeter.close()

    // AQE as a foreachBatch body sees it: the batch frame's session is the
    // one the stream runs on, which is what ingestBatch plans with inside
    // a trigger (the batch twin below plans with `spark`). A probe query
    // over the same source reads it; its body runs no job.
    val batchAqe = new java.util.concurrent.atomic.AtomicReference("unread")
    StreamRun(spark.readStream.schema(docs.schema).parquet(streamIn.toString)
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batchAqe.set(batch.sparkSession.conf.get("spark.sql.adaptive.enabled"))
      }.start())

    // ---- batch twin: same chunks, same order, the shared ingestBatch ----
    val storeB = seedStore()
    val twinMeter = new Meter(spark)
    val twinSecs = twinMeter {
      (0 until nBatches).map { b =>
        val tb = System.nanoTime()
        graft.streaming.StreamingAnalytics.ingestBatch(
          spark.read.parquet(streamIn.resolve(f"chunk-$b%03d.parquet").toString),
          storeB, n = 5, threshold = 0.5, maxDf = 100)
        (System.nanoTime() - tb) / 1e9
      }
    }
    twinMeter.close()

    // ---- parity ----
    def storeDocs(p: String) = spark.read.format("docstore").load(p)
      .select(col("doc_id"), xxhash64(col("text")).as("th"))
    val a = storeDocs(storeA); val b = storeDocs(storeB)
    val onlyA = a.except(b).count(); val onlyB = b.except(a).count()
    val nA = a.count()

    def dirBytes(p: String): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try {
        val it = s.iterator()
        var sum = 0L
        while (it.hasNext) { val f = it.next(); if (java.nio.file.Files.isRegularFile(f)) sum += java.nio.file.Files.size(f) }
        sum
      } finally s.close()
    }

    val triggerSecs = progress.map(p =>
      Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L) / 1000.0)
    def fmt(xs: Seq[Double]) = xs.map(x => f"$x%.1f").mkString("[", ", ", "]")
    println(f"STREAMSCALE docs=${docs.count()} batches=$nBatches " +
      f"restartAfter=${nBatches / 2} " +
      f"stream=${streamSec}%.1f s (triggers ${fmt(triggerSecs)}, ${streamMeter.codegenCompiles} compiles) " +
      f"twin=${twinSecs.sum}%.1f s (batches ${fmt(twinSecs)}, ${twinMeter.codegenCompiles} compiles) " +
      f"aqeInBatch=${batchAqe.get} " +
      f"admitted=$nA parity=${if (onlyA == 0 && onlyB == 0) "OK" else s"DIVERGED($onlyA/$onlyB)"} " +
      f"storeBytes=${dirBytes(storeA)} checkpointBytes=${dirBytes(ckpt)}")
    spark.stop()
    if (onlyA != 0 || onlyB != 0) sys.exit(1)
  }
}

package graft
import org.apache.spark.sql.functions._

/** Shingle-index scale probe (r17, not part of the driver contract):
  * drives the SAME chunk sequence through the per-batch ingest body twice
  * — classification by per-trigger re-derive
  * ([[graft.streaming.StreamingAnalytics.ingestBatch]]) vs served by the
  * persistent [[graft.functions.ShingleIndex]]
  * (the same body given an index dir and segment id) — and
  * measures per-trigger wall time as the store grows.
  *
  * The claim under test is the 100 TB shape: re-derive re-reads and
  * re-tokenizes the ACCUMULATED store's text every trigger, so its
  * per-trigger cost climbs with the store; the indexed path touches only
  * precomputed slim tables (df partials + postings scans), so its
  * per-trigger cost tracks the BATCH, not the history. The probe prints
  * both series plus a growth summary (mean of the last quarter vs the
  * first quarter of triggers, warmup excluded) and requires the two
  * final stores byte-identical — the speed claim is only worth stating
  * on a semantically interchangeable path.
  *
  * Compaction realism: every `compactEvery` batches the probe runs
  * [[graft.functions.ShingleIndex.compact]], as a deployment would, so
  * the segment-union width the df merge pays stays bounded.
  *
  *   sbt "runMain graft.IndexScaleProbe [docs_dir] [nBatches] [compactEvery]"
  */
object IndexScaleProbe {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = if (args.length > 1) args(1).toInt else 16
    val compactEvery = if (args.length > 2) args(2).toInt else 8
    val spark = GraftSession.open()

    val docs = Tables.documents(spark, srcDir).select("doc_id", "text")
    val chunks = (0 until nBatches).map(b =>
      docs.filter(pmod(col("doc_id"), lit(nBatches)) === b))

    val work = java.nio.file.Files.createTempDirectory("graft_idx_probe")
    val storeA = work.resolve("store_rederive").toString
    val storeB = work.resolve("store_indexed").toString
    val idxDir = work.resolve("index").toString
    // seed both stores with an empty collection of the right schema
    docs.limit(0).write.format("docstore").mode("overwrite").save(storeA)
    docs.limit(0).write.format("docstore").mode("overwrite").save(storeB)
    graft.functions.ShingleIndex.bootstrap(
      spark.read.format("docstore").load(storeB).select("doc_id", "text"),
      "doc_id", "text", 5, idxDir)

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // warmup trigger outside the measured series (JIT/codegen)
    println(f"[idx-probe] corpus=$srcDir batches=$nBatches compactEvery=$compactEvery")
    val series = (0 until nBatches).map { b =>
      val tA = timed(graft.streaming.StreamingAnalytics
        .ingestBatch(chunks(b), storeA, n = 5, threshold = 0.5, maxDf = 100))
      val tB = timed(graft.streaming.StreamingAnalytics
        .ingestBatch(chunks(b), storeB, n = 5, threshold = 0.5, maxDf = 100,
          index = Some(idxDir -> f"b$b%09d")))
      if ((b + 1) % compactEvery == 0)
        graft.functions.ShingleIndex.compact(spark, idxDir)
      println(f"[idx-probe] batch $b%2d  rederive=$tA%6.2fs  indexed=$tB%6.2fs")
      (tA, tB)
    }

    // growth: last quarter vs first quarter, skipping the warmup batch
    val meas = series.drop(1)
    val q = math.max(1, meas.size / 4)
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val (a0, aN) = (mean(meas.take(q).map(_._1)), mean(meas.takeRight(q).map(_._1)))
    val (b0, bN) = (mean(meas.take(q).map(_._2)), mean(meas.takeRight(q).map(_._2)))
    println(f"[idx-probe] re-derive per-trigger: first-q mean $a0%5.2fs -> last-q mean $aN%5.2fs (x${aN / a0}%4.2f)")
    println(f"[idx-probe] indexed   per-trigger: first-q mean $b0%5.2fs -> last-q mean $bN%5.2fs (x${bN / b0}%4.2f)")
    println(f"[idx-probe] steady-state indexed/rederive ratio (last q): ${bN / aN}%4.2f")

    val sA = spark.read.format("docstore").load(storeA).select("doc_id", "text")
    val sB = spark.read.format("docstore").load(storeB).select("doc_id", "text")
    val diff = sA.exceptAll(sB).count() + sB.exceptAll(sA).count()
    val idsB = spark.read.format("docstore").load(storeB).select(col("doc_id").as("base_id"))
    val idxStats = graft.functions.ShingleIndex.read(spark, idxDir).stats.select("base_id")
    val misaligned = idsB.exceptAll(idxStats).count() + idxStats.exceptAll(idsB).count()
    if (diff != 0) { println(s"[idx-probe] STORE PARITY FAILED: $diff differing rows"); sys.exit(1) }
    if (misaligned != 0) { println(s"[idx-probe] INDEX ALIGNMENT FAILED: $misaligned rows"); sys.exit(1) }
    println("[idx-probe] STORE PARITY OK; INDEX ALIGNED; PROBE OK")
    spark.stop()
  }
}

package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The one driver for a streaming twin run: feed a query step by step,
  * wait for each step to be fully processed, stop the query however the
  * feed ends, and hand back what it produced plus the per-trigger
  * progress events (the query's monitoring interface, Structured
  * Streaming §7).
  *
  * A run is `processAllAvailable` once after start (so input added before
  * the query started lands in its first trigger), then `step();
  * processAllAvailable()` per feed step, in order — each step's input is
  * one or more micro-batches, never merged with the next step's. The
  * progress list is the query's `recentProgress`, capped by
  * `spark.sql.streaming.numRecentProgressUpdates` (default 100 triggers);
  * it includes idle and no-data triggers (`numInputRows == 0`).
  */
object StreamRun {

  /** The memory sink's rows, read after the query stopped (the sink stays
    * registered for the session, like any named memory sink), and every
    * retained trigger's progress. */
  final case class Result(sink: DataFrame, progress: Seq[StreamingQueryProgress])

  private val sinkIds = new AtomicLong()

  /** One feed step per chunk: append the chunk to `mem`. */
  def chunks[T](mem: MemoryStream[T], cs: Seq[Seq[T]]): Seq[() => Unit] =
    cs.map(c => () => { mem.addData(c); () })

  /** Drive an already started query (a foreachBatch twin, a docstore
    * sink) through `steps`; stops it in `finally`. */
  def apply(q: StreamingQuery, steps: Seq[() => Unit] = Nil): Seq[StreamingQueryProgress] =
    try {
      q.processAllAvailable()
      steps.foreach { step => step(); q.processAllAvailable() }
      q.recentProgress.toSeq
    } finally q.stop()

  /** Start `sdf` into a memory sink under a generated unique name and
    * return the query with that name (`spark.table(name)` reads the sink),
    * for a caller that inspects the sink between steps. Drive the query
    * with [[apply]]. */
  def startMemory[T](sdf: Dataset[T], outputMode: String): (StreamingQuery, String) = {
    val name = s"streamrun_${sinkIds.incrementAndGet()}"
    (sdf.writeStream.format("memory").queryName(name).outputMode(outputMode).start(), name)
  }

  /** Start `sdf` into a memory sink and drive it through `steps`. */
  def memory(sdf: Dataset[_], outputMode: String, steps: Seq[() => Unit] = Nil): Result = {
    val (q, name) = startMemory(sdf, outputMode)
    val progress = apply(q, steps)
    Result(sdf.sparkSession.table(name), progress)
  }
}

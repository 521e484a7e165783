package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftListenerBus, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The one runtime-stats collector the probes read (Probe's per-query
  * shuffle/spill line and final plan, the skew probes' per-task spread).
  *
  * Scope: only jobs started inside [[apply]] are counted. `apply` tags
  * them with a Spark job tag unique to this meter; a job tag rather than
  * a job group because a streaming query replaces the job group of its
  * micro-batch jobs with its run id but inherits the starting thread's
  * tags. Any other activity in the session (a background bench, a
  * stray cached materialization) leaks no bytes into the readings.
  *
  * Exactness: the listener bus is asynchronous, so `apply` drains it
  * before returning; every task-end and SQL-execution-end event of the
  * measured jobs has then been delivered, and the readings are final.
  *
  * [[codegenCompiles]] is the one reading not scoped by the job tag:
  * Spark counts compiles JVM-wide, so it is exact only when nothing else
  * runs in the JVM during the metered block.
  */
final class Meter(spark: SparkSession) {
  import Meter._

  private val sc = spark.sparkContext
  private val tag = s"graft-meter-${java.util.UUID.randomUUID()}"
  private val jobIds = ConcurrentHashMap.newKeySet[Int]()
  private val stages = ConcurrentHashMap.newKeySet[Int]()
  private val executions = ConcurrentHashMap.newKeySet[Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskRow]()
  @volatile private var lastPlan = ""
  private val compiles = new AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (js.properties != null &&
          Option(js.properties.getProperty("spark.job.tags")).exists(_.split(",").contains(tag))) {
        jobIds.add(js.jobId)
        js.stageIds.foreach(stages.add(_))
        Option(js.properties.getProperty("spark.sql.execution.id")).foreach(id => executions.add(id.toLong))
      }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null && stages.contains(te.stageId)) tasks.add(TaskRow(te.stageId,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled, m.diskBytesSpilled,
        if (te.taskInfo == null) 0L else te.taskInfo.duration))
    }
    // A noop write runs its OWN execution (the measured DataFrame's never
    // executes), and an enclosing execution ends after the ones it runs,
    // so the last one to end is the measured query's.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd if executions.contains(end.executionId) =>
        GraftListenerBus.executedPlan(end).foreach(lastPlan = _)
      case _ =>
    }
  }
  sc.addSparkListener(listener)

  /** Run `body` with its jobs counted by this meter; on return every
    * event of those jobs has been delivered.
    */
  def apply[T](body: => T): T = {
    val compiled0 = compileCount
    sc.addJobTag(tag)
    try body
    finally {
      sc.removeJobTag(tag)
      GraftListenerBus.drain(sc)
      compiles.addAndGet(compileCount - compiled0)
    }
  }

  /** Forget everything measured so far. */
  def reset(): Unit = {
    jobIds.clear(); stages.clear(); executions.clear(); tasks.clear(); lastPlan = ""; compiles.set(0L)
  }

  private def total(f: TaskRow => Long): Long = tasks.asScala.iterator.map(f).sum
  def shuffleReadBytes: Long = total(_.shuffleReadBytes)
  def shuffleWriteBytes: Long = total(_.shuffleWriteBytes)
  def memorySpillBytes: Long = total(_.memorySpillBytes)
  def diskSpillBytes: Long = total(_.diskSpillBytes)

  /** Spark jobs started by metered blocks (an adaptive query's shuffle
    * stages each run as their own job). */
  def jobs: Int = jobIds.size

  /** Classes Spark compiled (generated-code cache misses) while metered
    * blocks ran; JVM-wide, see the class doc. */
  def codegenCompiles: Long = compiles.get

  /** The executed plan of the last measured query that succeeded ("" if none). */
  def plan: String = lastPlan

  /** Per-task profile of the heaviest shuffle-reading stage measured
    * since [[reset]] — for the skew probes, the join/window stage of a
    * batch query or the stateful stage of a streaming query's biggest
    * micro-batch.
    */
  def spread: Spread = {
    val byStage = tasks.asScala.toSeq.groupBy(_.stageId)
      .filter(_._2.map(_.shuffleReadBytes).sum > 0)
    if (byStage.isEmpty) Spread(1.0, 0L, 0, 0L, 0L, 0L, plan)
    else {
      val (_, rows) = byStage.maxBy(_._2.map(_.shuffleReadBytes).sum)
      val bytes = rows.map(_.shuffleReadBytes).sorted
      val durs = rows.map(_.durMs).sorted
      val median = math.max(1L, bytes(bytes.size / 2))
      Spread(bytes.last.toDouble / median, bytes.last, bytes.size,
        durs.last, math.max(1L, durs(durs.size / 2)), bytes.sum, plan)
    }
  }

  /** Stop observing the session. */
  def close(): Unit = sc.removeSparkListener(listener)
}

object Meter {
  /** Spark's JVM-wide count of generated-code compiles so far. */
  private def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  final case class TaskRow(stageId: Int, shuffleReadBytes: Long, shuffleWriteBytes: Long,
                           memorySpillBytes: Long, diskSpillBytes: Long, durMs: Long)
  final case class Spread(maxOverMedian: Double, maxBytes: Long, tasks: Int,
                          maxDurMs: Long, medianDurMs: Long, totalBytes: Long,
                          plan: String)

  def fmt(s: Spread): String =
    f"max/median task shuffle-read ${s.maxOverMedian}%.1fx (max ${s.maxBytes / 1e6}%.2f MB of ${s.totalBytes / 1e6}%.2f MB over ${s.tasks}%d tasks), straggler ${s.maxDurMs}%d ms vs median ${s.medianDurMs}%d ms"
}

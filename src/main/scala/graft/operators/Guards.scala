package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}

/** Shared fail-fast guards and stage plumbing for operators that stage
  * working columns on a caller's frame or join over un-materialized
  * explodes.
  */
private[graft] object Guards {

  /** Fail fast when an input frame already carries one of an operator's
    * working/output column names: `withColumn` silently REPLACES an
    * existing column — and it resolves CASE-INSENSITIVELY under Spark's
    * default, so the check must too, or a caller's `_H` still vanishes
    * when the operator stages `_h`. (Operators whose working-column names
    * are baked into expression strings cannot take the SkewJoins
    * generated-name route, so the require IS the contract.)
    */
  def requireNoCollision(df: DataFrame, side: String, reserved: Seq[String]): Unit = {
    val res = reserved.map(_.toLowerCase).toSet
    val hit = df.columns.filter(c => res.contains(c.toLowerCase))
    require(hit.isEmpty,
      s"$side input already has column(s) ${hit.mkString(", ")} — " +
        "reserved by the operator (rename them before the call)")
  }

  /** Stage-bound a join input whose rows the static planner cannot size
    * (an un-materialized explode: the estimate is the slim PRE-explode
    * projection, so the planner can blind-broadcast many times the real
    * data — the measured round-9 defect class, see Dedup.bucketSelfJoin).
    * AQE on: a repartition on the join keys inserts the stage boundary
    * that makes the planner size the RUNTIME rows — broadcast only when
    * the side truly is small, and the exchange is reused if sort-merge is
    * picked. AQE off: the boundary cannot inform the static planner, so
    * pin sort-merge outright. ONE definition so a future planner/conf
    * change lands everywhere at once.
    */
  def stageBound(df: DataFrame, keys: Column*): DataFrame = {
    val aqe = df.sparkSession.conf.get("spark.sql.adaptive.enabled", "true")
      .equalsIgnoreCase("true")
    if (aqe) df.repartition(keys: _*) else df.hint("merge")
  }

  /** Round-robin-spread a NARROW scan across the cluster before an
    * expensive per-row kernel (shingle tokenization, signature hashing) or
    * a cache whose consumers re-scan it. A single small input file arrives
    * as ONE split, so the kernel, the cache build, and every cache reader
    * would otherwise run on one core — the optimization guide §2.5
    * unsplittable-input case ("repartition immediately after the read"),
    * measured here as 0.6-1.1 s single-task tokenize stages at sf0.1.
    *
    * Width, sized by input bytes: `min(defaultParallelism, ⌈bytes /
    * SpreadTargetBytes⌉)`, where `bytes` is the size of the files the
    * scan reads (its file index has already listed them). The frame is
    * returned UNTOUCHED when that width is not above the scan's split
    * count: an input small enough that its kernel work is worth less
    * than the exchange (see [[SpreadTargetBytes]]) stays one task, and at
    * 100 TB a corpus scan has thousands of splits and this is an identity.
    * A leaf that is not a file scan (a micro-batch, a docstore read, a
    * local frame) has no listed bytes; it keeps the width-P rule, with the
    * split count of the leaf planned alone. Nothing here runs a job.
    *
    * The exchange is of the slim pre-kernel projection (callers project
    * first — guide §2.3). The spread is ROUND-ROBIN, not keyed:
    * PlanCheck's "no shuffle carries document text" gates pin HASH
    * exchanges, the shape that would move the corpus by key at scale, and
    * its round-robin row bounds this exchange's width by the same rule.
    * Determinism under retries: round-robin repartition sorts its input
    * before exchanging (spark.sql.execution.sortBeforeRepartition, on by
    * default since SPARK-23207), so re-run tasks reproduce the same
    * row placement.
    *
    * SCAN-ROOTED plans only: projections and filters over one leaf. A
    * deeper plan (joins, aggregates, windows) got or will get its
    * parallelism from its own exchanges and is returned untouched.
    * Callers that want a complex input spread must spread the scan-rooted
    * side BEFORE composing (see pipe_clean_corpus).
    */
  def spread(df: DataFrame): DataFrame = scanLeaf(df.queryExecution.analyzed).fold(df) { leaf =>
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val (width, splits) = leaf match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        (spreadWidth(fs.location.sizeInBytes, p), fileSplits(spark, fs))
      case other => (p, spark.sessionState.executePlan(other).toRdd.getNumPartitions)
    }
    if (width <= splits) df else df.repartition(width)
  }

  /** Input bytes per spread task: the size below which one task's kernel
    * work costs less CPU than the exchange that would create the task.
    * Measured on a 4-vCPU VM (local[4], thread CPU of the JVM's Java
    * threads, median of 31 runs after 8 warm-ups, noop sink, one-split
    * `documents.parquet` scans of 65 KB and 594 KB):
    *   - exchange: a round-robin `repartition(4)` adds 28 ms of CPU over
    *     the 65 KB scan and 42 ms over the 594 KB one, `repartition(2)`
    *     23 and 37 ms: about 25 ms fixed per exchange plus 0.03 µs per
    *     byte. An earlier process-CPU reading, GC included, was 55 ms
    *     for `repartition(4)` over a 62 KB scan (75 → 130 ms);
    *   - kernels, one task, per input byte: tokens + explode 0.16–0.18
    *     µs, simhash 0.17–0.26, word 5-shingles 0.30–0.47, MinHash(64)
    *     of the shingles 0.38–0.48 µs. Round 18 saw 0.6–1.1 s one-task
    *     tokenize stages over the 594 KB file at local[32] (wall time).
    * The heaviest kernel sets the size, since a light kernel spread too
    * early loses one exchange (~25–55 ms of CPU) while a heavy kernel
    * left on one core loses its whole stage in wall time: 28 ms / (0.38–
    * 0.48 µs/B) is 58–74 KB, and 64 KiB is the power of two in that range.
    */
  val SpreadTargetBytes: Long = 64L * 1024

  /** The width [[spread]] gives `bytes` of input at parallelism `p`. */
  def spreadWidth(bytes: Long, p: Int): Int =
    math.min(p.toLong, math.max(1L, (bytes + SpreadTargetBytes - 1) / SpreadTargetBytes)).toInt

  /** The one leaf under projections and filters, if the plan is that. */
  private def scanLeaf(p: LogicalPlan): Option[LogicalPlan] = p match {
    case l: LeafNode => Some(l)
    case _: Project | _: Filter | _: SubqueryAlias => scanLeaf(p.children.head)
    case _ => None
  }

  /** The scan's split count, as FileSourceScanExec packs its files. */
  private def fileSplits(spark: SparkSession, fs: HadoopFsRelation): Int = {
    val dirs = fs.location.listFiles(Nil, Nil)
    val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
    val files = dirs.flatMap(d => d.files.flatMap(f => PartitionedFileUtil.splitFiles(f, f.getPath,
      fs.fileFormat.isSplitable(spark, fs.options, f.getPath), maxSplit, d.values)))
    FilePartition.getFilePartitions(spark, files.sortBy(-_.length), maxSplit).size
  }
}

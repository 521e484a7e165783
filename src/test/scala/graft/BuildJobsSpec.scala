package graft

import org.apache.spark.sql.functions.{col, sha2}

import graft.operators.Guards

/** Building a DataFrame runs no Spark job: opening a table reads its
  * footer on the driver, and sizing a spread reads the file index's
  * listing. Only training that a query's plan needs as data runs then.
  */
class BuildJobsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** The benchmark's registry queries and the jobs each may run while it
    * is built: sim_ivf trains its centroids, tx_bpe_encode its merges.
    */
  private val buildJobs = Seq("ir_bm25" -> 0, "sim_ivf" -> 6, "tx_bpe_encode" -> 3,
    "a20_funnel" -> 0, "j8_asof_join" -> 0, "j11_salted_skew_join" -> 0,
    "t4_topk_others" -> 0, "w1_window_rank" -> 0)

  /** Jobs `body` runs, and its value. */
  private def jobsOf[T](body: => T): (Int, T) = {
    val meter = new Meter(spark)
    try { val v = meter(body); (meter.jobs, v) } finally meter.close()
  }

  test("building the benchmark's registry queries runs no job beyond their training") {
    for ((q, max) <- buildJobs) {
      val (jobs, _) = try jobsOf(SparkEntry.queries(q)(spark, dir)) finally GraftSession.clearCaches(spark)
      assert(jobs <= max, s"$q: building ran $jobs jobs, at most $max allowed")
    }
  }

  test("spread is the identity on an input below SpreadTargetBytes, and building it runs no job") {
    val d = tempDir("graft_spread_small").toString
    spark.range(0, 200, 1, 1).select(col("id"), sha2(col("id").cast("string"), 256).as("text"))
      .write.parquet(s"$d/small.parquet")
    val bytes = new java.io.File(s"$d/small.parquet").listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(bytes < Guards.SpreadTargetBytes)
    val (jobs, (in, out)) = jobsOf {
      val in = Tables.load(spark, d, "small")
      (in, Guards.spread(in))
    }
    assert(out eq in, "a small input was spread")
    assert(jobs == 0, s"building the spread ran $jobs jobs")
  }

  test("spread gives min(P, ceil(bytes / SpreadTargetBytes)) partitions to a one-row-group file above it") {
    val d = tempDir("graft_spread_wide").toString
    // hex digests barely compress: ~2.5 target sizes in one file, one row group
    spark.range(0, 2500, 1, 1).select(col("id"), sha2(col("id").cast("string"), 256).as("text"))
      .write.parquet(s"$d/wide.parquet")
    val files = new java.io.File(s"$d/wide.parquet").listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1)
    val bytes = files.head.length
    val p = spark.sparkContext.defaultParallelism
    val expected = math.min(p.toLong, (bytes + Guards.SpreadTargetBytes - 1) / Guards.SpreadTargetBytes).toInt
    assert(expected > 1, s"$bytes bytes do not exceed one target size")
    val (jobs, spread) = jobsOf(Guards.spread(Tables.load(spark, d, "wide")))
    assert(jobs == 0, s"building the spread ran $jobs jobs")
    assert(spread.rdd.getNumPartitions == expected,
      s"$bytes bytes at parallelism $p: ${spread.rdd.getNumPartitions} partitions, expected $expected")
    assert(spread.count() == 2500L)
  }
}

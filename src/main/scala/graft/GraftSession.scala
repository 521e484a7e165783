package graft

import org.apache.spark.sql.SparkSession

/** The ONE SparkSession configuration: every session in `src/main` and
  * `src/test` is built here, so the plans a gate, probe or test sees are
  * the benched plans. Previously each main hand-duplicated the config
  * block, and the copies drifted (a forgotten extension, time zone or ICU
  * switch) until captured plans stopped matching benched plans. A caller
  * adds only the overrides its measurement needs (SkewProbe's skew
  * thresholds, a fuzz peer's app name).
  *
  * Core count comes from SPARK_GRAFT_CPUS: the driver ALSO runs the bench
  * at a lower core count to measure per-query scaling, so a hard-coded
  * master would ruin that measurement.
  *
  * Shuffle scratch defaults to tmpfs. Spark's own `SPARK_LOCAL_DIRS`
  * environment variable takes precedence over `spark.local.dir`, so a
  * run that must keep its scratch elsewhere (a host without /dev/shm, a
  * benchmark confined to its checkout) sets that instead.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def builder(nCpus: String = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$nCpus]")
      .config("spark.sql.shuffle.partitions", nCpus)
      // Tables.events's NTZ branch is only an identity cast because the
      // session timezone is UTC — a non-UTC host would shift every ts.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false") // ICU clinit costs minutes; JVM case mapping ≡ ICU on ASCII
      .config("spark.local.dir", "/dev/shm/spark-local") // shuffle scratch on tmpfs: file create/mmap on this VM disk costs ms
      .config("spark.hadoop.fs.file.impl", "graft.sources.FastLocalFileSystem") // no-fork chmod: see FastLocalFileSystem
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")

  /** Build the session and set the shared log level. */
  def open(nCpus: String = cpus): SparkSession = {
    val s = builder(nCpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drop every cached table AND every persisted RDD. `clearCache` alone
    * keeps RDD/localCheckpoint blocks (the connected-components round
    * snapshots), and some builders cache-and-warm at construction (the
    * dedup slim frames), so a session that runs or plans many queries
    * calls this between them or each query taxes the next one's memory.
    */
  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}

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
  *
  * Generated code is compiled once per plan shape, not once per run.
  * Spark keeps compiled classes in one JVM-wide LRU cache keyed by the
  * generated source. Two settings here make a repeated plan hit it:
  *
  *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]].
  *    Spark's default of 100 is smaller than the engine's working set:
  *    one pass over the benchmark's eight registry queries at sf0.01
  *    compiles 214 classes in a fresh JVM (234 with the stage id in the
  *    class body, below), and an ETL pass plus a dashboard refresh about
  *    90 more. With 100 entries every pass evicted the last one's classes
  *    and compiled 234 to 237 again. 500 is about twice the registry pass.
  *    The kept classes cost retained heap: the benchmark's median
  *    `retained_heap_mb` rose 85.2 → 87.4 MiB (+2.6%) on registry_queries
  *    and 74.0 → 74.5 MiB (+0.6%) on ssh_etl, 10 runs each.
  *  - `spark.sql.codegen.useIdInClassName=false`. With the id, a
  *    whole-stage class body carries its codegen stage id, and AQE numbers
  *    the stages differently from run to run, so the same plan made a new
  *    source and a fresh compile (at sf0.01 ir_bm25 compiled 4, 4, then
  *    0 new classes over three warm passes). Without it the body depends
  *    only on the plan.
  *
  * Neither changes a plan or a result. The cache size is a static conf:
  * Spark sizes the cache once, at the first compile in the JVM, so it can
  * only take effect from the config of the session that compiles first.
  * That is why it lives here, where every session is built, and nowhere
  * else. `Meter.codegenCompiles` counts the compiles of a metered block.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Size of Spark's generated-class cache; see the object doc. */
  val CodegenCacheEntries = 500

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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")

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

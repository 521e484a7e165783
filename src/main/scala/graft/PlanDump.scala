package graft

/** Optimization-round helper: write `explain("formatted")` for the named
  * queries (or all) to `<outDir>/<name>.txt` — the evidence files the
  * round's `plans/rNN/` deliverable commits. Session config mirrors Bench
  * so the captured plans are the benched plans.
  *
  * Usage: runMain graft.PlanDump <outDir> [query ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <outDir> [query ...]")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.open()
    val names =
      if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] $name OK")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      GraftSession.clearCaches(spark)
    }
    spark.stop()
  }
}

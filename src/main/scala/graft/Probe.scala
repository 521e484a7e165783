package graft
import scala.jdk.CollectionConverters._
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

/** Temporary perf probe with a built-in sampling profiler (not part of the
  * driver contract).
  */
object Probe {
  // queries slower than this print their profiler hot frames
  private val HotMinS = 5.0

  /** The scale-run OOM class: a JVM OutOfMemoryError anywhere in the cause
    * chain, or Spark's memory-pressure errors surfaced as SparkException /
    * SparkOutOfMemoryError with the AGGREGATE_OUT_OF_MEMORY /
    * UNABLE_TO_ACQUIRE_MEMORY error classes (how a 16g-heap x1000 probe
    * actually dies — wrapped, not as a raw OutOfMemoryError).
    */
  private def isOomClass(e: Throwable): Boolean = {
    val seen = scala.collection.mutable.Set.empty[Throwable]
    Iterator.iterate(e)(_.getCause).takeWhile(t => t != null && seen.add(t))
      .exists { t =>
        t.isInstanceOf[OutOfMemoryError] ||
        t.getClass.getName.contains("SparkOutOfMemoryError") ||
        Option(t.getMessage).exists(m =>
          m.contains("AGGREGATE_OUT_OF_MEMORY") ||
          m.contains("UNABLE_TO_ACQUIRE_MEMORY") ||
          m.contains("Unable to acquire"))
      }
  }

  private def rootMessage(e: Throwable): String = {
    val seen = scala.collection.mutable.Set.empty[Throwable]
    val root = Iterator.iterate(e)(_.getCause)
      .takeWhile(t => t != null && seen.add(t)).toSeq.last
    s"${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("").take(200)}"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.open()

    val samples = new ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    val sampler = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-probe-sampler"); t.setDaemon(true); t
    }
    sampler.scheduleAtFixedRate(() => if (sampling) {
      Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
        if (st.nonEmpty && t.getState == Thread.State.RUNNABLE &&
            (t.getName.startsWith("Executor task") || t.getName == "main")) {
          // first non-jvm-internal frame
          val f = st.take(6).map(_.toString)
            .find(s => !s.startsWith("java.lang.Thread"))
            .getOrElse(st.head.toString)
          samples.merge(s"${if (t.getName == "main") "MAIN" else "EXEC"} $f", 1, (a, b) => a + b)
        }
      }
    }, 0L, 100L, TimeUnit.MILLISECONDS)

    // Per-query shuffle/spill accounting (r11): SCALE.md adjudications of
    // the form "the decade-ratio drift is spill, not a superlinear term"
    // need MEASURED spilled bytes, not inference. Only the probed queries'
    // own jobs count (see Meter), and the meter's readings are final the
    // moment the query returns.
    val meter = new Meter(spark)

    // untimed warmup — guarded like Bench's warmups: a broken loader (the
    // round-7 ts type flip class) must not abort the probe run before any
    // requested query is measured
    try Bench.run(SparkEntry.queries("a14_scalar_stats")(spark, sfDir))
    catch { case e: Exception => println(s"PROBE warmup failed: ${e.getMessage}") }

    args.foreach { name =>
      samples.clear()
      meter.reset()
      def oomExit(e: Throwable, where: String): Nothing = {
        sampling = false
        println(s"PROBE $name FAILED: out of memory in $where " +
          s"(${rootMessage(e)}). This is the single-box memory wall " +
          "documented in SCALE.md — rerun with SPARK_DRIVER_MEM=64g " +
          "(build.sbt forks the probe JVM with -Xmx$SPARK_DRIVER_MEM, " +
          "default 16g). A real cluster scales executor memory with the data.")
        meter.close()
        spark.stop()
        sys.exit(2)
      }
      val dt = meter {
        sampling = true
        val t0 = System.nanoTime()
        // Construction is INSIDE the OOM guard's reach too (r14): builders
        // that run real jobs — g4's edge-aggregate collect, the Lloyd
        // trainer collects — can hit the same memory wall before the run
        // ever sees a DataFrame.
        val df =
          try SparkEntry.queries(name)(spark, sfDir)
          catch { case e: Throwable if isOomClass(e) => oomExit(e, "query construction") }
        // Bench's OWN noop-sink action — one shared definition, so the
        // comparability of Probe and Bench numbers can't silently drift.
        // Scale-run OOM class (SCALE.md x1000p): local[32] hash aggregation
        // at 32 concurrent tasks can exhaust the probe JVM's default 16g
        // heap (AGGREGATE_OUT_OF_MEMORY / SparkOutOfMemoryError). Name the
        // documented recipe instead of dying with a raw stack — the fix is
        // an env var, not an operator defect.
        try Bench.run(df)
        catch { case e: Throwable if isOomClass(e) => oomExit(e, "execution") }
        sampling = false
        (System.nanoTime() - t0) / 1e9
      }
      def gb(b: Long): String = f"${b / 1e9}%.2f GB"
      println(f"PROBE $name: $dt%.2f s  [shuffleWrite ${gb(meter.shuffleWriteBytes)}, " +
        s"spill mem ${gb(meter.memorySpillBytes)} / disk ${gb(meter.diskSpillBytes)}]")
      println(s"===== $name final plan =====\n${meter.plan}")
      if (dt > HotMinS) {
        samples.asScala.toSeq.sortBy(-_._2).take(12).foreach { case (f, c) =>
          println(f"  HOT $c%4d  $f")
        }
      }
      GraftSession.clearCaches(spark)
    }
    meter.close()
    spark.stop()
  }
}

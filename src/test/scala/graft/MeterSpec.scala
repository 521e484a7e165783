package graft

import org.apache.spark.sql.functions.col

/** [[Meter]]'s contract: readings are final the moment a metered run
  * returns (no sleep, no poll), and only the metered run's own jobs
  * count.
  */
class MeterSpec extends SparkSpec {
  test("a metered shuffle query's bytes and plan are final when it returns; unmetered jobs don't count") {
    val meter = new Meter(spark)
    try {
      meter(Bench.run(spark.range(0, 50000, 1, 4).groupBy(col("id") % 97).count()))
      val read = meter.shuffleReadBytes
      val plan = meter.plan
      assert(read > 0, "no shuffle-read bytes reached the meter")
      assert(meter.shuffleWriteBytes > 0, "no shuffle-write bytes reached the meter")
      assert(plan.contains("HashAggregate"), s"not the metered query's executed plan:\n$plan")
      assert(meter.spread.tasks > 0)

      // a different shuffle query outside the meter, then an empty metered
      // run to drain the bus: neither its bytes nor its plan may appear
      Bench.run(spark.range(0, 50000, 1, 4).repartition(3, col("id")).groupBy("id").count())
      meter(())
      assert(meter.shuffleReadBytes == read)
      assert(meter.plan == plan)

      meter.reset()
      assert(meter.shuffleReadBytes == 0L && meter.plan.isEmpty)
    } finally meter.close()
  }
}

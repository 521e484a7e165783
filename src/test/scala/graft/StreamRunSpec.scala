package graft

import graft.streaming.StreamRun
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** [[StreamRun]]'s contract: a pass-through run returns exactly the fed
  * rows, reports one trigger per non-empty feed step with that step's row
  * count, and leaves no query running — also when a step throws.
  */
class StreamRunSpec extends SparkSpec {
  import spark.implicits._

  private val chunks = Seq(
    Seq((1L, "a"), (2L, "b"), (3L, "c")),
    Seq.empty[(Long, String)],
    Seq((4L, "d")),
    Seq((5L, "e"), (6L, "f")))

  test("a pass-through query returns the fed rows and one progress entry per non-empty chunk") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val run = StreamRun.memory(mem.toDF(), "append", StreamRun.chunks(mem, chunks))
    assert(spark.streams.active.isEmpty)
    assert(run.sink.as[(Long, String)].collect().sorted.toSeq == chunks.flatten)
    assert(run.progress.filter(_.numInputRows > 0).map(_.numInputRows) ==
      chunks.filter(_.nonEmpty).map(_.size.toLong))
  }

  test("a feed step that throws mid-stream still stops the query") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val boom = intercept[IllegalStateException] {
      StreamRun.memory(mem.toDF(), "append",
        StreamRun.chunks(mem, chunks.take(1)) :+ (() => throw new IllegalStateException("boom")))
    }
    assert(boom.getMessage == "boom")
    assert(spark.streams.active.isEmpty)
  }
}

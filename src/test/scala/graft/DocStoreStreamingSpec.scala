package graft

import java.nio.file.Files

import graft.streaming.StreamRun
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming ingestion into the docstore connector: micro-batches append
  * epoch-tagged shards, the collection is readable (batch) after each
  * epoch, and shard names carry the epoch id that makes commit replay
  * idempotent.
  */
class DocStoreStreamingSpec extends SparkSpec {
  import spark.implicits._

  test("writeStream append: epochs accumulate, batch read sees all documents") {
    val dir = tempDir("graft_docstore_stream").toString
    val ckpt = tempDir("graft_docstore_ckpt").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("id", "name")
      .writeStream.format("docstore")
      .option("path", dir)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()

    StreamRun(q, Seq(
      () => in.addData((1L, "alice"), (2L, "bob")),
      () => {
        assert(spark.read.format("docstore").load(dir).count() == 2)
        in.addData((3L, "carol"))
      }))

    val back = spark.read.format("docstore").load(dir)
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "alice"), (2L, "bob"), (3L, "carol")))

    // the streaming sink honors compression too
    val gzDir = tempDir("graft_docstore_stream_gz").toString
    val gzCkpt = tempDir("graft_docstore_gz_ckpt").toString
    val in2 = MemoryStream[(Long, String)]
    val q2 = in2.toDF().toDF("id", "name")
      .writeStream.format("docstore").option("path", gzDir)
      .option("compression", "gzip")
      .option("checkpointLocation", gzCkpt).outputMode("append").start()
    StreamRun(q2, StreamRun.chunks(in2, Seq(Seq((1L, "z")))))
    val gzShards = Files.list(java.nio.file.Paths.get(gzDir)).toArray.map(_.toString)
      .map(p => p.substring(p.lastIndexOf('/') + 1))
      .filter(_.startsWith("part-e")) // basename filter: skips .crc sidecars
    assert(gzShards.nonEmpty && gzShards.forall(_.endsWith(".jsonl.gz")), gzShards.mkString(","))
    assert(spark.read.format("docstore").load(gzDir).count() == 1)

    // Shards are epoch-tagged — the idempotent-replay key: a replayed
    // epoch's commit deletes the failed attempt's same-epoch files.
    val shards = Files.list(java.nio.file.Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".jsonl")).map(p => p.substring(p.lastIndexOf('/') + 1))
    assert(shards.nonEmpty && shards.forall(_.startsWith("part-e")), shards.mkString(", "))
    assert(shards.map(_.split("-")(1)).distinct.length >= 2) // ≥2 distinct epochs
  }

  test("readStream change-stream: batch appends surface as micro-batches, filter applies") {
    val dir = tempDir("graft_docstore_src").toString

    Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1)
      .write.format("docstore").mode("overwrite").save(dir)

    val stream = spark.readStream.format("docstore")
      .schema("id BIGINT, name STRING").load(dir)
      .filter(col("id") >= 2)
    val (q, sink) = StreamRun.startMemory(stream, "append")
    StreamRun(q, Seq { () =>
      assert(spark.table(sink).count() == 1) // only id=2
      Seq((3L, "c"), (4L, "d")).toDF("id", "name").coalesce(1)
        .write.format("docstore").mode("append").save(dir)
    })

    val got = spark.table(sink).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("complete output mode is rejected (append-only collection)") {
    val dir = tempDir("graft_docstore_badmode").toString
    val ckpt = tempDir("graft_docstore_badmode_ckpt").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val agg = in.toDF().toDF("id", "name").groupBy("name").agg(count(lit(1)).as("n"))
    val ex = intercept[Exception] {
      val q = agg.writeStream.format("docstore")
        .option("path", dir).option("checkpointLocation", ckpt)
        .outputMode("complete").start()
      StreamRun(q, StreamRun.chunks(in, Seq(Seq((1L, "x")))))
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(e => e +: chain(e.getCause))
    assert(chain(ex).exists(e =>
      e.isInstanceOf[UnsupportedOperationException] ||
        String.valueOf(e.getMessage).contains("Append")), ex.toString)
  }

  test("snapshot-pinned readStream is rejected (offsets come from the live listing)") {
    val dir = tempDir("graft_docstore_verstream").toString
    Seq((1L, "a")).toDF("id", "name")
      .write.format("docstore").mode("overwrite").save(dir)
    val ex = intercept[Exception] {
      StreamRun.memory(spark.readStream.format("docstore")
        .option("version", 1).load(dir), "append")
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(e => e +: chain(e.getCause))
    assert(chain(ex).exists(e => String.valueOf(e.getMessage).contains("cannot drive a streaming read")),
      ex.toString)
  }

  test("two streaming queries appending to one collection never delete each other's epochs") {
    val dir = tempDir("graft_docstore_twoq").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def run(tag: String, ids: Seq[Long]): Unit = {
      val ckpt = tempDir(s"graft_docstore_twoq_$tag").toString
      val in = MemoryStream[(Long, String)]
      val q = in.toDF().toDF("id", "name").writeStream.format("docstore")
        .option("path", dir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      StreamRun(q, StreamRun.chunks(in, ids.map(i => Seq((i, s"$tag$i")))))
    }
    // both queries run epochs 0..2 against the same collection; the
    // epoch-replay cleanup is query-tag-scoped, so their same-numbered
    // epochs must not fence each other
    run("a", Seq(1L, 2L, 3L))
    run("b", Seq(10L, 20L, 30L))
    val back = spark.read.format("docstore").load(dir)
    assert(back.count() == 6L, "all six documents from both queries survive")
    assert(back.select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 10L, 20L, 30L))
  }
}

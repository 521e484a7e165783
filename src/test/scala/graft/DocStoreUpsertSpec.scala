package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.docstore.DocStoreMaintenance
import graft.streaming.StreamRun

/** Bulk replace_one(upsert=true): replaced/inserted counts, whole-document
  * replace semantics (absent batch column → stored null), key-pruned shard
  * rewrites (an unaffected shard keeps its exact bytes), batch-key
  * validation, idempotent re-application, and post-upsert stats integrity.
  */
class DocStoreUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    tempDir(s"graft_upsert_$tag").toString

  private def writeRange(dir: String, ids: Range): Unit =
    ids.map(i => (i.toLong, s"u$i", (i % 3).toDouble)).toDF("id", "name", "score")
      .coalesce(1).write.format("docstore").mode("append").save(dir)

  private def shardNames(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".jsonl")).toSet

  test("upsert replaces existing keys and inserts new ones, counts exact") {
    val dir = tmpDir("mix")
    writeRange(dir, 0 until 10)
    val batch = Seq((5L, "five!", 9.0), (7L, "seven!", 9.0), (20L, "twenty", 1.0))
      .toDF("id", "name", "score")
    val (replaced, inserted) = DocStoreMaintenance.upsert(spark, dir, "id", batch)
    assert(replaced == 2L && inserted == 1L)
    val back = spark.read.format("docstore").load(dir)
    assert(back.count() == 11L)
    assert(back.filter(col("id") === 5L).head().getAs[String]("name") == "five!")
    assert(back.filter(col("id") === 7L).head().getAs[Double]("score") == 9.0)
    assert(back.filter(col("id") === 20L).count() == 1L)
    // untouched doc intact
    assert(back.filter(col("id") === 3L).head().getAs[String]("name") == "u3")
    // stats stayed consistent: pruning-based count agrees
    assert(back.groupBy().count().head().getLong(0) == 11L)
  }

  test("whole-document replace: a column absent from the batch nulls out") {
    val dir = tmpDir("replace")
    writeRange(dir, 0 until 5)
    val batch = Seq((2L, 42.0)).toDF("id", "score") // no `name`
    val (replaced, inserted) = DocStoreMaintenance.upsert(spark, dir, "id", batch)
    assert(replaced == 1L && inserted == 0L)
    val row = spark.read.format("docstore").load(dir).filter(col("id") === 2L).head()
    assert(row.isNullAt(row.fieldIndex("name")), "replace must not keep old fields")
    assert(row.getAs[Double]("score") == 42.0)
  }

  test("key pruning: a shard outside the batch's key range keeps its exact bytes") {
    val dir = tmpDir("prune")
    writeRange(dir, 0 until 10)    // ids 0-9
    writeRange(dir, 100 until 110) // ids 100-109
    val loShard = shardNames(dir).find { s =>
      scala.io.Source.fromFile(s"$dir/$s").getLines().exists(_.contains("\"id\":0"))
    }.get
    val loBytes = Files.readAllBytes(java.nio.file.Paths.get(s"$dir/$loShard")).toSeq
    val batch = Seq((105L, "fixed", 0.0), (200L, "new", 0.0)).toDF("id", "name", "score")
    val (replaced, inserted) = DocStoreMaintenance.upsert(spark, dir, "id", batch)
    assert(replaced == 1L && inserted == 1L)
    assert(shardNames(dir).contains(loShard))
    assert(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/$loShard")).toSeq == loBytes)
    assert(spark.read.format("docstore").load(dir).count() == 21L)
  }

  test("re-applying the same batch is idempotent (all replaced, none inserted)") {
    val dir = tmpDir("idem")
    writeRange(dir, 0 until 6)
    val batch = Seq((1L, "x", 0.0), (10L, "y", 0.0)).toDF("id", "name", "score")
    assert(DocStoreMaintenance.upsert(spark, dir, "id", batch) == ((1L, 1L)))
    assert(DocStoreMaintenance.upsert(spark, dir, "id", batch) == ((2L, 0L)))
    val back = spark.read.format("docstore").load(dir)
    assert(back.count() == 7L)
    assert(back.filter(col("id") === 10L).count() == 1L, "no duplicate from re-apply")
  }

  test("upsertStream applies a change stream: within-batch versions collapse to latest by seq") {
    implicit val sq = spark.sqlContext
    val dir = tmpDir("cdc")
    writeRange(dir, 0 until 5)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String, Double)]
    val q = graft.streaming.StreamingAnalytics.upsertStream(
      mem.toDF().toDF("seq", "id", "name", "score"), dir, keyCol = "id", seqCol = "seq")
    StreamRun(q, StreamRun.chunks(mem, Seq(
      // batch 1: two versions of id=2 (seq 1 then 2 — latest wins) + a new id
      Seq((1L, 2L, "v1", 0.0), (2L, 2L, "v2", 0.0), (3L, 50L, "new", 1.0)),
      // batch 2: a later correction of the same key across batches
      Seq((4L, 50L, "new2", 2.0)))))
    val back = spark.read.format("docstore").load(dir)
    assert(back.count() == 6L)
    assert(back.filter(col("id") === 2L).head().getAs[String]("name") == "v2")
    assert(back.filter(col("id") === 50L).head().getAs[String]("name") == "new2")
    assert(back.filter(col("id") === 50L).head().getAs[Double]("score") == 2.0)
  }

  test("upsertStream survives a null-key change row (no checkpoint poison pill)") {
    implicit val sq = spark.sqlContext
    val dir = tmpDir("cdcnull")
    writeRange(dir, 0 until 3)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Option[Long], String, Double)]
    val q = graft.streaming.StreamingAnalytics.upsertStream(
      mem.toDF().toDF("seq", "id", "name", "score"), dir, keyCol = "id", seqCol = "seq")
    // the null-key row is unidentifiable — it must be dropped, not allowed
    // to trip upsert's null-key require (which would kill the query and
    // every checkpoint replay of the same batch)
    StreamRun(q, StreamRun.chunks(mem,
      Seq(Seq((1L, Some(1L), "ok", 0.0), (2L, None, "poison", 0.0)))))
    val back = spark.read.format("docstore").load(dir)
    assert(back.count() == 3L)
    assert(back.filter(col("id") === 1L).head().getAs[String]("name") == "ok")
  }

  test("batch validation: duplicate or null keys are rejected, empty batch is a no-op") {
    val dir = tmpDir("valid")
    writeRange(dir, 0 until 3)
    val dup = Seq((1L, "a", 0.0), (1L, "b", 0.0)).toDF("id", "name", "score")
    intercept[IllegalArgumentException] {
      DocStoreMaintenance.upsert(spark, dir, "id", dup)
    }
    val withNull = Seq((Some(1L), "a", 0.0), (None, "b", 0.0)).toDF("id", "name", "score")
    intercept[IllegalArgumentException] {
      DocStoreMaintenance.upsert(spark, dir, "id", withNull)
    }
    assert(DocStoreMaintenance.upsert(spark, dir, "id",
      Seq.empty[(Long, String, Double)].toDF("id", "name", "score")) == ((0L, 0L)))
    assert(spark.read.format("docstore").load(dir).count() == 3L, "failed upserts changed nothing")
  }

  test("counts are KEY-level: duplicate stored copies collapse, never negative inserts") {
    val dir = tmpDir("dupstore")
    writeRange(dir, 0 until 5)
    writeRange(dir, 0 until 5) // plain appends enforce no uniqueness: 2 docs per id
    assert(spark.read.format("docstore").load(dir).count() == 10L)
    val batch = Seq((2L, "two!", 9.0), (50L, "fifty", 1.0)).toDF("id", "name", "score")
    val (replaced, inserted) = DocStoreMaintenance.upsert(spark, dir, "id", batch)
    assert(replaced == 1L && inserted == 1L,
      "key 2 matched (both copies drop, counted once); key 50 inserted")
    val back = spark.read.format("docstore").load(dir)
    assert(back.filter(col("id") === 2L).count() == 1L, "replace-by-key collapses duplicates")
    assert(back.count() == 10L, "10 - 2 old copies + 1 replacement + 1 insert")
  }

  test("duplicate detection uses store equality: 0.0 and -0.0 keys are the SAME key") {
    val dir = tmpDir("zerokey")
    Seq((1.0, "a"), (2.0, "b")).toDF("k", "v")
      .write.format("docstore").mode("overwrite").save(dir)
    val batch = Seq((0.0, "plus"), (-0.0, "minus")).toDF("k", "v")
    val ex = intercept[IllegalArgumentException] {
      DocStoreMaintenance.upsert(spark, dir, "k", batch)
    }
    assert(ex.getMessage.contains("duplicate keys"))
  }
}

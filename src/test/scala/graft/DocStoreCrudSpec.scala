package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, IsNull, LessThan}
import graft.sources.docstore.DocStoreMaintenance

/** delete_many / update_many over the document store: matched counts,
  * survivor integrity, zone-map shard pruning (untouched shards keep their
  * exact bytes), stats consistency after the rewrite, $unset-via-null, and
  * the SQL `DELETE FROM` surface.
  */
class DocStoreCrudSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    tempDir(s"graft_crud_$tag").toString

  private def writeRange(dir: String, ids: Range, tag: String): Unit =
    ids.map(i => (i.toLong, s"u$i", (i % 3).toDouble)).toDF("id", "name", "score")
      .coalesce(1).write.format("docstore").mode("append").save(dir)

  private def shardNames(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".jsonl")).toSet

  test("deleteWhere removes matching docs, count exact, stats stay consistent") {
    val dir = tmpDir("del")
    writeRange(dir, 0 until 20, "a")
    val n = DocStoreMaintenance.deleteWhere(spark, dir, Seq(GreaterThan("id", 14L)))
    assert(n == 5L)
    val back = spark.read.format("docstore").load(dir)
    assert(back.count() == 15L)
    assert(back.agg(max("id")).head().getLong(0) == 14L)
    // stats reflect only live shards and support pruning-based count()
    assert(back.groupBy().count().head().getLong(0) == 15L)
    // deleting with no survivors in range is a no-op returning 0
    assert(DocStoreMaintenance.deleteWhere(spark, dir, Seq(GreaterThan("id", 100L))) == 0L)
  }

  test("truncate count is idempotent across a crash-rerun: counts only shards still on disk") {
    val dir = tmpDir("trunc")
    writeRange(dir, 0 until 10, "lo")    // shard 1: 10 docs
    writeRange(dir, 100 until 110, "hi") // shard 2: 10 docs
    // simulate a truncate that crashed after deleting one shard but
    // before resetting stats/manifest: the stats file still references
    // both shards — a stats-pushdown count would report a stale 20
    val victim = shardNames(dir).head
    assert(new java.io.File(s"$dir/$victim").delete())
    val n = DocStoreMaintenance.deleteWhere(spark, dir, Seq.empty) // unconditional
    assert(n == 10L, s"re-run must count only the surviving shard's rows, got $n")
    assert(spark.read.format("docstore").load(dir).count() == 0L)
    // and truncating an already-empty store reports zero
    assert(DocStoreMaintenance.deleteWhere(spark, dir, Seq.empty) == 0L)
  }

  test("zone maps prune: a shard the filter cannot match keeps its exact bytes") {
    val dir = tmpDir("prune")
    writeRange(dir, 0 until 10, "lo")   // ids 0-9
    writeRange(dir, 100 until 110, "hi") // ids 100-109
    val before = shardNames(dir)
    assert(before.size == 2)
    val loShard = before.find { s =>
      scala.io.Source.fromFile(s"$dir/$s").getLines().exists(_.contains("\"id\":0"))
    }.get
    val loBytes = Files.readAllBytes(java.nio.file.Paths.get(s"$dir/$loShard")).toSeq

    val n = DocStoreMaintenance.deleteWhere(spark, dir, Seq(GreaterThan("id", 104L)))
    assert(n == 5L)
    // the low shard was never rewritten: same name, same bytes
    assert(shardNames(dir).contains(loShard))
    assert(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/$loShard")).toSeq == loBytes)
    assert(spark.read.format("docstore").load(dir).count() == 15L)
  }

  test("a zone-map false-positive shard with no real matches keeps its bytes") {
    val dir = tmpDir("fp")
    // shard A spans [0,24] with a hole at 10-15: its zone map ADMITS the
    // delete range but contains no matching doc
    (Seq(0L, 1L, 2L, 3L, 4L) ++ Seq(20L, 21L, 22L, 23L, 24L))
      .map(i => (i, s"u$i", 0.0)).toDF("id", "name", "score")
      .coalesce(1).write.format("docstore").mode("append").save(dir)
    Seq(10L, 11L, 12L).map(i => (i, s"u$i", 0.0)).toDF("id", "name", "score")
      .coalesce(1).write.format("docstore").mode("append").save(dir)
    val holey = shardNames(dir).find { s =>
      scala.io.Source.fromFile(s"$dir/$s").getLines().exists(_.contains("\"id\":24"))
    }.get
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(s"$dir/$holey")).toSeq

    val n = DocStoreMaintenance.deleteWhere(spark, dir,
      Seq(org.apache.spark.sql.sources.GreaterThan("id", 9L), LessThan("id", 16L)))
    assert(n == 3L) // only the 10-12 shard really matched
    assert(shardNames(dir).contains(holey), "false-positive shard must keep its name")
    assert(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/$holey")).toSeq == bytes)
    assert(spark.read.format("docstore").load(dir).count() == 10L)
  }

  test("deleteWhere: a fully-matched shard disappears") {
    val dir = tmpDir("gone")
    writeRange(dir, 0 until 10, "lo")
    writeRange(dir, 100 until 110, "hi")
    val n = DocStoreMaintenance.deleteWhere(spark, dir, Seq(GreaterThan("id", 99L)))
    assert(n == 10L)
    assert(shardNames(dir).size == 1)
    assert(spark.read.format("docstore").load(dir).count() == 10L)
  }

  test("updateWhere sets values, unsets via null, counts matches") {
    val dir = tmpDir("upd")
    writeRange(dir, 0 until 10, "a")
    val n = DocStoreMaintenance.updateWhere(spark, dir,
      Seq(LessThan("id", 3L)), Map("name" -> "redacted", "score" -> null))
    assert(n == 3L)
    val back = spark.read.format("docstore").load(dir)
    assert(back.filter(col("name") === "redacted").count() == 3L)
    // $unset: score reads back as null (absent field) for updated docs only
    assert(back.filter(col("score").isNull).count() == 3L)
    assert(back.filter(col("id") >= 3L && col("name") === "redacted").count() == 0L)
    // updated docs remain filterable through zone maps after stats rewrite
    val m = DocStoreMaintenance.deleteWhere(spark, dir, Seq(IsNull("score")))
    assert(m == 3L)
    assert(back.count() == 7L || spark.read.format("docstore").load(dir).count() == 7L)
  }

  test("updateWhere validates fields and types before touching data") {
    val dir = tmpDir("val")
    writeRange(dir, 0 until 5, "a")
    intercept[IllegalArgumentException] {
      DocStoreMaintenance.updateWhere(spark, dir, Seq(EqualTo("id", 1L)), Map("nope" -> "x"))
    }
    intercept[IllegalArgumentException] {
      DocStoreMaintenance.updateWhere(spark, dir, Seq(EqualTo("id", 1L)), Map("name" -> 7L))
    }
    assert(spark.read.format("docstore").load(dir).count() == 5L)
  }

  test("SQL DELETE FROM reaches the connector's filter-based delete") {
    val dir = tmpDir("sql")
    writeRange(dir, 0 until 12, "a")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW del_t USING docstore OPTIONS (path '$dir')")
    try {
      spark.sql("DELETE FROM del_t WHERE id > 7")
      assert(spark.read.format("docstore").load(dir).count() == 8L)
    } finally spark.sql("DROP VIEW IF EXISTS del_t")
  }

  test("SQL DELETE FROM without WHERE deletes everything (AlwaysTrue filter)") {
    // Spark turns the absent condition into AlwaysTrue; before round 9
    // canDeleteWhere rejected it and the trivially-supportable
    // unconditional delete failed with 'Cannot delete from table'.
    val dir = tmpDir("sqlall")
    writeRange(dir, 0 until 6, "a")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW del_all_t USING docstore OPTIONS (path '$dir')")
    try {
      spark.sql("DELETE FROM del_all_t")
      assert(spark.read.format("docstore").load(dir).count() == 0L)
    } finally spark.sql("DROP VIEW IF EXISTS del_all_t")
  }

  test("PARTITIONED BY is rejected, not silently dropped") {
    val dir = tmpDir("part")
    val ex = intercept[Exception] {
      spark.range(0, 5).selectExpr("id", "cast(id % 2 as string) as b")
        .write.format("docstore").partitionBy("b").mode("overwrite").save(dir)
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(e => e +: chain(e.getCause))
    assert(chain(ex).exists(e =>
      String.valueOf(e.getMessage).contains("PARTITIONED BY") ||
        String.valueOf(e.getMessage).toLowerCase.contains("partition")), ex.toString)
  }
}

package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The DataSource V2 document-store connector (graft.sources.docstore):
  * round-trip identity incl. null/absent fields, filter + projection
  * pushdown into the BatchScan, append vs overwrite semantics, and
  * multi-shard parallel reads.
  */
class DocStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val d = tempDir(s"graft_docstore_$tag").toString
    d
  }

  private val rows = Seq(
    (1L, Some("alice"), Some(10.5), Some(true)),
    (2L, Some("bob"), None, Some(false)),
    (3L, None, Some(-2.25), None),
    (4L, Some("carol"), Some(0.0), Some(true))
  ).toDF("id", "name", "score", "flag")

  test("round-trip identity: values, nulls, and absent fields survive") {
    val dir = tmpDir("rt")
    rows.write.format("docstore").mode("overwrite").save(dir)
    val back = spark.read.format("docstore").load(dir)
    assert(back.schema.fieldNames.toSeq == Seq("id", "name", "score", "flag"))
    assert(back.collect().toSet == rows.collect().toSet)
    // Null fields are OMITTED from documents (document-store shape), not
    // written as explicit JSON nulls.
    val raw = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(p => p.contains("part-") && p.endsWith(".jsonl"))
      .flatMap(p => scala.io.Source.fromFile(p).getLines().toList)
    assert(raw.length == 4)
    assert(!raw.exists(_.contains("null")))
  }

  test("filter and projection push into the connector scan") {
    val dir = tmpDir("push")
    rows.write.format("docstore").mode("overwrite").save(dir)
    val q = spark.read.format("docstore").load(dir)
      .filter(col("score") > 0.0 && col("name").isNotNull)
      .select("id", "name")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThan(score,0.0)"), plan)
    assert(plan.contains("IsNotNull(name)"), plan)
    // Projection pruning: only the needed fields are materialized. `score`
    // stays out of ReadFields even though it is filtered on — the filter
    // runs on the parsed document, pre-materialization.
    assert(plan.contains("ReadFields: [id, name]"), plan)
    assert(q.collect().toSet == Set(Row(1L, "alice"))) // 0.0 and -2.25 fail >0, null-score row drops
  }

  test("unsupported predicates stay Spark-side as residuals, results still correct") {
    val dir = tmpDir("resid")
    rows.write.format("docstore").mode("overwrite").save(dir)
    val q = spark.read.format("docstore").load(dir)
      .filter(length(col("name")) === 5) // length() is not a pushable Filter
      .select("id")
    assert(q.collect().map(_.getLong(0)).toSet == Set(1L, 4L)) // alice, carol
  }

  test("limit pushes into the scan; filter+limit compose") {
    val dir = tmpDir("limit")
    spark.range(1000).selectExpr("id", "cast(id % 10 as double) as score")
      .write.format("docstore").mode("overwrite").save(dir)
    val q = spark.read.format("docstore").load(dir)
      .filter(col("score") > 5.0).limit(7)
    assert(q.queryExecution.executedPlan.toString.contains("PushedLimit: 7"))
    val got = q.collect()
    assert(got.length == 7 && got.forall(_.getDouble(1) > 5.0))
  }

  test("append adds documents; overwrite truncates the collection") {
    val dir = tmpDir("modes")
    rows.limit(2).write.format("docstore").mode("overwrite").save(dir)
    rows.filter(col("id") >= 3).write.format("docstore").mode("append").save(dir)
    assert(spark.read.format("docstore").load(dir).count() == 4)
    rows.limit(1).write.format("docstore").mode("overwrite").save(dir)
    assert(spark.read.format("docstore").load(dir).count() == 1)
  }

  test("append with a SUBSET of columns union-merges the schema (no field hidden)") {
    val dir = tmpDir("schemamerge")
    rows.write.format("docstore").mode("overwrite").save(dir) // id, name, score, flag
    // a narrower append must not shrink the stored schema: 'name'/'score'/
    // 'flag' stay readable (and survive a later compact, which rewrites
    // through the stored schema)
    spark.range(100, 102).select(col("id"))
      .write.format("docstore").mode("append").save(dir)
    val back = spark.read.format("docstore").load(dir)
    assert(back.columns.toSet == Set("id", "name", "score", "flag"))
    assert(back.filter(col("name").isNotNull).count() == 3)
    // a WIDER append extends the schema; old docs read null for the new field
    spark.range(200, 201).select(col("id"), lit(true).as("extra"))
      .write.format("docstore").mode("append").save(dir)
    val wide = spark.read.format("docstore").load(dir)
    assert(wide.columns.toSet == Set("id", "name", "score", "flag", "extra"))
    assert(wide.filter(col("extra")).count() == 1)
  }

  test("a RETYPED append fails fast, before any shard is staged") {
    val dir = tmpDir("retype")
    rows.write.format("docstore").mode("overwrite").save(dir) // id bigint
    val before = spark.read.format("docstore").load(dir).count()
    val e = intercept[Exception] {
      Seq(("9", "x", 0.0)).toDF("id", "name", "score")
        .write.format("docstore").mode("append").save(dir)
    }
    assert(e.getMessage != null && e.getMessage.contains("retypes field 'id'")
      || Option(e.getCause).exists(_.getMessage.contains("retypes field 'id'")))
    assert(spark.read.format("docstore").load(dir).count() == before,
      "failed retype staged no data")
    // overwrite legitimately replaces the schema, retype included
    Seq(("9", "x", 0.0)).toDF("id", "name", "score")
      .write.format("docstore").mode("overwrite").save(dir)
    assert(spark.read.format("docstore").load(dir).schema("id").dataType ==
      org.apache.spark.sql.types.StringType)
  }

  test("a CASE-VARIANT append is rejected (document keys are case-sensitive)") {
    val dir = tmpDir("casevar")
    rows.write.format("docstore").mode("overwrite").save(dir)
    // 'ID' would either union-merge into an ambiguous {id, ID} pair or
    // write docs whose keys the stored schema can't read back — loud, not
    // silent
    val e = intercept[Exception] {
      Seq((9L, "x")).toDF("ID", "name")
        .write.format("docstore").mode("append").save(dir)
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("case-variant"))
    assert(spark.read.format("docstore").load(dir).columns.toSet ==
      Set("id", "name", "score", "flag"))
  }

  test("writer shards become read partitions (parallel scan)") {
    val dir = tmpDir("shards")
    spark.range(100).select(col("id"), (col("id") % 7).as("bucket"))
      .repartition(4)
      .write.format("docstore").mode("overwrite").save(dir)
    val back = spark.read.format("docstore").load(dir)
    assert(back.rdd.getNumPartitions == 4)
    assert(back.agg(sum("id")).head.getLong(0) == 4950L)
  }

  test("zone-map shard pruning: range-disjoint shards are skipped by a pushed filter") {
    val dir = tmpDir("zonemap")
    // repartitionByRange → shards with disjoint id ranges → perfect zone maps
    spark.range(1000).selectExpr("id", "concat('u', lpad(cast(id as string), 4, '0')) as name")
      .repartitionByRange(4, col("id"))
      .write.format("docstore").mode("overwrite").save(dir)

    val q = spark.read.format("docstore").load(dir).filter(col("id") >= 900)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("Shards: 1/4"), plan)
    assert(q.count() == 100)

    // equality point lookup: one shard
    val point = spark.read.format("docstore").load(dir).filter(col("id") === 17)
    assert(point.queryExecution.executedPlan.toString.contains("Shards: 1/4"))
    assert(point.count() == 1)

    // string prefix below every shard's min: zero shards read
    val none = spark.read.format("docstore").load(dir).filter(col("name").startsWith("zzz"))
    assert(none.count() == 0)
    assert(none.queryExecution.executedPlan.toString.contains("Shards: 0/4"))

    // unpruned full scan still sees everything
    assert(spark.read.format("docstore").load(dir).count() == 1000)
  }

  test("StringStartsWith pruning compares in UTF-8 order (supplementary-plane max)") {
    val dir = tmpDir("utf8prune")
    // one shard whose stats max is an emoji: in UTF-8 byte order the emoji
    // (F0 9F ...) sorts ABOVE U+FFFF (EF BF BF), but in UTF-16 code-unit
    // order its surrogate (0xD83D) sorts BELOW — a prune test using
    // String.compareTo would skip this shard and silently drop the match
    Seq((1L, "￿abc"), (2L, "😀hi"), (3L, "plain")).toDF("id", "s")
      .coalesce(1).write.format("docstore").mode("overwrite").save(dir)
    val q = spark.read.format("docstore").load(dir).filter(col("s").startsWith("￿"))
    assert(q.count() == 1, "the U+FFFF-prefixed document must be found")
    assert(q.head().getLong(0) == 1L)
  }

  test("zone maps survive append and stay consistent after overwrite") {
    val dir = tmpDir("zonemap2")
    spark.range(0, 100).toDF("id").coalesce(1)
      .write.format("docstore").mode("overwrite").save(dir)
    spark.range(1000, 1100).toDF("id").coalesce(1)
      .write.format("docstore").mode("append").save(dir)
    val hi = spark.read.format("docstore").load(dir).filter(col("id") >= 1000)
    assert(hi.queryExecution.executedPlan.toString.contains("Shards: 1/2"))
    assert(hi.count() == 100)
    // overwrite resets stats along with data
    spark.range(5).toDF("id").coalesce(1)
      .write.format("docstore").mode("overwrite").save(dir)
    val all = spark.read.format("docstore").load(dir).filter(col("id") >= 0)
    assert(all.queryExecution.executedPlan.toString.contains("Shards: 1/1"))
    assert(all.count() == 5)
  }

  test("aggregate pushdown: COUNT/MIN/MAX answered from stats, no shard read") {
    val dir = tmpDir("aggpush")
    rows.repartition(2).write.format("docstore").mode("overwrite").save(dir)
    val q = spark.read.format("docstore").load(dir)
      .agg(count(lit(1)).as("n"), count(col("score")).as("n_score"),
        min(col("score")).as("mn"), max(col("name")).as("mx"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates"), plan)
    assert(plan.contains("no shard read"), plan)
    val r = q.head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)) ==
      (4L, 3L, -2.25, "carol"))
    // a filter disables the metadata path and still computes correctly
    val f = spark.read.format("docstore").load(dir)
      .filter(col("score") > 0.0).agg(count(lit(1)))
    assert(!f.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    assert(f.head.getLong(0) == 1L)
  }

  test("aggregate pushdown declines for a field missing from stored stats (wider schema)") {
    val dir = tmpDir("aggdecline")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.format("docstore").mode("overwrite").save(dir)
    val q = spark.read.format("docstore")
      .schema("id BIGINT, name STRING, extra DOUBLE").load(dir)
      .agg(count(col("extra")).as("n"), min(col("extra")).as("mn"))
    assert(!q.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    val r = q.head
    assert(r.getLong(0) == 0L && r.isNullAt(1))
  }

  test("aggregate pushdown returns correctly-boxed int min/max and exact bigint extremes") {
    val dir = tmpDir("aggbox")
    val big = 9007199254740993L // 2^53 + 1: double space would collapse it
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(5, big), Row(-3, big - 1))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("i", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("l", org.apache.spark.sql.types.LongType))))
      .write.format("docstore").mode("overwrite").save(dir)
    val q = spark.read.format("docstore").load(dir)
      .agg(min(col("i")).as("mi"), max(col("i")).as("ma"), max(col("l")).as("ml"))
    assert(q.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    val r = q.head
    assert((r.getInt(0), r.getInt(1), r.getLong(2)) == (-3, 5, big))
  }

  test("NaN double stats survive the round-trip without corrupting pruning") {
    val dir = tmpDir("nan")
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(1L, Double.NaN), Row(2L, 1.0))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType))))
      .coalesce(1).write.format("docstore").mode("overwrite").save(dir)
    // max accumulates to NaN (Spark's NaN-largest order); the shard must
    // NOT be pruned for score > 0.5, and both rows match Spark semantics.
    val q = spark.read.format("docstore").load(dir).filter(col("score") > 0.5)
    assert(q.queryExecution.executedPlan.toString.contains("Shards: 1/1"))
    assert(q.count() == 2) // NaN > 0.5 is true in Spark SQL
  }

  test("gzip shards: compressed write, transparent read, mixed collections, pruning intact") {
    val dir = tmpDir("gzip")
    rows.write.format("docstore").mode("overwrite")
      .option("compression", "gzip").save(dir)
    val gzShards = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".jsonl.gz"))
    assert(gzShards.nonEmpty)
    // actually gzip: magic bytes 1f 8b
    val head = Files.readAllBytes(Paths.get(gzShards.head)).take(2)
    assert(head(0) == 0x1f.toByte && head(1) == 0x8b.toByte)
    assert(spark.read.format("docstore").load(dir).collect().toSet == rows.collect().toSet)

    // mixed collection: plain append onto gzip shards reads seamlessly
    rows.limit(1).write.format("docstore").mode("append").save(dir)
    assert(spark.read.format("docstore").load(dir).count() == 5)

    // zone maps work identically on compressed shards
    val q = spark.read.format("docstore").load(dir).filter(col("score") > 100.0)
    assert(q.count() == 0)
    assert(q.queryExecution.executedPlan.toString.contains("Shards: 0/"))
  }

  test("unsupported compression value fails fast; compact preserves gzip encoding") {
    import graft.sources.docstore.DocStoreMaintenance
    val dir = tmpDir("gzip2")
    intercept[Exception] {
      rows.write.format("docstore").mode("overwrite")
        .option("compression", "snappy").save(dir)
    }
    spark.range(100).toDF("id").repartition(4)
      .write.format("docstore").mode("overwrite").option("compression", "gzip").save(dir)
    DocStoreMaintenance.compact(spark, dir, 2)
    val shards = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .map(p => p.substring(p.lastIndexOf('/') + 1))
      .filter(_.startsWith("part-")) // basename filter: skips .crc sidecars
    assert(shards.length == 2 && shards.forall(_.endsWith(".jsonl.gz")), shards.mkString(","))
    assert(spark.read.format("docstore").load(dir).agg(sum("id")).head.getLong(0) == 4950L)
  }

  test("SQL DDL surface: CREATE TABLE ... USING docstore, INSERT, query") {
    val dir = tmpDir("sql")
    spark.sql("DROP TABLE IF EXISTS docstore_sql_t")
    spark.sql(
      s"CREATE TABLE docstore_sql_t (id BIGINT, name STRING, score DOUBLE) " +
        s"USING docstore OPTIONS (path '$dir')")
    spark.sql("INSERT INTO docstore_sql_t VALUES (1, 'alice', 10.5), (2, 'bob', NULL)")
    val got = spark.sql(
      "SELECT id, name FROM docstore_sql_t WHERE score IS NOT NULL").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "alice")))
    spark.sql("DROP TABLE docstore_sql_t")
  }

  test("compact merges small shards, preserves data, keeps zone maps working") {
    import graft.sources.docstore.DocStoreMaintenance
    val dir = tmpDir("compact")
    // simulate streaming small files: 5 separate single-shard appends
    (0 until 5).foreach { i =>
      spark.range(i * 100, (i + 1) * 100).toDF("id").coalesce(1)
        .write.format("docstore").mode(if (i == 0) "overwrite" else "append").save(dir)
    }
    assert(spark.read.format("docstore").load(dir).rdd.getNumPartitions == 5)
    DocStoreMaintenance.compact(spark, dir, 2)
    val back = spark.read.format("docstore").load(dir)
    assert(back.rdd.getNumPartitions == 2)
    assert(back.count() == 500 && back.agg(sum("id")).head.getLong(0) == 124750L)
    // fresh stats still answer metadata-only aggregates and prune
    val agg = spark.read.format("docstore").load(dir).agg(count(lit(1)))
    assert(agg.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    assert(agg.head.getLong(0) == 500L)
  }

  test("compact crash mid-swap rolls forward on the next run without data loss") {
    import graft.sources.docstore.DocStoreMaintenance
    val dir = tmpDir("compact_crash")
    spark.range(200).toDF("id").repartition(4)
      .write.format("docstore").mode("overwrite").save(dir)

    // Simulate a crash just past the commit point: staged copy + marker
    // exist, old shards already deleted, staged files NOT yet moved in.
    val stagingId = "testcrash"
    val staging = s"$dir/.compact-$stagingId"
    spark.read.format("docstore").load(dir).repartition(1)
      .write.format("docstore").mode("overwrite").save(staging)
    val oldShards = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(p => p.substring(p.lastIndexOf('/') + 1).startsWith("part-") && p.endsWith(".jsonl"))
    Files.write(Paths.get(dir, "_compact_commit"),
      (stagingId +: oldShards.map(p => p.substring(p.lastIndexOf('/') + 1)).toSeq)
        .mkString("\n").getBytes)
    oldShards.foreach(p => Files.delete(Paths.get(p)))
    // mid-swap state: collection has ZERO visible shards, copy lives in staging

    DocStoreMaintenance.compact(spark, dir, 2) // must roll forward, then compact
    val back = spark.read.format("docstore").load(dir)
    assert(back.count() == 200 && back.agg(sum("id")).head.getLong(0) == 19900L)
    assert(back.rdd.getNumPartitions == 2)
    assert(!Files.exists(Paths.get(dir, "_compact_commit")))
  }

  test("tmp sweep is age-gated: fresh writer temps survive, stale ones are removed") {
    import graft.sources.docstore.DocStoreMaintenance
    val dir = tmpDir("tmpsweep")
    spark.range(50).toDF("id").write.format("docstore").mode("overwrite").save(dir)
    // a FRESH temp models a contract-violating concurrent writer's
    // in-flight task file — the sweep must leave it alone so the violation
    // degrades to leftover garbage, not a broken mid-task write
    val freshTmp = Paths.get(dir, ".tmp-0-1-fresh")
    Files.write(freshTmp, "in-flight".getBytes)
    // a STALE temp models a crashed task's leftover — provably dead, swept
    val staleTmp = Paths.get(dir, ".tmp-0-2-stale")
    Files.write(staleTmp, "crashed".getBytes)
    Files.setLastModifiedTime(staleTmp,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60L * 60 * 1000))
    DocStoreMaintenance.compact(spark, dir, 1)
    assert(Files.exists(freshTmp), "fresh in-flight temp was deleted by the sweep")
    assert(!Files.exists(staleTmp), "stale crash leftover survived the sweep")
    assert(spark.read.format("docstore").load(dir).count() == 50)
  }

  test("failed overwrite leaves the previous collection intact") {
    val dir = tmpDir("owfail")
    spark.range(10).toDF("id").write.format("docstore").mode("overwrite").save(dir)
    intercept[Exception] {
      spark.range(20).toDF("id")
        .select(when(col("id") < 15, col("id"))
          .otherwise(raise_error(lit("boom"))).as("id"))
        .write.format("docstore").mode("overwrite").save(dir)
    }
    // old data survives a failed overwrite: deletion happens at job commit
    assert(spark.read.format("docstore").load(dir).count() == 10)
  }

  test("missing field in stored docs reads as null under a wider external schema") {
    val dir = tmpDir("evolve")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.format("docstore").mode("overwrite").save(dir)
    val widened = spark.read.format("docstore")
      .schema("id BIGINT, name STRING, extra DOUBLE").load(dir)
    assert(widened.filter(col("extra").isNull).count() == 2)
  }
}

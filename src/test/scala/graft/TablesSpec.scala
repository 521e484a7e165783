package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-compat tripwire: the driver regenerates /root/testdata between
  * rounds and has already shipped `events.ts` under two different parquet
  * physical types (INT64 TIMESTAMP(NANOS) in rounds 1-6, TIMESTAMP_MICROS
  * NTZ from round 7). A silent physical-type change breaks every query on
  * the affected table, so each table gets a load + schema + trivial
  * aggregate assertion here. If the driver changes an encoding again, this
  * spec names the table instead of 60 queries failing opaquely.
  */
class TablesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("every table loads and has rows") {
    for (name <- Tables.names) {
      val df = Tables.load(spark, dir, name)
      assert(df.limit(1).count() == 1L, s"table $name is empty or unreadable")
    }
  }

  test("events loader normalizes ts to TimestampType regardless of parquet encoding") {
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType,
      s"events.ts must load as TimestampType, got ${ev.schema("ts").dataType}")
    // The driver generates 2024 timestamps; a unit mix-up (ns read as µs
    // lands in 1970, µs read as ns lands far future) moves the year.
    val years = ev.select(year(col("ts"))).distinct().collect().map(_.getInt(0))
    assert(years.forall(y => y >= 2023 && y <= 2025),
      s"events.ts instants out of expected range, years=${years.mkString(",")}")
  }

  test("events has the expected analysis columns") {
    val cols = Tables.events(spark, dir).columns.toSet
    for (c <- Seq("event_id", "ts", "event_type", "user_id", "value"))
      assert(cols.contains(c), s"events missing column $c (have ${cols.mkString(",")})")
  }

  test("documents and embeddings carry the pipeline columns") {
    val doc = Tables.documents(spark, dir)
    for (c <- Seq("doc_id", "text"))
      assert(doc.columns.contains(c), s"documents missing $c")
    val emb = Tables.embeddings(spark, dir)
    assert(emb.columns.contains("vec_id") || emb.columns.contains("doc_id"),
      s"embeddings missing id column (have ${emb.columns.mkString(",")})")
    val vecCol = emb.schema.fields.find(f => f.dataType.isInstanceOf[ArrayType])
    assert(vecCol.isDefined, "embeddings has no array-typed vector column")
  }

  test("each table supports a trivial aggregate") {
    for (name <- Tables.names) {
      val n = Tables.load(spark, dir, name).count()
      assert(n > 0L, s"count($name) == 0")
    }
  }

  /** `body` with `nanosAsLong` set to `on`, the session's value restored after. */
  private def withNanosAsLong[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("load's footer schema is the one inference gives, every table, nanosAsLong off and on") {
    for (sf <- Seq("sf0.001", "sf0.01"); on <- Seq(false, true); name <- Tables.names) {
      val d = s"/root/testdata/$sf"
      withNanosAsLong(on) {
        assert(Tables.load(spark, d, name).schema == spark.read.parquet(s"$d/$name.parquet").schema,
          s"$sf/$name with nanosAsLong=$on")
      }
    }
  }

  test("a table rewritten with another schema loads the new schema") {
    import spark.implicits._
    val d = tempDir("graft_tables_rewrite").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$d/t.parquet")
    assert(Tables.load(spark, d, "t").schema.fieldNames.toSeq == Seq("id", "s"))
    Seq((2.5, 3)).toDF("x", "y").write.mode("overwrite").parquet(s"$d/t.parquet")
    val back = Tables.load(spark, d, "t")
    assert(back.schema == spark.read.parquet(s"$d/t.parquet").schema)
    assert(back.schema.fieldNames.toSeq == Seq("x", "y"))
    assert(back.collect().toSeq == Seq(Row(2.5, 3)))
  }

  test("a Spark-written directory of two part files loads") {
    val d = tempDir("graft_tables_parts").toString
    spark.range(0, 10, 1, 2).select(col("id"), col("id").cast("string").as("s"))
      .write.parquet(s"$d/two.parquet")
    val parts = new java.io.File(s"$d/two.parquet").list().count(_.endsWith(".parquet"))
    assert(parts == 2, s"expected two part files, got $parts")
    val back = Tables.load(spark, d, "two")
    assert(back.schema == spark.read.parquet(s"$d/two.parquet").schema)
    assert(back.select("id").collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
  }
}

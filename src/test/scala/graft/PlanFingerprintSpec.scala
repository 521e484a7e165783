package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins [[PlanFingerprint]]'s node-class vocabulary against known tiny
  * plans, so a Spark upgrade that renames or restructures an exec node
  * (the advisory-B failure class for string-matched gates) breaks a
  * UNIT test with a readable diff — not the round's PlanDrift gate with
  * 146 opaque DELTA rows.
  */
class PlanFingerprintSpec extends SparkSpec {

  private lazy val noAqe = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  private def fp(df: DataFrame): String =
    PlanFingerprint.of(df.queryExecution.executedPlan)

  test("aggregate: one hash exchange, partial+final aggregate pair") {
    val df = noAqe.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
    assert(fp(df) === "hx1.agg2", df.queryExecution.executedPlan.toString)
  }

  test("broadcast join: broadcast exchange + BHJ, no shuffle") {
    import noAqe.implicits._
    val a = noAqe.range(100).toDF("id")
    val b = Seq((1L, "x")).toDF("id", "v")
    val df = a.join(broadcast(b), "id")
    assert(fp(df).contains("bx1"), fp(df))
    assert(fp(df).contains("bhj1"), fp(df))
    assert(!fp(df).contains("hx"), fp(df))
  }

  test("global sort: one range exchange + sort") {
    val df = noAqe.range(100).toDF("id").orderBy(desc("id"))
    assert(fp(df) === "rx1.srt1", df.queryExecution.executedPlan.toString)
  }

  test("window: hash exchange + sort + window on the partition key") {
    import org.apache.spark.sql.expressions.Window
    val df = noAqe.range(100).selectExpr("id % 7 AS k", "id")
      .withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("id")))
    val f = fp(df)
    assert(f.contains("hx1") && f.contains("win1") && f.contains("srt1"), f)
  }

  test("parquet scan + top-k: sc and top categories") {
    val dir = tempDir("graft_fp").toString
    noAqe.range(100).selectExpr("id", "id % 3 AS k").write.mode("overwrite").parquet(dir)
    val df = noAqe.read.parquet(dir).filter(col("k") === 1).orderBy("id").limit(5)
    val f = fp(df)
    assert(f.contains("sc1") && f.contains("top1"), f)
  }

  test("scalar subquery plans count toward the fingerprint") {
    val dir = tempDir("graft_fp_sub").toString
    noAqe.range(100).selectExpr("id", "id % 3 AS k").write.mode("overwrite").parquet(dir)
    noAqe.read.parquet(dir).createOrReplaceTempView("fp_t")
    val df = noAqe.sql("SELECT id FROM fp_t WHERE id > (SELECT avg(id) FROM fp_t)")
    val f = fp(df)
    // main tree: one scan; subquery: one scan + its aggregate pair
    assert(f.contains("sc2"), f)
    assert(f.contains("agg"), f)
  }

  test("fingerprints are stable across repeated planning") {
    val df1 = noAqe.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
    val df2 = noAqe.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
    assert(fp(df1) === fp(df2))
  }
}

package graft


import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property test for the docstore's subtlest invariant: pushed filters are
  * TRUSTED by Spark (never re-checked), and zone-map pruning may drop whole
  * shards — so for ANY data and ANY pushable predicate, the connector's
  * filtered read must return exactly what Spark itself computes filtering
  * the original DataFrame. One shared comparison order (filter eval, stats
  * accumulation, prune decisions) is what makes this hold; this spec
  * attacks it with the values where orders historically diverge: NaN,
  * ±0.0, longs beyond 2^53, supplementary-plane unicode, empty strings,
  * and nulls.
  */
class DocStoreZoneMapPropSpec extends SparkSpec {

  private val trickyLong: Gen[java.lang.Long] = Gen.oneOf[Gen[java.lang.Long]](
    Gen.const(Long.box(9007199254740992L)), // 2^53
    Gen.const(Long.box(9007199254740993L)), // 2^53+1: collapses in double space
    Gen.const(Long.box(Long.MinValue)), Gen.const(Long.box(Long.MaxValue)),
    Gen.choose(-100L, 100L).map(Long.box)
  ).flatMap(g => g)

  private val trickyDouble: Gen[java.lang.Double] = Gen.oneOf[Gen[java.lang.Double]](
    Gen.const(Double.box(Double.NaN)), Gen.const(Double.box(0.0)),
    Gen.const(Double.box(-0.0)), Gen.const(Double.box(Double.PositiveInfinity)),
    Gen.const(Double.box(-1.5e300)), Gen.choose(-50.0, 50.0).map(Double.box)
  ).flatMap(g => g)

  private val trickyString: Gen[String] = Gen.oneOf[Gen[String]](
    Gen.const("😀emoji"), // U+1F600: UTF-16 vs UTF-8 order diverges
    Gen.const("ﬀligature"),
    Gen.const(""), Gen.const("zz"),
    Gen.alphaLowerStr.map(_.take(4))
  ).flatMap(g => g)

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("l", LongType), StructField("d", DoubleType),
    StructField("s", StringType)))

  test("pruned+pushed read ≡ Spark filtering the original, on adversarial values") {
    val rowGen = for {
      l <- Gen.option(trickyLong)
      d <- Gen.option(trickyDouble)
      s <- Gen.option(trickyString)
    } yield (l.orNull, d.orNull, s.orNull)

    (1L to 6L).foreach { seed =>
      val data = sample(Gen.listOfN(80, rowGen), seed).zipWithIndex.map { case (r, i) =>
        Row(i.toLong, r._1, r._2, r._3)
      }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
      val dir = tempDir("graft_zonemap_prop").toString
      // range-partition on id so shards get genuinely different zone maps
      df.repartitionByRange(4, col("id")).write.format("docstore").mode("overwrite").save(dir)
      val store = spark.read.format("docstore").load(dir)

      // predicates over every column and every pushable shape, with
      // boundary literals drawn from the tricky pools
      val preds = Seq(
        col("l") > 9007199254740992L, col("l") === 9007199254740993L,
        col("l") <= -100L, col("l").isNotNull, col("l").isNull,
        col("d") > 0.0, col("d") === 0.0, col("d") >= -0.0, col("d") < 10.0,
        col("d").isNotNull,
        col("s") > "ﬀ", col("s") === "", col("s").startsWith("z"),
        col("s") <= "m", col("s").isNotNull,
        col("l") > 0L && col("d") < 1.0,
        col("s").isNotNull && col("d").isNotNull && col("d") > -1.0)

      // NaN != NaN under ==, so normalize it to a token before set compare
      def norm(r: Row): List[Any] = r.toSeq.toList.map {
        case d: java.lang.Double if d.isNaN => "NaN"
        case other => other
      }
      preds.foreach { p =>
        val expect = df.filter(p).collect().map(norm).toSet
        val got = store.filter(p).collect().map(norm).toSet
        assert(got == expect,
          s"seed=$seed predicate=$p\nmissing=${expect.diff(got)}\nextra=${got.diff(expect)}")
      }
    }
  }
}

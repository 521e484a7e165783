package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All tables are plain parquet; Catalyst gets full predicate pushdown and
  * column pruning on them. At cluster scale the same API would point at a
  * partitioned table root instead of a single file — the query code does not
  * change.
  *
  * Schema from the footer, on the driver: `spark.read.parquet(path)` with
  * no schema infers one by running a one-task Spark job that reads the
  * footer on an executor and converts it. For one file that job is pure
  * fixed cost, paid by every query that opens a table: one job per open
  * of the 19 that the benchmark's 8 registry queries ran while their
  * DataFrames were built. [[load]] reads the same footer here, without
  * its row groups, converts it with the converter Spark's inference uses,
  * built from the session's SQL conf at load time, and opens the file
  * with that schema.
  *
  * No cache: every load reads the footer again, so a file rewritten with
  * another schema loads its new schema, and a conf that changes the
  * conversion (`Tables.events`'s `nanosAsLong`) takes effect on the next
  * load. A load costs about 14 ms of CPU this way against 87 ms with
  * inference (sf0.1 `lineitem`, local[4] on a 4-vCPU VM, medians of 41).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  /** Parquet `paths` this engine wrote with one schema, opened with the
    * schema of the first one's footer.
    */
  private[graft] def readParquet(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths.head).fold(spark.read)(spark.read.schema(_)).parquet(paths: _*)

  /** The schema Spark's inference would give `path`, read on the driver
    * from the footer inference would read: the file itself, or in a
    * directory the summary file if there is one, else the first data file
    * by path. None for a directory with no file of its own (a partitioned
    * layout, whose partition columns come from the paths); inference
    * handles that one.
    */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    val file: Option[FileStatus] =
      if (!status.isDirectory) Some(status)
      else {
        val files = fs.listStatus(p).filter(_.isFile).sortBy(_.getPath.toString)
        def named(n: String) = files.find(_.getPath.getName == n)
        named("_common_metadata").orElse(named("_metadata"))
          .orElse(files.find(f => !f.getPath.getName.matches("[_.].*")))
      }
    file.map { f =>
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** `events.ts` has shipped as two different physical types across driver
    * testdata generations: INT64 TIMESTAMP(NANOS) (rounds 1-6) and
    * TIMESTAMP_MICROS / NTZ (round 7+). We keep both paths live and branch
    * on the type Spark actually loaded, so a future regeneration flipping
    * back does not break the suite again:
    *
    *   - LongType (via `nanosAsLong=true`, which Spark 4 needs because
    *     nanosecond timestamps exceed TimestampType's µs precision):
    *     truncate ns → µs, exactly what DuckDB's `cast(ts as timestamp)`
    *     does on the oracle side, so both engines see identical instants.
    *   - TimestampNTZType: cast to session-local TimestampType. The session
    *     timezone is UTC (GraftSession), so NTZ → LTZ is an identity on the
    *     underlying instant and matches DuckDB's naive-timestamp read.
    *   - TimestampType: already what we want; pass through.
    */
  /** `events.value` CONTRACT: finite or NULL, never NaN. Every ingest
    * path in this engine already satisfies it (the log parsers emit NULL
    * for an unparseable metric, never NaN), and the driver's generator
    * has never shipped NaN. The contract is deliberate, not an oversight:
    * normalizing here (`when(!isnan(value), value)`) would put a computed
    * projection over every events scan and forfeit parquet pushdown of
    * value predicates (PlanCheck pins `PushedFilters: [IsNotNull(value),
    * GreaterThan(value,150.0)]` on s1), while a NaN would ALSO error ~14
    * DuckDB oracles at `cast(value as decimal)` — measured with the
    * degenerate-corpus gate, round 10. A pipeline ingesting external
    * doubles must normalize NaN at ITS writer, where the row is already
    * being materialized anyway.
    *
    * The same writer contract covers SIGNED ZERO (r16, fuzz find):
    * `value` is never -0.0. Spark normalizes -0.0 to +0.0 the moment a
    * double becomes a grouping/join/window key (NormalizeFloatingNumbers)
    * while DuckDB groups them as equal but emits whichever representative
    * it saw first — so a -0.0 reaching a value-keyed aggregate (the w5/w7
    * value histogram) prints differently per engine with identical
    * semantics. The engine already canonicalizes zeros at its other
    * boundary (docstore canonKey / cmpValues / Bloom.hashPair); external
    * writers normalize at ingest for the same reason.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integral div: ns → µs. `div` truncates toward ZERO — deliberately
        // NOT floor division (TimeUs's convention): the governing contract
        // here is ORACLE parity, and DuckDB's ns→µs cast measured
        // -1500 ns → -1 µs (trunc), not -2 (floor). Testdata is post-epoch
        // so the branch is dormant; if pre-epoch nanos ever ship, this and
        // the oracle must stay trunc together.
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
}

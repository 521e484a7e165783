package graft

import org.apache.spark.sql.functions._

/** The incremental-maintenance correctness claims behind
  * `pipe_incremental_report`: report partials persisted per ingest batch
  * (the 100 TB shape — each batch scans only ITS documents) merge into
  * exactly the report a corpus-wide one-shot pass produces, independent
  * of how the partials are grouped or partitioned; and the KMV
  * distinct-text estimate degrades to an EXACT count below sketch
  * capacity. The QueryDef's DuckDB oracle already proves merged ==
  * one-shot on real data (the oracle computes in one pass); this spec
  * proves the same through genuinely persisted parquet state and pins
  * the null-source / null-text edges the driver data may not exercise.
  */
class IncrementalReportSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("merged persisted partials == one-shot report; history never re-scanned") {
    val tmp = tempDir("inc_report").toString
    // each batch computes and persists its partials from ONLY its slice
    (0 until 4).foreach { b =>
      QueriesExt.reportPartials(
          docs.filter(pmod($"doc_id", lit(4)) === b), lit(b))
        .write.parquet(s"$tmp/b$b")
    }
    val oneShot = rows(QueriesExt.mergeReport(
      QueriesExt.reportPartials(docs, pmod($"doc_id", lit(4)))))

    // full merge over persisted state
    val persisted = spark.read.parquet((0 until 4).map(b => s"$tmp/b$b"): _*)
    assert(rows(QueriesExt.mergeReport(persisted)) == oneShot)

    // the maintenance step: day-3 arrives as a fresh partial against
    // persisted history 0-2 — merge must equal the full recompute
    val history = spark.read.parquet((0 until 3).map(b => s"$tmp/b$b"): _*)
    val fresh = QueriesExt.reportPartials(
      docs.filter(pmod($"doc_id", lit(4)) === 3), lit(3))
    assert(rows(QueriesExt.mergeReport(history.unionByName(fresh))) == oneShot)

    // merge is partitioning-invariant (KMV union-then-trim is order-free)
    assert(rows(QueriesExt.mergeReport(persisted.repartition(7))) == oneShot)
  }

  test("below sketch capacity the distinct estimate is EXACT; null edges hold") {
    // source A: 3 docs, 2 distinct texts (exact path, est = 2.0);
    // source NULL: one real text + one null text (NULL is a real group;
    // the null text must be skipped by the sketch, counted by n_docs);
    // source B: only null text -> empty sketch -> est exactly 0.0.
    val tiny = Seq(
      (0L, "alpha beta gamma", "A"),
      (1L, "alpha beta gamma", "A"),
      (2L, "delta epsilon", "A"),
      (3L, "the quick brown fox", null),
      (4L, null, null),
      (5L, null, "B"))
      .toDF("doc_id", "text", "source")
    val out = QueriesExt.mergeReport(
        QueriesExt.reportPartials(tiny, pmod($"doc_id", lit(2))))
      .collect().map(r => (Option(r.getString(0)),
        r.getLong(1), Option(r.get(7)).map(_.asInstanceOf[Double])))
    val bySource = out.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(bySource(Some("A")) == ((3L, Some(2.0))))
    assert(bySource(None) == ((2L, Some(1.0))))
    assert(bySource(Some("B")) == ((1L, Some(0.0))))
  }
}

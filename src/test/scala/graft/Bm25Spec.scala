package graft

import org.apache.spark.sql.functions._

/** Semantic checks of the ir_bm25 ranking (the registry oracle proves the
  * arithmetic hash-exact vs DuckDB; these prove the RANKING behaves like
  * BM25 should on controlled fixtures).
  */
class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = tempDir("graft_bm25").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // satisfy Tables loaders the query touches (documents only here)
    dir
  }

  private def run(dir: String) =
    SparkEntry.queries("ir_bm25")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

  test("higher tf of a query term ranks first; rank is dense from 1") {
    val dir = writeDocs(Seq(
      (1L, "hash join hash join hash"), // q1 terms, high tf
      (2L, "hash join table table table table"), // q1 terms, lower density + longer
      (3L, "table scan filter slow scan"), // q2-ish
      (4L, "customer order data customer order"), // q3
      (5L, "the quick brown fox"))) // matches nothing
    val out = run(dir)
    val q1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(q1.head._3 == 1L, s"doc 1 (dense hash/join) should top q1: ${q1.toSeq}")
    assert(q1.map(_._2).toSeq == (1L to q1.length).toSeq)
    // doc 5 shares no term with any query: absent everywhere
    assert(!out.exists(_._3 == 5L))
    // scores are non-increasing within each query
    Seq(1L, 2L, 3L).foreach { q =>
      val scores = out.filter(_._1 == q).sortBy(_._2).map(_._4).toSeq
      assert(scores == scores.sorted.reverse, s"q$q not sorted: $scores")
    }
  }

  test("length normalization: same tf in a longer doc scores lower") {
    val pad = Seq.fill(40)("zzz").mkString(" ")
    val dir = writeDocs(Seq(
      (1L, "slow scan filter"),
      (2L, s"slow scan filter $pad"),
      (3L, "unrelated words only here")))
    val out = run(dir).filter(_._1 == 2L)
    val short = out.find(_._3 == 1L).map(_._4).get
    val long = out.find(_._3 == 2L).map(_._4).get
    assert(short > long, s"b=0.75 must penalize the padded doc: $short vs $long")
  }
}

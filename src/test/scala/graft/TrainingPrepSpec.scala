package graft

import org.apache.spark.sql.functions._

/** Invariants for the training-data-prep queries over the real sf0.001
  * tables (the oracle hash-checks exact values at sf0.01; these assert the
  * STRUCTURAL properties a pipeline depends on).
  */
class TrainingPrepSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("tx_chunk: chunks tile every document exactly") {
    val chunks = SparkEntry.queries("tx_chunk")(spark, sf)
    val perDoc = chunks.groupBy("doc_id").agg(
      max(col("start") + col("chunk_tokens") - 1).as("covered"),
      count(lit(1)).as("n_chunks"),
      max("chunk_idx").as("max_idx"),
      min(col("chunk_tokens")).as("min_ct"),
      max(col("chunk_tokens")).as("max_ct"))
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), "\\s+")).as("n_tokens"))
    val joined = perDoc.join(docs, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      // last chunk ends exactly at the last token; indices are 1..n
      assert(r.getAs[Long]("covered") == r.getAs[Int]("n_tokens").toLong)
      assert(r.getAs[Long]("max_idx") == r.getAs[Long]("n_chunks"))
      assert(r.getAs[Long]("min_ct") >= 1L && r.getAs[Long]("max_ct") <= 32L)
    }
  }

  test("tx_pack: cumulative sums are consistent and bins move forward") {
    val packed = SparkEntry.queries("tx_pack")(spark, sf).collect()
    assert(packed.nonEmpty)
    packed.groupBy(r => (r.getAs[String]("lang"), r.getAs[Long]("shard")))
      .foreach { case (_, rows) =>
        val ordered = rows.sortBy(_.getAs[Long]("doc_id"))
        var cum = 0L
        var lastBin = -1L
        ordered.foreach { r =>
          cum += r.getAs[Long]("n_tok")
          assert(r.getAs[Long]("cum_tok") == cum)
          val bin = r.getAs[Long]("bin_id")
          assert(bin >= lastBin)       // bins only move forward
          lastBin = bin
        }
      }
  }

  test("tx_redact: output carries no unredacted PII and counts are positive") {
    val red = SparkEntry.queries("tx_redact")(spark, sf)
    val leftovers = red.filter(
      col("redacted").rlike("\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}") ||
      col("redacted").rlike("@") ||
      col("redacted").rlike("\\bu\\d+\\b")).count()
    assert(leftovers == 0)
    val m = red.agg(min("n_ips").as("mi"), min("n_emails").as("me"),
      min("n_users").as("mu")).head()
    assert(m.getAs[Long]("mi") == 2L && m.getAs[Long]("me") == 1L
      && m.getAs[Long]("mu") == 1L)
  }

  test("tx_decontaminate: hits are train-side docs with real overlap") {
    val hits = SparkEntry.queries("tx_decontaminate")(spark, sf).collect()
    assert(hits.nonEmpty)
    hits.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 13 != 0)  // benchmark docs never flagged
      assert(r.getAs[Long]("n_hits") >= 1L)
    }
  }

  test("a19_approx_quantiles: GK sketch quantiles within rank-error bound of exact") {
    val rows = Queries.a19Raw(spark, sf).collect()
    assert(rows.nonEmpty)
    // the registered query adjudicates the same bound in-query; it must
    // agree with the independent recomputation below
    assert(SparkEntry.queries("a19_approx_quantiles")(spark, sf).collect()
      .forall(_.getAs[Boolean]("approx_ok")))
    // The sketch guarantee is a RANK bound, not a value bound (exact
    // `percentile` interpolates; the sketch returns a real data value, and
    // adjacent order statistics in a sparse tail can be far apart in value
    // space). Assert each returned value's rank interval intersects the
    // target rank ± the accuracy-implied tolerance.
    val grouped = Tables.events(spark, sf).select("event_type", "value").collect()
      .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getDouble(1)).sorted }
    rows.foreach { r =>
      val vals = grouped(r.getAs[String]("event_type"))
      val n = vals.length.toDouble
      val tol = 1.0 / 10000 + 2.0 / n
      val q = r.getAs[Double]("p")
      val a = r.getAs[Double]("approx_v")
      val below = vals.count(_ < a) / n   // lowest possible rank of a
      val atOrBelow = vals.count(_ <= a) / n // highest possible rank
      assert(below - q <= tol && q - atOrBelow <= tol,
        s"q=$q approx=$a rank=[$below,$atOrBelow] for ${r.getAs[String]("event_type")}")
    }
  }

  test("a19: an all-null-value event_type still emits its 3 rows (n=0, null quantiles)") {
    import spark.implicits._
    // the driver's degenerate corpus plants one null per column but never
    // an ALL-null group — that case lives here: before the r11 left-join
    // fix the group silently vanished (inner join with the IS NOT NULL
    // histogram side, posexplode of a null zip emitting zero rows)
    val dir = tempDir("graft_a19_allnull").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq(
      (1L, ts, 1L, "ok", Option(1.0), "{}"),
      (2L, ts, 2L, "ok", Option(2.0), "{}"),
      (3L, ts, 3L, "ghost", Option.empty[Double], "{}"),
      (4L, ts, 4L, "ghost", Option.empty[Double], "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val raw = Queries.a19Raw(spark, dir).collect()
    val ghostRaw = raw.filter(_.getAs[String]("event_type") == "ghost")
    assert(ghostRaw.length == 3, s"all-null group must emit 3 quantile rows, got ${ghostRaw.length}")
    ghostRaw.foreach { r =>
      assert(r.getAs[Any]("approx_v") == null && r.getAs[Any]("exact_v") == null)
      assert(r.getAs[Long]("n") == 0L) // n = NON-NULL value count, not row count
    }
    // the registered (oracle-checked) output: same 3 rows, vacuously in-bound
    val out = SparkEntry.queries("a19_approx_quantiles")(spark, dir).collect()
    val ghost = out.filter(_.getAs[String]("event_type") == "ghost")
    assert(ghost.length == 3)
    ghost.foreach { r =>
      assert(r.getAs[Any]("exact_v") == null && r.getAs[Long]("n") == 0L)
      assert(r.getAs[Boolean]("approx_ok")) // vacuous: no values, null estimate
    }
    // and the populated group is unaffected: n counts its non-null values
    assert(out.filter(_.getAs[String]("event_type") == "ok")
      .forall(r => r.getAs[Long]("n") == 2L && r.getAs[Boolean]("approx_ok")))
  }

  test("a18_approx_distinct: HLL estimates within the rsd-implied bound of exact") {
    val rows = Queries.a18Raw(spark, sf).collect()
    assert(rows.nonEmpty)
    // the registered query adjudicates the same bound in-query
    assert(SparkEntry.queries("a18_approx_distinct")(spark, sf).collect()
      .forall(r => r.getAs[Boolean]("users_ok") && r.getAs[Boolean]("events_ok")))
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_users").toDouble
      val exact = r.getAs[Long]("exact_users").toDouble
      // rsd 1%; allow 5 sigma + integer slack — a failure here means the
      // sketch is broken, not unlucky
      assert(math.abs(approx - exact) <= math.max(2.0, 0.05 * exact),
        s"approx=$approx exact=$exact for ${r.getAs[String]("event_type")}")
    }
  }

  test("tx_surprisal: bounded by corpus extremes, equal texts score equal") {
    val sc = SparkEntry.queries("tx_surprisal")(spark, sf)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val tok = docs.select(explode(split(col("text"), "\\s+")).as("t"))
    val ug = tok.groupBy("t").count().agg(
      sum("count").as("total"), max("count").as("maxc"), min("count").as("minc")).head()
    val (total, maxc, minc) = (ug.getLong(0).toDouble, ug.getLong(1).toDouble, ug.getLong(2).toDouble)
    val rows = sc.collect()
    assert(rows.length == docs.count())
    rows.foreach { r =>
      val m = r.getAs[Double]("mean_surprisal")
      // mean of per-token ln(total/cnt) lies between the extremes
      assert(m >= math.log(total / maxc) - 1e-9 && m <= math.log(total / minc) + 1e-9, s"$m")
    }
    // identical texts must get identical scores (the model is a pure
    // function of text given the corpus)
    val dup = docs.as("a").join(docs.as("b"),
        col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
    val scored = dup.join(sc.select(col("doc_id").as("ida"), col("mean_surprisal").as("sa")), "ida")
      .join(sc.select(col("doc_id").as("idb"), col("mean_surprisal").as("sb")), "idb")
      .collect()
    // (sf0.001 happens to have no exact dups — the clause is vacuous there
    // but bites at sf0.01+, where dd_exact's fixtures guarantee dups)
    scored.foreach(r => assert(r.getAs[Double]("sa") == r.getAs[Double]("sb")))
  }

  test("tx_source_cap: equals the window formulation, caps at 20, rank-ordered") {
    import org.apache.spark.sql.expressions.Window
    val capped = SparkEntry.queries("tx_source_cap")(spark, sf).collect()
    assert(capped.nonEmpty)
    // per-source: ranks are 1..n (n <= 20), priorities ascend with rank
    capped.groupBy(_.getAs[String]("source")).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Long]("rnk"))
      assert(byRank.length <= 20)
      assert(byRank.map(_.getAs[Long]("rnk")).toSeq == (1L to byRank.length).toSeq)
      val pris = byRank.map(r => (r.getAs[Long]("priority"), r.getAs[Long]("doc_id"))).toSeq
      assert(pris == pris.sorted, "kept pairs must ascend by (priority, doc_id)")
    }
    // the kept SET is exactly what the (non-scalable) window formulation keeps
    val pri = pmod(pmod(col("doc_id"), lit(1048576L)) * 982451653L, lit(1048576L))
    val w = Window.partitionBy("source").orderBy("pri", "doc_id")
    val viaWindow = Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"), pri.as("pri"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 20)
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val viaAgg = capped.map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"))).toSet
    assert(viaAgg == viaWindow)
  }

  test("BottomKPairs: partitioning-independent and exact vs sort-take") {
    import spark.implicits._
    // adversarial input: duplicate priorities (ties broken by id), k larger
    // than some groups, k smaller than others
    val rows = (0 until 500).map { i =>
      (s"g${i % 7}", (i * 31) % 13L /* many priority ties */, i.toLong)
    }
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (r._2, r._3)).sorted.take(9)
    }
    for (parts <- Seq(1, 3, 16)) {
      val got = rows.toDF("g", "p", "id").repartition(parts)
        .groupBy("g")
        .agg(graft.functions.TopKAgg.bottomKPairs(col("p"), col("id"), 9).as("kept"))
        .collect()
        .map(r => r.getAs[String]("g") ->
          r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getLong(1))).toSeq)
        .toMap
      assert(got == expected, s"parts=$parts")
    }
  }

  test("tx_length_buckets: buckets partition the corpus; waste is sound") {
    val out = SparkEntry.queries("tx_length_buckets")(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs,
      "every document lands in exactly one bucket")
    out.foreach { r =>
      val (b, n, s, w) = (r.getAs[Long]("bucket"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("sum_tok"), r.getAs[Long]("pad_waste"))
      assert(w == n * b - s, "waste is exactly the pad-to-bound deficit")
      assert(w >= 0, s"bucket $b: docs above their bound (waste $w < 0)")
      // each bucket's tokens exceed the previous bound (else the doc
      // would have classified into the smaller bucket)
      assert(s > 0 && n > 0)
    }
    val buckets = out.map(_.getAs[Long]("bucket"))
    assert(buckets.sorted.sameElements(buckets), "sorted by bucket")
    assert(buckets.distinct.length == buckets.length)
  }

  test("tx_backoff_surprisal: held-out docs average higher surprisal") {
    val out = SparkEntry.queries("tx_backoff_surprisal")(spark, sf).collect()
    assert(out.length == Tables.documents(spark, sf).count())
    val (held, inModel) = out.partition(_.getAs[Boolean]("held_out"))
    assert(held.nonEmpty && inModel.nonEmpty)
    def mean(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getAs[Double]("mean_surprisal")).sum / rs.length
    // held-out docs contain bigrams the model never saw → the 0.4-backoff
    // path fires and their average surprisal exceeds the in-model slice's
    assert(mean(held) > mean(inModel),
      s"backoff penalty missing: held=${mean(held)} in=${mean(inModel)}")
    // every surprisal is positive and finite (S < 1 for every pair by
    // construction: no bigram dominates its history's unigram count)
    out.foreach { r =>
      val v = r.getAs[Double]("mean_surprisal")
      assert(v > 0 && !v.isInfinite && !v.isNaN)
    }
  }
}

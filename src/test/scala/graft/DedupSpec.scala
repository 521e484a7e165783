package graft

import graft.functions.{Dedup, ShingleIndex}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup of 1
    (4L, "completely different content about spark catalyst optimizer rules and physical plans"),
    (5L, "another unrelated document mentioning streaming watermarks and stateful aggregation here")
  ).toDF("doc_id", "text")

  test("exact dedup: canonical id is min id of identical texts") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (1L, 2L) && out(2L) == (1L, 2L))
    assert(out(3L) == (3L, 1L) && out(4L) == (4L, 1L))
  }

  test("exact dedup with verifyText groups by (hash, text) and matches hash-only") {
    val fast = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val safe = Dedup.exact(docs, "doc_id", "text", verifyText = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fast == safe) // no collisions in fixture → identical output
  }

  test("ngram jaccard: exact dup pair at 1.0, near dup above 0.5, others absent") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0.5 && pairs((1L, 3L)) < 1.0)
    assert(pairs.contains((2L, 3L)))
    assert(pairs.size == 3)
  }

  test("substring spans: maximal cross-doc dup runs, overlap/nesting merged, threshold applied") {
    // doc 10 shares its 8-token head with doc 11 and its 7-token tail with
    // doc 12, separated by unique tokens → TWO distinct spans.
    // doc 20's copies OVERLAP: doc 21 shares tokens 0-4, doc 22 shares
    // tokens 3-7 — the dup trigram positions are consecutive, so the
    // islands logic must merge them into ONE maximal whole-doc span (the
    // per-partner formulation would emit two overlapping fragments).
    val fixture = Seq(
      (10L, "a1 a2 a3 a4 a5 a6 a7 a8 u1 u2 b1 b2 b3 b4 b5 b6 b7"),
      (11L, "a1 a2 a3 a4 a5 a6 a7 a8 x1 x2 x3 x4 x5"),
      (12L, "y1 y2 y3 y4 y5 b1 b2 b3 b4 b5 b6 b7"),
      (20L, "c1 c2 c3 c4 c5 c6 c7 c8"),
      (21L, "c1 c2 c3 c4 c5 q1 q2"),
      (22L, "q3 q4 c4 c5 c6 c7 c8"),
      (30L, "entirely unique words with no copied passage anywhere at all")
    ).toDF("doc_id", "text")
    def spans(minTokens: Int): Set[(Long, Long, Long)] =
      Dedup.substringSpans(fixture, "doc_id", "text", n = 3, minTokens = minTokens)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val s7 = spans(7)
    assert(s7.filter(_._1 == 10L) == Set((10L, 0L, 8L), (10L, 10L, 7L)),
      s"doc 10 spans: ${s7.filter(_._1 == 10L)}")
    assert(s7.filter(_._1 == 20L) == Set((20L, 0L, 8L)),
      s"doc 20 must have ONE merged maximal span: ${s7.filter(_._1 == 20L)}")
    assert(!s7.exists(_._1 == 30L))
    // threshold: the 7-token tail span drops at minTokens=8, the 8-token
    // spans stay
    val s8 = spans(8)
    assert(s8.filter(_._1 == 10L) == Set((10L, 0L, 8L)))
    assert(s8.filter(_._1 == 20L) == Set((20L, 0L, 8L)))
  }

  test("minhash LSH: candidates include exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 2, k = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near-dup recalled
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("minhash est_jaccard for exact dups is 1.0") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 2, k = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
  }

  test("LSH bucket self-joins pin sort-merge when AQE is off (no blind broadcast)") {
    // With AQE disabled the repartition stage boundary cannot inform the
    // planner, and the static estimate under the explode is slim enough
    // to invite a broadcast of the data-sized index (the SCALE.md x100p
    // driver-kill). The guard must fall back to a pinned sort-merge.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    import s2.implicits._
    val d2 = Seq((1L, "a b c d e f"), (2L, "a b c d e g")).toDF("doc_id", "text")
    val simPlan = Dedup.simhashPairs(d2, "doc_id", "text", maxDist = 6)
      .queryExecution.executedPlan.toString
    assert(simPlan.contains("SortMergeJoin") && !simPlan.contains("BroadcastHashJoin"),
      simPlan.linesIterator.take(20).mkString("\n"))
    val mhPlan = Dedup.minhashLshPairs(d2, "doc_id", "text", shingleN = 2)
      .queryExecution.executedPlan.toString
    assert(mhPlan.contains("SortMergeJoin"), mhPlan.linesIterator.take(20).mkString("\n"))
  }

  test("simhash pairs: exact dups at hamming 0; unrelated docs not paired") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) == 0L)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("incremental dedup classifies exact_dup / near_dup / new against the base") {
    // base = docs 1..5; delta: 11 exact-dups doc 1, 13 near-dups doc 1
    // (one word changed), 15 is brand new
    val delta = Seq(
      (11L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (13L, "the quick brown fox jumps over the lazy dog near the river bank sometimes"),
      (15L, "entirely novel delta text with no overlap in shingles whatsoever at all here")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalStatus(ShingleIndex.derive(docs, "doc_id", "text", n = 2),
      delta, "doc_id", "text", threshold = 0.5, maxDf = 100)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    // exact dup: matched to the MIN base id with identical text (1, not 2)
    assert(out(11L) == (("exact_dup", Some(1L), None)))
    val (st13, m13, j13) = out(13L)
    assert(st13 == "near_dup" && m13.contains(1L))
    assert(j13.exists(j => j > 0.5 && j < 1.0))
    assert(out(15L) == (("new", None, None)))
  }

  test("incremental dedup: oversized delta degrades broadcasts to shuffle, same answer") {
    val delta = Seq(
      (11L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (13L, "the quick brown fox jumps over the lazy dog near the river bank sometimes"),
      (15L, "entirely novel delta text with no overlap in shingles whatsoever at all here")
    ).toDF("doc_id", "text")
    // both shingle sources: the corpus re-derived, and a persistent index of it
    val idxDir = tempDir("graft_dedup_degrade").toString
    ShingleIndex.bootstrap(docs, "doc_id", "text", n = 2, idxDir)
    for (src <- Seq(ShingleIndex.derive(docs, "doc_id", "text", n = 2),
                    ShingleIndex.read(spark, idxDir))) {
      def rows(limit: Long) = Dedup.incrementalStatus(src, delta, "doc_id", "text",
          threshold = 0.5, maxDf = 100, deltaBroadcastLimit = limit)
        .collect().map(r => (r.getLong(0), r.getString(1), Option(r.get(2)), Option(r.get(3))))
        .sortBy(_._1).toSeq
      // limit=1 < 3 delta rows → the degraded (keyed shuffle) plan; parity
      // with the broadcast plan is the contract ("auto-degrade, not chunk")
      assert(rows(limit = 1L) == rows(limit = 500000L))
    }
    // With AQE off the degraded plan must contain NO broadcast at all
    // (runtime sizing is unavailable, so every broadcast would be a
    // static blind one — the class the guard exists to prevent). Under
    // AQE a runtime-sized broadcast of a genuinely-small side is fine.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    import s2.implicits._
    val baseNoAqe = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (4L, "completely different content about spark catalyst optimizer rules and physical plans")
    ).toDF("doc_id", "text")
    val deltaNoAqe = Seq(
      (11L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (15L, "entirely novel delta text with no overlap in shingles whatsoever at all here")
    ).toDF("doc_id", "text")
    val idxNoAqe = tempDir("graft_dedup_degrade_noaqe").toString
    ShingleIndex.bootstrap(baseNoAqe, "doc_id", "text", n = 2, idxNoAqe)
    for (src <- Seq(ShingleIndex.derive(baseNoAqe, "doc_id", "text", n = 2),
                    ShingleIndex.read(s2, idxNoAqe))) {
      val degraded = Dedup.incrementalStatus(src, deltaNoAqe, "doc_id", "text",
        threshold = 0.5, maxDf = 100, deltaBroadcastLimit = 1L)
      val plan = degraded.queryExecution.executedPlan
      val broadcastJoins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j.joinType
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j.joinType
      }
      // the ONLY broadcasts allowed to survive degradation are the
      // left-anti hot-shingle caps (bounded by construction: ≤ shingle
      // volume / maxDf rows); every delta-carrying join must be sort-merge
      assert(broadcastJoins.nonEmpty && broadcastJoins.forall(_.sql == "LEFT ANTI"),
        s"degraded incrementalStatus still broadcasts a non-anti join: $broadcastJoins\n" +
          plan.toString.linesIterator.take(40).mkString("\n"))
      assert(plan.toString.contains("SortMergeJoin"))
      assert(degraded.collect().map(_.getLong(0)).sorted.toSeq == Seq(11L, 15L))
    }
  }

  test("a binding df cap: LSH-verified pairs equal the pair join, indexed status equals re-derive") {
    // Every doc ends in the same 24-token boilerplate: its 23 bigrams sit
    // in all 8 docs, far above maxDf = 3, so the cap drops them. Uncapped,
    // the boilerplate alone makes any two docs a pair (23/39 ≈ 0.59);
    // capped, only the 8 unique bigrams per doc are left.
    val boiler = (1 to 24).map(i => s"boiler$i").mkString(" ")
    def doc(family: String, edit: Int = 0) =
      ((1 to 8).map(i => if (i == edit) s"edited$i" else s"$family$i") :+ boiler).mkString(" ")
    val capDocs = Seq(
      1L -> doc("a"), 2L -> doc("a", edit = 4), 3L -> doc("a"),
      4L -> doc("b"), 5L -> doc("c"), 6L -> doc("d"), 7L -> doc("e"), 8L -> doc("f")
    ).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = pairs(Dedup.ngramJaccardPairs(capDocs, "doc_id", "text",
      n = 2, threshold = 0.5, maxDf = 3))
    // not vacuous: the cap removes the boilerplate-only pairs
    assert(capped.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 3L), (2L, 3L)), capped)
    assert(pairs(Dedup.ngramJaccardPairs(capDocs, "doc_id", "text",
      n = 2, threshold = 0.5, maxDf = 100)).size == 28)
    assert(pairs(Dedup.minhashLshVerifiedPairs(capDocs, "doc_id", "text",
      shingleN = 2, k = 64, bands = 32, threshold = 0.5, maxDf = 3)) == capped)

    val base = capDocs.filter(col("doc_id") =!= 2L && col("doc_id") =!= 3L)
    val delta = capDocs.filter(col("doc_id") === 2L || col("doc_id") === 3L)
      .union(Seq(9L -> doc("g")).toDF("doc_id", "text"))
    def status(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), Option(r.get(2)), Option(r.get(3))))
        .sortBy(_._1).toSeq
    val rederive = status(Dedup.incrementalStatus(
      ShingleIndex.derive(base, "doc_id", "text", n = 2), delta, "doc_id", "text",
      threshold = 0.5, maxDf = 3))
    assert(rederive.map(r => r._1 -> r._2) ==
      Seq(2L -> "near_dup", 3L -> "exact_dup", 9L -> "new"), rederive)
    // not vacuous: without the cap the new doc matches on boilerplate
    assert(status(Dedup.incrementalStatus(
      ShingleIndex.derive(base, "doc_id", "text", n = 2), delta, "doc_id", "text",
      threshold = 0.5, maxDf = 100)).map(_._2).last == "near_dup")
    val idxDir = tempDir("graft_dedup_cap").toString
    graft.functions.ShingleIndex.bootstrap(base, "doc_id", "text", n = 2, idxDir)
    assert(status(Dedup.incrementalStatus(
      graft.functions.ShingleIndex.read(spark, idxDir), delta, "doc_id", "text",
      threshold = 0.5, maxDf = 3)) == rederive)
  }
}

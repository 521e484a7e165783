package graft

import graft.functions.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // 8 deterministic 8-dim vectors in 2 label blocks; vec 0 ≈ vec 1.
  private def vec(seed: Int): Array[Float] =
    Array.tabulate(8)(d => math.sin(seed * 7.3 + d * 1.7).toFloat)
  private val vectors = (0 until 8).map { i =>
    val base = if (i == 1) vec(0) else vec(i)
    val e = if (i == 1) base.updated(0, base(0) + 0.01f) else base
    (i.toLong, e, i % 2)
  }.toDF("vec_id", "embedding", "label")

  private def cosLocal(a: Array[Float], b: Array[Float]): Double = {
    def dot(x: Array[Float], y: Array[Float]) =
      x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  }

  test("bruteForceTopK: ranks agree with locally computed cosines") {
    val local = vectors.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val out = Similarity.bruteForceTopK(vectors, vectors.filter($"vec_id" === 0L), k = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    val expected = local.toSeq.filter(_._1 != 0L)
      .map { case (id, e) => (id, cosLocal(local(0L), e)) }
      .sortBy { case (id, c) => (-c, id) }.take(3)
    assert(out.length == 3)
    out.zip(expected).zipWithIndex.foreach { case (((gotId, gotCos, gotRank), (expId, expCos)), i) =>
      assert(gotId == expId && gotRank == i + 1)
      assert(math.abs(gotCos - expCos) < 1e-12)
    }
    // the near-identical vector 1 must be rank 1
    assert(out.head._1 == 1L)
  }

  test("mmrTopK: greedy MMR matches a naive reference and diversifies") {
    // Corpus engineered for redundancy: vectors 1 and 2 are both near-copies
    // of the query direction (relevance top-2), vector 3 is orthogonal-ish.
    // Pure relevance picks {1, 2} first; MMR must demote the redundant 2.
    val q = Array.tabulate(8)(d => math.cos(d * 0.9).toFloat)
    def jitter(base: Array[Float], s: Int) =
      base.zipWithIndex.map { case (x, d) => x + 0.01f * ((s + d) % 3) }
    val corpus = Seq(
      (1L, jitter(q, 0)), (2L, jitter(q, 1)),
      (3L, Array.tabulate(8)(d => math.sin(d * 1.3).toFloat)),
      (4L, Array.tabulate(8)(d => (math.cos(d * 0.9) * 0.5 + math.sin(d * 2.1) * 0.8).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, q)).toDF("vec_id", "embedding")
    val out = Similarity.mmrTopK(corpus, queries, m = 4, k = 3)
      .orderBy("sel_rank")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))

    // naive reference on locally computed cosines
    val local = corpus.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val rel = local.view.mapValues(e => cosLocal(q, e)).toMap
    var sel = List.empty[Long]
    val expect = (1 to 3).map { step =>
      val (bestId, bestMmr) = local.keys.toSeq.filterNot(sel.contains).map { c =>
        val pen = sel.map(s => cosLocal(local(c), local(s))).maxOption.getOrElse(0.0)
        (c, if (sel.isEmpty) 0.7 * rel(c) else 0.7 * rel(c) - 0.3 * pen)
      }.minBy { case (id, m) => (-m, id) }
      sel ::= bestId
      (step.toLong, bestId, bestMmr)
    }
    out.zip(expect).foreach { case ((gr, gi, gm), (er, ei, em)) =>
      assert(gr == er && gi == ei, s"rank $er: got $gi, want $ei")
      assert(math.abs(gm - em) < 1e-12)
    }
    // With lam=0.7 and pick 1 ≈ the query direction, a near-duplicate's
    // penalty ≈ every rival's relevance, so it legitimately stays at rank 2
    // (checked above). Diversity shows at lam=0.3: the redundant near-copy
    // of pick 1 must drop out of rank 2.
    val diverse = Similarity.mmrTopK(corpus, queries, m = 4, k = 3,
      lam = 0.3, penW = 0.7)
      .orderBy("sel_rank").collect().map(r => (r.getLong(2)))
    assert(diverse(0) == 1L && diverse(1) != 2L, diverse.toSeq)
  }

  test("lshTopK: near-identical vector is recalled at rank 1") {
    val out = Similarity.lshTopK(vectors, vectors.filter($"vec_id" === 0L),
      k = 3, bits = 4)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(out.nonEmpty)
    assert(out.head == (1L, 1)) // identical-up-to-epsilon vector shares buckets
  }

  test("nearDupPairs: finds the injected near-dup within its label block only") {
    // vec 0 and 1 share label 0 (0%2=0, 1%2=1) — adjust: use a block col of all-same
    val sameBlock = vectors.withColumn("blk", lit(1))
    val pairs = Similarity.nearDupPairs(sameBlock, "blk", threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)))
    assert(pairs.length < 5) // random sin-vectors shouldn't be near-dups at 0.999
  }

  test("ivfCentroids: k-means cells are more balanced than the first-16 seed") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    def maxCell(cents: Array[Array[Float]]): Long = emb.select(
        element_at(graft.functions.NativeExpressions.nearestCentroids(
          col("embedding"), cents, 1), 1).as("cell"))
      .groupBy("cell").count().agg(max("count")).head().getLong(0)
    val seed = Similarity.ivfCentroids(emb, nCentroids = 16, lloydIters = 0)
    val trained = Similarity.ivfCentroids(emb, nCentroids = 16, lloydIters = 2)
    val (seedMax, trainedMax) = (maxCell(seed), maxCell(trained))
    info(s"max cell occupancy: first-16 seed = $seedMax, k-means(2) = $trainedMax (n=500, 16 cells)")
    assert(trainedMax < seedMax) // Lloyd rounds must spread the hot cell
    assert(trainedMax <= 3 * 500 / 16) // and no cell may hold >3x the even share
  }

  test("ivfCentroids is deterministic across invocations") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val a = Similarity.ivfCentroids(emb, 16, 2)
    val b = Similarity.ivfCentroids(emb, 16, 2)
    assert(a.map(_.toSeq) sameElements b.map(_.toSeq))
  }

  test("sim_kmeans: cells partition the corpus and cohesion is sane") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val stats = Similarity.kmeansClusterStats(emb).collect()
    assert(stats.map(_.getAs[Long]("n_members")).sum == emb.count(),
      "every vector lands in exactly one cell")
    assert(stats.map(_.getAs[Long]("cell")).distinct.length == stats.length)
    stats.foreach { r =>
      val c = r.getAs[Double]("avg_cos")
      assert(c >= -1.0 && c <= 1.0)
      assert(r.getAs[Long]("min_vec_id") >= 0L)
    }
    // a member's cosine to its own centroid should usually beat a random
    // pairing — mean cohesion across cells must be clearly positive
    val meanCohesion = stats.map(_.getAs[Double]("avg_cos")).sum / stats.length
    assert(meanCohesion > 0.2, s"mean cohesion $meanCohesion") // ~0 for random pairings; measures 0.298
  }

  test("pqTopK: recall@5 ≥0.8 vs brute force at sf0.01 (registry params)") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteForceTopK(emb, queries, k = 5))
    val pq = pairs(Similarity.pqTopK(emb, queries, k = 5))
    val recall = (truth & pq).size.toDouble / truth.size
    info(f"PQ recall@5 = $recall%.3f (${(truth & pq).size}/${truth.size})")
    // measures 0.94 at the registry params; floor leaves headroom
    assert(recall >= 0.8)
  }

  test("sq8TopK: recall@5 vs brute force at sf0.01 and the ADC error envelope") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteForceTopK(emb, queries, k = 5))
    val out = Similarity.sq8TopK(emb, queries, k = 5)
    val sq = pairs(out)
    val recall = (truth & sq).size.toDouble / truth.size
    info(f"SQ8 recall@5 = $recall%.3f (${(truth & sq).size}/${truth.size})")
    // 8-bit per-dim quantization reconstructs within half a step per
    // component, so the approximate ranking is near-exact; floor leaves
    // headroom for testdata regeneration
    assert(recall >= 0.9)
    // the error envelope: a broken quantizer (scale off by a factor,
    // shifted codes, swapped min/max) pushes sq_cos far from the exact
    // cosine; a correct one stays within a tight band on unit-scale data
    val maxErr = out.select(max(abs($"sq_cos" - $"cos"))).collect()(0).getDouble(0)
    info(f"SQ8 max |sq_cos - cos| over results = $maxErr%.5f")
    assert(maxErr <= 0.05)
  }

  test("sq8TopK: exact ranks on the tiny fixture; degenerates never surface") {
    // margins between the 8 fixture vectors dwarf the quantization step,
    // so SQ8's final ranking must EQUAL brute force exactly
    // sort by rank before comparing: collect() after a window + filter has
    // no row-order contract (ranks are unique within the single query)
    val out = Similarity.sq8TopK(vectors, vectors.filter($"vec_id" === 0L), k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(4))).sortBy(_._2)
    val exact = Similarity.bruteForceTopK(vectors, vectors.filter($"vec_id" === 0L), k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(3))).sortBy(_._2)
    assert(out.toSeq == exact.toSeq)

    // zero-norm and NaN-component vectors: excluded from stats and ranking,
    // and must not displace real neighbors (the rankTopK degenerate contract)
    val degen = vectors.union(Seq(
      (100L, Array.fill(8)(0.0f), 0),
      (101L, Array.fill(8)(Float.NaN), 1)).toDF("vec_id", "embedding", "label"))
    val dOut = Similarity.sq8TopK(degen, degen.filter($"vec_id" === 0L), k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(4))).sortBy(_._2)
    assert(dOut.toSeq == exact.toSeq)
  }

  test("semanticDedup prunes within-cluster near-dups, keeps everything else") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val out = Similarity.semanticDedup(emb).collect()
    assert(out.length == emb.count()) // every vector classified exactly once
    val cellOf = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pruned = out.filter(!_.getBoolean(2))
    info(s"pruned ${pruned.length}/${out.length}")
    assert(pruned.nonEmpty) // the corpus has within-cluster near-dups at 0.45
    pruned.foreach { r =>
      val (v, by) = (r.getLong(0), r.getLong(3))
      assert(by < v, "pruned_by must be a lower id")
      assert(cellOf(by) == r.getLong(1), "pruned_by must share the cell")
      assert(cellOf.contains(by), "pruned_by must be a corpus member")
    }
    // the kept set plus prune edges covers the corpus
    assert(out.count(_.getBoolean(2)) + pruned.length == out.length)
  }

  test("radiusSearch: agrees with brute-force top-k on the overlap, respects the threshold") {
    val sf = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
    val radius = Similarity.radiusSearch(emb, queries, minCos = 0.25).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(radius.values.forall(_ >= 0.25), "every returned cosine clears the threshold")
    assert(radius.keys.forall { case (q, n) => q != n }, "self-pairs excluded")
    // top-k and radius must agree wherever both apply: any top-5 neighbor
    // with cos ≥ θ is in the radius result with the identical cosine
    val topk = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    topk.filter(_._2 >= 0.25).foreach { case (pair, cos) =>
      assert(radius.get(pair).contains(cos), s"pair $pair: same cosine in both searches")
    }
    // and a top-1 neighbor below θ proves its query legitimately has no
    // radius matches (not a silent drop)
    val top1Below = topk.groupBy(_._1._1).filter(_._2.map(_._2).max < 0.25).keySet
    top1Below.foreach(q => assert(!radius.keys.exists(_._1 == q)))
  }

  test("degenerate inputs: a zero-norm vector never reaches top-k; NaN never enters TopKDoubles") {
    import spark.implicits._
    // corpus with one all-zero embedding (a failed encoder's output):
    // its cosine is 0/0 = NaN, which desc-sorts above every real — the
    // ranking must drop it, not hand it rank 1 for every query
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), "q"), (1L, Array(0.9f, 0.1f), "c"),
      (2L, Array(0.0f, 0.0f), "zero"), (3L, Array(0.5f, 0.5f), "c"))
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0L), k = 3)
      .collect()
    assert(top.nonEmpty && top.forall(_.getLong(1) != 2L),
      "the zero-norm vector must not occupy a top-k slot")
    assert(top.forall(r => !r.getDouble(2).isNaN))

    // TopKDoubles: NaN inputs are excluded, so the retained set is the
    // same multiset regardless of partitioning/arrival order
    val data = Seq(3.0, Double.NaN, 1.0, 5.0, Double.NaN, 4.0)
    val results = Seq(1, 2, 3).map { parts =>
      data.toDF("v").repartition(parts)
        .agg(graft.functions.TopKAgg.topKValues(col("v"), 2)).head.getSeq[Double](0).toList
    }
    assert(results.distinct.size == 1, s"partitioning-independent: $results")
    assert(results.head == List(5.0, 4.0))
  }

  test("degenerate inputs: a NaN component never passes a threshold filter") {
    import spark.implicits._
    // Spark orders NaN ABOVE every numeric, so `NaN * x > 0` and
    // `NaN >= threshold` are both TRUE — an unguarded cosine makes one
    // failed-encoder NaN vector "similar" to everything and floods every
    // threshold-filtered pair set (the round-10 degenerate-corpus gate
    // caught exactly this in sim_near_dup/sim_radius/sim_semantic_dedup).
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), "a"), (1L, Array(0.9f, 0.1f), "a"),
      (2L, Array(Float.NaN, 1.0f), "a"), (3L, Array(1.0f, 0.1f), "a"))
      .toDF("vec_id", "embedding", "label")
    val pairs = Similarity.nearDupPairs(vecs, "label", threshold = 0.45).collect()
    assert(pairs.nonEmpty, "real near-dup pairs survive")
    assert(pairs.forall(r => r.getLong(0) != 2L && r.getLong(1) != 2L),
      s"the NaN vector must not appear in any pair: ${pairs.mkString(",")}")
    assert(pairs.forall(r => !r.getDouble(2).isNaN))
    val radius = Similarity.radiusSearch(vecs, vecs.filter(col("vec_id") === 0L),
      minCos = 0.25).collect()
    assert(radius.nonEmpty && radius.forall(_.getLong(1) != 2L),
      "radius search must drop the NaN vector")
  }

  test("l2Norm matches local math") {
    val row = vectors.filter($"vec_id" === 2L)
      .select(Similarity.l2Norm($"embedding")).head()
    val local = math.sqrt(vec(2).map(x => x.toDouble * x.toDouble).sum)
    assert(math.abs(row.getDouble(0) - local) < 1e-12)
  }

  test("ivfCentroids/pqCodebooks: mechanical train-set cap = deterministic 1-in-m sample") {
    // 200 pseudo-random 8-dim vectors, cap 50 -> m = ceil(200/50) = 4: the
    // trainer must behave EXACTLY as if handed the explicit
    // md5Hash60(vec_id) % 4 == 0 subset (which fits under its own cap —
    // the hash keys the sample so it can't compose badly with a caller's
    // own vec_id-modulus pre-filter), and the cap must actually bite
    // (centroids differ from uncapped full-corpus training).
    val corpus = (0 until 200).map(i => (i.toLong, vec(i + 1000))).toDF("vec_id", "embedding")
    val explicitSub = corpus.filter(
      pmod(graft.functions.TopKAgg.md5Hash60(col("vec_id")), lit(4)) === 0)
    // the hash sample of 200 ids lands near 50 — verify it's under the cap
    // so the explicit run's own cap is a no-op (m=1)
    assert(explicitSub.count() <= 50L)

    val capped = Similarity.ivfCentroids(corpus, 4, 2, maxTrainRows = 50)
    val explicitRun = Similarity.ivfCentroids(explicitSub, 4, 2)
    assert(capped.map(_.toSeq).toSeq == explicitRun.map(_.toSeq).toSeq)
    val uncapped = Similarity.ivfCentroids(corpus, 4, 2)
    assert(capped.map(_.toSeq).toSeq != uncapped.map(_.toSeq).toSeq,
      "cap must change the train set on an oversized corpus")

    val cappedPq = Similarity.pqCodebooks(corpus, 8, 2, 4, 1, maxTrainRows = 50)
    val explicitPq = Similarity.pqCodebooks(explicitSub, 8, 2, 4, 1)
    assert(cappedPq.map(_.map(_.toSeq).toSeq).toSeq == explicitPq.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("pqCodebooks: codebook j equals ivfCentroids on subspace slice j, bit for bit") {
    // PQ trains each subspace with the same Lloyd trainer as the coarse
    // quantizer; the sim_pq oracle replays it that way (lloydCteSql per
    // subspace), so the two must agree to the last bit.
    def bits(c: Array[Array[Float]]): Seq[Seq[Int]] =
      c.map(_.map(java.lang.Float.floatToRawIntBits).toSeq).toSeq
    def agree(corpus: org.apache.spark.sql.DataFrame, dim: Int, m: Int,
              codes: Int, iters: Int): Unit = {
      val sub = dim / m
      val books = Similarity.pqCodebooks(corpus, dim, m, codes, iters)
      assert(books.length == m)
      (0 until m).foreach { j =>
        val slice = corpus.select(col("vec_id"),
          org.apache.spark.sql.functions.slice(col("embedding"), j * sub + 1, sub).as("embedding"))
        assert(bits(books(j)) == bits(Similarity.ivfCentroids(slice, codes, iters)),
          s"m=$m: codebook $j differs from the IVF trainer on its slice")
      }
    }
    // Seeded gaussian vectors, plus three planted ones whose sum depends
    // on the fold order: 1.0 is absorbed into ±2^60 when added after it
    // but survives when added after the two have cancelled. With one cell
    // every vector is a member, so any change of the vec_id-ordered fold
    // in either path shows in the float mean.
    val rnd = new scala.util.Random(20261019L)
    val big = math.pow(2, 60).toFloat
    val fixture = ((0L, Array.fill(16)(1.0f)) +: (1L, Array.fill(16)(big)) +:
      (2L, Array.fill(16)(-big)) +:
      (3 until 120).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))))
      .toDF("vec_id", "embedding")
    agree(fixture, dim = 16, m = 1, codes = 1, iters = 2)
    agree(fixture, dim = 16, m = 4, codes = 4, iters = 3)
    // the registry's sim_pq config on its train sample
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .filter(pmod(col("vec_id"), lit(Similarity.TrainModulus)) === 0)
    agree(emb, dim = 64, m = 16, codes = 16, iters = Similarity.PqLloydIters)
  }
}

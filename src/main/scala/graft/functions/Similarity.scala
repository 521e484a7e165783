package graft.functions

import graft.operators.Guards
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Scale design:
  *   - dot/cosine use the native codegen'd [[NativeExpressions.DotProduct]]
  *     kernel — same sequential-fold semantics as the HOF composition (and
  *     the DuckDB oracle), ~100× faster per pair.
  *   - norms are computed ONCE per vector before any pairing, so a pair
  *     costs one dot product, not three ([[queryFrame]], [[corpusFrame]],
  *     scored by [[pairCos]]).
  *   - brute-force top-k broadcasts the (small) QUERY set against the full
  *     corpus — the corpus is never broadcast and never shuffled with its
  *     embeddings; only narrow (query_id, neighbor_id, cos) rows move. A
  *     per-partition pre-rank ([[topKCut]]) bounds the final per-query
  *     window to #partitions × k rows, so one hot query key cannot skew the
  *     shuffle.
  *   - the LSH variant buckets vectors by deterministic random-hyperplane
  *     sign bits ([[NativeExpressions.HyperplaneBuckets]]); the candidate
  *     join is bucket-equality on ids only (shuffle O(n·tables) narrow
  *     rows), embeddings are re-attached per candidate afterwards.
  *   - the trained family (IVF, k-means, SemDeDup, PQ) shares one Lloyd
  *     trainer ([[lloyd]]) and one train sample ([[trainSample]]).
  *
  * Constants, not options: each value below is the one every registered
  * query uses, and the DuckDB oracles in `QueriesExt` interpolate the same
  * constant, so an engine-side change cannot drift from its replay.
  * Options that remain are of two kinds. The query's own inputs: `k`,
  * radiusSearch's `minCos`, nearDupPairs' `threshold` and mmrTopK's
  * shortlist `m`. And values a test sets to one the registry does not use,
  * to reach a path:
  *   - the trainers [[ivfCentroids]] and [[pqCodebooks]] take their train
  *     set, shape and rounds as given (SimilaritySpec trains 0 rounds, 4
  *     cells, 8-dim fixtures, m = 1/2/4), and `maxTrainRows` (the
  *     train-set cap test);
  *   - ivfTopK's `nCentroids`/`nProbe` (ExtensionsSpec: probing every
  *     cell equals brute force);
  *   - lshTopK's `bits`/`probes` (SimilaritySpec: single-probe on a tiny
  *     fixture);
  *   - mmrTopK's `lam`/`penW` (SimilaritySpec: the diversity arm).
  */
object Similarity {

  /** The trained family learns from the deterministic 1-in-2 sample
    * vec_id % 2 == 0: centroids need only a representative sketch of the
    * distribution, and the trainer's ordered-fold pass is the one
    * corpus-proportional stage (measured 6.3x at a 10x scale-up when
    * training on everything). Every vector is still ASSIGNED. */
  val TrainModulus: Int = 2

  /** PQ and SQ8 send ShortlistFactor·k approximate candidates per query
    * to the exact re-rank. */
  val ShortlistFactor: Int = 8

  /** Lloyd rounds of the whole-vector trainer in ivfTopK,
    * kmeansClusterStats and semanticDedup. */
  val LloydIters: Int = 2

  /** Cells of kmeansClusterStats. */
  val KmeansCentroids: Int = 16

  /** SemDeDup's floor on its derived centroid count k = max(16, ⌊√n⌋). */
  val MinDedupCentroids: Int = 16

  /** SemDeDup prunes a vector with a lower-id same-cell member at cosine
    * ≥ DedupThreshold (the corpus' near-dup threshold, as sim_near_dup). */
  val DedupThreshold: Double = 0.45

  /** Width of the embeddings table's vectors: PQ splits it into
    * [[PqSubspaces]] slices, SQ8 quantizes this many dimensions (a longer
    * vector's extra components score null, as DuckDB's out-of-range index). */
  val EmbeddingDim: Int = 64

  /** pqTopK's subspaces, codes per subspace codebook, and Lloyd rounds
    * (picked by a recall sweep: 0.94 recall@5 vs brute force at sf0.01). */
  val PqSubspaces: Int = 16
  val PqCodes: Int = 16
  val PqLloydIters: Int = 1

  /** Hash tables of lshTopK. */
  val LshTables: Int = 8

  /** Sequential-fold dot product in double precision (floats widen exactly,
    * fold order is left-to-right — bit-reproducible across engines).
    */
  def dot(a: Column, b: Column): Column = NativeExpressions.dotProduct(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Null for a zero-norm or NaN side — under ANSI (the Spark 4 default)
    * the unguarded 0.0/0.0 is a query-killing DIVIDE_BY_ZERO, not NaN,
    * and a NaN component would pass both `> 0` and any `>= threshold`
    * (Spark orders NaN above every numeric — see [[safeCos]]). */
  def cosine(a: Column, b: Column): Column = {
    val nn = l2Norm(a) * l2Norm(b)
    when(nn > 0 && !isnan(nn), dot(a, b) / nn)
  }

  /** Cosine from precomputed norms, null for a zero-norm OR NaN side. The
    * zero-norm arm is load-bearing under ANSI mode (the Spark 4 default):
    * an unguarded 0.0/0.0 is not NaN there but a DIVIDE_BY_ZERO error
    * that kills the whole query the moment one failed-encoder zero vector
    * appears. The !isnan arm is load-bearing for NaN EMBEDDING VALUES:
    * Spark SQL orders NaN above every numeric, so `NaN * x > 0` is TRUE
    * and `NaN >= threshold` is TRUE — without the arm, one NaN component
    * makes its vector "similar" to EVERYTHING and floods every
    * threshold-filtered pair set (radius, near-dup, SemDeDup prune) while
    * the ranking paths only survive via topKCut's explicit isnan filter.
    * (Found by the round-10 degenerate-corpus gate; the DuckDB oracles
    * carry the same two-arm guard.)
    */
  private def safeCos(d: Column, na: Column, nb: Column): Column =
    when(na * nb > 0 && !isnan(na * nb), d / (na * nb))

  /** (query_id, qe, qn): the query side of every pair scorer. */
  private def queryFrame(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .withColumn("qn", l2Norm(col("qe")))

  /** (neighbor_id, ne, nn): the corpus side of every pair scorer but
    * IVF's. It stays unspread — the dot-product kernel over this corpus is
    * too light to pay for a round-robin exchange (r18 A/B: Guards.spread
    * in bruteForceTopK measured sim_knn_brute 0.66 s vs 0.46 s warm, and
    * sim_retrieve/sim_mmr/ir_ndcg_eval ride it).
    */
  private def corpusFrame(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
      .withColumn("nn", l2Norm(col("ne")))

  /** The exact pair score of query `qe` against corpus column `e` (norm
    * `n`). cos = dot/(norm_a·norm_b) is bit-identical to
    * dot/(sqrt(dot(a,a))·sqrt(dot(b,b))) — same doubles, same operations.
    */
  private def pairCos(e: String = "ne", n: String = "nn"): Column =
    safeCos(dot(col("qe"), col(e)), col("qn"), col(n))

  /** (query_id, neighbor_id, `score`) for every joined pair but a vector
    * with itself. */
  private def scorePairs(joined: DataFrame, score: Column): DataFrame =
    joined.filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), score)

  /** Index of the nearest centroid, ties to the lower index. */
  private def nearestCell(v: Column, cents: Array[Array[Float]]): Column =
    element_at(NativeExpressions.nearestCentroids(v, cents, 1), 1)

  /** Sub-vector j of width `sub` (PQ's subspace slice). */
  private def subVec(v: Column, j: Int, sub: Int): Column = slice(v, j * sub + 1, sub)

  /** Per-query top-`k` of `scored` by (`score` desc, neighbor_id),
    * numbered 1..k in column `rank`. Phase 1 bounds each (query,
    * input-partition) to k candidates so the final single-key window never
    * sees more than #partitions·k rows.
    *
    * A null (zero-norm) or NaN score is dropped before ranking: desc sorts
    * NaN above every real, so one degenerate vector would occupy a top-k
    * slot for EVERY query (radius/threshold paths are naturally safe:
    * NaN ≥ t fails under safeCos).
    */
  private def topKCut(scored: DataFrame, score: String, k: Int, rank: String): DataFrame = {
    val perPart = Window.partitionBy(col("query_id"), col("pid"))
      .orderBy(desc(score), col("neighbor_id"))
    val global = Window.partitionBy("query_id").orderBy(desc(score), col("neighbor_id"))
    scored
      .filter(col(score).isNotNull && !isnan(col(score)))
      .withColumn("pid", spark_partition_id())
      .withColumn("prank", row_number().over(perPart))
      .filter(col("prank") <= k)
      .drop("pid", "prank")
      .withColumn(rank, row_number().over(global))
      .filter(col(rank) <= k)
  }

  /** (query_id, neighbor_id, cos, rank): the top-k of scored pairs. */
  private def rankTopK(pairs: DataFrame, k: Int): DataFrame =
    topKCut(pairs, "cos", k, "rank").select("query_id", "neighbor_id", "cos", "rank")

  /** Every (query, corpus) pair but a vector with itself, exactly scored:
    * queries broadcast, the corpus scanned map-only. */
  private def allPairs(corpus: DataFrame, queries: DataFrame): DataFrame =
    scorePairs(corpusFrame(corpus).crossJoin(broadcast(queryFrame(queries))),
      pairCos().as("cos"))

  /** Brute-force cosine top-k: the (small) query set is broadcast against
    * the full corpus. Returns (query_id, neighbor_id, cos, rank).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    rankTopK(allPairs(corpus, queries), k)

  /** Radius (range) similarity search: ALL corpus vectors with cosine ≥
    * minCos of each query — the fixed-threshold complement of top-k (top-k
    * bounds the result count, radius bounds the result quality; near-dup
    * mining and recall-oriented retrieval want the latter). Same scale
    * shape as [[bruteForceTopK]]: queries broadcast, corpus map-only
    * scanned, cosine filter evaluated inside the scan projection so
    * non-matches never leave the partition. No ranking state at all —
    * unlike top-k there is no per-query buffer to bound.
    */
  def radiusSearch(corpus: DataFrame, queries: DataFrame, minCos: Double): DataFrame =
    allPairs(corpus, queries).filter(col("cos") >= minCos)

  /** Deterministic random-hyperplane LSH bucket keys (one per table). */
  def lshBuckets(vec: Column, tables: Int, bits: Int): Column =
    NativeExpressions.hyperplaneBuckets(vec, tables, bits)

  /** LSH-bucketed approximate nearest neighbors over [[LshTables]] tables:
    * candidate (query, corpus) id pairs share at least one table bucket;
    * exact cosine + top-k runs on candidates only. Recall grows with the
    * table count, cost with bucket occupancy (2^bits buckets per table).
    *
    * `probes` enables MULTI-PROBE LSH (Lv et al., VLDB'07): each query also
    * probes every bucket whose key is within Hamming distance `probes` of
    * its own — sum(C(bits,i), i≤probes) keys per (query, table). This is the
    * scale-correct way to buy recall: the CORPUS side still emits exactly
    * one narrow (t, bk, id) row per table (shuffle stays O(n·tables) and
    * per-bucket occupancy stays n/2^bits), while the small query side
    * absorbs the probe fan-out. The alternative — shrinking `bits` until
    * single-probe recall is acceptable — inflates every corpus bucket to
    * n/2^bits and blows up the candidate join quadratically at 100 TB.
    * Measured on sf0.01 (RecallGateSpec): bits=8, probes=2 →
    * recall@5 = 1.00 vs brute force; single-probe at the same table/bit
    * budget measures 0.16.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              bits: Int = 8, probes: Int = 0): DataFrame = {
    // 1 << bits wraps at 31 (Int shift is mod 32): bits=31 enumerates an
    // EMPTY mask set (probing silently returns nothing) and bits>=32
    // silently disables multi-probe — the simhash blocking guards its
    // analogous shift the same way. >30 hyperplane bits per table is also
    // useless (2^30 buckets ⟹ every bucket a singleton).
    require(bits >= 1 && bits <= 30,
      s"lshTopK: bits=$bits out of range 1..30 (mask enumeration wraps at 31)")
    def banded(df: DataFrame, idAs: String): DataFrame =
      df.select(col("vec_id").as(idAs),
        posexplode(lshBuckets(col("embedding"), LshTables, bits)).as(Seq("t", "bk")))

    // All bucket-key perturbation masks with ≤ `probes` bits flipped.
    val masks = (0 until (1 << bits)).filter(Integer.bitCount(_) <= probes)
    val probed = banded(queries, "query_id")
      .select(col("query_id"), col("t"),
        explode(array(masks.map(m => col("bk").bitwiseXOR(lit(m.toLong))): _*)).as("bk"))

    // Stage-bound BOTH bucket sides (Guards.stageBound — the round-9
    // blind-broadcast class): each is an un-materialized explode whose
    // static estimate is the slim pre-explode projection, and the corpus
    // side is DATA-SIZED (n × tables rows) — the r11 registry-wide plan
    // gate caught the planner electing to broadcast it. With the
    // boundary, AQE sizes the runtime rows (broadcast only if truly
    // small); AQE-off pins sort-merge.
    def bound(df: DataFrame) = Guards.stageBound(df, col("t"), col("bk"))
    val cands = bound(probed)
      .join(bound(banded(corpus, "neighbor_id")), Seq("t", "bk"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct() // narrow: two longs per row

    val pairs = cands
      .join(broadcast(queryFrame(queries)), "query_id")
      .join(corpusFrame(corpus), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), pairCos().as("cos"))
    rankTopK(pairs, k)
  }

  /** Train-set cap of the Lloyd trainer, per call: above it the trainer
    * deterministically subsamples via [[cappedTrain]]. */
  val MaxTrainRows: Long = 1L << 18 // 262144 ≈ tens of MB of member lists per cell worst-case

  /** A vector is PRESENT when non-null, non-empty, and every component is
    * finite. The rows a failed embedding job ships (NULL or empty) carry no
    * geometry; before r11 a null embedding landing in the seed window
    * crashed the trainer's driver-side collect with an NPE. A single ±Inf
    * component (r16, fuzz find) drives Lloyd centroid means to Inf/NaN, and
    * from there every trained structure (IVF cells, PQ codebooks, kmeans
    * stats, SemDeDup clusters) diverges between engines on NaN-ordering
    * details. The trained family excludes non-present vectors from
    * training, assignment, clustering and querying, identically on both
    * engines (the oracle's `vecs` CTE carries the matching list_filter).
    * The scoring paths exclude them implicitly — an Inf-normed vector's
    * cosine is always NaN, caught by the topKCut NaN filter.
    */
  private def presentVecs(df: DataFrame): DataFrame =
    // x.isNull leads DELIBERATELY (r16 review): without it a NULL
    // component makes `exists` evaluate to NULL (excluded here only via
    // three-valued logic) while DuckDB's list_filter silently DROPS
    // null-predicate elements (included) — the explicit arm makes
    // "null component => degenerate" a both-engine contract, mirrored in
    // the oracle's `x IS NULL OR ...` list_filter predicate.
    df.filter(col("embedding").isNotNull && size(col("embedding")) > 0 &&
      !exists(col("embedding"), x =>
        x.isNull || isnan(x) || abs(x) === lit(Float.PositiveInfinity)))

  /** The 1-in-[[TrainModulus]] train sample of present vectors (replayed
    * by the oracles' `cappedTrainSql`). */
  private def trainSample(present: DataFrame): DataFrame =
    present.filter(pmod(col("vec_id"), lit(TrainModulus)) === 0)

  /** Deterministic 1-in-m train sample above `maxTrainRows`, m =
    * ceil(n / maxTrainRows), so per-cell member lists stay bounded by the
    * cap for ANY caller. Keyed on md5Hash60(vec_id) — the repo's
    * ANSI-replayable hash — NOT a bare `vec_id % m`: the registered train
    * sets are already the vec_id % [[TrainModulus]] sample, and a modulus
    * on top of a modulus keeps TrainModulus/m of the rows whenever m is a
    * multiple of it (2× the cap), while an adversarial id stride (all ids
    * multiples of m) keeps EVERYTHING. Hashing decorrelates the sample from
    * any id pattern, so the expected train size is n/m ≤ cap. The Lloyd
    * oracle CTEs replay it (a scalar-subquery m over the same count + the
    * same md5 derivation a18b's oracle proves cross-engine); at the
    * registered corpora m = 1 and the filter is a no-op.
    */
  private def cappedTrain(corpus: DataFrame, maxTrainRows: Long): DataFrame = {
    // Cheap upper-bound probe before the exact count: CollectLimit reads
    // partitions incrementally, so when the corpus is under the cap (every
    // registered caller — all four trainer pipelines pay this per run) the
    // probe touches roughly one partition instead of scanning the full
    // train set just to learn the cap is a no-op. Only a corpus that
    // actually exceeds the cap pays the exact count that sizes m.
    // `take` of zero-column rows, not `limit(k).count()`: a counted limit
    // plans a codegen'd LocalLimit whose counter Spark names from a
    // JVM-global sequence, so every run compiled a fresh class.
    // clamp: maxTrainRows is a caller-supplied Long, and (cap+1).toInt
    // silently overflows negative for cap >= Int.MaxValue (limit() would
    // throw AnalysisException at runtime). At that magnitude the limit
    // probe saturates and can't distinguish over/under, so run the exact
    // count instead of the probe — the cap stays honest for any Long.
    val over =
      if (maxTrainRows >= Int.MaxValue.toLong - 1) corpus.count() > maxTrainRows
      else corpus.select().take((maxTrainRows + 1).toInt).length > maxTrainRows
    if (!over) corpus
    else {
      val n = corpus.count()
      val m = math.max(1L, math.ceil(n.toDouble / maxTrainRows).toLong)
      corpus.filter(
        pmod(graft.functions.TopKAgg.md5Hash60(col("vec_id")), lit(m)) === 0)
    }
  }

  /** The one Lloyd trainer behind IVF, k-means, SemDeDup and PQ: `iters`
    * rounds of Lloyd's k-means over the capped train set, seeded from its
    * first `k` vectors by vec_id. `split` = None trains whole vectors,
    * grouped by `cell`; Some((m, sub)) trains the m sub-vector slices of
    * width `sub` together, grouped by (j, cell), each vector's slices
    * exploded once per subspace. Every float op has a fixed order, so the
    * result is reproducible cross-engine:
    *   - assignment: nearest centroid by cosine, ties broken by centroid
    *     index (the [[NativeExpressions.NearestCentroids]] order);
    *   - update: per group the vec_id-ordered `zip_with` fold of member
    *     vectors — per dimension the chain 0.0 + x₁ + x₂ + … in vec_id
    *     order — divided by the member count, rounded to float (IEEE
    *     round-to-nearest, same on both engines); an emptied cell keeps its
    *     centroid. A parallel sum's combine order is nondeterministic in
    *     the last ulp, and a 1-ulp flip near a cell boundary would silently
    *     change candidate sets vs the oracle.
    * Because the per-dimension chain is the same, PQ's codebook j is
    * bit-identical to [[ivfCentroids]] on slice j (SimilaritySpec checks
    * it), and the oracle replays PQ as `lloydCteSql` once per subspace.
    *
    * Each round is ONE distributed aggregate and ONE collect of k·groups
    * rows — bounded by the centroid matrix, like the seed collect. Training
    * PQ's m codebooks together instead of m [[ivfCentroids]] runs saves
    * m × 2 driver-coordinated jobs (measured 7.8 s vs 1.8 s for the m=16
    * registry config at sf0.1; job launch overhead, not data, was the
    * cost). Vectors are folded whole, never exploded per dimension: a
    * posexplode before the assignment projection made Catalyst's collapsed
    * Project evaluate the interpreted NearestCentroids kernel once per
    * (row, dim) instead of once per row — at auto-k (√n centroids) that
    * hidden dim× amplification was ~50 s of a 53 s x10 run. At 100 TB the
    * ordered fold per cell is the one non-scalable piece (it materializes
    * each cell's member list on one task), so the train-set size is a
    * MECHANICAL contract: [[cappedTrain]] bounds it for any caller.
    */
  private def lloyd(corpus: DataFrame, k: Int, iters: Int, maxTrainRows: Long,
                    split: Option[(Int, Int)]): Array[Array[Array[Float]]] = {
    val train = cappedTrain(corpus, maxTrainRows)
    val seed = train.orderBy("vec_id").select("embedding").limit(k)
      .collect().map(_.getSeq[Float](0).toArray)
    var cents = split.fold(Array(seed)) { case (m, sub) =>
      Array.tabulate(m)(j => seed.map(_.slice(j * sub, (j + 1) * sub)))
    }
    for (_ <- 0 until iters) {
      val (keys, members) = split match {
        case None => (Seq(col("cell")), train.select(col("vec_id"),
          nearestCell(col("embedding"), cents(0)).as("cell"), col("embedding")))
        case Some((m, sub)) => (Seq(col("j"), col("cell")), train.select(col("vec_id"),
          explode(array((0 until m).map { j =>
            val x = subVec(col("embedding"), j, sub)
            struct(lit(j).as("j"), nearestCell(x, cents(j)).as("cell"), x.as("embedding"))
          }: _*)).as("s")).select(col("vec_id"), col("s.*")))
      }
      val zeroVec = transform(element_at(col("xs"), 1).getField("embedding"),
        _ => lit(0.0))
      val means = members
        .groupBy(keys: _*)
        .agg(count(lit(1)).as("n"),
          sort_array(collect_list(struct(col("vec_id"), col("embedding")))).as("xs"))
        .select(keys :+ transform(
            aggregate(col("xs"), zeroVec,
              (acc, s) => zip_with(acc, s.getField("embedding"),
                (a, x) => a + x.cast("double"))),
            v => v / col("n")).as("mu"): _*)
        .collect()
      val next = cents.map(_.map(_.clone()))
      means.foreach { r =>
        val c = next(if (split.isEmpty) 0 else r.getInt(0))(r.getInt(keys.length - 1))
        val mu = r.getSeq[Double](keys.length)
        var d = 0
        while (d < c.length) { c(d) = mu(d).toFloat; d += 1 }
      }
      cents = next
    }
    cents
  }

  /** `nCentroids` coarse centroids by the [[lloyd]] trainer on whole
    * vectors of `corpus` (the train set as given; `maxTrainRows` is for
    * the cap test). */
  def ivfCentroids(corpus: DataFrame, nCentroids: Int, lloydIters: Int,
                   maxTrainRows: Long = MaxTrainRows): Array[Array[Float]] =
    lloyd(corpus, nCentroids, lloydIters, maxTrainRows, None)(0)

  /** All m per-subspace PQ codebooks of `codesPerSub` codes, trained
    * together by the [[lloyd]] trainer on the sub-vector slices of
    * `corpus` (the train set as given). */
  def pqCodebooks(corpus: DataFrame, dim: Int, m: Int, codesPerSub: Int,
                  lloydIters: Int,
                  maxTrainRows: Long = MaxTrainRows): Array[Array[Array[Float]]] =
    lloyd(corpus, codesPerSub, lloydIters, maxTrainRows, Some((m, dim / m)))

  /** IVF (inverted-file) approximate nearest neighbors — the classic
    * coarse-quantizer scale path. Centroids come from [[ivfCentroids]]
    * ([[LloydIters]] rounds on the [[trainSample]]). Every corpus vector
    * is assigned to its nearest centroid in ONE map-only pass (the
    * centroid matrix rides inside the native
    * [[NativeExpressions.NearestCentroids]] expression — no join, no
    * shuffle of embeddings); a query probes its `nProbe` nearest cells and
    * ranks only those cells' vectors. Unlike [[corpusFrame]] the corpus is
    * spread before the assignment kernel, which is heavy enough to pay for
    * it. At 100 TB: the corpus is hash-partitioned by cell once, queries
    * broadcast.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val corpus0 = presentVecs(corpus)
    val queries0 = presentVecs(queries)
    val cents = ivfCentroids(trainSample(corpus0), nCentroids, LloydIters)
    val c = Guards.spread(
        corpus0.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne")))
      .withColumn("cell", nearestCell(col("ne"), cents))
      .withColumn("nn", l2Norm(col("ne")))
    val q = queryFrame(queries0)
      .select(col("query_id"), col("qe"), col("qn"),
        explode(NativeExpressions.nearestCentroids(col("qe"), cents, nProbe)).as("cell"))
    rankTopK(scorePairs(c.join(broadcast(q), "cell"), pairCos().as("cos")), k)
  }

  /** Product-quantization ANN (Jégou et al., PAMI'11) — the compressed-
    * domain scale path for similarity search. The [[EmbeddingDim]]-wide
    * vector space is split into [[PqSubspaces]] subspaces; each subspace
    * gets its own [[PqCodes]]-centroid codebook from [[pqCodebooks]]
    * ([[PqLloydIters]] rounds on the [[trainSample]]), and every corpus
    * vector is ENCODED as m small codes in one map-only pass (codebooks
    * ride inside the native nearest-centroid expression — no join).
    * Scoring is two-stage
    * retrieval:
    *   1. ADC shortlist: approximate cosine against the RECONSTRUCTED
    *      vector — dot(q, recon(x)) = Σ_j dot(q_subj, codebook_j[code_j]),
    *      recon norm = sqrt(Σ_j ||codebook_j[code_j]||²) — computed from
    *      the codes + codebook literals only. The corpus embedding column
    *      is DROPPED before this join: at 100 TB the scoring pass touches
    *      m ints per vector instead of `dim` floats (the entire point of
    *      PQ — the code table is ~60× smaller than the embeddings).
    *   2. Exact re-rank: only the shortlist ([[ShortlistFactor]]·k ids per
    *      query) joins back to the embeddings — a broadcast-hash point
    *      lookup, never an embedding shuffle.
    * Every float op has a fixed order (left folds, left-assoc Σ_j chains),
    * so the full pipeline — training, encoding, ADC, re-rank — is
    * re-derivable in ANSI SQL and hash-compared by the oracle.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val (m, sub) = (PqSubspaces, EmbeddingDim / PqSubspaces)
    val corpus0 = presentVecs(corpus)
    val queries0 = presentVecs(queries)
    // m bounded driver-side artifacts (PqCodes × sub floats each), same
    // budget class as the IVF centroid collect.
    val codebooks =
      pqCodebooks(trainSample(corpus0), EmbeddingDim, m, PqCodes, PqLloydIters)
    // per-code squared reconstruction norms — the same left fold over the
    // same floats the oracle derives from its replayed codebooks
    val sqn: Array[Array[Double]] =
      codebooks.map(_.map(_.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))

    // Encode: one map-only pass; embedding column does not survive it.
    val codes = Guards.spread(corpus0).select(
      col("vec_id").as("neighbor_id") +:
        (0 until m).map(j =>
          nearestCell(subVec(col("embedding"), j, sub), codebooks(j)).as(s"c$j")): _*)
      .withColumn("rnorm", sqrt((0 until m).map(j =>
        element_at(typedLit(sqn(j).toSeq), col(s"c$j") + 1)).reduce(_ + _)))

    val q = queryFrame(queries0)

    // ADC lookup tables, built ONCE PER QUERY on the broadcast side (r17):
    // lut_j[c] = dot(qe[j·sub+1 : (j+1)·sub], codebook_j[c]) — the classic
    // PQ ADC table. The scoring row below then pays m array lookups
    // instead of m slice allocations + m dot folds (the slice churn was
    // the probe's hottest executor frame). Bit-identical: each table entry
    // is the SAME DotProduct fold over the SAME floats the inline form
    // computed, and the Σ_j stays the same left-assoc double chain.
    val qLut = q.select(col("query_id") +: col("qn") +: (0 until m).map { j =>
      array((0 until PqCodes).map(c =>
        dot(subVec(col("qe"), j, sub), typedLit(codebooks(j)(c).toSeq))): _*).as(s"lut$j")
    }: _*)

    // ADC: left-assoc Σ_j of per-(query, subspace, code) table lookups.
    val adcDot = (0 until m).map(j =>
      element_at(col(s"lut$j"), col(s"c$j") + 1)).reduce(_ + _)
    val scored = scorePairs(codes.crossJoin(broadcast(qLut)),
      safeCos(adcDot, col("qn"), col("rnorm")).as("adc_cos"))
    shortlistRerank(scored, corpus0, q, "adc_cos", k)
  }

  /** The approximate-score → exact-cosine tail shared by [[pqTopK]] and
    * [[sq8TopK]]: the [[topKCut]] shortlist of [[ShortlistFactor]]·k ids
    * per query (never a global sort of all scores), then exact re-rank by
    * broadcasting the tiny shortlist INTO the embeddings scan (map-side
    * hash probe — embeddings are never shuffled). One definition so a
    * guard/tie-break fix lands in both ANN paths at once.
    *
    * `scored` must carry (query_id, neighbor_id, `scoreCol`); `q` is the
    * [[queryFrame]].
    */
  private def shortlistRerank(scored: DataFrame, corpus: DataFrame, q: DataFrame,
                              scoreCol: String, k: Int): DataFrame = {
    val shortlist = topKCut(scored, scoreCol, ShortlistFactor * k, "srank").drop("srank")
    val rerank = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    corpusFrame(corpus).join(broadcast(shortlist), "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"), col(scoreCol), pairCos().as("cos"))
      .filter(col("cos").isNotNull && !isnan(col("cos"))) // as in topKCut
      .withColumn("rank", row_number().over(rerank))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", scoreCol, "cos", "rank")
  }

  /** K-means clustering summary — the "what structure does this embedding
    * corpus have" analytic (cluster cardinalities, a representative member,
    * mean cohesion), built on the same deterministic trainer as IVF so it
    * gets a full cross-engine oracle ([[LloydIters]] rounds).
    *
    * Scale shape: training reads the [[trainSample]] (like [[ivfTopK]]);
    * assignment is ONE map-only pass with the centroid matrix riding inside
    * the native expression (no join, no embedding shuffle); the stats
    * aggregate reduces to [[KmeansCentroids]] rows. The per-cell mean
    * cosine uses an ordered fold over members (same rationale as the
    * trainer: a parallel double sum's combine order is nondeterministic in
    * the last ulp, and the oracle hash-compares exact values) — at 100 TB
    * you'd trade the bit-exact fold for a plain avg and compare with an
    * epsilon instead.
    */
  def kmeansClusterStats(corpus: DataFrame): DataFrame = {
    val corpus0 = presentVecs(corpus)
    val cents = ivfCentroids(trainSample(corpus0), KmeansCentroids, LloydIters)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)

    Guards.spread(corpus0)
      .select(col("vec_id"), col("embedding"), nearestCell(col("embedding"), cents).as("cell"))
      .withColumn("ce", element_at(centsLit, col("cell") + 1))
      // safeCos, not a bare division: one zero-norm member would kill the
      // whole query under ANSI (a null cos instead nulls that cell's
      // avg_cos through the ordered fold — visible, not fatal)
      .withColumn("cos",
        safeCos(dot(col("embedding"), col("ce")),
          l2Norm(col("embedding")), l2Norm(col("ce"))))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_members"),
        min("vec_id").as("min_vec_id"),
        sort_array(collect_list(struct(col("vec_id"), col("cos")))).as("xs"))
      .select(col("cell").cast("long").as("cell"), col("n_members"), col("min_vec_id"),
        Rounding.round4(aggregate(col("xs"), lit(0.0),
          (acc, s) => acc + s.getField("cos")) / col("n_members")).as("avg_cos"))
      .orderBy("cell")
  }

  /** SemDeDup-style semantic dedup (Abbas et al., 2023): cluster the
    * embedding corpus with the deterministic sampled-Lloyd trainer
    * ([[LloydIters]] rounds), then WITHIN each cluster prune every vector
    * that has a lower-id member at cosine ≥ [[DedupThreshold]] (keep = no
    * such member; pruned_by = the min one).
    * Only within-cluster pairs are compared — that bound is the entire
    * scale story: the pair join is co-partitioned by cell, per-cell cost
    * is |cell|², and cross-cluster near-dups are the accepted recall
    * tradeoff of the method. Output is (vec_id, cell, keep, pruned_by) —
    * no float columns, so the hash is partitioning-proof; the threshold
    * comparison itself uses the same ordered-fold cosine on both engines.
    *
    * The centroid count is derived FROM the corpus: k =
    * max([[MinDedupCentroids]], ⌊√n⌋) over the n present vectors. With a
    * fixed k, cells grow linearly with the corpus and the within-cell pair
    * join goes n²/k; at k=√n the expected cell is √n members and total
    * pair cost is n^1.5 — the method's scale knob, turned automatically so
    * a 100× corpus doesn't need operator intervention. The derivation is
    * one count job + integer-exact floor(sqrt(double)), replayed by the
    * oracle as `greatest(16, cast(floor(sqrt(count(*))) as bigint))`.
    * Driver-side state stays bounded: the trainer returns k·dim floats
    * (√n·dim — at n=10⁹, dim=64 that is ~8 MB, broadcast inside the
    * assignment kernel).
    */
  def semanticDedup(corpus: DataFrame): DataFrame = {
    val corpus0 = presentVecs(corpus)
    val k = math.max(MinDedupCentroids, math.floor(math.sqrt(corpus0.count().toDouble)).toInt)
    val cents = ivfCentroids(trainSample(corpus0), k, LloydIters)
    val v = Guards.spread(corpus0)
      .select(col("vec_id"), col("embedding"), nearestCell(col("embedding"), cents).as("cell"))
      .withColumn("nrm", l2Norm(col("embedding")))
    val pruned = v.as("a").join(v.as("b"),
        col("a.cell") === col("b.cell") && col("b.vec_id") < col("a.vec_id"))
      // safeCos: a zero-norm vector must not DIVIDE_BY_ZERO the query
      // under ANSI; its null cosine fails the threshold, so the
      // degenerate vector is simply never pruned-by nor prunes anyone
      .filter(safeCos(dot(col("a.embedding"), col("b.embedding")),
        col("a.nrm"), col("b.nrm")) >= DedupThreshold)
      .groupBy(col("a.vec_id").as("vec_id"))
      .agg(min(col("b.vec_id")).as("pruned_by"))
    v.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(pruned, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("pruned_by").isNull.as("keep"), col("pruned_by"))
  }

  /** MMR-diversified top-k (Carbonell & Goldstein, SIGIR'98): rank an
    * m-candidate shortlist per query by cosine, then greedily re-select k
    * of them, each step maximizing `lam·rel − penW·max_sim_to_selected` —
    * relevance WITH diversity, the re-rank step between ANN shortlist and
    * metadata fetch in a retrieval pipeline.
    *
    * Scale shape: the m×m similarity work runs INSIDE one row's kernel
    * eval ([[NativeExpressions.MmrSelect]]) on a rank-sorted collected
    * candidate array — m is a constant (shortlist size), so per-query cost
    * is O(m²·dim) with no pair join and no extra shuffle beyond the
    * ranking's own; candidate embeddings are k·|queries| rows attached by
    * broadcasting the shortlist ids into the embeddings scan.
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, m: Int, k: Int,
              lam: Double = 0.7, penW: Double = 0.3): DataFrame = {
    val shortlist = bruteForceTopK(corpus, queries, m)
    val withEmb = corpus.select(col("vec_id"), col("embedding"))
      .join(broadcast(shortlist), col("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"),
        col("embedding"))
    withEmb.groupBy("query_id")
      .agg(sort_array(collect_list(
        struct(col("rank"), col("neighbor_id"), col("cos"), col("embedding"))))
        .as("cands"))
      .select(col("query_id"),
        explode(NativeExpressions.mmrSelect(col("cands"), k, lam, penW)).as("r"))
      .select(col("query_id"), col("r.sel_rank").as("sel_rank"),
        col("r.neighbor_id").as("neighbor_id"), col("r.mmr_score").as("mmr_score"))
  }

  /** Scalar int8 quantization ANN (SQ8) — the memory/IO complement of
    * [[pqTopK]]: instead of a trained codebook, each DIMENSION gets an
    * affine map onto 256 levels derived from its corpus min/max, so a
    * 64-dim float32 vector stores as 64 bytes (4× compression) with no
    * training pass at all. The production shape (faiss
    * `ScalarQuantizer(QT_8bit)`, Lucene/Elasticsearch `int8_hnsw`) for
    * corpora that re-quantize on ingest.
    *
    * Determinism & the oracle: min/max are EXACT aggregates (no float
    * summation order), the code is `floor((x−mn)/sc)` clamped to [0,255]
    * (IEEE ops, identical on both engines), and the reconstruction
    * `mn + code·sc` is rounded to float32 on BOTH engines, after which
    * the entire scoring path — codegen'd [[dot]], [[safeCos]], two-phase
    * shortlist, exact re-rank — is byte-for-byte the [[pqTopK]] machinery,
    * so the whole pipeline hash-compares against ANSI SQL that replays
    * the quantizer from the same parquet bytes.
    *
    * Scale shape: the stats pass is ONE map-side partial aggregate
    * carrying 2·dim doubles per partition (the 1-row result is a bounded
    * driver artifact, same budget class as IVF centroids); encode is a
    * map-only projection in the corpus scan — the float embedding column
    * dies there, and the in-flight dequantized array dies in the same
    * stage (only (query_id, neighbor_id, sq_cos) ever reaches an
    * exchange); re-rank probes the embeddings scan with the broadcast
    * shortlist. Embeddings are never shuffled or broadcast.
    *
    * NaN components are excluded from min/max (Spark orders NaN above
    * every real — an unguarded max would poison the dimension's scale for
    * the whole corpus) and null out their vector's code array, so
    * degenerate vectors drop out of ranking exactly as in [[topKCut]].
    * OOB-safe `get()` mirrors DuckDB's null-for-out-of-range list index.
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val dim = EmbeddingDim
    def finite(c: Column): Column = when(!isnan(c), c)
    // Per-dimension min/max via posexplode + a 64-group aggregate (r17):
    // the previous single-row form carried 2·dim aggregate buffer fields
    // (128 at dim=64), past spark.sql.codegen.maxFields — the whole stats
    // pass ran as an interpreted row-at-a-time aggregate (the a18 sketch-
    // buffer lesson in miniature; measured ~0.5 s of the query at sf0.1).
    // Exploded, the aggregate is 2 buffer fields per group, codegen'd,
    // with map-side partials — the shuffle is 64 rows. Value-identical:
    // same min/max over the same finite floats per dimension; a dimension
    // with no finite values keeps (0, 0) whether the group aggregates
    // all-null (coalesce) or never forms (array default) — and positions
    // past `dim` (longer embeddings) are dropped here exactly as the
    // elem(i) loop never read them.
    val mins = Array.fill(dim)(0.0)
    val maxs = Array.fill(dim)(0.0)
    corpus.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .filter(col("i") < dim)
      .groupBy("i").agg(
        coalesce(min(finite(col("x"))).cast("double"), lit(0.0)).as("mn"),
        coalesce(max(finite(col("x"))).cast("double"), lit(0.0)).as("mx"))
      .collect().foreach { r =>
        mins(r.getInt(0)) = r.getDouble(1); maxs(r.getInt(0)) = r.getDouble(2)
      }
    val scales = Array.tabulate(dim)(i => (maxs(i) - mins(i)) / 255.0)
    val minsLit = typedLit(mins.toSeq)
    val scalesLit = typedLit(scales.toSeq)

    // Dequantized float32 vector, computed in-flight from the int8 codes.
    // The code itself ((x−mn)/sc floored and clamped) and the affine
    // reconstruction are one fused per-element expression — materializing
    // the byte array only to immediately re-expand it would add a pass
    // without changing what's stored or shuffled (nothing: both live only
    // inside this scan's projection). SimilaritySpec pins recall and the
    // ADC-vs-exact error envelope the quantizer must stay inside.
    val recon: Column = transform(col("embedding"), (x, i) => {
      // 0-indexed get(), not element_at(i+1): an embedding longer than
      // `dim` must degrade to null components (as DuckDB's OOB list index
      // does), not throw INVALID_ARRAY_INDEX under ANSI.
      val mn = get(minsLit, i)
      val sc = get(scalesLit, i)
      val code = when(sc === 0.0, lit(0.0)).otherwise(
        least(lit(255.0), greatest(lit(0.0), floor((x.cast("double") - mn) / sc))))
      when(x.isNotNull && !isnan(x), (mn + code * sc).cast("float"))
    })

    val codes = Guards.spread(corpus)
      .select(col("vec_id").as("neighbor_id"), recon.as("re"))
      .withColumn("rnorm", l2Norm(col("re")))
    val q = queryFrame(queries)
    val scored = scorePairs(codes.crossJoin(broadcast(q)), pairCos("re", "rnorm").as("sq_cos"))
    shortlistRerank(scored, corpus, q, "sq_cos", k)
  }

  /** Embedding-cosine near-duplicate pairs within a blocking key (e.g.
    * label): pairs with cosine ≥ threshold, id_a < id_b. Norms are computed
    * once per vector (before the pair join), a pair costs one codegen'd
    * dot product.
    */
  def nearDupPairs(vectors: DataFrame, blockCol: String, threshold: Double): DataFrame = {
    val v = Guards.spread(
        vectors.select(col("vec_id"), col(blockCol), col("embedding")))
      .withColumn("nrm", l2Norm(col("embedding")))
    v.as("a").join(v.as("b"),
        col(s"a.$blockCol") === col(s"b.$blockCol") && col("a.vec_id") < col("b.vec_id"))
      // safeCos: see semanticDedup — a zero-norm side yields null, which
      // fails the threshold instead of killing the query under ANSI
      .withColumn("cos",
        safeCos(dot(col("a.embedding"), col("b.embedding")), col("a.nrm"), col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"), col("cos"))
  }
}

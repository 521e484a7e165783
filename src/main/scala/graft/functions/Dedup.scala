package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for a training-data pipeline.
  *
  * Scale design: every variant is shuffle-on-key, never all-pairs.
  *   - exact: one hash-partitioned groupBy on a 64-bit content hash — at
  *     100 TB this is the cheapest possible shape (map-side partial agg,
  *     no row text shuffled when grouping by xxhash64).
  *   - n-gram Jaccard: inverted-index join on shingles — candidate pairs
  *     only where at least one shingle collides, with a document-frequency
  *     cap on shingles so a stop-shingle can never produce a quadratic
  *     bucket (the standard "stop the hub nodes" trick for skew).
  *   - MinHash/LSH: fixed-width signatures (k hashes) then banding — the
  *     join key is (band, bandHash), so shuffle volume is #docs × #bands
  *     regardless of document size.
  *   - SimHash: 64-bit signature; near-dup candidates via equality on
  *     PAIRS of 8-bit signature blocks (Hamming ≤ 6 ⟹ two blocks clean ⟹
  *     some enumerated block pair equal, pigeonhole).
  */
object Dedup {

  /** Exact dedup: canonical = min doc id among identical texts. Output keeps
    * every row with its canonical id and group size (callers filter
    * `canonical_id =!= id` to drop dups).
    *
    * Scale shape (default, `verifyText = false`): rows reduce to
    * (id, xxhash64(text)) BEFORE any exchange, so the shuffle carries
    * 8-byte keys — full text never moves (the naive window-over-text
    * formulation shuffles every document's bytes). The groupBy gets
    * map-side partial aggregation, and the join-back hashes on the same
    * key as the groupBy, so Catalyst reuses one exchange for both.
    *
    * A 64-bit collision (~1e-10 at 1e9 docs) would merge two DISTINCT
    * texts in a primitive whose output drives row deletion — callers who
    * can't accept that pass `verifyText = true`: grouping is then on
    * (hash, text), so colliding-but-different texts stay separate groups.
    * That variant shuffles the text bytes (the price of certainty); the
    * hash still leads the key so groups stay balanced and comparisons
    * short-circuit on the 8-byte prefix.
    *
    * Jobs and caches: building it runs no job and caches nothing.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String,
            verifyText: Boolean = false): DataFrame = {
    if (verifyText) {
      val hashed = docs.select(col(idCol), col(textCol), xxhash64(col(textCol)).as("h"))
      val groups = hashed.groupBy(col("h"), col(textCol))
        .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("group_size"))
        .withColumnRenamed("h", "__h").withColumnRenamed(textCol, "__t")
      // text equality must be NULL-SAFE: groupBy keeps null-text rows as
      // their own group, but a plain equi-join on the text column drops
      // them — the "stricter" variant would silently LOSE every null-text
      // document where the hash-only variant keeps them (xxhash64(null)
      // is a non-null constant, so the hash leg needs no <=>)
      hashed.join(groups, col("h") === col("__h") && col(textCol) <=> col("__t"))
        .select(col(idCol), col("canonical_id"), col("group_size"))
    } else {
      val hashed = docs.select(col(idCol), xxhash64(col(textCol)).as("h"))
      val groups = hashed.groupBy("h")
        .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("group_size"))
      hashed.join(groups, "h")
        .select(col(idCol), col("canonical_id"), col("group_size"))
    }
  }

  /** The jaccard assembly + threshold shared by every exact-verification
    * path ([[ngramJaccardPairs]]'s full pair join and
    * [[minhashLshVerifiedPairs]]'s candidate-restricted join): one
    * expression tree, so the two queries cannot drift from each other or
    * from the DuckDB oracle that replays it. Cross-engine determinism:
    * filter on the raw ratio, then round via floor(x·10^4 + 0.5)/10^4
    * (engine-native round() differs on half-cases). `common` carries
    * (doc_a, doc_b, common); `sizes` carries (doc, n_shingles).
    */
  private def jaccardAtLeast(common: DataFrame, sizes: DataFrame,
                             threshold: Double): DataFrame = {
    val rawJaccard = col("common").cast("double") * 1.0 /
      (col("size_a") + col("size_b") - col("common"))
    common
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_shingles", "size_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_shingles", "size_b"), "doc_b")
      .filter(rawJaccard >= threshold)
      .withColumn("jaccard", Rounding.round4(rawJaccard))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  // ---- the shingle-index steps, shared with ShingleIndex -----------------

  /** Content hash of the exact arms. Null text hashes to NULL (not
    * xxhash64's non-null seed constant), so an equi-join on it never pairs
    * two null-text docs: a null-text delta doc is 'new', matching SQL
    * `base.text = delta.text` semantics (the near-dup arm already agrees:
    * no shingles → no candidates).
    */
  private[functions] def th(c: Column): Column = when(c.isNotNull, xxhash64(c))

  /** The slim pre-explode frame every shingle consumer derives from:
    * (`idAs`, [th,] sh) — the id, the content hash when `hash`, and the
    * doc's DISTINCT word n-gram shingles as an array. Tokenization
    * (WordShingles over the full text column) is the heaviest per-row
    * kernel in the family, so batch callers cache this frame (r17): every
    * consumer that re-evaluates it then explodes cached rows instead of
    * re-tokenizing the corpus. The input is spread BEFORE the kernel
    * (Guards.spread): a one-split corpus file would otherwise tokenize —
    * and feed every cache consumer — on a single core; identity when the
    * scan already has cluster-width splits.
    */
  private[functions] def shingleSlim(docs: DataFrame, idCol: String, textCol: String,
                                     n: Int, idAs: String, hash: Boolean): DataFrame = {
    val text = col(textCol)
    val cols = col(idAs) +: (if (hash) Seq(th(text).as("th")) else Nil) :+
      array_distinct(TextFunctions.wordShingles(text, n)).as("sh")
    graft.operators.Guards.spread(docs.select(col(idCol).as(idAs), text)).select(cols: _*)
  }

  /** (`id`, shingle) rows of a slim frame: the uncapped inverted index. */
  private[functions] def shingleRows(slim: DataFrame, id: String): DataFrame =
    slim.select(col(id), explode(col("sh")).as("shingle"))

  /** (shingle, df) over (id, shingle) rows with one row per doc and shingle. */
  private[functions] def docFreq(rows: DataFrame): DataFrame =
    rows.groupBy("shingle").agg(count(lit(1)).as("df"))

  /** The hot set of a (shingle, df) table: shingles in more than `maxDf`
    * docs. Small by construction — it IS the boilerplate tail the cap
    * exists to remove.
    */
  private[functions] def hotSet(dfTab: DataFrame, maxDf: Long): DataFrame =
    dfTab.filter(col("df") > maxDf).select("shingle")

  /** The df cap applied to (id, shingle) rows: a map-only broadcast LEFT
    * ANTI join of the hot set (a per-shingle window would shuffle and sort
    * the entire exploded index just to drop the hot tail).
    */
  private[functions] def dropHot(rows: DataFrame, hot: DataFrame): DataFrame =
    rows.join(broadcast(hot), Seq("shingle"), "left_anti")

  /** `rows` capped by their own df table. */
  private def capped(rows: DataFrame, maxDf: Long): DataFrame =
    dropHot(rows, hotSet(docFreq(rows), maxDf))

  /** Batch callers cache; a per-trigger caller must not. Every `.cache()`
    * registers a CacheManager entry the caller cannot reach to uncache, so
    * a stream that cached per trigger would pin one more plan on every
    * trigger, without end. Uncached, the subtree is re-evaluated per
    * consumer within the one action — the right trade for micro-batches.
    */
  private[functions] def cachedUnless(perTrigger: Boolean)(df: DataFrame): DataFrame =
    if (perTrigger) df else df.cache()

  // ---- entry points ------------------------------------------------------

  /** N-gram Jaccard near-dup pairs via inverted-index self-join.
    * Returns (doc_a, doc_b, jaccard) for pairs ≥ threshold, doc_a < doc_b.
    *
    * The df cap: the ABSOLUTE cap `maxDf` drops shingles appearing in more
    * than maxDf docs — it bounds the inverted-index bucket size, which is
    * what keeps the self-join sub-quadratic: a bucket of df docs costs df²
    * pairs, so the per-shingle join cost is capped at maxDf² regardless of
    * corpus size. The cap runs as a map-side-aggregated df table +
    * broadcast LEFT ANTI join of the HOT shingle set. The scale-correct
    * lever for discriminativeness is a LONGER shingle (n-gram diversity
    * grows exponentially in n, so df collapses), not a bigger cap.
    *
    * Jobs and caches: a batch call (the default) runs ONE job while the
    * DataFrame is built — the warm-up `count()` of the cached shingle
    * arrays — and leaves two cache entries (the shingle arrays and the
    * capped index) for [[graft.GraftSession.clearCaches]]. `perTrigger =
    * true` (a caller that runs once per streaming trigger) runs no job and
    * caches nothing.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double, maxDf: Long = 100,
                        perTrigger: Boolean = false): DataFrame = {
    val cached = cachedUnless(perTrigger) _
    val sh = cached(shingleSlim(docs, idCol, textCol, n, "doc", hash = false))
    // WARM the cache before consumers race it (r18): AQE launches the
    // independent consumer stages concurrently, and every stage that
    // arrives before the blocks exist recomputes the full tokenization —
    // measured as 3× duplicate ~0.2-0.5 s stages per query. One eager
    // count() materializes the blocks once; every consumer then reads
    // them.
    if (!perTrigger) sh.count()
    val idx = cached(capped(shingleRows(sh, "doc"), maxDf))
    val sizes = idx.groupBy("doc").agg(count(lit(1)).as("n_shingles"))

    val common = idx.as("a").join(idx.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("common"))

    jaccardAtLeast(common, sizes, threshold)
  }

  /** MinHash signature: k permutation-style hashes over murmur3 shingle
    * hashes, folded in ONE pass by the native
    * [[NativeExpressions.MinHashSignature]] kernel. (The earlier
    * HOF-composed version expanded to 32 interpreted re-evaluations of the
    * shingle pipeline per row — 400+ s at sf0.1; this is milliseconds.)
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    NativeExpressions.minhashSignature(shingles, k)

  /** Self-join of a bucket index (doc, keyCol, …) on the bucket key with
    * doc_a < doc_b — the LSH candidate join shared by the simhash block
    * scheme and the minhash banding, STAGE-BOUNDED so the data-sized
    * exploded index is never blindly broadcast: the static size estimate
    * under an un-materialized explode is the slim pre-explode projection,
    * and without a guard the planner ships the whole index to the driver
    * (measured in SCALE.md's x100p: 1.2 GiB of task results at one
    * parameterization — maxResultSize kill — and a 157.8 s vs 27.7 s
    * penalty at another). With AQE on (the default), a build-side
    * `repartition(key)` inserts the stage boundary and AQE picks the
    * strategy from the RUNTIME size — broadcast when the index truly is
    * small, spill-safe sort-merge when it isn't. With AQE OFF the
    * boundary cannot inform the planner (static estimates pass through
    * repartition), so the join is pinned to sort-merge outright — slower
    * at small scale but never driver-fatal.
    */
  private def bucketSelfJoin(idx: DataFrame, keyCol: String): DataFrame = {
    // BOTH sides get the boundary: the probe side is the same slim
    // pre-explode estimate as the build side, and a planner/version change
    // could flip WHICH side it elects to broadcast — identical sub-plans
    // with identical partitioning also let the exchange be reused, so the
    // second boundary costs one ReusedExchange node, not a second shuffle.
    // (PlanCheck additionally tree-gates the family: no BroadcastExchange
    // subtree may contain an un-aggregated Generate.)
    def bound(df: DataFrame) = graft.operators.Guards.stageBound(df, col(keyCol))
    bound(idx).as("a").join(bound(idx).as("b"),
      col(s"a.$keyCol") === col(s"b.$keyCol") && col("a.doc") < col("b.doc"))
  }

  /** MinHash signatures (doc, sig) for LSH banding. */
  private def minhashSigs(docs: DataFrame, idCol: String, textCol: String,
                          shingleN: Int, k: Int): DataFrame =
    graft.operators.Guards.spread(docs.select(col(idCol).as("doc"), col(textCol)))
      .select(col("doc"),
        TextFunctions.wordShingles(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc"), minhashSignature(col("sh"), k).as("sig"))

  /** LSH banding self-join over (doc, sig): candidate (doc_a, doc_b)
    * pairs sharing at least one band key — the ONE definition both the
    * est-filtered [[minhashLshPairs]] and the exact-verified
    * [[minhashLshVerifiedPairs]] use, so a banding tweak cannot
    * desynchronize them. Shuffle is docs × bands narrow rows; the
    * distinct carries two longs per row.
    */
  private def bandedCandidates(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0,
      s"k=$k must divide evenly into bands=$bands — a remainder " +
        "silently drops the trailing signature positions from every band key")
    val rows = k / bands
    val banded = sigs.select(col("doc"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"), xxhash64(slice(col("sig"), b * rows + 1, rows)).as("bh"))
      }: _*)).as("bb"))
    bucketSelfJoin(banded, "bb")
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
  }

  /** MinHash + LSH banding near-dup candidates, verified with signature
    * similarity. bands×rows = k. Join key is (band, hash of band slice) —
    * shuffle is O(docs × bands), never all-pairs. The candidate self-join
    * and its distinct carry ONLY (band-key, doc id) — signatures are
    * re-attached to the surviving pairs afterwards, so no wide arrays move
    * through the pair shuffle.
    *
    * Jobs and caches: building it runs no job; it leaves one cache entry
    * (the signatures) for [[graft.GraftSession.clearCaches]].
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5): DataFrame = {
    val sigs = minhashSigs(docs, idCol, textCol, shingleN, k).cache()
    val cands = bandedCandidates(sigs, k, bands)

    cands
      .join(sigs.select(col("doc").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("est_raw",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / k)
      // filter on the RAW estimate, round for presentation — the repo-wide
      // discipline (ngramJaccardPairs does the same); engine-native round()
      // half-cases differ cross-engine and k=32 estimates ARE half-cases
      .filter(col("est_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), Rounding.round4(col("est_raw")).as("est_jaccard"))
  }

  /** MinHash+LSH candidates, then EXACT verification: output is the true
    * word-n-gram-jaccard ≥ threshold pair set (identical to
    * [[ngramJaccardPairs]]'s, same df-cap, same rounding), computed
    * without the inverted-index pair join — candidate pairs come from LSH
    * banding, and only candidate docs' capped shingles are compared. The
    * a21 heavy-hitters pattern (sketch proposes, exact pass certifies)
    * applied to dedup: the sketch bounds the work, the verify pass makes
    * the output exact, so the query graduates from recall-gated to
    * hash-oracle-checked — and a banding regression that drops a true pair
    * breaks the hash loudly instead of nudging a recall metric.
    *
    * Defaults bias the banding to recall (rows = k/bands = 2: a true
    * j=0.5 pair misses all 16 bands with prob (1-0.25)^16 ≈ 1%, j=0.8
    * with ≈ 1e-7) because the exact pass deletes every false positive for
    * free — with no verify step, narrower bands (rows=4) would be needed
    * to keep precision, at the price of recall. The dd_minhash_lsh
    * carrier runs k=64/bands=32 for extra margin: its DuckDB oracle is
    * the exact pair set, so any banding miss on a borderline pair fails
    * the round gate — at 32 bands that is a ≈1e-4 tail per j=0.5 pair
    * instead of 1%.
    *
    * Scale shape: banding shuffle is docs × bands narrow rows; the
    * verification joins explode each CANDIDATE pair by its capped shingle
    * lists (≤ candidate-count × shingles-per-doc rows), never corpus².
    * The df cap runs over the full corpus index BEFORE the candidate
    * semi-join, so sizes and intersections match [[ngramJaccardPairs]]
    * exactly.
    *
    * Jobs and caches: building the DataFrame runs ONE job — the warm-up
    * `count()` of the cached shingle arrays — and leaves three cache
    * entries (the shingle arrays, the LSH candidates and the candidate
    * docs' capped index) for [[graft.GraftSession.clearCaches]]. Batch
    * callers only: a per-trigger caller would pin three plans per trigger.
    */
  def minhashLshVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
                              shingleN: Int = 5, k: Int = 32, bands: Int = 16,
                              threshold: Double = 0.5, maxDf: Long = 100): DataFrame = {
    // ONE tokenization (r17): the cached (doc, sh) arrays feed the minhash
    // signatures, the df table, AND the capped index — previously each of
    // the three re-tokenized the corpus from text. Signatures are
    // bit-identical: the kernel's per-position min is insensitive to
    // duplicates, so distinct arrays hash to the same signature as the
    // raw shingle stream, and empty-array docs drop exactly as before.
    val sh = shingleSlim(docs, idCol, textCol, shingleN, "doc", hash = false).cache()
    // cache warm-up before concurrent consumers race it (see
    // ngramJaccardPairs); cands/idxC are NOT warmed — their consumers
    // chain sequentially enough that an extra eager job measured as a
    // wash here
    sh.count()
    val sigs = sh.filter(size(col("sh")) > 0)
      .select(col("doc"), minhashSignature(col("sh"), k).as("sig"))
    val cands = bandedCandidates(sigs, k, bands).cache()

    val idx = capped(shingleRows(sh, "doc"), maxDf)
    val candDocs = cands.select(col("doc_a").as("doc"))
      .union(cands.select(col("doc_b").as("doc"))).distinct()
    val idxC = idx.join(candDocs, Seq("doc"), "left_semi").cache()
    val sizes = idxC.groupBy("doc").agg(count(lit(1)).as("n_shingles"))
    val common = cands
      .join(idxC.select(col("doc").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(idxC.select(col("doc").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))

    jaccardAtLeast(common, sizes, threshold)
  }

  /** SimHash: 64-bit signature — for each bit, sum ±1 votes of the token
    * xxhash64 bits; bit = 1 if the sum is positive. One native pass over
    * the tokens ([[NativeExpressions.SimHash64]]).
    */
  def simhash(text: Column): Column =
    NativeExpressions.simhash64(TextFunctions.tokens(text))

  /** MD5-based SimHash ([[NativeExpressions.Md5SimHash64]]): identical
    * vote/sign rule, token bit pattern = first 8 bytes of md5(token)
    * big-endian. This is the ORACLE-CHECKABLE definition — a SQL engine
    * can recompute the signature from `md5(token)` hex chars, so the whole
    * Hamming pair set is brute-force verifiable cross-engine. ~2-3× the
    * hash cost of [[simhash]]; use that one when reproducibility outside
    * this engine doesn't matter.
    */
  def simhashMd5(text: Column): Column =
    NativeExpressions.simhash64Md5(TextFunctions.tokens(text))

  /** SimHash near-dup candidate pairs: the 64-bit signature is split into
    * 8 byte-blocks and candidates are blocked on PAIRS of equal blocks
    * (Manku et al., WWW'07 style multi-block keys). Pigeonhole: Hamming ≤ 6
    * touches at most 6 of the 8 blocks, so some 2 blocks are untouched —
    * and all C(8,2)=28 block pairs are enumerated, so every true pair lands
    * in at least one shared bucket. Exact `bit_count` then verifies
    * Hamming ≤ maxDist.
    *
    * Scale shape: the earlier single-quarter scheme (4×16-bit keys)
    * guaranteed only Hamming ≤ 3, which RecallGateSpec measured at 0.60
    * recall of true jaccard≥0.9 near-dups (their Hamming spans 0-5: ~10%
    * token churn flips >3 of 64 bits). Fixing that by blocking on single
    * 8-bit blocks would shrink keys to 256 buckets — n/256 occupancy goes
    * quadratic in the self-join at corpus scale. Block-PAIR keys keep the
    * effective key 16 bits wide (n/65536 occupancy, same as before) and
    * buy the d≤6 guarantee for a 28-row-per-doc narrow explode.
    *
    * The blocking keys are parameterized Manku-style as (blocks, subset):
    * the 64-bit signature splits into `blocks` nearly-equal bit ranges,
    * and candidates are blocked on equality of every
    * (blocks − maxDist)-subset of them. Pigeonhole: Hamming ≤ maxDist
    * touches at most maxDist blocks, so some (blocks − maxDist)-subset is
    * untouched — and ALL such subsets are enumerated, so every true pair
    * lands in at least one shared bucket; exact `bit_count` then verifies.
    * The exactness guarantee holds for EVERY valid (blocks, maxDist), so
    * the DuckDB brute-force oracle keeps verifying the output no matter
    * which blocking is chosen — blocking is purely a cost knob:
    *
    *   - effective key width = (blocks − maxDist)·(64/blocks) bits; the
    *     random-collision candidate term is C(blocks, keep) · n² /
    *     2^keyWidth. Default blocks=8 (28 pair-keys, 16-bit keys) holds
    *     comfortably at 5·10⁵ docs — measured 27.7 s at SCALE.md's x100p
    *     (19× for 100× data) once the join was stage-bounded (below);
    *     blocks=10 (210 subset-keys, ~25.6-bit) measured 86.8 s on the
    *     same corpus because its 7.5× explode dominates while the n²/2^16
    *     term is still small there. The wider keys win only when
    *     n²/2^16 · keyCount overtakes the explode — n in the ~10⁷ range —
    *     so raise `blocks` with corpus size, not before.
    *   - the subset count C(blocks, blocks−maxDist) is the per-doc
    *     explode factor — capped below so a mis-parameterization cannot
    *     emit thousands of rows per doc.
    *
    * Jobs and caches: building it runs no job; it leaves one cache entry
    * (the signatures) for [[graft.GraftSession.clearCaches]].
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 6, md5Sig: Boolean = false,
                   blocks: Int = 8): DataFrame = {
    val keep = blocks - maxDist
    // blocks >= 2 also keeps every block under 64 bits — a 64-bit-wide
    // block's mask (1L << 64) - 1L would wrap to 0 (JVM shifts are
    // mod 64) and silently collapse every doc into ONE bucket, turning
    // the join into the all-pairs shape this operator exists to avoid
    require(keep >= 1 && blocks >= 2 && blocks <= 64,
      s"blocking needs maxDist=$maxDist < blocks=$blocks, 2 <= blocks <= 64")
    val subsets = (0 until blocks).combinations(keep).toIndexedSeq
    require(subsets.size <= 512,
      s"C($blocks, $keep) = ${subsets.size} subset keys per doc — beyond 512 the " +
        "explode dominates; pick fewer blocks")
    // block q covers bits [q*64/blocks, (q+1)*64/blocks) — nearly equal
    // integer ranges, full coverage, no overlap
    def block(q: Int): Column = {
      val lo = q * 64 / blocks
      val hi = (q + 1) * 64 / blocks
      shiftright(col("sig"), lo).bitwiseAND((1L << (hi - lo)) - 1L)
    }
    val sigExpr = if (md5Sig) simhashMd5(col(textCol)) else simhash(col(textCol))
    val sigs = graft.operators.Guards.spread(
        docs.select(col(idCol).as("doc"), col(textCol)))
      .select(col("doc"), sigExpr.as("sig")).cache()
    val keys = subsets.zipWithIndex.map { case (sub, sid) =>
      // one 64-bit key per subset: fold the subset id + block values
      // through xxhash64 so the join key stays a single long regardless
      // of subset size
      xxhash64(lit(sid) +: sub.map(block): _*)
    }
    val blocked = sigs.select(col("doc"), col("sig"), explode(array(keys: _*)).as("blk"))

    val hamming = {
      val x = col("a.sig").bitwiseXOR(col("b.sig"))
      bit_count(x)
    }

    // Filter BEFORE distinct: a true pair emits one duplicate candidate
    // row per shared subset key, and far pairs colliding on one bucket
    // are dead weight — the Hamming check is a pure function of the pair,
    // so filtering first is identical and shrinks the distinct's shuffle.
    //
    bucketSelfJoin(blocked, "blk")
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"), hamming.as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Exact-substring duplicate SPANS (the production shape of suffix-array
    * substring dedup — Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", ExactSubstr): for each document, the maximal
    * runs of consecutive token positions whose word-n-gram also occurs in
    * at least one OTHER document, reported as (span_start, span_tokens)
    * for runs covering ≥ minTokens tokens. This is the REMOVAL primitive
    * that [[ngramJaccardPairs]]-style whole-document matching misses: a
    * unique document can still carry a copied passage, and the training
    * fix is to cut the span, not drop the document. A run of m consecutive
    * duplicated n-gram positions covers m+n-1 tokens.
    *
    * Duplication is CROSS-document (a shingle repeated only within one doc
    * does not mark it) — the same df convention as the dup_frac signal.
    *
    * Scale shape — same no-pair-join discipline as the rest of the family:
    * one shingle-keyed df aggregate over distinct (doc, shingle), one
    * shingle-keyed join marking duplicated positions, then gaps-and-islands
    * per document (pos − row_number over the doc's dup positions), whose
    * window is bounded by single-document length. Nothing quadratic: no
    * doc×doc comparison exists anywhere, and at 100 TB the join key
    * becomes xxhash64(shingle) so only 8-byte keys move (raw shingles ship
    * here so a SQL oracle can replicate the grouping exactly).
    *
    * Jobs and caches: building it runs no job and caches nothing.
    */
  def substringSpans(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, minTokens: Int): DataFrame = {
    val sh = graft.operators.Guards.spread(
        docs.select(col(idCol).as("doc"), col(textCol)))
      .select(col("doc"),
        posexplode(TextFunctions.wordShingles(col(textCol), n)).as(Seq("pos", "shingle")))
      .select(col("doc"), col("pos").cast("long").as("pos"), col("shingle"))
    val df = sh.select("doc", "shingle").distinct()
      .groupBy("shingle").agg(count(lit(1)).as("df"))
    val dup = sh.join(df.filter(col("df") >= 2).select("shingle"), Seq("shingle"))
      .select("doc", "pos")
    val isl = dup.withColumn("grp",
      col("pos") - row_number().over(Window.partitionBy("doc").orderBy("pos")))
    isl.groupBy("doc", "grp")
      .agg(min("pos").as("span_start"),
        (max(col("pos")) - min(col("pos")) + n).as("span_tokens"))
      .filter(col("span_tokens") >= minTokens)
      .select(col("doc"), col("span_start"), col("span_tokens"))
  }

  /** Incremental dedup: classify each document of a NEW batch (`delta`)
    * against an existing corpus as `exact_dup` (identical text in the
    * corpus, by 64-bit hash — same collision convention as [[exact]]),
    * `near_dup` (word-n-gram jaccard ≥ threshold with some corpus doc), or
    * `new`. Returns one row per delta doc: (doc_id, status, match_id,
    * jaccard) — match_id is the min matching base id for exact dups, else
    * the best near-dup (max jaccard, ties to min id); jaccard is null
    * unless status is near_dup. This is the production shape for a
    * continuously-ingested corpus: the delta is classified WITHOUT
    * re-clustering the base.
    *
    * The corpus is a [[ShingleIndex.Frames]] shingle source, and this is
    * the one classification body for both kinds:
    *   - [[ShingleIndex.derive]] over a base frame: every evaluation scans
    *     and tokenizes the base text (a batch caller caches the slim
    *     frame, so that happens once per call).
    *   - [[ShingleIndex.read]] of a persistent index: slim parquet scans,
    *     no base text read and no base tokenization.
    *
    * Scale shape — the corpus is never re-shuffled as pairs:
    *   - exact: the delta's hashes broadcast into the (base_id, th) stats
    *     (one map-only probe).
    *   - df-cap: the HOT shingle set (merged df > maxDf, a groupBy-sum over
    *     the df partials) is small by construction (it is the boilerplate
    *     tail), so the delta caps via a broadcast LEFT ANTI join. The
    *     postings stay uncapped: joined with the capped delta shingles
    *     they only ever match capped ones.
    *   - candidates: the capped delta shingle set broadcasts into the
    *     postings; only narrow (delta_id, base_id) pairs shuffle to the
    *     count aggregate.
    *   - `size_b` for CANDIDATE docs only: n_total minus the doc's hot
    *     shingles, counted as its postings outside the hot set — a join of
    *     the postings with the candidate ids, never a corpus aggregate.
    * Jaccard is computed over the capped shingle universe on BOTH sides
    * (a delta shingle absent from the corpus has df 0 and stays), so sizes
    * and intersections agree with what the join can see.
    *
    * The delta-side broadcasts are a CONTRACT, and a MECHANICAL one: the
    * operator counts the delta once and, above `deltaBroadcastLimit` rows
    * (or 2M exploded shingle rows), degrades every delta-side broadcast to
    * a keyed shuffle join (the postings and delta-derived inputs
    * stage-bound on the join key under AQE — an explode hides its true
    * size from static estimation, the blind-broadcast class SCALE.md's
    * x100p run measured at 145 s — or pinned to sort-merge with AQE off).
    * Only the hot-set LEFT ANTI caps keep their broadcast. Chunking the
    * delta is NOT needed for correctness — delta docs are only ever
    * compared to the corpus, never to each other, so the degraded plan
    * computes the identical answer in one pass. A corpus-vs-corpus
    * comparison still belongs to [[ngramJaccardPairs]], whose index
    * self-join is built for it. `deltaBroadcastLimit` is a setting so
    * that a small fixture can reach the degraded plan (DedupSpec);
    * production callers keep the default.
    *
    * `perTrigger = true` is the setting for a caller that runs once per
    * streaming trigger ([[graft.streaming.StreamingAnalytics]]'s
    * `incrementalDedupStream` and `ingestBatch`): nothing is cached, and
    * the delta — a micro-batch, bounded by the stream's own contract —
    * keeps the broadcast plan without the count, whose job would
    * re-tokenize the uncached delta on every trigger.
    *
    * Jobs and caches: a batch call (the default) runs ONE job while the
    * DataFrame is built — the delta count above — and leaves one cache
    * entry (the delta's slim shingle frame) for
    * [[graft.GraftSession.clearCaches]], beside whatever `src` holds. A
    * `perTrigger` call runs no job and caches nothing.
    */
  def incrementalStatus(src: ShingleIndex.Frames, delta: DataFrame, idCol: String,
                        textCol: String, threshold: Double, maxDf: Long,
                        perTrigger: Boolean = false,
                        deltaBroadcastLimit: Long = 500000L): DataFrame = {
    // ONE delta tokenization (r17): the count, the text-hash projection
    // and the shingle explode all derive from the slim (doc_id, th, sh)
    // frame.
    val dSlim = cachedUnless(perTrigger)(
      shingleSlim(delta, idCol, textCol, src.n, "doc_id", hash = true))
    // One map-only pass over the delta (the contractually small side) buys
    // a plan decision the static estimator cannot make: row count AND the
    // exploded shingle volume — the latter is what actually broadcasts
    // (~doc-length× the rows, invisible to static estimation under the
    // explode), so a 50k-doc delta of long documents degrades even though
    // its row count looks harmless. 2M shingle rows ≈ low hundreds of MB
    // broadcast — a deliberate ceiling far under driver-threatening.
    val small = perTrigger || {
      val stats = dSlim.agg(
        count(lit(1)).as("rows"),
        coalesce(sum(size(col("sh"))), lit(0L)).as("sh")).head()
      stats.getLong(0) <= deltaBroadcastLimit &&
        stats.getLong(1) <= ShingleBroadcastLimit
    }
    val aqe = delta.sparkSession.conf
      .get("spark.sql.adaptive.enabled", "true").equalsIgnoreCase("true")
    // Degraded-path guard for delta-derived join inputs: the count PROVED
    // the delta big, so no static broadcast decision may survive — under
    // AQE the frames either already end at a shuffle boundary (aggregates)
    // or get one (dh below), and runtime sizing takes over; with AQE off
    // every such join is pinned sort-merge outright.
    def bcD(df: DataFrame): DataFrame =
      if (small) broadcast(df) else if (aqe) df else df.hint("merge")
    // The postings side of a delta-derived join: degraded, BOTH inputs
    // may be un-materialized explodes whose static estimate is the slim
    // pre-explode projection — stage-bound both on the join key
    // (co-partitioned: one logical shuffle, no extra exchange).
    def joinD(postings: DataFrame, d: DataFrame, key: String,
              how: String = "inner"): DataFrame =
      if (small) postings.join(broadcast(d), Seq(key), how)
      else {
        def bound(df: DataFrame) = graft.operators.Guards.stageBound(df, col(key))
        bound(postings).join(bound(d), Seq(key), how)
      }

    val dh0 = dSlim.select(col("doc_id"), col("th"))
    // the one delta projection with no natural stage boundary: give it the
    // join's own shuffle as a boundary (reused, not extra) so AQE sizes it
    val dh = if (small || !aqe) dh0 else dh0.repartition(col("th"))
    val hot = hotSet(src.dfPartials.groupBy("shingle").agg(sum("df").as("df")), maxDf)
    val deltaShU = dropHot(shingleRows(dSlim, "doc_id"), hot)
    val common = joinD(src.postings, deltaShU, "shingle")
      .groupBy("doc_id", "base_id").agg(count(lit(1)).as("common"))
    val baseSizes = dropHot(joinD(src.postings, common.select("base_id"),
        "base_id", "left_semi"), hot)
      .groupBy("base_id").agg(count(lit(1)).as("size_b"))

    val exactM = src.stats.select(col("base_id"), col("th")).join(bcD(dh), "th")
      .groupBy("doc_id").agg(min("base_id").as("exact_match"))
    val deltaSizes = deltaShU.groupBy("doc_id").agg(count(lit(1)).as("size_d"))
    val rawJ = col("common").cast("double") * 1.0 /
      (col("size_d") + col("size_b") - col("common"))
    val best = Window.partitionBy("doc_id").orderBy(desc("j"), col("base_id"))
    val nearM = baseSizes
      .join(bcD(common.join(bcD(deltaSizes), "doc_id")), "base_id")
      .filter(rawJ >= threshold)
      .withColumn("j", rawJ)
      .withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("base_id").as("near_match"),
        Rounding.round4(col("j")).as("near_jaccard"))
    // ids from the delta itself, not dSlim: every consumer of the delta's
    // text then sits under a delta-side broadcast (PlanCheck pins it)
    delta.select(col(idCol).as("doc_id"))
      .join(bcD(exactM), Seq("doc_id"), "left")
      .join(bcD(nearM), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("near_match").isNotNull, "near_dup")
          .otherwise("new").as("status"),
        coalesce(col("exact_match"), col("near_match")).as("match_id"),
        when(col("exact_match").isNull, col("near_jaccard")).as("jaccard"))
  }

  /** [[incrementalStatus]]'s exploded-shingle ceiling for the broadcast plan. */
  private val ShingleBroadcastLimit = 2000000L
}

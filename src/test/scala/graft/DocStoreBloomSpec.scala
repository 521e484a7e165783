package graft.sources.docstore


import org.apache.spark.sql.functions._

/** Per-shard bloom filters (`option("bloom.fields", ...)`) — equality/IN
  * shard skipping on scattered high-cardinality fields.
  *
  * Soundness is the whole game: a bloom false NEGATIVE drops rows silently
  * (Spark trusts pushed filters), so these tests check no-false-negative
  * over EVERY written value, the type-family guard that refuses to prune
  * on a mismatched literal family, and that bloom-less paths (pre-bloom
  * collections, maintenance rewrites) keep every shard.
  */
class DocStoreBloomSpec extends graft.SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    tempDir(s"graft_bloom_$tag").toString

  private def shardsKept(plan: String): (Int, Int) = {
    val m = "Shards: (\\d+)/(\\d+)".r.findFirstMatchIn(plan)
      .getOrElse(fail(s"no Shards: in plan\n$plan"))
    (m.group(1).toInt, m.group(2).toInt)
  }

  // ids scattered across shards by an unrelated partition key: every
  // shard's id min/max spans ~the whole domain, so zone maps can't prune
  private def writeScattered(dir: String, withBloom: Boolean): Unit = {
    val df = spark.range(0, 4000)
      .select(col("id"), pmod(col("id") * 31, lit(97)).as("grp"),
        concat(lit("doc_"), col("id")).as("tag"))
      .repartition(8, col("grp"))
    val w = df.write.format("docstore").mode("overwrite")
    (if (withBloom) w.option("bloom.fields", "id,tag") else w).save(dir)
  }

  test("bloom prunes shards on an equality lookup where zone maps keep all") {
    val dir = tmpDir("prune")
    writeScattered(dir, withBloom = true)
    val q = spark.read.format("docstore").load(dir).filter(col("id") === 1234L)
    val (kept, total) = shardsKept(q.queryExecution.executedPlan.toString)
    assert(total == 8)
    assert(kept <= 2, s"bloom should keep ~1 of 8 shards, kept $kept")
    assert(q.count() == 1)
  }

  test("without bloom the same layout keeps every shard (the comparison)") {
    val dir = tmpDir("nobloom")
    writeScattered(dir, withBloom = false)
    val q = spark.read.format("docstore").load(dir).filter(col("id") === 1234L)
    val (kept, total) = shardsKept(q.queryExecution.executedPlan.toString)
    assert(kept == total, s"zone maps alone cannot prune a scattered id: $kept/$total")
    assert(q.count() == 1)
  }

  test("no false negatives: every written value found, string field included") {
    val dir = tmpDir("sound")
    writeScattered(dir, withBloom = true)
    // every id lookup returns its row (probe a stride to keep runtime sane)
    val missing = (0L until 4000L by 97).filter { id =>
      spark.read.format("docstore").load(dir)
        .filter(col("id") === id).count() != 1
    }
    assert(missing.isEmpty, s"bloom false negatives for ids: $missing")
    // string blooms: exact tag lookups hit, absent tags return nothing
    val hit = spark.read.format("docstore").load(dir).filter(col("tag") === "doc_2024")
    assert(hit.count() == 1)
    val miss = spark.read.format("docstore").load(dir).filter(col("tag") === "doc_99999")
    assert(miss.count() == 0)
  }

  test("IN lookups prune per-value and union the kept shards") {
    val dir = tmpDir("in")
    writeScattered(dir, withBloom = true)
    val q = spark.read.format("docstore").load(dir)
      .filter(col("id").isin(5L, 777L, 3999L))
    val (kept, total) = shardsKept(q.queryExecution.executedPlan.toString)
    assert(kept <= 4, s"3-key IN should keep at most ~3 of $total shards, kept $kept")
    assert(q.select("id").as[Long].collect().sorted.toSeq == Seq(5L, 777L, 3999L))
  }

  test("type-family guard: a double literal never bloom-prunes a bigint field") {
    // direct unit check of the pruning decision — a DOUBLE literal against
    // a LONG column canonicalizes differently, so the bloom must ABSTAIN
    // (keep) rather than risk a false negative
    val pairs = Array(DocStore.Bloom.hashPair(Long.box(42L)).get)
    val bloom = DocStore.Bloom.build(pairs, 1)
    val stat = DocStore.ShardStat(1, Map(
      "id" -> DocStore.FieldStat(Long.box(0L), Long.box(100L), 1, Some(bloom))))
    import org.apache.spark.sql.sources.EqualTo
    // same family, present: kept; same family, absent: pruned
    assert(DocStore.shardMayMatch(EqualTo("id", 42L), stat))
    assert(!DocStore.shardMayMatch(EqualTo("id", 43L), stat))
    // int literal canonicalizes to the same long bytes: present is kept
    assert(DocStore.shardMayMatch(EqualTo("id", 42), stat))
    // mismatched family (double vs long exemplar): abstain → kept
    assert(DocStore.shardMayMatch(EqualTo("id", 43.0), stat))
  }

  test("maintenance rewrites PRESERVE bloom tracking: compact and deleteWhere still prune") {
    val dir = tmpDir("compact")
    writeScattered(dir, withBloom = true)
    DocStoreMaintenance.compact(spark, dir, targetShards = 4)
    // the compacted writers re-track exactly the previously bloom-indexed
    // fields, so point-lookup pruning survives the rewrite
    val q = spark.read.format("docstore").load(dir).filter(col("id") === 1234L)
    val (kept, total) = shardsKept(q.queryExecution.executedPlan.toString)
    assert(total == 4 && kept < total, s"blooms must survive compact: kept $kept/$total")
    assert(q.count() == 1)
    // a pruned delete rewrite also re-tracks blooms on the rewritten shard
    val deleted = DocStoreMaintenance.deleteWhere(spark, dir,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 1234L)))
    assert(deleted == 1L)
    val q2 = spark.read.format("docstore").load(dir).filter(col("id") === 777L)
    val (kept2, total2) = shardsKept(q2.queryExecution.executedPlan.toString)
    assert(kept2 < total2, s"blooms must survive deleteWhere: kept $kept2/$total2")
    assert(q2.count() == 1)
    assert(spark.read.format("docstore").load(dir).filter(col("id") === 1234L).count() == 0)
  }

  test("saturated-path insert() is membership-equivalent to buffering (same hashing, same mask)") {
    // the writer freezes a max-size filter at SaturationCount and inserts
    // the tail directly — a pair must be found regardless of which path
    // added it, on any m (insert masks by the built filter's own m)
    val buffered: Array[Long] = Array.tabulate(500)(i =>
      DocStore.Bloom.hashPair(Long.box(i.toLong * 104729)).get)
    val b = DocStore.Bloom.build(buffered, buffered.length)
    val late = (500 until 1000).map(i => DocStore.Bloom.hashPair(Long.box(i.toLong * 104729)).get)
    late.foreach(DocStore.Bloom.insert(b, _))
    assert(buffered.forall(b.mightContain), "buffered values present")
    assert(late.forall(b.mightContain), "directly-inserted values present")
    // and the saturation threshold actually yields the capped size
    assert(DocStore.Bloom.SaturationCount.toLong * DocStore.Bloom.BitsPerValue
      <= DocStore.Bloom.MaxBits.toLong)
  }

  test("bloom survives the stats JSON round-trip bit-exact") {
    val vals: Array[Long] = Array.tabulate(1000)(i =>
      DocStore.Bloom.hashPair(Long.box(i.toLong * 7919)).get)
    val b = DocStore.Bloom.build(vals, vals.length)
    val back = DocStore.Bloom.fromBase64(b.k, DocStore.Bloom.toBase64(b))
    assert(back.k == b.k && back.bits.toSeq == b.bits.toSeq)
    // sizing: 1000 values × 10 bits → next pow2 = 16384 bits
    assert(b.m == 16384)
    // false-positive spot check: absent values mostly rejected
    val fp = (100000 until 101000).count(i =>
      back.mightContain(DocStore.Bloom.hashPair(Long.box(i.toLong)).get))
    assert(fp <= 30, s"FP rate way above 1%: $fp/1000")
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering.
  *
  * Zone maps (per-shard/row-group min/max — the docstore's, or parquet's)
  * prune on ONE dimension only if the data is sorted on it: sort by
  * user_id and every shard's hour range spans everything, so an
  * `hour BETWEEN` predicate prunes nothing. Interleaving the bits of both
  * columns and range-partitioning on the interleaved value makes each
  * shard a dyadic BOX in (a, b) space — min/max stay tight on BOTH
  * columns, and a 2-D range query prunes every shard whose box misses it.
  * This is the standard multi-dimensional clustering technique of
  * warehouse table formats, expressed as plain Spark: the z-value is a
  * pure codegen'd bit-twiddling Column (no kernel, no UDF), and the
  * layout is a shuffle into contiguous z-value ranges ([[zorderCluster]]).
  *
  * Layout changes WHERE rows land, never WHAT a query returns — the
  * `s13_zorder_scan` oracle runs the same predicate over the original
  * table, and PlanCheck asserts the pruning (`Shards: kept/total`).
  */
object Layout {

  /** Spread the low 32 bits of `c` to the even bit positions of a long
    * (classic mask-shift cascade, 5 steps).
    */
  def spreadBits32(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0xFFFFFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    val x4 = x3.bitwiseOR(shiftleft(x3, 2)).bitwiseAND(lit(0x3333333333333333L))
    x4.bitwiseOR(shiftleft(x4, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** Morton interleave of two non-negative 32-bit values: bits of `a` on
    * even positions, bits of `b` on odd.
    *
    * Input DOMAIN caveat: `b`'s bit 31 lands on the z-value's bit 63 —
    * the sign bit of the LongType result — so for b ≥ 2³¹ the z-value is
    * negative and the signed z-value ranges split the Morton curve
    * at the sign boundary (results stay correct — pruning reads real
    * min/max — but one shard straddles far-apart boxes and prunes
    * poorly). Values above 32 bits are masked. For full-range uint32
    * inputs (e.g. a 32-bit hash column), pre-shift to 31 bits
    * (`shiftright(x, 1)`) or flip the sign bit so the unsigned order
    * survives the signed sort; this repo's z-order carriers use small
    * non-negative domains where neither applies.
    */
  def zorder2(a: Column, b: Column): Column =
    spreadBits32(a).bitwiseOR(shiftleft(spreadBits32(b), 1))

  /** Cluster `df` for 2-D zone-map pruning on (a, b): split the z-value
    * order into `nShards` contiguous ranges of about equal row count, one
    * output partition each. Each output partition (= one docstore shard /
    * one parquet file) covers a dyadic box in (a, b), so its per-column
    * min/max are tight on both. One shuffle — the same cost as any global
    * sort-for-layout — paid once at write time, amortized over every
    * pruned read after.
    *
    * The range bounds come from EXACT row counts per z-prefix, so the same
    * rows always land in the same shards. Spark's `repartitionByRange`
    * samples instead, seeded from the RDD id: the same data got other
    * bounds depending on how many RDDs the session had made before, and
    * `s13_zorder_scan` kept 6 or 7 of its 16 shards from one run to the
    * next. Rows with a null z-value go to shard 0.
    *
    * The call is eager: it runs two small jobs over `df` before it returns
    * (the z-value min/max of each sign, then the per-prefix counts), and
    * the write that consumes the result reads `df` once more, so cache an
    * expensive input.
    */
  def zorderCluster(df: DataFrame, a: Column, b: Column, nShards: Int): DataFrame = {
    // z (then its prefix) is projected once as a column: as an inline
    // expression each aggregate and each shard bound below re-evaluated it
    val zc = "__graft_zorder"
    val withZ = df.withColumn(zc, zorder2(a, b))
    val z = col(zc)
    // negative z-values (b ≥ 2³¹, see zorder2) get their own span: one span
    // across the sign would leave the non-negative rows a single prefix
    val neg = z < 0
    val span = withZ.select(min(when(neg, z)), max(when(neg, z)),
      min(when(!neg, z)), max(when(!neg, z))).head()
    def shift(i: Int) =
      if (span.isNullAt(i)) 0 else prefixShift(span.getLong(i), span.getLong(i + 1))
    val prefix = when(neg, shiftright(z, shift(0))).otherwise(shiftright(z, shift(2)))
    val counts = withZ.select(prefix.as("p")).filter(col("p").isNotNull)
      .groupBy("p").count().collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // a new shard starts at the first prefix whose rows-before reach the
    // next multiple of n / nShards
    val n = math.max(1L, counts.map(_._2).sum)
    val starts = counts.foldLeft((0L, Vector.empty[Long])) { case ((before, ss), (p, c)) =>
      (before + c, if (before * nShards / n > ss.length) ss :+ p else ss)
    }._2
    withZ.withColumn(zc, prefix)
      .repartitionById(nShards,
        starts.foldLeft(lit(0))((shard, p) => shard + when(z >= p, 1).otherwise(0)))
      .drop(zc)
  }

  /** The right shift that keeps the [[PrefixBits]] leading bits of the span
    * [minZ, maxZ] actually covers. Every z in it shares the bits above the
    * highest bit where minZ and maxZ differ, so `z >> prefixShift` takes at
    * most 2^PrefixBits values — 2^(PrefixBits+1) over both signs, so the
    * counts collect stays bounded whatever the data — and an offset span
    * (a column of epoch seconds) still splits into fine prefixes instead
    * of one or two. */
  private[graft] def prefixShift(minZ: Long, maxZ: Long): Int =
    math.max(0, 64 - java.lang.Long.numberOfLeadingZeros(minZ ^ maxZ) - PrefixBits)

  /** Significant z-value bits whose exact counts place the shard bounds. */
  private[graft] val PrefixBits: Int = 16
}

package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zorder2: bit interleave matches a reference interleave") {
    def refInterleave(a: Long, b: Long): Long = {
      var z = 0L
      for (bit <- 0 until 32) {
        z |= ((a >> bit) & 1L) << (2 * bit)
        z |= ((b >> bit) & 1L) << (2 * bit + 1)
      }
      z
    }
    val cases = Seq((0L, 0L), (5L, 3L), (1L, 0L), (0L, 1L),
      (0xFFFFFFFFL, 0L), (0L, 0xFFFFFFFFL), (123456L, 654321L), (0xFFFFFFFFL, 0xFFFFFFFFL))
    cases.toDF("a", "b")
      .select($"a", $"b", Layout.zorder2($"a", $"b").as("z"))
      .collect().foreach { r =>
        assert(r.getLong(2) == refInterleave(r.getLong(0), r.getLong(1)),
          s"interleave(${r.getLong(0)}, ${r.getLong(1)})")
      }
  }

  // The claim the operator exists for: on the SAME data and the SAME 2-D
  // box query, a z-ordered layout prunes shards where a 1-D sort layout
  // cannot (each x-sorted shard spans all y values).
  test("z-order layout prunes a 2-D box; 1-D sort layout cannot") {
    val n = 4096
    val grid = (0 until n).map(i => (i.toLong, (i % 64).toLong, (i / 64).toLong))
      .toDF("id", "x", "y")
    def shardsKept(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val plan = df.queryExecution.executedPlan.toString
      val m = "Shards: (\\d+)/(\\d+)".r.findFirstMatchIn(plan)
        .getOrElse(fail(s"no Shards: marker in plan:\n$plan"))
      (m.group(1).toInt, m.group(2).toInt)
    }
    val dir = tempDir("graft_layout").toString

    Layout.zorderCluster(grid, $"x", $"y", nShards = 16)
      .write.format("docstore").mode("overwrite").save(s"$dir/zorder")
    grid.repartitionByRange(16, $"x")
      .write.format("docstore").mode("overwrite").save(s"$dir/linear")

    // The discriminating query is a band on the SECOND dimension — the one
    // the x-sorted layout is blind to: every x-slice spans all y, so the
    // linear layout keeps all 16 shards; z-ordered shards are (x, y) boxes
    // and only those meeting the band survive.
    def bandQuery(path: String) = spark.read.format("docstore").load(path)
      .filter($"y".between(10, 20))
    val (zKept, zTotal) = shardsKept(bandQuery(s"$dir/zorder"))
    val (lKept, lTotal) = shardsKept(bandQuery(s"$dir/linear"))

    assert(zTotal == 16 && lTotal == 16)
    assert(lKept == 16, s"1-D sort layout unexpectedly pruned: $lKept/16")
    assert(zKept < lKept, s"zorder kept $zKept, linear kept $lKept")
    // and the layouts return identical rows on a full 2-D box
    def boxQuery(path: String) = spark.read.format("docstore").load(path)
      .filter($"x".between(10, 20) && $"y".between(10, 20))
    val zRows = boxQuery(s"$dir/zorder").select("id").collect().map(_.getLong(0)).sorted
    val lRows = boxQuery(s"$dir/linear").select("id").collect().map(_.getLong(0)).sorted
    val expected = grid.filter($"x".between(10, 20) && $"y".between(10, 20))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(zRows.sameElements(expected) && lRows.sameElements(expected))

    // Maintenance path: re-clustering the LINEAR store in place (the
    // OPTIMIZE..ZORDER action) must gain the same pruning, keep every
    // document, and survive through the crash-safe rewrite protocol.
    graft.sources.docstore.DocStoreMaintenance.cluster(
      spark, s"$dir/linear", targetShards = 16, "x", "y")
    val (rKept, rTotal) = shardsKept(bandQuery(s"$dir/linear"))
    assert(rTotal == 16 && rKept < 16, s"recluster kept $rKept/$rTotal")
    val rRows = boxQuery(s"$dir/linear").select("id").collect().map(_.getLong(0)).sorted
    assert(rRows.sameElements(expected))
  }

  // Range partitioning samples with a seed taken from the RDD id, so its
  // bounds (and s13_zorder_scan's kept-shard count, 6 or 7 of 16) moved
  // with the number of RDDs the session had made before. The layout must
  // be a function of the rows alone.
  test("zorderCluster: the same rows land in the same shards on every run") {
    val rnd = new scala.util.Random(13L)
    val pts = (0 until 20000).map(i => (i.toLong, rnd.nextInt(1000).toLong, rnd.nextInt(24).toLong))
      .toDF("id", "x", "y")
    val dir = tempDir("graft_layout_runs").toString
    def run(extraRdds: Int): (Map[Int, Set[Long]], String) = {
      (0 until extraRdds).foreach(_ => spark.sparkContext.parallelize(Seq(1)))
      val clustered = Layout.zorderCluster(pts, $"x", $"y", nShards = 16)
      val shards = clustered.select(spark_partition_id(), $"id").collect()
        .groupBy(_.getInt(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
      clustered.write.format("docstore").mode("overwrite").save(s"$dir/run$extraRdds")
      val plan = spark.read.format("docstore").load(s"$dir/run$extraRdds")
        .filter($"x".between(40, 80) && $"y".between(6, 12)).queryExecution.executedPlan.toString
      (shards, "Shards: \\d+/\\d+".r.findFirstIn(plan).getOrElse(fail(plan)))
    }
    val runs = Seq(0, 3, 7).map(run)
    assert(runs.head._1.size == 16)
    runs.tail.foreach { r =>
      val sameShards = r._1 == runs.head._1
      assert(sameShards, "shard contents moved between runs")
      assert(r._2 == runs.head._2)
    }
  }

  // The prefix shift follows the span the z-values cover. Taken from the
  // largest z alone, an offset column (epoch seconds) put every row under
  // one or two prefixes and so into one or two shards, and a negative
  // coordinate (b ≥ 2³¹ after masking) left one prefix per distinct
  // z-value for the driver to collect.
  test("zorderCluster: offset and negative coordinates still fill every shard") {
    val rnd = new scala.util.Random(17L)
    val base = (0 until 20000)
      .map(i => (i.toLong, rnd.nextInt(1000).toLong, rnd.nextInt(24).toLong))
    def shardSizes(pts: Seq[(Long, Long, Long)]): Seq[Long] =
      Layout.zorderCluster(pts.toDF("id", "x", "y"), $"x", $"y", nShards = 16)
        .groupBy(spark_partition_id()).count().collect().map(_.getLong(1)).toSeq
    val offset = shardSizes(base.map { case (i, x, y) => (i, x + 1700000000L, y) })
    val signed = shardSizes(base.map { case (i, x, y) => (i, x, y - 12) })
    Seq("offset x" -> offset, "negative y" -> signed).foreach { case (what, sizes) =>
      assert(sizes.length == 16, s"$what: ${sizes.length}/16 shards non-empty")
      assert(sizes.max <= 2 * 20000 / 16, s"$what: shard sizes $sizes")
    }
    // whatever the span within one sign, z >> shift takes at most
    // 2^PrefixBits values: the per-prefix counts the driver collects
    val spans = Seq((0L, Long.MaxValue), (Long.MinValue, -1L), (5L, 5L), (-7L, -3L),
      (1L << 61, (1L << 61) + 123456789L), (Long.MinValue, Long.MinValue + 3))
    spans.foreach { case (lo, hi) =>
      val s = Layout.prefixShift(lo, hi)
      assert((hi >> s) - (lo >> s) < (1L << Layout.PrefixBits), s"span [$lo, $hi], shift $s")
    }
  }
}

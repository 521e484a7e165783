package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed graph primitives needed by the dedup pipeline (cluster the
  * near-duplicate pair graph, keep one canonical doc per cluster).
  *
  * Spark has no built-in connected components on DataFrames; this is the
  * classic min-label propagation: every node starts labeled with itself,
  * and each round takes the min label over itself and its neighbors until
  * no label changes. Rounds needed = graph diameter; near-dup graphs are
  * overwhelmingly small star-shaped clusters (diameter ≤ ~3), so the loop
  * terminates in a handful of rounds.
  *
  * Scale notes for 100 TB:
  *   - the (possibly expensive) edge plan is scanned ONCE: both edge
  *     orientations come out of a single explode, and the result is
  *     materialized pre-partitioned by `dst` — so the per-round
  *     labels⋈edges join moves no edge bytes at all, and only the
  *     min-aggregate shuffles (8-byte ids; document payloads never enter
  *     the graph). One shuffle per round.
  *   - each round's labels are `localCheckpoint`ed (truncates the growing
  *     lineage so round N does not replay rounds 1..N-1) and the previous
  *     round's checkpoint blocks are unpersisted as soon as the next round
  *     is materialized — executor storage holds at most two label
  *     snapshots DURING the computation. The FINAL round's blocks back
  *     the returned DataFrame and stay persisted for its lifetime (a
  *     localCheckpoint cannot be unpersisted-and-recomputed), so a
  *     long-running caller invoking this repeatedly retains one final
  *     label snapshot per call — per-process callers are fine; a
  *     per-trigger caller would need to reclaim the snapshot blocks
  *     after consuming the result (none exists in this repo: the
  *     streaming ingest pipe classifies against the docstore without
  *     clustering).
  *   - convergence is a `changed` flag computed INSIDE the propagation
  *     round (nbr_min < component) — counting it is the same job that
  *     materializes the round's checkpoint, not a separate join job.
  *   - a component with diameter > maxIter would exit with wrong,
  *     partially-propagated labels — that silently corrupts canonical
  *     dedup ids downstream, so non-convergence THROWS instead. For
  *     adversarial long-path graphs, [[connectedComponentsLogN]] runs the
  *     large-star/small-star rewrite (Kiveris et al., "Connected
  *     Components in MapReduce and Beyond") which converges in O(log n)
  *     rounds; plain propagation is the right default for dedup shapes.
  */
object Graphs {

  /** `localCheckpoint` plus handles to the RDD blocks it persisted, so a
    * superseded round can be freed (the Dataset API offers checkpointing
    * but no unpersist of the underlying blocks).
    *
    * The handle comes from the checkpointed Dataset's own plan — a
    * `localCheckpoint` resolves to a `LogicalRDD` wrapping exactly the
    * RDD that was persisted. Diffing the global `getPersistentRDDs`
    * registry instead (the previous approach) races under concurrent
    * queries: another query's `cache()` landing in the snapshot window
    * would be claimed here and wrongly unpersisted later.
    */
  private def checkpointTracked(df: DataFrame): (DataFrame, Seq[RDD[_]]) =
    track(df.localCheckpoint())

  /** The blocks behind an already checkpointed frame (see above). */
  private def track(out: DataFrame): (DataFrame, Seq[RDD[_]]) = {
    val blocks = out.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Seq(lr.rdd)
      case other =>
        // Never steal someone else's blocks: if the plan shape ever stops
        // being a bare LogicalRDD, prefer a bounded leak over a race.
        System.err.println(
          s"[graphs] localCheckpoint produced ${other.getClass.getSimpleName}; blocks not tracked")
        Seq.empty
    }
    (out, blocks)
  }

  /** One propagation round's labels: a LAZY `localCheckpoint` (r18) of
    * `round`, materialized by a full-scan count of its `changed` rows —
    * ONE job per round that both persists the labels and answers
    * convergence (the eager form paid a checkpoint job, then a probe job).
    * Spark's lazy-checkpoint contract is that the triggering action
    * computes EVERY partition; a short-circuiting probe (limit/isEmpty)
    * would truncate lineage with only the touched partitions persisted.
    * The count runs here, so no caller can pick a different probe.
    * Returns the checkpointed frame (`changed` dropped), its blocks, and
    * whether no row changed.
    */
  private def checkpointRound(round: DataFrame): (DataFrame, Seq[RDD[_]], Boolean) = {
    val (next, blocks) = track(round.localCheckpoint(eager = false))
    val converged = next.filter(col("changed")).count() == 0
    (next.drop("changed"), blocks, converged)
  }

  /** Both orientations of an edge list from ONE scan of the input plan,
    * materialized hash-partitioned by `dst` (the per-round join key).
    */
  private def symmetrized(edges: DataFrame, srcCol: String, dstCol: String): (DataFrame, Seq[RDD[_]]) =
    checkpointTracked(edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
      .sortWithinPartitions("dst"))

  /** Connected components of an undirected edge list. Returns one row per
    * distinct node: (node, component) where component = min node id
    * reachable from it. Nodes appear only if they touch an edge — callers
    * left-join and coalesce to self for singletons.
    *
    * Throws IllegalStateException if the graph has not converged within
    * `maxIter` rounds (diameter > maxIter) — wrong labels must never be
    * returned silently.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 50): DataFrame = {
    val (sym, symBlocks) = symmetrized(edges, srcCol, dstCol)

    var (labels, labelBlocks) = checkpointTracked(
      sym.select(col("src").as("node")).distinct()
        .withColumn("component", col("node")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // Neighbor messages: every edge forwards its dst's current label to
      // src. Both sides are already partitioned on dst → no exchange here;
      // the min-aggregate is the round's single shuffle, and the join back
      // onto `labels` is again exchange-free (both partitioned on node).
      val nbrMin = sym
        .join(labels.select(col("node").as("dst"), col("component").as("nbr")), "dst")
        .select(col("src").as("node"), col("nbr"))
        .groupBy("node").agg(min("nbr").as("nbr_min"))
      val (next, nextBlocks, done) = checkpointRound(
        labels.join(nbrMin, "node")
          .select(col("node"),
            least(col("component"), col("nbr_min")).as("component"),
            (col("nbr_min") < col("component")).as("changed")))
      converged = done
      labelBlocks.foreach(_.unpersist(blocking = false))
      labelBlocks = nextBlocks
      labels = next
      iter += 1
    }
    symBlocks.foreach(_.unpersist(blocking = false))
    if (!converged) {
      labelBlocks.foreach(_.unpersist(blocking = false))
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — the graph has a component " +
        s"with diameter > $maxIter; raise maxIter or use connectedComponentsLogN")
    }
    labels
  }

  /** Large-star/small-star connected components (Kiveris et al.) — the
    * O(log n) variant for adversarial graphs (long paths, huge diameters)
    * where plain propagation's diameter-many rounds would be the
    * bottleneck. Maintains a parent pointer per node; each round:
    *   large-star: every node links its LARGER neighbors (in the current
    *     parent forest) to its minimum neighbor — halves tree heights;
    *   small-star: every node links its parent and smaller neighbors to
    *     the minimum — flattens stars.
    * Here both are folded into one update per round over the symmetrized
    * edge set lifted to parent space: parents(u) ← min over neighbors'
    * parents and own parent, plus path-halving (parent ← parent-of-parent)
    * which is what yields the logarithmic collapse. Same driver-loop
    * skeleton, shuffles, and checkpoint discipline as
    * [[connectedComponents]].
    */
  def connectedComponentsLogN(edges: DataFrame, srcCol: String, dstCol: String,
                              maxIter: Int = 50): DataFrame = {
    val (sym, symBlocks) = symmetrized(edges, srcCol, dstCol)

    var (parents, parentBlocks) = checkpointTracked(
      sym.select(col("src").as("node")).distinct()
        .withColumn("parent", col("node")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // Lift edges to parent space: candidate parent for u = min over
      // {parent(v) : v neighbor of u}.
      val nbrMin = sym
        .join(parents.select(col("node").as("dst"), col("parent").as("np")), "dst")
        .select(col("src").as("node"), col("np"))
        .groupBy("node").agg(min("np").as("nbr_min"))
      // Path-halving: follow the own-parent pointer one extra hop. This is
      // the star-collapsing step that makes rounds logarithmic.
      val grand = parents.select(col("node").as("p1"), col("parent").as("gp"))
      val (next, nextBlocks, done) = checkpointRound(
        parents.join(nbrMin, Seq("node"), "left")
          .join(grand, col("parent") === col("p1"), "left")
          .select(col("node"),
            least(col("parent"), coalesce(col("nbr_min"), col("parent")),
              coalesce(col("gp"), col("parent"))).as("parent"),
            (least(coalesce(col("nbr_min"), col("parent")),
              coalesce(col("gp"), col("parent"))) < col("parent")).as("changed")))
      converged = done
      parentBlocks.foreach(_.unpersist(blocking = false))
      parentBlocks = nextBlocks
      parents = next
      iter += 1
    }
    symBlocks.foreach(_.unpersist(blocking = false))
    if (!converged) {
      parentBlocks.foreach(_.unpersist(blocking = false))
      throw new IllegalStateException(
        s"connectedComponentsLogN did not converge in $maxIter rounds")
    }
    parents.select(col("node"), col("parent").as("component"))
  }

  /** Cluster near-duplicate pairs and assign every doc a canonical id
    * (min doc id of its component; docs in no pair are their own
    * canonical) plus the cluster size. The "keep one per near-dup
    * cluster" primitive of a training-data dedup pass. Cluster sizes come
    * from a count window over the already-narrow (id, canonical) rows —
    * one shuffle, no second scan of the labeled plan.
    */
  def canonicalClusters(docs: DataFrame, idCol: String,
                        pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    val labeled = docs.select(col(idCol))
      .join(cc.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("canonical_id"))
    labeled
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("canonical_id")))
      .select(col(idCol), col("canonical_id"), col("cluster_size"))
  }
}

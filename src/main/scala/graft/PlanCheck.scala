package graft

/** Plan-quality audit (not part of the driver contract): asserts the
  * physical-plan properties the 100 TB design depends on — pushdown,
  * pruning, broadcast placement, no stray shuffles — so a regression in
  * plan shape fails loudly rather than silently costing a scan.
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.open("8")

    val gate = new Gate("PLANCHECK")
    // Plan construction itself can throw (round 7: an unreadable events
    // table crashed the first check and killed the whole 32-check gate).
    // A failed construction marks that check's assertions FAIL and moves
    // on, so the checks for healthy tables still print their rows.
    // Plan construction is EXPENSIVE for queries whose builders run real
    // jobs (Lloyd training collects, pagerank iterations, roundtrip
    // writes) — memoize per name so a query asserted by several gates
    // (and by the registry-wide sweep) is planned once per session.
    val planCache = scala.collection.mutable.HashMap.empty[String, Option[String]]
    def planOf(name: String): Option[String] = planCache.getOrElseUpdate(name,
      try Some(SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString)
      catch { case e: Throwable =>
        System.err.println(s"[plancheck] $name plan construction failed: ${e.getMessage}")
        None
      })
    // ONE assertion loop for registry plans (check) and auxiliary plans
    // (checkAux) — shared so DUMP_PLANS, the FAIL accounting, and the row
    // format can't drift between the two.
    def runAsserts(label: String, plan: Option[String],
                   asserts: Seq[(String, String => Boolean)]): Unit = {
      plan.filter(_ => sys.env.contains("DUMP_PLANS")).foreach(p => println(s"===== $label =====\n$p"))
      asserts.foreach { case (what, pred) =>
        gate.check(plan.exists(pred), s"$label: $what")
      }
    }
    def check(name: String)(asserts: (String, String => Boolean)*): Unit =
      runAsserts(name, planOf(name), asserts)

    // Structural twin of check(): predicates see the physical-plan TREE,
    // for invariants the string dump cannot express. An Exchange line
    // prints only its partitioning KEYS, so "column X never shuffles"
    // must inspect the exchange child's OUTPUT, not the plan text.
    // Exchanges only exist after EnsureRequirements — `sparkPlan` has
    // none (a tree predicate over it counts zero exchanges vacuously), and
    // with AQE on, `executedPlan` is an AdaptiveSparkPlanExec whose inner
    // plan `collect` cannot reach. So tree checks plan through a no-AQE
    // session and inspect ITS executedPlan, where every ShuffleExchangeExec
    // is a real, collectible node.
    val treeSession = spark.newSession()
    treeSession.conf.set("spark.sql.adaptive.enabled", "false")
    val treeCache = scala.collection.mutable.HashMap
      .empty[String, Option[org.apache.spark.sql.execution.SparkPlan]]
    def treePlan(name: String): Option[org.apache.spark.sql.execution.SparkPlan] =
      treeCache.getOrElseUpdate(name,
        try Some(SparkEntry.queries(name)(treeSession, sfDir).queryExecution.executedPlan)
        catch { case e: Throwable =>
          System.err.println(s"[plancheck] $name plan construction failed: ${e.getMessage}")
          None
        })
    def checkTree(name: String)(asserts: (String, org.apache.spark.sql.execution.SparkPlan => Boolean)*): Unit = {
      val plan = treePlan(name)
      asserts.foreach { case (what, pred) =>
        gate.check(plan.exists(pred), s"$name: $what")
      }
    }
    // Structural broadcast containment: the string dumps of exactly the
    // subtrees under each BroadcastExchange. The older fixed-line-distance
    // heuristics (take(4)/take(6) after a marker) false-PASS whenever
    // WholeStageCodegen/InputAdapter wrappers push the scan line further
    // down — these predicates see the WHOLE subtree, nothing else.
    def broadcastSubtrees(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          b.child.toString
      }
    // Plan-node form of the same collection, for STRUCTURAL pins: the
    // subtree under each BroadcastExchange as a SparkPlan, so predicates
    // inspect Catalyst expression trees instead of dump strings (which a
    // Spark upgrade's rendering change would break with the plans still
    // correct).
    def broadcastSubtreePlans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          b.child
      }
    // every node of `p`, descending into CACHED plans: an
    // InMemoryTableScan is a collect() leaf, and when the r17 slim-frame
    // caches landed, the pinned expressions (the delta's pmod slice)
    // moved INSIDE the cached plan — the pin silently stopped seeing
    // them (inherited r18 find: dd_incremental's allowlist pin was
    // red at the r17 HEAD). A cached plan materialized by an AQE session
    // is an AdaptiveSparkPlanExec shell whose inner nodes (and their
    // QueryStageExec wrappers) are collect() leaves too — unwrap both,
    // or the pin's visibility depends on WHICH session touched the
    // cache first.
    def nodesWithCached(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect {
        case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          im +: nodesWithCached(im.relation.cachedPlan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a +: nodesWithCached(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          qs +: nodesWithCached(qs.plan)
        case x => Seq(x)
      }.flatten
    // any node in the subtree carries an expression matching `pred`
    // (FilterExec conditions AND scan pushed dataFilters both surface
    // through QueryPlan.expressions)
    def subtreeHasExpr(n: org.apache.spark.sql.execution.SparkPlan)(
        pred: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression, Boolean]): Boolean =
      nodesWithCached(n).flatMap(_.expressions)
        .exists(_.exists(e => pred.lift(e).getOrElse(false)))

    // Column names riding any hash-shuffle exchange (keys AND payload).
    def shuffledColumns(p: org.apache.spark.sql.execution.SparkPlan): Set[String] = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] =>
        e.child.output.map(_.name).toSet
    }.flatten.toSet

    // Scan pruning + predicate pushdown reach the parquet reader.
    check("s1_scan_project")(
      "filter pushed to parquet scan" -> (_.contains("PushedFilters: [IsNotNull(value), GreaterThan(value,150.0)]")),
      "only 3 columns read" -> (_.contains("ReadSchema: struct<event_id:bigint,event_type:string,value:double>")))

    // Point lookup: equality predicate pushed down.
    check("j3_point_lookup")(
      "user_id=7 pushed to scan" -> (_.contains("EqualTo(user_id,7)")))

    // Star join: every dimension broadcast (Spark may also broadcast
    // orders at small SF — fine); the fact table must NEVER be broadcast.
    check("j6_star_join_revenue")(
      "dims broadcast (≥3 exchanges)" -> (p => "BroadcastExchange".r.findAllIn(p).size >= 3),
      "region filter pushed" -> (_.contains("EqualTo(r_name,EUROPE)")))
    checkTree("j6_star_join_revenue")(
      "lineitem never inside a broadcast subtree" ->
        (p => !broadcastSubtrees(p).exists(_.contains("lineitem.parquet"))))

    // Pivot with explicit values: pivotfirst two-phase over a pre-aggregate,
    // no extra distinct-collect pass (2 hash exchanges total), 2-col scan.
    check("a7_pivot")(
      "explicit-value pivotfirst" -> (_.contains("pivotfirst(event_type")),
      "two hash exchanges (pre-agg + pivot)" ->
        (p => "Exchange hashpartitioning".r.findAllIn(p).size == 2),
      "scan pruned to 2 columns" ->
        (_.contains("ReadSchema: struct<user_id:bigint,event_type:string>")))

    // Entity summary: ONE scan of events feeds all 12 aggregates (the
    // reference made 8 passes); the 2 exchanges are the inherent
    // multi-countDistinct Expand rewrite, with map-side partial agg.
    check("j2_entity_summary")(
      "single events scan" -> (p => "FileScan parquet".r.findAllIn(p).size == 1),
      "multi-distinct via Expand (not self-joins)" -> (_.contains("Expand")),
      "≤2 hash exchanges" -> (p => "Exchange hashpartitioning".r.findAllIn(p).size <= 2))

    // Brute-force KNN: query side broadcast, corpus never broadcast. Both
    // sides scan the SAME parquet, so containment is decided by the pushed
    // query-side filter appearing in EVERY broadcast subtree — checked
    // structurally on the tree (the old indexOf-after-marker form was
    // satisfied by the probe side printing after the broadcast, and was
    // vacuously true when indexOf returned -1).
    check("sim_knn_brute")(
      "exactly one broadcast (the query set)" -> (p => "BroadcastExchange".r.findAllIn(p).size == 1))
    checkTree("sim_knn_brute")(
      "every broadcast subtree is the filtered query side" -> (p => {
        val bs = broadcastSubtreePlans(p)
        // structural: the query side is the vec_id < 10 slice, pushed to
        // its scan — same expression-tree pin as the sim_ivf allowlist
        // guard (the last plan-dump substring pin, converted r13).
        bs.nonEmpty && bs.forall(subtreeHasExpr(_) {
          case org.apache.spark.sql.catalyst.expressions.LessThan(
              a, org.apache.spark.sql.catalyst.expressions.Literal(v, _)) =>
            a.references.exists(_.name == "vec_id") && String.valueOf(v) == "10"
        })
      }))

    // Composed training-batch pipeline: gates and chunking are map-side
    // (one Generate for the chunk explode, no extra shuffle between the
    // dedup join and the pack window), packing windows on (shard).
    check("pipe_training_batch")(
      "chunk explode present" -> (p => p.contains("Generate explode")),
      "pack window partitioned by shard" ->
        (p => "windowspecdefinition\\(shard#\\d+L?,".r.findFirstIn(p).isDefined),
      "scans pruned to (doc_id, text)" ->
        (p => !p.contains("ReadSchema: struct<doc_id:bigint,text:string,lang")))

    // Incremental dedup: the base corpus joins everything small via
    // broadcast — the df-cap is a broadcast ANTI join (map-only), the
    // delta side broadcasts into the base index, and nothing sort-merges;
    // document text never rides an exchange (hashes and shingles do).
    check("dd_incremental")(
      "no sort-merge join anywhere" -> (p => !p.contains("SortMergeJoin")),
      "df-cap via broadcast anti join" ->
        (p => p.contains("BroadcastHashJoin") && p.contains("LeftAnti")))
    checkTree("dd_incremental")(
      "no shuffle carries document text (keys OR payload)" ->
        (p => !shuffledColumns(p).contains("text")))

    // The index-served twin adds the steady-state contract on top: the
    // base corpus's text is NEVER read at classification time — every
    // base access is a scan of precomputed ShingleIndex parquet (the
    // per-trigger cost that must not grow as re-tokenization at 100 TB).
    // The ONE documents scan reading `text` is the delta slice.
    check("dd_incremental_indexed")(
      "no sort-merge join anywhere" -> (p => !p.contains("SortMergeJoin")),
      "classification is served from index parquet" ->
        (_.contains("graft_shidx")))
    checkTree("dd_incremental_indexed")(
      "no shuffle carries document text (keys OR payload)" ->
        (p => !shuffledColumns(p).contains("text")),
      "every documents scan reading text sits under a broadcast (delta only)" ->
        (p => {
          import org.apache.spark.sql.execution.FileSourceScanExec
          // the delta's text scan sits inside its cached slim shingle frame
          def textScans(t: org.apache.spark.sql.execution.SparkPlan) = nodesWithCached(t).collect {
            case s: FileSourceScanExec
                if s.relation.location.rootPaths.exists(_.toString.contains("documents"))
                  && s.output.exists(_.name == "text") => s
          }
          val all = textScans(p)
          val underBroadcast = broadcastSubtreePlans(p).flatMap(textScans).toSet
          // the delta re-tokenize is real, and the base never contributes
          // a non-broadcast text scan — the indexed steady-state shape
          all.nonEmpty && all.forall(underBroadcast)
        }))

    // Retrieval: document metadata must join AFTER ranking — the tiny
    // ranked top-k broadcasts into the documents scan, and the documents
    // side is never broadcast or shuffled.
    check("sim_retrieve")(
      "ranked top-k broadcast into documents" -> (p => p.contains("BroadcastHashJoin")),
      "documents scan pruned to 3 columns" ->
        (_.contains("ReadSchema: struct<doc_id:bigint,lang:string,source:string>")))
    checkTree("sim_retrieve")(
      "documents never inside a broadcast subtree" ->
        (p => !broadcastSubtrees(p).exists(_.contains("documents.parquet"))))

    // Semantic dedup: the pair join must be HASH-KEYED on cell (at small
    // SF Spark broadcasts one side; at scale the same logical plan
    // co-partitions both sides on cell) — never a cartesian/nested-loop
    // over the corpus.
    check("sim_semantic_dedup")(
      "pair join hash-keyed on cell" ->
        (p => "Join \\[cell#\\d+\\], \\[cell#\\d+\\]".r.findFirstIn(p).isDefined),
      "no nested-loop pair scan" ->
        (p => !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct")))

    // PQ ANN: the ADC scoring join must stream CODES (m ints + rnorm),
    // never embeddings — no hash exchange may carry an embedding column —
    // and the exact re-rank joins the tiny shortlist back via broadcast.
    check("sim_pq")(
      "shortlist re-rank via broadcast hash join" -> (_.contains("BroadcastHashJoin")),
      "queries broadcast into the ADC scoring pass" ->
        (_.contains("BroadcastNestedLoopJoin")))
    checkTree("sim_pq")(
      "no shuffle carries an embedding column (keys OR payload)" ->
        (p => shuffledColumns(p).intersect(Set("embedding", "ne", "qe")).isEmpty))

    // SQ8: same compressed-domain discipline as PQ — the dequantized
    // array dies inside the encode scan's projection; every exchange
    // carries only ids and scores.
    check("sim_sq8")(
      "shortlist re-rank via broadcast hash join" -> (_.contains("BroadcastHashJoin")),
      "queries broadcast into the ADC scoring pass" ->
        (_.contains("BroadcastNestedLoopJoin")))
    checkTree("sim_sq8")(
      "no shuffle carries an embedding or dequantized column" ->
        (p => shuffledColumns(p).intersect(Set("embedding", "ne", "qe", "re")).isEmpty))

    // As-of join: one shuffle for the union’d sort-merge formulation.
    check("j8_asof_join")(
      "single hash exchange (by user)" ->
        (p => "Exchange hashpartitioning".r.findAllIn(p).size == 1))

    // Top-k: planned as TakeOrderedAndProject, not global sort.
    check("t2_topk")(
      "TakeOrderedAndProject" -> (_.contains("TakeOrderedAndProject")))

    // Top-k + Others: no partition-less window (single-task sort of the
    // whole counts table); membership comes from TakeOrderedAndProject +
    // broadcast probe.
    check("t4_topk_others")(
      "no global window" -> (p => !p.contains("Window")),
      "top-k via TakeOrderedAndProject" -> (_.contains("TakeOrderedAndProject")),
      "membership broadcast" -> (_.contains("BroadcastHashJoin")))

    // Exact dedup: narrow groupBy(hash)+join-back — rows reduce to (id, h)
    // before any exchange. A regression to the window-over-text form would
    // reintroduce a full-text shuffle.
    check("dd_exact")(
      "no Window over full text" -> (p => !p.contains("Window")),
      "≤2 narrow hash exchanges" ->
        (p => "Exchange hashpartitioning".r.findAllIn(p).size <= 2))
    checkTree("dd_exact")(
      "no shuffle carries document text (keys OR payload)" ->
        (p => !shuffledColumns(p).contains("text")))

    // LSH bucket self-joins (simhash blocks, minhash bands): the exploded
    // index is data-sized but statically estimated at the slim pre-explode
    // projection — without a stage boundary the planner broadcasts it to
    // the driver (x100p measured: 1.2 GiB of task results, maxResultSize
    // kill). The build-side repartition marks the plan; AQE then picks
    // the join strategy from the RUNTIME size.
    check("dd_simhash")(
      "bucket join stage-bounded (runtime-size strategy, no blind broadcast)" ->
        (_.contains("REPARTITION_BY_COL")))
    check("dd_minhash_lsh")(
      "banding join stage-bounded (runtime-size strategy, no blind broadcast)" ->
        (_.contains("REPARTITION_BY_COL")))

    // Tree-level guard for the same defect CLASS (not just the marker):
    // no BroadcastExchange subtree may contain a Generate (explode) that
    // is not first bounded by an aggregate — a data-sized exploded index
    // under a broadcast is exactly the statistics-blind driver-kill the
    // x100p decade measured, whichever side the planner elects. The
    // aggregate stop is deliberate: the df-capped hot-shingle sets
    // (explode → groupBy → filter df>maxDf → broadcast anti-join) are
    // bounded by construction and legitimate.
    // The Generate's input is ONE ROW — and its explode therefore bounded
    // by that row's array sizes — only when the first cardinality-DEFINING
    // node below it is a GLOBAL aggregate (empty grouping), reached
    // through row-preserving/reducing wrappers only. A keyed aggregate
    // does NOT qualify (groupBy(doc_id).collect_list exploded under a
    // broadcast is corpus-sized — exactly the statistics-blind class and
    // must earn an allowlist entry), and a global agg DEEPER in the tree
    // (below a join/scan, e.g. a corpus-stats count feeding BM25) bounds
    // nothing above itself.
    def boundedByGlobalAgg(n: org.apache.spark.sql.execution.SparkPlan): Boolean = {
      import org.apache.spark.sql.execution._
      n match {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
          a.groupingExpressions.isEmpty
        case _: ProjectExec | _: FilterExec | _: SortExec |
             _: WholeStageCodegenExec | _: InputAdapter |
             _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          n.children.exists(boundedByGlobalAgg)
        case _ => false
      }
    }
    def unaggGenerate(n: org.apache.spark.sql.execution.SparkPlan): Boolean = n match {
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => false
      // one-row-input explodes (MG candidate arrays, min/max-derived day
      // sequences — the a21/a29 shapes the registry sweep found) are the
      // only self-evidently bounded Generate under a broadcast
      case g: org.apache.spark.sql.execution.GenerateExec => !boundedByGlobalAgg(g.child)
      case other => other.children.exists(unaggGenerate)
    }
    // string dumps of exactly the broadcast subtrees holding an
    // un-aggregated explode — for pinning an allowlisted query's broadcast
    // to the side its boundedness argument names
    def blindExplodeSubtrees(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
            if unaggGenerate(b.child) => b.child.toString
      }
    def blindExplodeBroadcast(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      blindExplodeSubtrees(p).nonEmpty
    // REGISTRY-WIDE (r11): the gate ran over the six queries whose
    // operators had already exhibited the defect (dd_* family r9, j9/j11
    // r10) — but joins over exploded chunks/tokens exist in tx_chunk,
    // tx_decontaminate, the ir_* family and whatever a future round adds,
    // and the class is statistics-blind: it appears wherever the planner
    // first meets an un-materialized explode. So EVERY registered query's
    // executed plan is scanned; a query that legitimately needs a
    // broadcast over an un-aggregated Generate must earn an allowlist
    // entry with its boundedness argument written here:
    //  - dd_incremental: the broadcast IS the delta's exploded shingle set
    //    minus hot shingles — the bounded-delta contract, MECHANICAL since
    //    r10 (above deltaBroadcastLimit every delta broadcast degrades to
    //    keyed sort-merge, Dedup.scala); the gate would flag the very
    //    broadcast the contract deliberately permits.
    //  - sim_ivf: the broadcast is the QUERY side's nProbe-cell explode
    //    (#queries × nProbe rows) — the deliberate query-side-only
    //    broadcast hint; the corpus side is assigned map-only and never
    //    broadcast (the guard below pins every explode-broadcast to the
    //    filtered query side).
    //  - ir_prf_expansion: the broadcast explodes bottomkpairs output
    //    keyed by query_id — the query set is a 3-row literal table, so
    //    the exploded side is ≤ #queries × k pairs (a keyed aggregate the
    //    global-agg exemption deliberately does not cover).
    //  - dd_incremental_indexed: same bounded-delta contract as
    //    dd_incremental — the ONLY explode in the whole plan is the
    //    delta's capped shingle set (the base side reads precomputed
    //    ShingleIndex parquet and never explodes), and that delta
    //    broadcast is the design: every index touch is a map-only scan.
    val blindExplodeAllow =
      Set("dd_incremental", "dd_incremental_indexed", "sim_ivf", "ir_prf_expansion")
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(blindExplodeAllow)
      .foreach { q =>
        checkTree(q)(
          "no broadcast subtree contains an un-aggregated explode" ->
            (p => !blindExplodeBroadcast(p)))
      }
    // the allowlist is itself guarded: each entry's explode-broadcasts
    // must be EXACTLY the side its boundedness argument names. The pins
    // are STRUCTURAL (collect the broadcast subtree's plan nodes and
    // inspect their expression trees) — the r11 form matched raw
    // plan-dump fragments ("pmod(doc_id", "LessThan(vec_id,10)"), which
    // a Spark upgrade's rendering change (attribute-qualified predicates,
    // new literal formats) would break even with the plans still correct.
    def blindExplodePlans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
            if unaggGenerate(b.child) => b.child
      }
    checkTree("dd_incremental")(
      "explode broadcasts only the contract-bounded delta side" -> (p => {
        val bs = blindExplodePlans(p)
        bs.nonEmpty && bs.forall(subtreeHasExpr(_) {
          // the delta IS the pmod(doc_id, …) slice of the corpus
          case m: org.apache.spark.sql.catalyst.expressions.Pmod =>
            m.references.exists(_.name == "doc_id")
        })
      }))
    checkTree("dd_incremental_indexed")(
      "explode broadcasts only the contract-bounded delta side" -> (p => {
        val bs = blindExplodePlans(p)
        bs.nonEmpty && bs.forall(subtreeHasExpr(_) {
          // the delta IS the pmod(doc_id, …) slice of the corpus; the
          // base side is ShingleIndex parquet with no Generate at all
          case m: org.apache.spark.sql.catalyst.expressions.Pmod =>
            m.references.exists(_.name == "doc_id")
        })
      }))
    checkTree("sim_ivf")(
      "explode broadcasts only the nProbe-cell query side" -> (p => {
        val bs = blindExplodePlans(p)
        bs.nonEmpty && bs.forall(subtreeHasExpr(_) {
          // the query side is the vec_id < 10 slice, pushed to its scan
          case org.apache.spark.sql.catalyst.expressions.LessThan(
              a, org.apache.spark.sql.catalyst.expressions.Literal(v, _)) =>
            a.references.exists(_.name == "vec_id") && String.valueOf(v) == "10"
        })
      }))
    checkTree("ir_prf_expansion")(
      "explode broadcasts only the per-query bottom-k pairs" -> (p => {
        val bs = blindExplodePlans(p)
        // the exploded side is the bounded-buffer bottom-k aggregate.
        // The aggregate node itself may sit under a ReusedExchangeExec
        // (a leaf referencing another exchange's files — collect cannot
        // descend), so the pin accepts EITHER the AggregateExpression
        // (a ScalaAggregator wrapping the BottomKPairs Aggregator) or an
        // output ATTRIBUTE carrying the aggregate's semantic name —
        // attribute names are Catalyst metadata, not dump rendering.
        bs.nonEmpty && bs.forall(st =>
          subtreeHasExpr(st) {
            case ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression =>
              (ae.aggregateFunction match {
                case sa: org.apache.spark.sql.execution.aggregate.ScalaAggregator[_, _, _] =>
                  sa.agg.getClass.getSimpleName.toLowerCase.contains("bottomk")
                case f => f.getClass.getSimpleName.toLowerCase.contains("bottomk")
              })
          } || st.collect { case x => x.output }.flatten
            .exists(_.name.toLowerCase.contains("bottomkpairs")))
      }))

    // REGISTRY-WIDE empty-partition WindowExec gate (r12): "WindowExec:
    // No Partition Defined" elsewhere means a single-task sort of the
    // data — the one plan shape that cannot scale. Every registered
    // query's executed plan is swept: an empty-partitionSpec window is
    // legal ONLY above a provably bounded subtree. The structural proof
    // accepted mechanically is a GLOBAL aggregate below the window
    // (reached through row-preserving wrappers — same discipline as the
    // Generate gate's boundedByGlobalAgg, extended with WindowExec
    // pass-through: a window above an already-bounded window stays
    // bounded). A KEYED aggregate does NOT qualify mechanically (its
    // cardinality is the key domain's) — a query whose global window
    // rides a keyed aggregate must earn an allowlist entry arguing the
    // key domain is bounded, and the entry is pinned below to exactly
    // that aggregate shape. This is what makes the logged warning
    // ignorable WITH CAUSE (and lets Bench demote that one logger —
    // the BENCH_r{9,10,11} parsed:null stdout-flood class).
    def windowBounded(n: org.apache.spark.sql.execution.SparkPlan): Boolean = {
      import org.apache.spark.sql.execution._
      n match {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
          a.groupingExpressions.isEmpty
        case _: ProjectExec | _: FilterExec | _: SortExec |
             _: WholeStageCodegenExec | _: InputAdapter |
             _: org.apache.spark.sql.execution.window.WindowExec |
             _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          n.children.exists(windowBounded)
        case _ => false
      }
    }
    def unboundedGlobalWindows(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty && !windowBounded(w.child) => w.child
      }
    // Allowlist — global windows over KEYED aggregates whose key domain
    // is bounded by construction:
    //  - a23_psi_drift: the window totals run over the ≤10-row PSI bin
    //    histogram (bin ids are a fixed literal binning of `value`); the
    //    corpus was crushed to bin counts by the partial aggregate the
    //    a23 gate above pins to one exchange.
    //  - tx_eval_auc: the ROC walk runs over the distinct-score
    //    histogram keyed by the integer classifier score `s` (the
    //    no-corpus-sort AUC design its scaladoc documents — the corpus
    //    is crushed to per-score (np, ns) counts before any window).
    //  - a18b_kmv_distinct: the rank window runs over the ≤64 minimum
    //    hashes a single KMV sketch row explodes to (k is the sketch
    //    parameter, not data-sized).
    val globalWindowAllow = Map(
      "a23_psi_drift" -> "bin",
      "tx_eval_auc" -> "s",
      "a18b_kmv_distinct" -> "h")
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(globalWindowAllow.contains)
      .foreach { q =>
        checkTree(q)(
          "no empty-partition window over an unbounded subtree" ->
            (p => unboundedGlobalWindows(p).isEmpty))
      }
    // each allowlisted query's global windows must ride EXACTLY the
    // bounded histogram its argument names: every unbounded-by-global-agg
    // window input must carry the named bounded key column, proving the
    // window sits above that keyed aggregate and not somewhere new
    globalWindowAllow.foreach { case (q, keyCol) =>
      checkTree(q)(
        s"global windows ride only the bounded '$keyCol' histogram" -> (p => {
          val ws = unboundedGlobalWindows(p)
          ws.isEmpty || ws.forall(_.output.map(_.name).contains(keyCol))
        }))
    }

    // Round-robin exchanges are exempt from the hash gates above by their
    // shape; this row pins their width instead. One that carries text or
    // an embedding is a Guards.spread, which sizes it by the bytes of the
    // files its scan reads: at most min(P, ceil(bytes / SpreadTargetBytes))
    // partitions, or P over a leaf with no files. A bare repartition(P)
    // over a small text scan fails here.
    val treeP = treeSession.sparkContext.defaultParallelism
    def oversizedSpreads(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning] &&
            e.child.output.exists(a => a.name == "text" || (a.dataType match {
              case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType, _) => true
              case _ => false
            })) =>
        val bytes = e.child.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s.relation.location.sizeInBytes
        }.sum
        val bound = if (bytes > 0) graft.operators.Guards.spreadWidth(bytes, treeP) else treeP
        (e.outputPartitioning.numPartitions, bound)
    }.collect { case (n, bound) if n > bound => s"$n partitions > $bound" }
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      checkTree(q)(
        "round-robin exchanges over text or embeddings sized by input bytes" ->
          (p => oversizedSpreads(p).isEmpty))
    }

    // Language-id: ONE tokenization kernel evaluation per row (the
    // interpreted-HOF form evaluated 12 regex splits per row; a Catalyst
    // projection collapse would inline the kernel once per extract).
    check("tx_lang_id")(
      "single marker-counts kernel in the plan" ->
        (p => "graft_marker_counts".r.findAllIn(p).size == 1),
      "no interpreted filter/aggregate HOFs" ->
        (p => !p.contains("lambdafunction")))

    // Repetition filters: ONE stats-kernel evaluation per row (three
    // consuming fraction columns must not inline it 3×).
    check("tx_repetition")(
      "single repetition-stats kernel in the plan" ->
        (p => "graft_repetition_stats".r.findAllIn(p).size == 1),
      "no bigram explode/shuffle" -> (p => !p.contains("Generate")))

    // Fingerprint: native kernel, not the per-character HOF fold.
    check("tx_fingerprint")(
      "native fingerprint kernel" -> (_.contains("graft_fingerprint")),
      "no interpreted HOF fold" -> (p => !p.contains("lambdafunction")))

    // Heavy hitters: the sketch pass must partial-aggregate map-side (≤k
    // counters per partition shuffle, not per-key rows), and the exact
    // pass must reach events through a BROADCAST of the ≤k candidates —
    // never a full-cardinality groupBy-then-filter.
    check("a21_heavy_hitters")(
      "map-side partial MG sketch" ->
        (p => "partial_misragries".r.findFirstIn(p.toLowerCase).isDefined),
      "candidates broadcast into the exact pass" ->
        (p => p.contains("BroadcastHashJoin")),
      "no sort-merge join anywhere" -> (p => !p.contains("SortMergeJoin")),
      "exactly two events scans (sketch pass + verify pass)" ->
        (p => "Scan parquet".r.findAllIn(p).size == 2))

    // KMV distinct: the sketch must partial-aggregate map-side (≤64 longs
    // per (partition, key) through the shuffle, not per-row hashes), and
    // each of the two aggregations reads ONLY its hashed column + the key.
    check("a18b_kmv_distinct")(
      "map-side partial KMV sketch" ->
        (p => "partial_kmvminhashes".r.findFirstIn(p.toLowerCase).isDefined),
      "user scan pruned to (user_id, event_type)" ->
        (_.contains("ReadSchema: struct<user_id:bigint,event_type:string>")),
      "event-id scan pruned to (event_id, event_type)" ->
        (_.contains("ReadSchema: struct<event_id:bigint,event_type:string>")))

    // Histogram quantiles: both passes prune to the two working columns,
    // the ≤5-row stats side broadcasts into the histogram pass, and the
    // rank walk is a real post-aggregate window (never a per-row one).
    check("a19b_histogram_quantiles")(
      "scans pruned to (event_type, value)" ->
        (_.contains("ReadSchema: struct<event_type:string,value:double>")),
      "per-group stats broadcast into the bucketing pass" ->
        (p => p.contains("BroadcastHashJoin")),
      "no sort-merge join anywhere" -> (p => !p.contains("SortMergeJoin")))

    // Z-order layout: both range predicates pushed, and the 2-D box must
    // actually PRUNE — kept shards strictly under half the total (a 1-D
    // sort layout keeps every shard for the second column's predicate).
    check("s13_zorder_scan")(
      "both 2-D range predicates pushed into the docstore scan" ->
        (p => p.contains("GreaterThanOrEqual(user_id,40)")
          && p.contains("LessThanOrEqual(user_id,80)")
          && p.contains("GreaterThanOrEqual(hr,6)")
          && p.contains("LessThanOrEqual(hr,12)")),
      "zone maps prune over half the z-ordered shards" ->
        (p => "Shards: (\\d+)/(\\d+)".r.findFirstMatchIn(p)
          .exists(m => m.group(1).toInt * 2 < m.group(2).toInt)))

    // MMR re-rank: the m×m diversity work happens inside the per-query
    // kernel — no candidate pair JOIN anywhere; the shortlist ids reach
    // the embeddings scan via broadcast, and the corpus-sized part of the
    // plan is the knn ranking already gated under sim_knn_brute.
    check("sim_mmr")(
      "single mmr kernel, no pair join" ->
        (p => "graft_mmr_select".r.findAllIn(p).size == 1 && !p.contains("SortMergeJoin")),
      "shortlist broadcast into the embeddings scan" ->
        (p => p.contains("BroadcastHashJoin")))

    // Ordered funnel: the whole chain must run off ONE events scan and ONE
    // user_id exchange — the three step timestamps are nested windows over
    // the same partitioning, and the per-user collapse reuses it (a
    // join-chain formulation would re-scan events per stage).
    check("a20_funnel")(
      "single events scan" -> (p => "Scan parquet".r.findAllIn(p).size == 1),
      "one hash exchange shared by windows + per-user agg" ->
        (p => "Exchange hashpartitioning".r.findAllIn(p).size == 1),
      "step-type filter pushed to the scan" ->
        (p => "PushedFilters:.*In\\(event_type".r.findFirstIn(p).isDefined))

    // Classifier gate: ONE hashed-n-gram kernel evaluation per row (three
    // consumers — n_feat, sum_w, score — must not inline it 3×), and the
    // whole query is map-only: zero hash exchanges, only the final ORDER
    // BY's range partitioning.
    check("tx_classify")(
      "single hashed-ngram kernel in the plan" ->
        (p => "graft_hashed_ngram_score".r.findAllIn(p).size == 1),
      "map-only (zero hash exchanges)" ->
        (p => "Exchange hashpartitioning".r.findAllIn(p).size == 0),
      "no token explode" -> (p => !p.contains("Generate")))

    // Bucketed co-located join: both sides pre-bucketed on user_id, so
    // the join AND the downstream aggregate need no hash exchange at all
    // (the only exchange is the final ORDER BY's range partitioning).
    check("s7_bucketed_join")(
      "zero hash exchanges (bucketing co-locates join + agg)" ->
        (p => "Exchange hashpartitioning".r.findAllIn(p).size == 0),
      "bucketed scan selected" -> (p => p.contains("SelectedBucketsCount")))

    // Salted skew join: the shuffle must partition on (event_type, salt),
    // not event_type alone — that is the whole point of the salt.
    check("j11_salted_skew_join")(
      "shuffle keys include the salt" ->
        (p => "hashpartitioning\\(event_type#\\d+L?, _graft_salt".r.findFirstIn(p).isDefined))

    // Per-source cap: bounded-buffer bottom-k aggregation — there must be
    // NO window (the row_number formulation sorts every row of every
    // source), and the aggregate must run partial (map-side ≤k buffers)
    // before the one narrow exchange.
    check("tx_source_cap")(
      "no window sort of the corpus" -> (p => !p.contains("Window")),
      "partial aggregation before the shuffle" ->
        (p => "objecthashaggregate.*bottomkpairs".r.findFirstIn(p.toLowerCase.replace("\n", " ")).isDefined
          || p.toLowerCase.contains("partial_bottomkpairs")),
      "text never scanned" -> (p => !p.contains("text")))

    // Corpus report: one documents scan feeds the whole data card. The
    // count(DISTINCT th) forces Spark's distinct-rewrite — a map-side
    // dedup aggregate on (source, th) before the first exchange, so only
    // distinct 8-byte hashes + integer partials ever shuffle, then one
    // narrow re-shuffle to #sources rows. Exactly 2 hash exchanges; a
    // third would mean the rewrite degenerated (e.g. Expand re-scan).
    check("pipe_corpus_report")(
      "two hash exchanges (distinct-rewrite, then per-source)" ->
        (p => "Exchange hashpartitioning".r.findAllIn(p).size == 2),
      "map-side dedup on (source, th) before the first shuffle" ->
        (p => "HashAggregate\\(keys=\\[source#\\d+, th#\\d+L\\], functions=\\[partial_".r.findFirstIn(p).isDefined),
      "single documents scan" -> (p => "Scan parquet".r.findAllIn(p).size == 1))

    // Incremental report: counters AND the KMV sketch ride ONE
    // aggregation (the first cut split them into joined-back aggs, and
    // Spark's missing join elimination re-scanned the corpus per
    // consumer — caught by this gate's predecessor). So: exactly one
    // corpus scan, both aggregation levels partial map-side, zero joins,
    // and no exchange ever carries document text — only counters and
    // ≤64-long sketches move.
    check("pipe_incremental_report")(
      "map-side partial aggregation" -> (_.contains("partial_count")),
      "single documents scan" -> (p => "Scan parquet".r.findAllIn(p).size == 1),
      "no joins anywhere (pure two-level aggregation)" -> (p => !p.contains("Join")),
      "two hash exchanges (per-batch partials, then per-source merge)" ->
        (p => "Exchange hashpartitioning".r.findAllIn(p).size == 2))
    checkTree("pipe_incremental_report")(
      "no exchange carries document text" ->
        (p => !shuffledColumns(p).contains("text")))

    // Length-bucket accounting: one map-only classify, one partial-agg
    // shuffle to #buckets rows, single documents scan pruned to text.
    check("tx_length_buckets")(
      "map-side partial aggregation" -> (p => p.contains("partial_count")),
      "single hash exchange" ->
        (p => "Exchange hashpartitioning".r.findAllIn(p).size == 1),
      "single documents scan pruned to text" ->
        (p => "Scan parquet".r.findAllIn(p).size == 1
          && p.contains("ReadSchema: struct<text:string>")))

    // EXISTS/NOT EXISTS subqueries: Catalyst must DECORRELATE both into
    // joins (semi + anti) — a correlated re-execution or nested loop per
    // customer row is the 100 TB failure mode.
    check("j10_exists_subquery")(
      "EXISTS decorrelated to a semi join" -> (p => p.contains("LeftSemi")),
      "NOT EXISTS decorrelated to an anti join" -> (p => p.contains("LeftAnti")),
      "no nested-loop/cartesian execution" ->
        (p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin")))

    // Backoff surprisal: the corpus-sized BIGRAM model count attaches as
    // a window sum on the (a, b) pair exchange — deliberately NOT a
    // broadcast (it scales with the corpus) and NOT a join (round-10:
    // the bg-aggregate join-back evaluated the pair explode twice); the
    // vocabulary-sized unigram table broadcasts twice (prev + cur).
    check("tx_backoff_surprisal")(
      "bigram window rides the pair-key exchange" ->
        (p => "hashpartitioning\\(a#\\d+, b#\\d+".r.findFirstIn(p).isDefined &&
          p.contains("Window")),
      "unigram attaches broadcast (≥2 broadcast joins)" ->
        (p => "BroadcastHashJoin".r.findAllIn(p).size >= 2),
      "no cartesian pair scan" -> (p => !p.contains("CartesianProduct")))

    // BM25 retrieval: the query-term table broadcasts into the postings
    // (corpus terms never shuffle for the join), the per-query top-10 is
    // the bounded-buffer aggregate with map-side partials — NOT a window
    // sort funneling every candidate doc through 3 query-partition tasks.
    check("ir_bm25")(
      "query terms broadcast into postings (no sort-merge join)" ->
        (p => p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin")),
      "per-query top-k via bounded-buffer aggregate, no window" ->
        (p => !p.contains("Window") &&
          p.toLowerCase.contains("partial_bottomkpairs")))
    // The tf/dl/dft/stats branches all aggregate the tokenized corpus. They
    // are written to canonicalize IDENTICALLY so exchange reuse tokenizes
    // the corpus once and the other branches read the same shuffle files.
    // Under AQE the reuse only materializes at runtime (invisible in the
    // pre-execution plan), so this gate prepares the plan in an AQE-off
    // child session, where ReuseExchangeAndSubquery has already rewritten
    // the duplicate subtrees into ReusedExchangeExec nodes.
    locally {
      val plan = treePlan("ir_bm25")
      val reused = plan.map(_.collect {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec
            if r.output.map(_.name).contains("term") => r
      }.size).getOrElse(0)
      gate.check(reused >= 3, s"ir_bm25: corpus tokenized once (dl/dft/stats reuse the tf exchange, $reused reused)")
    }

    // Unigram surprisal: the vocabulary table and the corpus total attach
    // by broadcast — a sort-merge join here would shuffle every corpus
    // token against the unigram table at 100 TB.
    check("tx_surprisal")(
      "unigram counts broadcast" -> (p => "BroadcastHashJoin".r.findAllIn(p).size >= 1),
      "no sort-merge join of tokens" -> (p => !p.contains("SortMergeJoin")))

    // Parser: ONE fused multi-pattern kernel evaluation per row — a
    // projection collapse that inlined it into each of the 14 consuming
    // columns would re-run all 13 regex searches per field.
    check("p_parse_ssh_roundtrip")(
      "single multi-regexp kernel in the plan" ->
        (p => "graft_multi_regexp".r.findAllIn(p).size == 1))

    // Bloom-filtered point lookup: the layout scatters event_id across all
    // 16 shards (every shard's min/max spans the domain — zone maps alone
    // keep 16/16), so any pruning below half PROVES the bloom filters are
    // doing the skipping. The IN filter must also push into the scan.
    check("s14_bloom_lookup")(
      "IN filter pushed into docstore scan" ->
        (p => "PushedFilters: \\[In\\(event_id".r.findFirstIn(p).isDefined),
      "bloom filters prune over half the shards" ->
        (p => "Shards: (\\d+)/(\\d+)".r.findFirstMatchIn(p)
          .exists(m => m.group(1).toInt * 2 < m.group(2).toInt)))

    // Partitioned layout: the event_type predicate must prune partitions
    // at the directory level (PartitionFilters), not ride as a data filter.
    check("s8_partitioned_scan")(
      "partition pruning at the source" ->
        (p => "PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(p).isDefined))

    // Optimizer-rule rewrite: size(regexp_extract_all(s, p, 0)) must be
    // replaced by the counting kernel (no per-match array materialization).
    check("tx_token_counts")(
      "regexp-count rewrite fired" -> (_.contains("graft_regexp_count")),
      "no materialized match array" -> (p => !p.contains("regexp_extract_all")))

    // Decontamination (round-10 rewrite): bench membership is a
    // per-shingle WINDOW flag over ONE exploded index — no self-join, no
    // second tokenization (the prior two-branch join re-evaluated the
    // explode per branch; a shared repartition couldn't merge them
    // because Catalyst pushes each branch's filter below it).
    check("tx_decontaminate")(
      "no join — bench membership via per-shingle window" ->
        (p => !p.contains("Join") && !p.contains("CartesianProduct") &&
          p.contains("Window")),
      "window exchange rides the shingle key" ->
        (p => "hashpartitioning\\(shingle#\\d+".r.findFirstIn(p).isDefined))
    locally {
      val plan = treePlan("tx_decontaminate")
      val scans = plan.map(p => "Scan parquet".r.findAllIn(p.toString).size).getOrElse(99)
      gate.check(scans == 1, s"tx_decontaminate: corpus shingled once ($scans scans)")
    }
    // tx_backoff_surprisal (round-10 rewrite): the bigram model count is
    // a per-(a, b) window sum over ONE pair explode — the former bg
    // aggregate + join-back evaluated the explode twice. The unigram
    // branch is a second, deliberate scan (vocabulary-sized broadcast
    // aggregate — cheaper than shuffling the exploded pairs again).
    locally {
      val plan = treePlan("tx_backoff_surprisal")
      val scans = plan.map(p => "Scan parquet".r.findAllIn(p.toString).size).getOrElse(99)
      gate.check(scans <= 2, s"tx_backoff_surprisal: pair explode evaluated once ($scans scans)")
    }

    // Sequence packing: the cumsum window must partition on (lang, shard) —
    // a lang-only (or global) window funnels a whole language through one
    // task at scale.
    check("tx_pack")(
      "window partitioned by (lang, shard)" ->
        (p => "hashpartitioning\\(lang#\\d+, shard#\\d+".r.findFirstIn(p).isDefined))

    // Substring-dup signal: document frequency comes from a per-shingle
    // WINDOW — there must be NO pair join anywhere (the quadratic shape
    // this query exists to avoid).
    check("dd_substring_dup")(
      "no join in the plan" ->
        (p => !p.contains("Join") && !p.contains("CartesianProduct")),
      "df via window + final agg" -> (p => p.contains("Window") && p.contains("HashAggregate")))

    // Substring SPANS: duplicated positions are marked by a shingle-keyed
    // equi-join against the df>=2 shingle set (aggregate boundary → AQE
    // runtime strategy), islands run per-doc — no doc×doc comparison
    // exists, and no window may be global (the islands row_number must
    // partition by doc).
    checkTree("dd_substring_spans")(
      "no nested-loop / cartesian pair comparison" ->
        (p => p.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
          case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        }.isEmpty),
      "every window partitions by doc (no global islands sort)" ->
        (p => {
          val ws = p.collect {
            case w: org.apache.spark.sql.execution.window.WindowExec => w.partitionSpec
          }
          ws.nonEmpty && ws.forall(_.nonEmpty)
        }))

    // Mixture planning: the budget bound is ONE broadcast row against the
    // 5-row stratum aggregate — no sort-merge join, no second pass over
    // documents (one scan feeds both the aggregate and the bound).
    check("tx_mixture_plan")(
      "bound joined via broadcast nested loop" ->
        (p => p.contains("BroadcastNestedLoopJoin") && !p.contains("SortMergeJoin")),
      "single documents scan" ->
        (p => "Scan parquet".r.findAllIn(p).size <= 2)) // agg side + bound side share source

    // Explicit grouping sets: one Expand pass computes all three sets —
    // NOT a union of separate aggregations re-scanning the input.
    check("g3_grouping_sets")(
      "single Expand, no Union of re-aggregations" ->
        (p => "Expand".r.findAllIn(p).size == 1 && !p.contains("Union")))

    // Composed reference pipeline through the connector: the dashboard's
    // find(ip != null, projection) must push into the docstore scan — the
    // parse stage's 16 other columns never materialize on re-read.
    check("pipe_ssh_docstore")(
      "ip filter pushed into docstore scan" -> (_.contains("IsNotNull(ip)")),
      "projection pruned to the 3 dashboard fields" ->
        (_.contains("ReadFields: [event, ip, user]")))

    // Document-store connector: `find(filter, projection)` semantics — the
    // filter and the column pruning must reach the DSv2 BatchScan, so
    // non-matching documents and unused fields never materialize as rows.
    check("s11_docstore_roundtrip")(
      "filter pushed into docstore scan" ->
        (p => p.contains("PushedFilters: [") && p.contains("In(event_type")
          && p.contains("GreaterThan(user_id,100)")),
      "projection pruned to the 2 used fields" ->
        (_.contains("ReadFields: [event_type, user_id]")))

    // RRF fusion: both upstream retrieval systems keep their scale shapes —
    // query terms broadcast into the postings (lexical), query vectors
    // broadcast into the corpus scan (dense, streamed side of a BNLJ). The
    // fused merge itself runs on two k·|queries| ranked lists (its
    // full-outer sort-merge is corpus-size-independent), and the dense
    // corpus scan must prune to (vec_id, embedding) with the query-id
    // filter pushed down on the broadcast side.
    check("ir_rrf_fusion")(
      "query terms + stats broadcast on the lexical side" ->
        (p => "BroadcastHashJoin".r.findAllIn(p).size >= 3),
      "dense side scores map-side via broadcast queries" ->
        (_.contains("BroadcastNestedLoopJoin")),
      "dense query filter pushed to its scan" ->
        (p => "In\\(vec_id, \\[1,2,3\\]\\)|vec_id#\\d+L IN \\(1,2,3\\)".r.findFirstIn(p).isDefined))

    // Cohort retention: the whole matrix must cost ONE user_id exchange
    // (per-user week sets reduced map-side, cells counted as rows); a
    // countDistinct formulation would add a second user-wide shuffle. The
    // events scan reads only (ts, user_id).
    check("a22_cohort_retention")(
      "exactly one user_id shuffle" ->
        (p => "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1),
      "scan pruned to ts + user_id" ->
        (_.contains("ReadSchema: struct<ts:")))

    // PSI drift: one events scan, no join, and a single hash exchange —
    // the partial aggregate crushes the event volume to ≤10 bin rows
    // BEFORE the shuffle (the window totals then run on those rows).
    check("a23_psi_drift")(
      "single events scan, no join" ->
        (p => "Scan parquet".r.findAllIn(p).size == 1 && !p.contains("Join")),
      "one hash exchange (bin counts), events never shuffle raw" ->
        (p => "Exchange hashpartitioning\\(".r.findAllIn(p).size == 1))

    // Markov transitions: ONE user_id exchange feeds the lag window (the
    // window partitions on the shuffle key — no global sort); everything
    // after is the ≤|types|² matrix.
    check("a24_markov_transitions")(
      "exactly one user_id shuffle for the lag window" ->
        (p => "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1),
      "lag runs as a window on the user partitioning" -> (_.contains("Window")))

    // DSIR weights: the tf/stats/totals branches all aggregate the
    // tokenized corpus and are written to canonicalize identically —
    // same trick (and same AQE-off gate) as ir_bm25: the corpus must
    // tokenize ONCE, with the LM-count and totals branches reading the
    // same shuffle files.
    locally {
      val plan = treePlan("tx_dsir_weights")
      val scans = plan.map(p => "Scan parquet".r.findAllIn(p.toString).size).getOrElse(99)
      val reused = plan.map(_.collect {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      }.size).getOrElse(0)
      gate.check(scans == 1 && reused >= 2, s"tx_dsir_weights: corpus tokenized once ($scans scans, $reused reused exchanges)")
    }

    // Rolling z-score anomalies: the trailing frame runs per-user on ONE
    // user_id exchange (a per-event_type window would be 5 partitions at
    // any scale); the anomaly predicate is integral, no join anywhere.
    check("a25_zscore_anomaly")(
      "one user_id shuffle feeds the trailing window" ->
        (p => "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1),
      "no join, single events scan" ->
        (p => !p.contains("Join") && "Scan parquet".r.findAllIn(p).size == 1))

    // Retrieval eval: label lookups and per-label counts attach by
    // broadcast around the bruteForceTopK core — the eval adds no
    // corpus-sized shuffle of its own.
    check("ir_ndcg_eval")(
      "labels + counts broadcast (≥3 broadcast joins)" ->
        (p => "BroadcastHashJoin".r.findAllIn(p).size >= 3),
      "no sort-merge join anywhere" -> (p => !p.contains("SortMergeJoin")))

    // PRF expansion runs TWO full BM25 passes — written so both passes'
    // tokenize+tf subtrees canonicalize equal: the corpus must tokenize
    // once, everything else reading reused shuffle files (AQE-off gate,
    // as for ir_bm25/tx_dsir_weights).
    locally {
      val plan = treePlan("ir_prf_expansion")
      val scans = plan.map(p => "Scan parquet".r.findAllIn(p.toString).size).getOrElse(99)
      val reused = plan.map(_.collect {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      }.size).getOrElse(0)
      gate.check(scans <= 2 && reused >= 4, s"ir_prf_expansion: corpus tokenized once across both passes ($scans scans, $reused reused exchanges)")
    }

    // Round-8 warehouse additions. d16: unpivot must lower to an Expand
    // (map-only — melt is not a join or a second shuffle). j12: the SCD2
    // build detects runs, numbers versions, and chains intervals all on
    // windows over the SAME user_id partitioning — one hash exchange
    // total; a groupBy formulation would pay a second. j13: the dirty
    // probe list is the small side — broadcast, never sort-merge, so the
    // customer table is not shuffled for the candidate join. a26: the
    // correlation shuffle carries six partial sums per group, never the
    // raw value rows. a27: the bounded-lookback EWMA is one user_id
    // window exchange, no join.
    check("d16_unpivot")(
      "unpivot lowers to Expand (map-only)" -> (_.contains("Expand")),
      "no join introduced" -> (p => !p.contains("Join")))

    def hashExchanges(p: org.apache.spark.sql.execution.SparkPlan): Int = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }.size

    checkTree("j12_scd2_history")(
      "single user_id exchange feeds all SCD2 windows" -> (p => hashExchanges(p) == 1))

    // j13: no forced broadcast hint (a 1/7-of-dimension probe side would
    // OOM the driver at 100×) — the optimizer picks broadcast at small SF
    // and may pick a keyed shuffle at scale; BOTH are sound because the
    // join is equi-keyed on the blocking key. What must never appear is a
    // nested-loop / cartesian comparison of names.
    check("j13_fuzzy_join")(
      "blocked equi-join (broadcast or shuffled both accepted)" ->
        (p => p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
          p.contains("ShuffledHashJoin")),
      "no nested-loop name comparison" -> (p => !p.contains("NestedLoop") &&
        !p.contains("CartesianProduct")))

    checkTree("a26_corr_stats")(
      "one hash exchange (partial-aggregated)" -> (p => hashExchanges(p) == 1),
      "shuffle carries sums, not raw value rows" -> (p => !shuffledColumns(p).contains("value")))

    checkTree("a27_ewma")(
      "one user_id window exchange" -> (p => hashExchanges(p) == 1),
      "no join" -> (p => p.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.isEmpty))

    // w5/w7 (histogram-exact since round 9): the quantile math must run
    // over the bounded per-(event_type, value) histogram — every window's
    // input carries the histogram's `cnt` column and NEVER `event_id`
    // (the corpus-sort formulation needs event_id for its tie-break, so
    // its presence in a window input is the signature of the shape that
    // buffers/sorts corpus rows per group — the suite's last 100×-unsafe
    // plans, removed per the round-8 verdict).
    def windowInputs(p: org.apache.spark.sql.execution.SparkPlan): Seq[Set[String]] =
      p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec =>
          w.child.output.map(_.name).toSet
      }
    def histogramWindowsOnly(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
      val ins = windowInputs(p)
      ins.nonEmpty && ins.forall(o => o.contains("cnt") && !o.contains("event_id"))
    }
    checkTree("w5_percentiles")(
      "windows run over the value histogram, never corpus rows" -> histogramWindowsOnly)
    check("w5_percentiles")(
      "no percentile buffer aggregate" -> (p => !p.contains("percentile(")))
    // a19's exact reference arm runs over the same bounded histogram
    // (round-10 rewrite); only the approx_percentile sketch may remain.
    checkTree("a19_approx_quantiles")(
      "exact arm runs over the value histogram, never corpus rows" -> histogramWindowsOnly)
    check("a19_approx_quantiles")(
      "no exact percentile buffer aggregate" ->
        (p => !p.replace("approx_percentile(", "").contains("percentile(")))
    checkTree("w7_ntile_deciles")(
      "windows run over the value histogram, never corpus rows" -> histogramWindowsOnly)
    check("w7_ntile_deciles")(
      "no ntile corpus sort" -> (p => !p.contains("ntile(")))

    // a28: the as-of attribution keeps asOfJoin's one-exchange union
    // formulation (plus the ≤25-group rollup's exchange) and must not
    // degrade to a per-row range probe. a29: the concurrency sweep is
    // day-partitioned — every window carries a PARTITION BY (a global
    // sweep would be the single-partition sort that cannot scale), and the
    // carry join is the 30-row days side broadcast (non-equi → nested
    // loop, bounded by the broadcast). g4: iterations must reuse the
    // cached vocabulary-sized edge table, not recompute the event-scale
    // edge aggregation per round.
    check("a28_attribution")(
      "as-of union + rollup: ≤2 hash exchanges" ->
        (p => "Exchange hashpartitioning".r.findAllIn(p).size <= 2),
      "no nested-loop range probe" -> (p => !p.contains("NestedLoop")))

    check("a29_peak_concurrency")(
      "every sweep window is partitioned (no global sort)" ->
        (p => "windowspecdefinition\\((user_id|d)#".r.findAllIn(p).nonEmpty &&
          !"windowspecdefinition\\((?!(user_id|d)#)".r.findAllIn(p).exists(_ => true)),
      "carry join broadcasts the 30-row days side" ->
        (_.contains("BroadcastNestedLoopJoin")))

    // g4 is aggregate-COLLECT-iterate (r14): the registered query's own
    // plan must be nothing but the driver-computed ≤|k|-row local
    // relation plus its sort — any FileScan/Exchange there means the
    // event-scale work leaked back into the per-consumer plan. The
    // data-sized job is the separately-exposed edge aggregate, gated on
    // the properties that matter at 100 TB: a user_id-PARTITIONED window
    // (never a global sort), a map-side partial count before the one
    // (src,dst) exchange, and a pruned 3-column scan.
    check("g4_pagerank")(
      "result is the driver-iterated local relation" -> (_.contains("LocalTableScan")),
      "no event-scale scan in the consumer plan" -> (p => !p.contains("FileScan")))
    // check()'s shape for a plan that is NOT a registry query (here: the
    // edge aggregate a driver-iterating query runs before its consumer
    // plan exists) — same r7 hardening: a failed construction prints
    // FAIL rows and moves on, never aborts the remaining gate.
    def checkAux(label: String)(plan: => String)(asserts: (String, String => Boolean)*): Unit =
      runAsserts(label,
        try Some(plan) catch { case e: Throwable =>
          System.err.println(s"[plancheck] $label plan construction failed: ${e.getMessage}")
          None
        }, asserts)
    // Gate the PROBED plan — g4Edges(...).limit(g4MaxEdges + 1) — because
    // that is the shape g4_pagerank's construction actually executes; the
    // bare aggregate's plan could stay green while the CollectLimit
    // interaction (e.g. AQE demoting the partial agg under the limit)
    // regressed the executed job unnoticed.
    checkAux("g4_pagerank[edges]")(
      Queries.g4Edges(spark, sfDir).limit(Queries.g4MaxEdges + 1)
        .queryExecution.executedPlan.toString)(
      "window partitioned by user_id (no global sort)" ->
        (_.contains("windowspecdefinition(user_id#")),
      "map-side partial count before the (src,dst) exchange" ->
        (_.contains("partial_count")),
      "scan pruned to (event_id, user_id, props)" ->
        (_.contains("ReadSchema: struct<event_id:bigint,user_id:bigint,props:string>")),
      "the edge-cap probe is a CollectLimit, not a global sort/exchange" ->
        (_.contains("CollectLimit")))

    // tx_entropy is a map-only kernel pass: one entropy-stats evaluation
    // per row, no hash exchange anywhere (the per-(doc, char) groupBy
    // formulation would shuffle the corpus' character stream).
    checkTree("tx_entropy")(
      "no hash exchange (map-only quality signal)" -> (p => hashExchanges(p) == 0))
    check("tx_entropy")(
      "single entropy kernel evaluation" ->
        (p => "graft_char_entropy_stats".r.findAllIn(p).size == 1))

    // The SSH dashboard panels over a parsed log (not registry queries).
    // The per-IP summary's distinct counts are set sizes, so it is one
    // aggregate around one exchange on ip; a countDistinct there would
    // bring back RewriteDistinctAggregates' Expand, a second exchange and
    // a SortAggregate. The chart series sort in one partition: a range
    // exchange would add a sampling job per panel under AQE.
    val sshLog = java.nio.file.Files.createTempFile("plancheck_ssh", ".log")
    java.nio.file.Files.write(sshLog, java.util.Arrays.asList(
      "Dec 10 07:00:01 h sshd[1]: Failed password for root from 10.0.0.1 port 1111 ssh2",
      "Dec 10 08:00:02 h sshd[2]: Invalid user admin from 10.0.0.1",
      "Dec 11 09:00:03 h sshd[3]: Accepted password for alice from 10.0.0.2 port 3333 ssh2"))
    val sshParsed = graft.ingest.LogParser.parse(spark.read.text(sshLog.toString))
    def sshPlan(panel: org.apache.spark.sql.DataFrame): String = panel.queryExecution.executedPlan.toString
    checkAux("ssh_dashboard[ip_summary]")(sshPlan(graft.analytics.SshAnalytics.ipEventSummary(sshParsed)))(
      "no distinct-aggregate Expand" -> (p => !p.contains("Expand")),
      "no SortAggregate" -> (p => !p.contains("SortAggregate")),
      "exactly one hash exchange on ip" -> (p => "hashpartitioning\\(ip".r.findAllIn(p).size == 1))
    Seq(
      "access_by_hour" -> graft.analytics.SshAnalytics.accessByHour(sshParsed, "failed_password"),
      "access_by_day" -> graft.analytics.SshAnalytics.accessByDay(sshParsed, "invalid_user"),
      "suspicious_daily" -> graft.analytics.SshAnalytics.suspiciousVsNormalDaily(sshParsed),
      "histogram" -> graft.analytics.SshAnalytics.histogram(sshParsed, org.apache.spark.sql.functions.col("port"), 1000.0)
    ).foreach { case (panel, df) =>
      checkAux(s"ssh_dashboard[$panel]")(sshPlan(df))(
        "no range exchange (series sorted in one partition)" -> (p => !p.contains("rangepartitioning")))
    }
    java.nio.file.Files.delete(sshLog)

    gate.finish(spark)
  }
}

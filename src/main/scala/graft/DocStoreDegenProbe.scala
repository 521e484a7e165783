package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Docstore pruning lens for the degen/fuzz gate (r16 verdict task 7).
  * The batch fuzz gate proves the docstore ROUNDTRIP queries stay
  * hash-green on a fuzzed corpus, but their fixed filters need not land
  * on the planted degenerate shards — so the bloom/zone-map PRUNING
  * decisions over degenerate statistics (a zone map whose min==max==null
  * under the heavy all-null mode, blooms fed extreme 2^59-magnitude ids,
  * NaN-adjacent doubles) were only exercised incidentally. This main
  * rebuilds a user_id-clustered, bloom(event_id) collection from the
  * corpus' OWN events and asserts, for probes aimed at the planted
  * degeneracies, that the pruned docstore read returns exactly the brute
  * DataFrame filter's rows — and that pruning actually ENGAGED (kept <
  * total on at least one probe; a gate that never prunes proves nothing).
  * Prints one "PROBE name: shards kept/total rows=n" line per probe —
  * the machine-visible evidence the fuzz gate logs per seed. Exits 1 on
  * any parity failure or a fully-vacuous run.
  *
  * Usage: runMain graft.DocStoreDegenProbe [corpusDir]
  */
object DocStoreDegenProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_fuzz")
    val spark = GraftSession.open("8")

    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
    val path = "/tmp/graft_docstore_degen_probe"
    val f = org.apache.hadoop.fs.FileSystem.get(new org.apache.hadoop.conf.Configuration())
    f.delete(new org.apache.hadoop.fs.Path(path), true)
    ev.repartition(16, col("user_id"))
      .write.format("docstore").mode("overwrite")
      .option("bloom.fields", "event_id").save(path)

    val gate = new Gate("DOCSTORE DEGEN PROBE")
    var engaged = 0
    def canon(df: DataFrame): Set[(Long, Option[String], Option[Long], Option[Double])] =
      df.select("event_id", "event_type", "user_id", "value").collect().map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))
      }.toSet
    def probe(name: String, pred: Column): Unit = {
      val pruned = spark.read.format("docstore").load(path).filter(pred)
      val plan = pruned.queryExecution.executedPlan.toString
      val kt = "Shards: (\\d+)/(\\d+)".r.findFirstMatchIn(plan)
        .map(m => (m.group(1).toInt, m.group(2).toInt))
      val got = canon(pruned)
      val want = canon(ev.filter(pred))
      val (k, t) = kt.getOrElse((-1, -1))
      if (kt.exists { case (a, b) => a < b }) engaged += 1
      val ok = gate.count(got == want && kt.nonEmpty)
      println(s"${if (ok) "PROBE" else "PROBE-FAIL"} $name: shards $k/$t rows=${got.size}" +
        (if (ok) "" else s" — pruned≠brute diff=${(got diff want).take(2)} ${(want diff got).take(2)}"))
    }

    // the planted extreme ids live near Long.MaxValue - 2^31 (fuzz
    // contract); probe the actual corpus max + a definitely-absent key —
    // the bloom must keep the holder shard and drop the rest
    val maxId = ev.agg(max("event_id")).collect()(0).getLong(0)
    probe("bloom point lookup on extreme + absent event_id",
      col("event_id").isin(maxId, maxId - 1, 123456789012345L))
    // zone maps on the extreme user_id magnitudes (2^40..2^59-1 plants):
    // only shards whose clustered range admits them may be read
    probe("zone range on extreme user_id magnitudes",
      col("user_id") >= (1L << 40))
    // degenerate zone maps: the null-heavy plants make shards whose
    // user_id zone map has nonNull==0 (min==max==null) — IS NULL / IS NOT
    // NULL pruning must classify those shards correctly, not drop rows
    probe("IS NULL over null-planted user_id", col("user_id").isNull)
    probe("IS NULL over null-planted value", col("value").isNull)
    // mixed: extreme magnitude OR null — exercises the keep union
    probe("extreme-or-normal range straddling planted shards",
      col("user_id").between(0L, 100L))

    if (engaged == 0) {
      println("DOCSTORE DEGEN PROBE VACUOUS: no probe pruned a single shard")
      gate.count(false)
    }
    gate.finish(spark)
  }
}

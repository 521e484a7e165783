package graft

import graft.sources.docstore.DocStoreMaintenance

/** The forked half of [[LeaseFuzzSpec]]: a SEPARATE JVM (own FileSystem
  * instances, no shared `metadataLock`, no shared anything) running real
  * maintenance ops — count-preserving compact/updateWhere, each holding
  * the heartbeat lease — against one collection dir, with seeded random
  * op choice and pacing. Emits machine-readable progress lines
  * (`PEER_READY` / `OP_DONE <i>` / `PEER_DONE`) the spec parses to place
  * its vacuum attempts and its kill point. Crash interleavings are the
  * spec destroying THIS process mid-op — a real `kill -9`, not a
  * simulated lease file — so the leftover state (live-looking lease,
  * partial staging, possibly a commit marker) is whatever a genuine
  * crash leaves.
  */
object LeaseFuzzPeer {
  def main(args: Array[String]): Unit = {
    val Array(dir, seedS, itersS) = args.take(3)
    val rng = new scala.util.Random(seedS.toLong)
    val spark = GraftSession.builder("2").appName("graft-lease-fuzz-peer").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("PEER_READY"); Console.flush()
    for (i <- 1 to itersS.toInt) {
      // every op is count-preserving, so the spec's integrity invariant
      // (200 docs, ids 1..200) holds at EVERY crash point by the
      // maintenance protocol's own crash-safety guarantees
      rng.nextInt(3) match {
        case 0 => DocStoreMaintenance.compact(spark, dir, 1 + rng.nextInt(3))
        case 1 => DocStoreMaintenance.updateWhere(spark, dir,
          Seq(org.apache.spark.sql.sources.GreaterThan("id",
            java.lang.Long.valueOf(rng.nextInt(200).toLong))),
          Map("s" -> s"peer-$i"))
        case 2 => DocStoreMaintenance.updateWhere(spark, dir,
          Seq(org.apache.spark.sql.sources.EqualTo("id",
            java.lang.Long.valueOf(1L + rng.nextInt(200).toLong))),
          Map("s" -> s"point-$i"))
      }
      println(s"OP_DONE $i"); Console.flush()
      Thread.sleep(rng.nextInt(50).toLong)
    }
    println("PEER_DONE"); Console.flush()
    spark.stop()
  }
}

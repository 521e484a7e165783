package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import graft.sources.docstore.DocStoreMaintenance

/** Concurrent-PROCESS lease fuzz (r15 verdict task 3). The r14 lease
  * protocol's race windows were found by code review, not tests; this
  * spec drives TWO real JVMs — [[LeaseFuzzPeer]] running randomized
  * maintenance ops, and this test JVM storming `vacuum` plus a real
  * `kill -9` mid-op — through seeded interleavings against one
  * collection dir, and asserts the protocol's two load-bearing
  * invariants:
  *
  *   1. vacuum never deletes bytes a live op references — checked as
  *      end-state integrity (200 docs, ids 1..200, readable) after every
  *      interleaving, including a hard kill at an arbitrary op phase:
  *      the ops are all count-preserving, so ANY loss is a protocol
  *      violation, and a vacuum that raced a live rewrite would lose
  *      retired-but-still-referenced shard bytes;
  *   2. no interleaving leaves a permanently stuck lease — a crashed
  *      peer's leftover lease must gate vacuum while fresh (fail loud,
  *      not open), read stale once its heartbeat ages past the TTL, and
  *      be swept without manual intervention; a completed run leaves no
  *      lease at all.
  *
  * Seeded and reproducible: the PLANT decisions (op sequence, pacing,
  * kill point) replay exactly under `GRAFT_LEASE_FUZZ_SEED`; the OS
  * thread interleaving of course does not, so assertions are the
  * timing-robust safety/liveness invariants above, never "attempt k
  * must have been refused". Vacuum refusals during the storm are
  * counted and required ≥1 in the clean run (the peer holds the lease
  * for most of its wall-clock, so a storm probing every ~100 ms lands
  * inside a live op many times over).
  */
class LeaseFuzzSpec extends SparkSpec {

  private val seed: Long =
    sys.env.get("GRAFT_LEASE_FUZZ_SEED").map(_.toLong).getOrElse(20260816L)

  private def newStore(): String = {
    import spark.implicits._
    val dir = tempDir("graft_lease_fuzz").toString
    (1L to 200L).map(i => (i, s"doc$i")).toDF("id", "s")
      .coalesce(4).write.format("docstore").mode("overwrite").save(dir)
    dir
  }

  // The peer creates a SparkSession outside spark-submit, so it needs the
  // same --add-opens build.sbt gave THIS (forked) test JVM. Derived from
  // the running JVM's own arguments rather than hand-mirroring
  // jdk17AddOpens — a mirror would silently drift when the list changes
  // and fail the fuzz for a reason unrelated to the lease protocol.
  private val addOpens: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val in = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    in.zipWithIndex.flatMap {
      case (a, i) if a == "--add-opens" => Seq(a) ++ in.lift(i + 1)
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
  }

  private final class Peer(dir: String, iters: Int) {
    private val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    private val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"),
      "graft.LeaseFuzzPeer", dir, seed.toString, iters.toString)
    val process: Process = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val opsDone = new AtomicInteger(0)
    val sawDone = new AtomicBoolean(false)
    val output = new java.lang.StringBuilder
    private val pump = new Thread(() => {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(process.getInputStream, "UTF-8"))
      var line = br.readLine()
      while (line != null) {
        output.synchronized(output.append(line).append('\n'))
        if (line.startsWith("OP_DONE")) opsDone.incrementAndGet()
        if (line == "PEER_DONE") sawDone.set(true)
        line = try br.readLine() catch { case _: java.io.IOException => null }
      }
    }, "lease-fuzz-peer-pump")
    pump.setDaemon(true)
    pump.start()
    def tail: String = output.synchronized(output.toString.takeRight(2000))
    /** Kill the peer and wait for it to exit, so the suite's temp-dir
      * clean-up never races a live peer's writes. */
    def stop(): Unit = process.destroyForcibly().waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
  }

  private def leasePath(dir: String) =
    Paths.get(dir, DocStoreMaintenance.LeaseFile)
  private def markerPath(dir: String) =
    Paths.get(dir, "_compact_commit")

  private def assertIntact(dir: String, ctx: String): Unit = {
    val rows = spark.read.format("docstore").load(dir)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(rows.length === 200, s"$ctx: expected 200 docs, got ${rows.length}")
    assert(rows.toSeq === (1L to 200L), s"$ctx: id set corrupted")
  }

  test(s"vacuum storm beside a live maintenance peer: refusals gate deletion, data intact (seed $seed)") {
    val dir = newStore()
    val peer = new Peer(dir, iters = 10)
    val rng = new scala.util.Random(seed)
    var refused, succeeded, faulted = 0
    try {
      while (peer.process.isAlive) {
        try { DocStoreMaintenance.vacuum(dir, 2); succeeded += 1 }
        catch {
          // refusal (live lease or in-flight marker) = the guard working
          case _: IllegalStateException => refused += 1
          // any other failure is the documented loud-not-open contract: a
          // transient listing/read fault under an out-of-contract overlap
          // aborts the vacuum without deleting anything — counted, and the
          // integrity check below proves no bytes were lost to it
          case scala.util.control.NonFatal(_) => faulted += 1
        }
        Thread.sleep((20 + rng.nextInt(120)).toLong)
      }
      assert(peer.process.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
        s"peer did not exit; output tail:\n${peer.tail}")
      assert(peer.sawDone.get(), s"peer died before PEER_DONE (exit ${peer.process.exitValue()}); " +
        s"output tail:\n${peer.tail}")
      info(s"storm: $refused refused, $succeeded succeeded, $faulted faulted over ${peer.opsDone.get()} peer ops")
      assert(refused >= 1,
        "non-vacuity: no vacuum attempt ever landed inside a live op — storm too sparse to test the guard")
      // invariant 2: a COMPLETED run leaves no lease
      assert(!Files.exists(leasePath(dir)), "completed peer left its lease behind")
      assert(!Files.exists(markerPath(dir)), "completed peer left a commit marker behind")
      // invariant 1: nothing the live ops referenced was vacuumed away
      assertIntact(dir, "after clean run + storm")
      // and vacuum still works when genuinely idle
      DocStoreMaintenance.vacuum(dir, 1)
      assertIntact(dir, "after final vacuum")
    } finally peer.stop()
  }

  test(s"kill -9 mid-op: fresh leftover lease gates vacuum, stale is swept, next op recovers (seed $seed)") {
    val dir = newStore()
    val peer = new Peer(dir, iters = 1000) // never finishes — the kill is the point
    val rng = new scala.util.Random(seed ^ 0x9e3779b97f4a7c15L)
    try {
      // kill after a seeded number of completed ops plus a seeded delay,
      // so the kill lands at an arbitrary phase of the NEXT op (mid
      // staging write, between marker and swap, mid heartbeat — wherever)
      val killAfterOps = 1 + rng.nextInt(3)
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (peer.opsDone.get() < killAfterOps && peer.process.isAlive &&
             System.nanoTime() < deadline) Thread.sleep(10)
      assert(peer.process.isAlive, s"peer exited early; output tail:\n${peer.tail}")
      Thread.sleep(rng.nextInt(400).toLong)
      peer.process.destroyForcibly()
      assert(peer.process.waitFor(30, java.util.concurrent.TimeUnit.SECONDS), "kill did not land")

      val leaseLeft = Files.exists(leasePath(dir))
      val markerLeft = Files.exists(markerPath(dir))
      info(s"killed after ${peer.opsDone.get()} ops; lease left=$leaseLeft marker left=$markerLeft")
      if (leaseLeft) {
        // invariant: a crashed op's FRESH lease (heartbeat stopped seconds
        // ago, far inside the TTL) must gate vacuum — fail loud, not open
        val e = intercept[IllegalStateException](DocStoreMaintenance.vacuum(dir, 1))
        assert(e.getMessage.contains("live lease") || e.getMessage.contains("commit marker"),
          e.getMessage)
        // age the heartbeat past the TTL — the real-world 10-minute wait,
        // compressed: the crashed op's mtime stops advancing, this is it
        Files.setLastModifiedTime(leasePath(dir),
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - DocStoreMaintenance.LeaseTtlMs - 1))
      }
      if (Files.exists(markerPath(dir))) {
        // a crash past the commit point: vacuum refuses on the marker even
        // with a stale lease; ANY maintenance op rolls it forward
        val e = intercept[IllegalStateException](DocStoreMaintenance.vacuum(dir, 1))
        assert(e.getMessage.contains("commit marker"), e.getMessage)
      } else if (leaseLeft) {
        // stale lease, no marker: vacuum sweeps it and proceeds
        DocStoreMaintenance.vacuum(dir, 1)
        assert(!Files.exists(leasePath(dir)), "vacuum did not sweep the stale lease")
      }
      // the next maintenance op recovers whatever the crash left (rolls a
      // marker forward, clears pre-commit staging) — no manual surgery
      DocStoreMaintenance.compact(spark, dir, 2)
      assert(!Files.exists(leasePath(dir)), "recovery op left its lease behind")
      assert(!Files.exists(markerPath(dir)), "recovery op left the marker behind")
      // invariant 1 across a hard kill at an arbitrary phase: no doc lost
      assertIntact(dir, "after kill + recovery")
      DocStoreMaintenance.vacuum(dir, 1)
      assertIntact(dir, "after post-recovery vacuum")
    } finally peer.stop()
  }
}

package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property test: the docstore connector's JSON-lines encoding must be a
  * faithful round-trip for ARBITRARY values — in particular strings
  * containing newlines (which MUST be escaped or the line framing breaks),
  * quotes, backslashes, unicode, and the empty string (distinct from
  * null/absent), plus doubles incl. negatives and extreme magnitudes
  * (a shortest-repr printer that loses ulps would corrupt embeddings).
  */
class DocStorePropSpec extends SparkSpec {

  private val trickyString: Gen[String] = Gen.oneOf[Gen[String]](
    Gen.const(Gen.const("line\nbreak\r\n")),
    Gen.const(Gen.const("""quote " backslash \ slash /""")),
    Gen.const(Gen.const("unicode ünïcødé é中文")),
    Gen.const(Gen.const("")), // empty ≠ null
    Gen.const(Gen.const("\t tab  control")),
    Gen.asciiPrintableStr.map(_.take(20)),
    Gen.listOfN(5, Gen.oneOf('a', '"', '\\', '\n', '{', '}')).map(_.mkString)
  ).flatMap(identity)

  private val trickyDouble: Gen[Double] = Gen.oneOf(
    Gen.const(0.0), Gen.const(-0.0), Gen.const(1.5e-300), Gen.const(-9.87e300),
    Gen.const(0.1 + 0.2), // classic non-representable sum
    Gen.choose(-1e6, 1e6))

  private val row: Gen[(Long, Option[String], Option[Double], Option[Long], Option[Boolean])] =
    for {
      id <- Gen.choose(0L, 1000000L)
      s <- Gen.option(trickyString)
      d <- Gen.option(trickyDouble)
      l <- Gen.option(Gen.oneOf[Gen[Long]](Gen.const(Long.MinValue), Gen.const(Long.MaxValue),
        Gen.choose(-1e15.toLong, 1e15.toLong)).flatMap(g => g))
      b <- Gen.option(Gen.oneOf(true, false))
    } yield (id, s, d, l, b)

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  // ---- read-path fault injection (r12) -----------------------------------
  // At 100 TB partial corruption is a when, not an if. Writes are
  // crash-safe and commit-serialized (r10-r11); these cases pin the READ
  // path's contract per artifact class: a torn/corrupt _stats.json,
  // _schema.json, version manifest, or shard file fails LOUDLY with the
  // artifact named and a recovery recipe — never silent wrong/partial
  // rows — while a MISSING stats file stays the documented legacy
  // stats-less fallback (absence ≠ corruption).

  private def faultStore(gzip: Boolean): String = {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, s"doc$i", i * 1.5)).toDF("id", "s", "d")
    val dir = tempDir("graft_docstore_fault").toString
    val w = df.coalesce(2).write.format("docstore").mode("overwrite")
    (if (gzip) w.option("compression", "gzip") else w).save(dir)
    dir
  }

  private def chainMsg(t: Throwable): String = {
    val sb = new StringBuilder
    var c: Throwable = t
    while (c != null) { sb.append(c.getMessage).append(" | "); c = c.getCause }
    sb.toString
  }

  private def truncateFile(p: java.nio.file.Path, keep: Double): Unit = {
    val bytes = Files.readAllBytes(p)
    Files.write(p, bytes.take(math.max(1, (bytes.length * keep).toInt)))
  }

  // shards = the collection dir's regular files minus metadata ("_"-led);
  // resolved by listing, not internals — the connector object is
  // package-private by design
  private def shardPaths(dir: String): Seq[java.nio.file.Path] = {
    val s = Files.list(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.toSeq.filter(p =>
      Files.isRegularFile(p) && !p.getFileName.toString.startsWith("_"))
    finally s.close()
  }

  test("fault injection: torn _stats.json fails loudly — never pruned-by-guess") {
    val dir = faultStore(gzip = false)
    truncateFile(java.nio.file.Paths.get(dir, "_stats.json"), 0.5)
    // a PUSHED filter makes the planner consult stats for pruning — the
    // read path that must refuse a half-parsed ledger (a filterless scan
    // never reads stats: pruning is its only scan-side consumer)
    val e = intercept[Exception](
      spark.read.format("docstore").load(dir)
        .filter(org.apache.spark.sql.functions.col("id") > 10L).collect())
    assert(chainMsg(e).contains("_stats.json"), chainMsg(e))
    assert(chainMsg(e).contains("corrupt or torn"), chainMsg(e))
  }

  // Hadoop's LocalFileSystem keeps .crc sidecars, so an out-of-band
  // overwrite trips a checksum error at READ time (covered by the torn
  // cases above/below). Dropping the sidecar lets the corrupt CONTENT
  // reach the parser — pinning the parse-level guard specifically, the
  // path a consistent-but-wrong artifact (torn write with rewritten
  // crc, crc-less object store) takes in production.
  private def dropCrc(dir: String, name: String): Unit =
    Files.deleteIfExists(java.nio.file.Paths.get(dir, s".$name.crc"))

  test("fault injection: structurally broken stats (lost count) is loud") {
    val dir = faultStore(gzip = false)
    Files.write(java.nio.file.Paths.get(dir, "_stats.json"),
      """{"someshard.jsonl": {"fields": {}}}""".getBytes("UTF-8"))
    dropCrc(dir, "_stats.json")
    val e = intercept[Exception](
      spark.read.format("docstore").load(dir)
        .filter(org.apache.spark.sql.functions.col("id") > 10L).collect())
    assert(chainMsg(e).contains("structurally corrupt"), chainMsg(e))
    assert(chainMsg(e).contains("count"), chainMsg(e))
  }

  test("fault injection: unparseable stats JSON is loud at the parser") {
    val dir = faultStore(gzip = false)
    Files.write(java.nio.file.Paths.get(dir, "_stats.json"),
      """{"someshard.jsonl": {"count": 3""".getBytes("UTF-8")) // torn mid-object
    dropCrc(dir, "_stats.json")
    val e = intercept[Exception](
      spark.read.format("docstore").load(dir)
        .filter(org.apache.spark.sql.functions.col("id") > 10L).collect())
    assert(chainMsg(e).contains("_stats.json"), chainMsg(e))
    assert(chainMsg(e).contains("corrupt or torn"), chainMsg(e))
  }

  test("fault injection: corrupt _schema.json is loud and never guessed around") {
    val dir = faultStore(gzip = false)
    Files.write(java.nio.file.Paths.get(dir, "_schema.json"),
      "NOT (( a ddl".getBytes("UTF-8"))
    val e = intercept[Exception](spark.read.format("docstore").load(dir).collect())
    assert(chainMsg(e).contains("_schema.json"), chainMsg(e))
  }

  test("fault injection: truncated gzip shard names the shard, not a codec trace") {
    val dir = faultStore(gzip = true)
    val shard = shardPaths(dir).maxBy(p => Files.size(p))
    truncateFile(shard, 0.6)
    val e = intercept[Exception](spark.read.format("docstore").load(dir).collect())
    assert(chainMsg(e).contains("corrupt or torn"), chainMsg(e))
    assert(chainMsg(e).contains(shard.getFileName.toString), chainMsg(e))
  }

  test("fault injection: half-written trailing line in a plain shard is loud") {
    val dir = faultStore(gzip = false)
    val shard = shardPaths(dir).maxBy(p => Files.size(p))
    Files.write(shard, "\n{\"id\":999,\"s\":\"unterm".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val e = intercept[Exception](spark.read.format("docstore").load(dir).collect())
    assert(chainMsg(e).contains("corrupt or torn"), chainMsg(e))
    assert(chainMsg(e).contains(shard.getFileName.toString), chainMsg(e))
  }

  test("fault injection: corrupt version manifest is loud, not an empty collection") {
    val dir = faultStore(gzip = false)
    val commits = Files.list(java.nio.file.Paths.get(dir, "_commits"))
    val manifest =
      try commits.iterator().asScala.toSeq
        .filter(_.getFileName.toString.matches("v\\d+\\.json")).maxBy(_.getFileName.toString)
      finally commits.close()
    val v = manifest.getFileName.toString.stripPrefix("v").stripSuffix(".json").toInt
    Files.write(manifest, """{"not": "shards"}""".getBytes("UTF-8"))
    // through the user-visible time-travel read, not connector internals
    val e = intercept[Exception](
      spark.read.format("docstore").option("version", v).load(dir).collect())
    assert(chainMsg(e).contains("manifest"), chainMsg(e))
    assert(chainMsg(e).contains("corrupt or torn"), chainMsg(e))
  }

  test("fault injection contrast: MISSING stats is the documented fallback, not an error") {
    val dir = faultStore(gzip = false)
    Files.delete(java.nio.file.Paths.get(dir, "_stats.json"))
    assert(spark.read.format("docstore").load(dir).count() === 200L)
  }

  // ---- version retention + vacuum (r13) -----------------------------------
  // Maintenance rewrites retire superseded shards to `_retired/` and
  // append a new version; vacuum(retainVersions) drops manifests past the
  // horizon FIRST, then deletes retired shards no retained version
  // references — so every crash point leaves only over-retention.

  import graft.sources.docstore.DocStoreMaintenance

  private def versionNums(dir: String): Seq[Int] = {
    val p = java.nio.file.Paths.get(dir, "_commits")
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq.map(_.getFileName.toString)
        .filter(_.matches("v\\d+\\.json"))
        .map(_.stripPrefix("v").stripSuffix(".json").toInt).sorted
      finally s.close()
    }
  }

  private def retiredFiles(dir: String): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(dir, "_retired")
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq.filterNot(_.getFileName.toString.startsWith("."))
      finally s.close()
    }
  }

  private def readVersionIds(dir: String, v: Int): Seq[Long] =
    spark.read.format("docstore").option("version", v).load(dir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq

  /** v1: overwrite ids 1-100 (2 shards); v2: append 101-120 (1 shard);
    * v3: deleteWhere(id>110) — retires+replaces the append shard;
    * v4: compact to 1 — retires everything pre-compact.
    */
  private def retentionStore(): String = {
    import spark.implicits._
    val dir = tempDir("graft_docstore_vacuum").toString
    (1L to 100L).map(i => (i, s"doc$i")).toDF("id", "s")
      .coalesce(2).write.format("docstore").mode("overwrite").save(dir)
    (101L to 120L).map(i => (i, s"doc$i")).toDF("id", "s")
      .coalesce(1).write.format("docstore").mode("append").save(dir)
    DocStoreMaintenance.deleteWhere(spark, dir,
      Seq(org.apache.spark.sql.sources.GreaterThan("id", 110L)))
    DocStoreMaintenance.compact(spark, dir, 1)
    dir
  }

  test("retention: maintenance retires superseded shards and every version stays exactly readable") {
    val dir = retentionStore()
    assert(versionNums(dir) === Seq(1, 2, 3, 4), "maintenance must append versions, not reset")
    assert(retiredFiles(dir).nonEmpty, "superseded shards must move to _retired, not vanish")
    assert(readVersionIds(dir, 1) === (1L to 100L))
    assert(readVersionIds(dir, 2) === (1L to 120L))
    assert(readVersionIds(dir, 3) === (1L to 110L))
    assert(readVersionIds(dir, 4) === (1L to 110L))
    assert(spark.read.format("docstore").load(dir).count() === 110L)
  }

  test("vacuum: retained versions survive a concurrent reader; dropped versions and their bytes are GONE") {
    val dir = retentionStore()
    // concurrent reader of a RETAINED version (v3) across the vacuum —
    // vacuum deletes only what no retained manifest references, so the
    // reader must never break and never see a partial snapshot
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val reader = new Thread(() => (1 to 12).foreach { _ =>
      try counts.add(spark.read.format("docstore").option("version", 3).load(dir).count())
      catch { case t: Throwable => errors.add(t) }
    })
    reader.start()
    val res = DocStoreMaintenance.vacuum(dir, retainVersions = 2) // keep v3, v4
    reader.join()
    assert(errors.isEmpty, s"retained-version reader broke: ${errors.asScala.headOption}")
    assert(counts.asScala.forall(_ == 110L), "retained-version reader saw a partial snapshot")
    assert(res.droppedVersions === Seq(1, 2))
    assert(res.freedBytes > 0L, "vacuum must actually reclaim bytes")
    assert(versionNums(dir) === Seq(3, 4))
    val e = intercept[Exception](readVersionIds(dir, 1))
    assert(chainMsg(e).contains("no version 1"), chainMsg(e))
    // retained versions still exact after reclamation
    assert(readVersionIds(dir, 3) === (1L to 110L))
    assert(readVersionIds(dir, 4) === (1L to 110L))
    // vacuum to the latest version only: _retired empties completely
    // (the newest manifest references only live shards by construction)
    val res2 = DocStoreMaintenance.vacuum(dir, retainVersions = 1)
    assert(res2.droppedVersions === Seq(3))
    assert(retiredFiles(dir).isEmpty, "retain=1 must reclaim every retired byte")
    assert(spark.read.format("docstore").load(dir).count() === 110L)
    // idempotent completion: nothing left to do
    val res3 = DocStoreMaintenance.vacuum(dir, retainVersions = 1)
    assert(res3.droppedVersions.isEmpty && res3.deletedShards === 0)
  }

  test("vacuum: crash mid-vacuum (manifests dropped, bytes not yet deleted) leaves a readable store; re-run completes") {
    val dir = retentionStore()
    val before = retiredFiles(dir).size
    assert(before > 0)
    // simulate the crash window: vacuum deletes horizon manifests FIRST,
    // then bytes — kill it in between by dropping v1/v2 manifests by hand
    Files.delete(java.nio.file.Paths.get(dir, "_commits", "v000001.json"))
    Files.deleteIfExists(java.nio.file.Paths.get(dir, "_commits", ".v000001.json.crc"))
    Files.delete(java.nio.file.Paths.get(dir, "_commits", "v000002.json"))
    Files.deleteIfExists(java.nio.file.Paths.get(dir, "_commits", ".v000002.json.crc"))
    // store is readable at every surviving surface
    assert(spark.read.format("docstore").load(dir).count() === 110L)
    assert(readVersionIds(dir, 3) === (1L to 110L))
    assert(readVersionIds(dir, 4) === (1L to 110L))
    // re-run completes the reclamation: the shards only v1/v2 referenced
    // (the two overwrite shards) are now unreferenced and must go
    val res = DocStoreMaintenance.vacuum(dir, retainVersions = 2)
    assert(res.droppedVersions.isEmpty)
    assert(res.deletedShards > 0 && res.freedBytes > 0L)
    assert(retiredFiles(dir).size < before)
    assert(readVersionIds(dir, 3) === (1L to 110L))
  }

  test("vacuum: refuses on a commit marker or a LIVE maintenance lease; stale lease proceeds") {
    val dir = retentionStore()
    // completed maintenance ops (the deleteWhere + compact retentionStore
    // ran) must have released their lease on exit
    val lease = java.nio.file.Paths.get(dir, DocStoreMaintenance.LeaseFile)
    assert(!Files.exists(lease), "a completed maintenance op left its lease behind")
    val marker = java.nio.file.Paths.get(dir, "_compact_commit")
    Files.write(marker, "deadbeef".getBytes("UTF-8"))
    val e1 = intercept[IllegalStateException](DocStoreMaintenance.vacuum(dir, 1))
    assert(e1.getMessage.contains("commit marker"), e1.getMessage)
    Files.delete(marker)
    Files.deleteIfExists(java.nio.file.Paths.get(dir, "._compact_commit.crc"))
    // live lease (fresh heartbeat) → refusal naming the op — even though
    // no staging dir has been written for "a while": liveness is the
    // heartbeat, not wall-clock distance from the last staged file
    Files.write(lease,
      s"op-under-test\n${System.currentTimeMillis()}".getBytes("UTF-8"))
    val e2 = intercept[IllegalStateException](DocStoreMaintenance.vacuum(dir, 1))
    assert(e2.getMessage.contains("live lease") && e2.getMessage.contains("op-under-test"),
      e2.getMessage)
    // crash between phases: the op died mid-phase-1 — its staging dir can
    // be arbitrarily FRESH (the r13 mtime heuristic would still block on
    // it for 15 minutes), but its heartbeat goes stale and that is the
    // signal; the staging dir is inert pre-commit garbage. The heartbeat
    // is the lease FILE's mtime (refreshed via setTimes by a live op —
    // the content is written once at acquire), so a crashed op's lease
    // is one whose mtime stopped advancing: plant that.
    val staging = java.nio.file.Paths.get(dir, ".compact-in-flight-test")
    Files.createDirectory(staging)
    Files.write(lease,
      s"op-under-test\n${System.currentTimeMillis() - DocStoreMaintenance.LeaseTtlMs - 1}"
        .getBytes("UTF-8"))
    Files.setLastModifiedTime(lease, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - DocStoreMaintenance.LeaseTtlMs - 1))
    val res = DocStoreMaintenance.vacuum(dir, 1)
    assert(retiredFiles(dir).isEmpty)
    assert(res.freedBytes > 0L)
    assert(!Files.exists(lease), "vacuum must sweep the stale lease and release its own")
    assert(spark.read.format("docstore").load(dir).count() === 110L)
    // a malformed lease file (torn by a crashed writer's host, hand
    // edits) reads as stale — it must never block vacuum forever
    Files.write(lease, "garbage-without-heartbeat".getBytes("UTF-8"))
    DocStoreMaintenance.vacuum(dir, 1)
    assert(!Files.exists(lease))
    // UNREADABLE content (a stale Hadoop .crc beside hand-edited bytes —
    // the checksummed local FS throws on open): identity is unreadable
    // but liveness falls back to the file's real mtime, because acquire-
    // over-a-stale-lease legitimately replaces the content and the
    // rename's data/.crc moves are two steps on ChecksumFs — a reader in
    // that instant must NOT read the just-acquired LIVE lease as stale.
    // Fresh mtime → vacuum refuses; mtime past the TTL (a genuinely
    // crashed/corrupt host) → stale, swept, never an exception — so
    // corruption still never blocks vacuum forever.
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hlp = new org.apache.hadoop.fs.Path(dir, DocStoreMaintenance.LeaseFile)
    val os = hfs.create(hlp, true)
    try os.write(s"op-x\n${System.currentTimeMillis()}".getBytes("UTF-8")) finally os.close()
    Files.write(lease, "tampered-bytes-under-old-crc".getBytes("UTF-8"))
    val e3 = intercept[IllegalStateException](DocStoreMaintenance.vacuum(dir, 1))
    assert(e3.getMessage.contains("unreadable-checksum"), e3.getMessage)
    Files.setLastModifiedTime(lease, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - DocStoreMaintenance.LeaseTtlMs - 1))
    DocStoreMaintenance.vacuum(dir, 1)
    assert(!Files.exists(lease))
  }

  test("maintenance ops hold a live heartbeat lease while they run") {
    import spark.implicits._
    val dir = tempDir("graft_docstore_lease").toString
    (1L to 50L).map(i => (i, s"doc$i")).toDF("id", "s")
      .coalesce(1).write.format("docstore").mode("overwrite").save(dir)
    // the observation rides IN the data: upsert evaluates the incoming
    // batch inside its leased body, so a row computed from "does the
    // lease exist right now" lands in the store as id=777 iff the lease
    // was live at evaluation time (and -1 if not) — no racy polling
    val leasePath = java.nio.file.Paths.get(dir, DocStoreMaintenance.LeaseFile).toString
    val probe = spark.range(1).map { _ =>
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(leasePath))) 777L else -1L
    }.toDF("id").withColumn("s", org.apache.spark.sql.functions.lit("probe"))
    val (replaced, inserted) = DocStoreMaintenance.upsert(spark, dir, "id", probe)
    assert((replaced, inserted) === (0L, 1L))
    assert(spark.read.format("docstore").load(dir)
      .filter(org.apache.spark.sql.functions.col("id") === 777L).count() === 1L,
      "upsert's incoming batch evaluated WITHOUT a live lease on disk")
    assert(!Files.exists(java.nio.file.Paths.get(dir, DocStoreMaintenance.LeaseFile)),
      "lease must be released after the op")
  }

  test("maintenance acquires OVER a crashed op's stale lease (atomic replace) and releases normally") {
    import spark.implicits._
    val dir = tempDir("graft_docstore_lease_stale").toString
    (1L to 50L).map(i => (i, s"doc$i")).toDF("id", "s")
      .coalesce(1).write.format("docstore").mode("overwrite").save(dir)
    // a crashed op's leftover: stale content AND stale mtime
    val lease = java.nio.file.Paths.get(dir, DocStoreMaintenance.LeaseFile)
    Files.write(lease, s"crashed-op\n${System.currentTimeMillis()}".getBytes("UTF-8"))
    Files.setLastModifiedTime(lease, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - DocStoreMaintenance.LeaseTtlMs - 1))
    // the rerun must NOT be blocked by the stale lease (no manual TTL
    // wait), must replace it with its own, and must release on exit;
    // the in-body probe proves the live lease is the RERUN's, not the
    // crashed op's leftover
    val leasePath = lease.toString
    val probe = spark.range(1).map { _ =>
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(leasePath)), "UTF-8")
      if (txt.startsWith("crashed-op")) -1L else 999L
    }.toDF("id").withColumn("s", org.apache.spark.sql.functions.lit("probe"))
    DocStoreMaintenance.upsert(spark, dir, "id", probe)
    assert(spark.read.format("docstore").load(dir)
      .filter(org.apache.spark.sql.functions.col("id") === 999L).count() === 1L,
      "the running op's lease was still the crashed op's leftover")
    assert(!Files.exists(lease), "lease must be released after the op")
  }

  test("lease release is ownership-checked: an op never strips a lease it no longer owns") {
    import spark.implicits._
    val dir = tempDir("graft_docstore_lease_own").toString
    (1L to 50L).map(i => (i, s"doc$i")).toDF("id", "s")
      .coalesce(1).write.format("docstore").mode("overwrite").save(dir)
    // Same in-the-data trick as the liveness test, but the probe row
    // OVERWRITES the running op's lease with a foreign one mid-body —
    // the out-of-contract overlap shape. The op's exit must leave the
    // foreign lease standing (deleting it would strip the other op's
    // vacuum protection); only its owner (or a stale-sweeping vacuum)
    // may remove it.
    val leasePath = java.nio.file.Paths.get(dir, DocStoreMaintenance.LeaseFile).toString
    val probe = spark.range(1).map { _ =>
      // replace cleanly THROUGH the raw-file lens: the running op wrote
      // the lease via the checksummed Hadoop local FS, so its stale .crc
      // must go with it or the foreign content reads as corrupt
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(leasePath))
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
        new java.io.File(leasePath).getParent, "." + DocStoreMaintenance.LeaseFile + ".crc"))
      java.nio.file.Files.write(java.nio.file.Paths.get(leasePath),
        s"foreign-op\n${System.currentTimeMillis()}".getBytes("UTF-8"))
      888L
    }.toDF("id").withColumn("s", org.apache.spark.sql.functions.lit("probe"))
    DocStoreMaintenance.upsert(spark, dir, "id", probe)
    val lease = java.nio.file.Paths.get(leasePath)
    assert(Files.exists(lease), "release deleted a lease owned by another op")
    assert(new String(Files.readAllBytes(lease), "UTF-8").startsWith("foreign-op"))
    // the foreign lease is FRESH (its plant wrote a current mtime), so
    // vacuum refuses on it — proving the surviving protection is real —
    // then a stale version of it is sweepable as usual
    val e = intercept[IllegalStateException](DocStoreMaintenance.vacuum(dir, 1))
    assert(e.getMessage.contains("foreign-op"), e.getMessage)
    Files.setLastModifiedTime(lease, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - DocStoreMaintenance.LeaseTtlMs - 1))
    DocStoreMaintenance.vacuum(dir, 1)
    assert(!Files.exists(lease))
  }

  test("read of a vacuumed version fails loudly, naming vacuum and the version — never empty/partial") {
    val dir = retentionStore()
    DocStoreMaintenance.vacuum(dir, retainVersions = 2) // drops v1, v2
    Seq(1, 2).foreach { v =>
      val e = intercept[Exception](readVersionIds(dir, v))
      val msg = chainMsg(e)
      assert(msg.contains(s"no version $v"), msg)
      assert(msg.contains("dropped by vacuum"), s"error must name vacuum as the cause: $msg")
      assert(msg.contains("earliest retained"), msg)
    }
    // a version that never existed is a plain unknown-version error, not
    // blamed on vacuum
    val eHigh = intercept[Exception](readVersionIds(dir, 99))
    assert(chainMsg(eHigh).contains("no version 99") && !chainMsg(eHigh).contains("dropped by vacuum"),
      chainMsg(eHigh))
    // retained versions stay exact — the loud failure above is not a
    // half-broken store
    assert(readVersionIds(dir, 3) === (1L to 110L))
    assert(readVersionIds(dir, 4) === (1L to 110L))
  }

  test("round-trip identity on adversarial values (newlines, unicode, extremes)") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType), StructField("d", DoubleType),
      StructField("l", LongType), StructField("b", BooleanType)))
    (1L to 5L).foreach { seed =>
      val data = sample(Gen.listOfN(60, row), seed).zipWithIndex.map { case (r, i) =>
        Row(i.toLong, r._2.orNull, r._3.orNull, r._4.orNull, r._5.orNull)
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(data, 3), schema)
      val dir = tempDir(s"graft_docstore_prop").toString
      df.write.format("docstore").mode("overwrite").save(dir)
      val back = spark.read.format("docstore").load(dir).collect()
      val expect = df.collect()
      // -0.0 note: JSON "-0.0" parses back to -0.0; Row.equals uses
      // java.lang.Double.equals which distinguishes -0.0 from 0.0 — so a
      // sign-dropping encoder would fail this compare.
      assert(back.map(_.toSeq.toList).sortBy(_.head.asInstanceOf[Long].toString) ===
        expect.map(_.toSeq.toList).sortBy(_.head.asInstanceOf[Long].toString),
        s"seed $seed")
    }
  }
}

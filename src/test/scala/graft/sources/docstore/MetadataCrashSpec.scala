package graft.sources.docstore

import java.nio.file.Files

import graft.SparkSpec

/** Deterministic pins for the crash states [[DocStore.writeFileAtomic]]
  * can leave around its rename — the classes [[graft.LeaseFuzzSpec]]'s
  * kill -9 runs hit statistically, frozen as unit tests. Lives in this
  * package because the metadata accessors are deliberately
  * `private[docstore]`.
  */
class MetadataCrashSpec extends SparkSpec {

  test("metadata crash states stay readable: no-crc reads unverified, a stale crc heals on the next write") {
    // The two states a kill -9 can leave around writeFileAtomic's rename
    // (LeaseFuzzSpec's full-suite kills hit the pre-fix versions of both):
    // (1) the crc sidecar was dropped but the new data landed — the file
    // must read fine WITHOUT a checksum; (2) an out-of-band stale crc
    // sits beside the file (the pre-fix torn state, or hand tampering) —
    // the next metadata WRITE must heal it rather than crash on it.
    import spark.implicits._
    val dir = tempDir("graft_docstore_meta_crash").toString
    (1L to 20L).map(i => (i, s"doc$i")).toDF("id", "s")
      .coalesce(1).write.format("docstore").mode("overwrite").save(dir)
    val statsBefore = DocStore.readStats(dir)
    assert(statsBefore.nonEmpty)
    val statsPath = java.nio.file.Paths.get(dir, "_stats.json")
    val crcPath = java.nio.file.Paths.get(dir, "._stats.json.crc")
    // state (1): data present, sidecar gone — crash fell between the
    // crc drop and the crc half of the rename
    Files.deleteIfExists(crcPath)
    assert(DocStore.readStats(dir) === statsBefore,
      "a checksum-less stats file must read unverified, not fail")
    // state (2): stale crc beside rewritten bytes (simulated with a raw
    // byte append that invalidates the checksum) — the read fails loudly
    // (documented corruption contract), but the next WRITE must heal it
    DocStore.writeStats(dir, statsBefore) // recreate a crc sidecar
    Files.write(statsPath, Files.readAllBytes(statsPath) ++ " ".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](DocStore.readStats(dir))
    assert(e.getMessage.contains("_stats.json"), e.getMessage)
    DocStore.writeStats(dir, statsBefore)
    assert(DocStore.readStats(dir) === statsBefore,
      "writeStats over a stale-crc state must heal, not crash")
  }

  test("a lost version claim leaves the winner's file and crc sidecar untouched") {
    // r16 advisory pin: writeFileAtomic(overwrite=false) is a version-
    // allocation CLAIM. The pre-fix FileSystem.rename path delegated to
    // java.io.File.renameTo on the local FS, which silently REPLACES an
    // existing destination — a lost race clobbered the winner's committed
    // manifest. And the unconditional dropCrcSidecar stripped checksum
    // verification from a file the loser never owned. Both must hold:
    // lost claim → false, winner's bytes intact, winner's crc intact.
    val dir = tempDir("graft_docstore_claim").toString
    val hp = new org.apache.hadoop.fs.Path(dir, "v000001.json")
    val winner = """{"owner":"winner"}""".getBytes("UTF-8")
    assert(DocStore.writeFileAtomic(hp, winner, overwrite = false),
      "first claim on a fresh destination must win")
    val dataPath = java.nio.file.Paths.get(dir, "v000001.json")
    val crcPath = java.nio.file.Paths.get(dir, ".v000001.json.crc")
    assert(Files.exists(crcPath), "local FS write must leave a crc sidecar")
    val crcBefore = Files.readAllBytes(crcPath).toSeq
    val loser = """{"owner":"loser"}""".getBytes("UTF-8")
    assert(!DocStore.writeFileAtomic(hp, loser, overwrite = false),
      "a claim on an existing destination must lose")
    assert(Files.readAllBytes(dataPath).toSeq === winner.toSeq,
      "a lost claim must not clobber the committed file")
    assert(Files.readAllBytes(crcPath).toSeq === crcBefore,
      "a lost claim must not touch the committed file's crc sidecar")
    // the loser's temp must not leak into the listing-visible namespace
    // (File.list, not Files.list: the stream variant holds a directory
    // handle until closed)
    val leftovers = new java.io.File(dir).list().toSeq
      .filterNot(p => p.endsWith("v000001.json") || p.endsWith(".v000001.json.crc"))
      .filterNot(_.contains(".tmp-meta-")) // age-gated recover() sweeps these
    assert(leftovers.isEmpty, s"unexpected files after a lost claim: ${leftovers.mkString(", ")}")
    // and the winner still reads back verified (checksum intact)
    val f = hp.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val in = f.open(hp)
    val got = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    assert(got === new String(winner, "UTF-8"))
  }
}

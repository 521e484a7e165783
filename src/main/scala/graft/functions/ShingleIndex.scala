package graft.functions

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.docstore.MetaIO

/** Persistent incremental shingle index for streaming/incremental dedup.
  *
  * [[Frames]] is the one shingle source [[Dedup.incrementalStatus]]
  * classifies against:
  *
  *   - `postings`  (base_id, shingle)       — the inverted index, uncapped
  *     (df evolves, so a shingle capped away today may be needed tomorrow;
  *     the hot filter is applied at READ time against the merged df);
  *   - `stats`     (base_id, th, n_total)   — 64-bit content hash for the
  *     exact arm and the doc's total distinct-shingle count;
  *   - `df`        (shingle, df)            — per-segment PARTIAL counts;
  *     segment-disjoint docs make partials sum-mergeable, so the hot set
  *     is a groupBy-sum over slim partials, never a re-explode of text.
  *
  * Two ways to get one: [[derive]] computes the frames from a base frame
  * (a tokenization of the base's `text` on every evaluation — what a
  * segment holds, and the re-derive classification's source), and
  * [[read]] opens the frames this module has written (slim parquet scans;
  * the base `text` column is never read again). Both classify
  * identically (ShingleIndexSpec asserts frame equality).
  *
  * Re-deriving per micro-batch is the one per-trigger cost in
  * [[graft.streaming.StreamingAnalytics.streamingIngest]] that grows with
  * the STORE instead of the batch: at 100 TB every trigger would re-read
  * and re-tokenize the corpus's heaviest column. So the index keeps
  * [[derive]]'s frames as a segment-structured columnar table set beside
  * the store, and a trigger touches only those.
  *
  * Commit protocol (the docstore's marker discipline, reused): segment
  * data is written under `seg_<id>/`, then a `_seg_<id>.json` marker is
  * claimed via the crash-hardened create-once atomic rename
  * ([[graft.sources.docstore.MetaIO.writeFileAtomic]]). Readers consult
  * markers only, so a crash mid-write leaves an ignored orphan dir, and a
  * REPLAYED streaming batch (same deterministic batchId → same segment id)
  * detects the existing marker and appends nothing — the index append is
  * idempotent exactly where Structured Streaming replays.
  *
  * Compaction ([[compact]]) folds committed segments into one (summing df
  * partials) under the same marker protocol, bounding the per-trigger
  * segment-union width; like [[graft.sources.docstore.DocStoreMaintenance]]
  * it assumes the single-maintenance-writer contract.
  *
  * 100 TB shape: per-trigger work is (a) a groupBy-sum over df partials
  * (distinct shingles, orders of magnitude below exploded text volume, and
  * bounded by compaction), and (b) two map-only broadcast-join scans of
  * the 2-column postings parquet — no base text read, no tokenization, no
  * corpus-sized shuffle. Bucketing postings by shingle would make the scan
  * prunable too; this layout keeps the dependency-free parquet shape.
  *
  * Contract: the index mirrors an append-only doc set (the ingest
  * contract — novel doc_ids; revision streams belong in upsertStream).
  * [[graft.streaming.StreamingAnalytics.ingestBatch]] enforces the
  * novel-id guard per trigger before classifying against the index.
  */
object ShingleIndex {

  /** The shingle source: the three frames plus the shingle width they were
    * built with (classification must tokenize the delta identically).
    * `held` is the slim frame a batch [[derive]] cached; [[unpersist]]
    * releases it (a no-op for [[read]]'s frames).
    */
  case class Frames(postings: DataFrame, stats: DataFrame,
                    dfPartials: DataFrame, n: Int,
                    held: Option[DataFrame] = None) {
    def unpersist(): Unit = held.foreach(_.unpersist(blocking = false))
  }

  private val MetaFile = "_index_meta.json"
  private def segMarker(id: String) = s"_seg_$id.json"
  private def segDir(id: String) = s"seg_$id"
  private def compactMarker(k: Int) = f"_compact_$k%06d.json"
  private def compactDir(k: Int) = f"cseg_$k%06d"

  /** The frames a segment of `base` holds, computed and not written: the
    * one definition of a segment's content. ONE tokenization (r17): all
    * three derive from the slim (base_id, th, sh) frame with narrow
    * projections, so a batch caller (the default) caches that frame and
    * each consumer explodes cached arrays; `perTrigger = true` caches
    * nothing (see [[Dedup.incrementalStatus]]).
    */
  def derive(base: DataFrame, idCol: String, textCol: String, n: Int,
             perTrigger: Boolean = false): Frames = {
    val slim = Dedup.cachedUnless(perTrigger)(
      Dedup.shingleSlim(base, idCol, textCol, n, "base_id", hash = true))
    val postings = Dedup.shingleRows(slim, "base_id")
    Frames(postings,
      slim.select(col("base_id"), col("th"),
        coalesce(size(col("sh")).cast("long"), lit(0L)).as("n_total")),
      Dedup.docFreq(postings), n, if (perTrigger) None else Some(slim))
  }

  /** Write [[derive]]'s frames under `seg`: three write actions over one
    * cached tokenization, released before returning — a per-trigger
    * streaming append must not accumulate pinned plans.
    */
  private def writeSegmentData(docs: DataFrame, idCol: String,
                               textCol: String, n: Int, seg: Path): Unit = {
    val f = derive(docs, idCol, textCol, n)
    try {
      f.postings.write.mode("overwrite").parquet(new Path(seg, "postings").toString)
      f.stats.write.mode("overwrite").parquet(new Path(seg, "stats").toString)
      f.dfPartials.write.mode("overwrite").parquet(new Path(seg, "df").toString)
    } finally f.unpersist()
  }

  private def mapper = new ObjectMapper()

  private def readMetaN(indexDir: String): Int = {
    val p = new Path(indexDir, MetaFile)
    val f = MetaIO.fs(p)
    require(f.exists(p),
      s"shingle index at $indexDir has no $MetaFile — bootstrap first")
    val in = f.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
    mapper.readTree(txt).get("n").asInt()
  }

  /** True when `indexDir` holds a bootstrapped index. */
  def exists(indexDir: String): Boolean = {
    val p = new Path(indexDir, MetaFile)
    MetaIO.fs(p).exists(p)
  }

  /** Create the index at `indexDir` from the current base corpus (which
    * may be empty — an empty store bootstraps an empty index). Refuses a
    * dir that already holds an index: a stale index silently diverging
    * from its store is the one unrecoverable state, so rebuilds must be
    * explicit (delete, then bootstrap).
    */
  def bootstrap(docs: DataFrame, idCol: String, textCol: String, n: Int,
                indexDir: String): Unit = {
    val metaP = new Path(indexDir, MetaFile)
    val f = MetaIO.fs(metaP)
    require(!f.exists(metaP),
      s"shingle index already exists at $indexDir — delete it to rebuild")
    // commit order matters under a hard kill: the META file is the
    // bootstrap's commit point (exists() gates re-bootstrap), so it must
    // land LAST — data, then boot marker, then meta. A crash before the
    // meta re-runs bootstrap, which rewrites identical data and tolerates
    // the already-claimed marker; meta-first would leave an "existing"
    // index with zero committed segments — a permanent startup refusal.
    writeSegmentData(docs, idCol, textCol, n, new Path(indexDir, segDir("boot")))
    MetaIO.writeFileAtomic(new Path(indexDir, segMarker("boot")),
      "{}".getBytes("UTF-8"), overwrite = false)
    val meta = mapper.createObjectNode()
    meta.put("version", 1); meta.put("n", n)
    MetaIO.writeFileAtomic(metaP, mapper.writeValueAsString(meta).getBytes("UTF-8"))
    ()
  }

  /** Delete any index at `indexDir` and bootstrap fresh — the explicit
    * rebuild [[bootstrap]]'s refusal points at.
    */
  def rebuild(docs: DataFrame, idCol: String, textCol: String, n: Int,
              indexDir: String): Unit = {
    val dir = new Path(indexDir)
    val f = MetaIO.fs(dir)
    if (f.exists(dir)) f.delete(dir, true)
    bootstrap(docs, idCol, textCol, n, indexDir)
  }

  /** Append one committed segment of docs under id `segId` (for streaming:
    * the deterministic batchId, zero-padded by the caller). Idempotent:
    * returns false without touching data when the segment is already
    * committed — a replayed micro-batch re-offers the same id and is
    * thereby a no-op. A crashed prior attempt's uncommitted scrap under
    * the same id is swept and rewritten.
    */
  def append(docs: DataFrame, idCol: String, textCol: String,
             indexDir: String, segId: String): Boolean = {
    val n = readMetaN(indexDir)
    val marker = new Path(indexDir, segMarker(segId))
    val f = MetaIO.fs(marker)
    if (f.exists(marker)) return false
    val seg = new Path(indexDir, segDir(segId))
    if (f.exists(seg)) f.delete(seg, true)
    writeSegmentData(docs, idCol, textCol, n, seg)
    val ok = MetaIO.writeFileAtomic(marker, "{}".getBytes("UTF-8"), overwrite = false)
    if (!ok) f.delete(seg, true) // lost a (contract-breaking) claim race
    ok
  }

  /** Marker names present, split into (segment markers, compact markers
    * with their seq).
    */
  private def listMarkers(indexDir: String): (Seq[String], Seq[(Int, String)]) = {
    val dir = new Path(indexDir)
    val f = MetaIO.fs(dir)
    val names = f.listStatus(dir).map(_.getPath.getName).toSeq
    val segs = names.filter(x => x.startsWith("_seg_") && x.endsWith(".json"))
    val compacts = names.collect {
      case m if m.startsWith("_compact_") && m.endsWith(".json") =>
        (m.stripPrefix("_compact_").stripSuffix(".json").toInt, m)
    }
    (segs, compacts)
  }

  /** Live data dirs = the newest compaction's dir plus every segment
    * marker it does not cover (compaction always covers everything
    * current, so older compacts are strictly subsumed).
    */
  private def liveDirs(indexDir: String): Seq[Path] = {
    val (segs, compacts) = listMarkers(indexDir)
    if (compacts.isEmpty) {
      segs.map(m => new Path(indexDir,
        segDir(m.stripPrefix("_seg_").stripSuffix(".json"))))
    } else {
      val (k, km) = compacts.maxBy(_._1)
      val covered = {
        val p = new Path(indexDir, km)
        val in = MetaIO.fs(p).open(p)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                  finally in.close()
        val arr = mapper.readTree(txt).get("covers")
        (0 until arr.size()).map(arr.get(_).asText()).toSet
      }
      new Path(indexDir, compactDir(k)) +:
        segs.filterNot(covered).map(m => new Path(indexDir,
          segDir(m.stripPrefix("_seg_").stripSuffix(".json"))))
    }
  }

  /** Number of live (committed) segments — the compaction trigger. */
  def liveSegmentCount(indexDir: String): Int = liveDirs(indexDir).size

  /** Open the index's live frames (committed segments only). */
  def read(spark: SparkSession, indexDir: String): Frames = {
    val n = readMetaN(indexDir)
    val dirs = liveDirs(indexDir)
    require(dirs.nonEmpty, s"shingle index at $indexDir has no committed segments")
    // every segment's writer fixes the same schema: read it from the
    // first one's footer rather than infer it with a job per table
    def union(sub: String) =
      graft.Tables.readParquet(spark, dirs.map(d => new Path(d, sub).toString): _*)
    Frames(union("postings"), union("stats"), union("df"), n)
  }

  /** Fold all committed segments into one, summing df partials — bounds
    * the per-trigger union width for a long-running ingest. Marker-first
    * like every other commit here: a crash before the compact marker
    * leaves an ignored orphan, a crash after it leaves covered dirs that
    * this (completed) pass or the next one deletes. Single maintenance
    * writer, as for [[graft.sources.docstore.DocStoreMaintenance]].
    */
  def compact(spark: SparkSession, indexDir: String): Unit = {
    val (segs, compacts) = listMarkers(indexDir)
    val live = liveDirs(indexDir)
    if (live.size <= 1) return
    val frames = read(spark, indexDir)
    val k = (compacts.map(_._1) :+ 0).max + 1
    val dst = new Path(indexDir, compactDir(k))
    frames.postings.write.mode("overwrite").parquet(new Path(dst, "postings").toString)
    frames.stats.write.mode("overwrite").parquet(new Path(dst, "stats").toString)
    frames.dfPartials.groupBy("shingle").agg(sum("df").as("df"))
      .write.mode("overwrite").parquet(new Path(dst, "df").toString)
    val node = mapper.createObjectNode()
    val arr = node.putArray("covers")
    (segs ++ compacts.map(_._2)).foreach(m => arr.add(m))
    val committed = MetaIO.writeFileAtomic(new Path(indexDir, compactMarker(k)),
      mapper.writeValueAsString(node).getBytes("UTF-8"), overwrite = false)
    require(committed, s"shingle index compact lost its marker claim at $indexDir " +
      "— a second maintenance writer is running (out of contract)")
    // post-commit cleanup: covered data dirs and markers; readers only
    // consult the (already-committed) newest compact, so partial cleanup
    // after a crash is inert clutter the next compact removes
    val f = MetaIO.fs(dst)
    (segs ++ compacts.map(_._2)).foreach { m =>
      val dataDir =
        if (m.startsWith("_seg_"))
          segDir(m.stripPrefix("_seg_").stripSuffix(".json"))
        else compactDir(m.stripPrefix("_compact_").stripSuffix(".json").toInt)
      f.delete(new Path(indexDir, dataDir), true)
      f.delete(new Path(indexDir, m), false)
    }
    // age-gated orphan sweep (the docstore recover() discipline): a data
    // dir with NO marker is a crashed append whose segId never re-offered
    // — invisible to readers but paying storage forever. The age gate
    // keeps a CONCURRENT in-flight append (out of contract, but cheap to
    // tolerate) from losing its still-uncommitted data.
    val markerFor = (listMarkers(indexDir) match {
      case (s, c) => s.map(m => segDir(m.stripPrefix("_seg_").stripSuffix(".json"))) ++
        c.map(kc => compactDir(kc._1))
    }).toSet
    val cutoff = System.currentTimeMillis() - OrphanSweepAgeMs
    f.listStatus(new Path(indexDir)).foreach { st =>
      val nm = st.getPath.getName
      if ((nm.startsWith("seg_") || nm.startsWith("cseg_")) &&
          !markerFor(nm) && st.getModificationTime < cutoff)
        f.delete(st.getPath, true)
    }
  }

  /** Orphan data dirs younger than this survive [[compact]]'s sweep. */
  private[graft] val OrphanSweepAgeMs: Long = 60L * 60 * 1000
}

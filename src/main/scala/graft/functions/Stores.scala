package graft.functions

import org.apache.hadoop.fs.{FileContext, FileSystem, Path}

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Atomic directory publication for persisted store layouts, and the
  * one owner of the per-batch store layout (the cold archive, the hot
  * upsert tables' snapshots, the dedup `fp/`/`bands/` index, the SRP
  * `vecs/`/`codes/`, CDC chunks, drift reports, and the four indexes
  * whose one-shot build is the base layer `batch=-1` that streamed
  * batches append to: phrase postings, BM25 `df/`+`tot/`, IVF-PQ
  * `codes/`, the semantic `assign/`). One-shot tables outside that
  * layout (the NB model, the drift baseline) are replaced whole with
  * [[publishReplace]].
  *
  * The failure mode publication removes: a store directory written with
  * `mode("overwrite")` is delete-then-write, so a reader (an offline
  * decontamination probe, a serving query) racing the write can observe
  * it HALF-WRITTEN — for a decontamination tool that is a silent false
  * "not contaminated". Here every directory is produced in a hidden
  * temp sibling (`_tmp_<name>` — the leading underscore keeps it
  * invisible to Spark's file listing and partition discovery) and
  * published with one filesystem `rename`, an atomic metadata operation
  * on HDFS and local filesystems (object stores without atomic rename
  * need their usual commit-service arrangement). A reader therefore
  * sees a published directory either absent or complete — never
  * partial. This rename is the only commit record of every store here.
  *
  * The per-batch contract, stated once for every streamed store:
  *  - Layout: batch `id` of the store at `dir` lives in
  *    [[batchDir]] `dir/batch=<id>`; [[batchIds]] lists the committed
  *    ids (hidden temp siblings never count).
  *  - Publish once per id ([[publishBatch]]): a batch directory only
  *    ever appears through the atomic rename, so an existing one is
  *    complete, and a replayed micro-batch (same id re-delivered after a
  *    crash between sink commit and checkpoint commit) is a no-op.
  *  - Prior view ([[priorBatches]]): an ingest classifying batch `id`
  *    against the store reads only the layers with `batch < id`, so a
  *    replay never matches its own committed layer.
  *  - Compaction ([[foldAndSwap]]) folds every committed layer into one
  *    that keeps the HIGHEST published id, so a resumed ingest (strictly
  *    larger ids) appends above it and the prior view of every later
  *    batch is unchanged.
  *  - Single writer between runs: one driver owns a store's ingest while
  *    it is live (the streaming-query model, as for every sink in
  *    [[graft.streaming.Sinks]]); compaction and retention run between
  *    ingest runs.
  *  - A crash leaves only hidden siblings. A crashed publish or fold
  *    leaves `_tmp_<name>`, which the next publish of that directory
  *    overwrites and the next fold deletes before writing. A crash
  *    between the two renames of a swap leaves the store ABSENT with
  *    the previous version in `_tmp_<name>.old`; the next
  *    [[publishReplace]] or [[foldAndSwap]] on that store renames it
  *    back before it does anything else.
  */
object Stores {

  /** Nonce scratch dirs created by [[scratchDir]], recursively deleted
    * by one JVM shutdown hook. Catalog queries that build a throwaway
    * store (BM25 snapshot/stream/compaction, posting compaction) need a
    * per-invocation-unique path — concurrent evaluations must not race a
    * shared path's rewrite — but an un-swept nonce dir per evaluation
    * accumulates unboundedly in /tmp across Bench/Verify rounds.
    */
  private val scratchRegistry =
    java.util.Collections.synchronizedSet(new java.util.LinkedHashSet[String]())
  private def rmTree(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(rmTree)
    f.delete(); ()
  }
  private lazy val scratchHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scratchRegistry.forEach { p =>
        rmTree(new java.io.File(p))
        sentinelFor(p).delete()
      }
    }, "graft-scratch-sweep"))
  }

  /** Sentinel files recording every registered scratch path, one tiny
    * file per nonce under `<tmpdir>/.graft_scratch/` (name = a hash of
    * the path, content = the path). The shutdown hook removes the
    * sentinel with the dir on clean exit; a KILLED JVM (OOM, SIGKILL —
    * exactly the runs most likely to strand large nonce stores) leaves
    * both behind for [[sweepStaleScratch]] to reap at the next start.
    * Sweeping only sentinel-recorded paths — never a name-pattern scan
    * of /tmp — is what makes the sweep safe: sibling `graft_sf*` scaled
    * DATA directories share the name prefix and must never be touched.
    */
  private def sentinelDir: java.io.File =
    new java.io.File(System.getProperty("java.io.tmpdir"), ".graft_scratch")
  private def sentinelFor(path: String): java.io.File =
    new java.io.File(sentinelDir,
      java.util.UUID.nameUUIDFromBytes(path.getBytes("UTF-8")).toString)

  /** Best-effort reap of scratch dirs stranded by crashed/killed JVMs:
    * delete every sentinel-recorded path whose sentinel is older than
    * `maxAgeHours` and that this JVM does not own. Called at Bench /
    * Verify / Smoke startup. The age gate (default 6 h, ≥ any single
    * run's lifetime here) keeps a CONCURRENT healthy run's live scratch
    * out of reach; errors are swallowed — a failed sweep must never
    * fail the run it piggybacks on.
    */
  def sweepStaleScratch(maxAgeHours: Double = 6.0): Int = {
    val cutoff = System.currentTimeMillis() - (maxAgeHours * 3600e3).toLong
    var n = 0
    try {
      val ms = Option(sentinelDir.listFiles()).getOrElse(Array.empty)
      ms.foreach { m =>
        if (m.isFile && m.lastModified() < cutoff) {
          val target = new String(
            java.nio.file.Files.readAllBytes(m.toPath), "UTF-8").trim
          if (target.nonEmpty && !scratchRegistry.contains(target)) {
            rmTree(new java.io.File(target))
            m.delete()
            n += 1
          }
        }
      }
    } catch { case _: Exception => () }
    n
  }

  /** A fresh per-invocation-unique local scratch directory path
    * `<tmpdir>/<prefix><uuid8>_<basename>`, registered for recursive
    * deletion at JVM exit. The dir itself is NOT created — the caller's
    * store writer publishes into it — so the nonce never pre-exists and
    * `publishOnce`'s replay no-op path cannot silently serve stale
    * state.
    */
  def scratchDir(prefix: String, basename: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/$prefix" +
      s"${java.util.UUID.randomUUID().toString.take(8)}_$basename"
    registerScratch(p)
    p
  }

  /** Register an externally-created local path (a spec fixture dir) for
    * the same at-exit recursive sweep [[scratchDir]] nonces get.
    */
  def registerScratch(path: String): Unit = {
    scratchHook
    scratchRegistry.add(path)
    try {
      sentinelDir.mkdirs()
      java.nio.file.Files.write(
        sentinelFor(path).toPath, path.getBytes("UTF-8"))
      ()
    } catch { case _: Exception => () } // sentinel is best-effort
    ()
  }

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    FileSystem.get(new java.net.URI(dir), spark.sessionState.newHadoopConf())

  private def tmpSibling(finalDir: String): Path = {
    val p = new Path(finalDir)
    // no '=' in the temp name: Spark's hidden-path filter EXEMPTS
    // underscore-prefixed names containing '=' (they could be partition
    // directories of a column whose name starts with '_'), so
    // `_tmp_batch=1` would be listed and break partition inference —
    // `_tmp_batch_1` is genuinely invisible
    new Path(p.getParent, s"_tmp_${p.getName.replace('=', '_')}")
  }

  private def rename(spark: SparkSession, fs: FileSystem, src: Path, dst: Path): Unit =
    // no OVERWRITE option: the destination must not exist, so a publish
    // can never clobber a committed directory
    FileContext.getFileContext(fs.getUri, spark.sessionState.newHadoopConf())
      .rename(fs.makeQualified(src), fs.makeQualified(dst))

  /** Publish `finalDir` exactly once: run `write` against the hidden
    * temp sibling, then rename it into place. If `finalDir` already
    * exists the write is SKIPPED entirely and `false` is returned (the
    * replay no-op of the per-batch contract). A crashed attempt leaves
    * only the temp sibling, which the retry overwrites.
    */
  def publishOnce(spark: SparkSession, finalDir: String)(write: String => Unit): Boolean = {
    val fs  = fsOf(spark, finalDir)
    val dst = new Path(finalDir)
    val tmp = tmpSibling(finalDir)
    if (fs.exists(dst)) {
      fs.delete(tmp, true) // a stale crashed-attempt temp, if any
      false
    } else {
      write(tmp.toString)
      rename(spark, fs, tmp, dst)
      true
    }
  }

  /** Publish `finalDir` with replacement — for one-shot stores that
    * support REBUILD (a posting index rebuilt on a new corpus
    * snapshot) and for [[foldAndSwap]]. The new contents are fully
    * written to the temp sibling first (cleared beforehand: a crashed
    * attempt's leftovers must not be renamed in with the new ones); if
    * an old version exists it is renamed aside and deleted only after
    * the new one is in place, so a concurrent reader sees the old store
    * or the new store, never a partial one. (The swap is two metadata
    * renames; a reader listing in exactly that window sees the
    * directory briefly ABSENT — complete-or-absent, never partial.
    * Serving layouts that must never even be absent publish each
    * version as a new batch with [[publishBatch]] and read the highest
    * committed one, as [[graft.streaming.ParquetUpsertSink]] does.)
    */
  def publishReplace(spark: SparkSession, finalDir: String)(write: String => Unit): Unit = {
    val fs  = fsOf(spark, finalDir)
    val dst = new Path(finalDir)
    val tmp = tmpSibling(finalDir)
    val old = rollBackSwap(spark, fs, finalDir)
    fs.delete(tmp, true)
    write(tmp.toString)
    if (fs.exists(dst)) {
      rename(spark, fs, dst, old)
      rename(spark, fs, tmp, dst)
      fs.delete(old, true)
    } else rename(spark, fs, tmp, dst)
  }

  /** Undo a [[publishReplace]] swap that crashed between its two
    * renames (`finalDir` absent, its previous version aside in
    * `_tmp_<name>.old`) by renaming the previous version back, and
    * delete any other `.old` leftover. Returns the `.old` path.
    */
  private def rollBackSwap(spark: SparkSession, fs: FileSystem, finalDir: String): Path = {
    val tmp = tmpSibling(finalDir)
    val old = new Path(tmp.getParent, s"${tmp.getName}.old")
    if (fs.exists(old)) {
      if (fs.exists(new Path(finalDir))) fs.delete(old, true)
      else rename(spark, fs, old, new Path(finalDir))
    }
    old
  }

  /** The directory of batch `id` in the per-batch store at `dir`. */
  def batchDir(dir: String, id: Long): String = s"$dir/batch=$id"

  /** Publish batch `id` of the store at `dir` exactly once
    * ([[publishOnce]] of [[batchDir]]); `false` for a replayed id.
    */
  def publishBatch(spark: SparkSession, dir: String, id: Long)(write: String => Unit): Boolean =
    publishOnce(spark, batchDir(dir, id))(write)

  /** The committed batch ids of the store at `dir`, ascending; empty
    * for a missing store. One directory listing, no Spark job; hidden
    * temp siblings never match.
    */
  def batchIds(spark: SparkSession, dir: String): Seq[Long] = {
    val fs = fsOf(spark, dir)
    val root = new Path(dir)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
      .sorted
  }

  /** Retention: delete every committed batch of the store at `dir` but
    * the newest `keepLast` (at least 1: retention never empties a
    * store). Returns (kept, deleted) batch counts; (0, 0) for a missing
    * or empty store.
    */
  def keepLatestBatches(spark: SparkSession, dir: String, keepLast: Int): (Long, Long) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val committed = batchIds(spark, dir)
    val drop = committed.dropRight(keepLast)
    val fs = fsOf(spark, dir)
    drop.foreach(id => fs.delete(new Path(batchDir(dir, id)), true))
    ((committed.length - drop.length).toLong, drop.length.toLong)
  }

  /** Write `value` to the marker file `dir/name`, replacing any earlier
    * one. Markers are small stamps inside a store directory (a model
    * fingerprint, a max id); a hidden name (`_` prefix) keeps them out of
    * parquet listing and partition discovery.
    */
  def writeMarker(spark: SparkSession, dir: String, name: String, value: String): Unit = {
    val out = fsOf(spark, dir).create(new Path(s"$dir/$name"), true)
    try out.write(value.getBytes("UTF-8")) finally out.close()
  }

  /** The content of the marker file `dir/name` ([[writeMarker]]), or
    * `None` when there is none.
    */
  def readMarker(spark: SparkSession, dir: String, name: String): Option[String] = {
    val fs = fsOf(spark, dir)
    val p = new Path(s"$dir/$name")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString) finally in.close()
    }
  }

  /** The corpus a replay-safe ingest classifies batch `batchId` against:
    * the layers under `dir` from batches STRICTLY before this one (a
    * committed own layer re-read by its own replay would make every row
    * "match" itself). A missing store is `empty`, and so is one whose
    * schema cannot be inferred: a store whose first publish crashed
    * holds only that attempt's hidden `_tmp_batch_<id>` directory, no
    * committed layer, and inference throws before the batch filter
    * could save the replay.
    */
  def priorBatches(
      spark: SparkSession, dir: String, batchId: Long, empty: => DataFrame): DataFrame =
    if (!fsOf(spark, dir).exists(new Path(dir))) empty
    else
      try spark.read.parquet(dir).filter(col("batch") < batchId)
      catch { case _: AnalysisException => empty }

  /** Compact the per-batch store at `dir` into one layer: `fold(kept,
    * tmp)` writes the folded store under the temp root `tmp` (the kept
    * layer at `batchDir(tmp, kept)`, or whatever layout the store
    * keeps), reading the committed layers at `dir`; the result is
    * swapped over `dir` with [[publishReplace]]. `kept` is the highest
    * committed id, taken from the listing.
    *
    * Returns (kept id, committed data files before, after) per
    * [[committedDataFiles]]; `(-1, n, n)` when nothing is committed,
    * in which case `fold` never runs.
    */
  def foldAndSwap(spark: SparkSession, dir: String)(fold: (Long, String) => Unit)
      : (Long, Long, Long) = {
    rollBackSwap(spark, fsOf(spark, dir), dir)
    val ids = batchIds(spark, dir)
    val before = committedDataFiles(spark, dir)
    if (ids.isEmpty) (-1L, before, before)
    else {
      publishReplace(spark, dir)(fold(ids.last, _))
      (ids.last, before, committedDataFiles(spark, dir))
    }
  }

  /** Count committed data files under `dir` whose path contains
    * `marker` (default: inside a `batch=` layer). A file counts only if
    * NO directory component strictly below `dir` is hidden (`_`/`.`
    * prefix) — a crashed publish attempt leaves a hidden temp sibling
    * (`_tmp_*`, `_tmp_*.old`) whose contents are workspace, not store,
    * and a marker-substring test alone would count them (the
    * [[publishReplace]] temp holds a real `batch=<id>` subtree).
    * Used by the compactors' before/after file accounting and by the
    * release writer; `marker = ""` counts every committed data file.
    */
  def committedDataFiles(
      spark: SparkSession, dir: String, marker: String = "/batch="): Long = {
    val fs = fsOf(spark, dir)
    val root = fs.makeQualified(new Path(dir))
    if (!fs.exists(root)) return 0L
    val rootStr = root.toString
    val it = fs.listFiles(root, true)
    var n = 0L
    while (it.hasNext) {
      val p = fs.makeQualified(it.next().getPath).toString
      if (p.startsWith(rootStr + "/")) {
        val rel = p.substring(rootStr.length + 1).split('/')
        val visible = rel.forall(c => !c.startsWith("_") && !c.startsWith("."))
        if (visible && p.contains(marker)) n += 1
      }
    }
    n
  }
}

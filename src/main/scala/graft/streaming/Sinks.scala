package graft.streaming

import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path => HPath}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, hash, lit, pmod, sum, to_date}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.functions.Stores

/** Streaming sinks (SURVEY.md §2.A).
  *
  * A2 — parquet archive (cold path): Spark's built-in file sink, append
  * mode, exactly-once via the sink manifest + checkpoint.
  *
  * A3 — the reference rewrites ENTIRE aggregates into MongoDB every
  * trigger (`outputMode("complete")`, configmap:104-111) — O(result) work
  * per trigger and unbounded state, which does not survive 100 TB. The
  * idiomatic replacement is `update` output mode + `foreachBatch` upsert
  * keyed on the group columns: each trigger touches only changed keys.
  * [[ParquetUpsertSink]] implements the upsert against a snapshot-versioned
  * parquet table (the same merge a Delta/Iceberg MERGE would do, on plain
  * parquet with an atomic pointer swap — no extra dependencies).
  */
object Sinks {

  /** A2 — cold-path parquet archive (configmap:95-101, 188-194, 268-274).
    *
    * `partitionCols` (the reference archives unpartitioned — a scale bug)
    * keys the directory layout, typically by event date: readers with a
    * date predicate then scan only matching partitions (PartitionFilters),
    * and the D9 retention job becomes a partition drop instead of a
    * rewrite.
    */
  def parquetArchive(
      df: DataFrame,
      path: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 minute"),
      partitionCols: Seq[String] = Nil): DataStreamWriter[Row] = {
    val w = df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .outputMode("append")
    if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w
  }

  /** Archive compaction: rewrite a per-batch partitioned archive (the
    * `batch=<id>` directories [[graft.streaming.Pipelines.reviewsMultiSink]]
    * and `dedupIngest` land, one per trigger) into a date-partitioned
    * layout with few large files.
    *
    * The per-batch layout is what makes the WRITERS replay-safe, but left
    * alone it is the classic streaming small-file problem — at one batch
    * per trigger a day is thousands of directories of kilobyte files, and
    * both scan planning and the NameNode pay per file. Compaction runs as
    * a periodic batch job: one shuffle keyed by (event date, salt lane),
    * one file per (date, lane), partition-pruned reads afterward. The
    * lanes are salted INSIDE each date (same idiom as
    * [[writeCorpusRelease]]) — `repartition(lanesPerDate, $"event_date")`
    * would produce `lanesPerDate` writer tasks in TOTAL and a hot date
    * would always bottleneck one task. The row count is observed during
    * the write, not a separate scan. Write lands in `dstDir`
    * (swap-then-delete is the caller's atomic-publish step, same pointer
    * idiom as [[ParquetUpsertSink]]).
    *
    * Returns (rows, filesBefore, filesAfter) for the job log.
    */
  def compactArchive(
      spark: SparkSession,
      srcDir: String,
      dstDir: String,
      tsCol: String,
      lanesPerDate: Int = 1): (Long, Long, Long) = {
    val before = Stores.committedDataFiles(spark, srcDir, marker = "")
    val src = spark.read.parquet(srcDir).drop("batch")
    val dated = src.withColumn("event_date", to_date(col(tsCol)))
    // count DURING the write via observe — a separate dated.count() is a
    // second full read of the archive (the writeCorpusRelease pattern)
    val obs = org.apache.spark.sql.Observation()
    val lane = pmod(hash(src.columns.map(col): _*), lit(lanesPerDate))
    // explicit partition count: column-only repartition is an AQE
    // coalesce target, which would merge the salt lanes straight back
    // into one task per (small) date — the exact bottleneck the lanes
    // exist to break
    val shufflePartitions = spark.sessionState.conf.numShufflePartitions
    dated
      .withColumn("_lane", lane)
      .repartition(shufflePartitions, col("event_date"), col("_lane"))
      .drop("_lane")
      .observe(obs, count(lit(1)).as("rows"))
      .write
      .mode("overwrite")
      .partitionBy("event_date")
      .parquet(dstDir)
    (obs.get("rows").asInstanceOf[Long], before,
      Stores.committedDataFiles(spark, dstDir, marker = ""))
  }

  /** Dataset-release writer: the final step of a training-data pipeline.
    * Writes the kept corpus Hive-partitioned by the given columns (so a
    * trainer's reader prunes to the shard mix it wants) with
    * `maxRecordsPerFile` capping file sizes — at 100 TB the failure
    * mode is a handful of giant files per partition (no read
    * parallelism) or millions of tiny ones (listing dominates);
    * `lanesPerPartition` spreads each partition's rows over that many
    * writer tasks, and the per-file cap splits anything still
    * oversized. Returns (rows, data files) written.
    */
  def writeCorpusRelease(
      df: DataFrame,
      outDir: String,
      partitionCols: Seq[String],
      lanesPerPartition: Int = 1,
      maxRecordsPerFile: Long = 1000000L): (Long, Long) = {
    val spark = df.sparkSession
    // count DURING the write via observe — a separate df.count() would
    // recompute the (possibly expensive, possibly non-deterministic)
    // input a second time and could disagree with what was written
    val obs = org.apache.spark.sql.Observation()
    // salt INSIDE each partition-col combination: repartition(n, cols)
    // would give n writer tasks total, not n per partition value
    val lane = pmod(hash(df.columns.map(col): _*), lit(lanesPerPartition))
    df.withColumn("_lane", lane)
      .repartition((partitionCols.map(col) :+ col("_lane")): _*)
      .drop("_lane")
      .observe(obs, count(lit(1)).as("rows"))
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(outDir)
    (obs.get("rows").asInstanceOf[Long],
      Stores.committedDataFiles(spark, outDir, marker = ""))
  }

  /** A3 (parity flavor) — complete-mode in-memory table, reproducing the
    * reference's rewrite-the-world semantics exactly for tests
    * (configmap:104-111; SURVEY.md §7.4 risk 1).
    */
  def completeToMemory(
      df: DataFrame,
      queryName: String,
      trigger: Trigger = Trigger.ProcessingTime(0)): DataStreamWriter[Row] =
    df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("complete")
      .trigger(trigger)

  /** A3 (scale flavor) — update-mode upsert via foreachBatch. */
  def upsert(
      df: DataFrame,
      sink: ParquetUpsertSink,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0)): DataStreamWriter[Row] =
    df.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch((batch: DataFrame, batchId: Long) => sink.upsert(batch, batchId))
}

/** Keyed upsert into a snapshot-versioned parquet table.
  *
  * Layout: `root/v<n>/` snapshot directories plus a `root/_CURRENT` pointer
  * file holding `<version> <lastAppliedBatchId>`. Each upsert writes a full
  * new snapshot = (old rows whose key is absent from the batch) ∪ (batch
  * rows), then atomically swaps the pointer. Readers go through [[read]].
  *
  * All filesystem access goes through the Hadoop FileSystem API, so the
  * layout works on HDFS and object stores, not just the local disk. The
  * pointer swap is one atomic rename that replaces the old pointer: on the
  * local disk the pointer is written without a checksum sidecar and
  * renamed with the raw filesystem (POSIX `rename`), elsewhere it is a
  * `FileContext.rename(OVERWRITE)` (atomic on HDFS; object stores without
  * atomic rename need their usual commit-service arrangement). A reader
  * racing a swap therefore always finds a complete pointer, old or new.
  *
  * Single writer per table: one driver owns the table (the streaming-query
  * model), with `synchronized` guarding same-JVM races; readers may run
  * concurrently from any thread. Every snapshot is written by the same
  * merge plan, so all of a table's snapshots share one schema: a sink
  * instance infers it from the first snapshot it reads and passes it to
  * the reader after that, which spares every later [[read]] the parquet
  * schema-inference job.
  *
  * Exactly-once: the pointer records the last applied batchId, written in
  * the SAME atomic swap as the data pointer. [[upsertAdditive]] is a no-op
  * for a replayed batch (`batchId <= lastApplied`), so a micro-batch
  * re-delivered after a failure between sink commit and checkpoint commit
  * cannot double-count. [[upsert]] needs no skip — re-applying the same
  * keyed batch converges to the same table — but records the batchId too.
  */
final class ParquetUpsertSink(val root: String, val keys: Seq[String]) extends Serializable {

  private def pointer = new HPath(root, "_CURRENT")

  private def hconf(spark: SparkSession) = spark.sessionState.newHadoopConf()

  /** Schema shared by every snapshot, inferred on the first read. */
  @transient @volatile private var snapshotSchema: StructType = _

  /** (snapshot version, last applied batchId) from the pointer file. */
  private def readPointer(spark: SparkSession): Option[(Long, Long)] = {
    val conf = hconf(spark)
    val fs = pointer.getFileSystem(conf)
    if (!fs.exists(pointer)) None
    else {
      val in = fs.open(pointer)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      s.split("\\s+") match {
        case Array(v, b) => Some((v.toLong, b.toLong))
        case Array(v)    => Some((v.toLong, Long.MinValue)) // pre-batchId format
        case _           => None
      }
    }
  }

  /** Last batchId whose write reached the pointer (MinValue if none). */
  def lastApplied(spark: SparkSession): Long =
    readPointer(spark).map(_._2).getOrElse(Long.MinValue)

  def read(spark: SparkSession): Option[DataFrame] =
    readPointer(spark).map { case (v, _) => snapshot(spark, v) }

  private def snapshot(spark: SparkSession, version: Long): DataFrame = {
    val dir = s"$root/v$version"
    val known = snapshotSchema
    if (known != null) spark.read.schema(known).parquet(dir)
    else {
      val df = spark.read.parquet(dir)
      snapshotSchema = df.schema
      df
    }
  }

  /** Key-replacing upsert: batch rows replace stored rows per key.
    * Idempotent by construction (replaying a batch converges), so no
    * replay skip is needed.
    */
  def upsert(batch: DataFrame, batchId: Long): Unit = synchronized {
    val current = readPointer(batch.sparkSession)
    // batch first: every snapshot keeps the batch's column order (the
    // join below would move the keys to the front)
    val merged = current match {
      case Some((v, _)) =>
        batch.unionByName(snapshot(batch.sparkSession, v)
          .join(batch.select(keys.map(col): _*), keys, "left_anti"))
      case None => batch
    }
    writeSnapshot(merged, current, batchId)
  }

  /** Incremental aggregate maintenance: merge a PER-BATCH partial
    * aggregate additively into the stored table — `sumCols` are summed
    * with the existing row per key, other non-key columns must be derived
    * from sums on read (store sum+count, not avg). Each trigger costs
    * O(|batch| + |touched keys|); the archive is never re-read, unlike a
    * from-scratch re-aggregation. The caller aggregates the RAW batch
    * (per-batch deltas) — feeding cumulative update-mode output here
    * would double-count.
    *
    * NOT idempotent per application, so a replayed batch
    * (`batchId <= lastApplied`) is skipped — the pointer is the commit
    * record, swapped atomically after the snapshot lands.
    */
  def upsertAdditive(
      batch: DataFrame, batchId: Long, sumCols: Seq[String]): Unit = synchronized {
    val current = readPointer(batch.sparkSession)
    if (current.exists(_._2 >= batchId)) return
    def sumByKey(df: DataFrame) =
      df.groupBy(keys.map(col): _*)
        .agg(sum(sumCols.head).as(sumCols.head), sumCols.tail.map(c => sum(c).as(c)): _*)
    // the first snapshot goes through the same aggregate as every later
    // one, so all snapshots share its column order and types
    val merged = current match {
      case Some((v, _)) => sumByKey(snapshot(batch.sparkSession, v).unionByName(batch))
      case None         => sumByKey(batch)
    }
    writeSnapshot(merged, current, batchId)
  }

  /** Write `df` as the snapshot after `current` and swap the pointer. */
  private def writeSnapshot(df: DataFrame, current: Option[(Long, Long)], batchId: Long): Unit = {
    val conf = hconf(df.sparkSession)
    val next = current.map(_._1).getOrElse(-1L) + 1
    df.write.mode(SaveMode.Overwrite).parquet(s"$root/v$next")
    // one rename replaces the pointer, so a concurrent reader finds the
    // old pointer or the new one, never none and never a torn one
    val tmp = new HPath(root, s"_CURRENT.tmp$batchId")
    def writeTmp(fs: FileSystem): Unit = {
      val out = fs.create(tmp, true)
      try out.write(s"$next $batchId".getBytes("UTF-8")) finally out.close()
    }
    pointer.getFileSystem(conf) match {
      case local: ChecksumFileSystem =>
        // no checksum sidecar: it would be renamed apart from the pointer.
        // POSIX rename replaces the target atomically.
        val raw = local.getRawFileSystem
        writeTmp(raw)
        raw.delete(local.getChecksumFile(pointer), false) // left by an older writer
        if (!raw.rename(tmp, pointer))
          throw new java.io.IOException(s"could not rename $tmp to $pointer")
      case fs =>
        writeTmp(fs)
        FileContext.getFileContext(fs.getUri, conf)
          .rename(fs.makeQualified(tmp), fs.makeQualified(pointer), Options.Rename.OVERWRITE)
    }
  }
}

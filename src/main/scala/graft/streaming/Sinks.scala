package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
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
  * keyed on the group columns: each trigger ships only the changed keys
  * and the state store stays bounded. [[ParquetUpsertSink]] implements
  * the upsert against a snapshot-versioned parquet table (the same merge
  * a Delta/Iceberg MERGE would do, on plain parquet with one atomic
  * directory rename per batch — no extra dependencies). Its write is
  * still O(table) per trigger: every snapshot is a full copy of the
  * table, read whole and rewritten whole. A hot table is small (a
  * dashboard's rows), so while it holds at most
  * [[ParquetUpsertSink.DriverRows]] rows each trigger collects its merged
  * table to the driver, writes the snapshot from those rows as one file
  * and keeps them: dashboard reads through the writing sink instance
  * then serve the current snapshot from driver memory, with no parquet
  * scan and no Spark job. Larger tables take the plain parquet write
  * and read path.
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
    * (swap-then-delete is the caller's atomic-publish step, as in
    * [[Stores.publishReplace]]).
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
    // would give n writer tasks total, not n per partition value. The
    // partition count is explicit, as in compactArchive: a column-only
    // repartition is an AQE coalesce target, which merges the lanes of a
    // small release straight back into one file per combination
    val lane = pmod(hash(df.columns.map(col): _*), lit(lanesPerPartition))
    df.withColumn("_lane", lane)
      .repartition(spark.sessionState.conf.numShufflePartitions,
        (partitionCols.map(col) :+ col("_lane")): _*)
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
  * Layout: one full snapshot per applied batch, in the per-batch store
  * layout of [[Stores]]: batch `id`'s table is `root/batch=<id>`,
  * published once through [[Stores.publishBatch]]. Each upsert writes the
  * merged table = (old rows whose key is absent from the batch) ∪ (batch
  * rows) for its batch. The current table is the highest committed batch
  * ([[Stores.batchIds]]); readers go through [[read]], which reads that
  * batch alone, so it carries no `batch` partition column.
  *
  * Write path: the merge always reads the current snapshot from parquet.
  * While the current table is known to hold at most
  * [[ParquetUpsertSink.DriverRows]] rows, a publish collects the merged
  * table to the driver once, writes the snapshot from those rows as one
  * parquet file and, after the commit rename, keeps `(batchId, rows)` on
  * this instance. A [[read]] whose newest committed id is the kept one
  * returns the kept rows as a local relation: no file listing of the
  * snapshot, no parquet scan, no Spark job. Any other read scans the
  * snapshot. Above the bound, or when this instance does not know the
  * current table's size (a new instance over an existing root), the
  * merged table is written straight from the merge plan, its rows are
  * counted during that write, and nothing is kept; the next publish
  * decides from that count. So the driver never holds more than the
  * bound plus one batch's rows, and every publish evaluates the merge
  * plan (and the batch under it) exactly once.
  *
  * The atomic rename that publishes a snapshot is the commit record: a
  * snapshot directory appears complete or not at all, and older
  * snapshots are kept, so a reader racing an upsert reads the old table
  * or the new one. A crashed attempt leaves only the hidden temp sibling
  * `_tmp_batch_<id>`, which is never read and is overwritten by the
  * retry. Kept rows are served only under the id they were committed
  * as, so they can never be staler than the listing.
  *
  * Single writer per table: one driver owns the table (the streaming-query
  * model), with `synchronized` guarding same-JVM races; readers may run
  * concurrently from any thread. Every snapshot is written by the same
  * merge plan, so all of a table's snapshots share one schema: a sink
  * instance takes it from the first snapshot it reads or publishes and
  * passes it to the reader after that, which spares every later [[read]]
  * the parquet schema-inference job.
  *
  * Exactly-once: a batch is applied by publishing its snapshot, and a
  * replayed batch (re-delivered after a failure between sink commit and
  * checkpoint commit) finds that snapshot committed and is a no-op that
  * leaves the kept rows as they are, so [[upsertAdditive]] cannot
  * double-count. [[upsert]] would converge on replay anyway (re-applying
  * the same keyed batch gives the same table).
  */
final class ParquetUpsertSink(val root: String, val keys: Seq[String]) extends Serializable {
  import ParquetUpsertSink.{DriverRows, Published}

  /** Schema shared by every snapshot, as `spark.read.parquet` reads it. */
  @transient @volatile private var snapshotSchema: StructType = _

  /** The snapshot this instance published last; null before the first. */
  @transient @volatile private var published: Published = _

  private def currentBatch(spark: SparkSession): Option[Long] =
    Stores.batchIds(spark, root).lastOption

  /** Last batchId whose snapshot is committed (MinValue if none). */
  def lastApplied(spark: SparkSession): Long =
    currentBatch(spark).getOrElse(Long.MinValue)

  def read(spark: SparkSession): Option[DataFrame] =
    currentBatch(spark).map { id =>
      val last = published
      if (last != null && last.batchId == id && last.rows != null)
        spark.createDataFrame(last.rows, snapshotSchema)
      else snapshot(spark, id)
    }

  private def snapshot(spark: SparkSession, batchId: Long): DataFrame = {
    val dir = Stores.batchDir(root, batchId)
    val known = snapshotSchema
    if (known != null) spark.read.schema(known).parquet(dir)
    else {
      val df = spark.read.parquet(dir)
      snapshotSchema = df.schema
      df
    }
  }

  /** Key-replacing upsert: batch rows replace stored rows per key. */
  def upsert(batch: DataFrame, batchId: Long): Unit =
    publish(batch.sparkSession, batchId) {
      // batch first: every snapshot keeps the batch's column order (the
      // join below would move the keys to the front)
      case Some(current) =>
        batch.unionByName(current.join(batch.select(keys.map(col): _*), keys, "left_anti"))
      case None => batch
    }

  /** Incremental aggregate maintenance: merge a PER-BATCH partial
    * aggregate additively into the stored table — every non-key column
    * of the partial is summed with the existing row per key, so anything
    * else must be derived from sums on read (store sum+count, not avg).
    * Each trigger reads the whole current table and writes the whole
    * merged table as the next snapshot, so it costs O(|batch| + |table|),
    * not O(|touched keys|); what it saves against a from-scratch
    * re-aggregation is the archive, which is never re-read. The caller
    * aggregates the RAW batch (per-batch deltas) — feeding cumulative
    * update-mode output here would double-count.
    *
    * NOT idempotent per application, which the publish-once commit
    * covers: a replayed batch finds its snapshot committed and is skipped.
    */
  def upsertAdditive(batch: DataFrame, batchId: Long): Unit =
    publish(batch.sparkSession, batchId) { current =>
      val sums = batch.columns.toSeq.filterNot(keys.contains)
      // the first snapshot goes through the same aggregate as every later
      // one, so all snapshots share its column order and types
      current.map(_.unionByName(batch)).getOrElse(batch)
        .groupBy(keys.map(col): _*)
        .agg(sum(sums.head).as(sums.head), sums.tail.map(c => sum(c).as(c)): _*)
    }

  /** Publish `merge(current table)` as batch `batchId`'s snapshot; a
    * no-op, which reads nothing, when that snapshot is already committed.
    * The merged frame is evaluated once, on whichever write path the
    * current table's known size picks.
    */
  private def publish(spark: SparkSession, batchId: Long)(
      merge: Option[DataFrame] => DataFrame): Unit = synchronized {
    var next: Published = null
    val committed = Stores.publishBatch(spark, root, batchId) { tmp =>
      val current = currentBatch(spark)
      val last = published
      // the current table is known to be small: there is none yet, or
      // this instance wrote it and counted its rows
      val small = current.isEmpty ||
        (last != null && current.contains(last.batchId) && last.count <= DriverRows)
      val merged = merge(current.map(snapshot(spark, _)))
      next =
        if (small) {
          val rows = java.util.Arrays.asList(merged.collect(): _*)
          spark.createDataFrame(rows, merged.schema).coalesce(1)
            .write.mode(SaveMode.Overwrite).parquet(tmp)
          // the schema the file reads back with: nullable all the way down
          if (snapshotSchema == null) snapshotSchema = merged.schema.toNullable
          Published(batchId, rows.size.toLong, if (rows.size <= DriverRows) rows else null)
        } else {
          val obs = Observation()
          merged.observe(obs, count(lit(1)).as("rows"))
            .write.mode(SaveMode.Overwrite).parquet(tmp)
          Published(batchId, obs.get("rows").asInstanceOf[Long], null)
        }
    }
    if (committed) published = next
  }
}

object ParquetUpsertSink {

  /** Largest table a publish collects to the driver and keeps for reads. */
  private[graft] final val DriverRows = 100000L

  /** A committed snapshot this instance wrote: its batch id, its row
    * count, and its rows when they were kept (null otherwise).
    */
  private final case class Published(batchId: Long, count: Long, rows: java.util.List[Row])
}

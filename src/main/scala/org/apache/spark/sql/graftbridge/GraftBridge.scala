package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`); this
  * object lives under `org.apache.spark.sql` to re-export them to the
  * graft expression package — the standard piggyback for libraries that
  * ship native Catalyst expressions.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over a hand-built logical plan (for custom nodes like
    * `graft.plans.AsofJoinPlan`); `Dataset.ofRows` is `private[sql]` in
    * Spark 4.
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df.localCheckpoint(eager = true)` that also hands back the backing
    * RDD so iterative algorithms can `unpersist` superseded rounds —
    * `Dataset.localCheckpoint` alone gives the caller no handle to free
    * the block-manager copy, so loops leak one cached round per
    * iteration. Same mechanics as `Dataset.checkpoint(reliable=false)`:
    * copy rows (they are reused mutable buffers), cut lineage, cache,
    * materialize eagerly.
    *
    * The checkpointed DataFrame is built with `LogicalRDD.fromDataset`
    * — the same call `Dataset.checkpoint` uses — so the executed plan's
    * output PARTITIONING and ORDERING survive the lineage cut. An
    * iterative operator that keeps its state hash-partitioned on a
    * stable key (e.g. [[graft.functions.Suffix]] on the document id)
    * therefore pays zero exchanges for per-round window/aggregate
    * passes over that key; the old `internalCreateDataFrame` form
    * erased the metadata and forced a re-shuffle every round.
    *
    * The returned DataFrame is NOT recomputable once its RDD is
    * unpersisted (lineage was cut) — only unpersist a round after its
    * successor has been materialized and nothing else references it.
    */
  def localCheckpointHandle(
      df: DataFrame): (DataFrame, RDD[org.apache.spark.sql.catalyst.InternalRow]) =
    localCheckpointHandle(df, Nil)

  /** [[localCheckpointHandle]] that folds a row-count predicate into the
    * one materialization action: returns the checkpointed frame, its
    * backing RDD, and the number of rows matching `pred` — for iterative
    * operators whose convergence test is a per-row predicate over the
    * round's own output ([[graft.functions.Clustering]]'s changed-label
    * probe), which otherwise costs a separate job per round. The count
    * rides `sparkContext.runJob` over the same action that populates the
    * cache, so it is exact (no accumulator retry caveats). `pred` sees
    * the checkpointed row in the DataFrame's column order.
    */
  def localCheckpointHandleCounting(
      df: DataFrame,
      pred: org.apache.spark.sql.catalyst.InternalRow => Boolean)
      : (DataFrame, RDD[org.apache.spark.sql.catalyst.InternalRow], Long) = {
    val cd    = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val spark = cd.sparkSession
    val rdd   = cd.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val counts = spark.sparkContext.runJob(rdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        var c = 0L
        while (it.hasNext) if (pred(it.next())) c += 1L
        c
      })
    val plan = org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(rdd, cd, isStreaming = false)
    (org.apache.spark.sql.classic.Dataset.ofRows(spark, plan), rdd,
      counts.sum)
  }

  /** [[localCheckpointHandle]] that also attaches the MEASURED
    * block-manager size of the cached copy as the checkpointed plan's
    * statistics (no partitioning declared). Catalyst's broadcast
    * decisions over a lineage-cut table otherwise run on the ORIGIN
    * plan's estimates, which for a filtered/aggregated intermediate can
    * be orders of magnitude too large — with the real size attached,
    * a small intermediate auto-broadcasts (guide §3.1) and a large one
    * keeps the shuffle join, with no hard-coded hint either way.
    */
  def localCheckpointHandleSized(
      df: DataFrame): (DataFrame, RDD[org.apache.spark.sql.catalyst.InternalRow]) = {
    val cd    = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val spark = cd.sparkSession
    val rdd   = cd.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    rdd.count()
    val lr = org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(rdd, cd, isStreaming = false)
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    val bytes = spark.sparkContext.getRDDStorageInfo
      .find(_.id == rdd.id)
      .map(i => i.memSize + i.diskSize)
      .filter(_ > 0L)
    val stats = bytes.map(b =>
      org.apache.spark.sql.catalyst.plans.logical.Statistics(
        sizeInBytes = BigInt(b)))
    val plan =
      if (stats.isEmpty) lr
      else lr.copy()(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        stats, None)
    (org.apache.spark.sql.classic.Dataset.ofRows(spark, plan), rdd)
  }

  /** [[localCheckpointHandle]] with a DECLARED hash partitioning.
    *
    * `fromDataset` is documented to carry the executed plan's output
    * partitioning across the lineage cut, but under AQE (Spark 4.1) the
    * rewrite comes back `UnknownPartitioning` — measured: a window over
    * `localCheckpoint(repartition(32, k))` re-exchanged its input
    * (round 15, pinned by BridgeSpec), which silently re-shuffled every
    * iterative operator's state once per round. When `hashKeys` is
    * non-empty the checkpointed plan is rebuilt with an explicit
    * `HashPartitioning(hashKeys, rdd.getNumPartitions)` and its
    * statistics are the MEASURED block-manager size of the cached copy.
    *
    * CONTRACT: the caller must guarantee the input plan ends in an
    * EXPLICIT-COUNT `repartition(n, hashKeys...)` — AQE never coalesces
    * explicit-count repartitions, so the physical layout really is
    * `hash(keys) % n`. Declaring keys over an ENSURE_REQUIREMENTS (or
    * bare `repartition(col)`) exchange is UNSOUND: AQE's coalescing
    * merges adjacent hash buckets and the layout is no longer a
    * HashPartitioning — downstream joins/aggregates would silently skip
    * a required shuffle and produce wrong results.
    */
  def localCheckpointHandle(
      df: DataFrame,
      hashKeys: Seq[String]): (DataFrame, RDD[org.apache.spark.sql.catalyst.InternalRow]) = {
    val cd    = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val spark = cd.sparkSession
    val rdd   = cd.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    rdd.count()
    val plan0 = org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(rdd, cd, isStreaming = false)
    val plan =
      if (hashKeys.isEmpty) plan0
      else {
        val lr = plan0.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
        val attrs = hashKeys.map(k =>
          lr.output.find(_.name == k).getOrElse(sys.error(
            s"localCheckpointHandle: declared hash key '$k' not in output " +
              lr.output.map(_.name).mkString("[", ", ", "]"))))
        val part = org.apache.spark.sql.catalyst.plans.physical
          .HashPartitioning(attrs, rdd.getNumPartitions)
        // measured size of the cached copy — better than the origin
        // plan's estimate, and it keeps broadcast decisions sane
        val bytes = spark.sparkContext.getRDDStorageInfo
          .find(_.id == rdd.id)
          .map(i => i.memSize + i.diskSize)
          .filter(_ > 0L)
        val stats = bytes.map(b =>
          org.apache.spark.sql.catalyst.plans.logical.Statistics(
            sizeInBytes = BigInt(b)))
        lr.copy(outputPartitioning = part)(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          stats, None)
      }
    (org.apache.spark.sql.classic.Dataset.ofRows(spark, plan), rdd)
  }
}

package org.apache.spark.sql.graftbridge

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.util.CallSite

/** Column ⇄ Expression bridge. Spark 4 made the converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`); this
  * object lives under `org.apache.spark.sql` to re-export them to the
  * graft expression package — the standard piggyback for libraries that
  * ship native Catalyst expressions.
  *
  * It also holds the one lineage cut every iterative operator uses
  * ([[checkpoint]]), reachable only through a [[Checkpoints]] scope.
  * The ownership rule, stated once: '''a scope owns every checkpoint
  * made through it, and when its block exits — normally or by
  * exception — it frees every one the block's result does not read'''
  * ("reads" = reachable from the `LogicalRDD` leaves of the result's
  * plan through RDD dependencies). What the result reads passes to the
  * enclosing scope on the same thread, or, at the outermost scope, to
  * the caller, who frees it with [[Checkpoints.release]] once the frame
  * is consumed. No operator holds an RDD handle.
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

  /** `df.localCheckpoint(eager)` with the call-site arguments iterative
    * operators need. Same mechanics as `Dataset.localCheckpoint`: under
    * a new SQL execution id, copy rows (they are reused mutable
    * buffers), cut lineage, cache, and (if `eager`) materialize — as an
    * [[action]], so all its stages read `checkpoint at
    * Suffix.scala:<line>`. `own` receives the cached RDD BEFORE it
    * materializes, so a failed materialization is still freed.
    *
    * The plan is built with `LogicalRDD.fromDataset` (what
    * `Dataset.checkpoint` uses). Eager-only options:
    *
    *   - `hashKeys` DECLARES `HashPartitioning(hashKeys, numPartitions)`
    *     and attaches the measured size. `fromDataset` is documented to
    *     carry the partitioning across the cut, but under AQE (Spark 4.1)
    *     it comes back `UnknownPartitioning` — measured: a window over
    *     `localCheckpoint(repartition(32, k))` re-exchanged its input
    *     (pinned by BridgeSpec). CONTRACT: the input plan must end in an
    *     EXPLICIT-COUNT `repartition(n, hashKeys...)` — AQE never
    *     coalesces those, so the layout really is `hash(keys) % n`.
    *     Declaring keys over an ENSURE_REQUIREMENTS (or bare
    *     `repartition(col)`) exchange is UNSOUND: coalescing merges
    *     adjacent buckets and downstream joins/aggregates would skip a
    *     required shuffle.
    *   - `sized` attaches the MEASURED block-manager size as the plan's
    *     statistics. Broadcast decisions over a cut table otherwise run
    *     on the origin plan's estimates, which for a filtered or
    *     aggregated intermediate can be orders of magnitude too large.
    *   - `countWhere` counts the rows matching a predicate during the
    *     materializing job (exact: `runJob`, not an accumulator), for
    *     convergence tests over a round's own output. It sees the row in
    *     the frame's column order. Without it the count is all rows
    *     (−1 when lazy).
    */
  private[graftbridge] def checkpoint(
      df: DataFrame,
      hashKeys: Seq[String],
      sized: Boolean,
      countWhere: Option[InternalRow => Boolean],
      eager: Boolean,
      own: RDD[InternalRow] => Unit): (DataFrame, Long) = {
    require(eager || (hashKeys.isEmpty && !sized && countWhere.isEmpty),
      "hash keys, measured size and row counts need an eager checkpoint")
    val cd    = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val spark = cd.sparkSession
    val sc    = spark.sparkContext
    val missing = hashKeys.filterNot(cd.columns.contains)
    require(missing.isEmpty, s"checkpoint: declared hash key " +
      s"${missing.mkString("'", "', '", "'")} not in output " +
      cd.columns.mkString("[", ", ", "]"))
    action(SQLExecution.withNewExecutionId(cd.queryExecution, Some("checkpoint")) {
      val rdd = cd.queryExecution.toRdd.map(_.copy())
      rdd.localCheckpoint()
      own(rdd)
      val count =
        if (!eager) -1L
        else countWhere match {
          case None => rdd.count()
          case Some(pred) =>
            sc.runJob(rdd, (it: Iterator[InternalRow]) => {
              var c = 0L
              while (it.hasNext) if (pred(it.next())) c += 1L
              c
            }).sum
        }
      val lr = LogicalRDD.fromDataset(rdd, cd, isStreaming = false)
        .asInstanceOf[LogicalRDD]
      val stats =
        if (hashKeys.isEmpty && !sized) None
        else sc.getRDDStorageInfo.find(_.id == rdd.id)
          .map(i => i.memSize + i.diskSize).filter(_ > 0L)
          .map(b => Statistics(sizeInBytes = BigInt(b)))
      val plan =
        if (hashKeys.nonEmpty)
          lr.copy(outputPartitioning = HashPartitioning(
            hashKeys.map(k => lr.output.find(_.name == k).get),
            rdd.getNumPartitions))(spark, stats, None)
        else if (stats.nonEmpty) lr.copy()(spark, stats, None)
        else lr
      (org.apache.spark.sql.classic.Dataset.ofRows(spark, plan), count)
    })
  }

  /** Runs the driver action `body` under the caller's call site (source
    * line), so the shuffle-map stages adaptive execution submits for it
    * on other threads are named after that line (`action at
    * Suffix.scala:<line>`) instead of the generic `CompletableFuture`.
    */
  def action[T](body: => T): T = {
    val sc        = org.apache.spark.SparkContext.getActive.get
    val prevShort = sc.getLocalProperty(CallSite.SHORT_FORM)
    val prevLong  = sc.getLocalProperty(CallSite.LONG_FORM)
    sc.setCallSite(sc.getCallSite())
    try body
    finally {
      sc.setLocalProperty(CallSite.SHORT_FORM, prevShort)
      sc.setLocalProperty(CallSite.LONG_FORM, prevLong)
    }
  }
}

/** An owner of local checkpoints (see [[GraftBridge]] for the rule).
  * Obtained only from [[Checkpoints.scope]].
  */
final class Checkpoints private () {
  private val owned = mutable.LinkedHashMap.empty[Int, RDD[_]]

  /** Eager (default) or lazy lineage cut of `df`, owned by this scope. */
  def checkpoint(
      df: DataFrame,
      hashKeys: Seq[String] = Nil,
      sized: Boolean = false,
      eager: Boolean = true): DataFrame = {
    val out = GraftBridge.checkpoint(df, hashKeys, sized, None, eager, own)._1
    // a lazy cut drops its lineage once it materializes: remember what it
    // reads now, so that releasing it later still frees those too
    if (!eager) Checkpoints.lazyInputs.put(owned.last._1, Checkpoints.cuts(df))
    out
  }

  /** Eager cut that also returns how many rows match `countWhere`. */
  def checkpointCounting(
      df: DataFrame,
      countWhere: InternalRow => Boolean): (DataFrame, Long) =
    GraftBridge.checkpoint(df, Nil, sized = false, Some(countWhere), eager = true, own)

  /** Frees now the checkpoints of this scope that `df` reads — for a
    * superseded round inside a loop. Only sound once nothing still to be
    * computed reads them.
    */
  def release(df: DataFrame): Unit =
    Checkpoints.reads(df).flatMap(owned.remove).foreach(Checkpoints.free)

  private def own(rdd: RDD[InternalRow]): Unit = owned(rdd.id) = rdd
}

object Checkpoints {
  // the innermost open scope of this thread: a nested scope hands what
  // its result reads to it. Not inheritable — a pool thread spawned
  // inside a scope must not adopt it.
  private val current = new ThreadLocal[Checkpoints]

  // lazy cut id → the checkpoints its input read when it was made
  private val lazyInputs =
    new java.util.concurrent.ConcurrentHashMap[Int, Set[Int]]

  /** Runs `body` with a fresh owner and, on exit, frees every checkpoint
    * it made that `body`'s result does not read. The result may be a
    * frame, or tuples/collections of frames.
    */
  def scope[T](body: Checkpoints => T): T = {
    val cp     = new Checkpoints
    val parent = current.get
    current.set(cp)
    var result: Option[T] = None
    try {
      result = Some(body(cp))
      result.get
    } finally {
      current.set(parent)
      val live = result.fold(Set.empty[Int])(readsAny)
      val (kept, dead) = cp.owned.partition { case (id, _) => live(id) }
      dead.values.foreach(free)
      if (parent != null) parent.owned ++= kept
    }
  }

  /** Frees every local checkpoint `df` reads — for the caller that owns
    * an operator's result, once it has consumed it.
    */
  def release(df: DataFrame): Unit = {
    val persistent = df.sparkSession.sparkContext.getPersistentRDDs
    reads(df).filter(persistent.contains).foreach(i => free(persistent(i)))
  }

  // ids of the local checkpoints a frame reads: `cuts`, closed over what
  // each lazy cut read when it was made
  private def reads(df: DataFrame): Set[Int] = {
    var all = cuts(df)
    var frontier = all
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(i => Option(lazyInputs.get(i)).getOrElse(Set.empty[Int])) -- all
      all ++= frontier
    }
    all
  }

  // the local checkpoints reachable from a plan's LogicalRDD leaves
  // through RDD dependencies (a lazy cut not yet materialized still
  // depends on its inputs)
  private def cuts(df: DataFrame): Set[Int] = {
    val seen = mutable.Map.empty[Int, RDD[_]]
    def walk(r: RDD[_]): Unit =
      if (!seen.contains(r.id)) {
        seen(r.id) = r
        r.dependencies.foreach(d => walk(d.rdd))
      }
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
      .analyzed.collectWithSubqueries { case l: LogicalRDD => l.rdd }
      .foreach(walk)
    seen.collect { case (id, r) if r.checkpointData.exists(
      _.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]) => id }.toSet
  }

  private def readsAny(x: Any): Set[Int] = x match {
    case df: org.apache.spark.sql.Dataset[_] => reads(df.toDF())
    case p: Product  => p.productIterator.flatMap(readsAny).toSet
    case i: Iterable[_] => i.iterator.flatMap(readsAny).toSet
    case _ => Set.empty
  }

  // `RDD.unpersist` warns on every locally checkpointed RDD that its
  // lineage cannot be recomputed; a scope frees only what nothing it
  // returns reads, so that hazard is ruled out here and the warning is
  // left to the per-query sweeps, where it marks a stranded checkpoint
  private def free(r: RDD[_]): Unit = {
    lazyInputs.remove(r.id)
    r.sparkContext.unpersistRDD(r.id, blocking = false)
  }
}

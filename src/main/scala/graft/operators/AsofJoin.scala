package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — for each left row, the single right row with the greatest
  * right timestamp ≤ the left timestamp, per key (inclusive ties; classic
  * "price as of trade time" / "last click before purchase").
  *
  * Spark has no native as-of join; rather than a custom `SparkStrategy`,
  * this composes existing operators into the plan a native implementation
  * would want anyway:
  *
  *   union(left tagged 1, right tagged 0)
  *     → window last(value, ignoreNulls) over
  *         (partitionBy key, orderBy ts, tag; rows unbounded→current)
  *     → filter tag = 1
  *
  * Cost: ONE shuffle of |L|+|R| rows keyed on `key` plus a per-partition
  * sort — the same merge-scan shape DuckDB's native ASOF JOIN executes —
  * instead of the per-left-row probe of a naive correlated subquery or
  * the |L|×|R| blowup of an inequality theta-join (which Spark plans as
  * BroadcastNestedLoop). Skewed keys: pre-split with [[Skew]]-style
  * salting on a coarse time bucket if one key dominates.
  *
  * At equal timestamps the right row sorts first (tag 0 < 1), so a right
  * row exactly at the left timestamp matches — DuckDB `ASOF JOIN ...
  * ON l.ts >= r.ts` semantics. If the right side can hold several rows
  * per (key, ts), pre-aggregate it: "last" among them is otherwise
  * order-dependent.
  */
object AsofJoin {

  /** @param valueCols right-side columns carried to matched left rows
    *                  (null when no right row precedes the left row).
    *                  All carried values come from the SAME matched right
    *                  row — a NULL in the matched row stays NULL instead
    *                  of being back-filled from an older right row —
    *                  because the whole row travels as one struct through
    *                  a single `last(ignoreNulls)`. Left columns sharing a
    *                  name with a valueCol or `asof_ts` are replaced in
    *                  the output. The matched right timestamp lands in
    *                  the output column `asof_ts`.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String]): DataFrame = {
    val ts    = "_graft_asof_ts"
    val side  = "_graft_asof_side"
    val carry = "_graft_asof_carry"
    val l = left
      .withColumn(ts, col(leftTs))
      .withColumn(side, lit(1))
    val r = right.select(
        col(key),
        col(rightTs).as(ts),
        // the matched row as ONE value: its ts + every carried column
        struct(col(rightTs).as("ts") +: valueCols.map(col): _*).as(carry))
      .withColumn(side, lit(0))
    val w = Window
      .partitionBy(col(key))
      .orderBy(col(ts).asc, col(side).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keep = left.columns.filterNot(c => c == "asof_ts" || valueCols.contains(c))
    l.unionByName(r, allowMissingColumns = true)
      .withColumn(carry, last(col(carry), ignoreNulls = true).over(w))
      .filter(col(side) === 1)
      .select((keep.map(col).toSeq ++
        valueCols.map(v => col(s"$carry.$v").as(v)) :+
        col(s"$carry.ts").as("asof_ts")): _*)
  }

  /** Same semantics and output shape as [[asofJoin]], executed by the
    * dedicated physical operator ([[graft.plans.AsofJoinExec]]): both
    * sides hash-clustered on the key, sorted by (key, ts), one forward
    * merge scan per partition. No union/tag columns, no window state —
    * each right row is buffered at most once beyond the sort.
    *
    * The planner strategy is registered via `GraftExtensions`; for
    * sessions built without the extensions this self-registers through
    * the public `spark.experimental.extraStrategies` hook (idempotent).
    */
  def asofJoinMerge(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.graftbridge.GraftBridge
    import graft.plans.{AsofJoinPlan, AsofJoinStrategy}
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsofJoinStrategy) &&
        !spark.sessionState.planner.strategies.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsofJoinStrategy
    val lp  = left.queryExecution.analyzed
    val rp0 = right.queryExecution.analyzed
    // fresh exprIds on the right side so self-joins (both inputs derived
    // from the same table) don't produce duplicate attributes
    val rAliases = rp0.output.map(a => Alias(a, a.name)())
    val rp    = Project(rAliases, rp0)
    val rAttr = rAliases.map(al => al.name -> al.toAttribute).toMap
    val lAttr = lp.output.map(a => a.name -> a).toMap
    val joined = GraftBridge.ofRows(spark,
      AsofJoinPlan(lp, rp, lAttr(key), lAttr(leftTs), rAttr(key), rAttr(rightTs)))
    val keep = left.columns.filterNot(c => c == "asof_ts" || valueCols.contains(c))
    joined.select((keep.map(c => GraftBridge.column(lAttr(c))).toSeq ++
      valueCols.map(v => GraftBridge.column(rAttr(v)).as(v)) :+
      GraftBridge.column(rAttr(rightTs)).as("asof_ts")): _*)
  }
}

package graft

/** Plan-audit diagnostic: dump `explain("formatted")` of every catalog
  * query's final frame so scan pruning (`ReadSchema`, `PushedFilters`),
  * join strategies (`BroadcastHashJoin` vs `SortMergeJoin`) and
  * `WholeStageCodegen` spans can be reviewed. Usage:
  *
  *   sbt "runMain graft.Explain <sfDir> [queryName]"
  *
  * A checkpointing query (suffix ladder, CC rounds, BPE/Unigram refits)
  * runs every checkpoint to build that frame, and its final frame is
  * then a scan of its last cut (`Scan ExistingRDD`), which shows none
  * of the work before it. For those, run with Spark's event log on (the
  * `GRAFT_EXTRA_JAVA_OPTS` flags in the README) and read the
  * `physicalPlanDescription` of each `SparkListenerSQLExecutionStart`
  * event: it holds the plan of every checkpoint and named action, in
  * order.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val only  = args.lift(1)
    val spark = GraftSession.local("graft-explain")
    try {
      Queries.all
        .filter(q => only.forall(_ == q.name))
        .foreach { q =>
          println(s"\n######## ${q.name} — ${q.operators}")
          q.spark(spark, sfDir).explain("formatted")
        }
    } finally spark.stop()
  }
}

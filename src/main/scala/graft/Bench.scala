package graft

import org.apache.spark.sql.graftbridge.{Checkpoints, GraftBridge}

/** Benchmark main: runs every catalog query against SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with total + per-query wall seconds.
  * A warm-up pass (q1_pricing) is executed first so JVM/codegen warmup and
  * the shared-session bootstrap don't bill to the first measured query;
  * each query is then timed twice and the MINIMUM reported — steady-state
  * per-query latency, insulated from one-off JIT/GC/IO noise on the
  * shared local machine.
  *
  * The JSON line carries the 1-min system load average sampled before and
  * after the run (`"load"`) plus `"runs_per_query"` so per-round numbers
  * are interpretable on a shared box: external load 2-6 has been observed
  * to inflate wall times 3-80× with zero plan change (PERF.md round 6).
  */
object Bench {
  private def loadAvg1m(): Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** (total jiffies, steal jiffies) from /proc/stat — this sandbox is a
    * VM with erratic hypervisor CPU steal (observed: the same query 5×
    * slower in a stolen window with zero plan change), so every bench
    * line carries the steal fraction measured across the run; numbers
    * from windows with non-trivial steal are not comparable. (0, 0) on
    * non-Linux / unreadable /proc.
    */
  private def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val parts = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (parts.take(8).sum, if (parts.length >= 8) parts(7) else 0L)
      } finally src.close()
    } catch { case _: Throwable => (0L, 0L) }

  def main(args: Array[String]): Unit = {
    // validate pure arguments before paying session bootstrap + warm-up
    val unknownNames = args.filterNot(a => Queries.all.exists(_.name == a))
    require(unknownNames.isEmpty,
      s"unknown query name(s): ${unknownNames.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // reap nonce scratch stranded by crashed/killed prior runs (the
    // shutdown hook only covers clean exits)
    graft.functions.Stores.sweepStaleScratch()
    val spark = GraftSession.local("graft-bench")

    // warm-up: session + codegen + parquet footer caches
    try GraftBridge.action(SparkEntry.queries("q1_pricing")(spark, sfDir).count())
    catch { case _: Throwable => () }

    // a throwing query reports -1 (and is listed in "failed"), never a
    // fast-looking wall time.
    //
    // Drive mode: MATERIALIZE through the built-in `noop` sink, not
    // count(). Under count() Catalyst legally prunes every
    // count-invariant subtree — for q_rbo that eliminated BOTH ranker
    // arms (the report's left join to a unique-keyed histogram
    // preserves cardinality, so the plan didn't even scan documents:
    // benched 0.2 s vs 3.8 s materialized), and for q_dsir_weight the
    // whole λ-training pass (7.4 s vs 14.5 s, PERF.md round 13). The
    // noop sink consumes every output row with all columns computed —
    // the cost a real consumer (a parquet write, a downstream stage)
    // pays — while discarding bytes, so the number prices the actual
    // plan and nothing else. AQE still runs (the write executes the
    // adaptive plan).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def once(q: Queries.Q): Double = {
      val t0 = System.nanoTime()
      try {
        val result = q.spark(spark, sfDir)
        GraftBridge.action(result.write.format("noop").mode("overwrite").save())
        val wall = (System.nanoTime() - t0) / 1e9
        Checkpoints.release(result)
        wall
      } catch {
        case e: Throwable =>
          // record the root cause so a failed row is diagnosable from
          // the committed JSON alone (first failure per query wins —
          // the retry's error is usually the same)
          var c: Throwable = e
          while (c.getCause != null && (c.getCause ne c)) c = c.getCause
          errors.getOrElseUpdate(q.name,
            s"${c.getClass.getSimpleName}: ${Option(c.getMessage).getOrElse("").take(300)}")
          -1.0
      }
    }
    // between queries, free every RDD still pinned in the block manager.
    // `once` releases the checkpoints its result reads; this sweep is
    // the owner of last resort for the rest (a checkpoint that no
    // result reads once its operator's frame was dropped). Left cached,
    // over a 149-query session they are a systematic, ORDER-dependent
    // memory pressure on later queries that reads as noise. Each query
    // is measured as an independent job on a clean block manager, which
    // is the cluster model the numbers stand for.
    def freeStranded(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    // optional args: query names (exact) to bench — for iterating on one
    // query without paying for the full catalog; no args = full catalog
    val selected =
      if (args.isEmpty) Queries.all
      else Queries.all.filter(q => args.contains(q.name))
    val loadBefore = loadAvg1m()
    val (jt0, js0) = cpuJiffies()
    val results = selected.map { q =>
      // min over SUCCESSFUL runs only: one flaky run must not convert a
      // measured query into failed:-1, and a flaky FIRST run must not
      // discard the second run's valid timing. failed ⇔ both runs threw.
      val ok = Seq(once(q), once(q)).filter(_ >= 0)
      val r = q.name -> (if (ok.isEmpty) -1.0 else ok.min)
      freeStranded()
      r
    }
    val loadAfter = loadAvg1m()
    val (jt1, js1) = cpuJiffies()
    // steal fraction (%) of all CPU jiffies across the measured span
    val stealPct =
      if (jt1 > jt0) 100.0 * (js1 - js0) / (jt1 - jt0) else -1.0
    val failed = results.collect { case (k, v) if v < 0 => k }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // only keep errors for queries that actually failed (both runs threw);
    // a flaky single-run error beside a valid timing would mislead
    val errorsJson = errors.filter { case (k, _) => failed.contains(k) }
      .map { case (k, v) =>
        // strip ALL control chars (multi-line Spark ANSI errors carry
        // \r\t etc.) so the bench line is always valid JSON
        "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"")
          .replaceAll("\\p{Cntrl}", " ") + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val load = s"""{"before":$loadBefore,"after":$loadAfter}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"errors":$errorsJson,"sf":"$sfDir","load":$load,"steal_pct":$stealPct,"runs_per_query":2,"drive":"materialize-noop"}""")
    spark.stop()
  }
}

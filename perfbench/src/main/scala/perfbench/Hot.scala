package perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.GraftSession
import graft.operators.{Serving, SteamOps}
import graft.streaming.{ParquetUpsertSink, Pipelines, Sinks}

/** The hot-path workloads: per streaming job, an open-loop generator
  * thread feeds producer-shaped JSON into a `MemoryStream` (the stand-in
  * for `Sources.kafka`) and the job writes its hot tables on a fixed
  * processing-time trigger; one dashboard reader queries every job's
  * tables, in turn, while they are being written.
  *
  *  - `reviews`: `Pipelines.reviewsMultiSink` (archive `publishOnce`
  *    plus two `upsertAdditive` hot tables, no state store);
  *  - `players`: `Pipelines.playerBranches` (watermarked 10-min window
  *    in update mode, state store) into `Sinks.upsert`.
  *
  * `hot_both` runs both jobs side by side in one JVM, as the reference
  * deployment runs both streams on one cluster; `hot_reviews` and
  * `hot_players` run one each.
  *
  * After the measured window the generators stop, the queries drain, and
  * the hot tables are read back and compared with a batch recomputation
  * over every generated event (the exactly-once gate).
  */
object Hot {

  /** Streaming jobs of each hot workload. */
  val Workloads: Map[String, Seq[String]] = Map(
    "hot_reviews" -> Seq("reviews"),
    "hot_players" -> Seq("players"),
    "hot_both" -> Seq("reviews", "players"))

  /** Kafka partitions per topic in the reference deployment (BASELINE.md). */
  private val SourcePartitions = 3
  /** Producer flush period: events due since the last flush are sent together. */
  private val FlushMs = 100L
  /** Offered events per second, per job. With [[IntervalMs]] 400 events
    * land per trigger; with both jobs running, a reviews trigger takes
    * about 2 s and a players trigger about 1 s on a 4-core box.
    */
  private val Rate = 100.0
  /** Processing-time trigger interval. */
  private val IntervalMs = 4000L
  /** Minimum warm-up from query start to the window. The first, cold
    * triggers take up to 5 s each and run back to back; from about 12 s
    * after query start the triggers keep to the grid and their times
    * have settled (the JVM runs only the C1 compiler, see `run.py`).
    * The window then opens a quarter [[SlotMs]] before the next trigger
    * tick (Spark fires processing-time triggers on multiples of the
    * interval since the epoch), so it holds the same whole number of
    * trigger cycles in every run, and the generators stop when it closes.
    */
  private val WarmupMs = 14000L
  /** Triggers per job before the dashboard reader starts: a first
    * snapshot must exist, and its own warm-up (planning, codegen)
    * should fall before the window.
    */
  private val WarmupTriggers = 1
  /** Dashboard reads per trigger cycle, one every 0.5 s; see [[Reader]]. */
  private val ReadsPerCycle = 8
  /** Spacing of the dashboard reads within a trigger cycle. */
  private val SlotMs = IntervalMs / ReadsPerCycle
  /** Attempts per dashboard read; see [[Reader]]. */
  private val ReadAttempts = 3

  final case class Trig(
      job: String, batchId: Long, startMs: Double, durations: Map[String, Long], rows: Long,
      endOffset: Long, state: Option[org.apache.spark.sql.streaming.StateOperatorProgress]) {
    def d(k: String): Double = durations.getOrElse(k, 0L).toDouble
    def execMs: Double = d("triggerExecution")
    /** End of addBatch: the hot-sink commit (commitOffsets follows it). */
    def commitMs: Double = startMs + execMs - d("commitOffsets")
    def endMs: Double = startMs + execMs
    def tag: String = s"trigger:$job:$batchId"
  }

  /** One streaming job: its source, generator, sinks and query. `name`
    * is the query name, which tags its trigger jobs.
    */
  final class Job(val name: String, spark: SparkSession, work: String, feed: Feed) {
    val reviews: Boolean = name == "reviews"
    val archive = s"$work/$name/archive"
    val sinkRoots: Seq[String] =
      if (reviews) Seq(s"$work/$name/hot_sentiment", s"$work/$name/hot_bomb")
      else Seq(s"$work/$name/hot_players")
    val sinks: Seq[ParquetUpsertSink] =
      if (reviews) Seq(
        new ParquetUpsertSink(sinkRoots(0), Seq("window", "recommended")),
        new ParquetUpsertSink(sinkRoots(1), Seq("app_id")))
      else Seq(new ParquetUpsertSink(sinkRoots(0), Seq("window", "appid")))
    val stream: MemoryStream[String] = MemoryStream[String](spark, SourcePartitions)(Encoders.STRING)
    val gen = new Generator(name, stream, feed, Rate)
    val trigs = new java.util.concurrent.ConcurrentLinkedQueue[Trig]()

    val query: StreamingQuery = {
      val kafkaShaped = stream.toDF().select(col("value"))
      val checkpoint = s"$work/$name/checkpoint"
      val trigger = Trigger.ProcessingTime(IntervalMs)
      val writer =
        if (reviews)
          Pipelines.reviewsMultiSink(kafkaShaped, archive, sinks(0), sinks(1), checkpoint)
            .trigger(trigger)
        else {
          val (_, hot) = Pipelines.playerBranches(kafkaShaped)
          Sinks.upsert(hot, sinks(0), checkpoint, trigger)
        }
      writer.queryName(name).start()
    }

    def waitTriggers(k: Int): Unit = {
      val deadline = System.currentTimeMillis() + 120000
      while (trigs.size < k && System.currentTimeMillis() < deadline && query.isActive)
        Thread.sleep(20)
      require(query.isActive, s"$name query died: ${query.exception.map(_.getMessage)}")
      require(trigs.size >= k, s"$name: only ${trigs.size} of $k triggers")
    }
  }

  /** One dashboard read of the job's hot tables; returns the number of
    * files it scanned.
    */
  def dashboardRead(spark: SparkSession, job: Job): Int =
    if (job.reviews) {
      val sent = SteamOps.sentimentFromPartials(job.sinks(0).read(spark).get)
      val bomb = SteamOps.reviewBombFromPartials(job.sinks(1).read(spark).get)
      val top = Serving.topK(sent, 5, col("total_reviews").desc,
        col("window.start").desc, col("recommended").asc).collect()
      val flagged = Serving.filterCount(bomb,
        col("is_review_bomb") || col("negative_ratio") > 0.5, "n").collect()
      require(top.nonEmpty && flagged.length == 1, "empty dashboard read")
      sent.inputFiles.length + bomb.inputFiles.length
    } else {
      val hot = job.sinks(0).read(spark).get
      val latest = Serving.latest(hot, col("window.start").desc, col("appid").asc).collect()
      val busy = Serving.filterCount(hot, col("max_players") > 5000, "n").collect()
      require(latest.length == 1 && busy.length == 1, "empty dashboard read")
      hot.inputFiles.length
    }

  /** One job's samples from the measured window. */
  private final case class Window(job: Job, trigs: Seq[Trig], reads: Seq[Read],
      fresh: Seq[(Trig, Double)], backlog: Seq[Double])

  def run(workload: String, a: Main.Args, tracer: Tracer, launchMs: Long): Main.Outcome = {
    val names = Workloads(workload)
    val seed = a.long("seed")
    val seconds = a.int("seconds")
    val errors = mutable.ArrayBuffer[String]()

    val bootStart = tracer.now()
    val spark = tracer.span("session", "boot", "setup") {
      GraftSession.local(s"perfbench-$workload")
    }
    tracer.install(spark)
    val bootS = (tracer.now() - bootStart) / 1000.0
    val warmStart = tracer.now()

    val feeds = tracer.span("gen", "prepare", "setup") {
      val events = Feed.load(a("events"))
      names.map(n => n -> new Feed(seed, n == "reviews", events)).toMap
    }
    val jobs = mutable.ArrayBuffer[Job]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        jobs.synchronized(jobs.find(_.query.id == p.id)).foreach { job =>
          val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
            .flatMap(o => scala.util.Try(o.trim.toLong).toOption).getOrElse(-1L)
          job.trigs.add(Trig(job.name, p.batchId,
            java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            p.numInputRows, end, p.stateOperators.headOption))
        }
      }
    })
    val queriesStart = tracer.now()
    tracer.span("warmup", "start queries", "warmup") {
      names.foreach { n =>
        val j = new Job(n, spark, a("work"), feeds(n))
        jobs.synchronized(jobs += j)
      }
      jobs.foreach(_.gen.start())
    }
    // first trigger tick of the window
    val firstTick = math.ceil((queriesStart + WarmupMs) / IntervalMs).toLong
    val start = firstTick * IntervalMs - SlotMs / 4.0
    val end = start + seconds * 1000.0
    jobs.foreach(_.waitTriggers(WarmupTriggers))
    val reader = new Reader(spark, tracer, jobs.toSeq, firstTick)
    reader.start()
    def sleepUntil(t: Double): Unit =
      while (tracer.now() < t) Thread.sleep(math.max(1L, (t - tracer.now()).toLong))
    sleepUntil(end)
    jobs.foreach(_.gen.halt())
    reader.halt()
    jobs.foreach(_.query.processAllAvailable())
    // live memory with every query and reader idle
    val liveMb = Box.liveMb()
    jobs.foreach(_.query.stop())
    tracer.drain()
    jobs.foreach { j =>
      if (j.gen.failure != null) errors += s"${j.name} generator: ${j.gen.failure}"
      j.query.exception.foreach(e => errors += s"${j.name} query: ${e.getMessage.take(300)}")
    }
    val gateFailures = tracer.span("gate", "exactly-once", "gate") {
      jobs.map(j => gate(spark, feeds(j.name), j, errors)).sum
    }

    val setupS = (start - launchMs) / 1000.0
    // set-up minus JVM start and session boot: input preparation, query
    // start and the warm-up
    val warmupS = (start - warmStart) / 1000.0
    val reads = reader.results.filter(x => x.dueMs >= start && x.dueMs < end)
    val windows = jobs.map { j =>
      val trigs = j.trigs.asScala.toSeq.sortBy(_.batchId)
        .filter(t => t.startMs >= start && t.startMs < end)
      // freshness: the batch's last contributing event was due at the
      // generator → the batch's hot-sink commit (end of addBatch)
      val fresh = trigs.flatMap(t =>
        j.gen.eventsThrough(t.endOffset).map(n => t -> (t.commitMs - j.gen.dueMs(n - 1))))
      val backlog = trigs.map(t => (math.min(j.gen.sent, j.gen.dueCount(t.endMs)) -
        j.gen.eventsThrough(t.endOffset).getOrElse(0L)).toDouble)
      Window(j, trigs, reads.filter(_.job == j.name), fresh, backlog)
    }.toSeq
    val measured = windows.flatMap(_.trigs)
    val freshAt = windows.flatMap(_.fresh)
    val fresh = freshAt.map(_._2)
    val execMs = measured.map(_.execMs)
    val rows = measured.map(_.rows.toDouble)
    def served(rs: Seq[Read]): Seq[Double] = rs.filter(_.ok).map(r => r.endMs - r.startMs)
    val readOk = served(reads)
    reads.filter(!_.ok).flatMap(_.errors.lastOption).distinct.take(5)
      .foreach(e => errors += s"read: $e")
    // a read that succeeded on a later attempt is not a failed operation,
    // but every retry is reported with the result
    val retried = reads.filter(r => r.ok && r.retries > 0)
    val warnings = retried.take(10).map(r => s"${r.tag} retried ${r.retries}x: ${r.errors.head}")

    // disk; run.py deletes the whole work directory afterwards
    val archives = jobs.filter(_.reviews).map(_.archive).toSeq
    val sinkRoots = jobs.flatMap(_.sinkRoots).toSeq
    val disk = (sinkRoots ++ archives).map(Disk.bytes).sum / 1e6

    val attempted = measured.size + reads.size + jobs.size
    val failed = reads.count(!_.ok) + gateFailures +
      jobs.count(j => j.gen.failure != null || j.query.exception.nonEmpty) +
      windows.count(w => w.trigs.isEmpty || w.fresh.size != w.trigs.size)

    // end-to-end figures: per trigger cycle of the window, the mean over
    // its triggers or reads (a read belongs to the cycle it falls due
    // in), then the median over the cycles, so that a burst of host noise
    // moves a figure only if it spans half the window
    def overCycles[T](at: Seq[(Double, T)])(f: Seq[T] => Double): Double =
      Stats.pct(at.groupBy(x => math.floor((x._1 - start) / IntervalMs)).values
        .map(g => f(g.map(_._2))).toSeq, 50)
    val metrics = Map(
      "setup_s" -> setupS,
      "fresh_ms" -> overCycles(freshAt.map { case (t, f) => t.startMs -> f })(Stats.mean),
      "capacity_eps" -> overCycles(measured.map(t => t.startMs -> t))(ts =>
        ts.map(_.rows).sum / (ts.map(_.execMs).sum / 1000.0)),
      "serve_ms" -> overCycles(reads.filter(_.ok).map(r => r.dueMs -> (r.endMs - r.startMs)))(
        Stats.mean),
      "sink_disk_mb" -> disk,
      "jvm_live_mb" -> liveMb)

    // ---- per-layer, pooled over the jobs unless prefixed with a job ----
    val byTag = tracer.byTag
    def aggOf(t: Trig): Option[Tracer.TagAgg] = byTag.get(t.tag)
    def perTrig(f: Tracer.TagAgg => Double): Double =
      Stats.mean(measured.map(t => aggOf(t).map(f).getOrElse(0.0)))
    val readAggs = reads.map(r => byTag.get(r.tag))
    val states = measured.flatMap(_.state)
    val statesEnd = windows.flatMap(_.trigs.lastOption.flatMap(_.state))
    // driver-only time: trigger wall minus the union of its job spans
    val driverMs = measured.map(t =>
      t.execMs - aggOf(t).map(g => Stats.unionLength(g.jobSpans.map { case (s, e) =>
        (math.max(s.toDouble, t.startMs).toLong, math.min(e.toDouble, t.endMs).toLong)
      }).toDouble).getOrElse(0.0))
    val outRows = measured.map(t => aggOf(t).map(_.metrics.outRows).getOrElse(0L)).sum.toDouble
    val adds = jobs.flatMap(_.gen.addMs(start, end)).toSeq
    val perJob = windows.flatMap { w =>
      val n = w.job.name
      Seq(
        s"$n.fresh.p50_ms" -> Stats.pct(w.fresh.map(_._2), 50),
        s"$n.trigger.exec_ms_p50" -> Stats.pct(w.trigs.map(_.execMs), 50),
        s"$n.trigger.addbatch_ms_p50" -> Stats.pct(w.trigs.map(_.d("addBatch")), 50),
        s"$n.serve.p50_ms" -> Stats.pct(served(w.reads), 50))
    }
    val layers = Map(
      "session.boot_s" -> bootS,
      "session.warmup_s" -> warmupS,
      "fresh.p50_ms" -> Stats.pct(fresh, 50),
      "fresh.p95_ms" -> Stats.pct(fresh, 95),
      "serve.p50_ms" -> Stats.pct(readOk, 50),
      "serve.p95_ms" -> Stats.pct(readOk, 95),
      "gen.late_ms_max" -> jobs.map(_.gen.lateMaxMs).max,
      "gen.events" -> jobs.map(_.gen.sent).sum.toDouble,
      "source.backlog_max" -> windows.flatMap(_.backlog).maxOption.getOrElse(0.0),
      "source.backlog_end" -> windows.map(_.backlog.lastOption.getOrElse(0.0)).sum,
      "source.add_ms_p50" -> Stats.pct(adds, 50),
      "trigger.count" -> measured.size.toDouble,
      "trigger.rows_p50" -> Stats.pct(rows, 50),
      "trigger.exec_ms_p50" -> Stats.pct(execMs, 50),
      "trigger.exec_ms_p95" -> Stats.pct(execMs, 95),
      "trigger.plan_ms_p50" -> Stats.pct(measured.map(_.d("queryPlanning")), 50),
      "trigger.commit_ms_p50" -> Stats.pct(measured.map(t => t.d("walCommit") + t.d("commitOffsets")), 50),
      "trigger.addbatch_ms_p50" -> Stats.pct(measured.map(_.d("addBatch")), 50),
      "trigger.engine_ms_p50" -> Stats.pct(measured.map(t => t.execMs - t.d("addBatch")), 50),
      "trigger.jobs_mean" -> perTrig(_.jobs.toDouble),
      "trigger.tasks_mean" -> perTrig(_.metrics.tasks.toDouble),
      "trigger.driver_ms_p50" -> Stats.pct(driverMs, 50),
      "trigger.busy_frac" -> execMs.sum / (jobs.size * seconds * 1000.0),
      "exec.cpu_ms" -> perTrig(_.metrics.cpuMs),
      "exec.run_ms" -> perTrig(_.metrics.runMs.toDouble),
      "exec.gc_ms" -> perTrig(_.metrics.gcMs.toDouble),
      "shuffle.read_bytes" -> perTrig(_.metrics.shuffleRead.toDouble),
      "shuffle.write_bytes" -> perTrig(_.metrics.shuffleWrite.toDouble),
      "spill.bytes" -> perTrig(_.metrics.spill.toDouble),
      "state.rows_total_end" -> statesEnd.map(_.numRowsTotal.toDouble).sum,
      "state.mem_bytes_end" -> statesEnd.map(_.memoryUsedBytes.toDouble).sum,
      "state.rows_updated_mean" -> Stats.mean(states.map(_.numRowsUpdated.toDouble)),
      "state.rows_removed_total" -> states.map(_.numRowsRemoved.toDouble).sum,
      "state.commit_ms_p50" -> Stats.pct(states.map(_.commitTimeMs.toDouble), 50),
      "sink.rows_written_per_trigger" -> perTrig(_.metrics.outRows.toDouble),
      "sink.bytes_written_per_trigger" -> perTrig(_.metrics.outBytes.toDouble),
      "sink.write_amp" -> (if (rows.sum > 0) outRows / rows.sum else 0.0),
      "sink.snapshots_end" -> sinkRoots.map(r => Disk.childDirs(r, "v")).sum.toDouble,
      "sink.files_end" -> sinkRoots.map(Disk.dataFiles).sum.toDouble,
      "archive.files_end" -> archives.map(Disk.dataFiles).sum.toDouble,
      "serve.jobs_mean" -> Stats.mean(readAggs.map(_.map(_.jobs.toDouble).getOrElse(0.0))),
      "serve.files_read_mean" -> Stats.mean(reads.map(_.files.toDouble)),
      "serve.bytes_read_mean" -> Stats.mean(readAggs.map(_.map(_.metrics.inBytes.toDouble).getOrElse(0.0))),
      "serve.retries" -> reads.map(_.retries.toDouble).sum) ++ perJob

    // trigger spans (MicroBatchExecution runs these phases in order)
    if (tracer.enabled) jobs.flatMap(_.trigs.asScala).foreach { t =>
      val id = tracer.add("trigger", s"${t.job} batch ${t.batchId}", t.tag,
        t.startMs, t.endMs, Map("rows" -> t.rows.toDouble))
      var at = t.startMs
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { ph =>
          val d = t.d(ph)
          if (d > 0) tracer.add("trigger.phase", ph, t.tag, at, at + d, parent = id)
          at += d
        }
    }

    spark.stop()
    Main.Outcome(metrics, layers, attempted, failed, errors.toSeq,
      Map("samples" -> Map("jobs" -> jobs.size, "triggers" -> measured.size,
        "reads" -> reads.size, "reads_ok" -> readOk.size,
        "read_retries" -> reads.map(_.retries).sum),
        "warnings" -> warnings,
        "params" -> Map("rate_eps_per_job" -> Rate, "interval_ms" -> IntervalMs,
          "warmup_ms" -> WarmupMs, "warmup_triggers" -> WarmupTriggers,
          "reads_per_cycle" -> ReadsPerCycle, "flush_ms" -> FlushMs, "source_partitions" -> SourcePartitions)))
  }

  /** Exactly-once gate: the job's hot tables == a batch recomputation
    * over every event it generated; for reviews also archive rows ==
    * generated rows, each review id once. Returns the number of failed
    * checks.
    */
  private def gate(spark: SparkSession, feed: Feed, job: Job,
      errors: mutable.ArrayBuffer[String]): Int = {
    val n = job.gen.sent
    val input = spark.createDataset((0L until n).map(feed.json))(Encoders.STRING).toDF("value")
    // hot tables are small: compare as sorted row multisets on the driver
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)
    def same(name: String, got: Option[DataFrame], exp: DataFrame): Int = got match {
      case None => errors += s"gate $name: hot table missing"; 1
      case Some(g) =>
        val (gr, er) = (rows(g.select(exp.columns.map(col): _*)), rows(exp))
        if (gr == er) 0
        else {
          errors += s"gate $name: ${gr.size} rows vs ${er.size} expected, " +
            s"${gr.diff(er).size} unexpected, ${er.diff(gr).size} missing"
          1
        }
    }
    if (job.reviews) {
      import org.apache.spark.sql.functions.{count, countDistinct}
      val parsed = SteamOps.parseReviews(input)
      val arc = spark.read.parquet(job.archive).agg(count("*"), countDistinct("review_id")).head()
      val archiveOk =
        if (arc.getLong(0) == n && arc.getLong(1) == n) 0
        else { errors += s"gate archive: ${arc.getLong(0)} rows, ${arc.getLong(1)} ids, $n generated"; 1 }
      archiveOk +
        same("sentiment", job.sinks(0).read(spark).map(SteamOps.sentimentFromPartials),
          SteamOps.sentimentAgg(parsed)) +
        same("review_bomb", job.sinks(1).read(spark).map(SteamOps.reviewBombFromPartials),
          SteamOps.reviewBombAgg(parsed))
    } else {
      same("players", job.sinks(0).read(spark),
        SteamOps.playerWindowAgg(SteamOps.parsePlayers(input)))
    }
  }

  // ===========================================================================

  /** Producer-shaped JSON for the stream position `j`, derived from the
    * sf0.1 `events` table and the seed:
    *  - the seed picks the start row and how the 1,500 event users map
    *    onto the reference's 122-app universe;
    *  - events are replayed in laps, each lap shifted by one data span,
    *    so event time keeps increasing and the hot tables keep growing;
    *  - each event gets an event-time jitter in [0, 60) s, below both
    *    watermarks (5 and 10 min), so no event is late.
    * Review scores are multiples of 1/256 so that sums are exact in any
    * order, which lets the gate demand exact equality.
    */
  final class Feed(seed: Long, reviews: Boolean, ev: Feed.Events) {
    import ev._
    private val n = eventId.length
    private val span = (tsSec.max - tsSec.min) / 86400 * 86400 + 86400
    private val start = java.lang.Math.floorMod(mix(seed, 1), n.toLong)
    private def app(u: Long): Int = java.lang.Math.floorMod(mix(seed, u + 7), Feed.Apps.toLong).toInt

    def json(j: Long): String = {
      val pos = start + j
      val i = (pos % n).toInt
      val lap = pos / n
      val jitter = java.lang.Math.floorMod(mix(seed ^ 0x5eed, j), 60L)
      val t = tsSec(i) + lap * span + jitter
      val appId = Feed.AppBase + app(user(i)) * Feed.AppStride
      if (reviews) {
        val score = java.lang.Math.floorMod(mix(seed, eventId(i) * 31 + lap), 257L) / 256.0
        val up = etype(i) == "purchase" || etype(i) == "signup"
        val iso = java.time.Instant.ofEpochSecond(t + 3600).toString
        s"""{"app_id":"$appId","review_id":"$lap-${eventId(i)}",""" +
          s""""author_steamid":"7656119${80000000L + user(i)}","language":"english",""" +
          s""""voted_up":$up,"votes_up":${k(i)},"weighted_vote_score":$score,""" +
          s""""timestamp_created":$t,"review_text":"${etype(i)} session, value ${value(i)}, """ +
          s"""k=${k(i)}: ${if (up) "worth it" else "needs work"}","scraped_at":"$iso",""" +
          s""""playtime_at_review":${k(i) * 60},"playtime_forever":${k(i) * 97}}"""
      } else {
        val iso = java.time.LocalDateTime.ofEpochSecond(t, 0, java.time.ZoneOffset.UTC)
        s"""{"appid":$appId,"player_count":${math.round(value(i) * 100)},"timestamp":"$iso"}"""
      }
    }
  }

  object Feed {
    /** App universe of the reference deployment (BASELINE.md). */
    val Apps = 122
    val AppBase = 200000
    val AppStride = 1013

    final case class Events(eventId: Array[Long], tsSec: Array[Long], user: Array[Long],
        etype: Array[String], value: Array[Double], k: Array[Int])

    /** Rows of the tab-separated event extract `run.py` writes from
      * `events.parquet` (event_id, epoch seconds, user_id, event_type,
      * value, props.k), already in (ts, event_id) order.
      */
    def load(path: String): Events = {
      val src = scala.io.Source.fromFile(path, "UTF-8")
      val rows = try src.getLines().map(_.split('\t')).toArray finally src.close()
      Events(rows.map(_(0).toLong), rows.map(_(1).toLong), rows.map(_(2).toLong),
        rows.map(_(3)), rows.map(_(4).toDouble), rows.map(_(5).toInt))
    }
  }

  /** SplitMix64 finalizer over (seed, x): the benchmark's only randomness. */
  def mix(seed: Long, x: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Open-loop generator: event `j` is due at `t0 + j / rate`, `t0`
    * being when the thread starts; every
    * [[FlushMs]] the events due so far are added to the stream in one
    * call, like a producer's linger. It never waits on the engine. The
    * duration of each `addData` call (the source's append path) is kept
    * with sub-ms resolution.
    */
  final class Generator(name: String, stream: MemoryStream[String], feed: Feed, rate: Double)
      extends Thread(s"perfbench-generator-$name") {
    setDaemon(true)
    @volatile var failure: String = null
    private val halted = new AtomicBoolean(false)
    private val sentN = new AtomicLong(0)
    @volatile private var t0 = 0.0
    // addData call index (= MemoryStream offset) → events sent through it
    private val ends = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    // (wall ms at the call, call duration ms) per addData call
    private val adds = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
    @volatile var lateMaxMs = 0.0

    def dueMs(j: Long): Double = t0 + j * 1000.0 / rate
    def dueCount(ms: Double): Long = math.max(0L, math.floor((ms - t0) * rate / 1000.0).toLong + 1)
    def sent: Long = sentN.get()
    def eventsThrough(offset: Long): Option[Long] = Option(ends.get(offset)).map(_.longValue)
    /** Durations of the `addData` calls made in [fromMs, toMs). */
    def addMs(fromMs: Double, toMs: Double): Seq[Double] =
      adds.asScala.collect { case (at, d) if at >= fromMs && at < toMs => d }.toSeq

    def halt(): Unit = { halted.set(true); join() }

    override def start(): Unit = { t0 = System.currentTimeMillis().toDouble; super.start() }

    override def run(): Unit =
      try {
        var tick = 0L
        while (!halted.get()) {
          val now = System.currentTimeMillis().toDouble
          lateMaxMs = math.max(lateMaxMs, now - (t0 + tick * FlushMs))
          val due = dueCount(now)
          val from = sentN.get()
          if (due > from) {
            val batch = (from until due).map(feed.json)
            val t = System.nanoTime()
            val off = stream.addData(batch)
            adds.add((now, (System.nanoTime() - t) / 1e6))
            sentN.set(due)
            ends.put(off.json().trim.toLong, due)
          }
          tick += 1
          val next = t0 + tick * FlushMs
          val sleep = (next - System.currentTimeMillis()).toLong
          if (sleep > 0) Thread.sleep(sleep)
        }
      } catch { case e: Throwable => failure = e.toString }
  }

  /** One dashboard refresh; `errors` holds the message of every failed
    * attempt.
    */
  final case class Read(job: String, id: String, dueMs: Double, startMs: Double, endMs: Double,
      files: Int, ok: Boolean, errors: Seq[String]) {
    def tag: String = s"read:$job:$id"
    def retries: Int = if (ok) errors.size else errors.size - 1
  }

  /** Dashboard reader: one thread refreshing the jobs' dashboards. Until
    * half a trigger cycle before the window's first tick it reads the
    * jobs in turn, back to back, so that the read path is warm when the
    * window opens. From then on it reads at a fixed rate on the trigger
    * grid: each trigger cycle holds [[ReadsPerCycle]] reads, due at the
    * middle of each [[SlotMs]] slot after the tick. The jobs take the
    * slots in turn, shifted by one slot every cycle, so that over any two
    * cycles every job is read once in every slot. Every window of an even
    * number of cycles therefore holds the same mix of read phases, which
    * a read's latency mostly depends on (does it overlap a trigger?), and
    * reads never overlap each other. The reader is busy most of the time,
    * as under many dashboard users. A read that falls due while the
    * previous one runs starts when it ends; latency is each read's own
    * duration, so the single thread's queueing is not counted. Each read
    * is tagged with job group `read:<job>:<n>` (`read:<job>:w<n>` in the
    * warm-up). Cycles count from `firstTick`, the window's first tick (in
    * intervals since the epoch).
    *
    * A read that throws is retried up to [[ReadAttempts]] times, as a
    * dashboard would: on the local filesystem the hot sink's pointer swap
    * renames `_CURRENT` and its checksum file separately (and replaces
    * the pointer by delete + rename), so a read racing the swap can fail
    * its checksum or find no pointer. Retries are counted (`read_retries`
    * with every result, each retried read listed under `warnings`) and
    * their time stays in the latency; only a read failing every attempt
    * counts as failed.
    */
  final class Reader(spark: SparkSession, tracer: Tracer, jobs: Seq[Job], firstTick: Long)
      extends Thread("perfbench-reader") {
    setDaemon(true)
    private val halted = new AtomicBoolean(false)
    private val out = new java.util.concurrent.ConcurrentLinkedQueue[Read]()
    def results: Seq[Read] = out.asScala.toSeq
    def halt(): Unit = { halted.set(true); join() }

    private def read(job: Job, id: String, due: Double): Unit = {
      val start = tracer.now()
      spark.sparkContext.setJobGroup(s"read:${job.name}:$id", s"dashboard read $id")
      val errors = mutable.ArrayBuffer[String]()
      var files = -1
      while (files < 0 && errors.size < ReadAttempts) {
        try files = dashboardRead(spark, job)
        catch { case e: Throwable =>
          errors += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(200)
          Thread.sleep(50L * errors.size) }
      }
      val r = Read(job.name, id, due, start, tracer.now(), math.max(files, 0), files >= 0,
        errors.toSeq)
      tracer.add("read", s"read $id", r.tag, start, r.endMs, Map("retries" -> r.retries.toDouble))
      out.add(r)
    }

    override def run(): Unit = {
      val firstMs = firstTick * IntervalMs
      // warm-up: read the jobs in turn, back to back, until half a cycle
      // before the window's first tick, so the read path warms up with
      // the writes
      var k = 0
      while (!halted.get() && tracer.now() < firstMs - IntervalMs / 2) {
        read(jobs(k % jobs.size), s"w$k", tracer.now())
        k += 1
      }
      // then on the grid: slot n counted from the window's first tick
      var n = math.floor((tracer.now() - firstMs) / SlotMs).toLong + 1
      while (!halted.get()) {
        val cycle = java.lang.Math.floorDiv(n, ReadsPerCycle.toLong)
        val due = firstMs + cycle * IntervalMs +
          (java.lang.Math.floorMod(n, ReadsPerCycle.toLong) + 0.5) * SlotMs
        val job = jobs(java.lang.Math.floorMod(n + cycle, jobs.size.toLong).toInt)
        val wait = (due - tracer.now()).toLong
        if (wait > 0) Thread.sleep(wait)
        if (!halted.get()) read(job, n.toString, due)
        n += 1
      }
      spark.sparkContext.clearJobGroup()
    }
  }
}

/** Local-filesystem accounting for the run's output directories. */
object Disk {
  private def walk(f: java.io.File): Iterator[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatMap(_.iterator).flatMap(walk)
    else Iterator(f)

  def bytes(dir: String): Long = walk(new java.io.File(dir)).filter(_.isFile).map(_.length).sum

  /** Parquet data files (not checksums, markers or pointer files). */
  def dataFiles(dir: String): Long =
    walk(new java.io.File(dir)).count(f => f.isFile && f.getName.endsWith(".parquet")).toLong

  /** Immediate subdirectories named `<prefix><digits>`. */
  def childDirs(dir: String, prefix: String): Long =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.matches(s"$prefix\\d+")).toLong
}

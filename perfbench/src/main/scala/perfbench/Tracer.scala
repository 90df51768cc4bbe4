package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import org.apache.spark.sql.SparkSession

/** In-memory span store plus the Spark listener that fills it.
  *
  * A span is (id, parent, layer, name, tag, start, end, attrs). Harness
  * spans wrap the benchmark's own calls into the engine; job and stage
  * spans come from Spark's public `SparkListener` events. Every job is
  * attributed to a tag: a streaming trigger (`trigger:<query>:<batchId>`, parsed
  * from the job description Spark's micro-batch engine sets) or the job
  * group the harness set on the calling thread (`read:<n>`,
  * `query:<name>`, ...). Spans are written once, at the end, as NDJSON.
  *
  * With `enabled = false` nothing is registered and every call is a
  * pass-through, so end-to-end runs carry no tracing cost.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids   = new AtomicLong(0)
  private val baseMs   = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()

  /** Wall clock in epoch ms with sub-ms resolution. */
  def now(): Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  def add(layer: String, name: String, tag: String, start: Double, end: Double,
      attrs: Map[String, Double] = Map.empty, parent: Long = 0L): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, layer, name, tag, start, end, attrs))
      id
    }

  def span[T](layer: String, name: String, tag: String)(f: => T): T = {
    val s = now()
    try f finally add(layer, name, tag, s, now())
  }

  // ---- Spark listener: jobs and stages, attributed to tags ----

  private val jobTag    = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Seq[Int])]()
  private val stageAgg  = new java.util.concurrent.ConcurrentHashMap[Int, StageMetrics]()
  private val tagAggs   = new java.util.concurrent.ConcurrentHashMap[String, TagAgg]()
  private val openJobs  = new AtomicLong(0)
  @volatile private var lastEventMs = System.currentTimeMillis()

  // MicroBatchExecution's job description: "<query name>\nid = ...\nbatch = <n>"
  private val BatchRe = """(?s)([^\n]*)\n.*batch = (\d+).*""".r

  private def tagOf(props: java.util.Properties): String = {
    val desc  = Option(props).flatMap(p => Option(p.getProperty("spark.job.description")))
    val group = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    desc match {
      case Some(BatchRe(q, b)) => s"trigger:$q:$b"
      case _                => group.getOrElse("untagged")
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventMs = System.currentTimeMillis()
      openJobs.incrementAndGet()
      jobTag.put(e.jobId, (tagOf(e.properties), e.time, e.stageIds))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEventMs = System.currentTimeMillis()
      val si = e.stageInfo
      val tm = si.taskMetrics
      val m = StageMetrics(
        tasks = si.numTasks,
        runMs = if (tm == null) 0L else tm.executorRunTime,
        cpuMs = if (tm == null) 0.0 else tm.executorCpuTime / 1e6,
        gcMs = if (tm == null) 0L else tm.jvmGCTime,
        shuffleRead = if (tm == null) 0L else tm.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = if (tm == null) 0L else tm.shuffleWriteMetrics.bytesWritten,
        spill = if (tm == null) 0L else tm.memoryBytesSpilled + tm.diskBytesSpilled,
        outRows = if (tm == null) 0L else tm.outputMetrics.recordsWritten,
        outBytes = if (tm == null) 0L else tm.outputMetrics.bytesWritten,
        inBytes = if (tm == null) 0L else tm.inputMetrics.bytesRead,
        start = si.submissionTime.getOrElse(0L),
        end = si.completionTime.getOrElse(0L))
      stageAgg.merge(si.stageId, m, (a, b) => a + b)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventMs = System.currentTimeMillis()
      val info = jobTag.remove(e.jobId)
      openJobs.decrementAndGet()
      if (info != null) {
        val (tag, start, stageIds) = info
        val stages = stageIds.flatMap(id => Option(stageAgg.get(id)).map(id -> _))
        val jobId = add("job", s"job ${e.jobId}", tag, start.toDouble, e.time.toDouble,
          Map("stages" -> stages.size.toDouble))
        stages.foreach { case (id, m) =>
          add("stage", s"stage $id", tag, m.start.toDouble, m.end.toDouble, m.attrs, jobId)
        }
        val sum = stages.map(_._2).foldLeft(StageMetrics.zero)(_ + _)
        tagAggs.compute(tag, (_, old) => {
          val base = if (old == null) TagAgg() else old
          base.copy(
            jobs = base.jobs + 1,
            stages = base.stages + stages.size,
            metrics = base.metrics + sum,
            jobSpans = base.jobSpans :+ ((start, e.time)))
        })
      }
    }
  }

  def install(spark: SparkSession): Unit =
    if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Wait until the listener bus has delivered every job end (listener
    * events are asynchronous): no open job and 300 ms without an event.
    */
  def drain(maxMs: Long = 10000): Unit =
    if (enabled) {
      val deadline = System.currentTimeMillis() + maxMs
      while (System.currentTimeMillis() < deadline &&
        (openJobs.get() > 0 || System.currentTimeMillis() - lastEventMs < 300))
        Thread.sleep(50)
    }

  /** Job-level aggregates per tag (empty when tracing is off). */
  def byTag: Map[String, TagAgg] = tagAggs.asScala.toMap

  /** Self time per layer, in ms: each span's duration minus the part of
    * its interval covered by its children (by parent id, or, for spans
    * without an explicit parent, the job spans sharing its tag).
    */
  def selfTimeByLayer(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val byParent = all.groupBy(_.parent)
    val jobsByTag = all.filter(_.layer == "job").groupBy(_.tag)
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    all.foreach { s =>
      val kids =
        if (s.layer == "job") byParent.getOrElse(s.id, Nil)
        else if (Set("trigger", "read", "query")(s.layer)) jobsByTag.getOrElse(s.tag, Nil)
        else byParent.getOrElse(s.id, Nil)
      val clipped = kids.map(k =>
        ((math.max(k.start, s.start) * 1000).toLong, (math.min(k.end, s.end) * 1000).toLong))
      out(s.layer) += math.max(0.0, (s.end - s.start) - Stats.unionLength(clipped) / 1000.0)
    }
    out.toMap
  }

  def writeNdjson(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try spans.asScala.toSeq.sortBy(_.start).foreach { s =>
      w.write(Serialization.write(Map(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "tag" -> s.tag, "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs))(DefaultFormats))
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  final case class Span(
      id: Long, parent: Long, layer: String, name: String, tag: String,
      start: Double, end: Double, attrs: Map[String, Double])

  final case class StageMetrics(
      tasks: Long, runMs: Long, cpuMs: Double, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long,
      outRows: Long, outBytes: Long, inBytes: Long,
      start: Long, end: Long) {
    def +(o: StageMetrics): StageMetrics = StageMetrics(
      tasks + o.tasks, runMs + o.runMs, cpuMs + o.cpuMs, gcMs + o.gcMs,
      shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite, spill + o.spill,
      outRows + o.outRows, outBytes + o.outBytes, inBytes + o.inBytes,
      if (start == 0) o.start else if (o.start == 0) start else math.min(start, o.start),
      math.max(end, o.end))
    def attrs: Map[String, Double] = Map(
      "tasks" -> tasks.toDouble, "run_ms" -> runMs.toDouble, "cpu_ms" -> cpuMs,
      "gc_ms" -> gcMs.toDouble, "shuffle_read" -> shuffleRead.toDouble,
      "shuffle_write" -> shuffleWrite.toDouble, "spill" -> spill.toDouble,
      "out_rows" -> outRows.toDouble, "out_bytes" -> outBytes.toDouble,
      "in_bytes" -> inBytes.toDouble)
  }
  object StageMetrics {
    val zero: StageMetrics = StageMetrics(0, 0, 0.0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  }

  /** Aggregate of every job attributed to one tag. */
  final case class TagAgg(
      jobs: Long = 0, stages: Long = 0,
      metrics: StageMetrics = StageMetrics.zero,
      jobSpans: Seq[(Long, Long)] = Nil) {
    def jobWallMs: Long = Stats.unionLength(jobSpans)
  }
}

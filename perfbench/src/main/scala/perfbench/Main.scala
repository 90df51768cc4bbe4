package perfbench

import scala.collection.mutable

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** JVM side of the benchmark. `run.py` builds the classpath once and
  * launches this main with the workload, seed, run length and the
  * input and output paths; the result (metrics, gate outcome, box
  * conditions) goes to the `--out` JSON file and, with `--trace 1`, the
  * spans go to the `--spans` NDJSON file.
  *
  * The engine is driven only through its public functions (GraftSession,
  * Tables, SteamOps, Pipelines, Sinks, Serving, Queries); every per-layer
  * number comes from Spark's public listener APIs and from spans around
  * this harness's own calls.
  */
object Main {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int       = apply(k).toInt
    def long(k: String): Long     = apply(k).toLong
  }

  private def parse(args: Array[String]): Args = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      s"expected --key value pairs, got: ${args.mkString(" ")}")
    Args(args.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap)
  }

  /** Outcome of one workload run, before box conditions are attached. */
  final case class Outcome(
      metrics: Map[String, Double],
      layers: Map[String, Double],
      attempted: Long,
      failed: Long,
      errors: Seq[String],
      extra: Map[String, Any] = Map.empty)

  def main(argv: Array[String]): Unit = {
    val launchMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val trace = a("trace") == "1"
    val tracer = new Tracer(enabled = trace)
    val box0 = Box.sample()
    val out = a("workload") match {
      case w if Hot.Workloads.contains(w) => Hot.run(w, a, tracer, launchMs)
      case "catalog_batch"                => Catalog.run(a, tracer, launchMs)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val box1 = Box.sample()
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"),
      "seed" -> a.long("seed"),
      "trace" -> trace,
      "metrics" -> out.metrics,
      "layers" -> out.layers,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "errors" -> out.errors.take(20),
      "box" -> Box.describe(box0, box1))
    result ++= out.extra
    if (trace) {
      tracer.writeNdjson(a("spans"))
      result("self_ms") = tracer.selfTimeByLayer()
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")),
      Serialization.write(result.toMap)(DefaultFormats).getBytes("UTF-8"))
  }
}

/** Box conditions recorded with every result: core counts, 1-min load
  * before and after, and CPU steal over the run (from `/proc/stat`, the
  * same jiffies approach as `graft.Bench`).
  */
object Box {
  final case class Sample(load1m: Double, totalJiffies: Long, stealJiffies: Long)

  def sample(): Sample = {
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    val (t, s) =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try {
          val parts = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
          (parts.take(8).sum, if (parts.length >= 8) parts(7) else 0L)
        } finally src.close()
      } catch { case _: Exception => (0L, 0L) }
    Sample(load, t, s)
  }

  def describe(b0: Sample, b1: Sample): Map[String, Any] = Map(
    "rss_peak_mb" -> rssPeakMb(),
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "spark_graft_cpus" -> graft.GraftSession.cpus,
    "load1m_before" -> b0.load1m,
    "load1m_after" -> b1.load1m,
    "steal_pct" ->
      (if (b1.totalJiffies > b0.totalJiffies)
         100.0 * (b1.stealJiffies - b0.stealJiffies) / (b1.totalJiffies - b0.totalJiffies)
       else -1.0))

  /** Memory the JVM keeps live, in MB: heap in use right after a full
    * collection plus non-heap in use (metaspace, code cache). Unlike the
    * resident-set peak it does not depend on when collections happen.
    */
  def liveMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    // the second collection also frees what Spark's cleaner released
    // (RDDs, shuffles, broadcasts) after the first one
    System.gc()
    Thread.sleep(300)
    System.gc()
    (mx.getHeapMemoryUsage.getUsed + mx.getNonHeapMemoryUsage.getUsed) / 1e6
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB; -1 if unreadable. */
  def rssPeakMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(-1.0)
      finally src.close()
    } catch { case _: Exception => -1.0 }
}

/** Order statistics over measured samples. */
object Stats {
  /** Linear-interpolated percentile (the `numpy` default); NaN if empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

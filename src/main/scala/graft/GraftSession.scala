package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table catalog for the engine.
  *
  * All knobs here are scale-oriented: AQE on (runtime re-plan, skew-join
  * splitting, partition coalescing), shuffle partitions sized to the local
  * core count (the driver overrides via SPARK_GRAFT_CPUS on a real run),
  * UTC session timezone for oracle parity.
  */
object GraftSession {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .withExtensions(new GraftExtensions) // graft_* SQL fns + RangeJoinRule
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // allow joins/aggregates to reuse a child partitioning that covers
      // a SUBSET of the keys (e.g. iterative state kept hash(doc_id)
      // while joining on (doc_id, pos)): Spark 4 defaults this to true
      // purely as a skew conservatism; the engine's iterative operators
      // ([[graft.functions.Suffix]]'s ladder) partition on the
      // high-cardinality document id where subset reuse is safe and
      // saves one full shuffle per round — skewed single-key hotspots
      // are still covered by AQE skew handling above
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the driver's testdata writes event ts as parquet TIMESTAMP(NANOS)
      // which Spark otherwise refuses to read:
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def local(appName: String = "graft"): SparkSession = {
    val s = builder(appName).master(s"local[$cpus]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Configure an externally-created session (e.g. the driver's) with the
    * engine-required confs that can be set at runtime.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () } // static conf on some builds; builder path sets it
    spark
  }
}

/** Batch catalog over a testdata scale-factor directory (TESTDATA.md). */
final case class Tables(spark: SparkSession, sfDir: String) {
  private def read(name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region: DataFrame     = read("region")
  def nation: DataFrame     = read("nation")
  def customer: DataFrame   = read("customer")
  def supplier: DataFrame   = read("supplier")
  def part: DataFrame       = read("part")
  def orders: DataFrame     = read("orders")
  def lineitem: DataFrame   = read("lineitem")
  def documents: DataFrame  = read("documents")
  def embeddings: DataFrame = read("embeddings")

  /** `events.ts` arrives in whatever physical shape the testdata generator
    * used: parquet TIMESTAMP(NANOS) (surfaced as LongType nanos under
    * nanosAsLong=true), TIMESTAMP without timezone (surfaced as
    * TIMESTAMP_NTZ since Spark infers NTZ for isAdjustedToUTC=false), or a
    * plain TIMESTAMP. Normalize all three to session-zone TimestampType
    * (session is pinned UTC, so NTZ wall-clock values map to the same
    * instants DuckDB reads) so every downstream operator sees one
    * event-time type, same as the reference's cast-to-timestamp ingest
    * (kafka-spark-configmap.yaml:64,175,254).
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = read("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer ns→µs division: ns/1000 through double division has a
        // 256 ns ULP at epoch scale, so truncation after the divide can
        // land one µs off for sub-µs-aligned inputs. Pure 64-bit
        // arithmetic with FLOOR semantics: subtracting the non-negative
        // pmod remainder aligns the value downward, so the exact `div`
        // that follows agrees with floor for pre-epoch (negative)
        // nanos too — a bare `div` truncates toward zero and would land
        // -1500 ns at -1 µs instead of -2 µs (ADVICE r8)
        raw.withColumn("ts",
          timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // interpret the NTZ wall clock as UTC REGARDLESS of the session
        // timezone: render the UTC wall clock into the session zone
        // first, then the session-zone NTZ→TIMESTAMP cast yields the
        // same instant under any spark.sql.session.timeZone (a bare
        // cast would silently shift instants if the session were not
        // pinned UTC by builder()/tune()). The conversion is resolved
        // DRIVER-side: under a UTC session (the builder()/tune()
        // default) convert_timezone(UTC, UTC, ts) is the identity, and
        // leaving it in the plan costs ~3× on scan-bound windowed
        // aggregates (measured at sf10 — PERF.md round 9), so the UTC
        // case takes the bare cast; only genuinely non-UTC sessions
        // pay the per-row rebase
        val tz = spark.sessionState.conf.sessionLocalTimeZone
        val utc = java.time.ZoneId.of(tz).normalized() ==
          java.time.ZoneOffset.UTC
        raw.withColumn("ts",
          if (utc) col("ts").cast("timestamp")
          else convert_timezone(lit("UTC"), lit(tz), col("ts")).cast("timestamp"))
      case _ => raw
    }
  }
}

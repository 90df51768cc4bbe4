package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.Stores
import graft.operators.SteamOps
import graft.streaming.{ParquetUpsertSink, Pipelines, Sinks}

/** Structured Streaming specs: the three reference pipelines end-to-end
  * over MemoryStream (A1 stand-in), complete-mode semantics (A3 parity),
  * the upsert scale path and its commit protocol, the parquet cold path
  * (A2), and batch==streaming Kappa parity (A6).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def memStream[A](implicit enc: org.apache.spark.sql.Encoder[A]): MemoryStream[A] =
    MemoryStream[A](enc, spark)

  private def reviewJson(app: String, rec: Boolean, score: java.lang.Double, epoch: Long) =
    s"""{"app_id":"$app","review_id":"r$epoch","author_steamid":"s","language":"en",
       |"voted_up":$rec,"votes_up":1,"weighted_vote_score":$score,
       |"timestamp_created":$epoch,"review_text":"x","scraped_at":"2024"}"""
      .stripMargin.replace("\n", "")

  test("kafka source contract: exact reader option map (A1, configmap.yaml:42-54)") {
    // No broker exists in the sandbox, so the config SURFACE is the spec:
    // the exact option map the reference's reader builds, including the
    // SSL truststore triple, pinned key-for-key.
    import graft.streaming.Sources
    Sources.kafkaOptions("kafka:9093", "steam-reviews") shouldBe Map(
      "kafka.bootstrap.servers" -> "kafka:9093",
      "subscribe" -> "steam-reviews",
      "startingOffsets" -> "earliest")

    Sources.kafkaSslOptions(None) shouldBe Map(
      "kafka.security.protocol" -> "SSL",
      "kafka.ssl.endpoint.identification.algorithm" -> "")

    Sources.kafkaSslOptions(Some("/mnt/ssl/truststore.p12")) shouldBe Map(
      "kafka.security.protocol" -> "SSL",
      "kafka.ssl.endpoint.identification.algorithm" -> "",
      "kafka.ssl.truststore.location" -> "/mnt/ssl/truststore.p12",
      "kafka.ssl.truststore.type" -> "PKCS12",
      "kafka.ssl.truststore.password" -> "changeit")

    // the full production map: base + SSL, extraOptions overriding base
    val full = Sources.kafkaOptions(
      "kafka:9093", "steam-reviews",
      startingOffsets = "earliest",
      extraOptions =
        Sources.kafkaSslOptions(Some("/mnt/ssl/truststore.p12")) +
          ("startingOffsets" -> "latest"))
    full("startingOffsets") shouldBe "latest" // extraOptions wins, like .option()
    full("kafka.ssl.truststore.type") shouldBe "PKCS12"
    full.keySet should have size 8
  }

  test("charts pipeline: MemoryStream → explode → complete-mode memory sink") {
    val in = memStream[String]
    val (_, hot) = Pipelines.chartBranches(in.toDF().select(col("value")))
    val q = Sinks.completeToMemory(hot, "charts_hot").start()
    try {
      in.addData(
        """{"name":"A","appid":1,"type":"game","genres":["Action","Indie"],"timestamp_scraped":"2024-01-01T00:00:00"}""",
        """{"name":"B","appid":2,"type":"game","genres":["Action"],"timestamp_scraped":"2024-01-01T00:00:00"}""")
      q.processAllAvailable()
      val r1 = spark.table("charts_hot").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      r1 shouldBe Map("Action" -> 2L, "Indie" -> 1L)

      // complete mode rewrites the world: a second batch updates totals
      in.addData("""{"name":"C","appid":3,"type":"game","genres":["Indie"],"timestamp_scraped":"2024-01-01T00:00:00"}""")
      q.processAllAvailable()
      val r2 = spark.table("charts_hot").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      r2 shouldBe Map("Action" -> 2L, "Indie" -> 2L)
    } finally q.stop()
  }

  test("reviews pipeline: windowed sentiment agg in complete mode keeps late data (§7.4 risk 2)") {
    val in = memStream[String]
    val (_, hot, _) = Pipelines.reviewBranches(in.toDF().select(col("value")))
    val q = Sinks.completeToMemory(hot, "reviews_hot").start()
    try {
      val base = 1700000000L
      in.addData(reviewJson("1", rec = true, 0.5, base))
      q.processAllAvailable()
      // 2h-late event: watermark would evict it under append mode, but the
      // reference runs complete mode where the watermark is inert.
      in.addData(reviewJson("1", rec = true, 1.0, base - 7200))
      q.processAllAvailable()
      val rows = spark.table("reviews_hot").collect()
      rows.map(_.getAs[Long]("total_reviews")).sum shouldBe 2L
    } finally q.stop()
  }

  test("players pipeline + upsert sink: update mode touches only changed keys") {
    val in = memStream[String]
    val (_, hot) = Pipelines.playerBranches(in.toDF().select(col("value")))
    val flat = hot.select(
      col("window.start").as("w_start"), col("appid"),
      col("max_players"), col("avg_players"))
    val sink = new ParquetUpsertSink(tmpDir("upsert"), Seq("w_start", "appid"))
    val q = Sinks.upsert(flat, sink, tmpDir("ckpt")).start()
    try {
      in.addData("""{"appid":730,"player_count":100,"timestamp":"2024-01-01T00:01:00"}""")
      q.processAllAvailable()
      in.addData("""{"appid":730,"player_count":900,"timestamp":"2024-01-01T00:02:00"}""")
      q.processAllAvailable()
      val out = sink.read(spark).get.collect()
      out.length shouldBe 1 // same 10-min window + appid → upserted, not appended
      out.head.getAs[Int]("max_players") shouldBe 900
    } finally q.stop()
  }

  test("cold path: parquet archive sink appends parsed rows exactly once") {
    val in = memStream[String]
    val (cold, _, _) = Pipelines.reviewBranches(in.toDF().select(col("value")))
    val dir = tmpDir("archive")
    val q = Sinks.parquetArchive(cold, dir, tmpDir("ckpt"),
      Trigger.ProcessingTime(0)).start()
    try {
      in.addData(reviewJson("1", rec = true, 0.5, 1700000000L))
      in.addData(reviewJson("2", rec = false, 0.1, 1700000100L))
      q.processAllAvailable()
      val archived = spark.read.parquet(dir)
      archived.count() shouldBe 2
      archived.columns should contain("recommended")
    } finally q.stop()
  }

  test("date-partitioned archive: reads with a date predicate prune partitions (D9)") {
    val in = memStream[String]
    val (cold, _, _) = Pipelines.reviewBranches(in.toDF().select(col("value")))
    val dir = tmpDir("archive_part")
    val q = Sinks.parquetArchive(
      cold.withColumn("day", to_date(col("timestamp"))),
      dir, tmpDir("ckpt"), Trigger.ProcessingTime(0),
      partitionCols = Seq("day")).start()
    try {
      in.addData(reviewJson("1", rec = true, 0.5, 1700000000L))  // 2023-11-14
      in.addData(reviewJson("2", rec = false, 0.1, 1700100000L)) // 2023-11-16
      q.processAllAvailable()
    } finally q.stop()

    val allRows = spark.read.parquet(dir)
    allRows.select("day").collect().map(_.get(0).toString).sorted shouldBe
      Array("2023-11-14", "2023-11-16")
    val pruned = spark.read.parquet(dir).filter(col("day") === "2023-11-14")
    pruned.collect() should have length 1
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    scan.partitionFilters.map(_.sql).mkString should include("day")
    scan.metrics("numFiles").value shouldBe 1 // one of the two day dirs read
  }

  test("shared-scan multi-sink: one query feeds archive + both hot tables, O(batch) per trigger") {
    val in  = memStream[String]
    val arc = tmpDir("ms_archive")
    val s1  = new ParquetUpsertSink(tmpDir("ms_sent"), Seq("window", "recommended"))
    val s2  = new ParquetUpsertSink(tmpDir("ms_bomb"), Seq("app_id"))

    // Pre-seed the archive with a DECOY partition. If any trigger
    // re-aggregated the archive instead of its own batch, app "99" would
    // leak into the hot tables — its absence proves per-trigger work
    // reads the batch only.
    val decoy = Seq(("99", "d1", "a", "en", true, 1L, 0.7,
      new java.sql.Timestamp(1700000000L * 1000), "decoy"))
      .toDF("app_id", "review_id", "author_steamid", "language", "recommended",
        "votes_up", "weighted_vote_score", "timestamp", "review_text")
    decoy.write.parquet(s"$arc/batch=999")

    val q = Pipelines.reviewsMultiSink(
      in.toDF().select(col("value")), arc, s1, s2, tmpDir("ckpt"))
      .trigger(Trigger.ProcessingTime(0)).start()
    // app "b": 11 negatives in the first trigger, a 12th in the second —
    // the lifetime totals carry over between triggers
    def bombReview(i: Int) = reviewJson("b", rec = false, 0.5, 1700010000L + i)
    try {
      in.addData(reviewJson("1", rec = true, 0.5, 1700000000L) +: (1 to 11).map(bombReview): _*)
      q.processAllAvailable()
      in.addData(
        reviewJson("1", rec = false, 0.1, 1700000100L),
        reviewJson("2", rec = true, 0.9, 1700003700L),
        bombReview(12))
      q.processAllAvailable()
    } finally q.stop()

    // cold path: every streamed row exactly once, in per-batch partitions
    val archive = spark.read.parquet(arc).filter(col("batch") < 999)
    archive.count() shouldBe 15

    // hot tables equal a from-scratch batch aggregation over the streamed
    // rows (complete-mode parity) — and exclude the decoy
    val sentiment = SteamOps.sentimentFromPartials(s1.read(spark).get)
    val expSent   = SteamOps.sentimentAgg(archive)
    sentiment.except(expSent).count() shouldBe 0
    expSent.except(sentiment).count() shouldBe 0

    val bombs = s2.read(spark).get.collect()
      .map(r => r.getAs[String]("app_id") -> r.getAs[Long]("total_reviews")).toMap
    bombs shouldBe Map("1" -> 2L, "2" -> 1L, "b" -> 12L) // no "99": archive never re-read

    val derived = SteamOps.reviewBombFromPartials(s2.read(spark).get)
      .collect().map(r => r.getAs[String]("app_id") ->
        (r.getAs[Long]("negative_count"), r.getAs[Boolean]("is_review_bomb"))).toMap
    derived shouldBe Map("1" -> ((1L, false)), "2" -> ((0L, false)), "b" -> ((12L, true)))
  }

  test("upsertAdditive skips a replayed batchId (no double-count)") {
    val sink = new ParquetUpsertSink(tmpDir("replay"), Seq("k"))
    val b0 = Seq(("a", 1L), ("b", 2L)).toDF("k", "n")
    val b1 = Seq(("a", 10L)).toDF("k", "n")
    sink.upsertAdditive(b0, 0L)
    sink.upsertAdditive(b1, 1L)
    // failure between sink commit and checkpoint commit → batch 1 replayed
    sink.upsertAdditive(b1, 1L)
    val got = sink.read(spark).get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe Map("a" -> 11L, "b" -> 2L) // not 21: replay was a no-op
    sink.lastApplied(spark) shouldBe 1L
  }

  test("shared-scan multi-sink: a hot sink failing one batch is re-applied alone on replay") {
    val in   = memStream[String]
    val arc  = tmpDir("pf_archive")
    val sent = tmpDir("pf_sent")
    val bomb = tmpDir("pf_bomb")
    val ckpt = tmpDir("pf_ckpt")
    def start() = Pipelines.reviewsMultiSink(
      in.toDF().select(col("value")), arc,
      new ParquetUpsertSink(sent, Seq("window", "recommended")),
      new ParquetUpsertSink(bomb, Seq("app_id")), ckpt)
      .trigger(Trigger.ProcessingTime(0)).start()
    val base = 1700000000L

    val q1 = start()
    try {
      in.addData(reviewJson("1", rec = true, 0.5, base), reviewJson("2", rec = false, 0.25, base + 60))
      q1.processAllAvailable()
      // a file in the bomb table's current snapshot that is not parquet:
      // batch 1's bomb merge fails to read it, so only that write fails
      val blocker = new java.io.File(bomb, "batch=0/part-99999-planted.parquet")
      java.nio.file.Files.write(blocker.toPath, "not parquet".getBytes("UTF-8"))
      in.addData(reviewJson("1", rec = false, 0.75, base + 120),
        reviewJson("3", rec = false, 0.125, base + 4000))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](q1.processAllAvailable())
      q1.isActive shouldBe false
      // the fan-out waited for its other writes: both committed batch 1
      new java.io.File(arc, "batch=1").isDirectory shouldBe true
      new ParquetUpsertSink(sent, Seq("window", "recommended")).lastApplied(spark) shouldBe 1L
      new ParquetUpsertSink(bomb, Seq("app_id")).lastApplied(spark) shouldBe 0L
      blocker.delete() shouldBe true
    } finally q1.stop()

    // a restarted query replays batch 1, then runs batch 2
    val q2 = start()
    try {
      q2.processAllAvailable()
      // a null score: avg_quality must skip it, as reviewBombAgg's avg does
      in.addData(reviewJson("2", rec = true, 0.5, base + 180),
        reviewJson("1", rec = false, null, base + 240))
      q2.processAllAvailable()
    } finally q2.stop()

    val archive = spark.read.parquet(arc)
    archive.count() shouldBe 6
    archive.select("review_id").distinct().count() shouldBe 6
    val sentiment = SteamOps.sentimentFromPartials(
      new ParquetUpsertSink(sent, Seq("window", "recommended")).read(spark).get)
    val expSent = SteamOps.sentimentAgg(archive)
    sentiment.except(expSent).count() shouldBe 0
    expSent.except(sentiment).count() shouldBe 0
    val bombs = SteamOps.reviewBombFromPartials(
      new ParquetUpsertSink(bomb, Seq("app_id")).read(spark).get)
    val expBomb = SteamOps.reviewBombAgg(archive)
    bombs.count() shouldBe 3
    bombs.except(expBomb).count() shouldBe 0
    expBomb.except(bombs).count() shouldBe 0
  }

  test("upsert pointer swap: reads racing 50 upserts never fail") {
    val sink = new ParquetUpsertSink(tmpDir("race"), Seq("k"))
    sink.upsert(Seq(("a", 0L)).toDF("k", "n"), 0L)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    var reads = 0
    val reader = new Thread(() =>
      while (!done.get()) {
        try { sink.read(spark).get.count() shouldBe 1L; reads += 1 }
        catch { case e: Throwable => errors.add(e) }
      })
    reader.start()
    try (1 to 50).foreach(i => sink.upsert(Seq(("a", i.toLong)).toDF("k", "n"), i.toLong))
    finally { done.set(true); reader.join() }
    withClue(errors.toArray.take(3).mkString("; "))(errors.size shouldBe 0)
    reads should be > 0
    sink.read(spark).get.collect().map(_.getLong(1)).toSeq shouldBe Seq(50L)
  }

  test("upsert sink: a crashed attempt's temp snapshot is never read, and the retry replaces it") {
    val root = tmpDir("crashed")
    val sink = new ParquetUpsertSink(root, Seq("k"))
    sink.upsertAdditive(Seq(("a", 1L), ("b", 2L)).toDF("k", "n"), 0L)
    // batch 1's first attempt died after writing wrong rows to its temp
    Seq(("a", 100L), ("z", 100L)).toDF("k", "n").write.parquet(s"$root/_tmp_batch_1")
    sink.read(spark).get.collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("a" -> 1L, "b" -> 2L)
    sink.lastApplied(spark) shouldBe 0L
    sink.upsertAdditive(Seq(("a", 10L)).toDF("k", "n"), 1L)
    sink.lastApplied(spark) shouldBe 1L
    sink.read(spark).get.collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("a" -> 11L, "b" -> 2L)
    new java.io.File(root).list().filter(_.startsWith("_tmp_")) shouldBe empty
  }

  /** Spark jobs `body` submits from this thread (listener events are
    * delivered in order, so a marker job seen after it flushes the count).
    */
  private def jobsSubmittedBy(body: => Unit): Int = {
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try {
        body
        sc.setJobDescription("marker")
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains("marker") && System.currentTimeMillis() < deadline) Thread.sleep(10)
      seen.contains("marker") shouldBe true
      seen.size - 1
    } finally sc.removeSparkListener(listener)
  }

  test("upsert sink schema: inferred once per instance, then reads submit no Spark job") {
    val sink = new ParquetUpsertSink(tmpDir("schema_jobs"), Seq("k"))
    sink.upsertAdditive(Seq(("a", 1L)).toDF("k", "n"), 0L)
    val fresh = new ParquetUpsertSink(sink.root, Seq("k"))
    jobsSubmittedBy(fresh.read(spark).get) should be >= 1 // parquet schema inference
    jobsSubmittedBy(fresh.read(spark).get) shouldBe 0
    sink.upsertAdditive(Seq(("a", 2L), ("b", 5L)).toDF("k", "n"), 1L)
    jobsSubmittedBy(fresh.read(spark).get) shouldBe 0
    fresh.read(spark).get.collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("a" -> 3L, "b" -> 5L)
  }

  test("upsert sink schema: a new sink over an existing root reads what spark.read.parquet reads") {
    // int sums widen to bigint and the aggregate reorders columns: the
    // first snapshot must already have the shape of every later one
    val root = tmpDir("schema_parity")
    val writer = new ParquetUpsertSink(root, Seq("k"))
    def current = spark.read.parquet(Stores.batchDir(root, Stores.batchIds(spark, root).last))
    def sameAsCurrent(sink: ParquetUpsertSink) = {
      val got = sink.read(spark).get
      got.schema shouldBe current.schema
      got.collect().toSet shouldBe current.collect().toSet
    }
    writer.upsertAdditive(Seq((1, "a"), (2, "b")).toDF("n", "k"), 0L)
    val reader = new ParquetUpsertSink(root, Seq("k"))
    sameAsCurrent(reader) // infers the schema from batch 0
    // exactly the merge's columns: no `batch` partition column
    reader.read(spark).get.columns.toSeq shouldBe Seq("k", "n")
    writer.upsertAdditive(Seq((10, "a"), (7, "c")).toDF("n", "k"), 1L)
    sameAsCurrent(reader) // reads batch 1 with the schema inferred from batch 0
    sameAsCurrent(new ParquetUpsertSink(root, Seq("k")))
    reader.read(spark).get.collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("a" -> 11L, "b" -> 2L, "c" -> 7L)

    val replacing = new ParquetUpsertSink(tmpDir("schema_replace"), Seq("k"))
    replacing.upsert(Seq((1, "a"), (2, "b")).toDF("n", "k"), 0L)
    replacing.read(spark).get.count() shouldBe 2
    replacing.upsert(Seq((5, "a")).toDF("n", "k"), 1L)
    replacing.read(spark).get.columns.toSeq shouldBe Seq("n", "k")
    val fresh = new ParquetUpsertSink(replacing.root, Seq("k")).read(spark).get
    replacing.read(spark).get.schema shouldBe fresh.schema
    replacing.read(spark).get.collect().toSet shouldBe fresh.collect().toSet
  }

  test("stream-static enrichment join broadcasts the dimension") {
    val in = memStream[String]
    def playerJson(app: Int, n: Int, iso: String) =
      s"""{"appid":$app,"player_count":$n,"timestamp":"$iso"}"""
    val (parsed, _) = Pipelines.playerBranches(in.toDF().select(col("value")))
    val dim = Seq((730, "CS2"), (570, "Dota 2")).toDF("appid", "name")
    val q = Pipelines.enrich(parsed, dim, "appid")
      .writeStream.format("memory").queryName("enriched").start()
    try {
      in.addData(playerJson(730, 100, "2024-01-01 00:00:00"))
      in.addData(playerJson(999, 5, "2024-01-01 00:01:00")) // no dim row
      q.processAllAvailable()
      val out = spark.table("enriched").collect()
        .map(r => r.getAs[Int]("appid") -> r.getAs[String]("name")).toMap
      out shouldBe Map(730 -> "CS2", 999 -> null)
    } finally q.stop()
  }

  test("incremental aggregate maintenance: additive merge equals recompute") {
    val in   = memStream[String]
    val sink = new ParquetUpsertSink(tmpDir("incr"), Seq("w_start", "recommended"))
    val (parsed, _, _) = Pipelines.reviewBranches(in.toDF().select(col("value")))
    // per-batch partial aggregate (sums only) merged additively — each
    // trigger is O(batch), the archive is never re-read
    val q = parsed.writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val partial = batch
          .groupBy(window(col("timestamp"), "1 hour"), col("recommended"))
          .agg(count(lit(1)).as("n"), sum(col("weighted_vote_score")).as("s"))
          .select(col("window.start").as("w_start"), col("recommended"),
            col("n"), col("s"))
        sink.upsertAdditive(partial, id)
        ()
      }.start()
    val base = 1700000000L // batches split across + within the same hour
    try {
      in.addData(reviewJson("1", rec = true, 0.5, base),
        reviewJson("2", rec = true, 0.25, base + 60))
      q.processAllAvailable()
      in.addData(reviewJson("3", rec = true, 0.75, base + 120), // same window again
        reviewJson("4", rec = false, 0.1, base + 4000))         // next hour
      q.processAllAvailable()
    } finally q.stop()

    val table = sink.read(spark).get
      .select(col("w_start"), col("recommended"), col("n"),
        round(col("s"), 6).as("s")).collect()
      .map(r => (r.getTimestamp(0).toInstant.getEpochSecond, r.getBoolean(1),
        r.getLong(2), r.getDouble(3))).toSet
    val hour = base - base % 3600
    table shouldBe Set(
      (hour, true, 3L, 1.5),           // 0.5 + 0.25 + 0.75 across two batches
      (hour + 3600, false, 1L, 0.1))
  }

  test("Trigger.AvailableNow drains the source and terminates (Kappa replay mode)") {
    val in = memStream[String]
    val (cold, _, _) = Pipelines.reviewBranches(in.toDF().select(col("value")))
    in.addData(reviewJson("1", rec = true, 0.5, 1700000000L))
    in.addData(reviewJson("2", rec = false, 0.1, 1700000100L))
    val dir = tmpDir("avnow")
    val q = Sinks.parquetArchive(cold, dir, tmpDir("ckpt"), Trigger.AvailableNow).start()
    q.awaitTermination(60000) shouldBe true // self-terminates when drained
    spark.read.parquet(dir).count() shouldBe 2
  }

  test("format breadth: the parsed table round-trips through ORC, CSV and JSON") {
    val in = memStream[String]
    val (parsed, _, _) = Pipelines.reviewBranches(in.toDF().select(col("value")))
    in.addData(reviewJson("1", rec = true, 0.5, 1700000000L))
    in.addData(reviewJson("2", rec = false, 0.1, 1700000100L))
    val dir = tmpDir("fmt")
    val q = Sinks.parquetArchive(parsed, s"$dir/src", tmpDir("ckpt"),
      Trigger.AvailableNow).start()
    q.awaitTermination(60000) shouldBe true
    val batch = spark.read.parquet(s"$dir/src")

    batch.write.orc(s"$dir/orc")
    batch.write.option("header", "true").csv(s"$dir/csv")
    batch.write.json(s"$dir/json")

    spark.read.orc(s"$dir/orc").count() shouldBe 2
    spark.read.option("header", "true").schema(batch.schema)
      .csv(s"$dir/csv").count() shouldBe 2
    val js = spark.read.schema(batch.schema).json(s"$dir/json")
    js.count() shouldBe 2
    js.select("review_id").collect().map(_.getString(0)).sorted shouldBe
      Array("r1700000000", "r1700000100")
  }

  test("checkpoint recovery: a restarted archive query resumes exactly-once") {
    val dir  = tmpDir("recover_archive")
    val ckpt = tmpDir("recover_ckpt")
    val in1 = memStream[String]
    val (cold1, _, _) = Pipelines.reviewBranches(in1.toDF().select(col("value")))
    val q1 = Sinks.parquetArchive(cold1, dir, ckpt, Trigger.ProcessingTime(0)).start()
    try {
      in1.addData(reviewJson("1", rec = true, 0.5, 1700000000L))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart over the same source/checkpoint/path: committed offsets are
    // honored — prior output must not duplicate, new data must land
    val (cold2, _, _) = Pipelines.reviewBranches(in1.toDF().select(col("value")))
    val q2 = Sinks.parquetArchive(cold2, dir, ckpt, Trigger.ProcessingTime(0)).start()
    try {
      in1.addData(reviewJson("2", rec = false, 0.1, 1700000100L))
      q2.processAllAvailable()
    } finally q2.stop()

    val ids = spark.read.parquet(dir).select("review_id").collect()
      .map(_.getString(0)).sorted
    ids shouldBe Array("r1700000000", "r1700000100")
  }

  test("streaming dedup: duplicate review ids across micro-batches are dropped") {
    val in = memStream[String]
    val (parsed, _, _) = Pipelines.reviewBranches(in.toDF().select(col("value")))
    val deduped = parsed
      .withWatermark("timestamp", "10 minutes")
      .dropDuplicatesWithinWatermark("review_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      in.addData(reviewJson("1", rec = true, 0.5, 1700000000L))
      q.processAllAvailable()
      // same review_id re-delivered in a later batch (at-least-once source)
      in.addData(reviewJson("1", rec = true, 0.5, 1700000000L))
      in.addData(reviewJson("2", rec = false, 0.1, 1700000100L))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").collect()
        .map(_.getAs[String]("review_id")).sorted
      ids shouldBe Array("r1700000000", "r1700000100")
    } finally q.stop()
  }

  test("stream-stream interval join: purchase within 10 min after click, per user") {
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    val clicks    = memStream[(Long, java.sql.Timestamp)]
    val purchases = memStream[(Long, java.sql.Timestamp)]
    val c = clicks.toDS().toDF("user_id", "c_ts").withWatermark("c_ts", "10 minutes")
    val p = purchases.toDS().toDF("user_id", "p_ts").withWatermark("p_ts", "10 minutes")
    val joined = c.join(
      p,
      c("user_id") === p("user_id") &&
        p("p_ts") >= c("c_ts") && p("p_ts") <= c("c_ts") + expr("INTERVAL 10 MINUTES"))
      .select(c("user_id"), col("c_ts"), col("p_ts"))
    val q = joined.writeStream.format("memory").queryName("ssj").start()
    try {
      clicks.addData((1L, ts(0)), (2L, ts(0)))
      purchases.addData((1L, ts(300)))   // in window → match
      purchases.addData((2L, ts(6000)))  // 100 min later → no match
      q.processAllAvailable()
      val rows = spark.table("ssj").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
      rows shouldBe Array((1L, ts(0), ts(300)))
    } finally q.stop()
  }

  test("streaming session windows: gaps split sessions, cross-batch events merge them") {
    val in = memStream[(String, java.sql.Timestamp)]
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val sessions = in.toDF().toDF("user", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user"))
      .agg(count(lit(1)).as("n"))
    val q = sessions.writeStream
      .format("memory").queryName("sessions").outputMode("complete").start()
    try {
      in.addData(("u1", ts(0)), ("u1", ts(100)))   // one session
      q.processAllAvailable()
      in.addData(("u1", ts(250)))                   // within gap → merges in
      in.addData(("u1", ts(1000)))                  // > 5 min after 250 → new session
      in.addData(("u2", ts(0)))
      q.processAllAvailable()
      val out = spark.table("sessions")
        .select(col("user"), col("session_window.start").cast("long").as("s"),
          col("n"))
        .collect().map(r => (r.getString(0), r.getLong(1) - 1700000000L, r.getLong(2)))
        .toSet
      out shouldBe Set(
        ("u1", 0L, 3L),    // 0,100,250 merged across batches
        ("u1", 1000L, 1L), // split by the 5-min gap
        ("u2", 0L, 1L))
    } finally q.stop()
  }

  test("Kappa parity: batch replay over the archive == streaming aggregate (A6)") {
    // stream some rows to a parquet archive, then re-run the same transform
    // in batch over the archive and against the original rows directly
    val rows = Seq(
      reviewJson("1", rec = true, 0.6, 1700000000L),
      reviewJson("1", rec = false, 0.2, 1700000060L),
      reviewJson("2", rec = true, 0.9, 1700003700L))
    val batchParsed = SteamOps.parseReviews(rows.toDF("value"))
    val expected = SteamOps.sentimentAgg(batchParsed).collect().toSet

    val in = memStream[String]
    val (cold, hot, _) = Pipelines.reviewBranches(in.toDF().select(col("value")))
    val dir = tmpDir("kappa")
    val qCold = Sinks.parquetArchive(cold, dir, tmpDir("ckpt"), Trigger.ProcessingTime(0)).start()
    val qHot  = Sinks.completeToMemory(hot, "kappa_hot").start()
    try {
      in.addData(rows: _*)
      qCold.processAllAvailable(); qHot.processAllAvailable()
      val streamed = spark.table("kappa_hot").collect().toSet
      val replayed = SteamOps.sentimentAgg(spark.read.parquet(dir)).collect().toSet
      streamed shouldBe expected
      replayed shouldBe expected
    } finally { qCold.stop(); qHot.stop() }
  }

  test("dedupIngest: batches classify against the growing index, accepted docs extend it") {
    val in = memStream[(Long, String)]
    val state = tmpDir("dedup_state")
    val q = Pipelines
      .dedupIngest(in.toDF().toDF("doc_id", "text"), state, tmpDir("dedup_ckpt"))
      .start()
    try {
      in.addData((1L, "alpha beta gamma delta"), (2L, "x y z w"))
      q.processAllAvailable()
      // batch 0: empty corpus — everything is new and enters the index
      val d0 = spark.read.parquet(s"$state/decisions/batch=0")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      d0 shouldBe Map(1L -> ("new", -1L), 2L -> ("new", -1L))

      in.addData(
        (3L, "delta gamma beta alpha"), // same token set as doc 1 -> exact
        (4L, "p q r s"),                // novel -> new
        (5L, "x y z w"))                // same as doc 2 -> exact
      q.processAllAvailable()
      val d1 = spark.read.parquet(s"$state/decisions/batch=1")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      d1(3L) shouldBe ("exact", 1L)
      d1(5L) shouldBe ("exact", 2L)
      d1(4L)._1 shouldBe "new"
      // only accepted docs joined the fingerprint index: 1, 2 from batch 0
      // and 4 from batch 1 — the rejected dups never pollute the corpus
      val indexed = spark.read.parquet(s"$state/fp")
        .select("cid").collect().map(_.getLong(0)).toSet
      indexed shouldBe Set(1L, 2L, 4L)
    } finally q.stop()
  }

  test("dedupIngest: a batch re-delivered after a crash between publishes restores the same bands") {
    val state = tmpDir("dedup_replay_state")
    def ingestBatch0(): Unit = {
      val in = memStream[(Long, String)]
      val q = Pipelines
        .dedupIngest(in.toDF().toDF("doc_id", "text"), state, tmpDir("dedup_replay_ckpt"))
        .start()
      try {
        in.addData((1L, "alpha beta gamma delta"), (2L, "x y z w"))
        q.processAllAvailable()
      } finally q.stop()
    }
    def bands0(): Seq[String] =
      spark.read.parquet(s"$state/bands/batch=0").collect().map(_.toString).sorted.toSeq
    ingestBatch0()
    val first = bands0()
    first should not be empty
    // the crash: decisions/ and fp/ are published, bands/batch=0 is lost
    val bandsDir = new org.apache.hadoop.fs.Path(s"$state/bands/batch=0")
    bandsDir.getFileSystem(spark.sessionState.newHadoopConf()).delete(bandsDir, true)
    // a fresh checkpoint re-delivers the same docs as batch 0: its own
    // fp partition must not count as corpus, or every doc matches itself
    // and the republished bands come back empty
    ingestBatch0()
    bands0() shouldBe first
  }

  test("bm25Ingest: streamed additive layers == the index built on the union, search bit-identical") {
    import graft.functions.Curation
    val in = memStream[(Long, String)]
    val state = tmpDir("bm25_state")
    val q = Pipelines
      .bm25Ingest(in.toDF().toDF("doc_id", "text"), state, tmpDir("bm25_ckpt"))
      .start()
    val b0 = Seq((1L, "spark window dup dup"), (2L, "merge sort window"))
    val b1 = Seq((3L, "dup dup dup spark"), (4L, "totally different words"))
    try {
      in.addData(b0: _*)
      q.processAllAvailable()
      in.addData(b1: _*)
      q.processAllAvailable()
    } finally q.stop()
    val union = (b0 ++ b1).toDF("doc_id", "text")
    val mono  = Curation.bm25Index(union, "doc_id", "text")
    val store = Curation.readBm25Store(spark, state)
    // df and totals identical to the monolithic build
    store.df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      mono.df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    store.tot.collect().head.toSeq shouldBe mono.tot.collect().head.toSeq
    // and the served search is bit-identical to the monolithic index's
    val terms = Seq("dup", "spark", "window")
    def results(ix: Curation.Bm25Index) =
      Curation.bm25Search(union, ix, "doc_id", "text", terms, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    results(store) shouldBe results(mono)
    // a replayed batch is a publishOnce no-op: republishing batch 1's
    // layer changes nothing
    Curation.writeBm25Batch(
      Curation.bm25Index(b1.toDF("doc_id", "text"), "doc_id", "text"), state, 1L)
    results(Curation.readBm25Store(spark, state)) shouldBe results(mono)
  }

  test("phraseAuditIngest: per-batch decontamination reports + store probe over all batches") {
    import graft.functions.Curation
    val in = memStream[(Long, String)]
    val state = tmpDir("phrase_state")
    val phrases = Seq("the quick fox", "lazy dog", "absent words")
    val q = Pipelines.phraseAuditIngest(
      in.toDF().toDF("doc_id", "text"), state, tmpDir("phrase_ckpt"), phrases)
      .start()
    try {
      val b0 = Seq(
        (1L, "see the quick fox jump over the lazy dog today"),
        (2L, "nothing of note here"))
      val b1 = Seq(
        (3L, "the quick fox returns and the quick fox rests"),
        (4L, "a lazy dog sleeps"))
      in.addData(b0: _*)
      q.processAllAvailable()
      in.addData(b1: _*)
      q.processAllAvailable()
      def rep(b: Int) = spark.read.parquet(s"$state/report/batch=$b")
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // each batch's report == the batch path over that batch alone
      Seq(b0, b1).zipWithIndex.foreach { case (b, i) =>
        val expected = Curation.phraseMatches(
          b.toDF("doc_id", "text"), "doc_id", "text", phrases)
          .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        withClue(s"batch $i: ") { rep(i) shouldBe expected }
      }
      rep(0)("the quick fox") shouldBe ((1L, 1L))
      rep(1)("the quick fox") shouldBe ((1L, 2L)) // doc 3, twice
      // the persisted store answers over EVERYTHING ingested
      val all = Curation.phraseMatchesStore(
        spark, s"$state/postings", phrases)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val batchAll = Curation.phraseMatches(
        (b0 ++ b1).toDF("doc_id", "text"), "doc_id", "text", phrases)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      all shouldBe batchAll
      all("lazy dog") shouldBe ((2L, 2L))
      all.contains("absent words") shouldBe false
    } finally q.stop()
  }

  test("cdcIngest: chunk store grows with novel chunks only; identical doc reports zero new bytes") {
    import graft.functions.Dedup
    val in = memStream[(Long, String)]
    val state = tmpDir("cdc_state")
    val base = (1 to 60)
      .map(i => s"sentence number $i carries a few distinct words along")
      .mkString(" ")
    val q = Pipelines
      .cdcIngest(in.toDF().toDF("doc_id", "text"), state, tmpDir("cdc_ckpt"))
      .start()
    try {
      in.addData((1L, base), (2L, "a short second document"))
      q.processAllAvailable()
      // batch 0: empty store — every chunk and byte is new
      val r0 = spark.read.parquet(s"$state/report/batch=0")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      r0(1L)._1 shouldBe r0(1L)._2 // n_chunks == n_new_chunks
      r0(1L)._3 shouldBe r0(1L)._4 // bytes == new_bytes

      in.addData(
        (3L, base),                                          // identical to doc 1
        (4L, base.replace("number 30", "number thirty")),    // edited near-dup
        (5L, "an entirely novel third body"))                // novel
      q.processAllAvailable()
      val r1 = spark.read.parquet(s"$state/report/batch=1")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      r1(3L)._2 shouldBe 0L // identical → no new chunks
      r1(3L)._4 shouldBe 0L
      r1(4L)._2 should be > 0L
      r1(4L)._4 should be < r1(4L)._3 / 2 // edit stays local
      r1(5L)._2 shouldBe r1(5L)._1

      // streamed report == the batch cdcIncremental path over the same split
      val corpus = Seq((1L, base), (2L, "a short second document")).toDF("doc_id", "text")
      val b1 = Seq(
        (3L, base),
        (4L, base.replace("number 30", "number thirty")),
        (5L, "an entirely novel third body")).toDF("doc_id", "text")
      val expected = Dedup.cdcIncremental(
        b1, Dedup.cdcChunkTable(corpus, "doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      r1 shouldBe expected

      // the store holds each chunk hash exactly once across partitions
      val store = spark.read.parquet(s"$state/chunks").select("ch")
        .collect().map(_.getString(0))
      store.length shouldBe store.distinct.length
    } finally q.stop()
  }

  test("dsirScoreIngest: micro-batches score against the persisted dense λ, equal to the batch path") {
    import graft.functions.Dsir
    val in     = memStream[(Long, String)]
    val state  = tmpDir("dsir_state")
    val lamDir = tmpDir("dsir_lam")
    // offline λ training: target domain (alpha/beta-ish) vs raw pool —
    // dense, so buckets the pool never hit still carry a smoothed λ
    val train = Seq(
      (100L, "alpha beta alpha beta", true),
      (101L, "alpha gamma beta alpha", true),
      (102L, "x y z w x y", false),
      (103L, "p q r s p q", false),
      (104L, "alpha x beta y", false)).toDF("doc_id", "text", "tgt")
    val feats = Dsir.features(train, "doc_id", "text", carry = Seq("tgt"), buckets = 64)
    Dsir.lambdaTable(feats, buckets = 64, dense = true)
      .write.mode("overwrite").parquet(lamDir)
    spark.read.parquet(lamDir).count() shouldBe 64L // dense: every bucket present

    val batch0 = Seq((1L, "alpha beta gamma"), (2L, "x y z"))
    val batch1 = Seq((3L, "unseen tokens entirely novel"))
    val q = Pipelines.dsirScoreIngest(
      in.toDF().toDF("doc_id", "text"), lamDir, state, tmpDir("dsir_ckpt"),
      buckets = 64).start()
    try {
      in.addData(batch0: _*)
      q.processAllAvailable()
      in.addData(batch1: _*)
      q.processAllAvailable()
    } finally q.stop()

    def scores() = spark.read.parquet(s"$state/scores")
      .select("doc_id", "n_feats", "n_toks", "dsir_bits").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = scores()
    // identical semantics to the batch scorer over the union of batches
    val lam = spark.read.parquet(lamDir)
    val expected = Dsir.scoreDocs(
      (batch0 ++ batch1).toDF("doc_id", "text"), lam, "doc_id", "text", 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    got shouldBe expected
    // doc 3's features hash into buckets the training pool never
    // produced — the dense λ scores all 4 unigrams + 3 bigrams instead
    // of dropping rows
    got.find(_._1 == 3L).get._2 shouldBe 7L
    // REPLAY SAFETY: a re-fired batch 0 (same data, same λ) overwrites
    // its own partition with identical rows — the scores table is
    // byte-for-byte unchanged, no duplicates
    Dsir.scoreDocs(batch0.toDF("doc_id", "text"), lam, "doc_id", "text", 64)
      .write.mode("overwrite").parquet(s"$state/scores/batch=0")
    scores() shouldBe got
  }

  test("driftMonitorIngest: per-batch drift reports against the persisted baseline == batch path") {
    import graft.functions.Quality
    val in      = memStream[(Long, Long)]
    val state   = tmpDir("drift_state")
    val baseDir = tmpDir("drift_base")
    // offline baseline: scores concentrated low
    val baseline = (0 until 100).map(i => (i.toLong, (i % 5).toLong))
      .toDF("doc_id", "sc")
    Pipelines.writeBaselineHist(baseline, col("sc"), baseDir)
    spark.read.parquet(baseDir).count() shouldBe 5L

    val batch0 = (0 until 30).map(i => (100L + i, (i % 5).toLong))        // matches baseline
    val batch1 = (0 until 30).map(i => (200L + i, 7L + (i % 3).toLong))   // shifted up
    val q = Pipelines.driftMonitorIngest(
      in.toDF().toDF("doc_id", "sc"), baseDir, state, tmpDir("drift_ckpt"),
      col("sc")).start()
    try {
      in.addData(batch0: _*)
      q.processAllAvailable()
      in.addData(batch1: _*)
      q.processAllAvailable()
    } finally q.stop()

    def report(b: Int) = spark.read.parquet(s"$state/drift/batch=$b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // each batch's report equals the batch-path computation against the
    // same persisted baseline histogram
    val baseHist = spark.read.parquet(baseDir)
    Seq(0 -> batch0, 1 -> batch1).foreach { case (bid, rows) =>
      val expected = Quality.scoreDriftAgainstHist(
        baseHist, rows.toDF("doc_id", "sc"), col("sc"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      withClue(s"batch $bid: ") { report(bid) shouldBe expected }
    }
    // the in-distribution batch sits inside the whole-bit quantization
    // band (|lam| <= 1 — the floor-log proxy is not shift-invariant
    // across different totals, so exact 0 is only guaranteed for
    // identical histograms); the shifted batch's KL-style total is
    // strictly positive and its new buckets carry positive lam
    report(0).foreach { case (_, _, _, lam) => math.abs(lam) should be <= 1L }
    val shifted = report(1)
    shifted.filter(t => t._1 >= 7).foreach { case (_, b, _, lam) =>
      b shouldBe 0L; lam should be > 0L
    }
    shifted.map(t => t._3 * t._4).sum should be > 0L
  }

  test("pruneDriftReports: keeps the newest keepLast reports, deletes the rest, graceful on missing stores") {
    import graft.functions.Stores
    val state = tmpDir("drift_prune")
    // five committed report layers, published exactly as the monitor
    // publishes them
    (0 until 5).foreach { b =>
      Stores.publishOnce(spark, s"$state/drift/batch=$b") { tmp =>
        Seq((b.toLong, 1L, 2L, 0L)).toDF("s", "n_base", "n_cur", "lam_bits")
          .write.parquet(tmp)
      }
    }
    Pipelines.pruneDriftReports(spark, state, keepLast = 2) shouldBe ((2L, 3L))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(state), spark.sessionState.newHadoopConf())
    def exists(b: Int) = fs.exists(
      new org.apache.hadoop.fs.Path(s"$state/drift/batch=$b"))
    (0 until 3).foreach(b => withClue(s"batch $b: ") { exists(b) shouldBe false })
    (3 until 5).foreach(b => withClue(s"batch $b: ") { exists(b) shouldBe true })
    // surviving reports are readable and intact
    spark.read.parquet(s"$state/drift/batch=4")
      .collect().head.getLong(0) shouldBe 4L
    // pruning below keepLast is a no-op
    Pipelines.pruneDriftReports(spark, state, keepLast = 32) shouldBe ((2L, 0L))
    // a missing store answers (0, 0) rather than failing
    Pipelines.pruneDriftReports(spark, tmpDir("absent") + "/none") shouldBe ((0L, 0L))
  }

  test("nbClassifyIngest: micro-batches classify against the persisted model, equal to the batch path") {
    import graft.functions.Curation
    val in       = memStream[(Long, String)]
    val state    = tmpDir("nb_state")
    val modelDir = tmpDir("nb_model")
    // offline training: two classes with mostly-disjoint vocab
    val train = Seq(
      (100L, "alpha beta alpha gamma", "A"),
      (101L, "alpha beta beta gamma", "A"),
      (102L, "x y z w", "B"),      // same token mass as class A, so the
      (103L, "x z w y", "B")       // two lp0 fallbacks are equal
    ).toDF("doc_id", "text", "cls")
    Curation.writeNbModel(Curation.nbFit(train, "text", "cls"), modelDir)

    val batch0 = Seq((1L, "alpha beta gamma"), (2L, "x y z"))
    val batch1 = Seq((3L, "entirely unseen tokens"))
    val q = Pipelines.nbClassifyIngest(
      in.toDF().toDF("doc_id", "text"), modelDir, state, tmpDir("nb_ckpt")).start()
    try {
      in.addData(batch0: _*)
      q.processAllAvailable()
      in.addData(batch1: _*)
      q.processAllAvailable()
    } finally q.stop()

    def preds() = spark.read.parquet(s"$state/preds")
      .select("doc_id", "pred_cls", "score_sc").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val got = preds()
    // identical semantics to the batch scorer over the union of batches
    val model = Curation.readNbModel(spark, modelDir)
    val expected = Curation.nbPredict(
      (batch0 ++ batch1).toDF("doc_id", "text"), model, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    got shouldBe expected
    // the vocabularies separate cleanly
    got.find(_._1 == 1L).get._2 shouldBe "A"
    got.find(_._1 == 2L).get._2 shouldBe "B"
    // doc 3 is all-unseen: both classes score via lp0 only — the exact
    // tie must break to the lexicographically first class
    got.find(_._1 == 3L).get._2 shouldBe "A"
    // REPLAY SAFETY: re-firing batch 0 against the same model overwrites
    // its own partition with identical rows
    Curation.nbPredict(batch0.toDF("doc_id", "text"), model, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$state/preds/batch=0")
    preds() shouldBe got
  }

  test("writeNbModel: a retrain whose second table write throws leaves the previous model readable and unchanged") {
    import graft.functions.Curation
    val modelDir = tmpDir("nb_atomic") + "/model"
    def fit(rows: Seq[(Long, String, String)]) =
      Curation.nbFit(rows.toDF("doc_id", "text", "cls"), "text", "cls")
    def tables(m: Curation.NbModel) =
      (m.tokLp.collect().map(_.toSeq).toSet, m.clsStats.collect().map(_.toSeq).toSet)
    val v1 = fit(Seq((1L, "alpha beta", "A"), (2L, "x y", "B")))
    Curation.writeNbModel(v1, modelDir)
    val before = tables(Curation.readNbModel(spark, modelDir))
    before shouldBe tables(v1)
    // the retrain's tok_lp write succeeds, its cls_stats write fails
    val v2 = fit(Seq((3L, "gamma gamma delta", "A"), (4L, "z z w", "C")))
    val crashing = Curation.NbModel(v2.tokLp,
      v2.clsStats.withColumn("lp0", raise_error(lit("simulated crash")).cast("long")))
    val ex = intercept[Exception](Curation.writeNbModel(crashing, modelDir))
    ex.getMessage should include("simulated crash")
    tables(Curation.readNbModel(spark, modelDir)) shouldBe before
    // the next retrain publishes cleanly over the crashed attempt
    Curation.writeNbModel(v2, modelDir)
    tables(Curation.readNbModel(spark, modelDir)) shouldBe tables(v2)
  }

  test("ivfPqIngest: streamed batches extend the persisted index; accumulation == monolithic build") {
    import graft.functions.Similarity
    def mkVec(i: Long): Array[Double] = {
      val c = (i % 8).toInt
      Array.tabulate(16) { d =>
        val base = if (d % 8 == c) 5.0 else 0.0
        base + ((i * 31 + d * 7) % 11 - 5) / 10.0
      }
    }
    val base = (0L until 160L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val dir  = tmpDir("ivfpq_ingest")
    Similarity.writeIvfPqIndex(base, "vec_id", "embedding", dir,
      dims = 16, numSub = 4, codesPerSub = 8, numCells = 8)

    val b0 = (160L until 180L).map(i => (i, mkVec(i)))
    val b1 = (180L until 200L).map(i => (i, mkVec(i)))
    val in = memStream[(Long, Array[Double])]
    val q = Pipelines.ivfPqIngest(
      in.toDF().toDF("vec_id", "embedding"), dir, tmpDir("ivfpq_ingest_ckpt")).start()
    try {
      in.addData(b0: _*)
      q.processAllAvailable()
      in.addData(b1: _*)
      q.processAllAvailable()
    } finally q.stop()

    // every vector indexed exactly once across base + streamed batches
    val codes = spark.read.parquet(s"$dir/codes")
    codes.count() shouldBe 200L
    codes.select("neighbor_id").distinct().count() shouldBe 200L

    // streamed rows are encoded bit-identically to a batch encode of the
    // union under the SAME model: the accumulated index equals a
    // monolithic index written from the union in one shot
    val union = (0L until 200L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val (localCn, books) = Similarity.readIndexModel(spark, dir)
    val dir2 = tmpDir("ivfpq_monolithic")
    spark.read.parquet(s"$dir/centroids").write.parquet(s"$dir2/centroids")
    spark.read.parquet(s"$dir/codebooks").write.parquet(s"$dir2/codebooks")
    Similarity.encodeWithModel(union, localCn, books, "vec_id", "embedding")
      .write.partitionBy("cell").parquet(s"$dir2/codes/batch=-1")
    Stores.writeMarker(spark, s"$dir2/codes/batch=-1", Similarity.ModelVersionMarker,
      Similarity.modelVersion(localCn, books))
    val qs = base.filter(col("vec_id") === 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val accumulated = Similarity.ivfPqAnnIndexed(qs, dir, "vec_id", "embedding",
      k = 5, nProbe = 2)
    rows(accumulated) shouldBe rows(
      Similarity.ivfPqAnnIndexed(qs, dir2, "vec_id", "embedding", k = 5, nProbe = 2))
    // cell pruning spans base and streamed partitions alike
    accumulated.queryExecution.executedPlan.toString should
      include regex "PartitionFilters: \\[[^\\]]*cell"

    // REPLAY SAFETY: re-encoding batch 0 against the same model
    // overwrites its own directory with identical rows (the overwrite
    // drops the version stamp with the rest of the directory, exactly
    // like a replayed trigger — restamped the same way ivfPqIngest does)
    Similarity.encodeWithModel(b0.toDF("vec_id", "embedding"), localCn, books,
      "vec_id", "embedding")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes/batch=0")
    Stores.writeMarker(spark, s"$dir/codes/batch=0", Similarity.ModelVersionMarker,
      Similarity.modelVersion(localCn, books))
    spark.read.parquet(s"$dir/codes").count() shouldBe 200L
    rows(Similarity.ivfPqAnnIndexed(qs, dir, "vec_id", "embedding",
      k = 5, nProbe = 2)) shouldBe rows(accumulated)
  }

  test("compactIvfPqIndex folds streamed batches into one file per cell; search identical, pruning preserved") {
    import graft.functions.Similarity
    def mkVec(i: Long): Array[Double] = {
      val c = (i % 8).toInt
      Array.tabulate(16) { d =>
        val base = if (d % 8 == c) 5.0 else 0.0
        base + ((i * 31 + d * 7) % 11 - 5) / 10.0
      }
    }
    val base = (0L until 160L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val dir  = tmpDir("ivfpq_compact")
    Similarity.writeIvfPqIndex(base, "vec_id", "embedding", dir,
      dims = 16, numSub = 4, codesPerSub = 8, numCells = 8)
    val in = memStream[(Long, Array[Double])]
    val q = Pipelines.ivfPqIngest(
      in.toDF().toDF("vec_id", "embedding"), dir, tmpDir("ivfpq_compact_ckpt")).start()
    try {
      in.addData((160L until 180L).map(i => (i, mkVec(i))): _*)
      q.processAllAvailable()
      in.addData((180L until 200L).map(i => (i, mkVec(i))): _*)
      q.processAllAvailable()
    } finally q.stop()

    def parquetFiles(p: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      walk(new java.io.File(p))
    }
    val qs = base.filter(col("vec_id") === 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val before      = rows(Similarity.ivfPqAnnIndexed(qs, dir, "vec_id", "embedding",
      k = 5, nProbe = 2))
    val filesBefore = parquetFiles(s"$dir/codes").size

    Similarity.compactIvfPqIndex(spark, dir)

    // search results identical, file count strictly down, rows intact
    val after = Similarity.ivfPqAnnIndexed(qs, dir, "vec_id", "embedding",
      k = 5, nProbe = 2)
    rows(after) shouldBe before
    val filesAfter = parquetFiles(s"$dir/codes").size
    filesAfter should be < filesBefore
    spark.read.parquet(s"$dir/codes").count() shouldBe 200L
    // one file per cell, all under the single base batch
    new java.io.File(s"$dir/codes").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet shouldBe Set("batch=-1")
    val cellDirs = new java.io.File(s"$dir/codes/batch=-1").listFiles()
      .filter(_.getName.startsWith("cell=")).toSeq
    cellDirs.size shouldBe 8
    cellDirs.foreach { d =>
      withClue(s"${d.getName}: ") {
        d.listFiles().count(_.getName.endsWith(".parquet")) shouldBe 1
      }
    }
    // the probed-cell predicate still prunes partitions after the swap
    after.queryExecution.executedPlan.toString should
      include regex "PartitionFilters: \\[[^\\]]*cell"
  }

  test("compactIvfPqIndex: a swap cut between its renames is rolled back; no temp is left behind") {
    import graft.functions.{Similarity, Stores}
    def mkVec(i: Long): Array[Double] = {
      val c = (i % 8).toInt
      Array.tabulate(16) { d =>
        val base = if (d % 8 == c) 5.0 else 0.0
        base + ((i * 31 + d * 7) % 11 - 5) / 10.0
      }
    }
    val base = (0L until 160L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val dir = tmpDir("ivfpq_swap")
    Similarity.writeIvfPqIndex(base, "vec_id", "embedding", dir,
      dims = 16, numSub = 4, codesPerSub = 8, numCells = 8)
    val (localCn, books) = Similarity.readIndexModel(spark, dir)
    Stores.publishBatch(spark, s"$dir/codes", 0L) { tmp =>
      Similarity.encodeWithModel(
        (160L until 200L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding"),
        localCn, books, "vec_id", "embedding")
        .write.partitionBy("cell").parquet(tmp)
      Stores.writeMarker(spark, tmp, Similarity.ModelVersionMarker,
        Similarity.modelVersion(localCn, books))
    } shouldBe true
    val qs = base.filter(col("vec_id") === 8)
    def rows() = Similarity.ivfPqAnnIndexed(qs, dir, "vec_id", "embedding", k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val before = rows()
    def leftovers() = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("_tmp_") || n.startsWith("codes_compacting")).toSet

    // a compaction killed between its two renames: codes/ is aside, and
    // the killed fold's half-written temp is still there
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sessionState.newHadoopConf())
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/codes"),
      new org.apache.hadoop.fs.Path(s"$dir/_tmp_codes.old")) shouldBe true
    Seq((1L, 2L)).toDF("neighbor_id", "cell").write.parquet(s"$dir/_tmp_codes/batch=-1")

    Similarity.compactIvfPqIndex(spark, dir)
    rows() shouldBe before
    spark.read.parquet(s"$dir/codes").count() shouldBe 200L
    new java.io.File(s"$dir/codes").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet shouldBe Set("batch=-1")
    leftovers() shouldBe empty

    // a clean compaction and a retrain leave no temp either
    Similarity.compactIvfPqIndex(spark, dir)
    Similarity.writeIvfPqIndex(base, "vec_id", "embedding", dir,
      dims = 16, numSub = 4, codesPerSub = 8, numCells = 8)
    leftovers() shouldBe empty
  }

  test("retrain drops streamed lists; a raced stale batch is refused by version stamp") {
    import graft.functions.Similarity
    def mkVec(i: Long, flip: Boolean): Array[Double] = {
      val c = (i % 8).toInt
      Array.tabulate(16) { d =>
        val base = if (d % 8 == c) (if (flip) -5.0 else 5.0) else 0.0
        base + ((i * 31 + d * 7) % 11 - 5) / 10.0
      }
    }
    val base = (0L until 160L).map(i => (i, mkVec(i, flip = false)))
      .toDF("vec_id", "embedding")
    val dir = tmpDir("ivfpq_retrain")
    Similarity.writeIvfPqIndex(base, "vec_id", "embedding", dir,
      dims = 16, numSub = 4, codesPerSub = 8, numCells = 8)
    val (oldCn, oldBooks) = Similarity.readIndexModel(spark, dir)
    // a streamed batch encoded under the CURRENT model
    Similarity.encodeWithModel(
      (160L until 180L).map(i => (i, mkVec(i, flip = false)))
        .toDF("vec_id", "embedding"), oldCn, oldBooks, "vec_id", "embedding")
      .write.partitionBy("cell").parquet(s"$dir/codes/batch=0")
    Stores.writeMarker(spark, s"$dir/codes/batch=0", Similarity.ModelVersionMarker,
      Similarity.modelVersion(oldCn, oldBooks))

    // RETRAIN on different data -> different model, codes/ tree rebuilt:
    // the streamed batch from the old model must be GONE, not silently
    // scored against the new model (ADVICE r8 medium)
    val retrained = (0L until 160L).map(i => (i, mkVec(i, flip = true)))
      .toDF("vec_id", "embedding")
    Similarity.writeIvfPqIndex(retrained, "vec_id", "embedding", dir,
      dims = 16, numSub = 4, codesPerSub = 8, numCells = 8)
    new java.io.File(s"$dir/codes").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet shouldBe Set("batch=-1")
    val (newCn, newBooks) = Similarity.readIndexModel(spark, dir)
    Similarity.modelVersion(newCn, newBooks) should not be
      Similarity.modelVersion(oldCn, oldBooks)

    // an ingest that raced the retrain: stale-model batch lands AFTER
    // the clear — search and compaction both refuse it loudly
    Similarity.encodeWithModel(
      (160L until 180L).map(i => (i, mkVec(i, flip = false)))
        .toDF("vec_id", "embedding"), oldCn, oldBooks, "vec_id", "embedding")
      .write.partitionBy("cell").parquet(s"$dir/codes/batch=1")
    Stores.writeMarker(spark, s"$dir/codes/batch=1", Similarity.ModelVersionMarker,
      Similarity.modelVersion(oldCn, oldBooks))
    val qs = retrained.filter(col("vec_id") === 8)
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfPqAnnIndexed(qs, dir, "vec_id", "embedding", k = 5, nProbe = 2)
        .collect()
    }
    ex.getMessage should include("superseded")
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.compactIvfPqIndex(spark, dir)
    }
    ex2.getMessage should include("superseded")
  }

  test("semantic-dedup index: build/append/incremental decisions, replay no-op, stale-model refusal") {
    import graft.functions.Similarity
    def mkVec(i: Long): Array[Double] = {
      val c = (i % 8).toInt
      Array.tabulate(16) { d =>
        val base = if (d % 8 == c) 5.0 else 0.0
        base + ((i * 31 + d * 7) % 11 - 5) / 10.0
      }
    }
    // md5-sign directions no axis cluster (or other tag) approaches:
    // pairwise cos ≤ 0.5 and ≤ 0.36 against every cluster member — the
    // only pairs clearing τ = 0.99 are the planted scaled copies
    def dirVec(tag: String): Array[Double] = Array.tabulate(16) { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$tag:$d".getBytes("UTF-8")).head
      if ((h & 1) == 0) 4.0 else -4.0
    }
    val corpus = ((0L until 120L).filter(_ != 5L).map(i => (i, mkVec(i))) :+
      (5L -> dirVec("ca"))).toDF("vec_id", "embedding")
    val dir = tmpDir("semidx")
    Similarity.writeSemanticIndex(corpus, "vec_id", "embedding", dir, dims = 16)
    // appended ingest batch (priors for later batches)
    val b0 = (200L until 220L).map(i =>
      (i, if (i == 205L) dirVec("cb") else mkVec(i)))
    Similarity.appendSemanticBatch(spark, dir,
      b0.toDF("vec_id", "embedding"), "vec_id", "embedding",
      batchId = 0L) shouldBe true
    // REPLAY: same batch id again is a no-op, rows not doubled
    Similarity.appendSemanticBatch(spark, dir,
      b0.toDF("vec_id", "embedding"), "vec_id", "embedding",
      batchId = 0L) shouldBe false
    spark.read.parquet(s"$dir/assign").count() shouldBe 140L

    // incremental batch: a copy of a CORPUS vector, a copy of an
    // APPENDED-batch vector, a novel direction, and a copy of the novel
    // batch-mate — decisions must route to the right smaller id
    val b1 = Seq(
      300L -> dirVec("ca").map(_ * 1.01),
      301L -> dirVec("cb").map(_ * 1.01),
      302L -> dirVec("cc"),
      303L -> dirVec("cc").map(_ * 1.01))
    val out = Similarity.semanticDedupIncremental(spark, dir,
        b1.toDF("vec_id", "embedding"), "vec_id", "embedding",
        threshold = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    out(300L) shouldBe (5L, false)
    out(301L) shouldBe (205L, false)
    out(302L) shouldBe (-1L, true)
    out(303L) shouldBe (302L, false)

    // RETRAIN drops the assign/ tree (old-model batches are meaningless
    // against new cells); a stale batch landing AFTER the clear (ingest
    // raced the retrain) is refused by both the reader and the appender
    val retrained = (0L until 120L).map(i => (i, mkVec(i + 7L)))
      .toDF("vec_id", "embedding")
    val oldCn = Similarity.readSemanticModel(spark, dir)
    Similarity.writeSemanticIndex(retrained, "vec_id", "embedding", dir, dims = 16)
    new java.io.File(s"$dir/assign").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet shouldBe Set("batch=-1")
    Similarity.centroidVersion(Similarity.readSemanticModel(spark, dir)) should not be
      Similarity.centroidVersion(oldCn)
    Similarity.assignWithModel(b0.toDF("vec_id", "embedding"),
        "vec_id", "embedding", oldCn)
      .repartition(col("cell"))
      .write.partitionBy("cell").parquet(s"$dir/assign/batch=1")
    Stores.writeMarker(spark, s"$dir/assign/batch=1", Similarity.ModelVersionMarker,
      Similarity.centroidVersion(oldCn))
    val ex = intercept[IllegalArgumentException] {
      Similarity.semanticDedupIncremental(spark, dir,
        b1.toDF("vec_id", "embedding"), "vec_id", "embedding",
        threshold = 0.99).collect()
    }
    ex.getMessage should include("superseded")
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.appendSemanticBatch(spark, dir,
        b1.toDF("vec_id", "embedding"), "vec_id", "embedding", batchId = 2L)
    }
    ex2.getMessage should include("superseded")
  }

  test("semantic-dedup index: append-only id discipline enforced; replay still a no-op") {
    import graft.functions.Similarity
    def v(i: Long): Array[Double] =
      Array.tabulate(16)(d => ((i * 31 + d * 7) % 11 - 5) / 10.0 +
        (if (d % 8 == (i % 8).toInt) 5.0 else 0.0))
    val dir = tmpDir("semidx_ids")
    Similarity.writeSemanticIndex(
      (0L until 50L).map(i => (i, v(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir, dims = 16)
    Similarity.appendSemanticBatch(spark, dir,
      (100L until 120L).map(i => (i, v(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", batchId = 0L) shouldBe true
    // a batch reaching BELOW the indexed ids breaks the incremental ==
    // full-recompute equivalence (an indexed vector can never be marked
    // dup of a batch vector) — refused by appender and reader alike
    val low = Seq(10L -> v(10L), 200L -> v(200L)).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.appendSemanticBatch(spark, dir, low,
        "vec_id", "embedding", batchId = 1L)
    }
    e1.getMessage should include("append-only")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.semanticDedupIncremental(spark, dir, low,
        "vec_id", "embedding", threshold = 0.99)
    }
    e2.getMessage should include("append-only")
    // id 119 == the appended max is also refused (must be STRICTLY above)
    val eq = Seq(119L -> v(119L)).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.semanticDedupIncremental(spark, dir, eq,
        "vec_id", "embedding", threshold = 0.99)
    }.getMessage should include("append-only")
    // a REPLAY of batch 0 no-ops (false) instead of tripping the guard
    // on its own already-indexed ids
    Similarity.appendSemanticBatch(spark, dir,
      (100L until 120L).map(i => (i, v(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", batchId = 0L) shouldBe false
    // strictly-above batches still flow
    Similarity.semanticDedupIncremental(spark, dir,
      Seq(300L -> v(300L)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", threshold = 0.99)
      .count() shouldBe 1L
  }

  test("embedDedupIngest: vectors classify against the growing SRP index") {
    val in = memStream[(Long, Array[Double])]
    val state = tmpDir("embdedup_state")
    def unit(axis: Int, scale: Double = 1.0): Array[Double] =
      Array.tabulate(8)(d => if (d == axis) scale else 0.0)
    val q = Pipelines
      .embedDedupIngest(
        in.toDF().toDF("vec_id", "embedding"), state, tmpDir("embdedup_ckpt"),
        dims = 8, threshold = 0.9, bitsPerBand = 8, numBands = 4)
      .start()
    try {
      in.addData((1L, unit(0)), (2L, unit(1)))
      q.processAllAvailable()
      // batch 0: empty corpus — everything is new
      val d0 = spark.read.parquet(s"$state/decisions/batch=0")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      d0 shouldBe Map(1L -> ("new", -1L), 2L -> ("new", -1L))

      in.addData(
        (3L, unit(0, 0.7)), // same direction as vec 1 (cos = 1) -> near
        (4L, unit(2)))      // orthogonal to the corpus -> new
      q.processAllAvailable()
      val d1 = spark.read.parquet(s"$state/decisions/batch=1")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      d1(3L) shouldBe ("near", 1L)
      d1(4L) shouldBe ("new", -1L)
      // only accepted vectors joined the index — the rejected near-dup
      // never pollutes the corpus
      val indexed = spark.read.parquet(s"$state/vecs")
        .select("cid").collect().map(_.getLong(0)).toSet
      indexed shouldBe Set(1L, 2L, 4L)
    } finally q.stop()
  }

  test("sessionsStateful: flatMapGroupsWithState closes sessions on gap and watermark") {
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val in = memStream[(String, java.sql.Timestamp)]
    val sessions = Pipelines.sessionsStateful(
      in.toDS().withWatermark("_2", "0 seconds"), gapMinutes = 5)
    val q = sessions.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sessions_out")
      .start()
    try {
      // u1: two events 60s apart (one session); u2: one event.
      // (start at t=1: an event exactly AT the initial watermark of 0
      // is dropped as late before the stateful operator)
      in.addData(("u1", t(1)), ("u1", t(61)), ("u2", t(30)))
      q.processAllAvailable()
      spark.table("sessions_out").count() shouldBe 0L // nothing closed yet

      // an event far in the future advances the watermark past both
      // open sessions' last-event + gap; u1 also opens a new session
      in.addData(("u1", t(10000)))
      q.processAllAvailable()
      // timeouts fire on the NEXT batch after the watermark advances;
      // push one empty-ish batch to collect them
      in.addData(("u3", t(10001)))
      q.processAllAvailable()
      val closed = spark.table("sessions_out").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000,
          r.getTimestamp(2).getTime / 1000, r.getLong(3))).toSet
      closed should contain(("u1", 1L, 61L, 2L))
      closed should contain(("u2", 30L, 30L, 1L))
      // the in-flight u1/u3 sessions are still open, not emitted
      closed.map(_._1) should not contain "u3"
    } finally q.stop()
  }

  test("compactArchive: per-batch small files become date partitions, row-for-row") {
    val src = tmpDir("arch_src"); val dst = tmpDir("arch_dst")
    def ts(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    val batches = Seq(
      Seq(("a", ts(1, 1)), ("b", ts(1, 2))),
      Seq(("c", ts(1, 3)), ("d", ts(2, 1))),
      Seq(("e", ts(2, 2))))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("app_id", "timestamp").repartition(2)
        .write.mode("overwrite").parquet(s"$src/batch=$i")
    }
    // a publish that died before its rename leaves a hidden temp dir
    // beside the committed batches: spark.read.parquet skips it, and so
    // must the file count
    Seq(("z", ts(3, 1))).toDF("app_id", "timestamp").coalesce(1)
      .write.mode("overwrite").parquet(s"$src/_tmp_batch_9")
    val (rows, before, after) = Sinks.compactArchive(spark, src, dst, "timestamp")
    rows shouldBe 5L
    before shouldBe 6L // 3 batches x 2 shuffle lanes, no temp files
    after should be < before
    val out = spark.read.parquet(dst)
    out.count() shouldBe 5L
    out.select("app_id").collect().map(_.getString(0)).toSet shouldBe
      Set("a", "b", "c", "d", "e")
    // the compacted layout partition-prunes on the derived date
    out.filter(col("event_date") === "2024-01-02").count() shouldBe 2L
  }

  test("compactArchive: salt lanes spread each date over >1 writer task; no separate count job") {
    val src = tmpDir("arch_src_lanes"); val dst = tmpDir("arch_dst_lanes")
    def ts(day: Int, i: Int) =
      java.sql.Timestamp.valueOf(f"2024-02-$day%02d ${i % 24}%02d:00:00")
    // 2 dates x 40 rows — enough that 4 hash lanes per date all populate
    val rows = (0 until 80).map(i => (s"app$i", ts(1 + i % 2, i / 2)))
    rows.toDF("app_id", "timestamp").repartition(4)
      .write.mode("overwrite").parquet(s"$src/batch=0")

    // watch Spark jobs during the call: the row count must come from an
    // .observe() on the write job, not a separate full-scan count action
    val jobSites = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobSites.add(Option(js.properties.getProperty("callSite.short")).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    val (n, _, _) =
      try {
        val r = Sinks.compactArchive(spark, src, dst, "timestamp", lanesPerDate = 4)
        // listener delivery is async; wait until the job-start count settles
        var last = -1
        var spins = 0
        while (jobSites.size() != last && spins < 50) {
          last = jobSites.size(); Thread.sleep(100); spins += 1
        }
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    n shouldBe 80L

    // lanesPerDate=4 must yield one file per populated (date, lane) — i.e.
    // >1 writer task touched EACH date. The old repartition(lanes, date)
    // plan produced `lanes` tasks in total and one task per hot date.
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("2024-02-01", "2024-02-02").foreach { d =>
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dst/event_date=$d"))
        .map(_.getPath.getName).filterNot(nm => nm.startsWith("_") || nm.startsWith("."))
      withClue(s"files for $d: ") { files.length should be > 1 }
    }
    // no job may be a count action — the old implementation ran
    // `dated.count()` as an independent full read before the write
    import scala.jdk.CollectionConverters._
    val sites = jobSites.asScala.toList
    withClue(s"job callsites $sites: ") {
      sites.filter(_.startsWith("count")) shouldBe empty
    }
    spark.read.parquet(dst).count() shouldBe 80L
  }

  test("writeCorpusRelease: partitioned layout, per-file row cap, prunable, row parity") {
    val dst = tmpDir("release")
    val docs = (0 until 400).map { i =>
      (i.toLong, s"doc body $i", if (i % 2 == 0) "en" else "de", s"src${i % 3}")
    }.toDF("doc_id", "text", "lang", "source")
    val (rows, files) = Sinks.writeCorpusRelease(
      docs, dst, Seq("lang", "source"), lanesPerPartition = 2,
      maxRecordsPerFile = 50)
    rows shouldBe 400L
    // 6 (lang, source) combos x 2 lanes, each lane further split by the
    // 50-row cap (400/6 ≈ 67 per combo, ~34 per lane → 1 file each, but
    // never fewer than one file per non-empty lane)
    files should be >= 12L
    val out = spark.read.parquet(dst)
    out.count() shouldBe 400L
    out.columns.toSet shouldBe Set("doc_id", "text", "lang", "source")
    // partition pruning reaches the file listing
    val pruned = out.filter(col("lang") === "en" && col("source") === "src0")
    pruned.count() shouldBe docs
      .filter(col("lang") === "en" && col("source") === "src0").count()
    val planStr = pruned.queryExecution.executedPlan.toString
    planStr should include("PartitionFilters")
    // no parquet data file exceeds the record cap
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(dst), true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        spark.read.parquet(f.getPath.toString).count() should be <= 50L
      }
    }
  }

  test("sessionsStateful on a batch Dataset closes everything (Kappa replay parity)") {
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // batch execution has no watermark: all sessions are final
    val events = Seq(
      ("u1", t(1)), ("u1", t(61)), ("u1", t(10000)), // gap splits u1 in two
      ("u2", t(30))).toDS()
    val got = Pipelines.sessionsStateful(events, gapMinutes = 5)
      .collect()
      .map(r => (r.key, r.session_start.getTime / 1000,
        r.session_end.getTime / 1000, r.n_events)).toSet
    got shouldBe Set(
      ("u1", 1L, 61L, 2L), ("u1", 10000L, 10000L, 1L), ("u2", 30L, 30L, 1L))
  }

  test("batch sessionsStateful == declarative session_window on random events") {
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val rnd = new scala.util.Random(23)
    val events = (1 to 400).map(_ =>
      (s"u${rnd.nextInt(6)}", t(rnd.nextInt(5000).toLong)))
    val gapMin = 5
    // sorted Seq, not Set: a duplicate emission must fail, not collapse
    val custom = Pipelines.sessionsStateful(events.toDS(), gapMin)
      .collect()
      .map(r => (r.key, r.session_start.getTime / 1000,
        // session_window's end is last event + gap
        r.session_end.getTime / 1000 + gapMin * 60L, r.n_events))
      .sorted.toSeq
    val declarative = events.toDF("key", "ts")
      .groupBy(col("key"), session_window(col("ts"), s"$gapMin minutes"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0),
        r.getStruct(1).getTimestamp(0).getTime / 1000,
        r.getStruct(1).getTimestamp(1).getTime / 1000,
        r.getLong(2)))
      .sorted.toSeq
    custom shouldBe declarative
  }
}

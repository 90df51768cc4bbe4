package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{Pipelines, Sinks, Sources}

/** End-to-end lifecycle harness — the engine analog of the reference's
  * `test/test-e2e-pipeline.ps1:190-295` (pods → topics → drivers →
  * counts), run in-process: produce JSON-lines "topics" on disk, stream
  * all three reference pipelines (reviews / charts / players) through
  * BOTH branches each — cold parquet archive + hot complete-mode table —
  * then assert the ps1's checklist: cold files exist with the right rows
  * ("HDFS Cold Storage"), hot tables have documents ("MongoDB Hot
  * Storage"), a serving query answers from the hot table, and the Kappa
  * batch replay of the cold archive reproduces the hot aggregate.
  *
  * The per-component specs (StreamingSpec) pin strictly more semantics;
  * this suite pins the LIFECYCLE — every stage wired together at once,
  * one file-backed source per topic standing in for the three Kafka
  * consumers (Sources.jsonLines is the documented A1 stand-in; the
  * Kafka option surface itself is contract-tested separately).
  */
class E2ESpec extends SparkSpec {

  private def reviewJson(app: String, id: String, rec: Boolean, score: Double, epoch: Long) =
    s"""{"app_id":"$app","review_id":"$id","author_steamid":"s","language":"en",
       |"voted_up":$rec,"votes_up":1,"weighted_vote_score":$score,
       |"timestamp_created":$epoch,"review_text":"x","scraped_at":"2024"}"""
      .stripMargin.replace("\n", "")

  test("e2e lifecycle: produce → 3 pipelines × 2 branches → cold + hot → serve → replay") {
    // [producer] three "topics" as JSON-lines files (reference topic names)
    val topics = tmpDir("e2e_topics")
    def topic(name: String, lines: Seq[String]): String = {
      val d = new java.io.File(s"$topics/$name"); d.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$topics/$name/part-0.jsonl"),
        lines.mkString("\n").getBytes("UTF-8"))
      d.toString
    }
    val base = 1700000000L // 2023-11-14
    val reviewsTopic = topic("game_comments", Seq(
      reviewJson("10", "r1", rec = true, 0.9, base),
      reviewJson("10", "r2", rec = true, 0.8, base + 60),
      reviewJson("10", "r3", rec = false, 0.2, base + 120),
      reviewJson("20", "r4", rec = false, 0.1, base + 180),
      reviewJson("20", "r5", rec = false, 0.3, base + 240),
      reviewJson("20", "r6", rec = true, 0.7, base + 300)))
    val chartsTopic = topic("game_info", Seq(
      """{"name":"A","appid":10,"type":"game","genres":["Action","Indie"],"timestamp_scraped":"2024-01-01T00:00:00"}""",
      """{"name":"B","appid":20,"type":"game","genres":["Action"],"timestamp_scraped":"2024-01-01T00:00:00"}""",
      """{"name":"C","appid":30,"type":"game","genres":["RPG"],"timestamp_scraped":"2024-01-01T00:00:00"}"""))
    val playersTopic = topic("game_player_count", Seq(
      """{"appid":10,"player_count":100,"timestamp":"2024-01-01T00:01:00"}""",
      """{"appid":10,"player_count":900,"timestamp":"2024-01-01T00:02:00"}""",
      """{"appid":20,"player_count":50,"timestamp":"2024-01-01T00:03:00"}""",
      """{"appid":20,"player_count":70,"timestamp":"2024-01-01T00:14:00"}"""))

    // [drivers] three pipelines, each cold + hot — six StreamingQueries,
    // exactly the reference's job topology (3 apps × archive + Mongo sink)
    val (rCold, rHot, _) = Pipelines.reviewBranches(
      Sources.jsonLines(spark, reviewsTopic))
    val (cCold, cHot) = Pipelines.chartBranches(
      Sources.jsonLines(spark, chartsTopic))
    val (pCold, pHot) = Pipelines.playerBranches(
      Sources.jsonLines(spark, playersTopic))

    val arcReviews = tmpDir("e2e_arc_reviews")
    val arcCharts  = tmpDir("e2e_arc_charts")
    val arcPlayers = tmpDir("e2e_arc_players")
    val queries = Seq(
      Sinks.parquetArchive(rCold, arcReviews, tmpDir("ck1"), Trigger.ProcessingTime(0)).start(),
      Sinks.parquetArchive(cCold, arcCharts, tmpDir("ck2"), Trigger.ProcessingTime(0)).start(),
      Sinks.parquetArchive(pCold, arcPlayers, tmpDir("ck3"), Trigger.ProcessingTime(0)).start(),
      Sinks.completeToMemory(rHot, "e2e_reviews_hot").start(),
      Sinks.completeToMemory(cHot, "e2e_charts_hot").start(),
      Sinks.completeToMemory(pHot, "e2e_players_hot").start())
    try {
      queries.foreach(_.processAllAvailable())

      // [HDFS Cold Storage] parquet files exist and carry every produced row
      def files(dir: String) =
        new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
      files(arcReviews) should be > 0
      files(arcCharts) should be > 0
      files(arcPlayers) should be > 0
      spark.read.parquet(arcReviews).count() shouldBe 6
      spark.read.parquet(arcCharts).count() shouldBe 3
      spark.read.parquet(arcPlayers).count() shouldBe 4

      // [MongoDB Hot Storage] countDocuments > 0 per collection, and the
      // aggregates are right, not just present
      val genreCounts = spark.table("e2e_charts_hot").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      genreCounts shouldBe Map("Action" -> 2L, "Indie" -> 1L, "RPG" -> 1L)

      val sentiment = spark.table("e2e_reviews_hot")
      sentiment.count() should be > 0L
      // one 1-h window, recommended=true → 3 reviews, false → 3
      sentiment.select(col("recommended"), col("total_reviews")).collect()
        .map(r => r.getBoolean(0) -> r.getLong(1)).toMap shouldBe
        Map(true -> 3L, false -> 3L)

      val players = spark.table("e2e_players_hot")
      players.count() shouldBe 3 // (10, w1), (20, w1), (20, w2)
      players.filter(col("appid") === 10)
        .select(max(col("max_players"))).collect().head.getInt(0) shouldBe 900

      // [serve] demo-query shape from the hot table: per-app peak top-k
      // (D1 re-aggregation + D2 top-k, demo-queries.js:98-110)
      val peaks = graft.operators.Serving.reAggregate(
        players.select(col("appid"), col("max_players")),
        Seq("appid"), Seq(max(col("max_players")).as("peak")))
      val top = graft.operators.Serving.topK(peaks, 1, col("peak").desc).collect()
      top.head.getAs[Int]("appid") shouldBe 10
      top.head.getAs[Int]("peak") shouldBe 900

      // [Kappa replay] batch read of the cold archive reproduces the hot
      // sentiment aggregate bit-for-bit
      val replayed = graft.operators.SteamOps.sentimentAgg(spark.read.parquet(arcReviews))
      val hotRows = sentiment
        .select(col("window.start"), col("recommended"), col("total_reviews"), col("avg_quality"))
        .collect().map(_.toSeq).toSet
      val replayRows = replayed
        .select(col("window.start"), col("recommended"), col("total_reviews"), col("avg_quality"))
        .collect().map(_.toSeq).toSet
      replayRows shouldBe hotRows
    } finally queries.foreach(_.stop())
  }
}

package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.model.SteamModel
import graft.operators.SteamOps

/** Batch-side specs for the reference transforms (SURVEY.md §2.B/C),
  * including the schema-permissiveness and dual-timestamp semantics called
  * out as risks in SURVEY.md §7.4.
  */
class SteamOpsSpec extends SparkSpec {
  import spark.implicits._

  // A full 12-field producer-shaped record (extra fields beyond the
  // declared 10-field schema) — parseReviews must silently drop extras.
  private val fullReview =
    """{"app_id":"730","review_id":"r1","author_steamid":"s1",
      |"language":"english","voted_up":true,"votes_up":3,
      |"weighted_vote_score":0.75,"timestamp_created":1700000000,
      |"review_text":"good game","scraped_at":"2024-01-01T00:00:00",
      |"author_playtime":123,"steam_purchase":true}""".stripMargin.replace("\n", "")

  test("parseReviews: permissive parse drops extra fields, casts epoch seconds") {
    val df  = Seq(fullReview).toDF("value")
    val out = SteamOps.parseReviews(df).collect().head
    out.getAs[String]("app_id") shouldBe "730"
    out.getAs[Boolean]("recommended") shouldBe true
    out.getAs[java.sql.Timestamp]("timestamp").toInstant.getEpochSecond shouldBe 1700000000L
    SteamOps.parseReviews(df).columns should not contain "author_playtime"
  }

  test("parseReviews: missing fields become null, malformed JSON becomes null row") {
    val df = Seq("""{"app_id":"10"}""", "not json at all").toDF("value")
    val rows = SteamOps.parseReviews(df).collect()
    rows(0).getAs[String]("app_id") shouldBe "10"
    rows(0).isNullAt(rows(0).fieldIndex("recommended")) shouldBe true
    rows(1).isNullAt(rows(1).fieldIndex("app_id")) shouldBe true
  }

  test("parseCharts/parsePlayers: ISO-8601 string timestamp cast") {
    val charts = Seq(
      """{"name":"CS2","appid":730,"type":"game","genres":["Action","FPS"],"timestamp_scraped":"2024-03-01T12:30:00"}""")
      .toDF("value")
    val c = SteamOps.parseCharts(charts).collect().head
    c.getAs[Seq[String]]("genres") shouldBe Seq("Action", "FPS")
    c.getAs[java.sql.Timestamp]("timestamp").toString shouldBe "2024-03-01 12:30:00.0"

    val players = Seq("""{"appid":570,"player_count":999,"timestamp":"2024-03-01T00:10:00"}""")
      .toDF("value")
    SteamOps.parsePlayers(players).collect().head.getAs[Int]("player_count") shouldBe 999
  }

  private def review(app: String, rec: Boolean, score: Float, epoch: Long) =
    (app, s"r$epoch", "s", "en", rec, 1, score, new java.sql.Timestamp(epoch * 1000), "t")

  private def reviewsDf(rows: Seq[(String, String, String, String, Boolean, Int, Float, java.sql.Timestamp, String)]) =
    rows.toDF("app_id", "review_id", "author_steamid", "language", "recommended",
      "votes_up", "weighted_vote_score", "timestamp", "review_text")

  test("sentimentAgg: 1-hour tumbling window, count + avg per (window, recommended)") {
    val base = 1700000000L // falls inside some UTC hour
    val df = reviewsDf(Seq(
      review("1", true, 0.8f, base),
      review("1", true, 0.4f, base + 60),        // same hour, same flag
      review("1", false, 0.2f, base + 120),      // same hour, other flag
      review("1", true, 1.0f, base + 3700)))     // next hour
    val out = SteamOps.sentimentAgg(df)
      .select(col("window.start"), col("recommended"), col("total_reviews"), col("avg_quality"))
      .collect()
      .map(r => (r.getTimestamp(0).toInstant.getEpochSecond, r.getBoolean(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val hour = base - base % 3600
    out shouldBe Set(
      (hour, true, 2L, 0.6000000089406967),  // avg of float32 0.8, 0.4 in f64
      (hour, false, 1L, 0.20000000298023224),
      (hour + 3600, true, 1L, 1.0))
  }

  test("reviewBombAgg: lifetime totals, ratios, strict >0.8 && >10 flag") {
    // exactly 10 negative reviews of 12 → ratio 0.833 but total>10 → bomb
    val bombRows  = (1 to 10).map(i => review("b", false, 0.1f, 1000L + i)) ++
      Seq(review("b", true, 0.9f, 2000L), review("b", true, 0.9f, 2001L))
    // 0.8 exactly (8/10) and total 10 → NOT a bomb (strict comparisons)
    val edgeRows = (1 to 8).map(i => review("e", false, 0.5f, 3000L + i)) ++
      (1 to 2).map(i => review("e", true, 0.5f, 4000L + i))
    val out = SteamOps.reviewBombAgg(reviewsDf(bombRows ++ edgeRows))
      .collect().map(r => r.getAs[String]("app_id") -> r).toMap
    out("b").getAs[Long]("total_reviews") shouldBe 12
    out("b").getAs[Long]("negative_count") shouldBe 10
    out("b").getAs[Boolean]("is_review_bomb") shouldBe true
    out("e").getAs[Double]("negative_ratio") shouldBe 0.8
    out("e").getAs[Boolean]("is_review_bomb") shouldBe false
  }

  test("genreCount: explode semantics — null/empty arrays produce no rows") {
    val df = Seq(
      (Some(Seq("Action", "Indie")), 1),
      (Some(Seq("Action")), 2),
      (Some(Seq.empty[String]), 3),
      (None: Option[Seq[String]], 4)).toDF("genres", "n")
    val out = SteamOps.genreCount(df).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out shouldBe Map("Action" -> 2L, "Indie" -> 1L)
  }

  test("A5: the reference's offline CSV samples feed the same hot-path aggs") {
    import graft.streaming.Sources
    val base = "/root/reference/inputs"
    assume(new java.io.File(s"$base/charts/steamcharts_24h.csv").exists,
      "reference checkout not present")

    val reviews =
      Sources.reviewsCsv(spark, s"$base/reviews/steam_reviews_730.csv", "730")
    val n = reviews.count()
    n should be > 100L // 291 file lines, fewer logical rows (multiline text)
    reviews.filter(col("timestamp").isNull).count() shouldBe 0

    val bombs = SteamOps.reviewBombAgg(reviews).collect()
    bombs should have length 1 // one app per file (appid from filename)
    bombs.head.getAs[Long]("total_reviews") shouldBe n

    val sent = SteamOps.sentimentAgg(reviews)
    sent.columns should contain allOf
      ("window", "recommended", "total_reviews", "avg_quality")
    sent.agg(sum(col("total_reviews"))).collect().head.getLong(0) shouldBe n

    val charts = Sources.chartsCsv(spark, s"$base/charts/steamcharts_24h.csv")
    charts.count() shouldBe 2578
    val pw = SteamOps.playerWindowAgg(charts)
    pw.filter(col("max_players") < col("avg_players")).count() shouldBe 0
    pw.count() should be <= 2578L
  }

  test("playerWindowAgg: 10-minute windows, max + avg") {
    val t0 = 1700000000L - 1700000000L % 600 // window-aligned
    val df = Seq(
      (730, 100, new java.sql.Timestamp(t0 * 1000)),
      (730, 300, new java.sql.Timestamp((t0 + 59) * 1000)),
      (730, 200, new java.sql.Timestamp((t0 + 600) * 1000)))
      .toDF("appid", "player_count", "timestamp")
    val out = SteamOps.playerWindowAgg(df)
      .select(col("window.start"), col("appid"), col("max_players"), col("avg_players"))
      .collect()
      .map(r => (r.getTimestamp(0).toInstant.getEpochSecond, r.getInt(2), r.getDouble(3)))
      .toSet
    out shouldBe Set((t0, 300, 200.0), (t0 + 600, 200, 200.0))
  }

  test("declared hot schemas match the aggregates that fill them (names and types)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types._
    // nullability and metadata are not part of the serving contract
    def shape(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, shape(f.dataType))))
      case a: ArrayType => ArrayType(shape(a.elementType))
      case other => other
    }
    def check(declared: StructType, produced: DataFrame*): Unit =
      produced.foreach(df => shape(df.schema) shouldBe shape(declared))
    val none = Seq.empty[String].toDF("value")
    val reviews = SteamOps.parseReviews(none)
    check(SteamModel.SteamReviewsHot,
      SteamOps.sentimentAgg(reviews),
      SteamOps.sentimentFromPartials(SteamOps.sentimentAggPartial(reviews)))
    check(SteamModel.ReviewBombAlerts,
      SteamOps.reviewBombAgg(reviews),
      SteamOps.reviewBombFromPartials(SteamOps.reviewBombAggPartial(reviews)))
    check(SteamModel.SteamChartsHot, SteamOps.genreCount(SteamOps.parseCharts(none)))
    check(SteamModel.SteamPlayersHot,
      SteamOps.playerWindowAgg(SteamOps.parsePlayers(none)))
  }
}

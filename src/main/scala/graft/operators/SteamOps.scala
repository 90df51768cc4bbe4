package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.SteamModel._

/** The reference's three streaming jobs as PURE transforms
  * `DataFrame => DataFrame` — the same function runs under Structured
  * Streaming (Kafka / MemoryStream input) and batch (parquet archive /
  * CSV fixtures), which is what makes the reference's Kappa claim
  * (reference: README.md:35-42) actually testable.
  *
  * Each transform cites the reference lines it reproduces
  * (k8s/spark-apps/kafka-spark-configmap.yaml, "configmap" below).
  */
object SteamOps {

  /** Kafka-shaped input (`value: binary|string`) → parsed struct column,
    * permissive mode: extra JSON fields dropped, missing → null
    * (configmap:58, 169, 250; B1+B2).
    */
  def parseJson(kafkaShaped: DataFrame, schema: StructType): DataFrame =
    kafkaShaped.select(from_json(col("value").cast("string"), schema).as("data"))

  /** Reviews: parse + flatten + rename + epoch-seconds cast
    * (configmap:58-65; B3+B4). Output matches [[graft.model.SteamModel.Review]].
    */
  def parseReviews(kafkaShaped: DataFrame): DataFrame =
    parseJson(kafkaShaped, ReviewSchema).select(
      col("data.app_id").as("app_id"),
      col("data.review_id").as("review_id"),
      col("data.author_steamid").as("author_steamid"),
      col("data.language").as("language"),
      col("data.voted_up").as("recommended"),
      col("data.votes_up").as("votes_up"),
      col("data.weighted_vote_score").as("weighted_vote_score"),
      col("data.timestamp_created").cast("timestamp").as("timestamp"),
      col("data.review_text").as("review_text"))

  /** Charts: parse + flatten + ISO-string cast (configmap:169-176; B3+B5). */
  def parseCharts(kafkaShaped: DataFrame): DataFrame =
    parseJson(kafkaShaped, GameInfoSchema).select(
      col("data.name").as("name"),
      col("data.appid").as("appid"),
      col("data.type").as("type"),
      col("data.genres").as("genres"),
      col("data.timestamp_scraped").cast("timestamp").as("timestamp"))

  /** Players: parse + flatten + ISO-string cast (configmap:250-255). */
  def parsePlayers(kafkaShaped: DataFrame): DataFrame =
    parseJson(kafkaShaped, PlayerCountSchema).select(
      col("data.appid").as("appid"),
      col("data.player_count").as("player_count"),
      col("data.timestamp").cast("timestamp").as("timestamp"))

  /** 1-hour tumbling sentiment aggregation (configmap:68-74; C1,C2,C4,C5):
    * groupBy(window(ts, 1h), recommended) → count, avg(quality).
    * `withWatermark` is applied by the streaming wrapper, not here — under
    * the reference's complete output mode it is inert for eviction
    * (SURVEY.md §7.4), and batch ignores it.
    */
  def sentimentAgg(reviews: DataFrame): DataFrame =
    reviews
      .groupBy(window(col("timestamp"), "1 hour"), col("recommended"))
      .agg(
        count(col("app_id")).as("total_reviews"),
        avg(col("weighted_vote_score")).as("avg_quality"))

  /** The review-bomb rule (configmap:79-92), strict on both sides: an
    * app is flagged when negative_ratio > [[BombNegativeRatio]] AND
    * total_reviews > [[BombMinReviews]].
    */
  val BombNegativeRatio: Double = 0.8
  val BombMinReviews: Int = 10

  /** Ratios and the review-bomb flag over per-app counts. */
  private def withBombFlag(counts: DataFrame): DataFrame =
    counts
      .withColumn("negative_ratio", col("negative_count") / col("total_reviews"))
      .withColumn("positive_ratio", col("positive_count") / col("total_reviews"))
      .withColumn(
        "is_review_bomb",
        when(col("negative_ratio") > BombNegativeRatio &&
          col("total_reviews") > BombMinReviews, lit(true))
          .otherwise(lit(false)))

  /** Review-bomb detection (configmap:79-92; C7,C8,B6-B10): per-app
    * lifetime totals (no window, no watermark — unbounded state in the
    * reference), conditional counts, ratios, boolean flag.
    */
  def reviewBombAgg(reviews: DataFrame): DataFrame =
    withBombFlag(reviews
      .groupBy(col("app_id"))
      .agg(
        count(lit(1)).as("total_reviews"),
        sum(when(col("recommended") === false, 1).otherwise(0)).as("negative_count"),
        sum(when(col("recommended") === true, 1).otherwise(0)).as("positive_count"),
        avg(col("weighted_vote_score")).as("avg_quality")))

  /** Additive partial of [[sentimentAgg]] for incremental maintenance:
    * counts and sums only (no avg), so per-batch partials merge by
    * addition — [[graft.streaming.ParquetUpsertSink.upsertAdditive]]
    * keyed on (window, recommended). `quality_cnt` counts non-null
    * scores, matching avg's null-skipping. Derive the user-facing shape
    * with [[sentimentFromPartials]].
    */
  def sentimentAggPartial(reviews: DataFrame): DataFrame =
    reviews
      .groupBy(window(col("timestamp"), "1 hour"), col("recommended"))
      .agg(
        count(col("app_id")).as("total_reviews"),
        sum(col("weighted_vote_score")).as("quality_sum"),
        count(col("weighted_vote_score")).as("quality_cnt"))

  /** Read-side view of accumulated [[sentimentAggPartial]] rows — the
    * same shape as [[sentimentAgg]].
    */
  def sentimentFromPartials(partials: DataFrame): DataFrame =
    partials.select(
      col("window"), col("recommended"), col("total_reviews"),
      (col("quality_sum") / col("quality_cnt")).as("avg_quality"))

  /** Additive partial of [[reviewBombAgg]] (same contract as
    * [[sentimentAggPartial]]), keyed on app_id.
    */
  def reviewBombAggPartial(reviews: DataFrame): DataFrame =
    reviews
      .groupBy(col("app_id"))
      .agg(
        count(lit(1)).as("total_reviews"),
        sum(when(col("recommended") === false, 1).otherwise(0)).as("negative_count"),
        sum(when(col("recommended") === true, 1).otherwise(0)).as("positive_count"),
        sum(col("weighted_vote_score")).as("quality_sum"),
        count(col("weighted_vote_score")).as("quality_cnt"))

  /** Read-side view of accumulated [[reviewBombAggPartial]] rows — the
    * same shape (columns, derivations, flag rule) as [[reviewBombAgg]].
    */
  def reviewBombFromPartials(partials: DataFrame): DataFrame =
    withBombFlag(partials.select(
      col("app_id"), col("total_reviews"), col("negative_count"),
      col("positive_count"),
      (col("quality_sum") / col("quality_cnt")).as("avg_quality")))

  /** Genre distribution (configmap:179-185; C9,C10): explode(genres) →
    * global groupBy count. Explode drops null/empty arrays (reference
    * semantics — plain `explode`, not `explode_outer`).
    */
  def genreCount(games: DataFrame): DataFrame =
    games
      .select(explode(col("genres")).as("genre"))
      .groupBy(col("genre"))
      .agg(count(lit(1)).as("total_games"))

  /** 10-minute tumbling player stats (configmap:258-265; C3,C5,C6). */
  def playerWindowAgg(players: DataFrame): DataFrame =
    players
      .groupBy(window(col("timestamp"), "10 minutes"), col("appid"))
      .agg(
        max(col("player_count")).as("max_players"),
        avg(col("player_count")).as("avg_players"))
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming source builders (SURVEY.md §2.A).
  *
  * The engine's transforms only require a Kafka-shaped frame — a `value`
  * column castable to string (plus optional key/topic/offset metadata) —
  * so any of these sources feeds the same downstream pipeline:
  * Kafka in production, `MemoryStream` in tests, file sources for replay.
  */
object Sources {

  /** A1 — the exact reader option map for the Kafka source (reference:
    * k8s/spark-apps/kafka-spark-configmap.yaml:42-54, 156-167, 237-247).
    * Pure (no broker, no session) so the config surface is contract-
    * testable in the sandbox even though no broker exists: the one
    * component a production user wires up first is pinned by spec, not
    * folklore. Later pairs override earlier ones (extraOptions wins),
    * mirroring `DataStreamReader.option` overwrite semantics.
    */
  def kafkaOptions(
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "earliest",
      extraOptions: Map[String, String] = Map.empty): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets) ++ extraOptions

  /** The reference's SSL client config (kafka-spark-configmap.yaml:46-52):
    * SASL-less SSL with hostname verification disabled, plus the PKCS12
    * truststore triple when a truststore path is supplied.
    */
  def kafkaSslOptions(truststoreLocation: Option[String]): Map[String, String] =
    Map(
      "kafka.security.protocol" -> "SSL",
      "kafka.ssl.endpoint.identification.algorithm" -> "") ++
      truststoreLocation.map(loc => Map(
        "kafka.ssl.truststore.location" -> loc,
        "kafka.ssl.truststore.type" -> "PKCS12",
        "kafka.ssl.truststore.password" -> "changeit")).getOrElse(Map.empty)

  /** A1 — Kafka streaming source: [[kafkaOptions]] applied to a
    * `readStream.format("kafka")` builder. Untestable without a broker;
    * all option logic lives in the pure [[kafkaOptions]]/[[kafkaSslOptions]]
    * so this method is a trivial fold.
    */
  def kafka(
      spark: SparkSession,
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "earliest",
      extraOptions: Map[String, String] = Map.empty): DataFrame =
    kafkaOptions(bootstrapServers, topic, startingOffsets, extraOptions)
      .foldLeft(spark.readStream.format("kafka")) {
        case (b, (k, v)) => b.option(k, v)
      }.load()

  /** File-based replay source: streams JSON-lines files as a Kafka-shaped
    * frame (`value: string`). Used for cold-path reprocessing (Kappa
    * replay, reference README.md:35-42) and as the test stand-in for A1.
    */
  def jsonLines(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .format("text")
      .load(path)

  // ---- A5: offline CSV samples (reference inputs/, FIXTURES.md §2) ----

  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  /** Reviews CSV sample (reference: inputs/reviews/steam_reviews_*.csv).
    * Quoted multiline review text requires `multiLine`; the appid lives in
    * the FILENAME, not a column, so the caller supplies it. Output is the
    * parsed-review shape (`SteamOps.parseReviews`), so the whole hot path
    * (sentiment window, review-bomb) runs unchanged over the offline data.
    * Review text goes through the producer's ingest cleaner (tag strip +
    * entity unescape + trim, reference: producers/steam_utils.py:38-42,167)
    * exactly as API-scraped reviews do before reaching Kafka.
    */
  def reviewsCsv(spark: SparkSession, path: String, appId: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("review_id", StringType),
      StructField("author", StringType),
      StructField("language", StringType),
      StructField("recommended", BooleanType),
      StructField("steam_purchase", BooleanType),
      StructField("votes_up", IntegerType),
      StructField("weighted_vote_score", FloatType),
      StructField("timestamp", TimestampType),
      StructField("review", StringType)))
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"") // RFC-4180 "" quote escaping, not backslash
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .schema(schema)
      .csv(path)
      .select(
        lit(appId).as("app_id"),
        col("review_id"),
        col("author").as("author_steamid"),
        col("language"),
        col("recommended"),
        col("votes_up"),
        col("weighted_vote_score"),
        col("timestamp"),
        graft.functions.TextFunctions.cleanReviewText(col("review")).as("review_text"))
  }

  /** Player-count CSV sample (reference: inputs/charts/steamcharts_24h.csv)
    * in the parsed-players shape (`SteamOps.parsePlayers`).
    */
  def chartsCsv(spark: SparkSession, path: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("appid", IntegerType),
      StructField("timestamp", TimestampType),
      StructField("player_count", IntegerType)))
    spark.read
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .schema(schema)
      .csv(path)
  }
}

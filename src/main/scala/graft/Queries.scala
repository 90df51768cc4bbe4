package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Checkpoints

import graft.functions.{Clustering, Curation, Dedup, Similarity, TextFunctions => TF}
import graft.operators.{Multimodal => MM, Serving, SteamOps}

/** The correctness-gate query catalog: every operator from SURVEY.md §2
  * (the reference's inventory) plus the training-data-pipeline extensions,
  * each expressed over the driver's testdata tables with a matching DuckDB
  * oracle SQL statement.
  *
  * Cross-engine determinism rules used throughout (so hash-compare works):
  *  - money/value aggregation in integer cents (`sum(round(x*100)::long)`)
  *    then divide — integer aggregation is order-independent and exact;
  *  - timestamps output as 'yyyy-MM-dd HH:mm:ss' strings (sidesteps
  *    ns-vs-µs parquet physical types);
  *  - every top-k has a total-order tie-break;
  *  - float similarity rounded to 4 decimals before ranking/thresholding;
  *  - oracle-side rounded floats that can be non-positive carry a
  *    trailing `+ 0`: DuckDB's `round` preserves the sign of −0.0 while
  *    Spark's (BigDecimal HALF_UP) returns +0.0, and the driver's hash
  *    renders "−0.0" ≠ "0.0" (first observed on q_lsh_srp at sf0.1 — a
  *    near-orthogonal pair rounding to exactly zero);
  *  - content hashing via md5 (bit-identical in every engine).
  */
object Queries {

  final case class Q(
      name: String,
      operators: String, // SURVEY.md §2 ids covered
      spark: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private val Fmt     = "yyyy-MM-dd HH:mm:ss"
  private val DuckFmt = "%Y-%m-%d %H:%M:%S"

  /** Cell count shared by every IVF / k-means query (Spark side AND the
    * DuckDB oracle mirror [[sqlIvfCellCtes]]) — one constant so the two
    * sides cannot drift.
    */
  val IvfNumCells: Int = 16

  /** 2-dp double → exact integer cents. */
  private def cents(c: Column): Column = round(c * 100).cast("long")
  private def sqlCents(e: String): String = s"CAST(round(($e)*100,0) AS BIGINT)"

  private def t(spark: SparkSession, sfDir: String) = Tables(spark, sfDir)

  /** events with the review-analog columns used by the Steam-parity
    * queries: recommended := event_type ∈ {purchase, signup},
    * value in integer cents.
    */
  private def reviewishEvents(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir).events
      .withColumn("recommended", col("event_type").isin("purchase", "signup"))
      .withColumn("cents", cents(col("value")))

  private val sqlReviewishEvents =
    s"""SELECT *, event_type IN ('purchase','signup') AS recommended,
       |  ${sqlCents("value")} AS cents FROM events""".stripMargin

  /** Tokenized documents (distinct tokens per doc), shared by the dedup
    * oracles. `maxId` bounds the quadratic candidate stage.
    */
  private def sqlDocToks(maxId: Long) =
    s"""SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |FROM documents WHERE doc_id < $maxId AND length(trim(text)) > 0""".stripMargin

  /** Shared SQL mirror of `Similarity.kmeansCentroids` +
    * `cellAssignments` (quantized integer space — exact,
    * order-independent sums; md5-stratified seeds;
    * [[Similarity.LloydIters]] Lloyd iterations with sum-centroids,
    * cosine being scale-invariant): CTEs `base` …
    * `af`, where `af` = (cid, v, vn2, cell) is every corpus vector's
    * final trained-cell assignment. Prefix of the IVF-search and
    * semantic-dedup oracles.
    */
  private val sqlIvfCellCtes: String = sqlIvfCellCtesWith(s"$IvfNumCells")

  /** [[sqlIvfCellCtes]] with an explicit cell-count LIMIT expression —
    * the semantic-dedup oracle passes the dynamic √N rule
    * (`Similarity.autoCellCount` mirrored in SQL) where the IVF-search
    * oracles keep the fixed literal.
    *
    * `trainWhere` (SQL predicate over `cid`, default all rows) narrows
    * the TRAINING set — seeds and every Lloyd update run over `bt`
    * (= bn filtered) while the final `af` assignment routes EVERY
    * vector to the trained cells: the incremental-dedup oracle trains
    * on the indexed corpus split and assigns corpus + batch alike,
    * exactly `Similarity.semanticDedupIncremental`'s frozen-model rule.
    */
  private def sqlIvfCellCtesWith(
      limitExpr: String, trainWhere: String = "TRUE"): String = {
    val sums = (1 to 64).map(i => s"sum(qv[$i])").mkString(", ")
    // one assignment + sum-centroid update per Lloyd round
    val rounds = (1 to Similarity.LloydIters).map { it =>
      s"""a$it AS (SELECT cid, qv, qn2, cell FROM (
         |  SELECT b.cid, b.qv, b.qn2, c.cell, row_number() OVER (PARTITION BY b.cid
         |    ORDER BY round(list_dot_product(b.qv, c.cv) / sqrt(b.qn2 * c.cn2), 4) DESC, c.cell) AS arn
         |  FROM bt b, c${it - 1} c) WHERE arn = 1),
         |c$it AS (SELECT cell, cv, list_dot_product(cv, cv) AS cn2 FROM (
         |  SELECT cell, list_value($sums) AS cv FROM a$it GROUP BY cell)),""".stripMargin
    }.mkString("\n")
    s"""base AS (SELECT vec_id AS cid,
       |    list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1000000.0)) AS qv,
       |    CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |bn AS (SELECT cid, qv, list_dot_product(qv, qv) AS qn2,
       |    v, list_dot_product(v, v) AS vn2 FROM base),
       |bt AS (SELECT * FROM bn WHERE $trainWhere),
       |c0 AS (SELECT cell, cv, list_dot_product(cv, cv) AS cn2 FROM (
       |  SELECT cid AS cell, qv AS cv FROM bt
       |  ORDER BY md5(CAST(cid AS VARCHAR)), cid LIMIT $limitExpr)),
       |$rounds
       |af AS (SELECT cid, v, vn2, cell FROM (
       |  SELECT b.cid, b.v, b.vn2, c.cell, row_number() OVER (PARTITION BY b.cid
       |    ORDER BY round(list_dot_product(b.qv, c.cv) / sqrt(b.qn2 * c.cn2), 4) DESC, c.cell) AS arn
       |  FROM bn b, c${Similarity.LloydIters} c) WHERE arn = 1)""".stripMargin
  }

  /** `hp` + `sigs` CTE bodies of the MinHash family
    * ([[graft.functions.expressions.MinHashFamily]]): expects a `toks`
    * CTE of (doc_id, tok) in scope; `sigs` is (doc_id, s0…s{k−1}) with
    * s_i = min over tokens of (A_i·(h mod P)+B_i) mod P, h = first 15
    * md5 hex chars of "t:"++tok as int64 — the exact arithmetic of the
    * Spark-side native expression, all intermediates < 2^62.
    */
  private def sqlMinhashSigs(numHashes: Int): String = {
    import graft.functions.expressions.MinHashFamily.{P, a, b}
    val sigCols = (0 until numHashes)
      .map(i => s"min((${a(i)} * hp + ${b(i)}) % $P) AS s$i").mkString(",\n  ")
    s"""hp AS (SELECT DISTINCT doc_id,
       |  (CAST('0x' || substr(md5('t:' || tok), 1, 15) AS BIGINT) % $P) AS hp
       |  FROM toks),
       |sigs AS (SELECT doc_id,
       |  $sigCols
       |FROM hp GROUP BY doc_id)""".stripMargin
  }

  /** Band rows (doc_id, band, bkey) from the `sigs` CTE of
    * [[sqlMinhashSigs]]; bkey renders the band's signature components in
    * decimal — identical strings to Spark's `concat_ws` over
    * `sig(i).cast("string")`.
    */
  private def sqlMinhashBands(numHashes: Int, bands: Int): String = {
    val r = numHashes / bands
    (0 until bands).map { b =>
      val cs = (b * r until (b + 1) * r).map(i => s"CAST(s$i AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('|', $cs)) AS bkey FROM sigs"
    }.mkString("\nUNION ALL\n")
  }

  // ===========================================================================
  // Steam-parity queries (§2.A/B/C re-expressed over the testdata)
  // ===========================================================================

  private val qParseProject = Q(
    "q_parse_project",
    "A6,B1,B2,B3,B4,B5,B12",
    (s, d) =>
      t(s, d).events.select(
        col("event_id"),
        col("user_id"),
        col("event_type").as("etype"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        date_format(col("ts"), Fmt).as("ts_str"),
        col("value")),
    Some(s"""SELECT event_id, user_id, event_type AS etype,
            |  CAST(props->>'k' AS INTEGER) AS k,
            |  strftime(ts, '$DuckFmt') AS ts_str, value
            |FROM events""".stripMargin))

  private val qSentimentWindow = Q(
    "q_sentiment_window",
    "C1,C2,C4,C5",
    (s, d) =>
      reviewishEvents(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("recommended"))
        .agg(count(lit(1)).as("total_reviews"), sum(col("cents")).as("sc"))
        .select(
          date_format(col("window.start"), Fmt).as("w_start"),
          date_format(col("window.end"), Fmt).as("w_end"),
          col("recommended"),
          col("total_reviews"),
          (col("sc") / col("total_reviews") / 100.0).as("avg_value")),
    Some(s"""WITH ev AS ($sqlReviewishEvents)
            |SELECT strftime(date_trunc('hour', ts), '$DuckFmt') AS w_start,
            |  strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR, '$DuckFmt') AS w_end,
            |  recommended, CAST(count(*) AS BIGINT) AS total_reviews,
            |  CAST(sum(cents) AS BIGINT) / count(*) / 100.0 AS avg_value
            |FROM ev GROUP BY 1, 2, 3""".stripMargin))

  private val qReviewBomb = Q(
    "q_review_bomb",
    "C7,C8,B6,B7,B8,B9,B10",
    (s, d) =>
      reviewishEvents(s, d)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("total_reviews"),
          sum(when(col("recommended") === false, 1).otherwise(0)).as("negative_count"),
          sum(when(col("recommended") === true, 1).otherwise(0)).as("positive_count"),
          sum(col("cents")).as("sc"))
        .withColumn("avg_value", col("sc") / col("total_reviews") / 100.0)
        .withColumn("negative_ratio", col("negative_count") / col("total_reviews"))
        .withColumn("positive_ratio", col("positive_count") / col("total_reviews"))
        .withColumn(
          "is_review_bomb",
          when(col("negative_ratio") > 0.65 && col("total_reviews") > 10, lit(true))
            .otherwise(lit(false)))
        .drop("sc"),
    Some(s"""WITH ev AS ($sqlReviewishEvents),
            |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS total_reviews,
            |  CAST(sum(CASE WHEN recommended = false THEN 1 ELSE 0 END) AS BIGINT) AS negative_count,
            |  CAST(sum(CASE WHEN recommended = true THEN 1 ELSE 0 END) AS BIGINT) AS positive_count,
            |  CAST(sum(cents) AS BIGINT) AS sc
            |FROM ev GROUP BY 1)
            |SELECT user_id, total_reviews, negative_count, positive_count,
            |  sc / total_reviews / 100.0 AS avg_value,
            |  negative_count / total_reviews AS negative_ratio,
            |  positive_count / total_reviews AS positive_ratio,
            |  CASE WHEN negative_count / total_reviews > 0.65 AND total_reviews > 10
            |       THEN true ELSE false END AS is_review_bomb
            |FROM a""".stripMargin))

  private val qGenreCount = Q(
    "q_genre_count",
    "C9,C10",
    (s, d) =>
      SteamOps
        .genreCount(t(s, d).documents.select(TF.tokens(col("text")).as("genres")))
        .filter(col("genre") =!= ""),
    Some("""SELECT tok AS genre, CAST(count(*) AS BIGINT) AS total_games
           |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents)
           |WHERE tok <> '' GROUP BY 1""".stripMargin))

  private val qPlayerWindow = Q(
    "q_player_window",
    "C3,C5,C6",
    (s, d) =>
      reviewishEvents(s, d)
        .groupBy(window(col("ts"), "10 minutes"), col("user_id"))
        .agg(max(col("cents")).as("mx"), count(lit(1)).as("n"), sum(col("cents")).as("sc"))
        .select(
          date_format(col("window.start"), Fmt).as("w_start"),
          date_format(col("window.end"), Fmt).as("w_end"),
          col("user_id"),
          (col("mx") / 100.0).as("max_value"),
          (col("sc") / col("n") / 100.0).as("avg_value")),
    Some(s"""WITH ev AS ($sqlReviewishEvents)
            |SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '$DuckFmt') AS w_start,
            |  strftime(time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes', '$DuckFmt') AS w_end,
            |  user_id,
            |  CAST(max(cents) AS BIGINT) / 100.0 AS max_value,
            |  CAST(sum(cents) AS BIGINT) / count(*) / 100.0 AS avg_value
            |FROM ev GROUP BY 1, 2, 3""".stripMargin))

  private val qRegexClean = Q(
    "q_regex_clean",
    "B11",
    (s, d) =>
      t(s, d).documents.select(
        col("doc_id"),
        length(TF.stripTags(col("text"))).cast("long").as("clean_len"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"),
        md5(col("text")).as("fp")),
    Some("""SELECT doc_id,
           |  CAST(length(regexp_replace(text, '<[^>\n]*>', '', 'g')) AS BIGINT) AS clean_len,
           |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
           |       ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
           |  md5(text) AS fp
           |FROM documents""".stripMargin))

  // B11 complete: the reference's three-step ingest cleaner
  // (html.unescape(re.sub('<.*?>','',raw)).strip(), steam_utils.py:38-42)
  // over entity-bearing text constructed deterministically around each
  // document. The DuckDB side decodes with a replace() chain ('&amp;'
  // substituted LAST, reproducing Python's single left-to-right pass).
  private val qHtmlUnescape = Q(
    "q_html_unescape",
    "B11: HTML tag strip + entity unescape + trim (full ingest cleaner)",
    (s, d) =>
      t(s, d).documents.select(
        col("doc_id"),
        TF.cleanReviewText(
          concat(
            lit("  <b>&quot;"), col("text"),
            lit("&quot;</b> &amp;amp; &#72;&#x69;! &copy;&nbsp;&hellip; ")))
          .as("clean_text")),
    Some("""SELECT doc_id,
           |  trim(
           |    replace(
           |      replace(replace(replace(replace(replace(replace(
           |        regexp_replace(
           |          '  <b>&quot;' || text || '&quot;</b> &amp;amp; &#72;&#x69;! &copy;&nbsp;&hellip; ',
           |          '<[^>\n]*>', '', 'g'),
           |        '&quot;', '"'), '&#72;', 'H'), '&#x69;', 'i'),
           |        '&copy;', chr(169)), '&nbsp;', chr(160)), '&hellip;', chr(8230)),
           |      '&amp;', '&'),
           |    ' ' || chr(160)) AS clean_text
           |FROM documents""".stripMargin))

  // ===========================================================================
  // Serving-layer queries (§2.D)
  // ===========================================================================

  /** the steam_players-style hot table, re-used by D1/D2. */
  private def playerHot(s: SparkSession, d: String): DataFrame =
    reviewishEvents(s, d)
      .groupBy(window(col("ts"), "10 minutes"), col("user_id"))
      .agg(max(col("cents")).as("mx"))

  private val sqlPlayerHot =
    s"""SELECT time_bucket(INTERVAL '10 minutes', ts) AS w, user_id,
       |  CAST(max(${sqlCents("value")}) AS BIGINT) AS mx
       |FROM events GROUP BY 1, 2""".stripMargin

  private val qReaggTopk = Q(
    "q_reagg_topk",
    "D1,D2",
    (s, d) =>
      Serving.topK(
        Serving.reAggregate(
          playerHot(s, d),
          Seq("user_id"),
          Seq(max(col("mx")).as("pk"), count(lit(1)).as("n_windows"))),
        10,
        col("pk").desc,
        col("user_id").asc)
        .select(col("user_id"), (col("pk") / 100.0).as("peak_value"), col("n_windows")),
    Some(s"""WITH hot AS ($sqlPlayerHot)
            |SELECT user_id, CAST(max(mx) AS BIGINT) / 100.0 AS peak_value,
            |  CAST(count(*) AS BIGINT) AS n_windows
            |FROM hot GROUP BY 1
            |ORDER BY CAST(max(mx) AS BIGINT) DESC, user_id LIMIT 10""".stripMargin))

  private val qFmtProject = Q(
    "q_fmt_project",
    "D3",
    (s, d) =>
      reviewishEvents(s, d)
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"), sum(col("cents")).as("sc"), count(lit(1)).as("n"))
        .select(
          concat(lit("user_"), col("user_id").cast("string")).as("label"),
          date_format(col("first_ts"), Fmt).as("first_seen"),
          (col("sc") / 100.0).as("total_value"),
          round(col("sc") / col("n") / 100.0, 2).as("avg_value_r"),
          lit("events").as("src")),
    Some(s"""WITH ev AS ($sqlReviewishEvents)
            |SELECT 'user_' || CAST(user_id AS VARCHAR) AS label,
            |  strftime(min(ts), '$DuckFmt') AS first_seen,
            |  CAST(sum(cents) AS BIGINT) / 100.0 AS total_value,
            |  round(CAST(sum(cents) AS BIGINT) / count(*) / 100.0, 2) AS avg_value_r,
            |  'events' AS src
            |FROM ev GROUP BY user_id""".stripMargin))

  private val qCondLabel = Q(
    "q_cond_label",
    "D4",
    (s, d) =>
      reviewishEvents(s, d)
        .select(Serving.sentimentLabel(col("recommended")).as("sentiment"))
        .groupBy("sentiment")
        .agg(count(lit(1)).as("n")),
    Some("""SELECT CASE WHEN event_type IN ('purchase','signup') THEN 'Positive'
           |            ELSE 'Negative' END AS sentiment,
           |  CAST(count(*) AS BIGINT) AS n
           |FROM events GROUP BY 1""".stripMargin))

  private val qFilterCount = Q(
    "q_filter_count",
    "D5,D6",
    (s, d) =>
      Serving.filterCount(
        t(s, d).events,
        col("event_type") === "error" && col("value") > 100,
        "n_alerts"),
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_alerts
           |FROM events WHERE event_type = 'error' AND value > 100""".stripMargin))

  private val qArgmaxLatest = Q(
    "q_argmax_latest",
    "D7",
    (s, d) =>
      Serving
        .latest(t(s, d).events, col("ts").desc, col("event_id").desc)
        .select(
          col("event_id"),
          date_format(col("ts"), Fmt).as("ts_str"),
          col("event_type"),
          col("value")),
    Some(s"""SELECT event_id, strftime(ts, '$DuckFmt') AS ts_str, event_type, value
            |FROM events ORDER BY ts DESC, event_id DESC LIMIT 1""".stripMargin))

  private val qUnionSummary = Q(
    "q_union_summary",
    "D8",
    (s, d) =>
      Serving.unionSummary(Seq(
        "events"     -> t(s, d).events,
        "documents"  -> t(s, d).documents,
        "embeddings" -> t(s, d).embeddings)),
    Some("""SELECT 'events' AS metric, CAST(count(*) AS BIGINT) AS value FROM events
           |UNION ALL
           |SELECT 'documents', CAST(count(*) AS BIGINT) FROM documents
           |UNION ALL
           |SELECT 'embeddings', CAST(count(*) AS BIGINT) FROM embeddings""".stripMargin))

  // ===========================================================================
  // Relational completeness (beyond the reference: joins, distinct, SQL
  // windows, rollup — §2.E scope fence, provided as engine capabilities)
  // ===========================================================================

  private val qPricing = Q(
    "q1_pricing",
    "A6,C4,C5 (TPC-H Q1 shape: scan+filter pushdown+partial agg)",
    (s, d) => {
      val li = t(s, d).lineitem
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2001-06-01 00:00:00")))
        .select(
          col("l_returnflag"),
          col("l_linestatus"),
          cents(col("l_quantity")).as("qc"),
          cents(col("l_extendedprice")).as("ec"),
          cents(col("l_discount")).as("dc"),
          cents(col("l_tax")).as("tc"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("qc")).as("sq"),
          sum(col("ec")).as("se"),
          sum(col("ec") * (lit(100) - col("dc"))).as("sd"),
          sum(col("ec") * (lit(100) - col("dc")) * (lit(100) + col("tc"))).as("sch"),
          sum(col("dc")).as("sdc"),
          count(lit(1)).as("count_order"))
        .select(
          col("l_returnflag"),
          col("l_linestatus"),
          (col("sq") / 100.0).as("sum_qty"),
          (col("se") / 100.0).as("sum_base_price"),
          (col("sd") / 10000.0).as("sum_disc_price"),
          (col("sch") / 1000000.0).as("sum_charge"),
          (col("sq") / col("count_order") / 100.0).as("avg_qty"),
          (col("se") / col("count_order") / 100.0).as("avg_price"),
          (col("sdc") / col("count_order") / 100.0).as("avg_disc"),
          col("count_order"))
    },
    Some(s"""WITH li AS (SELECT l_returnflag, l_linestatus,
            |  ${sqlCents("l_quantity")} AS qc, ${sqlCents("l_extendedprice")} AS ec,
            |  ${sqlCents("l_discount")} AS dc, ${sqlCents("l_tax")} AS tc
            |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00')
            |SELECT l_returnflag, l_linestatus,
            |  CAST(sum(qc) AS BIGINT) / 100.0 AS sum_qty,
            |  CAST(sum(ec) AS BIGINT) / 100.0 AS sum_base_price,
            |  CAST(sum(ec * (100 - dc)) AS BIGINT) / 10000.0 AS sum_disc_price,
            |  CAST(sum(ec * (100 - dc) * (100 + tc)) AS BIGINT) / 1000000.0 AS sum_charge,
            |  CAST(sum(qc) AS BIGINT) / count(*) / 100.0 AS avg_qty,
            |  CAST(sum(ec) AS BIGINT) / count(*) / 100.0 AS avg_price,
            |  CAST(sum(dc) AS BIGINT) / count(*) / 100.0 AS avg_disc,
            |  CAST(count(*) AS BIGINT) AS count_order
            |FROM li GROUP BY 1, 2""".stripMargin))

  private val qJoinBroadcast = Q(
    "q_join_broadcast",
    "join (broadcast dim + shuffle fact), filter pushdown",
    (s, d) => {
      val tt = t(s, d)
      val li = tt.lineitem.select(
        col("l_orderkey"),
        (cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount")))).as("rev"))
      val o = tt.orders
        .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        .select(col("o_orderkey"), col("o_custkey"))
      val c = tt.customer.select(col("c_custkey"), col("c_mktsegment"))
      // no broadcast() hint on customer: unlike nation/region (fixed 25
      // rows — hinted elsewhere), customer GROWS with the scale factor,
      // and a forced broadcast ships the whole dim to every executor at
      // any size (measured: 9.8 s at sf10's 1.5M customers vs 2-3 s
      // shuffled). The planner broadcasts it while its file size is
      // under the threshold and falls back to shuffle when it outgrows
      // it — the adaptive behavior a 100 TB run needs. Plan-audit spec
      // pins that the small-SF plan still broadcasts.
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(col("rev")).as("r"),
          countDistinct(col("o_orderkey")).as("n_orders"),
          count(lit(1)).as("n_items"))
        .select(
          col("c_mktsegment"),
          (col("r") / 10000.0).as("revenue"),
          col("n_orders"),
          col("n_items"))
    },
    Some(s"""SELECT c_mktsegment,
            |  CAST(sum(${sqlCents("l_extendedprice")} * (100 - ${sqlCents("l_discount")})) AS BIGINT) / 10000.0 AS revenue,
            |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
            |  CAST(count(*) AS BIGINT) AS n_items
            |FROM lineitem
            |JOIN orders ON l_orderkey = o_orderkey
            |JOIN customer ON o_custkey = c_custkey
            |WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
            |GROUP BY 1""".stripMargin))

  private val qJoinSemiAnti = Q(
    "q_join_semi_anti",
    "left_semi/left_anti joins",
    (s, d) => {
      val tt = t(s, d)
      val withO = tt.customer
        .join(tt.orders.select("o_custkey"), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("with_orders"))
      val noO = tt.customer
        .join(tt.orders.select("o_custkey"), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("no_orders"))
      withO
        .join(noO, Seq("c_nationkey"), "full_outer")
        .join(broadcast(t(s, d).nation), col("c_nationkey") === col("n_nationkey"))
        .select(
          col("n_name"),
          coalesce(col("with_orders"), lit(0L)).as("with_orders"),
          coalesce(col("no_orders"), lit(0L)).as("no_orders"))
    },
    Some("""WITH w AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS with_orders FROM customer c
           |  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) GROUP BY 1),
           |x AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS no_orders FROM customer c
           |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) GROUP BY 1)
           |SELECT n_name, coalesce(w.with_orders, 0) AS with_orders,
           |  coalesce(x.no_orders, 0) AS no_orders
           |FROM w FULL OUTER JOIN x USING (c_nationkey)
           |JOIN nation ON c_nationkey = n_nationkey""".stripMargin))

  private val qDistinctAgg = Q(
    "q_distinct_agg",
    "distinct aggregation",
    (s, d) =>
      t(s, d).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"),
          count(lit(1)).as("n_rows")),
    Some("""SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           |  CAST(count(DISTINCT (l_partkey, l_suppkey)) AS BIGINT) AS n_part_supp,
           |  CAST(count(*) AS BIGINT) AS n_rows
           |FROM lineitem GROUP BY 1""".stripMargin))

  private val qWindowRank = Q(
    "q_window_rank",
    "SQL window functions: row_number, lag",
    (s, d) => {
      val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t(s, d).customer
        .withColumn("rnk", row_number().over(w))
        .withColumn("prev_bal", lag(col("c_acctbal"), 1).over(w))
        .filter(col("rnk") <= 3)
        .join(broadcast(t(s, d).nation), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("rnk"), col("c_name"), col("c_acctbal"), col("prev_bal"))
    },
    Some("""SELECT n_name, CAST(rnk AS INTEGER) AS rnk, c_name, c_acctbal, prev_bal FROM (
           |  SELECT c_nationkey, c_name, c_acctbal,
           |    row_number() OVER w AS rnk, lag(c_acctbal, 1) OVER w AS prev_bal
           |  FROM customer
           |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
           |) JOIN nation ON c_nationkey = n_nationkey WHERE rnk <= 3""".stripMargin))

  private val qRollup = Q(
    "q_rollup",
    "rollup / grouping sets",
    (s, d) =>
      t(s, d).lineitem
        .select(col("l_returnflag"), col("l_linestatus"), cents(col("l_quantity")).as("qc"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("qc")).as("sq"), count(lit(1)).as("n"))
        .select(
          col("l_returnflag"),
          col("l_linestatus"),
          (col("sq") / 100.0).as("sum_qty"),
          col("n")),
    Some(s"""SELECT l_returnflag, l_linestatus,
            |  CAST(sum(${sqlCents("l_quantity")}) AS BIGINT) / 100.0 AS sum_qty,
            |  CAST(count(*) AS BIGINT) AS n
            |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin))

  // ===========================================================================
  // Training-data pipeline: dedup / similarity / text analysis
  // ===========================================================================

  private val qDedupExact = Q(
    "q_dedup_exact",
    "exact dedup (content-hash groupBy)",
    (s, d) =>
      t(s, d).documents
        .select(
          col("lang"),
          md5(concat_ws(" ", array_sort(array_distinct(TF.tokens(col("text")))))).as("fp"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"),
          (count(lit(1)) - countDistinct(col("fp"))).as("n_dupes")),
    Some("""WITH f AS (SELECT lang,
           |  md5(list_aggregate(list_sort(list_distinct(string_split_regex(trim(text), '\s+'))), 'string_agg', ' ')) AS fp
           |FROM documents)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
           |  CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dupes
           |FROM f GROUP BY 1""".stripMargin))

  private val qDedupJaccard = Q(
    "q_dedup_jaccard",
    "n-gram Jaccard near-dup (exact ground truth)",
    (s, d) =>
      Dedup.jaccardPairs(
        t(s, d).documents.filter(col("doc_id") < 500), "doc_id", "text", 0.9),
    Some(s"""WITH toks AS (${sqlDocToks(500)}),
            |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1),
            |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS common
            |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2)
            |SELECT doc_a, doc_b, common / (sa.nt + sb.nt - common) AS jaccard
            |FROM c JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
            |WHERE common / (sa.nt + sb.nt - common) >= 0.9""".stripMargin))

  private val PrefixTbp = 9000L // Jaccard >= 0.9 in basis points

  private val qSetsimPrefix = Q(
    "q_setsim_prefix",
    "prefix-filtering set-similarity join (PPJoin): exact Jaccard pairs with NO all-pairs stage",
    (s, d) =>
      // candidates are an equi-join on each doc's (1-t)-fraction
      // rare-token prefix, with completeness guaranteed by the prefix
      // lemma (contrast the LSH generators, which trade recall for the
      // same bound). Input bounded like the other exhaustive-exact
      // queries: the synthetic corpus draws every doc from ONE 31-token
      // vocabulary, so J >= 0.9 pairs are DENSE (7% of all pairs) and
      // the true output itself is quadratic — a corpus property, not a
      // plan property; real corpora have sparse high-Jaccard structure
      Dedup.prefixFilterPairs(
        t(s, d).documents.filter(col("doc_id") < 2000), "doc_id", "text", PrefixTbp),
    Some(
      raw"""WITH toks AS (${sqlDocToks(2000)}),
           |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY 1),
           |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1),
           |pfx AS (SELECT doc_id, tok FROM (
           |    SELECT t.doc_id, t.tok, s.nt,
           |      row_number() OVER (PARTITION BY t.doc_id
           |                         ORDER BY d.df ASC, t.tok ASC) AS rn
           |    FROM toks t JOIN dfreq d USING (tok) JOIN sz s USING (doc_id))
           |  WHERE rn <= nt - (nt * $PrefixTbp + 9999) // 10000 + 1),
           |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM pfx a JOIN pfx b ON a.tok = b.tok AND a.doc_id < b.doc_id),
           |common AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS common
           |  FROM cand c
           |  JOIN toks ta ON ta.doc_id = c.doc_a
           |  JOIN toks tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
           |  GROUP BY 1, 2)
           |SELECT doc_a, doc_b,
           |  (common * 10000) // (sa.nt + sb.nt - common) AS jaccard_bp
           |FROM common JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
           |WHERE (common * 10000) // (sa.nt + sb.nt - common) >= $PrefixTbp""".stripMargin))

  private val ContainTbp = 8000L // containment >= 0.8 in basis points

  private val qContainment = Q(
    "q_containment",
    "exact shingle-CONTAINMENT join: doc-inside-doc pairs (quotes/subsets) the symmetric Jaccard misses, no all-pairs stage",
    (s, d) =>
      // Broder containment |Sa n Sb| / |Sa| over distinct 5-token
      // shingles — DIRECTED near-dup evidence: a short doc quoted
      // inside a long one scores ~10000 here with low resemblance.
      // Candidates come from an equi-join of each doc's rare-first
      // prefix shingles against the full shingle index (prefix lemma,
      // containment form — zero false negatives); the oracle is the
      // brute-force all-pairs shingle join at the sf0.01 scale.
      // Input bounded like q_setsim_prefix: ScaleUp's replica cliques
      // make the TRUE directed-containment output quadratic in the
      // replica count (every replica is contained in its k-1 siblings)
      // — a corpus property, not a plan property; the production
      // answers are exact-dedup-first (q_dedup_order) or the
      // maxShingleFreq candidate cap (containmentPairs' scaladoc).
      graft.functions.Dedup.containmentPairs(
        t(s, d).documents.filter(col("doc_id") < 2000),
        "doc_id", "text", ContainTbp),
    Some(
      raw"""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           |  FROM documents WHERE doc_id < 2000 AND length(trim(text)) > 0),
           |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |    range(1, len(t) - 3),
           |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
           |         || ' ' || t[i+4]))) AS g
           |  FROM tk WHERE len(t) >= 5),
           |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS na FROM sh GROUP BY 1),
           |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    CAST(count(*) AS BIGINT) AS common
           |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id <> b.doc_id
           |  GROUP BY 1, 2)
           |SELECT doc_a, doc_b,
           |  CAST((common * 10000) // sz.na AS BIGINT) AS containment_bp
           |FROM c JOIN sz ON sz.doc_id = doc_a
           |WHERE (common * 10000) // sz.na >= $ContainTbp""".stripMargin))

  /** The connected components of the pair CTE `p` = (a, b), for a
    * `WITH RECURSIVE` head: `e` symmetrizes `p`, the recursive
    * min-label walk `reach` closes it, `cc` = (node, cluster_id).
    */
  private val sqlPairComponentCtes: String =
    """e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
      |reach AS (
      |  SELECT a AS node, a AS lab FROM e
      |  UNION
      |  SELECT e.b AS node, r.lab FROM reach r JOIN e ON e.a = r.node
      |),
      |cc AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node)""".stripMargin

  /** `toks` (the docs below `maxId`), the [[sqlMinhashSigs]] CTEs and
    * `bands` = the LSH band rows of every signature.
    */
  private def sqlMinhashBandCtes(maxId: Long): String =
    s"""toks AS (${sqlDocToks(maxId)}),
       |${sqlMinhashSigs(Dedup.MinhashHashes)},
       |bands AS (
       |${sqlMinhashBands(Dedup.MinhashHashes, Dedup.MinhashBands)}
       |)""".stripMargin

  /** The LSH-cluster CTEs of the docs below 500 (a `WITH RECURSIVE`
    * head): band-collision pairs `p`, closed by a recursive min-label
    * walk into `cc` = (node, cluster_id).
    */
  private val sqlMinhashComponentCtes: String =
    s"""${sqlMinhashBandCtes(500)},
       |p AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |$sqlPairComponentCtes""".stripMargin

  /** The exact-Jaccard ground truth over `toks`: `name` = every doc
    * pair with token-set Jaccard ≥ 0.8.
    */
  private def sqlJaccardTruthCtes(name: String): String =
    s"""sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1),
       |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS common
       |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |$name AS (SELECT doc_a, doc_b FROM c
       |  JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
       |  WHERE common / (sa.nt + sb.nt - common) >= 0.8)""".stripMargin

  private val qDedupMinhash = Q(
    "q_dedup_minhash",
    "MinHash + LSH banding near-dup candidates",
    (s, d) =>
      Dedup.minhashCandidates(
        t(s, d).documents.filter(col("doc_id") < 2000),
        "doc_id", "text", maxBucket = 0),
    Some {
      s"""WITH ${sqlMinhashBandCtes(2000)}
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""".stripMargin
    })

  private val qMinhashEst = Q(
    "q_minhash_est",
    "MinHash Jaccard estimate vs exact, per LSH candidate pair",
    (s, d) => {
      val docs = t(s, d).documents.filter(col("doc_id") < 500)
      val est = Dedup.minhashJaccardEstimate(
        docs, "doc_id", "text")
      // exact Jaccard for the same pairs (0 when no shared token), so the
      // result doubles as an estimator-quality report
      val exact = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.0)
      est.join(exact, Seq("doc_a", "doc_b"), "left")
        .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
          coalesce(col("jaccard"), lit(0.0)).as("jaccard"),
          abs(col("est_jaccard") - coalesce(col("jaccard"), lit(0.0))).as("abs_err"))
    },
    Some {
      val nMatch = (0 until Dedup.MinhashHashes)
        .map(i => s"(CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH ${sqlMinhashBandCtes(500)},
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |est AS (SELECT doc_a, doc_b, ($nMatch) / ${Dedup.MinhashHashes}.0 AS est_jaccard
         |  FROM cand JOIN sigs sa ON sa.doc_id = doc_a JOIN sigs sb ON sb.doc_id = doc_b),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1),
         |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS common
         |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |ex AS (SELECT doc_a, doc_b, common / (sa.nt + sb.nt - common) AS jaccard
         |  FROM common JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b)
         |SELECT est.doc_a, est.doc_b, est_jaccard,
         |  COALESCE(jaccard, 0.0) AS jaccard,
         |  abs(est_jaccard - COALESCE(jaccard, 0.0)) AS abs_err
         |FROM est LEFT JOIN ex ON ex.doc_a = est.doc_a AND ex.doc_b = est.doc_b""".stripMargin
    })

  private val qDedupSimhash = Q(
    "q_dedup_simhash",
    "SimHash near-dup (bit-sketch + Hamming)",
    (s, d) =>
      Dedup.simhashCandidates(
        t(s, d).documents.filter(col("doc_id") < 2000), "doc_id", "text", maxHamming = 3),
    Some {
      val sums = (0 until Dedup.SimhashBits).map { j =>
        val nib  = j / 4 + 1
        val mask = 1 << (j % 4)
        s"sum(CASE WHEN ((CASE WHEN ascii(substr(hx,$nib,1)) <= 57 THEN ascii(substr(hx,$nib,1)) - 48 ELSE ascii(substr(hx,$nib,1)) - 87 END) & $mask) > 0 THEN 1 ELSE -1 END) AS b$j"
      }.mkString(",\n  ")
      val sh = (0 until Dedup.SimhashBits)
        .map(j => s"(CASE WHEN b$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END)")
        .mkString(" + ")
      s"""WITH toks AS (${sqlDocToks(2000)}),
         |h AS (SELECT doc_id, md5(tok) AS hx FROM toks),
         |bits AS (SELECT doc_id,
         |  $sums
         |FROM h GROUP BY doc_id),
         |sh AS (SELECT doc_id, $sh AS simhash FROM bits)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin
    })

  private val qKnnCosine = Q(
    "q_knn_cosine",
    "ANN baseline: brute-force cosine top-k",
    (s, d) => {
      val e = t(s, d).embeddings
      Similarity.knnCosine(e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rank").cast("int").as("rank"))
    },
    Some("""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           |  FROM embeddings WHERE vec_id < 10),
           |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
           |s AS (SELECT query_id, neighbor_id,
           |  round(list_dot_product(qv, cv) / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)), 4) + 0 AS cos_sim
           |FROM q, c)
           |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
           |  FROM s) WHERE rank <= 5""".stripMargin))

  /** [[qMmrRerank]] constants, shared with the unrolled oracle below. */
  private val MmrQueries  = 8
  private val MmrN        = 16
  private val MmrK        = 5
  private val MmrLambdaBp = 7000

  /** The MMR candidate CTEs `q` … `ps` of both MMR oracles: `cand` =
    * each of the [[MmrQueries]] queries' cosine top-`n` with its integer
    * relevance, `ps` = every within-query candidate pair's integer
    * similarity.
    */
  private def sqlMmrCandCtes(n: Int): String =
    s"""q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id < $MmrQueries),
       |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
       |  FROM embeddings),
       |s AS (SELECT query_id, neighbor_id, cv,
       |  round(list_dot_product(qv, cv)
       |    / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)), 4) AS cos_sim
       |FROM q, c),
       |cand AS (SELECT query_id, neighbor_id, cv,
       |    CAST(round(cos_sim * 10000) AS BIGINT) AS rel_sc FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM s) WHERE rnk <= $n),
       |ps AS (SELECT x.query_id, x.neighbor_id AS a, y.neighbor_id AS b,
       |    CAST(round(round(list_dot_product(x.cv, y.cv)
       |      / sqrt(list_dot_product(x.cv, x.cv) * list_dot_product(y.cv, y.cv)), 4)
       |      * 10000) AS BIGINT) AS sim_sc
       |  FROM cand x JOIN cand y
       |    ON x.query_id = y.query_id AND x.neighbor_id <> y.neighbor_id)""".stripMargin

  /** The MMR greedy unrolled as DuckDB CTEs — one (ms, pick, sel) triple
    * per rank 2‥k over the candidate/pair-sim CTEs, the mirror of
    * [[graft.functions.Similarity.mmrRerank]]'s plan unrolling.
    */
  private def sqlMmrSteps(k: Int, lambdaBp: Int): String = {
    val mu = 10000 - lambdaBp
    (2 to k).map { i =>
      s"""ms$i AS (SELECT r.query_id, r.neighbor_id, r.rel_sc,
         |    CAST(max(ps.sim_sc) AS BIGINT) AS maxsim_sc
         |  FROM cand r JOIN ps ON ps.query_id = r.query_id AND ps.a = r.neighbor_id
         |  JOIN sel${i - 1} s ON s.query_id = ps.query_id AND s.neighbor_id = ps.b
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} z
         |    WHERE z.query_id = r.query_id AND z.neighbor_id = r.neighbor_id)
         |  GROUP BY 1, 2, 3),
         |pick$i AS (SELECT query_id, CAST($i AS BIGINT) AS mmr_rank, neighbor_id,
         |    rel_sc, maxsim_sc,
         |    $lambdaBp * rel_sc - $mu * maxsim_sc AS score_sc FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY $lambdaBp * rel_sc - $mu * maxsim_sc DESC, neighbor_id) AS rn
         |  FROM ms$i) WHERE rn = 1),
         |sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM pick$i)""".stripMargin
    }.mkString(",\n")
  }

  /** The MMR oracles' first round `sel1`: the `keep` filter over each
    * query's candidates ranked by relevance alone (the selection is still
    * empty, so `maxsim_sc` is 0), ranked `rank`.
    */
  private def sqlMmrFirstRound(rank: String, keep: String): String =
    s"""sel1 AS (SELECT query_id, CAST($rank AS BIGINT) AS mmr_rank, neighbor_id,
       |    rel_sc, CAST(0 AS BIGINT) AS maxsim_sc,
       |    $MmrLambdaBp * rel_sc AS score_sc FROM (
       |  SELECT query_id, neighbor_id, rel_sc,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY $MmrLambdaBp * rel_sc DESC, neighbor_id) AS rn
       |  FROM cand) WHERE $keep)""".stripMargin

  /** [[qMmrBatched]] constants — k/b chosen so the unrolled oracle has
    * both full rounds and a PARTIAL last round (16 = 6 + 6 + 4 at
    * b = 6), exercising the short-take arm a divisible k would skip.
    */
  private val MmrBatchN = 24
  private val MmrBatchK = 16
  private val MmrBatchB = 6 // rounds take 6, 6, 4 — last round is partial

  /** The BATCHED MMR unrolled as DuckDB CTEs — round-major: each round
    * takes the top `b` marginal scorers against the PRIOR rounds'
    * selection (within-round picks don't see each other — the
    * documented [[graft.functions.Similarity.mmrRerank]] `pickBatch`
    * approximation), ranks assigned round-major in score order.
    */
  private def sqlMmrBatchedSteps(k: Int, b: Int, lambdaBp: Int): String = {
    val mu = 10000 - lambdaBp
    val rounds = (k + b - 1) / b
    (2 to rounds).map { j =>
      val base = (j - 1) * b
      val take = math.min(b, k - base)
      s"""ms$j AS (SELECT r.query_id, r.neighbor_id, r.rel_sc,
         |    CAST(max(ps.sim_sc) AS BIGINT) AS maxsim_sc
         |  FROM cand r JOIN ps ON ps.query_id = r.query_id AND ps.a = r.neighbor_id
         |  JOIN sel${j - 1} s ON s.query_id = ps.query_id AND s.neighbor_id = ps.b
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${j - 1} z
         |    WHERE z.query_id = r.query_id AND z.neighbor_id = r.neighbor_id)
         |  GROUP BY 1, 2, 3),
         |pick$j AS (SELECT query_id, CAST($base + rn AS BIGINT) AS mmr_rank,
         |    neighbor_id, rel_sc, maxsim_sc,
         |    $lambdaBp * rel_sc - $mu * maxsim_sc AS score_sc FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY $lambdaBp * rel_sc - $mu * maxsim_sc DESC, neighbor_id) AS rn
         |  FROM ms$j) WHERE rn <= $take),
         |sel$j AS (SELECT * FROM sel${j - 1} UNION ALL SELECT * FROM pick$j)""".stripMargin
    }.mkString(",\n")
  }

  private val qMmrBatched = Q(
    "q_mmr_batched",
    "batched MMR (pickBatch=6: 6 picks per round against prior rounds' selection) — the deep-list serving knob, round-major semantics oracle-pinned",
    (s, d) => {
      val e = t(s, d).embeddings
      Similarity.mmrRerank(e.filter(col("vec_id") < MmrQueries), e,
        "vec_id", "embedding", n = MmrBatchN, k = MmrBatchK,
        lambdaBp = MmrLambdaBp, pickBatch = MmrBatchB)
    },
    Some(s"""WITH ${sqlMmrCandCtes(MmrBatchN)},
            |${sqlMmrFirstRound("rn", s"rn <= $MmrBatchB")},
            |${sqlMmrBatchedSteps(MmrBatchK, MmrBatchB, MmrLambdaBp)}
            |SELECT query_id, mmr_rank, neighbor_id, rel_sc, maxsim_sc, score_sc
            |FROM sel${(MmrBatchK + MmrBatchB - 1) / MmrBatchB}""".stripMargin))

  private val qMmrRerank = Q(
    "q_mmr_rerank",
    "maximal-marginal-relevance diversification of the cosine top-n (greedy λ·rel − (1−λ)·max-sim)",
    (s, d) => {
      val e = t(s, d).embeddings
      Similarity.mmrRerank(e.filter(col("vec_id") < MmrQueries), e,
        "vec_id", "embedding", n = MmrN, k = MmrK, lambdaBp = MmrLambdaBp)
    },
    Some(s"""WITH ${sqlMmrCandCtes(MmrN)},
            |${sqlMmrFirstRound("1", "rn = 1")},
            |${sqlMmrSteps(MmrK, MmrLambdaBp)}
            |SELECT query_id, mmr_rank, neighbor_id, rel_sc, maxsim_sc, score_sc
            |FROM sel$MmrK""".stripMargin))

  // Exhaustive all-pairs ground truth at a LOW threshold (0.4 = the random
  // tail on this data): inherently Θ(n²) — no sub-quadratic exact method
  // exists for low-threshold dense cosine (measured: every banded-LSH
  // parameterization with 100% recall here makes ≥94% of pairs candidates).
  // So, like its quadratic siblings (jaccard <500, levenshtein <60), it is
  // bounded to a constant-size verifier slice; the unbounded scale path at
  // real near-dup thresholds is q_neardup_banded below.
  private val qEmbedNearDup = Q(
    "q_embed_neardup",
    "embedding-cosine near-dup pairs (bounded exhaustive ground truth)",
    (s, d) =>
      Similarity.cosineNearDupPairs(
        t(s, d).embeddings.filter(col("vec_id") < 1000), "vec_id", "embedding", 0.4),
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
           |          WHERE vec_id < 1000),
           |n AS (SELECT vec_id, e, list_dot_product(e, e) AS n2 FROM v),
           |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |  round(list_dot_product(a.e, b.e) / sqrt(a.n2 * b.n2), 4) AS cos_sim
           |FROM n a JOIN n b ON a.vec_id < b.vec_id)
           |SELECT vec_a, vec_b, cos_sim FROM p WHERE cos_sim >= 0.4""".stripMargin))

  // The embedding near-dup SCALE path: multi-band SRP-LSH candidates
  // (equi-join on (band, 16-bit code) — no theta join) + exact in-bucket
  // verify, over the corpus augmented with deterministically perturbed
  // copies (vec_id+100000, every component +0.01) so true near-dups exist.
  // The oracle is the EXHAUSTIVE all-pairs SQL over the same augmented
  // corpus — recall of the LSH path is genuinely hash-gated, not assumed.
  private val qNearDupBanded = Q(
    "q_neardup_banded",
    "banded SRP-LSH near-dup pairs at 0.95, exact-verified, vs exhaustive oracle",
    (s, d) => {
      val base = t(s, d).embeddings
        .select(col("vec_id").cast("long").as("vec_id"),
          Similarity.toDouble(col("embedding")).as("v"))
      // the perturbed-copy ids offset by max+1 (a one-row broadcast
      // frame), NOT a fixed constant: a fixed 100000 collided with real
      // ids beyond sf0.1, silently merging two different vectors under
      // one id (found by the r9 sf100 study — ids reached 2M there)
      val off = broadcast(base.agg((max(col("vec_id")) + 1L).as("off")))
      val aug = base.unionByName(base.crossJoin(off).select(
        (col("vec_id") + col("off")).as("vec_id"),
        transform(col("v"), x => x + lit(0.01)).as("v")))
      // bitsPerBand = 0 → auto-sized from the corpus count
      // (Similarity.autoBitsPerBand: ⌈log₂ n⌉ + slack), so the random-
      // candidate floor stays linear in n instead of quadratic at a
      // fixed 16-bit width.
      Similarity.nearDupBanded(aug, "vec_id", "v", dims = 64, threshold = 0.95,
        bitsPerBand = 0)
    },
    Some("""WITH base AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
           |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |aug AS (SELECT vec_id, v FROM base
           |  UNION ALL
           |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM base),
           |    list_transform(v, x -> x + 0.01) FROM base),
           |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM aug),
           |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |  round(list_dot_product(a.v, b.v) / sqrt(a.n2 * b.n2), 4) AS cos_sim
           |FROM n a JOIN n b ON a.vec_id < b.vec_id)
           |SELECT vec_a, vec_b, cos_sim FROM p WHERE cos_sim >= 0.95""".stripMargin))

  // Band-width sensitivity sweep (VERDICT r6 #6): make the
  // Similarity.autoBitsPerBand sizing rule ORACLE-OBSERVABLE. Same
  // planted-near-dup augmented corpus as q_neardup_banded; for each
  // swept bitsPerBand the output row is (bits, n_candidates,
  // n_true_found) — candidates collapse ~2^4 per +4 bits (the
  // n²·numBands/2^bits random floor) while true dups found stays flat,
  // so the knee of the candidates curve demonstrates the rule. The
  // oracle rebuilds the SRP band codes in SQL from the same md5-derived
  // planes (planeComponent is engine-independent by construction).
  private val SweepWidths = Seq(12, 16, 20, 24)

  /** The sweep's DECLARED input slice (the suffix-family bounded-
    * diagnostic convention): the sweep deliberately includes too-narrow
    * band widths whose candidate sets are the n²/2^bits random floor —
    * the POINT of the diagnostic — so its verify stage is quadratic in
    * the slice by design and must not ride corpus growth (materializing
    * 12-bit candidates over sf10's 2M vectors is ~10¹⁰ cosines — the
    * noop-drive bench OOMed exactly there; count() had been silently
    * pruning the unique-key vector joins and the cosines with them).
    * 20k = the full sf0.1 table, so sf0.1 numbers are unchanged and
    * bigger SFs measure the same knee on the same slice. Production
    * tuning stays with the capped queries (q_neardup_banded).
    */
  private val SweepMaxVec = 20000L

  private val qBandSweep = Q(
    "q_band_sweep",
    "SRP band-width sweep: candidate pairs vs true near-dups found per bitsPerBand (declared bounded slice)",
    (s, d) => {
      val base = t(s, d).embeddings
        .filter(col("vec_id") < SweepMaxVec)
        .select(col("vec_id").cast("long").as("vec_id"),
          Similarity.toDouble(col("embedding")).as("v"))
      // dynamic max+1 offset for the perturbed copies (same collision
      // fix as q_neardup_banded)
      val off = broadcast(base.agg((max(col("vec_id")) + 1L).as("off")))
      val aug = base.unionByName(base.crossJoin(off).select(
        (col("vec_id") + col("off")).as("vec_id"),
        transform(col("v"), x => x + lit(0.01)).as("v")))
      Similarity.bandWidthSweep(aug, "vec_id", "v", dims = 64, threshold = 0.95,
        widths = SweepWidths)
    },
    Some {
      val nPlanes = Similarity.SweepBands * SweepWidths.max
      // per-width grid of (band, global plane index, bit value) literals —
      // plane p = band*bits + i, bit value 2^i, exactly SrpBank's layout
      val grids = SweepWidths.map { bits =>
        val rows = (for { band <- 0 until Similarity.SweepBands; i <- 0 until bits }
          yield s"($band, ${band * bits + i}, ${1L << i})").mkString(", ")
        s"g$bits(band, p, bv) AS (VALUES $rows)"
      }
      val codes = SweepWidths.map { bits =>
        s"""c$bits AS (SELECT g.band, a.vec_id,
           |  CAST(sum(CASE WHEN list_dot_product(a.v, pl.plane) > 0
           |           THEN g.bv ELSE 0 END) AS BIGINT) AS code
           |FROM g$bits g JOIN pl USING (p) CROSS JOIN aug a GROUP BY 1, 2)""".stripMargin
      }
      val cands = SweepWidths.map { bits =>
        s"""k$bits AS (SELECT DISTINCT c1.vec_id AS a, c2.vec_id AS b
           |FROM c$bits c1 JOIN c$bits c2 ON c1.band = c2.band
           |  AND c1.code = c2.code AND c1.vec_id < c2.vec_id)""".stripMargin
      }
      val selects = SweepWidths.map { bits =>
        s"""SELECT $bits AS bits, CAST(count(*) AS BIGINT) AS n_candidates,
           |  CAST(coalesce(sum(CASE WHEN
           |    round(list_dot_product(x.v, y.v) / sqrt(x.n2 * y.n2), 4) >= 0.95
           |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true_found
           |FROM k$bits k JOIN n x ON x.vec_id = k.a JOIN n y ON y.vec_id = k.b""".stripMargin
      }
      s"""WITH base AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  WHERE vec_id < $SweepMaxVec),
         |aug AS (SELECT vec_id, v FROM base
         |  UNION ALL
         |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM base),
         |    list_transform(v, x -> x + 0.01) FROM base),
         |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM aug),
         |pl AS (SELECT p, list_transform(range(0, 64), d ->
         |    CAST('0x' || substr(md5('p' || p || ':d' || d), 1, 8) AS BIGINT)
         |      / 4294967295.0 - 0.5) AS plane
         |  FROM range(0, $nPlanes) t(p)),
         |${(grids ++ codes ++ cands).mkString(",\n")}
         |${selects.mkString("\nUNION ALL\n")}""".stripMargin
    })

  // The pipeline-ORDERING demonstration behind every bucket cap in the
  // dedup family: exact duplicates are removed BEFORE near-dup banding,
  // so mass-identical vectors never reach the band join at all. The
  // corpus plants BOTH kinds of duplicate — +0.01-perturbed copies
  // (near-dups the bander must find) and verbatim copies (exact dups
  // the first stage must collapse); output = the near-dup pairs over
  // the exact-deduped survivors, oracle = exhaustive SQL over the same
  // two-stage construction. Exact dedup groups by the vector VALUE
  // (arrays are grouping keys in both engines — no float rendering in
  // any key), keeping the min id per distinct vector.
  private val qDedupOrder = Q(
    "q_dedup_order",
    "exact-dedup-before-near-dup ordering: verbatim copies collapse before banding",
    (s, d) => {
      val base = t(s, d).embeddings
        .select(col("vec_id").cast("long").as("vec_id"),
          Similarity.toDouble(col("embedding")).as("v"))
      val off = broadcast(base.agg((max(col("vec_id")) + 1L).as("off")))
      val aug = base
        .unionByName(base.crossJoin(off).select(
          (col("vec_id") + col("off")).as("vec_id"),
          transform(col("v"), x => x + lit(0.01)).as("v")))
        .unionByName(base.crossJoin(off).select(
          (col("vec_id") + col("off") * 2).as("vec_id"), col("v")))
      val survivors = aug.groupBy(col("v")).agg(min(col("vec_id")).as("vec_id"))
        .select(col("vec_id"), col("v"))
      Similarity.nearDupBanded(survivors, "vec_id", "v", dims = 64,
        threshold = 0.95, bitsPerBand = 0)
    },
    Some("""WITH base AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
           |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |o AS (SELECT max(vec_id) + 1 AS off FROM base),
           |aug AS (SELECT vec_id, v FROM base
           |  UNION ALL
           |  SELECT vec_id + (SELECT off FROM o),
           |    list_transform(v, x -> x + 0.01) FROM base
           |  UNION ALL
           |  SELECT vec_id + 2 * (SELECT off FROM o), v FROM base),
           |surv AS (SELECT min(vec_id) AS vec_id, v FROM aug GROUP BY v),
           |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM surv),
           |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |  round(list_dot_product(a.v, b.v) / sqrt(a.n2 * b.n2), 4) AS cos_sim
           |FROM n a JOIN n b ON a.vec_id < b.vec_id)
           |SELECT vec_a, vec_b, cos_sim FROM p WHERE cos_sim >= 0.95""".stripMargin))

  private val sqlToks = """string_split_regex(trim(text), '\s+')"""

  /** DuckDB twin of `TF.langIdGuess`: one `sc_<lang>` marker-count column
    * per language ([[sqlLangScores]]), folded into the guess
    * ([[sqlLangGuess]]) exactly as the Spark side folds — strict >, the
    * earlier language wins ties.
    */
  private val sqlLangScores = TF.LangMarkers.map { case (lang, marks) =>
    val ms = marks.map(m => s"'$m'").mkString(", ")
    s"len(list_filter($sqlToks, t -> t IN ($ms))) AS sc_$lang"
  }.mkString(",\n  ")
  private val sqlLangGuess = TF.LangMarkers.foldLeft(("'und'", "0")) { case ((bl, bs), (lang, _)) =>
    (s"(CASE WHEN sc_$lang > $bs THEN '$lang' ELSE $bl END)", s"greatest(sc_$lang, $bs)")
  }._1

  /** The en-marker token count of `text`, the score [[qAuc]] and
    * [[qPrCurve]] evaluate ([[sqlEnScore]] is its DuckDB twin).
    */
  private def enScore: Column =
    size(filter(TF.tokens(col("text")),
      t2 => t2.isin(TF.LangMarkers.toMap.apply("en").map(lit): _*)))
  private val sqlEnScore = {
    val ms = TF.LangMarkers.toMap.apply("en").map(m => s"'$m'").mkString(", ")
    s"CAST(len(list_filter($sqlToks, t -> t IN ($ms))) AS BIGINT)"
  }

  private val qTextQuality = Q(
    "q_text_quality",
    "quality scoring + language-ID + fingerprint",
    (s, d) => {
      val txt = col("text")
      val fp  = md5(concat_ws(" ", array_sort(array_distinct(TF.tokens(txt)))))
      t(s, d).documents
        .select(
          col("doc_id"),
          TF.tokenCount(txt).cast("long").as("n_tokens"),
          length(txt).cast("long").as("n_chars_actual"),
          TF.punctRatio(txt).as("punct_ratio"),
          TF.stopwordRatio(txt).as("stopword_ratio"),
          TF.qualityScore(txt).as("quality"),
          TF.langIdGuess(txt).as("lang_guess"),
          fp.as("fp"))
        .withColumn(
          "is_dup",
          (count(lit(1)).over(Window.partitionBy(col("fp"))) > 1))
    },
    Some {
      val stops = TF.Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH base AS (SELECT doc_id, text,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($sqlToks) END AS BIGINT) AS n_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars_actual,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) / length(text) END AS punct_ratio,
         |  len(list_filter($sqlToks, t -> t IN ($stops))) AS n_stop,
         |  $sqlLangScores,
         |  md5(list_aggregate(list_sort(list_distinct($sqlToks)), 'string_agg', ' ')) AS fp
         |FROM documents),
         |m AS (SELECT doc_id, n_tokens, n_chars_actual, punct_ratio,
         |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE n_stop / n_tokens END AS stopword_ratio,
         |  (least(n_tokens, 64) / 64.0) * 0.5 + (1.0 - punct_ratio) * 0.3
         |    + least((CASE WHEN n_tokens = 0 THEN 0.0 ELSE n_stop / n_tokens END) * 4.0, 1.0) * 0.2 AS quality,
         |  $sqlLangGuess AS lang_guess, fp
         |FROM base)
         |SELECT doc_id, n_tokens, n_chars_actual, punct_ratio, stopword_ratio, quality,
         |  lang_guess, fp, (count(*) OVER (PARTITION BY fp)) > 1 AS is_dup
         |FROM m""".stripMargin
    })

  private val qPackBudget = Q(
    "q_pack_budget",
    "sequence packing: cumulative token-budget bins per language shard",
    (s, d) => {
      // training-data packing shape: docs stream in id order per shard
      // (here: lang), each bin takes docs until the RUNNING token count
      // crosses the budget (a bin may overflow by its last doc — the
      // deterministic streaming-packer rule). Scale note: the window is
      // per shard; production packs within (shard, partition) so no
      // single partitionBy key grows unboundedly.
      val budget = 2048
      val nt = TF.tokenCount(col("text")).cast("long")
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, d).documents
        .select(col("lang"), col("doc_id"), nt.as("nt"))
        .withColumn("cum_before", coalesce(sum(col("nt")).over(w), lit(0L)))
        .withColumn("bin", (col("cum_before") / lit(budget)).cast("long"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("sum_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
    },
    Some(s"""WITH dd AS (SELECT lang, doc_id,
            |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($sqlToks) END AS BIGINT) AS nt
            |  FROM documents),
            |c AS (SELECT lang, doc_id, nt,
            |    COALESCE(sum(nt) OVER (PARTITION BY lang ORDER BY doc_id
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
            |  FROM dd)
            |SELECT lang, CAST(cum_before // 2048 AS BIGINT) AS bin,
            |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(nt) AS BIGINT) AS sum_tokens,
            |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
            |FROM c GROUP BY 1, 2""".stripMargin))

  /** The padding-waste report oracle over the shard key that `shard`
    * (the head of `dd`'s select list: ` … AS shard, doc_id,`) defines:
    * per shard, batches of 32 in arrival order (`b1`) and in length
    * order (`b2`), one report row per arm.
    */
  private def sqlLengthBatch(shard: String): String = {
    val batches = (1 to 2).map(i =>
      s"""b$i AS (SELECT shard, (rn - 1) // 32 AS batch, CAST(count(*) AS BIGINT) AS bn,
         |    CAST(max(nt) AS BIGINT) AS mx, CAST(sum(nt) AS BIGINT) AS st
         |  FROM a$i GROUP BY 1, 2)""".stripMargin).mkString(",\n")
    val arms = Seq("arrival", "length").zip(1 to 2).map { case (arm, i) =>
      s"""  SELECT shard, '$arm' AS arm, CAST(count(*) AS BIGINT) AS n_batches,
         |    CAST(sum(st) AS BIGINT) AS sum_tokens,
         |    CAST(sum(bn * mx) AS BIGINT) AS slot_tokens,
         |    CAST(sum(bn * mx - st) AS BIGINT) AS padded_tokens
         |  FROM b$i GROUP BY 1""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH dd AS (SELECT$shard
       |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($sqlToks) END AS BIGINT) AS nt
       |  FROM documents),
       |a1 AS (SELECT shard, nt,
       |    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM dd),
       |a2 AS (SELECT shard, nt,
       |    row_number() OVER (PARTITION BY shard ORDER BY nt DESC, doc_id) AS rn FROM dd),
       |$batches,
       |u AS (
       |$arms)
       |SELECT shard, arm, n_batches, sum_tokens, slot_tokens, padded_tokens,
       |  CASE WHEN slot_tokens > 0 THEN (padded_tokens * 10000) // slot_tokens
       |    ELSE 0 END AS waste_bp
       |FROM u""".stripMargin
  }

  private val qLengthBatch = Q(
    "q_length_batch",
    "length-grouped batching padding-waste report, lang-keyed A/B arm (5 labels = per-language single-task sort, 2.1x slower at sf100; production uses q_length_batch_sharded)",
    (s, d) => graft.operators.Sharding.lengthBatchReport(
      t(s, d).documents, "doc_id", "text", "lang", batchSize = 32),
    Some(sqlLengthBatch(" lang AS shard, doc_id,")))

  /** Shard count for [[qLengthBatchSharded]] — the production
    * parameterization of the padding-waste report: window parallelism
    * equals the shard-key cardinality, so the 5-value `lang` label of
    * [[qLengthBatch]] (kept for oracle literalness, flagged as the
    * scale-skewed shape — one task sorts an entire language) is
    * replaced by the loader-manifest hash shard. 32 here; production =
    * loader-worker count (hundreds-thousands), same code path.
    */
  private val LengthShardCount = 32

  private val qLengthBatchSharded = Q(
    "q_length_batch_sharded",
    "padding-waste report under the PRODUCTION shard key: loader-manifest hash shards (32-way window parallelism), no per-label single-task sort",
    (s, d) => graft.operators.Sharding.lengthBatchReport(
      t(s, d).documents.withColumn("loader_shard",
        graft.operators.Sharding.shardKey(col("doc_id"), LengthShardCount)),
      "doc_id", "text", "loader_shard", batchSize = 32),
    Some(sqlLengthBatch(s"""
      |    CAST('0x' || substr(md5('ep0:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      |      % $LengthShardCount AS shard,
      |    doc_id,""".stripMargin)))

  // Data-loader shard assignment — operators/Sharding.shardManifest
  // (see its scaladoc for the determinism and parallelism-=-shards
  // contract). The catalog pins 8 shards so the oracle stays literal;
  // the production path auto-sizes from a rows-per-shard target
  // (Sharding.autoShardCount — spec-pinned so no shard can exceed the
  // target by more than hash-balance jitter). Emitting per-doc rows is
  // the point: this query IS the loader manifest.
  private val ShardCount = 8
  private val qShardAssign = Q(
    "q_shard_assign",
    "deterministic epoch-salted shard + position assignment for training data loaders",
    (s, d) => graft.operators.Sharding.shardManifest(
      t(s, d).documents, "doc_id", numShards = ShardCount, epoch = 0),
    Some(s"""WITH h AS (SELECT doc_id, md5('ep0:' || CAST(doc_id AS VARCHAR)) AS h
            |  FROM documents),
            |s AS (SELECT doc_id, h,
            |  CAST('0x' || substr(h, 1, 15) AS BIGINT) % $ShardCount AS shard FROM h)
            |SELECT doc_id, shard,
            |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
            |FROM s""".stripMargin))

  private val qGlobalShuffle = Q(
    "q_global_shuffle",
    "global epoch-shuffle positions without a global sort: hash-prefix buckets + driver prefix-sum offsets",
    (s, d) => graft.operators.Sharding.globalOrder(
      t(s, d).documents, "doc_id", epoch = 0),
    // the oracle IS the naive global sort the operator avoids: one
    // row_number over the whole corpus — identical output, single-task
    // shape. The Spark side assigns the same rank via per-bucket
    // windows + broadcast bucket offsets (buckets are hash PREFIXES, so
    // bucket boundaries are exact global-order boundaries).
    Some("""SELECT doc_id,
           |  CAST(row_number() OVER (
           |    ORDER BY md5('ep0:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) - 1 AS pos
           |FROM documents""".stripMargin))

  private val qSampleWeighted = Q(
    "q_sample_weighted",
    "quality-weighted deterministic sampling (keep-probability = quality score)",
    (s, d) => {
      // P(keep) = qualityScore, decided by content-independent hash bytes
      // (md5 of the salted id): reproducible on any engine/cluster, no
      // RNG state, and the acceptance threshold is a pure function of the
      // row — the weighted generalization of q_sample_split
      val h  = md5(concat(lit("wsample:"), col("doc_id").cast("string")))
      val hi = ascii(substring(h, 1, 1))
      val lo = ascii(substring(h, 2, 1))
      val b  = (when(hi <= 57, hi - 48).otherwise(hi - 87) * 16 +
        when(lo <= 57, lo - 48).otherwise(lo - 87))
      val q  = TF.qualityScore(col("text"))
      t(s, d).documents
        .select(col("lang"), col("doc_id"), col("text"), b.as("b"), q.as("q"))
        .withColumn("kept", col("b") < floor(col("q") * 256).cast("int"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), TF.tokenCount(col("text")).cast("long"))
            .otherwise(0L)).as("tokens_kept"))
    },
    Some {
      val stops = TF.Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH base AS (SELECT lang, doc_id, text,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($sqlToks) END AS BIGINT) AS n_tokens,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) / length(text) END AS punct_ratio,
         |  len(list_filter($sqlToks, t -> t IN ($stops))) AS n_stop,
         |  (CASE WHEN ascii(substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 1)) <= 57
         |        THEN ascii(substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 48
         |        ELSE ascii(substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 87 END) * 16 +
         |  (CASE WHEN ascii(substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 2, 1)) <= 57
         |        THEN ascii(substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 48
         |        ELSE ascii(substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 87 END) AS b
         |FROM documents),
         |m AS (SELECT lang, n_tokens,
         |  b < CAST(floor(((least(n_tokens, 64) / 64.0) * 0.5 + (1.0 - punct_ratio) * 0.3
         |    + least((CASE WHEN n_tokens = 0 THEN 0.0 ELSE n_stop / n_tokens END) * 4.0, 1.0) * 0.2) * 256) AS INTEGER) AS kept
         |FROM base)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
         |FROM m GROUP BY 1""".stripMargin
    })

  private val qLangProfile = Q(
    "q_lang_profile",
    "language profile / token budgeting",
    (s, d) =>
      t(s, d).documents
        .select(
          col("lang"),
          col("n_chars"),
          TF.tokenCount(col("text")).cast("long").as("nt"),
          TF.langIdGuess(col("text")).as("guess"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          (sum(col("n_chars")) / count(lit(1))).as("avg_chars"),
          sum(col("nt")).as("sum_tokens"),
          sum(when(col("guess") === col("lang"), 1).otherwise(0)).as("langid_agree")),
    Some(
      s"""WITH base AS (SELECT lang, n_chars,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($sqlToks) END AS BIGINT) AS nt,
         |  $sqlLangScores
         |FROM documents),
         |g AS (SELECT lang, n_chars, nt, $sqlLangGuess AS guess FROM base)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(n_chars) AS BIGINT) / count(*) AS avg_chars,
         |  CAST(sum(nt) AS BIGINT) AS sum_tokens,
         |  CAST(sum(CASE WHEN guess = lang THEN 1 ELSE 0 END) AS BIGINT) AS langid_agree
         |FROM g GROUP BY 1""".stripMargin))

  private val qAuc = Q(
    "q_auc",
    "exact ROC-AUC (midrank Mann-Whitney) of the langIdGuess en-marker score against the lang ground truth",
    (s, d) =>
      // threshold-free detector evaluation (the companion of
      // q_dedup_eval's precision/recall): how well does the en-marker
      // token count separate English docs? Histogram-collapsed midrank
      // rank-sum — exact int64 through the sums, one DECIMAL(38,0) DIV
      // for the final x10000 scaling (see Quality.rocAuc).
      graft.functions.Quality.rocAuc(
        t(s, d).documents,
        enScore,
        col("lang") === "en"),
    Some(
      raw"""WITH sc AS (SELECT
           |    $sqlEnScore AS s,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           |  FROM documents),
           |hist AS (SELECT s, CAST(count(*) AS BIGINT) AS cnt,
           |    CAST(sum(y) AS BIGINT) AS pos FROM sc GROUP BY 1),
           |cum AS (SELECT s, cnt, pos,
           |    CAST(COALESCE(sum(cnt) OVER (ORDER BY s
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
           |  FROM hist),
           |a AS (SELECT CAST(sum(pos) AS BIGINT) AS np,
           |    CAST(sum(cnt - pos) AS BIGINT) AS nn,
           |    CAST(sum(pos * (2*cb + cnt + 1)) AS BIGINT) AS rs2 FROM cum)
           |SELECT np AS n_pos, nn AS n_neg,
           |  CAST(CASE WHEN np > 0 AND nn > 0
           |    THEN (10000 * (rs2 - np * (np + 1))) // (2 * np * nn)
           |    ELSE -1 END AS BIGINT) AS auc_bp
           |FROM a""".stripMargin))

  private val qPrCurve = Q(
    "q_pr_curve",
    "precision/recall curve of the en-marker score vs the lang ground truth: the gate-threshold sweep behind q_auc",
    (s, d) =>
      // same histogram as q_auc, descending-cumulative: one row per
      // candidate gate threshold with exact integer precision/recall —
      // what a curation pipeline reads to pick its deployed cutoff
      graft.functions.Quality.prCurve(
        t(s, d).documents,
        enScore,
        col("lang") === "en"),
    Some(
      raw"""WITH sc AS (SELECT
           |    $sqlEnScore AS thr,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           |  FROM documents),
           |hist AS (SELECT thr, CAST(count(*) AS BIGINT) AS cnt,
           |    CAST(sum(y) AS BIGINT) AS pos FROM sc GROUP BY 1),
           |cum AS (SELECT thr,
           |    CAST(sum(pos) OVER (ORDER BY thr DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
           |    CAST(sum(cnt) OVER (ORDER BY thr DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_pred,
           |    CAST(sum(pos) OVER () AS BIGINT) AS np
           |  FROM hist)
           |SELECT thr, n_pred, tp, n_pred - tp AS fp,
           |  CAST((tp * 10000) // n_pred AS BIGINT) AS precision_bp,
           |  CAST(CASE WHEN np > 0 THEN (tp * 10000) // np ELSE -1 END AS BIGINT)
           |    AS recall_bp
           |FROM cum""".stripMargin))

  // ===========================================================================
  // Multimodal pipeline (binary content + typed metadata; operators/Multimodal)
  // ===========================================================================

  private def media(s: SparkSession, d: String): DataFrame =
    MM.mediaTable(t(s, d).documents)

  private val qMediaStats = Q(
    "q_media_stats",
    "multimodal: per-modality stats over binary + metadata columns",
    (s, d) =>
      media(s, d)
        .groupBy(col("media_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(octet_length(col("content"))).as("sum_bytes"),
          sum(col("meta.width")).as("sum_width"),
          sum(when(col("meta.duration_ms") > 0,
            (col("meta.duration_ms") / 2000).cast("long") + 1).otherwise(0L))
            .as("n_frames_2s"),
          countDistinct(md5(col("content"))).as("n_fp")),
    Some(s"""WITH m AS (${MM.sqlMediaTable})
            |SELECT media_type, CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
            |  CAST(sum(width) AS BIGINT) AS sum_width,
            |  CAST(sum(CASE WHEN duration_ms > 0 THEN duration_ms // 2000 + 1 ELSE 0 END) AS BIGINT) AS n_frames_2s,
            |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_fp
            |FROM m GROUP BY 1""".stripMargin))

  private val qMediaDecode = Q(
    "q_media_decode",
    "multimodal: batched mapPartitions decode (stub codec) + integer aspect-fit resize",
    (s, d) => {
      val decoded = MM.decodeBatched(media(s, d), MM.StubCodec)
      val resized = MM.resizeFit(decoded, 128, 128)
      resized.select(
        Seq(col("doc_id"), col("media_type"), col("out_w"), col("out_h"),
          col("n_bytes")) ++
          (0 until MM.FeatureDim).map(i => col("features")(i).as(s"f$i")): _*)
    },
    Some {
      val (ow, oh) = MM.sqlResizeFit(128, 128)
      val feats = (0 until MM.FeatureDim)
        .map(i => s"${MM.sqlFeature("text", i)} AS f$i").mkString(",\n  ")
      s"""WITH m AS (${MM.sqlMediaTable})
         |SELECT doc_id, media_type, $ow AS out_w, $oh AS out_h,
         |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |  $feats
         |FROM m""".stripMargin
    })

  private val qMediaFrames = Q(
    "q_media_frames",
    "multimodal: frame sampling via explode(sequence) on duration metadata",
    (s, d) =>
      MM.frameSample(media(s, d).filter(col("doc_id") < 100), 2000)
        .select(col("doc_id"), col("media_type"), col("frame_idx"),
          col("frame_ts_ms")),
    Some(s"""WITH m AS (${MM.sqlMediaTable}),
            |f AS (SELECT doc_id, media_type,
            |  unnest(range(0, duration_ms // 2000 + 1)) AS frame_idx
            |FROM m WHERE duration_ms > 0 AND doc_id < 100)
            |SELECT doc_id, media_type, frame_idx,
            |  frame_idx * 2000 AS frame_ts_ms FROM f""".stripMargin))

  private val qKnnIvf = Q(
    "q_knn_ivf",
    "ANN scale path: IVF (k-means-trained broadcast centroids, probe-limited search)",
    (s, d) => {
      val e = t(s, d).embeddings
      Similarity.ivfKnnCosine(
        e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
        k = 5, numCells = IvfNumCells, nProbe = 4)
    },
    Some {
      s"""WITH $sqlIvfCellCtes,
         |pr AS (SELECT query_id, qv, qn2, cell FROM (
         |  SELECT b.cid AS query_id, b.v AS qv, b.vn2 AS qn2, c.cell,
         |    row_number() OVER (PARTITION BY b.cid
         |      ORDER BY round(list_dot_product(b.qv, c.cv) / sqrt(b.qn2 * c.cn2), 4) DESC, c.cell) AS prn
         |  FROM bn b, c2 c WHERE b.cid < 10) WHERE prn <= 4),
         |sr AS (SELECT query_id, cid AS neighbor_id,
         |  round(list_dot_product(pr.qv, af.v) / sqrt(pr.qn2 * af.vn2), 4) + 0 AS cos_sim
         |FROM pr JOIN af USING (cell))
         |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM sr)
         |WHERE rank <= 5""".stripMargin
    })

  private val qRetention = Q(
    "q_retention",
    "D9 — TTL retention job over the event-time table",
    (s, d) =>
      Serving.retain(t(s, d).events, "ts", lit("2024-01-15 00:00:00").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          date_format(min(col("ts")), Fmt).as("min_ts"),
          date_format(max(col("ts")), Fmt).as("max_ts")),
    Some(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            |  strftime(min(ts), '$DuckFmt') AS min_ts,
            |  strftime(max(ts), '$DuckFmt') AS max_ts
            |FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
            |GROUP BY 1""".stripMargin))

  private val qRollingFp = Q(
    "q_rolling_fp",
    "rolling-hash (Rabin-Karp) document fingerprint + winnowing min-shingle",
    (s, d) =>
      t(s, d).documents
        .select(
          col("doc_id"),
          TF.rollingFingerprint(col("text")).as("fp_roll"),
          TF.minShingleFingerprint(col("text")).as("min_shingle")),
    Some {
      val t16s =
        s"""list_transform(
           |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
           |       ELSE string_split_regex(trim(text), '\\s+') END,
           |  t -> ${TF.sqlTok16("t")})""".stripMargin
      s"""WITH h AS (SELECT doc_id, $t16s AS hs FROM documents)
         |SELECT doc_id,
         |  ${TF.sqlRoll("hs")} AS fp_roll,
         |  list_min(list_transform(
         |    generate_series(1, greatest(len(hs) - 2, 1)),
         |    i -> ${TF.sqlRoll("hs[i:i+2]")})) AS min_shingle
         |FROM h""".stripMargin
    })

  private val qSkewSalted = Q(
    "q_skew_salted",
    "skew mitigation: two-phase salted aggregation (bit-identical to direct)",
    (s, d) =>
      graft.operators.Skew.saltedAgg(
        reviewishEvents(s, d), Seq("event_type"), saltBuckets = 8)(
        partials = Seq(
          count(lit(1)).as("pc"),
          sum(col("cents")).as("ps"),
          max(col("cents")).as("pm")),
        finals = Seq(
          sum(col("pc")).as("n"),
          sum(col("ps")).as("sum_cents"),
          max(col("pm")).as("max_cents"),
          (sum(col("ps")) / sum(col("pc"))).as("avg_cents"))),
    Some(s"""WITH e AS ($sqlReviewishEvents)
            |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(cents) AS BIGINT) AS sum_cents,
            |  CAST(max(cents) AS BIGINT) AS max_cents,
            |  CAST(sum(cents) AS BIGINT) / CAST(count(*) AS BIGINT) AS avg_cents
            |FROM e GROUP BY 1""".stripMargin))

  private val qSlidingWindow = Q(
    "q_sliding_window",
    "sliding event-time window (10 min size / 5 min slide)",
    (s, d) =>
      reviewishEvents(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .select(
          date_format(col("window.start"), Fmt).as("w_start"),
          date_format(col("window.end"), Fmt).as("w_end"),
          col("event_type"), col("n"), col("sum_cents")),
    Some(s"""WITH ev AS ($sqlReviewishEvents),
            |w AS (SELECT event_type, cents,
            |  time_bucket(INTERVAL 5 MINUTE, ts)
            |    - unnest([INTERVAL 0 MINUTE, INTERVAL 5 MINUTE]) AS ws
            |FROM ev)
            |SELECT strftime(ws, '$DuckFmt') AS w_start,
            |  strftime(ws + INTERVAL 10 MINUTE, '$DuckFmt') AS w_end,
            |  event_type, CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(cents) AS BIGINT) AS sum_cents
            |FROM w GROUP BY 1, 2, 3""".stripMargin))

  private val qSessionWindow = Q(
    "q_session_window",
    "session window (5 min gap) per event_type",
    (s, d) =>
      reviewishEvents(s, d)
        .groupBy(session_window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(
          date_format(col("session_window.start"), Fmt).as("s_start"),
          date_format(col("session_window.end"), Fmt).as("s_end"),
          col("event_type"), col("n")),
    // islands: a session breaks when the gap to the previous event is
    // >= 5 min (Spark's window is [start, last+gap), strict end)
    Some(s"""WITH ev AS ($sqlReviewishEvents),
            |o AS (SELECT event_type, ts,
            |  CASE WHEN lag(ts) OVER (PARTITION BY event_type ORDER BY ts) IS NULL
            |         OR ts - lag(ts) OVER (PARTITION BY event_type ORDER BY ts)
            |              >= INTERVAL 5 MINUTE
            |       THEN 1 ELSE 0 END AS new_s
            |FROM ev),
            |s AS (SELECT event_type, ts,
            |  sum(new_s) OVER (PARTITION BY event_type ORDER BY ts
            |    ROWS UNBOUNDED PRECEDING) AS sid
            |FROM o)
            |SELECT strftime(min(ts), '$DuckFmt') AS s_start,
            |  strftime(max(ts) + INTERVAL 5 MINUTE, '$DuckFmt') AS s_end,
            |  event_type, CAST(count(*) AS BIGINT) AS n
            |FROM s GROUP BY event_type, sid""".stripMargin))

  /** An as-of join query: each purchase of a user below 50 with that
    * user's latest click at or before it, joined by `join` (left,
    * right). The oracle is the same for every implementation.
    */
  private def asofQ(
      name: String, operators: String, join: (DataFrame, DataFrame) => DataFrame): Q = Q(
    name, operators,
    (s, d) => {
      val e = t(s, d).events
      val l = e.filter(col("event_type") === "purchase" && col("user_id") < 50)
        .select(col("user_id"), col("event_id"), col("ts"),
          cents(col("value")).as("p_cents"))
      val r = e.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(cents(col("value"))).as("click_cents"))
      join(l, r)
        .select(
          col("user_id"), col("event_id"),
          date_format(col("ts"), Fmt).as("p_ts"),
          col("click_cents"),
          date_format(col("asof_ts"), Fmt).as("click_ts"))
    },
    Some(s"""WITH l AS (SELECT user_id, event_id, ts, ${sqlCents("value")} AS p_cents
            |  FROM events WHERE event_type = 'purchase' AND user_id < 50),
            |r AS (SELECT user_id, ts, max(${sqlCents("value")}) AS click_cents
            |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
            |SELECT l.user_id, l.event_id, strftime(l.ts, '$DuckFmt') AS p_ts,
            |  r.click_cents, strftime(r.ts, '$DuckFmt') AS click_ts
            |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin))

  private val qAsofJoin = asofQ(
    "q_asof_join",
    "as-of join: latest click at-or-before each purchase, per user",
    graft.operators.AsofJoin.asofJoin(_, _, "user_id", "ts", "ts", Seq("click_cents")))

  private val qAsofJoinExec = asofQ(
    "q_asof_join_exec",
    "as-of join via the custom physical operator (AsofJoinPlan/Strategy/Exec)",
    graft.operators.AsofJoin.asofJoinMerge(_, _, "user_id", "ts", "ts", Seq("click_cents")))

  private val PivotTypes = Seq("click", "error", "purchase", "signup", "view")

  private val qPivot = Q(
    "q_pivot",
    "pivot: per-day event-type value matrix",
    (s, d) =>
      t(s, d).events
        .select(
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"), cents(col("value")).as("cents"))
        .groupBy(col("day"))
        .pivot("event_type", PivotTypes) // explicit values: no extra distinct scan
        .agg(sum(col("cents")))
        .orderBy(col("day")),
    Some {
      val cols = PivotTypes.map(t =>
        s"CAST(sum(CASE WHEN event_type = '$t' THEN cents END) AS BIGINT) AS \"$t\"")
        .mkString(",\n  ")
      s"""SELECT strftime(ts, '%Y-%m-%d') AS day,
         |  $cols
         |FROM (SELECT ts, event_type, ${sqlCents("value")} AS cents FROM events)
         |GROUP BY 1""".stripMargin
    })

  private val qSetOps = Q(
    "q_set_ops",
    "set operations: intersect / except over key sets",
    (s, d) => {
      val e = t(s, d).events
      def users(typ: String) =
        e.filter(col("event_type") === typ).select(col("user_id")).distinct()
      val both    = users("purchase").intersect(users("error"))
        .withColumn("set_op", lit("purchase_and_error"))
      val onlyBuy = users("purchase").except(users("error"))
        .withColumn("set_op", lit("purchase_not_error"))
      both.unionByName(onlyBuy)
    },
    Some("""WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
           |e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
           |SELECT user_id, 'purchase_and_error' AS set_op FROM (SELECT * FROM p INTERSECT SELECT * FROM e)
           |UNION ALL
           |SELECT user_id, 'purchase_not_error' AS set_op FROM (SELECT * FROM p EXCEPT SELECT * FROM e)""".stripMargin))

  /** Interval-side bound for the two range-join queries. The testdata's
    * event stream covers the SAME 30 days at every SF, so density grows
    * with SF and an UNBOUNDED interval side makes the match count
    * quadratic in SF — measured at the r12 sf100 stress run: 0.93B
    * matches at sf10 → 92.8B at sf100 (634 s / 1913 s, and the heap
    * pressure failed every later query in the session). An enumeration
    * join's output IS its matches, so the catalog queries bound the
    * interval side to a fixed slice (the q_edit_distance convention):
    * output then grows linearly with the point side. A production
    * pipeline wanting only per-interval COUNT/SUM at unbounded density
    * should not enumerate at all — cumulative (prefix-sum) lookups at
    * interval endpoints, the as-of join shape, are the O(N+M) plan.
    */
  private val RangeJoinMaxId = 2000L

  private val qRangeJoin = Q(
    "q_range_join",
    "range join: purchases inside 10-min windows after each error event (bounded interval slice)",
    (s, d) => {
      val e = t(s, d).events
      val outages = e.filter(col("event_type") === "error" &&
          col("event_id") < RangeJoinMaxId)
        .select(col("event_id").as("outage_id"), col("ts").as("o_start"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("o_end"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("ts"), cents(col("value")).as("cents"))
      graft.operators.RangeJoin
        .pointInInterval(purchases, "ts", outages, "o_start", "o_end",
          bucketSeconds = 600)
        .groupBy(col("outage_id"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("sum_cents"))
    },
    Some(s"""WITH o AS (SELECT event_id AS outage_id, ts AS o_start,
            |    ts + INTERVAL 10 MINUTE AS o_end
            |  FROM events WHERE event_type = 'error' AND event_id < $RangeJoinMaxId),
            |p AS (SELECT ts, ${sqlCents("value")} AS cents
            |  FROM events WHERE event_type = 'purchase')
            |SELECT outage_id, CAST(count(*) AS BIGINT) AS n_purchases,
            |  CAST(sum(cents) AS BIGINT) AS sum_cents
            |FROM p JOIN o ON p.ts BETWEEN o.o_start AND o.o_end
            |GROUP BY 1""".stripMargin))

  private val qQuantileSketch = Q(
    "q_quantile_sketch",
    "custom TypedImperativeAggregate: GK quantile sketch (exact regime)",
    (s, d) => {
      // capacity >> group size → no compression fires → the sketch's
      // rank selections are exact (the oracle-able regime, same pattern
      // as q_heavy_hitters); the property spec covers the sketch regime
      val probs = Seq(0.25, 0.5, 0.75, 0.95)
      t(s, d).events
        .select(col("event_type"), cents(col("value")).as("c"))
        .groupBy(col("event_type"))
        .agg(graft.functions.expressions.NativeExpressions
          .quantileSketch(col("c"), probs, 100000).as("qs"))
        .select(col("event_type"),
          col("qs")(0).as("p25"), col("qs")(1).as("p50"),
          col("qs")(2).as("p75"), col("qs")(3).as("p95"))
    },
    Some {
      // disc convention: value at 0-based rank floor((n-1)*q) per group,
      // with the SAME double arithmetic as the sketch's query()
      def pick(q: String, as: String) =
        s"max(CASE WHEN rn = CAST(floor((n - 1) * $q) AS BIGINT) + 1 THEN c END) AS $as"
      s"""WITH x AS (SELECT event_type, ${sqlCents("value")} AS c FROM events),
         |r AS (SELECT event_type, c,
         |    row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM x)
         |SELECT event_type,
         |  ${pick("0.25", "p25")},
         |  ${pick("0.5", "p50")},
         |  ${pick("0.75", "p75")},
         |  ${pick("0.95", "p95")}
         |FROM r GROUP BY 1""".stripMargin
    })

  private val qGroupingSets = Q(
    "q_grouping_sets",
    "explicit GROUPING SETS: chosen combinations only (cube/rollup sibling)",
    (s, d) =>
      t(s, d).events
        .select(
          col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          cents(col("value")).as("cents"))
        // (type, day) detail, per-type totals, grand total — but NOT
        // per-day totals, which is what cube can't express and rollup
        // only gets by accident of column order
        .groupingSets(
          Seq(Seq(col("event_type"), col("day")), Seq(col("event_type")), Seq()),
          col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents")),
    Some(s"""SELECT event_type, day, CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(cents) AS BIGINT) AS sum_cents
            |FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
            |  ${sqlCents("value")} AS cents FROM events)
            |GROUP BY GROUPING SETS ((event_type, day), (event_type), ())""".stripMargin))

  private val qRangeJoinAuto = Q(
    "q_range_join_auto",
    "range join via optimizer rule: the NAIVE inequality join, auto-rewritten",
    (s, d) => {
      // written exactly as a user would: a theta join on ts BETWEEN s AND e.
      // GraftExtensions' RangeJoinRule rewrites it to the bucketed
      // equi-join (same rows, no BroadcastNestedLoopJoin) — plan-audited
      // in ExtensionsSpec.
      val e = t(s, d).events
      val wins = e.filter(col("event_type") === "signup" &&
          col("event_id") < RangeJoinMaxId)
        .select(col("event_id").as("win_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 15 MINUTES")).as("w_end"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("ts"), cents(col("value")).as("cents"))
      clicks
        .join(wins, col("ts") >= col("w_start") && col("ts") <= col("w_end"))
        .groupBy(col("win_id"))
        .agg(count(lit(1)).as("n_clicks"), sum(col("cents")).as("sum_cents"))
    },
    Some(s"""WITH w AS (SELECT event_id AS win_id, ts AS w_start,
            |    ts + INTERVAL 15 MINUTE AS w_end
            |  FROM events WHERE event_type = 'signup' AND event_id < $RangeJoinMaxId),
            |c AS (SELECT ts, ${sqlCents("value")} AS cents
            |  FROM events WHERE event_type = 'click')
            |SELECT win_id, CAST(count(*) AS BIGINT) AS n_clicks,
            |  CAST(sum(cents) AS BIGINT) AS sum_cents
            |FROM c JOIN w ON c.ts >= w.w_start AND c.ts <= w.w_end
            |GROUP BY 1""".stripMargin))

  private val qHeavyHitters = Q(
    "q_heavy_hitters",
    "custom TypedImperativeAggregate: Misra-Gries vocabulary heavy hitters",
    (s, d) => {
      // k=256 >> |vocabulary| → counts are exact (oracle = plain GROUP BY)
      val hh = t(s, d).documents
        .select(explode(TF.tokens(col("text"))).as("item"))
        .agg(graft.functions.expressions.NativeExpressions
          .heavyHitters(col("item"), 256).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("item"), col("e.cnt").as("cnt"))
      // top-25 via TakeOrderedAndProject (no global-window shuffle or
      // "no partition defined" warning); rank only the 25 survivors,
      // with a constant partition key to keep WindowExec quiet
      hh.orderBy(col("cnt").desc, col("item"))
        .limit(25)
        .withColumn("rank",
          row_number().over(
            Window.partitionBy(lit(0)).orderBy(col("cnt").desc, col("item"))))
        .withColumn("rank", col("rank").cast("int"))
    },
    Some(s"""WITH toks AS (SELECT unnest($sqlToks) AS item
            |  FROM documents WHERE length(trim(text)) > 0),
            |c AS (SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1)
            |SELECT item, cnt, CAST(rank AS INTEGER) AS rank FROM (
            |  SELECT *, row_number() OVER (ORDER BY cnt DESC, item) AS rank FROM c)
            |WHERE rank <= 25""".stripMargin))

  private val qCube = Q(
    "q_cube",
    "cube: all grouping-set combinations of (event_type, day)",
    (s, d) =>
      t(s, d).events
        .select(
          col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          cents(col("value")).as("cents"))
        .cube(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents")),
    Some(s"""SELECT event_type, day, CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(cents) AS BIGINT) AS sum_cents
            |FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
            |  ${sqlCents("value")} AS cents FROM events)
            |GROUP BY CUBE (event_type, day)""".stripMargin))

  private val qSampleSplit = Q(
    "q_sample_split",
    "deterministic train/val/test split by content hash (no RNG state)",
    (s, d) => {
      // first md5 byte of the salted id: 0..255; <204 train (~80%),
      // <230 val (~10%), else test — reproducible on any engine/cluster
      val h  = md5(concat(lit("split:"), col("doc_id").cast("string")))
      val b  = {
        val hi = ascii(substring(h, 1, 1))
        val lo = ascii(substring(h, 2, 1))
        (when(hi <= 57, hi - 48).otherwise(hi - 87) * 16 +
          when(lo <= 57, lo - 48).otherwise(lo - 87))
      }
      t(s, d).documents
        .select(col("doc_id"), col("lang"),
          when(b < 204, "train").when(b < 230, "val").otherwise("test").as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), countDistinct(col("lang")).as("n_langs"))
    },
    Some("""WITH h AS (SELECT doc_id, lang,
           |  (CASE WHEN ascii(substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)) <= 57
           |        THEN ascii(substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 48
           |        ELSE ascii(substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 87 END) * 16 +
           |  (CASE WHEN ascii(substr(md5('split:' || CAST(doc_id AS VARCHAR)), 2, 1)) <= 57
           |        THEN ascii(substr(md5('split:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 48
           |        ELSE ascii(substr(md5('split:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 87 END) AS b
           |FROM documents)
           |SELECT CASE WHEN b < 204 THEN 'train' WHEN b < 230 THEN 'val' ELSE 'test' END AS split,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
           |FROM h GROUP BY 1""".stripMargin))

  private val qSampleStratified = Q(
    "q_sample_stratified",
    "stratified deterministic sample: bottom-5 per language by content hash",
    (s, d) =>
      t(s, d).documents
        .withColumn("h", md5(concat(lit("sample:"), col("doc_id").cast("string"))))
        .withColumn("rank",
          row_number().over(
            Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))))
        .filter(col("rank") <= 5)
        .select(col("lang"), col("doc_id"), col("rank").cast("int").as("rank")),
    Some("""SELECT lang, doc_id, CAST(rank AS INTEGER) AS rank FROM (
           |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
           |    ORDER BY md5('sample:' || CAST(doc_id AS VARCHAR)), doc_id) AS rank
           |  FROM documents)
           |WHERE rank <= 5""".stripMargin))

  private val qEmbedCentroid = Q(
    "q_embed_centroid",
    "per-label embedding centroids (element-wise vector aggregation)",
    (s, d) =>
      t(s, d).embeddings
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        // exact integer micro-units: element sums are order-independent
        .withColumn("sv", round(col("v").cast("double") * 1000000).cast("long"))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("sv")).as("s"), count(lit(1)).as("n"))
        .select(col("label"), col("pos"),
          (col("s") / col("n") / 1000000.0).as("centroid")),
    Some("""WITH x AS (SELECT label,
           |  unnest(generate_series(0, len(embedding) - 1)) AS pos,
           |  unnest(embedding) AS v
           |FROM embeddings)
           |SELECT label, pos,
           |  CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT)) AS BIGINT)
           |    / count(*) / 1000000.0 AS centroid
           |FROM x GROUP BY 1, 2""".stripMargin))

  private val qProfile = Q(
    "q_profile",
    "data profiling: per-column null/distinct/min/max stats",
    (s, d) => {
      val e = t(s, d).events
      Seq("event_id", "user_id", "event_type").map { c =>
        e.select(
          lit(c).as("column"),
          count(lit(1)).as("n"),
          sum(when(col(c).isNull, 1).otherwise(0)).cast("long").as("n_null"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_str"),
          max(col(c)).cast("string").as("max_str"))
      }.reduce(_.unionByName(_))
    },
    Some(Seq("event_id", "user_id", "event_type").map { c =>
      s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_str,
         |  CAST(max($c) AS VARCHAR) AS max_str
         |FROM events""".stripMargin
    }.mkString("\nUNION ALL\n")))

  private val qWindowFuncs = Q(
    "q_window_funcs",
    "window functions: lag / lead / ntile / cume_dist over daily series",
    (s, d) => {
      val daily = t(s, d).events
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(sum(cents(col("value"))).as("sum_cents"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily.select(
        col("event_type"), col("day"), col("sum_cents"),
        lag(col("sum_cents"), 1).over(w).as("prev_cents"),
        lead(col("sum_cents"), 1).over(w).as("next_cents"),
        ntile(4).over(w).as("quartile"),
        cume_dist().over(w).as("cd"))
    },
    Some(s"""WITH daily AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
            |    CAST(sum(${sqlCents("value")}) AS BIGINT) AS sum_cents
            |  FROM events GROUP BY 1, 2)
            |SELECT event_type, day, sum_cents,
            |  lag(sum_cents, 1) OVER w AS prev_cents,
            |  lead(sum_cents, 1) OVER w AS next_cents,
            |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
            |  cume_dist() OVER w AS cd
            |FROM daily
            |WINDOW w AS (PARTITION BY event_type ORDER BY day)""".stripMargin))

  /** The edit-distance near-dup pipeline shared by [[qEditDistance]]
    * (uncapped, the oracle-exact evidence) and [[qEditCapped]] (the
    * production configuration: buckets past `maxBucketFreq` dropped —
    * mass-dup cliques never reach the Levenshtein verify).
    */
  private def editDistancePlan(
      s: SparkSession, d: String, maxBucketFreq: Int): DataFrame = {
      // the honest sketch pipeline over the FULL table: 64-bit SimHash
      // over ordered 3-gram shingles, 4 bands of 16-bit buckets generate
      // candidates (equi-join, no theta join anywhere), Levenshtein
      // verifies only those. The order-sensitive sketch is the part that
      // scales: unigram-set simhash on this low-entropy vocabulary put
      // 1/3 of the corpus into one bucket (quadratic candidates), while
      // shingles keep buckets at near-dup-cluster size — measured 25
      // candidates for 22 true pairs at sf0.01, max bucket 4 at sf0.1.
      val docs = t(s, d).documents
      val cand = Dedup.simhashBucketCandidates(docs, "doc_id", "text",
        maxBucketFreq = maxBucketFreq)
      // the verify side is a pruned projection (id + 80-char prefix) —
      // broadcast it instead of shuffle-joining the candidate pairs
      // twice (Catalyst's size estimate comes from the full-text parquet
      // stats, so it won't pick broadcast on its own). At corpus sizes
      // where even the projection outgrows broadcast, semi-join-prune it
      // to the candidate ids first; pairs, not corpus, bound that set.
      val texts = broadcast(
        docs.select(col("doc_id"), substring(col("text"), 1, 80).as("t80")))
      // The pair rows are tiny (two ids), so AQE coalesces the candidate
      // shuffle to ~one partition — and the O(len²) Levenshtein DP that
      // follows is compute-bound, not byte-bound, leaving 31 of 32 cores
      // idle (measured 10 s → 1 s at 50k docs). An explicit partition
      // count on the repartition disables AQE coalesce for this exchange
      // and spreads the DP; lane count per Spread.fanoutLanes (conf ÷ 4
      // — spread without conf-many tiny tasks per stage; at cluster
      // scale the conf, and hence the lanes, are sized to the fleet).
      val lanes = graft.functions.Spread.fanoutLanes(cand)
      cand
        .repartition(lanes, col("doc_a"))
        .join(texts.select(col("doc_id").as("doc_a"), col("t80").as("ta")), Seq("doc_a"))
        .join(texts.select(col("doc_id").as("doc_b"), col("t80").as("tb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          // thresholded form: banded DP fills O(k·len) cells instead of
          // the O(len²) full matrix and returns −1 past the bound —
          // same kept rows and distances as levenshtein(ta,tb) ≤ 20
          levenshtein(col("ta"), col("tb"), 20).as("lev"))
        .filter(col("lev") >= 0)
  }

  private val qEditDistance = Q(
    "q_edit_distance",
    "edit-distance near-dup: SimHash banded candidates + Levenshtein verify",
    (s, d) => editDistancePlan(s, d, maxBucketFreq = 0),
    Some(editDistanceSql(maxBucketFreq = 0)))

  private val EditMaxBucketFreq = 24

  private val qEditCapped = Q(
    "q_edit_capped",
    "edit-distance near-dup at the production bucket cap (mass-dup cliques excluded)",
    (s, d) => editDistancePlan(s, d, maxBucketFreq = EditMaxBucketFreq),
    Some(editDistanceSql(maxBucketFreq = EditMaxBucketFreq)))

  private def editDistanceSql(maxBucketFreq: Int): String = {
      val sums = (0 until 64).map { j =>
        val nib  = j / 4 + 1
        val mask = 1 << (j % 4)
        s"sum(CASE WHEN ((CASE WHEN ascii(substr(hx,$nib,1)) <= 57 THEN ascii(substr(hx,$nib,1)) - 48 ELSE ascii(substr(hx,$nib,1)) - 87 END) & $mask) > 0 THEN 1 ELSE -1 END) AS b$j"
      }.mkString(",\n  ")
      // DuckDB rejects 1::BIGINT << 63 as overflow; spell the sign bit out
      val sh = (0 until 64).map {
        case 63 => "(CASE WHEN b63 > 0 THEN (-9223372036854775807::BIGINT - 1) ELSE 0::BIGINT END)"
        case j  => s"(CASE WHEN b$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END)"
      }.mkString(" + ")
      val bands = (0 until 4).map { b =>
        s"SELECT doc_id, $b AS band, (simhash >> ${b * 16}) & 65535 AS bucket FROM sh"
      }.mkString("\nUNION ALL\n")
      // capped flavor: buckets past the frequency cap are excluded
      // before the pair join, mirroring simhashBucketCandidates'
      // maxBucketFreq anti-join
      val (capCtes, candSrc) =
        if (maxBucketFreq <= 0) ("", "bands")
        else (
          s"""hot AS (SELECT band, bucket FROM bands
             |  GROUP BY band, bucket HAVING count(*) > $maxBucketFreq),
             |kept AS (SELECT b.* FROM bands b WHERE NOT EXISTS (
             |  SELECT 1 FROM hot h WHERE h.band = b.band AND h.bucket = b.bucket)),
             |""".stripMargin,
          "kept")
      s"""WITH toks AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts) - 1),
         |    i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2])))) AS tok
         |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents)
         |  WHERE len(ts) >= 3),
         |h AS (SELECT doc_id, md5(tok) AS hx FROM toks),
         |bits AS (SELECT doc_id,
         |  $sums
         |FROM h GROUP BY doc_id),
         |sh AS (SELECT doc_id, $sh AS simhash FROM bits),
         |bands AS (
         |$bands
         |),
         |${capCtes}cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM $candSrc a JOIN $candSrc b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(levenshtein(substr(ta.text, 1, 80), substr(tb.text, 1, 80)) AS INTEGER) AS lev
         |FROM cand JOIN documents ta ON ta.doc_id = doc_a
         |  JOIN documents tb ON tb.doc_id = doc_b
         |WHERE levenshtein(substr(ta.text, 1, 80), substr(tb.text, 1, 80)) <= 20""".stripMargin
  }

  private val qVariance = Q(
    "q_variance",
    "exact moments: variance/stddev from integer sums (no float drift)",
    (s, d) =>
      t(s, d).events
        .select(col("event_type"), cents(col("value")).as("c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
          sum(col("c") * col("c")).as("s2"))
        // sample variance from exact integer MOMENTS; the s1² term is
        // taken in DOUBLE on both engines — s1 is a corpus-scale sum
        // whose square overflows int64 at sf10 volume (DuckDB silently
        // promotes to HUGEINT; Spark's ANSI multiply throws — the
        // divergence the noop-materialize bench drive exposed), and
        // IEEE double arithmetic is engine-identical where the exact
        // product is not. Exact below 2^53 (every verify SF), honest
        // double beyond.
        .select(col("event_type"), col("n"),
          ((col("s2") - col("s1").cast("double") * col("s1") / col("n"))
            / (col("n") - 1)).as("var_cents2")),
    Some(s"""WITH x AS (SELECT event_type, ${sqlCents("value")} AS c FROM events),
            |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
            |FROM x GROUP BY 1)
            |SELECT event_type, n,
            |  (s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) AS var_cents2
            |FROM m""".stripMargin))

  private val qTokenBudget = Q(
    "q_token_budget",
    "token budgeting per source: whitespace + subword-proxy counts",
    (s, d) => {
      // explicit ASCII classes: identical semantics in Java regex and RE2
      val sub = size(regexp_extract_all(
        col("text"), lit("[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]+"), lit(0)))
      t(s, d).documents
        .select(col("source"),
          TF.tokenCount(col("text")).cast("long").as("ws"),
          sub.cast("long").as("sub"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
          sum(col("sub")).as("subword_tokens"))
    },
    Some(s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
            |    ELSE len($sqlToks) END) AS BIGINT) AS ws_tokens,
            |  CAST(sum(len(regexp_extract_all(text,
            |    '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]+'))) AS BIGINT) AS subword_tokens
            |FROM documents GROUP BY 1""".stripMargin))

  private val qMedian = Q(
    "q_median",
    "exact per-group median via two-pass histogram selection (no approx percentile)",
    (s, d) => {
      // Two-pass exact selection, not row_number over the raw corpus: a
      // per-lang row_number window sorts the ENTIRE corpus in one task
      // per language (5 tasks at 100 TB). Pass 1 aggregates a
      // (lang, n_chars) histogram — an ordinary map-side-combinable
      // shuffle agg; pass 2 runs the ordered selection over the
      // histogram, whose per-group size is |distinct n_chars| (bounded
      // by the value domain), not the corpus. The GK-sketch path
      // (q_quantile_sketch / q_length_trim) remains the
      // arbitrary-quantile scale configuration.
      val hist = t(s, d).documents
        .groupBy(col("lang"), col("n_chars"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
        .withColumn("target", ((col("n") + 1) / 2).cast("long")) // lower median
        .filter(col("cum") - col("c") < col("target") && col("target") <= col("cum"))
        .select(col("lang"), col("n_chars").as("median_chars"))
    },
    Some("""SELECT lang, n_chars AS median_chars FROM (
           |  SELECT lang, n_chars,
           |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
           |    count(*) OVER (PARTITION BY lang) AS n
           |  FROM documents)
           |WHERE rn = CAST((n + 1) // 2 AS INTEGER)""".stripMargin))

  private val qCorrelation = Q(
    "q_correlation",
    "exact Pearson correlation from integer co-moments",
    (s, d) =>
      t(s, d).events
        .select(col("event_type"), cents(col("value")).as("x"),
          get_json_object(col("props"), "$.k").cast("long").as("y"))
        .filter(col("y").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        // every co-moment product is taken in DOUBLE on both engines —
        // n·sxy, sx·sy, sx², sy² are products of corpus-scale sums that
        // overflow int64 at sf10 volume (same divergence class as
        // q_variance's s1²: DuckDB promotes to HUGEINT, Spark's ANSI
        // multiply throws). IEEE doubles are engine-identical; exact
        // below 2^53, honest double beyond.
        .select(col("event_type"), col("n"),
          round(
            (col("n").cast("double") * col("sxy") -
              col("sx").cast("double") * col("sy")) /
              sqrt((col("n").cast("double") * col("sxx") -
                col("sx").cast("double") * col("sx")) *
                (col("n").cast("double") * col("syy") -
                  col("sy").cast("double") * col("sy"))), 6)
            .as("corr")),
    Some(s"""WITH x AS (SELECT event_type, ${sqlCents("value")} AS x,
            |    CAST(props->>'k' AS BIGINT) AS y
            |  FROM events WHERE props->>'k' IS NOT NULL),
            |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
            |  CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
            |  CAST(sum(x * y) AS BIGINT) AS sxy
            |FROM x GROUP BY 1)
            |SELECT event_type, n,
            |  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
            |    sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            |      * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) AS corr
            |FROM m""".stripMargin))

  private val qMediaAnn = Q(
    "q_media_ann",
    "multimodal → similarity: kNN over decoded media feature vectors",
    (s, d) => {
      // decode is a mapPartitions — a filter placed AFTER it cannot be
      // pushed through by Catalyst, so the query side must filter the
      // RAW media table first (decode 10 rows, not the corpus twice)
      val m = media(s, d)
      def dec(df: DataFrame) = MM.decodeBatched(df, MM.StubCodec)
        .select(col("doc_id"), col("features"))
      Similarity.knnCosine(
        dec(m.filter(col("doc_id") < 10)), dec(m), "doc_id", "features", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"),
          col("rank").cast("int").as("rank"))
    },
    Some {
      val feats = (0 until MM.FeatureDim)
        .map(i => MM.sqlFeature("text", i)).mkString(", ")
      s"""WITH m AS (${MM.sqlMediaTable}),
         |f AS (SELECT doc_id, [$feats] AS fv FROM m),
         |q AS (SELECT doc_id AS query_id, fv AS qv FROM f WHERE doc_id < 10),
         |s AS (SELECT query_id, doc_id AS neighbor_id,
         |  round(list_dot_product(qv, fv) /
         |    sqrt(list_dot_product(qv, qv) * list_dot_product(fv, fv)), 4) + 0 AS cos_sim
         |FROM q, f)
         |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM s)
         |WHERE rank <= 3""".stripMargin
    })

  /** Input bound of the single-code SRP bucketing diagnostic: at a FIXED
    * 8-bit code the 256 buckets fill linearly with the corpus, so the
    * emitted intra-bucket pair list is inherently quadratic (measured
    * 5.7 s at sf10 → 467 s at sf100, 82× for 10× data — the worst
    * scaler in the r16 sf100 bench). 50 000 vectors = 2.5× the entire
    * sf1 embedding table, full-corpus through sf1 and a fixed slice
    * above. The unbounded production shape is [[qNearDupBanded]]:
    * multi-band 16-bit codes + threshold verify, whose output is the
    * near-dup pairs themselves (linear at real thresholds; measured
    * 5.6 → 32.6 s over the same decade).
    */
  private val LshSrpMaxVec = 50000L

  private val qLshSrp = Q(
    "q_lsh_srp",
    "SRP-LSH bucketed candidates: pairs sharing one sign-random-projection code (quadratic diagnostic over a bounded slice; production = q_neardup_banded)",
    (s, d) =>
      Similarity.lshCandidates(
        t(s, d).embeddings.filter(col("vec_id") < LshSrpMaxVec),
        "vec_id", "embedding", dims = 64, bitsB = 8)
        .select(col("vec_a"), col("vec_b"), round(col("cos_sim"), 4).as("cos_sim")),
    Some {
      // the hyperplanes as shortest-round-trip double literals — parse back
      // to identical bits in DuckDB
      val codeBits = Similarity.srpPlanes(64, 8).zipWithIndex.map {
        case (plane, p) =>
          val lits = plane.map(_.toString).mkString(", ")
          s"(CASE WHEN list_dot_product(v, [$lits]) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" +\n  ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  WHERE vec_id < $LshSrpMaxVec),
         |coded AS (SELECT vec_id, v,
         |  $codeBits AS code
         |FROM e)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(list_dot_product(a.v, b.v) /
         |    sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)), 4) + 0 AS cos_sim
         |FROM coded a JOIN coded b ON a.code = b.code AND a.vec_id < b.vec_id""".stripMargin
    })

  // ===========================================================================
  // Substring dedup → duplicate clusters → canonical selection
  // ===========================================================================

  /** Distinct (doc_id, window-hash) rows — the shared CTE for the
    * substring-dedup family. Mirrors [[Clustering.sharedWindowPairs]]'s
    * window generation exactly: offsets 1, 1+Stride, … ≤ len−Win+1.
    * `extraWhere` appends an input bound (the uncapped pair-evidence
    * diagnostic runs a bounded slice — see [[SubstrPairMaxDoc]]).
    */
  private def sqlWindowsWhere(extraWhere: String): String =
    s"""SELECT DISTINCT doc_id,
       |  CAST('0x' || substr(md5(substr(text, CAST(i AS INT), ${Clustering.Win})), 1, 15)
       |    AS BIGINT) AS wh
       |FROM documents CROSS JOIN LATERAL
       |  unnest(range(1, len(text) - ${Clustering.Win - 1} + 1, ${Clustering.Stride})) AS g(i)
       |WHERE len(text) >= ${Clustering.Win}$extraWhere""".stripMargin

  private def sqlWindows: String = sqlWindowsWhere("")

  private def sqlWindowEdges: String =
    s"""wdw AS ($sqlWindows),
       |p AS (SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM wdw a JOIN wdw b ON a.wh = b.wh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |$sqlPairComponentCtes,
       |asg AS (SELECT d.doc_id, d.n_chars,
       |    coalesce(cc.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM asg GROUP BY 1)""".stripMargin

  private def windowPairs(s: SparkSession, d: String) =
    Clustering.sharedWindowPairs(
      t(s, d).documents.filter(col("doc_id") < SubstrPairMaxDoc),
      "doc_id", "text")

  // connectivity-only edges for the component queries: identical
  // components, k−1 star edges per window bucket instead of k(k−1)/2
  // pairs (linear vs quadratic on replica/boilerplate-heavy corpora)
  private def windowStarEdges(s: SparkSession, d: String) =
    Clustering.sharedWindowStarEdges(
      t(s, d).documents, "doc_id", "text")

  /** Input bound of the UNCAPPED pair-evidence diagnostic: its output is
    * inherently quadratic on clique-heavy corpora (a k-doc dup clique
    * emits C(k,2) pairs; the 100× scaling corpus has k = 1000 cliques by
    * construction — measured 5.5 s at sf10 → 263 s at sf100, 48× for
    * 10× data). 50 000 docs = the ENTIRE sf1 corpus, so the diagnostic
    * is full-corpus through sf1 and a fixed verifier slice above — the
    * same exhaustive-ground-truth convention as `q_embed_neardup`. The
    * unbounded production paths are [[qSubstrCapped]] (pair evidence
    * under the boilerplate cap, linear output) and [[qSubstrWinnow]]
    * (winnowed long-span candidates under the same cap).
    */
  private val SubstrPairMaxDoc = 50000L

  private val qSubstrDedup = Q(
    "q_substr_dedup",
    "repeated-substring dedup evidence, UNCAPPED (quadratic diagnostic over a bounded slice; production = q_substr_capped)",
    (s, d) => windowPairs(s, d),
    Some(s"""WITH wdw AS (${sqlWindowsWhere(s" AND doc_id < $SubstrPairMaxDoc")})
            |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
            |FROM wdw a JOIN wdw b ON a.wh = b.wh AND a.doc_id < b.doc_id
            |GROUP BY 1, 2""".stripMargin))

  /** Window-frequency cap of the production substring-dedup
    * configuration ([[qSubstrCapped]]): windows shared by more than
    * this many docs are boilerplate (headers, license blocks, mass
    * replicas) and are excluded from pair evidence — which is ALSO what
    * keeps the output linear where uncapped pair evidence is
    * inherently quadratic (a k-doc dup clique emits C(k,2) pairs; the
    * sf100 scaling corpus has k=1000 cliques by construction).
    */
  private val SubstrMaxFreq = 24

  private val qSubstrCapped = Q(
    "q_substr_capped",
    "substring-dedup pair evidence at the production boilerplate cap (linear output)",
    (s, d) =>
      Clustering.sharedWindowPairs(
        t(s, d).documents, "doc_id", "text", maxWindowFreq = SubstrMaxFreq),
    Some(s"""WITH wdw AS ($sqlWindows),
            |hot AS (SELECT wh FROM wdw GROUP BY wh HAVING count(*) > $SubstrMaxFreq),
            |kept AS (SELECT * FROM wdw WHERE wh NOT IN (SELECT wh FROM hot))
            |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
            |FROM kept a JOIN kept b ON a.wh = b.wh AND a.doc_id < b.doc_id
            |GROUP BY 1, 2""".stripMargin))

  private val qSubstrWinnow = Q(
    "q_substr_winnow",
    "winnowed long-span dedup candidates under the boilerplate cap (Schleimer SIGMOD'03 over Lee ACL'22 windows; linear output)",
    // the SAME boilerplate-frequency cap as q_substr_capped: a
    // fingerprint shared by > maxFreq docs is a header/license/replica
    // signature whose bucket would emit C(k,2) pairs — excluding it is
    // both the curation semantics (boilerplate is not dup evidence) and
    // what keeps this the LINEAR long-span scale path (uncapped it
    // measured 6.3 s at sf10 → 241 s at sf100, 38× for 10× data; the
    // uncapped quadratic diagnostic lives at q_substr_dedup's slice)
    (s, d) =>
      Clustering.winnowedSpanCandidates(
        t(s, d).documents, "doc_id", "text", maxFpFreq = SubstrMaxFreq),
    Some(s"""WITH wseq AS (
            |  SELECT doc_id,
            |    list_transform(range(1, len(text) - ${Clustering.Win - 1} + 1, ${Clustering.Stride}),
            |      i -> CAST('0x' || substr(md5(substr(text, CAST(i AS INT), ${Clustering.Win})), 1, 15)
            |        AS BIGINT)) AS whs
            |  FROM documents WHERE len(text) >= ${Clustering.Win}),
            |fps AS (
            |  SELECT DISTINCT doc_id,
            |    unnest(list_transform(range(0, greatest(len(whs) - ${Clustering.WinnowW}, 0) + 1),
            |      s -> list_min(whs[CAST(s + 1 AS INT):CAST(s + ${Clustering.WinnowW} AS INT)]))) AS fp
            |  FROM wseq),
            |hot AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) > $SubstrMaxFreq),
            |kept AS (SELECT * FROM fps WHERE fp NOT IN (SELECT fp FROM hot))
            |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_fp
            |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
            |GROUP BY 1, 2""".stripMargin))

  private val qDupClusters = Q(
    "q_dup_clusters",
    "connected-component duplicate clusters over shared-window edges (min-label propagation)",
    (s, d) =>
      Clustering.clustersOf(t(s, d).documents, windowStarEdges(s, d), "doc_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size")),
    Some(s"""WITH RECURSIVE
            |$sqlWindowEdges
            |SELECT asg.doc_id, asg.cluster_id, sz.cluster_size
            |FROM asg JOIN sz USING (cluster_id)""".stripMargin))

  private val qDupCanonical = Q(
    "q_dup_canonical",
    "canonical doc per duplicate cluster: longest wins, min-id tie-break",
    (s, d) =>
      Clustering.canonicalPerCluster(
        Clustering.clustersOf(t(s, d).documents, windowStarEdges(s, d), "doc_id"),
        "doc_id", "n_chars"),
    Some(s"""WITH RECURSIVE
            |$sqlWindowEdges
            |SELECT cluster_id, doc_id AS canon_doc_id, n_chars AS canon_n_chars,
            |  cluster_size
            |FROM (
            |  SELECT asg.*, sz.cluster_size,
            |    row_number() OVER (PARTITION BY asg.cluster_id
            |      ORDER BY asg.n_chars DESC, asg.doc_id ASC) AS rn
            |  FROM asg JOIN sz USING (cluster_id))
            |WHERE rn = 1""".stripMargin))

  // ===========================================================================
  // Contamination scan, TF-IDF salient terms, PII redaction
  // ===========================================================================

  private val qContamination = Q(
    "q_contamination",
    "benchmark decontamination: 5-gram overlap of corpus docs vs an eval set",
    (s, d) => {
      val docs = t(s, d).documents
      Dedup.contamination(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text")
    },
    Some(raw"""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
            |  FROM documents),
            |g AS (SELECT DISTINCT doc_id,
            |    array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+4], ' ') AS gram
            |  FROM tk CROSS JOIN LATERAL unnest(range(1, len(toks) - 4 + 1)) AS r(i)),
            |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
            |corpus AS (SELECT * FROM g WHERE doc_id % 10 <> 0)
            |SELECT c.doc_id, count(*) AS n_grams, count(b.gram) AS n_contaminated,
            |  (count(b.gram) * 10000) // count(*) AS contam_bps
            |FROM corpus c LEFT JOIN bench b USING (gram)
            |GROUP BY 1""".stripMargin))

  private val qEmbedContamination = Q(
    "q_embed_contamination",
    "semantic decontamination: per-corpus-vector max cosine vs a broadcast eval embedding set",
    (s, d) => {
      // the embedding-space complement of q_contamination's 5-gram
      // check: paraphrased eval leakage shares no 8-gram but still
      // lands next to its source in embedding space. Scale shape is
      // knnCosine REVERSED — the corpus streams (big side), the eval
      // set rides the broadcast, and the per-row argmax is a max_by
      // aggregation with map-side partial combine (no window sort over
      // the corpus).
      val e = t(s, d).embeddings
      Similarity.semanticContamination(
        e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8),
        "vec_id", "embedding", threshold = 0.4)
    },
    Some("""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings WHERE vec_id >= 8),
           |e AS (SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS ev
           |  FROM embeddings WHERE vec_id < 8),
           |s AS (SELECT c.vec_id, e.eval_id,
           |    round(list_dot_product(c.v, e.ev)
           |      / sqrt(list_dot_product(c.v, c.v) * list_dot_product(e.ev, e.ev)), 4) + 0 AS sim
           |  FROM c, e),
           |r AS (SELECT vec_id, eval_id, sim,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, eval_id) AS rn
           |  FROM s)
           |SELECT vec_id, eval_id AS nearest_eval, sim AS max_sim,
           |  sim >= 0.4 AS contaminated
           |FROM r WHERE rn = 1""".stripMargin))

  /** TF-IDF ranking without floats: with corpus size N constant, ranking
    * by tf·N/df is ranking by the integer `tf * 1_000_000 * N div df` —
    * identical floor-division in both engines, no log/double drift.
    */
  private val qTfidfTopk = Q(
    "q_tfidf_topk",
    "top-3 salient terms per doc by integer-scaled TF-IDF",
    (s, d) => {
      // null ids are excluded up front so the df-from-tf and narrow-n
      // derivations below stay equivalent to distinct-doc counting
      val toks = t(s, d).documents
        .filter(col("doc_id").isNotNull)
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      // df re-aggregates tf (one row per (doc, tok) already) instead of
      // re-exploding the corpus with a countDistinct expand; n (docs with
      // ≥1 token ⇔ non-blank text) is a narrow scan with a length check,
      // not a third explode through the tokenizer
      val dfc = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val n = t(s, d).documents
        .filter(col("doc_id").isNotNull)
        .agg(sum(when(length(trim(col("text"))) > 0, 1L).otherwise(0L)).as("n"))
      val w = Window.partitionBy("doc_id")
        .orderBy(expr("tf * 1000000 * n div df").desc, col("tf").desc, col("tok"))
      tf.join(dfc, "tok")
        .crossJoin(broadcast(n))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("rank"))
    },
    Some(raw"""WITH tk AS (SELECT doc_id,
            |    unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents
            |  WHERE doc_id IS NOT NULL),
            |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
            |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
            |n AS (SELECT count(DISTINCT doc_id) AS n FROM tk)
            |SELECT doc_id, tok, tf, df, CAST(rank AS INTEGER) AS rank FROM (
            |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
            |    row_number() OVER (PARTITION BY tf.doc_id
            |      ORDER BY (tf.tf * 1000000 * n.n) // df.df DESC, tf.tf DESC,
            |        tf.tok ASC) AS rank
            |  FROM tf JOIN df USING (tok) CROSS JOIN n) s
            |WHERE rank <= 3""".stripMargin))

  private val qPiiRedact = Q(
    "q_pii_redact",
    "PII detection + redaction over text with synthetic emails/phones injected",
    (s, d) => {
      val aug = t(s, d).documents.select(
        col("doc_id"),
        concat(
          col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or 555-"),
          lpad(col("doc_id").cast("string"), 4, "0")).as("txt"))
      aug.select(
        col("doc_id"),
        regexp_count(col("txt"), lit(TF.EmailPattern)).cast("long").as("n_emails"),
        regexp_count(col("txt"), lit(TF.PhonePattern)).cast("long").as("n_phones"),
        md5(TF.redactPii(col("txt"))).as("red_hash"))
    },
    Some(raw"""WITH aug AS (SELECT doc_id,
            |  text || ' contact user' || doc_id || '@example.com or 555-' ||
            |    lpad(CAST(doc_id AS VARCHAR), 4, '0') AS txt
            |  FROM documents)
            |SELECT doc_id,
            |  len(regexp_extract_all(txt, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS n_emails,
            |  len(regexp_extract_all(txt, '555-[0-9]{4}')) AS n_phones,
            |  md5(regexp_replace(regexp_replace(txt,
            |    '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
            |    '555-[0-9]{4}', '<PHONE>', 'g')) AS red_hash
            |FROM aug""".stripMargin))

  // ===========================================================================
  // Quality filtering, Bloom dedup, mixture sampling, incremental dedup
  // ===========================================================================

  private val sqlDocToksGuarded =
    raw"""CASE WHEN length(trim(text)) = 0 THEN [] ELSE string_split_regex(trim(text), '\s+') END"""

  private val qRepetition = Q(
    "q_repetition",
    "repetition signals per doc: dup-word, top-word, top-bigram-char, dup-5gram fractions",
    (s, d) => graft.functions.Quality.repetitionProfile(t(s, d).documents, "doc_id", "text"),
    Some(raw"""WITH b AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
            |    $sqlDocToksGuarded AS toks,
            |    CAST(len($sqlDocToksGuarded) AS BIGINT) AS n_tokens
            |  FROM documents),
            |wc AS (SELECT doc_id, unnest(toks) AS g FROM b),
            |wcnt AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt FROM wc GROUP BY 1, 2),
            |wt AS (SELECT doc_id, n_distinct, g AS top_word, cnt AS top_cnt FROM (
            |  SELECT doc_id, g, cnt,
            |    CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_distinct,
            |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g DESC) AS rn
            |  FROM wcnt) WHERE rn = 1),
            |bg AS (SELECT doc_id, array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+1], ' ') AS g
            |  FROM b CROSS JOIN LATERAL unnest(range(1, len(toks))) AS r(i)
            |  WHERE len(toks) >= 2),
            |bcnt AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt FROM bg GROUP BY 1, 2),
            |bt AS (SELECT doc_id, g AS top_bigram, cnt AS bcnt FROM (
            |  SELECT doc_id, g, cnt,
            |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g DESC) AS rn
            |  FROM bcnt) WHERE rn = 1),
            |g5 AS (SELECT doc_id, array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+4], ' ') AS g
            |  FROM b CROSS JOIN LATERAL unnest(range(1, len(toks) - 3)) AS r(i)
            |  WHERE len(toks) >= 5),
            |g5s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tot5,
            |    CAST(count(DISTINCT g) AS BIGINT) AS dst5 FROM g5 GROUP BY 1)
            |SELECT b.doc_id, b.n_tokens,
            |  CASE WHEN b.n_tokens > 0
            |    THEN ((b.n_tokens - COALESCE(wt.n_distinct, 0)) * 10000) // b.n_tokens
            |    ELSE 0 END AS dup_word_bp,
            |  COALESCE(wt.top_word, '') AS top_word,
            |  CASE WHEN b.n_tokens > 0
            |    THEN (COALESCE(wt.top_cnt, 0) * 10000) // b.n_tokens
            |    ELSE 0 END AS top_word_bp,
            |  COALESCE(bt.top_bigram, '') AS top_bigram,
            |  CASE WHEN b.n_chars > 0
            |    THEN (COALESCE(bt.bcnt, 0) * length(COALESCE(bt.top_bigram, '')) * 10000) // b.n_chars
            |    ELSE 0 END AS top_bigram_char_bp,
            |  CASE WHEN COALESCE(g5s.tot5, 0) > 0
            |    THEN ((g5s.tot5 - g5s.dst5) * 10000) // g5s.tot5
            |    ELSE 0 END AS dup_5gram_bp
            |FROM b LEFT JOIN wt USING (doc_id) LEFT JOIN bt USING (doc_id)
            |  LEFT JOIN g5s USING (doc_id)""".stripMargin))

  private val qGopherQuality = Q(
    "q_gopher_quality",
    "Gopher-rule heuristic document filter: word count, word length, alpha + stopword checks",
    (s, d) => graft.functions.Quality.gopherQuality(t(s, d).documents, "doc_id", "text"),
    Some {
      val stops = TF.Stopwords.map(w => s"'$w'").mkString(", ")
      raw"""WITH tk AS (SELECT doc_id, $sqlDocToksGuarded AS toks FROM documents),
           |m AS (SELECT doc_id,
           |  CAST(len(toks) AS BIGINT) AS n_words,
           |  CAST(COALESCE(length(list_aggregate(toks, 'string_agg', '')), 0) AS BIGINT) AS sum_len,
           |  CAST(len(list_filter(toks, t -> regexp_full_match(t, '[a-z]+'))) AS BIGINT) AS n_alpha,
           |  CAST(len(list_filter(toks, t -> t IN ($stops))) AS BIGINT) AS n_stop
           |FROM tk),
           |f AS (SELECT doc_id, n_words, n_stop,
           |  CASE WHEN n_words > 0 THEN (sum_len * 10000) // n_words ELSE 0 END AS mean_word_len_bp,
           |  CASE WHEN n_words > 0 THEN (n_alpha * 10000) // n_words ELSE 0 END AS alpha_bp
           |FROM m)
           |SELECT doc_id, n_words, n_stop, mean_word_len_bp, alpha_bp,
           |  n_words >= 20 AND n_words <= 1000 AS ok_words,
           |  mean_word_len_bp >= 30000 AND mean_word_len_bp <= 100000 AS ok_word_len,
           |  alpha_bp >= 8000 AS ok_alpha,
           |  n_stop >= 2 AS ok_stop,
           |  (n_words >= 20 AND n_words <= 1000)
           |    AND (mean_word_len_bp >= 30000 AND mean_word_len_bp <= 100000)
           |    AND alpha_bp >= 8000 AND n_stop >= 2 AS passes
           |FROM f""".stripMargin
    })

  private val sqlBagFp =
    raw"""md5(list_aggregate(list_sort(list_distinct(string_split_regex(trim(text), '\s+'))), 'string_agg', ' '))"""

  private val qBloomDedup = Q(
    "q_bloom_dedup",
    "Bloom-prefiltered new-document filter vs a reference corpus (result == exact anti-join)",
    (s, d) => {
      val docs = t(s, d).documents
      Dedup.bloomNewDocs(
        docs.filter(col("doc_id") >= 400), docs.filter(col("doc_id") < 400),
        "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("source"))
    },
    Some(raw"""WITH fp AS (SELECT doc_id, lang, source, $sqlBagFp AS k FROM documents)
            |SELECT c.doc_id, c.lang, c.source FROM fp c
            |WHERE c.doc_id >= 400
            |  AND NOT EXISTS (SELECT 1 FROM fp r WHERE r.doc_id < 400 AND r.k = c.k)""".stripMargin))

  private val qDomainMix = Q(
    "q_domain_mix",
    "mixture sampling: deterministic per-source acceptance toward target proportions",
    (s, d) => {
      // target mixture: sources 0-4 keep all, 5-9 keep 1/2, rest keep 1/4 —
      // acceptance by first md5 byte of the salted id (the q_sample_split
      // determinism trick), so the sample is reproducible on any engine
      // and stable under corpus growth (a doc's fate never changes).
      val srcNum = regexp_extract(col("source"), "(\\d+)", 1).cast("int")
      val rate = when(srcNum < 5, 256).when(srcNum < 10, 128).otherwise(64)
      val h = md5(concat(lit("mix:"), col("doc_id").cast("string")))
      val hi = ascii(substring(h, 1, 1))
      val lo = ascii(substring(h, 2, 1))
      val b = (when(hi <= 57, hi - 48).otherwise(hi - 87) * 16 +
        when(lo <= 57, lo - 48).otherwise(lo - 87))
      val kept = sum(when(b < rate, 1L).otherwise(0L))
      t(s, d).documents
        .select(col("source"), col("doc_id"), rate.as("rate"), b.as("b"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_total"),
          kept.as("n_kept"),
          max(col("rate")).cast("long").as("max_rate"))
        // exact integer basis points (DIV == the oracle's `//` at any scale)
        .withColumn("kept_bp", expr("(n_kept * 10000) DIV n_total"))
        .withColumn("target_bp", expr("(max_rate * 10000) DIV 256"))
        .drop("max_rate")
    },
    Some(raw"""WITH h AS (SELECT source, doc_id,
            |  CAST(regexp_extract(source, '(\d+)', 1) AS INT) AS sn,
            |  (CASE WHEN ascii(substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1)) <= 57
            |        THEN ascii(substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 48
            |        ELSE ascii(substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 87 END) * 16 +
            |  (CASE WHEN ascii(substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 2, 1)) <= 57
            |        THEN ascii(substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 48
            |        ELSE ascii(substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 87 END) AS b
            |FROM documents),
            |r AS (SELECT source, b,
            |  CASE WHEN sn < 5 THEN 256 WHEN sn < 10 THEN 128 ELSE 64 END AS rate FROM h)
            |SELECT source, CAST(count(*) AS BIGINT) AS n_total,
            |  CAST(sum(CASE WHEN b < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
            |  (CAST(sum(CASE WHEN b < rate THEN 1 ELSE 0 END) AS BIGINT) * 10000)
            |    // CAST(count(*) AS BIGINT) AS kept_bp,
            |  (CAST(max(rate) AS BIGINT) * 10000) // 256 AS target_bp
            |FROM r GROUP BY 1""".stripMargin))

  private val qIncrementalDedup = Q(
    "q_incremental_dedup",
    "incremental batch-vs-corpus dedup: exact fingerprint, minhash-band near, or new",
    (s, d) => {
      val docs = t(s, d).documents
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") >= 400), docs.filter(col("doc_id") < 400),
        "doc_id", "text")
    },
    Some {
      raw"""WITH toks AS (SELECT DISTINCT doc_id,
           |    unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents
           |  WHERE length(trim(text)) > 0),
           |${sqlMinhashSigs(Dedup.MinhashHashes)},
           |bands AS (
           |${sqlMinhashBands(Dedup.MinhashHashes, Dedup.MinhashBands)}
           |),
           |fp AS (SELECT doc_id, $sqlBagFp AS k FROM documents),
           |ex AS (SELECT b.doc_id, min(c.doc_id) AS exact_id FROM fp b
           |  JOIN fp c ON b.k = c.k AND b.doc_id >= 400 AND c.doc_id < 400 GROUP BY 1),
           |nr AS (SELECT b.doc_id, min(c.doc_id) AS near_id FROM bands b
           |  JOIN bands c ON b.band = c.band AND b.bkey = c.bkey
           |    AND b.doc_id >= 400 AND c.doc_id < 400 GROUP BY 1)
           |SELECT d.doc_id,
           |  CASE WHEN ex.exact_id IS NOT NULL THEN 'exact'
           |       WHEN nr.near_id IS NOT NULL THEN 'near'
           |       ELSE 'new' END AS dup_kind,
           |  COALESCE(ex.exact_id, nr.near_id, -1) AS match_id
           |FROM documents d LEFT JOIN ex USING (doc_id) LEFT JOIN nr USING (doc_id)
           |WHERE d.doc_id >= 400""".stripMargin
    })

  private val qVocabCoverage = Q(
    "q_vocab_coverage",
    "tokenizer prep: top-50 vocabulary with cumulative corpus coverage",
    (s, d) => {
      // corpus-wide token frequencies (distributed groupBy with partial
      // aggregation), top-k via TakeOrderedAndProject, then rank +
      // running coverage computed by array algebra over the ONE packed
      // top-k row — no partition-less window over unbounded input, the
      // post-limit set is 50 rows by construction.
      val toks = t(s, d).documents
        .select(explode(TF.tokens(col("text"))).as("tok"))
      val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val top = counts.orderBy(col("cnt").desc, col("tok")).limit(50)
      // grand total = Σ vocab counts = Σ per-doc token counts: take it
      // from a narrow scan of the documents instead of re-running the
      // explode+groupBy a second time for one number
      val total = t(s, d).documents
        .agg(sum(size(TF.tokens(col("text")))).cast("long").as("total"))
      val packed = top.agg(
        sort_array(collect_list(struct((-col("cnt")).as("n"), col("tok"), col("cnt"))))
          .as("arr"))
        .crossJoin(broadcast(total))
      packed
        // empty corpus guard: sequence(0, -1) DESCENDS in Spark, and the
        // ANSI element_at on the empty array would throw
        .filter(size(col("arr")) > 0)
        .select(col("total"), explode(transform(
          sequence(lit(0), size(col("arr")) - 1),
          i => struct(
            (i + 1).cast("int").as("rank"),
            element_at(col("arr"), i + 1).getField("tok").as("tok"),
            element_at(col("arr"), i + 1).getField("cnt").as("cnt"),
            aggregate(slice(col("arr"), lit(1), i + 1), lit(0L),
              (a, x) => a + x.getField("cnt")).as("cum")))).as("r"))
        .select(
          col("r.rank").as("rank"), col("r.tok").as("tok"), col("r.cnt").as("cnt"),
          // exact integer basis points: DIV keeps this bit-identical to the
          // oracle's `//` at any corpus size (a double quotient would lose
          // exactness once cum·10000 passes 2^53 — reachable at 100 TB)
          expr("(r.cum * 10000) DIV total").as("coverage_bp"))
    },
    Some(raw"""WITH tk AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
            |  FROM documents WHERE length(trim(text)) > 0),
            |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY 1),
            |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
            |top AS (SELECT tok, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS INT) AS rank
            |  FROM c ORDER BY cnt DESC, tok LIMIT 50)
            |SELECT rank, tok, cnt,
            |  CAST((sum(cnt) OVER (ORDER BY rank) * 10000) // total AS BIGINT) AS coverage_bp
            |FROM top, tot""".stripMargin))

  private val qEmbedQuantize = Q(
    "q_embed_quantize",
    "int8 symmetric embedding quantization with exact-integer error accounting",
    (s, d) => {
      // serving-time compression shape: per-vector symmetric int8
      // quantization in the exact 1e6-quantized integer space (the same
      // space the IVF trainer uses), so scale factor, saturation count,
      // and total reconstruction error |qv·127 − q8·vmax| are all exact
      // integer arithmetic — bit-identical on any engine. Pure per-row
      // array algebra: zero shuffles, one projection over the scan.
      val qv = transform(col("embedding").cast("array<double>"),
        x => round(x * lit(1000000.0)))
      t(s, d).embeddings
        .select(col("vec_id"), qv.as("qv"))
        .withColumn("vmax", array_max(transform(col("qv"), x => abs(x))))
        .withColumn("q8",
          when(col("vmax") > 0,
            transform(col("qv"), x => floor(x * lit(127.0) / col("vmax"))))
            .otherwise(transform(col("qv"), _ => lit(0.0))))
        .select(
          col("vec_id"),
          col("vmax").cast("long").as("vmax"),
          size(filter(col("q8"), x => abs(x) === 127)).cast("long").as("n_saturated"),
          aggregate(col("q8"), lit(0L), (a, x) => a + abs(x).cast("long")).as("l1_q8"),
          aggregate(
            zip_with(col("qv"), col("q8"), (v, q) => abs(v * 127 - q * col("vmax"))),
            lit(0L), (a, x) => a + x.cast("long")).as("sum_abs_err"))
    },
    Some(raw"""WITH b AS (SELECT vec_id,
            |    list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1000000.0)) AS qv
            |  FROM embeddings),
            |m AS (SELECT vec_id, qv,
            |    list_max(list_transform(qv, x -> abs(x))) AS vmax FROM b),
            |q AS (SELECT vec_id, qv, vmax,
            |    CASE WHEN vmax > 0
            |      THEN list_transform(qv, x -> floor(x * 127.0 / vmax))
            |      ELSE list_transform(qv, x -> 0.0) END AS q8
            |  FROM m)
            |SELECT vec_id, CAST(vmax AS BIGINT) AS vmax,
            |  CAST(len(list_filter(q8, x -> abs(x) = 127)) AS BIGINT) AS n_saturated,
            |  CAST(list_sum(list_transform(q8, x -> abs(x))) AS BIGINT) AS l1_q8,
            |  CAST(list_sum(list_transform(range(len(qv)),
            |    i -> abs(qv[CAST(i AS INT) + 1] * 127 - q8[CAST(i AS INT) + 1] * vmax)))
            |    AS BIGINT) AS sum_abs_err
            |FROM q""".stripMargin))

  private val qLengthTrim = Q(
    "q_length_trim",
    "percentile length trim: GK-sketch p5/p95 thresholds drive the outlier filter",
    (s, d) => {
      // the standard length-outlier pass of a corpus pipeline: thresholds
      // come from the mergeable GK sketch (exact in this regime — one
      // tiny aggregate, not a global sort), broadcast into the filter as
      // a one-row frame. Reports per-language keep rates so threshold
      // effects are visible per shard.
      val th = t(s, d).documents
        .agg(graft.functions.expressions.NativeExpressions
          .quantileSketch(col("n_chars"), Seq(0.05, 0.95), 100000).as("qs"))
        .select(col("qs")(0).as("lo"), col("qs")(1).as("hi"))
      val kept = sum(when(col("n_chars").between(col("lo"), col("hi")), 1L).otherwise(0L))
      t(s, d).documents
        .crossJoin(broadcast(th))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_total"),
          kept.as("n_kept"),
          max(col("lo")).as("lo"), max(col("hi")).as("hi"))
        // exact integer basis points (DIV == the oracle's `//` at any scale)
        .withColumn("kept_bp", expr("(n_kept * 10000) DIV n_total"))
    },
    Some {
      def pick(q: String, as: String) =
        s"max(CASE WHEN rn = CAST(floor((n - 1) * $q) AS BIGINT) + 1 THEN n_chars END) AS $as"
      s"""WITH r AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars) AS rn,
         |    count(*) OVER () AS n FROM documents),
         |th AS (SELECT ${pick("0.05", "lo")}, ${pick("0.95", "hi")} FROM r)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(sum(CASE WHEN n_chars BETWEEN lo AND hi THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  (CAST(sum(CASE WHEN n_chars BETWEEN lo AND hi THEN 1 ELSE 0 END) AS BIGINT) * 10000)
         |    // CAST(count(*) AS BIGINT) AS kept_bp,
         |  max(lo) AS lo, max(hi) AS hi
         |FROM documents, th GROUP BY 1""".stripMargin
    })

  private val qCorpusReport = Q(
    "q_corpus_report",
    "data-card report: per (lang, source) doc counts, token budget, quality, filter pass + dup rates",
    (s, d) => {
      // the per-shard summary a dataset release ships: one pass computes
      // every per-doc signal (quality in basis points — the doubles are
      // oracle-bit-identical so their floor is too, token count, Gopher
      // pass flag, content fingerprint), a tiny fingerprint-count join
      // marks duplicates, and one groupBy folds it all per shard
      val txt = col("text")
      val quality = TF.qualityScore(txt)
      val nw = TF.tokenCount(txt).cast("long")
      val stop = size(filter(TF.tokens(txt), t => t.isin(TF.Stopwords.map(lit): _*)))
      val perDoc = t(s, d).documents.select(
        col("lang"), col("source"), col("doc_id"),
        TF.bagFingerprint(txt).as("fp"),
        floor(quality * 10000.0).cast("long").as("q_bp"),
        nw.as("n_tokens"),
        (nw >= 20 && nw <= 1000 && stop >= 2).as("passes"))
      val fpCnt = perDoc.groupBy(col("fp"))
        .agg((count(lit(1)) > 1).as("is_dup"))
      perDoc.join(fpCnt, Seq("fp"))
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          floor(sum(col("q_bp")).cast("double") / count(lit(1))).cast("long")
            .as("mean_quality_bp"),
          sum(when(col("passes"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
    },
    Some {
      val stops = TF.Stopwords.map(w => s"'$w'").mkString(", ")
      raw"""WITH base AS (SELECT lang, source, doc_id,
           |  md5(list_aggregate(list_sort(list_distinct(string_split_regex(trim(text), '\s+'))), 'string_agg', ' ')) AS fp,
           |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
           |  CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
           |       ELSE len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ($stops))) END AS n_stop,
           |  CASE WHEN length(text) = 0 THEN 0.0
           |       ELSE (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) / length(text) END AS punct_ratio
           |FROM documents),
           |q AS (SELECT lang, source, doc_id, fp, n_tokens,
           |  CAST(floor(((least(n_tokens, 64) / 64.0) * 0.5 + (1.0 - punct_ratio) * 0.3
           |    + least((CASE WHEN n_tokens = 0 THEN 0.0 ELSE n_stop / n_tokens END) * 4.0, 1.0) * 0.2) * 10000.0) AS BIGINT) AS q_bp,
           |  n_tokens >= 20 AND n_tokens <= 1000 AND n_stop >= 2 AS passes
           |FROM base),
           |fpc AS (SELECT fp, count(*) > 1 AS is_dup FROM base GROUP BY 1)
           |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           |  CAST(floor(sum(q_bp) / count(*)) AS BIGINT) AS mean_quality_bp,
           |  CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
           |FROM q JOIN fpc USING (fp) GROUP BY 1, 2""".stripMargin
    })

  private val qDedupPipeline = Q(
    "q_dedup_pipeline",
    "end-to-end dedup: window edges → components → canonical keep-list → kept-corpus report",
    (s, d) => {
      // the full user story in one query: near-dup evidence → connected
      // components → one canonical doc per cluster (longest, min-id tie)
      // → semi-join the keep-list back onto the corpus → per-language
      // before/after accounting. Each stage is the already-oracle-pinned
      // operator; this composes them the way a production dedup job runs.
      val docs = t(s, d).documents
      val canon = Clustering
        .canonicalPerCluster(
          Clustering.clustersOf(docs, windowStarEdges(s, d), "doc_id"),
          "doc_id", "n_chars")
        .select(col("canon_doc_id").as("doc_id"))
      val kept = docs.join(canon, Seq("doc_id"), "left_semi")
      val before = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_before"))
      val after = kept.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_kept"),
          sum(TF.tokenCount(col("text")).cast("long")).as("kept_tokens"))
      before
        .join(after, Seq("lang"), "left")
        .select(
          col("lang"), col("n_before"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
    },
    Some(s"""WITH RECURSIVE
            |$sqlWindowEdges,
            |canon AS (SELECT doc_id FROM (
            |  SELECT asg.doc_id, row_number() OVER (PARTITION BY asg.cluster_id
            |    ORDER BY asg.n_chars DESC, asg.doc_id ASC) AS rn FROM asg) WHERE rn = 1),
            |before AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_before
            |  FROM documents GROUP BY 1),
            |kept AS (SELECT d.lang, CAST(count(*) AS BIGINT) AS n_kept,
            |    CAST(sum(CASE WHEN length(trim(d.text)) = 0 THEN 0
            |      ELSE len(string_split_regex(trim(d.text), '\\s+')) END) AS BIGINT) AS kept_tokens
            |  FROM documents d JOIN canon USING (doc_id) GROUP BY 1)
            |SELECT b.lang, b.n_before,
            |  COALESCE(kept.n_kept, 0) AS n_kept,
            |  COALESCE(kept.kept_tokens, 0) AS kept_tokens
            |FROM before b LEFT JOIN kept USING (lang)""".stripMargin))

  private val qMinhashCluster = Q(
    "q_minhash_cluster",
    "duplicate clusters over MinHash-LSH candidate edges (components compose with any generator)",
    (s, d) => {
      val docs = t(s, d).documents.filter(col("doc_id") < 500)
      Clustering
        .clustersOf(docs,
          Dedup.minhashCandidates(docs, "doc_id", "text",
            maxBucket = 0),
          "doc_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    },
    Some {
      s"""WITH RECURSIVE $sqlMinhashComponentCtes,
         |asg AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
         |  WHERE d.doc_id < 500),
         |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM asg GROUP BY 1)
         |SELECT asg.doc_id, asg.cluster_id, sz.cluster_size
         |FROM asg JOIN sz USING (cluster_id)""".stripMargin
    })

  // ===========================================================================
  // Boilerplate coverage, vocab growth, tokenizer fertility, NFC cleanup
  // ===========================================================================

  private val qBoilerplate = Q(
    "q_boilerplate",
    "cross-doc repeated 5-gram coverage: the per-doc boilerplate fraction",
    (s, d) => {
      // templated-content detector: a 5-gram that appears in >= 3 distinct
      // docs is boilerplate evidence; each doc reports how much of its
      // distinct-gram mass is covered. Grams are built per-row by the
      // native Shingles expression (no higher-order lambdas), the only
      // shuffles are the gram-frequency groupBy and the gram join — both
      // keyed on the gram string, the canonical shape at any corpus size.
      val docs = t(s, d).documents
      val grams = docs.select(
        col("doc_id"),
        explode(graft.functions.expressions.NativeExpressions
          .shingles(TF.tokens(col("text")), 5, distinct = true)).as("gram"))
      val common = grams.groupBy(col("gram"))
        .agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 3)
        .select(col("gram"), lit(1).as("is_common"))
      grams.join(common, Seq("gram"), "left")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_grams"),
          sum(coalesce(col("is_common"), lit(0))).cast("long").as("n_common"))
        .withColumn("boiler_bp", expr("(n_common * 10000) DIV n_grams"))
    },
    Some(raw"""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
            |  FROM documents WHERE length(trim(text)) > 0),
            |g AS (SELECT DISTINCT doc_id,
            |    array_to_string(ts[CAST(i AS INT):CAST(i AS INT)+4], ' ') AS gram
            |  FROM tk CROSS JOIN LATERAL unnest(range(1, len(ts) - 4 + 1)) AS r(i)),
            |freq AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 3)
            |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
            |  CAST(count(f.gram) AS BIGINT) AS n_common,
            |  (count(f.gram) * 10000) // count(*) AS boiler_bp
            |FROM g LEFT JOIN freq f USING (gram)
            |GROUP BY 1""".stripMargin))

  private val qVocabGrowth = Q(
    "q_vocab_growth",
    "Heaps-law curve: cumulative vocabulary vs cumulative tokens at doc checkpoints",
    (s, d) => {
      // tokenizer planning: how fast does the vocabulary grow as the
      // corpus grows? Each token contributes its FIRST document to the
      // curve (min(doc_id) — one shuffle on the token, output |vocab|
      // rows), bucketed to 100-doc checkpoints; the running sums then
      // run over |docs|/100 rows. At 100 TB the checkpoint granularity
      // is the knob: the per-token min and per-bucket counts stay one
      // keyed shuffle each regardless, only the tiny prefix-sum frame
      // grows with 1/granularity.
      val toks = t(s, d).documents
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
      val vb = toks.groupBy(col("tok")).agg(min(col("doc_id")).as("fd"))
        .groupBy(expr("((fd DIV 100) + 1) * 100").as("checkpoint"))
        .agg(count(lit(1)).as("new_vocab"))
      val tb = toks
        .groupBy(expr("((doc_id DIV 100) + 1) * 100").as("checkpoint"))
        .agg(count(lit(1)).as("new_tokens"))
      val w = Window.orderBy(col("checkpoint"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vb.join(tb, Seq("checkpoint"), "full")
        .select(
          col("checkpoint"),
          coalesce(col("new_vocab"), lit(0L)).as("new_vocab"),
          coalesce(col("new_tokens"), lit(0L)).as("new_tokens"))
        .withColumn("vocab_cum", sum(col("new_vocab")).over(w).cast("long"))
        .withColumn("tokens_cum", sum(col("new_tokens")).over(w).cast("long"))
    },
    Some(raw"""WITH tk AS (SELECT doc_id,
            |    unnest(string_split_regex(trim(text), '\s+')) AS tok
            |  FROM documents WHERE length(trim(text)) > 0),
            |f AS (SELECT tok, min(doc_id) AS fd FROM tk GROUP BY 1),
            |vb AS (SELECT ((fd // 100) + 1) * 100 AS checkpoint,
            |    CAST(count(*) AS BIGINT) AS new_vocab FROM f GROUP BY 1),
            |tb AS (SELECT ((doc_id // 100) + 1) * 100 AS checkpoint,
            |    CAST(count(*) AS BIGINT) AS new_tokens FROM tk GROUP BY 1),
            |j AS (SELECT COALESCE(vb.checkpoint, tb.checkpoint) AS checkpoint,
            |    COALESCE(new_vocab, 0) AS new_vocab,
            |    COALESCE(new_tokens, 0) AS new_tokens
            |  FROM vb FULL JOIN tb ON vb.checkpoint = tb.checkpoint)
            |SELECT checkpoint, new_vocab, new_tokens,
            |  CAST(sum(new_vocab) OVER (ORDER BY checkpoint) AS BIGINT) AS vocab_cum,
            |  CAST(sum(new_tokens) OVER (ORDER BY checkpoint) AS BIGINT) AS tokens_cum
            |FROM j""".stripMargin))

  private val qFertility = Q(
    "q_fertility",
    "tokenizer fertility per language: subword-proxy tokens per whitespace token",
    (s, d) => {
      // the cost model for tokenizer choice: how many subword tokens per
      // word, per language shard. One narrow scan, one tiny groupBy;
      // fertility in exact integer basis points (DIV, not double).
      val sub = size(regexp_extract_all(
        col("text"), lit("[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]+"), lit(0)))
      t(s, d).documents
        .select(col("lang"),
          TF.tokenCount(col("text")).cast("long").as("ws"),
          sub.cast("long").as("sub"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("ws_tokens"),
          sum(col("sub")).as("subword_tokens"))
        .withColumn("fertility_bp",
          expr("CASE WHEN ws_tokens > 0"
            + " THEN (subword_tokens * 10000) DIV ws_tokens ELSE 0 END"))
    },
    Some(s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
            |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
            |    ELSE len($sqlToks) END) AS BIGINT) AS ws_tokens,
            |  CAST(sum(len(regexp_extract_all(text,
            |    '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]+'))) AS BIGINT) AS subword_tokens,
            |  CASE WHEN sum(CASE WHEN length(trim(text)) = 0 THEN 0
            |      ELSE len($sqlToks) END) > 0
            |    THEN (CAST(sum(len(regexp_extract_all(text,
            |        '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]+'))) AS BIGINT) * 10000)
            |      // CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
            |        ELSE len($sqlToks) END) AS BIGINT)
            |    ELSE 0 END AS fertility_bp
            |FROM documents GROUP BY 1""".stripMargin))

  /** Mixed-normalization suffix exercised by [[qUnicodeNfc]]: decomposed
    * e + COMBINING ACUTE (NFC → é), ANGSTROM SIGN U+212B (NFC → Å), and
    * a decomposed Vietnamese ế (e + circumflex + acute → U+1EBF). The
    * same codepoints are embedded in the SQL literal, so both engines
    * normalize identical input.
    */
  private val NfcSuffix = " née Å ế"

  private val qUnicodeNfc = Q(
    "q_unicode_nfc",
    "Unicode NFC normalization pass (native expression vs DuckDB nfc_normalize)",
    (s, d) => {
      // corpus hygiene: canonically compose combining sequences so
      // equal-looking strings hash equal (dedup/fingerprints all assume
      // it). The testdata is ASCII (where NFC is the identity and the
      // expression's isNormalized fast path never copies), so the query
      // appends a decomposed suffix to make the normalization
      // observable end-to-end on every row.
      val raw = concat(col("text"), lit(NfcSuffix))
      t(s, d).documents
        .select(col("doc_id"),
          length(raw).as("n_raw"),
          length(graft.functions.expressions.NativeExpressions
            .nfcNormalize(raw)).as("n_nfc"),
          md5(graft.functions.expressions.NativeExpressions
            .nfcNormalize(raw)).as("nfc_md5"))
    },
    Some(s"""SELECT doc_id,
            |  length(text || '$NfcSuffix') AS n_raw,
            |  length(nfc_normalize(text || '$NfcSuffix')) AS n_nfc,
            |  md5(nfc_normalize(text || '$NfcSuffix')) AS nfc_md5
            |FROM documents""".stripMargin))

  private val KmvK = 64

  private val qKmvDistinct = Q(
    "q_kmv_distinct",
    "KMV distinct-count sketch per language vs exact, with integer-exact error",
    (s, d) => {
      // the mergeable alternative to countDistinct at corpus scale: keep
      // the K smallest hash values per group (WindowGroupLimit makes the
      // rank filter a map-side partial top-K — bounded state, one
      // shuffle of at most K rows per group per partition), estimate
      // n̂ = (K−1)·⌊M/h_K⌋ in exact int64 (M = 16^15, the hash-space
      // size). The exact count rides along so the result doubles as an
      // estimator-quality report.
      val toks = t(s, d).documents
        .select(col("lang"), explode(TF.tokens(col("text"))).as("tok"))
        .select(col("lang"),
          conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
        .distinct()
      val w = Window.partitionBy(col("lang")).orderBy(col("h"))
      val kmv = toks
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= KmvK)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"), max(col("h")).as("hk"))
      val exact = toks.groupBy(col("lang")).agg(count(lit(1)).as("n_exact"))
      exact.join(kmv, Seq("lang"))
        .withColumn("n_est",
          expr(s"CASE WHEN cnt < $KmvK THEN cnt" +
            s" ELSE (cnt - 1) * (1152921504606846976 DIV hk) END"))
        .withColumn("err_bp",
          expr("(abs(n_est - n_exact) * 10000) DIV n_exact"))
        .select("lang", "n_exact", "n_est", "err_bp")
    },
    Some(raw"""WITH tok AS (SELECT lang,
            |    unnest(string_split_regex(trim(text), '\s+')) AS tok
            |  FROM documents WHERE length(trim(text)) > 0),
            |tk AS (SELECT DISTINCT lang,
            |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tok),
            |r AS (SELECT lang, h,
            |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM tk),
            |kmv AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt, max(h) AS hk
            |  FROM r WHERE rn <= $KmvK GROUP BY 1),
            |x AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact FROM tk GROUP BY 1)
            |SELECT x.lang, n_exact,
            |  CASE WHEN cnt < $KmvK THEN cnt
            |       ELSE (cnt - 1) * (1152921504606846976 // hk) END AS n_est,
            |  (abs((CASE WHEN cnt < $KmvK THEN cnt
            |        ELSE (cnt - 1) * (1152921504606846976 // hk) END) - n_exact) * 10000)
            |    // n_exact AS err_bp
            |FROM x JOIN kmv USING (lang)""".stripMargin))

  private val HllP = 8 // 2^8 = 256 registers; raw regime needs n > 5m/2 = 640

  private val qHllDistinct = Q(
    "q_hll_distinct",
    "HyperLogLog distinct-count sketch per language vs exact (raw regime, float-free estimator)",
    (s, d) => {
      import graft.functions.expressions.{HyperLogLog, NativeExpressions}
      // the constant-size distinct counter every warehouse ships as
      // approx_count_distinct, over per-language token-BIGRAM
      // vocabularies (~900 per lang — inside the raw-estimator regime
      // n > 5m/2 where no linear-counting float branch is needed).
      // Scale shape vs countDistinct: the sketch is 256 bytes per
      // group regardless of vocabulary size and partials merge by
      // element-wise max, so the distinct-key set itself never
      // shuffles — one map-side pass plus a 256-long combine. The
      // exact count (which DOES shuffle the keys) rides along as the
      // estimator-quality report; V (zero registers) makes the
      // small-range branch point observable.
      val bg = t(s, d).documents
        .filter(length(trim(col("text"))) > 0)
        .select(col("lang"), TF.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("lang"), explode(expr(
          "transform(sequence(0, size(tk) - 2), " +
            "i -> concat(element_at(tk, i + 1), ' ', element_at(tk, i + 2)))"))
          .as("b"))
      bg.groupBy(col("lang"))
        .agg(
          countDistinct(col("b")).as("n_exact"),
          NativeExpressions.hll(col("b"), HllP).as("regs"))
        .withColumn("hll_est", HyperLogLog.estimate("regs", HllP))
        .withColumn("v_zero", HyperLogLog.zeroRegisters("regs"))
        .withColumn("err_bp",
          expr("(abs(hll_est - n_exact) * 10000) DIV n_exact"))
        .select("lang", "n_exact", "hll_est", "v_zero", "err_bp")
    },
    Some {
      import graft.functions.expressions.{HyperLogLog => H}
      val m = 1 << HllP
      val q = 60 - HllP
      // rebuild the register table: distinct bigrams -> (register, max
      // rank); absent registers hold rank 0 and contribute 2^q each to
      // the harmonic sum, V = m - #present (present regs have rank >= 1)
      raw"""WITH tk AS (SELECT lang, string_split_regex(trim(text), '\s+') AS tk
           |  FROM documents WHERE length(trim(text)) > 0),
           |bg AS (SELECT DISTINCT lang, tk[i] || ' ' || tk[i + 1] AS b
           |  FROM tk CROSS JOIN LATERAL unnest(range(1, len(tk))) AS t(i)
           |  WHERE len(tk) >= 2),
           |hb AS (SELECT lang, b, ${H.sqlBase("b")} AS base FROM bg),
           |regs AS (SELECT lang, ${H.sqlRegister("base", HllP)} AS j,
           |    max(${H.sqlRank("base", HllP)}) AS r
           |  FROM hb GROUP BY 1, 2),
           |harm AS (SELECT lang,
           |    CAST(sum(${H.sqlHarmonicTerm("r", HllP)}) AS BIGINT)
           |      + ($m - CAST(count(*) AS BIGINT)) * ${1L << q} AS s,
           |    $m - CAST(count(*) AS BIGINT) AS v_zero
           |  FROM regs GROUP BY 1),
           |x AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact FROM bg GROUP BY 1)
           |SELECT x.lang, n_exact, ${H.sqlEstimate("s", HllP)} AS hll_est,
           |  v_zero,
           |  (abs(${H.sqlEstimate("s", HllP)} - n_exact) * 10000) // n_exact AS err_bp
           |FROM x JOIN harm USING (lang)""".stripMargin
    })

  /** The fixed blocklist of [[qBlocklistFilter]] — shared verbatim by the
    * Spark side (automaton alphabet) and the oracle (VALUES list). A mix
    * of two-word phrases that DO occur in the testdata vocabulary, one
    * self-overlapping phrase ("a a" — overlapping occurrences must all
    * count), one single word, and one phrase that can never match.
    */
  private val Blocklist: Seq[String] = Seq(
    "scan slow", "table table", "a a", "fast merge",
    "slow filter", "spark", "big vector", "review bomb")

  private val qBlocklistFilter = Q(
    "q_blocklist_filter",
    "Aho-Corasick blocklist filter: per-doc phrase hit counts + C4-style drop verdict in one pass",
    (s, d) => {
      import graft.functions.expressions.NativeExpressions
      // the C4 badlist step at engine speed: K phrases, ONE automaton
      // pass per document (O(len + matches), not K rlike scans), per-
      // phrase counts for rule observability, and the drop verdict as
      // column algebra over the count array. Map-side only — no join,
      // no shuffle; the phrase list rides inside the expression (at
      // production K it is a broadcast-sized literal either way).
      t(s, d).documents
        .select(col("doc_id"),
          NativeExpressions.multiMatch(col("text"), Blocklist).as("counts"))
        .select(col("doc_id"),
          expr("aggregate(counts, CAST(0 AS BIGINT), (a, c) -> a + c)")
            .as("n_hits"),
          expr("aggregate(counts, CAST(0 AS BIGINT), " +
            "(a, c) -> a + CASE WHEN c > 0 THEN 1 ELSE 0 END)")
            .as("n_phrases"))
        .withColumn("kept", col("n_hits") === 0L)
    },
    Some {
      // a phrase's count = number of start positions i with
      // substr(text, i, len(p)) = p — exactly the automaton's
      // every-end-position-fires semantics, overlaps included
      val values = Blocklist.map(p => s"('${p}')").mkString(", ")
      raw"""WITH ph AS (SELECT * FROM (VALUES $values) AS v(p)),
           |occ AS (SELECT d.doc_id, p.p, CAST(count(*) AS BIGINT) AS c
           |  FROM documents d, ph p,
           |    LATERAL unnest(range(1, length(d.text) + 1)) AS t(i)
           |  WHERE substr(d.text, CAST(i AS INT), length(p.p)) = p.p
           |  GROUP BY 1, 2)
           |SELECT d.doc_id,
           |  coalesce(CAST(sum(c) AS BIGINT), 0) AS n_hits,
           |  coalesce(CAST(count(c) AS BIGINT), 0) AS n_phrases,
           |  coalesce(CAST(sum(c) AS BIGINT), 0) = 0 AS kept
           |FROM documents d LEFT JOIN occ USING (doc_id)
           |GROUP BY 1""".stripMargin
    })

  private val qCurriculum = Q(
    "q_curriculum",
    "curriculum binning: quality-decile buckets from sketch thresholds, per-bin token budget",
    (s, d) => {
      // data-ordering prep for curriculum training: bin every doc into a
      // quality decile and report each bin's doc count and token budget.
      // The 9 cut points come from the mergeable GK sketch (exact in
      // this regime — one tiny aggregate, not a global sort) broadcast
      // into the scan as a one-row frame, so binning is a map-side
      // comparison against 9 constants at any corpus size.
      val txt = col("text")
      val qbp = floor(TF.qualityScore(txt) * 10000.0).cast("long")
      val perDoc = t(s, d).documents.select(
        qbp.as("q_bp"),
        TF.tokenCount(txt).cast("long").as("n_tokens"))
      val th = perDoc.agg(
        graft.functions.expressions.NativeExpressions
          .quantileSketch(col("q_bp"), (1 to 9).map(_ / 10.0), 100000).as("th"))
      val bin = (1 to 9)
        .map(i => when(col("q_bp") >= element_at(col("th"), i), 1L).otherwise(0L))
        .reduce(_ + _)
      perDoc.crossJoin(broadcast(th))
        .select(bin.as("bin"), col("q_bp"), col("n_tokens"))
        .groupBy(col("bin"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          min(col("q_bp")).as("min_q_bp"),
          max(col("q_bp")).as("max_q_bp"))
    },
    Some {
      val stops = TF.Stopwords.map(w => s"'$w'").mkString(", ")
      def pick(q: String, as: String) =
        s"max(CASE WHEN rn = CAST(floor((n - 1) * $q) AS BIGINT) + 1 THEN q_bp END) AS $as"
      val picks = (1 to 9).map(i => pick(s"0.$i", s"t$i")).mkString(",\n  ")
      val binExpr = (1 to 9)
        .map(i => s"(CASE WHEN q_bp >= t$i THEN 1 ELSE 0 END)").mkString(" + ")
      raw"""WITH base AS (SELECT doc_id,
           |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
           |  CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
           |       ELSE len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ($stops))) END AS n_stop,
           |  CASE WHEN length(text) = 0 THEN 0.0
           |       ELSE (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) / length(text) END AS punct_ratio
           |FROM documents),
           |q AS (SELECT doc_id, n_tokens,
           |  CAST(floor(((least(n_tokens, 64) / 64.0) * 0.5 + (1.0 - punct_ratio) * 0.3
           |    + least((CASE WHEN n_tokens = 0 THEN 0.0 ELSE n_stop / n_tokens END) * 4.0, 1.0) * 0.2) * 10000.0) AS BIGINT) AS q_bp
           |FROM base),
           |r AS (SELECT q_bp, row_number() OVER (ORDER BY q_bp) AS rn,
           |    count(*) OVER () AS n FROM q),
           |th AS (SELECT
           |  $picks
           |FROM r)
           |SELECT $binExpr AS bin,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           |  min(q_bp) AS min_q_bp, max(q_bp) AS max_q_bp
           |FROM q, th GROUP BY 1""".stripMargin
    })

  /** The SemDeDup keep rule over the trained assignment `af`: `p` =
    * the in-cell smaller-id pairs (narrowed by `pairScope`), `agg` =
    * each vector's cosine ≥ `tau` priors, then the per-vector decision
    * over `af` joined by `from`.
    */
  private def sqlSemanticKeep(tau: Double, pairScope: String, from: String): String =
    s"""p AS (SELECT a.cid AS da, b.cid AS db,
       |    round(list_dot_product(a.v, b.v) / sqrt(a.vn2 * b.vn2), 4) AS cos
       |  FROM af a JOIN af b ON a.cell = b.cell AND a.cid < b.cid$pairScope),
       |agg AS (SELECT db, CAST(count(*) AS BIGINT) AS n_prior_near,
       |    min(da) AS dup_of
       |  FROM p WHERE cos >= $tau GROUP BY 1)
       |SELECT af.cid AS vec_id, af.cell,
       |  COALESCE(n_prior_near, 0) AS n_prior_near,
       |  COALESCE(dup_of, -1) AS dup_of,
       |  (dup_of IS NULL) AS kept
       |FROM af $from""".stripMargin

  /** The whole-corpus SemDeDup oracle at threshold `tau`, with the
    * √N auto-sized cell count.
    */
  private def sqlSemanticDedup(tau: Double): String =
    s"""WITH ${sqlIvfCellCtesWith(
         "(SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM bn)")},
       |${sqlSemanticKeep(tau, "", "LEFT JOIN agg ON agg.db = af.cid")}""".stripMargin

  private val qSemanticDedup = Q(
    "q_semantic_dedup",
    "SemDeDup: k-means cells bound the pair space, smaller-id near-neighbor marks dups",
    (s, d) =>
      // semantic (embedding-space) dedup at corpus scale: the trained
      // cells cap the quadratic comparison at |corpus|²/numCells expected
      // candidates, and the keep rule (dup iff a smaller-id cell-mate has
      // cosine ≥ τ) is the parallel form of greedy keep-first — no
      // sequential pass, no unbounded all-pairs join.
      // numCells = 0 → the √N auto-sizing production call
      // (Similarity.autoCellCount): a FIXED cell count makes the
      // within-cell verify quadratic in the corpus (measured 33×/decade
      // at sf10 under the materialize drive); √N cells balance the
      // k-means assignment and verify terms at N^1.5. The oracle
      // mirrors the rule with a dynamic LIMIT.
      Similarity.semanticDedup(
        t(s, d).embeddings, "vec_id", "embedding", threshold = 0.4,
        numCells = 0),
    Some(sqlSemanticDedup(0.4)))

  /** High-τ parameterization for [[qSemanticPrefilter]]: at 0.92 the
    * SRP prefilter's auto Hamming cut (65/256 bits) sits 6σ above the
    * boundary-pair band and 8σ below the random-pair band — the regime
    * where code prefiltering prunes ~everything AND provably loses
    * ~nothing. The exact-SQL oracle (no prefilter on the DuckDB side)
    * pins recall-safety on the real data: one dropped qualifying pair
    * hash-mismatches.
    */
  private val SemanticHiThreshold = 0.92

  private val qSemanticPrefilter = Q(
    "q_semantic_prefilter",
    "SemDeDup at high threshold with the recall-safe SRP-code Hamming prefilter: in-cell pairs compare 256-bit codes first, only survivors pay the exact cosine",
    (s, d) =>
      // the generalizable within-cell-verify cut: candidates shuffle
      // (id, cell, 4 longs) instead of full vectors, survivors join the
      // vectors back by id; the decision rule (exact rounded cosine ≥ τ)
      // is untouched, so the oracle is the same exact pair SQL as
      // q_semantic_dedup at τ = 0.92 — prefilter recall loss would
      // hash-mismatch. See Similarity.semanticDedupPrefiltered for the
      // 6σ/8σ Hamming-band sizing and why τ = 0.4 cannot be prefiltered.
      Similarity.semanticDedupPrefiltered(
        t(s, d).embeddings, "vec_id", "embedding",
        threshold = SemanticHiThreshold, numCells = 0),
    Some(sqlSemanticDedup(SemanticHiThreshold)))

  private val qSemanticIncr = Q(
    "q_semantic_incr",
    "incremental SemDeDup against a PERSISTED index: batch routed to frozen trained cells, verified against in-cell priors only (touched-cell partition pruning)",
    (s, d) => {
      // the streaming shape of semantic dedup: the index (trained
      // centroids + cell-partitioned corpus assignment) is built ONCE
      // on the first 60% of ids, one ingest batch ([60%, 80%)) is
      // appended through the stamped store path, and the query's
      // result is the incremental decision for the NEWEST batch
      // ([80%, 100%)) — per-batch cost is |batch| assignment plus
      // verifies against only the touched cells' directories. The
      // oracle recomputes the same frozen-model rule from scratch:
      // train on the 60% split, assign everything, decide the top 20%.
      val e = t(s, d).embeddings
      val n = e.count()
      val b1 = 3L * n / 5L
      val b2 = 4L * n / 5L
      val dir = graft.functions.Stores.scratchDir(
        "graft_semidx_", new java.io.File(d).getName)
      Similarity.writeSemanticIndex(
        e.filter(col("vec_id") < b1), "vec_id", "embedding", dir,
        numCells = 0)
      Similarity.appendSemanticBatch(s, dir,
        e.filter(col("vec_id") >= b1 && col("vec_id") < b2),
        "vec_id", "embedding", batchId = 0L)
      Similarity.semanticDedupIncremental(s, dir,
        e.filter(col("vec_id") >= b2), "vec_id", "embedding",
        threshold = 0.4)
    },
    Some(s"""WITH ${sqlIvfCellCtesWith(
             "(SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM bt)",
             "cid < (SELECT 3 * count(*) // 5 FROM bn)")},
            |bb AS (SELECT 4 * count(*) // 5 AS b2 FROM bn),
            |${sqlSemanticKeep(0.4, "\n  CROSS JOIN bb WHERE b.cid >= bb.b2",
                "CROSS JOIN bb LEFT JOIN agg ON agg.db = af.cid\nWHERE af.cid >= bb.b2")}""".stripMargin))

  private val qClusterBalance = Q(
    "q_cluster_balance",
    "IVF cell-balance diagnostic: per-cell sizes vs the uniform ideal",
    (s, d) => {
      // the |corpus|·nProbe/numCells cost claim of IVF search (and the
      // |corpus|²/numCells pair bound of semantic dedup) holds only if
      // the trained cells are balanced — this is the diagnostic a 100 TB
      // deployment watches. One trained assignment, one tiny groupBy;
      // imbalance = cell size in basis points of the uniform share.
      val e = t(s, d).embeddings
      val cents = Similarity.kmeansCentroids(
        e, "vec_id", "embedding", dims = 64,
        numCells = Queries.IvfNumCells)
      val local = Similarity.localModel(cents)
      val total = e.count() // tiny action; at scale read from table stats
      // fail fast on an empty table: the k-means seed selection and the
      // share_bp denominator below are meaningless with zero vectors
      // (both engines would otherwise just return zero rows)
      require(total > 0, "q_cluster_balance needs a non-empty embeddings table")
      Similarity.ivfAssign(e, "vec_id", "embedding", local)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"))
        .withColumn("share_bp",
          expr(s"(n_vecs * 10000 * ${Queries.IvfNumCells}) DIV ${total}L"))
    },
    Some(s"""WITH $sqlIvfCellCtes,
            |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM af)
            |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
            |  (CAST(count(*) AS BIGINT) * 10000 * ${Queries.IvfNumCells}) // total AS share_bp
            |FROM af, tot GROUP BY cell, total""".stripMargin))

  private val qZorderLayout = Q(
    "q_zorder_layout",
    "Z-order vs linear file layout: per-file bounding boxes for two-dim data skipping",
    (s, d) => {
      // lakehouse layout planning: interleave the bits of two
      // rank-scaled dimensions so range-bucketing the z-value yields
      // files whose min/max footers are tight in BOTH dimensions (the
      // precondition for two-sided data skipping); the naive
      // one-dimension sort is the baseline. Pure integer algebra (DIV /
      // % / *), one tiny min-max agg broadcast into the scan, one
      // groupBy per layout — no global sort at any scale: the z bucket
      // IS the range-partition key a writer would use.
      val base = t(s, d).events
        .select(col("user_id").as("a"), cents(col("value")).as("b"))
      val mm = base.agg(
        min(col("a")).as("amin"), max(col("a")).as("amax"),
        min(col("b")).as("bmin"), max(col("b")).as("bmax"))
      val terms = (0 until 16).map { j =>
        s"((a16 DIV ${1L << j}) % 2) * ${1L << (2 * j)}" +
          s" + ((b16 DIV ${1L << j}) % 2) * ${1L << (2 * j + 1)}"
      }.mkString(" + ")
      val scaled = base.crossJoin(broadcast(mm))
        .withColumn("a16", expr(
          "CASE WHEN amax > amin THEN ((a - amin) * 65535) DIV (amax - amin) ELSE 0 END"))
        .withColumn("b16", expr(
          "CASE WHEN bmax > bmin THEN ((b - bmin) * 65535) DIV (bmax - bmin) ELSE 0 END"))
        .withColumn("z", expr(terms))
      def summary(layout: String, fid: Column) = scaled
        .groupBy(fid.as("fid"))
        .agg(
          count(lit(1)).as("n_rows"),
          (max(col("a")) - min(col("a"))).as("span_user"),
          (max(col("b")) - min(col("b"))).as("span_cents"))
        .withColumn("layout", lit(layout))
      summary("zorder", expr("z DIV 67108864"))
        .unionByName(summary("linear", expr("a16 DIV 1024")))
        .select("layout", "fid", "n_rows", "span_user", "span_cents")
    },
    Some {
      val terms = (0 until 16).map { j =>
        s"((a16 // ${1L << j}) % 2) * ${1L << (2 * j)}" +
          s" + ((b16 // ${1L << j}) % 2) * ${1L << (2 * j + 1)}"
      }.mkString(" + ")
      s"""WITH base AS (SELECT user_id AS a, ${sqlCents("value")} AS b FROM events),
         |mm AS (SELECT min(a) AS amin, max(a) AS amax,
         |    min(b) AS bmin, max(b) AS bmax FROM base),
         |scaled AS (SELECT a, b,
         |    CASE WHEN amax > amin THEN ((a - amin) * 65535) // (amax - amin) ELSE 0 END AS a16,
         |    CASE WHEN bmax > bmin THEN ((b - bmin) * 65535) // (bmax - bmin) ELSE 0 END AS b16
         |  FROM base, mm),
         |z AS (SELECT a, b, a16, $terms AS z FROM scaled),
         |zs AS (SELECT 'zorder' AS layout, z // 67108864 AS fid,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    max(a) - min(a) AS span_user, max(b) - min(b) AS span_cents
         |  FROM z GROUP BY 2),
         |ls AS (SELECT 'linear' AS layout, a16 // 1024 AS fid,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    max(a) - min(a) AS span_user, max(b) - min(b) AS span_cents
         |  FROM z GROUP BY 2)
         |SELECT layout, fid, n_rows, span_user, span_cents FROM zs
         |UNION ALL
         |SELECT layout, fid, n_rows, span_user, span_cents FROM ls""".stripMargin
    })

  private val CmsDepth = 4
  private val CmsWidth = 512

  private val qCmsFreq = Q(
    "q_cms_freq",
    "Count-Min sketch: mergeable fixed-size frequency table vs exact counts",
    (s, d) => {
      import graft.functions.expressions.{CountMin, NativeExpressions}
      // the fixed-memory answer to per-key frequency at 100 TB: the
      // sketch is depth×width longs regardless of vocabulary size,
      // partials merge by addition (one map-side pass + tiny combine),
      // and estimates overcount by at most 2n/width w.h.p. The exact
      // counts ride along so the result doubles as an error report —
      // collisions are real at width 512 << |vocab|, which is the point.
      val toks = t(s, d).documents
        .select(explode(TF.tokens(col("text"))).as("tok"))
      val sk = toks.agg(
        NativeExpressions.countMin(col("tok"), CmsDepth, CmsWidth).as("cms"))
      val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("tok")).limit(20)
      top.crossJoin(broadcast(sk))
        .withColumn("cms_est",
          CountMin.estimate(col("cms"), col("tok"), CmsDepth, CmsWidth))
        .withColumn("over_bp", expr("((cms_est - n_exact) * 10000) DIV n_exact"))
        .select("tok", "n_exact", "cms_est", "over_bp")
    },
    Some {
      import graft.functions.expressions.CountMin
      val counters = (0 until CmsDepth).map { i =>
        s"c$i AS (SELECT ${CountMin.sqlBucket("base", i, CmsWidth)} AS b, " +
          s"CAST(sum(n_exact) AS BIGINT) AS c FROM hb GROUP BY 1)"
      }.mkString(",\n")
      val joins = (0 until CmsDepth).map { i =>
        s"JOIN c$i ON c$i.b = ${CountMin.sqlBucket("top.base", i, CmsWidth)}"
      }.mkString("\n")
      val est = s"least(${(0 until CmsDepth).map(i => s"c$i.c").mkString(", ")})"
      raw"""WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
           |  FROM documents WHERE length(trim(text)) > 0),
           |x AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_exact FROM tok GROUP BY 1),
           |hb AS (SELECT tok, n_exact, ${CountMin.sqlBase("tok")} AS base FROM x),
           |$counters,
           |top AS (SELECT tok, n_exact, base FROM hb ORDER BY n_exact DESC, tok LIMIT 20)
           |SELECT top.tok, top.n_exact, $est AS cms_est,
           |  (($est - top.n_exact) * 10000) // top.n_exact AS over_bp
           |FROM top
           |$joins""".stripMargin
    })

  private val WinnowK = 3
  private val WinnowW = 8

  /** CTEs `tk` … `fps` mirroring [[graft.functions.expressions.WinnowFp]]
    * exactly: `gd` = (doc_id, tokens, gram count), `grams` = (doc_id,
    * 0-based gram pos, 40-bit gram hash), `sel` = the per-window packed
    * min (rightmost-min tie rule folded into the +offset term), `fps` =
    * distinct (doc_id, selected hash). Shared by the winnow oracles.
    */
  private val sqlWinnowCtes: String =
    raw"""tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
         |  FROM documents WHERE length(trim(text)) > 0),
         |gd AS (SELECT doc_id, tk, CAST(len(tk) - ${WinnowK - 1} AS BIGINT) AS g
         |  FROM tk WHERE len(tk) >= $WinnowK),
         |grams AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
         |    CAST('0x' || substr(md5('g:' ||
         |      array_to_string(tk[CAST(i AS INT):CAST(i + ${WinnowK - 1} AS INT)], ' ')),
         |      1, 15) AS BIGINT) % ${1L << 40} AS h
         |  FROM gd CROSS JOIN LATERAL unnest(range(1, CAST(g + 1 AS BIGINT))) AS t(i)),
         |wins AS (SELECT doc_id, CAST(s AS BIGINT) AS s
         |  FROM gd CROSS JOIN LATERAL
         |    unnest(range(0, greatest(g - $WinnowW, 0) + 1)) AS t(s)),
         |sel AS (SELECT w.doc_id, w.s,
         |    min(g.h * 1024 + (${WinnowW - 1} - (g.p - w.s))) AS key
         |  FROM wins w JOIN grams g
         |    ON g.doc_id = w.doc_id AND g.p >= w.s AND g.p < w.s + $WinnowW
         |  GROUP BY 1, 2),
         |fps AS (SELECT DISTINCT doc_id, key // 1024 AS h FROM sel)""".stripMargin

  private val qWinnowFp = Q(
    "q_winnow_fp",
    "winnowing (MOSS) fingerprint selection: per-window rightmost-min gram hashes",
    (s, d) => {
      import graft.functions.expressions.NativeExpressions
      // the guaranteed-coverage fingerprint selector: any shared run of
      // ≥ w+k−1 tokens yields a shared selected hash, at expected
      // density 2/(w+1) of the full gram set. One native pass per row,
      // zero shuffle — the (doc, fp) pairs that feed a fp-keyed
      // candidate join are built entirely map-side.
      t(s, d).documents
        .select(col("doc_id"),
          (TF.tokenCount(col("text")) - (WinnowK - 1)).cast("long").as("n_grams"),
          NativeExpressions
            .winnowFp(TF.tokens(col("text")), WinnowK, WinnowW).as("fp"))
        .filter(size(col("fp")) > 0)
        .select(col("doc_id"), col("n_grams"),
          size(col("fp")).cast("long").as("n_fp"),
          expr("(CAST(size(fp) AS BIGINT) * 10000) DIV n_grams").as("density_bp"),
          element_at(col("fp"), 1).as("fp_min"),
          element_at(col("fp"), -1).as("fp_max"))
    },
    Some(
      raw"""WITH $sqlWinnowCtes
           |SELECT f.doc_id, gd.g AS n_grams,
           |  CAST(count(*) AS BIGINT) AS n_fp,
           |  (CAST(count(*) AS BIGINT) * 10000) // gd.g AS density_bp,
           |  min(f.h) AS fp_min, max(f.h) AS fp_max
           |FROM fps f JOIN gd ON gd.doc_id = f.doc_id
           |GROUP BY 1, 2""".stripMargin))

  /** The simulated snapshot pair shared by the CDC and SCD2 queries
    * (ONE definition so the two queries cannot drift): v1 drops
    * id%7==0, v2 drops id%11==3 and revises id%5==0. Each side projects
    * to (id, content-hash) BEFORE any join, so only two narrow columns
    * ever shuffle — never the text.
    */
  private def snapshotPair(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = t(s, d).documents
    val v1 = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("doc_id"), md5(col("text")).as("h1"))
    val v2 = docs.filter(pmod(col("doc_id"), lit(11)) =!= 3)
      .select(col("doc_id"),
        md5(when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text"))).as("h2"))
    (v1, v2)
  }

  /** SQL mirror of [[snapshotPair]] plus the full-outer join: CTEs
    * `v1`, `v2`, `j` = (doc_id, h1, h2).
    */
  private val sqlSnapshotCtes: String =
    """v1 AS (SELECT doc_id, md5(text) AS h1 FROM documents WHERE doc_id % 7 <> 0),
      |v2 AS (SELECT doc_id,
      |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END) AS h2
      |  FROM documents WHERE doc_id % 11 <> 3),
      |j AS (SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id, h1, h2
      |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)""".stripMargin

  private val qSnapshotCdc = Q(
    "q_snapshot_cdc",
    "snapshot diff / CDC: added-removed-changed-unchanged between two corpus versions",
    (s, d) => {
      // lakehouse change-data-capture between the shared simulated
      // snapshot pair; one narrow full-outer join decides every doc's fate
      val (v1, v2) = snapshotPair(s, d)
      v1.join(v2, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("h1").isNull, "added")
            .when(col("h2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "changed")
            .otherwise("unchanged"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
    },
    Some(
      s"""WITH $sqlSnapshotCtes
         |SELECT CASE WHEN h1 IS NULL THEN 'added'
         |            WHEN h2 IS NULL THEN 'removed'
         |            WHEN h1 <> h2 THEN 'changed'
         |            ELSE 'unchanged' END AS status,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM j GROUP BY 1""".stripMargin))

  private val qLmSurprisal = Q(
    "q_lm_surprisal",
    "unigram LM surprisal scoring: per-doc average token surprisal in exact centibits",
    (s, d) => {
      // the CCNet-style LM quality signal without floats: per-token
      // surprisal ≈ log2(T/c) computed as the integer bit-length
      // difference len(bin(T)) − len(bin(c)) — exact on every engine —
      // then averaged per document in centibits via integer DIV.
      // Low avg = stopword-heavy/common text, high avg = rare-token
      // (specialist or noisy) text; the standard corpus-filter axis.
      // Scale shape: one tok-keyed shuffle for the term frequencies,
      // a broadcast of the one-row total, one doc-keyed aggregation.
      val occ = t(s, d).documents
        .select(col("doc_id"), col("lang"),
          explode(TF.tokens(col("text"))).as("tok"))
      val tf = occ.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val tot = tf.agg(sum(col("c")).as("t"))
      occ.join(tf, Seq("tok"))
        .crossJoin(broadcast(tot))
        .withColumn("surp", length(expr("bin(t)")) - length(expr("bin(c)")))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_toks"), sum(col("surp")).as("sum_bits"))
        .withColumn("avg_surprisal_cb", expr("(sum_bits * 100) DIV n_toks"))
        .select("doc_id", "lang", "n_toks", "avg_surprisal_cb")
    },
    Some(
      raw"""WITH occ AS (SELECT doc_id, lang,
           |    unnest(string_split_regex(trim(text), '\s+')) AS tok
           |  FROM documents WHERE length(trim(text)) > 0),
           |tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM occ GROUP BY 1),
           |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM tf)
           |SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_toks,
           |  (CAST(sum(length(bin(t)) - length(bin(c))) AS BIGINT) * 100)
           |    // CAST(count(*) AS BIGINT) AS avg_surprisal_cb
           |FROM occ JOIN tf USING (tok), tot
           |GROUP BY doc_id, lang""".stripMargin))

  private val WinnowMaxFreq = 50

  private val qWinnowCandidates = Q(
    "q_winnow_candidates",
    "winnowing dedup candidates: docs sharing >=2 selected fingerprints, boilerplate-capped",
    (s, d) => {
      import graft.functions.expressions.NativeExpressions
      // the end-to-end winnow scale path: fingerprints are built
      // map-side (zero shuffle), then ONE fp-keyed equi-join makes the
      // candidates. Fingerprints shared by > maxFreq docs are dropped
      // first — boilerplate grams (headers, license text) are exactly
      // the keys that would otherwise pair everything with everything,
      // the same cap discipline as the minhash band buckets.
      val fps = t(s, d).documents
        .select(col("doc_id"),
          explode(NativeExpressions
            .winnowFp(TF.tokens(col("text")), WinnowK, WinnowW)).as("fp"))
      val shareable = fps.groupBy(col("fp"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= WinnowMaxFreq)
        .select("fp")
      val cand = fps.join(shareable, Seq("fp"))
      cand.select(col("fp"), col("doc_id").as("doc_a"))
        .join(cand.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
    },
    Some(
      raw"""WITH $sqlWinnowCtes,
           |fdf AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM fps GROUP BY 1),
           |cand AS (SELECT f.doc_id, f.h FROM fps f JOIN fdf USING (h)
           |  WHERE df BETWEEN 2 AND $WinnowMaxFreq)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(count(*) AS BIGINT) AS n_shared
           |FROM cand a JOIN cand b ON a.h = b.h AND a.doc_id < b.doc_id
           |GROUP BY 1, 2
           |HAVING count(*) >= 2""".stripMargin))

  private val PmiTopM = 30
  private val PmiMinPair = 5

  private val qPmiColloc = Q(
    "q_pmi_colloc",
    "PMI collocations: document-level lift among the top-m vocabulary, exact basis points",
    (s, d) => {
      // collocation mining with the pair space bounded by construction:
      // only the broadcast top-m tokens can pair, so per-doc work is
      // ≤ m²/2 regardless of corpus size. Lift = P(a,b)/(P(a)P(b)) =
      // c_ab·N/(c_a·c_b), kept in exact integer basis points (the
      // log of PMI is monotone in lift — same ranking, no floats).
      // Regime note: c_ab·N·10⁴ must stay < 2⁶³ — holds through
      // billion-doc corpora for pair counts up to ~10⁵.
      val pres = t(s, d).documents
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
        .distinct()
      val nd = pres.agg(countDistinct(col("doc_id")).as("n_docs"))
      val top = pres.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(PmiTopM)
      val p = pres.join(broadcast(top), Seq("tok"))
      p.select(col("doc_id"), col("tok").as("tok_a"), col("c").as("c_a"))
        .join(
          p.select(col("doc_id"), col("tok").as("tok_b"), col("c").as("c_b")),
          Seq("doc_id"))
        .filter(col("tok_a") < col("tok_b"))
        .groupBy(col("tok_a"), col("tok_b"), col("c_a"), col("c_b"))
        .agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= PmiMinPair)
        .crossJoin(broadcast(nd))
        .withColumn("lift_bp", expr("(c_ab * n_docs * 10000) DIV (c_a * c_b)"))
        .select("tok_a", "tok_b", "c_a", "c_b", "c_ab", "lift_bp")
    },
    Some(
      raw"""WITH pres AS (SELECT DISTINCT doc_id,
           |    unnest(string_split_regex(trim(text), '\s+')) AS tok
           |  FROM documents WHERE length(trim(text)) > 0),
           |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM pres),
           |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM pres GROUP BY 1),
           |top AS (SELECT tok, c FROM dfreq ORDER BY c DESC, tok LIMIT $PmiTopM),
           |p AS (SELECT pres.doc_id, pres.tok, top.c FROM pres JOIN top USING (tok))
           |SELECT a.tok AS tok_a, b.tok AS tok_b, a.c AS c_a, b.c AS c_b,
           |  CAST(count(*) AS BIGINT) AS c_ab,
           |  (CAST(count(*) AS BIGINT) * n_docs * 10000) // (a.c * b.c) AS lift_bp
           |FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.tok < b.tok, nd
           |GROUP BY 1, 2, 3, 4, n_docs
           |HAVING count(*) >= $PmiMinPair""".stripMargin))

  private val SuffixMaxDoc = 500L

  /** The span-ACCOUNTING query runs the FULL documents table (the
    * round-14 retirement of the historical 2000-doc slice). Why no
    * slice: the growth study (PERF.md round 15, sf0.1, min of 2) measured
    * dupSpans walls 500→1000→2000→4000→5000(full) docs at
    * 6.9→7.2→9.5→15.0→18.5 s — 2000→full is 1.95× wall for 2.5× the
    * chars (gate benches agree: 10.1→17.9 s = 1.77×), i.e. sublinear
    * in chars but close to doubling: by 4000 docs the per-round
    * distributed work contributes alongside driver round latency
    * (rounds are capped at ~log₂ cap by the 2·cap rank truncation;
    * data volume grows the per-round linear carry, hash-partitioned).
    * The raise initially spent most of the catalog's 10-s-bound
    * headroom on this one query (worst sf0.1 wall ~1.0× → ~1.8× the
    * bound); the round-17 direct-compare LCP (see
    * [[graft.functions.Suffix.dupSpans]] — the walk is gone) bought it
    * back to ~11.7 s ≈ 1.2×. Kept at full corpus because exactness at
    * the gate SF is what the accounting query is FOR.
    *
    * Why NOT doc-sharding with a fingerprint bridge (the r13-verdict
    * sketch): to stay EXACT at minSpan = 20 the bridge must catch every
    * cross-shard common substring of length ≥ 20, which forces stride-1
    * ≤ 20-char fingerprints ([[Clustering.winnowedSpanCandidates]]'s
    * win = 40 > 20 windows can't contain a 20-char span, and its
    * stride-8 sampling grid misaligns across occurrences at 7/8 of
    * offsets) — and measured on sf0.1, the exact 20-gram bridge is
    * DEGENERATE: 4988 of 5000 docs share a cross-shard 20-gram (common
    * generated-text phrases), so the "bridge index" is the corpus and
    * sharding buys nothing. One unsharded ladder over everything is
    * exact at ~2× the sliced wall (the growth table's 9.5→18.5 s).
    *
    * Where the slice DOES still bind: the declared bound is 5000 docs
    * (≈ 1.5M chars) — the ENTIRE documents table at the driver's gate
    * SF 0.1, so the cataloged query is genuinely full-corpus there; at
    * sf10+ it is a fixed-size diagnostic slice, because the true
    * full-corpus run was measured once (sf10, 500k docs = 150M chars,
    * materialize drive): 826 s — at 300× the chars the per-round
    * distributed work, not round latency, dominates, and an
    * unbounded-input 14-minute row would drown every per-round bench
    * while measuring nothing new about the plan (linear carry, ~log₂
    * cap rounds, no blowup — the number IS the honest linear price of
    * exact substring dedup at that volume, recorded in PERF.md).
    * The position-level diagnostic dumps (q_suffix_array/q_suffix_lcp,
    * whose oracles materialize every suffix) stay at 500.
    */
  private val SuffixSpanMaxDoc = 5000L

  /** `p` = every suffix (doc_id, pos, suf) of the non-empty docs below
    * `maxDoc` — the brute-force side of the suffix oracles.
    */
  private def sqlSuffixes(maxDoc: Long): String =
    raw"""p AS (SELECT doc_id, CAST(g.i AS BIGINT) AS pos,
         |    substr(text, g.i) AS suf
         |  FROM documents CROSS JOIN LATERAL
         |    (SELECT unnest(generate_series(1, length(text))) AS i) g
         |  WHERE doc_id < $maxDoc AND length(text) >= 1)""".stripMargin

  /** [[sqlSuffixes]] plus `rk` = each suffix with its dense rank. */
  private def sqlSuffixRanks(maxDoc: Long): String =
    raw"""${sqlSuffixes(maxDoc)},
         |rk AS (SELECT doc_id, pos, suf,
         |    CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT) - 1 AS srank FROM p)""".stripMargin

  private val qSuffixArray = Q(
    "q_suffix_array",
    "distributed suffix array (prefix doubling): dense suffix ranks, oracle = brute suffix sort",
    (s, d) =>
      // the exact-substring-dedup index (Lee et al. ACL'22) built in
      // log(maxLen) equi-join/agg rounds without materializing a single
      // suffix; the oracle sorts the actual suffix strings — the
      // quadratic-memory brute force the operator exists to avoid —
      // over the same bounded slice (input bound per the
      // exhaustive-ground-truth convention; the operator itself is
      // linear-carry and unbounded)
      graft.functions.Suffix.suffixRanks(
        t(s, d).documents.filter(col("doc_id") < SuffixMaxDoc),
        "doc_id", "text"),
    Some(
      raw"""WITH ${sqlSuffixes(SuffixMaxDoc)}
           |SELECT doc_id, pos,
           |  CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT) - 1 AS srank
           |FROM p""".stripMargin))

  private val LcpCap = 64L

  private val qSuffixLcp = Q(
    "q_suffix_lcp",
    "rank-adjacent LCP table from the suffix array: exact duplicated-span lengths",
    (s, d) =>
      // the dedup half of the Lee-et-al index: a span is duplicated at
      // length >= L iff some adjacent pair here has lcp >= L. The cap
      // is the operational span threshold a dedup consumer queries at
      // (and keeps the oracle's brute-force per-character probe
      // affordable), so the query consumes the CLAMPED LCP — which the
      // operator computes by direct slice comparison (adjacentLcpCapped's
      // doc; full rows spec-pinned vs a Scala brute force at every cap)
      graft.functions.Suffix.adjacentLcpCapped(
        t(s, d).documents.filter(col("doc_id") < SuffixMaxDoc),
        "doc_id", "text", maxLcp = LcpCap)
        .select(col("srank"), col("doc_a"), col("pos_a"), col("doc_b"),
          col("pos_b"), col("lcp").as("lcp_c")),
    Some(
      raw"""WITH ${sqlSuffixRanks(SuffixMaxDoc)},
           |rep AS (SELECT srank, doc_id, pos, suf FROM (
           |    SELECT *, row_number() OVER (
           |      PARTITION BY srank ORDER BY doc_id, pos) AS rn FROM rk)
           |  WHERE rn = 1),
           |pair AS (SELECT a.srank, a.doc_id AS doc_a, a.pos AS pos_a,
           |    b.doc_id AS doc_b, b.pos AS pos_b, a.suf AS sa, b.suf AS sb
           |  FROM rep a JOIN rep b ON b.srank = a.srank + 1)
           |SELECT srank, doc_a, pos_a, doc_b, pos_b,
           |  CAST(COALESCE(max(CASE WHEN substr(sa, 1, g.i) = substr(sb, 1, g.i)
           |    THEN g.i END), 0) AS BIGINT) AS lcp_c
           |FROM pair CROSS JOIN LATERAL
           |  (SELECT unnest(generate_series(1, $LcpCap)) AS i) g
           |GROUP BY 1, 2, 3, 4, 5""".stripMargin))

  private val MinSpan = 20L

  /** [[qDupSpans]]'s LCP cap. The merged-region union is provably
    * cap-INVARIANT for any cap ≥ minSpan (Suffix.dupSpans scaladoc;
    * spec-pinned cap-invariance), so the span-accounting query takes
    * the cheapest admissible cap: 32 halves the rank-truncation
    * horizon vs [[LcpCap]]'s 64 and drops one doubling round — output
    * bit-identical (oracle-green at sf0.01 and sf0.1 with the oracle
    * run at the same cap); clean-boot wall in
    * BENCH_local_r15_sf0.1.json.
    * [[LcpCap]] stays 64 for [[qSuffixLcp]], whose OUTPUT (the capped
    * LCP values themselves) genuinely depends on the cap.
    */
  private val DupSpanCap = 32L

  /** Shared oracle CTE chain computing the merged duplicated-span
    * intervals per doc (`i`: doc_id, grp, s, e2) — the SQL mirror of
    * `Suffix.dupSpanIntervals`, consumed by both `q_dup_spans`
    * (accounting tail) and `q_dup_scrub` (text-rebuild tail).
    */
  private def dupSpanCtes(maxDoc: Long, cap: Long) =
    raw"""WITH ${sqlSuffixRanks(maxDoc)},
         |rep AS (SELECT srank, suf FROM (
         |    SELECT srank, suf, row_number() OVER (
         |      PARTITION BY srank ORDER BY doc_id, pos) AS rn FROM rk)
         |  WHERE rn = 1),
         |pl AS (SELECT a.srank,
         |    CAST(COALESCE(max(CASE WHEN substr(a.suf, 1, g.i) = substr(b.suf, 1, g.i)
         |      THEN g.i END), 0) AS BIGINT) AS l
         |  FROM rep a JOIN rep b ON b.srank = a.srank + 1
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, $cap)) AS i) g
         |  GROUP BY 1),
         |mult AS (SELECT srank, count(*) AS m FROM rk GROUP BY 1),
         |dl AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len
         |  FROM documents WHERE doc_id < $maxDoc AND length(text) >= 1),
         |per AS (SELECT rk.doc_id, rk.pos,
         |    greatest(
         |      CASE WHEN mult.m >= 2 THEN least(dl.len - rk.pos + 1, $cap)
         |        ELSE 0 END,
         |      COALESCE(u.l, 0), COALESCE(d2.l, 0)) AS dlen
         |  FROM rk JOIN mult USING (srank) JOIN dl USING (doc_id)
         |  LEFT JOIN pl u ON u.srank = rk.srank
         |  LEFT JOIN pl d2 ON d2.srank = rk.srank - 1),
         |f AS (SELECT doc_id, pos, pos + dlen AS e FROM per
         |  WHERE dlen >= $MinSpan),
         |g2 AS (SELECT doc_id, pos, e,
         |    max(e) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe FROM f),
         |h AS (SELECT doc_id, pos, e,
         |    sum(CASE WHEN pe IS NULL OR pos > pe THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM g2),
         |i AS (SELECT doc_id, grp, min(pos) AS s, max(e) AS e2 FROM h
         |  GROUP BY 1, 2)""".stripMargin

  private val qDupSpans = Q(
    "q_dup_spans",
    "per-doc duplicated-region accounting from the suffix index: merged >=20-char dup spans (Lee et al. removal candidates); 5000-doc bound = the whole table at sf0.1",
    (s, d) =>
      // the CONSUMER of the suffix index: dupLen(p) = max(neighbor-rank
      // LCPs, full length if the rank has >=2 members), region = merged
      // union of [p, p+dupLen) over dupLen >= MinSpan. The LCP is capped
      // at DupSpanCap — exact for the union as long as cap >= minSpan
      // (see Suffix.dupSpans's doc). The 5000-doc bound = the WHOLE
      // table at the gate SF 0.1 (full-corpus criterion, r13 verdict);
      // see the slice note above SuffixSpanMaxDoc for why sharding was
      // rejected and what the unbounded sf10 run costs.
      graft.functions.Suffix.dupSpans(
        t(s, d).documents.filter(col("doc_id") < SuffixSpanMaxDoc),
        "doc_id", "text", MinSpan, DupSpanCap),
    Some(
      raw"""${dupSpanCtes(SuffixSpanMaxDoc, DupSpanCap)},
           |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_spans,
           |    CAST(sum(e2 - s) AS BIGINT) AS dup_chars FROM i GROUP BY 1)
           |SELECT d.doc_id, d.len AS n_chars,
           |  CAST(COALESCE(pd.dup_spans, 0) AS BIGINT) AS dup_spans,
           |  CAST(COALESCE(pd.dup_chars, 0) AS BIGINT) AS dup_chars
           |FROM dl d LEFT JOIN pd USING (doc_id)""".stripMargin))

  private val qDupScrub = Q(
    "q_dup_scrub",
    "suffix-index duplicate-span SCRUB: each doc rebuilt with its merged >=20-char duplicated regions removed (Lee et al. removal step)",
    (s, d) =>
      // the TRANSFORMATION q_dup_spans accounts for: every character
      // inside a merged dup region is deleted and the complement
      // substrings concatenate back in order (all copies removed — the
      // conservative decontamination variant; q_span_scrub is the
      // chunk-granular keep-first counterpart). The result hashes the
      // scrubbed text so the oracle compares content, not just counts.
      // Cap: the scrub consumes only the MERGED intervals, which are
      // cap-invariant for any cap ≥ MinSpan (same theorem and spec pin
      // as q_dup_spans) — so it takes the cheapest admissible cap,
      // [[DupSpanCap]], halving the 2·cap rank-truncation horizon and
      // dropping one doubling round vs the historical LcpCap=64. The
      // oracle mirror stays at 64: intervals — and hence the scrubbed
      // text — are identical by the invariance.
      graft.functions.Suffix.scrubDupSpans(
        t(s, d).documents.filter(col("doc_id") < SuffixMaxDoc),
        "doc_id", "text", MinSpan, DupSpanCap)
        .select(col("doc_id"), col("n_chars"), col("kept_chars"),
          md5(col("text_scrubbed")).as("scrub_md5")),
    Some(
      // the oracle rebuilds the kept text per POSITION (brute force is
      // fine at sf0.01's bounded slice): a position survives iff no
      // merged interval covers it; string_agg in position order
      raw"""${dupSpanCtes(SuffixMaxDoc, LcpCap)},
           |pos2 AS (SELECT dl.doc_id, CAST(g.i AS BIGINT) AS pos
           |  FROM dl CROSS JOIN LATERAL
           |    (SELECT unnest(generate_series(1, dl.len)) AS i) g),
           |kept AS (SELECT p2.doc_id, p2.pos FROM pos2 p2
           |  WHERE NOT EXISTS (SELECT 1 FROM i iv
           |    WHERE iv.doc_id = p2.doc_id AND p2.pos >= iv.s AND p2.pos < iv.e2)),
           |sc AS (SELECT k.doc_id,
           |    string_agg(substr(dt.text, CAST(k.pos AS INT), 1), '' ORDER BY k.pos) AS scrub
           |  FROM kept k JOIN documents dt USING (doc_id) GROUP BY 1)
           |SELECT d.doc_id, d.len AS n_chars,
           |  CAST(COALESCE(length(sc.scrub), 0) AS BIGINT) AS kept_chars,
           |  md5(COALESCE(sc.scrub, '')) AS scrub_md5
           |FROM dl d LEFT JOIN sc USING (doc_id)""".stripMargin))

  private val TrIters   = 3
  private val TrTeleport = (10000L - graft.functions.Graph.DampingBp) *
    graft.functions.Graph.Scale / 10000L

  private val qTextrank = Q(
    "q_textrank",
    "TextRank keyword centrality: fixed-point PageRank over the adjacent-token co-occurrence graph",
    (s, d) =>
      // word-graph centrality (Mihalcea & Tarau EMNLP'04) as corpora
      // use for keyword extraction / quality priors. All integer
      // fixed-point (ranks ×10⁶, damping in bp, DIV floors) so the
      // 3-iteration recurrence replays bit-exactly in the oracle's
      // unrolled CTEs. Edge build is one linear shingle pass; each
      // iteration is a node-id equi-join + re-agg over the vocab-sized
      // edge table.
      graft.functions.Graph.pageRank(
        graft.functions.Graph.textRankEdges(t(s, d).documents, "doc_id", "text"),
        TrIters)
        .select(col("node").as("tok"), col("rk").as("rank_fp")),
    Some {
      val d = graft.functions.Graph.DampingBp
      val iter = (k: Int) =>
        raw"""i$k AS (SELECT ew.dst AS node,
             |    CAST(sum((r.rk * ew.w) // ew.wout) AS BIGINT) AS infl
             |  FROM ew JOIN r${k - 1} r ON r.node = ew.src GROUP BY 1),
             |r$k AS (SELECT n.node,
             |    CAST($TrTeleport + ($d * COALESCE(i.infl, 0)) // 10000 AS BIGINT) AS rk
             |  FROM nodes n LEFT JOIN i$k i USING (node))""".stripMargin
      raw"""WITH tk AS (SELECT string_split_regex(trim(text), '\s+') AS toks
           |  FROM documents WHERE length(trim(text)) > 0),
           |bg AS (SELECT toks[g.i] AS a, toks[g.i+1] AS b FROM tk
           |  CROSS JOIN LATERAL
           |    (SELECT unnest(generate_series(1, len(toks)-1)) AS i) g
           |  WHERE toks[g.i] <> toks[g.i+1]),
           |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM (
           |    SELECT a AS src, b AS dst FROM bg
           |    UNION ALL SELECT b AS src, a AS dst FROM bg)
           |  GROUP BY 1, 2),
           |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM e GROUP BY 1),
           |ew AS (SELECT e.src, e.dst, e.w, ow.wout FROM e JOIN ow USING (src)),
           |nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT dst FROM e),
           |r0 AS (SELECT node, CAST(${graft.functions.Graph.Scale} AS BIGINT) AS rk
           |  FROM nodes),
           |${(1 to TrIters).map(iter).mkString(",\n")}
           |SELECT node AS tok, rk AS rank_fp FROM r$TrIters""".stripMargin
    })

  private val qScd2History = Q(
    "q_scd2_history",
    "SCD2 history build: versioned records with end-version and currency from two snapshots",
    (s, d) => {
      // the type-2 slowly-changing-dimension merge, declaratively: one
      // full-outer join of the shared snapshot pair decides every
      // record's fate — v1 rows close (end_ver=2) when the doc changed
      // or vanished, v2 opens a new record for added/changed docs.
      // The pattern is what a MERGE INTO compiles to without any table
      // format.
      val (v1, v2) = snapshotPair(s, d)
      val j = v1.join(v2, Seq("doc_id"), "full_outer")
      val hist1 = j.filter(col("h1").isNotNull).select(
        col("doc_id"), lit(1).as("ver"), col("h1").as("content_h"),
        when(col("h2").isNull || col("h1") =!= col("h2"), lit(2))
          .otherwise(lit(null).cast("int")).as("end_ver"),
        (col("h2").isNotNull && col("h1") === col("h2")).as("is_current"))
      val hist2 = j.filter(
        col("h2").isNotNull && (col("h1").isNull || col("h1") =!= col("h2")))
        .select(col("doc_id"), lit(2).as("ver"), col("h2").as("content_h"),
          lit(null).cast("int").as("end_ver"), lit(true).as("is_current"))
      hist1.unionByName(hist2)
    },
    Some(
      s"""WITH $sqlSnapshotCtes
         |SELECT doc_id, 1 AS ver, h1 AS content_h,
         |  CASE WHEN h2 IS NULL OR h1 <> h2 THEN 2 ELSE NULL END AS end_ver,
         |  (h2 IS NOT NULL AND h1 = h2) AS is_current
         |FROM j WHERE h1 IS NOT NULL
         |UNION ALL
         |SELECT doc_id, 2 AS ver, h2 AS content_h,
         |  NULL AS end_ver, TRUE AS is_current
         |FROM j WHERE h2 IS NOT NULL AND (h1 IS NULL OR h1 <> h2)""".stripMargin))

  private val ScrubChunk = 20

  private val qSpanScrub = Q(
    "q_span_scrub",
    "C4-style span scrub: first occurrence of each duplicated chunk wins, docs rebuilt",
    (s, d) => {
      // the dedup TRANSFORMATION (the substring family only diagnoses):
      // docs split into fixed 20-token chunks, a chunk content survives
      // only at its globally-first occurrence (min packed (doc,pos) —
      // one integer both engines agree on), and every doc is rebuilt
      // from its kept chunks in order. Scale shape: chunking is
      // map-side, the first-occurrence rule is ONE groupBy on the chunk
      // hash, the rebuild is one groupBy on doc_id — no joins wider
      // than (hash, packed-position), text never shuffles twice.
      val chunks = t(s, d).documents
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), TF.tokens(col("text")).as("tk"))
        .withColumn("nch", expr(s"(size(tk) + ${ScrubChunk - 1}) DIV $ScrubChunk"))
        // the packed (doc, pos) key below reserves 10⁶ positions per doc;
        // a doc with more chunks (>20M tokens) would silently collide
        // packed keys across docs and corrupt the first-occurrence
        // ordering — fail LOUDLY instead
        .withColumn("nch",
          when(col("nch") < lit(1000000L), col("nch"))
            .otherwise(raise_error(concat(
              lit("q_span_scrub: doc "), col("doc_id"),
              lit(" has "), col("nch"),
              lit(" chunks >= 1e6 — packed (doc_id, pos) key would collide")))))
        .select(col("doc_id"),
          posexplode(expr(s"transform(sequence(0, nch - 1), " +
            s"i -> concat_ws(' ', slice(tk, i * $ScrubChunk + 1, $ScrubChunk)))")))
        .select(col("doc_id"), col("pos"), col("col").as("chunk"))
      chunks
        .withColumn("h", md5(col("chunk")))
        // packed (doc, pos) as ONE integer so "globally first occurrence"
        // is a plain min both engines compute identically (pos < 10⁶,
        // i.e. docs up to 20M tokens)
        .withColumn("packed", col("doc_id") * 1000000L + col("pos"))
        .withColumn("first_packed",
          min(col("packed")).over(Window.partitionBy(col("h"))))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(when(col("packed") === col("first_packed"), 1L).otherwise(0L))
            .as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(when(
              col("packed") === col("first_packed"),
              struct(col("pos"), col("chunk"))))),
            x => x.getField("chunk")), " ")).as("new_md5"))
        .select("doc_id", "n_chunks", "n_kept", "new_md5")
    },
    Some(
      raw"""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
           |  FROM documents WHERE length(trim(text)) > 0),
           |ch AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
           |    array_to_string(tk[CAST(i * $ScrubChunk + 1 AS INT):CAST((i + 1) * $ScrubChunk AS INT)], ' ') AS chunk
           |  FROM tk CROSS JOIN LATERAL
           |    unnest(range(0, (len(tk) + ${ScrubChunk - 1}) // $ScrubChunk)) AS g(i)),
           |hp AS (SELECT doc_id, pos, chunk, md5(chunk) AS h,
           |    doc_id * 1000000 + pos AS packed FROM ch),
           |fo AS (SELECT h, min(packed) AS first_packed FROM hp GROUP BY 1)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           |  CAST(sum(CASE WHEN packed = first_packed THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  md5(COALESCE(string_agg(chunk, ' ' ORDER BY pos)
           |    FILTER (WHERE packed = first_packed), '')) AS new_md5
           |FROM hp JOIN fo USING (h)
           |GROUP BY doc_id""".stripMargin))

  /** Per-(language-pair, distinct-bigram-hash) membership table shared by
    * the two KMV set-operation queries: every distinct hash tagged with
    * its pair memberships (equi-join against the pairs exploded to
    * (pair, member-lang, side) — 2·|pairs| rows, broadcast), deduped per
    * (pair, h). The corpus is scanned ONCE — a union-sketch + self-join
    * formulation scans it six times. BIGRAM vocabulary (~10³ per
    * language on the kit, well past K=64) so the threshold-estimation
    * branch does real sketch work — the unigram vocab fits inside one
    * sketch and would degenerate to the exact path.
    */
  private def kmvPairTagged(s: SparkSession, d: String): DataFrame = {
    val toks = t(s, d).documents
      .select(col("lang"), explode(graft.functions.expressions
        .NativeExpressions.shingles(TF.tokens(col("text")), 2, distinct = false))
        .as("tok"))
      .select(col("lang"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
    // the 10 lang pairs as a tiny local frame — langs come from a
    // plain column scan (NOT the exploded bigram table: this collect
    // must never cost a corpus pass), 5 strings
    val langs = t(s, d).documents.select("lang").distinct()
      .collect().map(_.getString(0)).sorted
    val pairs = (for {
      i <- langs.indices; j <- (i + 1) until langs.length
    } yield (langs(i), langs(j))).toSeq
    import s.implicits._
    val plx = pairs.flatMap { case (a, b) =>
      Seq((a, b, a, 1, 0), (a, b, b, 0, 1))
    }.toDF("la", "lb", "member", "a_side", "b_side")
    toks.join(broadcast(plx), col("lang") === col("member"))
      .groupBy(col("la"), col("lb"), col("h"))
      .agg(max(col("a_side")).as("in_a"), max(col("b_side")).as("in_b"))
  }

  /** DuckDB mirror of [[kmvPairTagged]]: CTEs ending in
    * `tg(la, lb, h, in_a, in_b)`.
    */
  private val sqlKmvTaggedCtes: String =
    raw"""tkn AS (SELECT lang, string_split_regex(trim(text), '\s+') AS tk
         |  FROM documents WHERE length(trim(text)) > 0),
         |tok AS (SELECT lang,
         |    array_to_string(tk[CAST(i AS INT):CAST(i + 1 AS INT)], ' ') AS tok
         |  FROM tkn CROSS JOIN LATERAL unnest(range(1, len(tk))) AS g(i)),
         |tk AS (SELECT DISTINCT lang,
         |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tok),
         |pl AS (SELECT a.lang AS la, b.lang AS lb
         |  FROM (SELECT DISTINCT lang FROM documents) a
         |  JOIN (SELECT DISTINCT lang FROM documents) b ON a.lang < b.lang),
         |tg AS (SELECT la, lb, h, max(a_side) AS in_a, max(b_side) AS in_b FROM (
         |    SELECT pl.la, pl.lb, tk.h, 1 AS a_side, 0 AS b_side
         |    FROM tk JOIN pl ON tk.lang = pl.la
         |    UNION ALL
         |    SELECT pl.la, pl.lb, tk.h, 0 AS a_side, 1 AS b_side
         |    FROM tk JOIN pl ON tk.lang = pl.lb)
         |  GROUP BY 1, 2, 3)""".stripMargin

  /** Beyer et al. (SIGMOD'07) KMV intersection estimate in exact int64:
    * |A∩B| ≈ m · ((K−1)·⌊M/h_K⌋) ÷ K, evaluated as
    * `(((K−1)·(M DIV h_K)) DIV K) · m` — division BEFORE the `· m` so no
    * intermediate can overflow: the K distinct non-negative hashes force
    * h_K ≥ K−1, hence (K−1)·(M DIV h_K) ≤ M = 2⁶⁰ < 2⁶³, and m ≤ K keeps
    * the product under 2⁶⁰·… — the pre-reorder form `(m·…) DIV K` hit
    * int64 wrap-around (silent in Spark, an error in DuckDB) for
    * h_K < ~2⁹.
    */
  private def sqlKmvInterEst(div: String): String =
    s"CASE WHEN cnt < $KmvK THEN m" +
      s" ELSE ((($KmvK - 1) * (1152921504606846976 $div hk)) $div $KmvK) * m END"

  private val qKmvOverlap = Q(
    "q_kmv_overlap",
    "KMV sketch set ops: per-language-pair vocabulary intersection estimate vs exact",
    (s, d) => {
      // sketch SET OPERATIONS — the constant-memory way to estimate
      // cross-corpus vocabulary overlap at 100 TB: each language keeps
      // only its K smallest token hashes; for a pair, the bottom-K of
      // the sketch union gives the threshold, the members present in
      // BOTH sketches give the Jaccard numerator, and the [[sqlKmvInterEst]]
      // estimator gives |A∩B| in exact int64. The exact-join count rides
      // along as the error report; when the union fits under K the
      // sketch IS the union and m is exact. NOTE: the exact rider makes
      // every per-pair rank read every row — this query is the
      // demo-with-error-report; q_kmv_overlap_sketch is the scale
      // configuration (partial top-K plan, 2K longs per pair).
      val tagged = kmvPairTagged(s, d)
      val wu = Window.partitionBy(col("la"), col("lb")).orderBy(col("h"))
      tagged.withColumn("rn", row_number().over(wu))
        .groupBy(col("la"), col("lb"))
        .agg(
          sum(col("in_a") * col("in_b")).as("n_inter_exact"),
          sum(when(col("rn") <= KmvK, 1L).otherwise(0L)).as("cnt"),
          max(when(col("rn") <= KmvK, col("h"))).as("hk"),
          sum(when(col("rn") <= KmvK, col("in_a") * col("in_b"))
            .otherwise(0L)).as("m"))
        .withColumn("n_inter_est", expr(sqlKmvInterEst("DIV")))
        .withColumn("err_bp",
          expr("(abs(n_inter_est - n_inter_exact) * 10000)" +
            " DIV greatest(n_inter_exact, 1)"))
        .select(col("la").as("lang_a"), col("lb").as("lang_b"),
          col("n_inter_exact"), col("n_inter_est"), col("err_bp"))
    },
    Some(
      raw"""WITH $sqlKmvTaggedCtes,
           |r AS (SELECT *, row_number() OVER (PARTITION BY la, lb ORDER BY h) AS rn
           |  FROM tg),
           |agg AS (SELECT la, lb,
           |    CAST(sum(in_a * in_b) AS BIGINT) AS n_inter_exact,
           |    CAST(sum(CASE WHEN rn <= $KmvK THEN 1 ELSE 0 END) AS BIGINT) AS cnt,
           |    max(CASE WHEN rn <= $KmvK THEN h END) AS hk,
           |    CAST(sum(CASE WHEN rn <= $KmvK THEN in_a * in_b ELSE 0 END) AS BIGINT) AS m
           |  FROM r GROUP BY 1, 2)
           |SELECT la AS lang_a, lb AS lang_b, n_inter_exact,
           |  ${sqlKmvInterEst("//")} AS n_inter_est,
           |  (abs((${sqlKmvInterEst("//")})
           |      - n_inter_exact) * 10000) // greatest(n_inter_exact, 1) AS err_bp
           |FROM agg""".stripMargin))

  private val qKmvOverlapSketch = Q(
    "q_kmv_overlap_sketch",
    "KMV set-intersection estimate, sketch-only scale configuration (partial top-K plan)",
    (s, d) => {
      // q_kmv_overlap WITHOUT the exact-intersection rider: no aggregate
      // reads past rank K, so the rn ≤ K filter plans as a map-side
      // partial WindowGroupLimit (pinned in PlanAuditSpec, same shape as
      // q_kmv_distinct) — per-pair state is 2K longs at any corpus size.
      // This is the 100 TB configuration; q_kmv_overlap is the bounded
      // demo that also reports estimator error.
      val tagged = kmvPairTagged(s, d)
      val wu = Window.partitionBy(col("la"), col("lb")).orderBy(col("h"))
      tagged.withColumn("rn", row_number().over(wu))
        .filter(col("rn") <= KmvK)
        .groupBy(col("la"), col("lb"))
        .agg(count(lit(1)).as("cnt"), max(col("h")).as("hk"),
          sum(col("in_a") * col("in_b")).as("m"))
        .withColumn("n_inter_est", expr(sqlKmvInterEst("DIV")))
        .select(col("la").as("lang_a"), col("lb").as("lang_b"),
          col("n_inter_est"))
    },
    Some(
      raw"""WITH $sqlKmvTaggedCtes,
           |r AS (SELECT *, row_number() OVER (PARTITION BY la, lb ORDER BY h) AS rn
           |  FROM tg),
           |agg AS (SELECT la, lb, CAST(count(*) AS BIGINT) AS cnt, max(h) AS hk,
           |    CAST(sum(in_a * in_b) AS BIGINT) AS m
           |  FROM r WHERE rn <= $KmvK GROUP BY 1, 2)
           |SELECT la AS lang_a, lb AS lang_b,
           |  ${sqlKmvInterEst("//")} AS n_inter_est
           |FROM agg""".stripMargin))

  private val DsirBuckets = 1024
  private val DsirTarget  = "src0"

  /** Per-pool-doc DSIR scores `(doc_id, n_feats, n_toks, dsir_bits)` —
    * the shared core of q_dsir_weight and q_dsir_select.
    *
    * Data Selection via Importance Resampling (Xie et al., NeurIPS'23):
    * score every raw-pool document by sum_f log p_target(f)/p_raw(f)
    * under hashed unigram+bigram bag-of-ngrams models with add-1
    * smoothing — the standard "make web data look like the target
    * domain" curation signal. log2 is the exact integer bit length (the
    * q_lm_surprisal trick), so both engines agree bit-for-bit with no
    * float logs. Scale shape: gram→bucket hashing is map-side (bigrams
    * via the native [[NativeExpressions.shingles]] expression — shared
    * with kmvPairTagged — and ONE explode per pass), the model is ONE
    * groupBy over B=1024 buckets with conditional sums, totals ride a
    * window over the 1024-row model, and scoring is a broadcast join of
    * the tiny λ table back onto the feature stream + one doc-keyed
    * aggregation — the canonical two-pass DSIR (train the bucket model,
    * then score the pool). Nothing grows with corpus size except the
    * two linear scans.
    */
  private[graft] def dsirScored(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Dsir
    val feats = Dsir.features(
      t(s, d).documents.withColumn("tgt", col("source") === DsirTarget),
      "doc_id", "text", carry = Seq("tgt"), buckets = DsirBuckets)
    // two-pass (train λ, then score) — measured FASTER than the
    // one-scan Dsir.trainAndScore here (7.2 s vs 3.6 s at sf10): the
    // one-scan variant's shared compact table shuffles ~every gram row
    // (little map-side reduction at B=1024), while the second SCAN it
    // saves is a cheap columnar re-read. trainAndScore remains the
    // right shape when scans are the expensive side (remote object
    // storage, decode-heavy formats) — see its scaladoc for the trade.
    val lam = Dsir.lambdaTable(feats, DsirBuckets)
    Dsir.scoreFeatures(feats.filter(!col("tgt")), lam, "doc_id")
  }

  /** Shared DuckDB CTEs ending in `scored(doc_id, n_feats, n_toks,
    * dsir_bits)` — the oracle mirror of [[dsirScored]].
    */
  private val sqlDsirCtes =
    raw"""base AS (SELECT doc_id, source,
         |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         |         ELSE string_split_regex(trim(text), '\s+') END AS tk
         |  FROM documents),
         |f AS (SELECT doc_id, source = '$DsirTarget' AS tgt,
         |    unnest(list_concat(tk,
         |      CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
         |           ELSE list_transform(range(1, len(tk)),
         |             i -> tk[i] || ' ' || tk[i + 1]) END)) AS g
         |  FROM base),
         |b AS (SELECT doc_id, tgt, g NOT LIKE '% %' AS uni,
         |    CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % $DsirBuckets AS bkt
         |  FROM f),
         |model AS (SELECT bkt,
         |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |    CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
         |  FROM b GROUP BY 1),
         |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
         |    CAST(sum(cr) AS BIGINT) AS nr FROM model),
         |lam AS (SELECT bkt,
         |    CAST((length(bin(ct + 1)) - length(bin(nt + $DsirBuckets)))
         |      - (length(bin(cr + 1)) - length(bin(nr + $DsirBuckets))) AS BIGINT)
         |      AS lam_bits
         |  FROM model, tot),
         |scored AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |    CAST(sum(CASE WHEN uni THEN 1 ELSE 0 END) AS BIGINT) AS n_toks,
         |    CAST(sum(lam_bits) AS BIGINT) AS dsir_bits
         |  FROM b JOIN lam USING (bkt) WHERE NOT tgt
         |  GROUP BY 1)""".stripMargin

  private val qDsirWeight = Q(
    "q_dsir_weight",
    "DSIR data selection: hashed-ngram importance weights of raw docs vs a target domain",
    (s, d) => dsirScored(s, d).select(col("doc_id"), col("n_feats"), col("dsir_bits")),
    Some(s"""WITH $sqlDsirCtes
            |SELECT doc_id, n_feats, dsir_bits FROM scored""".stripMargin))

  private[graft] val DsirBudget = 10000L

  /** Budgeted DSIR selection at an arbitrary token budget — the catalog
    * query fixes budget = [[DsirBudget]]; the boundary-semantics spec
    * drives small budgets through the same plan.
    */
  private[graft] def dsirSelect(s: SparkSession, d: String, budget: Long)
      : DataFrame = Checkpoints.scope { cp =>
      // the step the pipeline actually consumes: keep the
      // highest-weight pool docs until the training token budget is
      // hit. Scale discipline (same as q_median): NO global sort of
      // the pool — per-doc weights aggregate into a (dsir_bits →
      // n_docs, toks) histogram, the cumulative-budget window runs
      // over that histogram only, and every score strictly inside the
      // budget keeps all its docs via a broadcast semi-join. Exactly
      // one score can straddle the budget line; only ITS docs (one
      // histogram bucket) see a row-level window (greedy by doc_id —
      // the deterministic stand-in for the paper's random resample).
      // The weight table is materialized ONCE (it is consumed by the
      // histogram and both kept-branches; without the cut the plan
      // re-runs the two-pass scoring three times). EAGER: a lazy
      // checkpoint still re-ran the scoring once per reaching subtree —
      // the broadcast branches each start computing the not-yet-cached
      // RDD (the q_unigram_refit defect, Unigram.refitStats). It is 4
      // longs per pool doc — on a real cluster this is the persisted
      // output of q_dsir_weight that selection reads back.
      val scored = cp.checkpoint(dsirScored(s, d))
      val hist = scored.groupBy(col("dsir_bits")).agg(
        count(lit(1)).as("n_docs"), sum(col("n_toks")).as("toks"))
      val wOrd = Window.partitionBy(lit(1)).orderBy(col("dsir_bits").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      // the cumulative histogram is ALSO materialized eagerly: `full`
      // and `boundary` are each computed under their own broadcast-
      // exchange job, so a lazy cum would re-aggregate the scored
      // checkpoint once per branch (the table is |distinct dsir_bits|
      // rows — tiny; PERF.md round 13: the branch jobs drop to ~0.2 s each)
      val cum = cp.checkpoint(
        hist.withColumn("cum_before",
          coalesce(sum(col("toks")).over(wOrd), lit(0L))))
      val full = cum.filter(col("cum_before") + col("toks") <= budget)
        .select(col("dsir_bits"))
      val boundary = cum
        .filter(col("cum_before") < budget &&
          col("cum_before") + col("toks") > budget)
        .select(col("dsir_bits"), col("cum_before"))
      val keptFull = scored.join(broadcast(full), Seq("dsir_bits"))
        .select(col("doc_id"), col("dsir_bits"), col("n_toks"),
          lit(false).as("at_boundary"))
      val wBoundary = Window.partitionBy(col("dsir_bits")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val keptBoundary = scored.join(broadcast(boundary), Seq("dsir_bits"))
        .withColumn("rcum", sum(col("n_toks")).over(wBoundary))
        .filter(col("cum_before") + col("rcum") <= budget)
        .select(col("doc_id"), col("dsir_bits"), col("n_toks"),
          lit(true).as("at_boundary"))
      // materialize the (budget-bounded) selection eagerly; the scope
      // then frees the pool-scale scored checkpoint and the cum table —
      // repeated calls in one session must not strand a cached snapshot
      // per call (PERF.md round 13 measured the final union at
      // ~0.3-0.7 s — the cleanup costs one cheap job)
      cp.checkpoint(keptFull.unionByName(keptBoundary))
  }

  private val qDsirSelect = Q(
    "q_dsir_select",
    "DSIR budget selection: top pool docs by importance weight within a token budget, no global sort",
    (s, d) => dsirSelect(s, d, DsirBudget),
    Some(s"""WITH $sqlDsirCtes,
            |hist AS (SELECT dsir_bits, CAST(count(*) AS BIGINT) AS n_docs,
            |    CAST(sum(n_toks) AS BIGINT) AS toks
            |  FROM scored GROUP BY 1),
            |cum AS (SELECT dsir_bits, toks,
            |    CAST(coalesce(sum(toks) OVER (ORDER BY dsir_bits DESC
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            |      AS cum_before
            |  FROM hist),
            |filled AS (SELECT dsir_bits FROM cum
            |  WHERE cum_before + toks <= $DsirBudget),
            |boundary AS (SELECT dsir_bits, cum_before FROM cum
            |  WHERE cum_before < $DsirBudget AND cum_before + toks > $DsirBudget)
            |SELECT s.doc_id, s.dsir_bits, s.n_toks, FALSE AS at_boundary
            |FROM scored s JOIN filled USING (dsir_bits)
            |UNION ALL
            |SELECT doc_id, dsir_bits, n_toks, TRUE AS at_boundary
            |FROM (SELECT s.doc_id, s.dsir_bits, s.n_toks, bd.cum_before,
            |    CAST(sum(s.n_toks) OVER (PARTITION BY s.dsir_bits
            |      ORDER BY s.doc_id
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            |      AS rcum
            |  FROM scored s JOIN boundary bd USING (dsir_bits))
            |WHERE cum_before + rcum <= $DsirBudget""".stripMargin))

  private val qDrift = Q(
    "q_drift",
    "corpus-snapshot distribution drift: per-bucket bit-length log-ratio of the doc-length histogram, src0 baseline vs the rest",
    (s, d) => {
      // pipeline monitoring: has the incoming slice shifted against the
      // baseline the filters were tuned on? Whole-bit log-ratios via
      // integer bit lengths (the DSIR trick) — sum(n_cur*lam_bits)/N is
      // KL-style drift in bits/doc, per-bucket rows localize the shift
      val docs = t(s, d).documents
      graft.functions.Quality.scoreDrift(
        docs.filter(col("source") === DsirTarget),
        docs.filter(col("source") =!= DsirTarget),
        expr("n_chars DIV 16"))
    },
    Some(
      raw"""WITH hb AS (SELECT n_chars // 16 AS s, CAST(count(*) AS BIGINT) AS n_base
           |  FROM documents WHERE source = '$DsirTarget' GROUP BY 1),
           |hc AS (SELECT n_chars // 16 AS s, CAST(count(*) AS BIGINT) AS n_cur
           |  FROM documents WHERE source <> '$DsirTarget' GROUP BY 1),
           |j AS (SELECT COALESCE(hb.s, hc.s) AS s,
           |    COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur
           |  FROM hb FULL OUTER JOIN hc ON hb.s = hc.s),
           |t2 AS (SELECT CAST(sum(n_base) AS BIGINT) AS nb,
           |    CAST(sum(n_cur) AS BIGINT) AS nc,
           |    CAST(count(*) AS BIGINT) AS bk FROM j)
           |SELECT s, n_base, n_cur,
           |  CAST((length(bin(n_cur + 1)) - length(bin(nc + bk)))
           |     - (length(bin(n_base + 1)) - length(bin(nb + bk))) AS BIGINT)
           |    AS lam_bits
           |FROM j, t2""".stripMargin))


  /** The per-source-pair Jensen–Shannon divergence oracle over the
    * source pairs `pairs` selects (`… AS sa, … AS sb FROM tot …`):
    * add-one smoothing over each pair's joint vocabulary, summed in
    * integer micro-bits.
    */
  private def sqlSourceJsd(pairs: String): String =
    raw"""WITH tk AS (SELECT source AS src,
         |    unnest(string_split_regex(trim(text), '\s+')) AS tok
         |  FROM documents WHERE length(trim(text)) > 0),
         |cnt AS (SELECT src, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM tk GROUP BY 1, 2),
         |tot AS (SELECT src, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
         |pr AS (SELECT $pairs),
         |ty AS (SELECT pr.sa, pr.sb, c.tok,
         |    CAST(COALESCE(sum(CASE WHEN c.src = pr.sa THEN c.c END), 0) AS BIGINT) AS ca,
         |    CAST(COALESCE(sum(CASE WHEN c.src = pr.sb THEN c.c END), 0) AS BIGINT) AS cb
         |  FROM pr JOIN cnt c ON c.src IN (pr.sa, pr.sb) GROUP BY 1, 2, 3),
         |v AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS v_types
         |  FROM ty GROUP BY 1, 2),
         |w AS (SELECT ty.sa, ty.sb, v.v_types, ta.n AS na, tb.n AS nb,
         |    (CAST(ca + 1 AS DOUBLE) / CAST(ta.n + v.v_types AS DOUBLE)) AS p,
         |    (CAST(cb + 1 AS DOUBLE) / CAST(tb.n + v.v_types AS DOUBLE)) AS q
         |  FROM ty JOIN v USING (sa, sb)
         |    JOIN tot ta ON ta.src = ty.sa JOIN tot tb ON tb.src = ty.sb),
         |ct AS (SELECT sa, sb, v_types, na, nb,
         |    CAST(round((p * log2(2*p/(p+q)) + q * log2(2*q/(p+q)))
         |      * 500000) AS BIGINT) AS mb
         |  FROM w)
         |SELECT sa, sb, v_types, na, nb, CAST(sum(mb) AS BIGINT) AS jsd_mub
         |FROM ct GROUP BY 1, 2, 3, 4, 5""".stripMargin

  private val qSourceJsd = Q(
    "q_source_jsd",
    "pairwise Jensen–Shannon divergence between source unigram distributions (micro-bits, add-one smoothing)",
    (s, d) => graft.functions.Quality.jsDivergenceBySource(
      t(s, d).documents, "source", "text"),
    Some(sqlSourceJsd("""a.src AS sa, b.src AS sb
      |  FROM tot a JOIN tot b ON a.src < b.src""".stripMargin)))

  /** Reference source for [[qSourceJsdRef]] — the production drift
    * shape: S−1 pairs against one named reference, not the S²
    * all-pairs survey ([[qSourceJsd]], kept as the one-off corpus
    * audit). Shares [[DsirTarget]]'s source so the catalog has one
    * "reference domain".
    */
  private val JsdRefSource = DsirTarget

  private val qSourceJsdRef = Q(
    "q_source_jsd_ref",
    "Jensen–Shannon divergence of every source against ONE reference source (S-1 pairs — the linear drift-monitoring shape)",
    (s, d) => graft.functions.Quality.jsDivergenceAgainstRef(
      t(s, d).documents, "source", "text", JsdRefSource),
    Some(sqlSourceJsd(s"""'$JsdRefSource' AS sa, src AS sb
      |  FROM tot WHERE src <> '$JsdRefSource'""".stripMargin)))

  private val qBpePairs = Q(
    "q_bpe_pairs",
    "distributed BPE trainer step: adjacent char-pair frequencies over the word-frequency table",
    (s, d) => {
      // the corpus-scale piece of BPE tokenizer training (Sennrich et
      // al., ACL'16 §3): candidate merges are the most frequent
      // adjacent symbol pairs. Pair statistics are computed over the
      // DISTINCT word-frequency table, not the raw token stream — the
      // vocabulary is orders of magnitude smaller than the corpus, so
      // the per-word character expansion touches vocab rows only (the
      // same two-level shape distributed BPE trainers use). Shape: one
      // tok-keyed shuffle builds word frequencies, the pair explode is
      // map-side over vocab rows weighted by word frequency, one
      // pair-keyed aggregation, then sort+limit plans as
      // TakeOrderedAndProject. The top row is the first BPE merge.
      val words = t(s, d).documents
        .select(explode(TF.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      words.filter(length(col("w")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(1, char_length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy(col("pair"))
        .agg(sum(col("f")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(50)
    },
    Some(
      raw"""WITH w AS (SELECT tok AS w, CAST(count(*) AS BIGINT) AS f
           |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
           |        FROM documents WHERE length(trim(text)) > 0) GROUP BY 1),
           |p AS (SELECT f,
           |    unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
           |  FROM w WHERE length(w) >= 2)
           |SELECT pair, CAST(sum(f) AS BIGINT) AS n
           |FROM p GROUP BY 1
           |ORDER BY n DESC, pair LIMIT 50""".stripMargin))

  /** Merge rounds of the iterative BPE trainer (Spark loop AND the
    * DuckDB oracle's unrolled CTE chain — one constant so the two sides
    * cannot drift).
    */
  val BpeMerges: Int = 8

  /** The [[BpeMerges]]-round merge list of `docs`; the word table it
    * trains on is freed with the rest of the trainer's checkpoints.
    */
  private def bpeMerges(docs: DataFrame): Seq[(Int, String, Long)] =
    Checkpoints.scope(_ =>
      graft.functions.Bpe.trainDelta(graft.functions.Bpe.wordTable(docs, "text"), BpeMerges))

  /** Product-quantization geometry shared by [[Similarity.pqEncode]] and
    * the DuckDB oracle mirror [[sqlPqCtes]]: 64-dim vectors split into
    * `PqM` subspaces of `PqSubDim` dims, `PqK` codes per codebook,
    * [[Similarity.LloydIters]] Lloyd rounds.
    */
  val PqM: Int       = 4
  val PqSubDim: Int  = 16
  val PqK: Int       = 16

  /** DuckDB mirror of [[Similarity.pqEncode]]'s training + encode: CTEs
    * `qb`…`f{m}` where `f{m}` = (cid, code, d) is every vector's final
    * code and exact int64 squared-L2 error in subspace m. Same seeds as
    * the IVF oracle (smallest md5(id)), argmin ties to the lowest code,
    * centroid update = integer rounded mean (the `(2s+n) DIV 2n` form —
    * floor and truncating division agree on the non-negative operands).
    */
  private def sqlPqDist(sv: String, cv: String): String =
    (1 to PqSubDim).map(i => s"($sv[$i]-$cv[$i])*($sv[$i]-$cv[$i])")
      .mkString(" + ")

  /** The training-round half of [[sqlPqCtes]], parameterized by a CTE
    * name prefix `p` so the residual chain ([[sqlIvfPqResidualCtes]])
    * can run the IDENTICAL trainer over `${p}sub` without name
    * collisions: emits `${p}seeds`, `${p}c0m*`, per-round
    * `${p}a*m*`/`${p}c*m*`, and final codes `${p}f*` = (cid, code, d).
    */
  private def sqlPqTrainCtes(p: String): String = {
    val c0 = (0 until PqM)
      .map(mm => s"${p}c0m$mm AS (SELECT cid AS code, sv$mm AS cv FROM ${p}seeds)")
      .mkString(",\n")
    def round(it: Int) = (0 until PqM).map { mm =>
      val sCols = (1 to PqSubDim)
        .map(i => s"CAST(sum(sv[$i]) AS BIGINT) AS s$i").mkString(", ")
      val rm = (1 to PqSubDim)
        .map(i => s"CASE WHEN s$i >= 0 THEN (2*s$i + n) // (2*n)" +
          s" ELSE -((-2*s$i + n) // (2*n)) END")
        .mkString(", ")
      s"""${p}a${it}m$mm AS (SELECT cid, code, sv FROM (
         |  SELECT s.cid, c.code, s.sv$mm AS sv,
         |    row_number() OVER (PARTITION BY s.cid ORDER BY ${sqlPqDist(s"s.sv$mm", "c.cv")}, c.code) AS rn
         |  FROM ${p}sub s, ${p}c${it - 1}m$mm c) WHERE rn = 1),
         |${p}c${it}m$mm AS (SELECT code, list_value($rm) AS cv FROM (
         |  SELECT code, CAST(count(*) AS BIGINT) AS n, $sCols
         |  FROM ${p}a${it}m$mm GROUP BY code))""".stripMargin
    }.mkString(",\n")
    val fin = (0 until PqM).map { mm =>
      s"""${p}f$mm AS (SELECT cid, code, d FROM (
         |  SELECT s.cid, c.code, ${sqlPqDist(s"s.sv$mm", "c.cv")} AS d,
         |    row_number() OVER (PARTITION BY s.cid ORDER BY ${sqlPqDist(s"s.sv$mm", "c.cv")}, c.code) AS rn
         |  FROM ${p}sub s, ${p}c${Similarity.LloydIters}m$mm c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""${p}seeds AS (SELECT * FROM ${p}sub ORDER BY md5(CAST(cid AS VARCHAR)), cid LIMIT $PqK),
       |$c0,
       |${(1 to Similarity.LloydIters).map(round).mkString(",\n")},
       |$fin""".stripMargin
  }

  /** Subspace-slice projection `sv0…sv{PqM−1}` of a 64-dim int64 list
    * column `qv`.
    */
  private val sqlPqSubCols: String = (0 until PqM)
    .map(mm => s"qv[${mm * PqSubDim + 1}:${(mm + 1) * PqSubDim}] AS sv$mm")
    .mkString(", ")

  private val sqlPqCtes: String =
    s"""qb AS (SELECT vec_id AS cid,
       |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * 1000000.0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |sub AS (SELECT cid, $sqlPqSubCols FROM qb),
       |${sqlPqTrainCtes("")}""".stripMargin

  /** ADC distance tables `dt0…dt{PqM−1}` = (`qCols`, code, d): each
    * query subvector's exact squared L2 to every final centroid of the
    * `${p}c{LloydIters}m*` codebooks, over the query rows `qFrom` (alias
    * `q`).
    */
  private def sqlPqDts(qCols: String, qFrom: String, p: String): String =
    (0 until PqM).map { mm =>
      s"""dt$mm AS (SELECT $qCols, c.code, ${sqlPqDist(s"q.sv$mm", "c.cv")} AS d
         |  FROM $qFrom, ${p}c${Similarity.LloydIters}m$mm c)""".stripMargin
    }.mkString(",\n")

  /** [[sqlPqDts]] of the raw-vector PQ oracles' three query vectors. */
  private val sqlPqQueryDts: String =
    sqlPqDts("q.cid AS qid", "(SELECT * FROM sub WHERE cid < 3) q", "")

  /** Joins of the codes `${p}f1…` onto `${p}f0` by corpus id. */
  private def sqlPqCodeJoins(p: String): String =
    (1 until PqM).map(mm => s"JOIN ${p}f$mm ON ${p}f$mm.cid = ${p}f0.cid").mkString(" ")

  /** Joins of the tables `dt1…` onto `dt0` by query and subspace code. */
  private val sqlPqDtJoins: String = (1 until PqM)
    .map(mm => s"JOIN dt$mm ON dt$mm.qid = dt0.qid AND dt$mm.code = f$mm.code")
    .mkString("\n  ")

  /** The ADC score: the sum of the per-subspace table lookups. */
  private val sqlPqAdc: String =
    s"CAST(${(0 until PqM).map(mm => s"dt$mm.d").mkString(" + ")} AS BIGINT) AS adc"

  /** `pr` = each query vector's 4 most-similar trained cells. */
  private val sqlIvfProbeCte: String =
    """pr AS (SELECT qid, cell FROM (
      |  SELECT b.cid AS qid, c.cell,
      |    row_number() OVER (PARTITION BY b.cid
      |      ORDER BY round(list_dot_product(b.qv, c.cv) / sqrt(b.qn2 * c.cn2), 4) DESC, c.cell) AS prn
      |  FROM bn b, c2 c WHERE b.cid < 3) WHERE prn <= 4)""".stripMargin

  private val qPqAnn = Q(
    "q_pq_ann",
    "PQ/ADC flat-scan ANN baseline: asymmetric-distance top-k over PQ codes (cell-pruned path: q_ivfpq_ann)",
    (s, d) => {
      // the search half of IVF-PQ (Jégou et al. TPAMI'11 §IV): corpus
      // vectors exist ONLY as 4 code bytes; each query's distance table
      // to every codebook centroid is computed driver-side and folded
      // into the plan as a literal map, so scoring is 4 lookups + adds
      // per corpus row. Shape: shuffle-free encode projection, map-side
      // per-query explode, one skinny (qid, neighbor, adc) top-k window
      // (partial WindowGroupLimit). Exact int64 ADC, ties by neighbor.
      val e = t(s, d).embeddings
      Similarity.pqAnn(e.filter(col("vec_id") < 3), e, "vec_id", "embedding",
        k = 10, dims = 64, numSub = PqM, codesPerSub = PqK)
    },
    Some {
      s"""WITH $sqlPqCtes,
         |$sqlPqQueryDts,
         |adc AS (SELECT dt0.qid, f0.cid AS neighbor_id,
         |    $sqlPqAdc
         |  FROM f0 ${sqlPqCodeJoins("")}
         |  JOIN dt0 ON dt0.code = f0.code
         |  $sqlPqDtJoins)
         |SELECT qid, neighbor_id, adc, rank FROM (
         |  SELECT qid, neighbor_id, adc,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc, neighbor_id) AS rank
         |  FROM adc) WHERE rank <= 10""".stripMargin
    })

  private val qIvfPqAnn = Q(
    "q_ivfpq_ann",
    "IVF-PQ ANN: PQ codes in IVF inverted lists, probe-limited ADC search (only probed cells scored)",
    qIvfPqAnnSpark,
    Some(ivfPqAnnOracle))

  /** Shared Spark side of [[qIvfPqAnn]] / oracle of both IVF-PQ ANN
    * entry points: [[qIvfPqIndexed]] trains the IDENTICAL
    * (deterministic) model, so the persisted-index search must
    * hash-match the same SQL bit-for-bit.
    */
  private def qIvfPqAnnSpark(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    // the full IVF-PQ composition (Jégou et al. TPAMI'11 §V):
    // q_pq_ann's ADC scoring pruned by q_knn_ivf's coarse cells.
    // Corpus pass fuses cell assignment (broadcast-centroid argmax)
    // with the shuffle-free PQ encode; each query routes to its 4
    // most-similar cells and ADC-scores ONLY codes in those cells —
    // the scored set is an equi-join on the cell id, never a
    // full-corpus fan-out. Exact int64 ADC, ties by neighbor.
    val e = t(s, d).embeddings
    Similarity.ivfPqAnn(e.filter(col("vec_id") < 3), e, "vec_id", "embedding",
      k = 10, dims = 64, numSub = PqM, codesPerSub = PqK,
      numCells = IvfNumCells, nProbe = 4)
  }

  /** The probe-limited ADC chain of the IVF-PQ oracles, through
    * `adcs` = (qid, neighbor_id, adc) for every code in a probed cell.
    */
  private lazy val sqlIvfPqAdcsCtes: String =
    s"""WITH $sqlIvfCellCtes,
       |$sqlPqCtes,
       |$sqlIvfProbeCte,
       |$sqlPqQueryDts,
       |adcs AS (SELECT dt0.qid, f0.cid AS neighbor_id,
       |    $sqlPqAdc
       |  FROM f0 ${sqlPqCodeJoins("")}
       |  JOIN af ON af.cid = f0.cid
       |  JOIN pr ON pr.cell = af.cell
       |  JOIN dt0 ON dt0.qid = pr.qid AND dt0.code = f0.code
       |  $sqlPqDtJoins)""".stripMargin

  private lazy val ivfPqAnnOracle: String =
    s"""$sqlIvfPqAdcsCtes
       |SELECT qid, neighbor_id, adc, rank FROM (
       |  SELECT qid, neighbor_id, adc,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc, neighbor_id) AS rank
       |  FROM adcs) WHERE rank <= 10""".stripMargin

  private val qIvfPqIndexed = Q(
    "q_ivfpq_indexed",
    "IVF-PQ ANN served from a PERSISTED index (cell-partitioned parquet codes): probed cells pruned on disk",
    (s, d) => {
      // the persisted-index serving path ([[graft.functions.Similarity
      // .writeIvfPqIndex]]): codes live in cell=<id> parquet partitions
      // and the probe stage's literal cell predicate becomes PHYSICAL
      // partition pruning — unprobed cells are never read. Training is
      // deterministic and identical to q_ivfpq_ann's, so the oracle is
      // the SAME SQL: any silent divergence between the transient and
      // persisted paths hash-mismatches.
      val e = t(s, d).embeddings
      val dir = graft.functions.Stores.scratchDir(
        "graft_ivfpq_index_", new java.io.File(d).getName)
      Similarity.writeIvfPqIndex(e, "vec_id", "embedding", dir,
        dims = 64, numSub = PqM, codesPerSub = PqK,
        numCells = IvfNumCells)
      Similarity.ivfPqAnnIndexed(e.filter(col("vec_id") < 3), dir,
        "vec_id", "embedding", k = 10, nProbe = 4)
    },
    Some(ivfPqAnnOracle))

  private val qIvfPqRerank = Q(
    "q_ivfpq_rerank",
    "IVF-PQ with exact re-rank: ADC top-k' candidates re-scored by exact cosine (Jégou §V-C refinement)",
    (s, d) => {
      // the refinement half of the IVF-PQ paper: ADC ordering is a
      // quantization approximation, so the index returns k' = 4k
      // candidates and ONLY those rows' original vectors are read back
      // (broadcast join onto one corpus pass — no corpus shuffle) and
      // re-ranked by exact 4-dp cosine. Per query, exactly k' vectors
      // are re-scored instead of |corpus|.
      val e = t(s, d).embeddings
      Similarity.ivfPqAnnRerank(e.filter(col("vec_id") < 3), e,
        "vec_id", "embedding", k = 10,
        dims = 64, numSub = PqM, codesPerSub = PqK,
        numCells = IvfNumCells, nProbe = 4)
    },
    Some {
      s"""$sqlIvfPqAdcsCtes,
         |cand AS (SELECT qid, neighbor_id FROM (
         |  SELECT qid, neighbor_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc, neighbor_id) AS crank
         |  FROM adcs) WHERE crank <= ${10 * Similarity.RerankFactor}),
         |rr AS (SELECT c.qid, c.neighbor_id,
         |    round(list_dot_product(q.v, n.v) / sqrt(q.vn2 * n.vn2), 4) AS cos_sim
         |  FROM cand c JOIN bn q ON q.cid = c.qid JOIN bn n ON n.cid = c.neighbor_id)
         |SELECT qid, neighbor_id, cos_sim, rank FROM (
         |  SELECT qid, neighbor_id, cos_sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS rank
         |  FROM rr) WHERE rank <= 10""".stripMargin
    })

  /** nProbe arms of the IVF-PQ sweep (Spark side AND the oracle's
    * unrolled CTEs — one constant so the two sides cannot drift). The
    * last arm equals [[IvfNumCells]], pinning n_hits = n_results there.
    */
  val IvfPqSweepArms: Seq[Int] = Seq(1, 2, 4, 16)

  private val qIvfPqSweep = Q(
    "q_ivfpq_sweep",
    "IVF-PQ nProbe sweep: per-probe-count recall vs the flat ADC scan — the cost/recall knee observable",
    (s, d) => {
      // the probe-count analog of q_band_sweep: the index is trained
      // once; each arm scores only its prn-prefix of the probe ranking
      // and is measured against the every-cell arm (= q_pq_ann's flat
      // scan). n_results is each arm's own result count (below
      // queries × k when its probed cells hold fewer than k codes), so
      // recall is n_hits over the FULL arm's n_results; its climb to 1
      // as n_probe → numCells is the |corpus|·nProbe/numCells
      // cost-vs-recall trade, in a hash-pinned table.
      val e = t(s, d).embeddings
      Similarity.ivfPqProbeSweep(e.filter(col("vec_id") < 3), e,
        "vec_id", "embedding", k = 10, probeArms = IvfPqSweepArms,
        dims = 64, numSub = PqM, codesPerSub = PqK,
        numCells = IvfNumCells)
    },
    Some {
      // MATERIALIZED: the arm top-ks all read adcb (which itself reads
      // the trained-cell and PQ chains) — without materialization DuckDB
      // inlines the whole training pipeline once per arm reference and
      // blows its memory budget
      val topks = (IvfPqSweepArms :+ IvfNumCells).distinct.map { p =>
        s"""t$p AS MATERIALIZED (SELECT qid, neighbor_id FROM (
           |  SELECT a.qid, a.neighbor_id,
           |    row_number() OVER (PARTITION BY a.qid ORDER BY a.adc, a.neighbor_id) AS rank
           |  FROM adcb a JOIN prall pr
           |    ON pr.qid = a.qid AND pr.cell = a.cell AND pr.prn <= $p)
           |WHERE rank <= 10)""".stripMargin
      }.mkString(",\n")
      val unions = IvfPqSweepArms.map { p =>
        s"""SELECT CAST($p AS INT) AS n_probe,
           |  CAST(coalesce(sum(CASE WHEN fu.neighbor_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits,
           |  CAST(count(*) AS BIGINT) AS n_results
           |FROM t$p tp LEFT JOIN t$IvfNumCells fu
           |  ON fu.qid = tp.qid AND fu.neighbor_id = tp.neighbor_id""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $sqlIvfCellCtes,
         |$sqlPqCtes,
         |prall AS MATERIALIZED (SELECT b.cid AS qid, c.cell,
         |    row_number() OVER (PARTITION BY b.cid
         |      ORDER BY round(list_dot_product(b.qv, c.cv) / sqrt(b.qn2 * c.cn2), 4) DESC, c.cell) AS prn
         |  FROM bn b, c2 c WHERE b.cid < 3),
         |$sqlPqQueryDts,
         |adcb AS MATERIALIZED (SELECT dt0.qid, f0.cid AS neighbor_id, af.cell,
         |    $sqlPqAdc
         |  FROM f0 ${sqlPqCodeJoins("")}
         |  JOIN af ON af.cid = f0.cid
         |  JOIN dt0 ON dt0.code = f0.code
         |  $sqlPqDtJoins),
         |$topks
         |$unions""".stripMargin
    })

  /** Residual-IVFADC oracle chain (appended to [[sqlIvfCellCtes]]):
    * `afq` = the final cell assignment with int64 quantized vectors,
    * `cm` = per-cell integer rounded-MEAN centroids (the `(2s+n) DIV
    * 2n` rule of the PQ trainer — unlike the routing sum-centroids,
    * residual subtraction needs true means), `rb` = residuals
    * `qv − cm(cell)`, `rsub` = their subspace split, then the
    * r-prefixed PQ trainer ([[sqlPqTrainCtes]]) over the residuals —
    * final codes `rf*`, codebooks `rc{LloydIters}m*`.
    */
  private val sqlIvfPqResidualCtes: String = {
    val sums = (1 to 64).map(i => s"CAST(sum(qv[$i]) AS BIGINT) AS s$i").mkString(", ")
    val rm = (1 to 64).map(i =>
      s"CASE WHEN s$i >= 0 THEN (2*s$i + n) // (2*n)" +
        s" ELSE -((-2*s$i + n) // (2*n)) END").mkString(", ")
    val diffs = (1 to 64).map(i => s"a.qv[$i]-m.cv[$i]").mkString(", ")
    s"""afq AS (SELECT a.cid, a.cell, list_transform(b.qv, x -> CAST(x AS BIGINT)) AS qv
       |  FROM af a JOIN bn b ON b.cid = a.cid),
       |cm AS (SELECT cell, list_value($rm) AS cv FROM (
       |  SELECT cell, CAST(count(*) AS BIGINT) AS n, $sums
       |  FROM afq GROUP BY cell)),
       |rb AS (SELECT a.cid, a.cell, list_value($diffs) AS qv
       |  FROM afq a JOIN cm m ON m.cell = a.cell),
       |rsub AS (SELECT cid, cell, $sqlPqSubCols FROM rb),
       |${sqlPqTrainCtes("r")}""".stripMargin
  }

  private val qIvfPqResidual = Q(
    "q_ivfpq_residual",
    "residual IVFADC: PQ codes of x − cellCentroid, per-(query,cell) residual ADC tables (Jégou §V eq. 27)",
    (s, d) => {
      // the TRUE IVFADC of the paper: q_ivfpq_ann quantizes raw
      // vectors, this quantizes what the coarse quantizer LEFT — the
      // residual x − mean(cell) — so the same 4×4-bit code budget
      // spends itself on far less energy (quantization error strictly
      // drops, spec-pinned). The ADC table becomes per-(query, probed
      // cell) since the query's residual depends on the probed cell;
      // the scored set is still the broadcast probe-table equi-join on
      // the cell id.
      val e = t(s, d).embeddings
      Similarity.ivfPqAnnResidual(e.filter(col("vec_id") < 3), e,
        "vec_id", "embedding", k = 10, dims = 64, numSub = PqM,
        codesPerSub = PqK, numCells = IvfNumCells, nProbe = 4)
    },
    Some {
      val qdiffs = (1 to 64).map(i => s"q.qv[$i]-m.cv[$i]").mkString(", ")
      val dtJoins = (1 until PqM)
        .map(mm => s"JOIN dt$mm ON dt$mm.qid = dt0.qid AND dt$mm.cell = a.cell AND dt$mm.code = rf$mm.code")
        .mkString("\n  ")
      s"""WITH $sqlIvfCellCtes,
         |$sqlIvfPqResidualCtes,
         |$sqlIvfProbeCte,
         |qres AS (SELECT p.qid, p.cell, list_value($qdiffs) AS qv
         |  FROM pr p
         |  JOIN (SELECT cid, list_transform(qv, x -> CAST(x AS BIGINT)) AS qv
         |        FROM bn WHERE cid < 3) q ON q.cid = p.qid
         |  JOIN cm m ON m.cell = p.cell),
         |qrs AS (SELECT qid, cell, $sqlPqSubCols FROM qres),
         |${sqlPqDts("q.qid, q.cell", "qrs q", "r")},
         |adcs AS (SELECT dt0.qid, rf0.cid AS neighbor_id,
         |    $sqlPqAdc
         |  FROM rf0 ${sqlPqCodeJoins("r")}
         |  JOIN afq a ON a.cid = rf0.cid
         |  JOIN dt0 ON dt0.cell = a.cell AND dt0.code = rf0.code
         |  $dtJoins)
         |SELECT qid, neighbor_id, adc, rank FROM (
         |  SELECT qid, neighbor_id, adc,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc, neighbor_id) AS rank
         |  FROM adcs) WHERE rank <= 10""".stripMargin
    })

  private val qPqEncode = Q(
    "q_pq_encode",
    "product quantization: per-subspace k-means codebooks, shuffle-free encode to code ids + exact error",
    (s, d) => Similarity.pqEncode(t(s, d).embeddings, "vec_id", "embedding",
      dims = 64, numSub = PqM, codesPerSub = PqK),
    Some(
      s"""WITH $sqlPqCtes
         |SELECT f0.cid AS vec_id, f0.code AS code0, f1.code AS code1,
         |  f2.code AS code2, f3.code AS code3,
         |  CAST(f0.d + f1.d + f2.d + f3.d AS BIGINT) AS qerr
         |FROM f0 JOIN f1 ON f0.cid = f1.cid JOIN f2 ON f0.cid = f2.cid
         |  JOIN f3 ON f0.cid = f3.cid""".stripMargin))

  /** DuckDB mirror of one BPE round: pair counts over `w$i`'s symbol
    * representation, the arg-max pair `b$i`, and the merged vocab
    * `w${i+1}`. See [[qBpeTrain]] for the representation invariant.
    */
  private def sqlBpeRound(i: Int): String = {
    // b$i / w$i MATERIALIZED: every round references the previous one
    // (and q_bpe_tokenize's v-chain references every b$i) — without
    // materialization DuckDB re-inlines the whole prefix chain per
    // reference and the plan blows up combinatorially
    val prev = s"w${i - 1}"
    s"""p$i AS (SELECT pr, CAST(sum(f) AS BIGINT) AS n FROM (
       |    SELECT f, unnest(list_transform(range(1, len(s)), j -> s[j] || ' ' || s[j+1])) AS pr
       |    FROM (SELECT f, string_split(trim(r), '  ') AS s FROM $prev)) GROUP BY 1),
       |b$i AS MATERIALIZED (SELECT pr, n FROM p$i ORDER BY n DESC, pr LIMIT 1),
       |w$i AS MATERIALIZED (SELECT f, replace(r, ' ' || replace((SELECT pr FROM b$i), ' ', '  ') || ' ',
       |    ' ' || replace((SELECT pr FROM b$i), ' ', '') || ' ') AS r FROM $prev)""".stripMargin
  }

  private val qBpeTrain = Q(
    "q_bpe_train",
    s"iterative BPE trainer: $BpeMerges greedy merge rounds over the word-frequency table",
    (s, d) => {
      // the full BPE training LOOP (Sennrich et al., ACL'16 §3), not
      // just one pair-count round (q_bpe_pairs) — functions/Bpe (see
      // its scaladoc for the two-space representation invariant that
      // gives exact greedy left-to-right merge parity in both engines,
      // and the corpus-tokenized-once / map-side-per-round scale
      // shape). The catalog runs the INCREMENTAL trainer (per-round
      // pair-delta over only the words the merge touches — the
      // production-trainer shape at 30k merges); BpeSpec pins its merge
      // sequence equal to the naive full-recount loop, which is what
      // the oracle's unrolled CTE chain mirrors.
      import s.implicits._
      bpeMerges(t(s, d).documents).toDF("step", "pair", "n")
    },
    Some {
      val rounds = (1 to BpeMerges).map(sqlBpeRound).mkString(",\n")
      val tail = (1 to BpeMerges)
        .map(i => s"SELECT CAST($i AS INT) AS step, pr AS pair, n FROM b$i")
        .mkString("\nUNION ALL ")
      raw"""WITH w0 AS (SELECT CAST(count(*) AS BIGINT) AS f,
           |    ' ' || rtrim(regexp_replace(tok, '(.)', '\1  ', 'g')) || ' ' AS r
           |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
           |        FROM documents WHERE length(trim(text)) > 0) GROUP BY tok),
           |$rounds
           |$tail
           |ORDER BY step""".stripMargin
    })

  private val qBpeTokenize = Q(
    "q_bpe_tokenize",
    "apply the trained BPE merges to the corpus: per-doc whitespace-token vs BPE-symbol counts",
    (s, d) => {
      // the APPLY half of the tokenizer loop (q_bpe_train is the
      // trainer): tokenize every document with the learned merge list.
      // Scale shape: merges are a driver-side list (8 literals); the
      // application folds them as 8 map-side replaces over the DISTINCT
      // word table (vocab-scale, not corpus-scale — every occurrence of
      // a word tokenizes identically, the same two-level trick as the
      // trainer), and docs join the tokenized vocab on the word. Output
      // is the trained tokenizer's per-doc fertility: n_bpe_symbols /
      // n_tokens falls as merges learn the corpus.
      import graft.functions.Bpe
      val docs   = t(s, d).documents
      val merges = bpeMerges(docs).map(_._2)
      val toks = docs.select(col("doc_id"), explode(TF.tokens(col("text"))).as("w"))
      val vocab = toks.select(col("w")).distinct()
        .withColumn("r", concat(lit(" "),
          rtrim(regexp_replace(col("w"), "(.)", "$1  ")), lit(" ")))
      val applied = merges
        .foldLeft(vocab)((v, p) => v.withColumn("r", Bpe.merged(col("r"), p)))
        .withColumn("n_bpe", size(split(trim(col("r")), "  ")).cast("long"))
        .select(col("w"), col("n_bpe"))
      toks.join(applied, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("n_bpe")).as("n_bpe_symbols"))
    },
    Some {
      val rounds = (1 to BpeMerges).map(sqlBpeRound).mkString(",\n")
      val vs = (1 to BpeMerges).map { i =>
        s"""v$i AS MATERIALIZED (SELECT w, replace(r, ' ' || replace((SELECT pr FROM b$i), ' ', '  ') || ' ',
           |    ' ' || replace((SELECT pr FROM b$i), ' ', '') || ' ') AS r FROM v${i - 1})""".stripMargin
      }.mkString(",\n")
      raw"""WITH w0 AS (SELECT CAST(count(*) AS BIGINT) AS f,
           |    ' ' || rtrim(regexp_replace(tok, '(.)', '\1  ', 'g')) || ' ' AS r
           |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
           |        FROM documents WHERE length(trim(text)) > 0) GROUP BY tok),
           |$rounds,
           |v0 AS (SELECT DISTINCT tok AS w,
           |    ' ' || rtrim(regexp_replace(tok, '(.)', '\1  ', 'g')) || ' ' AS r
           |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
           |        FROM documents WHERE length(trim(text)) > 0)),
           |$vs,
           |va AS (SELECT w, CAST(len(string_split(trim(r), '  ')) AS BIGINT) AS n_bpe FROM v$BpeMerges),
           |d0 AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
           |  FROM documents WHERE length(trim(text)) > 0)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe_symbols
           |FROM d0 JOIN va USING (w) GROUP BY 1""".stripMargin
    })

  // ───────────────────────────────────────────────────────────────────
  // Corpus curation: BM25 retrieval, leakage-free split, α-temperature
  // mixing (functions/Curation.scala)
  // ───────────────────────────────────────────────────────────────────

  /** BM25 query: one rare term ("dup", df≈5% — the dedup marker the
    * generators plant) + two common ones, so idf does real ranking work.
    */
  private val Bm25Terms = Seq("dup", "spark", "window")
  private val Bm25K     = 20
  private val sqlBm25Terms = Bm25Terms.map(t => s"'$t'").mkString(", ")

  /** `toks`: every token occurrence of every non-empty document. */
  private val sqlBm25Toks: String =
    raw"""toks AS (SELECT doc_id,
         |    unnest(string_split_regex(trim(text), '\s+')) AS tok
         |  FROM documents WHERE length(trim(text)) > 0)""".stripMargin

  /** The CTE `name` = each (doc, query term)'s integer BM25
    * contribution over `tf`, `dl`, `df` and `tot`.
    */
  private def sqlBm25Contrib(name: String): String =
    raw"""$name AS (SELECT tf.doc_id,
         |    CAST(round(
         |      ln(CAST(2*n_docs + 2 AS DOUBLE) / CAST(2*df + 1 AS DOUBLE))
         |      * (CAST(44*t_toks*tf AS DOUBLE)
         |         / CAST(20*t_toks*tf + 6*t_toks + 18*dl*n_docs AS DOUBLE))
         |      * 10000) AS BIGINT) AS contrib
         |  FROM tf JOIN dl USING (doc_id) JOIN df USING (tok) CROSS JOIN tot)""".stripMargin

  /** The whole-corpus BM25 chain `toks` … `df`, ending in the
    * contribution CTE named `contrib` — the head of [[qBm25Topk]]'s
    * oracle and of [[sqlHybridArmCtes]].
    */
  private def sqlBm25Ctes(contrib: String): String =
    raw"""$sqlBm25Toks,
         |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS t_toks FROM dl),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks
         |  WHERE tok IN ($sqlBm25Terms) GROUP BY 1, 2),
         |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |${sqlBm25Contrib(contrib)}""".stripMargin

  /** The stale-stats BM25 oracle: df and totals come from the index
    * snapshot (docs below `snapDoc`), tf and dl from the whole corpus.
    * One chain for the persisted, streamed and compacted index queries.
    */
  private def sqlBm25Snapshot(snapDoc: Long): String =
    raw"""WITH $sqlBm25Toks,
         |ixdl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks
         |  WHERE doc_id < $snapDoc GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS t_toks FROM ixdl),
         |df AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM toks WHERE doc_id < $snapDoc AND tok IN ($sqlBm25Terms)
         |  GROUP BY 1),
         |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks
         |  WHERE tok IN ($sqlBm25Terms) GROUP BY 1, 2),
         |${sqlBm25Contrib("c")}
         |SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_sc
         |FROM c GROUP BY 1 ORDER BY score_sc DESC, doc_id LIMIT $Bm25K""".stripMargin

  private val qBm25Topk = Q(
    "q_bm25_topk",
    "Okapi BM25 top-k retrieval (k1=1.2, b=0.75, Lucene idf) with exact-rational tf saturation",
    (s, d) =>
      Curation.bm25TopK(t(s, d).documents, "doc_id", "text", Bm25Terms, Bm25K),
    Some(raw"""WITH ${sqlBm25Ctes("c")}
      |SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_sc
      |FROM c GROUP BY 1 ORDER BY score_sc DESC, doc_id LIMIT $Bm25K""".stripMargin))

  /** Index snapshot bound for [[qBm25Indexed]]: the persisted index is
    * built from docs below this id, the search corpus is EVERYTHING —
    * stale-stats serving (index refreshed periodically while the corpus
    * grows), the production regime the index/search split exists for.
    * The oracle mirrors the snapshot index as CTEs, so a plan that
    * silently rebuilt the index from the full corpus would
    * hash-mismatch — the persisted path is genuinely oracle-observable.
    */
  private val Bm25SnapDoc = 400L

  private val qBm25Indexed = Q(
    "q_bm25_indexed",
    "BM25 search served from a PERSISTED parquet index snapshot (stale-stats serving): corpus scanned once, df/totals read from the index",
    (s, d) => {
      val docs = t(s, d).documents
      // UUID nonce: same per-invocation-unique contract as the layered
      // stores below (concurrent evaluations must not race the rewrite);
      // swept at JVM exit by the scratch registry
      val dir = graft.functions.Stores.scratchDir(
        "graft_bm25_index_", new java.io.File(d).getName)
      Curation.writeBm25Index(
        Curation.bm25Index(docs.filter(col("doc_id") < Bm25SnapDoc),
          "doc_id", "text"), dir)
      Curation.bm25Search(docs, Curation.readBm25Store(s, dir),
        "doc_id", "text", Bm25Terms, Bm25K)
    },
    Some(sqlBm25Snapshot(Bm25SnapDoc)))

  /** [[qBm25Stream]]'s layered-store snapshot: batch 0 = docs < 200,
    * batch 1 = 200 ≤ doc < 350 — the union is the index snapshot the
    * oracle mirrors (deliberately different from [[qBm25Indexed]]'s 400
    * so the two queries' oracles differ).
    */
  private val Bm25StreamB0 = 200L
  private val Bm25StreamB1 = 350L

  /** Publish [[qBm25Stream]]'s two batches into a fresh scratch store
    * (`prefix` + UUID nonce) exactly as Pipelines.bm25Ingest publishes
    * them: one additive (df, tot) layer per batch. Returns the corpus
    * and the store dir. The dir is UNIQUE per invocation: a shared
    * pid+basename key raced two concurrent evaluations (wipe-then-
    * rewrite vs an in-flight reader) and collided two datasets sharing
    * a basename in one JVM; a fresh dir never pre-exists, so
    * publishOnce's replay no-op path can't silently serve stale stats
    * either (that path is spec-covered in StreamingSpec/StoresSpec).
    * Swept at JVM exit (scratch registry).
    */
  private def publishBm25Batches(
      s: SparkSession, d: String, prefix: String): (DataFrame, String) = {
    val dir = graft.functions.Stores.scratchDir(prefix, new java.io.File(d).getName)
    val docs = t(s, d).documents
    Curation.writeBm25Batch(
      Curation.bm25Index(docs.filter(col("doc_id") < Bm25StreamB0),
        "doc_id", "text"), dir, 0L)
    Curation.writeBm25Batch(
      Curation.bm25Index(docs.filter(col("doc_id") >= Bm25StreamB0 &&
        col("doc_id") < Bm25StreamB1), "doc_id", "text"), dir, 1L)
    (docs, dir)
  }

  private val qBm25Stream = Q(
    "q_bm25_stream",
    "BM25 search served from a STREAMED additive index store: per-batch df/tot layers summed at read",
    (s, d) => {
      val (docs, dir) = publishBm25Batches(s, d, "graft_bm25s_")
      Curation.bm25Search(docs, Curation.readBm25Store(s, dir),
        "doc_id", "text", Bm25Terms, Bm25K)
    },
    Some(sqlBm25Snapshot(Bm25StreamB1)))

  private val qBm25Compact = Q(
    "q_bm25_compact",
    "BM25 layered-store compaction: per-batch df/tot layers folded to one (small-file fix), search answers unchanged",
    (s, d) => {
      // fresh fixture store per invocation (compaction MUTATES the
      // store — sharing q_bm25_stream's dir would corrupt its replay
      // no-op contract): two additive ingest layers, folded to one
      // atomically-published layer, searched through the same serving
      // fold. The oracle is q_bm25_stream's snapshot SQL verbatim —
      // compaction must be invisible to a searcher.
      val (docs, dir) = publishBm25Batches(s, d, "graft_bm25c_")
      Curation.compactBm25Store(s, dir)
      Curation.bm25Search(docs, Curation.readBm25Store(s, dir),
        "doc_id", "text", Bm25Terms, Bm25K)
    },
    Some(sqlBm25Snapshot(Bm25StreamB1)))

  /** Arm depth / fused size / μ for [[qHybridRrf]] — shared with the
    * oracle so the two sides cannot drift (the RRF constant is
    * [[Curation.RrfK]]). μ = 2000 is Zhai & Lafferty's default.
    */
  private val HybridN    = 20
  private val HybridK    = 10
  private val HybridMu   = 2000

  /** The BM25 + Dirichlet-QL ranking-arm CTE chain (`toks` … `bmr`,
    * `qlr`) shared verbatim by the [[qHybridRrf]] and [[qRbo]] oracles —
    * one copy so the two cannot desynchronize.
    */
  private val sqlHybridArmCtes: String =
    raw"""${sqlBm25Ctes("bmc")},
         |bms AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score
         |  FROM bmc GROUP BY 1),
         |bmr AS (SELECT doc_id, rank FROM (SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM bms)
         |  WHERE rank <= $HybridN),
         |cf AS (SELECT tok, CAST(count(*) AS BIGINT) AS cf FROM toks
         |  WHERE tok IN ($sqlBm25Terms) GROUP BY 1),
         |qt AS (SELECT unnest([$sqlBm25Terms]) AS tok),
         |qtf AS (SELECT c.doc_id, q.tok, COALESCE(tf.tf, 0) AS tf
         |  FROM (SELECT DISTINCT doc_id FROM tf) c CROSS JOIN qt q
         |  LEFT JOIN tf ON tf.doc_id = c.doc_id AND tf.tok = q.tok),
         |qlc AS (SELECT qtf.doc_id,
         |    CAST(round(ln(
         |      CAST(tf * t_toks + $HybridMu * cf AS DOUBLE)
         |      / CAST((dl + $HybridMu) * t_toks AS DOUBLE)) * 10000) AS BIGINT) AS contrib
         |  FROM qtf JOIN dl USING (doc_id) JOIN cf USING (tok) CROSS JOIN tot),
         |qls AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score
         |  FROM qlc GROUP BY 1),
         |qlr AS (SELECT doc_id, rank FROM (SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM qls)
         |  WHERE rank <= $HybridN)""".stripMargin

  private val qHybridRrf = Q(
    "q_hybrid_rrf",
    "hybrid retrieval: BM25 + Dirichlet query-likelihood arms fused by reciprocal-rank fusion",
    (s, d) => Curation.hybridRrfTopK(
      t(s, d).documents, "doc_id", "text", Bm25Terms,
      n = HybridN, k = HybridK, mu = HybridMu),
    Some {
      raw"""WITH $sqlHybridArmCtes,
           |u AS (SELECT doc_id, rank, 'bm25' AS arm FROM bmr
           |  UNION ALL SELECT doc_id, rank, 'ql' AS arm FROM qlr),
           |f AS (SELECT doc_id,
           |    CAST(sum(1000000 // (${Curation.RrfK} + rank)) AS BIGINT) AS rrf_sc,
           |    CAST(COALESCE(max(CASE WHEN arm = 'bm25' THEN rank END), 0) AS BIGINT) AS rank_bm25,
           |    CAST(COALESCE(max(CASE WHEN arm = 'ql' THEN rank END), 0) AS BIGINT) AS rank_ql
           |  FROM u GROUP BY 1)
           |SELECT doc_id, rrf_sc, rank_bm25, rank_ql FROM f
           |ORDER BY rrf_sc DESC, doc_id LIMIT $HybridK""".stripMargin
    })

  private val qRbo = Q(
    "q_rbo",
    "rank-biased overlap of the BM25 vs query-likelihood rankings, per depth (the fusion-arm agreement diagnostic)",
    (s, d) => {
      val docs = t(s, d).documents
      val bm = Curation.rankOf(
        Curation.bm25TopK(docs, "doc_id", "text", Bm25Terms, HybridN),
        "doc_id", "score_sc")
      val ql = Curation.rankOf(
        Curation.qlDirichletTopK(docs, "doc_id", "text", Bm25Terms, HybridN, HybridMu),
        "doc_id", "score_sc")
      Curation.rboReport(bm, ql, "doc_id", HybridN)
    },
    Some {
      val wList = Curation.rboWeightsMu(HybridN).mkString(", ")
      raw"""WITH $sqlHybridArmCtes,
           |jm AS (SELECT greatest(a.rank, b.rank) AS m
           |  FROM bmr a JOIN qlr b USING (doc_id)),
           |dd AS (SELECT CAST(unnest(range(1, ${HybridN + 1})) AS BIGINT) AS d),
           |o AS (SELECT d,
           |    CAST(COALESCE((SELECT count(*) FROM jm WHERE jm.m <= dd.d), 0) AS BIGINT)
           |      AS overlap
           |  FROM dd),
           |w AS (SELECT d, overlap,
           |    CAST(([$wList])[CAST(d AS INT)] * overlap AS BIGINT) AS term_mub
           |  FROM o)
           |SELECT d, overlap, term_mub,
           |  CAST(sum(term_mub) OVER (ORDER BY d) AS BIGINT) AS rbo_mub
           |FROM w""".stripMargin
    })

  private val qSplitLeakfree = Q(
    "q_split_leakfree",
    "dedup-aware train/val/test split: exact-dup groups assigned atomically by content-group hash",
    (s, d) =>
      // q_sample_split hashes the DOC id, so byte-identical dups can land
      // in train AND test (eval leakage); here the coin is the content
      // group. n_dup_groups per split is the observable that the corpus
      // has dup groups being protected.
      Curation.leakFreeSplit(t(s, d).documents, "doc_id", "text")
        .groupBy(col("grp"), col("split"))
        .agg(count(lit(1)).as("sz"))
        .groupBy(col("split"))
        .agg(
          sum(col("sz")).as("n_docs"),
          count(lit(1)).as("n_groups"),
          sum(when(col("sz") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
          max(col("sz")).as("max_group")),
    Some(raw"""WITH g AS (SELECT md5(text) AS grp, count(*) AS sz,
            |  (CASE WHEN ascii(substr(md5('lfsplit:' || md5(text)), 1, 1)) <= 57
            |        THEN ascii(substr(md5('lfsplit:' || md5(text)), 1, 1)) - 48
            |        ELSE ascii(substr(md5('lfsplit:' || md5(text)), 1, 1)) - 87 END) * 16 +
            |  (CASE WHEN ascii(substr(md5('lfsplit:' || md5(text)), 2, 1)) <= 57
            |        THEN ascii(substr(md5('lfsplit:' || md5(text)), 2, 1)) - 48
            |        ELSE ascii(substr(md5('lfsplit:' || md5(text)), 2, 1)) - 87 END) AS b
            |FROM documents GROUP BY 1)
            |SELECT CASE WHEN b < 204 THEN 'train' WHEN b < 230 THEN 'val'
            |            ELSE 'test' END AS split,
            |  CAST(sum(sz) AS BIGINT) AS n_docs,
            |  CAST(count(*) AS BIGINT) AS n_groups,
            |  CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
            |  CAST(max(sz) AS BIGINT) AS max_group
            |FROM g GROUP BY 1""".stripMargin))

  private val qDomainMixAlpha = Q(
    "q_domain_mix_alpha",
    "α=1/2 temperature mixing: acceptance thresholds ⌊256·√(n_min/n)⌋, IEEE-sqrt-exact across engines",
    (s, d) => Curation.temperatureMix(t(s, d).documents, "source", "doc_id"),
    Some(raw"""WITH n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_total
            |  FROM documents GROUP BY 1),
            |mn AS (SELECT min(n_total) AS n_min FROM n),
            |thr AS (SELECT source, n_total,
            |  CAST(floor(256 * sqrt(CAST(n_min AS DOUBLE) / CAST(n_total AS DOUBLE))) AS INT) AS thr
            |  FROM n CROSS JOIN mn),
            |h AS (SELECT source, doc_id,
            |  (CASE WHEN ascii(substr(md5('mixa:' || CAST(doc_id AS VARCHAR)), 1, 1)) <= 57
            |        THEN ascii(substr(md5('mixa:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 48
            |        ELSE ascii(substr(md5('mixa:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 87 END) * 16 +
            |  (CASE WHEN ascii(substr(md5('mixa:' || CAST(doc_id AS VARCHAR)), 2, 1)) <= 57
            |        THEN ascii(substr(md5('mixa:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 48
            |        ELSE ascii(substr(md5('mixa:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 87 END) AS b
            |FROM documents)
            |SELECT h.source, max(thr.n_total) AS n_total, max(thr.thr) AS thr,
            |  CAST(sum(CASE WHEN b < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
            |  (CAST(sum(CASE WHEN b < thr THEN 1 ELSE 0 END) AS BIGINT) * 10000)
            |    // max(thr.n_total) AS kept_bp
            |FROM h JOIN thr USING (source) GROUP BY 1""".stripMargin))

  /** md5-byte SQL fragment: first byte of md5(salt || doc_id) as 0..255
    * (the deterministic acceptance coin, DuckDB spelling).
    */
  private def sqlMd5Byte(salt: String): String =
    s"""(CASE WHEN ascii(substr(md5('$salt' || CAST(doc_id AS VARCHAR)), 1, 1)) <= 57
       |      THEN ascii(substr(md5('$salt' || CAST(doc_id AS VARCHAR)), 1, 1)) - 48
       |      ELSE ascii(substr(md5('$salt' || CAST(doc_id AS VARCHAR)), 1, 1)) - 87 END) * 16 +
       |(CASE WHEN ascii(substr(md5('$salt' || CAST(doc_id AS VARCHAR)), 2, 1)) <= 57
       |      THEN ascii(substr(md5('$salt' || CAST(doc_id AS VARCHAR)), 2, 1)) - 48
       |      ELSE ascii(substr(md5('$salt' || CAST(doc_id AS VARCHAR)), 2, 1)) - 87 END)""".stripMargin

  /** One oracle, two engine plans: q_nb_classify (broadcast V·C model)
    * and q_nb_shuffle (model shuffle-joined on the token key — the
    * fallback for vocabularies too large to broadcast) must produce
    * hash-identical confusion matrices from this same SQL.
    */
  private val nbConfusionOracle: String =
    raw"""WITH tagged AS (SELECT doc_id, lang, text,
            |  (${sqlMd5Byte("nb:")}) < 204 AS is_train FROM documents),
            |toks AS (SELECT doc_id, lang AS true_cls, is_train,
            |    unnest(string_split_regex(trim(text), '\s+')) AS tok
            |  FROM tagged WHERE length(trim(text)) > 0),
            |cnt AS (SELECT true_cls AS cls, tok, CAST(count(*) AS BIGINT) AS cnt
            |  FROM toks WHERE is_train GROUP BY 1, 2),
            |tot AS (SELECT cls, CAST(sum(cnt) AS BIGINT) AS tot FROM cnt GROUP BY 1),
            |vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
            |  FROM toks WHERE is_train),
            |model AS (SELECT cls, tok,
            |    CAST(round(ln(CAST(cnt + 1 AS DOUBLE) / CAST(tot + v AS DOUBLE)) * 1000000) AS BIGINT) AS lp
            |  FROM cnt JOIN tot USING (cls) CROSS JOIN vv),
            |lp0 AS (SELECT cls,
            |    CAST(round(ln(1.0 / CAST(tot + v AS DOUBLE)) * 1000000) AS BIGINT) AS lp0
            |  FROM tot CROSS JOIN vv),
            |nc AS (SELECT lang AS cls, CAST(count(*) AS BIGINT) AS nc
            |  FROM tagged WHERE is_train GROUP BY 1),
            |prior AS (SELECT cls,
            |    CAST(round(ln(CAST(nc AS DOUBLE)
            |      / CAST((SELECT sum(nc) FROM nc) AS DOUBLE)) * 1000000) AS BIGINT) AS prior_sc
            |  FROM nc),
            |ttf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
            |  FROM toks WHERE NOT is_train GROUP BY 1, 2),
            |toksc AS (SELECT doc_id, p.cls,
            |    CAST(sum(tf * COALESCE(lp, lp0)) AS BIGINT) AS tok_sc
            |  FROM ttf CROSS JOIN (SELECT cls FROM prior) p
            |  LEFT JOIN model USING (cls, tok) JOIN lp0 USING (cls) GROUP BY 1, 2),
            |td AS (SELECT doc_id, lang AS true_cls FROM tagged WHERE NOT is_train),
            |sc AS (SELECT td.doc_id, td.true_cls, prior.cls,
            |    prior_sc + COALESCE(tok_sc, 0) AS score
            |  FROM td CROSS JOIN prior
            |  LEFT JOIN toksc ON toksc.doc_id = td.doc_id AND toksc.cls = prior.cls),
            |pred AS (SELECT doc_id, true_cls, cls,
            |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
            |  FROM sc)
            |SELECT true_cls, cls AS pred_cls, CAST(count(*) AS BIGINT) AS n
            |FROM pred WHERE rn = 1 GROUP BY 1, 2""".stripMargin

  private val qNbClassify = Q(
    "q_nb_classify",
    "Naive Bayes lang classifier: train on 80% split, score held-out, integer-exact argmax, confusion matrix",
    (s, d) => Curation.nbConfusion(t(s, d).documents, "doc_id", "text", "lang"),
    Some(nbConfusionOracle))

  private val qNbShuffle = Q(
    "q_nb_shuffle",
    "NB classifier, shuffle-join model path: V·C too large to broadcast — token-key sort-merge join, unseen mass reconstructed arithmetically, bit-identical argmax",
    (s, d) => Curation.nbConfusion(t(s, d).documents, "doc_id", "text", "lang",
      broadcastModel = false),
    Some(nbConfusionOracle))

  private val qKnSurprisal = Q(
    "q_kn_surprisal",
    "Kneser–Ney bigram LM surprisal per doc (d=3/4 exact rational, model-confined log2) — the CCNet perplexity filter",
    (s, d) => graft.functions.Quality.knBigramSurprisal(t(s, d).documents, "doc_id", "text"),
    Some(raw"""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
            |  FROM documents WHERE length(trim(text)) > 0
            |    AND len(string_split_regex(trim(text), '\s+')) >= 2),
            |bg AS (SELECT doc_id, toks[g.i] AS v, toks[g.i+1] AS w
            |  FROM tk CROSS JOIN LATERAL
            |    (SELECT unnest(generate_series(1, len(toks)-1)) AS i) g),
            |cvw AS (SELECT v, w, CAST(count(*) AS BIGINT) AS cvw FROM bg GROUP BY 1, 2),
            |cv AS (SELECT v, CAST(sum(cvw) AS BIGINT) AS cv,
            |    CAST(count(*) AS BIGINT) AS n1v FROM cvw GROUP BY 1),
            |n1w AS (SELECT w, CAST(count(*) AS BIGINT) AS n1w FROM cvw GROUP BY 1),
            |nbt AS (SELECT CAST(count(*) AS BIGINT) AS nbt FROM cvw),
            |model AS (SELECT v, w,
            |    CAST(round(-log2(
            |      CAST((4*cvw - 3)*nbt + 3*n1v*n1w AS DOUBLE)
            |      / CAST(4*cv*nbt AS DOUBLE)) * 1000000) AS BIGINT) AS sc
            |  FROM cvw JOIN cv USING (v) JOIN n1w USING (w) CROSS JOIN nbt)
            |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
            |  CAST(sum(sc) AS BIGINT) // (CAST(count(*) AS BIGINT) * 10000) AS avg_kn_cb
            |FROM bg JOIN model USING (v, w) GROUP BY 1""".stripMargin))

  private val qDedupEval = Q(
    "q_dedup_eval",
    "detector evaluation: MinHash-LSH candidate precision/recall vs exact Jaccard ground truth, one row",
    (s, d) => {
      // "measure, don't guess" for the dedup stage itself: on the bounded
      // ground-truth corpus, how much of the exact-Jaccard≥0.8 pair set
      // do the 16-hash/4-band candidates recover (recall), and how much
      // of the candidate set is real (precision)? The band S-curve's
      // 50%-collision point is (1/4)^(1/4) ≈ 0.71, so τ = 0.8 sits on the
      // high-recall side — the observable the sweep query q_band_sweep
      // tunes toward. Truth is quadratic-over-a-CONSTANT (doc_id < 500,
      // same bound as q_dedup_jaccard); candidates are the production
      // equi-join path.
      val docs  = t(s, d).documents.filter(col("doc_id") < 500)
      val truth = Dedup.jaccardPairs(docs, "doc_id", "text", 0.8)
        .select(col("doc_a"), col("doc_b"))
      val cand = Dedup.minhashCandidates(
        docs, "doc_id", "text", maxBucket = 0)
      // ONE evaluation of each pair set: the previous three-aggregate
      // crossJoin shape instantiated the expensive truth subtree (the
      // quadratic exact-Jaccard join) and the candidate subtree TWICE
      // each (truth.agg + hit, cand.agg + hit — column pruning diverges,
      // so no stage reuse). Both sets are distinct pairs, so a single
      // full-outer join on the pair key yields all three counts in one
      // pass: n_true = truth rows, n_cand = cand rows, n_hit = matches.
      truth.withColumn("t", lit(1))
        .join(cand.withColumn("c", lit(1)), Seq("doc_a", "doc_b"),
          "full_outer")
        .agg(count(col("t")).as("n_true"), count(col("c")).as("n_cand"),
          count(when(col("t").isNotNull && col("c").isNotNull, 1)).as("n_hit"))
        .withColumn("precision_bp",
          expr("CASE WHEN n_cand > 0 THEN (n_hit * 10000) DIV n_cand ELSE 0 END"))
        .withColumn("recall_bp",
          expr("CASE WHEN n_true > 0 THEN (n_hit * 10000) DIV n_true ELSE 0 END"))
    },
    Some(s"""WITH ${sqlMinhashBandCtes(500)},
            |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            |  FROM bands a JOIN bands b
            |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
            |${sqlJaccardTruthCtes("truth")},
            |hit AS (SELECT * FROM cand JOIN truth USING (doc_a, doc_b)),
            |m AS (SELECT
            |  (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
            |  (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
            |  (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit)
            |SELECT n_true, n_cand, n_hit,
            |  CASE WHEN n_cand > 0 THEN (n_hit * 10000) // n_cand ELSE 0 END AS precision_bp,
            |  CASE WHEN n_true > 0 THEN (n_hit * 10000) // n_true ELSE 0 END AS recall_bp
            |FROM m""".stripMargin))

  private val qBcubed = Q(
    "q_bcubed",
    "B-cubed precision/recall/F1 of LSH dedup clusters vs exact-Jaccard ground-truth clusters",
    (s, d) => {
      // q_dedup_eval grades the candidate PAIRS; this grades what the
      // pipeline actually acts on — the CLUSTER assignment (canonical-doc
      // dedup keeps one doc per component). Same bounded ground-truth
      // corpus, same generators: predicted components from the LSH band
      // edges, true components from exact Jaccard >= 0.8 pairs.
      val docs = t(s, d).documents.filter(col("doc_id") < 500)
      // the predicted and ground-truth component builds are INDEPENDENT
      // iterative pipelines (each: candidate join → CC rounds, every
      // round a checkpoint action) — run them as concurrent driver
      // threads so one chain's per-round latency back-fills the other's
      // (guide §2.6: actions are only sequential because the driver
      // calls them sequentially). The clusters are consumed only after
      // both futures complete.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val predF = Future(Clustering.clustersOf(docs,
        Dedup.minhashCandidates(docs, "doc_id", "text",
          maxBucket = 0),
        "doc_id").select(col("doc_id"), col("cluster_id")))
      val truthF = Future(Clustering.clustersOf(docs,
        Dedup.jaccardPairs(docs, "doc_id", "text", 0.8)
          .select(col("doc_a"), col("doc_b")),
        "doc_id").select(col("doc_id"), col("cluster_id")))
      val pred = Await.result(predF, scala.concurrent.duration.Duration.Inf)
      val truth = Await.result(truthF, scala.concurrent.duration.Duration.Inf)
      graft.functions.Quality.bcubed(pred, truth)
    },
    Some(s"""WITH RECURSIVE $sqlMinhashComponentCtes,
            |pa AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS ca
            |  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
            |  WHERE d.doc_id < 500),
            |${sqlJaccardTruthCtes("tp")},
            |te AS (SELECT doc_a AS a, doc_b AS b FROM tp
            |  UNION SELECT doc_b, doc_a FROM tp),
            |treach AS (
            |  SELECT a AS node, a AS lab FROM te
            |  UNION
            |  SELECT te.b AS node, r.lab FROM treach r JOIN te ON te.a = r.node
            |),
            |tcc AS (SELECT node, min(lab) AS cluster_id FROM treach GROUP BY node),
            |ta AS (SELECT d.doc_id, coalesce(tcc.cluster_id, d.doc_id) AS cb
            |  FROM documents d LEFT JOIN tcc ON tcc.node = d.doc_id
            |  WHERE d.doc_id < 500),
            |j AS (SELECT pa.doc_id, ca, cb FROM pa JOIN ta USING (doc_id)),
            |na AS (SELECT ca, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY 1),
            |nb AS (SELECT cb, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY 1),
            |ni AS (SELECT ca, cb, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY 1, 2),
            |per AS (SELECT
            |    CAST((ni.n * 10000) // na.n AS BIGINT) AS p_bp,
            |    CAST((ni.n * 10000) // nb.n AS BIGINT) AS r_bp
            |  FROM j JOIN ni USING (ca, cb) JOIN na USING (ca) JOIN nb USING (cb)),
            |m AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
            |    CAST(sum(p_bp) AS BIGINT) AS sp, CAST(sum(r_bp) AS BIGINT) AS sr
            |  FROM per)
            |SELECT n_docs,
            |  CAST(sp // n_docs AS BIGINT) AS bcubed_p_bp,
            |  CAST(sr // n_docs AS BIGINT) AS bcubed_r_bp,
            |  CAST(CASE WHEN sp // n_docs + sr // n_docs > 0
            |    THEN (2 * (sp // n_docs) * (sr // n_docs))
            |      // ((sp // n_docs) + (sr // n_docs))
            |    ELSE 0 END AS BIGINT) AS bcubed_f1_bp
            |FROM m""".stripMargin))

  private val qJlProject = Q(
    "q_jl_project",
    "Johnson–Lindenstrauss ±1 projection 64→16 dims: per-pair distance-preservation ratio, exact integers",
    (s, d) => Similarity.jlDistanceReport(
      t(s, d).embeddings, "vec_id", "embedding", k = 16, maxId = 12),
    Some(raw"""WITH q AS (SELECT vec_id, pos,
            |    CAST(round(CAST(v AS DOUBLE) * 1000, 0) AS BIGINT) AS qv
            |  FROM (SELECT vec_id,
            |      unnest(generate_series(0, len(embedding)-1)) AS pos,
            |      unnest(embedding) AS v
            |    FROM embeddings WHERE vec_id < 12)),
            |kk AS (SELECT unnest(generate_series(0, 15)) AS kdim),
            |p AS (SELECT vec_id, kdim,
            |    CAST(sum(qv * (CASE WHEN ascii(substr(md5(
            |      'rp:' || CAST(pos AS VARCHAR) || ':' || CAST(kdim AS VARCHAR)),
            |      1, 1)) % 2 = 0 THEN 1 ELSE -1 END)) AS BIGINT) AS y
            |  FROM q CROSS JOIN kk GROUP BY 1, 2),
            |dx AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            |    CAST(sum((a.qv-b.qv)*(a.qv-b.qv)) AS BIGINT) AS dx2
            |  FROM q a JOIN q b ON a.pos = b.pos AND a.vec_id < b.vec_id
            |  GROUP BY 1, 2),
            |dy AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            |    CAST(sum((a.y-b.y)*(a.y-b.y)) AS BIGINT) AS dy2
            |  FROM p a JOIN p b ON a.kdim = b.kdim AND a.vec_id < b.vec_id
            |  GROUP BY 1, 2)
            |SELECT id_a, id_b,
            |  CASE WHEN dx2 = 0 THEN 10000
            |       ELSE (dy2 * 10000) // (16 * dx2) END AS ratio_bp
            |FROM dx JOIN dy USING (id_a, id_b)""".stripMargin))

  /** MaxMatch tokenizer knobs (shared Spark/oracle). */
  private val MaxMatchK   = 200
  private val MaxMatchLen = 4

  /** `toks`/`wf`/`pos`: every word occurrence, the word-frequency table
    * and each word's character positions — the head of the subword
    * tokenizer oracles.
    */
  private val sqlWordPosCtes: String =
    raw"""toks AS (SELECT doc_id,
         |    unnest(string_split_regex(trim(text), '\s+')) AS w
         |  FROM documents WHERE length(trim(text)) > 0),
         |wf AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1),
         |pos AS (SELECT w, f, unnest(generate_series(1, length(w))) AS p FROM wf)""".stripMargin

  /** [[sqlWordPosCtes]] plus the unigram seed model: `gc` = every
    * gram's corpus count, `vs` = (gram, packed cost) over all single
    * characters and the top-[[MaxMatchK]] longer grams.
    */
  private val sqlUnigramSeedCtes: String =
    raw"""$sqlWordPosCtes,
         |g AS (SELECT substr(w, CAST(p AS INT), CAST(len AS INT)) AS gram, f FROM (
         |    SELECT w, f, p,
         |      unnest(generate_series(1, least($MaxMatchLen, length(w) - p + 1))) AS len
         |    FROM pos)),
         |gc AS (SELECT gram, CAST(sum(f) AS BIGINT) AS cnt FROM g GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM gc),
         |vs AS (SELECT gram,
         |    (CAST(length(bin(t)) - length(bin(cnt)) AS BIGINT) * 1024 + 1) AS cost
         |  FROM (SELECT gram FROM gc WHERE length(gram) = 1
         |        UNION
         |        SELECT gram FROM (SELECT gram FROM gc WHERE length(gram) >= 2
         |                          ORDER BY cnt DESC, gram LIMIT $MaxMatchK)) v
         |  JOIN gc USING (gram), tot)""".stripMargin

  private val qMaxmatchTokenize = Q(
    "q_maxmatch_tokenize",
    "WordPiece-style greedy longest-match tokenizer: frequency-induced vocab, codegen'd fold walk",
    (s, d) => graft.functions.MaxMatch.tokenizeCounts(
      t(s, d).documents, "doc_id", "text", MaxMatchK, MaxMatchLen),
    Some(raw"""WITH RECURSIVE $sqlWordPosCtes,
            |chars AS (SELECT DISTINCT substr(w, p, 1) AS gram FROM pos),
            |topg AS (SELECT gram FROM (
            |    SELECT substr(w, p, len) AS gram, sum(f) AS cnt
            |    FROM (SELECT w, f, p,
            |        unnest(generate_series(2, least($MaxMatchLen, length(w) - p + 1))) AS len
            |      FROM pos WHERE length(w) - p + 1 >= 2)
            |    GROUP BY 1)
            |  ORDER BY cnt DESC, gram LIMIT $MaxMatchK),
            |vocab AS (SELECT DISTINCT gram FROM
            |  (SELECT gram FROM chars UNION ALL SELECT gram FROM topg)),
            |bl AS (SELECT w, p, max(len) AS bl FROM (
            |    SELECT w, p,
            |      unnest(generate_series(1, least($MaxMatchLen, length(w) - p + 1))) AS len
            |    FROM pos) c
            |  JOIN vocab v ON substr(c.w, c.p, c.len) = v.gram
            |  GROUP BY 1, 2),
            |seg AS (
            |  SELECT w, 1 AS p, 0 AS n FROM wf
            |  UNION ALL
            |  SELECT s.w, s.p + b.bl, s.n + 1
            |  FROM seg s JOIN bl b ON b.w = s.w AND b.p = s.p),
            |pieces AS (SELECT s.w, CAST(s.n AS BIGINT) AS n_pieces
            |  FROM seg s JOIN (SELECT w, length(w) AS len FROM wf) wl ON wl.w = s.w
            |  WHERE s.p = wl.len + 1)
            |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            |  CAST(sum(n_pieces) AS BIGINT) AS n_pieces
            |FROM toks JOIN pieces USING (w) GROUP BY 1""".stripMargin))

  private val qUnigramTokenize = Q(
    "q_unigram_tokenize",
    "unigram-LM (SentencePiece) tokenizer: Viterbi-optimal segmentation under integer surprisal scores",
    (s, d) => graft.functions.Unigram.tokenizeCounts(
      t(s, d).documents, "doc_id", "text", MaxMatchK, MaxMatchLen),
    // the Viterbi backward induction mirrors as a recursive CTE whose
    // rows carry the same growing best-cost list the Spark fold builds;
    // the packed cost (surp*1024 + 1) makes one min() resolve the
    // (total surprisal, piece count) tie-break identically in both
    // engines — zero floats anywhere
    Some(raw"""WITH RECURSIVE $sqlUnigramSeedCtes,
            |${sqlUnigramDpCtes("", "vs")},
            |pieces AS (SELECT w, br[CAST(L + 1 AS INT)] // 1024 AS surp_bits,
            |    br[CAST(L + 1 AS INT)] % 1024 AS n_pieces
            |  FROM dp WHERE i = L + 1)
            |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            |  CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
            |  CAST(sum(surp_bits) AS BIGINT) AS surp_bits,
            |  (CAST(sum(surp_bits) AS BIGINT) * 100) // CAST(sum(n_pieces) AS BIGINT)
            |    AS avg_piece_cb
            |FROM toks JOIN pieces USING (w) GROUP BY 1""".stripMargin))

  /** The Viterbi-DP CTEs `mt$sfx`/`grid$sfx`/`dp$sfx` of the unigram
    * oracles over the score table `scoreCte`: `dp$sfx` rows carry the
    * growing best-cost list the Spark fold builds, complete at
    * `i = L + 1`.
    */
  private def sqlUnigramDpCtes(sfx: String, scoreCte: String): String =
    raw"""mt$sfx AS (SELECT c.w, c.p,
         |    list({'len': c.len, 'cost': v.cost} ORDER BY c.len) AS cands
         |  FROM (SELECT w, p,
         |      unnest(generate_series(1, least($MaxMatchLen, length(w) - p + 1))) AS len
         |    FROM pos) c
         |  JOIN $scoreCte v ON substr(c.w, CAST(c.p AS INT), CAST(c.len AS INT)) = v.gram
         |  GROUP BY 1, 2),
         |grid$sfx AS (SELECT w, CAST(length(w) AS BIGINT) AS L,
         |    list(cands ORDER BY p) AS mt FROM mt$sfx GROUP BY 1, 2),
         |dp$sfx AS (
         |  SELECT w, L, mt, CAST(1 AS BIGINT) AS i, [CAST(0 AS BIGINT)] AS br
         |  FROM grid$sfx
         |  UNION ALL
         |  SELECT w, L, mt, i + 1,
         |    list_append(br, list_min(list_transform(mt[CAST(L + 1 - i AS INT)],
         |      c -> c.cost + br[CAST(i - c.len + 1 AS INT)])))
         |  FROM dp$sfx WHERE i <= L)""".stripMargin

  /** The shared seed-model + Viterbi-DP + walk CTE chain of the unigram
    * oracles, parameterized by the score table name so the refit oracle
    * can run it twice (seed model `vs`, refit model `vs2`). Emits
    * `seg$sfx` = (w, pieces list). The walk reconstructs the ACTUAL
    * optimal segmentation: at each position the longest candidate
    * achieving `cost + best[p+len] = best[p]` — [[graft.functions
    * .Unigram.wordPieces]]' tie rule verbatim.
    */
  private def sqlUnigramWalkCtes(sfx: String, scoreCte: String): String =
    raw"""${sqlUnigramDpCtes(sfx, scoreCte)},
         |dpf$sfx AS (SELECT w, L, mt, br FROM dp$sfx WHERE i = L + 1),
         |walk$sfx AS (
         |  SELECT w, L, mt, br, CAST(1 AS BIGINT) AS p,
         |    CAST([] AS STRUCT(pp BIGINT, ll BIGINT)[]) AS ps
         |  FROM dpf$sfx
         |  UNION ALL
         |  SELECT w, L, mt, br, p + ch, list_append(ps, {'pp': p, 'll': ch})
         |  FROM (
         |    SELECT w, L, mt, br, p, ps,
         |      list_max(list_transform(
         |        list_filter(mt[CAST(p AS INT)],
         |          c -> c.cost + br[CAST(L + 2 - (p + c.len) AS INT)]
         |               = br[CAST(L + 2 - p AS INT)]),
         |        c -> c.len)) AS ch
         |    FROM walk$sfx WHERE p <= L) t),
         |seg$sfx AS (SELECT w,
         |    list_transform(ps, x -> substr(w, CAST(x.pp AS INT), CAST(x.ll AS INT))) AS pieces
         |  FROM walk$sfx WHERE p = L + 1)""".stripMargin

  private val qUnigramRefit = Q(
    "q_unigram_refit",
    "unigram-LM hard-EM refit: usage-fitted piece scores, pruned vocab, per-round corpus cost",
    (s, d) => graft.functions.Unigram.refitStats(
      t(s, d).documents, "text", MaxMatchK, MaxMatchLen),
    Some(raw"""WITH RECURSIVE $sqlUnigramSeedCtes,
            |${sqlUnigramWalkCtes("", "vs")},
            |su AS (SELECT s.w, wf.f, unnest(s.pieces) AS gram
            |  FROM seg s JOIN wf USING (w)),
            |used AS (SELECT gram, CAST(sum(f) AS BIGINT) AS cnt FROM su GROUP BY 1),
            |tot2 AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM used),
            |m2 AS (SELECT v.gram, CAST(coalesce(u.cnt, 1) AS BIGINT) AS cnt
            |  FROM (SELECT gram FROM vs) v LEFT JOIN used u USING (gram)
            |  WHERE u.cnt IS NOT NULL OR length(v.gram) = 1),
            |vs2 AS (SELECT gram,
            |    (CAST(length(bin(t)) - length(bin(cnt)) AS BIGINT) * 1024 + 1) AS cost
            |  FROM m2, tot2),
            |${sqlUnigramWalkCtes("2", "vs2")},
            |su2 AS (SELECT s.w, wf.f, unnest(s.pieces) AS gram
            |  FROM seg2 s JOIN wf USING (w)),
            |c0 AS (SELECT s.w, s.f,
            |    CAST(sum(v.cost // 1024) AS BIGINT) AS w_bits,
            |    CAST(count(*) AS BIGINT) AS w_pieces
            |  FROM su s JOIN vs v USING (gram) GROUP BY 1, 2),
            |c1 AS (SELECT s.w, s.f,
            |    CAST(sum(v.cost // 1024) AS BIGINT) AS w_bits,
            |    CAST(count(*) AS BIGINT) AS w_pieces
            |  FROM su2 s JOIN vs2 v USING (gram) GROUP BY 1, 2),
            |r0 AS (SELECT 0 AS round,
            |    (SELECT CAST(count(*) AS BIGINT) FROM vs) AS model_pieces,
            |    (SELECT CAST(count(DISTINCT gram) AS BIGINT) FROM su) AS pieces_used,
            |    CAST(sum(f * w_bits) AS BIGINT) AS corpus_bits,
            |    CAST(sum(f * w_pieces) AS BIGINT) AS corpus_pieces
            |  FROM c0),
            |r1 AS (SELECT 1 AS round,
            |    (SELECT CAST(count(*) AS BIGINT) FROM vs2) AS model_pieces,
            |    (SELECT CAST(count(DISTINCT gram) AS BIGINT) FROM su2) AS pieces_used,
            |    CAST(sum(f * w_bits) AS BIGINT) AS corpus_bits,
            |    CAST(sum(f * w_pieces) AS BIGINT) AS corpus_pieces
            |  FROM c1)
            |SELECT * FROM r0 UNION ALL SELECT * FROM r1""".stripMargin))

  /** Shared CDC-chunk CTE chain (`d` … `ck`): `ck` = (doc_id, chunk)
    * for every non-empty document — the oracle mirror of
    * [[graft.functions.expressions.CdcChunks]]' sequential Gear scan in
    * its equivalent sliding-window form (low-bit mask ⇒ only the
    * trailing 6 code points matter ⇒ lag windows).
    */
  private val sqlCdcChunkCtes: String =
    raw"""d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
        |cs AS (SELECT doc_id, text,
        |    unnest(generate_series(1, length(text))) AS i FROM d),
        |g AS (SELECT doc_id, text, i,
        |    (CAST(ascii(substr(text, i, 1)) AS BIGINT) * 2654435761) % 256 AS gv
        |  FROM cs),
        |h AS (SELECT doc_id, text, i,
        |    (gv
        |     + 2  * coalesce(lag(gv, 1) OVER w, 0)
        |     + 4  * coalesce(lag(gv, 2) OVER w, 0)
        |     + 8  * coalesce(lag(gv, 3) OVER w, 0)
        |     + 16 * coalesce(lag(gv, 4) OVER w, 0)
        |     + 32 * coalesce(lag(gv, 5) OVER w, 0)) % 64 AS h6
        |  FROM g WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |b AS (SELECT doc_id, text, i AS bp FROM h
        |  WHERE h6 = 0 OR i = length(text)),
        |ck AS (SELECT doc_id,
        |    substr(text,
        |      coalesce(lag(bp) OVER (PARTITION BY doc_id ORDER BY bp), 0) + 1,
        |      bp - coalesce(lag(bp) OVER (PARTITION BY doc_id ORDER BY bp), 0)) AS chunk
        |  FROM b)""".stripMargin

  private val qCdcDedup = Q(
    "q_cdc_dedup",
    "content-defined chunking dedup: Rabin-style low-bit boundary mask as a pure sliding-window expression",
    (s, d) => Dedup.cdcDedupStats(t(s, d).documents, "text"),
    Some(raw"""WITH $sqlCdcChunkCtes,
            |pc AS (SELECT md5(chunk) AS chash, CAST(count(*) AS BIGINT) AS n,
            |    CAST(min(length(chunk)) AS BIGINT) AS clen
            |  FROM ck GROUP BY 1)
            |SELECT CAST(sum(n) AS BIGINT) AS n_chunks,
            |  CAST(count(*) AS BIGINT) AS n_distinct,
            |  CAST(sum(n * clen) AS BIGINT) AS bytes_total,
            |  CAST(sum(clen) AS BIGINT) AS bytes_distinct,
            |  (CAST(sum(n * clen) AS BIGINT) - CAST(sum(clen) AS BIGINT)) * 10000
            |    // CAST(sum(n * clen) AS BIGINT) AS dup_bytes_bp
            |FROM pc""".stripMargin))

  private val qCdcIncremental = Q(
    "q_cdc_incremental",
    "incremental CDC dedup: batch chunks vs the persisted corpus chunk store, per-doc new-byte report",
    (s, d) => {
      val docs   = t(s, d).documents
      val corpus = docs.filter(col("doc_id") < 400)
      val batch  = docs.filter(col("doc_id") >= 400)
      Dedup.cdcIncremental(
        batch, Dedup.cdcChunkTable(corpus, "doc_id", "text"), "doc_id", "text")
    },
    Some(raw"""WITH $sqlCdcChunkCtes,
            |pc AS (SELECT doc_id, md5(chunk) AS ch,
            |    CAST(length(chunk) AS BIGINT) AS clen FROM ck),
            |corpus AS (SELECT DISTINCT ch FROM pc WHERE doc_id < 400),
            |batch AS (SELECT * FROM pc WHERE doc_id >= 400)
            |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
            |  CAST(sum(CASE WHEN c.ch IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new_chunks,
            |  CAST(sum(b.clen) AS BIGINT) AS bytes,
            |  CAST(sum(CASE WHEN c.ch IS NULL THEN b.clen ELSE 0 END) AS BIGINT) AS new_bytes
            |FROM batch b LEFT JOIN corpus c ON b.ch = c.ch GROUP BY 1""".stripMargin))

  private val ChunkSize   = 24
  private val ChunkStride = 16

  private val qChunkWindows = Q(
    "q_chunk_windows",
    "overlapping token-window chunking: RAG/pretraining sequence prep, zero-shuffle generator",
    (s, d) =>
      // every token covered, consecutive chunks overlap by size−stride,
      // trailing chunk runs short instead of dropping tokens; pure
      // map-side explode+slice — no shuffle at any corpus size
      graft.operators.Sharding.chunkWindows(
        t(s, d).documents, "doc_id", "text", ChunkSize, ChunkStride),
    Some(
      raw"""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           |  FROM documents WHERE length(trim(text)) > 0),
           |c AS (SELECT doc_id, toks, unnest(generate_series(0,
           |    (greatest(len(toks) - $ChunkSize, 0) + ${ChunkStride - 1})
           |      // $ChunkStride)) AS chunk_id
           |  FROM tk)
           |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           |  CAST(chunk_id * $ChunkStride + 1 AS BIGINT) AS chunk_start,
           |  CAST(len(list_slice(toks, chunk_id * $ChunkStride + 1,
           |    chunk_id * $ChunkStride + $ChunkSize)) AS BIGINT) AS n_tokens,
           |  array_to_string(list_slice(toks, chunk_id * $ChunkStride + 1,
           |    chunk_id * $ChunkStride + $ChunkSize), ' ') AS chunk
           |FROM c""".stripMargin))

  private val AuditPhrases = Seq(
    "table table", "fast table value", "spark", "agg join small",
    "scan slow fast", "no such phrase here")

  /** The `(phrase, ti, term, plen)` VALUES rows of a phrase oracle —
    * shared by the phrase queries so the escaping and tokenization of
    * the SQL phrase table cannot drift between them. Deduplicated first,
    * mirroring `Curation.phraseTerms`: a phrase is a set member
    * semantically, and a repeated phrase would double every candidate
    * start's votes on the oracle side only — a hash mismatch that would
    * read as an engine bug.
    */
  private def phraseValuesSql(phrases: Seq[String]): String =
    phrases.distinct.flatMap { p =>
      val ts = p.trim.split("\\s+").toSeq
      ts.zipWithIndex.map { case (t2, i) =>
        s"('${p.replace("'", "''")}', CAST($i AS BIGINT), " +
          s"'${t2.replace("'", "''")}', ${ts.size})"
      }
    }.mkString(",\n|    ")

  /** The phrase-count oracle over the documents that `docs` (a
    * `FROM documents …` clause) selects: every candidate start a
    * phrase term votes for, counted when all its terms vote. One chain
    * for the transient, served and streamed-store phrase queries.
    */
  private def sqlPhraseCounts(phrases: Seq[String], docs: String): String = {
    val ph = phraseValuesSql(phrases)
    raw"""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
         |  $docs),
         |po AS (SELECT doc_id, CAST(g.i AS BIGINT) AS pos, toks[g.i] AS term
         |  FROM tk CROSS JOIN LATERAL
         |    (SELECT unnest(generate_series(1, len(toks))) AS i) g),
         |ph(phrase, ti, term, plen) AS (VALUES
         |    $ph),
         |m AS (SELECT ph.phrase, ph.plen, po.doc_id, po.pos - ph.ti AS start,
         |    count(*) AS votes
         |  FROM po JOIN ph ON po.term = ph.term
         |  GROUP BY 1, 2, 3, 4)
         |SELECT phrase, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occurrences
         |FROM m WHERE votes = plen AND start >= 1
         |GROUP BY 1""".stripMargin
  }

  private val qPhraseMatch = Q(
    "q_phrase_match",
    "positional inverted index + exact multi-token phrase occurrence counts (decontamination probe)",
    (s, d) =>
      // GPT-3-style exact-quote audit: postings built in ONE corpus
      // scan, each phrase term votes for its candidate start, a start
      // with all votes is an occurrence — only phrase-term postings
      // ever shuffle, keyed by (phrase, doc, start)
      graft.functions.Curation.phraseMatches(
        t(s, d).documents, "doc_id", "text", AuditPhrases),
    Some(sqlPhraseCounts(AuditPhrases,
      "FROM documents WHERE length(trim(text)) > 0")))

  /** Snapshot bound for [[qPhraseServed]]: postings are persisted for
    * docs below this id (the indexed corpus snapshot) and probes are
    * answered from the store alone — the oracle mirrors the snapshot as
    * a doc_id filter, so a plan that silently rescanned the full corpus
    * would hash-mismatch.
    */
  private val PhraseSnapDoc = 400L

  private val ServedPhrases = Seq(
    "table table", "customer line", "spark", "value table part", "query big")

  private val qPhraseServed = Q(
    "q_phrase_served",
    "phrase probe served from a PERSISTED term-bucket-partitioned posting store: directory pruning, corpus text never touched",
    (s, d) => {
      val dir = graft.functions.Stores.scratchDir(
        "graft_postings_", new java.io.File(d).getName)
      graft.functions.Curation.writePhrasePostings(
        graft.functions.Curation.phrasePostings(
          t(s, d).documents.filter(col("doc_id") < PhraseSnapDoc),
          "doc_id", "text"), dir)
      graft.functions.Curation.phraseMatchesStore(s, dir, ServedPhrases)
    },
    Some(sqlPhraseCounts(ServedPhrases, s"""FROM documents
      |  WHERE doc_id < $PhraseSnapDoc AND length(trim(text)) > 0""".stripMargin)))

  /** [[qPhraseStore]]'s two-ingest-batch split: docs below the boundary
    * are "batch 0", the rest up to the snapshot are "batch 1" — the
    * streamed `batch=N/tb=K` layout
    * [[graft.streaming.Pipelines.phraseAuditIngest]] maintains. The
    * oracle mirrors the snapshot as a doc_id filter, so a probe that
    * missed a batch directory (or rescanned corpus text) hash-mismatches.
    */
  private val StoreBatchBoundary = 300L
  private val StoreSnapDoc       = 600L

  private val StorePhrases = Seq(
    "table table", "spark", "scan slow fast", "customer line", "no hits zz")

  private val qPhraseStore = Q(
    "q_phrase_store",
    "phrase probe over a STREAMED multi-batch posting store: batch=/tb= layout, atomic per-batch publication, directory pruning spans every batch",
    (s, d) => {
      val dir = graft.functions.Stores.scratchDir(
        "graft_pstore_", new java.io.File(d).getName)
      val batches = publishPostingBatches(s, d, dir)
      // a replayed batch is a no-op: its committed directory is kept
      require(!publishPostingBatch(s, dir, 0, batches.head),
        "q_phrase_store: a replayed batch 0 was published again")
      Curation.phraseMatchesStore(s, dir, StorePhrases)
    },
    Some(phraseStoreOracle))

  private val qPhraseCompact = Q(
    "q_phrase_compact",
    "posting-store compaction: batch=/tb= layers collapsed to one (small-file fix), probe answers unchanged",
    (s, d) => {
      // fresh fixture store per invocation (compaction MUTATES the
      // store, so sharing q_phrase_store's dir would double postings on
      // a re-run): build two ingest batches, collapse them to one
      // atomically-published layer, probe the compacted store.
      // Swept at JVM exit (scratch registry).
      val dir = graft.functions.Stores.scratchDir(
        "graft_pcomp_", new java.io.File(d).getName)
      publishPostingBatches(s, d, dir)
      Curation.compactPostingStore(s, dir)
      Curation.phraseMatchesStore(s, dir, StorePhrases)
    },
    Some(phraseStoreOracle))

  /** Publish one ingest batch's postings into the streamed store at
    * `dir` exactly the way phraseAuditIngest publishes them: written
    * beside the store, renamed in atomically, never rewritten once
    * present (`false` for an already-published id).
    */
  private def publishPostingBatch(
      s: SparkSession, dir: String, batch: Long, docs: DataFrame): Boolean =
    graft.functions.Stores.publishBatch(s, dir, batch)(
      Curation.writePostingsRaw(Curation.phrasePostings(docs, "doc_id", "text"), _))

  /** Publish the two ingest batches of [[qPhraseStore]]'s split into
    * `dir`; returns the batches' documents in id order.
    */
  private def publishPostingBatches(
      s: SparkSession, d: String, dir: String): Seq[DataFrame] = {
    val docs = t(s, d).documents
    val batches = Seq(
      docs.filter(col("doc_id") < StoreBatchBoundary),
      docs.filter(col("doc_id") >= StoreBatchBoundary && col("doc_id") < StoreSnapDoc))
    batches.zipWithIndex.foreach { case (b, i) => publishPostingBatch(s, dir, i.toLong, b) }
    batches
  }

  /** One oracle, two store layouts: the multi-batch probe
    * (q_phrase_store) and the compacted store's probe (q_phrase_compact)
    * must hash-match the same flat phrase count over the snapshot.
    */
  private lazy val phraseStoreOracle: String =
    sqlPhraseCounts(StorePhrases, s"""FROM documents
      |  WHERE doc_id < $StoreSnapDoc AND length(trim(text)) > 0""".stripMargin)

  /** Full catalog. */
  val all: Seq[Q] = Seq(
    qParseProject, qSentimentWindow, qReviewBomb, qGenreCount, qPlayerWindow,
    qRegexClean, qHtmlUnescape, qReaggTopk, qFmtProject, qCondLabel, qFilterCount,
    qArgmaxLatest, qUnionSummary, qPricing, qJoinBroadcast, qJoinSemiAnti,
    qDistinctAgg, qWindowRank, qRollup, qDedupExact, qDedupJaccard,
    qDedupMinhash, qMinhashEst, qDedupSimhash, qSetsimPrefix, qKnnCosine, qMmrRerank,
    qMmrBatched,
    qEmbedNearDup, qNearDupBanded,
    qTextQuality,
    qLangProfile, qMediaStats, qMediaDecode, qMediaFrames, qKnnIvf,
    qRetention, qRollingFp, qSkewSalted, qSlidingWindow, qSessionWindow,
    qAsofJoin, qAsofJoinExec, qPivot, qSetOps, qRangeJoin, qRangeJoinAuto, qHeavyHitters, qCube,
    qGroupingSets, qQuantileSketch,
    qSampleSplit, qSampleStratified, qSampleWeighted, qPackBudget, qLengthBatch,
    qLengthBatchSharded,
    qEmbedCentroid, qProfile,
    qWindowFuncs, qEditDistance, qEditCapped, qVariance, qTokenBudget, qMedian,
    qCorrelation, qMediaAnn, qLshSrp,
    qSubstrDedup, qSubstrCapped, qSubstrWinnow, qDupClusters, qDupCanonical,
    qContainment,
    qContamination, qEmbedContamination, qTfidfTopk, qPiiRedact,
    qRepetition, qGopherQuality, qBloomDedup, qDomainMix, qIncrementalDedup,
    qVocabCoverage, qEmbedQuantize, qLengthTrim, qCorpusReport, qDedupPipeline,
    qMinhashCluster,
    qBoilerplate, qVocabGrowth, qFertility, qUnicodeNfc,
    qKmvDistinct, qHllDistinct, qBlocklistFilter, qCurriculum, qSemanticDedup,
    qSemanticPrefilter, qSemanticIncr, qClusterBalance,
    qZorderLayout,
    qCmsFreq, qWinnowFp, qSnapshotCdc, qLmSurprisal,
    qWinnowCandidates, qPmiColloc, qTextrank, qSuffixArray, qSuffixLcp, qScd2History, qSpanScrub, qKmvOverlap,
    qKmvOverlapSketch, qBandSweep, qDedupOrder, qShardAssign, qGlobalShuffle,
    qDsirWeight, qDsirSelect, qDrift, qSourceJsd, qSourceJsdRef,
    qBpePairs, qBpeTrain, qBpeTokenize, qPqEncode, qPqAnn, qIvfPqAnn, qIvfPqIndexed, qIvfPqSweep,
    qIvfPqRerank, qIvfPqResidual,
    qBm25Topk, qBm25Indexed, qBm25Stream, qBm25Compact, qHybridRrf, qRbo, qSplitLeakfree, qDomainMixAlpha, qNbClassify, qNbShuffle, qKnSurprisal, qDedupEval, qBcubed, qAuc, qPrCurve, qJlProject,
    qMaxmatchTokenize, qUnigramTokenize, qUnigramRefit, qCdcDedup, qCdcIncremental,
    qChunkWindows, qPhraseMatch, qPhraseServed, qPhraseStore, qPhraseCompact,
    qDupSpans, qDupScrub)
}

package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.expressions.NativeExpressions

/** Corpus-level quality filtering for LLM training data: the repetition
  * signals and heuristic document filters of Rae et al., "Scaling
  * Language Models: Methods, Analysis & Insights from Training Gopher"
  * (2021, appendix A1) — the step between raw crawled text and the
  * dedup/mixing stages ([[Dedup]], [[Clustering]]).
  *
  * Reference scope: the reference pipeline's only text hygiene is
  * ingest-time HTML cleaning (producers/steam_utils.py:38-42); repetition
  * and quality filtering are part of the training-data extension surface.
  *
  * All ratios are reported in integer BASIS POINTS (value·10000, floor
  * division) — exact integer arithmetic that hash-compares bit-identically
  * across engines, where a double ratio would be at the mercy of each
  * engine's float formatting.
  */
object Quality {

  import TextFunctions.{tokens, Stopwords}

  /** floor(num·10000 / den) as a long, 0 when the denominator is 0.
    * Operands are small exact integers (≪ 2^53), so the double division
    * floors identically to integer division.
    */
  private def bp(num: Column, den: Column): Column =
    when(den > 0, floor(num.cast("double") * 10000.0 / den).cast("long"))
      .otherwise(lit(0L))

  /** Per-document repetition profile (Gopher A1.1's repetition family,
    * token-based):
    *
    *  - `dup_word_bp` — fraction of tokens that are repeats of an
    *    earlier token (1 − distinct/total)
    *  - `top_word` / `top_word_bp` — the most frequent token and its
    *    share of all tokens
    *  - `top_bigram` / `top_bigram_char_bp` — the most frequent token
    *    bigram and the fraction of document CHARACTERS its occurrences
    *    cover (occurrences × bigram length / doc length)
    *  - `dup_5gram_bp` — fraction of 5-gram shingles that are repeats
    *
    * Most-frequent ties break to the lexicographically largest gram (the
    * `max(struct(count, gram))` order) — deterministic on any engine.
    *
    * Scale shape: three explode→two-level-aggregate branches, each with
    * map-side partial aggregation (`max`/`count` are algebraic; no window
    * functions), joined back on the document id. Gram rows never carry
    * the document text — only (id, gram) pairs move in the shuffles.
    */
  def repetitionProfile(df: DataFrame, id: String, text: String): DataFrame = {
    val base = df
      .select(
        col(id),
        tokens(col(text)).as("toks"),
        length(col(text)).cast("long").as("n_chars"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))

    val words = base
      .select(col(id), explode(col("toks")).as("g"))
      .groupBy(col(id), col("g"))
      .agg(count(lit(1)).as("cnt"))
    val wtop = words
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_distinct"),
        max(struct(col("cnt").as("c"), col("g").as("g"))).as("tw"))

    val btop = base
      .select(col(id),
        explode(NativeExpressions.shingles(col("toks"), 2, distinct = false)).as("g"))
      .groupBy(col(id), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(id))
      .agg(max(struct(col("cnt").as("c"), col("g").as("g"))).as("tb"))

    val g5 = base
      .select(col(id),
        explode(NativeExpressions.shingles(col("toks"), 5, distinct = false)).as("g"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("tot5"), countDistinct(col("g")).as("dst5"))

    base
      .join(wtop, Seq(id), "left")
      .join(btop, Seq(id), "left")
      .join(g5, Seq(id), "left")
      .select(
        col(id),
        col("n_tokens"),
        bp(col("n_tokens") - coalesce(col("n_distinct"), lit(0L)), col("n_tokens"))
          .as("dup_word_bp"),
        coalesce(col("tw.g"), lit("")).as("top_word"),
        bp(coalesce(col("tw.c"), lit(0L)), col("n_tokens")).as("top_word_bp"),
        coalesce(col("tb.g"), lit("")).as("top_bigram"),
        bp(coalesce(col("tb.c"), lit(0L)) * length(coalesce(col("tb.g"), lit(""))),
          col("n_chars")).as("top_bigram_char_bp"),
        bp(coalesce(col("tot5"), lit(0L)) - coalesce(col("dst5"), lit(0L)),
          coalesce(col("tot5"), lit(0L))).as("dup_5gram_bp"))
  }

  /** Gopher-style heuristic document filter (A1.1's quality family,
    * thresholds scaled to short synthetic documents): 20–1000 words,
    * mean word length 3–10 chars, ≥ 80% alphabetic tokens and ≥ 2
    * stopwords — the thresholds the catalog's oracle hard-codes too.
    * Emits the per-rule measurements, each rule's verdict, and the
    * conjunction — keeping the measurements in the output is what
    * makes threshold sweeps a filter-free re-aggregation instead of a
    * corpus re-scan.
    *
    * Pure per-row column algebra: zero shuffles, zero UDFs; everything
    * lives in one WholeStageCodegen projection over the scan.
    */
  def gopherQuality(
      df: DataFrame,
      id: String,
      text: String): DataFrame = {
    val tk = tokens(col(text))
    val base = df.select(
      col(id),
      size(tk).cast("long").as("n_words"),
      // Σ token length = length of the separator-free concatenation
      length(array_join(tk, "")).cast("long").as("sum_len"),
      size(filter(tk, t => t.rlike("^[a-z]+$"))).cast("long").as("n_alpha"),
      size(filter(tk, t => t.isin(Stopwords.map(lit): _*))).cast("long").as("n_stop"))
    base
      .withColumn("mean_word_len_bp", bp(col("sum_len"), col("n_words")))
      .withColumn("alpha_bp", bp(col("n_alpha"), col("n_words")))
      .withColumn("ok_words",
        col("n_words") >= 20 && col("n_words") <= 1000)
      .withColumn("ok_word_len",
        col("mean_word_len_bp") >= 30000L && col("mean_word_len_bp") <= 100000L)
      .withColumn("ok_alpha", col("alpha_bp") >= 8000L)
      .withColumn("ok_stop", col("n_stop") >= 2)
      .withColumn("passes",
        col("ok_words") && col("ok_word_len") && col("ok_alpha") && col("ok_stop"))
      .drop("sum_len", "n_alpha")
  }

  /** Kneser–Ney bigram LM surprisal per document — the CCNet/KenLM
    * perplexity-filter signal (Wenzek et al. LREC'20 §3.3), one n-gram
    * order up from the unigram `q_lm_surprisal`.
    *
    * Interpolated KN with absolute discount d = 3/4 (Chen & Goodman
    * 1999 eq. 15), scored in-sample so every scored bigram has
    * c(vw) ≥ 1 and the max(·,0) and unseen branches vanish:
    *
    *   P(w|v) = (c(vw) − d)/c(v) + d·N₁₊(v·)/c(v) · N₁₊(·w)/N₁₊(··)
    *          = [(4·c(vw) − 3)·N₁₊(··) + 3·N₁₊(v·)·N₁₊(·w)]
    *            / [4·c(v)·N₁₊(··)]
    *
    * — an exact int64 rational (d = 3/4 multiplies through), so the
    * only float ops are the one division and one log2, both confined
    * to the MODEL: each bigram type's surprisal is rounded to int64
    * micro-bits exactly once (O(bigram types) roundings, vocab- not
    * corpus-scale), and per-doc scoring is a pure integer sum —
    * bit-identical cross-engine like [[Curation.nbConfusion]]'s argmax.
    *
    * Scale shape: bigrams are a map-side array transform (no
    * positional self-join); counts are two keyed aggregations; the
    * model joins back on (v, w) — broadcast at bounded vocab,
    * shuffle-join at web vocab (the int64 rational needs headroom:
    * 4·c(v)·N₁₊(··) must stay < 2^63 — restate in log-space doubles
    * past ~10^9 contexts).
    *
    * Output: (idCol, n_bigrams, avg_kn_cb) — mean bigram surprisal in
    * integer centibits, floor division; docs with < 2 tokens carry no
    * bigram and are excluded.
    */
  def knBigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS v, toks[i+1] AS w))")).as("b"))
      .select(col(idCol), col("b.v").as("v"), col("b.w").as("w"))
    val cvw = bg.groupBy(col("v"), col("w")).agg(count(lit(1)).as("cvw"))
    val cv  = cvw.groupBy(col("v"))
      .agg(sum(col("cvw")).as("cv"), count(lit(1)).as("n1v"))
    val n1w = cvw.groupBy(col("w")).agg(count(lit(1)).as("n1w"))
    val nbt = cvw.agg(count(lit(1)).as("nbt"))
    val model = cvw.join(cv, "v").join(n1w, "w").crossJoin(broadcast(nbt))
      .withColumn("sc", expr(
        """CAST(round(-log2(
          |  CAST((4*cvw - 3)*nbt + 3*n1v*n1w AS DOUBLE)
          |  / CAST(4*cv*nbt AS DOUBLE)) * 1000000) AS BIGINT)""".stripMargin))
      .select(col("v"), col("w"), col("sc"))
    bg.join(model, Seq("v", "w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("sc")).as("sum_sc"))
      .withColumn("avg_kn_cb", expr("sum_sc DIV (n_bigrams * 10000)"))
      .select(col(idCol), col("n_bigrams"), col("avg_kn_cb"))
  }

  /** Exact ROC-AUC (Mann–Whitney U with midrank tie handling) of an
    * integer score against a boolean label — the classifier/filter
    * evaluation every curation pipeline needs before trusting a cheap
    * scorer as a gate (the threshold-free companion of the precision/
    * recall harness, `q_dedup_eval`).
    *
    * All arithmetic is exact int64, so the value hash-compares
    * bit-identically cross-engine: with the corpus collapsed to its
    * score HISTOGRAM (per score s ascending: row count `cnt`, positive
    * count `pos`, cumulative count-before `cb`), twice the positives'
    * midrank sum is `rs2 = Σ pos·(2·cb + cnt + 1)` and
    * `auc_bp = (10000·(rs2 − n_pos·(n_pos+1))) DIV (2·n_pos·n_neg)` —
    * ties contribute exactly ½ per the midrank convention, with no
    * floating-point division anywhere. Empty classes report −1 (AUC
    * undefined), never a divide-by-zero.
    *
    * Scale shape: ONE map-side-combined hash aggregate over the corpus
    * builds the histogram; the ordered cumulative window and the final
    * fold run over the HISTOGRAM only (bounded by the score domain, not
    * the corpus — the single-partition window is |distinct scores| rows).
    * The raw rows are never globally sorted. One row out:
    * (n_pos, n_neg, auc_bp).
    */
  /** Distribution-DRIFT report between a baseline and a current corpus
    * over an integer score — the monitoring step of a production data
    * pipeline (has this month's crawl shifted against the corpus the
    * filters were tuned on?). Per occupied score bucket `s`:
    * `(s, n_base, n_cur, lam_bits)` where `lam_bits =
    * ⌊log₂ p̂_cur(s)⌋ − ⌊log₂ p̂_base(s)⌋` under add-one-per-bucket
    * smoothing, computed as exact integer BIT LENGTHS (the
    * [[Dsir.lambdaTable]] trick — no float logs, both engines agree
    * bit-for-bit). `Σ n_cur·lam_bits / N_cur` is the KL-style drift in
    * whole bits per current doc; per-bucket rows localize WHERE the
    * shift sits.
    *
    * Scale shape: one map-combined histogram aggregate per side, a
    * full-outer join and windows over the joined HISTOGRAM only
    * (bounded by the score domain, never the corpus).
    */
  def scoreDrift(base: DataFrame, cur: DataFrame, score: Column): DataFrame =
    scoreDriftAgainstHist(
      base.select(score.cast("long").as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("n_base")),
      cur, score)

  /** [[scoreDrift]] against a PRE-COMPUTED baseline histogram
    * `(s, n_base)` — the streaming-monitor split
    * ([[graft.streaming.Pipelines.driftMonitorIngest]]): the baseline
    * is persisted once offline, each micro-batch brings only its own
    * histogram.
    */
  def scoreDriftAgainstHist(
      baseHist: DataFrame, cur: DataFrame, score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hc = cur.select(score.cast("long").as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("n_cur"))
    val joined = baseHist
      .join(hc, Seq("s"), "full_outer")
      .select(col("s"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    joined
      .withColumn("nb", sum(col("n_base")).over(wAll))
      .withColumn("nc", sum(col("n_cur")).over(wAll))
      .withColumn("bk", count(lit(1)).over(wAll))
      .select(col("s"), col("n_base"), col("n_cur"),
        ((length(expr("bin(n_cur + 1)")) - length(expr("bin(nc + bk)"))) -
          (length(expr("bin(n_base + 1)")) - length(expr("bin(nb + bk)"))))
          .cast("long").as("lam_bits"))
  }

  /** The full precision/recall curve of an integer score against a
    * boolean label — [[rocAuc]]'s threshold-sweep companion (AUC ranks
    * the scorer; this is what picks the GATE threshold a curation
    * pipeline actually deploys). One row per distinct score `thr`,
    * descending-cumulative over the score histogram: predicting
    * positive iff score ≥ thr gives (n_pred, tp, fp, precision_bp,
    * recall_bp) — exact integer arithmetic throughout.
    *
    * Scale shape: the same ONE map-side-combined histogram aggregate as
    * [[rocAuc]]; every window runs over the |distinct scores|-row
    * histogram, never the corpus. Output is histogram-sized.
    */
  def prCurve(df: DataFrame, score: Column, label: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df
      .select(score.cast("long").as("thr"),
        when(label, lit(1L)).otherwise(lit(0L)).as("y"))
      .groupBy(col("thr"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val wTop = Window.orderBy(col("thr").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn("tp", sum(col("pos")).over(wTop))
      .withColumn("n_pred", sum(col("cnt")).over(wTop))
      .withColumn("np", sum(col("pos")).over(wAll))
      .select(col("thr"), col("n_pred"), col("tp"),
        (col("n_pred") - col("tp")).as("fp"),
        expr("(tp * 10000) DIV n_pred").as("precision_bp"),
        when(col("np") > 0, expr("(tp * 10000) DIV np"))
          .otherwise(lit(-1L)).as("recall_bp"))
  }

  /** Default [[jsDivergenceBySource]] source-count bound: the pair
    * table is S², and every pair's per-type rows ride one shuffle — a
    * SOURCE here is a top-level corpus provenance (crawl, wiki, code,
    * books…), a dimension-sized set by construction.
    */
  val MaxJsSources: Int = 32

  /** Pairwise Jensen–Shannon divergence between the unigram
    * distributions of each corpus SOURCE — the corpus-comparison
    * measurement behind data-selection and mixing decisions ("how far
    * is this crawl from the reference domain?", Lin '91; the symmetric,
    * bounded cousin of [[scoreDrift]]'s KL-style monitor, over token
    * types instead of score buckets).
    *
    * Per source pair (a, b), over the UNION vocabulary V of the pair
    * with add-one smoothing: p = (c_a+1)/(N_a+|V|), q = (c_b+1)/(N_b+|V|),
    * and JSD = Σ_types ½(p·log₂(2p/(p+q)) + q·log₂(2q/(p+q))) — each
    * per-TYPE term is rounded to integer micro-bits exactly once (the
    * [[knBigramSurprisal]] contract: float ops confined to O(types)
    * model roundings, identical expression shape both engines), so the
    * per-pair sum is an order-independent exact integer. Identical
    * distributions give exactly 0 (log₂ 1 = 0 before rounding);
    * disjoint vocabularies approach the 10⁶-micro-bit maximum.
    *
    * Scale shape: one corpus scan builds (source, token, count); the
    * source list is collected (bounded by [[MaxJsSources]] — a limit+1
    * contract check, sources are a provenance dimension) and the pair
    * table built driver-side, so no theta join ever plans; per-pair
    * per-type rows come from ONE equi-join of the count table onto the
    * exploded pair-membership frame and ONE (pair, token) aggregation.
    * Output: (sa, sb, v_types, na, nb, jsd_mub), one row per unordered
    * pair.
    */
  def jsDivergenceBySource(
      docs: DataFrame,
      sourceCol: String,
      textCol: String): DataFrame = {
    val srcs = collectSources(docs, sourceCol)
    jsdOverPairs(docs, sourceCol, textCol,
      for { i <- srcs.indices; j <- (i + 1) until srcs.length }
        yield (srcs(i), srcs(j)))
  }

  /** [[jsDivergenceBySource]]'s PRODUCTION drift-monitoring shape: every
    * source compared against ONE named reference source — S−1 pairs
    * instead of the survey's S², so per-pair token volume (the real
    * cost: each pair re-keys its two sources' type rows) grows linearly
    * in the source count. Same smoothing, same exact micro-bit
    * contract, same output columns; `sa` is always `refSource`. The
    * all-pairs form stays for the one-off corpus survey; this is the
    * one to schedule.
    */
  def jsDivergenceAgainstRef(
      docs: DataFrame,
      sourceCol: String,
      textCol: String,
      refSource: String): DataFrame = {
    val srcs = collectSources(docs, sourceCol)
    require(srcs.contains(refSource),
      s"refSource '$refSource' is not among the input's sources: " +
        srcs.mkString("[", ", ", "]"))
    jsdOverPairs(docs, sourceCol, textCol,
      srcs.filterNot(_ == refSource).map(o => (refSource, o)))
  }

  /** The bounded source dimension both JSD entry points collect — a
    * column-pruned distinct over the source column ONLY (collecting
    * from the tokenization aggregate would run it a second time just to
    * read ≤ MaxJsSources names). Null sources are dropped explicitly
    * BEFORE the collect: a null provenance has no distribution to
    * compare (and would otherwise NPE the sort here while silently
    * vanishing from the pair table's inner joins).
    */
  private def collectSources(docs: DataFrame, sourceCol: String): Seq[String] = {
    val srcs = docs
      .select(col(sourceCol).cast("string").as("src"))
      .filter(col("src").isNotNull)
      .distinct()
      .limit(MaxJsSources + 1).collect().map(_.getString(0)).toSeq.sorted
    require(srcs.length <= MaxJsSources,
      s"jsDivergenceBySource bounds the source dimension at MaxJsSources=" +
        s"$MaxJsSources and the input exceeds it — sources are corpus " +
        "provenances, not a data-scale key; raise MaxJsSources deliberately")
    srcs
  }

  /** Shared JSD machinery over an explicit (sa, sb) pair list: one
    * corpus scan builds (source, token, count); the driver-side pair
    * table explodes into pair membership, so no theta join ever plans;
    * per-pair per-type rows come from ONE equi-join of the count table
    * onto the membership frame and ONE (pair, token) aggregation.
    */
  private def jsdOverPairs(
      docs: DataFrame,
      sourceCol: String,
      textCol: String,
      pairs: Seq[(String, String)]): DataFrame = {
    val cnt = docs
      .filter(col(sourceCol).isNotNull)
      .select(col(sourceCol).cast("string").as("src"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("src"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy(col("src")).agg(sum(col("c")).as("n"))
    val spark = docs.sparkSession
    import spark.implicits._
    val pairDf = pairs.toDF("sa", "sb")
    val byType = pairDf
      .select(col("sa"), col("sb"),
        explode(array(col("sa"), col("sb"))).as("src"))
      .join(cnt, "src")
      .groupBy(col("sa"), col("sb"), col("tok"))
      .agg(
        sum(when(col("src") === col("sa"), col("c")).otherwise(0L)).as("ca"),
        sum(when(col("src") === col("sb"), col("c")).otherwise(0L)).as("cb"))
    val v = byType.groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("v_types"))
    byType
      .join(broadcast(v), Seq("sa", "sb"))
      .join(broadcast(tot.select(col("src").as("sa"), col("n").as("na"))), "sa")
      .join(broadcast(tot.select(col("src").as("sb"), col("n").as("nb"))), "sb")
      .withColumn("p",
        (col("ca") + 1).cast("double") / (col("na") + col("v_types")).cast("double"))
      .withColumn("q",
        (col("cb") + 1).cast("double") / (col("nb") + col("v_types")).cast("double"))
      .withColumn("mb", expr(
        "CAST(round((p * log2(2*p/(p+q)) + q * log2(2*q/(p+q))) * 500000) AS BIGINT)"))
      .groupBy(col("sa"), col("sb"), col("v_types"), col("na"), col("nb"))
      .agg(sum(col("mb")).as("jsd_mub"))
  }

  /** B-cubed precision/recall/F1 of a predicted clustering against a
    * reference clustering (Bagga & Baldwin 1998; Amigó et al. 2009 show
    * it is the extrinsic clustering metric satisfying all four
    * cluster-evaluation constraints) — the CLUSTER-level companion of
    * the pair-level detector harness (`q_dedup_eval`/[[rocAuc]]): a
    * dedup pipeline deduplicates by CLUSTER (canonical doc per
    * component), so its quality question is "how close are the
    * components to the true duplicate groups", which pair precision/
    * recall over-penalizes on large cliques (C(k,2) pair weight) and
    * B-cubed weighs per document.
    *
    * Per doc d with predicted cluster C(d) and true cluster T(d):
    * P(d) = |C(d)∩T(d)|/|C(d)|, R(d) = |C(d)∩T(d)|/|T(d)|; the report
    * averages over docs. Exact integer basis points throughout (per-doc
    * floor-division bp, then a floor-division mean — deterministic and
    * mirrorable, the [[rocAuc]] convention); F1 is the harmonic mean of
    * the two bp means, 0 when both are 0. One row:
    * (n_docs, bcubed_p_bp, bcubed_r_bp, bcubed_f1_bp).
    *
    * Inputs are (doc_id, cluster_id) assignment tables — compose with
    * [[graft.functions.Clustering.clustersOf]] over any candidate
    * generator for `pred` and over exact-verified pairs for `truth`.
    * Docs missing from either side are dropped (inner join): the metric
    * compares clusterings of the same universe.
    *
    * Scale shape: everything is keyed joins/aggregations on narrow
    * (doc, cluster-id) rows — cluster sizes and intersection sizes are
    * map-side-combined counts; no window over raw docs, no text in any
    * shuffle. Output is one row.
    */
  def bcubed(
      pred: DataFrame,
      truth: DataFrame): DataFrame = {
    val a = pred.select(col("doc_id").as("_d"), col("cluster_id").as("ca"))
    val b = truth.select(col("doc_id").as("_d"), col("cluster_id").as("cb"))
    val j = a.join(b, "_d")
    val szA   = j.groupBy(col("ca")).agg(count(lit(1)).as("na"))
    val szB   = j.groupBy(col("cb")).agg(count(lit(1)).as("nb"))
    val inter = j.groupBy(col("ca"), col("cb")).agg(count(lit(1)).as("ni"))
    j.join(inter, Seq("ca", "cb"))
      .join(szA, Seq("ca"))
      .join(szB, Seq("cb"))
      .select(
        expr("(ni * 10000) DIV na").as("p_bp"),
        expr("(ni * 10000) DIV nb").as("r_bp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("p_bp")).as("sp"), sum(col("r_bp")).as("sr"))
      .select(col("n_docs"),
        expr("sp DIV n_docs").as("bcubed_p_bp"),
        expr("sr DIV n_docs").as("bcubed_r_bp"))
      .withColumn("bcubed_f1_bp", expr(
        """CASE WHEN bcubed_p_bp + bcubed_r_bp > 0
          |  THEN (2 * bcubed_p_bp * bcubed_r_bp) DIV (bcubed_p_bp + bcubed_r_bp)
          |  ELSE 0 END""".stripMargin))
  }

  def rocAuc(df: DataFrame, score: Column, label: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df
      .select(score.cast("long").as("s"),
        when(label, lit(1L)).otherwise(lit(0L)).as("y"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val byScore = Window.orderBy(col("s"))
    hist
      .withColumn("cb", coalesce(
        sum(col("cnt")).over(byScore.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .agg(
        sum(col("pos")).as("np"),
        sum(col("cnt") - col("pos")).as("nn"),
        sum(col("pos") * (lit(2L) * col("cb") + col("cnt") + lit(1L))).as("rs2"))
      .select(
        coalesce(col("np"), lit(0L)).as("n_pos"),
        coalesce(col("nn"), lit(0L)).as("n_neg"),
        when(col("np") > 0 && col("nn") > 0,
          // the histogram sums stay exact in int64 to ~2·10⁹ eval rows;
          // only the ×10000 scaling could overflow, so that one scalar
          // step runs in DECIMAL(38,0) (IntegralDivide on decimals is
          // exact and returns LONG)
          expr("(CAST(10000 AS DECIMAL(38,0)) * (rs2 - np * (np + 1))) DIV " +
            "(CAST(2 AS DECIMAL(38,0)) * np * nn)"))
          .otherwise(lit(-1L)).as("auc_bp"))
  }
}

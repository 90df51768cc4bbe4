package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators on top of the dedup/mixing stages: BM25
  * retrieval scoring, dedup-aware (leakage-free) dataset splitting, and
  * α-temperature domain mixing.
  *
  * Reference scope: the reference pipeline stops at ingest + serving
  * aggregates (k8s/spark-apps/kafka-spark-configmap.yaml); these are part
  * of the training-data extension surface (SURVEY.md §2, LLM-pipeline
  * rows) — the selection steps between a deduplicated corpus and a
  * training mixture.
  *
  * Cross-engine determinism contract (shared with [[graft.Queries]]):
  * integer arithmetic wherever exactness matters, md5 for content
  * hashing, and — where a float is unavoidable — only operations whose
  * IEEE-754 result is identical on every engine (one division, one
  * `sqrt`, one `ln`, one multiply, then an immediate fixed-point round).
  */
object Curation {

  /** First md5 byte of `salt || key` as an int in [0, 256) — the
    * deterministic acceptance coin used by every sampling operator in
    * the catalog (reproducible on any engine, stable under corpus
    * growth: a row's fate never changes when its neighbors do).
    */
  def md5Byte(salt: String, key: Column): Column = {
    val h  = md5(concat(lit(salt), key))
    val hi = ascii(substring(h, 1, 1))
    val lo = ascii(substring(h, 2, 1))
    (when(hi <= 57, hi - 48).otherwise(hi - 87) * 16 +
      when(lo <= 57, lo - 48).otherwise(lo - 87))
  }

  // ─────────────────────────────────────────────────────────────────
  // BM25 retrieval scoring
  // ─────────────────────────────────────────────────────────────────

  /** Okapi BM25 retrieval, k1 = 1.2, b = 0.75, Lucene's non-negative
    * idf ln(1 + (N−df+0.5)/(df+0.5)). Split index/search below;
    * [[bm25TopK]] is the one-plan composition.
    *
    * Exactness (shared by every entry point): with k1 = 6/5 and b =
    * 3/4, multiplying the tf
    * saturation term through by 20·T (T = corpus token count, N = doc
    * count, dl = doc length, avgdl = T/N) gives an exact int64
    * rational:
    *
    *     tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *   = 44·T·tf / (20·T·tf + 6·T + 18·dl·N)
    *
    * and Lucene's idf collapses to ln((2N+2)/(2df+1)). The only float
    * ops are one division each, one ln, one multiply — then each
    * per-term contribution is rounded to int64 ten-thousandths BEFORE
    * the per-doc sum, so the doc score is an order-independent integer
    * sum (a float sum would be at the mercy of Spark's partial-agg
    * order).
    *
    * Output: (idCol, score_sc) — score in ten-thousandths — ordered by
    * (score desc, id) with a total-order tie-break, limited to k.
    */
  /** BM25 corpus statistics — the persistable index half: `df` is the
    * ALL-token document-frequency table (vocab-scale), `tot` the one-row
    * (n_docs, t_toks) totals. Production builds this once per corpus
    * snapshot ([[writeBm25Index]], the [[NbModel]] idiom) and serves
    * every query from the store ([[readBm25Store]]); [[bm25TopK]]
    * composes build + search in one plan as the self-contained demo.
    */
  final case class Bm25Index(df: DataFrame, tot: DataFrame)

  def bm25Index(docs: DataFrame, idCol: String, textCol: String): Bm25Index = {
    val toks = docs.select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val df = toks.distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val tot = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_toks"))
    Bm25Index(df, tot)
  }

  /** (Re)build the BM25 store at `dir` from one corpus snapshot: the
    * whole store is replaced ([[Stores.publishReplace]]) by a single
    * base layer `batch=-1` — the layout [[writeBm25Batch]] appends to
    * and [[readBm25Store]] serves, so a rebuild also drops every
    * streamed layer of the previous snapshot. A search racing the
    * rebuild reads the old store or the new one, never the new `df`
    * with the old `tot` (StoresSpec).
    */
  def writeBm25Index(ix: Bm25Index, dir: String): Unit =
    Stores.publishReplace(ix.df.sparkSession, dir)(
      tmp => writeBm25Layer(ix, Stores.batchDir(tmp, -1)))

  /** The one layer write of every BM25 store: `df/` and `tot/` side by
    * side in the layer directory `layer` (inside a publish's temp).
    */
  private def writeBm25Layer(ix: Bm25Index, layer: String): Unit = {
    ix.df.write.mode("overwrite").parquet(s"$layer/df")
    ix.tot.write.mode("overwrite").parquet(s"$layer/tot")
  }

  /** Search half: ONE corpus scan computes each doc's length and its
    * query-term tfs in the same per-doc aggregate (conditional sums,
    * unpivoted map-side by `stack`); df rows for the query terms and
    * the totals broadcast from the index. Scoring touches only docs
    * containing a query term.
    */
  def bm25Search(
      docs: DataFrame,
      ix: Bm25Index,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int): DataFrame = {
    val toks = docs.select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("tok"))
    // indexed per-term columns (tf_0, tf_1, …): terms are corpus tokens
    // and may carry characters illegal in a column name
    val tfCols = terms.indices.map(i =>
      sum(when(col("tok") === terms(i), 1L).otherwise(0L)).as(s"tf_$i"))
    val perDoc = toks.groupBy(col(idCol))
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    val stackArgs = terms.indices
      .map(i => s"'${terms(i).replace("'", "''")}', tf_$i").mkString(", ")
    val tf = perDoc
      .select(col(idCol), col("dl"),
        expr(s"stack(${terms.size}, $stackArgs) AS (tok, tf)"))
      .filter(col("tf") > 0)
    tf.join(broadcast(ix.df.filter(col("tok").isin(terms: _*))), "tok")
      .crossJoin(broadcast(ix.tot))
      .withColumn("contrib", expr(
        """CAST(round(
          |  ln(CAST(2*n_docs + 2 AS DOUBLE) / CAST(2*df + 1 AS DOUBLE))
          |  * (CAST(44*t_toks*tf AS DOUBLE)
          |     / CAST(20*t_toks*tf + 6*t_toks + 18*dl*n_docs AS DOUBLE))
          |  * 10000) AS BIGINT)""".stripMargin))
      .groupBy(col(idCol))
      .agg(sum(col("contrib")).as("score_sc"))
      .orderBy(col("score_sc").desc, col(idCol))
      .limit(k)
  }

  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int): DataFrame =
    bm25Search(docs, bm25Index(docs, idCol, textCol), idCol, textCol, terms, k)

  /** Publish one corpus batch's BM25 statistics as an ADDITIVE layer of
    * a streaming index store: ONE batch directory holding both the
    * batch's `df/` (tok, df over the batch's docs) and `tot/` (one row
    * of batch n_docs/t_toks), published in a SINGLE
    * [[Stores.publishBatch]] rename — a replayed batch is a no-op, and a
    * racing reader sees df AND totals together or neither (two separate
    * publishes would open a window where df includes a batch whose
    * totals don't, skewing every idf/avgdl until the second rename).
    * df and totals are pure sums, so layers ADD: the served index is
    * the column-wise sum over layers ([[readBm25Store]]), equal by
    * algebra to the index built on the batches' union. Contract:
    * batches carry NEW documents only (the accepted output of a dedup
    * ingest) — a re-sent document would double-count, exactly as it
    * would in any additive aggregate.
    */
  def writeBm25Batch(ix: Bm25Index, dir: String, batchId: Long): Unit = {
    Stores.publishBatch(ix.df.sparkSession, dir, batchId)(writeBm25Layer(ix, _))
    ()
  }

  /** Serve a [[Bm25Index]] from a layered store written by
    * [[writeBm25Index]] and [[writeBm25Batch]]: df layers sum per
    * token, totals layers sum to one row (both read from the committed
    * batch directories, [[Stores.batchIds]]). Both reads are vocab- (not corpus-) scale;
    * the fold is a keyed aggregation a search plan then broadcasts, same
    * as the monolithic index.
    */
  def readBm25Store(
      spark: org.apache.spark.sql.SparkSession, dir: String): Bm25Index = {
    // concrete layer dirs, not a glob string: resolveRelation probes the
    // LITERAL path for a streaming-sink metadata dir
    // (FileStreamSink.hasMetadata), and a glob never exists as a literal
    // path, so every read logged a FileNotFoundException WARN stack
    val batches = Stores.batchIds(spark, dir).map(Stores.batchDir(dir, _))
    require(batches.nonEmpty, s"no committed batch layer under $dir")
    Bm25Index(
      spark.read.parquet(batches.map(_ + "/df"): _*)
        .groupBy(col("tok")).agg(sum(col("df")).as("df")),
      spark.read.parquet(batches.map(_ + "/tot"): _*)
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("t_toks")).as("t_toks")))
  }

  /** Compact a layered BM25 store ([[writeBm25Batch]]'s `batch=N/{df,tot}`
    * layout) to ONE layer — the small-file fix every other streamed
    * store already has ([[compactPostingStore]],
    * [[Dedup.compactDedupIndex]], the IVF-PQ index): each trigger adds
    * a df + tot layer, and [[readBm25Store]]'s serving fold sums across
    * ALL of them forever, so both file count and fold width grow
    * O(triggers). The fold is additive algebra (df and totals are pure
    * sums), so pre-folding the layers into the one kept layer is exact:
    * searches served before and after are bit-identical. Publication,
    * the kept id and the return value are [[Stores.foldAndSwap]]'s.
    * The folded layer is one `df` file and one `tot` file (coalesce —
    * the fold's agg output narrows without a shuffle).
    */
  def compactBm25Store(
      spark: org.apache.spark.sql.SparkSession, dir: String): (Long, Long, Long) =
    Stores.foldAndSwap(spark, dir) { (kept, tmp) =>
      val folded = readBm25Store(spark, dir)
      writeBm25Layer(Bm25Index(folded.df.coalesce(1), folded.tot.coalesce(1)),
        Stores.batchDir(tmp, kept))
    }

  // ─────────────────────────────────────────────────────────────────
  // Query-likelihood retrieval + reciprocal-rank fusion
  // ─────────────────────────────────────────────────────────────────

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    * SIGIR'01, eq. 6; μ defaults to their 2000) — the language-model
    * ranker beside [[bm25Search]]'s probabilistic one, and the second
    * arm every hybrid-retrieval stack fuses:
    *
    *   score(d|q) = Σ_{t∈q} ln( (tf_{t,d} + μ·cf_t/T) / (dl_d + μ) )
    *              = Σ_{t∈q} ln( (tf_{t,d}·T + μ·cf_t) / ((dl_d + μ)·T) )
    *
    * — the argument an exact int64 rational (μ integral multiplies
    * through), so the BM25 exactness contract holds verbatim: one
    * division and one ln per (doc, term), each contribution rounded to
    * int64 ten-thousandths BEFORE the per-doc sum. Terms the doc lacks
    * still contribute their background mass (tf = 0), which is what
    * separates QL from a coordination-level overlap score. Candidates
    * are docs matching ≥ 1 query term (the inverted-index regime —
    * every no-match doc would score the same query-independent
    * background constant).
    *
    * Scale shape: ONE corpus scan builds (doc, dl, per-term tf) as
    * conditional sums; corpus stats (cf per query term, total tokens)
    * fold from that same per-doc table with a second small aggregate
    * and broadcast. Scoring is a map-side projection over candidate
    * docs. Output: (idCol, score_sc) top-k, (score desc, id) total
    * order.
    */
  def qlDirichletTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int,
      mu: Int = 2000): DataFrame = {
    require(terms.nonEmpty, "qlDirichletTopK needs at least one query term")
    require(mu >= 1, s"mu must be >= 1 (mu = 0 makes ln(0) of a no-match term), got $mu")
    val toks = docs.select(
      col(idCol), explode(TextFunctions.tokens(col(textCol))).as("tok"))
    // terms are corpus tokens, so they can carry any non-whitespace
    // character — the per-term columns are indexed (tf_0, cf_0), never
    // named after the raw term
    val ti = terms.indices
    val tfCols = ti.map(i =>
      sum(when(col("tok") === terms(i), 1L).otherwise(0L)).as(s"tf_$i"))
    val perDoc = toks.groupBy(col(idCol))
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    val stats = perDoc.agg(
      sum(col("dl")).as("t_toks"),
      ti.map(i => sum(col(s"tf_$i")).as(s"cf_$i")): _*)
    val anyMatch = ti.map(i => col(s"tf_$i") > 0L).reduce(_ || _)
    // a query term ABSENT from the corpus (cf = 0) carries no background
    // mass — ln(0) would NULL-poison every score — and contributes 0,
    // exactly the oracle's inner-join-to-cf semantics
    val contribs = ti.map(i => expr(
      s"""CASE WHEN cf_$i > 0 THEN CAST(round(ln(
         |  CAST(tf_$i * t_toks + $mu * cf_$i AS DOUBLE)
         |  / CAST((dl + $mu) * t_toks AS DOUBLE)) * 10000) AS BIGINT)
         |ELSE CAST(0 AS BIGINT) END""".stripMargin))
    perDoc.filter(anyMatch)
      .crossJoin(broadcast(stats))
      .select(col(idCol), contribs.reduce(_ + _).as("score_sc"))
      .orderBy(col("score_sc").desc, col(idCol))
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher SIGIR'09) of
    * labeled (id, rank) lists: fused(d) = Σ_arms ⌊10⁶/(rrfK + rank)⌋,
    * summed over the arms that retrieved d — exact integer floor
    * division, so the fused score is order-independent and
    * hash-comparable (the float 1/(k+r) sum would not be). Emits each
    * arm's rank alongside (0 = not retrieved by that arm) so the fused
    * list is auditable. rrfK defaults to the paper's 60.
    *
    * Scale shape: arms are top-N lists (constant-size by construction),
    * so the union/aggregate is constant work per query regardless of
    * corpus size — the corpus-scale work lives in the rankers.
    */
  def rrfFuse(
      arms: Seq[(String, DataFrame)],
      idCol: String,
      k: Int,
      rrfK: Int = 60): DataFrame = {
    require(arms.nonEmpty, "rrfFuse needs at least one ranking arm")
    // arm names become column aliases (rank_<name>) — restrict them to
    // safe identifiers so a name with dots, spaces, or backticks can't
    // yield broken or ambiguous output columns (same hazard class as
    // raw query terms in column names, handled there by tf_$i indexing;
    // here the names are part of the auditable output contract)
    arms.foreach { case (name, _) =>
      require(name.matches("[A-Za-z0-9_]+"),
        s"rrfFuse arm name '$name' must match [A-Za-z0-9_]+ — it is " +
          "used as the rank_<name> output column alias")
    }
    require(arms.map(_._1).distinct.length == arms.length,
      "rrfFuse arm names must be distinct")
    val tagged = arms.map { case (name, r) =>
      r.select(col(idCol), col("rank").cast("long").as("rank"))
        .withColumn("arm", lit(name))
    }.reduce(_ unionByName _)
    val armRanks = arms.map { case (name, _) =>
      coalesce(max(when(col("arm") === name, col("rank"))), lit(0L))
        .as(s"rank_$name")
    }
    tagged.groupBy(col(idCol))
      .agg(sum(expr(s"1000000 DIV ($rrfK + rank)")).as("rrf_sc"), armRanks: _*)
      .orderBy(col("rrf_sc").desc, col(idCol))
      .limit(k)
  }

  /** Rank-biased-overlap weights in integer micro-units:
    * w(d) = (1−p)·p^(d−1)/d at p = 9/10, computed as the exact rational
    * 9^(d−1)/(10^d·d) in BigInt and rounded half-up to micro-units ONCE
    * — the model-rounding contract (no float `pow`, whose last ulp can
    * differ across engines). Shared by [[rboReport]] and the oracle
    * mirror, so the two sides cannot drift.
    */
  def rboWeightsMu(depth: Int): Seq[Long] =
    (1 to depth).map { d =>
      val num = BigInt(1000000) * BigInt(9).pow(d - 1)
      val den = BigInt(10).pow(d) * d
      ((2 * num + den) / (2 * den)).toLong
    }

  /** Rank-biased overlap (Webber, Moffat & Zobel TOIS'10) of two
    * (id, rank) lists, reported per depth — the ranking-agreement
    * diagnostic beside [[rrfFuse]] (how differently do the fused arms
    * actually rank?) and the rank-level fidelity audit for any
    * approximate ranker against its exact baseline. Per depth d ≤
    * `depth`: the prefix overlap |A₁..d ∩ B₁..d|, that depth's RBO term
    * `w(d)·overlap` in micro-units, and the cumulative lower-bound
    * RBO_min. Top-weightedness is the point: disagreement at rank 1
    * costs more than at rank 20 (a plain set-overlap can't see the
    * difference).
    *
    * Exact integers end to end: weights pre-rounded once
    * ([[rboWeightsMu]]), overlaps are counts, terms are products.
    *
    * Scale shape: both inputs are top-N lists (constant rows); one
    * equi-join on the id, a `greatest(rank_a, rank_b)` histogram, and
    * cumulative windows over `depth` rows. Constant work — the
    * corpus-scale cost lives in the rankers being compared.
    */
  def rboReport(
      armA: DataFrame,
      armB: DataFrame,
      idCol: String,
      depth: Int): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    val wArr = array(rboWeightsMu(depth).map(lit): _*)
    val m = armA.select(col(idCol), col("rank").cast("long").as("ra"))
      .join(armB.select(col(idCol), col("rank").cast("long").as("rb")), idCol)
      .select(greatest(col("ra"), col("rb")).as("m"))
      .filter(col("m") <= depth)
      .groupBy(col("m")).agg(count(lit(1)).as("cnt"))
    val spark = armA.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val depths = (1L to depth.toLong).toDF("d")
    val wCum = Window.orderBy(col("d")).rowsBetween(Window.unboundedPreceding, 0)
    depths
      .join(m, col("d") === col("m"), "left")
      .withColumn("overlap",
        sum(coalesce(col("cnt"), lit(0L))).over(wCum))
      .withColumn("term_mub",
        element_at(wArr, col("d").cast("int")) * col("overlap"))
      .withColumn("rbo_mub", sum(col("term_mub")).over(wCum))
      .select(col("d"), col("overlap"), col("term_mub"), col("rbo_mub"))
  }

  /** (id, rank) view of a scored list: rank = row_number over
    * (scoreCol desc, id) — the deterministic total order every ranker
    * in this module already emits. The window is over an
    * already-top-N-limited frame (constant rows), not the corpus.
    */
  def rankOf(scored: DataFrame, idCol: String, scoreCol: String): DataFrame =
    scored.select(col(idCol),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col(scoreCol).desc, col(idCol))).cast("long").as("rank"))

  /** Hybrid retrieval: BM25 ([[bm25TopK]]) and Dirichlet QL
    * ([[qlDirichletTopK]]) top-n arms fused by RRF ([[rrfFuse]]) — the
    * sparse-ensemble shape of a production retrieval stack (swap either
    * arm for an ANN ranker over an embedding column to get the
    * sparse+dense variant; RRF is ranker-agnostic, which is its point).
    */
  def hybridRrfTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      n: Int,
      k: Int,
      rrfK: Int = 60,
      mu: Int = 2000): DataFrame =
    rrfFuse(
      Seq(
        "bm25" -> rankOf(bm25TopK(docs, idCol, textCol, terms, n), idCol, "score_sc"),
        "ql" -> rankOf(
          qlDirichletTopK(docs, idCol, textCol, terms, n, mu), idCol, "score_sc")),
      idCol, k, rrfK)

  // ─────────────────────────────────────────────────────────────────
  // Positional inverted index + exact phrase matching
  // ─────────────────────────────────────────────────────────────────

  /** The positional inverted index as a table: one (term, doc_id, pos)
    * posting per token occurrence, `pos` the 1-based whitespace-token
    * position. One scan of the corpus, map-side generator — this is the
    * structure a decontamination or exact-quote audit PERSISTS
    * (partitioned by term hash) so that phrase probes never rescan
    * text.
    */
  def phrasePostings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        posexplode(TextFunctions.tokens(col(textCol))))
      .select(col("col").as("term"), col("doc_id"),
        (col("pos") + 1).cast("long").as("pos"))

  /** Exact multi-token phrase occurrences via the positional index —
    * the token-level counterpart of the Aho–Corasick substring
    * blocklist (q_blocklist_filter): GPT-3-style eval decontamination
    * and exact-quote audits ask "which documents contain this exact
    * token sequence", and answering it from postings touches only the
    * phrase's own terms, never the corpus text.
    *
    * Per phrase `w₀ … w_{m−1}`: a posting (wᵢ, doc, pos) votes for
    * candidate start `pos − i`; a start with all m votes is an
    * occurrence (each (doc, pos) contributes at most one vote per
    * phrase position, so the count is exact — repeated words inside a
    * phrase just vote for several starts). Output one row per phrase
    * with distinct containing docs and total (overlapping) occurrence
    * counts; phrases with no hits yield no row.
    *
    * Scale shape: the phrase table (Σ phrase lengths rows) broadcasts;
    * the only shuffle carries postings of TERMS THAT APPEAR IN SOME
    * PHRASE — the broadcast join drops everything else map-side — keyed
    * by (phrase, doc, start), so hot terms spread across documents
    * rather than hot-spotting one reducer. The two-level agg re-uses
    * the same clustering (doc_id is a prefix of the first grouping
    * key).
    */
  def phraseMatches(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      phrases: Seq[String]): DataFrame =
    matchVotes(phrasePostings(docs, idCol, textCol),
      phraseTerms(docs.sparkSession, phrases))

  /** The broadcast phrase-term table: one row per (phrase, position).
    * The phrase list is DEDUPLICATED first — a phrase is a set member
    * semantically, and a repeated phrase would double every candidate
    * start's vote count and silently fail the votes == plen filter.
    */
  private def phraseTerms(
      spark: org.apache.spark.sql.SparkSession,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "phrase matching needs at least one phrase")
    import spark.implicits._
    phrases.distinct.flatMap { p =>
      val ts = p.trim.split("\\s+").toSeq
      require(ts.nonEmpty && ts.head.nonEmpty, s"empty phrase: '$p'")
      ts.zipWithIndex.map { case (t2, i) => (p, i.toLong, t2, ts.size) }
    }.toDF("phrase", "ti", "term", "plen")
  }

  /** The vote pipeline shared by the in-plan and persisted-index
    * paths (semantics documented at [[phraseMatches]]).
    */
  private def matchVotes(postings: DataFrame, terms: DataFrame): DataFrame =
    postings
      .join(broadcast(terms), Seq("term"))
      .groupBy(col("phrase"), col("plen"), col("doc_id"),
        (col("pos") - col("ti")).as("start"))
      .agg(count(lit(1)).as("votes"))
      .filter(col("votes") === col("plen") && col("start") >= 1)
      .groupBy(col("phrase"))
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).cast("long").as("n_occurrences"))

  /** Term-hash bucket count of every posting store: 64 buckets keep
    * the layout's partition directory small while a typical probe (a
    * handful of phrases) touches only its own few buckets. One constant
    * for writer and reader — a probe planned with a different count
    * than the layer was written with would prune to the wrong
    * directories and answer zero hits.
    */
  private val PhrasePostingBuckets: Int = 64

  /** First 60 bits of md5(term) mod `buckets` — the persisted posting
    * store's partition key, computed identically by the Spark writer
    * column ([[termBucketCol]]) and this driver-side probe planner so
    * reads prune by DIRECTORY, before any file is opened. If the two
    * ever drifted, the probe would silently read the WRONG directory and
    * answer zero hits — a false "not contaminated" — so their parity is
    * property-spec-pinned over random multi-byte unicode terms
    * (CurationSpec), not just the ASCII vocab the served==in-plan spec
    * exercises.
    */
  private[graft] def termBucket(term: String, buckets: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Math.floorMod(
      java.lang.Long.parseLong(hex.substring(0, 15), 16), buckets.toLong)
  }

  /** The writer-side twin of [[termBucket]]: the same 60-bit md5 prefix
    * mod `buckets`, as a codegen'd column (Spark's `md5` hashes the
    * UTF-8 bytes, matching the driver side byte for byte).
    */
  private[graft] def termBucketCol(term: Column, buckets: Int): Column =
    pmod(conv(substring(md5(term), 1, 15), 16, 10).cast("long"), lit(buckets))

  /** (Re)build the posting store at `dir` from one corpus snapshot
    * ([[phrasePostings]] output): the decontamination index a pipeline
    * builds ONCE per snapshot and probes many times with
    * [[phraseMatchesStore]]. The whole store is replaced
    * ([[Stores.publishReplace]]) by a single base layer
    * `batch=-1/tb=K` — the layout the streaming ingest
    * ([[graft.streaming.Pipelines.phraseAuditIngest]]) appends to — so
    * a concurrent probe sees the old snapshot or the new one, never a
    * partial write.
    */
  def writePhrasePostings(postings: DataFrame, dir: String): Unit =
    Stores.publishReplace(postings.sparkSession, dir)(
      tmp => writePostingsRaw(postings, Stores.batchDir(tmp, -1)))

  /** Every posting store's columns: the layer's postings and the
    * `batch`/`tb` partition columns. Readers pass it explicitly because
    * a layer of zero postings (a partitioned write of no rows) holds no
    * parquet file to infer it from.
    */
  private val PostingStoreSchema = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    StructType(Seq(
      StructField("term", StringType), StructField("doc_id", LongType),
      StructField("pos", LongType), StructField("batch", LongType),
      StructField("tb", LongType)))
  }

  /** One posting layer, partitioned by the term-hash bucket, written to
    * `dir` unpublished — every caller aims it at a publish's temp
    * directory ([[writePhrasePostings]], [[compactPostingStore]], the
    * streaming ingest).
    */
  private[graft] def writePostingsRaw(postings: DataFrame, dir: String): Unit =
    postings
      .withColumn("tb", termBucketCol(col("term"), PhrasePostingBuckets))
      .write.mode("overwrite").partitionBy("tb").parquet(dir)

  /** [[phraseMatches]] served from a posting store — the
    * `batch=N/tb=K` layout [[writePhrasePostings]] builds and
    * [[graft.streaming.Pipelines.phraseAuditIngest]] appends to. The
    * scan is restricted to the probe terms' hash buckets
    * (directory-level partition pruning across every batch — the bucket
    * set is computed on the driver from the phrase list alone) and then
    * to the terms themselves (row-group pushdown), so the corpus text
    * is never touched and non-probed terms are never read. Batches
    * follow [[Stores]]' per-batch contract, so a probe running
    * concurrently with ingest sees each batch either complete or not
    * yet published, never partial. Contract, as for the CDC store:
    * batches carry NEW documents (a doc re-ingested in two batches
    * would double its postings — dedup is the exact-dedup stage's job,
    * upstream).
    *
    * A layer of zero postings answers zero hits (the explicit
    * [[PostingStoreSchema]]), and so does a store with no committed
    * batch yet (a probe before the first ingest batch commits).
    */
  def phraseMatchesStore(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      phrases: Seq[String]): DataFrame = {
    val terms = phraseTerms(spark, phrases)
    val termStrs = phrases.flatMap(_.trim.split("\\s+").toSeq).distinct
    val tbs = termStrs.map(termBucket(_, PhrasePostingBuckets)).distinct
    val store =
      if (Stores.batchIds(spark, storeDir).isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], PostingStoreSchema)
      else spark.read.schema(PostingStoreSchema).parquet(storeDir)
    matchVotes(
      store.filter(col("tb").isin(tbs: _*) && col("term").isin(termStrs: _*))
        .select(col("term"), col("doc_id"), col("pos")),
      terms)
  }

  /** Compact a posting store (the `batch=N/tb=K` layout): rewrite
    * every committed batch into ONE batch layer with
    * [[Stores.foldAndSwap]] (a concurrent probe sees the old store or
    * the compacted one, never a partial tree; kept id and return value
    * are its).
    *
    * Why: each trigger adds a directory of per-bucket files, so probe
    * cost grows with batch count (measured: 0.50 s at 10 batches →
    * 0.72 s at 50, PERF.md round 12) — the streaming small-file problem, same
    * as the cold archive's ([[graft.streaming.Sinks.compactArchive]]).
    * Compaction collapses O(batches × buckets) files to O(buckets) with
    * one shuffle-free partitioned rewrite; probe results are unchanged.
    * Replay of already-compacted batch ids stays a no-op only if the
    * checkpoint is retained.
    */
  def compactPostingStore(
      spark: org.apache.spark.sql.SparkSession, storeDir: String): (Long, Long, Long) =
    Stores.foldAndSwap(spark, storeDir) { (kept, tmp) =>
      writePostingsRaw(
        spark.read.schema(PostingStoreSchema).parquet(storeDir)
          .select(col("term"), col("doc_id"), col("pos")),
        Stores.batchDir(tmp, kept))
    }

  // ─────────────────────────────────────────────────────────────────
  // Dedup-aware (leakage-free) splitting
  // ─────────────────────────────────────────────────────────────────

  /** Train/val/test assignment keyed on the CONTENT group, not the row
    * id: every doc in an exact-dup group (md5 of text) gets the split
    * of its group, so a duplicate cluster can never straddle train and
    * test — the eval-leakage failure mode of id-hash splitting
    * (q_sample_split hashes the doc id and gives no such guarantee).
    *
    * Thresholds match q_sample_split: first md5 byte < 204 → train
    * (~80%), < 230 → val (~10%), else test. One row per input doc:
    * (idCol, grp, split).
    *
    * Scale shape: md5 is map-side; the group key never shuffles (split
    * is a pure function of the group hash), so this is a zero-shuffle
    * projection — the aggregation views over it decide what shuffles.
    */
  def leakFreeSplit(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val grp = md5(col(textCol))
    val b   = md5Byte("lfsplit:", grp)
    docs.select(
      col(idCol),
      grp.as("grp"),
      when(b < 204, "train").when(b < 230, "val").otherwise("test").as("split"))
  }

  // ─────────────────────────────────────────────────────────────────
  // α-temperature domain mixing
  // ─────────────────────────────────────────────────────────────────

  /** Per-source acceptance thresholds for α = 1/2 temperature sampling
    * (the T5 / Pile mixture trick: sampled share ∝ n^α, flattening the
    * mixture toward small domains). Acceptance rate r_d ∝ n_d^(α−1)
    * = 1/√n_d, normalized so the smallest domain keeps everything:
    *
    *     thr_d = ⌊256·√(n_min / n_d)⌋,  keep doc iff md5-byte < thr_d
    *
    * so E[kept_d] = n_d·√(n_min/n_d)·(thr-rounding) ∝ √n_d. The only
    * float ops are one division and one `sqrt` — both CORRECTLY
    * ROUNDED under IEEE-754 (unlike ln/exp/pow, sqrt is exact-rounded
    * by spec), so the integer threshold is bit-identical on every
    * engine with no rounding contract needed.
    *
    * Output: one row per source — (source, n_total, thr).
    */
  def temperatureThresholds(docs: DataFrame, srcCol: String): DataFrame = {
    val perSrc = docs.groupBy(col(srcCol)).agg(count(lit(1)).as("n_total"))
    val minN   = perSrc.agg(min(col("n_total")).as("n_min"))
    perSrc.crossJoin(broadcast(minN))
      .withColumn("thr", expr(
        "CAST(floor(256 * sqrt(CAST(n_min AS DOUBLE) / CAST(n_total AS DOUBLE))) AS INT)"))
      .drop("n_min")
  }

  // ─────────────────────────────────────────────────────────────────
  // Naive Bayes domain / language classification
  // ─────────────────────────────────────────────────────────────────

  /** Multinomial Naive Bayes with add-1 smoothing, trained and evaluated
    * in one plan: an 80/20 content-stable split (doc-id md5 byte, salt
    * "nb:"), per-class token log-probs from the train side, held-out
    * docs scored and argmax-classified, confusion matrix out — the
    * fastText-shaped quality/domain classifier step of a curation
    * pipeline (CCNet-style), minus the embedding layer.
    *
    * Determinism: ln() is the one non-exact-rounded float op, so it is
    * confined to the MODEL — each (class, token) log-prob and each class
    * prior is rounded to int64 micro-units exactly once (O(V·C) + C
    * roundings, data-independent count). Doc scoring is then pure
    * integer arithmetic (tf·lp sums), so the argmax — including exact
    * ties between near-identical class distributions — is bit-identical
    * on every engine, with a lexicographic class tie-break.
    *
    * Scale shape: training is one (class, token) keyed aggregation;
    * the model (V·C rows), class totals, and priors broadcast; scoring
    * is a map-side fan-out of each held-out doc's token counts over the
    * C classes plus one per-doc argmax window. At vocab sizes where
    * V·C stops fitting a broadcast, [[nbPredict]]'s
    * `broadcastModel = false` flips the model join to a shuffle join on
    * the token key (bit-identical argmax — spec-pinned).
    *
    * Output: (true_cls, pred_cls, n) confusion counts.
    */
  /** Trained NB model: `tokLp` = (cls, tok, lp) per-(class, token)
    * log-probs in int64 micro-units; `clsStats` = (cls, lp0, prior_sc)
    * — the smoothed zero-count fallback and class prior. Both are
    * vocab-/class-scale (never corpus-scale), so they broadcast and
    * persist as tiny tables.
    */
  final case class NbModel(tokLp: DataFrame, clsStats: DataFrame)

  /** Fit the multinomial NB model (add-1 smoothing) on a training
    * frame. All ln() roundings happen here — O(V·C) + C of them, each
    * to int64 micro-units — so downstream scoring is pure integer
    * arithmetic (see [[nbConfusion]]).
    */
  def nbFit(train: DataFrame, textCol: String, classCol: String): NbModel = {
    val toks = train.select(col(classCol).as("cls"),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val cnt = toks.groupBy(col("cls"), col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = cnt.groupBy(col("cls")).agg(sum(col("cnt")).as("tot"))
    val v   = toks.agg(countDistinct(col("tok")).as("v"))
    val tokLp = cnt.join(tot, "cls").crossJoin(broadcast(v))
      .withColumn("lp", expr(
        "CAST(round(ln(CAST(cnt + 1 AS DOUBLE) / CAST(tot + v AS DOUBLE)) * 1000000) AS BIGINT)"))
      .select(col("cls"), col("tok"), col("lp"))
    val lp0 = tot.crossJoin(broadcast(v))
      .withColumn("lp0", expr(
        "CAST(round(ln(1.0 / CAST(tot + v AS DOUBLE)) * 1000000) AS BIGINT)"))
      .select(col("cls"), col("lp0"))
    val nc = train.groupBy(col(classCol).as("cls")).agg(count(lit(1)).as("nc"))
    val prior = nc.crossJoin(broadcast(nc.agg(sum(col("nc")).as("n_train"))))
      .withColumn("prior_sc", expr(
        "CAST(round(ln(CAST(nc AS DOUBLE) / CAST(n_train AS DOUBLE)) * 1000000) AS BIGINT)"))
      .select(col("cls"), col("prior_sc"))
    NbModel(tokLp, prior.join(lp0, "cls").select("cls", "lp0", "prior_sc"))
  }

  /** Persist / load an [[NbModel]] as two parquet tables under `dir`
    * (`tok_lp/`, `cls_stats/`) — the offline half of the streaming
    * classify path ([[graft.streaming.Pipelines.nbClassifyIngest]]).
    * A (re)train publishes both tables in ONE [[Stores.publishReplace]]:
    * a retrain that fails part-way leaves the previous model in place,
    * and a reader finds both tables of one model or the directory
    * absent, never one table of each model. A read whose two listings
    * straddle the swap does not mix models either: the files it listed
    * before the swap are gone, so its job fails instead.
    */
  def writeNbModel(m: NbModel, dir: String): Unit =
    Stores.publishReplace(m.tokLp.sparkSession, dir) { tmp =>
      m.tokLp.write.parquet(s"$tmp/tok_lp")
      m.clsStats.write.parquet(s"$tmp/cls_stats")
    }

  def readNbModel(spark: org.apache.spark.sql.SparkSession, dir: String): NbModel =
    NbModel(spark.read.parquet(s"$dir/tok_lp"), spark.read.parquet(s"$dir/cls_stats"))

  /** Classify docs against a trained model: (idCol, pred_cls, score_sc)
    * — argmax class per doc with the lexicographic tie-break, score in
    * int64 micro-units.
    *
    * Two bit-identical plans, selected by `broadcastModel`:
    *
    *  - `true` (default): map-side ×C fan-out over the broadcast class
    *    frame, the V·C model broadcast into a left join; unseen tokens
    *    fall back to the class's smoothed zero-count. Right while the
    *    model fits an executor-side hash table.
    *  - `false`: the model NEVER leaves the cluster — doc token counts
    *    shuffle-join (sort-merge, hinted so a small test model can't be
    *    silently re-broadcast) the (tok → cls, lp) table on the token
    *    key alone, and the unseen-token mass is reconstructed
    *    arithmetically: per (doc, cls), score contribution =
    *    Σ_seen tf·lp + (T_doc − Σ_seen tf)·lp0, which equals the
    *    broadcast plan's Σ_all tf·coalesce(lp, lp0) exactly (integer
    *    arithmetic throughout, so the argmax — ties included — is
    *    bit-identical; spec-pinned). Costs one extra aggregation over
    *    the doc token table (the per-doc total T_doc); the shuffle
    *    carries only tokens that exist in some class's vocabulary.
    */
  def nbPredict(
      docs: DataFrame,
      model: NbModel,
      idCol: String,
      textCol: String,
      broadcastModel: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val testTf = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val tokSc =
      if (broadcastModel)
        testTf
          .crossJoin(broadcast(model.clsStats.select(col("cls"))))
          .join(broadcast(model.tokLp), Seq("cls", "tok"), "left")
          .join(broadcast(model.clsStats.select(col("cls"), col("lp0"))), Seq("cls"))
          .groupBy(col(idCol), col("cls"))
          .agg(sum(col("tf") * coalesce(col("lp"), col("lp0"))).as("tok_sc"))
      else {
        val seen = testTf
          .join(model.tokLp.hint("merge"), Seq("tok"))
          .groupBy(col(idCol), col("cls"))
          .agg(sum(col("tf") * col("lp")).as("seen_sc"),
            sum(col("tf")).as("seen_tf"))
        val docTf = testTf.groupBy(col(idCol)).agg(sum(col("tf")).as("all_tf"))
        docTf
          .crossJoin(broadcast(model.clsStats.select(col("cls"), col("lp0"))))
          .join(seen, Seq(idCol, "cls"), "left")
          .select(col(idCol), col("cls"),
            (coalesce(col("seen_sc"), lit(0L)) +
              (col("all_tf") - coalesce(col("seen_tf"), lit(0L))) * col("lp0"))
              .as("tok_sc"))
      }
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("cls"))
    docs.select(col(idCol))
      .crossJoin(broadcast(model.clsStats.select(col("cls"), col("prior_sc"))))
      .join(tokSc, Seq(idCol, "cls"), "left")
      .withColumn("score", col("prior_sc") + coalesce(col("tok_sc"), lit(0L)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("cls").as("pred_cls"), col("score").as("score_sc"))
  }

  def nbConfusion(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      classCol: String,
      broadcastModel: Boolean = true): DataFrame = {
    val tagged = docs.withColumn("is_train",
      md5Byte("nb:", col(idCol).cast("string")) < 204)
    val model = nbFit(
      tagged.filter(col("is_train")).select(col(idCol), col(textCol), col(classCol)),
      textCol, classCol)
    val heldOut = tagged.filter(!col("is_train"))
    nbPredict(heldOut.select(col(idCol), col(textCol)), model, idCol, textCol,
      broadcastModel)
      .join(heldOut.select(col(idCol), col(classCol).as("true_cls")), idCol)
      .groupBy(col("true_cls"), col("pred_cls"))
      .agg(count(lit(1)).as("n"))
  }

  /** α = 1/2 temperature mix report: per source, total docs, the
    * deterministic acceptance threshold, kept count, and kept share in
    * integer basis points. The acceptance coin is the doc-id md5 byte
    * (salt "mixa:"), so the sample is reproducible and append-stable.
    */
  def temperatureMix(docs: DataFrame, srcCol: String, idCol: String): DataFrame = {
    val thr = temperatureThresholds(docs, srcCol)
    val b   = md5Byte("mixa:", col(idCol).cast("string"))
    docs.select(col(srcCol), b.as("b"))
      .join(broadcast(thr), Seq(srcCol))
      .groupBy(col(srcCol))
      .agg(
        max(col("n_total")).as("n_total"),
        max(col("thr")).cast("int").as("thr"),
        sum(when(col("b") < col("thr"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("kept_bp", expr("(n_kept * 10000) DIV n_total"))
  }
}

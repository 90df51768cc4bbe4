package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Checkpoints

/** Unigram-LM subword tokenizer (Kudo, ACL'18 — the SentencePiece
  * `unigram` model): segmentation picks the GLOBALLY cheapest piece
  * sequence under per-piece surprisal scores, not the local
  * longest-match of [[MaxMatch]] — the model BERT's WordPiece
  * inference approximates and the one modern LLM tokenizers
  * (T5/Llama/Gemma SentencePiece configs) actually run.
  *
  * Three parts:
  *
  *  1. '''Seed model''' ([[vocabScored]]): the [[MaxMatch.vocab]]
  *     frequency-induced piece set (all single chars ∪ top-K n-grams —
  *     so segmentation never dead-ends), each scored with its corpus
  *     surprisal in whole bits: `surp(g) = bitlen(T) − bitlen(cnt(g))`
  *     — the same exact-integer log2 as `q_lm_surprisal`, so both
  *     engines score identically (Kudo seeds from substring
  *     frequencies the same way, §3.2).
  *
  *  2. '''Viterbi DP''' ([[wordViterbi]]): per distinct word, backward
  *     induction `best[p] = min over vocab pieces g at p of
  *     cost(g) + best[p + len(g)]` with the packed integer cost
  *     `cost(g) = surp(g)·1024 + 1` — the low 10 bits COUNT pieces, so
  *     one `min` resolves the (total surprisal, piece count)
  *     lexicographic tie-break and the optimum is unique-valued on
  *     both engines with zero floats. The DP runs as the native
  *     [[graft.functions.expressions.UnigramViterbi]] expression — the
  *     whole backward induction + forward walk inside the row against
  *     a once-per-executor trie of the (bounded, trained) vocab, so
  *     segmenting the corpus is a pure codegen map over the distinct
  *     word table: no candidate explode, no join, no shuffle. The
  *     original pure-plan formulation (explode + broadcast join + one
  *     collect_list shuffle + an `aggregate` fold) is kept as
  *     [[wordViterbiPlan]]/[[wordPiecesFromGrid]], spec-pinned equal to
  *     the expression — it is both the semantic reference the DuckDB
  *     oracle mirrors (recursive CTE carrying the same growing `best`
  *     list) and the fallback shape for engines without expression
  *     extension points.
  *
  *  3. '''Doc rollup''' ([[tokenizeCounts]]): docs join the per-word
  *     results and aggregate — corpus-scale work is one token explode
  *     + one doc-keyed agg.
  *
  * Scale shape (100 TB): identical to [[MaxMatch]] — everything
  * per-word runs on the DISTINCT word table (vocab-scale; every
  * occurrence of a word segments identically), the scored vocab is
  * bounded trained state (top-k selection) shipped once per executor
  * as a broadcast, and the DP is O(len · maxPieceLen) trie steps per
  * distinct word.
  * Whole-word dedup is what makes Viterbi affordable: the DP never
  * touches the corpus.
  */
object Unigram {

  /** (gram, cost) scored piece vocabulary: all single chars ∪ top-`k`
    * n-grams (2..`maxLen`) by weighted count desc / gram asc (the
    * [[MaxMatch.vocab]] total order), with the packed Viterbi cost
    * `surp·1024 + 1`. T counts every (1..maxLen)-gram occurrence
    * weighted by word frequency — the denominator of the seed model.
    */
  def vocabScored(words: DataFrame, k: Int, maxLen: Int): DataFrame = {
    val pos = words.select(col("w"), col("f"),
      explode(sequence(lit(1), length(col("w")))).as("p"))
    val grams = pos
      .select(col("w"), col("f"), col("p"),
        explode(sequence(lit(1),
          least(lit(maxLen), length(col("w")) - col("p") + 1))).as("len"))
      .select(expr("substring(w, p, len)").as("gram"), col("f"))
    val gc  = grams.groupBy(col("gram")).agg(sum(col("f")).as("cnt"))
    val tot = gc.agg(sum(col("cnt")).as("t"))
    val chars = gc.filter(length(col("gram")) === 1).select(col("gram"))
    val topg = gc.filter(length(col("gram")) >= 2)
      .orderBy(col("cnt").desc, col("gram").asc)
      .limit(k)
      .select(col("gram"))
    chars.unionByName(topg).distinct()
      .join(gc, Seq("gram"))
      .crossJoin(broadcast(tot))
      .select(col("gram"),
        ((length(expr("bin(t)")) - length(expr("bin(cnt)"))).cast("long") *
          1024L + 1L).as("cost"))
  }

  /** Bounded-model collect of a `(gram, cost)` vocabulary frame — the
    * trained-index idiom: the vocab is top-k-selected upstream so its
    * cardinality is a PARAMETER, not a data scale; the cap is a loud
    * contract check, never a truncation.
    */
  private def collectModel(vocabDf: DataFrame): Seq[(String, Long)] = {
    val rows = vocabDf.select(col("gram"), col("cost"))
      .limit(MaxVocabRows + 1).collect()
    require(rows.length <= MaxVocabRows,
      s"unigram vocab exceeds $MaxVocabRows entries — a scored vocab is " +
        "bounded trained state (top-k selection upstream); refusing an " +
        "unbounded collect")
    rows.toSeq.map(r => r.getString(0) -> r.getLong(1))
  }

  /** Upper bound on collected vocab entries (production SentencePiece
    * vocabs are 32k-256k; this is 4x the largest published — enough for
    * any real tokenizer while keeping the driver-side collect and the
    * broadcast model a bounded few tens of MB).
    */
  val MaxVocabRows: Int = 1 << 20

  /** (w, surp_bits, n_pieces): globally-optimal segmentation cost per
    * distinct word under the packed scores — `best[1] DIV 1024` is the
    * minimal total surprisal, `best[1] % 1024` the piece count of the
    * fewest-pieces optimum (unique by the packed tie-break).
    * `vocabDf` must be [[vocabScored]] output (single-char coverage
    * guarantees a candidate at every position). Runs the native
    * [[graft.functions.expressions.UnigramViterbi]] expression — one
    * shuffle-free codegen projection over the distinct word table.
    */
  def wordViterbi(words: DataFrame, vocabDf: DataFrame, maxLen: Int): DataFrame =
    segmented(words.select(col("w")), vocabDf, maxLen)
      .select(col("w"), col("seg.surp_bits").as("surp_bits"),
        col("seg.n_pieces").as("n_pieces"))

  /** Appends `seg` (the [[expressions.UnigramViterbi]] struct) to
    * `words`, which needs only a `w` column — callers select the
    * columns they actually consume ([[wordViterbi]] just `w`,
    * [[wordPieces]] `w` and the frequency `f` its M-step consumers
    * weight by). Words with NO reachable segmentation are DROPPED, the
    * plan form's inner-join behavior. Divergence note: a word whose
    * substrings match some vocab grams but that is still unsegmentable
    * survives the plan form's grid join as an all-null row while this
    * path drops it — possible only when the vocab violates the
    * [[vocabScored]] single-char-coverage contract, under which the two
    * forms are spec-pinned identical.
    */
  private def segmented(
      words: DataFrame, vocabDf: DataFrame, maxLen: Int): DataFrame = {
    val model = collectModel(vocabDf)
    require(model.forall { case (g, _) => g.codePointCount(0, g.length) <= maxLen },
      s"vocab gram longer than maxLen=$maxLen — the plan form would " +
        "ignore it; reject loudly instead of diverging")
    words.withColumn("seg",
      expressions.NativeExpressions.unigramSegment(
        col("w"), model, words.sparkSession))
      .filter(col("seg").isNotNull)
  }

  /** The original pure-plan Viterbi — the semantic REFERENCE for the
    * native expression (spec-pinned equal) and the shape the DuckDB
    * oracle mirrors. One explode + broadcast vocab join + one
    * collect_list shuffle + an `aggregate` fold per word.
    */
  private[graft] def wordViterbiPlan(
      words: DataFrame, vocabDf: DataFrame, maxLen: Int): DataFrame = {
    // the packed low-bits piece counter needs n_pieces <= len < 1024;
    // fail LOUDLY on absurd tokens rather than silently mis-packing
    val guarded = words.withColumn("w",
      when(length(col("w")) < 1024, col("w"))
        .otherwise(raise_error(concat(
          lit("unigram viterbi: token of length "), length(col("w")),
          lit(" >= 1024 — packed (surprisal, pieces) cost would overflow")))))
    val pos = guarded.select(col("w"),
      explode(sequence(lit(1), length(col("w")))).as("p"))
    // vocab-surviving candidate triples (p, len, cost), collected per
    // word in ONE shuffle; the per-position candidate lists are rebuilt
    // inside the row (O(len · maxLen) triples per word) — same shape as
    // [[wordPiecesFromGrid]], which measured ~25% faster than the
    // two-stage groupBy(w,p)→groupBy(w) restructure at sf10
    val grid = pos
      .select(col("w"), col("p"),
        explode(sequence(lit(1),
          least(lit(maxLen), length(col("w")) - col("p") + 1))).as("len"))
      .join(broadcast(vocabDf), expr("substring(w, p, len)") === col("gram"))
      .groupBy(col("w"))
      .agg(collect_list(struct(col("p"), col("len"), col("cost"))).as("tp"))
      .select(col("w"),
        transform(sequence(lit(1), length(col("w"))), p =>
          transform(
            filter(col("tp"), t => t.getField("p") === p),
            t => struct(t.getField("len").as("len"),
              t.getField("cost").as("cost")))).as("mt"))
    // backward induction as one fold: iteration i handles position
    // p = L+1-i; the state array `br` holds best[L+1], best[L], …
    // appended right to left, so best[p+len] sits at index
    // size(br) - len + 1 (1-based) — candidates always hit a computed
    // entry because len >= 1
    grid.select(col("w"),
      aggregate(
        sequence(lit(1), size(col("mt"))),
        array(lit(0L)),
        (br, i) => concat(br, array(array_min(transform(
          element_at(col("mt"), size(col("mt")) + 1 - i),
          c => c.getField("cost") +
            element_at(br, size(br) - c.getField("len") + 1))))),
        br => element_at(br, -1)).as("best1"))
      .select(col("w"),
        expr("best1 DIV 1024").as("surp_bits"),
        expr("best1 % 1024").as("n_pieces"))
  }

  /** (w, f, pieces, surp_bits, n_pieces): the ACTUAL Viterbi
    * segmentation per distinct word — each piece as a string, in order
    * — plus the DP optimum unpacked (total piece surprisal in bits,
    * piece count), so downstream corpus-cost aggregates need no piece
    * explode or model re-join. Two folds: the backward
    * induction of [[wordViterbi]] kept as the FULL best array, then a
    * forward walk that at each position picks, among candidates
    * achieving the optimum (`cost(g) + best[p+len] = best[p]`), the
    * LONGEST — a total order, so both engines reconstruct the
    * identical segmentation. Feeds the hard-EM M-step ([[refitStats]]).
    * Native-expression path, like [[wordViterbi]]; the pure-plan
    * [[wordPiecesFromGrid]] is the spec-pinned reference.
    */
  def wordPieces(words: DataFrame, vocabDf: DataFrame, maxLen: Int): DataFrame =
    segmented(words, vocabDf, maxLen)
      .select(col("w"), col("f"), col("seg.pieces").as("pieces"),
        col("seg.surp_bits").as("surp_bits"),
        col("seg.n_pieces").as("n_pieces"))

  /** Plan-form [[wordPieces]]: the reference implementation. */
  private[graft] def wordPiecesPlan(
      words: DataFrame, vocabDf: DataFrame, maxLen: Int): DataFrame =
    wordPiecesFromGrid(pieceGrid(words, maxLen), vocabDf)

  /** (w, f, p, len, gram) candidate grid of every vocab-length
    * substring of every distinct word — the MODEL-INDEPENDENT half of
    * the plan-form segmentation. Reached only through
    * [[wordPiecesPlan]]: the pure-plan reference implementation that
    * the DuckDB oracle mirrors and that UnigramSpec pins row-for-row
    * equal to the shipped [[expressions.UnigramViterbi]] expression.
    * (An earlier round cached this grid across EM rounds in
    * [[refitStats]]; materializing the multi-GB exploded grid measured
    * 1.8x SLOWER than recomputing the codegen explode, so refitStats
    * now runs the native expression twice and never touches the grid.)
    * Carries the same <1024 length guard as [[wordViterbi]]: a longer
    * token would silently bleed piece-count bits into the packed
    * surprisal field downstream.
    */
  private[graft] def pieceGrid(words: DataFrame, maxLen: Int): DataFrame = {
    val guarded = words.withColumn("w",
      when(length(col("w")) < 1024, col("w"))
        .otherwise(raise_error(concat(
          lit("unigram pieces: token of length "), length(col("w")),
          lit(" >= 1024 — packed (surprisal, pieces) cost would overflow")))))
    guarded.select(col("w"), col("f"),
      explode(sequence(lit(1), length(col("w")))).as("p"))
      .select(col("w"), col("f"), col("p"),
        explode(sequence(lit(1),
          least(lit(maxLen), length(col("w")) - col("p") + 1))).as("len"))
      .select(col("w"), col("f"), col("p"), col("len"),
        expr("substring(w, p, len)").as("gram"))
  }

  /** [[wordPieces]] over a prebuilt [[pieceGrid]].
    *
    * One grid-volume shuffle: vocab-surviving candidate triples
    * `(p, len, cost)` are collected per word in a single `groupBy` and
    * the per-position candidate lists are rebuilt INSIDE the row (the
    * per-word triple count is O(len · maxLen), so the in-row
    * restructure is cheap) — the earlier two-stage
    * `groupBy(w,f,p)`→`groupBy(w,f)` shape shuffled the grid twice and
    * measured ~25% slower on the 495k-distinct-word sf10 corpus.
    * Positions always have ≥1 candidate because [[vocabScored]] (and
    * the hard-EM reweighting) keep every single char.
    */
  private[graft] def wordPiecesFromGrid(
      grid: DataFrame, vocabDf: DataFrame): DataFrame = {
    val folded = grid
      .join(broadcast(vocabDf), Seq("gram"))
      .groupBy(col("w"), col("f"))
      .agg(collect_list(struct(col("p"), col("len"), col("cost"))).as("tp"))
      .select(col("w"), col("f"),
        transform(sequence(lit(1), length(col("w"))), p =>
          transform(
            filter(col("tp"), t => t.getField("p") === p),
            t => struct(t.getField("len").as("len"),
              t.getField("cost").as("cost")))).as("mt"))
    val withBest = folded.select(col("w"), col("f"), col("mt"),
      aggregate(
        sequence(lit(1), size(col("mt"))),
        array(lit(0L)),
        (br, i) => concat(br, array(array_min(transform(
          element_at(col("mt"), size(col("mt")) + 1 - i),
          c => c.getField("cost") +
            element_at(br, size(br) - c.getField("len") + 1)))))).as("br"))
    // forward walk: br has L+1 entries, best[p] = br[L+2-p]; at each
    // visited position keep the longest optimum-achieving candidate
    val walked = withBest.select(col("w"), col("f"),
      element_at(col("br"), -1).as("best1"),
      aggregate(
        sequence(lit(1), size(col("mt"))),
        struct(lit(1).as("p"),
          array().cast("array<struct<p:int,len:int>>").as("ps")),
        (st, i) => {
          val p      = st.getField("p")
          val bestP  = element_at(col("br"), size(col("br")) + 1 - p)
          val chosen = array_max(transform(
            filter(element_at(col("mt"), p),
              c => c.getField("cost") + element_at(col("br"),
                size(col("br")) + 1 - (p + c.getField("len"))) === bestP),
            c => c.getField("len")))
          when(i === p,
            struct(
              (p + chosen).as("p"),
              concat(st.getField("ps"),
                array(struct(p.as("p"), chosen.as("len")))).as("ps")))
            .otherwise(st)
        },
        st => st.getField("ps")).as("ps"))
    walked
      .withColumn("pieces",
        expr("transform(ps, x -> substring(w, x.p, x.len))"))
      .select(col("w"), col("f"), col("pieces"),
        expr("best1 DIV 1024").as("surp_bits"),
        expr("best1 % 1024").as("n_pieces"))
  }

  /** Hard-EM refit (Kudo §3.2's EM step, Viterbi flavor): segment under
    * the seed model, re-estimate piece scores from ACTUAL usage
    * (M-step: cnt₂ = freq-weighted times used; unused multi-grams are
    * PRUNED — SentencePiece's shrink step; single chars always survive
    * with a smoothed count of 1 so coverage never breaks), re-segment,
    * and report one row per round: pieces in the model, pieces used,
    * corpus cost in bits, corpus piece count. The observable: the
    * usage-fitted model never costs more than the seed on the corpus
    * it was fitted to.
    */
  def refitStats(docs: DataFrame, textCol: String, k: Int, maxLen: Int)
      : DataFrame = Checkpoints.scope { cp =>
    // Every multiply-referenced intermediate is checkpointed EAGERLY.
    // Lazy (eager=false) checkpoints looked equivalent but were a ~40×
    // wall-clock defect at vocab diversity (measured 65 s vs ~10 s at
    // 45k distinct words, sf1): the final union plan reaches seed/seg0
    // through several independent broadcast/exchange subtrees, and each
    // starts computing the not-yet-cached RDD — the expensive
    // vocab+Viterbi lineage re-runs once per reaching subtree instead
    // of once. Eager materialization pins each table before anything
    // downstream references it.
    val words = MaxMatch.wordTable(docs, textCol) // checkpoints internally
    // read by model2 derivation + collect
    val seed = cp.checkpoint(vocabScored(words, k, maxLen))
    // read by usage recount + round-0 stats
    val seg0 = cp.checkpoint(wordPieces(words, seed, maxLen))
    // M-step: usage-weighted piece counts; keep unused single chars at
    // count 1 (coverage), prune unused multi-grams
    val used = seg0
      .select(col("f"), explode(col("pieces")).as("gram"))
      .groupBy(col("gram")).agg(sum(col("f")).as("cnt"))
    val tot2 = used.agg(sum(col("cnt")).as("t"))
    // read by seg1's collect + round-1 stats
    val model2 = cp.checkpoint(seed.select(col("gram"))
      .join(used, Seq("gram"), "left")
      .filter(col("cnt").isNotNull || length(col("gram")) === 1)
      .select(col("gram"), coalesce(col("cnt"), lit(1L)).as("cnt"))
      .crossJoin(broadcast(tot2))
      .select(col("gram"),
        ((length(expr("bin(t)")) - length(expr("bin(cnt)"))).cast("long") *
          1024L + 1L).as("cost")))
    // read by round-1 cost + used-piece count
    val seg1 = cp.checkpoint(wordPieces(words, model2, maxLen))
    def stats(round: Int, model: DataFrame, seg: DataFrame): DataFrame = {
      // corpus cost: Σ_w f(w) · Σ_{piece uses} surp(piece). The DP
      // total already IS that sum under the model that produced the
      // segmentation: best[1] = Σ(surp·1024 + 1) = surp_bits·1024 +
      // n_pieces with no carry (n_pieces < 1024 by the length guard),
      // so the per-round cost is a pure agg over the segmentation —
      // no piece explode, no model re-join, no extra shuffle
      val agg = seg.agg(
        sum(col("f") * col("surp_bits")).as("corpus_bits"),
        sum(col("f") * col("n_pieces")).as("corpus_pieces"))
      val nUsed = seg.select(explode(col("pieces")).as("g"))
        .agg(countDistinct(col("g")).as("pieces_used"))
      val nModel = model.agg(count(lit(1)).as("model_pieces"))
      agg.crossJoin(broadcast(nModel)).crossJoin(broadcast(nUsed))
        .select(lit(round).as("round"), col("model_pieces"),
          col("pieces_used"), col("corpus_bits"), col("corpus_pieces"))
    }
    stats(0, seed, seg0).unionByName(stats(1, model2, seg1))
  }

  /** Full composition: seed model from `docs`, Viterbi-segment the
    * distinct words, report per-document (n_tokens, n_pieces,
    * surp_bits, avg_piece_cb) — the unigram-LM counterpart of
    * [[MaxMatch.tokenizeCounts]]'s fertility surface, plus the model
    * cost axis (avg piece surprisal in exact centibits).
    */
  def tokenizeCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      maxLen: Int): DataFrame = {
    val words = MaxMatch.wordTable(docs, textCol)
    val seg = wordViterbi(words, vocabScored(words, k, maxLen), maxLen)
    docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("w"))
      .join(seg, Seq("w"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(col("surp_bits")).as("surp_bits"))
      .withColumn("avg_piece_cb", expr("(surp_bits * 100) DIV n_pieces"))
  }
}

package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Checkpoints

/** WordPiece-style greedy longest-match-first ("MaxMatch") subword
  * tokenizer (Wu et al., GNMT '16 §4.1 — the BERT inference-time
  * tokenizer) with a deterministic frequency-induced vocabulary.
  *
  * Two halves, both pure DataFrame plans:
  *
  *  1. '''Vocab induction''' ([[vocab]]): every single character of the
  *     corpus word list (so segmentation never dead-ends — no [UNK]
  *     path needed) plus the top-K character n-grams (2 ≤ n ≤ maxLen)
  *     by word-frequency-weighted occurrence count, tie-broken
  *     lexicographically — a total order, so both engines induce the
  *     IDENTICAL vocabulary.
  *
  *  2. '''Segmentation''' ([[wordPieceCounts]]): greedy left-to-right
  *     longest-match. Per (word, position) the longest vocab piece
  *     starting there (`bl`) is a join + max — set algebra, not a scan.
  *     The inherently sequential walk (position += matched length) is
  *     a single codegen'd `aggregate` fold over the word's `bl` array:
  *     state (p, n) visits indices 1..len in order and advances only
  *     when the index equals the current position — simulating the
  *     walk in one pass with zero UDFs and zero driver iteration.
  *
  * Scale shape (100 TB): everything per-word runs on the DISTINCT word
  * table (vocab-scale — every occurrence of a word tokenizes
  * identically, the same two-level trick as [[Bpe]]'s apply half); the
  * vocab is broadcast-joined; the only corpus-scale work is the token
  * explode and one doc-keyed agg. The DuckDB oracle mirrors the walk
  * with a recursive CTE over the same `bl` table.
  */
object MaxMatch {

  /** (w, f) distinct-word frequency table of `docs(textCol)`,
    * lineage-truncated ([[Bpe.wordTable]]'s idiom): four downstream
    * branches read it (char vocab, gram grid, best-length grid, piece
    * join) — without the checkpoint each would re-run the corpus
    * explode + word agg.
    */
  def wordTable(docs: DataFrame, textCol: String): DataFrame =
    // EAGER: consumers reach this through broadcast subtrees (the
    // induced vocab is broadcast into the piece-match join), and a lazy
    // checkpoint re-runs the corpus explode once per reaching broadcast
    // branch (the Unigram.refitStats defect)
    Checkpoints.scope(_.checkpoint(docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))))

  /** The induced piece vocabulary: all single chars ∪ top-`k` n-grams
    * (2..`maxLen`) by weighted count desc, gram asc. One column `gram`.
    */
  def vocab(words: DataFrame, k: Int, maxLen: Int): DataFrame = {
    // (w, f, p): every 1-based character position of every word
    val pos = words.select(col("w"), col("f"),
      explode(sequence(lit(1), length(col("w")))).as("p"))
    val chars = pos.select(expr("substring(w, p, 1)").as("gram")).distinct()
    // n-grams of length 2..min(maxLen, remaining): guard the explode —
    // Spark's sequence(2, 1) counts DOWN instead of emitting empty
    val grams = pos
      .filter(length(col("w")) - col("p") + 1 >= 2)
      .select(col("w"), col("f"), col("p"),
        explode(sequence(lit(2),
          least(lit(maxLen), length(col("w")) - col("p") + 1))).as("len"))
      .select(expr("substring(w, p, len)").as("gram"), col("f"))
    val topK = grams
      .groupBy(col("gram")).agg(sum(col("f")).as("cnt"))
      .orderBy(col("cnt").desc, col("gram").asc)
      .limit(k)
      .select(col("gram"))
    chars.unionByName(topK).distinct()
  }

  /** (w, n_pieces): greedy longest-match piece count per distinct word.
    * `vocabDf` must contain every single character of every word
    * (guaranteed by [[vocab]]).
    */
  def wordPieceCounts(words: DataFrame, vocabDf: DataFrame, maxLen: Int): DataFrame = {
    val pos = words.select(col("w"),
      explode(sequence(lit(1), length(col("w")))).as("p"))
    // longest vocab piece starting at each position
    val bl = pos
      .select(col("w"), col("p"),
        explode(sequence(lit(1),
          least(lit(maxLen), length(col("w")) - col("p") + 1))).as("len"))
      .join(broadcast(vocabDf), expr("substring(w, p, len)") === col("gram"))
      .groupBy(col("w"), col("p")).agg(max(col("len")).as("bl"))
    // per-word bl array ordered by position, then the one-pass fold walk
    val arr = bl
      .groupBy(col("w"))
      .agg(array_sort(collect_list(struct(col("p"), col("bl")))).as("a"))
      .select(col("w"), transform(col("a"), x => x.getField("bl")).as("bl"))
    arr.select(col("w"),
      aggregate(
        sequence(lit(1), size(col("bl"))),
        struct(lit(1).as("p"), lit(0L).as("n")),
        (st, i) =>
          when(i === st.getField("p"),
            struct(
              (st.getField("p") + element_at(col("bl"), st.getField("p"))).as("p"),
              (st.getField("n") + 1L).as("n")))
            .otherwise(st),
        st => st.getField("n")).as("n_pieces"))
  }

  /** Full composition: induce the vocab from `docs`, tokenize the
    * distinct words, and report per-document (n_tokens, n_pieces) —
    * the trained tokenizer's fertility surface (compare
    * `q_bpe_tokenize`'s n_bpe_symbols on the same corpus).
    */
  def tokenizeCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      maxLen: Int): DataFrame = {
    val words  = wordTable(docs, textCol)
    val pieces = wordPieceCounts(words, vocab(words, k, maxLen), maxLen)
    docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("w"))
      .join(pieces, Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_pieces")).as("n_pieces"))
  }
}

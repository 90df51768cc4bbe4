package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Checkpoints

import graft.functions.expressions.NativeExpressions

/** Iterative BPE tokenizer training (Sennrich et al., ACL'16 §3) over
  * the distinct word-frequency table: repeat { count adjacent symbol
  * pairs; merge the most frequent everywhere }.
  *
  * Representation invariant (what makes the merge a plain string
  * replace with EXACT greedy left-to-right semantics in Spark and the
  * DuckDB oracle alike): a word's symbol sequence is two-space-joined
  * and one-space-padded (" l o w " → after merging "l o" → " lo  w ").
  * Every symbol is flanked by a space on BOTH sides of the match
  * pattern " x  y ", so a pattern can never start mid-symbol, and
  * consecutive overlapping occurrences ("a a a a") consume disjoint
  * spans exactly like the reference greedy merge ([aa][aa]).
  *
  * Two trainers over the same representation:
  *  - [[trainNaive]] — recounts ALL pairs every round: O(rounds ×
  *    vocab) explodes. Fine at a handful of merges; the parity oracle.
  *  - [[trainDelta]] — incremental pair-delta maintenance, the
  *    standard production-trainer optimization: only words CONTAINING
  *    the merged pair change representation, so each round subtracts
  *    the affected words' old pair counts and adds their post-merge
  *    counts. Per-round explode work is ∝ affected words (shrinking
  *    fast as merges specialize), not the whole vocab — at a realistic
  *    30k-merge build this is the difference between O(merges × vocab)
  *    and O(merges × touched). Counts are exact integers maintained by
  *    exact ±deltas, so the merge sequence is IDENTICAL to the naive
  *    recount (spec-pinned).
  *
  * Scale shape (100 TB): the corpus is tokenized ONCE into the
  * word-frequency table (vocab rows ~ log of corpus size); every
  * per-round step — the affected filter, the delta explodes, the merge
  * replace — is map-side over vocab rows, with one pair-keyed agg for
  * the delta and a 1-row TakeOrderedAndProject collect (the only
  * driver traffic) for the argmax. Lineage is truncated per round via
  * a lazy checkpoint so round N never replays rounds 1..N−1; each
  * round frees the cuts its predecessor superseded, and the collected
  * result reads none of them, so the rest are freed on return.
  */
object Bpe {

  /** The (f, r) word-frequency table of `docs(textCol)` in the padded
    * two-space symbol representation, lineage-truncated so the
    * training loop never re-reads documents.
    */
  def wordTable(docs: DataFrame, textCol: String): DataFrame =
    Checkpoints.scope(_.checkpoint(docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .select(col("f"), concat(lit(" "),
        rtrim(regexp_replace(col("w"), "(.)", "$1  ")), lit(" ")).as("r")),
      eager = false))

  /** (pr, n) adjacent-symbol-pair counts of a word table, weighted by
    * word frequency — one map-side explode + one pair-keyed agg.
    */
  def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("f"), explode(NativeExpressions.shingles(
        split(trim(col("r")), "  "), 2, distinct = false)).as("pr"))
      .groupBy(col("pr")).agg(sum(col("f")).as("n"))

  /** The match pattern of `pair` in the padded representation. */
  def pattern(pair: String): String = " " + pair.replace(" ", "  ") + " "

  /** Greedy left-to-right merge of `pair` in representation column `r`. */
  def merged(r: Column, pair: String): Column =
    call_function("replace", r,
      lit(pattern(pair)), lit(" " + pair.replace(" ", "") + " "))

  /** Reference trainer: full pair recount every round. Returns the
    * merge sequence (step, pair, count).
    */
  def trainNaive(words0: DataFrame, maxMerges: Int): Seq[(Int, String, Long)] = {
    val merges = Seq.newBuilder[(Int, String, Long)]
    var cur    = words0
    var step   = 1
    var done   = false
    while (step <= maxMerges && !done) {
      val best = pairCounts(cur)
        .orderBy(col("n").desc, col("pr").asc)
        .limit(1)
        .collect()
      if (best.isEmpty) done = true // vocabulary fully merged
      else {
        val pair = best(0).getString(0)
        merges += ((step, pair, best(0).getLong(1)))
        cur = cur.withColumn("r", merged(col("r"), pair))
        step += 1
      }
    }
    merges.result()
  }

  /** Incremental trainer: maintains the pair-count table by exact
    * ±deltas over only the words whose representation the round's
    * merge changes. Merge-sequence-identical to [[trainNaive]].
    */
  def trainDelta(
      words0: DataFrame,
      maxMerges: Int,
      onRound: RoundProbe = NoProbe): Seq[(Int, String, Long)] = Checkpoints.scope { cp =>
    val merges = Seq.newBuilder[(Int, String, Long)]
    var cur  = words0
    var pc   = cp.checkpoint(pairCounts(cur), eager = false)
    var spent: Option[DataFrame] = None
    var step = 1
    var done = false
    while (step <= maxMerges && !done) {
      val roundT0 = System.nanoTime()
      val best = pc.orderBy(col("n").desc, col("pr").asc).limit(1).collect()
      // that action materialized `pc` and the word table its delta read,
      // so the previous round's pair counts, and the word table they
      // read, have no reader left. Releasing those pair counts frees them
      // and every older cut they read: a run of any length holds a fixed
      // number of cuts.
      spent.foreach(cp.release)
      spent = Some(pc)
      if (best.isEmpty) done = true
      else {
        val pair = best(0).getString(0)
        merges += ((step, pair, best(0).getLong(1)))
        val affected = cur.filter(col("r").contains(pattern(pair)))
        // post-merge pairs of the affected words minus their pre-merge
        // pairs; everything else is untouched by construction
        val delta = pairCounts(affected.withColumn("r", merged(col("r"), pair)))
          .unionByName(pairCounts(affected)
            .select(col("pr"), (-col("n")).as("n")))
        pc = cp.checkpoint(pc.unionByName(delta)
          .groupBy(col("pr")).agg(sum(col("n")).as("n"))
          .filter(col("n") > 0), eager = false)
        cur = cp.checkpoint(cur.withColumn("r", merged(col("r"), pair)), eager = false)
        onRound(step, (System.nanoTime() - roundT0) / 1000000L,
          Graph.planNodes(cur) + Graph.planNodes(pc))
        step += 1
      }
    }
    merges.result()
  }

  /** Per-round training probe: `(round, wallMillis, planNodes)` where
    * `planNodes` is the combined optimized-plan node count of the two
    * loop-carried tables (word table + pair counts). The production
    * flatness contract (spec-pinned over 64+ merges): planNodes is
    * CONSTANT — each round's checkpoint cuts the carried plan to
    * a fixed `LogicalRDD`-rooted tree, so round N never re-plans or
    * replays rounds 1..N−1 — and wall time stays flat (it shrinks as
    * merges specialize; lineage creep would grow it exponentially).
    */
  type RoundProbe = (Int, Long, Int) => Unit
  val NoProbe: RoundProbe = (_, _, _) => ()

}

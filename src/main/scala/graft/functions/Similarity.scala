package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Checkpoints

/** Vector-similarity search over an embedding column (`array<float>`).
  *
  * Two tiers:
  *  - brute-force cosine top-k — the exact baseline; one broadcast of the
  *    query set against a full scan of the corpus (linear in corpus size,
  *    embarrassingly parallel — this is the right plan even at 100 TB when
  *    the query set is small, because it is one pass with no shuffle).
  *  - sign-random-projection LSH — corpus bucketed by a b-bit hypercube
  *    code; candidate generation joins only within buckets, turning the
  *    quadratic all-pairs problem into per-bucket quadratic with bounded
  *    bucket sizes (an IVF-style scale path).
  *
  * All dot products run in double precision through `zip_with` +
  * `aggregate` — codegen'd catalyst expressions, sequential left-to-right
  * fold, so the oracle can reproduce the exact float semantics.
  */
object Similarity {

  /** Decimals every cosine similarity is rounded to before it is ranked,
    * thresholded or tie-broken: the catalog's cross-engine rule (double
    * summation order varies in the last ulp, 4 dp does not).
    */
  val CosineDp: Int = 4

  /** Lloyd rounds of every trained quantizer: the IVF k-means centroids
    * ([[kmeansCentroids]]) and the PQ codebooks ([[pqTrain]], the
    * residual codebooks). The IVF and PQ oracles in [[graft.Queries]]
    * unroll the same count.
    */
  val LloydIters: Int = 2

  /** Cast an array<float> column to array<double> (exact widening). */
  def toDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential-fold dot product in double precision. Implemented by the
    * codegen'd [[graft.functions.expressions.DotProduct]] native
    * expression — identical summation order (and therefore identical
    * results) to the built-in `aggregate(zip_with(a,b,_*_), 0.0, _+_)`
    * formulation in [[dotFold]], but a primitive loop instead of
    * interpreted lambda evaluation (~10× on 64-dim vectors).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.expressions.NativeExpressions.dot(a, b)

  /** Reference formulation of [[dot]] via built-in higher-order functions;
    * kept for A/B testing the native expression.
    */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** L2 norm squared. */
  def norm2(a: Column): Column = dot(a, a)

  /** Cosine similarity of two array<double> columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(norm2(a) * norm2(b))

  /** Brute-force cosine top-k: for every query vector, the k most similar
    * corpus vectors. Similarities are rounded to [[CosineDp]] decimals before
    * ranking and ties broken by corpus id, making the result deterministic
    * across engines (double summation order varies in the last ulp).
    *
    * Plan shape: broadcast(queries) × scan(corpus) → per-query window
    * top-k. The only shuffle is the final rank over (query partitions).
    */
  def knnCosine(
      queries: DataFrame,
      corpus: DataFrame,
      id: String,
      vec: String,
      k: Int): DataFrame = {
    val q = queries.select(
      col(id).as("query_id"),
      toDouble(col(vec)).as("qv"))
    val c = corpus.select(
      col(id).as("neighbor_id"),
      toDouble(col(vec)).as("cv"))
    val scored = c
      .join(broadcast(q))
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), CosineDp).as("cos_sim"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    * SIGIR'98) of the brute-force top-n: greedily pick k of the n
    * candidates maximizing `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)` —
    * the diversification step between an ANN candidate list and what a
    * retrieval stack actually serves (near-duplicate corpus hits
    * otherwise fill every slot; [[semanticDedup]] removes dups from the
    * CORPUS, MMR removes redundancy from each RESULT LIST).
    *
    * Exactness: relevance and pairwise similarities are the 4-dp-rounded
    * cosines as integer ten-thousandths; with `lambdaBp` in basis points
    * the marginal score `lambdaBp·rel_sc − (10000−lambdaBp)·maxsim_sc`
    * is pure int64 (no division anywhere — engines can disagree on
    * negative integral division, so none is taken), ties to the lowest
    * neighbor id. The first pick is the relevance argmax (max-sim term
    * empty = 0), matching the paper.
    *
    * Scale shape: the corpus-scale work is [[knnCosine]] (one broadcast
    * pass, per-query window top-n); everything after runs on the
    * BOUNDED candidate table (|queries|·n rows, eagerly checkpointed
    * once) — the n² pair similarities per query and ⌈k/pickBatch⌉
    * plan-unrolled rounds (anti-join + max-sim aggregate + per-query
    * top-`pickBatch` window, the [[graft.functions.Graph.pageRank]]
    * unrolling idiom; each round's selection is checkpointed and its
    * predecessor released, so the plan stays round-local). Queries are
    * independent — the greedy is sequential in rounds but parallel
    * across queries. `pickBatch = 1` (default) is the exact greedy;
    * larger batches hold the DRIVER ROUND LATENCY flat as k grows (the
    * k = 64 knee, PERF round-15) at the documented approximation that
    * within-round picks don't see each other's redundancy.
    *
    * Output: (query_id, mmr_rank 1‥k, neighbor_id, rel_sc, maxsim_sc,
    * score_sc).
    */
  def mmrRerank(
      queries: DataFrame,
      corpus: DataFrame,
      id: String,
      vec: String,
      n: Int,
      k: Int,
      lambdaBp: Int = 7000,
      pickBatch: Int = 1): DataFrame = Checkpoints.scope { cp =>
    require(n >= 1 && k >= 1 && k <= n, s"need 1 <= k <= n, got k=$k n=$n")
    require(lambdaBp >= 0 && lambdaBp <= 10000, s"lambdaBp in [0,10000], got $lambdaBp")
    require(pickBatch >= 1, s"pickBatch must be >= 1, got $pickBatch")
    val muBp = 10000 - lambdaBp

    val cands0 = knnCosine(queries, corpus, id, vec, n)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos_sim") * 10000).cast("long").as("rel_sc"))
    val cv = corpus.select(col(id).as("neighbor_id"), toDouble(col(vec)).as("nv"))
    // bounded candidate list broadcasts onto the corpus scan to pick up
    // vectors; from here on every frame is |queries|·n (or ·n²) rows.
    // The RETURNED frame is one bounded (|queries|·k rows) checkpoint.
    val cands = cp.checkpoint(
      cv.join(broadcast(cands0), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("rel_sc"), col("nv")))
    val a = cands.select(col("query_id"), col("neighbor_id").as("a"), col("nv").as("av"))
    val b = cands.select(col("query_id"), col("neighbor_id").as("b"), col("nv").as("bv"))
    val pairs = cp.checkpoint(
      a.join(b, "query_id")
        .filter(col("a") =!= col("b"))
        .select(col("query_id"), col("a"), col("b"),
          round(round(cosine(col("av"), col("bv")), CosineDp) * 10000)
            .cast("long").as("sim_sc")))
    val byScore = Window.partitionBy(col("query_id"))
      .orderBy(col("score_sc").desc, col("neighbor_id"))
    // pickBatch = 1 IS the paper's greedy (each pick sees every
    // earlier pick's redundancy). pickBatch = b > 1 trades that for
    // round count: the top b marginal scorers are taken per round,
    // and picks WITHIN a round do not see each other's similarity —
    // a documented approximation (the PERF round-15 knee: at k = 64
    // the greedy's 63 driver-sequenced rounds cost +40% per pick
    // from checkpoint churn alone; b = k/8 holds rounds, and
    // per-pick wall, ~constant). Ranks stay 1‥k in round-major,
    // score-desc order, b = 1 reproduces greedy exactly (spec).
    def pick(scored: DataFrame, baseRank: Int, take: Int): DataFrame = scored
      .withColumn("score_sc",
        lit(lambdaBp.toLong) * col("rel_sc") - lit(muBp.toLong) * col("maxsim_sc"))
      .withColumn("_rn", row_number().over(byScore))
      .filter(col("_rn") <= take)
      .select(col("query_id"),
        (lit(baseRank.toLong) + col("_rn")).as("mmr_rank"),
        col("neighbor_id"), col("rel_sc"), col("maxsim_sc"), col("score_sc"))

    var picked = math.min(pickBatch, k)
    var sel = cp.checkpoint(pick(cands.withColumn("maxsim_sc", lit(0L)), 0, picked))
    while (picked < k) {
      val take = math.min(pickBatch, k - picked)
      val rem = cands
        .join(sel.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_anti")
      val ms = rem
        .join(pairs
          .join(sel.select(col("query_id"), col("neighbor_id").as("b")),
            Seq("query_id", "b"))
          .select(col("query_id"), col("a").as("neighbor_id"), col("sim_sc")),
          Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id"), col("neighbor_id"), col("rel_sc"))
        .agg(max(col("sim_sc")).as("maxsim_sc"))
      val nextSel = cp.checkpoint(sel.unionByName(pick(ms, picked, take)))
      cp.release(sel)
      sel = nextSel
      picked += take
    }
    cp.checkpoint(sel)
  }

  /** Embedding-level eval-set decontamination: for every corpus vector,
    * its maximum cosine similarity against the (small) eval/benchmark
    * embedding set, the arg-max eval id (ties to the lowest), and the
    * `contaminated` flag at `threshold` — the semantic complement of
    * n-gram contamination checks: paraphrased eval leakage that shares
    * no 8-gram still lands next to its source in embedding space.
    *
    * Scale shape (100 TB): this is [[knnCosine]] with the broadcast
    * side REVERSED — the corpus is the big streaming side, the eval set
    * rides the broadcast, and the per-corpus-row argmax is a `max_by`
    * aggregation (map-side partial combine, one skinny shuffle of
    * ≤ |corpus| rows, no window sort). The eval set is bounded the way
    * benchmark suites are (10³–10⁵ rows); corpus work is one narrow
    * pass. Returns (id, nearest_eval, max_sim, contaminated).
    */
  def semanticContamination(
      corpus: DataFrame,
      evalSet: DataFrame,
      id: String,
      vec: String,
      threshold: Double): DataFrame = {
    val c = corpus.select(col(id), toDouble(col(vec)).as("v"))
      .withColumn("vn2", norm2(col("v")))
    val e = evalSet.select(col(id).as("eval_id"), toDouble(col(vec)).as("ev"))
      .withColumn("en2", norm2(col("ev")))
    c.join(broadcast(e))
      .withColumn("sim",
        round(dot(col("v"), col("ev")) / sqrt(col("vn2") * col("en2")), CosineDp))
      .groupBy(col(id))
      .agg(
        max(col("sim")).as("max_sim"),
        max_by(col("eval_id"), struct(col("sim"), -col("eval_id")))
          .as("nearest_eval"))
      .withColumn("contaminated", col("max_sim") >= lit(threshold))
      .select(col(id), col("nearest_eval"), col("max_sim"), col("contaminated"))
  }

  /** All embedding pairs (a < b) with rounded cosine ≥ threshold — the
    * EXHAUSTIVE ground-truth verifier. Brute force (theta join): callers
    * must bound the input to a constant-size slice, exactly like the other
    * quadratic baselines (jaccard/levenshtein). The scale path for real
    * near-dup thresholds is [[nearDupBanded]].
    */
  def cosineNearDupPairs(
      df: DataFrame,
      id: String,
      vec: String,
      threshold: Double): DataFrame = {
    val v = df.select(col(id), toDouble(col(vec)).as("v"), norm2(toDouble(col(vec))).as("n2"))
    val a = v.select(col(id).as("vec_a"), col("v").as("va"), col("n2").as("na"))
    val b = v.select(col(id).as("vec_b"), col("v").as("vb"), col("n2").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", round(dot(col("va"), col("vb")) / sqrt(col("na") * col("nb")), CosineDp))
      .filter(col("cos_sim") >= threshold)
      .select("vec_a", "vec_b", "cos_sim")
  }

  /** The SRP hyperplanes as plain doubles — used to mirror [[srpCode]] in
    * the SQL oracle (shortest-round-trip double literals parse back to
    * the identical bits in any engine): the first `bitsB` planes of the
    * global deterministic plane sequence.
    */
  def srpPlanes(dims: Int, bitsB: Int): Seq[Seq[Double]] =
    (0 until bitsB).map(p => (0 until dims).map(d => planeComponent(p, d)))

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * md5-derived value in [-0.5, 0.5). Engine-independent, no RNG state.
    */
  private[functions] def planeComponent(plane: Int, dim: Int): Double = {
    val hex = java.security.MessageDigest
      .getInstance("MD5")
      .digest(s"p$plane:d$dim".getBytes("UTF-8"))
      .take(4)
      .map("%02x".format(_))
      .mkString
    (java.lang.Long.parseLong(hex, 16).toDouble / 0xffffffffL.toDouble) - 0.5
  }

  /** b-bit sign-random-projection code for a vector column of length `dims`,
    * built from the global plane sequence starting at `fromPlane`.
    */
  def srpCode(v: Column, dims: Int, bitsB: Int, fromPlane: Int = 0): Column = {
    val bits = (0 until bitsB).map { i =>
      val plane = array((0 until dims).map(d => lit(planeComponent(fromPlane + i, d))): _*)
      when(dot(v, plane) > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Quantize an array<double> vector to integer-valued doubles:
    * `round(x * 1e6)` per component. The point is exact arithmetic —
    * sums of integer-valued doubles below 2⁵³ are exact and therefore
    * summation-ORDER-INDEPENDENT, which makes k-means centroid updates
    * bit-reproducible across engines (a mean of raw doubles is not: its
    * value depends on the reduction order). Cosine similarity is
    * scale-invariant, so searching in quantized space changes rankings
    * only below the 1e-6 component granularity.
    */
  def quantized(v: Column): Column = transform(v, x => round(x * lit(1000000.0)))

  // ───────────────────────────────────────────────────────────────────
  // Johnson–Lindenstrauss ±1 random projection
  // ───────────────────────────────────────────────────────────────────

  /** Deterministic ±1 projection sign for (input dim `pos`, output dim
    * `kdim`): parity of the first md5 hex char of "rp:pos:kdim" — the
    * Achlioptas (2003) database-friendly J–L matrix with the catalog's
    * standard engine-independent coin (no RNG state, any engine
    * reproduces the matrix from the formula alone).
    */
  def jlSign(pos: Column, kdim: Column): Column = {
    val h = md5(concat(lit("rp:"), pos.cast("string"), lit(":"), kdim.cast("string")))
    when(ascii(substring(h, 1, 1)) % 2 === 0, 1L).otherwise(-1L)
  }

  /** J–L random projection of an embedding column to `k` dims: each
    * output coordinate is Σ_pos qv·sign(pos, kdim) over the vector's
    * EXACT milli-unit quantization (round(x·1000) — coarse enough that
    * every downstream squared distance stays far inside int64, and the
    * oracle quantizes identically so exactness is preserved
    * end-to-end). E‖y_a − y_b‖² = k·‖x_a − x_b‖², so pairwise geometry
    * survives at 1/4 the dimensions — the cheap front-end for LSH /
    * dedup over high-dim embeddings.
    *
    * Scale shape: pure map-side ×k fan-out (sequence explode) + one
    * (id, kdim)-keyed partial aggregation — no joins, no model state,
    * embarrassingly parallel at any corpus size.
    *
    * Output: (idCol, kdim, y) — k rows per vector, y in exact int64.
    */
  def jlProject(vecs: DataFrame, id: String, vec: String, k: Int): DataFrame =
    vecs
      .select(col(id), posexplode(toDouble(col(vec))).as(Seq("pos", "v")))
      .withColumn("qv", round(col("v") * 1000).cast("long"))
      .withColumn("kdim", explode(expr(s"sequence(0, ${k - 1})")))
      .groupBy(col(id), col("kdim"))
      .agg(sum(col("qv") * jlSign(col("pos"), col("kdim"))).as("y"))

  /** J–L quality report over a bounded pair set: for every pair with
    * both ids < `maxId`, the ratio ‖y_a−y_b‖² / (k·‖x_a−x_b‖²) in
    * integer basis points (≈10000 when the projection preserves the
    * pair's distance). Exact integer arithmetic end-to-end — the
    * squared distances are sums of squared int64 differences in both
    * engines.
    */
  def jlDistanceReport(
      vecs: DataFrame,
      id: String,
      vec: String,
      k: Int,
      maxId: Long): DataFrame = {
    val bounded = vecs.filter(col(id) < maxId)
    val q = bounded
      .select(col(id), posexplode(toDouble(col(vec))).as(Seq("pos", "v")))
      .withColumn("qv", round(col("v") * 1000).cast("long"))
      .select(col(id), col("pos"), col("qv"))
    val dx = q.select(col(id).as("id_a"), col("pos"), col("qv").as("qa"))
      .join(q.select(col(id).as("id_b"), col("pos"), col("qv").as("qb")), Seq("pos"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum((col("qa") - col("qb")) * (col("qa") - col("qb"))).as("dx2"))
    val p = jlProject(bounded, id, vec, k)
    val dy = p.select(col(id).as("id_a"), col("kdim"), col("y").as("ya"))
      .join(p.select(col(id).as("id_b"), col("kdim"), col("y").as("yb")), Seq("kdim"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum((col("ya") - col("yb")) * (col("ya") - col("yb"))).as("dy2"))
    dx.join(dy, Seq("id_a", "id_b"))
      .withColumn("ratio_bp",
        expr(s"CASE WHEN dx2 = 0 THEN 10000 ELSE (dy2 * 10000) DIV ($k * dx2) END"))
      .select(col("id_a"), col("id_b"), col("ratio_bp"))
  }

  /** Deterministic Lloyd k-means over the quantized embedding space —
    * trains the IVF coarse quantizer that [[ivfKnnCosine]] searches with.
    *
    * Engine-independent by construction (every step reproduces bit-exactly
    * in the SQL oracle):
    *  - init: hash-stratified seeding — the `numCells` corpus vectors with
    *    the smallest `md5(cast(id as string))` (ties by id). Plans as
    *    TakeOrderedAndProject (no global sort), and md5-order is a uniform
    *    pseudo-random draw, so seeds land spread across the data
    *    distribution instead of whatever the first ids happen to be.
    *    The seed's id doubles as the cell label.
    *  - assign: argmax cosine against broadcast centroids, similarity
    *    rounded to 4 dp, ties to the lowest cell label.
    *  - update: the new centroid of a cell is the per-dimension SUM of its
    *    members' quantized vectors — not the mean. Cosine only reads the
    *    direction, so dividing by the count is pointless, and the sum is
    *    exact integer arithmetic (order-independent) while the mean is not.
    *    Cells that lose all members in an iteration drop out (both engines
    *    drop empty groups identically).
    *
    * Scale shape (100 TB): each iteration is one narrow map over the
    * corpus (driver-held centroids embedded in one native argmax
    * expression, numCells dot products per row, no row fan-out) plus one
    * partial-aggregated groupBy of `dims` sums into ≤ numCells rows —
    * no per-iteration shuffle of the corpus itself. The centroid table
    * never exceeds numCells rows (√N at worst under [[autoCellCount]])
    * and is collected per iteration — bounded model state, the same
    * driver-side footprint the PQ codebooks already have; each
    * iteration's collect is therefore exactly one corpus pass, and the
    * returned table's lineage is one further pass (the final update
    * aggregation over literal previous-round centroids).
    *
    * Returns (cell, cv, cn2) with `cv` in quantized space.
    */
  def kmeansCentroids(
      corpus: DataFrame,
      id: String,
      vec: String,
      dims: Int,
      numCells: Int = 16): DataFrame = {
    val base = corpus
      .select(col(id).as("cid"), quantized(toDouble(col(vec))).as("qv"))
      .withColumn("qn2", norm2(col("qv")))
    val seeds = base
      .orderBy(md5(col("cid").cast("string")), col("cid"))
      .limit(numCells)
      .select(col("cid").as("cell"), col("qv").as("cv"))
    var cents = seeds.withColumn("cn2", norm2(col("cv")))
    for (_ <- 1 to LloydIters) {
      val assigned = assignToCells(base, cents)
      val sums = (0 until dims).map(dd => sum(col("qv")(dd)).as(s"s$dd"))
      cents = assigned
        .groupBy("cell")
        .agg(sums.head, sums.tail: _*)
        .select(col("cell"), array((0 until dims).map(dd => col(s"s$dd")): _*).as("cv"))
        .withColumn("cn2", norm2(col("cv")))
    }
    cents
  }

  /** Argmax-cosine cell assignment: input (cid, qv, qn2, extra…) ×
    * centroids (cell, cv, cn2) → input columns + cell. Similarity
    * rounded to 4 dp, ties to the lowest cell label (deterministic
    * total order).
    *
    * The centroid table is collected (bounded model state — ≤ numCells
    * rows, √N at worst under semantic dedup's auto-sizing) and the
    * argmax evaluated by one native [[
    * graft.functions.expressions.NativeExpressions.cellArgmax]] pass:
    * a narrow map with NO row fan-out, no aggregate, and no shuffle.
    * The broadcast-join × `max_by(struct(carry…), struct(csim, -cell))`
    * plan this replaces fanned every corpus row out to numCells joined
    * rows, each paying a carry-struct copy through the aggregate —
    * measured as the dominant term of q_semantic_dedup at sf10 once
    * numCells reached √N (448 cells × 200k rows = 9·10⁷ struct copies
    * per pass, five passes over the lazy lineage). The expression
    * reproduces the join plan's semantics bit-exactly (same dot fold,
    * same Spark `round`, same NaN-above-all/lowest-label total order) —
    * every IVF-family oracle is unchanged.
    */
  private def assignToCells(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val rows = cents.select(col("cell"), col("cv"), col("cn2")).collect()
    if (rows.isEmpty) {
      // empty centroid table (empty corpus): the old inner join produced
      // zero rows — preserve that
      return vecs.limit(0).withColumn("cell", lit(0L))
    }
    val cells = rows.map(_.getLong(0)).toSeq
    val cvs = rows.map(_.getSeq[Double](1)).toSeq
    val cn2s = rows.map(_.getDouble(2)).toSeq
    vecs.withColumn("cell",
      graft.functions.expressions.NativeExpressions
        .cellArgmax(col("qv"), col("qn2"), cells, cvs, cn2s))
  }

  /** IVF (inverted-file) approximate k-NN — the scale path for similarity
    * search that [[knnCosine]] is the brute-force baseline for.
    *
    * Index build: [[kmeansCentroids]] trains `numCells` deterministic
    * Lloyd-k-means centroids (hash-stratified seeds, [[LloydIters]] update
    * rounds) in quantized space; every corpus vector is assigned to its
    * most-cosine-similar centroid. Search: each query probes its `nProbe`
    * nearest cells and ranks only the vectors in those cells by exact
    * cosine over the ORIGINAL full-precision vectors.
    *
    * Scale shape (100 TB): centroids are tiny and BROADCAST, so cell
    * assignment is a narrow map over the corpus followed by one shuffle
    * keyed on the vector id (the argmax); in production the assignment is
    * computed once and persisted, partitioned by cell. The probe table
    * (queries × nProbe) is broadcast into the candidate join, so a search
    * touches only the probed cells' partitions — corpus work per query is
    * |corpus| · nProbe / numCells instead of |corpus|.
    *
    * Ties broken by id everywhere (similarities rounded to 4 dp first) so
    * results are total-ordered and engine-independent.
    */
  def ivfKnnCosine(
      queries: DataFrame,
      corpus: DataFrame,
      id: String,
      vec: String,
      k: Int,
      numCells: Int = 16,
      nProbe: Int = 4,
      dims: Int = 64): DataFrame = {
    val cn = kmeansCentroids(corpus, id, vec, dims, numCells)
    // The trained centroid table is ≤ numCells rows but its lineage holds
    // LloydIters full corpus passes; ivfSearch references it twice (corpus
    // assignment + query probes), so left lazy the training would run
    // once per reference. Materializing it ([[localModel]]) is the
    // index-build step — the same driver-side collect any broadcast of
    // it would do anyway — and pins training to exactly one run.
    ivfSearch(queries, corpus, id, vec, k, nProbe, localModel(cn))
  }

  /** A bounded model table (trained centroids, ≤ numCells rows)
    * collected once into a driver-side LocalRelation, so every later
    * reference reads the literal rows instead of re-running the lineage
    * that produced them.
    */
  private[graft] def localModel(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Trained-cell assignment of every corpus vector with the original
    * vector and its norm carried through: (cid, cell, v, vn2). Trains
    * [[kmeansCentroids]] (driver-looped — training runs exactly once
    * regardless of how often the result plan is referenced) and assigns
    * with the native argmax expression. The shared front half of IVF
    * search and semantic dedup.
    */
  def cellAssignments(
      corpus: DataFrame,
      id: String,
      vec: String,
      dims: Int = 64,
      numCells: Int = 16): DataFrame =
    assignWithModel(corpus, id, vec,
      kmeansCentroids(corpus, id, vec, dims, numCells))

  /** [[cellAssignments]] against an ALREADY-TRAINED centroid table —
    * the serving shape: the model is read from a persisted index (or
    * trained on a prior corpus snapshot) and new vectors are routed to
    * its cells without retraining. (cid, cell, v, vn2).
    */
  def assignWithModel(
      vecs: DataFrame, id: String, vec: String, cn: DataFrame): DataFrame = {
    val corp = vecs.select(
        col(id).as("cid"),
        quantized(toDouble(col(vec))).as("qv"),
        toDouble(col(vec)).as("v"))
      .withColumn("qn2", norm2(col("qv")))
      .withColumn("vn2", norm2(col("v")))
    assignToCells(corp, cn)
      .select(col("cid"), col("cell"), col("v"), col("vn2"))
  }

  /** The √N cell-count rule [[semanticDedup]] auto-sizes with (numCells
    * = 0): within-cell verify costs O(N²/cells · d) while k-means
    * assignment costs O(N · cells · d · LloydIters), so the total is
    * minimized at cells ≈ √N — and the EXPONENT drops from the fixed-
    * cell quadratic to N^1.5 (measured: the fixed-16-cell catalog
    * parameterization read 33×/decade at sf10 under materialization;
    * √N cells hold both terms balanced at any corpus size). Floor 16
    * keeps tiny corpora from degenerating to one or two cells; the
    * driver-held codebook stays bounded (√N rows — ~5k at a billion
    * vectors, still model state, not data).
    */
  def autoCellCount(corpusRows: Long): Int = {
    require(corpusRows >= 0, s"corpusRows must be >= 0, got $corpusRows")
    math.max(16L, math.ceil(math.sqrt(corpusRows.toDouble)).toLong)
      .min(1L << 20).toInt
  }

  /** SemDeDup-shaped semantic deduplication (Abbas et al. 2023): cluster
    * the embedding space (deterministic k-means cells), compare only
    * WITHIN cells (the cells bound the quadratic work — |corpus|²/numCells
    * expected pair candidates instead of |corpus|²), and mark a vector a
    * duplicate iff some SMALLER-id vector in its cell has cosine ≥
    * `threshold` — the parallel, order-deterministic form of "greedily
    * keep the first of each near-dup group". Returns every corpus id:
    * (id, cell, n_prior_near, dup_of = min such neighbor or −1, kept).
    *
    * `numCells = 0` (the production call) auto-sizes via
    * [[autoCellCount]] from one narrow count — a FIXED cell count makes
    * the within-cell verify quadratic in the corpus; √N holds the whole
    * pipeline at N^1.5 with the assignment and verify terms balanced.
    *
    * Why the within-cell verify is NOT code-prefiltered at this
    * threshold: a PQ/SRP code-agreement prefilter before the exact
    * cosine is sound only when it cannot drop a pair the threshold
    * keeps. At the catalog's τ = 0.4 the expected SRP bit-disagreement
    * of a boundary pair is arccos(0.4)/π ≈ 37% vs 50% for orthogonal
    * pairs — the same measurement [[srpNearDupPairs]] documents: every
    * recall-complete parameterization at cos 0.4 makes ≥ 94% of pairs
    * candidates, i.e. the prefilter prunes nothing and adds a pass.
    * And the output needs `n_prior_near` (the COUNT of qualifying
    * smaller-id neighbors), so every surviving pair's exact cosine is
    * required regardless. The honest cost cut is upstream: the native
    * argmax assignment (no |corpus|×√N row fan-out) and the
    * checkpointed single assignment pass below. For high-τ dedup, where
    * a code prefilter IS sound, see [[semanticDedupPrefiltered]].
    */
  def semanticDedup(
      corpus: DataFrame,
      id: String,
      vec: String,
      threshold: Double,
      dims: Int = 64,
      numCells: Int = 0): DataFrame = Checkpoints.scope { cp =>
    val cells =
      if (numCells > 0) numCells else autoCellCount(corpus.count())
    // the assignment is referenced three times (both sides of the
    // within-cell pair join + the final keep/left join) — checkpoint it
    // so it is computed once, exactly as production would persist the
    // cell-partitioned assignment before the verify
    val asg = cp.checkpoint(cellAssignments(corpus, id, vec, dims, cells),
      eager = false)
    val a = asg.select(
      col("cid").as("doc_a"), col("cell"),
      col("v").as("va"), col("vn2").as("na"))
    val b = asg.select(
      col("cid").as("doc_b"), col("cell"),
      col("v").as("vb"), col("vn2").as("nb"))
    val near = a.join(b, Seq("cell"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("cos",
        round(dot(col("va"), col("vb")) / sqrt(col("na") * col("nb")), CosineDp))
      .filter(col("cos") >= threshold)
    dedupDecision(asg, near, id)
  }

  /** Shared tail of [[semanticDedup]] and [[semanticDedupPrefiltered]]:
    * fold the qualifying (doc_a < doc_b, cos ≥ τ) pairs into the
    * keep-first decision — per vector the count of smaller-id qualifying
    * neighbors, the smallest such neighbor, and kept = none exists.
    */
  private def dedupDecision(
      asg: DataFrame, near: DataFrame, id: String): DataFrame = {
    val prior = near.groupBy(col("doc_b").as("cid"))
      .agg(count(lit(1)).as("n_prior_near"), min(col("doc_a")).as("dup_of"))
    asg.join(prior, Seq("cid"), "left")
      .select(
        col("cid").as(id), col("cell"),
        coalesce(col("n_prior_near"), lit(0L)).as("n_prior_near"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        col("dup_of").isNull.as("kept"))
  }

  /** [[semanticDedup]] with a recall-safe SRP-code Hamming prefilter on
    * the within-cell pairs — the high-threshold production shape.
    *
    * Every in-cell pair first compares 256-bit SRP signatures (4×64-bit
    * bands, one native [[graft.functions.expressions.SrpBank]] pass per
    * vector, computed once on the checkpointed assignment): only pairs
    * with Hamming distance ≤ `maxHamming` fetch full vectors and pay the
    * exact cosine. The DECISION RULE is untouched — threshold on the
    * exact rounded cosine — so the output is identical to
    * [[semanticDedup]] whenever the prefilter loses no qualifying pair.
    *
    * Recall safety: a pair at exactly cos = τ disagrees on an expected
    * arccos(τ)/π fraction of the 256 planes; `maxHamming < 0` auto-sizes
    * to that mean plus six binomial standard deviations —
    * ⌈256·p + 6·√(256·p(1−p))⌉, p = arccos(τ)/π — e.g. 65 bits at
    * τ = 0.92, while orthogonal in-cell pairs sit at 128 ± 8, eight σ
    * above the cut. Pairs ABOVE τ are safer still (their mean
    * disagreement is lower), so the planted-boundary A/B spec plus the
    * exact-SQL oracle pin equality in practice. The same sizing math is
    * why this is refused below τ = 0.8: the boundary-pair band and the
    * random-pair band overlap (see [[semanticDedup]]'s scaladoc) and the
    * prefilter stops pruning long before it stops being safe.
    *
    * The 6σ cut is a PER-PAIR probabilistic bound, not a guarantee: a
    * boundary pair lands beyond mean + 6σ with probability ~1e-9, so at
    * catalog scale (≤ 10⁶ in-cell pairs) an expected zero qualifying
    * pairs are dropped, but at 10¹² candidate pairs the expectation is
    * ~10³ dropped boundary pairs. At that scale pass an explicit
    * `maxHamming` sized at 8σ (~1e-15 per pair, still ≥ 4σ below the
    * random band at τ ≥ 0.9) — the prune rate degrades only marginally
    * and the expected drops return to zero.
    *
    * Pair-join width: the candidate scan shuffles (id, cell, 4 longs)
    * instead of (id, cell, 64 doubles + norm) — ~16× narrower; survivors
    * (a ~10⁻³ fraction at τ ≥ 0.9 on orthogonal-dominated cells) join
    * the full vectors back by id.
    */
  def semanticDedupPrefiltered(
      corpus: DataFrame,
      id: String,
      vec: String,
      threshold: Double,
      dims: Int = 64,
      numCells: Int = 0,
      maxHamming: Int = -1): DataFrame = Checkpoints.scope { cp =>
    require(threshold >= 0.8,
      s"SRP-code prefiltering is only recall-safe at high thresholds " +
        s"(got $threshold): below ~0.8 the boundary-pair Hamming band " +
        s"overlaps the random-pair band and pruning collapses — use " +
        s"semanticDedup, whose exact verify is the honest cost there")
    val bitsPerBand = 64
    val numBands = 4
    val bits = bitsPerBand * numBands
    val h =
      if (maxHamming >= 0) maxHamming
      else {
        val p = math.acos(threshold) / math.Pi
        math.ceil(bits * p + 6.0 * math.sqrt(bits * p * (1.0 - p))).toInt
      }
    val cells =
      if (numCells > 0) numCells else autoCellCount(corpus.count())
    val asg = cp.checkpoint(cellAssignments(corpus, id, vec, dims, cells)
      .withColumn("code", graft.functions.expressions.NativeExpressions
        .srpBank(col("v"), dims, bitsPerBand, numBands)), eager = false)
    val a = asg.select(col("cid").as("doc_a"), col("cell"), col("code").as("ca"))
    val b = asg.select(col("cid").as("doc_b"), col("cell"), col("code").as("cb"))
    val ham = (1 to numBands)
      .map(i => bit_count(element_at(col("ca"), i)
        .bitwiseXOR(element_at(col("cb"), i))).cast("int"))
      .reduce(_ + _)
    val cand = a.join(b, Seq("cell"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(ham <= lit(h))
      .select(col("doc_a"), col("doc_b"))
    val av = asg.select(col("cid").as("doc_a"), col("v").as("va"), col("vn2").as("na"))
    val bv = asg.select(col("cid").as("doc_b"), col("v").as("vb"), col("vn2").as("nb"))
    val near = cand
      .join(av, Seq("doc_a"))
      .join(bv, Seq("doc_b"))
      .withColumn("cos",
        round(dot(col("va"), col("vb")) / sqrt(col("na") * col("nb")), CosineDp))
      .filter(col("cos") >= threshold)
    dedupDecision(asg, near, id)
  }

  /** The IVF inverted list: (cid, cell) assignment of every corpus vector
    * to its trained cell. In production this is computed once and
    * persisted `partitionBy("cell")` so a probe-limited search touches
    * only the probed cells' files; it is also the balance diagnostic —
    * cell sizes should be ≈ |corpus| / numCells for the
    * |corpus|·nProbe/numCells cost claim to hold.
    */
  def ivfAssign(
      corpus: DataFrame,
      id: String,
      vec: String,
      cn: DataFrame): DataFrame = {
    val base = corpus
      .select(col(id).as("cid"), quantized(toDouble(col(vec))).as("qv"))
      .withColumn("qn2", norm2(col("qv")))
    assignToCells(base, cn).select(col("cid"), col("cell"))
  }

  /** IVF search against an explicit centroid table (cell, cv, cn2) with
    * `cv` in quantized space — the coarse quantizer is pluggable so
    * centroid-training strategies can be compared on the same search path.
    */
  def ivfSearch(
      queries: DataFrame,
      corpus: DataFrame,
      id: String,
      vec: String,
      k: Int,
      nProbe: Int,
      cn: DataFrame): DataFrame = {
    // cell assignment of the corpus (quantized space for the coarse step,
    // original vectors carried through for the exact ranking)
    val corp = corpus.select(
        col(id).as("cid"),
        quantized(toDouble(col(vec))).as("qv"),
        toDouble(col(vec)).as("v"))
      .withColumn("qn2", norm2(col("qv")))
      .withColumn("vn2", norm2(col("v")))
    val assigned = assignToCells(corp, cn)
      .select(col("cid"), col("v"), col("vn2"), col("cell"))

    // probe list: nProbe nearest cells per query (quantized space)
    val probes = probeRanking(queries, id, vec, cn, "query_id", exact = true)
      .filter(col("prn") <= nProbe)
      .select(col("query_id"), col("qv0").as("qv"), col("qn2"), col("cell"))

    // search probed cells only; probes side is small → broadcast
    broadcast(probes)
      .join(assigned, Seq("cell"))
      .withColumn("cos_sim",
        round(dot(col("qv"), col("v")) / sqrt(col("qn2") * col("vn2")), CosineDp))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("cid"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cid").as("neighbor_id"), col("cos_sim"),
        col("rank").cast("int").as("rank"))
  }

  /** IVF probe routing, the one copy every IVF search uses: each query's
    * quantized vector `pqv` against the broadcast centroid table (cell,
    * cv, cn2), cosine `psim` rounded to 4 dp, ranked per query by `prn`
    * = row_number over (psim desc, cell) — ties to the lowest cell
    * label. The query id column is named `qid`; with `exact` the
    * unquantized query vector `qv0` and its norm `qn2` ride along for
    * an exact re-score. Callers keep `prn <= nProbe`.
    */
  private def probeRanking(
      queries: DataFrame,
      id: String,
      vec: String,
      cn: DataFrame,
      qid: String = "qid",
      exact: Boolean = false): DataFrame = {
    val carried = if (exact) Seq(toDouble(col(vec)).as("qv0")) else Nil
    val qs = queries
      .select((col(id).as(qid) +: carried) :+ quantized(toDouble(col(vec))).as("pqv"): _*)
      .withColumn("pqn2", norm2(col("pqv")))
    (if (exact) qs.withColumn("qn2", norm2(col("qv0"))) else qs)
      .join(broadcast(cn))
      .withColumn("psim",
        round(dot(col("pqv"), col("cv")) / sqrt(col("pqn2") * col("cn2")), CosineDp))
      .withColumn("prn", row_number().over(
        Window.partitionBy(qid).orderBy(col("psim").desc, col("cell"))))
  }

  /** Multi-band SRP-LSH near-duplicate pairs: the scale path for
    * embedding-space near-dup detection at high thresholds.
    *
    * Each vector is coded with `numBands` independent `bitsPerBand`-bit SRP
    * codes (bands `j` uses global planes `[j*bitsPerBand, (j+1)*bitsPerBand)`);
    * candidates are pairs sharing ANY band's full code; candidates are then
    * exact-verified (`cosine` rounded to [[CosineDp]] ≥ `threshold`) and
    * dedup'd. The completeness guarantee is the SimHash pigeonhole
    * (Manku et al., WWW'07, applied to SRP codes): a pair whose
    * `numBands*bitsPerBand`-plane codes differ in at most `numBands - 1`
    * bits ALWAYS shares at least one clean band. With 16 bands × 16 bits a
    * pair is guaranteed found up to Hamming 15/256 — on 64-dim data that
    * covers cosine ≳ 0.97 with a wide margin (measured: the worst planted
    * near-dup pair at cos 0.9968 disagrees on exactly 15/256 planes and
    * still collides in ≥ 4 bands), while random pairs (cos ≈ 0) land in the
    * same 16-bit bucket with p ≈ 2⁻¹⁶ per band → candidate fraction ~0.1%.
    *
    * NOT suitable for low thresholds: at cos 0.4 the per-plane agreement is
    * 0.63 vs 0.5 for random pairs — measured on the testdata, every
    * parameterization reaching 100% recall makes ≥ 94% of all pairs
    * candidates, i.e. brute force with extra shuffles. For exhaustive
    * low-threshold ground truth use [[cosineNearDupPairs]] on a bounded
    * input.
    *
    * Plan shape (100 TB): one narrow map computes all band codes (a
    * single native [[graft.functions.expressions.SrpBank]] pass —
    * `numBands*bitsPerBand` separate dot-product expressions would cost
    * more in codegen size than arithmetic), `posexplode` to (band, code)
    * keys, equi-join per key on SKINNY (id, band, code) rows — the full
    * vectors never ride the band shuffle. Colliding id pairs are
    * `distinct`'d FIRST (a pair sharing all 16 bands costs 16 skinny
    * rows, not 16 vector copies), then the vectors are joined back once
    * per side and the exact cosine is evaluated exactly once per
    * distinct candidate pair.
    *
    * Size `bitsPerBand` to the corpus: random pairs collide in a band
    * with p = 2^-bitsPerBand, so the verify stage carries an
    * n²·numBands/2^bitsPerBand random-candidate floor on top of the true
    * near-dups (measured in the 10× scaling study: ~49k random
    * candidates at 20k vectors with 16-bit bands). Pass
    * `bitsPerBand = 0` to auto-size via [[autoBitsPerBand]]
    * (⌈log₂ n⌉ + 6, one narrow count of the input) — the floor then
    * stays LINEAR in n at every scale. Recall at true near-dup
    * thresholds is unaffected: per-plane agreement ≈ 0.994 at cos 0.997
    * makes P(no band collides) < 1e-12 for any bits ≤ 48.
    */
  def nearDupBanded(
      df: DataFrame,
      id: String,
      vec: String,
      dims: Int,
      threshold: Double,
      bitsPerBand: Int = 16,
      maxBandFreq: Int = 0): DataFrame = {
    val numBands = 16
    val base = df.select(col(id), toDouble(col(vec)).as("v"))
    val bits =
      if (bitsPerBand > 0) bitsPerBand
      else autoBitsPerBand(base.select(col(id)).count())
    val codedAll = base
      .withColumn("codes",
        graft.functions.expressions.NativeExpressions
          .srpBank(col("v"), dims, bits, numBands))
      .select(col(id), posexplode(col("codes")).as(Seq("band", "bcode")))
    // mass-identical vectors (boilerplate embeddings, undeduplicated
    // replicas) put k-dup cliques in ONE bucket per band — k²·numBands
    // join rows no band width can dilute (the r9 sf100 study measured
    // 2.6e9 pair instances from ~150-way exact-dup cliques). The cap
    // drops buckets past maxBandFreq the same way minhashCandidates
    // caps band buckets; exact duplicates are the EXACT-dedup stage's
    // job (pipeline ordering), not the near-dup verifier's.
    val coded =
      if (maxBandFreq <= 0) codedAll
      else {
        val hot = codedAll.groupBy("band", "bcode")
          .agg(count(lit(1)).as("freq"))
          .filter(col("freq") > maxBandFreq)
          .select("band", "bcode")
        codedAll.join(broadcast(hot), Seq("band", "bcode"), "left_anti")
      }
    val a = coded.select(col(id).as("vec_a"), col("band"), col("bcode"))
    val b = coded.select(col(id).as("vec_b"), col("band"), col("bcode"))
    val pairs = a.join(b, Seq("band", "bcode"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .distinct()
    val vecs = base.select(col(id), col("v"), norm2(col("v")).as("n2"))
    pairs
      .join(vecs.select(col(id).as("vec_a"), col("v").as("va"), col("n2").as("na")),
        Seq("vec_a"))
      .join(vecs.select(col(id).as("vec_b"), col("v").as("vb"), col("n2").as("nb")),
        Seq("vec_b"))
      .withColumn("cos_sim",
        round(dot(col("va"), col("vb")) / sqrt(col("na") * col("nb")), CosineDp))
      .filter(col("cos_sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
  }

  /** Band width for [[nearDupBanded]] sized to the corpus count: with
    * `bits = ⌈log₂ n⌉ + 6`, expected random band collisions are
    * n²·numBands/2^(bits+1) ≈ n·numBands/2^7 — linear in n at
    * every scale (≈ n/8 at its 16 bands) instead of the quadratic floor
    * a fixed width hits. Clamped to [16, 48]: 16 matches the historical
    * default at small corpora (the planted-pair oracle regime), 48 keeps
    * the packed code well inside an int64.
    */
  def autoBitsPerBand(n: Long): Int = {
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.min(48, math.max(16, ceilLog2 + 6))
  }

  /** Bands per swept width in [[bandWidthSweep]]; its oracle reads it
    * from here.
    */
  val SweepBands: Int = 8

  /** Band-width sensitivity sweep for [[nearDupBanded]]: for each
    * `bitsPerBand` in `widths`, one row
    * `(bits, n_candidates, n_true_found)` — the number of DISTINCT
    * band-collision candidate pairs and how many of them exact-verify at
    * `threshold`. This makes the sizing rule [[autoBitsPerBand]] encodes
    * oracle-OBSERVABLE instead of scaladoc folklore: as bits grow, the
    * random-candidate floor n²·SweepBands/2^bits collapses while
    * n_true_found stays flat (per-plane agreement at true near-dup
    * cosines keeps P(no clean band) negligible at every swept width), so
    * the knee of the candidates curve is the economical width.
    *
    * Plan shape: the per-width pipelines are independent branches of one
    * union — each is the same skinny (id, band, code) equi-join →
    * distinct-pairs → verify-once shape as [[nearDupBanded]], collapsed
    * to a single global aggregate row, so the union carries `|widths|`
    * rows total and nothing wide crosses stage boundaries.
    */
  def bandWidthSweep(
      df: DataFrame,
      id: String,
      vec: String,
      dims: Int,
      threshold: Double,
      widths: Seq[Int]): DataFrame = {
    val base = df.select(col(id), toDouble(col(vec)).as("v"))
    val vecs = base.select(col(id), col("v"), norm2(col("v")).as("n2"))
    widths.map { bits =>
      val coded = base
        .withColumn("codes",
          graft.functions.expressions.NativeExpressions
            .srpBank(col("v"), dims, bits, SweepBands))
        .select(col(id), posexplode(col("codes")).as(Seq("band", "bcode")))
      val a = coded.select(col(id).as("vec_a"), col("band"), col("bcode"))
      val b = coded.select(col(id).as("vec_b"), col("band"), col("bcode"))
      val pairs = a.join(b, Seq("band", "bcode"))
        .filter(col("vec_a") < col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
      pairs
        .join(vecs.select(col(id).as("vec_a"), col("v").as("va"), col("n2").as("na")),
          Seq("vec_a"))
        .join(vecs.select(col(id).as("vec_b"), col("v").as("vb"), col("n2").as("nb")),
          Seq("vec_b"))
        .withColumn("cos_sim",
          round(dot(col("va"), col("vb")) / sqrt(col("na") * col("nb")), CosineDp))
        .agg(
          count(lit(1)).as("n_candidates"),
          coalesce(sum(when(col("cos_sim") >= threshold, 1L).otherwise(0L)), lit(0L))
            .as("n_true_found"))
        .select(lit(bits).as("bits"), col("n_candidates"), col("n_true_found"))
    }.reduce(_.unionByName(_))
  }

  /** The two persistable index tables of a continuously-ingesting
    * embedding-dedup pipeline, computed from a vector table:
    * `vecs` = (cid, v, vn2) full-precision vectors with norms, and
    * `codes` = (cid, band, bcode) SRP band codes (one [[SrpBank]]
    * evaluation per row). A batch joins `codes` on (band, bcode) for
    * candidates and verifies against `vecs` — per-batch cost ∝ |batch|,
    * the corpus embeddings are never re-coded.
    */
  def srpIndexTables(
      df: DataFrame,
      id: String,
      vec: String,
      dims: Int,
      bitsPerBand: Int = 16,
      numBands: Int = 16): (DataFrame, DataFrame) = {
    val base = df.select(col(id).as("cid"), toDouble(col(vec)).as("v"))
      .withColumn("vn2", norm2(col("v")))
    val codes = base
      .withColumn("codes",
        graft.functions.expressions.NativeExpressions
          .srpBank(col("v"), dims, bitsPerBand, numBands))
      .select(col("cid"), posexplode(col("codes")).as(Seq("band", "bcode")))
    (base.select(col("cid"), col("v"), col("vn2")), codes)
  }

  /** Incremental embedding dedup of a batch AGAINST persisted corpus
    * index tables (from [[srpIndexTables]]): SRP band-code equi-join for
    * candidates, exact cosine ≥ `threshold` to verify, `min` corpus id
    * as the deterministic match. Every batch row classifies as
    * ('near', match_id) or ('new', −1) — the embedding analog of
    * `Dedup.incrementalDedupAgainst`.
    */
  def embedDedupAgainst(
      batch: DataFrame,
      corpusVecs: DataFrame,
      corpusCodes: DataFrame,
      id: String,
      vec: String,
      dims: Int,
      threshold: Double,
      bitsPerBand: Int = 16,
      numBands: Int = 16): DataFrame = {
    val (bVecs, bCodes) = srpIndexTables(batch, id, vec, dims, bitsPerBand, numBands)
    val cand = bCodes
      .join(
        corpusCodes.select(col("cid").as("ccid"), col("band"), col("bcode")),
        Seq("band", "bcode"))
      .select(col("cid"), col("ccid"))
      .distinct()
    val verified = cand
      .join(bVecs, Seq("cid"))
      .join(
        corpusVecs.select(
          col("cid").as("ccid"), col("v").as("cv"), col("vn2").as("cn2")),
        Seq("ccid"))
      .withColumn("cos",
        round(dot(col("v"), col("cv")) / sqrt(col("vn2") * col("cn2")), CosineDp))
      .filter(col("cos") >= threshold)
    val agg = verified.groupBy(col("cid"))
      .agg(min(col("ccid")).as("match_id"))
    bVecs.select(col("cid"))
      .join(agg, Seq("cid"), "left")
      .select(
        col("cid").as(id),
        when(col("match_id").isNotNull, lit("near")).otherwise(lit("new"))
          .as("dup_kind"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"))
  }

  /** LSH-bucketed near-dup candidates: pairs sharing an SRP hypercube code.
    * Recall is tunable via `bitsB` (fewer bits → bigger buckets → higher
    * recall, more candidates). Verify candidates with exact [[cosine]].
    */
  def lshCandidates(
      df: DataFrame,
      id: String,
      vec: String,
      dims: Int,
      bitsB: Int = 12): DataFrame = {
    val coded = df.select(col(id), toDouble(col(vec)).as("v"))
      .withColumn("code", srpCode(col("v"), dims, bitsB))
    val a = coded.select(col(id).as("vec_a"), col("v").as("va"), col("code"))
    val b = coded.select(col(id).as("vec_b"), col("v").as("vb"), col("code"))
    a.join(b, Seq("code"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), cosine(col("va"), col("vb")).as("cos_sim"))
  }

  /** Integer round-half-away-from-zero of s/n without touching floats —
    * the centroid-mean rule of [[pqEncode]], written so Spark, DuckDB and
    * driver-side Scala compute the identical value (`DIV`/`//`/`/` all
    * truncate on the non-negative operands used here).
    */
  private def roundedMean(s: Long, n: Long): Long =
    if (s >= 0) (2 * s + n) / (2 * n) else -((-2 * s + n) / (2 * n))

  /** All-subspace argmin-squared-L2 code assignment with the codebooks
    * embedded in the expression (not joined): (d, c) per subspace, ties
    * to the lowest code label. Pure int64 arithmetic, pure map-side —
    * at 100 TB the encode stage runs with zero joins and zero shuffles.
    * Implemented by the native
    * [[graft.functions.expressions.PqAssignAll]] loop: the equivalent
    * literal expression tree (numSub × codesPerSub × subDims
    * subtract-square terms) overflows the codegen method-size budget
    * and drops to interpreted eval, ~40× slower end-to-end.
    */
  private def pqAssign(qv: Column,
      books: Array[Seq[(Long, Array[Long])]], sub: Int): Column =
    graft.functions.expressions.NativeExpressions.pqAssignAll(
      qv, books.toIndexedSeq.map(_.map { case (c, cv) => (c, cv.toSeq) }), sub)

  /** Coarse (IVF centroid) and fine (PQ codebook) quantizers trained
    * CONCURRENTLY from two driver threads (guide §2.6 — actions are
    * only sequential because the driver calls them sequentially): the
    * two training chains read the same corpus but share no state, and
    * each is a short ladder of small driver-bound jobs (seed
    * TakeOrdered, per-iteration aggregate + collect) whose per-action
    * planning/codegen latency otherwise serializes. One chain's driver
    * gaps back-fill the other's — measured on q_ivfpq_indexed at sf0.1,
    * the 26-job build spent more wall in inter-job driver time than in
    * the jobs themselves. Results are identical to the sequential
    * calls (both trainers are deterministic and independent).
    */
  private def trainIvfAndPq(
      corpus: DataFrame,
      id: String,
      vec: String,
      dims: Int,
      numCells: Int,
      numSub: Int,
      codesPerSub: Int): (DataFrame, Array[Seq[(Long, Array[Long])]]) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val cnF = Future(localModel(kmeansCentroids(corpus, id, vec, dims, numCells)))
    val booksF = Future(
      pqTrain(corpus, id, vec, dims, numSub, codesPerSub))
    (Await.result(cnF, scala.concurrent.duration.Duration.Inf),
      Await.result(booksF, scala.concurrent.duration.Duration.Inf))
  }

  /** (cid, qv) projection into quantized int64 space — the shared front
    * of [[pqTrain]] / [[pqEncode]] / [[pqAnn]].
    */
  private def pqBase(corpus: DataFrame, id: String, vec: String): DataFrame =
    corpus.select(
      col(id).as("cid"),
      transform(toDouble(col(vec)),
        x => round(x * lit(1000000.0)).cast("long")).as("qv"))

  /** Trains the per-subspace PQ codebooks (see [[pqEncode]] for the
    * rules) and returns them as driver-side state: one `(code,
    * centroid)` list per subspace, ≤ `codesPerSub` entries each.
    */
  def pqTrain(
      corpus: DataFrame,
      id: String,
      vec: String,
      dims: Int = 64,
      numSub: Int = 4,
      codesPerSub: Int = 16): Array[Seq[(Long, Array[Long])]] = {
    require(dims % numSub == 0, s"dims=$dims not divisible by numSub=$numSub")
    pqTrainOnBase(pqBase(corpus, id, vec), dims / numSub, numSub, codesPerSub)
  }

  /** [[pqTrain]] over an ALREADY-QUANTIZED `(cid, qv: array<long>)`
    * base — the residual IVFADC path trains its codebooks on
    * `qv − cellCentroid` residuals, which exist only in int64 space, so
    * the trainer cannot insist on re-projecting from raw doubles.
    * Identical rules: md5-smallest seeds, argmin ties to the lowest
    * code, integer rounded-mean updates.
    */
  private[graft] def pqTrainOnBase(
      base: DataFrame,
      sub: Int,
      numSub: Int,
      codesPerSub: Int): Array[Seq[(Long, Array[Long])]] = {
    val seeds = base
      .orderBy(md5(col("cid").cast("string")), col("cid"))
      .limit(codesPerSub)
      .collect()
    var books: Array[Seq[(Long, Array[Long])]] = Array.tabulate(numSub) { mm =>
      seeds.toSeq.map(r => (r.getLong(0),
        r.getSeq[Long](1).slice(mm * sub, (mm + 1) * sub).toArray))
    }
    for (_ <- 1 to LloydIters) {
      val sums = (0 until sub).map(i => sum(col("sv")(i)).as(s"s$i"))
      val upd = base
        .withColumn("a", pqAssign(col("qv"), books, sub))
        .select(col("cid"), explode(array((0 until numSub).map { mm =>
          struct(lit(mm).as("m"),
            col("a")(mm).getField("c").as("code"),
            slice(col("qv"), mm * sub + 1, sub).as("sv"))
        }: _*)).as("e"))
        .select(col("e.m").as("m"), col("e.code").as("code"), col("e.sv").as("sv"))
        .groupBy(col("m"), col("code"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      books = Array.tabulate(numSub) { mm =>
        upd.toSeq.filter(_.getInt(0) == mm).map { r =>
          val n = r.getLong(2)
          (r.getLong(1),
            Array.tabulate(sub)(i => roundedMean(r.getLong(3 + i), n)))
        }.sortBy(_._1)
      }
    }
    books
  }

  /** Shuffle-free PQ encode of `base` (= [[pqBase]] output) against
    * trained driver-side codebooks: (vec_id, code0…, qerr).
    */
  private def pqEncodeWith(
      base: DataFrame,
      books: Array[Seq[(Long, Array[Long])]],
      sub: Int): DataFrame =
    pqCoded(base, col("qv"), books, sub, Seq(col("cid").as("vec_id")), qerr = true)

  /** The one PQ code projection: assign `base`'s int64 vector column
    * `qv` against `books` ([[pqAssign]]) and select the `lead` columns,
    * then `code0…`, then — with `qerr` — the exact int64 squared
    * quantization error summed over the subspaces.
    */
  private def pqCoded(
      base: DataFrame,
      qv: Column,
      books: Array[Seq[(Long, Array[Long])]],
      sub: Int,
      lead: Seq[Column],
      qerr: Boolean): DataFrame = {
    val codes = books.indices.map(mm => col("a")(mm).getField("c").as(s"code$mm"))
    val err =
      if (qerr) Seq(books.indices.map(mm => col("a")(mm).getField("d")).reduce(_ + _).as("qerr"))
      else Nil
    base.withColumn("a", pqAssign(qv, books, sub)).select(lead ++ codes ++ err: _*)
  }

  /** Product quantization (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI'11): split each `dims`-dim vector
    * into `numSub` subvectors, train an independent `codesPerSub`-entry
    * k-means codebook per subspace, encode every vector as `numSub`
    * small code ids — the memory-compression layer an IVF index
    * ([[ivfKnnCosine]]) pairs with at billion-vector scale (IVF-PQ).
    *
    * Engine-independent by construction, like [[kmeansCentroids]]:
    *  - quantized int64 space; squared-L2 assignment is EXACT integer
    *    arithmetic (no rounding step at all), ties to the lowest code;
    *  - seeds: the `codesPerSub` vectors with the smallest
    *    `md5(cast(id as string))` (ties by id) seed every subspace —
    *    TakeOrderedAndProject, the [[kmeansCentroids]] rule;
    *  - update: per-dimension integer rounded mean ([[roundedMean]] —
    *    PQ distance is not scale-invariant, so unlike the cosine
    *    k-means the division cannot be skipped); codes that lose all
    *    members drop out in both engines alike.
    *
    * Scale shape (100 TB): codebook state is ≤ `numSub × codesPerSub`
    * rows and lives on the driver between rounds (the same bounded
    * collect the IVF index build does); each training round is ONE
    * narrow corpus pass — per-subspace assignment is a literal-folded
    * argmin projection, and the update aggregates `numSub` rows per
    * vector down to ≤ numSub·codesPerSub rows with map-side partials.
    * The final encode is a single shuffle-free projection. Total:
    * [[LloydIters]] + 1 corpus scans, no corpus shuffle anywhere.
    *
    * Returns (vec_id, code0…code{numSub−1}, qerr) with `qerr` the exact
    * int64 squared quantization error of the encoded vector.
    */
  def pqEncode(
      corpus: DataFrame,
      id: String,
      vec: String,
      dims: Int = 64,
      numSub: Int = 4,
      codesPerSub: Int = 16): DataFrame = {
    val books = pqTrain(corpus, id, vec, dims, numSub, codesPerSub)
    pqEncodeWith(pqBase(corpus, id, vec), books, dims / numSub)
  }

  /** Hard bound on the query side of [[pqAnn]] / [[ivfPqAnn]]: both
    * collect the query vectors driver-side and build one ADC distance
    * table per query (the tables ride the plan as literals / a
    * broadcast row each), so memory and plan size are linear in the
    * query count. 1024 queries × numSub maps of ≤ codesPerSub entries
    * is a few MB — the same order as the broadcast query side of
    * [[knnCosine]]. Larger query sets must be searched in batches (or
    * pre-filtered); exceeding the bound is a contract error, not a
    * silent slow path.
    */
  val MaxPqQueries: Int = 1024

  /** Driver-side collect of the query vectors in quantized int64 space,
    * enforcing [[MaxPqQueries]] (the limit+1 read means the check never
    * scans more than MaxPqQueries+1 rows).
    */
  private def collectPqQueries(
      queries: DataFrame, id: String, vec: String): Array[(Long, Seq[Long])] = {
    val rows = pqBase(queries, id, vec).limit(MaxPqQueries + 1).collect()
    require(rows.length <= MaxPqQueries,
      s"pqAnn/ivfPqAnn collect the query vectors driver-side and build one " +
        s"literal ADC distance table per query; the query side is bounded at " +
        s"MaxPqQueries=$MaxPqQueries rows and the input exceeds it — " +
        "pre-filter the query set or search in batches")
    rows.map(r => (r.getLong(0), r.getSeq[Long](1)))
  }

  /** The exact int64 ADC distance tables of one query vector `q`
    * (Jégou et al. TPAMI'11 §IV): per subspace `mm`, the squared L2
    * distance from `q`'s `mm`-th `sub`-dim slice to every centroid of
    * codebook `mm`, as (code, distance) pairs in codebook order. The
    * residual search passes the query's residual against a cell mean.
    */
  private def adcTables(
      q: Seq[Long], books: Array[Seq[(Long, Array[Long])]], sub: Int): Seq[Seq[(Long, Long)]] =
    books.indices.map { mm =>
      val qsv = q.slice(mm * sub, (mm + 1) * sub)
      books(mm).map { case (code, cv) =>
        (code, cv.indices.map { i => val d = qsv(i) - cv(i); d * d }.sum)
      }
    }

  /** [[adcTables]] as maps for every query of `qRows`, looked up by
    * (qid, cell): the raw-vector searches share one table set across all
    * cells a query probes.
    */
  private def queryTables(
      qRows: Array[(Long, Seq[Long])],
      books: Array[Seq[(Long, Array[Long])]],
      sub: Int): (Long, Long) => Seq[Map[Long, Long]] = {
    val dts = qRows.map { case (qid, qv) => qid -> adcTables(qv, books, sub).map(_.toMap) }.toMap
    (qid, _) => dts(qid)
  }

  /** PQ ANN search by asymmetric distance computation (ADC —
    * Jégou et al. TPAMI'11 §IV): the corpus is represented ONLY by its
    * PQ codes; for each query the `numSub × codesPerSub` table of exact
    * int64 squared-L2 distances from the query's subvectors to every
    * codebook centroid is computed driver-side and folded into the plan
    * as a literal map, so scoring a corpus vector is `numSub` map
    * lookups + adds.
    *
    * Scale shape (100 TB): encode is the [[pqEncodeWith]] shuffle-free
    * projection; scoring explodes each corpus row into |queries| skinny
    * (qid, neighbor, adc) rows map-side; the only shuffle is the
    * per-query top-k, which the rank-filter plans as a partial
    * WindowGroupLimit (bounded state per task). Query count is bounded
    * by [[MaxPqQueries]] (enforced — they are literals in the plan),
    * exactly like the broadcast query side of [[knnCosine]].
    *
    * This is a FLAT scan: every corpus code row is scored for every
    * query. Correct and linear, but at index scale the coarse IVF layer
    * exists precisely to prune it — use [[ivfPqAnn]] when the corpus is
    * big enough that |corpus| · |queries| map lookups dominate.
    *
    * Returns (qid, neighbor_id, adc, rank ≤ k); ties broken by
    * neighbor_id — fully deterministic, exact integer ADC.
    */
  def pqAnn(
      queries: DataFrame,
      corpus: DataFrame,
      id: String,
      vec: String,
      k: Int = 10,
      dims: Int = 64,
      numSub: Int = 4,
      codesPerSub: Int = 16): DataFrame = {
    val sub = dims / numSub
    val qRows = collectPqQueries(queries, id, vec) // fail fast before training
    val books = pqTrain(corpus, id, vec, dims, numSub, codesPerSub)
    val codes = pqEncodeWith(pqBase(corpus, id, vec), books, sub)
    val qStructs = qRows.map { case (qid, qv) =>
      val adc = adcTables(qv, books, sub).zipWithIndex.map { case (tbl, mm) =>
        element_at(
          map_from_arrays(lit(tbl.map(_._1).toArray), lit(tbl.map(_._2).toArray)),
          col(s"code$mm"))
      }.reduce(_ + _)
      struct(lit(qid).as("qid"), adc.as("adc"))
    }
    codes
      .select(col("vec_id").as("neighbor_id"), explode(array(qStructs.toIndexedSeq: _*)).as("e"))
      .select(col("e.qid").as("qid"), col("neighbor_id"), col("e.adc").as("adc"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc"), col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  /** IVF-PQ ANN search (Jégou et al. TPAMI'11 §V) — the composition of
    * the coarse IVF layer ([[kmeansCentroids]] cells, as in
    * [[ivfKnnCosine]]) with PQ/ADC scoring ([[pqAnn]]): every corpus
    * vector's PQ codes live in its IVF cell's inverted list, a query
    * routes to its `nProbe` most-similar cells and ADC-scores ONLY the
    * codes in those cells. This is the scale shape [[pqAnn]]'s flat
    * scan lacks: corpus work per query is |corpus| · nProbe / numCells
    * map lookups instead of |corpus|.
    *
    * Index build (one corpus pass after the bounded training collects):
    * cell assignment is the broadcast-centroid argmax and the PQ encode
    * is the literal-codebook projection — both map-side, fused into a
    * single pass; the only corpus shuffle is the assignment argmax
    * (groupBy id). In production the (cell, codes) table is persisted
    * `partitionBy("cell")` so a search touches only probed cells'
    * files.
    *
    * Search ([[searchProbed]]): the probe list (query × nProbe cells)
    * is computed in-engine against the broadcast centroids by
    * [[probeRanking]], the routing [[ivfSearch]] uses too, then
    * collected (≤ [[MaxPqQueries]] × nProbe rows) and joined back
    * BROADCAST, each probe row carrying
    * its query's per-subspace ADC distance tables as map columns. The
    * scored row set is the equi-join of the corpus code table with the
    * probe table ON THE CELL ID — no full-corpus fan-out — and the
    * per-query top-k plans as a partial WindowGroupLimit.
    *
    * Exact int64 ADC ([[adcTables]]), probes rounded and tie-broken by
    * [[probeRanking]], all ties broken by id: fully deterministic,
    * engine-independent. Returns (qid, neighbor_id, adc, rank ≤ k).
    */
  def ivfPqAnn(
      queries: DataFrame,
      corpus: DataFrame,
      id: String,
      vec: String,
      k: Int = 10,
      dims: Int = 64,
      numSub: Int = 4,
      codesPerSub: Int = 16,
      numCells: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val qRows = collectPqQueries(queries, id, vec) // fail fast before training

    // coarse quantizer (trained IVF centroids, ≤ numCells rows driver-
    // side) and fine quantizer (PQ codebooks, ≤ numSub × codesPerSub)
    // trained concurrently — independent chains, see [[trainIvfAndPq]]
    val (localCn, books) = trainIvfAndPq(
      corpus, id, vec, dims, numCells, numSub, codesPerSub)

    // corpus index: ONE pass assigns each vector to its IVF cell
    // (broadcast argmax) AND encodes its PQ codes (literal-codebook
    // projection) — the (cell, code0…) inverted-list table
    val codes = encodeWithModel(corpus, localCn, books, id, vec)
    searchProbed(queries, id, vec, localCn, numSub, k, nProbe)(
      queryTables(qRows, books, dims / numSub), _ => codes)
  }

  /** The probe-limited ADC search every IVF-PQ search ends in: route
    * each query to its `nProbe` cells ([[probeRanking]], collected —
    * ≤ MaxPqQueries × nProbe rows), attach each probe's ADC maps
    * `tables(qid, cell)` to its row ([[probeTable]]), and score the code
    * table `codes(probed cell ids, ascending)` with [[scoreProbed]]:
    * an equi-join on the cell id — only codes in probed cells are ever
    * scored — then the partial-top-k window.
    */
  private def searchProbed(
      queries: DataFrame,
      id: String,
      vec: String,
      localCn: DataFrame,
      numSub: Int,
      k: Int,
      nProbe: Int)(
      tables: (Long, Long) => Seq[Map[Long, Long]],
      codes: Seq[Long] => DataFrame): DataFrame = {
    val probes = probeRanking(queries, id, vec, localCn)
      .filter(col("prn") <= nProbe)
      .select(col("qid"), col("cell"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val probeDf = probeTable(queries.sparkSession, numSub, probes)(tables)
    scoreProbed(codes(probes.map(_._2).distinct.sorted), probeDf, numSub, k)
  }

  /** The broadcast probe table: one row (qid, cell, dt0…) per probed
    * (query, cell), carrying that probe's per-subspace ADC maps
    * `tables(qid, cell)`.
    */
  private def probeTable(
      spark: org.apache.spark.sql.SparkSession,
      numSub: Int,
      probes: Seq[(Long, Long)])(
      tables: (Long, Long) => Seq[Map[Long, Long]]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, MapType, StructField, StructType}
    val rows = probes.map { case (qid, cell) => Row.fromSeq(qid +: cell +: tables(qid, cell)) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(StructField("qid", LongType) +: StructField("cell", LongType) +:
        (0 until numSub).map(mm => StructField(s"dt$mm", MapType(LongType, LongType)))))
  }

  /** Assign-and-encode one pass against a TRAINED model: every vector
    * gets its IVF cell (broadcast-centroid argmax) and its PQ codes
    * (literal-codebook projection) — (neighbor_id, cell, code0…).
    * Shared by the transient search, the index writer, the probe sweep
    * and the streaming ingest, so an appended batch is encoded
    * bit-identically to the original build.
    */
  private[graft] def encodeWithModel(
      vecs: DataFrame,
      localCn: DataFrame,
      books: Array[Seq[(Long, Array[Long])]],
      id: String,
      vec: String): DataFrame =
    pqCoded(assignToCells(quantizedBoth(vecs, id, vec), localCn), col("lqv"),
      books, books.head.head._2.length, Seq(col("cid").as("neighbor_id"), col("cell")),
      qerr = false)

  /** (cid, qv, lqv, qn2): the quantized vector both as doubles (`qv`,
    * with its norm `qn2`, for the cosine cell argmax) and as int64
    * (`lqv`, for PQ and residual arithmetic) — the front of every
    * assign-and-encode pass.
    */
  private def quantizedBoth(vecs: DataFrame, id: String, vec: String): DataFrame =
    vecs.select(
        col(id).as("cid"),
        quantized(toDouble(col(vec))).as("qv"),
        transform(toDouble(col(vec)),
          x => round(x * lit(1000000.0)).cast("long")).as("lqv"))
      .withColumn("qn2", norm2(col("qv")))

  /** The trained model of a persisted index ([[writeIvfPqIndex]]):
    * (centroid LocalRelation, PQ codebooks) — both driver-side bounded.
    */
  def readIndexModel(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String): (DataFrame, Array[Seq[(Long, Array[Long])]]) = {
    val localCn = localModel(spark.read.parquet(s"$indexDir/centroids"))
    val rows = spark.read.parquet(s"$indexDir/codebooks").collect()
    val numSub = rows.map(_.getInt(0)).max + 1
    val books = Array.tabulate(numSub) { mm =>
      rows.filter(_.getInt(0) == mm)
        .map(r => (r.getLong(1), r.getSeq[Long](2).toArray))
        .sortBy(_._1).toSeq
    }
    (localCn, books)
  }

  /** The ADC scoring tail of [[searchProbed]] and
    * [[ivfPqProbeSweep]]: broadcast the probe table (each row carrying
    * its query's per-subspace distance maps) onto the code table by
    * cell id, sum the `numSub` map lookups, partial-top-k per query.
    */
  private def scoreProbed(
      codes: DataFrame, probeDf: DataFrame, numSub: Int, k: Int): DataFrame =
    codes
      .join(broadcast(probeDf), Seq("cell"))
      .withColumn("adc",
        (0 until numSub).map(mm =>
          element_at(col(s"dt$mm"), col(s"code$mm"))).reduce(_ + _))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc"), col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("neighbor_id"), col("adc"), col("rank"))

  /** Candidate multiple of [[ivfPqAnnRerank]]: k′ = RerankFactor × k. */
  val RerankFactor: Int = 4

  /** IVF-PQ search with exact re-ranking (Jégou et al. TPAMI'11 §V-C):
    * the ADC scores that rank candidates inside [[ivfPqAnn]] are
    * quantization APPROXIMATIONS — the final ordering can be wrong
    * within a few rank positions even when the true neighbor set is
    * probed. The §V-C refinement takes a candidate top-k′ (k′ =
    * [[RerankFactor]] × k) from the probe-limited ADC search, joins back
    * ONLY those k′ candidates' original vectors, and re-ranks them by
    * exact cosine — recovering exact-ordering quality at the cost of
    * k′ full-vector distance computations per query instead of
    * |corpus|.
    *
    * Scale shape (100 TB): the candidate set is bounded
    * (≤ [[MaxPqQueries]] × k′ rows) and BROADCAST onto the corpus
    * scan, so the join-back reads corpus vectors in one pass with a
    * broadcast hash join — no corpus shuffle; the query vectors ride a
    * second broadcast (the [[knnCosine]] idiom). Exactly k′ rows per
    * query reach the cosine operator (spec-pinned), and the per-query
    * top-k plans as a partial WindowGroupLimit.
    *
    * Exact arithmetic discipline: cosine in raw double space rounded
    * to 4 dp before ranking, ties by neighbor id — identical to
    * [[knnCosine]], so the result is engine-independent. Returns
    * (qid, neighbor_id, cos_sim, rank ≤ k).
    */
  def ivfPqAnnRerank(
      queries: DataFrame,
      corpus: DataFrame,
      id: String,
      vec: String,
      k: Int = 10,
      dims: Int = 64,
      numSub: Int = 4,
      codesPerSub: Int = 16,
      numCells: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val kPrime = k * RerankFactor
    val cand = ivfPqAnn(queries, corpus, id, vec, kPrime, dims, numSub,
        codesPerSub, numCells, nProbe)
      .select(col("qid"), col("neighbor_id"))
    val nbrs = corpus.select(col(id).as("neighbor_id"), toDouble(col(vec)).as("nv"))
    val qs   = queries.select(col(id).as("qid"), toDouble(col(vec)).as("rqv"))
    nbrs
      .join(broadcast(cand), Seq("neighbor_id")) // corpus pass pruned to the k′ candidates
      .join(broadcast(qs), Seq("qid"))
      .withColumn("cos_sim", round(
        dot(col("rqv"), col("nv")) / sqrt(norm2(col("rqv")) * norm2(col("nv"))), 4))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("neighbor_id"), col("cos_sim"), col("rank"))
  }

  /** Trained residual-IVFADC model state, shared by
    * [[ivfPqResidualEncode]] and [[ivfPqAnnResidual]]: the coarse
    * centroid LocalRelation (sum-centroids, for cosine probe routing),
    * the per-cell integer MEAN centroids (for residual subtraction —
    * PQ distance is not scale-invariant, so unlike the routing
    * centroids these must be true means), the residual-trained PQ
    * codebooks, and the residual base `(cid, cell, qv)` with
    * `qv = quantized(vec) − cellMean(cell)` in exact int64 space.
    *
    * Every piece of driver-side state is bounded: ≤ numCells mean
    * centroids (one grouped aggregate collapses the corpus to
    * numCells×(dims+1) longs map-side before the collect), ≤ numSub ×
    * codesPerSub codebook rows.
    */
  private def residualModel(
      corpus: DataFrame,
      id: String,
      vec: String,
      dims: Int,
      numSub: Int,
      codesPerSub: Int,
      numCells: Int): (DataFrame, Map[Long, Array[Long]],
        Array[Seq[(Long, Array[Long])]], DataFrame) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    require(dims % numSub == 0, s"dims=$dims not divisible by numSub=$numSub")
    val sub   = dims / numSub
    val spark = corpus.sparkSession

    // coarse quantizer (ivfPqAnn's): trained sum-centroids,
    // materialized driver-side for broadcast assignment + probe routing
    val localCn = localModel(kmeansCentroids(corpus, id, vec, dims, numCells))

    // one corpus pass: quantized vector (double for the cosine argmax,
    // long for the residual arithmetic) + trained-cell assignment
    val asg = assignToCells(quantizedBoth(corpus, id, vec), localCn)

    // per-cell integer mean centroids: the grouped sums collapse to
    // ≤ numCells rows before this bounded collect; rounded-mean division
    // happens driver-side with the same roundedMean rule as pqTrain
    val sums = (0 until dims).map(dd => sum(col("lqv")(dd)).as(s"s$dd"))
    val cmeans: Map[Long, Array[Long]] = asg
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), sums: _*)
      .collect()
      .map { r =>
        val n = r.getLong(1)
        r.getLong(0) -> Array.tabulate(dims)(i => roundedMean(r.getLong(2 + i), n))
      }.toMap
    val cmDf = spark.createDataFrame(
      java.util.Arrays.asList(cmeans.toSeq.sortBy(_._1).map {
        case (c, v) => Row(c, v.toSeq)
      }: _*),
      StructType(Seq(StructField("cell", LongType),
        StructField("cmv", ArrayType(LongType)))))

    // residual base: rv = quantized(vec) − mean(cell), exact int64 —
    // a broadcast equi-join on the ≤ numCells mean table, zero shuffle
    val rbase = asg
      .join(broadcast(cmDf), Seq("cell"))
      .select(col("cid"), col("cell"),
        zip_with(col("lqv"), col("cmv"), (x, y) => x - y).as("qv"))

    // fine quantizer trained on the RESIDUALS (Jégou §V: residual
    // energy ≪ vector energy, so the same code budget quantizes finer)
    val books = pqTrainOnBase(
      rbase.select(col("cid"), col("qv")), sub, numSub, codesPerSub)
    (localCn, cmeans, books, rbase)
  }

  /** Residual-IVFADC corpus encode (Jégou et al. TPAMI'11 §V, eq. 27):
    * every vector is PQ-encoded as its residual `x − cellMean(cell)`
    * against codebooks TRAINED on residuals — vs [[ivfPqAnn]]'s raw
    * encode, the same `numSub × log₂(codesPerSub)` bits quantize a
    * vector population whose energy the coarse quantizer has already
    * removed, so quantization error strictly drops (spec-pinned).
    * Returns (vec_id, cell, code0…, qerr) with `qerr` the exact int64
    * squared residual-quantization error.
    */
  def ivfPqResidualEncode(
      corpus: DataFrame,
      id: String,
      vec: String,
      dims: Int = 64,
      numSub: Int = 4,
      codesPerSub: Int = 16,
      numCells: Int = 16): DataFrame = {
    val (_, _, books, rbase) = residualModel(
      corpus, id, vec, dims, numSub, codesPerSub, numCells)
    pqCoded(rbase, col("qv"), books, dims / numSub,
      Seq(col("cid").as("vec_id"), col("cell")), qerr = true)
  }

  /** Residual IVF-PQ ANN search — the TRUE IVFADC of Jégou et al.
    * TPAMI'11 §V: [[ivfPqAnn]] composes the IVF cells with PQ codes of
    * the RAW vectors, which is the simplification the paper explicitly
    * improves on (eq. 27): here each inverted list stores PQ codes of
    * the residual `x − cellMean(cell)`, and a query's ADC distance
    * table is computed from ITS residual `q − cellMean(cell)` — one
    * table per (query, probed cell) instead of per query, since the
    * residual depends on which cell is being probed.
    *
    * Same scale shape as [[ivfPqAnn]]: the probe table (≤
    * [[MaxPqQueries]] × nProbe rows, each carrying its (query, cell)
    * ADC maps) is BROADCAST onto the code table with an equi-join on
    * the cell id — only probed cells' codes are ever scored — and the
    * per-query top-k plans as a partial WindowGroupLimit. The extra
    * cost vs the raw composition is driver-side only: nProbe distance
    * tables per query instead of one.
    *
    * Exact int64 ADC over residuals ([[adcTables]] of the query
    * residual), routing/rounding/ties by [[probeRanking]] and scoring by
    * [[searchProbed]], as in [[ivfPqAnn]]. Returns (qid, neighbor_id,
    * adc, rank ≤ k).
    */
  def ivfPqAnnResidual(
      queries: DataFrame,
      corpus: DataFrame,
      id: String,
      vec: String,
      k: Int = 10,
      dims: Int = 64,
      numSub: Int = 4,
      codesPerSub: Int = 16,
      numCells: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val sub   = dims / numSub
    val qMap  = collectPqQueries(queries, id, vec).toMap // fail fast before training

    val (localCn, cmeans, books, rbase) = residualModel(
      corpus, id, vec, dims, numSub, codesPerSub, numCells)

    // inverted lists: (neighbor_id, cell, code0…) — residual codes
    val codes = pqCoded(rbase, col("qv"), books, sub,
      Seq(col("cid").as("neighbor_id"), col("cell")), qerr = false)

    // probe routing is [[probeRanking]]'s, as for ivfPqAnn — cosine of
    // the raw query against the sum-centroids (routing reads direction
    // only); the per-(query, cell) ADC tables come from the QUERY
    // RESIDUAL wrt that cell's mean
    searchProbed(queries, id, vec, localCn, numSub, k, nProbe)({ (qid, cell) =>
      val qv = qMap(qid)
      val cm = cmeans(cell)
      adcTables(cm.indices.map(i => qv(i) - cm(i)), books, sub).map(_.toMap)
    }, _ => codes)
  }

  /** nProbe sensitivity sweep for [[ivfPqAnn]] — the probe-count
    * analog of [[bandWidthSweep]]: for each `nProbe` in `probeArms`,
    * one row `(n_probe, n_hits, n_results)` where `n_hits` counts how
    * many of the flat-ADC top-k results (= probing EVERY cell, the
    * [[pqAnn]] scan) the probe-limited search recovers, over all
    * queries, and `n_results` is the ARM'S OWN result count: below
    * queries × k when its probed cells hold fewer than k codes. Recall
    * against the flat top-k is therefore `n_hits` over the full arm's
    * `n_results`, not over the arm's own. This makes the
    * |corpus|·nProbe/numCells cost-vs-recall trade oracle-OBSERVABLE
    * instead of scaladoc folklore: as nProbe grows toward numCells,
    * n_hits climbs to the full arm's n_results while scored-row cost
    * climbs linearly — the knee is the economical probe count.
    *
    * The index is trained ONCE (same deterministic build as
    * [[ivfPqAnn]]); every arm reuses the same codes, probe ranking and
    * ADC tables, so the sweep costs one training + |arms| scoring
    * passes over probed cells. Each arm is a [[probeTable]] of a
    * prefix of one [[probeRanking]], scored by [[scoreProbed]] —
    * [[ivfPqAnn]]'s helpers — so the flat reference arm is exactly
    * `nProbe = numCells`, which the equality spec pins to [[pqAnn]].
    */
  def ivfPqProbeSweep(
      queries: DataFrame,
      corpus: DataFrame,
      id: String,
      vec: String,
      k: Int,
      probeArms: Seq[Int],
      dims: Int = 64,
      numSub: Int = 4,
      codesPerSub: Int = 16,
      numCells: Int = 16): DataFrame = Checkpoints.scope { cp =>
    val qRows = collectPqQueries(queries, id, vec)

    // both quantizers trained concurrently (see [[trainIvfAndPq]])
    val (localCn, books) = trainIvfAndPq(
      corpus, id, vec, dims, numCells, numSub, codesPerSub)
    // one assignment+encode pass for all arms
    val codes = cp.checkpoint(encodeWithModel(corpus, localCn, books, id, vec),
      eager = false)

    // full probe ranking once; each arm is a prn-prefix of it
    val ranked = probeRanking(queries, id, vec, localCn)
      .select(col("qid"), col("cell"), col("prn"))
      .collect().toSeq
    val tables = queryTables(qRows, books, dims / numSub)
    def probeDfUpTo(nProbe: Int) = probeTable(corpus.sparkSession, numSub,
      ranked.filter(_.getInt(2) <= nProbe).map(r => (r.getLong(0), r.getLong(1))))(tables)

    val full = cp.checkpoint(scoreProbed(codes, probeDfUpTo(numCells), numSub, k)
      .select(col("qid"), col("neighbor_id")), eager = false)
    probeArms.map { p =>
      scoreProbed(codes, probeDfUpTo(p), numSub, k)
        .select(col("qid"), col("neighbor_id"))
        .join(full.withColumn("hit", lit(1L)), Seq("qid", "neighbor_id"), "left")
        .agg(
          coalesce(sum(col("hit")), lit(0L)).as("n_hits"),
          count(lit(1)).as("n_results"))
        .select(lit(p).as("n_probe"), col("n_hits"), col("n_results"))
    }.reduce(_.unionByName(_))
  }

  /** Persist the IVF-PQ index that [[ivfPqAnn]] builds transiently:
    *
    *  - `<dir>/codes` — the inverted lists: (neighbor_id, code0…),
    *    written `partitionBy("cell")` so each cell is its own
    *    directory. THIS is what makes the probe-limited search claim
    *    physical: a search filters on the probed cell ids and the
    *    parquet source prunes to those directories — unprobed cells
    *    are never read ([[ivfPqAnnIndexed]]; spec-pinned via the
    *    scan's partition count).
    *  - `<dir>/centroids` — the ≤ numCells coarse-quantizer rows.
    *  - `<dir>/codebooks` — the ≤ numSub × codesPerSub PQ codebook
    *    rows (m, code, cv).
    *
    * Training and encoding are exactly [[ivfPqAnn]]'s (deterministic,
    * engine-independent), so searches over the persisted index equal
    * the transient composition bit-for-bit.
    */
  def writeIvfPqIndex(
      corpus: DataFrame,
      id: String,
      vec: String,
      dir: String,
      dims: Int = 64,
      numSub: Int = 4,
      codesPerSub: Int = 16,
      numCells: Int = 16): Unit = {
    val spark = corpus.sparkSession
    // both quantizers trained concurrently (see [[trainIvfAndPq]])
    val (localCn, books) = trainIvfAndPq(
      corpus, id, vec, dims, numCells, numSub, codesPerSub)
    // a RETRAIN invalidates every inverted list encoded under the old
    // model — streamed batch=<id> directories included (their codes AND
    // cell routings are meaningless against new centroids/codebooks), so
    // the whole index (codes/ tree and model) is replaced in one swap by
    // the base build (ADVICE r8): a reader never pairs new codes with an
    // old model. The version stamp closes the remaining race (an ingest
    // writing a stale batch AFTER the swap): every batch directory
    // carries the model fingerprint it was encoded under, and
    // [[ivfPqAnnIndexed]] refuses to score mismatched batches.
    Stores.publishReplace(spark, dir) { tmp =>
      // the base build is batch=-1; streaming ingest
      // (graft.streaming.Pipelines.ivfPqIngest) appends batch=<id>
      // directories with the SAME two-level batch=/cell= layout, so
      // partition discovery stays uniform and cell pruning spans both
      writeCellLayer(encodeWithModel(corpus, localCn, books, id, vec),
        Stores.batchDir(s"$tmp/codes", -1), modelVersion(localCn, books))
      localCn.write.parquet(s"$tmp/centroids")
      import spark.implicits._
      books.zipWithIndex.toSeq
        .flatMap { case (bk, mm) => bk.map { case (c, cv) => (mm, c, cv.toSeq) } }
        .toDF("m", "code", "cv")
        .coalesce(1).write.parquet(s"$tmp/codebooks")
    }
  }

  /** Deterministic fingerprint of a trained IVF-PQ model (centroids +
    * codebooks): the version every inverted-list batch directory is
    * stamped with (`_model_version` — the leading underscore keeps it
    * invisible to parquet partition discovery), so lists encoded under
    * a superseded model are detectable instead of silently scored with
    * the wrong ADC tables after an offline retrain.
    */
  private[graft] def modelVersion(
      localCn: DataFrame, books: Array[Seq[(Long, Array[Long])]]): String = {
    val cn = localCn.collect()
      .map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
        case x => String.valueOf(x)
      }.mkString("|"))
      .sorted.mkString(";")
    val bk = books.zipWithIndex.map { case (b, mm) =>
      s"$mm:" + b.map { case (c, cv) => s"$c=${cv.mkString(",")}" }.mkString(";")
    }.mkString("#")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$cn##$bk".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** The model-fingerprint stamp of an inverted-list / assignment batch
    * directory ([[modelVersion]]); the leading underscore keeps it
    * invisible to parquet partition discovery.
    */
  private[graft] val ModelVersionMarker = "_model_version"

  /** The max-id stamp of a batch directory — the cheap driver-side
    * record that lets [[requireAppendOnlyIds]] enforce the append-only
    * id discipline without scanning the store's data files.
    */
  private val MaxIdMarker = "_max_cid"

  /** Enforce the append-only id discipline the incremental semantic
    * paths' "replay == incremental" contract rests on: every id in the
    * incoming batch must lie ABOVE every id already in the index. A
    * violating batch would silently diverge from the documented
    * full-recompute equivalence — an indexed vector can never be marked
    * duplicate of a batch vector, so a batch id below an indexed prior
    * flips which side of a near-pair survives. Max indexed id comes from
    * the per-batch `_max_cid` stamps (O(#batches) tiny driver reads, no
    * data scan); directories without a stamp (none are produced by this
    * code) are skipped rather than failing closed.
    */
  private def requireAppendOnlyIds(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      batchMinId: Long,
      op: String): Unit = {
    val maxIndexed = listBatchDirs(spark, indexDir, "assign")
      .flatMap(d => Stores.readMarker(spark, d, MaxIdMarker).map(_.trim.toLong))
    maxIndexed.reduceOption(_ max _).foreach { m =>
      require(batchMinId > m,
        s"$op: batch min id $batchMinId is not above the max indexed id " +
          s"$m — the incremental decision is only equivalent to a full " +
          "recompute under append-only ids (an indexed vector can never " +
          "be marked dup of a batch vector); renumber the batch or " +
          "rebuild the index over the union")
    }
  }

  /** The committed batch directories of a persisted index's `sub`
    * store (`codes/` for IVF-PQ, `assign/` for the semantic-dedup index).
    */
  private def listBatchDirs(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      sub: String = "codes"): Seq[String] =
    Stores.batchIds(spark, s"$indexDir/$sub").map(Stores.batchDir(s"$indexDir/$sub", _))

  /** Every batch directory must carry the CURRENT model's version stamp;
    * a mismatch means lists encoded under a superseded model survived a
    * retrain (or an ingest raced one) — scoring them would silently
    * return wrong neighbors, so refuse loudly instead.
    */
  private def requireCurrentModel(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      current: String,
      op: String,
      sub: String = "codes"): Unit =
    listBatchDirs(spark, indexDir, sub).foreach { d =>
      val v = Stores.readMarker(spark, d, ModelVersionMarker)
      require(v.contains(current),
        s"$op: inverted-list directory $d was encoded under model " +
          s"${v.getOrElse("<unstamped>")} but the index model is $current — " +
          "a retrain superseded these lists (or an ingest raced one); " +
          "re-run the ingest against the current model or rebuild the index")
    }

  /** Fold the accumulated inverted-list batches of a persisted index
    * (base `batch=-1` plus every streamed `batch=<id>` appended by
    * [[graft.streaming.Pipelines.ivfPqIngest]]) back into the single
    * per-cell base layout — the index-side analog of the cold archive's
    * small-file compaction: per-trigger appends are O(batch) and leave
    * one file per touched cell per batch, so a long-running stream
    * accumulates numCells × batches small files and partition-discovery
    * cost grows with the batch count. Compaction rewrites the SAME rows
    * (verified against the current model version first — folding stale
    * lists would bake a superseded encoding into the base) into one
    * file per cell under a fresh `batch=-1`, then atomically swaps the
    * codes/ tree. Search results are identical before and after; cell
    * pruning is preserved (the layout is exactly the base build's). The
    * swap is [[Stores.foldAndSwap]]'s; the folded layer is always the
    * base `batch=-1`, not the highest streamed id, because the base
    * layout is what a fresh build writes.
    */
  def compactIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit = {
    val (localCn, books) = readIndexModel(spark, indexDir)
    val version = modelVersion(localCn, books)
    requireCurrentModel(spark, indexDir, version, "compactIvfPqIndex")
    val codes = s"$indexDir/codes"
    val cols = col("neighbor_id") +:
      books.indices.map(mm => col(s"code$mm")) :+ col("cell")
    Stores.foldAndSwap(spark, codes) { (_, tmp) =>
      writeCellLayer(spark.read.parquet(codes).select(cols: _*),
        Stores.batchDir(tmp, -1), version)
    }
    ()
  }

  /** Write one cell-partitioned layer (IVF-PQ inverted lists or a
    * semantic-dedup assignment) at `layerDir` and stamp it with the
    * model `version`. Repartition BY the cell column with an explicit
    * count: each cell's rows land in exactly one task, so partitionBy
    * writes exactly one file per cell, and the explicit count keeps AQE
    * from coalescing the byte-small shuffle into a couple of tasks that
    * open the cell files sequentially (measured 0.5 s of a semantic
    * index build; without any repartition a base build inherits the
    * scan's partitioning, one split at bench SFs).
    */
  private def writeCellLayer(layer: DataFrame, layerDir: String, version: String): Unit = {
    layer
      .repartition(layer.sparkSession.sessionState.conf.numShufflePartitions, col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(layerDir)
    Stores.writeMarker(layer.sparkSession, layerDir, ModelVersionMarker, version)
  }

  /** IVF-PQ search over a PERSISTED index ([[writeIvfPqIndex]]): same
    * probe routing and ADC scoring as [[ivfPqAnn]], but the corpus
    * contributes only its on-disk inverted lists — and because the
    * probed cell set is known driver-side before the scan, the code
    * table is filtered with a LITERAL cell predicate that the parquet
    * source turns into partition pruning: only the probed cells'
    * directories are listed and read. Search I/O is
    * |corpus| · |probed cells| / numCells, physically.
    */
  def ivfPqAnnIndexed(
      queries: DataFrame,
      indexDir: String,
      id: String,
      vec: String,
      k: Int = 10,
      nProbe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val qRows = collectPqQueries(queries, id, vec)
    val (localCn, books) = readIndexModel(spark, indexDir)
    // refuse lists encoded under a superseded model (retrain/ingest
    // race): their codes and cell routings are wrong for this model's
    // ADC tables and probe ranking
    requireCurrentModel(spark, indexDir,
      modelVersion(localCn, books), "ivfPqAnnIndexed")
    searchProbed(queries, id, vec, localCn, books.length, k, nProbe)(
      queryTables(qRows, books, books.head.head._2.length),
      cells => pruneToCells(spark.read.parquet(s"$indexDir/codes"), cells, "ivfPqAnnIndexed"))
  }

  /** Restrict a cell-partitioned store scan to a driver-known cell set —
    * a literal predicate the parquet source turns into PARTITION PRUNING
    * (only the listed cells' directories are listed and read). Compare
    * in the partition column's OWN type (directory-value inference may
    * narrow long cell ids to int — or leave them STRING when
    * partitionColumnTypeInference is disabled): a cast around the column
    * would block the pruning, so the literals are rendered in whatever
    * type discovery produced (ADVICE r8); the column is normalized back
    * to long AFTER the pruned filter.
    */
  private def pruneToCells(
      raw: DataFrame, cells: Seq[Long], op: String): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    val lits: Seq[Any] = raw.schema("cell").dataType match {
      case IntegerType => cells.map(_.toInt)
      case LongType    => cells
      case ShortType   => cells.map(_.toShort)
      case ByteType    => cells.map(_.toByte)
      case StringType  => cells.map(_.toString)
      case other => throw new IllegalStateException(
        s"$op: unexpected partition-column type $other for cell")
    }
    raw.filter(col("cell").isin(lits: _*))
      .withColumn("cell", col("cell").cast("long"))
  }

  // ───────────────────────────────────────────────────────────────────
  // Persisted semantic-dedup index + incremental batch dedup
  // ───────────────────────────────────────────────────────────────────

  /** Fingerprint of a trained centroid table alone (the semantic-dedup
    * index has no PQ codebooks): [[modelVersion]] with no codebooks.
    */
  private[graft] def centroidVersion(localCn: DataFrame): String =
    modelVersion(localCn, Array.empty)

  /** Build the persisted semantic-dedup index: trained centroids plus
    * the corpus assignment partitioned by cell —
    * `dir/centroids` and `dir/assign/batch=-1/cell=<c>/`, each batch
    * directory stamped with the centroid fingerprint (same layout and
    * staleness discipline as [[writeIvfPqIndex]]'s inverted lists; the
    * stamp closes the ingest-races-retrain window).
    *
    * A retrain REPLACES the whole index directory atomically
    * ([[Stores.publishReplace]] on `dir`): the new centroids + base
    * assignment are fully staged in the hidden temp sibling before the
    * swap, so a crash mid-retrain leaves the previous index intact and
    * readable — never a deleted assign/ tree with no recoverable copy.
    * Appended `batch=<id>` trees under the old training are
    * deliberately discarded by the swap (they were encoded under
    * superseded cells; [[requireCurrentModel]] would refuse them
    * anyway).
    *
    * This is the production shape of [[semanticDedup]]'s front half:
    * the assignment is computed ONCE, and every future batch pays only
    * its own assignment plus in-cell verifies against the touched
    * cells' directories (physical partition pruning).
    */
  def writeSemanticIndex(
      corpus: DataFrame,
      id: String,
      vec: String,
      dir: String,
      dims: Int = 64,
      numCells: Int = 0): Unit = {
    val spark = corpus.sparkSession
    val cells =
      if (numCells > 0) numCells else autoCellCount(corpus.count())
    val localCn = localModel(kmeansCentroids(corpus, id, vec, dims, cells))
    // stage the complete new index (assignment + marker + centroids +
    // max-id stamp) in the hidden temp sibling, then one atomic swap —
    // a retrain invalidates every assignment encoded under the old
    // cells, but the old index must survive until the new one is whole
    Stores.publishReplace(spark, dir) { tmp =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      // the max-id scan is independent of the assignment write — overlap
      // the two jobs (guide §2.6); the marker is only written after both
      val mxF = Future(corpus.agg(max(col(id).cast("long"))).head())
      val base = Stores.batchDir(s"$tmp/assign", -1)
      writeCellLayer(assignWithModel(corpus, id, vec, localCn), base,
        centroidVersion(localCn))
      val mx = Await.result(mxF, scala.concurrent.duration.Duration.Inf)
      if (!mx.isNullAt(0))
        Stores.writeMarker(spark, base, MaxIdMarker, mx.getLong(0).toString)
      localCn.write.mode("overwrite").parquet(s"$tmp/centroids")
    }
  }

  /** The trained centroid table of a persisted semantic-dedup index,
    * materialized driver-side (bounded: ≤ √N rows under auto-sizing).
    */
  def readSemanticModel(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    localModel(spark.read.parquet(s"$dir/centroids"))

  /** Append a new batch's assignment to a persisted semantic-dedup
    * index under `assign/batch=<batchId>` (encode-then-publish, stamped
    * with the model fingerprint the batch was encoded under). Refuses
    * if any existing directory carries a different fingerprint — an
    * ingest must never stack batches from two different trainings.
    * Replay-idempotent: an already-present batch id is a no-op.
    * Refuses a batch whose min id is not above every indexed id
    * ([[requireAppendOnlyIds]] — the incremental contract's
    * precondition, enforced rather than assumed).
    */
  def appendSemanticBatch(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      batch: DataFrame,
      id: String,
      vec: String,
      batchId: Long): Boolean = {
    val localCn = readSemanticModel(spark, indexDir)
    val version = centroidVersion(localCn)
    requireCurrentModel(spark, indexDir, version, "appendSemanticBatch", "assign")
    // replay no-op BEFORE the id guard: a re-delivered batch's own ids
    // are already indexed, so the guard would (wrongly) refuse it
    if (Stores.batchIds(spark, s"$indexDir/assign").contains(batchId)) return false
    val bounds = batch.agg(
      min(col(id).cast("long")), max(col(id).cast("long"))).head()
    if (bounds.isNullAt(0)) return false // empty batch: nothing to publish
    requireAppendOnlyIds(spark, indexDir, bounds.getLong(0), "appendSemanticBatch")
    Stores.publishBatch(spark, s"$indexDir/assign", batchId) { tmp =>
      writeCellLayer(assignWithModel(batch, id, vec, localCn), tmp, version)
      Stores.writeMarker(spark, tmp, MaxIdMarker, bounds.getLong(1).toString)
    }
  }

  /** Incremental SemDeDup of a NEW batch against a persisted index:
    * the batch is routed to the index's trained cells (one native
    * argmax pass — the model is NOT retrained), and each batch vector
    * is marked a duplicate iff some smaller-id vector in its cell —
    * indexed corpus prior OR batch-mate — has cosine ≥ `threshold`.
    * Returns one row per BATCH vector with [[semanticDedup]]'s exact
    * output shape; per-batch cost is |batch| assignment work plus
    * verifies against ONLY the touched cells' directories (the batch's
    * cell set is known driver-side, so the store scan partition-prunes
    * — corpus I/O per batch is |corpus|·|touched cells|/numCells, not
    * |corpus|).
    *
    * Under the append-only id discipline (batch ids above all indexed
    * ids) this is exactly the decision [[semanticDedup]] over
    * corpus ∪ batch would emit for the batch rows WITH cells frozen at
    * the indexed training — the Kappa-style "replay == incremental"
    * contract every streamed store in this repo carries, pinned by the
    * q_semantic_incr oracle (which recomputes the same rule from
    * scratch in SQL). The discipline is ENFORCED, not assumed: the
    * index stamps each batch directory's max id, and a batch whose min
    * id is not above every indexed id is refused here and in
    * [[appendSemanticBatch]] ([[requireAppendOnlyIds]]).
    *
    * Refuses when any assign/ directory was stamped under a superseded
    * model (retrain raced an ingest) — verifying a batch against cells
    * its priors were not encoded with silently under-dedups.
    */
  def semanticDedupIncremental(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      batch: DataFrame,
      id: String,
      vec: String,
      threshold: Double): DataFrame = Checkpoints.scope { cp =>
    val localCn = readSemanticModel(spark, indexDir)
    requireCurrentModel(spark, indexDir,
      centroidVersion(localCn), "semanticDedupIncremental", "assign")
    val bAsg = cp.checkpoint(assignWithModel(batch, id, vec, localCn), eager = false)
    bAsg.agg(min(col("cid"))).head() match {
      case r if !r.isNullAt(0) =>
        requireAppendOnlyIds(spark, indexDir, r.getLong(0),
          "semanticDedupIncremental")
      case _ => ()
    }
    // touched cells, driver-side (bounded by |batch|) → partition pruning
    val touched = bAsg.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val priors = pruneToCells(
      spark.read.parquet(s"$indexDir/assign"),
      touched, "semanticDedupIncremental")
      .select(col("cid"), col("cell"), col("v"), col("vn2"))
    val a = priors.unionByName(
        bAsg.select(col("cid"), col("cell"), col("v"), col("vn2")))
      .select(col("cid").as("doc_a"), col("cell"),
        col("v").as("va"), col("vn2").as("na"))
    val b = bAsg.select(
      col("cid").as("doc_b"), col("cell"),
      col("v").as("vb"), col("vn2").as("nb"))
    val near = a.join(b, Seq("cell"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("cos",
        round(dot(col("va"), col("vb")) / sqrt(col("na") * col("nb")), CosineDp))
      .filter(col("cos") >= threshold)
    dedupDecision(bAsg, near, id)
  }
}

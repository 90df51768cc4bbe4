package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Checkpoints

/** Duplicate-cluster construction for training-data pipelines: turn
  * pairwise near-dup evidence (from [[Dedup]] / [[Similarity]] candidates)
  * into connected components, then pick one canonical document per
  * cluster. This is the step between "these pairs look alike" and "drop
  * these rows from the training set" — near-dup relations are not
  * transitive, so without the component step a dedup pass either
  * over-keeps (pairwise-greedy) or drops both sides of a pair.
  *
  * Reference scope: the reference's pipelines stop at per-key
  * aggregation (k8s/spark-apps/kafka-spark-configmap.yaml:106-199);
  * clustering is part of the training-data extension surface.
  *
  * Scale design: min-label propagation with pointer jumping. Each round
  * propagates the min label across edges AND through one label
  * indirection (`lab ← lab(lab)`, path halving) — the indirection is
  * what turns the round bound from component DIAMETER into O(log
  * diameter), the same asymptotics the large-star/small-star alternation
  * achieves (Kiveris et al., "Connected Components in MapReduce",
  * SoCC'14) while keeping each round two equi-joins + one groupBy on
  * node id. Lineage is cut every round with an eager local checkpoint —
  * without it the iterated plan tree grows exponentially — and each
  * round's block-manager copy is freed as soon as its successor is
  * materialized, so peak storage is two label snapshots regardless of
  * round count. On a real cluster swap the lineage cut for
  * `spark.sparkContext.setCheckpointDir` + `checkpoint()` for
  * fault-tolerant cuts.
  */
object Clustering {

  /** Connected components by iterative min-label propagation over an
    * undirected edge list `(a, b)`. Returns `(node, cluster_id)` where
    * `cluster_id` is the minimum node id in the component. Only nodes
    * that appear in at least one edge are returned — callers union in
    * their singleton population (see [[clustersOf]]).
    *
    * The convergence test counts changed labels during each round's
    * materialization. `onRound` sees `(round, wallMillis, planNodes)`
    * per propagation round.
    *
    * The result reads the final round's checkpoint; free it with
    * `Checkpoints.release` once consumed.
    */
  def connectedComponents(
      edges: DataFrame,
      a: String = "doc_a",
      b: String = "doc_b",
      maxRounds: Int = 100,
      onRound: Graph.RoundProbe = Graph.NoProbe): DataFrame = Checkpoints.scope { cp =>
    val sym = cp.checkpoint(
      edges
        .select(col(a).as("src"), col(b).as("dst"))
        .union(edges.select(col(b).as("src"), col(a).as("dst")))
        .distinct())
    // init = the first propagation hop, unrolled: lab₀ = min(node,
    // min(neighbors)) costs one aggregation over the edge list (vs a
    // full round's three joins + checkpoint + probe) and converges the
    // common clique-shaped duplicate component in ONE loop round — the
    // propagation fixpoint is the component min for any init whose
    // labels stay inside the component, which node ids trivially do
    var labels = cp.checkpoint(
      sym
        .groupBy(col("src").as("node"))
        .agg(min(col("dst")).as("nbr_min"))
        .select(col("node"), least(col("node"), col("nbr_min")).as("lab")))
    var converged = false
    var rounds = 0
    while (!converged) {
      val t0 = System.nanoTime()
      rounds += 1
      // with pointer jumping, rounds grow like log2(diameter): hitting
      // this guard means a cycle in the driver logic, not a deep graph
      require(rounds <= maxRounds,
        s"connectedComponents did not converge in $maxRounds rounds")
      val nbrLabels = sym
        .join(labels.select(col("node").as("dst"), col("lab").as("msg")), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(min(col("msg")).as("nbr"))
      // the round-start label rides along as `old`, so the convergence
      // probe below is a filter on `next` itself — no extra join of the
      // new and old label tables per round
      val viaEdges = labels
        .join(nbrLabels, Seq("node"), "left")
        .select(col("node"),
          least(col("lab"), coalesce(col("nbr"), col("lab"))).as("lab"),
          col("lab").as("old"))
      // path halving: lab ← lab(lab). Labels are always node ids (inits
      // are, and mins of node ids stay node ids), so the indirection is
      // a self-join of the label table.
      //
      // The convergence test (any lab ≠ old?) is counted DURING the
      // round's materialization action instead of a separate
      // filter/limit job per round over the cached copy (one driver
      // round-trip fewer per round, measured ~0.05-0.1 s each on the
      // job-count-bound gate SFs). The changed flag is computed in-plan
      // as a null-safe boolean (ordinal 2), so the count stays correct
      // for any node-id type.
      val (next, changed) = cp.checkpointCounting(
        viaEdges
          .join(
            labels.select(col("node").as("lab"), col("lab").as("lab2")),
            Seq("lab"), "left")
          .select(col("node"),
            least(col("lab"), coalesce(col("lab2"), col("lab"))).as("lab"),
            not(col("old") <=> least(col("lab"),
              coalesce(col("lab2"), col("lab")))).as("chg")),
        r => r.getBoolean(2))
      converged = changed == 0L
      // `next` is materialized and the convergence probe has run — the
      // prior round's block-manager copy has no remaining reader
      cp.release(labels)
      labels = next.select(col("node"), col("lab"))
      onRound(rounds, (System.nanoTime() - t0) / 1000000L,
        if (onRound eq Graph.NoProbe) 0 else Graph.planNodes(labels))
    }
    labels.select(col("node"), col("lab").as("cluster_id"))
  }

  /** Cluster assignment for a full document population: every row of
    * `docs` gets a `cluster_id` (min doc id of its component; its own id
    * if it shares no edge) and the component's `cluster_size`. The lazy
    * result reads the component-label checkpoint.
    */
  def clustersOf(docs: DataFrame, edges: DataFrame, id: String): DataFrame =
    Checkpoints.scope { _ =>
      val assigned = docs
        .join(connectedComponents(edges).withColumnRenamed("node", id), Seq(id), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col(id)))
      val sizes = assigned.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      assigned.join(sizes, Seq("cluster_id"))
    }

  /** One canonical document per cluster: highest `prefCol` wins, ties
    * broken by smallest doc id — a deterministic total order, so the
    * choice is reproducible across engines and runs. `prefCol` is
    * typically a quality signal (length, quality score); implemented as
    * a max-struct aggregation — one shuffle, no window sort.
    */
  def canonicalPerCluster(clustered: DataFrame, id: String, prefCol: String): DataFrame =
    clustered
      .groupBy("cluster_id")
      .agg(
        max(struct(col(prefCol).as("p"), (-col(id)).as("negId"))).as("best"),
        count(lit(1)).as("cluster_size"))
      .select(
        col("cluster_id"),
        (-col("best.negId")).as("canon_" + id),
        col("best.p").as("canon_" + prefCol),
        col("cluster_size"))

  /** Repeated-substring duplicate evidence (the signal behind
    * suffix-array dedup, Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL'22): fixed-width character windows at
    * a fixed stride; two documents sharing any verbatim window are
    * near-dup candidates. Returns `(doc_a, doc_b, n_shared)` — the
    * number of distinct shared window CONTENTS per pair.
    *
    * Scale shape (bucket doc-set collapse, round 9): windows are
    * generated map-side (`explode` over a `sequence` of offsets —
    * `win/stride`× row blowup, each row one md5) and shuffle by window
    * hash ONCE (the old formulation self-joined two aliases of the same
    * subtree — two full scans + two full shuffles). Each window bucket
    * is collapsed to its sorted doc-id set, and buckets with the SAME
    * doc set — the dominant case in duplicate-heavy corpora, where a
    * k-doc near-dup cluster shares hundreds of window contents, every
    * one an identical {k docs} bucket — are merged into one row with a
    * multiplicity `m` before any pair is emitted. Pair generation then
    * costs Σ k² over DISTINCT doc sets instead of Σ k² over windows:
    * on the 100-replica-clique scaling corpus that is a
    * windows-per-doc-fold (~250×) cut in generated pair instances,
    * with bit-identical output (`n_shared` = Σ m over the sets
    * containing the pair = the distinct shared window contents).
    * Window-content frequency caps still bound the per-bucket quadratic
    * the same way [[Dedup.minhashCandidates]] caps band buckets
    * (`maxWindowFreq`; boilerplate windows — headers, license blocks —
    * are exactly the windows that would otherwise pair everything with
    * everything).
    */
  def sharedWindowPairs(
      df: DataFrame,
      id: String,
      text: String,
      win: Int = 40,
      stride: Int = 8,
      maxWindowFreq: Int = 0): DataFrame = {
    val capped = windowHashes(df, id, text, win, stride, maxWindowFreq)
    collapsedPairCounts(capped, id, "wh", "n_shared")
  }

  /** The bucket doc-set collapse shared by [[sharedWindowPairs]] and
    * [[winnowedSpanCandidates]]: `(id, key)` rows → `(doc_a, doc_b,
    * countCol)` where countCol = the number of distinct key values both
    * docs carry. Buckets collapse to their sorted doc-id set, equal
    * sets merge with a multiplicity, pairs fan out once per DISTINCT
    * set — Σ k² over distinct doc sets, not over keys.
    */
  private def collapsedPairCounts(
      rows: DataFrame,
      id: String,
      key: String,
      countCol: String): DataFrame = {
    val sets = rows
      .groupBy(col(key))
      .agg(sort_array(collect_set(col(id))).as("ids"))
      .filter(size(col("ids")) > 1)
      .groupBy(col("ids"))
      .agg(count(lit(1)).as("m"))
    // the collapsed set table is tiny (rows = distinct doc sets), so
    // AQE would coalesce it to ~one partition and run the quadratic
    // pair explode on one core — the same compute-bound-after-byte-
    // small-shuffle trap as the Levenshtein verify (PERF.md r4); an
    // explicit partition count pins the fan-out wide, sized per
    // [[Spread.fanoutLanes]] (conf ÷ 4 — see its doc for the round-15
    // full-conf regression this replaces)
    val lanes = Spread.fanoutLanes(rows)
    sets
      .repartition(lanes, col("ids"))
      .select(col("m"), col("ids"), posexplode(col("ids")).as(Seq("i", "doc_a")))
      .select(col("doc_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("doc_b"),
        col("m"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("m")).as(countCol))
  }

  /** Winnowed long-span duplicate candidates (Schleimer et al.,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03, applied to the character-window hash sequence): each
    * doc's stride-grid window hashes are winnowed — one minimum
    * selected from every `w` consecutive hashes — and only the
    * selected fingerprints join. Returns `(doc_a, doc_b, n_shared_fp)`.
    *
    * Contract vs [[sharedWindowPairs]] (the exact evidence): this is
    * the SCALE PATH for long-span dedup, shuffling ~`2/(w+1)` of the
    * window rows. The winnowing guarantee holds for runs of `w`
    * consecutive shared grid windows — any shared span of at least
    * `win + stride·(w−1)` characters (64 chars at the 40/8/4 defaults,
    * the Lee et al. ACL'22 long-duplicate regime) yields a shared
    * selected minimum, so such pairs are ALWAYS found; pairs sharing
    * only shorter overlaps may be missed (candidates ⊆ the exact
    * pairs, spec-pinned). Docs with fewer than `w` windows contribute
    * the minimum of their whole sequence, so short docs still
    * fingerprint. Selection is by VALUE minimum (deterministic,
    * engine-independent — no position tie-break needed since the
    * fingerprint set is the distinct selected values per doc).
    */
  def winnowedSpanCandidates(
      df: DataFrame,
      id: String,
      text: String,
      win: Int = 40,
      stride: Int = 8,
      w: Int = 4,
      maxFpFreq: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def wh64(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val eligible = df.filter(length(col(text)) >= win)
    // ORDERED hash sequence (winnowing is positional — no distinct
    // here), materialized once per row so the per-window selection
    // lambda below never recomputes an md5. Giant documents are the
    // exception (same threshold as [[windowHashes]]): len/stride hashes
    // in ONE array row would blow a task on a 100 MB outlier, so big
    // docs stream through posexplode + a per-doc ordered sliding-min
    // window — identical selected values, rare-outlier cost only.
    val bigDocChars = 65536
    // the sliding minimum is unrolled to least(try_element_at…) over
    // the w offsets instead of array_min(slice(…)): slice allocates a
    // w-element array per window POSITION (g allocations per doc);
    // least over w direct lookups allocates nothing. try_element_at
    // past the end is null and least ignores nulls, which is exactly
    // the slice-clamp semantics at the tail / g < w (A/B spec-pinned
    // against the slice formulation)
    def slidingMin(s: Column): Column =
      least((0 until w).map(j => try_element_at(col("whs"), s + lit(j + 1))): _*)
    val smallFps = eligible
      .filter(length(col(text)) <= bigDocChars)
      .select(col(id), transform(
        sequence(lit(1), length(col(text)) - (win - 1), lit(stride)),
        off => wh64(col(text).substr(off, lit(win)))).as("whs"))
      .select(col(id),
        explode(array_distinct(transform(
          sequence(lit(0), greatest(size(col("whs")) - w, lit(0))),
          s => slidingMin(s)))).as("fp"))
    val bigWin = Window.partitionBy(col(id)).orderBy(col("p"))
      .rowsBetween(0, w - 1)
    val bigFps = eligible
      .filter(length(col(text)) > bigDocChars)
      .select(col(id), col(text),
        posexplode(sequence(lit(1), length(col(text)) - (win - 1), lit(stride)))
          .as(Seq("p", "off")),
        (length(col(text)) - (win - 1) + stride - 1).divide(stride)
          .cast("long").as("g"))
      .select(col(id), col("p"), col("g"),
        wh64(col(text).substr(col("off"), lit(win))).as("wh"))
      .withColumn("fp", min(col("wh")).over(bigWin))
      // windows starting past g−w are suffixes shorter than w — they
      // exist in the array path only when g < w (slice clamps); the
      // ordered path keeps exactly position 0 in that case
      .filter(col("p") <= greatest(col("g") - w, lit(0)))
      .select(col(id), col("fp"))
      .distinct()
    val fps = smallFps.unionAll(bigFps)
    val capped =
      if (maxFpFreq > 0) {
        val common = fps.groupBy("fp").agg(count(lit(1)).as("freq"))
          .filter(col("freq") > maxFpFreq).select("fp")
        fps.join(broadcast(common), Seq("fp"), "left_anti")
      } else fps
    collapsedPairCounts(capped, id, "fp", "n_shared_fp")
  }

  /** Connectivity-only flavor of [[sharedWindowPairs]] for component
    * building: per window hash, every doc connects to the bucket's MIN
    * doc id (a star), instead of to every other doc in the bucket. The
    * connected components are IDENTICAL — a star spans its bucket — but
    * a k-doc bucket emits k−1 edges instead of k(k−1)/2 pairs, which is
    * the difference between linear and quadratic edge volume on
    * boilerplate- or replica-heavy corpora (measured: the 100-doc
    * near-identical cliques of the 100× scaling study put
    * `q_dup_clusters` at 55.8 s on all-pairs edges; stars cut the edge
    * build to the bucket row count). Use [[sharedWindowPairs]] when the
    * PAIR evidence is the product (`q_substr_dedup`'s n_shared report);
    * use this when the pairs only feed [[connectedComponents]].
    */
  def sharedWindowStarEdges(
      df: DataFrame,
      id: String,
      text: String,
      win: Int = 40,
      stride: Int = 8,
      maxWindowFreq: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    windowHashes(df, id, text, win, stride, maxWindowFreq)
      .withColumn("hub", min(col(id)).over(Window.partitionBy(col("wh"))))
      .filter(col(id) =!= col("hub"))
      .select(col("hub").as("doc_a"), col(id).as("doc_b"))
      .distinct()
  }

  /** The capped `(id, wh)` window-hash rows shared by
    * [[sharedWindowPairs]] and [[sharedWindowStarEdges]].
    */
  private def windowHashes(
      df: DataFrame,
      id: String,
      text: String,
      win: Int,
      stride: Int,
      maxWindowFreq: Int): DataFrame = {
    // substring+hash are evaluated before the shuffle, so only
    // (id, 60-bit int64 hash) rows move — never the document text, and
    // never a 32-char hex string: the key is the first 15 md5 hex chars
    // as int64 (`conv`), which quarters the shuffled bytes per row at a
    // collision probability of ~|windows|²/2⁶¹ (and the same truncation
    // on the oracle side keeps parity exact either way). Per-doc
    // window dedup happens map-side (`array_distinct` over the window
    // array) instead of a corpus-wide `.distinct()` — that saved shuffle
    // carried every (id, hash) row just to drop in-document repeats.
    // Giant documents are the exception: materializing len/stride hash
    // values in ONE array row would blow a task on a 100 MB outlier, so
    // docs past the threshold stream through the old explode + per-doc
    // distinct shuffle — only the rare outliers' hashes pay it.
    val bigDocChars = 65536
    def wh64(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    def windows(rows: DataFrame) = rows.select(
      col(id),
      explode(sequence(lit(1), length(col(text)) - (win - 1), lit(stride))).as("off"),
      col(text))
    val eligible = df.filter(length(col(text)) >= win)
    val small = eligible
      .filter(length(col(text)) <= bigDocChars)
      .select(
        col(id),
        explode(array_distinct(transform(
          sequence(lit(1), length(col(text)) - (win - 1), lit(stride)),
          off => wh64(col(text).substr(off, lit(win)))))).as("wh"))
    val big = windows(eligible.filter(length(col(text)) > bigDocChars))
      .select(col(id), wh64(col(text).substr(col("off"), lit(win))).as("wh"))
      .distinct()
    val hashed = small.unionAll(big)
    if (maxWindowFreq > 0) {
      val common = hashed
        .groupBy("wh").agg(count(lit(1)).as("freq"))
        .filter(col("freq") > maxWindowFreq)
        .select("wh")
      hashed.join(broadcast(common), Seq("wh"), "left_anti")
    } else hashed
  }
}

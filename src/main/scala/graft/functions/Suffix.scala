package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{Checkpoints, GraftBridge}

/** Distributed suffix-array construction by prefix doubling
  * (Manber & Myers, SIAM J. Comput. 1993; the sort/rank formulation used
  * by every shared-nothing SA builder), plus the rank-adjacent LCP table
  * measured by comparing adjacent-rank suffix slices. Together they are
  * the index behind EXACT substring deduplication of training corpora
  * (Lee et al., "Deduplicating Training Data Makes Language Models
  * Better", ACL'22 builds exactly this pair over the whole corpus: a
  * span is duplicated at length ≥ L iff some rank-adjacent suffix pair
  * has LCP ≥ L) — the catalog's window-hash / winnowing substring
  * paths are the probabilistic counterpart, this is the exact structure.
  *
  * Reference scope: the reference's pipelines stop at per-key
  * aggregation (k8s/spark-apps/kafka-spark-configmap.yaml:106-199);
  * suffix indexing is part of the training-data extension surface.
  *
  * Algorithm (no suffix is ever materialized): rank every position by
  * its first TWO characters (2-gram alphabet is bounded by |alphabet|²,
  * so its rank table is a broadcast, and the 2-char start drops one
  * doubling round), then ~log₂ maxLen doubling rounds — round k
  * re-ranks positions by the pair (rank of s[p..p+k), rank of
  * s[p+k..p+2k)), where positions past the end take a −1 sentinel (a
  * proper prefix sorts before every extension, matching binary string
  * order). After the final round two positions share a rank iff their
  * suffixes are IDENTICAL — dense ranks over full suffix content,
  * cross-document.
  *
  * The constant factor is engineered around three facts:
  *
  *   - '''the shift lookup is a window, not a join.''' Positions are
  *     consecutive 1..len within a document, so "rank k positions
  *     ahead" is exactly `lead(r, k) OVER (PARTITION BY did ORDER BY
  *     pos)` — one pipelined pass, no self-join, no shuffle at all once
  *     the state is hash-partitioned by document id (the local
  *     checkpoint preserves that partitioning via
  *     `LogicalRDD.fromDataset`). Requires a document's positions to be
  *     co-located — fine for bounded-length documents (the regime of
  *     corpus dedup); a single multi-TB "document" would need the join
  *     formulation instead.
  *   - '''combine rounds are arithmetic, then widen.''' Doubling needs
  *     only ORDER-ISOMORPHIC ranks, not dense ones, so while the domain
  *     `dom` satisfies (dom+1)(dom+2) ≤ 2⁶³−1 (checked in BigInt on the
  *     driver; the true 2-gram domain is counted once off the cached
  *     2-gram rank table so the first densify is deferred as long as
  *     possible), the new rank is the pure map `r·(dom+2) + r2 + 2` —
  *     consecutive combine rounds are chained windows in ONE stage.
  *     When the pack would overflow, the rank GROWS to a lexicographic
  *     multi-column tuple (up to [[MaxWidth]] longs) instead of paying
  *     a densify — still a pure chained window, so densify jobs (the
  *     family's fixed-cost floor) fire only every ~⌈log₂ MaxWidth⌉+1
  *     rounds and on the final round.
  *   - '''densify rounds are one action with in-plan offsets.''' When
  *     the arithmetic would overflow (and on the final round, whose
  *     output must be dense): pre-shuffle once on (r, r2) — shared by
  *     the distinct AND the join-back — then distinct pairs bucket by
  *     `r DIV blockSize` (monotone in the pair order, so bucket
  *     boundaries are exact global-order boundaries), per-bucket window
  *     ranks are offset by a prefix sum over the ≤`Buckets`-row
  *     per-bucket counts (a single-partition window over the bucket
  *     aggregate — bounded by `Buckets`, never by data) — no driver
  *     collect, no recompute. The result is repartitioned back to the
  *     document id to keep the zero-exchange window invariant.
  *
  * Driver state per round: the BigInt domain bound — nothing else.
  * Dense state is cut with an eagerly-materialized local checkpoint
  * (the [[Clustering]] lineage discipline — predecessors freed as soon
  * as the successor lands, two snapshots resident regardless of round
  * count).
  *
  * Scale shape: O(total chars) rows carried through ~log₂ maxLen
  * rounds, each either {1 window pass} (combine) or {1 window pass,
  * 1 distinct, 1 bucketed window, 1 equi-join back} (densify) — every
  * stage hash-partitioned, no all-pairs, no global sort, no per-round
  * driver barrier. On a cluster swap the local checkpoint for a
  * fault-tolerant `checkpoint()`.
  */
object Suffix {

  /** Hash-repartition with an EXPLICIT partition count (the session's
    * `spark.sql.shuffle.partitions`, i.e. the conf the driver/cluster
    * operator sizes): a bare `repartition(col)` leaves the count to AQE,
    * whose coalescing is BYTE-based and blind to two properties of this
    * ladder — (1) the pre-explode doc shuffle is ~1 byte/char but the
    * explode amplifies rows ~avg-doc-length×, so sizing partitions on
    * the exchange's bytes serializes the compute-bound stage after it
    * (round-15 stage audit: the 0.9 MB doc exchange coalesced to ONE
    * partition and the 1.5M-row explode+join ran single-threaded,
    * 3.3 s); (2) a coalesced exchange reports a partitioning the
    * checkpoint cannot preserve as hash(key), so every downstream
    * consumer of the cached state re-shuffled it (55 + 45 MB
    * re-exchanges of the already-bucketed kb state). Explicit counts
    * keep the exchange recognizable and the post-shuffle parallelism
    * sized by configuration, not by pre-amplification bytes.
    */
  private def repartitionFixed(df: DataFrame, c: org.apache.spark.sql.Column)
      : DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, c)

  private val MaxDom = BigInt(Long.MaxValue)

  /** Rank buckets of a densify round: its distinct pairs bucket by
    * `r DIV blockSize` into at most this many ranges, and the prefix-sum
    * window runs over ≤ Buckets per-bucket counts.
    */
  private val Buckets = 512

  /** Runs the doubling rounds and returns the full-suffix DENSE rank
    * table (did, pos, r). Only densify outputs materialize (combine
    * windows chain lazily into the next densify), and predecessors are
    * freed as soon as their successor lands.
    *
    * `maxPrefix` truncates the ranking: ranks are computed over the
    * first `maxPrefix` characters of each suffix only (equal ranks iff
    * equal padded `maxPrefix`-prefixes), cutting the doubling ladder to
    * ~log₂ maxPrefix rounds regardless of document length. Callers that
    * only consume rank EQUALITY up to a known horizon ([[dupSpans]],
    * whose span arithmetic saturates at its cap) use this to skip the
    * deep rounds — and their densifies — entirely; the default keeps
    * full-suffix ranking ([[suffixRanks]] / [[adjacentLcpCapped]]'s
    * output contract).
    *
    * `materializeLast = false` skips the final dense level's checkpoint
    * (and its did repartition): the returned frame is the rank+offset
    * plan over the cached bucket state. ONLY sound for callers that
    * consume it once — a second consumption would recompute the rank
    * window (correct but paid twice).
    *
    * Every checkpoint belongs to `cp`; superseded ones are released as
    * the ladder climbs, and the caller's scope frees the rest.
    */
  private def build(
      cp: Checkpoints,
      docs: DataFrame,
      id: String,
      text: String,
      maxPrefix: Long = Long.MaxValue,
      materializeLast: Boolean = true): DataFrame = {
    val base = docs.filter(length(col(text)) >= 1)
      .select(col(id).as("did"), col(text).as("txt"))
    // hash-partition the WHOLE DOCUMENTS by id — BEFORE the explode.
    // Generate/Project/BroadcastHashJoin all preserve the child's
    // partitioning, so the exploded positions, their 2-grams and the
    // joined gram ranks are already clustered by did and every window
    // pass below runs exchange-free (partitioning preserved across
    // checkpoints too). This replaces the previous post-explode
    // exchange of (did, pos, 2 chars) — ~24 bytes per character — with
    // a pre-explode exchange of the raw text at ~1 byte per character,
    // and it parallelizes the explode+join across the full core count
    // instead of the scan's few input splits (the docs table is one
    // small parquet split at the gate SFs, so everything upstream of
    // the first exchange used to run near-serial). The previous shape
    // additionally shipped the exploded table through the did exchange
    // TWICE — the alphabet branch's copy of the exchange is
    // column-pruned differently and AQE stage reuse keys on the exact
    // subtree (round-15 CP-plan audit: two
    // `Exchange hashpartitioning(did)` nodes per init action); here
    // the duplicated branch carries only the pre-explode docs.
    val posed = repartitionFixed(base, col("did"))
      .select(col("did"), explode(sequence(lit(1), length(col("txt")))).as("pos"),
        col("txt"))
      .select(col("did"), col("pos").cast("long").as("pos"),
        expr("substring(txt, pos, 2)").as("g2"))
    // the init table has exactly ONE consumer (the combine-window chain
    // into the first densify), so materializing it would be a pure
    // O(total chars) copy+cache+read — skipped. The loop bound and
    // position count come off the raw docs (one narrow aggregate over
    // pre-explode rows); the TRUE 2-gram domain comes off the alphabet
    // rank table itself, checkpointed as the |alphabet|²-bounded TINY
    // table it is (the same bound its single-partition ranking window
    // already assumes): dom is a ~ms count over the cache, and the
    // broadcast build in the first action reads the cache instead of
    // re-running explode+distinct.
    val st = GraftBridge.action(base.agg(
      max(length(col("txt"))).cast("long"),
      sum(length(col("txt"))).cast("long")).head)
    val docLen = if (st.isNullAt(0)) 0L else st.getLong(0)
    val n = if (st.isNullAt(1)) 0L else st.getLong(1)
    // released once the first densify has materialized the chain over it
    val a2 = cp.checkpoint(
      posed.select(col("g2").as("g")).distinct()
        .withColumn("r", dense_rank().over(Window.orderBy(col("g")))
          .cast("long") - 1)
        .select(col("g").as("g2"), col("r").as("r_2")))
    var dom = BigInt(math.max(GraftBridge.action(a2.count()), 1L))
    var cur = posed
      .join(broadcast(a2), Seq("g2"))
      .select(col("did"), col("pos"), col("r_2").as("r0"))
    // the ladder only needs to distinguish the first maxPrefix chars
    val maxLen = math.min(docLen, maxPrefix)
    require(maxLen <= Int.MaxValue, "rank horizon exceeds lead() range")
    val byDoc = Window.partitionBy(col("did")).orderBy(col("pos"))
    // loop state: the rank of the length-k prefix is carried as W
    // lexicographically-compared long columns r0..r{W-1} (W = 1 after
    // init and after every densify). Widening is the SECOND overflow
    // valve: when the arithmetic pack would overflow int64, the round
    // appends the led tuple as extra columns instead of densifying —
    // (A, B) with A of fixed width W compares exactly like the pair
    // (rank at p, rank at p+k), so the tuple stays order-isomorphic,
    // and the round is still a pure chained window (no action, no
    // shuffle). Only when the width would exceed MaxWidth (or on the
    // final round, whose output must be dense) does a densify job run
    // — at MaxWidth = 4 that is TWO densify actions for maxLen ≈ 512
    // instead of the four the arithmetic-only ladder paid, and each
    // extra column is 8 bytes/row through one bucket shuffle.
    var width = 1
    var k = 2L
    while (k < maxLen) {
      // s0..s{W-1} = rank tuple of the prefix k positions ahead (all
      // -1 past the end — sorts before every real tuple, so a proper
      // prefix sorts before its extensions): positions are consecutive
      // within a document, so this is a pure window lead — no self-join
      val rCols = (0 until width).map(i => s"r$i")
      val sCols = (0 until width).map(i => s"s$i")
      val keyed = rCols.zip(sCols).foldLeft(cur) { case (df, (r, s2)) =>
        df.withColumn(s2, coalesce(lead(col(r), k.toInt).over(byDoc), lit(-1L)))
      }
      val isLast = 2 * k >= maxLen
      val combined = (dom + 1) * (dom + 2)
      if (!isLast && width == 1 && combined <= MaxDom) {
        // combine: arithmetic order-isomorphic rank — one chained
        // window pass. s0+2 ∈ [1, dom+1] < dom+2 ⇒ no carry collision.
        val d = dom.toLong
        dom = combined
        cur = keyed.select(col("did"), col("pos"),
          (col("r0") * (d + 2) + col("s0") + 2).as("r0"))
      } else if (!isLast && 2 * width <= MaxWidth) {
        // widen: the concatenated (r tuple, led tuple) IS the combined
        // rank, compared lexicographically — zero extra passes. `dom`
        // (the domain of r0, the bucketing major key) is unchanged:
        // r0 is still the same column.
        cur = keyed.select(Seq(col("did"), col("pos")) ++
          rCols.map(col) ++
          sCols.zipWithIndex.map { case (s2, i) => col(s2).as(s"r${width + i}") }: _*)
        width *= 2
      } else {
        // densify. Shared structure: bucket by the major key (bkt =
        // r0 DIV blockSize is monotone in the pair order — and in the
        // full tuple order, since r0 is its first component), shuffle
        // once on bkt, and rank per bucket with a window DIRECTLY over
        // the full rows — per-bucket dense_rank over
        // rows-with-duplicates equals dense_rank over the distinct
        // tuples, so the previous shape's distinct-pairs table and its
        // sort-merge join BACK onto the state were pure overhead (that
        // join-back also self-referenced the bucketed state, and the
        // analyzer's self-join expr-id dedup plus divergent column
        // pruning produced THREE non-reusable instantiations of the
        // bucket exchange — round-15 CP-plan audit: 3×
        // `Exchange hashpartitioning(bkt)` at ~45-55 MB shuffle write
        // each, per densify, at sf0.1).
        //
        // INTERMEDIATE densifies (the overflow valve) need only an
        // ORDER-ISOMORPHIC compression, not a dense one — the next
        // combine round just packs it arithmetically. `bkt·(n+1) + rk`
        // is order-isomorphic (bkt is the major order; rk ≤ n within a
        // bucket) with domain ≤ (Buckets+1)·(n+1), so the cross-bucket
        // offset machinery (per-bucket distinct counts, prefix-sum
        // window, broadcast join) drops out entirely: ONE action, one
        // bkt exchange, one window, one did exchange.
        //
        // The FINAL round's output must be dense (the suffix-rank
        // contract): there the per-bucket ranks are offset by the
        // prefix sum of per-bucket distinct counts — in-plan (a
        // bounded-by-`Buckets` aggregate + single-partition window),
        // no driver collect. The bucketed state is consumed twice
        // (rank window + offset aggregate), so it is eagerly
        // checkpointed once; the offs branch then reads the cached
        // copy instead of re-instantiating the exchange.
        val tupleCols = rCols ++ sCols
        val blockSize = ((dom / Buckets) + 1).min(MaxDom).toLong
        val rkW = Window.partitionBy(col("bkt")).orderBy(tupleCols.map(col): _*)
        val nn = math.max(n, 1L)
        val h =
          if (!isLast) {
            val packedDom = (BigInt(Buckets) + 1) * (BigInt(nn) + 1)
            require(packedDom <= MaxDom,
              s"packed intermediate rank domain $packedDom overflows int64 " +
                s"(n=$n, buckets=$Buckets) — lower the bucket count")
            dom = packedDom
            cp.checkpoint(
              repartitionFixed(
                repartitionFixed(
                  keyed.withColumn("bkt", expr(s"r0 DIV $blockSize")),
                  col("bkt"))
                  .withColumn("rk", dense_rank().over(rkW).cast("long"))
                  .select(col("did"), col("pos"),
                    (col("bkt") * (nn + 1) + col("rk") - 1).as("r0")),
                col("did")),
              Seq("did"))
          } else {
            dom = BigInt(nn)
            val kb = cp.checkpoint(
              repartitionFixed(
                keyed.withColumn("bkt", expr(s"r0 DIV $blockSize")),
                col("bkt")),
              Seq("bkt"))
            val rk = kb.withColumn("rk", dense_rank().over(rkW).cast("long"))
            // per-bucket distinct-tuple counts straight off the cached
            // state (no dependence on the rank window, so the broadcast
            // subtree never recomputes it)
            val offs = kb.groupBy(col("bkt"))
              .agg(count_distinct(col(tupleCols.head),
                tupleCols.tail.map(col): _*).as("cnt"))
              .withColumn("off",
                coalesce(sum(col("cnt")).over(
                  Window.orderBy(col("bkt"))
                    .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
              .select(col("bkt"), col("off"))
            val outCols = Seq(col("did"), col("pos"),
              (col("off") + col("rk") - 1).as("r0"))
            if (materializeLast) {
              val hh = cp.checkpoint(
                repartitionFixed(
                  rk.join(broadcast(offs), Seq("bkt")).select(outCols: _*),
                  col("did")),
                Seq("did"))
              cp.release(kb)
              hh
            } else {
              // single-consumption callers ([[suffixRanks]],
              // [[adjacentLcpCapped]]) read the dense level exactly ONCE:
              // its full-table copy+cache — and the did repartition no
              // such consumer needs — are pure overhead. The returned frame
              // is the rank+offset plan over the cached bucket state, so
              // the kb snapshot is what stays resident.
              rk.join(broadcast(offs), Seq("bkt")).select(outCols: _*)
            }
          }
        // the previous densify's table (or, on the first densify, the
        // alphabet table) has no reader left
        cp.release(keyed)
        width = 1
        cur = h
      }
      k *= 2
    }
    // no doubling round (maxLen ≤ 2): the loop never materialized
    // anything — checkpoint the init chain so the returned frame still
    // honors the cached-snapshot contract
    if (maxLen <= 2) {
      val h = cp.checkpoint(repartitionFixed(cur, col("did")), Seq("did"))
      cp.release(cur)
      cur = h
    }
    cur.select(col("did"), col("pos"), col("r0").as("r"))
  }

  /** Widest rank tuple carried between densifies: 4 long columns = 32
    * bytes/row of shuffle weight through the next densify, in exchange
    * for halving the number of densify ACTIONS (the suffix family's
    * dominant fixed cost — each is a multi-stage job regardless of data
    * volume).
    */
  val MaxWidth: Int = 4

  /** (id, pos, srank) for every character position of every non-empty
    * document: `srank` is the 0-based dense rank of the suffix starting
    * at 1-based `pos` under binary string order, ties iff suffixes are
    * byte-identical. Equals DuckDB's `dense_rank() OVER (ORDER BY
    * substr(text, pos))` — the brute-force oracle this never computes.
    */
  def suffixRanks(
      docs: DataFrame,
      id: String,
      text: String): DataFrame = Checkpoints.scope { cp =>
    build(cp, docs, id, text, materializeLast = false)
      .select(col("did").as(id), col("pos"), col("r").as("srank"))
  }

  /** The LCP table over rank-ADJACENT suffixes — the dedup half of the
    * index: a substring of length ≥ L occurs twice in the corpus iff
    * some row here has `lcp` ≥ L (suffix-array adjacency property).
    * Rows are (srank, doc_a, pos_a, doc_b, pos_b, lcp): the
    * (doc,pos)-minimal representative of rank `srank` against that of
    * rank `srank`+1 (any representative works — equal ranks mean
    * byte-identical suffixes) and the length of their longest common
    * prefix CLAMPED at `maxLcp`; `srank` is the FULL-suffix dense rank.
    *
    * The LCP is one codegen'd character comparison of the two
    * `maxLcp`-char suffix slices of each pair ([[adjacentSliceLcp]]). A
    * true LCP < maxLcp is measured exactly and one ≥ maxLcp saturates at
    * maxLcp — all a threshold consumer ("is this span duplicated at ≥ L
    * chars") reads. With `maxLcp` ≥ the longest document the slices are
    * whole suffixes, so `lcp` is the exact, uncapped LCP (spec-pinned
    * against a brute force at both).
    */
  def adjacentLcpCapped(
      docs: DataFrame,
      id: String,
      text: String,
      maxLcp: Long): DataFrame = Checkpoints.scope { cp =>
    require(maxLcp >= 1 && maxLcp <= Int.MaxValue,
      s"maxLcp must be in [1, Int.MaxValue], got $maxLcp")
    // the rank table has exactly one consumer here (the representative
    // aggregate, checkpointed below) — lazy final level, freed by the
    // scope since the result reads only the representatives
    val sr = build(cp, docs, id, text, materializeLast = false)
    // the (doc,pos)-minimal representative of each rank is consumed
    // TWICE (both sides of the adjacent-rank self-join) — checkpoint it
    // once, or the analyzer's self-join expr-id dedup re-instantiates
    // the aggregate (and its corpus-sized exchange) per side
    val reps = cp.checkpoint(sr.groupBy(col("r"))
      .agg(min(struct(col("did"), col("pos"))).as("m"))
      .select(col("r"), col("m.did").as("did"), col("m.pos").as("pos")))
    adjacentSliceLcp(docs, id, text, reps, maxLcp)
  }

  /** `least(LCP, cap)` of every rank-adjacent representative pair, by
    * direct comparison: each pair joins its two cap-char suffix slices
    * and runs one codegen'd character compare. `reps` is (r, did, pos),
    * one representative row per rank. Rows are (srank, doc_a, pos_a,
    * doc_b, pos_b, lcp), lazy — the shared core of [[adjacentLcpCapped]]
    * and [[dupSpanIntervals]].
    */
  private def adjacentSliceLcp(
      docs: DataFrame,
      id: String,
      text: String,
      reps: DataFrame,
      cap: Long): DataFrame = {
    val slices = docs.filter(length(col(text)) >= 1)
      .select(col(id).as("did"), col(text).as("_txt"))
    val capLen = lit(cap.toInt)
    reps.select(col("r").as("srank"), col("did").as("da"), col("pos").as("pa"))
      .join(reps.select((col("r") - 1).as("srank"),
        col("did").as("db"), col("pos").as("pb")), Seq("srank"))
      .join(slices.select(col("did").as("da"), col("_txt").as("_ta")), Seq("da"))
      .select(col("srank"), col("pa"), col("db"), col("pb"),
        col("da"), col("_ta").substr(col("pa").cast("int"), capLen).as("_sa"))
      .join(slices.select(col("did").as("db"), col("_txt").as("_tb")), Seq("db"))
      .select(col("srank"), col("da").as("doc_a"), col("pa").as("pos_a"),
        col("db").as("doc_b"), col("pb").as("pos_b"),
        graft.functions.expressions.NativeExpressions.commonPrefixChars(
          col("_sa"),
          col("_tb").substr(col("pb").cast("int"), capLen)).as("lcp"))
  }

  /** Per-document duplicated-REGION accounting — the decision step the
    * suffix index exists for (Lee et al. ACL'22 §4: characters inside
    * any duplicated substring of length ≥ `minSpan` are the removal
    * candidates). One row per non-empty document:
    * (id, n_chars, dup_spans, dup_chars) — the number of maximal
    * duplicated regions and the characters they cover.
    *
    * Exactness under the cap: position p's longest duplicated prefix is
    * `dupLen(p) = max(lcp with rank-neighbors; full suffix length if
    * its rank has ≥ 2 members)` (nearest ranks maximize LCP — the
    * suffix-array property), and the dup region is the union of
    * `[p, p + dupLen(p))` over positions with `dupLen ≥ minSpan`.
    * Capping dupLen at `cap ≥ minSpan` does NOT change the union: any
    * character inside a long duplicated substring is also inside a
    * length-`minSpan` duplicated substring starting ≤ it (substrings
    * of duplicated strings are duplicated), whose start contributes an
    * interval covering it. So the LCP is clamped at the cap
    * ([[adjacentSliceLcp]]) and the region arithmetic is still exact —
    * only per-SPAN lengths beyond the cap would be understated, and
    * the output reports merged regions, not raw span lengths.
    *
    * Touching intervals merge ([p,5) ∪ [5,e) is one region): a region
    * boundary means a genuinely non-duplicated character between.
    *
    * The ranking itself is TRUNCATED at `cap` characters (`build`'s
    * `maxPrefix`), cutting the doubling ladder to ~log₂ cap rounds and
    * ONE densify regardless of document length; why per-position dup
    * lengths are unchanged is argued at [[dupSpanIntervals]].
    *
    * Scale shape: one suffix-index build, ONE per-rank aggregate pass
    * (pair representative + multiplicity together, checkpointed once
    * for both consumers), the capped LCP by DIRECT slice comparison
    * (adjacent-rank representative pairs join their cap-char substrings
    * and run one codegen'd character compare), then one rank-keyed
    * equi-join (pre-merged per-rank lcp/multiplicity onto positions)
    * and doc-partitioned windows for the interval merge — no all-pairs,
    * nothing beyond the index build's own cost class.
    */
  def dupSpans(
      docs: DataFrame,
      id: String,
      text: String,
      minSpan: Long,
      cap: Long = 64L): DataFrame = Checkpoints.scope { cp =>
    val spans = dupSpanIntervals(cp, docs, id, text, minSpan, cap)
    val perDoc = spans.groupBy(col("did"))
      .agg(count(lit(1)).as("dup_spans"),
        sum(col("e") - col("s")).as("dup_chars"))
    val out = docs.filter(length(col(text)) >= 1)
      .select(col(id).as("did"), length(col(text)).cast("long").as("n_chars"))
      .join(perDoc, Seq("did"), "left")
      .select(col("did").as(id), col("n_chars"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
    // materialize the ONE-ROW-PER-DOC result eagerly; the scope then
    // frees the O(total chars) suffix-index checkpoints — what stays
    // resident is the doc-count-sized snapshot the caller consumes
    cp.checkpoint(out)
  }

  /** The transformation [[dupSpans]] accounts for: rebuild each document
    * with its merged duplicated regions REMOVED (Lee et al. ACL'22 §4's
    * removal step — the catalog's `q_span_scrub` is the chunk-granular
    * keep-first variant; this is the exact character-granular suffix-index
    * one). Removes EVERY copy of a duplicated span — the conservative
    * decontamination variant; keep-first semantics compose by exempting
    * the global first occurrence before interval merge.
    *
    * One row per non-empty document:
    * (id, n_chars, kept_chars, text_scrubbed) — the text with every
    * character inside a merged ≥ `minSpan` duplicated region deleted
    * (the complement substrings concatenated in order).
    *
    * Scale shape: everything [[dupSpans]] costs (one suffix-index build +
    * direct-compare capped LCP + interval merge), then ONE per-doc interval
    * `collect_list` (bounded by len/minSpan intervals per doc — the merge
    * guarantees a non-duplicated character between consecutive spans)
    * joined back to the docs and folded map-side into the kept string —
    * no per-character shuffle, no window over raw text.
    */
  def scrubDupSpans(
      docs: DataFrame,
      id: String,
      text: String,
      minSpan: Long,
      cap: Long = 64L): DataFrame = Checkpoints.scope { cp =>
    val spans = dupSpanIntervals(cp, docs, id, text, minSpan, cap)
    val iv = spans.groupBy(col("did"))
      .agg(sort_array(collect_list(struct(
        col("s").cast("long").as("s"), col("e").cast("long").as("e"))))
        .as("ivs"))
    // fold the sorted disjoint intervals into the kept string: cursor c
    // starts at 1; each interval appends text[c, s) and advances c to e;
    // the finisher appends the tail text[c, len]. substr with a zero
    // length (touching intervals at the ends) yields "".
    val rebuilt = aggregate(
      col("ivs"),
      struct(lit(1L).as("c"), lit("").as("acc")),
      (st, x) => struct(
        x.getField("e").as("c"),
        concat(st.getField("acc"),
          col("_t").substr(st.getField("c").cast("int"),
            (x.getField("s") - st.getField("c")).cast("int"))).as("acc")),
      st => concat(st.getField("acc"),
        col("_t").substr(st.getField("c").cast("int"),
          (col("n_chars") - st.getField("c") + lit(1L)).cast("int"))))
    val out = docs.filter(length(col(text)) >= 1)
      .select(col(id).as("did"), col(text).as("_t"),
        length(col(text)).cast("long").as("n_chars"))
      .join(iv, Seq("did"), "left")
      .select(col("did").as(id), col("n_chars"),
        when(col("ivs").isNull, col("_t")).otherwise(rebuilt).as("text_scrubbed"))
      .select(col(id), col("n_chars"),
        length(col("text_scrubbed")).cast("long").as("kept_chars"),
        col("text_scrubbed"))
    // same eager-materialize-then-free discipline as dupSpans; the
    // resident snapshot is doc-count rows of scrubbed text
    cp.checkpoint(out)
  }

  /** Merged duplicated-span intervals per document — the shared core of
    * [[dupSpans]] (accounting) and [[scrubDupSpans]] (transformation).
    * Returns the LAZY (did, s, e) interval table (s 1-based inclusive, e
    * exclusive; intervals disjoint and maximal within a doc), which
    * reads O(total chars) suffix-index checkpoints owned by `cp` — the
    * caller materializes its consumption before its scope exits.
    */
  private def dupSpanIntervals(
      cp: Checkpoints,
      docs: DataFrame,
      id: String,
      text: String,
      minSpan: Long,
      cap: Long): DataFrame = {
    require(minSpan >= 1, s"minSpan must be >= 1, got $minSpan")
    require(cap >= minSpan, s"cap ($cap) must be >= minSpan ($minSpan) — " +
      "the capped union argument needs a length-minSpan interval to fit " +
      "inside the cap")
    require(cap <= Int.MaxValue, s"cap ($cap) overflows the rank horizon")
    // the span arithmetic only consumes LCPs CLAMPED at the cap, and a
    // cap-clamped LCP is one DIRECT character comparison of the two
    // cap-char suffix slices ([[adjacentSliceLcp]]).
    //
    // The rank horizon is `cap` itself: the tail consumes ranks only
    // through (a) the multiplicity branch — equal cap-truncated ranks
    // are identical padded cap-prefixes, so m ≥ 2 yields exactly
    // least(remaining, cap), the same value any deeper ranking produces
    // (capped LCP ≥ cap collapses there too) — and (b) adjacent-rank
    // slice compares, where two DIFFERENT cap-truncated ranks have true
    // LCP ≤ cap − 1 and every member of the neighboring rank run shares
    // that run's padded cap-prefix, so the representative's cap-char
    // slice compare returns the exact capped LCP against the true
    // full-order neighbor. A 2·cap horizon would add a doubling round
    // (a lead-window pass over every position) and double the final
    // densify's rank-tuple width through the bucket shuffle (guide
    // §2.3, narrower types / fewer bytes).
    val sr = build(cp, docs, id, text, maxPrefix = cap) // (did, pos, r)
    // ONE aggregate pass over the rank table serves both consumers —
    // the pair representatives and the per-rank multiplicity the span
    // arithmetic needs — checkpointed so neither recomputes it.
    val rstats = cp.checkpoint(
      sr.groupBy(col("r"))
        .agg(min(struct(col("did"), col("pos"))).as("m"),
          count(lit(1)).as("cnt")))
    val reps = rstats
      .select(col("r"), col("m.did").as("did"), col("m.pos").as("pos"))
    // the capped adjacent-rank LCP, checkpointed because the span
    // arithmetic joins it TWICE (lu/ld).
    //
    // Rows with l < minSpan are DROPPED inside the checkpoint: dlen is a
    // max whose consumers keep only dlen ≥ minSpan, so a sub-minSpan LCP
    // can never be the deciding component of a surviving row (if it were
    // the max, the row fails the filter; if another component ≥ minSpan
    // wins, replacing the sub-minSpan value by 0 leaves the max
    // unchanged). The cached table shrinks from rank-count rows to
    // duplicated-adjacency rows — the quantity the whole tail is
    // keyed on below.
    val lcpByRank = cp.checkpoint(
      adjacentSliceLcp(docs, id, text, reps, cap)
        .select(col("srank"), col("lcp").as("l"))
        .filter(col("l") >= lit(minSpan)))
    // rank-keyed inputs (multiplicity + up/down LCP) pre-joined into ONE
    // rank-side table so the corpus-sized sr streams through a single
    // rank join, not three — and PRUNED to the ranks that can still
    // produce a span (m ≥ 2, or a ≥ minSpan LCP up or down; every other
    // rank's positions have dlen < minSpan and are filtered below
    // anyway). The pruned table is checkpointed with its MEASURED size
    // as plan statistics, so on a dedup-typical corpus the planner
    // auto-broadcasts it and the corpus-sized rank table keeps its
    // hash(did) layout through the join — the per-position pass and the
    // interval-merge windows then run with ZERO exchanges of position
    // rows (before: sr was re-shuffled onto r for the join and back
    // onto did for the windows). On a pathological all-duplicate corpus
    // the measured size is large and the planner keeps the shuffle
    // join — no hard-coded hint either way (guide §3.1).
    val rankSide0 = rstats.select(col("r"), col("cnt").as("m"))
      .join(lcpByRank.select(col("srank").as("r"), col("l").as("lu")),
        Seq("r"), "left")
      .join(lcpByRank.select((col("srank") + 1).as("r"), col("l").as("ld")),
        Seq("r"), "left")
      .filter(col("m") >= 2 || col("lu").isNotNull || col("ld").isNotNull)
    val rankSide = cp.checkpoint(rankSide0, sized = true)
    // rstats and the LCP table have no consumer beyond rankSide —
    // release them now instead of carrying three snapshots to the end
    cp.release(rankSide0)
    val docLens = docs.filter(length(col(text)) >= 1)
      .select(col(id).as("did"), length(col(text)).cast("long").as("len"))
    val per = sr
      .join(rankSide, Seq("r"))
      .join(docLens, Seq("did"))
      .select(col("did"), col("pos"),
        greatest(
          when(col("m") >= 2,
            least(col("len") - col("pos") + 1, lit(cap))).otherwise(lit(0L)),
          coalesce(col("lu"), lit(0L)),
          coalesce(col("ld"), lit(0L))).as("dlen"))
    val ordered = Window.partitionBy(col("did")).orderBy(col("pos"))
    per.filter(col("dlen") >= minSpan)
      .select(col("did"), col("pos"), (col("pos") + col("dlen")).as("e"))
      .withColumn("pe",
        max(col("e")).over(ordered.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ng",
        when(col("pe").isNull || col("pos") > col("pe"), 1L).otherwise(0L))
      .withColumn("grp", sum(col("ng")).over(ordered))
      .groupBy(col("did"), col("grp"))
      .agg(min(col("pos")).as("s"), max(col("e")).as("e2"))
      .select(col("did"), col("s"), col("e2").as("e"))
  }
}

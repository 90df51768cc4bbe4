package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Four families, each with a distinct scale profile:
  *  - exact (content-hash groupBy): one shuffle on a 32-char key; at 100 TB
  *    the md5 keys are ~uniform so no skew, and partial aggregation makes
  *    the shuffle carry only (hash, min_id, count) per key per partition.
  *  - MinHash + LSH banding: signatures are computed per-row (map-side,
  *    codegen'd — no UDF), candidate generation shuffles only (band, key)
  *    pairs; the quadratic blow-up is confined to same-bucket groups.
  *  - SimHash: per-row bit-vector signature; near-dup = small Hamming
  *    distance within same signature prefix buckets.
  *  - n-gram Jaccard: exact pairwise ground truth via token inverted index;
  *    O(pairs-sharing-a-token) — only usable on bounded candidate sets,
  *    which is exactly how it's used here (verification of the sketches).
  *
  * All hash functions are md5-based so the DuckDB oracle reproduces them
  * bit-for-bit (md5 is engine-independent).
  */
object Dedup {

  import TextFunctions.tokens

  /** Distinct tokens per row, exploded: (idCol, tok). `array_distinct`
    * before `explode` keeps the dedup map-side (no shuffle).
    */
  def explodedDistinctTokens(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), explode(array_distinct(tokens(col(text)))).as("tok"))

  /** Exact dedup: keep the min-id row per normalized-content fingerprint. */
  def dropExactDuplicates(df: DataFrame, id: String, text: String): DataFrame = {
    val fp = df.withColumn("fp", TextFunctions.fingerprint(col(text)))
    val keep = fp.groupBy(col("fp")).agg(min(col(id)).as(id))
    fp.join(keep, Seq("fp", id), "left_semi").drop("fp")
  }

  /** Per-row MinHash signature (array<long>, one element per hash; NULL
    * when the text has no tokens): the native
    * [[graft.functions.expressions.MinHashSig]] expression — one md5 per
    * distinct token + k affine mixes mod 2^31−1
    * ([[graft.functions.expressions.MinHashFamily]]). A map-side
    * projection: signature build shuffles NOTHING, unlike the
    * explode → groupBy(id) → k×min aggregation it replaces, which
    * shuffled (partials of) every exploded token row.
    */
  def minhashSig(text: Column, numHashes: Int): Column =
    graft.functions.expressions.NativeExpressions
      .minhashSig(tokens(text), numHashes)

  /** LSH band key for band b of an array<long> signature column:
    * md5 over the "|"-joined decimal renderings of components
    * [b·r, b·r+r) — string-identical to the SQL oracle's
    * `md5(concat_ws('|', CAST(s_i AS VARCHAR)…))`.
    */
  def bandKeyExpr(sig: Column, band: Int, rowsPerBand: Int): Column = {
    val cols = (band * rowsPerBand until (band + 1) * rowsPerBand)
      .map(i => sig.getItem(i).cast("string"))
    md5(concat_ws("|", cols: _*))
  }

  /** MinHash-LSH candidate pairs: docs sharing at least one band bucket.
    * Returns distinct (doc_a < doc_b) id pairs.
    *
    * Scale: the only shuffles are the per-doc signature aggregation (keyed
    * by doc id) and the band-bucket self-join (keyed by 32-char band key).
    * Bucket sizes are the skew risk at 100 TB — a pathological bucket of m
    * near-identical docs yields m² pairs; AQE skew-join splitting plus a
    * bucket-size cap (`maxBucket`) bound it.
    */
  def minhashCandidates(
      df: DataFrame,
      id: String,
      text: String,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucket: Int = 1000): DataFrame = {
    // signature build + banding + bucket cap all live in [[bandTable]]
    // (shared with the incremental-dedup index) so the banding scheme
    // has exactly one implementation
    val capped = bandTable(df, id, text, numHashes, bands, maxBucket)
    val a = capped.select(col(id).as("doc_a"), col("band"), col("bkey"))
    val b = capped.select(col(id).as("doc_b"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** MinHash Jaccard ESTIMATE for LSH candidate pairs: the fraction of
    * matching signature components. E[est] = true Jaccard (the classic
    * MinHash property), with stderr ≈ √(J(1−J)/numHashes); fully
    * deterministic here (md5-min signatures), so the estimate reproduces
    * bit-for-bit in the SQL oracle. At scale this is the cheap scorer
    * between candidate generation (bands) and any expensive exact
    * verifier: signatures are already materialized for banding, so
    * scoring a pair is numHashes string compares — no token sets are
    * ever re-read.
    */
  def minhashJaccardEstimate(
      df: DataFrame,
      id: String,
      text: String,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    // same cheap-predicate + parallelism-floor shape as [[bandTable]]
    // (a filter on the sig column would duplicate the signature
    // expression below the projection; the single-split scan would
    // serialize it)
    val sigs = Spread.floor(
        df.select(col(id), col(text)).filter(length(trim(col(text))) > 0),
        col(id))
      .select(col(id), minhashSig(col(text), numHashes).as("sig"))
    val cand = minhashCandidates(df, id, text, numHashes, bands, maxBucket = 0)
    val a = sigs.select(col(id).as("doc_a"), col("sig").as("sig_a"))
    val b = sigs.select(col(id).as("doc_b"), col("sig").as("sig_b"))
    val nMatch = (0 until numHashes)
      .map(i => when(col("sig_a").getItem(i) === col("sig_b").getItem(i), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(a, Seq("doc_a"))
      .join(b, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (nMatch.cast("double") / numHashes).as("est_jaccard"))
  }

  /** Exact n-gram (word n=1 shingle) Jaccard similarity for all pairs that
    * share at least one token. Ground truth for the sketch-based methods.
    */
  def jaccardPairs(
      df: DataFrame,
      id: String,
      text: String,
      threshold: Double): DataFrame = {
    val toks = explodedDistinctTokens(df, id, text)
    val sizes = toks.groupBy(col(id)).agg(count(lit(1)).as("nt"))
    val a = toks.select(col(id).as("doc_a"), col("tok"))
    val b = toks.select(col(id).as("doc_b"), col("tok"))
    // same compute-after-tiny-shuffle pin as [[prefixCandidates]]: the
    // token buckets' quadratic pair fan-out must not run on the one
    // partition AQE coalesces the byte-small token exchange into —
    // lane count per [[Spread.fanoutLanes]] (conf ÷ 4: spread without
    // paying conf-many tiny tasks per stage)
    val common = a
      .repartition(Spread.fanoutLanes(a), col("tok"))
      .join(b, Seq("tok"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"))
    common
      .join(broadcast(sizes.withColumnRenamed(id, "doc_a").withColumnRenamed("nt", "na")), Seq("doc_a"))
      .join(broadcast(sizes.withColumnRenamed(id, "doc_b").withColumnRenamed("nt", "nb")), Seq("doc_b"))
      .withColumn("jaccard", col("common") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Prefix-filtering set-similarity join (Chaudhuri et al. ICDE'06;
    * the PPJoin family, Xiao et al. WWW'08) — the EXACT counterpart to
    * the catalog's LSH candidate generators: every pair with Jaccard ≥
    * t is guaranteed found (no false negatives, unlike MinHash/SimHash
    * banding), yet the join never touches all pairs. The lemma: order
    * tokens by a global total order (document frequency asc, token asc
    * — rare first) and keep each doc's first `|d| − ⌈t·|d|⌉ + 1` tokens
    * as its PREFIX; two sets with J ≥ t must overlap in ≥ 1 prefix
    * token, so the candidate join is an equi-join on prefix tokens
    * only. Rare-first ordering is what bounds the buckets: hot
    * (boilerplate) tokens sort LAST and rarely enter prefixes, so
    * candidate volume concentrates on discriminative tokens — the same
    * end the LSH paths buy with frequency caps, here with zero recall
    * loss.
    *
    * Returns (doc_a, doc_b, jaccard_bp) for pairs with exact Jaccard ≥
    * `thresholdBp`/10000 over distinct whitespace tokens — integer bp
    * end-to-end, so both engines agree bit-for-bit.
    *
    * Scale shape: the frequency table and per-doc ordering shuffle
    * (doc, tok) pairs twice (df join, doc window); the candidate join
    * carries ONLY prefix tokens (≤ (1−t)·|d| + 1 per doc — at t=0.9
    * one-tenth of the token volume); the verify re-joins the candidate
    * pairs' token sets. No all-pairs stage anywhere, and no broadcast
    * of any corpus-cardinality table: the doc sizes ride the candidate
    * pairs as two long columns (prefixCandidates aggregates them for
    * its positional filter anyway), so nothing per-corpus-doc is ever
    * joined or broadcast after the prefix build. Two further PPJoin
    * filters cut the verify volume without touching the result (both
    * are sound upper-bound pruners — see [[prefixCandidates]]).
    */
  def prefixFilterPairs(
      df: DataFrame,
      id: String,
      text: String,
      thresholdBp: Long): DataFrame = {
    require(thresholdBp > 0 && thresholdBp <= 10000,
      s"thresholdBp must be in (0, 10000], got $thresholdBp")
    val toks = explodedDistinctTokens(df, id, text)
    val cand = prefixCandidates(toks, id, thresholdBp)
    // exact verify on candidates only. The doc sizes (na, nb) RIDE THE
    // CANDIDATE PAIR — prefixCandidates already aggregated them for its
    // positional filter — so the verify needs no join back to a
    // per-corpus-doc `sizes` table: two extra longs through the verify
    // shuffle replace two doc-id-keyed joins of a doc-count table (and
    // at bounded SFs, their two broadcast-build jobs — the query's
    // fixed floor was join-count-dominated).
    cand
      .join(toks.select(col(id).as("doc_a"), col("tok")), Seq("doc_a"))
      .join(toks.select(col(id).as("doc_b"), col("tok")), Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"),
        min(col("na")).as("na"), min(col("nb")).as("nb"))
      .withColumn("jaccard_bp",
        expr("(common * 10000) DIV (na + nb - common)"))
      .filter(col("jaccard_bp") >= thresholdBp)
      .select(col("doc_a"), col("doc_b"), col("jaccard_bp"))
  }

  /** Candidate stage of [[prefixFilterPairs]] — (doc_a, doc_b) pairs
    * that survive the prefix join plus PPJoin's two sound pruners
    * (Xiao et al. WWW'08 §3; both only ever REMOVE pairs whose exact
    * Jaccard provably falls below t, so the verified result is
    * unchanged):
    *
    *  - length filter: J ≥ t forces t·max(na,nb) ≤ min(na,nb); pairs
    *    with mismatched sizes drop before the pair ever materializes.
    *  - positional filter: let the FIRST shared prefix token sit at
    *    doc-local sorted positions (pa, pb). Every doc-local position
    *    sequence is order-isomorphic to the shared global (df, tok)
    *    order, so no common token can precede it (an earlier common
    *    token would lie inside both prefixes — contradiction with
    *    "first"). Hence overlap ≤ 1 + min(na−pa, nb−pb), and the pair
    *    survives only if that bound reaches the required overlap
    *    α = ⌈t·(na+nb)/(1+t)⌉ (from J = O/(na+nb−O) ≥ t).
    *
    * Exposed `private[graft]` so specs can observe candidate-volume
    * pruning directly instead of inferring it from the verified output.
    */
  private[graft] def prefixCandidates(
      toks: DataFrame,
      id: String,
      thresholdBp: Long): DataFrame = {
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // per-doc rare-first order; prefix size |d| - ceil(t*|d|) + 1.
    // The doc size nt is a SECOND WINDOW over the same doc partitioning
    // (unordered count), so it rides the rn window's one exchange+sort —
    // no per-doc sizes aggregation, no join back on the doc id.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(id)).orderBy(col("df").asc, col("tok").asc)
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col(id))
    val prefix = toks
      .join(dfreq, Seq("tok"))
      .withColumn("rn", row_number().over(w))
      .withColumn("nt", count(lit(1)).over(wDoc))
      .filter(col("rn") <=
        expr(s"nt - (nt * $thresholdBp + 9999) DIV 10000 + 1"))
      .select(col(id), col("tok"), col("rn"), col("nt"))
    // the prefix table is BYTE-small (≤ (1−t)·|d| + 1 tokens per doc),
    // so AQE coalesces its exchange to ~one partition — and the pair
    // fan-out AFTER it is the quadratic part of the join (per-bucket
    // k² candidate rows built, length-filtered and aggregated). That is
    // the compute-bound-after-byte-small-shuffle trap (PERF.md r4, the
    // Levenshtein verify): measured round 15, the whole candidate+verify
    // chain ran as ONE 4.9 s task with 31 cores idle. An explicit-count
    // repartition on the join key pins the fan-out wide; the other side
    // co-partitions at the same count. Lane count per
    // [[Spread.fanoutLanes]] (conf ÷ 4: spread without paying conf-many
    // tiny tasks per stage — the round-15 full-conf pin regressed the
    // driver's contended-box bench).
    val lanes = Spread.fanoutLanes(toks)
    prefix
      .select(col(id).as("doc_a"), col("tok"),
        col("rn").as("pa"), col("nt").as("na"))
      .repartition(lanes, col("tok"))
      .join(
        prefix.select(col(id).as("doc_b"), col("tok"),
          col("rn").as("pb"), col("nt").as("nb")),
        Seq("tok"))
      .filter(col("doc_a") < col("doc_b"))
      // length filter — applied on the raw matches, before the pair agg
      .filter(least(col("na"), col("nb")) * 10000 >=
        lit(thresholdBp) * greatest(col("na"), col("nb")))
      .groupBy("doc_a", "doc_b")
      // first shared prefix token: minimal (pa, pb) — minimal pa and
      // minimal pb coincide because doc-local order mirrors global order
      .agg(
        min(struct(col("pa"), col("pb"))).as("m"),
        min(col("na")).as("na"), min(col("nb")).as("nb"))
      // positional filter: 1 + min(na-pa, nb-pb) >= ceil(t(na+nb)/(1+t))
      .filter(
        lit(1) + least(col("na") - col("m.pa"), col("nb") - col("m.pb")) >=
          expr(s"(($thresholdBp * (na + nb)) + ${10000 + thresholdBp} - 1)" +
            s" DIV ${10000 + thresholdBp}"))
      // na/nb ride along so the verify stage never joins a sizes table
      .select("doc_a", "doc_b", "na", "nb")
  }

  /** Exact shingle-CONTAINMENT join (Broder 1997's containment, the
    * asymmetric complement of Jaccard resemblance): pairs (a, b) with
    * |Sₐ ∩ S_b| / |Sₐ| ≥ t over distinct `n`-token shingle sets — the
    * doc-INSIDE-doc signal (quotations, boilerplate wrappers, subset
    * re-posts) that resemblance misses: a short doc quoted verbatim
    * inside a long one has high containment but low Jaccard, so no
    * resemblance threshold finds it. Output is DIRECTED:
    * (doc_a, doc_b, containment_bp) says a is contained in b.
    *
    * Completeness (prefix lemma, containment form): C(a,b) ≥ t forces
    * |Sₐ ∩ S_b| ≥ ⌈t·na⌉, so among a's first `na − ⌈t·na⌉ + 1` shingles
    * in the global rare-first order at least one lies in S_b — the
    * candidate equi-join on a's prefix shingles against the FULL
    * shingle index has zero false negatives. Rare-first ordering keeps
    * prefix buckets off the hot (boilerplate) shingles, the same
    * discipline as [[prefixFilterPairs]].
    *
    * Scale shape: one map-side distinct-shingle explode, a df join +
    * one doc-partitioned window pass (rn and na share the exchange),
    * the asymmetric candidate equi-join (a-prefix × full index), pair
    * dedup, then the verify re-join of both shingle sets — no all-pairs
    * stage, doc sizes ride the pair, nothing per-corpus-doc is joined
    * back or broadcast.
    *
    * `maxShingleFreq > 0` is the PRODUCTION cap for mass-replica
    * corpora: shingles with document frequency above the cap are
    * excluded from the PREFIX side of candidate generation (capping
    * that side alone bounds every candidate bucket, since a bucket's
    * size is the shingle's document frequency), exactly the
    * [[simhashBucketCandidates]] /
    * [[sharedWindowPairs]] discipline — on k-replica dup cliques the
    * exact candidate volume is inherently C(k,2)-quadratic (every
    * shingle's frequency ≈ k), and the cap bounds it at the cost of
    * missing pairs whose EVERY shared shingle is boilerplate-hot. Run
    * exact dedup first (`q_dedup_order`) and the cliques the cap
    * protects against are gone before this join sees them. The verify
    * stage still counts ALL common shingles, so surviving pairs report
    * their exact containment.
    */
  def containmentPairs(
      df: DataFrame,
      id: String,
      text: String,
      thresholdBp: Long,
      n: Int = 5,
      maxShingleFreq: Int = 0): DataFrame = {
    require(thresholdBp > 0 && thresholdBp <= 10000,
      s"thresholdBp must be in (0, 10000], got $thresholdBp")
    // native Shingles: the distinct ordered token n-grams of the text
    // (tokens joined by one space; none below n tokens). A
    // column-algebra transform re-inlines split(trim(text)) inside
    // every lambda element_at (no CSE across lambda bodies — 5 splits
    // per shingle), and this plan evaluates the shingle stream five
    // times; the native one-pass build measured q_containment
    // 32.5 s -> 1.5 s at sf0.1 (3.0 s at sf10 — PERF.md round 13)
    val sh = df
      .select(col(id), tokens(col(text)).as("tk"))
      .select(col(id), explode(
        graft.functions.expressions.NativeExpressions.shingles(
          col("tk"), n, distinct = true)).as("tok"))
    val dfreq = sh.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(id)).orderBy(col("df").asc, col("tok").asc)
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col(id))
    val prefixAll = sh
      .join(dfreq, Seq("tok"))
      .withColumn("rn", row_number().over(w))
      .withColumn("na", count(lit(1)).over(wDoc))
      .filter(col("rn") <=
        expr(s"na - (na * $thresholdBp + 9999) DIV 10000 + 1"))
    // the cap drops hot shingles AFTER the prefix positions are fixed
    // (rn stays the true rare-first prefix); capping the prefix side
    // alone bounds every candidate bucket at `cap` rows, since a
    // bucket's size IS the shingle's document frequency
    val prefix = (if (maxShingleFreq > 0)
      prefixAll.filter(col("df") <= maxShingleFreq)
    else prefixAll)
      .select(col(id).as("doc_a"), col("tok"), col("na"))
    val cand = prefix
      .join(sh.select(col(id).as("doc_b"), col("tok")), Seq("tok"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("na")).as("na"))
    cand
      .join(sh.select(col(id).as("doc_a"), col("tok")), Seq("doc_a"))
      .join(sh.select(col(id).as("doc_b"), col("tok")), Seq("doc_b", "tok"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"), min(col("na")).as("na"))
      .withColumn("containment_bp", expr("(common * 10000) DIV na"))
      .filter(col("containment_bp") >= thresholdBp)
      .select(col("doc_a"), col("doc_b"), col("containment_bp"))
  }

  /** SimHash bit width used by [[simhashExpr]]. */
  val SimhashBits = 32

  /** Hex-char → nibble value via ascii arithmetic — the one primitive that
    * is identical in Spark and the SQL oracle (`ascii`).
    */
  private def hexVal(c: Column): Column = {
    val a = ascii(c)
    when(a <= 57, a - 48).otherwise(a - 87)
  }

  /** 32-bit SimHash over whitespace tokens. Bit j (0-based, from md5 hex
    * nibble j/4, bit j%4 of the nibble) is set iff the sum over tokens of
    * (+1 if the token's md5 has that bit set else -1) is positive.
    * Implemented by the native [[graft.functions.expressions.SimHash]]
    * expression: one md5 per token per row instead of the 32-pass
    * interpreted bit-vote of [[simhashFoldExpr]] (same bits, ~10× faster).
    */
  def simhashExpr(text: Column, bits: Int = SimhashBits): Column =
    graft.functions.expressions.NativeExpressions.simhash(
      array_distinct(tokens(text)), bits)

  /** Reference formulation of [[simhashExpr]] in pure column algebra;
    * kept for A/B testing the native expression.
    */
  def simhashFoldExpr(text: Column): Column = {
    val hashes = transform(array_distinct(tokens(text)), t => md5(t))
    val bits = (0 until SimhashBits).map { j =>
      val nibbleIdx = j / 4 // 1-based substring position below
      val bitMask   = 1 << (j % 4)
      val perTok = transform(
        hashes,
        h => {
          val nib = hexVal(substring(h, nibbleIdx + 1, 1))
          when((nib.bitwiseAND(lit(bitMask))) > 0, lit(1)).otherwise(lit(-1))
        })
      val s = aggregate(perTok, lit(0), (acc, x) => acc + x)
      when(s > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** SimHash near-dup candidates: same upper-16-bit prefix bucket, Hamming
    * distance ≤ maxHamming. (Prefix-bucket is one LSH table; production
    * would rotate bits for multiple tables — same plan shape.)
    */
  /** ALL pairs with SimHash Hamming distance ≤ `maxHamming`, found without
    * a cross join: the 32 bits split into `maxHamming + 1` bands — a pair
    * within the Hamming budget differs in at most `maxHamming` bands, so
    * by pigeonhole it SHARES at least one band verbatim (Manku et al.,
    * WWW'07). Candidates are pairs sharing any band bucket; the exact
    * Hamming filter then makes the result complete AND precise — identical
    * to cross-join-plus-filter, at shuffle-by-bucket cost.
    */
  def simhashCandidates(
      df: DataFrame,
      id: String,
      text: String,
      maxHamming: Int = 3): DataFrame = {
    val bands = maxHamming + 1
    // parallelism floor before the md5-per-token sketch map — same
    // single-split-scan serialization as [[bandTable]] (guide §2.5)
    val sh = Spread.floor(df.select(col(id), col(text)), col(id))
      .select(col(id), simhashExpr(col(text)).as("simhash"))
    // all band buckets from ONE evaluation of the sketch (a per-band
    // union would re-tokenize and re-hash the corpus `bands` times)
    val keys = array((0 until bands).map { bnd =>
      val lo = bnd * SimhashBits / bands
      val hi = (bnd + 1) * SimhashBits / bands
      val mask = (1L << (hi - lo)) - 1
      struct(lit(bnd).as("band"),
        shiftright(col("simhash"), lo).bitwiseAND(lit(mask)).as("bucket"))
    }: _*)
    val banded = sh
      .select(col(id), col("simhash"), explode(keys).as("bk"))
      .select(col(id), col("simhash"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val a = banded.select(
      col(id).as("doc_a"), col("simhash").as("ha"), col("band"), col("bucket"))
    val b = banded.select(
      col(id).as("doc_b"), col("simhash").as("hb"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .distinct()
  }

  /** Ordered token 3-gram shingles of a text column (one string per
    * shingle, tokens joined by a single space); empty for texts with
    * fewer than 3 tokens.
    */
  def shingles3(text: Column): Column = {
    val t = tokens(text)
    when(size(t) >= 3,
      transform(sequence(lit(0), size(t) - 3), i =>
        concat_ws(" ",
          element_at(t, i + 1), element_at(t, i + 2), element_at(t, i + 3))))
      .otherwise(array().cast("array<string>"))
  }

  /** Benchmark-contamination scan (the eval-set decontamination step of
    * LLM data pipelines, e.g. GPT-3 appendix C / PaLM §6.2): for every
    * corpus document, the fraction of its distinct token `n`-grams that
    * also appear in any benchmark document. Returns
    * `(id, n_grams, n_contaminated, contam_bps)` — basis points as
    * integer floor-division so the score is engine-exact.
    *
    * Scale shape: both sides explode to distinct (doc, gram) map-side;
    * the single shuffle is the gram-key join. The benchmark gram set is
    * tiny relative to the corpus (eval suites, not training data) —
    * marked broadcast. Corpus docs shorter than `n` tokens carry no
    * grams and are absent from the result (contamination over an empty
    * gram set is undefined, not zero).
    */
  def contamination(
      corpus: DataFrame,
      bench: DataFrame,
      id: String,
      text: String,
      n: Int = 5): DataFrame = {
    def grams(df: DataFrame) =
      df.select(col(id), explode(
        graft.functions.expressions.NativeExpressions
          .shingles(tokens(col(text)), n, distinct = true)).as("gram"))
    val benchGrams = grams(bench).select("gram").distinct()
    grams(corpus)
      .join(broadcast(benchGrams.withColumn("hit", lit(1))), Seq("gram"), "left")
      .groupBy(id)
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_contaminated"))
      .withColumn("contam_bps", expr("n_contaminated * 10000 div n_grams"))
  }

  /** `bits`-wide SimHash over the DISTINCT 3-gram shingles of a text —
    * the ORDER-SENSITIVE sketch. Unigram SimHash hashes the token set,
    * so a low-entropy vocabulary (every doc built from the same few
    * dozen words) collapses most of the corpus into a handful of
    * sketch values; shingles encode local order, which is also the
    * signal an edit-distance verifier actually cares about. Native
    * one-pass expression; [[shingleSimhashFold]] is the column-algebra
    * A/B reference.
    */
  def shingleSimhash(text: Column, bits: Int = 64): Column =
    graft.functions.expressions.NativeExpressions.shingleSimhash(
      tokens(text), 3, bits)

  /** Column-algebra reference formulation of [[shingleSimhash]]; kept
    * for A/B testing the native expression (~30× slower: interpreted
    * shingle materialization).
    */
  def shingleSimhashFold(text: Column, bits: Int = 64): Column =
    graft.functions.expressions.NativeExpressions.simhash(
      array_distinct(shingles3(text)), bits)

  /** Wide-bucket shingle-SimHash candidate pairs for downstream exact
    * verification (Levenshtein, Jaccard, …): pairs sharing any of
    * `bands` bucket keys of `bits/bands` bits each over a `bits`-wide
    * [[shingleSimhash]]. Docs with fewer than 3 tokens carry no shingle
    * evidence and are excluded.
    *
    * Scale shape: with the 64-bit / 4-band default the bucket space is
    * 2¹⁶ per band, and the order-sensitive sketch keeps bucket loads at
    * near-dup-cluster size (measured max 4 on a 5k-doc corpus whose
    * unigram-set sketch put 1/3 of all docs into ONE bucket) — candidate
    * volume tracks |true near-dups|, not |corpus|². Candidates are
    * pigeonhole-complete for Hamming ≤ bands-1 and high-probability for
    * moderate distances; callers define precision via their verifier, so
    * no Hamming filter is applied here.
    *
    * `maxBucketFreq > 0` drops buckets holding more than that many docs
    * before the pair join — the same guard as [[minhashCandidates]]'s
    * band cap and `Similarity.nearDupBanded(maxBandFreq)`: mass-
    * identical documents (undeduplicated replicas, boilerplate) put
    * k-doc cliques into one bucket per band — k²·bands join rows no
    * sketch entropy dilutes (the r9 sf100 study measured the uncapped
    * q_edit_distance at 99× per 10× data from exactly this, the C(k,2)
    * clique-pair signature). Exact duplicates are the exact-dedup
    * stage's job; the cap enforces that pipeline ordering operator-side.
    */
  def simhashBucketCandidates(
      df: DataFrame,
      id: String,
      text: String,
      bits: Int = 64,
      bands: Int = 4,
      maxBucketFreq: Int = 0): DataFrame = {
    val w = bits / bands
    val mask = if (w == 64) -1L else (1L << w) - 1
    val sh = df
      .filter(size(tokens(col(text))) >= 3)
      .select(col(id), shingleSimhash(col(text), bits).as("simhash"))
    // all band keys from ONE evaluation of the sketch (a per-band union
    // would re-tokenize and re-hash the corpus `bands` times)
    val keys = array((0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        shiftright(col("simhash"), bnd * w).bitwiseAND(lit(mask)).as("bucket"))
    }: _*)
    val bandedAll = sh
      .select(col(id), explode(keys).as("bk"))
      .select(col(id), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val banded =
      if (maxBucketFreq <= 0) bandedAll
      else {
        val hot = bandedAll.groupBy("band", "bucket")
          .agg(count(lit(1)).as("freq"))
          .filter(col("freq") > maxBucketFreq)
          .select("band", "bucket")
        bandedAll.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
      }
    val a = banded.select(col(id).as("doc_a"), col("band"), col("bucket"))
    val b = banded.select(col(id).as("doc_b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** New-document filter against a reference corpus with a Bloom-filter
    * prefilter: returns exactly the batch rows whose token-set
    * fingerprint does NOT appear in `corpus` (the anti-join result,
    * engine-independent), but only rows the Bloom filter cannot rule out
    * ever reach the shuffled verification join.
    *
    * The filter is built with Catalyst's own `BloomFilterAggregate` /
    * `BloomFilterMightContain` — the machinery behind Spark's runtime
    * join filters — collected once on the driver (the index-build step)
    * and shipped as a literal, so the membership probe is a per-row
    * codegen'd predicate with no join.
    *
    * Scale shape (100 TB): a batch-vs-corpus anti-join shuffles BOTH
    * sides; with the prefilter, rows the Bloom filter rejects (the vast
    * majority of a mostly-novel batch) short-circuit map-side, and only
    * actual duplicates plus the ~`fpp` false-positive sliver pay the
    * shuffle. False negatives are impossible, so result == anti-join.
    */
  def bloomNewDocs(
      batch: DataFrame,
      corpus: DataFrame,
      id: String,
      text: String,
      expectedItems: Long = 4096L,
      fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedItems, fpp)
    val key     = TextFunctions.bagFingerprint(col(text))
    val corpusKeys = corpus.select(key.as("k"))
    val bloomAgg = GraftBridge.column(
      new BloomFilterAggregate(
        GraftBridge.expression(xxhash64(col("k"))),
        GraftBridge.expression(lit(expectedItems)),
        GraftBridge.expression(lit(numBits))).toAggregateExpression())
    val bloomBytes = corpusKeys.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    // empty corpus → the aggregate yields a null filter; every batch row
    // is new (a null-literal probe would instead null out BOTH branches)
    if (bloomBytes == null) return batch
    val probed = batch
      .withColumn("k", key)
      .withColumn("maybe_dup", GraftBridge.column(
        new BloomFilterMightContain(
          GraftBridge.expression(lit(bloomBytes)),
          GraftBridge.expression(xxhash64(col("k"))))))
    val definiteNew = probed.filter(!col("maybe_dup"))
    val verifiedNew = probed.filter(col("maybe_dup"))
      .join(corpusKeys, Seq("k"), "left_anti")
    definiteNew.unionByName(verifiedNew).drop("k", "maybe_dup")
  }

  /** Incremental dedup classification of an arriving batch against an
    * existing corpus — the shape a continuously-ingesting training
    * pipeline runs per snapshot, where corpus-vs-corpus re-deduplication
    * would be O(|corpus|²) wasted work:
    *
    *  - `exact` — token-set fingerprint present in the corpus
    *  - `near`  — shares ≥1 MinHash-LSH band bucket with a corpus doc
    *  - `new`   — neither
    *
    * `match_id` is the smallest matching corpus id (−1 for `new`).
    *
    * Scale shape: per-batch cost is |batch| signatures plus joins against
    * the corpus's fingerprint and band tables — both of which are
    * batch-independent and in production are persisted (partitioned by
    * key) and only APPENDED to as batches are accepted; the corpus text
    * is never re-read per batch.
    */
  def incrementalDedup(
      batch: DataFrame,
      corpus: DataFrame,
      id: String,
      text: String,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame =
    incrementalDedupAgainst(
      batch,
      fingerprintTable(corpus, id, text).withColumnRenamed(id, "cid"),
      bandTable(corpus, id, text, numHashes, bands).withColumnRenamed(id, "cid"),
      id, text, numHashes, bands)

  /** (id, fp) token-set fingerprint table — the exact-dedup index an
    * incremental pipeline persists and appends to.
    */
  def fingerprintTable(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), TextFunctions.bagFingerprint(col(text)).as("fp"))

  /** (id, band, bkey) MinHash-LSH band table — the near-dup index an
    * incremental pipeline persists and appends to.
    *
    * `maxBucket > 0` drops band buckets holding more than that many docs
    * (same broadcast-anti-join cap as [[minhashCandidates]], same
    * rationale: a boilerplate bucket of m docs costs every future batch
    * row that lands in it m join rows — at corpus scale the cap is what
    * keeps per-batch cost ∝ |batch|). 0 = no cap (the oracle regime).
    */
  def bandTable(
      df: DataFrame,
      id: String,
      text: String,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucket: Int = 0): DataFrame = {
    val r = numHashes / bands
    // per-row native signature: no explode, no aggregation — the only
    // shuffle left in candidate generation is the band-bucket join.
    // Tokenless docs (null sig) have no signature to band, exactly like
    // the absent groupBy rows of the aggregation formulation. The
    // tokenless test is applied as a CHEAP text predicate BELOW the
    // signature projection — `sig IS NOT NULL ⇔ length(trim(text)) > 0`
    // (minhashSig is null iff its token array holds no non-null token,
    // and `tokens` of any non-empty trimmed text is non-empty) — because
    // a filter ON the sig column gets pushed beneath the projection and
    // duplicates the whole md5-per-token expression per row (guide §4.4;
    // the before-plan carried graft_minhash_sig in Filter AND Project).
    // Spread.floor then parallelizes the signature map past the
    // single-split scan (measured: one 0.9 s task at sf0.1).
    val sigs = Spread.floor(
        df.select(col(id), col(text)).filter(length(trim(col(text))) > 0),
        col(id))
      .select(col(id), minhashSig(col(text), numHashes).as("sig"))
    // all band keys from ONE evaluation of the signature (a per-band
    // union would recompute the signatures `bands` times — same pattern
    // as simhashBucketCandidates)
    val keys = array((0 until bands).map { b =>
      struct(lit(b).as("band"), bandKeyExpr(col("sig"), b, r).as("bkey"))
    }: _*)
    val banded = sigs
      .select(col(id), explode(keys).as("bk"))
      .select(col(id), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    if (maxBucket <= 0) banded
    else {
      val oversized = banded
        .groupBy(col("band"), col("bkey"))
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") > maxBucket)
        .select(col("band"), col("bkey"))
      banded.join(broadcast(oversized), Seq("band", "bkey"), "left_anti")
    }
  }

  /** [[incrementalDedup]] against PRECOMPUTED corpus index tables
    * (`corpusFp` = (cid, fp), `corpusBands` = (cid, band, bkey)) — the
    * form a continuously-ingesting pipeline actually runs: the corpus
    * text is never touched, only its persisted indexes are joined (and
    * later appended to with the accepted batch's rows).
    */
  def incrementalDedupAgainst(
      batch: DataFrame,
      corpusFp: DataFrame,
      corpusBands: DataFrame,
      id: String,
      text: String,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    val exact = fingerprintTable(batch, id, text)
      .join(corpusFp, Seq("fp"))
      .groupBy(col(id))
      .agg(min(col("cid")).as("exact_id"))
    val near = bandTable(batch, id, text, numHashes, bands)
      .join(corpusBands, Seq("band", "bkey"))
      .groupBy(col(id))
      .agg(min(col("cid")).as("near_id"))
    batch.select(col(id))
      .join(exact, Seq(id), "left")
      .join(near, Seq(id), "left")
      .select(
        col(id),
        when(col("exact_id").isNotNull, "exact")
          .when(col("near_id").isNotNull, "near")
          .otherwise("new").as("dup_kind"),
        coalesce(col("exact_id"), col("near_id"), lit(-1L)).as("match_id"))
  }

  // ─────────────────────────────────────────────────────────────────
  // Content-defined chunking (CDC) dedup
  // ─────────────────────────────────────────────────────────────────

  /** CDC boundary mask width: boundary where the rolling hash ≡ 0
    * mod 2^6 ⇒ boundary probability 1/64, mean chunk ~64 chars.
    */
  val CdcMaskBits = 6

  /** Content-defined chunk list of a text column (LBFS/Venti-style
    * Rabin chunking, the storage-dedup classic): a chunk boundary falls
    * after character i when the rolling hash of the text so far is ≡ 0
    * mod 2^[[CdcMaskBits]]. Unlike fixed 20-token spans
    * ([[graft.Queries]]' q_span_scrub), CDC boundaries move WITH the
    * content, so an insertion near the head of a doc re-chunks only its
    * neighborhood — every later chunk re-aligns and still dedups.
    *
    * The classic Gear scan carries h = 2·h + g(c) left to right, but a
    * LOW-BIT mask test (h mod 2^m = 0) only sees the trailing m
    * characters — every older term is multiplied by 2^m ≡ 0 — so the
    * boundary predicate is ALSO a fixed m-term sliding-window
    * expression over g(c_{i−m+1})…g(c_i); the DuckDB oracle computes
    * that form with lag windows and lands on identical boundaries.
    * g(c) = Knuth multiplicative hash of the char's code point (exact
    * integer arithmetic, engine-independent).
    *
    * Returns (…df columns…, chunks: array<string>) — chunks concatenate
    * back to exactly the original text (spec-pinned).
    */
  def cdcChunks(df: DataFrame, text: String): DataFrame =
    // a native one-pass expression, not higher-order array functions: a
    // declarative formulation (transform over positions + zip_with for
    // chunk extents) is possible — the low-bit mask makes the boundary
    // test a pure 6-char sliding window — but HOFs are CodegenFallback
    // and per-position substr is O(position) on UTF-8 bytes, which
    // measured 25 ms/doc at 300 chars; the expression is O(len) with
    // codegen (see [[graft.functions.expressions.CdcChunks]] for the
    // window⇄scan equivalence the oracle relies on)
    df.withColumn("chunks",
      graft.functions.expressions.NativeExpressions.cdcChunks(
        col(text), CdcMaskBits))

  /** One-row corpus CDC dedup report: total vs distinct chunk counts
    * and bytes, and the duplicated-byte fraction in basis points —
    * what a CDC store would save on this corpus. Scale shape: chunking
    * is map-side per row; the only shuffle is the (32-char md5) chunk
    * key agg, partial-aggregated map-side like exact dedup.
    */
  def cdcDedupStats(df: DataFrame, text: String): DataFrame =
    cdcChunks(df.filter(length(col(text)) > 0), text)
      .select(explode(col("chunks")).as("chunk"))
      .select(md5(col("chunk")).as("ch"), length(col("chunk")).cast("long").as("clen"))
      .groupBy(col("ch"))
      .agg(count(lit(1)).as("n"), min(col("clen")).as("clen"))
      .agg(
        sum(col("n")).as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum(col("n") * col("clen")).as("bytes_total"),
        sum(col("clen")).as("bytes_distinct"))
      .withColumn("dup_bytes_bp",
        expr("(bytes_total - bytes_distinct) * 10000 DIV bytes_total"))

  /** (idCol, ch, clen) chunk-instance table: one row per CDC chunk
    * occurrence, keyed by the chunk's md5 — the persistable chunk-store
    * index ([[fingerprintTable]]'s idiom at sub-document granularity).
    */
  def cdcChunkTable(df: DataFrame, id: String, text: String): DataFrame =
    cdcChunks(df.filter(length(col(text)) > 0), text)
      .select(col(id), explode(col("chunks")).as("chunk"))
      .select(col(id), md5(col("chunk")).as("ch"),
        length(col("chunk")).cast("long").as("clen"))

  /** Incremental CDC dedup: per batch document, how many of its chunks
    * (and bytes) already exist in the corpus chunk store. A batch doc
    * that is byte-identical to a corpus doc reports new_bytes = 0; an
    * edited near-dup reports only its changed neighborhood as new —
    * sub-document dedup granularity that doc-hash incremental dedup
    * ([[incrementalDedupAgainst]]) can't see.
    *
    * Scale shape: `corpusChunks` is the persisted index (only its
    * distinct `ch` projection is read); per-batch cost is chunking the
    * batch map-side + ONE hash join on the 32-char chunk key —
    * ∝ |batch| + matched index rows, never corpus text.
    */
  def cdcIncremental(
      batch: DataFrame,
      corpusChunks: DataFrame,
      id: String,
      text: String): DataFrame =
    cdcChunkTable(batch, id, text)
      .join(corpusChunks.select(col("ch")).distinct()
        .withColumn("seen", lit(1)), Seq("ch"), "left")
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_new_chunks"),
        sum(col("clen")).as("bytes"),
        sum(when(col("seen").isNull, col("clen")).otherwise(0L)).as("new_bytes"))

  /** Compact the streaming dedup index
    * ([[graft.streaming.Pipelines.dedupIngest]]'s `fp/` and `bands/`
    * stores) — the small-file fix the phrase-posting and IVF-PQ stores
    * already have ([[Curation.compactPostingStore]],
    * [[Similarity.compactIvfPqIndex]]): a long-running ingest leaves one
    * batch directory per trigger, so every future batch's
    * classification join opens O(batches) directories. Compaction
    * collapses each store to ONE kept layer with [[Stores.foldAndSwap]]
    * (a racing classification sees the old layout or the new, never a
    * partial). The replay contract survives: the kept layer carries the
    * highest published id, so the compacted corpus is in the prior view
    * of exactly the batches that saw the original layers.
    *
    * Each store's kept layer is one file (a single hash partition on
    * the lookup key). Returns per store (fp, bands)
    * [[Stores.foldAndSwap]]'s (kept batch id, files before, files after).
    */
  def compactDedupIndex(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Map[String, (Long, Long, Long)] = {
    def compactSub(sub: String, keyCols: Seq[String]): (Long, Long, Long) = {
      val dir = s"$stateDir/$sub"
      Stores.foldAndSwap(spark, dir) { (kept, tmp) =>
        spark.read.parquet(dir).drop("batch")
          .repartition(1, keyCols.map(col): _*)
          .write.mode("overwrite").parquet(Stores.batchDir(tmp, kept))
      }
    }
    Map(
      "fp"    -> compactSub("fp", Seq("fp")),
      "bands" -> compactSub("bands", Seq("band", "bkey")))
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.functions.{Dedup, Similarity, TextFunctions => TF}
import graft.operators.Serving

/** Specs for the serving operators and the training-data extensions
  * (dedup, similarity, text analysis).
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  // ---------------- Serving (§2.D) ----------------

  test("topK is deterministic under ties via tie-break key") {
    val df = Seq(("a", 10), ("b", 10), ("c", 5)).toDF("k", "v")
    val out = Serving.topK(df, 2, col("v").desc, col("k").asc).collect().map(_.getString(0))
    out shouldBe Array("a", "b")
  }

  test("unionSummary counts each table once") {
    val out = Serving.unionSummary(Seq(
      "x" -> Seq(1, 2, 3).toDF("a"),
      "y" -> Seq(1).toDF("a"))).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out shouldBe Map("x" -> 3L, "y" -> 1L)
  }

  test("retain drops rows older than the cutoff (D9 TTL)") {
    val df = Seq(
      ("old", java.sql.Timestamp.valueOf("2023-01-01 00:00:00")),
      ("new", java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))).toDF("k", "ts")
    Serving.retain(df, "ts", lit("2024-01-01").cast("timestamp"))
      .collect().map(_.getString(0)) shouldBe Array("new")
  }

  // ---------------- Text analysis ----------------

  test("tokens/tokenCount handle empty and multi-space text") {
    val df = Seq("", "   ", "one", "two  words").toDF("t")
      .select(TF.tokenCount(col("t")).as("n"))
    df.collect().map(_.getInt(0)) shouldBe Array(0, 0, 1, 2)
  }

  test("stripTags removes HTML like the reference ingest cleaner") {
    val df = Seq("<b>bold</b> text <i>x</i>").toDF("t")
      .select(TF.stripTags(col("t")).as("c"))
    df.collect().head.getString(0) shouldBe "bold text x"
  }

  test("unescapeHtml matches CPython html.unescape goldens") {
    // expected values computed with CPython 3: html.unescape(input)
    val cases = Seq(
      "&amp;amp; nested"                        -> "&amp; nested",
      "&quot;quoted&quot; &apos;x&apos;"        -> "\"quoted\" 'x'",
      "&#72;&#x69;&#X21; numeric &#65 no-semi"  -> "Hi! numeric A no-semi",
      "&copy &notin legacy-prefix"              -> "© ¬in legacy-prefix",
      "&nbsp;&hellip;&mdash;&euro;&trade;"      -> " …—€™",
      "&#0;&#13;&#128;&#xD800;&#1114112; recovery" -> "�\r€�� recovery",
      "&#1;&#8;&#11;&#x7F;&#xFDD0;&#xFFFE;&#x1FFFF;&#x10FFFF;gone" -> "gone",
      "&#9;tab kept &#xFFFD;"                   -> "\ttab kept �",
      "&unknown; &zzz stays &"                  -> "&unknown; &zzz stays &",
      "Caf&eacute; cr&egrave;me &frac12;"       -> "Café crème ½",
      "a &lt b &lt; c &gt; d"                   -> "a < b < c > d",
      "&Ouml;sterreich &uuml;ber &szlig;"       -> "Österreich über ß")
    val out = cases.map(_._1).toDF("t")
      .select(TF.unescapeHtml(col("t")).as("u")).collect().map(_.getString(0))
    out.zip(cases.map(_._2)).zip(cases.map(_._1)).foreach { case ((got, exp), in) =>
      withClue(s"input=<$in>: ") { got shouldBe exp }
    }
  }

  test("cleanReviewText == Python html.unescape(re.sub('<.*?>','',raw)).strip()") {
    // goldens from CPython; note the trailing &nbsp; IS stripped (Python
    // strip() removes U+00A0)
    val cases = Seq(
      "  <b>hello &amp; goodbye</b>  " -> "hello & goodbye",
      "<i>&quot;hi&quot;</i>&nbsp;"    -> "\"hi\"")
    val out = cases.map(_._1).toDF("t")
      .select(TF.cleanReviewText(col("t")).as("u")).collect().map(_.getString(0))
    out.zip(cases.map(_._2)).foreach { case (got, exp) => got shouldBe exp }
  }

  test("langIdGuess picks marker-heaviest language, und when none") {
    val df = Seq("the cat and the dog of it", "el gato de la casa", "zzz qqq")
      .toDF("t").select(TF.langIdGuess(col("t")).as("l"))
    df.collect().map(_.getString(0)) shouldBe Array("en", "es", "und")
  }

  test("fingerprint is whitespace/case-normalized") {
    val df = Seq(("A  B\tC", "a b c")).toDF("x", "y")
      .select((TF.fingerprint(col("x")) === TF.fingerprint(col("y"))).as("eq"))
    df.collect().head.getBoolean(0) shouldBe true
  }

  test("qualityScore is bounded [0,1] for normal text") {
    val df = Seq("the quick brown fox and the lazy dog of doom", "!!!!", "")
      .toDF("t").select(TF.qualityScore(col("t")).as("q"))
    df.collect().foreach { r =>
      r.getDouble(0) should be >= 0.0
      r.getDouble(0) should be <= 1.0
    }
  }

  // ---------------- Dedup ----------------

  private val docs = Seq(
    (1L, "alpha beta gamma delta"),
    (2L, "alpha beta gamma delta"),      // exact dup of 1
    (3L, "alpha beta gamma epsilon"),    // 3/5 jaccard vs 1
    (4L, "totally different words here")).toDF("doc_id", "text")

  test("dropExactDuplicates keeps the min-id representative") {
    val kept = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      .collect().map(_.getLong(0)).sorted
    kept shouldBe Array(1L, 3L, 4L)
  }

  test("jaccardPairs finds the exact-dup pair at threshold 1.0") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs shouldBe Array((1L, 2L))
  }

  test("prefixFilterPairs == exhaustive jaccardPairs (completeness, no false negatives)") {
    // random docs over a 12-token vocab: dense similarity structure,
    // the adversarial case for candidate generation
    val rnd = new scala.util.Random(23)
    val vocab = (0 until 12).map(i => s"t$i")
    val rdocs = (0 until 120).map { i =>
      (i.toLong, (0 until (4 + rnd.nextInt(9)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    for (tbp <- Seq(7000L, 9000L, 10000L)) {
      val exact = Dedup.jaccardPairs(rdocs, "doc_id", "text", tbp / 10000.0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pfx = Dedup.prefixFilterPairs(rdocs, "doc_id", "text", tbp)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      withClue(s"tbp=$tbp: ") { pfx shouldBe exact }
    }
  }

  test("prefix filtering prunes: candidate join carries less than all pairs") {
    // docs sharing no rare token should never meet in the candidate
    // join; with distinct rare heads the prefix join is far below
    // n*(n-1)/2 — observable via the verified-pair count at tbp where
    // nothing passes
    val sparse = (0 until 40).map { i =>
      (i.toLong, s"u$i v$i common1 common2 common3")
    }.toDF("doc_id", "text")
    // every pair shares 3/7 tokens (J=3/7 ~ 0.43 < 0.9) and prefixes
    // are the unique u_i/v_i heads, so NO pair survives — and none
    // should even be candidates (disjoint prefixes)
    Dedup.prefixFilterPairs(sparse, "doc_id", "text", 9000L).count() shouldBe 0L
  }

  test("PPJoin positional filter prunes prefix-colliding pairs below threshold") {
    // two 20-token docs: 2 unique heads each + 18 shared fillers.
    // Sorted rare-first, prefix size = 20 - ceil(0.9*20) + 1 = 3, so
    // both prefixes end on the first shared filler (position 3).
    // Positional bound: 1 + min(17, 17) = 18 < required overlap
    // alpha = ceil(0.9*40/1.9) = 19 -> the pair must be pruned even
    // though the prefixes DO collide (J = 18/22 ~ 0.82 < 0.9, so the
    // verified result is unchanged: empty).
    val fill = (1 to 18).map(i => f"fill$i%02d").mkString(" ")
    val docs2 = Seq(
      (0L, s"aa0 ab0 $fill"),
      (1L, s"ba1 bb1 $fill")).toDF("doc_id", "text")
    val toks = Dedup.explodedDistinctTokens(docs2, "doc_id", "text")
    // prefixes genuinely collide (shared filler tokens exist)
    toks.groupBy("tok").count().filter(col("count") === 2).count() shouldBe 18L
    Dedup.prefixCandidates(toks, "doc_id", 9000L).count() shouldBe 0L
    Dedup.prefixFilterPairs(docs2, "doc_id", "text", 9000L).count() shouldBe 0L
  }

  test("PPJoin length filter prunes size-mismatched pairs sharing a rare token") {
    // 5-token and 50-token docs sharing the token that sorts FIRST in
    // both prefixes ("aashared" — doc 2 lifts every filler's df to 2 so
    // the tie breaks on token text): the prefix join matches on it, but
    // J >= 0.9 needs 0.9*50 <= 5 — impossible, so the length filter
    // drops the (0,1) pair before the pair agg
    val long = (1 to 49).map(i => f"l$i%02d").mkString(" ")
    val fills = (1 to 4).map(i => s"s$i").mkString(" ")
    val docs2 = Seq(
      (0L, s"aashared $fills"),
      (1L, s"aashared $long"),
      (2L, s"$fills $long")).toDF("doc_id", "text")
    val toks = Dedup.explodedDistinctTokens(docs2, "doc_id", "text")
    // prefix collision is real: at a permissive threshold the (0,1)
    // pair IS a candidate...
    Dedup.prefixCandidates(toks, "doc_id", 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))) should contain ((0L, 1L))
    // ...at t=0.9 the length filter kills exactly it; (1,2) remains —
    // correctly, since J(1,2) = 49/54 ~ 0.907 >= 0.9 (l-token overlap)
    Dedup.prefixCandidates(toks, "doc_id", 9000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((1L, 2L))
  }

  test("minhashCandidates includes identical docs; candidates ⊇ high-jaccard pairs") {
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    cands should contain((1L, 2L)) // identical docs share every band
  }

  test("simhash of identical docs is identical (hamming 0)") {
    val pairs = Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L))
  }

  // ---------------- Similarity ----------------

  test("cosine: orthogonal=0, identical=1, opposite=-1") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f)),
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f))).toDF("a", "b")
      .select(round(Similarity.cosine(
        Similarity.toDouble(col("a")), Similarity.toDouble(col("b"))), 6).as("c"))
    df.collect().map(_.getDouble(0)) shouldBe Array(0.0, 1.0, -1.0)
  }

  test("knnCosine ranks the identical vector first") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.knnCosine(
      corpus.filter(col("vec_id") === 1), corpus, "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
    out.map(_.getAs[Long]("neighbor_id")) shouldBe Array(1L, 2L)
  }

  test("pqEncode: exact clusters collapse to per-cluster codes with zero error") {
    // two point-clusters of identical vectors: after one Lloyd round each
    // surviving code's centroid is the rounded mean of IDENTICAL members
    // (= the member itself, exactly — integer arithmetic), so every
    // vector encodes with qerr == 0, one shared code tuple per cluster
    val va = (0 until 64).map(i => (i % 4) * 0.25f).toArray
    val vb = (0 until 64).map(i => 1.0f - (i % 4) * 0.25f).toArray
    val vecs = ((1L to 10L).map((_, va)) ++ (11L to 20L).map((_, vb)))
      .toDF("vec_id", "embedding")
    val out = Similarity.pqEncode(vecs, "vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        ((1 to 4).map(r.getLong).toVector, r.getLong(5))).toMap
    out.keySet shouldBe (1L to 20L).toSet
    out.values.foreach { case (_, qerr) => qerr shouldBe 0L }
    val aCodes = (1L to 10L).map(out(_)._1).distinct
    val bCodes = (11L to 20L).map(out(_)._1).distinct
    aCodes should have size 1 // ties to the lowest code: one tuple per cluster
    bCodes should have size 1
    aCodes.head should not be bCodes.head
  }

  test("pqAnn: a cluster member's ADC top-k is its own cluster, in id order") {
    // same two point-clusters as the encode spec: every same-cluster
    // corpus vector shares the query's exact code tuple, so its ADC is 0
    // and the top-10 must be precisely the 10 cluster members with ties
    // broken by neighbor_id
    val va = (0 until 64).map(i => (i % 4) * 0.25f).toArray
    val vb = (0 until 64).map(i => 1.0f - (i % 4) * 0.25f).toArray
    val vecs = ((1L to 10L).map((_, va)) ++ (11L to 20L).map((_, vb)))
      .toDF("vec_id", "embedding")
    val out = Similarity.pqAnn(
      vecs.filter(col("vec_id") === 1 || col("vec_id") === 11),
      vecs, "vec_id", "embedding", k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getAs[Int]("rank"), r.getLong(1), r.getLong(2)))
    val byQ = out.groupBy(_._1)
    byQ(1L).sortBy(_._2).map(_._3) shouldBe (1L to 10L)
    byQ(11L).sortBy(_._2).map(_._3) shouldBe (11L to 20L)
    out.foreach { case (_, _, _, adc) => adc shouldBe 0L }
  }

  test("pqEncode is partitioning-invariant (order-independent arithmetic)") {
    val vecs = (1L to 40L).map { id =>
      (id, (0 until 64).map(i => (((id * 31 + i * 7) % 13) * 0.125f - 0.5f)).toArray)
    }.toDF("vec_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.pqEncode(df, "vec_id", "embedding").collect()
        .map(r => (r.getLong(0), (1 to 4).map(r.getLong).toVector, r.getLong(5)))
        .sortBy(_._1).toVector
    run(vecs) shouldBe run(vecs.repartition(7))
  }

  test("heavyHitters: exact when k >= distinct; dominant key survives small k") {
    import graft.functions.expressions.NativeExpressions.heavyHitters
    // 90% of 20k rows are "hot", rest spread over 200 cold keys
    val df = spark.range(20000).select(
      when(col("id") % 10 < 9, "hot")
        .otherwise(concat(lit("c"), col("id") % 200)).as("item"))
      .repartition(8) // force partial buffers + merge
    // exact mode: k well above distinct count
    val exact = df.agg(heavyHitters(col("item"), 1000).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.cnt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact("hot") shouldBe 18000L
    exact.values.sum shouldBe 20000L
    // sketch mode: k = 8 << 201 distinct, the 90% key must survive with a
    // count undercounted by at most n/(k+1)
    val sketched = df.agg(heavyHitters(col("item"), 8).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.cnt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sketched.keySet should contain("hot")
    sketched("hot") should be >= (18000L - 20000L / 9)
    sketched("hot") should be <= 18000L
  }

  test("rangeJoin bucketed equals the naive inequality join, boundaries inclusive") {
    import graft.operators.RangeJoin
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val points = (0L until 200L).map(i => (i, ts(i * 37 % 1000))).toDF("pid", "ts")
    val intervals = (0L until 30L)
      .map(i => (i, ts(i * 31 % 900), ts(i * 31 % 900 + 60))).toDF("iid", "s", "e")
    val bucketed = RangeJoin.pointInInterval(points, "ts", intervals, "s", "e", 45)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = points.join(intervals, col("ts") >= col("s") && col("ts") <= col("e"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    bucketed shouldBe naive
    naive should not be empty
  }

  test("asofJoin: latest right row at-or-before each left row, inclusive ties") {
    import graft.operators.AsofJoin
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val left = Seq(
      (1L, ts(100), "l1"), // matches r@100 (tie, inclusive)
      (1L, ts(150), "l2"), // matches r@120
      (1L, ts(50), "l3"),  // before any right row → null
      (2L, ts(500), "l4")  // other key
    ).toDF("k", "ts", "tag")
    val right = Seq(
      (1L, ts(100), 10), (1L, ts(120), 12), (1L, ts(200), 20),
      (2L, ts(400), 40)
    ).toDF("k", "ts", "v")
    val out = AsofJoin.asofJoin(left, right, "k", "ts", "ts", Seq("v"))
      .select("tag", "v", "asof_ts").collect()
      .map(r => r.getString(0) -> ((Option(r.get(1)), Option(r.get(2)).map(_.toString))))
      .toMap
    out("l1") shouldBe (Some(10), Some(ts(100).toString))
    out("l2") shouldBe (Some(12), Some(ts(120).toString))
    out("l3") shouldBe (None, None)
    out("l4") shouldBe (Some(40), Some(ts(400).toString))
  }

  test("asofJoinMerge (custom AsofJoinExec) == window-formulation asofJoin, and plans the exec") {
    import graft.operators.AsofJoin
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val rnd = new scala.util.Random(11)
    val left = (1 to 300).map(i =>
      (rnd.nextInt(5).toLong, ts(rnd.nextInt(1000).toLong), s"l$i")).toDF("k", "ts", "tag")
    val right = (1 to 200).map(i =>
      (rnd.nextInt(6).toLong, ts(rnd.nextInt(1000).toLong), i))
      .distinctBy(r => (r._1, r._2)) // unique per (key, ts) — documented contract
      .toDF("k", "ts", "v")
    val a = AsofJoin.asofJoin(left, right, "k", "ts", "ts", Seq("v"))
    val b = AsofJoin.asofJoinMerge(left, right, "k", "ts", "ts", Seq("v"))
    b.columns.toSeq shouldBe a.columns.toSeq
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getString(2), Option(r.get(3)), Option(r.get(4)).map(_.toString))
    b.collect().map(key).sortBy(_._1).toSeq shouldBe
      a.collect().map(key).sortBy(_._1).toSeq
    b.queryExecution.executedPlan.toString should include("AsofJoin")
    // empty right side: every left row survives with null carry
    val b0 = AsofJoin.asofJoinMerge(left, right.limit(0), "k", "ts", "ts", Seq("v"))
    b0.count() shouldBe 300
    b0.filter(col("v").isNotNull).count() shouldBe 0
    // string keys: buffer-backed (UTF8String) key values through the
    // merge scan — the candidate key must be re-evaluated off the copy
    val lS = left.select(concat(lit("key-"), col("k")).as("k"), col("ts"), col("tag"))
    val rS = right.select(concat(lit("key-"), col("k")).as("k"), col("ts"), col("v"))
    val aS = AsofJoin.asofJoin(lS, rS, "k", "ts", "ts", Seq("v"))
      .collect().map(key).sortBy(_._1).toSeq
    val bS = AsofJoin.asofJoinMerge(lS, rS, "k", "ts", "ts", Seq("v"))
      .collect().map(key).sortBy(_._1).toSeq
    bS shouldBe aS
  }

  test("asofJoin: all carried columns come from the SAME matched row (nulls stay null)") {
    import graft.operators.AsofJoin
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val left = Seq((1L, ts(150), "l1")).toDF("k", "ts", "tag")
    val right = Seq(
      // older row has both values set; the MATCHED row (t=120) has a null
      // price — the output must carry (null, "b"), not back-fill 10 from t=100
      (1L, ts(100), Some(10), "a"),
      (1L, ts(120), None, "b")
    ).toDF("k", "ts", "price", "src")
    val row = AsofJoin.asofJoin(left, right, "k", "ts", "ts", Seq("price", "src"))
      .select("price", "src", "asof_ts").collect().head
    Option(row.get(0)) shouldBe None            // null from the matched row
    row.getString(1) shouldBe "b"               // same row's other value
    row.getTimestamp(2) shouldBe ts(120)
  }

  test("approx_count_distinct (HLL) stays within 5% of exact at 100k keys") {
    val df = spark.range(100000).select((col("id") % 34567).as("k"))
    val row = df.agg(
      countDistinct(col("k")).as("exact"),
      approx_count_distinct(col("k")).as("approx")).collect().head
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    math.abs(approx - exact).toDouble / exact should be < 0.05
  }

  test("saltedAgg equals direct aggregation on heavily skewed keys") {
    import graft.operators.Skew
    // 10k rows, 95% on one hot key
    val df = spark.range(10000).select(
      when(col("id") % 20 < 19, "hot").otherwise(concat(lit("k"), col("id") % 7))
        .as("k"),
      (col("id") % 101).as("v"))
    val direct = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("s"), max("v").as("m"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val salted = Skew.saltedAgg(df, Seq("k"), saltBuckets = 16)(
      partials = Seq(count(lit(1)).as("pc"), sum("v").as("ps"), max("v").as("pm")),
      finals = Seq(sum("pc").as("n"), sum("ps").as("s"), max("pm").as("m")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    salted shouldBe direct
  }

  test("IVF recall: nProbe=4 of 8 cells recovers >=80% of exact top-3 neighbors") {
    // 200 vectors in 8 well-separated clusters + jitter
    val vecs = (0L until 200L).map { i =>
      val c = (i % 8).toInt
      (i, Array.tabulate(16) { d =>
        val base = if (d % 8 == c) 5.0f else 0.0f
        base + ((i * 31 + d * 7) % 11 - 5) / 10.0f
      })
    }.toDF("vec_id", "embedding")
    val qs = vecs.filter(col("vec_id") >= 8 && col("vec_id") < 28) // skip centroid rows
    val exact = Similarity.knnCosine(qs, vecs, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfKnnCosine(qs, vecs, "vec_id", "embedding",
      k = 3, numCells = 8, nProbe = 4, dims = 16)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    recall should be >= 0.8
  }

  test("ivfPqAnn with nProbe = numCells equals the flat pqAnn scan exactly") {
    // probing every cell scores every code — the cell-pruned composition
    // must then reproduce the flat ADC scan bit-for-bit (same codebooks,
    // same int64 ADC, same ties)
    val vecs = (0L until 200L).map { i =>
      val c = (i % 8).toInt
      (i, Array.tabulate(16) { d =>
        val base = if (d % 8 == c) 5.0f else 0.0f
        base + ((i * 31 + d * 7) % 11 - 5) / 10.0f
      })
    }.toDF("vec_id", "embedding")
    val qs = vecs.filter(col("vec_id") >= 8 && col("vec_id") < 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "neighbor_id", "adc", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val flat = rows(Similarity.pqAnn(qs, vecs, "vec_id", "embedding",
      k = 5, dims = 16, numSub = 4, codesPerSub = 8))
    val full = rows(Similarity.ivfPqAnn(qs, vecs, "vec_id", "embedding",
      k = 5, dims = 16, numSub = 4, codesPerSub = 8,
      numCells = 8, nProbe = 8))
    full shouldBe flat
  }

  test("ivfPqProbeSweep: each arm's n_hits is ivfPqAnn's overlap with the flat pqAnn top-k") {
    // the sweep scores prn-prefixes of one probe ranking; each arm must
    // count exactly the flat-scan neighbors that the standalone
    // probe-limited search at that nProbe returns. 16 cells over 8
    // clusters split clusters across cells, so small arms miss neighbors.
    val vecs = (0L until 200L).map { i =>
      val c = (i % 8).toInt
      (i, Array.tabulate(16) { d =>
        val base = if (d % 8 == c) 5.0f else 0.0f
        base + ((i * 31 + d * 7) % 11 - 5) / 10.0f
      })
    }.toDF("vec_id", "embedding")
    val qs = vecs.filter(col("vec_id") >= 8 && col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val flat = pairs(Similarity.pqAnn(qs, vecs, "vec_id", "embedding",
      k = 10, dims = 16, numSub = 4, codesPerSub = 8))
    val arms = Seq(1, 2, 4, 16)
    val sweep = Similarity.ivfPqProbeSweep(qs, vecs, "vec_id", "embedding",
        k = 10, probeArms = arms, dims = 16, numSub = 4, codesPerSub = 8, numCells = 16)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    sweep.keySet shouldBe arms.toSet
    arms.foreach { p =>
      val hits = pairs(Similarity.ivfPqAnn(qs, vecs, "vec_id", "embedding",
        k = 10, dims = 16, numSub = 4, codesPerSub = 8, numCells = 16, nProbe = p))
        .count(flat.contains)
      withClue(s"nProbe=$p: ") { sweep(p)._1 shouldBe hits.toLong }
    }
    sweep(16)._1 shouldBe sweep(16)._2
    sweep(1)._1 should be < sweep(16)._1 // the one-cell arm does lose neighbors here
  }


  test("IVF-PQ recall: nProbe=4 of 8 cells recovers >=80% of flat-ADC and exact top-3") {
    val vecs = (0L until 200L).map { i =>
      val c = (i % 8).toInt
      (i, Array.tabulate(16) { d =>
        val base = if (d % 8 == c) 5.0f else 0.0f
        base + ((i * 31 + d * 7) % 11 - 5) / 10.0f
      })
    }.toDF("vec_id", "embedding")
    val qs = vecs.filter(col("vec_id") >= 8 && col("vec_id") < 28)
    // 8 subspaces × 16 codes: fine enough that ADC distortion (a PQ
    // property shared with the flat scan) stays below the top-3 margin —
    // the pruning itself is separately pinned lossless vs the flat scan
    val flat = Similarity.pqAnn(qs, vecs, "vec_id", "embedding",
      k = 3, dims = 16, numSub = 8, codesPerSub = 16)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.knnCosine(qs, vecs, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = Similarity.ivfPqAnn(qs, vecs, "vec_id", "embedding",
      k = 3, dims = 16, numSub = 8, codesPerSub = 16,
      numCells = 8, nProbe = 4)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val vsFlat  = flat.count(pruned.contains).toDouble / flat.size
    val vsExact = exact.count(pruned.contains).toDouble / exact.size
    withClue(s"recall vsFlat=$vsFlat vsExact=$vsExact: ") {
      vsFlat should be >= 0.8  // what cell pruning loses vs scoring everything
      vsExact should be >= 0.8 // end-to-end vs the exact cosine baseline
    }
  }

  test("IVF-PQ exact re-rank: recall >= the ADC-only search at equal nProbe") {
    // coarse PQ geometry (4 subspaces × 8 codes on 16 dims) so ADC
    // ordering genuinely errs — the §V-C refinement must recover what
    // quantization distortion loses, never give it up: re-ranked top-k
    // recall vs the exact cosine baseline >= the ADC-ordered top-k's,
    // at the same probe budget
    val vecs = (0L until 200L).map { i =>
      val c = (i % 8).toInt
      (i, Array.tabulate(16) { d =>
        val base = if (d % 8 == c) 5.0f else 0.0f
        base + ((i * 31 + d * 7) % 11 - 5) / 10.0f
      })
    }.toDF("vec_id", "embedding")
    val qs = vecs.filter(col("vec_id") >= 8 && col("vec_id") < 28)
    val exact = Similarity.knnCosine(qs, vecs, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adcOnly = Similarity.ivfPqAnn(qs, vecs, "vec_id", "embedding",
      k = 3, dims = 16, numSub = 4, codesPerSub = 8,
      numCells = 8, nProbe = 4)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val reranked = Similarity.ivfPqAnnRerank(qs, vecs, "vec_id", "embedding",
      k = 3, dims = 16, numSub = 4, codesPerSub = 8,
      numCells = 8, nProbe = 4)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallAdc    = exact.count(adcOnly.contains).toDouble / exact.size
    val recallRerank = exact.count(reranked.contains).toDouble / exact.size
    withClue(s"recall adc=$recallAdc rerank=$recallRerank: ") {
      recallRerank should be >= recallAdc
      recallRerank should be >= 0.8
    }
    // the candidate pool is genuinely bounded: ≤ queries × k′ rows ever
    // reach the exact-cosine operator (the catalog plan shape — corpus
    // scan pruned by a broadcast hash join on the candidate ids — is
    // pinned in PlanAuditSpec)
    val kPrime = 3 * 4
    val cand = Similarity.ivfPqAnn(qs, vecs, "vec_id", "embedding",
      k = kPrime, dims = 16, numSub = 4, codesPerSub = 8,
      numCells = 8, nProbe = 4)
    cand.count() should be <= (20L * kPrime)
  }

  test("semanticContamination: per-corpus argmax vs the broadcast eval set, ties to the lowest eval id") {
    // eval ids 0 and 1 are IDENTICAL vectors — wherever they win
    // jointly the argmax must tie-break to eval 0
    val evalSet = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(0.9f, 0.1f, 0.0f, 0.0f)), // near eval 0/1 → nearest 0
      (11L, Array(0.0f, 0.8f, 0.1f, 0.0f)), // near eval 2
      (12L, Array(0.0f, 0.0f, 0.0f, 1.0f))  // orthogonal to every eval
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticContamination(
      corpus, evalSet, "vec_id", "embedding", threshold = 0.9)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    out(10L)._1 shouldBe 0L
    out(10L)._3 shouldBe true
    out(11L)._1 shouldBe 2L
    out(11L)._3 shouldBe true
    out(12L)._2 should be < 0.5
    out(12L)._3 shouldBe false
  }

  test("residual IVFADC encode cuts total quantization error vs the raw-vector PQ encode") {
    // Jégou §V's reason to encode residuals: the coarse quantizer has
    // already removed most of each vector's energy, so the same code
    // budget (numSub × log2(codesPerSub) bits) quantizes what remains
    // strictly finer. Same corpus, same PQ geometry, only the encoded
    // population differs — total int64 squared error must drop.
    val vecs = (0L until 200L).map { i =>
      val c = (i % 8).toInt
      (i, Array.tabulate(16) { d =>
        val base = if (d % 8 == c) 5.0f else 0.0f
        base + ((i * 31 + d * 7) % 11 - 5) / 10.0f
      })
    }.toDF("vec_id", "embedding")
    val rawErr = Similarity.pqEncode(vecs, "vec_id", "embedding",
      dims = 16, numSub = 4, codesPerSub = 8)
      .agg(sum(col("qerr"))).collect()(0).getLong(0)
    val resErr = Similarity.ivfPqResidualEncode(vecs, "vec_id", "embedding",
      dims = 16, numSub = 4, codesPerSub = 8, numCells = 8)
      .agg(sum(col("qerr"))).collect()(0).getLong(0)
    withClue(s"raw qerr=$rawErr residual qerr=$resErr: ") {
      resErr should be < rawErr
    }
  }

  test("residual IVFADC search: recall >= the raw-code ivfPqAnn at equal probe budget, deterministic") {
    val vecs = (0L until 200L).map { i =>
      val c = (i % 8).toInt
      (i, Array.tabulate(16) { d =>
        val base = if (d % 8 == c) 5.0f else 0.0f
        base + ((i * 31 + d * 7) % 11 - 5) / 10.0f
      })
    }.toDF("vec_id", "embedding")
    val qs = vecs.filter(col("vec_id") >= 8 && col("vec_id") < 28)
    val exact = Similarity.knnCosine(qs, vecs, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def res() = Similarity.ivfPqAnnResidual(qs, vecs, "vec_id", "embedding",
      k = 3, dims = 16, numSub = 4, codesPerSub = 8,
      numCells = 8, nProbe = 4)
      .select("qid", "neighbor_id", "adc", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val residual = res()
    residual shouldBe res() // trained state is deterministic end-to-end
    val raw = Similarity.ivfPqAnn(qs, vecs, "vec_id", "embedding",
      k = 3, dims = 16, numSub = 4, codesPerSub = 8,
      numCells = 8, nProbe = 4)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val resIds = residual.map(t => (t._1, t._2))
    val recallRaw = exact.count(raw.contains).toDouble / exact.size
    val recallRes = exact.count(resIds.contains).toDouble / exact.size
    withClue(s"recall raw=$recallRaw residual=$recallRes: ") {
      recallRes should be >= recallRaw
      recallRes should be >= 0.8
    }
  }

  test("persisted IVF-PQ index: indexed search == transient composition, scan pruned to probed cells") {
    val vecs = (0L until 200L).map { i =>
      val c = (i % 8).toInt
      (i, Array.tabulate(16) { d =>
        val base = if (d % 8 == c) 5.0f else 0.0f
        base + ((i * 31 + d * 7) % 11 - 5) / 10.0f
      })
    }.toDF("vec_id", "embedding")
    val qs  = vecs.filter(col("vec_id") === 8) // one query → exactly nProbe cells probed
    val dir = tmpDir("ivfpq_index")
    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", dir,
      dims = 16, numSub = 4, codesPerSub = 8, numCells = 8)
    // the inverted lists really are one directory per cell (base build
    // lands under batch=-1; streaming ingest appends sibling batches)
    val cellDirs = new java.io.File(s"$dir/codes/batch=-1").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).toSet
    cellDirs.size shouldBe 8

    val indexed = Similarity.ivfPqAnnIndexed(qs, dir, "vec_id", "embedding",
      k = 5, nProbe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val transientRows = rows(Similarity.ivfPqAnn(qs, vecs, "vec_id", "embedding",
      k = 5, dims = 16, numSub = 4, codesPerSub = 8, numCells = 8, nProbe = 2))
    rows(indexed) shouldBe transientRows

    // the probed-cell predicate reaches the scan as a PARTITION filter —
    // unprobed cells' directories are never read
    val plan = indexed.queryExecution.executedPlan.toString
    plan should include regex "PartitionFilters: \\[[^\\]]*cell"
    val probedCells = "cell[^ ]* IN \\(([^)]+)\\)".r.findFirstMatchIn(plan)
      .map(_.group(1).split(",").map(_.trim.toLong).toSet)
      .getOrElse(fail(s"no IN partition filter in plan:\n$plan"))
    probedCells.size shouldBe 2 // one query, nProbe = 2
    // PHYSICAL proof: delete every unprobed cell's data files from disk —
    // the pruned search still returns identical rows (it never needed
    // them), while a full table read shows the rows really are gone
    val unprobed = cellDirs.map(_.stripPrefix("cell=").toLong) -- probedCells
    unprobed should not be empty
    unprobed.foreach { c =>
      new java.io.File(s"$dir/codes/batch=-1/cell=$c").listFiles().foreach(_.delete())
    }
    rows(Similarity.ivfPqAnnIndexed(qs, dir, "vec_id", "embedding",
      k = 5, nProbe = 2)) shouldBe transientRows
    spark.read.parquet(s"$dir/codes").count() should be < 200L
  }

  test("indexed IVF-PQ search still prunes when partition inference is off (string cell column)") {
    // with partitionColumnTypeInference disabled, discovery types the
    // cell partition column STRING; the probed-cell literals must then
    // be rendered as strings — a cast around the column would silently
    // degrade to a full scan of every cell (ADVICE r8)
    val vecs = (0L until 200L).map { i =>
      val c = (i % 8).toInt
      (i, Array.tabulate(16) { d =>
        val base = if (d % 8 == c) 5.0f else 0.0f
        base + ((i * 31 + d * 7) % 11 - 5) / 10.0f
      })
    }.toDF("vec_id", "embedding")
    val qs  = vecs.filter(col("vec_id") === 8)
    val dir = tmpDir("ivfpq_index_strcell")
    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", dir,
      dims = 16, numSub = 4, codesPerSub = 8, numCells = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val typed = rows(Similarity.ivfPqAnnIndexed(qs, dir, "vec_id", "embedding",
      k = 5, nProbe = 2))
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val untyped = Similarity.ivfPqAnnIndexed(qs, dir, "vec_id", "embedding",
        k = 5, nProbe = 2)
      rows(untyped) shouldBe typed
      val plan = untyped.queryExecution.executedPlan.toString
      // the probed-cell IN list compares the RAW string column (an
      // inferred isnotnull(cast(...)) join predicate may ride along —
      // harmless, the uncast IN is what prunes the directories)
      plan should include regex "PartitionFilters: \\[[^\\]]*cell#\\d+ IN \\("
    } finally spark.conf.set(key, prev)
  }

  test("pqAnn/ivfPqAnn enforce the bounded-query-side contract") {
    // both collect query vectors driver-side and build one literal ADC
    // table per query — exceeding MaxPqQueries must fail fast with the
    // contract in the message, before any training work runs
    val corpus = (0L until 20L).map(i =>
      (i, Array.tabulate(8)(d => (i + d).toFloat))).toDF("vec_id", "embedding")
    val tooMany = spark.range(0, Similarity.MaxPqQueries + 1L)
      .select(col("id").as("vec_id"),
        array((0 until 8).map(d => lit(d.toFloat)): _*).as("embedding"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.pqAnn(tooMany, corpus, "vec_id", "embedding",
        k = 1, dims = 8, numSub = 2, codesPerSub = 4)
    }
    ex.getMessage should include("MaxPqQueries")
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.ivfPqAnn(tooMany, corpus, "vec_id", "embedding",
        k = 1, dims = 8, numSub = 2, codesPerSub = 4, numCells = 4)
    }
    ex2.getMessage should include("MaxPqQueries")
  }

  test("k-means-trained IVF centroids beat first-N seeding on clustered data") {
    // 4 noisy clusters (noise comparable to the cluster signal, so cell
    // boundaries genuinely matter); ids ordered so ids 0..7 ALL sit in
    // cluster 0 — first-N seeding therefore collapses every centroid
    // into one cluster, while md5-stratified k-means seeds spread out.
    def noise(i: Long, d: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:$d".getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16).toDouble / (1L << 32).toDouble - 0.5) * 4.0
    }
    val vecs = (0L until 160L).map { i =>
      val c = if (i < 8) 0 else (i % 4).toInt
      (i, Array.tabulate(16) { d =>
        val base = if (d / 4 == c) 5.0 else 0.0
        (base + noise(i, d)).toFloat
      })
    }.toDF("vec_id", "embedding")
    val qs = vecs.filter(col("vec_id") >= 100) // queries from all clusters
    val exact = Similarity.knnCosine(qs, vecs, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(cents: org.apache.spark.sql.DataFrame): Double = {
      val got = Similarity
        .ivfSearch(qs, vecs, "vec_id", "embedding", k = 3, nProbe = 1, cents)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.count(got.contains).toDouble / exact.size
    }
    def maxCell(cents: org.apache.spark.sql.DataFrame): Long =
      Similarity.ivfAssign(vecs, "vec_id", "embedding", cents)
        .groupBy("cell").count().agg(max("count")).collect()(0).getLong(0)
    val trained = Similarity.kmeansCentroids(
      vecs, "vec_id", "embedding", dims = 16, numCells = 4)
    val firstN = vecs.filter(col("vec_id") < 4)
      .select(
        col("vec_id").as("cell"),
        Similarity.quantized(col("embedding").cast("array<double>")).as("cv"))
      .withColumn("cn2", Similarity.norm2(col("cv")))
    val (rTrained, rFirstN) = (recallOf(trained), recallOf(firstN))
    val (bTrained, bFirstN) = (maxCell(trained), maxCell(firstN))
    withClue(s"recall trained=$rTrained firstN=$rFirstN; maxCell trained=$bTrained firstN=$bFirstN: ") {
      rTrained should be >= 0.95        // trained finds ~every true neighbor
      rFirstN should be <= 0.9          // collapsed centroids drop real ones
      bTrained should be < bFirstN      // and produce more skewed cells
    }
  }

  test("SimHash banded candidates are COMPLETE: equal to cross join + filter") {
    val base = (0 until 20).map(c => (0 until 16).map(w => s"t${c}_$w").mkString(" "))
    val docs = (0 until 40).map { i =>
      val toks = base(i / 2).split(" ").toVector
      val t = if (i % 2 == 1) toks.updated(3, s"chg$i") else toks
      (i.toLong, t.mkString(" "))
    }.toDF("doc_id", "text")
    val banded = Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // pigeonhole guarantee: banded result == exhaustive cross join + filter
    val sh = docs.select(col("doc_id"), Dedup.simhashExpr(col("text")).as("h"))
    val a  = sh.select(col("doc_id").as("doc_a"), col("h").as("ha"))
    val b  = sh.select(col("doc_id").as("doc_b"), col("h").as("hb"))
    val exhaustive = a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    banded shouldBe exhaustive
    exhaustive should not be empty // the one-token variants produce real pairs
  }

  test("MinHash-LSH recall: finds >=90% of true high-Jaccard pairs") {
    // 120 docs in 30 clusters of 4 near-identical variants (one token
    // changed) + noise docs — ground truth via exact Jaccard
    val base = (0 until 30).map { c =>
      (0 until 12).map(w => s"w${c}_${w / 4}x$w").mkString(" ")
    }
    val docs = (0 until 120).map { i =>
      val c = i / 4
      val toks = base(c).split(" ").toVector.updated(i % 4, s"var$i")
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")

    val truth = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.7)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    truth.size should be >= 30 // sanity: clusters produce real pairs

    val candidates = Dedup
      .minhashCandidates(docs, "doc_id", "text", bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(candidates.contains).toDouble / truth.size
    recall should be >= 0.9
  }

  test("native RollingFp equals the column-algebra folds bit-for-bit") {
    import graft.functions.{TextFunctions => TF}
    val df = Seq(
      "", "one", "one two", "one two three", "one two three four",
      "alpha beta gamma delta epsilon zeta", "héllo wörld ünïcode")
      .toDF("text")
    val out = df.select(
      TF.rollingFingerprint(col("text")).as("fp_n"),
      TF.rollingFingerprintFold(col("text")).as("fp_f"),
      TF.minShingleFingerprint(col("text")).as("ms_n"),
      TF.minShingleFingerprintFold(col("text")).as("ms_f")).collect()
    out.foreach { r =>
      r.getLong(0) shouldBe r.getLong(1)
      r.getLong(2) shouldBe r.getLong(3)
    }
  }

  test("rolling fingerprint is order-sensitive; shared shingles collide on min-shingle") {
    import graft.functions.{TextFunctions => TF}
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "epsilon delta gamma beta alpha"), // same tokens, reversed
      (3L, "alpha beta gamma delta epsilon"), // identical to 1
      (4L, ""),
      (5L, "zeta")
    ).toDF("doc_id", "text")
      .select(col("doc_id"),
        TF.rollingFingerprint(col("text")).as("fp"),
        TF.minShingleFingerprint(col("text")).as("ms"))
    val rows = df.orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    rows(0) shouldBe rows(2)        // identical docs agree
    rows(0)._1 should not be rows(1)._1 // reorder changes the rolling hash
    rows(3)._1 shouldBe 0L          // empty text → seed
    // doc 2 contains every 3-shingle of doc 1 reversed — but both contain
    // *some* shingles; identical docs share the min-shingle exactly:
    rows(0)._2 shouldBe rows(2)._2
  }

  test("ivfKnnCosine probing every cell reduces to exact brute-force knn") {
    val corpus = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(d => (((i * 13 + d * 5) % 17).toFloat - 8) / 8))
    }.toDF("vec_id", "embedding")
    val qs = corpus.filter(col("vec_id") < 5)
    val exact = Similarity.knnCosine(qs, corpus, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ivf = Similarity.ivfKnnCosine(qs, corpus, "vec_id", "embedding",
      k = 3, numCells = 8, nProbe = 8, dims = 8) // probe all cells → exhaustive
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    ivf shouldBe exact
  }

  test("native DotProduct equals the higher-order-function fold bit-for-bit") {
    val vecs = (1 to 50).map { i =>
      (Array.tabulate(64)(d => ((i * 31 + d * 7) % 100 - 50) / 10.0f),
       Array.tabulate(64)(d => ((i * 17 + d * 3) % 100 - 50) / 10.0f))
    }
    val df = vecs.toDF("a", "b")
      .select(Similarity.toDouble(col("a")).as("a"), Similarity.toDouble(col("b")).as("b"))
    val diff = df.select(
      (Similarity.dot(col("a"), col("b")) === Similarity.dotFold(col("a"), col("b"))).as("eq"))
      .collect()
    all(diff.map(_.getBoolean(0))) shouldBe true
  }

  test("native SimHash equals the column-algebra formulation bit-for-bit") {
    val df = Seq(
      "alpha beta gamma", "the quick brown fox", "a", "", "x y z w q r s t u v")
      .toDF("text")
    val out = df.select(
      Dedup.simhashExpr(col("text")).as("fast"),
      Dedup.simhashFoldExpr(col("text")).as("ref")).collect()
    out.foreach(r => r.getLong(0) shouldBe r.getLong(1))
  }

  test("MinHashSig matches an independent model of the documented family") {
    val fam = graft.functions.expressions.MinHashFamily
    // the family as specified in MinHashFamily's scaladoc (and the SQL
    // oracle), written the slow way: hex-string md5, substr, parseLong
    def model(text: String, k: Int): Option[Seq[Long]] = {
      val toks = text.trim.split("\\s+").toSeq.filter(_ => text.trim.nonEmpty)
      if (toks.isEmpty) None
      else Some((0 until k).map { i =>
        toks.map { t =>
          val hex = java.security.MessageDigest.getInstance("MD5")
            .digest(s"t:$t".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString.substring(0, 15)
          val hp = java.lang.Long.parseLong(hex, 16) % fam.P
          (fam.a(i) * hp + fam.b(i)) % fam.P
        }.min
      })
    }
    val texts = Seq(
      "alpha beta gamma", "the quick brown fox", "a", "", "   ",
      "dup dup dup dup", "naïve café über schön", "x y z w q r s t u v")
    val out = texts.toDF("text")
      .select(col("text"), Dedup.minhashSig(col("text"), 16).as("sig"))
      .collect()
    out.foreach { r =>
      val got =
        if (r.isNullAt(1)) None else Some(r.getSeq[Long](1).toSeq)
      got shouldBe model(r.getString(0), 16)
    }
    // duplicate tokens cannot move a min
    val Array(d1, d2) = Seq("one two three", "three two one two one two")
      .toDF("text").select(Dedup.minhashSig(col("text"), 16)).collect()
    d1.getSeq[Long](0) shouldBe d2.getSeq[Long](0)
  }

  test("lshCandidates buckets identical vectors together") {
    val df = Seq(
      (1L, Array.fill(8)(0.5f)), (2L, Array.fill(8)(0.5f)),
      (3L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val cands = Similarity.lshCandidates(df, "vec_id", "embedding", dims = 8, bitsB = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    cands should contain((1L, 2L))
  }

  test("nearDupBanded == exhaustive brute force on planted near-dups; no theta join") {
    // deterministic pseudo-random corpus (md5-seeded), 64-dim, plus planted
    // near-dup copies (every component +0.01) — same construction as
    // q_neardup_banded
    def vec(i: Int): Array[Double] = Array.tabulate(64) { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"v$i:$d".getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16).toDouble / 0xffffffffL.toDouble - 0.5
    }
    val base = (0 until 200).map(i => (i.toLong, vec(i)))
    val planted = base.map { case (i, v) => (i + 100000L, v.map(_ + 0.01)) }
    val df = (base ++ planted).toDF("vec_id", "v")

    val banded = Similarity
      .nearDupBanded(df, "vec_id", "v", dims = 64, threshold = 0.95)
    val exhaustive = Similarity
      .cosineNearDupPairs(df, "vec_id", "v", 0.95)

    val b = banded.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val e = exhaustive.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    b shouldBe e
    b.size shouldBe 200 // exactly the planted pairs

    // scale shape: candidates come from an equi-join on (band, bcode) —
    // the plan must not contain any nested-loop/cartesian theta join
    val plan = banded.queryExecution.executedPlan.toString
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"

    // verify-once shape: candidate pairs are distinct'd BEFORE the cosine
    // verify, on skinny (vec_a, vec_b) rows. The optimized plan must
    // contain the pair-dedup Aggregate, and the band join below it must
    // not carry any array (vector) column — a pair colliding in all 16
    // bands is verified once, and no vector rides the band shuffle.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val opt = banded.queryExecution.optimizedPlan
    val pairAgg = opt.collect {
      case agg: Aggregate
          if agg.output.map(_.name).toSet == Set("vec_a", "vec_b") => agg
    }
    pairAgg should have size 1
    val joinsBelow = pairAgg.head.collect { case j: Join => j }
    joinsBelow should not be empty
    joinsBelow.flatMap(_.output)
      .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]) shouldBe empty
  }

  test("autoBitsPerBand: ceil(log2 n) + slack, clamped to [16, 48]") {
    Similarity.autoBitsPerBand(0) shouldBe 16
    Similarity.autoBitsPerBand(1000) shouldBe 16     // 10 + 6
    Similarity.autoBitsPerBand(1024) shouldBe 16     // exact power: ceil(log2)=10
    Similarity.autoBitsPerBand(1025) shouldBe 17     // 11 + 6
    Similarity.autoBitsPerBand(40000) shouldBe 22    // 16 + 6
    Similarity.autoBitsPerBand(1000000) shouldBe 26  // 20 + 6 — the scaladoc's 24-32 regime
    Similarity.autoBitsPerBand(1L << 60) shouldBe 48 // upper clamp: code stays in int64
  }

  test("nearDupBanded auto-sizing (bitsPerBand=0) finds the same pairs") {
    def vec(i: Int): Array[Double] = Array.tabulate(64) { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"v$i:$d".getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16).toDouble / 0xffffffffL.toDouble - 0.5
    }
    val base = (0 until 100).map(i => (i.toLong, vec(i)))
    val planted = base.map { case (i, v) => (i + 100000L, v.map(_ + 0.01)) }
    val df = (base ++ planted).toDF("vec_id", "v")
    val auto = Similarity
      .nearDupBanded(df, "vec_id", "v", dims = 64, threshold = 0.95, bitsPerBand = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    auto shouldBe (0 until 100).map(i => (i.toLong, i + 100000L)).toSet
  }

  test("nearDupBanded maxBandFreq drops exact-dup clique buckets, keeps the rest") {
    // a 50-way EXACT-duplicate clique lands in one bucket per band —
    // k²·numBands join rows no band width dilutes (the r9 sf100 blowup
    // shape). With the cap the clique's buckets are dropped while a
    // normal planted near-dup pair elsewhere survives.
    def vec(i: Int): Array[Double] = Array.tabulate(64) { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"c$i:$d".getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16).toDouble / 0xffffffffL.toDouble - 0.5
    }
    val clique = (0 until 50).map(i => (i.toLong, vec(999)))   // identical
    val pair   = Seq((900L, vec(1)), (901L, vec(1).map(_ + 0.01)))
    val df = (clique ++ pair).toDF("vec_id", "v")
    val uncapped = Similarity
      .nearDupBanded(df, "vec_id", "v", dims = 64, threshold = 0.95)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val capped = Similarity
      .nearDupBanded(df, "vec_id", "v", dims = 64, threshold = 0.95,
        maxBandFreq = 20)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    uncapped.size shouldBe (50 * 49 / 2 + 1) // full clique + the pair
    capped shouldBe Set((900L, 901L))
  }

  test("simhashBucketCandidates maxBucketFreq drops clique buckets, keeps normal pairs") {
    // 40 identical docs land in one bucket per band (k²·bands pair rows
    // uncapped); a separate near-dup pair must survive the cap
    val clique = (0 until 40).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta eta theta"))
    // identical pair → identical sketch → same buckets at k=2 ≤ cap
    val pair = Seq(
      (900L, "one two three four five six seven eight nine ten"),
      (901L, "one two three four five six seven eight nine ten"))
    val df = (clique ++ pair).toDF("doc_id", "text")
    val uncapped = Dedup.simhashBucketCandidates(df, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    val capped = Dedup.simhashBucketCandidates(df, "doc_id", "text",
        maxBucketFreq = 20)
      .as[(Long, Long)].collect().toSet
    uncapped should contain((900L, 901L))
    uncapped.count(p => p._1 < 40 && p._2 < 40) shouldBe (40 * 39 / 2)
    capped.count(p => p._1 < 40 && p._2 < 40) shouldBe 0
    capped should contain((900L, 901L))
  }

  test("native ShingleSimHash equals the column-algebra shingle formulation bit-for-bit") {
    val docs = (0 until 30).map { i =>
      val toks = (0 until (i % 7) + 1).map(w => s"w${(i * 7 + w * 3) % 11}")
      (i.toLong, toks.mkString(" "))
    } :+ (100L, "") :+ (101L, "one two") // short docs → no shingles → 0
    val df = docs.toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      Dedup.shingleSimhash(col("text")).as("a"),
      Dedup.shingleSimhashFold(col("text")).as("b")).collect()
    got.foreach(r => withClue(s"doc ${r.getLong(0)}: ") {
      r.getLong(1) shouldBe r.getLong(2)
    })
    got.filter(r => Seq(100L, 101L).contains(r.getLong(0)))
      .foreach(_.getLong(1) shouldBe 0L)
  }

  test("native Shingles skips null tokens like concat_ws (no empty-string slots)") {
    import graft.functions.expressions.NativeExpressions
    val df = Seq(
      (1L, Seq[String]("a", null, "b", "c")),
      (2L, Seq[String](null, null, "x")),
      (3L, Seq[String]("p", "q")))
      .toDF("id", "toks")
    val got = df
      .select(col("id"), NativeExpressions.shingles(col("toks"), 2, distinct = false).as("sh"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1))
      .toMap
    // concat_ws drops nulls entirely: ("a", null) -> "a", (null, null) -> ""
    got(1L) shouldBe Seq("a", "b", "b c")
    got(2L) shouldBe Seq("", "x")
    got(3L) shouldBe Seq("p q")
  }

  test("quantile sketch: exact below capacity under any partitioning; bounded error at 50x overflow") {
    import graft.functions.expressions.QuantileSketch
    val rnd = new scala.util.Random(7)
    val data = Array.fill(100000)(rnd.nextLong() % 1000000)
    val sorted = data.sorted
    val probs = Seq(0.0, 0.25, 0.5, 0.75, 0.95, 1.0)
    def rankOf(v: Long): Long = {
      // any rank whose sorted value equals v counts as achieving v
      val lo = sorted.indexWhere(_ == v)
      val hi = sorted.lastIndexWhere(_ == v)
      (lo + hi) / 2L
    }
    def build(capacity: Int, parts: Int): QuantileSketch.Buf = {
      val bufs = Array.fill(parts)(new QuantileSketch.Buf(capacity))
      data.zipWithIndex.foreach { case (v, i) => bufs(i % parts).insert(v) }
      bufs.reduce { (a, b) => a.mergeWith(b); a }
    }
    // exact regime: capacity > n, 16-way partition merge == single buf
    val exact = build(200000, 16)
    probs.foreach { q =>
      val target = math.floor((data.length - 1) * q).toLong
      exact.query(q) shouldBe sorted(target.toInt)
    }
    // sketch regime: capacity 2000 for n=100k (50x overflow), 16 partitions
    val sk = build(2000, 16)
    val bound = 2L * data.length / 2000 // = 2n/capacity ranks
    probs.foreach { q =>
      val target = math.floor((data.length - 1) * q).toLong
      val got = sk.query(q)
      withClue(s"q=$q target=$target got=$got (rank ${rankOf(got)}): ") {
        math.abs(rankOf(got) - target) should be <= bound
      }
    }
    // extremes stay exact even under compression
    sk.query(0.0) shouldBe sorted.head
    sk.query(1.0) shouldBe sorted.last
  }

  test("native SrpBank equals the per-band srpCode column algebra bit-for-bit") {
    val vecs = (1 to 40).map { i =>
      (i.toLong, Array.tabulate(64)(d => ((i * 31 + d * 17) % 19 - 9) / 9.0))
    }.toDF("vec_id", "v")
    val viaBank = vecs.select(col("vec_id"),
      graft.functions.expressions.NativeExpressions
        .srpBank(col("v"), dims = 64, bitsPerBand = 16, numBands = 16).as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toMap
    val viaAlgebra = vecs.select(col("vec_id") +: (0 until 16).map(j =>
        Similarity.srpCode(col("v"), dims = 64, bitsB = 16, fromPlane = j * 16)
          .as(s"c$j")): _*)
      .collect().map(r => (r.getLong(0), (1 to 16).map(r.getLong).toVector)).toMap
    viaBank shouldBe viaAlgebra
  }

  test("contamination flags exactly the overlapping-gram docs, absent when too short") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon other words here"), // shares 2 of its grams
      (2L, "completely different content with many more tokens"),
      (3L, "tiny doc") // < 5 tokens → no gram rows → absent
    ).toDF("doc_id", "text")
    val out = Dedup.contamination(corpus, bench, "doc_id", "text")
      .select("doc_id", "n_grams", "n_contaminated", "contam_bps")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    out.map(_._1) shouldBe Array(1L, 2L)
    val d1 = out(0)
    d1._2 shouldBe 4L // 8 tokens → 4 distinct 5-grams
    d1._3 shouldBe 1L // only "alpha beta gamma delta epsilon" appears in the bench doc
    d1._4 shouldBe 2500L
    out(1)._3 shouldBe 0L
  }

  test("redactPii removes every synthetic email/phone and nothing else") {
    import spark.implicits._
    val rows = Seq(
      "mail me at bob123@example.com or call 555-0199 twice 555-0200",
      "no pii in this row at all").toDF("txt")
    val red = rows.select(TF.redactPii(col("txt")).as("r"))
      .as[String].collect()
    red(0) shouldBe "mail me at <EMAIL> or call <PHONE> twice <PHONE>"
    red(1) shouldBe "no pii in this row at all"
    val counts = rows.select(
      regexp_count(col("txt"), lit(TF.EmailPattern)).as("e"),
      regexp_count(col("txt"), lit(TF.PhonePattern)).as("p"))
      .as[(Int, Int)].collect()
    counts(0) shouldBe ((1, 2))
    counts(1) shouldBe ((0, 0))
  }

  test("edit-distance verify over simhash candidates plans as equi-joins only") {
    // near-dup pairs (even/odd ids differ by one token) + unrelated docs
    val base = (0 until 20).map(c => (0 until 16).map(w => s"t${c}_$w").mkString(" "))
    val docs = (0 until 40).map { i =>
      val toks = base(i / 2).split(" ").toVector
      val tkn = if (i % 2 == 1) toks.updated(3, s"chg$i") else toks
      (i.toLong, tkn.mkString(" "))
    }.toDF("doc_id", "text")
    val cand = Dedup.simhashBucketCandidates(docs, "doc_id", "text")
    val texts = docs.select(col("doc_id"), substring(col("text"), 1, 80).as("t80"))
    val verified = cand
      .join(texts.select(col("doc_id").as("doc_a"), col("t80").as("ta")), Seq("doc_a"))
      .join(texts.select(col("doc_id").as("doc_b"), col("t80").as("tb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), levenshtein(col("ta"), col("tb")).as("lev"))
      .filter(col("lev") <= 20)
    // ground truth, exhaustively on the driver: pairs sharing any 16-bit
    // band of the 64-bit shingle-simhash AND lev <= 20 on the 80-char
    // prefix (the sketch values come from the engine; the candidate rule
    // and the verifier are recomputed independently below)
    val sh = docs.select(col("doc_id"), Dedup.shingleSimhash(col("text")).as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val txt = docs.collect().map(r => (r.getLong(0), r.getString(1).take(80))).toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1) {
        j => if (i == 0) j else if (j == 0) i else 0
      })
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    def shareBand(x: Long, y: Long): Boolean =
      (0 until 4).exists(b => ((x >> (b * 16)) & 0xffffL) == ((y >> (b * 16)) & 0xffffL))
    val expected = (for {
      a <- sh.keys; b <- sh.keys if a < b
      if shareBand(sh(a), sh(b))
      if lev(txt(a), txt(b)) <= 20
    } yield (a, b)).toSet
    val got = verified.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe expected
    expected should not be empty
    val plan = verified.queryExecution.executedPlan.toString
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("repetitionProfile computes known fractions on crafted docs") {
    import graft.functions.Quality
    val docs = Seq(
      (1L, "aa aa aa aa"), // 4 tokens, 1 distinct, top bigram "aa aa" x3
      (2L, "a b a b c"),   // 5 tokens, 3 distinct; tie a=b=2 -> larger gram "b"
      (3L, "u v w x y z")  // all distinct, 6 tokens -> 2 five-grams, no dups
    ).toDF("doc_id", "text")
    val got = Quality.repetitionProfile(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    got(1L).getAs[Long]("dup_word_bp") shouldBe 7500L
    got(1L).getAs[String]("top_word") shouldBe "aa"
    got(1L).getAs[Long]("top_word_bp") shouldBe 10000L
    got(1L).getAs[String]("top_bigram") shouldBe "aa aa"
    // 3 occurrences x 5 chars / 11 chars = 13636bp (overlaps may exceed 100%)
    got(1L).getAs[Long]("top_bigram_char_bp") shouldBe 13636L
    got(1L).getAs[Long]("dup_5gram_bp") shouldBe 0L
    got(2L).getAs[Long]("dup_word_bp") shouldBe 4000L
    got(2L).getAs[String]("top_word") shouldBe "b"
    got(2L).getAs[String]("top_bigram") shouldBe "a b"
    got(2L).getAs[Long]("top_bigram_char_bp") shouldBe 6666L
    got(3L).getAs[Long]("dup_word_bp") shouldBe 0L
    got(3L).getAs[Long]("dup_5gram_bp") shouldBe 0L
  }

  test("bloomNewDocs equals the exact anti-join even with a tiny, FP-heavy filter") {
    import graft.functions.Dedup
    val corpus = (0L until 60L).map(i => (i, s"corpus doc token$i shared words"))
      .toDF("doc_id", "text")
    val batch = ((100L until 140L).map(i => (i, s"batch doc token$i novel words")) ++
      (0L until 10L).map(i => (i + 200L, s"corpus doc token$i shared words")) // 10 dups
      ).toDF("doc_id", "text")
    val expected = batch
      .withColumn("k", TF.bagFingerprint(col("text")))
      .join(corpus.select(TF.bagFingerprint(col("text")).as("k")), Seq("k"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 64-item budget at 3% and a deliberately undersized 8-item/50% filter:
    // false positives just route more rows through verification, never
    // change the result
    for (items <- Seq(64L, 8L); fpp <- Seq(0.03, 0.5)) {
      val got = Dedup.bloomNewDocs(batch, corpus, "doc_id", "text", items, fpp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      withClue(s"items=$items fpp=$fpp: ") { got shouldBe expected }
    }
    expected should have size 40
    // empty corpus (null aggregate filter): everything is new
    Dedup.bloomNewDocs(batch, corpus.limit(0), "doc_id", "text")
      .count() shouldBe batch.count()
  }

  test("incrementalDedup: exact set matches fingerprint semi-join; new iff match_id=-1") {
    import graft.functions.Dedup
    val corpus = (0L until 40L).map(i => (i, s"alpha beta gamma delta tok$i"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "tok7 delta gamma beta alpha"),          // same token SET as doc 7 -> exact
      (101L, "alpha beta gamma delta tok3 extraword"),// superset of doc 3 -> exact? no: set differs -> near/new
      (102L, "totally disjoint vocabulary here now")  // -> new
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(batch, corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toList.sortBy(_._1)
    val byId = got.map(g => g._1 -> g).toMap
    byId(100L)._2 shouldBe "exact"
    byId(100L)._3 shouldBe 7L
    byId(102L)._2 shouldBe "new"
    byId(102L)._3 shouldBe -1L
    // every row classifies into the three kinds with consistent match ids
    got.foreach { case (_, kind, m) =>
      Set("exact", "near", "new") should contain(kind)
      (kind == "new") shouldBe (m == -1L)
    }
  }

  test("containmentPairs == brute-force shingle containment; directed quote found, reverse not") {
    import graft.functions.Dedup
    // doc 1 is quoted verbatim inside doc 2 (plus a long tail): every
    // 5-gram of doc 1 appears in doc 2 -> containment(1 in 2) = 10000,
    // while containment(2 in 1) is low and Jaccard is low; doc 3 is an
    // unrelated control
    val quote = "alpha bravo charlie delta echo foxtrot golf hotel"
    val tail = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs2 = Seq(
      (1L, quote),
      (2L, s"intro tokens here $quote $tail"),
      (3L, s"unrelated body $tail")).toDF("doc_id", "text")
    def brute(tbp: Long): Set[(Long, Long, Long)] = {
      val sets = Seq(
        1L -> quote, 2L -> s"intro tokens here $quote $tail",
        3L -> s"unrelated body $tail")
        .map { case (i2, t2) =>
          i2 -> t2.split("\\s+").sliding(5).map(_.mkString(" ")).toSet
        }
      (for {
        (a, sa) <- sets; (b, sb) <- sets if a != b && sa.nonEmpty
        c = (sa & sb).size.toLong * 10000L / sa.size
        if c >= tbp
      } yield (a, b, c)).toSet
    }
    Seq(8000L, 5000L, 2000L).foreach { tbp =>
      val got = Dedup.containmentPairs(docs2, "doc_id", "text", tbp)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      withClue(s"tbp $tbp: ") { got shouldBe brute(tbp) }
    }
    // the directed claims, explicitly
    val at8000 = Dedup.containmentPairs(docs2, "doc_id", "text", 8000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    at8000 should contain((1L, 2L))
    at8000 should not contain ((2L, 1L))
    // random corpora: prefix-lemma completeness == exhaustive
    val rnd = new scala.util.Random(71)
    val vocab = (0 until 12).map(i => s"t$i")
    val rdocs = (0L until 25L).map { i2 =>
      (i2, (0 until (5 + rnd.nextInt(20))).map(_ => vocab(rnd.nextInt(12))).mkString(" "))
    }
    def bruteR(tbp: Long): Set[(Long, Long, Long)] = {
      val sets = rdocs.map { case (i2, t2) =>
        i2 -> (if (t2.split("\\s+").length >= 5)
          t2.split("\\s+").sliding(5).map(_.mkString(" ")).toSet
        else Set.empty[String])
      }
      (for {
        (a, sa) <- sets; (b, sb) <- sets if a != b && sa.nonEmpty
        c = (sa & sb).size.toLong * 10000L / sa.size
        if c >= tbp
      } yield (a, b, c)).toSet
    }
    val gotR = Dedup.containmentPairs(rdocs.toDF("doc_id", "text"), "doc_id",
      "text", 4000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    gotR shouldBe bruteR(4000L)
  }

  test("containmentPairs maxShingleFreq cap: clique pairs dropped, rare-shingle pairs exact") {
    import graft.functions.Dedup
    // a 6-replica clique (all shingles at df 6) plus one rare pair:
    // the cap at 4 kills every clique candidate bucket but the rare
    // pair survives with its exact containment
    val cliqueBody = "alpha bravo charlie delta echo foxtrot golf"
    val rare = "uniq1 uniq2 uniq3 uniq4 uniq5 uniq6"
    val docs2 = ((0L until 6L).map(i => (i, cliqueBody)) ++ Seq(
      (10L, rare), (11L, s"$rare tail1 tail2 tail3 tail4 tail5")))
      .toDF("doc_id", "text")
    val capped = Dedup.containmentPairs(docs2, "doc_id", "text", 8000L,
      maxShingleFreq = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // clique ids 0-5 absent entirely; (10 in 11) found at exact 10000
    capped.map(_._1) should contain noneOf (0L, 1L, 2L, 3L, 4L, 5L)
    capped should contain((10L, 11L, 10000L))
    // uncapped finds the full clique too (sanity that the cap did it)
    val exact = Dedup.containmentPairs(docs2, "doc_id", "text", 8000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exact should contain((0L, 1L))
  }

  test("scoreDrift == scalar bit-length log-ratios; identical corpora flat, planted shift localized") {
    import graft.functions.Quality
    def drift(base: Seq[Long], cur: Seq[Long]): Map[Long, (Long, Long, Long)] =
      Quality.scoreDrift(
        base.map(v => (v, "x")).toDF("s0", "pad"),
        cur.map(v => (v, "x")).toDF("s0", "pad"), col("s0"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
    // scalar model: lam = (bitlen(nc_i+1) - bitlen(NC+B)) - (bitlen(nb_i+1) - bitlen(NB+B))
    def brute(base: Seq[Long], cur: Seq[Long]): Map[Long, (Long, Long, Long)] = {
      val hb = base.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val hc = cur.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val keys = hb.keySet ++ hc.keySet
      val (nb, nc, bk) = (base.size.toLong, cur.size.toLong, keys.size.toLong)
      def bl(x: Long) = 64 - java.lang.Long.numberOfLeadingZeros(x)
      keys.map { k =>
        val (b, c) = (hb.getOrElse(k, 0L), hc.getOrElse(k, 0L))
        k -> ((b, c,
          ((bl(c + 1) - bl(nc + bk)) - (bl(b + 1) - bl(nb + bk))).toLong))
      }.toMap
    }
    val rnd = new scala.util.Random(79)
    val base = (0 until 200).map(_ => rnd.nextInt(10).toLong)
    val same = (0 until 150).map(_ => rnd.nextInt(10).toLong)
    val shifted = (0 until 150).map(_ => 5L + rnd.nextInt(10).toLong)
    drift(base, same) shouldBe brute(base, same)
    drift(base, shifted) shouldBe brute(base, shifted)
    // planted shift: mass moved up — high buckets positive lam, base-only
    // buckets negative; the KL-style total is clearly positive
    val d2 = drift(base, shifted)
    d2.filter(_._1 >= 10).values.foreach { case (_, _, lam) => lam should be >= 0L }
    val total = d2.map { case (_, (_, c, lam)) => c * lam }.sum
    total should be > 0L
    // identical corpora: every lam is 0 (same histogram, same totals)
    drift(base, base).values.foreach { case (_, _, lam) => lam shouldBe 0L }
  }

  test("prCurve equals the scalar threshold sweep; monotone recall, endpoint sanity") {
    import graft.functions.Quality
    val rnd = new scala.util.Random(73)
    val rows = (0 until 80).map { _ =>
      val y = rnd.nextBoolean()
      (rnd.nextInt(7).toLong + (if (y) rnd.nextInt(3) else 0), y)
    }
    val got = Quality.prCurve(rows.toDF("s", "y"), col("s"), col("y"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))))
      .toMap
    val np = rows.count(_._2).toLong
    val thrs = rows.map(_._1).distinct
    got.keySet shouldBe thrs.toSet
    thrs.foreach { t2 =>
      val pred = rows.filter(_._1 >= t2)
      val tp = pred.count(_._2).toLong
      val exp = (pred.size.toLong, tp, pred.size - tp,
        tp * 10000L / pred.size, tp * 10000L / np)
      withClue(s"thr $t2: ") { got(t2) shouldBe exp }
    }
    // recall is monotone non-increasing in the threshold; the lowest
    // threshold predicts everything (recall 10000)
    val byThr = got.toSeq.sortBy(-_._1).map(_._2._5)
    byThr shouldBe byThr.sorted
    got(thrs.min)._5 shouldBe 10000L
  }

  test("rocAuc equals pairwise-concordance AUC (midrank ties) on random data; pinned edge cases") {
    import graft.functions.Quality
    def auc(rows: Seq[(Long, Boolean)]): (Long, Long, Long) = {
      val got = Quality.rocAuc(rows.toDF("s", "y"), col("s"), col("y"))
        .collect().head
      (got.getLong(0), got.getLong(1), got.getLong(2))
    }
    // independent definition: AUC = (#(s_pos > s_neg) + ½·#(s_pos = s_neg))
    // / (n_pos·n_neg), floored to basis points in exact BigInt
    def brute(rows: Seq[(Long, Boolean)]): Long = {
      val pos = rows.filter(_._2).map(_._1)
      val neg = rows.filterNot(_._2).map(_._1)
      if (pos.isEmpty || neg.isEmpty) -1L
      else {
        val conc = (for (p <- pos; n2 <- neg) yield
          if (p > n2) 2L else if (p == n2) 1L else 0L).sum
        (BigInt(10000) * conc / (BigInt(2) * pos.size * neg.size)).toLong
      }
    }
    val rnd = new scala.util.Random(67)
    (0 until 5).foreach { trial =>
      // heavy ties: scores from a small domain so midranks matter
      val rows = (0 until (30 + rnd.nextInt(60))).map { _ =>
        val y = rnd.nextBoolean()
        (rnd.nextInt(6).toLong + (if (y) rnd.nextInt(3) else 0), y)
      }
      val (np, nn, bp2) = auc(rows)
      withClue(s"trial $trial: ") {
        np shouldBe rows.count(_._2).toLong
        nn shouldBe rows.count(!_._2).toLong
        bp2 shouldBe brute(rows)
      }
    }
    // perfect / inverted / indistinguishable / one-class
    auc(Seq((9L, true), (8L, true), (1L, false)))._3 shouldBe 10000L
    auc(Seq((1L, true), (9L, false)))._3 shouldBe 0L
    auc(Seq((5L, true), (5L, false), (5L, true)))._3 shouldBe 5000L
    auc(Seq((1L, true), (2L, true)))._3 shouldBe -1L
  }

  test("mmrRerank == independent scalar greedy; diversification skips the near-duplicate hit") {
    import graft.functions.Similarity
    // geometry engineered so the twins sit OFF the query axis (if
    // every candidate hugs the query, max-sim ≈ rel and MMR degenerates
    // to a rescaled top-k): equal-relevance twins A≈B and a mirror C,
    // sim(A,B) ≈ 1 but sim(A,C) = 0.28 — relevance order is A,B,C,
    // MMR must emit A,C,B
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),    // the query (not in corpus)
      (1L, Array(0.8f, 0.6f, 0.0f, 0.0f)),    // twin A, rel 0.8
      (2L, Array(0.8f, 0.6f, 0.01f, 0.0f)),   // twin B ~ duplicate of A
      (3L, Array(0.8f, -0.6f, 0.0f, 0.0f)),   // mirror C, rel 0.8, far from A
      (4L, Array(0.2f, 0.1f, 0.9f, 0.0f)))    // low-rel distractor
    val df = vecs.toDF("vec_id", "embedding")
    val lambdaBp = 7000
    val got = Similarity.mmrRerank(
      df.filter(col("vec_id") === 0L), df.filter(col("vec_id") =!= 0L),
      "vec_id", "embedding", n = 4, k = 4, lambdaBp = lambdaBp)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(_._1)

    // independent scalar model: left-to-right double fold, 4-dp HALF_UP
    // round, integer ten-thousandths, greedy with lowest-id tie-break
    def cos4(x: Array[Float], y: Array[Float]): Long = {
      def dot(u: Array[Float], v: Array[Float]) =
        u.zip(v).foldLeft(0.0) { case (acc, (p, q2)) => acc + p.toDouble * q2.toDouble }
      val c = dot(x, y) / math.sqrt(dot(x, x) * dot(y, y))
      val r4 = BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.round(r4 * 10000)
    }
    val q = vecs.head._2
    val corpus = vecs.tail
    val rel = corpus.map { case (id2, v) => id2 -> cos4(q, v) }.toMap
    val byId = corpus.toMap
    var selected = Vector.empty[(Long, Long, Long, Long)] // (id, rel, maxsim, score)
    (1 to 4).foreach { _ =>
      val remaining = corpus.map(_._1).filterNot(selected.map(_._1).contains)
      val scored = remaining.map { id2 =>
        val ms = if (selected.isEmpty) 0L
          else selected.map(s => cos4(byId(id2), byId(s._1))).max
        (id2, rel(id2), ms, lambdaBp * rel(id2) - (10000 - lambdaBp) * ms)
      }
      selected :+= scored.minBy { case (id2, _, _, sc) => (-sc, id2) }
    }
    val expected = selected.zipWithIndex.map { case ((id2, r, ms, sc), i) =>
      (i + 1L, id2, r, ms, sc) }
    got.toSeq shouldBe expected
    // rank 1 is the pure relevance argmax: twin A (equal rel, lowest id)
    got.head._2 shouldBe 1L
    // the diversification claim itself: relevance order is A,B,C but MMR
    // promotes the mirror C over near-duplicate twin B at rank 2
    got(1)._2 shouldBe 3L
    got(2)._2 shouldBe 2L
  }

  test("mmrRerank degeneracies: lambda=10000 is exactly the relevance top-k; k=1 is the top hit") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 30L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 2L)
    val corpus  = df.filter(col("vec_id") >= 2L)
    // λ = 10000: the max-sim term carries weight 0, so the greedy must
    // reproduce the plain cosine ranking order exactly
    val pure = Similarity.mmrRerank(queries, corpus, "vec_id", "embedding",
      n = 8, k = 5, lambdaBp = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (q, rows) =>
        q -> rows.sortBy(_._2).map(_._3).toSeq }
    val knn = Similarity.knnCosine(queries, corpus, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1)))
      .groupBy(_._1).map { case (q, rows) =>
        q -> rows.sortBy(_._2).map(_._3).toSeq }
    pure shouldBe knn
    // k = 1 at any λ > 0 is the relevance argmax
    val one = Similarity.mmrRerank(queries, corpus, "vec_id", "embedding",
      n = 8, k = 1, lambdaBp = 7000)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    one shouldBe knn.map { case (q, ids) => q -> ids.head }
  }

  test("mmrRerank pickBatch: b=1 identical to greedy; batched rounds keep shape and first-round relevance order") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 2L)
    val corpus  = df.filter(col("vec_id") >= 2L)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(t => (t._1, t._2)).toSeq
    // explicit pickBatch = 1 must be EXACTLY the default greedy — the
    // batched loop's rank arithmetic and <=-take window degenerate to
    // the paper's one-pick rounds
    val greedy = rows(Similarity.mmrRerank(queries, corpus,
      "vec_id", "embedding", n = 16, k = 9, lambdaBp = 7000))
    val b1 = rows(Similarity.mmrRerank(queries, corpus,
      "vec_id", "embedding", n = 16, k = 9, lambdaBp = 7000, pickBatch = 1))
    b1 shouldBe greedy
    // batched (b = 4, k = 9 -> rounds of 4/4/1): k distinct picks per
    // query, ranks 1..k, and the FIRST round is the relevance top-b
    // (documented semantics: within-round picks share the prior rounds'
    // max-sim, the first round's is 0 = pure relevance)
    val b4 = rows(Similarity.mmrRerank(queries, corpus,
      "vec_id", "embedding", n = 16, k = 9, lambdaBp = 7000, pickBatch = 4))
    b4.groupBy(_._1).foreach { case (q, rs) =>
      withClue(s"query $q: ") {
        rs.map(_._2) shouldBe (1L to 9L)
        rs.map(_._3).distinct.length shouldBe 9
      }
    }
    val knn = Similarity.knnCosine(queries, corpus, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3).toLong, r.getLong(1)))
      .sortBy(t => (t._1, t._2)).toSeq
    b4.filter(_._2 <= 4L).map(t => (t._1, t._2, t._3)) shouldBe knn
    // every pick's maxsim must reflect ONLY previous rounds: rank 5-8
    // rows (round 2) have maxsim computed over the first four picks
    val byQ = b4.groupBy(_._1)
    byQ.foreach { case (q, rs) =>
      val firstRound = rs.filter(_._2 <= 4L).map(_._3).toSet
      def cos4(x: Array[Float], y: Array[Float]): Long = {
        def dot(u: Array[Float], v: Array[Float]) =
          u.zip(v).foldLeft(0.0) { case (a, (p, q2)) => a + p.toDouble * q2.toDouble }
        val c = dot(x, y) / math.sqrt(dot(x, x) * dot(y, y))
        math.round(BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble * 10000)
      }
      val byId = vecs.toMap
      rs.filter(r => r._2 >= 5L && r._2 <= 8L).foreach { r =>
        val expMs = firstRound.map(s => cos4(byId(r._3), byId(s))).max
        withClue(s"query $q neighbor ${r._3}: ") { r._5 shouldBe expMs }
      }
    }
  }

  test("jsDivergenceBySource: zero on identical sources, scalar-model parity, disjoint-vocab ceiling") {
    import graft.functions.Quality
    // identical token distributions -> exactly 0 (log2(1) before rounding)
    val same = Seq(
      (0L, "a", "x y z x"), (1L, "a", "y x"),
      (2L, "b", "x y z x"), (3L, "b", "y x")).toDF("doc_id", "source", "text")
    val r0 = Quality.jsDivergenceBySource(same, "source", "text").collect()
    r0.length shouldBe 1
    r0.head.getAs[Long]("jsd_mub") shouldBe 0L

    // disjoint vocabularies -> near the 1-bit ceiling once the corpora
    // are big enough that add-one smoothing stops dominating (4-token
    // sources score only ~0.12 bits; 100-token sources clear 0.5)
    val disj = Seq(
      (0L, "a", (Seq.fill(50)("p") ++ Seq.fill(50)("q")).mkString(" ")),
      (1L, "b", (Seq.fill(50)("s") ++ Seq.fill(50)("t")).mkString(" ")))
      .toDF("doc_id", "source", "text")
    val rd = Quality.jsDivergenceBySource(disj, "source", "text")
      .collect().head.getAs[Long]("jsd_mub")
    rd should be > 500000L
    rd should be <= 1000000L

    // scalar-model parity on seeded random corpora (the KN-spec contract:
    // math.log/math.log(2) matches the engine's log2 at micro-bit rounding)
    val rnd = new scala.util.Random(43)
    val words = Vector("a", "b", "c", "d", "e", "f")
    val docs = (0 until 60).map { i =>
      val src = s"s${i % 3}"
      val bias = (i % 3) + 1 // different sources prefer different words
      val txt = Seq.fill(5 + rnd.nextInt(10))(
        words(math.min(rnd.nextInt(3 * bias), words.size - 1))).mkString(" ")
      (i.toLong, src, txt)
    }.toDF("doc_id", "source", "text")
    val got = Quality.jsDivergenceBySource(docs, "source", "text")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    got.size shouldBe 3 // C(3,2)
    val rows = docs.collect().map(r => (r.getString(1), r.getString(2)))
    val cnt = rows.flatMap { case (s2, t2) => t2.split("\\s+").map(s2 -> _) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val srcs = rows.map(_._1).distinct.sorted
    for (i <- srcs.indices; j <- (i + 1) until srcs.size) {
      val (sa, sb) = (srcs(i), srcs(j))
      val na = cnt.collect { case ((s2, _), c) if s2 == sa => c }.sum
      val nb = cnt.collect { case ((s2, _), c) if s2 == sb => c }.sum
      val vocab = cnt.keys.collect { case (s2, w) if s2 == sa || s2 == sb => w }.toSet
      val v = vocab.size.toLong
      val jsd = vocab.toSeq.map { w =>
        val p = (cnt.getOrElse((sa, w), 0L) + 1).toDouble / (na + v).toDouble
        val q = (cnt.getOrElse((sb, w), 0L) + 1).toDouble / (nb + v).toDouble
        def lg2(x: Double) = math.log(x) / math.log(2.0)
        math.round((p * lg2(2 * p / (p + q)) + q * lg2(2 * q / (p + q))) * 500000)
      }.sum
      got((sa, sb)) shouldBe ((v, na, nb, jsd))
    }
  }

  test("jsDivergenceAgainstRef: S-1 pairs matching the all-pairs survey, null sources dropped, absent ref rejected") {
    import graft.functions.Quality
    val rnd = new scala.util.Random(47)
    val words = Vector("a", "b", "c", "d", "e", "f")
    val docs = (0 until 80).map { i =>
      val src = s"s${i % 4}"
      val bias = (i % 4) + 1
      val txt = Seq.fill(5 + rnd.nextInt(10))(
        words(math.min(rnd.nextInt(2 * bias), words.size - 1))).mkString(" ")
      (i.toLong, src, txt)
    }.toDF("doc_id", "source", "text")
    val ref = "s1"
    val got = Quality.jsDivergenceAgainstRef(docs, "source", "text", ref)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    got.keySet shouldBe Set(ref -> "s0", ref -> "s2", ref -> "s3") // S-1 rows, sa = ref
    // each row equals the all-pairs survey's value for that pair —
    // orientation-normalized (the survey sorts sa < sb; JSD is
    // symmetric, na/nb swap with the orientation)
    val all = Quality.jsDivergenceBySource(docs, "source", "text")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    got.foreach { case ((sa, sb), (v, na, nb, jsd)) =>
      val expected =
        if (sa < sb) all((sa, sb))
        else { val (v2, na2, nb2, j2) = all((sb, sa)); (v2, nb2, na2, j2) }
      (v, na, nb, jsd) shouldBe expected
    }
    // a null source neither NPEs the dimension collect nor appears as a
    // pair member (a null provenance has no distribution to compare)
    val withNull = docs.unionByName(Seq(
      (900L, null.asInstanceOf[String], "a b c")).toDF("doc_id", "source", "text"))
    Quality.jsDivergenceAgainstRef(withNull, "source", "text", ref)
      .collect().map(r => r.getString(1)).toSet shouldBe Set("s0", "s2", "s3")
    Quality.jsDivergenceBySource(withNull, "source", "text")
      .collect().length shouldBe 6 // C(4,2), null never a member
    // a reference absent from the corpus is a contract violation
    val boom = intercept[IllegalArgumentException] {
      Quality.jsDivergenceAgainstRef(docs, "source", "text", "nope")
    }
    boom.getMessage should include("nope")
  }

  test("bcubed: hand-computed example, identity, singleton-vs-lump asymmetry, label invariance") {
    import graft.functions.Quality
    def asg(rows: Seq[(Long, Long)]) = rows.toDF("doc_id", "cluster_id")
    def run(p: Seq[(Long, Long)], t2: Seq[(Long, Long)]): (Long, Long, Long, Long) = {
      val r = Quality.bcubed(asg(p), asg(t2)).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // pred {1..5}{6,7} vs truth {1,2,3}{4,5}{6,7}:
    // docs 1-3: P=3/5, R=1; docs 4-5: P=2/5, R=1; docs 6-7: P=R=1
    // P̄ = (3·6000 + 2·4000 + 2·10000) // 7 = 6571, R̄ = 10000,
    // F1 = 2·6571·10000 // 16571 = 7930
    val pred  = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 6L, 7L -> 6L)
    val truth = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L, 7L -> 6L)
    run(pred, truth) shouldBe ((7L, 6571L, 10000L, 7930L))
    // swapping pred/truth swaps precision and recall exactly
    run(truth, pred) shouldBe ((7L, 10000L, 6571L, 7930L))
    // identical clusterings are perfect
    run(truth, truth) shouldBe ((7L, 10000L, 10000L, 10000L))
    // all-singletons pred vs one-lump truth: P̄=1, R̄=1/4, F1 harmonic
    val singles = Seq(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L)
    val lump    = Seq(1L -> 9L, 2L -> 9L, 3L -> 9L, 4L -> 9L)
    run(singles, lump) shouldBe ((4L, 10000L, 2500L, 4000L))
    // cluster LABELS don't matter, only the partition does
    val relabeled = truth.map { case (d, c) => (d, c + 100L) }
    run(pred, relabeled) shouldBe run(pred, truth)
  }

  test("native expressions: generated code equals interpreted eval on null and non-nullable children") {
    import graft.functions.expressions.NativeExpressions
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    // the inputs round-trip through parquet: a local relation would be
    // evaluated by the interpreter at plan time (ConvertToLocalRelation)
    // and the generated code would never run
    val dir = tmpDir("codegen_parity") + "/in"
    def toks(t: String) = t.split(" ").filter(_.nonEmpty).toSeq
    val texts = Seq(
      "Caf&eacute; the cat sat on the mat ab ab b the cat",
      "",
      "e\u0301te\u0301 &lt;x&gt; the the",
      "the")
    texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, Option(t), Option(toks(t)),
        Option(Seq.tabulate(8)(j => (i - j) * 0.25)), Option(Seq.tabulate(8)(j => (i * j - 4).toLong)))
    }.:+((9L, None, None, None, None))
      .toDF("id", "text", "toks", "v", "qv").write.parquet(dir)
    val books = Seq.tabulate(2)(m => Seq((0L, Seq.fill(4)(0L)), (1L, Seq.fill(4)(3L + m))))
    val vocab = Seq("t" -> 3073L, "h" -> 3073L, "e" -> 2049L, "th" -> 1025L, "he" -> 2049L)
    val noToks = typedLit(Seq.empty[String])
    // (name, input column, non-null default, expression)
    val cases: Seq[(String, String, Column, Column => Column)] = Seq(
      ("cdc_chunks", "text", lit(""), NativeExpressions.cdcChunks(_, 2)),
      ("html_unescape", "text", lit(""), TF.unescapeHtml),
      ("multi_match", "text", lit(""), NativeExpressions.multiMatch(_, Seq("ab", "b", "the"))),
      ("rolling_fp", "text", lit(""), TF.rollingFingerprint),
      ("unigram_viterbi", "text", lit(""), NativeExpressions.unigramSegment(_, vocab, spark)),
      ("winnow_fp", "toks", noToks, NativeExpressions.winnowFp(_, 2, 2)),
      ("simhash", "toks", noToks, NativeExpressions.simhash(_, 32)),
      ("shingle_simhash", "toks", noToks, NativeExpressions.shingleSimhash(_, 2, 64)),
      ("shingles", "toks", noToks, NativeExpressions.shingles(_, 2, distinct = true)),
      ("srp_bank", "v", typedLit(Seq.fill(8)(0.0)), NativeExpressions.srpBank(_, 8, 4, 2)),
      ("pq_assign_all", "qv", typedLit(Seq.fill(8)(0L)), NativeExpressions.pqAssignAll(_, books, 4)),
      ("minhash_sig", "toks", noToks, NativeExpressions.minhashSig(_, 8)),
      ("nfc_normalize", "text", lit(""), NativeExpressions.nfcNormalize))
    val in = spark.read.parquet(dir)
    val nonNull = cases.map { case (name, c, dflt, _) => coalesce(col(c), dflt).as(name) }
    in.select(nonNull: _*).schema.map(_.nullable).distinct shouldBe Seq(false)
    val outs = col("id") +: cases.flatMap { case (name, c, dflt, f) =>
      Seq(f(col(c)).as(s"${name}_null"), f(coalesce(col(c), dflt)).as(s"${name}_nonnull"))
    }
    def run(wholeStage: Boolean, mode: String) = {
      val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
      val prev = keys.map(k => spark.conf.getOption(k))
      try {
        spark.conf.set(keys(0), wholeStage.toString)
        spark.conf.set(keys(1), mode)
        val df = in.select(outs: _*)
        val fused = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
        fused.nonEmpty shouldBe wholeStage
        df.collect().sortBy(_.getLong(0)).toSeq
      } finally keys.zip(prev).foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    val generated = run(wholeStage = true, "CODEGEN_ONLY")
    val interpreted = run(wholeStage = false, "NO_CODEGEN")
    generated should have size (texts.size + 1L)
    interpreted should have size generated.size.toLong
    // the all-null row yields null from every nullable-child column
    generated.last.toSeq.zipWithIndex.collect { case (v, i) if i % 2 == 1 => v }
      .forall(_ == null) shouldBe true
    generated.zip(interpreted).foreach { case (g, i) =>
      withClue(s"id=${g.getLong(0)}: ") { g shouldBe i }
    }
  }
}

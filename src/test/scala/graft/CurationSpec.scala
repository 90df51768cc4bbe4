package graft

import org.apache.spark.sql.functions._
import graft.functions.Curation

/** Specs for the corpus-curation operators (functions/Curation.scala):
  * BM25 retrieval, leakage-free splitting, α-temperature mixing.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  // ─────────────────────────────────────────────────────────────────
  // BM25
  // ─────────────────────────────────────────────────────────────────

  /** Independent scalar reimplementation of the exact formula the
    * operator documents (k1=1.2, b=0.75, Lucene idf), for cross-checking
    * the distributed path on a corpus small enough to enumerate.
    */
  private def bm25Expected(
      docs: Seq[(Long, String)], terms: Seq[String], k: Int): Seq[(Long, Long)] = {
    val toks   = docs.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
    val dl     = toks.map { case (id, ts) => id -> ts.size.toLong }.toMap
    val nDocs  = toks.size.toLong
    val tToks  = dl.values.sum
    val tf     = for ((id, ts) <- toks; t <- terms; c = ts.count(_ == t) if c > 0)
      yield (id, t, c.toLong)
    val df     = tf.groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong }
    val scores = tf
      .map { case (id, t, f) =>
        val idf    = math.log((2 * nDocs + 2).toDouble / (2 * df(t) + 1).toDouble)
        val tfpart = (44 * tToks * f).toDouble /
          (20 * tToks * f + 6 * tToks + 18 * dl(id) * nDocs).toDouble
        id -> math.round(idf * tfpart * 10000)
      }
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).sum }.toSeq
    scores.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  private val tinyCorpus = Seq(
    (1L, "dup dup spark join"),          // rare term twice, short doc
    (2L, "spark join window merge key"), // common terms only
    (3L, "dup merge key value line group sort filter"), // rare term once, longer
    (4L, "window window window spark"),
    (5L, "key value line"))              // no query terms

  test("bm25TopK matches an independent scalar evaluation of the documented formula") {
    val df  = tinyCorpus.toDF("doc_id", "text")
    val got = Curation.bm25TopK(df, "doc_id", "text", Seq("dup", "spark", "window"), 10)
      .as[(Long, Long)].collect().toSeq
    val exp = bm25Expected(tinyCorpus, Seq("dup", "spark", "window"), 10)
    got shouldBe exp
  }

  test("bm25TopK ranking properties: rare-term docs outrank common-only, absent docs excluded") {
    val df  = tinyCorpus.toDF("doc_id", "text")
    val got = Curation.bm25TopK(df, "doc_id", "text", Seq("dup", "spark", "window"), 10)
      .as[(Long, Long)].collect().toSeq
    val rank = got.map(_._1)
    // doc 5 has no query term → not scored at all
    rank should not contain 5L
    // doc 1 (rare term "dup" twice, short) must beat doc 2, whose only
    // high-idf hit is a single "window" and whose other hits are low-idf
    rank.indexOf(1L) should be < rank.indexOf(2L)
    // scores strictly ordered (ties broken by id keeps output stable)
    got.map(_._2).sliding(2).foreach { case Seq(a, b) => a should be >= b }
  }

  test("bm25TopK saturation: tf doubling gains less than the first occurrence (k1 cap)") {
    val docs = Seq(
      (1L, "dup pad pad pad"),
      (2L, "dup dup pad pad"),
      (3L, "dup dup dup dup")) // same length, rising tf
    val got = Curation.bm25TopK(docs.toDF("doc_id", "text"), "doc_id", "text",
        Seq("dup"), 10).as[(Long, Long)].collect().toMap
    val (s1, s2, s3) = (got(1L), got(2L), got(3L))
    s2 should be > s1
    s3 should be > s2
    (s2 - s1) should be > (s3 - s2) // concave in tf: diminishing returns
  }

  test("bm25Search over a persisted index equals the one-plan composition") {
    val df  = tinyCorpus.toDF("doc_id", "text")
    val dir = tmpDir("bm25_ix")
    Curation.writeBm25Index(Curation.bm25Index(df, "doc_id", "text"), dir)
    val viaIndex = Curation.bm25Search(df, Curation.readBm25Index(spark, dir),
        "doc_id", "text", Seq("dup", "spark", "window"), 10)
      .as[(Long, Long)].collect().toSeq
    val composed = Curation.bm25TopK(df, "doc_id", "text",
        Seq("dup", "spark", "window"), 10)
      .as[(Long, Long)].collect().toSeq
    viaIndex shouldBe composed
  }

  // ─────────────────────────────────────────────────────────────────
  // Leakage-free split
  // ─────────────────────────────────────────────────────────────────

  test("leakFreeSplit never lets an exact-dup group straddle splits; id-hash split does") {
    // 60 distinct texts, each duplicated under 3 different doc ids —
    // enough groups that an id-hash split straddles some with high
    // probability (P[all 60 co-located] ≈ (0.8²+0.1²+0.1²)^60 ~ 1e-11).
    val docs = (0 until 60).flatMap { g =>
      (0 until 3).map(i => (g * 100L + i, s"text of group $g with shared content"))
    }.toDF("doc_id", "text")

    val straddleLeakfree = Curation.leakFreeSplit(docs, "doc_id", "text")
      .groupBy("grp").agg(countDistinct("split").as("k"))
      .filter(col("k") > 1).count()
    straddleLeakfree shouldBe 0L

    val b = Curation.md5Byte("split:", col("doc_id").cast("string"))
    val idSplit = docs.select(
      md5(col("text")).as("grp"),
      when(b < 204, "train").when(b < 230, "val").otherwise("test").as("split"))
    val straddleIdHash = idSplit
      .groupBy("grp").agg(countDistinct("split").as("k"))
      .filter(col("k") > 1).count()
    straddleIdHash should be > 0L // the leakage mode the operator exists to kill
  }

  test("leakFreeSplit is append-stable: adding docs never moves an existing doc's split") {
    val base  = (0 until 40).map(i => (i.toLong, s"doc number $i")).toDF("doc_id", "text")
    val grown = (0 until 80).map(i => (i.toLong, s"doc number $i")).toDF("doc_id", "text")
    val a = Curation.leakFreeSplit(base, "doc_id", "text")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val b = Curation.leakFreeSplit(grown, "doc_id", "text")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    a.foreach { case (id, s) => b(id) shouldBe s }
  }

  // ─────────────────────────────────────────────────────────────────
  // Naive Bayes classifier
  // ─────────────────────────────────────────────────────────────────

  test("nbConfusion: disjoint-vocabulary classes classify held-out docs perfectly") {
    // two classes with disjoint vocab — any smoothing level must still
    // put every held-out doc on the diagonal
    val docs = (0 until 100).map { i =>
      if (i % 2 == 0) (i.toLong, "alpha beta gamma alpha beta", "A")
      else (i.toLong, "delta epsilon zeta delta epsilon", "B")
    }.toDF("doc_id", "text", "cls")
    val conf = Curation.nbConfusion(docs, "doc_id", "text", "cls")
      .as[(String, String, Long)].collect().toSeq
    conf.foreach { case (t, p, _) => p shouldBe t } // pure diagonal
    conf.map(_._3).sum should be > 0L               // a held-out set exists
  }

  test("nbConfusion: exact score ties break lexicographically and survive repartitioning") {
    // both classes have IDENTICAL token distributions and equal priors →
    // every held-out doc is an exact integer tie; prediction must be the
    // lexicographically first class, on any partition layout
    val docs = (0 until 200).map { i =>
      (i.toLong, "same words every time", if (i % 2 == 0) "x" else "y")
    }.toDF("doc_id", "text", "cls")
    val c1 = Curation.nbConfusion(docs, "doc_id", "text", "cls")
      .as[(String, String, Long)].collect().toSet
    c1.foreach { case (_, p, _) => p shouldBe "x" } // tie → first class
    val c2 = Curation.nbConfusion(docs.repartition(13), "doc_id", "text", "cls")
      .as[(String, String, Long)].collect().toSet
    c2 shouldBe c1
  }

  test("nbConfusion: unseen held-out tokens fall back to the smoothed zero-count, not a dropped row") {
    // a token that never occurs in ANY training doc (only on held-out
    // docs) must not erase the doc — it scores via lp0. Training
    // membership is doc-id-md5 determined, so plant the unseen token on
    // every doc: it reaches training iff some train doc has it — here no
    // doc has it in train text but all test docs do, via a marker only
    // when the doc's own md5 byte >= 204 (exactly the held-out set).
    val b204 = (0 until 300).map { i =>
      val h  = java.security.MessageDigest.getInstance("MD5")
        .digest(s"nb:$i".getBytes("UTF-8"))
      val b  = (h(0).toInt & 0xff)
      val txt = if (b >= 204) "qqq zzz unseen unseen" else "alpha beta gamma"
      (i.toLong, txt, if (i % 2 == 0) "A" else "B")
    }
    val docs = b204.toDF("doc_id", "text", "cls")
    val conf = Curation.nbConfusion(docs, "doc_id", "text", "cls")
      .as[(String, String, Long)].collect().toSeq
    val heldOut = b204.count(_._2.startsWith("qqq")).toLong
    conf.map(_._3).sum shouldBe heldOut // every held-out doc classified
  }

  test("nbPredict: the shuffle-join model path is bit-identical to the broadcast path") {
    // a corpus engineered to exercise every score component both ways:
    // shared tokens, class-exclusive tokens, tokens unseen in training
    // entirely (lp0 fallback), exact ties, multi-token repeats, and an
    // empty-text doc (prior-only argmax)
    val rnd = new scala.util.Random(47)
    val vocab = (0 until 30).map(i => s"t$i")
    val docs = ((0 until 240).map { i =>
      val words = (0 until 1 + rnd.nextInt(12))
        .map(_ => vocab(rnd.nextInt(vocab.size)))
      val planted = if (i % 7 == 0) words :+ "unseen_everywhere" else words
      (i.toLong, planted.mkString(" "), if (i % 3 == 0) "A" else "B")
    } :+ ((240L, "", "A"))).toDF("doc_id", "text", "cls")
    val model = Curation.nbFit(
      docs.filter($"doc_id" < 180).select("doc_id", "text", "cls"), "text", "cls")
    val heldOut = docs.filter($"doc_id" >= 180).select("doc_id", "text")
    val viaBroadcast = Curation
      .nbPredict(heldOut, model, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val viaShuffle = Curation
      .nbPredict(heldOut, model, "doc_id", "text", broadcastModel = false)
      .collect().map(_.toSeq).toSet
    viaShuffle shouldBe viaBroadcast // pred_cls AND exact integer scores
  }

  test("nbPredict shuffle path: the V·C model is sort-merge-joined, never broadcast") {
    val docs = (0 until 40).map(i =>
      (i.toLong, s"w${i % 5} w${i % 7} w${i % 3}", if (i % 2 == 0) "A" else "B"))
      .toDF("doc_id", "text", "cls")
    val model = Curation.nbFit(docs.select("doc_id", "text", "cls"), "text", "cls")
    val plan = Curation
      .nbPredict(docs.select("doc_id", "text"), model, "doc_id", "text",
        broadcastModel = false)
      .queryExecution.executedPlan.toString
    // the token-key model join is a shuffle join (merge-hinted so AQE
    // can't silently re-broadcast a small test model) ...
    plan should include("SortMergeJoin")
    // ... and no BroadcastHashJoin keys on the token column — the only
    // broadcasts left are the <=C-row class frames
    plan.linesIterator.filter(_.contains("BroadcastHashJoin"))
      .foreach(l => l should not include "tok")
  }

  test("termBucket: driver probe planner and Spark writer column agree on arbitrary unicode terms") {
    // the probe prunes store DIRECTORIES from the driver-side hash; if
    // it ever drifted from the writer's column the probe would silently
    // read the wrong bucket and answer zero hits — a false "not
    // contaminated". Property-pinned on multi-byte content the ASCII
    // served==in-plan spec can't see: 2-4-byte UTF-8, surrogate pairs,
    // combining marks, mixed scripts.
    val rnd = new scala.util.Random(71)
    val pool: IndexedSeq[String] =
      (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).map(_.toString) ++
        "éüßñçøåπλΩжяшщдćžč中文日本語한국어ไทยहिन्दी".map(_.toString) ++
        "أبجدية".map(_.toString) ++
        Seq("😀", "🚀", "𝒜", "𠜎", // surrogate pairs (4-byte UTF-8)
          "e\u0301", "a\u0308", "\u00e9") // combining marks vs precomposed
    val terms = (0 until 300).map(_ =>
      (0 until 1 + rnd.nextInt(8)).map(_ => pool(rnd.nextInt(pool.size))).mkString)
      .distinct
    for (buckets <- Seq(64, 7)) {
      val fromCol = terms.toDF("term")
        .select($"term", Curation.termBucketCol($"term", buckets).as("tb"))
        .as[(String, Long)].collect().toMap
      terms.foreach { t2 =>
        withClue(s"term '$t2' (buckets=$buckets): ") {
          Curation.termBucket(t2, buckets) shouldBe fromCol(t2)
        }
      }
    }
  }

  // ─────────────────────────────────────────────────────────────────
  // Kneser–Ney bigram LM surprisal
  // ─────────────────────────────────────────────────────────────────

  test("knBigramSurprisal matches an independent scalar KN evaluation (d=3/4)") {
    import graft.functions.Quality
    val corpus = Seq(
      (1L, "a b a b a b"),
      (2L, "a b c d e"),
      (3L, "b a c a d a"),
      (4L, "e d c b a"),
      (5L, "x"))          // single token: no bigram, excluded
    // scalar KN: P(w|v) = ((4·cvw−3)·nbt + 3·n1v·n1w) / (4·cv·nbt)
    val bgs = corpus.flatMap { case (id, t) =>
      val ts = t.split(" "); ts.zip(ts.drop(1)).map(p => (id, p._1, p._2))
    }
    val cvw = bgs.groupBy(b => (b._2, b._3)).map { case (k, v) => k -> v.size.toLong }
    val cv  = cvw.groupBy(_._1._1).map { case (v, m) => v -> m.values.sum }
    val n1v = cvw.groupBy(_._1._1).map { case (v, m) => v -> m.size.toLong }
    val n1w = cvw.groupBy(_._1._2).map { case (w, m) => w -> m.size.toLong }
    val nbt = cvw.size.toLong
    val sc  = cvw.map { case ((v, w), c) =>
      val num = (4 * c - 3) * nbt + 3 * n1v(v) * n1w(w)
      val den = 4 * cv(v) * nbt
      (v, w) -> math.round(-(math.log(num.toDouble / den.toDouble) / math.log(2.0)) * 1000000)
    }
    val exp = bgs.groupBy(_._1).map { case (id, bs) =>
      val s = bs.map(b => sc((b._2, b._3))).sum
      id -> ((bs.size.toLong, s / (bs.size.toLong * 10000)))
    }
    val got = Quality.knBigramSurprisal(corpus.toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    got shouldBe exp
  }

  test("knBigramSurprisal: formulaic text scores lower than rare-transition text") {
    import graft.functions.Quality
    // doc 1 repeats the corpus's dominant bigram; doc 2 takes one-off
    // transitions — the perplexity-filter axis (low = boilerplate)
    val corpus = (0 until 20).map(i => (i.toLong, "the quick fox the quick fox")) ++
      Seq((100L, "fox the fox quick the the"), (101L, "quick fox the quick fox the"))
    val got = Quality.knBigramSurprisal(corpus.toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    got(0L) should be < got(100L)
    // every bigram seen once in-sample still gets a finite positive score
    got.values.foreach(_ should be > 0L)
  }

  // ─────────────────────────────────────────────────────────────────
  // Johnson–Lindenstrauss projection
  // ─────────────────────────────────────────────────────────────────

  private def jlSignScala(pos: Int, kdim: Int): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp:$pos:$kdim".getBytes("UTF-8"))
    val hex = "%02x".format(h(0) & 0xff).charAt(0)
    if (hex.toInt % 2 == 0) 1L else -1L
  }

  test("jlProject matches an independent scalar evaluation of the md5 sign matrix") {
    import graft.functions.Similarity
    val vecs = Seq(
      (0L, Array(1.0f, -0.5f, 0.25f, 2.0f)),
      (1L, Array(0.0f, 1.5f, -1.0f, 0.5f)))
    val got = Similarity.jlProject(vecs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 3)
      .as[(Long, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    for ((id, v) <- vecs; kd <- 0 until 3) {
      val exp = v.zipWithIndex.map { case (x, pos) =>
        math.round(x.toDouble * 1000) * jlSignScala(pos, kd)
      }.sum
      got((id, kd)) shouldBe exp
    }
  }

  test("jlDistanceReport: pairwise ratios concentrate near 10000bp; identical vectors hit the guard") {
    import graft.functions.Similarity
    // deterministic pseudo-random vectors + one exact duplicate pair
    val vecs = (0L until 10L).map { i =>
      i -> Array.tabulate(64)(d => (((i * 131 + d * 31) % 97).toFloat - 48) / 48f)
    } :+ (10L -> Array.tabulate(64)(d => (((0 * 131 + d * 31) % 97).toFloat - 48) / 48f))
    val rep = Similarity.jlDistanceReport(vecs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 16, maxId = 11)
      .as[(Long, Long, Long)].collect()
    rep.length shouldBe 55 // C(11,2)
    // the duplicate pair (0, 10): dx2 = 0 → guard returns exactly 10000
    rep.find(r => r._1 == 0L && r._2 == 10L).get._3 shouldBe 10000L
    // J–L concentration: the mean ratio over all pairs sits near 1
    val mean = rep.map(_._3).sum / rep.length
    mean should be >= 8000L
    mean should be <= 12000L
  }

  // ─────────────────────────────────────────────────────────────────
  // α-temperature mixing
  // ─────────────────────────────────────────────────────────────────

  test("temperatureThresholds: thr = floor(256·sqrt(n_min/n)) exactly, smallest domain keeps all") {
    val docs = (
      (0 until 100).map(i => (i.toLong, "a")) ++      // n=100
      (0 until 400).map(i => (1000L + i, "b")) ++     // n=400 → thr 128
      (0 until 900).map(i => (10000L + i, "c"))       // n=900 → thr 85
    ).toDF("doc_id", "source")
    val thr = Curation.temperatureThresholds(docs, "source")
      .select("source", "n_total", "thr").as[(String, Long, Int)].collect()
      .map { case (s, n, t) => s -> ((n, t)) }.toMap
    thr("a") shouldBe ((100L, 256))
    thr("b") shouldBe ((400L, 128)) // 256·sqrt(1/4) exactly
    thr("c") shouldBe ((900L, 85))  // floor(256/3)
  }

  test("temperatureMix flattens toward √n: kept counts within 4σ of thr/256 expectation") {
    val docs = (
      (0 until 256).map(i => (i.toLong, "small")) ++
      (0 until 4096).map(i => (100000L + i, "large"))
    ).toDF("doc_id", "source")
    val mix = Curation.temperatureMix(docs, "source", "doc_id")
      .select("source", "n_total", "thr", "n_kept")
      .as[(String, Long, Int, Long)].collect()
      .map { case (s, n, t, k) => s -> ((n, t, k)) }.toMap
    val (_, tS, kS) = mix("small")
    val (nL, tL, kL) = mix("large")
    tS shouldBe 256
    kS shouldBe 256L // thr 256 accepts every md5 byte
    tL shouldBe 64   // floor(256·sqrt(256/4096)) = 64
    // md5 bytes ~ Uniform[0,256): E[kept] = n·thr/256, σ = sqrt(n·p·(1−p))
    val p   = tL / 256.0
    val sd  = math.sqrt(nL * p * (1 - p))
    math.abs(kL - nL * p) should be <= (4 * sd)
  }

  test("temperatureMix acceptance is per-doc deterministic and append-stable") {
    val docs  = (0 until 500).map(i => (i.toLong, s"s${i % 3}")).toDF("doc_id", "source")
    val r1 = Curation.temperatureMix(docs, "source", "doc_id").orderBy("source")
      .collect().map(_.toSeq)
    val r2 = Curation.temperatureMix(docs.repartition(7), "source", "doc_id")
      .orderBy("source").collect().map(_.toSeq)
    r1 shouldBe r2 // partition-layout invariant
  }

  test("phraseMatches: exact token-sequence hits, overlaps, repeated words") {
    val docs = Seq(
      (1L, "the cat sat on the cat mat"),
      (2L, "cat cat cat"),          // overlapping "cat cat" x2
      (3L, "the dog"),
      (4L, "concatenation of cats") // substring matches must NOT count
    ).toDF("doc_id", "text")
    val got = Curation.phraseMatches(docs, "doc_id", "text",
      Seq("the cat", "cat cat", "cat", "on the cat mat", "absent phrase"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    got("the cat") shouldBe ((1L, 2L))        // doc 1 twice
    got("cat cat") shouldBe ((1L, 2L))        // doc 2, overlapping starts 1,2
    got("cat") shouldBe ((2L, 5L))            // docs 1+2; "cats" is not "cat"
    got("on the cat mat") shouldBe ((1L, 1L)) // 4-token phrase
    got.contains("absent phrase") shouldBe false
  }

  test("phraseMatchesIndexed: persisted store equals in-plan, scan prunes to probe buckets") {
    val rnd = new scala.util.Random(29)
    val vocab = (0 until 40).map(i => s"w$i")
    val docs = (0 until 80).map { i =>
      (i.toLong,
        (0 until (5 + rnd.nextInt(25))).map(_ => vocab(rnd.nextInt(40))).mkString(" "))
    }.toDF("doc_id", "text")
    val dir = tmpDir("graft_postings_spec")
    Curation.writePhrasePostings(
      Curation.phrasePostings(docs, "doc_id", "text"), dir)
    val phrases = Seq("w1 w2", "w3", "w4 w5 w6")
    val served = Curation.phraseMatchesIndexed(spark, dir, phrases)
    val inPlan = Curation.phraseMatches(docs, "doc_id", "text", phrases)
    served.collect().map(_.toSeq).toSet shouldBe
      inPlan.collect().map(_.toSeq).toSet
    // the store read must prune by DIRECTORY on the term-hash bucket —
    // probe cost scales with the phrase list, not the corpus
    val plan = served.queryExecution.executedPlan.toString
    plan should include regex "PartitionFilters: \\[[^\\]]*tb"
  }

  test("phraseMatches: duplicate phrases in the probe list do not zero out matches") {
    val docs = Seq((1L, "spark runs fast")).toDF("doc_id", "text")
    val got = Curation.phraseMatches(docs, "doc_id", "text",
      Seq("spark", "spark", "runs fast", "runs fast"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    got("spark") shouldBe ((1L, 1L))
    got("runs fast") shouldBe ((1L, 1L))
  }

  test("phraseMatchesIndexed: an EMPTY persisted snapshot answers zero hits, not a crash") {
    val dir = tmpDir("graft_postings_empty")
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    Curation.writePhrasePostings(
      Curation.phrasePostings(none, "doc_id", "text"), dir)
    Curation.phraseMatchesIndexed(spark, dir, Seq("anything at all"))
      .collect() shouldBe empty
  }

  test("phraseMatches equals a brute-force sliding-window count") {
    val rnd = new scala.util.Random(13)
    val vocab = Seq("a", "b", "c", "d")
    val docs = (0 until 60).map { i =>
      (i.toLong,
        (0 until (1 + rnd.nextInt(30))).map(_ => vocab(rnd.nextInt(4))).mkString(" "))
    }
    val phrases = Seq("a b", "b b c", "d", "c a d a")
    def brute(p: String): (Long, Long) = {
      val pt = p.split(" ").toSeq
      val per = docs.map { case (_, t2) =>
        t2.split(" ").toSeq.sliding(pt.size).count(_ == pt).toLong
      }
      (per.count(_ > 0).toLong, per.sum)
    }
    val got = Curation.phraseMatches(docs.toDF("doc_id", "text"),
      "doc_id", "text", phrases)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    phrases.foreach { p =>
      val (nd, no) = brute(p)
      withClue(s"phrase '$p': ") {
        if (no == 0) got.contains(p) shouldBe false
        else got(p) shouldBe ((nd, no))
      }
    }
  }

  // ─────────────────────────────────────────────────────────────────
  // Query-likelihood retrieval + RRF fusion
  // ─────────────────────────────────────────────────────────────────

  test("qlDirichletTopK equals the scalar Zhai–Lafferty formula; background mass scored for missing terms") {
    // μ small relative to the tiny corpus so smoothing actually moves
    // the ranking (the default 2000 would drown 16 tokens of signal)
    val corpus = Seq(
      (0L, "a b c a"),  // both terms, tf_a=2
      (1L, "a a a a"),  // only a, heavily
      (2L, "b c d e"),  // only b
      (3L, "x y z"),    // no query term -> not a candidate
      (4L, "a b"))      // both terms, short doc
    val terms = Seq("a", "b")
    val mu    = 10
    val docs  = corpus.toDF("doc_id", "text")

    // independent scalar model
    val toks  = corpus.map { case (id, s) => id -> s.split(" ").toSeq }.toMap
    val tTot  = toks.values.map(_.size).sum.toLong
    val cf    = terms.map(t => t -> toks.values.map(_.count(_ == t)).sum.toLong).toMap
    val expected = corpus
      .map(_._1)
      .filter(id => terms.exists(t => toks(id).contains(t)))
      .map { id =>
        val dl = toks(id).size.toLong
        val sc = terms.map { t2 =>
          val tf = toks(id).count(_ == t2).toLong
          math.round(math.log(
            (tf * tTot + mu * cf(t2)).toDouble / ((dl + mu) * tTot).toDouble) * 10000)
        }.sum
        (id, sc)
      }
      .sortBy { case (id, sc) => (-sc, id) }

    val got = Curation.qlDirichletTopK(docs, "doc_id", "text", terms, k = 10, mu = mu)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    got shouldBe expected
    // doc 3 (no query term) must not appear; docs with a missing term DO
    // (their background mass scored it) — that's QL, not boolean overlap
    got.map(_._1) should not contain 3L
    got.map(_._1) should contain allOf (1L, 2L)
  }

  test("qlDirichletTopK: a query term absent from the corpus contributes zero, never NULL-poisons scores") {
    val docs = Seq(
      (0L, "a b c a"), (1L, "a a a"), (2L, "b c")).toDF("doc_id", "text")
    // "zzz" has corpus frequency 0: ln(0) would NULL every score; the
    // contract (matching the oracle's inner join to cf) is that the term
    // contributes nothing at all
    val withAbsent = Curation
      .qlDirichletTopK(docs, "doc_id", "text", Seq("a", "zzz"), k = 10, mu = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val without = Curation
      .qlDirichletTopK(docs, "doc_id", "text", Seq("a"), k = 10, mu = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    withAbsent shouldBe without
    withAbsent.foreach { case (_, sc) => sc should not be 0L } // real scores, not zeros
    intercept[IllegalArgumentException](
      Curation.qlDirichletTopK(docs, "doc_id", "text", Seq("a"), 10, mu = 0))
  }

  test("rrfFuse: hand-computed fusion, consensus beats single-arm top rank, per-arm ranks audited") {
    val bm = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("doc_id", "rank")
    val ql = Seq((12L, 1L), (10L, 2L), (13L, 3L)).toDF("doc_id", "rank")
    val got = Curation.rrfFuse(Seq("bm25" -> bm, "ql" -> ql), "doc_id", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 10 (ranks 1, 2): ⌊1e6/61⌋+⌊1e6/62⌋ = 16393+16129 = 32522
    // doc 12 (ranks 3, 1): ⌊1e6/63⌋+⌊1e6/61⌋ = 15873+16393 = 32266
    got(0) shouldBe ((10L, 32522L, 1L, 2L))
    got(1) shouldBe ((12L, 32266L, 3L, 1L))
    // consensus mid-rankers (10, 12) both beat the single-arm docs
    got(2) shouldBe ((11L, 16129L, 2L, 0L)) // bm only: ⌊1e6/62⌋
    got(3) shouldBe ((13L, 15873L, 0L, 3L)) // ql only: ⌊1e6/63⌋
  }

  test("rboWeightsMu: exact rational 9^(d-1)/(10^d·d) rounded to micro-units") {
    Curation.rboWeightsMu(3) shouldBe Seq(100000L, 45000L, 27000L)
    // monotone decreasing, all positive at practical depths
    val w = Curation.rboWeightsMu(20)
    w.sliding(2).foreach { case Seq(a, b) => b should be < a }
    all(w) should be > 0L
  }

  test("rboReport: hand-computed overlaps, identity and disjoint edges, top-weightedness") {
    def ranks(xs: Seq[Long]) =
      xs.zipWithIndex.map { case (id, i) => (id, i + 1L) }.toDF("doc_id", "rank")
    def rbo(a: Seq[Long], b: Seq[Long], depth: Int) =
      Curation.rboReport(ranks(a), ranks(b), "doc_id", depth)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // A=[1,2,3], B=[2,1,4]: docs 1,2 shared with max-rank 2; doc 3/4 unshared
    // overlaps by depth: 0, 2, 2; terms: 0, 2·45000, 2·27000; cum 0/90000/144000
    rbo(Seq(1L, 2L, 3L), Seq(2L, 1L, 4L), 3).toSeq shouldBe Seq(
      (1L, 0L, 0L, 0L), (2L, 2L, 90000L, 90000L), (3L, 2L, 54000L, 144000L))
    // identical rankings: overlap_d = d everywhere
    val idt = rbo(Seq(5L, 6L, 7L), Seq(5L, 6L, 7L), 3)
    idt.map(r => (r._1, r._2)).toSeq shouldBe Seq((1L, 1L), (2L, 2L), (3L, 3L))
    idt.last._4 shouldBe (100000L * 1 + 45000L * 2 + 27000L * 3)
    // disjoint rankings: zero everywhere
    rbo(Seq(1L, 2L), Seq(8L, 9L), 2).map(_._4).toSeq shouldBe Seq(0L, 0L)
    // top-weightedness: agreeing only at rank 1 beats agreeing only at rank 3
    val top = rbo(Seq(1L, 2L, 3L), Seq(1L, 8L, 9L), 3).last._4
    val bot = rbo(Seq(1L, 2L, 3L), Seq(8L, 9L, 3L), 3).last._4
    top should be > bot
  }

  test("rrfFuse degeneracy: a single arm fuses to its own rank order") {
    val arm = Seq((5L, 1L), (9L, 2L), (3L, 3L), (7L, 4L)).toDF("doc_id", "rank")
    val got = Curation.rrfFuse(Seq("only" -> arm), "doc_id", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // fused score ⌊1e6/(60+rank)⌋ is strictly decreasing in rank, so the
    // fused order IS the arm order; rank_only column echoes the input
    got.toSeq shouldBe Seq((5L, 1L), (9L, 2L), (3L, 3L), (7L, 4L))
  }

  test("hybridRrfTopK: per-arm ranks in the fused output match the standalone rankers") {
    val docs = (0L until 40L).map { i =>
      val pad = Seq.fill((i % 7).toInt + 1)("filler").mkString(" ")
      val hot = if (i % 3 == 0) s"alpha ${"alpha " * (i % 5).toInt}" else ""
      val beta = if (i % 4 == 0) "beta " else ""
      (i, s"$hot$beta$pad doc$i")
    }.toDF("doc_id", "text")
    val terms = Seq("alpha", "beta")
    val fused = Curation.hybridRrfTopK(docs, "doc_id", "text", terms,
      n = 10, k = 10, mu = 50)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    val bmRanks = Curation.rankOf(
      Curation.bm25TopK(docs, "doc_id", "text", terms, 10), "doc_id", "score_sc")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qlRanks = Curation.rankOf(
      Curation.qlDirichletTopK(docs, "doc_id", "text", terms, 10, mu = 50),
      "doc_id", "score_sc")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fused should not be empty
    fused.foreach { case (id, rb, rq) =>
      rb shouldBe bmRanks.getOrElse(id, 0L)
      rq shouldBe qlRanks.getOrElse(id, 0L)
    }
    // at least one doc fused from BOTH arms on this corpus
    fused.exists { case (_, rb, rq) => rb > 0 && rq > 0 } shouldBe true
  }
}

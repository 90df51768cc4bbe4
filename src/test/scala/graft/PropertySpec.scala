package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{Dedup, Similarity, TextFunctions => TF}
import graft.operators.AsofJoin

/** Property-style tests for the primitives whose exactness the DuckDB
  * oracle depends on — ScalaCheck generators sampled over fixed seeds
  * (deterministic, no scalatestplus bridge needed), invariants instead of
  * examples.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](gen: Gen[A], seed: Long): A =
    gen.apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(fail(s"generator failed for seed $seed"))

  private val textGen: Gen[String] = Gen.listOfN(
    8,
    Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("héllo", "wörld", "日本語", "", " ", "a b"))
  ).map(_.mkString(" "))

  test("property: native fingerprints equal column-algebra folds on random text") {
    (1L to 10L).foreach { seed =>
      val texts = sample(Gen.listOfN(6, textGen), seed)
      val df = texts.toDF("text").select(
        TF.rollingFingerprint(col("text")).as("a"),
        TF.rollingFingerprintFold(col("text")).as("b"),
        TF.minShingleFingerprint(col("text")).as("c"),
        TF.minShingleFingerprintFold(col("text")).as("d"),
        Dedup.simhashExpr(col("text")).as("e"),
        Dedup.simhashFoldExpr(col("text")).as("f"))
      df.collect().foreach { r =>
        withClue(s"seed=$seed rolling: ") { r.getLong(0) shouldBe r.getLong(1) }
        withClue(s"seed=$seed shingle: ") { r.getLong(2) shouldBe r.getLong(3) }
        withClue(s"seed=$seed simhash: ") { r.getLong(4) shouldBe r.getLong(5) }
      }
    }
  }

  test("property: native dot equals fold dot on random vectors") {
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-100, 100).map(_ / 7.0f))
    (1L to 10L).foreach { seed =>
      val vs = sample(Gen.listOfN(5, Gen.zip(vecGen, vecGen)), seed)
      val df = vs.map { case (a, b) => (a.toArray, b.toArray) }.toDF("a", "b")
        .select(
          Similarity.dot(
            Similarity.toDouble(col("a")), Similarity.toDouble(col("b"))).as("n"),
          Similarity.dotFold(
            Similarity.toDouble(col("a")), Similarity.toDouble(col("b"))).as("f"))
      df.collect().foreach(r =>
        withClue(s"seed=$seed: ") { r.getDouble(0) shouldBe r.getDouble(1) })
    }
  }

  test("property: asofJoin equals per-row argmax on random series") {
    val pairGen = Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(0L, 2000L))
    (1L to 6L).foreach { seed =>
      val ls = sample(Gen.listOfN(25, pairGen), seed)
      // right side unique per (key, ts) — "last among equals" is otherwise
      // order-dependent (documented contract)
      val rs = sample(Gen.listOfN(25, pairGen), seed + 1000)
        .distinctBy(identity)
      def t(s: Long) = new java.sql.Timestamp(s * 1000)
      val left  = ls.map { case (k, s) => (k, t(s)) }.toDF("k", "ts")
      val right = rs.zipWithIndex
        .map { case ((k, s), i) => (k, t(s), i.toLong) }.toDF("k", "ts", "v")
      val got = AsofJoin.asofJoin(left, right, "k", "ts", "ts", Seq("v"))
        .select("k", "ts", "v").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000,
          Option(r.get(2)).map(_.asInstanceOf[Long])))
        .sorted
      val expected = ls.map { case (k, s) =>
        val best = rs.zipWithIndex
          .filter { case ((rk, rts), _) => rk == k && rts <= s }
          .sortBy { case ((_, rts), i) => (rts, i) }
          .lastOption
        (k, s, best.map(_._2.toLong))
      }.sorted
      withClue(s"seed=$seed: ") { got.toSeq shouldBe expected }
    }
  }

  test("property: semanticDedup flags every planted duplicate, keeps one per group") {
    // md5-seeded pseudo-random corpus + planted near-copies (tiny noise,
    // same direction): every planted copy must be marked dup of an
    // earlier id, and no singleton vector may be dropped
    def vec(i: Int): Array[Double] = Array.tabulate(64) { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sd$i:$d".getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16).toDouble / 0xffffffffL.toDouble - 0.5
    }
    val base = (0 until 150).map(i => (i.toLong, vec(i)))
    val planted = (0 until 50).map(i => (1000L + i, vec(i).map(_ * 1.01)))
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val out = Similarity
      .semanticDedup(df, "vec_id", "embedding", threshold = 0.99)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    // every planted copy: dup of exactly its source (same direction ⇒
    // same argmax cell as the source, cos ≈ 1)
    (0 until 50).foreach { i =>
      val (dupOf, kept) = out(1000L + i)
      withClue(s"planted copy of $i: ") {
        kept shouldBe false
        dupOf shouldBe i.toLong
      }
    }
    // originals and unplanted vectors survive (hash-random 64-dim
    // vectors never reach cos 0.99 by chance)
    (0 until 150).foreach { i =>
      withClue(s"original $i: ") { out(i.toLong)._2 shouldBe true }
    }
  }

  test("semanticDedupPrefiltered == semanticDedup with planted BOUNDARY near-dups") {
    // recall-safety A/B at the threshold edge: pairs planted at cosine
    // just above and just below tau must land on the same side of the
    // decision under both paths — the prefilter may only prune pairs
    // the exact verify would reject anyway
    val tau = 0.92
    def vec(tag: String, i: Int): Array[Double] = Array.tabulate(64) { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$tag$i:$d".getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16).toDouble / 0xffffffffL.toDouble - 0.5
    }
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    // v2 = c*unit(v1) + sqrt(1-c^2)*unit(u_perp): cos(v1, v2) = c exactly
    // (up to double rounding, well inside the 4 dp decision rounding)
    def planted(i: Int, c: Double): Array[Double] = {
      val v1 = unit(vec("bnd", i))
      val w = vec("prp", i)
      val proj = v1.zip(w).map { case (a, b) => a * b }.sum
      val u = unit(w.zipWithIndex.map { case (x, d) => x - proj * v1(d) })
      val s = math.sqrt(1.0 - c * c)
      v1.zipWithIndex.map { case (x, d) => c * x + s * u(d) }
    }
    val base = (0 until 120).map(i => (i.toLong, vec("bnd", i)))
    val above = (0 until 20).map(i => (2000L + i, planted(i, tau + 0.0004)))
    val below = (20 until 40).map(i => (3000L + i, planted(i, tau - 0.0004)))
    val df = (base ++ above ++ below).toDF("vec_id", "embedding")
    val exact = Similarity
      .semanticDedup(df, "vec_id", "embedding", threshold = tau, numCells = 0)
      .collect().map(_.toSeq).toSet
    val pre = Similarity
      .semanticDedupPrefiltered(df, "vec_id", "embedding", threshold = tau,
        numCells = 0)
      .collect().map(_.toSeq).toSet
    pre shouldBe exact
    // the planted-above pairs actually exercised the keep rule (same
    // direction => same cell as the source for the dominant component)
    val dupped = exact.filter(r => !r(4).asInstanceOf[Boolean])
    withClue("boundary-above pairs must produce dups: ") {
      dupped.count(r => r.head.asInstanceOf[Long] >= 2000L) should be >= 15
    }
    // below 0.8 the prefilter is refused (the Hamming bands overlap)
    an[IllegalArgumentException] should be thrownBy
      Similarity.semanticDedupPrefiltered(
        df, "vec_id", "embedding", threshold = 0.4)
  }

  test("native cellArgmax equals the broadcast-join + max_by argmax formulation") {
    // bit-parity pin for the assignment fast path: same dot fold, same
    // Spark round, same (csim desc, cell asc) total order — including
    // the NaN row (zero vector: 0/0 cosine) and exact rounded ties
    import graft.functions.expressions.NativeExpressions
    def vec(i: Int): Array[Double] = Array.tabulate(16) { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"am$i:$d".getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16).toDouble / 0xffffffffL.toDouble - 0.5
    }
    val rows = (0 until 300).map(i => (i.toLong, vec(i)))
    val cents = (0 until 23).map { c =>
      val cv = vec(5000 + c)
      (c.toLong * 7L, cv, cv.map(x => x * x).sum) // non-contiguous labels
    }
    val vecs = rows.toDF("cid", "qv")
      .withColumn("qn2", NativeExpressions.dot(col("qv"), col("qv")))
    val centDf = cents.toDF("cell", "cv", "cn2")
    val joined = vecs
      .join(broadcast(centDf))
      .withColumn("csim", round(
        NativeExpressions.dot(col("qv"), col("cv")) /
          sqrt(col("qn2") * col("cn2")), 4))
      .groupBy("cid")
      .agg(max_by(col("cell"), struct(col("csim"), -col("cell"))).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = vecs
      .withColumn("cell", NativeExpressions.cellArgmax(
        col("qv"), col("qn2"),
        cents.map(_._1), cents.map(_._2.toSeq), cents.map(_._3)))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("cell")).toMap
    native shouldBe joined
    // zero vector: the join formulation CRASHES under ANSI (0/0 double
    // division errors in Spark 4); the native path is strictly more
    // lenient — all-NaN similarities tie, Spark's total order puts NaN
    // above every number, tie-break picks the LOWEST cell label
    val zeroRow = Seq((999L, Array.fill(16)(0.0))).toDF("cid", "qv")
      .withColumn("qn2", NativeExpressions.dot(col("qv"), col("qv")))
      .withColumn("cell", NativeExpressions.cellArgmax(
        col("qv"), col("qn2"),
        cents.map(_._1), cents.map(_._2.toSeq), cents.map(_._3)))
      .collect()
    zeroRow.head.getAs[Long]("cell") shouldBe cents.map(_._1).min
    // null input: null-in → null-out via nullSafeEval — the DOCUMENTED
    // divergence from the join formulation (whose null-csim struct falls
    // through max_by to the -cell tie-break); all production callers
    // feed non-null vectors, so this pin is the intended semantics, not
    // parity
    val nullRows = Seq(
      (998L, Some(vec(998)), None: Option[Double]), // null n2
      (997L, None: Option[Array[Double]], Some(1.0)) // null vector
    ).toDF("cid", "qv", "qn2")
      .withColumn("cell", NativeExpressions.cellArgmax(
        col("qv"), col("qn2"),
        cents.map(_._1), cents.map(_._2.toSeq), cents.map(_._3)))
      .collect()
    all(nullRows.map(r => r.isNullAt(r.fieldIndex("cell")))) shouldBe true
  }

  test("property: commonPrefixChars equals the code-point reference, incl. multi-byte boundaries") {
    import graft.functions.expressions.NativeExpressions
    // reference: count equal leading CODE POINTS (what Spark's
    // substring/length count — not UTF-16 units, not bytes)
    def ref(a: String, b: String): Long = {
      val xa = a.codePoints().toArray
      val xb = b.codePoints().toArray
      xa.zip(xb).takeWhile { case (x, y) => x == y }.length.toLong
    }
    val cases = Seq(
      ("", ""), ("", "a"), ("abc", "abc"), ("abcdef", "abcxyz"),
      ("the quick brown fox", "the quick brown fax"),
      // 2-byte chars: é = C3A9, è = C3A8 share their FIRST byte — the
      // straddling char must not count
      ("aé", "aè"), ("éé", "éè"), ("é", "é"),
      // 3-byte CJK and 4-byte supplementary (UTF-16 surrogate pairs:
      // the code-point count differs from String#length here)
      ("中文文本", "中文文字"), ("a😀b", "a😀c"), ("😀😁", "😀😂"),
      ("mix中é😀end", "mix中é😀fin"))
    val df = cases.toDF("a", "b")
      .withColumn("l", NativeExpressions.commonPrefixChars(col("a"), col("b")))
    df.collect().foreach { r =>
      withClue(s"(${r.getString(0)}, ${r.getString(1)}): ") {
        r.getLong(2) shouldBe ref(r.getString(0), r.getString(1))
      }
    }
    // random property sweep over a small alphabet (forces long shared
    // prefixes) with multi-byte letters mixed in
    val alpha = Array("a", "b", "é", "中", "😀")
    val gen = Gen.listOfN(2, Gen.listOf(Gen.oneOf(alpha.toSeq)).map(_.mkString))
    val rows = (1 to 200).map { s2 =>
      val Seq(a, b) = sample(gen, s2.toLong): @unchecked
      (a, b)
    }
    val out = rows.toDF("a", "b")
      .withColumn("l", NativeExpressions.commonPrefixChars(col("a"), col("b")))
      .collect()
    out.foreach(r => r.getLong(2) shouldBe ref(r.getString(0), r.getString(1)))
  }

  test("autoCellCount: sqrt rule with floor 16; numCells=0 equals the explicit sqrt call") {
    // the sizing rule the 100-TB claim rests on: fixed cells make the
    // within-cell verify quadratic; sqrt(N) balances assignment and
    // verify at N^1.5
    Similarity.autoCellCount(0L) shouldBe 16
    Similarity.autoCellCount(200L) shouldBe 16 // floor
    Similarity.autoCellCount(1000000L) shouldBe 1000
    Similarity.autoCellCount(2000000L) shouldBe 1415 // ceil
    def vec(i: Int): Array[Double] = Array.tabulate(64) { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ac$i:$d".getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16).toDouble / 0xffffffffL.toDouble - 0.5
    }
    // 400 rows -> auto = ceil(sqrt(400)) = 20 cells, above the floor —
    // the auto call must equal the explicit call at that count
    val df = (0 until 400).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val auto = Similarity
      .semanticDedup(df, "vec_id", "embedding", threshold = 0.9, numCells = 0)
      .collect().map(_.toSeq).toSet
    val explicit = Similarity
      .semanticDedup(df, "vec_id", "embedding", threshold = 0.9, numCells = 20)
      .collect().map(_.toSeq).toSet
    auto shouldBe explicit
  }

  test("property: repetition/gopher basis points stay in range on random text") {
    import graft.functions.Quality
    (1L to 6L).foreach { seed =>
      val docs = sample(Gen.listOfN(30, textGen), seed)
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = docs.toDF("doc_id", "text")
      val rep = Quality.repetitionProfile(df, "doc_id", "text").collect()
      rep.length shouldBe docs.length
      rep.foreach { r =>
        val id = r.getAs[Long]("doc_id")
        withClue(s"seed=$seed doc=$id: ") {
          // shares of a whole are bounded; the bigram CHAR share may pass
          // 10000 only through overlapping occurrences
          r.getAs[Long]("dup_word_bp") should (be >= 0L and be <= 10000L)
          r.getAs[Long]("top_word_bp") should (be >= 0L and be <= 10000L)
          r.getAs[Long]("dup_5gram_bp") should (be >= 0L and be <= 10000L)
          r.getAs[Long]("top_bigram_char_bp") should be >= 0L
          // a doc with any token has a non-empty top word
          if (r.getAs[Long]("n_tokens") > 0L)
            r.getAs[String]("top_word") should not be empty
        }
      }
      val gq = Quality.gopherQuality(df, "doc_id", "text").collect()
      gq.foreach { r =>
        withClue(s"seed=$seed doc=${r.getAs[Long]("doc_id")}: ") {
          r.getAs[Long]("alpha_bp") should (be >= 0L and be <= 10000L)
          r.getAs[Boolean]("passes") shouldBe (
            r.getAs[Boolean]("ok_words") && r.getAs[Boolean]("ok_word_len") &&
              r.getAs[Boolean]("ok_alpha") && r.getAs[Boolean]("ok_stop"))
        }
      }
    }
  }

  /** Write a planted documents table as a scale-factor dir the catalog
    * queries can read (they take `(spark, sfDir)` and scan
    * `documents.parquet` lazily).
    */
  private def plantedDocsDir(rows: Seq[(Long, String, String)]): String = {
    val dir = tmpDir("planted_sf")
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", expr("length(text)").cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q_dsir_weight ranks target-like pool docs above off-domain ones") {
    // target domain (source=src0) speaks vocabulary T; pool doc 10
    // reuses T verbatim, pool doc 11 is disjoint vocabulary. The DSIR
    // importance weight (sum of hashed-ngram log-likelihood ratios)
    // must separate them, and n_feats must be unigrams + bigrams.
    val target = "alpha beta gamma delta alpha beta"
    val dir = plantedDocsDir(Seq(
      (1L, target, "src0"),
      (2L, target, "src0"),
      (3L, "alpha beta gamma delta", "src0"),
      (10L, "alpha beta gamma delta", "poolA"),
      (11L, "zeta eta theta iota", "poolB"),
      (12L, "zeta eta theta iota", "poolB")))
    val q = Queries.all.find(_.name == "q_dsir_weight").get
    val out = q.spark(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_feats"), r.getAs[Long]("dsir_bits"))).toMap
    out.keySet shouldBe Set(10L, 11L, 12L) // target docs are not scored
    out(10L)._1 shouldBe 7L // 4 unigrams + 3 bigrams
    out(11L)._1 shouldBe 7L
    // same feature count, so the bit-sums are directly comparable
    out(10L)._2 should be > out(11L)._2
    out(11L) shouldBe out(12L) // deterministic: identical text, same score
  }

  test("dsirSelect: histogram budget selection — full buckets, greedy boundary bucket") {
    // 3 target docs (src0) + 3 identical target-vocab pool docs (one
    // score bucket, 4 tokens each) + 2 identical off-domain pool docs
    // (a lower score bucket). Budgets chosen to exercise every branch.
    val hi = "alpha beta gamma delta"
    val lo = "zeta eta theta iota"
    val dir = plantedDocsDir(Seq(
      (1L, hi, "src0"), (2L, hi, "src0"), (3L, hi, "src0"),
      (10L, hi, "poolA"), (11L, hi, "poolA"), (12L, hi, "poolA"),
      (20L, lo, "poolB"), (21L, lo, "poolB")))
    def sel(budget: Long): Map[Long, Boolean] =
      Queries.dsirSelect(spark, dir, budget).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("at_boundary")).toMap
    // budget 10 < the 12 tokens of the high bucket: it straddles, greedy
    // by doc_id keeps 10 (cum 4) and 11 (cum 8); 12 would overflow
    sel(10L) shouldBe Map(10L -> true, 11L -> true)
    // budget 17: high bucket (12) fully inside; low bucket straddles —
    // doc 20 fits (12+4=16), doc 21 would overflow (20)
    sel(17L) shouldBe Map(10L -> false, 11L -> false, 12L -> false, 20L -> true)
    // budget large: everything selected, no boundary
    sel(1000L) shouldBe Map(10L -> false, 11L -> false, 12L -> false,
      20L -> false, 21L -> false)
  }

  test("property: BPE delta trainer equals naive trainer on random small-alphabet corpora") {
    // small alphabets maximize pair collisions, overlapping runs
    // ("aaaa"), ties, and counts that dip to zero and re-appear — the
    // cases where incremental ±delta maintenance goes wrong first
    import graft.functions.Bpe
    val wordGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val docGen = Gen.choose(1, 12).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    (1L to 6L).foreach { seed =>
      val texts = sample(Gen.listOfN(4, docGen), seed)
      val w = Bpe.wordTable(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
        "text")
      withClue(s"seed=$seed corpus=$texts: ") {
        Bpe.trainDelta(w, 6) shouldBe Bpe.trainNaive(w, 6)
      }
    }
  }

  test("property: shard manifest invariants hold on random sizes and epochs") {
    import graft.operators.Sharding
    (1L to 4L).foreach { seed =>
      val (n, shards, epoch) = sample(
        Gen.zip(Gen.choose(1, 400), Gen.choose(1, 9), Gen.choose(0, 3)), seed)
      val m = Sharding.shardManifest(
        spark.range(n).select(col("id").as("doc_id")), "doc_id",
        numShards = shards, epoch = epoch).cache()
      withClue(s"seed=$seed n=$n shards=$shards epoch=$epoch: ") {
        m.count() shouldBe n.toLong                       // every doc exactly once
        m.select("doc_id").distinct().count() shouldBe n.toLong
        m.agg(max("shard")).collect()(0).getLong(0) should be < shards.toLong
        // positions contiguous 1..size within every shard
        m.groupBy("shard")
          .agg(count(lit(1)).as("n"), min("pos").as("lo"),
            max("pos").as("hi"), countDistinct("pos").as("nd"))
          .filter(!(col("lo") === 1L && col("hi") === col("n") && col("nd") === col("n")))
          .count() shouldBe 0L
      }
      m.unpersist()
    }
  }

  test("property: dense λ equals sparse λ on trained buckets; unseen buckets get the smoothed zero-count value") {
    import graft.functions.Dsir
    val B = 32
    (1L to 4L).foreach { seed =>
      val texts = sample(Gen.listOfN(6, textGen), seed)
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, i % 2 == 0) }
        .toDF("doc_id", "text", "tgt")
      val feats  = Dsir.features(docs, "doc_id", "text", carry = Seq("tgt"), buckets = B)
      val sparse = Dsir.lambdaTable(feats, B, dense = false).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dense  = Dsir.lambdaTable(feats, B, dense = true).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"seed=$seed: ") {
        dense.size shouldBe B
        sparse.foreach { case (bkt, lam) => dense(bkt) shouldBe lam }
        // every unseen bucket carries the identical smoothed value:
        // bitlen(1) - bitlen(nt+B) - (bitlen(1) - bitlen(nr+B))
        val unseen = dense.keySet -- sparse.keySet
        unseen.map(dense).toSet.size should be <= 1
      }
    }
  }

  test("property: one-scan trainAndScore == two-pass lambdaTable+scoreFeatures") {
    import graft.functions.Dsir
    val B = 32
    (1L to 4L).foreach { seed =>
      val texts = sample(Gen.listOfN(8, textGen), seed)
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, i % 3 == 0) }
        .toDF("doc_id", "text", "tgt")
      val feats = Dsir.features(docs, "doc_id", "text", carry = Seq("tgt"), buckets = B)
      val twoPass = Dsir
        .scoreFeatures(feats.filter(!col("tgt")), Dsir.lambdaTable(feats, B), "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val oneScan = Dsir.trainAndScore(feats, "doc_id", B)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      withClue(s"seed=$seed: ") { oneScan shouldBe twoPass }
    }
  }

  test("q_bpe_pairs counts freq-weighted adjacent char pairs over the vocab") {
    // words: "abab"x3 -> per word 2x'ab', 1x'ba'; "abc"x2 -> 'ab','bc';
    // "xy"x1. Totals: ab=8, ba=3, bc=2, xy=1 -> 'ab' is the first merge.
    val dir = plantedDocsDir(Seq(
      (1L, "abab abab abc xy", "s"),
      (2L, "abab abc", "s")))
    val q = Queries.all.find(_.name == "q_bpe_pairs").get
    val rows = q.spark(spark, dir).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("n")))
    rows.head shouldBe ("ab", 8L)
    rows.toMap shouldBe Map("ab" -> 8L, "ba" -> 3L, "bc" -> 2L, "xy" -> 1L)
    // deterministic total order: count desc, then pair asc
    rows shouldBe rows.sortBy { case (p, n) => (-n, p) }
  }

  test("q_bpe_train reproduces the textbook merge sequence (Sennrich vocab)") {
    // the classic {low:5, lower:2, newest:6, widest:3} example; expected
    // merges computed by hand with the (count desc, pair asc) tie-break:
    //  1 e+s (9)  2 es+t (9)  3 l+o (7)  4 lo+w (7)
    //  5 e+w (6)  6 ew+est (6)  7 n+ewest (6)  8 d+est (3)
    val txt = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val dir = plantedDocsDir(Seq((1L, txt, "s")))
    val q = Queries.all.find(_.name == "q_bpe_train").get
    val rows = q.spark(spark, dir).collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[String]("pair"), r.getAs[Long]("n")))
      .sortBy(_._1)
    rows shouldBe Seq(
      (1, "e s", 9L), (2, "es t", 9L), (3, "l o", 7L), (4, "lo w", 7L),
      (5, "e w", 6L), (6, "ew est", 6L), (7, "n ewest", 6L), (8, "d est", 3L))
  }

  test("q_bpe_train: greedy overlap semantics and early termination") {
    // "aaaa": round 1 merges a+a greedily left-to-right into [aa][aa]
    // (3 overlapping occurrences -> 2 disjoint merges applied, count
    // still reports 3); round 2 merges aa+aa; then the vocabulary is a
    // single symbol and the loop stops before BpeMerges rounds.
    val dir = plantedDocsDir(Seq((1L, "aaaa", "s")))
    val q = Queries.all.find(_.name == "q_bpe_train").get
    val rows = q.spark(spark, dir).collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[String]("pair"), r.getAs[Long]("n")))
      .sortBy(_._1)
    rows shouldBe Seq((1, "a a", 3L), (2, "aa aa", 1L))
  }
}

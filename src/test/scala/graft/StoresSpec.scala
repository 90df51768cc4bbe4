package graft

import org.apache.spark.sql.functions._

import graft.functions.{Curation, Stores}

/** Atomic store publication (functions/Stores.scala): readers racing an
  * ingest — the offline decontamination probe running while a streaming
  * batch lands or replays — must see each batch directory either
  * complete or not yet published, NEVER partial, and a committed batch
  * must never be rewritten. These specs drive the interleavings
  * deterministically by probing from inside the writer's own publish
  * closure (the moment a delete-then-write overwrite would expose a
  * half-written directory).
  */
class StoresSpec extends SparkSpec {
  import spark.implicits._

  private val phrases = Seq("alpha", "beta gamma")

  private def probe(dir: String): Set[Seq[Any]] =
    Curation.phraseMatchesStore(spark, dir, phrases)
      .collect().map(_.toSeq).toSet

  private def publishBatch(dir: String, batch: Long,
      docs: org.apache.spark.sql.DataFrame): Boolean =
    Stores.publishOnce(spark, s"$dir/batch=$batch")(
      Curation.writePostingsRaw(Curation.phrasePostings(docs, "doc_id", "text"), _))

  private def b0 = Seq(
    (1L, "alpha beta gamma end"),
    (2L, "alpha alpha nothing")).toDF("doc_id", "text")
  private def b1 = Seq(
    (3L, "beta gamma beta gamma"),
    (4L, "alpha beta words")).toDF("doc_id", "text")

  test("a probe interleaved with a batch publication sees old or new, never partial") {
    val dir = tmpDir("graft_store_atomic")
    publishBatch(dir, 0, b0) shouldBe true
    val before = probe(dir)
    before should not be empty
    // batch 1 lands: probe MID-WRITE, after half its postings are
    // already on disk in the temp sibling — the exact moment the old
    // delete-then-write overwrite exposed a partial directory
    var midWrite: Set[Seq[Any]] = null
    Stores.publishOnce(spark, s"$dir/batch=1") { tmp =>
      Curation.writePostingsRaw(
        Curation.phrasePostings(b1.filter($"doc_id" === 3L), "doc_id", "text"),
        tmp)
      midWrite = probe(dir) // the racing reader
      Curation.writePostingsRaw(
        Curation.phrasePostings(b1, "doc_id", "text"),
        tmp)
    } shouldBe true
    midWrite shouldBe before // old state exactly — the half batch is invisible
    val after = probe(dir)
    after should not be before // the rename made the new batch visible
    // and "new" is the full two-batch answer, equal to one in-plan pass
    after shouldBe Curation.phraseMatches(
      b0.unionByName(b1), "doc_id", "text", phrases)
      .collect().map(_.toSeq).toSet
  }

  test("a replayed batch is a no-op: the committed directory is never rewritten") {
    val dir = tmpDir("graft_store_replay")
    publishBatch(dir, 0, b0) shouldBe true
    val before = probe(dir)
    var invoked = false
    Stores.publishOnce(spark, s"$dir/batch=0") { _ =>
      invoked = true
    } shouldBe false
    invoked shouldBe false // the write closure never even runs
    probe(dir) shouldBe before
  }

  test("a crashed attempt leaves the store unchanged; the retry publishes cleanly") {
    val dir = tmpDir("graft_store_crash")
    publishBatch(dir, 0, b0) shouldBe true
    val before = probe(dir)
    val boom = intercept[RuntimeException] {
      Stores.publishOnce(spark, s"$dir/batch=1") { tmp =>
        Curation.writePostingsRaw(
          Curation.phrasePostings(b1.filter($"doc_id" === 3L), "doc_id", "text"),
          tmp)
        throw new RuntimeException("simulated writer crash")
      }
    }
    boom.getMessage should include("crash")
    probe(dir) shouldBe before // the orphaned temp sibling is invisible
    publishBatch(dir, 1, b1) shouldBe true // retry overwrites the stale temp
    probe(dir) shouldBe Curation.phraseMatches(
      b0.unionByName(b1), "doc_id", "text", phrases)
      .collect().map(_.toSeq).toSet
  }

  test("compactPostingStore: probe answers unchanged, files collapse, ingest resumes above the kept id") {
    val dir = tmpDir("graft_store_compact") + "/postings"
    val batches = (0 until 6).map { b =>
      (0 until 4).map(i =>
        ((b * 4 + i).toLong, s"alpha beta gamma doc$b word$i"))
        .toDF("doc_id", "text")
    }
    batches.zipWithIndex.foreach { case (docs, b) =>
      publishBatch(dir, b.toLong, docs) shouldBe true
    }
    val before = probe(dir)
    val (kept, filesBefore, filesAfter) =
      Curation.compactPostingStore(spark, dir)
    kept shouldBe 5L // the highest committed batch id survives
    filesAfter should be < filesBefore // O(batches*buckets) -> O(buckets)
    probe(dir) shouldBe before // identical answers from the compacted layer
    // a resumed ingest appends ABOVE the kept id and is immediately visible
    publishBatch(dir, 6L,
      Seq((100L, "beta gamma beta gamma")).toDF("doc_id", "text")) shouldBe true
    probe(dir) shouldBe Curation.phraseMatches(
      batches.reduce(_ unionByName _)
        .unionByName(Seq((100L, "beta gamma beta gamma")).toDF("doc_id", "text")),
      "doc_id", "text", phrases)
      .collect().map(_.toSeq).toSet
    // missing and empty stores are graceful no-ops
    Curation.compactPostingStore(spark, tmpDir("graft_absent") + "/nope")._1 shouldBe -1L
  }

  test("compactBm25Store: search bit-identical, files collapse, ingest resumes above the kept id") {
    val dir = tmpDir("graft_bm25_compact") + "/bm25"
    val batches = (0 until 6).map { b =>
      (0 until 4).map(i =>
        ((b * 4 + i).toLong, s"spark dup window doc$b word$i"))
        .toDF("doc_id", "text")
    }
    batches.zipWithIndex.foreach { case (docs, b) =>
      Curation.writeBm25Batch(
        Curation.bm25Index(docs, "doc_id", "text"), dir, b.toLong)
    }
    val corpus = batches.reduce(_ unionByName _)
    val terms = Seq("dup", "spark", "doc2")
    def results() =
      Curation.bm25Search(corpus, Curation.readBm25Store(spark, dir),
        "doc_id", "text", terms, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = results()
    val (kept, filesBefore, filesAfter) = Curation.compactBm25Store(spark, dir)
    kept shouldBe 5L // the highest committed batch id survives
    filesAfter should be < filesBefore // O(batches) layers -> one
    results() shouldBe before // serving fold bit-identical post-compaction
    // the compacted store is ONE committed layer (df + tot, one file each)
    filesAfter shouldBe 2L
    // a resumed ingest appends ABOVE the kept id (publishOnce accepts id 6)
    Curation.writeBm25Batch(
      Curation.bm25Index(Seq((100L, "dup dup dup spark"))
        .toDF("doc_id", "text"), "doc_id", "text"), dir, 6L)
    val grown = corpus.unionByName(
      Seq((100L, "dup dup dup spark")).toDF("doc_id", "text"))
    Curation.bm25Search(grown, Curation.readBm25Store(spark, dir),
      "doc_id", "text", terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe
      Curation.bm25Search(grown,
        Curation.bm25Index(grown, "doc_id", "text"),
        "doc_id", "text", terms, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // missing and empty stores are graceful no-ops
    Curation.compactBm25Store(spark, tmpDir("graft_absent") + "/no_bm25")._1 shouldBe -1L
  }

  test("committedDataFiles skips crashed temp siblings (their contents hold real batch= paths)") {
    val dir = tmpDir("graft_count_tmp") + "/store"
    Curation.writeBm25Batch(
      Curation.bm25Index(Seq((1L, "alpha beta")).toDF("doc_id", "text"),
        "doc_id", "text"), dir, 0L)
    val committed = Stores.committedDataFiles(spark, dir)
    committed should be > 0L
    // simulate a crashed publishReplace attempt: a hidden temp sibling
    // holding a full batch= subtree with parquet files inside
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sessionState.newHadoopConf())
    Seq((2L, "gamma delta")).toDF("doc_id", "text")
      .write.parquet(s"$dir/_tmp_crashed/batch=9/df")
    fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/_tmp_crashed/batch=9/df")) shouldBe true
    // the workspace files must not inflate the store's accounting
    Stores.committedDataFiles(spark, dir) shouldBe committed
  }

  test("compactDedupIndex: classifications unchanged, files collapse, ingest resumes above the kept id") {
    import graft.functions.Dedup
    val state = tmpDir("graft_dedup_compact")
    def publishIndexBatch(b: Long, docs: org.apache.spark.sql.DataFrame): Unit = {
      Stores.publishOnce(spark, s"$state/fp/batch=$b")(
        Dedup.fingerprintTable(docs, "doc_id", "text")
          .withColumnRenamed("doc_id", "cid")
          .write.mode("overwrite").parquet(_)) shouldBe true
      Stores.publishOnce(spark, s"$state/bands/batch=$b")(
        Dedup.bandTable(docs, "doc_id", "text", 16, 4)
          .withColumnRenamed("doc_id", "cid")
          .write.mode("overwrite").parquet(_)) shouldBe true
    }
    val corpusBatches = (0 until 5).map { b =>
      Seq((b * 2L, s"alpha beta doc$b one"), (b * 2 + 1L, s"unique tokens w$b v$b"))
        .toDF("doc_id", "text")
    }
    corpusBatches.zipWithIndex.foreach { case (docs, b) => publishIndexBatch(b.toLong, docs) }
    // what the NEXT trigger would classify against: an exact copy of doc 0's
    // token bag, a novel doc, and a copy of doc 9's
    val probeBatch = Seq(
      (100L, "one beta doc0 alpha"), (101L, "never seen before anywhere"),
      (102L, "v4 w4 tokens unique")).toDF("doc_id", "text")
    def classify(): Map[Long, (String, Long)] = {
      val fp = spark.read.parquet(s"$state/fp").select(col("cid"), col("fp"))
      val bands = spark.read.parquet(s"$state/bands")
        .select(col("cid"), col("band"), col("bkey"))
      Dedup.incrementalDedupAgainst(probeBatch, fp, bands, "doc_id", "text", 16, 4)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    }
    val before = classify()
    before(100L) shouldBe (("exact", 0L))
    before(101L)._1 shouldBe "new"
    before(102L) shouldBe (("exact", 9L))

    val rep = Dedup.compactDedupIndex(spark, state)
    rep("fp")._1 shouldBe 4L    // the highest committed batch id survives
    rep("bands")._1 shouldBe 4L
    rep("fp")._3 should be < rep("fp")._2       // O(batches) dirs -> one layer
    rep("bands")._3 should be < rep("bands")._2
    classify() shouldBe before  // identical classification from the kept layer

    // compaction is idempotent
    Dedup.compactDedupIndex(spark, state)
    classify() shouldBe before

    // a resumed ingest appends ABOVE the kept id and is immediately corpus
    publishIndexBatch(5L, Seq((200L, "post compaction corpus doc")).toDF("doc_id", "text"))
    val after = Dedup.incrementalDedupAgainst(
      Seq((300L, "doc corpus compaction post")).toDF("doc_id", "text"),
      spark.read.parquet(s"$state/fp").select(col("cid"), col("fp")),
      spark.read.parquet(s"$state/bands").select(col("cid"), col("band"), col("bkey")),
      "doc_id", "text", 16, 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    after(300L) shouldBe (("exact", 200L))

    // missing stores are graceful no-ops
    Dedup.compactDedupIndex(spark, tmpDir("graft_absent2") + "/nope")
      .values.map(_._1).toSet shouldBe Set(-1L)
  }

  test("publishReplace: a probe during a one-shot index REBUILD sees the old snapshot until the swap") {
    val root = tmpDir("graft_store_rebuild")
    val dir = s"$root/postings"
    Curation.writePhrasePostings(
      Curation.phrasePostings(b0, "doc_id", "text"), dir)
    val v1 = probe(dir)
    v1 should not be empty
    var midRebuild: Set[Seq[Any]] = null
    Stores.publishReplace(spark, dir) { tmp =>
      Curation.writePostingsRaw(
        Curation.phrasePostings(b1, "doc_id", "text"), Stores.batchDir(tmp, -1))
      midRebuild = probe(dir) // reader racing the rebuild
    }
    midRebuild shouldBe v1 // old snapshot served throughout the write
    probe(dir) shouldBe Curation.phraseMatches(
      b1, "doc_id", "text", phrases).collect().map(_.toSeq).toSet

    // BM25: df and tot of one build are one layer under one swap, so a
    // search racing the rebuild scores with the old index until the
    // swap — never the new df with the old tot
    val bm25 = s"$root/bm25"
    val corpus = b0.unionByName(b1)
    val terms = Seq("alpha", "beta", "gamma")
    def search() = Curation.bm25Search(corpus, Curation.readBm25Store(spark, bm25),
        "doc_id", "text", terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def scores(ix: Curation.Bm25Index) =
      Curation.bm25Search(corpus, ix, "doc_id", "text", terms, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val first = Curation.bm25Index(b0, "doc_id", "text")
    val rebuilt = Curation.bm25Index(corpus, "doc_id", "text")
    Curation.writeBm25Index(first, bm25)
    val old = search()
    old shouldBe scores(first)
    // a torn read would be visible: new df with old tot scores otherwise
    scores(Curation.Bm25Index(rebuilt.df, first.tot)) should not be old
    val mid = scala.collection.mutable.Buffer.empty[Seq[(Long, Long)]]
    Stores.publishReplace(spark, bm25) { tmp =>
      val layer = Stores.batchDir(tmp, -1)
      rebuilt.df.write.parquet(s"$layer/df")
      mid += search() // the new df is on disk, its tot is not
      rebuilt.tot.write.parquet(s"$layer/tot")
      mid += search() // the new layer is whole but not yet swapped in
    }
    mid shouldBe Seq(old, old)
    val fresh = search()
    fresh shouldBe scores(rebuilt)
    fresh should not be old
    // writeBm25Index commits the same way: a second rebuild
    // replaces the layer, it does not add a second one
    Curation.writeBm25Index(rebuilt, bm25)
    Stores.batchIds(spark, bm25) shouldBe Seq(-1L)
    search() shouldBe fresh
  }

  test("keepLatestBatches rejects keepLast < 1 and deletes nothing") {
    val dir = tmpDir("graft_keep") + "/reports"
    (0 until 3).foreach { b =>
      Stores.publishBatch(spark, dir, b.toLong)(
        Seq((b.toLong, 1L)).toDF("s", "n").write.parquet(_)) shouldBe true
    }
    Seq(0, -1).foreach { k =>
      withClue(s"keepLast = $k: ") {
        an[IllegalArgumentException] should be thrownBy
          Stores.keepLatestBatches(spark, dir, k)
        Stores.batchIds(spark, dir) shouldBe Seq(0L, 1L, 2L)
      }
    }
    Stores.keepLatestBatches(spark, dir, 1) shouldBe ((1L, 2L))
    Stores.batchIds(spark, dir) shouldBe Seq(2L)
  }

  test("compaction clears a crashed fold's temp first: no planted layer is counted twice") {
    val root = tmpDir("graft_bm25_stale")
    val dir = s"$root/bm25"
    val batches = (0 until 6).map { b =>
      (0 until 4).map(i => ((b * 4 + i).toLong, s"spark dup window doc$b word$i"))
        .toDF("doc_id", "text")
    }
    batches.zipWithIndex.foreach { case (docs, b) =>
      Curation.writeBm25Batch(Curation.bm25Index(docs, "doc_id", "text"), dir, b.toLong)
    }
    val corpus = batches.reduce(_ unionByName _)
    def results() =
      Curation.bm25Search(corpus, Curation.readBm25Store(spark, dir),
        "doc_id", "text", Seq("dup", "spark", "doc2"), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = results()
    // an earlier compaction killed mid-write (when batch 3 was the
    // highest id) left a full layer in the store's temp sibling
    val stale = Curation.bm25Index(batches.take(4).reduce(_ unionByName _), "doc_id", "text")
    val tmpLayer = Stores.batchDir(s"$root/_tmp_bm25", 3)
    stale.df.write.parquet(s"$tmpLayer/df")
    stale.tot.write.parquet(s"$tmpLayer/tot")
    val (kept, _, filesAfter) = Curation.compactBm25Store(spark, dir)
    kept shouldBe 5L
    results() shouldBe before
    filesAfter shouldBe 2L
  }

  test("one compaction contract for BM25, posting and dedup stores: missing, temp-only, populated") {
    import graft.functions.Dedup
    type Publish = (String, Long, org.apache.spark.sql.DataFrame) => Unit
    val bm25: Publish = (dir, b, docs) =>
      Curation.writeBm25Batch(Curation.bm25Index(docs, "doc_id", "text"), dir, b)
    val postings: Publish = (dir, b, docs) => publishBatch(dir, b, docs) shouldBe true
    def index(table: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Publish =
      (dir, b, docs) => Stores.publishBatch(spark, dir, b)(
        table(docs).withColumnRenamed("doc_id", "cid").write.parquet(_)) shouldBe true
    // (store, sub-directory, publish one batch, compact the store at root/sub)
    val cases: Seq[(String, String, Publish, String => (Long, Long, Long))] = Seq(
      ("bm25", "bm25", bm25, root => Curation.compactBm25Store(spark, s"$root/bm25")),
      ("postings", "postings", postings,
        root => Curation.compactPostingStore(spark, s"$root/postings")),
      ("dedup fp", "fp", index(Dedup.fingerprintTable(_, "doc_id", "text")),
        root => Dedup.compactDedupIndex(spark, root)("fp")),
      ("dedup bands", "bands", index(Dedup.bandTable(_, "doc_id", "text", 16, 4)),
        root => Dedup.compactDedupIndex(spark, root)("bands")))
    val ids = Seq(0L, 2L, 7L) // gaps: the kept id comes from the listing
    cases.foreach { case (name, sub, publish, compact) =>
      withClue(s"$name: ") {
        compact(tmpDir("graft_contract_missing")) shouldBe ((-1L, 0L, 0L))

        val tempOnly = tmpDir("graft_contract_tmp")
        Seq((1L, "crashed attempt")).toDF("doc_id", "text")
          .write.parquet(s"$tempOnly/$sub/_tmp_batch_0")
        val empty = spark.emptyDataFrame
        Stores.priorBatches(spark, s"$tempOnly/$sub", 1L, empty) should be theSameInstanceAs empty
        compact(tempOnly) shouldBe ((-1L, 0L, 0L))

        val root = tmpDir("graft_contract_full")
        val dir = s"$root/$sub"
        ids.foreach { b =>
          publish(dir, b, Seq((b * 2, s"alpha beta gamma doc$b"),
            (b * 2 + 1, s"beta gamma delta w$b")).toDF("doc_id", "text"))
        }
        val filesBefore = Stores.committedDataFiles(spark, dir)
        val (kept, before, after) = compact(root)
        kept shouldBe 7L
        before shouldBe filesBefore
        after shouldBe Stores.committedDataFiles(spark, dir)
        Stores.batchIds(spark, dir) shouldBe Seq(7L)
      }
    }
  }

  test("sweepStaleScratch reaps only sentinel-recorded, age-expired, unowned paths") {
    // simulates a CRASHED prior JVM: its shutdown hook never ran, so
    // both the nonce dir and its sentinel survive; this JVM's sweep
    // must reap exactly that — and must NEVER touch an unrecorded
    // sibling (the graft_sf* scaled-data dirs share the name prefix)
    val tmpRoot = System.getProperty("java.io.tmpdir")
    val sentinels = new java.io.File(tmpRoot, ".graft_scratch")
    sentinels.mkdirs()
    def mkDir(name: String): java.io.File = {
      val d = new java.io.File(tmpRoot, name)
      d.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(d, "part-0").toPath, "x".getBytes("UTF-8"))
      d
    }
    def mkSentinel(target: java.io.File, ageHours: Double): java.io.File = {
      val s = new java.io.File(sentinels,
        java.util.UUID.nameUUIDFromBytes(
          target.getPath.getBytes("UTF-8")).toString)
      java.nio.file.Files.write(s.toPath, target.getPath.getBytes("UTF-8"))
      s.setLastModified(
        System.currentTimeMillis() - (ageHours * 3600e3).toLong)
      s
    }
    val nonce8 = java.util.UUID.randomUUID().toString.take(8)
    val stale     = mkDir(s"graft_swp${nonce8}_stale")   // crashed run: reap
    val staleSent = mkSentinel(stale, ageHours = 7.0)
    val fresh     = mkDir(s"graft_swp${nonce8}_fresh")   // live run: keep
    val freshSent = mkSentinel(fresh, ageHours = 0.0)
    val data      = mkDir(s"graft_swp${nonce8}_sfdata")  // no sentinel: keep
    try {
      Stores.sweepStaleScratch(maxAgeHours = 6.0) should be >= 1
      stale.exists() shouldBe false
      staleSent.exists() shouldBe false
      fresh.exists() shouldBe true
      data.exists() shouldBe true
      new java.io.File(data, "part-0").exists() shouldBe true
    } finally {
      // hand the survivors to the normal exit sweep
      Stores.registerScratch(fresh.getPath)
      Stores.registerScratch(data.getPath)
      freshSent.delete()
    }
  }
}

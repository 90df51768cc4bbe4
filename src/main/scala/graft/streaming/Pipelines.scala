package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.Stores
import graft.operators.SteamOps

/** The reference's three streaming jobs, assembled from the pure
  * transforms in [[graft.operators.SteamOps]] (SURVEY.md §3).
  *
  * Each `*Branches` method takes the Kafka-shaped input frame and returns
  * the (cold, hot…) DataFrames ready for sink wiring — identical code
  * under streaming and batch input, which is the Kappa property the
  * reference claims (README.md:35-42) but cannot test.
  */
object Pipelines {

  /** reviews job (configmap:10-123): parse → [cold rows, 1-h windowed
    * sentiment agg (watermarked, C1), per-app lifetime bomb agg (C8)].
    * The reference declares a 10-minute watermark on the windowed agg
    * (configmap:69) — inert under complete mode, honored under
    * append/update.
    */
  def reviewBranches(kafkaShaped: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val parsed = SteamOps.parseReviews(kafkaShaped)
    (parsed, SteamOps.sentimentAgg(parsed.withWatermark("timestamp", "10 minutes")),
      SteamOps.reviewBombAgg(parsed))
  }

  /** charts job (configmap:129-206): parse → [cold rows, genre counts]. */
  def chartBranches(kafkaShaped: DataFrame): (DataFrame, DataFrame) = {
    val parsed = SteamOps.parseCharts(kafkaShaped)
    (parsed, SteamOps.genreCount(parsed))
  }

  /** players job (configmap:212-286): parse → [cold rows, 10-min windowed
    * max/avg (5-min watermark, configmap:260)].
    */
  def playerBranches(kafkaShaped: DataFrame): (DataFrame, DataFrame) = {
    val parsed = SteamOps.parsePlayers(kafkaShaped)
    (parsed, SteamOps.playerWindowAgg(parsed.withWatermark("timestamp", "5 minutes")))
  }

  /** Shared-scan multi-sink: ONE streaming query feeding the cold archive
    * and both hot aggregates from a single source read.
    *
    * The reference runs three independent `StreamingQuery`s over the same
    * topic — three consumer groups, three checkpoints, 3× the source I/O
    * (SURVEY.md §3.1 step 2, §4 "shared-scan avoidance: none"). Here each
    * micro-batch is read once, cached, and fanned out inside
    * `foreachBatch` — a single Kafka read and one checkpoint.
    *
    * Per-trigger work never re-reads the archive (the history):
    *  - cold: O(batch) — the batch lands in its own archive batch
    *    directory under [[Stores]]' per-batch contract (published
    *    once, atomically), so nothing is ever appended twice and a
    *    reader never sees a half-written batch (the built-in file
    *    sink's manifest does this for the single-sink case; inside
    *    foreachBatch we provide it).
    *  - hot: per-batch ADDITIVE partials
    *    ([[graft.operators.SteamOps.sentimentAggPartial]] /
    *    `reviewBombAggPartial`) merge into the stored tables via
    *    [[ParquetUpsertSink.upsertAdditive]] — O(batch + hot table):
    *    each merge reads the whole current table and writes it whole
    *    as the next snapshot, and a replayed batch is a no-op (batchId
    *    commit record).
    *    Read the user-facing shapes back with
    *    [[graft.operators.SteamOps.sentimentFromPartials]] /
    *    `reviewBombFromPartials`; equality with a from-scratch
    *    aggregation is spec-pinned.
    *
    * The three writes do not depend on each other, so they run
    * concurrently on driver threads ([[concurrently]]): a trigger waits
    * for the slowest write, not for the sum of all three. Each write keeps
    * its own exactly-once record (the published batch directory of the
    * archive and of each hot table), so when one write fails the others
    * still commit, the query fails with that write's error, and the
    * replayed batch re-applies only the write that did not land. The two hot
    * tables must be distinct sinks: each is written by one thread per
    * trigger (the single-writer assumption of [[ParquetUpsertSink]]).
    */
  def reviewsMultiSink(
      kafkaShaped: DataFrame,
      archiveDir: String,
      sentimentSink: ParquetUpsertSink,
      bombSink: ParquetUpsertSink,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(sentimentSink.root != bombSink.root,
      s"sentiment and bomb sinks share the root ${bombSink.root}")
    val parsed = SteamOps.parseReviews(kafkaShaped)
    parsed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try concurrently(batch.sparkSession)(
          () => Stores.publishBatch(batch.sparkSession, archiveDir, batchId)(
            batch.write.mode("overwrite").parquet(_)),
          () => sentimentSink.upsertAdditive(SteamOps.sentimentAggPartial(batch), batchId),
          () => bombSink.upsertAdditive(SteamOps.reviewBombAggPartial(batch), batchId))
        finally batch.unpersist()
        ()
      }
  }

  /** Daemon driver threads for [[concurrently]]; idle threads exit. */
  private lazy val sinkWriters: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, "graft-sink-writer")
      t.setDaemon(true)
      t
    }

  /** Run independent sink writes of one micro-batch concurrently, wait for
    * all of them, then rethrow the first failure (in argument order) as
    * thrown, with any later ones suppressed onto it.
    *
    * Each write runs under the caller's thread-local context
    * (`SQLExecution.withThreadLocalCaptured`, the idiom of Spark's own
    * broadcast and subquery threads): the streaming query's job group,
    * so `StreamingQuery.stop()` cancels the writes' jobs too, its job
    * description, and the active session.
    */
  private def concurrently(spark: SparkSession)(writes: (() => Any)*): Unit = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val pending = writes.map(w =>
      SQLExecution.withThreadLocalCaptured(session, sinkWriters)(w()))
    val failures = pending.flatMap { f =>
      try { f.join(); None }
      catch { case e: java.util.concurrent.CompletionException => Some(e.getCause) }
    }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  /** Streaming incremental dedup ingest: each micro-batch is classified
    * against the corpus-so-far via
    * [[graft.functions.Dedup.incrementalDedupAgainst]], decisions land in
    * `<stateDir>/decisions/batch=<id>`, and the ACCEPTED (`new`) docs'
    * fingerprint and MinHash-band index rows are appended to
    * `<stateDir>/fp` / `<stateDir>/bands` — so the next batch dedups
    * against them without ever re-reading corpus text.
    *
    * Per-trigger work is O(batch): the corpus contributes only its two
    * persisted index tables (join-pruned by the batch's keys), and every
    * store follows [[Stores]]' per-batch contract (publish once per id,
    * the corpus is the `batch < id` prior view, so a replayed batch is
    * a no-op). Batch-internal duplicates are intentionally
    * left to the NEXT batch's corpus view or an in-batch
    * [[graft.functions.Dedup.dropExactDuplicates]] pre-pass — keeping the
    * per-batch classification a pure function of (batch, corpus indexes).
    */
  def dedupIngest(
      docs: DataFrame,
      stateDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val id = "doc_id"
    val text = "text"
    import graft.functions.Dedup
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        batch.persist()
        try {
          val corpusFp = Stores.priorBatches(spark, s"$stateDir/fp", batchId,
            Dedup.fingerprintTable(batch.limit(0), id, text).withColumnRenamed(id, "cid"))
            .select(col("cid"), col("fp"))
          val corpusBands = Stores.priorBatches(spark, s"$stateDir/bands", batchId,
            Dedup.bandTable(batch.limit(0), id, text)
              .withColumnRenamed(id, "cid"))
            .select(col("cid"), col("band"), col("bkey"))
          val decisions = Dedup
            .incrementalDedupAgainst(batch, corpusFp, corpusBands, id, text)
            .persist()
          try {
            Stores.publishBatch(spark, s"$stateDir/decisions", batchId)(
              decisions.write.mode("overwrite").parquet(_))
            val accepted = batch.join(
              decisions.filter(col("dup_kind") === "new").select(id), Seq(id), "left_semi")
            Stores.publishBatch(spark, s"$stateDir/fp", batchId)(
              Dedup.fingerprintTable(accepted, id, text).withColumnRenamed(id, "cid")
                .write.mode("overwrite").parquet(_))
            Stores.publishBatch(spark, s"$stateDir/bands", batchId)(
              Dedup.bandTable(accepted, id, text).withColumnRenamed(id, "cid")
                .write.mode("overwrite").parquet(_))
          } finally decisions.unpersist()
        } finally batch.unpersist()
        ()
      }
  }

  /** Streaming EMBEDDING dedup ingest — the vector analog of
    * [[dedupIngest]]: each micro-batch classifies its vectors against
    * the SRP code index of everything accepted so far
    * ([[graft.functions.Similarity.embedDedupAgainst]]), writes
    * per-batch decisions, and appends only the 'new' vectors' code and
    * vector rows to the index. Same [[Stores]] per-batch contract as
    * the text ingest.
    *
    * Batch-internal near-duplicates are intentionally NOT detected: a
    * vector is only compared against index partitions with batch id <
    * current, so near-dup vectors arriving within the same micro-batch
    * are all classified 'new' and all enter the SRP index (same caveat
    * as [[dedupIngest]]). Where that matters, run an in-batch pre-pass
    * (e.g. exact dedup on a vector fingerprint, or
    * [[graft.functions.Similarity.nearDupBanded]] within the batch)
    * before the stream — keeping the per-batch classification a pure
    * function of (batch, corpus index) is what makes replay safe.
    */
  def embedDedupIngest(
      vecs: DataFrame,
      stateDir: String,
      checkpoint: String,
      dims: Int = 64,
      bitsPerBand: Int = 16,
      numBands: Int = 16): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val id = "vec_id"
    val vec = "embedding"
    val threshold = 0.9
    import graft.functions.Similarity
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        batch.persist()
        try {
          val (emptyVecs, emptyCodes) =
            Similarity.srpIndexTables(
              batch.limit(0), id, vec, dims, bitsPerBand, numBands)
          val corpusVecs = Stores.priorBatches(spark, s"$stateDir/vecs", batchId, emptyVecs)
            .select(col("cid"), col("v"), col("vn2"))
          val corpusCodes = Stores.priorBatches(spark, s"$stateDir/codes", batchId, emptyCodes)
            .select(col("cid"), col("band"), col("bcode"))
          val decisions = Similarity
            .embedDedupAgainst(batch, corpusVecs, corpusCodes,
              id, vec, dims, threshold, bitsPerBand, numBands)
            .persist()
          try {
            Stores.publishBatch(spark, s"$stateDir/decisions", batchId)(
              decisions.write.mode("overwrite").parquet(_))
            val accepted = batch.join(
              decisions.filter(col("dup_kind") === "new").select(id),
              Seq(id), "left_semi")
            val (aVecs, aCodes) = Similarity.srpIndexTables(
              accepted, id, vec, dims, bitsPerBand, numBands)
            Stores.publishBatch(spark, s"$stateDir/vecs", batchId)(
              aVecs.write.mode("overwrite").parquet(_))
            Stores.publishBatch(spark, s"$stateDir/codes", batchId)(
              aCodes.write.mode("overwrite").parquet(_))
          } finally decisions.unpersist()
        } finally batch.unpersist()
        ()
      }
  }

  /** Streaming DSIR-scoring ingest — the quality-weighting analog of
    * [[dedupIngest]]: each micro-batch is scored against a PERSISTED λ
    * table ([[graft.functions.Dsir.lambdaTable]] with `dense = true`,
    * trained offline on the target-vs-pool corpus and written to
    * `lambdaDir`), and the per-doc weights land in
    * `<stateDir>/scores/batch=<id>`.
    *
    * Semantics are the batch oracle's (`q_dsir_weight`): the same
    * hashed unigram+bigram features, the same broadcast-λ join, the
    * same exact integer bit-length weights — spec-pinned equal to
    * [[graft.functions.Dsir.scoreDocs]] over the union of all batches.
    * The dense λ requirement is what makes the persisted-model split
    * sound: a micro-batch may hash into buckets the training pool
    * never produced, which the dense table scores with the smoothed
    * zero-count λ instead of silently dropping.
    *
    * Per-trigger work is O(batch): λ is ≤ `buckets` rows (re-read per
    * batch so an offline retrain is picked up at the next trigger, and
    * broadcast into the join), and scoring is one map-side feature
    * explode + one doc-keyed aggregation. REPLAY SAFETY: scoring is a
    * pure function of (batch, λ), and the scores store follows
    * [[Stores]]' per-batch contract (a replay is a no-op).
    */
  def dsirScoreIngest(
      docs: DataFrame,
      lambdaDir: String,
      stateDir: String,
      checkpoint: String,
      buckets: Int = graft.functions.Dsir.DefaultBuckets)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val id = "doc_id"
    val text = "text"
    import graft.functions.Dsir
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val lam = spark.read.parquet(lambdaDir)
        Stores.publishBatch(spark, s"$stateDir/scores", batchId)(
          Dsir.scoreDocs(batch, lam, id, text, buckets)
            .write.mode("overwrite").parquet(_))
        ()
      }
  }

  /** Streaming NB classification ingest — the classifier analog of
    * [[dsirScoreIngest]]'s persisted-model split (the CCNet production
    * shape: a quality/domain classifier sits IN the ingest path and
    * labels every arriving document). The model is trained offline
    * ([[graft.functions.Curation.nbFit]] → `writeNbModel`); each
    * micro-batch is classified against it map-side (broadcast V·C
    * model, ×C fan-out, integer-exact argmax) and written to its own
    * `preds/batch=<id>` partition.
    *
    * REPLAY SAFETY: prediction is a pure function of (batch, model)
    * and the preds store follows [[Stores]]' per-batch contract, so a
    * replayed batch is a no-op. The model is re-read per trigger, so an
    * offline retrain is picked up at the next one — predictions never
    * mix two models within a batch.
    */
  def nbClassifyIngest(
      docs: DataFrame,
      modelDir: String,
      stateDir: String,
      checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val id = "doc_id"
    val text = "text"
    import graft.functions.Curation
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val model = Curation.readNbModel(spark, modelDir)
        Stores.publishBatch(spark, s"$stateDir/preds", batchId)(
          Curation.nbPredict(batch, model, id, text)
            .write.mode("overwrite").parquet(_))
        ()
      }
  }

  /** Streaming BM25 index maintenance — the retrieval-serving analog of
    * the other ingest pipelines: each micro-batch of NEW documents (the
    * accepted output of [[dedupIngest]] — a re-sent doc would
    * double-count, like any additive aggregate) publishes its df and
    * totals as one additive layer
    * ([[graft.functions.Curation.writeBm25Batch]]), and searches serve
    * from the layered store ([[Curation.readBm25Store]]) — by the sum
    * algebra of df/totals the served index equals the one built on all
    * batches' union bit-for-bit (spec-pinned). O(batch tokens) work per
    * trigger; a replayed batch is a no-op ([[Stores]]' per-batch
    * contract); empty batches publish nothing (an all-null totals layer
    * would poison the sum).
    */
  def bm25Ingest(
      docs: DataFrame,
      stateDir: String,
      checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val id = "doc_id"
    val text = "text"
    import graft.functions.Curation
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          batch.persist()
          try Curation.writeBm25Batch(
            Curation.bm25Index(batch, id, text), stateDir, batchId)
          finally batch.unpersist()
          ()
        }
      }
  }

  /** Streaming distribution-DRIFT monitor — the pipeline-health analog
    * of [[nbClassifyIngest]]'s persisted-model split: an offline
    * baseline histogram of an integer score
    * ([[writeBaselineHist]] over the corpus the filters were tuned on)
    * sits on disk, and each arriving micro-batch is histogrammed and
    * scored against it ([[graft.functions.Quality.scoreDrift]]'s
    * whole-bit log-ratios), producing a per-batch drift report at
    * `<stateDir>/drift/batch=<id>`: one row per occupied score bucket
    * `(s, n_base, n_cur, lam_bits)` — `sum(n_cur*lam_bits)` against the
    * batch size is the batch's KL-style drift in bits/doc, and a bucket
    * with large `n_cur·lam_bits` names WHERE the incoming data shifted.
    *
    * Per-trigger work is O(batch + baseline-histogram): the batch
    * histogram is one map-combined aggregate, the baseline is a
    * histogram-sized parquet read, the join/windows run over the joined
    * histogram. Reports follow [[Stores]]' per-batch contract — a
    * replayed batch is a no-op; the baseline is re-read per trigger, so
    * an offline rebase is picked up at the next one.
    */
  def driftMonitorIngest(
      docs: DataFrame,
      baselineDir: String,
      stateDir: String,
      checkpoint: String,
      score: Column)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val base = spark.read.parquet(baselineDir)
        Stores.publishBatch(spark, s"$stateDir/drift", batchId)(
          graft.functions.Quality.scoreDriftAgainstHist(base, batch, score)
            .write.mode("overwrite").parquet(_))
        ()
      }

  /** Retention for [[driftMonitorIngest]]'s per-batch report
    * directories — the report store's answer to the small-file growth
    * every other streamed store handles by COMPACTION
    * ([[graft.functions.Curation.compactPostingStore]],
    * [[graft.functions.Curation.compactBm25Store]],
    * [[graft.functions.Dedup.compactDedupIndex]]): drift reports are
    * NOT additive index state — nothing folds them at read; each is an
    * independent point-in-time diagnostic whose operational value decays
    * (the monitor's consumer is "the last few triggers") — so retention
    * here is deletion of the committed report batches older than the
    * newest `keepLast`, not folding.
    *
    * Run between ingest runs ([[Stores]]' single-writer discipline). A
    * checkpoint rollback
    * re-delivering a pruned batch id would re-publish it via the
    * publishOnce path — harmless: the report recomputes
    * deterministically from the same batch against the same baseline.
    * Returns (kept, deleted) directory counts; (0, 0) for a missing or
    * empty report store.
    */
  def pruneDriftReports(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      keepLast: Int = 32): (Long, Long) =
    Stores.keepLatestBatches(spark, s"$stateDir/drift", keepLast)

  /** Persist the baseline score histogram [[driftMonitorIngest]] scores
    * against: `(s, n_base)`, one row per occupied bucket. A rebase
    * replaces the table in one [[Stores.publishReplace]], so a trigger
    * reads the old histogram or the new one, never a partial write.
    */
  def writeBaselineHist(
      docs: DataFrame, score: Column, dir: String): Unit =
    Stores.publishReplace(docs.sparkSession, dir)(
      docs.select(score.cast("long").as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("n_base"))
        .coalesce(1).write.parquet(_))

  /** Streaming CDC chunk-store maintenance — the sub-document analog of
    * [[dedupIngest]]: each micro-batch is content-defined-chunked
    * map-side, classified against the chunk store so far
    * ([[graft.functions.Dedup.cdcIncremental]] — per-doc new-vs-seen
    * chunks and bytes land in `<stateDir>/report/batch=<id>`), and the
    * batch's NOVEL distinct chunks are appended to the store at
    * `<stateDir>/chunks` so the next batch dedups against them without
    * ever re-reading corpus text.
    *
    * Per-trigger work is O(batch): chunking shuffles nothing, the store
    * contributes only its (ch, clen) key table to one hash join, and
    * both stores follow [[Stores]]' per-batch contract (the corpus is
    * the `batch < id` prior view, so a replayed batch is a no-op).
    */
  def cdcIngest(
      docs: DataFrame,
      stateDir: String,
      checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val id = "doc_id"
    val text = "text"
    import graft.functions.Dedup
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val store = Stores.priorBatches(spark, s"$stateDir/chunks", batchId,
          Dedup.cdcChunkTable(batch.limit(0), id, text))
          .select(col("ch"), col("clen"))
        batch.persist()
        try {
          Stores.publishBatch(spark, s"$stateDir/report", batchId)(
            Dedup.cdcIncremental(batch, store, id, text)
              .write.mode("overwrite").parquet(_))
          // novel distinct chunks only — seen chunks already live in an
          // earlier partition, and duplicate store rows would inflate
          // every later batch's join
          Stores.publishBatch(spark, s"$stateDir/chunks", batchId)(
            Dedup.cdcChunkTable(batch, id, text)
              .groupBy(col("ch")).agg(min(col("clen")).as("clen"))
              .join(store.select(col("ch")), Seq("ch"), "left_anti")
              .write.mode("overwrite").parquet(_))
        } finally batch.unpersist()
        ()
      }
  }

  /** Streaming exact-phrase decontamination audit + posting-store
    * maintenance: every micro-batch is probed for the audit phrase
    * list (per-phrase containing-doc and occurrence counts for THIS
    * batch — the ingest-time eval-leak alarm) and its positional
    * postings are appended to the persisted term-bucket-partitioned
    * store, so offline probes
    * ([[graft.functions.Curation.phraseMatchesStore]]) answer over
    * everything ever ingested without rescanning text.
    *
    * Per-trigger work is O(batch): the probe touches only the batch's
    * phrase-term postings (broadcast phrase table), the store append
    * writes only the batch's postings. Both the report and the posting
    * store follow [[Stores]]' per-batch contract, so a restarted batch
    * is a no-op and an offline probe racing ingest sees each batch
    * either complete or not yet published, never partial (spec-pinned
    * in StoresSpec). Store contract: batches carry NEW documents (exact
    * dedup runs upstream).
    */
  def phraseAuditIngest(
      docs: DataFrame,
      stateDir: String,
      checkpoint: String,
      phrases: Seq[String])
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val id = "doc_id"
    val text = "text"
    import graft.functions.Curation
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          val spark = batch.sparkSession
          Stores.publishBatch(spark, s"$stateDir/report", batchId)(
            Curation.phraseMatches(batch, id, text, phrases)
              .write.mode("overwrite").parquet(_))
          Stores.publishBatch(spark, s"$stateDir/postings", batchId)(
            Curation.writePostingsRaw(Curation.phrasePostings(batch, id, text), _))
        } finally batch.unpersist()
        ()
      }
  }

  /** Streaming IVF-PQ index maintenance — the ANN analog of
    * [[dsirScoreIngest]]'s persisted-model split: the coarse centroids
    * and PQ codebooks are trained ONCE offline
    * ([[graft.functions.Similarity.writeIvfPqIndex]], which writes the
    * base inverted lists under `codes/batch=-1`); each micro-batch of
    * new vectors is assigned + encoded against that same model
    * ([[graft.functions.Similarity.encodeWithModel]] — bit-identical
    * encoding to the base build) and appended as its own
    * `codes/batch=<id>` directory, `partitionBy("cell")` inside, so
    * the two-level batch=/cell= layout stays uniform and
    * [[graft.functions.Similarity.ivfPqAnnIndexed]]'s literal
    * probed-cell predicate prunes across base and streamed partitions
    * alike. No retraining, no rewrite of existing lists: per-trigger
    * work is one narrow encode pass over the batch (the model is ≤
    * numCells + numSub×codesPerSub driver-side rows, re-read per
    * trigger so an offline retrain is picked up at the next one).
    *
    * REPLAY SAFETY: encoding is a pure function of (batch, model) and
    * each batch's codes AND version stamp are published together under
    * [[Stores]]' per-batch contract. Model DRIFT is the operator's
    * documented trade-off, as in every production IVF index: vectors far
    * from the trained distribution degrade recall until an offline
    * retrain; the [[graft.functions.Similarity.ivfPqProbeSweep]] recall
    * table over the accumulated index is the monitoring signal.
    */
  def ivfPqIngest(
      vecs: DataFrame,
      indexDir: String,
      checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val id = "vec_id"
    val vec = "embedding"
    import graft.functions.Similarity
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val (localCn, books) = Similarity.readIndexModel(spark, indexDir)
        Stores.publishBatch(spark, s"$indexDir/codes", batchId) { tmp =>
          Similarity.encodeWithModel(batch, localCn, books, id, vec)
            .write.mode("overwrite").partitionBy("cell").parquet(tmp)
          // stamp the model this batch was encoded under: a retrain
          // drops+restamps the codes tree, so a stale stamp here is how
          // ivfPqAnnIndexed detects (and refuses) an ingest that raced
          // it. Written INSIDE the publish, so codes and stamp appear
          // together in the one rename — no window where the batch is
          // visible unstamped.
          Stores.writeMarker(spark, tmp, Similarity.ModelVersionMarker,
            Similarity.modelVersion(localCn, books))
        }
        ()
      }
  }

  /** Stream-static enrichment: join a streaming fact against a small
    * static dimension (game metadata). The dimension is broadcast — each
    * micro-batch's tasks probe a local hash map, no shuffle of the stream,
    * and the join keeps the stream watermark/event-time intact. (The
    * reference has no joins at all, SURVEY.md §2.E — this is the first
    * operator any analytics user adds.)
    */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  // --------------------------------------------------------------------
  // Custom-state sessionization (flatMapGroupsWithState): emits CLOSED
  // sessions only, and only once the event-time watermark passes a
  // session's end + gap — the same close condition the declarative
  // `session_window` aggregation uses, because until then an allowed-late
  // out-of-order event may still extend or BRIDGE sessions. State is the
  // key's list of open intervals (events inside the allowed lateness can
  // arrive before the earliest open interval, so one interval is not
  // enough); each event merges every interval within `gap` of it. This
  // is the path for session logic the built-in can't express (per-event
  // custom folds, multi-record emission), state bounded at O(open
  // intervals per key).
  // --------------------------------------------------------------------

  /** State schema v2 (interval list; v1 was three flat longs) — a
    * streaming query restarted across that change needs a fresh
    * checkpoint, the state store rejects the old encoding.
    */
  final case class SessionState(sessions: List[(Long, Long, Long)])

  final case class ClosedSession(
      key: String,
      session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp,
      n_events: Long)

  def sessionsStateful(
      events: Dataset[(String, java.sql.Timestamp)],
      gapMinutes: Int): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    def ts(ms: Long) = new java.sql.Timestamp(ms)

    // fold one event time into the sorted interval list: merge every
    // interval within gap of t (an event can bridge two intervals)
    def absorb(ivs: List[(Long, Long, Long)], t: Long): List[(Long, Long, Long)] = {
      val (touch, rest) = ivs.partition { case (s, e, _) =>
        t >= s - gapMs && t <= e + gapMs
      }
      val merged = touch.foldLeft((t, t, 1L)) { case ((s, e, n), (s2, e2, n2)) =>
        (math.min(s, s2), math.max(e, e2), n + n2)
      }
      (merged :: rest).sortBy(_._1)
    }

    // close intervals no allowed-late event can still touch, keep the rest
    def emitAndKeep(
        key: String,
        ivs: List[(Long, Long, Long)],
        state: GroupState[SessionState]): Iterator[ClosedSession] = {
      // batch execution has no watermark (getCurrentWatermarkMs throws
      // after EliminateEventTimeWatermark strips the node): all data has
      // been seen, so every session is closable — watermark = +∞. This
      // keeps the Kappa batch-replay parity the streaming ops promise.
      val wm =
        try state.getCurrentWatermarkMs()
        catch { case _: UnsupportedOperationException => Long.MaxValue }
      val (closed, open) = ivs.partition { case (_, e, _) => e + gapMs <= wm }
      if (open.isEmpty) state.remove()
      else {
        state.update(SessionState(open))
        state.setTimeoutTimestamp(open.map(_._2).min + gapMs)
      }
      closed.iterator.map { case (s, e, n) => ClosedSession(key, ts(s), ts(e), n) }
    }

    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, rows, state) =>
          val prior = state.getOption.map(_.sessions).getOrElse(Nil)
          val ivs =
            if (state.hasTimedOut) prior
            else rows.map(_._2.getTime).toSeq.sorted.foldLeft(prior)(absorb)
          emitAndKeep(key, ivs, state)
      }
  }
}

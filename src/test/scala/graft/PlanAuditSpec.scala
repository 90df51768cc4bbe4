package graft

/** Catalog-wide physical-plan hygiene gate: no query may plan an
  * unbounded nested-loop join. The exceptions are the oracle-pinned
  * exhaustive BASELINES, which are quadratic by declared intent and
  * bounded by literal id filters (their scale paths — LSH buckets, band
  * joins — are separate catalog entries), and scalar (one-row) cross
  * joins that attach a grand total to every row.
  */
class PlanAuditSpec extends SparkSpec {

  import TestSpark.withGraftSession

  private val quadraticBaselines = Set(
    "q_embed_neardup" // bounded exhaustive ground truth for q_neardup_banded
  )
  private val scalarCrossJoins = Set(
    "q_vocab_coverage", // one-row totals frame crossed into the top-k row
    "q_tfidf_topk",     // one-row corpus doc count crossed into the tf table
    "q_length_trim",    // one-row sketch-threshold frame crossed into the filter
    "q_curriculum",     // one-row decile-threshold frame crossed into the binning
    "q_zorder_layout",  // one-row min-max frame crossed into the bit interleave
    "q_cms_freq",       // one-row count-min counter matrix crossed into the probes
    "q_lm_surprisal",   // one-row corpus token total crossed into the scoring
    "q_pmi_colloc",     // one-row document count crossed into the lift
    // one-row max(vec_id)+1 frame crossed into the perturbed-copy ids
    // (the r9 fixed-offset collision fix)
    "q_neardup_banded", "q_band_sweep", "q_dedup_order",
    "q_bm25_topk",        // one-row corpus totals crossed into the tf table
    "q_bm25_indexed",     // one-row persisted-index totals crossed into the tf table
    "q_bm25_stream",      // one-row layered-store totals crossed into the tf table
    "q_bm25_compact",     // same totals cross, served from the compacted store
    "q_hybrid_rrf",       // one-row corpus totals crossed into the QL arm's scoring
    "q_rbo",              // same QL arm inside the ranking-agreement report
    "q_domain_mix_alpha", // one-row n_min frame crossed into the thresholds
    "q_dedup_eval",       // three one-row metric frames crossed into one report row
    "q_kn_surprisal",     // one-row bigram-type total crossed into the KN model
    // one-row gram-count total crossed into the piece surprisal scores
    "q_unigram_tokenize",
    // one-row totals (gram count, model size, pieces used) crossed into
    // the per-round report rows
    "q_unigram_refit")
  private val broadcastSmallSideFanOuts = Set(
    // nested loop over a TINY broadcast side, linear in the big side:
    // brute-force kNN probes a handful of broadcast query vectors per
    // corpus row; IVF fans every row out against <=16 broadcast centroids
    // for the argmax assignment
    "q_knn_cosine", "q_media_ann", "q_knn_ivf",
    "q_embed_contamination", // corpus streamed against the broadcast eval set
    "q_semantic_dedup",  // same <=16-centroid broadcast assignment as IVF
    "q_cluster_balance", // same <=16-centroid broadcast assignment as IVF
    "q_ivfpq_ann",       // same <=16-centroid broadcast assignment + probe routing
    "q_ivfpq_indexed",   // same probe routing over the persisted index
    "q_ivfpq_sweep",     // same <=16-centroid broadcast assignment + probe routing
    "q_ivfpq_rerank",    // composes q_ivfpq_ann's assignment + probe routing
    "q_ivfpq_residual",  // same assignment + probe routing over residual codes
    "q_nb_classify",     // held-out docs fan out over the <=C-class broadcast frame
    // same <=C-class fan-outs (docs × classes, doc totals × lp0); the
    // V·C model itself is sort-merge-joined, never broadcast — pinned
    // by the dedicated plan spec in CurationSpec
    "q_nb_shuffle")

  test("literal-bounded queries push their id bounds into the parquet scan") {
    // the bound is what keeps the quadratic baselines quadratic-over-a-
    // CONSTANT; if pushdown regresses, the scan reads the whole table and
    // the bound only applies post-scan
    val bounded = Seq(
      "q_dedup_minhash",  // doc_id < 2000
      "q_dedup_jaccard",  // doc_id < 500
      "q_incremental_dedup", // corpus doc_id < 400 / batch >= 400
      "q_asof_join")      // user_id < 50 + event_type pushdown
    withGraftSession { s =>
      bounded.foreach { name =>
        val q = Queries.all.find(_.name == name).get
        val plan = q.spark(s, "/root/testdata/sf0.001")
          .queryExecution.executedPlan.toString
        withClue(s"$name: ") {
          plan should include("PushedFilters: [")
          (plan should include regex "PushedFilters: \\[[^\\]]*(LessThan|GreaterThan)")
        }
      }
    }
  }

  test("q_kmv_distinct's rank filter plans as a partial WindowGroupLimit") {
    // the KMV sketch's scale claim: the K-smallest-per-group selection
    // must be a map-side partial top-K (bounded state), not a full
    // per-group sort of every distinct hash
    withGraftSession { s =>
      val q = Queries.all.find(_.name == "q_kmv_distinct").get
      val plan = q.spark(s, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      plan should include("WindowGroupLimit")
      plan should include regex "(?i)partial"
    }
  }

  test("q_kmv_overlap_sketch plans as a partial WindowGroupLimit") {
    // the sketch-only set-ops configuration: without the exact rider,
    // the per-pair bottom-K selection must be a map-side partial top-K —
    // q_kmv_overlap (with the rider) necessarily reads every row and is
    // the bounded demo
    withGraftSession { s =>
      val q = Queries.all.find(_.name == "q_kmv_overlap_sketch").get
      val plan = q.spark(s, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      plan should include("WindowGroupLimit")
      plan should include regex "(?i)partial"
    }
  }

  test("q_join_broadcast: the planner (not a hint) broadcasts the small-SF dim") {
    // customer grows with the scale factor, so the query carries NO
    // broadcast() hint — a forced broadcast ships 1.5M rows per executor
    // at sf10 (measured 9.8 s vs shuffled). The planner must still
    // CHOOSE a broadcast at small SF, where the dim is under the
    // threshold — the operator demonstration plus the adaptive behavior.
    withGraftSession { s =>
      val q = Queries.all.find(_.name == "q_join_broadcast").get
      val plan = q.spark(s, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      plan should include("BroadcastHashJoin")
    }
  }

  test("q_cdc_dedup chunks map-side: the only shuffles are the chunk-key and final-row aggs") {
    // the CDC scale claim: chunking 100 TB is a narrow projection (the
    // one-pass native expression) + explode — nothing may shuffle below
    // the chunk-hash aggregate, and the whole plan carries exactly two
    // exchanges (partial→final chunk agg, single-row report agg)
    withGraftSession { s =>
      val q = Queries.all.find(_.name == "q_cdc_dedup").get
      val plan = q.spark(s, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      plan should include("graft_cdc_chunks")
      "Exchange".r.findAllIn(plan).length shouldBe 2
      plan should not include "BroadcastExchange"
    }
  }

  test("q_maxmatch_tokenize broadcasts the induced vocab into the piece-match join") {
    // the MaxMatch scale claim: the vocab (K grams + alphabet) is
    // broadcast-sized by construction — the per-(word, position, len)
    // candidate join must be a BroadcastHashJoin, never a shuffle of
    // the candidate grid on the gram key
    withGraftSession { s =>
      val q = Queries.all.find(_.name == "q_maxmatch_tokenize").get
      val plan = q.spark(s, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      plan should include("BroadcastHashJoin")
    }
  }

  test("q_unigram_tokenize runs the Viterbi DP as a projection, not a join") {
    // the Unigram scale claim, one rung up the expression ladder since
    // r10: the scored vocab is bounded trained state riding the task
    // closure, so the whole DP is the native graft_unigram_viterbi
    // expression in a projection over the distinct word table — the
    // plan must contain the expression and must NOT contain a
    // candidate-grid Generate (the explode+join shape lives only in the
    // spec-pinned plan-form reference)
    withGraftSession { s =>
      val q = Queries.all.find(_.name == "q_unigram_tokenize").get
      val plan = q.spark(s, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      plan should include("graft_unigram_viterbi")
      // the only explode left is the corpus token explode (tokens(...));
      // the per-(word, position, len) grid explode is gone
      plan should not include "sequence(1, least("
    }
  }

  test("q_median's selection windows run over the histogram, not the corpus") {
    // the exact-median scale claim: the only per-group single-task work
    // may be the window over the aggregated (lang, n_chars) histogram —
    // every Window in the plan must sit ABOVE the histogram Aggregate,
    // so no task ever sorts raw corpus rows
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    withGraftSession { s =>
      val q = Queries.all.find(_.name == "q_median").get
      val opt = q.spark(s, "/root/testdata/sf0.001").queryExecution.optimizedPlan
      val windows = opt.collect { case w: LWindow => w }
      windows should not be empty
      windows.foreach { w =>
        withClue(s"window ${w.windowExpressions.map(_.name)}: ") {
          w.child.collectFirst { case a: Aggregate => a } should not be empty
        }
      }
    }
  }

  test("q_pq_encode's encode stage is a shuffle-free literal-codebook projection") {
    // the PQ scale claim: after training (bounded driver-side codebook
    // state), encoding 100 TB of vectors is ONE narrow map — the argmin
    // over codes is folded into the projection as literals, so the final
    // plan must contain no join and no exchange of any kind
    withGraftSession { s =>
      val q = Queries.all.find(_.name == "q_pq_encode").get
      val plan = q.spark(s, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      plan should not include "Exchange"
      plan should not include "Join"
    }
  }

  test("q_shard_assign's position window partitions on the shard key") {
    // the manifest scale claim: window parallelism equals the shard
    // count, so every Window in the plan must partition on the shard
    // column — an empty partition spec would sort the whole corpus in
    // one task, and any other key would break the per-shard contract.
    // (The shard-count SIZING rule — no shard bigger than the
    // rows-per-shard target — is pinned in ShardingSpec.)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    withGraftSession { s =>
      val q = Queries.all.find(_.name == "q_shard_assign").get
      val opt = q.spark(s, "/root/testdata/sf0.001").queryExecution.optimizedPlan
      val windows = opt.collect { case w: LWindow => w }
      windows should not be empty
      windows.foreach { w =>
        withClue(s"window ${w.windowExpressions.map(_.name)}: ") {
          w.partitionSpec should not be empty
          w.partitionSpec.flatMap(_.references.map(_.name)) should contain("shard")
        }
      }
    }
  }

  test("q_ivfpq_ann's ADC scoring is cell-pruned: probes equi-join the code table on the cell id") {
    // the IVF-PQ scale claim vs q_pq_ann's flat scan: the scored row set
    // must come from a hash equi-join of the corpus code table with the
    // broadcast probe table ON THE CELL ID — i.e. only codes in probed
    // cells are scored — not a per-row fan-out over every query
    withGraftSession { s =>
      val q = Queries.all.find(_.name == "q_ivfpq_ann").get
      val plan = q.spark(s, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      plan should include regex "BroadcastHashJoin \\[cell#"
    }
  }

  test("q_ivfpq_rerank re-scores only broadcast-joined candidates, never the corpus") {
    // the §V-C refinement's scale claim: the exact-cosine stage reads
    // corpus vectors through a BroadcastHashJoin whose build side is the
    // bounded candidate set (≤ queries × k′ rows) — the corpus is never
    // shuffled for the re-rank, and the join key is the neighbor id
    withGraftSession { s =>
      val q = Queries.all.find(_.name == "q_ivfpq_rerank").get
      val plan = q.spark(s, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      plan should include regex "BroadcastHashJoin \\[neighbor_id#"
      plan should not include "SortMergeJoin"
    }
  }

  test("q_substr_dedup collapses window buckets before emitting pairs") {
    // the doc-set-collapse scale claim (round 9): the corpus is window-
    // hashed and shuffled ONCE (two documents scans at most — the
    // small/big text branches — where the old self-join formulation paid
    // four), singleton window buckets are dropped before any pair
    // exists (Filter on size(ids) > 1), and the quadratic pair fan-out
    // is a generator over the COLLAPSED distinct doc-set table (join-
    // free: no SortMergeJoin anywhere), not a per-window self-join
    withGraftSession { s =>
      val q = Queries.all.find(_.name == "q_substr_dedup").get
      val plan = q.spark(s, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      val docScans = "Scan parquet".r.findAllIn(plan).size
      withClue(s"documents scans (small+big branch only):\n$plan") {
        docScans should be <= 2
      }
      plan should include regex "(?i)filter.*size\\(ids"
      plan should include("posexplode")
      plan should not include "SortMergeJoin"
    }
  }

  test("q_substr_winnow joins only winnowed fingerprints, collapse shape intact") {
    // the scale path's claim: the shuffled relation is the SELECTED
    // fingerprint rows (array_min over the hash sequence — the plan
    // must carry the selection lambda), and pair generation reuses the
    // doc-set collapse (no sort-merge join, singleton buckets filtered
    // before the generator)
    withGraftSession { s =>
      val q = Queries.all.find(_.name == "q_substr_winnow").get
      val plan = q.spark(s, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      // the allocation-free sliding minimum: least over w direct
      // lookups (try_element_at renders as element_at(..) in plans)
      plan should include("least(")
      plan should include("element_at(")
      plan should not include "array_min"
      plan should include regex "(?i)filter.*size\\(ids"
      plan should not include "SortMergeJoin"
    }
  }

  test("bm25Search over a persisted index reads the corpus ONCE") {
    // the index/search split's claim: with df + totals persisted, the
    // query-time plan touches the documents table exactly once (the tf
    // scan) — everything else comes from the tiny index parquet
    import graft.functions.Curation
    withGraftSession { s =>
      val docs = Tables(s, "/root/testdata/sf0.001").documents
      val dir  = tmpDir("bm25_audit")
      Curation.writeBm25Index(Curation.bm25Index(docs, "doc_id", "text"), dir)
      val plan = Curation.bm25Search(docs, Curation.readBm25Store(s, dir),
          "doc_id", "text", Seq("dup", "spark"), 10)
        .queryExecution.executedPlan.toString
      "documents\\.parquet".r.findAllIn(plan).size shouldBe 1
      plan should include("BroadcastExchange") // index rows ship broadcast
    }
  }

  test("q_ivfpq_indexed prunes unprobed cells at the parquet partition level") {
    // the persisted-index scale claim: the probe stage's literal cell
    // predicate must reach the codes scan as a PARTITION filter (the
    // codes tree is cell=<id>-partitioned), so unprobed inverted lists
    // are never read off disk
    withGraftSession { s =>
      val q = Queries.all.find(_.name == "q_ivfpq_indexed").get
      val plan = q.spark(s, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      plan should include regex "PartitionFilters: \\[[^\\]]*cell"
    }
  }

  test("q_bm25_indexed serves from the persisted snapshot: one corpus scan, df from the index parquet") {
    // the catalog form of the pin above: the indexed query must read
    // documents exactly once (the tf/dl scan) and take df/totals from
    // the index directory — a plan that rebuilt the index in-query
    // would scan documents again (q_bm25_topk, the one-plan demo, scans
    // it three times)
    withGraftSession { s =>
      val q = Queries.all.find(_.name == "q_bm25_indexed").get
      val plan = q.spark(s, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      "documents\\.parquet".r.findAllIn(plan).size shouldBe 1
      plan should include("graft_bm25_index_")
    }
  }

  test("Dsir.trainAndScore reads the corpus ONCE (ReusedExchange on the compact table)") {
    // the one-scan variant's claim: λ aggregation and per-doc scoring
    // both consume the compact per-(doc, bucket, uni) exchange, which
    // Catalyst dedupes via ReusedExchange — the tokenize+md5+explode
    // pass over the corpus happens once, not once per consumer. The
    // shape is load-bearing (tgt as aggregate, uni as grouping key —
    // see trainAndScore's comments); a second live scan means the
    // reuse broke. Under AQE the reuse materializes at runtime stage
    // creation, so assert on the FINAL adaptive plan.
    import graft.functions.Dsir
    import org.apache.spark.sql.functions.col
    withGraftSession { s =>
      val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("tgt", col("source") === "src0")
      val feats = Dsir.features(docs, "doc_id", "text", carry = Seq("tgt"))
      val df = Dsir.trainAndScore(feats, "doc_id")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      withClue(plan) {
        plan should include("isFinalPlan=true")
        plan should include("ReusedExchange")
      }
    }
  }

  test("q_setsim_prefix carries no broadcast hint on the per-doc sizes table") {
    // the PPJoin verify stage joins a one-row-per-corpus-document sizes
    // table: a FORCED broadcast there is a driver OOM at production doc
    // counts (r9 verdict flag #2). The logical plan must carry no
    // broadcast hint anywhere — AQE alone may demote the runtime join
    // when the actual size is small, which is the correct adaptive
    // behavior and not a hint
    withGraftSession { s =>
      val q = Queries.all.find(_.name == "q_setsim_prefix").get
      val logical = q.spark(s, "/root/testdata/sf0.001")
        .queryExecution.optimizedPlan.toString
      logical.toLowerCase should not include "broadcast"
    }
  }

  test("every catalog query plans without an unbounded nested-loop join") {
    withGraftSession { s =>
      Queries.all.foreach { q =>
        val plan = q.spark(s, "/root/testdata/sf0.001")
          .queryExecution.executedPlan.toString
        val allowed = quadraticBaselines(q.name) || scalarCrossJoins(q.name) ||
          broadcastSmallSideFanOuts(q.name)
        if (!allowed) withClue(s"${q.name}: ") {
          plan should not include "CartesianProduct"
          plan should not include "BroadcastNestedLoopJoin"
        }
      }
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Checkpoints

import graft.functions.Clustering

/** Duplicate-cluster construction: min-label connected components,
  * population assignment with singletons, canonical selection, and the
  * shared-window (repeated-substring) edge generator.
  */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private def edges(ps: (Long, Long)*) =
    ps.toDF("doc_a", "doc_b")

  test("connectedComponents labels a chain with its minimum id") {
    // 5—4—3—2—1 chain plus isolated pair 10—11: worst case for label
    // propagation (diameter = 4 forces multiple rounds)
    val cc = Clustering
      .connectedComponents(edges(5L -> 4L, 4L -> 3L, 3L -> 2L, 2L -> 1L, 10L -> 11L))
      .as[(Long, Long)].collect().toMap
    cc(1L) shouldBe 1L
    cc(5L) shouldBe 1L
    cc(4L) shouldBe 1L
    cc(10L) shouldBe 10L
    cc(11L) shouldBe 10L
  }

  test("clique components converge in one propagation round (unrolled init)") {
    // the common duplicate-component shape is a clique (every replica
    // pairs with every other); the unrolled init lab₀ = min(node,
    // min(neighbors)) must settle it in the single verification round —
    // a regression here multiplies every CC-backed catalog query's
    // round count
    val clique = for {
      a <- 0L to 4L; b <- (a + 1) to 4L
    } yield (a + 100L, b + 100L)
    val two = clique ++ Seq((500L, 501L), (501L, 502L), (500L, 502L))
    var rounds = 0
    val cc = Clustering.connectedComponents(edges(two: _*),
      onRound = (r, _, _) => rounds = r)
    val labs = cc.as[(Long, Long)].collect().toMap
    labs(104L) shouldBe 100L
    labs(502L) shouldBe 500L
    rounds shouldBe 1
    Checkpoints.release(cc)
  }

  test("connectedComponents merges components connected through a bridge") {
    // two stars joined by one bridge edge → a single component
    val star1  = (2L to 5L).map(1L -> _)
    val star2  = (7L to 9L).map(6L -> _)
    val bridge = Seq(5L -> 7L)
    val cc = Clustering
      .connectedComponents(edges(star1 ++ star2 ++ bridge: _*))
      .as[(Long, Long)].collect().toMap
    cc.values.toSet shouldBe Set(1L)
  }

  test("clustersOf assigns singletons their own id and sizes clusters") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("doc_id", "text")
    val rows = Clustering
      .clustersOf(docs, edges(1L -> 2L), "doc_id")
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    rows shouldBe Array((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L), (4L, 4L, 1L))
  }

  test("canonicalPerCluster picks highest preference then lowest id") {
    val clustered = Seq(
      (1L, 1L, 10L), (1L, 2L, 30L), (1L, 3L, 30L), // cluster 1: tie at 30 → doc 2
      (9L, 9L, 5L)
    ).toDF("cluster_id", "doc_id", "n_chars")
    val out = Clustering
      .canonicalPerCluster(clustered, "doc_id", "n_chars")
      .select("cluster_id", "canon_doc_id", "canon_n_chars", "cluster_size")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    out shouldBe Array((1L, 2L, 30L, 3L), (9L, 9L, 5L, 1L))
  }

  test("sharedWindowPairs finds verbatim shared windows and only those") {
    val shared = "X" * 60 // a 60-char run shared verbatim by docs 1 and 2
    val docs = Seq(
      (1L, "prefix one " + shared),
      (2L, shared + " suffix two"),
      (3L, "Y" * 80) // long but disjoint content
    ).toDF("doc_id", "text")
    val pairs = Clustering
      .sharedWindowPairs(docs, "doc_id", "text", win = 40, stride = 8)
      .select("doc_a", "doc_b")
      .as[(Long, Long)].collect()
    pairs shouldBe Array((1L, 2L))
  }

  test("sharedWindowPairs maxWindowFreq drops boilerplate windows") {
    // the same 40-char license header on every doc: with a freq cap the
    // all-pairs explosion disappears
    val header = "L" * 40
    val docs = (1L to 6L).map(i => (i, header + s" body $i")).toDF("doc_id", "text")
    val uncapped = Clustering
      .sharedWindowPairs(docs, "doc_id", "text", win = 40, stride = 8)
      .count()
    val capped = Clustering
      .sharedWindowPairs(docs, "doc_id", "text", win = 40, stride = 8, maxWindowFreq = 3)
      .count()
    uncapped shouldBe 15L // C(6,2)
    capped shouldBe 0L
  }

  test("sharedWindowPairs doc-set collapse == naive window self-join") {
    // overlapping doc sets with distinct multiplicities: docs 1-3 share a
    // long run (many windows, doc-set {1,2,3}), docs 1-2 additionally
    // share a second run ({1,2} at a different multiplicity), doc 4
    // shares a single 40-char window with doc 3 only — the n_shared
    // counts must equal the naive per-window self-join formulation
    val runA = "A" * 64
    val runB = "B" * 56
    val runC = "C" * 40
    val docs = Seq(
      (1L, runA + " " + runB),
      (2L, runB + " " + runA),
      // 8-char pad after runA keeps runC on doc 3's stride-8 offset grid
      // (offset 73), so docs 3 and 4 (offset 1) both emit the pure-C window
      (3L, runA + " tailthr" + runC),
      (4L, runC + " tail four"),
      (5L, "unrelated " + ("Z" * 60))
    ).toDF("doc_id", "text")
    val collapsed = Clustering
      .sharedWindowPairs(docs, "doc_id", "text", win = 40, stride = 8)
      .as[(Long, Long, Long)].collect().toSet
    // naive formulation, inlined: all (id, wh) rows self-joined on wh
    val wh = docs
      .filter(org.apache.spark.sql.functions.length($"text") >= 40)
      .select($"doc_id", explode(array_distinct(transform(
        sequence(lit(1), org.apache.spark.sql.functions.length($"text") - 39, lit(8)),
        off => conv(substring(md5($"text".substr(off, lit(40))), 1, 15), 16, 10)
          .cast("long")))).as("wh"))
    val naive = wh.select($"doc_id".as("doc_a"), $"wh")
      .join(wh.select($"doc_id".as("doc_b"), $"wh"), Seq("wh"))
      .filter($"doc_a" < $"doc_b")
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .as[(Long, Long, Long)].collect().toSet
    collapsed shouldBe naive
    collapsed.map(p => (p._1, p._2)) should contain allOf ((1L, 2L), (3L, 4L))
  }

  test("winnowedSpanCandidates guarantees spans >= win + stride*(w-1)") {
    // the winnowing guarantee at the 40/8/4 defaults: a shared span of
    // 64+ chars spans >= 4 consecutive grid windows in both docs, so
    // both select the same minimum — the pair MUST surface. Doc 6/7
    // share only a single 40-char window (below the guarantee): the
    // scale path may drop them, the exact path must keep them.
    val span = "S" * 96 // 96 >= 64: 8 grid windows shared
    val short = "T" * 40
    val docs = Seq(
      (1L, span + " one tail"),
      (2L, "two-pre " + span), // 8-char prefix keeps span on doc 2's grid
      (6L, short + " six tail"),
      (7L, short + " svn tail"),
      (9L, "no duplicates here at all " + ("U" * 40))
    ).toDF("doc_id", "text")
    val winnow = Clustering
      .winnowedSpanCandidates(docs, "doc_id", "text", win = 40, stride = 8, w = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exact = Clustering
      .sharedWindowPairs(docs, "doc_id", "text", win = 40, stride = 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    winnow should contain((1L, 2L))
    exact should contain allOf ((1L, 2L), (6L, 7L))
    // candidates are always a subset of the exact pair evidence
    winnow.subsetOf(exact) shouldBe true
  }

  test("winnowedSpanCandidates: short docs fingerprint; subset holds on testdata") {
    // docs with fewer than w windows select the minimum of their whole
    // sequence — two identical short docs must still pair
    val tiny = Seq((1L, "Q" * 44), (2L, "Q" * 44), (3L, "R" * 44))
      .toDF("doc_id", "text")
    Clustering
      .winnowedSpanCandidates(tiny, "doc_id", "text", win = 40, stride = 8, w = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet shouldBe Set((1L, 2L))
    // real corpus: every winnow candidate is an exact-evidence pair
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val winnow = Clustering
      .winnowedSpanCandidates(corpus, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exact = Clustering
      .sharedWindowPairs(corpus, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    winnow should not be empty
    winnow.subsetOf(exact) shouldBe true
  }

  test("winnowedSpanCandidates big-doc streaming branch == array branch") {
    // docs past the 65536-char threshold stream through the ordered
    // sliding-min window instead of one giant array row; the selected
    // fingerprints — and so the candidate pairs — must be identical to
    // the array formulation, inlined here without the size split
    val blockA = ("A" * 1000 + " ") // repeated to clear the threshold
    val big1 = blockA * 70 + "unique one " + ("D" * 80)
    val big2 = "unique two pre " + blockA * 70
    val small = "D" * 80 + " small doc"
    val docs = Seq((1L, big1), (2L, big2), (3L, small), (4L, "x" * 50))
      .toDF("doc_id", "text")
    val viaSplit = Clustering
      .winnowedSpanCandidates(docs, "doc_id", "text", win = 40, stride = 8, w = 4)
      .as[(Long, Long, Long)].collect().toSet
    val L = org.apache.spark.sql.functions.length($"text")
    val naive = docs.filter(L >= 40)
      .select($"doc_id", transform(
        sequence(lit(1), L - 39, lit(8)),
        off => conv(substring(md5($"text".substr(off, lit(40))), 1, 15), 16, 10)
          .cast("long")).as("whs"))
      .select($"doc_id",
        explode(array_distinct(transform(
          sequence(lit(0), greatest(org.apache.spark.sql.functions.size($"whs") - 4, lit(0))),
          s => array_min(slice($"whs", s + lit(1), lit(4)))))).as("fp"))
    val naivePairs = naive.select($"doc_id".as("doc_a"), $"fp")
      .join(naive.select($"doc_id".as("doc_b"), $"fp"), Seq("fp"))
      .filter($"doc_a" < $"doc_b")
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared_fp"))
      .as[(Long, Long, Long)].collect().toSet
    viaSplit shouldBe naivePairs
    viaSplit.map(p => (p._1, p._2)) should contain((1L, 2L))
  }

  test("sharedWindowStarEdges: linear edge count, identical components") {
    // 6-doc window-clique + a disjoint 2-doc pair: the star generator
    // must emit k−1 edges per bucket (not C(k,2) pairs) and feed
    // connectedComponents to the exact same labels as all-pairs edges
    val header = "L" * 40
    val docs = ((1L to 6L).map(i => (i, header + s" body $i")) ++
      Seq((10L, "Z" * 40 + " ten"), (11L, "Z" * 40 + " eleven")))
      .toDF("doc_id", "text")
    val stars = Clustering
      .sharedWindowStarEdges(docs, "doc_id", "text", win = 40, stride = 8)
    stars.count() shouldBe 6L // 5 edges to hub 1, plus 10→11
    stars.filter(col("doc_a") === 1L).count() shouldBe 5L
    val viaStars = Clustering.clustersOf(docs, stars, "doc_id")
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect().toSet
    val viaPairs = Clustering.clustersOf(docs,
        Clustering.sharedWindowPairs(docs, "doc_id", "text", win = 40, stride = 8),
        "doc_id")
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect().toSet
    viaStars shouldBe viaPairs
    viaStars.filter(_._2 == 1L).map(_._3) shouldBe Set(6L)
  }
}

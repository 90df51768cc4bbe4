package graft

import org.apache.spark.sql.functions._

import graft.functions.Graph

/** Specs for the fixed-point PageRank / TextRank graph centrality. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("regular undirected graph is an exact fixed point: every rank stays at scale") {
    // 4-cycle, unit weights both directions: inflow(v) == scale each
    // iteration, so teleport + damped inflow == scale exactly at the
    // default (scale divisible by 10^4) — zero drift over many rounds
    val cyc = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a")
    val edges = (cyc ++ cyc.map(_.swap))
      .map { case (s2, d2) => (s2, d2, 1L) }.toDF("src", "dst", "w")
    val r = ranks(Graph.pageRank(edges, iters = 7))
    r.values.toSet shouldBe Set(Graph.Scale)
    r.keySet shouldBe Set("a", "b", "c", "d")
  }

  test("pageRank matches the hand-computed integer recurrence (sink included)") {
    // a->b, b->a, a->c (c is a sink). wout(a)=2, wout(b)=1.
    // iter1: infl(a)=10^6, infl(b)=infl(c)=(10^6*1) DIV 2 = 5*10^5
    //   r1(a)=150000+850000=1000000, r1(b)=r1(c)=150000+425000=575000
    // iter2: infl(a)=r1(b)=575000 -> r2(a)=150000+488750=638750
    //   infl(b)=infl(c)=r1(a) DIV 2 -> r2(b)=r2(c)=575000
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L), ("a", "c", 1L))
      .toDF("src", "dst", "w")
    ranks(Graph.pageRank(edges, iters = 1)) shouldBe
      Map("a" -> 1000000L, "b" -> 575000L, "c" -> 575000L)
    ranks(Graph.pageRank(edges, iters = 2)) shouldBe
      Map("a" -> 638750L, "b" -> 575000L, "c" -> 575000L)
  }

  test("teleport floor holds and hubs outrank leaves on a star") {
    // star: hub<->leaf for 5 leaves; hub collects 5 full shares, each
    // leaf gets hub/5 — hub must dominate, nobody dips below teleport
    val leaves = (1 to 5).map(i => s"l$i")
    val edges = leaves.flatMap(l => Seq(("hub", l, 1L), (l, "hub", 1L)))
      .toDF("src", "dst", "w")
    val r = ranks(Graph.pageRank(edges, iters = 5))
    val teleport = (10000L - Graph.DampingBp) * Graph.Scale / 10000L
    all(r.values) should be >= teleport
    leaves.foreach { l => r("hub") should be > r(l) }
  }

  test("pageRank stays flat at 16+ iterations: periodic loop-carried plan size") {
    // the production-iteration contract (BpeSpec's flatness idiom): each
    // iteration's rank update must carry a bounded plan — growth means
    // iteration N replays 1..N−1 and per-iteration cost goes
    // super-linear. The GATE is the plan-size periodicity check below;
    // per-round wall time is reported info-only because the loop body
    // at non-cut iterations runs no Spark action (the probe times plan
    // construction + analysis, and cut iterations add the window's
    // materialization job) — a hard timing bound on a shared box is a
    // flake source, and the plan-size contract is what actually pins
    // boundedness
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 40)
    val edges = Graph.textRankEdges(docs, "doc_id", "text")
    val rounds = Seq.newBuilder[(Int, Long, Int)]
    val r = Graph.pageRank(edges, iters = 18,
      onRound = (i, ms, nodes) => rounds += ((i, ms, nodes)))
    r.count() should be > 0L
    val rs = rounds.result()
    rs should have size 18
    // plan-size boundedness: the carried plan is PERIODIC with the
    // checkpoint cadence (fully fused within a window, LogicalRDD root
    // at each cut) — same iteration position in any window, same plan
    // size, so no unbounded growth at any iteration count
    val period = Graph.CheckpointEvery
    val sizes = rs.map(_._3)
    // steady state = from the first post-cut window on (window 1 alone
    // builds from the inline edge base rather than a LogicalRDD root)
    sizes.indices.foreach { i =>
      if (i >= period && i + period < sizes.size)
        withClue(s"iter ${i + 1} vs ${i + 1 + period}: ") {
          sizes(i + period) shouldBe sizes(i)
        }
    }
    def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
    val early = median(rs.slice(2, 10).map(_._2))
    val late  = median(rs.takeRight(6).map(_._2))
    info(s"plan nodes/iter: ${rs.head._3}; per-iter ms (construction + " +
      s"analysis; cut iters include the window job) " +
      s"i1=${rs.head._2} early=$early late=$late max=${rs.map(_._2).max}")
  }

  test("textRankEdges: adjacent-pair counts, symmetric, self-loops dropped") {
    val docs = Seq(
      (1L, "x y x x z"), // adjacencies: x-y, y-x, x-x (dropped), x-z
      (2L, "y x")        // y-x
    ).toDF("doc_id", "text")
    val e = Graph.textRankEdges(docs, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // undirected: each adjacency contributes to both directions
    e(("x", "y")) shouldBe 3L // x~y seen 3 times total (x-y, y-x, y-x)
    e(("y", "x")) shouldBe 3L
    e(("x", "z")) shouldBe 1L
    e(("z", "x")) shouldBe 1L
    e.keys.exists(p => p._1 == p._2) shouldBe false
  }
}

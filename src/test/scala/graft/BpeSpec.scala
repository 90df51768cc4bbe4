package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Checkpoints

import graft.functions.Bpe

/** BPE trainer parity: the incremental pair-delta trainer must produce
  * the IDENTICAL merge sequence (pairs AND counts) to the naive
  * full-recount loop — including the cases where delta maintenance is
  * easy to get wrong (overlapping occurrences, counts that go to zero
  * and re-appear, argmax ties).
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("delta trainer equals naive trainer on an overlap-heavy corpus") {
    // "aaaa" exercises greedy disjoint-span merging ([aa][aa]); the
    // mixed words exercise pairs whose counts change without vanishing
    val w = Bpe.wordTable(docs(
      "aaaa aaaa aaa ab", "abab abab banana banana banana",
      "low lower lowest low low", "aaaa ab banana"), "text")
    val naive = Bpe.trainNaive(w, 10)
    val delta = Bpe.trainDelta(w, 10)
    delta shouldBe naive
    naive should have size 10
  }

  test("delta trainer equals naive trainer through full vocabulary exhaustion") {
    // tiny corpus: both trainers must stop at the same round when no
    // pair remains, not just agree on a prefix
    val w = Bpe.wordTable(docs("ab ab ba"), "text")
    val naive = Bpe.trainNaive(w, 50)
    val delta = Bpe.trainDelta(w, 50)
    delta shouldBe naive
    naive.size should be < 50
  }

  test("delta trainer equals naive trainer on real testdata documents") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 60)
    val w = Bpe.wordTable(d, "text")
    Bpe.trainDelta(w, 6) shouldBe Bpe.trainNaive(w, 6)
  }

  test("delta trainer leaves no checkpoint cached: its collected result reads none") {
    // each round cuts the pair counts and the word table lazily; the
    // returned merge list is plain data, so every cut is freed on return
    val w = Bpe.wordTable(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val merges = Bpe.trainDelta(w, 16)
    spark.sparkContext.getPersistentRDDs.keySet shouldBe before
    merges shouldBe Bpe.trainNaive(w, 16)
    Checkpoints.release(w)
  }

  test("delta trainer holds a bounded number of cuts: 16 merges peak no higher than 4") {
    // each round cuts the pair counts and the word table; a trainer that
    // keeps every superseded cut until return holds ~2 per merge (a
    // 30k-merge build would hold ~60k cached RDDs)
    val w = Bpe.wordTable(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def peak(merges: Int): (Int, Seq[(Int, String, Long)]) = {
      var cached = 0
      val out = Bpe.trainDelta(w, merges, (_, _, _) =>
        cached = math.max(cached, spark.sparkContext.getPersistentRDDs.size))
      (cached, out)
    }
    val (peak4, _) = peak(4)
    val (peak16, merges) = peak(16)
    withClue(s"peak cached RDDs: 4 merges $peak4, 16 merges $peak16: ") {
      peak16 should be <= peak4
    }
    merges shouldBe Bpe.trainNaive(w, 16)
    spark.sparkContext.getPersistentRDDs.keySet shouldBe before
    Checkpoints.release(w)
  }

  test("delta trainer stays flat over 64+ merges: constant plan size, no wall-time creep") {
    // the production-geometry contract (a 30k-merge build is this loop,
    // longer): per-round localCheckpoints must hold the loop-carried
    // plans at a CONSTANT node count — any growth means round N replays
    // rounds 1..N−1 and per-round cost goes super-linear — and measured
    // per-round wall time must not trend up across the run (lineage
    // creep grows it exponentially; the generous 3x median bound rides
    // out shared-machine noise while catching any real trend)
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val w = Bpe.wordTable(d, "text")
    val rounds = Seq.newBuilder[(Int, Long, Int)]
    val merges = Bpe.trainDelta(w, 72, (s, ms, nodes) => rounds += ((s, ms, nodes)))
    merges should have size 72
    val rs = rounds.result()
    rs should have size 72
    // plan-size flatness: every round carries the same fixed plan shape
    rs.map(_._3).distinct should have size 1
    // wall-time flatness: the last quarter must not exceed 3x the median
    // of an early window (rounds 9-24, after JIT/codegen warm-up)
    def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
    val early = median(rs.slice(8, 24).map(_._2))
    val late  = median(rs.takeRight(16).map(_._2))
    info(s"plan nodes/round: ${rs.head._3}; per-round ms " +
      s"r1=${rs.head._2} r9-24median=$early last16median=$late " +
      s"max=${rs.map(_._2).max}")
    withClue(s"early-median ${early}ms late-median ${late}ms: ") {
      late should be <= early * 3
    }
  }
}

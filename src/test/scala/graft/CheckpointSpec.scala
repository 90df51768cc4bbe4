package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.Checkpoints

import graft.functions.{Clustering, Suffix}

/** Checkpoint ownership end to end: an operator that fails frees every
  * checkpoint it made, and the result of every checkpointing catalog
  * family owns exactly the checkpoints that `Checkpoints.release` frees.
  */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def persistent = spark.sparkContext.getPersistentRDDs.keySet

  test("connected components that exceed maxRounds leave no checkpoint behind") {
    // a 12-node path needs several propagation rounds; one is allowed, so
    // the guard throws after the edge and round-1 label cuts have landed
    val path = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val before = persistent
    val e = intercept[IllegalArgumentException](
      Clustering.connectedComponents(path, maxRounds = 1))
    e.getMessage should include("did not converge")
    persistent shouldBe before
  }

  test("a job cancelled mid-ladder leaves no checkpoint behind") {
    // this ladder runs 15 jobs; the first five precede its first
    // checkpoint, and when the 12th starts two checkpoints are resident
    val sc = spark.sparkContext
    val docs = Seq((1L, "abracadabra cadabra abracadabra"),
      (2L, "cadabra abra abracadabra"), (3L, "banana bandana")).toDF("id", "text")
    val before = persistent
    val jobs = new AtomicInteger
    val cancelTwelfth = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (jobs.incrementAndGet() == 12) sc.cancelJob(e.jobId)
    }
    sc.addSparkListener(cancelTwelfth)
    try intercept[Exception](Suffix.suffixRanks(docs, "id", "text").count())
    finally sc.removeSparkListener(cancelTwelfth)
    jobs.get should be >= 12
    persistent shouldBe before
  }

  // one catalog query per checkpointing operator family
  private val familyQueries = Seq(
    "suffix" -> "q_suffix_array",
    "CC" -> "q_dup_clusters",
    "MMR" -> "q_mmr_batched",
    "dsir select" -> "q_dsir_select",
    "BPE" -> "q_bpe_train",
    "Unigram" -> "q_unigram_refit",
    "MaxMatch" -> "q_maxmatch_tokenize",
    "PageRank" -> "q_textrank",
    "IVF-PQ" -> "q_ivfpq_sweep")

  test("each checkpointing family's result owns exactly what release frees") {
    TestSpark.withGraftSession { s =>
      val sc = s.sparkContext
      familyQueries.foreach { case (family, name) =>
        // start each query on a clean block manager
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        val q = Queries.all.find(_.name == name).get
        val result = q.spark(s, "/root/testdata/sf0.001")
        result.write.format("noop").mode("overwrite").save()
        Checkpoints.release(result)
        withClue(s"$family ($name): ") {
          sc.getPersistentRDDs shouldBe empty
        }
      }
    }
  }
}

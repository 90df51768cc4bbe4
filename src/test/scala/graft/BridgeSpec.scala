package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Checkpoints

/** Specs for the lineage-cut bridge entry and its owning scope. */
class BridgeSpec extends SparkSpec {

  private def persistent = spark.sparkContext.getPersistentRDDs.keySet

  test("declared hash partitioning: same results as the vanilla checkpoint, no exchange") {
    // skewed keys so a wrong partition assignment (declared layout ≠
    // physical layout) would split a group across partitions and break
    // the exchange-free aggregate below
    val df = spark.range(20000)
      .select((col("id") % lit(7) * col("id") % lit(97)).as("k"),
        col("id").as("v"))
      .repartition(16, col("k"))
    val before = persistent
    Checkpoints.scope { cp =>
      val plain = cp.checkpoint(df)
      val keyed = cp.checkpoint(df, Seq("k"))
      // the declared plan must expose hash(k): a groupBy over it plans
      // WITHOUT an exchange
      val agg = keyed.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange hashpartitioning"),
        s"declared partitioning not honored:\n$aggPlan")
      // and the exchange-free aggregate must equal the vanilla (shuffled)
      // aggregate bit-for-bit
      val exp = plain.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = agg.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      got shouldBe exp
    }
    persistent shouldBe before
  }

  test("declared key missing from output fails fast") {
    val df = spark.range(10).select(col("id").as("k")).repartition(4, col("k"))
    val e = intercept[RuntimeException](
      Checkpoints.scope(_.checkpoint(df, Seq("nope"))))
    e.getMessage should include("declared hash key")
  }

  test("a scope frees what its result does not read, and release frees the rest") {
    val before = persistent
    val out = Checkpoints.scope { cp =>
      val a = cp.checkpoint(spark.range(100).toDF("x"))
      val b = cp.checkpoint(a.select((col("x") * 2).as("y")))
      cp.checkpoint(b.filter(col("y") > 10), eager = false)
    }
    // the lazy result reads its own cut and, through its lineage, b —
    // but not a, whose rows b already holds
    (persistent -- before).size shouldBe 2
    out.count() shouldBe 94L
    Checkpoints.release(out)
    persistent shouldBe before
  }

  test("a nested scope hands what its result reads to the enclosing scope") {
    val before = persistent
    val n = Checkpoints.scope { _ =>
      val inner = Checkpoints.scope(_.checkpoint(spark.range(50).toDF("x")))
      (persistent -- before).size shouldBe 1
      inner.count()
    }
    n shouldBe 50L
    // the outer result is a number: the adopted checkpoint is freed
    persistent shouldBe before
  }

  test("counting cut: the predicate count rides the materializing job") {
    val (df, n) = Checkpoints.scope(_.checkpointCounting(
      spark.range(1000).select((col("id") % 3 === 0).as("f")), r => r.getBoolean(0)))
    n shouldBe 334L
    df.count() shouldBe 1000L
    Checkpoints.release(df)
  }
}

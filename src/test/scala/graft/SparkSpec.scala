package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local session for all specs (small core/partition counts so the
  * tiny test datasets don't pay 32-way shuffle overhead).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The catalog assumes the product session (GraftExtensions for the
    * range-join rewrite, nanosAsLong for the events table); the shared
    * TestSpark session predates both, so catalog specs run under a sibling session
    * on the same context, defaults restored after.
    */
  def withGraftSession[A](body: SparkSession => A): A = {
    TestSpark.spark // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    try body(s)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(TestSpark.spark)
      SparkSession.setActiveSession(TestSpark.spark)
    }
  }
}

trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = TestSpark.spark

  // registered for recursive deletion at JVM exit so repeated sbt test
  // runs don't accumulate orphan spec dirs in /tmp (same registry the
  // catalog's nonce store dirs use)
  def tmpDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix).toString
    graft.functions.Stores.registerScratch(p)
    p
  }
}

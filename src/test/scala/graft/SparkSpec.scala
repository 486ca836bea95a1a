package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM; Test/fork=true). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // plan assertions read PushedFilters/ReadSchema out of
      // executedPlan.toString; the 100-char metadata default truncates
      // longer filter lists mid-name
      .config("spark.sql.maxMetadataStringLength", "2000")
      // the generated-code cache graft sessions run with; static, so this
      // first session of the test JVM fixes it for every suite
      .config("spark.sql.codegen.cache.maxEntries",
        GraftSession.CodegenCacheEntries.toString)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def sf: String = TestSession.sf

  /** Runs `call` and asserts it left the session's persistent RDDs as
    * it found them: a call that returns no frame may retain no pin. */
  def unpinned[T](call: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val out = call
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before,
      "the call left pinned RDDs behind")
    out
  }
}

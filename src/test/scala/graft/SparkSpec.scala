package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's default test execution). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.builder()
      .master("local[8]")
      .appName("graft-test")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"

  /** Mirror the harness release contract at the suite boundary: drain
    * the handoff frames and RDD-level block registry a suite's operator
    * calls registered, so one suite's local-checkpoint blocks (held by
    * strong registry references — ContextCleaner can never GC them)
    * don't surface as phantom leaks in the next suite's assertions. */
  override protected def afterAll(): Unit = {
    graft.queries.Handoff.releaseAll()
    super.afterAll()
  }
}

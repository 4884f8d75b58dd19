package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite wall-clock sane). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the shipped session config (GraftSession) runs with the graft
      // extensions active; tests run the same way so specs exercise the
      // injectOptimizerRule / injectFunction wiring end-to-end
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the bounded-table windows (PlanSpec-audited: every un-partitioned
    // window reads an aggregate, never raw rows) spam one WARN per
    // plan; the bench harness already mutes them — mute the test JVM
    // too so real warnings stay visible in `sbt test` output
    graft.core.GraftSession.muteBoundedWindowWarning()
    graft.core.GraftSession.muteReleaseWarning()
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  lazy val sf: String = TestSession.sf0001
}

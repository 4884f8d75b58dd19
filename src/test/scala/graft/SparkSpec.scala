package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import graft.core.{Fs, GraftSession}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite wall-clock sane): the shipped `GraftSession.local`, so specs
  * run the graft extensions, the vector UDAFs and the session config
  * every main runs. Its warehouse is a temporary directory, deleted
  * when the JVM exits, so persisted indexes a spec builds never land in
  * the checkout. */
object TestSession {
  lazy val spark: SparkSession = {
    val warehouse = Files.createTempDirectory("graft-test-warehouse")
    sys.addShutdownHook(Fs.deleteRecursively(warehouse.toFile))
    System.setProperty("spark.sql.warehouse.dir", warehouse.toString)
    val s = GraftSession.local(4)
    // the bounded-table windows (PlanSpec-audited: every un-partitioned
    // window reads an aggregate, never raw rows) spam one WARN per
    // plan; the bench harness already mutes them — mute the test JVM
    // too so real warnings stay visible in `sbt test` output
    GraftSession.muteBoundedWindowWarning()
    GraftSession.muteReleaseWarning()
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark
  lazy val sf: String = TestSession.sf0001

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A new temporary directory, deleted with everything under it after
    * the suite. */
  protected def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  /** Spark jobs `f` launches, counted by a listener once the bus has
    * delivered every event. */
  protected def jobsOf(f: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { f; ListenerBusDrain(spark.sparkContext); jobs.get }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => Fs.deleteRecursively(d.toFile))
    finally super.afterAll()
}

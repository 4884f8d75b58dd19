package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Run-metrics surface (reference R20, etl_connector.py:209-239): the
  * observe() counters Pipeline.validate attaches are retrievable
  * through a QueryExecutionListener — the Spark-native replacement for
  * the reference's per-run processed-count log lines. */
class ObservabilitySpec extends SparkSpec {
  import spark.implicits._

  test("validate's observe metric reports the valid-row count (R20)") {
    val observed = new ConcurrentLinkedQueue[Long]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get("etl").foreach { row =>
          observed.add(row.getAs[Long]("valid_rows"))
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = Seq(
        (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "{}"),
        (null.asInstanceOf[java.sql.Timestamp], "{}"),
        (java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), "{}"))
        .toDF("ingestion_timestamp", "raw")
      val (valid, _) = graft.etl.Pipeline.validate(df)
      assert(valid.count() === 2L)
      // listener delivery is async relative to the action
      var waited = 0
      while (observed.isEmpty && waited < 50) { Thread.sleep(100); waited += 1 }
      assert(observed.asScala().exists(_ == 2L),
        s"expected observed valid_rows=2, got ${observed}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("Pipeline.run: 2 jobs into an empty snapshot, 3 into an existing one") {
    val fixtures = getClass.getResource("/pages").getPath
    val cfg = graft.etl.EtlConfig(apiKey = "test-key")
    val snap = tempDir("graft-run-jobs").resolve("snap").toString
    assert(jobsOf(graft.etl.Pipeline.run(spark, fixtures, snap, cfg)) === 2)
    assert(jobsOf(graft.etl.Pipeline.run(spark, fixtures, snap, cfg)) === 3)
  }

  test("building a q* query launches no job once each table has been loaded") {
    graft.core.Tables.all.foreach(graft.core.Tables.load(spark, sf, _))
    val core = SparkEntry.queries.keys.filter(_.startsWith("q")).toSeq.sorted
    assert(core.size === 22)
    val jobs = core.map(q => q -> jobsOf(SparkEntry.queries(q)(spark, sf))).filter(_._2 != 0)
    assert(jobs.isEmpty, s"jobs launched while building: ${jobs.mkString(", ")}")
  }

  private implicit class QAsScala(q: ConcurrentLinkedQueue[Long]) {
    def asScala(): Seq[Long] = {
      val it = q.iterator(); val buf = scala.collection.mutable.ArrayBuffer[Long]()
      while (it.hasNext) buf += it.next()
      buf.toSeq
    }
  }

  test("approx_percentile sketch brackets the exact percentile") {
    val docs = graft.core.Tables.documents(spark, sf)
    val row = docs.agg(
      expr("approx_percentile(n_chars, 0.5, 1000)").as("approx"),
      expr("percentile(n_chars, 0.5)").as("exact")).head()
    val approx = row.getLong(0).toDouble
    val exact = row.getDouble(1)
    assert(math.abs(approx - exact) / exact < 0.1,
      s"approx=$approx exact=$exact")
  }
}

package graft

import graft.operators.Dedup

/** The shared run settings of every main: parsing and validation as
  * pure functions of an environment map, and the cleanup Bench and
  * Verify run between queries. */
class HarnessSpec extends SparkSpec {

  test("subset: unset is no subset, unknown names fail listed, probe names pass") {
    assert(Harness.subset(Bench.runnable.keySet, Map.empty) === None)
    assert(Harness.subset(Bench.runnable.keySet, Map("SPARK_GRAFT_ONLY" -> " q03_filter_pred, k_core,")) ===
      Some(Set("q03_filter_pred", "k_core")))
    val e = intercept[IllegalArgumentException](
      Harness.subset(Bench.runnable.keySet, Map("SPARK_GRAFT_ONLY" -> "q03_filter_pred,nope_b,nope_a")))
    assert(e.getMessage.contains("SPARK_GRAFT_ONLY") && e.getMessage.contains("nope_a, nope_b"))
    // Verify knows only the board: a probe name is unknown there
    intercept[IllegalArgumentException](
      Harness.subset(SparkEntry.queries.keySet, Map("SPARK_GRAFT_ONLY" -> "k_core")))
  }

  test("cores: host default, override, and rejection of 0 and non-integers") {
    assert(Harness.cores(Map.empty) === Runtime.getRuntime.availableProcessors())
    assert(Harness.cores(Map("SPARK_GRAFT_CPUS" -> "3")) === 3)
    for (bad <- Seq("0", "-2", "abc", "")) {
      val e = intercept[IllegalArgumentException](Harness.cores(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
    assert(Harness.reps(Map.empty) === 3)
    for (bad <- Seq("0", "x")) {
      val e = intercept[IllegalArgumentException](Harness.reps(Map("SPARK_GRAFT_REPS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_REPS"), e.getMessage)
    }
  }

  test("no probe name shadows a board query") {
    assert(Bench.probes.keySet.intersect(SparkEntry.queries.keySet).isEmpty)
  }

  test("release drops operator caches and checkpoints, persistent RDDs and the SQL cache") {
    import spark.implicits._
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    Harness.release(spark, blocking = true) // leftovers of earlier suites
    assert(cacheManager.isEmpty)
    // an operator-created cache: minHashLsh persists its shingle table
    val docs = Seq(1L -> "a b c d e", 2L -> "a b c d f", 3L -> "x y z")
      .toDF("doc_id", "text")
    Dedup.minHashLsh(docs, shingleK = 2, minPermille = 500).count()
    assert(!cacheManager.isEmpty, "minHashLsh should hold its shingle table")
    // an operator-created checkpoint: connectedComponents' final round
    val labels = Dedup.connectedComponents((1L until 8L).map(i => (i, i + 1)).toDF("da", "db"))
    assert(labels.collect().length === 8)
    assert(spark.sparkContext.getPersistentRDDs.contains(Dedup.lastFixpointCheckpointIds.last))
    // a plain Dataset cache and a persisted RDD (as an ML cache is)
    spark.range(10).toDF("id").cache().count()
    spark.sparkContext.parallelize(1 to 3).persist().count()
    Harness.release(spark, blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(cacheManager.isEmpty)
  }
}

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

  test("release drops the dedup registry, every persistent RDD and the SQL cache") {
    import spark.implicits._
    Dedup.registerCache(spark.range(100).toDF()).count()
    Dedup.connectedComponents((1L until 8L).map(i => (i, i + 1)).toDF("da", "db")).collect()
    // what a query can hold outside the registry: a plain Dataset
    // cache and a persisted RDD (as a localCheckpoint or ML cache is)
    spark.range(10).toDF("id").cache().count()
    spark.sparkContext.parallelize(1 to 3).persist().count()
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    assert(Dedup.liveCacheCount > 0 && Dedup.liveCheckpointCount > 0)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty && !cacheManager.isEmpty)
    Harness.release(spark, blocking = true)
    assert(Dedup.liveCacheCount === 0)
    assert(Dedup.liveCheckpointCount === 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(cacheManager.isEmpty)
  }
}

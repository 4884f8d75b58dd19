package graft

import graft.operators.{Dedup, Graph}

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def pairs(es: (Long, Long)*) = es.toDF("da", "db")

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Local replay of the exact iteration the operator runs. */
  private def reference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val sym = (edges ++ edges.map(e => (e._2, e._1))).distinct
    val deg = sym.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = deg.size
    var r = deg.keys.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters)
      r = deg.keys.map { v =>
        val m = sym.filter(_._2 == v).map { case (s, _) => r(s) / deg(s) }.sum
        v -> ((1.0 - 0.85) / n + 0.85 * m)
      }.toMap
    r.map { case (k, v) => k -> math.floor(v * 1000000 + 0.5).toLong }
  }

  test("pageRank: path-graph center ranks highest; matches local replay") {
    val out = Graph.pageRank(pairs((1L, 2L), (2L, 3L)), iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Harness.release(spark, blocking = false)
    val ref = reference(Seq((1L, 2L), (2L, 3L)), 10)
    assert(out === ref)
    assert(out(2L) > out(1L) && out(1L) === out(3L))
  }

  test("pageRank: star hub dominates; ranks sum to ~1e6 (no dangling loss)") {
    val star = pairs((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
    val out = Graph.pageRank(star, iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Harness.release(spark, blocking = false)
    assert(out(1L) > out(2L))
    assert(out(2L) === out(5L))
    val total = out.values.sum
    assert(math.abs(total - 1000000L) <= out.size,
      s"rank mass should be conserved, got $total")
  }

  test("pageRank is partition-invariant") {
    val p = pairs((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (4L, 5L))
    val a = Graph.pageRank(p, iterations = 10).collect().toSeq
    val b = Graph.pageRank(p.repartition(7), iterations = 10).collect().toSeq
    Harness.release(spark, blocking = false)
    assert(a === b)
  }

  test("pageRank: 50 iterations stay plan-shallow via checkpoints; blocks released") {
    val p = pairs((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    val before = persistedIds
    val ranked = Graph.pageRank(p, iterations = 50)
    // lineage truncation is visible BEFORE execution: the plan since
    // the last checkpoint holds at most checkpointEvery rank joins —
    // un-truncated, 50 chained rounds would put ~50 joins here
    val joins = ranked.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size
    assert(joins <= 10, s"expected a checkpoint-truncated plan, found $joins joins")
    val out = ranked.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // intermediate checkpoints are freed INLINE as each round bakes
    // them into the next; only the edge blocks and the final rank
    // checkpoint (which back the returned plan) stay held
    val held = persistedIds -- before
    assert(held.size >= 1 && held.size <= 3,
      s"only result-backing checkpoints should stay held, got ${held.size}")
    Harness.release(spark, blocking = false)
    assert((persistedIds intersect held).isEmpty, "release must free every checkpoint")
    assert(out === reference(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)), 50))
    // rank mass still conserved after 50 rounds
    assert(math.abs(out.values.sum - 1000000L) <= out.size)
  }

  test("results keep their checkpoint blocks alive through GC") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (4L, 5L), (6L, 7L))
    val ranked = Graph.pageRank(pairs(edges: _*), iterations = 6, checkpointEvery = 2)
    val labels = Dedup.connectedComponents(pairs(edges: _*))
    // only the two results reach their blocks now; let the
    // ContextCleaner free everything else the operators checkpointed
    val deadline = System.nanoTime() + 2000000000L
    for (_ <- 1 to 5 if System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(ranked.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      reference(edges, 6))
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      ((1L to 5L).map(_ -> 1L) ++ Seq(6L -> 6L, 7L -> 6L)).toMap)
    Harness.release(spark, blocking = false)
  }

  test("pageRank: checkpoint interval does not change the numbers") {
    val p = pairs((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (4L, 5L))
    val a = Graph.pageRank(p, iterations = 12, checkpointEvery = 3).collect().toSeq
    val b = Graph.pageRank(p, iterations = 12, checkpointEvery = 100).collect().toSeq
    Harness.release(spark, blocking = false)
    assert(a === b)
  }

  test("degree-ordered orientation shrinks the wedge join on a hub graph") {
    import org.apache.spark.sql.functions.{col, least, greatest}
    // hub 15 sits mid-range by ID with 30 spokes, so id-ordering gives
    // it ~15 in × ~15 out ≈ 225 wedge-join rows; degree-ordering makes
    // every spoke point AT the hub (out-degree 0) — a handful of rows
    // from the two triangle-closing edges remain
    val spokes = (0L to 30L).filter(_ != 15L).map(i => (i, 15L))
    val e = (spokes ++ Seq((1L, 2L), (2L, 3L))).toDF("da", "db")
      .select(least(col("da"), col("db")).as("a"),
        greatest(col("da"), col("db")).as("b")).distinct()
    val byId = Graph.wedgeJoinMass(Graph.orientEdges(e, byDegree = false))
    val byDeg = Graph.wedgeJoinMass(Graph.orientEdges(e, byDegree = true))
    assert(byDeg < byId,
      s"degree orientation must shrink the wedge join: byDeg=$byDeg byId=$byId")
    assert(byId >= 200L, "the id-ordered hub blowup should be visible")
    assert(byDeg <= 10L, s"degree orientation should defuse the hub, got $byDeg")
    // and the counts themselves are orientation-invariant: triangles
    // 1-2-15 and 2-3-15 (spoke edges close both wedges through the hub)
    val tri = Graph.triangleCounts((spokes ++ Seq((1L, 2L), (2L, 3L))).toDF("da", "db"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tri === Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 15L -> 2L))
  }

  test("pageRank rejects empty graphs and bad parameters") {
    intercept[IllegalArgumentException](
      Graph.pageRank(pairs((1L, 2L)), iterations = 0))
    intercept[IllegalArgumentException](
      Graph.pageRank(pairs((1L, 2L)), damping = 1.0))
    intercept[IllegalArgumentException](
      Graph.pageRank(pairs()))
  }

  test("triangleCounts: one triangle plus a pendant edge") {
    // K3 on {1,2,3} + edge 3-4: nodes 1,2,3 in one triangle, 4 in none
    val out = Graph.triangleCounts(
      pairs((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangleCounts: K4 has 3 triangles per node; orientation dedupes") {
    // every K4 node sits in C(3,2) = 3 triangles; pairs given in mixed
    // orientation with a duplicate must not inflate counts
    val out = Graph.triangleCounts(
      pairs((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (4L, 2L), (3L, 4L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("graphSummary: K3 + pendant — exact counts and coefficient") {
    // deg = (2,2,3,1): wedges = 1+1+3+0 = 5, triangles = 1, gcc = 600
    val row = Graph.graphSummary(
      pairs((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))).collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
      === ((4L, 4L, 5L, 1L, 600L)))
  }

  test("graphSummary: wedge-free graph yields NULL coefficient") {
    val row = Graph.graphSummary(pairs((1L, 2L), (3L, 4L))).collect()(0)
    assert((row.getLong(2), row.getLong(3)) === ((0L, 0L)))
    assert(row.isNullAt(4))
  }

  test("degreeHistogram: K3 + pendant, duplicate orientations collapse") {
    val out = Graph.degreeHistogram(
      pairs((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 4L)))
      .as[(Long, Long)].collect().toSeq
    // degrees: 1→2, 2→2, 3→3, 4→1
    assert(out === Seq((1L, 1L), (2L, 2L), (3L, 1L)))
  }

  test("twoHopCounts: path graph — each end reaches one node two hops out") {
    val out = Graph.twoHopCounts(pairs((1L, 2L), (2L, 3L), (3L, 4L)))
      .as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("twoHopCounts: direct neighbors and self never count; zeros report") {
    // K3: every 2-hop destination is already a 1-hop neighbor → all 0
    assert(Graph.twoHopCounts(pairs((1L, 2L), (2L, 3L), (1L, 3L)))
      .as[(Long, Long)].collect().toSeq
      === Seq((1L, 0L), (2L, 0L), (3L, 0L)))
    // star: leaves see the other two leaves; the hub sees nothing new
    assert(Graph.twoHopCounts(pairs((1L, 2L), (1L, 3L), (1L, 4L)))
      .as[(Long, Long)].collect().toSeq
      === Seq((1L, 0L), (2L, 2L), (3L, 2L), (4L, 2L)))
  }

  test("localClustering: clique, hub, and pendant cases") {
    // triangle 1-2-3 plus pendant 4 hanging off 3
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("da", "db")
    val out = Graph.localClustering(pairs)
      .as[(Long, Long, Long, Option[Long])].collect().toSeq
    assert(out === Seq(
      (1L, 2L, 1L, Some(1000L)),  // both neighbors connected
      (2L, 2L, 1L, Some(1000L)),
      (3L, 3L, 1L, Some(333L)),   // 1 of C(3,2)=3 wedges closed
      (4L, 1L, 0L, None)))        // deg 1: no wedge to close → NULL
  }

  test("localClustering: triangle-free star reads all zeros (deg ≥ 2)") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("da", "db")
    val out = Graph.localClustering(star)
      .as[(Long, Long, Long, Option[Long])].collect().toSeq
    assert(out === Seq(
      (1L, 3L, 0L, Some(0L)), // the hub: wedges exist, none closed
      (2L, 1L, 0L, None), (3L, 1L, 0L, None), (4L, 1L, 0L, None)))
  }

  test("labelPropagation separates two bridged triangles (where CC glues them)") {
    // K3 {1,2,3} + K3 {4,5,6} joined by the single bridge 3–4:
    // connectedComponents gives ONE component; LPA keeps two
    // locally-dense communities. Hand trace (4 synchronous rounds,
    // most-frequent-neighbor-label, min on ties):
    //   r1 [2,1,1,3,4,4] → r2 [1,1,1,4,3,3] → r3 [1,1,1,3,3,3]
    //   → r4 fixed [1,1,1,3,3,3]
    val g = pairs((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val out = Graph.labelPropagation(g, iterations = 4)
      .as[(Long, Long)].collect().toSeq
    assert(out === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
    val cc = Dedup.connectedComponents(g)
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet.size === 1, "CC must glue the bridge into one")
  }

  test("labelPropagation ties adopt the smallest label") {
    // path 1–2–3: node 2 sees labels {1, 3} once each → min = 1
    val out = Graph.labelPropagation(pairs((1L, 2L), (2L, 3L)), iterations = 1)
      .as[(Long, Long)].collect().toMap
    assert(out(2L) === 1L)
  }

  test("kCore: the 2-core keeps the triangle and peels the tail") {
    // triangle {1,2,3} + tail 3–4–5: round 1 drops 5 (deg 1), round 2
    // drops 4 (deg fell to 1 when 5 left), rounds 3–4 are stable —
    // converged, so the result IS the true 2-core with degrees inside it
    val g = pairs((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
    val out = Graph.kCore(g, k = 2, rounds = 4)
      .as[(Long, Long)].collect().toSeq
    assert(out === Seq(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("triangle family reads materialized edge plans (x100/x101 regression guard)") {
    // r9 regression: triangleCounts/graphSummary/localClustering left
    // canonicalEdges and the oriented edge list UNCACHED, so each of the
    // wedge join's three sides re-executed the whole upstream pair
    // pipeline (for LSH-mined pairs: full mining per reference — x100
    // went 1.34 s → 15.6 s at sf0.1). r12 strengthened the contract:
    // lazy InMemoryRelation still let independent stages race to
    // compute the shared plan before the cache filled (x146's 12.8 s
    // rep outlier), so the shared tables are now EAGER localCheckpoints
    // — the plan's leaf references to the pair input must all be
    // concrete LogicalRDD leaves, held until release.
    import org.apache.spark.sql.execution.LogicalRDD
    def concreteLeaves(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case r: LogicalRDD => r }.size
    // the checkpoints a result's plan reads: the ContextCleaner may free
    // any other block of the operator, but never these
    def readIds(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.optimizedPlan.collect { case r: LogicalRDD => r.rdd.id }.toSet
    val g = pairs((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    Harness.release(spark, blocking = false) // drain leftovers from earlier tests in the suite

    // wedge join: ab/bc/ac all read the MATERIALIZED oriented list
    val tri = Graph.triangleCounts(g)
    assert(concreteLeaves(tri) >= 3,
      "triangleCounts must read the materialized oriented edges on every join side")
    assert(readIds(tri).subsetOf(persistedIds), "the oriented blocks must be held")
    Harness.release(spark, blocking = false)

    val summary = Graph.graphSummary(g)
    assert(concreteLeaves(summary) >= 4,
      "graphSummary must read materialized degree + oriented edges everywhere")
    assert(readIds(summary).size >= 2 && readIds(summary).subsetOf(persistedIds),
      "degree + oriented blocks must be held")
    Harness.release(spark, blocking = false)

    assert(concreteLeaves(Graph.localClustering(g)) >= 4,
      "localClustering must read materialized degree + oriented edges everywhere")
    Harness.release(spark, blocking = false)

    assert(concreteLeaves(Graph.degreeHistogram(g)) >= 2,
      "degreeHistogram's endpoint union must read the materialized edge list twice")
    Harness.release(spark, blocking = false)

    assert(concreteLeaves(Graph.twoHopCounts(g)) >= 4,
      "twoHopCounts must read the materialized symmetrized edges on all four sides")
    Harness.release(spark, blocking = false)
    assert(persistedIds.isEmpty, "release must free every checkpoint")
  }

  test("kCore: a pure chain peels to nothing at k = 2") {
    val out = Graph.kCore(pairs((1L, 2L), (2L, 3L)), k = 2, rounds = 4)
      .collect()
    assert(out.isEmpty)
  }

  test("ancestors: 3-level chain flattens with hop counts, depth bound holds") {
    val edges = Seq((100L, 10L), (10L, 1L), (1L, 0L))
      .toDF("child", "parent")
    val out = Graph.ancestors(edges, maxDepth = 3)
      .as[(Long, Long, Long)].collect().toSeq
    Harness.release(spark, blocking = false)
    assert(out === Seq(
      (1L, 0L, 1L),
      (10L, 1L, 1L), (10L, 0L, 2L),
      (100L, 10L, 1L), (100L, 1L, 2L), (100L, 0L, 3L)))
    val shallow = Graph.ancestors(edges, maxDepth = 1)
      .as[(Long, Long, Long)].collect().toSeq
    Harness.release(spark, blocking = false)
    assert(shallow.forall(_._3 === 1L) && shallow.size === 3)
    intercept[IllegalArgumentException] { Graph.ancestors(edges, 0) }
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.{Clustering, Profiling, TextAnalysis}
import graft.core.Layout

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("kmeans: two obvious blobs split into two clusters") {
    val df = vecs(
      0L -> Seq(0.0f, 0.0f), 1L -> Seq(10.0f, 10.0f),
      2L -> Seq(0.1f, -0.1f), 3L -> Seq(9.9f, 10.1f),
      4L -> Seq(0.05f, 0.02f), 5L -> Seq(10.2f, 9.8f))
    val out = Clustering.kmeans(df, "vec_id", "embedding", k = 2, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // seeds are ids 0 (origin blob) and 1 (far blob)
    assert(out(0L) === out(2L) && out(2L) === out(4L))
    assert(out(1L) === out(3L) && out(3L) === out(5L))
    assert(out(0L) !== out(1L))
  }

  test("kmeans: assignment argmin breaks distance ties on lowest centroid index") {
    // point 2 is equidistant (in quantized micros) from both seeds
    val df = vecs(
      0L -> Seq(-1.0f), 1L -> Seq(1.0f), 2L -> Seq(0.0f))
    val out = Clustering.kmeans(df, "vec_id", "embedding", k = 2, iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(2L) === 0) // tie → cluster 0
  }

  test("kmeans: fixed-point trajectory matches a local integer replay") {
    val data = Seq(
      0L -> Seq(0.3f, -1.2f), 1L -> Seq(2.5f, 0.7f), 2L -> Seq(-0.4f, 0.9f),
      3L -> Seq(1.1f, 1.1f), 4L -> Seq(-2.2f, 0.15f), 5L -> Seq(0.8f, -0.33f),
      6L -> Seq(1.9f, 2.4f), 7L -> Seq(-1.5f, -1.5f))
    val k = 3; val iters = 2
    // local replay in exact integer arithmetic
    def quant(v: Seq[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1000000.0 + 0.5).toLong).toArray
    val q = data.map { case (id, v) => id -> quant(v) }.toMap
    var cents: Array[Array[Long]] =
      data.sortBy(_._1).take(k).map(r => quant(r._2)).toArray
    def assign(): Map[Long, Int] = q.map { case (id, v) =>
      id -> cents.zipWithIndex.map { case (c, i) =>
        (v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }.min._2
    }
    for (_ <- 1 to iters) {
      val byC = assign().groupBy(_._2)
      cents = cents.indices.map { c =>
        byC.get(c) match {
          case Some(members) =>
            val vs = members.keys.map(q).toArray
            (0 until 2).map(d => math.floor(
              vs.map(_(d)).sum.toDouble / vs.length + 0.5).toLong).toArray
          case None => cents(c)
        }
      }.toArray
    }
    val expected = assign()
    val out = Clustering.kmeans(data.toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = k, iterations = iters)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === expected)
  }

  test("kmeans: assignment pass plans without a shuffle (broadcast-literal centroids)") {
    val df = vecs(0L -> Seq(0.0f), 1L -> Seq(1.0f), 2L -> Seq(2.0f))
    val out = Clustering.kmeans(df, "vec_id", "embedding", k = 2, iterations = 1)
    // the RETURNED frame is the final assignment: scan + project + sort
    // only — the centroid literals must not drag in joins or aggregates
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"final assignment should not hash-shuffle:\n$plan")
  }

  test("kmeans: rejects k larger than the input") {
    val df = vecs(0L -> Seq(0.0f))
    val e = intercept[IllegalArgumentException](
      Clustering.kmeans(df, "vec_id", "embedding", k = 3, iterations = 1))
    assert(e.getMessage.contains("need at least k"))
  }

  test("madOutliers: flags the planted length outlier, not the bulk") {
    val docs = ((1 to 20).map(i => (i.toLong, ("w " * 10).trim, "en")) :+
      (99L, ("w " * 500).trim, "en"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.madOutliers(docs).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(99L))
    assert(out.head.getLong(2) === 500L) // n_tok of the outlier
  }

  test("madOutliers: zero MAD (constant group) flags every deviating doc") {
    val docs = (Seq.fill(5)(("w " * 10).trim).zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en") } :+
      (50L, ("w " * 11).trim, "en"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.madOutliers(docs).collect().map(_.getLong(0))
    assert(out.toSeq === Seq(50L))
  }

  test("zValue: interleaves bits (known values) and matches a local reference") {
    val ref = (a: Long, b: Long, bits: Int) =>
      (0 until bits).map(i =>
        (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))).reduce(_ | _)
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (255L, 255L), (170L, 85L))
    val out = rows.toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"), 8).as("z"))
      .collect().map(_.getLong(0))
    assert(out.toSeq === rows.map { case (a, b) => ref(a, b, 8) })
    // spot values: z(1,0)=1, z(0,1)=2, z(255,255)=65535
    assert(ref(1L, 0L, 8) === 1L && ref(0L, 1L, 8) === 2L &&
      ref(255L, 255L, 8) === 65535L)
  }

  test("zOrderBy: sorted output is contiguous in z within partitions") {
    val df = (for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b))
      .toDF("a", "b")
    val z = Layout.zOrderBy(df, "a", "b", bits = 4, partitions = 2)
    val perPart = z.select(
        spark_partition_id().as("p"), Layout.zValue(col("a"), col("b"), 4).as("zv"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    perPart.groupBy(_._1).foreach { case (_, rs) =>
      val zs = rs.map(_._2).toSeq
      assert(zs === zs.sorted, "z values must be sorted within each partition")
    }
    // range partitioning: partitions hold disjoint z ranges
    val ranges = perPart.groupBy(_._1).view.mapValues(rs => (rs.map(_._2).min, rs.map(_._2).max))
    val sorted = ranges.values.toSeq.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi <= lo)
      case _ =>
    }
  }

  test("profile: per-column rows/nulls/distincts") {
    val df = Seq(
      (Some(1L), Some("a")), (Some(2L), Some("a")), (Some(2L), None), (None, Some("b")))
      .toDF("id", "s")
    val out = Profiling.profile(df, Seq("id", "s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("id") === ((4L, 1L, 2L)))
    assert(out("s") === ((4L, 1L, 2L)))
  }

  test("profile: single aggregation pass (one job-side agg, no per-column scans)") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val plan = Profiling.profile(df, Seq("id", "s")).queryExecution.executedPlan.toString
    // multi-distinct goes through ONE Expand over ONE scan of the
    // input, not one aggregation sub-plan per column
    assert(plan.contains("Expand"), s"expected a single Expand-based multi-distinct:\n$plan")
    assert(!plan.contains("Union"), s"profile must not union per-column scans:\n$plan")
  }

  test("profile: unknown column fails loudly") {
    val df = Seq((1L, "a")).toDF("id", "s")
    val e = intercept[IllegalArgumentException](Profiling.profile(df, Seq("nope")))
    assert(e.getMessage.contains("nope"))
  }

  test("histogram: equal bins over [lo, hi), out-of-range clamps to edge bins") {
    val df = Seq(-5L, 0L, 9L, 10L, 19L, 95L, 99L, 200L).toDF("v")
    val out = Profiling.histogram(df, "v", lo = 0L, hi = 100L, nbins = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // -5 clamps to bin 0; 0,9 -> bin 0; 10,19 -> bin 1; 95,99 -> bin 9;
    // 200 clamps to bin 9
    assert(out === Map(0L -> 3L, 1L -> 2L, 9L -> 3L))
  }

  test("histogram: nulls excluded, empty bins absent") {
    val df = Seq(Some(5L), None, Some(5L)).toDF("v")
    val out = Profiling.histogram(df, "v", 0L, 100L, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(0L -> 2L))
  }

  test("psiDrift: identical populations score exactly zero in every bin") {
    val df = Seq(5L, 15L, 15L, 95L).toDF("v")
    val rows = Profiling.psiDrift(df, df, "v", 0L, 100L, 10).collect()
    // full spine: all 10 bins present, empty ones included
    assert(rows.map(_.getLong(0)).toSeq === (0L until 10L))
    // p_base ≡ p_next ⇒ (p−q)=0 and ln(ratio)=ln(1)=0 exactly
    assert(rows.forall(_.getLong(3) === 0L))
  }

  test("psiDrift: matches the naive per-bin formula on a shifted population") {
    val base = Seq(5L, 5L, 15L, 15L, 15L, 95L).toDF("v")
    val next = Seq(5L, 95L, 95L, 95L, 85L).toDF("v")
    val out = Profiling.psiDrift(base, next, "v", 0L, 100L, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val baseCounts = Map(0L -> 2L, 1L -> 3L, 9L -> 1L)
    val nextCounts = Map(0L -> 1L, 8L -> 1L, 9L -> 3L)
    out.foreach { case (bin, nb, nn, psi) =>
      assert(nb === baseCounts.getOrElse(bin, 0L))
      assert(nn === nextCounts.getOrElse(bin, 0L))
      val p = (nb + 1.0) / (6 + 10)
      val q = (nn + 1.0) / (5 + 10)
      val expect = math.floor(
        (p - q) * math.log(((nb + 1.0) * (5 + 10)) / ((nn + 1.0) * (6 + 10))) * 1e6 + 0.5).toLong
      assert(psi === expect, s"bin $bin")
    }
    // the drift is real: mass moved from bin 1 to bin 9, so those
    // contributions dominate and the headline sum is clearly positive
    assert(out.map(_._4).sum > 20000L)
  }

  test("psiDrift: nulls excluded, out-of-range values clamp like histogram") {
    val base = Seq(Some(-50L), Some(5L), None).toDF("v")
    val next = Seq(Some(500L), Some(95L), None).toDF("v")
    val out = Profiling.psiDrift(base, next, "v", 0L, 100L, 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) === ((2L, 0L)))   // -50 clamps into bin 0; null dropped
    assert(out(9L) === ((0L, 2L)))   // 500 clamps into bin 9
    assert(out.values.map(_._1).sum === 2L && out.values.map(_._2).sum === 2L)
  }
  test("semanticDedup: co-clustered near-identical vectors collapse to the min id") {
    // two well-separated blobs; in blob A ids 1,2,3 are a transitive
    // near-dup chain (cos > 0.999), id 4 is same-cluster but angularly
    // distinct; blob B ids 10,11 are near-identical
    val df = vecs(
      1L -> Seq(1.0f, 0.0f, 0.01f),
      2L -> Seq(1.0f, 0.0f, 0.02f),   // ~dup of 1
      3L -> Seq(1.0f, 0.0f, 0.03f),   // ~dup of 2 (chain -> one group)
      4L -> Seq(0.6f, 0.0f, 0.8f),    // same blob side, low cosine
      10L -> Seq(0.0f, 1.0f, 0.0f),
      11L -> Seq(0.0f, 1.0f, 0.001f))
    val out = Clustering.semanticDedup(df, "vec_id", "embedding",
        k = 2, iterations = 2, minPermille = 990L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) === 1L && out(2L) === 1L && out(3L) === 1L,
      "the chain collapses transitively to the minimum id")
    assert(out(4L) === 4L, "a same-cluster distinct vector survives")
    assert(out(10L) === 10L && out(11L) === 10L)
    Harness.release(spark, blocking = false)
  }

  test("semanticDedup: dedup happens independently per k-means cell") {
    // exact-dup seeds tie at distance 0 and the argmin tie-break puts
    // both in cell 0; the opposite-direction pair lands in cell 1 —
    // each cell collapses to its own minimum, nothing leaks across
    val df = vecs(
      1L -> Seq(1.0f, 0.0f),
      2L -> Seq(1.0f, 0.0f),
      3L -> Seq(-1.0f, 0.1f), 4L -> Seq(-1.0f, 0.2f))
    val out = Clustering.semanticDedup(df, "vec_id", "embedding",
        k = 2, iterations = 1, minPermille = 900L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) === 1L && out(2L) === 1L)
    assert(out(3L) === 3L && out(4L) === 3L)
    Harness.release(spark, blocking = false)
  }

  test("semanticDedup: k ≤ 0 auto-sizes k = ⌊√n⌋ (floor 16, clamp n) — " +
    "identical output to the explicit k at each operating point") {
    def run(df: org.apache.spark.sql.DataFrame, k: Int) = {
      val out = Clustering.semanticDedup(df, "vec_id", "embedding",
        k = k, iterations = 2, minPermille = 900L)
        .collect().map(r => (r.getLong(0), r.get(1), r.getLong(2))).toSeq
      Harness.release(spark, blocking = false)
      out
    }
    // 320 deterministic vectors (the x329 corpus size): √320 → 17
    val big = vecs((0L until 320L).map(i =>
      i -> Seq((i % 7).toFloat, (i % 11).toFloat, (i % 13).toFloat)): _*)
    assert(run(big, 0) === run(big, 17))
    // small corpus: the floor engages (√20 = 4 → 16)
    val small = vecs((0L until 20L).map(i =>
      i -> Seq(i.toFloat, (i % 3).toFloat)): _*)
    assert(run(small, 0) === run(small, 16))
    // tiny corpus: the n-clamp keeps kmeans satisfiable (16 > n = 5)
    val tiny = vecs((0L until 5L).map(i => i -> Seq(i.toFloat, 1.0f)): _*)
    assert(run(tiny, 0) === run(tiny, 5))
  }

  test("nearestCentroidEval: separable labels give a diagonal matrix; " +
    "a planted mislabel lands off-diagonal") {
    val df = Seq(
      (1L, Seq(1f, 0f), 0),  // label-0 mass near (1, 0)
      (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0f, 1f), 7),  // label-7 mass near (0, 1)
      (4L, Seq(0.1f, 0.9f), 7),
      (5L, Seq(0f, 1f), 0),  // mislabeled: a 0-row sitting on label-7 mass
      (6L, Seq(0.5f, 0.5f), 9) // NULL-label guard below uses id 7
    ).toDF("vec_id", "embedding", "label")
      .union(Seq((7L, Seq(9f, 9f), null.asInstanceOf[Integer]))
        .toDF("vec_id", "embedding", "label"))
    val out = Clustering
      .nearestCentroidEval(df, "vec_id", "embedding", "label")
      .as[(Long, Long, Long)].collect().toSeq
    // centroids: c0 = mean of rows 1,2,5; c7 = mean of 3,4; c9 = row 6.
    // c0 ≈ (633333, 366667), c7 = (50000, 950000), c9 = (500000, 500000).
    // row5 (0,1): d(c0) ≈ 0.80e12, d(c7) ≈ 0.005e12, d(c9) = 0.5e12 → 7.
    // rows 1,2: nearest c0; rows 3,4: nearest c7; row 6: exact c9.
    assert(out === Seq((0L, 0L, 2L), (0L, 7L, 1L), (7L, 7L, 2L), (9L, 9L, 1L)))
  }

  test("nearestCentroidEval: equidistant vector ties to the LOWEST label") {
    // c3 = (1e6, 0), c8 = (0, 1e6); label 9 = {(0.5, 0.5), (−1.5, −1.5)}
    // → c9 = (−5e5, −5e5). The probe (0.5, 0.5) sits at integer-exact
    // squared distances 5e11 from BOTH c3 and c8 (and 2e12 from its own
    // centroid) → the argmin tie must resolve to label 3, not 8.
    val df = Seq(
      (1L, Seq(1f, 0f), 3),
      (2L, Seq(0f, 1f), 8),
      (3L, Seq(0.5f, 0.5f), 9),
      (4L, Seq(-1.5f, -1.5f), 9)
    ).toDF("vec_id", "embedding", "label")
    val out = Clustering
      .nearestCentroidEval(df, "vec_id", "embedding", "label")
      .as[(Long, Long, Long)].collect().toSeq
    // row 4 (−1.5e6, −1.5e6): d(c9) = 2e12, d(c3) = 8.5e12, d(c8) = 8.5e12
    assert(out === Seq((3L, 3L, 1L), (8L, 8L, 1L),
      (9L, 3L, 1L), (9L, 9L, 1L)))
  }
}

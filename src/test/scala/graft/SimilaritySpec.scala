package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),  // closest to 1
    (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),  // orthogonal to 1
    (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f)), // opposite of 1
    (5L, Array(1.0f, 0.1f, 0.0f, 0.0f))   // also close to 1
  ).toDF("vec_id", "embedding")

  test("dot/cosine column math") {
    val row = vecs.filter($"vec_id" === 1).crossJoin(
      vecs.filter($"vec_id" === 4).select($"embedding".as("e2")))
      .select(Similarity.cosine(
        $"embedding".cast("array<double>"), $"e2".cast("array<double>")).as("c"))
      .head()
    assert(math.abs(row.getDouble(0) + 1.0) < 1e-9)
  }

  test("brute-force cosine top-k ranks by similarity, excludes self") {
    val out = Similarity.cosineTopK(vecs.filter($"vec_id" === 1), vecs, k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length === 3)
    // rank 1 must be vec 5 or 2 (cos ≈ .995 both); tie impossible here:
    // cos(1,2)=0.9/|(.9,.1)| = .9938..., cos(1,5)=1/sqrt(1.01)=.99503...
    assert(out(0)._1 === 5L)
    assert(out(1)._1 === 2L)
    assert(out(2)._1 === 3L) // orthogonal beats opposite
    assert(out.map(_._3).toSeq === out.map(_._3).toSeq.sorted.reverse)
  }

  test("knnLabelAudit: mislabel flagged by neighbor majority, null labels excluded") {
    val lv = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), Option(1)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.0f), Option(1)),
      (3L, Array(0.98f, 0.02f, 0.0f, 0.0f), Option(1)),
      (4L, Array(0.97f, 0.03f, 0.0f, 0.0f), Option(2)), // mislabeled
      (5L, Array(0.0f, 1.0f, 0.0f, 0.0f), Option(2)),
      (6L, Array(0.01f, 0.99f, 0.0f, 0.0f), Option(2)),
      (7L, Array(0.02f, 0.98f, 0.0f, 0.0f), Option(2)),
      (8L, Array(0.0f, 0.0f, 1.0f, 0.0f), Option.empty[Int])
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelAudit(lv, lv, k = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // vec 8 has no label — audited on neither side
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    // vec 4 sits inside the x-cluster: its 3 nearest are all label 1 →
    // majority disagrees with its own label 2 → suspect
    assert(out(4L) === ((2, 1, 0L, 3L, 1L)))
    // vec 1's neighbors are 2, 3 (label 1) and 4 (label 2) → majority 1
    assert(out(1L) === ((1, 1, 2L, 3L, 0L)))
    // vec 5's neighbors 6, 7 and the mislabeled 4 all carry label 2
    assert(out(5L) === ((2, 2, 3L, 3L, 0L)))
    assert(out.values.count(_._5 == 1L) === 1, "only the planted mislabel flags")
  }

  test("knnLabelAuditAnn: full probe equals the exact audit; partial probe flags the planted mislabel") {
    // a bigger two-cluster corpus so the IVF quantizer has geometry to
    // learn: 20 x-axis vectors labeled 1 (one mislabeled), 20 y-axis
    // vectors labeled 2
    val lv = ((1L to 20L).map(i =>
        (i, Array(1.0f, i.toFloat / 100f, 0.0f, 0.0f),
          Option(if (i == 10L) 2 else 1))) ++
      (21L to 40L).map(i =>
        (i, Array((i - 20).toFloat / 100f, 1.0f, 0.0f, 0.0f), Option(2)))
      ).toDF("vec_id", "embedding", "label")
    // nprobe = nlist: every cell probed, the pool is the whole labeled
    // corpus — the ANN front must reproduce the exact audit ROW FOR ROW
    val exact = Similarity.knnLabelAudit(lv, lv, k = 5)
      .collect().map(_.toSeq).toSeq
    val full = Similarity.knnLabelAuditAnn(lv, lv, k = 5,
      nlist = 4, nprobe = 4).collect().map(_.toSeq).toSeq
    assert(full === exact)
    // partial probe (the at-scale point): the planted mislabel still
    // flags — its own cluster is its nearest cell by construction
    val part = Similarity.knnLabelAuditAnn(lv, lv, k = 5,
      nlist = 4, nprobe = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(part(10L) === 1L, "planted mislabel must flag at partial probe")
    assert(part.values.sum <= 3L, "partial probe must not mass-flag the corpus")
  }

  test("mutualTopK: hub edges drop at k=1, all pairs mutual at k=2") {
    // A's nearest is B and vice versa (mutual); C's nearest is B, but
    // B's single slot is taken by A -> (B,C) and (A,C) are one-way
    // only at k=1
    val v = Seq(
      (1L, Array(1.0f, 0.0f)),    // A
      (2L, Array(0.99f, 0.01f)),  // B
      (3L, Array(0.5f, 0.5f))     // C
    ).toDF("vec_id", "embedding")
    val k1 = Similarity.mutualTopK(v, k = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    Harness.release(spark, blocking = false)
    assert(k1 === Seq((1L, 2L)))
    // k=2: every vector's list holds both others -> all three mutual,
    // and the carried score is the symmetric cosine
    val k2 = Similarity.mutualTopK(v, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    Harness.release(spark, blocking = false)
    assert(k2.map(p => (p._1, p._2)) === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(k2.head._3 === 1000L, "cos(A,B) rounds to 1000 permille")
  }

  test("mutualTopKAnn: full probe equals the exact mutual pairs; partial probe is a subset") {
    val corpus = (1L to 40L).map { i =>
      (i, Array.tabulate(16)(j => math.sin(i * 16 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val exact = Similarity.mutualTopK(corpus, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    Harness.release(spark, blocking = false)
    // nprobe = nlist: the pool IS the corpus, so the ANN composition
    // must reproduce the brute anchor row for row (scores included —
    // both paths run the same native kernel)
    val full = Similarity.mutualTopKAnn(corpus, k = 3, nlist = 4, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    Harness.release(spark, blocking = false)
    assert(full === exact)
    // partial probe: pair RECALL is governed by nprobe (a pooled list
    // can even promote a globally-lower neighbor when the higher ones
    // fall outside the probed cells), but every reported SCORE is the
    // exact cosine of its pair — verify against a driver-side fold
    val vecs = corpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cosPermille(a: Array[Float], b: Array[Float]): Long = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      val n = math.sqrt(na) * math.sqrt(nb)
      math.floor((if (n == 0.0) 0.0 else d / n) * 1000 + 0.5).toLong
    }
    val part = Similarity.mutualTopKAnn(corpus, k = 3, nlist = 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    Harness.release(spark, blocking = false)
    assert(part.nonEmpty)
    part.foreach { case (da, db, p) =>
      assert(p === cosPermille(vecs(da), vecs(db)),
        s"pair ($da, $db) must carry its exact cosine")
    }
  }

  test("mutualTopKAnnSampled ≡ full mutualTopKAnn restricted to " +
    "sampled-endpoint pairs, at full AND partial probe") {
    val corpus = (1L to 40L).map { i =>
      (i, Array.tabulate(16)(j => math.sin(i * 16 + j).toFloat))
    }.toDF("vec_id", "embedding")
    for (nprobe <- Seq(4, 2)) {
      val full = Similarity.mutualTopKAnn(corpus, k = 3, nlist = 4,
          nprobe = nprobe).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      Harness.release(spark, blocking = false)
      val sampled = Similarity.mutualTopKAnnSampled(corpus, k = 3,
          everyN = 4, nlist = 4, nprobe = nprobe).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      Harness.release(spark, blocking = false)
      // every pair the sampled audit reports is decided by the same
      // two top-k lists the full operator uses — so it must be
      // EXACTLY the full output filtered to pairs touching the sample
      assert(sampled === full.filter(p => p._1 % 4 == 0 || p._2 % 4 == 0),
        s"nprobe=$nprobe")
      assert(sampled.nonEmpty)
    }
    // everyN = 1 degenerates to the full operator
    val all = Similarity.mutualTopKAnnSampled(corpus, k = 3, everyN = 1,
        nlist = 4, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    Harness.release(spark, blocking = false)
    val fullExact = Similarity.mutualTopKAnn(corpus, k = 3, nlist = 4,
        nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    Harness.release(spark, blocking = false)
    assert(all === fullExact)
  }

  test("topKByScoreAgg equals the window form row for row, ties included") {
    // adversarial scored set: duplicate scores inside a group (tie ->
    // neighbor_id order), a group smaller than k, k-boundary ties
    val scored = Seq(
      (1L, 10L, 0.9), (1L, 11L, 0.9), (1L, 12L, 0.9), (1L, 13L, 0.5),
      (2L, 20L, 0.1),                      // group smaller than k
      (3L, 30L, -0.2), (3L, 31L, 0.0), (3L, 32L, -0.2), (3L, 33L, 0.7)
    ).toDF("query_id", "neighbor_id", "score")
    val viaWindow = Similarity.topKByScore(scored, 3).collect().map(_.toSeq).toSeq
    val viaAgg = Similarity.topKByScoreAgg(scored, 3).collect().map(_.toSeq).toSeq
    assert(viaAgg === viaWindow)
    // randomized sweep: 40 groups x 50 candidates with heavy ties
    val rnd = (0 until 2000).map { i =>
      (i % 40L, (i * 131 % 997).toLong, ((i * 7) % 13) / 13.0)
    }.toDF("query_id", "neighbor_id", "score")
    val w2 = Similarity.topKByScore(rnd, 5)
      .collect().map(_.toSeq).toSeq
    val a2 = Similarity.topKByScoreAgg(rnd, 5)
      .collect().map(_.toSeq).toSeq
    assert(a2 === w2)
  }

  test("labelCentroids: centroid geometry exact on axis-aligned classes") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), Option(0)),   // label 0 hugs the x axis
      (2L, Array(1.0f, 0.0f), Option(0)),
      (3L, Array(0.0f, 1.0f), Option(1)),   // label 1 hugs the y axis
      (4L, Array(0.0f, 0.0f), Option(1)),   // drags label 1's norm to 0.5
      (5L, Array(9.0f, 9.0f), Option.empty[Int]) // NULL label: excluded
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroids(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    Harness.release(spark, blocking = false)
    // global sum vector = (2e6, 1e6); cos(label0=(2e6,0), g) =
    // 2/√5·... = 0.894 → 894‰; cos(label1=(0,1e6), g) = 1/√5 → 447‰
    assert(out.toSeq === Seq(
      (0L, 2L, 894L, 1000000L),
      (1L, 2L, 447L, 500000L)))
  }

  test("LSH top-k finds the identical vector (same bucket by construction)") {
    val corpus = (1L to 50L).map { i =>
      (i, Array.tabulate(64)(j => math.sin(i * 64 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val dup = corpus.filter($"vec_id" === 7).select(
      lit(999L).as("vec_id"), $"embedding")
    val out = Similarity.lshTopK(dup, corpus.union(dup), k = 1, numPlanes = 8)
      .collect()
    assert(out.length === 1)
    assert(out.head.getLong(1) === 7L)       // nearest = its source vector
    assert(out.head.getLong(3) === 1000L)    // cosine 1.000
  }

  test("embedding near-dup pairs: planted duplicate found, unrelated not paired") {
    val corpus = (1L to 40L).map { i =>
      (i, Array.tabulate(64)(j => math.sin(i * 64 + j).toFloat))
    }
    val withDup = corpus :+ (999L, corpus(6)._2.clone()) // exact dup of vec 7
    val out = Similarity.nearDupPairs(withDup.toDF("vec_id", "embedding"),
      minPermille = 950).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).contains((7L, 999L)))
    assert(out.forall(_.getLong(2) >= 950L))
  }

  test("lshTopK single table + multi-probe emits no duplicate pairs (dedup skipped)") {
    // single-table runs skip the dropDuplicates shuffle; this guards the
    // claim that makes the skip sound — within one table each query's
    // probe signatures are distinct, so a neighbor can match at most once
    val corpus = (1L to 80L).map { i =>
      (i, Array.tabulate(32)(j => math.cos(i * 17 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(corpus.filter($"vec_id" <= 3), corpus, k = 20,
      numPlanes = 6, numTables = 1, multiProbe = 2).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.length === pairs.distinct.length)
  }

  test("IVF top-k: identical vector recalled at rank 1, k respected") {
    val corpus = (1L to 60L).map { i =>
      (i, Array.tabulate(64)(j => math.sin(i * 64 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val dup = corpus.filter($"vec_id" === 11).select(lit(888L).as("vec_id"), $"embedding")
    val out = Similarity.ivfTopK(dup, corpus.union(dup), k = 4, nlist = 8, nprobe = 2)
      .collect()
    assert(out.length <= 4)
    assert(out.head.getLong(1) === 11L && out.head.getLong(3) === 1000L)
  }

  test("lsh signature is deterministic and non-degenerate for non-64-dim vectors") {
    val sigs1 = vecs.select(Similarity.lshSignature($"embedding".cast("array<double>"), 8)).collect()
    val sigs2 = vecs.select(Similarity.lshSignature($"embedding".cast("array<double>"), 8)).collect()
    assert(sigs1.map(_.getLong(0)).toSeq === sigs2.map(_.getLong(0)).toSeq)
    // regression: 4-dim vectors used to all hash to signature 0
    // (hardcoded 64-dim zip poisoned the sum with nulls); opposite
    // vectors must now land in different buckets
    val byId = vecs.select($"vec_id",
      Similarity.lshSignature($"embedding".cast("array<double>"), 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(1L) !== byId(4L))
  }

  test("quantizeInt8: max-abs symmetric mapping, zero vectors stay zero") {
    val d = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(d)
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Int](1), r.getString(2), r.getLong(3))).toMap
    // scale=1.0: 127, floor(-63.5+0.5)=-63, floor(31.75+0.5)=32
    assert(out(1L)._1 === Seq(127, -63, 32))
    assert(out(1L)._2 === "127,-63,32")
    assert(out(1L)._3 === 127L + 63L + 32L)
    assert(out(2L)._1 === Seq(0, 0, 0) && out(2L)._3 === 0L)
  }

  test("quantizeInt8 is scan-side only: zero Exchange, codegen transform") {
    val d = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val plan = Similarity.quantizeInt8(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") || plan.contains("rangepartitioning"),
      s"quantize should not shuffle (beyond the presentation sort):\n$plan")
  }
  test("random projection: basis vectors recover the exact sign matrix") {
    val dim = 8
    val rows = (0 until dim).map { i =>
      (i.toLong, (0 until dim).map(k => if (k == i) 1.0f else 0.0f)) }
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.randomProject(df, inDims = dim, outDims = 4)
      .collect().map(r => r.getLong(0).toInt -> r).toMap
    for (i <- 0 until dim; j <- 0 until 4) {
      val exp = if (Similarity.signPlus(42L, j, i)) 1000000L else -1000000L
      assert(out(i).getLong(1 + j) === exp, s"e_$i -> y$j")
    }
  }

  test("random projection is scan-side: zero Exchange beyond the presentation sort") {
    val df = Seq((1L, (0 until 8).map(_.toFloat))).toDF("vec_id", "embedding")
    val plan = Similarity.randomProject(df, inDims = 8, outDims = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") || plan.contains("rangepartitioning"),
      s"projection should not shuffle (beyond the presentation sort):\n$plan")
    intercept[IllegalArgumentException] { Similarity.randomProject(df, inDims = 0) }
  }

  test("hardNegatives: same-label positives excluded, negatives ranked by cosine") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), Some(1)),  // query
      (2L, Seq(0.99f, 0.1f), Some(1)), // same label: excluded despite top cosine
      (3L, Seq(0.9f, 0.4f), Some(2)),  // negative, cos = .9/.98489 = .9138
      (4L, Seq(0.0f, 1.0f), Some(2)),  // negative, orthogonal
      (5L, Seq(0.8f, 0.6f), Some(3)),  // negative, cos = .8
      (6L, Seq(1.0f, 0.01f), None))    // null label: never a candidate
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(df.filter($"vec_id" === 1), df, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._2).toSeq === Seq(3L, 5L))
    assert(out.map(_._4).toSeq === Seq(914L, 800L))
    // a null-label query row contributes nothing
    assert(Similarity.hardNegatives(df.filter($"vec_id" === 6), df, k = 2)
      .collect().isEmpty)
  }

  test("standardizeDims: closed-form z-millis, constant dims map to 0") {
    // dim0: values 1,3 → μ=2, σ=1 → z = ∓1000; dim1 constant → 0;
    // dim2: 0,2 → μ=1, σ=1 → z = ∓1000
    val df = Seq(
      (1L, Array(1.0f, 5.0f, 0.0f)),
      (2L, Array(3.0f, 5.0f, 2.0f))).toDF("vec_id", "embedding")
    val out = Similarity.standardizeDims(df).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "-1000,0,-1000", 2L -> "1000,0,1000"))
  }

  test("covarianceMatrix: hand-computed upper triangle") {
    // vectors (1,2) and (3,6): means (2,4); var0 = 1, cov01 = 2, var1 = 4
    val df = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 6.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.covarianceMatrix(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map(
      (0L, 0L) -> 1000L,
      (0L, 1L) -> 2000L,
      (1L, 1L) -> 4000L))
  }

  test("covarianceMatrixAgg: single-buffer path matches the explode path") {
    // hand case first
    val df = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 6.0f)))
      .toDF("vec_id", "embedding")
    val agg = Similarity.covarianceMatrixAgg(df, dim = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(agg === Map((0L, 0L) -> 1000L, (0L, 1L) -> 2000L, (1L, 1L) -> 4000L))
    // then real embeddings: both paths, identical milli output
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val a = Similarity.covarianceMatrix(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val b = Similarity.covarianceMatrixAgg(emb, dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(a === b)
  }

  test("covarianceMatrixAgg fails fast on a wrong dim") {
    val df = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.covarianceMatrixAgg(df, dim = 3).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("covarianceMatrixAgg")))
  }

  test("covarianceMatrix: diagonal entries are variances, never negative") {
    val out = Similarity.covarianceMatrix(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
    val diag = out.collect { case ((i, j), c) if i == j => c }
    assert(diag.nonEmpty && diag.forall(_ >= 0L))
    // upper triangle only: no (i, j) with i > j
    assert(out.forall { case ((i, j), _) => i <= j })
  }

  test("semanticDecontamination: champion bench vector, smallest-id tie, τ flag") {
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f)),  // cos 1.0 with bench 1
      (11L, Array(0.0f, 1.0f)),  // cos 1.0 with bench 2
      (12L, Array(1.0f, 1.0f)),  // cos 1/√2 with BOTH → tie → bench 1
      (13L, Array(0.0f, 0.0f))   // zero vector: score 0, tie → bench 1
    ).toDF("vec_id", "embedding")
    val bench = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDecontamination(corpus, bench, tauPermille = 900)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out === Array(
      (10L, 1L, 1000L, 1L),
      (11L, 2L, 1000L, 1L),
      (12L, 1L, 707L, 0L),  // floor(1000/√2 + .5) = 707, below τ
      (13L, 1L, 0L, 0L)))
    // an empty benchmark yields an empty report, not a crash
    assert(Similarity.semanticDecontamination(
      corpus, bench.filter($"vec_id" < 0), tauPermille = 900).count() === 0L)
  }

  test("embeddingDrift: global and step drift per arrival batch, first-batch NULL") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),  // batch 0 → [2e6, 0]
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.0f, 1.0f)),  // batch 1 → [0, 2e6]
      (4L, Array(1.0f, 1.0f))                            // batch 2 → [1e6, 1e6]
    ).toDF("vec_id", "embedding")
    // global [3e6, 3e6]: batches 0/1 sit at cos 1/√2 → 707; batch 2
    // is parallel to it → 1000. Steps: 1 vs 0 orthogonal → 0; 2 vs 1
    // at 45° → 707; batch 0 has no predecessor → NULL.
    val out = Similarity.embeddingDrift(emb, batchSize = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    Harness.release(spark, blocking = false)
    assert(out === Array(
      (0L, 2L, 707L, -1L),
      (1L, 2L, 707L, 0L),
      (2L, 1L, 1000L, 707L)))
    intercept[IllegalArgumentException] {
      Similarity.embeddingDrift(emb, batchSize = 0)
    }
  }

  test("normOutliers: MAD fence on micro-norms, inliers invisible") {
    // norms: 1.0 ×4 (med 1e6), 1.5, 5.0 — MAD = 0? devs sorted:
    // 0,0,0,0, 5e5, 4e6 → median dev 0 here too; use a spread set:
    // norms 1,2,3,4,100 → med 3e6, devs 2e6,1e6,0,1e6,97e6 → MAD 1e6;
    // fence 3.5·MAD = 3.5e6 → only the 97e6 deviation flags
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(2.0f, 0.0f)),
      (3L, Array(3.0f, 0.0f)), (4L, Array(4.0f, 0.0f)),
      (5L, Array(100.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.normOutliers(emb, kMilli = 3500L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((5L, 100000000L, 97000000L)))
    intercept[IllegalArgumentException] {
      Similarity.normOutliers(emb, kMilli = 0L)
    }
  }

  test("labelConfusionGeometry: axis-aligned classes separate, diagonal pair close") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), Some(0)),
      (1L, Array(1.0f, 0.0f), Some(0)),
      (2L, Array(0.0f, 1.0f), Some(1)),
      (3L, Array(1.0f, 1.0f), Some(2)),
      (4L, Array(2.0f, 2.0f), None)  // unlabeled: out
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelConfusionGeometry(emb)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    Harness.release(spark, blocking = false)
    assert(out === Seq(
      (0L, 1L, 2L, 1L, 0L),     // orthogonal centroids
      (0L, 2L, 2L, 1L, 707L),   // 45°
      (1L, 2L, 1L, 1L, 707L)))
  }

  test("embeddingCoverage: per-source coverage and mean micro-norm, uncovered NULL") {
    val docs = Seq(
      (1L, "A"), (2L, "A"),  // A: one covered doc
      (3L, "B"),             // B: covered by a zero vector (norm 0)
      (4L, "C"))             // C: no vector at all
      .toDF("doc_id", "source")
    val emb = Seq(
      (1L, Array(3.0f, 4.0f)),   // norm 5.0 → 5_000_000 micro
      (3L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.embeddingCoverage(docs, emb).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
    assert(out === Array(
      ("A", 2L, 1L, 500000L, 5000000L),
      ("B", 1L, 1L, 1000000L, 0L),
      ("C", 1L, 0L, 0L, -1L)))
  }

  test("effectiveDim: isotropic cloud reads dim, collapsed cloud reads 1") {
    // axis-aligned pair → Gram diag(1e12, 1e12) → PR = 2 exactly;
    // duplicated axis → rank 1 → PR = 1
    val iso = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val col1 = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val a = Similarity.effectiveDim(iso)
      .as[(Long, Long, Long)].collect().toSeq
    val b = Similarity.effectiveDim(col1)
      .as[(Long, Long, Long)].collect().toSeq
    Harness.release(spark, blocking = false)
    assert(a === Seq((2L, 2L, 2000L)))
    assert(b === Seq((2L, 2L, 1000L)))
  }

  test("cosineThresholdCurve: hand-derived pair mass and flagged vectors") {
    // cosines: (1,2)=1000, (1,4)=(2,4)=600, (3,4)=800, (1,3)=(2,3)=0
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.cosineThresholdCurve(emb, sliceMod = 1L,
        thresholds = Seq(600L, 900L))
      .as[(Long, Long, Long)].collect().toSeq
    Harness.release(spark, blocking = false)
    assert(out === Seq((600L, 4L, 4L), (900L, 1L, 2L)))
    intercept[IllegalArgumentException] {
      Similarity.cosineThresholdCurve(emb, thresholds = Seq(900L, 600L))
    }
  }

  test("auditRegimeWarning: warns above the ~5% rate on big corpora, " +
    "quiet for fixed-size samples, small corpora and the everyN=1 pin") {
    // the measured regime (BENCH_NOTES r16): everyN=4 at ×100 costs
    // MORE than the full operator — the guard names that trap
    assert(Similarity.auditRegimeWarning(1000000L, 4).isDefined)
    assert(Similarity.auditRegimeWarning(100000L, 19).isDefined)
    // fixed-size sampling (everyN ~ n/20000) is the audit regime
    assert(Similarity.auditRegimeWarning(1000000L, 50).isEmpty)
    assert(Similarity.auditRegimeWarning(1000000L, 20).isEmpty)
    // spec-sized corpora stay quiet whatever the rate — the everyN=1
    // equivalence pin must not warn
    assert(Similarity.auditRegimeWarning(320L, 1).isEmpty)
    assert(Similarity.auditRegimeWarning(99999L, 2).isEmpty)
  }

  test("gramState append law: merged per-batch states ≡ one-shot effectiveDim") {
    val emb = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
        (3L, Seq(0.6f, 0.8f)), (4L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val oneShot = Similarity.effectiveDim(emb)
      .as[(Long, Long, Long)].collect().toSeq
    val merged = Similarity.effectiveDimFromState(
      Similarity.mergeGramStates(
        Similarity.gramState(emb.filter(col("vec_id") % 2 === 0)),
        Similarity.gramState(emb.filter(col("vec_id") % 2 === 1))))
      .as[(Long, Long, Long)].collect().toSeq
    Harness.release(spark, blocking = false)
    assert(merged === oneShot)
    assert(oneShot.head._1 === 4L && oneShot.head._2 === 2L)
  }
}

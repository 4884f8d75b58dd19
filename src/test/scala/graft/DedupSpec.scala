package graft

import graft.operators.Dedup

class DedupSpec extends SparkSpec with SlowSuite {
  import spark.implicits._

  private val base = "spark makes big data small again with catalyst and tungsten " +
    "columnar execution whole stage codegen adaptive query execution shuffle partitions"

  private def corpus = Seq(
    1L -> base,
    2L -> base, // exact dup of 1
    3L -> (base + " extra tail tokens appended here"),     // near dup of 1
    4L -> "completely different text about cooking pasta with tomatoes and basil and olive oil and garlic and a pinch of salt",
    5L -> "yet another unrelated document mentioning mountains rivers forests lakes glaciers valleys and meadows in spring"
  ).toDF("doc_id", "text")

  test("exact dedup keeps min doc_id and counts dups") {
    val out = Dedup.exact(corpus).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 2L)  // docs 1+2 collapse
    assert(out(3L) === 1L)
    assert(out.size === 4)
  }

  test("jaccard pairs: exact dup = 1000 permille, near dup high, unrelated low") {
    val out = Dedup.jaccardPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((1L, 2L)) === 1000L)
    assert(out((1L, 3L)) > 700L)
    assert(out.getOrElse((1L, 4L), 0L) < 200L)
  }

  test("exact jaccard sweep equals brute force, including size-diverse pairs") {
    // brute force over the shingle sets = the ground truth the blocked
    // scorer's recall-1.0 contract promises to reproduce exactly
    def brute(docs: org.apache.spark.sql.DataFrame, minPermille: Long): Set[(Long, Long, Long)] = {
      val rows = docs.collect().map(r => r.getLong(0) -> r.getString(1))
      val shs = rows.map { case (id, text) =>
        id -> text.split(" ").sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty).toMap
      (for {
        (a, sa) <- shs; (b, sb) <- shs if a < b
        j = (sa.intersect(sb).size.toLong * 1000L) / (sa ++ sb).size
        if j >= minPermille
      } yield (a, b, j)).toSet
    }
    // size-diverse corpus: doc 8 (3 shingles) against doc 6 (9
    // shingles) exercises the size-ratio prune's boundary at J=333‰;
    // doc 7 doubles doc 1
    val sized = corpus.union(Seq(
      6L -> base.split(" ").take(10).mkString(" "),
      7L -> (base + " " + base),
      8L -> base.split(" ").take(4).mkString(" ")
    ).toDF("doc_id", "text"))
    val out = Dedup.jaccardSweep(sized, shingleK = 3, minPermille = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === brute(sized, 200L))
    assert(out.exists(p => p._1 == 1L && p._2 == 6L)) // containment pair
    assert(out.exists(p => p._1 == 6L && p._2 == 8L)) // size-diverse pair found
  }

  test("minhash LSH finds planted exact and near dup, skips unrelated") {
    val out = Dedup.minHashLsh(corpus, shingleK = 2, minPermille = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L)))
    assert(out.contains((1L, 3L)) || out.contains((2L, 3L)))
    assert(!out.exists(p => p._2 == 4L || p._1 == 4L))
  }

  test("simhash: identical docs at hamming 0; near dups close") {
    val sigs = Dedup.simHashSignatures(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    val pairs = Dedup.simHashPairs(corpus, maxHamming = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) === 0)
  }

  test("connected components: chains merge, singletons in pairs keep min label") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L),   // chain 1-2-3 → cluster 1
      (10L, 11L),           // pair → cluster 10
      (20L, 21L), (21L, 20L) // duplicate/reversed edges are harmless
    ).toDF("da", "db")
    val out = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: long chain needs multiple propagation rounds") {
    // a 12-node path graph has diameter 11: the min label travels one
    // hop per round, so this genuinely exercises the fixpoint loop
    // (and its lineage truncation — see the localCheckpoint note)
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("da", "db")
    val out = Dedup.connectedComponents(pairs, maxIter = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size === 12)
    assert(out.values.forall(_ == 1L))
  }

  test("connected components: pointer-jumping converges a long chain in few rounds") {
    // a 40-node path has diameter 39; pure hash-min needs ~39 rounds.
    // With path halving the min label travels ~2× per round, so the
    // default maxIter=20 must suffice — this FAILS (non-convergence
    // require) if the pointer-jump step is ever dropped.
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("da", "db")
    val out = Dedup.connectedComponents(pairs) // default maxIter = 20
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size === 40)
    assert(out.values.forall(_ == 1L))
  }

  test("connected components: fixpoint storage is O(1) rounds, empty after release") {
    val sc = spark.sparkContext
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("da", "db")
    val out = Dedup.connectedComponents(pairs, maxIter = 15)
    out.collect()
    // every round was localCheckpoint'ed; ids are recorded in round
    // order (attribution by id is race-free vs parallel suites, unlike
    // diffing the global persistent-RDD registry)
    val ids = Dedup.lastFixpointCheckpointIds
    assert(ids.size >= 3) // diameter-11 chain: several genuine rounds
    val persisted = sc.getPersistentRDDs.keySet
    // intermediate rounds were unpersisted DURING the run — only the
    // final round's blocks (backing `out`) may still be held
    assert(ids.init.forall(id => !persisted.contains(id)),
      s"intermediate fixpoint rounds leaked blocks: ${ids.init.filter(persisted.contains)}")
    assert(persisted.contains(ids.last), "the final round's blocks back `out`")
    Harness.release(spark, blocking = true)
    val after = sc.getPersistentRDDs.keySet
    assert(ids.forall(id => !after.contains(id)),
      s"fixpoint blocks survived release: ${ids.filter(after.contains)}")
  }

  test("docs shorter than the shingle size don't crash minhash (regression)") {
    val tiny = Seq(1L -> "solo", 2L -> "", 3L -> "two tokens here okay").toDF("doc_id", "text")
    // doc 1 (1 token) and doc 2 (1 empty token) have no 2-shingles —
    // they are simply absent, not a runtime slice() error
    assert(Dedup.minHashLsh(tiny, shingleK = 2, minPermille = 0).count() === 0L)
  }

  test("simhash banding guarantees recall for any maxHamming (regression)") {
    val sigs = Dedup.simHashSignatures(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force ground truth over the 5-doc corpus
    val ids = sigs.keys.toSeq.sorted
    val truth = (for {
      a <- ids; b <- ids if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 16
    } yield (a, b)).toSet
    val found = Dedup.simHashPairs(corpus, maxHamming = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found === truth, "17-band pigeonhole must find every pair with hamming <= 16")
  }

  test("minhash LSH scales candidate count: banding keeps pairs sparse") {
    // 100 docs with disjoint token ranges pushed through an integer mix
    // (no token shared between docs) → banding must produce no pairs
    val many = (1L to 100L).map(i =>
      i -> (1 to 30).map(j => s"tok${(31L * i + j) * 2654435761L % 1000003L}")
        .mkString(" ")).toDF("doc_id", "text")
    val pairs = Dedup.minHashLsh(many, shingleK = 2, minPermille = 900).collect()
    assert(pairs.isEmpty) // no near-dups planted, none found
  }
  test("survivorsByScore keeps the highest-scored member per cluster, min id on ties") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("da", "db")
    val scores = Seq(1L -> 5L, 2L -> 9L, 3L -> 7L, 10L -> 4L, 11L -> 4L)
      .toDF("doc_id", "score")
    val out = Dedup.survivorsByScore(pairs, scores)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // chain {1,2,3}: max score 9 -> keep 2 (NOT min-id 1); {10,11}: tie -> 10
    assert(out.toSeq === Seq((1L, 2L, 3L), (10L, 10L, 2L)))
  }

  test("exactNormalized collapses case/punct/whitespace variants that exact dedup keeps apart") {
    val docs = Seq(
      1L -> "Hello, World!",
      2L -> "hello   world",
      3L -> "HELLO WORLD.",
      4L -> "goodbye world").toDF("doc_id", "text")
    val norm = Dedup.exactNormalized(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(norm === Map(1L -> 3L, 4L -> 1L))
    // md5-exact dedup sees four distinct texts
    assert(Dedup.exact(docs).collect().length === 4)
  }

  test("crossNearDup catches verbatim and lightly-edited benchmark leaks, skips clean docs") {
    val leaked = (1 to 30).map(i => s"b$i").mkString(" ")
    val corpus = Seq(
      1L -> leaked,                       // verbatim leak -> jaccard 1000
      2L -> (leaked + " extra trailing"), // edited leak -> still high
      3L -> (1 to 30).map(i => s"c$i").mkString(" ")) // clean
      .toDF("doc_id", "text")
    val bench = Seq(100L -> leaked).toDF("doc_id", "text")
    val out = Dedup.crossNearDup(corpus, bench, shingleK = 2, minPermille = 600)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 29 shared 2-shingles; doc 2 has 31 -> J = 29*1000 div 31 = 935
    assert(out.toSeq === Seq((1L, 100L, 1000L), (2L, 100L, 935L)))
  }

  test("crossNearDup never pairs corpus docs with each other") {
    val same = (1 to 20).map(i => s"t$i").mkString(" ")
    // two identical CORPUS docs but an unrelated benchmark: the only
    // candidate join is corpus x bench, so the corpus self-pair (1,2)
    // must not appear
    val corpus = Seq(1L -> same, 2L -> same).toDF("doc_id", "text")
    val bench = Seq(50L -> (1 to 20).map(i => s"z$i").mkString(" "))
      .toDF("doc_id", "text")
    assert(Dedup.crossNearDup(corpus, bench, shingleK = 2).collect().isEmpty)
  }

  test("crossNearDup validates band geometry and broadcasts the bench side") {
    val docs = Seq(1L -> "a b c").toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Dedup.crossNearDup(docs, docs, numHashes = 16, rowsPerBand = 5))
    assert(e.getMessage.contains("multiple"))
    val plan = Dedup.crossNearDup(docs, docs).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"bench side must broadcast:\n$plan")
  }

  test("containment flags a quote embedded in a larger doc that jaccard misses") {
    val quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val host = quote + " " + (1 to 28).map(i => s"w$i").mkString(" ")
    val docs = Seq(10L -> quote, 11L -> host,
      12L -> "unrelated words entirely").toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, shingleK = 2, minPermille = 900)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // all 11 of the quote's 2-shingles appear in the host: containment
    // 1000 permille while union-normalized jaccard sits under 300
    assert(out.toSeq === Seq((10L, 11L, 1000L, 282L)))
  }

  test("shared runs finds the exact span and offsets of a verbatim overlap") {
    val shared = (1 to 20).map(i => s"s$i").mkString(" ")
    val a = "pre1 pre2 pre3 " + shared + " posta"
    val b = "qx " + shared + " postb1 postb2"
    val docs = Seq(1L -> a, 2L -> b,
      3L -> "totally different content here entirely").toDF("doc_id", "text")
    val out = Dedup.sharedRuns(docs, gramK = 5, minRunTokens = 15, maxDf = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    // the 20-token run starts at token 3 of a, token 1 of b
    assert(out.toSeq === Seq((1L, 2L, 3, 1, 20L)))
  }

  test("shared runs respects the minimum-run bar exactly") {
    val s14 = (1 to 14).map(i => s"t$i").mkString(" ")
    val docs = Seq(1L -> ("aa " + s14), 2L -> (s14 + " zz")).toDF("doc_id", "text")
    assert(Dedup.sharedRuns(docs, gramK = 5, minRunTokens = 15).count() === 0L)
    assert(Dedup.sharedRuns(docs, gramK = 5, minRunTokens = 14).count() === 1L)
  }

  test("shared runs df-prune drops boilerplate grams but cannot invent runs") {
    // a 16-token boilerplate block in 10 docs: every interior gram has
    // df 10 > maxDf 8, so the whole run is pruned; admitting df 10
    // reports all 45 pairs. The prune only ever SPLITS/drops runs.
    val bp = (1 to 16).map(i => s"b$i").mkString(" ")
    val docs = (1L to 10L).map(i => i -> (s"u$i " + bp)).toDF("doc_id", "text")
    assert(Dedup.sharedRuns(docs, gramK = 5, minRunTokens = 15, maxDf = 8).count() === 0L)
    assert(Dedup.sharedRuns(docs, gramK = 5, minRunTokens = 15, maxDf = 10).count() === 45L)
  }
  test("prefix-filtered containment is bit-identical to the unfiltered operator") {
    // size-diverse corpus: exact dup, a quote-in-host pair (the case
    // the prefix bound must not lose), and noise docs sharing common
    // shingles only
    val quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val host = quote + " " + (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      1L -> base, 2L -> base,
      10L -> quote, 11L -> host,
      12L -> "unrelated words entirely about other things",
      13L -> "more unrelated words entirely about different things"
    ).toDF("doc_id", "text")
    for (t <- Seq(300L, 700L, 950L)) {
      val plain = Dedup.containmentPairs(docs, shingleK = 2, minPermille = t)
        .collect().map(_.toSeq).toSeq
      Harness.release(spark, blocking = false)
      val pref = Dedup.containmentPairsPrefix(docs, shingleK = 2, minPermille = t)
        .collect().map(_.toSeq).toSeq
      Harness.release(spark, blocking = false)
      assert(pref === plain, s"threshold $t")
    }
  }
  test("clusterLossWeights: 1/size ppm, singletons self-labeled, mass invariant") {
    val docs = (1L to 6L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("da", "db")
    val out = Dedup.clusterLossWeights(docs, pairs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // the min-id survivor absorbs the div remainder: the size-3
    // cluster is 333334 + 2·333333 = exactly 10⁶, never 999999
    assert(out === Seq(
      (1L, 1L, 3L, 333334L), (2L, 1L, 3L, 333333L), (3L, 1L, 3L, 333333L),
      (4L, 4L, 1L, 1000000L),
      (5L, 5L, 2L, 500000L), (6L, 5L, 2L, 500000L)))
    // Σ weight_ppm = 10⁶ · #clusters EXACTLY — the documented invariant
    assert(out.map(_._2).distinct.size === 3)
    assert(out.map(_._4).sum === 1000000L * 3)
  }

  test("prefixFilterPlan: hand-checkable masses; recommendation pins x74's k=4") {
    // tiny corpus where the profile is hand-computable at k=1:
    // tokens a(3 docs), b(2), c(1) → vocab 3, rows 6, max_df 3,
    // naive Σdf² = 9+4+1 = 14; at t=700 each doc's prefix keeps
    // sz − ⌈0.7·sz⌉ + 1 shingles (sz 3→2 kept? 3−3+1=1... per-doc)
    val docs = Seq(
      1L -> "a b c", 2L -> "a b", 3L -> "a").toDF("doc_id", "text")
    val plan = Dedup.prefixFilterPlan(docs, shingleKs = Seq(1), minPermille = 700)
      .collect().map(_.toSeq).toSeq
    Harness.release(spark, blocking = false)
    // per doc prefix lengths: sz=3 → 3-3+1=1 row (rarest: c, df 1);
    // sz=2 → 2-2+1=1 (rarest: b, df 2); sz=1 → 1-1+1=1 (a, df 3)
    // prefix_rows = 3, prefix_mass = 1+2+3 = 6
    assert(plan === Seq(Seq(1L, 3L, 6L, 3L, 14L, 3L, 6L, 1L)))

    // the bench corpus (sf0.1 — the scale x74's slope is measured at;
    // at toy scales the flat df profile recommends k=3, honestly): the
    // recommendation that pins x74's shingleK — if a driver testdata
    // regeneration moves the df profile, THIS fails and re-opens the
    // operating-point choice (round-10 x74 lesson: static k went 4.8×
    // steeper silently)
    val real = Dedup.prefixFilterPlan(
        graft.core.Tables.documents(spark, "/root/testdata/sf0.1"))
      .select("shingle_k", "recommended")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Harness.release(spark, blocking = false)
    assert(real(4L) === 1L,
      s"planner no longer recommends k=4 ($real) — re-tune x74's shingleK " +
        "and its oracle together")
    assert(real.values.sum === 1L, "exactly one recommended row")
  }

  test("newAgainstBase keeps only content-new rows of a batch") {
    val base = Seq(1L -> "aaa", 2L -> "bbb").toDF("doc_id", "text")
    val batch = Seq(10L -> "bbb", 11L -> "ccc").toDF("doc_id", "text")
    val fps = graft.operators.TextAnalysis.fingerprintMd5(base).select("fp")
    val out = Dedup.newAgainstBase(batch, fps).collect().map(_.getLong(0))
    assert(out.toSeq === Seq(11L), "the re-keyed copy of existing content is a dup")
    intercept[IllegalArgumentException] {
      Dedup.newAgainstBase(batch, base)
    }
  }

  test("newAgainstBaseBloom matches newAgainstBase exactly (no false negatives)") {
    val base = (1L to 200L).map(i => i -> s"doc body $i").toDF("doc_id", "text")
    val batch = (150L to 250L).map(i => (i + 1000L) -> s"doc body $i")
      .toDF("doc_id", "text")
    val fps = graft.operators.TextAnalysis.fingerprintMd5(base).select("fp")
    val exact = Dedup.newAgainstBase(batch, fps).collect().map(_.getLong(0)).toSeq
    // a deliberately TINY sketch (high fpp) still yields the identical
    // result — false positives only cost anti-join work, never rows
    for (items <- Seq(16L, 1L << 16)) {
      val bloom = Dedup.newAgainstBaseBloom(batch, fps, expectedItems = items)
        .collect().map(_.getLong(0)).toSeq
      assert(bloom === exact, s"expectedItems=$items")
    }
    assert(exact === (201L to 250L).map(_ + 1000L))
  }

  test("newAgainstBaseBloom: null text routes to definite-new (anti-join semantics)") {
    val base = Seq(1L -> "aaa").toDF("doc_id", "text")
    val fps = graft.operators.TextAnalysis.fingerprintMd5(base).select("fp")
    val batch = Seq(10L -> "aaa", 11L -> null.asInstanceOf[String])
      .toDF("doc_id", "text")
    val bloom = Dedup.newAgainstBaseBloom(batch, fps)
      .collect().map(_.getLong(0)).toSeq
    assert(bloom === Dedup.newAgainstBase(batch, fps)
      .collect().map(_.getLong(0)).toSeq)
    assert(bloom === Seq(11L))
    intercept[IllegalArgumentException] {
      Dedup.newAgainstBaseBloom(batch, base)
    }
  }

  test("newAgainstBaseBloom prunes: the sketch filter removes definite-new rows before the join") {
    // with a well-sized sketch, rows whose content is certainly absent
    // never reach the anti-join — assert via the filter's selectivity
    // on a disjoint batch (all rows are new; might-contain ≈ fpp)
    val base = (1L to 500L).map(i => i -> s"base $i").toDF("doc_id", "text")
    val fps = graft.operators.TextAnalysis.fingerprintMd5(base).select("fp")
    val batch = (1L to 500L).map(i => i -> s"other $i").toDF("doc_id", "text")
    val out = Dedup.newAgainstBaseBloom(batch, fps,
      expectedItems = 1L << 12, fpp = 0.01)
    assert(out.count() === 500L)
  }

  test("clusterSizeHistogram: chain cluster + singleton remainder, foreign ids fail loudly") {
    val docs = (1L to 6L).map(i => i -> s"doc $i").toDF("doc_id", "text")
    // 1-2-3 chain closes to one 3-cluster; 5-6 a pair; doc 4 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("da", "db")
    val out = Dedup.clusterSizeHistogram(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // pairs over ids the corpus lacks → loud failure, not a negative row
    val foreign = Seq((100L, 101L)).toDF("da", "db")
    intercept[Exception] {
      Dedup.clusterSizeHistogram(docs.limit(1), foreign).collect()
    }
  }

  test("sourceOverlapMatrix: unordered cells, diagonal = within-source") {
    val docs = Seq((1L, "crawl"), (2L, "mirror"), (3L, "crawl"), (4L, "crawl"))
      .toDF("doc_id", "source")
    // 1-2 straddles crawl/mirror (both orders must land in ONE cell);
    // 3-4 is within-crawl (diagonal)
    val pairs = Seq((1L, 2L), (2L, 1L), (3L, 4L)).toDF("da", "db")
    val out = Dedup.sourceOverlapMatrix(pairs, docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map(("crawl", "mirror") -> 2L, ("crawl", "crawl") -> 1L))
  }

  test("spanDedupStats: shared prefix spans count as duplicated, tails do not") {
    // docs 1 and 2 share an identical 60-char prefix; tails differ.
    // k=40, stride=10 over 100 chars -> spans start at 1,11,21,31,41,51,61
    // (7 spans); a span lies inside the shared prefix iff start <= 21
    // (start+39 <= 60) -> 3 duplicated spans each. doc 3 (50 chars,
    // 2 spans) shares nothing.
    val prefix = (0 until 60).map(i => ('a' + i % 26).toChar).mkString
    val tail1 = (0 until 40).map(i => ('0' + i % 10).toChar).mkString
    val tail2 = (0 until 40).map(i => ('A' + i % 26).toChar).mkString
    val docs = Seq(
      (1L, prefix + tail1),
      (2L, prefix + tail2),
      (3L, (0 until 50).map(i => ('n' + i % 13).toChar).mkString)
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedupStats(docs, k = 40, stride = 10).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(
      1L -> ((7L, 3L, 428L)),
      2L -> ((7L, 3L, 428L)),
      3L -> ((2L, 0L, 0L))))
  }

  test("spanDedupStats: within-doc repetition alone is not duplication") {
    // one doc made of a repeated motif: every window recurs WITHIN the
    // doc, but no second doc shares it -> 0 duplicated spans
    val docs = Seq((1L, "ab" * 50)).toDF("doc_id", "text")
    val row = Dedup.spanDedupStats(docs, k = 40, stride = 10).collect()
    assert(row.length === 1)
    assert(row(0).getLong(2) === 0L) // n_dup_spans
  }

  test("spanDedupStats drops docs shorter than the window") {
    val docs = Seq((1L, "short"), (2L, "x" * 40)).toDF("doc_id", "text")
    val ids = Dedup.spanDedupStats(docs, k = 40, stride = 10)
      .select("doc_id").as[Long].collect().toSeq
    assert(ids === Seq(2L))
  }

  test("lshBandingPlan: S-curve trade moves fp up and fn down as bands grow") {
    val rows = Dedup.lshBandingPlan(spark, numHashes = 16, thresholdPermille = 300)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq === Seq(1, 2, 4, 8))           // bands asc
    assert(rows.map(r => r._1 * r._2).forall(_ === 16))        // bands*rows = H
    assert(rows.map(_._3).toSeq === rows.map(_._3).sorted)     // fp nondecreasing
    assert(rows.map(_._4).toSeq === rows.map(_._4).sorted.reverse) // fn nonincreasing
    rows.foreach { case (_, _, fp, fn, err) => assert(err === fp + fn) }
    // the planner replays the closed form: spot-check bands=4, rows=4
    // against a direct computation of the same grid
    val (fp, fn) = {
      val cells = (0 until 100).map(c => (c * 10 + 5).toDouble / 1000.0)
      val ps = cells.map(s => (s, 1.0 - math.pow(1.0 - math.pow(s, 4.0), 4.0)))
      def milli(xs: Seq[Double]) = math.floor(xs.sum / xs.size * 1000 + 0.5).toLong
      (milli(ps.filter(_._1 < 0.3).map(_._2)),
        milli(ps.filter(_._1 >= 0.3).map(p => 1.0 - p._2)))
    }
    val r4 = rows.find(_._1 === 4).get
    assert((r4._3, r4._4) === ((fp, fn)))
  }

  test("weightedContainmentPairs: rarity outweighs boilerplate; identical corpus scores nothing") {
    // docs 1,2 share a RARE 3-token run; docs 3,4 share only the
    // boilerplate prefix every doc carries. Unweighted containment
    // rates both pairs; IDF weighting keeps only the rare-run pair.
    val boiler = "the quick brown fox jumps over the lazy dog again"
    val docs = Seq(
      1L -> (boiler + " zeta omega kappa lambda"),
      2L -> (boiler + " zeta omega kappa mu"),
      3L -> (boiler + " uno dos tres cuatro"),
      4L -> (boiler + " cinco seis siete ocho")
    ).toDF("doc_id", "text")
    val weighted = Dedup.weightedContainmentPairs(docs, shingleK = 3, minPermille = 300)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    Harness.release(spark, blocking = false)
    // (1,2) share 'zeta omega kappa' (df=2, high weight) on top of the
    // boilerplate (df=4, weight 0): they pass; (3,4) share ONLY df=4
    // shingles: weighted overlap 0, filtered
    assert(weighted.contains((1L, 2L)))
    assert(!weighted.contains((3L, 4L)))
    // a corpus of identical docs: every shingle df=N, total weight 0 —
    // excluded from division, empty output
    val same = Seq(1L -> boiler, 2L -> boiler, 3L -> boiler).toDF("doc_id", "text")
    assert(Dedup.weightedContainmentPairs(same, 3, 1).count() === 0L)
    Harness.release(spark, blocking = false)
  }

  test("weighted prefix-filtered containment is bit-identical to the unfiltered operator") {
    // the x74 equivalence contract carried to the weighted score:
    // exact dup, quote-in-host (the pair the prefix bound must not
    // lose), boilerplate-only pairs (weight-0 overlap, must stay
    // excluded), and an all-identical sub-corpus (tw = 0 docs)
    val boiler = "the quick brown fox jumps over the lazy dog again"
    val quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      1L -> (boiler + " zeta omega kappa lambda"),
      2L -> (boiler + " zeta omega kappa mu"),
      3L -> (boiler + " uno dos tres cuatro"),
      4L -> (boiler + " cinco seis siete ocho"),
      10L -> quote, 11L -> (quote + " " + (1 to 40).map(i => s"w$i").mkString(" ")),
      20L -> boiler, 21L -> boiler
    ).toDF("doc_id", "text")
    for (t <- Seq(1L, 300L, 500L, 950L, 1000L)) {
      val plain = Dedup.weightedContainmentPairs(docs, shingleK = 3, minPermille = t)
        .collect().map(_.toSeq).toSeq
      Harness.release(spark, blocking = false)
      val pref = Dedup.weightedContainmentPairsPrefix(docs, shingleK = 3, minPermille = t)
        .collect().map(_.toSeq).toSeq
      Harness.release(spark, blocking = false)
      assert(pref === plain, s"threshold $t")
    }
    // the quote pair must actually be present (the test corpus isn't
    // vacuously empty) and boilerplate-only pairs absent
    val at300 = Dedup.weightedContainmentPairsPrefix(docs, 3, 300)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    Harness.release(spark, blocking = false)
    // (20,21) are identical docs — in THIS corpus the boilerplate has
    // df=6 < N=8 so its weight is positive and they score 1000
    assert(at300.contains((10L, 11L)) && at300.contains((1L, 2L))
      && at300.contains((20L, 21L)))
    assert(!at300.contains((3L, 4L)))
  }

  test("clusterQualityReport: clique density 1e6, chain density 2/3, exact jac stats") {
    // cluster {1,2,3}: all three pairs mined (clique); cluster {5,6,7}:
    // only the chain edges (5,6),(6,7) — the closure glues it anyway
    val pairs = Seq(
      (1L, 2L, 900L), (1L, 3L, 800L), (2L, 3L, 700L),
      (5L, 6L, 600L), (6L, 7L, 500L)
    ).toDF("da", "db", "jac_permille")
    val out = Dedup.clusterQualityReport(pairs)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, 3L, 3L, 1000000L, 700L, 800L),
      (5L, 3L, 2L, 666666L, 500L, 550L)))
  }

  test("dedupAttrition: global dedup attributed per source; NULL texts form one class") {
    val docs = Seq(
      (1L, Option("x"), "A"), (2L, Option("x"), "A"), (3L, Option("y"), "A"),
      (4L, Option("x"), "B"), (5L, Option("z"), "B"),
      (6L, Option.empty[String], "B"), (7L, Option.empty[String], "B")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.dedupAttrition(docs)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // A: 3 docs, survivors {1 (of "x"), 3} -> 1 dropped (doc 2)
    // B: 4 docs, survivors {5, 6 (of the NULL class)} -> 2 dropped
    //    (doc 4 loses "x" to doc 1 ACROSS sources; doc 7 to doc 6)
    assert(out === Seq(
      ("A", 3L, 2L, 1L, 333333L),
      ("B", 4L, 2L, 2L, 500000L)))
  }

  test("tokenAttrition: the same survivor policy weighted in tokens; NULL text = 0 tokens") {
    val docs = Seq(
      (1L, Option("x y z"), "A"),   // 3 tokens, survives ("x y z" min id)
      (2L, Option("x y z"), "A"),   // 3 tokens, dropped
      (3L, Option("a"), "A"),       // 1 token, survives
      (4L, Option("x y z"), "B"),   // 3 tokens, dropped (doc 1 owns it)
      (5L, Option.empty[String], "B"), // NULL: 0 tokens, survives (class min)
      (6L, Option.empty[String], "B")  // NULL: 0 tokens, dropped — 0-token drop
    ).toDF("doc_id", "text", "source")
    val out = Dedup.tokenAttrition(docs)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // A: 7 tokens, 4 kept -> 3 dropped (428571 ppm)
    // B: 3 tokens, 0 kept -> all 3 dropped despite doc 5 surviving
    assert(out === Seq(
      ("A", 3L, 7L, 4L, 3L, 428571L),
      ("B", 3L, 3L, 0L, 3L, 1000000L)))
    // an all-NULL-text source divides by zero tokens -> NULL ppm
    val z = Dedup.tokenAttrition(
      Seq((9L, Option.empty[String], "Z")).toDF("doc_id", "text", "source"))
      .collect().head
    assert(z.getLong(2) === 0L && z.isNullAt(5))
  }

  test("bandBucketSkew: exact class ladder and pair mass; slots conserve bands x docs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),   // exact dup of 1
      (3L, "alpha beta gamma delta epsilon"),   // exact dup of 1
      (4L, "zz qq ww ee rr tt yy uu"))          // unrelated
      .toDF("doc_id", "text")
    val out = Dedup.bandBucketSkew(docs)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // 4 bands: in each, the three dups share one bucket (size 3 →
    // class 2 '≤4', 3 pairs) and doc 4 sits alone (class 0)
    assert(out.toSeq === Seq(
      (0L, 1L, 4L, 4L, 0L, 0L),
      (2L, 4L, 4L, 12L, 12L, 1000000L)))
    // conservation: every (band, doc) slot lands in exactly one bucket
    assert(out.map(_._4).sum === 4L * 4L)
  }

  test("pairSimilarityHistogram: decile buckets, 1000 folds into the top, cum from top") {
    val pairs = Seq(
      (1L, 2L, 1000L), (3L, 4L, 950L),  // both land in bucket_lo 900
      (5L, 6L, 900L),                   // boundary: 900 div 100 = 9 -> 900
      (7L, 8L, 450L),                   // bucket_lo 400
      (9L, 10L, 450L)
    ).toDF("da", "db", "jac_permille")
    val out = Dedup.pairSimilarityHistogram(pairs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (900L, 3L, 600000L, 600000L),
      (400L, 2L, 400000L, 1000000L)))
  }

  test("dedupMixtureShift: template-heavy class loses share, deltas read signed") {
    val docs = Seq(
      (1L, "uniq1", "en"), (2L, "uniq2", "en"), (3L, "uniq3", "en"),
      (4L, "tpl", "de"), (5L, "tpl", "de"), (6L, "tpl", "de")
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.dedupMixtureShift(docs)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // before: 3/3 — both 500000; after: de keeps 1 of 4 survivors
    assert(out === Seq(
      ("de", 3L, 500000L, 1L, 250000L, -250000L),
      ("en", 3L, 500000L, 3L, 750000L, 250000L)))
  }

  test("batchNoveltyReport: store hits drop, NULL-text batch rows count new") {
    val batch = Seq(
      (1L, Option("seen"), "A"),   // in store -> dup
      (2L, Option("fresh"), "A"),  // new
      (3L, Option.empty[String], "B") // NULL digest matches nothing -> new
    ).toDF("doc_id", "text", "source")
    val store = Seq(Option("seen"), Option.empty[String])
      .toDF("text")
      .select(org.apache.spark.sql.functions.md5($"text").as("fp"))
    val out = Dedup.batchNoveltyReport(batch, store)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out === Seq(("A", 2L, 1L, 500000L), ("B", 1L, 1L, 1000000L)))
  }

  test("lshBandingPlan rejects degenerate parameters") {
    intercept[IllegalArgumentException] {
      Dedup.lshBandingPlan(spark, numHashes = 1, thresholdPermille = 500)
    }
    intercept[IllegalArgumentException] {
      Dedup.lshBandingPlan(spark, numHashes = 16, thresholdPermille = 0)
    }
  }
  test("jaccardEstimateReport: exact dups estimate 1000; err is est minus exact") {
    val out = Dedup.jaccardEstimateReport(corpus, shingleK = 2, minPermille = 300)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    Harness.release(spark, blocking = false)
    val (jac12, est12, err12) = out((1L, 2L))
    assert(jac12 === 1000L && est12 === 1000L && err12 === 0L)
    out.values.foreach { case (jac, est, err) =>
      assert(est >= 0L && est <= 1000L)
      assert(err === est - jac)
    }
  }

  test("tailHeadStitch: directed overlap pairs, n_heads alarm, short/self out") {
    val docs = Seq(
      1L -> "a b c d e f",
      2L -> "e f g h i j",
      3L -> "e f x y z w",
      4L -> "q e f",
      5L -> "x",          // shorter than the overlap: never enters
      6L -> "m n o m n"   // own tail == own head: self-pair excluded
    ).toDF("doc_id", "text")
    val out = Dedup.tailHeadStitch(docs, overlapTokens = 2)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // tails: 1→"e f", 2→"i j", 3→"z w", 4→"e f", 6→"m n";
    // heads: 2 and 3 both open with "e f" (n_heads 2); 6 opens "m n"
    // but only stitches itself → dropped
    assert(out === Seq(
      (1L, 2L, 2L, 2L), (1L, 3L, 2L, 2L),
      (4L, 2L, 2L, 2L), (4L, 3L, 2L, 2L)))
    intercept[IllegalArgumentException] {
      Dedup.tailHeadStitch(docs, overlapTokens = 1)
    }
  }

  test("editDistancePairs: banded candidates verify by length-fair edit cut") {
    val base = (1 to 40).map(i => f"w$i%02d")
    val doc1 = base.mkString(" ")
    val doc2 = (base.dropRight(1) :+ "q40").mkString(" ")  // 1 char apart
    val doc5 = "t1 t2 t3 t4 t5 t6 " + "Z" * 60  // candidate, 782‰ edits
    val docs = Seq(
      (1L, doc1), (2L, doc2),
      (4L, "t1 t2 t3 t4 t5 t6"), (5L, doc5),
      (3L, "x1 x2 x3"))
      .toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(docs, shingleK = 2,
      minPermille = 300, maxEditPermille = 200)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // (1,2): levenshtein 1 over max length 159 → 6‰, kept;
    // (4,5): a genuine banding candidate (Jaccard 833‰) whose 61-char
    // appended tail puts it at 782‰ — verification must kill it
    assert(out === Seq((1L, 2L, 1L, 6L)))
    intercept[IllegalArgumentException] {
      Dedup.editDistancePairs(docs, maxEditPermille = 2000)
    }
  }

  test("bandRecallCurve: identical pair found at band 0, curve monotonic") {
    // identical texts → identical signatures → first collision at
    // band 0: the exact pair is found at EVERY band count (the only
    // fully hand-derivable banding outcome)
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (3L, "z1 z2 z3 z4 z5 z6"))
      .toDF("doc_id", "text")
    val out = Dedup.bandRecallCurve(docs, shingleK = 3, minPermille = 200)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    Harness.release(spark, blocking = false)
    assert(out.map(_._1) === Seq(1L, 2L, 3L, 4L))
    out.foreach { case (_, nc, nt, nf, rp) =>
      assert(nt === 1L && nf === 1L && rp === 1000000L && nc >= 1L)
    }
    // monotonic candidate mass in the band count
    assert(out.map(_._2) === out.map(_._2).sorted)
    intercept[IllegalArgumentException] {
      Dedup.bandRecallCurve(docs, numHashes = 10, rowsPerBand = 4)
    }
  }

  test("minhashErrorCurve: identical pair estimates exactly at every prefix") {
    // identical texts → jac 1000 and ALL signature components equal →
    // est 1000 at h = 4/8/16, so mae = bias = 0 (the only
    // hand-derivable point of the curve); the disjoint doc never pairs
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"),
      (3L, "q r s t u v"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashErrorCurve(docs, shingleK = 2, minPermille = 500)
      .as[(Long, Long, Long, Long)].collect().toSeq
    Harness.release(spark, blocking = false)
    assert(out === Seq((4L, 1L, 0L, 0L), (8L, 1L, 0L, 0L), (16L, 1L, 0L, 0L)))
    intercept[IllegalArgumentException] {
      Dedup.minhashErrorCurve(docs, numHashes = 2)
    }
  }

  test("minhashErrorCurve: empty pair set → zero counts, null metrics") {
    val docs = Seq((1L, "a b c"), (2L, "x y z")).toDF("doc_id", "text")
    val out = Dedup.minhashErrorCurve(docs, shingleK = 2, minPermille = 500)
      .collect()
    Harness.release(spark, blocking = false)
    assert(out.length === 3)
    out.foreach { r =>
      assert(r.getLong(1) === 0L && r.isNullAt(2) && r.isNullAt(3))
    }
  }

  test("dedupThresholdCurve: pair mass and flagged docs per bar") {
    // k=2: (1,2) identical → 1000‰; (1,3)/(2,3) share 2 of 4 → 500‰.
    // bar 500 → 3 pairs, all 3 docs; bar 900 → 1 pair, 2 docs
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "a b c x"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupThresholdCurve(docs, shingleK = 2,
        thresholds = Seq(500L, 900L))
      .as[(Long, Long, Long)].collect().toSeq
    Harness.release(spark, blocking = false)
    assert(out === Seq((500L, 3L, 3L), (900L, 1L, 2L)))
    intercept[IllegalArgumentException] {
      Dedup.dedupThresholdCurve(docs, thresholds = Seq(900L, 500L))
    }
  }

  test("nearDupSourceMatrix: cross-source pair lands canonical, diagonal counts") {
    // docs 1 (A) and 2 (B) identical → one (A,B) near-dup pair;
    // docs 3/4 both in B and identical → the (B,B) diagonal
    val docs = Seq(
      (1L, "a b c d e f", "A"), (2L, "a b c d e f", "B"),
      (3L, "p q r s t u", "B"), (4L, "p q r s t u", "B"),
      (5L, "x y z w v k", "A"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.nearDupSourceMatrix(docs, minPermille = 500)
      .as[(String, String, Long)].collect().toSeq
    Harness.release(spark, blocking = false)
    assert(out === Seq(("A", "B", 1L), ("B", "B", 1L)))
  }

  test("dedupMixtureRestore: shares and the exact restore rational") {
    // A: dup pair + unique (3 docs → 2 survivors); B: 1 unique doc.
    // totals 4 docs / 3 survivors → A restore (3·3·1e6)//(2·4),
    // B (1·3·1e6)//(1·4)
    val docs = Seq(
      (1L, "t t t", "A"), (2L, "t t t", "A"), (3L, "u u u", "A"),
      (4L, "v v v", "B"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.dedupMixtureRestore(docs)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      ("A", 3L, 2L, 750000L, 666666L, 1125000L),
      ("B", 1L, 1L, 250000L, 333333L, 750000L)))
  }

  test("mixtureRestoreFor: explicit survivor sets drive the same share " +
    "arithmetic; the exact-dedup delegation cannot drift") {
    val docs = Seq(
      (1L, "t t t", "A"), (2L, "t t t", "A"), (3L, "u u u", "A"),
      (4L, "v v v", "B"))
      .toDF("doc_id", "text", "source")
    // a STRICTER policy than exact dedup (near-dup chain dropped 3):
    // A keeps 1 of 3, B keeps 1 of 1; totals 4 docs / 2 survivors
    val out = Dedup.mixtureRestoreFor(docs,
        Seq(1L, 4L).toDF("doc_id"))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      ("A", 3L, 1L, 750000L, 500000L, 1500000L),
      ("B", 1L, 1L, 250000L, 500000L, 500000L)))
    // delegation: dedupMixtureRestore ≡ mixtureRestoreFor(its own
    // exact min-id survivors) — the two spellings share one tail
    val viaExplicit = Dedup.mixtureRestoreFor(docs,
        Dedup.exact(docs).select($"keep_id".as("doc_id")))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val viaExact = Dedup.dedupMixtureRestore(docs)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(viaExplicit === viaExact)
    // a survivor id outside docs contributes to no source bucket (and
    // the fully-deduped-away source reads a NULL factor, not a crash)
    val ghost = Dedup.mixtureRestoreFor(docs, Seq(1L, 99L).toDF("doc_id"))
      .select("source", "n_survivors", "restore_factor_ppm").collect()
      .map(r => (r.getString(0), r.getLong(1), r.isNullAt(2))).toSeq
    assert(ghost === Seq(("A", 1L, false), ("B", 0L, true)))
  }

  test("clusterCapSurvivors: top-m by (score DESC, id), singletons keep their row") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("da", "db")
    val scores = Seq((1L, 5L), (2L, 9L), (3L, 9L), (7L, 4L), (8L, 6L))
      .toDF("doc_id", "score")
    val out = Dedup.clusterCapSurvivors(pairs, scores, m = 2)
      .as[(Long, Long, Long, Long)].collect().toSeq
    Harness.release(spark, blocking = false)
    // cluster 1 = {1,2,3}: 9@2 then 9@3 (id tie-break), 5@1 dropped;
    // cluster 7 = {7,8}: both fit under the cap
    assert(out === Seq(
      (1L, 2L, 1L, 9L), (1L, 3L, 2L, 9L),
      (7L, 8L, 1L, 6L), (7L, 7L, 2L, 4L)))
    intercept[IllegalArgumentException] {
      Dedup.clusterCapSurvivors(pairs, scores, m = 0)
    }
  }

  test("syndicationMatrix: min-id originator, within-source copies out") {
    val docs = Seq(
      (1L, "A", "dup one"),
      (2L, "B", "dup one"),   // B copies A's group
      (3L, "B", "dup one"),   // second B copy: same edge, same group
      (4L, "A", "dup one"),   // within-source re-post: excluded
      (5L, "C", "solo txt"),  // unshared: no edge
      (6L, "B", "two grp"),
      (7L, "C", "two grp")    // C copies B's group
    ).toDF("doc_id", "source", "text")
    val out = Dedup.syndicationMatrix(docs)
      .as[(String, String, Long, Long)].collect().toSeq
    Harness.release(spark, blocking = false)
    assert(out === Seq(("A", "B", 2L, 1L), ("B", "C", 1L, 1L)))
  }

  test("pairState append law: merged states ≡ one-shot; pairsAppend is exactly the delta-involving arrival") {
    // base/delta split with dup structure CROSSING it: 1↔2 exact
    // (cross-split), 1↔3 / 2↔3 near (within- and cross-split)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    val oneShot = pairsOf(
      Dedup.minHashLshPairs(corpus, shingleK = 2, minPermille = 300))
    assert(oneShot.map(p => (p._1, p._2)).contains((1L, 2L)),
      "fixture must plant a cross-split pair")
    val base = corpus.filter("doc_id % 2 = 0")   // 2, 4
    val delta = corpus.filter("doc_id % 2 = 1")  // 1, 3, 5
    val sBase = Dedup.pairState(base, shingleK = 2)
    val sDelta = Dedup.pairState(delta, shingleK = 2)
    // law 1: mining the merged states ≡ the one-shot mining
    assert(pairsOf(Dedup.pairsFromState(
      Dedup.mergePairStates(sBase, sDelta), minPermille = 300)) === oneShot)
    // law 2: standing pairs ∪ incremental arrival ≡ the one-shot
    val standing = pairsOf(Dedup.pairsFromState(sBase, minPermille = 300))
    val arrived = pairsOf(Dedup.pairsAppend(sBase, delta,
      shingleK = 2, minPermille = 300))
    assert((standing ++ arrived) === oneShot)
    // arrival rows all involve a delta doc, and never duplicate standing
    assert(arrived.forall(p => p._1 % 2 == 1 || p._2 % 2 == 1))
    assert(standing.intersect(arrived).isEmpty)
    Harness.release(spark, blocking = false)
  }

  test("persisted pairState table: append signs with the pinned shingleK; mining from the table ≡ one-shot") {
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    val tbl = "pair_state_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      Dedup.writePairState(corpus.filter("doc_id % 2 = 0"), tbl,
        shingleK = 2, buckets = 2)
      Dedup.appendPairState(corpus.filter("doc_id % 2 = 1"), tbl)
      val mined = pairsOf(Dedup.pairsFromState(spark.table(tbl),
        minPermille = 300))
      val oneShot = pairsOf(
        Dedup.minHashLshPairs(corpus, shingleK = 2, minPermille = 300))
      assert(mined === oneShot)
      // a table not built by writePairState refuses the append loudly
      spark.sql(s"ALTER TABLE $tbl UNSET TBLPROPERTIES ('graft.pairstate.shingleK')")
      intercept[IllegalArgumentException] {
        Dedup.appendPairState(corpus.limit(1), tbl)
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      Harness.release(spark, blocking = false)
    }
  }

  test("pairState retirement: tombstoned state mines ≡ a rebuild without the doc; compact preserves") {
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    val tbl = "pair_state_crud"
    for (t <- Seq(tbl, tbl + "_tombs"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      Dedup.writePairState(corpus, tbl, shingleK = 2, buckets = 2)
      // retire doc 2 — a member of the planted 1↔2 pair, so the pair
      // itself must vanish from the mined set
      Dedup.deleteFromPairState(spark, tbl, Seq(2L).toDF("doc_id"))
      val mined = pairsOf(Dedup.pairsFromState(
        Dedup.readPairState(spark, tbl), minPermille = 300))
      val rebuilt = pairsOf(Dedup.minHashLshPairs(
        corpus.filter("doc_id <> 2"), shingleK = 2, minPermille = 300))
      assert(mined === rebuilt)
      assert(mined.forall(p => p._1 != 2L && p._2 != 2L))
      Dedup.compactPairState(spark, tbl)
      assert(!spark.catalog.tableExists(tbl + "_tombs"))
      assert(spark.table(tbl).filter("doc_id = 2").count() === 0L)
      assert(pairsOf(Dedup.pairsFromState(
        Dedup.readPairState(spark, tbl), minPermille = 300)) === rebuilt)
      // the compacted table keeps its pinned shingleK/buckets: a
      // re-ingest of the retired doc restores the one-shot mining
      Dedup.appendPairState(corpus.filter("doc_id = 2"), tbl)
      assert(pairsOf(Dedup.pairsFromState(
        Dedup.readPairState(spark, tbl), minPermille = 300)) ===
        pairsOf(Dedup.minHashLshPairs(corpus, shingleK = 2,
          minPermille = 300)))
    } finally {
      for (t <- Seq(tbl, tbl + "_tombs"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      Harness.release(spark, blocking = false)
    }
  }

  test("pairState: re-appending a doc still tombstoned folds the old " +
    "generation first — mining ≡ one-shot, state row appears once") {
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    val tbl = "pair_state_reapp"
    for (t <- Seq(tbl, tbl + "_tombs"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      Dedup.writePairState(corpus, tbl, shingleK = 2, buckets = 2)
      Dedup.deleteFromPairState(spark, tbl, Seq(2L).toDF("doc_id"))
      // the r15-ADVICE trap: re-ingest doc 2 while its tombstone is
      // live. Without the overlap guard the tombstone hides the NEW
      // state row from every consumer and compact drops both.
      Dedup.appendPairState(corpus.filter("doc_id = 2"), tbl)
      assert(spark.table(tbl).filter("doc_id = 2").count() === 1L,
        "exactly one generation of the re-appended doc may survive")
      val oneShot = pairsOf(Dedup.minHashLshPairs(corpus, shingleK = 2,
        minPermille = 300))
      assert(pairsOf(Dedup.pairsFromState(
        Dedup.readPairState(spark, tbl), minPermille = 300)) === oneShot)
      // and a later compact preserves it (the guard already folded)
      Dedup.compactPairState(spark, tbl)
      assert(pairsOf(Dedup.pairsFromState(
        Dedup.readPairState(spark, tbl), minPermille = 300)) === oneShot)
    } finally {
      for (t <- Seq(tbl, tbl + "_tombs"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      Harness.release(spark, blocking = false)
    }
  }

  test("clusterLabelsRefresh append law: standing labels + new pairs ≡ fixpoint over all pairs") {
    // standing graph: {1,2} and {5,6}; arrivals merge them via 2–5 and
    // open a new cluster {8,9} — exercises cluster-merge, label
    // carry-through and brand-new components in one refresh
    val p1 = Seq((1L, 2L), (5L, 6L)).toDF("da", "db")
    val p2 = Seq((2L, 5L), (8L, 9L)).toDF("da", "db")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toSeq
    val refreshed = labels(Dedup.clusterLabelsRefresh(
      Dedup.connectedComponents(p1), p2))
    val oneShot = labels(Dedup.connectedComponents(p1.unionByName(p2)))
    assert(refreshed === oneShot)
    assert(refreshed.toMap === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L,
      8L -> 8L, 9L -> 8L))
    Harness.release(spark, blocking = false)
  }
}

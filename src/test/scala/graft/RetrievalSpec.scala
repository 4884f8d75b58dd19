package graft

import graft.operators.Retrieval

class RetrievalSpec extends SparkSpec with SlowSuite {
  import spark.implicits._

  private def docs = Seq(
    (1L, "cat dog cat"),          // cat×2, dl 3
    (2L, "cat fish"),             // cat×1, dl 2
    (3L, "dog dog dog dog"),      // no query terms
    (4L, "bird"))                 // no query terms
    .toDF("doc_id", "text")

  test("bm25 scores and ranks by tf, df and length normalization") {
    val out = Retrieval.bm25TopK(docs, Seq("cat", "fish"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // N=4, avgdl=2.5; cat df=2, fish df=1
    // doc 2 hits both terms (and fish's idf is higher) → ranks first
    assert(out.map(_._1).toSeq === Seq(2L, 1L))
    assert(out.map(_._2).toSeq === Seq(2L, 1L))   // n_hit
    // replay the formula in Scala for doc 1: cat tf=2, dl=3
    val idfCat = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    val s1 = idfCat * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3 / 2.5))
    assert(out(1)._3 === math.floor(s1 * 1000 + 0.5).toLong)
  }

  test("docs without any query term never appear; k truncates") {
    assert(Retrieval.bm25TopK(docs, Seq("cat"), k = 10).count() === 2L)
    assert(Retrieval.bm25TopK(docs, Seq("cat"), k = 1)
      .collect().map(_.getLong(0)).toSeq === Seq(1L))  // higher tf wins
  }

  test("duplicate query terms collapse; unknown terms contribute nothing") {
    val a = Retrieval.bm25TopK(docs, Seq("cat", "cat", "zzz"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val b = Retrieval.bm25TopK(docs, Seq("cat"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(a.toSeq === b.toSeq)
  }

  test("plan: top-k is TakeOrderedAndProject, df and stats broadcast") {
    val plan = Retrieval.bm25TopK(docs, Seq("cat"), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  private def emb = Seq(
    (0L, Seq(1.0f, 0.0f)),   // the query vector
    (1L, Seq(0.9f, 0.1f)),   // closest to query
    (2L, Seq(0.0f, 1.0f)),   // orthogonal
    (3L, Seq(0.5f, 0.5f)),
    (4L, Seq(-1.0f, 0.0f)))  // opposite
    .toDF("vec_id", "embedding")

  test("hybridRrf fuses lexical and dense ranks; both-pool docs outrank single-pool") {
    val out = Retrieval.hybridRrf(docs, emb, Seq("cat", "fish"),
      queryVecId = 0L, k = 10, poolK = 3, rrfK = 60)
      .collect()
    val byId = out.map(r => r.getLong(0) ->
      (Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3))).toMap
    // doc 2: lex_rank 1 (both terms) AND dense_rank 2 (orthogonal but in pool)
    assert(byId(2L)._1 === Some(1L) && byId(2L)._2.nonEmpty)
    // doc 1: lex_rank 2, dense pool rank 1 (0.9,0.1 is closest to (1,0))
    assert(byId(1L)._2 === Some(1L))
    // fused scores replay: 1/(60+r_lex) + 1/(60+r_dense) in micros
    byId.foreach { case (_, (lr, dr, micro)) =>
      val expect = math.floor(
        (lr.map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
          dr.map(r => 1.0 / (60.0 + r)).getOrElse(0.0)) * 1000000.0 + 0.5).toLong
      assert(micro === expect)
    }
    // a doc present in BOTH pools beats any single-pool doc at equal ranks:
    // output is ordered by fused score desc
    val micros = out.map(_.getLong(3)).toSeq
    assert(micros === micros.sorted.reverse)
    assert(out.head.getLong(0) === 2L || out.head.getLong(0) === 1L)
  }

  test("hybridRrf: docs outside both pools are absent; k truncates the fusion") {
    val out = Retrieval.hybridRrf(docs, emb, Seq("cat"), queryVecId = 0L,
      k = 2, poolK = 2, rrfK = 60).collect()
    assert(out.length === 2)
    // doc 4 (opposite embedding, no lexical hit) must not appear at poolK=2
    assert(!out.map(_.getLong(0)).contains(4L))
  }

  test("prebuilt index returns row-for-row the on-the-fly bm25 result") {
    Retrieval.buildLexIndex(docs, "lex_post_t", "lex_len_t", buckets = 4)
    val fly = Retrieval.bm25TopK(docs, Seq("cat", "fish"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val pre = Retrieval.bm25TopKPrebuilt(spark, "lex_post_t", "lex_len_t",
        Seq("cat", "fish"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(pre === fly)
    assert(pre.nonEmpty)
  }

  test("prebuilt postings scan bucket-prunes to the query terms") {
    Retrieval.buildLexIndex(docs, "lex_post_p", "lex_len_p", buckets = 4)
    val df = Retrieval.bm25TopKPrebuilt(spark, "lex_post_p", "lex_len_p",
      Seq("cat"), k = 5)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // bucket pruning: a single term hashes into exactly ONE of the 4
    // postings buckets (the doc_id-bucketed lengths table legitimately
    // reads all of ITS buckets — it has no pruning predicate)
    assert(plan.contains("SelectedBucketsCount: 1 out of 4"),
      s"postings scan must bucket-prune the single term to one bucket:\n$plan")
  }

  test("lex index CRUD: tombstoned probe ≡ a rebuild without the docs; " +
    "append ≡ full build; compact preserves and physically removes") {
    def collectTopk(post: String, len: String) =
      Retrieval.bm25TopKPrebuilt(spark, post, len, Seq("cat", "fish"), k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // append law: build on the first half, append the second —
    // probe ≡ a one-shot build over the union
    Retrieval.buildLexIndex(docs.filter($"doc_id" <= 2), "lex_crud",
      "lex_crud_len", buckets = 4)
    Retrieval.appendToLexIndex(docs.filter($"doc_id" > 2), "lex_crud",
      "lex_crud_len")
    Retrieval.buildLexIndex(docs, "lex_ref", "lex_ref_len", buckets = 4)
    assert(collectTopk("lex_crud", "lex_crud_len")
      === collectTopk("lex_ref", "lex_ref_len"))
    // delete doc 2 (the only 'fish' doc): tombstoned probe must equal
    // the on-the-fly bm25 over the surviving corpus — N, avgdl AND
    // df all shift (fish's df drops to 0), which is the exactness claim
    Retrieval.deleteFromLexIndex(spark, "lex_crud",
      Seq(2L).toDF("doc_id"))
    val expect = Retrieval.bm25TopK(docs.filter($"doc_id" =!= 2),
        Seq("cat", "fish"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val tombstoned = collectTopk("lex_crud", "lex_crud_len")
    assert(tombstoned === expect)
    assert(!tombstoned.exists(_._1 == 2L))
    // compact: probe unchanged, tombstones gone, postings
    // physically shrunk to the survivors
    Retrieval.compactLexIndex(spark, "lex_crud", "lex_crud_len")
    assert(collectTopk("lex_crud", "lex_crud_len") === expect)
    assert(!new java.io.File(graft.core.IndexTable.link(spark, "lex_crud"), "_tombs").exists())
    assert(spark.table("lex_crud").filter($"doc_id" === 2).count() === 0L)
    assert(spark.table("lex_crud_len").filter($"doc_id" === 2).count() === 0L)
    // the compacted index still carries its bucket pin: a further
    // append must keep working
    Retrieval.appendToLexIndex(docs.filter($"doc_id" === 2), "lex_crud",
      "lex_crud_len")
    assert(collectTopk("lex_crud", "lex_crud_len")
      === collectTopk("lex_ref", "lex_ref_len"))
  }

  test("lex index: re-appending a doc still tombstoned folds the old " +
    "generation first — probe ≡ fresh build, nothing hidden or doubled") {
    def collectTopk(post: String, len: String) =
      Retrieval.bm25TopKPrebuilt(spark, post, len, Seq("cat", "fish"), k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    Retrieval.buildLexIndex(docs, "lex_re", "lex_re_len", buckets = 4)
    Retrieval.deleteFromLexIndex(spark, "lex_re", Seq(2L).toDF("doc_id"))
    // the r15-ADVICE trap: re-append doc 2 while its tombstone is live.
    // Without the overlap guard the tombstone subtracts the NEW rows
    // too (doc 2 vanishes) and a later compact deletes both copies.
    Retrieval.appendToLexIndex(docs.filter($"doc_id" === 2), "lex_re",
      "lex_re_len")
    Retrieval.buildLexIndex(docs, "lex_re_ref", "lex_re_ref_len", buckets = 4)
    val expect = collectTopk("lex_re_ref", "lex_re_ref_len")
    assert(collectTopk("lex_re", "lex_re_len") === expect)
    assert(expect.exists(_._1 == 2L)) // the fish doc is genuinely back
    // exactly ONE generation of doc 2 survives physically
    assert(spark.table("lex_re_len").filter($"doc_id" === 2).count() === 1L)
    // and a later compact (no tombstones left) changes nothing
    Retrieval.compactLexIndex(spark, "lex_re", "lex_re_len")
    assert(collectTopk("lex_re", "lex_re_len") === expect)
  }

  test("phraseTopK: consecutive tokens only, occurrence-ranked, doc tiebreak") {
    val docs = Seq(
      (1L, "new york new york is big"),      // 2 occurrences
      (2L, "the new york marathon"),         // 1
      (3L, "york new has the words reversed"), // bag matches, phrase doesn't
      (4L, "new and york but separated"),    // not consecutive
      (5L, "tiny"))
      .toDF("doc_id", "text")
    val out = Retrieval.phraseTopK(docs, Seq("new", "york"), k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 2L), (2L, 1L)))
    // single-term phrase degenerates to plain term counting
    val one = Retrieval.phraseTopK(docs, Seq("new"), k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(one === Seq((1L, 2L), (2L, 1L), (3L, 1L), (4L, 1L)))
    intercept[IllegalArgumentException] {
      Retrieval.phraseTopK(docs, Seq.empty, k = 5)
    }
    intercept[IllegalArgumentException] {
      Retrieval.phraseTopK(docs, Seq("new york"), k = 5)
    }
  }

  test("qlTopK: Dirichlet scores replay locally; background mass for " +
    "missing terms; no-hit docs excluded") {
    // corpus: 1 "a a b" (dl 3), 2 "b c" (dl 2), 3 "z z" (dl 2) → |C| = 7
    // query {a, c}, µ = 2: cf(a) = 2, cf(c) = 1; candidates = docs 1, 2
    // (doc 3 has neither term → never ranked)
    val d = Seq((1L, "a a b"), (2L, "b c"), (3L, "z z")).toDF("doc_id", "text")
    val out = Retrieval.qlTopK(d, Seq("a", "c"), k = 10, mu = 2.0)
      .as[(Long, Long, Long)].collect().toSeq
    def score(dl: Long, tfs: Seq[(Long, Long)]): Long = { // (tf, cf)
      val s = tfs.map { case (tf, cf) =>
        math.log(tf.toDouble + 2.0 * cf / 7L) - math.log(dl.toDouble + 2.0)
      }.sum
      math.floor(s * 1000000 + 0.5).toLong
    }
    val s1 = score(3L, Seq(2L -> 2L, 0L -> 1L)) // doc 1: a hit, c background
    val s2 = score(2L, Seq(0L -> 2L, 1L -> 1L)) // doc 2: c hit, a background
    assert(s2 > s1, "shorter doc with a hit must outrank")
    assert(out === Seq((2L, 1L, s2), (1L, 1L, s1)))
  }

  test("moreLikeThis: rare tokens seed the query, the seed doc is excluded, " +
    "related docs outrank unrelated") {
    // doc 0's rare tokens are "quantum" and "flux" (df 2 each, beating
    // the df-3 "the"); docs 1 and 2 share one rare token each, doc 3
    // shares only the stopword-ish "the"
    val d = Seq(
      (0L, "the quantum flux"),
      (1L, "the quantum lattice"),
      (2L, "a flux capacitor story"),
      (3L, "the plain tale")).toDF("doc_id", "text")
    val out = Retrieval.moreLikeThis(d, docId = 0L, kTerms = 2, k = 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(!out.exists(_._1 === 0L), "seed doc must be excluded")
    assert(out.map(_._1).toSet === Set(1L, 2L), "only rare-token sharers rank")
    assert(out.forall(_._2 === 1L))
  }

  test("qlTopK: a query term absent from the whole corpus is excluded, " +
    "not scored as -inf") {
    val d = Seq((1L, "a b"), (2L, "b b")).toDF("doc_id", "text")
    val out = Retrieval.qlTopK(d, Seq("a", "qqq"), k = 10, mu = 2.0)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.map(_._1) === Seq(1L)) // only the a-hit doc, finite score
  }

  test("rankBiasedOverlap: identical, disjoint, and shared-top rankings in exact micro") {
    def rank(ids: Long*) = ids.zipWithIndex
      .map { case (id, i) => (id, (i + 1).toLong) }.toDF("doc_id", "rank")
    val a = rank(10L, 20L, 30L)
    // identical lists at p=.9, depth 3: pw = 1e6, 900k, 810k; overlap_d = d
    // -> rbo = 100*(1e6+900k+810k)/1000 = 271000 (= 1 - p^3 exactly)
    val same = graft.operators.Retrieval.rankBiasedOverlap(a, rank(10L, 20L, 30L),
      pMilli = 900, depth = 3).collect().head
    assert((same.getLong(0), same.getLong(1)) === ((3L, 271000L)))
    // disjoint lists -> 0
    val disj = graft.operators.Retrieval.rankBiasedOverlap(a, rank(40L, 50L, 60L),
      pMilli = 900, depth = 3).collect().head
    assert(disj.getLong(1) === 0L)
    // only the top item shared (rank 1 both): overlap_d = 1 for all d
    // -> terms 1e6/1, 900k/2, 810k/3 = 1e6+450000+270000 -> 172000
    val top = graft.operators.Retrieval.rankBiasedOverlap(a, rank(10L, 70L, 80L),
      pMilli = 900, depth = 3).collect().head
    assert(top.getLong(1) === 172000L)
  }
}

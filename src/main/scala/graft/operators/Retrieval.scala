package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyword retrieval over a document corpus: BM25 scoring in the
  * inverted-index shape.
  *
  * The reference engine stores raw documents and leaves search to the
  * sink database; a training-data pipeline needs corpus-side retrieval
  * for curation (topic pulls, eval-set mining, hard-negative mining)
  * without an external index. BM25 (Robertson/Sparck Jones; the
  * Okapi formulation used by Lucene and every search engine since) is
  * the standard lexical ranking function.
  *
  * Scale shape — the part that matters at 100 TB:
  *  - The corpus is filtered to QUERY-TERM postings BEFORE any
  *    shuffle: `explode(tokens) WHERE tok IN terms` is a narrow
  *    scan-side operation, so the only rows that ever move are the
  *    postings of the |terms| query terms (an inverted-index probe,
  *    not a corpus scan-and-shuffle).
  *  - Document frequencies are derived from the per-doc tf aggregate
  *    (|terms| rows) and broadcast back; corpus-wide stats (N, avgdl)
  *    are a 1-row aggregate cross-joined in — nothing large ever sits
  *    on the build side.
  *  - Top-k is `ORDER BY … LIMIT k` → TakeOrderedAndProject (per-
  *    partition heaps + driver merge of k-row heads), never a global
  *    sort.
  *
  * Determinism: the score is rounded to integer millis
  * (`FLOOR(score·1000 + 0.5)`) and ranked on (score_milli DESC,
  * doc_id), so the result is a pure function of the data — the oracle
  * replays the same double arithmetic and the rounding absorbs
  * summation-order ulps.
  */
object Retrieval {

  /** BM25 top-k: the `k` highest-scoring documents for bag-of-words
    * `terms`, scored as
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` with
    * `idf = ln(1 + (N − df + 0.5)/(df + 0.5))` (the Lucene-style
    * non-negative idf). Documents containing none of the terms never
    * enter the plan.
    *
    * @param docs  corpus with `doc_id` and single-space-tokenized `text`
    * @param terms query bag of words (deduplicated; case-sensitive to
    *              match the corpus convention)
    * @param k     result size
    * @param k1    term-frequency saturation (BM25 default 1.2)
    * @param b     length-normalization strength (BM25 default 0.75)
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(k > 0, s"k ($k) must be positive")
    val termSet = terms.distinct

    // per-doc length, computed without materializing the token array
    val dl = docs.select(col("doc_id"),
      TextAnalysis.tokenCountCol(col("text")).as("dl"))
    // inverted-index probe: only query-term postings survive the scan
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok").isin(termSet: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    scoreBm25(tf, dl, k, k1, b)
  }

  /** The single copy of the BM25 scoring tree, shared by the
    * scan-derived path ([[bm25TopK]]) and the persisted-index path
    * ([[bm25TopKPrebuilt]]) so the two CANNOT drift — the same
    * discipline as `Sampling.splitCase` (x42/x106) and
    * `Dedup.bandedSignatures` (x07/x80). `tf` carries query-term
    * postings (doc_id, tok, tf); `dl` carries every document's
    * (doc_id, dl). */
  private def scoreBm25(tf: DataFrame, dl: DataFrame, k: Int,
                        k1: Double, b: Double): DataFrame = {
    // 1-row corpus stats; broadcast by the literal-cross-join shape
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    // df per term: |terms| rows, broadcast back onto the postings
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val norm = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    tf.join(broadcast(df), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"), sum(idf * norm).as("score"))
      .select(col("doc_id"), col("n_hit"),
        floor(col("score") * 1000 + 0.5).cast("long").as("score_milli"))
      .orderBy(col("score_milli").desc, col("doc_id"))
      .limit(k)
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (Ponte &
    * Croft SIGIR'98; Zhai & Lafferty SIGIR'01) — the language-model
    * ranking alternative to [[bm25TopK]], sharing the SAME
    * inverted-index probe shape:
    * `score(d) = Σ_{t∈q} ln((tf_td + µ·cf_t/|C|) / (dl_d + µ))` —
    * the log-probability of the query under the document's
    * Dirichlet-smoothed unigram model. Terms a candidate LACKS still
    * contribute their background mass (that is what smoothing is for),
    * so scoring runs over the full candidate × query-term grid;
    * documents containing NO query term are not ranked (their
    * pure-background score orders by length alone — noise), and query
    * terms absent from the whole corpus are excluded (their smoothed
    * probability is 0 at any µ).
    *
    * Scale shape — [[bm25TopK]]'s exactly: the corpus filters to
    * query-term postings BEFORE any shuffle; cf comes from those same
    * postings (|terms| rows, broadcast), |C| and per-doc lengths from
    * the 1-row / doc-keyed aggregates; the grid is candidates × |q|;
    * top-k is TakeOrderedAndProject. Determinism: score floored to
    * integer micronats, ranked (score DESC, doc_id) — the rounding
    * absorbs summation-order ulps over the ≤|q|-term per-doc sum (the
    * x51/x82 ln discipline).
    *
    * @return (doc_id, n_hit, score_micronat) top-k. */
  def qlTopK(docs: DataFrame, terms: Seq[String], k: Int,
             mu: Double = 2000.0): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(k > 0, s"k ($k) must be positive")
    require(mu > 0, s"mu ($mu) must be positive")
    val termSet = terms.distinct
    val dl = docs.select(col("doc_id"),
      TextAnalysis.tokenCountCol(col("text")).as("dl"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok").isin(termSet: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy("tok").agg(sum("tf").as("cf"))
    val ctot = dl.agg(sum("dl").as("ctot"))
    val grid = tf.select("doc_id").distinct()
      .crossJoin(broadcast(cf))
      .join(tf, Seq("doc_id", "tok"), "left")
      .select(col("doc_id"), col("cf"),
        coalesce(col("tf"), lit(0L)).as("tf"))
    val term = log(col("tf").cast("double") +
        lit(mu) * col("cf") / col("ctot")) -
      log(col("dl").cast("double") + lit(mu))
    grid.join(dl, "doc_id")
      .crossJoin(broadcast(ctot))
      .groupBy("doc_id")
      .agg(sum(when(col("tf") > 0L, 1L).otherwise(0L)).as("n_hit"),
        sum(term).as("score"))
      .select(col("doc_id"), col("n_hit"),
        floor(col("score") * 1000000 + 0.5).cast("long").as("score_micronat"))
      .orderBy(col("score_micronat").desc, col("doc_id"))
      .limit(k)
  }

  /** More-like-this retrieval: use a DOCUMENT as the query — its top
    * `kTerms` tokens by the exact tf·10⁶ div df rarity score (the
    * x129 keyword rule: stopwords self-suppress, ranking and
    * tie-break (score DESC, token) are integer-deterministic) seed a
    * [[bm25TopK]] run, the seed document itself excluded. The
    * "find me more pages like this one" primitive behind related-
    * content, duplicate triage ("what else looks like this spam
    * page"), and topic-pull curation — a two-stage COMPOSITION of two
    * certified operators rather than a new scorer.
    *
    * Shape: the seed-term derivation is one doc-filtered tf pass plus
    * the vocabulary-bounded df table; the `kTerms` seed strings come
    * to the driver (broadcast-literal pattern — bounded by the
    * parameter, not the data) and the retrieval stage is bm25TopK's
    * inverted-index probe unchanged. Self-exclusion asks for k+1,
    * drops the seed if present, re-cuts to k — provably equal to
    * excluding first (the (score, doc_id) order is total).
    *
    * @return (doc_id, n_hit, score_milli) top-k, seed excluded. */
  def moreLikeThis(docs: DataFrame, docId: Long, kTerms: Int = 3,
                   k: Int = 10, k1: Double = 1.2,
                   b: Double = 0.75): DataFrame = {
    require(kTerms >= 1, s"kTerms ($kTerms) must be >= 1")
    require(k >= 1, s"k ($k) must be >= 1")
    val docTok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfT = docTok.groupBy("tok").agg(count(lit(1)).as("df"))
    val seed = docTok.filter(col("doc_id") === docId)
      .join(dfT, Seq("tok"))
      .withColumn("score_micro", expr("(tf * 1000000) div df"))
      .orderBy(col("score_micro").desc, col("tok")).limit(kTerms)
      .select("tok").collect().map(_.getString(0)).toSeq
    require(seed.nonEmpty, s"moreLikeThis: doc $docId has no tokens")
    bm25TopK(docs, seed, k + 1, k1, b)
      .filter(col("doc_id") =!= docId)
      .orderBy(col("score_milli").desc, col("doc_id"))
      .limit(k)
  }

  /** Build the persisted lexical index: a postings table
    * (tok, doc_id, tf) bucketed+sorted on `tok` and a doc-lengths
    * table (doc_id, dl) bucketed on `doc_id` — the "build the
    * inverted index once, query it many times" shape every search
    * engine ships, and the lexical sibling of
    * `AnnIndex.buildLshIndex`/`buildIvfIndex`. One corpus scan per
    * table, one index group named by `postingsTable`
    * ([[graft.core.IndexTable]]). k1/b/terms are query-time parameters,
    * so only the bucket spec is pinned, which [[appendToLexIndex]] and
    * [[compactLexIndex]] reuse so the bucketed-scan HashPartitioning
    * guarantee survives index maintenance. */
  def buildLexIndex(docs: DataFrame, postingsTable: String,
                    lengthsTable: String, buckets: Int = 8): Unit =
    graft.core.IndexTable.build(postingsTable, "doc_id", buckets)(
      (postingsTable, lexPostings(docs), Seq("tok")),
      (lengthsTable, lexLengths(docs), Seq("doc_id")))

  private def lexPostings(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))

  private def lexLengths(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextAnalysis.tokenCountCol(col("text")).as("dl"))

  /** O(batch) index maintenance, ingest side: tokenize ONLY the new
    * docs and append through the same bucketed writers (bucket spec
    * read from the index manifest, so the bucket-pruned probe shape
    * survives the append). Batches must carry doc_ids not already LIVE
    * in the index — an id re-appended while live would double its
    * postings; retire it first with [[deleteFromLexIndex]]. A batch id
    * still tombstoned is safe: [[graft.core.IndexTable.append]] compacts
    * first, one index rewrite. */
  def appendToLexIndex(docs: DataFrame, postingsTable: String,
                       lengthsTable: String): Unit =
    graft.core.IndexTable.append(postingsTable, docs.select(col("doc_id")))(Seq(
      postingsTable -> lexPostings(docs), lengthsTable -> lexLengths(docs)))

  /** TOMBSTONE delete from the persisted lexical index — the
    * `AnnIndex.deleteFromIndex` discipline on the BM25 side: retired
    * doc_ids land in the index group's tiny tombstone list and
    * [[bm25TopKPrebuilt]] subtracts them from BOTH legs (postings and
    * lengths) before scoring, so a delete is O(|ids|) now and O(1)
    * per candidate at probe time — never a postings rewrite. Because
    * scoreBm25's corpus statistics (N, avgdl, df) all derive from the
    * subtracted inputs, a probe with tombstones is EXACTLY a probe of
    * an index rebuilt without the retired docs (RetrievalSpec-pinned),
    * idf shift and all. */
  def deleteFromLexIndex(spark: org.apache.spark.sql.SparkSession,
                         postingsTable: String, ids: DataFrame,
                         idCol: String = "doc_id"): Unit =
    graft.core.IndexTable.delete(spark, postingsTable, ids, idCol)

  /** Fold the tombstones into both index tables
    * ([[graft.core.IndexTable.compact]]). Probe-visible results are
    * unchanged (RetrievalSpec-pinned). No-op without tombstones. */
  def compactLexIndex(spark: org.apache.spark.sql.SparkSession,
                      postingsTable: String, lengthsTable: String): Unit =
    graft.core.IndexTable.compact(spark, postingsTable)

  /** BM25 top-k over the persisted index: identical output to
    * [[bm25TopK]] (RetrievalSpec asserts row-for-row equality), but
    * the corpus text is never re-tokenized — the term filter hits the
    * bucketed postings table, where Spark's bucket pruning reads ONLY
    * the buckets the query terms hash into (`SelectedBucketsCount` in
    * the scan), and the doc_id-bucketed lengths table joins without
    * shuffling its own side. At 100 TB this turns every query from a
    * corpus scan into |terms| bucket reads. */
  def bm25TopKPrebuilt(spark: org.apache.spark.sql.SparkSession,
                       postingsTable: String, lengthsTable: String,
                       terms: Seq[String], k: Int,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(k > 0, s"k ($k) must be positive")
    val termSet = terms.distinct
    // tombstones subtract from BOTH legs: tf (df shrinks per term) and
    // dl (N and avgdl shrink) — scoreBm25 derives every corpus stat
    // from these inputs, so the tombstoned probe ≡ a rebuilt index
    val tf = graft.core.IndexTable.read(spark, postingsTable, postingsTable)
      .filter(col("tok").isin(termSet: _*))
    val dl = graft.core.IndexTable.read(spark, postingsTable, lengthsTable)
    scoreBm25(tf, dl, k, k1, b)
  }

  /** Hybrid retrieval: reciprocal-rank fusion (Cormack/Clarke/Buettcher
    * 2009) of a lexical BM25 pool and a dense cosine pool —
    * `rrf(d) = Σ_pools 1/(rrfK + rank_pool(d))`, the standard fusion
    * every hybrid search stack ships because it needs no score
    * calibration between the pools (ranks only).
    *
    * Scale shape: both pools are top-`poolK` results (≤ poolK rows
    * each — the corpus-sized work happens inside [[bm25TopK]] and
    * [[Similarity.cosineTopK]], which keep their inverted-index /
    * broadcast shapes); the fusion itself is a full-outer join of two
    * tiny pools plus rank arithmetic. The single-partition rank
    * windows run over poolK rows, not the corpus.
    *
    * Determinism: ranks are integers; each contribution is one double
    * division and the fused score one addition — the same two IEEE
    * ops in any engine — then rounded to integer micros for the
    * ordering. Docs in one pool only get the other pool's
    * contribution as 0 (null rank preserved in the output for
    * provenance).
    *
    * @param docs       corpus (doc_id, text) for the lexical pool
    * @param emb        embeddings (vec_id, embedding), vec_id ≍ doc_id
    * @param terms      lexical query bag
    * @param queryVecId dense query: this vector's embedding
    * @param k          fused result size
    * @param poolK      per-pool candidate depth
    * @param rrfK       RRF dampening constant (classic 60)
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame, terms: Seq[String],
                queryVecId: Long, k: Int, poolK: Int = 50,
                rrfK: Int = 60): DataFrame = {
    require(k > 0 && poolK > 0 && rrfK > 0, "k, poolK, rrfK must be positive")
    import org.apache.spark.sql.expressions.Window
    val lex = bm25TopK(docs, terms, poolK)
      // poolK rows: a global rank window here is a 50-row sort, fine
      .withColumn("lex_rank", row_number()
        .over(Window.orderBy(col("score_milli").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val dense = Similarity
      .cosineTopK(emb.filter(col("vec_id") === queryVecId), emb, poolK)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("dense_rank"))
    def contrib(r: Column) =
      coalesce(lit(1.0) / (lit(rrfK.toDouble) + r.cast("double")), lit(0.0))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
        floor((contrib(col("lex_rank")) + contrib(col("dense_rank")))
          * lit(1000000.0) + lit(0.5)).cast("long").as("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(k)
  }

  /** Exact PHRASE search: top-k documents containing the query terms
    * as CONSECUTIVE tokens, ranked by occurrence count — the
    * quoted-query operator BM25's bag-of-words scoring cannot express
    * ("new york" ≠ {new, york}). Implemented as an n-gram equality
    * scan: each document's token stream windows into |phrase|-grams
    * row-locally (a Generate riding the scan — the x107 machinery),
    * and a gram equal to the joined phrase is an occurrence.
    *
    * Scale shape: the per-doc gram explode is scan-side and the
    * phrase predicate filters BEFORE the aggregate, so the only
    * shuffle carries (doc, count) partials for MATCHING docs — a
    * vanishing slice at corpus scale; the top-k cut is a
    * TakeOrderedAndProject. For repeated interactive querying, gram
    * hashes belong in a [[buildLexIndex]]-style positional postings
    * table instead (same probe shape as bm25TopKPrebuilt — one
    * bucket-pruned index scan per query); this operator is the
    * index-free one-shot form.
    *
    * @return (doc_id, n_occurrences) ordered by (count desc, doc_id),
    *         at most k rows. */
  def phraseTopK(docs: DataFrame, phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.nonEmpty, "phraseTopK needs at least one term")
    require(k > 0, s"k ($k) must be positive")
    require(phrase.forall(t => t.nonEmpty && !t.contains(" ")),
      "phrase terms must be non-empty single tokens")
    val m = phrase.size
    val target = phrase.mkString(" ")
    docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= m)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ts) - $m + 1)," +
          s" i -> concat_ws(' ', slice(ts, i, $m)))")).as("gram"))
      .filter(col("gram") === target)
      .groupBy("doc_id").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("doc_id"))
      .limit(k)
  }

  /** RANK-BIASED OVERLAP (Webber et al. 2010) between two rankings —
    * the standard top-weighted "how different are these two result
    * lists" statistic: RBO@k = (1−p)·Σ_{d=1..k} p^{d−1}·|A_d ∩ B_d|/d,
    * where A_d/B_d are the depth-d prefixes and p governs how fast
    * attention decays down the list. The IR-evaluation companion to
    * the retrieval family: compare a BM25 ranking against its
    * length-normalization-off twin, a lexical against a hybrid
    * ranking, or yesterday's index against today's.
    *
    * ALL arithmetic is exact integer: the weight p^{d−1} is carried
    * in micro through the truncating recurrence
    * pw(1) = 10⁶, pw(d) = (pw(d−1)·pMilli) div 1000 — each step one
    * integer op, so the whole statistic replays bit-for-bit in any
    * engine (no `pow`, whose last-ulp behavior differs across libm
    * implementations); per-depth terms are (pw·overlap) div d and the
    * final scale is ((1000−pMilli)·Σ) div 1000.
    *
    * Scale shape: the rankings are ≤ depth rows by contract; the
    * depth table is `depth` rows broadcast to a theta join over the
    * joined-rank rows — everything bounded by depth, nothing touches
    * the corpus.
    *
    * @param a,b rankings carrying (idCol, rankCol), ranks 1-based
    * @return one row (depth, rbo_micro). */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, pMilli: Long = 900,
                        depth: Int = 20, idCol: String = "doc_id",
                        rankCol: String = "rank"): DataFrame = {
    require(pMilli >= 1 && pMilli <= 999,
      s"pMilli ($pMilli) must be in [1, 999]")
    require(depth >= 1 && depth <= 1000,
      s"depth ($depth) must be in [1, 1000]")
    val spark = a.sparkSession
    import spark.implicits._
    val pws = Seq.iterate(1000000L, depth)(pw => pw * pMilli / 1000)
    val depths = pws.zipWithIndex
      .map { case (pw, i) => ((i + 1).toLong, pw) }.toDF("d", "pw")
    val m = a.select(col(idCol).as("__id"), col(rankCol).as("__ra"))
      .join(b.select(col(idCol).as("__id"), col(rankCol).as("__rb")), Seq("__id"))
      .select(greatest(col("__ra"), col("__rb")).as("m"))
    // inner, so the depth table can be the build side: an unmatched
    // depth would add (pw·0) div d = 0
    val ov = m.join(broadcast(depths), col("m") <= col("d"))
      .groupBy("d", "pw").agg(count(col("m")).as("overlap"))
    ov.agg(coalesce(sum(expr("(pw * overlap) div d")), lit(0L)).as("__s"))
      .select(lit(depth.toLong).as("depth"),
        expr(s"((1000 - $pMilli) * __s) div 1000").as("rbo_micro"))
  }

  /** KENDALL τ (tau-a) between two rankings of the SAME items — the
    * pair-level agreement number that completes the rank-comparison
    * kit: [[rankBiasedOverlap]] is top-weighted and handles disjoint
    * lists, Cohen's κ (x213) compares hard labels; τ asks "of every
    * item pair both rankers saw, how often do they order it the same
    * way", weighting rank 19→20 exactly like 1→2. τ = (C − D) /
    * (n(n−1)/2) over the items present in BOTH rankings (restriction
    * documented — disjoint tails are RBO's jurisdiction); with
    * row_number ranks there are no rank ties, so tau-a IS tau-b.
    * Exact integers: C, D are pair counts, tau_micro one truncating
    * div in DECIMAL(38,0).
    *
    * Scale shape: the pair self-join is RANKING-bounded (top-k lists,
    * k² pairs), never data-scale — rankings arrive already cut by
    * their producers (bm25TopK et al.).
    *
    * @param a,b rankings carrying (idCol, rankCol)
    * @return one row (n_items, n_pairs, concordant, discordant,
    *         tau_micro); tau NULL below 2 shared items. */
  def kendallTau(a: DataFrame, b: DataFrame, idCol: String = "doc_id",
                 rankCol: String = "rank"): DataFrame = {
    val j = a.select(col(idCol).as("__i"), col(rankCol).cast("long").as("__ra"))
      .join(b.select(col(idCol).as("__i"), col(rankCol).cast("long").as("__rb")),
        Seq("__i"))
    val n = j.agg(count(lit(1)).as("n_items"))
    val pairs = j.as("x").join(j.as("y"), col("x.__i") < col("y.__i"))
      .select(((col("x.__ra") - col("y.__ra")) *
        (col("x.__rb") - col("y.__rb"))).as("__s"))
      .agg(sum(when(col("__s") > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(col("__s") < 0, 1L).otherwise(0L)).as("discordant"))
    n.crossJoin(pairs)
      .select(col("n_items"),
        expr("(n_items * (n_items - 1)) div 2").as("n_pairs"),
        coalesce(col("concordant"), lit(0L)).as("concordant"),
        coalesce(col("discordant"), lit(0L)).as("discordant"))
      .withColumn("tau_micro",
        when(col("n_items") < 2, lit(null).cast("long"))
          .otherwise(expr("""cast((cast(concordant - discordant as decimal(38,0))
            * 2000000) div (cast(n_items as decimal(38,0)) * (n_items - 1))
            as bigint)""")))
  }
}

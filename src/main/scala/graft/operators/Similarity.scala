package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[cosineTopK]]: exact brute force — broadcast the (small) query
  *    set against the corpus; at 100 TB the corpus side streams through
  *    a narrow map + per-partition top-k, so no corpus shuffle.
  *  - [[lshTopK]]: approximate — random-hyperplane LSH buckets both
  *    sides; only same-bucket pairs are scored. Candidate volume drops
  *    from |Q|·|C| to the bucket collision mass; recall is tunable via
  *    number of hyperplanes / tables.
  *
  * Vector math is done with the built-in higher-order functions
  * (`zip_with` + `aggregate`) — codegen'd, no UDF, no Python boundary.
  */
object Similarity {

  /** dot(a, b) over array columns, computed in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** cosine(a, b) — 0.0 for zero vectors rather than NaN. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b); val n = norm(a) * norm(b)
    when(n === 0.0d, 0.0d).otherwise(d / n)
  }

  private[operators] def asDouble(c: Column): Column = c.cast("array<double>")

  /** Symmetric int8 quantization of an embedding column — the storage
    * prep step before an ANN index ships to serving (4× smaller than
    * f32, and distance kernels stay SIMD-friendly). Per-vector max-abs
    * scale, values mapped to round(x·127/scale) ∈ [−127, 127]; zero
    * vectors (scale 0) quantize to all-zero rather than NaN. Purely a
    * scan-side `transform` over the array column — zero shuffles, zero
    * UDFs, survives column pruning — and the rounding is
    * `floor(x + 0.5)` so the mapping replays exactly cross-engine.
    * The quantized vector is surfaced both as the array (for
    * downstream ops) and as a CSV string + l1 norm (scalar columns the
    * oracle hash can certify). */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val v = asDouble(col("embedding"))
    val scale = array_max(transform(v, x => abs(x)))
    val q = transform(v, x =>
      floor(x * 127.0d / col("__scale") + 0.5d).cast("int"))
    embeddings
      .withColumn("__scale", scale)
      .withColumn("q", when(col("__scale") === 0.0d,
          transform(v, x => lit(0))).otherwise(q))
      .select(col("vec_id"), col("q"),
        concat_ws(",", transform(col("q"), x => x.cast("string"))).as("q_csv"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + abs(x)).as("q_l1"))
      .orderBy("vec_id")
  }

  /** Deterministic Johnson–Lindenstrauss dimensionality reduction:
    * an Achlioptas-style dense ±1 sign projection whose matrix is
    * derived from md5(seed:j:i) parity — no RNG state, so the matrix
    * is reproducible anywhere (retries, other engines, the oracle).
    * Elements are micro-quantized first (floor(x·10⁶ + 0.5); float→
    * double widening and floor are both exact), making each output
    * coordinate an exact inDims-term INTEGER sum — bit-identical
    * cross-engine, no float summation-order haze.
    *
    * Scale shape: the sign matrix is baked into the plan as literals
    * (inDims·outDims = 512 terms here), so the projection is a
    * row-local whole-stage-codegen map over the scan — zero shuffles,
    * zero UDFs, nothing broadcast. For thousands-dim inputs swap the
    * literal unroll for a broadcast matrix + native expression (same
    * contract). Downstream: JL preserves pairwise distances within
    * (1±ε) at outDims = O(log n / ε²) — the cheap pre-filter in front
    * of exact cosine on the survivors.
    *
    * @return (vec_id, y0..y{outDims−1}) integer projections. */
  def randomProject(embeddings: DataFrame, inDims: Int, outDims: Int = 8,
                    seed: Long = 42L): DataFrame = {
    require(inDims >= 1, s"inDims ($inDims) must be >= 1")
    require(outDims >= 1, s"outDims ($outDims) must be >= 1")
    val q = (0 until inDims).map(i =>
      floor(col("embedding").getItem(i).cast("double") * lit(1000000.0d) + lit(0.5d))
        .cast("long"))
    val outs = (0 until outDims).map { j =>
      (0 until inDims).map { i =>
        if (signPlus(seed, j, i)) q(i) else -q(i)
      }.reduce(_ + _).as(s"y$j")
    }
    embeddings.select((col("vec_id") +: outs): _*).orderBy("vec_id")
  }

  /** +1 iff md5("seed:j:i") has an even low bit — public so the oracle
    * generator bakes the IDENTICAL sign literals into its SQL. */
  def signPlus(seed: Long, j: Int, i: Int): Boolean = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed:$j:$i".getBytes("UTF-8"))
    (d(15) & 1) == 0
  }

  /** Shared final stage for every top-k path: rank scored pairs per
    * query (ties broken by neighbor id), keep k, surface the score as
    * integer permille. One implementation so rounding and tie-break
    * semantics cannot drift between variants. */
  private[graft] def topKByScore(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        floor(col("score") * 1000 + 0.5).cast("long").as("cos_permille"))
      .orderBy("query_id", "rank", "neighbor_id", "cos_permille")
  }


  /** [[topKByScore]] as a bounded PARTIAL-AGGREGATING fold — identical
    * output (SimilaritySpec pins the row-for-row equivalence,
    * including score ties), radically different shuffle: the window
    * form must move EVERY scored pair to rank it (measured 67 s for
    * 48M pooled pairs at the 10× probe — the exchange, not the
    * scoring, was the cost), while the
    * [[graft.functions.VectorAgg.TopKByScore]] aggregate folds each
    * partition to ≤k entries per query map-side, so the shuffle
    * carries O(|Q|·k) rows however many pairs were scored. The fold
    * is the native [[graft.functions.TopKPairs]] imperative aggregate
    * (direct InternalRow access — the typed-Aggregator udaf form
    * measured ~2 µs/row of encoder boxing on the same input). The
    * tail for every UNBOUNDED scored set (self-joins, ANN pools); the
    * window form stays as the spec-pinned reference. Requires a LONG
    * id column (every embedding id here is); NULL ids/scores are
    * excluded (the kernels never emit them for valid vectors). */
  /** IVF coarse probe: the `nprobe` nearest cells per query, selected
    * with the BOUNDED top-k aggregate instead of a rank window. The
    * window spelling shuffles and sorts EVERY (query, cell) distance —
    * |Q|·nlist rows, which under √n-sized cells is n^1.5 rows through
    * one Exchange for a self-join probe (the dominant non-scoring cost
    * of x230 at ×100). `topk_pairs` folds each partition to a
    * ≤nprobe-entry buffer map-side, so the shuffle carries |Q| rows
    * whatever nlist is. Selection matches the window's (cdist ASC,
    * cell ASC) order on every finite distance: topk_pairs ranks by
    * (score DESC, id ASC) and score = −cdist; NaN distances (which
    * the window ranked LAST and −cdist would rank FIRST) are filtered
    * out below instead. The distance itself is the native
    * [[graft.functions.L2SqF64]] loop, bit-identical to the
    * zip_with/aggregate fold it replaces.
    *
    * @param q (query_id, qv) — one row per query; qv is any numeric
    *          array (cast to double ONLY inside the distance, so the
    *          caller's original representation rides through to the
    *          rescoring stage untouched)
    * @param centers (cell: int, center: array<double>) — broadcast side
    * @return (query_id, qv, cell), nprobe rows per query */
  private[graft] def nearestCells(q: DataFrame, centers: DataFrame,
                                  nprobe: Int): DataFrame = {
    graft.functions.GraftFunctions.register(q.sparkSession)
    q.crossJoin(broadcast(centers))
      .withColumn("cdist",
        call_function("l2sq_f64", col("qv").cast("array<double>"), col("center")))
      // NaN discipline: the rank window this replaced sorted cdist ASC
      // with NaN GREATEST (selected last), but topk_pairs ranks
      // score = −cdist where NaN is also greatest — i.e. FIRST. Filter
      // NaN/NULL distances out so a degenerate vector (NaN component)
      // falls out of the probe entirely instead of probing arbitrary
      // cells; this diverges from the window only when nprobe exceeds
      // the non-NaN cell count, which is already a degenerate corpus.
      .filter(col("cdist").isNotNull && !isnan(col("cdist")))
      .groupBy("query_id")
      .agg(first(col("qv")).as("qv"),
        call_function("topk_pairs", col("cell").cast("long"),
          -col("cdist"), lit(nprobe)).as("__cells"))
      .select(col("query_id"), col("qv"),
        explode(col("__cells")).as("__c"))
      .select(col("query_id"), col("qv"),
        col("__c.neighbor_id").cast("int").as("cell"))
  }

  private[graft] def topKByScoreAgg(scored: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(scored.sparkSession)
    scored
      .groupBy("query_id")
      .agg(call_function("topk_pairs",
        col("neighbor_id").cast("long"), col("score").cast("double"),
        lit(k)).as("__tk"))
      .select(col("query_id"), posexplode(col("__tk")))
      .select(col("query_id"), col("col.neighbor_id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"),
        floor(col("col.score") * 1000 + 0.5).cast("long").as("cos_permille"))
      .orderBy("query_id", "rank", "neighbor_id", "cos_permille")
  }

  /** Exact top-k nearest neighbors (cosine) of each query vector.
    *
    * `queries` and `corpus` both carry (id, embedding). The query side
    * is broadcast (it is small by assumption — a probe set); the corpus
    * never shuffles for scoring. Per-query top-k uses a rank window over
    * the scored pairs — the shuffle moves only |Q|·|C| scored ids, and
    * at scale the right fix is per-partition top-k pre-reduction, which
    * Spark's TakeOrderedAndProject applies per query group via the
    * window + filter shape under AQE.
    *
    * Deterministic: ties broken by neighbor id.
    * Score surfaces as integer permille for cross-engine goldens.
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("score"))
    topKByScore(scored, k)
  }

  /** Exact top-k via the native codegen'd [[graft.functions.CosineF32]]
    * expression — same semantics as [[cosineTopK]], but the score is a
    * single fused primitive loop (no intermediate arrays, no lambda
    * interpretation) and the float vectors are scored in place without
    * an array<double> cast. Requires
    * `GraftFunctions.register(spark)` (or the GraftExtensions session
    * extension) — the hot path for 10^9-pair scoring at scale. */
  def cosineTopKNative(queries: DataFrame, corpus: DataFrame, k: Int,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        call_function("cosine_f32", col("qv"), col("cv")).as("score"))
    topKByScoreAgg(scored, k)
  }

  /** MEASURED cosine-threshold yield curve — the semantic-dedup
    * threshold axis of the measured-curve family ([[Dedup.dedupThresholdCurve]]
    * is the lexical twin): per candidate cosine bar, the exact pair
    * mass and vectors flagged (a vector counts iff its BEST pair
    * reaches the bar) over a deterministic id-sampled slice. "At 950‰
    * you drop 2% of vectors, at 800‰ it's 19%" is the row a SemDeDup
    * aggressiveness decision (x73) needs BEFORE committing a
    * clustering run. The slice is the operator's scale contract —
    * all-pairs is the ground truth, so run it where |slice|² is
    * affordable and apply the curve corpus-wide.
    *
    * Scoring runs the codegen'd `cosine_f32` kernel over a
    * repartitioned stream side with the slice broadcast (the x215
    * discipline — the sanctioned brute form for bounded slices); the
    * curve itself is two bounded histograms crossed with a broadcast
    * thresholds table, the x272 shape.
    *
    * @return (threshold, n_pairs, n_vecs_flagged), ordered. */
  def cosineThresholdCurve(emb: DataFrame, sliceMod: Long = 5L,
                           thresholds: Seq[Long] = Seq(700L, 800L, 900L, 950L),
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    require(sliceMod >= 1, s"sliceMod ($sliceMod) must be >= 1")
    require(thresholds.nonEmpty && thresholds == thresholds.sorted
      && thresholds.distinct == thresholds,
      s"thresholds ($thresholds) must be non-empty, sorted, distinct")
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val sl = emb.filter(pmod(col(idCol), lit(sliceMod)) === 0L
        && col(vecCol).isNotNull)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val scored = sl.select(col("__id").as("da"), col("__v").as("va"))
      .repartition(col("da"))
      .crossJoin(broadcast(sl.select(col("__id").as("db"),
        col("__v").as("vb"))))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        floor(call_function("cosine_f32", col("va"), col("vb")) * 1000
          + 0.5).cast("long").as("__cp"))
      .persist()
    val pairH = scored.groupBy("__cp").agg(count(lit(1)).as("__np"))
    val vecH = scored
      .select(explode(array(col("da"), col("db"))).as("__id"), col("__cp"))
      .groupBy("__id").agg(max("__cp").as("__mx"))
      .groupBy("__mx").agg(count(lit(1)).as("__nd"))
    val rs = emb.sparkSession.range(thresholds.size)
      .select(element_at(array(thresholds.map(lit): _*),
        col("id").cast("int") + 1).as("threshold"))
    val pairs = rs.crossJoin(broadcast(pairH))
      .filter(col("__cp") >= col("threshold"))
      .groupBy("threshold").agg(sum("__np").as("__p"))
    val flagged = rs.crossJoin(broadcast(vecH))
      .filter(col("__mx") >= col("threshold"))
      .groupBy("threshold").agg(sum("__nd").as("__d"))
    rs.join(pairs, Seq("threshold"), "left")
      .join(flagged, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("__p"), lit(0L)).as("n_pairs"),
        coalesce(col("__d"), lit(0L)).as("n_vecs_flagged"))
      .orderBy("threshold")
  }

  /** Hard-negative mining for contrastive/retrieval training: for each
    * query vector, the top-k most-similar corpus vectors with a
    * DIFFERENT label — the "looks relevant but isn't" examples that
    * make in-batch negatives worth training on (DPR/ANCE recipe).
    * Same-label vectors are never candidates (they are positives);
    * vectors with a NULL label are excluded from BOTH sides — no
    * identity, no supervision signal.
    *
    * Plan shape is [[cosineTopKNative]]'s: the query side broadcasts,
    * the corpus is scored in place with the native `cosine_f32`
    * expression and never shuffles; only (query_id, neighbor_id,
    * score) triples reach the rank window. At training scale the
    * standard refinement is mining from an ANN pool first
    * ([[lshTopK]]/[[ivfTopK]]) and exact-rescoring the pool — this
    * operator IS that rescoring stage when handed a pooled corpus.
    *
    * @return (query_id, neighbor_id, rank, cos_permille), rank ≤ k. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    val q = queries.filter(col(labelCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        col(labelCol).as("qlabel"))
    val c = corpus.filter(col(labelCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        col(labelCol).as("clabel"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qlabel") =!= col("clabel"))
      .select(col("query_id"), col("neighbor_id"),
        call_function("cosine_f32", col("qv"), col("cv")).as("score"))
    topKByScoreAgg(scored, k)
  }

  /** k-NN LABEL-NOISE audit — the standard "deep k-NN" mislabel
    * detector over an embedding column: a vector whose k nearest
    * neighbors mostly carry a DIFFERENT label is either mislabeled or
    * sits on a class boundary, and both are exactly the examples worth
    * human review before a training run (confident-learning family;
    * label noise is the quality defect embeddings can see and raw text
    * audits cannot). Per probe vector: its own label, the neighbor
    * majority label, the agreement count, and a `suspect` flag when
    * the majority disagrees.
    *
    * Determinism: neighbors come from the exact scored rank (ties by
    * neighbor_id — the x09 oracle-proven order), computed on the
    * native fused kernel ([[cosineTopKNative]] — bit-identical to the
    * interpreted double fold, FunctionsSpec parity); the majority is
    * (count DESC, label ASC) — a full tiebreak, so the flag replays
    * cross-engine. NULL-labeled vectors join neither side (no
    * supervision signal to audit).
    *
    * Scale shape: the probe side broadcasts and the corpus is scored
    * in place (the x09 plan); at training scale audit a probe SAMPLE
    * per pass, or hand this an ANN pool ([[lshTopK]]/[[ivfTopK]]) to
    * exact-rescore — the [[hardNegatives]] pattern; the label join
    * and majority window then run over |probe|·k rows only.
    *
    * @return (vec_id, label, majority_label, n_agree, n_neighbors,
    *         suspect) ordered by vec_id. */
  def knnLabelAudit(probes: DataFrame, corpus: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    require(k >= 1 && k <= 1000, s"k ($k) must be in [1, 1000]")
    graft.functions.GraftFunctions.register(probes.sparkSession)
    val q = probes.filter(col(labelCol).isNotNull)
    val c = corpus.filter(col(labelCol).isNotNull)
    labelAuditTail(cosineTopKNative(q, c, k, idCol, vecCol), q, c,
      idCol, labelCol)
  }

  /** The label-majority tail of the k-NN audits: neighbor-label
    * counts, the (count DESC, label ASC) majority, the agreement
    * left-join and the `suspect` flag — shared by the exact
    * ([[knnLabelAudit]]) and ANN-pool ([[knnLabelAuditAnn]]) fronts,
    * which differ only in where (query_id, neighbor_id) comes from.
    * Runs over |probe|·k rows regardless of front. */
  private def labelAuditTail(topk: DataFrame, q: DataFrame, c: DataFrame,
                             idCol: String, labelCol: String): DataFrame = {
    val labels = c.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__nl"))
    val byQuery = Window.partitionBy("query_id")
    val counted = topk
      .join(labels, Seq("neighbor_id"))
      .groupBy(col("query_id"), col("__nl"))
      .agg(count(lit(1)).as("__n"))
    val majority = counted
      .withColumn("__rn", row_number().over(
        byQuery.orderBy(col("__n").desc, col("__nl").asc)))
      .withColumn("n_neighbors", sum("__n").over(byQuery))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("__nl").as("majority_label"),
        col("n_neighbors"))
    val agree = counted.select(col("query_id").as("vec_id"),
      col("__nl").as("label"), col("__n").as("n_agree"))
    q.select(col(idCol).as("vec_id"), col(labelCol).as("label"))
      .join(majority.withColumnRenamed("query_id", "vec_id"), Seq("vec_id"))
      .join(agree, Seq("vec_id", "label"), "left")
      .select(col("vec_id"), col("label"), col("majority_label"),
        coalesce(col("n_agree"), lit(0L)).as("n_agree"), col("n_neighbors"),
        when(col("majority_label") =!= col("label"), 1L).otherwise(0L)
          .as("suspect"))
      .orderBy("vec_id")
  }

  /** [[knnLabelAudit]]'s 100 TB form: the neighbor pool comes from the
    * IVF cell probe ([[ivfTopK]] — coarse-quantizer cells, nprobe
    * nearest cells per query, EXACT cosine rescoring inside the pool),
    * so scoring cost drops to ~nprobe/nlist of the brute-force audit
    * while the audit tail is IDENTICAL — the [[hardNegatives]] ANN-
    * pool + exact-rescore composition, shipped as a callable instead
    * of a doc note. With nprobe = nlist every cell is probed, the pool
    * is the whole labeled corpus and the output equals
    * [[knnLabelAudit]] row for row (the spec's equivalence anchor); at
    * partial probe the flag is approximate with recall governed by
    * nprobe — the standard audit-at-scale trade, and the reason this
    * variant answers to a Spark-side spec rather than a SQL oracle
    * (the KMeans quantizer is not replayable cross-engine).
    *
    * @return (vec_id, label, majority_label, n_agree, n_neighbors,
    *         suspect) ordered by vec_id — [[knnLabelAudit]]'s schema. */
  def knnLabelAuditAnn(probes: DataFrame, corpus: DataFrame, k: Int,
                       nlist: Int = 16, nprobe: Int = 3,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       labelCol: String = "label"): DataFrame = {
    require(k >= 1 && k <= 1000, s"k ($k) must be in [1, 1000]")
    val q = probes.filter(col(labelCol).isNotNull)
    val c = corpus.filter(col(labelCol).isNotNull)
    labelAuditTail(ivfTopK(q, c, k, nlist = nlist, nprobe = nprobe,
      idCol = idCol, vecCol = vecCol), q, c, idCol, labelCol)
  }

  /** SEMANTIC decontamination audit — the embedding-level sibling of
    * [[graft.operators.Dedup.decontaminate]]'s n-gram screen: for each
    * corpus vector, its single nearest BENCHMARK vector by exact
    * cosine and a `contaminated` flag at the τ bar. N-gram overlap
    * catches verbatim benchmark leakage; paraphrased leakage — the
    * kind eval-set rewrites produce — only shows up in embedding
    * space, which is why modern decontamination (GPT-3 appendix C
    * descendants, SemDeDup-style screens) runs BOTH. The full
    * per-vector report (not just hits) is the audit artifact: the
    * margin distribution below τ is what a reviewer reads to decide
    * whether τ itself is safe.
    *
    * Determinism: the native fused kernel for the score (`cosine_f32`
    * — bit-identical to the x09 double fold, FunctionsSpec parity),
    * champion by max(struct(score, −bench_id)) — ties break to the
    * SMALLEST benchmark id, and the permille floor happens after the
    * argmax, so the reported champion and flag replay cross-engine.
    *
    * Scale shape: the benchmark side is eval-suite-sized (thousands)
    * and broadcasts; the corpus is scored in place and ONE
    * map-side-combinable max(struct) argmax reduces per vector —
    * no window over scored pairs, nothing data-scale shuffles but
    * (vec_id, champion) rows. At 100 TB screen an ANN pool first and
    * exact-rescore survivors (the x212 composition) only if the
    * benchmark outgrows broadcast size.
    *
    * @return (vec_id, bench_id, cos_permille, contaminated) one row
    *         per corpus vector, ordered by vec_id. */
  def semanticDecontamination(corpus: DataFrame, bench: DataFrame,
                              tauPermille: Long = 950,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    require(tauPermille >= 1 && tauPermille <= 1000,
      s"tauPermille ($tauPermille) must be in [1, 1000]")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<float>").as("cv"))
    val b = bench.select(col(idCol).as("bench_id"),
      col(vecCol).cast("array<float>").as("bv"))
    c.crossJoin(broadcast(b))
      .select(col("vec_id"), col("bench_id"),
        call_function("cosine_f32", col("cv"), col("bv")).as("score"))
      .groupBy("vec_id")
      .agg(max(struct(col("score"), (-col("bench_id")).as("__nid"))).as("__m"))
      .select(col("vec_id"), (-col("__m.__nid")).as("bench_id"),
        floor(col("__m.score") * 1000 + 0.5).cast("long").as("cos_permille"))
      .withColumn("contaminated",
        when(col("cos_permille") >= tauPermille, 1L).otherwise(0L))
      .orderBy("vec_id")
  }

  /** RECIPROCAL (mutual) nearest-neighbor pairs: (a, b) with a < b
    * where b is in a's exact cosine top-k AND a is in b's — the
    * standard asymmetry filter on k-NN graphs: a hub vector appears
    * in thousands of one-way top-k lists without any of them being
    * near-duplicates of it, and mutuality is the cheap structural
    * test that keeps hub edges out of a semantic-dedup pair set
    * (SemDeDup-family refinement; also the classic record-linkage
    * "best friends" rule). Scores are symmetric by construction
    * (identical double fold both directions), so the surviving pair
    * carries one cos_permille.
    *
    * Plan: ONE top-k pass via the native fused kernel
    * ([[cosineTopKNative]] — `cosine_f32` widens float elements
    * exactly, so scores are bit-identical to the interpreted double
    * fold the oracle replays, FunctionsSpec parity), the streamed
    * corpus side REPARTITIONED first (a probe-scale corpus arrives as
    * one parquet file-partition, and the |C|² scoring would otherwise
    * run on ~1 task — |C| shuffled rows buy |C|² parallel work), its
    * result eagerly materialized (the Graph-family discipline: both
    * join sides read it, and lazily the scoring plan would execute
    * twice), then a semi-join of the a < b orientation against the
    * reversed a > b orientation. The blocks live as long as the
    * returned DataFrame (see [[Dedup]]). This exact form is the
    * ORACLE ANCHOR; at 100 TB run [[mutualTopKAnn]] — the identical
    * mutuality tail over ANN-pooled candidates (the x212 composition).
    *
    * @return (da, db, cos_permille), mutual pairs only, ordered. */
  def mutualTopK(corpus: DataFrame, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= 1000, s"k ($k) must be in [1, 1000]")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val spread = corpus.select(col(idCol), col(vecCol)).repartition(
      corpus.sparkSession.sessionState.conf.numShufflePartitions)
    mutualityTail(cosineTopKNative(corpus, spread, k, idCol, vecCol))
  }

  /** The reciprocity tail shared by [[mutualTopK]] and
    * [[mutualTopKAnn]]: eager materialization of the top-k table
    * (both orientations read it), then the a < b vs a > b semi-join.
    * One implementation so the mutuality semantics cannot drift
    * between the exact anchor and the ANN-pooled scale form. */
  private def mutualityTail(topk: DataFrame): DataFrame = {
    val t = topk
      .select(col("query_id"), col("neighbor_id"), col("cos_permille"))
      .localCheckpoint(eager = true)
    val fwd = t.filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("da"), col("neighbor_id").as("db"),
        col("cos_permille"))
    val rev = t.filter(col("query_id") > col("neighbor_id"))
      .select(col("neighbor_id").as("da"), col("query_id").as("db"))
    fwd.join(rev, Seq("da", "db"), "left_semi")
      .orderBy("da", "db")
  }

  /** [[mutualTopK]]'s 100 TB form: the per-vector top-k comes from
    * the IVF cell probe ([[ivfTopK]] — coarse cells, nprobe nearest
    * cells per query, exact cosine rescoring INSIDE the pool), so the
    * scoring never touches |C|² pairs — cost is ~nprobe/nlist of the
    * brute pass and every stage is an equi-join on the cell key. The
    * mutuality tail is IDENTICAL ([[mutualityTail]]). With
    * nprobe = nlist every cell is probed and the output equals
    * [[mutualTopK]] row for row (SimilaritySpec pins it); at partial
    * probe a pair is reported iff BOTH endpoints keep the other in
    * their pooled top-k — recall governed by nprobe, precision still
    * exact (scores are exact cosines). Rule-6 no_oracle: the KMeans
    * quantizer is not replayable cross-engine.
    *
    * SIZE THE CELL COUNT WITH THE CORPUS — nlist ≤ 0 auto-sizes by
    * the standard IVF rule nlist ≈ √n (nprobe ≈ nlist/8, floors 16/2):
    * a FIXED nlist makes the pool a constant fraction nprobe/nlist of
    * |C|² — still quadratic, measured 18.6× wall at 10× data — and
    * caps the cell join's parallelism at nlist keys. Under √n sizing
    * the pooled pair mass is ~n^1.5·k' and cell keys grow with the
    * corpus (the 10× probe drops to ~2× with auto-sizing). The one
    * extra count() is a columnless scan.
    *
    * WHEN n^1.5 IS STILL TOO HOT (the ×100 probe measured 71× wall —
    * the declared contract, not an accident): audit instead of
    * enumerate. [[mutualTopKAnnSampled]] probes every `everyN`-th
    * vector plus its retrieved neighbors — LINEAR in the corpus at a
    * fixed sampling rate, reporting exactly the mutual pairs with a
    * sampled endpoint (spec-pinned ≡ this operator filtered to the
    * sample) — and mutual-pair density/score profiles are population
    * estimates the sample size bounds.
    *
    * @return (da, db, cos_permille), mutual pairs only, ordered. */
  def mutualTopKAnn(corpus: DataFrame, k: Int, nlist: Int = 0,
                    nprobe: Int = 0, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= 1000, s"k ($k) must be in [1, 1000]")
    val nl =
      if (nlist > 0) nlist
      else math.max(16, math.sqrt(corpus.count().toDouble).toInt)
    val np =
      if (nprobe > 0) nprobe
      else math.max(2, nl / 8)
    mutualityTail(ivfTopK(corpus, corpus, k, nlist = nl,
      nprobe = np, idCol = idCol, vecCol = vecCol))
  }

  /** [[mutualTopKAnn]]'s SAMPLED AUDIT form — the operational answer
    * for corpus sizes where even the √n-sized n^1.5 contract is too
    * hot: probe only every `everyN`-th vector (deterministic
    * `id % everyN = 0`, so reruns and engines agree on the sample)
    * plus the vectors those probes retrieve, and report exactly the
    * mutual pairs WITH A SAMPLED ENDPOINT. Mutuality needs both
    * directions' top-k lists; the second pooled probe over the
    * retrieved neighbors (≤ |S|·k vectors) supplies the reverse
    * direction, so each reported pair is decided by the SAME evidence
    * the full operator uses — SimilaritySpec pins sampled ≡ full
    * filtered to sampled-endpoint pairs, at full AND partial nprobe.
    * Cost: the PROBE/SCORING stage is two pooled probes of
    * O(n/everyN + n·k/everyN) queries against the cells — linear in
    * the corpus at a fixed sampling rate, vs the full form's n^1.5
    * pooled pair mass. The one-time index build (cell ASSIGNMENT of
    * the full corpus, O(n·nlist) = n^1.5 under √n sizing) is shared
    * by both probes — built once, persisted across them — and is the
    * map-side-only stage that the full form pays identically, so the
    * sampled form's SAVINGS are all in the probe stage, not the
    * build. The audit reading: mutual-pair
    * density and its cos_permille profile are population estimates
    * whose variance the sample size bounds (the x228 argument);
    * everyN is the dial between cost and confidence. */
  def mutualTopKAnnSampled(corpus: DataFrame, k: Int, everyN: Int,
                           nlist: Int = 0, nprobe: Int = 0,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= 1000, s"k ($k) must be in [1, 1000]")
    require(everyN >= 1, s"everyN ($everyN) must be >= 1")
    // size the cells from the CORPUS (not the sample): the quantizer
    // must be the one the full operator would fit, or the pin breaks
    val n = corpus.count()
    val nl =
      if (nlist > 0) nlist
      else math.max(16, math.sqrt(n.toDouble).toInt)
    val np =
      if (nprobe > 0) nprobe
      else math.max(2, nl / 8)
    auditRegimeWarning(n, everyN).foreach { msg =>
      org.apache.log4j.Logger.getLogger(getClass).warn(msg)
    }
    // ONE index for both probe directions: the fit is deterministic
    // (seed 42), so two ivfTopK calls returned identical results — but
    // each refit the quantizer and re-assigned the FULL corpus
    // (O(n·nlist) = O(n^1.5) under √n sizing), pure duplicated work.
    // The assignment is persisted across the probes (spill-to-disk —
    // r1's eager checkpoint populates it, r2 reads it back) and
    // dropped before return: mutualityTail's eager checkpoint below
    // means r2 is fully materialized inside this call.
    val index = ivfBuild(corpus, nl, idCol = idCol, vecCol = vecCol)
    val cachedAssigned = index.assigned.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shared = index.copy(assigned = cachedAssigned)
    try {
      val sampled = corpus.filter(pmod(col(idCol), lit(everyN)) === 0)
      val r1 = ivfProbe(sampled, shared, k, nprobe = np,
        idCol = idCol, vecCol = vecCol)
        .select(col("query_id"), col("neighbor_id"), col("cos_permille"))
        .localCheckpoint(eager = true)
      // reverse-direction evidence: top-k for the retrieved non-sampled
      // vectors only (sampled ones already carry their list in r1)
      val probes2 = corpus.join(
        r1.select(col("neighbor_id").as(idCol))
          .filter(pmod(col(idCol), lit(everyN)) =!= 0).distinct(),
        Seq(idCol), "left_semi")
      val r2 = ivfProbe(probes2, shared, k, nprobe = np,
        idCol = idCol, vecCol = vecCol)
        .select(col("query_id"), col("neighbor_id"), col("cos_permille"))
      // the tail law is mutualityTail's, then restricted to pairs with a
      // sampled endpoint (r2-only pairs have partial evidence: their
      // OWN neighbors were never probed)
      mutualityTail(r1.unionByName(r2))
        .filter(pmod(col("da"), lit(everyN)) === 0 ||
          pmod(col("db"), lit(everyN)) === 0)
    } finally cachedAssigned.unpersist(blocking = false)
  }

  /** The measured audit-regime boundary for [[mutualTopKAnnSampled]]
    * (BENCH_NOTES r16, ×100 corpus): at sampling rates above ~5% the
    * "sample" retrieves so many reverse-probe endpoints that the two
    * pooled probes approach the full operator's cost — 209.6 s for
    * everyN=4 at ×100 vs 156.4 s for the FULL form: a 25% sample is
    * NOT an audit, it is the expensive way to run x230. A fixed-SIZE
    * sample (everyN ≈ n/|S| for the |S| you can afford, measured
    * 69.8 s at ×100 for |S|≈20k) is the operating point that scales.
    * Returns the warning to log when (n, everyN) is outside the audit
    * regime — factored out so the guard itself is spec-testable. */
  private[graft] def auditRegimeWarning(n: Long, everyN: Int): Option[String] =
    // two gates: the RATE is above ~5% (everyN < 20) AND the corpus is
    // big enough (≥ 100k) that the full form's cost is what the caller
    // is presumably avoiding — spec-sized corpora stay quiet, everyN=1
    // equivalence pins stay quiet
    if (everyN < 20 && n >= 100000L)
      Some(s"mutualTopKAnnSampled: everyN=$everyN samples ~${100 / everyN}% of " +
        s"n=$n vectors — above the ~5% audit regime, where the two pooled " +
        "probes approach the FULL mutualTopKAnn's cost (measured 209.6 s vs " +
        "156.4 s at x100, BENCH_NOTES r16). Size everyN for a fixed sample " +
        "(everyN ~ n/20000) or run mutualTopKAnn directly.")
    else None

  /** QUANTIZATION-RECALL audit — does int8 break retrieval? Per probe
    * vector: its exact-cosine top-k computed on the float embeddings
    * and again on their [[quantizeInt8]] images, and the overlap —
    * the pre-deploy measurement behind "ship the 4×-smaller index":
    * a mean recall near 1000‰ clears the swap, and the WORST row
    * (not the mean) is what an SLA argues from. Both ranks use the
    * identical tie discipline ([[topKByScore]] — score DESC, id), so
    * the overlap is deterministic, and the quantizer is the exact
    * floor mapping x53 certifies — the audit measures THE shipped
    * quantizer, not a lookalike.
    *
    * Scale shape: two broadcast-probe scoring passes over the corpus
    * (the x09 plan; the quantized pass derives its vectors scan-side,
    * row-locally) and one |probes|·k overlap join. At index scale,
    * audit a probe sample — recall is a population estimate, the
    * sample just bounds its variance.
    *
    * @return (query_id, n_ref, n_hits, recall_permille) ordered by
    *         query_id. */
  def quantizationRecall(queries: DataFrame, corpus: DataFrame, k: Int,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= 1000, s"k ($k) must be in [1, 1000]")
    graft.functions.GraftFunctions.register(queries.sparkSession)
    // quantized values are integers in [−127, 127] — exactly float-
    // representable, so the float cast feeding the native kernel keeps
    // the scores bit-identical to the oracle's double-list fold
    def q8(df: DataFrame): DataFrame = {
      val v = asDouble(col(vecCol))
      df.withColumn("__scale", array_max(transform(v, x => abs(x))))
        .select(col(idCol),
          when(col("__scale") === 0.0d, transform(v, x => lit(0.0d)))
            .otherwise(transform(v, x =>
              floor(x * 127.0d / col("__scale") + 0.5d)))
            .cast("array<float>").as(vecCol))
    }
    val ref = cosineTopKNative(queries, corpus, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val quant = cosineTopKNative(q8(queries), q8(corpus), k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    ref.join(quant, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      .join(ref.groupBy("query_id").agg(count(lit(1)).as("n_ref")),
        Seq("query_id"), "right")
      .select(col("query_id"), col("n_ref"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_permille", expr("(n_hits * 1000) div n_ref"))
      .orderBy("query_id")
  }

  /** EMBEDDING-COLUMN HYGIENE audit — the pre-flight every vector
    * pipeline needs before similarity/ANN/clustering touches the
    * column: NULL vectors (no representation at all), empty arrays,
    * RAGGED dimensionality (dim_min ≠ dim_max breaks every dot
    * product downstream), non-finite elements (one NaN poisons a
    * whole reduction), and zero-norm vectors (cosine undefined — the
    * operators here guard it, a consumer may not). One row, counts
    * plus the dimension and norm envelopes.
    *
    * Determinism: norms are computed ROW-LOCALLY in double (the x09
    * left-fold order both engines share) and surfaced as integer
    * micro after a correctly-rounded sqrt — min/max over rows are
    * pure selections, so no cross-row float accumulation exists to
    * reorder. Norms are only computed for finite non-empty vectors;
    * the envelopes are NULL when no vector qualifies.
    *
    * Scale shape: ONE map-side-combined aggregation over a scan-side
    * projection — per row only (dims, flags, norm_micro) move, the
    * payload array never shuffles.
    *
    * @return one row (n_rows, n_null_vec, n_empty_vec, n_nonfinite,
    *         n_zero_norm, dim_min, dim_max, min_norm_micro,
    *         max_norm_micro). */
  def embeddingHygiene(df: DataFrame,
                       vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol)
    val dims = when(v.isNotNull, size(v).cast("long"))
    val nonfinite = v.isNotNull && size(v) > 0 &&
      exists(v, x => isnan(x.cast("double")) ||
        abs(x.cast("double")) === lit(Double.PositiveInfinity))
    val normMicro = when(v.isNotNull && size(v) > 0 && !nonfinite,
      floor(sqrt(aggregate(v, lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double"))) * 1e6 + 0.5)
        .cast("long"))
    df.select(dims.as("__d"), nonfinite.as("__nf"), normMicro.as("__nm"))
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("__d").isNull, 1)).as("n_null_vec"),
        count(when(col("__d") === 0L, 1)).as("n_empty_vec"),
        count(when(col("__nf"), 1)).as("n_nonfinite"),
        count(when(col("__nm") === 0L, 1)).as("n_zero_norm"),
        min(when(col("__d") > 0L, col("__d"))).as("dim_min"),
        max(when(col("__d") > 0L, col("__d"))).as("dim_max"),
        min("__nm").as("min_norm_micro"),
        max("__nm").as("max_norm_micro"))
  }

  /** Per-LABEL centroid geometry — the class-structure pre-flight a
    * labeled embedding table owes before k-NN audits (x202/x212) or
    * hard-negative mining (x83) lean on its labels: each label's
    * member count, its centroid's cosine against the GLOBAL centroid,
    * and the centroid norm. Labels whose centroids all hug the global
    * mean (cos → 1000‰) are not linearly separated — the label-noise
    * audits will flag everything; a near-zero centroid norm means the
    * class averages itself away (multi-modal or mislabeled). Reads
    * next to [[embeddingHygiene]]: hygiene certifies the vectors,
    * this certifies the label geometry over them.
    *
    * Exactness: elements micro-quantize first (floor(x·10⁶ + ½) —
    * float→double widening and floor both exact, the x69 discipline),
    * so every per-(label, dim) sum is an exact INTEGER and the global
    * vector is their exact total. Cosine is scale-invariant, so it is
    * taken directly on the integer SUM vectors via the x09 double
    * fold (deterministic order — the dims array is assembled sorted);
    * the centroid norm divides the sum-vector norm by n_vecs, micro
    * units, half-up floor. NULL labels are excluded (no class).
    *
    * Shape: one posexplode → (label, dim)-keyed map-side-combined
    * integer aggregation (|labels|·d rows out), eagerly materialized
    * (the label vectors AND the global total read it), then |labels|
    * row-local folds. Nothing else shuffles; the payload arrays never
    * leave the scan stage.
    *
    * @return (label, n_vecs, cos_global_permille, norm_micro) ordered
    *         by label. */
  /** Effective dimensionality (participation ratio) of the embedding
    * cloud — the one-number isotropy read: PR = (Σλ)² / Σλ² of the
    * uncentered second-moment spectrum, computed WITHOUT an
    * eigendecomposition (Σλ = trace(G), Σλ² = ‖G‖²_F for symmetric G)
    * so it distributes as two exact aggregates. PR → dim means the
    * cloud uses every direction (healthy for ANN/cosine work);
    * PR → 1 means rank collapse — an encoder regression x246's
    * centroid drift and x261's norm fence both miss, because a
    * collapsed cloud can keep its centroid and norms.
    *
    * Elements µ-quantize first (the x233 discipline), so the Gram
    * matrix, trace and Frobenius mass are EXACT integers (DECIMAL(38,0))
    * and the oracle replays them digit-for-digit. The Gram pass is one
    * id-keyed self-join of the (id, pos, q) table with map-side
    * combine onto dim² keys — n·dim² narrow rows, the standard
    * distributed Gram shape; at extreme corpus sizes shrink the
    * quantum so trace² stays inside 38 digits.
    *
    * @return one row (n_vectors, dim, pr_milli) — pr_milli ∈
    *         [1000, 1000·dim], NULL on an empty corpus. */
  def effectiveDim(emb: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val q = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"), posexplode(col(vecCol)))
      .select(col("__id"), col("pos"),
        floor(col("col").cast("double") * 1e6 + 0.5).cast("long").as("q"))
      .persist()
    val gram = q.select(col("__id"), col("pos").as("d"), col("q").as("qa"))
      .join(q.select(col("__id"), col("pos").as("e"), col("q").as("qb")),
        Seq("__id"))
      .groupBy("d", "e")
      .agg(sum(expr("cast(qa as decimal(38,0)) * qb")).as("s"))
    val parts = gram.agg(
      sum(when(col("d") === col("e"), col("s"))
        .otherwise(lit(0L).cast("decimal(38,0)"))).as("__tr"),
      sum(expr("s * s")).as("__fr"))
    val meta = emb.filter(col(vecCol).isNotNull)
      .agg(count(lit(1)).as("n_vectors"),
        max(size(col(vecCol))).cast("long").as("dim"))
    meta.crossJoin(parts)
      .select(col("n_vectors"), col("dim"),
        expr("""case when __fr is null or __fr = 0 then null
             else (__tr * __tr * 1000) div __fr end""").as("pr_milli"))
  }

  /** [[effectiveDim]]'s persistable Gram state — (d, e, s) cells plus
    * one (-1, -1, n_vectors) sentinel row. The Gram matrix is ADDITIVE
    * in the vectors, so isotropy monitoring over a growing corpus
    * never rescans old batches: state per batch, [[mergeGramStates]]
    * to combine, [[effectiveDimFromState]] to read PR — the
    * x145/x254 incremental discipline applied to spectrum health.
    * Spec-pinned append law: merge(state(A), state(B)) reads the same
    * (n_vectors, dim, pr_milli) row as [[effectiveDim]](A ∪ B). */
  def gramState(emb: DataFrame, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val nn = emb.filter(col(vecCol).isNotNull)
    val q = nn
      .select(col(idCol).as("__id"), posexplode(col(vecCol)))
      .select(col("__id"), col("pos"),
        floor(col("col").cast("double") * 1e6 + 0.5).cast("long").as("q"))
      .persist()
    q.select(col("__id"), col("pos").as("d"), col("q").as("qa"))
      .join(q.select(col("__id"), col("pos").as("e"), col("q").as("qb")),
        Seq("__id"))
      .groupBy("d", "e")
      .agg(sum(expr("cast(qa as decimal(38,0)) * qb")).as("s"))
      .unionByName(nn.agg(count(lit(1)).cast("decimal(38,0)").as("s"))
        .select(lit(-1).as("d"), lit(-1).as("e"), col("s")))
  }

  /** Cell-wise sum of two [[gramState]] tables (sentinel included —
    * vector counts add like every other cell). */
  def mergeGramStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("d", "e").agg(sum("s").as("s"))

  /** Read (n_vectors, dim, pr_milli) off a [[gramState]] — the same
    * row [[effectiveDim]] computes from raw vectors, from state alone. */
  def effectiveDimFromState(state: DataFrame): DataFrame =
    state.agg(
      sum(when(col("d") === col("e") && col("d") >= 0, col("s"))
        .otherwise(lit(0L).cast("decimal(38,0)"))).as("__tr"),
      sum(when(col("d") >= 0, expr("s * s"))
        .otherwise(lit(0L).cast("decimal(38,0)"))).as("__fr"),
      sum(when(col("d") === -1, col("s"))
        .otherwise(lit(0L).cast("decimal(38,0)"))).cast("long").as("n_vectors"),
      (max(col("d")) + 1).cast("long").as("dim"))
    .select(col("n_vectors"), col("dim"),
      expr("""case when __fr is null or __fr = 0 then null
           else (__tr * __tr * 1000) div __fr end""").as("pr_milli"))

  def labelCentroids(emb: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     labelCol: String = "label"): DataFrame = {
    val labeled = emb.filter(col(labelCol).isNotNull)
    val per = labeled
      .select(col(labelCol).cast("long").as("label"),
        posexplode(col(vecCol)))
      .select(col("label"), col("pos"),
        floor(col("col").cast("double") * 1e6 + 0.5).cast("long").as("q"))
      .groupBy("label", "pos").agg(sum("q").as("s"))
      .localCheckpoint(true)
    def toVec(df: DataFrame, keys: Seq[String]): DataFrame =
      df.groupBy(keys.map(col): _*)
        .agg(sort_array(collect_list(struct(col("pos"), col("s")))).as("__ps"))
        .withColumn("__v", transform(col("__ps"), x =>
          x.getField("s").cast("double")))
        .drop("__ps")
    val lv = toVec(per, Seq("label"))
    val gv = toVec(per.groupBy("pos").agg(sum("s").as("s"))
        .select(lit(0L).as("__g"), col("pos"), col("s")), Seq("__g"))
      .select(col("__v").as("__gv"))
    val nv = labeled.groupBy(col(labelCol).cast("long").as("label"))
      .agg(count(lit(1)).as("n_vecs"))
    lv.crossJoin(broadcast(gv))
      .join(nv, Seq("label"))
      .select(col("label"), col("n_vecs"),
        floor(cosine(col("__v"), col("__gv")) * 1000 + 0.5).cast("long")
          .as("cos_global_permille"),
        floor(norm(col("__v")) / col("n_vecs") + 0.5).cast("long")
          .as("norm_micro"))
      .orderBy("label")
  }

  /** Ingestion-batch embedding DRIFT — [[labelCentroids]]'s geometry
    * keyed by ARRIVAL BATCH (vec_id div batchSize — the producer's
    * write order) instead of by class: each batch's integer-sum
    * centroid cosined against the global centroid (absolute drift —
    * a batch pointing away from the corpus mean marks an encoder
    * version change, a pipeline config slip, or a new domain entering
    * the feed) and against the PREVIOUS batch (step drift — a sudden
    * break between adjacent batches localizes WHEN the change
    * shipped, which the global number alone cannot). The pre-flight
    * that runs before new embeddings join an ANN index ([[ivfTopK]]'s
    * cells assume one embedding space) or a semantic-dedup pass.
    *
    * Exactness: elements micro-quantize to integers first
    * (the [[labelCentroids]] discipline) so per-(batch, dim) sums are
    * exact; cosine is scale-invariant so it runs directly on the
    * integer SUM vectors via the same ordered fold both engines
    * replay bit-for-bit.
    *
    * Shape: one posexplode + (batch, dim)-keyed map-side-combined
    * aggregation, materialized once — the batch vectors, the global
    * total, and the lag-1 self-join all derive from that
    * |batches|·|dims|-bounded table; the adjacent-batch join is an
    * equi-join on batch+1. Nothing touches raw vectors twice.
    *
    * @return (batch, n_vecs, cos_global_permille, cos_prev_permille —
    *         NULL for the first batch) ordered by batch. */
  def embeddingDrift(emb: DataFrame, batchSize: Long = 128,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(batchSize >= 1, s"batchSize ($batchSize) must be >= 1")
    val b = emb.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(expr(s"$idCol div $batchSize").as("batch"), col(vecCol))
    val per = b.select(col("batch"), posexplode(col(vecCol)))
      .select(col("batch"), col("pos"),
        floor(col("col").cast("double") * 1e6 + 0.5).cast("long").as("q"))
      .groupBy("batch", "pos").agg(sum("q").as("s"))
      .localCheckpoint(true)
    val bv = per.groupBy("batch")
      .agg(sort_array(collect_list(struct(col("pos"), col("s")))).as("__ps"))
      .withColumn("__v", transform(col("__ps"), x =>
        x.getField("s").cast("double")))
      .drop("__ps")
    val gv = per.groupBy("pos").agg(sum("s").as("s"))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("pos"), col("s")))).as("__ps"))
      .select(transform(col("__ps"), x =>
        x.getField("s").cast("double")).as("__gv"))
    val nv = b.groupBy("batch").agg(count(lit(1)).as("n_vecs"))
    val prev = bv.select((col("batch") + 1).as("batch"), col("__v").as("__pv"))
    bv.crossJoin(broadcast(gv))
      .join(nv, Seq("batch"))
      .join(prev, Seq("batch"), "left")
      .select(col("batch"), col("n_vecs"),
        floor(cosine(col("__v"), col("__gv")) * 1000 + 0.5).cast("long")
          .as("cos_global_permille"),
        when(col("__pv").isNotNull,
          floor(cosine(col("__v"), col("__pv")) * 1000 + 0.5).cast("long"))
          .as("cos_prev_permille"))
      .orderBy("batch")
  }

  /** Embedding NORM outliers — the MAD fence ([[graft.operators
    * .TextAnalysis.madOutliers]]' discipline) over per-vector
    * micro-norms: vectors whose norm sits more than kMilli/1000 MADs
    * from the corpus median. On a unit-normalized corpus the median
    * is 10⁶ and MAD collapses to 0 — the fence then flags EVERY
    * non-unit vector, which is exactly the hygiene read (a stray
    * un-normalized batch breaks cosine ≡ dot assumptions and skews
    * IVF cell assignment). Complements [[embeddingHygiene]] (nulls /
    * NaN / ragged dims — this catches the numerically-valid-but-wrong
    * scale) and [[embeddingDrift]] (WHEN the scale broke — this lists
    * WHICH vectors).
    *
    * Exactness: norms are exact integer micro-norms (the
    * [[embeddingCoverage]] fold); interpolated medians over integers
    * end in .0/.5 — every quantity in the fence is an exact double.
    *
    * Shape: one scan to micro-norms, two 1-row broadcast percentile
    * scalars, one filtered scan. Raw vectors never shuffle.
    *
    * @return (vec_id, norm_micro, dev_micro) for flagged vectors,
    *         ordered by vec_id. */
  def normOutliers(emb: DataFrame, kMilli: Long = 3500L,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    require(kMilli > 0, s"kMilli ($kMilli) must be > 0")
    val norms = emb.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("vec_id"),
        floor(norm(transform(col(vecCol), x =>
          floor(x.cast("double") * 1e6 + 0.5).cast("double"))) + 0.5)
          .cast("long").as("norm_micro"))
    val med = norms.agg(percentile(col("norm_micro"), lit(0.5)).as("med"))
    val withMed = norms.crossJoin(broadcast(med))
      .withColumn("__dev", abs(col("norm_micro") - col("med")))
    val mad = withMed.agg(percentile(col("__dev"), lit(0.5)).as("mad"))
    withMed.crossJoin(broadcast(mad))
      .filter(col("__dev") * lit(1000.0d) > lit(kMilli.toDouble) * col("mad"))
      .select(col("vec_id"), col("norm_micro"),
        floor(col("__dev")).cast("long").as("dev_micro"))
      .orderBy("vec_id")
  }

  /** Pairwise label-centroid CONFUSION geometry — which class PAIRS
    * sit close: [[labelCentroids]] reads each class against the
    * global mean; this reads every (a, b) pair against each other.
    * cos → 1000‰ marks the pair a k-NN label audit ([[knnLabelAudit]])
    * will mass-confuse and hard-negative mining ([[hardNegatives]])
    * should focus on; a matrix of low pairwise cosines certifies the
    * label space is geometrically separated before audit spend.
    *
    * Exactness/shape: the [[labelCentroids]] discipline — elements
    * micro-quantize so per-(label, dim) sums are exact integers,
    * cosine runs on the integer SUM vectors via the ordered fold both
    * engines replay bit-for-bit. One posexplode + (label, dim) agg,
    * the |L|-row vector table materialized once and self-joined
    * a < b — output ≤ C(|L|, 2) rows, never data-scale.
    *
    * @return (label_a, label_b, n_a, n_b, cos_permille) ordered by
    *         label_a, label_b. */
  def labelConfusionGeometry(emb: DataFrame, idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             labelCol: String = "label"): DataFrame = {
    val labeled = emb.filter(col(labelCol).isNotNull)
    val lv = labeled
      .select(col(labelCol).cast("long").as("label"),
        posexplode(col(vecCol)))
      .select(col("label"), col("pos"),
        floor(col("col").cast("double") * 1e6 + 0.5).cast("long").as("q"))
      .groupBy("label", "pos").agg(sum("q").as("s"))
      .groupBy("label")
      .agg(sort_array(collect_list(struct(col("pos"), col("s")))).as("__ps"))
      .withColumn("__v", transform(col("__ps"), x =>
        x.getField("s").cast("double")))
      .drop("__ps")
      .localCheckpoint(true)
    val nv = labeled.groupBy(col(labelCol).cast("long").as("label"))
      .agg(count(lit(1)).as("n"))
    val a = lv.join(nv, Seq("label"))
      .select(col("label").as("label_a"), col("__v").as("__va"),
        col("n").as("n_a"))
    val b = lv.join(nv, Seq("label"))
      .select(col("label").as("label_b"), col("__v").as("__vb"),
        col("n").as("n_b"))
    a.join(b, col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        floor(cosine(col("__va"), col("__vb")) * 1000 + 0.5).cast("long")
          .as("cos_permille"))
      .orderBy("label_a", "label_b")
  }

  /** Per-source embedding COVERAGE — the governance read before any
    * semantic operator runs corpus-wide: which feed's documents
    * actually HAVE an embedding row (doc_id-keyed), and at what mean
    * vector norm. A low-coverage source silently drops out of
    * semantic dedup / ANN retrieval and its duplicates survive; a
    * source whose mean norm sits far from peers went through a
    * different encoder or normalization (read with [[embeddingDrift]]
    * — that localizes WHEN, this localizes WHO).
    *
    * Exactness: per-vector norms compute over the µ-quantized integer
    * elements (the [[labelCentroids]] discipline) and round to an
    * integer micro-norm per vector, so the per-source mean is an
    * exact integer division.
    *
    * Shape: one id-keyed left equi-join (doc→vector, both sides hash
    * on the id), one source-keyed map-side-combined rollup. Bodies
    * and raw vectors never shuffle — the join carries a 1-long norm.
    *
    * @return (source, n_docs, n_with_vec, coverage_ppm,
    *         mean_norm_micro — NULL for uncovered sources) ordered by
    *         source. */
  def embeddingCoverage(docs: DataFrame, emb: DataFrame,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        sourceCol: String = "source"): DataFrame = {
    val vecs = emb.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        floor(norm(transform(col(vecCol), x =>
          floor(x.cast("double") * 1e6 + 0.5).cast("double"))) + 0.5)
          .cast("long").as("__nm"))
    docs.filter(col(sourceCol).isNotNull)
      .select(col("doc_id"), col(sourceCol).as("source"))
      .join(vecs, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), count(col("__nm")).as("n_with_vec"),
        sum("__nm").as("__sn"))
      .select(col("source"), col("n_docs"), col("n_with_vec"),
        expr("(n_with_vec * 1000000) div n_docs").as("coverage_ppm"),
        expr("case when n_with_vec = 0 then null " +
          "else cast(__sn div n_with_vec as bigint) end")
          .as("mean_norm_micro"))
      .orderBy("source")
  }

  /** Deterministic pseudo-random hyperplanes: coefficient for (plane p,
    * dim i) derived from a splitmix64-style integer mix — reproducible
    * across runs and engines, no RNG state. Returns values in [-1, 1). */
  private def planeCoef(p: Int, i: Column): Column = {
    val mixed = call_function("xxhash64", lit(p.toLong), i)
    (mixed.cast("double") / lit(Long.MaxValue.toDouble))
  }

  /** Random-hyperplane signature: bit p = sign(dot(plane_p, v)).
    * `planeOffset` selects a disjoint plane family — the handle for
    * multi-table LSH. Plane coefficients are indexed by the vector's
    * OWN dimensions (not a fixed 64), so any dimensionality works;
    * zero-length vectors get signature 0. */
  def lshSignature(vec: Column, numPlanes: Int, planeOffset: Int = 0): Column = {
    require(numPlanes >= 1 && numPlanes <= 62,
      s"numPlanes ($numPlanes) must be in [1, 62]: bit 63 is the sign bit and " +
        "Java shifts wrap mod 64, which would alias plane weights")
    (0 until numPlanes).map { p =>
      val dims = when(size(vec) > 0,
        sequence(lit(0L), size(vec).cast("long") - 1))
        .otherwise(array().cast("array<bigint>"))
      val s = aggregate(
        zip_with(vec, dims, (x, i) => x * planeCoef(planeOffset + p, i)),
        lit(0.0d), (acc, x) => acc + x)
      when(s > 0.0d, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** All XOR masks over `numPlanes` bits with at most `maxFlips` bits
    * set (including the zero mask — the exact bucket). Multi-probe LSH
    * expands ONE side of the bucket join by these masks, so a pair is
    * a candidate iff its signatures differ in ≤ maxFlips bits — recall
    * of a (maxFlips+1)-table union for the join cost of masks·n probe
    * rows, without re-hashing the corpus. */
  /** Hard ceiling on Σ_{i≤maxFlips} C(numPlanes, i): every mask both
    * lives on the driver AND multiplies one side of the probe join, so
    * an unbounded count (numPlanes=30, multiProbe=10 ⇒ ~30M masks) is
    * a driver OOM plus an executor row explosion from one mis-tuning.
    * Past this bound the cheap recall knob is more TABLES (disjoint
    * plane families, linear cost), not more flips (combinatorial). */
  private[graft] val MaxProbeMasks = 4096L

  private[graft] def probeMasks(numPlanes: Int, maxFlips: Int): Seq[Long] = {
    // closed-form count first — fail fast BEFORE materializing anything
    var total = 0L
    var c = 1L
    for (i <- 0 to maxFlips) {
      total += c
      require(total <= MaxProbeMasks,
        s"multi-probe over $numPlanes planes with $maxFlips flips generates " +
          s"> $MaxProbeMasks masks; each mask multiplies the probe side of the " +
          "bucket join. Cap the flip count (≤ 2–3 is the useful range) and add " +
          "recall with numTables — extra plane families cost LINEAR probe rows, " +
          "extra flips cost combinatorial ones")
      c = c * (numPlanes - i) / (i + 1)
    }
    def combos(from: Int, choose: Int): Seq[Long] =
      if (choose == 0) Seq(0L)
      else (from until numPlanes).flatMap(b => combos(b + 1, choose - 1).map(_ | (1L << b)))
    (0 to maxFlips).flatMap(k => combos(0, k))
  }

  /** Embedding-cosine NEAR-DUP PAIRS (the dedup use of similarity):
    * all pairs with cosine ≥ threshold, found via LSH-bucketed
    * self-join — same-signature (up to `multiProbe` flipped bits)
    * vectors pair up, everything else never meets. Identical and
    * near-identical vectors share all sign bits so recall at high
    * thresholds is excellent.
    *
    * Recall math: each plane's bit flips between two vectors at angle θ
    * with probability θ/π, so P(candidate per table) =
    * P(Binomial(numPlanes, θ/π) ≤ multiProbe), and `numTables`
    * disjoint plane families union: recall = 1 − (1 − p)^T.
    *
    * Candidate-volume bound (the 100 TB contract): the probe side emits
    * M = Σ_{i≤multiProbe} C(numPlanes, i) rows per vector and random
    * (dissimilar) pairs collide with probability M / 2^numPlanes, so
    * expected noise candidates ≈ n²·M·T / 2^numPlanes. Size
    * numPlanes ≈ log2(n) + log2(M) + c and the noise volume is O(n/2^c)
    * — LINEAR in corpus size, never the all-pairs join a fixed small
    * bucket count degrades to. (16 planes + multiProbe 2 ⇒ M = 137,
    * 65 536 buckets: fine to ~10^6 rows/partition-of-the-problem; at
    * 10^9+ raise planes to ~30 via two 15-plane half-signatures or a
    * wider signature column.)
    *
    * Hyperplane LSH only EARNS its keep at high thresholds (≥ ~0.9
    * cosine ⇒ flip prob ≈ 0.14): at low thresholds (≤ ~0.6) qualifying
    * pairs flip ~1/3 of their bits and every parameterization is either
    * near-quadratic or near-zero-recall — for low-threshold sweeps use
    * the exact scorers instead: [[cosineTopK]]/[[cosineTopKNative]]
    * for embeddings, [[graft.operators.Dedup.jaccardSweep]] for text
    * (content-blocked, recall 1.0). */
  def nearDupPairs(corpus: DataFrame, minPermille: Long = 950, numPlanes: Int = 16,
                   numTables: Int = 2, multiProbe: Int = 1,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(multiProbe >= 0 && multiProbe <= numPlanes,
      s"multiProbe ($multiProbe) must be in [0, numPlanes]")
    // bucketing and verification are both hot loops — native codegen'd
    // LshSignature / CosineF32, not the HOF interpreter
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val masks = probeMasks(numPlanes, multiProbe)
    val base = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<float>").as("v"))
    val candidates = (0 until numTables).map { t =>
      val sig = base.select(col("id"),
        call_function("lsh_sig", col("v"), lit(numPlanes), lit(t * numPlanes)).as("sig"))
      // expand ONE side by the probe masks: for a pair at Hamming h ≤
      // multiProbe exactly one mask (sig_a ⊕ sig_b) matches, so each
      // pair surfaces ≤ 2× (once per direction) before the distinct
      val probes = sig.select(col("id").as("pa"),
        explode(array(masks.map(m => col("sig").bitwiseXOR(lit(m))): _*)).as("sig"))
      probes.join(sig.select(col("id").as("pb"), col("sig")), Seq("sig"))
        .filter(col("pa") =!= col("pb"))
        .select(least(col("pa"), col("pb")).as("da"),
          greatest(col("pa"), col("pb")).as("db"))
    }.reduce(_ unionByName _).distinct()
    candidates
      .join(base.select(col("id").as("da"), col("v").as("va")), Seq("da"))
      .join(base.select(col("id").as("db"), col("v").as("vb")), Seq("db"))
      .select(col("da"), col("db"),
        floor(call_function("cosine_f32", col("va"), col("vb")) * 1000 + 0.5)
          .cast("long").as("cos_permille"))
      .filter(col("cos_permille") >= minPermille)
      .orderBy("da", "db", "cos_permille")
  }

  /** IVF (inverted-file) approximate top-k: a KMeans coarse quantizer
    * (seeded, few iterations) partitions the corpus into `nlist`
    * cells; each query probes only its `nprobe` nearest cells. The
    * classic ANN scale path: scoring cost drops to ~nprobe/nlist of
    * brute force, recall governed by nprobe. Everything distributed —
    * cell assignment is a model transform, the query→cell ranking is a
    * broadcast join against the (tiny) centroid table. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 3, maxFitRows: Int = 100000,
              fitFraction: Double = 1.0,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfProbe(queries,
      ivfBuild(corpus, nlist, maxFitRows, fitFraction, idCol, vecCol),
      k, nprobe, idCol, vecCol)

  /** A fitted IVF coarse index: the tiny centroid table (the broadcast
    * side of every probe) plus the full corpus assigned to its cells.
    * Build ONCE and probe many times — [[mutualTopKAnnSampled]]'s two
    * probes share one fit and one corpus assignment this way, where
    * calling [[ivfTopK]] twice refit the (deterministic, so correct
    * but wasted) quantizer and re-assigned the full corpus
    * (O(n·nlist) = O(n^1.5) under √n sizing) per call. */
  private[graft] final case class IvfIndex(centers: DataFrame, assigned: DataFrame)

  /** The fit + assignment half of [[ivfTopK]] (see its scaladoc for
    * the sampling and sizing disciplines — this is the same code,
    * factored so callers can reuse the index across probes). */
  private[graft] def ivfBuild(corpus: DataFrame, nlist: Int,
                              maxFitRows: Int = 100000, fitFraction: Double = 1.0,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    require(fitFraction > 0.0 && fitFraction <= 1.0,
      s"fitFraction ($fitFraction) must be in (0, 1]")
    // pool rescoring runs on the native fused kernel (bit-identical to
    // the double fold — float elements widen exactly); the double cast
    // exists only to feed the KMeans fit/transform vectors
    graft.functions.GraftFunctions.register(spark)

    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<float>").as("cv"))
      .withColumn("feat", array_to_vector(col("cv").cast("array<double>")))
    // The quantizer is FIT on a bounded sample: at 100 TB a full-corpus
    // KMeans fit is itself a multi-iteration job over every vector,
    // while cluster geometry learned from 10^5 vectors is statistically
    // the same — standard IVF practice. Sampling is scan-only:
    // `fitFraction` keeps a deterministic hash-threshold subset (an
    // unbiased filter — NO global sort; at 100 TB an orderBy(hash)
    // sample would cost as much as the fit it avoids), and `maxFitRows`
    // is a safety cap (LocalLimit — early-exits the scan). Size
    // fitFraction so the cap rarely binds. On the DEFAULT path
    // (fitFraction == 1.0) the cap is the only bound, and a bare limit
    // takes whatever rows the scan yields first — order-dependent
    // across partitioning/AQE changes and biased on clustered corpora —
    // so there the cap is applied as orderBy(xxhash64).limit: a
    // deterministic unbiased pseudo-random top-k. That plans as
    // TakeOrderedAndProject (per-partition heap of maxFitRows + driver
    // merge), NOT a full global sort; at scales where even that merge
    // is too heavy, set fitFraction — the filter path stays scan-only.
    // The full corpus is still ASSIGNED (transform) below.
    val fitInput =
      if (fitFraction < 1.0) {
        val sampled = c.filter(pmod(xxhash64(col("neighbor_id")), lit(1000000L))
          < lit((fitFraction * 1000000L).toLong))
        if (maxFitRows > 0) sampled.limit(maxFitRows) else sampled
      } else if (maxFitRows > 0)
        c.orderBy(xxhash64(col("neighbor_id")), col("neighbor_id")).limit(maxFitRows)
      else c
    // init mode is immaterial to cost here: the fit input is already
    // bounded by fitFraction/maxFitRows, so k-means||'s extra init
    // passes run over a capped sample — keep the quality default
    val model = new KMeans().setK(nlist).setSeed(42L).setMaxIter(5)
      .setFeaturesCol("feat").setPredictionCol("cell").fit(fitInput)
    val assigned = model.transform(c).select("neighbor_id", "cv", "cell")

    // tiny centroid table (model params) → broadcast-joined to queries
    import spark.implicits._
    val centers = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray) }.toSeq.toDF("cell", "center")
    IvfIndex(centers, assigned)
  }

  /** The probe half of [[ivfTopK]]: coarse cell selection against the
    * prebuilt centroid table, then exact cosine rescoring inside the
    * pooled cells. */
  private[graft] def ivfProbe(queries: DataFrame, index: IvfIndex, k: Int,
                              nprobe: Int, idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    // coarse probe through the bounded-aggregate helper; qv stays
    // float so the pool rescoring below keeps feeding the f32 kernel
    // bit-identically (the helper casts to double only for cdist)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<float>").as("qv"))
    val probed = nearestCells(q, index.centers, nprobe)

    val scored = probed.join(index.assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        call_function("cosine_f32", col("qv"), col("cv")).as("score"))
    topKByScoreAgg(scored, k)
  }

  /** Approximate top-k: bucket by LSH signature, score only same-bucket
    * pairs. At 100 TB the bucket join is an equi-shuffle on the
    * signature (or a broadcast of the query signatures), never a cross
    * join.
    *
    * Recall < 1 by design, tuned by three knobs: per-table candidate
    * probability is P(Binomial(numPlanes, θ/π) ≤ multiProbe) — the
    * chance at most `multiProbe` sign bits disagree — and `numTables`
    * disjoint plane families union their candidates, so
    * recall ≈ 1 − (1 − p)^T. Fewer planes → bigger buckets (more pairs
    * scored, higher p); multi-probe and tables buy recall back.
    * Multi-probe expands the QUERY side only (it is the broadcast
    * side): each query probes every bucket within `multiProbe` bit
    * flips of its own signature — Σ_{i≤m} C(planes, i) probe rows per
    * query, so per-query candidate mass is ~n·M/2^planes instead of
    * n/2^planes, still ≪ n when planes are sized to the corpus. Each
    * table is a narrow map (signature) + broadcast join — the corpus is
    * never shuffled; duplicate candidates (multi-table collisions) are
    * deduped before ranking (scores are deterministic, so the dedup is
    * exact).
    *
    * The DEFAULTS are deliberately SPEED-biased: (planes=8, tables=2,
    * probe=2) measures 460‰ top-5 recall on the synthetic sf0.001
    * embeddings for 2×37 probe rows per query (RecallSpec x29 pins
    * that floor). Recall is bought with `numTables` (linear candidate
    * cost, exponential miss decay) and `multiProbe` (polynomial probe
    * fan-out): the RECALL-biased point (tables=4, probe=3) measures
    * 980‰ on the same corpus at ~4×(1+8+28+56) probe rows per query —
    * RecallSpec's "recall-biased LSH operating point" case pins ≥900‰
    * there, so both ends of the trade are certified, and a caller
    * picking between them is choosing between two measured points,
    * not extrapolating. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, numPlanes: Int = 8,
              numTables: Int = 2, multiProbe: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(numTables >= 1, s"numTables ($numTables) must be >= 1")
    require(multiProbe >= 0 && multiProbe <= numPlanes,
      s"multiProbe ($multiProbe) must be in [0, numPlanes]")
    // signature + scoring via the native codegen'd expressions; float
    // elements widen exactly, so scores and buckets match the HOF/
    // double path bit for bit (FunctionsSpec parity)
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val masks = probeMasks(numPlanes, multiProbe)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<float>").as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<float>").as("cv"))
    val scored = (0 until numTables).map { t =>
      val qs = q.withColumn("sig0",
          call_function("lsh_sig", col("qv"), lit(numPlanes), lit(t * numPlanes)))
        .select(col("query_id"), col("qv"),
          explode(array(masks.map(m => col("sig0").bitwiseXOR(lit(m))): _*)).as("sig"))
      val cs = c.withColumn("sig",
        call_function("lsh_sig", col("cv"), lit(numPlanes), lit(t * numPlanes)))
      cs.join(broadcast(qs), Seq("sig"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          call_function("cosine_f32", col("qv"), col("cv")).as("score"))
    }.reduce(_ unionByName _)
    // duplicates only arise when a pair collides in 2+ tables: with one
    // table each vector has exactly one signature, so the dedup (a full
    // shuffle of all scored pairs) would be pure overhead on the
    // default path
    val merged = if (numTables == 1) scored
      else scored.dropDuplicates("query_id", "neighbor_id")
    topKByScoreAgg(merged, k)
  }

  /** Per-dimension standardization (z-scoring) of the embedding
    * column — the feature-scaling pass a training pipeline runs before
    * distance-based work (k-means, IVF fit, hard-negative margins):
    * one high-variance dimension otherwise dominates every L2/cosine
    * decision.
    *
    * Two passes. Pass 1 aggregates each dimension's mean and
    * mean-of-squares from the posexploded (dim, value) rows — map-side
    * combine collapses each task to ≤dim rows, so the shuffle carries
    * O(partitions·dim) scalars, then the dim-row stats table is
    * collected to the driver (dim-bounded — the same contract as the
    * k-means centroid collect) and re-entered as PLAN LITERALS. Pass 2
    * is therefore a pure codegen map riding the corpus scan: no join,
    * no Exchange below the presentation sort. σ uses the population
    * form √(E[x²]−E[x]²) in double; a constant dimension (σ = 0) maps
    * to z = 0 rather than NaN.
    *
    * Output z-values are CSV-packed millis (floor(z·1000 + 0.5) — the
    * x53 quantize output discipline), making the result engine-
    * comparable; take the array form from `transform` directly if a
    * downstream operator wants vectors.
    *
    * @return (id, z_csv), ordered by id. */
  def standardizeDims(emb: DataFrame, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val stats = emb
      .select(posexplode(col(vecCol))).toDF("pos", "e")
      .select(col("pos"), col("e").cast("double").as("e"))
      .groupBy("pos")
      .agg(avg(col("e")).as("m"), avg(col("e") * col("e")).as("m2"))
      .orderBy("pos").collect()
    require(stats.nonEmpty, "standardizeDims: empty or all-null embedding column")
    val means = stats.map(r => r.getDouble(1))
    val sds = stats.map { r =>
      math.sqrt(math.max(0.0, r.getDouble(2) - r.getDouble(1) * r.getDouble(1)))
    }
    val mArr = array(means.map(lit(_)): _*)
    val sArr = array(sds.map(lit(_)): _*)
    emb.select(col(idCol),
      concat_ws(",", transform(col(vecCol), (e, i) =>
        when(element_at(sArr, i + 1) === lit(0.0d), lit(0L))
          .otherwise(floor((e.cast("double") - element_at(mArr, i + 1))
            / element_at(sArr, i + 1) * 1000 + 0.5).cast("long")))).as("z_csv"))
      .orderBy(idCol)
  }

  /** Population covariance matrix of the embedding table, upper
    * triangle in milli units — the PCA/whitening precursor and the
    * "are these dimensions redundant" scan ([[standardizeDims]] tells
    * you each dimension's scale; this tells you which pairs move
    * together). cov(i,j) = E[eᵢ·eⱼ] − E[eᵢ]·E[eⱼ].
    *
    * Shape: the d² cross-moments come from a CHAINED double explode —
    * row → d rows → d·(d+1)/2 (i ≤ j) rows — entirely row-local (no
    * self-join, no shuffle until the d²-group aggregate, and d² groups
    * is nothing). Cost is n·d² expansion in the map stage; at 100 TB
    * the same sums come from ONE d²-wide partial-aggregate buffer per
    * partition (a [[graft.functions.VectorAgg]]-style outer-product
    * UDAF) so the expansion never materializes — identical output,
    * identical group count, swap when n·d² map rows dominate the
    * profile.
    *
    * Oracle parity: float inputs cast to double once; per-cell AVG is
    * the only summation (milli-rounding absorbs cross-engine
    * summation-order ulps — the [[standardizeDims]] discipline);
    * E[eᵢ] comes from the same exploded frame aggregated per
    * dimension and re-joined (64 rows, broadcast).
    *
    * @return (i, j, cov_milli) for i ≤ j, ordered by (i, j). */
  def covarianceMatrix(emb: DataFrame, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val pos = emb
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        posexplode(col(vecCol)))
      .select(col("__id"), col("__v"), col("pos").as("i"),
        col("col").cast("double").as("ei"))
    val cross = pos
      .select(col("i"), col("ei"), posexplode(col("__v")))
      .select(col("i"), col("ei"), col("pos").as("j"),
        col("col").cast("double").as("ej"))
      .filter(col("i") <= col("j"))
    val moments = cross.groupBy("i", "j")
      .agg(avg(col("ei") * col("ej")).as("m2"))
    val means = pos.groupBy("i").agg(avg("ei").as("m"))
    moments
      .join(broadcast(means.select(col("i"), col("m").as("mi"))), Seq("i"))
      .join(broadcast(means.select(col("i").as("j"), col("m").as("mj"))),
        Seq("j"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        floor((col("m2") - col("mi") * col("mj")) * 1000 + 0.5d)
          .cast("long").as("cov_milli"))
      .orderBy("i", "j")
  }

  /** [[covarianceMatrix]] on the SINGLE-BUFFER path — the 100 TB
    * variant the chained-explode form's scale note promises: the
    * `vec_outer_sum` UDAF ([[graft.functions.VectorAgg]]) folds every
    * partition into one (n, Σx, Σx·xᵀ-upper-triangle) buffer of
    * d(d+1)/2 + d + 1 doubles, the shuffle carries one buffer per
    * partition, and the d² pair rows unpivot from the 1-row moment
    * array via explode over BAKED index literals (the
    * [[standardizeDims]] literal pattern — `dim` must be given, and is
    * validated against the buffer length at execution).
    *
    * cov(i,j) = p_ij/n − (s_i/n)·(s_j/n), milli-rounded — the same
    * population formula as the explode path; the two paths' outputs
    * agree (SimilaritySpec asserts equality on real embeddings), with
    * summation-order ulps absorbed by the rounding.
    *
    * @return (i, j, cov_milli) for i ≤ j, ordered by (i, j). */
  def covarianceMatrixAgg(emb: DataFrame, dim: Int,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(dim >= 1 && dim <= 4096, s"dim ($dim) must be in [1, 4096]")
    graft.functions.VectorAgg.register(emb.sparkSession)
    val expect = 1 + dim + dim * (dim + 1) / 2
    val one = emb.agg(call_function("vec_outer_sum", col(vecCol)).as("m"))
      .select(when(size(col("m")) === expect, col("m"))
        .otherwise(raise_error(concat(
          lit(s"covarianceMatrixAgg: dim=$dim expects a $expect-long moment "
            + "array, got length "), size(col("m")).cast("string"))))
        .as("m"))
    // (i, j) → packed moment offset, unpivoted by joining a d(d+1)/2-row
    // position table against the 1-row array (a literal-struct explode
    // at d = 64 is ~2000 generated expressions — enough to OOM Janino;
    // the join form keeps generated code O(1) in d)
    def off(i: Int, j: Int): Int = 1 + dim + (i * (2 * dim - i + 1)) / 2 + (j - i)
    val idx = for { i <- 0 until dim; j <- i until dim }
      yield (i.toLong, j.toLong, (off(i, j) + 1).toLong)
    val pos = emb.sparkSession.createDataFrame(idx).toDF("i", "j", "p")
    val n = element_at(col("m"), 1)
    val si = element_at(col("m"), (col("i") + 2).cast("int"))
    val sj = element_at(col("m"), (col("j") + 2).cast("int"))
    val pij = element_at(col("m"), col("p").cast("int"))
    pos.crossJoin(one)
      .select(col("i"), col("j"),
        floor((pij / n - (si / n) * (sj / n)) * 1000 + 0.5d)
          .cast("long").as("cov_milli"))
      .orderBy("i", "j")
  }
}

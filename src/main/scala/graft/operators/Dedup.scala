package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-training-data pipelines.
  *
  * Exact dedup, n-gram Jaccard pairs, MinHash+LSH near-dup, SimHash
  * near-dup. All are pure DataFrame programs (no UDFs): hashes come
  * from codegen'd native expressions (md5-derived 60-bit ints, so every
  * pipeline is reproducible cross-engine), set ops from explode +
  * groupBy, so every stage is a standard shuffle Catalyst can size
  * with AQE.
  *
  * Scale design (the point of each variant):
  *  - exact: group on a 128-bit digest of the body, not the body —
  *    shuffle bytes/row collapse from document-size to 16.
  *  - MinHash+LSH: candidate generation is O(n·bands) via bucket
  *    join, never O(n²); only candidates pay the exact-Jaccard
  *    verification join.
  *  - SimHash: 60-bit signature per doc; banding into k+1 sub-keys
  *    finds Hamming-≤k pairs without a cross join.
  *
  * Materialization: operators `persist()` tables several of their own
  * stages read and `localCheckpoint()` stage boundaries. An operator's
  * blocks stay readable while the DataFrame it returned is reachable
  * (its plan's `LogicalRDD` / `InMemoryRelation` holds them) and until
  * [[graft.Harness.release]] frees them all — release only after
  * materializing. Unreachable checkpoint blocks are freed by Spark's
  * ContextCleaner; persisted tables stay in the session's cache manager
  * until that release.
  */
object Dedup {

  /** RDD ids the most recent [[connectedComponents]] call checkpointed,
    * in round order (test hook: proves every round but the last was
    * unpersisted before the operator returned). */
  @volatile private[graft] var lastFixpointCheckpointIds: Seq[Int] = Nil

  /** The materialized RDD behind an eager `localCheckpoint()`ed
    * DataFrame — its logical plan is a `LogicalRDD` over the
    * checkpointed blocks. Dataset.unpersist only talks to the SQL
    * CacheManager, so this handle is the only way to free checkpoint
    * blocks deterministically (instead of waiting for the
    * ContextCleaner to GC the RDD). */
  private[operators] def checkpointRdd(df: DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      case other => throw new IllegalStateException(
        s"expected a checkpointed LogicalRDD plan, got ${other.getClass.getName}")
    }

  /** Row-level exact dedup on explicit keys — the thin built-in form
    * (`dropDuplicates`): keeps an arbitrary row per key, one shuffle.
    * Use [[exact]] when you need deterministic survivor choice or dup
    * counts. */
  def exactRows(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** Exact dedup: keep the smallest doc_id per identical text.
    * At scale group on md5(text) (16 bytes) instead of text; the
    * digest collision probability is negligible at 100 TB corpus
    * sizes (~2^-64 at 10^12 docs). */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
      .select("keep_id", "dup_count")
      .orderBy("keep_id", "dup_count")

  /** Post-dedup mixture restore — the re-weighting table that undoes
    * what [[exact]] dedup did to the source mixture: duplication is
    * never uniform across feeds (syndicated feeds shrink, original
    * feeds don't), so the post-dedup corpus SILENTLY drifts from the
    * mixture that was tuned (x88/x81) pre-dedup. Per source: original
    * and survivor shares, and the sampling factor that restores the
    * original mixture over the deduped corpus
    * (`restore_factor_ppm` = orig share / survivor share, exact
    * rational in DECIMAL(38,0) — >10⁶ means upsample).
    *
    * Survivors are [[exact]]'s min-doc_id-per-digest; a cross-source
    * dup group credits its survivor to the min-id member's source,
    * exactly as the dedup would. Digests shuffle, bodies never; one
    * digest agg + one id-keyed join + one per-source rollup crossed
    * with its own 1-row total.
    *
    * @return (source, n_docs, n_survivors, orig_share_ppm,
    *         surv_share_ppm, restore_factor_ppm), ordered by source;
    *         a fully-deduped-away source reads NULL factors. */
  def dedupMixtureRestore(docs: DataFrame): DataFrame = {
    val fps = docs.select(col("doc_id"), col("source"),
      md5(col("text")).as("__fp"))
    mixtureRestoreFor(fps,
      fps.groupBy("__fp").agg(min("doc_id").as("doc_id")).select("doc_id"))
  }

  /** [[dedupMixtureRestore]] for an EXPLICIT survivor set — the
    * composable form: any dedup policy's survivors (exact min-id,
    * near-dup closure, quality-argmax, a chained pipeline) drop in as
    * a (doc_id) table and the same exact-rational share arithmetic
    * reports what that policy did to the source mixture. The chained
    * corpus-build row (x335) feeds this its gate→exact→near-dup
    * survivor set; [[dedupMixtureRestore]] delegates here with its own
    * exact survivors, so the two cannot drift.
    *
    * Scale shape: one id-keyed left-semi-style join (survivors carry
    * one column) + one per-source rollup crossed with its own 1-row
    * total — bodies never shuffle. */
  def mixtureRestoreFor(docs: DataFrame, survivors: DataFrame): DataFrame = {
    val surv = survivors.select(col("doc_id"), lit(1L).as("__sv"))
    val perSrc = docs.select(col("doc_id"), col("source"))
      .join(surv, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("__sv"), lit(0L))).as("n_survivors"))
    perSrc.crossJoin(broadcast(perSrc.agg(sum("n_docs").as("__td"),
        sum("n_survivors").as("__ts"))))
      .select(col("source"), col("n_docs"), col("n_survivors"),
        expr("(n_docs * 1000000) div __td").as("orig_share_ppm"),
        expr("""case when __ts = 0 then null
             else (n_survivors * 1000000) div __ts end""").as("surv_share_ppm"),
        expr("""case when n_survivors = 0 then null
             else (cast(n_docs as decimal(38,0)) * __ts * 1000000)
               div (cast(n_survivors as decimal(38,0)) * __td) end""")
          .as("restore_factor_ppm"))
      .orderBy("source")
  }

  /** Quality-aware survivor selection over dup clusters: close the
    * near-dup pair graph into components ([[connectedComponents]]) and
    * keep the member with the HIGHEST score (ties → lowest doc_id) —
    * the curation refinement of x34's min-id survivors, where "which
    * copy survives" should be a quality decision (longest, highest
    * quality gate, freshest), not an id accident.
    *
    * `scores` must cover every clustered doc: the inner join drops
    * unscored members SILENTLY — the argmax and n_members then
    * reflect only the scored membership — so validate coverage
    * upstream (score tables derived from the same corpus scan, e.g.
    * n_chars or the x43 gate, cover by construction).
    * Both windows (argmax rank, member count) share the
    * cluster_id partitioning — ONE extra shuffle over the bounded
    * clustered-docs table, and near-dup clusters are tiny by
    * construction so the windows see no skew.
    *
    * @return (cluster_id, keep_id, n_members) per cluster, ordered. */
  def survivorsByScore(pairs: DataFrame, scores: DataFrame,
                       scoreCol: String = "score"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCluster = Window.partitionBy("cluster_id")
    val cc = connectedComponentsUnsorted(pairs)
    cc.join(scores.select(col("doc_id"), col(scoreCol)), Seq("doc_id"))
      .withColumn("rn",
        row_number().over(byCluster.orderBy(col(scoreCol).desc, col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"), col("n_members"))
      .orderBy("cluster_id", "keep_id", "n_members")
  }

  /** Cluster-CAPPED survivor selection — the middle policy between
    * [[survivorsByScore]] (one survivor per cluster) and
    * [[lossWeights]] (keep all, down-weight): keep the top-m members
    * of each near-dup cluster by quality score, drop the rest. The
    * standard compromise when a template cluster carries wanted
    * variation (licensed copies, translations-of-the-same-page) but
    * forty near-identical members would still over-train one
    * document: cap the cluster, keep its best few.
    *
    * The per-cluster top-m runs through the native `topk_pairs`
    * bounded aggregate — (score DESC, doc_id ASC), exactly
    * [[survivorsByScore]]'s window order — so the shuffle after the
    * closure carries O(clusters·m) rows, never a rank window over all
    * clustered docs.
    *
    * @return (cluster_id, doc_id, rank, scoreCol) for the kept
    *         members, ordered by cluster_id, rank. */
  def clusterCapSurvivors(pairs: DataFrame, scores: DataFrame, m: Int,
                          scoreCol: String = "score"): DataFrame = {
    require(m >= 1, s"m ($m) must be >= 1")
    graft.functions.GraftFunctions.register(pairs.sparkSession)
    connectedComponentsUnsorted(pairs)
      .join(scores.select(col("doc_id"), col(scoreCol)), Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(call_function("topk_pairs", col("doc_id").cast("long"),
        col(scoreCol).cast("double"), lit(m)).as("__tk"))
      .select(col("cluster_id"), posexplode(col("__tk")))
      .select(col("cluster_id"), col("col.neighbor_id").as("doc_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.score").cast("long").as(scoreCol))
      .orderBy("cluster_id", "rank")
  }

  /** Dedup report — the duplicate-cluster SIZE DISTRIBUTION: how many
    * clusters of each size the near-dup pair graph contains, with the
    * unpaired remainder of the corpus reported as size-1 clusters.
    * This is the headline table of a dedup run ("93% unique, 5% in
    * pairs, one 40-member template cluster") — the shape of the tail
    * decides whether survivor selection is a rounding error or a
    * major token-count change, and a cluster far larger than the rest
    * is the classic boilerplate/template smell worth reading before
    * dropping.
    *
    * Cost after the closure ([[connectedComponents]]): one groupBy on
    * cluster_id over the CLUSTERED docs only (near-dup clusters are
    * tiny, so no skew), then a groupBy over the cluster-count-bounded
    * sizes table; the singleton remainder is arithmetic on two scalar
    * counts (1×1 cross join — no driver round-trip, composes into one
    * plan). Pairs must reference ids present in `docs` — foreign ids
    * inflate n_labeled and would make the singleton row negative
    * (guarded: the report fails loudly rather than emitting one).
    *
    * @return (cluster_size, n_clusters), ascending by size. */
  def clusterSizeHistogram(docs: DataFrame, pairs: DataFrame,
                           idCol: String = "doc_id"): DataFrame = {
    val labels = connectedComponentsUnsorted(pairs)
    val multi = labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    val totals = docs.agg(count(col(idCol)).as("n_total"))
      .crossJoin(labels.agg(count(lit(1)).as("n_labeled")))
    val singletons = totals
      .select(lit(1L).as("cluster_size"),
        when(col("n_total") >= col("n_labeled"), col("n_total") - col("n_labeled"))
          .otherwise(raise_error(concat(lit("clusterSizeHistogram: pair graph labels "),
            col("n_labeled"), lit(" docs but the corpus has "), col("n_total"),
            lit(" — pairs reference ids outside `docs`")))).as("n_clusters"))
      .filter(col("n_clusters") > 0)
    multi.unionByName(singletons).orderBy("cluster_size")
  }

  /** Per-CLUSTER quality audit of a mined near-dup pair set — the
    * cluster-granularity read between [[Graph.graphSummary]]'s one
    * global coefficient and [[Graph.localClustering]]'s per-node
    * detail: for every connected component of the pair graph, its
    * size, how many of its C(size,2) possible pairs were actually
    * MINED (density_ppm — a clique of mutual copies scores 10⁶, a
    * chain the closure glued together scores ~2·10⁶/size), and the
    * min/mean mined-pair similarity (a high-density cluster whose
    * min_jac is barely over threshold is a different collapse risk
    * than one at 950‰). The report a curation run reads before
    * choosing survivor policy PER CLUSTER instead of globally.
    *
    * Exact integer arithmetic; clusters always have size ≥ 2 (they
    * come from pairs), so the density division is safe by
    * construction.
    *
    * Scale shape: the certified [[connectedComponentsUnsorted]]
    * fixpoint + ONE id-keyed pair→label join (a pair's endpoints
    * share a component by definition, so joining on `da` alone labels
    * the pair) + two cluster-bounded aggregations.
    *
    * @return (cluster_id, size, n_pairs, density_ppm,
    *         min_jac_permille, mean_jac_permille) ordered. */
  def clusterQualityReport(pairs: DataFrame): DataFrame = {
    // `pairs` is read TWICE below (the component fixpoint and the
    // per-cluster pair aggregation) and is typically the whole LSH
    // mining pipeline — cache it so the mining executes once, not per
    // consumer. A LAZY persist suffices (no extra materialization
    // job): the fixpoint's first round fills it before the report's
    // pair aggregation reads it back.
    val p = pairs.persist()
    val labels = connectedComponentsUnsorted(p)
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("size"))
    val pc = p
      .join(labels.withColumnRenamed("doc_id", "da"), Seq("da"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_pairs"),
        min("jac_permille").as("min_jac_permille"),
        sum("jac_permille").as("__sj"))
    sizes.join(pc, Seq("cluster_id"))
      .select(col("cluster_id"), col("size"), col("n_pairs"),
        expr("(n_pairs * 2000000) div (size * (size - 1))").as("density_ppm"),
        col("min_jac_permille"),
        expr("__sj div n_pairs").as("mean_jac_permille"))
      .orderBy("cluster_id")
  }

  /** Per-SOURCE exact-dedup attrition — "which corpus loses most to
    * dedup": for each source, total docs, global-dedup survivors
    * (min-doc_id per content fingerprint, the [[exact]] policy), and
    * the drop rate in ppm. The ingest-time report that decides which
    * feeds are worth their storage BEFORE near-dup mining runs; reads
    * with [[sourceOverlapMatrix]], which says WHERE the near-dup
    * overlap goes — this says how much exact redundancy each source
    * carries at all.
    *
    * Dedup is GLOBAL (a doc is dropped if any lower-id doc anywhere
    * shares its content), attributed to the dropped doc's own source.
    * NULL texts share one fingerprint class (md5(NULL) = NULL groups
    * as one key in both engines): content-free docs dedup to a single
    * survivor, which is the policy a pipeline wants — and any NULL
    * mass shows up in this report's drop counts rather than
    * vanishing.
    *
    * Scale shape: the x01 discipline — 16-byte digests shuffle,
    * bodies never; the survivor join is id-keyed with no fanout
    * (survivor ids are unique by construction); one
    * ∣sources∣-bounded aggregation.
    *
    * @return (source, n_docs, n_survivors, n_dropped, drop_ppm)
    *         ordered by source. */
  def dedupAttrition(docs: DataFrame, groupCol: String = "source"): DataFrame = {
    val fp = docs.select(col("doc_id"), col(groupCol).as("source"),
      md5(col("text")).as("__f"))
    val surv = fp.groupBy("__f").agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), lit(1L).as("__s"))
    fp.join(surv, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), count(col("__s")).as("n_survivors"))
      .select(col("source"), col("n_docs"), col("n_survivors"),
        (col("n_docs") - col("n_survivors")).as("n_dropped"),
        expr("((n_docs - n_survivors) * 1000000) div n_docs").as("drop_ppm"))
      .orderBy("source")
  }

  /** TOKEN-weighted dedup attrition — [[dedupAttrition]] in the unit
    * the training run actually spends: a source dropping 40% of its
    * DOCUMENTS to dedup but only 5% of its TOKENS lost short spam; one
    * dropping 40% of tokens lost real coverage, and the mixture plan
    * (x223) must re-weight around it. Same survivor policy as the doc
    * report (min-doc_id per content fingerprint, the [[exact]] rule),
    * so the two reports describe ONE dedup decision in two units.
    *
    * Exactness/shape: fingerprints are md5 digests (bodies never
    * shuffle; NULL text is one fingerprint class in both engines —
    * the x217 convention); token counts are the corpus-standard
    * space-split length (NULL text ⇒ 0 tokens); one digest groupBy,
    * one id-keyed survivor join, one source-keyed aggregation — all
    * map-side-combinable, output |sources| rows. Trunc division; an
    * all-NULL-text source reports NULL drop_ppm, not a crash.
    *
    * @return (source, n_docs, n_tokens, n_kept_tokens,
    *         n_dropped_tokens, token_drop_ppm) ordered by source. */
  def tokenAttrition(docs: DataFrame, groupCol: String = "source"): DataFrame = {
    val fp = docs.select(col("doc_id"), col(groupCol).as("source"),
      md5(col("text")).as("__f"),
      coalesce(graft.operators.TextAnalysis.tokenCountCol(col("text")), lit(0L))
        .as("__t"))
    val surv = fp.groupBy("__f").agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), lit(1L).as("__s"))
    fp.join(surv, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("__t").as("n_tokens"),
        sum(when(col("__s").isNotNull, col("__t")).otherwise(0L))
          .as("n_kept_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_kept_tokens"),
        (col("n_tokens") - col("n_kept_tokens")).as("n_dropped_tokens"),
        expr("case when n_tokens = 0 then null else " +
          "((n_tokens - n_kept_tokens) * 1000000) div n_tokens end")
          .as("token_drop_ppm"))
      .orderBy("source")
  }

  /** PAIR-SIMILARITY histogram over a mined near-dup pair set — the
    * THRESHOLD-SENSITIVITY read a dedup operator owes before its
    * cutoff ships: bucket the pairs by similarity decile and walk the
    * cumulative share from the TOP, so "raising the bar to ≥900‰
    * keeps cum_from_top_ppm of today's pairs" reads directly off a
    * row. A mass spike just above the current threshold means the
    * pair set is fragile to re-tuning (and to estimator noise — read
    * with x105's calibration); mass concentrated at 1000‰ means the
    * miner is mostly re-finding exact dups the cheap x01 pass already
    * owns. Pairs-in, report-out: composes with ANY (…, jac_permille)
    * producer (x07 MinHash, x65 containment, x23 embedding pairs).
    *
    * Shape: one map-side-combined aggregation over the pair table to
    * ≤11 decile rows; the share/cumulative windows run on THAT. Exact
    * integers, trunc division; 1000‰ lands in the top decile
    * (bucket_lo 900) by least().
    *
    * @return (bucket_lo_permille, n_pairs, share_ppm,
    *         cum_from_top_ppm) ordered by bucket_lo_permille DESC. */
  def pairSimilarityHistogram(pairs: DataFrame,
                              simCol: String = "jac_permille"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = pairs.select(
      (least(expr(s"$simCol div 100"), lit(9L)) * 100).as("bucket_lo_permille"))
      .groupBy("bucket_lo_permille").agg(count(lit(1)).as("n_pairs"))
    val tot = b.agg(sum("n_pairs").as("__tot"))
    b.crossJoin(broadcast(tot))
      .withColumn("__cum", sum("n_pairs").over(
        Window.orderBy(col("bucket_lo_permille").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("bucket_lo_permille"), col("n_pairs"),
        expr("(n_pairs * 1000000) div __tot").as("share_ppm"),
        expr("(__cum * 1000000) div __tot").as("cum_from_top_ppm"))
      .orderBy(col("bucket_lo_permille").desc)
  }

  /** Dedup MIXTURE SHIFT — does global exact dedup change the corpus
    * composition? Per class (language by default): share of the
    * corpus BEFORE dedup, share among the min-id SURVIVORS, and the
    * signed delta in ppm. The bias audit behind "dedup is not free":
    * template-heavy classes (one language's boilerplate-rich crawl)
    * lose disproportionate share and the downstream mixture plan
    * (x223) silently drifts off its targets unless this report feeds
    * back. Same survivor policy as x01/x217/x232 — one dedup
    * decision, read as a distribution shift.
    *
    * Shape: one digest groupBy (bodies never shuffle), one id-keyed
    * survivor join, one class-keyed aggregation; the two 1-row totals
    * broadcast. Exact integers, trunc division.
    *
    * @return (lang, n_docs, share_before_ppm, n_survivors,
    *         share_after_ppm, delta_ppm) ordered by lang. */
  def dedupMixtureShift(docs: DataFrame,
                        classCol: String = "lang"): DataFrame = {
    val fp = docs.select(col("doc_id"), col(classCol).as("lang"),
      md5(col("text")).as("__f"))
    val surv = fp.groupBy("__f").agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), lit(1L).as("__s"))
    val per = fp.join(surv, Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), count(col("__s")).as("n_survivors"))
    val tot = per.agg(sum("n_docs").as("__tb"), sum("n_survivors").as("__ta"))
    per.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        expr("(n_docs * 1000000) div __tb").as("share_before_ppm"),
        col("n_survivors"),
        expr("(n_survivors * 1000000) div __ta").as("share_after_ppm"),
        (expr("(n_survivors * 1000000) div __ta")
          - expr("(n_docs * 1000000) div __tb")).as("delta_ppm"))
      .orderBy("lang")
  }

  /** BATCH-vs-STORE novelty report — [[newAgainstBase]]'s ingest-ops
    * rollup: for each source in an arriving batch, how much of it is
    * genuinely new against the standing fingerprint store, in docs
    * and ppm. The per-feed "is this crawl still yielding" number an
    * ingest scheduler reads daily: a feed whose novelty decays toward
    * 0 is re-serving yesterday's corpus and its crawl budget should
    * move (reads with [[tokenAttrition]], which prices the same
    * decision inside one corpus rather than across batches).
    *
    * Shape: exactly [[newAgainstBase]]'s anti-join economics — the
    * store side is 16-byte digests (bucket it on `fp` and it never
    * exchanges), the batch is the only moving part — followed by one
    * source-keyed aggregation. NULL-text rows share one fingerprint
    * class; a dup match needs a NON-NULL store digest, so NULL-text
    * batch rows always count new (md5(NULL) joins nothing — SQL
    * equality, both engines).
    *
    * @return (source, n_docs, n_new, novelty_ppm) ordered by source. */
  def batchNoveltyReport(batch: DataFrame,
                         baseFingerprints: DataFrame): DataFrame = {
    require(baseFingerprints.columns.contains("fp"),
      s"fingerprint store needs an fp column, got " +
        baseFingerprints.columns.mkString(","))
    val seen = baseFingerprints.select(col("fp").as("__fp")).distinct()
      .withColumn("__hit", lit(1L))
    batch.select(col("source"), md5(col("text")).as("__fp"))
      .join(seen, Seq("__fp"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("n_new"))
      .select(col("source"), col("n_docs"), col("n_new"),
        expr("(n_new * 1000000) div n_docs").as("novelty_ppm"))
      .orderBy("source")
  }

  /** Character-level near-dup pairs — LSH candidates VERIFIED by edit
    * distance: the dedup flavor token-shingle Jaccard alone cannot
    * certify (two docs can share 90% of shingles yet differ by a
    * large block move; two OCR variants can differ in EVERY shingle
    * crossing a typo yet be 2% of characters apart). Candidates come
    * from the [[minHashLshPairs]] banding join — never all pairs —
    * and each surviving pair verifies with the codegen'd built-in
    * `levenshtein`, normalized by the longer text so the cut is
    * length-fair. This is the deliberate exception to "bodies never
    * shuffle": ONLY candidate pairs fetch both bodies (two id-keyed
    * equi-joins), and the candidate set is banding-bounded — the cost
    * model a verify stage is supposed to have.
    *
    * @return (doc_a, doc_b, edit_distance, edit_permille) for pairs
    *         at or under maxEditPermille, ordered by doc_a, doc_b. */
  def editDistancePairs(docs: DataFrame, shingleK: Int = 2,
                        minPermille: Long = 300,
                        maxEditPermille: Long = 200): DataFrame = {
    require(maxEditPermille >= 0 && maxEditPermille <= 1000,
      s"maxEditPermille ($maxEditPermille) must be in [0, 1000]")
    val cand = minHashLshPairs(docs, shingleK = shingleK,
      minPermille = minPermille)
      .select(col("da").as("doc_a"), col("db").as("doc_b"))
    val bodies = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    cand
      .join(bodies.select(col("doc_id").as("doc_a"), col("text").as("__ta")),
        Seq("doc_a"))
      .join(bodies.select(col("doc_id").as("doc_b"), col("text").as("__tb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("__ta"), col("__tb")).cast("long")
          .as("edit_distance"),
        greatest(length(col("__ta")), length(col("__tb"))).cast("long")
          .as("__mx"))
      .filter(col("__mx") > 0)
      .select(col("doc_a"), col("doc_b"), col("edit_distance"),
        expr("(edit_distance * 1000) div __mx").as("edit_permille"))
      .filter(col("edit_permille") <= maxEditPermille)
      .orderBy("doc_a", "doc_b")
  }

  /** SYNDICATION matrix — WHO copies WHOM, at document granularity:
    * for every exact-dup group spanning more than one source, the
    * ORIGINATOR is the source of the group's earliest doc (min
    * doc_id — the producer-sequence proxy for first publication) and
    * every group member from a DIFFERENT source counts as one
    * syndicated doc on the (originator → copier) edge. The directed
    * answer [[dupOverlapMatrix]]-style symmetric counts cannot give:
    * "feed B re-serves feed A" and "feed A re-serves feed B" are
    * different ingest decisions (drop the mirror, keep the origin).
    * Within-source re-posts are excluded — that is [[exact]]'s
    * business, not syndication. Reads next to [[batchNoveltyReport]]
    * (novelty says a feed re-serves SOMETHING; this says whom).
    *
    * Shape: fingerprints are 16-byte md5 digests — bodies never
    * shuffle; one digest-keyed min-struct aggregation finds each
    * group's originator, one digest-keyed equi-join back attributes
    * members, one |S|²-bounded rollup. The digest table materializes
    * once (both the origin pass and the member pass read it).
    *
    * @return (src_from, src_to, n_docs, n_groups) ordered by
    *         src_from, src_to. */
  def syndicationMatrix(docs: DataFrame,
                        sourceCol: String = "source"): DataFrame = {
    val d = docs.filter(col("text").isNotNull && col(sourceCol).isNotNull)
      .select(md5(col("text")).as("fp"), col("doc_id"),
        col(sourceCol).as("src"))
      .localCheckpoint(true)
    val origin = d.groupBy("fp")
      .agg(expr("min_by(src, doc_id)").as("src_from"))
    d.join(origin, Seq("fp"))
      .filter(col("src") =!= col("src_from"))
      .groupBy(col("src_from"), col("src").as("src_to"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_groups"))
      .orderBy("src_from", "src_to")
  }

  /** Duplicate-aware LOSS WEIGHTS — the soft alternative to dropping
    * near-dups: keep every copy but weight each document by
    * 1/|its dup cluster| so a 40-member template cluster contributes
    * ONE document's worth of gradient instead of forty (the standard
    * repetition-discounting recipe when hard dedup would lose wanted
    * coverage — e.g. licensed copies with different metadata). Every
    * corpus doc gets a row: clustered members carry their component's
    * size and ppm weight, unpaired docs weight 10⁶ with themselves as
    * their own (size-1) cluster — so Σ weight_ppm = 10⁶ · #clusters
    * EXACTLY, the invariant a mixture builder downstream relies on:
    * every member weighs 10⁶ div size, and the cluster's canonical
    * survivor (the min-id member — the one doc whose id IS the
    * cluster_id under the min-id fixpoint) absorbs the div-truncation
    * remainder, 10⁶ − (size−1)·(10⁶ div size), so each cluster sums to
    * 10⁶ with zero ppm lost (a size-3 cluster is 333334 + 2·333333,
    * not 3·333333 = 999999).
    *
    * Exactness/shape: cluster labels from [[connectedComponents]]'
    * min-id fixpoint; sizes are one groupBy over the clustered docs;
    * the corpus joins the (small) label table left-outer on the SAME
    * id hash — one shuffle over ids, bodies never move; all weights
    * exact integer.
    *
    * @return (doc_id, cluster_id, cluster_size, weight_ppm) — one row
    *         per corpus doc, ordered by doc_id. */
  def clusterLossWeights(docs: DataFrame, pairs: DataFrame,
                         idCol: String = "doc_id"): DataFrame = {
    val labels = connectedComponentsUnsorted(pairs)
    val sized = labels.join(
      labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size")),
      Seq("cluster_id"))
    docs.select(col(idCol).as("doc_id"))
      .join(sized, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      // min-id survivor absorbs the div remainder → Σ per cluster = 10⁶
      .withColumn("weight_ppm",
        when(col("doc_id") === col("cluster_id"),
          lit(1000000L) - (col("cluster_size") - 1L)
            * expr("1000000 div cluster_size"))
          .otherwise(expr("1000000 div cluster_size")))
      .orderBy("doc_id")
  }

  /** Cross-source duplication matrix over a near-dup pair graph:
    * for every unordered source pair, how many verified near-dup
    * pairs straddle it (diagonal rows = within-source duplication).
    * This is the provenance view of a dedup run — "mirror-B is 80%
    * copies of crawl-A" is an upstream-pipeline decision (drop the
    * mirror at ingest), not a pair-at-a-time one, and the matrix is
    * what surfaces it.
    *
    * Two doc-keyed equi-joins attach each endpoint's source — the
    * join carries only (doc_id, source), never text, and the pair
    * side is the (already small) verified near-dup set; the final
    * aggregate is bounded by |sources|². The unordered (least,
    * greatest) canonicalization makes A→B and B→A the same cell.
    *
    * @return (source_a, source_b, n_pairs), source_a <= source_b,
    *         ordered. */
  def sourceOverlapMatrix(pairs: DataFrame, docs: DataFrame,
                          groupCol: String = "source"): DataFrame = {
    val src = docs.select(col("doc_id"), col(groupCol).as("__g"))
    pairs.select("da", "db")
      .join(src.select(col("doc_id").as("da"), col("__g").as("ga")), Seq("da"))
      .join(src.select(col("doc_id").as("db"), col("__g").as("gb")), Seq("db"))
      .select(least(col("ga"), col("gb")).as("source_a"),
        greatest(col("ga"), col("gb")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** Canonicalizing text normalization for fuzzy-EXACT dedup — the
    * C4/Dolma preprocessing rule: lowercase, strip everything outside
    * [a-z0-9 ], collapse space runs, trim. Catches the "same text,
    * different casing/punctuation/spacing" near-copies that hash-exact
    * dedup misses and MinHash is overkill for. Patterns are in the
    * RE2∩Java-common subset (the x75 discipline) so any engine
    * normalizes identically; ASCII-lowercase semantics (the corpus
    * convention — locale-sensitive case folding differs per engine). */
  def normalizedText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** [[exact]] over the [[normalizedText]] canonical form: the
    * normalization is a row-local codegen map riding the scan, so the
    * cost profile is identical to exact dedup (digests shuffle,
    * bodies never). */
  def exactNormalized(docs: DataFrame): DataFrame =
    exact(docs.withColumn("text", normalizedText(col("text"))))

  /** Incremental-corpus exact dedup: keep only the rows of a NEW batch
    * whose content fingerprint is absent from the base corpus's
    * fingerprint store — the batch twin of [[graft.streaming
    * .EventStreams.dedupAgainstHistory]], and the content-level
    * complement of [[graft.operators.Snapshot.diff]] (which is keyed:
    * a re-keyed copy of existing content is "added" there but a dup
    * here).
    *
    * Scale shape: the store is the persisted artifact of
    * [[graft.operators.TextAnalysis.fingerprintMd5]] — 16 bytes/doc,
    * not bodies — and the LEFT ANTI join shuffles only digests. Keep
    * the store hash-bucketed on `fp` ([[graft.core.Layout]]) and the
    * store side needs no exchange at all; each ingest batch is the
    * only moving part, O(batch) not O(corpus). */
  def newAgainstBase(newDocs: DataFrame, baseFingerprints: DataFrame): DataFrame = {
    require(baseFingerprints.columns.contains("fp"),
      s"fingerprint store needs an fp column, got " +
        baseFingerprints.columns.mkString(","))
    newDocs.withColumn("__fp", md5(col("text")))
      .join(baseFingerprints.select(col("fp").as("__fp")).distinct(),
        Seq("__fp"), "left_anti")
      .drop("__fp")
      .orderBy("doc_id")
  }

  /** [[newAgainstBase]] with a bloom-filter prune in front of the
    * anti-join — the shape Spark's own runtime row-level filtering
    * (`InjectRuntimeFilter`) gives equi-joins, applied here explicitly
    * because the "which docs are genuinely new" batch-vs-corpus
    * anti-join is THE recurring incremental-ingest query.
    *
    * Two phases: (1) one aggregation over the fingerprint store builds
    * a compact bloom sketch (`BloomFilterAggregate` over `xxhash64(fp)`
    * — Spark's sketch, sized `-n·ln(fpp)/ln²2` bits ≈ 0.9 MB per
    * million keys at 3%); (2) the batch filters on
    * `BloomFilterMightContain` — a codegen'd predicate — so only the
    * ~fpp false-positive fraction plus the true duplicates reach the
    * exact anti-join. Bloom filters have NO false negatives, so the
    * result is bit-identical to [[newAgainstBase]] (the x108 oracle is
    * literally x76's SQL); the win at 100 TB is that the anti-join's
    * batch side shrinks from |batch| to |dups| + fpp·|batch| BEFORE
    * the shuffle, and the store-side scan stays a pure aggregation
    * (no exchange when the store is fp-bucketed, [[graft.core.Layout]]).
    *
    * The sketch itself crosses the driver once (`head()`) and rides
    * the filter as a literal — the same lifecycle as a broadcast
    * runtime filter, bounded by `numBits`, never by corpus size.
    * Null-text rows hash to a null probe; `coalesce(…, false)` routes
    * them to the definite-new branch, matching the anti-join's
    * null-never-matches semantics. */
  def newAgainstBaseBloom(newDocs: DataFrame, baseFingerprints: DataFrame,
                          expectedItems: Long = 1L << 20,
                          fpp: Double = 0.03): DataFrame = {
    require(baseFingerprints.columns.contains("fp"),
      s"fingerprint store needs an fp column, got " +
        baseFingerprints.columns.mkString(","))
    require(fpp > 0d && fpp < 1d, s"fpp must be in (0,1), got $fpp")
    graft.functions.GraftFunctions.register(newDocs.sparkSession)
    val numBits = math.max(64L,
      (expectedItems * (-math.log(fpp) / (math.log(2) * math.log(2)))).toLong)
    val sketch = baseFingerprints
      .select(call_function("bloom_build", xxhash64(col("fp")),
        lit(expectedItems), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]](0)
    val withFp = newDocs.withColumn("__fp", md5(col("text")))
    val might = coalesce(
      call_function("bloom_might_contain", lit(sketch),
        xxhash64(col("__fp"))), lit(false))
    val definiteNew = withFp.filter(!might)
    val maybeDup = withFp.filter(might)
      .join(baseFingerprints.select(col("fp").as("__fp")).distinct(),
        Seq("__fp"), "left_anti")
    definiteNew.unionByName(maybeDup).drop("__fp").orderBy("doc_id")
  }

  /** Symmetrized (src, dst) edges of an undirected (da, db) pair
    * graph, the shared input shape of the iterative graph operators
    * ([[connectedComponents]], [[graft.operators.Graph.pageRank]]).
    * Symmetrize via ONE explode, not a self-union: the union spelling
    * evaluates the (potentially expensive — e.g. a whole minHashLsh
    * pipeline) pairs plan once per branch. Re-partitioned by src
    * before the caller's persist: the cached scan then ALREADY
    * satisfies every iteration's join-on-src distribution, so the
    * per-round joins shuffle only the (tiny) label/rank table, never
    * the edge set. Callers persist or checkpoint the result
    * themselves — its storage lifetime is theirs. */
  private[operators] def symmetrizedEdges(pairs: DataFrame): DataFrame =
    pairs
      .select(explode(array(
        struct(col("da").as("src"), col("db").as("dst")),
        struct(col("db").as("src"), col("da").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .repartition(col("src"))

  /** Distinct whitespace tokens per doc. */
  private def distinctTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .distinct()

  /** Distinct word k-shingles per doc as a COMPACT ARRAY column,
    * hashed by the native [[graft.functions.ShingleHashes]] expression
    * (md5 per token + rolling polynomial per window, one compiled pass)
    * — downstream joins/groups never carry the strings, and every
    * arithmetic step is replayed verbatim by the DuckDB oracle.
    *
    * The array form is the scale shape: shingle sets, sizes AND minhash
    * signatures all derive ROW-LOCALLY (`size`, [[graft.functions
    * .MinHashSigs]]), so signature construction costs zero shuffles —
    * the exploded row-per-shingle form needed a distinct + a 16-agg
    * groupBy, two full shuffles of |docs|·|shingles| rows that only
    * re-assembled what the source row already had. */
  private def shingleArrays(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      // docs shorter than k tokens have no k-shingle (the expression
      // would yield an empty array; filtering keeps the doc set
      // identical to the exploded form's)
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"),
        call_function("shingle_hashes", col("toks"), lit(k)).as("shs"))

  /** (doc_id, sz, band, bucket) LSH banding rows over a shingle-array
    * table — signature bank and banding are ROW-LOCAL (one compiled
    * `minhash_sigs` pass, zero shuffles); the shared core of
    * [[minHashLshPairs]] (self-join dedup) and [[crossNearDup]]
    * (two-corpus decontamination), so the two operators cannot
    * silently diverge on signature arithmetic.
    *
    * Band bucket: rolling polynomial combine of the band's minhashes.
    * 2³¹−1 bucket space is ample here; collisions only ADD candidates
    * (verified away by the exact-Jaccard stage), never lose pairs. At
    * 10^9+ docs widen the bucket to an md5 digest (one-line swap). */
  private def bandedSignatures(sh: DataFrame, numHashes: Int,
                               rowsPerBand: Int): DataFrame = {
    val mins = sh.select(col("doc_id"), size(col("shs")).cast("long").as("sz"),
      call_function("minhash_sigs", col("shs"), lit(numHashes)).as("hs"))
    val numBands = numHashes / rowsPerBand
    val bandCols = (0 until numBands).map { bnd =>
      struct(lit(bnd).as("band"),
        (bnd * rowsPerBand until (bnd + 1) * rowsPerBand)
          .map(i => element_at(col("hs"), i + 1))
          .foldLeft(lit(0L): Column)((acc, h) =>
            pmod(acc * lit(1000003L) + h, lit(P31))).as("bucket"))
    }
    mins.select(col("doc_id"), col("sz"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("sz"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  /** BAND-BUCKET skew histogram — the MEASURED health check on the
    * LSH banding join that [[lshBandingPlan]] prices in closed form:
    * bucket-size classes (1, 2, ≤4, … ≤64, open top) with bucket
    * counts, doc slots and the exact candidate-pair mass s·(s−1)/2
    * each class contributes. The read that catches the one failure
    * closed-form analysis cannot: a TEMPLATE bucket — one boilerplate
    * band shared by 10⁴ documents turns into 5·10⁷ candidate pairs
    * from a single bucket, and the banding join's skew is THIS
    * histogram's top class, not the average the S-curve math assumes.
    * Mass concentrating in the open class says "df-cap or salt the
    * banding keys before scaling the corpus" (x19's salting is the
    * fix; this is its trigger).
    *
    * Shape: banding is row-local (`minhash_sigs` — zero shuffles to
    * the bucket table); one (band, bucket)-keyed count with map-side
    * combine, then the ≤7-class rollup and a 1-row total broadcast.
    * All arithmetic exact integer, trunc division.
    *
    * @return (bucket_class, size_le, n_buckets, n_doc_slots,
    *         candidate_pairs, pair_share_ppm) ordered by class;
    *         size_le is NULL on the open top class. */
  def bandBucketSkew(docs: DataFrame, shingleK: Int = 2, numHashes: Int = 16,
                     rowsPerBand: Int = 4): DataFrame = {
    require(rowsPerBand >= 1 && numHashes >= rowsPerBand &&
      numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a positive multiple of rowsPerBand " +
        s"($rowsPerBand)")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val bs = bandedSignatures(shingleArrays(docs, shingleK), numHashes,
        rowsPerBand)
      .groupBy("band", "bucket").agg(count(lit(1)).as("s"))
    val bounds = Seq(1L, 2L, 4L, 8L, 16L, 64L)
    val cls = bounds.zipWithIndex.foldRight(lit(bounds.size.toLong)) {
      case ((b, i), acc) => when(col("s") <= b, i.toLong).otherwise(acc)
    }
    val g = bs.select(cls.as("bucket_class"), col("s"))
      .groupBy("bucket_class")
      .agg(count(lit(1)).as("n_buckets"), sum("s").as("n_doc_slots"),
        sum(expr("s * (s - 1) div 2")).as("candidate_pairs"))
    val tot = g.agg(sum("candidate_pairs").as("__tot"))
    g.crossJoin(broadcast(tot))
      .select(col("bucket_class"),
        bounds.zipWithIndex.foldRight(lit(null).cast("long")) {
          case ((b, i), acc) =>
            when(col("bucket_class") === i.toLong, b).otherwise(acc)
        }.as("size_le"),
        col("n_buckets"), col("n_doc_slots"), col("candidate_pairs"),
        expr("case when __tot = 0 then null else " +
          "(candidate_pairs * 1000000) div __tot end").as("pair_share_ppm"))
      .orderBy("bucket_class")
  }

  /** Exploded (doc_id, sz, sh) inverted-index rows over the CACHED
    * shingle-array table — the shared core of [[jaccardSweep]],
    * [[containmentPairs]] and [[containmentPairsPrefix]] (the explode
    * itself is recomputed per consumer; the expensive shingle pass is
    * what the cache holds). */
  private def shingleRows(docs: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    shingleArrays(docs, k).persist()
      .select(col("doc_id"), size(col("shs")).cast("long").as("sz"),
        explode(col("shs")).as("sh"))
  }

  /** Per-pair common-shingle counts from the inverted-index self-join
    * (da < db); `prune` — over (da, db, sa, sb, sh) join rows — drops
    * hopeless rows BEFORE the aggregation. One copy of the
    * join-filter-groupBy shape so the sweep and containment scorers
    * cannot drift. */
  private def pairCommonCounts(rows: DataFrame,
                               prune: Option[Column]): DataFrame = {
    val a = rows.select(col("doc_id").as("da"), col("sz").as("sa"), col("sh"))
    val b = rows.select(col("doc_id").as("db"), col("sz").as("sb"), col("sh"))
    val joined = a.join(b, Seq("sh")).filter(col("da") < col("db"))
    prune.fold(joined)(joined.filter)
      .groupBy("da", "db", "sa", "sb").agg(count(lit(1)).as("common"))
  }

  /** Exact pairwise token-Jaccard (permille) over an inverted-index
    * self-join. O(pairs-sharing-a-token) — intended for bounded
    * subsets or as the verification stage after LSH blocking; the
    * scalable candidate generator is [[minHashLsh]]. */
  def jaccardPairs(docs: DataFrame, minPermille: Long = 0): DataFrame = {
    // feeds sizes + both join sides — materialize once (same rationale
    // and cache policy as the minHashLsh shingle table)
    val t = distinctTokens(docs).persist()
    val sizes = t.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = t.select(col("doc_id").as("da"), col("tok"))
    val b = t.select(col("doc_id").as("db"), col("tok"))
    val common = a.join(b, Seq("tok")).filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("da"), col("sz").as("sa")), Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("sz").as("sb")), Seq("db"))
      .select(col("da"), col("db"),
        expr("(common * 1000) div (sa + sb - common)").as("jac_permille"))
      .filter(col("jac_permille") >= minPermille)
      .orderBy("da", "db", "jac_permille")
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * numHashes seeded minhashes per doc (seed folded into the md5-keyed
    * hash input, so each family member is portable) → bands of
    * `rowsPerBand` hashed to a bucket key → docs sharing any
    * (band, bucket) become candidates → exact shingle-Jaccard
    * verification on candidates only.
    *
    * Collision math: P(candidate) = 1 - (1 - s^r)^b for true Jaccard s,
    * r = rowsPerBand, b = numHashes/r — the standard S-curve.
    *
    * @return (da, db, jac_permille) for verified pairs ≥ minPermille.
    */
  def minHashLsh(docs: DataFrame, shingleK: Int = 2, numHashes: Int = 16,
                 rowsPerBand: Int = 4, minPermille: Long = 500): DataFrame =
    minHashLshPairs(docs, shingleK, numHashes, rowsPerBand, minPermille)
      .orderBy("da", "db", "jac_permille")

  /** Sketch-quality report: minhash-ESTIMATED vs exact Jaccard per
    * verified x07 pair — the calibration view that justifies (or
    * indicts) trusting the signature estimate at thresholds where the
    * exact verification join is too expensive to keep. est = matching
    * signature positions / numHashes; err ~ ±1/√numHashes per pair,
    * and a systematic bias here means the shingle distribution broke
    * a minhash assumption (worth knowing BEFORE dropping verification
    * at 100 TB).
    *
    * The signature compare is a row-local zip_with fold over the two
    * numHashes-long arrays (pair-bounded, no explode); signatures ride
    * the same cached shingle table the pair mining used.
    *
    * @return (da, db, jac_permille, est_permille, err_permille =
    *         est − exact), ordered by (da, db). */
  def jaccardEstimateReport(docs: DataFrame, shingleK: Int = 2,
                            numHashes: Int = 16, rowsPerBand: Int = 4,
                            minPermille: Long = 500): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val pairs = minHashLshPairs(docs, shingleK, numHashes, rowsPerBand, minPermille)
    val sigs = shingleArrays(docs, shingleK).select(col("doc_id"),
      call_function("minhash_sigs", col("shs"), lit(numHashes)).as("sig"))
    pairs
      .join(sigs.select(col("doc_id").as("da"), col("sig").as("sa")), Seq("da"))
      .join(sigs.select(col("doc_id").as("db"), col("sig").as("sb")), Seq("db"))
      .withColumn("est_permille",
        expr(s"aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1L, 0L)), 0L, " +
          s"(acc, e) -> acc + e) * 1000 div $numHashes"))
      .select(col("da"), col("db"), col("jac_permille"), col("est_permille"),
        (col("est_permille") - col("jac_permille")).as("err_permille"))
      .orderBy("da", "db")
  }

  /** MEASURED minhash error curve — estimate error vs signature size,
    * against exact ground truth: [[jaccardEstimateReport]] audits the
    * one operating signature over the LSH pairs it mined;
    * this measures how the error SHRINKS as hashes are added (theory:
    * ±1/√h per pair), over the recall-unbiased [[jaccardSweep]] pair
    * set, so "8 hashes already land within ±X‰" is a measured row, not
    * a formula. Run it on a slice where the exact sweep is affordable,
    * size the full-corpus signature from the curve.
    *
    * One pass: the per-pair component-match vector is computed once
    * (row-local zip_with on the two signatures), each prefix size h ∈
    * {4, 8, …, numHashes} reads its first h entries, and everything
    * folds into ONE aggregate row unpivoted to |{h}| rows — beyond the
    * exact sweep the curve costs two id-keyed signature joins.
    *
    * @return (n_hashes, n_pairs, mae_ppm, bias_ppm) — mean |est−exact|
    *         and mean signed bias, permille·1000 — ordered by
    *         n_hashes; null metrics when no pair qualifies. */
  def minhashErrorCurve(docs: DataFrame, shingleK: Int = 2,
                        numHashes: Int = 16,
                        minPermille: Long = 500): DataFrame = {
    require(numHashes >= 4, s"numHashes ($numHashes) must be >= 4")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val hs = Iterator.iterate(4)(_ * 2).takeWhile(_ <= numHashes).toSeq
    // ONE shingle pass feeds both the signature table and the exact
    // ground-truth sweep (the docs-based sweep re-shingled the corpus
    // into a second identical cache)
    val sh = shingleArrays(docs, shingleK).persist()
    val sigs = sh
      .select(col("doc_id"),
        call_function("minhash_sigs", col("shs"), lit(numHashes)).as("sig"))
      .persist()
    val perPair = jaccardSweepFromArrays(sh, minPermille)
      .join(sigs.select(col("doc_id").as("da"), col("sig").as("sa")), Seq("da"))
      .join(sigs.select(col("doc_id").as("db"), col("sig").as("sb")), Seq("db"))
      .withColumn("m", expr("zip_with(sa, sb, (x, y) -> IF(x = y, 1L, 0L))"))
      .select(Seq(col("jac_permille")) ++ hs.map(h =>
        expr(s"aggregate(slice(m, 1, $h), 0L, (a, e) -> a + e) * 1000 div $h")
          .as(s"est$h")): _*)
    val oneRow = perPair.agg(count(lit(1)).as("n"),
      hs.flatMap(h => Seq(
        sum(abs(col(s"est$h") - col("jac_permille"))).as(s"sa$h"),
        sum(col(s"est$h") - col("jac_permille")).as(s"ss$h"))): _*)
    // stack takes the row values FLATTENED: numRows, then k values per row
    val stacked = hs.map(h =>
      s"${h}L, n, CASE WHEN n = 0 THEN NULL ELSE (sa$h * 1000) div n END, " +
        s"CASE WHEN n = 0 THEN NULL ELSE (ss$h * 1000) div n END")
      .mkString(", ")
    oneRow.select(expr(s"stack(${hs.size}, $stacked) " +
        "AS (n_hashes, n_pairs, mae_ppm, bias_ppm)"))
      .orderBy("n_hashes")
  }

  /** MEASURED banding recall curve — recall and candidate cost per
    * band count, against exact ground truth: where [[lshBandingPlan]]
    * prices the S-curve in closed form and [[bandBucketSkew]] measures
    * the candidate-mass distribution, this measures the RECALL axis
    * itself — "3 bands already catch 998000 ppm of true pairs at half
    * the candidate mass" is the row that moves a banding decision.
    * Ground truth is [[jaccardSweep]] (exact, candidate-recall 1.0),
    * so run this at an operating point where the exact sweep is
    * affordable (a sampled slice at 100 TB) and apply the curve to the
    * full-corpus banding config.
    *
    * Shape: one banding self-join aggregated to each pair's FIRST
    * colliding band (min — so "found within r bands" is one range
    * predicate), the exact sweep once, then everything folds to two
    * ≤numBands-row histograms crossed with a bands dimension table —
    * the curve costs two bounded aggregations beyond its inputs.
    *
    * @return (n_bands, n_candidates, n_true, n_found, recall_ppm) for
    *         n_bands = 1..numBands, ordered by n_bands. */
  def bandRecallCurve(docs: DataFrame, shingleK: Int = 3,
                      numHashes: Int = 16, rowsPerBand: Int = 4,
                      minPermille: Long = 200): DataFrame = {
    require(rowsPerBand >= 1 && numHashes >= rowsPerBand &&
      numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a positive multiple of rowsPerBand " +
        s"($rowsPerBand)")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val numBands = numHashes / rowsPerBand
    // ONE shingle pass feeds both the banding side and the exact
    // ground-truth sweep below (the docs-based sweep re-shingled the
    // corpus into a second identical cache)
    val sh = shingleArrays(docs, shingleK).persist()
    val banded = bandedSignatures(sh, numHashes, rowsPerBand)
      .select(col("doc_id"), col("band"), col("bucket"))
    val collide = banded.select(col("doc_id").as("da"), col("band"),
        col("bucket"))
      .join(banded.select(col("doc_id").as("db"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("da") < col("db"))
      .groupBy("da", "db").agg(min("band").as("__mb"))
      .localCheckpoint(true)
    val exact = jaccardSweepFromArrays(sh, minPermille).select("da", "db")
      .localCheckpoint(true)
    val candHist = collide.groupBy("__mb").agg(count(lit(1)).as("__nc"))
    val exactHist = exact.join(collide, Seq("da", "db"), "left")
      .groupBy("__mb").agg(count(lit(1)).as("__nf"))
    val total = exact.agg(count(lit(1)).as("__nt"))
    val rs = docs.sparkSession.range(1, numBands + 1)
      .select(col("id").as("n_bands"))
    val cands = rs.crossJoin(broadcast(candHist))
      .filter(col("__mb") < col("n_bands"))
      .groupBy("n_bands").agg(sum("__nc").as("__cand"))
    val founds = rs.crossJoin(broadcast(exactHist))
      .filter(col("__mb").isNotNull && col("__mb") < col("n_bands"))
      .groupBy("n_bands").agg(sum("__nf").as("__found"))
    rs.join(cands, Seq("n_bands"), "left")
      .join(founds, Seq("n_bands"), "left")
      .crossJoin(broadcast(total))
      .select(col("n_bands"),
        coalesce(col("__cand"), lit(0L)).as("n_candidates"),
        col("__nt").as("n_true"),
        coalesce(col("__found"), lit(0L)).as("n_found"),
        expr("""case when __nt = 0 then null
             else (coalesce(__found, 0) * 1000000) div __nt end""")
          .as("recall_ppm"))
      .orderBy("n_bands")
  }

  /** MEASURED dedup-threshold yield curve — what each candidate
    * Jaccard threshold would actually flag: per threshold the exact
    * pair mass and the number of documents touched (a doc counts at
    * threshold t iff its BEST pair reaches t). The third member of the
    * measured-curve family — [[bandRecallCurve]] prices the banding
    * recall axis, [[minhashErrorCurve]] the signature-size axis, this
    * the THRESHOLD axis: "at 700‰ you flag 8k docs, at 500‰ it's 31k"
    * is the row a dedup-aggressiveness decision needs. Ground truth is
    * ONE exact sweep at the loosest candidate threshold; run on a
    * slice where that sweep is affordable, apply the curve corpus-wide.
    *
    * The sweep materializes once; the curve is two bounded histograms
    * (pair mass keyed by jac value ≤ 1000 rows, doc mass keyed by each
    * doc's max jac) crossed with a broadcast thresholds table — adding
    * a threshold re-reads the histograms, never the corpus.
    *
    * @return (threshold, n_pairs, n_docs_flagged), ordered by
    *         threshold. */
  def dedupThresholdCurve(docs: DataFrame, shingleK: Int = 2,
                          thresholds: Seq[Long] = Seq(300L, 500L, 700L, 900L)): DataFrame = {
    require(thresholds.nonEmpty && thresholds == thresholds.sorted
      && thresholds.distinct == thresholds
      && thresholds.head >= 1 && thresholds.last <= 999,
      s"thresholds ($thresholds) must be non-empty, sorted, distinct, in [1, 999]")
    val sweep = jaccardSweep(docs, shingleK, thresholds.head)
      .localCheckpoint(true)
    val pairH = sweep.groupBy("jac_permille").agg(count(lit(1)).as("__np"))
    val docH = sweep
      .select(explode(array(col("da"), col("db"))).as("doc_id"),
        col("jac_permille"))
      .groupBy("doc_id").agg(max("jac_permille").as("__mx"))
      .groupBy("__mx").agg(count(lit(1)).as("__nd"))
    val rs = docs.sparkSession.range(thresholds.size)
      .select(element_at(array(thresholds.map(lit): _*),
        col("id").cast("int") + 1).as("threshold"))
    val pairs = rs.crossJoin(broadcast(pairH))
      .filter(col("jac_permille") >= col("threshold"))
      .groupBy("threshold").agg(sum("__np").as("__p"))
    val flagged = rs.crossJoin(broadcast(docH))
      .filter(col("__mx") >= col("threshold"))
      .groupBy("threshold").agg(sum("__nd").as("__d"))
    rs.join(pairs, Seq("threshold"), "left")
      .join(flagged, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("__p"), lit(0L)).as("n_pairs"),
        coalesce(col("__d"), lit(0L)).as("n_docs_flagged"))
      .orderBy("threshold")
  }

  /** Near-duplicate SOURCE matrix — which feeds copy each other WITH
    * EDITS: [[syndicationMatrix]] (x247) answers it for exact copies
    * and [[Dedup]] x90 for exact-digest overlap; real syndication
    * rewrites headlines and injects boilerplate, which only the
    * near-dup pair mining sees. Per unordered source pair (including
    * the within-source diagonal — a feed near-duplicating ITSELF is
    * the template alarm), the verified near-dup pair count.
    *
    * Rides [[minHashLshPairs]] unchanged (banding, never all-pairs);
    * the source attribution is two id-keyed joins carrying one small
    * string, folded to a ≤|S|² matrix — bodies never shuffle.
    *
    * @return (source_a ≤ source_b, n_pairs), ordered. */
  def nearDupSourceMatrix(docs: DataFrame, shingleK: Int = 2,
                          numHashes: Int = 16, rowsPerBand: Int = 4,
                          minPermille: Long = 500): DataFrame = {
    val pairs = minHashLshPairs(docs, shingleK, numHashes, rowsPerBand,
      minPermille)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("da"), col("source").as("__sa")),
        Seq("da"))
      .join(src.select(col("doc_id").as("db"), col("source").as("__sb")),
        Seq("db"))
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** [[minHashLsh]] WITHOUT the final global sort — the form to feed
    * downstream operators ([[connectedComponents]], bulk drop-list
    * writes) that don't need a total order: a global sort is a range
    * shuffle plus a partition-sampling job, pure overhead when the
    * consumer immediately re-shuffles by its own keys. */
  def minHashLshPairs(docs: DataFrame, shingleK: Int = 2, numHashes: Int = 16,
                      rowsPerBand: Int = 4, minPermille: Long = 500): DataFrame = {
    require(rowsPerBand >= 1 && numHashes >= rowsPerBand &&
      numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a positive multiple of rowsPerBand " +
        s"($rowsPerBand) — otherwise bands are empty or hashes are discarded")
    // the compact shingle-array table feeds signatures, sizes AND the
    // verification join — materialize it once instead of recomputing
    // the scan+shingle pipeline three times. (At scale this is the
    // standard design anyway: persist the signature/shingle tables,
    // they are reused across dedup runs.) Callers running many dedup
    // passes in one long-lived session call [[graft.Harness.release]]
    // between corpora so disk-spilled blocks don't outlive their query.
    // seeded minhash via a UNIVERSAL HASH FAMILY over the (already
    // md5-derived, uniform) shingle int: h_i = (a_i·h + b_i) mod 2³¹−1.
    // One md5 per TOKEN total (ShingleHashes); each family member costs
    // two integer ops instead of an md5+hex-parse, and the arithmetic
    // is trivially portable, so the DuckDB oracle replays it exactly.
    // All intermediates < 2^62 (ANSI-safe).
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sh = shingleArrays(docs, shingleK).persist()
    minedPairs(sh, numHashes, rowsPerBand, minPermille)
  }

  /** The mining core shared by [[minHashLshPairs]] (fresh shingling)
    * and [[pairsFromState]] (persisted fingerprints): banding self-join
    * + exact verification over a (doc_id, shs) shingle-array table. */
  private def minedPairs(sh: DataFrame, numHashes: Int, rowsPerBand: Int,
                         minPermille: Long): DataFrame = {
    // signature + size are ROW-LOCAL over the array — zero shuffles
    // where the exploded form paid a distinct and a 16-agg groupBy over
    // every (doc, shingle) row — and the whole signature bank is ONE
    // compiled pass over the array (native MinHashSigs expression; the
    // HOF spelling re-walks the array through the lambda interpreter
    // once per hash).
    // sizes ride along on the banded rows (carried through the
    // candidate join) so verification never re-joins a sizes table —
    // two fewer shuffle stages than the textbook
    // cand⋈sizes(da)⋈sizes(db) shape, same answer.
    val banded = bandedSignatures(sh, numHashes, rowsPerBand)
    val cand = banded.select(col("doc_id").as("da"), col("sz").as("sa"), col("band"), col("bucket"))
      .join(banded.select(col("doc_id").as("db"), col("sz").as("sb"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("da") < col("db"))
      .select("da", "db", "sa", "sb").distinct()
    verifyCandidates(cand, sh, minPermille)
  }

  /** Exact shingle-Jaccard verification, candidates only: fetch both
    * docs' compact arrays and set-intersect ROW-LOCALLY. The exploded
    * form shuffled the full (doc, shingle) table twice and re-grouped;
    * this shuffles array payloads for CANDIDATE docs only — bytes
    * bounded by the S-curve's candidate mass, not the corpus. Zero-
    * overlap candidates keep their row (common = 0), so the
    * permille-0 "keep every candidate" contract needs no special case.
    * `cand` must carry (da, db, sa, sb). */
  private def verifyCandidates(cand: DataFrame, sh: DataFrame,
                               minPermille: Long): DataFrame = {
    val scored = cand
      .join(sh.select(col("doc_id").as("da"), col("shs").as("sha")), Seq("da"))
      .join(sh.select(col("doc_id").as("db"), col("shs").as("shb")), Seq("db"))
      .select(col("da"), col("db"), col("sa"), col("sb"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("common"))
    scored
      .select(col("da"), col("db"),
        expr("(common * 1000) div (sa + sb - common)").as("jac_permille"))
      .filter(col("jac_permille") >= minPermille)
  }

  /** Per-document MINING STATE for the near-dup pipeline — the
    * persisted fingerprint table a real corpus mines ONCE per document
    * ever: (doc_id, sz, shs) with `shs` the compact hashed k-shingle
    * array ([[graft.functions.ShingleHashes]] — the text-side md5 +
    * rolling-hash work, the expensive scan pass, happens here and
    * never again). Six r13 board audits each re-shingled the corpus to
    * re-mine the same pairs; with the state persisted, every
    * downstream read (pair mining, cluster labels, survivor picks,
    * histograms) starts from this table. Docs shorter than k tokens
    * have no k-shingle and are absent — exactly the one-shot
    * [[minHashLshPairs]] doc set, which is what makes the append law
    * below exact.
    *
    * State discipline (the x254/x276/x289 pattern): [[pairState]] per
    * ingest batch, [[mergePairStates]] to combine (disjoint doc sets —
    * the ingest-batch contract), [[pairsFromState]] to mine, with the
    * append LAW `pairsFromState(merge(state(A), state(B))) ≡
    * minHashLshPairs(A ∪ B)` spec-proven; [[pairsAppend]] is the
    * incremental arrival path (delta-only candidate mass). */
  def pairState(docs: DataFrame, shingleK: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    shingleArrays(docs, shingleK)
      .select(col("doc_id"), size(col("shs")).cast("long").as("sz"),
        col("shs"))
  }

  /** Union of two [[pairState]] tables over DISJOINT doc sets (the
    * ingest-batch contract — same shingleK on both sides). */
  def mergePairStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)

  private val ShingleKProp = "graft.pairstate.shingleK"

  /** Persist a [[pairState]] as an index of one table bucketed on doc_id
    * (the [[AnnIndex]] discipline, [[graft.core.IndexTable]]): shingleK
    * is pinned in its manifest so a later append can never silently sign
    * a batch with an incompatible shingle size, and the bucketing makes
    * every doc-keyed read (verification joins, survivor picks)
    * Exchange-free on the state side. One corpus scan, one write-side
    * shuffle, never again. */
  def writePairState(docs: DataFrame, table: String, shingleK: Int = 2,
                     buckets: Int = 8): Unit =
    graft.core.IndexTable.build(table, "doc_id", buckets, ShingleKProp -> shingleK)(
      (table, pairState(docs, shingleK), Seq("doc_id")))

  /** INCREMENTAL maintenance of a [[writePairState]] table: fingerprint
    * a new batch with the table's OWN pinned shingleK (read from the
    * manifest — no job, no scan) and APPEND through the same bucketed
    * writer. Cost is O(batch); the corpus is never re-shingled. Pair
    * with [[pairsAppend]] against `readPairState(spark, t)` as the base
    * state — NOT the raw `spark.table(t)`, which skips the tombstone
    * subtraction and would mine pairs involving retired docs. A batch
    * id still tombstoned by [[deleteFromPairState]] is safe:
    * [[graft.core.IndexTable.append]] compacts first, one state rewrite. */
  def appendPairState(deltaDocs: DataFrame, table: String): Unit =
    graft.core.IndexTable.append(table, deltaDocs.select(col("doc_id")))(Seq(
      table -> pairState(deltaDocs,
        graft.core.IndexTable.param(deltaDocs.sparkSession, table, ShingleKProp))))

  /** TOMBSTONE retirement from a [[writePairState]] table — the
    * `AnnIndex.deleteFromIndex` discipline on the mining state:
    * retired doc_ids land in a tiny tombstone list and [[readPairState]]
    * subtracts them (broadcast anti-join) before any consumer mines,
    * labels or audits — so retiring a doc retires ALL its pairs (a
    * pair needs both members in the state) for O(|ids|) now, never a
    * state rewrite. Spec-proven: mining the tombstoned state ≡ mining
    * a state rebuilt without the retired docs. */
  def deleteFromPairState(spark: org.apache.spark.sql.SparkSession, table: String,
                          ids: DataFrame, idCol: String = "doc_id"): Unit =
    graft.core.IndexTable.delete(spark, table, ids, idCol)

  /** THE read gate for a persisted pair state: the table minus its
    * tombstones. Every consumer ([[pairsFromState]], [[pairsAppend]]'s
    * base, survivor picks, audits) goes through here so a retired doc
    * can never leak back into a mining pass. */
  def readPairState(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame =
    graft.core.IndexTable.read(spark, table, table)

  /** Fold the tombstones into the state table
    * ([[graft.core.IndexTable.compact]]). [[readPairState]] results are
    * unchanged (spec-pinned). No-op without tombstones. */
  def compactPairState(spark: org.apache.spark.sql.SparkSession, table: String): Unit =
    graft.core.IndexTable.compact(spark, table)

  /** Mine verified near-dup pairs from a [[pairState]] table —
    * identical output to [[minHashLshPairs]] over the documents the
    * state fingerprints (the append law's one-shot side), but the scan
    * + shingle pass is already paid: banding, the candidate self-join
    * and exact verification all run over the compact state. */
  def pairsFromState(state: DataFrame, numHashes: Int = 16,
                     rowsPerBand: Int = 4, minPermille: Long = 500): DataFrame = {
    require(rowsPerBand >= 1 && numHashes >= rowsPerBand &&
      numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a positive multiple of rowsPerBand " +
        s"($rowsPerBand) — otherwise bands are empty or hashes are discarded")
    graft.functions.GraftFunctions.register(state.sparkSession)
    minedPairs(state.select("doc_id", "shs").persist(),
      numHashes, rowsPerBand, minPermille)
  }

  /** Incremental pair arrival: the NEW verified pairs a delta batch
    * adds against a standing [[pairState]] — every new pair has ≥ 1
    * delta member (base–base pairs are already in the standing pair
    * table), so the candidate join is bandedDelta ⋈ bandedAll, never
    * the full self-join: candidate mass is bounded by the delta's
    * bucket co-occupancy, the whole point of keeping the state. The
    * append LAW (spec-proven): standing pairs ∪ pairsAppend ≡
    * [[minHashLshPairs]] over base ∪ delta.
    *
    * @return (da, db, jac_permille), da < db, ≥ 1 side in `deltaDocs`. */
  def pairsAppend(baseState: DataFrame, deltaDocs: DataFrame,
                  shingleK: Int = 2, numHashes: Int = 16,
                  rowsPerBand: Int = 4, minPermille: Long = 500): DataFrame = {
    require(rowsPerBand >= 1 && numHashes >= rowsPerBand &&
      numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a positive multiple of rowsPerBand " +
        s"($rowsPerBand) — otherwise bands are empty or hashes are discarded")
    // the two caches are INDEPENDENT subtrees (the delta is shingled
    // into each): routing the merged table THROUGH the delta cache was
    // tried and measured consistently SLOWER on x291 (3.4 → 3.7-3.9 s
    // at sf0.1 — the extra cache indirection under the refresh
    // fixpoint's critical path costs more than one 0.2 s delta
    // shingle); at real scale the double shingle vanishes anyway —
    // production appends mine from the PERSISTED state table
    // (writePairState/appendPairState), never re-shingling in memory
    val deltaState = pairState(deltaDocs, shingleK)
    val full = mergePairStates(baseState, deltaState).select("doc_id", "shs")
      .persist()
    val deltaSh = deltaState.select("doc_id", "shs").persist()
    val all = bandedSignatures(full, numHashes, rowsPerBand)
    val delta = bandedSignatures(deltaSh, numHashes, rowsPerBand)
    val cand = all
      .select(col("doc_id").as("xa"), col("sz").as("za"),
        col("band"), col("bucket"))
      .join(delta.select(col("doc_id").as("xb"), col("sz").as("zb"),
        col("band"), col("bucket")), Seq("band", "bucket"))
      .filter(col("xa") =!= col("xb"))
      .select(least(col("xa"), col("xb")).as("da"),
        greatest(col("xa"), col("xb")).as("db"),
        when(col("xa") < col("xb"), col("za")).otherwise(col("zb")).as("sa"),
        when(col("xa") < col("xb"), col("zb")).otherwise(col("za")).as("sb"))
      .distinct()
    verifyCandidates(cand, full, minPermille)
  }

  /** Cluster-label REFRESH over a grown pair graph: fold the standing
    * label table (each row doc → cluster_id, and every cluster_id is
    * itself a member doc id — a star that preserves the old components
    * exactly) together with the newly-arrived pairs, and re-run the
    * fixpoint over THAT graph: |old docs| + |new pairs| edges, never
    * the full historical pair set. New pairs can merge standing
    * clusters; the min-id labels come out as if the fixpoint had seen
    * every pair ever mined — the append LAW (spec-proven):
    * `clusterLabelsRefresh(connectedComponents(P₁), P₂) ≡
    * connectedComponents(P₁ ∪ P₂)`.
    *
    * @return (doc_id, cluster_id) ordered, for every doc in either
    *         input. */
  def clusterLabelsRefresh(oldLabels: DataFrame, newPairs: DataFrame): DataFrame =
    connectedComponents(
      oldLabels.select(col("doc_id").as("da"), col("cluster_id").as("db"))
        .unionByName(newPairs.select("da", "db")))

  /** EXACT shingle-Jaccard sweep for LOW thresholds — where LSH is the
    * wrong tool ([[minHashLsh]]'s S-curve at low s passes huge
    * candidate mass and still misses pairs) and the scaladoc of the
    * approximate operators sends the user here.
    *
    * Blocking key: the SHINGLE ITSELF (content blocking). J(A,B) ≥
    * t > 0 requires at least one shared shingle, so the inverted-index
    * self-join on shingle hash has candidate RECALL 1.0 — a guarantee,
    * not an S-curve — and `common` falls out of the SAME join as a
    * group count: no per-pair array payloads ever move (a size-band
    * design that shipped both shingle arrays per candidate measured
    * 40× slower at sf0.1 — the payload duplication, not the candidate
    * count, was the cost). Set sizes ride the index rows, so the
    * integer size-ratio prune (1000·min ≥ t‰·max, implied by J ≥ t)
    * drops hopeless join rows BEFORE the aggregation and no sizes
    * table is re-joined afterward.
    *
    * Cost contract: Σ_s n_s(n_s−1)/2 join rows over shingle document
    * frequencies n_s — bounded by co-occurrence, never n². The head of
    * the frequency distribution (stop-pair shingles) is the scale
    * lever: RAISE shingleK to make shingles rarer (k+1-shingles cut
    * n_s roughly by the vocabulary factor), exactly the knob the
    * similarity-join literature turns. Because candidate recall is 1.0
    * and scoring is exact, the RESULT is plan-independent: identical
    * to brute-force all-pairs Jaccard ≥ t — which is exactly how the
    * cross-engine oracle certifies it.
    *
    * @return (da, db, jac_permille), da < db, jac_permille ≥ minPermille. */
  def jaccardSweep(docs: DataFrame, shingleK: Int = 2,
                   minPermille: Long = 200): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    jaccardSweepFromArrays(shingleArrays(docs, shingleK).persist(),
      minPermille)
  }

  /** [[jaccardSweep]] over an ALREADY-CACHED (doc_id, shs) shingle-
    * array table — for the measured-curve operators (bandRecallCurve,
    * minhashErrorCurve) that need BOTH the banding/signature side and
    * the exact ground truth from one shingle pass: calling the
    * docs-based sweep there re-ran the (md5-per-token) shingle scan
    * into a second identical cache. Same plan from the arrays down. */
  private def jaccardSweepFromArrays(sh: DataFrame,
                                     minPermille: Long): DataFrame = {
    require(minPermille >= 1 && minPermille <= 999,
      s"minPermille ($minPermille) must be in [1, 999] — at 1000 (identical " +
        "shingle sets) use exact dedup on the shingle digest instead")
    val rows = sh.select(col("doc_id"),
      size(col("shs")).cast("long").as("sz"), explode(col("shs")).as("sh"))
    pairCommonCounts(rows,
      prune = Some(lit(1000L) * least(col("sa"), col("sb")) >=
        lit(minPermille) * greatest(col("sa"), col("sb"))))
      .select(col("da"), col("db"),
        expr("(common * 1000) div (sa + sb - common)").as("jac_permille"))
      .filter(col("jac_permille") >= minPermille)
      .orderBy("da", "db", "jac_permille")
  }


  /** Asymmetric near-duplicate detection: shingle CONTAINMENT, the
    * signal Jaccard structurally misses. A 100-word quote embedded in
    * a 10 000-word page has Jaccard ≈ 1% (union-normalized) but
    * containment-of-the-smaller ≈ 100% — exactly the partial-copy /
    * quoted-source / expanded-revision pattern a curation pipeline
    * must catch separately from whole-document near-dups.
    *
    * `cont_permille = |A∩B|·1000 div min(|A|,|B|)` (containment of the
    * smaller side in the larger); `jac_permille` rides along so the
    * asymmetry gap is visible per pair. Same inverted-index shape as
    * [[jaccardSweep]], but NO size-ratio prune — wildly different
    * sizes are the point here, so the only admissible prune is the
    * candidate bound itself (pairs sharing ≥1 shingle). That bound is
    * governed by shingle document frequency, and the scale lever is
    * the same as [[jaccardSweep]]'s: RAISE shingleK (k+1-shingles are
    * rarer by roughly the vocabulary factor — k=3 measured ~15× less
    * join mass than k=2 on the test corpus, identical pairs). Beyond
    * that, prefix filtering on a rarest-first shingle order (PPJoin
    * family) or [[minHashLsh]] candidates on the smaller side bound
    * the join at web scale.
    *
    * @return (da, db, cont_permille, jac_permille), cont ≥ minPermille. */
  def containmentPairs(docs: DataFrame, shingleK: Int = 2,
                       minPermille: Long = 700): DataFrame = {
    require(minPermille >= 1 && minPermille <= 1000,
      s"minPermille ($minPermille) must be in [1, 1000]")
    pairCommonCounts(shingleRows(docs, shingleK), prune = None)
      .select(col("da"), col("db"),
        expr("(common * 1000) div least(sa, sb)").as("cont_permille"),
        expr("(common * 1000) div (sa + sb - common)").as("jac_permille"))
      .filter(col("cont_permille") >= minPermille)
      .orderBy("da", "db", "cont_permille", "jac_permille")
  }


  /** [[containmentPairs]] with PREFIX FILTERING (the PPJoin-family
    * candidate bound) — the web-scale plan for the same exact result.
    *
    * The inverted-index join's cost is Σ_h df_h², dominated by
    * boilerplate shingles. Prefix filtering removes them from
    * CANDIDATE GENERATION without losing a single true pair: order
    * every document's shingles rarest-first (global df ascending, id
    * tiebreak), and observe that if |A∩B| ≥ α = ⌈t·min(|A|,|B|)⌉ with
    * |A| ≤ |B|, the first |A| − α + 1 shingles of A must contain a
    * common one (were all common shingles in A's remaining α − 1
    * suffix slots, the overlap couldn't reach α). So joining only the
    * smaller side's PREFIX (≈ (1−t)·|A| rows, and — rarest-first —
    * precisely its lowest-df shingles) against the full index
    * generates a candidate superset, and the exact common counts are
    * then re-derived for candidates only. Join mass falls from
    * Σ df_h² to Σ_h prefixDf_h·df_h, with the high-df head excluded
    * from the left factor by construction.
    *
    * WHEN the bound pays: prefix filtering monetizes df DIVERSITY —
    * on Zipfian corpora (real text) each document's rarest shingles
    * have df ≈ 1 and candidates collapse to near-true-pairs. The
    * synthetic test corpus is the measured counter-example: its k=2
    * shingle vocabulary is just 931 values with median df 285 (no
    * rare tail at all), so the prefix still generates ~6.5M
    * candidates at sf0.1 and the naive Σ df² join is the cheaper
    * plan. [[prefixFilterPlan]] MEASURES this choice: per candidate
    * shingleK it reports the df profile and both join masses with a
    * closed-form recommendation (flat df → raise shingleK,
    * [[jaccardSweep]]'s lever; Zipfian df → prefix filter pays as-is).
    * Correctness is plan-independent either way.
    *
    * Stages (all equi-joins/windows, nothing quadratic): df table
    * (vocabulary-bounded) → per-doc rarest-first rank (window keyed by
    * doc — doc-bounded) → prefix join (sa < sb, or sa = sb with both
    * orientations deduped) → per-candidate exact common count via two
    * keyed joins → same containment/Jaccard formulas as
    * [[containmentPairs]]. Candidate recall is 1.0 and verification is
    * exact, so the OUTPUT is bit-identical to the unfiltered operator
    * — the declared query shares x65's oracle to certify exactly that.
    *
    * @return (da, db, cont_permille, jac_permille), cont ≥ minPermille. */
  def containmentPairsPrefix(docs: DataFrame, shingleK: Int = 2,
                             minPermille: Long = 700): DataFrame = {
    require(minPermille >= 1 && minPermille <= 1000,
      s"minPermille ($minPermille) must be in [1, 1000]")
    val rows = shingleRows(docs, shingleK)
    val df = rows.groupBy("sh").agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df").asc, col("sh").asc)
    // prefix length = sz − ⌈t·sz⌉ + 1 (integer ceil via (t·sz+999) div 1000)
    val prefix = rows.join(df, Seq("sh"))
      .withColumn("rk", row_number().over(wDoc))
      .filter(col("rk") <=
        col("sz") - expr(s"($minPermille * sz + 999) div 1000") + 1)
      .select(col("doc_id"), col("sz"), col("sh"))
    val full = rows
    val cand = prefix.select(col("doc_id").as("pa"), col("sz").as("psz"), col("sh"))
      .join(full.select(col("doc_id").as("fb"), col("sz").as("fsz"), col("sh")), Seq("sh"))
      .filter(col("pa") =!= col("fb"))
      .filter(col("psz") < col("fsz") ||
        (col("psz") === col("fsz") && col("pa") < col("fb")))
      .select(least(col("pa"), col("fb")).as("da"),
        greatest(col("pa"), col("fb")).as("db"))
      .distinct()
    val common = cand
      .join(rows.select(col("doc_id").as("da"), col("sz").as("sa"), col("sh")), Seq("da"))
      .join(rows.select(col("doc_id").as("db"), col("sz").as("sb"), col("sh")), Seq("db", "sh"))
      .groupBy("da", "db", "sa", "sb").agg(count(lit(1)).as("common"))
    common
      .select(col("da"), col("db"),
        expr("(common * 1000) div least(sa, sb)").as("cont_permille"),
        expr("(common * 1000) div (sa + sb - common)").as("jac_permille"))
      .filter(col("cont_permille") >= minPermille)
      .orderBy("da", "db", "cont_permille", "jac_permille")
  }

  /** PAGINATION-ARTIFACT stitch detection: pairs (a, b) where the
    * LAST `overlapTokens` tokens of a equal the FIRST `overlapTokens`
    * tokens of b — the signature of one source document split across
    * crawl pages with a repeated boundary region. Set-level scores
    * can't see this (the overlap is a sliver of either doc) and
    * shared-run mining ([[sharedRunStats]]) reports it without the
    * DIRECTION; stitching needs the (tail → head) orientation to
    * reassemble, which is exactly what this emits.
    *
    * Exact by construction: the join key is the overlap's literal
    * token text (single-space rejoined), not a hash — no collisions,
    * fully oracle-replayable. Docs shorter than the overlap are out;
    * self-pairs are out; both orientations of a mutual overlap emit
    * (a→b and b→a are different stitch hypotheses). Run it per
    * overlap size of interest (8/16/32 tokens — one scan each);
    * smaller overlaps trade recall for false splices on boilerplate
    * boundaries, which callers should drop via the df of the overlap
    * text (surfaced as `n_heads` — a 40-way shared head is a footer,
    * not a split).
    *
    * Shape: two scan-side projections (head key, tail key) and ONE
    * equi-join on the overlap text; `n_heads` (how many docs start
    * with this same overlap — the boilerplate alarm) rides the head
    * aggregation, vocabulary-bounded.
    *
    * @return (doc_a, doc_b, overlap_tokens, n_heads) ordered. */
  def tailHeadStitch(docs: DataFrame, overlapTokens: Int = 8): DataFrame = {
    require(overlapTokens >= 2 && overlapTokens <= 256,
      s"overlapTokens ($overlapTokens) must be in [2, 256]")
    val ts = split(col("text"), " ")
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), ts.as("__ts"))
      .filter(size(col("__ts")) >= overlapTokens)
    val heads = base.select(col("doc_id").as("doc_b"),
      array_join(slice(col("__ts"), 1, overlapTokens), " ").as("__k"))
    val tails = base.select(col("doc_id").as("doc_a"),
      array_join(slice(col("__ts"), -overlapTokens, overlapTokens), " ")
        .as("__k"))
    val headDf = heads.groupBy("__k").agg(count(lit(1)).as("n_heads"))
    tails.join(heads, Seq("__k"))
      .filter(col("doc_a") =!= col("doc_b"))
      .join(headDf, Seq("__k"))
      .select(col("doc_a"), col("doc_b"),
        lit(overlapTokens.toLong).as("overlap_tokens"), col("n_heads"))
      .orderBy("doc_a", "doc_b")
  }

  /** PREFIX-FILTER operating-point PLANNER — the [[lshBandingPlan]]
    * closed-form discipline applied to the PPJoin family: measure the
    * shingle-df profile at each candidate `shingleK` and report the
    * two join masses that decide the [[containmentPairsPrefix]] plan,
    * so the operating point is PICKED from the corpus instead of
    * frozen at a folklore default (round 10's x74 lesson: a testdata
    * regeneration moved the df distribution and the static k=3 point
    * silently became 4.8× steeper at 10× data).
    *
    * Per candidate k: vocabulary size, shingle-row count, max df,
    * `naive_mass` = Σ_h df_h² (the unfiltered inverted-index join
    * mass — [[containmentPairs]]' cost), `prefix_rows` and
    * `prefix_mass` = Σ_{h∈prefixes} df_h (the prefix-filtered
    * candidate mass — [[containmentPairsPrefix]]' cost). The
    * recommendation rule is closed-form integer arithmetic: the
    * SMALLEST k whose prefix_mass is within 25% of the best
    * (4·mass ≤ 5·min — smaller k means fewer vocabulary rows and a
    * cheaper df join for the same candidate bound).
    *
    * Cost: per candidate k one vocabulary-bounded df aggregation and
    * one doc-keyed rank window — the first two stages of the operator
    * itself, no pair join ever forms. At 100 TB run it on a
    * deterministic doc hash-sample: df scales linearly and both
    * masses quadratically in the sample rate, leaving the BETWEEN-k
    * comparison unchanged. Mass sums accumulate in DECIMAL(38,0)
    * (the x177 discipline) and the report casts to BIGINT — an audit
    * row, loud on overflow rather than silently wrapped.
    *
    * @return (shingle_k, vocab, n_rows, max_df, naive_mass,
    *         prefix_rows, prefix_mass, recommended) ordered by
    *         shingle_k. */
  def prefixFilterPlan(docs: DataFrame, shingleKs: Seq[Int] = Seq(2, 3, 4, 5),
                       minPermille: Long = 700): DataFrame = {
    require(shingleKs.nonEmpty && shingleKs.forall(k => k >= 1 && k <= 8),
      s"candidate shingleKs must be within [1, 8], got $shingleKs")
    require(minPermille >= 1 && minPermille <= 1000,
      s"minPermille ($minPermille) must be in [1, 1000]")
    import org.apache.spark.sql.expressions.Window
    val perK = shingleKs.distinct.sorted.map { k =>
      val rows = shingleRows(docs, k)
      val df = rows.groupBy("sh").agg(count(lit(1)).as("df"))
      val wDoc = Window.partitionBy("doc_id").orderBy(col("df").asc, col("sh").asc)
      val pre = rows.join(df, Seq("sh"))
        .withColumn("rk", row_number().over(wDoc))
        .filter(col("rk") <=
          col("sz") - expr(s"($minPermille * sz + 999) div 1000") + 1)
      df.agg(count(lit(1)).as("vocab"), sum("df").as("n_rows"),
          max("df").as("max_df"),
          sum(expr("cast(df as decimal(38,0)) * df")).as("__nm"))
        .crossJoin(pre.agg(count(lit(1)).as("prefix_rows"),
          sum(col("df").cast("decimal(38,0)")).as("__pm")))
        .select(lit(k.toLong).as("shingle_k"), col("vocab"), col("n_rows"),
          col("max_df"), expr("cast(__nm as bigint)").as("naive_mass"),
          col("prefix_rows"), expr("cast(__pm as bigint)").as("prefix_mass"))
    }
    val all = perK.reduce(_ unionByName _)
    // both windows run over the ≤|shingleKs|-row report (the x126
    // bounded-global-window contract), never over data
    val wAll = Window.partitionBy(lit(1))
    all
      .withColumn("__minm", min("prefix_mass").over(wAll))
      .withColumn("__ok",
        when(col("prefix_mass") * 4 <= col("__minm") * 5, col("shingle_k")))
      .withColumn("__bestk", min("__ok").over(wAll))
      .select(col("shingle_k"), col("vocab"), col("n_rows"), col("max_df"),
        col("naive_mass"), col("prefix_rows"), col("prefix_mass"),
        when(col("shingle_k") === col("__bestk"), 1L).otherwise(0L)
          .as("recommended"))
      .orderBy("shingle_k")
  }

  /** WEIGHTED prefix-filter operating-point planner —
    * [[prefixFilterPlan]] for the weighted family: the prefix whose
    * mass it measures is the WEIGHTED rarest-first prefix (cumulative
    * IDF weight, [[weightedPrefixTables]]), the one
    * [[weightedContainmentPairsPrefix]] actually joins, so the
    * report prices the plan that runs rather than a count-based
    * proxy. Zero-weight (ubiquitous) shingles never enter a prefix,
    * so on boilerplate-heavy corpora the weighted prefix mass can sit
    * far below the unweighted planner's estimate at the same k.
    *
    * Same schema and recommendation rule as [[prefixFilterPlan]]:
    * per candidate k — vocabulary, row count, max df, naive join
    * mass Σ df², prefix rows and prefix mass Σ_{h∈prefixes} df_h;
    * recommended = the smallest k within 25% of the minimum prefix
    * mass. Masses accumulate in DECIMAL(38,0), cast to BIGINT — loud
    * on overflow. At 100 TB run on a deterministic doc hash-sample
    * (df scales linearly, masses quadratically; the between-k
    * comparison is rate-invariant).
    *
    * @return (shingle_k, vocab, n_rows, max_df, naive_mass,
    *         prefix_rows, prefix_mass, recommended) ordered by
    *         shingle_k. */
  def weightedPrefixFilterPlan(docs: DataFrame,
      shingleKs: Seq[Int] = Seq(2, 3, 4, 5),
      minPermille: Long = 500): DataFrame = {
    require(shingleKs.nonEmpty && shingleKs.forall(k => k >= 1 && k <= 8),
      s"candidate shingleKs must be within [1, 8], got $shingleKs")
    require(minPermille >= 1 && minPermille <= 1000,
      s"minPermille ($minPermille) must be in [1, 1000]")
    import org.apache.spark.sql.expressions.Window
    val perK = shingleKs.distinct.sorted.map { k =>
      val (wt, _, prefix) = weightedPrefixTables(docs, k, minPermille)
      wt.agg(count(lit(1)).as("vocab"), sum("df").as("n_rows"),
          max("df").as("max_df"),
          sum(expr("cast(df as decimal(38,0)) * df")).as("__nm"))
        .crossJoin(prefix.agg(count(lit(1)).as("prefix_rows"),
          sum(col("df").cast("decimal(38,0)")).as("__pm")))
        .select(lit(k.toLong).as("shingle_k"), col("vocab"), col("n_rows"),
          col("max_df"), expr("cast(__nm as bigint)").as("naive_mass"),
          col("prefix_rows"),
          expr("cast(coalesce(__pm, 0) as bigint)").as("prefix_mass"))
    }
    val all = perK.reduce(_ unionByName _)
    // both windows run over the ≤|shingleKs|-row report (the x126
    // bounded-global-window contract), never over data
    val wAll = Window.partitionBy(lit(1))
    all
      .withColumn("__minm", min("prefix_mass").over(wAll))
      .withColumn("__ok",
        when(col("prefix_mass") * 4 <= col("__minm") * 5, col("shingle_k")))
      .withColumn("__bestk", min("__ok").over(wAll))
      .select(col("shingle_k"), col("vocab"), col("n_rows"), col("max_df"),
        col("naive_mass"), col("prefix_rows"), col("prefix_mass"),
        when(col("shingle_k") === col("__bestk"), 1L).otherwise(0L)
          .as("recommended"))
      .orderBy("shingle_k")
  }

  /** IDF-WEIGHTED containment pairs — [[containmentPairs]] where each
    * shared shingle counts its rarity instead of 1: weight =
    * ⌊ln(N/df)·10⁶ + ½⌋ micronats (0 for corpus-ubiquitous shingles,
    * so boilerplate drops out of the score BY CONSTRUCTION instead of
    * via a df cap). Two documents sharing 30 rare shingles score far
    * above two sharing 30 stopword bigrams with identical unweighted
    * containment — the standard rarity refinement (weighted PPJoin
    * family) for quote/partial-copy mining on boilerplate-heavy crawls.
    *
    * All arithmetic after the ONE ln per distinct shingle is exact
    * integer (micronat weights, long sums, integer permille) — fully
    * oracle-replayable. Zero-signal documents (every shingle at
    * df = N ⇒ total weight 0) are excluded rather than divided by.
    *
    * Scale shape: df/weight tables are vocabulary-bounded; the pair
    * join is the same inverted-index equi-join as the unweighted form
    * and shares its scale levers (raise shingleK; prefix-filter on a
    * rarest-first order — weights make that order CANONICAL here).
    *
    * @return (da, db, common_w, wcont_permille), wcont ≥ minPermille,
    *         ordered by (da, db). */
  def weightedContainmentPairs(docs: DataFrame, shingleK: Int = 3,
                               minPermille: Long = 500): DataFrame = {
    require(minPermille >= 1 && minPermille <= 1000,
      s"minPermille ($minPermille) must be in [1, 1000]")
    val rows = shingleRows(docs, shingleK)
    val ndocs = docs.agg(count(lit(1)).as("n_docs"))
    val wt = rows.groupBy("sh").agg(count(lit(1)).as("df"))
      .crossJoin(ndocs)
      .select(col("sh"),
        floor(log(col("n_docs").cast("double") / col("df").cast("double"))
          * lit(1e6) + lit(0.5)).cast("long").as("wt"))
    // NOT cached: the a/b sides of the self-join differ only in
    // aliases, so Catalyst reuses one Exchange for both — a cache here
    // measures SLOWER (materialization cost without saved work)
    val wr = rows.join(wt, Seq("sh")).select("doc_id", "sh", "wt")
    val tw = wr.groupBy("doc_id").agg(sum("wt").as("tw"))
    val wtot = wr.join(tw, Seq("doc_id"))
    val a = wtot.select(col("doc_id").as("da"), col("tw").as("ta"),
      col("sh"), col("wt"))
    val b = wtot.select(col("doc_id").as("db"), col("tw").as("tb"), col("sh"))
    a.join(b, Seq("sh")).filter(col("da") < col("db"))
      .groupBy("da", "db", "ta", "tb").agg(sum("wt").as("cw"))
      .filter(least(col("ta"), col("tb")) > 0)
      .select(col("da"), col("db"), col("cw").as("common_w"),
        expr("(cw * 1000) div least(ta, tb)").as("wcont_permille"))
      .filter(col("wcont_permille") >= minPermille)
      .orderBy("da", "db")
  }

  /** Shared plumbing of the weighted-prefix family: per-shingle IDF
    * weight table (sh, df, wt — vocabulary-bounded), weighted rows
    * with per-doc totals (doc_id, sh, df, wt, tw — zero-signal docs
    * dropped), and the weighted rarest-first PREFIX of each doc (rows
    * whose EXCLUSIVE cumulative weight in df-ascending order is
    * ≤ tw − ⌈p·tw/1000⌉ — the minimal set any passing pair must
    * intersect, see [[weightedContainmentPairsPrefix]]). */
  private def weightedPrefixTables(docs: DataFrame, shingleK: Int,
      minPermille: Long, cache: Boolean = false): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val rows = shingleRows(docs, shingleK)
    val ndocs = docs.agg(count(lit(1)).as("n_docs"))
    val wt = rows.groupBy("sh").agg(count(lit(1)).as("df"))
      .crossJoin(ndocs)
      .select(col("sh"), col("df"),
        floor(log(col("n_docs").cast("double") / col("df").cast("double"))
          * lit(1e6) + lit(0.5)).cast("long").as("wt"))
    val wr = rows.join(wt, Seq("sh"))
      .select(col("doc_id"), col("sh"), col("df"), col("wt"))
    // per-doc total as an UNORDERED window over the same doc_id hash
    // layout the prefix's running-sum window needs anyway — one
    // Exchange for both, no separate aggregate + re-join shuffle (the
    // naive operator keeps the groupBy+join spelling because it has
    // no window to amortize against)
    val wDoc = Window.partitionBy("doc_id").orderBy(col("df").asc, col("sh").asc)
    // cache=true (the Prefix operator): wtot feeds the candidate
    // join's full-index side AND both verification joins, each keyed
    // differently, so no Exchange reuse saves the recompute — measured
    // 1.8 → 1.5 s at sf0.1. cache=false (the planner): it only
    // aggregates wt/prefix once each; a cache there measured 2× SLOWER
    // (4 ks × materialization cost, nothing saved).
    val wtot0 = wr
      .withColumn("tw", sum("wt").over(Window.partitionBy("doc_id")))
      .filter(col("tw") > 0)
    val wtot = if (cache) wtot0.persist() else wtot0
    val prefix = wtot
      .withColumn("cumx", coalesce(
        sum("wt").over(wDoc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("cumx") <=
        col("tw") - expr(s"($minPermille * tw + 999) div 1000"))
      .select(col("doc_id"), col("tw"), col("sh"), col("df"))
    (wt, wtot, prefix)
  }

  /** [[weightedContainmentPairs]] with WEIGHTED prefix filtering —
    * the [[containmentPairsPrefix]] candidate bound carried to the
    * weighted score, bit-identical output (shares x103's oracle).
    *
    * The bound, weighted: a pair passes only if
    * cw ≥ α = ⌈p·min(ta,tb)/1000⌉ micronats. Take the smaller-total
    * side A (ta ≤ tb, id tiebreak) and order its shingles
    * rarest-first (df ascending — here that order is CANONICAL: it is
    * exactly weight-descending, so the prefix is A's heaviest-signal
    * shingles). If every shared shingle sat in A's suffix, then
    * cw ≤ suffixWeight; so the minimal prefix whose suffix weight
    * drops below α — the rows whose EXCLUSIVE cumulative weight is
    * ≤ ta − α — must contain a shared shingle for any passing pair.
    * Joining only that prefix against the full index generates a
    * candidate superset with recall 1.0; exact verification re-derives
    * the weighted overlap for candidates only. Correctness does not
    * depend on the order (any canonical order yields a valid minimal
    * prefix); rarest-first minimizes the prefix's df mass, which is
    * what the join pays. Zero-weight (corpus-ubiquitous) shingles sort
    * last and never enter a prefix — boilerplate is excluded from
    * candidate generation BY CONSTRUCTION, the weighted sharpening of
    * the unweighted operator's head-exclusion.
    *
    * Zero-signal documents (tw = 0) are dropped before the join —
    * they cannot pass the output filter and their prefix would
    * otherwise degenerate to the whole document.
    *
    * Scale shape: df/weight tables vocabulary-bounded, prefix ranks
    * doc-keyed windows, candidate join mass Σ_h prefixDf_h·df_h with
    * the high-df head absent from the left factor; the verification
    * joins are candidate-bounded equi-joins. Same operating-point
    * levers as the unweighted form ([[prefixFilterPlan]] measures the
    * masses; raise shingleK on flat-df corpora).
    *
    * @return (da, db, common_w, wcont_permille), wcont ≥ minPermille,
    *         ordered by (da, db) — identical to
    *         [[weightedContainmentPairs]] at the same operating point. */
  def weightedContainmentPairsPrefix(docs: DataFrame, shingleK: Int = 3,
                                     minPermille: Long = 500): DataFrame = {
    require(minPermille >= 1 && minPermille <= 1000,
      s"minPermille ($minPermille) must be in [1, 1000]")
    val (_, wtot, prefix) = weightedPrefixTables(docs, shingleK, minPermille,
      cache = true)
    val cand = prefix.select(col("doc_id").as("pa"), col("tw").as("pt"), col("sh"))
      .join(wtot.select(col("doc_id").as("fb"), col("tw").as("ft"), col("sh")),
        Seq("sh"))
      .filter(col("pa") =!= col("fb"))
      .filter(col("pt") < col("ft") ||
        (col("pt") === col("ft") && col("pa") < col("fb")))
      .select(least(col("pa"), col("fb")).as("da"),
        greatest(col("pa"), col("fb")).as("db"))
      .distinct()
    val common = cand
      .join(wtot.select(col("doc_id").as("da"), col("tw").as("ta"),
        col("sh"), col("wt")), Seq("da"))
      .join(wtot.select(col("doc_id").as("db"), col("tw").as("tb"), col("sh")),
        Seq("db", "sh"))
      .groupBy("da", "db", "ta", "tb").agg(sum("wt").as("cw"))
    common
      .select(col("da"), col("db"), col("cw").as("common_w"),
        expr("(cw * 1000) div least(ta, tb)").as("wcont_permille"))
      .filter(col("wcont_permille") >= minPermille)
      .orderBy("da", "db")
  }

  /** Shared-substring RUN detection — the span-level dedup signal of
    * suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"), re-expressed as a
    * positional-gram equi-join + islands detection so it distributes:
    * two documents share a run of ≥ minRunTokens consecutive tokens
    * iff they share a DIAGONAL of consecutive equal k-gram hashes
    * (positions `ia − ib` constant). Set-level scores (Jaccard,
    * containment) can't see this: a 30-token verbatim quote inside two
    * otherwise-unrelated pages moves Jaccard by ~zero.
    *
    * Pipeline: positional gram hashes (native [[graft.functions
    * .GramHashes]], row-local) → df-prune (grams in > maxDf docs are
    * boilerplate n-grams whose positional join would square — the
    * standard frequency cap; the prune can only SPLIT a reported run
    * at a boilerplate gram, never invent one) → hash equi-join bounded
    * by co-occurring rare grams → per-(pair, diagonal) islands via one
    * window (`ia − row_number`) → maximal runs ≥ the bar. Run length
    * in TOKENS = gram-run length + k − 1. Grams are 31-bit hashes, so
    * a reported run is exact up to md5-prefix collisions (~|grams
    * per diagonal|/2³¹ false-extension odds — negligible; re-verify
    * against raw text where bytes-exact cuts are required).
    *
    * @return (da, db, start_a, start_b, run_tokens) per maximal run
    *         (0-based token offsets), run_tokens ≥ minRunTokens. */
  def sharedRuns(docs: DataFrame, gramK: Int = 5, minRunTokens: Int = 15,
                 maxDf: Int = 8): DataFrame = {
    require(gramK >= 1, s"gramK ($gramK) must be >= 1")
    require(minRunTokens >= gramK,
      s"minRunTokens ($minRunTokens) must be >= gramK ($gramK) — shorter " +
        "runs are invisible to k-gram matching")
    require(maxDf >= 2, s"maxDf ($maxDf) must be >= 2 — below that no gram " +
      "can appear in two documents and the result is empty")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val grams = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= gramK)
      .select(col("doc_id"),
        posexplode(call_function("gram_hashes", col("toks"), lit(gramK))))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "h")
      .persist()
    // df-prune: distinct-doc counts per gram are vocabulary-bounded
    val rare = grams.select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("h")
    val g = grams.join(rare, Seq("h"))
    val hits = g.select(col("h"), col("doc_id").as("da"), col("i").as("ia"))
      .join(g.select(col("h"), col("doc_id").as("db"), col("i").as("ib")), Seq("h"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"), col("ia"), col("ib"),
        (col("ia") - col("ib")).as("diag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("da", "db", "diag").orderBy("ia")
    hits
      .withColumn("grp", col("ia") - row_number().over(w))
      .groupBy("da", "db", "diag", "grp")
      .agg(count(lit(1)).as("glen"), min("ia").as("start_a"))
      .select(col("da"), col("db"), col("start_a"),
        (col("start_a") - col("diag")).as("start_b"),
        (col("glen") + lit(gramK - 1)).cast("long").as("run_tokens"))
      .filter(col("run_tokens") >= minRunTokens)
      .orderBy("da", "db", "start_a", "start_b", "run_tokens")
  }

  /** Per-DOCUMENT span-duplication profile — the doc-scoped view of
    * what [[sharedRuns]] reports pairwise: what fraction of each
    * document's fixed-width character windows also occur verbatim in
    * at least one OTHER document. This is the "how much of this page
    * is boilerplate shared with the rest of the corpus" score used to
    * rank documents for span-level cleaning (a 900‰ doc is a mirror
    * or template; a 50‰ doc merely quotes something).
    *
    * Windows of `k` chars are sampled every `stride` chars (stride <
    * k overlaps windows, stride = k tiles the text); a window is
    * *duplicated* when its exact text occurs in ≥ 2 DISTINCT docs —
    * within-doc repetition is [[TextAnalysis]]'s repetition score, a
    * different signal, and deliberately does not count here.
    *
    * Scale shape: one narrow generate-map (`sequence` + `substring`,
    * no UDF), one groupBy on the window text for document frequency,
    * one equi-join back, one groupBy doc. Window rows are
    * len/stride per doc — the 100 TB knob is `stride` (cost scales
    * 1/stride, recall of short duplicated spans degrades with it).
    * The group key here is the window TEXT, keeping the operator
    * fully oracle-replayable; at trillions of spans swap the key for
    * `xxhash64(span)` (collisions only merge unrelated spans, odds
    * ~|spans|²/2⁶⁴) so the shuffle carries 8-byte keys instead of
    * k-char strings — same plan shape.
    *
    * @return (doc_id, n_spans, n_dup_spans, dup_permille) per doc
    *         with length ≥ k, ordered by doc_id. */
  def spanDedupStats(docs: DataFrame, k: Int = 40, stride: Int = 10): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    require(stride >= 1, s"stride ($stride) must be >= 1")
    val spans = docs
      .filter(length(col("text")) >= k)
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(1, length(text) - $k + 1, $stride), " +
            s"p -> substring(text, p, $k))")).as("span"))
    val df = spans.groupBy("span")
      .agg(count_distinct(col("doc_id")).as("df"))
    spans.join(df, Seq("span"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_permille", expr("(n_dup_spans * 1000) div n_spans"))
      .orderBy("doc_id")
  }

  /** MinHash-LSH banding PLANNER — the closed-form S-curve analysis
    * that picks `rowsPerBand` for [[minHashLsh]] instead of folklore
    * defaults: for every factorization numHashes = bands × rows, the
    * candidate-collision probability of a pair at Jaccard s is
    * p(s) = 1 − (1 − sʳ)ᵇ. The planner integrates that curve on a
    * permille grid against the target threshold and reports, per
    * factorization, the average collision probability BELOW the
    * threshold (wasted verification work, `fp_milli`) and the average
    * miss probability AT-OR-ABOVE it (lost recall, `fn_milli`) — the
    * two costs a banding choice trades. Pure generated compute (a few
    * hundred grid rows, no input scan): run it once before a 100 TB
    * dedup pass, pick the row minimizing the cost you care about.
    *
    * sʳ and (1−x)ᵇ go through `power` on integer-valued exponents —
    * both engines' pow is ≤ 1 ulp, and results are milli-rounded, so
    * the report replays cross-engine.
    *
    * @return (bands, rows_per_band, fp_milli, fn_milli, err_milli) per
    *         factorization, ordered by bands. */
  def lshBandingPlan(spark: org.apache.spark.sql.SparkSession,
                     numHashes: Int = 16,
                     thresholdPermille: Int = 500): DataFrame = {
    require(numHashes >= 2, s"numHashes ($numHashes) must be >= 2")
    require(thresholdPermille >= 1 && thresholdPermille <= 999,
      s"thresholdPermille ($thresholdPermille) must be in [1, 999]")
    val factorizations = (1 to numHashes)
      .filter(b => numHashes % b == 0 && b < numHashes && numHashes / b > 1)
    require(factorizations.nonEmpty,
      s"numHashes ($numHashes) has no bands×rows split with rows > 1")
    import spark.implicits._
    val f = factorizations.toDF("bands")
      .withColumn("rows_per_band", (lit(numHashes) / col("bands")).cast("int"))
    // grid midpoints s = 5‰, 15‰, …, 995‰ (100 cells of width 10‰)
    val g = f.select(col("bands"), col("rows_per_band"),
      explode(sequence(lit(0), lit(99))).as("cell"))
      .withColumn("s", (col("cell") * 10 + 5).cast("double") / 1000.0d)
      .withColumn("p",
        lit(1.0d) - pow(lit(1.0d) - pow(col("s"), col("rows_per_band").cast("double")),
          col("bands").cast("double")))
    val t = lit(thresholdPermille.toDouble / 1000.0d)
    g.groupBy("bands", "rows_per_band")
      .agg(
        floor(avg(when(col("s") < t, col("p"))) * 1000 + 0.5d)
          .cast("long").as("fp_milli"),
        floor(avg(when(col("s") >= t, lit(1.0d) - col("p"))) * 1000 + 0.5d)
          .cast("long").as("fn_milli"))
      .withColumn("err_milli", col("fp_milli") + col("fn_milli"))
      .orderBy("bands")
  }

  /** Benchmark-contamination check — the decontamination pass every
    * LLM training pipeline runs against its eval sets: which corpus
    * documents share at least `minShared` k-shingles with which
    * benchmark documents.
    *
    * Same content-blocked exact shape as [[jaccardSweep]], but
    * ASYMMETRIC: the benchmark side is tiny (eval suites are thousands
    * of documents, the corpus is billions), so its exploded shingle
    * rows BROADCAST and the corpus side never shuffles — at 100 TB the
    * check is a broadcast-hash-join map pass riding the corpus scan,
    * plus an aggregation bounded by matching (corpus, bench) pairs.
    * Exact by construction (no S-curve): any pair sharing even one
    * shingle is observable; `minShared` sets the reporting bar.
    *
    * @return (doc_id, bench_id, shared) with shared ≥ minShared. */
  def contamination(corpus: DataFrame, benchmark: DataFrame, shingleK: Int = 3,
                    minShared: Long = 1): DataFrame = {
    require(minShared >= 1, s"minShared ($minShared) must be >= 1")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    def shRows(df: DataFrame, idOut: String) =
      shingleArrays(df, shingleK)
        .select(col("doc_id").as(idOut), explode(col("shs")).as("sh"))
    shRows(corpus, "doc_id")
      .join(broadcast(shRows(benchmark, "bench_id")), Seq("sh"))
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .orderBy("doc_id", "bench_id", "shared")
  }

  /** Eval-set decontamination at NEAR-dup level — [[contamination]]'s
    * exact-overlap complement: corpus documents whose shingle-Jaccard
    * against ANY benchmark document clears `minPermille`, caught even
    * when the copy was lightly edited (the case the exact `minShared`
    * count understates as the edit distance grows). The published
    * train-test leakage sweeps (GPT-3 appendix C, The Pile) run
    * exactly this shape: n-gram MinHash of the benchmark against the
    * crawl.
    *
    * Scale design: the corpus side never self-joins and never
    * shuffles — banded signatures ([[bandedSignatures]], row-local)
    * probe the BROADCAST benchmark band table (a benchmark is MBs
    * against the corpus's TBs), and only band-collision candidates
    * fetch shingle arrays for exact verification, with the benchmark
    * arrays broadcast too. Candidate mass per corpus doc is bounded by
    * the S-curve at the benchmark's size, not the corpus's.
    *
    * Recall contract: identical S-curve to [[minHashLshPairs]],
    * P[collide] = 1−(1−j^r)^b. At the default 4 bands × 4 rows that
    * is ≈ .998 at j = 900‰, ≈ .96 at j = 860‰, but only ≈ .67 at
    * j = 700‰ — moderate thresholds NEED more bands (numHashes 64 at
    * rowsPerBand 4 lifts j = 700‰ to ≈ .999⁺; decontamination sweeps
    * typically run high-band configs precisely because a missed leak
    * is worse than extra verification work). The oracle replays
    * signatures, banding AND verification, so the contract is
    * certified plan-for-plan, not assumed.
    *
    * @return (doc_id, bench_id, jac_permille), one row per caught
    *         (corpus, benchmark) pair, ordered. */
  def crossNearDup(corpus: DataFrame, bench: DataFrame, shingleK: Int = 2,
                   numHashes: Int = 16, rowsPerBand: Int = 4,
                   minPermille: Long = 500): DataFrame = {
    require(rowsPerBand >= 1 && numHashes >= rowsPerBand &&
      numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a positive multiple of rowsPerBand " +
        s"($rowsPerBand) — otherwise bands are empty or hashes are discarded")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val cSh = shingleArrays(corpus, shingleK).persist()
    val bSh = shingleArrays(bench, shingleK).persist()
    val cBand = bandedSignatures(cSh, numHashes, rowsPerBand)
    val bBand = bandedSignatures(bSh, numHashes, rowsPerBand)
      .select(col("doc_id").as("bench_id"), col("sz").as("bsz"),
        col("band"), col("bucket"))
    val cand = cBand.join(broadcast(bBand), Seq("band", "bucket"))
      .select("doc_id", "bench_id", "sz", "bsz").distinct()
    cand
      .join(cSh.select(col("doc_id"), col("shs").as("sha")), Seq("doc_id"))
      .join(broadcast(bSh.select(col("doc_id").as("bench_id"),
        col("shs").as("shb"))), Seq("bench_id"))
      .select(col("doc_id"), col("bench_id"), col("sz"), col("bsz"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("common"))
      .select(col("doc_id"), col("bench_id"),
        expr("(common * 1000) div (sz + bsz - common)").as("jac_permille"))
      .filter(col("jac_permille") >= minPermille)
      .orderBy("doc_id", "bench_id", "jac_permille")
  }

  /** Connected components over an undirected near-dup pair graph
    * (da, db) — the survivor-selection stage of dedup: every document
    * in a duplicate cluster maps to the cluster's MINIMUM doc id
    * (which is the canonical survivor; all other cluster members are
    * the drop set).
    *
    * Iterative min-label propagation: labels start as self; each round
    * every node adopts the minimum label among itself and its
    * neighbors; converged when no label changes. Rounds = O(cluster
    * diameter) — near-dup graphs are overwhelmingly small cliques and
    * short chains, so single-digit rounds in practice. Each round is
    * one edge⋈label join + a min-aggregate — all hash-partitioned by
    * node id, no driver-side data. The per-round `count()` is a scalar
    * convergence check (the standard shape for iterative graph
    * algorithms). Each round's labels are `localCheckpoint`ed: a
    * persist alone keeps the LOGICAL plan nesting (it doubles per
    * round — by round 25 the analyzed plan itself OOMs the driver),
    * while the checkpoint truncates lineage to the materialized
    * blocks. The fixpoint's storage footprint is O(1) rounds: as soon
    * as round k materializes (the convergence `count()` forces it),
    * round k−1's blocks can never be read again and are unpersisted
    * immediately; the edge cache is released on exit; only the FINAL
    * round's blocks survive the call — they back the returned
    * DataFrame and live as long as it does. On a real
    * cluster swap in reliable `checkpoint` if executor loss during the
    * fixpoint must be recoverable. Fails loudly if maxIter rounds do
    * not converge rather than returning partial labels.
    *
    * Each round also POINTER-JUMPS (path halving): after adopting the
    * neighborhood minimum, every node adopts its new label's own label
    * from the previous round — `label ← prev(label)`. Labels only
    * decrease and always name a node inside the same component, so
    * correctness is untouched, but the minimum now travels ~2 hops per
    * round on chain-shaped clusters: rounds drop from O(diameter) to
    * ~O(log diameter) at the cost of one extra equi-join per round.
    *
    * @return (doc_id, cluster_id) for every doc appearing in a pair,
    *         cluster_id = min doc id reachable in the pair graph. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponentsUnsorted(pairs, maxIter).orderBy("doc_id", "cluster_id")

  /** [[connectedComponents]] WITHOUT the presentation sort — for
    * consumers that immediately re-shuffle by their own keys (the
    * survivor windows, the size histogram's cluster_id groupBy),
    * where the global orderBy is a range shuffle plus a
    * partition-sampling job of pure overhead. Same labels. */
  def connectedComponentsUnsorted(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // persisted PRE-PARTITIONED on the join key: [[symmetrizedEdges]]
    // itself ends in repartition(src), so the cached hash layout is
    // recognized by the planner (InMemoryRelation preserves
    // outputPartitioning) and the STATIC, biggest table crosses the
    // network once at materialization instead of once per round —
    // only the |V|-row label table shuffles per iteration (guide §2.4
    // shared-exchange discipline; same shape the pageRank edge cache
    // uses). Evidence: the committed round-join plans in
    // plans/r17/cc_round_join_{helper,noprep}.txt — the round join's
    // edge side is a bare InMemoryTableScan with the keyed layout, and
    // gains an Exchange without it. An r17-opt edit briefly added a SECOND adjacent
    // repartition(src) here; CollapseRepartition folds that to this
    // exact plan (plans/r17/cc_round_join_dup.txt is node-for-node
    // identical), so it was removed as a no-op.
    val edges = symmetrizedEdges(pairs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // lazy: materialized by round 1's first scan — no standalone job
    var current = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(eager = false)
    var currentRdd = checkpointRdd(current)
    // newest checkpointed RDD, updated the moment a round is
    // checkpointed (before the convergence count) — the failure path's
    // handle on blocks that currentRdd does not yet cover
    var newestRdd: org.apache.spark.rdd.RDD[_] = currentRdd
    val ckIds = Seq.newBuilder[Int]
    ckIds += currentRdd.id
    var changed = 1L
    var iter = 0
    try {
      val labelType = current.schema("label").dataType
      while (changed > 0 && iter < maxIter) {
        val labels = current.select("node", "label")
        // neighbor-min and self-min in ONE aggregation: neighbor
        // contributions (dst ← src's label) union the node's own row.
        // The self row alone carries the OLD label (max over the group
        // = the unique self value, nulls ignored), so convergence is a
        // filter-count on the just-materialized round, not another
        // join — and the old two-step (agg then left-join back onto
        // labels) collapses to one shuffle.
        val contrib = edges
          .join(labels.select(col("node").as("src"), col("label")), Seq("src"))
          .select(col("dst").as("node"), col("label"),
            lit(null).cast(labelType).as("old"))
        val self = labels.select(col("node"), col("label"), col("label").as("old"))
        val stepped = contrib.unionByName(self)
          .groupBy("node").agg(min("label").as("label"), max("old").as("old"))
        // pointer jump: label ← prev(label). Every label value is a
        // node id (min over node ids), so the lookup always resolves;
        // left join + coalesce keeps the row if it somehow didn't.
        // SKIPPED in round 1: the initial labels are self (prev(l) = l),
        // so the jump would be an identity join — one shuffle for free.
        val jumped =
          if (iter == 0) stepped.select(col("node"), col("old"), col("label"))
          else stepped
            .join(labels.select(col("node").as("jnode"), col("label").as("jlabel")),
              col("label") === col("jnode"), "left")
            .select(col("node"), col("old"),
              least(col("label"), coalesce(col("jlabel"), col("label"))).as("label"))
        // LAZY checkpoint: the convergence count below is the
        // materializing action, so each round is ONE job (the eager
        // form ran a separate materialization job, then counted)
        val round = jumped.localCheckpoint(eager = false)
        val roundRdd = checkpointRdd(round)
        // recorded before the convergence count: if anything between
        // here and the end-of-round swap throws, the failure path must
        // free THIS round's just-checkpointed blocks too, not only the
        // previous round's
        newestRdd = roundRdd
        ckIds += roundRdd.id
        changed = round.filter(col("label") =!= col("old")).count()
        // round k is materialized — round k−1's blocks are unreachable
        // from here on; free them now instead of leaking one label-table
        // generation per round until the ContextCleaner GCs them
        currentRdd.unpersist(blocking = false)
        current = round
        currentRdd = roundRdd
        iter += 1
      }
      require(changed == 0,
        s"connectedComponents did not converge in $maxIter rounds — raise maxIter " +
          "(diameter of the pair graph exceeds the bound); refusing to return partial labels")
    } catch {
      // failure path: neither the previous round's blocks nor the
      // in-flight round's (if one was checkpointed) back anything
      // visible to the caller — free both
      case t: Throwable =>
        currentRdd.unpersist(blocking = false)
        if ((newestRdd ne null) && (newestRdd ne currentRdd))
          newestRdd.unpersist(blocking = false)
        throw t
    } finally {
      edges.unpersist(blocking = false)
      lastFixpointCheckpointIds = ckIds.result()
    }
    // the final round's blocks back the returned DataFrame: its plan
    // holds currentRdd, so they live as long as the result does
    current.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Signature width in bits. 60 = the largest multiple of 4 hex digits
    * that fits a signed Long, so the per-token hash can be the first 15
    * hex digits of md5 — bit-identical in every engine, which makes the
    * whole simhash pipeline oracle-checkable cross-engine. (xxhash64 is
    * a drop-in for raw speed, at the cost of that verifiability.) */
  val SimHashBits = 60

  /** Mersenne prime 2³¹−1: the modular field for the affine minhash
    * family and band buckets (products stay < 2^62 under ANSI mode). */
  val P31 = 2147483647L

  /** Fixed affine-family constants (golden-ratio / murmur mixes). Any
    * constants work — they only need to MATCH the oracle replay. */
  def affineA(i: Int): Long = (0x9E3779B1L * (i + 1)) % P31
  def affineB(i: Int): Long = (0x85EBCA77L * (i + 1)) % P31

  /** 60-bit SimHash signature per document: for each token hash bit,
    * +1/−1 vote; sign of the vote sum sets the bit (2·S_i > n).
    *
    * Shape: ROW-LOCAL via the native [[graft.functions.SimHash60]]
    * expression — one compiled pass per document, ZERO shuffles.
    * (History: the explode-a-row-per-bit-per-token plan shuffled 60×
    * the tokens; the 61-agg groupBy collapsed that to one shuffle of
    * 61-long partials; the native expression removes the shuffle
    * entirely — the signature is a function of the row.) */
  def simHashSignatures(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"),
      call_function("simhash60", split(col("text"), " ")).as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, found
    * by banding the 60-bit signature into `maxHamming + 1` sub-keys
    * (pigeonhole: ≤ maxHamming differing bits cannot touch every band,
    * so a qualifying pair always shares one exact sub-key — recall 1.0
    * for ANY maxHamming < 60, not just the 4-band special case).
    * Recall 1.0 also means the result set is plan-independent: it
    * equals brute-force all-pairs Hamming filtering, which is exactly
    * how the cross-engine oracle certifies it. */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < SimHashBits,
      s"maxHamming must be in [0, ${SimHashBits - 1}]")
    val numBands = maxHamming + 1
    val bounds = (0 to numBands).map(i => i * SimHashBits / numBands)
    val sig = simHashSignatures(docs)
    val banded = sig.select(col("doc_id"), col("simhash"),
        explode(array((0 until numBands).map { bnd =>
          val lo = bounds(bnd); val width = bounds(bnd + 1) - lo
          val mask = if (width >= 64) -1L else (1L << width) - 1
          struct(lit(bnd).as("band"),
            shiftright(col("simhash"), lo).bitwiseAND(mask).as("key"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.key").as("key"))
    banded.select(col("doc_id").as("da"), col("simhash").as("sa"), col("band"), col("key"))
      .join(banded.select(col("doc_id").as("db"), col("simhash").as("sb"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("da", "db", "hamming")
  }
}

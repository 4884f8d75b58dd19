package graft

import org.apache.spark.sql.functions._
import graft.core.{Layout, Tables}
import graft.operators.{AsOfJoin, Dedup, Similarity, Skew}

/** Executable tour of the library surface — end-to-end smoke of every
  * module through the public API, printing one line per feature.
  * Usage: runMain graft.Tour [sfDir]
  */
object Tour {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session()

    // native functions through the extensions-configured session
    val cos = spark.sql(
      "SELECT cosine_f32(array(1.0f,2.0f), array(1.0f,2.0f)) AS c").head().getDouble(0)
    println(f"[tour] cosine_f32 via SparkSessionExtensions = $cos%.3f")

    // bucketed layout → shuffle-free join
    Layout.dropManagedTable(spark, "tour_orders_b")
    Layout.dropManagedTable(spark, "tour_lineitem_b")
    Layout.writeBucketed(Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"),
      "tour_orders_b", 4, Seq("o_orderkey"))
    Layout.writeBucketed(Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity"),
      "tour_lineitem_b", 4, Seq("l_orderkey"))
    val bucketed = spark.table("tour_orders_b")
      .join(spark.table("tour_lineitem_b"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey").agg(sum("l_quantity").as("q"))
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(bucketed.queryExecution.executedPlan.toString).size
    println(s"[tour] bucketed join rows=${bucketed.count()} hash-exchanges=$exchanges (want 0)")

    // dedup family
    val docs = Tables.documents(spark, sf)
    println(s"[tour] exact-dedup groups=${Dedup.exact(docs).count()}")
    println(s"[tour] minhash-lsh pairs=${Dedup.minHashLsh(docs, minPermille = 300).count()}")
    println(s"[tour] simhash pairs(h<=3)=${Dedup.simHashPairs(docs).count()}")

    // similarity
    val emb = Tables.embeddings(spark, sf)
    val knn = Similarity.cosineTopKNative(emb.filter(col("vec_id") < 3), emb, k = 3)
    println(s"[tour] native cosine top-3 rows=${knn.count()}")

    // dup-cluster formation over the pair graph
    val clusters = Dedup.connectedComponents(Dedup.minHashLshPairs(docs, minPermille = 300))
    println(s"[tour] dup clusters labeled docs=${clusters.count()}")

    // deterministic stratified sampling
    val sampled = graft.operators.Sampling.stratifiedHashSample(
      docs, "lang", "doc_id", Map("en" -> 300L), defaultPermille = 100L)
    println(s"[tour] stratified sample kept=${sampled.count()} of ${docs.count()}")

    // as-of joins, all three directions
    println(s"[tour] as-of join rows=${graft.queries.Relational.asofJoin(spark, sf).count()}")
    println(s"[tour] as-of forward rows=${graft.queries.Relational.asofForward(spark, sf).count()}")
    println(s"[tour] as-of nearest rows=${graft.queries.Relational.asofNearest(spark, sf).count()}")

    // skew-safe aggregation
    val salted = Skew.saltedAgg(
      Tables.lineitem(spark, sf).select(col("l_returnflag"), col("l_quantity")),
      Seq("l_returnflag"), Map("l_quantity" -> "count"))
    println(s"[tour] salted agg groups=${salted.count()}")

    // span-level + asymmetric dedup signals
    println(s"[tour] shared runs=${Dedup.sharedRuns(docs).count()}")
    println(s"[tour] containment pairs=${Dedup.containmentPairs(docs, shingleK = 3).count()}")

    // SemDeDup over the embeddings table
    val sem = graft.operators.Clustering.semanticDedup(
      Tables.embeddings(spark, sf), "vec_id", "embedding", k = 8, iterations = 2)
    println(s"[tour] semantic dedup survivors=${sem.filter(col("keep_id") === col("vec_id")).count()}")
    Harness.release(spark, blocking = false)

    // O(delta) aggregate refresh: split state merge == full aggregation
    val orders = Tables.orders(spark, sf)
    val cut = lit("1999-01-01").cast("date")
    def st(f: org.apache.spark.sql.DataFrame) = graft.operators.Incremental.aggState(
      f, Seq("o_custkey"), graft.queries.Relational.cents(col("o_totalprice")))
    val merged = graft.operators.Incremental.merge(Seq(
      st(orders.filter(col("o_orderdate") < cut)), st(orders.filter(col("o_orderdate") >= cut))))
    println(s"[tour] incremental agg keys=${merged.count()}")

    // trending event types under half-life decay
    println(s"[tour] decayed counts types=${graft.operators.Sessions.decayedCounts(Tables.events(spark, sf)).count()}")

    // drift gate between the corpus and a length-shifted copy
    val lens = docs.select(length(col("text")).as("len"))
    val drift = graft.operators.Profiling.psiDrift(lens,
      lens.select((col("len") + 40L).as("len")), "len", 0L, 600L, 12)
    println(s"[tour] psi drift bins=${drift.count()}")

    // cross-corpus near-dup decontamination (bench = a tiny self-slice)
    println(s"[tour] cross near-dups=${Dedup.crossNearDup(docs, docs.filter(col("doc_id") < 5), minPermille = 900).count()}")
    Harness.release(spark, blocking = false)

    // normalized fuzzy-exact dedup
    println(s"[tour] normalized-dedup groups=${Dedup.exactNormalized(docs).count()}")

    // temperature mixing + DSIR weights + hard negatives
    val mix = graft.operators.Sampling.temperatureMix(docs, "lang", "doc_id", 0.5, 200L)
    println(s"[tour] temperature mix kept=${mix.count()}")
    val mixRep = graft.operators.Sampling.mixtureReport(docs, "lang", 0.5, 500000L)
    println(s"[tour] mixture report groups=${mixRep.count()}")
    val dsir = graft.operators.TextAnalysis.dsirWeights(docs, docs.filter(col("n_chars") >= 300))
    println(s"[tour] dsir-weighted docs=${dsir.count()}")
    val hn = Similarity.hardNegatives(emb.filter(col("vec_id") < 3), emb, k = 3)
    println(s"[tour] hard negatives rows=${hn.count()}")

    // round 7: span-duplication profile + banding planner + statistics
    println(s"[tour] span-dedup docs=${Dedup.spanDedupStats(docs).count()}")
    println(s"[tour] banding plans=${Dedup.lshBandingPlan(spark, 16, 300).count()}")
    val cents = Tables.lineitem(spark, sf).select(
      graft.queries.Relational.cents(col("l_quantity")).as("qty_c"),
      graft.queries.Relational.cents(col("l_extendedprice")).as("price_c"))
    println(s"[tour] corr pairs=${graft.operators.Profiling.corrMatrix(cents, Seq("qty_c", "price_c")).count()}")
    println(s"[tour] pmi cells=${graft.operators.Profiling.pmiCells(docs, "lang", "source").count()}")
    println(s"[tour] equidepth buckets=${graft.operators.Profiling.equidepthHistogramApprox(cents, "price_c", 10).count()}")
    println(s"[tour] covariance cells=${Similarity.covarianceMatrixAgg(emb, dim = 64).count()}")

    // dup-graph analytics + weighted ops + leakage-safe splits
    val pr7 = Dedup.minHashLshPairs(docs, shingleK = 2, minPermille = 300)
    println(s"[tour] triangle nodes=${graft.operators.Graph.triangleCounts(pr7).count()}")
    println(s"[tour] graph summary=${graft.operators.Graph.graphSummary(pr7).count()}")
    Harness.release(spark, blocking = false)
    println(s"[tour] weighted sample=${graft.operators.Sampling.weightedSample(docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars", 20).count()}")
    println(s"[tour] weighted containment pairs=${Dedup.weightedContainmentPairs(docs).count()}")
    Harness.release(spark, blocking = false)
    println(s"[tour] feature-hash vectors=${graft.operators.TextAnalysis.featureHash(docs).count()}")
    println(s"[tour] sketch calibration pairs=${Dedup.jaccardEstimateReport(docs, minPermille = 300).count()}")
    Harness.release(spark, blocking = false)
    val csplit = graft.operators.Sampling.clusterSplitAssign(docs,
      Dedup.minHashLshPairs(docs, shingleK = 2, minPermille = 300),
      "doc_id", Seq("train" -> 800L, "val" -> 100L, "test" -> 100L))
    println(s"[tour] cluster-split rows=${csplit.count()}")
    Harness.release(spark, blocking = false)

    // behavioral analytics over the event log
    val ev = Tables.events(spark, sf)
    println(s"[tour] funnel steps=${graft.operators.Behavior.funnel(ev, Seq("view", "click", "purchase")).count()}")
    println(s"[tour] retention cells=${graft.operators.Behavior.retentionCohorts(ev).count()}")
    println(s"[tour] transition cells=${graft.operators.Behavior.transitionMatrix(ev).count()}")
    println(s"[tour] gap-filled days=${graft.operators.Behavior.gapFillInterpolate(ev).count()}")

    // bloom-pruned incremental dedup (lossless vs the exact anti-join)
    val fps7 = graft.operators.TextAnalysis.fingerprintMd5(docs).select("fp")
    println(s"[tour] bloom new-docs=${Dedup.newAgainstBaseBloom(docs.limit(50), fps7).count()} (want 0)")

    // sorted-neighbourhood record linkage
    val cust7 = Tables.customer(spark, sf)
    val probe7 = cust7.filter(pmod(col("c_custkey"), lit(7L)) === 3L)
      .withColumn("c_name", concat(substring(col("c_name"), 1, 17), lit("X")))
    println(s"[tour] linkage pairs=${graft.operators.Linkage.sortedNeighborhood(cust7, probe7, "c_custkey", "c_name").count()}")

    // round 8: co-occurrence, corpus-health fit, ops gates, path mining
    println(s"[tour] skipgram pairs=${graft.operators.TextAnalysis.skipgramCounts(docs, window = 3, minCount = 5L).count()}")
    println(s"[tour] zipf fit rows=${graft.operators.TextAnalysis.zipfFit(docs, topV = 100).count()}")
    println(s"[tour] daily-anomaly cells=${graft.operators.Behavior.dailyVolumeAnomaly(ev).count()}")
    println(s"[tour] top event paths=${graft.operators.Behavior.pathsTopK(ev, k = 10).count()}")
    println(s"[tour] debounce suppressed=${graft.operators.Behavior.debounce(ev, gapNs = 86400L * 1000 * 1000 * 1000).filter(col("suppressed") === 1).count()}")
    println(s"[tour] fk-audit edges=${graft.operators.Profiling.fkAudit(Seq(("orders->customer", Tables.orders(spark, sf), "o_custkey", Tables.customer(spark, sf), "c_custkey"))).count()}")
    println(s"[tour] windowed funnel steps=${graft.operators.Behavior.funnel(ev, Seq("view", "click", "purchase"), within = Some(86400L * 1000 * 1000 * 1000)).count()}")
    println(s"[tour] attributed conversions=${graft.operators.Behavior.lastTouchAttribution(ev, Seq("view", "click"), "purchase", 7L * 86400 * 1000 * 1000 * 1000).count()}")
    println(s"[tour] rolling-active days=${graft.operators.Behavior.rollingActives(ev).count()}")
    Layout.dropManagedTable(spark, "tour_lex_post")
    Layout.dropManagedTable(spark, "tour_lex_len")
    graft.operators.Retrieval.buildLexIndex(docs, "tour_lex_post", "tour_lex_len")
    println(s"[tour] prebuilt bm25 rows=${graft.operators.Retrieval.bm25TopKPrebuilt(spark, "tour_lex_post", "tour_lex_len", Seq("spark", "hash"), k = 10).count()}")
    println(s"[tour] weighted medians=${graft.operators.Profiling.weightedMedian(docs, "lang", "n_chars", "n_chars").count()}")
    println(s"[tour] association rules=${graft.operators.Behavior.associationRules(ev, minSupportPermille = 50L).count()}")
    println(s"[tour] collocations=${graft.operators.TextAnalysis.collocations(docs, window = 2, minCount = 10L, topK = 20).count()}")
    println(s"[tour] id gaps=${graft.operators.Profiling.idGapsBucketed(ev.filter(pmod(col("event_id"), lit(1000L)) =!= 7L), "event_id").count()}")
    println(s"[tour] funnel step medians=${graft.operators.Behavior.funnelStepTimes(ev, Seq("view", "click", "purchase")).count()}")
    println(s"[tour] keywords=${graft.operators.TextAnalysis.keywordsTopK(docs, k = 3).count()}")
    println(s"[tour] inter-arrival types=${graft.operators.Behavior.interArrivalStats(ev).count()}")
    println(s"[tour] session sizes=${graft.operators.Sessions.sessionLengthHistogram(ev.withColumn("ts_us", expr("unix_micros(ts)")), gap = 43_200_000_000L, tsCol = "ts_us").count()}")
    println(s"[tour] length moments=${graft.operators.Profiling.momentsBy(docs, "lang", "n_chars").count()}")
    println(s"[tour] weekly churn rows=${graft.operators.Behavior.weeklyChurn(ev).count()}")

    // round 9: streaks/seasonality/cohorts/change-point, coverage,
    // data-quality audits, CDC, graph density, winnowing
    println(s"[tour] streak users=${graft.operators.Behavior.dailyStreaks(ev).count()}")
    println(s"[tour] dow profile rows=${graft.operators.Behavior.dowProfile(ev).count()}")
    println(s"[tour] cohort cells=${graft.operators.Behavior.cohortMatrix(ev).count()}")
    println(s"[tour] cusum days=${graft.operators.Behavior.cusumChangePoint(ev).count()}")
    println(s"[tour] interval coverage users=${graft.operators.Sessions.intervalCoverage(ev, widthUs = 1_800_000_000L).count()}")
    println(s"[tour] fd audit rules=${graft.operators.Profiling.functionalDependencies(Tables.lineitem(spark, sf), Seq("l_orderkey" -> "l_suppkey")).count()}")
    println(s"[tour] benford digits=${graft.operators.Profiling.benfordDigits(Tables.orders(spark, sf), graft.queries.Relational.cents(col("o_totalprice"))).count()}")
    println(s"[tour] k-anon classes=${graft.operators.Profiling.kAnonymity(cust7, Seq("c_nationkey", "c_mktsegment"), k = 5L).count()}")
    println(s"[tour] key skew gini=${graft.operators.Profiling.keySkewGini(Tables.lineitem(spark, sf), "l_partkey").count()}")
    val cdcLog = ev.select(col("user_id"),
      expr("unix_micros(ts)").as("ts_us"), col("event_id"),
      when(pmod(col("event_id"), lit(10L)) === 0L, lit("D"))
        .otherwise(lit("U")).as("op"), col("event_type"))
    println(s"[tour] cdc live keys=${graft.operators.Snapshot.cdcApply(cdcLog, "user_id", "ts_us", "event_id", "op", Seq("event_type")).count()}")
    println(s"[tour] graph local clustering nodes=${graft.operators.Graph.localClustering(pr7).count()}")
    Harness.release(spark, blocking = false)
    println(s"[tour] winnowing docs=${graft.operators.TextAnalysis.winnowingFingerprints(docs).count()}")
    println(s"[tour] basket pairs=${graft.operators.Behavior.basketPairs(Tables.lineitem(spark, sf), "l_orderkey", "l_partkey", minCount = 2L).count()}")
    println(s"[tour] rfm segments=${graft.operators.Behavior.rfmSegments(Tables.orders(spark, sf), "o_custkey", "o_orderdate", graft.queries.Relational.cents(col("o_totalprice"))).count()}")
    val rState = graft.operators.Incremental.aggState(
      Tables.orders(spark, sf), Seq("o_custkey"),
      graft.queries.Relational.cents(col("o_totalprice")))
    val rLog = Tables.orders(spark, sf).limit(100)
      .withColumn("op", lit("D"))
    println(s"[tour] retractable agg keys=${graft.operators.Incremental.applyChangelog(rState, rLog, Seq("o_custkey"), graft.queries.Relational.cents(col("o_totalprice"))).count()}")
    println(s"[tour] phrase hits=${graft.operators.Retrieval.phraseTopK(docs, Seq("join", "column"), k = 10).count()}")
    println(s"[tour] iqr fences groups=${graft.operators.Profiling.iqrOutliers(docs, "lang", "n_chars").count()}")

    // round 9 (cont.): communities + graph density, embedding eval,
    // independence screens, full-recall linkage, corpus growth, CV
    // folds, drift movers, SPC triple, panes, robust trend, media
    // budget, LM retrieval, tail index
    println(s"[tour] lpa communities=${graft.operators.Graph.labelPropagation(pr7).count()}")
    println(s"[tour] 2-core nodes=${graft.operators.Graph.kCore(pr7).count()}")
    Harness.release(spark, blocking = false)
    println(s"[tour] centroid eval cells=${graft.operators.Clustering.nearestCentroidEval(Tables.embeddings(spark, sf), "vec_id", "embedding", "label").count()}")
    println(s"[tour] chi-square rows=${graft.operators.Profiling.chiSquare(ev, col("event_type"), (weekday(col("ts").cast("date")) + 1).cast("long")).count()}")
    println(s"[tour] deletion-join pairs=${graft.operators.Linkage.deletionJoin(cust7, probe7, "c_custkey", "c_name").count()}")
    println(s"[tour] heaps checkpoints=${graft.operators.TextAnalysis.heapsGrowth(docs).count()}")
    println(s"[tour] kfold folds=${graft.operators.Sampling.kfoldAssign(docs, "doc_id", 5).select("fold").distinct().count()}")
    println(s"[tour] drift movers=${graft.operators.TextAnalysis.vocabDrift(docs.filter(pmod(col("doc_id"), lit(2L)) === 0L), docs.filter(pmod(col("doc_id"), lit(2L)) === 1L), topK = 10).count()}")
    println(s"[tour] ewma flagged days=${graft.operators.Behavior.ewmaChart(ev).filter(col("spike") || col("dip")).count()}")
    println(s"[tour] pane windows=${graft.operators.Incremental.paneSlidingCounts(ev, 3600L * 1000000L, 6).count()}")
    println(s"[tour] theil-sen slopes=${graft.operators.Behavior.theilSenTrend(ev).count()}")
    println(s"[tour] media budget rows=${graft.operators.Multimodal.storageReport(graft.operators.Multimodal.fromDocuments(docs)).count()}")
    println(s"[tour] ql retrieval hits=${graft.operators.Retrieval.qlTopK(docs, Seq("vector", "stream", "join"), k = 10).count()}")
    println(s"[tour] hill tail rows=${graft.operators.Profiling.hillTailIndex(docs, "n_chars", "doc_id", 100).count()}")
    println(s"[tour] dup audit surplus=${graft.operators.Profiling.duplicateRows(Tables.lineitem(spark, sf), Seq("l_orderkey", "l_linenumber")).select("n_surplus_rows").head().getLong(0)}")
    val evUs = ev.withColumn("ts_us", expr("unix_micros(ts)"))
    println(s"[tour] session funnel steps=${graft.operators.Behavior.sessionFunnel(evUs, Seq("view", "click", "purchase"), gap = 43_200_000_000L, tsCol = "ts_us").count()}")
    println(s"[tour] stickiness days=${graft.operators.Behavior.stickiness(ev).count()}")
    println(s"[tour] more-like-this hits=${graft.operators.Retrieval.moreLikeThis(docs, docId = 0L).count()}")
    println(s"[tour] grouping sets rows=${graft.queries.Relational.groupingSetsReport(spark, sf).count()}")
    println(s"[tour] ks reject=${graft.operators.Profiling.ksTest(docs, "lang", "n_chars", "en", "fr").select("reject").head().getBoolean(0)}")
    println(s"[tour] handoff cells=${graft.operators.Sessions.sessionHandoffMatrix(evUs, gap = 43_200_000_000L, tsCol = "ts_us").count()}")
    println(s"[tour] quantile ladder rows=${graft.operators.Profiling.exactQuantiles(docs, "lang", "n_chars", Seq(250L, 500L, 750L)).count()}")
    println(s"[tour] new-vs-returning days=${graft.operators.Behavior.newVsReturning(ev).count()}")
    println(s"[tour] unpivot rows=${graft.queries.Relational.unpivotMeasures(Tables.lineitem(spark, sf), Seq("l_orderkey"), Seq("qty_c" -> graft.queries.Relational.cents(col("l_quantity")))).count()}")
    println(s"[tour] pane distinct windows=${graft.operators.Incremental.paneSlidingDistinct(ev, 3600L * 1000000L, 6).count()}")

    // round 10: trend/survival/CF, sharding, layout maintenance,
    // drift integrals, leakage + skew pre-flights, JSON profiling
    println(s"[tour] ols trends=${graft.operators.Behavior.olsTrend(ev).count()}")
    println(s"[tour] hazard days=${graft.operators.Behavior.hazardCurve(ev).count()}")
    println(s"[tour] item cosine pairs=${graft.operators.Behavior.itemCosine(Tables.lineitem(spark, sf), "l_orderkey", "l_partkey", minCount = 2, k = 20).count()}")
    println(s"[tour] seasonal anomalies=${graft.operators.Behavior.seasonalVolumeAnomaly(ev).filter(col("is_anomaly") === 1).count()}")
    println(s"[tour] shard schemes=${graft.operators.Sharding.rebalanceReport(docs, "doc_id", 4, 5).count()}")
    println(s"[tour] zone map zones=${graft.operators.Profiling.zoneMapReport(Tables.lineitem(spark, sf).withColumn("ship_day", datediff(to_date(col("l_shipdate")), to_date(lit("1995-01-01"))).cast("long")), "l_orderkey", "ship_day", 1000L, 0L, 365L).count()}")
    println(s"[tour] pareto head sources=${graft.operators.Profiling.paretoReport(docs, "source", col("n_chars")).filter(col("in_head") === 1).count()}")
    println(s"[tour] join skew keys=${graft.operators.Profiling.joinSkewPreflight(ev, ev, "user_id", "user_id", k = 5).count()}")
    println(s"[tour] freshness groups=${graft.operators.Profiling.freshnessReport(ev, "event_type", "ts", staleSecs = 3600L).count()}")
    val leakPairs = Dedup.minHashLshPairs(docs, shingleK = 2, minPermille = 300)
    println(s"[tour] split leakage cells=${graft.operators.Sampling.splitLeakageAudit(leakPairs, Seq("train" -> 900L, "val" -> 50L, "test" -> 50L)).count()}")
    Harness.release(spark, blocking = false)
    println(s"[tour] skyline points=${graft.operators.Skyline.frontier2d(Tables.orders(spark, sf).select(graft.queries.Relational.cents(col("o_totalprice")).as("x"), datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01"))).cast("long").as("y")), "x", "y", 100000L).count()}")
    println(s"[tour] emd micro=${graft.operators.Profiling.emd1d(docs, "lang", "n_chars", "en", "fr").select("emd_micro").head().getLong(0)}")
    println(s"[tour] profile diff cols=${graft.operators.Profiling.profileDiff(docs, docs.limit(50), Seq("doc_id", "lang")).count()}")
    println(s"[tour] compaction groups=${graft.core.Layout.compactionPlan(docs, "doc_id", octet_length(col("text")), 50L, 40000L).select("grp").distinct().count()}")
    println(s"[tour] percentile rank rows=${graft.operators.Profiling.percentileRank(docs, "lang", "n_chars").count()}")
    println(s"[tour] json keys=${graft.operators.Profiling.jsonKeyProfile(ev.select(col("props").as("j")), "j").count()}")

    // round 14: persisted pair-mining state + golden-record consolidation
    val halfA = docs.filter(col("doc_id") % 2 === 0)
    val halfB = docs.filter(col("doc_id") % 2 === 1)
    val pstate = Dedup.pairState(halfA, shingleK = 2)
    val standing = Dedup.pairsFromState(pstate, minPermille = 300)
    println(s"[tour] pair-state standing pairs=${standing.count()}")
    println(s"[tour] pair-state arrivals=${Dedup.pairsAppend(pstate, halfB, shingleK = 2, minPermille = 300).count()}")
    Harness.release(spark, blocking = false)
    val grPairs = graft.operators.Linkage.deletionJoin(
      Tables.customer(spark, sf), Tables.customer(spark, sf)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(substring(col("c_name"), 1, 17), lit("X")).as("c_name")),
      "c_custkey", "c_name")
      .select(col("base_id").as("da"), col("probe_id").as("db"))
    println(s"[tour] golden records=${graft.operators.Linkage.goldenRecord(Tables.customer(spark, sf), "c_custkey", grPairs, Seq("c_name", "c_mktsegment")).count()}")
    Harness.release(spark, blocking = false)

    // round 14 continuation: decorrelation tier, pipeline ops, layout
    println(s"[tour] Q21 sole-late suppliers=${graft.queries.Relational.soleLateSuppliers(spark, sf).count()}")
    println(s"[tour] boilerplate scrub docs=${graft.operators.TextAnalysis.boilerplateScrub(docs).count()}")
    println(s"[tour] bpe merge census rows=${graft.operators.TextAnalysis.bpeMergeStep(docs).count()}")
    println(s"[tour] domain cap sources=${graft.operators.Sampling.domainCap(docs, cap = 10).count()}")
    val qs = graft.operators.Incremental.quantileEstimate(
      graft.operators.Incremental.quantileState(
        Tables.orders(spark, sf), graft.queries.Relational.cents(col("o_totalprice")), 100000L),
      100000L, Seq(500)).head()
    println(s"[tour] quantile-state p500 lo_cents=${qs.getLong(2)}")
    println(s"[tour] rolling median rows=${graft.operators.Sessions.rollingMedian(ev).count()}")
    val curves = graft.core.Layout.curveClusteringReport(Tables.lineitem(spark, sf),
      pmod(col("l_partkey"), lit(256L)), pmod(col("l_orderkey"), lit(256L)), bits = 8)
      .collect().map(r => s"${r.getString(0)}=${r.getLong(3)}").mkString(" ")
    println(s"[tour] curve clustering mean_runs_micro: $curves")

    println("[tour] ok")
    spark.stop()
  }
}

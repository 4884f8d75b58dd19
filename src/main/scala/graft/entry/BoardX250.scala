package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Board segment: capability rows x244+ — query registrations and
  * their DuckDB oracle texts, concatenated into the driver contract
  * by [[graft.SparkEntry]] (EntrySpec pins the 1:1 id/alias/oracle-key
  * invariants across segments). */
private[graft] object BoardX250 {

  /** x247's probe corpus: the raw corpus has ZERO cross-source exact
    * dups at sf0.001/sf0.01 (probed), and an empty matrix certifies
    * nothing — so every 13th document is mirrored into a derived
    * `mirror_<source>` feed at doc_id + 10⁹ (collision-free,
    * deterministic, DuckDB replays the construction verbatim — the
    * x208/x234/x242 derived-fixture discipline). The mirror doc joins
    * its text's WHOLE dup group, so where the raw corpus already has
    * same-text docs the originator is the group's true min-id doc,
    * not necessarily the mirrored one — exercised, not assumed. */
  private def withMirrorFeed(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.unionByName(
      docs.filter(col("doc_id") % 13 === 0 && col("text").isNotNull
          && col("source").isNotNull)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          col("text"), col("lang"),
          concat(lit("mirror_"), col("source")).as("source"),
          col("n_chars")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-doc cross-entropy under the corpus unigram LM — the no-target
    // "how unlike the corpus is this doc" outlier read (x240's micronat
    // discipline at document granularity)
    "x244_doc_typicality" -> ((s, d) =>
      TextAnalysis.docTypicality(Tables.documents(s, d))),
    // top-gram share + repeated-gram mass per doc — the two dominance
    // signals x39's distinct ratio cannot separate (one stuck phrase
    // vs diffuse re-phrasing)
    "x245_gram_dominance" -> ((s, d) =>
      TextAnalysis.gramDominanceReport(Tables.documents(s, d), k = 2)),
    // arrival-batch centroid drift: each 128-vector ingest batch
    // cosined against the global centroid (absolute drift) and its
    // predecessor (step drift localizing WHEN a change shipped)
    "x246_embedding_drift" -> ((s, d) =>
      Similarity.embeddingDrift(Tables.embeddings(s, d), batchSize = 128)),
    // directed who-copies-whom matrix over exact-dup groups, probed on
    // a derived mirror feed (raw corpus has zero cross-source exact
    // dups at the oracle scales — the derived-fixture discipline)
    "x247_syndication" -> ((s, d) =>
      Dedup.syndicationMatrix(withMirrorFeed(s, d))),
    // pairwise label-centroid cosine — which class PAIRS the k-NN
    // audits will confuse (x233 reads each class against the global
    // mean; this reads them against each other)
    "x248_label_confusion" -> ((s, d) =>
      Similarity.labelConfusionGeometry(Tables.embeddings(s, d))),
    // per-source embedding coverage + mean micro-norm — which feed
    // silently drops out of semantic dedup/ANN (docs outnumber
    // vectors 5:2 at sf0.1, so coverage is genuinely partial)
    "x249_embedding_coverage" -> ((s, d) =>
      Similarity.embeddingCoverage(Tables.documents(s, d),
        Tables.embeddings(s, d))),
    // per-shard pack fill/pad/straddle over the x40 layout — what the
    // sequence packing costs in training compute
    "x250_pack_efficiency" -> ((s, d) =>
      TextAnalysis.packEfficiencyReport(Tables.documents(s, d),
        budgetTokens = 2048L, numShards = 8)),
    // spend-quintile migration across the 1998-01-01 boundary —
    // acquisition (row 0), churn (col 0), retention (diagonal) in one
    // bounded matrix; the x149 threshold discipline applied twice
    "x251_tier_migration" -> ((s, d) =>
      graft.operators.Behavior.spendTierMigration(Tables.orders(s, d),
        "o_custkey", "o_orderdate",
        graft.queries.Relational.cents(col("o_totalprice")),
        boundaryDate = "1998-01-01")),
    // per-source vocabulary Herfindahl concentration — template-
    // hammering feeds read far above peers, diverse tails → 1/vocab
    "x252_vocab_hhi" -> ((s, d) =>
      TextAnalysis.vocabHhiReport(Tables.documents(s, d))),
    // leave-one-source-out shift of mean document length — the
    // jackknife "which feed dominates the metric" governance read
    "x253_source_sensitivity" -> ((s, d) =>
      graft.operators.Profiling.sourceSensitivity(
        Tables.documents(s, d), "source", "n_chars")),
    // incremental pack append over the id-halved corpus: the arriving
    // half placed against the standing half's shard state — certified
    // by the append law (placements ≡ the one-shot x40 layout)
    "x254_pack_append" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val mx = docs.agg(max("doc_id").as("__m"))
      val base = docs.crossJoin(broadcast(mx))
        .filter(col("doc_id") * 2 <= col("__m")).drop("__m")
      val delta = docs.crossJoin(broadcast(mx))
        .filter(col("doc_id") * 2 > col("__m")).drop("__m")
      TextAnalysis.packAppend(delta,
        TextAnalysis.packShardState(
          TextAnalysis.packSequences(base, budgetTokens = 2048L,
            numShards = 8)),
        budgetTokens = 2048L, numShards = 8)
    },
    // top-3 parts by net revenue per supplier through the native
    // topk_pairs bounded aggregate — the BI per-group top-N in its
    // shuffle-O(groups·k) form, zero rank windows (PlanSpec-guarded)
    "x255_grouped_topk" -> { (s, d) =>
      val rev = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(graft.queries.Relational.cents(
          col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("rev_cents"))
      graft.queries.Relational.groupedTopK(rev, "l_suppkey", "l_partkey",
        "rev_cents", k = 3)
    },
    // per-source bigram conditional entropy — feed PREDICTABILITY
    // (template feeds → 0 even with diverse vocabulary; x252 cannot
    // see transition freedom, this is exactly that)
    "x256_bigram_entropy" -> ((s, d) =>
      TextAnalysis.bigramEntropyReport(Tables.documents(s, d))),
    // character-level near-dup pairs: x07's banding candidates
    // verified by codegen'd levenshtein, length-normalized cut — the
    // OCR/typo-variant flavor shingle Jaccard alone cannot certify
    "x257_edit_distance_pairs" -> ((s, d) =>
      Dedup.editDistancePairs(Tables.documents(s, d), shingleK = 2,
        minPermille = 300, maxEditPermille = 200)),
    // deterministic weighted sample (A-Res, md5-derived randomness):
    // 100 docs drawn ∝ n_chars — retry-stable, cross-engine replayable
    "x258_weighted_sample" -> ((s, d) =>
      graft.operators.Sampling.weightedHashSample(Tables.documents(s, d),
        "doc_id", "n_chars", n = 100)),
    // per-customer purchase-type entropy through the star schema —
    // the basket-diversity signal spend tiers (x149/x251) cannot see
    "x259_basket_type_entropy" -> ((s, d) =>
      graft.operators.Behavior.basketTypeEntropy(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.part(s, d))),
    // cluster-capped survivors: keep the top-2 members of each x07
    // near-dup cluster by length — the middle policy between x85's
    // single survivor and x90's keep-all weights, through the native
    // bounded aggregate (O(clusters·m) shuffle, no rank window)
    "x260_cluster_cap" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.clusterCapSurvivors(
        Dedup.minHashLshPairs(docs, shingleK = 2, minPermille = 300),
        docs.select(col("doc_id"), col("n_chars").as("score")), m = 2)
    },
    // norm-outlier fence over per-vector micro-norms — on this
    // unit-normalized corpus the median is exactly 10⁶ and MAD 0, so
    // the fence flags every non-unit vector: the hygiene read itself
    "x261_norm_outliers" -> ((s, d) =>
      Similarity.normOutliers(Tables.embeddings(s, d))),
    // measured banding recall curve at the x38 operating point
    // (k=3, 200‰ exact ground truth): recall and candidate mass per
    // band count — the measured S-curve x95 prices in closed form
    "x262_band_recall_curve" -> ((s, d) =>
      Dedup.bandRecallCurve(Tables.documents(s, d), shingleK = 3,
        numHashes = 16, rowsPerBand = 4, minPermille = 200)),
    // cross-doc attention leakage in the x40 packed layout: per shard,
    // how many adjacent pairs co-occupy a training sequence and how
    // many of those are same-source or exact-dup (worst case: the same
    // text twice in one attention window)
    "x263_pack_adjacency" -> ((s, d) =>
      TextAnalysis.packAdjacency(Tables.documents(s, d),
        budgetTokens = 2048L)),
    // measured estimate-error vs signature size over the exact-sweep
    // pair set — the x262 discipline on the ESTIMATE axis (x105 audits
    // the one operating signature; this prices adding hashes). k=3
    // like x38: bigram inverted indexes are the documented join-mass
    // trap (k=2 measured 8x slower on the same corpus)
    "x264_minhash_error_curve" -> ((s, d) =>
      Dedup.minhashErrorCurve(Tables.documents(s, d), shingleK = 3,
        numHashes = 16, minPermille = 500)),
    // blocking-quality audit on the x113 operating point vs the x156
    // full-recall truth: reduction ratio + pairs completeness, the two
    // numbers every blocking scheme is judged by
    "x265_blocking_quality" -> { (s, d) =>
      val cust = Tables.customer(s, d)
      val probe = cust.filter(pmod(col("c_custkey"), lit(7L)) === 3L)
        .withColumn("c_name",
          concat(substring(col("c_name"), 1, 17), lit("X")))
      graft.operators.Linkage.blockingQuality(cust, probe,
        idCol = "c_custkey", nameCol = "c_name")
    },
    // per-source corpus datasheet: volume, exact-dup rate, x43 gate
    // keep rate, mean length — the data-card roll-up in one table
    "x266_datasheet" -> ((s, d) =>
      TextAnalysis.corpusDatasheet(Tables.documents(s, d))),
    // padding bill of length-bucketed dynamic batching (the x40/x250
    // packed layout's alternative): per 64-token bucket, docs, batch
    // pad target, real token mass, pad share
    "x267_batch_plan" -> ((s, d) =>
      TextAnalysis.batchPlan(Tables.documents(s, d), bucketTokens = 64L)),
    // staleness ladder on a backward as-of (each purchase ← the
    // user's latest preceding click): per age-day bucket (<1, <7,
    // <30, <90, >=90, unmatched) counts and shares — what a tolerance
    // cut would actually drop (the orders←events pairing is time-
    // disjoint in this corpus, so the ladder anchors on events)
    "x268_asof_staleness" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val left = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("k"), col("ts_ns").as("t"),
          col("event_id"))
      val right = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("k"), col("ts_ns").as("t"),
          col("event_id"))
      graft.operators.AsOfJoin.stalenessLadder(left, right, key = "k",
        leftTime = "t", rightTime = "t", tieBreak = Some("event_id"))
    },
    // per-source character-class shares (alpha/digit/space/other) —
    // the encoding-health audit below the token-level gates
    "x269_charclass_profile" -> ((s, d) =>
      TextAnalysis.charClassProfile(Tables.documents(s, d))),
    // per-source mixture drift under x01 exact dedup + the exact
    // rational restore factor (orig share / survivor share)
    "x270_mixture_restore" -> ((s, d) =>
      Dedup.dedupMixtureRestore(Tables.documents(s, d))),
    // measured watermark-delay drop curve over a PLANTED graded
    // reordering (the raw feed is perfectly ordered at all three
    // scales — x242's finding — so three coprime strides arrive 1 day
    // / 10 min / 30 s late; the derived-fixture discipline)
    "x271_watermark_curve" -> { (s, d) =>
      val ev = Tables.events(s, d)
      graft.operators.Sessions.watermarkCurve(
        ev.withColumn("ts",
          when(col("event_id") % 97 === 0,
            col("ts") - expr("INTERVAL 1 DAY"))
          .when(col("event_id") % 89 === 0,
            col("ts") - expr("INTERVAL 10 MINUTE"))
          .when(col("event_id") % 83 === 0,
            col("ts") - expr("INTERVAL 30 SECOND"))
          .otherwise(col("ts"))))
    },
    // measured dedup-threshold yield curve: per candidate Jaccard bar,
    // exact pair mass and docs flagged (best pair >= bar) — the
    // threshold axis of the x262/x264 measured-curve family; the 50‰
    // bar sits below the corpus's background trigram-overlap mass so
    // the curve shows the background→planted-dup cliff (k=3 like x38
    // — the k=2 bigram index was the measured join-mass trap)
    "x272_dedup_threshold_curve" -> ((s, d) =>
      Dedup.dedupThresholdCurve(Tables.documents(s, d), shingleK = 3,
        thresholds = Seq(50L, 200L, 500L, 900L))),
    // participation ratio of the embedding cloud from the exact
    // integer Gram matrix — the rank-collapse read x246/x261 miss
    "x273_effective_dim" -> ((s, d) =>
      Similarity.effectiveDim(Tables.embeddings(s, d))),
    // content-defined chunking dedup profile — the shift-resilient
    // storage-dedup read (x235's fixed grid hides dups after one
    // insertion; CDC boundaries re-synchronize)
    "x274_cdc_chunks" -> ((s, d) =>
      TextAnalysis.cdcChunkProfile(Tables.documents(s, d))),
    // multi-pass sorted-neighbourhood: prefix pass + reversed-name
    // (suffix) pass, union distinct — catches the FIRST-char typo
    // slice the x113 single pass provably misses (x265's finding)
    "x275_multipass_linkage" -> { (s, d) =>
      val cust = Tables.customer(s, d)
      val probe = cust.filter(pmod(col("c_custkey"), lit(7L)) === 3L)
        .withColumn("c_name",
          concat(substring(col("c_name"), 1, 17), lit("X")))
        .unionByName(cust.filter(pmod(col("c_custkey"), lit(11L)) === 5L)
          .withColumn("c_name", expr("concat('Z', substring(c_name, 2))")))
      graft.operators.Linkage.sortedNeighborhoodMultiPass(cust, probe,
        idCol = "c_custkey", nameCol = "c_name")
    },
    // x273's incremental twin: per-batch Gram states merged cell-wise,
    // PR read from state alone — oracle is the append LAW (must equal
    // the one-shot x273 on the whole corpus; the x254 discipline)
    "x276_gram_append" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val a = Similarity.gramState(
        emb.filter(pmod(col("vec_id"), lit(2L)) === 0L))
      val b = Similarity.gramState(
        emb.filter(pmod(col("vec_id"), lit(2L)) === 1L))
      Similarity.effectiveDimFromState(Similarity.mergeGramStates(a, b))
    },
    // per-key salting plan: keys over the per-task row budget with
    // their ceiling-division fan-out — the PLAN between x144's measure
    // and x21's execute
    "x277_salt_plan" -> ((s, d) =>
      graft.operators.Skew.saltPlan(
        Tables.events(s, d).filter(col("event_type").isNotNull),
        keyCol = "event_type", targetPerSalt = 100L)),
    // daily top-10 churn: head-of-distribution rank stability day over
    // day — organic heavy use vs campaign/bot rotation
    "x278_topk_churn" -> ((s, d) =>
      graft.operators.Behavior.topkChurn(Tables.events(s, d))),
    // bounded-depth ancestor flatten over a derived decimal-digit
    // hierarchy (parent = doc_id div 10) — the recursive-CTE
    // capability Spark lacks, unrolled under the x162 eager discipline
    // and certified against DuckDB's literal WITH RECURSIVE
    "x279_hierarchy_flatten" -> ((s, d) =>
      graft.operators.Graph.ancestors(
        Tables.documents(s, d).filter(col("doc_id") >= 1)
          .select(col("doc_id").as("child"),
            expr("doc_id div 10").as("parent")),
        maxDepth = 3)),
    // measured vocab-size coverage curve: exact token mass a top-V
    // vocabulary covers, per candidate V — the tokenizer-budget axis
    // of the measured-curve family (ladder sized to this corpus's
    // 31-type vocabulary so every rung reads a real partial coverage)
    "x281_vocab_size_curve" -> ((s, d) =>
      TextAnalysis.vocabSizeCurve(Tables.documents(s, d),
        sizes = Seq(2L, 4L, 8L, 16L))),
    // inner-join→semi rewrite (3rd custom optimizer rule): orders
    // filtered by "customer has >= 1 event" via a PLAIN inner join to
    // a per-user aggregate, left-only select — the oracle hash proves
    // the LeftSemi rewrite is semantics-preserving (PlanSpec pins the
    // plan shape: LeftSemi, no Inner join)
    "x282_semi_rewrite" -> { (s, d) =>
      val evUsers = Tables.events(s, d)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_ev"))
      Tables.orders(s, d)
        .join(evUsers, col("o_custkey") === col("user_id"))
        .select("o_orderkey", "o_custkey", "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .orderBy("o_orderpriority")
    },
    // x274's incremental twin: per-batch CDC chunk states merged
    // cell-wise, profile read from state alone — oracle is the append
    // LAW (the one-shot x274 oracle over the whole corpus)
    "x289_cdc_append" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val a = TextAnalysis.cdcChunkState(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0L))
      val b = TextAnalysis.cdcChunkState(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1L))
      TextAnalysis.cdcProfileFromState(TextAnalysis.mergeCdcStates(a, b))
    },
    // measured cosine-threshold yield curve over an id-sampled slice —
    // the semantic-dedup (x73) threshold axis, x272's embedding twin.
    // The raw corpus is near-orthogonal (probed: zero pairs over
    // 700‰), so near-dups are PLANTED deterministically: each id<64
    // vector gets a reverse-mixed twin v + m·rev(v) with a GRADED mix
    // m = 0.1·(1 + vec_id % 4) ∈ {0.1, 0.2, 0.3, 0.4} (float-rounded —
    // engine-portable arithmetic, no hash function needed), so the
    // threshold rungs each cut a different slice of a genuine
    // high-cosine population instead of one degenerate cosine value
    "x288_cosine_threshold_curve" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val mix = lit(0.1d) * (lit(1.0d)
        + pmod(col("vec_id"), lit(4L)).cast("double"))
      val planted = emb
        .filter(col("vec_id") < 64 && col("embedding").isNotNull)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          zip_with(col("embedding"), reverse(col("embedding")),
            (a, b) => (a.cast("double") + mix * b.cast("double"))
              .cast("float")).as("embedding"),
          col("label"))
      Similarity.cosineThresholdCurve(emb.unionByName(planted),
        sliceMod = 5L, thresholds = Seq(930L, 960L, 980L, 990L))
    },
    // pairwise FD discovery over the nation dimension joined onto
    // customer: n_nationkey→n_name and n_name→n_nationkey read exact
    // (10^6 ppm), the demographic pairs read partial — the profiling
    // step before x141 audits a KNOWN dependency
    "x287_fd_discovery" -> { (s, d) =>
      val joined = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
      graft.operators.Profiling.fdDiscovery(joined,
        Seq("c_nationkey", "n_name", "c_mktsegment"))
    },
    // TPC-H Q5-shape six-way star: local-supplier regional revenue in
    // exact cents — dims broadcast, facts shuffle on their keys
    "x285_regional_revenue" -> ((s, d) =>
      graft.queries.Relational.regionalRevenue(s, d)),
    // score-band lift table: account-balance bands vs has-ordered —
    // WHERE the ranking earns its x224-style AUC, in exact milli lift
    "x286_lift_table" -> { (s, d) =>
      graft.operators.Behavior.liftTable(
        Tables.customer(s, d).withColumn("bal_band",
          floor(col("c_acctbal") / 1000.0).cast("long")),
        Tables.orders(s, d).select(col("o_custkey").as("c_custkey")),
        keyCol = "c_custkey", bandCol = "bal_band")
    },
    // near-dup SOURCE matrix: which feeds copy each other WITH EDITS —
    // the near-dup complement to x90's exact overlap and x247's exact
    // directed syndication; within-source diagonal = template alarm
    "x283_neardup_sources" -> ((s, d) =>
      Dedup.nearDupSourceMatrix(Tables.documents(s, d), shingleK = 2,
        numHashes = 16, rowsPerBand = 4, minPermille = 300)),
    // subject-access report: per table the row count and event-time
    // span one subject key touches — the DSR read before x206's purge;
    // the key predicate pushes to every scan
    "x284_subject_access" -> { (s, d) =>
      graft.operators.Governance.subjectAccessReport(42L, Seq(
        ("customer", Tables.customer(s, d), "c_custkey", None),
        ("events", Tables.events(s, d), "user_id", Some("ts")),
        ("orders", Tables.orders(s, d), "o_custkey", Some("o_orderdate"))))
    },
    // k-anonymity generalization planner: full QI set + each
    // leave-one-out subset scored (classes, min size, rows at risk) —
    // the one-step remedy table behind x143's alarm
    "x280_kanon_plan" -> ((s, d) =>
      graft.operators.Profiling.kAnonPlan(
        Tables.customer(s, d)
          .withColumn("bal_band",
            floor(col("c_acctbal") / 1000.0).cast("long")),
        Seq("c_nationkey", "c_mktsegment", "bal_band"), k = 5L)),
    // persisted pair-mining state: per-batch fingerprint states over
    // the id-split halves, standing pairs mined from the base state,
    // the delta's arrival mined with pairsAppend (delta-only candidate
    // mass — the incremental path a real corpus runs per ingest batch
    // instead of re-shingling everything) — oracle is the append LAW:
    // standing ∪ appended ≡ the one-shot x07 mining over the whole
    // corpus (same oracle text; the x254/x276/x289 discipline)
    "x290_pair_state" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      // the base state feeds BOTH the standing mining and the append's
      // merged table, and both materialize inside the ONE final union
      // job — cache it so the shingle scan runs once, not once per
      // (concurrently scheduled) consumer. Measured isolated at sf0.1:
      // 1.60 s uncached → 1.28 s cached. (x291 deliberately does NOT
      // cache: its standing-label fixpoint already fills the
      // pairsFromState projection cache sequentially, and the extra
      // cache layer measured as a net loss there.)
      val baseState = Dedup.pairState(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0L), shingleK = 2).persist()
      Dedup.pairsFromState(baseState, minPermille = 300)
        .unionByName(Dedup.pairsAppend(baseState,
          docs.filter(pmod(col("doc_id"), lit(2L)) === 1L),
          shingleK = 2, minPermille = 300))
        .orderBy("da", "db", "jac_permille")
    },
    // cluster-label refresh over the same split: standing labels (CC
    // over the base half's pairs) folded with the delta's newly-mined
    // pairs — |old docs| + |new pairs| edges, never the historical
    // pair set — oracle is the append LAW: ≡ the one-shot x34 cluster
    // fixpoint over every pair (same oracle text)
    "x291_cluster_refresh" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      // the refresh reads UNSORTED standing labels (the refresh
      // fixpoint re-shuffles by its own keys, so the old presentation
      // sort was a pure range-shuffle + sampling-job overhead; labels
      // are identical)
      val baseState = Dedup.pairState(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0L), shingleK = 2)
      Dedup.clusterLabelsRefresh(
        graft.operators.Dedup.connectedComponentsUnsorted(
          Dedup.pairsFromState(baseState, minPermille = 300)),
        Dedup.pairsAppend(baseState,
          docs.filter(pmod(col("doc_id"), lit(2L)) === 1L),
          shingleK = 2, minPermille = 300))
    },
    // TPC-H Q3 shape: top-10 unshipped orders by revenue for one
    // segment — every predicate on its own scan, facts shuffle on
    // keys, the cut TakeOrderedAndProject (PlanSpec-pinned)
    "x292_shipping_priority" -> ((s, d) =>
      graft.queries.Relational.shippingPriority(s, d)),
    // water-filling mixture allocation: the SOLVER behind x223's
    // report — budget tokens ∝ weight, capped at availability, capped
    // surplus redistributed across the uncapped (closed form over the
    // bounded source table, exact decimal cross-multiplies; at sf0.01
    // the 4000-token budget caps src0/src1 and waters src2/src3)
    "x296_mixture_waterfill" -> ((s, d) =>
      graft.operators.Sampling.mixtureWaterFill(Tables.documents(s, d),
        Seq("src0" -> 700000L, "src1" -> 200000L, "src2" -> 80000L,
          "src3" -> 20000L),
        budgetTokens = 4000L)),
    // split-leakage REPAIR plan: x189 audits the leaking cells, this
    // lists the minimal doc moves that zero them — each leaking x07
    // cluster reassigned wholly to its member-majority split (ties to
    // the earliest-declared) — the x277/x280 measure→plan closure on
    // the train/eval boundary
    "x295_split_repair" -> ((s, d) =>
      graft.operators.Sampling.splitRepairPlan(
        Dedup.minHashLshPairs(Tables.documents(s, d), shingleK = 2,
          minPermille = 300),
        Seq("train" -> 900L, "val" -> 50L, "test" -> 50L))),
    // bucket-checksum sync plan over a derived delta snapshot (every
    // 97th segment shifted, every 89th key dropped, 10 adds at
    // +2·10⁶): the anti-entropy "which buckets to re-ship" read that
    // precedes x63's keyed diff — order-independent digest sums, zero
    // row shuffling (two scan-side passes + a ≤32-row outer join)
    "x294_bucket_checksum" -> { (s, d) =>
      val cust = Tables.customer(s, d)
      val newSnap = cust.filter(pmod(col("c_custkey"), lit(89L)) =!= 7L)
        .withColumn("c_mktsegment",
          when(pmod(col("c_custkey"), lit(97L)) === 5L, lit("SHIFTED"))
            .otherwise(col("c_mktsegment")))
        .unionByName(cust.filter(col("c_custkey") < 10)
          .select((col("c_custkey") + 2000000L).as("c_custkey"),
            col("c_name"), col("c_nationkey"), col("c_acctbal"),
            col("c_mktsegment")))
      graft.operators.Snapshot.bucketChecksumPlan(cust, newSnap,
        "c_custkey", Seq("c_name", "c_mktsegment"), nBuckets = 32)
    },
    // golden-record consolidation: deletion-join (ed ≤ 1, full recall)
    // pairs over planted last-char typo probes close into entities via
    // the CC fixpoint; each attribute elected per entity (most
    // frequent non-null, ties lexicographically smallest) — the MDM
    // survivorship tier between matching (x113/x156/x275) and
    // publishing. Probe ids ride at +10⁶ (the derived-fixture
    // discipline; collision-free)
    "x293_golden_record" -> { (s, d) =>
      val cust = Tables.customer(s, d)
      val probe = cust.filter(pmod(col("c_custkey"), lit(7L)) === 3L)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(substring(col("c_name"), 1, 17), lit("X")).as("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      val all = cust.unionByName(probe)
      val pairs = graft.operators.Linkage.deletionJoin(cust, probe,
          "c_custkey", "c_name")
        .select(col("base_id").as("da"), col("probe_id").as("db"))
      graft.operators.Linkage.goldenRecord(all, "c_custkey", pairs,
        Seq("c_name", "c_mktsegment"))
    },
  )

  def oracleSql: Map[String, String] = Map(
    // x244: one (doc_id, token) count table, corpus token totals from
    // it, integer micronat ln terms (term = c·(lnµN − lnµc_t) ≥ 0),
    // HUGEINT sum, one truncating div per doc
    "x244_doc_typicality" ->
      """WITH tok0 AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
           FROM documents WHERE text IS NOT NULL),
       dt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok0 GROUP BY 1, 2),
       ct AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS ctot FROM dt GROUP BY 1),
       tt AS (SELECT CAST(SUM(ctot) AS BIGINT) AS n FROM ct),
       t AS (SELECT dt.doc_id, dt.c,
           dt.c * (CAST(FLOOR(ln(CAST(tt.n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             - CAST(FLOOR(ln(CAST(ct.ctot AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))
             AS term
         FROM dt JOIN ct USING (tok), tt),
       g AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
           SUM(term) AS s FROM t GROUP BY 1)
       SELECT doc_id, n_tokens, CAST(s // n_tokens AS BIGINT) AS xent_micronat
       FROM g ORDER BY doc_id""",
    // x245: literal 2-gram slices (duplicates kept), per-doc gram
    // counts, top/repeat rollup, trunc division
    "x245_gram_dominance" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts
           FROM documents WHERE text IS NOT NULL),
       le AS (SELECT doc_id, ts FROM toks WHERE len(ts) >= 2),
       pos AS (SELECT doc_id, ts, UNNEST(range(1, len(ts))) AS i FROM le),
       g AS (SELECT doc_id, array_to_string(ts[i:i+1], ' ') AS gram FROM pos),
       c AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c
           FROM g GROUP BY 1, 2),
       a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(MAX(c) AS BIGINT) AS top,
           CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS rep
         FROM c GROUP BY 1)
       SELECT doc_id, n_grams,
         CAST((top * 1000) // n_grams AS BIGINT) AS top_share_permille,
         CAST((rep * 1000) // n_grams AS BIGINT) AS repeat_mass_permille
       FROM a ORDER BY doc_id""",
    // x246: the x233 integer-quantized centroid spelling keyed by
    // vec_id // 128, plus a lag-1 self-join for the step drift; the
    // ordered list_reduce fold replays Spark's aggregate bit-for-bit
    "x246_embedding_drift" ->
      """WITH e AS (SELECT vec_id // 128 AS batch, UNNEST(embedding) AS x,
           UNNEST(range(len(embedding))) AS i
         FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
       q AS (SELECT batch, i,
           CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qq
         FROM e),
       per AS (SELECT batch, i, CAST(SUM(qq) AS BIGINT) AS s
         FROM q GROUP BY 1, 2),
       bv AS (SELECT batch, list(CAST(s AS DOUBLE) ORDER BY i) AS v
         FROM per GROUP BY 1),
       g0 AS (SELECT i, CAST(SUM(s) AS BIGINT) AS s FROM per GROUP BY 1),
       gv AS (SELECT list(CAST(s AS DOUBLE) ORDER BY i) AS g FROM g0),
       nv AS (SELECT vec_id // 128 AS batch, CAST(COUNT(*) AS BIGINT) AS n_vecs
         FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
         GROUP BY 1),
       c AS (SELECT bv.batch,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(list_zip(v, g), p -> p[1] * p[2])),
             (a, b) -> a + b) AS dg,
           sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nvv,
           sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(g, x -> x * x)), (a, b) -> a + b)) AS ngg
         FROM bv, gv),
       p AS (SELECT a.batch,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])),
             (x, y) -> x + y) AS dp,
           sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(a.v, x -> x * x)), (x, y) -> x + y)) AS na,
           sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(b.v, x -> x * x)), (x, y) -> x + y)) AS nb
         FROM bv a JOIN bv b ON a.batch = b.batch + 1)
       SELECT c.batch, nv.n_vecs,
         CAST(FLOOR((CASE WHEN c.nvv * c.ngg = 0 THEN 0.0
           ELSE c.dg / (c.nvv * c.ngg) END) * 1000 + 0.5) AS BIGINT)
           AS cos_global_permille,
         CASE WHEN p.batch IS NULL THEN NULL
           ELSE CAST(FLOOR((CASE WHEN p.na * p.nb = 0 THEN 0.0
             ELSE p.dp / (p.na * p.nb) END) * 1000 + 0.5) AS BIGINT) END
           AS cos_prev_permille
       FROM c JOIN nv USING (batch) LEFT JOIN p USING (batch)
       ORDER BY c.batch""",
    // x247: the identical mirror-feed construction, md5 dup groups,
    // arg_min originator, directed rollup excluding within-source
    "x247_syndication" ->
      """WITH m AS (SELECT doc_id + 1000000000 AS doc_id, text,
           'mirror_' || source AS source
         FROM documents
         WHERE doc_id % 13 = 0 AND text IS NOT NULL AND source IS NOT NULL),
       a AS (SELECT doc_id, text, source FROM documents
         UNION ALL SELECT doc_id, text, source FROM m),
       d AS (SELECT md5(text) AS fp, doc_id, source AS src FROM a
         WHERE text IS NOT NULL AND source IS NOT NULL),
       o AS (SELECT fp, arg_min(src, doc_id) AS src_from FROM d GROUP BY 1),
       j AS (SELECT o.src_from, d.src AS src_to, d.fp
         FROM d JOIN o USING (fp) WHERE d.src <> o.src_from)
       SELECT src_from, src_to, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_groups
       FROM j GROUP BY 1, 2 ORDER BY 1, 2""",
    // x248: the x233 quantized centroid CTEs, a < b self-join, the
    // same ordered list_reduce folds
    "x248_label_confusion" ->
      """WITH e AS (SELECT CAST(label AS BIGINT) AS label,
           UNNEST(embedding) AS x, UNNEST(range(len(embedding))) AS i
         FROM embeddings WHERE label IS NOT NULL),
       q AS (SELECT label, i,
           CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qq
         FROM e),
       per AS (SELECT label, i, CAST(SUM(qq) AS BIGINT) AS s
         FROM q GROUP BY 1, 2),
       lv AS (SELECT label, list(CAST(s AS DOUBLE) ORDER BY i) AS v
         FROM per GROUP BY 1),
       nv AS (SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n
         FROM embeddings WHERE label IS NOT NULL GROUP BY 1),
       p AS (SELECT a.label AS label_a, b.label AS label_b,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(list_zip(a.v, b.v), z -> z[1] * z[2])),
             (x, y) -> x + y) AS d,
           sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(a.v, x -> x * x)), (x, y) -> x + y)) AS na,
           sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(b.v, x -> x * x)), (x, y) -> x + y)) AS nb
         FROM lv a JOIN lv b ON a.label < b.label)
       SELECT p.label_a, p.label_b, va.n AS n_a, vb.n AS n_b,
         CAST(FLOOR((CASE WHEN p.na * p.nb = 0 THEN 0.0
           ELSE p.d / (p.na * p.nb) END) * 1000 + 0.5) AS BIGINT)
           AS cos_permille
       FROM p JOIN nv va ON p.label_a = va.label
         JOIN nv vb ON p.label_b = vb.label
       ORDER BY p.label_a, p.label_b""",
    // x249: per-vector micro-norm over the quantized elements (same
    // ordered fold), doc_id-keyed left join, per-source rollup
    "x249_embedding_coverage" ->
      """WITH v AS (SELECT vec_id AS doc_id,
           CAST(FLOOR(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS DOUBLE)),
               x -> x * x)), (a, b) -> a + b)) + 0.5) AS BIGINT) AS nm
         FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
       j AS (SELECT d.source, v.nm FROM documents d
         LEFT JOIN v ON d.doc_id = v.doc_id WHERE d.source IS NOT NULL),
       g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(nm) AS BIGINT) AS n_with_vec, SUM(nm) AS sn
         FROM j GROUP BY 1)
       SELECT source, n_docs, n_with_vec,
         CAST((n_with_vec * 1000000) // n_docs AS BIGINT) AS coverage_ppm,
         CASE WHEN n_with_vec = 0 THEN NULL
           ELSE CAST(sn // n_with_vec AS BIGINT) END AS mean_norm_micro
       FROM g ORDER BY source""",
    // x250: the x40 pack CTEs (hash shard, per-shard running sum),
    // shard rollup, exact ceiling division for sequences consumed
    "x250_pack_efficiency" ->
      """WITH t AS (SELECT doc_id,
           LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tokens,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
             % 8 AS shard
         FROM documents),
       p AS (SELECT doc_id, n_tokens, shard,
           CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS start_tok
         FROM t),
       g AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN start_tok % 2048 + n_tokens > 2048
             THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle
         FROM p GROUP BY 1)
       SELECT shard, n_docs, n_tokens, n_straddle,
         CAST((n_tokens + 2047) // 2048 AS BIGINT) AS n_seqs,
         CAST(((n_tokens + 2047) // 2048) * 2048 - n_tokens AS BIGINT)
           AS pad_tokens,
         CAST((n_tokens * 1000000) // (((n_tokens + 2047) // 2048) * 2048)
           AS BIGINT) AS fill_ppm
       FROM g ORDER BY shard""",
    // x251: the x149 quintile-ladder CTEs applied per period half,
    // full-outer cust join, absent halves tier 0
    "x251_tier_migration" ->
      """WITH h1 AS (SELECT o_custkey AS cust,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS m
         FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1998-01-01'
         GROUP BY 1),
       h2 AS (SELECT o_custkey AS cust,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS m
         FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
         GROUP BY 1),
       v1 AS (SELECT m AS v, CAST(COUNT(*) AS BIGINT) AS w FROM h1 GROUP BY 1),
       c1 AS (SELECT v, SUM(w) OVER (ORDER BY v ROWS BETWEEN
           UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           SUM(w) OVER () AS tot FROM v1),
       q1 AS (SELECT MIN(CASE WHEN cum * 5 >= tot THEN v END) AS t1,
           MIN(CASE WHEN cum * 5 >= tot * 2 THEN v END) AS t2,
           MIN(CASE WHEN cum * 5 >= tot * 3 THEN v END) AS t3,
           MIN(CASE WHEN cum * 5 >= tot * 4 THEN v END) AS t4 FROM c1),
       v2 AS (SELECT m AS v, CAST(COUNT(*) AS BIGINT) AS w FROM h2 GROUP BY 1),
       c2 AS (SELECT v, SUM(w) OVER (ORDER BY v ROWS BETWEEN
           UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           SUM(w) OVER () AS tot FROM v2),
       q2 AS (SELECT MIN(CASE WHEN cum * 5 >= tot THEN v END) AS t1,
           MIN(CASE WHEN cum * 5 >= tot * 2 THEN v END) AS t2,
           MIN(CASE WHEN cum * 5 >= tot * 3 THEN v END) AS t3,
           MIN(CASE WHEN cum * 5 >= tot * 4 THEN v END) AS t4 FROM c2),
       s1 AS (SELECT cust, 1 + CASE WHEN m > t1 THEN 1 ELSE 0 END
           + CASE WHEN m > t2 THEN 1 ELSE 0 END
           + CASE WHEN m > t3 THEN 1 ELSE 0 END
           + CASE WHEN m > t4 THEN 1 ELSE 0 END AS t FROM h1, q1),
       s2 AS (SELECT cust, 1 + CASE WHEN m > t1 THEN 1 ELSE 0 END
           + CASE WHEN m > t2 THEN 1 ELSE 0 END
           + CASE WHEN m > t3 THEN 1 ELSE 0 END
           + CASE WHEN m > t4 THEN 1 ELSE 0 END AS t FROM h2, q2),
       f AS (SELECT COALESCE(s1.t, 0) AS tier_before,
           COALESCE(s2.t, 0) AS tier_after
         FROM s1 FULL OUTER JOIN s2 ON s1.cust = s2.cust)
       SELECT CAST(tier_before AS BIGINT) AS tier_before,
         CAST(tier_after AS BIGINT) AS tier_after,
         CAST(COUNT(*) AS BIGINT) AS n_customers
       FROM f GROUP BY 1, 2 ORDER BY 1, 2""",
    // x252: one (source, token) count table, HUGEINT Σc² and n²
    // (the x220 decimal discipline), one truncating div
    "x252_vocab_hhi" ->
      """WITH tok0 AS (SELECT source, UNNEST(string_split(text, ' ')) AS tok
           FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
       st AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok0 GROUP BY 1, 2),
       g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           SUM(CAST(c AS HUGEINT) * c) AS s2
         FROM st GROUP BY 1)
       SELECT source, n_tokens, vocab,
         CAST((s2 * 1000000) // (CAST(n_tokens AS HUGEINT) * n_tokens)
           AS BIGINT) AS hhi_ppm
       FROM g ORDER BY source""",
    // x253: per-source exact integer sums, the leave-one-out rational
    // ((S−s)·N − S·(N−n))·10⁶ // (S·(N−n)), NULL when the source IS
    // the corpus or the remainder mean is zero
    "x253_source_sensitivity" ->
      """WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS s
         FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
         GROUP BY 1),
       tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS nt,
           CAST(SUM(s) AS BIGINT) AS st FROM per)
       SELECT source, n_rows,
         CAST(CASE WHEN nt = n_rows
             OR CAST(st AS HUGEINT) * (nt - n_rows) = 0 THEN NULL
           ELSE (((st - s) * CAST(nt AS HUGEINT)
             - CAST(st AS HUGEINT) * (nt - n_rows)) * 1000000)
             // (CAST(st AS HUGEINT) * (nt - n_rows)) END AS BIGINT)
           AS loo_delta_ppm
       FROM per, tot ORDER BY source""",
    // x254: the append LAW is the oracle — the one-shot x40 pack CTEs
    // over the whole corpus, filtered to the arriving (upper-id) half:
    // incremental placements must land exactly where a full re-pack
    // would put them
    "x254_pack_append" ->
      """WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
       t AS (SELECT doc_id,
           LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tokens,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
             % 8 AS shard
         FROM documents),
       p AS (SELECT doc_id, n_tokens, shard,
           CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS start_tok
         FROM t)
       SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, shard,
         CAST(start_tok // 2048 AS BIGINT) AS seq_in_shard,
         CAST(start_tok % 2048 AS BIGINT) AS offset_in_seq
       FROM p, mx WHERE doc_id * 2 > m ORDER BY doc_id""",
    // x255: the Spark side plans through the bounded aggregate; the
    // oracle is the rank-window spelling it is spec-pinned equal to
    "x255_grouped_topk" ->
      """WITH r AS (SELECT l_suppkey, l_partkey,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
             AS BIGINT)) AS BIGINT) AS rev_cents
         FROM lineitem GROUP BY 1, 2),
       w AS (SELECT l_suppkey, l_partkey, rev_cents,
           ROW_NUMBER() OVER (PARTITION BY l_suppkey
             ORDER BY rev_cents DESC, l_partkey) AS rnk
         FROM r)
       SELECT l_suppkey, l_partkey, CAST(rnk AS BIGINT) AS rank, rev_cents
       FROM w WHERE rnk <= 3 ORDER BY l_suppkey, rank""",
    // x256: one (source, u, v) count table, prefix totals from it,
    // integer micronat ln terms, HUGEINT sum, truncating div
    "x256_bigram_entropy" ->
      """WITH toks AS (SELECT source, string_split(text, ' ') AS ts
           FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
       le AS (SELECT source, ts FROM toks WHERE len(ts) >= 2),
       pos AS (SELECT source, ts, UNNEST(range(1, len(ts))) AS i FROM le),
       b AS (SELECT source, ts[i] AS u, ts[i+1] AS v FROM pos),
       bc AS (SELECT source, u, v, CAST(COUNT(*) AS BIGINT) AS c
           FROM b GROUP BY 1, 2, 3),
       pu AS (SELECT source, u, CAST(SUM(c) AS BIGINT) AS cu
           FROM bc GROUP BY 1, 2),
       t AS (SELECT bc.source, bc.c,
           bc.c * (CAST(FLOOR(ln(CAST(pu.cu AS DOUBLE)) * 1000000 + 0.5)
               AS BIGINT)
             - CAST(FLOOR(ln(CAST(bc.c AS DOUBLE)) * 1000000 + 0.5)
               AS BIGINT)) AS term
         FROM bc JOIN pu ON bc.source = pu.source AND bc.u = pu.u),
       g AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(COUNT(*) AS BIGINT) AS vocab_bigrams, SUM(term) AS s2
         FROM t GROUP BY 1)
       SELECT source, n_bigrams, vocab_bigrams,
         CAST(s2 // n_bigrams AS BIGINT) AS cond_entropy_micronat
       FROM g ORDER BY source""",
    // x257: the x07 candidate CTEs (md5-derived, replayable), bodies
    // joined for candidates only, DuckDB's levenshtein (same classic
    // DP definition as Spark's), identical length-fair cut
    "x257_edit_distance_pairs" ->
      s"""WITH ${graft.entry.EntryLib.minHashPairsCtes},
       bodies AS (SELECT doc_id, text FROM documents
         WHERE text IS NOT NULL),
       v AS (SELECT p.da AS doc_a, p.db AS doc_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_distance,
           CAST(GREATEST(LENGTH(a.text), LENGTH(b.text)) AS BIGINT) AS mx
         FROM pairs p JOIN bodies a ON p.da = a.doc_id
           JOIN bodies b ON p.db = b.doc_id),
       f AS (SELECT doc_a, doc_b, edit_distance,
           CAST((edit_distance * 1000) // mx AS BIGINT) AS edit_permille
         FROM v WHERE mx > 0)
       SELECT doc_a, doc_b, edit_distance, edit_permille
       FROM f WHERE edit_permille <= 200 ORDER BY doc_a, doc_b""",
    // x258: identical md5-derived u, integer-ln priority (both ln
    // arguments integers — lnµ(h) − lnµ(10⁶)), truncating div, same
    // (priority DESC, key) cut
    "x258_weighted_sample" ->
      """WITH w AS (SELECT doc_id AS key, CAST(n_chars AS BIGINT) AS weight,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
             % 1000000 + 1 AS h
         FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
           AND n_chars > 0),
       p AS (SELECT key, weight,
           ((CAST(FLOOR(ln(CAST(h AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             - CAST(FLOOR(ln(1000000.0) * 1000000 + 0.5) AS BIGINT))
             * 1000000) // weight AS priority_micro
         FROM w)
       SELECT key, weight, CAST(priority_micro AS BIGINT) AS priority_micro
       FROM p ORDER BY priority_micro DESC, key LIMIT 100""",
    // x259: the star joins, then the x227 integer-micronat entropy
    // spelling over (cust, p_type) counts
    "x259_basket_type_entropy" ->
      """WITH j AS (SELECT o.o_custkey AS cust, p.p_type AS t
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN part p ON l.l_partkey = p.p_partkey
         WHERE o.o_custkey IS NOT NULL AND p.p_type IS NOT NULL),
       per AS (SELECT cust, t, CAST(COUNT(*) AS BIGINT) AS c
         FROM j GROUP BY 1, 2),
       g AS (SELECT cust, CAST(SUM(c) AS BIGINT) AS n_items,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(c * CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5)
             AS BIGINT)) AS BIGINT) AS s
         FROM per GROUP BY 1)
       SELECT cust, n_items, n_types,
         CAST(CAST(FLOOR(ln(CAST(n_items AS DOUBLE)) * 1000000 + 0.5)
           AS BIGINT) - s // n_items AS BIGINT) AS entropy_micronat
       FROM g WHERE n_items >= 3 ORDER BY cust""",
    // x260: the x85 recursive closure, rank window capped at m=2 with
    // rank and score surfaced
    "x260_cluster_cap" ->
      s"""WITH RECURSIVE ${graft.entry.EntryLib.minHashPairsCtes},
       sym AS (SELECT da AS s, db AS d FROM pairs
               UNION SELECT db AS s, da AS d FROM pairs),
       verts AS (SELECT DISTINCT s AS v FROM sym),
       reach AS (SELECT v AS a, v AS b FROM verts
                 UNION SELECT r.a, s.d FROM reach r JOIN sym s ON r.b = s.s),
       cc AS (SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS cluster_id
              FROM reach GROUP BY a),
       sc AS (SELECT cc.doc_id, cc.cluster_id, d.n_chars
              FROM cc JOIN documents d ON cc.doc_id = d.doc_id),
       r AS (SELECT cluster_id, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                 ORDER BY n_chars DESC, doc_id) AS rn
             FROM sc)
       SELECT cluster_id, doc_id, CAST(rn AS BIGINT) AS rank,
         CAST(n_chars AS BIGINT) AS score
       FROM r WHERE rn <= 2 ORDER BY cluster_id, rank""",
    // x261: the x249 micro-norm fold, exact interpolated medians
    // (integers → .0/.5 doubles), the x57 MAD fence
    "x261_norm_outliers" ->
      """WITH v AS (SELECT vec_id,
           CAST(FLOOR(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS DOUBLE)),
               x -> x * x)), (a, b) -> a + b)) + 0.5) AS BIGINT) AS nm
         FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
       m AS (SELECT median(nm) AS med FROM v),
       d AS (SELECT vec_id, nm, ABS(nm - m.med) AS dev FROM v, m),
       md AS (SELECT median(dev) AS mad FROM d)
       SELECT d.vec_id, d.nm AS norm_micro,
         CAST(FLOOR(d.dev) AS BIGINT) AS dev_micro
       FROM d, md WHERE d.dev * 1000.0 > 3500.0 * md.mad
       ORDER BY d.vec_id""",
    // x262: the x07-family banding CTEs at k=3 (md5-derived,
    // replayable) aggregated to each pair's first colliding band, the
    // x38 exact sweep as ground truth, correlated cumulative sums
    "x262_band_recall_curve" ->
      s"""WITH ${graft.entry.EntryLib.shingleCtes(3)},
       mins AS (SELECT doc_id, ${graft.entry.EntryLib.minhashSigCols(16)}
           FROM sh GROUP BY doc_id),
       banded AS (${graft.entry.EntryLib.minhashBandSelects("mins", 16, 4)}),
       collide AS (SELECT a.doc_id AS da, b.doc_id AS db,
           CAST(MIN(a.band) AS BIGINT) AS mb
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       cm AS (SELECT s1.doc_id AS da, s2.doc_id AS db, COUNT(*) AS common
           FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
           GROUP BY 1, 2),
       exact AS (SELECT cm.da, cm.db FROM cm
           JOIN sizes sa ON cm.da = sa.doc_id
           JOIN sizes sb ON cm.db = sb.doc_id
         WHERE (cm.common * 1000) // (sa.sz + sb.sz - cm.common) >= 200),
       ch AS (SELECT mb, CAST(COUNT(*) AS BIGINT) AS nc
           FROM collide GROUP BY 1),
       eh AS (SELECT c.mb, CAST(COUNT(*) AS BIGINT) AS nf
           FROM exact e LEFT JOIN collide c ON e.da = c.da AND e.db = c.db
           GROUP BY 1),
       tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM exact),
       rs AS (SELECT UNNEST(range(1, 5)) AS n_bands)
       SELECT CAST(rs.n_bands AS BIGINT) AS n_bands,
         CAST(COALESCE((SELECT SUM(nc) FROM ch WHERE mb < rs.n_bands), 0)
           AS BIGINT) AS n_candidates,
         tot.nt AS n_true,
         CAST(COALESCE((SELECT SUM(nf) FROM eh
           WHERE mb IS NOT NULL AND mb < rs.n_bands), 0) AS BIGINT) AS n_found,
         CAST(CASE WHEN tot.nt = 0 THEN NULL
           ELSE (COALESCE((SELECT SUM(nf) FROM eh
             WHERE mb IS NOT NULL AND mb < rs.n_bands), 0) * 1000000)
             // tot.nt END AS BIGINT) AS recall_ppm
       FROM rs, tot ORDER BY n_bands""",
    // x263: the x40 pack chain (md5 shard, running sum) + LAG
    // predecessor attributes, folded to per-shard counts — co-resident
    // iff the successor starts mid-sequence
    "x263_pack_adjacency" ->
      """WITH t AS (SELECT doc_id, source, md5(text) AS fp,
           LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tokens,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS shard
         FROM documents),
       p AS (SELECT shard, source, fp,
           CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok,
           LAG(doc_id) OVER (PARTITION BY shard ORDER BY doc_id) AS prev_id,
           LAG(source) OVER (PARTITION BY shard ORDER BY doc_id) AS prev_source,
           LAG(fp) OVER (PARTITION BY shard ORDER BY doc_id) AS prev_fp
         FROM t),
       a AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN start_tok % 2048 > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_coresident,
           CAST(SUM(CASE WHEN start_tok % 2048 > 0
             AND source = prev_source THEN 1 ELSE 0 END)
             AS BIGINT) AS n_same_source,
           CAST(SUM(CASE WHEN start_tok % 2048 > 0
             AND fp = prev_fp THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dup_adjacent
         FROM p WHERE prev_id IS NOT NULL GROUP BY shard)
       SELECT shard, n_pairs, n_coresident, n_same_source, n_dup_adjacent,
         CAST((n_coresident * 1000) // n_pairs AS BIGINT) AS coresident_permille
       FROM a ORDER BY shard""",
    // x264: exact-sweep ground truth (x38 CTEs at k=3, >= 500‰), the
    // x105 signature columns, prefix-h estimates folded to one
    // aggregate row unpivoted by UNION ALL
    "x264_minhash_error_curve" -> {
      val est = (h: Int) => "((" + (0 until h)
        .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
        .mkString(" + ") + s") * 1000) // $h"
      val row = (h: Int) =>
        s"""SELECT CAST($h AS BIGINT) AS n_hashes, CAST(n AS BIGINT) AS n_pairs,
           CAST(CASE WHEN n = 0 THEN NULL ELSE (sa$h * 1000) // n END AS BIGINT) AS mae_ppm,
           CAST(CASE WHEN n = 0 THEN NULL ELSE (ss$h * 1000) // n END AS BIGINT) AS bias_ppm
         FROM agg"""
      s"""WITH ${graft.entry.EntryLib.shingleCtes(3)},
       mins AS (SELECT doc_id, ${graft.entry.EntryLib.minhashSigCols(16)}
           FROM sh GROUP BY doc_id),
       sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       cm AS (SELECT s1.doc_id AS da, s2.doc_id AS db, COUNT(*) AS common
           FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
           GROUP BY 1, 2),
       exact AS (SELECT cm.da, cm.db,
           (cm.common * 1000) // (sa.sz + sb.sz - cm.common) AS jac
         FROM cm JOIN sizes sa ON cm.da = sa.doc_id
         JOIN sizes sb ON cm.db = sb.doc_id
         WHERE (cm.common * 1000) // (sa.sz + sb.sz - cm.common) >= 500),
       sel AS (SELECT e.jac, ${est(4)} AS e4, ${est(8)} AS e8,
           ${est(16)} AS e16
         FROM exact e JOIN mins a ON e.da = a.doc_id
         JOIN mins b ON e.db = b.doc_id),
       agg AS (SELECT COUNT(*) AS n,
           SUM(ABS(e4 - jac)) AS sa4, SUM(e4 - jac) AS ss4,
           SUM(ABS(e8 - jac)) AS sa8, SUM(e8 - jac) AS ss8,
           SUM(ABS(e16 - jac)) AS sa16, SUM(e16 - jac) AS ss16
         FROM sel)
       SELECT * FROM (${row(4)} UNION ALL ${row(8)} UNION ALL ${row(16)})
       ORDER BY n_hashes"""
    },
    // x265: the x113 candidate band (pre-verify) + the x113 verified
    // pairs + the x156 deletion-variant truth, each folded to one
    // count, crossed into the two audit ratios
    "x265_blocking_quality" ->
      """WITH u AS (
           SELECT c_custkey AS id, c_name AS name, 'base' AS side FROM customer
           UNION ALL
           SELECT c_custkey, substr(c_name, 1, 17) || 'X', 'probe'
           FROM customer WHERE c_custkey % 7 = 3),
         r AS (SELECT *, substr(name, 1, 16) AS blk,
             ROW_NUMBER() OVER (PARTITION BY substr(name, 1, 16)
               ORDER BY name, side, id) AS rn
           FROM u),
         cpairs AS (SELECT a.id, a.side, a.name, b.id AS id_b,
             b.side AS side_b, b.name AS name_b
           FROM r a JOIN r b
             ON a.blk = b.blk AND b.rn BETWEEN a.rn + 1 AND a.rn + 8
           WHERE a.side <> b.side),
         cand AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cpairs),
         found AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_found FROM (
           SELECT DISTINCT
             CASE WHEN side = 'base' THEN id ELSE id_b END AS base_id,
             CASE WHEN side = 'base' THEN id_b ELSE id END AS probe_id
           FROM cpairs WHERE levenshtein(name, name_b) <= 1)),
         b AS (SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name
           FROM customer WHERE c_name IS NOT NULL),
         p AS (SELECT CAST(c_custkey AS BIGINT) AS id,
             substr(c_name, 1, 17) || 'X' AS name
           FROM customer WHERE c_custkey % 7 = 3 AND c_name IS NOT NULL),
         bv AS (SELECT id, name, name AS v FROM b
           UNION ALL
           SELECT id, name, substr(name, 1, CAST(i AS INTEGER)) ||
             substr(name, CAST(i + 2 AS INTEGER)) AS v
           FROM (SELECT id, name, UNNEST(range(0, len(name))) AS i FROM b)),
         pv AS (SELECT id, name, name AS v FROM p
           UNION ALL
           SELECT id, name, substr(name, 1, CAST(i AS INTEGER)) ||
             substr(name, CAST(i + 2 AS INTEGER)) AS v
           FROM (SELECT id, name, UNNEST(range(0, len(name))) AS i FROM p)),
         truth AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM (
           SELECT DISTINCT bv.id AS base_id, pv.id AS probe_id
             FROM bv JOIN pv ON bv.v = pv.v
             WHERE levenshtein(bv.name, pv.name) <= 1)),
         nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_base FROM customer),
         np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_probe FROM customer
           WHERE c_custkey % 7 = 3)
       SELECT n_base, n_probe, n_candidates, n_true, n_found,
         CAST(1000000 - (n_candidates * 1000000) // (n_base * n_probe)
           AS BIGINT) AS reduction_ppm,
         CAST(CASE WHEN n_true = 0 THEN NULL
           ELSE (n_found * 1000000) // n_true END AS BIGINT) AS completeness_ppm
       FROM nb, np, cand, truth, found""",
    // x266: the x43 gate chain per doc (LEFT JOIN + COALESCE 0 for
    // sub-k docs) rolled up per source with the exact-dup distinct
    "x266_datasheet" ->
      s"""WITH ${graft.entry.EntryLib.shingleCtes(3)},
       nd AS (SELECT doc_id, COUNT(*) AS ndist FROM sh GROUP BY doc_id),
       tot AS (SELECT doc_id, len(ts) - 2 AS total FROM le),
       rep AS (SELECT nd.doc_id AS doc_id,
           1000 - (nd.ndist * 1000) // tot.total AS rp
         FROM nd JOIN tot ON nd.doc_id = tot.doc_id),
       m AS (SELECT d.source AS source, md5(d.text) AS fp,
           CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS nt,
           CAST(LENGTH(text) AS BIGINT) AS nc,
           CAST(LENGTH(REPLACE(text, ' ', '')) AS BIGINT) * 1000
             // (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS awl,
           CAST(COALESCE(rep.rp, 0) AS BIGINT) AS rp
         FROM documents d LEFT JOIN rep ON d.doc_id = rep.doc_id),
       g AS (SELECT source, fp, nt, nc,
           CASE WHEN nt >= 32 AND rp <= 10
             AND awl BETWEEN 4200 AND 4800 THEN 1 ELSE 0 END AS keep
         FROM m),
       a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           CAST(SUM(nc) AS BIGINT) AS n_chars,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS uniq,
           CAST(SUM(keep) AS BIGINT) AS nk
         FROM g GROUP BY source)
       SELECT source, n_docs, n_tokens, n_chars,
         CAST(1000 - (uniq * 1000) // n_docs AS BIGINT) AS dup_permille,
         CAST((nk * 1000) // n_docs AS BIGINT) AS keep_permille,
         CAST(n_tokens // n_docs AS BIGINT) AS mean_tokens
       FROM a ORDER BY source""",
    // x267: whitespace token counts bucketed by integer division, one
    // group-by, exact pad arithmetic
    "x267_batch_plan" ->
      """WITH t AS (SELECT LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS nt
           FROM documents),
       a AS (SELECT nt // 64 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(nt) AS BIGINT) AS max_tokens,
           CAST(SUM(nt) AS BIGINT) AS sum_tokens
         FROM t GROUP BY 1)
       SELECT CAST(bucket AS BIGINT) AS bucket,
         CAST(bucket * 64 AS BIGINT) AS lo_tokens,
         n_docs, max_tokens, sum_tokens,
         CAST(((n_docs * max_tokens - sum_tokens) * 1000)
           // (n_docs * max_tokens) AS BIGINT) AS pad_permille
       FROM a ORDER BY bucket""",
    // x268: backward as-of as a MAX-preceding-time group (the tie
    // choice cannot move the bucket — tied candidates share rt), exact
    // ns epochs, a CASE day ladder, histogram + 1-row total
    "x268_asof_staleness" ->
      """WITH l AS (SELECT event_id, user_id, epoch_ns(ts) AS lt
           FROM events WHERE event_type = 'purchase'),
         r AS (SELECT user_id, epoch_ns(ts) AS rt
           FROM events WHERE event_type = 'click'),
         m AS (SELECT l.event_id, l.lt AS lt, MAX(r.rt) AS rt
           FROM l LEFT JOIN r
             ON r.user_id = l.user_id AND r.rt <= l.lt
           GROUP BY 1, 2),
         b AS (SELECT CASE WHEN rt IS NULL THEN -1
             WHEN (lt - rt) // 86400000000000 < 1 THEN 0
             WHEN (lt - rt) // 86400000000000 < 7 THEN 1
             WHEN (lt - rt) // 86400000000000 < 30 THEN 2
             WHEN (lt - rt) // 86400000000000 < 90 THEN 3
             ELSE 4 END AS bucket FROM m),
         h AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows
           FROM b GROUP BY bucket),
         t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS tot FROM h)
       SELECT CAST(bucket AS BIGINT) AS bucket, n_rows,
         CAST((n_rows * 1000) // t.tot AS BIGINT) AS share_permille
       FROM h, t ORDER BY bucket""",
    // x269: global regexp strips as length differences, one source
    // rollup, guarded truncating permilles
    "x269_charclass_profile" ->
      """WITH m AS (SELECT source, CAST(LENGTH(text) AS BIGINT) AS nc,
           CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[A-Za-z]', '', 'g'))
             AS BIGINT) AS al,
           CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g'))
             AS BIGINT) AS di,
           CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS BIGINT) AS sp
         FROM documents),
       a AS (SELECT source, CAST(SUM(nc) AS BIGINT) AS n_chars,
           CAST(SUM(al) AS BIGINT) AS ca, CAST(SUM(di) AS BIGINT) AS cd,
           CAST(SUM(sp) AS BIGINT) AS cs
         FROM m GROUP BY source)
       SELECT source, n_chars,
         CAST(CASE WHEN n_chars = 0 THEN NULL
           ELSE (ca * 1000) // n_chars END AS BIGINT) AS alpha_permille,
         CAST(CASE WHEN n_chars = 0 THEN NULL
           ELSE (cd * 1000) // n_chars END AS BIGINT) AS digit_permille,
         CAST(CASE WHEN n_chars = 0 THEN NULL
           ELSE (cs * 1000) // n_chars END AS BIGINT) AS space_permille,
         CAST(CASE WHEN n_chars = 0 THEN NULL
           ELSE ((n_chars - ca - cd - cs) * 1000) // n_chars END
           AS BIGINT) AS other_permille
       FROM a ORDER BY source""",
    // x270: x01's min-id-per-digest survivors credited to their
    // source, shares and the exact HUGEINT restore rational
    "x270_mixture_restore" ->
      """WITH fp AS (SELECT doc_id, source, md5(text) AS f FROM documents),
         sv AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f),
         ps AS (SELECT fp.source AS source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN sv.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_survivors
           FROM fp LEFT JOIN sv ON fp.doc_id = sv.doc_id
           GROUP BY fp.source),
         t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
             CAST(SUM(n_survivors) AS BIGINT) AS ts FROM ps)
       SELECT source, n_docs, n_survivors,
         CAST((n_docs * 1000000) // t.td AS BIGINT) AS orig_share_ppm,
         CAST(CASE WHEN t.ts = 0 THEN NULL
           ELSE (n_survivors * 1000000) // t.ts END AS BIGINT) AS surv_share_ppm,
         CAST(CASE WHEN n_survivors = 0 THEN NULL
           ELSE (n_docs * t.ts * 1000000) // (n_survivors * t.td) END
           AS BIGINT) AS restore_factor_ppm
       FROM ps, t ORDER BY source""",
    // x271: identical planted shifts, per-user running-max lateness,
    // one aggregate row unpivoted by UNION ALL
    "x271_watermark_curve" ->
      """WITH k AS (SELECT user_id, event_id,
           epoch_us(CASE WHEN event_id % 97 = 0 THEN ts - INTERVAL 1 DAY
             WHEN event_id % 89 = 0 THEN ts - INTERVAL 10 MINUTE
             WHEN event_id % 83 = 0 THEN ts - INTERVAL 30 SECOND
             ELSE ts END) AS us
         FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       l AS (SELECT GREATEST(COALESCE(
           MAX(us) OVER (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - us,
           0), 0) AS late FROM k),
       a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
           CAST(SUM(CASE WHEN late > 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
           CAST(SUM(CASE WHEN late > 300000000 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
           CAST(SUM(CASE WHEN late > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS d3
         FROM l)
       SELECT * FROM (
         SELECT CAST(0 AS BIGINT) AS delay_us, n AS n_events, d0 AS n_dropped,
           CAST(CASE WHEN n = 0 THEN NULL ELSE (d0 * 1000000) // n END AS BIGINT) AS drop_ppm FROM a
         UNION ALL
         SELECT CAST(60000000 AS BIGINT), n, d1,
           CAST(CASE WHEN n = 0 THEN NULL ELSE (d1 * 1000000) // n END AS BIGINT) FROM a
         UNION ALL
         SELECT CAST(300000000 AS BIGINT), n, d2,
           CAST(CASE WHEN n = 0 THEN NULL ELSE (d2 * 1000000) // n END AS BIGINT) FROM a
         UNION ALL
         SELECT CAST(3600000000 AS BIGINT), n, d3,
           CAST(CASE WHEN n = 0 THEN NULL ELSE (d3 * 1000000) // n END AS BIGINT) FROM a)
       ORDER BY delay_us""",
    // x272: the x38 exact sweep at the loosest bar MATERIALIZED once,
    // per-pair and per-doc-max histograms read by correlated
    // threshold-table sums
    "x272_dedup_threshold_curve" ->
      s"""WITH ${graft.entry.EntryLib.shingleCtes(3)},
       sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       cm AS (SELECT s1.doc_id AS da, s2.doc_id AS db, COUNT(*) AS common
           FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
           GROUP BY 1, 2),
       exact AS MATERIALIZED (SELECT cm.da, cm.db,
           (cm.common * 1000) // (sa.sz + sb.sz - cm.common) AS jac
         FROM cm JOIN sizes sa ON cm.da = sa.doc_id
         JOIN sizes sb ON cm.db = sb.doc_id
         WHERE (cm.common * 1000) // (sa.sz + sb.sz - cm.common) >= 50),
       mx AS MATERIALIZED (SELECT doc_id, MAX(jac) AS m FROM (
           SELECT da AS doc_id, jac FROM exact
           UNION ALL SELECT db, jac FROM exact)
         GROUP BY 1),
       rs AS (SELECT UNNEST([50, 200, 500, 900]) AS threshold)
       SELECT CAST(threshold AS BIGINT) AS threshold,
         CAST((SELECT COUNT(*) FROM exact WHERE jac >= threshold)
           AS BIGINT) AS n_pairs,
         CAST((SELECT COUNT(*) FROM mx WHERE m >= threshold)
           AS BIGINT) AS n_docs_flagged
       FROM rs ORDER BY threshold""",
    // x273: the x233 quantize spelling, the dim2 Gram from one
    // vec-keyed self-join, HUGEINT trace/Frobenius, one-row PR
    "x273_effective_dim" ->
      """WITH e AS (SELECT vec_id, UNNEST(embedding) AS x,
           UNNEST(range(len(embedding))) AS i
         FROM embeddings WHERE embedding IS NOT NULL),
       q AS (SELECT vec_id, i,
           CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qq
         FROM e),
       g AS (SELECT a.i AS d, b.i AS e2, SUM(a.qq * b.qq) AS s
         FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       p AS (SELECT SUM(CASE WHEN d = e2 THEN s ELSE 0 END) AS tr,
           SUM(s * s) AS fr FROM g),
       n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(MAX(len(embedding)) AS BIGINT) AS dim
         FROM embeddings WHERE embedding IS NOT NULL)
       SELECT n.n_vectors, n.dim,
         CAST(CASE WHEN p.fr IS NULL OR p.fr = 0 THEN NULL
           ELSE (p.tr * p.tr * 1000) // p.fr END AS BIGINT) AS pr_milli
       FROM p, n""",
    // x274: the positional-gram chain (i 1-based — a Spark cut at
    // 0-based token p is gr row i = p + 1), content-defined starts,
    // 1-based list slices, md5 chunk digests, per-source rollup
    "x274_cdc_chunks" -> cdcOracle,
    // x289: the append LAW — the one-shot x274 oracle over the whole
    // corpus; the incremental merge must land on the same rows
    "x289_cdc_append" -> cdcOracle,
    // x290: the append LAW — standing pairs ∪ incremental arrival must
    // equal the one-shot x07 mining over the whole corpus (same text)
    "x290_pair_state" -> EntryLib.minHashLshOracle,
    // x296: the same closed form — exact ratio sort key
    // (avail·10¹⁵ // w), cross-multiplied capped prefix, water level
    // num/den off a one-row rollup, HUGEINT trunc division
    "x296_mixture_waterfill" ->
      """WITH wt(source, w) AS (VALUES
           ('src0', CAST(700000 AS BIGINT)), ('src1', CAST(200000 AS BIGINT)),
           ('src2', CAST(80000 AS BIGINT)), ('src3', CAST(20000 AS BIGINT))),
       av AS (SELECT source,
           SUM(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS a
         FROM documents GROUP BY source),
       base AS (SELECT wt.source, wt.w,
           CAST(COALESCE(av.a, 0) AS BIGINT) AS a
         FROM wt LEFT JOIN av USING (source)),
       k AS (SELECT *,
           (CAST(a AS HUGEINT) * 1000000000000000) // w AS rk FROM base),
       c AS (SELECT *,
           SUM(a) OVER (ORDER BY rk, source) AS cumA,
           SUM(w) OVER (ORDER BY rk, source) AS cumW,
           SUM(w) OVER () AS totW FROM k),
       f AS (SELECT *, CASE WHEN CAST(a AS HUGEINT) * (totW - cumW)
             <= CAST(w AS HUGEINT) * (4000 - cumA) THEN 1 ELSE 0 END
           AS capped FROM c),
       l AS (SELECT GREATEST(4000 - COALESCE(
             SUM(CASE WHEN capped = 1 THEN a END), 0), 0) AS num,
           COALESCE(SUM(CASE WHEN capped = 0 THEN w END), 0) AS den FROM f)
       SELECT f.source, CAST(f.w AS BIGINT) AS weight_ppm,
         f.a AS available_tokens,
         CAST(CASE WHEN f.capped = 1 THEN f.a
           ELSE (CAST(f.w AS HUGEINT) * l.num) // l.den END AS BIGINT)
           AS allocated_tokens,
         CAST(f.capped AS BIGINT) AS capped
       FROM f CROSS JOIN l ORDER BY f.source""",
    // x295: the x07 pair CTEs + the x34 recursive closure + the x42
    // md5 split CASE, majority election as a (count DESC,
    // declared-order) row_number, movers only
    "x295_split_repair" -> {
      def split(key: String) =
        s"""CASE WHEN CAST('0x' || substr(md5(CAST($key AS VARCHAR)), 1, 15)
              AS BIGINT) % 1000 < 900 THEN 'train'
            WHEN CAST('0x' || substr(md5(CAST($key AS VARCHAR)), 1, 15)
              AS BIGINT) % 1000 < 950 THEN 'val' ELSE 'test' END"""
      s"""WITH RECURSIVE ${EntryLib.minHashPairsCtes},
       sym AS (SELECT da AS s, db AS d FROM pairs
               UNION SELECT db AS s, da AS d FROM pairs),
       verts AS (SELECT DISTINCT s AS v FROM sym),
       reach AS (SELECT v AS a, v AS b FROM verts
                 UNION SELECT r.a, s.d FROM reach r JOIN sym s ON r.b = s.s),
       lab AS (SELECT a AS id, CAST(MIN(b) AS BIGINT) AS cl
         FROM reach GROUP BY a),
       ws AS (SELECT id, cl, ${split("id")} AS fs FROM lab),
       cn AS (SELECT cl, fs, COUNT(*) AS c FROM ws GROUP BY 1, 2),
       tg AS (SELECT cl, fs AS ts FROM (SELECT cl, fs,
           ROW_NUMBER() OVER (PARTITION BY cl ORDER BY c DESC,
             CASE fs WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2 END) AS rn
         FROM cn) WHERE rn = 1)
       SELECT ws.id AS doc_id, ws.cl AS cluster_id, ws.fs AS from_split,
         tg.ts AS to_split
       FROM ws JOIN tg ON ws.cl = tg.cl WHERE ws.fs <> tg.ts
       ORDER BY doc_id"""
    },
    // x294: the same 60-bit md5 digests and md5 bucket assignment,
    // HUGEINT sums published mod 10¹⁸, full-outer bucket join
    "x294_bucket_checksum" ->
      """WITH oldd AS (SELECT c_custkey AS k, c_name AS v1,
           c_mktsegment AS v2 FROM customer),
       newd AS (SELECT c_custkey AS k, c_name AS v1,
           CASE WHEN c_custkey % 97 = 5 THEN 'SHIFTED' ELSE c_mktsegment END AS v2
         FROM customer WHERE c_custkey % 89 <> 7
         UNION ALL
         SELECT c_custkey + 2000000, c_name, c_mktsegment
         FROM customer WHERE c_custkey < 10),
       od AS (SELECT
           CAST('0x' || substr(md5(k || chr(1) || v1 || chr(1) || v2), 1, 15)
             AS BIGINT) AS d,
           CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
             % 32 AS bucket FROM oldd),
       nd AS (SELECT
           CAST('0x' || substr(md5(k || chr(1) || v1 || chr(1) || v2), 1, 15)
             AS BIGINT) AS d,
           CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
             % 32 AS bucket FROM newd),
       oa AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_old,
           SUM(d) AS so FROM od GROUP BY 1),
       na AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_new,
           SUM(d) AS sn FROM nd GROUP BY 1)
       SELECT COALESCE(oa.bucket, na.bucket) AS bucket,
         CAST(COALESCE(n_old, 0) AS BIGINT) AS n_old,
         CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
         CAST(COALESCE(so, 0) % 1000000000000000000 AS BIGINT)
           AS old_checksum,
         CAST(COALESCE(sn, 0) % 1000000000000000000 AS BIGINT)
           AS new_checksum,
         CAST(CASE WHEN COALESCE(n_old, 0) = COALESCE(n_new, 0)
             AND COALESCE(so, 0) % 1000000000000000000
               = COALESCE(sn, 0) % 1000000000000000000
           THEN 1 ELSE 0 END AS BIGINT) AS in_sync
       FROM oa FULL OUTER JOIN na ON oa.bucket = na.bucket
       ORDER BY bucket""",
    // x292: the literal Q3 star with per-row exact cents, top-10 by
    // (revenue DESC, orderkey)
    "x292_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
           AS BIGINT)) AS BIGINT) AS revenue_cents
       FROM customer, orders, lineitem
       WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
         AND o_orderkey = l_orderkey
         AND o_orderdate < TIMESTAMP '1998-06-01'
         AND l_shipdate > TIMESTAMP '1998-06-01'
       GROUP BY 1, 2, 3
       ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""",
    // x293: the x156 deletion-variant join (probe ids at +10⁶), the
    // x34 recursive closure, then per-attribute election as a
    // (count DESC, value) row_number over the (entity, value) counts
    "x293_golden_record" ->
      """WITH RECURSIVE
       b AS (SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name
         FROM customer WHERE c_name IS NOT NULL),
       p AS (SELECT CAST(c_custkey + 1000000 AS BIGINT) AS id,
           substr(c_name, 1, 17) || 'X' AS name
         FROM customer WHERE c_custkey % 7 = 3 AND c_name IS NOT NULL),
       bv AS (SELECT id, name, name AS v FROM b
         UNION ALL
         SELECT id, name, substr(name, 1, CAST(i AS INTEGER)) ||
           substr(name, CAST(i + 2 AS INTEGER)) AS v
         FROM (SELECT id, name, UNNEST(range(0, len(name))) AS i FROM b)),
       pv AS (SELECT id, name, name AS v FROM p
         UNION ALL
         SELECT id, name, substr(name, 1, CAST(i AS INTEGER)) ||
           substr(name, CAST(i + 2 AS INTEGER)) AS v
         FROM (SELECT id, name, UNNEST(range(0, len(name))) AS i FROM p)),
       cand AS (SELECT DISTINCT bv.id AS da, pv.id AS db,
           bv.name AS na, pv.name AS nb FROM bv JOIN pv ON bv.v = pv.v),
       pairs AS (SELECT da, db FROM cand WHERE levenshtein(na, nb) <= 1),
       recs AS (SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name,
           c_mktsegment AS seg FROM customer
         UNION ALL
         SELECT CAST(c_custkey + 1000000 AS BIGINT),
           substr(c_name, 1, 17) || 'X', c_mktsegment
         FROM customer WHERE c_custkey % 7 = 3),
       sym AS (SELECT da AS s, db AS d FROM pairs
               UNION SELECT db AS s, da AS d FROM pairs),
       verts AS (SELECT DISTINCT s AS v FROM sym),
       reach AS (SELECT v AS a, v AS b FROM verts
                 UNION SELECT r.a, s.d FROM reach r JOIN sym s ON r.b = s.s),
       lab AS (SELECT a AS id, CAST(MIN(b) AS BIGINT) AS cl
         FROM reach GROUP BY a),
       fullr AS (SELECT r.id, COALESCE(l.cl, r.id) AS cl, r.name, r.seg
         FROM recs r LEFT JOIN lab l ON r.id = l.id),
       cnt AS (SELECT cl, CAST(COUNT(*) AS BIGINT) AS n_members
         FROM fullr GROUP BY cl),
       nc AS (SELECT cl, name, COUNT(*) AS c FROM fullr
         WHERE name IS NOT NULL GROUP BY 1, 2),
       ne AS (SELECT cl, name FROM (SELECT cl, name,
           ROW_NUMBER() OVER (PARTITION BY cl ORDER BY c DESC, name) AS rn
         FROM nc) WHERE rn = 1),
       sc AS (SELECT cl, seg, COUNT(*) AS c FROM fullr
         WHERE seg IS NOT NULL GROUP BY 1, 2),
       se AS (SELECT cl, seg FROM (SELECT cl, seg,
           ROW_NUMBER() OVER (PARTITION BY cl ORDER BY c DESC, seg) AS rn
         FROM sc) WHERE rn = 1)
       SELECT cnt.cl AS entity_id, cnt.n_members, ne.name AS c_name,
         se.seg AS c_mktsegment
       FROM cnt LEFT JOIN ne ON cnt.cl = ne.cl
            LEFT JOIN se ON cnt.cl = se.cl
       ORDER BY entity_id""",
    // x291: the append LAW — standing labels + new pairs must land on
    // the one-shot x34 cluster fixpoint (same text)
    "x291_cluster_refresh" -> EntryLib.dupClustersOracle,
  ) ++ Map(
    // x275: the x113 replay twice — prefix pass, then the identical
    // machinery on reverse(name) — union distinct (levenshtein is
    // reversal-invariant, so the verify carries over)
    "x275_multipass_linkage" ->
      """WITH probe AS (
           SELECT c_custkey AS id, substr(c_name, 1, 17) || 'X' AS name
             FROM customer WHERE c_custkey % 7 = 3
           UNION ALL
           SELECT c_custkey, 'Z' || substr(c_name, 2)
             FROM customer WHERE c_custkey % 11 = 5),
         u1 AS (SELECT c_custkey AS id, c_name AS name, 'base' AS side
             FROM customer
           UNION ALL SELECT id, name, 'probe' FROM probe),
         r1 AS (SELECT *, substr(name, 1, 16) AS blk,
             ROW_NUMBER() OVER (PARTITION BY substr(name, 1, 16)
               ORDER BY name, side, id) AS rn
           FROM u1),
         p1 AS (SELECT
             CASE WHEN a.side = 'base' THEN a.id ELSE b.id END AS base_id,
             CASE WHEN a.side = 'base' THEN b.id ELSE a.id END AS probe_id,
             CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
           FROM r1 a JOIN r1 b
             ON a.blk = b.blk AND b.rn BETWEEN a.rn + 1 AND a.rn + 8
           WHERE a.side <> b.side AND levenshtein(a.name, b.name) <= 1),
         u2 AS (SELECT c_custkey AS id, reverse(c_name) AS name,
             'base' AS side FROM customer
           UNION ALL SELECT id, reverse(name), 'probe' FROM probe),
         r2 AS (SELECT *, substr(name, 1, 16) AS blk,
             ROW_NUMBER() OVER (PARTITION BY substr(name, 1, 16)
               ORDER BY name, side, id) AS rn
           FROM u2),
         p2 AS (SELECT
             CASE WHEN a.side = 'base' THEN a.id ELSE b.id END AS base_id,
             CASE WHEN a.side = 'base' THEN b.id ELSE a.id END AS probe_id,
             CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
           FROM r2 a JOIN r2 b
             ON a.blk = b.blk AND b.rn BETWEEN a.rn + 1 AND a.rn + 8
           WHERE a.side <> b.side AND levenshtein(a.name, b.name) <= 1)
       SELECT DISTINCT base_id, probe_id, dist
       FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
       ORDER BY base_id, probe_id""",
    // x276: the append LAW — the one-shot x273 oracle over the whole
    // corpus; the incremental merge must land on the same row
    "x276_gram_append" ->
      """WITH e AS (SELECT vec_id, UNNEST(embedding) AS x,
           UNNEST(range(len(embedding))) AS i
         FROM embeddings WHERE embedding IS NOT NULL),
       q AS (SELECT vec_id, i,
           CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qq
         FROM e),
       g AS (SELECT a.i AS d, b.i AS e2, SUM(a.qq * b.qq) AS s
         FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       p AS (SELECT SUM(CASE WHEN d = e2 THEN s ELSE 0 END) AS tr,
           SUM(s * s) AS fr FROM g),
       n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(MAX(len(embedding)) AS BIGINT) AS dim
         FROM embeddings WHERE embedding IS NOT NULL)
       SELECT n.n_vectors, n.dim,
         CAST(CASE WHEN p.fr IS NULL OR p.fr = 0 THEN NULL
           ELSE (p.tr * p.tr * 1000) // p.fr END AS BIGINT) AS pr_milli
       FROM p, n""",
    // x277: one key count, the budget filter, ceiling division
    "x277_salt_plan" ->
      """WITH a AS (SELECT CAST(event_type AS VARCHAR) AS key,
           CAST(COUNT(*) AS BIGINT) AS n_rows
         FROM events WHERE event_type IS NOT NULL GROUP BY 1)
       SELECT key, n_rows, CAST((n_rows + 99) // 100 AS BIGINT) AS n_salts
       FROM a WHERE n_rows > 100 ORDER BY key""",
    // x278: (day, user) counts, the (n DESC, user ASC) rank, carry
    // join keyed to the previous OBSERVED day (the lag day — calendar
    // gaps compare against the last day with events, not day−1),
    // lag over the bounded day grid
    "x278_topk_churn" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day, user_id,
           COUNT(*) AS n
         FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
         GROUP BY 1, 2),
       r AS (SELECT day, user_id, ROW_NUMBER() OVER (PARTITION BY day
           ORDER BY n DESC, user_id) AS rn FROM d),
       top AS (SELECT day, user_id FROM r WHERE rn <= 10),
       days AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_top
         FROM top GROUP BY 1),
       pd AS (SELECT day, n_top, LAG(day) OVER (ORDER BY day) AS prev
         FROM days),
       ov AS (SELECT b.day AS day, CAST(COUNT(*) AS BIGINT) AS c
         FROM top a JOIN top b ON a.user_id = b.user_id
           JOIN pd ON pd.day = b.day AND a.day = pd.prev
         GROUP BY 1)
       SELECT pd.day AS day, pd.n_top,
         CAST(COALESCE(ov.c, 0) AS BIGINT) AS n_carry,
         CAST(1000 - (COALESCE(ov.c, 0) * 1000) // pd.n_top AS BIGINT)
           AS churn_permille
       FROM pd LEFT JOIN ov ON pd.day = ov.day
       WHERE pd.prev IS NOT NULL ORDER BY day""",
    // x280: four one-row aggregate selects over leave-one-out
    // groupings, UNION ALL
    "x280_kanon_plan" -> {
      val qis = Seq("c_nationkey", "c_mktsegment", "bal_band")
      val opts = ("(none)", qis) +: qis.map(c => (c, qis.filterNot(_ == c)))
      val selects = opts.map { case (dropped, cols) =>
        s"""SELECT '$dropped' AS dropped,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(n) AS BIGINT) AS min_class_size,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk
         FROM (SELECT COUNT(*) AS n FROM cust
           GROUP BY ${cols.mkString(", ")})"""
      }.mkString(" UNION ALL ")
      s"""WITH cust AS (SELECT c_nationkey, c_mktsegment,
           CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band
         FROM customer)
       SELECT * FROM ($selects) ORDER BY dropped"""
    },
    // x281: token f-of-f ladder with exclusive running sums, one
    // straddling-row range join per candidate size
    "x281_vocab_size_curve" ->
      """WITH tok AS (SELECT UNNEST(string_split(text, ' ')) AS tok
           FROM documents),
         cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok GROUP BY 1),
         fof AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS nt
           FROM cnt GROUP BY 1),
         lad AS (SELECT c, nt,
             CAST(COALESCE(SUM(nt) OVER (ORDER BY c DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tok_before,
             CAST(COALESCE(SUM(nt * c) OVER (ORDER BY c DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS mass_before
           FROM fof),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
             CAST(SUM(c) AS BIGINT) AS total_mass FROM cnt),
         rs AS (SELECT UNNEST([2, 4, 8, 16]) AS v)
       SELECT CAST(rs.v AS BIGINT) AS vocab_size,
         CAST(LEAST(rs.v, tot.n_vocab) AS BIGINT) AS n_tokens_kept,
         CAST(COALESCE(l.mass_before + (rs.v - l.tok_before) * l.c,
           tot.total_mass) AS BIGINT) AS covered_mass,
         CAST(CASE WHEN tot.total_mass = 0 THEN NULL
           ELSE (COALESCE(l.mass_before + (rs.v - l.tok_before) * l.c,
             tot.total_mass) * 1000) // tot.total_mass END
           AS BIGINT) AS coverage_permille
       FROM rs CROSS JOIN tot
       LEFT JOIN lad l
         ON rs.v > l.tok_before AND rs.v <= l.tok_before + l.nt
       ORDER BY vocab_size""",
    // x282: the SAME query text — the Spark side plans LeftSemi via
    // the custom rule; a hash match proves semantics preserved
    "x282_semi_rewrite" ->
      """WITH ev AS (SELECT user_id FROM events GROUP BY user_id)
       SELECT o.o_orderpriority AS o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
       FROM orders o JOIN ev ON o.o_custkey = ev.user_id
       GROUP BY 1 ORDER BY 1""",
    // x288: the x09 double cosine spelling over the slice's a<b pairs,
    // permille rounding, two histograms read by correlated sums
    "x288_cosine_threshold_curve" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
       pl AS (SELECT vec_id + 1000000 AS vec_id,
           list_transform(list_zip(embedding, list_reverse(embedding)),
             p -> CAST(CAST(p[1] AS DOUBLE)
               + 0.1 * (1 + vec_id % 4) * CAST(p[2] AS DOUBLE)
               AS FLOAT)) AS embedding
         FROM base WHERE vec_id < 64),
       un AS (SELECT vec_id, embedding FROM base
         UNION ALL SELECT vec_id, embedding FROM pl),
       s AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         FROM un WHERE vec_id % 5 = 0),
       p AS (SELECT a.vec_id AS da, b.vec_id AS db,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(list_zip(a.v, b.v), q -> q[1] * q[2])),
             (x, y) -> x + y) AS d,
           sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(a.v, x -> x * x)), (x, y) -> x + y)) *
           sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(b.v, x -> x * x)), (x, y) -> x + y)) AS n
         FROM s a, s b WHERE a.vec_id < b.vec_id),
       sc AS MATERIALIZED (SELECT da, db,
           CAST(FLOOR((CASE WHEN n = 0 THEN 0.0 ELSE d / n END) * 1000
             + 0.5) AS BIGINT) AS cp
         FROM p),
       ph AS (SELECT cp, CAST(COUNT(*) AS BIGINT) AS np
         FROM sc GROUP BY 1),
       mx AS (SELECT id, MAX(cp) AS m FROM (
           SELECT da AS id, cp FROM sc UNION ALL SELECT db, cp FROM sc)
         GROUP BY 1),
       rs AS (SELECT UNNEST([930, 960, 980, 990]) AS threshold)
       SELECT CAST(threshold AS BIGINT) AS threshold,
         CAST(COALESCE((SELECT SUM(np) FROM ph WHERE cp >= threshold), 0)
           AS BIGINT) AS n_pairs,
         CAST((SELECT COUNT(*) FROM mx WHERE m >= threshold)
           AS BIGINT) AS n_vecs_flagged
       FROM rs ORDER BY threshold""",
    // x287: per ordered pair one (a,b) count, per-a argmax mass, one
    // fold — UNION ALL of six one-row selects
    "x287_fd_discovery" -> {
      val cols = Seq("c_nationkey", "n_name", "c_mktsegment")
      val pairs = for { a <- cols; b <- cols if a != b } yield (a, b)
      val selects = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS lhs, '$b' AS rhs,
           CAST(COUNT(*) AS BIGINT) AS n_lhs_values,
           CAST(CASE WHEN SUM(tot) = 0 THEN NULL
             ELSE (SUM(best) * 1000000) // SUM(tot) END
             AS BIGINT) AS confidence_ppm
         FROM (SELECT MAX(n) AS best, SUM(n) AS tot FROM (
             SELECT $a, $b, COUNT(*) AS n FROM j GROUP BY 1, 2)
           GROUP BY $a)"""
      }.mkString(" UNION ALL ")
      s"""WITH j AS (SELECT c_nationkey, n_name, c_mktsegment
           FROM customer JOIN nation ON c_nationkey = n_nationkey)
       SELECT * FROM ($selects) ORDER BY lhs, rhs"""
    },
    // x285: the literal Q5 join tree, the repo cents spelling
    "x285_regional_revenue" ->
      """SELECT n_name,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
           AS BIGINT)) AS BIGINT) AS revenue_cents,
         CAST(COUNT(*) AS BIGINT) AS n_lineitems
       FROM lineitem, orders, customer, supplier, nation, region
       WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
         AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'ASIA'
       GROUP BY 1 ORDER BY revenue_cents DESC, n_name""",
    // x286: distinct buyers left-joined to banded customers, one band
    // rollup crossed with its total, HUGEINT-exact lift rational
    "x286_lift_table" ->
      """WITH pos AS (SELECT DISTINCT o_custkey AS k FROM orders),
         per AS (SELECT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band,
             CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(CASE WHEN pos.k IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_positive
           FROM customer LEFT JOIN pos ON c_custkey = pos.k
           GROUP BY 1),
         t AS (SELECT CAST(SUM(n_total) AS BIGINT) AS tt,
             CAST(SUM(n_positive) AS BIGINT) AS tp FROM per)
       SELECT band, n_total, n_positive,
         CAST((n_positive * 1000000) // n_total AS BIGINT) AS rate_ppm,
         CAST(CASE WHEN t.tp = 0 THEN NULL
           ELSE (n_positive * t.tt * 1000) // (n_total * t.tp) END
           AS BIGINT) AS lift_milli
       FROM per, t ORDER BY band""",
    // x283: the x07 pair CTEs + two id-keyed source joins, canonical
    // LEAST/GREATEST pair order, one matrix rollup
    "x283_neardup_sources" ->
      s"""WITH ${graft.entry.EntryLib.minHashPairsCtes},
       src AS (SELECT doc_id, source FROM documents),
       m AS (SELECT LEAST(a.source, b.source) AS source_a,
           GREATEST(a.source, b.source) AS source_b
         FROM pairs p JOIN src a ON p.da = a.doc_id
         JOIN src b ON p.db = b.doc_id)
       SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
       FROM m GROUP BY 1, 2 ORDER BY 1, 2""",
    // x284: three key-filtered one-row aggregates, UNION ALL
    "x284_subject_access" ->
      """SELECT * FROM (
         SELECT 'customer' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(NULL AS BIGINT) AS first_us, CAST(NULL AS BIGINT) AS last_us
         FROM customer WHERE c_custkey = 42
         UNION ALL
         SELECT 'events', CAST(COUNT(*) AS BIGINT),
           CAST(MIN(epoch_us(ts)) AS BIGINT),
           CAST(MAX(epoch_us(ts)) AS BIGINT)
         FROM events WHERE user_id = 42
         UNION ALL
         SELECT 'orders', CAST(COUNT(*) AS BIGINT),
           CAST(MIN(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT),
           CAST(MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT)
         FROM orders WHERE o_custkey = 42)
       ORDER BY table_name""",
    // x279: the engine feature Spark lacks, verbatim — the oracle IS a
    // recursive CTE over the same derived edge set
    "x279_hierarchy_flatten" ->
      """WITH RECURSIVE e AS (
           SELECT doc_id AS child, doc_id // 10 AS parent
           FROM documents WHERE doc_id >= 1),
         anc AS (
           SELECT child AS node, parent AS ancestor,
             CAST(1 AS BIGINT) AS depth FROM e
           UNION ALL
           SELECT a.node, e.parent, a.depth + 1
           FROM anc a JOIN e ON a.ancestor = e.child
           WHERE a.depth < 3)
       SELECT node, ancestor, depth FROM anc
       ORDER BY node, depth, ancestor""",
  )

  /** Shared by x274 (one-shot) and x289 (the append law: the
    * incremental merge must land on the SAME rows this one-shot SQL
    * computes over the whole corpus). */
  private def cdcOracle: String = {
    val src = "(SELECT * FROM documents WHERE text IS NOT NULL)"
    s"""WITH ${graft.entry.EntryLib.gramCtes(3, src)},
       cutl AS (SELECT doc_id, list(i ORDER BY i) AS cuts
           FROM gr WHERE i > 1 AND h % 16 = 0 GROUP BY doc_id),
       base AS (SELECT t.doc_id, d.source, t.ts,
           list_prepend(CAST(1 AS BIGINT), COALESCE(c.cuts, [])) AS starts,
           CAST(len(t.ts) + 1 AS BIGINT) AS fin
         FROM toks t JOIN documents d ON t.doc_id = d.doc_id
         LEFT JOIN cutl c ON t.doc_id = c.doc_id),
       ex AS (SELECT doc_id, source, ts, starts, fin,
           UNNEST(range(1, len(starts) + 1)) AS j FROM base),
       chk AS (SELECT source,
           (CASE WHEN j < len(starts) THEN starts[j + 1] ELSE fin END)
             - starts[j] AS nt,
           md5(array_to_string(ts[starts[j] :
             (CASE WHEN j < len(starts) THEN starts[j + 1] ELSE fin END) - 1],
             ' ')) AS fp
         FROM ex),
       a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(nt) AS BIGINT) AS n_chunk_tokens,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS uniq
         FROM chk GROUP BY source)
       SELECT source, n_chunks, n_chunk_tokens,
         CAST(1000 - (uniq * 1000) // n_chunks AS BIGINT) AS dup_permille,
         CAST(n_chunk_tokens // n_chunks AS BIGINT) AS mean_chunk_tokens
       FROM a ORDER BY source"""
  }
}

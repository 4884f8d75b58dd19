package graft

import org.apache.spark.sql.DataFrame
import graft.queries.Relational

/** Physical-plan regression guards: these assert the plan SHAPE that
  * makes each query scale — pushdown reaching the scan, dimension
  * broadcasts, top-k short-circuits. A change that silently loses one
  * of these properties would still be correct at test scale and
  * disastrous at 100 TB; this suite is where it fails instead. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q03: both predicates push down to the parquet scan") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // the same query over an explicit schema: passing one loses
    // neither pushdown nor pruning (the Tables scaladoc relies on this)
    val path = s"$sf/lineitem.parquet"
    val explicit = spark.read.schema(spark.read.parquet(path).schema).parquet(path)
      .filter(col("l_quantity") > 45.0 && col("l_returnflag") === "R")
      .agg(count(lit(1)).as("n"))
    for (p <- Seq(plan(Relational.q03FilterPred(spark, sf)), plan(explicit))) {
      assert(p.contains("PushedFilters: [IsNotNull(l_quantity), IsNotNull(l_returnflag), GreaterThan(l_quantity,45.0)"))
      assert(p.contains("ReadSchema: struct<l_quantity:double,l_returnflag:string>"),
        "scan must be pruned to exactly the two referenced columns")
    }
  }

  test("q06: both dimension joins broadcast — zero shuffles before the agg") {
    val p = plan(Relational.q06MultiJoin(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size === 2)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q08: EXISTS plans as a semi join with the filter below the join") {
    val p = plan(Relational.q08SemiJoin(spark, sf))
    assert(p.contains("LeftSemi"))
    assert(p.contains("GreaterThanOrEqual(l_quantity,49.0)"),
      "the quantity predicate must reach the lineitem scan, not sit above the join")
  }

  test("q09: cast-to-date filter is rewritten into a pushable timestamp range") {
    val p = plan(Relational.q09Tpch1Agg(spark, sf))
    assert(p.contains("LessThan(l_shipdate"), "date filter must push to the scan")
    assert(p.contains("partial_sum"), "aggregation must be partial+final (map-side combine)")
  }

  test("q14: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.q14TopkSort(spark, sf))
    assert(p.contains("TakeOrderedAndProject(limit=10"))
    assert(!p.contains("rangepartitioning"), "no global sort exchange for a bounded top-k")
  }

  test("x215/x09-native: scored pairs fold through a partial topk_pairs agg, never a window") {
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.embeddings(spark, sf)
    val p = plan(graft.operators.Similarity.cosineTopKNative(
      emb.filter(col("vec_id") < 10), emb, k = 5))
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_topk_pairs"),
      "per-query top-k must pre-reduce map-side — a rank window would " +
        "shuffle every scored pair")
    assert(!p.contains("Window"),
      "no rank window over the unbounded scored set")
  }

  test("q02: projection prunes the lineitem scan to 4 of 11 columns") {
    val p = plan(Relational.q02ProjectCents(spark, sf))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double,l_discount:double>"))
  }

  test("q01: count(*) over parquet never reads data columns") {
    val p = plan(Relational.q01Count(spark, sf))
    assert(p.contains("ReadSchema: struct<>"),
      "bare count should read only parquet footers/row-group metadata")
  }

  test("x33: nearest as-of computes both directions from ONE shuffle") {
    val p = plan(Relational.asofNearest(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    // one hash exchange feeds BOTH direction windows (the forward leg
    // re-sorts within partitions on the reversed time order — a Sort,
    // never a second Exchange; the final presentation sort's range
    // exchange is separate)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"nearest must not shuffle per direction:\n$p")
    assert(p.contains("max_by"), "backward champion must ride max_by")
    // the forward champion must be a running (unboundedpreceding)
    // frame over the REVERSED sort — an unboundedfollowing frame is
    // Spark's O(n²) per-group path
    assert(!p.toLowerCase.contains("unboundedfollowing"),
      s"forward leg must not use the quadratic unbounded-following frame:\n$p")
    assert(p.contains("__t#") && p.contains("DESC"),
      s"forward leg should sort time-reversed:\n$p")
  }

  test("x23: embedding near-dup is a signature equi-join on native lsh_sig") {
    val p = plan(SparkEntry.queries("x23_embed_neardup")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "LSH self-join must never degrade to an all-pairs join")
    assert(p.contains("lsh_sig"), "bucketing must use the native signature expression")
  }

  test("x38: exact sweep is an equi-join with partial-aggregated group counts") {
    val p = plan(SparkEntry.queries("x38_jaccard_sweep")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "the sweep joins on the shingle hash, never all pairs")
    // common counts are two-phase: partial on the join output, final
    // after the (da, db) shuffle — the map-side combine is what bounds
    // the shuffled bytes by groups, not join rows
    assert(p.contains("partial_count"), s"expected a partial aggregation:\n$p")
  }

  test("x40: packing window is partitioned by shard, not a single global window") {
    val p = plan(SparkEntry.queries("x40_pack_sequences")(spark, sf))
    assert(p.contains("Window"), "packing must use a window, not a collect")
    assert(!p.contains("SinglePartition"),
      s"a global (unsharded) running sum would serialize the corpus through one task:\n$p")
  }

  test("x41: contamination broadcasts the benchmark side only") {
    val p = plan(SparkEntry.queries("x41_contamination")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark shingles must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the corpus side must never shuffle for the join")
  }
  test("x65: containment is an equi-join on shingle hashes, never all pairs") {
    val p = plan(SparkEntry.queries("x65_containment")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "containment candidates come from the inverted index, not a cross join")
    assert(p.contains("partial_count"),
      s"common counts must partial-aggregate map-side:\n$p")
  }

  test("x68: shared runs equi-join on gram hashes; islands window keyed per diagonal") {
    val p = plan(SparkEntry.queries("x68_shared_runs")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "positional hits come from the gram equi-join, not a cross join")
    assert(p.contains("Window"), "islands detection must be a window, not a collect")
    assert(!p.contains("SinglePartition"),
      s"the islands window is keyed by (pair, diagonal) — a global window would serialize:\n$p")
  }
  test("x73: semantic dedup pairs come from the cluster equi-join, never all pairs") {
    val p = plan(SparkEntry.queries("x73_semantic_dedup")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the pairwise pass must be bounded by the k-means cells:\n$p")
    Harness.release(spark, blocking = false)
  }
  test("x74: prefix-filtered containment never goes quadratic") {
    val p = plan(SparkEntry.queries("x74_containment_prefix")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"candidates come from the prefix equi-join:\n$p")
    Harness.release(spark, blocking = false)
  }

  test("x108: bloom prune is a scan-side predicate below the anti-join") {
    val p = plan(SparkEntry.queries("x108_bloom_newdocs")(spark, sf))
    assert(p.contains("might_contain"),
      s"the sketch membership test must appear as a filter predicate:\n$p")
    assert(p.contains("LeftAnti"),
      "the residual exact check is still an anti-join (on the pruned side)")
  }

  test("x109: funnel step scans push the event_type predicate down") {
    val p = plan(SparkEntry.queries("x109_funnel")(spark, sf))
    assert(p.contains("EqualTo(event_type,view)"),
      s"each step's type filter must reach the parquet scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("x112: gap-fill neighbour windows are user-partitioned, never global") {
    val p = plan(SparkEntry.queries("x112_gapfill")(spark, sf))
    assert(p.contains("Window"), "neighbour scans must be windows, not joins")
    assert(!p.contains("SinglePartition"),
      s"a global window would serialize the grid through one task:\n$p")
  }

  test("x113: linkage candidates come from the (block, rn) equi-join, never all pairs") {
    val p = plan(SparkEntry.queries("x113_sorted_linkage")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the n·w candidate band must be an equi-join:\n$p")
    assert(p.contains("levenshtein"),
      "the distance gate runs on banded candidates only")
  }

  test("x114: skip-gram pairs derive row-locally — a Generate, never a join or window") {
    val p = plan(SparkEntry.queries("x114_skipgram")(spark, sf))
    assert(p.contains("Generate"),
      s"pair derivation must be the exploded HOF chain riding the scan:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"a positional self-join would shuffle the corpus twice:\n$p")
    assert(!p.contains("Window"),
      "no window function belongs in the pair derivation")
  }

  test("x117: path mining windows are user-partitioned and the cut is TakeOrdered") {
    val p = plan(SparkEntry.queries("x117_event_paths")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-k cut must never be a global sort:\n$p")
    assert(p.contains("Window") && !p.contains("SinglePartition"),
      s"the lead derivation must be a user-PARTITIONed window:\n$p")
  }

  test("x118: debounce is one keyed window, never a single partition") {
    val p = plan(SparkEntry.queries("x118_debounce")(spark, sf))
    assert(p.contains("Window") && !p.contains("SinglePartition"),
      s"the lag must run user×type-partitioned:\n$p")
    assert(!p.contains("Join"), "no self-join belongs in the lag rule")
  }

  test("x121: attribution is the one-shuffle as-of shape, never a range join") {
    val p = plan(SparkEntry.queries("x121_attribution")(spark, sf))
    assert(p.contains("Window"),
      s"the champion must ride the as-of running window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"a range-exploded or nested-loop join defeats the as-of composition:\n$p")
  }

  test("x122: rolling actives explode+groupBy, no distinct-over-range window") {
    val p = plan(SparkEntry.queries("x122_rolling_actives")(spark, sf))
    assert(p.contains("Generate"),
      s"the contribution explode must appear:\n$p")
    assert(!p.contains("Window"),
      s"a distinct-over-range window would re-aggregate per row:\n$p")
  }

  test("x125: the unused unique-keyed left join is eliminated from the plan") {
    val df = SparkEntry.queries("x125_join_elim")(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("Join"),
      s"RedundantLeftJoinElimination must drop the unused join:\n$p")
    assert(!p.contains("customer"),
      s"the eliminated side's scan must vanish with it:\n$p")
  }

  test("x282: the plain inner join to the unique event-user side plans LeftSemi") {
    val df = SparkEntry.queries("x282_semi_rewrite")(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("LeftSemi"),
      s"InnerUniqueJoinToSemi must rewrite the filter join:\n$p")
    assert(!p.contains(" Inner"),
      s"no inner join may remain in the filter path:\n$p")
  }

  test("x119: FK audit orphans come from anti-joins over de-duplicated keys") {
    val p = plan(SparkEntry.queries("x119_fk_audit")(spark, sf))
    assert(p.contains("LeftAnti"),
      s"orphan detection must be an anti-join:\n$p")
    // the parent side must aggregate to distinct keys below the join
    // (key bytes shuffle, parent rows never do); the only nested-loop
    // joins in the plan are the 1×1 scalar combines
    assert(p.contains("HashAggregate"),
      s"parent keys must be de-duplicated before the anti-join:\n$p")
  }

  private def logicalWindows(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }

  test("x126: per-id lag is bucket-partitioned; the un-partitioned window reads the bucket summary") {
    val wins = logicalWindows(SparkEntry.queries("x126_id_gaps")(spark, sf))
    assert(wins.size === 2, s"expected the two-level decomposition, got ${wins.size} windows")
    val (unpart, part) = wins.partition(_.partitionSpec.isEmpty)
    assert(part.size === 1,
      "the raw-id lag must run PARTITIONED (by id bucket) — the r8 scale-killer")
    // the partitioned window's input is the sparse-bucket join, never
    // the full distinct-id table — the dense-run prune must sit below
    assert(part.head.child.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.nonEmpty, "the sparse-bucket prune join must feed the per-id window")
    // the one un-partitioned window reads the |ids|/B bucket SUMMARY
    // (an aggregate), not raw ids
    assert(unpart.size === 1 && unpart.head.child.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty, "the boundary scan must read the per-bucket aggregate")
  }

  test("x91/x115/x60: every un-partitioned window sits above its top-V/poolK cut") {
    // these three carry deliberate single-partition windows whose
    // inputs are bounded BY CONSTRUCTION (vocab top-V, fusion poolK);
    // this guard pins the limit BELOW the window so a refactor cannot
    // silently unbound them into corpus-wide single-task sorts
    for (name <- Seq("x91_vocab_coverage", "x115_zipf_fit", "x60_hybrid_rrf")) {
      val wins = logicalWindows(SparkEntry.queries(name)(spark, sf))
      val unpart = wins.filter(_.partitionSpec.isEmpty)
      assert(unpart.nonEmpty, s"$name: expected the bounded global window to exist")
      unpart.foreach { w =>
        assert(w.child.collectFirst {
          case l: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => l
        }.nonEmpty,
          s"$name: un-partitioned window input must be limit-bounded below the window")
      }
    }
  }

  test("x158: kfold assignment is a scan-side expression — no Exchange, no UDF") {
    val p = plan(SparkEntry.queries("x158_kfold")(spark, sf))
    // only the presentation sort's range partitioning may exchange;
    // the fold itself must not force a hash shuffle anywhere
    assert(!p.contains("hashpartitioning"),
      "fold derivation must not hash-shuffle")
    assert(!p.contains("BatchEvalPython") && !p.contains("SQLUDF"),
      "fold must stay a codegen expression")
  }

  test("x154: centroid scoring is literal-fed — no join anywhere in the " +
    "returned plan") {
    // the per-label centroids enter as plan literals (broadcast-literal
    // pattern): the scoring pass must be a pure projection over the
    // scan, and the only exchanges feed the |labels|²-bounded
    // confusion aggregate and the presentation sort
    val p = plan(SparkEntry.queries("x154_centroid_eval")(spark, sf))
    assert(!p.contains("Join"), "scoring must not join a centroid table")
    assert("Exchange".r.findAllIn(p).size <= 2,
      "only the confusion aggregate and the sort may exchange")
  }

  test("x156: deletion-join candidates come from the variant equi-join — " +
    "no cartesian, no nested loop") {
    val p = plan(SparkEntry.queries("x156_deletion_join")(spark, sf))
    assert(!p.contains("CartesianProduct"), "no all-pairs fallback")
    assert(!p.contains("BroadcastNestedLoopJoin"), "no theta-join fallback")
  }

  test("x159/x166: drift movers and Hill cut with TakeOrdered, never a global sort") {
    for (name <- Seq("x159_vocab_drift", "x166_hill_tail")) {
      val p = plan(SparkEntry.queries(name)(spark, sf))
      assert(p.contains("TakeOrderedAndProject"),
        s"$name: the top-k cut must be TakeOrderedAndProject")
    }
  }

  test("x161: pane windows explode the PANE aggregate, never raw events") {
    // the ×W contribution Generate must sit ABOVE the (type, pane)
    // aggregation — exploding raw events first would multiply the
    // corpus by W before any combine
    val df = SparkEntry.queries("x161_pane_windows")(spark, sf)
    val gen = df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(gen.nonEmpty, "expected the contribution explode")
    gen.foreach { g =>
      assert(g.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty, "explode input must be the pane aggregate, not raw events")
    }
  }

  test("x139/x144: global windows read aggregates (day grid / f-of-f), never raw rows") {
    // x139's running CUSUM runs over the densified per-DAY count table
    // (calendar-bounded) and x144's rank-block offset over the
    // frequency-of-frequencies table (bounded by distinct multiplicity)
    // — both must keep an Aggregate strictly below the window so a
    // refactor cannot re-point them at raw events/keys
    // x203's depth sweep must likewise window over the per-file
    // min/max aggregate (≤2|files| boundary rows), never raw rows
    for (name <- Seq("x139_cusum", "x144_key_skew", "x177_ks_test",
      "x191_emd", "x203_clustering_depth")) {
      val wins = logicalWindows(SparkEntry.queries(name)(spark, sf))
      val unpart = wins.filter(_.partitionSpec.isEmpty)
      assert(unpart.nonEmpty, s"$name: expected the bounded global window")
      unpart.foreach { w =>
        assert(w.child.collectFirst {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        }.nonEmpty,
          s"$name: global window must read an aggregate, not raw rows")
      }
    }
  }

  test("x181/x186: suffix-sum and running-share windows read bounded aggregates") {
    // x181's at-risk suffix sum runs over the 0..max-lifetime grid
    // (span-bounded) and x186's cumulative share over the per-group
    // weight table (|groups|-bounded) — both global windows must keep
    // an Aggregate strictly below them so a refactor cannot re-point
    // them at raw event/document rows
    for (name <- Seq("x181_hazard_curve", "x186_pareto_sources")) {
      val wins = logicalWindows(SparkEntry.queries(name)(spark, sf))
      val unpart = wins.filter(_.partitionSpec.isEmpty)
      assert(unpart.nonEmpty, s"$name: expected the bounded global window")
      unpart.foreach { w =>
        assert(w.child.collectFirst {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        }.nonEmpty,
          s"$name: global window must read an aggregate, not raw rows")
      }
    }
  }

  test("x285: un-hinted fact joins shuffle on keys; hinted nation/region broadcast through the pin") {
    // the 100 TB claim of the Q5 star ("facts shuffle on their keys")
    // asserted on the actual plan: with the broadcast threshold pinned
    // to -1, only the EXPLICIT nation/region hints may broadcast — the
    // lineitem⋈orders, ⋈customer and ⋈supplier joins must be
    // SortMergeJoin (at toy sf the default threshold broadcasts
    // everything and demonstrates nothing; at 100 TB this pinned shape
    // is the executed one). PLANS.md prints the same section.
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(Relational.regionalRevenue(spark, sf))
      assert("SortMergeJoin".r.findAllIn(p).size === 3,
        "the three un-hinted fact joins must shuffle on their keys")
      assert("BroadcastHashJoin".r.findAllIn(p).size === 2,
        "the nation/region hints must survive the threshold pin")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("x292: Q3 pushes each predicate to its own scan; the cut is TakeOrdered") {
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(Relational.shippingPriority(spark, sf))
      assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
        "segment predicate must reach the customer scan")
      assert(p.contains("LessThan(o_orderdate"),
        "order-date predicate must reach the orders scan")
      assert(p.contains("GreaterThan(l_shipdate"),
        "ship-date predicate must reach the lineitem scan")
      assert(p.contains("TakeOrderedAndProject(limit=10"),
        "top-10 must pre-reduce per partition, not globally sort")
      assert("SortMergeJoin".r.findAllIn(p).size === 2,
        "both un-hinted fact joins must shuffle on their keys under the pin")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("x287/x141/x280: melted profilers read the input in ONE scan") {
    // the r13 forms ran one full input pass per column pair / rule /
    // leave-one-out option (90 scans at 10 profiled columns); the
    // melt rewrite explodes each row into its per-pair struct rows —
    // an Expand, row-local — so the whole profile is one FileScan.
    // This guard pins the single-scan shape against a refactor
    // re-introducing the per-pair loop.
    import graft.operators.Profiling
    def scans(df: DataFrame): Int =
      "FileScan parquet".r.findAllIn(plan(df)).size
    val cust = graft.core.Tables.customer(spark, sf)
    assert(scans(Profiling.fdDiscovery(cust,
      Seq("c_nationkey", "c_mktsegment", "c_acctbal"))) === 1,
      "fdDiscovery must profile every ordered pair from one input scan")
    assert(scans(Profiling.functionalDependencies(
      graft.core.Tables.lineitem(spark, sf), graft.entry.EntryLib.fdRules)) === 1,
      "functionalDependencies must audit every rule from one input scan")
    assert(scans(Profiling.kAnonPlan(cust,
      Seq("c_nationkey", "c_mktsegment"), k = 5L)) === 1,
      "kAnonPlan must score every leave-one-out option from one input scan")
  }

  test("x297 Q4: the EXISTS runs as LeftSemi; lineitem is pruned to 2 of 11 columns") {
    val p = plan(Relational.latePriorityCensus(spark, sf))
    assert(p.contains("LeftSemi"),
      "the correlated EXISTS must decorrelate to a semi join — an inner " +
        "join would multiply multi-late orders")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_shipdate:timestamp_ntz>"),
      "lineitem must be pruned to exactly the key + the inequality column")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") ||
      p.contains("GreaterThanOrEqual(o_orderdate,"),
      "the order-date window must push to the orders scan")
  }

  test("x299 Q18: the quantity bar filters the aggregate BEFORE any join; top-k is TakeOrdered") {
    val p = plan(Relational.largeVolumeOrders(spark, sf))
    assert(p.contains("TakeOrderedAndProject(limit=20"),
      "top-20 must pre-reduce per partition, never globally sort")
    // the HAVING bar must sit on the aggregate output, i.e. appear as a
    // post-agg Filter on total_qty — not as a join-side residual
    assert(p.contains("(total_qty") && p.contains("> 200"),
      "the quantity bar must filter the per-order aggregate before the joins")
  }

  test("x304: the groupBy-split self-join folds to ONE aggregation over ONE scan") {
    import graft.core.Tables
    import org.apache.spark.sql.functions._
    val a = Tables.orders(spark, sf).groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"))
    val b = Tables.orders(spark, sf).groupBy("o_custkey")
      .agg(sum(Relational.cents(col("o_totalprice"))).as("spend_cents"))
    val p = plan(a.join(b, Seq("o_custkey")).orderBy("o_custkey"))
    assert(!p.contains("Join"),
      s"MergeAggSelfJoin must fold the self-join:\n$p")
    assert("FileScan parquet".r.findAllIn(p).size === 1,
      "the fold must eliminate the second orders scan")
  }

  test("x305: rolling median windows are user-partitioned, never global") {
    import graft.core.Tables
    val p = plan(graft.operators.Sessions.rollingMedian(
      Tables.events(spark, sf)))
    assert(p.contains("hashpartitioning(user_id"),
      "the window must key on the high-cardinality user, not run global")
  }

  test("x302: segment occurrence counts shuffle md5 fingerprints, not text") {
    import graft.core.Tables
    val p = graft.operators.TextAnalysis
      .boilerplateScrub(Tables.documents(spark, sf))
      .queryExecution.optimizedPlan.toString
    // the counting aggregate must group on seg_fp (the 16-byte md5),
    // never on the raw segment text
    assert(p.contains("Aggregate [seg_fp"),
      s"occurrence counting must key on the fingerprint:\n$p")
  }

  test("x309 Q10: both fact predicates reach their scans; the cut is TakeOrdered") {
    val p = plan(Relational.returnedItemReport(spark, sf))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "the quarter window must reach the orders scan")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      "the return-flag predicate must reach the lineitem scan")
    assert(p.contains("TakeOrderedAndProject(limit=20"),
      "top-20 must pre-reduce per partition")
  }

  test("x301 Q11: ONE corpus scan feeds both the brand table and its total") {
    val p = plan(Relational.revenueConcentration(spark, sf))
    assert("FileScan parquet".r.findAllIn(p).size === 2,
      "exactly lineitem + part — a second lineitem scan means the scalar " +
        "total re-ran the corpus join (the 100 TB defect this shape avoids)")
    assert(p.contains("Window"),
      "the grand total must be a window over the bounded brand aggregate")
  }

  test("x337: BPE encode is one codegen map — no shuffle below the presentation sort") {
    val p = plan(graft.operators.TextAnalysis.bpeEncode(
      graft.core.Tables.documents(spark, sf),
      graft.entry.EntryLib.pinnedBpeMerges))
    assert("Exchange".r.findAllIn(p).size === 1
      && p.contains("Exchange rangepartitioning"),
      "the ONLY exchange is the ORDER BY — a second one means the " +
        "replace chain stopped being row-local")
    assert(!p.contains("Window") && !p.contains("Generate"),
      "token accounting must be length arithmetic, not an explode")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan must be pruned to exactly (doc_id, text)")
  }

  test("x338: ONE hash exchange carries both training-order windows and the run census") {
    val p = plan(graft.operators.Sampling.trainingOrder(
      graft.core.Tables.documents(spark, sf), nBlocks = 8L))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "lag + running-sum windows AND both run-census aggregations must " +
        "ride the single (block) exchange — hashpartitioning(block) " +
        "satisfies the (block, run) clustering")
    assert("Exchange".r.findAllIn(p).size === 2,
      "exactly the (block) hash exchange + the ORDER BY range exchange")
    assert(!p.contains("partitioning(1 "),
      "no global single-partition window may ever form")
  }
}

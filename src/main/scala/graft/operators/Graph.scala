package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over an undirected pair graph — the
  * stage after near-dup pair mining where per-node structure matters,
  * not just component membership ([[Dedup.connectedComponents]]):
  * PageRank centrality ranks the "hub" documents of a duplication
  * neighborhood (template sources, boilerplate origins), which is how
  * a curation pipeline picks what to KEEP when a cluster is mostly
  * mutual near-copies of one canonical page.
  */
object Graph {

  /** EAGERLY materialize a plan as concrete spill-safe blocks
    * (MEMORY_AND_DISK) with truncated lineage; [[Dedup.checkpointRdd]]
    * is the handle that frees a superseded round inline. The blocks
    * live as long as the returned frame (see [[Dedup]]). The
    * iterative operators' round discipline — the same one
    * [[Dedup.connectedComponents]] uses: each round becomes ONE small
    * concrete table, the previous round's blocks are freed inline by
    * the caller, and the (possibly whole-LSH-pipeline) upstream plan
    * can never be re-executed by a later stage. Lazy caching is NOT
    * equivalent here: a lazy cache referenced by several not-yet-
    * materialized stages of one job can be computed concurrently by
    * those stages before any fills it — duplicated upstream work with
    * scheduler-dependent timing, measured on the sf0.1 board as 3–5×
    * rep-to-rep spread on x55/x153/x162 (5.2–15.1 s for x162 in a
    * quiet 4-query JVM); the eager form pinned all three flat. */
  private def materialize(df: DataFrame): DataFrame = df.localCheckpoint()

  /** PageRank over the undirected graph given as (da, db) pairs, run
    * for a FIXED number of power iterations (deterministic — no
    * convergence-threshold float compare to diverge across engines):
    * `r' = (1−d)/N + d·Σ_nbr r_nbr/deg_nbr`. Symmetrized edges mean
    * no dangling nodes (every node has out-degree ≥ 1), so no
    * dangling-mass redistribution term is needed.
    *
    * Scale shape: the symmetrized edge set is built with ONE explode
    * pass (a union spelling would evaluate the — potentially whole-
    * LSH-pipeline — pairs plan once per branch), partitioned by `src`
    * and EAGERLY materialized ([[materialize]] — the upstream pairs
    * plan executes exactly once, guaranteed, before any round runs);
    * degree, N, the initial ranks, and the degree-attached edge cache
    * all derive from that concrete table with NO further exchange
    * (the groupBy and the edge⋈degree join both ride the src hash
    * layout). Every iteration then shuffles only the rank table (|V|
    * rows) into that layout, aggregates partially map-side, and chains
    * declaratively. Every `checkpointEvery` rounds the rank table is
    * EAGERLY checkpointed (one small action over |V| rows) and the
    * previous rank checkpoint's blocks are freed inline — storage
    * stays O(1) in the iteration count and the plan since the last
    * checkpoint holds at most `checkpointEvery` joins. The edge
    * blocks and the final rank checkpoint back the returned plan and
    * live as long as it does.
    *
    * @return (doc_id, pr_micros) — rank in integer micros, ordered. */
  def pageRank(pairs: DataFrame, iterations: Int = 10,
               damping: Double = 0.85, checkpointEvery: Int = 5): DataFrame = {
    require(iterations >= 1 && iterations <= 1000,
      s"iterations ($iterations) must be in [1, 1000]")
    require(checkpointEvery >= 1,
      s"checkpointEvery ($checkpointEvery) must be >= 1")
    require(damping > 0 && damping < 1, s"damping ($damping) must be in (0, 1)")
    val sym = materialize(Dedup.symmetrizedEdges(pairs))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    // the degree-attached edge table is referenced by EVERY round's
    // join, and the edge-side map stage of round i+1 has no dependency
    // on round i — the scheduler can submit several concurrently, and
    // a lazy cache would let them recompute the join redundantly
    // before any fills it (see materialize); concrete blocks instead
    val edges = materialize(sym.join(deg, Seq("src")))
    val n = deg.count() // over the concrete edge table — cheap
    require(n > 0, "pageRank needs a non-empty pair graph")
    val tele = lit(1.0 - damping) / lit(n)
    var ranks = deg.select(col("src").as("node"), (lit(1.0) / lit(n)).as("r"))
    var prevCkpt: Option[org.apache.spark.rdd.RDD[_]] = None
    for (i <- 1 to iterations) {
      ranks = edges
        .join(ranks.select(col("node").as("src"), col("r")), Seq("src"))
        .groupBy("dst")
        .agg(sum(col("r") / col("deg")).as("m"))
        .select(col("dst").as("node"), (tele + lit(damping) * col("m")).as("r"))
      if (i % checkpointEvery == 0 && i < iterations) {
        val m = materialize(ranks)
        // the previous rank checkpoint fed only the rounds up to this
        // one, which are now baked into the fresh blocks — free it
        prevCkpt.foreach(_.unpersist(blocking = false))
        prevCkpt = Some(Dedup.checkpointRdd(m))
        ranks = m
      }
    }
    ranks
      .select(col("node").as("doc_id"),
        floor(col("r") * 1000000 + 0.5).cast("long").as("pr_micros"))
      .orderBy("doc_id")
  }

  /** Label-propagation communities (Raghavan et al. 2007) over the
    * undirected pair graph, run SYNCHRONOUSLY for a fixed number of
    * rounds with a deterministic tie-break — the community detector
    * that separates a dup neighborhood into locally-dense groups
    * where [[Dedup.connectedComponents]] would glue everything
    * reachable into one blob: two near-dup cliques bridged by a single
    * accidental LSH pair stay two communities here, one component
    * there. Update rule: each node adopts the most frequent label
    * among its NEIGHBORS (ties → smallest label); labels start as the
    * node's own id. Fixed rounds + total tie order make the whole
    * trajectory engine-replayable — no convergence test, no
    * asynchronous visit order to diverge across engines.
    *
    * Scale shape: the symmetrized edge set is built once, partitioned
    * by `src` and cached (the upstream — potentially whole-LSH-
    * pipeline — pairs plan executes exactly once, the [[pageRank]]
    * discipline); each round shuffles only the |V|-row label table
    * into that layout, the (node, label) counts combine map-side, and
    * the argmax is a map-side-combinable `max(struct(cnt, −label))` —
    * no window function, no per-node sort. Every `checkpointEvery`
    * rounds the label table is EAGERLY checkpointed (one small action
    * over |V| rows) and the previous label checkpoint freed inline —
    * O(1) storage in the round count; edge blocks and the final
    * checkpoint live as long as the returned plan. The eager edge
    * materialization matters even without intermediate checkpoints:
    * every round's join references the edge plan, and a LAZY cache
    * can be computed redundantly by concurrently-scheduled stages
    * before any fills it (see [[materialize]]).
    *
    * @return (doc_id, community) for every pair-graph node, ordered. */
  def labelPropagation(pairs: DataFrame, iterations: Int = 4,
                       checkpointEvery: Int = 5): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations ($iterations) must be in [1, 100]")
    require(checkpointEvery >= 1,
      s"checkpointEvery ($checkpointEvery) must be >= 1")
    val sym = materialize(Dedup.symmetrizedEdges(pairs))
    var labels = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    var prevCkpt: Option[org.apache.spark.rdd.RDD[_]] = None
    for (i <- 1 to iterations) {
      labels = sym
        .join(labels.select(col("node").as("dst"), col("lbl")), Seq("dst"))
        .groupBy(col("src"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(max(struct(col("c").as("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("src").as("node"), (-col("m.nl")).as("lbl"))
      if (i % checkpointEvery == 0 && i < iterations) {
        val m = materialize(labels)
        prevCkpt.foreach(_.unpersist(blocking = false))
        prevCkpt = Some(Dedup.checkpointRdd(m))
        labels = m
      }
    }
    labels
      .select(col("node").as("doc_id"), col("lbl").cast("long").as("community"))
      .orderBy("doc_id")
  }

  /** Canonical low→high edge list from a (da, db) pair table:
    * least/greatest orientation + distinct, so self-pairs are
    * impossible by construction upstream and duplicate orientations
    * collapse. Shared by [[triangleCounts]] and [[graphSummary]].
    *
    * Callers EAGERLY [[materialize]] it — the triangle family
    * references the edge plan many times (degree union ×2, the
    * orientation's two joins, the wedge join's three sides), and the
    * upstream `pairs` plan is often the whole MinHash-LSH mining
    * pipeline: uncached, every reference re-executes that mining end
    * to end (measured at sf0.1: x100 15.6 s → ~1.5 s and x101
    * 10.1 s → ~2 s once the edge list and oriented list were cached),
    * and even a LAZY cache leaves the references racing to compute it
    * concurrently before any fills it (x146's 12.8 s rep outlier). */
  private def canonicalEdges(pairs: DataFrame): DataFrame =
    pairs.select(least(col("da"), col("db")).as("a"),
        greatest(col("da"), col("db")).as("b"))
      .distinct()

  /** Per-endpoint degree of the canonical edge list — (doc_id, deg),
    * one map-side-combined aggregation over 2m endpoint rows. Computed
    * ONCE per operator from the cached edge list and reused by both
    * the degree orientation and any summary aggregates, so degree
    * costs one Exchange regardless of how many consumers read it.
    * Operators whose plans read it from several independent stages
    * ([[graphSummary]], [[localClustering]]) [[materialize]] it. */
  private def endpointDegrees(e: DataFrame): DataFrame =
    e.select(col("a").as("doc_id"))
      .unionByName(e.select(col("b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("deg"))

  /** Per-node TRIANGLE counts over the undirected pair graph — the
    * local-density signal: a near-dup pair inside a triangle is
    * corroborated by a third mutual copy (template/mirror structure),
    * while a triangle-free pair is more often an LSH accident worth
    * re-verifying. The standard curation read of the dup graph after
    * [[Dedup.connectedComponents]] says WHICH cluster and
    * [[pageRank]] says WHO is central.
    *
    * Enumeration is the classic ORIENTED wedge join — no cross join,
    * nothing quadratic in nodes: edges orient along a total node
    * order, wedges come from joining the edge list with itself on the
    * shared MIDDLE vertex (each triangle generated exactly once), and
    * a third equi-join closes the wedge. The orientation is
    * DEGREE-ORDERED — every edge points from its (degree, id)-lower
    * endpoint to the higher — which bounds the wedge-join mass at
    * O(m^{3/2}) worst-case; id-ordering admits a Σ d² blowup when a
    * hub happens to carry a low id, the classic failure on
    * star-shaped dup neighborhoods (one canonical page paired with
    * every mirror). Output is orientation-invariant: per-node
    * triangle membership does not depend on edge direction.
    *
    * @return (doc_id, n_triangles) for nodes in ≥ 1 triangle, ordered. */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val e = materialize(canonicalEdges(pairs))
    val tri = triangles(e, endpointDegrees(e))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy("doc_id")
  }

  /** Orient the canonical edge list along a total node order: by
    * (degree, id) when `byDegree` (the O(m^{3/2}) orientation — a node
    * of out-degree d only points at nodes of degree ≥ d, and there are
    * at most 2m/d of those, so out-degrees are O(√m)), or by raw id
    * (the naive orientation — kept as the test hook that demonstrates
    * the hub blowup). Both are strict total orders over distinct
    * endpoints, so each undirected edge gets exactly one direction and
    * the oriented graph is a DAG. Returns (lo, hi) directed edges.
    *
    * `degOpt` lets an operator that already computed the
    * [[endpointDegrees]] table (e.g. [[graphSummary]]'s wedge counts)
    * feed it in, so degree costs one Exchange per operator instead of
    * one per consumer. */
  private[graft] def orientEdges(e: DataFrame, byDegree: Boolean = true,
                                 degOpt: Option[DataFrame] = None): DataFrame =
    if (!byDegree) e.select(col("a").as("lo"), col("b").as("hi"))
    else {
      val deg = degOpt.getOrElse(endpointDegrees(e))
        .select(col("doc_id").as("v"), col("deg").as("d"))
      val aFirst = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      e.join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
        .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
        .select(when(aFirst, col("a")).otherwise(col("b")).as("lo"),
          when(aFirst, col("b")).otherwise(col("a")).as("hi"))
    }

  /** Wedge-join input mass of an orientation: Σ_mid in(mid)·out(mid) —
    * the exact row count the middle-vertex equi-join produces before
    * closure filtering. Test hook for the degree-vs-id orientation
    * comparison on hub graphs. */
  private[graft] def wedgeJoinMass(oriented: DataFrame): Long = {
    val out = oriented.groupBy(col("lo").as("v")).agg(count(lit(1)).as("o"))
    val in = oriented.groupBy(col("hi").as("v")).agg(count(lit(1)).as("i"))
    out.join(in, Seq("v"))
      .agg(coalesce(sum(col("o") * col("i")), lit(0L)).as("m"))
      .head().getLong(0)
  }

  /** (a, b, c) triangle rows over the canonical edge list, vertices
    * ordered along the degree orientation, each triangle once. The
    * oriented edge list is EAGERLY materialized: the wedge join reads
    * it three times (ab/bc/ac sides), and uncached each side would
    * re-run the orientation's two degree joins AND the upstream pair
    * mining — the x100 15.6 s regression's root cause (a lazy cache
    * still lets the three sides race, see [[materialize]]). Callers
    * pass the operator's shared [[endpointDegrees]] table so degree
    * is one Exchange for the whole operator. */
  private def triangles(e: DataFrame, deg: DataFrame): DataFrame = {
    val o = materialize(orientEdges(e, byDegree = true, degOpt = Some(deg)))
    val ab = o.select(col("lo").as("a"), col("hi").as("b"))
    val bc = o.select(col("lo").as("b"), col("hi").as("c"))
    val ac = o.select(col("lo").as("ca"), col("hi").as("cc"))
    ab.join(bc, Seq("b"))
      .join(ac, col("a") === col("ca") && col("c") === col("cc"))
      .select("a", "b", "c")
  }

  /** k-core peel over the undirected pair graph: iteratively remove
    * nodes of degree < k (with their edges) for a FIXED number of
    * rounds, then report the survivors with their in-subgraph degree —
    * the density filter that separates mutual-copy CLIQUES (which
    * survive any k ≥ 2 peel) from the chains and pendant stars a
    * threshold-happy LSH pass strings together ([[localClustering]]
    * reads the same structure per node; the 2-core is the subgraph
    * where every survivor has two INDEPENDENT corroborations).
    * Fixed rounds make the trajectory deterministic and replayable;
    * when a round removes nothing the peel has converged and the
    * result IS the true k-core (near-dup graphs converge in a few
    * rounds — their chains are shallow).
    *
    * Shape: per round, one degree aggregation over the live edge set
    * (map-side combined) and two semi-joins that keep edges whose BOTH
    * endpoints survive — all bounded by the PAIR graph, a vanishing
    * fraction of the corpus; every join shares the src/dst hash
    * layout. Each round's survivor edge set is referenced THREE times
    * by the next round (the degree aggregate plus both semi-join
    * sides), so each round is EAGERLY materialized ([[materialize]] —
    * lazy chaining would grow the plan tree 3^rounds, and a lazy
    * cache can be computed redundantly by concurrently-scheduled
    * stages before any fills it: the round-11 board's 5.2–15.1 s
    * rep spread on this very operator). The previous round's blocks
    * are freed inline — O(1) storage in the round count; the initial
    * edge materialization runs the (possibly whole-LSH-pipeline)
    * pairs plan exactly once, and the final round's blocks live as
    * long as the returned plan that reads them.
    *
    * @return (doc_id, core_deg) for surviving nodes, ordered. */
  def kCore(pairs: DataFrame, k: Int = 2, rounds: Int = 4): DataFrame = {
    require(k >= 1 && k <= 1000000, s"k ($k) must be in [1, 1e6]")
    require(rounds >= 1 && rounds <= 100,
      s"rounds ($rounds) must be in [1, 100]")
    var live = materialize(Dedup.symmetrizedEdges(pairs))
    for (_ <- 1 to rounds) {
      val keep = live.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
      val next = materialize(live
        .join(keep.select("src"), Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi"))
      // round i's blocks fed only round i+1's build, now concrete
      Dedup.checkpointRdd(live).unpersist(blocking = false)
      live = next
    }
    live.groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("core_deg"))
      .orderBy("doc_id")
  }

  /** Degree distribution of the pair graph: (deg, n_nodes) — the
    * first thing a dedup report reads about graph SHAPE (a power-law
    * tail means hub templates; a spike at 1 means isolated mirror
    * pairs), and the cheap pre-check that decides whether the wedge
    * join of [[triangleCounts]] is worth running at all.
    *
    * Cost: one groupBy over edge endpoints (2m rows) + one groupBy
    * over the |V|-row degree table — both map-side-combined; nothing
    * quadratic anywhere. Ordered by degree. */
  def degreeHistogram(pairs: DataFrame): DataFrame = {
    // cached: the endpoint union reads the edge plan twice, and the
    // pairs plan behind it can be the whole LSH mining pipeline
    val e = materialize(canonicalEdges(pairs))
    endpointDegrees(e)
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy("deg")
  }

  /** Per-node distinct 2-hop neighborhood size over the pair graph —
    * the "friend-of-friend" candidate-expansion count: how many docs
    * a transitive-closure pass WOULD newly consider from each node,
    * the a-priori cost signal for widening near-dup verification one
    * hop (and the structural read on how fast clusters would grow if
    * the pair threshold were loosened).
    *
    * Shape: the symmetrized edge list self-joins on the shared middle
    * vertex (join mass Σ_mid deg² — the pair GRAPH, a vanishing
    * fraction of the corpus; for hub-heavy graphs cap or pre-filter
    * degrees first via [[degreeHistogram]]), drops self-returns and
    * 1-hop shortcuts with one distinct + one anti-join on the edge
    * set, and counts per source. Nodes whose 2-hop set is empty (pure
    * pendant pairs) report 0 — every pair-graph node appears.
    *
    * @return (doc_id, n_two_hop) ordered by doc_id. */
  def twoHopCounts(pairs: DataFrame): DataFrame = {
    // eagerly materialized: referenced by both self-join sides, the
    // anti-join, and the node axis — four reads of the (possibly
    // LSH-mined) pair plan, racing if merely lazily cached
    val sym = materialize(Dedup.symmetrizedEdges(pairs))
    val hops = sym.select(col("src"), col("dst").as("mid"))
      .join(sym.select(col("src").as("mid"), col("dst")), Seq("mid"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
      .join(sym, Seq("src", "dst"), "left_anti") // drop 1-hop shortcuts
      .groupBy("src").agg(count(lit(1)).as("n_two_hop"))
    sym.select("src").distinct()
      .join(hops, Seq("src"), "left")
      .select(col("src").as("doc_id"),
        coalesce(col("n_two_hop"), lit(0L)).as("n_two_hop"))
      .orderBy("doc_id")
  }

  /** One-row structural summary of the pair graph: node/edge/wedge/
    * triangle counts and the global clustering coefficient in milli
    * (3·triangles·1000 div wedges — exact integer arithmetic end to
    * end). The dedup-report headline for graph SHAPE: a coefficient
    * near 1000 means near-dup neighborhoods are mutual-copy cliques
    * (high confidence, aggressive survivor selection is safe); near 0
    * means chains/stars — one hub paired with many satellites that are
    * NOT pairs of each other, where transitive cluster collapse
    * ([[Dedup.connectedComponents]] min-label) is doing real work and
    * deserves a second look at the threshold.
    *
    * Cost: the [[triangleCounts]] wedge join plus degree/count
    * aggregates, all over the PAIR graph (vanishing vs corpus); the
    * final combine is three 1×1 cross joins — the x29–x31 recall-
    * combine shape.
    *
    * @return (n_nodes, n_edges, n_wedges, n_triangles, gcc_milli),
    *         gcc_milli NULL on a wedge-free graph. */
  def graphSummary(pairs: DataFrame): DataFrame = {
    val e = materialize(canonicalEdges(pairs))
    // one concrete degree table (read by the summary aggregate AND
    // the orientation's two joins) serves the whole operator
    val deg = materialize(endpointDegrees(e))
    val nodesEdges = deg.agg(count(lit(1)).as("n_nodes"),
      expr("sum(deg) div 2").as("n_edges"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val tris = triangles(e, deg).agg(count(lit(1)).as("n_triangles"))
    nodesEdges.crossJoin(tris)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") === 0L, lit(null).cast("long"))
          .otherwise(expr("(3 * n_triangles * 1000) div n_wedges"))
          .as("gcc_milli"))
  }

  /** LOCAL clustering coefficient per node: triangles_at(v) / C(deg,2)
    * in exact milli — [[graphSummary]]'s global coefficient broken out
    * per node, the per-doc read of "are MY neighbors copies of each
    * other". A hub with coefficient ~0 is the template-star signature
    * (satellites unrelated to each other — verify before collapsing);
    * ~1000 marks a mutual-copy clique (collapse with confidence).
    * Every pair-graph node reports: degree-1 nodes (no wedge to
    * close) emit NULL, triangle-free nodes with deg ≥ 2 emit 0 — the
    * three structural cases stay distinguishable.
    *
    * Cost over [[triangleCounts]]: one broadcast-size degree table
    * join (|V| rows, the pair graph's nodes — vanishing vs corpus)
    * and integer arithmetic; the wedge join itself is the same
    * degree-oriented O(m^{3/2}) enumeration, counted per vertex by
    * exploding each triangle's three corners.
    *
    * @return (doc_id, deg, n_triangles, lcc_milli) ordered by doc_id. */
  def localClustering(pairs: DataFrame): DataFrame = {
    val e = materialize(canonicalEdges(pairs))
    val deg = materialize(endpointDegrees(e))
    val tri = triangles(e, deg)
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("__t"))
    deg.join(tri, Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg"),
        coalesce(col("__t"), lit(0L)).as("n_triangles"))
      .withColumn("lcc_milli",
        when(col("deg") < 2L, lit(null).cast("long")).otherwise(
          expr("(n_triangles * 2 * 1000) div (deg * (deg - 1))")))
      .orderBy("doc_id")
  }

  /** Bounded-depth ancestor flatten — the hierarchy traversal
    * (org chart, category tree, bill-of-materials) relational engines
    * express as a recursive CTE and Spark has no operator for: per
    * node, every ancestor within `maxDepth` hops and the hop count.
    * Iterative-join unroll under the same eager-materialization
    * discipline as the rest of this file (each frontier
    * localCheckpoints before the next round reads it — the x162
    * lazy-cache race fix); input contract is a DAG of out-degree ≤ 1
    * per child edge set for exact depth-uniqueness, depth-BOUNDED so a
    * cycle cannot hang the unroll. Per round: one (ancestor = child)
    * equi-join — the frontier shrinks as chains top out, and the
    * shuffle carries (node, ancestor) ids only. DuckDB replays it as
    * the literal WITH RECURSIVE, which is exactly the point: the
    * oracle certifies the unroll against the engine feature Spark
    * lacks.
    *
    * @return (node, ancestor, depth 1..maxDepth), ordered. */
  def ancestors(edges: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, s"maxDepth ($maxDepth) must be >= 1")
    val e = edges.select(col("child"), col("parent"))
    var frontier = materialize(
      e.select(col("child").as("node"), col("parent").as("ancestor"),
        lit(1L).as("depth")))
    var acc = frontier
    var d = 2
    var exhausted = frontier.isEmpty
    while (d <= maxDepth && !exhausted) {
      val next = frontier.select(col("node"), col("ancestor"))
        .join(e.select(col("child").as("ancestor"),
          col("parent").as("__nx")), Seq("ancestor"))
        .select(col("node"), col("__nx").as("ancestor"),
          lit(d.toLong).as("depth"))
      val m = materialize(next)
      frontier = m
      exhausted = m.isEmpty
      if (!exhausted) acc = acc.unionByName(m)
      d += 1
    }
    acc.orderBy("node", "depth", "ancestor")
  }
}

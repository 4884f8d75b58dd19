package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Tables
import graft.operators.{Clustering, Dedup, Graph, Similarity}

/** Bench harness (driver contract): runs every declared query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line. One untimed warm-up pass
  * amortizes JVM/codegen warmup so the timed pass measures the plans,
  * not JIT.
  *
  * Modes:
  *  - default: one shared JVM, warm-up pass then best-of-3(+2) per
  *    query, with a Harness.release + System.gc() + settle pause BETWEEN
  *    queries — round 10's driver artifact showed 24 queries with >3×
  *    rep spread on identical code purely from cross-query heap/cache
  *    pressure in the shared JVM; the inter-query barrier is the cheap
  *    four-nines version of full isolation.
  *  - SPARK_GRAFT_ISOLATE=1: fresh JVM PER QUERY (the BENCH_NOTES
  *    bisect method, automated): the parent spawns one child java per
  *    query (same classpath/JVM flags — `run / fork := true` makes
  *    both real), each child measures its single query exactly as the
  *    shared mode would and reports on a marker line. ~10 s session
  *    startup per query, so this is the bisect/scale-probe tool, not
  *    the per-commit loop.
  *
  * Board queries come from `SparkEntry.queries`; the named scale
  * `probes` below run under the same protocol when SPARK_GRAFT_ONLY
  * names them, e.g.
  * `SPARK_GRAFT_ISOLATE=1 SPARK_GRAFT_ONLY=k_core runMain graft.Bench`.
  *
  * Artifacts: a FULL board run writes BENCH_FULL.json; a tiered or
  * SPARK_GRAFT_ONLY-filtered run writes BENCH_scratch.json instead so a
  * quick iteration can never clobber the committed full-board artifact
  * with its subset (the round-10 trap). SPARK_GRAFT_OUT overrides the
  * output path either way (the sf1 probe writes BENCH_sf1 inputs this
  * way). */
object Bench {
  private val RepMarker = "##GRAFT_Q##"

  /** The HEAVY TIER — pinned to the 22 queries the round-14 driver
    * run measured at ≥ 1.5 s best-of. On a FULL-board shared run these
    * are measured in fresh child JVMs instead of the shared session:
    * the r14 round-over-round comparison drifted +14% on exactly this
    * tier with no code change (the round-15 bisect pinned the cause to
    * shared-JVM board-growth pressure + host-window drift), and a
    * per-query JVM removes the first factor STRUCTURALLY — a heavy
    * query's number can no longer depend on how many queries ran
    * before it. Cost: ~10 s JVM spin-up × 22, paid once per full
    * board run. The list is PINNED (not derived from a moving
    * artifact) so the measurement protocol itself cannot drift with
    * the numbers; additions belong here when a new query lands in the
    * tier. */
  private val HeavyTier: Set[String] = Set(
    "x216_cluster_quality", "x291_cluster_refresh",
    "x262_band_recall_curve", "x230_mutual_topk_ann", "x100_triangles",
    "x55_pagerank", "x73_semantic_dedup", "x205_loss_weights",
    "x295_split_repair", "x293_golden_record", "x89_cluster_sizes",
    "x260_cluster_cap", "x272_dedup_threshold_curve", "x148_basket_pairs",
    "x211_wprefix_plan", "x264_minhash_error_curve", "x182_item_cosine",
    "x103_weighted_containment", "x162_k_core", "x106_cluster_split",
    "x65_containment", "x146_local_cluster",
    // round-16 landings measured ≥1.5 s best-of in the shared tier
    "x329_semdedup_autok", "x330_mutual_sampled",
    // round-17: the five-stage corpus-build chain (3.6 s at sf0.1)
    "x335_corpus_build")

  /** DRIFT CONTROLS — four heavy queries whose code has not changed
    * since round 13, with their committed round-15 best-of anchors
    * (this repo's BENCH_FULL.json at the r15 commit, 193.7 s board).
    * The r15 bisect measured these moving 11–39% between host windows
    * with NO code change, so raw round-over-round totals are not
    * comparable unnormalized. Every full-board artifact now carries a
    * `controls` block (per-control measured/anchor ratio + geomean):
    * divide a round's total by the controls' geomean ratio before
    * comparing it to a prior round — a query is a code regression only
    * if it moved well beyond that normalized envelope. The anchors are
    * PINNED CONSTANTS, not read from a moving artifact, so the
    * normalization basis cannot drift with the numbers. */
  private val Controls: Map[String, Double] = Map(
    "x55_pagerank" -> 2.381,
    "x182_item_cosine" -> 2.464,
    "x210_wcontain_prefix" -> 1.410,
    "x236_pair_jac_hist" -> 1.324)

  /** Named scale probes, run by name only (`SPARK_GRAFT_ONLY`), never
    * as part of a full or core board. They back BENCH_NOTES' ×10/×100
    * ladders for operators whose BOARD form is deliberately
    * scale-pinned. Example: x329 certifies `semanticDedup`'s auto-k on
    * a FIXED 320-row slice (so the sizing rule is oracle-replayable at
    * every sf); the scale question — "does auto-k keep the full-corpus
    * form in the gentle tier at ×100?" — needs the UNpinned form over
    * the whole embeddings table, which no oracle can carry (k = ⌊√n⌋
    * changes per corpus). No key may equal a `SparkEntry.queries` key. */
  val probes: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the x329 question at corpus scale: auto-k (k = ⌊√n⌋) SemDeDup
    // over the FULL embeddings table — at a fixed k this is the one
    // operator the r15 verdict marked weak
    "semdedup_autok" -> ((spark, d) =>
      Clustering.semanticDedup(Tables.embeddings(spark, d),
        idCol = "vec_id", vecCol = "embedding", k = 0, iterations = 2,
        minPermille = 900L)),
    // the fixed-k comparison anchor (the x73 board operating point)
    "semdedup_k16" -> ((spark, d) =>
      Clustering.semanticDedup(Tables.embeddings(spark, d),
        idCol = "vec_id", vecCol = "embedding", k = 16, iterations = 2,
        minPermille = 900L)),
    // x330's scale contract, two honest operating points. A FIXED RATE
    // (everyN constant) is ~linear in the corpus where the full mutual
    // operator (x230) is n^1.5 ...
    "mutual_sampled" -> ((spark, d) =>
      Similarity.mutualTopKAnnSampled(Tables.embeddings(spark, d), k = 8, everyN = 4)),
    // ... and the AUDIT point, everyN scaled so the sample COUNT stays
    // ~500 (everyN 4/40/400 at ×1/×10/×100), is ~O(|S|·k·√n),
    // sub-linear: how the operator is meant to be driven at 100 TB
    // (estimate density from a bounded sample)
    "mutual_sampled_audit" -> { (spark, d) =>
      val emb = Tables.embeddings(spark, d)
      Similarity.mutualTopKAnnSampled(emb, k = 8,
        everyN = math.max(4L, emb.count() / 500).toInt)
    },
    // stage isolation for the autok reading: the k-means bin alone,
    // at the same auto-sized k the full operator would pick
    "kmeans_autok" -> { (spark, d) =>
      val emb = Tables.embeddings(spark, d)
      val n = emb.count()
      val k = math.min(n, math.max(16L, math.sqrt(n.toDouble).toLong)).toInt
      Clustering.kmeans(emb, "vec_id", "embedding", k, 2)
    },
    // the FULL x230 operator (auto-sized nlist ≈ √n): the declared
    // n^1.5 contract mutual_sampled is the escape from
    "mutual_full" -> ((spark, d) =>
      Similarity.mutualTopKAnn(Tables.embeddings(spark, d), k = 8)),
    // the text-tier flagship at full corpus: the x07 MinHash-LSH
    // pipeline at its board operating point (banded equi-join, exact
    // verification) — the dedup ladder's anchor
    "minhash_pairs" -> ((spark, d) =>
      Dedup.minHashLshPairs(Tables.documents(spark, d),
        shingleK = 2, numHashes = 16, rowsPerBand = 4, minPermille = 300)),
    // the closure-family flagship (x205's operating point): mining +
    // the connected-components fixpoint + the weight projection
    "loss_weights" -> ((spark, d) =>
      Dedup.clusterLossWeights(Tables.documents(spark, d),
        Dedup.minHashLshPairs(Tables.documents(spark, d),
          shingleK = 2, numHashes = 16, rowsPerBand = 4, minPermille = 300))),
    // the peel-family flagship (x162's operating point): mining + the
    // 4-round 2-core peel — the row behind the r17 finding that the
    // per-round degree aggregation is ALREADY deduped by AQE stage
    // reuse (see OPTIMIZATION_r17.md)
    "k_core" -> ((spark, d) =>
      Graph.kCore(
        Dedup.minHashLshPairs(Tables.documents(spark, d),
          shingleK = 2, minPermille = 300), k = 2, rounds = 4)))

  /** The board plus the probes: every name SPARK_GRAFT_ONLY may pick. */
  private[graft] lazy val runnable = SparkEntry.queries ++ probes

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    // tier flag: the full board takes ~35 min wall-clock at sf0.1 — too
    // slow for per-commit iteration. SPARK_GRAFT_TIER=core runs the
    // declared q-board (the driver's 22-query oracle contract, the
    // per-commit smoke tier); default/"full" runs everything.
    val tier = Harness.tier()
    val only = Harness.subset(runnable.keySet)
    val board = SparkEntry.queries.keys.filter(n => tier == "full" || n.startsWith("q"))
    val names = only match {
      case None => board.toSeq.sorted
      case Some(o) => (board ++ probes.keys).filter(o).toSeq.sorted
    }
    if (tier == "core") System.err.println(
      s"[bench] TIER=core: ${names.size} of ${SparkEntry.queries.size} queries")

    val isChild = Harness.isChild()
    val isolate = !isChild && Harness.isolate()

    // full-board shared runs isolate the pinned heavy tier (see
    // HeavyTier's scaladoc); subset/tiered runs keep the plain shared
    // path so quick iteration costs no JVM spin-ups
    val fullBoard = tier == "full" && only.isEmpty
    val heavyIsolate = !isChild && !isolate && fullBoard
    val timed: Seq[(String, Double, Seq[Double])] =
      if (isolate) names.map(n => runIsolated(n, sfDir))
      else if (heavyIsolate) {
        val (heavy, light) = names.partition(HeavyTier)
        System.err.println(
          s"[bench] heavy tier: ${heavy.size} queries in fresh JVMs")
        val byName = (runShared(light, sfDir) ++
          heavy.map(n => runIsolated(n, sfDir))).map(t => t._1 -> t).toMap
        names.map(byName) // original order: the artifact stays stable
      }
      else runShared(names, sfDir)

    if (isChild) {
      // machine-readable per-query report for the isolate-mode parent;
      // no artifact writes (the parent owns the files)
      timed.foreach { case (n, best, ts) =>
        println(s"$RepMarker $n|$best|${ts.mkString(",")}")
      }
    } else {
      val results = timed.map(t => (t._1, t._2))
      // the COMPLETE per-query map lands next to the repo sources — the
      // printed line is the driver contract, the file is the audit
      // trail (the driver's capture window is finite). Every raw
      // repetition rides along so a plan audit can tell host jitter
      // (wide rep spread) from a real regression (tight spread at a new
      // level) without re-running the board. Subset runs are routed to
      // the gitignored BENCH_scratch.json so they can never overwrite
      // the committed full-board BENCH_FULL.json (nor leave a stale
      // committed artifact — r15's BENCH_core.json carried r13 numbers
      // for two rounds before its retirement; scale probes live in
      // BENCH_sf1.json).
      val explicitOut = Harness.out()
      val outPath = explicitOut.getOrElse(
        if (fullBoard) "BENCH_FULL.json" else "BENCH_scratch.json")
      if (!fullBoard && explicitOut.isEmpty)
        System.err.println(s"[bench] subset run -> $outPath (BENCH_FULL.json untouched)")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outPath),
        renderFull(results, sfDir, timed.map(t => (t._1, t._3)),
          heavyIsolated = if (heavyIsolate) names.filter(HeavyTier) else Nil))
      println(renderLine(results, sfDir, reps = timed.map(t => (t._1, t._3))))
    }
  }

  /** Shared-JVM measurement of `names`: one warm-up pass, then
    * best-of-3 (+2 spaced retries for slow/inflated queries) each, with
    * a release after every run and an inter-query GC + settle barrier. */
  private def runShared(names: Seq[String],
                        sfDir: String): Seq[(String, Double, Seq[Double])] = {
    val spark = Harness.session()
    // warm-up: JIT + codegen cache + parquet footer cache
    names.foreach { n =>
      try runnable(n)(spark, sfDir).count()
      catch { case _: Throwable => () }
      // dedup shingle/token tables persist per CALL, so stale entries
      // are dead weight that would spill to disk across the passes
      finally Harness.release(spark, blocking = false)
    }
    // best of three timed passes per query — the host shows up to ±2.5×
    // run-to-run jitter on sub-second queries (noisy-neighbor CPU), and
    // min-of-3 tracks achievable latency much more stably than one shot.
    // Failures report -1, not a (fast-looking) elapsed time.
    def timeOne(n: String): Double = {
      val t0 = System.nanoTime()
      try { runnable(n)(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => -1.0 }
      // blocking: cleanup must FINISH outside the clock, not drift into
      // the next query's timed window as async block-removal work
      finally Harness.release(spark, blocking = true)
    }
    // per-REP barrier: one rep's garbage (LSH mining allocates heavily)
    // can land a multi-second GC pause inside the NEXT rep's clock —
    // observed as a stray 9 s rep on an otherwise-1.5 s query. Collect
    // and settle briefly OUTSIDE the clock before every measurement.
    def rep(n: String): Double = {
      System.gc()
      Thread.sleep(150)
      timeOne(n)
    }
    // SPARK_GRAFT_REPS shrinks the per-query repetition budget for
    // long-horizon scale probes (a 100× query at minutes per rep does
    // not need best-of-5 to tell sub-linear from quadratic); default 3
    // keeps the committed protocol. Values < 3 also disable the two
    // spaced retries.
    val nReps = Harness.reps()
    val timed = names.map { n =>
      // inter-query barrier: round 10's driver run showed 24 queries
      // with >3× rep spread (vs 2 in a quiet environment) on identical
      // code — accumulated heap garbage from query N billing query N+1
      // (each rep already released its blocks). Force a full
      // collection and give the JVM a settle window OUTSIDE any clock.
      System.gc()
      Thread.sleep(250)
      val ts = Seq.fill(nReps)(rep(n))
      var best = ts.min
      var extra = Seq.empty[Double]
      // noisy-neighbor guard: a sub-second plan inflated by a bad host
      // window stays inflated for 3 back-to-back passes; two spaced
      // retries (after the cleanup above settles) rescue the honest
      // number, and for genuinely slow queries cost ≤ 2 extra runs
      // a retry that itself fails transiently must not poison the min:
      // three honest primary measurements stand on their own
      if (best > 0.75 && nReps >= 3) {
        extra = Seq.fill(2)(rep(n)).filter(_ >= 0)
        best = (best +: extra).min
      }
      (n, if (best < 0 || ts.exists(_ < 0)) -1.0 else best, ts ++ extra)
    }
    spark.stop()
    timed
  }

  /** Fresh-JVM measurement of one query: spawn a child `java` with this
    * JVM's exact classpath and flags (both are real because
    * `run / fork := true`), SPARK_GRAFT_ONLY pinned to the query, and
    * parse its marker line. A child that dies or prints no marker
    * reports -1 — a finding, never a silent skip. */
  private def runIsolated(n: String, sfDir: String): (String, Double, Seq[Double]) = {
    import scala.jdk.CollectionConverters._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")
    val pb = new ProcessBuilder(cmd.asJava)
    pb.redirectErrorStream(false)
    val env = pb.environment()
    env.put("SPARK_GRAFT_CHILD", "1")
    env.put("SPARK_GRAFT_ONLY", n)
    env.put("SPARK_GRAFT_TIER", "full")
    env.put("SPARK_GRAFT_SF_DIR", sfDir)
    env.remove("SPARK_GRAFT_ISOLATE")
    env.remove("SPARK_GRAFT_OUT")
    System.err.println(s"[bench] isolate: $n")
    val proc = pb.start()
    // drain stderr concurrently so a chatty child can't deadlock on a
    // full pipe; keep a bounded tail to surface only on failure — a
    // 20-query probe would otherwise relay thousands of Spark startup
    // INFO lines per child
    val errTail = new java.util.concurrent.ConcurrentLinkedDeque[String]()
    val errDrain = new Thread(() => {
      val src = scala.io.Source.fromInputStream(proc.getErrorStream)
      try src.getLines().foreach { l =>
        errTail.addLast(l)
        while (errTail.size > 50) errTail.removeFirst()
      } finally src.close()
    })
    errDrain.setDaemon(true)
    errDrain.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream)
    val marker = try {
      out.getLines().collectFirst {
        case l if l.startsWith(RepMarker) => l.stripPrefix(RepMarker).trim
      }
    } finally out.close()
    val code = proc.waitFor()
    marker match {
      case Some(m) =>
        val parts = m.split('|')
        val reps = parts(2).split(',').filter(_.nonEmpty).map(_.toDouble).toSeq
        (parts(0), parts(1).toDouble, reps)
      case None =>
        System.err.println(s"[bench] isolate child for $n exited $code with no marker")
        errTail.forEach(l => System.err.println(s"[child:$n] $l"))
        (n, -1.0, Seq(-1.0))
    }
  }

  private def entryJson(kv: (String, Double)): String =
    "\"" + kv._1 + f"""\":${kv._2}%.3f"""

  private def median(ts: Seq[Double]): Double = {
    val s = ts.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Sum of per-query rep medians (failures excluded) — the
    * robust-total companion to the best-of headline. Round 11's
    * committed total moved 25% on single-rep cache accidents; a
    * median-based total is insensitive to one lucky (or unlucky) rep
    * per query, so the pair (total, total_median) separates "the board
    * got slower" from "one rep caught a GC pause". */
  def medianTotal(reps: Seq[(String, Seq[Double])]): Double =
    reps.flatMap { case (_, all) =>
      val ok = all.filter(_ >= 0)
      if (ok.isEmpty) None else Some(median(ok))
    }.sum

  /** Complete results as pretty-enough JSON (one query per line).
    * `reps` (when given) adds the raw per-repetition timings behind
    * each best-of value — the noise-vs-regression audit trail — plus a
    * per-query [min, median, max] "stats" block and a "high_variance"
    * list of queries whose max/min exceeds 3×: min-of-reps alone hid
    * 16× spreads in round 9 (x74 3.5→57 s) and with them exactly the
    * cross-query cache/GC interference a regression bisect needs. */
  def renderFull(results: Seq[(String, Double)], sfDir: String,
                 reps: Seq[(String, Seq[Double])] = Nil,
                 heavyIsolated: Seq[String] = Nil): String = {
    val total = results.map(_._2).filter(_ >= 0).sum
    // protocol transparency: name the queries measured in fresh child
    // JVMs so a round-over-round reader knows which numbers changed
    // measurement conditions (round 15: the pinned heavy tier)
    val iso =
      if (heavyIsolated.isEmpty) ""
      else heavyIsolated.sorted.mkString(
        "\"heavy_isolated\":[\"", "\",\"", "\"],\n  ")
    val queries = results.map(e => "    " + entryJson(e)).mkString(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir",%n  $iso"queries":{%n""",
      ",\n", "\n  }")
    // the drift-control block (see Controls): emitted whenever any of
    // the four pinned controls ran, so a subset run that includes them
    // still yields a normalization basis
    val ctl = results.filter { case (n, v) => Controls.contains(n) && v >= 0 }
    val ctlBlock =
      if (ctl.isEmpty) ""
      else {
        val rows = ctl.sortBy(_._1).map { case (n, v) =>
          f"""    {"query":"$n","best":$v%.3f,"anchor_r15":${Controls(n)}%.3f,"ratio":${v / Controls(n)}%.3f}"""
        }.mkString(",\n")
        val geo = math.exp(
          ctl.map { case (n, v) => math.log(v / Controls(n)) }.sum / ctl.size)
        f""",%n  "controls":{"geomean_ratio":$geo%.3f,"anchor":"r15 committed BENCH_FULL.json","rows":[%n$rows%n  ]}"""
      }
    if (reps.isEmpty) queries + ctlBlock + "\n}\n"
    else {
      val stats = reps.map { case (n, all) =>
        val ok = all.filter(_ >= 0)
        (n, if (ok.isEmpty) Seq(-1.0, -1.0, -1.0)
            else Seq(ok.min, median(ok), ok.max))
      }
      val highVar = stats.collect {
        case (n, Seq(mn, _, mx)) if mn > 0 && mx / mn > 3.0 => (n, mx / mn)
      }
      val repsBlock = reps.map { case (n, ts) =>
        "    \"" + n + "\":[" + ts.map(t => f"$t%.3f").mkString(",") + "]"
      }.mkString(",\n  \"reps\":{\n", ",\n", "\n  }")
      val statsBlock = stats.map { case (n, s) =>
        "    \"" + n + "\":[" + s.map(t => f"$t%.3f").mkString(",") + "]"
      }.mkString(",\n  \"stats\":{\n", ",\n", "\n  }")
      val varBlock =
        if (highVar.isEmpty) ""
        else highVar.sortBy(-_._2).map { case (n, r) =>
          "    {\"query\":\"" + n + f"""\",\"max_over_min\":$r%.1f}"""
        }.mkString(",\n  \"high_variance\":[\n", ",\n", "\n  ]")
      val medBlock = f""",%n  "total_median":${medianTotal(reps)}%.3f"""
      queries + repsBlock + statsBlock + varBlock + ctlBlock + medBlock + "\n}\n"
    }
  }

  /** The ONE printed JSON line, bounded to `budget` chars.
    *
    * The driver parses this line out of a bounded tail capture of the
    * sbt output (observed window: 2000 chars, with sbt's own
    * "[success] Total time" trailer inside it). Round 7's 113-query
    * line overran that window and the round lost its parsed bench —
    * so the line is now a hard-budgeted artifact: failures (-1) and
    * the slowest queries keep their full names, the fastest remainder
    * collapses into {"fast_n": count, "fast_sum": seconds}, and the
    * complete map lives in BENCH_FULL.json (pointed to by "full").
    * Totals are identical between the two renderings. */
  def renderLine(results: Seq[(String, Double)], sfDir: String,
                 budget: Int = 1700,
                 reps: Seq[(String, Seq[Double])] = Nil): String = {
    val total = results.map(_._2).filter(_ >= 0).sum
    // robust-total companion: with reps available, carry the sum of
    // per-query medians next to the best-of total so one lucky/unlucky
    // rep per query can't move the headline unchallenged (round 11's
    // total swung 25% on exactly that)
    val medPart =
      if (reps.isEmpty) ""
      else f""","total_median":${medianTotal(reps)}%.3f"""
    def render(kept: Seq[(String, Double)], dropped: Seq[(String, Double)]): String = {
      val qs = kept.sortBy(_._1).map(entryJson).mkString("{", ",", "}")
      val rest =
        if (dropped.isEmpty) ""
        else f""","fast_n":${dropped.size},"fast_sum":${dropped.map(_._2).filter(_ >= 0).sum}%.3f,"full":"BENCH_FULL.json""""
      f"""{"metric":"total","value":$total%.3f$medPart,"unit":"sec","queries":$qs$rest,"sf":"$sfDir"}"""
    }
    // retention priority: failures are findings and must never be
    // summarized away; then slowest-first (the queries a plan audit
    // actually reads); sub-budget runs keep every name
    val prio = results.sortBy { case (_, v) =>
      -(if (v < 0) Double.MaxValue else v)
    }
    // the shrink floor: k never drops below the failure count, so a
    // pathological all-failing board overruns the budget rather than
    // summarizing failures away (they sort first, so take(k) with
    // k >= nFail always retains every one of them — and none can leak
    // into the dropped tail to inflate fast_n / skew fast_sum)
    val nFail = results.count(_._2 < 0)
    var k = prio.size
    var line = render(prio.take(k), prio.drop(k))
    while (line.length > budget && k > nFail) {
      k -= 1
      line = render(prio.take(k), prio.drop(k))
    }
    line
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset profiling — the first thing run against any new corpus
  * drop: per-column row/null/distinct counts as one queryable frame.
  * Mirrors the reference's validation stage (etl_connector.py checks
  * envelope shape and field presence before loading) generalized to
  * whole-corpus statistics.
  */
object Profiling {

  /** Per-column profile: (col_name, n_rows, n_null, n_distinct),
    * one row per requested column.
    *
    * ONE aggregation pass over the data: all 3·|cols| aggregates run
    * in a single `agg` (Spark plans the multi-distinct via one Expand
    * + one shuffle — |cols|+1 duplicated streams, not |cols| scans),
    * then the 1-row result is unpivoted driver-free with
    * explode(array(struct…)). Exact distinct counts keep the result
    * oracle-comparable; at 100 TB flip `approx = true` and the Expand
    * collapses to plain partial HLL sketches — same output shape,
    * rows-only checkable (sketch estimates are engine-specific).
    *
    * COUNT(DISTINCT c) excludes nulls in every engine — n_null and
    * n_distinct are independent facts, not complements. */
  def profile(df: DataFrame, cols: Seq[String],
              approx: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"columns not in frame: ${missing.mkString(", ")}")
    val aggs = cols.flatMap { c =>
      Seq(
        count(lit(1)).as(s"__n_$c"),
        count(col(c)).as(s"__nn_$c"),
        (if (approx) approx_count_distinct(col(c)) else countDistinct(col(c)))
          .as(s"__d_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c => struct(
      lit(c).as("col_name"),
      col(s"__n_$c").as("n_rows"),
      (col(s"__n_$c") - col(s"__nn_$c")).as("n_null"),
      col(s"__d_$c").as("n_distinct")))
    one.select(explode(array(stacked: _*)).as("p"))
      .select("p.*")
      .orderBy("col_name")
  }

  /** Fixed-range integer histogram of a numeric column: `nbins` equal
    * bins over [lo, hi), out-of-range values CLAMPED into the edge
    * bins (width_bucket's under/overflow buckets folded inward — the
    * profiling convention where extreme values should be visible, not
    * dropped). Bin assignment is pure integer arithmetic
    * (`(v−lo)·nbins div (hi−lo)`, clamped) — exact in any engine.
    * Empty bins are absent from the output (a corpus histogram at
    * 100 TB has no empty bins worth materializing).
    *
    * One aggregation pass; the shuffle carries ≤ nbins rows per task
    * after map-side combine. Nulls are excluded (count them via
    * [[profile]]). `(v−lo)·nbins` must fit a long — range-reduce
    * first for astronomically-scaled values.
    *
    * @return (bin, n) ordered by bin. */
  def histogram(df: DataFrame, valueCol: String, lo: Long, hi: Long,
                nbins: Int): DataFrame = {
    require(hi > lo, s"hi ($hi) must be > lo ($lo)")
    require(nbins >= 1 && nbins <= (1 << 20), s"nbins ($nbins) out of range")
    val v = col(valueCol).cast("long")
    df.filter(v.isNotNull)
      .groupBy(binCol(valueCol, lo, hi, nbins).as("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bin")
  }

  /** `div` (integral division) only exists as a SQL operator; negative
    * numerators divide differently across engines (trunc vs floor) but
    * the clamp folds both into bin 0, so the assignment is engine-exact. */
  private def binCol(valueCol: String, lo: Long, hi: Long, nbins: Int) =
    least(greatest(
      expr(s"(CAST($valueCol AS BIGINT) - ${lo}L) * ${nbins}L div ${hi - lo}L"),
      lit(0L)), lit(nbins - 1L))

  /** Population-stability-index drift between two corpus snapshots —
    * THE standard "did this drop shift the distribution?" gate run
    * before a new crawl enters training. Both frames are binned with
    * [[histogram]]'s clamped integer rule, add-one smoothed over the
    * FULL `nbins` support (so empty bins are well-defined and the
    * index is finite without an arbitrary ε), and each bin reports its
    * signed PSI contribution: (p_b − p_n)·ln(p_b/p_n) with
    * p = (count+1)/(total+nbins). Σ psi over bins is the headline
    * index (rule of thumb: <0.10 stable, 0.10–0.25 drifting, >0.25
    * shifted); per-bin rows show WHERE the mass moved, which the
    * scalar hides.
    *
    * Scale shape: one narrow map + aggregation pass per side (map-side
    * combine; the shuffle carries ≤ nbins rows per task), then all
    * arithmetic runs on the ≤ nbins-row bin table — the spine join,
    * totals cross-join, and ln live entirely on driver-sized frames.
    * Nothing data-scale ever joins or re-shuffles.
    *
    * Oracle parity: bin assignment is exact integer arithmetic; ln is
    * taken over a single ratio of exact integer products (counts and
    * totals — exact in doubles below 2⁵³, so range-reduce first at
    * extreme scale), p-differences are single IEEE divisions and one
    * subtraction, and the result is floor-rounded to micronats — the
    * x51/x77 cross-engine ln discipline, with only ONE ln per output
    * value (no summation-order ulps at all).
    *
    * @return (bin, n_base, n_next, psi_micronats), all nbins bins
    *         present, ordered by bin. */
  def psiDrift(base: DataFrame, next: DataFrame, valueCol: String,
               lo: Long, hi: Long, nbins: Int): DataFrame = {
    require(hi > lo, s"hi ($hi) must be > lo ($lo)")
    require(nbins >= 1 && nbins <= (1 << 20), s"nbins ($nbins) out of range")
    val v = col(valueCol).cast("long")
    def binned(df: DataFrame, side: Int) =
      df.filter(v.isNotNull)
        .select(binCol(valueCol, lo, hi, nbins).as("bin"), lit(side).as("side"))
    val counts = binned(base, 0).unionByName(binned(next, 1))
      .groupBy("bin")
      .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("n_base"),
           sum(when(col("side") === 1, 1L).otherwise(0L)).as("n_next"))
    val spine = base.sparkSession.range(nbins).toDF("bin")
    val full = spine.join(counts, Seq("bin"), "left")
      .na.fill(0L, Seq("n_base", "n_next"))
    val tot = full.agg(sum("n_base").as("tot_base"), sum("n_next").as("tot_next"))
    val k = lit(nbins.toLong)
    val pBase = (col("n_base") + lit(1L)) / (col("tot_base") + k)
    val pNext = (col("n_next") + lit(1L)) / (col("tot_next") + k)
    val lnRatio = log(
      ((col("n_base") + lit(1L)) * (col("tot_next") + k)).cast("double") /
      ((col("n_next") + lit(1L)) * (col("tot_base") + k)).cast("double"))
    full.crossJoin(tot)
      .select(col("bin"), col("n_base"), col("n_next"),
        floor((pBase - pNext) * lnRatio * lit(1e6) + lit(0.5))
          .cast("long").as("psi_micronats"))
      .orderBy("bin")
  }

  /** Pearson correlation matrix over exact-integer columns (cents /
    * counts), reported as the strict upper triangle in milli units.
    * The feature-redundancy scan run before any modeling or
    * stratification choice: |corr| ≈ 1000 means one column is the
    * other's alias and stratifying on both double-counts.
    *
    * ONE aggregation pass computes every moment the matrix needs
    * (n, Σx per column, Σxy per pair — |cols|·(|cols|+3)/2 aggregates
    * in a single `agg`, map-side partials, a 1-row result), then the
    * pair rows unpivot driver-free via explode(array(struct…)) — the
    * [[profile]] shape. Nothing data-scale shuffles twice.
    *
    * Oracle parity: products and sums stay EXACT — Σxy accumulates in
    * decimal(38,0) (HUGEINT in DuckDB), so there is no summation-order
    * ulp at all; the only floating-point steps are the final
    * correctly-rounded double conversions, one subtraction, two
    * sqrts and a division per pair, identical expression trees in
    * both engines, then milli-rounding. A zero-variance column yields
    * NULL (correlation undefined), not a division crash.
    *
    * @return (col_a, col_b, corr_milli) for each pair a < b in the
    *         given column order, ordered by (col_a, col_b). */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"columns not in frame: ${missing.mkString(", ")}")
    def dec(c: String) = col(c).cast("decimal(19,0)")
    val pairs = for { i <- cols.indices; j <- i until cols.size }
      yield (cols(i), cols(j))
    val aggs =
      (count(lit(1)).as("__n") +:
        cols.map(c => sum(dec(c)).as(s"__s_$c"))) ++
        pairs.map { case (a, b) => sum(dec(a) * dec(b)).as(s"__p_${a}__$b") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val nD = col("__n").cast("double")
    def sD(c: String) = col(s"__s_$c").cast("double")
    def pD(a: String, b: String) = col(s"__p_${a}__$b").cast("double")
    val rows = for { i <- cols.indices; j <- (i + 1) until cols.size } yield {
      val (a, b) = (cols(i), cols(j))
      val num = nD * pD(a, b) - sD(a) * sD(b)
      val den = sqrt(nD * pD(a, a) - sD(a) * sD(a)) *
        sqrt(nD * pD(b, b) - sD(b) * sD(b))
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        when(den === 0.0d, lit(null).cast("long"))
          .otherwise(floor(num / den * 1000 + 0.5d).cast("long"))
          .as("corr_milli"))
    }
    one.select(explode(array(rows: _*)).as("r"))
      .select("r.*")
      .orderBy("col_a", "col_b")
  }

  /** Pointwise mutual information between two categorical columns, in
    * micronats per cell — the association scan behind mix-design
    * questions like "is source₃ secretly all-German?": PMI(x,y) =
    * ln(n·n_xy / (n_x·n_y)), positive when the cell is over-represented
    * vs independence, with the observed count alongside so a reader
    * can weigh significance (a +2000000 µnat cell with n_xy = 2 is
    * noise; with n_xy = 20 000 it is structure).
    *
    * Cost: one groupBy to the (x, y) cell table — vocabulary-bounded,
    * orders of magnitude below data scale — then marginals as window
    * sums OVER THE CELL TABLE (three window passes on a tiny frame,
    * nothing data-scale shuffles twice). The empty-frame window (grand
    * total) is single-partition by construction — fine, because it
    * runs on |X|·|Y| rows, not rows of data.
    *
    * Oracle parity: counts are exact integers; n·n_xy and n_x·n_y are
    * exact in doubles below 2⁵³ (range-reduce first beyond ~10¹⁵·10¹⁵
    * products); ONE ln per output value, micronat floor-rounding —
    * the [[psiDrift]] discipline.
    *
    * @return (x, y, n_xy, pmi_micronats) per observed cell, ordered. */
  def pmiCells(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("n_xy"))
    val withMarginals = cells
      .withColumn("n_x", sum("n_xy").over(Window.partitionBy("x")))
      .withColumn("n_y", sum("n_xy").over(Window.partitionBy("y")))
      .withColumn("n", sum("n_xy").over(Window.partitionBy()))
    withMarginals
      .select(col("x"), col("y"), col("n_xy"),
        floor(log((col("n") * col("n_xy")).cast("double") /
            (col("n_x") * col("n_y")).cast("double")) * lit(1e6) + lit(0.5))
          .cast("long").as("pmi_micronats"))
      .orderBy("x", "y")
  }

  /** Equi-DEPTH histogram: `nbins` buckets of (near-)equal row count
    * with each bucket's value bounds — the complement of [[histogram]]
    * (equal-width bins, wildly unequal counts on skewed data). This is
    * the exact NTILE form: deterministic given the total order
    * (`valueCol` + explicit tie-break columns — REQUIRED, NTILE over
    * ties is engine-arbitrary otherwise), and therefore
    * oracle-replayable.
    *
    * Scale note, stated plainly: the exact form is ONE global sort —
    * the same cost class as any total-order operator (x58 Z-order
    * write, q14's full sort). At 100 TB cut bucket BOUNDS from
    * `approxQuantile` (driver-side, one pass, no global sort) and
    * assign buckets with a range join against those bounds instead;
    * estimates are engine-specific, so that variant is rows-only
    * checkable — this exact form is the oracle anchor the approximate
    * one is validated against at test scale.
    *
    * @return (bucket 1..nbins, n, lo, hi), ordered by bucket. */
  def equidepthHistogram(df: DataFrame, valueCol: String, nbins: Int,
                         tieBreakCols: Seq[String]): DataFrame = {
    require(nbins >= 1, s"nbins ($nbins) must be >= 1")
    require(tieBreakCols.nonEmpty,
      "equidepthHistogram needs tie-break columns: NTILE over a non-total " +
        "order is engine-arbitrary and the result would not replay")
    import org.apache.spark.sql.expressions.Window
    val order = (col(valueCol) +: tieBreakCols.map(col)).map(_.asc)
    val w = Window.orderBy(order: _*)
    df.filter(col(valueCol).isNotNull)
      .select(col(valueCol), ntile(nbins).over(w).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(valueCol).as("lo"), max(valueCol).as("hi"))
      .orderBy("bucket")
  }

  /** The 100 TB equi-depth path [[equidepthHistogram]]'s scale note
    * promises: bucket BOUNDS from `approxQuantile` (Greenwald–Khanna —
    * one pass, driver-side cutpoint collect, NO global sort), bucket
    * assignment as a baked when-free literal fold over the ≤ nbins−1
    * cutpoints riding the scan, then the same (n, lo, hi) aggregate.
    * Counts are near-equal within the sketch's relative error rather
    * than exactly NTILE-equal, and estimates are engine-specific —
    * rows-only checkable; ProfilingSpec validates it against the exact
    * form at test scale (bucket counts within tolerance, bounds
    * consistent). Ties at a cutpoint all land LOW (value > cut moves
    * up), so equal values never split across buckets — the property
    * NTILE gives up.
    *
    * @return (bucket 1..≤nbins, n, lo, hi) for non-empty buckets,
    *         ordered by bucket. */
  def equidepthHistogramApprox(df: DataFrame, valueCol: String, nbins: Int,
                               relativeError: Double = 0.001): DataFrame = {
    require(nbins >= 1, s"nbins ($nbins) must be >= 1")
    require(relativeError > 0 && relativeError <= 0.5,
      s"relativeError ($relativeError) out of (0, 0.5]")
    val clean = df.filter(col(valueCol).isNotNull)
    val probs = (1 until nbins).map(_.toDouble / nbins)
    val cuts = clean.stat.approxQuantile(valueCol, probs.toArray, relativeError)
    val bucket = cuts.foldLeft(lit(1): Column)((acc, c) =>
      acc + when(col(valueCol) > c, 1).otherwise(0))
    clean
      .select(col(valueCol), bucket.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(valueCol).as("lo"), max(valueCol).as("hi"))
      .orderBy("bucket")
  }

  /** Per-group exact weighted median: the smallest `valueCol` v such
    * that rows with value ≤ v carry at least half the group's total
    * `weightCol` mass (the lower weighted median — deterministic, no
    * interpolation). With weight = token count this answers the mix
    * question an unweighted median gets wrong: "half the TOKENS sit
    * in documents shorter than …", which is what a length cutoff
    * actually removes at training time.
    *
    * Scale shape: the x71/x92 cumulative-histogram discipline — one
    * (group, value) aggregation with map-side combine collapses the
    * corpus to its distinct-value table, the running-sum window and
    * the half-mass selection run over THAT bounded table, and no raw
    * row ever passes through a sort. All arithmetic is exact integer
    * (2·cum vs total avoids division entirely). When the
    * distinct-value table itself is the exposure (cents, micros —
    * cardinality ~ |rows|), [[weightedMedianApprox]] is the shipped
    * bounded-bin sibling; this exact form is its oracle anchor.
    */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                     weightCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull
        && col(weightCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(valueCol).as("v"))
      .agg(sum(col(weightCol)).as("w"))
    val cum = Window.partitionBy(col("grp")).orderBy(col("v"))
    vals
      .withColumn("__cum", sum("w").over(cum))
      .withColumn("__tot", sum("w").over(Window.partitionBy(col("grp"))))
      .filter(col("__cum") * 2 >= col("__tot"))
      .groupBy("grp")
      .agg(min("v").as("wmedian"), max("__tot").as("total_weight"))
      .orderBy("grp")
  }

  /** Id-continuity audit: the missing ranges in a (supposedly dense)
    * integer id column — the "did ingest drop a page" check for any
    * source that hands out sequential ids (the reference's paginated
    * scan is exactly such a source: a silently failed page is a
    * contiguous id gap, and this report names it).
    *
    * One distinct projection + ONE un-partitioned lag window over the
    * DISTINCT id table — the exact-oracle anchor form, right at the
    * audit's typical scale (ids of ONE ingest run). For a full-corpus
    * id column use [[idGapsBucketed]] — same output, no un-partitioned
    * window over raw ids.
    *
    * Output: (gap_start, gap_end, n_missing) per maximal missing run.
    */
  def idGaps(df: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("__id"))
    df.filter(col(idCol).isNotNull).select(col(idCol).as("__id")).distinct()
      .withColumn("__prev", lag(col("__id"), 1).over(w))
      .filter(col("__prev").isNotNull && col("__id") - col("__prev") > 1L)
      .select((col("__prev") + 1L).as("gap_start"),
        (col("__id") - 1L).as("gap_end"),
        (col("__id") - col("__prev") - 1L).as("n_missing"))
      .orderBy("gap_start")
  }

  /** [[idGaps]]' data-scale form — identical output, no un-partitioned
    * window over the id table. Two-level decomposition on coarse
    * buckets (`id div bucketSize`):
    *
    *  1. WITHIN-bucket gaps: the lag window runs PARTITIONED by bucket
    *     (fully distributed — a gap between two present ids in the
    *     same bucket never crosses a partition), and only over SPARSE
    *     buckets: a groupBy first computes per-bucket (count, min,
    *     max), and buckets where count = max−min+1 are dense runs with
    *     no interior gap — they are pruned before the window ever sees
    *     their ids. On a mostly-dense 100 TB id column this drops
    *     nearly every row.
    *  2. CROSS-bucket gaps: a run of missing ids spanning a bucket
    *     boundary surfaces between one bucket's max and the next
    *     bucket's min (entirely-missing buckets simply widen it). One
    *     un-partitioned lag window computes these — but over the
    *     per-bucket summary table, |ids|/bucketSize rows, collapsed by
    *     the bucket factor (10⁹ distinct ids at the default 2²⁰ ≈ a
    *     thousand-row window input).
    *
    * Every interior gap lies within one bucket and every boundary gap
    * is exactly one summary-lag row, so the union reproduces
    * [[idGaps]] maximal-run-for-run (ProfilingSpec asserts ≡ on holed
    * corpora; PlanSpec asserts the per-id window is partitioned and
    * the un-partitioned one reads the bucket summary, not raw ids). */
  def idGapsBucketed(df: DataFrame, idCol: String,
                     bucketSize: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketSize >= 2, s"bucketSize ($bucketSize) must be >= 2")
    val ids = df.filter(col(idCol).isNotNull).select(col(idCol).as("__id"))
      .distinct()
      .withColumn("__b", expr(s"__id div ${bucketSize}L"))
    val stats = ids.groupBy("__b").agg(count(lit(1)).as("__cnt"),
      min("__id").as("__min"), max("__id").as("__max"))
    val sparse = stats
      .filter(col("__cnt") < col("__max") - col("__min") + 1L).select("__b")
    val wIn = Window.partitionBy(col("__b")).orderBy(col("__id"))
    val interior = ids.join(sparse, Seq("__b"))
      .withColumn("__prev", lag(col("__id"), 1).over(wIn))
      .filter(col("__prev").isNotNull && col("__id") - col("__prev") > 1L)
      .select((col("__prev") + 1L).as("gap_start"),
        (col("__id") - 1L).as("gap_end"),
        (col("__id") - col("__prev") - 1L).as("n_missing"))
    val wB = Window.orderBy(col("__b"))
    val boundary = stats
      .withColumn("__pmax", lag(col("__max"), 1).over(wB))
      .filter(col("__pmax").isNotNull && col("__min") - col("__pmax") > 1L)
      .select((col("__pmax") + 1L).as("gap_start"),
        (col("__min") - 1L).as("gap_end"),
        (col("__min") - col("__pmax") - 1L).as("n_missing"))
    interior.unionByName(boundary).orderBy("gap_start")
  }

  /** Per-group higher-moment profile of an integer column: n, mean,
    * population variance, skewness, and excess kurtosis (all
    * milli-rounded) — the distribution-shape report that tells a
    * curation pipeline whether a length/quality signal is symmetric
    * enough for z-score fences ([[Clustering.madOutliers]]' cheaper
    * cousin) or heavy-tailed enough to need quantile ones.
    *
    * Float discipline, the key to cross-engine exactness: the four
    * power sums S1..S4 accumulate as EXACT integers (S3/S4 in
    * DECIMAL(38,0) — v ≤ 10⁵ keeps v⁴ ≤ 10²⁰, far under the 38-digit
    * cap even summed over 10¹⁵ rows), so aggregation ORDER cannot
    * perturb anything; the moment formulas then run on doubles
    * converted from those exact sums in ONE deterministic expression
    * per output (m2^1.5 spelled m2·√m2 — sqrt is IEEE-exact where
    * pow is not). Shuffle cost: one map-side-combined groupBy; the
    * moment math runs on the |groups|-row aggregate table.
    *
    * A constant group (m2 = 0) reports NULL skew/kurtosis rather
    * than dividing by zero.
    *
    * @return (grp, n, mean_milli, var_milli, skew_milli, kurt_milli)
    *         ordered by group. */
  def momentsBy(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"), col(valueCol).cast("long").as("v"))
      .withColumn("x2", col("v") * col("v"))
    val sums = base.groupBy("grp").agg(
      count(lit(1)).as("n"),
      sum("v").as("s1"),
      sum("x2").as("s2"),
      sum(expr("cast(x2 as decimal(38,0)) * v")).as("s3"),
      sum(expr("cast(x2 as decimal(38,0)) * x2")).as("s4"))
    val m = sums
      .withColumn("nd", col("n").cast("double"))
      .withColumn("mean", col("s1").cast("double") / col("nd"))
      .withColumn("m2",
        col("s2").cast("double") / col("nd") - col("mean") * col("mean"))
      .withColumn("m3",
        col("s3").cast("double") / col("nd")
          - lit(3.0) * col("mean") * (col("s2").cast("double") / col("nd"))
          + lit(2.0) * col("mean") * col("mean") * col("mean"))
      .withColumn("m4",
        col("s4").cast("double") / col("nd")
          - lit(4.0) * col("mean") * (col("s3").cast("double") / col("nd"))
          + lit(6.0) * col("mean") * col("mean")
            * (col("s2").cast("double") / col("nd"))
          - lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
    m.select(col("grp"), col("n"),
        floor(col("mean") * 1000 + 0.5).cast("long").as("mean_milli"),
        floor(col("m2") * 1000 + 0.5).cast("long").as("var_milli"),
        when(col("m2") <= 0.0, lit(null).cast("long")).otherwise(
          floor(col("m3") / (col("m2") * sqrt(col("m2"))) * 1000 + 0.5)
            .cast("long")).as("skew_milli"),
        when(col("m2") <= 0.0, lit(null).cast("long")).otherwise(
          floor((col("m4") / (col("m2") * col("m2")) - lit(3.0)) * 1000 + 0.5)
            .cast("long")).as("kurt_milli"))
      .orderBy("grp")
  }

  /** Referential-integrity audit: for each declared FK edge
    * (name, child, childKey, parent, parentKey), one row of
    * (relation, n_rows, n_null_keys, n_orphans, orphan_permille) —
    * the "did the snapshot lose rows / did ingest break a join key"
    * report a star-schema warehouse runs after every load, and the
    * check that decides whether a downstream join's row loss is a bug
    * or pre-existing orphanage.
    *
    * Scale shape per edge: the parent side collapses to DISTINCT keys
    * BEFORE the join (the anti-join shuffles key bytes, never parent
    * rows); the child side ships (key) pairs only. NULL child keys are
    * counted separately, not as orphans — SQL join semantics already
    * exclude them and conflating the two hides different bugs. The
    * |edges|-row result unions driver-free.
    */
  def fkAudit(edges: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(edges.nonEmpty, "fkAudit needs at least one FK edge")
    require(edges.map(_._1).distinct.size == edges.size,
      "fkAudit edge names must be distinct")
    edges.map { case (name, child, childKey, parent, parentKey) =>
      val keys = child.select(col(childKey).as("__k"))
      val parentKeys = parent.select(col(parentKey).as("__k")).distinct()
      val orphans = keys.filter(col("__k").isNotNull)
        .join(parentKeys, Seq("__k"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      keys.agg(count(lit(1)).as("n_rows"),
          sum(when(col("__k").isNull, 1L).otherwise(0L)).as("n_null_keys"))
        .crossJoin(orphans) // 1×1 — the x29 recall-combine shape
        .select(lit(name).as("relation"), col("n_rows"), col("n_null_keys"),
          col("n_orphans"),
          when(col("n_rows") === col("n_null_keys"), lit(0L)).otherwise(
            expr("(n_orphans * 1000) div (n_rows - n_null_keys)"))
            .as("orphan_permille"))
    }.reduce(_.unionByName(_)).orderBy("relation")
  }

  /** Functional-dependency audit: for each candidate rule lhs → rhs,
    * does one lhs value always map to one rhs value? Reports, per
    * rule, the distinct-lhs count, how many lhs keys VIOLATE (map to
    * ≥2 distinct rhs), the worst key's rhs fan-out, and the violation
    * share (permille) — schema discovery's "is this column derivable"
    * probe and the data-quality check that catches a merge writing two
    * suppliers onto one part-order line. Complements [[fkAudit]]:
    * that audits edges BETWEEN tables, this audits determinism WITHIN
    * one.
    *
    * Scale shape: ONE scan for ALL rules (the x171 melt discipline —
    * each row explodes into its |rules| (rule, lhs-value, rhs-value)
    * struct rows, an Expand, row-local), then one (rule, lhs) fan-out
    * aggregation with an exact countDistinct (single-distinct plan)
    * and a 1-row-per-rule roll-up with map-side combine. The r13 form
    * ran one input pass per rule. NULL lhs rows are excluded (a null
    * key determines nothing); NULL rhs counts as a value via the
    * grouping-set trick countDistinct + max(isnull). Values melt
    * through a string cast (injective per column for every primitive
    * type, so fan-outs are unchanged); rules join back onto a literal
    * spine so an empty input still reports every rule.
    *
    * @return (rule, n_keys, n_violating, max_fanout,
    *         violation_permille) ordered by rule. */
  def functionalDependencies(df: DataFrame,
                             rules: Seq[(String, String)]): DataFrame = {
    require(rules.nonEmpty, "functionalDependencies needs at least one rule")
    require(rules.distinct.size == rules.size, "duplicate FD rules")
    val melted = df.select(explode(array(rules.map { case (lhs, rhs) =>
        struct(lit(s"$lhs->$rhs").as("rule"),
          col(lhs).cast("string").as("lv"), col(rhs).cast("string").as("rv"))
      }: _*)).as("p"))
      .select(col("p.rule").as("rule"), col("p.lv").as("__l"),
        col("p.rv").as("__r"))
    val folded = melted.filter(col("__l").isNotNull)
      .groupBy("rule", "__l")
      .agg((countDistinct(col("__r")) +
        max(when(col("__r").isNull, 1L).otherwise(0L))).as("__fan"))
      .groupBy("rule")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("__fan") > 1L, 1L).otherwise(0L)).as("n_violating"),
        max("__fan").as("max_fanout"))
    import df.sparkSession.implicits._
    rules.map { case (l, r) => s"$l->$r" }.toDF("rule")
      .join(broadcast(folded), Seq("rule"), "left")
      .select(col("rule"), coalesce(col("n_keys"), lit(0L)).as("n_keys"),
        col("n_violating"), col("max_fanout"),
        expr("(n_violating * 1000) div n_keys").as("violation_permille"))
      .orderBy("rule")
  }

  /** Benford first-digit audit of a positive integer column: observed
    * count + share (permille) of each leading digit 1–9 against the
    * Benford expectation P(d) = log₁₀(1+1/d) — the forensic screen
    * for fabricated or truncated numeric data (real multiplicative
    * quantities follow it; invented ones famously don't). Digits with
    * zero observations still report (left join against a literal digit
    * spine), so a hard floor/cap in the data is visible as a 0-row,
    * not a missing row.
    *
    * The expected shares ship as the PUBLIC constants
    * ⌊1000·log₁₀(1+1/d)+0.5⌉ = [301,176,125,97,79,67,58,51,46] —
    * literals, not runtime logs, so the output is exact integer
    * arithmetic end to end and hash-identical in any engine. The
    * leading digit is string-derived from the BIGINT value (no float
    * log10 in the hot path); rows ≤ 0 or NULL are excluded and
    * reported via n_excluded on every row.
    *
    * Scale shape: one map-side-combined groupBy onto ≤9 keys; the
    * spine of 9 literal rows keeps every digit through a left join
    * against that ≤9-row table.
    *
    * @return (digit, n, observed_permille, expected_permille,
    *         dev_permille, n_excluded) ordered by digit. */
  def benfordDigits(df: DataFrame, valueCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val expected = Seq(301L, 176L, 125L, 97L, 79L, 67L, 58L, 51L, 46L)
      .zipWithIndex.map { case (e, i) => (i + 1L, e) }
      .toDF("digit", "expected_permille")
    val v = df.select(valueCol.cast("long").as("__v"))
    val tot = v.agg(
      sum(when(col("__v") > 0L, 1L).otherwise(0L)).as("__n_pos"),
      sum(when(col("__v") > 0L, 0L).otherwise(1L)).as("__n_excl"))
    val digits = v.filter(col("__v") > 0L)
      .select(substring(col("__v").cast("string"), 1, 1).cast("long")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    expected.join(digits, Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        col("expected_permille"), col("__n_pos"), col("__n_excl"))
      .select(col("digit"), col("n"),
        expr("(n * 1000) div __n_pos").as("observed_permille"),
        col("expected_permille"),
        (expr("(n * 1000) div __n_pos") - col("expected_permille"))
          .as("dev_permille"),
        col("__n_excl").as("n_excluded"))
      .orderBy("digit")
  }

  /** k-anonymity audit over a quasi-identifier tuple: the size of each
    * equivalence class (rows sharing every quasi-identifier value) and
    * whether it falls below the anonymity threshold k — the
    * re-identification risk screen run before releasing or joining a
    * dataset keyed on "harmless" demographic columns (Sweeney's
    * k-anonymity; classes of size < k are linkable). NULL is a value
    * here (null-safe grouping): an absent attribute partitions the
    * population just as observably as a present one.
    *
    * Scale shape: one map-side-combined groupBy on the quasi tuple;
    * output is |classes| rows. The at-risk flag is per-class so the
    * release decision can drop/generalize exactly the risky classes
    * instead of the whole table; the usual summary (how many classes /
    * rows at risk) is a trivial roll-up of this output.
    *
    * @return (quasi cols…, class_size, at_risk) ordered by the quasi
    *         tuple. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymity needs at least one column")
    require(k >= 1, s"k ($k) must be >= 1")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
      .withColumn("at_risk", col("class_size") < k)
      .orderBy(quasiCols.map(col): _*)
  }

  /** Functional-dependency DISCOVERY over a declared column set — the
    * profiling step before [[Profiling]] x141's audit of a KNOWN FD:
    * for every ordered column pair (a → b), the dependency confidence
    * (share of rows consistent with the best per-a value of b — 10⁶
    * ppm = an exact FD, high-but-short = an FD with exceptions worth
    * x141's violation listing). The Metanome-style pairwise tier, the
    * one profilers actually run at scale.
    *
    * ONE scan for ALL pairs (the x171 [[columnEntropy]] melt
    * discipline): each row explodes into its |cols|·(|cols|−1)
    * (lhs, rhs, a-value, b-value) struct rows — an Expand, row-local,
    * no extra input pass — then one (pair, a, b) count with map-side
    * combine, a per-(pair, a) max, one fold. The r13 form ran one full
    * input scan PER PAIR (90 scans at 10 columns — column-pruned but
    * still 90 passes); this reads the input exactly once, which a
    * PlanSpec guard pins. Values melt through a string cast (the melt
    * needs one uniform type); the cast is injective per column for
    * every primitive type, so group counts are unchanged. Null values
    * group as a value (an FD must determine nulls too — both engines
    * group nulls identically); pairs join back onto a literal pair
    * spine so an empty input still reports every pair (n = 0).
    *
    * @return (lhs, rhs, n_lhs_values, confidence_ppm), ordered. */
  def fdDiscovery(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.distinct == cols,
      s"fdDiscovery needs >= 2 distinct columns, got $cols")
    val pairs = for { a <- cols; b <- cols if a != b } yield (a, b)
    val melted = df.select(explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("lhs"), lit(b).as("rhs"),
          col(a).cast("string").as("av"), col(b).cast("string").as("bv"))
      }: _*)).as("p"))
      .select(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"),
        col("p.av").as("__a"), col("p.bv").as("__b"))
    val folded = melted
      .groupBy("lhs", "rhs", "__a", "__b").agg(count(lit(1)).as("__n"))
      .groupBy("lhs", "rhs", "__a")
      .agg(max("__n").as("__best"), sum("__n").as("__tot"))
      .groupBy("lhs", "rhs")
      .agg(count(lit(1)).as("n_lhs_values"),
        sum("__best").as("__sb"), sum("__tot").as("__st"))
    import df.sparkSession.implicits._
    pairs.toDF("lhs", "rhs")
      .join(broadcast(folded), Seq("lhs", "rhs"), "left")
      .select(col("lhs"), col("rhs"),
        coalesce(col("n_lhs_values"), lit(0L)).as("n_lhs_values"),
        expr("""case when __st is null or __st = 0 then null
             else (__sb * 1000000) div __st end""").as("confidence_ppm"))
      .orderBy("lhs", "rhs")
  }

  /** k-anonymity generalization planner — [[kAnonymity]] MEASURES the
    * risk ("which quasi-identifier classes are smaller than k"); this
    * PLANS the cheapest one-step remedy: for the full quasi-identifier
    * set and each leave-one-out subset, the class count, the smallest
    * class, and the number of rows at risk (in classes < k). The row
    * whose `n_rows_at_risk` reaches 0 names the column whose
    * generalization/suppression buys k-anonymity — the governance
    * decision table, not just the alarm (the same measure→plan closure
    * as x277 for skew and x206/purgeApply for retention).
    *
    * ONE scan for ALL options (the x171 melt discipline): each row
    * explodes into its |QI|+1 (dropped, class-key) struct rows — the
    * class key is the option's value tuple as an array<string> (array
    * grouping is exact; the string cast is injective per column for
    * every primitive type, and NULL elements group null-safely exactly
    * as the native groupBy did) — then one (dropped, key) count and a
    * 1-row-per-option roll-up, both map-side combined. The r13 form
    * ran one input pass per option; output stays |QI|+1 rows, never
    * data-scale. Options join back onto a literal spine so an empty
    * input still reports every option.
    *
    * @return (dropped, n_classes, min_class_size, n_rows_at_risk),
    *         dropped = "(none)" for the full set, ordered by dropped. */
  def kAnonPlan(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.size >= 2,
      s"kAnonPlan needs >= 2 quasi-identifier columns, got $quasiCols")
    require(k >= 1, s"k ($k) must be >= 1")
    val options = ("(none)", quasiCols) +:
      quasiCols.map(c => (c, quasiCols.filterNot(_ == c)))
    val folded = df.select(explode(array(options.map { case (dropped, cs) =>
        struct(lit(dropped).as("dropped"),
          array(cs.map(c => col(c).cast("string")): _*).as("vals"))
      }: _*)).as("p"))
      .groupBy(col("p.dropped").as("dropped"), col("p.vals").as("__vals"))
      .agg(count(lit(1)).as("__n"))
      .groupBy("dropped")
      .agg(count(lit(1)).as("n_classes"),
        min("__n").as("min_class_size"),
        sum(when(col("__n") < k, col("__n")).otherwise(0L))
          .as("n_rows_at_risk"))
    import df.sparkSession.implicits._
    options.map(_._1).toDF("dropped")
      .join(broadcast(folded), Seq("dropped"), "left")
      .select(col("dropped"), coalesce(col("n_classes"), lit(0L)).as("n_classes"),
        col("min_class_size"),
        coalesce(col("n_rows_at_risk"), lit(0L)).as("n_rows_at_risk"))
      .orderBy("dropped")
  }

  /** Per-group Tukey fences: exact lower-quartile Q1 and Q3 of an
    * integer column, the IQR, and how many rows fall below
    * Q1 − 1.5·IQR / above Q3 + 1.5·IQR — the boxplot outlier rule,
    * the quantile-based complement to the MAD screen (MAD needs a
    * center first; fences don't) and the per-group robustness the
    * global winsorize cut can't give. Fences compare at 2× scale
    * (2v vs 2Q1 − 3·IQR) so the ×1.5 stays EXACT integer arithmetic —
    * no halves, no floats anywhere.
    *
    * Shape: the corpus collapses to its distinct (group, value)
    * weight table with map-side combine; quartiles come from the
    * x123 cumulative-histogram selections over THAT bounded table
    * (group-PARTITIONed windows); fence counting joins the ≤|groups|-
    * row fence table back (broadcast) and re-aggregates on the same
    * group hash distribution.
    *
    * @return (grp, n, q1, q3, iqr, n_below, n_above) ordered by grp. */
  def iqrOutliers(df: DataFrame, groupCol: String,
                  valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"), col(valueCol).cast("long").as("v"))
    val vals = base.groupBy("grp", "v").agg(count(lit(1)).as("w"))
    val cw = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vals
      .withColumn("cum", sum("w").over(cw))
      .withColumn("tot", sum("w").over(Window.partitionBy("grp")))
    val q1 = cum.filter(col("cum") * 4 >= col("tot"))
      .groupBy("grp").agg(min("v").as("q1"))
    val q3 = cum.filter(col("cum") * 4 >= col("tot") * 3)
      .groupBy("grp").agg(min("v").as("q3"))
    val fences = q1.join(q3, Seq("grp"))
      .select(col("grp"), col("q1"), col("q3"),
        (col("q3") - col("q1")).as("iqr"))
    base.join(broadcast(fences), Seq("grp"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), first("q1").as("q1"),
        first("q3").as("q3"), first("iqr").as("iqr"),
        sum(when(col("v") * 2 < col("q1") * 2 - col("iqr") * 3, 1L)
          .otherwise(0L)).as("n_below"),
        sum(when(col("v") * 2 > col("q3") * 2 + col("iqr") * 3, 1L)
          .otherwise(0L)).as("n_above"))
      .orderBy("grp")
  }

  /** Key-skew report: the Gini coefficient of a key's frequency
    * distribution (0 = perfectly uniform, →1 = one key owns the
    * table), plus the heaviest key's share — THE pre-join diagnostic
    * for "will this shuffle key need salting" (the [[graft.operators.Skew]]
    * decision), reduced to one comparable scalar per candidate key.
    *
    * Exact at any scale WITHOUT sorting keys: Gini needs frequencies
    * in rank order, but ranking |keys| rows is exactly the
    * un-partitioned-window shape this engine bans — so the rank sum
    * Σᵢ i·fᵢ is computed from the FREQUENCY-OF-FREQUENCIES table
    * instead. Keys with equal count c occupy a contiguous rank block
    * [a+1, a+m], whose DOUBLED contribution is the integer closed form
    * c·m·(2a + m + 1) (doubling makes the triangular term even — no
    * halving, no fractional intermediate); the running block offset a
    * is a window over the f-of-f table, whose size is bounded by the
    * DISTINCT MULTIPLICITY count (≤ max key frequency; dozens in
    * practice — the x98-style bounded-aggregate contract, never |keys|
    * and never raw rows). Block terms accumulate in DECIMAL(38,0)
    * (2S ≤ 2·K²·max_f overflows a long near 10⁹ keys).
    * Gini = (2S − (K+1)N) / (K·N), reported in exact permille.
    *
    * @return one row (n_keys, n_rows, max_count, top_share_permille,
    *         gini_permille). */
  def keySkewGini(df: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
    val fof = freq.groupBy("__c").agg(count(lit(1)).as("__m"))
    // running key-rank offset BEFORE this count block: window over the
    // f-of-f table (|distinct multiplicities| rows — bounded, never |keys|)
    val w = Window.orderBy(col("__c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val blocks = fof
      .withColumn("__a", coalesce(sum("__m").over(w), lit(0L)))
      .select(
        expr("cast(__c as decimal(38,0)) * __m * (2 * __a + __m + 1)")
          .as("__s2"),
        (col("__c") * col("__m")).as("__rows"), col("__m"), col("__c"))
    blocks.agg(
        sum("__s2").as("__S2"), sum("__rows").as("__N"),
        sum("__m").as("__K"), max("__c").as("max_count"))
      .select(col("__K").as("n_keys"), col("__N").as("n_rows"),
        col("max_count"),
        expr("(max_count * 1000) div __N").as("top_share_permille"),
        expr("cast(((__S2 - cast((__K + 1) as decimal(38,0)) * __N)" +
          " * 1000) div (cast(__K as decimal(38,0)) * __N) as bigint)")
          .as("gini_permille"))
  }

  /** Two-sample Kolmogorov–Smirnov test between two groups' value
    * distributions: D = max |F_A(v) − F_B(v)| over the joint support —
    * the DISTRIBUTION-level "did it change" screen that catches shape
    * shifts [[chiSquare]]'s categorical cells and a mean/variance gate
    * both miss (same mean, different tails). The decision at α = 0.05
    * uses the large-sample critical value 1.358·√((n_A+n_B)/(n_A·n_B)).
    *
    * Exactness: both CDFs stay integer — the statistic is
    * max |cum_A·n_B − cum_B·n_A| in DECIMAL(38,0) (cross-multiplied;
    * the product can pass 2⁶³ near 10¹⁰ rows per side, decimal-38
    * holds to ~10¹⁸), reported as `d_micro = D_scaled·10⁶ div
    * (n_A·n_B)`. The ONLY float is the critical value's √ (correctly
    * rounded IEEE in both engines — the x81 sqrt discipline),
    * micro-floored; the reject flag compares two longs.
    *
    * Shape: one (group, value) aggregation collapses both samples to
    * their distinct-value weight tables; the joint support spine,
    * running sums, and the max all run over THAT bounded table (the
    * x123 discipline — no raw-row sort).
    *
    * @return one row (n_a, n_b, d_micro, crit_micro, reject). */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String,
             groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, "ksTest needs two distinct groups")
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .filter(col(groupCol).isin(groupA, groupB) && col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("long").as("v"))
      .agg(
        sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("wa"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("wb"))
    val run = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // |distinct values|-bounded global window — the weight-table
    // contract; at petabyte value cardinality pre-bin first
    counts
      .withColumn("ca", sum("wa").over(run))
      .withColumn("cb", sum("wb").over(run))
      .withColumn("ta", sum("wa").over(Window.partitionBy()))
      .withColumn("tb", sum("wb").over(Window.partitionBy()))
      .withColumn("d_scaled", expr(
        "abs(cast(ca as decimal(38,0)) * tb - cast(cb as decimal(38,0)) * ta)"))
      .agg(max("ta").as("n_a"), max("tb").as("n_b"),
        max("d_scaled").as("__d"))
      .select(col("n_a"), col("n_b"),
        expr("cast((__d * 1000000) div (cast(n_a as decimal(38,0)) * n_b) as bigint)")
          .as("d_micro"),
        floor(lit(1.358d) *
          sqrt((col("n_a") + col("n_b")).cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")))
          * lit(1000000d) + lit(0.5d)).cast("long").as("crit_micro"))
      .withColumn("reject", col("d_micro") > col("crit_micro"))
  }

  /** Duplicate-key audit: one summary row over a declared key column
    * set — total rows, distinct keys, keys with multiplicity > 1, the
    * surplus row count (rows beyond the first per key), and the worst
    * multiplicity. THE pre-flight for any uniqueness assumption: a
    * total order used under a LIMIT, a window tie-break, a MERGE key,
    * a join that must not fan out. (This round's own cautionary tale:
    * (l_orderkey, l_linenumber) silently became non-unique at sf0.1
    * after a corpus regeneration and broke q02's LIMIT boundary — one
    * row of this audit in CI would have named it immediately.)
    *
    * Cost: ONE map-side-combined groupBy over the key columns, then a
    * 1-row rollup of the |keys|-bounded count table. All integers.
    *
    * @return one row (n_rows, n_keys, n_dup_keys, n_surplus_rows,
    *         max_multiplicity). */
  def duplicateRows(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "duplicateRows needs at least one key column")
    df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(sum("c").as("n_rows"), count(lit(1)).as("n_keys"),
        sum(when(col("c") > 1L, 1L).otherwise(0L)).as("n_dup_keys"),
        sum(when(col("c") > 1L, col("c") - 1L).otherwise(0L))
          .as("n_surplus_rows"),
        max("c").as("max_multiplicity"))
  }

  /** Per-column Shannon entropy over a column set — the information
    * audit that complements [[profile]]'s counts: near-zero entropy
    * marks a de-facto constant (drop it from features and group keys),
    * entropy ≈ ln(distinct) marks a uniformly-spread key (safe to
    * partition on), and the normalized `evenness_milli`
    * (H / ln(distinct)) separates "many values, one dominant" from
    * "many values, balanced" — the single number behind both skew
    * risk ([[keySkewGini]]'s cousin) and feature usefulness.
    *
    * One pass for ALL columns: the column set melts through Spark's
    * native `unpivot` (an Expand — values fan out row-locally, the
    * x167 machinery), then ONE (column, value) aggregation with
    * map-side combine; the entropy identity `H = ln N − Σ n·ln n / N`
    * (the x52 spelling — ONE ln per distinct value) runs over the
    * vocabulary-bounded count table, micronat-floored. NULLs are
    * counted per column (`n_nulls`), excluded from H; all-NULL and
    * single-valued columns report NULL entropy/evenness off the
    * column spine, never a missing row.
    *
    * @return (col_name, n, n_nulls, n_distinct, entropy_micronat,
    *         evenness_milli) ordered. */
  def columnEntropy(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnEntropy needs at least one column")
    val melted = df
      .select(cols.map(c => col(c).cast("string").as(c)): _*)
      .unpivot(Array.empty[Column], cols.map(col).toArray, "col_name", "v")
    val counts = melted.filter(col("v").isNotNull)
      .groupBy("col_name", "v").agg(count(lit(1)).as("n"))
    val h = log(col("nn").cast("double")) - col("s") / col("nn")
    val stats = counts.groupBy("col_name")
      .agg(sum("n").as("nn"), count(lit(1)).as("nd"),
        sum(col("n").cast("double") * log(col("n").cast("double"))).as("s"))
      .select(col("col_name"), col("nn"), col("nd"),
        floor(h * lit(1000000d) + lit(0.5d)).cast("long")
          .as("entropy_micronat"),
        when(col("nd") <= 1L, lit(null).cast("long"))
          .otherwise(floor(h / log(col("nd").cast("double")) * lit(1000d)
            + lit(0.5d)).cast("long")).as("evenness_milli"))
    val nulls = melted.groupBy("col_name")
      .agg(sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"))
    import df.sparkSession.implicits._
    cols.toDF("col_name")
      .join(nulls, Seq("col_name"), "left")
      .join(stats, Seq("col_name"), "left")
      .select(col("col_name"), coalesce(col("nn"), lit(0L)).as("n"),
        coalesce(col("n_nulls"), lit(0L)).as("n_nulls"),
        coalesce(col("nd"), lit(0L)).as("n_distinct"),
        col("entropy_micronat"), col("evenness_milli"))
      .orderBy("col_name")
  }

  /** Exact per-group quantile ladder: for each group and each
    * requested q (in permille), the LOWER quantile — the smallest
    * value whose cumulative weight reaches q — via the x123
    * cumulative-histogram selection generalized from the median to an
    * arbitrary q-list ([[weightedMedian]] is the q = 500 point;
    * [[iqrOutliers]] hard-codes {250, 750}; the RFM ladder {200…800}).
    * One call answers "p10/p50/p90 length per language" exactly — the
    * cut-table a length-bucketing or truncation policy is actually
    * written against.
    *
    * Shape: ONE (group, value) aggregation collapses the corpus to
    * its distinct-value weight table; the running-sum windows run
    * over THAT bounded table partitioned by group; the q-ladder
    * explode multiplies the bounded table by |qs| — never raw rows.
    * All selection arithmetic is integer (`cum·1000 ≥ q·tot`).
    * At petabyte group cardinalities use [[exactQuantilesApprox]] —
    * the shipped `percentile_approx` sibling, same output shape
    * (engine-specific estimates → rows-only checkable; this exact
    * form is the oracle anchor, the x98 pattern).
    *
    * @return (grp, q_permille, value) ordered. */
  def exactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                     qsPermille: Seq[Long]): DataFrame = {
    require(qsPermille.nonEmpty && qsPermille.forall(q => q >= 1 && q <= 1000),
      s"q ladder must be within [1, 1000] permille, got $qsPermille")
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("w"))
    val run = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("cum", sum("w").over(run))
      .withColumn("tot", sum("w").over(Window.partitionBy("grp")))
      .select(col("grp"), col("v"), col("cum"), col("tot"),
        explode(array(qsPermille.distinct.sorted.map(lit(_)): _*))
          .as("q_permille"))
      .filter(col("cum") * 1000 >= col("q_permille") * col("tot"))
      .groupBy("grp", "q_permille").agg(min("v").as("value"))
      .orderBy("grp", "q_permille")
  }

  /** The 100 TB quantile-ladder path [[exactQuantiles]]'s scale note
    * promises: per-group `percentile_approx` (Greenwald–Khanna sketch —
    * mergeable partial aggregate, ONE map-side-combined pass, no
    * per-group distinct-value window at all), exploded back to the
    * exact form's (grp, q_permille, value) shape. Rank error is
    * bounded by n/accuracy per group; estimates are engine-specific →
    * rows-only checkable, and StatsSpec validates rank-adjacency
    * against [[exactQuantiles]] at test scale (the x98
    * anchor-and-sibling pattern). Values are actual data points (the
    * sketch keeps samples), so downstream cut-tables stay integral.
    *
    * @return (grp, q_permille, value) ordered — [[exactQuantiles]]'s
    *         shape. */
  def exactQuantilesApprox(df: DataFrame, groupCol: String, valueCol: String,
                           qsPermille: Seq[Long],
                           accuracy: Int = 10000): DataFrame = {
    require(qsPermille.nonEmpty && qsPermille.forall(q => q >= 1 && q <= 1000),
      s"q ladder must be within [1, 1000] permille, got $qsPermille")
    require(accuracy >= 100, s"accuracy ($accuracy) must be >= 100")
    val qs = qsPermille.distinct.sorted
    df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("grp"))
      .agg(percentile_approx(col(valueCol).cast("long"),
        array(qs.map(q => lit(q / 1000.0)): _*), lit(accuracy)).as("__vs"))
      .select(col("grp"), posexplode(col("__vs")).as(Seq("__pos", "value")))
      .withColumn("q_permille",
        element_at(array(qs.map(lit(_)): _*), col("__pos") + 1))
      .select("grp", "q_permille", "value")
      .orderBy("grp", "q_permille")
  }

  /** The 100 TB weighted-median path: [[weightedMedian]]'s scale
    * exposure is its per-group DISTINCT-VALUE weight table (monetary
    * cents, lateness micros — cardinality can approach |rows|); no
    * built-in sketch takes weights, so this quantizes values into
    * `bucketWidth`-wide bins FIRST — the (grp, bin) table is bounded
    * by valuespan/bucketWidth per group regardless of data size — and
    * runs the same exact cumulative half-mass selection over that
    * bounded table, reporting the smallest ACTUAL value in the
    * selected bin (min(v) rides the same aggregate, so the answer is
    * a real data point). Error bound: the reported value's cumulative
    * weight reaches half-mass within one bin's weight — exact again
    * when bucketWidth = 1 (StatsSpec pins both properties against the
    * exact anchor).
    *
    * @return (grp, wmedian, total_weight) ordered —
    *         [[weightedMedian]]'s shape. */
  def weightedMedianApprox(df: DataFrame, groupCol: String, valueCol: String,
                           weightCol: String,
                           bucketWidth: Long = 64L): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth ($bucketWidth) must be > 0")
    import org.apache.spark.sql.expressions.Window
    val vals = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull
        && col(weightCol).isNotNull)
      .select(col(groupCol).as("grp"), col(valueCol).cast("long").as("__v"),
        col(weightCol).as("__w"))
      // floor-division binning (exact bigint form) so negative values
      // bin monotonically — the zoneMapReport discipline
      .withColumn("__bin",
        expr(s"(__v - pmod(__v, ${bucketWidth}L)) div ${bucketWidth}L"))
      .groupBy("grp", "__bin")
      .agg(sum("__w").as("w"), min("__v").as("v"))
    val cum = Window.partitionBy(col("grp")).orderBy(col("__bin"))
    vals
      .withColumn("__cum", sum("w").over(cum))
      .withColumn("__tot", sum("w").over(Window.partitionBy(col("grp"))))
      .filter(col("__cum") * 2 >= col("__tot"))
      .groupBy("grp")
      .agg(min("v").as("wmedian"), max("__tot").as("total_weight"))
      .orderBy("grp")
  }

  /** Hill tail-index estimator over a positive integer measure — the
    * heavy-tail diagnostic that decides whether extreme values (doc
    * lengths, user event counts, blob sizes) follow a power law and
    * how fat the tail is: `α = k / Σ_{i≤k} ln(x_(i) / x_(k+1))` over
    * the k largest order statistics. α ≤ 2 means infinite variance —
    * mean-based gates ([[momentsBy]] z-scores) are meaningless and
    * quantile fences ([[iqrOutliers]], MAD) are the right tool; it
    * also sizes truncation budgets (how much mass a max-length cutoff
    * actually removes).
    *
    * Determinism: the top k+1 rows come from a TOTAL order
    * (value DESC, tie ASC) via TakeOrderedAndProject — no global
    * sort; each of the k ratios takes ONE ln, floored to micronats
    * half-up (the x51 discipline), and α recovers by integer division
    * `k·10⁹ div Σ` — so every output column hash-compares. The only
    * window runs over the ≤(k+1)-row cut (the x61 bounded-window
    * pattern). Needs more than `kTop` positive rows — returns an
    * empty frame otherwise; all-equal tails (Σ = 0) report NULL α.
    *
    * @return one row (k, x_ref, sum_ln_micro, alpha_milli). */
  def hillTailIndex(df: DataFrame, valueCol: String, tieCol: String,
                    kTop: Int): DataFrame = {
    require(kTop >= 2, s"kTop ($kTop) must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val top = df
      .filter(col(valueCol).isNotNull && col(valueCol) > 0)
      .select(col(valueCol).cast("long").as("v"), col(tieCol).as("tie"))
      .orderBy(col("v").desc, col("tie")).limit(kTop + 1)
    val ranked = top.withColumn("rn",
      row_number().over(Window.orderBy(col("v").desc, col("tie"))))
    val ref = ranked.filter(col("rn") === kTop + 1)
      .select(col("v").as("x_ref"))
    ranked.filter(col("rn") <= kTop)
      .crossJoin(broadcast(ref))
      .select(col("x_ref"),
        floor(log(col("v").cast("double") / col("x_ref")) * lit(1000000d)
          + lit(0.5d)).cast("long").as("r"))
      .groupBy("x_ref")
      .agg(count(lit(1)).as("k"), sum("r").as("sum_ln_micro"))
      .select(col("k"), col("x_ref"), col("sum_ln_micro"),
        when(col("sum_ln_micro") <= 0L, lit(null).cast("long"))
          .otherwise(expr("(k * 1000000000) div sum_ln_micro"))
          .as("alpha_milli"))
  }

  /** CROSS-SOURCE QUANTILE CALIBRATION (quantile normalization): map
    * each source's value distribution onto the GLOBAL one by
    * percentile matching — calibrated(v, s) = the smallest global
    * value whose global inclusive permille reaches v's within-source
    * permille. The cross-corpus score-calibration step a mixed-crawl
    * quality gate needs: a "700‰ within its source" document means a
    * different raw score in every feed, and thresholding raw scores
    * globally silently over-prunes whichever source scores low; after
    * calibration one global threshold treats every source's p-th
    * percentile alike. [[rankCalibrate]] (x71) computes the
    * within-group permille; this is the mapping BACK to a common
    * value scale.
    *
    * Output is the bounded (source, value) MAPPING TABLE — callers
    * join rows to it; exact integer permilles (the x71 inclusive
    * trunc-div convention), min-selection for the mapped value, fully
    * deterministic. Every source permille finds a match: the global
    * CDF tops out at exactly 1000.
    *
    * Scale shape: two distinct-value aggregations (map-side
    * combined), windows ONLY over the bounded (source, distinct
    * value) and (distinct value) tables — the x71/x92 discipline —
    * and one theta join between those two bounded tables; corpus rows
    * are touched exactly twice, by the two counting aggregations.
    *
    * @return (source, value, src_permille, calibrated_value) ordered. */
  def quantileCalibrate(df: DataFrame, sourceCol: String,
                        valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = df.filter(col(sourceCol).isNotNull && col(valueCol).isNotNull)
      .select(col(sourceCol).as("source"), col(valueCol).as("v"))
    val sc = t.groupBy("source", "v").agg(count(lit(1)).as("c"))
    val sN = sc.groupBy("source").agg(sum("c").as("n"))
    val scdf = sc.join(sN, Seq("source"))
      .withColumn("__cum",
        sum("c").over(Window.partitionBy("source").orderBy("v")))
      .select(col("source"), col("v"), expr("(__cum * 1000) div n").as("p"))
    val gc = t.groupBy("v").agg(count(lit(1)).as("c"))
    val gN = gc.agg(sum("c").as("gn"))
    val gcdf = gc.crossJoin(gN)
      .withColumn("__gcum", sum("c").over(Window.orderBy("v")))
      .select(col("v").as("__gv"), expr("(__gcum * 1000) div gn").as("__gp"))
    scdf.join(gcdf, col("__gp") >= col("p"))
      .groupBy("source", "v", "p")
      .agg(min("__gv").as("calibrated_value"))
      .select(col("source"), col("v").as("value"),
        col("p").as("src_permille"), col("calibrated_value"))
      .orderBy("source", "value")
  }

  /** COHEN'S KAPPA between two categorical label columns — the
    * chance-corrected agreement statistic behind every labeled-data
    * audit: raw agreement (po) overstates quality whenever one class
    * dominates, because two annotators who both always answer the
    * majority class "agree" constantly; kappa subtracts the agreement
    * their marginals would produce by chance (pe = Σ_k p_a(k)·p_b(k))
    * and renormalizes — κ = (po − pe)/(1 − pe). The metadata-vs-
    * classifier instance (declared `lang` column vs a content-derived
    * guess) is the corpus-governance read: κ near 0 means the metadata
    * is no better than marginal chance and must not stratify a
    * training mixture.
    *
    * Exact integer arithmetic end to end: po and pe in ppm by trunc
    * division (pe's Σ na_k·nb_k accumulates in DECIMAL(38,0) — n² ppm
    * would overflow BIGINT on ~10⁹-row corpora), κ in ppm of ppm-space
    * values, truncation toward zero matching DuckDB `//`. Degenerate
    * pe = 1 (both sides constant on the same class) → κ NULL (0/0);
    * an empty (or all-NULL) input → one row of NULLs rather than a
    * division error. NULL on either side excludes the row — no
    * agreement signal.
    *
    * Scale shape: one count aggregate, two |classes|-bounded marginal
    * aggregates joined on class, three 1×1 cross joins — nothing
    * beyond the x29 scalar-combine shape touches data twice.
    *
    * @return one row (n_rows, po_ppm, pe_ppm, kappa_ppm). */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val t = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
    val tot = t.agg(count(lit(1)).as("n"),
      count(when(col("__a") === col("__b"), 1)).as("agree"))
    val na = t.groupBy("__a").agg(count(lit(1)).as("na"))
    val nb = t.groupBy(col("__b").as("__a")).agg(count(lit(1)).as("nb"))
    // classes present on only one side contribute 0 to pe — the inner
    // join drops them, which IS that zero
    val pe = na.join(nb, Seq("__a"))
      .agg(coalesce(sum(expr("cast(na as decimal(38,0)) * nb")),
        lit(0).cast("decimal(38,0)")).as("__pesum"))
    tot.crossJoin(pe)
      .select(col("n").as("n_rows"),
        when(col("n") > 0, expr("(agree * 1000000) div n")).as("po_ppm"),
        when(col("n") > 0, expr(
          "cast((__pesum * 1000000) div (cast(n as decimal(38,0)) * n) as bigint)"))
          .as("pe_ppm"))
      .select(col("n_rows"), col("po_ppm"), col("pe_ppm"),
        when(col("pe_ppm") === 1000000L || col("n_rows") === 0L,
          lit(null).cast("long"))
          .otherwise(expr("((po_ppm - pe_ppm) * 1000000) div (1000000 - pe_ppm)"))
          .as("kappa_ppm"))
  }

  /** Chi-square independence screen between two categorical columns —
    * the single-statistic companion to [[pmiCells]]: PMI names WHICH
    * cells deviate, this says WHETHER the two columns are associated
    * at all (the "is event mix independent of weekday / is quality
    * independent of source" pre-check that decides if a stratified
    * view is worth building). Pearson's χ² = Σ (o−e)²/e with
    * e = n_x·n_y/N, computed per cell as the EXACT integer form
    * (o·N − n_x·n_y)²·10⁶ div (N·n_x·n_y) in DECIMAL(38,0) — the
    * squared numerator can reach (o·N)² ≈ 10²² on a 10¹¹-row input,
    * far past 2⁶³ but comfortably inside decimal-38 (overflows only
    * past ~10¹⁶ rows); flooring per cell BEFORE the sum keeps the
    * whole statistic an order-independent integer, so it hash-matches
    * the oracle's HUGEINT replay exactly (the x96/x97 discipline —
    * no float summation anywhere).
    *
    * Scale shape: ONE (x, y) aggregation with map-side combine
    * collapses the input to its |X|·|Y| cell table; the marginal
    * windows and the final 1-row sum run over THAT bounded table
    * (the [[pmiCells]] window-over-cells shape). NULLs in either
    * column are excluded — a null category is a data-quality finding
    * for [[profile]], not a contingency cell.
    *
    * @return one row (n, n_x, n_y, dof, chi2_micro). */
  def chiSquare(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val observed = df
      .filter(xCol.isNotNull && yCol.isNotNull)
      .groupBy(xCol.as("x"), yCol.as("y"))
      .agg(count(lit(1)).as("o"))
    // densify to the full |X|·|Y| grid: a cell never observed still
    // contributes (0−e)²/e = n_x·n_y/N — dropping those understates χ²
    val cells = observed.select("x").distinct()
      .crossJoin(observed.select("y").distinct())
      .join(observed, Seq("x", "y"), "left")
      .select(col("x"), col("y"), coalesce(col("o"), lit(0L)).as("o"))
    cells
      .withColumn("nx", sum("o").over(Window.partitionBy("x")))
      .withColumn("ny", sum("o").over(Window.partitionBy("y")))
      .withColumn("nn", sum("o").over(Window.partitionBy()))
      .withColumn("term_micro", expr(
        """((cast(o as decimal(38,0)) * nn - cast(nx as decimal(38,0)) * ny)
           * (cast(o as decimal(38,0)) * nn - cast(nx as decimal(38,0)) * ny)
           * 1000000) div (cast(nn as decimal(38,0)) * nx * ny)"""))
      .agg(
        max("nn").cast("long").as("n"),
        count_distinct(col("x")).as("n_x"),
        count_distinct(col("y")).as("n_y"),
        sum("term_micro").cast("long").as("__chi2"))
      .select(col("n"),
        col("n_x"), col("n_y"),
        ((col("n_x") - 1) * (col("n_y") - 1)).as("dof"),
        col("__chi2").as("chi2_micro"))
  }

  /** Two-sample 1-D earth-mover's distance (Wasserstein-1) —
    * [[ksTest]]'s integral sibling: KS reads the WORST point of CDF
    * disagreement, EMD reads its AREA, ∫|F_A − F_B| dv — the
    * "how much probability mass moved how far" number that
    * distinguishes a narrow spike (huge KS, small EMD) from a broad
    * shift (moderate KS, large EMD). The drift triple is PSI (binned,
    * streaming-cheap), KS (max, scale-free) and EMD (integral, in
    * value units): a gate that alerts on any one of them catches
    * shapes the other two miss.
    *
    * Exactness: over the joint distinct-value spine, each segment
    * contributes |ca·n_b − cb·n_a| · (v_next − v) — EXACT integers
    * cross-multiplied in DECIMAL(38,0) (≡ DuckDB HUGEINT, the x177
    * discipline) — and emd_micro divides once by (n_a·n_b) at the
    * end. No floats anywhere (KS at least needs one √; this needs
    * none). The spine's last row has no next value and contributes 0
    * (both CDFs have reached 1).
    *
    * Shape: identical to [[ksTest]] — one (value) aggregation with
    * map-side combine, then every window runs over the
    * |distinct values|-bounded weight table; pre-bin first at
    * petabyte value cardinality.
    *
    * @return one row (n_a, n_b, emd_micro) — micro value-units. */
  def emd1d(df: DataFrame, groupCol: String, valueCol: String,
            groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, "emd1d needs two distinct groups")
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .filter(col(groupCol).isin(groupA, groupB) && col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("long").as("v"))
      .agg(
        sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("wa"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("wb"))
    val byV = Window.orderBy("v")
    val run = byV.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("ca", sum("wa").over(run))
      .withColumn("cb", sum("wb").over(run))
      .withColumn("ta", sum("wa").over(Window.partitionBy()))
      .withColumn("tb", sum("wb").over(Window.partitionBy()))
      .withColumn("__gap", coalesce(lead("v", 1).over(byV) - col("v"), lit(0L)))
      .withColumn("__seg", expr(
        """abs(cast(ca as decimal(38,0)) * tb - cast(cb as decimal(38,0)) * ta)
           * __gap"""))
      .agg(max("ta").as("n_a"), max("tb").as("n_b"),
        sum("__seg").as("__w"))
      .select(col("n_a"), col("n_b"),
        expr("cast((__w * 1000000) div (cast(n_a as decimal(38,0)) * n_b) as bigint)")
          .as("emd_micro"))
  }

  /** Profile DIFF between two corpus snapshots — [[profile]] run on
    * both sides and joined per column: row counts, null rates (ppm)
    * and distinct counts side by side with their deltas. The
    * schema-level "what changed in this drop" readout that catches
    * what a keyed diff ([[graft.operators.Snapshot]]) can't see and a
    * distribution test doesn't name: a column whose null rate jumped
    * (upstream field went optional), a distinct count that collapsed
    * (an enum merged), a row count that moved without the others.
    *
    * Exactness: integer ppm via trunc div; deltas are plain integer
    * subtraction. Zero-row sides report NULL ppm, never a crash.
    *
    * Shape: one [[profile]] pass per side (each ONE aggregation over
    * its scan), then a |cols|-row join — nothing data-scale meets
    * data-scale.
    *
    * @return (col_name, n_rows_a, n_rows_b, null_ppm_a, null_ppm_b,
    *         null_ppm_delta, n_distinct_a, n_distinct_b,
    *         distinct_delta) ordered by col_name. */
  def profileDiff(base: DataFrame, next: DataFrame,
                  cols: Seq[String]): DataFrame = {
    def side(df: DataFrame, tag: String) =
      profile(df, cols).select(col("col_name"),
        col("n_rows").as(s"n_rows_$tag"),
        when(col("n_rows") === 0L, lit(null).cast("long"))
          .otherwise(expr("(n_null * 1000000) div n_rows"))
          .as(s"null_ppm_$tag"),
        col("n_distinct").as(s"n_distinct_$tag"))
    side(base, "a").join(side(next, "b"), Seq("col_name"))
      .select(col("col_name"), col("n_rows_a"), col("n_rows_b"),
        col("null_ppm_a"), col("null_ppm_b"),
        (col("null_ppm_b") - col("null_ppm_a")).as("null_ppm_delta"),
        col("n_distinct_a"), col("n_distinct_b"),
        (col("n_distinct_b") - col("n_distinct_a")).as("distinct_delta"))
      .orderBy("col_name")
  }

  /** Per-group percentile-rank table — the quantile-normalization map
    * every scale-free feature pipeline needs (rank-transform before
    * mixing heavy-tailed features; [[hillTailIndex]] says WHEN the
    * mean is meaningless, this is what to use instead): for each
    * (group, value), the inclusive cumulative permille rank
    * pct = P(X ≤ v)·1000. Joining this ≤|distinct values|-row map
    * back onto the corpus rank-normalizes it in one broadcast-size
    * equi-join; the map itself is the deliverable (it is also the
    * exact CDF [[ksTest]]/[[emd1d]] compare).
    *
    * Exactness: counts are integers, pct by trunc div over the
    * inclusive running sum; ties share one row and one rank (the
    * distinct-value weight-table discipline — x123/x168).
    *
    * Shape: one map-side-combined (group, value) count; the running
    * window orders the bounded weight table per group.
    *
    * @return (group, v, n, pct_permille) ordered by (group, v). */
  def percentileRank(df: DataFrame, groupCol: String,
                     valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("n"))
    val run = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("__cum", sum("n").over(run))
      .withColumn("__tot", sum("n").over(Window.partitionBy("grp")))
      .select(col("grp").as(groupCol), col("v"), col("n"),
        expr("(__cum * 1000) div __tot").as("pct_permille"))
      .orderBy(groupCol, "v")
  }

  /** JSON key-presence profile — schema inference for the
    * semi-structured column every ETL feed carries (the reference's
    * envelope-shape guessing, R7/R8, generalized to statistics): per
    * TOP-LEVEL key, how many rows carry it and the ppm presence rate.
    * The readout that catches an upstream payload change (a key that
    * was always present dropping to 40% = a producer version split —
    * the semi-structured sibling of [[profileDiff]]'s null-rate jump).
    * Malformed/non-object rows count in the denominator and surface
    * as a `__malformed__` row, not an exception — bad payloads are a
    * finding, the R16 quarantine discipline.
    *
    * Shape: json_object_keys rides the scan (codegen'd, row-local),
    * one explode over the per-row key LIST (bounded by payload width,
    * not corpus size), one map-side-combined count; the total is a
    * 1-row broadcast.
    *
    * @return (key, n_present, present_ppm) ordered by key. */
  def jsonKeyProfile(df: DataFrame, jsonCol: String): DataFrame = {
    val rows = df.filter(col(jsonCol).isNotNull)
      .select(coalesce(json_object_keys(col(jsonCol)),
        array(lit("__malformed__"))).as("__ks"))
    val tot = rows.agg(count(lit(1)).as("__tot"))
    rows.select(explode(col("__ks")).as("key"))
      .groupBy("key").agg(count(lit(1)).as("n_present"))
      .crossJoin(broadcast(tot))
      .select(col("key"), col("n_present"),
        expr("(n_present * 1000000) div __tot").as("present_ppm"))
      .orderBy("key")
  }

  /** Class-balance report per group — the training-readiness audit
    * run on every split before a model sees it: per (group, label)
    * the count and within-group permille share, plus the group-level
    * imbalance ratio (majority/minority count, in milli). A test
    * split whose label mix drifted from train invalidates the eval;
    * an imbalance ratio in the hundreds says accuracy is the wrong
    * metric and the sampler ([[graft.operators.Sampling.rebalance]]-
    * family) has work to do. NULL labels are counted as a class of
    * their own spelled `__null__` — unlabeled mass is a finding.
    *
    * Exactness: all integers; share by trunc div; the ratio
    * cross-multiplies (max·1000 div min).
    *
    * Shape: ONE map-side-combined (group, label) count; group totals
    * and extrema are windows over that ≤|groups|·|labels|-bounded
    * table.
    *
    * @return (group, label, n, share_permille, group_n,
    *         imbalance_milli) ordered by (group, label). */
  def classBalance(df: DataFrame, groupCol: String,
                   labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("grp"),
        coalesce(col(labelCol).cast("string"), lit("__null__")).as("label"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("grp")
    counts
      .withColumn("group_n", sum("n").over(w))
      .withColumn("__mx", max("n").over(w))
      .withColumn("__mn", min("n").over(w))
      .select(col("grp").as(groupCol), col("label"), col("n"),
        expr("(n * 1000) div group_n").as("share_permille"),
        col("group_n"),
        expr("(__mx * 1000) div __mn").as("imbalance_milli"))
      .orderBy(groupCol, "label")
  }

  /** Zone-map / data-skipping report — the min-max-per-zone statistics
    * every columnar layout keeps per file or row group (parquet column
    * stats, Delta/Iceberg file stats), materialized as a queryable
    * frame PLUS the answer to "how much of the table would a given
    * range predicate skip": per zone (a fixed-width key range, the
    * stand-in for one file of a key-sorted layout) the row count,
    * min/max of the probe column and its null count, and a `skippable`
    * flag for the [predLo, predHi] range — a zone whose [min, max]
    * misses the range never needs reading. The skip FRACTION is the
    * number that justifies (or indicts) a sort/z-order layout choice:
    * ~0 on a shuffled table means the predicate reads everything
    * anyway; →1 after [[graft.core.Layout]]'s sort means the layout
    * is doing its job ([[graft.core.Layout]] WRITES such layouts; this
    * measures what they buy at the planner's level of visibility).
    *
    * All-null zones (no min/max evidence) are NOT skippable for a
    * range predicate in general SQL semantics only when the predicate
    * must also return null-matches; here the flag treats them as
    * skippable-for-range (matching parquet min/max pruning, which
    * consults null counts separately) — the null_count column carries
    * the evidence either way.
    *
    * Shape: ONE map-side-combined aggregation keyed by `key div
    * width` — zone count = keyspan/width rows, never data-scale; the
    * flag is row-local arithmetic on that bounded table.
    *
    * @return (zone, zone_lo, n_rows, n_nulls, min_val, max_val,
    *         skippable) ordered by zone. */
  def zoneMapReport(df: DataFrame, keyCol: String, valCol: String,
                    zoneWidth: Long, predLo: Long, predHi: Long): DataFrame = {
    require(zoneWidth > 0, s"zoneWidth ($zoneWidth) must be > 0")
    require(predHi >= predLo, s"predHi ($predHi) must be >= predLo ($predLo)")
    // NULL keys belong to no zone (a file holds rows, not absences) and
    // are dropped, matching the null-filtering discipline of the other
    // audits; the zone id is FLOOR division — `(k - pmod(k, w)) div w`
    // is exact in bigint — so a negative key lands in the zone whose
    // zone_lo actually lower-bounds it (trunc would give zone 0 the
    // span (-w, w) and mislabel every negative zone_lo).
    df.filter(col(keyCol).isNotNull)
      .select(expr(s"""(cast($keyCol as bigint)
            - pmod(cast($keyCol as bigint), ${zoneWidth}L))
            div ${zoneWidth}L""").as("zone"),
        col(valCol).cast("long").as("__v"))
      .groupBy("zone")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_nulls"),
        min("__v").as("min_val"), max("__v").as("max_val"))
      .select(col("zone"), (col("zone") * lit(zoneWidth)).as("zone_lo"),
        col("n_rows"), col("n_nulls"), col("min_val"), col("max_val"),
        when(col("min_val").isNull ||
          col("max_val") < lit(predLo) || col("min_val") > lit(predHi),
          lit(1)).otherwise(lit(0)).as("skippable"))
      .orderBy("zone")
  }

  /** Join-skew pre-flight — the audit run BEFORE a 100 TB join
    * commits to a plan: per join key the left/right multiplicities
    * and their PRODUCT (the exact number of output rows that key
    * produces — the row mass one task must materialize under plain
    * hash partitioning), reported for the top-k heaviest keys with
    * each key's permille share of the total join output. A key
    * carrying >5–10% of the output is the one that strands a stage on
    * one straggler task; the fix is [[Skew]]'s salting or AQE's skew
    * split, and THIS report says whether either is needed and for
    * which keys — measured, not guessed from a size estimate.
    *
    * Exactness/shape: two map-side-combined per-key counts (each side
    * scanned once), an inner join of the two BOUNDED count tables
    * (≤ distinct keys, never data-scale), a 1-row total cross-joined,
    * TakeOrderedAndProject top-k. Total mass accumulates in
    * DECIMAL(38,0) — Σ n_left·n_right overflows 2⁶³ exactly on the
    * skewed tables this exists to diagnose (the x124 lesson).
    *
    * @return (key, n_left, n_right, out_rows, share_permille) top-k
    *         by (out_rows desc, key). */
  def joinSkewPreflight(left: DataFrame, right: DataFrame,
                        leftKey: String, rightKey: String,
                        k: Int = 20): DataFrame = {
    require(k >= 1 && k <= 100000, s"k ($k) must be in [1, 1e5]")
    val l = left.filter(col(leftKey).isNotNull)
      .groupBy(col(leftKey).cast("long").as("key"))
      .agg(count(lit(1)).as("n_left"))
    val r = right.filter(col(rightKey).isNotNull)
      .groupBy(col(rightKey).cast("long").as("key"))
      .agg(count(lit(1)).as("n_right"))
    val mass = l.join(r, Seq("key"))
      .select(col("key"), col("n_left"), col("n_right"),
        (col("n_left") * col("n_right")).as("out_rows"))
    val tot = mass.agg(
      sum(col("out_rows").cast("decimal(38,0)")).as("__tot"))
    mass.crossJoin(broadcast(tot))
      .select(col("key"), col("n_left"), col("n_right"), col("out_rows"),
        expr("cast((cast(out_rows as decimal(38,0)) * 1000) div __tot as bigint)")
          .as("share_permille"))
      .orderBy(col("out_rows").desc, col("key"))
      .limit(k)
  }

  /** Per-source freshness report — the "did a feed go dark" check
    * every scheduled 100 TB ingest runs FIRST, before any volume or
    * distribution gate: per group the row count, latest event time,
    * its lag behind the corpus-wide latest (the freshest source
    * defines "now" — no wall-clock dependency, so the report is
    * deterministic and replayable), and a stale flag at `staleSecs`.
    * [[graft.operators.Behavior.dailyVolumeAnomaly]] needs a day of
    * data to see a dark source; this sees it at the first comparison.
    *
    * Shape: one map-side-combined per-group max/count over the scan,
    * a 1-row global max broadcast onto the |groups|-bounded table;
    * integer microsecond lags.
    *
    * @return (group, n_rows, latest_us, lag_secs, is_stale) ordered
    *         by group. */
  def freshnessReport(df: DataFrame, groupCol: String, tsCol: String,
                      staleSecs: Long): DataFrame = {
    require(staleSecs >= 0, s"staleSecs ($staleSecs) must be >= 0")
    val per = df.filter(col(groupCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n_rows"),
        max(expr(s"unix_micros($tsCol)")).as("latest_us"))
    val tip = per.agg(max("latest_us").as("__tip"))
    per.crossJoin(broadcast(tip))
      .select(col("grp").as(groupCol), col("n_rows"), col("latest_us"),
        expr("(__tip - latest_us) div 1000000").as("lag_secs"))
      .withColumn("is_stale",
        when(col("lag_secs") >= staleSecs, lit(1)).otherwise(lit(0)))
      .orderBy(groupCol)
  }

  /** Pareto / concentration report — "which groups carry the mass":
    * per group the weight total, its permille share, the CUMULATIVE
    * share in weight-descending order, and the 80/20 head flag (is
    * this group inside the smallest set covering 80% of the mass).
    * The capacity-planning and curation-priority read over sources —
    * dedup/quality effort goes where the bytes are, and a corpus
    * whose top source crosses 800‰ alone is a diversity finding in
    * itself ([[columnEntropy]] scores the same concentration as one
    * number; this names the groups).
    *
    * Exactness: integer weights, permille by integer div, ordering by
    * (weight desc, group) — total order, so the cumulative sum and
    * the head flag are engine-deterministic.
    *
    * Shape: one map-side-combined per-group sum; the running-share
    * window orders the |groups|-BOUNDED table (the x123 discipline —
    * never data-scale rows through an unpartitioned window; group
    * cardinality here is sources/types/shards, inherently small).
    *
    * @return (group, weight, share_permille, cum_permille, in_head)
    *         ordered by (weight desc, group). */
  def paretoReport(df: DataFrame, groupCol: String, weight: Column,
                   headPermille: Long = 800L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(headPermille >= 1 && headPermille <= 1000,
      s"headPermille ($headPermille) must be in [1, 1000]")
    val per = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("grp"))
      .agg(sum(weight).as("weight"))
    val tot = per.agg(sum("weight").as("__tot"))
    val w = Window.orderBy(col("weight").desc, col("grp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per.crossJoin(broadcast(tot))
      .withColumn("__cum", sum("weight").over(w))
      .select(col("grp").as(groupCol), col("weight"),
        expr("(weight * 1000) div __tot").as("share_permille"),
        expr("(__cum * 1000) div __tot").as("cum_permille"),
        // the head is the smallest weight-desc prefix whose cumulative
        // mass REACHES the bar: a group is in it iff the mass BEFORE
        // it is still short of the bar
        when((col("__cum") - col("weight")) * 1000 <
          col("__tot") * headPermille, lit(1)).otherwise(lit(0))
          .as("in_head"))
      .orderBy(col("weight").desc, col(groupCol))
  }

  /** EXACT ROC-AUC of an integer score against a binary label — the
    * one-number answer to "does this signal actually separate the
    * classes" that every heuristic quality score, dup-likelihood, or
    * filter threshold should be audited with before it gates data.
    * Computed as the tie-corrected Mann–Whitney statistic:
    * AUC = [R₁ − n₁(n₁+1)/2] / (n₁n₀) with R₁ the positives' midrank
    * sum — identically P(s⁺ > s⁻) + ½P(s⁺ = s⁻), so ties count half,
    * never hidden. Exact integers throughout: midranks are
    * half-integers, so the doubled sum 2R₁ is a BIGINT and
    * auc_micro = (2R₁ − n₁(n₁+1))·10⁶ div (2n₁n₀) is one truncating
    * div (DECIMAL(38,0) cross-multiply — 2R₁·10⁶ overflows BIGINT at
    * ~10⁶ rows of large scores). AUC is NULL when either class is
    * empty (undefined, not 0). Rows with NULL score or label drop;
    * labels outside {0,1} are a loud error, not a coercion.
    *
    * Scale shape: ONE map-side-combined groupBy on the score value;
    * midranks come from a window over the VALUE-BOUNDED distinct-
    * score table (the x126 discipline — scores here are permilles,
    * lengths, counts; never continuous floats at data cardinality),
    * then one more bounded aggregate. Nothing row-scale crosses a
    * window.
    *
    * @return one row (n_pos, n_neg, u2, auc_micro) — u2 = 2U₁. */
  def rankAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = df.select(col(scoreCol).cast("long").as("__s"),
        col(labelCol).cast("long").as("__y"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
    // per distinct score: class counts (the only data-scale pass)
    val per = t.groupBy("__s").agg(
      sum(when(col("__y") === 1L, 1L)
        .when(col("__y") === 0L, 0L)
        .otherwise(raise_error(concat(lit(s"rankAuc: $labelCol must be 0/1, got "),
          col("__y"))))).as("__n1"),
      sum(when(col("__y") === 0L, 1L).otherwise(0L)).as("__n0"))
    val w = Window.orderBy("__s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per
      .withColumn("__cnt", col("__n1") + col("__n0"))
      .withColumn("__cum", sum("__cnt").over(w))
      // doubled midrank of every row at this score: 2·(rows strictly
      // below) + (rows at this score) + 1
      .withColumn("__mr2", lit(2L) * (col("__cum") - col("__cnt")) + col("__cnt") + 1L)
      .agg(sum("__n1").as("n_pos"), sum("__n0").as("n_neg"),
        sum(expr("cast(__n1 as decimal(38,0)) * __mr2")).as("__r2"))
      .select(col("n_pos"), col("n_neg"),
        expr("cast(__r2 - cast(n_pos as decimal(38,0)) * (n_pos + 1) as bigint)")
          .as("u2"),
        expr("""cast(case when n_pos = 0 or n_neg = 0 then null
          else ((__r2 - cast(n_pos as decimal(38,0)) * (n_pos + 1)) * 1000000)
            div (cast(2 as decimal(38,0)) * n_pos * n_neg) end as bigint)""")
          .as("auc_micro"))
  }

  /** Leave-one-source-out SENSITIVITY — how much the corpus mean of a
    * metric moves when each feed is dropped, in ppm of the overall
    * mean: the jackknife read that turns "source X looks odd" into
    * "dropping source X shifts mean document length by −84000 ppm".
    * A source with |delta| far above its volume share dominates the
    * metric (one feed of 10⁶-char dumps drags the mean everyone else
    * is judged against); near-zero deltas certify the metric is
    * source-robust before a mixture decision leans on it.
    *
    * Exact: delta_ppm = ((S−s)·N − S·(N−n))·10⁶ div (S·(N−n)) — one
    * rational expression on exact integer sums, DECIMAL(38,0)
    * intermediates, truncating div; NULL when the source IS the
    * corpus (no leave-out population) or the remainder mean is 0.
    *
    * Shape: one source-keyed map-side-combined aggregation; the
    * corpus total is a broadcast 1-row cross join. Nothing rescans.
    *
    * @return (source, n_rows, loo_delta_ppm) ordered by source. */
  def sourceSensitivity(df: DataFrame, sourceCol: String,
                        metricCol: String): DataFrame = {
    val per = df.filter(col(sourceCol).isNotNull && col(metricCol).isNotNull)
      .groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col(metricCol).cast("long")).as("__s"))
    val tot = per.agg(sum("n_rows").as("__nt"), sum("__s").as("__st"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_rows"),
        expr("""cast(case when __nt = n_rows
               or cast(__st as decimal(38,0)) * (__nt - n_rows) = 0
             then null
             else (((__st - __s) * cast(__nt as decimal(38,0))
               - cast(__st as decimal(38,0)) * (__nt - n_rows)) * 1000000)
               div (cast(__st as decimal(38,0)) * (__nt - n_rows))
             end as bigint)""").as("loo_delta_ppm"))
      .orderBy("source")
  }
}

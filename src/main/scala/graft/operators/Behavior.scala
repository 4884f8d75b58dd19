package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral / product-analytics operators over an append-only event
  * log — the funnel / retention / transition / gap-fill family every
  * analytics engine ships (reference scope: the connector's event
  * ingest, `etl_connector.py:1-242`, produces exactly this row shape;
  * the analyses are the §2.3 "derived analytics" mandate).
  *
  * Shared scale shape: every operator here is keyed by the user (or
  * user×day) column, so each stage is ONE hash shuffle on that key and
  * AQE's exchange reuse collapses repeats of the same distribution.
  * Nothing collects to the driver; windows are always PARTITIONed (no
  * single-partition WindowExec). Timestamps are compared as integer
  * nanos/micros (`ts_ns`) so results are exact and engine-portable.
  */
object Behavior {

  /** Ordered conversion funnel: for each prefix of `steps`, the number
    * of users with events matching the steps in STRICT time order
    * (each step strictly after the previous step's earliest qualifying
    * occurrence — the standard "unordered re-visits don't count"
    * semantics).
    *
    * Algorithm: champion chaining. Stage 1 is `min(ts)` per user over
    * step-1 events; stage i+1 joins step-i+1 events to the stage-i
    * champions and keeps `min(ts > champion)`. Each stage is a
    * filter-pushed scan + one user-keyed join/agg — at 100 TB the
    * event scan prunes to one `event_type` partition per stage and
    * every shuffle shares the user hash distribution.
    *
    * Output: (step_idx, step, n_users), one row per step, n_users
    * non-increasing.
    */
  def funnel(events: DataFrame, steps: Seq[String],
             userCol: String = "user_id", typeCol: String = "event_type",
             tsCol: String = "ts_ns", within: Option[Long] = None): DataFrame = {
    val stages = championStages(events, steps, userCol, typeCol, tsCol, within)
    stages.zip(steps).zipWithIndex.map { case ((df, step), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step_idx"), lit(step).as("step"),
          col("n_users"))
    }.reduce(_.unionByName(_)).orderBy("step_idx")
  }

  /** The single copy of the champion-chaining stage derivation, shared
    * by [[funnel]] and [[funnelStepTimes]] so count and timing
    * readouts cannot drift. Stage i holds (user, t = champion time of
    * step i, reached strictly-after — and within budget of — the
    * stage-(i−1) champion). */
  private def championStages(events: DataFrame, steps: Seq[String],
                             userCol: String, typeCol: String,
                             tsCol: String,
                             within: Option[Long]): Seq[DataFrame] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct, got ${steps.mkString(",")}")
    within.foreach(w => require(w > 0, s"within budget must be positive, got $w"))
    steps.tail.scanLeft(
      events.filter(col(typeCol) === steps.head)
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("t"))) {
      (reached, step) =>
        events.filter(col(typeCol) === step)
          .select(col(userCol), col(tsCol).as("__t2"))
          .join(reached, Seq(userCol))
          .filter(col("__t2") > col("t") &&
            // time-boxed variant: each step must land within the budget
            // of the previous champion (the marketing-funnel default —
            // an unbounded funnel overstates conversion at any scale)
            within.map(w => col("__t2") <= col("t") + lit(w))
              .getOrElse(lit(true)))
          .groupBy(col(userCol)).agg(min("__t2").as("t"))
    }
  }

  /** Session-scoped funnel: [[funnel]] with the champion chain keyed
    * by (user, SESSION) instead of user — walking away past the
    * session gap RESETS the funnel, so a view on Monday no longer
    * "converts" with a purchase on Friday. This is the semantic most
    * product funnels actually mean; the user-keyed form measures
    * lifetime reachability. Counts are converting SESSIONS (a user
    * with two completing sessions counts twice — intentionally: the
    * flow worked twice).
    *
    * Composition: [[Sessions.sessionLabels]] (the one spelling of the
    * gap rule) labels events in ONE user-keyed window pass, the
    * composite (user, session) key feeds the SAME champion chain as
    * [[funnel]] — one shared derivation, so plain and session-scoped
    * counts cannot drift semantically. Every stage still shuffles on
    * one key's hash distribution.
    *
    * @return (step_idx, step, n_sessions), non-increasing. */
  def sessionFunnel(events: DataFrame, steps: Seq[String], gap: Long,
                    userCol: String = "user_id",
                    typeCol: String = "event_type",
                    tsCol: String = "ts_ns"): DataFrame = {
    val labeled = Sessions.sessionLabels(events, gap, tsCol)
      .withColumn("__sess_key", concat(col(userCol).cast("string"),
        lit("#"), col("session_seq").cast("string")))
    funnel(labeled, steps, userCol = "__sess_key", typeCol = typeCol,
      tsCol = tsCol)
      .withColumnRenamed("n_users", "n_sessions")
  }

  /** Median time-to-convert per funnel transition: for each
    * consecutive step pair, the EXACT lower median of (champion(i+1) −
    * champion(i)) across converting users — the other funnel readout
    * (the counts say WHERE users drop; this says how long the
    * survivors took, which is what an SLA or a nudge-timing decision
    * actually needs).
    *
    * Composition: the SAME champion stages as [[funnel]] (shared
    * private chain), consecutive stages joined per user (stage i+1's
    * users are a subset of stage i's), then the exact median via
    * [[Profiling.weightedMedian]]'s cumulative-histogram discipline —
    * gaps collapse to a (step, distinct-gap) weight table and no raw
    * row passes through a sort.
    *
    * Output: (step_idx, median_gap_ns, n_transitions) for step_idx ≥ 2.
    */
  def funnelStepTimes(events: DataFrame, steps: Seq[String],
                      userCol: String = "user_id",
                      typeCol: String = "event_type",
                      tsCol: String = "ts_ns",
                      within: Option[Long] = None): DataFrame = {
    require(steps.size >= 2, "step times need at least two steps")
    val stages = championStages(events, steps, userCol, typeCol, tsCol, within)
    val gaps = stages.sliding(2).zipWithIndex.map { case (Seq(prev, next), i) =>
      next.select(col(userCol), col("t").as("__t2"))
        .join(prev.select(col(userCol), col("t").as("__t1")), Seq(userCol))
        .select(lit(i + 2L).as("__step"),
          (col("__t2") - col("__t1")).as("__gap"), lit(1L).as("__w"))
    }.reduce(_.unionByName(_))
    Profiling.weightedMedian(gaps, "__step", "__gap", "__w")
      .select(col("grp").as("step_idx"), col("wmedian").as("median_gap_ns"),
        col("total_weight").as("n_transitions"))
      .orderBy("step_idx")
  }

  /** FULL quantile ladder of time-to-convert per funnel transition —
    * [[funnelStepTimes]]' median generalized to the whole tail: the
    * p90/p99 conversion delay is the SLA/nudge-timing number (a
    * median says the typical user converts in minutes; the p99 says
    * whether the reminder email at 24 h is aimed at anyone real). Same
    * champion chain as [[funnel]], same exact lower-quantile selection
    * as [[Profiling.exactQuantiles]] — every value an actual observed
    * gap, all arithmetic integer.
    *
    * Shape: the champion stages are user-keyed aggregations; gaps
    * collapse to a (step, distinct-gap) weight table and the ladder
    * windows run over THAT bounded table — no raw event passes
    * through a sort. At petabyte user counts the documented swap is
    * [[Profiling.exactQuantilesApprox]] (same output shape).
    *
    * @return (step_idx, q_permille, gap_ns) for step_idx ≥ 2,
    *         ordered. */
  def funnelStepQuantiles(events: DataFrame, steps: Seq[String],
                          qsPermille: Seq[Long] = Seq(500L, 900L, 990L),
                          userCol: String = "user_id",
                          typeCol: String = "event_type",
                          tsCol: String = "ts_ns",
                          within: Option[Long] = None): DataFrame = {
    require(steps.size >= 2, "step quantiles need at least two steps")
    val stages = championStages(events, steps, userCol, typeCol, tsCol, within)
    val gaps = stages.sliding(2).zipWithIndex.map { case (Seq(prev, next), i) =>
      next.select(col(userCol), col("t").as("__t2"))
        .join(prev.select(col(userCol), col("t").as("__t1")), Seq(userCol))
        .select(lit(i + 2L).as("__step"), (col("__t2") - col("__t1")).as("__gap"))
    }.reduce(_.unionByName(_))
    Profiling.exactQuantiles(gaps, "__step", "__gap", qsPermille)
      .select(col("grp").as("step_idx"), col("q_permille"),
        col("value").as("gap_ns"))
      .orderBy("step_idx", "q_permille")
  }

  /** Weekly retention cohorts: users are cohorted by the week of their
    * FIRST event; each (cohort_week, week_offset) cell counts the
    * cohort's users active in that later week.
    *
    * Weeks are `(day − epoch) div 7` with an explicit epoch date — an
    * integer bucketing that is exact, engine-portable, and free of ISO
    * week-boundary semantics. Two user-keyed aggregations (first week,
    * then distinct user-weeks) and one user-keyed join — the cohort
    * matrix itself is tiny (weeks², not rows).
    */
  def retentionCohorts(events: DataFrame, epoch: String = "2024-01-01",
                       userCol: String = "user_id",
                       tsCol: String = "ts"): DataFrame = {
    val week = expr(s"datediff(to_date($tsCol), DATE'$epoch') div 7")
      .cast("long")
    val userWeeks = events.select(col(userCol), week.as("week")).distinct()
    val cohorts = userWeeks.groupBy(col(userCol))
      .agg(min("week").as("cohort_week"))
    userWeeks.join(cohorts, Seq(userCol))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** First-order Markov transition counts between consecutive event
    * types per user: `lag` over the (ts, event_id)-total-ordered
    * per-user stream, then a count per (from, to) pair. One shuffle
    * (the user-partitioned window); the output is |types|² rows.
    * The event-id tie-break makes the order — and therefore the count
    * matrix — deterministic even under equal timestamps.
    */
  def transitionMatrix(events: DataFrame, userCol: String = "user_id",
                       typeCol: String = "event_type",
                       tsCol: String = "ts_ns",
                       idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    events.select(col(userCol), col(typeCol), col(tsCol), col(idCol))
      .withColumn("__prev", lag(col(typeCol), 1).over(w))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  /** Daily gap-fill + linear interpolation of each user's spend
    * series — the time-series "make the grid dense" operator
    * (gauge-style metrics; counts would gap-fill with 0 instead).
    *
    * Per user: daily totals in integer cents (per-event rounding, so
    * the sum is order-independent), a dense `sequence(min_day,
    * max_day)` grid, and for each missing day the linear interpolation
    * between the nearest observed days on either side, computed from
    * exact integers and rounded back to cents. Interior gaps always
    * have both neighbours because the grid spans observed days only.
    *
    * Scale shape: the grid explode is per-user (narrow after one
    * user-keyed agg); both neighbour scans are user-PARTITIONed
    * running windows (`last`/`first` with ignoreNulls over
    * UNBOUNDED PRECEDING / FOLLOWING) — no single-partition window,
    * no self-join against the observation set.
    *
    * Output: (user, day, cents, interpolated 0/1) — `day` as integer
    * days since `epoch`.
    */
  def gapFillInterpolate(events: DataFrame, epoch: String = "2024-01-01",
                         userCol: String = "user_id",
                         tsCol: String = "ts",
                         valueCol: String = "value"): DataFrame = {
    val day = datediff(to_date(col(tsCol)), to_date(lit(epoch)))
      .cast("long")
    val centsPerEvent =
      floor(col(valueCol) * lit(100d) + lit(0.5d)).cast("long")
    val daily = events
      .select(col(userCol), day.as("day"), centsPerEvent.as("__c"))
      .groupBy(col(userCol), col("day")).agg(sum("__c").as("__obs"))
    val grid = daily.groupBy(col(userCol))
      .agg(min("day").as("__d0"), max("day").as("__d1"))
      .select(col(userCol),
        explode(sequence(col("__d0"), col("__d1"))).as("day"))
    val wPrev = Window.partitionBy(col(userCol)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col(userCol)).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("__obs").isNotNull, col("day"))
    grid.join(daily, Seq(userCol, "day"), "left")
      .withColumn("__pd", last(obsDay, ignoreNulls = true).over(wPrev))
      .withColumn("__pc", last(col("__obs"), ignoreNulls = true).over(wPrev))
      .withColumn("__nd", first(obsDay, ignoreNulls = true).over(wNext))
      .withColumn("__nc", first(col("__obs"), ignoreNulls = true).over(wNext))
      .select(col(userCol), col("day"),
        when(col("__obs").isNotNull, col("__obs")).otherwise(
          floor(col("__pc") +
            (col("__nc") - col("__pc")) * (col("day") - col("__pd")) /
              (col("__nd") - col("__pd")) + lit(0.5d)).cast("long"))
          .as("cents"),
        when(col("__obs").isNotNull, lit(0)).otherwise(lit(1))
          .as("interpolated"))
      .orderBy(userCol, "day")
  }

  /** Per-series daily volume anomaly gate: each (event_type, day)
    * count z-scored against ITS OWN type's distribution over days —
    * the ops-monitoring twin of `TextAnalysis.madOutliers` (that one
    * fences a static corpus robustly; this one flags feed-volume
    * regressions, the "source went dark / started double-sending"
    * check every 100 TB ingest runs daily).
    *
    * Exactness: counts are integers, so every z ingredient is an exact
    * integer — z = (n·d − Σn) / √(d·Σn² − (Σn)²) — and both engines
    * compute ONE sqrt, ONE divide, then floor(x·1000 + 0.5) to
    * milli-z. Constant series (zero variance) pin z to 0 instead of
    * dividing by zero. ANSI-safe to d·Σn² < 2⁶³ ≈ 3·10⁹ events/day
    * over a decade; beyond that the same formula runs in DECIMAL(38,0).
    *
    * Scale shape: ONE (type, day) aggregation with map-side combine
    * collapses the event scan to a |types|·|days|-bounded table; the
    * stats window runs over THAT table partitioned by type — never
    * data-scale rows through a window. Output keeps every cell (flag
    * column, no filter) so the gate is auditable.
    */
  def dailyVolumeAnomaly(events: DataFrame, epoch: String = "2024-01-01",
                         zMilliBar: Long = 2000L,
                         typeCol: String = "event_type",
                         tsCol: String = "ts"): DataFrame = {
    require(zMilliBar > 0, s"zMilliBar must be positive, got $zMilliBar")
    val day = datediff(to_date(col(tsCol)), to_date(lit(epoch))).cast("long")
    val daily = events.select(col(typeCol), day.as("day"))
      .groupBy(col(typeCol), col("day")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(typeCol))
    val d  = count(lit(1)).over(w)
    val s1 = sum(col("n")).over(w)
    val s2 = sum(col("n") * col("n")).over(w)
    daily
      .withColumn("__num", col("n") * d - s1)
      .withColumn("__rad", d * s2 - s1 * s1)
      .withColumn("z_milli",
        when(col("__rad") === 0L, lit(0L)).otherwise(
          floor(lit(1000d) * col("__num") /
            sqrt(col("__rad").cast("double")) + lit(0.5d)).cast("long")))
      .select(col(typeCol), col("day"), col("n"), col("z_milli"),
        when(abs(col("z_milli")) >= zMilliBar, lit(1)).otherwise(lit(0))
          .as("is_anomaly"))
      .orderBy(typeCol, "day")
  }

  /** Burst debounce: within each (user, event_type) stream, suppress
    * every event that follows its predecessor by ≤ `gapNs` — keeping
    * exactly the FIRST event of each burst (double-click / retry-storm
    * suppression, the event-log twin of content dedup). Keep-first-of-
    * burst is deliberately the lag-based rule: a burst is a maximal
    * chain of ≤gap steps (the x48 gaps-and-islands boundary), so the
    * decision is one `lag` comparison — deterministic, engine-portable,
    * and O(1) per row. (The alternative "re-arm only after gap from the
    * last KEPT event" needs a sequential scan; at 100 TB that is a
    * per-key stateful pass — see `EventStreams` for the streaming
    * form — and rarely what click-dedup means.)
    *
    * One user×type-PARTITIONed window shuffle, (ts_ns, event_id) total
    * order for equal-timestamp determinism; every event keeps a
    * `suppressed` flag rather than being dropped, so the operator
    * doubles as its own audit (filter `suppressed = 0` for the clean
    * stream).
    */
  def debounce(events: DataFrame, gapNs: Long,
               userCol: String = "user_id", typeCol: String = "event_type",
               tsCol: String = "ts_ns", idCol: String = "event_id"): DataFrame = {
    require(gapNs > 0, s"gapNs must be positive, got $gapNs")
    val w = Window.partitionBy(col(userCol), col(typeCol))
      .orderBy(col(tsCol), col(idCol))
    events.select(col(idCol), col(userCol), col(typeCol), col(tsCol))
      .withColumn("__prev", lag(col(tsCol), 1).over(w))
      .select(col(idCol), col(userCol), col(typeCol),
        when(col("__prev").isNotNull &&
          col(tsCol) - col("__prev") <= gapNs, lit(1)).otherwise(lit(0))
          .as("suppressed"))
      .orderBy(idCol)
  }

  /** Last-touch attribution: for every conversion event, the latest
    * touch event (of the declared touch types) by the same user at or
    * before the conversion and within `toleranceNs` — the marketing
    * "which interaction gets credit" join, COMPOSED from
    * [[AsOfJoin.backward]] (single keyed shuffle + sort, no range
    * explosion; ties at equal timestamps break to the highest event
    * id, the same rule as the rest of the event surface). Conversions
    * with no in-window touch keep a row with NULL touch columns —
    * organic conversions are a finding, not a dropped row.
    *
    * Output: (conversion_id, user, touch_id, touch_type, gap_ns).
    */
  def lastTouchAttribution(events: DataFrame, touchTypes: Seq[String],
                           convType: String, toleranceNs: Long,
                           userCol: String = "user_id",
                           typeCol: String = "event_type",
                           tsCol: String = "ts_ns",
                           idCol: String = "event_id"): DataFrame = {
    require(touchTypes.nonEmpty, "attribution needs at least one touch type")
    require(!touchTypes.contains(convType),
      s"conversion type '$convType' cannot also be a touch type")
    val conv = events.filter(col(typeCol) === convType)
      .select(col(idCol).as("conversion_id"), col(userCol),
        col(tsCol).as("__ct"))
    val touch = events.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol))
    AsOfJoin.backward(conv, touch, key = userCol,
        leftTime = "__ct", rightTime = tsCol,
        rightCols = Seq(idCol, typeCol, tsCol), tieBreak = Some(idCol),
        tolerance = Some(toleranceNs))
      .select(col("conversion_id"), col(userCol),
        col(idCol).as("touch_id"), col(typeCol).as("touch_type"),
        (col("__ct") - col(tsCol)).as("gap_ns"))
      .orderBy("conversion_id")
  }

  /** Rolling distinct-actives (DAU + trailing-`windowDays` WAU per
    * day): each (user, day) activity fact contributes to its own day
    * and the `windowDays−1` following days, so the rolling distinct
    * count is an EXACT groupBy — no sliding self-join, no
    * count-distinct-over-range window (which Spark would run
    * re-aggregating per row). The contribution explode is bounded by
    * windowDays × |user-days|; both aggregations are map-side-combined
    * exact distincts over (day, user) pairs. The day axis is DENSE
    * over [min observed day, max observed day]: a day with zero
    * activity in its entire trailing window still reports (dau = 0,
    * wau = 0) — a silent gap day reads as "no data", a reported zero
    * reads as the outage it is. Days past the observed maximum are
    * clipped (their windows are not yet complete); the first
    * windowDays−1 reported days carry PARTIAL windows (the window
    * extends before the first observed day), reported as-is.
    *
    * The grid and both day-level aggregates are one row per calendar
    * day (a decade is ~3.7k rows) — the gap-filling joins are
    * broadcast joins over day tables, never corpus-sized.
    *
    * Output: (day, dau, wau) ordered by day — `wau` named for the
    * 7-day default, semantically "trailing windowDays actives".
    */
  def rollingActives(events: DataFrame, windowDays: Int = 7,
                     epoch: String = "2024-01-01",
                     userCol: String = "user_id",
                     tsCol: String = "ts"): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val day = datediff(to_date(col(tsCol)), to_date(lit(epoch))).cast("long")
    val userDays = events.select(col(userCol), day.as("day")).distinct()
    val bounds = userDays.agg(min("day").as("__d0"), max("day").as("__d1"))
    val grid = bounds
      .select(explode(sequence(col("__d0"), col("__d1"))).as("day"))
    val contrib = userDays.select(col(userCol),
      explode(sequence(col("day"), col("day") + lit(windowDays - 1)))
        .as("day"))
    val wau = contrib.crossJoin(broadcast(bounds)) // 1-row bound
      .filter(col("day") <= col("__d1"))
      .groupBy("day").agg(countDistinct(col(userCol)).as("wau"))
    val dau = userDays.groupBy("day")
      .agg(countDistinct(col(userCol)).as("dau"))
    // the preserved grid side of a left join cannot be the broadcast
    // build side; the day-level aggregates can — both are ≤|days| rows
    grid.join(broadcast(wau), Seq("day"), "left")
      .join(broadcast(dau), Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau"), lit(0L)).as("wau"))
      .orderBy("day")
  }

  /** Size-2 association rules over (user, day) baskets — the
    * market-basket "users who do A that day also do B" mining
    * (apriori restricted to pairs, which is where the actionable
    * rules live and the only tier whose support can be counted
    * without candidate generation).
    *
    * Baskets are distinct (user, day, item) facts; pair support comes
    * from a WITHIN-BASKET self-join (join mass Σ basket_size² with
    * basket_size ≤ |item types| — bounded per basket, never corpus²),
    * and every derived measure is exact integer arithmetic on the
    * ≤|types|²-row pair table: support_permille = cnt·1000 div N,
    * confidence_permille = cnt_ab·1000 div cnt_a, lift_milli =
    * cnt_ab·N·1000 div (cnt_a·cnt_b). The lift numerator is computed
    * in DECIMAL(38,0) — cnt_ab·N·1000 exceeds 2⁶³ once the corpus
    * passes ~3·10⁹ baskets·pair-mass, and ANSI mode would throw where
    * a silent wrap would be worse; the integral divide returns BIGINT
    * (lift values themselves are small). Both rule directions are
    * emitted (confidence is asymmetric; lift is shared).
    *
    * @param minSupportPermille keep rules whose pair support is at
    *        least this share of all baskets (the apriori prune)
    */
  def associationRules(events: DataFrame, minSupportPermille: Long,
                       epoch: String = "2024-01-01",
                       userCol: String = "user_id",
                       typeCol: String = "event_type",
                       tsCol: String = "ts"): DataFrame = {
    require(minSupportPermille >= 0 && minSupportPermille <= 1000,
      s"minSupportPermille must be in [0, 1000], got $minSupportPermille")
    val day = datediff(to_date(col(tsCol)), to_date(lit(epoch))).cast("long")
    val items = events
      .select(col(userCol).as("u"), day.as("d"), col(typeCol).as("item"))
      .distinct()
    val nBaskets = items.select("u", "d").distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val supp1 = items.groupBy("item").agg(count(lit(1)).as("cnt"))
    val pairs = items.join(
        items.select(col("u"), col("d"), col("item").as("item_b")),
        Seq("u", "d"))
      .filter(col("item") < col("item_b"))
      .groupBy(col("item").as("a"), col("item_b").as("b"))
      .agg(count(lit(1)).as("cnt_ab"))
    // both directions; confidence differs, lift/support shared
    val directed = pairs.select(col("a").as("ant"), col("b").as("cons"), col("cnt_ab"))
      .unionByName(pairs.select(col("b").as("ant"), col("a").as("cons"), col("cnt_ab")))
    directed
      .join(broadcast(supp1.select(col("item").as("ant"), col("cnt").as("cnt_a"))), "ant")
      .join(broadcast(supp1.select(col("item").as("cons"), col("cnt").as("cnt_b"))), "cons")
      .crossJoin(broadcast(nBaskets))
      .filter(col("cnt_ab") * 1000 >= col("n_baskets") * minSupportPermille)
      .select(col("ant"), col("cons"), col("cnt_ab").as("support_cnt"),
        expr("(cnt_ab * 1000) div n_baskets").as("support_permille"),
        expr("(cnt_ab * 1000) div cnt_a").as("confidence_permille"),
        expr("(cast(cnt_ab as decimal(38,0)) * n_baskets * 1000) " +
          "div (cast(cnt_a as decimal(38,0)) * cnt_b)").as("lift_milli"))
      .orderBy("ant", "cons")
  }

  /** Per-event-type inter-arrival statistics: exact lower median and
    * lower p90 of the gap (µs) between a user's consecutive events of
    * the SAME type — the cadence profile that separates heartbeat-like
    * telemetry (tight, regular gaps) from organic actions (heavy
    *-tailed), and the empirical input for choosing a sessionization
    * gap or a debounce window instead of guessing one.
    *
    * Shape: gaps derive from ONE (user, type)-partitioned lag window
    * (fully distributed); both quantiles use the x123/x128 cumulative-
    * histogram discipline — the corpus collapses to its distinct
    * (type, gap) table with map-side combine, the running-sum window
    * and the threshold selections run over THAT bounded table, and no
    * raw row passes through a sort. All selection arithmetic is exact
    * integer (2·cum ≥ tot; 10·cum ≥ 9·tot — no division, no floats).
    *
    * @return (event_type, n_gaps, median_gap_us, p90_gap_us) ordered. */
  def interArrivalStats(events: DataFrame, userCol: String = "user_id",
                        typeCol: String = "event_type",
                        tsCol: String = "ts",
                        idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol), col(typeCol))
      .orderBy(col("__us"), col(idCol))
    val gaps = events
      .withColumn("__us", unix_micros(col(tsCol)))
      .withColumn("__gap", col("__us") - lag(col("__us"), 1).over(w))
      .filter(col("__gap").isNotNull)
      .select(col(typeCol).as("event_type"), col("__gap").as("gap_us"))
    val vals = gaps.groupBy(col("event_type"), col("gap_us"))
      .agg(count(lit(1)).as("w"))
    val cw = Window.partitionBy(col("event_type")).orderBy(col("gap_us"))
    val cum = vals
      .withColumn("__cum", sum("w").over(cw))
      .withColumn("__tot", sum("w").over(Window.partitionBy(col("event_type"))))
    val med = cum.filter(col("__cum") * 2 >= col("__tot"))
      .groupBy("event_type").agg(min("gap_us").as("median_gap_us"))
    val p90 = cum.filter(col("__cum") * 10 >= col("__tot") * 9)
      .groupBy("event_type").agg(min("gap_us").as("p90_gap_us"))
    gaps.groupBy("event_type").agg(count(lit(1)).as("n_gaps"))
      .join(med, Seq("event_type"))
      .join(p90, Seq("event_type"))
      .orderBy("event_type")
  }

  /** Week-over-week churn/retention ledger: for every observed week w
    * (except the last — its successor is beyond the data horizon, the
    * rollingActives clip rule), how many distinct users were active in
    * w, how many of those returned in w+1, how many churned, and how
    * many of w+1's actives are new. The product-health counterpart of
    * [[retention]]'s cohort curves: one row per week, directly
    * plottable, exact integers end to end.
    *
    * Shape: the corpus collapses to DISTINCT (user, week) facts with
    * map-side combine; retention is a self-equi-join of that fact
    * table against itself shifted one week (join on (user, week) —
    * never a cross join, never a window); the final ledger assembles
    * from |weeks|-row aggregates with broadcast joins. A week with
    * zero following-week activity reports n_next = 0 / churned = all —
    * a real outage reads as one, not as a missing row.
    *
    * @return (week, n_active, n_next, n_retained, n_churned, n_new,
    *         retained_permille) ordered by week. */
  def weeklyChurn(events: DataFrame, epoch: String = "2024-01-01",
                  userCol: String = "user_id",
                  tsCol: String = "ts"): DataFrame = {
    val week = expr(s"datediff(to_date($tsCol), date'$epoch') div 7")
    val uw = events.select(col(userCol).as("u"), week.as("week")).distinct()
    val act = uw.groupBy("week").agg(count(lit(1)).as("n_active"))
    val ret = uw
      .join(uw.select(col("u"), (col("week") - 1L).as("week")), Seq("u", "week"))
      .groupBy("week").agg(count(lit(1)).as("n_retained"))
    val nxt = act.select((col("week") - 1L).as("week"),
      col("n_active").as("n_next"))
    val bounds = uw.agg(max("week").as("__wmax"))
    act.crossJoin(broadcast(bounds)) // 1-row clip bound
      .filter(col("week") < col("__wmax"))
      .join(broadcast(nxt), Seq("week"), "left")
      .join(broadcast(ret), Seq("week"), "left")
      .select(col("week"), col("n_active"),
        coalesce(col("n_next"), lit(0L)).as("n_next"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"))
      .select(col("week"), col("n_active"), col("n_next"), col("n_retained"),
        (col("n_active") - col("n_retained")).as("n_churned"),
        (col("n_next") - col("n_retained")).as("n_new"),
        expr("(n_retained * 1000) div n_active").as("retained_permille"))
      .orderBy("week")
  }

  /** Top-k most common length-`len` event-type paths (sequential
    * pattern mining, first-order beyond `transitionMatrix`'s pairs):
    * sliding windows of consecutive event types per user — the "what
    * do users actually do in three steps" query product analytics
    * asks right after the funnel tells them WHERE users drop.
    *
    * One user-PARTITIONed window shuffle ((ts_ns, event_id) total
    * order — deterministic under equal timestamps) derives the `len−1`
    * lead columns row-locally; the count table is ≤|types|^len rows
    * with map-side combine, and the top-k cut is a
    * TakeOrderedAndProject (never a global sort). Ties break
    * deterministically by the path itself.
    */
  def pathsTopK(events: DataFrame, k: Int = 20, len: Int = 3,
                userCol: String = "user_id", typeCol: String = "event_type",
                tsCol: String = "ts_ns", idCol: String = "event_id"): DataFrame = {
    require(len >= 2, s"paths need len >= 2, got $len")
    require(k > 0, s"k must be positive, got $k")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val stepCols = (1 until len).map(i => s"step${i + 1}")
    val withLeads = stepCols.zipWithIndex.foldLeft(
      events.select(col(userCol), col(typeCol).as("step1"),
        col(tsCol), col(idCol))) { case (df, (name, i)) =>
      df.withColumn(name, lead(col("step1"), i + 1).over(w))
    }
    val paths = ("step1" +: stepCols).map(col)
    withLeads
      .filter(stepCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(paths: _*).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc +: paths.map(_.asc): _*)
      .limit(k)
  }

  /** Per-user activity streaks: longest run of CONSECUTIVE active days
    * (distinct calendar days with ≥1 event), plus how many separate
    * streaks and active days the user has — the habit-formation
    * readout behind "7-day streak" product mechanics, and the
    * engagement-depth complement to [[rollingActives]]' breadth curve.
    *
    * Algorithm: the classic gaps-and-islands identity — for distinct
    * (user, day) facts, `day − row_number()` over the per-user day
    * order is CONSTANT within a consecutive run and distinct across
    * runs, so a run is just a (user, day−rn) group. No self-join, no
    * sequence explode.
    *
    * Shape: the corpus collapses to distinct (user, day) with map-side
    * combine; the only window is PARTITIONed by user over that fact
    * table (≤ |days| rows per user); the island grouping reuses the
    * same user-hash distribution. Exact integers end to end.
    *
    * @return (user_id, n_active_days, n_streaks, longest_streak,
    *         last_day) ordered by user_id. */
  def dailyStreaks(events: DataFrame, epoch: String = "2024-01-01",
                   userCol: String = "user_id",
                   tsCol: String = "ts"): DataFrame = {
    val day = datediff(to_date(col(tsCol)), to_date(lit(epoch))).cast("long")
    val userDays = events.select(col(userCol).as("user_id"), day.as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = userDays
      .withColumn("__isl", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("__isl"))
      .agg(count(lit(1)).as("__len"), max("day").as("__end"))
    islands.groupBy("user_id")
      .agg(sum("__len").as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max("__len").as("longest_streak"),
        max("__end").as("last_day"))
      .orderBy("user_id")
  }

  /** Day-of-week seasonality profile: per ISO weekday (1 = Monday …
    * 7 = Sunday), the number of observed calendar days, total events,
    * exact events-per-day (milli), and the seasonality index vs the
    * all-week daily mean (permille) — the "is Saturday really 2×
    * Tuesday" readout that turns a daily volume series into a weekly
    * shape, and the denominator model [[dailyVolumeAnomaly]]-style
    * gates should use once traffic has weekly structure.
    *
    * All ratios are exact integer arithmetic on cross-multiplied
    * counts: events_per_day_milli = n·1000 div days_d, and
    * index_permille = n_d·D·1000 div (days_d·N) — no float mean ever
    * materializes. The event table collapses to per-day counts with
    * map-side combine (≤|days| rows); everything after is broadcast
    * arithmetic on a ≤7-row aggregate.
    *
    * @return (dow, n_days, n_events, events_per_day_milli,
    *         index_permille) ordered by dow. */
  def dowProfile(events: DataFrame, tsCol: String = "ts"): DataFrame = {
    val daily = events
      .select(to_date(col(tsCol)).as("__date"))
      .groupBy("__date").agg(count(lit(1)).as("__n"))
      // ISO weekday: Spark weekday() is 0 = Monday; +1 matches isodow
      .select((weekday(col("__date")) + 1).cast("long").as("dow"),
        col("__n"))
    val perDow = daily.groupBy("dow")
      .agg(count(lit(1)).as("n_days"), sum("__n").as("n_events"))
    val tot = perDow.agg(sum("n_days").as("__days_all"),
      sum("n_events").as("__n_all"))
    perDow.crossJoin(broadcast(tot)) // 1-row global denominators
      .select(col("dow"), col("n_days"), col("n_events"),
        expr("(n_events * 1000) div n_days").as("events_per_day_milli"),
        expr("(n_events * __days_all * 1000) div (n_days * __n_all)")
          .as("index_permille"))
      .orderBy("dow")
  }

  /** Cohort retention matrix: users grouped by their FIRST active week
    * (the cohort), then for each later week-offset the count still
    * active and its share of the cohort (permille) — the full
    * retention triangle behind [[weeklyChurn]]'s one-step ledger,
    * read along a row for "how cohort w ages" and down a column for
    * "is week-3 retention improving across cohorts".
    *
    * Shape: distinct (user, week) facts with map-side combine; the
    * cohort label is a per-user min() aggregate joined back on the
    * SAME user-hash distribution (AQE reuses the exchange); the
    * matrix is a ≤|weeks|²-row aggregate and the cohort-size
    * denominator arrives by broadcast. Offset-0 rows are the cohort
    * sizes themselves (permille = 1000 exactly), so the matrix is
    * self-normalizing. Exact integers end to end.
    *
    * @return (cohort_week, week_offset, n_active, retained_permille)
    *         ordered by (cohort_week, week_offset). */
  def cohortMatrix(events: DataFrame, epoch: String = "2024-01-01",
                   userCol: String = "user_id",
                   tsCol: String = "ts"): DataFrame = {
    val week = expr(s"datediff(to_date($tsCol), date'$epoch') div 7")
    val uw = events.select(col(userCol).as("u"), week.as("week")).distinct()
    val cohorts = uw.groupBy("u").agg(min("week").as("cohort_week"))
    val cells = uw.join(cohorts, Seq("u"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = cells.filter(col("week_offset") === 0L)
      .select(col("cohort_week"), col("n_active").as("__size"))
    cells.join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        expr("(n_active * 1000) div __size").as("retained_permille"))
      .orderBy("cohort_week", "week_offset")
  }

  /** CUSUM change-point scan over the daily event-count series: for
    * each calendar day, the integer-scaled cumulative deviation from
    * the series mean, S_d = D·Σ_{i≤d} n_i − (d_idx+1)·N (the textbook
    * CUSUM statistic multiplied by D so it stays in exact integer
    * arithmetic — argmax is invariant under the positive scaling), and
    * a flag on the day where |S| peaks: the single most likely level-
    * shift point (Page's test / binary-segmentation pivot). Zero-event
    * days inside the observed span are densified to 0 so a dead day
    * pulls the statistic down instead of vanishing.
    *
    * Shape: the corpus collapses to per-day counts with map-side
    * combine; the grid densify, running sum, and peak selection all
    * run over that ≤|days| aggregate (calendar-bounded — a decade is
    * ~3.7k rows — the same boundedness contract as [[rollingActives]];
    * the window is over the day aggregate, NEVER raw events). The
    * scaled statistic needs D·N ≤ 2⁶³: safe to ~10⁵ days × 10¹³
    * events; beyond that cast the sums to DECIMAL(38,0).
    *
    * @return (day, n, cusum_scaled, is_peak) ordered by day; exactly
    *         one row has is_peak = true (earliest day on ties). */
  def cusumChangePoint(events: DataFrame, epoch: String = "2024-01-01",
                       tsCol: String = "ts"): DataFrame = {
    val day = datediff(to_date(col(tsCol)), to_date(lit(epoch))).cast("long")
    val counts = events.select(day.as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
    val bounds = counts.agg(min("day").as("__d0"), max("day").as("__d1"))
    val grid = bounds
      .select(explode(sequence(col("__d0"), col("__d1"))).as("day"))
    val dense = grid.join(broadcast(counts), Seq("day"), "left")
      .select(col("day"), coalesce(col("n"), lit(0L)).as("n"))
    val tot = dense.agg(count(lit(1)).as("__days"), sum("n").as("__tot"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // |days|-bounded global window (calendar axis), same contract as
    // the x122/x116 day grids — never over raw events
    val scanned = dense.crossJoin(broadcast(tot))
      .withColumn("__cum", sum("n").over(w))
      .withColumn("__idx", row_number().over(Window.orderBy(col("day"))))
      .select(col("day"), col("n"),
        (col("__days") * col("__cum") - col("__idx") * col("__tot"))
          .as("cusum_scaled"))
    val peak = scanned.agg(max(abs(col("cusum_scaled"))).as("__peak"))
    val peakDay = scanned.crossJoin(broadcast(peak))
      .filter(abs(col("cusum_scaled")) === col("__peak"))
      .agg(min("day").as("__pday")) // earliest day on ties
    scanned.crossJoin(broadcast(peakDay))
      .select(col("day"), col("n"), col("cusum_scaled"),
        (col("day") === col("__pday")).as("is_peak"))
      .orderBy("day")
  }

  /** Bipartite co-occurrence projection: item PAIRS that appear
    * together in at least `minCount` baskets — "bought-together" /
    * "co-cited" / "co-edited" mining over a LARGE item vocabulary,
    * where [[associationRules]]' assume-the-pair-table-is-small
    * |types|² bound no longer holds (parts, docs, SKUs: millions of
    * items). Item order within a pair is canonical (a < b); counts
    * are basket-distinct.
    *
    * Scale discipline for big vocabularies, in order:
    *  1. baskets collapse to DISTINCT (basket, item) facts;
    *  2. the APRIORI PRUNE — an item in < minCount baskets cannot be
    *     in a ≥ minCount pair — runs as one groupBy + a broadcast-able
    *     frequent-item semi-join BEFORE any pairing;
    *  3. pairs come from the within-basket self-join, mass
    *     Σ |frequent items per basket|² — per-basket-bounded, never
    *     vocabulary² and never corpus²;
    *  4. the pair groupBy combines map-side.
    *
    * @return (item_a, item_b, n_baskets) with n_baskets ≥ minCount,
    *         ordered by (item_a, item_b). */
  def basketPairs(df: DataFrame, basketCol: String, itemCol: String,
                  minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount ($minCount) must be >= 1")
    val facts = df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
    val frequent = facts.groupBy("__i")
      .agg(count(lit(1)).as("__n")).filter(col("__n") >= minCount)
      .select("__i")
    val pruned = facts.join(frequent, Seq("__i"), "left_semi")
    pruned.join(pruned.select(col("__b"), col("__i").as("__j")), Seq("__b"))
      .filter(col("__i") < col("__j"))
      .groupBy(col("__i").as("item_a"), col("__j").as("item_b"))
      .agg(count(lit(1)).as("n_baskets"))
      .filter(col("n_baskets") >= minCount)
      .orderBy("item_a", "item_b")
  }

  /** RFM segmentation: per customer, Recency (days since last order,
    * against the corpus max date as the anchor), Frequency (order
    * count) and Monetary (total spend), each scored into quintiles
    * 1–5 — the classic marketing segmentation, with 5 = best in every
    * dimension (most recent, most frequent, highest spend).
    *
    * Quintile boundaries are EXACT lower-quantile cuts computed with
    * the x123/x128 cumulative-histogram discipline: per metric the
    * |customers|-row table collapses to its distinct-value weight
    * table, a running-sum window ranks THAT bounded table, and the
    * score is the count of quintile thresholds at or below the value
    * (ties share a score — same rule as dense quantile binning; a
    * metric with < 5 distinct values yields fewer occupied scores
    * rather than arbitrary splits). Recency scores INVERT (smaller
    * gap = better). All arithmetic integer; monetary in cents.
    *
    * Shape: one customer-keyed aggregate; per metric the threshold
    * derivation windows over the DISTINCT-VALUE weight table. Recency
    * (≤|days|) and frequency (≤max orders/customer) are tightly
    * bounded; monetary's distinct-cents table can approach |customers|
    * — this exact form is the ORACLE ANCHOR (the x98/x126 pattern),
    * and `approx = true` ships the data-scale swap: the 12 threshold
    * scalars from `percentile_approx` (same output shape, rows-only
    * checkable — sketch internals are engine-specific). The scoring
    * join itself is three 1-row broadcasts onto the customer table.
    *
    * @return (cust, recency_days, frequency, monetary_cents, r_score,
    *         f_score, m_score, segment) ordered by cust. */
  def rfmSegments(orders: DataFrame, custCol: String, tsCol: String,
                  amountCents: Column, approx: Boolean = false): DataFrame = {
    val facts = orders.select(col(custCol).as("cust"),
      to_date(col(tsCol)).as("__d"), amountCents.as("__amt"))
    val anchor = facts.agg(max("__d").as("__anchor"))
    val rfm = facts.crossJoin(broadcast(anchor))
      .groupBy("cust")
      .agg(min(datediff(col("__anchor"), col("__d"))).cast("long")
        .as("recency_days"),
        count(lit(1)).as("frequency"),
        sum("__amt").as("monetary_cents"))
    // exact lower-quantile thresholds at 20/40/60/80% per metric, from
    // the distinct-value weight table (x123 discipline); approx = the
    // documented 100 TB swap — percentile_approx collapses each metric
    // to ONE mergeable aggregate, no distinct-value window (estimates
    // are engine-specific → rows-only checkable; the exact form stays
    // the oracle anchor, BehaviorSpec pins rank-adjacency at test
    // scale)
    def thresholds(metric: String): DataFrame = {
      if (approx)
        rfm.agg(percentile_approx(col(metric),
            array(lit(0.2), lit(0.4), lit(0.6), lit(0.8)), lit(10000))
          .as("__qs"))
          .select(element_at(col("__qs"), 1).as("q1"),
            element_at(col("__qs"), 2).as("q2"),
            element_at(col("__qs"), 3).as("q3"),
            element_at(col("__qs"), 4).as("q4"))
      else {
      val w = Window.orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val vals = rfm.groupBy(col(metric).as("__v"))
        .agg(count(lit(1)).as("__w"))
      val tot = vals.agg(sum("__w").as("__tot"))
      vals.crossJoin(broadcast(tot))
        .withColumn("__cum", sum("__w").over(w))
        .select(col("__v"), col("__cum"), col("__tot"))
        .agg(
          min(when(col("__cum") * 5 >= col("__tot"), col("__v"))).as("q1"),
          min(when(col("__cum") * 5 >= col("__tot") * 2, col("__v"))).as("q2"),
          min(when(col("__cum") * 5 >= col("__tot") * 3, col("__v"))).as("q3"),
          min(when(col("__cum") * 5 >= col("__tot") * 4, col("__v"))).as("q4"))
      }
    }
    def score(metric: String, q: String): Column =
      lit(1L) + when(col(metric) > col(s"$q.q1"), 1L).otherwise(0L) +
        when(col(metric) > col(s"$q.q2"), 1L).otherwise(0L) +
        when(col(metric) > col(s"$q.q3"), 1L).otherwise(0L) +
        when(col(metric) > col(s"$q.q4"), 1L).otherwise(0L)
    val scored = rfm
      .crossJoin(broadcast(thresholds("recency_days").select(
        struct(col("q1"), col("q2"), col("q3"), col("q4")).as("__rq"))))
      .crossJoin(broadcast(thresholds("frequency").select(
        struct(col("q1"), col("q2"), col("q3"), col("q4")).as("__fq"))))
      .crossJoin(broadcast(thresholds("monetary_cents").select(
        struct(col("q1"), col("q2"), col("q3"), col("q4")).as("__mq"))))
      .select(col("cust"), col("recency_days"), col("frequency"),
        col("monetary_cents"),
        // recency inverts: the SMALLEST gap deserves the top score
        (lit(6L) - score("recency_days", "__rq")).as("r_score"),
        score("frequency", "__fq").as("f_score"),
        score("monetary_cents", "__mq").as("m_score"))
    scored
      .withColumn("segment",
        concat(col("r_score"), col("f_score"), col("m_score")))
      .orderBy("cust")
  }

  /** Daily new-vs-returning split: per calendar day, how many active
    * users saw their FIRST-ever event that day vs came back — the
    * acquisition/retention decomposition behind every growth dashboard
    * ([[weeklyChurn]] reads the same signal at week grain with churn;
    * this is the daily acquisition view). `new_permille` near 1000
    * means the product is all acquisition and no habit; collapsing
    * n_new with steady n_active means growth stalled but retention
    * holds — the two failure modes look identical in a raw DAU curve.
    *
    * Shape: the corpus collapses to distinct (user, day) facts, the
    * first-day table is one user-keyed aggregation, and the
    * classification join shares the same user-hash distribution — two
    * shuffles total, both map-side combined, never raw events twice.
    * Days with no activity emit no row (this reports user mix, not
    * volume — [[dailyVolumeAnomaly]]/[[ewmaChart]] own the gaps).
    *
    * @return (day, n_active, n_new, n_returning, new_permille) ordered. */
  def newVsReturning(events: DataFrame, epoch: String = "2024-01-01",
                     userCol: String = "user_id",
                     tsCol: String = "ts"): DataFrame = {
    val day = datediff(to_date(col(tsCol)), to_date(lit(epoch))).cast("long")
    val userDays = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("u"), day.as("day")).distinct()
    val first = userDays.groupBy("u").agg(min("day").as("fd"))
    userDays.join(first, Seq("u"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("fd"), 1L).otherwise(0L)).as("n_new"))
      .select(col("day"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"),
        expr("(n_new * 1000) div n_active").as("new_permille"))
      .orderBy("day")
  }

  /** Stickiness ratio (DAU/MAU) per day — the engagement-frequency
    * headline: near 1000‰ means daily-habit usage, near 1000/30 ≈ 33‰
    * means once-a-month visits; product teams track it because DAU
    * and MAU can both grow while the RATIO collapses (lots of
    * one-time visitors). A thin composition over [[rollingActives]]
    * at the monthly window (same shuffles — distinct facts + bounded
    * explode, exact distinct counts); days whose trailing month is
    * fully idle report NULL instead of dividing by zero.
    *
    * @return (day, dau, mau, stickiness_permille) ordered. */
  def stickiness(events: DataFrame, windowDays: Int = 28,
                 epoch: String = "2024-01-01",
                 userCol: String = "user_id",
                 tsCol: String = "ts"): DataFrame =
    rollingActives(events, windowDays, epoch, userCol, tsCol)
      .select(col("day"), col("dau"), col("wau").as("mau"),
        when(col("wau") === 0L, lit(null).cast("long"))
          .otherwise(expr("(dau * 1000) div wau"))
          .as("stickiness_permille"))
      .orderBy("day")

  /** EWMA control chart over the per-(type, day) event-count series —
    * the third leg of the volume-monitoring triple: [[dailyVolumeAnomaly]]
    * z-scores against the WHOLE series (slow drift poisons the mean),
    * [[cusumChangePoint]] locates a single level shift after the fact,
    * and this flags TODAY against a recency-weighted local baseline —
    * the geometric half-life-per-day EWMA of the previous 20 days — so
    * a feed that doubled overnight fires immediately even when the
    * long-run mean still looks fine.
    *
    * Exactness: weights are powers of two (gap g days back weighs
    * 2^(20−g), zero beyond 20 — the [[Sessions.decayedCounts]] trick),
    * so the numerator, denominator, and `ewma_milli = num·1000 div den`
    * are exact integers; flags compare `n·den` against `2·num` and
    * `num` against `2·n·den` — no division, no floats anywhere.
    * Overflow bound: n_day·2¹⁹·1000 needs n_day < ~1.7·10¹⁰ events per
    * (type, day); beyond that run the same formula in DECIMAL(38,0).
    *
    * Shape: one (type, day) aggregation with map-side combine collapses
    * the corpus; the grid densify (zero days weigh the denominator —
    * a dead day PULLS the baseline down, which is the point), the ×20
    * contribution explode, and the rollup all run over that calendar-
    * bounded table — never raw events (the x122/x116 contract). The
    * first observed day has no history → NULL baseline, NULL flags.
    *
    * @return (event_type, day, n, ewma_milli, spike, dip) ordered —
    *         spike: n > 2·baseline; dip: n < baseline/2. */
  def ewmaChart(events: DataFrame, epoch: String = "2024-01-01",
                typeCol: String = "event_type",
                tsCol: String = "ts"): DataFrame = {
    val day = datediff(to_date(col(tsCol)), to_date(lit(epoch))).cast("long")
    val counts = events
      .filter(col(typeCol).isNotNull && col(tsCol).isNotNull)
      .select(col(typeCol).as("t"), day.as("day"))
      .groupBy("t", "day").agg(count(lit(1)).as("n"))
    val bounds = counts.groupBy("t")
      .agg(min("day").as("__d0"), max("day").as("__d1"))
    val dense = bounds
      .select(col("t"), explode(sequence(col("__d0"), col("__d1"))).as("day"))
      .join(counts, Seq("t", "day"), "left")
      .select(col("t"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
    val hist = dense
      .select(col("t"), col("n"),
        explode(sequence(col("day") + lit(1L), col("day") + lit(20L)))
          .as("day"),
        (col("day") + lit(20L) + lit(1L)).as("__horizon"))
      .withColumn("__w", expr(
        "cast(shiftleft(1, cast(__horizon - day as int)) as bigint) div 2"))
      .groupBy("t", "day")
      .agg(sum(col("n") * col("__w")).as("num"), sum("__w").as("den"))
    dense.join(hist, Seq("t", "day"), "left")
      .select(col("t").as(typeCol), col("day"), col("n"),
        when(col("den").isNull, lit(null).cast("long"))
          .otherwise(expr("(num * 1000) div den")).as("ewma_milli"),
        when(col("den").isNull, lit(null).cast("boolean"))
          .otherwise(col("n") * col("den") > lit(2L) * col("num")).as("spike"),
        when(col("den").isNull, lit(null).cast("boolean"))
          .otherwise(lit(2L) * col("n") * col("den") < col("num")).as("dip"))
      .orderBy(typeCol, "day")
  }

  /** Theil–Sen robust trend slope over the per-(type, day) count series:
    * the exact lower MEDIAN of all pairwise slopes (n_j − n_i)/(d_j −
    * d_i) in integer micros — the trend statistic that shrugs off the
    * outlier days an OLS fit chases ([[ewmaChart]] catches today's
    * spike, [[cusumChangePoint]] one level shift; this answers "is the
    * feed structurally growing or shrinking"). Up to 29% of days can be
    * arbitrarily corrupted without moving the estimate (the estimator's
    * breakdown point).
    *
    * Exactness: slopes quantize to micros with plain integral
    * division — BOTH engines truncate toward zero (Spark `div` and
    * DuckDB `//`, verified on negative slopes at build time), so the
    * plain spelling is the portable one and the median is taken over
    * identically-truncated values. The median itself is the x123
    * cumulative-histogram selection (2·cum ≥ tot) over the (type,
    * slope) weight table — no raw sort, no floats.
    *
    * Shape: corpus → per-(type, day) counts (map-side combine); the
    * pair self-join runs over the DENSIFIED calendar grid (zero days
    * are real observations — omitting them biases the trend up), so
    * pair mass is span²-bounded per type (a decade ≈ 7M pairs), never
    * a function of event count; at century-scale spans, hash-sample
    * the day grid deterministically first ([[graft.operators.Sampling.hashSample]])
    * — the estimator tolerates it by construction.
    *
    * @return (event_type, n_days, n_pairs, slope_micro) ordered. */
  def theilSenTrend(events: DataFrame, epoch: String = "2024-01-01",
                    typeCol: String = "event_type",
                    tsCol: String = "ts"): DataFrame = {
    val dense = dailyCountsDense(events, epoch, typeCol, tsCol)
    val slopes = dense.select(col("t"), col("day").as("d1"), col("n").as("n1"))
      .join(dense.select(col("t"), col("day").as("d2"), col("n").as("n2")),
        Seq("t"))
      .filter(col("d1") < col("d2"))
      .select(col("t"),
        expr("((n2 - n1) * 1000000) div (d2 - d1)").as("s"))
      .groupBy("t", "s").agg(count(lit(1)).as("w"))
    val w = Window.partitionBy("t").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stats = dense.groupBy("t").agg(count(lit(1)).as("n_days"))
    slopes
      .withColumn("__cum", sum("w").over(w))
      .withColumn("__tot", sum("w").over(Window.partitionBy("t")))
      .filter(col("__cum") * 2 >= col("__tot"))
      .groupBy("t")
      .agg(min("s").as("slope_micro"), max("__tot").as("n_pairs"))
      .join(stats, Seq("t"))
      .select(col("t").as(typeCol), col("n_days"), col("n_pairs"),
        col("slope_micro"))
      .orderBy(typeCol)
  }

  /** Per-(type, day) densified daily-count series — the shared spine
    * of [[theilSenTrend]], [[olsTrend]] and [[seasonalAnomaly]]: zero
    * days are REAL observations (omitting them biases any trend or
    * seasonal fit up), so the calendar grid between each type's first
    * and last active day is exploded and left-joined. Bounded by
    * |types|·span rows; the only event-scale pass is the count. */
  private def dailyCountsDense(events: DataFrame, epoch: String,
                               typeCol: String, tsCol: String): DataFrame = {
    val day = datediff(to_date(col(tsCol)), to_date(lit(epoch))).cast("long")
    val counts = events
      .filter(col(typeCol).isNotNull && col(tsCol).isNotNull)
      .select(col(typeCol).as("t"), day.as("day"))
      .groupBy("t", "day").agg(count(lit(1)).as("n"))
    counts.groupBy("t")
      .agg(min("day").as("__d0"), max("day").as("__d1"))
      .select(col("t"), explode(sequence(col("__d0"), col("__d1"))).as("day"))
      .join(counts, Seq("t", "day"), "left")
      .select(col("t"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Per-type ordinary-least-squares DAILY trend — slope, intercept
    * and R² of the count-vs-day fit in exact integer micro/milli
    * units: the "how fast and how linearly is this feed growing"
    * headline next to [[theilSenTrend]]'s robust slope (OLS chases
    * outlier days — that is exactly why BOTH are reported: a large
    * OLS/Theil–Sen disagreement IS the outlier alarm — and R² says
    * whether a line explains the series at all).
    *
    * Exactness: over the densified day grid every ingredient is an
    * exact integer power sum (d, Σx, Σy, Σxy, Σx², Σy² — the x134
    * moment discipline), so slope_micro = (d·Σxy − Σx·Σy)·10⁶ div
    * (d·Σx² − (Σx)²) and intercept_micro = (Σy·10⁶ − slope_micro·Σx)
    * div d are exact integer arithmetic (both engines truncate toward
    * zero — the x163 verification) carried in DECIMAL(38,0) (≡ DuckDB
    * HUGEINT, the x177 discipline): cov scales ~span³·daily-count, so
    * the ×10⁶ lift would exceed 2⁶³ on large corpora where non-ANSI
    * BIGINT wraps silently; r2_milli cross-multiplies the squared
    * covariance the same way (overflow at ~3·10⁹ count·days). Constant
    * series (zero x- or y-variance) report NULL slope/R², never a
    * divide-by-zero.
    *
    * Shape: one map-side-combined (type, day) count, then ONE
    * aggregation over the |types|·span-bounded dense grid; nothing
    * event-scale shuffles twice.
    *
    * @return (event_type, n_days, slope_micro, intercept_micro,
    *         r2_milli) ordered by type. */
  def olsTrend(events: DataFrame, epoch: String = "2024-01-01",
               typeCol: String = "event_type",
               tsCol: String = "ts"): DataFrame = {
    val dense = dailyCountsDense(events, epoch, typeCol, tsCol)
    dense.groupBy("t")
      .agg(count(lit(1)).as("d"), sum("day").as("sx"), sum("n").as("sy"),
        sum(col("day") * col("n")).as("sxy"),
        sum(col("day") * col("day")).as("sxx"),
        sum(col("n") * col("n")).as("syy"))
      .withColumn("__vx", col("d") * col("sxx") - col("sx") * col("sx"))
      .withColumn("__vy", col("d") * col("syy") - col("sy") * col("sy"))
      .withColumn("__cov", col("d") * col("sxy") - col("sx") * col("sy"))
      .withColumn("slope_micro",
        when(col("__vx") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            """(cast(__cov as decimal(38,0)) * 1000000)
               div cast(__vx as decimal(38,0))""")))
      .withColumn("intercept_micro",
        when(col("__vx") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            """(cast(sy as decimal(38,0)) * 1000000
               - cast(slope_micro as decimal(38,0)) * cast(sx as decimal(38,0)))
               div cast(d as decimal(38,0))""")))
      .withColumn("r2_milli",
        when(col("__vx") === 0L || col("__vy") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            """cast((cast(__cov as decimal(38,0)) * cast(__cov as decimal(38,0))
               * 1000) div (cast(__vx as decimal(38,0)) * cast(__vy as
               decimal(38,0))) as bigint)""")))
      .select(col("t").as(typeCol), col("d").as("n_days"),
        col("slope_micro"), col("intercept_micro"), col("r2_milli"))
      .orderBy(typeCol)
  }

  /** Discrete churn HAZARD curve with right-censoring — the
    * product-analytics survival read: for each lifetime t (days
    * between a user's first and last observed activity), the ppm
    * probability that a user who SURVIVED to t churns exactly there,
    * hazard(t) = deaths_t / at_risk_t. Users still active on the
    * corpus' final day are CENSORED — their true lifetime is unknown,
    * so they count in every at-risk set up to their observed lifetime
    * but never as a death (dropping them would overstate early churn;
    * counting them as deaths would overstate late churn — the
    * Kaplan–Meier counting rule). The curve is the per-day version of
    * [[churnedUsers]]' single cutoff: WHERE in the lifetime users
    * leave, not just how many have left.
    *
    * Exactness: every count is an exact integer and hazard_ppm =
    * deaths·10⁶ div at_risk; no products of probabilities (the
    * survival curve S(t) = Π(1 − h) is left to the caller precisely
    * because a float product is NOT engine-exact — the hazard table
    * carries strictly more information anyway).
    *
    * Shape: one user-keyed min/max aggregation (the only event-scale
    * pass), a 1-row horizon broadcast, then everything — the lifetime
    * histogram, the 0..max grid, the suffix-sum at-risk window — runs
    * on the ≤span-row lifetime table.
    *
    * @return (t_days, n_at_risk, n_deaths, n_censored, hazard_ppm)
    *         for every t in [0, max observed lifetime], ordered. */
  def hazardCurve(events: DataFrame, userCol: String = "user_id",
                  tsCol: String = "ts"): DataFrame = {
    val day = datediff(to_date(col(tsCol)), to_date(lit("1970-01-01")))
      .cast("long")
    val spans = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("u"), day.as("day"))
      .groupBy("u").agg(min("day").as("__first"), max("day").as("__last"))
    val horizon = spans.agg(max("__last").as("__h"))
    val lifetimes = spans.crossJoin(broadcast(horizon))
      .select((col("__last") - col("__first")).as("t"),
        when(col("__last") === col("__h"), 1L).otherwise(0L).as("__cens"))
      .groupBy("t")
      .agg(sum(lit(1L) - col("__cens")).as("n_deaths"),
        sum(col("__cens")).as("n_censored"))
    val grid = lifetimes.agg(max("t").as("__m"))
      .select(explode(sequence(lit(0L), col("__m"))).as("t"))
    val w = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(lifetimes, Seq("t"), "left")
      .select(col("t"), coalesce(col("n_deaths"), lit(0L)).as("n_deaths"),
        coalesce(col("n_censored"), lit(0L)).as("n_censored"))
      // suffix sum over the bounded lifetime grid: everyone whose
      // lifetime is >= t was still at risk at t
      .withColumn("n_at_risk",
        sum(col("n_deaths") + col("n_censored")).over(w))
      .select(col("t").as("t_days"), col("n_at_risk"), col("n_deaths"),
        col("n_censored"),
        expr("(n_deaths * 1000000) div n_at_risk").as("hazard_ppm"))
      .orderBy("t_days")
  }

  /** Item–item cosine similarity over basket co-occurrence — the
    * classic item-based collaborative-filtering score ("users who
    * touched A also touched B", Sarwar et al. 2001) on
    * [[basketPairs]]' exact machinery: cos(a,b) = n_ab / √(n_a·n_b)
    * in milli, top-k pairs. Raw co-occurrence counts (x148) rank hub
    * items first; [[associationRules]]' lift corrects for one side;
    * cosine symmetrically normalizes BOTH — the score that surfaces
    * genuinely-coupled niche pairs over everything-co-occurs-with-
    * the-bestseller noise.
    *
    * Exactness: counts are integers; the ONLY floats are one √ of an
    * integer product (exact below 2⁵³) and one divide, then the
    * half-up milli floor — the x116 single-sqrt discipline, identical
    * expression trees in both engines.
    *
    * Shape: identical to [[basketPairs]] — distinct facts, min-count
    * prune BEFORE the self-join (the df-prune that keeps the pair
    * mass Σ basket² bounded), map-side-combined pair counts, item
    * totals joined onto ≤pairs rows, TakeOrderedAndProject top-k.
    * The PRUNED fact table is eagerly materialized (the x105 cached-
    * row-table discipline): both sides of the pair self-join read it,
    * and its totals feed two more joins — lazily the event-scale
    * distinct would execute three times (the x182 sf1-probe slope).
    * The blocks live as long as the returned DataFrame (see [[Dedup]]).
    *
    * @return (item_a, item_b, n_a, n_b, n_ab, cosine_milli) the top-k
    *         by (cosine desc, item_a, item_b). */
  def itemCosine(df: DataFrame, basketCol: String, itemCol: String,
                 minCount: Long, k: Int): DataFrame = {
    require(k >= 1 && k <= 100000, s"k ($k) must be in [1, 1e5]")
    val facts = df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
    val frequent = facts.groupBy("__i").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minCount).select("__i")
    // deliberately NOT broadcast(frequent): the sort-merge semi-join
    // REUSES the distinct's exchange (facts shuffles once, total), while
    // a broadcast splits the lineage and recomputes the event-scale
    // distinct for each side — measured 40% slower at sf0.1 and sf1
    val pruned = facts.join(frequent, Seq("__i"), "left_semi")
      .localCheckpoint(true)
    // totals re-derive from the MATERIALIZED table: the semi-join
    // keeps every row of a surviving item, so per-item counts are
    // unchanged — and the n_a/n_b joins no longer re-run the
    // event-scale distinct lineage
    val totals = pruned.groupBy("__i").agg(count(lit(1)).as("__n"))
    pruned.join(pruned.select(col("__b"), col("__i").as("__j")), Seq("__b"))
      .filter(col("__i") < col("__j"))
      .groupBy(col("__i"), col("__j"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
      .join(totals.select(col("__i"), col("__n").as("n_a")), Seq("__i"))
      .join(totals.select(col("__i").as("__j"), col("__n").as("n_b")),
        Seq("__j"))
      .select(col("__i").as("item_a"), col("__j").as("item_b"),
        col("n_a"), col("n_b"), col("n_ab"),
        floor(col("n_ab") * lit(1000d) /
          sqrt((col("n_a") * col("n_b")).cast("double")) + lit(0.5d))
          .cast("long").as("cosine_milli"))
      .orderBy(col("cosine_milli").desc, col("item_a"), col("item_b"))
      .limit(k)
  }

  /** Classical seasonal DECOMPOSITION of the daily volume series —
    * n(day) = trend + weekday effect + residual, all in exact integer
    * micro-counts: the one table that tells the whole volume story at
    * once where the gates each read one slice ([[olsTrend]] the
    * trend, [[dowProfile]]/[[seasonalVolumeAnomaly]] the weekly
    * shape, [[ewmaChart]]/[[cusumChangePoint]] the residual's jumps).
    * The RESIDUAL series is the right input for any downstream
    * anomaly gate: z-scoring raw counts confounds growth and
    * weekday shape with actual surprises; z-scoring residuals does
    * not. trend = the OLS line ([[olsTrend]]'s exact integer fit),
    * weekday effect = the per-(type, dow) mean of the DETRENDED
    * series (so trend and season are not double-counted), residual =
    * what neither explains.
    *
    * Exactness: trend_micro = intercept + slope·day (integers),
    * detrended = n·10⁶ − trend_micro, dow_micro = Σ detrended div
    * count (trunc toward zero — the x163-verified portable rule, also
    * for negatives), residual = detrended − dow_micro. Types whose
    * grid is a single day (no x-variance — the fit is undefined)
    * report NULL trend/dow/residual, never a crash.
    *
    * Shape: everything after the one event-scale count runs as
    * window aggregates over the |types|·span-bounded dense grid.
    *
    * @return (event_type, day, dow, n, trend_micro, dow_micro,
    *         residual_micro) ordered by (type, day). */
  def seasonalDecomposition(events: DataFrame, epoch: String = "2024-01-01",
                            typeCol: String = "event_type",
                            tsCol: String = "ts"): DataFrame = {
    val dense = dailyCountsDense(events, epoch, typeCol, tsCol)
      .withColumn("dow", pmod(col("day"), lit(7L)))
    val w = Window.partitionBy("t")
    val fit = dense
      .withColumn("d", count(lit(1)).over(w))
      .withColumn("sx", sum("day").over(w))
      .withColumn("sy", sum("n").over(w))
      .withColumn("sxy", sum(col("day") * col("n")).over(w))
      .withColumn("sxx", sum(col("day") * col("day")).over(w))
      .withColumn("__vx", col("d") * col("sxx") - col("sx") * col("sx"))
      .withColumn("__cov", col("d") * col("sxy") - col("sx") * col("sy"))
      .withColumn("__slope",
        when(col("__vx") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            """(cast(__cov as decimal(38,0)) * 1000000)
               div cast(__vx as decimal(38,0))""")))
      .withColumn("__icept",
        when(col("__slope").isNull, lit(null).cast("long"))
          .otherwise(expr(
            """(cast(sy as decimal(38,0)) * 1000000
               - cast(__slope as decimal(38,0)) * cast(sx as decimal(38,0)))
               div cast(d as decimal(38,0))""")))
      .withColumn("trend_micro", col("__icept") + col("__slope") * col("day"))
      .withColumn("__dm", col("n") * lit(1000000L) - col("trend_micro"))
    val wd = Window.partitionBy("t", "dow")
    fit
      // sum skips nulls, so an all-null (degenerate-fit) type yields a
      // NULL dow effect rather than a zero one
      .withColumn("__sdm", sum("__dm").over(wd))
      .withColumn("__cd", count(lit(1)).over(wd))
      .withColumn("dow_micro",
        when(col("__sdm").isNull, lit(null).cast("long"))
          .otherwise(expr("__sdm div __cd")))
      .select(col("t").as(typeCol), col("day"), col("dow"), col("n"),
        col("trend_micro"), col("dow_micro"),
        (col("__dm") - col("dow_micro")).as("residual_micro"))
      .orderBy(typeCol, "day")
  }

  /** Day-of-week-ADJUSTED daily volume anomaly gate — the seasonal
    * fix to [[dailyVolumeAnomaly]]'s one-distribution z-score: weekly
    * traffic shape makes every quiet Sunday a false alarm and hides a
    * genuinely dark Tuesday inside the weekly spread, so each (type,
    * day) count is z-scored against ITS OWN weekday's series —
    * Mondays against Mondays. The weekday index is day-number mod 7
    * (epoch-anchored — engine-portable integer arithmetic, no
    * locale-dependent dayofweek()).
    *
    * Exactness: the [[dailyVolumeAnomaly]] integer formula with the
    * stats window partitioned by (type, dow) instead of type — z =
    * (n·c − Σn)/√(c·Σn² − (Σn)²), one √, one divide, half-up milli
    * floor; constant weekday series pin z to 0. The day grid is
    * DENSIFIED ([[dailyCountsDense]]): a silent day is the anomaly a
    * volume gate exists to catch, so it must appear as n = 0, not
    * vanish from its weekday's distribution.
    *
    * Shape: one event-scale count, then the window runs over the
    * |types|·span dense grid — never raw events.
    *
    * @return (event_type, day, dow, n, z_milli, is_anomaly) ordered. */
  def seasonalVolumeAnomaly(events: DataFrame, epoch: String = "2024-01-01",
                            zMilliBar: Long = 2000L,
                            typeCol: String = "event_type",
                            tsCol: String = "ts"): DataFrame = {
    require(zMilliBar > 0, s"zMilliBar must be positive, got $zMilliBar")
    val dense = dailyCountsDense(events, epoch, typeCol, tsCol)
      .withColumn("dow", pmod(col("day"), lit(7L)))
    val w = Window.partitionBy(col("t"), col("dow"))
    val c  = count(lit(1)).over(w)
    val s1 = sum(col("n")).over(w)
    val s2 = sum(col("n") * col("n")).over(w)
    dense
      .withColumn("__num", col("n") * c - s1)
      .withColumn("__rad", c * s2 - s1 * s1)
      .withColumn("z_milli",
        when(col("__rad") === 0L, lit(0L)).otherwise(
          floor(lit(1000d) * col("__num") /
            sqrt(col("__rad").cast("double")) + lit(0.5d)).cast("long")))
      .select(col("t").as(typeCol), col("day"), col("dow"), col("n"),
        col("z_milli"),
        when(abs(col("z_milli")) >= zMilliBar, lit(1)).otherwise(lit(0))
          .as("is_anomaly"))
      .orderBy(typeCol, "day")
  }

  /** Per-user BURSTINESS: the index of dispersion (Fano factor,
    * var/mean) of a user's daily event counts — the classic
    * bot-vs-human activity-shape signal a per-day anomaly chart
    * ([[ewmaChart]]) cannot see per actor: a steady daily cadence
    * scores ≈ 0 (Poisson ≈ 10⁶ micro = 1.0), a binge-and-silence
    * account scores far above, a metronomic scripted account far
    * below. Only ACTIVE days enter the statistic (the all-days
    * variant is dominated by the zero run-length, which
    * [[rollingActives]] already reads).
    *
    * Exact integer end to end: population variance via the
    * (n·Σc² − (Σc)²)/n² identity, dispersion =
    * (n·Σc² − (Σc)²)·10⁶ div (n·Σc) — DECIMAL(38,0) intermediates
    * (n·Σc² can pass 2⁶³ on ~10⁹-event users), truncation toward
    * zero matching the oracle's `//`. Σc > 0 by construction (an
    * active day has ≥ 1 event), so the division is safe.
    *
    * Scale shape: one (user, day) map-side-combined aggregation, one
    * user-keyed aggregation — both on the user hash layout, nothing
    * quadratic, no windows.
    *
    * @return (user_id, n_days, n_events, dispersion_micro) for users
    *         active ≥ minDays days, ordered by user_id. */
  def dispersionIndex(events: DataFrame, minDays: Int = 3): DataFrame = {
    require(minDays >= 1, s"minDays ($minDays) must be >= 1")
    val daily = events
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .groupBy("user_id", "day").agg(count(lit(1)).as("c"))
    daily.groupBy("user_id")
      .agg(count(lit(1)).as("n_days"), sum("c").as("__s1"),
        // the per-day squares accumulate in DECIMAL too: a ~1e9-event
        // day squares past 2⁶³, and under ANSI a BIGINT Σc² would fail
        // loudly mid-job at exactly the scales the identity exists for
        sum(expr("cast(c as decimal(38,0)) * c")).as("__s2"))
      .filter(col("n_days") >= minDays)
      .select(col("user_id"), col("n_days"), col("__s1").as("n_events"),
        expr("""cast(((cast(n_days as decimal(38,0)) * __s2
                 - cast(__s1 as decimal(38,0)) * __s1) * 1000000)
                div (cast(n_days as decimal(38,0)) * __s1) as bigint)""")
          .as("dispersion_micro"))
      .orderBy("user_id")
  }

  /** Per-user EVENT-TYPE entropy — the activity-DIVERSITY signal that
    * pairs with [[dispersionIndex]]'s activity-SHAPE signal in a bot
    * screen: a scripted actor hammers one endpoint (entropy ≈ 0), a
    * human session mixes types (entropy near ln of the type count).
    * H = ln(n) − (Σ c·ln c)/n over the user's per-type counts c —
    * algebraically Σ −(c/n)·ln(c/n), but in a form where every
    * cross-row accumulation is an INTEGER sum: each type contributes
    * c·⌊ln(c)·10⁶ + ½⌋ micronats (one rounded ln per row, no float
    * Σ-order haze), and the single divide is a truncating div. Exact
    * enough to hash cross-engine, honest to ~|types| µnat rounding.
    *
    * Scale shape: one (user, type) count + one user-keyed map-side-
    * combined aggregation, both on the user hash layout, no windows —
    * the dispersionIndex shape exactly.
    *
    * @return (user_id, n_events, n_types, entropy_micronat) for users
    *         with ≥ minEvents events, ordered by user_id. */
  def eventTypeEntropy(events: DataFrame, minEvents: Long = 5L): DataFrame = {
    require(minEvents >= 1, s"minEvents ($minEvents) must be >= 1")
    val per = events
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      .select(col("user_id"), col("c"),
        (col("c") * floor(log(col("c").cast("double")) * lit(1e6) + lit(0.5d))
          .cast("long")).as("__clc"))
    per.groupBy("user_id")
      .agg(sum("c").as("n_events"), count(lit(1)).as("n_types"),
        sum("__clc").as("__s"))
      .filter(col("n_events") >= minEvents)
      .select(col("user_id"), col("n_events"), col("n_types"),
        (floor(log(col("n_events").cast("double")) * lit(1e6) + lit(0.5d))
          .cast("long") - expr("__s div n_events")).as("entropy_micronat"))
      .orderBy("user_id")
  }

  /** Per-customer purchase-TYPE entropy — [[eventTypeEntropy]]'s
    * diversity signal computed through the star schema: line items
    * join orders for the customer key and the part dimension for the
    * type, then H = ln n − (Σ c·ln c)/n over the customer's per-type
    * counts (the same integer-micronat spelling, one rounded ln per
    * row). Low entropy = a single-category buyer (or a reseller bot
    * hammering one SKU); high = a diverse basket. The behavioral
    * segmentation input [[rfmSegments]]' spend tiers cannot see — two
    * tier-5 customers can be a one-SKU wholesaler and a marketplace
    * generalist.
    *
    * Shape: one fact-fact equi-join on the order key (co-partitioned
    * at scale — never broadcast), the part DIMENSION broadcast, one
    * (cust, type) map-side-combined count, one cust rollup.
    *
    * @return (cust, n_items, n_types, entropy_micronat) for customers
    *         with ≥ minItems line items, ordered by cust. */
  def basketTypeEntropy(lineitem: DataFrame, orders: DataFrame,
                        part: DataFrame, minItems: Long = 3L): DataFrame = {
    require(minItems >= 1, s"minItems ($minItems) must be >= 1")
    val per = lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(orders.select(col("o_orderkey").as("l_orderkey"),
        col("o_custkey").as("cust")), Seq("l_orderkey"))
      .join(broadcast(part.select(col("p_partkey").as("l_partkey"),
        col("p_type").as("__t"))), Seq("l_partkey"))
      .filter(col("cust").isNotNull && col("__t").isNotNull)
      .groupBy("cust", "__t").agg(count(lit(1)).as("c"))
    per
      .select(col("cust"), col("c"),
        (col("c") * floor(log(col("c").cast("double")) * lit(1e6)
          + lit(0.5d)).cast("long")).as("__clc"))
      .groupBy("cust")
      .agg(sum("c").as("n_items"), count(lit(1)).as("n_types"),
        sum("__clc").as("__s"))
      .filter(col("n_items") >= minItems)
      .select(col("cust"), col("n_items"), col("n_types"),
        (floor(log(col("n_items").cast("double")) * lit(1e6) + lit(0.5d))
          .cast("long") - expr("__s div n_items")).as("entropy_micronat"))
      .orderBy("cust")
  }

  /** Spend-tier MIGRATION matrix — where [[rfmSegments]] scores
    * customers ONCE, this scores them in two adjacent periods and
    * crosses the results: per (tier_before, tier_after) cell, how many
    * customers moved. Tiers are the same exact quintile discipline
    * (cumulative-histogram thresholds on the DISTINCT-value weight
    * table, score = 1 + #thresholds strictly exceeded); customers
    * absent from a period take tier 0 — so row 0/* is acquisition,
    * */0 is churn, and the diagonal is retention, all in one ≤36-row
    * matrix. The read that turns two RFM snapshots into a retention
    * decision ("our top tier churns at X‰").
    *
    * Shape: two customer-keyed cents aggregations (one per period),
    * each scored against four broadcast 1-row threshold scalars, one
    * full-outer id-keyed join, one bounded rollup. The only windows
    * run over the distinct-value tables (bounded by |distinct spend
    * values|, never raw rows).
    *
    * @return (tier_before, tier_after, n_customers) ordered by
    *         tier_before, tier_after. */
  def spendTierMigration(orders: DataFrame, custCol: String,
                         tsCol: String, amountCents: Column,
                         boundaryDate: String): DataFrame = {
    def half(pred: Column): DataFrame = orders.filter(pred)
      .groupBy(col(custCol).as("cust")).agg(sum(amountCents).as("__m"))
    def tiers(h: DataFrame): DataFrame = {
      val w = Window.orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val vals = h.groupBy(col("__m").as("__v")).agg(count(lit(1)).as("__w"))
      val tot = vals.agg(sum("__w").as("__tot"))
      val qs = vals.crossJoin(broadcast(tot))
        .withColumn("__cum", sum("__w").over(w))
        .agg(min(when(col("__cum") * 5 >= col("__tot"), col("__v"))).as("q1"),
          min(when(col("__cum") * 5 >= col("__tot") * 2, col("__v"))).as("q2"),
          min(when(col("__cum") * 5 >= col("__tot") * 3, col("__v"))).as("q3"),
          min(when(col("__cum") * 5 >= col("__tot") * 4, col("__v"))).as("q4"))
      h.crossJoin(broadcast(qs))
        .select(col("cust"),
          (lit(1L) + when(col("__m") > col("q1"), 1L).otherwise(0L)
            + when(col("__m") > col("q2"), 1L).otherwise(0L)
            + when(col("__m") > col("q3"), 1L).otherwise(0L)
            + when(col("__m") > col("q4"), 1L).otherwise(0L)).as("__t"))
    }
    val boundary = lit(boundaryDate).cast("date")
    val before = tiers(half(to_date(col(tsCol)) < boundary))
      .select(col("cust"), col("__t").as("__tb"))
    val after = tiers(half(to_date(col(tsCol)) >= boundary))
      .select(col("cust"), col("__t").as("__ta"))
    before.join(after, Seq("cust"), "full_outer")
      .groupBy(coalesce(col("__tb"), lit(0L)).as("tier_before"),
        coalesce(col("__ta"), lit(0L)).as("tier_after"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("tier_before", "tier_after")
  }

  /** Score-band lift table — the marketing/model-eval lift read: per
    * score band (here an integer banding of the score column), the
    * outcome rate and its lift against the global rate, exact milli.
    * Lift > 1000 in the top bands is the "the score actually ranks"
    * certificate; a flat table says the score is noise — the
    * aggregate complement to x224's exact ROC-AUC (AUC is one number,
    * the lift table says WHERE the ranking earns it). Banding (not
    * ntile) keeps it scale-safe and tie-deterministic: band aggs
    * map-side combine, no global rank window over raw rows.
    *
    * @param scored   (key, band) rows — one per entity.
    * @param positive keys with a positive outcome (dedup'd here).
    * @return (band, n_total, n_positive, rate_ppm, lift_milli),
    *         ordered by band; lift NULL when no positives exist. */
  def liftTable(scored: DataFrame, positive: DataFrame,
                keyCol: String, bandCol: String): DataFrame = {
    val pos = positive.select(col(keyCol)).distinct()
      .withColumn("__p", lit(1L))
    val per = scored.select(col(keyCol), col(bandCol).as("band"))
      .join(pos, Seq(keyCol), "left")
      .groupBy("band")
      .agg(count(lit(1)).as("n_total"),
        sum(coalesce(col("__p"), lit(0L))).as("n_positive"))
    per.crossJoin(broadcast(per.agg(sum("n_total").as("__tt"),
        sum("n_positive").as("__tp"))))
      .select(col("band"), col("n_total"), col("n_positive"),
        expr("(n_positive * 1000000) div n_total").as("rate_ppm"),
        expr("""case when __tp = 0 then null
             else (cast(n_positive as decimal(38,0)) * __tt * 1000)
               div (cast(n_total as decimal(38,0)) * __tp) end""")
          .as("lift_milli"))
      .orderBy("band")
  }

  /** Daily top-k churn — how stable the head of the activity
    * distribution is day over day: per day, how many of the k most
    * active users were ALSO in the previous day's top k, and the churn
    * share. A stable head is organic heavy usage; a fully-churning
    * head is bursty campaigns or bot rotation — the rank-stability
    * complement to x122's rolling actives (volume) and x136's streaks
    * (per-user persistence). Ties break (count DESC, user_id ASC),
    * the replayable convention.
    *
    * "Previous day" is the previous OBSERVED day throughout: a row is
    * emitted when a preceding day with events exists, and carry-over
    * compares against that same day's top k (NOT calendar adjacency —
    * the r13 form required `datediff = 1` for carry while emitting
    * rows off the lag, so the first day after a calendar gap read
    * churn = 1000 even when the identical users returned).
    *
    * One (day, user) count, a per-day rank window on that bounded
    * table, then the carry-over join is user-keyed between two ≤k·days
    * row tables routed through the ≤days-row (day → prev) map; the day
    * grid's lag window is over the ≤days-row summary (the repo's
    * bounded-table window discipline).
    *
    * @return (day, n_top, n_carry, churn_permille), one row per day
    *         with a preceding observed day, ordered by day. */
  def topkChurn(events: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    val daily = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("ts").cast("date").as("day"), col("user_id"))
      .agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy("day")
      .orderBy(col("__n").desc, col("user_id"))
    val top = daily.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).select("day", "user_id")
    val days = top.groupBy("day").agg(count(lit(1)).as("n_top"))
    val wd = Window.orderBy("day")
    val withPrev = days.withColumn("__prev", lag("day", 1).over(wd))
      .filter(col("__prev").isNotNull)
    val prevMap = withPrev.select(col("day").as("__d"), col("__prev"))
    val carry = top.as("b")
      .join(prevMap, col("b.day") === col("__d"))
      .join(top.as("a"), col("a.day") === col("__prev")
        && col("a.user_id") === col("b.user_id"))
      .groupBy(col("b.day").as("day"))
      .agg(count(lit(1)).as("__c"))
    withPrev.join(carry, Seq("day"), "left")
      .select(col("day"), col("n_top"),
        coalesce(col("__c"), lit(0L)).as("n_carry"),
        expr("1000 - (coalesce(__c, 0) * 1000) div n_top")
          .as("churn_permille"))
      .orderBy("day")
  }
}

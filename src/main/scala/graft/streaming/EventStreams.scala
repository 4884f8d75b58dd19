package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.3 streaming rows): the
  * reference's incremental generator pipeline (etl_connector.py:88-127
  * feeding the micro-batched loop at :219-237) re-expressed as
  * readStream → transforms → writeStream.
  *
  * Everything here takes an unbounded Dataset (from readStream or
  * MemoryStream in tests) and returns the transformed streaming
  * DataFrame; callers pick the sink/trigger. At scale these run with
  * state in RocksDB-backed stores partitioned by key — no driver
  * state.
  */
object EventStreams {

  /** Tumbling event-time window with watermark: counts per
    * (window, event_type); late rows beyond the watermark are dropped
    * (SURVEY §2.3 "Streaming windows"). */
  def tumblingCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Sliding window variant. */
  def slidingCounts(events: DataFrame, windowLen: String = "1 hour",
                    slide: String = "15 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Session window: gap-based sessionization per user. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))

  /** Streaming PSI drift gate — the per-window form of
    * [[graft.operators.Profiling.psiDrift]]: each tumbling window's
    * value distribution is binned with the same clamped integer rule
    * and scored against a STATIC reference histogram (counts per bin,
    * e.g. from a batch [[graft.operators.Profiling.histogram]] over
    * the training corpus), add-one smoothed on both sides. Emits one
    * row per closed window; alert on psi_micronats > 100000 (the 0.1
    * rule of thumb) to catch an upstream schema/behavior change while
    * the data is still in flight rather than at the next batch audit.
    *
    * ONE streaming aggregation: the histogram is |bins| conditional
    * counts inside a single windowed agg (no chained stateful
    * operators, no second shuffle), and the PSI projection is
    * row-local arithmetic over that one row with the reference baked
    * in as plan literals. State per window = |bins| longs.
    *
    * @param reference counts per bin, length = nbins (values ≥ 0,
    *                  sum > 0); bins follow [lo, hi) clamped. */
  def psiDriftStream(events: DataFrame, valueCol: String,
                     lo: Long, hi: Long, reference: Seq[Long],
                     windowLen: String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame = {
    val nbins = reference.size
    require(nbins >= 1 && nbins <= 1024, s"reference has $nbins bins (1..1024)")
    require(hi > lo, s"hi ($hi) must be > lo ($lo)")
    require(reference.forall(_ >= 0) && reference.sum > 0,
      "reference histogram must be non-negative with positive mass")
    val bin = least(greatest(
      expr(s"(CAST($valueCol AS BIGINT) - ${lo}L) * ${nbins}L div ${hi - lo}L"),
      lit(0L)), lit(nbins - 1L))
    val binCounts = (0 until nbins).map(i =>
      sum(when(bin === i.toLong, 1L).otherwise(0L)).as(s"c$i"))
    val agg = events.withWatermark("ts", watermark)
      .filter(col(valueCol).isNotNull)
      .groupBy(window(col("ts"), windowLen))
      .agg(binCounts.head, binCounts.tail: _*)
    val k = lit(nbins.toLong)
    val n = (0 until nbins).map(i => col(s"c$i")).reduce(_ + _)
    val refTot = reference.sum
    val psi = (0 until nbins).map { i =>
      val p = lit((reference(i) + 1.0) / (refTot + nbins))
      val q = (col(s"c$i") + lit(1L)) / (n + k)
      (p - q) * log(
        (lit((reference(i) + 1).toDouble) * (n + k).cast("double")) /
        ((col(s"c$i") + lit(1L)).cast("double") * lit((refTot + nbins).toDouble)))
    }.reduce(_ + _)
    agg.select(col("window.start").as("window_start"),
      col("window.end").as("window_end"),
      n.as("n_events"),
      floor(psi * lit(1e6) + lit(0.5)).cast("long").as("psi_micronats"))
  }

  /** Stream-stream event-time INTERVAL join (e.g. impressions ⋈
    * clicks): equi key + a bounded time range, the canonical
    * streaming-join shape. The interval condition is what lets BOTH
    * sides' state stores purge as the watermarks advance — an
    * unconstrained stream-stream join would buffer unbounded state.
    * Emits one row per (left event, right event within
    * [left.ts, left.ts + within]) pair on the same key. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   key: String = "user_id",
                   within: String = "5 minutes",
                   watermark: String = "10 minutes"): DataFrame =
    intervalJoinImpl(left, right, key, within, watermark, "inner")

  /** LEFT-OUTER stream-stream interval join — the other half of the
    * canonical streaming-join surface: matched pairs emit exactly as
    * [[intervalJoin]] (one shared implementation, so the two forms
    * cannot drift), and a left event with NO right match emits ONCE
    * with null right columns, but only after the right-side watermark
    * passes the end of its match window [l_ts, l_ts + within] — before
    * that, a match could still arrive, so the row must be held in
    * state (Spark's standard outer stream-join semantics: null-padded
    * rows are emitted on state eviction, which is what bounds the
    * join's state at scale). Funnel analysis is the canonical use:
    * impressions with no click within the window. */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame,
                            key: String = "user_id",
                            within: String = "5 minutes",
                            watermark: String = "10 minutes"): DataFrame =
    intervalJoinImpl(left, right, key, within, watermark, "leftOuter")

  private def intervalJoinImpl(left: DataFrame, right: DataFrame, key: String,
                               within: String, watermark: String,
                               joinType: String): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(key).as("l_key"), col("ts").as("l_ts"), col("event_id").as("l_id"))
    val r = right.withWatermark("ts", watermark)
      .select(col(key).as("r_key"), col("ts").as("r_ts"), col("event_id").as("r_id"))
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"),
      joinType)
      .select(col("l_key").as(key), col("l_id"), col("r_id"), col("l_ts"), col("r_ts"))
  }

  /** Streaming dedup against a HISTORICAL fingerprint store — the
    * incremental-ingest twin of batch exact dedup: new documents whose
    * content fingerprint already exists in the accumulated corpus are
    * dropped before they ever reach the sink. A stream-static LEFT
    * ANTI join: the static side is the fingerprint table (16-byte md5
    * per historical doc — at scale a bucketed table on `fp`, so the
    * join is Exchange-free on re-read; the stream side is a narrow
    * md5 map). The static side re-executes per micro-batch under
    * normal batch-read rules — a growing store (each batch appends
    * its survivors) is picked up across batches when read through a
    * snapshot-refreshing source (catalog table + refresh, or a
    * transactional format); a plain path-based parquet read caches
    * its file listing at plan time. In-stream duplicates within one
    * batch are NOT collapsed here (that is [[dedupWithinWatermark]]'s
    * job); this operator answers "is it already in the corpus". */
  def dedupAgainstHistory(docs: DataFrame, historyFps: DataFrame): DataFrame =
    // the fingerprint is internal plumbing — dropped so the output
    // schema is exactly the input's (same contract as the batch twin
    // Dedup.newAgainstBase; sinks with strict schemas rely on it)
    docs.withColumn("__fp", md5(col("text")))
      .join(historyFps.select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
      .drop("__fp")

  /** Stateful streaming dedup on event_id within the watermark — the
    * streaming twin of the reference's key-upsert (R18): the first
    * arrival wins within the state horizon, duplicates are dropped
    * (SURVEY §2.3 "Stateful dedup / late data"). */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming volume-anomaly gate — the in-flight twin of
    * `Behavior.dailyVolumeAnomaly` (that one z-scores a batch log
    * after the fact; this one flags the CURRENT window as its
    * watermark closes, which is when a feed going dark is worth an
    * alert). Per (event_type, window): the event count z-scored
    * against reference per-window stats baked in as plan literals —
    * ONE windowed streaming aggregation, the z projection row-local,
    * state per key = one count. References come from the batch
    * operator's own output over history (mean/σ per type), closing
    * the batch→stream loop the same way `psiDriftStream` reuses
    * `Profiling.psiDrift`'s histogram.
    *
    * @param reference (event_type → (mean, sigma)) expected per-window
    *        volume; unseen types flag with z pinned via sigma
    *        guard (zero sigma → z 0, matching the batch rule)
    */
  def volumeAnomalyStream(events: DataFrame,
                          reference: Map[String, (Double, Double)],
                          zMilliBar: Long = 2000L,
                          windowLen: String = "1 hour",
                          watermark: String = "10 minutes"): DataFrame = {
    require(reference.nonEmpty, "reference stats must be non-empty")
    require(reference.values.forall(_._2 >= 0), "sigma must be >= 0")
    require(zMilliBar > 0, s"zMilliBar must be positive, got $zMilliBar")
    val mean = reference.foldLeft(lit(Double.NaN)) {
      case (acc, (ty, (m, _))) => when(col("event_type") === ty, lit(m)).otherwise(acc)
    }
    val sigma = reference.foldLeft(lit(0d)) {
      case (acc, (ty, (_, s))) => when(col("event_type") === ty, lit(s)).otherwise(acc)
    }
    val agg = events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val z = when(sigma === 0d || isnan(mean), lit(0L)).otherwise(
      floor((col("n") - mean) / sigma * lit(1000d) + lit(0.5d)).cast("long"))
    agg.select(col("window.start").as("window_start"),
      col("event_type"), col("n"), z.as("z_milli"),
      when(abs(z) >= zMilliBar, lit(1)).otherwise(lit(0)).as("is_anomaly"))
  }

  /** Streaming DAY-OF-WEEK-adjusted volume gate — the in-flight twin
    * of `Behavior.seasonalVolumeAnomaly`, closing the same batch→
    * stream loop as [[volumeAnomalyStream]]: reference (mean, σ) per
    * (event_type, weekday) comes from the batch operator's own
    * history, and each CLOSED day window z-scores against ITS
    * weekday's stats — so a quiet Sunday doesn't page and a dark
    * Tuesday does, while the data is still in flight. The weekday is
    * the same epoch-anchored day%7 as the batch form (no locale
    * dayofweek), so the two can never disagree on which reference row
    * applies.
    *
    * ONE windowed streaming aggregation (fixed 1-day windows, state
    * per key = one count); day/dow/z are row-local projections with
    * the reference baked in as plan literals. Types or weekdays
    * without reference stats pin z to 0 (the batch zero-σ rule).
    *
    * @param reference ((event_type, dow) → (mean, sigma)) expected
    *        per-day volume per weekday. */
  def seasonalAnomalyStream(events: DataFrame,
                            reference: Map[(String, Long), (Double, Double)],
                            zMilliBar: Long = 2000L,
                            epoch: String = "2024-01-01",
                            watermark: String = "10 minutes"): DataFrame = {
    require(reference.nonEmpty, "reference stats must be non-empty")
    require(reference.values.forall(_._2 >= 0), "sigma must be >= 0")
    require(reference.keys.forall { case (_, d) => d >= 0 && d < 7 },
      "dow keys must be in [0, 7)")
    require(zMilliBar > 0, s"zMilliBar must be positive, got $zMilliBar")
    val agg = events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("day",
        datediff(to_date(col("window.start")), to_date(lit(epoch)))
          .cast("long"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
    val mean = reference.foldLeft(lit(Double.NaN)) {
      case (acc, ((ty, dw), (m, _))) =>
        when(col("event_type") === ty && col("dow") === dw, lit(m))
          .otherwise(acc)
    }
    val sigma = reference.foldLeft(lit(0d)) {
      case (acc, ((ty, dw), (_, s))) =>
        when(col("event_type") === ty && col("dow") === dw, lit(s))
          .otherwise(acc)
    }
    val z = when(sigma === 0d || isnan(mean), lit(0L)).otherwise(
      floor((col("n") - mean) / sigma * lit(1000d) + lit(0.5d)).cast("long"))
    agg.select(col("window.start").as("window_start"),
      col("event_type"), col("day"), col("dow"), col("n"),
      z.as("z_milli"),
      when(abs(z) >= zMilliBar, lit(1)).otherwise(lit(0)).as("is_anomaly"))
  }

  /** Streaming burst debounce — the in-flight twin of
    * `Behavior.debounce`: per (user, event_type) key, an event is
    * flagged suppressed when it follows the previously-seen event of
    * the same key by ≤ gapNs (keep-first-of-burst, the SAME lag rule
    * as the batch form so the two cannot diverge on in-order input —
    * spec-asserted). State per key is ONE long (the last-seen ts);
    * within a micro-batch events fold in (ts_ns, event_id) order so
    * equal-timestamp determinism matches the batch window's.
    *
    * No timeout by design here (keys = user×type, state is 8 bytes);
    * the production variant adds EventTimeTimeout eviction exactly as
    * `sessionizeWithTimeout` does when the key space is unbounded. */
  case class TypedEvent(user_id: Long, event_type: String, event_id: Long,
                        ts_ns: Long)
  case class DebounceOut(event_id: Long, user_id: Long, event_type: String,
                         suppressed: Int)
  def debounceStream(events: Dataset[TypedEvent], gapNs: Long): Dataset[DebounceOut] = {
    import events.sparkSession.implicits._
    require(gapNs > 0, s"gapNs must be positive, got $gapNs")
    events.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Long, DebounceOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Long, String), batch: Iterator[TypedEvent], state: GroupState[Long]) =>
          var last: Option[Long] = state.getOption
          val out = batch.toSeq.sortBy(e => (e.ts_ns, e.event_id)).map { e =>
            val hit = last.exists(l => e.ts_ns - l <= gapNs)
            last = Some(e.ts_ns)
            DebounceOut(e.event_id, e.user_id, e.event_type, if (hit) 1 else 0)
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  case class ValueEvent(user_id: Long, event_id: Long, ts_ns: Long,
                        v_cents: Long)
  case class RollingMedianOut(event_id: Long, user_id: Long,
                              n_window: Long, med_cents: Long)

  /** Streaming ROLLING MEDIAN — the in-flight twin of
    * [[graft.operators.Sessions.rollingMedian]]: per user, the lower
    * median of the last `window` values in (ts_ns, event_id) order.
    * State per user is at most `window − 1` longs (the open frame's
    * tail); within a micro-batch events fold in (ts_ns, event_id)
    * order, so on IN-ORDER input the stream is row-for-row the batch
    * window — the debounceStream equivalence contract, spec-asserted.
    *
    * No timeout by design at this key cardinality; the production
    * variant adds EventTimeTimeout eviction exactly as the other
    * per-user states do when the key space is unbounded. */
  def rollingMedianStream(events: Dataset[ValueEvent],
                          window: Int = 9): Dataset[RollingMedianOut] = {
    import events.sparkSession.implicits._
    require(window >= 1, s"window ($window) must be >= 1")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[Long], RollingMedianOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, batch: Iterator[ValueEvent], state: GroupState[Seq[Long]]) =>
          var tail: Seq[Long] = state.getOption.getOrElse(Seq.empty)
          val out = batch.toSeq.sortBy(e => (e.ts_ns, e.event_id)).map { e =>
            val frame = (tail :+ e.v_cents).takeRight(window)
            val med = frame.sorted.apply((frame.size + 1) / 2 - 1)
            tail = frame.takeRight(window - 1)
            RollingMedianOut(e.event_id, user, frame.size.toLong, med)
          }
          state.update(tail)
          out.iterator
      }
  }

  /** Streaming QUANTILE GATE — the in-flight face of the x303/x308
    * histogram-quantile family: per event-time window, a fixed-grid
    * value histogram held as |bins| conditional counts inside ONE
    * windowed aggregation (the [[psiDriftStream]] shape — no chained
    * stateful operators), then the permille rank is picked ROW-LOCALLY
    * from those counts and compared against the alert bar. "p95 spend
    * above $X this hour" while the data is in flight; the batch twin
    * is the same histogram read by [[graft.operators.Incremental
    * .paneSlidingQuantile]] at windowPanes = 1. State per open window
    * = nBins longs.
    *
    * Bins are floor(cents / binWidth) clamped to [0, nBins) — the top
    * bin is open, matching the batch grid on in-range values
    * (spec-asserted on the shared range).
    *
    * @return (window_start, window_end, n_events, bin, lo_value,
    *         breach) — one row per closed window with data. */
  def quantileGateStream(events: DataFrame, binWidth: Long, nBins: Int,
                         permille: Int, barLoValue: Long,
                         windowLen: String = "1 hour",
                         watermark: String = "10 minutes"): DataFrame = {
    require(binWidth >= 1L, s"binWidth ($binWidth) must be >= 1")
    require(nBins >= 1 && nBins <= 1024, s"nBins ($nBins) must be in [1, 1024]")
    require(permille >= 1 && permille <= 1000,
      s"permille ($permille) must be in [1, 1000]")
    val bin = least(greatest(
      expr(s"CAST(FLOOR(value * 100 + 0.5) AS BIGINT) div ${binWidth}L"),
      lit(0L)), lit(nBins - 1L))
    val binCounts = (0 until nBins).map(i =>
      sum(when(bin === i.toLong, 1L).otherwise(0L)).as(s"c$i"))
    events.withWatermark("ts", watermark)
      .filter(col("value").isNotNull)
      .groupBy(window(col("ts"), windowLen))
      .agg(binCounts.head, binCounts.tail: _*)
      .withColumn("n_events",
        (0 until nBins).map(i => col(s"c$i")).reduce(_ + _))
      .withColumn("__rank", greatest(lit(1L),
        expr(s"(n_events * ${permille}L + 999) div 1000")))
      .withColumn("__bins", array((0 until nBins).map(i => col(s"c$i")): _*))
      .withColumn("bin", expr(s"filter(transform(sequence(0, ${nBins - 1}), " +
        "i -> named_struct('i', CAST(i AS BIGINT), " +
        "'cum', aggregate(slice(__bins, 1, CAST(i + 1 AS INT)), 0L, " +
        "(a, x) -> a + x))), s -> s.cum >= __rank)[0].i"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_events"), col("bin"),
        (col("bin") * lit(binWidth)).as("lo_value"),
        when(col("bin") * lit(binWidth) > barLoValue, lit(1))
          .otherwise(lit(0)).as("breach"))
  }

  case class GapBucketOut(event_id: Long, user_id: Long,
                          event_type: String, bucket: Int)

  /** The x226 gap ladder at ns precision — ONE spelling shared by the
    * streaming twin and its spec (the batch profiler's CASE ladder is
    * this × 1000 ns/µs; event timestamps are µs-aligned, so the two
    * bucketings agree exactly). Bucket 6 is the open top. */
  private[graft] def gapBucketNs(gapNs: Long): Int =
    if (gapNs <= 1000000000L) 0            // ≤ 1 s
    else if (gapNs <= 10000000000L) 1      // ≤ 10 s
    else if (gapNs <= 60000000000L) 2      // ≤ 1 min
    else if (gapNs <= 600000000000L) 3     // ≤ 10 min
    else if (gapNs <= 3600000000000L) 4    // ≤ 1 h
    else if (gapNs <= 86400000000000L) 5   // ≤ 1 d
    else 6

  /** Streaming duplicate re-arrival bucketing — the IN-FLIGHT twin of
    * [[graft.operators.Sessions.dupArrivalProfile]] (x226): the batch
    * profiler MEASURES the re-delivery gap ladder so an operator can
    * size a dedup window; this stream watches the same ladder live, so
    * the sizing decision stays honest as the feed drifts (a growing
    * bucket-6 share means re-deliveries now arrive outside any
    * affordable state TTL — a pipeline alarm, not a tuning knob).
    * Every arrival emits its gap bucket against the SAME (user, type)
    * identity; a first arrival emits −1 (no gap — the batch profiler
    * drops these rows, the spec does too before comparing). State per
    * identity is ONE long (last-seen ts_ns).
    *
    * Cross-batch correctness is the [[debounceStream]] contract: the
    * per-batch iterator sorts on (ts_ns, event_id) and the last-seen
    * timestamp carries across micro-batches, so the emitted gap
    * multiset equals the batch window's regardless of micro-batching
    * (spec-asserted ≡ on the same closed corpus). */
  def dupArrivalStream(events: Dataset[TypedEvent]): Dataset[GapBucketOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Long, GapBucketOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Long, String), batch: Iterator[TypedEvent], state: GroupState[Long]) =>
          var last: Option[Long] = state.getOption
          val out = batch.toSeq.sortBy(e => (e.ts_ns, e.event_id)).map { e =>
            val b = last.map(l => gapBucketNs(e.ts_ns - l)).getOrElse(-1)
            last = Some(e.ts_ns)
            GapBucketOut(e.event_id, e.user_id, e.event_type, b)
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  case class BackstepOut(event_id: Long, user_id: Long, backstep_us: Long)

  /** Streaming arrival-order integrity — the IN-FLIGHT twin of
    * [[graft.operators.Sessions.arrivalIntegrity]] (x242): the batch
    * audit measures producer-sequence disorder after the fact; this
    * watches it live, per event, so a watermark/sessionize deployment
    * learns the moment a feed starts delivering out of order instead
    * of at the nightly audit. Each event is compared against the
    * PREVIOUS event of the same user in producer order (event_id —
    * the per-batch iterator sorts on it and the last-seen timestamp
    * carries across micro-batches): a timestamp stepping backward
    * emits its backstep in µs; in-order events and a user's first
    * event emit −1 (the batch audit's NULL, kept as a sentinel so the
    * output stays append-only and fixed-width). State per user is ONE
    * long.
    *
    * Spec-asserted ≡: per-user rollup of the emitted backsteps equals
    * [[graft.operators.Sessions.arrivalIntegrity]] on the same closed
    * corpus, across micro-batch splits. */
  def arrivalIntegrityStream(events: Dataset[TypedEvent]): Dataset[BackstepOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, BackstepOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, batch: Iterator[TypedEvent], state: GroupState[Long]) =>
          var last: Option[Long] = state.getOption
          val out = batch.toSeq.sortBy(_.event_id).map { e =>
            val b = last.collect {
              case l if e.ts_ns < l => (l - e.ts_ns) / 1000L
            }.getOrElse(-1L)
            last = Some(e.ts_ns)
            BackstepOut(e.event_id, e.user_id, b)
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  case class LatenessOut(event_id: Long, user_id: Long, late_us: Long)

  /** Streaming lateness tagger — the in-flight twin of
    * [[graft.operators.Sessions.watermarkCurve]]'s per-event lateness:
    * each event is tagged with how far it arrived behind its key's
    * event-time HIGH-WATER MARK (µs; 0 = in order or first), so the
    * watermark drop curve the batch operator prices nightly is
    * observable live — route the tagged events through any threshold
    * ladder and the deployment sees what a candidate delay is dropping
    * AS the feed degrades, not at the next audit. State per user is
    * one long (the running max); the per-batch iterator sorts on
    * event_id (producer order, the x242 convention) and the mark
    * carries across micro-batches — spec-asserted ≡ the batch curve on
    * the same closed corpus. */
  def latenessStream(events: Dataset[TypedEvent]): Dataset[LatenessOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, LatenessOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, batch: Iterator[TypedEvent], state: GroupState[Long]) =>
          var hwm: Option[Long] = state.getOption
          val out = batch.toSeq.sortBy(_.event_id).map { e =>
            val late = hwm.map(h => math.max(h - e.ts_ns, 0L) / 1000L)
              .getOrElse(0L)
            hwm = Some(hwm.fold(e.ts_ns)(math.max(_, e.ts_ns)))
            LatenessOut(e.event_id, e.user_id, late)
          }
          hwm.foreach(state.update)
          out.iterator
      }
  }

  case class NewReturningOut(event_id: Long, user_id: Long, is_new: Int)

  /** Streaming new-vs-returning classification — the in-flight twin
    * of `Behavior.newVsReturning`, at EVENT granularity: the first
    * event a user EVER produces is tagged new, everything after (in
    * (ts, event_id) order within and across micro-batches) returning.
    * State per user is a single boolean (8 bytes of framing) — the
    * cheapest useful `flatMapGroupsWithState` there is, and the tag a
    * router uses to fork onboarding traffic in-flight instead of
    * waiting for the nightly batch decomposition.
    *
    * Cross-batch correctness is the [[debounceStream]] contract: the
    * per-batch iterator sorts on (ts_ns, event_id) and the seen flag
    * carries across batches, so the tagging equals the batch
    * first-event rule regardless of how the stream is micro-batched
    * (spec-asserted). */
  def newVsReturningStream(events: Dataset[TypedEvent]): Dataset[NewReturningOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Boolean, NewReturningOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, batch: Iterator[TypedEvent], state: GroupState[Boolean]) =>
          var seen = state.getOption.getOrElse(false)
          val out = batch.toSeq.sortBy(e => (e.ts_ns, e.event_id)).map { e =>
            val isNew = !seen
            seen = true
            NewReturningOut(e.event_id, e.user_id, if (isNew) 1 else 0)
          }
          state.update(seen)
          out.iterator
      }
  }

  /** Per-user running aggregate via arbitrary state
    * (mapGroupsWithState): running count + cents-sum per user across
    * micro-batches (SURVEY §2.3 "Arbitrary state"). Event-time ordering
    * within state is not assumed — the fold is order-insensitive. */
  case class UserEvent(user_id: Long, event_id: Long, value: Double)
  case class UserTotals(user_id: Long, events: Long, value_cents: Long)

  /** One event's contribution to the running totals — the single copy
    * of the cents-rounding rule, shared by the classic fold and the
    * StatefulProcessor so their spec-asserted equivalence cannot
    * drift. */
  private def totalsStep(user: Long)(acc: UserTotals, e: UserEvent): UserTotals =
    UserTotals(user, acc.events + 1,
      acc.value_cents + math.floor(e.value * 100 + 0.5).toLong)

  private val foldTotals =
    (user: Long, batch: Iterator[UserEvent], state: GroupState[UserTotals]) => {
      val prev = state.getOption.getOrElse(UserTotals(user, 0L, 0L))
      val next = batch.foldLeft(prev)(totalsStep(user))
      state.update(next)
      next
    }

  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](GroupStateTimeout.NoTimeout)(foldTotals)
  }

  /** [[runningUserTotals]] seeded from a prior snapshot — the
    * batch-to-stream handoff: totals computed offline (or read back
    * from the previous run's sink) become the INITIAL state, so the
    * stream resumes counting where the snapshot left off instead of
    * restarting from zero. Keys absent from the snapshot start fresh;
    * snapshot keys with no live events keep their seeded totals in
    * state and EMIT NOTHING until traffic arrives (hence the flatMap
    * form — the map form must return a row per seeded group, echoing
    * the whole snapshot into the first micro-batch's output).
    *
    * Duplicate snapshot keys (an Update-mode sink emits one row per
    * key per micro-batch, so re-reading one yields several versions)
    * are resolved latest-wins before seeding — Spark refuses
    * multi-row initial state per key outright. "Latest" = highest
    * event count (totals only grow), cents as tiebreak. */
  def runningUserTotalsFrom(events: Dataset[UserEvent],
                            snapshot: Dataset[UserTotals]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    val latest = snapshot.groupByKey(_.user_id)
      .reduceGroups((a, b) =>
        if (a.events > b.events ||
          (a.events == b.events && a.value_cents >= b.value_cents)) a else b)
      .map(_._2)
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserTotals, UserTotals](
        OutputMode.Update(), GroupStateTimeout.NoTimeout,
        latest.groupByKey(_.user_id)) {
        (user: Long, batch: Iterator[UserEvent], state: GroupState[UserTotals]) =>
          if (!batch.hasNext) Iterator.empty // seeded key, no traffic yet
          else Iterator.single(foldTotals(user, batch, state))
      }
  }

  /** [[runningUserTotals]] on the transformWithState API (Spark 4's
    * StatefulProcessor): named state cells via the handle, explicit
    * TimeMode/OutputMode at declaration, per-cell TTL support — the
    * successor surface to mapGroupsWithState. Requires the RocksDB
    * state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`); same fold, same results as
    * the classic form (spec-asserted). */
  class TotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserTotals] {
    @transient private var totals:
      org.apache.spark.sql.streaming.ValueState[UserTotals] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[UserTotals]("totals",
        org.apache.spark.sql.Encoders.product[UserTotals],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                                 timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserTotals] = {
      val prev = Option(totals.get()).getOrElse(UserTotals(key, 0L, 0L))
      val next = rows.foldLeft(prev)(totalsStep(key))
      totals.update(next)
      Iterator.single(next)
    }
  }

  def runningUserTotalsTws(events: Dataset[UserEvent]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** Session assembly via flatMapGroupsWithState: emits a row per
    * CLOSED session (gap exceeded) and keeps the open session in
    * state — the generator-style arbitrary-state API (0..n outputs per
    * group per batch), complementing [[runningUserTotals]]'s 1-output
    * mapGroups form. NOTE: uses NoTimeout, so an idle user's open
    * session stays in state until their next event; production would
    * add EventTimeTimeout over a watermarked timestamp column to flush
    * idle sessions and bound state size. */
  case class SessionOut(user_id: Long, events: Long, start_ms: Long, end_ms: Long)
  // public: ExpressionEncoder codegen needs accessible accessors
  case class OpenSession(events: Long, startMs: Long, lastMs: Long)

  /** One sorted pass of gap sessionization over a micro-batch — the
    * single shared copy for [[sessionize]] and [[sessionizeWithTimeout]]
    * (their earlier private copies had already drifted a bug apiece).
    * An event merges into the open session iff it lies within
    * [start − gap, last + gap]:
    *  - past last + gap → the open session closes, a new one opens
    *    (the classic rule);
    *  - inside the window → widen via min/max, never rewind lastMs
    *    (a rewound lastMs makes the next on-time event split wrongly);
    *  - BEFORE start − gap → routed to a secondary LATE run. It
    *    cannot merge with the open session DIRECTLY (an unbounded
    *    lower edge would let one very late event "merge" across an
    *    arbitrarily long internal silence and rewind startMs — a
    *    session spanning a gap larger than gapMs, violating the
    *    invariant); it CAN merge indirectly: when a later event
    *    widens the open session's start downward to within gap of
    *    the run's end, the chain's consecutive gaps are all ≤ gapMs
    *    and the run is absorbed into the open session. Otherwise,
    *    under session-window semantics late events still form
    *    sessions of their own: consecutive late events within gapMs of EACH OTHER
    *    merge into ONE late session (emitting singletons here would
    *    over-count sessions — two events 1 s apart are one session no
    *    matter how late they arrive), and the run closes when the next
    *    late event breaks the gap or the batch ends. The batch
    *    boundary is the documented approximation: a late run is not
    *    held in state, so late events split across micro-batches
    *    close as separate sessions even if within gapMs (holding them
    *    open would need an unbounded second state slot for data that
    *    is already past the session's horizon).
    *
    * Events must arrive sorted ascending by time (both callers sort
    * the batch); late events therefore precede the mergeable range,
    * and the late run is itself gap-contiguous. Returns the new open
    * session; closed sessions (including any finished late run) are
    * appended to `closed` in close order. */
  private final class SessionFold(user: Long, gapMs: Long,
      closed: scala.collection.mutable.ArrayBuffer[SessionOut]) {
    private var late: Option[OpenSession] = None

    def step(t: Long, open: Option[OpenSession]): Option[OpenSession] =
      open match {
        case Some(s) if t > s.lastMs + gapMs =>
          closed += SessionOut(user, s.events, s.startMs, s.lastMs)
          Some(OpenSession(1, t, t))
        case Some(s) if t >= s.startMs - gapMs =>
          var ns = OpenSession(s.events + 1, math.min(s.startMs, t), math.max(s.lastMs, t))
          // an event that widens startMs DOWNWARD can bridge the
          // pending late run into the session window: if the run's end
          // is within gap of the widened start, the whole chain has
          // consecutive gaps ≤ gapMs and is ONE session — absorb it
          // rather than over-splitting (the run itself is
          // gap-contiguous, so only its end needs checking)
          late match {
            case Some(l) if l.lastMs + gapMs >= ns.startMs =>
              ns = OpenSession(ns.events + l.events,
                math.min(ns.startMs, l.startMs), ns.lastMs)
              late = None
            case _ => ()
          }
          Some(ns)
        case Some(_) => // below the open session's horizon: late run
          late = late match {
            case Some(l) if t <= l.lastMs + gapMs =>
              Some(OpenSession(l.events + 1, math.min(l.startMs, t), math.max(l.lastMs, t)))
            case Some(l) => // late events stopped chaining: close the run
              closed += SessionOut(user, l.events, l.startMs, l.lastMs)
              Some(OpenSession(1, t, t))
            case None => Some(OpenSession(1, t, t))
          }
          open
        case None => Some(OpenSession(1, t, t))
      }

    /** Close any unfinished late run (call once, after the last event). */
    def finish(): Unit = {
      late.foreach(l => closed += SessionOut(user, l.events, l.startMs, l.lastMs))
      late = None
    }
  }

  def sessionize(events: Dataset[UserStamped], gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[UserStamped], state: GroupState[OpenSession]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts_ms, e.event_id))
          var open = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
          val fold = new SessionFold(user, gapMs, closed)
          sorted.foreach(e => open = fold.step(e.ts_ms, open))
          fold.finish()
          open.foreach(state.update)
          closed.iterator
      }
  }

  case class UserStamped(user_id: Long, event_id: Long, ts_ms: Long)

  /** [[sessionize]] with EventTimeTimeout: when the watermark passes an
    * idle user's last event + gap, the open session is FLUSHED and its
    * state cleared — output completeness and bounded state, the
    * production form. Input needs a real event-time column so the
    * watermark can advance. */
  case class TimedEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp)

  def sessionizeWithTimeout(events: Dataset[TimedEvent], gapMs: Long,
                            watermark: String = "0 seconds"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, batch: Iterator[TimedEvent], state: GroupState[OpenSession]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            // watermark passed lastMs + gap: close and emit the idle session
            val out = state.getOption
              .map(s => SessionOut(user, s.events, s.startMs, s.lastMs)).iterator
            state.remove()
            out
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var open = state.getOption
            val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
            // shared fold (see SessionFold): bounded merge window, no
            // lastMs rewind — also keeps the timeout anchored at the
            // TRUE last event
            val fold = new SessionFold(user, gapMs, closed)
            sorted.foreach(e => open = fold.step(e.ts.getTime, open))
            fold.finish()
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.iterator
          }
      }
  }

  /** Streaming ETL ingest: the full reference pipeline shape on a
    * stream — transform + validate per micro-batch, then foreachBatch
    * does the upsert (≙ R17 micro-batching + R18 upsert).
    *
    * foreachBatch is at-least-once, and a replayed batch must not apply
    * twice (keyless valid rows append per run — R19). Both sink writes
    * are therefore idempotent per batch id: the quarantine rows go to
    * `<snapshotDir>.quarantine/batch_id=<b>`, overwritten on a replay,
    * and the snapshot generation that applies batch b records b in its
    * `_BATCH_ID` file (skipped by Spark's reader), published by the same
    * link flip as the rows ([[graft.etl.Pipeline.upsert]]'s contract:
    * never a mix; a read spanning the flip fails loudly, a retry reads
    * the new snapshot). A batch whose id the live generation already
    * records is skipped; one that crashed before its publish re-runs from
    * the snapshot it started from. Local filesystem only, like the commit.
    * The micro-batch is cached for its two consumers (upsert +
    * quarantine write): unpersisted, each would re-run the transform
    * and the validation parse over the source. */
  def etlStream(raw: DataFrame, cfg: graft.etl.EtlConfig, snapshotDir: String) = {
    val transformed = graft.etl.Pipeline.transform(raw, cfg)
    transformed.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val stamp = new java.io.File(snapshotDir, BatchIdFile)
        val done = stamp.exists() &&
          scala.util.Try(java.nio.file.Files.readString(stamp.toPath).trim.toLong)
            .toOption.exists(_ >= batchId)
        if (!done) {
          val b = batch.persist()
          try {
            // same contract as the batch pipeline: invalid rows are
            // quarantined (reference logs each dropped doc, R16),
            // never silently discarded
            val (valid, quarantine) = graft.etl.Pipeline.validate(b)
            quarantine.write.mode("overwrite")
              .parquet(s"$snapshotDir.quarantine/batch_id=$batchId")
            graft.core.Commit.write(snapshotDir) { gen =>
              graft.etl.Pipeline.writeMerged(b.sparkSession, valid, snapshotDir, gen)
              java.nio.file.Files.writeString(
                new java.io.File(gen, BatchIdFile).toPath, batchId.toString)
              ()
            }
          } finally { b.unpersist(); () }
        }
      }
  }

  private val BatchIdFile = "_BATCH_ID"
}

package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams

/** Structured Streaming semantics via MemoryStream: windows, watermark
  * late-drop, stateful dedup, arbitrary state (SURVEY §5.2). */
class StreamingSpec extends SparkSpec with SlowSuite {
  import spark.implicits._

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                event_type: String, value: Double)

  private def ts(s: String) = Timestamp.valueOf(s)

  private def runBatches[T](stream: MemoryStream[T], out: String,
                            df: org.apache.spark.sql.DataFrame,
                            mode: OutputMode,
                            batches: Seq[Seq[T]]): Unit = {
    val q = df.writeStream.format("memory").queryName(out).outputMode(mode).start()
    try batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    finally q.stop()
  }

  test("tumbling window counts with watermark drop of late rows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val windowed = EventStreams.tumblingCounts(
      input.toDF(), windowLen = "1 hour", watermark = "10 minutes")
    runBatches(input, "tumbling", windowed, OutputMode.Append(), Seq(
      Seq(
        Ev(1, ts("2024-01-01 00:05:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 00:45:00"), 1, "click", 1.0),
        Ev(3, ts("2024-01-01 01:20:00"), 2, "view", 1.0)),
      // advance watermark far beyond hour 0 so its window closes
      Seq(Ev(4, ts("2024-01-01 03:00:00"), 2, "view", 1.0)),
      // late row for hour 0 — behind the watermark, must be dropped
      Seq(Ev(5, ts("2024-01-01 00:10:00"), 3, "click", 1.0)),
      Seq(Ev(6, ts("2024-01-01 05:00:00"), 2, "view", 1.0))))
    val rows = spark.table("tumbling")
      .select(col("window.start").cast("string"), col("event_type"), col("n"))
      .as[(String, String, Long)].collect().toSet
    assert(rows.contains(("2024-01-01 00:00:00", "click", 2L))) // late row NOT counted
    assert(rows.contains(("2024-01-01 01:00:00", "view", 1L)))
  }

  test("psiDriftStream: matching window scores zero, shifted window alarms") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val drifted = EventStreams.psiDriftStream(input.toDF(), "value",
      lo = 0L, hi = 100L, reference = Seq(2L, 2L, 2L, 2L),
      windowLen = "1 hour", watermark = "10 minutes")
    runBatches(input, "psidrift", drifted, OutputMode.Append(), Seq(
      Seq( // hour 0 mirrors the uniform reference; hour 1 is all-bin-0
        Ev(1, ts("2024-01-01 00:01:00"), 1, "a", 5.0),
        Ev(2, ts("2024-01-01 00:02:00"), 1, "a", 30.0),
        Ev(3, ts("2024-01-01 00:03:00"), 1, "a", 55.0),
        Ev(4, ts("2024-01-01 00:04:00"), 1, "a", 80.0),
        Ev(5, ts("2024-01-01 01:01:00"), 1, "a", 5.0),
        Ev(6, ts("2024-01-01 01:02:00"), 1, "a", 5.0),
        Ev(7, ts("2024-01-01 01:03:00"), 1, "a", 5.0),
        Ev(8, ts("2024-01-01 01:04:00"), 1, "a", 5.0)),
      Seq(Ev(9, ts("2024-01-01 05:00:00"), 1, "a", 50.0)))) // closes both
    val m = spark.table("psidrift")
      .select(col("window_start").cast("string"), col("n_events"), col("psi_micronats"))
      .as[(String, Long, Long)].collect().map { case (s, n, p) => s -> ((n, p)) }.toMap
    // matched distribution: p_i = q_i = 1/4 exactly -> every term 0
    assert(m("2024-01-01 00:00:00") === ((4L, 0L)))
    // all-bin-0 window: replay the operator's formula naively
    val (ref, c, n, k, refTot) = (Seq(2L, 2L, 2L, 2L), Seq(4L, 0L, 0L, 0L), 4L, 4, 8L)
    val exp = (0 until 4).map { i =>
      val p = (ref(i) + 1.0) / (refTot + k)
      val q = (c(i) + 1.0) / (n + k)
      (p - q) * math.log(((ref(i) + 1).toDouble * (n + k)) /
        ((c(i) + 1).toDouble * (refTot + k)))
    }.sum
    assert(m("2024-01-01 01:00:00") === ((4L, math.floor(exp * 1e6 + 0.5).toLong)))
    assert(m("2024-01-01 01:00:00")._2 > 100000L, "the 0.1 alert threshold must fire")
    intercept[IllegalArgumentException](EventStreams.psiDriftStream(
      input.toDF(), "value", 0L, 100L, Seq.empty))
  }

  test("dropDuplicatesWithinWatermark dedups by event_id (streaming R18)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val deduped = EventStreams.dedupWithinWatermark(input.toDF(), "10 minutes")
    runBatches(input, "dedup", deduped, OutputMode.Append(), Seq(
      Seq(
        Ev(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
        Ev(1, ts("2024-01-01 00:00:01"), 1, "click", 1.0)), // dup in-batch
      Seq(Ev(1, ts("2024-01-01 00:00:02"), 1, "click", 1.0), // dup cross-batch
        Ev(2, ts("2024-01-01 00:01:00"), 1, "view", 1.0))))
    assert(spark.table("dedup").select("event_id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L))
  }

  test("session window groups events within gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val sessions = EventStreams.sessionCounts(input.toDF(), gap = "30 minutes",
      watermark = "0 seconds")
    runBatches(input, "sessions", sessions, OutputMode.Append(), Seq(
      Seq(
        Ev(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 00:10:00"), 1, "click", 1.0),   // same session
        Ev(3, ts("2024-01-01 02:00:00"), 1, "click", 1.0)),  // new session
      Seq(Ev(9, ts("2024-01-02 00:00:00"), 9, "view", 1.0)))) // close windows
    val rows = spark.table("sessions").select("user_id", "n")
      .as[(Long, Long)].collect().filter(_._1 == 1L).map(_._2).sorted.toSeq
    assert(rows === Seq(1L, 2L))
  }

  test("mapGroupsWithState keeps running totals across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.UserEvent]
    val totals = EventStreams.runningUserTotals(input.toDS())
    val q = totals.toDF().writeStream.format("memory").queryName("totals")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(Seq(
        EventStreams.UserEvent(1, 1, 1.00),
        EventStreams.UserEvent(1, 2, 2.50)))
      q.processAllAvailable()
      input.addData(Seq(EventStreams.UserEvent(1, 3, 0.25)))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("totals").filter($"user_id" === 1)
      .orderBy($"events".desc).head()
    assert(last.getAs[Long]("events") === 3L)
    assert(last.getAs[Long]("value_cents") === 375L)
  }

  test("transformWithState (StatefulProcessor) matches the classic fold") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[EventStreams.UserEvent]
      val totals = EventStreams.runningUserTotalsTws(input.toDS())
      val q = totals.toDF().writeStream.format("memory").queryName("tws")
        .outputMode(OutputMode.Update()).start()
      try {
        input.addData(Seq(
          EventStreams.UserEvent(1, 1, 1.00),
          EventStreams.UserEvent(1, 2, 2.50)))
        q.processAllAvailable()
        input.addData(Seq(EventStreams.UserEvent(1, 3, 0.25)))
        q.processAllAvailable()
      } finally q.stop()
      val last = spark.table("tws").filter($"user_id" === 1)
        .orderBy($"events".desc).head()
      assert(last.getAs[Long]("events") === 3L)
      assert(last.getAs[Long]("value_cents") === 375L)
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("mapGroupsWithState resumes from a seeded snapshot (batch-to-stream handoff)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val snapshot = Seq(
      EventStreams.UserTotals(1, 1, 40L),   // stale version — latest must win
      EventStreams.UserTotals(1, 2, 100L),  // duplicate key from an Update sink
      EventStreams.UserTotals(7, 5, 999L)   // idle seeded key: no traffic
    ).toDS()
    val input = MemoryStream[EventStreams.UserEvent]
    val totals = EventStreams.runningUserTotalsFrom(input.toDS(), snapshot)
    val q = totals.toDF().writeStream.format("memory").queryName("seeded")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(Seq(
        EventStreams.UserEvent(1, 10, 0.50),   // continues the snapshot
        EventStreams.UserEvent(2, 11, 2.00)))  // fresh key starts at zero
      q.processAllAvailable()
      // idle seeded key must NOT be echoed into the first batch...
      assert(spark.table("seeded").filter($"user_id" === 7).count() === 0L)
      // ...but its state is live: traffic resumes from the seeded totals
      input.addData(Seq(EventStreams.UserEvent(7, 12, 0.01)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("seeded").as[EventStreams.UserTotals].collect()
      .map(t => t.user_id -> ((t.events, t.value_cents))).toMap
    assert(rows(1L) === ((3L, 150L))) // latest snapshot (2, 100) + one event
    assert(rows(2L) === ((1L, 200L)))
    assert(rows(7L) === ((6L, 1000L))) // seeded (5, 999) + one event
  }

  test("paged source streams new pages as micro-batches (page offset = R4 generator)") {
    val dir = tempDir("graft-paged-stream").toFile
    def writePage(n: Int, items: String): Unit = {
      val f = new java.io.File(dir, s"page-$n.json")
      java.nio.file.Files.writeString(f.toPath, s"""{"results": [$items]}""")
    }
    writePage(0, """{"id": 1}, {"id": 2}""")
    val stream = spark.readStream.format("graft.sources.PagedJsonSource")
      .option("path", dir.getAbsolutePath).load()
    val q = stream.writeStream.format("memory").queryName("paged")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("paged").count() === 2L)
      writePage(1, """{"id": 3}""")
      q.processAllAvailable()
      val rows = spark.table("paged").select("raw_json", "page").collect()
      assert(rows.length === 3)
      // page provenance follows the offset, and no page is re-read
      assert(rows.map(_.getInt(1)).sorted.toSeq === Seq(0, 0, 1))
    } finally q.stop()
  }

  test("stream-stream interval join matches in-window pairs, drops out-of-window") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val joined = EventStreams.intervalJoin(
      imps.toDF(), clicks.toDF(), key = "user_id",
      within = "5 minutes", watermark = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode(OutputMode.Append()).start()
    try {
      imps.addData(Seq(
        Ev(10, ts("2024-01-01 00:00:00"), 1, "imp", 1.0),
        Ev(11, ts("2024-01-01 00:00:00"), 2, "imp", 1.0)))
      clicks.addData(Seq(
        Ev(20, ts("2024-01-01 00:03:00"), 1, "click", 1.0),  // in window
        Ev(21, ts("2024-01-01 00:09:00"), 2, "click", 1.0),  // past 5 min
        Ev(22, ts("2024-01-01 00:04:00"), 3, "click", 1.0))) // no impression
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ssjoin").select("l_id", "r_id")
      .as[(Long, Long)].collect().toSet
    assert(rows === Set((10L, 20L)))
  }

  test("dedup against history drops known fingerprints, keeps new docs") {
    implicit val sqlCtx = spark.sqlContext
    val history = Seq("already ingested doc", "another known doc")
      .toDF("text").select(md5(col("text")).as("fp"))
    val input = MemoryStream[(Long, String)]
    val fresh = EventStreams.dedupAgainstHistory(
      input.toDF().toDF("doc_id", "text"), history)
    val q = fresh.writeStream.format("memory").queryName("hist_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq(
        1L -> "already ingested doc",  // exact dup of history → dropped
        2L -> "a brand new document",  // survives
        3L -> "another known doc"))    // dropped
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("hist_dedup").select("doc_id")
      .as[Long].collect().toSet
    assert(rows === Set(2L))
  }

  test("left-outer interval join: matched pairs plus null-padded unmatched left after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val joined = EventStreams.intervalJoinLeftOuter(
      imps.toDF(), clicks.toDF(), key = "user_id",
      within = "5 minutes", watermark = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ssjoin_lo")
      .outputMode(OutputMode.Append()).start()
    try {
      imps.addData(Seq(
        Ev(10, ts("2024-01-01 00:00:00"), 1, "imp", 1.0),   // will match
        Ev(11, ts("2024-01-01 00:00:00"), 2, "imp", 1.0)))  // never clicked
      clicks.addData(Seq(
        Ev(20, ts("2024-01-01 00:03:00"), 1, "click", 1.0)))
      q.processAllAvailable()
      // the unmatched imp may only emit once no in-window click can
      // still arrive: advance BOTH watermarks far past 00:05 + delay,
      // then one more batch — eviction emits on the batch AFTER the
      // watermark moves
      imps.addData(Seq(Ev(12, ts("2024-01-01 01:00:00"), 9, "imp", 1.0)))
      clicks.addData(Seq(Ev(21, ts("2024-01-01 01:00:00"), 9, "click", 1.0)))
      q.processAllAvailable()
      imps.addData(Seq(Ev(13, ts("2024-01-01 02:00:00"), 9, "imp", 1.0)))
      clicks.addData(Seq(Ev(22, ts("2024-01-01 02:00:00"), 9, "click", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ssjoin_lo").select("l_id", "r_id")
      .as[(Long, Option[Long])].collect().toSet
    assert(rows.contains((10L, Some(20L)))) // in-window pair
    assert(rows.contains((11L, None)))      // unmatched left, null right
  }

  test("paged source restart from checkpoint: offset replay, no dups, no gaps") {
    val dir = tempDir("graft-paged-ckpt").toFile
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    val sink = new java.io.File(dir, "sink").getAbsolutePath
    val pages = new java.io.File(dir, "pages"); pages.mkdirs()
    def writePage(n: Int, items: String): Unit =
      java.nio.file.Files.writeString(
        new java.io.File(pages, s"page-$n.json").toPath, s"""{"results": [$items]}""")
    def startQuery() = spark.readStream.format("graft.sources.PagedJsonSource")
      .option("path", pages.getAbsolutePath).load()
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    writePage(0, """{"id": 1}, {"id": 2}""")
    writePage(1, """{"id": 3}""")
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(sink).count() === 3L)

    // pages appear while the query is DOWN; restart must resume from
    // the committed page offset — replaying nothing, skipping nothing
    writePage(2, """{"id": 4}, {"id": 5}""")
    writePage(3, """{"id": 6}""")
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()

    val rows = spark.read.parquet(sink)
      .select(get_json_object(col("raw_json"), "$.id").cast("long").as("id"), col("page"))
      .collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq === (1L to 6L))           // no dup, no gap
    assert(rows.map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq ===
      Seq((1L, 0), (2L, 0), (3L, 1), (4L, 2), (5L, 2), (6L, 3)))         // provenance intact
  }

  test("page-number offsets: late lower pages are skipped (never replayed), strays ignored") {
    val dir = tempDir("graft-paged-identity").toFile
    def writePage(n: String, items: String): Unit =
      java.nio.file.Files.writeString(
        new java.io.File(dir, s"page-$n.json").toPath, s"""{"results": [$items]}""")
    writePage("1", """{"id": 11}""") // producer starts at 1 — no page-0 yet
    // a stray over-Int filename must be ignored, not crash the listing
    writePage("99999999999", """{"id": 666}""")
    val stream = spark.readStream.format("graft.sources.PagedJsonSource")
      .option("path", dir.getAbsolutePath).load()
    val q = stream.writeStream.format("memory").queryName("paged_id")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("paged_id").count() === 1L) // page-1 only
      // page-0 materializes BELOW the committed offset: skipped, and
      // crucially page-1 is NOT replayed (the positional-offset bug)
      writePage("0", """{"id": 10}""")
      q.processAllAvailable()
      assert(spark.table("paged_id").count() === 1L)
      writePage("2", """{"id": 12}""")
      q.processAllAvailable()
      val rows = spark.table("paged_id")
        .select(get_json_object(col("raw_json"), "$.id").cast("long")).collect()
      assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(11L, 12L))
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionize emits closed sessions, keeps open state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.UserStamped]
    val sessions = EventStreams.sessionize(input.toDS(), gapMs = 60000L)
    val q = sessions.toDF().writeStream.format("memory").queryName("fmgs")
      .outputMode(OutputMode.Append()).start()
    try {
      // session 1: two events 30s apart; then a 2h jump opens session 2
      input.addData(Seq(
        EventStreams.UserStamped(1, 1, 0L),
        EventStreams.UserStamped(1, 2, 30000L)))
      q.processAllAvailable()
      assert(spark.table("fmgs").count() === 0L) // still open
      input.addData(Seq(EventStreams.UserStamped(1, 3, 7200000L)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("fmgs").as[EventStreams.SessionOut].collect()
    assert(rows.length === 1)
    assert(rows.head.events === 2L && rows.head.end_ms === 30000L)
  }

  test("late in-gap event widens the session instead of rewinding it (regression)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.UserStamped]
    val sessions = EventStreams.sessionize(input.toDS(), gapMs = 60000L)
    val q = sessions.toDF().writeStream.format("memory").queryName("fmgs_late")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq(
        EventStreams.UserStamped(1, 1, 0L),
        EventStreams.UserStamped(1, 2, 50000L)))
      q.processAllAvailable()
      // late event at t=10000 (inside the session) must NOT rewind lastMs
      input.addData(Seq(EventStreams.UserStamped(1, 3, 10000L)))
      q.processAllAvailable()
      // t=80000 is within gap of the TRUE last event (50000) → same session
      input.addData(Seq(EventStreams.UserStamped(1, 4, 80000L)))
      q.processAllAvailable()
      // force a close to observe the assembled session
      input.addData(Seq(EventStreams.UserStamped(1, 5, 9000000L)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("fmgs_late").as[EventStreams.SessionOut].collect()
    assert(rows.length === 1)
    assert(rows.head.events === 4L && rows.head.end_ms === 80000L)
  }

  test("event far before the session horizon closes as a singleton, never merges (regression)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.UserStamped]
    val sessions = EventStreams.sessionize(input.toDS(), gapMs = 60000L)
    val q = sessions.toDF().writeStream.format("memory").queryName("fmgs_horizon")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq(
        EventStreams.UserStamped(1, 1, 100000L),
        EventStreams.UserStamped(1, 2, 160000L)))
      q.processAllAvailable()
      // t=0 is before start - gap (40000): the original unbounded check
      // "merged" it, rewinding the session across a 100s silence; a
      // later revision DROPPED it, losing the event from session
      // analytics. Correct: it is its own already-closed singleton.
      input.addData(Seq(EventStreams.UserStamped(1, 3, 0L)))
      q.processAllAvailable()
      input.addData(Seq(EventStreams.UserStamped(1, 4, 9000000L))) // close
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("fmgs_horizon").as[EventStreams.SessionOut].collect()
      .sortBy(_.start_ms)
    assert(rows.length === 2)
    // the too-late event: a closed singleton, open session untouched
    assert(rows(0).events === 1L && rows(0).start_ms === 0L && rows(0).end_ms === 0L)
    assert(rows(1).events === 2L && rows(1).start_ms === 100000L)
  }

  test("late events within gap of each other merge into ONE late session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.UserStamped]
    val sessions = EventStreams.sessionize(input.toDS(), gapMs = 60000L)
    val q = sessions.toDF().writeStream.format("memory").queryName("fmgs_laterun")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq(
        EventStreams.UserStamped(1, 1, 500000L),
        EventStreams.UserStamped(1, 2, 560000L)))
      q.processAllAvailable()
      // three below-horizon events (horizon = 500000 - 60000): t=0 and
      // t=1000 lie within gap of EACH OTHER → one late session, not two
      // singletons; t=200000 breaks the run's gap → its own session
      input.addData(Seq(
        EventStreams.UserStamped(1, 3, 0L),
        EventStreams.UserStamped(1, 4, 1000L),
        EventStreams.UserStamped(1, 5, 200000L)))
      q.processAllAvailable()
      input.addData(Seq(EventStreams.UserStamped(1, 6, 9000000L))) // close open
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("fmgs_laterun").as[EventStreams.SessionOut].collect()
      .sortBy(_.start_ms)
    assert(rows.length === 3)
    assert(rows(0).events === 2L && rows(0).start_ms === 0L && rows(0).end_ms === 1000L)
    assert(rows(1).events === 1L && rows(1).start_ms === 200000L)
    assert(rows(2).events === 2L && rows(2).start_ms === 500000L) // open session untouched
  }

  test("sessionizeWithTimeout flushes idle sessions when the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.TimedEvent]
    val sessions = EventStreams.sessionizeWithTimeout(
      input.toDS(), gapMs = 60000L, watermark = "0 seconds")
    val q = sessions.toDF().writeStream.format("memory").queryName("fmgs_to")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq(
        EventStreams.TimedEvent(1, 1, ts("2024-01-01 00:00:00")),
        EventStreams.TimedEvent(1, 2, ts("2024-01-01 00:00:30"))))
      q.processAllAvailable()
      assert(spark.table("fmgs_to").count() === 0L) // open, not timed out
      // another user's much later event advances the watermark far past
      // user 1's last event + gap → user 1's idle session must flush
      input.addData(Seq(EventStreams.TimedEvent(2, 9, ts("2024-01-01 06:00:00"))))
      q.processAllAvailable()
      input.addData(Seq(EventStreams.TimedEvent(2, 10, ts("2024-01-01 07:00:00"))))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("fmgs_to").as[EventStreams.SessionOut].collect()
      .filter(_.user_id == 1L)
    assert(rows.length === 1)
    assert(rows.head.events === 2L)
  }

  test("streaming ETL ingest upserts per micro-batch (R17 streaming twin)") {
    val dir = tempDir("graft-stream-etl").toFile
    val snap = dir.getAbsolutePath + "/snap"
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val raw = input.toDF().select(col("value").as("raw_json"), lit(0).as("page"))
    val cfg = graft.etl.EtlConfig(apiKey = "k")
    val q = EventStreams.etlStream(raw, cfg, snap).start()
    try {
      input.addData(Seq("""{"id": 1, "pulse_info": {"name": "a", "id": 11}}"""))
      q.processAllAvailable()
      input.addData(Seq("""{"id": 1, "pulse_info": {"name": "b", "id": 11}}"""))
      q.processAllAvailable()
    } finally q.stop()
    val snapDf = spark.read.parquet(snap)
    assert(snapDf.count() === 1L)
    assert(snapDf.head().getAs[String]("pulse_name") === "b") // last write wins
  }

  test("streaming ETL replays (crash before the publish, redelivery after it) " +
    "leave the snapshot and the quarantine as one delivery") {
    import java.nio.file.{Files, Path, StandardCopyOption}
    implicit val sqlCtx = spark.sqlContext
    val cfg = graft.etl.EtlConfig(apiKey = "k")
    val first = Seq("""{"id": 1, "pulse_info": {"name": "a", "id": 11}}""")
    // a keyed update, a keyless item and a malformed (scalar) payload
    val second = Seq("""{"id": 1, "pulse_info": {"name": "b", "id": 11}}""",
      """{"note": "keyless"}""", "5")
    def start(input: MemoryStream[String], dir: Path) = EventStreams.etlStream(
      input.toDF().select(col("value").as("raw_json"), lit(0).as("page")),
      cfg, dir.resolve("snap").toString)
      .option("checkpointLocation", dir.resolve("ck").toString).start()
    def deliver(dir: Path, input: MemoryStream[String], rows: Seq[String]): Unit = {
      val q = start(input, dir)
      try { input.addData(rows); q.processAllAvailable() } finally q.stop()
    }
    // drop batch b's commit from the checkpoint and restart: Spark redelivers b
    def redeliver(dir: Path, input: MemoryStream[String], b: Long): Unit = {
      Seq(s"$b", s".$b.crc").foreach(f => Files.deleteIfExists(dir.resolve(s"ck/commits/$f")))
      val q = start(input, dir)
      try q.processAllAvailable() finally q.stop()
    }
    def state(dir: Path) = {
      val snap = dir.resolve("snap").toString
      (spark.read.parquet(snap).select("pulse_id", "pulse_name", "raw").collect()
        .map(_.toString).toSeq.sorted, spark.read.parquet(snap + ".quarantine").count())
    }
    def liveGeneration(dir: Path) =
      dir.resolve(Files.readSymbolicLink(dir.resolve("snap"))).normalize

    // one delivery, then a redelivery of the published batch: a no-op
    val after = tempDir("graft-stream-redeliver")
    val in1 = MemoryStream[String]
    deliver(after, in1, first)
    deliver(after, in1, second)
    val once = state(after)
    assert(once._1.length === 2 && once._2 === 1L)
    redeliver(after, in1, 1L)
    assert(state(after) === once)

    // a crash after the quarantine write, before the publish: the batch's
    // quarantine partition is on disk, its generation is built but the
    // link still names the generation before it, the batch is uncommitted
    val crashed = tempDir("graft-stream-crash")
    val in2 = MemoryStream[String]
    deliver(crashed, in2, first)
    val before = liveGeneration(crashed)
    val saved = tempDir("graft-stream-saved").resolve("gen")
    Files.walk(before).forEach(p => Files.copy(p, saved.resolve(before.relativize(p).toString)))
    deliver(crashed, in2, second)
    Files.walk(saved).forEach { p =>
      val d = before.resolve(saved.relativize(p).toString)
      if (!Files.exists(d)) Files.copy(p, d)
    }
    val tmp = crashed.resolve("snap-tmp-link")
    Files.createSymbolicLink(tmp, crashed.relativize(before))
    Files.move(tmp, crashed.resolve("snap"), StandardCopyOption.ATOMIC_MOVE)
    assert(spark.read.parquet(crashed.resolve("snap").toString).count() === 1L)
    redeliver(crashed, in2, 1L)
    assert(state(crashed) === once)
  }
  test("a bridging event chains the late run into the open session (no over-split)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.UserStamped]
    val sessions = EventStreams.sessionize(input.toDS(), gapMs = 60000L)
    val q = sessions.toDF().writeStream.format("memory").queryName("fmgs_bridge")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq(EventStreams.UserStamped(1, 1, 500000L)))
      q.processAllAvailable()
      // t=430000 is below the horizon (500000 - 60000) -> late run;
      // t=450000 is on-time and widens startMs down to 450000, bringing
      // the run's end (430000 + 60000 >= 450000) into range: the chain
      // 430000 -> 450000 -> 500000 has every gap <= 60000 = ONE session
      input.addData(Seq(
        EventStreams.UserStamped(1, 2, 430000L),
        EventStreams.UserStamped(1, 3, 450000L)))
      q.processAllAvailable()
      input.addData(Seq(EventStreams.UserStamped(1, 4, 9000000L))) // close open
      q.processAllAvailable()
      val out = spark.table("fmgs_bridge")
        .select("events", "start_ms", "end_ms")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(out.contains((3L, 430000L, 500000L)),
        s"the bridged chain must close as one 3-event session, got $out")
      assert(!out.exists(_._1 == 1L && out.size > 1) || !out.contains((1L, 430000L, 430000L)),
        s"no singleton late session when a bridge exists: $out")
    } finally q.stop()
  }

  test("volumeAnomalyStream: in-band window quiet, spike window flags") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val gated = EventStreams.volumeAnomalyStream(input.toDF(),
      reference = Map("click" -> (2.0, 1.0)), zMilliBar = 2000L,
      windowLen = "1 hour", watermark = "10 minutes")
    runBatches(input, "volgate", gated, OutputMode.Append(), Seq(
      // hour 0: 2 clicks = reference mean → z 0
      Seq(Ev(1, ts("2024-01-01 00:05:00"), 1, "click", 0),
        Ev(2, ts("2024-01-01 00:10:00"), 1, "click", 0)),
      // hour 1: 5 clicks → z = (5-2)/1 = +3000 milli ≥ bar → flagged
      Seq(Ev(3, ts("2024-01-01 01:05:00"), 1, "click", 0),
        Ev(4, ts("2024-01-01 01:06:00"), 1, "click", 0),
        Ev(5, ts("2024-01-01 01:07:00"), 1, "click", 0),
        Ev(6, ts("2024-01-01 01:08:00"), 1, "click", 0),
        Ev(7, ts("2024-01-01 01:09:00"), 1, "click", 0),
        // a type with no reference stats pins z to 0, never flags
        Ev(8, ts("2024-01-01 01:09:30"), 2, "view", 0)),
      // advance the watermark so both hours close
      Seq(Ev(9, ts("2024-01-01 05:00:00"), 2, "view", 0))))
    val rows = spark.table("volgate")
      .select(col("window_start").cast("string"), col("event_type"),
        col("n"), col("z_milli"), col("is_anomaly"))
      .as[(String, String, Long, Long, Int)].collect().toSet
    assert(rows.contains(("2024-01-01 00:00:00", "click", 2L, 0L, 0)))
    assert(rows.contains(("2024-01-01 01:00:00", "click", 5L, 3000L, 1)))
    assert(rows.contains(("2024-01-01 01:00:00", "view", 1L, 0L, 0)))
  }

  // ———— uniform stream ≡ batch equivalence contract ————
  // every EventStreams operator either has an oracle row or asserts
  // here that its streamed output over a micro-batched corpus EQUALS
  // the corresponding batch form on the same rows, restricted to the
  // windows append mode has closed (window.end <= final watermark) —
  // the batch side applies that same cutoff, so the comparison is
  // exact set equality, not subset hand-waving.

  /** Events used by the window-equivalence trio: three hours of mixed
    * traffic plus a far-future sentinel that closes every real window
    * (the sentinel's own window stays open and is cut off on the batch
    * side by the same watermark rule). */
  private val equivEvents = Seq(
    Ev(1, ts("2024-01-01 00:05:00"), 1, "click", 3.0),
    Ev(2, ts("2024-01-01 00:40:00"), 1, "view", 7.0),
    Ev(3, ts("2024-01-01 00:55:00"), 2, "click", 1.0),
    Ev(4, ts("2024-01-01 01:10:00"), 2, "click", 9.0),
    Ev(5, ts("2024-01-01 01:35:00"), 1, "view", 2.0),
    Ev(6, ts("2024-01-01 02:20:00"), 3, "click", 5.0),
    Ev(7, ts("2024-01-01 02:50:00"), 3, "view", 8.0))
  private val sentinel = Ev(99, ts("2024-01-02 12:00:00"), 9, "other", 0.0)
  // final watermark = sentinel ts − the 10-minute delay used below
  private val cutoff = "2024-01-02 11:50:00"

  /** Seq[Ev] → DataFrame via tuples: an inner case class has no
    * stand-alone encoder scope for createDataset (the MemoryStream
    * path resolves it in-scope; the batch path does not). */
  private def evDf(evs: Seq[Ev]) =
    evs.map(e => (e.event_id, e.ts, e.user_id, e.event_type, e.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")

  private def closedWindows(streamed: org.apache.spark.sql.DataFrame) =
    streamed.select(col("window.start").cast("string"),
        col("window.end").cast("string"), col("event_type"), col("n"))
      .as[(String, String, String, Long)].collect().toSet

  test("tumblingCounts ≡ batch window counts on every closed window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val windowed = EventStreams.tumblingCounts(
      input.toDF(), windowLen = "1 hour", watermark = "10 minutes")
    runBatches(input, "eq_tumbling", windowed, OutputMode.Append(),
      equivEvents.grouped(3).toSeq :+ Seq(sentinel))
    val batch = evDf(equivEvents :+ sentinel)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter(col("window.end") <= lit(cutoff).cast("timestamp"))
    assert(closedWindows(spark.table("eq_tumbling")) === closedWindows(batch))
    assert(closedWindows(batch).size === 6, "corpus must exercise several windows")
  }

  test("slidingCounts ≡ batch sliding window counts on every closed window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val windowed = EventStreams.slidingCounts(
      input.toDF(), windowLen = "1 hour", slide = "30 minutes",
      watermark = "10 minutes")
    runBatches(input, "eq_sliding", windowed, OutputMode.Append(),
      equivEvents.grouped(3).toSeq :+ Seq(sentinel))
    val batch = evDf(equivEvents :+ sentinel)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter(col("window.end") <= lit(cutoff).cast("timestamp"))
    assert(closedWindows(spark.table("eq_sliding")) === closedWindows(batch))
    // sliding: each event lands in 2 overlapping windows — the batch
    // set must be strictly larger than the tumbling set
    assert(closedWindows(batch).size > 6)
  }

  test("sessionCounts ≡ batch session_window counts on every closed session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val sessions = EventStreams.sessionCounts(
      input.toDF(), gap = "30 minutes", watermark = "10 minutes")
    runBatches(input, "eq_sessions", sessions, OutputMode.Append(),
      equivEvents.grouped(3).toSeq :+ Seq(sentinel))
    def sessionSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("session_window.start").cast("string"),
          col("session_window.end").cast("string"), col("user_id"), col("n"))
        .as[(String, String, Long, Long)].collect().toSet
    val batch = evDf(equivEvents :+ sentinel)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .filter(col("session_window.end") <= lit(cutoff).cast("timestamp"))
    assert(sessionSet(spark.table("eq_sessions")) === sessionSet(batch))
    // user 1's 00:05 event and user 2's 00:55/01:10 pair must have
    // merged/split exactly as the batch gap rule dictates
    assert(sessionSet(batch).exists { case (_, _, u, n) => u == 2L && n == 2L })
  }

  test("psiDriftStream ≡ batch psiDrift per closed window (same corpus, same reference)") {
    implicit val sqlCtx = spark.sqlContext
    // reference histogram [2,2,2,2] over [0,100) in 4 bins — realized
    // as an actual base corpus so the BATCH operator derives the same
    // smoothed p_i from rows that the stream gets as literals
    val baseRows = Seq(5.0, 20.0, 30.0, 45.0, 55.0, 70.0, 80.0, 95.0)
    val base = baseRows.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "value")
    val input = MemoryStream[Ev]
    val drifted = EventStreams.psiDriftStream(input.toDF(), "value",
      lo = 0L, hi = 100L, reference = Seq(2L, 2L, 2L, 2L),
      windowLen = "1 hour", watermark = "10 minutes")
    val h0 = Seq( // balanced-ish window
      Ev(1, ts("2024-01-01 00:01:00"), 1, "a", 10.0),
      Ev(2, ts("2024-01-01 00:02:00"), 1, "a", 40.0),
      Ev(3, ts("2024-01-01 00:03:00"), 1, "a", 60.0),
      Ev(4, ts("2024-01-01 00:04:00"), 1, "a", 90.0),
      Ev(5, ts("2024-01-01 00:05:00"), 1, "a", 15.0))
    val h1 = Seq( // skewed window
      Ev(6, ts("2024-01-01 01:01:00"), 1, "a", 5.0),
      Ev(7, ts("2024-01-01 01:02:00"), 1, "a", 8.0),
      Ev(8, ts("2024-01-01 01:03:00"), 1, "a", 99.0))
    runBatches(input, "eq_psi", drifted, OutputMode.Append(),
      Seq(h0, h1, Seq(sentinel)))
    val streamed = spark.table("eq_psi")
      .select(col("window_start").cast("string"), col("psi_micronats"))
      .as[(String, Long)].collect().toMap
    for ((hour, evs) <- Seq("2024-01-01 00:00:00" -> h0, "2024-01-01 01:00:00" -> h1)) {
      val next = evs.map(e => (e.event_id, e.value)).toDF("id", "value")
      val batchPsi = graft.operators.Profiling
        .psiDrift(base, next, "value", lo = 0L, hi = 100L, nbins = 4)
        .agg(sum("psi_micronats")).as[Long].head()
      // batch rounds per bin then sums; the stream sums exactly then
      // rounds once — equality holds to within nbins micronats
      assert(math.abs(streamed(hour) - batchPsi) <= 4L,
        s"window $hour: stream ${streamed(hour)} vs batch $batchPsi")
    }
  }

  test("volumeAnomalyStream ≡ batch dailyVolumeAnomaly when fed its own stats") {
    implicit val sqlCtx = spark.sqlContext
    // four days of "click" volume (2, 2, 2, 6): the batch gate z-scores
    // each day against the series' own stats; the stream reproduces the
    // batch rule exactly when handed (mean, σ_pop) from those counts
    val dayCounts = Seq(2, 2, 2, 6)
    val evs = dayCounts.zipWithIndex.flatMap { case (n, d) =>
      (0 until n).map(i =>
        Ev(d * 10L + i, ts(f"2024-01-0${d + 1}%d 0$i%d:30:00"), 1, "click", 0.0))
    }
    val mean = dayCounts.sum.toDouble / dayCounts.size
    val sigma = math.sqrt(
      dayCounts.map(n => (n - mean) * (n - mean)).sum / dayCounts.size)
    val input = MemoryStream[Ev]
    val gated = EventStreams.volumeAnomalyStream(input.toDF(),
      reference = Map("click" -> (mean, sigma)), zMilliBar = 1000L,
      windowLen = "1 day", watermark = "10 minutes")
    runBatches(input, "eq_vol", gated, OutputMode.Append(),
      Seq(evs, Seq(Ev(99, ts("2024-01-20 12:00:00"), 9, "click", 0.0))))
    val streamed = spark.table("eq_vol")
      .select(datediff(to_date(col("window_start")), to_date(lit("2024-01-01"))).cast("long"),
        col("n"), col("z_milli"), col("is_anomaly"))
      .as[(Long, Long, Long, Int)].collect().toSet
    val batch = graft.operators.Behavior.dailyVolumeAnomaly(
      evDf(evs), epoch = "2024-01-01", zMilliBar = 1000L)
      .select(col("day"), col("n"), col("z_milli"), col("is_anomaly"))
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(streamed === batch,
      s"stream fed batch-derived stats must replay the batch gate: $streamed vs $batch")
    // and the gate discriminates: day 3 is the only anomaly
    assert(batch.count(_._4 == 1) === 1)
  }

  test("seasonalAnomalyStream ≡ batch seasonalVolumeAnomaly when fed its own stats") {
    implicit val sqlCtx = spark.sqlContext
    // the batch fixture: 15 days, dow0 counts 2,2,5, all other
    // weekdays flat at 1 — day 14 is the only seasonal anomaly
    val dayCount = (d: Int) => if (d % 7 == 0) (if (d == 14) 5 else 2) else 1
    val evs = (0 to 14).flatMap { d =>
      (0 until dayCount(d)).map(i =>
        Ev(d * 100L + i, ts(f"2024-01-${d + 1}%02d 0$i%d:30:00"), 1, "click", 0.0))
    }
    // per-(type, dow) reference derived from the same series — the
    // batch operator's own statistics, closing the batch→stream loop
    val byDow = (0 to 14).groupBy(_ % 7)
    val reference = byDow.map { case (dow, days) =>
      val ns = days.map(dayCount(_).toDouble)
      val mean = ns.sum / ns.size
      val sigma = math.sqrt(ns.map(n => (n - mean) * (n - mean)).sum / ns.size)
      ("click", dow.toLong) -> ((mean, sigma))
    }
    val input = MemoryStream[Ev]
    val gated = EventStreams.seasonalAnomalyStream(input.toDF(),
      reference, zMilliBar = 1000L, epoch = "2024-01-01",
      watermark = "10 minutes")
    runBatches(input, "eq_seasonal", gated, OutputMode.Append(),
      Seq(evs, Seq(Ev(9999, ts("2024-02-20 12:00:00"), 9, "click", 0.0))))
    val streamed = spark.table("eq_seasonal")
      .select(col("event_type"), col("day"), col("dow"), col("n"),
        col("z_milli"), col("is_anomaly"))
      .as[(String, Long, Long, Long, Long, Int)].collect().toSet
    val batch = graft.operators.Behavior.seasonalVolumeAnomaly(
      evDf(evs), zMilliBar = 1000L)
      .as[(String, Long, Long, Long, Long, Int)].collect().toSet
    assert(streamed === batch,
      "stream fed batch-derived per-weekday stats must replay the batch gate")
    assert(batch.count(_._6 == 1) === 1, "only day 14 flags")
  }

  test("debounceStream matches the batch debounce on in-order input") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.TypedEvent]
    val out = EventStreams.debounceStream(input.toDS(), gapNs = 10L)
    val q = out.toDF().writeStream.format("memory").queryName("debounce")
      .outputMode(OutputMode.Append()).start()
    try {
      // burst 0,9,18 arrives in batch 1; 27 (continues the burst via
      // state) and 40 (new burst) in batch 2 — the cross-batch step
      // MUST consult the stored last-seen ts
      input.addData(Seq(
        EventStreams.TypedEvent(1, "click", 1, 0L),
        EventStreams.TypedEvent(1, "click", 2, 9L),
        EventStreams.TypedEvent(1, "click", 3, 18L),
        EventStreams.TypedEvent(2, "view", 10, 0L)))
      q.processAllAvailable()
      input.addData(Seq(
        EventStreams.TypedEvent(1, "click", 4, 27L),
        EventStreams.TypedEvent(1, "click", 5, 40L)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("debounce")
      .select("event_id", "suppressed")
      .as[(Long, Int)].collect().toMap
    assert(streamed === Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 1, 5L -> 0,
      10L -> 0))
    // equivalence with the batch rule on the same rows
    val batch = graft.operators.Behavior.debounce(
      Seq((1L, 1L, 0L, "click"), (1L, 2L, 9L, "click"),
        (1L, 3L, 18L, "click"), (1L, 4L, 27L, "click"),
        (1L, 5L, 40L, "click"), (2L, 10L, 0L, "view"))
        .toDF("user_id", "event_id", "ts_ns", "event_type"), gapNs = 10L)
      .select("event_id", "suppressed").as[(Long, Int)].collect().toMap
    assert(batch === streamed)
  }

  test("dupArrivalStream buckets match the batch gap profiler across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.TypedEvent]
    val out = EventStreams.dupArrivalStream(input.toDS())
    val q = out.toDF().writeStream.format("memory").queryName("duparrival")
      .outputMode(OutputMode.Append()).start()
    // µs-aligned ns timestamps spanning buckets 0 (0.5 s), 1 (5 s),
    // 3 (5 min) and 6 (2 d); the 5-min gap STRADDLES the batch
    // boundary so the state handoff is what produces bucket 3
    val sec = 1000000000L
    try {
      input.addData(Seq(
        EventStreams.TypedEvent(1, "click", 1, 0L),
        EventStreams.TypedEvent(1, "click", 2, sec / 2),      // +0.5 s  -> 0
        EventStreams.TypedEvent(1, "click", 3, sec / 2 + 5 * sec), // +5 s -> 1
        EventStreams.TypedEvent(2, "view", 10, 0L)))
      q.processAllAvailable()
      input.addData(Seq(
        EventStreams.TypedEvent(1, "click", 4, sec / 2 + 305 * sec), // +5 min -> 3
        EventStreams.TypedEvent(2, "view", 11, 2L * 86400 * sec)))   // +2 d -> 6
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("duparrival")
      .select("event_id", "bucket").as[(Long, Int)].collect().toMap
    assert(streamed === Map(1L -> -1, 2L -> 0, 3L -> 1, 4L -> 3,
      10L -> -1, 11L -> 6))
    // ≡ the batch profiler's ladder on the same closed corpus: per
    // bucket, stream counts (first arrivals dropped) equal n_gaps
    val batchDf = Seq(
      (1L, "click", 0L), (1L, "click", sec / 2),
      (1L, "click", sec / 2 + 5 * sec), (1L, "click", sec / 2 + 305 * sec),
      (2L, "view", 0L), (2L, "view", 2L * 86400 * sec))
      .toDF("user_id", "event_type", "ts_ns")
      .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
    val batch = graft.operators.Sessions.dupArrivalProfile(batchDf,
      keyCols = Seq("user_id", "event_type"))
      .select("bucket", "n_gaps").as[(Long, Long)].collect().toMap
    val streamCounts = streamed.values.filter(_ >= 0).groupBy(_.toLong)
      .view.mapValues(_.size.toLong).toMap
    assert(streamCounts === batch)
  }

  test("arrivalIntegrityStream backsteps match the batch audit across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.TypedEvent]
    val out = EventStreams.arrivalIntegrityStream(input.toDS())
    val q = out.toDF().writeStream.format("memory").queryName("arrint")
      .outputMode(OutputMode.Append()).start()
    val sec = 1000000000L
    try {
      // user 1: e2 steps back 5 s against e1; e3 (next batch — the
      // state handoff is what detects it) steps back 1 s against e2.
      // user 2 is perfectly ordered. Batch 1 adds e2 BEFORE e1: the
      // per-batch event_id sort, not arrival order, must decide.
      input.addData(Seq(
        EventStreams.TypedEvent(1, "c", 2, 5 * sec),
        EventStreams.TypedEvent(1, "c", 1, 10 * sec),
        EventStreams.TypedEvent(2, "v", 10, 0L)))
      q.processAllAvailable()
      input.addData(Seq(
        EventStreams.TypedEvent(1, "c", 3, 4 * sec),
        EventStreams.TypedEvent(2, "v", 11, sec)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("arrint")
      .select("event_id", "backstep_us").as[(Long, Long)].collect().toMap
    assert(streamed === Map(1L -> -1L, 2L -> 5000000L, 3L -> 1000000L,
      10L -> -1L, 11L -> -1L))
    // ≡ the batch audit on the same closed corpus: per-user rollup of
    // the emitted backsteps equals Sessions.arrivalIntegrity
    val batchDf = Seq(
      (1L, 1L, 10L * sec), (1L, 2L, 5L * sec), (1L, 3L, 4L * sec),
      (2L, 10L, 0L), (2L, 11L, sec))
      .toDF("user_id", "event_id", "ts_ns")
      .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
    val batch = graft.operators.Sessions.arrivalIntegrity(batchDf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(batch === Seq(
      (1L, 3L, 2L, 5000000L, 666666L),
      (2L, 2L, 0L, 0L, 0L)))
    val perUser = spark.table("arrint")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("backstep_us") >= 0L, 1L).otherwise(0L)).as("nb"),
        max(when(col("backstep_us") >= 0L, col("backstep_us"))
          .otherwise(0L)).as("mx"))
      .orderBy("user_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(perUser === batch.map(b => (b._1, b._2, b._3, b._4)))
  }

  test("latenessStream per-event lateness folds to the batch watermark curve") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.TypedEvent]
    val out = EventStreams.latenessStream(input.toDS())
    val q = out.toDF().writeStream.format("memory").queryName("wmlate")
      .outputMode(OutputMode.Append()).start()
    val sec = 1000000000L
    try {
      // user 1: e2 arrives 50 s behind the mark; e4 (NEXT batch — the
      // high-water mark handoff, not lag-1: e3's 200 s is the mark)
      // arrives 110 s behind. user 2 in order.
      input.addData(Seq(
        EventStreams.TypedEvent(1, "c", 1, 100 * sec),
        EventStreams.TypedEvent(1, "c", 2, 50 * sec),
        EventStreams.TypedEvent(2, "v", 10, 0L)))
      q.processAllAvailable()
      input.addData(Seq(
        EventStreams.TypedEvent(1, "c", 3, 200 * sec),
        EventStreams.TypedEvent(1, "c", 4, 90 * sec),
        EventStreams.TypedEvent(2, "v", 11, sec)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("wmlate")
      .select("event_id", "late_us").as[(Long, Long)].collect().toMap
    assert(streamed === Map(1L -> 0L, 2L -> 50000000L, 3L -> 0L,
      4L -> 110000000L, 10L -> 0L, 11L -> 0L))
    // ≡ the batch curve on the same closed corpus
    val batchDf = Seq(
      (1L, 1L, 100L * sec), (1L, 2L, 50L * sec), (1L, 3L, 200L * sec),
      (1L, 4L, 90L * sec), (2L, 10L, 0L), (2L, 11L, sec))
      .toDF("user_id", "event_id", "ts_ns")
      .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
    val delays = Seq(0L, 60000000L, 300000000L)
    val batch = graft.operators.Sessions.watermarkCurve(batchDf, delays)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val folded = delays.map { d =>
      val n = streamed.size.toLong
      val dr = streamed.values.count(_ > d).toLong
      (d, n, dr, dr * 1000000L / n)
    }
    assert(batch === folded)
  }

  test("newVsReturningStream tags the first-ever event across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.TypedEvent]
    val out = EventStreams.newVsReturningStream(input.toDS())
    val q = out.toDF().writeStream.format("memory").queryName("newret")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1's first event in batch 1; batch 2 must read the seen
      // flag back from state — and user 3's two same-batch events must
      // split new/returning by the (ts, id) sort, not arrival order
      input.addData(Seq(
        EventStreams.TypedEvent(1, "view", 1, 10L),
        EventStreams.TypedEvent(2, "view", 2, 10L)))
      q.processAllAvailable()
      input.addData(Seq(
        EventStreams.TypedEvent(1, "click", 3, 20L),
        EventStreams.TypedEvent(3, "view", 5, 40L), // later ts, added first
        EventStreams.TypedEvent(3, "view", 4, 30L)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("newret")
      .select("event_id", "is_new").as[(Long, Int)].collect().toMap
    assert(streamed === Map(1L -> 1, 2L -> 1, 3L -> 0, 4L -> 1, 5L -> 0))
  }

  // ———— watermark sizing closes the measured-lateness loop ————
  // x196 latenessProfile exists to SIZE withWatermark delays; these two
  // tests wire its output into the consumers and assert the late-drop
  // behavior the profile predicts, on a disordered corpus replayed one
  // arrival per micro-batch (which makes the stream's watermark = the
  // profile's prev-arrival running max minus the delay, exactly).

  /** Disordered arrival sequence: second-offsets in ARRIVAL order
    * (event_id = arrival rank). Lateness per arrival = (running max of
    * previous offsets − offset)⁺: twelve zeros plus 5,6,6,6,7,7,14,15
    * → p900 = 7 s, p1000 = 15 s. Every event time carries +500 ms so
    * no lateness ever ties a whole-second watermark boundary. */
  private val disorderedK = Seq(
    10L, 11L, 12L, 20L, 13L, 14L, 21L, 22L, 15L, 23L,
    30L, 24L, 25L, 31L, 16L, 32L, 33L, 40L, 34L, 26L)

  private def disorderedEvs: Seq[Ev] =
    disorderedK.zipWithIndex.map { case (k, i) =>
      Ev(i + 1L, new Timestamp(ts("2024-01-01 00:00:00").getTime
        + k * 1000L + 500L), 1, "a", 1.0)
    }

  test("latenessProfile p-quantiles size tumblingCounts' watermark: " +
    "p900 drops exactly the predicted tail, p1000 drops nothing") {
    implicit val sqlCtx = spark.sqlContext
    // measure the disorder with the batch profiler (bucketWidth 1 =
    // per-arrival resolution, the one-event-per-micro-batch analog)
    val profile = graft.operators.Sessions.latenessProfile(
      evDf(disorderedEvs), bucketWidth = 1L)
      .as[(String, Long, Long)].collect()
      .map(t => t._2 -> t._3).toMap
    assert(profile(900L) === 7000000L && profile(1000L) === 15000000L)
    val sentinel = Ev(99, ts("2024-01-01 02:00:00"), 9, "other", 0.0)
    def streamKept(delaySec: Long): Set[Long] = {
      val input = MemoryStream[Ev]
      val name = s"wmsized_$delaySec"
      val windowed = EventStreams.tumblingCounts(
        input.toDF(), windowLen = "1 second", watermark = s"$delaySec seconds")
      runBatches(input, name, windowed, OutputMode.Append(),
        disorderedEvs.map(Seq(_)) :+ Seq(sentinel))
      spark.table(name).filter(col("event_type") === "a")
        .select(col("window.start").cast("long")).as[Long].collect()
        .map(s => s - ts("2024-01-01 00:00:00").getTime / 1000L).toSet
    }
    // the profile's prediction: with delay d an arrival is dropped iff
    // its measured lateness exceeds d (the +500 ms skew keeps every
    // comparison strictly off the boundary)
    def predictedKept(delaySec: Long): Set[Long] = {
      var prevMax = -1L  // before any arrival: nothing can be late
      disorderedK.flatMap { k =>
        val late = math.max(0L, prevMax - k)
        prevMax = math.max(prevMax, k)
        if (late > delaySec) None else Some(k)
      }.toSet
    }
    val d900 = profile(900L) / 1000000L   // 7 s: lateness 14 and 15 drop
    assert(streamKept(d900) === predictedKept(d900))
    assert(predictedKept(d900) === disorderedK.toSet -- Set(16L, 26L))
    val d1000 = profile(1000L) / 1000000L // 15 s: nothing drops
    assert(streamKept(d1000) === disorderedK.toSet)
  }

  test("latenessProfile p1000 sizes dedupWithinWatermark for zero loss: " +
    "every duplicate suppressed, every distinct event kept") {
    implicit val sqlCtx = spark.sqlContext
    val profile = graft.operators.Sessions.latenessProfile(
      evDf(disorderedEvs), bucketWidth = 1L)
      .as[(String, Long, Long)].collect()
      .map(t => t._2 -> t._3).toMap
    // +1 s over the measured maximum keeps the guarantee strict even
    // at the boundary — the sizing rule a deployment would ship
    val delaySec = profile(1000L) / 1000000L + 1L
    val input = MemoryStream[Ev]
    val deduped = EventStreams.dedupWithinWatermark(
      input.toDF(), watermark = s"$delaySec seconds")
    // replay each arrival twice (original then its duplicate, same
    // event_id and ts) one micro-batch apart, then the closer
    val sentinel = Ev(99, ts("2024-01-01 02:00:00"), 9, "other", 0.0)
    val batches = disorderedEvs.flatMap(e => Seq(Seq(e), Seq(e))) :+ Seq(sentinel)
    runBatches(input, "wmdedup", deduped, OutputMode.Append(), batches)
    val ids = spark.table("wmdedup").select("event_id")
      .as[Long].collect().toSeq
    assert(ids.size === ids.distinct.size, "a duplicate slipped through")
    assert(ids.toSet === (disorderedEvs.map(_.event_id).toSet + 99L),
      "an event was late-dropped despite the p1000-sized watermark")
  }

  test("rollingMedianStream matches the batch rolling median across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.ValueEvent]
    val out = EventStreams.rollingMedianStream(input.toDS(), window = 3)
    val q = out.toDF().writeStream.format("memory").queryName("rollmed")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1 opens the frame; batch 2 MUST extend it from state
      input.addData(Seq(
        EventStreams.ValueEvent(1L, 1L, 10L, 100L),
        EventStreams.ValueEvent(1L, 2L, 20L, 500L),
        EventStreams.ValueEvent(2L, 5L, 10L, 250L)))
      q.processAllAvailable()
      input.addData(Seq(
        EventStreams.ValueEvent(1L, 3L, 30L, 300L),
        EventStreams.ValueEvent(1L, 4L, 40L, 900L)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("rollmed")
      .select("event_id", "n_window", "med_cents")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // batch twin on the same rows (values chosen so cents(v) = v_cents)
    val batch = graft.operators.Sessions.rollingMedian(
      Seq((1L, 1L, 10L, 1.0), (1L, 2L, 20L, 5.0), (2L, 5L, 10L, 2.5),
        (1L, 3L, 30L, 3.0), (1L, 4L, 40L, 9.0))
        .toDF("user_id", "event_id", "ts_ns", "value"), window = 3)
      .select("event_id", "n_window", "med_cents")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(streamed === batch)
    assert(streamed === Seq((1L, 1L, 100L), (2L, 2L, 100L), (3L, 3L, 300L),
      (4L, 3L, 500L), (5L, 1L, 250L)))
  }

  test("quantileGateStream ≡ paneSlidingQuantile at one-pane windows; clamp + breach") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    // 1-minute windows; in-range values only for the equivalence leg
    val gated = EventStreams.quantileGateStream(input.toDF(),
      binWidth = 100L, nBins = 8, permille = 500, barLoValue = 200L,
      windowLen = "1 minute", watermark = "0 seconds")
    val rows = Seq(
      Ev(1, ts("2024-01-01 00:00:05"), 1, "x", 1.0),
      Ev(2, ts("2024-01-01 00:00:15"), 1, "x", 2.0),
      Ev(3, ts("2024-01-01 00:00:25"), 1, "x", 3.0),   // win A: med bin 2
      Ev(4, ts("2024-01-01 00:01:05"), 1, "x", 5.0),
      Ev(5, ts("2024-01-01 00:01:15"), 1, "x", 6.0))   // win B: med bin 5 → breach
    runBatches(input, "qgate", gated, OutputMode.Append(),
      Seq(rows, Seq(Ev(9, ts("2024-01-01 02:00:00"), 9, "x", 0.0))))
    val streamed = spark.table("qgate")
      .select("window_start", "n_events", "bin", "lo_value", "breach")
      .as[(Timestamp, Long, Long, Long, Int)].collect().toSeq
      .sortBy(_._1.getTime).take(2)
    assert(streamed.map(t => (t._2, t._3, t._4, t._5))
      === Seq((3L, 2L, 200L, 0), (2L, 5L, 500L, 1)))
    // the batch face: same histogram read at windowPanes = 1
    val batch = graft.operators.Incremental.paneSlidingQuantile(
      rows.map(e => (e.ts, e.event_type, e.value))
        .toDF("ts", "event_type", "value"),
      paneMicros = 60000000L, windowPanes = 1,
      valueCol = graft.queries.Relational.cents(col("value")),
      binWidth = 100L, permilles = Seq(500))
      .select("win_end_pane", "n", "bin", "lo_value")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(batch.map(t => (t._2, t._3, t._4))
      === streamed.map(t => (t._2, t._3, t._4)),
      "the stream gate and the batch pane read must agree on the shared grid")
    assert(batch.map(_._1) === streamed.map(
      t => t._1.getTime * 1000L / 60000000L),
      "1-pane windows must align with the epoch-aligned stream windows")
  }
}

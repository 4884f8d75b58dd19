package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.{GraftSession, Tables}
import graft.etl.{EtlConfig, Pipeline}
import graft.streaming.EventStreams

/** JVM side of the benchmark: runs one workload in one JVM on
  * `local[cores]` through the engine's public entry points only, times a
  * closed loop of operations with one caller, and writes what it saw to
  * `<work>/result.json`. Inputs are generated, and outputs checked, by
  * `run.py`; this side only reports the observations the check needs.
  *
  * Usage: perfbench.Main --workload <name> --seconds <s> --trace <0|1>
  *                       --work <dir> --cores <n>
  *        perfbench.Main --dump-oracle <file>
  *
  * The `pipeline_check` workload runs `Pipeline.run`, and then the traced
  * run's layered calls, over `<work>/fixture`; the benchmark's self-tests
  * compare both with the oracle and their job counts with each other.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.get("dump-oracle") match {
      case Some(file) => dumpOracle(Paths.get(file))
      case None =>
        val h = new Harness(Paths.get(a("work")), a("seconds").toDouble, a("trace") == "1")
        val spark = h.startSession(a("cores").toInt)
        try {
          a("workload") match {
            case "etl_batch" => h.etlBatch(spark)
            case "board_core" => h.boardCore(spark)
            case "pipeline_check" => h.pipelineCheck(spark)
            case w => throw new IllegalArgumentException(s"unknown workload $w")
          }
          h.writeResult(spark)
        } finally spark.stop()
    }
  }

  /** The DuckDB oracle SQL of the core board queries (`q*`), by query id. */
  private def dumpOracle(file: Path): Unit = {
    val core = SparkEntry.oracleSql.filter { case (id, _) => id.matches("q\\d+_.*") }
    Files.writeString(file, new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(core))
  }
}

final class Harness(work: Path, seconds: Double, traced: Boolean) {
  /** ETL warm-up: full-size runs until one spends less than `JitSettledS`
    * compiling JIT code, at most `MaxWarmups`. On a 4-core host successive
    * runs compile about 36, 13, 8, 6, 6 and 4 s and take 17-20, 6-8, then
    * 5-6.5 s: run time levels off after two or three runs, compile time
    * only slowly. Waiting longer, or a third timed run, does not fit the
    * time the benchmark's runs have. */
  private val JitSettledS = 10.0
  private val MaxWarmups = 3

  private val jitBean = ManagementFactory.getCompilationMXBean
  private val warmups = mutable.ArrayBuffer.empty[(Double, Double)]

  /** Runs one warm-up step; records its seconds and JIT compile seconds. */
  private def warmUp(body: => Unit): Unit = {
    val jit0 = jitBean.getTotalCompilationTime
    val (s, _) = timeIt(body)
    warmups += ((s, (jitBean.getTotalCompilationTime - jit0) / 1e3))
  }

  private val mainEpochMs = System.currentTimeMillis()
  private val spans = new Spans
  private val ledger = if (traced) Some(new Ledger) else None
  private val result = mutable.LinkedHashMap.empty[String, Any]
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val opLayers = mutable.ArrayBuffer.empty[Map[String, Double]]
  private var heapMaxMb = 0.0
  private val heapSamples = mutable.ArrayBuffer.empty[Double]
  private var jobsAtReady = 0

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs = cpuBean.getProcessCpuTime
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def startSession(cores: Int): SparkSession = {
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores)
    result("session_start_s") = (System.nanoTime() - t0) / 1e9
    ledger.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(l)
    }
    spark
  }

  /** Runs `body` as one call into `layer`: jobs it launches are attributed
    * to the layer, and the traced run records a span around it. */
  private def layer[T](spark: SparkSession, name: String)(body: => T): T = {
    if (!traced) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Ledger.LayerProp)
      sc.setLocalProperty(Ledger.LayerProp, name)
      try spans(name)(body) finally sc.setLocalProperty(Ledger.LayerProp, prev)
    }
  }

  /** Largest heap in use right after a forced full GC; taken between
    * operations, outside the clock. Memory the last query held is released
    * asynchronously (Spark's context cleaner, queued listener events) and
    * can take several GCs: after draining the listener bus, GCs 200 ms
    * apart run until three in a row free less than 1 MB each. With one GC
    * the board read 33 MB high in a third of the runs. */
  private def sampleHeap(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    def usedAfterGc() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var used = usedAfterGc()
    var stable = 0
    var rounds = 0
    while (stable < 3 && rounds < 15) {
      Thread.sleep(200)
      val next = usedAfterGc()
      stable = if (next > used - 1.0) stable + 1 else 0
      used = math.min(used, next)
      rounds += 1
    }
    heapMaxMb = math.max(heapMaxMb, used)
    heapSamples += used
  }

  private def markReady(spark: SparkSession): Unit = {
    ledger.foreach(_.take(spark))
    jobsAtReady = jobCount(spark)
    result("ready_epoch_ms") = System.currentTimeMillis()
    result("jvm_to_ready_s") = (System.currentTimeMillis() - mainEpochMs) / 1e3
  }

  /** Jobs launched so far, read from Spark's own status store (so the
    * untraced run can report it without a listener of its own). */
  private def jobCount(spark: SparkSession): Int = {
    val st = spark.sparkContext.statusTracker
    val ids = st.getJobIdsForGroup(null) ++ st.getActiveJobIds()
    if (ids.isEmpty) 0 else ids.max + 1
  }

  /** Closed loop with one caller: operations run back to back until the
    * timed seconds reach the budget and at least `minOps` ran. `op` runs one
    * timed operation and returns its seconds and a check that gathers the
    * observations the oracle needs; the check runs after the operation's
    * CPU, JIT and GC time, jobs and (traced) layer counters are taken. */
  private def closedLoop(spark: SparkSession, minOps: Int)(
      op: Int => (Double, () => Map[String, Any])): Unit = {
    var clock = 0.0
    var i = 0
    while (i < minOps || clock < seconds) {
      sampleHeap(spark)
      spans.runId = i
      val (gc0, cpu0, jit0) = (gcMs, cpuNs, jitBean.getTotalCompilationTime)
      val jobs0 = jobCount(spark)
      val (s, check) = spans("op")(op(i))
      val jobs = jobCount(spark) - jobs0
      val cpu = (cpuNs - cpu0) / 1e9
      val gc = (gcMs - gc0) / 1e3
      val jit = (jitBean.getTotalCompilationTime - jit0) / 1e3
      val counters = ledger.map(_.take(spark))
      val obs = check()
      ledger.foreach(_.take(spark)) // the check's own jobs count nowhere
      clock += s
      ops += obs ++ Map("s" -> s, "cpu_s" -> cpu, "gc_s" -> gc, "jit_s" -> jit, "jobs" -> jobs)
      counters.foreach(c => opLayers += layerMetrics(c, spans.selfSeconds(i), obs) ++
        Map("jvm.gc_s" -> gc, "jvm.cpu_s" -> cpu, "jvm.jit_s" -> jit))
      i += 1
    }
    sampleHeap(spark)
  }

  private def timeIt[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Per-layer metrics of one operation from the ledger's counters, the
    * spans' self times and the workload's own counts. */
  private def layerMetrics(counters: Map[String, Double], self: Map[String, Double],
                           obs: Map[String, Any]): Map[String, Double] = {
    val c = counters.withDefaultValue(0.0)
    def sum(suffix: String, layers: String => Boolean = _ => true) =
      c.collect { case (k, v) if k.endsWith("." + suffix) && layers(k.takeWhile(_ != '.')) => v }.sum
    val notBuild = (l: String) => l != "build" && l != "tables"
    val num = obs.collect { case (k, v: Number) if k.contains('.') => k -> v.doubleValue }
    num ++ Map(
      "plan.analysis_s" -> c("plan.analysis_s"),
      "plan.optimize_s" -> c("plan.optimize_s"),
      "plan.physical_s" -> c("plan.physical_s"),
      "plan.exchanges" -> c("plan.exchanges"),
      "build.s" -> self.getOrElse("build", 0.0),
      "build.jobs" -> c("build.jobs"),
      "exec.s" -> sum("job_s", notBuild),
      "exec.jobs" -> sum("jobs", notBuild),
      "exec.stages" -> sum("stages", notBuild),
      "exec.tasks" -> sum("tasks", notBuild),
      "exec.task_cpu_s" -> sum("task_cpu_s", notBuild),
      "exec.gc_s" -> sum("gc_s", notBuild),
      "shuffle.write_bytes" -> sum("shuffle_write_bytes"),
      "shuffle.read_bytes" -> sum("shuffle_read_bytes"),
      "shuffle.spill_bytes" -> sum("spill_bytes"),
      "extract.s" -> self.getOrElse("extract", 0.0),
      "extract.tasks" -> c("extract.tasks"),
      "transform.s" -> self.getOrElse("transform", 0.0),
      "validate.s" -> self.getOrElse("validate", 0.0),
      "upsert.s" -> self.getOrElse("upsert", 0.0),
      "upsert.jobs" -> c("upsert.jobs"),
      "upsert.read_bytes" -> c("upsert.input_bytes"),
      "upsert.write_bytes" -> c("upsert.output_bytes"),
      "upsert.write_amp" -> num.get("extract.input_bytes").filter(_ > 0)
        .map(c("upsert.output_bytes") / _).getOrElse(0.0),
      "harness.self_s" -> self.getOrElse("op", 0.0))
  }

  // ---- ETL helpers ---------------------------------------------------------

  private val cfg = EtlConfig(apiKey = "perfbench")

  private def pageFiles(dir: Path): Seq[File] =
    Option(dir.toFile.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.getName.startsWith("page-") && f.getName.endsWith(".json"))

  private def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  private def parquetFiles(f: File): Int =
    Option(f.listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)

  private def deleteTree(f: File): Unit = graft.core.Fs.deleteRecursively(f)

  /** Order-independent hash of (pulse_id, pulse_name, indicator_count):
    * the sum mod 2^64 of the first 8 bytes of each row's SHA-256, nulls
    * written as \N. `fixtures.py` computes the same over its expected
    * state. */
  private def snapshotCheck(spark: SparkSession, dir: String): Map[String, Any] = {
    val rows = spark.read.parquet(dir)
      .select("pulse_id", "pulse_name", "indicator_count").collect()
    val md = MessageDigest.getInstance("SHA-256")
    var h = 0L
    var keyless = 0L
    rows.foreach { r =>
      def f(i: Int) = if (r.isNullAt(i)) "\\N" else r.get(i).toString
      if (r.isNullAt(0)) keyless += 1
      val d = md.digest(s"${f(0)}\u001f${f(1)}\u001f${f(2)}".getBytes(StandardCharsets.UTF_8))
      h += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    Map("rows" -> rows.length, "hash" -> java.lang.Long.toUnsignedString(h), "keyless" -> keyless)
  }

  // ---- etl_batch -----------------------------------------------------------

  /** `Pipeline.run`'s calls in `Pipeline.run`'s order, each inside the
    * span of its layer, so the traced run does the untraced run's work and
    * launches the same jobs. Extract and transform are lazy; their work
    * runs in the first action, the quarantine count, which scans the
    * source, decodes and transforms the pages and fills the cache, and is
    * counted as `extract`. */
  private def layeredRun(spark: SparkSession, fx: Path, snap: String): (Long, Long) = {
    val raw = layer(spark, "extract")(Pipeline.extract(spark, fx.toString, cfg))
    val t = layer(spark, "transform")(Pipeline.transform(raw, cfg).cache())
    try {
      val (valid, quarantine) = layer(spark, "validate")(Pipeline.validate(t))
      val q = layer(spark, "extract")(quarantine.count())
      layer(spark, "upsert")(Pipeline.upsert(spark, valid, snap, maxRecordsPerFile = cfg.batchSize))
      (layer(spark, "validate")(valid.count()), q)
    } finally { t.unpersist(); () }
  }

  private def runOnce(spark: SparkSession, fx: Path, snap: String): (Long, Long) =
    if (traced) layeredRun(spark, fx, snap) else Pipeline.run(spark, fx.toString, snap, cfg)

  /** One operation = one `Pipeline.run` over a generated 100-page fixture
    * into an empty snapshot. */
  def etlBatch(spark: SparkSession): Unit = {
    val fixtures = Option(work.resolve("fixtures").toFile.listFiles()).map(_.toSeq.sortBy(_.getName))
      .getOrElse(Nil).map(_.toPath).filter(_.getFileName.toString.startsWith("fx-"))
    require(fixtures.nonEmpty, s"no fixtures under $work/fixtures")
    // a run is slower while the JIT still compiles much in it
    while (warmups.isEmpty || (warmups.size < MaxWarmups && warmups.last._2 >= JitSettledS)) {
      val snap = work.resolve("snap-warm-up")
      warmUp(runOnce(spark, work.resolve("fixtures").resolve("warm-up"), snap.toString))
      deleteTree(snap.toFile)
    }
    markReady(spark)
    closedLoop(spark, minOps = 2) { i =>
      val fx = fixtures(i % fixtures.size)
      val snap = work.resolve(s"snap-$i").toString
      val (s, (valid, quarantined)) = timeIt(runOnce(spark, fx, snap))
      (s, () => {
        val jsonBytes = pageFiles(fx).map(_.length).sum.toDouble
        val obs = Map[String, Any]("fixture" -> fx.getFileName.toString, "valid" -> valid,
          "quarantined" -> quarantined) ++ snapshotCheck(spark, snap) ++ Map(
          "extract.pages" -> pageFiles(fx).size, "extract.input_bytes" -> jsonBytes,
          "validate.valid_rows" -> valid, "validate.quarantined_rows" -> quarantined,
          "upsert.files_written" -> parquetFiles(new File(snap)),
          "snapshot.bytes_per_input_byte" -> bytesUnder(new File(snap)) / jsonBytes)
        deleteTree(new File(snap))
        obs
      })
    }
    if (traced) streamPass(spark, fixtures.head)
  }

  /** `Pipeline.run` and then the traced run's layered calls over
    * `<work>/fixture`, each into its own snapshot: the self-tests compare
    * both with the oracle, and their job counts with each other. */
  def pipelineCheck(spark: SparkSession): Unit = {
    val fx = work.resolve("fixture")
    result("check") = Seq("run" -> ((snap: String) => Pipeline.run(spark, fx.toString, snap, cfg)),
      "layered" -> ((snap: String) => layeredRun(spark, fx, snap))).map { case (name, call) =>
      val snap = work.resolve("snapshot-" + name).toString
      val jobs0 = jobCount(spark)
      val (valid, quarantined) = call(snap)
      val jobs = jobCount(spark) - jobs0
      name -> (snapshotCheck(spark, snap) ++ Map("valid" -> valid, "quarantined" -> quarantined,
        "jobs" -> jobs))
    }.toMap
  }

  /** Traced run only: the streaming layer on the same input. The pages of
    * `fx` are appended 10 at a time to the source directory of
    * `EventStreams.etlStream` over an empty snapshot; each append waits in
    * `processAllAvailable`. The final snapshot equals a batch run's. */
  private def streamPass(spark: SparkSession, fx: Path): Unit = {
    val snap = work.resolve("stream-snapshot").toString
    val src = Files.createDirectories(work.resolve("stream-source"))
    val groups = pageFiles(fx).sortBy(_.getName.stripPrefix("page-").stripSuffix(".json").toInt)
      .grouped(10).toSeq
    val prev = spark.sparkContext.getLocalProperty(Ledger.LayerProp)
    spark.sparkContext.setLocalProperty(Ledger.LayerProp, null) // the stream thread inherits it
    val raw = spark.readStream.format("graft.sources.PagedJsonSource")
      .option("path", src.toString).option("maxPages", cfg.maxPages).load()
    val q = EventStreams.etlStream(raw, cfg, snap)
      .option("checkpointLocation", work.resolve("stream-checkpoint").toString).start()
    spark.sparkContext.setLocalProperty(Ledger.LayerProp, prev)
    val marker = new File(snap + ".batchid")
    var seenBatch = -1L
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val appends = try groups.map { pages =>
      val before = if (marker.exists()) Files.readString(marker.toPath).trim.toLong else -1L
      val t0 = System.nanoTime()
      pages.foreach { p =>
        val tmp = src.resolve("." + p.getName)
        Files.copy(p.toPath, tmp)
        Files.move(tmp, src.resolve(p.getName), StandardCopyOption.ATOMIC_MOVE)
      }
      q.processAllAvailable()
      val s = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.filter(p => p.batchId > seenBatch && p.numInputRows > 0)
      seenBatch = (seenBatch +: q.recentProgress.map(_.batchId)).max
      Map("stream.append_s" -> s,
        "stream.batches_per_append" -> progress.length.toDouble,
        "stream.add_batch_ms" -> progress.map(dur(_, "addBatch")).sum,
        "stream.overhead_ms" -> progress.map(p => dur(p, "triggerExecution") - dur(p, "addBatch")).sum,
        "stream.input_rows" -> progress.map(_.numInputRows).sum.toDouble,
        "stream.marker_skips" -> progress.count(_.batchId <= before).toDouble)
    } finally q.stop()
    val c = ledger.get.take(spark).withDefaultValue(0.0)
    result("stream") = appends.flatMap(_.keys).distinct.map(k => k -> median(appends.map(_(k)))).toMap ++
      Map("stream.jobs" -> c("stream.jobs") / appends.size,
        "stream.task_cpu_s" -> c("stream.task_cpu_s") / appends.size)
    result("stream_final") = snapshotCheck(spark, snap) ++ Map(
      "fixture" -> fx.getFileName.toString,
      "quarantined" -> spark.read.parquet(snap + ".quarantine").count())
  }

  // ---- board_core ----------------------------------------------------------

  /** One operation = one pass over the queries in the seed's order, each
    * built through `SparkEntry.queries` and run with `count()`. Set-up
    * writes every query's result for the oracle check, which warms up. */
  def boardCore(spark: SparkSession): Unit = {
    val tables = work.resolve("tables").toString
    val order = Files.readAllLines(work.resolve("order.txt")).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    val results = work.resolve("results")
    warmUp(order.foreach { id =>
      SparkEntry.queries(id)(spark, tables).coalesce(1).write.mode("overwrite")
        .parquet(results.resolve(id).toString)
    })
    if (traced) {
      // direct calls into core.Tables: time and jobs per call
      val loads = (1 to 3).flatMap(_ => Tables.all.map { t =>
        val (s, _) = timeIt(layer(spark, "tables")(Tables.load(spark, tables, t)))
        s
      })
      val jobs = ledger.get.take(spark).getOrElse("tables.jobs", 0.0)
      result("tables") = Map("tables.load_s" -> median(loads), "tables.load_jobs" -> jobs / loads.size)
    }
    markReady(spark)
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    // two passes at least: a query's median over them is steadier than one
    // time, and the first pass after the result pass is about as fast as
    // the next
    closedLoop(spark, minOps = 2) { _ =>
      val counts = mutable.LinkedHashMap.empty[String, Any]
      var passS = 0.0
      order.foreach { id =>
        val t0 = System.nanoTime()
        val n = try {
          val df = layer(spark, "build")(SparkEntry.queries(id)(spark, tables))
          layer(spark, "exec")(df.count())
        } catch { case e: Exception => System.err.println(s"$id failed: $e"); -1L }
        val s = (System.nanoTime() - t0) / 1e9
        passS += s
        times.getOrElseUpdate(id, mutable.ArrayBuffer.empty) += s
        counts(id) = n
      }
      (passS, () => Map("counts" -> counts.toMap))
    }
    result("query_median_s") = times.map { case (k, v) => k -> median(v.toSeq) }.toMap
    result("jobs_timed") = jobCount(spark) - jobsAtReady
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def writeResult(spark: SparkSession): Unit = {
    result("main_epoch_ms") = mainEpochMs
    result("warmups") = warmups.map { case (s, j) => Seq(s, j) }.toSeq
    result("ops") = ops.toSeq
    result("heap_max_mb") = heapMaxMb
    result("heap_samples_mb") = heapSamples.toSeq
    result.getOrElseUpdate("jobs_timed", jobCount(spark) - jobsAtReady)
    if (traced) {
      val keys = opLayers.flatMap(_.keys).distinct
      val layers = keys.map(k => k -> median(opLayers.map(_.getOrElse(k, 0.0)).toSeq)).toMap
      result("layers") = layers ++
        result.get("tables").map(_.asInstanceOf[Map[String, Double]]).getOrElse(Map.empty) ++
        result.get("stream").map(_.asInstanceOf[Map[String, Double]]).getOrElse(Map.empty) ++
        Map("session.start_s" -> result("session_start_s").asInstanceOf[Double])
      result("spans") = spans.all.size
    }
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val tmp = work.resolve("result.json.tmp")
    Files.writeString(tmp, mapper.writeValueAsString(result))
    Files.move(tmp, work.resolve("result.json"), StandardCopyOption.ATOMIC_MOVE)
  }
}

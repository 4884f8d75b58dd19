package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Streaming THROUGHPUT bench — the measurement the r13 verdict called
  * the last 100 TB surface with zero numbers: every stateful
  * EventStreams path has a ≡-batch correctness twin (StreamingSpec),
  * but no rows/s or state-size figure existed for any of them. This
  * main feeds the REAL corpus (events / documents at the given sf dir,
  * or the ScaleUp 10× corpus) through each path as a genuine
  * micro-batched file stream and reports, per path: input rows, wall
  * seconds across all micro-batches, rows/s, and the state operator's
  * peak row count and bytes (from StreamingQueryProgress — the numbers
  * a capacity plan actually needs: state size decides whether the
  * 100 TB deployment fits executor memory or needs RocksDB).
  *
  * Method: the corpus is staged once (untimed) as `NFiles` parquet
  * files; each path streams it via `maxFilesPerTrigger = 2` (so state
  * genuinely carries across micro-batches — a single mega-batch would
  * measure the batch engine, not the streaming path), sinks to `noop`
  * (no collect, no write amplification), and the clock covers
  * `start → processAllAvailable`. One warm pass of the first path
  * absorbs session/codegen startup before anything is timed.
  *
  * Paths (the r13 ask list): dedupWithinWatermark, dedupAgainstHistory,
  * debounceStream, latenessStream, volumeAnomalyStream (the windowed
  * gate). Usage:
  * `SPARK_GRAFT_SF_DIR=… runMain graft.StreamBench`; writes
  * `SPARK_GRAFT_OUT` (default BENCH_streaming.json) and prints the
  * one-line JSON.
  */
object StreamBench {
  private val NFiles = 16

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_sb_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** One path's measurement: wall clock, input rows, state-operator
    * peaks and the per-micro-batch duration percentiles. */
  private case class PathResult(name: String, wall: Double, rows: Long,
                                stateRows: Long, stateBytes: Long,
                                p50Ms: Long, p99Ms: Long)

  /** Nearest-rank percentile over the observed batch durations — with
    * ~8 micro-batches per run p99 is effectively the max, which is the
    * honest spelling of "worst batch" at this sample size. */
  private def pctile(sorted: Seq[Long], p: Int): Long =
    if (sorted.isEmpty) -1L
    else sorted(math.min(sorted.size - 1,
      math.ceil(p / 100.0 * sorted.size).toInt - 1).max(0))

  /** Run one streaming DataFrame to the noop sink, clock
    * start→processAllAvailable, and pull state-operator peaks + batch
    * latency percentiles from the progress history. */
  private def runOne(name: String, out: DataFrame,
                     inputRows: Long): PathResult = {
    val q = out.writeStream.format("noop")
      .option("checkpointLocation", tmpDir(s"ck_$name"))
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .start()
    val t0 = System.nanoTime()
    try q.processAllAvailable()
    finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toSeq
    val stateRows = progress.flatMap(_.stateOperators.map(_.numRowsTotal))
      .foldLeft(0L)(math.max)
    val stateBytes = progress.flatMap(_.stateOperators.map(_.memoryUsedBytes))
      .foldLeft(0L)(math.max)
    // latency percentiles over DATA batches only: the tail no-data
    // batch the engine runs to settle watermarks measures bookkeeping,
    // not the path
    val durations = progress.filter(_.numInputRows > 0)
      .map(_.batchDuration).sorted
    val (p50, p99) = (pctile(durations, 50), pctile(durations, 99))
    System.err.println(f"[streambench] $name: $inputRows rows in $wall%.2f s " +
      f"(${inputRows / wall}%.0f rows/s, ${durations.size} batches, " +
      f"batch p50 $p50 ms / p99 $p99 ms, " +
      f"state $stateRows rows / $stateBytes B)")
    PathResult(name, wall, inputRows, stateRows, stateBytes, p50, p99)
  }

  /** Stage one corpus dir and measure every path over it. `warm`
    * runs the untimed startup pass (first scale only — later scales
    * reuse the hot session/codegen, which is exactly the comparable
    * condition a per-scale ladder wants). */
  private def runScale(spark: SparkSession, sfDir: String,
                       warm: Boolean): Seq[PathResult] = {
    import spark.implicits._

    // ---- staging (untimed): normalized corpus as NFiles parquet files
    val evStage = tmpDir("events")
    graft.core.Tables.events(spark, sfDir)
      .repartition(NFiles).write.mode("overwrite").parquet(evStage)
    val docStage = tmpDir("docs")
    val docs = graft.core.Tables.documents(spark, sfDir)
    docs.filter(pmod(col("doc_id"), lit(2L)) === 1L)
      .repartition(NFiles).write.mode("overwrite").parquet(docStage)
    // history side of the stream-static anti join: the even half's
    // fingerprint store (static, broadcast-eligible at this size;
    // bucketed-on-fp at corpus scale per the operator's scaladoc)
    val historyFps = docs.filter(pmod(col("doc_id"), lit(2L)) === 0L)
      .select(md5(col("text")).as("fp")).distinct()
    historyFps.persist().count()
    val evRows = spark.read.parquet(evStage).count()
    val docRows = spark.read.parquet(docStage).count()
    val evSchema = spark.read.parquet(evStage).schema
    val docSchema = spark.read.parquet(docStage).schema

    def evStream: DataFrame = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", "2").parquet(evStage)
    def typedStream: Dataset[EventStreams.TypedEvent] = evStream
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts_ns"))
      .as[EventStreams.TypedEvent]

    // volume-gate reference from the batch side (the operator's
    // documented batch→stream loop), bounded to |event_type| rows
    val ref = spark.read.parquet(evStage)
      .filter(col("event_type").isNotNull)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(avg("n").as("m"), coalesce(stddev_pop("n"), lit(0d)).as("s"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap

    val paths: Seq[(String, () => DataFrame, Long)] = Seq(
      ("dedup_within_watermark",
        () => EventStreams.dedupWithinWatermark(evStream, "10 minutes"), evRows),
      ("dedup_against_history",
        () => EventStreams.dedupAgainstHistory(
          spark.readStream.schema(docSchema)
            .option("maxFilesPerTrigger", "2").parquet(docStage), historyFps),
        docRows),
      ("debounce",
        () => EventStreams.debounceStream(typedStream,
          gapNs = 60L * 1000000000L).toDF(), evRows),
      ("lateness",
        () => EventStreams.latenessStream(typedStream).toDF(), evRows),
      ("volume_gate",
        () => EventStreams.volumeAnomalyStream(evStream, ref), evRows),
      // the round-14-continuation twins: per-user bounded-frame state
      // and the windowed histogram gate
      ("rolling_median",
        () => EventStreams.rollingMedianStream(evStream
          .filter(col("user_id").isNotNull && col("value").isNotNull)
          .select(col("user_id"), col("event_id"), col("ts_ns"),
            graft.queries.Relational.cents(col("value")).as("v_cents"))
          .as[EventStreams.ValueEvent]).toDF(), evRows),
      ("quantile_gate",
        () => EventStreams.quantileGateStream(evStream, binWidth = 2048L,
          nBins = 16, permille = 950, barLoValue = 20000L), evRows))

    // warm pass: session + codegen + parquet-footer startup, untimed
    if (warm) runOne("warmup", paths.head._2(), paths.head._3)

    val rs = paths.map { case (name, mk, rows) => runOne(name, mk(), rows) }
    historyFps.unpersist()
    rs
  }

  private def pathsJson(results: Seq[PathResult], indent: String): String =
    results.map { r =>
      f"""$indent"${r.name}":{"rows":${r.rows},"wall_sec":${r.wall}%.3f,""" +
        f""""rows_per_sec":${(r.rows / r.wall).toLong},""" +
        f""""batch_ms_p50":${r.p50Ms},"batch_ms_p99":${r.p99Ms},""" +
        f""""state_rows":${r.stateRows},"state_bytes":${r.stateBytes}}"""
    }.mkString(",\n")

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    val outPath = Harness.out().getOrElse("BENCH_streaming.json")
    // the scale ladder (the ×10/×100 decade evidence the batch tiers
    // already carry): a per-scale section after the base run — same
    // paths, same protocol, one hot session
    val scales = Harness.streamScales()
    val spark = Harness.session()

    val results = runScale(spark, sfDir, warm = true)
    val total = results.map(_.wall).sum
    val scaleResults = scales.map { case (label, dir) =>
      System.err.println(s"[streambench] scale $label: $dir")
      (label, dir, runScale(spark, dir, warm = false))
    }
    val scalesJson =
      if (scaleResults.isEmpty) ""
      else scaleResults.map { case (label, dir, rs) =>
        f"""    "$label":{"sf":"$dir","total_wall_sec":${rs.map(_.wall).sum}%.3f,"paths":{%n${pathsJson(rs, "      ")}%n    }}"""
      }.mkString("\n  \"scales\":{\n", ",\n", "\n  },")
    val json =
      f"""{"metric":"streaming_throughput","unit":"rows_per_sec","sf":"$sfDir",
  "method":"staged $NFiles-file parquet stream, maxFilesPerTrigger=2 (8 micro-batches), noop sink, clock start->processAllAvailable, state peaks + per-data-batch duration p50/p99 from StreamingQueryProgress",
  "total_wall_sec":$total%.3f,$scalesJson
  "paths":{
${pathsJson(results, "    ")}
  }}
"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(json.linesIterator.mkString(" "))
    spark.stop()
  }
}

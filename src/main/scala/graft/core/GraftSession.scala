package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration and the
  * graft extensions (native vector expressions) pre-registered.
  *
  * Local defaults mirror the driver contract (UTC, shuffle partitions
  * = cores); on a real cluster the same builder is used minus
  * `master`, and shuffle partitions come from AQE
  * (`spark.sql.adaptive.coalescePartitions` is on by default in
  * Spark 4, so the configured number is only the pre-AQE ceiling).
  */
object GraftSession {
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // consistent ns-parquet handling from the start (Tables.events
      // needs it; setting it here means no read-order dependence)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ObjectHashAggregate (the imperative-aggregate exec behind
      // topk_pairs / collect_*) falls back to SORT-BASED aggregation
      // after 128 distinct keys per task — which silently re-sorts
      // every scored row and erases the whole point of a bounded
      // top-k fold (measured: the 10× ANN probe's 48M-pair tail ran
      // 75 s under the fallback, ~13 s without). topk_pairs buffers
      // are ≤ k·16 B each, so 1M in-memory groups per task is ~100 MB
      // at k=5 — far under executor budgets; revisit for huge-k use.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 20)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.VectorAgg.register(s) // UDAFs cannot ride extensions
    s
  }

  /** Silence WindowExec's "No Partition Defined" warning — for every
    * main, via `Harness.session`, and the test JVM; not the library
    * default. Every partition-less window the board plans runs
    * over a BOUNDED table by audited construction (≤|shingleKs|-row
    * planner reports, value spines, bucket summaries, top-k cuts — the
    * x126/x190 two-level pattern; LayoutSpec and PlanSpec guard the
    * shapes), so in those runs the warning is pure noise that reads as
    * a smell in captured logs. Library callers keep the warning: on
    * unaudited data it is exactly the signal a global window should
    * raise. */
  def muteBoundedWindowWarning(): Unit =
    // the message is emitted by the WindowExecBase logger in Spark 4
    // (muting the WindowExec child alone silenced nothing — verified
    // by grepping the spark-sql jar for the literal); keep the child
    // too in case a future Spark moves it back
    Seq("org.apache.spark.sql.execution.window.WindowExecBase",
        "org.apache.spark.sql.execution.window.WindowExec").foreach(l =>
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        l, org.apache.logging.log4j.Level.ERROR))

  /** Silence the WARN `RDD.unpersist` logs for each local checkpoint
    * `Harness.release` frees ("RDD <n> was locally checkpointed, its
    * lineage has been truncated and cannot be recomputed after
    * unpersisting") — for every main and the test JVM, not the library
    * default. They release only after the results are materialized, so
    * the line is noise there, one per checkpoint: most of a Verify run's
    * output. Spark logs it under the concrete RDD class; every checkpoint
    * here is a `Dataset.localCheckpoint`, a MapPartitionsRDD (the one
    * logger that printed it in Verify runs); every other WARN of that
    * logger is muted with it. */
  def muteReleaseWarning(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
}

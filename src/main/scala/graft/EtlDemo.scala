package graft

import graft.etl.{EtlConfig, Pipeline}

/** End-to-end ETL pipeline demo (the reference's `python
  * etl_connector.py` run, Spark-first): extract fixture pages through
  * the DSv2 paged source → transform → validate → last-wins upsert into
  * a parquet snapshot.
  *
  * Usage: runMain graft.EtlDemo <fixtureDir> <snapshotDir> [--stream]
  *
  * With --stream the extract runs through the micro-batch form of the
  * paged source (page offset per trigger) and the sink upserts per
  * micro-batch via foreachBatch — the reference's incremental loop.
  */
object EtlDemo {
  def main(args: Array[String]): Unit = {
    val streaming = args.contains("--stream")
    val positional = args.filterNot(_.startsWith("--"))
    val fixtureDir = positional.lift(0).getOrElse(
      getClass.getResource("/pages") match {
        case null => sys.error("no fixture dir given and no bundled /pages resource")
        case url  => url.getPath
      })
    val snapshotDir = positional.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-etl-demo").toString + "/snapshot")
    val spark = Harness.session()

    val cfg = EtlConfig.fromEnv(sys.env.toMap.updated("OTX_API_KEY",
      sys.env.getOrElse("OTX_API_KEY", "demo-key")))
    if (streaming) {
      val raw = spark.readStream.format("graft.sources.PagedJsonSource")
        .option("path", fixtureDir).option("maxPages", cfg.maxPages).load()
      val q = graft.streaming.EventStreams.etlStream(raw, cfg, snapshotDir).start()
      q.processAllAvailable()
      q.stop()
      println(s"[etl-demo] streaming ingest done snapshot=$snapshotDir")
    } else {
      val (valid, quarantined) = Pipeline.run(spark, fixtureDir, snapshotDir, cfg)
      println(s"[etl-demo] processed=$valid quarantined=$quarantined snapshot=$snapshotDir")
    }
    val snap = spark.read.parquet(snapshotDir)
    snap.select("pulse_id", "pulse_name", "indicator_count", "source_city").show(20, false)
    println(s"[etl-demo] snapshot rows=${snap.count()}")
    spark.stop()
  }
}

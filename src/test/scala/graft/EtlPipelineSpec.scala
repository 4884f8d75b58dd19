package graft

import java.nio.file.Files
import graft.etl.{EtlConfig, Pipeline}
import graft.sources.PagedJsonSource
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.ThreadSignaler
import org.scalatest.concurrent.TimeLimits.failAfter
import org.scalatest.time.{Seconds, Span}

/** End-to-end ETL semantics over the authored JSON page fixtures
  * (FIXTURES.md §1): extract (all envelope shapes) → transform
  * (R12–R15) → validate (R16) → upsert (R17–R19). */
class EtlPipelineSpec extends SparkSpec {

  private val fixtures = getClass.getResource("/pages").getPath
  private val cfg = EtlConfig(apiKey = "test-key", city = Some("Berlin"))

  test("config: fail-fast on missing api key (R2)") {
    intercept[IllegalArgumentException] {
      EtlConfig.fromEnv(Map("CITY" -> "x"))
    }
  }

  test("config: empty CITY becomes None (R12 empty→null)") {
    val c = EtlConfig.fromEnv(Map("OTX_API_KEY" -> "k", "CITY" -> ""))
    assert(c.city.isEmpty)
  }

  test("config: numeric invariants fail at construction, parse errors name the var") {
    intercept[IllegalArgumentException] { EtlConfig(apiKey = "k", backoffMs = -1L) }
    intercept[IllegalArgumentException] { EtlConfig(apiKey = "k", batchSize = 0) }
    intercept[IllegalArgumentException] {
      EtlConfig.fromEnv(Map("OTX_API_KEY" -> "k", "BACKOFF_MS" -> "-5"))
    }
    val e = intercept[IllegalArgumentException] {
      EtlConfig.fromEnv(Map("OTX_API_KEY" -> "k", "PER_PAGE" -> "abc"))
    }
    assert(e.getMessage.contains("PER_PAGE"))
    // overriding one key keeps the class defaults for the rest
    val c = EtlConfig.fromEnv(Map("OTX_API_KEY" -> "k", "PER_PAGE" -> "7"))
    assert(c.perPage === 7 && c.maxPages === 100 && c.batchSize === 20)
  }

  test("extract reads every envelope shape (R4, R7, R8)") {
    val df = Pipeline.extract(spark, fixtures, cfg)
    // 3 + 2 + 1 + 1 + 0 items across the five fixture pages
    assert(df.count() === 7L)
    assert(df.select("page").distinct().count() === 4L) // empty page yields no rows
  }

  test("limit pushdown caps page partitions only under the full-pages contract (R5)") {
    // default (no contract): limit must return exactly n rows even
    // though fixture pages are partially filled
    val safe = spark.read.format("graft.sources.PagedJsonSource")
      .option("path", fixtures).option("perPage", 3)
      .load().limit(5)
    assert(safe.count() === 5L)
    // with assumeFullPages (the reference's server guarantees full
    // non-final pages) the pushed limit caps planned pages
    val capped = spark.read.format("graft.sources.PagedJsonSource")
      .option("path", fixtures).option("perPage", 3)
      .option("assumeFullPages", "true")
      .load().limit(3)
    assert(capped.queryExecution.executedPlan.toString.contains("PagedJsonScan"))
    assert(capped.count() === 3L) // = page-0's 3 items, 1 page planned
  }

  test("maxPages caps the scan (R5/R11)") {
    val df = spark.read.format("graft.sources.PagedJsonSource")
      .option("path", fixtures).option("maxPages", 1).load()
    assert(df.count() === 3L) // only page-0
  }

  test("maxPages caps by PAGE NUMBER in batch, matching the streaming offset (regression)") {
    // gapped, non-zero-based numbering: pages 5 and 7. The streaming
    // offset admits pages numbered < maxPages; the batch scan must
    // apply the same rule (a count-based take() read the first
    // maxPages FILES, so batch returned page 7 here while streaming
    // never would — the two forms of one source disagreed).
    val dir = tempDir("gapped_pages").toFile
    Files.writeString(new java.io.File(dir, "page-5.json").toPath,
      """{"results": [{"id": "a5", "name": "n5"}]}""")
    Files.writeString(new java.io.File(dir, "page-7.json").toPath,
      """{"results": [{"id": "a7", "name": "n7"}]}""")
    val df = spark.read.format("graft.sources.PagedJsonSource")
      .option("path", dir.getAbsolutePath).option("maxPages", 6).load()
    assert(df.select("page").collect().map(_.getInt(0)).toSeq === Seq(5))
  }

  test("retry with backoff recovers from transient failures (R3)") {
    val df = spark.read.format("graft.sources.PagedJsonSource")
      .option("path", fixtures).option("failFirstN", 2)
      .option("maxRetries", 5).option("retryBackoffMs", 1).load()
    assert(df.count() === 7L)
  }

  test("retry gives up after maxRetries (R3 terminal failure)") {
    val df = spark.read.format("graft.sources.PagedJsonSource")
      .option("path", fixtures).option("failFirstN", 10)
      .option("maxRetries", 2).option("retryBackoffMs", 1).load()
    val e = intercept[Exception] { df.count() }
    assert(e.getMessage.contains("attempts") ||
      Option(e.getCause).exists(_.getMessage.contains("attempts")))
  }

  test("missing path option fails fast (R2)") {
    intercept[Exception] {
      spark.read.format("graft.sources.PagedJsonSource").load().count()
    }
  }

  test("transform hoists nested fields, coalesces keys, keeps raw (R12–R15)") {
    val out = Pipeline.transform(Pipeline.extract(spark, fixtures, cfg), cfg)
    val rows = out.collect()
    assert(rows.length === 7)
    val byName = out.filter(col("pulse_name") === "Pulse One").head()
    assert(byName.getAs[Long]("pulse_id") === 101L)          // pulse_info.id preferred
    assert(byName.getAs[Long]("indicator_count") === 10L)
    assert(byName.getAs[String]("source_city") === "Berlin")
    assert(byName.getAs[String]("raw").contains("\"nested\"")) // raw kept verbatim
    // doc with no pulse_info: falls back to top-level id (R14)
    val fallback = out.filter(col("pulse_id") === 3L).collect()
    assert(fallback.length === 1)
    assert(fallback.head.getAs[String]("pulse_name") === null)
    // keyless doc: null pulse_id (append path, R19)
    assert(out.filter(col("pulse_id").isNull).count() === 1L)
  }

  test("validation splits valid from quarantine (R16)") {
    import spark.implicits._
    val df = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "{}"),
      (null.asInstanceOf[java.sql.Timestamp], "{}"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), null.asInstanceOf[String]))
      .toDF("ingestion_timestamp", "raw")
    val (valid, quarantine) = Pipeline.validate(df)
    assert(valid.count() === 1L)
    assert(quarantine.count() === 2L)
  }

  test("upsert: last-write-wins per key, append for keyless, idempotent (R17–R19)") {
    val dir = tempDir("graft-upsert").toFile
    val snap = dir.getAbsolutePath + "/snapshot"
    val batch = Pipeline.transform(Pipeline.extract(spark, fixtures, cfg), cfg).cache()

    Pipeline.upsert(spark, batch, snap)
    val after1 = spark.read.parquet(snap)
    // 7 items, two share pulse_id 106 → 6 survive (5 keyed + 1 keyless)
    assert(after1.count() === 6L)
    assert(after1.filter(col("pulse_id") === 106L).count() === 1L)
    // the later page wins the tie — reference's sequential arrival order
    assert(after1.filter(col("pulse_id") === 106L).head()
      .getAs[String]("pulse_name") === "Pulse Six v2")

    // re-upsert: keyed rows are idempotent (last-wins), the keyless row
    // appends again — faithful to the reference's R19 insert path
    // (etl_connector.py:184-191: no key → insert_one per run)
    Pipeline.upsert(spark, batch, snap)
    val after2 = spark.read.parquet(snap)
    assert(after2.filter(col("pulse_id").isNotNull).count() === 5L)
    assert(after2.filter(col("pulse_id").isNull).count() === 2L)

    // new batch with an updated doc for key 101 replaces it (last wins)
    import spark.implicits._
    val update = Seq((java.sql.Timestamp.valueOf("2030-01-01 00:00:00"),
      "updated", 101L, """{"id": 1, "v": 2}"""))
      .toDF("ingestion_timestamp", "pulse_name", "pulse_id", "raw")
    val aligned = update.select(
      col("ingestion_timestamp"), lit(cfg.connectorName).as("connector_name"),
      lit("otx").as("source"), lit(cfg.baseUrl).as("source_base_url"),
      lit("Berlin").as("source_city"), col("raw"), col("pulse_name"),
      col("pulse_id"), lit(null).cast("string").as("pulse_created"),
      lit(null).cast("string").as("pulse_modified"),
      lit(null).cast("long").as("indicator_count"),
      lit(99).as("source_page"), lit(0).as("source_item"))
    Pipeline.upsert(spark, aligned, snap)
    val after3 = spark.read.parquet(snap)
    assert(after3.filter(col("pulse_id").isNotNull).count() === 5L)
    assert(after3.filter(col("pulse_id") === 101L).head()
      .getAs[String]("pulse_name") === "updated")
    batch.unpersist()
  }

  test("incremental upsert: only touched buckets rewritten, untouched files byte-identical") {
    import spark.implicits._
    def mkBatch(rows: Seq[(String, Long, String)], ts: String): org.apache.spark.sql.DataFrame =
      rows.toDF("pulse_name", "pulse_id", "raw")
        .withColumn("ingestion_timestamp", lit(java.sql.Timestamp.valueOf(ts)))
    val snap = tempDir("inc_upsert").toFile.getAbsolutePath + "/snap"
    val seed = mkBatch((1L to 40L).map(i => (s"name$i", i, s"""{"id": $i}""")),
      "2024-01-01 00:00:00")
    Pipeline.upsertIncremental(spark, seed, snap, numBuckets = 8)
    assert(Pipeline.readIncrementalSnapshot(spark, snap).count() === 40L)

    // fingerprint every live parquet file (path -> (size, md5))
    def files(): Map[String, (Long, String)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(snap)).filter(_.getName.endsWith(".parquet")).map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
          .map("%02x".format(_)).mkString
        f.getAbsolutePath -> (f.length(), md5)
      }.toMap
    }
    val before = files()

    // single-key batch → exactly one bucket rewritten
    val touchedBucket = spark.range(1).select(
      pmod(xxhash64(lit(7L)), lit(8L)).cast("int")).head().getInt(0)
    Pipeline.upsertIncremental(spark,
      mkBatch(Seq(("name7-v2", 7L, """{"id": 7, "v": 2}""")), "2025-01-01 00:00:00"),
      snap, numBuckets = 8)
    val after = files()
    val untouchedBefore = before.filter(!_._1.contains(s"bucket=$touchedBucket"))
    val untouchedAfter = after.filter(!_._1.contains(s"bucket=$touchedBucket"))
    // O(touched keys), not O(snapshot): every file outside the touched
    // bucket is the SAME file — same path, same bytes
    assert(untouchedAfter === untouchedBefore)
    assert(after.keySet.filter(_.contains(s"bucket=$touchedBucket")) !=
      before.keySet.filter(_.contains(s"bucket=$touchedBucket")))
    // merge semantics unchanged: last write wins, other keys intact
    val snapNow = Pipeline.readIncrementalSnapshot(spark, snap)
    assert(snapNow.count() === 40L)
    assert(snapNow.filter(col("pulse_id") === 7L).head()
      .getAs[String]("pulse_name") === "name7-v2")
    assert(snapNow.filter(col("pulse_id") === 8L).head()
      .getAs[String]("pulse_name") === "name8")

    // keyless rows append into the reserved bucket, nothing rewritten
    val keyless = Seq(("stray", "{}")).toDF("pulse_name", "raw")
      .withColumn("pulse_id", lit(null).cast("long"))
      .withColumn("ingestion_timestamp",
        lit(java.sql.Timestamp.valueOf("2025-01-02 00:00:00")))
    Pipeline.upsertIncremental(spark, keyless, snap, numBuckets = 8)
    Pipeline.upsertIncremental(spark, keyless, snap, numBuckets = 8)
    val finalSnap = Pipeline.readIncrementalSnapshot(spark, snap)
    assert(finalSnap.filter(col("pulse_id").isNull).count() === 2L) // R19: appends per run
    assert(finalSnap.count() === 42L)
    // keyed files untouched by the keyless-only upserts
    assert(files().filter(!_._1.contains("bucket=-1")) === after)

    // layout is pinned by the manifest — a different bucket count must fail
    val e = intercept[IllegalArgumentException] {
      Pipeline.upsertIncremental(spark, seed, snap, numBuckets = 16)
    }
    assert(e.getMessage.contains("numBuckets"))
  }

  test("purgeApply: audit counts predict the rewrite exactly, untouched buckets byte-identical") {
    import spark.implicits._
    def mkBatch(rows: Seq[(String, Long, String)], ts: String): org.apache.spark.sql.DataFrame =
      rows.toDF("pulse_name", "pulse_id", "raw")
        .withColumn("ingestion_timestamp", lit(java.sql.Timestamp.valueOf(ts)))
    val snap = tempDir("purge_apply").toFile.getAbsolutePath + "/snap"
    Pipeline.upsertIncremental(spark,
      mkBatch((1L to 60L).map(i => (s"name$i", i, s"""{"id": $i}""")),
        "2024-01-01 00:00:00"), snap, numBuckets = 8)
    val keyless = Seq(("stray", "{}")).toDF("pulse_name", "raw")
      .withColumn("pulse_id", lit(null).cast("long"))
      .withColumn("ingestion_timestamp",
        lit(java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
    Pipeline.upsertIncremental(spark, keyless, snap, numBuckets = 8)

    def files(): Map[String, (Long, String)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(snap)).filter(_.getName.endsWith(".parquet")).map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
          .map("%02x".format(_)).mkString
        f.getAbsolutePath -> (f.length(), md5)
      }.toMap
    }
    val before = files()
    val ids = Seq(3L, 17L, 42L, 999L).toDF("subject") // 999 absent
    val touchedBuckets = Seq(3L, 17L, 42L, 999L).map { k =>
      spark.range(1).select(pmod(xxhash64(lit(k)), lit(8L)).cast("int"))
        .head().getInt(0)
    }.toSet

    // the audit's prediction on the same snapshot + ids
    val audited = graft.operators.Governance.purgeAudit(
      Seq(("snap", Pipeline.readIncrementalSnapshot(spark, snap), "pulse_id")), ids)
      .as[(String, Long, Long, Long)].head()
    assert(audited._2 === 61L && audited._3 === 3L)

    val (nBefore, nPurged) = Pipeline.purgeApply(spark, snap, ids)
    assert(nPurged === audited._3, "audit must predict the rewrite exactly")
    assert(nBefore <= 61L && nBefore >= nPurged) // only touched buckets scanned
    val after = Pipeline.readIncrementalSnapshot(spark, snap)
    assert(after.count() === 58L)
    assert(after.filter(col("pulse_id").isin(3L, 17L, 42L)).count() === 0L)
    assert(after.filter(col("pulse_id") === 4L).count() === 1L)
    assert(after.filter(col("pulse_id").isNull).count() === 1L) // keyless intact

    // O(touched buckets): every file outside them (incl. bucket=-1) is
    // the SAME file — same path, same bytes
    val untouchedBefore = before.filter { case (p, _) =>
      !touchedBuckets.exists(b => p.contains(s"bucket=$b")) }
    val untouchedAfter = files().filter { case (p, _) =>
      !touchedBuckets.exists(b => p.contains(s"bucket=$b")) }
    assert(untouchedAfter === untouchedBefore)

    // audit-after shows zero residue — the audit/apply pair closes
    val residue = graft.operators.Governance.purgeAudit(
      Seq(("snap", after, "pulse_id")), ids)
      .as[(String, Long, Long, Long)].head()
    assert(residue._3 === 0L)

    // purging every key in one bucket swaps it to ABSENT, and the
    // snapshot still reads (the remaining buckets carry the schema)
    val b0Keys = (1L to 60L).filter { k =>
      spark.range(1).select(pmod(xxhash64(lit(k)), lit(8L)).cast("int"))
        .head().getInt(0) == 0
    }
    val (_, purgedAll) = Pipeline.purgeApply(spark, snap, b0Keys.toDF("subject"))
    assert(!new java.io.File(snap, "bucket=0").exists())
    val finalSnap = Pipeline.readIncrementalSnapshot(spark, snap)
    assert(finalSnap.count() === 58L - purgedAll)

    // refuses a directory without the incremental manifest
    // a directory inside the temp one: purgeApply adopts it into a store beside it
    val plain = Files.createDirectory(tempDir("purge_plain").resolve("snap")).toString
    val e = intercept[IllegalArgumentException] {
      Pipeline.purgeApply(spark, plain, ids)
    }
    assert(e.getMessage.contains("manifest"))
  }

  test("full pipeline run returns counts (R20)") {
    val dir = tempDir("graft-run").toFile
    val (valid, quarantined) = Pipeline.run(
      spark, fixtures, dir.getAbsolutePath + "/snap", cfg)
    assert(valid === 7L)
    assert(quarantined === 0L)
  }

  /** `run` within a minute: its counts must never wait on a metric
    * that is not coming. */
  private def runBounded(pages: java.io.File, snap: String): (Long, Long) =
    failAfter(Span(60, Seconds))(Pipeline.run(spark, pages.getAbsolutePath, snap, cfg))(
      ThreadSignaler)

  test("run counts a source whose every item is quarantined: (0, n)") {
    val dir = tempDir("graft-all-quarantined").toFile
    val pages = new java.io.File(dir, "pages"); pages.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(pages, "page-0.json").toPath, "[5, 6, 7]")
    java.nio.file.Files.writeString(new java.io.File(pages, "page-1.json").toPath, "[8]")
    assert(runBounded(pages, dir.getAbsolutePath + "/snap") === ((0L, 4L)))
  }

  test("run counts an empty page directory: (0, 0)") {
    val dir = tempDir("graft-no-pages").toFile
    val pages = new java.io.File(dir, "pages"); pages.mkdirs()
    assert(runBounded(pages, dir.getAbsolutePath + "/snap") === ((0L, 0L)))
  }

  test("envelope extraction precedence: results beats pulses beats discovery") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val both = mapper.readTree("""{"pulses": [{"a": 1}], "results": [{"b": 2}, {"b": 3}]}""")
    assert(PagedJsonSource.extractItems(both).size === 2)
    val emptyResults = mapper.readTree("""{"results": [], "pulses": [{"a": 1}]}""")
    assert(PagedJsonSource.extractItems(emptyResults).size === 1) // empty≈absent, Python `or`
    val discovery = mapper.readTree("""{"meta": 1, "things": [{"a": 1}]}""")
    assert(PagedJsonSource.extractItems(discovery).size === 1)
    val none = mapper.readTree("""{"meta": 1}""")
    assert(PagedJsonSource.extractItems(none).isEmpty)
    // a present-but-EMPTY results must not shadow a populated sibling
    // array in the discovery fallback (empty≈absent applies there too)
    val shadowed = mapper.readTree("""{"results": [], "other": [{"a": 1}, {"a": 2}]}""")
    assert(PagedJsonSource.extractItems(shadowed).size === 2)
  }

  test("intra-page duplicate keys: the LATER item wins deterministically (R18)") {
    val dir = tempDir("graft-intra-page").toFile
    val pages = new java.io.File(dir, "pages"); pages.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(pages, "page-0.json").toPath,
      """{"results": [
        {"id": 1, "pulse_info": {"name": "first", "id": 42}},
        {"id": 1, "pulse_info": {"name": "second", "id": 42}}]}""")
    val snap = dir.getAbsolutePath + "/snap"
    // repartition widely so a nondeterministic tie would actually flip
    val batch = Pipeline.transform(
      Pipeline.extract(spark, pages.getAbsolutePath, cfg), cfg).repartition(7)
    Pipeline.upsert(spark, batch, snap)
    val row = spark.read.parquet(snap).filter(col("pulse_id") === 42L).collect()
    assert(row.length === 1)
    assert(row.head.getAs[String]("pulse_name") === "second")
  }

  test("malformed payloads are quarantined, parseable keyless ones are not (R16)") {
    val dir = tempDir("graft-malformed").toFile
    val pages = new java.io.File(dir, "pages"); pages.mkdirs()
    // a JSON ARRAY payload: items 1-2 are objects (one keyless), item 3
    // is a bare scalar — not an object, fails the pulse parse
    java.nio.file.Files.writeString(new java.io.File(pages, "page-0.json").toPath,
      """[{"id": 1, "pulse_info": {"id": 7, "name": "ok"}}, {"note": "keyless"}, 5]""")
    val (valid, quarantine) = Pipeline.validate(Pipeline.transform(
      Pipeline.extract(spark, pages.getAbsolutePath, cfg), cfg))
    assert(valid.count() === 2L)       // keyed + keyless object both pass
    assert(quarantine.count() === 1L)  // the scalar fails the parse gate
  }

  test("withRetry backoff doubles (R3 exponential)") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    var calls = 0
    val out = PagedJsonSource.withRetry(5, 100L, sleeps.append(_)) { () =>
      calls += 1
      if (calls < 4) throw new RuntimeException("boom")
      42
    }
    assert(out === 42)
    assert(sleeps.toSeq === Seq(100L, 200L, 400L))
  }

  test("status-aware retry: fatal 4xx fails fast, zero retries (R3)") {
    var calls = 0
    val e = intercept[PagedJsonSource.FetchException] {
      PagedJsonSource.withRetry(5, 100L, _ => fail("fatal 4xx must not sleep")) { () =>
        calls += 1
        throw PagedJsonSource.FetchException(401)
      }
    }
    assert(e.status === 401)
    assert(calls === 1) // one attempt — a bad API key never fixes itself
  }

  test("status-aware retry: 429 honors Retry-After verbatim (R3)") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    var calls = 0
    val out = PagedJsonSource.withRetry(5, 100L, sleeps.append(_)) { () =>
      calls += 1
      if (calls < 3) throw PagedJsonSource.FetchException(429, Some(777L))
      "ok"
    }
    assert(out === "ok")
    assert(sleeps.toSeq === Seq(777L, 777L)) // server's price, not 100/200
  }

  test("status-aware retry: 5xx backs off exponentially (R3)") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    var calls = 0
    val out = PagedJsonSource.withRetry(5, 100L, sleeps.append(_)) { () =>
      calls += 1
      if (calls < 4) throw PagedJsonSource.FetchException(503)
      "ok"
    }
    assert(out === "ok")
    assert(sleeps.toSeq === Seq(100L, 200L, 400L))
  }

  /** Data files of the live snapshot at `snap`. */
  private def snapshotFiles(snap: String): Seq[java.io.File] =
    new java.io.File(snap).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))

  test("upsert's maxRecordsPerFile bounds rows per sink file") {
    val snap = tempDir("graft-max-records").toString + "/snap"
    val batch = spark.range(5).select(
      current_timestamp().as("ingestion_timestamp"), col("id").as("pulse_id"))
    Pipeline.upsert(spark, batch, snap, maxRecordsPerFile = 2)
    val counts = snapshotFiles(snap).map(f => spark.read.parquet(f.getAbsolutePath).count())
    assert(counts.sum === 5L)
    assert(counts.size >= 3 && counts.forall(_ <= 2L),
      s"file row counts ${counts.mkString(",")} exceed maxRecordsPerFile=2")
  }

  test("batchSize does not size Pipeline.run's sink files") {
    val dir = tempDir("graft-batchsize")
    def runWith(c: EtlConfig, name: String) = {
      val snap = dir.resolve(name).toString
      Pipeline.run(spark, fixtures, snap, c)
      (spark.read.parquet(snap).select("pulse_id", "raw", "source_page", "source_item")
        .collect().map(_.toString).sorted.toSeq, snapshotFiles(snap).size)
    }
    val (small, smallFiles) = runWith(cfg.copy(batchSize = 2), "small")
    val (default, defaultFiles) = runWith(cfg, "default")
    assert(small.size === 6 && small === default)
    assert(smallFiles === defaultFiles)
    // files follow the merge window's partitions, not 2-row cuts of 6 rows
    assert(smallFiles >= 1 && smallFiles <= spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  /** 12 pages of identical length, 3 items each. */
  private lazy val equalPages: String = {
    val dir = tempDir("graft-packed-pages").toFile
    (0 until 12).foreach { p =>
      val items = (0 until 3).map(i => f"""{"id": "${p * 100 + i}%04d"}""").mkString(", ")
      Files.writeString(new java.io.File(dir, f"page-$p%02d.json").toPath, s"""{"results": [$items]}""")
    }
    dir.getAbsolutePath
  }

  private def pagedRead(opts: (String, String)*) =
    spark.read.format("graft.sources.PagedJsonSource")
      .option("path", equalPages).options(opts.toMap).load()

  /** Pages per input partition, in partition order. */
  private def pagesByPartition(df: org.apache.spark.sql.DataFrame): Seq[Seq[Int]] =
    df.select(spark_partition_id().as("pid"), col("page")).distinct().collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1).map(_._2.map(_.getInt(1)).toSeq.sorted)

  /** `f` with the SQL confs `kvs` set, each restored afterwards. */
  private def withConfs[T](kvs: (String, String)*)(f: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("paged source packs runs of consecutive pages by bytes") {
    val df = pagedRead()
    val runs = pagesByPartition(df)
    assert(runs.size > 1 && runs.size <= spark.sparkContext.defaultParallelism,
      s"runs $runs")
    assert(df.rdd.getNumPartitions === runs.size)
    // each partition a run of consecutive pages, the runs in page order
    assert(runs.flatten === (0 until 12))
    runs.foreach(r => assert(r === (r.head to r.last)))
  }

  test("paged source: a page above the split is its own partition") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("raw_json", "page", "item").collect().map(_.toString).sorted.toSeq
    val packedRows = rows(pagedRead())
    val (perPageRuns, perPageRows) = withConfs(
        "spark.sql.files.maxPartitionBytes" -> "16",
        "spark.sql.files.openCostInBytes" -> "8") {
      val df = pagedRead()
      (pagesByPartition(df), rows(df))
    }
    assert(perPageRuns === (0 until 12).map(Seq(_)))
    assert(packedRows.size === 36 && perPageRows === packedRows)
    assert(pagesByPartition(pagedRead()).size < 12) // confs restored
  }

  test("retries on a packed partition's later pages replay no row") {
    val df = pagedRead("failFirstN" -> "2", "maxRetries" -> "5", "retryBackoffMs" -> "1")
    assert(pagesByPartition(df).forall(_.size > 1))
    val keys = df.select("page", "item").collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(keys.length === 36)
    assert(keys.distinct.length === 36)
    // item restarts at 0 on every page
    assert(keys.groupBy(_._1).values.forall(_.map(_._2).sorted.toSeq === Seq(0, 1, 2)))
  }
}

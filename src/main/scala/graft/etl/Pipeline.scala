package graft.etl

import java.io.File
import java.nio.file.Files

import graft.core.Commit
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference ETL pipeline re-expressed Spark-first:
  * extract (DSv2 paged source) → transform (column expressions) →
  * validate (filter + observe + quarantine) → load (last-wins upsert).
  *
  * Reference lifecycle: etl_connector.py:206-239 (main loop). Where the
  * reference streams one dict at a time through Python, here every
  * stage is a declarative plan over a distributed DataFrame — the 20-doc
  * sink buffer (R17) becomes partition-level writes, the per-row upsert
  * (R18) becomes a snapshot merge keyed like `replace_one(upsert=True)`.
  */
object Pipeline {

  /** Typed shape of the fields the reference touches inside a pulse
    * (FIXTURES.md §1.2; etl_connector.py:148-162). Everything else
    * stays in the untyped `raw` JSON string. */
  val pulseSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("indicator_count", LongType),
    StructField("pulse_info", StructType(Seq(
      StructField("name", StringType),
      StructField("id", LongType),
      StructField("created", StringType),
      StructField("modified", StringType))))))

  /** Extract (R4): read fixture pages through the DSv2 source. */
  def extract(spark: SparkSession, fixtureDir: String, cfg: EtlConfig): DataFrame =
    spark.read.format("graft.sources.PagedJsonSource")
      .option("path", fixtureDir)
      .option("perPage", cfg.perPage)
      .option("maxPages", cfg.maxPages)
      .option("maxRetries", cfg.maxRetries)
      .option("retryBackoffMs", cfg.backoffMs)
      .load()

  /** Transform (R12–R15, etl_connector.py:130-164): constant metadata
    * columns, event-time ingestion timestamp, empty-string→null city,
    * nested-field hoist from pulse_info, COALESCE key derivation, and
    * the full raw payload kept verbatim. Pure column expressions —
    * whole-stage codegen, no UDF. */
  def transform(raw: DataFrame, cfg: EtlConfig): DataFrame = {
    val parsed = raw.withColumn("p", from_json(col("raw_json"), pulseSchema))
    parsed.select(
      current_timestamp().as("ingestion_timestamp"),              // R12 :138
      lit(cfg.connectorName).as("connector_name"),                // R12 :139
      lit("otx").as("source"),                                    // R12 :140
      lit(cfg.baseUrl).as("source_base_url"),                     // R12 :141
      cfg.city.filter(_.nonEmpty)                                 // R12 :142
        .map(c => lit(c)).getOrElse(lit(null).cast(StringType)).as("source_city"),
      col("raw_json").as("raw"),                                  // R12 :143 keep-raw
      col("p.pulse_info.name").as("pulse_name"),                  // R13 :150
      coalesce(col("p.pulse_info.id"), col("p.id")).as("pulse_id"), // R14 :156-158
      col("p.pulse_info.created").as("pulse_created"),            // R13 :153
      col("p.pulse_info.modified").as("pulse_modified"),          // R13 :154
      col("p.indicator_count").as("indicator_count"),             // R15 :160-162
      col("page").as("source_page"), // provenance: arrival order for last-wins ties
      // intra-page position (final last-wins tiebreak; streams built
      // outside the paged source may not carry it)
      (if (raw.columns.contains("item")) col("item") else lit(0)).as("source_item"))
  }

  /** Validation predicate (R16, etl_connector.py:194-203): required
    * fields present AND the payload parses as a JSON object — the
    * analog of the reference's per-doc required-field check. Without
    * the parse term the gate is vacuous in real runs (ingestion ts is
    * current_timestamp() and raw comes from a non-null source column),
    * so malformed payloads would sail through as keyless rows.
    * Detection goes through a corrupt-record probe: PERMISSIVE
    * from_json yields an all-NULL row (not NULL) for bad records since
    * Spark 3.3, so only the corrupt column tells parse failure from a
    * legitimately empty object. */
  def isValid: Column = {
    val probeSchema = pulseSchema.add(StructField("_corrupt", StringType))
    val parsed = from_json(col("raw"), probeSchema,
      Map("columnNameOfCorruptRecord" -> "_corrupt"))
    col("ingestion_timestamp").isNotNull && col("raw").isNotNull &&
      parsed.getField("_corrupt").isNull
  }

  /** Validate (R16): split valid/quarantine instead of silently
    * dropping — the reference logs a warning per dropped doc
    * (etl_connector.py:221-223); here dropped rows land in a
    * quarantine DataFrame and the valid frame carries an
    * `observe("etl", valid_rows)` metric for whichever action runs it
    * (R20 analog of the processed-count log; [[run]] counts inside its
    * snapshot write instead). */
  def validate(df: DataFrame): (DataFrame, DataFrame) = {
    val valid = df.filter(isValid)
      .observe("etl", count(lit(1)).as("valid_rows"))
    val quarantine = df.filter(!isValid)
    (valid, quarantine)
  }

  /** Last-write-wins dedup (R18 semantics: the last write for a key
    * replaces earlier ones; keyless rows all append, R19): one window,
    * ranked by `orderCols` descending, keeps the top row of each key
    * and every keyless row, so the input is read once. Keyless rows
    * are spread over the window's partitions by a hash of the whole
    * row (one NULL-key partition would put them all in one task); a
    * hash collision cannot drop one, because no keyless row is ranked
    * out. */
  def lastWins(df: DataFrame, key: String, orderCols: Seq[Column]): DataFrame = {
    val spread = when(col(key).isNull, xxhash64(df.columns.toIndexedSeq.map(col): _*))
    val w = Window.partitionBy(col(key), spread).orderBy(orderCols.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col(key).isNull || col("__rn") === 1).drop("__rn")
  }

  /** Load (R17–R19, etl_connector.py:167-191): key-based upsert into a
    * parquet snapshot, emulating `replace_one({key: id}, doc,
    * upsert=True)` without a MERGE-capable table format:
    * read current snapshot → union with batch (batch wins) → keep one
    * row per key → write the next generation → publish it. Keyed rows
    * are idempotent (re-upserting the same batch changes nothing);
    * keyless rows append on every run — faithful to the reference's R19
    * insert path (etl_connector.py:184-191, `insert_one` with no key).
    *
    * CRASH CONTRACT, shared by every snapshot writer here and
    * `EventStreams.etlStream` ([[graft.core.Commit]]): `snapshotDir` is
    * a link to the live generation; a call writes a new generation
    * beside it and publishes it with one atomic link flip. A reader of
    * `snapshotDir` sees the snapshot from before the call or after it,
    * never a mix: a read that lists the files before the flip and reads
    * them after it fails loudly (`FAILED_READ_FILE.FILE_NOT_EXIST`), and a
    * retry reads the new snapshot. A crash at any point leaves the
    * earlier snapshot live, and the next call deletes what the crash left
    * and produces what a crash-free run would. Single writer.
    *
    * Scale: the snapshot rewrite is the no-Delta fallback; the merge
    * itself is one hash shuffle on the key. On a real deployment this
    * slot is a Delta/Iceberg MERGE — same logical semantics.
    *
    * Files: one per post-AQE partition of the merge window; a positive
    * `maxRecordsPerFile` also bounds the rows in each. */
  def upsert(spark: SparkSession, batch: DataFrame, snapshotDir: String,
             key: String = "pulse_id", maxRecordsPerFile: Int = 0): Unit =
    Commit.write(snapshotDir)(writeMerged(spark, batch, snapshotDir, _, key, maxRecordsPerFile))

  /** [[upsert]]'s merge, written as generation `gen` of `snapshotDir`
    * for a caller that adds to the generation before publishing it. */
  private[graft] def writeMerged(spark: SparkSession, batch: DataFrame, snapshotDir: String,
                                 gen: File, key: String = "pulse_id",
                                 maxRecordsPerFile: Int = 0): Unit = {
    val live = new File(snapshotDir)
    val fresh = batch.withColumn("__gen", lit(1))
    val rows =
      if (live.exists() && live.listFiles() != null && live.listFiles().nonEmpty)
        spark.read.parquet(snapshotDir).withColumn("__gen", lit(0)).unionByName(fresh)
      else fresh
    val merged = lastWins(rows, key, mergeOrder(batch))
    // one file per post-AQE partition of the merge window unless the
    // caller bounds rows per file; the reference's 20-doc bulk flush
    // (R17, etl_connector.py:206,229) has no analog in a generation
    // that publishes atomically (see EtlConfig.batchSize)
    val writer = merged.drop("__gen").write.mode("overwrite")
    (if (maxRecordsPerFile > 0)
       writer.option("maxRecordsPerFile", maxRecordsPerFile.toLong)
     else writer).parquet(gen.getPath)
  }

  /** A merge's rank: batch rows (`__gen` 1) beat snapshot rows
    * (`__gen` 0) per key, and arrival order decides among batch rows,
    * so one window over snapshot ∪ batch also dedups the batch itself.
    * Within a batch, arrival order = (ingestion ts, page, item) — the
    * reference's sequential page-then-item loop; without the item
    * index, two same-key docs in ONE page tie on (ts, page) and the
    * survivor depends on shuffle order. */
  private def mergeOrder(batch: DataFrame): Seq[Column] =
    Seq(col("__gen"), col("ingestion_timestamp")) ++
      (if (batch.columns.contains("source_page")) Seq(col("source_page")) else Nil) ++
      (if (batch.columns.contains("source_item")) Seq(col("source_item")) else Nil)

  /** Manifest for the incremental snapshot layout: bucket count and
    * key are FIXED at snapshot creation (a different bucket count
    * would route keys to different directories and silently duplicate
    * them). One tiny JSON file in every generation. */
  private case class SnapshotManifest(numBuckets: Int, key: String)

  /** The `bucket=<p>` entries of `dir`, sorted by p. */
  private def buckets(dir: File): Array[Int] =
    Option(dir.list()).getOrElse(Array.empty[String])
      .collect { case s"bucket=$p" => p.toInt }.sorted

  private def bucketDir(dir: String, p: Int): File = new File(dir, s"bucket=$p")

  /** The buckets among `ps` whose live directory holds files. */
  private def liveBuckets(snapshotDir: String, ps: Array[Int]): Array[Int] =
    ps.filter(p => Option(bucketDir(snapshotDir, p).listFiles()).exists(_.nonEmpty))

  /** Selective read of live buckets `ps`; basePath keeps the bucket
    * partition column. */
  private def readBuckets(spark: SparkSession, snapshotDir: String, ps: Array[Int]): DataFrame =
    spark.read.option("basePath", snapshotDir)
      .parquet(ps.toIndexedSeq.map(bucketDir(snapshotDir, _).getAbsolutePath): _*)

  /** Complete bucketed generation `gen`, which holds the buckets this
    * call rewrote: every other live keyed bucket is linked in unchanged,
    * the keyless bucket lists its earlier files (hard links) beside any
    * new ones, and the manifest is written. A rewritten bucket with no
    * rows left simply has no entry. */
  private def completeGeneration(snapshotDir: String, gen: File, m: SnapshotManifest,
                                 rewritten: Set[Int]): Unit = {
    Files.createDirectories(gen.toPath)
    buckets(new File(snapshotDir)).filterNot(rewritten).foreach { p =>
      if (p < 0) Commit.linkFiles(bucketDir(snapshotDir, p), bucketDir(gen.getPath, p))
      else Commit.inherit(snapshotDir, gen, s"bucket=$p")
    }
    Commit.writeManifest(gen, m)
  }

  /** Incremental key-upsert: O(touched keys), not O(snapshot).
    *
    * [[upsert]] rewrites the ENTIRE snapshot every batch — correct,
    * but at 100 TB a 1k-row batch would rewrite terabytes. This form
    * hash-partitions the snapshot into `numBuckets` buckets
    * (`bucket=<p>`, p = xxhash64(key) mod numBuckets) with a manifest
    * pinning the layout, and a batch rewrites ONLY the buckets its
    * keys land in: cost is proportional to the touched fraction of
    * the snapshot. Every other bucket of the new generation is a link
    * to the directory it already was — never opened, its files
    * byte-identical at the same path (the spec asserts this).
    *
    * Semantics are identical to [[upsert]] (last-write-wins per key,
    * R18; keyless rows append every run, R19 — they land in the
    * reserved `bucket=-1`, whose earlier files the new generation
    * hard-links, never rewrites). Reading the whole snapshot back:
    * [[readIncrementalSnapshot]] (plain parquet read + drop the
    * layout column). Crash contract: [[upsert]]'s — the new generation,
    * every bucket at once, is published by one link flip. */
  def upsertIncremental(spark: SparkSession, batch: DataFrame, snapshotDir: String,
                        key: String = "pulse_id", numBuckets: Int = 32): Unit = {
    require(numBuckets >= 1, s"numBuckets ($numBuckets) must be >= 1")
    Commit.write(snapshotDir) { gen =>
      val manifest = Commit.readManifest(new File(snapshotDir), classOf[SnapshotManifest]) match {
        case Some(m) =>
          require(m.key == key && m.numBuckets == numBuckets,
            s"snapshot $snapshotDir was created with (numBuckets=${m.numBuckets}, " +
              s"key=${m.key}); re-upserting with ($numBuckets, $key) would split " +
              "keys across incompatible layouts — recreate the snapshot to re-bucket")
          m
        case None =>
          require(Option(new File(snapshotDir).list()).forall(_.isEmpty),
            s"$snapshotDir exists without a manifest — refusing to mix the " +
              "incremental layout into a snapshot written by the full-rewrite upsert")
          SnapshotManifest(numBuckets, key)
      }
      // persisted: the touched-bucket collect and the merge write are two
      // jobs, and both MUST see the same batch rows — an unpersisted
      // nondeterministic batch (e.g. rand-derived keys) could route rows
      // to buckets the first job never saw. Not yet deduped: the merge's
      // one window does that, and routing reads only the keys.
      val keyed = batch.withColumn("__gen", lit(1)).filter(col(key).isNotNull)
        .withColumn("bucket",
          pmod(xxhash64(col(key)), lit(manifest.numBuckets.toLong)).cast("int"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the touched-bucket list is O(numBuckets) scalars on the driver —
        // the same cardinality a table format's file-pruning pass collects
        val touched = keyed.select("bucket").distinct()
          .collect().map(_.getInt(0)).sorted
        if (touched.nonEmpty) {
          val existing = liveBuckets(snapshotDir, touched)
          val rows =
            if (existing.nonEmpty)
              readBuckets(spark, snapshotDir, existing).withColumn("__gen", lit(0)).unionByName(keyed)
            else keyed
          val merged = lastWins(rows, key, mergeOrder(batch))
          merged.drop("__gen").write.mode("overwrite").partitionBy("bucket").parquet(gen.getPath)
          // what was ACTUALLY written must equal `touched` exactly. A
          // written bucket outside `touched` was never merged with its live
          // data (publishing it would drop live rows; skipping it would drop
          // batch rows), and a touched bucket with no output dir means the
          // rewrite saw different rows than the plan — either way the batch
          // recomputed nondeterministically and nothing may be published.
          val written = buckets(gen)
          if (!java.util.Arrays.equals(written, touched))
            throw new IllegalStateException(
              s"upsertIncremental: written buckets [${written.mkString(",")}] != " +
                s"planned buckets [${touched.mkString(",")}] — the batch recomputed " +
                "nondeterministically between the plan and the write; snapshot left " +
                "untouched. Materialize the batch (cache/checkpoint) before upserting.")
        }
        // keyless rows (R19): append-only — new immutable files into the
        // reserved bucket, no read-modify-write of anything
        val keyless = batch.filter(col(key).isNull)
        if (!keyless.isEmpty)
          keyless.write.mode("append").parquet(new File(gen, "bucket=-1").getPath)
        if (gen.exists()) completeGeneration(snapshotDir, gen, manifest, touched.toSet)
      } finally { keyed.unpersist(); () }
    }
  }

  /** Read back a snapshot written by [[upsertIncremental]]: standard
    * partition discovery over the live generation's bucket entries
    * (links resolve like directories), layout column dropped — same
    * schema the full-rewrite [[upsert]] snapshot has. */
  def readIncrementalSnapshot(spark: SparkSession, snapshotDir: String): DataFrame =
    spark.read.parquet(snapshotDir).drop("bucket")

  /** Subject-deletion EXECUTION over an incremental snapshot — the
    * audit-then-act completion of
    * [[graft.operators.Governance.purgeAudit]]: delete every row whose
    * snapshot key is in `ids`, rewriting ONLY the buckets those ids
    * hash to. The audit's counts predict this rewrite exactly
    * (purged == the audit's n_matched on the same snapshot+ids; the
    * spec asserts it), which is what makes the report a safe gate for
    * the destructive step.
    *
    * Shape: the deletion list is request-sized (thousands), so its
    * bucket set collects as O(numBuckets) driver scalars and the list
    * itself broadcasts into ONE left-anti join over a SELECTIVE read
    * of just the touched bucket directories — at 100 TB a 1k-subject
    * request opens ≤ numBuckets directories and rewrites only those,
    * never the snapshot. Untouched buckets are linked into the new
    * generation and stay byte-identical at the same path (as in
    * [[upsertIncremental]]); the keyless `bucket=-1` is never rewritten
    * — a NULL key matches no deletion id by SQL equality, and the
    * audit counts it the same way. A bucket whose every row purges has
    * no entry in the new generation, the same state it had before its
    * first upsert.
    *
    * Crash contract: [[upsert]]'s — one link flip publishes the purge,
    * and re-running the same purge is idempotent: already-purged keys
    * match no rows.
    *
    * @param ids one-column frame of subject keys to delete; cast to
    *            the snapshot key's type so bucket routing hashes the
    *            value the stored rows hashed
    * @return (nBefore, nPurged) over the touched buckets — untouched
    *         buckets contribute to neither (they were proven
    *         untouchable by the hash routing, not scanned). */
  def purgeApply(spark: SparkSession, snapshotDir: String,
                 ids: DataFrame): (Long, Long) = {
    require(ids.columns.length == 1,
      s"ids must be a one-column frame, got ${ids.columns.toSeq}")
    Commit.write(snapshotDir) { gen =>
      val manifest = Commit.readManifest(new File(snapshotDir), classOf[SnapshotManifest]).getOrElse(
        throw new IllegalArgumentException(
          s"$snapshotDir has no manifest — purgeApply operates only on " +
            "upsertIncremental snapshots (the bucket layout IS the pruning index)"))
      val keyType = spark.read.parquet(snapshotDir).schema(manifest.key).dataType
      // persisted: the bucket plan and the anti-join must see the SAME id
      // set (the upsertIncremental nondeterminism discipline)
      val keyIds = ids.select(col(ids.columns.head).cast(keyType).as("__k"))
        .filter(col("__k").isNotNull).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val touched = keyIds
          .select(pmod(xxhash64(col("__k")), lit(manifest.numBuckets.toLong))
            .cast("int").as("bucket"))
          .distinct().collect().map(_.getInt(0)).sorted
        val planned = liveBuckets(snapshotDir, touched)
        if (planned.isEmpty) (0L, 0L)
        else {
          val live = readBuckets(spark, snapshotDir, planned)
          val nBefore = live.count()
          val kept = live.join(broadcast(keyIds),
            col(manifest.key) === col("__k"), "left_anti")
          kept.write.mode("overwrite").partitionBy("bucket").parquet(gen.getPath)
          // a fully-purged bucket legitimately writes NO output directory —
          // unlike the upsert (whose written set must EQUAL the plan), the
          // purge invariant is written ⊆ planned: an output bucket outside
          // the plan means the read saw rows the routing said cannot exist
          val written = buckets(gen)
          if (!written.toSet.subsetOf(planned.toSet))
            throw new IllegalStateException(
              s"purgeApply: written buckets [${written.mkString(",")}] outside the " +
                s"planned set [${planned.mkString(",")}] — snapshot left untouched.")
          val nAfter =
            if (written.isEmpty) 0L else spark.read.parquet(gen.getPath).count()
          completeGeneration(snapshotDir, gen, manifest, planned.toSet)
          (nBefore, nBefore - nAfter)
        }
      } finally { keyIds.unpersist(); () }
    }
  }

  /** Full run (reference main(), etl_connector.py:206-239): extract →
    * transform → validate → upsert. Returns (validCount, quarantineCount).
    * Sized by bytes at both ends: the source packs pages into byte-sized
    * input partitions, and the snapshot gets one file per post-AQE
    * partition of the merge window (`cfg.batchSize` bounds nothing here).
    * One pass: an `Observation` counts the rows inside the snapshot
    * write, the only job that reads the source. When no row reaches the
    * merge window's shuffle (an empty source, every row quarantined),
    * adaptive execution drops the empty stage with its collector and the
    * observation completes empty; one aggregate job then counts. */
  def run(spark: SparkSession, fixtureDir: String, snapshotDir: String,
          cfg: EtlConfig): (Long, Long) = {
    val t = transform(extract(spark, fixtureDir, cfg), cfg)
    val (rows, valid) = (count(lit(1)).as("rows"), count_if(isValid).as("valid"))
    val counts = Observation("etl_run")
    upsert(spark, t.observe(counts, rows, valid).filter(isValid), snapshotDir)
    val observed = counts.get
    val m = if (observed.nonEmpty) observed
            else t.agg(rows, valid).head().getValuesMap[Any](Seq("rows", "valid"))
    val (n, v) = (m("rows").asInstanceOf[Long], m("valid").asInstanceOf[Long])
    (v, n - v)
  }
}

package graft.operators

import graft.core.IndexTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted ANN index artifacts — "build the index once, probe it per
  * query".
  *
  * [[Similarity.lshTopK]] and [[Similarity.ivfTopK]] recompute their
  * corpus-side artifacts (LSH signatures / KMeans cell assignments) on
  * EVERY call: one narrow map over the corpus per query batch. At
  * 100 TB that map is a full corpus scan — fine once, waste when the
  * same corpus serves thousands of query batches. The standard fix is
  * the one every vector store applies: persist the assignment table,
  * amortize the scan.
  *
  * Here the artifact is a persisted index group ([[IndexTable]]): a
  * BUCKETED table keyed by the probe-join column (`sig` for LSH, `cell`
  * for IVF), so the probe join reads co-located buckets with ZERO
  * Exchange on the corpus side — the shuffle is paid once at build time,
  * amortized over every query (LayoutSpec-proven shape). Index
  * parameters (planes/tables, nlist) are pinned in the group's manifest
  * and the query side reads them from there, so probe and build can
  * never silently disagree on the plane family.
  *
  * Results are IDENTICAL to the on-the-fly operators (same signature
  * expressions, same quantizer fit path/seed, same scoring and
  * tie-break) — asserted in AnnIndexSpec.
  */
object AnnIndex {

  private val PlanesProp = "graft.lsh.numPlanes"
  private val TablesProp = "graft.lsh.numTables"
  private val NlistProp = "graft.ivf.nlist"

  /** TOMBSTONE delete from a persisted index (LSH signature table or
    * IVF assignment table) — the third leg of index maintenance after
    * build and O(batch) append: deleted ids land in a tiny tombstone
    * list and BOTH prebuilt probes subtract it (broadcast anti-join on
    * the id) before scoring, so a delete costs O(|ids|) now and O(1) per
    * candidate at probe time — never an index rewrite on the deletion
    * path. [[compactLshIndex]]/[[compactIvfIndex]] fold the tombstones
    * into the index when the list outgrows its broadcast budget; the
    * purge/governance story is the same audit-then-apply discipline as
    * [[graft.etl.Pipeline.purgeApply]]. Spec-proven: a probe with
    * tombstones ≡ a probe of a fresh index built without the deleted
    * rows (AnnIndexSpec). */
  def deleteFromIndex(spark: SparkSession, table: String, ids: DataFrame,
                      idCol: String = "vec_id"): Unit =
    IndexTable.delete(spark, table, ids, idCol)

  /** Fold tombstones into the LSH index ([[IndexTable.compact]]): the
    * probe-visible result is unchanged (spec-pinned), the broadcast
    * list resets to empty. No-op without tombstones. */
  def compactLshIndex(spark: SparkSession, table: String): Unit =
    IndexTable.compact(spark, table)

  /** [[compactLshIndex]] for the IVF index (named by its assignments). */
  def compactIvfIndex(spark: SparkSession, assignTable: String): Unit =
    IndexTable.compact(spark, assignTable)

  /** Build the LSH index: one row per (table, vector) with the
    * vector's signature in that table's plane family, bucketed by
    * `sig`. One corpus scan, one write-side shuffle (the bucketing),
    * never again. */
  def buildLshIndex(corpus: DataFrame, table: String, numPlanes: Int = 8,
                    numTables: Int = 2, buckets: Int = 8,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(numTables >= 1, s"numTables ($numTables) must be >= 1")
    IndexTable.build(table, "neighbor_id", buckets, PlanesProp -> numPlanes,
        TablesProp -> numTables)(
      (table, signed(corpus, numPlanes, numTables, idCol, vecCol), Seq("sig")))
  }

  /** (tbl, neighbor_id, cv, sig) rows of `vectors` in each of the
    * `numTables` plane families. All signatures come from ONE projection
    * over ONE scan: posexplode over the array of per-table signature
    * expressions (pos = table id, matching the t*numPlanes plane-family
    * offset); a per-table unionByName spelling reads the input
    * numTables times. */
  private def signed(vectors: DataFrame, numPlanes: Int, numTables: Int,
                     idCol: String, vecCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    vectors.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<float>").as("cv"))
      .select(col("neighbor_id"), col("cv"),
        posexplode(array((0 until numTables).map(t =>
          call_function("lsh_sig", col("cv"), lit(numPlanes), lit(t * numPlanes))): _*))
          .as(Seq("tbl", "sig")))
      .select(col("tbl"), col("neighbor_id"), col("cv"), col("sig"))
  }

  /** INCREMENTAL maintenance of a [[buildLshIndex]] table: sign a new
    * batch with the index's OWN pinned parameters (read from its
    * manifest — a caller-supplied numPlanes could silently corrupt the
    * index with incompatible signatures) and APPEND. Cost is
    * O(batch): the corpus is never re-signed, and bucketed appends add
    * per-bucket files without touching existing ones — the standard
    * "index the delta" shape every ingest pipeline needs, paired with
    * [[graft.operators.Dedup.newAgainstBase]] upstream so only
    * content-new documents reach the index. Callers dedupe LIVE ids
    * across batches (an id re-appended shadows nothing — both rows
    * surface; the top-k tie-break keeps results deterministic
    * regardless); ids retired via [[deleteFromIndex]] are safe to
    * re-append — [[IndexTable.append]] folds the tombstones first
    * (one index rewrite) so the old rows can't hide the new ones. */
  def appendToLshIndex(batch: DataFrame, table: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    IndexTable.append(table, batch.select(col(idCol)))(Seq(table -> signed(batch,
      IndexTable.param(spark, table, PlanesProp),
      IndexTable.param(spark, table, TablesProp), idCol, vecCol)))
  }

  /** INCREMENTAL maintenance of a [[buildIvfIndex]] assignment table:
    * assign a new batch to its nearest EXISTING centroid (the coarse
    * quantizer is pinned at build — re-fitting would silently re-cell
    * the whole corpus) and append, O(batch). Probe correctness is
    * untouched: IVF cells are just partitions, and [[ivfTopKPrebuilt]]
    * scores exactly within whatever cells it probes — the quantizer
    * ages (recall at a given nprobe drifts as the corpus distribution
    * moves), which is the standard IVF maintenance trade; rebuild the
    * index when drift shows up in the recall certification (x30's
    * shape). Spec-asserted: with nprobe = nlist an appended index
    * answers bit-identically to brute force over the full corpus. */
  def appendToIvfIndex(batch: DataFrame, assignTable: String,
                       centersTable: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    val c = batch.select(col(idCol).as("neighbor_id"),
      Similarity.asDouble(col(vecCol)).as("cv"))
    // nearest existing centroid via the bounded-aggregate probe helper
    // at nprobe = 1 — same (cdist ASC, cell ASC) selection the old
    // rank window applied, without sorting |batch|·nlist rows
    IndexTable.append(assignTable, batch.select(col(idCol)))(Seq(assignTable ->
      Similarity.nearestCells(
          c.select(col("neighbor_id").as("query_id"), col("cv").as("qv")),
          IndexTable.read(batch.sparkSession, assignTable, centersTable), nprobe = 1)
        .select(col("query_id").as("neighbor_id"), col("qv").as("cv"),
          col("cell"))))
  }

  /** Probe a prebuilt LSH index: [[Similarity.lshTopK]] semantics, but
    * the corpus-side signatures come from the bucketed index table —
    * no corpus scan-and-sign per call, no Exchange on the index side
    * (the query side is broadcast). Plane parameters come from the
    * index manifest, so they always match the build. */
  def lshTopKPrebuilt(spark: SparkSession, queries: DataFrame, table: String,
                      k: Int, multiProbe: Int = 2,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val numPlanes = IndexTable.param(spark, table, PlanesProp)
    val numTables = IndexTable.param(spark, table, TablesProp)
    require(multiProbe >= 0 && multiProbe <= numPlanes,
      s"multiProbe ($multiProbe) must be in [0, numPlanes=$numPlanes]")
    val masks = Similarity.probeMasks(numPlanes, multiProbe)
    val idx = IndexTable.read(spark, table, table)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<float>").as("qv"))
    val scored = (0 until numTables).map { t =>
      val qs = q.withColumn("sig0",
          call_function("lsh_sig", col("qv"), lit(numPlanes), lit(t * numPlanes)))
        .select(col("query_id"), col("qv"),
          explode(array(masks.map(m => col("sig0").bitwiseXOR(lit(m))): _*)).as("sig"))
      idx.filter(col("tbl") === t).join(broadcast(qs), Seq("sig"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          call_function("cosine_f32", col("qv"), col("cv")).as("score"))
    }.reduce(_ unionByName _)
    val merged = if (numTables == 1) scored
      else scored.dropDuplicates("query_id", "neighbor_id")
    Similarity.topKByScore(merged, k)
  }

  /** Build the IVF index: fit the coarse quantizer exactly like
    * [[Similarity.ivfTopK]] (same bounded deterministic fit, same
    * seed), then persist BOTH artifacts — the tiny centroid table and the
    * `cell`-bucketed assignments — as one index group named by `assignTable`. */
  def buildIvfIndex(corpus: DataFrame, assignTable: String, centersTable: String,
                    nlist: Int = 16, maxFitRows: Int = 100000,
                    fitFraction: Double = 1.0, buckets: Int = 8,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    require(fitFraction > 0.0 && fitFraction <= 1.0,
      s"fitFraction ($fitFraction) must be in (0, 1]")
    val c = corpus.select(col(idCol).as("neighbor_id"),
        Similarity.asDouble(col(vecCol)).as("cv"))
      .withColumn("feat", array_to_vector(col("cv")))
    // identical fit-input construction to Similarity.ivfTopK — the
    // prebuilt path must reproduce the on-the-fly model bit for bit
    val fitInput =
      if (fitFraction < 1.0) {
        val sampled = c.filter(pmod(xxhash64(col("neighbor_id")), lit(1000000L))
          < lit((fitFraction * 1000000L).toLong))
        if (maxFitRows > 0) sampled.limit(maxFitRows) else sampled
      } else if (maxFitRows > 0)
        c.orderBy(xxhash64(col("neighbor_id")), col("neighbor_id")).limit(maxFitRows)
      else c
    val model = new KMeans().setK(nlist).setSeed(42L).setMaxIter(5)
      .setFeaturesCol("feat").setPredictionCol("cell").fit(fitInput)
    val assigned = model.transform(c).select("neighbor_id", "cv", "cell")
    import spark.implicits._
    val centers = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray) }.toSeq.toDF("cell", "center")
    IndexTable.build(assignTable, "neighbor_id", buckets, NlistProp -> nlist)(
      (centersTable, centers, Nil), (assignTable, assigned, Seq("cell")))
  }

  /** Probe a prebuilt IVF index: rank the persisted centroids per
    * query (broadcast — the table is nlist rows), then join the
    * `nprobe` chosen cells against the bucketed assignment table with
    * the probe side broadcast — the corpus-scale side never moves. */
  def ivfTopKPrebuilt(spark: SparkSession, queries: DataFrame, assignTable: String,
                      centersTable: String, k: Int, nprobe: Int = 3,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val nlist = IndexTable.param(spark, assignTable, NlistProp)
    require(nprobe >= 1 && nprobe <= nlist,
      s"nprobe ($nprobe) must be in [1, nlist=$nlist]")
    val centers = IndexTable.read(spark, assignTable, centersTable)
    val q = queries.select(col(idCol).as("query_id"),
      Similarity.asDouble(col(vecCol)).as("qv"))
    // bounded-aggregate coarse probe (Similarity.nearestCells): the
    // rank-window spelling shuffled |Q|·nlist distance rows per call
    val probed = Similarity.nearestCells(q, centers, nprobe)
    val scored = IndexTable.read(spark, assignTable, assignTable)
      .join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("qv"), col("cv")).as("score"))
    Similarity.topKByScore(scored, k)
  }
}

package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Physical data layout for scale: bucketing (shuffle-free co-located
  * joins/aggregations) and partitioned writes (scan-time partition
  * pruning).
  *
  * At 100 TB these two layout decisions dominate query cost:
  *  - a fact table bucketed on its join key turns every fact-fact
  *    equi join and keyed aggregation into a zero-Exchange plan —
  *    the shuffle is paid ONCE at write time, amortized over every
  *    subsequent query;
  *  - partitioning on a low-cardinality predicate column (date,
  *    region) lets the scan skip whole directories
  *    (`PartitionFilters` in the plan), before row-group stats even
  *    apply.
  */
object Layout {

  /** Drop a managed table AND its leftover warehouse directory — the
    * in-memory catalog forgets tables across JVMs but the directory
    * survives, making a later saveAsTable refuse with
    * LOCATION_ALREADY_EXISTS. */
  def dropManagedTable(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
      .stripPrefix("file:")
    // the catalog lowercases unquoted identifiers, and a db-qualified
    // managed table lives under <db>.db/<table> — mirror both, or the
    // delete misses the real directory and the next saveAsTable still
    // fails with LOCATION_ALREADY_EXISTS
    val rel = name.toLowerCase.split('.') match {
      case Array(db, tbl) => s"$db.db/$tbl"
      case _ => name.toLowerCase
    }
    Fs.deleteRecursively(new java.io.File(warehouse, rel))
  }

  /** True when `batchIds` (a single long id column named `keyCol`)
    * intersects the tombstone side table `t`. The append paths of the
    * persisted indexes call this to catch the retire→re-append trap:
    * an id appended while still tombstoned would have its NEW rows
    * subtracted by every probe alongside the old ones, and the next
    * compact would permanently drop both generations. One O(batch)
    * semi-join against the broadcast tombstone list (tiny by the
    * broadcast-budget contract); false when the table is absent. */
  def overlapsTombstones(spark: SparkSession, t: String,
                         batchIds: DataFrame, keyCol: String): Boolean =
    spark.catalog.tableExists(t) && !batchIds
      .join(org.apache.spark.sql.functions.broadcast(
        spark.table(t).distinct()), Seq(keyCol), "left_semi")
      .isEmpty

  /** Write `df` as a bucketed+sorted managed table. Spark's bucket
    * layout requires the table catalog (`saveAsTable`); readers then
    * get `HashPartitioning(bucketCols, n)` from the scan for free. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCols: Seq[String], mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Directory-partitioned parquet write: one directory per distinct
    * value combination of `partitionCols`. Keep partition columns
    * low-cardinality (dates, enums) — millions of tiny directories
    * are their own scale bug. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Morton (Z-order) value of two non-negative dimension columns:
    * the low `bits` bits of each are interleaved (a even positions, b
    * odd), so sorting by the result places rows close in BOTH
    * dimensions into the same neighborhood — and therefore the same
    * files, giving parquet min/max row-group skipping on EITHER
    * dimension from one sort order. Plain sort-by-(a,b) clusters only
    * the leading column; Z-order is the standard multi-dimensional
    * layout fix (Delta/Iceberg expose the same thing at table level).
    *
    * Pure integer shift/mask arithmetic (no UDF — stays in codegen and
    * is exactly replayable by any engine with `>> & |`). Inputs must
    * already be range-reduced to [0, 2^bits) — pass quantized/bucketed
    * dimensions, not raw values; out-of-range bits are masked off. */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
             bits: Int): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31, s"bits ($bits) must be in [1, 31]")
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    val al = a.cast("long")
    val bl = b.cast("long")
    (0 until bits).map { i =>
      shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Z-order a frame for writing: range-partition by the interleaved
    * key (contiguous Z-ranges per output file → tight per-file min/max
    * on both dimensions), then sort within partitions. One full sort
    * shuffle at write time, amortized over every later pruned scan —
    * the same pay-once economics as [[writeBucketed]]. */
  def zOrderBy(df: DataFrame, a: String, b: String, bits: Int,
               partitions: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn("__z", zValue(col(a), col(b), bits))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Small-file compaction plan — the maintenance pass every
    * streaming/incremental sink eventually needs: micro-batch and
    * per-bucket writes leave thousands of KB-scale files, and at
    * 100 TB the scan's task-scheduling and footer-reading overhead is
    * dominated by FILE COUNT, not bytes. This plans the merge: group
    * key-adjacent zones (the stand-ins for files of a key-ordered
    * layout — adjacency preserves the layout's min/max tightness, see
    * [[graft.operators.Profiling.zoneMapReport]]) greedily into
    * `targetBytes` output groups: group = bytes-before div target, so
    * every group except possibly the last reaches the target and no
    * group exceeds it by more than one input zone. Deterministic, one
    * pass, and the plan is itself a frame — auditable before any
    * rewrite executes (the same plan-then-verify contract as the
    * incremental upsert's bucket manifest).
    *
    * Shape: one map-side-combined per-zone aggregation collapses the
    * data scan to ≤|zones| rows; the running-bytes window orders THAT
    * bounded table (the x126 global-window-over-aggregate contract).
    *
    * @return (zone, n_rows, bytes, grp) ordered by zone; grp is the
    *         merge-group id, contiguous in zone order. */
  def compactionPlan(df: DataFrame, keyCol: String,
                     bytes: org.apache.spark.sql.Column, zoneWidth: Long,
                     targetBytes: Long): DataFrame = {
    require(zoneWidth > 0, s"zoneWidth ($zoneWidth) must be > 0")
    require(targetBytes > 0, s"targetBytes ($targetBytes) must be > 0")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("zone")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NULL keys zone nowhere and are dropped; floor-division zone id
    // (exact bigint form) keeps negative keys in correctly-labelled
    // zones — the zoneMapReport discipline.
    df.filter(col(keyCol).isNotNull)
      .select(expr(s"""(cast($keyCol as bigint)
            - pmod(cast($keyCol as bigint), ${zoneWidth}L))
            div ${zoneWidth}L""").as("zone"),
        bytes.cast("long").as("__b"))
      .groupBy("zone")
      .agg(count(lit(1)).as("n_rows"), sum("__b").as("bytes"))
      .withColumn("__cum", sum("bytes").over(w))
      .select(col("zone"), col("n_rows"), col("bytes"),
        expr(s"(__cum - bytes) div ${targetBytes}L").as("grp"))
      .orderBy("zone")
  }

  /** CLUSTERING-DEPTH histogram — the Iceberg/Delta layout-health
    * metric [[graft.operators.Profiling.zoneMapReport]] cannot see:
    * zone maps score zones derived FROM the key, which never overlap
    * by construction; real files are cut by ARRIVAL (ingest batches),
    * and on an unsorted table their key [min, max] ranges overlap each
    * other — a point lookup then reads every overlapping file no
    * matter how tight each file's own stats are. This measures that
    * directly: treating `fileExpr` as the file id (ingest batch at
    * test scale, the real file path in production), sweep the files'
    * key ranges and report, for each DEPTH d, how much of the key
    * space is covered by exactly d files. depth 1 everywhere = the
    * sorted ideal (compaction has nothing to do); mass at depth ≥ 4 =
    * every point query fans out 4× — the number that justifies a
    * [[sortedBy]]/Z-order rewrite, measured not guessed.
    *
    * Shape: ONE map-side-combined (file → min/max) aggregation
    * collapses the scan to |files| rows; the boundary sweep (+1 at lo,
    * −1 past hi, running sum) is a window over the ≤2|files|-row
    * boundary table — the x126 bounded-global-window contract. All
    * arithmetic exact integer; interior depth-0 segments (key-range
    * gaps between files) are reported too — they are the evidence of
    * perfect partitioning, not noise.
    *
    * @return (depth, n_segments, key_span) ordered by depth. */
  def clusteringDepthHistogram(df: DataFrame,
                               fileExpr: org.apache.spark.sql.Column,
                               keyCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val files = df.filter(col(keyCol).isNotNull)
      .groupBy(fileExpr.as("__f"))
      .agg(min(col(keyCol).cast("long")).as("lo"),
        max(col(keyCol).cast("long")).as("hi"))
    val bounds = files.select(col("lo").as("pt"), lit(1L).as("d"))
      .unionByName(files.select((col("hi") + 1L).as("pt"), lit(-1L).as("d")))
      .groupBy("pt").agg(sum("d").as("delta"))
    val sweep = Window.orderBy("pt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bounds
      .withColumn("depth", sum("delta").over(sweep))
      .withColumn("__next", lead("pt", 1).over(Window.orderBy("pt")))
      .filter(col("__next").isNotNull)
      .groupBy("depth")
      .agg(count(lit(1)).as("n_segments"),
        sum(col("__next") - col("pt")).as("key_span"))
      .orderBy("depth")
  }

  /** HILBERT curve index for a 2^bits × 2^bits grid — the
    * locality-tighter alternative to [[zValue]]: consecutive Hilbert
    * indexes are always GRID-ADJACENT cells (the curve never jumps),
    * where Morton/Z takes a long diagonal jump at every power-of-two
    * boundary — so equal index ranges (≈ files) cover tighter bounding
    * boxes and min/max skipping prunes more. The standard iterative
    * xy2d (quadrant bit → reflect → swap), unrolled as a row-local
    * `aggregate` fold over the bits-long step array — one linear
    * expression, no UDF, engine-replayable round by round (the oracle
    * replays it as chained CTEs). PropertySpec proves the defining
    * properties on the full 16×16 grid: bijection onto [0, n²) and
    * every consecutive pair grid-adjacent.
    *
    * Inputs must be range-reduced to [0, 2^bits) like [[zValue]];
    * intermediate x/y go NEGATIVE by design during reflection — two's-
    * complement `&` keeps the extracted bits exact in Spark, DuckDB
    * and the JVM alike. */
  def hilbertValue(x: org.apache.spark.sql.Column,
                   y: org.apache.spark.sql.Column,
                   bits: Int): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 16, s"bits ($bits) must be in [1, 16]")
    import org.apache.spark.sql.functions._
    val steps = array((bits - 1 to 0 by -1).map(i => lit(1L << i)): _*)
    val init = struct(x.cast("long").as("x"), y.cast("long").as("y"),
      lit(0L).as("d"))
    aggregate(steps, init, (acc, s) => {
      val ax = acc.getField("x"); val ay = acc.getField("y")
      val rx = when(ax.bitwiseAND(s) > 0, lit(1L)).otherwise(lit(0L))
      val ry = when(ay.bitwiseAND(s) > 0, lit(1L)).otherwise(lit(0L))
      val nd = acc.getField("d") + s * s * (rx * lit(3L)).bitwiseXOR(ry)
      val nx = when(ry === 1L, ax)
        .otherwise(when(rx === 1L, s - lit(1L) - ay).otherwise(ay))
      val ny = when(ry === 1L, ay)
        .otherwise(when(rx === 1L, s - lit(1L) - ax).otherwise(ax))
      struct(nx.as("x"), ny.as("y"), nd.as("d"))
    }, acc => acc.getField("d"))
  }

  /** Curve CLUSTERING comparison — Hilbert vs Morton measured by the
    * metric that actually differs (Moon et al. 1996): how many
    * CONTIGUOUS INDEX RUNS a rectangular query region fragments into.
    * Equal-width index buckets tile BOTH curves into perfect
    * rectangles (measured: identical mean bounding boxes — the naive
    * "Morton jumps" framing is about queries, not bucketing), but a
    * query tile touches ~2× more index runs under Morton — every run
    * is a separate file-range seek, which is the real scan cost.
    *
    * Method: the data's distinct cells, a DISJOINT grid of query
    * tiles (size < stride, offset to de-align from curve quadrant
    * boundaries), runs counted per (curve, tile) as lag-gaps in
    * sorted index order. The tile assignment is SCAN-SIDE integer
    * arithmetic (disjoint tiles ⇒ no tile join), the run windows
    * partition by (curve, tile) over the ≤ grid²-bounded cell table,
    * and the report is 2 rows. PropertySpec-grade grounding: the
    * 16×16 bijection/adjacency test pins the index itself.
    *
    * @return (curve, n_tiles, total_runs, mean_runs_micro),
    *         curve-ordered; LayoutSpec asserts hilbert < morton. */
  def curveClusteringReport(df: DataFrame,
                            x: org.apache.spark.sql.Column,
                            y: org.apache.spark.sql.Column,
                            bits: Int, tileSize: Int = 20,
                            tileStride: Int = 24,
                            tileOffset: Int = 3): DataFrame = {
    require(tileSize >= 2 && tileSize <= tileStride,
      s"tileSize ($tileSize) must be in [2, tileStride]")
    require(tileOffset >= 0 && tileOffset < tileStride,
      s"tileOffset ($tileOffset) must be in [0, tileStride)")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val n = 1L << bits
    val cells = df
      .select(x.cast("long").as("qx"), y.cast("long").as("qy"))
      .filter(col("qx").isNotNull && col("qy").isNotNull)
      .distinct()
      .withColumn("__c", explode(array(
        struct(lit("hilbert").as("curve"),
          hilbertValue(col("qx"), col("qy"), bits).as("idx")),
        struct(lit("morton").as("curve"),
          zValue(col("qx"), col("qy"), bits).as("idx")))))
      .select(col("__c.curve").as("curve"), col("__c.idx").as("idx"),
        col("qx"), col("qy"))
    def tileOf(c: String) = expr(
      s"($c - $tileOffset) div $tileStride")
    def inTile(c: String) = expr(
      s"$c >= $tileOffset AND pmod($c - $tileOffset, $tileStride) < $tileSize" +
        s" AND (($c - $tileOffset) div $tileStride) * $tileStride" +
        s" + $tileOffset + $tileSize <= $n")
    val w = Window.partitionBy("curve", "tile_x", "tile_y").orderBy("idx")
    cells
      .filter(inTile("qx") && inTile("qy"))
      .select(col("curve"), col("idx"),
        tileOf("qx").as("tile_x"), tileOf("qy").as("tile_y"))
      .withColumn("__run_start",
        when(lag("idx", 1).over(w).isNull
          || col("idx") - lag("idx", 1).over(w) > 1L, 1L).otherwise(0L))
      .groupBy("curve", "tile_x", "tile_y")
      .agg(sum("__run_start").as("runs"))
      .groupBy("curve")
      .agg(count(lit(1)).as("n_tiles"), sum("runs").as("total_runs"))
      .select(col("curve"), col("n_tiles"), col("total_runs"),
        expr("(total_runs * 1000000) div n_tiles").as("mean_runs_micro"))
      .orderBy("curve")
  }
}

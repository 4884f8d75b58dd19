package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.functions.{broadcast, col}

/** The one life cycle of a persisted catalog index: the ANN tables
  * (LSH signatures, IVF assignments), the BM25 lex index (postings and
  * lengths) and the near-dup pair state all build, append, delete, read
  * and compact through here.
  *
  * An index is a GROUP of bucketed managed tables; the first names the
  * group. Its parameters (`graft.*` keys) are pinned in each table's
  * TBLPROPERTIES, so a later append or probe can never disagree with the
  * build. The bucket count and columns are the catalog's own bucket
  * spec: Spark refuses a bucketed append that does not match it.
  *
  * Deletes are TOMBSTONES: the ids land in one small side table
  * `<first>_tombs` (a single long column named after the group's key),
  * and [[live]] subtracts it with a broadcast anti-join, so a delete is
  * O(|ids|) and never rewrites the index. [[compact]] folds the
  * tombstones in; [[append]] folds them first when the batch re-adds a
  * tombstoned id. A (re)build drops them: they name ids of the index
  * the build replaces.
  *
  * CRASH CONTRACT. The catalog has no multi-statement transaction, so a
  * compaction's swap is not atomic; its contract is "loud and
  * retriable": the live table is parked as `<table>_old`, the stage
  * `<table>_compact` is promoted, then the parked copy is dropped. Every
  * crash point leaves the data under some name, a reader fails
  * table-not-found rather than reading a half-swapped state, and the
  * next [[compact]] restores the parked copy before it reads anything.
  * The tombstones are dropped last, after every table of the group is
  * swapped, so a retry folds them again. */
object IndexTable {

  /** (Re)build an index group: each `(table, rows, bucketCols)` is
    * written bucketed and sorted on `bucketCols` into `buckets` buckets
    * with `params` pinned, then the group's tombstones are dropped. */
  def build(buckets: Int, params: (String, Int)*)(tables: (String, DataFrame, Seq[String])*): Unit = {
    val spark = tables.head._2.sparkSession
    tables.foreach { case (table, rows, bucketCols) =>
      Layout.writeBucketed(rows, table, buckets, bucketCols)
      setParams(spark, table, params.map { case (k, v) => k -> v.toString })
    }
    Layout.dropManagedTable(spark, tombs(tables.head._1))
  }

  /** The pinned parameter `key` of `table`: a catalog lookup, no job. */
  def param(spark: SparkSession, table: String, key: String): Int =
    metadata(spark, table).properties.get(key).map(_.toInt).getOrElse(
      throw new IllegalArgumentException(
        s"$table has no '$key' property — was it built as a graft index?"))

  /** O(batch) append to every table of a group, through each table's
    * own bucket spec so the scan's HashPartitioning survives. `ids` (one
    * column) are the batch's keys: when one is still tombstoned, the
    * group is compacted first — otherwise its tombstone would subtract
    * the new rows too, and the next compact would drop both generations.
    * `rows` is evaluated after that fold, one frame per table in order. */
  def append(ids: DataFrame, tables: String*)(rows: => Seq[DataFrame]): Unit = {
    val spark = ids.sparkSession
    if (overlapsTombstones(spark, tables.head, ids)) compact(spark, tables: _*)
    tables.zip(rows).foreach { case (table, df) =>
      val spec = bucketSpec(metadata(spark, table))
      Layout.writeBucketed(df, table, spec.numBuckets, spec.bucketColumnNames,
        SaveMode.Append)
    }
  }

  /** Tombstone the ids of `ids` in the group named by `first`: column
    * `idCol`, or the only column; stored as long column `key`. */
  def delete(spark: SparkSession, first: String, ids: DataFrame, idCol: String,
             key: String): Unit = {
    // resolve the delete key explicitly — silently taking columns.head
    // of a multi-column frame would tombstone the wrong values
    val keyCol =
      if (ids.columns.contains(idCol)) idCol
      else {
        require(ids.columns.length == 1,
          s"ids has no '$idCol' column and is not single-column " +
          s"(${ids.columns.mkString(", ")}) — pass idCol explicitly")
        ids.columns.head
      }
    ids.select(col(keyCol).cast("long").as(key)).distinct()
      .write.mode(SaveMode.Append).format("parquet").saveAsTable(tombs(first))
  }

  /** `df`, read from a table of the group named by `first`, without the
    * rows of tombstoned ids. */
  def live(spark: SparkSession, first: String, df: DataFrame): DataFrame = {
    val t = tombs(first)
    if (spark.catalog.tableExists(t)) {
      val dead = spark.table(t)
      df.join(broadcast(dead.distinct()), Seq(dead.columns.head), "left_anti")
    } else df
  }

  /** Fold the group's tombstones into its tables: each is rewritten
    * without them into a stage with the same bucket spec and `graft.*`
    * properties and swapped in, then the tombstones are dropped.
    * Reads through [[live]] are unchanged. No-op without tombstones. */
  def compact(spark: SparkSession, tables: String*): Unit = {
    tables.foreach(recover(spark, _))
    val t = tombs(tables.head)
    if (!spark.catalog.tableExists(t)) return
    tables.foreach { table =>
      val meta = metadata(spark, table)
      val spec = bucketSpec(meta)
      val stage = table + "_compact"
      Layout.dropManagedTable(spark, stage)
      Layout.writeBucketed(live(spark, tables.head, spark.table(table)), stage,
        spec.numBuckets, spec.bucketColumnNames)
      setParams(spark, stage, meta.properties.filter(_._1.startsWith("graft.")).toSeq)
      swap(spark, table)
    }
    Layout.dropManagedTable(spark, t)
  }

  private def tombs(first: String) = first + "_tombs"

  private def metadata(spark: SparkSession, table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  private def bucketSpec(meta: CatalogTable) = meta.bucketSpec.getOrElse(
    throw new IllegalArgumentException(s"${meta.identifier} is not a bucketed index table"))

  private def setParams(spark: SparkSession, table: String, kv: Seq[(String, String)]): Unit =
    if (kv.nonEmpty)
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
        kv.map { case (k, v) => s"'$k'='$v'" }.mkString(", ") + ")")

  /** True when a batch id is tombstoned: one O(batch) semi-join against
    * the broadcast tombstone list (tiny by the broadcast-budget
    * contract); false when there are no tombstones. */
  private def overlapsTombstones(spark: SparkSession, first: String, ids: DataFrame): Boolean = {
    val t = tombs(first)
    spark.catalog.tableExists(t) && {
      val dead = spark.table(t)
      val key = dead.columns.head
      !ids.select(col(ids.columns.head).cast("long").as(key))
        .join(broadcast(dead.distinct()), Seq(key), "left_semi").isEmpty
    }
  }

  /** Finish a swap a crash interrupted after the park: the live name
    * gone, `<table>_old` holding the data. */
  private def recover(spark: SparkSession, table: String): Unit = {
    val parked = table + "_old"
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(parked))
      spark.sql(s"ALTER TABLE $parked RENAME TO $table")
  }

  /** Replace `table` by its fully written `<table>_compact`: park the
    * live table as `<table>_old`, promote the stage, drop the parked copy. */
  private def swap(spark: SparkSession, table: String): Unit = {
    val parked = table + "_old"
    Layout.dropManagedTable(spark, parked)
    spark.sql(s"ALTER TABLE $table RENAME TO $parked")
    spark.sql(s"ALTER TABLE ${table}_compact RENAME TO $table")
    Layout.dropManagedTable(spark, parked)
  }
}

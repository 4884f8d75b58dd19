package graft.core

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.StructType

/** The one life cycle of a persisted index — the ANN tables (LSH
  * signatures; IVF centers and assignments), the BM25 lex index
  * (postings and lengths), the near-dup pair state: build, append,
  * delete, read and compact.
  *
  * An index is a GROUP of tables published as the [[Commit]] generations
  * of one link, `<warehouse>/<group>.index`. A generation holds a
  * directory of parquet files per table (bucketed and sorted on its bucket
  * columns, if any), an optional `_tombs/` and a `_MANIFEST.json` pinning
  * the bucket count, each table's bucket columns and schema, the id column
  * and the `graft.*` parameters. Every write publishes one generation with
  * one link flip: crashes and readers get [[Commit]]'s contract. Tables
  * are read through catalog entries ([[read]]), external bucketed tables
  * at `<link>/<table>` (the scan keeps its HashPartitioning), made from
  * the manifest after each publish and whenever one is missing, so a new
  * process opens an index another process built.
  *
  * Deletes are TOMBSTONES: ids land in `_tombs/` and [[read]] subtracts
  * them with a broadcast anti-join from every table carrying the id
  * column, so a delete is O(|ids|) and never rewrites the index.
  * [[compact]] folds them in; [[append]] folds them first when the batch
  * re-adds a tombstoned id. A (re)build has none. */
object IndexTable {

  /** A group's manifest; `key` is the id column deletes name. */
  private[graft] case class Manifest(buckets: Int, key: String, tables: Seq[Table],
                                     params: Map[String, Int])

  /** One table of a group: no bucket columns means plain parquet files. */
  private[graft] case class Table(name: String, bucketColumns: Seq[String], schema: String)

  private val Tombs = "_tombs"

  /** (Re)build `group`: each `(table, rows, bucketCols)` is written in
    * order, bucketed and sorted on `bucketCols` into `buckets` buckets,
    * with `params` pinned; `key` is the id column of the rows. */
  def build(group: String, key: String, buckets: Int, params: (String, Int)*)(
      tables: (String, DataFrame, Seq[String])*): Unit =
    commit(tables.head._2.sparkSession, group) { gen =>
      Manifest(buckets, key, tables.map { case (table, rows, cols) => writeTable(rows, gen,
        Table(table, cols, StructType(rows.schema.map(_.copy(nullable = true))).toDDL), buckets)
      }, params.toMap)
    }

  /** The pinned parameter `key` of `group`: a manifest read, no job. */
  def param(spark: SparkSession, group: String, key: String): Int =
    manifest(spark, group).params.getOrElse(key, throw new IllegalArgumentException(
      s"index $group has no '$key' parameter — was it built as a graft index?"))

  /** O(batch) append: each `(table, rows)` is written with the table's
    * bucket spec beside hard links to its live files; other tables are
    * linked in unchanged. When a key of `ids` (one column) is still
    * tombstoned, the group is compacted first — else the tombstone would
    * hide the new rows too. `rows` is evaluated after that fold. */
  def append(group: String, ids: DataFrame)(rows: => Seq[(String, DataFrame)]): Unit = {
    val spark = ids.sparkSession
    val m = manifest(spark, group)
    // one O(batch) semi-join against the broadcast tombstone list
    if (tombstones(spark, group, m.key).exists(dead => !ids
        .select(col(ids.columns.head).cast("long").as(m.key))
        .join(broadcast(dead), Seq(m.key), "left_semi").isEmpty))
      compact(spark, group)
    val live = link(spark, group)
    commit(spark, group) { gen =>
      val batch = rows
      m.tables.foreach { t =>
        batch.find(_._1.equalsIgnoreCase(t.name)) match {
          case Some((_, df)) =>
            writeTable(df, gen, t, m.buckets)
            Commit.linkFiles(new File(live, t.name), new File(gen, t.name))
          case None => Commit.inherit(live.getPath, gen, t.name)
        }
      }
      if (new File(live, Tombs).exists()) Commit.inherit(live.getPath, gen, Tombs)
      m
    }
  }

  /** Tombstone the ids of `ids` in `group`: column `idCol`, or the only
    * column. The tables are linked in unchanged. */
  def delete(spark: SparkSession, group: String, ids: DataFrame, idCol: String): Unit = {
    // never silently take columns.head of a multi-column frame: it would
    // tombstone the wrong values
    require(ids.columns.contains(idCol) || ids.columns.length == 1,
      s"ids has no '$idCol' column and is not single-column " +
        s"(${ids.columns.mkString(", ")}) — pass idCol explicitly")
    val keyCol = if (ids.columns.contains(idCol)) idCol else ids.columns.head
    val live = link(spark, group)
    commit(spark, group) { gen =>
      val m = manifest(spark, group)
      ids.select(col(keyCol).cast("long").as(m.key)).distinct()
        .write.parquet(new File(gen, Tombs).getPath)
      Commit.linkFiles(new File(live, Tombs), new File(gen, Tombs))
      m.tables.foreach(t => Commit.inherit(live.getPath, gen, t.name))
      m
    }
  }

  /** Table `table` of `group` without the rows of tombstoned ids. */
  def read(spark: SparkSession, group: String, table: String): DataFrame = {
    val m = manifest(spark, group)
    require(m.tables.exists(_.name.equalsIgnoreCase(table)), s"index $group has no table $table")
    if (!spark.catalog.tableExists(table)) attach(spark, group, m)
    val df = spark.table(table)
    tombstones(spark, group, m.key).filter(_ => df.columns.contains(m.key))
      .fold(df)(dead => df.join(broadcast(dead), Seq(m.key), "left_anti"))
  }

  /** Fold the tombstones in: one generation rewriting each table with the
    * id column without them. [[read]] is unchanged; no-op without any. */
  def compact(spark: SparkSession, group: String): Unit = {
    val live = link(spark, group)
    if (new File(live, Tombs).exists()) commit(spark, group) { gen =>
      val m = manifest(spark, group)
      m.tables.foreach { t =>
        if (StructType.fromDDL(t.schema).fieldNames.contains(m.key))
          writeTable(read(spark, group, t.name), gen, t, m.buckets)
        else Commit.inherit(live.getPath, gen, t.name)
      }
      m
    }
  }

  /** The link `group` is published at. */
  private[graft] def link(spark: SparkSession, group: String): File =
    new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      group.toLowerCase + ".index")

  private def manifest(spark: SparkSession, group: String): Manifest =
    Commit.readManifest(link(spark, group), classOf[Manifest]).getOrElse(
      throw new IllegalArgumentException(s"no index $group at ${link(spark, group)}"))

  /** Write the next generation of `group` with the manifest `write`
    * returns, publish it and make the catalog entries. */
  private def commit(spark: SparkSession, group: String)(write: File => Manifest): Unit =
    attach(spark, group, Commit.write(link(spark, group).getPath) { gen =>
      val m = write(gen)
      Commit.writeManifest(gen, m)
      m
    })

  /** (Re)make each table's catalog entry from `m`: an external table on
    * the link, so it reads whichever generation is live. */
  private def attach(spark: SparkSession, group: String, m: Manifest): Unit =
    m.tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS ${t.name}")
      val cols = t.bucketColumns.map(c => s"`$c`").mkString(", ")
      val clustered =
        if (cols.isEmpty) "" else s"CLUSTERED BY ($cols) SORTED BY ($cols) INTO ${m.buckets} BUCKETS"
      spark.sql(s"CREATE TABLE ${t.name} (${t.schema}) USING parquet $clustered " +
        s"LOCATION '${new File(link(spark, group), t.name).getAbsolutePath}'")
    }

  /** `rows`, conformed by name to `t`'s schema, as `t` in generation
    * `gen`; returns `t`. */
  private def writeTable(rows: DataFrame, gen: File, t: Table, buckets: Int): Table = {
    val path = new File(gen, t.name).getPath
    val df = rows.select(StructType.fromDDL(t.schema).map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    if (t.bucketColumns.isEmpty) df.write.parquet(path)
    else {
      // Spark writes bucketed files only through the catalog: a staging
      // entry located in the generation, dropped again (external: the
      // files stay)
      val stage = "graft_stage_" + java.util.UUID.randomUUID().toString.replace("-", "")
      try Layout.writeBucketed(df, stage, path, buckets, t.bucketColumns)
      finally rows.sparkSession.sql(s"DROP TABLE IF EXISTS $stage")
    }
    t
  }

  /** The distinct tombstoned ids of `group`, if it has any. */
  private def tombstones(spark: SparkSession, group: String, key: String): Option[DataFrame] =
    Some(new File(link(spark, group), Tombs)).filter(_.exists())
      .map(d => spark.read.schema(s"`$key` BIGINT").parquet(d.getPath).distinct())
}

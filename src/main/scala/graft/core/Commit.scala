package graft.core

import java.io.File
import java.nio.file.{Files, LinkOption, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/** The one way persisted state is replaced: directory generations for the
  * snapshot sinks, a park-promote-drop swap for catalog tables.
  *
  * DIRECTORIES. `<live>` is a symbolic link to the live generation, a
  * directory `g<N>` in the store `<live>.commit/` beside it. A writer
  * builds generation N+1 in a fresh store directory, publishes it with one
  * atomic rename of a new link over `<live>` (the single-pointer commit of
  * Delta Lake, on the local filesystem), then deletes everything in the
  * store the live link no longer reaches. A reader that follows `<live>` —
  * `spark.read.parquet(<live>)` does — sees generation N or N+1 in full,
  * never a mix. A generation may link an entry to a directory of an older
  * one ([[inherit]]: the bucketed snapshot re-links its untouched buckets);
  * such a directory lives as long as the live generation links it.
  *
  * A crash leaves at worst an unpublished generation, a temporary link in
  * the store, or an old generation not yet collected. None of them is
  * reachable from `<live>`, so readers never see them, and the next writer
  * deletes them before it reads anything. Single writer; only the live
  * generation is kept.
  *
  * A plain directory at `<live>` (the layout before this protocol) is
  * adopted as generation 0 when the next writer starts: it moves into the
  * store and is published. Between those two renames `<live>` is absent, so
  * a reader fails on the missing path instead of seeing partial data, and
  * the next writer, finding the store holding generation 0 alone, publishes
  * it.
  *
  * TABLES. The catalog has no multi-statement transaction, so
  * [[swapTable]] is not atomic; its contract is "loud and retriable": every
  * crash point leaves the data under some name, a reader fails
  * table-not-found rather than reading a half-swapped state, and
  * [[recoverTable]] at the next compact restores the parked copy. */
object Commit {

  /** The store holding the generations of the state published at `live`. */
  def store(live: String): File = {
    val link = Paths.get(live).toAbsolutePath.normalize
    link.resolveSibling(link.getFileName.toString + ".commit").toFile
  }

  /** Write the next generation of `live`. `build` gets the fresh generation
    * directory (not yet created) and may read the current one through
    * `live`; if it creates the directory, the generation is published. A
    * `build` that throws publishes nothing and its directory is removed.
    * Recovery (adoption, orphan collection) runs before `build`. */
  def write[T](live: String)(build: File => T): T = {
    val link = Paths.get(live).toAbsolutePath.normalize
    val st = store(live).toPath
    recover(link, st)
    val gen = st.resolve("g" + (generations(st).maxOption.getOrElse(0) + 1))
    val out =
      try build(gen.toFile)
      catch { case e: Throwable => Fs.deleteRecursively(gen.toFile); throw e }
    if (Files.isDirectory(gen)) {
      publish(link, gen)
      collect(link, st)
    }
    out
  }

  /** Make entry `name` of the live generation of `live` an entry of the
    * generation `gen` under construction, without copying: a link to the
    * directory that entry is (or already links to). */
  def inherit(live: String, gen: File, name: String): Unit = {
    val src = liveGeneration(Paths.get(live).toAbsolutePath.normalize)
      .getOrElse(throw new IllegalStateException(s"$live has no live generation"))
      .resolve(name)
    val target =
      if (Files.isSymbolicLink(src)) Files.readSymbolicLink(src)
      else gen.toPath.relativize(src)
    Files.createDirectories(gen.toPath)
    Files.createSymbolicLink(gen.toPath.resolve(name), target)
  }

  /** Hard-link every file of `from` into `to` that `to` does not already
    * hold by name: the new directory lists the old files without a byte of
    * them being read or written. Link after the new files are written, so
    * no writer ever opens a shared inode. */
  def linkFiles(from: File, to: File): Unit = {
    Files.createDirectories(to.toPath)
    Option(from.listFiles()).toSeq.flatten.filter(_.isFile).foreach { f =>
      val dst = to.toPath.resolve(f.getName)
      if (!Files.exists(dst, LinkOption.NOFOLLOW_LINKS)) Files.createLink(dst, f.toPath)
    }
  }

  private def recover(link: Path, st: Path): Unit = {
    if (Files.isDirectory(link, LinkOption.NOFOLLOW_LINKS)) {
      Fs.deleteRecursively(st.toFile)
      Files.createDirectories(st)
      Files.move(link, st.resolve("g0"), StandardCopyOption.ATOMIC_MOVE)
    }
    if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS) && generations(st) == Seq(0))
      publish(link, st.resolve("g0"))
    collect(link, st)
  }

  /** THE publish: a temporary link to `gen`, renamed over `link`. */
  private def publish(link: Path, gen: Path): Unit = {
    val tmp = gen.resolveSibling("_link-" + java.util.UUID.randomUUID())
    Files.createSymbolicLink(tmp, link.getParent.relativize(gen))
    Files.move(tmp, link, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Delete every store entry the live generation neither is, contains,
    * nor links to; an older generation some of whose directories are still
    * linked keeps exactly those. */
  private def collect(link: Path, st: Path): Unit = {
    val keep = liveGeneration(link).toSeq.flatMap { g =>
      g +: children(g).filter(Files.isSymbolicLink(_))
        .map(l => g.resolve(Files.readSymbolicLink(l)).normalize)
    }
    def sweep(dir: Path): Unit = children(dir).foreach { c =>
      if (!keep.contains(c)) {
        if (keep.exists(_.startsWith(c))) sweep(c) else Fs.deleteRecursively(c.toFile)
      }
    }
    sweep(st)
  }

  private def liveGeneration(link: Path): Option[Path] =
    if (Files.isSymbolicLink(link))
      Some(link.resolveSibling(Files.readSymbolicLink(link)).normalize)
    else None

  private def children(dir: Path): Seq[Path] =
    Option(dir.toFile.list()).toSeq.flatten.sorted.map(dir.resolve)

  private def generations(st: Path): Seq[Int] = children(st)
    .map(_.getFileName.toString).collect { case s"g$n" if n.nonEmpty && n.forall(_.isDigit) => n.toInt }

  /** Finish a table swap a crash interrupted after the park: the live name
    * gone, `<table>_old` holding the data. Call before reading `table`. */
  def recoverTable(spark: SparkSession, table: String): Unit = {
    val parked = table + "_old"
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(parked))
      spark.sql(s"ALTER TABLE $parked RENAME TO $table")
  }

  /** The staging name [[swapTable]] promotes, cleared of any leftover. */
  def stageTable(spark: SparkSession, table: String): String = {
    Layout.dropManagedTable(spark, table + "_compact")
    table + "_compact"
  }

  /** Replace `table` by its fully written [[stageTable]]: recover, park the
    * live table as `<table>_old`, promote the stage, drop the parked copy. */
  def swapTable(spark: SparkSession, table: String): Unit = {
    recoverTable(spark, table)
    val parked = table + "_old"
    Layout.dropManagedTable(spark, parked)
    spark.sql(s"ALTER TABLE $table RENAME TO $parked")
    spark.sql(s"ALTER TABLE ${table}_compact RENAME TO $table")
    Layout.dropManagedTable(spark, parked)
  }
}

package graft

import java.io.File
import java.nio.file.{Files, LinkOption, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.core.{Commit, Fs}
import graft.etl.Pipeline
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

/** Crash states of the directory commit protocol, each built on disk by
  * hand for each snapshot writer: a reader sees exactly the old or the
  * new snapshot, the next call produces what a crash-free run produces,
  * and nothing the live link does not reach is left behind. */
class CommitSpec extends SparkSpec {
  import spark.implicits._

  private def batch(ids: Seq[Long], name: String, ts: String): DataFrame =
    (ids.map(i => (s"$name$i", Option(i), s"""{"id": $i}""")) :+ ((s"${name}_stray", None, "{}")))
      .toDF("pulse_name", "pulse_id", "raw")
      .withColumn("ingestion_timestamp", lit(java.sql.Timestamp.valueOf(ts)))

  /** A writer: the call that makes the old snapshot, the call a crash
    * interrupts (repeatable), and the reader. */
  private case class Writer(name: String, setup: String => Unit, step: String => Unit,
                            read: String => DataFrame)

  private val seed = batch(1L to 12L, "a", "2024-01-01 00:00:00")
  private val writers = Seq(
    Writer("upsert", Pipeline.upsert(spark, seed, _),
      Pipeline.upsert(spark, batch(Seq(2L, 13L), "b", "2024-02-01 00:00:00"), _),
      spark.read.parquet(_)),
    Writer("upsertIncremental", Pipeline.upsertIncremental(spark, seed, _, numBuckets = 4),
      Pipeline.upsertIncremental(spark, batch(Seq(2L, 13L), "b", "2024-02-01 00:00:00"), _,
        numBuckets = 4),
      Pipeline.readIncrementalSnapshot(spark, _)),
    Writer("purgeApply", Pipeline.upsertIncremental(spark, seed, _, numBuckets = 4),
      s => { Pipeline.purgeApply(spark, s, Seq(3L, 5L).toDF("id")); () },
      Pipeline.readIncrementalSnapshot(spark, _)))

  private def rows(df: DataFrame): Seq[String] =
    df.select("pulse_id", "pulse_name").collect().map(_.toString).toSeq.sorted

  private def snapIn(dir: Path): String = dir.resolve("snap").toString
  private def storeOf(snap: String): Path = Commit.store(snap).toPath

  /** Copy a tree, links copied as links (`follow`: as what they reach). */
  private def copyTree(src: Path, dst: Path, follow: Boolean = false): Unit = {
    val walk = if (follow) Files.walk(src, java.nio.file.FileVisitOption.FOLLOW_LINKS)
      else Files.walk(src)
    try walk.iterator().asScala.toList.foreach { p =>
      val d = dst.resolve(src.relativize(p).toString)
      if (!Files.exists(d, LinkOption.NOFOLLOW_LINKS)) {
        if (!follow && Files.isSymbolicLink(p)) Files.createSymbolicLink(d, Files.readSymbolicLink(p))
        else if (Files.isDirectory(p)) Files.createDirectories(d)
        else Files.copy(p, d)
      }
    } finally walk.close()
  }

  private def liveGeneration(snap: String): Path = {
    val link = Paths.get(snap)
    link.resolveSibling(Files.readSymbolicLink(link)).normalize
  }

  /** Per writer: a snapshot after `setup` (copied for every case), the
    * crash-free rows after setup, one step and two steps, and the
    * generation the first step built (a realistic unpublished one). */
  private case class Fixture(template: Path, old: Seq[String], new1: Seq[String],
                             new2: Seq[String], nextGen: Path)

  private val fixtures = scala.collection.mutable.Map.empty[String, Fixture]
  private def fixture(w: Writer): Fixture = fixtures.getOrElseUpdate(w.name, {
    val template = Files.createTempDirectory(s"commit-${w.name}")
    w.setup(snapIn(template))
    val ref = copy(template)
    val snap = snapIn(ref)
    val old = rows(w.read(snap))
    w.step(snap)
    val nextGen = Files.createTempDirectory("commit-gen").resolve("gen")
    copyTree(liveGeneration(snap), nextGen)
    val new1 = rows(w.read(snap))
    w.step(snap)
    Fixture(template, old, new1, rows(w.read(snap)), nextGen)
  })

  private def copy(template: Path): Path = {
    val dir = Files.createTempDirectory("commit-case")
    Files.delete(dir)
    copyTree(template, dir)
    dir
  }

  /** Nothing beside the snapshot but its store, and nothing in the store
    * the live generation neither is, contains, nor links to. */
  private def assertNoOrphans(snap: String): Unit = {
    val link = Paths.get(snap)
    assert(link.getParent.toFile.list().toSet === Set("snap", "snap.commit"))
    val live = liveGeneration(snap)
    val keep = live +: Files.list(live).iterator().asScala.toList
      .filter(Files.isSymbolicLink(_)).map(l => live.resolve(Files.readSymbolicLink(l)).normalize)
    val walk = Files.walk(storeOf(snap))
    val orphans = try walk.iterator().asScala.toList.filterNot(p =>
      keep.exists(k => p.startsWith(k) || k.startsWith(p))) finally walk.close()
    assert(orphans.isEmpty, s"unreachable entries left in the store: $orphans")
  }

  /** A crash state: builds it in the case directory, and says which
    * snapshot a reader sees there (None: the path is absent) and whether
    * the interrupted call had published (the next call is then a second
    * step). */
  private case class Crash(name: String, build: (Writer, Fixture, String) => Unit,
                           sees: Fixture => Option[Seq[String]], published: Boolean)

  private def unpublished(f: Fixture, snap: String): Unit =
    copyTree(f.nextGen, storeOf(snap).resolve("g2"))

  private def plainDirectory(snap: String): Unit = {
    val plain = Paths.get(snap + "-plain")
    copyTree(liveGeneration(snap), plain, follow = true)
    Files.delete(Paths.get(snap))
    Fs.deleteRecursively(storeOf(snap).toFile)
    Files.move(plain, Paths.get(snap))
  }

  private val crashes = Seq(
    Crash("generation written but not published",
      (_, f, snap) => unpublished(f, snap), f => Some(f.old), published = false),
    Crash("temporary link created but not yet moved", { (_, f, snap) =>
      unpublished(f, snap)
      Files.createSymbolicLink(storeOf(snap).resolve("_link-crashed"), Paths.get("snap.commit/g2"))
      ()
    }, f => Some(f.old), published = false),
    Crash("published, old generation not yet collected", { (w, _, snap) =>
      val saved = Files.createTempDirectory("commit-saved").resolve("store")
      copyTree(storeOf(snap), saved)
      w.step(snap)
      copyTree(saved, storeOf(snap))
    }, f => Some(f.new1), published = true),
    Crash("parent-layout plain directory at the snapshot path",
      (_, _, snap) => plainDirectory(snap), f => Some(f.old), published = false),
    Crash("plain directory moved into the store, link not yet published", { (_, _, snap) =>
      plainDirectory(snap)
      Files.createDirectories(storeOf(snap))
      Files.move(Paths.get(snap), storeOf(snap).resolve("g0"), StandardCopyOption.ATOMIC_MOVE)
      ()
    }, _ => None, published = false))

  for (w <- writers; c <- crashes) test(s"${w.name} crash state: ${c.name}") {
    val f = fixture(w)
    val snap = snapIn(copy(f.template))
    c.build(w, f, snap)
    c.sees(f) match {
      case Some(expected) => assert(rows(w.read(snap)) === expected)
      case None => intercept[AnalysisException](w.read(snap))
    }
    w.step(snap)
    assert(rows(w.read(snap)) === (if (c.published) f.new2 else f.new1))
    assertNoOrphans(snap)
  }

  test("Fs.deleteRecursively removes a symbolic link, never its target") {
    val dir = Files.createTempDirectory("fs-link")
    val target = Files.createDirectories(dir.resolve("outside"))
    Files.writeString(target.resolve("data"), "kept")
    val tree = Files.createDirectories(dir.resolve("tree"))
    Files.createSymbolicLink(tree.resolve("link"), Paths.get("../outside"))
    Fs.deleteRecursively(tree.toFile)
    assert(!Files.exists(tree, LinkOption.NOFOLLOW_LINKS))
    assert(Files.readString(target.resolve("data")) === "kept")
  }

  test("a generation is one link flip: the snapshot path is a link into the store") {
    val snap = snapIn(Files.createTempDirectory("commit-link"))
    Pipeline.upsert(spark, seed, snap)
    Pipeline.upsert(spark, seed, snap)
    assert(Files.isSymbolicLink(Paths.get(snap)))
    assert(liveGeneration(snap) === storeOf(snap).resolve("g2"))
    assert(new File(storeOf(snap).toFile, "g1").exists() === false)
    assertNoOrphans(snap)
  }
}

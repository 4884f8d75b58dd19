package graft

import java.io.File
import java.nio.file.Files

import graft.core.{Commit, IndexTable, Tables}
import graft.operators.{AnnIndex, Dedup, Retrieval, Similarity}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Prebuilt ANN index artifacts: results must equal the on-the-fly
  * operators, and the probe join must not shuffle the index side —
  * the corpus-scale shuffle is paid once at BUILD time. */
class AnnIndexSpec extends SparkSpec {

  private def queriesDf = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)

  test("lshTopKPrebuilt equals on-the-fly lshTopK; corpus side never shuffles") {
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.buildLshIndex(emb, "lsh_idx", numPlanes = 8, numTables = 2, buckets = 4)
    val pre = AnnIndex.lshTopKPrebuilt(spark, queriesDf, "lsh_idx", k = 5, multiProbe = 2)
    val fly = Similarity.lshTopK(queriesDf, emb, k = 5,
      numPlanes = 8, numTables = 2, multiProbe = 2)
    assert(pre.collect().toSeq === fly.collect().toSeq)

    // scale shape: the only Exchanges in the probe plan are the
    // broadcast of the (tiny) query side and the post-scoring rank
    // stages — the index scan feeds its join with NO hash Exchange
    val plan = pre.queryExecution.executedPlan.toString
    val scanToJoin = plan.split("BroadcastHashJoin")
    assert(scanToJoin.length >= 3, s"expected broadcast probe joins; plan:\n$plan")
    // every corpus-side branch: scan -> filter -> join directly
    assert(!plan.contains("Exchange hashpartitioning(sig"),
      s"index side must be read in place, not re-shuffled; plan:\n$plan")
  }

  test("ivfTopKPrebuilt equals on-the-fly ivfTopK; assignment table read in place") {
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.buildIvfIndex(emb, "ivf_assign", "ivf_centers",
      nlist = 8, maxFitRows = 10000, buckets = 4)
    val pre = AnnIndex.ivfTopKPrebuilt(spark, queriesDf, "ivf_assign", "ivf_centers",
      k = 5, nprobe = 2)
    val fly = Similarity.ivfTopK(queriesDf, emb, k = 5,
      nlist = 8, nprobe = 2, maxFitRows = 10000)
    assert(pre.collect().toSeq === fly.collect().toSeq)
    val plan = pre.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(cell"),
      s"assignment side must be read in place, not re-shuffled; plan:\n$plan")
  }

  test("index parameters are pinned in the catalog and validated at probe time") {
    // built above with numPlanes=8 — a probe can never disagree with
    // the build because the planes come FROM the table, and bad knobs
    // fail fast
    val e = intercept[IllegalArgumentException] {
      AnnIndex.lshTopKPrebuilt(spark, queriesDf, "lsh_idx", k = 5, multiProbe = 99)
    }
    assert(e.getMessage.contains("numPlanes"))
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.ivfTopKPrebuilt(spark, queriesDf, "ivf_assign", "ivf_centers",
        k = 5, nprobe = 99)
    }
    assert(e2.getMessage.contains("nlist"))
  }
  test("appendToLshIndex: partial build + delta append equals a one-shot build") {
    val emb = Tables.embeddings(spark, sf)
    val (oldHalf, delta) = (emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 =!= 0))
    AnnIndex.buildLshIndex(oldHalf, "lsh_idx_inc", numPlanes = 8, numTables = 2, buckets = 4)
    AnnIndex.appendToLshIndex(delta, "lsh_idx_inc")
    AnnIndex.buildLshIndex(emb, "lsh_idx_full", numPlanes = 8, numTables = 2, buckets = 4)
    val inc = AnnIndex.lshTopKPrebuilt(spark, queriesDf, "lsh_idx_inc", k = 5, multiProbe = 2)
    val full = AnnIndex.lshTopKPrebuilt(spark, queriesDf, "lsh_idx_full", k = 5, multiProbe = 2)
    assert(inc.collect().toSeq === full.collect().toSeq,
      "the appended index must answer identically to a from-scratch build")
    // the appended table still reads in place (bucket layout survived)
    val plan = inc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(sig"),
      s"append must not break the bucketed layout:\n$plan")
  }

  test("appendToIvfIndex: delta rows assigned to pinned centroids; nprobe=nlist is exact") {
    val emb = Tables.embeddings(spark, sf)
    val (oldHalf, delta) = (emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 =!= 0))
    AnnIndex.buildIvfIndex(oldHalf, "ivf_assign_inc", "ivf_centers_inc",
      nlist = 8, maxFitRows = 10000, buckets = 4)
    AnnIndex.appendToIvfIndex(delta, "ivf_assign_inc", "ivf_centers_inc")
    // every appended row landed in some existing cell — no new cells,
    // no rows lost
    val cells = spark.table("ivf_assign_inc").select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(cells.subsetOf((0 until 8).toSet), s"unexpected cells: $cells")
    assert(spark.table("ivf_assign_inc").count() === emb.count())
    // with nprobe = nlist every cell is probed, so the aged quantizer
    // cannot cost recall: the appended index answers bit-identically
    // to exact brute force over the full corpus
    val pre = AnnIndex.ivfTopKPrebuilt(spark, queriesDf, "ivf_assign_inc",
      "ivf_centers_inc", k = 5, nprobe = 8)
    val brute = Similarity.cosineTopK(queriesDf, emb, k = 5)
    assert(pre.collect().toSeq === brute.collect().toSeq,
      "appended index at nprobe=nlist must equal brute force")
    // the appended table still reads in place (bucket layout survived)
    val plan = pre.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(cell"),
      s"append must not break the bucketed layout:\n$plan")
  }

  test("deleteFromIndex: tombstoned LSH probe ≡ a fresh build without the rows; compact preserves it") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val deleted = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
    AnnIndex.buildLshIndex(emb, "lsh_del", numPlanes = 8, numTables = 2, buckets = 4)
    AnnIndex.deleteFromIndex(spark, "lsh_del", deleted)
    // reference: identical params + deterministic signatures → a fresh
    // index over (corpus ∖ deleted) must answer identically
    AnnIndex.buildLshIndex(emb.join(deleted, Seq("vec_id"), "left_anti"),
      "lsh_del_ref", numPlanes = 8, numTables = 2, buckets = 4)
    val got = AnnIndex.lshTopKPrebuilt(spark, queriesDf, "lsh_del", k = 5, multiProbe = 2)
    val ref = AnnIndex.lshTopKPrebuilt(spark, queriesDf, "lsh_del_ref", k = 5, multiProbe = 2)
    assert(got.collect().toSeq === ref.collect().toSeq,
      "a tombstoned probe must equal the rebuilt-without index")
    // and no deleted id can ever surface as a neighbor
    val dead = deleted.as[Long].collect().toSet
    assert(!got.collect().exists(r => dead(r.getLong(1))))
    // compaction folds the tombstones in: same answers, list gone
    val before = spark.table("lsh_del").count()
    AnnIndex.compactLshIndex(spark, "lsh_del")
    assert(!new File(IndexTable.link(spark, "lsh_del"), "_tombs").exists(),
      "compaction must drop the tombstones")
    assert(spark.table("lsh_del").count() < before,
      "compaction must physically remove the tombstoned rows")
    val after = AnnIndex.lshTopKPrebuilt(spark, queriesDf, "lsh_del", k = 5, multiProbe = 2)
    assert(after.collect().toSeq === ref.collect().toSeq,
      "compaction must not change a single probe answer")
  }

  test("re-appending a tombstoned id folds first — probe ≡ fresh build") {
    val emb = Tables.embeddings(spark, sf)
    val deleted = emb.filter(col("vec_id") % 9 === 2).select("vec_id")
    AnnIndex.buildLshIndex(emb.join(deleted, Seq("vec_id"), "left_anti"),
      "lsh_rec_ref", numPlanes = 8, numTables = 2, buckets = 4)
    def probe(t: String) =
      AnnIndex.lshTopKPrebuilt(spark, queriesDf, t, k = 5, multiProbe = 2)
        .collect().toSeq
    // retire→re-append: delete a batch then append it again BEFORE any
    // manual compact — the overlap guard must fold the old generation
    // so the new rows aren't subtracted by the stale tombstone
    val batch = emb.filter(col("vec_id") % 9 === 2)
    AnnIndex.deleteFromIndex(spark, "lsh_rec_ref", deleted)
    AnnIndex.appendToLshIndex(batch, "lsh_rec_ref")
    AnnIndex.buildLshIndex(emb, "lsh_rec", numPlanes = 8, numTables = 2,
      buckets = 4) // rebuilt as the full-corpus reference
    assert(probe("lsh_rec_ref") === probe("lsh_rec"),
      "re-appended rows must be probe-visible, once")
  }

  private def lexDocs = {
    import spark.implicits._
    Seq((1L, "cat dog cat"), (2L, "cat fish"), (3L, "dog dog dog dog"),
      (4L, "bird")).toDF("doc_id", "text")
  }

  private def stateDocs = {
    import spark.implicits._
    val text = "spark makes big data small again with catalyst and tungsten " +
      "columnar execution whole stage codegen adaptive query execution"
    Seq(1L -> text, 2L -> text, 3L -> (text + " extra tail tokens"),
      4L -> "completely different text about cooking pasta with tomatoes and basil")
      .toDF("doc_id", "text")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet

  test("deleteFromIndex: tombstoned IVF at nprobe=nlist ≡ brute force over the survivors") {
    val emb = Tables.embeddings(spark, sf)
    val deleted = emb.filter(col("vec_id") % 5 === 1).select("vec_id")
    AnnIndex.buildIvfIndex(emb, "ivf_del", "ivf_del_c",
      nlist = 8, maxFitRows = 10000, buckets = 4)
    AnnIndex.deleteFromIndex(spark, "ivf_del", deleted)
    val pre = AnnIndex.ivfTopKPrebuilt(spark, queriesDf, "ivf_del", "ivf_del_c",
      k = 5, nprobe = 8)
    val brute = Similarity.cosineTopK(queriesDf,
      emb.join(deleted, Seq("vec_id"), "left_anti"), k = 5)
    assert(pre.collect().toSeq === brute.collect().toSeq,
      "deleted index at nprobe=nlist must equal brute force over the survivors")
  }

  /** One persisted index family: the tables of an index named `t` in the
    * order a build writes them, the input's id column, a build of `t`
    * from a frame, a tombstone delete, a compact and a probe. */
  private case class IndexFamily(name: String, tables: String => Seq[String], idCol: String,
                                 input: () => org.apache.spark.sql.DataFrame,
                                 deleted: () => org.apache.spark.sql.DataFrame,
                                 build: (org.apache.spark.sql.DataFrame, String) => Unit,
                                 delete: (String, org.apache.spark.sql.DataFrame) => Unit,
                                 compact: String => Unit,
                                 probe: String => Set[Seq[Any]])

  private def indexFamilies = {
    import spark.implicits._
    def emb = Tables.embeddings(spark, sf)
    Seq(
      IndexFamily("LSH", t => Seq(t), "vec_id", () => emb,
        () => emb.filter(col("vec_id") % 7 === 3).select("vec_id"),
        (df, t) => AnnIndex.buildLshIndex(df, t, numPlanes = 8, numTables = 2, buckets = 4),
        (t, ids) => AnnIndex.deleteFromIndex(spark, t, ids),
        t => AnnIndex.compactLshIndex(spark, t),
        t => rows(AnnIndex.lshTopKPrebuilt(spark, queriesDf, t, k = 5, multiProbe = 2))),
      IndexFamily("IVF", t => Seq(t + "_c", t), "vec_id", () => emb,
        () => emb.filter(col("vec_id") % 5 === 1).select("vec_id"),
        (df, t) => AnnIndex.buildIvfIndex(df, t, t + "_c", nlist = 8,
          maxFitRows = 10000, buckets = 4),
        (t, ids) => AnnIndex.deleteFromIndex(spark, t, ids),
        t => AnnIndex.compactIvfIndex(spark, t),
        t => rows(AnnIndex.ivfTopKPrebuilt(spark, queriesDf, t, t + "_c", k = 5, nprobe = 8))),
      IndexFamily("BM25 lex index", t => Seq(t, t + "_len"), "doc_id", () => lexDocs,
        () => Seq(2L).toDF("doc_id"),
        (df, t) => Retrieval.buildLexIndex(df, t, t + "_len", buckets = 4),
        (t, ids) => Retrieval.deleteFromLexIndex(spark, t, ids),
        t => Retrieval.compactLexIndex(spark, t, t + "_len"),
        t => rows(Retrieval.bm25TopKPrebuilt(spark, t, t + "_len", Seq("cat", "fish"), k = 10))),
      IndexFamily("pair state", t => Seq(t), "doc_id", () => stateDocs,
        () => Seq(2L).toDF("doc_id"),
        (df, t) => Dedup.writePairState(df, t, shingleK = 2, buckets = 2),
        (t, ids) => Dedup.deleteFromPairState(spark, t, ids),
        t => Dedup.compactPairState(spark, t),
        t => rows(Dedup.pairsFromState(Dedup.readPairState(spark, t), minPermille = 300))))
  }

  for (name <- Seq("LSH", "IVF", "BM25 lex index", "pair state"))
    test(s"rebuilding an index under a used name drops its old tombstones: $name") {
      val f = indexFamilies.find(_.name == name).get
      val (t, ref) = ("rebuilt_idx", "fresh_idx")
      try {
        f.build(f.input(), ref)
        f.build(f.input(), t)
        f.delete(t, f.deleted())
        assert(f.probe(t) !== f.probe(ref), "the delete must change the probe")
        f.build(f.input(), t)
        assert(f.probe(t) === f.probe(ref),
          "a rebuild from the full input must answer like a fresh build")
      } finally Harness.release(spark, blocking = false)
    }

  /** The store directory the next write of index `t` builds in. */
  private def nextGeneration(t: String): File = {
    val link = IndexTable.link(spark, t).toPath
    val live = Files.readSymbolicLink(link).getFileName.toString.stripPrefix("g").toInt
    new File(Commit.store(link.toString), s"g${live + 1}")
  }

  /** `id`, until directory `landed` holds the `_SUCCESS` marker of a
    * finished write; from then on evaluating it throws. */
  private def failOnceLanded(id: Column, landed: File): Column =
    udf { (x: Long) =>
      if (new File(landed, "_SUCCESS").exists())
        throw new IllegalStateException(s"injected fault: $landed has landed")
      x
    }.asNondeterministic()(id)

  private def injected(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("injected fault"))

  for (name <- Seq("BM25 lex index", "IVF"))
    test(s"a build that throws on the group's second table publishes nothing: $name") {
      val f = indexFamilies.find(_.name == name).get
      val t = "crash_build"
      try {
        f.build(f.input(), t)
        f.delete(t, f.deleted())
        val before = f.probe(t)
        // the rebuild fails once its first table's files have landed:
        // published, it would answer without the tombstones
        val next = nextGeneration(t)
        val e = intercept[Exception](f.build(f.input().withColumn(f.idCol,
          failOnceLanded(col(f.idCol), new File(next, f.tables(t).head))), t))
        assert(injected(e), s"expected the injected fault, got $e")
        assert(!next.exists(), "the failed generation must be removed")
        assert(f.probe(t) === before, "the old group must answer unchanged")
      } finally Harness.release(spark, blocking = false)
    }

  for (name <- Seq("BM25 lex index", "IVF"))
    test(s"a compact that throws on the group's second table publishes nothing: $name") {
      val f = indexFamilies.find(_.name == name).get
      val t = "crash_compact"
      try {
        f.build(f.input(), t)
        f.delete(t, f.deleted())
        val before = f.probe(t)
        // one file of the second table is unreadable while compact runs
        val second = new File(IndexTable.link(spark, t), f.tables(t)(1))
        val file = second.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath
        val bytes = Files.readAllBytes(file)
        val next = nextGeneration(t)
        Files.write(file, new Array[Byte](bytes.length))
        try intercept[Exception](f.compact(t)) finally Files.write(file, bytes)
        assert(!next.exists(), "the failed generation must be removed")
        assert(new File(IndexTable.link(spark, t), "_tombs").exists(),
          "the tombstones must stay live")
        assert(f.probe(t) === before, "the old group must answer unchanged")
      } finally Harness.release(spark, blocking = false)
    }

  for (name <- Seq("LSH", "IVF", "BM25 lex index", "pair state"))
    test(s"an index whose catalog entries are dropped reopens from its manifest: $name") {
      val f = indexFamilies.find(_.name == name).get
      val t = "reopen_idx"
      try {
        f.build(f.input(), t)
        f.delete(t, f.deleted())
        val before = f.probe(t)
        // external tables: the drop forgets the entries, the files stay
        f.tables(t).foreach(x => spark.sql(s"DROP TABLE $x"))
        assert(!f.tables(t).exists(spark.catalog.tableExists))
        assert(f.probe(t) === before)
        assert(f.tables(t).forall(spark.catalog.tableExists))
      } finally Harness.release(spark, blocking = false)
    }
}

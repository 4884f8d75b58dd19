package graft

import graft.core.{Layout, Tables}
import graft.operators.{AnnIndex, Dedup, Retrieval, Similarity}
import org.apache.spark.sql.functions._

/** Prebuilt ANN index artifacts: results must equal the on-the-fly
  * operators, and the probe join must not shuffle the index side —
  * the corpus-scale shuffle is paid once at BUILD time. */
class AnnIndexSpec extends SparkSpec {

  private def queriesDf = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)

  test("lshTopKPrebuilt equals on-the-fly lshTopK; corpus side never shuffles") {
    Layout.dropManagedTable(spark, "lsh_idx")
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
    Layout.dropManagedTable(spark, "ivf_assign")
    Layout.dropManagedTable(spark, "ivf_centers")
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
    Layout.dropManagedTable(spark, "lsh_idx_inc")
    Layout.dropManagedTable(spark, "lsh_idx_full")
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
    Layout.dropManagedTable(spark, "ivf_assign_inc")
    Layout.dropManagedTable(spark, "ivf_centers_inc")
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
    Seq("lsh_del", "lsh_del_ref", "lsh_del_tombs", "lsh_del_compact")
      .foreach(Layout.dropManagedTable(spark, _))
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
    assert(!spark.catalog.tableExists("lsh_del_tombs"),
      "compaction must drop the tombstone table")
    assert(spark.table("lsh_del").count() < before,
      "compaction must physically remove the tombstoned rows")
    val after = AnnIndex.lshTopKPrebuilt(spark, queriesDf, "lsh_del", k = 5, multiProbe = 2)
    assert(after.collect().toSeq === ref.collect().toSeq,
      "compaction must not change a single probe answer")
  }

  test("compact recovers a crash parked mid-swap; re-appending a " +
    "tombstoned id folds first — probe ≡ fresh build either way") {
    import spark.implicits._
    Seq("lsh_rec", "lsh_rec_ref", "lsh_rec_tombs", "lsh_rec_old",
      "lsh_rec_compact").foreach(Layout.dropManagedTable(spark, _))
    val emb = Tables.embeddings(spark, sf)
    val deleted = emb.filter(col("vec_id") % 9 === 2).select("vec_id")
    AnnIndex.buildLshIndex(emb, "lsh_rec", numPlanes = 8, numTables = 2,
      buckets = 4)
    AnnIndex.deleteFromIndex(spark, "lsh_rec", deleted)
    // simulate the one crash point the r15 comment got wrong: after
    // the park (live name gone, _old holds the data), before the
    // promote — a naive compact re-run dies on SHOW TBLPROPERTIES
    spark.sql("ALTER TABLE lsh_rec RENAME TO lsh_rec_old")
    AnnIndex.compactLshIndex(spark, "lsh_rec")
    assert(spark.catalog.tableExists("lsh_rec"))
    assert(!spark.catalog.tableExists("lsh_rec_old"))
    assert(!spark.catalog.tableExists("lsh_rec_tombs"))
    AnnIndex.buildLshIndex(emb.join(deleted, Seq("vec_id"), "left_anti"),
      "lsh_rec_ref", numPlanes = 8, numTables = 2, buckets = 4)
    def probe(t: String) =
      AnnIndex.lshTopKPrebuilt(spark, queriesDf, t, k = 5, multiProbe = 2)
        .collect().toSeq
    assert(probe("lsh_rec") === probe("lsh_rec_ref"),
      "a recovered-then-compacted index must answer like a fresh build")
    // retire→re-append: delete a batch then append it again BEFORE any
    // manual compact — the overlap guard must fold the old generation
    // so the new rows aren't subtracted by the stale tombstone
    val batch = emb.filter(col("vec_id") % 9 === 2)
    AnnIndex.deleteFromIndex(spark, "lsh_rec_ref", deleted)
    AnnIndex.appendToLshIndex(batch, "lsh_rec_ref")
    Layout.dropManagedTable(spark, "lsh_rec")
    AnnIndex.buildLshIndex(emb, "lsh_rec", numPlanes = 8, numTables = 2,
      buckets = 4) // rebuilt as the full-corpus reference
    assert(probe("lsh_rec_ref") === probe("lsh_rec"),
      "re-appended rows must be probe-visible, once")
  }

  /** The parked crash above, for the other two catalog-table compactors:
    * the live table renamed to `<parked>_old`, never promoted back. */
  private case class ParkedCompactor(name: String, tables: Seq[String], parked: String,
                                     buildAndDelete: () => Unit, compact: () => Unit,
                                     probe: () => Set[Seq[Any]],
                                     fresh: () => Set[Seq[Any]])

  private def parkedCompactors = {
    import spark.implicits._
    val lexDocs = Seq((1L, "cat dog cat"), (2L, "cat fish"), (3L, "dog dog dog dog"),
      (4L, "bird")).toDF("doc_id", "text")
    val text = "spark makes big data small again with catalyst and tungsten " +
      "columnar execution whole stage codegen adaptive query execution"
    val stateDocs = Seq(1L -> text, 2L -> text, 3L -> (text + " extra tail tokens"),
      4L -> "completely different text about cooking pasta with tomatoes and basil")
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    Seq(
      ParkedCompactor("BM25 lex index", Seq("lex_rec", "lex_rec_len"), "lex_rec",
        () => {
          Retrieval.buildLexIndex(lexDocs, "lex_rec", "lex_rec_len", buckets = 4)
          Retrieval.deleteFromLexIndex(spark, "lex_rec", Seq(2L).toDF("doc_id"))
        },
        () => Retrieval.compactLexIndex(spark, "lex_rec", "lex_rec_len"),
        () => rows(Retrieval.bm25TopKPrebuilt(spark, "lex_rec", "lex_rec_len",
          Seq("cat", "fish"), k = 10)),
        () => rows(Retrieval.bm25TopK(lexDocs.filter(col("doc_id") =!= 2L),
          Seq("cat", "fish"), k = 10))),
      ParkedCompactor("pair state", Seq("ps_rec"), "ps_rec",
        () => {
          Dedup.writePairState(stateDocs, "ps_rec", shingleK = 2, buckets = 2)
          Dedup.deleteFromPairState(spark, "ps_rec", Seq(2L).toDF("doc_id"))
        },
        () => Dedup.compactPairState(spark, "ps_rec"),
        () => rows(Dedup.pairsFromState(Dedup.readPairState(spark, "ps_rec"),
          minPermille = 300)),
        () => rows(Dedup.minHashLshPairs(stateDocs.filter(col("doc_id") =!= 2L),
          shingleK = 2, minPermille = 300))))
  }

  for (name <- Seq("BM25 lex index", "pair state"))
    test(s"compact recovers a crash parked mid-swap: $name") {
      val c = parkedCompactors.find(_.name == name).get
      c.tables.flatMap(t => Seq(t, t + "_old", t + "_compact", t + "_tombs"))
        .foreach(Layout.dropManagedTable(spark, _))
      try {
        c.buildAndDelete()
        spark.sql(s"ALTER TABLE ${c.parked} RENAME TO ${c.parked}_old")
        c.compact()
        assert(c.tables.forall(spark.catalog.tableExists))
        assert(!spark.catalog.tableExists(c.parked + "_old"))
        assert(!spark.catalog.tableExists(c.parked + "_tombs"))
        assert(c.probe().nonEmpty)
        assert(c.probe() === c.fresh(),
          "a recovered-then-compacted state must answer like a fresh build")
      } finally Harness.release(spark, blocking = false)
    }

  test("deleteFromIndex: tombstoned IVF at nprobe=nlist ≡ brute force over the survivors") {
    Seq("ivf_del", "ivf_del_c", "ivf_del_tombs")
      .foreach(Layout.dropManagedTable(spark, _))
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
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds a 10×-scale probe corpus from an existing sf directory —
  * the measurement rig behind `BENCH_NOTES.md`'s sf1 section: the
  * 100 TB design claims of the dedup/graph/ANN family are argued from
  * plan shape at sf0.1; this main adds one more measured DECADE
  * (sf0.1 → ~sf1) so sub-quadratic growth is observed, not argued.
  *
  * Scaling must not change the WORKLOAD SHAPE, only its size:
  *
  *  - `documents`: each of the 10 replicas applies a replica-specific
  *    Caesar rotation to the letters of `text` (replica 0 is the
  *    identity). Within a replica the near-dup structure of the
  *    original corpus is preserved EXACTLY (rotation is a bijection on
  *    tokens, so shingle sets map 1:1 and every Jaccard value is
  *    unchanged); across replicas the token spaces are disjoint, so no
  *    cross-replica pairs exist. Total docs ×10, total near-dup pairs
  *    ×10, shingle-df distribution shape preserved per replica — the
  *    honest linear scale-up. (Plain replication would instead make
  *    every doc a 10-way exact duplicate: pair count ×100, a
  *    quadratically DIFFERENT workload.)
  *  - `embeddings`: replicas offset `vec_id` and nudge one coordinate
  *    by a replica-scaled epsilon (keeps vectors distinct; ANN probe
  *    cost depends on corpus size and cell balance, not exact values).
  *
  * Usage: `runMain graft.ScaleUp <srcDir> <dstDir> [replicas]`, then
  * bench the heavy slice with `SPARK_GRAFT_SF_DIR=<dstDir>`.
  * Writes `documents`, `embeddings`, `events` and `lineitem` parquet —
  * every table the heavy (≥1 s at sf0.1) query tier reads.
  */
object ScaleUp {
  private val alpha = "abcdefghijklmnopqrstuvwxyz"

  /** Replica-i substitution cipher over [a-z]: replica 0 is the
    * identity (the original corpus stays a literal subset of the
    * scaled one), every other replica is a seeded Fisher–Yates
    * shuffle of the alphabet. This is the `text`-mode replacement for
    * the Caesar rotation: a rotation family has only 26 members, so a
    * ×100 decade built from rotations would assign ~4 replicas per
    * rotation and make every doc a 4-way exact cross-replica
    * duplicate — pair mass ×~4 beyond linear, a different workload.
    * Full substitutions draw from 26! ciphers, so any replica count
    * keeps the contract: a char bijection maps shingle sets 1:1
    * (every within-replica Jaccard value unchanged) while distinct
    * ciphers keep cross-replica token spaces disjoint up to the same
    * corpus-contains-both-words coincidence the rotation family
    * already accepted. */
  private def substCipher(i: Int): String =
    if (i == 0) alpha
    else {
      val rng = new scala.util.Random(0x5CA1EL * 31 + i)
      rng.shuffle(alpha.toList).mkString
    }

  /** One replica of the documents table: ids offset by `i * span`,
    * text letters rotated by `i` (both cases), other columns kept. */
  private def docReplica(docs: DataFrame, i: Int, span: Long): DataFrame = {
    val rot = alpha.drop(i % 26) + alpha.take(i % 26)
    docs.select(
      (col("doc_id") + lit(i * span)).as("doc_id"),
      translate(col("text"), alpha + alpha.toUpperCase,
        rot + rot.toUpperCase).as("text"),
      col("lang"), col("source"), col("n_chars"))
  }

  def scaleDocuments(docs: DataFrame, replicas: Int): DataFrame = {
    val span = docs.agg(max("doc_id")).head().getLong(0) + 1L
    (0 until replicas).map(docReplica(docs, _, span)).reduce(_ unionByName _)
  }

  /** Text-tier documents scaling valid at ANY replica count: ids
    * offset per replica, letters mapped through [[substCipher]]. Used
    * by the `text` mode to build the ×100 decade DIRECTLY from sf0.1
    * — composing ×10 twice is invalid for this tier because rotations
    * compose (rot_a ∘ rot_b = rot_{a+b}), so a ScaleUp OF a ScaleUp
    * corpus collides replica pairs back onto shared token spaces. */
  def scaleDocumentsText(docs: DataFrame, replicas: Int): DataFrame = {
    val span = docs.agg(max("doc_id")).head().getLong(0) + 1L
    (0 until replicas).map { i =>
      val cipher = substCipher(i)
      docs.select(
        (col("doc_id") + lit(i * span)).as("doc_id"),
        translate(col("text"), alpha + alpha.toUpperCase,
          cipher + cipher.toUpperCase).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
  }

  /** Events replicas: event_id and user_id offset per replica (users
    * are the behavioral keys — disjoint user spaces duplicate every
    * per-user session/transition/funnel structure EXACTLY within a
    * replica and create no cross-replica structure, the same linear
    * contract as the documents rotation). Timestamps are kept: the
    * corpus SPAN is a property of the feed, not its volume — dense
    * day-grid operators keep a constant grid while per-day counts ×N,
    * which is exactly what a busier feed looks like. */
  def scaleEvents(events: DataFrame, replicas: Int): DataFrame = {
    val r = events.agg(max("event_id"), max("user_id")).head()
    val (eSpan, uSpan) = (r.getLong(0) + 1L, r.getLong(1) + 1L)
    (0 until replicas).map { i =>
      events.select(
        (col("event_id") + lit(i * eSpan)).as("event_id"), col("ts"),
        (col("user_id") + lit(i * uSpan)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
  }

  /** Lineitem replicas: order, part AND supplier keys offset per
    * replica — baskets, item vocabulary and supplier fan-in all ×N
    * with per-key df preserved, so basket-pair / item-cosine /
    * fact-join mass scales LINEARLY (offsetting only orders would
    * instead ×N every item's df and square the inverted-index mass —
    * the quadratically different workload the documents rotation
    * exists to avoid). Spans are passed in so the star's foreign keys
    * stay aligned with the scaled [[scaleOrders]]/[[scalePart]]/
    * [[scaleSupplier]] dimensions (each span = the max key across BOTH
    * sides of the edge + 1). */
  def scaleLineitem(li: DataFrame, replicas: Int,
                    oSpan: Long, pSpan: Long, sSpan: Long): DataFrame =
    (0 until replicas).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * oSpan))
        .withColumn("l_partkey", col("l_partkey") + lit(i * pSpan))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * sSpan))
    }.reduce(_ unionByName _)

  /** Orders replicas: order keys offset with the SAME span lineitem
    * uses (the l_orderkey → o_orderkey edge stays total per replica,
    * zero cross-replica matches) and customer keys with [[scaleCustomer]]'s
    * span — every star join's per-replica structure is preserved
    * exactly and its join mass scales linearly. Dates, prices and
    * priorities are kept: the order-date SPAN is a property of the
    * business calendar, not its volume — per-day/ per-tier counts ×N,
    * a busier book on the same calendar. */
  def scaleOrders(orders: DataFrame, replicas: Int,
                  oSpan: Long, cSpan: Long): DataFrame =
    (0 until replicas).map { i =>
      orders.withColumn("o_orderkey", col("o_orderkey") + lit(i * oSpan))
        .withColumn("o_custkey", col("o_custkey") + lit(i * cSpan))
    }.reduce(_ unionByName _)

  /** Customer replicas: keys offset per replica and names REGENERATED
    * from the offset key in the generator's own `Customer#%09d` format
    * — name spaces stay disjoint across replicas (plain replication
    * would make every name a 10-way exact duplicate: the x113/x265
    * sorted-neighbourhood truth-pair mass would go ×N², the
    * quadratically different workload) while the within-replica name
    * structure the prefix blocking keys on is preserved EXACTLY
    * (replicas occupy disjoint numeric ranges, so blocks never mix
    * replicas and block sizes are unchanged). Nation keys, balances
    * and segments are kept: the demographic distribution is a property
    * of the population, not its size. */
  def scaleCustomer(cust: DataFrame, replicas: Int, cSpan: Long): DataFrame =
    (0 until replicas).map { i =>
      cust.withColumn("c_custkey", col("c_custkey") + lit(i * cSpan))
        .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
    }.reduce(_ unionByName _)

  /** Supplier replicas: the [[scaleCustomer]] recipe on s_suppkey /
    * `Supplier#%09d`; nation keys kept (nations are a fixed 25-row
    * dimension at every scale — a bigger corpus has more suppliers,
    * not more countries). */
  def scaleSupplier(supp: DataFrame, replicas: Int, sSpan: Long): DataFrame =
    (0 until replicas).map { i =>
      supp.withColumn("s_suppkey", col("s_suppkey") + lit(i * sSpan))
        .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey")))
    }.reduce(_ unionByName _)

  /** Part replicas: keys offset with the SAME span lineitem's
    * l_partkey uses; names/brands/types kept (the type vocabulary is a
    * property of the catalog taxonomy, not its size — per-type counts
    * ×N, which is what a bigger catalog looks like). */
  def scalePart(part: DataFrame, replicas: Int, pSpan: Long): DataFrame =
    (0 until replicas).map { i =>
      part.withColumn("p_partkey", col("p_partkey") + lit(i * pSpan))
    }.reduce(_ unionByName _)

  def scaleEmbeddings(emb: DataFrame, replicas: Int): DataFrame = {
    val span = emb.agg(max("vec_id")).head().getLong(0) + 1L
    (0 until replicas).map { i =>
      emb.select(
        (col("vec_id") + lit(i * span)).as("vec_id"),
        transform(col("embedding"),
          (x, j) => when(j === 0, x + lit(i * 1e-3f)).otherwise(x))
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
  }

  /** Text-tier embeddings scaling valid at ANY replica count: ids
    * offset per replica and the DIMENSIONS permuted by a seeded
    * per-replica shuffle (replica 0 identity). A coordinate
    * permutation is an isometry — every within-replica norm, cosine
    * and near-dup pair is preserved EXACTLY — while cross-replica
    * dot products decorrelate to chance (a permuted vector is
    * unstructured relative to the unpermuted frame), so semantic
    * near-dup mass scales LINEARLY. The ×10 mode's epsilon-nudge
    * instead leaves each vector with N near-identical cross-replica
    * copies — tolerable at small N, quadratically wrong at ×100. */
  def scaleEmbeddingsText(emb: DataFrame, replicas: Int): DataFrame = {
    val span = emb.agg(max("vec_id")).head().getLong(0) + 1L
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    (0 until replicas).map { i =>
      val perm: Seq[Int] =
        if (i == 0) 0 until dim
        else new scala.util.Random(0xD1AB10L * 31 + i).shuffle((0 until dim).toList)
      emb.select(
        (col("vec_id") + lit(i * span)).as("vec_id"),
        array(perm.map(j => col("embedding").getItem(j)): _*).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleUp <srcDir> <dstDir> [replicas] [text]")
    val (src, dst) = (args(0), args(1))
    val replicas = if (args.length > 2) args(2).toInt else 10
    val textMode = args.length > 3 && args(3) == "text"
    if (textMode) {
      // text-tier decade: documents + embeddings under the any-N
      // bijections, events under the (already any-N-valid) key-offset
      // recipe, star tables copied verbatim so the dir is a complete
      // corpus any query can read. This is the ONLY valid way to build
      // a ×100 text corpus — see scaleDocumentsText's scaladoc.
      // An optional 5th arg restricts the table set (comma list) —
      // the ×1000 probe ladder reads only documents+embeddings, and
      // events at ×1000 is 100M rows of pure write cost.
      require(replicas >= 1, s"replicas ($replicas) must be >= 1")
      val only: Set[String] =
        if (args.length > 4) args(4).split(',').map(_.trim).toSet
        else Set("documents", "embeddings", "events", "star")
      val spark = Harness.session()
      if (only("documents"))
        scaleDocumentsText(spark.read.parquet(s"$src/documents.parquet"), replicas)
          .repartition(32)
          .write.mode("overwrite").parquet(s"$dst/documents.parquet")
      if (only("embeddings"))
        scaleEmbeddingsText(spark.read.parquet(s"$src/embeddings.parquet"), replicas)
          .repartition(32)
          .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
      if (only("events"))
        scaleEvents(spark.read.parquet(s"$src/events.parquet"), replicas)
          .repartition(32)
          .write.mode("overwrite").parquet(s"$dst/events.parquet")
      if (only("star"))
        for (t <- Seq("lineitem", "orders", "customer", "supplier", "part",
                      "nation", "region"))
          spark.read.parquet(s"$src/$t.parquet")
            .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] wrote ${replicas}x TEXT-tier corpus " +
        s"(documents/embeddings via substitution+dim-perm, events key-offset," +
        s" star verbatim; tables: ${only.mkString(",")}) to $dst")
      spark.stop()
      return
    }
    require(replicas >= 1 && replicas <= 26,
      s"replicas ($replicas) must be in [1, 26] — one Caesar rotation each" +
      s" (use the `text` mode for larger text-tier decades)")
    val spark = Harness.session()
    scaleDocuments(spark.read.parquet(s"$src/documents.parquet"), replicas)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    scaleEmbeddings(spark.read.parquet(s"$src/embeddings.parquet"), replicas)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    scaleEvents(spark.read.parquet(s"$src/events.parquet"), replicas)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    // the star tier: spans are computed from BOTH sides of each join
    // edge so the scaled foreign keys stay aligned (lineitem and orders
    // agree on max orderkey in this corpus, but the max() guard makes
    // the recipe safe for corpora where childless parents push the max)
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val supp = spark.read.parquet(s"$src/supplier.parquet")
    val part = spark.read.parquet(s"$src/part.parquet")
    val lm = li.agg(max("l_orderkey"), max("l_partkey"), max("l_suppkey")).head()
    val oSpan = math.max(lm.getLong(0),
      orders.agg(max("o_orderkey")).head().getLong(0)) + 1L
    val cSpan = math.max(orders.agg(max("o_custkey")).head().getLong(0),
      cust.agg(max("c_custkey")).head().getLong(0)) + 1L
    val sSpan = math.max(lm.getLong(2),
      supp.agg(max("s_suppkey")).head().getLong(0)) + 1L
    val pSpan = math.max(lm.getLong(1),
      part.agg(max("p_partkey")).head().getLong(0)) + 1L
    scaleLineitem(li, replicas, oSpan, pSpan, sSpan)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    scaleOrders(orders, replicas, oSpan, cSpan)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
    scaleCustomer(cust, replicas, cSpan)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dst/customer.parquet")
    scaleSupplier(supp, replicas, sSpan)
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dst/supplier.parquet")
    scalePart(part, replicas, pSpan)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dst/part.parquet")
    // nation/region are fixed-size dimensions at every scale — copied
    // verbatim so the probe dir is a complete, self-contained corpus
    for (t <- Seq("nation", "region"))
      spark.read.parquet(s"$src/$t.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    println(s"[scaleup] wrote ${replicas}x star corpus " +
      s"(documents embeddings events lineitem orders customer supplier part" +
      s" + nation/region verbatim) to $dst")
    spark.stop()
  }
}

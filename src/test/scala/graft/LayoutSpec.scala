package graft

import org.apache.spark.sql.functions._
import graft.core.{Layout, Tables}

/** Layout-level scale guards: bucketed joins must plan with zero
  * Exchange; partitioned reads must prune directories at the scan. */
class LayoutSpec extends SparkSpec {

  test("bucketed self-layout join plans without any Exchange") {
    val dir = tempDir("graft-bucketed").toString
    def drop(): Unit = Seq("orders_b", "lineitem_b").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    drop()
    val orders = Tables.orders(spark, sf)
    val lineitem = Tables.lineitem(spark, sf)
    Layout.writeBucketed(orders.select("o_orderkey", "o_totalprice"),
      "orders_b", s"$dir/orders_b", buckets = 4, bucketCols = Seq("o_orderkey"))
    Layout.writeBucketed(lineitem.select("l_orderkey", "l_quantity"),
      "lineitem_b", s"$dir/lineitem_b", buckets = 4, bucketCols = Seq("l_orderkey"))
    val joined = spark.table("orders_b")
      .join(spark.table("lineitem_b"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey").agg(sum("l_quantity").as("q"))
    // force the plan with AQE disabled view: check the initial physical plan
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle; plan:\n$plan")
    assert(joined.count() > 0)
    drop()
  }

  test("partitioned write enables partition pruning at the scan") {
    val dir = tempDir("graft-part").toString + "/events"
    val events = Tables.events(spark, sf)
      .withColumn("d", col("ts").cast("date").cast("string"))
    Layout.writePartitioned(events.select("event_id", "event_type", "d"),
      dir, Seq("d"))
    val read = spark.read.parquet(dir).filter(col("d") === "2024-01-01")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(d"),
      s"filter on the partition column must prune directories; plan:\n$plan")
    // pruning selects a strict subset of the data
    val pruned = read.count()
    val all = spark.read.parquet(dir).count()
    assert(pruned > 0 && pruned < all)
  }

  test("compactionPlan: greedy byte-target grouping over key-adjacent zones") {
    import spark.implicits._
    // zones of width 2 over keys 0..7, 10 bytes each -> zone bytes 20;
    // target 30: bytes-before 0,20,40,60 -> groups 0,0,1,2 (a group may
    // overflow the target by at most one input zone)
    val uniform = (0 to 7).map(k => (k.toLong, "xxxxxxxxxx")).toDF("k", "t")
    val out = Layout.compactionPlan(uniform, "k", octet_length(col("t")),
      zoneWidth = 2L, targetBytes = 30L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((0L, 2L, 20L, 0L), (1L, 2L, 20L, 0L),
      (2L, 2L, 20L, 1L), (3L, 2L, 20L, 2L)))
    // a jumbo zone occupies its group alone and pushes the rest over
    val skewed = Seq((0L, "x" * 50), (2L, "xxxxx"), (4L, "xxxxx"),
      (6L, "xxxxx")).toDF("k", "t")
    val out2 = Layout.compactionPlan(skewed, "k", octet_length(col("t")),
      zoneWidth = 2L, targetBytes = 30L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out2 === Seq((0L, 1L, 50L, 0L), (1L, 1L, 5L, 1L),
      (2L, 1L, 5L, 1L), (3L, 1L, 5L, 2L)))
    // plan guard: the running-bytes window is global but reads the
    // zone AGGREGATE, never raw rows
    val wins = Layout.compactionPlan(uniform, "k", octet_length(col("t")),
      2L, 30L).queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.isEmpty))
    wins.foreach { w =>
      assert(w.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty, "the cumsum window must sit above the zone aggregate")
    }
  }

  test("clusteringDepthHistogram: overlap depths, interior gap, sorted ideal") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // files by id div 10: f0 keys [1, 10], f1 keys [5, 14], f2 keys
    // [30, 31] → sweep: depth 1 on [1,5), 2 on [5,11), 1 on [11,15),
    // 0 on [15,30), 1 on [30,32)
    val rows = Seq((0L, 1L), (1L, 10L), (10L, 5L), (11L, 14L),
      (20L, 30L), (21L, 31L)).toDF("id", "k")
    val out = graft.core.Layout.clusteringDepthHistogram(
        rows, expr("id div 10"), "k")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((0L, 1L, 15L), (1L, 3L, 10L), (2L, 1L, 6L)))
    // a key-sorted layout is depth 1 everywhere — nothing to compact
    val sorted = Seq((0L, 1L), (1L, 9L), (10L, 20L), (11L, 29L))
      .toDF("id", "k")
    val ideal = graft.core.Layout.clusteringDepthHistogram(
        sorted, expr("id div 10"), "k")
      .as[(Long, Long, Long)].collect().toSeq
    assert(ideal.filter(_._1 >= 2).isEmpty, "sorted layout must not overlap")
    // null keys drop (they belong to no file range)
    val withNull = Seq((0L, Option(1L)), (1L, Option.empty[Long]))
      .toDF("id", "k")
    assert(graft.core.Layout.clusteringDepthHistogram(
      withNull, expr("id div 10"), "k").count() === 1L)
  }

  test("GraftSession factory registers native functions and UDAFs") {
    // the shared test session is GraftSession.local's: nothing is
    // registered by hand, so this is the SQL surface the factory promises
    import spark.implicits._
    Seq((1, Array(1.0f, 0.0f))).toDF("label", "embedding")
      .createOrReplaceTempView("gs_vecs")
    val out = spark.sql(
      "SELECT label, vec_avg(embedding) AS c, cosine_f32(embedding, embedding) AS s FROM gs_vecs GROUP BY label, embedding")
    assert(out.count() === 1L)
  }

  test("hilbertValue: bijection onto [0, 256) and grid adjacency on the full 16x16 grid") {
    import spark.implicits._
    val cells = for { x <- 0 until 16; y <- 0 until 16 } yield (x, y)
    val out = cells.toDF("x", "y")
      .select(col("x"), col("y"),
        Layout.hilbertValue(col("x"), col("y"), bits = 4).as("d"))
      .collect().map(r => (r.getLong(2), r.getInt(0), r.getInt(1)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq === (0L until 256L),
      "the index must be a bijection onto the grid")
    out.sliding(2).foreach { case Array((_, x1, y1), (_, x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1,
        s"consecutive Hilbert cells must be grid-adjacent: ($x1,$y1)->($x2,$y2)")
    }
  }

  test("curveClusteringReport: query tiles fragment into fewer runs under Hilbert") {
    val rep = Layout.curveClusteringReport(Tables.lineitem(spark, sf),
        pmod(col("l_partkey"), lit(256L)), pmod(col("l_orderkey"), lit(256L)),
        bits = 8)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(rep("hilbert")._1 === rep("morton")._1,
      "both curves must see the same tile population")
    assert(rep("hilbert")._2 < rep("morton")._2,
      s"Moon-et-al clustering must show up as fewer index runs: $rep")
  }
}

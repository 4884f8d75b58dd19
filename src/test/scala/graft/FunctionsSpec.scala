package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.operators.Similarity

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("dot_f32 / cosine_f32 match the higher-order-function math") {
    GraftFunctions.register(spark)
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.0f, 0.0f), Array(0.0f, 0.0f)), // zero norm → cosine 0
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f))
    ).toDF("a", "b")
    val out = df.select(
      call_function("dot_f32", $"a", $"b").as("dot"),
      call_function("cosine_f32", $"a", $"b").as("cos"),
      Similarity.dot($"a".cast("array<double>"), $"b".cast("array<double>")).as("dot_hof"),
      Similarity.cosine($"a".cast("array<double>"), $"b".cast("array<double>")).as("cos_hof"))
      .collect()
    out.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(2)) < 1e-9)
      assert(math.abs(r.getDouble(1) - r.getDouble(3)) < 1e-9)
    }
    assert(out(0).getDouble(0) === 32.0)
    assert(out(1).getDouble(1) === 0.0)
  }

  test("native expressions return NULL on length mismatch / null elements (HOF parity)") {
    GraftFunctions.register(spark)
    val df = Seq(
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)), // length mismatch
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f))        // clean
    ).toDF("a", "b")
    val out = df.select(
      call_function("cosine_f32", $"a", $"b").as("c"),
      call_function("dot_f32", $"a", $"b").as("d"),
      Similarity.cosine($"a".cast("array<double>"), $"b".cast("array<double>")).as("c_hof"))
      .collect()
    assert(out(0).isNullAt(0) && out(0).isNullAt(1) && out(0).isNullAt(2))
    assert(!out(1).isNullAt(0) && math.abs(out(1).getDouble(0) - 1.0) < 1e-9)
    // null element inside an array → null score, same as the HOF path
    val withNullElem = spark.sql(
      "SELECT cosine_f32(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS c")
    assert(withNullElem.head().isNullAt(0))
  }

  test("native expressions usable from SQL after registration") {
    GraftFunctions.register(spark)
    Seq((Array(1.0f, 1.0f), Array(1.0f, 1.0f))).toDF("a", "b")
      .createOrReplaceTempView("vecs")
    val cos = spark.sql("SELECT cosine_f32(a, b) AS c FROM vecs").head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-9)
  }

  test("cosine_f32 participates in whole-stage codegen") {
    GraftFunctions.register(spark)
    val df = graft.core.Tables.embeddings(spark, sf).limit(10)
      .select(call_function("cosine_f32", $"embedding", $"embedding").as("c"))
    assert(df.collect().forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9))
    val codegen = df.queryExecution.executedPlan.collectFirst {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegen.isDefined, "expression must stay inside a WholeStageCodegen span")
  }

  test("native top-k matches the built-in top-k on real embeddings") {
    GraftFunctions.register(spark)
    val emb = graft.core.Tables.embeddings(spark, sf)
    val a = Similarity.cosineTopK(emb.filter($"vec_id" < 5), emb, k = 5).collect()
    val b = Similarity.cosineTopKNative(emb.filter($"vec_id" < 5), emb, k = 5).collect()
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
           b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("lsh_sig native signature is bit-identical to the HOF reference") {
    GraftFunctions.register(spark)
    val df = (1L to 200L).map { i =>
      (i, Array.tabulate(37)(j => math.sin(i * 37 + j).toFloat)) // odd dim on purpose
    }.toDF("id", "v")
    val out = df.select(
      call_function("lsh_sig", $"v", lit(16), lit(5)).as("native"),
      Similarity.lshSignature($"v".cast("array<double>"), 16, 5).as("hof"))
      .collect()
    out.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // non-degenerate: the correlated sin-pattern vectors still spread
    // across multiple buckets (regression guard for an all-zero sig)
    assert(out.map(_.getLong(0)).distinct.length > 5)
  }

  test("lsh_sig null contract: null element / empty array → 0; null array → NULL") {
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, Array(1.0f, 2.0f)),
      (2L, Array.empty[Float]),
      (3L, null.asInstanceOf[Array[Float]])
    ).toDF("id", "v")
    val out = df.select($"id", call_function("lsh_sig", $"v", lit(8), lit(0)).as("s"))
      .orderBy("id").collect()
    assert(!out(0).isNullAt(1))
    assert(out(1).getLong(1) === 0L)
    assert(out(2).isNullAt(1))
  }

  test("minhash_sigs maps negative inputs into [0, P) via floorMod (SQL-caller contract)") {
    GraftFunctions.register(spark)
    val df = Seq((1L, Array(-5L, 7L, Long.MinValue))).toDF("id", "shs")
    val sigs = df.select(call_function("minhash_sigs", $"shs", lit(4)).as("hs"))
      .head().getSeq[Long](0)
    assert(sigs.length === 4)
    assert(sigs.forall(s => s >= 0 && s < 2147483647L),
      s"signatures must stay in the affine family's field: $sigs")
  }

  test("vec_avg aggregator computes element-wise centroids") {
    val df = Seq(
      (0, Array(1.0f, 2.0f)),
      (0, Array(3.0f, 4.0f)),
      (1, Array(10.0f, 20.0f))
    ).toDF("label", "embedding")
    val out = df.groupBy("label").agg(expr("vec_avg(embedding)").as("c"))
      .orderBy("label").collect()
    assert(out(0).getSeq[Double](1) === Seq(2.0, 3.0))
    assert(out(1).getSeq[Double](1) === Seq(10.0, 20.0))
  }

  test("vec_avg averages ragged inputs per ELEMENT, not over the vector count") {
    val df = Seq(
      (0, Array(2.0f)),
      (0, Array(4.0f, 6.0f))
    ).toDF("label", "embedding")
    val out = df.groupBy("label").agg(expr("vec_avg(embedding)").as("c")).head()
    // element 0 over both vectors; element 1 over the ONE vector that
    // has it (the old single-count form deflated it to 3.0)
    assert(out.getSeq[Double](1) === Seq(3.0, 6.0))
  }

  test("vec_avg merge is partition-invariant") {
    val data = (1 to 100).map(i => (i % 3, Array.tabulate(8)(j => (i * j).toFloat)))
    val one = data.toDF("label", "embedding").coalesce(1)
      .groupBy("label").agg(expr("vec_avg(embedding)").as("c")).orderBy("label").collect()
    val many = data.toDF("label", "embedding").repartition(7)
      .groupBy("label").agg(expr("vec_avg(embedding)").as("c")).orderBy("label").collect()
    one.zip(many).foreach { case (a, b) =>
      a.getSeq[Double](1).zip(b.getSeq[Double](1)).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-6)
      }
    }
  }
  test("gram_hashes is positional: dedup of grams == shingle set, order preserved") {
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, "a b c a b c a b"),   // repeated grams
      (2L, "x y"),               // shorter than k -> empty
      (3L, "p q r s t u v w")
    ).toDF("doc_id", "text").selectExpr("doc_id",
      "gram_hashes(split(text, ' '), 3) AS g",
      "shingle_hashes(split(text, ' '), 3) AS s")
    df.collect().foreach { r =>
      val g = r.getSeq[Long](1)
      val sh = r.getSeq[Long](2)
      // shingle_hashes keeps first-seen order, so positional dedup matches it
      assert(g.distinct === sh, s"doc ${r.getLong(0)}")
    }
    // doc 1: 6 positions, 3 distinct grams repeating with period 3
    val g1 = df.filter("doc_id = 1").collect().head.getSeq[Long](1)
    assert(g1.length === 6 && g1(0) === g1(3) && g1(1) === g1(4) && g1(2) === g1(5))
    // null token -> NULL array (same contract as shingle_hashes)
    val n = Seq(Tuple1(Seq("a", null, "c"))).toDF("toks")
      .selectExpr("gram_hashes(toks, 2) AS g").collect().head
    assert(n.isNullAt(0))
  }
  test("l2sq_i64 matches the HOF reference and keeps the HOF null contract") {
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, Seq(1L, 2L, 3L), Seq(1L, 0L, 5L)),
      (2L, Seq(-1000000L, 1000000L), Seq(1000000L, -1000000L))
    ).toDF("id", "a", "b")
    val out = df.selectExpr("id",
      "l2sq_i64(a, b) AS nat",
      "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v) AS hof")
      .collect()
    out.foreach(r => assert(r.getLong(1) === r.getLong(2), s"id ${r.getLong(0)}"))
    // mismatched lengths -> NULL (HOF zip_with pads with null and poisons)
    val m = df.selectExpr("l2sq_i64(a, slice(b, 1, 2)) AS v")
      .filter("id = 1").collect().head
    assert(m.isNullAt(0))
  }
  test("argmin_l2sq_i64 matches the per-centroid array_position spelling, " +
    "ties to the lowest index, malformed matrix -> NULL") {
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, Seq(0L, 0L)),        // equidistant from c0/c1 -> tie -> 0
      (2L, Seq(9L, 9L)),        // nearest c2
      (3L, Seq(-5L, 1L))        // nearest c0
    ).toDF("id", "qv")
    val cents = "array(array(-1L, 0L), array(1L, 0L), array(10L, 10L))"
    val out = df.selectExpr("id",
      s"argmin_l2sq_i64(qv, $cents) AS nat",
      // the replay spelling the kmeans oracles pin
      s"CAST(array_position(" +
        s"array(l2sq_i64(qv, array(-1L, 0L)), l2sq_i64(qv, array(1L, 0L)), " +
        s"l2sq_i64(qv, array(10L, 10L))), " +
        s"array_min(array(l2sq_i64(qv, array(-1L, 0L)), l2sq_i64(qv, array(1L, 0L)), " +
        s"l2sq_i64(qv, array(10L, 10L))))) - 1 AS INT) AS ref")
      .collect()
    out.foreach(r => assert(r.getInt(1) === r.getInt(2), s"id ${r.getLong(0)}"))
    assert(out.map(r => r.getLong(0) -> r.getInt(1)).toMap ===
      Map(1L -> 0, 2L -> 2, 3L -> 0))
    // empty matrix and dimension mismatch -> NULL, never a throw
    val bad = df.selectExpr(
      "argmin_l2sq_i64(qv, CAST(array() AS ARRAY<ARRAY<BIGINT>>)) AS e",
      "argmin_l2sq_i64(qv, array(array(1L, 2L, 3L))) AS d")
      .collect().head
    assert(bad.isNullAt(0) && bad.isNullAt(1))
  }

  test("ngrams_gen: rows match the HOF spelling; short/empty docs emit nothing") {
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, "a b c d"), (2L, "x y"), (3L, ""), (4L, "p q r")
    ).toDF("doc_id", "text")
    val gen = df.select(col("doc_id"),
        expr("ngrams_gen(split(text, ' '), 3)").as(Seq("pos", "gram")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val hof = df.select(col("doc_id"),
        posexplode(expr(
          "CASE WHEN size(split(text, ' ')) >= 3 THEN " +
            "transform(sequence(0, size(split(text, ' ')) - 3), " +
            "i -> array_join(slice(split(text, ' '), i + 1, 3), ' ')) " +
            "ELSE array() END").cast("array<string>")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(gen === hof)
    assert(gen === Set(
      (1L, 0, "a b c"), (1L, 1, "b c d"), (4L, 0, "p q r")))
    // null text row contributes no rows
    val withNull = Seq((9L, Option.empty[String])).toDF("doc_id", "text")
    assert(withNull.select(expr("ngrams_gen(split(text, ' '), 2)")).count() === 0L)
  }

  test("ngrams_gen plans through GenerateExec and rejects bad arguments") {
    GraftFunctions.register(spark)
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = df.select(col("doc_id"),
        expr("ngrams_gen(split(text, ' '), 2)"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), plan)
    intercept[Exception] {
      df.select(expr("ngrams_gen(doc_id, 2)")).collect()
    }
    intercept[Exception] {
      df.select(expr("ngrams_gen(split(text, ' '), 0)")).collect()
    }
  }

}

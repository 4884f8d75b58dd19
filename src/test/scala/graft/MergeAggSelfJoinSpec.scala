package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.Relational

/** Fires/declines matrix for [[graft.plans.MergeAggSelfJoin]] — the
  * fourth custom optimizer rule (groupBy-split-then-join folding).
  * Same discipline as JoinEliminationSpec: every unsound shape must
  * DECLINE, the sound shape must both fire and stay correct. */
class MergeAggSelfJoinSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = tempDir("agg_selfjoin").toFile.getAbsolutePath
    Seq((1L, 10.0), (1L, 20.0), (2L, 5.0), (0L, 99.0))
      .toDF("k", "v")
      // k = 0 becomes the NULL-key group the inner join must drop
      .withColumn("k", when(col("k") === 0L, lit(null)).otherwise(col("k")))
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    Seq((1L, 7.0)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$d/other.parquet")
    d
  }

  private def t: DataFrame = spark.read.parquet(s"$dir/t.parquet")
  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString
  private def hasJoin(df: DataFrame): Boolean = {
    val p = plan(df)
    p.contains("Join") // SortMergeJoin / BroadcastHashJoin / ShuffledHashJoin
  }

  private def counts(df: DataFrame) =
    df.groupBy("k").agg(count(lit(1)).as("n"))
  private def sums(df: DataFrame) =
    df.groupBy("k").agg(sum(Relational.cents(col("v"))).as("s"))

  test("fires: same relation, full-key inner equi-join — no Join, one scan, null group dropped") {
    val q = counts(t).join(sums(t), Seq("k")).orderBy("k")
    assert(!hasJoin(q), s"the self-join must fold into one aggregation:\n${plan(q)}")
    assert("FileScan parquet".r.findAllIn(plan(q)).size === 1,
      "the fold must leave exactly one scan")
    val rows = q.as[(Long, Long, Long)].collect().toSeq
    assert(rows === Seq((1L, 2L, 3000L), (2L, 1L, 500L)),
      "values must match the join semantics, including the dropped NULL group")
  }

  test("fires: condition written in either attribute order") {
    val a = counts(t)
    val b = sums(t)
    val q = a.join(b, b("k") === a("k")).select(a("k"), col("n"), col("s"))
    assert(!hasJoin(q), s"flipped equality must still fold:\n${plan(q)}")
  }

  test("declines: different source relations") {
    val other = spark.read.parquet(s"$dir/other.parquet")
    val q = counts(t).join(sums(other), Seq("k"))
    assert(hasJoin(q), "different inputs must keep the join")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq === Seq((1L, 2L, 700L)))
  }

  test("declines: join covers only part of the grouping keys") {
    val a = t.groupBy("k", "v").agg(count(lit(1)).as("n"))
    val b = t.groupBy("k", "v").agg(sum(Relational.cents(col("v"))).as("s"))
    val q = a.join(b, a("k") === b("k")).select(a("k"), col("n"), col("s"))
    assert(hasJoin(q),
      "partial-key equality is not 1:1 — folding would change multiplicities")
  }

  test("declines: a non-equality residual conjunct") {
    val a = counts(t)
    val b = sums(t)
    val q = a.join(b, a("k") === b("k") && col("n") < col("s"))
      .select(a("k"), col("n"), col("s"))
    assert(hasJoin(q), "a residual predicate could drop rows the fold keeps")
    // and the residual actually binds here (n < s for both groups)
    assert(q.count() === 2L)
  }

  test("declines: outer join types") {
    val q = counts(t).join(sums(t), Seq("k"), "left_outer")
    assert(hasJoin(q), "only INNER is provably 1:1-and-dropping-nulls")
  }

  test("declines: non-aggregate side") {
    val q = t.join(sums(t), Seq("k"))
    assert(hasJoin(q), "a raw left side has no uniqueness evidence")
  }
}

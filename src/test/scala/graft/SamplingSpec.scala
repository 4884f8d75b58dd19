package graft

import graft.operators.Sampling
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = (1L to 2000L).map(i =>
    (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "fr" else null))
    .toDF("id", "lang")

  test("hash sample is deterministic and partition-invariant") {
    val a = Sampling.hashSample(corpus, "id", 250).select("id").as[Long].collect().sorted.toSeq
    val b = Sampling.hashSample(corpus.repartition(13), "id", 250)
      .select("id").as[Long].collect().sorted.toSeq
    assert(a === b)
    // rate lands near 25% (binomial over 2000 keys)
    assert(a.length > 400 && a.length < 600, s"got ${a.length} of 2000 at 250 permille")
  }

  test("rate 0 keeps nothing, rate 1000 keeps everything") {
    assert(Sampling.hashSample(corpus, "id", 0).count() === 0L)
    assert(Sampling.hashSample(corpus, "id", 1000).count() === 2000L)
  }

  test("stratified rates apply per stratum; null stratum uses the default") {
    val out = Sampling.stratifiedHashSample(corpus, "lang", "id",
      rates = Map("en" -> 1000L, "fr" -> 0L), defaultPermille = 500L)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(out(Some("en")) === 666L)     // every 'en' row kept (multiples of 3 in 1..2000)
    assert(!out.contains(Some("fr")))    // every 'fr' row dropped
    val nullKept = out(None)
    assert(nullKept > 230 && nullKept < 430, s"null stratum kept $nullKept of 666 at 500")
  }

  test("weightedSample: inclusion odds scale with weight; replayable locally") {
    // ids 1..400: weight 1000 for ids <= 40, weight 1 for the rest.
    // With k = 40 of 400 rows, the heavy tenth should dominate the
    // sample. Exact expectation replayed below — the assert is
    // bit-equality with a local A-ES computation, not a tolerance.
    val df = (1L to 400L).map(i => (i, if (i <= 40) 1000L else 1L))
      .toDF("id", "w")
    val out = Sampling.weightedSample(df, "id", "w", k = 40)
      .select("id").as[Long].collect().toSeq
    def h(i: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    val expected = (1L to 400L).map { i =>
      val u = (h(i).toDouble + 1.0) / 1152921504606846976.0d
      val w = if (i <= 40) 1000.0 else 1.0
      (math.log(u) / w, i)
    }.sortBy { case (k2, i) => (-k2, i) }.take(40).map(_._2).sorted
    assert(out === expected)
    // heavy ids dominate
    assert(out.count(_ <= 40) > 25, s"heavy-weight rows in sample: ${out.count(_ <= 40)}")
  }

  test("weightedSample is partition-invariant") {
    val df = (1L to 300L).map(i => (i, i % 7 + 1)).toDF("id", "w")
    val a = Sampling.weightedSample(df, "id", "w", 25).select("id").as[Long].collect().toSeq
    val b = Sampling.weightedSample(df.repartition(11), "id", "w", 25)
      .select("id").as[Long].collect().toSeq
    assert(a === b)
  }

  test("weightedSample fails fast on non-positive weights") {
    val df = Seq((1L, 5L), (2L, 0L)).toDF("id", "w")
    val e = intercept[Exception] {
      Sampling.weightedSample(df, "id", "w", 1).collect()
    }
    assert(e.getMessage.contains("weightedSample") ||
      Option(e.getCause).exists(_.getMessage.contains("weightedSample")))
  }

  test("sample plan is a scan-side filter — no shuffle, no UDF") {
    val plan = Sampling.hashSample(corpus, "id", 100).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
    assert(!plan.contains("BatchEvalPython"))
  }

  test("split assignment is disjoint, exhaustive, growth-stable, near the target rates") {
    val splits = Seq("train" -> 900L, "val" -> 50L, "test" -> 50L)
    val out = Sampling.splitAssign(corpus, "id", splits)
      .select("id", "split").as[(Long, String)].collect().toMap
    // exhaustive: every row got exactly one label (toMap keeps 2000 keys)
    assert(out.size === 2000)
    val byLabel = out.values.groupBy(identity).view.mapValues(_.size).toMap
    // rates land near 90/5/5 (md5 uniform; generous tolerance)
    assert(byLabel("train") > 1700 && byLabel("train") < 1950)
    assert(byLabel("val") > 50 && byLabel("val") < 160)
    assert(byLabel("test") > 50 && byLabel("test") < 160)
    // growth-stable: the same key keeps its label in a larger dataset
    val grown = (1L to 4000L).map(i => (i, "en")).toDF("id", "lang")
    val out2 = Sampling.splitAssign(grown, "id", splits)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(out.forall { case (k, v) => out2(k) == v })
    // hash-sample(900) is exactly the train slice — same uniform
    val sampled = Sampling.hashSample(corpus, "id", 900)
      .select("id").as[Long].collect().toSet
    assert(out.filter(_._2 == "train").keySet === sampled)
  }

  test("temperatureMix: alpha=0.5 replays the exact sqrt-weight rate formula") {
    // 900 a / 100 b, budget 100: w = (30e6, 10e6), quota = (75, 25),
    // rate = (75e6 div 900, 25e6 div 100) = (83333, 250000) permillion
    val df = (1L to 1000L).map(i => (i, if (i <= 900) "a" else "b"))
      .toDF("id", "lang")
    val out = Sampling.temperatureMix(df, "lang", "id", alpha = 0.5, budget = 100L)
      .select("id", "lang").as[(Long, String)].collect().toSet
    val expected = df.filter(
      (col("lang") === "a" && Sampling.hashMod(col("id"), 1000000L) < 83333) ||
      (col("lang") === "b" && Sampling.hashMod(col("id"), 1000000L) < 250000))
      .select("id", "lang").as[(Long, String)].collect().toSet
    assert(out === expected)
    assert(out.nonEmpty)
  }

  test("temperatureMix: alpha=1 is proportional; lowering alpha up-weights the tail") {
    val df = (1L to 1000L).map(i => (i, if (i <= 900) "a" else "b"))
      .toDF("id", "lang")
    // alpha=1: w = (900e6, 100e6), quotas (90, 10), rates (100000, 100000)
    val prop = Sampling.temperatureMix(df, "lang", "id", alpha = 1.0, budget = 100L)
      .select("id", "lang").as[(Long, String)].collect()
    val flat = df.filter(Sampling.hashMod(col("id"), 1000000L) < 100000)
      .select("id", "lang").as[(Long, String)].collect().toSet
    assert(prop.toSet === flat)
    // the tail stratum's share strictly grows as alpha drops
    // (rate 250000 vs 100000 permillion)
    val temp = Sampling.temperatureMix(df, "lang", "id", alpha = 0.5, budget = 100L)
      .select("id", "lang").as[(Long, String)].collect()
    assert(temp.count(_._2 == "b") > prop.count(_._2 == "b"))
  }

  test("temperatureMix: a small budget over a large stratum still yields a nonzero rate") {
    // quota 50 over n=100k floors to 0 at permille granularity but to
    // 500 permillion here — the sample must be non-empty and ≈ 50
    val df = (1L to 100000L).map(i => (i, "a")).toDF("id", "lang")
    val out = Sampling.temperatureMix(df, "lang", "id", alpha = 0.5, budget = 50L)
      .select("id").as[Long].collect()
    assert(out.nonEmpty, "permille flooring would have dropped the whole stratum")
    assert(out.length < 200, s"got ${out.length}, expected ≈50")
  }

  test("temperatureMix: null strata drop; bad parameters fail loudly") {
    val out = Sampling.temperatureMix(corpus, "lang", "id", alpha = 0.5, budget = 2000L)
      .select("lang").distinct().as[String].collect().toSet
    assert(out === Set("en", "fr")) // null-lang docs get no quota
    intercept[IllegalArgumentException](
      Sampling.temperatureMix(corpus, "lang", "id", alpha = 0.0, budget = 10L))
    intercept[IllegalArgumentException](
      Sampling.temperatureMix(corpus, "lang", "id", alpha = 0.5, budget = 0L))
  }

  test("mixtureReport: exact shares, sqrt-tempered quotas, epoch pressure") {
    // en: 2 docs x 4 tokens = 8; fr: 1 doc x 2 tokens = 2; total 10
    val docs = Seq(
      (1L, "en", "a b c d"), (2L, "en", "e f g h"), (3L, "fr", "x y"),
      (4L, null.asInstanceOf[String], "zz")).toDF("doc_id", "lang", "text")
    val out = Sampling.mixtureReport(docs, "lang", alpha = 0.5, budgetTokens = 100L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // w = floor(sqrt(n_tokens)*1e6): en 2828427, fr 1414213; tot 4242640
    // quota_en = 100*2828427 div 4242640 = 66; quota_fr = 33
    // epochs: en 66*1000 div 8 = 8250; fr 33*1000 div 2 = 16500
    assert(out === Map(
      "en" -> ((2L, 8L, 800L, 66L, 8250L)),
      "fr" -> ((1L, 2L, 200L, 33L, 16500L))))
    intercept[IllegalArgumentException](
      Sampling.mixtureReport(docs, "lang", alpha = 1.5, budgetTokens = 100L))
  }

  test("topQuantileByGroup: per-group bar, tie classes atomic, singletons need 1000") {
    val df = Seq(
      // en: scores 1..4 → pr 0,333,666,1000; top-250 keeps only 4
      (1L, "en", 10L), (2L, "en", 20L), (3L, "en", 30L), (4L, "en", 40L),
      // fr: 5,5,9 → ties share pr 0; 9 at pr 1000
      (5L, "fr", 5L), (6L, "fr", 5L), (7L, "fr", 9L),
      // singleton de: pr 0 → dropped at any keep < 1000
      (8L, "de", 99L)).toDF("doc_id", "lang", "score")
    val kept = graft.operators.Sampling
      .topQuantileByGroup(df, "lang", "score", "doc_id", keepPermille = 250L)
      .collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(4L, 7L))
    val all = graft.operators.Sampling
      .topQuantileByGroup(df, "lang", "score", "doc_id", keepPermille = 1000L)
      .collect().map(_.getLong(0)).toSeq
    assert(all === (1L to 8L).toSeq, "keep=1000 keeps everything incl. singletons")
    intercept[IllegalArgumentException](graft.operators.Sampling
      .topQuantileByGroup(df, "lang", "score", "doc_id", keepPermille = 0L))
  }

  test("rebalance hits target proportions from the bottleneck total") {
    // 1200 en / 300 fr / 500 other; target 60/40 en/fr.
    // T = min(1200·1000/600, 300·1000/400) = 750 → keep ≈ 450 en, 300 fr
    val df = (1L to 2000L).map(i =>
      (i, if (i <= 1200) "en" else if (i <= 1500) "fr" else "de"))
      .toDF("id", "lang")
    val out = Sampling.rebalance(df, "lang", "id", Map("en" -> 600L, "fr" -> 400L))
      .select("id", "lang").as[(Long, String)].collect()
    val byLang = out.groupBy(_._2).view.mapValues(_.size).toMap
    assert(!byLang.contains("de"))                   // untargeted stratum drops
    assert(byLang("fr") === 300)                     // bottleneck keeps everything
    assert(byLang("en") > 380 && byLang("en") < 520) // ≈450 (hash noise)
    // deterministic: same input → identical sample
    val again = Sampling.rebalance(df, "lang", "id", Map("en" -> 600L, "fr" -> 400L))
      .select("id").as[Long].collect().toSet
    assert(again === out.map(_._1).toSet)
    // a targeted stratum absent from the data is unsatisfiable → loud
    intercept[IllegalArgumentException] {
      Sampling.rebalance(df, "lang", "id", Map("en" -> 500L, "ja" -> 500L))
    }
  }

  test("split permilles must sum to 1000") {
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(corpus, "id", Seq("a" -> 500L, "b" -> 400L))
    }
  }

  test("groupSample: exact n per group, deterministic, subset-stable") {
    val df = (0L until 100L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "g")
    val out = Sampling.groupSample(df, "g", "id", n = 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.count(_._2 == "a") === 7)
    assert(out.count(_._2 == "b") === 7)
    // deterministic across runs
    val again = Sampling.groupSample(df, "g", "id", n = 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.sorted.toSeq === again.sorted.toSeq)
    // growing n keeps the smaller sample as a prefix (md5 rank order)
    val bigger = Sampling.groupSample(df, "g", "id", n = 10)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out.forall(bigger.contains))
  }

  test("groupSample: groups smaller than n come back whole") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "g")
    val out = Sampling.groupSample(df, "g", "id", n = 5).collect()
    assert(out.length === 3)
  }
  test("clusterSplitAssign: dup families never straddle a split; singletons follow splitAssign") {
    val docs = (1L to 60L).map(i => Tuple1(i)).toDF("doc_id")
    // clusters {1,2,3} and {10,11}; the rest are singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("da", "db")
    val out = Sampling.clusterSplitAssign(docs, pairs, "doc_id",
      Seq("train" -> 800L, "val" -> 100L, "test" -> 100L))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    Harness.release(spark, blocking = false)
    assert(out.size === 60)
    // family atomicity
    assert(out(1L) === out(2L) && out(2L) === out(3L))
    assert(out(10L) === out(11L))
    assert(out(1L)._1 === 1L && out(10L)._1 === 10L)
    // singletons: same assignment as the per-doc splitter keyed by id
    val solo = Sampling.splitAssign(docs.filter(col("doc_id") > 20), "doc_id",
      Seq("train" -> 800L, "val" -> 100L, "test" -> 100L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    solo.foreach { case (id, sp) => assert(out(id)._2 === sp, s"doc $id") }
  }

  test("kfoldAssign: folds are in range, exhaustive, md5-replayable, " +
    "and growth-stable") {
    val df = (1L to 200L).toDF("id")
    val out = Sampling.kfoldAssign(df, "id", k = 5)
      .select("id", "fold").as[(Long, Long)].collect().toMap
    assert(out.size === 200)
    assert(out.values.forall(f => f >= 0 && f < 5))
    assert(out.values.toSet.size === 5, "all 5 folds populated at n=200")
    // bit-exact local replay of the hashMod contract
    def h(i: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    (1L to 200L).foreach(i => assert(out(i) === h(i) % 5, s"id $i"))
    // a row's fold never changes when more rows arrive
    val grown = Sampling.kfoldAssign((1L to 400L).toDF("id"), "id", k = 5)
      .select("id", "fold").as[(Long, Long)].collect().toMap
    (1L to 200L).foreach(i => assert(grown(i) === out(i)))
  }

  test("kfoldAssign rejects degenerate k") {
    intercept[IllegalArgumentException] {
      Sampling.kfoldAssign((1L to 3L).toDF("id"), "id", k = 1)
    }
  }

  test("timeSplitAssign: cutoff and embargo boundaries are half-open and exact") {
    val df = Seq(99L, 100L, 149L, 150L, 0L).toDF("us")
      .withColumn("ts", expr("timestamp_micros(us)"))
    val out = Sampling.timeSplitAssign(df, "ts", cutoffUs = 100L,
      embargoUs = 50L).select("us", "split")
      .as[(Long, String)].collect().toMap
    assert(out === Map(0L -> "train", 99L -> "train", 100L -> "embargo",
      149L -> "embargo", 150L -> "test"))
    // zero embargo: the cutoff row goes straight to test
    val none = Sampling.timeSplitAssign(df, "ts", 100L, 0L)
      .select("us", "split").as[(Long, String)].collect().toMap
    assert(none(100L) === "test" && none(99L) === "train")
    intercept[IllegalArgumentException](
      Sampling.timeSplitAssign(df, "ts", 100L, -1L))
  }

  test("splitLeakageAudit: cells match the split rule, direction canonicalizes, " +
    "off-diagonals flag") {
    val splits = Seq("train" -> 900L, "val" -> 50L, "test" -> 50L)
    // derive each endpoint's split from the SAME assignment operator —
    // the audit must agree with splitAssign on every id
    val ids = (1L to 40L)
    val splitOf = Sampling.splitAssign(ids.toDF("doc_id"), "doc_id", splits)
      .as[(Long, String)].collect().toMap
    // pairs (i, i+20) with both directions present for some — the
    // matrix must canonicalize and count each PAIR once per row
    val pairRows = ids.take(20).map(i => (i, i + 20L)) ++
      Seq((25L, 5L), (30L, 10L)) // reversed duplicates of existing pairs
    val out = Sampling.splitLeakageAudit(pairRows.toDF("da", "db"), splits)
      .as[(String, String, Long, Int)].collect().toSeq
    val expected = pairRows
      .map { case (a, b) =>
        val (sa, sb) = (splitOf(a), splitOf(b))
        (Seq(sa, sb).min, Seq(sa, sb).max)
      }
      .groupBy(identity).map { case ((lo, hi), v) =>
        (lo, hi, v.size.toLong, if (lo != hi) 1 else 0) }
      .toSeq.sortBy(t => (t._1, t._2))
    assert(out === expected)
    assert(out.exists(_._4 == 1), "the fixture must exercise a leak cell")
    // every off-diagonal is flagged, every diagonal is not
    assert(out.forall(r => (r._1 != r._2) == (r._4 == 1)))
  }

  test("splitRepairPlan: majority election, declared-order ties, movers only, repair zeroes the audit") {
    val splits = Seq("train" -> 900L, "val" -> 50L, "test" -> 50L)
    // a cluster is a chain (i, i+20, i+40): members' splits come from
    // the SAME assignment operator the plan uses
    val pairRows = (1L to 20L).flatMap(i => Seq((i, i + 20L), (i + 20L, i + 40L)))
    val pairs = pairRows.toDF("da", "db")
    val splitOf = Sampling.splitAssign((1L to 60L).toDF("doc_id"), "doc_id", splits)
      .as[(Long, String)].collect().toMap
    val plan = Sampling.splitRepairPlan(pairs, splits)
      .as[(Long, Long, String, String)].collect().toSeq
    Harness.release(spark, blocking = false)
    // brute-force expectation: per chain {i, i+20, i+40}, majority
    // split with (count DESC, train<val<test) tie-break; movers only
    val order = Map("train" -> 0, "val" -> 1, "test" -> 2)
    val expected = (1L to 20L).flatMap { i =>
      val members = Seq(i, i + 20L, i + 40L)
      val tgt = members.groupBy(splitOf).toSeq
        .sortBy { case (s, m) => (-m.size, order(s)) }.head._1
      members.filter(splitOf(_) != tgt)
        .map(m => (m, i, splitOf(m), tgt))
    }.sortBy(_._1)
    assert(plan === expected)
    assert(plan.nonEmpty, "the fixture must exercise at least one move")
    // the closure law: applying the moves leaves ZERO leak cells —
    // re-audit with every mover's split overridden to its target
    val moved = plan.map(p => p._1 -> p._4).toMap
    val post = pairRows.map { case (a, b) =>
      (moved.getOrElse(a, splitOf(a)), moved.getOrElse(b, splitOf(b)))
    }
    assert(post.forall(p => p._1 == p._2), "repair must zero every leak")
  }

  test("mixtureWaterFill: caps redistribute, budget conserved, matches the iterative reference") {
    // hand-checkable case: w=(700k, 200k, 80k, 20k) over avails
    // (10, 1000, 50, 40), budget 200 — src0 caps at 10, the surplus
    // waters the rest; src3 caps on the second "round"
    val docs = Seq(
      ("src0", ("x " * 10).trim), ("src1", ("x " * 1000).trim),
      ("src2", ("x " * 50).trim), ("src3", ("x " * 40).trim)
    ).toDF("source", "text")
    val weights = Seq("src0" -> 700000L, "src1" -> 200000L,
      "src2" -> 80000L, "src3" -> 20000L)
    def run(budget: Long) =
      Sampling.mixtureWaterFill(docs, weights, budget)
        .as[(String, Long, Long, Long, Long)].collect().toSeq
    // iterative reference: repeatedly cap any source whose
    // proportional share exceeds availability, redistribute, repeat
    def reference(budget: Long): Map[String, Long] = {
      val avail = Map("src0" -> 10L, "src1" -> 1000L, "src2" -> 50L,
        "src3" -> 40L)
      var capped = Set.empty[String]
      var changed = true
      while (changed) {
        val num = budget - capped.toSeq.map(avail).sum
        val den = weights.filterNot(w => capped(w._1)).map(_._2).sum
        val newly = weights.filterNot(w => capped(w._1))
          .filter { case (s, w) => avail(s) * den <= w * num }.map(_._1)
        changed = newly.nonEmpty
        capped ++= newly
      }
      val num = math.max(budget - capped.toSeq.map(avail).sum, 0L)
      val den = weights.filterNot(w => capped(w._1)).map(_._2).sum
      weights.map { case (s, w) =>
        s -> (if (capped(s)) avail(s) else w * num / den)
      }.toMap
    }
    for (budget <- Seq(0L, 50L, 200L, 500L, 2000L)) {
      val out = run(budget)
      val exp = reference(budget)
      assert(out.map(r => r._1 -> r._4).toMap === exp,
        s"allocation mismatch at budget=$budget")
      assert(out.map(_._4).sum <= budget || budget >= 1100L,
        s"over-allocated at budget=$budget")
      // capped flag consistency: capped rows allocate exactly avail
      assert(out.forall(r => (r._5 == 1L) == (r._4 == r._3)
        || (r._5 == 0L && r._4 < r._3)))
    }
    // budget beyond total availability: everything capped at avail
    assert(run(5000L).map(_._4).sum === 1100L)
    intercept[IllegalArgumentException] {
      Sampling.mixtureWaterFill(docs, Seq("a" -> 600000L, "b" -> 500000L), 10L)
    }
  }

  test("budgetCut: full classes via threshold, boundary class prefix-fills by doc_id") {
    val docs = Seq(
      (1L, "a b c", 10L), (2L, "d e", 10L),          // class 10: 5 tokens
      (3L, "f g h i", 5L), (4L, "j", 5L),            // class 5: 5 tokens
      (5L, "k k", 1L)                                // class 1: 2 tokens
    ).toDF("doc_id", "text", "n_chars")
    def ids(b: Long) = Sampling.budgetCut(docs, b).collect().map(_.getLong(0)).toSeq
    // budget 8: class 10 fits (5); class 5 is the boundary with r=3 —
    // doc 3 (4 tokens) overflows and blocks the prefix, doc 4 behind it
    assert(ids(8L) === Seq(1L, 2L))
    // budget 9: r=4 -> doc 3 fits exactly, doc 4 still out
    assert(ids(9L) === Seq(1L, 2L, 3L))
    // budget >= total (12): everything, ordered priority desc then id
    assert(ids(20L) === Seq(1L, 2L, 3L, 4L, 5L))
    // budget 0: nothing, and no division/window error
    assert(ids(0L) === Seq())
    // NULL text and NULL priority are excluded, not counted
    val withNulls = docs.unionByName(Seq(
      (6L, Option.empty[String], Option(99L)),
      (7L, Option("x"), Option.empty[Long])
    ).toDF("doc_id", "text", "n_chars"))
    assert(Sampling.budgetCut(withNulls, 20L).collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("mixtureEpochPlan: exact targets, cap bite, missing source") {
    val docs = Seq(
      ("a", "w w w w"),         // 4 tokens
      ("a", "w w w w w w"),     // 6 → a has 10
      ("b", ("w " * 19) + "w")  // 20 tokens
    ).toDF("source", "text")
    val out = Sampling.mixtureEpochPlan(docs,
      Seq(("a", 500000L), ("b", 250000L), ("z", 250000L)),
      budgetTokens = 100L, maxEpochsMilli = 3000L).collect()
    def row(r: org.apache.spark.sql.Row) = (
      r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      if (r.isNullAt(4)) -1L else r.getLong(4),
      if (r.isNullAt(5)) -1L else r.getLong(5),
      r.getLong(6), r.getLong(7))
    // a: 10 avail, target 50 → 5000 milli-epochs, capped 3000 →
    //    planned 30, shortfall 20 (the repeat-cap bite)
    assert(row(out(0)) === (("a", 500000L, 10L, 50L, 5000L, 3000L, 30L, 20L)))
    // b: 20 avail, target 25 → 1250 milli (subsample-free fit)
    assert(row(out(1)) === (("b", 250000L, 20L, 25L, 1250L, 1250L, 25L, 0L)))
    // z: weighted but absent — NULL epochs, full-target shortfall
    assert(row(out(2)) === (("z", 250000L, 0L, 25L, -1L, -1L, 0L, 25L)))
    // invalid mixtures fail loudly
    intercept[IllegalArgumentException] {
      Sampling.mixtureEpochPlan(docs, Seq(("a", 600000L), ("b", 500000L)), 100L)
    }
    intercept[IllegalArgumentException] {
      Sampling.mixtureEpochPlan(docs, Seq(("a", 1L), ("a", 2L)), 100L)
    }
  }

  test("weightedHashSample: A-Res priorities replayed independently, weight ∝ rank") {
    // independent reimplementation of the priority formula (md5-derived
    // u, integer-ln micronats, truncating div) — the spec and the
    // operator must agree row for row
    def expectedPriority(key: Long, weight: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(key.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16) % 1000000L + 1L
      val lnH = math.floor(math.log(h.toDouble) * 1e6 + 0.5).toLong
      val ln1e6 = math.floor(math.log(1000000.0) * 1e6 + 0.5).toLong
      ((lnH - ln1e6) * 1000000L) / weight  // Scala / truncates like div
    }
    val df = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 1000000L),
      (5L, 0L), (6L, -3L))  // non-positive weights: excluded
      .toDF("doc_id", "w")
    val out = Sampling.weightedHashSample(df, "doc_id", "w", n = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.size === 3)
    val exp = Seq(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 1000000L)
      .map { case (k, w) => (k, w, expectedPriority(k, w)) }
      .sortBy { case (k, _, p) => (-p, k) }.take(3)
    assert(out === exp)
    // the heavy row's priority divides by 10⁵× the weight — it must be
    // in the sample regardless of its hash draw
    assert(out.map(_._1).contains(4L))
    intercept[IllegalArgumentException] {
      Sampling.weightedHashSample(df, "doc_id", "w", n = 0)
    }
  }

  test("domainCap: best-N by (score DESC, id) per source, exact mass accounting, no rank window") {
    val docs = Seq(
      (1L, "A", 5L), (2L, "A", 3L), (3L, "A", 1L),   // cap 2 keeps 5, 3
      (4L, "B", 7L),                                   // under cap — all kept
      (5L, "C", 4L), (6L, "C", 4L), (7L, "C", 4L))     // tie → ids 5, 6 kept
      .toDF("doc_id", "source", "n_chars")
    val out = Sampling.domainCap(docs, cap = 2)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      ("A", 3L, 2L, 1L, 9L, 8L, 1L),
      ("B", 1L, 1L, 0L, 7L, 7L, 0L),
      ("C", 3L, 2L, 1L, 12L, 8L, 4L)))
    // the kept set must come from the bounded aggregate, never a window
    val p = Sampling.domainCap(docs, cap = 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_topk_pairs") && !p.contains("Window"),
      "domain cap must pre-reduce map-side (the x255 discipline)")
  }

  test("trainingOrder: matches an independent Scala replay of the permutation") {
    val docs = (1L to 500L).map(i =>
      (i, if (i % 7 == 0) "web" else if (i % 3 == 0) "book" else "code"))
      .toDF("doc_id", "source")
    val nBlocks = 4L
    val out = Sampling.trainingOrder(docs, nBlocks)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // independent replay: same md5/block rule via MessageDigest, runs
    // computed by a plain fold over the sorted block contents
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = (1L to 500L).map { i =>
      val h = md5hex(i.toString)
      val block = java.lang.Long.parseLong(h.take(15), 16) % nBlocks
      val src = if (i % 7 == 0) "web" else if (i % 3 == 0) "book" else "code"
      (block, h, i, src)
    }
    val expected = rows.groupBy(_._1).toSeq.map { case (block, rs) =>
      val ordered = rs.sortBy(r => (r._2, r._3)).map(_._4)
      val runs = ordered.foldLeft(List.empty[(String, Long)]) {
        case ((s, n) :: t, src) if s == src => (s, n + 1) :: t
        case (acc, src)                     => (src, 1L) :: acc
      }
      (block, ordered.size.toLong, ordered.distinct.size.toLong,
        runs.size.toLong, runs.map(_._2).max)
    }.sortBy(_._1)
    assert(out === expected)
    // and the permutation is partition-invariant (retry/replan-stable)
    val out13 = Sampling.trainingOrder(docs.repartition(13), nBlocks)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out13 === out)
  }

  test("trainingOrder: a single-source corpus is one run per block") {
    val docs = (1L to 100L).map(i => (i, "web")).toDF("doc_id", "source")
    val out = Sampling.trainingOrder(docs, 3L)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out.map(_._1) === out.map(_._1).sorted)
    out.foreach { case (_, nDocs, nSources, nRuns, maxRun) =>
      assert(nSources === 1L && nRuns === 1L && maxRun === nDocs)
    }
    assert(out.map(_._2).sum === 100L)
  }
}

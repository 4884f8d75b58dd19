package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._
import graft.etl.Pipeline
import graft.operators.{AsOfJoin, TextAnalysis}

/** Property-based checks (SURVEY §5.2) for the determinism-sensitive
  * pieces: cents conversion, last-wins dedup idempotence, token
  * counting, rolling-hash range. Small test counts keep the Spark
  * round-trips affordable; the generators still cover negatives,
  * zeros, ties, null keys and empty strings. */
class PropertySpec extends SparkSpec with SlowSuite {
  import spark.implicits._

  private def check(prop: Prop, n: Int = 10): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  test("cents conversion matches local floor(x*100+0.5) for plausible money") {
    check(Prop.forAll(Gen.listOfN(20, Gen.chooseNum(-10000.0, 10000.0))) { xs =>
      xs.isEmpty || {
        val viaSpark = xs.toDF("x")
          .select(floor(col("x") * 100 + 0.5).cast("long").as("c"))
          .collect().map(_.getLong(0)).toSeq
        viaSpark == xs.map(x => math.floor(x * 100 + 0.5).toLong)
      }
    })
  }

  test("lastWins is idempotent and yields one row per non-null key") {
    val rows = Gen.listOfN(30, for {
      k <- Gen.chooseNum(0L, 5L)
      ts <- Gen.chooseNum(0L, 100L)
      v <- Gen.alphaStr.map(_.take(5))
    } yield (if (k == 0L) None else Some(k), ts, v))
    check(Prop.forAll(rows) { xs =>
      xs.isEmpty || {
        val df = xs.map { case (k, ts, v) => (k.map(Long.box).orNull, ts, v) }
          .toDF("k", "ts", "v")
        val once = Pipeline.lastWins(df, "k", Seq(col("ts"), col("v")))
        val twice = Pipeline.lastWins(once, "k", Seq(col("ts"), col("v")))
        val keyed = once.filter(col("k").isNotNull)
        keyed.count() == keyed.select("k").distinct().count() &&
          twice.filter(col("k").isNotNull).count() == keyed.count() &&
          once.filter(col("k").isNull).count() == xs.count(_._1.isEmpty).toLong
      }
    })
  }

  test("token count equals the split length for single-spaced text") {
    val words = Gen.listOfN(8, Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString))
    check(Prop.forAll(words) { ws =>
      ws.isEmpty || {
        val text = ws.mkString(" ")
        Seq((1L, text)).toDF("doc_id", "text")
          .select(TextAnalysis.tokenCountCol(col("text"))).head().getLong(0) ==
          ws.length.toLong
      }
    })
  }

  test("rolling hash stays inside its modular field for arbitrary text") {
    val texts = Gen.listOfN(5, Gen.listOfN(10,
      Gen.oneOf(Gen.alphaStr.map(_.take(6)), Gen.numStr.map(_.take(4))))
      .map(_.filter(_.nonEmpty).mkString(" ")))
    check(Prop.forAll(texts) { ts =>
      ts.isEmpty || {
        val out = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        TextAnalysis.rollingHash(out).collect().map(_.getLong(1))
          .forall(h => h >= 0 && h < 2147483647L)
      }
    }, n = 5)
  }

  /** Brute-force as-of reference: for one left row, scan every right
    * row and apply the declared contract directly. */
  private def bruteAsOf(dir: String, k: Long, t: Long,
                        right: Seq[(Long, Long, Long)]): Option[Long] = {
    val same = right.filter(_._1 == k)
    val bw = same.filter(_._2 <= t)
      .sortBy(r => (r._2, r._3)).lastOption // latest t, then highest tb
    val fw = same.filter(_._2 >= t)
      .sortBy(r => (-r._2, r._3)).lastOption // earliest t, then highest tb
    val chosen = dir match {
      case "backward" => bw
      case "forward" => fw
      case "nearest" => (bw, fw) match {
        case (Some(b), Some(f)) => if (t - b._2 <= f._2 - t) Some(b) else Some(f)
        case (b, f) => b.orElse(f)
      }
    }
    chosen.map(_._3)
  }

  test("as-of joins match a brute-force reference on random dense-tie data") {
    // few keys + a tiny time domain force heavy key/time collisions —
    // exactly the tie territory where window-frame mistakes hide
    val rows = Gen.listOfN(40, Gen.zip(
      Gen.chooseNum(1L, 4L), Gen.chooseNum(0L, 12L), Gen.chooseNum(1L, 1000L)))
    check(Prop.forAll(Gen.zip(rows, rows)) { case (ls, rs) =>
      ls.isEmpty || rs.isEmpty || {
        val left = ls.zipWithIndex.map { case ((k, t, _), i) => (i.toLong, k, t) }
          .toDF("lid", "k", "t")
        val right = rs.toDF("k", "t", "rid")
        Seq("backward", "forward", "nearest").forall { dir =>
          val rows = (dir match {
            case "backward" => AsOfJoin.backward(left, right, "k", "t", "t",
              Seq("rid"), tieBreak = Some("rid"))
            case "forward" => AsOfJoin.forward(left, right, "k", "t", "t",
              Seq("rid"), tieBreak = Some("rid"))
            case "nearest" => AsOfJoin.nearest(left, right, "k", "t", "t",
              Seq("rid"), tieBreak = Some("rid"))
          }).collect()
          // exactly one output row per left row — a duplicate would
          // otherwise vanish into the map below and pass unseen
          assert(rows.length === ls.length, s"$dir emitted ${rows.length} rows for ${ls.length}")
          val out = rows
            .map(r => r.getLong(0) -> Option(r.getAs[Any]("rid"))
              .map(_.asInstanceOf[Long])).toMap
          ls.zipWithIndex.forall { case ((k, t, _), i) =>
            val expect = bruteAsOf(dir, k, t, rs)
            val got = out(i.toLong)
            if (got != expect)
              println(s"MISMATCH dir=$dir left=($k,$t) got=$got want=$expect")
            got == expect
          }
        }
      }
    }, n = 5)
  }
  test("prefix-filtered containment equals the naive scorer on random corpora") {
    // small vocab forces heavy shingle sharing (the adversarial case
    // for a prefix bound: few rare shingles to filter by) — the two
    // plans must still agree bit for bit at any threshold
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val doc = Gen.chooseNum(2, 12).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.chooseNum(3, 8).flatMap(n => Gen.listOfN(n, doc))
    val thresh = Gen.oneOf(100L, 500L, 900L)
    check(Prop.forAll(corpus, thresh) { (texts, t) =>
      val docs = texts.zipWithIndex.map { case (txt, i) => (i.toLong, txt) }
        .toDF("doc_id", "text")
      val plain = graft.operators.Dedup.containmentPairs(docs, 2, t)
        .collect().map(_.toSeq).toSeq
      Harness.release(spark, blocking = false)
      val pref = graft.operators.Dedup.containmentPairsPrefix(docs, 2, t)
        .collect().map(_.toSeq).toSeq
      Harness.release(spark, blocking = false)
      pref == plain
    }, n = 6)
  }

  // random small event logs: few users/types, clustered timestamps so
  // bursts, ties and cross-type interleavings all occur
  private val eventLog: Gen[List[(Long, Long, Long, String)]] =
    Gen.chooseNum(2, 12).flatMap { n =>
      Gen.listOfN(n, for {
        u <- Gen.chooseNum(1L, 3L)
        t <- Gen.chooseNum(0L, 40L)
        ty <- Gen.oneOf("a", "b")
      } yield (u, t, ty))
    }.map(_.zipWithIndex.map { case ((u, t, ty), i) => (u, i.toLong, t, ty) })

  test("debounce: re-debouncing the kept stream suppresses nothing new") {
    // kept events are ≥gap apart within each (user, type) by
    // construction, so the operator is idempotent on its own output
    check(Prop.forAll(eventLog, Gen.chooseNum(1L, 15L)) { (rows, gap) =>
      val events = rows.toDF("user_id", "event_id", "ts_ns", "event_type")
      val kept = graft.operators.Behavior.debounce(events, gap)
        .filter(col("suppressed") === 0).drop("suppressed")
        .join(events.select("event_id", "ts_ns"), "event_id")
      graft.operators.Behavior.debounce(kept, gap)
        .filter(col("suppressed") === 1).count() == 0L
    }, n = 8)
  }

  test("funnel: a time budget never increases any step count") {
    check(Prop.forAll(eventLog, Gen.chooseNum(1L, 20L)) { (rows, w) =>
      val events = rows.map { case (u, id, t, ty) => (u, id, t, ty) }
        .toDF("user_id", "event_id", "ts_ns", "event_type")
      val steps = Seq("a", "b")
      val unbounded = graft.operators.Behavior.funnel(events, steps)
        .select("n_users").as[Long].collect()
      val bounded = graft.operators.Behavior.funnel(events, steps,
        within = Some(w)).select("n_users").as[Long].collect()
      bounded.zip(unbounded).forall { case (b, u) => b <= u } &&
        bounded.zip(bounded.tail).forall { case (hi, lo) => lo <= hi }
    }, n = 8)
  }

  test("lastTouchAttribution: brute-force champion agreement on random logs") {
    check(Prop.forAll(eventLog, Gen.chooseNum(5L, 30L)) { (rows, tol) =>
      // alternate touch/conversion roles across the two generated types
      val events = rows.map { case (u, id, t, ty) =>
        (u, id, t, if (ty == "a") "touch" else "conv")
      }.toDF("user_id", "event_id", "ts_ns", "event_type")
      val out = graft.operators.Behavior.lastTouchAttribution(
        events, Seq("touch"), "conv", tol)
        .as[(Long, Long, Option[Long], Option[String], Option[Long])]
        .collect()
      val touches = rows.collect { case (u, id, t, "a") => (u, id, t) }
      val convs = rows.collect { case (u, id, t, "b") => (u, id, t) }
      out.forall { case (cid, u, touchId, _, gap) =>
        val (_, _, ct) = convs.find(_._2 == cid).get
        val inWindow = touches.filter(x =>
          x._1 == u && x._3 <= ct && x._3 >= ct - tol)
        if (inWindow.isEmpty) touchId.isEmpty && gap.isEmpty
        else {
          val champion = inWindow.maxBy(x => (x._3, x._2))
          touchId.contains(champion._2) &&
            gap.contains(ct - champion._3) && gap.get >= 0 && gap.get <= tol
        }
      }
    }, n = 8)
  }

  test("weightedMedian: lower-median mass property on random tables") {
    val table: Gen[List[(String, Long, Long)]] =
      Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, for {
        g <- Gen.oneOf("g1", "g2")
        v <- Gen.chooseNum(1L, 6L)
        w <- Gen.chooseNum(1L, 9L)
      } yield (g, v, w)))
    check(Prop.forAll(table) { rows =>
      val out = graft.operators.Profiling.weightedMedian(
        rows.toDF("grp", "v", "w"), "grp", "v", "w")
        .as[(String, Long, Long)].collect()
      out.forall { case (g, med, tot) =>
        val grp = rows.filter(_._1 == g)
        val total = grp.map(_._3).sum
        val massUpTo = grp.filter(_._2 <= med).map(_._3).sum
        val massBelow = grp.filter(_._2 < med).map(_._3).sum
        total == tot && 2 * massUpTo >= total && 2 * massBelow < total &&
          grp.exists(_._2 == med) // the median is an observed value
      }
    }, n = 10)
  }

  test("associationRules: pair support bounded by both singleton supports") {
    check(Prop.forAll(eventLog) { rows =>
      val events = rows.map { case (u, id, t, ty) =>
        (u, java.sql.Timestamp.valueOf(
          java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusDays(t)), ty)
      }.toDF("user_id", "ts", "event_type")
      val out = graft.operators.Behavior.associationRules(events, 0L)
        .as[(String, String, Long, Long, Long, Long)].collect()
      val baskets = rows.map { case (u, _, t, ty) => ((u, t), ty) }
        .groupBy(_._1).values.map(_.map(_._2).toSet).toList
      def supp(i: String) = baskets.count(_.contains(i))
      out.forall { case (a, b, cntAb, suppPm, confPm, _) =>
        val brute = baskets.count(s => s.contains(a) && s.contains(b))
        cntAb == brute && cntAb <= math.min(supp(a), supp(b)) &&
          suppPm == cntAb * 1000 / baskets.size &&
          confPm == cntAb * 1000 / supp(a)
      }
    }, n = 8)
  }

  test("rollingActives: wau dominates dau and the 1-day window equals dau") {
    check(Prop.forAll(eventLog) { rows =>
      val events = rows.map { case (u, id, t, _) =>
        (u, java.sql.Timestamp.valueOf(
          java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusDays(t)))
      }.toDF("user_id", "ts")
      val w7 = graft.operators.Behavior.rollingActives(events, windowDays = 7)
        .as[(Long, Long, Long)].collect()
      val w1 = graft.operators.Behavior.rollingActives(events, windowDays = 1)
        .as[(Long, Long, Long)].collect()
      w7.forall { case (_, dau, wau) => wau >= dau } &&
        w1.forall { case (_, dau, wau) => wau == dau }
    }, n = 8)
  }

  test("paneSlidingCounts ≡ the direct windowed count on random streams") {
    // the pane-decomposition LAW on arbitrary inputs: for every emitted
    // window, summing pane partials must equal re-counting raw rows
    val rows = Gen.listOfN(40, for {
      t <- Gen.oneOf("a", "b")
      us <- Gen.chooseNum(0L, 900L).map(_ * 1000000L)
    } yield (t, us))
    check(Prop.forAll(rows) { xs =>
      xs.isEmpty || {
        val df = xs.toDF("event_type", "__us")
          .withColumn("ts", timestamp_micros(col("__us")))
          .select("event_type", "ts")
        val out = graft.operators.Incremental
          .paneSlidingCounts(df, paneMicros = 60L * 1000000L, windowPanes = 4)
          .as[(String, Long, Long, Long)].collect()
        val panes = xs.map { case (t, us) => (t, us / 60000000L) }
        out.forall { case (t, ws, we, n) =>
          n == panes.count { case (pt, p) => pt == t && p >= ws && p <= we }
        }
      }
    }, n = 8)
  }

  test("intervalOverlap ≡ the exact theta join on random interval sets") {
    val iv = for {
      lo <- Gen.chooseNum(0L, 500L)
      len <- Gen.chooseNum(0L, 120L)
    } yield (lo, lo + len)
    val sets = for {
      as <- Gen.listOfN(12, iv); bs <- Gen.listOfN(6, iv)
    } yield (as, bs)
    check(Prop.forAll(sets) { case (as, bs) =>
      val a = as.zipWithIndex.map { case ((l, h), i) => (i.toLong, l, h) }
        .toDF("a_id", "a_lo", "a_hi")
      val b = bs.zipWithIndex.map { case ((l, h), i) => (i.toLong + 100L, l, h) }
        .toDF("b_id", "b_lo", "b_hi")
      val out = graft.operators.RangeJoin.intervalOverlap(a, b, binWidth = 50L)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val direct = (for {
        ((al, ah), i) <- as.zipWithIndex
        ((bl, bh), j) <- bs.zipWithIndex
        if al <= bh && bl <= ah
      } yield (i.toLong, j.toLong + 100L, math.max(al, bl), math.min(ah, bh),
        math.min(ah, bh) - math.max(al, bl))).toSet
      out == direct
    }, n = 8)
  }

  test("deletionJoin has FULL recall at edit distance ≤ 1 on random strings") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val names = Gen.listOfN(10,
      Gen.chooseNum(1, 5).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))
    check(Prop.forAll(names, names) { (as, bs) =>
      val base = as.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "name")
      val probe = bs.zipWithIndex.map { case (s, i) => (i.toLong + 100L, s) }
        .toDF("id", "name")
      val out = graft.operators.Linkage.deletionJoin(base, probe, "id", "name")
        .as[(Long, Long, Long)].collect().toSet
      val direct = (for {
        (a, i) <- as.zipWithIndex
        (b, j) <- bs.zipWithIndex
        d = lev(a, b) if d <= 1
      } yield (i.toLong, j.toLong + 100L, d.toLong)).toSet
      out == direct
    }, n = 6)
  }

  test("itemCosine equals the brute-force scorer on random basket sets") {
    check(Prop.forAll(
      Gen.listOfN(30, Gen.zip(Gen.choose(0L, 7L), Gen.choose(1L, 6L)))) { rows =>
      val df = rows.toDF("basket", "item")
      val out = graft.operators.Behavior
        .itemCosine(df, "basket", "item", minCount = 1, k = 1000)
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      val facts = rows.distinct
      val n = facts.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val brute = (for {
        a <- n.keys; b <- n.keys if a < b
        ab = facts.map(_._1).distinct.count(bk =>
          facts.contains((bk, a)) && facts.contains((bk, b))).toLong
        if ab >= 1
      } yield (a, b, n(a), n(b), ab,
        math.floor(ab * 1000.0 / math.sqrt((n(a) * n(b)).toDouble) + 0.5).toLong))
        .toSet
      out == brute
    }, n = 6)
  }

  test("hazardCurve conserves the population and at-risk counts decay") {
    check(Prop.forAll(
      Gen.listOfN(25, Gen.zip(Gen.choose(1L, 8L), Gen.choose(0, 9)))) { rows =>
      val df = rows.map { case (u, d) => (u, f"2024-01-${d + 1}%02d 10:00:00") }
        .toDF("user_id", "__s")
        .withColumn("ts", to_timestamp(col("__s")))
      val out = graft.operators.Behavior.hazardCurve(df)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      val users = rows.map(_._1).distinct.size.toLong
      val conserved = out.map(r => r._3 + r._4).sum == users
      val atRiskStartsFull = out.headOption.forall(_._2 == users)
      val decays = out.map(_._2) == out.map(_._2).sorted.reverse
      // at every t, at_risk equals everyone with lifetime >= t
      val suffixLaw = out.forall(r =>
        r._2 == out.filter(_._1 >= r._1).map(x => x._3 + x._4).sum)
      conserved && atRiskStartsFull && decays && suffixLaw
    }, n = 6)
  }

  test("paretoReport: shares close at 1000 and the head is the minimal covering prefix") {
    check(Prop.forAll(
      Gen.listOfN(6, Gen.zip(Gen.identifier.map(_.take(4)), Gen.choose(1L, 50L)))) { raw =>
      val rows0 = raw.distinctBy(_._1)
      val rows = if (rows0.nonEmpty) rows0 else List(("g", 1L))
      locally {
        val df = rows.toDF("grp", "w")
        val out = graft.operators.Profiling.paretoReport(df, "grp", col("w"))
          .as[(String, Long, Long, Long, Int)].collect().toSeq
        val closes = out.last._4 == 1000L
        val headIsPrefix = {
          val flags = out.map(_._5)
          flags == flags.sorted.reverse
        }
        // minimality: the head's mass reaches 80% only at its last member
        val tot = out.map(_._2).sum
        val head = out.filter(_._5 == 1)
        val reaches = head.map(_._2).sum * 1000 >= tot * 800
        val minimal = head.size == 1 ||
          head.init.map(_._2).sum * 1000 < tot * 800
        closes && headIsPrefix && reaches && minimal
      }
    }, n = 8)
  }

  test("compactionPlan conserves bytes, groups are contiguous and target-bounded") {
    check(Prop.forAll(
      Gen.listOfN(12, Gen.zip(Gen.choose(0L, 20L), Gen.choose(1, 40)))) { rows =>
      val df = rows.map { case (k, len) => (k, "x" * len) }.toDF("k", "t")
      val out = graft.core.Layout
        .compactionPlan(df, "k", octet_length(col("t")), zoneWidth = 3L,
          targetBytes = 50L)
        .as[(Long, Long, Long, Long)].collect().toSeq
      val conserved = out.map(_._3).sum == rows.map(_._2.toLong).sum &&
        out.map(_._2).sum == rows.size.toLong
      val contiguous = out.map(_._4) == out.map(_._4).sorted
      // every group except possibly the last reaches the target once its
      // final zone lands, and overflows by at most that one zone
      val byGrp = out.groupBy(_._4).toSeq.sortBy(_._1)
      val bounded = byGrp.forall { case (_, zs) =>
        zs.map(_._3).sum < 50L + zs.map(_._3).max ||
          zs.map(_._3).sum <= 50L
      }
      conserved && contiguous && bounded
    }, n = 8)
  }

  test("emd1d is symmetric in its two groups") {
    check(Prop.forAll(
      Gen.zip(Gen.nonEmptyListOf(Gen.choose(0L, 30L)).map(_.take(10)),
        Gen.nonEmptyListOf(Gen.choose(0L, 30L)).map(_.take(10)))) {
      case (as, bs) =>
        val df = (as.map(("p", _)) ++ bs.map(("q", _))).toDF("g", "v")
        val pq = graft.operators.Profiling.emd1d(df, "g", "v", "p", "q")
          .select("emd_micro").as[Long].head()
        val qp = graft.operators.Profiling.emd1d(df, "g", "v", "q", "p")
          .select("emd_micro").as[Long].head()
        pq == qp
    }, n = 6)
  }

  test("percentileRank: ranks are monotone per group and close at 1000") {
    check(Prop.forAll(
      Gen.listOfN(20, Gen.zip(Gen.oneOf("a", "b"), Gen.choose(0L, 15L)))) { rows =>
      val df = rows.toDF("g", "v")
      val out = graft.operators.Profiling.percentileRank(df, "g", "v")
        .as[(String, Long, Long, Long)].collect().toSeq
      out.groupBy(_._1).forall { case (_, rs) =>
        val ranks = rs.sortBy(_._2).map(_._4)
        ranks == ranks.sorted && ranks.last == 1000L &&
          rs.map(_._3).sum == rows.count(r => r._1 == rs.head._1).toLong
      }
    }, n = 8)
  }

  test("mixtureWaterFill: never over-allocates, caps exactly at avail, exhausts when feasible") {
    // random 3-source availabilities + budgets against the fixed-point
    // invariants: Σ alloc ≤ min(budget, Σ avail); capped ⇔ alloc = avail;
    // uncapped ⇔ alloc < avail; and when budget ≤ Σ avail the shortfall
    // is only truncation residue (< |uncapped| tokens)
    val gen = for {
      a0 <- Gen.chooseNum(0, 40); a1 <- Gen.chooseNum(0, 40)
      a2 <- Gen.chooseNum(0, 40); b <- Gen.chooseNum(0L, 150L)
    } yield (a0, a1, a2, b)
    val weights = Seq("s0" -> 500000L, "s1" -> 300000L, "s2" -> 200000L)
    check(Prop.forAll(gen) { case (a0, a1, a2, b) =>
      val docs = Seq("s0" -> a0, "s1" -> a1, "s2" -> a2).map { case (s, n) =>
        (s, if (n == 0) null else ("x " * n).trim)
      }.toDF("source", "text")
      val out = graft.operators.Sampling.mixtureWaterFill(docs, weights, b)
        .as[(String, Long, Long, Long, Long)].collect().toSeq
      val total = out.map(_._4).sum
      val totalAvail = out.map(_._3).sum
      val flagsOk = out.forall(r =>
        if (r._5 == 1L) r._4 == r._3 else r._4 < r._3)
      val nUncapped = out.count(_._5 == 0L)
      total <= math.min(b, totalAvail) && flagsOk &&
        (b > totalAvail || total > b - math.max(nUncapped, 1))
    }, n = 15)
  }

  test("bucketChecksumPlan: in_sync everywhere iff equal multisets, regardless of order") {
    val gen = Gen.listOfN(12, Gen.zip(Gen.chooseNum(1L, 30L), Gen.alphaStr.map(_.take(3))))
    check(Prop.forAll(gen) { rows =>
      rows.isEmpty || rows.map(_._1).distinct.size != rows.size || {
        val df = rows.toDF("k", "v")
        val same = graft.operators.Snapshot.bucketChecksumPlan(
          df, df.orderBy(col("k").desc).repartition(3), "k", Seq("v"), 4)
          .collect().forall(_.getLong(5) == 1L)
        // perturb one row's value: at least one bucket must flag
        val perturbed = df.withColumn("v",
          when(col("k") === rows.head._1, concat(col("v"), lit("!")))
            .otherwise(col("v")))
        val flagged = graft.operators.Snapshot.bucketChecksumPlan(
          df, perturbed, "k", Seq("v"), 4)
          .collect().exists(_.getLong(5) == 0L)
        same && flagged
      }
    }, n = 10)
  }

  test("BPE two-pass separator replace ≡ token-greedy merge for a ≠ b (the x306 contract)") {
    // the pure reference: scan left-to-right, merge (a, b) adjacencies
    // non-overlapping — exactly what one BPE iteration does to a word
    def greedy(word: String, a: Char, b: Char): List[String] = {
      val out = scala.collection.mutable.ListBuffer[String]()
      var i = 0
      while (i < word.length) {
        if (word(i) == a && i + 1 < word.length && word(i + 1) == b) {
          out += s"$a$b"; i += 2
        } else { out += word(i).toString; i += 1 }
      }
      out.toList
    }
    def viaReplace(word: String, a: Char, b: Char): List[String] = {
      val s = "|" + word.map(_.toString).mkString("|") + "|"
      val pat = s"|$a|$b|"; val rep = s"|$a$b|"
      s.replace(pat, rep).replace(pat, rep)
        .split('|').filter(_.nonEmpty).toList
    }
    val gen = for {
      word <- Gen.listOfN(12, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
      a <- Gen.oneOf('a', 'b', 'c')
      b <- Gen.oneOf('a', 'b', 'c') if a != b
    } yield (word, a, b)
    // pure string logic — no Spark round-trip, so the case count can be
    // high enough to hit every adjacency/chain shape (aba, abab, aab…)
    check(Prop.forAll(gen) { case (word, a, b) =>
      word.length < 2 || viaReplace(word, a, b) == greedy(word, a, b)
    }, n = 300)
  }

  test("quantileState: merge(random split) ≡ one-shot; estimates match a pure reference") {
    import graft.operators.Incremental
    val gen = for {
      vals <- Gen.listOfN(40, Gen.chooseNum(-500L, 500L))
      width <- Gen.oneOf(1L, 7L, 100L)
      p <- Gen.chooseNum(1, 1000)
    } yield (vals, width, p)
    check(Prop.forAll(gen) { case (vals, width, p) =>
      vals.isEmpty || {
        val df = vals.toDF("v")
        val oneShot = Incremental.quantileState(df, col("v"), width)
        val merged = Incremental.mergeQuantile(Seq(
          Incremental.quantileState(df.filter(col("v") % 3 === 0), col("v"), width),
          Incremental.quantileState(df.filter(col("v") % 3 =!= 0), col("v"), width)))
        val a = oneShot.orderBy("bin").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        val b = merged.orderBy("bin").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        // pure reference: floor-div bins, cumulative rank pick
        val bins = vals.groupBy(v => Math.floorDiv(v, width)).view
          .mapValues(_.size.toLong).toMap
        val n = vals.size.toLong
        val rank = math.max(1L, (p * n + 999L) / 1000L)
        val expectBin = bins.keys.toSeq.sorted
          .scanLeft((Long.MinValue, 0L)) { case ((_, c), bin) => (bin, c + bins(bin)) }
          .drop(1).find(_._2 >= rank).get._1
        val est = Incremental.quantileEstimate(merged, width, Seq(p))
          .head()
        a == b && a == bins.toSeq.sorted &&
          est.getLong(1) == expectBin && est.getLong(2) == expectBin * width
      }
    }, n = 10)
  }
}

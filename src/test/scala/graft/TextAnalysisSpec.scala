package graft

import org.apache.spark.sql.Row
import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("token count: whitespace formula") {
    val out = TextAnalysis.tokenCount(docs(1L -> "a b c", 2L -> "one", 3L -> "x  y"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 3L)
    assert(out(2L) === 1L)
    assert(out(3L) === 3L) // double space counts the empty token, same as the SQL formula
  }

  test("bpe-ish token count splits punctuation") {
    val df = docs(1L -> "hello, world!  it's 42").select(
      TextAnalysis.bpeishTokenCountCol($"text").as("n"))
    // hello , world ! it ' s 42  (spaces dropped? spaces are non-alnum → kept as tokens)
    val n = df.head().getLong(0)
    assert(n > 5)
  }

  test("quality score fields are exact integers") {
    val out = TextAnalysis.qualityScore(
      docs(1L -> "the cat in the hat").toDF("doc_id", "text")).head()
    assert(out.getAs[Long]("n_chars_m") === 18L)
    assert(out.getAs[Long]("n_tokens") === 5L)
    // nospace=14 chars → 14*1000/5 = 2800
    assert(out.getAs[Long]("awl_permille") === 2800L)
    assert(out.getAs[Long]("the_cnt") === 2L)
  }

  test("langid argmax with deterministic tie-break") {
    val out = TextAnalysis.languageId(
      docs(1L -> "data data table row", 2L -> "table table row", 3L -> "row"),
      Seq("en" -> Seq("data"), "fr" -> Seq("table"), "de" -> Seq("row")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "en", 2L -> "fr", 3L -> "de"))
  }

  test("rolling hash is stable and order-sensitive") {
    val a = TextAnalysis.rollingHash(docs(1L -> "a b c")).head().getLong(1)
    val b = TextAnalysis.rollingHash(docs(1L -> "a b c")).head().getLong(1)
    val c = TextAnalysis.rollingHash(docs(1L -> "c b a")).head().getLong(1)
    assert(a === b)
    assert(a !== c)
    assert(a >= 0 && a < 2147483647L)
  }

  test("media meta: byte length and sha256 hex") {
    val out = TextAnalysis.mediaMeta(docs(1L -> "abc")).head()
    assert(out.getAs[Long]("n_bytes") === 3L)
    assert(out.getAs[String]("sha") ===
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
  }

  test("heavy hitters: exact counts above the floor, minor tokens excluded") {
    val corpus = docs(
      1L -> "a a a b b c",
      2L -> "a b d",
      3L -> "a a")
    val out = TextAnalysis.heavyHitters(corpus, minCount = 3L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("a" -> 6L, "b" -> 3L)) // c:1, d:1 below floor
  }

  test("repetition score: unique text 0, degenerate loop near 1000, short docs excluded") {
    val out = TextAnalysis.repetitionScore(docs(
      1L -> "a b c d e f",          // 4 distinct 3-grams of 4 → 0
      2L -> "x y x y x y x y x y",  // 8 windows, only 2 distinct → 750
      3L -> "one two"               // shorter than k → excluded
    ), k = 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 0L, 2L -> 750L))
  }

  test("pack sequences: per-shard running offsets, div/mod cut, straddling allowed") {
    // one shard keeps the arithmetic readable: 3 docs of 3 tokens with
    // budget 4 — doc offsets 0,3,6 → seqs 0,0,1; offsets-in-seq 0,3,2
    val out = TextAnalysis.packSequences(docs(
      1L -> "a b c", 2L -> "d e f", 3L -> "g h i"),
      budgetTokens = 4L, numShards = 1)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) === ((3L, 0L, 0L)))
    assert(out(2L) === ((3L, 0L, 3L))) // starts in seq 0, straddles into 1
    assert(out(3L) === ((3L, 1L, 2L)))
    // sharded: offsets restart per shard and every doc appears once
    val sharded = TextAnalysis.packSequences(docs(
      (1L to 20L).map(i => i -> "t o k e n s"): _*), budgetTokens = 8L, numShards = 4)
      .collect()
    assert(sharded.length === 20)
    val perShard = sharded.groupBy(_.getLong(2))
    // within a shard, offsets are consecutive multiples of 6 in doc order
    perShard.values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(0))
      sorted.zipWithIndex.foreach { case (r, i) =>
        val startTok = r.getLong(3) * 8L + r.getLong(4)
        assert(startTok === 6L * i)
      }
    }
  }

  test("chunking: overlapped windows cover the doc, short docs keep one partial chunk") {
    val out = TextAnalysis.chunkTokens(docs(
      1L -> "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10",  // 10 toks, chunk 4, ov 1 → starts 0,3,6
      2L -> "a b"                               // shorter than one chunk
    ), chunkTokens = 4, overlapTokens = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(3))).toMap
    assert(out((1L, 0L)) === ((4L, "t1 t2 t3 t4")))
    assert(out((1L, 1L)) === ((4L, "t4 t5 t6 t7"))) // overlap of 1 at each seam
    assert(out((1L, 2L)) === ((4L, "t7 t8 t9 t10")))
    assert(out((2L, 0L)) === ((2L, "a b")))         // single partial chunk
    assert(out.size === 4)
    // zero overlap: disjoint cover, last chunk partial
    val nz = TextAnalysis.chunkTokens(docs(1L -> "a b c d e"), 2, 0)
      .collect().map(r => r.getString(3)).toSeq
    assert(nz === Seq("a b", "c d", "e"))
  }

  test("novelty: duplicated docs score 0, fresh docs 1000, mixed in between") {
    val out = TextAnalysis.noveltyScore(docs(
      1L -> "alpha beta gamma delta",      // all 3-grams shared with doc 2 → 0
      2L -> "alpha beta gamma delta",
      3L -> "wholly original words here",  // df 1 everywhere → 1000
      4L -> "alpha beta gamma epsilon zeta eta" // 1 shared of 4 → 750
    ), k = 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 0L && out(2L) === 0L)
    assert(out(3L) === 1000L)
    assert(out(4L) === 750L)
  }

  test("quality gate: reason bits compose, short docs score rep 0, keep iff clean") {
    val out = TextAnalysis.qualityGate(docs(
      // 40 tokens of 4-letter words → awl 4000... compute: awl = chars_nospace*1000/ntok
      1L -> Seq.fill(40)("abcd").mkString(" "),        // awl 4000 < 4200 → bit 4
      2L -> (Seq.fill(20)("abcde") ++ Seq.fill(20)("abcd")).mkString(" "), // awl 4500, 40 toks, rep? uniform repeat → high rep → bit 2
      3L -> "tiny doc",                                 // 2 tokens → bit 1 (+rep 0, awl may add 4)
      4L -> (1 to 40).map(i => "abcd" + ('a' + i % 26).toChar).mkString(" ") // 40 distinct 5-char words: awl 5000 > 4800 → bit 4
    ), minTokens = 32, maxRepPermille = 10, minAwlPermille = 4200, maxAwlPermille = 4800)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // doc 1: all "abcd" → rep ~ high too; just assert bits contain 4 and keep=0
    assert((out(1L)._3 & 4L) === 4L && out(1L)._4 === 0L)
    assert((out(2L)._3 & 2L) === 2L)                   // repetitive
    assert((out(3L)._3 & 1L) === 1L && out(3L)._2 === 0L) // short; rep defaults 0
    assert((out(4L)._3 & 4L) === 4L)                   // awl too high
  }

  test("contamination: shared 3-shingles across corpus/benchmark, bar applied") {
    val corpus = docs(
      100L -> "alpha beta gamma delta epsilon zeta",  // contains bench phrase
      101L -> "totally unrelated words here now")
    val bench = docs(1L -> "beta gamma delta epsilon")
    val out = graft.operators.Dedup.contamination(corpus, bench, shingleK = 3, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // doc 100 shares the 2 3-shingles of the bench phrase; doc 101 none
    assert(out === Map((100L, 1L) -> 2L))
  }

  test("count-min sketch estimates dominate exact counts within eps*N (over-count only)") {
    val corpus = docs((1L to 50L).map(i =>
      i -> Seq.fill((i % 7 + 1).toInt)(s"tok${i % 11}").mkString(" ")): _*)
    val toks = corpus.select(org.apache.spark.sql.functions.explode(
      org.apache.spark.sql.functions.split($"text", " ")).as("tok"))
    val n = toks.count()
    val eps = 0.01
    val sketch = toks.stat.countMinSketch("tok", eps = eps, confidence = 0.99, seed = 42)
    val exact = toks.groupBy("tok").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (tok, cnt) =>
      val est = sketch.estimateCount(tok)
      assert(est >= cnt, s"CMS under-counted $tok: $est < $cnt")
      assert(est <= cnt + (eps * n).ceil.toLong,
        s"CMS over-count for $tok beyond eps*N: $est vs $cnt (N=$n)")
    }
  }

  test("heavyHittersCms: no false negatives vs exact; estimates within eps*N") {
    val corpus = docs((1L to 60L).map(i =>
      i -> Seq.fill((i % 9 + 1).toInt)(s"tok${i % 13}").mkString(" ")): _*)
    val n = corpus.select(org.apache.spark.sql.functions.explode(
      org.apache.spark.sql.functions.split($"text", " "))).count()
    val eps = 0.01
    val minCount = 20L
    val exact = TextAnalysis.heavyHitters(corpus, minCount)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactAll = TextAnalysis.heavyHitters(corpus, 1L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = TextAnalysis.heavyHittersCms(corpus, minCount, eps = eps)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // CMS is one-sided: estimate >= exact, so every truly-heavy token
    // MUST appear (the sketch cannot lose one)
    exact.keySet.foreach(tok => assert(est.contains(tok),
      s"sketch heavy hitters lost truly-heavy token $tok"))
    // and every returned estimate dominates its exact count within eps*N
    est.foreach { case (tok, e) =>
      val cnt = exactAll(tok)
      assert(e >= cnt, s"under-count for $tok: $e < $cnt")
      assert(e <= cnt + (eps * n).ceil.toLong,
        s"over-count for $tok beyond eps*N: $e vs $cnt (N=$n)")
      // any false positive is within eps*N below the bar
      assert(cnt >= minCount - (eps * n).ceil.toLong,
        s"$tok returned but exact count $cnt is further than eps*N below minCount")
    }
  }

  test("unigramSurprisal: rare tokens raise the mean NLL; uniform doc scores ln(V)") {
    // corpus: 'a' x9, 'b' x1 -> p(a)=0.9, p(b)=0.1
    val out = TextAnalysis.unigramSurprisal(docs(
      1L -> "a a a a a a a a a", 2L -> "b"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L)._1 === 9L && out(2L)._1 === 1L)
    assert(out(1L)._2 === math.floor(-math.log(0.9) * 1000 + 0.5).toLong)
    assert(out(2L)._2 === math.floor(-math.log(0.1) * 1000 + 0.5).toLong)
    assert(out(2L)._2 > out(1L)._2)
  }

  test("sourceEntropy: single-source lang is 0; uniform split is ln(k)") {
    val d = Seq(
      (1L, "en", "s1"), (2L, "en", "s2"), (3L, "en", "s3"), (4L, "en", "s4"),
      (5L, "fr", "s1"), (6L, "fr", "s1"))
      .toDF("doc_id", "lang", "source")
    val out = TextAnalysis.sourceEntropy(d)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("fr") === (2L, 0L))
    assert(out("en") === (4L, math.floor(math.log(4.0) * 1000 + 0.5).toLong))
  }

  test("vocabEncode: frequency-ranked ids, OOV -> 0, order by position") {
    val d = docs(
      1L -> "the cat sat",
      2L -> "the the dog",
      3L -> "zebra the cat")
    // counts: the=4, cat=2, sat=1, dog=1, zebra=1 -> rank: the=1, cat=2,
    // then count-1 ties by token asc: dog=3, sat=4; V=4 cuts zebra -> OOV
    val out = TextAnalysis.vocabEncode(d, vocabSize = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) === (("1,2,4", 3L, 0L)))
    assert(out(2L) === (("1,1,3", 3L, 0L)))
    assert(out(3L) === (("0,1,2", 3L, 1L)))
  }

  test("vocabEncode: vocabulary cut boundary is deterministic (count desc, token asc)") {
    val d = docs(1L -> "b a b a c")
    // counts: a=2, b=2, c=1; V=2 keeps a(1), b(2); c -> OOV
    val out = TextAnalysis.vocabEncode(d, vocabSize = 2).collect().head
    assert(out.getString(1) === "2,1,2,1,0")
    assert(out.getLong(3) === 1L)
  }
  test("length buckets route to the smallest fitting rung; boundary inclusive") {
    val docs = Seq(
      1L -> (1 to 10).map(i => s"a$i").mkString(" "),  // 10 tokens -> 16
      2L -> (1 to 16).map(i => s"b$i").mkString(" "),  // 16 -> 16 (boundary)
      3L -> (1 to 17).map(i => s"c$i").mkString(" ")   // 17 -> 32
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lengthBuckets(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // bucket 16: 2 docs, 26 tokens, capacity 32 -> waste 1000 - 812 = 188
    assert(out(16L) === ((2L, 26L, 188L)))
    // bucket 32: 1 doc, 17 tokens, capacity 32 -> waste 1000 - 531 = 469
    assert(out(32L) === ((1L, 17L, 469L)))
    assert(out.size === 2)
  }

  test("length buckets clamp overlong docs into the top rung, waste goes negative") {
    val docs = Seq(1L -> (1 to 50).map(i => s"x$i").mkString(" ")).toDF("doc_id", "text")
    val out = TextAnalysis.lengthBuckets(docs, ladder = Seq(16L, 32L)).collect()
    assert(out.length === 1 && out.head.getLong(0) === 32L)
    // 50 tokens in a 32-capacity rung: waste = 1000 - 50000 div 32 = -562
    assert(out.head.getLong(3) === -562L)
    intercept[IllegalArgumentException] {
      TextAnalysis.lengthBuckets(docs, ladder = Seq(32L, 16L))
    }
  }
  test("redact replaces every match, counts pre-redaction, audits per rule") {
    val docs = Seq(
      1L -> "write a@b.io or c@d.org today",
      2L -> "see https://x.io/a and http://y.io b@c.de",
      3L -> "nothing to scrub here"
    ).toDF("doc_id", "text")
    val out = TextAnalysis.redact(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) === (("write <EMAIL> or <EMAIL> today", 2L, 0L)))
    assert(out(2L) === (("see <URL> and <URL> <EMAIL>", 1L, 2L)))
    assert(out(3L) === (("nothing to scrub here", 0L, 0L)))
    intercept[IllegalArgumentException] { TextAnalysis.redact(docs, Nil) }
  }
  test("bigram surprisal: closed-form check, transitions not vocabulary") {
    // corpus: "a b a b", "a a", "x". c1: a=4, b=2, x=1; V=3.
    // bigrams doc1: ab, ba, ab -> c2(ab)=2, c2(ba)=1; doc2: aa -> 1
    // doc1 NLL = (ln(7/3) + ln(5/2) + ln(7/3)) / 3 = 0.8700 -> 870
    // doc2 NLL = ln((4+3)/(1+1)) = ln 3.5 = 1.2528 -> 1253
    val docs = Seq(1L -> "a b a b", 2L -> "a a", 3L -> "x").toDF("doc_id", "text")
    val out = TextAnalysis.bigramSurprisal(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((3L, 870L)))
    assert(out(2L) === ((1L, 1253L)))
    assert(!out.contains(3L), "single-token docs have no bigram evidence")
  }

  test("fertilityStats: exact per-group token/char totals and ratio") {
    val docs = Seq(
      (1L, "en", "ab cd"),        // 2 tokens, 5 chars
      (2L, "en", "a b c"),        // 3 tokens, 5 chars
      (3L, "zh", "abcdefgh ij"),  // 2 tokens, 11 chars
      (4L, null.asInstanceOf[String], "zz")).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.fertilityStats(docs, "lang")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out === Map(
      "en" -> ((2L, 5L, 10L, 2000L)),   // 10 chars / 5 tokens = 2000 per kilotoken
      "zh" -> ((1L, 2L, 11L, 5500L))))  // 11 / 2 = 5500
  }

  test("heavyHittersByGroup: per-group top-m with deterministic tie-break, null groups drop") {
    val docs = Seq(
      (1L, "en", "a a a b b c"),
      (2L, "en", "b c"),
      (3L, "fr", "x y y"),
      (4L, null.asInstanceOf[String], "z z z z")).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.heavyHittersByGroup(docs, "lang", m = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // en counts: a=3, b=3, c=2 -> tie a/b broken by token text
    assert(out.toSeq === Seq(
      ("en", "a", 3L, 1L), ("en", "b", 3L, 2L),
      ("fr", "y", 2L, 1L), ("fr", "x", 1L, 2L)))
    intercept[IllegalArgumentException](TextAnalysis.heavyHittersByGroup(docs, "lang", 0))
  }

  test("dsirWeights: target-like docs outrank target-unlike docs") {
    val liked = "the quick brown fox jumps over the lazy dog"
    val raw = Seq(1L -> liked,
      2L -> "zzz yyy xxx www vvv uuu ttt sss rrr",
      3L -> "solo").toDF("doc_id", "text")
    val target = Seq(10L -> liked).toDF("doc_id", "text")
    val out = TextAnalysis.dsirWeights(raw, target).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 9 tokens -> 8 bigram occurrences each; single-token doc excluded
    assert(out(1L)._1 === 8L && out(2L)._1 === 8L)
    assert(!out.contains(3L))
    // doc 1's bigrams all carry target mass, doc 2's carry none: the
    // log-likelihood ratio must separate them with a positive gap
    assert(out(1L)._2 > out(2L)._2)
    assert(out(1L)._2 > 0L && out(2L)._2 < 0L)
  }

  test("dsirWeights: deterministic and partition-invariant") {
    val raw = (1L to 40L).map(i => i -> s"tok${i % 7} tok${i % 5} tok${i % 3} tok${i % 11}")
      .toDF("doc_id", "text")
    val target = raw.filter($"doc_id" % 2 === 0)
    val a = TextAnalysis.dsirWeights(raw, target).collect().toSeq
    val b = TextAnalysis.dsirWeights(raw.repartition(13), target.repartition(7))
      .collect().toSeq
    assert(a === b)
    intercept[IllegalArgumentException](TextAnalysis.dsirWeights(raw, target, gramK = 0))
    intercept[IllegalArgumentException](TextAnalysis.dsirWeights(raw, target, buckets = 1))
  }

  test("vocabCoverage: exact cumulative shares over a known census") {
    // tokens: a x6, b x3, c x1 → total 10
    val docs = Seq((1L, "a a a b"), (2L, "a a a b b c")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabCoverage(docs, m = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // top-2 cut, but shares stay corpus-true (denominator counts c too)
    assert(out.toSeq === Seq((1L, "a", 6L, 600L), (2L, "b", 3L, 900L)))
    intercept[IllegalArgumentException](TextAnalysis.vocabCoverage(docs, m = 0))
  }
  test("featureHash: local md5 replay, multiplicity, and zero-filled dims") {
    val docs = Seq((1L, "alpha alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    val out = TextAnalysis.featureHash(docs, dim = 16).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def draw(tok: String): (Int, Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(
        md.take(8).map("%02x".format(_)).mkString.take(15), 16) % 32
      ((h % 16).toInt, if (h >= 16) 1L else -1L)
    }
    def local(toks: Seq[String]): String = {
      val v = new Array[Long](16)
      toks.foreach { t => val (i, s) = draw(t); v(i) += s }
      v.mkString(",")
    }
    assert(out(1L) === local(Seq("alpha", "alpha", "beta")))
    assert(out(2L) === local(Seq("gamma")))
    // every vector has exactly dim entries
    assert(out.values.forall(_.split(",", -1).length === 16))
    // multiplicity: "alpha alpha" contributes 2 at alpha's bucket
    val (ia, sa) = draw("alpha")
    assert(out(1L).split(",")(ia).toLong % 2 === 0L || draw("beta")._1 === ia)
  }

  test("skipgramCounts: directional window pairs, hand-enumerated") {
    // "a b c a", window 2: pos1 a→{b,c}, pos2 b→{c,a}, pos3 c→{a}
    val out = TextAnalysis.skipgramCounts(docs(1L -> "a b c a"),
        window = 2, minCount = 1L)
      .as[(String, String, Long)].collect().toSeq
    assert(out === Seq(("a", "b", 1L), ("a", "c", 1L), ("b", "a", 1L),
      ("b", "c", 1L), ("c", "a", 1L)))
  }

  test("skipgramCounts: minCount prunes after counting; window 1 = bigrams") {
    val out = TextAnalysis.skipgramCounts(
      docs(1L -> "x x x", 2L -> "x y"), window = 1, minCount = 2L)
      .as[(String, String, Long)].collect().toSeq
    // (x,x) appears twice in doc 1; (x,y) once → pruned
    assert(out === Seq(("x", "x", 2L)))
  }

  test("skipgramCounts: pairs never cross document boundaries") {
    val out = TextAnalysis.skipgramCounts(
      docs(1L -> "a b", 2L -> "c d"), window = 3, minCount = 1L)
      .as[(String, String, Long)].collect().toSeq
    assert(out === Seq(("a", "b", 1L), ("c", "d", 1L)))
  }

  test("collocations: PMI from hand-counted pairs, same double tree") {
    // "x y x y", window 1: pairs (x,y)=2, (y,x)=1; N=4 tokens, P=3 pairs
    val out = TextAnalysis.collocations(docs(1L -> "x y x y"),
        window = 1, minCount = 1L, topK = 10)
      .as[(String, String, Long, Long)].collect().toSeq
    def pmi(nab: Long, na: Long, nb: Long): Long =
      math.floor(math.log(nab.toDouble * 4 * 4 / (3.0d * na * nb))
        * 1e6 + 0.5).toLong
    assert(out === Seq(
      ("x", "y", 2L, pmi(2, 2, 2)),
      ("y", "x", 1L, pmi(1, 2, 2))))
    // the higher-count pair has the higher PMI here (same marginals)
    assert(out.head._4 > out(1)._4)
  }

  test("collocations: minCount is a noise floor, topK cuts ranked output") {
    val out = TextAnalysis.collocations(
      docs(1L -> "x y x y", 2L -> "q r"), window = 1, minCount = 2L,
      topK = 10)
      .as[(String, String, Long, Long)].collect().toSeq
    // (q,r) and (y,x) have count 1 → filtered; only (x,y) survives
    assert(out.map(r => (r._1, r._2)) === Seq(("x", "y")))
    intercept[IllegalArgumentException] {
      TextAnalysis.collocations(docs(1L -> "a"), window = 1, minCount = 1L,
        topK = 0)
    }
  }

  test("zipfFit: a perfect C/r corpus fits slope −1 exactly") {
    // freqs 6,3,2 = 6/r for ranks 1..3 → ln n = ln 6 − ln r: slope −1,
    // intercept ln 6 = 1.79176 → milli-floor 1792
    val text = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c"))
      .mkString(" ")
    val out = TextAnalysis.zipfFit(docs(1L -> text), topV = 100)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((3L, -1000L, 1792L)))
  }

  test("zipfFit: topV cuts by (n DESC, tok) before the fit") {
    // four tokens, topV=2 keeps the two most frequent only → v=2
    val text = (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++ Seq("c", "d"))
      .mkString(" ")
    val out = TextAnalysis.zipfFit(docs(1L -> text), topV = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.head._1 === 2L)
    // ranks (1,2) with freqs (8,4): slope = (ln4−ln8)/(ln2−ln1) = −1
    assert(out.head._2 === -1000L)
    intercept[IllegalArgumentException] {
      TextAnalysis.zipfFit(docs(1L -> "a"), topV = 1)
    }
  }

  test("keywordsTopK: tf/df rarity ranking, stopwords self-suppress, integer scores") {
    val d = docs(
      1L -> "apple apple banana common",
      2L -> "banana cherry common",
      3L -> "common common cherry")
    // df: apple 1, banana 2, cherry 2, common 3
    val out = TextAnalysis.keywordsTopK(d, k = 3)
      .as[(Long, Long, String, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, 1L, "apple", 2L, 1L, 2000000L),   // rare + repeated wins
      (1L, 2L, "banana", 1L, 2L, 500000L),
      (1L, 3L, "common", 1L, 3L, 333333L),   // the "stopword" sinks
      (2L, 1L, "banana", 1L, 2L, 500000L),   // score tie → token order
      (2L, 2L, "cherry", 1L, 2L, 500000L),
      (2L, 3L, "common", 1L, 3L, 333333L),
      (3L, 1L, "common", 2L, 3L, 666666L),   // tf can outrank rarity
      (3L, 2L, "cherry", 1L, 2L, 500000L)))  // short docs emit < k rows
    intercept[IllegalArgumentException] { TextAnalysis.keywordsTopK(d, k = 0) }
  }

  test("winnowingFingerprints matches a literal Scala replay of the algorithm") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq((1L, text), (2L, text), (3L, "too short"))
      .toDF("doc_id", "text")
    val (k, w) = (3, 4)
    // literal reference implementation: md5-first-10-hex gram hashes,
    // packed (hash·2^20 + pos) argmin per window, distinct selections
    val toks = text.split(" ")
    val md = java.security.MessageDigest.getInstance("MD5")
    def h40(s: String): Long = java.lang.Long.parseLong(
      md.digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 10), 16)
    val keys = toks.sliding(k).toSeq.zipWithIndex
      .map { case (g, p) => h40(g.mkString(" ")) * 1048576L + p }
    val nGrams = keys.size
    val sel = (0 to nGrams - w).map(p => keys.slice(p, p + w).min).distinct
    val expected = (1L, nGrams.toLong, sel.size.toLong,
      sel.size.toLong * 1000 / nGrams, sel.map(_ / 1048576L).sum)
    val out = TextAnalysis.winnowingFingerprints(docs, k, w)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // identical docs fingerprint identically; the too-short doc (no
    // full window) is excluded entirely
    assert(out === Seq(expected, expected.copy(_1 = 2L)))
  }

  test("winnowing density: every w-th window must select a new fingerprint") {
    // 40 distinct tokens → 38 grams, 35 windows at w=4: a selected
    // minimum leaves the frame after w slides, so n_fps ≥ ⌈35/4⌉ = 9
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val out = TextAnalysis.winnowingFingerprints(
      Seq((1L, text)).toDF("doc_id", "text"), 3, 4)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(out._2 === 38L)
    assert(out._3 >= 9L && out._3 <= 35L)
    intercept[IllegalArgumentException] {
      TextAnalysis.winnowingFingerprints(Seq((1L, text)).toDF("doc_id",
        "text"), 0, 4)
    }
  }

  test("heapsGrowth: hand-computed checkpoint curve + locally replayed fit") {
    // ids 0, 5, 10 → ladder d_max = 1..10 (max id 10, 10 steps):
    //   k 1..4  (d_max < 5):  doc 0 only   → cum 2, vocab 2 {a, b}
    //   k 5..9  (d_max < 10): docs 0, 5    → cum 4, vocab 3 {a, b, c}
    //   k 10:                 all three    → cum 7, vocab 4 {a, b, c, d}
    val d = docs(0L -> "a b", 5L -> "a c", 10L -> "d d d")
    val out = TextAnalysis.heapsGrowth(d, steps = 10)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val curve = out.map { case (k, dm, ct, v, _) => (k, dm, ct, v) }
    assert(curve === (1L to 10L).map { k =>
      if (k <= 4) (k, k, 2L, 2L)
      else if (k <= 9) (k, k, 4L, 3L)
      else (k, k, 7L, 4L)
    })
    // β from the same 10 (ln cum, ln vocab) points, replayed locally
    val pts = curve.map { case (_, _, ct, v) =>
      (math.log(ct.toDouble), math.log(v.toDouble)) }
    val n = pts.size.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(out.map(_._5).distinct === Seq(math.floor(beta * 1000 + 0.5).toLong))
  }

  test("vocabDrift: exact ppm rates, zero-coalesced sides, |delta| ranking") {
    // side A: "x x y" (3 tokens) → x 666666 ppm, y 333333 ppm
    // side B: "x z z z" (4 tokens) → x 250000 ppm, z 750000 ppm
    // deltas: z +750000, x −416666, y −333333 → that |delta| order
    val a = docs(1L -> "x x y")
    val b = docs(2L -> "x z z z")
    val out = TextAnalysis.vocabDrift(a, b, topK = 10)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      ("z", 0L, 750000L, 750000L),
      ("x", 666666L, 250000L, -416666L),
      ("y", 333333L, 0L, -333333L)))
  }

  test("vocabDrift: topK cuts after the (|delta| desc, tok) total order") {
    val a = docs(1L -> "p q")
    val b = docs(2L -> "p r")
    // rates: p (500000, 500000) Δ0; q (500000, 0) Δ−500000; r Δ+500000
    // |Δ| ties between q and r → tok order: q before r
    val out = TextAnalysis.vocabDrift(a, b, topK = 2)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out === Seq(("q", 500000L, 0L, -500000L),
      ("r", 0L, 500000L, 500000L)))
  }

  test("boilerplatePrefixReport: shared doc-initial prefixes, share of full-prefix docs") {
    val d = docs(
      1L -> "terms of service apply",
      2L -> "terms of the trade",
      3L -> "hello world foo",
      4L -> "terms of use here",
      5L -> "hi") // shorter than the prefix window: out of the base
    val out = TextAnalysis.boilerplatePrefixReport(d, prefixTokens = 2,
      minDocs = 2).as[(String, Long, Long)].collect().toSeq
    // 4 docs carry a full 2-token prefix; "terms of" opens 3 of them
    // → share 3·10⁶ div 4 = 750000; "hello world" (×1) misses the bar
    assert(out === Seq(("terms of", 3L, 750000L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.boilerplatePrefixReport(d, minDocs = 1)
    }
  }

  test("sourceNoveltyReport: first-source attribution over the alphabetical walk") {
    val docs = Seq(
      ("A", "a b"),  // contributes a, b — both new
      ("B", "b c"),  // only c is new
      ("C", "a b"))  // nothing new: fully contained upstream
      .toDF("source", "text")
    val out = TextAnalysis.sourceNoveltyReport(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      ("A", 2L, 2L, 2L, 1000000L),
      ("B", 2L, 1L, 3L, 500000L),
      ("C", 2L, 0L, 3L, 0L)))
  }

  test("sourceVocabOverlap: exact pairwise Jaccard, non-sharing pairs absent") {
    val docs = Seq(
      ("A", "a b c"),      // vocab {a,b,c}
      ("B", "b c d"),      // vocab {b,c,d} — shares {b,c} with A
      ("C", "x y"),        // disjoint from both
      ("A", "a a b"))      // dup tokens collapse: A's vocab stays 3
      .toDF("source", "text")
    val out = TextAnalysis.sourceVocabOverlap(docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    Harness.release(spark, blocking = false)
    // |A∩B| = 2, |A∪B| = 4 → 500‰; C pairs with nobody (no shared row)
    assert(out.toSeq === Seq(("A", "B", 3L, 3L, 2L, 500L)))
  }

  test("piiDensityReport: counts per source, null text = zero chars, rates trunc") {
    val docs = Seq(
      (1L, "S", "reach me at a@b.com or c@d.org today"),       // 2 emails
      (2L, "S", "see https://x.test/page for details"),        // 1 url
      (3L, "T", null.asInstanceOf[String]),                    // 0 chars
      (4L, "T", "clean text"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.piiDensityReport(docs).collect()
    val s = out.find(_.getString(0) == "S").get
    val t = out.find(_.getString(0) == "T").get
    assert(s.getLong(1) === 2L && s.getLong(3) === 2L && s.getLong(4) === 1L)
    // rate = hits·10⁶ div chars on the ORIGINAL text lengths
    assert(s.getLong(5) === 2000000L / s.getLong(2))
    assert(t.getLong(1) === 2L && t.getLong(2) === 10L &&
      t.getLong(3) === 0L && t.getLong(4) === 0L && t.getLong(5) === 0L)
    // an all-null-text source reports NULL rates, not a crash
    val z = TextAnalysis.piiDensityReport(
      Seq((9L, "Z", null.asInstanceOf[String])).toDF("doc_id", "source", "text"))
      .collect().head
    assert(z.getLong(2) === 0L && z.isNullAt(5) && z.isNullAt(6))
  }

  test("sourceKlReport: exact micronat KL, disjoint vocabulary reads largest") {
    // corpus: x·4, y·2, q/r/s·1 (N = 9). KL(A‖corpus) = ln 1.5 exactly
    // (both its tokens are 1.5× over-represented); C's disjoint vocab
    // reads ln(9/3) = ln 3. All integer micronat arithmetic:
    // lnµ2 = 693147, lnµ3 = 1098612, lnµ4 = 1386294, lnµ9 = 2197225
    val docs = Seq(
      ("A", "x x y"), ("B", "x x y"),
      ("C", "q r s"))
      .toDF("source", "text")
    val byId = TextAnalysis.sourceKlReport(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    Harness.release(spark, blocking = false)
    // A: x term 2·(693147−1098612−1386294+2197225) = 810932,
    //    y term (0−1098612−693147+2197225) = 405466 → 1216398 div 3
    assert(byId("A") === ((3L, 2L, 405466L)))
    assert(byId("B") === byId("A"))
    // C: 3 · (2197225 − 1098612) div 3 = 1098613
    assert(byId("C") === ((3L, 3L, 1098613L)))
  }

  test("gateAttrition: per-source reason counts, multi-reason docs count in each") {
    // clean doc: 40 DISTINCT tokens alternating 4/5 chars — awl 4500
    // in band, zero 3-gram repetition, length over the bar
    val clean = (1 to 40).map(i =>
      if (i % 2 == 0) f"tok$i%02d" else f"tk$i%02d").mkString(" ")
    val docs = Seq(
      (1L, "S", clean),
      (2L, "S", "abcd efghi"),  // 2 tokens: short only (awl 4500 in band)
      (3L, "T", "a b c")        // short AND awl 1000 out of band
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.gateAttrition(docs)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      ("S", 2L, 1L, 1L, 0L, 0L, 500000L),
      ("T", 1L, 0L, 1L, 0L, 1L, 0L)))     // doc 3 fails two reasons, counted in both
  }

  test("hapaxShareReport: corpus-frequency-1 share per source, repeats never hapax") {
    val docs = Seq(
      ("A", "zz qq zz"),  // A vocab {zz, qq}: zz repeats (corpus 3×), qq hapax
      ("B", "zz ww"),     // B vocab {zz, ww}: ww hapax, zz not (A has it too)
      ("B", "kk kk"))     // kk occurs twice corpus-wide: not hapax
      .toDF("source", "text")
    val out = TextAnalysis.hapaxShareReport(docs)
      .as[(String, Long, Long, Long)].collect().toSeq
    Harness.release(spark, blocking = false)
    assert(out === Seq(("A", 2L, 1L, 500000L), ("B", 3L, 1L, 333333L)))
  }

  test("docTypicality: exact micronat cross-entropy, rare-token doc reads higher") {
    // corpus: x·3, y·1, q·1 (N = 5). lnµ5 = 1609438, lnµ3 = 1098612,
    // lnµ1 = 0 — every term an exact integer
    val docs = Seq(
      (1L, "x x y"),   // x: 2·(1609438−1098612) = 1021652; y: 1609438
      (2L, "x q"))     // x: 510826; q: 1609438
      .toDF("doc_id", "text")
    val out = TextAnalysis.docTypicality(docs)
      .as[(Long, Long, Long)].collect().toSeq
    Harness.release(spark, blocking = false)
    assert(out === Seq(
      (1L, 3L, 877030L),    // 2631090 div 3
      (2L, 2L, 1060132L)))  // 2120264 div 2 — rarer mix, higher surprisal
  }

  test("gramDominanceReport: one stuck phrase vs diffuse repeats separate") {
    val docs = Seq(
      (1L, "a b a b a"),  // grams (a b)·2, (b a)·2: top 500‰, repeat 1000‰
      (2L, "a b c"),      // grams (a b), (b c): top 500‰, repeat 0
      (3L, "z"),          // shorter than k: excluded
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gramDominanceReport(docs, k = 2)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, 4L, 500L, 1000L),
      (2L, 2L, 500L, 0L)))  // same top share, repeat mass separates them
    intercept[IllegalArgumentException] {
      TextAnalysis.gramDominanceReport(docs, k = 0)
    }
  }

  test("packEfficiencyReport: seqs by ceiling division, straddle and tail pad") {
    // one shard (numShards = 1), budget 4: stream a(3) b(3) c(1) = 7
    // tokens → 2 sequences, 1 pad token; doc 2 starts at offset 3 and
    // spans the boundary (3 + 3 > 4), docs 1/3 do not
    val docs = Seq(
      (1L, "t1 t2 t3"),
      (2L, "t4 t5 t6"),
      (3L, "t7"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.packEfficiencyReport(docs, budgetTokens = 4L,
      numShards = 1)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((0L, 3L, 7L, 1L, 2L, 1L, 875000L)))
  }

  test("vocabHhiReport: template concentration reads above a diverse tail") {
    val docs = Seq(
      ("A", "x x y"),   // c = {2, 1}: HHI = 5·10⁶ // 9 = 555555
      ("B", "a b c"))   // c = {1, 1, 1}: HHI = 3·10⁶ // 9 = 333333
      .toDF("source", "text")
    val out = TextAnalysis.vocabHhiReport(docs)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out === Seq(("A", 3L, 2L, 555555L), ("B", 3L, 3L, 333333L)))
  }

  test("packAppend: the append law — incremental ≡ one-shot on trailing ids") {
    val all = Seq(
      (1L, "t1 t2 t3"), (2L, "t4 t5"), (3L, "t6 t7 t8 t9"),
      (4L, "u1 u2"), (5L, "u3 u4 u5"), (6L, "u6"))
      .toDF("doc_id", "text")
    val base = all.filter($"doc_id" <= 3)
    val delta = all.filter($"doc_id" > 3)
    val oneShot = TextAnalysis.packSequences(all, budgetTokens = 4L,
      numShards = 2).collect().map(_.toSeq).toSet
    val packedBase = TextAnalysis.packSequences(base, budgetTokens = 4L,
      numShards = 2)
    val appended = TextAnalysis.packAppend(delta,
      TextAnalysis.packShardState(packedBase), budgetTokens = 4L,
      numShards = 2)
    val union = packedBase.collect().map(_.toSeq).toSet ++
      appended.collect().map(_.toSeq).toSet
    assert(union === oneShot)
    intercept[IllegalArgumentException] {
      TextAnalysis.packAppend(delta, packedBase /* wrong shape */,
        budgetTokens = 4L, numShards = 2)
    }
  }

  test("bigramEntropyReport: deterministic transitions read 0, free ones ln 2") {
    val docs = Seq(
      ("A", "a b a b a"),  // ab·2, ba·2; every prefix forces its next → H = 0
      ("B", "a b a c"))    // a → {b, c}: two ln 2 terms over 3 bigrams
      .toDF("source", "text")
    val out = TextAnalysis.bigramEntropyReport(docs)
      .as[(String, Long, Long, Long)].collect().toSeq
    Harness.release(spark, blocking = false)
    assert(out === Seq(
      ("A", 4L, 2L, 0L),
      ("B", 3L, 3L, 462098L)))  // 2·693147 div 3
  }

  test("chunkDupProfile: dup share per chunk position, partial tail chunks") {
    // 2-token chunks: docs 1/2 share chunk 0 ("hdr txt"); tails differ;
    // doc 3 is a single partial chunk, unique
    val docs = Seq(
      (1L, "hdr txt alpha beta"),
      (2L, "hdr txt gamma delta"),
      (3L, "solo"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkDupProfile(docs, chunkTokensN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    Harness.release(spark, blocking = false)
    assert(out.toSeq === Seq(
      (0L, 3L, 2L, 666666L), // "hdr txt" ×2 dup, "solo" unique
      (1L, 2L, 0L, 0L)))
  }

  test("packAdjacency: hand-derived co-residency, source and dup classification") {
    // ONE shard, budget 8: stream offsets 0|4|8|10 → pair (1,2)
    // co-resident same-source exact-dup, (2,3) lands on a boundary
    // (clean), (3,4) co-resident same-source non-dup
    val docs = Seq(
      (1L, "a b c d", "s1"),
      (2L, "a b c d", "s1"),
      (3L, "x y", "s2"),
      (4L, "z", "s2"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.packAdjacency(docs, budgetTokens = 8L,
        numShards = 1)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((0L, 3L, 2L, 2L, 1L, 666L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.packAdjacency(docs, budgetTokens = 0L)
    }
  }

  test("corpusDatasheet: per-source volume, dup rate, gate keep rate") {
    // source A: an exact-dup pair + one unique, all too short (keep 0);
    // source B: one short doc + one 33-token gate-passing doc
    // (distinct words, awl = 149000 div 33 = 4515 ∈ [4200, 4800])
    val long = ((1 to 17).map(i => f"v$i%04d") ++
      (1 to 16).map(i => f"w$i%03d")).mkString(" ")
    val docs = Seq(
      (1L, "a b c", "A"), (2L, "a b c", "A"), (3L, "d e f", "A"),
      (4L, "g h", "B"), (5L, long, "B"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.corpusDatasheet(docs)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      ("A", 3L, 9L, 15L, 334L, 0L, 3L),
      ("B", 2L, 35L, 184L, 0L, 500L, 17L)))
  }

  test("cdcChunkProfile: token conservation, twin docs dedup 500, sub-k doc one chunk") {
    // source A: two IDENTICAL 30-distinct-token docs → every chunk
    // appears exactly twice → dup 500‰, token mass 60; source B: a
    // 2-token doc (< k=3) → one whole-doc chunk
    val long = (1 to 30).map(i => s"tok$i").mkString(" ")
    val d = Seq((1L, long, "A"), (2L, long, "A"), (3L, "u v", "B"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.cdcChunkProfile(d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val a = out(0)
    assert(a._1 === "A" && a._2 % 2 === 0L && a._3 === 60L && a._4 === 500L)
    assert(out(1) === (("B", 1L, 2L, 0L, 2L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.cdcChunkProfile(d, divisor = 0L)
    }
  }

  test("vocabSizeCurve: exact partial coverage per size, overshoot reads total") {
    // counts a=5 b=3 c=1 d=1 (total 10): top-1 → 500‰, top-2 → 800‰,
    // top-3 → 900‰ (either tied singleton — coverage is tie-free),
    // size 10 > vocab 4 → full mass
    val d = docs(1L -> "a a a a a b b b c d")
    val out = TextAnalysis.vocabSizeCurve(d, sizes = Seq(1L, 2L, 3L, 10L))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, 1L, 5L, 500L), (2L, 2L, 8L, 800L),
      (3L, 3L, 9L, 900L), (10L, 4L, 10L, 1000L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.vocabSizeCurve(d, sizes = Seq(3L, 1L))
    }
  }

  test("cdcChunkState append law: merged per-batch states ≡ one-shot profile") {
    val long = (1 to 30).map(i => s"tok$i").mkString(" ")
    val d = Seq((1L, long, "A"), (2L, long, "A"), (3L, "u v", "B"),
      (4L, long + " extra trailer words here", "A"))
      .toDF("doc_id", "text", "source")
    val oneShot = TextAnalysis.cdcChunkProfile(d).collect().toSeq
    val merged = TextAnalysis.cdcProfileFromState(
      TextAnalysis.mergeCdcStates(
        TextAnalysis.cdcChunkState(d.filter("doc_id % 2 = 0")),
        TextAnalysis.cdcChunkState(d.filter("doc_id % 2 = 1"))))
      .collect().toSeq
    assert(merged === oneShot)
  }

  test("batchPlan: bucket by width, pad to bucket max, exact pad share") {
    // width 4: docs of 1/2 tokens → bucket 0 (max 2, sum 3, pad 250‰);
    // 5-token doc → bucket 1 alone (pad 0)
    val d = docs(1L -> "a", 2L -> "b c", 3L -> "p q r s t")
    val out = TextAnalysis.batchPlan(d, bucketTokens = 4L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (0L, 0L, 2L, 2L, 3L, 250L),
      (1L, 4L, 1L, 5L, 5L, 0L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.batchPlan(d, bucketTokens = 0L)
    }
  }

  test("charClassProfile: class shares per source, empty source reads NULL") {
    val d = Seq((1L, "Ab1 c!", "A"), (2L, "", "B"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.charClassProfile(d).collect()
    assert(out.length === 2)
    val a = out(0)
    assert(a.getString(0) === "A" && a.getLong(1) === 6L)
    // 3 alpha, 1 digit, 1 space, 1 other of 6 chars
    assert((a.getLong(2), a.getLong(3), a.getLong(4), a.getLong(5))
      === ((500L, 166L, 166L, 166L)))
    val b = out(1)
    assert(b.getString(0) === "B" && b.getLong(1) === 0L
      && b.isNullAt(2) && b.isNullAt(5))
  }

  test("boilerplateScrub: the shared segment drops from every host, unique text survives") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // three docs share an exact 16-word head segment (occ = 3 >= bar),
    // each keeps a distinct tail; a short doc is its own single segment
    val shared = (1 to 16).map(_ => "the").mkString(" ")
    val d = Seq(
      (1L, s"$shared alpha beta"),
      (2L, s"$shared gamma"),
      (3L, s"$shared delta epsilon zeta"),
      (4L, "x y z"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateScrub(d, segTokens = 16, dfBar = 3L)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (1L, 2L, 1L, md5hex("alpha beta")),
      (2L, 2L, 1L, md5hex("gamma")),
      (3L, 2L, 1L, md5hex("delta epsilon zeta")),
      (4L, 1L, 0L, md5hex("x y z"))))
    // below the bar nothing drops and the rebuild is the identity
    val lax = TextAnalysis.boilerplateScrub(d, segTokens = 16, dfBar = 4L)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(lax.map(_._3).sum === 0L)
    assert(lax.head._4 === md5hex(s"$shared alpha beta"))
    intercept[IllegalArgumentException] {
      TextAnalysis.boilerplateScrub(d, dfBar = 1L)
    }
  }

  test("bpeMergeStep: weighted argmax, deterministic tie, exact greedy merge") {
    // cat×2 + hat: pairs (c,a)=3, (a,t)=3, (h,a)=1 — the tie resolves
    // (n DESC, a, b) → (a,t); merged: cat→[c,at], hat→[h,at]
    val d = Seq((1L, "cat cat hat")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeMergeStep(d)
      .as[(String, String, String, String, Long)].collect().toSeq
    assert(out === Seq(("a", "t", "c", "at", 2L), ("a", "t", "h", "at", 1L)))
  }

  test("bpeMergeStep: self-pairs never win; fully-merged 2-char words leave the census") {
    // pairs: (a,a)=2 (self — excluded), (b,b)=1 (self), (a,b)=1 → best
    // (a,b); 'ab' merges to ONE token and exits; aa/bb keep their pairs
    val d = Seq((1L, "aa aa bb ab")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeMergeStep(d)
      .as[(String, String, String, String, Long)].collect().toSeq
    assert(out === Seq(("a", "b", "a", "a", 2L), ("a", "b", "b", "b", 1L)))
  }

  test("bpeMergeStep: adjacent occurrences all merge (the two-pass replace contract)") {
    // "ababab": (a,b)=3, (b,a)=2 → best (a,b); token-greedy yields
    // [ab,ab,ab] — pass 1 alone would leave the middle pair unmerged
    val d = Seq((1L, "ababab")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeMergeStep(d)
      .as[(String, String, String, String, Long)].collect().toSeq
    assert(out === Seq(("a", "b", "ab", "ab", 2L)))
  }

  test("bpeEncode: rank-composing merges, hand-counted tokens") {
    // merges build t+a → ta+b → tab+le (and l+e): "table" collapses to
    // ONE token, "tale" to [ta, le], "bat" stays [b, a, t]
    val d = Seq((1L, "table tale bat")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(d,
      Seq("t" -> "a", "ta" -> "b", "l" -> "e", "tab" -> "le"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    // chars_ns = 5+4+3 = 12, tokens = 1+2+3 = 6, comp = 6000/12 = 500
    assert(out === Seq((1L, 12L, 6L, 500L)))
  }

  test("bpeEncode: space cells block cross-word merges") {
    // "cat able": word-final 't' then word-initial 'a' — the space cell
    // sits between, so (t,a) must NOT merge across the boundary
    val d = Seq((1L, "cat able")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(d, Seq("t" -> "a"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 7L, 7L, 1000L)))
  }

  test("bpeEncode: back-to-back occurrences merge token-greedily") {
    // "tatata" + (t,a): greedy left-to-right = [ta, ta, ta] — the
    // two-pass replace catches the occurrence pass 1's boundary
    // consumption skips
    val d = Seq((1L, "tatata")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(d, Seq("t" -> "a"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 6L, 3L, 500L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeEncode(d, Seq("a" -> "a")) // self-merge rejected
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeEncode(d, Seq("a" -> "|")) // reserved separator
    }
  }

  test("bpeTrain: learn order, composed symbols, vocabulary exhaustion") {
    // cat×2 + hat: round 1 (a,t) [n=3]; round 2 (c,at) [n=2]; round 3
    // (h,at) [n=1]; round 4 finds no non-self pair → stops at 3 rows
    // though 6 were requested
    val d = Seq((1L, "cat cat hat")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeTrain(d, nMerges = 6)
      .as[(Long, String, String)].collect().toSeq
    assert(out === Seq((1L, "a", "t"), (2L, "c", "at"), (3L, "h", "at")))
  }

  test("bpeTrain output feeds bpeEncode (the learn→encode composition)") {
    val d = Seq((1L, "cat cat hat")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(d, nMerges = 6)
      .as[(Long, String, String)].collect().toSeq
      .map { case (_, a, b) => (a, b) }
    val out = TextAnalysis.bpeEncode(d, merges)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // every word collapses to one token: 3 tokens over 9 non-space chars
    assert(out === Seq((1L, 9L, 3L, 333L)))
  }
}

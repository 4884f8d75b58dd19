package graft

import graft.operators.Linkage

class LinkageSpec extends SparkSpec {
  import spark.implicits._

  private def tbl(rows: (Long, String)*) = rows.toDF("id", "name")

  test("sortedNeighborhood links a typo'd probe to its base neighbours") {
    val base = tbl(1L -> "alpha", 2L -> "bravo", 3L -> "citrus")
    val probe = tbl(10L -> "bravo!")          // 1 edit from "bravo"
    val out = Linkage.sortedNeighborhood(base, probe, "id", "name",
      blockLen = 1, window = 4, maxDist = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((2L, 10L, 1L)))
  }

  test("sortedNeighborhood is cross-side only — base-base near-dups are excluded") {
    val base = tbl(1L -> "aaaa", 2L -> "aaab")      // 1 edit apart
    val probe = tbl(10L -> "zzzz")                  // unrelated
    val out = Linkage.sortedNeighborhood(base, probe, "id", "name",
      blockLen = 1, window = 4, maxDist = 1)
    assert(out.count() === 0L)
  }

  test("sortedNeighborhood window bounds the comparisons (documented recall limit)") {
    // probe "abaa" is 1 edit from base "aaaa" but 3 base rows ≥2 edits
    // away sort between them; window=1 must miss the pair, window=4
    // finds it
    val base = tbl(1L -> "aaaa", 2L -> "aaba", 3L -> "aabb", 4L -> "aazz")
    val probe = tbl(10L -> "abaa")
    def run(w: Int) = Linkage.sortedNeighborhood(base, probe, "id", "name",
      blockLen = 1, window = w, maxDist = 1).count()
    assert(run(1) === 0L)
    assert(run(4) === 1L)
  }

  test("sortedNeighborhood blocking bounds the comparisons — different block, no pair") {
    val base = tbl(1L -> "abcd")
    val probe = tbl(10L -> "bbcd")                  // 1 edit, first char differs
    val out = Linkage.sortedNeighborhood(base, probe, "id", "name",
      blockLen = 1, window = 8, maxDist = 2)
    assert(out.count() === 0L)
  }

  test("sortedNeighborhood finds pairs in either sort order") {
    // probe sorts BEFORE its base match: pair surfaces via the probe
    // row's forward window, output still (base_id, probe_id)
    val base = tbl(1L -> "nnnb")
    val probe = tbl(10L -> "nnna")
    val out = Linkage.sortedNeighborhood(base, probe, "id", "name",
      blockLen = 1, window = 2, maxDist = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 10L, 1L)))
  }

  test("sortedNeighborhood rejects bad params") {
    intercept[IllegalArgumentException] {
      Linkage.sortedNeighborhood(tbl(), tbl(), "id", "name", window = 0)
    }
  }

  test("deletionJoin finds every ed ≤ 1 pair class and rejects ed 2") {
    val base = tbl(1L -> "abc", 2L -> "hello", 3L -> "zzz")
    val probe = tbl(
      10L -> "abc",   // equal            → ed 0
      11L -> "axc",   // substitution     → ed 1
      12L -> "ab",    // deletion         → ed 1
      13L -> "abxc",  // insertion        → ed 1
      14L -> "acb",   // transposition    → ed 2: shares variants, verify kills
      15L -> "help")  // ed 2 from hello, no shared variant
    val out = Linkage.deletionJoin(base, probe, "id", "name")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 10L, 0L), (1L, 11L, 1L),
      (1L, 12L, 1L), (1L, 13L, 1L)))
  }

  test("deletionJoin has full ed-1 recall where sortedNeighborhood's block misses") {
    // first-char substitution: "abc" vs "bbc" sort into different
    // blocks (block key = 16-char prefix) → sortedNeighborhood finds
    // nothing; the deletion join shares the variant "bc" and verifies
    val base = tbl(1L -> "abc")
    val probe = tbl(10L -> "bbc")
    val sn = Linkage.sortedNeighborhood(base, probe, "id", "name")
      .as[(Long, Long, Long)].collect().toSeq
    val dj = Linkage.deletionJoin(base, probe, "id", "name")
      .as[(Long, Long, Long)].collect().toSeq
    assert(sn === Seq.empty)
    assert(dj === Seq((1L, 10L, 1L)))
  }

  test("deletionJoin excludes NULL names on both sides") {
    val base = Seq((1L, "abc"), (2L, null)).toDF("id", "name")
    val probe = Seq((10L, "abd"), (11L, null)).toDF("id", "name")
    val out = Linkage.deletionJoin(base, probe, "id", "name")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 10L, 1L)))
  }

  test("blockingQuality: hand-derived reduction ratio and completeness") {
    // probe 11 is a last-char typo of base 1 (same 16-char block →
    // admitted AND verified); probe 12 is a FIRST-char typo of base 2
    // (ed 1, but a different block → missed by the window, caught by
    // the deletion-variant truth) — completeness must read 1/2
    val base = tbl(
      1L -> "alpha_record_0001",
      2L -> "beta_record_00002",
      3L -> "gamma_record_0003")
    val probe = tbl(
      11L -> "alpha_record_0002",
      12L -> "Xeta_record_00002")
    val out = Linkage.blockingQuality(base, probe, "id", "name")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // candidates: only the shared "alpha_record_000" block pairs up →
    // 1 of 3·2 possible pairs; reduction = 1e6 − 1e6/6 = 833334
    assert(out === Seq((3L, 2L, 1L, 2L, 1L, 833334L, 500000L)))
  }

  test("sortedNeighborhoodMultiPass: reversed pass catches the first-char typo") {
    // probe 11 (last-char typo) → prefix pass; probe 12 (FIRST-char
    // typo, different prefix block) → only the reversed (suffix) pass
    val base = tbl(1L -> "alpha_record_0001", 2L -> "gamma_record_0003")
    val probe = tbl(11L -> "alpha_record_000X", 12L -> "Xlpha_record_0001")
    val single = Linkage.sortedNeighborhood(base, probe, "id", "name")
      .as[(Long, Long, Long)].collect().toSeq
    val multi = Linkage.sortedNeighborhoodMultiPass(base, probe, "id", "name")
      .as[(Long, Long, Long)].collect().toSeq
    assert(single === Seq((1L, 11L, 1L)))
    assert(multi === Seq((1L, 11L, 1L), (1L, 12L, 1L)))
  }

  test("blockingQuality: zero true pairs → null completeness") {
    val base = tbl(1L -> "aaaaaaaaaaaaaaaaa")
    val probe = tbl(10L -> "zzzzzzzzzzzzzzzzz")
    val row = Linkage.blockingQuality(base, probe, "id", "name").collect()(0)
    assert(row.getLong(3) === 0L && row.isNullAt(6))
  }

  test("goldenRecord: entity closure, frequency election, tie→smallest, singletons survive") {
    // entity {1,2,10}: name "ann" wins 2-of-3; city tie (x,y) → "x";
    // record 3 pairs with nothing → singleton of itself; NULL city on
    // 10 is excluded from election, not elected
    val recs = Seq(
      (1L, "ann", "x"),
      (2L, "ann", "y"),
      (10L, "anne", null.asInstanceOf[String]),
      (3L, "bob", "z")
    ).toDF("id", "name", "city")
    val pairs = Seq((1L, 10L), (2L, 10L)).toDF("da", "db")
    val out = Linkage.goldenRecord(recs, "id", pairs, Seq("name", "city"))
      .as[(Long, Long, String, String)].collect().toSeq
    Harness.release(spark, blocking = false)
    assert(out === Seq((1L, 3L, "ann", "x"), (3L, 1L, "bob", "z")))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-training-data pipelines: token
  * counting, quality scoring, language ID, document fingerprinting.
  *
  * All are pure column expressions (no UDFs) so they stay inside
  * whole-stage codegen and scale linearly with input: at 100 TB these
  * run as a single narrow map stage over the parquet scan — no shuffle
  * at all for the per-document forms.
  */
object TextAnalysis {

  /** Whitespace token count without materializing the token array:
    * LENGTH(text) - LENGTH(REPLACE(text,' ','')) + 1. Exact for
    * single-space-separated text (the corpus convention). */
  def tokenCountCol(text: Column): Column =
    (length(text) - length(regexp_replace(text, " ", "")) + 1).cast("long")

  /** BPE-ish subword token estimate: split on word/number/punct
    * boundaries like a byte-pair pre-tokenizer would. Heavier than
    * [[tokenCountCol]]; still codegen'd (regexp is a native expression). */
  def bpeishTokenCountCol(text: Column): Column =
    size(filter(
      split(text, """(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"""),
      // drop empty AND whitespace-only fragments — a BPE pre-tokenizer
      // folds spaces into word tokens, it does not count them
      t => length(trim(t)) > 0)).cast("long")

  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokenCountCol(col("text")).as("n_tokens"))
      .orderBy("doc_id", "n_tokens")

  /** Average word length ×1000 (integer permille, BIGINT-widened) over
    * a column named `text` — the single copy of the formula shared by
    * [[qualityScore]] and [[qualityGate]], which the cross-engine
    * oracle replays character for character. */
  def awlPermilleCol: Column =
    expr("CAST(LENGTH(REPLACE(text, ' ', '')) AS BIGINT) * 1000" +
      " div (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1)")

  /** Quality metrics, all exact integers (deterministic across engines):
    *  - n_chars_m: LENGTH(text)
    *  - n_tokens: whitespace token count
    *  - awl_permille: average word length ×1000, integer floor-div
    *  - the_cnt: occurrences of the substring 'the' (stopword-density
    *    proxy; REPLACE counts non-overlapping occurrences identically
    *    in every engine). */
  def qualityScore(docs: DataFrame): DataFrame = {
    val ntok = tokenCountCol(col("text"))
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_m"),
      ntok.as("n_tokens"),
      // BIGINT-widened BEFORE the ×1000 (awlPermilleCol): a document
      // with > ~2.1M non-space chars (routine in a crawl corpus) would
      // overflow the 32-bit multiply — an ANSI exception mid-job
      awlPermilleCol.as("awl_permille"),
      ((length(col("text")) - length(regexp_replace(col("text"), "the", ""))).cast("long") / lit(3)).cast("long").as("the_cnt"))
      .orderBy("doc_id")
  }

  /** Language ID, marker-token heuristic: tokenize, count marker tokens
    * per candidate language, argmax with a fixed tie-break order. The
    * marker sets are parameters; the test-corpus instance uses tokens
    * from its synthetic vocabulary. At scale: explode + two-level agg =
    * one shuffle on doc_id; marker match is a codegen'd IN list.
    *
    * (A production system would use char-n-gram profiles — same plan
    * shape: explode n-grams, join a broadcast profile table, argmax.) */
  def languageId(docs: DataFrame, markers: Seq[(String, Seq[String])]): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val counts = markers.zipWithIndex.map { case ((lang, ms), i) =>
      count(when(col("tok").isin(ms: _*), 1)).as(s"c$i")
    }
    val cnt = toks.groupBy("doc_id").agg(counts.head, counts.tail: _*)
    // argmax with ties resolved by marker-list order (first wins)
    val pred = markers.zipWithIndex.foldRight(lit(markers.last._1)) {
      case (((lang, _), i), elseCol) =>
        val isMax = markers.indices.filter(_ != i)
          .map(j => col(s"c$i") >= col(s"c$j"))
          .reduceOption(_ && _).getOrElse(lit(true))
        when(isMax, lit(lang)).otherwise(elseCol)
    }
    cnt.select(col("doc_id"), pred.as("pred_lang")).orderBy("doc_id", "pred_lang")
  }

  /** Test-corpus language-ID instance (vocabulary is synthetic word
    * soup, so the "languages" are content-marker classes). */
  def languageIdDefault(docs: DataFrame): DataFrame =
    languageId(docs, Seq(
      "en" -> Seq("data"),
      "fr" -> Seq("table"),
      "de" -> Seq("row")))

  /** Exact content fingerprint (md5 hex — portable across engines).
    * Used as the key for exact dedup at scale: fingerprint first, then
    * group on the 16-byte digest instead of the full text (shuffles
    * 16 bytes/row instead of the document body). */
  def fingerprintMd5(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("fp")).orderBy("doc_id", "fp")

  /** Rolling (polynomial) content hash over the token stream — a
    * Rabin-Karp-style fingerprint usable for chunk-level dedup. Computed
    * with the built-in higher-order `aggregate` over the token array:
    *   h ← (h · B + v(tok)) mod p,  B = 1000003, p = 2147483647 (2³¹−1).
    * The Mersenne-prime field keeps every intermediate below 2^52 —
    * safe under Spark 4's ANSI overflow checking, no wraparound needed.
    * The per-token value v(tok) is the first 8 hex digits of md5(tok):
    * md5 is bit-identical in every engine (xxhash64 seeds are not), so
    * the fingerprint is oracle-checkable cross-engine.
    * Pure expression — no UDF, no shuffle. */
  def rollingHash(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      aggregate(
        split(col("text"), " "),
        lit(0L),
        (acc, tok) => pmod(
          acc * lit(1000003L) +
            pmod(conv(substring(md5(tok), 1, 8), 16, 10).cast("long"),
              lit(2147483647L)),
          lit(2147483647L))).as("roll_fp"))
      .orderBy("doc_id")

  /** Repetition ratio — the "loopy text" quality signal every crawl /
    * synthetic-data filter needs: 1000·(1 − distinct k-grams ∕ total
    * k-grams), integer permille. 0 = every k-gram unique; → 1000 = the
    * same k-gram over and over (boilerplate, scraper loops, degenerate
    * generations). Row-local over the native `shingle_hashes`
    * expression (which is distinct-by-construction) — a narrow codegen
    * map, ZERO shuffles. Docs shorter than k tokens have no k-gram and
    * are excluded (no repetition evidence either way — same exclusion
    * rule as the dedup shingle operators). */
  def repetitionScore(docs: DataFrame, k: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= k)
      .select(col("doc_id") +: repInputs(k): _*)
      .select(col("doc_id"), repPermilleCol.as("rep_permille"))
      .orderBy("doc_id", "rep_permille")
  }

  /** (ndist, total) k-gram inputs over a token-array column `ts`,
    * NULL for docs shorter than k — the single copy shared by
    * [[repetitionScore]] and [[qualityGate]] (the oracle replays the
    * formula; two inline copies could silently diverge). */
  private def repInputs(k: Int): Seq[Column] = Seq(
    when(size(col("ts")) >= k,
      size(call_function("shingle_hashes", col("ts"), lit(k))).cast("long")).as("ndist"),
    when(size(col("ts")) >= k, (size(col("ts")) - k + 1).cast("long")).as("total"))

  private def repPermilleCol: Column = expr("1000 - (ndist * 1000) div total")

  /** Token-budget sequence packing — the "concatenate and cut" layout
    * step of LLM pre-training: documents are laid out in a
    * deterministic order, token offsets accumulate, and each document
    * is assigned the training sequence where it STARTS
    * (seq = start_offset div budget) plus its offset inside it —
    * documents straddle sequence boundaries exactly as the token
    * stream does in training.
    *
    * SHARDED by design: one global running sum would serialize the
    * corpus through a single window task, so documents hash-shard
    * first (md5-derived — portable, retry-stable) and each shard packs
    * independently, exactly like per-file token streams; numShards is
    * the writer parallelism. One shuffle (the per-shard sort window).
    *
    * @return (doc_id, n_tokens, shard, seq_in_shard, offset_in_seq). */
  def packSequences(docs: DataFrame, budgetTokens: Long, numShards: Int = 8): DataFrame = {
    require(budgetTokens >= 1, s"budgetTokens ($budgetTokens) must be >= 1")
    require(numShards >= 1, s"numShards ($numShards) must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs.select(col("doc_id"), tokenCountCol(col("text")).as("n_tokens"))
      .withColumn("shard", Sampling.hashMod(col("doc_id"), numShards.toLong))
      .withColumn("start_tok", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("shard"),
        expr(s"start_tok div $budgetTokens").as("seq_in_shard"),
        expr(s"start_tok % $budgetTokens").as("offset_in_seq"))
      .orderBy("doc_id")
  }

  /** Pack-adjacency contamination audit — the cross-document leakage
    * check on [[packSequences]]' layout: when sequences are trained
    * WITHOUT attention masking between packed documents, every
    * document that starts mid-sequence attends into the tail of its
    * predecessor. This measures how often that happens and how bad the
    * adjacent pair is: same source (correlated context the model can
    * exploit), or an exact duplicate (the same text twice inside one
    * attention window — the worst case).
    *
    * Per shard: adjacent pairs in the token stream, the co-resident
    * subset (successor starts mid-sequence, `offset_in_seq > 0`), and
    * within it the same-source and exact-dup counts. A high
    * `coresident_permille` with high same-source mass is the signal to
    * turn on per-document masks or shuffle the layout order.
    *
    * Scale shape: the running-sum window and the predecessor `lag`
    * share ONE (shard, doc_id) partitioning — a single Exchange —
    * and the per-shard aggregate is map-side-combined into numShards
    * rows; document bodies never shuffle (the dup signal is the md5
    * fingerprint, the x01 discipline).
    *
    * @return (shard, n_pairs, n_coresident, n_same_source,
    *         n_dup_adjacent, coresident_permille), ordered by shard. */
  def packAdjacency(docs: DataFrame, budgetTokens: Long,
                    numShards: Int = 8): DataFrame = {
    require(budgetTokens >= 1, s"budgetTokens ($budgetTokens) must be >= 1")
    require(numShards >= 1, s"numShards ($numShards) must be >= 1")
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
    val cum = ws.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val coRes = expr(s"start_tok % $budgetTokens") > lit(0L)
    docs.select(col("doc_id"), col("source"), md5(col("text")).as("__fp"),
        tokenCountCol(col("text")).as("n_tokens"))
      .withColumn("shard", Sampling.hashMod(col("doc_id"), numShards.toLong))
      .withColumn("start_tok", coalesce(sum("n_tokens").over(cum), lit(0L)))
      .withColumn("__prev_id", lag("doc_id", 1).over(ws))
      .withColumn("__prev_source", lag("source", 1).over(ws))
      .withColumn("__prev_fp", lag("__fp", 1).over(ws))
      .filter(col("__prev_id").isNotNull)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(coRes, 1L).otherwise(0L)).as("n_coresident"),
        sum(when(coRes && col("source") === col("__prev_source"), 1L)
          .otherwise(0L)).as("n_same_source"),
        sum(when(coRes && col("__fp") === col("__prev_fp"), 1L)
          .otherwise(0L)).as("n_dup_adjacent"))
      .select(col("shard"), col("n_pairs"), col("n_coresident"),
        col("n_same_source"), col("n_dup_adjacent"),
        expr("(n_coresident * 1000) div n_pairs").as("coresident_permille"))
      .orderBy("shard")
  }

  /** Fixed-size token chunking with overlap — the window layout for
    * embedding / retrieval pipelines (and the long-document half of
    * sequence preparation, where [[packSequences]] is the short-doc
    * half). Chunk i starts at token i·stride (stride = chunk −
    * overlap); chunks run while they add new tokens, and a document
    * shorter than one chunk still yields its single partial chunk.
    * Row-expanding narrow map (posexplode over computed starts +
    * row-local array slice/join) — ZERO shuffles; every boundary is
    * integer arithmetic and the chunk text a deterministic slice, so
    * the oracle replays it verbatim.
    *
    * @return (doc_id, chunk_id, n_chunk_tokens, chunk_text). */
  def chunkTokens(docs: DataFrame, chunkTokens: Int, overlapTokens: Int = 0): DataFrame =
    chunksRaw(docs, chunkTokens, overlapTokens).orderBy("doc_id", "chunk_id")

  /** [[chunkTokens]] without the presentation sort — the form internal
    * consumers ([[chunkDupProfile]]) compose on: a narrow row-local
    * map, no Exchange of any kind. */
  private def chunksRaw(docs: DataFrame, chunkTokens: Int,
                        overlapTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens ($chunkTokens) must be >= 1")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlapTokens ($overlapTokens) must be in [0, chunkTokens)")
    val stride = chunkTokens - overlapTokens
    docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), col("ts"),
        // ceil((ntok − overlap) / stride) by integer div, at least one
        // chunk (a doc shorter than one chunk keeps its partial)
        expr(s"greatest(CAST(size(ts) - $overlapTokens + $stride - 1 AS BIGINT)" +
          s" div $stride, CAST(1 AS BIGINT))").as("nchunks"))
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, nchunks - 1), i -> " +
          s"array_join(slice(ts, CAST(i AS INT) * $stride + 1, $chunkTokens), ' '))")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        tokenCountCol(col("col")).as("n_chunk_tokens"),
        col("col").as("chunk_text"))
  }

  /** CCNet/RefinedWeb-style BOILERPLATE SCRUB: segment every document
    * into fixed token windows, count each segment's corpus-wide
    * occurrences, drop segments at or past the repetition bar, and
    * rebuild the kept text — the line-level dedup stage web pipelines
    * run between exact-dedup and near-dedup (navigation chrome, cookie
    * banners, boilerplate headers repeat verbatim across documents
    * while their hosts do not). The corpus here has no newlines, so
    * the "line" unit is the fixed token window of [[chunkTokens]]
    * (reference scope: Kyureeus ETL has no text ops; this extends
    * SURVEY §2.3's text-analysis family).
    *
    * Scale shape: segmentation is the row-local [[chunksRaw]] map;
    * each segment is reduced to its 16-byte md5 SCAN-SIDE, so the
    * occurrence count shuffles fingerprints, never segment text; the
    * flag join is fp-keyed equi (both sides data-scale — no broadcast
    * assumption); the rebuild is one doc-keyed aggregation whose
    * collect_list is bounded by the document's own segment count
    * (docs are bounded; a 2 GB outlier doc would already have been
    * length-gated upstream). NULL-skipping collect_list + sort_array
    * on (idx, text) structs keeps the rebuild deterministic and
    * engine-replayable.
    *
    * @param segTokens tokens per segment (the "line" analog)
    * @param dfBar     drop a segment occurring >= dfBar times
    *                  corpus-wide (>= 2; the bar counts OCCURRENCES,
    *                  so a doc repeating its own segment contributes
    *                  each copy)
    * @return (doc_id, n_seg, n_dropped, kept_md5) — kept_md5 is the
    *         md5 of the space-joined surviving segments (md5('') when
    *         everything dropped), doc-ordered. */
  def boilerplateScrub(docs: DataFrame, segTokens: Int = 16,
                       dfBar: Long = 3L): DataFrame = {
    require(segTokens >= 1, s"segTokens ($segTokens) must be >= 1")
    require(dfBar >= 2L, s"dfBar ($dfBar) must be >= 2 — a bar of 1 drops everything")
    val segs = chunksRaw(docs.filter(col("text").isNotNull), segTokens, 0)
      .select(col("doc_id"), col("chunk_id").as("seg_idx"),
        col("chunk_text").as("seg_text"), md5(col("chunk_text")).as("seg_fp"))
    val occ = segs.groupBy("seg_fp").agg(count(lit(1)).as("seg_occ"))
    segs.join(occ, "seg_fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("seg_occ") >= dfBar, 1L).otherwise(0L)).as("n_dropped"),
        md5(array_join(expr("transform(" +
          "array_sort(collect_list(CASE WHEN seg_occ < " + dfBar +
          " THEN struct(seg_idx, seg_text) END)), x -> x.seg_text)"), " "))
          .as("kept_md5"))
      .orderBy("doc_id")
  }

  /** One DISTRIBUTED BPE MERGE iteration — the inner step of byte-pair
    * tokenizer TRAINING (Sennrich et al.), the vocab-induction side
    * [[bpeishTokenCount]] only consumes: count adjacent symbol pairs
    * over the weighted word vocabulary, pick the most frequent pair,
    * apply the merge corpus-wide, and report the post-merge pair
    * census (the input to the NEXT iteration). A training loop is this
    * operator iterated V times with the symbol table threaded through.
    *
    * Scale shape — everything after the first aggregation runs on the
    * VOCABULARY, never the corpus: one corpus scan collapses text to
    * (word, freq); symbol/pair derivation is row-local array work on
    * that bounded table; pair counts weight by word frequency with
    * map-side combine; the argmax is a 1-row broadcast.
    *
    * Merge semantics: greedy LEFT-TO-RIGHT non-overlapping, applied
    * via the separator-string form ("|c|a|t|" → replace "|a|t|" with
    * "|at|", run TWICE — pass 1 can consume the shared boundary of an
    * adjacent occurrence, pass 2 provably catches every survivor, and
    * with a ≠ b two passes are exact token-greedy). SELF-pairs (a = b)
    * are excluded from the argmax: their greedy grouping on odd runs
    * is representation-dependent ("aaaaa" → (aa)(aa)a vs (aa)a(aa)),
    * and the dominant pair of natural text is never a self-pair —
    * documented, not hidden. Words shorter than 2 symbols carry no
    * pairs and are excluded; '|' is reserved as the separator (rows
    * containing it are excluded on both engines identically).
    *
    * @return topK post-merge rows (best_a, best_b, pair_a, pair_b, n)
    *         — the applied merge plus the next census, (n DESC, pair)
    *         ordered. */
  def bpeMergeStep(docs: DataFrame, topK: Int = 10): DataFrame = {
    require(topK >= 1, s"topK ($topK) must be >= 1")
    val words = docs.filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2 && !col("word").contains("|"))
      .groupBy("word").agg(count(lit(1)).as("wfreq"))
    val pairCounts = words
      .withColumn("syms",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .select(col("wfreq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), i -> " +
          "struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("wfreq").as("n"))
    val best = pairCounts.filter(col("a") =!= col("b"))
      .orderBy(col("n").desc, col("a"), col("b")).limit(1)
      .select(col("a").as("best_a"), col("b").as("best_b"))
    words.crossJoin(broadcast(best))
      .withColumn("s", concat(lit("|"),
        expr("array_join(transform(sequence(1, length(word)), " +
          "i -> substring(word, i, 1)), '|')"), lit("|")))
      .withColumn("pat",
        concat(lit("|"), col("best_a"), lit("|"), col("best_b"), lit("|")))
      .withColumn("rep",
        concat(lit("|"), col("best_a"), col("best_b"), lit("|")))
      .withColumn("toks", expr(
        "filter(split(replace(replace(s, pat, rep), pat, rep), '\\\\|'), " +
          "x -> x <> '')"))
      .filter(size(col("toks")) >= 2)
      .select(col("wfreq"), col("best_a"), col("best_b"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> " +
          "struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))"))
        .as("p"))
      .groupBy(col("best_a"), col("best_b"),
        col("p.a").as("pair_a"), col("p.b").as("pair_b"))
      .agg(sum("wfreq").as("n"))
      .orderBy(col("n").desc, col("pair_a"), col("pair_b"))
      .limit(topK)
  }

  /** The separator-delimited character expansion every BPE operator
    * shares: "cat" → "|c|a|t|". Prefixing EVERY cell with '|' (and
    * closing with one) makes symbol boundaries unambiguous under
    * substring replace — a merge pattern "|a|b|" can only match two
    * complete adjacent cells, never the interior of a longer symbol,
    * and a space cell "| |" blocks merges from bridging words (BPE's
    * pre-tokenization boundary) without any per-word explode. */
  private def charCells(text: Column): Column =
    concat(lit("|"), array_join(
      transform(sequence(lit(1), length(text)),
        i => text.substr(i, lit(1))), "|"), lit("|"))

  /** One exact token-greedy merge application on a cell string: the
    * x306-documented two-pass replace (pass 1 may consume the shared
    * '|a|' boundary of back-to-back occurrences; pass 2 provably
    * catches every survivor, and with a ≠ b no new occurrence can be
    * created, so two passes ARE left-to-right greedy). */
  private def applyMerge(cells: Column, a: String, b: String): Column = {
    val pat = lit("|" + a + "|" + b + "|")
    val rep = lit("|" + a + b + "|")
    replace(replace(cells, pat, rep), pat, rep)
  }

  /** BPE ENCODE — apply a LEARNED merge table to the corpus, in rank
    * order, and report per-document token accounting: the tokenization
    * step that turns a curated corpus into model input, and the
    * consumer of [[bpeTrain]]'s output (or any externally-trained
    * merge list). [[bpeishTokenCountCol]] estimates; this one runs the
    * actual merge algebra.
    *
    * Merge semantics: merges apply corpus-wide in RANK order, each as
    * an exact token-greedy left-to-right pass (the [[applyMerge]]
    * two-pass replace — the same contract x306 certifies for one
    * merge). Ranks compose: a later merge may reference the symbol an
    * earlier one built ((t,a) then (ta,b) then (tab,le)), which is the
    * property that makes BPE a vocabulary and not a bigram list. Space
    * cells block cross-word merges by construction, so whole documents
    * encode in ONE expression chain — no word explode, no re-join.
    *
    * Scale shape: a pure per-row column program — 2·|merges| native
    * `replace` expressions inside one whole-stage-codegen'd map over
    * the scan, no shuffle, no UDF. At 100 TB it is scan-bound and
    * embarrassingly parallel; |merges| (a vocab is 10k-50k rules)
    * multiplies per-row CPU, not data movement, and the string stays
    * row-local throughout. Rows with NULL text or containing the
    * reserved '|' separator are excluded on both engines identically.
    *
    * @param merges (a, b) pairs in rank order; symbols must be
    *               non-empty and must not contain '|' or ' '.
    * @return (doc_id, n_chars_ns, n_tokens, comp_permille) ordered by
    *         doc_id — non-space chars, post-merge token count, and
    *         tokens-per-char compression in permille (BIGINT-exact). */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    require(merges.nonEmpty, "bpeEncode needs at least one merge")
    merges.foreach { case (a, b) =>
      require(a.nonEmpty && b.nonEmpty, s"empty symbol in merge ($a,$b)")
      require(a != b, s"self-merge ($a,$b) is representation-dependent" +
        " (see bpeMergeStep's scaladoc) and not accepted")
      require(!(a + b).contains("|") && !(a + b).contains(" "),
        s"merge ($a,$b) uses a reserved char ('|' separator / space)")
    }
    val t = col(textCol)
    val encoded = merges.foldLeft(charCells(t)) {
      case (cells, (a, b)) => applyMerge(cells, a, b)
    }
    val nSpaces = length(t) - length(replace(t, lit(" "), lit("")))
    val nCells = length(encoded) - length(replace(encoded, lit("|"), lit(""))) - 1
    docs.filter(t.isNotNull && length(t) > 0 && !t.contains("|"))
      .select(col(idCol),
        (length(t) - nSpaces).as("n_chars_ns"),
        (nCells - nSpaces).as("n_tokens"))
      .filter(col("n_chars_ns") > 0)
      .withColumn("comp_permille",
        expr("CAST(n_tokens * 1000L div n_chars_ns AS BIGINT)"))
      .select(col(idCol), col("n_chars_ns").cast("long").as("n_chars_ns"),
        col("n_tokens").cast("long").as("n_tokens"), col("comp_permille"))
      .orderBy(idCol)
  }

  /** BPE TRAIN — the full vocabulary-induction loop [[bpeMergeStep]]
    * is one iteration of: learn `nMerges` merges from the corpus and
    * return the ranked merge table [[bpeEncode]] consumes. Each round
    * recounts adjacent-pair frequencies over the WORD VOCABULARY with
    * all previous merges applied, picks the most frequent non-self
    * pair ((n DESC, a, b) tie order — x306's argmax contract), and
    * applies it before the next round.
    *
    * Scale shape — the corpus is scanned ONCE: round 0 collapses text
    * to the (word, wfreq) vocabulary (heavy-hitter-shaped agg with
    * map-side combine; natural-language vocabularies are millions of
    * rows when corpora are billions of documents) and CACHES it; every
    * subsequent round is vocabulary-sized row-local array work plus a
    * 1-row argmax collect — the same driver-bounded per-round pattern
    * as the k-means centroid fold (Clustering.kmeans). Round r replays
    * the r−1 merges learned so far on the cached vocabulary cells
    * (vocab-local column work; a production 10k-rule run would
    * checkpoint the cells every few hundred rounds instead).
    *
    * @return the learned table: (rank, sym_a, sym_b) ordered by rank,
    *         rank 1-based in learn order. Fewer than `nMerges` rows
    *         come back iff the vocabulary runs out of non-self pairs. */
  def bpeTrain(docs: DataFrame, nMerges: Int,
               textCol: String = "text"): DataFrame = {
    require(nMerges >= 1 && nMerges <= 64,
      s"nMerges ($nMerges) must be in [1, 64] — the driver collects one" +
        " 1-row argmax per merge, and a real 10k-rule run would batch them")
    val spark = docs.sparkSession
    import spark.implicits._
    // unpersisted inline: the RESULT is driver-held merge rows, so
    // nothing lazy reads this cache after return
    val vocab = docs.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) >= 2 && !col("word").contains("|"))
      .groupBy("word").agg(count(lit(1)).as("wfreq"))
      .select(charCells(col("word")).as("cells"), col("wfreq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val learned = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var frontier = vocab.select(col("cells"), col("wfreq"))
      var exhausted = false
      while (learned.size < nMerges && !exhausted) {
        // pair census over the CURRENT symbolization: split cells back
        // to symbol arrays (row-local), count weighted adjacent pairs
        val best = frontier
          .withColumn("syms",
            filter(split(col("cells"), "\\|"), s => length(s) > 0))
          .filter(size(col("syms")) >= 2)
          .select(col("wfreq"), explode(expr(
            "transform(sequence(1, size(syms) - 1), i -> " +
              "struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"))
            .as("p"))
          .filter(col("p.a") =!= col("p.b"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("wfreq").as("n"))
          .orderBy(col("n").desc, col("a"), col("b")).limit(1)
          .collect()
        if (best.isEmpty) exhausted = true
        else {
          val (a, b) = (best(0).getString(0), best(0).getString(1))
          learned += ((a, b))
          frontier = frontier.withColumn("cells",
            applyMerge(col("cells"), a, b))
        }
      }
      learned.toSeq.zipWithIndex
        .map { case ((a, b), i) => (i + 1L, a, b) }
        .toDF("rank", "sym_a", "sym_b")
    } finally vocab.unpersist()
  }

  /** Corpus-novelty score: permille of a document's DISTINCT k-grams
    * that appear in no other document (corpus document-frequency 1) —
    * high novelty marks genuinely fresh content, low novelty marks
    * boilerplate and near-duplicates that survived exact dedup (the
    * cheap corpus-level complement to the pairwise near-dup
    * operators). Two shuffles, both bounded by the k-gram VOCABULARY
    * (df aggregation keyed by k-gram hash with map-side partials —
    * same scale contract as [[heavyHitters]] — then the per-doc
    * re-group); docs shorter than k are excluded, as everywhere in the
    * shingle family. */
  def noveltyScore(docs: DataFrame, k: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // shingle_hashes is distinct-per-doc, so counting rows per hash IS
    // the document frequency
    val sh = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= k)
      .select(col("doc_id"),
        explode(call_function("shingle_hashes", col("ts"), lit(k))).as("sh"))
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    sh.join(dfreq, Seq("sh"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("ndist"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("uniq"))
      .select(col("doc_id"), expr("(uniq * 1000) div ndist").as("novel_permille"))
      .orderBy("doc_id", "novel_permille")
  }

  /** Unigram log-perplexity proxy — the classic LM-quality signal
    * (the C4/Gopher-family filters score documents with a cheap
    * language model and drop the tails; a corpus-fit unigram model is
    * its cheapest honest form). Fits the model and scores in one
    * pipeline: token df over the corpus (vocabulary-bounded shuffle
    * with map-side partials), token probabilities broadcast back onto
    * the token stream, per-doc mean negative log-prob in millinats.
    * Self-fit means no OOV: every scored token has corpus support.
    * High score = improbable token mix (gibberish, wrong-language,
    * boilerplate-free noise); low = stereotyped text.
    *
    * At 100 TB the only corpus-sized movement is the per-doc re-group;
    * the model itself stays vocabulary-sized (and would broadcast from
    * a dictionary table in a two-job fit/apply split if the vocabulary
    * outgrew a broadcast). */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val counts = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("total"))
    tok.join(broadcast(counts), Seq("tok"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(-log(col("cnt") / col("total"))).as("nll"))
      .select(col("doc_id"), col("n_tokens"),
        floor(col("nll") / col("n_tokens") * 1000 + 0.5).cast("long")
          .as("nll_millinats"))
      .orderBy("doc_id")
  }

  /** Source-diversity entropy per language: Shannon entropy (millinats)
    * of each language slice's source distribution — the mixture-health
    * check a corpus curator runs per shard/epoch (entropy collapsing
    * toward 0 means a language is effectively single-source, a
    * concentration risk for dedup and contamination). Two aggregations,
    * both bounded by |lang × source|, nothing corpus-sized moves twice. */
  def sourceEntropy(docs: DataFrame): DataFrame = {
    val per = docs.groupBy("lang", "source").agg(count(lit(1)).as("n"))
    per.groupBy("lang")
      .agg(sum("n").as("n_docs"),
        // -Σ p·ln p with p = n/n_docs, computed from the group totals:
        // sum(n·ln n) and n_docs suffice — H = ln N − Σ n·ln n / N
        sum(col("n") * log(col("n"))).as("snln"))
      .select(col("lang"), col("n_docs"),
        floor((log(col("n_docs")) - col("snln") / col("n_docs")) * 1000 + 0.5)
          .cast("long").as("entropy_millinats"))
      .orderBy(col("lang").asc_nulls_first)
  }

  /** Composite quality gate — the keep/drop decision stage of a
    * training-data filter pipeline (the Dolma/FineWeb shape: several
    * cheap signals, one decision, REASONS kept for auditing). Signals:
    * token count, average word length, and k-gram repetition
    * ([[repetitionScore]]'s formula; docs shorter than k score 0 — no
    * repetition evidence). `reason_bits` is an auditable bitmask
    * (1 = too short, 2 = too repetitive, 4 = word length out of band)
    * so downstream can report WHY documents dropped, re-admit a reason
    * class, or sample rejects per reason — dropping rows with a bare
    * boolean loses exactly that. All signals are integer column
    * arithmetic: one narrow codegen map, zero shuffles, and the whole
    * gate (including the repetition term) replays in the cross-engine
    * oracle. */
  def qualityGate(docs: DataFrame, minTokens: Long = 32,
                  maxRepPermille: Long = 10, minAwlPermille: Long = 4200,
                  maxAwlPermille: Long = 4800, k: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val staged = docs.select(col("doc_id"),
      tokenCountCol(col("text")).as("n_tokens"),
      awlPermilleCol.as("awl_permille"),
      split(col("text"), " ").as("ts"))
    val withRep = staged.select(
        Seq(col("doc_id"), col("n_tokens"), col("awl_permille")) ++ repInputs(k): _*)
      .select(col("doc_id"), col("n_tokens"), col("awl_permille"),
        coalesce(repPermilleCol, lit(0L)).as("rep_permille"))
    withRep.select(col("doc_id"), col("n_tokens"), col("awl_permille"), col("rep_permille"),
        (when(col("n_tokens") < minTokens, 1L).otherwise(0L)
          + when(col("rep_permille") > maxRepPermille, 2L).otherwise(0L)
          + when(col("awl_permille") < minAwlPermille
              || col("awl_permille") > maxAwlPermille, 4L).otherwise(0L))
          .as("reason_bits"))
      .withColumn("keep", when(col("reason_bits") === 0L, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  /** Per-source corpus datasheet — the one-table summary a data card
    * actually prints: volume (docs / tokens / chars), exact-duplicate
    * rate, [[qualityGate]] keep rate, and mean document length, one
    * row per source. Composes the board's per-signal operators
    * (x01 exact dedup, x43 gate) into the per-source roll-up a corpus
    * release reviews first; thresholds are the gate's.
    *
    * Scale shape: every signal (fingerprint, token/char counts, gate
    * bits) is computed row-locally on the scan and carried into ONE
    * per-source aggregate; the exact-dup count is a two-phase distinct
    * keyed by (source, fingerprint) — digests shuffle, bodies never.
    *
    * @return (source, n_docs, n_tokens, n_chars, dup_permille,
    *         keep_permille, mean_tokens), ordered by source. */
  def corpusDatasheet(docs: DataFrame, minTokens: Long = 32,
                      maxRepPermille: Long = 10, minAwlPermille: Long = 4200,
                      maxAwlPermille: Long = 4800, k: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val staged = docs.select(col("source"), md5(col("text")).as("__fp"),
      tokenCountCol(col("text")).as("__nt"),
      length(col("text")).cast("long").as("__nc"),
      awlPermilleCol.as("__awl"), split(col("text"), " ").as("ts"))
    staged.select(Seq(col("source"), col("__fp"), col("__nt"), col("__nc"),
        col("__awl")) ++ repInputs(k): _*)
      .select(col("source"), col("__fp"), col("__nt"), col("__nc"), col("__awl"),
        coalesce(repPermilleCol, lit(0L)).as("__rep"))
      .withColumn("__keep",
        when(col("__nt") >= minTokens && col("__rep") <= maxRepPermille
          && col("__awl") >= minAwlPermille && col("__awl") <= maxAwlPermille,
          1L).otherwise(0L))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("__nt").as("n_tokens"),
        sum("__nc").as("n_chars"), countDistinct(col("__fp")).as("__uniq"),
        sum("__keep").as("__nk"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        expr("1000 - (__uniq * 1000) div n_docs").as("dup_permille"),
        expr("(__nk * 1000) div n_docs").as("keep_permille"),
        expr("n_tokens div n_docs").as("mean_tokens"))
      .orderBy("source")
  }

  /** Length-bucketed dynamic-batching plan — the padding bill of the
    * OTHER sequence layout: where [[packSequences]] concatenates and
    * cuts (zero pad, cross-doc attention — priced by
    * [[packAdjacency]]), dynamic batching groups similar-length
    * documents and pads each batch to its longest member (clean
    * attention, padded compute). Per length bucket: document count,
    * the bucket's max length (what a batch drawn from it pads to),
    * real token mass, and the pad share — the table that decides
    * bucket width, or that packing wins outright.
    *
    * One row-local token count + ONE map-side-combined bucket
    * aggregate; buckets are `n_tokens div bucketTokens`, so the output
    * is bounded by max-doc-length / width, never data-scale.
    *
    * @return (bucket, lo_tokens, n_docs, max_tokens, sum_tokens,
    *         pad_permille), ordered by bucket. */
  def batchPlan(docs: DataFrame, bucketTokens: Long = 64L): DataFrame = {
    require(bucketTokens >= 1, s"bucketTokens ($bucketTokens) must be >= 1")
    docs.select(tokenCountCol(col("text")).as("__nt"))
      .withColumn("bucket", expr(s"__nt div $bucketTokens"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), max("__nt").as("max_tokens"),
        sum("__nt").as("sum_tokens"))
      .select(col("bucket"), (col("bucket") * lit(bucketTokens)).as("lo_tokens"),
        col("n_docs"), col("max_tokens"), col("sum_tokens"),
        expr("""((n_docs * max_tokens - sum_tokens) * 1000)
             div (n_docs * max_tokens)""").as("pad_permille"))
      .orderBy("bucket")
  }

  /** Per-source character-class profile — the encoding-health /
    * symbol-ratio audit (the Gopher-rule family's character tier):
    * alpha, digit, space and other shares per feed. A feed whose
    * `other_permille` jumps shipped mojibake, markup, or a tokenizer-
    * hostile symbol soup — caught at the char level before the
    * token-level gates ([[qualityGate]], x43) even see words.
    *
    * Each class count is a row-local length-difference after a global
    * regexp strip (codegen'd, no explode — the corpus never unpivots
    * to characters); ONE per-source aggregate. Permilles are exact
    * integer truncating division; a source of empty texts reads NULL.
    *
    * @return (source, n_chars, alpha_permille, digit_permille,
    *         space_permille, other_permille), ordered by source. */
  def charClassProfile(docs: DataFrame): DataFrame = {
    def cnt(re: String) = (length(col("text"))
      - length(regexp_replace(col("text"), re, ""))).cast("long")
    docs.select(col("source"), length(col("text")).cast("long").as("__nc"),
        cnt("[A-Za-z]").as("__al"), cnt("[0-9]").as("__di"),
        cnt(" ").as("__sp"))
      .groupBy("source")
      .agg(sum("__nc").as("n_chars"), sum("__al").as("__a"),
        sum("__di").as("__d"), sum("__sp").as("__s"))
      .select(col("source"), col("n_chars"),
        expr("case when n_chars = 0 then null else (__a * 1000) div n_chars end")
          .as("alpha_permille"),
        expr("case when n_chars = 0 then null else (__d * 1000) div n_chars end")
          .as("digit_permille"),
        expr("case when n_chars = 0 then null else (__s * 1000) div n_chars end")
          .as("space_permille"),
        expr("""case when n_chars = 0 then null
             else ((n_chars - __a - __d - __s) * 1000) div n_chars end""")
          .as("other_permille"))
      .orderBy("source")
  }

  /** Content-defined chunking (CDC) dedup profile — the
    * shift-resilient chunk dedup of the rsync/LBFS/backup-dedup
    * family: where [[chunkDupProfile]] (x235) cuts on a FIXED token
    * grid (one inserted sentence shifts every later boundary and hides
    * every downstream dup), CDC cuts where the CONTENT says so — a
    * token position opens a new chunk iff its k-gram rolling hash ≡ 0
    * mod `divisor` — so boundaries re-synchronize right after an edit
    * and shared spans between near-identical documents land in
    * identical chunks. Per source: chunk count, token mass, chunk-level
    * dup share (the storage-dedup ratio) and mean chunk size
    * (≈ divisor tokens by construction).
    *
    * Boundaries, slices and digests are ALL row-local (the positional
    * hash array rides the scan via the codegen'd `gram_hashes`); the
    * only shuffle is the per-source distinct on 16-byte chunk digests —
    * chunk bodies never shuffle. Docs shorter than k tokens are one
    * whole-doc chunk.
    *
    * @return (source, n_chunks, n_chunk_tokens, dup_permille,
    *         mean_chunk_tokens), ordered by source. */
  def cdcChunkProfile(docs: DataFrame, k: Int = 3,
                      divisor: Long = 16L): DataFrame =
    cdcProfileFromState(cdcChunkState(docs, k, divisor))

  /** The (source, chunk-digest) row table behind [[cdcChunkProfile]] —
    * chunks are doc-local, so the table is ADDITIVE in the documents:
    * state per ingest batch, [[mergeCdcStates]] to combine,
    * [[cdcProfileFromState]] to read the profile — the x254/x276
    * incremental discipline applied to the storage-dedup index (and
    * the state table IS that index: digest → occurrence count).
    * Spec-pinned append law: merge(state(A), state(B)) reads the same
    * profile as the one-shot over A ∪ B. */
  def cdcChunkState(docs: DataFrame, k: Int = 3,
                    divisor: Long = 16L): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    require(divisor >= 1, s"divisor ($divisor) must be >= 1")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.filter(col("text").isNotNull)
      .select(col("source"), split(col("text"), " ").as("ts"))
      .withColumn("hs", call_function("gram_hashes", col("ts"), lit(k)))
      // the cut scan is transform-with-index so the lambda reads its
      // ELEMENT, never re-evaluates the hash array: a lambda body that
      // captured `hs` would inline the whole gram_hashes expression
      // per position after projection collapse — measured 50× on the
      // sf0.1 board (per-position re-hash of the whole document)
      .withColumn("starts", expr(s"""concat(array(0),
          filter(transform(hs,
              (h, i) -> IF(i >= 1 AND h % $divisor = 0, i, -1)),
            x -> x >= 0))"""))
      .withColumn("chunks", expr("""zip_with(starts,
          concat(slice(starts, 2, size(starts) - 1), array(size(ts))),
          (s, e) -> named_struct('nt', e - s,
            'fp', md5(array_join(slice(ts, s + 1, e - s), ' '))))"""))
      .select(col("source"), explode(col("chunks")).as("c"))
      // a digest determines its text, hence its token count — per
      // (source, fp) the count and token mass are the whole state
      .groupBy(col("source"), col("c.fp").as("fp"))
      .agg(count(lit(1)).as("n"), sum(col("c.nt").cast("long")).as("nt"))
  }

  /** Cell-wise sum of two [[cdcChunkState]] tables. */
  def mergeCdcStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("source", "fp")
      .agg(sum("n").as("n"), sum("nt").as("nt"))

  /** Read the [[cdcChunkProfile]] row set off a state table alone. */
  def cdcProfileFromState(state: DataFrame): DataFrame =
    state.groupBy("source")
      .agg(sum("n").as("n_chunks"), sum("nt").as("n_chunk_tokens"),
        count(lit(1)).as("__uniq"))
      .select(col("source"), col("n_chunks"), col("n_chunk_tokens"),
        expr("1000 - (__uniq * 1000) div n_chunks").as("dup_permille"),
        expr("n_chunk_tokens div n_chunks").as("mean_chunk_tokens"))
      .orderBy("source")

  /** MEASURED vocabulary-size coverage curve — the tokenizer-budget
    * axis of the measured-curve family (x262 banding recall, x264
    * signature size, x272 dedup threshold): per candidate vocab size V
    * the exact token mass a top-V vocabulary covers. "8k types already
    * cover 987‰ of the stream" is the row a vocab-size decision needs;
    * [[vocabCoverage]] (x91) audits ONE given vocabulary — this prices
    * the whole ladder. Exactness under ties: every token of equal
    * count contributes the same mass, so WHICH of the tied tokens
    * fills the last slots cannot change coverage — the curve is
    * well-defined without a tie rule.
    *
    * Shape: one token count (vocabulary-bounded, map-side combined),
    * folded to its count-of-counts table (the x144 f-of-f discipline —
    * windows run over THAT bounded table, never the vocabulary), then
    * each candidate size V reads its one straddling row by a broadcast
    * range join. Adding a size re-reads the ladder, never the corpus.
    *
    * @return (vocab_size, n_tokens_kept, covered_mass,
    *         coverage_permille), ordered by vocab_size. */
  def vocabSizeCurve(docs: DataFrame,
                     sizes: Seq[Long] = Seq(1000L, 2000L, 4000L, 8000L)): DataFrame = {
    require(sizes.nonEmpty && sizes == sizes.sorted
      && sizes.distinct == sizes && sizes.head >= 1,
      s"sizes ($sizes) must be non-empty, sorted, distinct, >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cnt = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val lad = cnt.groupBy("c").agg(count(lit(1)).as("nt"))
      .withColumn("tok_before", coalesce(sum("nt").over(w), lit(0L)))
      .withColumn("mass_before",
        coalesce(sum(expr("nt * c")).over(w), lit(0L)))
    val tot = cnt.agg(count(lit(1)).as("n_vocab"),
      sum("c").as("total_mass"))
    val rs = docs.sparkSession.range(sizes.size)
      .select(element_at(array(sizes.map(lit): _*),
        col("id").cast("int") + 1).as("vocab_size"))
    rs.join(broadcast(lad),
        col("vocab_size") > col("tok_before")
          && col("vocab_size") <= col("tok_before") + col("nt"), "left")
      .crossJoin(broadcast(tot))
      .select(col("vocab_size"),
        least(col("vocab_size"), col("n_vocab")).as("n_tokens_kept"),
        coalesce(col("mass_before")
            + (col("vocab_size") - col("tok_before")) * col("c"),
          col("total_mass")).as("covered_mass"),
        expr("""case when total_mass = 0 then null
             else (coalesce(mass_before + (vocab_size - tok_before) * c,
               total_mass) * 1000) div total_mass end""")
          .as("coverage_permille"))
      .orderBy("vocab_size")
  }

  /** Multimodal metadata projection: treat the payload as opaque bytes +
    * typed metadata (byte length, content hash). For real image/audio
    * the `content` column is BinaryType from the source; here the text
    * corpus stands in via utf-8 encode. */
  def mediaMeta(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      sha2(col("text"), 256).as("sha"))
      .orderBy("doc_id")

  /** Exact corpus-wide heavy hitters: whitespace tokens with total
    * count ≥ minCount. One explode + one map-side-combined groupBy —
    * the vocabulary (distinct tokens) is what shuffles, not the corpus.
    * Fine to ~10⁹ distinct tokens; past that, switch to the sketch
    * form [[heavyHittersCms]] — this exact form is the
    * oracle-checkable contract the sketch is validated against. */
  def heavyHitters(docs: DataFrame, minCount: Long): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .orderBy("tok", "n")

  /** Per-group tokenizer-fertility stats: docs, whitespace tokens,
    * characters, and chars-per-kilotoken for each group (language,
    * source) — the compression-ratio table that decides per-language
    * token budgets (a language at 9 chars/token buys ~3× fewer
    * documents per token than one at 3; α-sampling over RAW doc
    * counts silently misbudgets without it).
    *
    * One aggregation pass, all counts integer-exact: tokens via the
    * LENGTH-difference identity (no token array materialized), chars
    * via length(). Groups with a NULL key are excluded. The ratio is
    * integer permille-of-a-token arithmetic — engine-exact.
    *
    * @return (grp, n_docs, n_tokens, n_chars, chars_per_kilotoken),
    *         ordered by grp. */
  def fertilityStats(docs: DataFrame, groupCol: String): DataFrame =
    docs.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCountCol(col("text")).cast("long")).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars"))
      .select(col("grp"), col("n_docs"), col("n_tokens"), col("n_chars"),
        expr("(n_chars * 1000) div n_tokens").as("chars_per_kilotoken"))
      .orderBy("grp")

  /** Cumulative vocabulary coverage curve: the top-m corpus tokens by
    * frequency, each with its prefix's cumulative share of ALL token
    * occurrences — "how much of the corpus do the top m tokens
    * cover". This is the table that sizes a tokenizer vocabulary (the
    * elbow where the cumulative share flattens is the vocab size worth
    * paying for) and exposes boilerplate: a single token covering
    * several percent of a web corpus is a template artifact, not
    * language.
    *
    * One (token) aggregation with map-side combine; the top-m cut is
    * orderBy+limit — TakeOrderedAndProject, never a global sort; the
    * running sum windows over the m-ROW table (single task, bounded by
    * the parameter m, not the corpus). The denominator still counts
    * every occurrence, so shares are corpus-true even for m ≪ vocab.
    * At web scale (vocab too large for the exact count table) feed the
    * [[heavyHittersCms]] candidate set instead.
    *
    * @return (rank, tok, n, cum_permille), rank 1..m by (n DESC, tok). */
  def vocabCoverage(docs: DataFrame, m: Int): DataFrame = {
    require(m >= 1, s"m ($m) must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val counts = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").as("total"))
    val byFreq = Window.orderBy(col("n").desc, col("tok"))
    counts.orderBy(col("n").desc, col("tok")).limit(m)
      .withColumn("rank", row_number().over(byFreq).cast("long"))
      .withColumn("cum", sum("n").over(byFreq))
      .crossJoin(total)
      // cum·1000 stays below 2⁶³ to ~10¹⁵ corpus tokens (ANSI-safe)
      .select(col("rank"), col("tok"), col("n"),
        expr("(cum * 1000) div total").as("cum_permille"))
      .orderBy("rank")
  }

  /** Per-GROUP heavy hitters: the top-m most frequent tokens within
    * each group (language, source, time bucket) — the per-stratum
    * boilerplate/stopword census a mixed corpus needs, where a global
    * census ([[heavyHitters]]) drowns every minority language under
    * the majority's tokens.
    *
    * One (group, token) aggregation with map-side combine, then the
    * rank window runs over the VOCABULARY-BOUNDED counts table
    * partitioned by group — never over raw occurrences, so the skew
    * ceiling is a group's distinct-token count, not its corpus share.
    * Ties break by token text (deterministic, engine-portable).
    *
    * @return (group, tok, n, rank), rank ≤ m per group, ordered. */
  def heavyHittersByGroup(docs: DataFrame, groupCol: String, m: Int): DataFrame = {
    require(m >= 1, s"m ($m) must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(col(groupCol).as("grp"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("grp").isNotNull)
      .groupBy("grp", "tok").agg(count(lit(1)).as("n"))
    counts
      .withColumn("rank", row_number().over(
        Window.partitionBy("grp").orderBy(col("n").desc, col("tok"))))
      .filter(col("rank") <= m)
      .select(col("grp"), col("tok"), col("n"), col("rank").cast("long").as("rank"))
      .orderBy("grp", "rank", "tok", "n")
  }

  /** Sketch heavy hitters — the at-scale path when even the distinct
    * vocabulary is too large to shuffle (≫10⁹ tokens: web-scale
    * n-grams, URLs, user ids).
    *
    * Two corpus scans, NO vocabulary shuffle:
    *  1. fold all token occurrences into a count-min sketch of
    *     width 2/ε × depth ln(1/(1−confidence)) — fixed size
    *     (~2.7 MB at ε=1e-5), merged tree-wise across partitions;
    *  2. re-scan, probe the sketch per occurrence (native codegen'd
    *     `cms_estimate`, deserialized once per task) and keep only
    *     occurrences whose estimate clears minCount — the only rows
    *     that ever reach the final tiny groupBy.
    *
    * CMS guarantees (one-sided): estimate ≥ true count always, and
    * ≤ true count + ε·N with probability ≥ confidence (N = total
    * occurrences). Hence NO FALSE NEGATIVES — every truly-heavy token
    * is returned — and any false positive is within ε·N of the bar.
    * Estimated counts are sketch-seed-specific (rule 6: rows-only
    * driver check; the ε bound and the no-false-negative contract are
    * spec-asserted against the exact form).
    *
    * @return (tok, n_est) for tokens whose ESTIMATED count ≥ minCount. */
  def heavyHittersCms(docs: DataFrame, minCount: Long, eps: Double = 0.001,
                      confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    require(eps > 0 && eps < 1, s"eps ($eps) must be in (0, 1)")
    require(confidence > 0 && confidence < 1,
      s"confidence ($confidence) must be in (0, 1)")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
    val sketch = toks.stat.countMinSketch("tok", eps, confidence, seed)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      sketch.writeTo(bos)
      bos.toByteArray
    }
    toks.select(col("tok"),
        call_function("cms_estimate", col("tok"), lit(bytes)).as("n_est"))
      .filter(col("n_est") >= minCount)
      // every surviving occurrence of a token carries the same
      // estimate; the group both dedups and is bounded by heavy-token
      // occurrences, not the vocabulary
      .groupBy("tok").agg(max("n_est").as("n_est"))
      .orderBy("tok", "n_est")
  }

  /** Vocabulary build + token-id encoding — the final tokenizer-prep
    * step of a training pipeline: fit a frequency-ranked vocabulary of
    * size `vocabSize` over the corpus, then encode every document as
    * the comma-joined id sequence (OOV → 0). Ids are 1-based ranks by
    * (count DESC, token ASC) — fully deterministic, including the
    * cut boundary at vocabSize.
    *
    * Scale shape: the vocabulary fit is a vocabulary-bounded groupBy
    * (tokens, not documents, bound the shuffle) and the top-V cut is
    * `ORDER BY … LIMIT V` → TakeOrderedAndProject (per-partition heaps,
    * never a global sort); id assignment ranks only the V surviving
    * rows. Encoding is a broadcast join of the V-row vocabulary onto
    * the exploded tokens, re-assembled per doc with a bounded-by-
    * doc-length collect_list — no corpus-sized sort anywhere.
    *
    * @return (doc_id, ids_csv, n_tok, n_oov), ordered by doc_id. */
  def vocabEncode(docs: DataFrame, vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize ($vocabSize) must be >= 1")
    val tk = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val vocab = tk.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(vocabSize)
      // rank over the V-row survivor set only (single tiny partition)
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("tok"))).cast("long"))
      .select("tok", "id")
    tk.join(broadcast(vocab), Seq("tok"), "left")
      .withColumn("id", coalesce(col("id"), lit(0L)))
      .groupBy("doc_id")
      .agg(
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("pos"), col("id")))),
          s => s("id").cast("string"))).as("ids_csv"),
        count(lit(1)).as("n_tok"),
        sum(when(col("id") === 0L, 1L).otherwise(0L)).as("n_oov"))
      .orderBy("doc_id")
  }

  /** Robust per-group outlier detection on document length — the
    * "garbage length" filter of a curation pipeline done properly:
    * median/MAD instead of mean/stddev, so the detector itself is not
    * dragged by the outliers it hunts (one 10 GB crawl artifact shifts
    * a mean; it does not move a median).
    *
    * Per group g: med_g = median(n_tok), mad_g = median(|n_tok −
    * med_g|); doc is an outlier iff 1000·|n_tok − med_g| >
    * kMilli·mad_g (kMilli = 3500 ≈ the classic 3.5·MAD fence). All
    * quantities are exact: token counts are integers, an interpolated
    * median of integers is x.0/x.5 (exact in double), and both fence
    * sides are products of exact doubles below 2⁵³ — deterministic and
    * cross-engine replayable, no float-comparison haze. mad = 0
    * (over half the group at the median) flags every deviating doc —
    * the conventional degenerate-MAD behavior.
    *
    * Scale shape: two grouped EXACT percentile passes (shuffle keyed
    * by group; `percentile` holds each group's value multiset — fine
    * while groups fit an executor; at petabyte group sizes swap in
    * `approx_percentile`, same plan shape) and two broadcast joins of
    * the |groups|-row stats tables back onto the docs. The doc table
    * itself shuffles only for the percentile aggregations.
    *
    * @return (doc_id, lang, n_tok, dev_milli) for outliers only,
    *         dev_milli = 1000·|n_tok − med| floor-cast to long. */
  /** Bigram surprisal — the CONTEXT-AWARE step up from
    * [[unigramSurprisal]]: per-doc mean negative log-likelihood under
    * an add-one-smoothed corpus bigram model, `NLL(w₁w₂) =
    * ln((c(w₁) + V) ∕ (c(w₁w₂) + 1))`. Word-salad text that fools a
    * unigram model (every word common, no pair ever seen) scores high
    * here — the quality signal is the TRANSITIONS, not the vocabulary.
    * Same determinism regime as x51: counts are exact integers, the
    * division is one exact-int ratio per bigram, and millinat rounding
    * absorbs summation-order ulps.
    *
    * Scale shape: bigrams derive ROW-LOCALLY (one transform over the
    * token array — no positional self-join); the count tables are
    * vocabulary-bounded aggregates, broadcast here and hash-joined
    * when a web-scale bigram vocabulary outgrows broadcast. Docs
    * shorter than 2 tokens have no bigram and are excluded.
    *
    * @return (doc_id, n_bigrams, nll_millinats) ordered by doc. */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val bi = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ts) - 2)," +
          " j -> struct(ts[j] AS w1, ts[j] || ' ' || ts[j + 1] AS bg))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.bg").as("bg"))
    val c2 = bi.groupBy("bg").agg(count(lit(1)).as("c2"))
    val c1 = docs.select(explode(split(col("text"), " ")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = c1.agg(count(lit(1)).as("v"))
    bi.join(broadcast(c2), Seq("bg"))
      .join(broadcast(c1), Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(log((col("c1") + col("v")) / (col("c2") + lit(1L)))).as("nll"))
      .select(col("doc_id"), col("n_bigrams"),
        floor(col("nll") / col("n_bigrams") * 1000 + 0.5).cast("long")
          .as("nll_millinats"))
      .orderBy("doc_id")
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * via Importance Resampling"): score every raw document by how much
    * more likely its hashed n-gram bag is under a TARGET corpus than
    * under the raw corpus — log w(d) = Σ_grams ln(p̂_target(b)/p̂_raw(b))
    * over `buckets` hashed gram buckets, add-one smoothed. Docs with
    * positive log-weight look like the target; resample by weight (or
    * threshold) to tilt a 100 TB crawl toward a curated distribution
    * without training a classifier.
    *
    * Scale shape: gram→bucket rows are row-local (native `gram_hashes`,
    * multiplicity kept — the multinomial counts occurrences, not
    * distincts); each side aggregates to a ≤`buckets`-row count table
    * (map-side combine), the ln-ratio table broadcasts back, and the
    * per-doc sum is ONE doc-keyed aggregation. Nothing data-scale
    * joins anything data-scale.
    *
    * Oracle parity: bucket = md5-derived gram hash mod `buckets`
    * (exact); ln over a single ratio per bucket,
    * (tcnt+1)·(qtot+B) / (qcnt+1)·(ttot+B), with each FACTOR cast to
    * double before the multiply — below 2⁵³ grams the products are
    * bit-identical to exact integer arithmetic, above it both engines
    * perform the same IEEE multiply (a Long product would overflow
    * ANSI arithmetic at ~10¹⁹, i.e. a few hundred GB of text per
    * side); per-doc float summation is absorbed by millinat
    * floor-rounding — the x77 discipline. Target buckets unseen in
    * raw contribute no term (no raw gram maps there); totals are FULL
    * corpus gram counts, so the smoothing constant is identical in
    * both engines. An EMPTY target (or raw) corpus is a configuration
    * error and fails loudly rather than emitting a uniform-prior
    * tilt nobody asked for.
    *
    * @return (doc_id, n_grams, logw_millinats) for every raw doc with
    *         ≥ gramK tokens, ordered by doc_id. */
  def dsirWeights(raw: DataFrame, target: DataFrame, gramK: Int = 2,
                  buckets: Int = 4096): DataFrame = {
    require(gramK >= 1, s"gramK ($gramK) must be >= 1")
    require(buckets >= 2 && buckets <= (1 << 24), s"buckets ($buckets) out of range")
    require(!target.isEmpty, "dsirWeights: target corpus is empty — the " +
      "importance ratio is undefined (every weight would be a NULL/uniform tilt)")
    graft.functions.GraftFunctions.register(raw.sparkSession)
    val b = lit(buckets.toLong)
    def gramBuckets(df: DataFrame) =
      df.select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= gramK)
        .select(col("doc_id"),
          explode(call_function("gram_hashes", col("toks"), lit(gramK))).as("h"))
        .select(col("doc_id"), pmod(col("h"), b).as("b"))
    val rawG = gramBuckets(raw)
    val tgtG = gramBuckets(target)
    val qc = rawG.groupBy("b").agg(count(lit(1)).as("qcnt"))
    val tc = tgtG.groupBy("b").agg(count(lit(1)).as("tcnt"))
    // totals re-derived from the bounded bucket tables (Σ counts ≡
    // corpus gram counts) — no second pass over the gram rows
    val tots = tc.agg(sum("tcnt").as("ttot"))
      .crossJoin(qc.agg(sum("qcnt").as("qtot")))
    // factors cast to double BEFORE the multiply: exact below 2^53,
    // same IEEE product in every engine above it, and never an ANSI
    // Long overflow (tcnt·qtot crosses 2^63 at ~hundreds of GB of text)
    val lnr = qc.join(tc, Seq("b"), "left").na.fill(0L, Seq("tcnt"))
      .crossJoin(tots)
      .select(col("b"), log(
        ((col("tcnt") + lit(1L)).cast("double") * (col("qtot") + b).cast("double")) /
        ((col("qcnt") + lit(1L)).cast("double") * (col("ttot") + b).cast("double"))).as("lnr"))
    rawG.join(broadcast(lnr), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        floor(sum(col("lnr")) * 1000 + 0.5).cast("long").as("logw_millinats"))
      .orderBy("doc_id")
  }

  /** Pattern redaction — the PII-scrubbing transform every published
    * training corpus runs (emails, URLs, phone numbers → placeholder
    * tokens). Each (name, regex, replacement) rule applies in order
    * via `regexp_replace` (global, codegen'd) with a per-rule match
    * count surfaced for audit — a scrub you can't measure is a scrub
    * you can't trust. Counts are measured on the ORIGINAL text (so
    * they are rule-order-independent); replacements then apply in
    * rule order. Row-local: zero shuffles, the transform rides
    * the corpus scan. Patterns must stay in the RE2 ∩ Java-regex
    * common dialect (character classes, quantifiers, alternation — no
    * backreferences or lookaround) so results are engine-portable.
    *
    * @return (doc_id, clean, n_<name> per rule) ordered by doc_id. */
  def redact(docs: DataFrame,
             rules: Seq[(String, String, String)] = Seq(
               ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
               ("url", "https?://[^ ]+", "<URL>"))): DataFrame = {
    require(rules.nonEmpty, "redact needs at least one rule")
    require(rules.map(_._1).distinct.size == rules.size,
      s"rule names must be unique: ${rules.map(_._1).mkString(",")}")
    val counted = rules.foldLeft(docs.select(col("doc_id"), col("text").as("clean"))) {
      case (d, (name, pattern, _)) =>
        d.withColumn(s"n_$name", regexp_count(col("clean"), lit(pattern)))
    }
    val cleaned = rules.foldLeft(counted) { case (d, (_, pattern, repl)) =>
      d.withColumn("clean", regexp_replace(col("clean"), pattern, repl))
    }
    cleaned.select(col("doc_id") +: col("clean") +:
        rules.map { case (name, _, _) => col(s"n_$name").cast("long") }: _*)
      .orderBy("doc_id")
  }

  def madOutliers(docs: DataFrame, kMilli: Long = 3500L): DataFrame = {
    require(kMilli > 0, s"kMilli ($kMilli) must be > 0")
    val toks = docs.select(col("doc_id"), col("lang"),
      tokenCountCol(col("text")).as("n_tok"))
    val med = toks.groupBy("lang")
      .agg(percentile(col("n_tok"), lit(0.5)).as("med"))
    val withMed = toks.join(broadcast(med), Seq("lang"))
      .withColumn("dev", abs(col("n_tok") - col("med")))
    val mad = withMed.groupBy("lang")
      .agg(percentile(col("dev"), lit(0.5)).as("mad"))
    withMed.join(broadcast(mad), Seq("lang"))
      .filter(col("dev") * lit(1000.0) > lit(kMilli.toDouble) * col("mad"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        floor(col("dev") * lit(1000.0)).cast("long").as("dev_milli"))
      .orderBy("doc_id", "lang", "n_tok", "dev_milli")
  }

  /** Padding-waste accounting for LENGTH-BUCKETED batching — the
    * standard fix for the O(max-len) padding cost of naive batching
    * when sequences can't be packed (masking constraints, inference
    * serving): route each document to the smallest power-of-two-ish
    * `ladder` rung that fits it, and report per bucket how much of the
    * padded capacity real tokens fill. `waste_permille = 1000 −
    * sum_tokens·1000 div (n_docs·bucket)` — all integer arithmetic.
    * One scan + a ≤|ladder|-row aggregate (map-side combined): the
    * planning pass a batcher runs to CHOOSE its ladder. Complements
    * [[packSequences]] (which eliminates padding by concatenation when
    * sequence boundaries may cross documents).
    *
    * @return (bucket, n_docs, sum_tokens, waste_permille). */
  def lengthBuckets(docs: DataFrame,
                    ladder: Seq[Long] = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L))
      : DataFrame = {
    require(ladder.nonEmpty && ladder == ladder.sorted && ladder.distinct == ladder,
      s"ladder (${ladder.mkString(",")}) must be strictly increasing")
    val nt = tokenCountCol(col("text"))
    // smallest ladder rung ≥ n_tokens; longer docs CLAMP into the top
    // rung (their waste goes negative — the signal that the ladder is
    // too short for the corpus, surfaced rather than hidden)
    val bucket = ladder.init.reverse.foldLeft(lit(ladder.last)) {
      (acc, b) => when(nt <= b, lit(b)).otherwise(acc)
    }
    docs.select(bucket.as("bucket"), nt.as("n_tok"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tokens"))
      .select(col("bucket"), col("n_docs"), col("sum_tokens"),
        expr("1000 - (sum_tokens * 1000) div (n_docs * bucket)")
          .as("waste_permille"))
      .orderBy("bucket")
  }

  /** Feature-HASHING document vectors (the hashing trick, Weinberger
    * et al. 2009): every token maps to one of `dim` buckets with a
    * hash-derived ±1 sign, and the document vector is the signed
    * bucket-count sum — the unsupervised featurization that needs NO
    * vocabulary build, no dictionary broadcast, and no OOV handling,
    * which is why it scales to any corpus unchanged. The signed sum
    * makes collisions cancel in expectation (the estimator is
    * unbiased — the property that separates the trick from plain
    * bucket counting).
    *
    * Determinism contract: bucket and sign come from ONE
    * [[Sampling.hashMod]] md5 draw (m ∈ [0, 2·dim): bucket = m mod
    * dim, sign = ±1 by m's high half) — engine-replayable, and the
    * whole vector is exact integer arithmetic. Output is the x53 CSV
    * discipline (`dim` comma-joined ints), with multiplicity counted
    * (two occurrences contribute twice — term frequency, not presence).
    *
    * Scale shape: token explode rides the scan; one (doc, bucket)
    * groupBy with map-side combine; the CSV packs via a
    * map_from_entries lookup over a literal index sequence — no
    * per-dimension joins, no pivot.
    *
    * @return (doc_id, fh_csv), ordered by doc_id. */
  def featureHash(docs: DataFrame, dim: Int = 16): DataFrame = {
    require(dim >= 2 && dim <= 4096, s"dim ($dim) must be in [2, 4096]")
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val m = Sampling.hashMod(col("tok"), 2L * dim)
    val sums = tok
      .select(col("doc_id"), pmod(m, lit(dim.toLong)).as("idx"),
        when(m >= dim, lit(1L)).otherwise(lit(-1L)).as("sgn"))
      .groupBy("doc_id", "idx").agg(sum("sgn").as("v"))
    sums.groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("idx"), col("v")))).as("mp"))
      .select(col("doc_id"),
        concat_ws(",", transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("mp"), i.cast("long")), lit(0L))))
          .as("fh_csv"))
      .orderBy("doc_id")
  }

  /** Skip-gram co-occurrence counts (word2vec / GloVe preparation):
    * directional token pairs (a at position i, b at i+1 … i+window)
    * with corpus frequency ≥ minCount — the co-occurrence matrix that
    * seeds every classical embedding trainer and doubles as a
    * collocation detector on a crawl.
    *
    * Scale shape: the pair derivation rides the scan as a row-local
    * HOF chain (sequence → slice → struct — no self-join, no window,
    * no shuffle before aggregation); the ONE shuffle is the pair
    * groupBy with map-side combine, bounded by |vocab|²·window — and
    * in practice by the Zipf mass, the same vocabulary-bounded shape
    * as `heavyHitters`. minCount prunes the long tail AFTER the
    * count (no false negatives); at web scale the standard extra
    * lever is pre-filtering both endpoints to the `vocabEncode`
    * top-V vocabulary, which caps the key space at V²·window.
    */
  /** The single copy of the windowed pair derivation + count, shared
    * by [[skipgramCounts]] and [[collocations]] so the two surfaces
    * cannot drift. UNFILTERED and unordered: callers apply their own
    * minCount bar (collocations needs the pre-filter total mass). */
  private def skipgramPairCounts(docs: DataFrame, window: Int): DataFrame =
    docs.select(split(col("text"), " ").as("ts"))
      .select(explode(expr(
        s"""flatten(transform(sequence(0, size(ts) - 1),
           |  i -> transform(slice(ts, i + 2, $window),
           |         b -> named_struct('a', ts[i], 'b', b))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n"))

  def skipgramCounts(docs: DataFrame, window: Int, minCount: Long): DataFrame = {
    require(window >= 1, s"window ($window) must be >= 1")
    require(minCount >= 1, s"minCount ($minCount) must be >= 1")
    skipgramPairCounts(docs, window)
      .filter(col("n") >= minCount)
      .orderBy("a", "b")
  }

  /** Collocation mining: the top-k skip-gram pairs by pointwise mutual
    * information — PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) ) with
    * p(a,b) = n_ab/P (P = total window-pair mass) and p(x) = n_x/N
    * (N = total tokens) — the Manning–Schütze collocation extractor,
    * the statistic that separates "of the" (frequent but expected)
    * from a true multiword unit (frequent AND surprising). minCount
    * kills the low-count pairs where PMI is pure noise.
    *
    * Scale shape: ONE pair derivation (the shared x114 HOF chain),
    * then everything runs on bounded tables — the pair table
    * (vocab²·window), the unigram table (vocab), two 1-row totals
    * broadcast in, and a TakeOrderedAndProject top-k. Float
    * discipline: exactly ONE ln per surviving pair over a fixed
    * left-associated double tree of exact integer counts, micronat
    * floor(x+0.5) — the x79/x97 ln contract.
    */
  def collocations(docs: DataFrame, window: Int, minCount: Long,
                   topK: Int): DataFrame = {
    require(window >= 1, s"window ($window) must be >= 1")
    require(minCount >= 1, s"minCount ($minCount) must be >= 1")
    require(topK >= 1, s"topK ($topK) must be >= 1")
    val pairs = skipgramPairCounts(docs, window)
      .withColumnRenamed("n", "n_ab")
    val uni = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val nTok = uni.agg(sum("n").as("nn"))
    val pTot = pairs.agg(sum("n_ab").as("pp"))
    val pmi = floor(log(
      col("n_ab").cast("double") * col("nn") * col("nn") /
        (col("pp").cast("double") * col("n_a") * col("n_b")))
      * lit(1000000d) + lit(0.5d)).cast("long")
    pairs.filter(col("n_ab") >= minCount)
      .join(broadcast(uni.select(col("tok").as("a"), col("n").as("n_a"))), "a")
      .join(broadcast(uni.select(col("tok").as("b"), col("n").as("n_b"))), "b")
      .crossJoin(broadcast(nTok))
      .crossJoin(broadcast(pTot))
      .select(col("a"), col("b"), col("n_ab"), pmi.as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Zipf power-law fit over token frequencies: least-squares slope
    * and intercept of ln(freq) on ln(rank) across the top-V tokens —
    * the one-row corpus health check (natural text sits near slope
    * −1; a template-heavy or deduplicated-to-death corpus drifts off
    * it, and the fit quantifies that drift).
    *
    * The count table is vocabulary-bounded with map-side combine; the
    * top-V cut is a TakeOrderedAndProject BEFORE the rank window, so
    * the (single-partition) window and the regression see ≤V rows —
    * driver-scale by construction, like `vocabCoverage`. Float
    * discipline: ONE ln per kept row, the regression's five sums over
    * ≤V doubles, one divide each for slope/intercept, then
    * floor(x·1000 + 0.5) — the x51/x82 millinat pattern.
    */
  def zipfFit(docs: DataFrame, topV: Int): DataFrame = {
    require(topV >= 2, s"topV ($topV) must be >= 2 to fit a line")
    import org.apache.spark.sql.expressions.Window
    val byFreq = Window.orderBy(col("n").desc, col("tok"))
    val xy = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(topV)
      .withColumn("r", row_number().over(byFreq))
      .select(log(col("r").cast("double")).as("x"),
        log(col("n").cast("double")).as("y"))
    xy.agg(count(lit(1)).cast("double").as("d"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("slope",
        (col("d") * col("sxy") - col("sx") * col("sy")) /
          (col("d") * col("sxx") - col("sx") * col("sx")))
      .select(col("d").cast("long").as("v"),
        floor(col("slope") * lit(1000d) + lit(0.5d)).cast("long")
          .as("slope_milli"),
        floor((col("sy") - col("slope") * col("sx")) / col("d") * lit(1000d)
          + lit(0.5d)).cast("long").as("intercept_milli"))
  }

  /** Per-document keyword extraction: the top-k tokens by tf/df
    * rarity score — the "what is this document ABOUT" tagger that
    * feeds topic routing and per-topic mixture reports. The score is
    * EXACT integer arithmetic (score_micro = tf·10⁶ div df): monotone
    * in term frequency and inversely in document frequency like
    * tf·idf, but with no float log anywhere — so ranking, tie-break
    * (score desc, then token), and therefore the whole output are
    * bit-stable cross-engine. Stopwords self-suppress (df ≈ corpus
    * size ⇒ score ≈ tf·10⁶/N → small) without a stopword list.
    *
    * Shape: one (doc, tok) tf aggregation with map-side combine, a
    * vocabulary-bounded df table equi-joined back on `tok`, and a
    * doc-PARTITIONED rank window — fully distributed; no global sort,
    * no driver state. */
  def keywordsTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_micro").desc, col("tok"))
    tf.join(dfreq, Seq("tok"))
      .withColumn("score_micro", expr("(tf * 1000000) div df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("tok"), col("tf"), col("df"),
        col("score_micro"))
      .orderBy("doc_id", "rank")
  }

  /** Winnowing fingerprint summary (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): per document, hash every token
    * k-gram, slide a window of `w` consecutive gram hashes, select the
    * MINIMUM hash of each window (leftmost position on hash ties), and
    * dedupe the selections — the guaranteed-coverage fingerprint set
    * (any shared substring of ≥ w+k−1 tokens yields ≥ 1 shared
    * fingerprint) that [[rollingHash]]'s single whole-doc value can't
    * give, at ~2/(w+1) the density of the full gram set. The summary
    * reports the selected-set size, its density, and the exact SUM of
    * selected hashes — a content checksum over the selection itself,
    * so two engines agreeing on this row agree on every fingerprint.
    *
    * Cross-engine determinism: the gram hash is the md5-derived 40-bit
    * integer (first 10 hex digits — the x02/x12 keying convention),
    * and the (hash, pos) argmin is PACKED into one comparable long,
    * hash·2²⁰ + pos, so the window reduction is a plain integer `min`
    * in any engine — no struct ordering semantics in play. Positions
    * must stay below 2²⁰ grams (≈10⁶ tokens/doc); longer docs should
    * be [[chunkByTokens]]-split first.
    *
    * Shape: grams explode row-locally (scan-side, no shuffle); the
    * ONE window is doc-PARTITIONed with a w-row frame; selection
    * dedupe and the summary are two aggregates on the same doc-hash
    * distribution. Docs with fewer than w grams (no full window) are
    * excluded, mirroring the shingle operators' too-short rule.
    *
    * @return (doc_id, n_grams, n_fps, density_permille, sel_sum)
    *         ordered by doc_id. */
  def winnowingFingerprints(docs: DataFrame, k: Int = 3,
                            w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k ($k) must be >= 1")
    require(w >= 1, s"w ($w) must be >= 1")
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= k + w - 1) // ≥ w grams ⇒ ≥ 1 full window
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(ts) - $k + 1)," +
          s" i -> concat_ws(' ', slice(ts, i, $k)))")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        (conv(substring(md5(col("col")), 1, 10), 16, 10).cast("long") *
          lit(1048576L) + col("pos")).as("key"))
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    val counts = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val sel = grams
      .withColumn("__sel", min("key").over(win))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("pos") <= col("__n") - w) // window-START rows only
      .select(col("doc_id"), col("__sel")).distinct()
    sel.groupBy("doc_id")
      .agg(count(lit(1)).as("n_fps"),
        sum(expr("__sel div 1048576")).as("sel_sum"))
      .join(counts, Seq("doc_id"))
      .select(col("doc_id"), col("n_grams"), col("n_fps"),
        expr("(n_fps * 1000) div n_grams").as("density_permille"),
        col("sel_sum"))
      .orderBy("doc_id")
  }

  /** Heaps-law vocabulary-growth curve: distinct-token count V(N) at a
    * ladder of corpus prefixes (by doc id) plus the fitted power-law
    * exponent β from `V ≈ K·N^β` — [[zipfFit]]'s companion
    * corpus-health statistic. Natural text sits near β ≈ 0.5; a curve
    * that flattens early (β → 0) means the corpus is template
    * boilerplate recombining a closed vocabulary — the "more data is
    * not more information" signal a scaling decision needs BEFORE
    * spending compute on another crawl batch.
    *
    * Shape: per-token first-doc (`min(doc_id)`) and per-doc token
    * counts are each ONE map-side-combined aggregation; the ladder is
    * `steps` rows derived from `max(doc_id)` (a driver scalar — the
    * broadcast-literal pattern) and both checkpoint rollups are
    * broadcast theta-joins against that `steps`-row table — scan mass
    * steps×|vocab| and steps×|docs| aggregate input, shuffle output
    * `steps` groups. The log-log regression runs over `steps` points
    * (the [[zipfFit]] tree; milli rounding absorbs the ≤steps-term
    * double-sum ulps).
    *
    * @return (k, d_max, cum_tokens, vocab, beta_milli) ordered by k. */
  def heapsGrowth(docs: DataFrame, steps: Int = 10): DataFrame = {
    require(steps >= 2 && steps <= 1000,
      s"steps ($steps) must be in [2, 1000] to fit a line")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val firstDoc = toks.groupBy("tok").agg(min("doc_id").as("fd"))
    val docTok = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("nt"))
    val maxId = docs.agg(max(col("doc_id")).cast("long")).head().getLong(0)
    val ladder = broadcast(
      (1 to steps).map(k => (k.toLong, maxId * k / steps)).toDF("k", "d_max"))
    val cum = docTok.join(ladder, col("doc_id") <= col("d_max"))
      .groupBy("k", "d_max").agg(sum("nt").as("cum_tokens"))
    val vocab = firstDoc.join(ladder, col("fd") <= col("d_max"))
      .groupBy("k", "d_max").agg(count(lit(1)).as("vocab"))
    val pts = cum.join(vocab, Seq("k", "d_max"))
    val fit = pts
      .select(log(col("cum_tokens").cast("double")).as("x"),
        log(col("vocab").cast("double")).as("y"))
      .agg(count(lit(1)).cast("double").as("d"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(floor(
        (col("d") * col("sxy") - col("sx") * col("sy")) /
          (col("d") * col("sxx") - col("sx") * col("sx")) * lit(1000d)
          + lit(0.5d)).cast("long").as("beta_milli"))
    pts.crossJoin(fit)
      .select(col("k"), col("d_max"), col("cum_tokens"), col("vocab"),
        col("beta_milli"))
      .orderBy("k")
  }

  /** Vocabulary-drift movers between two corpus snapshots: per-token
    * rates in parts-per-million on each side, the top-k tokens by
    * absolute rate delta — the token-level answer to "what CHANGED
    * between yesterday's corpus and today's" that [[sourceEntropy]]'s
    * scalar and a PSI headline can't name. Run after every ingest
    * batch: a token surging from nowhere is a spam campaign or a
    * scraper bug; a staple collapsing means a source went dark
    * ([[graft.operators.Behavior.dailyVolumeAnomaly]]'s corpus-content
    * twin).
    *
    * All arithmetic exact integer (rate_ppm = n·10⁶ div total), so the
    * ranking and the hash both replay. Shape: one vocabulary-bounded
    * count aggregation per side with map-side combine, totals as two
    * 1-row aggregates cross-joined on (the x101 combine shape), a
    * vocabulary-bounded full-outer join with zero coalesce, and a
    * TakeOrderedAndProject top-k — nothing data-scale shuffles.
    *
    * @return (tok, rate_a_ppm, rate_b_ppm, delta_ppm) top-k by
    *         (|delta| desc, tok). */
  def vocabDrift(a: DataFrame, b: DataFrame, topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK ($topK) must be >= 1")
    def counts(df: DataFrame, as: String): DataFrame =
      df.select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as(as))
    val ca = counts(a, "na")
    val cb = counts(b, "nb")
    val totals = ca.agg(sum("na").as("ta"))
      .crossJoin(cb.agg(sum("nb").as("tb")))
    ca.join(cb, Seq("tok"), "full_outer")
      .select(col("tok"), coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"))
      .crossJoin(broadcast(totals))
      .select(col("tok"),
        expr("(na * 1000000) div ta").as("rate_a_ppm"),
        expr("(nb * 1000000) div tb").as("rate_b_ppm"))
      .withColumn("delta_ppm", col("rate_b_ppm") - col("rate_a_ppm"))
      .orderBy(abs(col("delta_ppm")).desc, col("tok"))
      .limit(topK)
  }

  /** Doc-INITIAL boilerplate report: the distinct first-`prefixTokens`
    * token sequences shared by ≥ `minDocs` documents — crawl headers,
    * license banners, template preambles. Position is the signal a
    * global n-gram count ([[collocations]], heavy hitters) washes out:
    * a phrase that opens 4% of all documents is boilerplate even if
    * its corpus-wide frequency is unremarkable, and the doc-initial
    * slice is exactly what a strip-the-header cleaning pass removes.
    * Reported, not stripped — audit-first; the strip is a row-local
    * `substring` the caller applies to the flagged prefix set.
    *
    * Shape: ONE scan-side projection of each doc's literal prefix
    * text (exact join key, no hash) + a prefix-keyed count with
    * map-side combine — the report is bounded by distinct prefixes,
    * and share_ppm divides by a 1-row broadcast total.
    *
    * @return (prefix, n_docs, share_ppm) for prefixes hitting the
    *         bar, ordered by (n_docs desc, prefix). */
  /** SOURCE NOVELTY curve — vocabulary attribution across corpus
    * assembly: walking the sources in their deterministic
    * (lexicographic) order, how many DISTINCT tokens each source uses,
    * how many it is the FIRST to contribute, and the cumulative
    * vocabulary after it — the greedy-coverage read ("which feed still
    * adds language, which only repeats it") that sits behind
    * drop-the-redundant-source decisions, where [[heapsGrowth]] gives
    * the same curve over doc-id order and [[vocabDrift]] compares two
    * corpora pairwise. novelty_ppm = new/own: a low-novelty source is
    * CONTAINED by its predecessors' vocabulary, which is evidence for
    * dedup/downweight, not necessarily for dropping (frequency shifts
    * don't show here — that's [[dsirWeights]]' job).
    *
    * Exact: token sets, first-source by MIN over the lexicographic
    * order, integer ppm. The walk order is part of the semantics
    * (alphabetical — deterministic and engine-independent), not an
    * importance ranking.
    *
    * Scale shape: one (token, source) distinct pass, one MIN per
    * token, then everything runs on the |sources|-bounded table (the
    * cumulative window included — x126 discipline).
    *
    * @return (source, own_vocab, new_vocab, cum_vocab, novelty_ppm)
    *         ordered by source. */
  def sourceNoveltyReport(docs: DataFrame,
                          sourceCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ts = docs
      .filter(col(sourceCol).isNotNull && col("text").isNotNull)
      .select(col(sourceCol).as("source"),
        explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val own = ts.groupBy("source").agg(count(lit(1)).as("own_vocab"))
    val first = ts.groupBy("tok").agg(min("source").as("source"))
      .groupBy("source").agg(count(lit(1)).as("new_vocab"))
    val w = Window.orderBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    own.join(first, Seq("source"), "left")
      .select(col("source"), col("own_vocab"),
        coalesce(col("new_vocab"), lit(0L)).as("new_vocab"))
      .withColumn("cum_vocab", sum("new_vocab").over(w))
      .withColumn("novelty_ppm",
        expr("(new_vocab * 1000000) div own_vocab"))
      .orderBy("source")
  }

  def boilerplatePrefixReport(docs: DataFrame, prefixTokens: Int = 4,
                              minDocs: Long = 2L): DataFrame = {
    require(prefixTokens >= 1 && prefixTokens <= 64,
      s"prefixTokens ($prefixTokens) must be in [1, 64]")
    require(minDocs >= 2, s"minDocs ($minDocs) must be >= 2")
    val ts = split(col("text"), " ")
    val base = docs.filter(col("text").isNotNull)
      .select(array_join(slice(ts, 1, prefixTokens), " ").as("prefix"),
        (size(ts) >= prefixTokens).as("__full"))
      // docs shorter than the window have no full prefix to share
      .filter(col("__full"))
    val total = base.agg(count(lit(1)).as("__tot"))
    base.groupBy("prefix").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .crossJoin(broadcast(total))
      .select(col("prefix"), col("n_docs"),
        expr("(n_docs * 1000000) div __tot").as("share_ppm"))
      .orderBy(col("n_docs").desc, col("prefix"))
  }

  /** Pairwise SOURCE-VOCABULARY Jaccard — the cross-feed redundancy
    * matrix a mixture designer reads next to [[sourceNoveltyReport]]'s
    * cumulative walk: novelty says "what does each feed add over its
    * predecessors"; this says which PAIRS of feeds speak the same
    * language (high Jaccard ⇒ syndication/mirroring candidates worth
    * a cross-source dedup pass; low ⇒ genuinely complementary
    * coverage). Token-set granularity deliberately — it is the
    * cheapest honest signal, and pairs it flags get the expensive
    * document-level treatment ([[graft.operators.Dedup]]).
    *
    * Shape: ONE distinct (source, token) pass (vocabulary·|S|-bounded,
    * map-side combined), eagerly materialized — three consumers (own
    * counts + both sides of the pair join) would otherwise re-run the
    * corpus-scale distinct (the x182 lesson). The token-keyed self-
    * join fans out |sources-containing-token|² per token — bounded by
    * |S|² per token and in practice by co-occurrence; at very large
    * |S| prune stopword-grade tokens first (they pair every source
    * with every source and carry no signal). Output is ≤ C(|S|,2)
    * rows. Exact integer Jaccard, trunc division.
    *
    * @return (src_a, src_b, vocab_a, vocab_b, n_shared,
    *         jaccard_permille) for sharing pairs, src_a < src_b,
    *         ordered. */
  def sourceVocabOverlap(docs: DataFrame,
                         sourceCol: String = "source"): DataFrame = {
    val ts = docs
      .filter(col(sourceCol).isNotNull && col("text").isNotNull)
      .select(col(sourceCol).as("source"),
        explode(split(col("text"), " ")).as("tok"))
      .distinct()
      .localCheckpoint(true)
    val own = ts.groupBy("source").agg(count(lit(1)).as("vocab"))
    ts.select(col("source").as("src_a"), col("tok"))
      .join(ts.select(col("source").as("src_b"), col("tok")), Seq("tok"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
      .join(own.select(col("source").as("src_a"), col("vocab").as("vocab_a")),
        Seq("src_a"))
      .join(own.select(col("source").as("src_b"), col("vocab").as("vocab_b")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("vocab_a"), col("vocab_b"),
        col("n_shared"),
        expr("(n_shared * 1000) div (vocab_a + vocab_b - n_shared)")
          .as("jaccard_permille"))
      .orderBy("src_a", "src_b")
  }

  /** Per-source PII DENSITY — the governance rollup over [[redact]]'s
    * rule family: which FEED carries how much scrub-target material,
    * normalized per million characters so a verbose source doesn't
    * read as a dirty one. The per-doc transform ([[redact]]) cleans;
    * this report tells the curator where cleaning budget goes, which
    * feeds need upstream fixes, and (rate ≈ 0) which are already safe
    * — the measure-before-scrub half of the audit-then-act loop
    * (x206/x207's discipline, applied to content instead of keys).
    *
    * Counts measure the ORIGINAL text with [[redact]]'s own default
    * patterns (RE2 ∩ Java dialect — engine-portable), so this report
    * and a subsequent redact run see the identical hit set. NULL
    * texts count as documents with zero characters and zero hits.
    *
    * Shape: a row-local regexp_count projection riding the scan, then
    * ONE map-side-combined source-keyed aggregation — bodies never
    * shuffle, output is |sources| rows. Exact integers, trunc
    * division; a zero-char source reports NULL rates, not a crash.
    *
    * @return (source, n_docs, n_chars, n_email, n_url,
    *         email_per_mchar, url_per_mchar) ordered by source. */
  def piiDensityReport(docs: DataFrame,
                       sourceCol: String = "source"): DataFrame = {
    val rules = Seq(
      ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
      ("url", "https?://[^ ]+"))
    val perDoc = rules.foldLeft(
      docs.select(col(sourceCol).as("source"),
        coalesce(length(col("text")), lit(0)).cast("long").as("__chars"),
        col("text"))) {
      case (d, (name, pat)) =>
        d.withColumn(s"__n_$name",
          coalesce(regexp_count(col("text"), lit(pat)).cast("long"), lit(0L)))
    }
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("__chars").as("n_chars"),
        sum("__n_email").as("n_email"), sum("__n_url").as("n_url"))
      .select(col("source"), col("n_docs"), col("n_chars"),
        col("n_email"), col("n_url"),
        expr("case when n_chars = 0 then null " +
          "else (n_email * 1000000) div n_chars end").as("email_per_mchar"),
        expr("case when n_chars = 0 then null " +
          "else (n_url * 1000000) div n_chars end").as("url_per_mchar"))
      .orderBy("source")
  }

  /** CHUNK-POSITION duplication profile — where in documents does
    * duplication live? [[chunkTokens]] lays the corpus out exactly as
    * an embedding/retrieval pipeline will consume it; this audit
    * fingerprints every chunk and reports, PER CHUNK POSITION, the
    * share of chunk occurrences whose text also occurs elsewhere in
    * the corpus. A dup rate concentrated at chunk 0 is header
    * boilerplate ([[boilerplatePrefixReport]]'s signal at ingestion
    * granularity — but measured on the chunks that will actually be
    * embedded); a flat profile is whole-document duplication the
    * doc-level dedup already handles; a tail spike is footer/license
    * text. The read decides WHICH scrubber runs before chunks are
    * paid for at embedding time.
    *
    * Shape: the chunking is a row-local narrow map; fingerprints
    * (md5 — digests shuffle, chunk bodies never) feed one global
    * count aggregation and one digest-keyed join back, then the
    * |max-chunks-per-doc|-bounded position aggregation. The digest
    * table is eagerly materialized — both the count and the join
    * consume it, and lazily the corpus-scale chunking would execute
    * twice (the x182 lesson).
    *
    * @return (chunk_id, n_chunks, n_dup, dup_ppm) ordered by
    *         chunk_id. */
  def chunkDupProfile(docs: DataFrame, chunkTokensN: Int = 32): DataFrame = {
    val ch = chunksRaw(docs.filter(col("text").isNotNull), chunkTokensN, 0)
      .select(col("chunk_id"), md5(col("chunk_text")).as("__f"))
      .localCheckpoint(true)
    val cnt = ch.groupBy("__f").agg(count(lit(1)).as("__c"))
    ch.join(cnt, Seq("__f"))
      .groupBy("chunk_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__c") > 1L, 1L).otherwise(0L)).as("n_dup"))
      .select(col("chunk_id"), col("n_chunks"), col("n_dup"),
        expr("(n_dup * 1000000) div n_chunks").as("dup_ppm"))
      .orderBy("chunk_id")
  }

  /** Per-source HAPAX share — what fraction of each feed's vocabulary
    * occurs exactly ONCE in the whole corpus. The gibberish/OCR-noise
    * smoke detector: natural language runs a stable hapax rate
    * (Zipf's tail, ~40-60% of vocab), so a source far ABOVE its peers
    * is minting junk tokens (OCR errors, hex blobs, mojibake) and a
    * source far BELOW is template text re-spinning a tiny vocabulary.
    * Complements [[sourceNoveltyReport]] (first-SOURCE attribution —
    * order-dependent) and [[zipfFit]] (global shape): hapax-ness is a
    * corpus-frequency property, order-free, read per feed.
    *
    * Shape: ONE (source, token)-keyed count (map-side combined,
    * vocabulary·|S|-bounded out — it doubles as the occurrence table),
    * one token-keyed total over THAT bounded table, one source-keyed
    * rollup. Bodies never shuffle twice; exact integers, trunc div.
    *
    * @return (source, vocab, n_hapax, hapax_ppm) ordered by source. */
  def hapaxShareReport(docs: DataFrame,
                       sourceCol: String = "source"): DataFrame = {
    val st = docs
      .filter(col(sourceCol).isNotNull && col("text").isNotNull)
      .select(col(sourceCol).as("source"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("__n"))
      .localCheckpoint(true)
    val tot = st.groupBy("tok").agg(sum("__n").as("__t"))
    st.join(tot, Seq("tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("__t") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("vocab"), col("n_hapax"),
        expr("(n_hapax * 1000000) div vocab").as("hapax_ppm"))
      .orderBy("source")
  }

  /** Per-source unigram KL divergence from the corpus — the scalar
    * "how far does this feed's language sit from the mixture" next to
    * [[vocabDrift]]'s top movers and [[sourceVocabOverlap]]'s pairwise
    * sets: KL(source ‖ corpus) ≈ 0 marks a feed that is linguistically
    * redundant with the blend; a large KL marks the domain-shifted
    * feed whose weight actually buys diversity (and whose loss will
    * spike if it is down-sampled away). Mean per-token micronats —
    * comparable across sources of different size.
    *
    * Exactness: KL = Σ_t (c_st/n_s)·ln((c_st/n_s)/(c_t/N)) is
    * reassembled so every ln takes an INTEGER count (the x227
    * discipline — one rounded ln per distinct value, never a float
    * ratio): term_t = c_st·(lnµ(c_st) − lnµ(n_s) − lnµ(c_t) + lnµ(N)),
    * an exact integer, summed in DECIMAL(38,0) (a 10¹²-token source's
    * terms pass 2⁶³), one truncating div by n_s at the end. Honest to
    * ~4 µnat/term rounding.
    *
    * Shape: ONE (source, token) count (map-side combined — it doubles
    * as the term table), token totals and source totals derived from
    * THAT bounded table, the 1-row corpus total broadcast. Bodies
    * shuffle once.
    *
    * @return (source, n_tokens, vocab, kl_micronat) ordered by
    *         source. */
  def sourceKlReport(docs: DataFrame,
                     sourceCol: String = "source"): DataFrame = {
    def lnMicro(c: Column): Column =
      floor(log(c.cast("double")) * lit(1e6) + lit(0.5d)).cast("long")
    val st = docs
      .filter(col(sourceCol).isNotNull && col("text").isNotNull)
      .select(col(sourceCol).as("source"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val ns = st.groupBy("source").agg(sum("__c").as("__ns"))
    val ct = st.groupBy("tok").agg(sum("__c").as("__ct"))
    val total = ns.agg(sum("__ns").as("__n"))
    st.join(ct, Seq("tok"))
      .join(ns, Seq("source"))
      .crossJoin(broadcast(total))
      .select(col("source"), col("__ns"),
        (col("__c") * (lnMicro(col("__c")) - lnMicro(col("__ns"))
          - lnMicro(col("__ct")) + lnMicro(col("__n")))).as("__term"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"),
        sum(col("__term").cast("decimal(38,0)")).as("__s"))
      .join(ns, Seq("source"))
      .select(col("source"), col("__ns").as("n_tokens"), col("vocab"),
        expr("cast(__s div __ns as bigint)").as("kl_micronat"))
      .orderBy("source")
  }

  /** Per-source QUALITY-GATE attrition — which FEED fails which
    * filter: [[qualityGate]]'s per-doc reason bitmask rolled up per
    * source, one count per reason (a doc failing two reasons counts
    * in both — the reasons are independent dials, and a curator tunes
    * them independently). The companion to [[graft.operators.Dedup
    * .dedupAttrition]]: that prices the DEDUP stage per feed, this
    * prices the FILTER stage — together they explain where each
    * source's volume went before training saw it.
    *
    * Shape: the gate itself is a row-local codegen map riding the
    * scan; ONE source-keyed map-side-combined aggregation follows.
    * Exact integers, trunc division.
    *
    * @return (source, n_docs, n_pass, n_fail_short, n_fail_rep,
    *         n_fail_awl, pass_ppm) ordered by source. */
  def gateAttrition(docs: DataFrame, minTokens: Long = 32,
                    maxRepPermille: Long = 10, minAwlPermille: Long = 4200,
                    maxAwlPermille: Long = 4800, k: Int = 3,
                    sourceCol: String = "source"): DataFrame = {
    val gated = qualityGate(docs, minTokens, maxRepPermille,
      minAwlPermille, maxAwlPermille, k)
    docs.select(col("doc_id"), col(sourceCol).as("source"))
      .join(gated.select(col("doc_id"), col("reason_bits"), col("keep")),
        Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("keep").as("n_pass"),
        sum(when(expr("reason_bits div 1 % 2") === 1L, 1L).otherwise(0L))
          .as("n_fail_short"),
        sum(when(expr("reason_bits div 2 % 2") === 1L, 1L).otherwise(0L))
          .as("n_fail_rep"),
        sum(when(expr("reason_bits div 4 % 2") === 1L, 1L).otherwise(0L))
          .as("n_fail_awl"))
      .select(col("source"), col("n_docs"), col("n_pass"),
        col("n_fail_short"), col("n_fail_rep"), col("n_fail_awl"),
        expr("(n_pass * 1000000) div n_docs").as("pass_ppm"))
      .orderBy("source")
  }

  /** Per-document TYPICALITY — the document's cross-entropy under the
    * corpus unigram distribution, mean micronats per token: the
    * per-DOC companion to [[sourceKlReport]]'s per-feed scalar. Low
    * surprisal marks template/common-token documents (the redundancy
    * a mixture designer down-weights); high surprisal marks
    * rare-token-heavy outliers (mojibake, hex dumps, domain shift —
    * the docs a quality review reads FIRST). The unigram form is the
    * cheapest member of the importance-resampling family
    * ([[dsirWeights]] uses hashed bigram ratios against a TARGET;
    * this is the absolute "how unlike the corpus is this doc" read
    * that needs no target at all).
    *
    * Exactness: H(d) = Σ_t c_dt·(ln N − ln c_t) / n_d reassembled so
    * every ln takes an INTEGER corpus count (the [[sourceKlReport]]
    * µnat discipline): term = c_dt·(lnµN − lnµc_t) ≥ 0 exact,
    * DECIMAL(38,0) accumulation, one truncating div by n_d.
    *
    * Shape: ONE (doc_id, token) count (map-side combined), the
    * vocab-bounded corpus count table derived from IT, a token-keyed
    * equi-join back, one doc-keyed rollup. Tokens shuffle, bodies
    * never; nothing quadratic.
    *
    * @return (doc_id, n_tokens, xent_micronat) ordered by doc_id. */
  def docTypicality(docs: DataFrame): DataFrame = {
    def lnMicro(c: Column): Column =
      floor(log(c.cast("double")) * lit(1e6) + lit(0.5d)).cast("long")
    val dt = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val ct = dt.groupBy("tok").agg(sum("__c").as("__ct"))
    val total = ct.agg(sum("__ct").as("__n"))
    dt.join(ct, Seq("tok"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("__c"),
        (col("__c") * (lnMicro(col("__n")) - lnMicro(col("__ct"))))
          .as("__term"))
      .groupBy("doc_id")
      .agg(sum("__c").as("n_tokens"),
        sum(col("__term").cast("decimal(38,0)")).as("__s"))
      .select(col("doc_id"), col("n_tokens"),
        expr("cast(__s div n_tokens as bigint)").as("xent_micronat"))
      .orderBy("doc_id")
  }

  /** Per-document k-gram DOMINANCE — the two repetition signals
    * [[repetitionScore]]'s distinct ratio cannot see: the share of
    * gram positions held by the single most frequent k-gram
    * (top_share — a loop stuck on ONE phrase) and the share held by
    * ANY gram occurring more than once (repeat_mass — diffuse
    * re-phrasing). Two docs with the same distinct ratio can sit at
    * opposite corners here: one boilerplate sentence repeated
    * (top ≈ repeat ≈ high) vs many phrases each doubled (top low,
    * repeat high) — the classic crawl-loop vs template-stuffing
    * distinction a quality gate wants to price separately.
    *
    * Shape: grams are row-local literal slices of the token array
    * (k consecutive tokens — literal text, so the oracle replays
    * them verbatim), ONE (doc_id, gram) map-side-combined count, one
    * doc-keyed rollup. Docs shorter than k tokens have no gram and
    * are excluded (the [[repetitionScore]] rule). Exact integers,
    * trunc division.
    *
    * @return (doc_id, n_grams, top_share_permille,
    *         repeat_mass_permille) ordered by doc_id. */
  def gramDominanceReport(docs: DataFrame, k: Int = 2): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ts) - $k + 1), " +
          s"i -> array_join(slice(ts, i, $k), ' '))")).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("__c"))
      .groupBy("doc_id")
      .agg(sum("__c").as("n_grams"), max("__c").as("__top"),
        sum(when(col("__c") > 1L, col("__c")).otherwise(0L)).as("__rep"))
      .select(col("doc_id"), col("n_grams"),
        expr("(__top * 1000) div n_grams").as("top_share_permille"),
        expr("(__rep * 1000) div n_grams").as("repeat_mass_permille"))
      .orderBy("doc_id")
  }

  /** INCREMENTAL sequence packing — place an ARRIVING batch of
    * documents without re-packing the standing corpus: each shard's
    * token stream continues from its stored total, so
    * `packSequences(all)` ≡ `packSequences(base) ∪ packAppend(delta,
    * state(base))` whenever the delta's doc_ids follow the base's
    * (the append law — the production case, since ids are
    * producer-sequence). The difference at 100 TB: a daily ingest
    * pays one window over the BATCH, not a re-sort of the corpus —
    * the x145/x150 incremental discipline applied to layout.
    *
    * `shardTokens` is the standing state: (shard, base_tokens) —
    * [[packShardState]] derives it from a packed table in one
    * bounded aggregation; persist it with the layout and the corpus
    * never re-reads.
    *
    * @return (doc_id, n_tokens, shard, seq_in_shard, offset_in_seq)
    *         for the new docs only, continuing each shard's stream. */
  def packAppend(newDocs: DataFrame, shardTokens: DataFrame,
                 budgetTokens: Long, numShards: Int = 8): DataFrame = {
    require(budgetTokens >= 1, s"budgetTokens ($budgetTokens) must be >= 1")
    require(numShards >= 1, s"numShards ($numShards) must be >= 1")
    require(shardTokens.columns.contains("shard")
        && shardTokens.columns.contains("base_tokens"),
      s"shard state needs (shard, base_tokens), got " +
        shardTokens.columns.mkString(","))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    newDocs.select(col("doc_id"), tokenCountCol(col("text")).as("n_tokens"))
      .withColumn("shard", Sampling.hashMod(col("doc_id"), numShards.toLong))
      .join(broadcast(shardTokens), Seq("shard"), "left")
      .withColumn("start_tok", coalesce(col("base_tokens"), lit(0L))
        + coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("shard"),
        expr(s"start_tok div $budgetTokens").as("seq_in_shard"),
        expr(s"start_tok % $budgetTokens").as("offset_in_seq"))
      .orderBy("doc_id")
  }

  /** The standing per-shard state [[packAppend]] continues from —
    * one bounded aggregation over a packed table (or equivalently
    * over the base corpus itself). */
  def packShardState(packed: DataFrame): DataFrame =
    packed.groupBy("shard").agg(sum("n_tokens").as("base_tokens"))

  /** Per-source vocabulary CONCENTRATION — the Herfindahl index of
    * the feed's token distribution, ppm: HHI = Σ_t (c_t/n)². The
    * scalar that separates a feed whose volume is a few templates
    * hammered (HHI far above peers — x245's dominance signal at FEED
    * granularity) from one with a long diverse tail (HHI → 1/vocab).
    * Reads between [[hapaxShareReport]] (the tail end) and
    * [[sourceKlReport]] (distance from the mixture): concentration
    * is internal to the feed, no reference needed.
    *
    * Exact integers: HHI_ppm = (Σc²·10⁶) div n², Σc² and n²
    * accumulated in DECIMAL(38,0) (a 10⁹-token source squares past
    * 2⁶³ — the dispersionIndex discipline), one truncating div.
    *
    * Shape: ONE (source, token) map-side-combined count, one
    * source-keyed rollup over it. Tokens shuffle once, bodies never.
    *
    * @return (source, n_tokens, vocab, hhi_ppm) ordered by source. */
  def vocabHhiReport(docs: DataFrame,
                     sourceCol: String = "source"): DataFrame =
    docs.filter(col(sourceCol).isNotNull && col("text").isNotNull)
      .select(col(sourceCol).as("source"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("__c"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"), sum("__c").as("n_tokens"),
        sum(expr("cast(__c as decimal(38,0)) * __c")).as("__s2"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        expr("""cast((__s2 * 1000000)
             div (cast(n_tokens as decimal(38,0)) * n_tokens) as bigint)""")
          .as("hhi_ppm"))
      .orderBy("source")

  /** Per-source bigram CONDITIONAL entropy H(next | prev) — the feed
    * PREDICTABILITY scalar: how much of each next token is determined
    * by the one before it. A templated/boilerplate feed reads near 0
    * (every prefix forces its continuation — the stuck-phrase signal
    * of [[gramDominanceReport]] as one number per feed); natural
    * prose reads high. Distinct from [[bigramSurprisal]] (per-DOC
    * outlier score under the CORPUS model) and [[vocabHhiReport]]
    * (unigram concentration — a feed can have diverse vocabulary yet
    * zero transition freedom; this catches exactly that).
    *
    * Exactness: H = Σ_uv c_uv·(ln c_u − ln c_uv) / N — every ln takes
    * an INTEGER count (the [[sourceKlReport]] µnat discipline), terms
    * ≥ 0 exact, DECIMAL(38,0) accumulation, one truncating div.
    *
    * Shape: bigrams derive row-locally, ONE (source, u, v) map-side-
    * combined count materialized once (the prefix totals and the term
    * table both read it), a (source, u)-keyed equi-join, one source
    * rollup. Tokens shuffle, bodies never.
    *
    * @return (source, n_bigrams, vocab_bigrams,
    *         cond_entropy_micronat) ordered by source. */
  def bigramEntropyReport(docs: DataFrame,
                          sourceCol: String = "source"): DataFrame = {
    def lnMicro(c: Column): Column =
      floor(log(c.cast("double")) * lit(1e6) + lit(0.5d)).cast("long")
    val bi = docs
      .filter(col(sourceCol).isNotNull && col("text").isNotNull)
      .select(col(sourceCol).as("source"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(ts) - 1), " +
          "i -> struct(element_at(ts, i) as u, element_at(ts, i + 1) as v))"))
        .as("b"))
      .select(col("source"), col("b.u").as("u"), col("b.v").as("v"))
      .groupBy("source", "u", "v").agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val pu = bi.groupBy("source", "u").agg(sum("__c").as("__cu"))
    bi.join(pu, Seq("source", "u"))
      .select(col("source"), col("__c"),
        (col("__c") * (lnMicro(col("__cu")) - lnMicro(col("__c"))))
          .as("__term"))
      .groupBy("source")
      .agg(sum("__c").as("n_bigrams"), count(lit(1)).as("vocab_bigrams"),
        sum(col("__term").cast("decimal(38,0)")).as("__s"))
      .select(col("source"), col("n_bigrams"), col("vocab_bigrams"),
        expr("cast(__s div n_bigrams as bigint)")
          .as("cond_entropy_micronat"))
      .orderBy("source")
  }

  /** Sequence-pack EFFICIENCY — what [[packSequences]]' layout costs
    * in training compute, per shard: sequences consumed, pad tokens
    * burned (only the shard's LAST sequence pads — documents straddle
    * boundaries exactly as the token stream does), fill rate, and how
    * many documents STRADDLE a sequence boundary (the docs whose
    * attention context is cut — the number that decides whether the
    * budget or the shard count moves). A fill_ppm far below peers
    * marks a shard the hash layout starved; a high straddle share at
    * a small budget says the budget is under the corpus' typical doc
    * length.
    *
    * Shape: composes [[packSequences]] (whose one shuffle is the
    * per-shard pack window) and adds ONE shard-keyed
    * map-side-combined rollup — sequences-consumed derives from the
    * shard token total by exact ceiling division, no per-sequence
    * pass. Exact integers throughout.
    *
    * @return (shard, n_docs, n_tokens, n_straddle, n_seqs,
    *         pad_tokens, fill_ppm) ordered by shard. */
  def packEfficiencyReport(docs: DataFrame, budgetTokens: Long = 2048L,
                           numShards: Int = 8): DataFrame = {
    val packed = packSequences(docs, budgetTokens, numShards)
    packed.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum(when(col("offset_in_seq") + col("n_tokens") > budgetTokens, 1L)
          .otherwise(0L)).as("n_straddle"))
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_straddle"),
        expr(s"(n_tokens + ${budgetTokens - 1}) div $budgetTokens")
          .as("n_seqs"))
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_straddle"),
        col("n_seqs"),
        (col("n_seqs") * budgetTokens - col("n_tokens")).as("pad_tokens"),
        expr(s"(n_tokens * 1000000) div (n_seqs * $budgetTokens)")
          .as("fill_ppm"))
      .orderBy("shard")
  }
}

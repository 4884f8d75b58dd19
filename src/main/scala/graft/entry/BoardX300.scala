package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Incremental, Sampling, Sessions, TextAnalysis}
import graft.queries.Relational

/** Board segment: capability rows x297+ — query registrations and
  * their DuckDB oracle texts, concatenated into the driver contract
  * by [[graft.SparkEntry]] (EntrySpec pins the 1:1 id/alias/oracle-key
  * invariants across segments).
  *
  * The x297–x301 tier is the TPC-H DECORRELATION suite: the five
  * classic subquery shapes (correlated EXISTS with an outer-row
  * inequality, outer-join double aggregation, HAVING-IN, correlated
  * scalar MIN, uncorrelated scalar total) written as their
  * decorrelated DataFrame plans, each oracle-checked against DuckDB
  * running the SUBQUERY form — the hash match certifies the
  * decorrelation itself, not just the arithmetic. */
private[graft] object BoardX300 {

  /** x312's oracle, GENERATED from the same loop spec as
    * `Layout.hilbertValue` (8 unrolled xy2d rounds as chained CTEs —
    * hand-maintaining 8 reflect/swap rounds in SQL is how the two
    * spellings would drift apart; one generator means they can't).
    * DuckDB notes: `xor()` is a function (its `^` is POWER), `&`/`>>`
    * are two's-complement on BIGINT exactly like Spark's, which is
    * what keeps the deliberately-negative reflection intermediates
    * exact. */
  private def hilbertOracle: String = {
    val rounds = (7 to 0 by -1).zipWithIndex.map { case (bit, i) =>
      val s = 1L << bit
      val (px, py, pd) = (s"hx$i", s"hy$i", s"hd$i")
      s"""h${i + 1} AS (SELECT qx, qy,
         CASE WHEN ($py & $s) > 0 THEN $px
              ELSE CASE WHEN ($px & $s) > 0 THEN ${s - 1} - $py
                        ELSE $py END END AS hx${i + 1},
         CASE WHEN ($py & $s) > 0 THEN $py
              ELSE CASE WHEN ($px & $s) > 0 THEN ${s - 1} - $px
                        ELSE $px END END AS hy${i + 1},
         $pd + ${s * s} * xor(3 * (CASE WHEN ($px & $s) > 0 THEN 1 ELSE 0 END),
           CASE WHEN ($py & $s) > 0 THEN 1 ELSE 0 END) AS hd${i + 1}
       FROM h$i)"""
    }.mkString(",\n       ")
    val morton = (0 until 8).map(i =>
      s"(((qx >> $i) & 1) << ${2 * i}) | (((qy >> $i) & 1) << ${2 * i + 1})")
      .mkString(" | ")
    // tile grid: size 20, stride 24, offset 3 — de-aligned from every
    // curve quadrant boundary; disjoint, so assignment is scan-side
    def inTile(c: String) =
      s"$c >= 3 AND (($c - 3) % 24) < 20 AND (($c - 3) // 24) * 24 + 23 <= 256"
    s"""WITH base AS (SELECT DISTINCT CAST(l_partkey % 256 AS BIGINT) AS qx,
         CAST(l_orderkey % 256 AS BIGINT) AS qy FROM lineitem
       WHERE l_partkey IS NOT NULL AND l_orderkey IS NOT NULL),
       h0 AS (SELECT qx, qy, qx AS hx0, qy AS hy0,
              CAST(0 AS BIGINT) AS hd0 FROM base),
       $rounds,
       idx AS (SELECT 'hilbert' AS curve, hd8 AS idx, qx, qy FROM h8
               UNION ALL
               SELECT 'morton' AS curve, CAST($morton AS BIGINT) AS idx,
                 qx, qy FROM base),
       tiled AS (SELECT curve, idx, (qx - 3) // 24 AS tile_x,
                   (qy - 3) // 24 AS tile_y
                 FROM idx WHERE ${inTile("qx")} AND ${inTile("qy")}),
       r AS (SELECT curve, tile_x, tile_y,
               CASE WHEN lag(idx) OVER (PARTITION BY curve, tile_x, tile_y
                 ORDER BY idx) IS NULL
                 OR idx - lag(idx) OVER (PARTITION BY curve, tile_x, tile_y
                 ORDER BY idx) > 1 THEN 1 ELSE 0 END AS run_start
             FROM tiled),
       t AS (SELECT curve, tile_x, tile_y,
               CAST(SUM(run_start) AS BIGINT) AS runs
             FROM r GROUP BY 1, 2, 3)
       SELECT curve, CAST(count(*) AS BIGINT) AS n_tiles,
         CAST(SUM(runs) AS BIGINT) AS total_runs,
         CAST((SUM(runs) * 1000000) // count(*) AS BIGINT) AS mean_runs_micro
       FROM t GROUP BY curve ORDER BY curve"""
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q4: correlated EXISTS w/ inequality on the outer row →
    // LEFT SEMI with a residual condition; first-hit early-out
    "x297_late_priority" -> ((s, d) =>
      Relational.latePriorityCensus(s, d)),
    // TPC-H Q13: LEFT OUTER with the predicate in the JOIN CONDITION
    // (a WHERE would delete the n_orders=0 bucket) + double agg
    "x298_order_distribution" -> ((s, d) =>
      Relational.orderCountDistribution(s, d)),
    // TPC-H Q18: HAVING-IN decorrelated to aggregate-then-join; the
    // quantity bar filters BEFORE any join touches orders/customer
    "x299_large_orders" -> ((s, d) =>
      Relational.largeVolumeOrders(s, d)),
    // TPC-H Q2: correlated scalar MIN decorrelated to groupBy-min +
    // match-back join; price ties all survive, like the subquery form
    "x300_min_cost_supplier" -> ((s, d) =>
      Relational.minCostSupplier(s, d)),
    // TPC-H Q11: uncorrelated scalar total as a window SUM over the
    // BOUNDED brand aggregate — one corpus scan, never two
    "x301_revenue_concentration" -> ((s, d) =>
      Relational.revenueConcentration(s, d)),
    // CCNet-style boilerplate scrub: fixed token-window segments,
    // corpus-occurrence bar, kept-text rebuild — md5 fingerprints
    // shuffle, segment text never (except to its own doc's rebuild)
    "x302_boilerplate_scrub" -> ((s, d) =>
      TextAnalysis.boilerplateScrub(Tables.documents(s, d))),
    // mergeable quantile state: estimates read from the MERGE of two
    // half-states (o_orderkey parity split) — the oracle replays the
    // one-shot form, so the hash match certifies the merge law on the
    // real corpus (IncrementalSpec proves it on adversarial splits)
    "x303_quantile_state" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val v = Relational.cents(col("o_totalprice"))
      val half = (p: Int) => Incremental.quantileState(
        o.filter(pmod(col("o_orderkey"), lit(2L)) === p), v, 100000L)
      Incremental.quantileEstimate(
        Incremental.mergeQuantile(Seq(half(0), half(1))),
        100000L, Seq(500, 900, 990))
    },
    // the groupBy-split-then-join anti-pattern, written as a user
    // would: MergeAggSelfJoin folds it to ONE aggregation over ONE
    // scan (PlanSpec pins no-Join + single FileScan)
    "x304_agg_selfjoin_merge" -> { (s, d) =>
      val a = Tables.orders(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"))
      val b = Tables.orders(s, d).groupBy("o_custkey")
        .agg(sum(Relational.cents(col("o_totalprice"))).as("spend_cents"))
      a.join(b, Seq("o_custkey")).orderBy("o_custkey")
    },
    // per-user rolling median spend over the last 9 events — the
    // robust rolling statistic; user-keyed window, 9-row frame
    "x305_rolling_median" -> ((s, d) =>
      Sessions.rollingMedian(Tables.events(s, d))),
    // one distributed BPE merge iteration: weighted pair census →
    // argmax (self-pairs excluded) → corpus-wide greedy merge →
    // post-merge census; everything after the corpus scan runs on the
    // bounded word vocabulary
    "x306_bpe_merge_step" -> ((s, d) =>
      TextAnalysis.bpeMergeStep(Tables.documents(s, d))),
    // quality-ranked per-source cap (C4/Dolma domain cap) with
    // kept/dropped mass accounting through the native bounded top-k
    "x307_domain_cap" -> ((s, d) =>
      graft.operators.Sampling.domainCap(Tables.documents(s, d), cap = 10)),
    // sliding p50/p95 of event value over a 7-day pane window — pane
    // histograms merge losslessly into every window they feed (the
    // x303 refresh law at window granularity)
    "x308_pane_quantile" -> ((s, d) =>
      Incremental.paneSlidingQuantile(Tables.events(s, d),
        paneMicros = 86400000000L, windowPanes = 7,
        valueCol = Relational.cents(col("value")), binWidth = 100L,
        permilles = Seq(500, 950))),
    // TPC-H Q10: top returned-revenue customers for a quarter — each
    // predicate on its own scan, TakeOrderedAndProject cut
    "x309_returned_revenue" -> ((s, d) =>
      Relational.returnedItemReport(s, d)),
    // TPC-H Q12: conditional class census over a residual-predicate
    // join (priority class standing in for the absent ship mode)
    "x310_priority_class" -> ((s, d) =>
      Relational.latePriorityClassCensus(s, d)),
    // TPC-H Q14: promo share in exact integer micro-units — both sums
    // ride ONE aggregation, DECIMAL cross-multiply, no float ratio
    "x311_promo_share" -> ((s, d) =>
      Relational.promoRevenueShare(s, d)),
    // Hilbert vs Morton, MEASURED on the metric that differs (Moon et
    // al. clustering): contiguous index runs per query tile — every
    // run is a file-range seek; Hilbert halves the fragmentation
    "x312_hilbert_layout" -> ((s, d) =>
      graft.core.Layout.curveClusteringReport(Tables.lineitem(s, d),
        pmod(col("l_partkey"), lit(256L)), pmod(col("l_orderkey"), lit(256L)),
        bits = 8)),
    // TPC-H Q21: EXISTS + NOT EXISTS chain decorrelated to window
    // counts over the (order, supplier) aggregate — one lineitem pass
    "x313_sole_late_supplier" -> ((s, d) =>
      Relational.soleLateSuppliers(s, d)),
    // TPC-H Q20: correlated grouped-HAVING threshold (fair-share bar)
    // as a part-keyed window over ONE (part, supplier) aggregation
    "x314_dominant_supplier" -> ((s, d) =>
      Relational.dominantSuppliers(s, d)),
    // TPC-H Q22: scalar-average cross-multiply + date-pruned LEFT ANTI
    "x315_dormant_rich" -> ((s, d) =>
      Relational.dormantRichCustomers(s, d)),
    // the SQL-text surface: the same engine through spark.sql — CTE,
    // join, rank window, subquery filter — proving a reference user
    // can bring raw SQL, not just the DataFrame API
    "x316_sql_surface" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      Tables.customer(s, d).createOrReplaceTempView("v_customer")
      s.sql("""
        WITH spend AS (SELECT o_custkey,
            CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS spend_cents
          FROM v_orders GROUP BY o_custkey)
        SELECT c_mktsegment, c_custkey, spend_cents, rnk FROM (
          SELECT c_mktsegment, c_custkey, spend_cents,
            RANK() OVER (PARTITION BY c_mktsegment
              ORDER BY spend_cents DESC, c_custkey) AS rnk
          FROM v_customer JOIN spend ON c_custkey = o_custkey)
        WHERE rnk <= 3
        ORDER BY c_mktsegment, rnk""")
    },
    // token-mass-weighted length quantiles: "the median TOKEN lives in
    // a doc of length X" — the packer/mixing view a per-doc median
    // misses when a few giants carry most of the mass
    "x317_weighted_quantile" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Incremental.quantileEstimate(
        Incremental.quantileStateWeighted(docs, col("n_chars"),
          TextAnalysis.tokenCountCol(col("text")), 50L),
        50L, Seq(500, 900, 990))
    },
    // export manifest: per-shard counts + token mass + order-
    // independent content checksum — the trainer-handoff artifact
    "x318_export_manifest" -> ((s, d) =>
      graft.operators.Sharding.exportManifest(Tables.documents(s, d),
        numShards = 8)),
    // TPC-H Q17: fractional-average threshold (0.2·avg) as the exact
    // cross-multiply, decorrelated to a window over the brand-pruned scan
    "x319_small_qty_revenue" -> ((s, d) =>
      Relational.smallQuantityRevenue(s, d)),
    // TPC-H Q15: view + MAX-of-aggregate without re-evaluating the view
    "x320_top_supplier" -> ((s, d) =>
      Relational.topRevenueSupplier(s, d)),
    // TPC-H Q7: two-sided region star, disjunctive pair predicate
    // decomposed into per-side broadcast restrictions + a residual
    "x321_volume_shipping" -> ((s, d) =>
      Relational.volumeShipping(s, d)),
    // TPC-H Q8: CASE-inside-SUM market share over the 7-table star,
    // share in exact integer micro-units
    "x322_market_share" -> ((s, d) =>
      Relational.marketShare(s, d)),
    // TPC-H Q16: NOT IN blacklist with the NULL guards pinned, then
    // decorrelated to a LEFT ANTI + count-distinct
    "x323_supplier_variety" -> ((s, d) =>
      Relational.supplierPartVariety(s, d)),
    // TPC-H Q19: three-branch disjunctive join predicate — Catalyst
    // factors the per-side unions out of the OR and pushes them
    "x324_disjunctive_revenue" -> ((s, d) =>
      Relational.disjunctiveRevenue(s, d)),
    // TPC-H Q9: LIKE-filtered six-table profit star (retailprice as
    // the cost basis — no partsupp in this corpus); profit may go
    // negative, which is Q9's semantics, not an error
    "x325_product_profit" -> ((s, d) =>
      Relational.productProfit(s, d)),
    // TPC-H Q6: the pure-pushdown scan — all three range predicates
    // ride PushedFilters into the parquet row-group stats
    "x326_forecast_revenue" -> ((s, d) =>
      Relational.forecastRevenue(s, d)),
    // in-engine model fitting: 3 full-batch GD iterations in exact
    // integer micro-units (hard sigmoid — no libm in the loop); the
    // oracle replays the ENTIRE training loop as chained CTEs and
    // must land on bit-identical weights
    "x327_logistic_fit" -> ((s, d) =>
      graft.operators.Learn.linearClassifierFit(Tables.documents(s, d))),
    // the PERSISTED-INDEX face of x47: build the bucketed postings +
    // lengths tables (one corpus scan, one write-side shuffle), then
    // probe through the bucket-pruned path — the result must be
    // IDENTICAL to the on-the-fly form, certified by the SAME oracle
    // text (one spelling, two rows — the x312 one-generator rule)
    "x328_bm25_prebuilt" -> { (s, d) =>
      for (t <- Seq("board_lex_post", "board_lex_len", "board_lex_post_tombs"))
        graft.core.Layout.dropManagedTable(s, t)
      graft.operators.Retrieval.buildLexIndex(Tables.documents(s, d),
        "board_lex_post", "board_lex_len", buckets = 8)
      graft.operators.Retrieval.bm25TopKPrebuilt(s, "board_lex_post",
        "board_lex_len", Seq("vector", "stream", "join"), k = 20)
    },
    // x73's AUTO-SIZED face: k ≤ 0 lets semanticDedup size k ≈ √n
    // itself (the mutualTopKAnn nlist discipline — at fixed k the
    // within-cluster pair mass is quadratic in the corpus). The fixed
    // 256-vector slice (+64 planted dups = 320 rows at EVERY sf) makes
    // the auto-k deterministic (⌊√320⌋ = 17), so the WHOLE path —
    // count, sizing rule, k=17 kmeans trajectory, pairs, closure — is
    // oracle-replayed, not just spec-pinned
    "x329_semdedup_autok" -> { (s, d) =>
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 256)
      graft.operators.Clustering.semanticDedup(
        emb.unionByName(EntryLib.plantPerturbedCopies(emb)),
        idCol = "vec_id", vecCol = "embedding", k = 0, iterations = 2,
        minPermille = 900L)
    },
    // x230's SAMPLED AUDIT form — the linear-cost answer where even
    // the √n-sized n^1.5 contract is too hot: every 4th vector plus
    // its retrieved neighbors probed, mutual pairs with a sampled
    // endpoint reported. Rule-6 no_oracle like x230 (the KMeans
    // quantizer is not replayable cross-engine); SimilaritySpec pins
    // sampled ≡ full restricted to the sample at full AND partial
    // probe, and everyN=1 ≡ the full operator
    "x330_mutual_sampled" -> ((s, d) =>
      graft.operators.Similarity.mutualTopKAnnSampled(
        Tables.embeddings(s, d), k = 8, everyN = 4)),
    // the multimodal tier's first PIXEL-LEVEL oracle row: each doc's
    // text bytes become the bare pixel array of a REAL 24bpp top-down
    // BMP (width 4 → no row padding), which resizeMedia must DECODE
    // (header walk, BGR→RGB, row order) and nearest-neighbor resample
    // to 2×2 — and because the corpus is pure ASCII the expected
    // output pixels are plain substr/ascii arithmetic over the text,
    // so the whole bytes→pixels→resample path is hash-certified
    // cross-engine, not just spec-covered
    "x331_media_resize" -> { (s, d) =>
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("b"))
        .filter(octet_length(col("b")) >= 12)
        .as[(Long, Array[Byte])]
        .map { case (id, b) =>
          val h = b.length / 12
          graft.operators.Multimodal.Media(id, "image",
            EntryLib.bmpTopDown(4, h, java.util.Arrays.copyOf(b, h * 12)),
            Map.empty)
        }
      graft.operators.Multimodal.resizeMedia(media, 2, 2)
        .flatMap(r => r.pixels.zipWithIndex.map { case (p, i) =>
          (r.media_id, i.toLong, (p & 0xFF).toLong) })
        .toDF("media_id", "pos", "px")
        .orderBy("media_id", "pos")
    },
    // the x331 pattern for the COMPRESSED image path: each doc's text
    // bytes ride as the pixels of a REAL PNG whose zlib stream is
    // stored-mode (byte-transparent, so Inflater's real multi-block
    // walk + Adler-32 check decode to knowable bytes) and whose every
    // scanline carries the SUB filter with pre-encoded deltas — the
    // engine must run the real left-neighbor reconstruction to get
    // the text back, so the whole IDAT-concat → inflate → unfilter →
    // resample chain is hash-certified cross-engine (PNG stores RGB
    // directly: no BGR swap, unlike x331)
    "x332_png_decode" -> { (s, d) =>
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("b"))
        .filter(octet_length(col("b")) >= 12)
        .as[(Long, Array[Byte])]
        .map { case (id, b) =>
          val h = b.length / 12
          graft.operators.Multimodal.Media(id, "image",
            EntryLib.pngStoredSub(4, h, java.util.Arrays.copyOf(b, h * 12)),
            Map.empty)
        }
      graft.operators.Multimodal.resizeMedia(media, 2, 2)
        .flatMap(r => r.pixels.zipWithIndex.map { case (p, i) =>
          (r.media_id, i.toLong, (p & 0xFF).toLong) })
        .toDF("media_id", "pos", "px")
        .orderBy("media_id", "pos")
    },
    // the audio sibling: each doc's first 8 text bytes become REAL
    // 16-bit PCM samples (low byte = text byte, high byte = text byte
    // XOR 0x80, so every sample is NEGATIVE — the signed-LE path is
    // genuinely exercised, not just the happy positive half) and
    // pcmSamples' RIFF walk + 16-bit decode is replayed by the oracle
    // as ascii/xor arithmetic
    "x333_wav_samples" -> { (s, d) =>
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("b"))
        .filter(octet_length(col("b")) >= 8)
        .as[(Long, Array[Byte])]
        .map { case (id, b) =>
          val data = new Array[Byte](16)
          var i = 0
          while (i < 8) {
            data(2 * i) = b(i); data(2 * i + 1) = (b(i) ^ 0x80).toByte
            i += 1
          }
          graft.operators.Multimodal.Media(id, "audio",
            EntryLib.wavPcm(1, 8000, 16, data), Map.empty)
        }
      graft.operators.Multimodal.pcmSamples(media, maxSamples = 8)
        .orderBy("media_id", "pos")
    },
    // CROSS-FORMAT decode identity — the GIF certification x331/x332
    // can't give directly (LZW output is not SQL arithmetic): the SAME
    // grayscale pixels (first 8 text bytes, 4×2) ride as a 24bpp BMP
    // and as a REAL-LZW GIF (greedy longest-match encoder, dictionary
    // growth and width bumps on the wire), both decode+resample legs
    // in one result. The BMP leg is SQL-replayable, the oracle demands
    // the GIF leg be IDENTICAL — so the hash transitively certifies
    // the LZW decode against the text arithmetic.
    "x334_gif_bmp_identity" -> { (s, d) =>
      import s.implicits._
      val base = Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("b"))
        .filter(octet_length(col("b")) >= 8)
        .as[(Long, Array[Byte])]
      def resized(media: org.apache.spark.sql.Dataset[graft.operators.Multimodal.Media],
                  fmt: String): DataFrame =
        graft.operators.Multimodal.resizeMedia(media, 2, 2)
          .flatMap(r => r.pixels.zipWithIndex.map { case (p, i) =>
            (r.media_id, fmt, i.toLong, (p & 0xFF).toLong) })
          .toDF("media_id", "fmt", "pos", "px")
      val bmp = resized(base.map { case (id, b) =>
        val px = new Array[Byte](24)
        var i = 0
        while (i < 8) { px(3 * i) = b(i); px(3 * i + 1) = b(i); px(3 * i + 2) = b(i); i += 1 }
        graft.operators.Multimodal.Media(id, "image",
          EntryLib.bmpTopDown(4, 2, px), Map.empty)
      }, "bmp")
      val gif = resized(base.map { case (id, b) =>
        graft.operators.Multimodal.Media(id, "image",
          EntryLib.gifGray(4, 2, java.util.Arrays.copyOf(b, 8)), Map.empty)
      }, "gif")
      bmp.unionByName(gif).orderBy("media_id", "fmt", "pos")
    },
    // the END-TO-END corpus-build chain in ONE oracle-certified row:
    // quality gate → exact dedup survivors → near-dup (MinHash-LSH)
    // closure survivors → mixture-restore factors for the FINAL
    // survivor set → packed training layout, each stage feeding the
    // next. Every stage is individually hash-certified elsewhere
    // (x43/x01/x07/x34/x270/x40); this row certifies that the
    // CONTRACTS COMPOSE — the claim a per-stage board only implies.
    "x335_corpus_build" -> { (s, d) =>
      // each stage boundary is referenced 2-3 times downstream (gated:
      // exact-dedup build + semi join + restore; exd: pair mining +
      // both anti-join sides; surv: restore + pack + the source join) —
      // materialize each ONCE, eagerly, so a stage never re-executes
      // the whole upstream chain per reference (uncached, the survivor
      // set alone re-ran gate→exact→mining→closure three times; a lazy
      // persist leaves concurrently-scheduled consumers racing to fill
      // it)
      val docs = Tables.documents(s, d)
      val gated = docs.join(
        TextAnalysis.qualityGate(docs).filter(col("keep") === 1)
          .select("doc_id"),
        Seq("doc_id"), "left_semi").localCheckpoint()
      val exd = gated.join(
        graft.operators.Dedup.exact(gated).select(col("keep_id").as("doc_id")),
        Seq("doc_id"), "left_semi").localCheckpoint()
      val pairs = graft.operators.Dedup.minHashLshPairs(exd, shingleK = 2,
        numHashes = 16, rowsPerBand = 4, minPermille = 600).select("da", "db")
      val surv = exd.join(
        graft.operators.Dedup.connectedComponentsUnsorted(pairs)
          .filter(col("cluster_id") < col("doc_id")).select("doc_id"),
        Seq("doc_id"), "left_anti").localCheckpoint()
      val restore = graft.operators.Dedup.mixtureRestoreFor(
        gated.select("doc_id", "source"), surv.select("doc_id"))
      TextAnalysis.packSequences(surv, budgetTokens = 2048L, numShards = 8)
        .join(surv.select("doc_id", "source"), Seq("doc_id"))
        .join(restore.select("source", "restore_factor_ppm"), Seq("source"))
        .select(col("doc_id"), col("n_tokens"), col("shard"),
          col("seq_in_shard"), col("offset_in_seq"), col("source"),
          col("restore_factor_ppm"))
        .orderBy("doc_id")
    },
    // x336: distributed BPE vocabulary INDUCTION — the x306 merge
    // step iterated six rounds with the learned merges threaded
    // through (census → argmax → apply, over the cached word
    // vocabulary); the oracle unrolls the rounds as materialized CTE
    // blocks, so the hash certifies the whole learn loop, tie order
    // and self-pair exclusion included
    "x336_bpe_train" -> ((s, d) =>
      TextAnalysis.bpeTrain(Tables.documents(s, d), nMerges = 6)),
    // x337: BPE ENCODE — the tokenization step that CONSUMES a merge
    // table: the pinned 8-rule vocabulary (with the rank-composing
    // chain t+a → ta+b → tab+le) applied corpus-wide as one
    // whole-stage-codegen'd replace chain; per-doc token accounting
    // replayed as integer length arithmetic
    "x337_bpe_encode" -> ((s, d) =>
      TextAnalysis.bpeEncode(Tables.documents(s, d),
        EntryLib.pinnedBpeMerges)),
    // x338: deterministic TRAINING-ORDER shuffle + mixing audit —
    // block-major md5 permutation (retry-stable, engine-portable,
    // unlike orderBy(rand())) with the per-block same-source run
    // census that certifies the shuffle actually interleaved sources
    "x338_training_order" -> ((s, d) =>
      Sampling.trainingOrder(Tables.documents(s, d), nBlocks = 8L)))

  def oracleSql: Map[String, String] = Map(
    // x297: the EXISTS form verbatim — DuckDB keeps the subquery,
    // Spark runs the decorrelated semi join; the hash match IS the
    // decorrelation proof
    "x297_late_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         AND o_orderdate < TIMESTAMP '1998-01-01'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey
                       AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
       GROUP BY o_orderpriority
       ORDER BY o_orderpriority""",
    // x298: count(o_orderkey) counts MATCHED rows only — unmatched
    // customers land in the 0 bucket, the row the query exists for
    "x298_order_distribution" ->
      """SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
       FROM (SELECT c_custkey, count(o_orderkey) AS n_orders
             FROM customer LEFT OUTER JOIN orders
               ON c_custkey = o_custkey
              AND o_orderpriority <> '1-URGENT'
             GROUP BY c_custkey)
       GROUP BY n_orders
       ORDER BY n_customers DESC, n_orders DESC""",
    // x299: the HAVING-IN form verbatim; quantities are integral by
    // data contract (RelationalSpec asserts it) so the BIGINT cast is
    // exact in both engines despite their different double→int rules
    "x299_large_orders" ->
      """SELECT c_name, o_orderkey, o_orderdate,
         CAST(total_qty AS BIGINT) AS total_qty
       FROM customer, orders,
         (SELECT l_orderkey, SUM(CAST(l_quantity AS BIGINT)) AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS BIGINT)) > 200) lq
       WHERE o_orderkey = l_orderkey AND c_custkey = o_custkey
       ORDER BY total_qty DESC, o_orderkey
       LIMIT 20""",
    // x300: the correlated scalar subquery verbatim (per-part MIN is
    // invariant to the p_size restriction — it correlates only on
    // p_partkey, which is why the Spark side may prune first)
    "x300_min_cost_supplier" ->
      """SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS min_price_cents
       FROM part, lineitem, supplier
       WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
         AND p_size <= 5
         AND CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) =
             (SELECT MIN(CAST(FLOOR(l2.l_extendedprice * 100 + 0.5) AS BIGINT))
              FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
       ORDER BY p_partkey, s_suppkey""",
    // x301: uncorrelated scalar total; // and Spark's div agree on
    // positive integers (both floor), HUGEINT// stays exact
    "x301_revenue_concentration" ->
      """WITH br AS (SELECT p_brand,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
             AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand)
       SELECT p_brand, revenue_cents FROM br
       WHERE revenue_cents > (SELECT SUM(revenue_cents) FROM br) // 30
       ORDER BY revenue_cents DESC, p_brand""",
    // x302: the full segment/occurrence/rebuild chain replayed — the
    // 16-word windows via range-unnest (DuckDB lacks WITH ORDINALITY),
    // occurrence counts over the same md5 fingerprints, ordered
    // string_agg rebuild with the same NULL-skip semantics
    "x302_boilerplate_scrub" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws
           FROM documents WHERE text IS NOT NULL),
       w AS (SELECT doc_id, ws[i] AS word, i
             FROM ws, UNNEST(range(1, len(ws) + 1)) AS r(i)),
       seg AS (SELECT doc_id, CAST((i - 1) // 16 AS BIGINT) AS seg_idx,
                 string_agg(word, ' ' ORDER BY i) AS seg_text
               FROM w GROUP BY 1, 2),
       occ AS (SELECT md5(seg_text) AS seg_fp,
                 CAST(count(*) AS BIGINT) AS seg_occ
               FROM seg GROUP BY 1),
       f AS (SELECT s.doc_id, s.seg_idx, s.seg_text, o.seg_occ
             FROM seg s JOIN occ o ON md5(s.seg_text) = o.seg_fp)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seg,
         CAST(SUM(CASE WHEN seg_occ >= 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped,
         md5(COALESCE(string_agg(CASE WHEN seg_occ < 3 THEN seg_text END,
           ' ' ORDER BY seg_idx), '')) AS kept_md5
       FROM f GROUP BY doc_id ORDER BY doc_id""",
    // x303: the ONE-SHOT form — the Spark side reads the merged halves,
    // so the hash match certifies merge(state(A), state(B)) ≡ state(A⊎B)
    "x303_quantile_state" ->
      """WITH v AS (SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
           FROM orders WHERE o_totalprice IS NOT NULL),
       b AS (SELECT v // 100000 AS bin, CAST(count(*) AS BIGINT) AS n
             FROM v GROUP BY 1),
       c AS (SELECT bin, SUM(n) OVER (ORDER BY bin) AS cum,
               (SELECT CAST(SUM(n) AS BIGINT) FROM b) AS tot FROM b),
       q AS (SELECT CAST(UNNEST([500, 900, 990]) AS BIGINT) AS permille)
       SELECT permille, CAST(MIN(bin) AS BIGINT) AS bin,
         CAST(MIN(bin) * 100000 AS BIGINT) AS lo_value
       FROM q JOIN c ON c.cum >= GREATEST(1, (permille * tot + 999) // 1000)
       GROUP BY permille ORDER BY permille""",
    // x304: the same two-aggregate join text — DuckDB executes the
    // join, Spark's MergeAggSelfJoin folds it to one aggregation; the
    // hash match proves the fold is semantics-preserving
    "x304_agg_selfjoin_merge" ->
      """SELECT a.o_custkey AS o_custkey, n_orders, spend_cents
       FROM (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
             FROM orders GROUP BY o_custkey) a
       JOIN (SELECT o_custkey,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS spend_cents
             FROM orders GROUP BY o_custkey) b
         ON a.o_custkey = b.o_custkey
       ORDER BY o_custkey""",
    // x305: DuckDB's quantile_disc(0.5) IS the lower-median convention
    // the Spark side spells as element ⌈n/2⌉ of the sorted frame
    "x305_rolling_median" ->
      """SELECT event_id, user_id,
         CAST(count(*) OVER w AS BIGINT) AS n_window,
         CAST(quantile_disc(CAST(FLOOR(value * 100 + 0.5) AS BIGINT), 0.5)
           OVER w AS BIGINT) AS med_cents
       FROM events
       WHERE value IS NOT NULL AND user_id IS NOT NULL
       WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                    ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
       ORDER BY event_id""",
    // x306: the full census → argmax → two-pass separator replace →
    // census chain replayed; replace() is left-to-right non-overlapping
    // in BOTH engines, which is the documented merge contract
    "x306_bpe_merge_step" ->
      """WITH w AS (SELECT word, CAST(count(*) AS BIGINT) AS wfreq
           FROM (SELECT UNNEST(string_split(text, ' ')) AS word
                 FROM documents WHERE text IS NOT NULL)
           WHERE len(word) >= 2 AND word NOT LIKE '%|%' GROUP BY 1),
       cs AS (SELECT wfreq, string_split(word, '') AS cs FROM w),
       pc AS (SELECT cs[i] AS a, cs[i + 1] AS b,
                CAST(SUM(wfreq) AS BIGINT) AS n
              FROM cs, UNNEST(range(1, len(cs))) AS r(i) GROUP BY 1, 2),
       best AS (SELECT a AS best_a, b AS best_b FROM pc WHERE a <> b
                ORDER BY n DESC, a, b LIMIT 1),
       m AS (SELECT wfreq, best_a, best_b,
               replace(replace(
                 '|' || array_to_string(cs, '|') || '|',
                 '|' || best_a || '|' || best_b || '|',
                 '|' || best_a || best_b || '|'),
                 '|' || best_a || '|' || best_b || '|',
                 '|' || best_a || best_b || '|') AS s
             FROM cs, best),
       tk AS (SELECT wfreq, best_a, best_b,
                list_filter(string_split(s, '|'), x -> x <> '') AS toks
              FROM m),
       post AS (SELECT best_a, best_b, toks[i] AS pair_a,
                  toks[i + 1] AS pair_b, CAST(SUM(wfreq) AS BIGINT) AS n
                FROM tk, UNNEST(range(1, len(toks))) AS r(i)
                WHERE len(toks) >= 2 GROUP BY 1, 2, 3, 4)
       SELECT best_a, best_b, pair_a, pair_b, n FROM post
       ORDER BY n DESC, pair_a, pair_b LIMIT 10""",
    // x307: the rank-window replay of the bounded-aggregate top-k —
    // same (score DESC, doc_id) tie order, same accounting
    "x307_domain_cap" ->
      """WITH base AS (SELECT doc_id, source, n_chars FROM documents
           WHERE source IS NOT NULL AND n_chars IS NOT NULL
             AND doc_id IS NOT NULL),
       r AS (SELECT source, n_chars, ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
             FROM base),
       t AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_score
             FROM base GROUP BY 1),
       k AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
               CAST(SUM(n_chars) AS BIGINT) AS kept_score
             FROM r WHERE rn <= 10 GROUP BY 1)
       SELECT t.source AS source, n_docs, n_kept,
         n_docs - n_kept AS n_dropped, total_score, kept_score,
         total_score - kept_score AS dropped_score
       FROM t JOIN k ON t.source = k.source ORDER BY source""",
    // x308: pane histogram → window fan-out → cumulative rank pick,
    // all exact integers; pmod-floor binning replayed with the
    // ((v % W) + W) % W spelling (// truncates toward zero)
    "x308_pane_quantile" ->
      """WITH e AS (SELECT event_type AS t,
             (epoch_ns(ts) // 1000) // 86400000000 AS pane,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
           FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
             AND value IS NOT NULL),
       p AS (SELECT t, pane, (v - (((v % 100) + 100) % 100)) // 100 AS bin,
               CAST(count(*) AS BIGINT) AS n
             FROM e GROUP BY 1, 2, 3),
       c AS (SELECT t, pane + CAST(wo AS BIGINT) AS wend, bin,
               CAST(SUM(n) AS BIGINT) AS n
             FROM p, UNNEST(range(0, 7)) AS r(wo) GROUP BY 1, 2, 3),
       cc AS (SELECT t, wend, bin, n,
               SUM(n) OVER (PARTITION BY t, wend ORDER BY bin) AS cum,
               SUM(n) OVER (PARTITION BY t, wend) AS tot FROM c),
       q AS (SELECT CAST(UNNEST([500, 950]) AS BIGINT) AS permille)
       SELECT t AS event_type, CAST(wend - 6 AS BIGINT) AS win_start_pane,
         CAST(wend AS BIGINT) AS win_end_pane, permille,
         CAST(MAX(tot) AS BIGINT) AS n, CAST(MIN(bin) AS BIGINT) AS bin,
         CAST(MIN(bin) * 100 AS BIGINT) AS lo_value
       FROM q JOIN cc ON cc.cum >= GREATEST(1, (q.permille * cc.tot + 999) // 1000)
       GROUP BY t, wend, permille
       ORDER BY event_type, win_end_pane, permille""",
    // x309: the Q10 star verbatim
    "x309_returned_revenue" ->
      """SELECT c_custkey, c_name, n_name,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
           AS BIGINT)) AS BIGINT) AS revenue_cents
       FROM customer, orders, lineitem, nation
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND o_orderdate >= TIMESTAMP '1997-01-01'
         AND o_orderdate < TIMESTAMP '1997-04-01'
         AND l_returnflag = 'R' AND c_nationkey = n_nationkey
       GROUP BY c_custkey, c_name, n_name
       ORDER BY revenue_cents DESC, c_custkey
       LIMIT 20""",
    // x310: the Q12 conditional census with the residual lateness join
    "x310_priority_class" ->
      """SELECT l_returnflag,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 0 ELSE 1 END) AS BIGINT) AS low_count
       FROM orders, lineitem
       WHERE l_orderkey = o_orderkey
         AND l_shipdate > o_orderdate + INTERVAL 30 DAY
       GROUP BY l_returnflag
       ORDER BY l_returnflag""",
    // x311: the Q14 ratio in exact micro-units (HUGEINT cross-multiply;
    // NULL on an empty month, never a divide-by-zero)
    "x311_promo_share" ->
      """SELECT CAST(promo_cents AS BIGINT) AS promo_cents,
         CAST(total_cents AS BIGINT) AS total_cents,
         CAST((promo_cents * 1000000) // NULLIF(total_cents, 0) AS BIGINT)
           AS promo_share_micro
       FROM (SELECT
           SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
               AS BIGINT) ELSE 0 END) AS promo_cents,
           SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
             AS BIGINT)) AS total_cents
         FROM lineitem, part
         WHERE l_partkey = p_partkey
           AND l_shipdate >= TIMESTAMP '1997-09-01'
           AND l_shipdate < TIMESTAMP '1997-10-01')""",
    // x312: generated above — one loop spec feeds both engines
    "x312_hilbert_layout" -> hilbertOracle,
    // x313: the EXISTS / NOT EXISTS chain verbatim — DuckDB keeps both
    // correlated subqueries, Spark runs the window decorrelation; the
    // hash match certifies the chain
    "x313_sole_late_supplier" ->
      """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
       FROM supplier, lineitem l1, orders
       WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
         AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
         AND EXISTS (SELECT 1 FROM lineitem l2
                     WHERE l2.l_orderkey = l1.l_orderkey
                       AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (SELECT 1 FROM lineitem l3
                     WHERE l3.l_orderkey = l1.l_orderkey
                       AND l3.l_suppkey <> l1.l_suppkey
                       AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
       GROUP BY s_name
       ORDER BY numwait DESC, s_name
       LIMIT 10""",
    // x314: the correlated scalar subqueries verbatim (distinct
    // supplier count + part total, both correlated on l_partkey)
    "x314_dominant_supplier" ->
      """SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS n_dominated
       FROM supplier,
         (SELECT l_suppkey, l_partkey,
            SUM(CAST(l_quantity AS BIGINT)) AS sq
          FROM lineitem GROUP BY 1, 2) ps
       WHERE s_suppkey = ps.l_suppkey
         AND ps.sq * (SELECT count(DISTINCT l2.l_suppkey) FROM lineitem l2
                      WHERE l2.l_partkey = ps.l_partkey)
             > 2 * (SELECT SUM(CAST(l3.l_quantity AS BIGINT)) FROM lineitem l3
                    WHERE l3.l_partkey = ps.l_partkey)
       GROUP BY s_suppkey, s_name
       ORDER BY s_suppkey""",
    // x315: scalar average as an exact cross-multiply + NOT EXISTS on
    // date-bounded orders
    "x315_dormant_rich" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
         CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS bal_cents
       FROM customer
       WHERE c_acctbal IS NOT NULL
         AND CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) *
             (SELECT count(*) FROM customer WHERE c_acctbal IS NOT NULL)
             > (SELECT SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
                FROM customer WHERE c_acctbal IS NOT NULL)
         AND NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey
                           AND o_orderdate >= TIMESTAMP '2000-01-01')
       GROUP BY c_mktsegment
       ORDER BY c_mktsegment""",
    // x316: the same SQL text modulo view names — the surface proof
    "x316_sql_surface" ->
      """WITH spend AS (SELECT o_custkey,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS spend_cents
         FROM orders GROUP BY o_custkey)
       SELECT c_mktsegment, c_custkey, spend_cents, CAST(rnk AS BIGINT) AS rnk
       FROM (SELECT c_mktsegment, c_custkey, spend_cents,
               RANK() OVER (PARTITION BY c_mktsegment
                 ORDER BY spend_cents DESC, c_custkey) AS rnk
             FROM customer JOIN spend ON c_custkey = o_custkey)
       WHERE rnk <= 3
       ORDER BY c_mktsegment, rnk""",
    // x317: one-shot weighted binning + cumulative rank pick; the
    // x03 LENGTH-difference token identity carries the weights
    "x317_weighted_quantile" ->
      """WITH v AS (SELECT n_chars AS v,
           CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
             AS w
         FROM documents
         WHERE n_chars IS NOT NULL AND text IS NOT NULL),
       b AS (SELECT (v - (((v % 50) + 50) % 50)) // 50 AS bin,
               CAST(SUM(w) AS BIGINT) AS n
             FROM v WHERE w > 0 GROUP BY 1),
       c AS (SELECT bin, SUM(n) OVER (ORDER BY bin) AS cum,
               (SELECT CAST(SUM(n) AS BIGINT) FROM b) AS tot FROM b),
       q AS (SELECT CAST(UNNEST([500, 900, 990]) AS BIGINT) AS permille)
       SELECT permille, CAST(MIN(bin) AS BIGINT) AS bin,
         CAST(MIN(bin) * 50 AS BIGINT) AS lo_value
       FROM q JOIN c ON c.cum >= GREATEST(1, (permille * tot + 999) // 1000)
       GROUP BY permille ORDER BY permille""",
    // x318: the same md5 shard assignment, the x03 token identity and
    // the x294 60-bit digest sums mod 10^18 — HUGEINT-exact
    "x318_export_manifest" ->
      """SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
             AS BIGINT) % 8 AS shard,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(CAST(length(text) - length(replace(text, ' ', '')) + 1
           AS BIGINT)) AS BIGINT) AS n_tokens,
         CAST(SUM(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT))
           % 1000000000000000000 AS BIGINT) AS checksum
       FROM documents
       WHERE doc_id IS NOT NULL AND text IS NOT NULL
       GROUP BY shard
       ORDER BY shard""",
    // x319: the correlated per-part scalar subqueries verbatim; the
    // 0.2·avg bar is spelled as the exact cross-multiply 5·q·cnt < Σq
    // in BOTH engines — the fractional form diverges on tie rows
    // (0.2·10.0 > 2.0 in IEEE doubles)
    "x319_small_qty_revenue" ->
      """SELECT CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS rev_cents,
         CAST(count(*) AS BIGINT) AS n_small
       FROM lineitem l, part p
       WHERE p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#12'
         AND CAST(l.l_quantity AS BIGINT) * 5 *
             (SELECT count(*) FROM lineitem l2
              WHERE l2.l_partkey = p.p_partkey)
           < (SELECT SUM(CAST(l2.l_quantity AS BIGINT)) FROM lineitem l2
              WHERE l2.l_partkey = p.p_partkey)""",
    // x320: the view + MAX-of-aggregate form verbatim — DuckDB
    // evaluates the revenue view in the subquery, Spark runs ONE
    // aggregation with a bounded-table window max
    "x320_top_supplier" ->
      """WITH revenue AS (SELECT l_suppkey,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
             AS BIGINT)) AS BIGINT) AS total_revenue_cents
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1996-04-01'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name, total_revenue_cents
       FROM supplier, revenue
       WHERE s_suppkey = l_suppkey
         AND total_revenue_cents =
             (SELECT max(total_revenue_cents) FROM revenue)
       ORDER BY s_suppkey""",
    // x321: the disjunctive region-pair predicate verbatim — Spark
    // decomposes it into per-side broadcast restrictions + a residual
    "x321_volume_shipping" ->
      """SELECT supp_region, cust_region, l_year,
         CAST(SUM(vol) AS BIGINT) AS revenue_cents
       FROM (SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                 AS BIGINT) AS vol
             FROM supplier, lineitem, orders, customer,
               nation n1, nation n2, region r1, region r2
             WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
               AND c_custkey = o_custkey
               AND s_nationkey = n1.n_nationkey
               AND c_nationkey = n2.n_nationkey
               AND n1.n_regionkey = r1.r_regionkey
               AND n2.n_regionkey = r2.r_regionkey
               AND ((r1.r_name = 'AMERICA' AND r2.r_name = 'ASIA')
                 OR (r1.r_name = 'ASIA' AND r2.r_name = 'AMERICA'))
               AND l_shipdate >= TIMESTAMP '1996-01-01'
               AND l_shipdate < TIMESTAMP '1998-01-01')
       GROUP BY supp_region, cust_region, l_year
       ORDER BY supp_region, cust_region, l_year""",
    // x322: the CASE-inside-SUM share verbatim, exact micro-units via
    // DECIMAL cross-multiply (// and Spark's div agree: both truncate)
    "x322_market_share" ->
      """SELECT o_year,
         CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0 END)
           AS BIGINT) AS nation_cents,
         CAST(SUM(vol) AS BIGINT) AS total_cents,
         CAST((SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0 END)
             * 1000000)
           // NULLIF(SUM(vol), 0) AS BIGINT) AS share_micro
       FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                 AS BIGINT) AS vol,
               n2.n_name AS supp_nation
             FROM part, supplier, lineitem, orders, customer,
               nation n1, nation n2, region
             WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
               AND l_orderkey = o_orderkey AND o_custkey = c_custkey
               AND c_nationkey = n1.n_nationkey
               AND n1.n_regionkey = r_regionkey AND r_name = 'EUROPE'
               AND s_nationkey = n2.n_nationkey
               AND o_orderdate >= TIMESTAMP '1996-01-01'
               AND o_orderdate < TIMESTAMP '1998-01-01'
               AND p_type = 'PROMO')
       GROUP BY o_year
       ORDER BY o_year""",
    // x323: NOT IN verbatim WITH the NULL guards pinned in both
    // places — one NULL in the blacklist would make every NOT IN
    // UNKNOWN; with the guards the LEFT ANTI decorrelation is exact
    "x323_supplier_variety" ->
      """SELECT p_brand, p_type, p_size,
         CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
       FROM lineitem, part
       WHERE p_partkey = l_partkey
         AND p_brand <> 'Brand#1' AND p_size <= 25
         AND l_suppkey IS NOT NULL
         AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                               WHERE s_acctbal < 0
                                 AND s_suppkey IS NOT NULL)
       GROUP BY p_brand, p_type, p_size
       ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    // x324: the three-branch OR verbatim — DuckDB evaluates it as
    // written, Spark factors the per-side unions out and pushes them
    "x324_disjunctive_revenue" ->
      """SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100
             + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
         CAST(count(*) AS BIGINT) AS n_lines
       FROM lineitem, part
       WHERE (p_partkey = l_partkey AND p_brand = 'Brand#12'
              AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
          OR (p_partkey = l_partkey AND p_brand = 'Brand#23'
              AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 25)
          OR (p_partkey = l_partkey AND p_brand = 'Brand#3'
              AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 35)""",
    // x325: Q9's star verbatim with the declared cost basis; the
    // cents-of-retail × integral-quantity product is exact in both
    "x325_product_profit" ->
      """SELECT nation, o_year, CAST(SUM(profit) AS BIGINT) AS profit_cents
       FROM (SELECT n_name AS nation,
               CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                 AS BIGINT)
               - CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT)
                 * CAST(l_quantity AS BIGINT) AS profit
             FROM lineitem, part, orders, supplier, nation
             WHERE p_partkey = l_partkey AND o_orderkey = l_orderkey
               AND s_suppkey = l_suppkey AND n_nationkey = s_nationkey
               AND p_name LIKE '%red%')
       GROUP BY nation, o_year
       ORDER BY nation, o_year DESC""",
    // x326: Q6 verbatim; the discount band brackets the generator's
    // two-decimal grid (0.045/0.075) so the predicate is engine-exact
    // AND stays scan-pushable
    "x326_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount * 100 + 0.5)
           AS BIGINT)) AS BIGINT) AS revenue_cents,
         CAST(count(*) AS BIGINT) AS n_lines
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1997-01-01'
         AND l_discount >= 0.045 AND l_discount <= 0.075
         AND l_quantity < 24""",
    // x327: the whole 3-iteration training loop unrolled — feature
    // table MATERIALIZED (referenced once per iteration + the accuracy
    // pass), each gradient a 1-row aggregate carrying the previous
    // weights via MIN (1-row cross join), every step integer-exact
    // (// truncates toward zero exactly like Spark's div / Scala's /)
    "x327_logistic_fit" ->
      """WITH f AS MATERIALIZED (
         SELECT CAST((length(text) - length(replace(text, ' the ', ''))) // 5
                  - 2 AS BIGINT) AS f1,
                CAST(length(text) - length(replace(text, ' ', '')) + 1 - 55
                  AS BIGINT) AS f2,
                CAST(1 AS BIGINT) AS f3,
                CAST(CASE WHEN n_chars >= 300 THEN 1000000 ELSE 0 END
                  AS BIGINT) AS y
         FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
       g1 AS (SELECT CAST(SUM((500000 - y) * f1) AS BIGINT) AS g1,
                     CAST(SUM((500000 - y) * f2) AS BIGINT) AS g2,
                     CAST(SUM((500000 - y) * f3) AS BIGINT) AS g3,
                     CAST(count(*) AS BIGINT) AS n FROM f),
       w1 AS (SELECT 0 - (g1 // n) // 8 AS wa, 0 - (g2 // n) // 8 AS wb,
                     0 - (g3 // n) // 8 AS wc, n FROM g1),
       g2s AS (SELECT
           CAST(SUM((GREATEST(0, LEAST(1000000,
             500000 + (f1*wa + f2*wb + f3*wc) // 4)) - y) * f1) AS BIGINT) AS g1,
           CAST(SUM((GREATEST(0, LEAST(1000000,
             500000 + (f1*wa + f2*wb + f3*wc) // 4)) - y) * f2) AS BIGINT) AS g2,
           CAST(SUM((GREATEST(0, LEAST(1000000,
             500000 + (f1*wa + f2*wb + f3*wc) // 4)) - y) * f3) AS BIGINT) AS g3,
           MIN(wa) AS pwa, MIN(wb) AS pwb, MIN(wc) AS pwc,
           CAST(count(*) AS BIGINT) AS n
         FROM f, w1),
       w2 AS (SELECT pwa - (g1 // n) // 8 AS wa, pwb - (g2 // n) // 8 AS wb,
                     pwc - (g3 // n) // 8 AS wc, n FROM g2s),
       g3s AS (SELECT
           CAST(SUM((GREATEST(0, LEAST(1000000,
             500000 + (f1*wa + f2*wb + f3*wc) // 4)) - y) * f1) AS BIGINT) AS g1,
           CAST(SUM((GREATEST(0, LEAST(1000000,
             500000 + (f1*wa + f2*wb + f3*wc) // 4)) - y) * f2) AS BIGINT) AS g2,
           CAST(SUM((GREATEST(0, LEAST(1000000,
             500000 + (f1*wa + f2*wb + f3*wc) // 4)) - y) * f3) AS BIGINT) AS g3,
           MIN(wa) AS pwa, MIN(wb) AS pwb, MIN(wc) AS pwc,
           CAST(count(*) AS BIGINT) AS n
         FROM f, w2),
       w3 AS (SELECT pwa - (g1 // n) // 8 AS wa, pwb - (g2 // n) // 8 AS wb,
                     pwc - (g3 // n) // 8 AS wc FROM g3s),
       acc AS (SELECT
           CAST(SUM(CASE WHEN ((f1*wa + f2*wb + f3*wc) > 0) = (y = 1000000)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(count(*) AS BIGINT) AS n_total
         FROM f, w3)
       SELECT wa AS w_the, wb AS w_toks, wc AS w_bias, n_correct, n_total
       FROM w3, acc""",
    // x328: the SAME oracle string as x47 — the prebuilt probe must be
    // row-for-row the on-the-fly BM25 (RetrievalSpec also pins it)
    "x328_bm25_prebuilt" -> BoardX000.oracleSql("x47_bm25_topk"),
    // x329: the x73 replay on the fixed slice with the auto-sized
    // k = ⌊√320⌋ = 17 pinned in the oracle text — a drift in the
    // engine's sizing rule breaks the hash, not just a spec
    "x329_semdedup_autok" -> EntryLib.semanticDedupAutoOracle,
    // x331: the decoded-and-resampled pixel at output (y, x, channel)
    // is text byte ((y*h div 2)*4 + x*2)*3 + {2,1,0} — resizeNearest's
    // floor index arithmetic + the BMP BGR order, replayed verbatim
    "x331_media_resize" ->
      """WITH d AS (SELECT doc_id, text,
           CAST(LENGTH(text) AS BIGINT) // 12 AS h
         FROM documents WHERE LENGTH(text) >= 12),
       p AS (SELECT doc_id, text, h, CAST(range AS BIGINT) AS pos
         FROM d CROSS JOIN range(12)),
       m AS (SELECT doc_id, pos, text,
           ((pos // 6) * h) // 2 AS sy,
           ((pos % 6) // 3) * 2 AS sx,
           pos % 3 AS c FROM p)
       SELECT doc_id AS media_id, pos,
         CAST(ascii(substr(text,
           CAST((sy * 4 + sx) * 3
             + (CASE WHEN c = 0 THEN 2 WHEN c = 1 THEN 1 ELSE 0 END)
             + 1 AS INTEGER), 1)) AS BIGINT) AS px
       FROM m ORDER BY media_id, pos""",
    // x332: the x331 arithmetic with PNG's RGB byte order (channel c
    // maps to byte offset c directly — no BGR swap); the engine-side
    // inflate/unfilter must reproduce the text bytes exactly for the
    // hashes to meet
    "x332_png_decode" ->
      """WITH d AS (SELECT doc_id, text,
           CAST(LENGTH(text) AS BIGINT) // 12 AS h
         FROM documents WHERE LENGTH(text) >= 12),
       p AS (SELECT doc_id, text, h, CAST(range AS BIGINT) AS pos
         FROM d CROSS JOIN range(12)),
       m AS (SELECT doc_id, pos, text,
           ((pos // 6) * h) // 2 AS sy,
           ((pos % 6) // 3) * 2 AS sx,
           pos % 3 AS c FROM p)
       SELECT doc_id AS media_id, pos,
         CAST(ascii(substr(text,
           CAST((sy * 4 + sx) * 3 + c + 1 AS INTEGER), 1)) AS BIGINT) AS px
       FROM m ORDER BY media_id, pos""",
    // x333: 16-bit LE signed reassembly as ascii/xor arithmetic — the
    // high byte is text-byte XOR 0x80 (≥ 128 for ASCII text), so every
    // sample is negative and the sign extension is on the hash path
    "x333_wav_samples" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE LENGTH(text) >= 8),
       p AS (SELECT doc_id, text, CAST(range AS BIGINT) AS pos
         FROM d CROSS JOIN range(8))
       SELECT doc_id AS media_id, CAST(1 AS INTEGER) AS channels,
         CAST(8000 AS INTEGER) AS sample_rate, CAST(16 AS INTEGER) AS bits, pos,
         CAST(ascii(substr(text, CAST(pos + 1 AS INTEGER), 1))
           + 256 * xor(ascii(substr(text, CAST(pos + 1 AS INTEGER), 1)), 128)
           - 65536 AS INTEGER) AS sample
       FROM p ORDER BY media_id, pos""",
    // x334: BOTH format legs replayed as the same grayscale text
    // arithmetic — the BMP leg is directly SQL-derivable, and the GIF
    // leg hashing identically is what certifies the LZW decode
    "x334_gif_bmp_identity" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE LENGTH(text) >= 8),
       f AS (SELECT 'bmp' AS fmt UNION ALL SELECT 'gif' AS fmt),
       p AS (SELECT doc_id, text, fmt, CAST(range AS BIGINT) AS pos
         FROM d CROSS JOIN range(12) CROSS JOIN f)
       SELECT doc_id AS media_id, fmt, pos,
         CAST(ascii(substr(text,
           CAST((pos // 6) * 4 + ((pos % 6) // 3) * 2 + 1 AS INTEGER), 1))
           AS BIGINT) AS px
       FROM p ORDER BY media_id, fmt, pos""",
    // x335: the full gate → exact → near-dup → mixture → pack chain
    // (EntryLib.corpusBuildOracle — shared fragments with each
    // per-stage oracle so they cannot drift apart)
    "x335_corpus_build" -> EntryLib.corpusBuildOracle,
    // x336: the learn loop unrolled — see EntryLib.bpeTrainOracle for
    // the MATERIALIZED-per-round discipline
    "x336_bpe_train" -> EntryLib.bpeTrainOracle(6),
    // x337: the exact replace chain from the shared pinned table —
    // both spellings generated from EntryLib.pinnedBpeMerges, so the
    // Spark fold and the SQL chain cannot drift apart
    "x337_bpe_encode" -> EntryLib.bpeEncodeOracle(EntryLib.pinnedBpeMerges),
    // x338: hashMod block + md5-ordered per-block windows, the
    // sampler-family oracle spelling ('0x'||substr(md5)) — run ids by
    // running sum over source breaks, then run-census aggregation
    "x338_training_order" ->
      """WITH base AS (SELECT doc_id AS k, source AS src FROM documents
           WHERE doc_id IS NOT NULL AND source IS NOT NULL),
       b AS (SELECT k, src,
               CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS block,
               md5(CAST(k AS VARCHAR)) AS h
             FROM base),
       r AS (SELECT block, h, k, src,
               CASE WHEN LAG(src) OVER w IS NULL OR LAG(src) OVER w <> src
                    THEN 1 ELSE 0 END AS brk
             FROM b WINDOW w AS (PARTITION BY block ORDER BY h, k)),
       s AS (SELECT block, src,
               SUM(brk) OVER (PARTITION BY block ORDER BY h, k
                              ROWS UNBOUNDED PRECEDING) AS run
             FROM r),
       runs AS (SELECT block, run, any_value(src) AS rsrc,
                  CAST(count(*) AS BIGINT) AS rlen
                FROM s GROUP BY 1, 2)
       SELECT block, CAST(SUM(rlen) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT rsrc) AS BIGINT) AS n_sources,
         CAST(count(*) AS BIGINT) AS n_runs, MAX(rlen) AS max_run
       FROM runs GROUP BY block ORDER BY block""")
}

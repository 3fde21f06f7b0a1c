package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Plans.{count, exchanges}

/** Golden plan-shape gate for the plan-critical queries: an accidental
  * cartesian, a lost pushdown that re-scans the corpus, or an
  * exponential lineage blowup must fail a TEST, not wait for a bench
  * read or a judge pass (round 9's pca_power audit found exactly that:
  * 632 parquet scans in one plan — this spec would have caught it at
  * ≤ the golden bound).
  *
  * The fingerprint is deliberately coarse — operator COUNTS from the
  * formatted explain string, not a text hash — so benign plan drift
  * (AQE decisions, column renames, rule reordering) passes while the
  * pathological classes fail:
  *   - CartesianProduct: forbidden outright in every listed query;
  *   - BroadcastNestedLoopJoin: bounded at the audited count (three
  *     listed queries carry documented 1-row-BNLJ crossJoin sites —
  *     broadcast-tiny totals/cutoffs; everywhere else the bound is 0);
  *   - "Scan parquet" and Exchange counts bounded at 1.5× the audited
  *     PLANS.md value — loop operators' round counts move a little
  *     with data regeneration, a blowup moves 10-600×.
  *
  * Counting method matches tools.Plans provenance: substring counts
  * over `explain("formatted")` at sf0.001 (scans appear twice — tree
  * line + detail block — consistently on both sides of the bound).
  */
object PlanFingerprintSpec {
  /** Names carrying a golden plan fingerprint — read by the CATALOG.md
    * generator so the catalog can cross-link fingerprint coverage.
    */
  private[graft] def fingerprintedNames: Set[String] = {
    val s = new PlanFingerprintSpec
    (s.golden.map(_._1) ++ s.streamingGolden.map(_._1)).toSet
  }
}

class PlanFingerprintSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  // (query, maxScanTokens, maxExchangeTokens) — audited values from
  // PLANS.md (round 9) with 1.5× headroom applied in the assertion
  private[graft] val golden: Seq[(String, Int, Int, Int)] = Seq(
    ("agg_rollup", 2, 1, 0),
    ("join_revenue", 8, 1, 0),
    ("window_rank", 2, 1, 0),
    ("asof_join_native", 4, 2, 0),
    ("embedding_near_dup", 16, 5, 0),
    ("simhash_pairs", 3, 3, 0),
    // one scan of the corpus under the persisted (doc_id, xxhash64)
    // shingle table, printed once per consumer (band self-join sides,
    // rare index, decision): 8 scan tokens, 16 exchanges
    ("near_dedup_chars", 8, 16, 0),
    // round 11: near_dedup drifted over the heavy-tail 3 s bar and the
    // gate red-flagged it (working as designed) — audited + pinned
    ("near_dedup", 7, 10, 0),
    ("near_dedup_incremental", 24, 50, 0),
    ("minhash_lsh", 8, 26, 0),
    ("allpairs_jaccard", 45, 73, 0),
    ("paragraph_dedup", 4, 3, 0),
    ("exactsubstr_report", 4, 3, 0),
    ("exactsubstr_dedup", 4, 3, 0),
    ("curation_pipeline", 12, 12, 0),
    ("text_normalize", 2, 0, 0),
    ("semdedup", 10, 12, 6),
    ("cdc_chunk_dedup", 4, 3, 0),
    ("pagerank", 0, 18, 0),
    ("dedup_clusters", 2, 3, 0),
    ("dedup_canonical", 2, 3, 0),
    ("split_by_cluster", 2, 2, 0),
    ("k_core", 0, 29, 0),
    ("pca_power", 0, 0, 0),
    ("cc_star", 2, 3, 0),
    ("graph_bfs", 0, 125, 0),
    ("link_predict", 0, 6, 0),
    ("triangle_count", 0, 75, 0),
    ("entity_resolution", 8, 4, 0),
    ("salted_join", 4, 0, 0),
    ("bucketed_join", 4, 0, 0),
    ("dpp_join", 6, 3, 0),
    ("zorder_prune", 2, 0, 0),
    ("sql_q9_profit", 10, 2, 0),
    ("sql_q19_disjunctive", 4, 1, 0),
    ("join_q5_shape", 12, 2, 0),
    ("dsir_affinity", 4, 3, 0),
    ("bpe_encode", 2, 1, 0),
    ("gopher_repetition", 2, 1, 0),
    ("rrf_fusion", 9, 7, 6),
    ("fellegi_sunter", 12, 8, 2),
    ("quality_probe", 0, 0, 0),
    ("multimodal_thumbnail", 2, 0, 0),
    // round 10: the last >3s-warm queries without a fingerprint. The
    // BNLJ counts are the documented broadcast-tiny sites: curation
    // report's four 1-row report crossJoins (×2 explain tokens), and
    // embedding_pq's per-subspace crossJoin(broadcast(16-row codebook))
    // — 4 subspaces × (train assign + encode) × 2 tokens
    ("curation_report", 23, 31, 8),
    ("embedding_pq", 25, 40, 16),
    ("curation_pipeline_events", 6, 12, 0),
    // round 11 near-bar pre-audit (2.4 s warm — the next +25% sweep
    // drift would trip the 3 s heavy-tail gate): the 2 BNLJ tokens are
    // the broadcast 1-row basket-total crossJoin
    ("market_basket", 14, 12, 2),
    // round 12: the three steepest measured scalers (SCALING.json 10×
    // ratios 5.6× / 4.6× / 4.6× — the queries with the largest
    // data-work share of wall time, where a plan regression would hurt
    // most at 100 TB) — all under the 3 s bar, pinned proactively
    ("winnowing", 2, 1, 0),
    ("ngram_diversity", 6, 6, 0),
    ("source_overlap", 6, 6, 0),
    // round 12 continuation: the three new curation ops' scaladoc
    // claims "zero-shuffle single-scan projection" — pinned: 1 scan
    // (2 tokens) and ONLY the Par.widen round-robin exchange (2 tokens)
    ("c4_line_filter", 2, 2, 0),
    ("fix_encoding", 2, 2, 0),
    ("gopher_quality", 2, 2, 0),
    // apply half: same single-scan shape plus the page filter
    ("c4_apply", 2, 2, 0),
    // 3 verdict scans + 2 doc_id joins (hash joins at sf0.001; only
    // (id, bits) rows ever shuffle) — cartesian stays forbidden
    ("gopher_filter", 6, 10, 0),
    // round 13: the composed web front door's fused-chain claim —
    // 2 scans (the staged union's two branches, 4 tokens) and exactly
    // 2 exchanges (Par.widen round-robin + the dedup window hash);
    // a decomposed rewrite (per-stage rescans or verdict joins) blows
    // these bounds immediately
    ("web_pipeline", 4, 2, 0),
    ("web_pipeline_corpus", 4, 2, 0),
    // round 13 drift-band pre-audit (2.66 s warm in the driver tail):
    // deletion-neighborhood equi-joins — 5 scans (name catalog + 4
    // neighborhood branches), 5 exchanges, never all-pairs
    ("typo_pairs", 10, 5, 0),
    // round 13: confusable skeleton — the fix_encoding class: 1 scan,
    // only the Par.widen round-robin exchange
    ("confusable_normalize", 2, 2, 0),
    // round 14/15: the near-dedup-staged front door. Since the round-15
    // lineage cut the near tail bottoms out at the ledger's LogicalRDD
    // (zero parquet scan tokens — the staged scan lives inside the
    // checkpointed chain, executed once at construction), and the
    // banding/verify arms read the minhashLshPairs internal persists;
    // the old cache-inflated 51/52 plan-text pin is retired with the
    // persist that caused it. Cartesian stays forbidden, BNLJ zero
    ("web_pipeline_near", 0, 27, 0),
    // round 15: the sem stage over the checkpointed near ledger — the
    // scan tokens are the EMBEDDINGS side table re-printed per
    // banding/verify arm (small parquet, pruned to (vec_id, embedding));
    // the corpus itself never re-scans (LogicalRDD base)
    ("web_pipeline_sem", 24, 11, 0),
    // round 15: span surgery over the checkpointed near ledger — three
    // exchanges total (gram window partition + doc rollup + status
    // join), zero corpus re-scans
    ("web_pipeline_substr", 0, 3, 0),
    // round 15: the streaming near face's seal-time readout runs the
    // SAME post-ledger tail as web_pipeline_near (same function
    // values), so it pins at the identical shape
    ("streaming_web_pipeline_near", 0, 27, 0),
    // round 15: one scan fanned through Expand for the k exact
    // count(DISTINCT)s — crossed the 3 s bar under the honest
    // noop-write action (Expand cost was invisible to count())
    ("column_profile", 2, 2, 0),
    // round 15: the complete front door (near -> sem -> surgery) —
    // the returned plan bottoms at the post-sem checkpoint's
    // LogicalRDD, leaving only the surgery window/rollup and the
    // status join; the upstream stages execute inside the two cuts
    ("web_pipeline_full", 0, 5, 0),
    // round 16: crossed the 3 s heavy-tail bar on the slower close
    // host (no shape change — audited + pinned). The 4 BNLJ tokens are
    // the two sources²-bounded non-equi pair joins (est + exact sides,
    // ×2 explain tokens each); sources is a handful at any SF
    ("source_minhash_sim", 6, 13, 4),
    // round 16: same bar crossing. The 2 BNLJ tokens are the 1-row
    // broadcast item-domain crossJoin; the collision filter is a
    // key-sized left-anti hash join
    ("negative_sampling", 10, 4, 2)
  )

  /** Micro-batch fingerprints for the streaming heavy tail: the op's
    * returned DataFrame is a memory-sink readout, so the gated plan is
    * the one [[graft.streaming.Streaming.capturePlan]] returns — taken
    * by the shared stream shutdown path right before stop(). Bounds
    * are audited PLANS.md round-10 values with the same 1.5× headroom;
    * `marker` pins the load-bearing stateful operator so a silent
    * rewrite to a stateless (or unbounded-state) shape fails the test.
    */
  private[graft] val streamingGolden: Seq[(String, String, Int, Int)] = Seq(
    // (query, required stateful marker, maxScanTokens, maxExchangeTokens)
    // 2 scans: the round-11 stale-capture fix revealed the old golden's
    // 0 was read from a PREVIOUS op's leftover plan (the advice's exact
    // scenario) — the true micro-batch plan scans both file feeds
    ("streaming_join", "StreamingSymmetricHashJoin", 2, 2),
    ("streaming_join_outer", "StreamingSymmetricHashJoin", 0, 2),
    ("streaming_near_dup", "StreamingDeduplicate", 9, 5),
    ("streaming_dedup", "StreamingDeduplicate", 1, 1),
    ("streaming_dedup_watermark", "StreamingDeduplicate", 1, 1),
    ("streaming_window_append", "StateStoreSave", 0, 1),
    // round 11: the curation front door's micro-batch must stay ONE
    // stateless scan→projection into the staging sink — the marker is
    // the codegen'd normalize expression, proving the normalize stage
    // runs IN the stream, not in the readout
    ("streaming_curation_events", "unicodenormalize", 1, 0),
    // round 11 near-bar pre-audit: stateless stream-static monitor —
    // the marker is the broadcast baseline join; no state store at all
    ("streaming_anomaly", "BroadcastHashJoin", 4, 2),
    // round 13 drift-band pre-audit: foreachBatch maintenance — the
    // captured stream-side plan must stay a stateless single-scan feed
    // (the maintained state is the batch-side count table; see the
    // Plans why-line)
    ("streaming_conformal", "FileScan parquet", 1, 0),
    // round 13: the web front door's micro-batch must stay ONE
    // stateless scan -> repair+C4 projection into the staging sink —
    // the marker is the C4 page rule's literal, proving the cleaning
    // stage runs IN the stream, not in the readout
    ("streaming_web_pipeline", "lorem ipsum", 1, 0)
  )

  for ((name, maxScans, maxExch, maxBnlj) <- golden) {
    test(s"plan fingerprint: $name (scans ≤ ${maxScans}·1.5, " +
         s"exchanges ≤ ${maxExch}·1.5, no cartesian)") {
      // the scan-token metric is cache-state-sensitive: a relation
      // persisted by an EARLIER suite (DegeneracySpec runs every query)
      // substitutes InMemoryRelation blocks whose embedded cached plans
      // re-print the child scans, inflating counts 2-4x. Clear the
      // shared session's cache so every fingerprint is taken under the
      // same fresh-session conditions the goldens were generated in
      // (tools.Plans). Suites run sequentially in the forked test JVM,
      // so this cannot race another suite's job.
      TestSpark.spark.catalog.clearCache()
      val df = SparkEntry.queries(name)(TestSpark.spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(count(plan, "CartesianProduct") === 0,
        s"$name grew a cartesian product")
      // maxBnlj > 0 marks the audited 1-row-BNLJ crossJoin sites
      // (broadcast-tiny totals/cutoffs — the documented legal pattern);
      // growth beyond the audited count is a new nested loop
      assert(count(plan, "BroadcastNestedLoopJoin") <= maxBnlj,
        s"$name grew a nested-loop join beyond the $maxBnlj audited " +
        "1-row-BNLJ sites")
      val scans = count(plan, "Scan parquet")
      // line-anchored: plain shuffle Exchange tree nodes only (NOT
      // BroadcastExchange/ReusedExchange, same counting as the goldens)
      val exch = exchanges(plan)
      assert(scans <= math.ceil(maxScans * 1.5).toInt + 1,
        s"$name scan-token count $scans blew past the audited $maxScans " +
        "— a lost reuse/pushdown or an unrolled-lineage blowup")
      assert(exch <= math.ceil(maxExch * 1.5).toInt + 1,
        s"$name exchange count $exch blew past the audited $maxExch")
    }
  }

  for ((name, marker, maxScans, maxExch) <- streamingGolden) {
    test(s"micro-batch fingerprint: $name (marker $marker, scans ≤ " +
         s"${maxScans}·1.5, state exchanges ≤ ${maxExch}·1.5)") {
      TestSpark.spark.catalog.clearCache()
      // running the query executes the feed end-to-end; the shared
      // stream shutdown records the executed micro-batch plan, and
      // capturePlan clears it first, so a run that never reaches that
      // shutdown cannot pass this test against the PREVIOUS op's plan
      val (_, plan) = graft.streaming.Streaming.capturePlan(
        SparkEntry.queries(name)(TestSpark.spark, dir).count())
      assert(plan.nonEmpty, s"$name captured no micro-batch plan")
      assert(count(plan, marker) >= 1,
        s"$name lost its $marker — the stateful shape was rewritten")
      assert(count(plan, "CartesianProduct") === 0,
        s"$name grew a cartesian product in the micro-batch plan")
      assert(count(plan, "BroadcastNestedLoopJoin") === 0,
        s"$name grew a nested-loop join in the micro-batch plan")
      val scans = count(plan, "Scan parquet")
      // micro-batch explain is the simple string mode: exchanges print
      // as `Exchange hashpartitioning`, not the formatted `Exchange (n)`
      val exch = count(plan, "Exchange hashpartitioning")
      assert(scans <= math.ceil(maxScans * 1.5).toInt + 1,
        s"$name micro-batch scan count $scans blew past the audited $maxScans")
      assert(exch <= math.ceil(maxExch * 1.5).toInt + 1,
        s"$name micro-batch exchange count $exch blew past the audited $maxExch")
    }
  }
}

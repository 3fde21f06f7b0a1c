package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for the queries whose physical shape the
  * scale design depends on, into PLANS.md in the working directory —
  * reviewable evidence that the pushdowns/broadcasts/partitionings
  * claimed in README/OPERATORS are the plans Spark actually runs.
  * Usage (from the checkout to regenerate): runMain graft.tools.Plans [sfDir]
  */
object Plans {
  private val audited = Seq(
    "agg_rollup" -> "partial+final hash agg; filter pushed to scan",
    "join_revenue" -> "broadcast dimension joins; one fact shuffle",
    "window_rank" -> "WindowGroupLimit prunes top-k before the sort",
    "asof_join_native" -> "custom AsOfJoin exec: key exchange + in-partition sort-merge",
    "embedding_near_dup" -> "LSH bucket self-join; broadcast vector verify; no cartesian",
    "simhash_pairs" -> "signature-carrying bucket self-join; xor verify in-task",
    "near_dedup_chars" -> "fused funnel: band self-join carrying int signatures (agreement filter runs before any pair shuffle) ∪ sig-filtered rare-shingle candidates → one exact Jaccard decision on the persisted xxhash64 shingle rows (no re-explode, no construction-time jobs beyond the df-cap count)",
    "near_dedup_incremental" -> "batch × corpus bucket equi-join; never corpus²",
    "pack_sequences" -> "one shuffle to shards; per-shard window cumsum; DIV binning",
    "split_leak_pairs" -> "near-dup pairs + pure-projection split labels (no extra join)",
    "pipeline_run_failed" -> "DQ gate on the deduped feed's observed counts short-circuits; audit write only",
    "minhash_lsh" -> "one-pass signature agg; banding shuffle of ids only",
    "bucketed_join" -> "co-located join, no exchange",
    "salted_join" -> "salt-replicated small side, skew-free shuffle",
    "incremental_extract" -> "broadcast 1-row cutoff; no driver round-trip",
    "embedding_ann_kmeans" -> "unrolled Lloyd iterations: broadcast argmax + per-dim decimal sums",
    "sink_raw_partitioned" -> "partition-aligned repartition before hive write",
    "salted_agg" -> "two-stage aggregate through the salt; hot keys fan out",
    "boilerplate_strip" -> "broadcast anti-join of the tiny stop list; ordered reassembly",
    "mixture_sample" -> "per-stratum top-k in hash order (WindowGroupLimit-prunable)",
    "zorder_layout" -> "range partition + in-partition sort on the interleaved key",
    "repetition_score" -> "per-row sorted-run fold; no key shuffle (only Par.widen round-robin)",
    "pii_redact" -> "pure codegen'd regex projection at scan speed",
    "dedup_incremental" -> "hash-set anti-join; shuffles 64-byte hashes, never text",
    "join_q5_shape" -> "6-table star join: region/nation/supplier broadcast, facts shuffle once",
    "scd2_lookup" -> "key equi-join + interval filter (disjoint validity ranges)",
    "hopping_window" -> "sliding-window agg: 4-way expand then partial+final hash agg",
    "anomaly_zscore" -> "broadcast 5-row group stats; flag filter is exact decimal codegen",
    "skyline_pareto" -> "bucket-partitioned windows; only the bucket-max pass is single-partition",
    "retention_cohorts" -> "cohort agg + join reuse the same user-key hash partitioning",
    "containment_pairs" -> "inverted-index posting expansion; no self-join",
    "drift_report" -> "side counts in one scan; totals reuse the bucket exchange (AQE)",
    "embedding_quantize" -> "one calibration scan; broadcast bounds; projection-only encode",
    "dq_freshness" -> "global max via window over per-key aggregates: one scan by construction",
    "ngram_novelty" -> "first-seen aggregation + per-doc rollup; ratio is one exact division",
    // detail upgraded r12: steepest-scaler pin (SCALING.json 10x 4.6x)
    "source_overlap" -> "source-pair shingle Jaccard from an inverted index: distinct (source, shingle) posting lists -> collect_set(source) per shingle -> pairsOf expansion (pair space = source-count^2, never doc^2 and never a self-join) -> per-pair intersection counts + two source-size joins at source cardinality",
    "temperature_sample" -> "stratum-count quota frame broadcast; literal budget keeps WindowGroupLimit",
    "paragraph_dedup" -> "two content-sized shuffles: first-occurrence window + doc reassembly",
    "semdedup" -> "broadcast centroid argmax; one cent_id shuffle; pairwise stays in-cluster",
    // detail upgraded r12: steepest-scaler pin (SCALING.json 10x 5.6x)
    "winnowing" -> "per-doc window-min fingerprints (MOSS): ONE scan, the whole k-gram hash + per-window min + rightmost tie-break + per-doc array_distinct runs as a codegen'd higher-order-function projection; the single exchange is the Par.widen round-robin, no agg, no join",
    "char_entropy" -> "zero-shuffle projection; fixed fold order for portable doubles",
    // round 16: crossed the 3 s heavy-tail bar under the post-reboot
    // (slower) close host — audited + pinned, no shape change
    "source_minhash_sim" -> "map-side-combined MinHash sketch agg to sources×64 longs; pairwise est/exact joins are sources²-bounded BNLJs (source-count pair space, never doc²); posting-list exact side reuses the sourceOverlap shape",
    "negative_sampling" -> "positives×k candidate explode is a projection (1-row broadcast domain crossJoin); one left-anti hash join on (user, candidate) drops accidental positives — no RNG, no corpus² anywhere",
    "multimodal_phash" -> "pixels decoded in-task; only (id, 8-byte hash) shuffles for group counts",
    "cdc_apply" -> "one key shuffle: WindowGroupLimit-pruned latest-wins + tombstone filter",
    "hll_distinct" -> "one scan to (group, bucket) registers — map-side combined, ≤64 rows/group survive",
    "bloom_semi_join" -> "k chained broadcast semi-joins on the set-bit table; probe never exchanges",
    "multimodal_audio" -> "partition-wise PCM decode + integer feature fold; only the 6-column row leaves the task",
    "entity_resolution" -> "prefix ∪ suffix blocking as two broadcast joins of the distinct-name catalog; Levenshtein only on candidates",
    "cooccur_pmi" -> "per-basket pair self-equi-join (bounded by basket size); counts map-side combined",
    "ts_gapfill" -> "daily agg shuffles the feed once on the entity key; calendar grid joins entity-partitioned",
    "mad_outliers" -> "two grouped exact percentiles + broadcast joins back; no row-level shuffle",
    "bpe_pairs" -> "two generator expansions, map-side-combined counts; final window over alphabet²-bounded pairs",
    "ann_recall_eval" -> "exact and IVF top-k share the probe broadcast; comparison joins k-rows-per-probe",
    "graph_bfs" -> "per-hop frontier × edges equi-join + anti-join visited; frontier-sized shuffles",
    "skew_diagnose" -> "TakeOrdered survivors only; key-count table never single-partition sorted",
    "funnel_windowed" -> "three type-filtered aggs share the user-key partitioning",
    "incremental_agg_maintain" -> "batch-only aggregation + full-outer merge of key-sized tables; corpus never rescanned",
    "join_cardinality_est" -> "two filtered aggregations replace the join; sample pushed below the shuffle",
    "exactsubstr_report" -> "stride-1 window expansion; one content-sized first-occurrence window + doc rollup",
    "search_bm25" -> "filtered tf agg + broadcast df/length scalars; TakeOrdered top-k",
    "dq_rules" -> "any-size rule catalog folds to ONE aggregate scan",
    "snapshot_diff" -> "full-outer join of 64-byte payload hashes; change-sized output",
    "shortest_path" -> "per-round distance-table-sized relaxation join + min agg",
    "ewma_smooth" -> "one entity-key shuffle; ordered in-buffer fold",
    "triangle_count" -> "degree-ordered orientation: id-pair wedge join ⋈ canonical edges; graph-sized child-session partitioning",
    "k_anonymity" -> "one map-side-combined quasi-identifier aggregate; violation-sized output",
    "ab_test" -> "unit shuffle → 2-group arm agg → 1-row fixed-shape Welch arithmetic",
    "link_predict" -> "hub-capped wedge self-join (skew-split: row_number only on hub rows); child shuffles sized to capped wedge fan-out",
    "sql_correlated_agg" -> "decorrelated correlated avg: per-part aggregate computed once, equi-joined back to the probe",
    "sql_multi_semi_anti" -> "lateness CTE; EXISTS→left-semi, NOT EXISTS→left-anti on the order key; no cartesian",
    "dpp_join" -> "dynamicpruning PartitionFilter on the day-partitioned fact scan; dim broadcast",
    "zorder_prune" -> "2-D min/max file skipping over the z-clustered layout; bounded keep-list",
    "typo_pairs" -> "deletion-neighborhood equi-joins; per-key groups alphabet-bounded, no all-pairs",
    "bom_rollup" -> "frontier-extended sum-product closure; frontier-sized joins, depth-bounded",
    "sql_lateral_topk" -> "LATERAL LIMIT subquery decorrelated to per-group window/limit",
    "listagg_ordered" -> "WindowGroupLimit top-5 pre-prune; sorted-struct listagg, one key shuffle",
    "merge_full_sync" -> "one full-outer key join; action tagging is a pure projection",
    "unpivot_melt" -> "Catalyst Expand over the 5-row aggregate; one scan, no join",
    "sql_q9_profit" -> "Q9-shape 5-table join: LIKE-filtered part + nation broadcast; fact shuffles once per key; no cartesian",
    "sql_q15_top_supplier" -> "revenue view persisted (supplier-sized; one lineitem scan); 1-row max broadcast back; supplier joined once",
    "sql_q18_large_volume" -> "HAVING-driven qualifying-key set probed by left-semi; detail re-agg reuses the orderkey partitioning",
    "sql_q19_disjunctive" -> "OR-of-ANDs stays a hash join: common equi-key extracted, per-side conjuncts pushed to both scans, disjunction as residual",
    "sql_q20_shape" -> "nested-aggregate share comparison over one broadcast-pruned lineitem scan; supplier touched once by left-semi",
    "sql_q22_balance" -> "1-row cutoff broadcast; anti-join build side pruned by the date filter at the scan",
    "cc_star" -> "star-contraction fixed point rebound as LogicalRDD; final labeling is one groupBy-min + window (loop shuffles are per-round, edge-sized, in a child session)",
    "sql_q2_min_cost" -> "argmin-with-ties: persisted part-slice cost view (one lineitem agg); filtered dims broadcast below the agg",
    "sql_q3_shipping" -> "segment/date filters pushed to all three scans; exact-mc revenue; TakeOrdered top-10",
    "sql_q4_order_priority" -> "EXISTS as left-semi with a non-equi late residual; quarter filter prunes orders at the scan",
    "sql_q6_forecast" -> "single scan; the quantity bound is a PushedFilter, the cast/arithmetic predicates run in the codegen'd Filter above it; integer-exact global agg, no shuffle beyond the 1-row gather",
    "sql_q7_nation_volume" -> "nation-pair disjunction pre-filters both dim sides to 2/25 slices; residual pair check post-join",
    "sql_q8_market_share" -> "market share from one fact pipeline: region left-semi, CASE-sums in one agg, final long→double division",
    "sql_q10_returned" -> "returnflag + date filters pruned at both scans; customer-grain agg; TakeOrdered top-20",
    "sql_q11_important" -> "persisted part-value view scanned twice; 1-row total broadcast; exact cross-multiplied HAVING",
    "sql_q12_shipmode" -> "late-shipping non-equi residual on the order-key hash join; two CASE-sums in one two-group agg",
    "sql_q14_promo" -> "one month-pruned lineitem scan; 2-col part broadcast; promo ratio from exact milli-cent sums",
    "sql_q16_supplier_cnt" -> "left-anti complaint keyset; distinct (part,supp) pairs partial-agg before the (brand,size) shuffle",
    "dsir_affinity" -> "fixed-256-row delta table broadcast; explode + join in-task, map-side combine collapses tokens to one partial per doc before the only exchange",
    "bpe_encode" -> "corpus words equi-join the vocab-sized trained state (LogicalRDD after the checkpointed loop); doc-key agg partial-combines map-side",
    "span_corrupt" -> "zero-shuffle projection: the whole corruption fold is one codegen'd expression per row, no exchange anywhere",
    "fim_split" -> "zero-shuffle projection: hash cuts + three slices + concat, single scan",
    "denoiser_mix" -> "three disjoint hash slices of one source, unioned — no shuffle, no join; each branch is a pure projection",
    "quality_prune_curve" -> "one corpus scan to ≤10 decile buckets; the cumulative window runs over the bucket rows only",
    "gopher_repetition" -> "nine per-row sorted-run folds in one codegen'd projection; no key shuffle at any n",
    "ccnet_buckets" -> "vocabulary-sized LM joins (docLmScore's plan); ONE lang-partitioned ntile window over (id, lang, score)",
    "shard_manifest" -> "one scan, partial+final hash agg to nShards rows; only the tiny partials shuffle",
    "rrf_fusion" -> "fusion join of two 20-row TakeOrdereds (AQE broadcasts at runtime); each ranker re-scans the corpus for its tf/df/length aggs - a production index materializes the posting stats once",
    "graph_walks" -> "per-step 2-column frontier equi-join vs checkpointed posting-list adjacency",
    "kaplan_meier" -> "one user-keyed agg over the feed; window cumsum + prefix fold on the distinct-lifetime table",
    "ks_drift" -> "one conditional agg keyed by cents value; window CDFs on the distinct-value table; integer decision",
    "cdc_chunk_dedup" -> "per-row rolling-hash chunking (no shuffle); one content-keyed first-occurrence window + doc rollup",
    "langid_ngram" -> "one trigram explode feeds profile + doc-top aggs; langs-by-profileK broadcast scoring join",
    "kendall_tau" -> "two TakeOrdered rankings; pair counts over the <=k common set (nested-loop on 20 rows, by design)",
    "spearman_rho" -> "same two TakeOrdered rankings; dense re-rank windows over the <=k common set only; one-row d^2 agg",
    "mann_whitney" -> "ks_drift's conditional agg keyed by cents value; one below-count window over the discrete domain; DECIMAL(38,0) decision, no sqrt",
    "rouge2_eval" -> "one conditional (pair,gram)-keyed agg (no gram self-join), map-side combined; pair rollup reuses nothing corpus-sized",
    "theil_sen" -> "one map-side-combined feed agg to the daily table; pair expansion + median window over day-bounded groups only",
    "incremental_join_maintain" -> "4 delta-sized joins per side vs checkpointed accumulators; the accumulated x accumulated join never appears",
    "allpairs_jaccard" -> "per-doc df-ordered prefix window (NO global sort) -> persisted (doc_id, shingle-hash) self-join -> semi-joined set verify; no df cap, no banding: candidates COMPLETE by the prefix lemma",
    "isotonic_calibration" -> "knn chain feeds a <=k-row bin table; the interval lattice + minimax windows are constant-sized regardless of corpus",
    "conformal_threshold" -> "ONE feed scan to the (group,cents) count table; median/q-hat/coverage all cumulative-window selections over the bounded domain",
    "dq_suggest" -> "single map-side-combined aggregate (counts, extremes, distincts in one pass); explode runs on the 1-row wide result",
    "sql_recursive_cte" -> "UnionLoop fixpoint: per-iteration join of the frontier against the part scan; depth-bounded, rollup on the closure",
    "purged_kfold" -> "one map-side-combined scan to the day table; 1-row bounds broadcast + K-row fold range join — nothing feed-sized after the first agg",
    "fellegi_sunter" -> "two bounded-block joins (15/1000 ids per key, linear candidates), persisted comparison vectors feed the 1-row estimate and the <=8-row pattern rollup",
    // round 9: the heavy-warm tail the round-8 verdict flagged as unaudited
    "pagerank" -> "contrib join + sum agg per round over the PERSISTED edge/degree tables (InMemoryTableScan); every-4th-round localCheckpoint bounds the visible plan to the last rounds",
    "dedup_clusters" -> "label-propagation loop runs at GRAPH size in a child session (shuffles sized to the pair graph, corpus never in the loop); the returned plan is only the post-loop labeling window",
    "dedup_canonical" -> "canonical pick over the loop's label output: one window + filter, two label-sized exchanges; corpus joined once",
    "split_by_cluster" -> "split assignment is a projection + one exchange over the post-loop label table; nothing corpus-sized after the clustering",
    "k_core" -> "per-round degree agg + broadcast semi-join peel on the persisted edge table, lineage cut per round; final plan is the bounded last-rounds tail",
    "pca_power" -> "per-round broadcast-vector x decimal-sum aggs over the PERSISTED exploded matrix; v localCheckpoint'ed per round (the un-cut plan doubled per round - 632 scans / 3348 nodes at 6 iters; now one cached scan + a LogicalRDD tail)",
    "curation_pipeline" -> "fused front: NFC normalize + sha2 inside the scan projection; hash-partition window dedup; shingle near-dedup runs on survivors only",
    "exactsubstr_dedup" -> "stride-1 window explode (w x corpus, disclosed); ONE first-occurrence window keyed by a 96-bit hash pair (xxhash64 || murmur3-32) computed map-side, so the exchange carries (doc_id, pos, 12 hash bytes) instead of w-token strings; covered-token rebuild is a per-row projection",
    "text_normalize" -> "zero-shuffle projection: codegen'd UnicodeNormalize + two regex passes + trim + sha2 in one scan",
    "quality_probe" -> "trained scoring as a LogicalRDD tail (the 6 GD steps each ran ONE scan to a 4-number gradient; the model is literals, not data)",
    "multimodal_thumbnail" -> "partition-wise decode-resample-re-encode projection; zero shuffle, only the 7-column feature row leaves the task",
    // round 10: the last >3s-warm queries without an audit (the r9
    // verdict's criterion-as-stated), now gated by HeavyTailAuditSpec
    // round 11: near_dedup drifted over the 3 s bar (3.005 s warm in
    // BENCH_r11_local under +4% whole-sweep host drift) — the gate
    // red-flagged it exactly as designed; audited here. market_basket
    // (2.4 s) is pre-audited for the same reason: the next +25% sweep
    // drift would otherwise start a round red
    "market_basket" -> "basket-keyed equi self-join over the distinct (basket, item) pairs (pair space sum(basket^2), capBaskets-bounded, never corpus^2) -> pair-count agg with minSupport pushdown; item/basket counts join back at item cardinality; the one crossJoin is the broadcast 1-row basket total (documented BNLJ pattern)",
    "near_dedup" -> "word-shingle inverted index, no LSH needed at word sparsity: posting-list groupBy (df-capped, pair expansion bounded df^2) -> per-pair intersection counts -> two doc-size count joins -> exact Jaccard filter; shuffles carry (shingle, id) postings and (id,id,count) pairs, never text",
    "curation_report" -> "union of its parts' plans: hash-groupBy uniques + inverted-index pair candidates + edge-sized label loop (child session); the five report numbers meet in 1-row crossJoins (the documented BNLJ pattern)",
    "curation_pipeline_events" -> "parity-P1 flatten (from_json k leaf) + text render + NFC normalize + sha2 fused into the ONE events scan projection; then the same hash-window dedup + survivor-only near stage as curation_pipeline",
    "embedding_pq" -> "per-subspace decimal Lloyd training over a persisted (id, subvector) projection (shuffles carry k·subDim partial rows, never vectors); broadcast-centroid argmax encode; only constant-width code rows reach the final per-vector shuffle",
    // round 12: the three STEEPEST measured scalers (SCALING.json 10x
    // ratios 5.6x winnowing / 4.6x ngram_diversity / 4.6x
    // source_overlap — i.e. the queries where data work is the largest
    // share of wall, so a plan regression hurts most at scale) are all
    // audited + fingerprinted even though all are under the 3 s bar:
    // the steep ratio is fixed overhead giving way to LINEAR per-doc
    // work (two-decade exponents 0.31-0.34), not a superlinear stage —
    // the plans are the evidence. winnowing/source_overlap were
    // already audited (entries above, detail upgraded r12); the one
    // new audit is:
    "ngram_diversity" -> "distinct-n readout for n=1..3: per-n explode -> (source, gram) count agg (map-side partial collapses repeated grams before the exchange) -> per-source distinct/total rollup; three branches union; no join",
    // round 12 continuation: the three new curation ops all claim
    // "zero-shuffle single-scan projection" in their scaladoc — pin the
    // claim here so a future rewrite that grows an agg/join fails the
    // fingerprint gate instead of surviving as prose
    "c4_line_filter" -> "C4 line+page rules as ONE codegen'd HOF projection (quarter-render injection, line filter/aggregate folds); no agg, no join; the only exchange is the Par.widen round-robin",
    "fix_encoding" -> "mojibake repair: literal replace chain as a pure codegen projection at scan speed; Par.widen round-robin is the only exchange",
    "gopher_quality" -> "seven Gopher quality signals + flags in one per-row projection (regex-split words/lines, filter/aggregate folds, array_intersect stop-word probe); no agg, no join; Par.widen round-robin only",
    "c4_apply" -> "the report op's kept-lines projection + page-rule filter + line rejoin — still one scan, zero key shuffle; output rows strictly subset input",
    "gopher_filter" -> "three per-row verdict projections joined twice on doc_id — only (id, bits) rows cross the wire; the repetition half's n-gram folds stay per-row inside their branch, no corpus-sized agg anywhere",
    // round 13: the composed web front door — the fused-chain claim IS
    // the operator's point, so pin it: a rewrite that decomposes into
    // per-stage scans or verdict-frame joins fails here instead of
    // surviving as prose
    "web_pipeline" -> "fix->C4->Gopher A1 as ONE codegen projection chain over the two-branch staged union (no per-stage rescan, no verdict joins — the three Gopher halves are column builders in the same projection, guarded by c4_pass); the dedup window is the single hash exchange (content sha2 for keepers, per-doc solo keys for drops, so partitions never outgrow a dup group); plus the Par.widen round-robin",
    "web_pipeline_corpus" -> "the same fused chain + kept filter + text projection; output rows strictly subset the staged input (mirror dedup alone halves the keepers)",
    // round 14: the near-dedup-staged front door — heavy by design
    // (the whole chain + LSH), pre-audited before its first sweep
    "web_pipeline_near" -> "the fused chain materializes ONCE behind the round-15 ledger lineage cut (every downstream arm bottoms at the LogicalRDD — no chain re-plan or recompute per branch); kept canonicals flow shingles->minhash signatures (TypedImperativeAggregate, 64 hashes)->band exchange->posting pairs->semi-joined Jaccard verify; the final join is key-sized (pairs groupBy), never text-sized",
    "confusable_normalize" -> "homoglyph replace chain + per-char counts + one word-level HOF as a pure codegen projection; Par.widen round-robin is the only exchange",
    // round 15: the noop-write bench action surfaced the work count()
    // had optimizer-pruned (unreferenced enrichment joins, projection
    // folds) — four queries crossed the 3 s bar under honest
    // measurement and are audited here
    "web_pipeline_sem" -> "near ledger checkpoint (one chain materialization) -> kept-id semi of the EMBEDDINGS side table (side table re-scanned per banding arm — small, (vec_id, embedding)-pruned) -> 16 sign-band keys -> posting pairs -> exact-cosine verify join over candidate vectors only -> key-sized status join; nothing corpus-sized after the ledger",
    "web_pipeline_substr" -> "near ledger checkpoint (keepText) -> stride-1 gram explode over SURVIVORS only, hashed map-side (24 B/window on the wire) -> one (g64,g32)-keyed first-occurrence window -> doc rollup -> key-sized status join; three exchanges total, zero corpus re-scans",
    "streaming_web_pipeline_near" -> "seal-time readout plan: the staged parquet (written live by the stateless micro-batch stage) flows the literal batch verdict+near tails — same function values as web_pipeline_near, so the plan is its post-ledger shape over a staging scan",
    "column_profile" -> "ONE orders scan fanned k ways through Catalyst's Expand for the k exact count(DISTINCT)s (the documented irreducible exact-cardinality cost; approx_count_distinct is the disclosed 100 TB swap); min/max/null partials combine map-side; output is k rows",
    "web_pipeline_full" -> "the complete chain: two lineage cuts (post-near, post-sem) bound plan depth and recompute — the upstream stages run once inside the cuts, the visible tail is the surgery window/rollup + status join over the post-sem LogicalRDD; stage populations shrink monotonically so cost is bounded by the near stage plus smaller tails")

  /** Streaming ops whose returned DataFrame is a memory-sink readout
    * (explain = LocalTableScan) — the audited evidence is the executed
    * MICRO-BATCH plan captured off the StreamExecution right before
    * stop() ([[graft.streaming.Streaming.capturePlan]]).
    */
  private val streamingAudited = Seq(
    "streaming_join_outer" -> ("stateful stream-stream left-outer: " +
      "StreamingSymmetricHashJoin with watermark-bounded state on both sides"),
    "streaming_join" -> ("stream-stream interval inner join: " +
      "StreamingSymmetricHashJoin; state bounded by the join window + watermark"),
    "streaming_near_dup" -> ("stream-static probe of the persisted corpus " +
      "MinHash index: band equi-join + shingle-set verify join (no forced " +
      "broadcast of the corpus side); the ONLY stateful operator is the " +
      "pair-key dropDuplicates"),
    "streaming_dedup" -> ("stateful dropDuplicates on the event key: " +
      "one exchange to the state store; state = one key per distinct id"),
    "streaming_dedup_watermark" -> ("dropDuplicatesWithinWatermark: same " +
      "key exchange, state EVICTED by event-time watermark (bounded, the " +
      "production shape)"),
    "streaming_window_append" -> ("watermarked tumbling-window aggregate in " +
      "append mode: partial agg before the window-key exchange, final agg " +
      "against the state store, rows emitted on watermark close"),
    "streaming_anomaly" -> ("stream-static anomaly monitor (pre-audited " +
      "at 2.2 s warm, the near-bar discipline): per-group baseline " +
      "moments trained batch-side and broadcast; each micro-batch is a " +
      "stateless flag projection + filter — no aggregation on the feed, " +
      "no state store"),
    "streaming_curation_events" -> ("the events curation front door live: " +
      "flatten(from_json)+render+NFC-normalize+sha2 as ONE stateless " +
      "micro-batch projection into the parquet staging sink (no state " +
      "store, no shuffle per tick); the verdict tail runs batch over the " +
      "staged corpus on close"),
    // round 13 drift-band pre-audit (2.47 s warm in the driver tail):
    // the foreachBatch maintenance body runs as separate batch jobs the
    // StreamExecution does not retain, so the captured plan is the
    // STREAM side — which must stay a stateless single-scan feed
    // pass-through (state lives in the maintained (group, cents) count
    // table, bounded by the metric's discrete domain; the readout is
    // the batch conformal_threshold statistic stage, audited with the
    // batch op). Any stateful operator or shuffle grafted onto the
    // stream graph fails the fingerprint bounds
    "streaming_conformal" -> ("foreachBatch side-count maintenance: the " +
      "captured stream graph is a stateless single-scan feed " +
      "pass-through; the bounded-domain count-table merge runs as " +
      "batch jobs inside foreachBatch and the readout is the literal " +
      "batch conformal statistic stage"),
    "streaming_web_pipeline" -> ("the web front door live: mojibake " +
      "repair + C4 page cleaning as ONE stateless micro-batch " +
      "projection into the parquet staging sink (no state store, no " +
      "shuffle per tick — webStage12, the same function value the " +
      "batch op composes); the Gopher+dedup verdict tail runs batch " +
      "over the staged corpus on close, hash-equal to web_pipeline"))

  /** Every audited query name — the HeavyTailAuditSpec gate asserts the
    * latest bench's >3 s-warm set is a subset of this.
    */
  val auditedNames: Set[String] =
    audited.map(_._1).toSet ++ streamingAudited.map(_._1).toSet

  /** Occurrences of `token` in a plan string: the substring count the
    * plan fingerprint gates read (a formatted plan prints each scan
    * twice, tree line and detail block, on both sides of every bound).
    */
  def count(plan: String, token: String): Int = {
    var n = 0; var i = plan.indexOf(token)
    while (i >= 0) { n += 1; i = plan.indexOf(token, i + 1) }
    n
  }

  /** Plain shuffle `Exchange` tree nodes of a formatted plan, anchored
    * to the tree line so BroadcastExchange and ReusedExchange do not
    * count. */
  def exchanges(plan: String): Int =
    """(?m)^[\s+:|-]*Exchange \(""".r.findAllIn(plan).size

  /** The fingerprint token line of a formatted plan. */
  def tokens(plan: String): String =
    s"scans=${count(plan, "Scan parquet")} exchanges=${exchanges(plan)} " +
      s"bnlj=${count(plan, "BroadcastNestedLoopJoin")} " +
      s"cartesian=${count(plan, "CartesianProduct")} " +
      s"inmemory=${count(plan, "InMemoryRelation")}"

  /** Strip run-varying ids so a PLANS.md regeneration diffs ONLY on
    * real plan changes (r12: a no-op regeneration used to churn ~11k
    * lines of exprId noise, burying the three lines that mattered):
    * exprIds (`#123`/`#123L`), exchange `plan_id`s, and the random
    * `/tmp/temporary-*` checkpoint dirs in micro-batch plans, lambda
    * variable and RDD ids, call-site line numbers, and a broadcast
    * stage's size estimate. The
    * operator structure, column names, pushed filters, and partitioning
    * arguments — everything the audits reason about — are untouched.
    */
  private[graft] def normalize(plan: String): String =
    plan
      .replaceAll("#\\d+L?", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("/tmp/temporary-[0-9a-f-]+", "/tmp/temporary-x")
      // codegen stage numbering varies with traversal order run to run;
      // the WholeStageCodegen SPAN STRUCTURE (what the audits read) is
      // unchanged by renaming the ids. The bare "Arguments: N" line is
      // the WholeStageCodegen node's stage id — same class of noise.
      .replaceAll("codegen id : \\d+", "codegen id : x")
      .replaceAll("(?m)^Arguments: \\d+$", "Arguments: x")
      // JVM lambda identities (typed mapPartitions codecs)
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+", "Lambda\\$x")
      // object identity hashes, stream runId/watermark UUIDs, and the
      // randomly-sampled part file the InMemoryFileIndex line names
      .replaceAll("@[0-9a-f]{6,}", "@x")
      .replaceAll(
        "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "x")
      .replaceAll("part-\\d{5}-", "part-x-")
      // session-global counters: higher-order-function lambda variable
      // ids (`lambda x_40`), RDD ids (`MapPartitionsRDD[498]`) and the
      // source line of the call site that made the RDD (`at
      // Graph.scala:59`) — each moves when an unrelated query or an
      // unrelated line of the same file changes
      .replaceAll("(lambda [a-z]+)_\\d+", "$1_x")
      .replaceAll("RDD\\[\\d+\\]", "RDD[x]")
      .replaceAll("\\.scala:\\d+", ".scala:x")
      // micro-batch captures: WHICH epoch is the last one before stop()
      // varies with file-listing order, and the epoch drags its batch
      // id, state version, and watermark millis/micros along — the
      // operator tree is the audited content, not the tick scalars.
      // (Round 13 retired the last three residual churn classes: the
      // *(N) per-epoch codegen star ids normalize below, Expand branch
      // order is canonicalized by sortExpandBranches, and the
      // empty-watermark-flush final tick is retried away in the
      // streaming audit loop — a no-op regeneration now diffs empty.)
      .replaceAll("epoch: \\d+", "epoch: x")
      .replaceAll("ver = \\d+", "ver = x")
      // the two numerics printed after stateStoreCkptIds are the batch
      // id and the event-time watermark — the watermark is 0 on a
      // first tick and a micros timestamp later, so the pair flips
      // 0 <-> x across captures (round-14 churn class)
      .replaceAll("stateStoreCkptIds = None, \\d+, \\d+",
        "stateStoreCkptIds = None, x, x")
      .replaceAll("\\b\\d{13,16}\\b", "x")
      // per-epoch whole-stage-codegen star ids in simple-mode
      // micro-batch plans: *(3) Project — the stage NUMBER is traversal
      // noise, the star structure is the audited content
      .replaceAll("\\*\\(\\d+\\)", "*(x)")
      // a broadcast query stage's sizeInBytes is the built relation's
      // memory footprint, whose page size follows the JVM heap (32 MiB at
      // a 4 GB heap, 64 MiB at 8 GB); its rowCount is the plan fact
      .replaceAll("(BroadcastQueryStage .*sizeInBytes=)[^,)]+", "$1x")
      .linesIterator.map(normalizeGidLabels).map(sortColumnDiagonals)
      .map(sortKeyRunsBeforeGid).map(sortExpandBranches)
      .mkString("", "\n", if (plan.endsWith("\n")) "\n" else "")

  /** The count-distinct rewrite assigns its gid labels 1..k to the
    * distinct terms in hash order — arbitrary labeling, the same noise
    * class as the branch order itself. On lines carrying the rewrite's
    * `gid#x` token, erase the label values (branch tails and FILTER
    * predicates) BEFORE the CASE-list sort so the sorted items compare
    * equal across runs. The branch-tail erasure is anchored to the
    * diagonal-branch shape the rewrite emits — a label integer
    * directly after a `null, ` or `END, ` slot — so a genuine literal
    * argument change elsewhere in an Expand line is NOT normalized
    * away (ADVICE r13: the old `, digits]` pattern erased every
    * trailing list integer on gid lines).
    */
  private def normalizeGidLabels(line: String): String =
    if (!line.contains("gid#x")) line
    else line
      .replaceAll("\\(gid#x = \\d+\\)", "(gid#x = n)")
      .replaceAll("(null, |END, )\\d+\\]", "$1n]")

  /** Canonicalize the count-distinct rewrite's branch order: Spark
    * emits the rewrite's Expand branches — and every downstream column
    * list derived from them (Input/Keys/Results/hashpartitioning/
    * Functions) — in grouping-expression hash order, which varies run
    * to run. Rule: inside any bracketed `[...]` or parenthesized
    * `(...)` list, if TWO OR MORE top-level comma-items contain
    * "CASE WHEN" (the rewrite's signature — no other emitted list
    * carries several CASE items), sort exactly those items among
    * themselves (lexicographically, stable slots for everything else).
    * Innermost groups canonicalize first so outer sorts see stable
    * text. Idempotent; lines without the signature pass through
    * unchanged.
    */
  private def splitTop(s: String): Seq[String] = {
    val items = scala.collection.mutable.ArrayBuffer[String]()
    var d = 0; var last = 0; var k = 0
    while (k < s.length) {
      s.charAt(k) match {
        case '[' | '(' => d += 1
        case ']' | ')' => d -= 1
        case ',' if d == 0 && k + 1 < s.length && s.charAt(k + 1) == ' ' =>
          items += s.substring(last, k); last = k + 2; k += 1
        case _ =>
      }
      k += 1
    }
    items += s.substring(last)
    items.toSeq
  }

  /** Rewrite every `[...]` / `(...)` list of `line` with `canon`,
    * innermost first, so an outer list sees its children already
    * canonical. */
  private def sweepLists(line: String)(canon: String => String): String = {
    var str = line
    val opens = scala.collection.mutable.Stack[Int]()
    var k = 0
    while (k < str.length) {
      str.charAt(k) match {
        case '[' | '(' => opens.push(k)
        case ']' | ')' if opens.nonEmpty =>
          val o = opens.pop()
          val inner = str.substring(o + 1, k)
          val c = canon(inner)
          if (c != inner) {
            str = str.substring(0, o + 1) + c + str.substring(k)
            k += c.length - inner.length
          }
        case _ =>
      }
      k += 1
    }
    str
  }

  /** The formatted-explain field kinds the count-distinct rewrite's
    * noise can appear under — Expand `Arguments:` plus the downstream
    * node fields derived from its output order (`Input`/`Keys`/
    * `Results`/`Functions` lists and the `hashpartitioning` Exchange
    * arguments). The diagonal/key-run canonicalizers are gated to
    * these line kinds (ADVICE r14): a `gid#x` that ever surfaces under
    * some OTHER field in a future Spark version will then show up as
    * regeneration churn to be audited, not be silently relabeled.
    */
  private val rewriteFieldLine =
    """^\s*(Arguments: |Input \[|Keys \[|Results \[|Functions \[)""".r
  private[graft] def isRewriteFieldLine(line: String): Boolean =
    rewriteFieldLine.findFirstIn(line).isDefined

  /** The multi-distinct-COLUMN variant of the rewrite's branch noise
    * (round 14, caught by the close's no-op regeneration check on
    * `dq_suggest`): when the distinct terms are columns or CASE-free
    * expressions — e.g. count(DISTINCT user_id), count(DISTINCT
    * cast(ts as date)) — the Expand block's diagonal branches hold one
    * such term each, and which term owns which slot/label is per-JVM
    * hash noise.
    * Gated to `gid#x` lines only: grouping-sets Expands (where branch
    * order IS semantic) carry spark_grouping_id, never the rewrite's
    * gid, so they are untouched. Detect a block with ≥2 single-term
    * branches of equal arity, erase the integer labels, and reassign
    * the SORTED terms onto the sorted slots — an honest relabeling,
    * since the rewrite's gid discrimination is symmetric in it.
    */
  private[graft] def sortColumnDiagonals(line: String): String = {
    if (!line.contains("gid#x") || !isRewriteFieldLine(line)) return line
    def isSimple(it: String) =
      it == "null" || it == "n" || (it.nonEmpty && it.forall(_.isDigit))
    def isTerm(it: String) = !isSimple(it) && !it.contains("CASE WHEN")
    def canon(inner: String): String = {
      val groups = splitTop(inner)
      if (groups.size < 2 ||
          !groups.forall(g => g.startsWith("[") && g.endsWith("]")))
        return inner
      val parsed = groups.map(g => splitTop(g.substring(1, g.length - 1)))
      val arity = parsed.head.size
      if (!parsed.forall(_.size == arity)) return inner
      val diagIdx = parsed.zipWithIndex.filter { case (items, _) =>
        items.count(isTerm) == 1 &&
          items.forall(it => isTerm(it) || isSimple(it))
      }.map(_._2)
      if (diagIdx.size < 2) return inner
      val slots = diagIdx.map(bi =>
        parsed(bi).indexWhere(isTerm))
      if (slots.distinct.size != slots.size) return inner
      val cols = diagIdx.map(bi =>
        parsed(bi).find(isTerm).get).sorted
      val sortedSlots = slots.sorted
      val out = parsed.map(_.toArray).toArray
      // integer labels are assignment noise everywhere in the block
      for (b <- out; i <- b.indices if isSimple(b(i)) && b(i) != "null")
        b(i) = "n"
      diagIdx.zipWithIndex.foreach { case (bi, j) =>
        for (i <- out(bi).indices if isTerm(out(bi)(i)))
          out(bi)(i) = "null"
        out(bi)(sortedSlots(j)) = cols(j)
      }
      out.map(_.mkString("[", ", ", "]")).mkString(", ")
    }
    sweepLists(line)(canon)
  }

  /** Downstream of the column-diagonal rewrite, every flat column list
    * (Input/Keys/Results/hashpartitioning, and a Sort's order list)
    * leads with the distinct terms in the SAME noisy order, directly
    * before the `gid#x` item — sort exactly that run (round 14, the
    * dq_suggest class). The run must start the list and every item in
    * it must be an attribute (`...#x`) carrying the gid item's suffix
    * (e.g. ` ASC NULLS FIRST`), so a CASE tail's `END#x` can never be
    * pulled into it.
    */
  private[graft] def sortKeyRunsBeforeGid(line: String): String =
    if (!line.contains("gid#x") || !isRewriteFieldLine(line)) line
    else sweepLists(line) { inner =>
      val items = splitTop(inner)
      val g = items.indexWhere(it => it == "gid#x" || it.startsWith("gid#x "))
      val suffix = if (g < 0) "" else items(g).stripPrefix("gid#x")
      val run = items.take(math.max(g, 0))
      if (run.size < 2 || !run.forall(it => !it.contains("CASE WHEN") &&
          (it.endsWith("#x" + suffix) || it.endsWith("#xL" + suffix)))) inner
      else (run.sorted ++ items.drop(g)).mkString(", ")
    }

  private[graft] def sortExpandBranches(line: String): String = {
    // sort the CASE-items of one list among themselves (stable slots
    // for everything else); length-preserving, so positions stay valid
    def canonItems(inner: String): String = {
      val items = splitTop(inner)
      val caseIdx = items.zipWithIndex.filter(_._1.contains("CASE WHEN"))
      if (caseIdx.size < 2) inner
      else rebuildDiagonal(items).getOrElse {
        val out = items.toArray
        caseIdx.map(_._2).zip(caseIdx.map(_._1).sorted)
          .foreach { case (i, v) => out(i) = v }
        out.mkString(", ")
      }
    }
    // the count-distinct Expand's branch block is a DIAGONAL: branch i
    // holds its CASE term at slot i with nulls elsewhere (+ the gid
    // label), and WHICH term owns which slot is the hash-order noise —
    // sorting the branch strings cannot fix it (the null prefix encodes
    // the slot). Detect exactly that shape and rebuild it with the
    // terms sorted onto the diagonal.
    def rebuildDiagonal(groups: Seq[String]): Option[String] = {
      val parsed = groups.map { g =>
        if (!(g.startsWith("[") && g.endsWith("]"))) return None
        val items = splitTop(g.substring(1, g.length - 1))
        val cases = items.filter(_.contains("CASE WHEN"))
        if (cases.size != 1) return None
        if (!items.forall(it => it.contains("CASE WHEN") ||
            it == "null" || it == "n" || it.forall(_.isDigit))) return None
        (items.size, cases.head, items.last)
      }
      val arity = parsed.head._1
      if (!parsed.forall(_._1 == arity) || parsed.size != arity - 1)
        return None
      val sorted = parsed.map(_._2).sorted
      Some(sorted.zipWithIndex.map { case (c, i) =>
        (0 until arity - 1).map(j => if (j == i) c else "null")
          .mkString("[", ", ", ", n]")
      }.mkString(", "))
    }
    // inner lists are canonical by the time the parent sorts (see
    // sweepLists); stable sort => idempotent
    if (!line.contains("CASE WHEN")) line else sweepLists(line)(canonItems)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // 4 cores on any host: the plans print their partition counts
    val spark = graft.Bench.localSession(4, "ERROR")

    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan evidence (generated by graft.tools.Plans)\n\n"
    sb ++= s"Source: `explain(\"formatted\")` on `$sfDir`. Regenerate with\n"
    sb ++= "`sbt \"runMain graft.tools.Plans\"` after plan-affecting changes.\n"

    audited.foreach { case (name, why) =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb ++= s"\n## $name — $why\n\n```\n${normalize(plan)}```\n"
      // operator-internal persist marks are scoped to one query — drop
      // them between constructions so no dump reads a previous query's
      // cache state (ADVICE r14: sweep constructions used to leak cache
      // entries, making plan text cache-state-sensitive)
      spark.catalog.clearCache()
    }

    // streaming ops return a memory-sink readout (whose explain is just a
    // LocalTableScan) — the plan that matters is the stateful MICRO-BATCH
    // plan on the StreamExecution, captured right before stop()
    streamingAudited.foreach { case (name, why) =>
      // retry the run when the FINAL captured tick happens to be an
      // empty watermark-flush batch (file-listing-order luck): its
      // LocalTableScan-<empty> feeds are pure churn, not plan evidence
      // (the last residual regeneration-noise class, retired round 13)
      // For the watermark-closed ops (stream-stream joins, append-mode
      // windows) the LAST tick is structurally the watermark-flush
      // batch — state eviction / window finalization runs against an
      // empty feed after the final files, so the flush capture IS the
      // op's stable executed plan (the committed baseline has carried
      // it since round 10). Occasionally processAllAvailable returns
      // before that trailing tick and a non-flush plan leaks out — the
      // inverse churn. Determinism therefore needs retry in BOTH
      // directions: flush-structural ops retry UNTIL the flush
      // capture, everything else retries until a real one, and either
      // way a 12-attempt miss FAILS LOUDLY instead of committing churn
      // (ADVICE r13; round-14's first close caught streaming_join
      // flipping between the two forms across regenerations).
      val flushStructural = Set("streaming_join", "streaming_join_outer",
        "streaming_window_append").contains(name)
      def accepted(p: String): Boolean =
        p.nonEmpty &&
          (p.contains("LocalTableScan <empty>") == flushStructural)
      var plan = ""
      var attempt = 0
      while (attempt < 12 && !accepted(plan)) {
        // capturePlan clears first: a run that fails before its stream
        // stops must not silently re-print the previous op's plan
        // (advice round 10)
        plan = graft.streaming.Streaming.capturePlan(
          graft.SparkEntry.queries(name)(spark, sfDir).count())._2
        attempt += 1
      }
      require(plan.nonEmpty, s"$name: no micro-batch plan captured")
      require(accepted(plan),
        s"$name: capture never reached its stable form " +
          s"(flushStructural=$flushStructural) in $attempt attempts — " +
          "rerun; committing it would reintroduce regeneration churn")
      sb ++= s"\n## $name — $why (the executed micro-batch plan, " +
        "not the readout)\n\n```\n" + normalize(plan) + "```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${audited.size} plans)")
    spark.stop()
  }
}

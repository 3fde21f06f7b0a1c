package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for LLM training corpora (SURVEY §2.8 [EXT]):
  * exact content-hash dedup and shingle-Jaccard near-dedup, plus a
  * MinHash+LSH candidate generator for the 100 TB path.
  */
object TextDedup {

  /** Exact dedup by content hash: canonical (min doc_id) row per distinct
    * text. `sha2` keeps the shuffle key at 64 bytes regardless of document
    * size — at 100 TB you shuffle hashes, not documents
    * (reference analog: D1 keep-first dedup, `data_pipeline.py:84-85`).
    */
  def contentHashDedup(docs: DataFrame): DataFrame =
    docs.select(sha2(col("text"), 256).as("content_hash"), col("doc_id"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup: new-batch documents whose content hash is
    * unseen — neither in the existing corpus nor earlier (by doc_id) in
    * the batch itself. THE shape of a production ingest tick: the corpus
    * side reduces to a 64-byte hash set (shuffled hashes, never text),
    * the batch anti-joins against it, and within-batch ties resolve
    * keep-first. At 100 TB the corpus hash set is a bucketed table
    * maintained across ticks, so each tick shuffles only the new batch.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val seen = corpus.select(sha2(col("text"), 256).as("content_hash")).distinct()
    batch.withColumn("content_hash", sha2(col("text"), 256))
      .join(seen, Seq("content_hash"), "left_anti")
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("content_hash"))
  }

  /** Corpus-wide exact paragraph deduplication (the ExactSubstr family of
    * Lee et al. 2022, arXiv:2107.06499, at paragraph granularity): the
    * corpus is split into fixed `chunkWords`-word paragraphs, every
    * occurrence of a paragraph OTHER than its corpus-wide first occurrence
    * (min (doc_id, position)) is removed — including repeats inside the
    * same document — and each document is reassembled from its surviving
    * paragraphs in order. Documents the corpus has already seen in full
    * collapse to the empty string (and are reported with n_kept = 0), so
    * this subsumes exact-document dedup.
    *
    * Scale shape: two shuffles, both content-sized — one window keyed by
    * the paragraph (Spark partitions on the string's hash; equality inside
    * the partition keeps the decision exact, unlike a pre-hashed key that
    * would silently merge 64-bit collisions), one groupBy(doc_id) for
    * reassembly. Paragraph text crosses the wire once per shuffle; no
    * all-pairs stage exists anywhere. At 100 TB both shuffles partition
    * evenly by construction (paragraph hashes and doc ids), and the
    * reassembly state per doc is the doc itself.
    */
  def paragraphDedup(docs: DataFrame, chunkWords: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = split(col("text"), " ")
    val nc = greatest(ceil(size(w).cast("double") / lit(chunkWords)), lit(1L))
    val parts = Par.widen(docs).select(col("doc_id"),
      posexplode(transform(sequence(lit(0L), nc - 1),
        i => array_join(slice(w, (i * chunkWords + 1).cast("int"), lit(chunkWords)), " ")))
        .as(Seq("pos", "para")))

    val firstWin = Window.partitionBy(col("para")).orderBy(col("doc_id"), col("pos"))
    val kept = parts.withColumn("rn", row_number().over(firstWin))
      .filter(col("rn") === 1)

    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          s => s.getField("para")), " ").as("text_dedup"))

    docs.select(col("doc_id"), nc.cast("long").as("n_chunks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Content-defined chunk dedup report (the rsync/LBFS/FastCDC idea at
    * word granularity): a chunk boundary falls AFTER word i whenever
    * the rolling hash of the last `w` words ≡ 0 mod `m` (expected chunk
    * ≈ m words), so boundaries depend only on LOCAL content — an
    * insertion near the start of a copied document shifts every word
    * position but the cut points RESYNCHRONIZE a window later, and the
    * downstream chunks still match. That is the property
    * [[paragraphDedup]]'s fixed 16-word grid lacks (one inserted word
    * misaligns every later chunk) and exactly why dedup systems chunk
    * by content; the spec proves the contrast on a prepended-word pair.
    * Each chunk is attributed corpus-wide to its first occurrence
    * (min (doc_id, pos)); the per-doc report mirrors
    * [[exactSubstrReport]]: n_chunks, duplicated chunks, dup_ratio.
    *
    * Hashing reuses the engine's shared defs ([[Text.wordHash]] per
    * word, [[Text.polyFold]] across the window) — the oracle restates
    * the same two primitives.
    *
    * Scale: chunking is a per-row projection (no shuffle); the
    * first-occurrence window is one content-sized shuffle keyed by
    * chunk text (string equality inside the partition keeps the
    * decision exact — the [[paragraphDedup]] argument), plus a
    * doc-keyed rollup.
    */
  def cdcChunkDedup(docs: DataFrame, w: Int = 3, m: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = split(col("text"), " ")
    val n = size(ws)
    val cuts = filter(
      when(n >= w, sequence(lit(w), n))
        .otherwise(array().cast("array<int>")),
      i => Text.polyFold(transform(slice(ws, i - w + 1, lit(w)),
        x => Text.wordHash(x))) % m === 0)
    val bounds = array_distinct(concat(array(lit(0)), cuts, array(n)))
    val chunks = transform(sequence(lit(0), size(bounds) - 2),
      j => struct(j.as("pos"),
        array_join(slice(ws, element_at(bounds, j + 1) + 1,
          element_at(bounds, j + 2) - element_at(bounds, j + 1)), " ")
          .as("chunk")))
    val parts = Par.widen(docs)
      .select(col("doc_id"), explode(chunks).as("c"))
      .select(col("doc_id"), col("c.pos"), col("c.chunk"))
    val firstWin = Window.partitionBy(col("chunk"))
      .orderBy(col("doc_id"), col("pos"))
    val flagged = parts
      .withColumn("is_dup", (row_number().over(firstWin) > 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("is_dup")).as("n_dup"))
    docs.select(col("doc_id"))
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_chunks"),
        when(col("n_chunks").isNull, lit(0.0d))
          .otherwise(col("n_dup").cast("double") / col("n_chunks"))
          .as("dup_ratio"))
  }

  /** Duplicated-span report at STRIDE 1 (the exact-substring signal of
    * Lee et al. 2022 proper, where [[paragraphDedup]] is the
    * chunk-aligned apply): every w-word window of every document,
    * attributed corpus-wide to its first occurrence (min (doc_id, pos));
    * a document's dup_ratio is the share of its windows seen earlier
    * elsewhere — the metric a curation pipeline thresholds on before
    * paying for span surgery. Stride 1 catches UNALIGNED copying
    * (quotes, shifted boilerplate) that chunk-aligned dedup misses.
    *
    * Scale: the first-occurrence window is keyed by a 96-bit hash PAIR
    * (xxhash64 ∥ murmur3-32) of the window text, computed map-side
    * BEFORE the exchange — the shuffle carries (doc_id, pos, 12 hash
    * bytes) per window instead of the w-token string, cutting shuffle
    * bytes from ~w× the corpus to ~(12+12)B per window (~30× less at
    * w=8 English text). Equal grams always hash equal, so no duplicate
    * is ever MISSED; a false merge needs two DIFFERENT grams colliding
    * on both hashes at once — for G distinct grams the expected count
    * is G²/2⁹⁷ (birthday bound; ≈6e-4 corpus-wide even at G=10¹³,
    * i.e. the 100 TB regime), the same disclosed-bound trade as the
    * LSH band-key packing in [[nearDupJaccardChars]]. Plus a doc-keyed
    * rollup; production amortizes the pass by computing it once per
    * corpus snapshot.
    */
  def exactSubstrReport(docs: DataFrame, w: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = split(col("text"), " ")
    val grams = Par.widen(docs)
      .filter(size(ws) >= w)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(ws) - lit(w)),
          i => array_join(slice(ws, i + 1, lit(w)), " ")))
          .as(Seq("pos", "gram")))
      // hash map-side so the window exchange never carries gram text
      .select(col("doc_id"), col("pos"),
        xxhash64(col("gram")).as("g64"), hash(col("gram")).as("g32"))
    val firstWin = Window.partitionBy(col("g64"), col("g32"))
      .orderBy(col("doc_id"), col("pos"))
    val flagged = grams
      .withColumn("is_dup", (row_number().over(firstWin) > 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"), sum(col("is_dup")).as("n_dup"))
    docs.select(col("doc_id"))
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_windows"),
        when(col("n_windows").isNull, lit(0.0d))
          .otherwise(col("n_dup").cast("double") / col("n_windows"))
          .as("dup_ratio"))
  }

  /** The curation front-door as ONE fused plan: Unicode canonicalize →
    * exact content-hash dedup (keep min doc_id) → word-shingle
    * near-dedup over the survivors — the normalize→dedup→near-dedup
    * chain every production corpus pipeline runs, here as a single
    * DataFrame composition so Catalyst fuses the normalize + hash
    * projections into the scan (one pass over the text) and the whole
    * thing costs two content-keyed shuffles (hash groups, shingle
    * postings) + the verify join.
    *
    * Stage coupling is what the composition verifies: without the NFC
    * step, a composed-form document and its decomposed-form twin hash
    * DIFFERENTLY and leak past the exact stage (the registered query
    * plants exactly such twins — they merge iff normalization ran).
    *
    * Output: one verdict row per input doc —
    * (doc_id, status ∈ kept|exact_dup|near_dup, canonical_id), where
    * near canonical is the doc's smallest near-dup partner (direct
    * partner, not transitive closure — [[dedupClusters]] is the
    * transitive path when chains matter).
    *
    * The near stage's df cap is DERIVED from the input corpus size by
    * [[dfCapFor]] when `maxDf` ≤ 0 (the default) — a fixed literal cap
    * was an advisor finding: the registered oracle was uncapped, so on
    * any corpus where a survivor shingle's df exceeded the literal the
    * capped plan could miss near_dup verdicts the oracle asserted, and
    * the gate corpus was too small to ever exercise the divergence.
    * With the formula on BOTH sides (the oracle computes the same
    * clamp(⌈0.02·n⌉, 100, 1024) from the same input count), capped
    * semantics are disclosed and replayable at every corpus size. The
    * `docs.count()` this costs is one column-pruned pass, the same
    * derive-at-registration shape as `bandingFor`.
    */
  def curationPipeline(docs: DataFrame, k: Int = 3,
                       threshold: Double = 0.5, maxDf: Int = 0): DataFrame = {
    val n = docs.count()
    val cap = if (maxDf > 0) maxDf else dfCapFor(n)
    curationVerdicts(Text.textNormalize(docs, form = "NFC"), k, threshold,
      cap, n)
  }

  /** The post-normalize verdict tail of [[curationPipeline]] — exact
    * content-hash dedup (keep min doc_id) then word-shingle near-dedup
    * over the survivors. Split out so the STREAMING front door
    * ([[graft.streaming.Streaming.streamingCurationEvents]]), whose
    * micro-batches run the normalize+hash projection live into a
    * staging sink, can run the IDENTICAL verdict arithmetic over the
    * staged corpus — one code chain, so batch and streaming cannot
    * drift. `norm` must carry (doc_id, text, content_hash) as produced
    * by [[Text.textNormalize]]. `corpusSize` is the caller's
    * already-derived input count (both front doors count for the df
    * cap), reused for the near stage's physical-shape dispatch.
    *
    * The exact ledger persists (optimization round 15): both the
    * survivor slice feeding the near stage and the verdict tail read
    * `exact`, and without the cut the normalize + window subtree
    * planned and ran TWICE per query — the same double-evaluation the
    * web front door's ledger checkpoint retired.
    */
  private[graft] def curationVerdicts(norm: DataFrame, k: Int,
                                      threshold: Double,
                                      cap: Int, corpusSize: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // project BEFORE the persist (optimization round 16, guide §5): the
    // two consumers read (doc_id, text, exact_canon) only — caching
    // content_hash too would carry 32 dead bytes/row in the 100 TB
    // ledger's storage footprint (and its spill)
    val exact = norm.withColumn("exact_canon",
      min(col("doc_id")).over(Window.partitionBy(col("content_hash"))))
      .select(col("doc_id"), col("text"), col("exact_canon"))
      .persist()
    val survivors = exact.filter(col("doc_id") === col("exact_canon"))
      .select(col("doc_id"), col("text"))
    // Dispatch proxy (ADVICE r15, noted): corpusSize is the PRE-exact
    // corpus count, but the near stage runs on exact-dedup survivors —
    // a template-heavy corpus collapsing below the prefix floor would
    // take the prefix path where posting measured faster. Both shapes
    // emit identical rows, so this is perf-only; the pre-exact count is
    // kept as the proxy because it is already derived (no extra action)
    // and the df cap is defined on the same input count on both engine
    // and oracle sides.
    val nearCanon = nearDupJaccard(survivors, k, threshold, cap, corpusSize)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("near_canon"))
    exact.select(col("doc_id"), col("exact_canon"))
      .join(nearCanon, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("exact_canon"), lit("exact_dup"))
          .when(col("near_canon").isNotNull, lit("near_dup"))
          .otherwise(lit("kept")).as("status"),
        when(col("doc_id") =!= col("exact_canon"), col("exact_canon"))
          .when(col("near_canon").isNotNull, col("near_canon"))
          .otherwise(col("doc_id")).as("canonical_id"))
  }

  /** ExactSubstr dedup APPLY (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): REMOVE every token that lies
    * inside a ≥`w`-token span duplicated anywhere in the corpus at ANY
    * offset, keeping the first occurrence (min (doc_id, pos)).
    *
    * Where [[exactSubstrReport]] measures the duplicated-span share and
    * [[paragraphDedup]] removes only GRID-ALIGNED repeats (an off-by-3-
    * words copy defeats its fixed 16-word chunking entirely — the spec
    * proves the contrast), this is the real span surgery: the criterion
    * "token j of doc d is covered by some duplicated w-window" is
    * EXACTLY "token j is inside a duplicated span of length ≥ w",
    * because a duplicated span of length L ≥ w is the union of its
    * L−w+1 duplicated w-windows, and any duplicated w-window is itself
    * a ≥w duplicated span. Lee et al. build a suffix array for this;
    * over a DataFrame the stride-1 window relation IS the suffix
    * array's first-w-tokens view, and first-occurrence ranking replaces
    * the pointer scan.
    *
    * Scale: the stride-1 window explode shuffles (doc_id, pos, 96-bit
    * hash pair) per window — the gram is hashed MAP-SIDE (xxhash64 ∥
    * murmur3-32) so the exchange carries ~24 B/window instead of the
    * w-token string (~w× corpus bytes at w=8; ~30× reduction). Equal
    * grams hash equal, so no duplicated span is missed; a spurious
    * removal needs two different grams colliding on BOTH hashes —
    * expected G²/2⁹⁷ false merges for G distinct grams (≈6e-4 even at
    * G=10¹³, the 100 TB regime), the same disclosed-bound trade as the
    * 8-byte LSH band-key packing. The flagged-start set per doc is
    * bounded by doc length, and the rebuild is a per-row projection.
    * One hash-keyed shuffle + one doc-keyed rollup, same shape as
    * [[exactSubstrReport]].
    */
  def exactSubstrDedup(docs: DataFrame, w: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = split(col("text"), " ")
    val grams = Par.widen(docs)
      .filter(size(ws) >= w)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(ws) - lit(w)),
          i => array_join(slice(ws, i + 1, lit(w)), " ")))
          .as(Seq("pos", "gram")))
      // hash map-side so the window exchange never carries gram text
      .select(col("doc_id"), col("pos"),
        xxhash64(col("gram")).as("g64"), hash(col("gram")).as("g32"))
    val firstWin = Window.partitionBy(col("g64"), col("g32"))
      .orderBy(col("doc_id"), col("pos"))
    // flagged = window starts whose text occurred earlier (corpus order)
    val flaggedStarts = grams
      .withColumn("rn", row_number().over(firstWin))
      .filter(col("rn") > 1)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("starts"))
    // rebuild: token j survives unless ∃ start s with s ≤ j < s+w
    val toks = split(col("text"), " ")
    val covered = filter(sequence(lit(0), size(toks) - 1),
      j => exists(col("starts"), s => s <= j && j < s + lit(w)))
    docs.select(col("doc_id"), col("text"))
      .join(flaggedStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        when(col("starts").isNull, lit(0L))
          .otherwise(size(covered).cast("long")).as("n_removed"),
        when(col("starts").isNull, col("text"))
          .otherwise(array_join(transform(
            filter(sequence(lit(0), size(toks) - 1),
              j => !exists(col("starts"), s => s <= j && j < s + lit(w))),
            j => element_at(toks, j + 1)), " ")).as("text_dedup"))
  }

  /** Distinct word k-shingles per document: (doc_id, shingle).
    * Distinctness is per-document, so it's enforced with a per-row
    * `array_distinct` BEFORE the explode — no shuffle, unlike a
    * post-explode `distinct()` which would shuffle every (doc, shingle)
    * pair.
    */
  def shingles(docs: DataFrame, k: Int): DataFrame = {
    val w = split(col("text"), " ")
    Par.widen(docs)
      .filter(size(w) >= k)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(0), size(w) - lit(k)),
          i => array_join(slice(w, i + 1, lit(k)), " ")))).as("shingle"))
  }

  /** All ordered pairs (a < b) from a sorted posting list, as structs —
    * pure expression, stays columnar: flatten(i -> (ds[i], each later)).
    * Shared with [[Similarity.cosineNearDup]]'s LSH bucket expansion.
    */
  private[graft] def pairsOf(ds: Column): Column =
    flatten(transform(sequence(lit(0), size(ds) - 2), i =>
      transform(slice(ds, i + 2, size(ds)),
        y => struct(element_at(ds, i + 1).as("a"), y.as("b")))))

  /** Pair intersection counts from an inverted index: group shingles into
    * posting lists of 2..maxDf docs, expand each list's pairs, count per
    * pair — `inter(a,b)` = number of shared (un-capped) shingles. Two
    * shuffles total (posting groupBy + pair groupBy) — no self-join, no
    * window, no per-pair set materialization. The df-cap bounds the
    * quadratic expansion per posting (a shingle in d docs emits d(d-1)/2
    * pairs); when it engages, dropped ultra-frequent shingles make `inter`
    * a lower bound (pairs already surviving the threshold stay correct —
    * no false positives — but borderline pairs can be missed).
    */
  private[graft] def pairIntersections(sh: DataFrame, maxDf: Int): DataFrame =
    sh.groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2 && size(col("ds")) <= maxDf)
      .select(explode(pairsOf(col("ds"))).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("inter"))

  /** Exact-Jaccard verification of candidate pairs against full shingle
    * sets (`array_intersect`) — precision 1.0 regardless of how candidates
    * were generated.
    */
  private[graft] def verifyJaccard(candidates: DataFrame, sh: DataFrame,
                            threshold: Double): DataFrame = {
    // materialize shingle SETS only for docs that appear in a candidate
    // pair (semi-join), so the expensive collect_set shuffle carries
    // candidate docs' shingles instead of the whole corpus's — at 100 TB
    // the difference between shuffling the corpus text again and
    // shuffling the near-dup slice. The semi-join carries NO broadcast
    // hint: on template-heavy corpora the candidate-doc list is
    // corpus-proportional (the band join admits most pairs), so a forced
    // broadcast would OOM exactly where this op is needed most; AQE
    // still broadcasts the list while its runtime size fits and degrades
    // to a shuffled semi-join beyond that (SCALE.md §4 doctrine,
    // shuffle-degradation spec-asserted in PlanShapeSpec).
    // candidates persists because both the doc list and the verify joins
    // read it (recomputing it would redo the posting expansion).
    val cand = candidates.persist()
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    // Shingle identity travels as its xxhash64 from here on (optimization
    // round 16 — guide §2.3, the jaccardPairsPrefix trick applied to the
    // shared verify): the collect_set exchange carries 8 hash bytes per
    // shingle instead of the shingle text (k words / n chars), and the
    // per-pair intersection runs on array_intersect's atomic-long fast
    // path instead of the interpreted string path (measured 2.5× on the
    // prefix stage in r15). Equal shingles always hash equal, so no
    // shared shingle is ever missed; divergence needs an xxhash64
    // collision between two DIFFERENT shingles of the same candidate
    // pair's sets, which perturbs `inter` in EITHER direction (a
    // cross-doc collision adds 1; a within-doc collision shrinks one
    // set and can subtract 1) with probability ~|set|²/2⁶⁴ per pair
    // (≈1e-13 at 10³ shingles/doc) — the family's disclosed-bound
    // trade, oracle-gated at all three SFs.
    decideJaccard(cand,
      sh.join(candDocs, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), xxhash64(col("shingle")).as("h")),
      threshold)
  }

  /** The exact Jaccard decision of candidate pairs (doc_a, doc_b) over
    * hashed shingle rows (doc_id, h = xxhash64(shingle)), ONE row per
    * string-distinct shingle of a doc: `n` counts those rows, so it stays
    * the STRING-distinct shingle count (the Jaccard denominator and the
    * size-ratio prune never see a hash collision), while the set and its
    * intersection run on longs. Shared by [[verifyJaccard]] (after its
    * candidate-doc semi-join) and [[nearDupJaccardChars]] (whose hashed
    * table is already persisted for the funnel).
    */
  private[graft] def decideJaccard(cand: DataFrame, hashed: DataFrame,
                                   threshold: Double): DataFrame = {
    val sets = hashed.groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("set"), count(lit(1)).as("n"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("set").as("set_a"),
        col("n").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("set").as("set_b"),
        col("n").as("n_b")), "doc_b")
      // size-ratio prune (Bayardo et al., WWW'07): J >= t implies
      // min(n)/max(n) >= t, so mismatched-size candidates drop before the
      // O(n) set intersection — sound, no true pair lost
      .filter(col("n_a") >= lit(threshold) * col("n_b") &&
              col("n_b") >= lit(threshold) * col("n_a"))
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Corpus-size floor above which [[jaccardPairsOn]] dispatches to the
    * prefix-filtered shape. Measured crossover (optimization round 15,
    * sf0.1, local[32], single-query profilers since replaced by
    * `tools.Trace`; [[graft.PrefixPairsSpec]] asserts the two shapes'
    * row equality): the 5.5k-doc documents corpus runs the posting
    * expansion in ~2 s where the prefix shape's extra stages (df join,
    * per-doc sort, candidate distinct, two verify joins) cost ~4 s —
    * while the 96k-doc events corpus runs 14 s posting (24.2M expanded
    * pairs) vs 5.6 s prefix (5.6M). The
    * crossover sits in the tens of thousands of docs; above it the
    * expansion volume dwarfs the fixed stage overhead, and at 100 TB
    * every real corpus takes the prefix path — the floor only keeps
    * gate-scale fixtures on the cheaper flat-overhead shape.
    */
  private[graft] val prefixDispatchFloor = 20000L

  /** Jaccard pairs ≥ `threshold` from a prepared (doc_id, shingle) set —
    * the inverted-index pipeline shared by the word-shingle and char
    * n-gram variants. Since optimization round 15 this dispatches on
    * corpus size: ≥ [[prefixDispatchFloor]] docs routes through
    * [[jaccardPairsPrefix]] (identical output rows — equivalence argued
    * there, asserted row-equal by [[graft.PrefixPairsSpec]] and
    * oracle-gated at all three SFs); below it the posting expansion's
    * flat overhead wins. Both shapes emit THE SAME rows, so the dispatch
    * is a pure physical-plan decision (the AQE philosophy, one level up).
    */
  private def jaccardPairsOn(sh: DataFrame, threshold: Double,
                             maxDf: Int, corpusSize: Long): DataFrame =
    if (corpusSize >= prefixDispatchFloor)
      jaccardPairsPrefix(sh, threshold, maxDf)
    else
      jaccardPairsPosting(sh, threshold, maxDf)

  /** The pre-round-15 posting-expansion shape of [[jaccardPairsOn]] —
    * the small-corpus dispatch target and the A/B equality comparator
    * ([[graft.PrefixPairsSpec]]).
    */
  private[graft] def jaccardPairsPosting(sh: DataFrame, threshold: Double,
                                         maxDf: Int): DataFrame = {
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    pairIntersections(sh, maxDf)
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** The SAME pair set as [[jaccardPairsOn]] — identical capped-`inter`
    * arithmetic, identical output rows — computed with a Bayardo
    * PREFIX-FILTERED candidate join instead of the full posting-pair
    * expansion (optimization round 15, guide §2.3/§3: shuffle fewer
    * bytes; the events front door's capped expansion was 24.2M pair
    * rows at sf0.1 where prefixes admit 5.6M).
    *
    * Equivalence argument (why no output row can differ):
    *  - A pair survives [[jaccardPairsOn]] iff its CAPPED intersection
    *    I = |{shared shingles with 2 ≤ df ≤ maxDf}| satisfies
    *    I / (n_a + n_b − I) ≥ t, with n the FULL per-doc shingle
    *    counts. Since I ≤ min(n_a,n_b), the denominator is
    *    ≥ max(n_a,n_b), so any surviving pair has I ≥ t·n_a and
    *    I ≥ t·n_b — at least α_d = ⌈t·n_d⌉ shared CAPPED shingles per
    *    endpoint (I is an integer).
    *  - Order each doc's capped shingles by the global (df asc,
    *    shingle) total order and index only the first
    *    |C_d| − α_d + 1 ("everything but the last α_d − 1"). The
    *    globally SMALLEST element of the capped intersection has ≥
    *    α_d − 1 intersection elements after it in BOTH docs' orders,
    *    so it sits inside BOTH prefixes — every surviving pair
    *    collides in the prefix join (Bayardo et al., WWW'07, the same
    *    lemma [[allPairsJaccard]] uses). Candidates are then decided
    *    by the EXACT capped-set intersection, so extra candidates drop
    *    out. The identity-by-xxhash64 caveat (ADVICE r15): because df
    *    is computed per HASH, a cross-shingle collision can not only
    *    add candidates — it merges two shingles' document frequencies,
    *    which can push the merged df past maxDf and drop a shingle
    *    from both docs' capped sets, losing a pair the posting shape
    *    emits. The "identical rows" guarantee therefore holds up to
    *    xxhash64 collisions in BOTH directions, at the
    *    ~(#distinct shingles)²/2⁶⁴ bound derived below — negligible,
    *    and oracle-gated at every verified SF.
    *  - ⌈t·n⌉ is computed as ceil(t·n − 1e-9): a float that rounds UP
    *    would shorten the prefix (unsound); the epsilon can only
    *    lengthen it (more candidates, same output).
    *
    * Scale shape: postings are built over PREFIX shingles only — the
    * df-ascending order puts boilerplate (high-df) shingles in the
    * never-indexed suffixes, so the quadratic posting expansion runs
    * on the rarest shingles instead of the df-capped densest ones.
    * The capped-set rebuild touches only candidate docs (semi-join),
    * the [[verifyJaccard]] discipline.
    */
  private[graft] def jaccardPairsPrefix(sh: DataFrame, threshold: Double,
                                        maxDf: Int): DataFrame = {
    // Shingle identity travels as its xxhash64 from here on: equal
    // shingles always hash equal (no pair lost, no `inter` undercount);
    // a spurious +1 on one pair's `inter` needs two DIFFERENT shingles
    // of the SAME candidate pair colliding — ~n²/2⁶⁴ per pair (≈1e-16
    // at n=10³ shingles/doc), ≪1 corpus-wide even at 10¹² candidate
    // pairs. Longs keep the per-doc sets on `array_intersect`'s atomic
    // fast path (struct/string elements take the interpreted pairwise
    // path — measured 5× slower end-to-end), and shuffles carry 8 hash
    // bytes per shingle instead of the shingle text.
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val hashed = sh.select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val dfreq = hashed.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
    // one row per doc: its capped shingles SORTED by the global
    // (df asc, h) order — rarest first — plus the FULL count n.
    // Building the order inside a per-doc sort_array costs one doc-keyed
    // shuffle and replaces both prefix-window passes.
    val docArr = hashed.join(dfreq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("arr"))
      .join(counts, "doc_id")
      .select(col("doc_id"), col("arr"),
        transform(col("arr"), e => e("h")).as("set"),
        col("n"),
        (size(col("arr")) -
          ceil(lit(threshold) * col("n") - lit(1e-9)).cast("int") + 1)
          .as("plen"))
      .filter(col("plen") >= 1)
      .persist() // read by the prefix explode and both verify joins
    val prefixes = docArr
      .select(col("doc_id"),
        explode(slice(transform(col("arr"), e => e("h")),
          lit(1), col("plen"))).as("h"))
    val cand = prefixes
      .join(prefixes.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
      .distinct()
    cand
      .join(docArr.select(col("doc_id").as("doc_a"), col("set").as("set_a"),
        col("n").as("n_a")), "doc_a")
      .join(docArr.select(col("doc_id").as("doc_b"), col("set").as("set_b"),
        col("n").as("n_b")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }


  /** Near-duplicate pairs by shingle Jaccard >= `threshold` — exact as
    * long as no shingle exceeds `maxDf` (see [[pairIntersections]]);
    * output (doc_a, doc_b, jaccard), doc_a < doc_b.
    *
    * `corpusSize` feeds the [[jaccardPairsOn]] physical-shape dispatch;
    * pass it when the caller already knows the count (the curation
    * front doors derive their df cap from it). NOTE (ADVICE r15): with
    * the default -1 this public method runs an EAGER count action at
    * call time — one evaluation of the upstream plan, projected to
    * doc_id so scans/joins prune to the key column — the same
    * derive-at-registration shape as `dfCapFor`/`bandingFor`. Callers
    * on an expensive lineage should thread their known count.
    */
  def nearDupJaccard(docs: DataFrame, k: Int = 3, threshold: Double = 0.5,
                     maxDf: Int = 1000, corpusSize: Long = -1L): DataFrame = {
    val n =
      if (corpusSize >= 0L) corpusSize
      else docs.select(col("doc_id")).count()
    jaccardPairsOn(shingles(docs, k).persist(), threshold, maxDf, n)
  }

  /** COMPLETE Jaccard-threshold similarity join by prefix filtering
    * (AllPairs, Bayardo et al., WWW 2007) — the guarantee the rest of
    * the near-dedup family trades away: [[nearDupJaccard]]'s df cap and
    * the MinHash/LSH banding are both RECALL heuristics (a pair sharing
    * only ultra-frequent shingles, or unlucky in every band, is lost);
    * here NO true pair above the threshold can be missed. The prefix
    * lemma: under any global total order of shingles, two sets with
    * J ≥ num/den must collide inside their prefixes of length
    * n − ⌈t·n⌉ + 1 — so indexing only prefixes is lossless, and
    * ordering shingles by ASCENDING document frequency puts the RAREST
    * shingles in the prefixes, which is what keeps posting lists (and
    * hence the candidate pair expansion) short without any cap.
    *
    * Threshold as an exact rational num/den: the prefix length uses
    * ⌈num·n/den⌉ in pure integer arithmetic ((num·n + den − 1) div den),
    * so both the operator and any replay agree on every boundary size;
    * the final jaccard is the same one double division the whole family
    * emits. Exact verification reuses [[verifyJaccard]] (full-set
    * intersection + the size-ratio prune), so precision is 1.0 too —
    * output identical to an uncapped brute force by construction.
    *
    * Scale: two extra id-sized shuffles over [[nearDupJaccard]] (global
    * df count, per-doc prefix window); prefixes shrink each doc's
    * indexed shingles by factor ≈ t; the candidate join carries only
    * (doc_id, shingle-hash) pairs, never text. The df-ascending order
    * is the load-balancing: the posting skew that forces the df cap
    * elsewhere lands on SUFFIX shingles, which are never indexed.
    */
  def allPairsJaccard(docs: DataFrame, k: Int = 3,
                      num: Int = 3, den: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val threshold = num.toDouble / den
    val sh = shingles(docs, k).persist()
    // the global total order is (df asc, shingle) — rarest first. No
    // materialized rank id: each doc sorts its OWN shingles by the
    // order inside a per-doc window (distributed — a global
    // row_number would be a single-partition sort of the whole
    // vocabulary), and the candidate join keys on xxhash64(shingle):
    // 8 bytes on the wire, and a hash collision can only ADD a
    // candidate (killed by exact verify), never lose one — equal
    // shingles always hash equal, so completeness survives intact.
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val wd = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("shingle"))
    val prefixes = sh.join(dfreq, "shingle")
      .withColumn("rn", row_number().over(wd))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      // prefix length n - ceil(t*n) + 1, ceil in exact integers
      .filter(col("rn") <=
        col("n") - expr(s"(n * $num + ${den - 1}) div $den") + 1)
      .select(col("doc_id"), xxhash64(col("shingle")).as("tok"))
      // both sides of the self-join read this — persist the (8+8)-byte
      // prefix table instead of re-running the df join + window twice
      .persist()
    val cand = prefixes.join(
        prefixes.select(col("doc_id").as("doc_b"), col("tok")),
        Seq("tok"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
      .distinct()
    verifyJaccard(cand, sh, threshold)
  }

  /** Per-document n-gram novelty: the fraction of a doc's distinct
    * shingles whose FIRST appearance (by doc_id order) is this doc —
    * the dedup-aware curation score that ranks later near-copies low
    * without ever forming pairs. Two shuffles (first-seen aggregation,
    * per-doc rollup); the ratio is one exact-long division. Docs shorter
    * than k words have no shingles and are excluded, matching the
    * oracle's length guard.
    */
  def ngramNovelty(docs: DataFrame, k: Int = 3): DataFrame = {
    val sh = shingles(docs, k)
    val firstSeen = sh.groupBy(col("shingle")).agg(min(col("doc_id")).as("fs"))
    sh.join(firstSeen, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("fs") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles"))
  }

  /** Source-level shingle overlap matrix: Jaccard between the distinct
    * shingle SETS of each source pair — the corpus-level view of
    * cross-feed contamination ("how much of source A is also in B").
    * Same posting-list expansion as the doc-level dedup: group shingles
    * into source lists, expand pairs, count — no self-join; the pair
    * space is source-count², not corpus-sized.
    */
  def sourceOverlap(docs: DataFrame, k: Int = 3): DataFrame = {
    val sh = docs.select(col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(col("source"), explode(array_distinct(transform(
        sequence(lit(0), size(col("w")) - lit(k)),
        i => array_join(slice(col("w"), i + 1, lit(k)), " ")))).as("shingle"))
      .distinct()
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    sh.groupBy(col("shingle"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(pairsOf(col("ss"))).as("p"))
      .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("source").as("src_a"), col("n").as("n_a")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("n").as("n_b")), "src_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .select(col("src_a"), col("src_b"), col("inter"), col("jaccard"))
  }

  /** Per-source MinHash sketches with pairwise Jaccard ESTIMATES next to
    * exact truth. The sketch property that matters at 100 TB: a MinHash
    * signature is UNION-MERGEABLE (min over docs of per-shingle mins ==
    * min over the union set), so per-partition — or per-day, or
    * per-shard — signatures combine into a corpus-level similarity
    * matrix with no rescan, exactly how [[graft.functions.MinHashAgg]]'s
    * partial-aggregate merge already combines them across tasks. The
    * exact side reuses [[sourceOverlap]]'s posting-list intersection
    * (per-shingle pair space bounded by source count, never corpus²), so
    * the one output reports estimate vs truth per pair — the estimator's
    * measured error is itself oracle-verified.
    *
    * Scale: the sketch path is one map-side-combined aggregate to
    * `numSources × numHashes` longs; pairwise comparison is
    * sources²-bounded. Shingle hashing uses the engine-portable
    * [[wordShingleHash]] (not xxhash64) so generated oracle SQL can
    * replay the identical hash family from
    * [[graft.functions.MinHashAgg.hashParams]] literals.
    */
  def sourceMinhashSim(docs: DataFrame, k: Int = 3,
                       numHashes: Int = 64): DataFrame = {
    val p = lshPrime
    val ss = docs.select(col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(col("source"), explode(array_distinct(transform(
        sequence(lit(0), size(col("w")) - lit(k)),
        i => array_join(slice(col("w"), i + 1, lit(k)), " ")))).as("shingle"))
      .distinct()
      .persist()
    val sigs = ss.select(col("source"), wordShingleHash.as("x"))
      .groupBy(col("source"))
      .agg(graft.functions.MinHashAgg.minhash(col("x"), numHashes, p, seed = 42L)
        .as("sig"))
    val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = ss.groupBy(col("shingle"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(pairsOf(col("ss"))).as("p"))
      .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    val est = sigs.select(col("source").as("src_a"), col("sig").as("siga"))
      .join(sigs.select(col("source").as("src_b"), col("sig").as("sigb")),
        col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        aggregate(zip_with(col("siga"), col("sigb"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("mt"))
    sizes.select(col("source").as("src_a"), col("n").as("n_a"))
      .join(sizes.select(col("source").as("src_b"), col("n").as("n_b")),
        col("src_a") < col("src_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .join(est, Seq("src_a", "src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("inter"),
        round(col("mt").cast("double") / numHashes, 6).as("est_sim"),
        round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")), 6).as("exact_sim"))
  }

  /** The DuckDB oracle for [[sourceMinhashSim]]: the identical portable
    * shingle hash (first-char·31+len word fold) and the seed-42 hash
    * family embedded as literal (i, a, b) rows from
    * [[graft.functions.MinHashAgg.hashParams]] — operator and oracle
    * share one parameterization, so the ESTIMATE is bit-checked, not
    * just the exact side.
    */
  def sourceMinhashSimOracleSql(k: Int = 3, numHashes: Int = 64): String = {
    val p = lshPrime
    val paramRows = graft.functions.MinHashAgg.hashParams(numHashes, p, 42L)
      .zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    s"""WITH w AS (SELECT source, string_split(text, ' ') AS words FROM documents),
       | sh AS (SELECT DISTINCT source, array_to_string(words[g+1:g+$k], ' ') AS shingle
       |        FROM w, UNNEST(range(len(words) - ${k - 1})) AS t(g)
       |        WHERE len(words) >= $k),
       | hx AS (SELECT source,
       |          list_reduce(list_prepend(CAST(0 AS BIGINT),
       |            list_transform(string_split(shingle, ' '),
       |              wd -> CAST(ord(wd) * 31 + len(wd) AS BIGINT))),
       |            (acc, v) -> (acc * 1000003 + v) % $p) AS x
       |        FROM sh),
       | pr(i, a, b) AS (VALUES $paramRows),
       | sig AS (SELECT source, i, min((a * x + b) % $p) AS m
       |         FROM hx CROSS JOIN pr GROUP BY 1, 2),
       | mt AS (SELECT sa.source AS src_a, sb.source AS src_b,
       |          sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS mt
       |        FROM sig sa JOIN sig sb ON sa.i = sb.i AND sa.source < sb.source
       |        GROUP BY 1, 2),
       | sz AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
       | iv AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
       |        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
       |        GROUP BY 1, 2)
       |SELECT za.source AS src_a, zb.source AS src_b,
       |  CAST(za.n AS BIGINT) AS n_a, CAST(zb.n AS BIGINT) AS n_b,
       |  CAST(coalesce(iv.inter, 0) AS BIGINT) AS inter,
       |  round(CAST(mt.mt AS DOUBLE) / $numHashes, 6) AS est_sim,
       |  round(CAST(coalesce(iv.inter, 0) AS DOUBLE)
       |    / (za.n + zb.n - coalesce(iv.inter, 0)), 6) AS exact_sim
       |FROM sz za JOIN sz zb ON za.source < zb.source
       |LEFT JOIN iv ON iv.src_a = za.source AND iv.src_b = zb.source
       |JOIN mt ON mt.src_a = za.source AND mt.src_b = zb.source""".stripMargin
  }

  /** CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|) >= threshold —
    * catches quote/prefix duplication that Jaccard misses (a paragraph
    * wholly contained in a much longer doc has high containment but low
    * Jaccard, because the union is dominated by the longer doc).
    *
    * The df-capped inverted index generates CANDIDATES ONLY; every
    * candidate is then re-verified against the FULL shingle sets with
    * `array_intersect`, so emitted containment values are EXACT even
    * when the cap drops common shingles from the intersection count
    * (the capped count is a lower bound — using it directly both
    * undercounts surviving pairs and misses borderline ones). Note the
    * Bayardo size-ratio prune does NOT apply here (containment is
    * exactly the asymmetric case it would discard). Recall caveat: a
    * true pair whose every shared shingle has df > maxDf never becomes
    * a candidate; with word shingles (far sparser than char n-grams)
    * the cap does not engage at verified scales — the sf0.1 oracle run
    * is exact — and raising `maxDf` trades posting-expansion cost for
    * recall on template-heavy corpora.
    */
  def containmentPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.8,
                       maxDf: Int = 1000): DataFrame = {
    val sh = shingles(docs, k).persist()
    // candidates: any pair sharing >=1 rare shingle; the capped `inter`
    // is discarded (it is only a lower bound), never used to prune
    val cand = pairIntersections(sh, maxDf)
      .select(col("doc_a"), col("doc_b"))
      .persist()
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    // un-hinted semi-join: the candidate-doc list is corpus-proportional
    // on template-heavy corpora, so AQE decides broadcast vs shuffle from
    // runtime size (same rationale as verifyJaccard above)
    val sets = sh.join(candDocs, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("set"), count(lit(1)).as("n"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("set").as("set_a"),
        col("n").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("set").as("set_b"),
        col("n").as("n_b")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }

  /** Distinct character n-grams per document — the tokenizer-free shingle
    * variant (robust to spacing/punctuation differences word shingles
    * miss). Same per-row `array_distinct`-before-explode shape as
    * [[shingles]].
    */
  def charShingles(docs: DataFrame, n: Int): DataFrame = {
    val t = col("text")
    Par.widen(docs)
      .filter(length(t) >= n)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(0), length(t) - lit(n)),
          i => t.substr(i + 1, lit(n))))).as("shingle"))
  }

  /** Near-duplicate pairs by character n-gram Jaccard. Char n-grams are
    * far denser than word shingles (every document shares common
    * substrings), so a df-capped inverted index alone is NOT
    * scale-honest: on template-heavy corpora a true pair's every shared
    * shingle can be corpus-common, and such pairs never reach a short
    * posting list (round-5 measurement: 71% recall at sf0.1 with the
    * df-100 cap alone). Candidates therefore come from TWO independent
    * generators whose union is verified with exact Jaccard:
    *
    *  1. MinHash+LSH banding over the char shingles ([[lshCandidates]],
    *     64 hashes × 32 bands of 2 rows) — recall is per-pair
    *     probabilistic, P(miss | J=t) = (1-t²)^32 ≈ 1e-4 at t=0.5,
    *     regardless of how common the shared shingles are; and
    *  2. the rare-shingle inverted index (postings ≤ `maxDf`) — exact
    *     for any pair sharing at least one rare shingle, covering the
    *     tail where LSH is weakest (pairs barely above threshold).
    *
    * Both generators shuffle ids/signatures, never text. The shingles
    * are exploded and hashed ONCE: the persisted (doc_id, h =
    * xxhash64(shingle)) table feeds the MinHash domain by projection
    * ([[charHashedShingles]]) and the exact decision ([[decideJaccard]])
    * directly — the same sets and `n` [[verifyJaccard]] would build from
    * a re-explode of the candidate docs, so precision is 1.0 under the
    * family's disclosed xxhash64 bound, and no derived frame is widened
    * (see [[Par.widen]]): building the op runs only the df-cap count.
    * Measured 256/256 recall vs the uncapped all-pairs oracle at sf0.1
    * (and exact at sf0.01).
    */
  def nearDupJaccardChars(docs: DataFrame, n: Int = 5,
                          threshold: Double = 0.5,
                          maxDf: Int = -1): DataFrame = {
    val (bands, dfCap, margin) = charFunnelParams(threshold,
      if (maxDf > 0) 0L else docs.count())
    val cap = if (maxDf > 0) maxDf else dfCap
    val hashes = charShingleHashes(docs, n)
      .persist() // reused: signatures, rare index, the decision
    val hashed = charHashedShingles(hashes)
    val sigs = minhashSigs(hashed, charNumHashes, lshPrime)
      .persist() // reused: banding + the prefilter
    decideJaccard(
      charFusedCandidates(hashed, sigs, cap, bands, threshold, margin),
      hashes, threshold)
  }

  // The char funnel's stage builders are shared with
  // CharFunnelEquivalenceSpec, which checks them against the staged
  // reference; `tools.Trace near_dedup_chars` attributes the op's time
  // to the stages they run.

  private[graft] val charNumHashes = 64

  /** Derive the char funnel's three tuning constants from (threshold,
    * corpus size) the way [[Similarity.bandingFor]] derives embedding
    * banding — no inherited test tuning on the engine's heaviest query
    * (the SCALE.md rule: every recall/cost knob is a FORMULA of the
    * threshold and corpus stats, never a constant that happened to pass
    * a gate).
    *
    *  - rows-per-band r: the densest banding (largest r, fewest
    *    candidates) whose per-pair miss at J = threshold,
    *    (1 − tʳ)^(64/r), stays ≤ 2e-4 — at t = 0.5 that picks r = 2
    *    (0.75³² ≈ 1.0e-4; r = 3 gives 6e-2, three orders too lossy);
    *  - signature-prefilter margin: Hoeffding on 64 Bernoulli
    *    agreements, margin = sqrt(ln(1/δ)/(2·64)) at δ = 2e-3 → 0.2203
    *    (P[miss a true pair AT threshold] ≤ δ, vanishing above it);
    *  - rare-index df cap: shingles shared by > 2 % of a LARGE corpus
    *    are template boilerplate — they carry no pair discrimination
    *    the LSH generator doesn't already provide, and their posting
    *    lists cost df² pair expansions. Small corpora keep the
    *    exhaustive floor (100 — expansion is cheap there); the 1024
    *    ceiling bounds the worst per-shingle explode at planetary
    *    corpus sizes.
    */
  private[graft] def charFunnelParams(threshold: Double, corpusSize: Long,
                                      lshMiss: Double = 2e-4,
                                      sigMiss: Double = 2e-3): (Int, Int, Double) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0,1), got $threshold")
    val r = (4 to 1 by -1).find { r =>
      math.pow(1.0 - math.pow(threshold, r), charNumHashes / r) <= lshMiss
    }.getOrElse(1)
    val bands = charNumHashes / r
    val margin = math.sqrt(math.log(1.0 / sigMiss) / (2.0 * charNumHashes))
    (bands, dfCapFor(corpusSize), margin)
  }

  /** The disclosed df-cap rule shared by every capped inverted-index
    * stage (char funnel, curation near stage): a shingle in more than
    * clamp(⌈2% of corpus⌉, 100, 1024) documents is boilerplate — its
    * posting list would emit O(df²) candidate pairs while contributing
    * ~zero discriminative evidence to any single pair's Jaccard. The 2%
    * slope keeps the rule corpus-relative (SCALE.md §near-dedup
    * derivation); the 1024 ceiling bounds the worst posting expansion
    * at ~0.5M pairs/shingle regardless of corpus size. Any oracle
    * replaying a capped stage MUST apply the same formula to the same
    * corpus-size input — [[pairIntersections]]' `inter` is a LOWER
    * bound once the cap engages, and an uncapped oracle would assert
    * pairs the capped plan can legitimately miss.
    */
  def dfCapFor(corpusSize: Long): Int =
    math.min(1024L, math.max(100L, math.ceil(0.02 * corpusSize).toLong)).toInt

  /** String-distinct char shingles as (doc_id, h = xxhash64(shingle)),
    * one row per shingle: the input of [[decideJaccard]] and, through
    * [[charHashedShingles]], of the MinHash funnel. */
  private[graft] def charShingleHashes(docs: DataFrame, n: Int): DataFrame =
    charShingles(docs, n).select(col("doc_id"), xxhash64(col("shingle")).as("h"))

  /** The MinHash domain (doc_id, x = pmod(h, lshPrime)) of
    * [[charShingleHashes]] rows — a projection, so a persisted hash
    * table serves both the funnel and the decision. */
  private[graft] def charHashedShingles(hashes: DataFrame): DataFrame =
    hashes.select(col("doc_id"), pmod(col("h"), lit(lshPrime)).as("x"))

  /** Fused candidate generation + signature-agreement prefilter:
    * LSH banding ∪ rare-shingle inverted index, with the 64-int
    * agreement test applied INSIDE each generator so only surviving
    * pairs are ever shuffled.
    *
    * Funnel rationale: char shingles are so dense that unrelated
    * documents share a moderate baseline Jaccard, and 2-row bands then
    * admit nearly every pair as a candidate — at 10× gate scale the
    * exact verify intersected millions of ~10³-element sets (measured:
    * this op alone was HALF the bench before the funnel). E[agreement]
    * = J over the 64 MinHash trials, so 64 integer compares per pair
    * discard the far-below-threshold mass; cutoff threshold−0.22 keeps
    * a true pair AT the threshold with P(miss) ≤ exp(−2·64·0.22²) ≈
    * 2e-3 (Hoeffding; vanishing above it) — the same
    * probabilistic-recall regime as the LSH generator itself.
    *
    * Fusion (round-11 A/B, BENCH_NOTES): the previous staged shape
    * union'd the RAW band-hit pairs, distinct'ed them (the single most
    * expensive stage — 8.0M 16-byte pairs through an exchange at
    * sf0.1), then joined signatures back onto the deduplicated pairs.
    * Here the int-cast signature rides the band row (8·numHashes/4 =
    * 256 B/doc/band), band keys and signature come from the SAME row
    * (no join), and the agreement filter runs on the band self-join's
    * output in the join's own stage — the downstream distinct sees
    * only agreeing pairs (651K vs 8.0M at sf0.1, a 12× exchange-row
    * cut; warm 12.3 → 7.4 s, hash-identical output). The earlier
    * measurement that rejected sig-joins on the raw band-hit stream
    * still holds — this is NOT that shape: no join
    * materializes per-hit signature arrays; the signature is carried
    * once per (doc, band) into the bucket shuffle, which is
    * band-count-bounded (32/doc) where raw pair hits are
    * bucket-size-quadratic. The rare-shingle generator's pairs pass
    * the IDENTICAL filter through signature joins (rare pairs are few
    * — posting-capped — so the join cost is negligible), keeping the
    * admitted pair set exactly equal to the staged funnel's
    * (filter∘distinct∘union = distinct∘union∘filter for a per-pair
    * predicate). Skew: the LSH generator is a plain shuffle self-join
    * on (band, key), the one shape AQE's OptimizeSkewedJoin (on by
    * default) can split at runtime, so even a SINGLE giant template
    * bucket fans out across tasks. It measured fastest against a
    * fanout-repartitioned self-join (2.0× slower) and a groupBy-collect
    * of (doc_id, sigi) structs (3.5× slower), identical 256-row output
    * (sf0.1; BENCH_NOTES round 12, char-funnel LSH skew-mitigation).
    */
  private[graft] def charFusedCandidates(hashed: DataFrame, sigs: DataFrame,
                                         maxDf: Int, bands: Int = 32,
                                         threshold: Double = 0.5,
                                         margin: Double = 0.22): DataFrame = {
    val minAgree =
      math.max(0, math.ceil((threshold - margin) * charNumHashes)).toInt
    def agrees(sa: Column, sb: Column): Column =
      size(filter(zip_with(sa, sb,
        (x, y) => when(x === y, lit(1))), e => e.isNotNull)) >= minAgree
    val sigInts = sigs.select(col("doc_id"), col("sig"),
      transform(col("sig"), v => v.cast("int")).as("sigi"))
    val bandRows = sigInts
      .select(col("doc_id"), col("sigi"),
        explode(bandKeyArray(charNumHashes, bands)).as("bk"))
      .select(col("doc_id"), col("sigi"), col("bk.band"), col("bk.key"))
    val lsh = bandRows
      .select(col("band"), col("key"), col("doc_id").as("doc_a"),
        col("sigi").as("sig_a"))
      .join(bandRows.select(col("band"), col("key"),
        col("doc_id").as("doc_b"), col("sigi").as("sig_b")),
        Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(agrees(col("sig_a"), col("sig_b")))
      .select(col("doc_a"), col("doc_b"))
    val rare = pairIntersections(hashed.withColumnRenamed("x", "shingle"), maxDf)
      .select(col("doc_a"), col("doc_b"))
      .join(sigInts.select(col("doc_id").as("doc_a"), col("sigi").as("sig_a")), "doc_a")
      .join(sigInts.select(col("doc_id").as("doc_b"), col("sigi").as("sig_b")), "doc_b")
      .filter(agrees(col("sig_a"), col("sig_b")))
      .select(col("doc_a"), col("doc_b"))
    lsh.unionByName(rare).distinct()
  }

  private[graft] val lshPrime = 2038074743L // prime > any 32-bit shingle hash

  /** Polynomial word-shingle hash → non-negative int domain (shared by
    * the self-pair and incremental MinHash paths — identical hashing is
    * what makes a maintained corpus signature table meet a fresh batch).
    */
  private[graft] def wordShingleHash: Column = aggregate(
    transform(split(col("shingle"), " "), w => ascii(w) * lit(31L) + length(w)),
    lit(0L), (acc, x) => (acc * lit(1000003L) + x) % lit(lshPrime))

  /** MinHash signature matrix + LSH banding candidates — the sub-quadratic
    * near-dedup path. `numHashes` universal hashes h_i(x) = (a_i·x + b_i)
    * mod p over a polynomial shingle hash; signatures banded into
    * `bands` groups whose concatenated values form LSH bucket keys; docs
    * sharing any bucket are candidates, then verified with exact Jaccard.
    *
    * Everything is built-in higher-order functions (one explode + two
    * shuffles), no UDFs; signatures are 8·numHashes bytes per doc, so the
    * banding shuffle moves signatures, not text. The shingle explode +
    * signature aggregate ships over computing the banding in-row with
    * [[streamingBandsFor]]: that per-row 64-hash fold costs more than
    * the signature exchange it saves (910-doc web_near kept slice: 3.11
    * vs 2.13 s mean, identical 69 pairs; BENCH_NOTES round 16, word-path
    * LSH candidate shape).
    */
  def minhashLshPairs(docs: DataFrame, k: Int = 3, numHashes: Int = 32,
                      bands: Int = 8, threshold: Double = 0.5): DataFrame = {
    val sh = shingles(docs, k).persist() // reused: signatures + verify
    val candidates = lshCandidates(
      sh.select(col("doc_id"), wordShingleHash.as("x")),
      numHashes, bands, lshPrime)
    // exact-Jaccard verification of candidates (precision = 1.0)
    verifyJaccard(candidates, sh, threshold)
  }

  /** LSH banding candidate pairs from pre-hashed shingles (doc_id, x):
    * one-pass MinHash signatures via the custom TypedImperativeAggregate
    * (one long[numHashes] buffer per doc instead of numHashes agg
    * columns; deterministic seed ⇒ stable signatures across runs and
    * partitionings), then banding — bucket key = band index + packed
    * signature slice — then candidate pairs from a plain (band, key)
    * SELF-JOIN of the bucket table: AQE sizes the join's partitions to
    * the data and splits a giant bucket's key at runtime
    * (OptimizeSkewedJoin). It measured faster than a fanout-repartitioned
    * groupBy-collect of the buckets, with identical rows (web_near kept
    * slice, 910 docs: 2.19 vs 2.75 s; BENCH_NOTES round 16, word-path
    * LSH candidate shape). Shared by the word-shingle near-dedup path;
    * the shuffles carry (band, key, id) rows only, never text.
    */
  private[graft] def lshCandidates(hashed: DataFrame, numHashes: Int, bands: Int,
                            p: Long): DataFrame = {
    val buckets = minhashBuckets(hashed, numHashes, bands, p)
    buckets.select(col("band"), col("key"), col("doc_id").as("doc_a"))
      .join(buckets.select(col("band"), col("key"), col("doc_id").as("doc_b")),
        Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Incremental near-dedup — the production ingest tick: flag each NEW
    * batch document that is a near-duplicate (word-shingle Jaccard ≥
    * `threshold`) of the EXISTING corpus. Candidates come from MinHash+
    * LSH banding on both sides joined on (band, key) — batch × corpus
    * bucket pairs only, NEVER corpus × corpus — so a tick's cost tracks
    * the batch: at 100 TB the corpus side is a maintained signature/
    * bucket table (8·numHashes bytes per doc, same deterministic seed)
    * and only the batch recomputes signatures. Wide banding (64 hashes ×
    * 32 bands of 2) keeps per-pair miss ≈1e-4 at J = 0.5; the exact-
    * Jaccard verify keeps precision 1.0. Requires globally unique
    * doc_ids across corpus and batch (the standard ingest contract).
    * Output: (doc_a = corpus doc, doc_b = batch doc, jaccard).
    */
  def nearDupIncremental(corpus: DataFrame, batch: DataFrame, k: Int = 3,
                         numHashes: Int = 64, bands: Int = 32,
                         threshold: Double = 0.5): DataFrame = {
    val shC = shingles(corpus, k).persist()
    val shB = shingles(batch, k).persist()
    val bC = minhashBuckets(
      shC.select(col("doc_id"), wordShingleHash.as("x")), numHashes, bands, lshPrime)
    val bB = minhashBuckets(
      shB.select(col("doc_id"), wordShingleHash.as("x")), numHashes, bands, lshPrime)
    val candidates = bC.select(col("band"), col("key"), col("doc_id").as("doc_a"))
      .join(bB.select(col("band"), col("key"), col("doc_id").as("doc_b")),
        Seq("band", "key"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    // ids are globally unique, so one union feeds the shared verify
    verifyJaccard(candidates, shC.unionByName(shB), threshold)
  }

  /** The whole curation pipeline's governance numbers in one row — what
    * a corpus release ships next to the data: corpus size, exact-unique
    * count, verified near-dup pairs, connected near-dup clusters
    * (= retained canonical docs), and the token budget before/after the
    * cut. Composes [[contentHashDedup]], [[nearDupJaccard]], and
    * [[dedupClusters]]; each number is an exact integer so the whole
    * report is oracle-verifiable end-to-end.
    *
    * Scale: strictly the union of its parts' plans (hash-groupBy +
    * inverted-index candidates + edge-sized label propagation); the
    * report aggregations are one extra scan of the cluster table and
    * one of the corpus.
    */
  def curationReport(docs: DataFrame): DataFrame = {
    val toks = sum(size(split(col("text"), " ")).cast("long"))
    val pairs = nearDupJaccard(docs).persist()
    val clusters = dedupClusters(docs, pairs)
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      toks.as("tokens_total"))
    val exact = contentHashDedup(docs)
      .agg(count(lit(1)).as("n_exact_unique"))
    val nPairs = pairs.agg(count(lit(1)).as("n_near_pairs"))
    val clus = clusters.agg(
      countDistinct(col("cluster_id")).as("n_clusters"))
    val kept = docs.join(
        clusters.filter(col("doc_id") === col("cluster_id"))
          .select(col("doc_id")), "doc_id")
      .agg(toks.as("tokens_retained"))
    base.crossJoin(exact).crossJoin(nPairs).crossJoin(clus).crossJoin(kept)
  }

  /** Split leak guard: near-duplicate pairs that STRADDLE train/val/test
    * splits — the eval-integrity audit a curation pipeline runs after
    * any hash split, because a test doc with a train-side near-dup
    * silently inflates eval scores. Composes the verified near-dup pair
    * generator with [[Shard.splitCol]] — the split is a pure function
    * of the id, so labeling the pairs adds ZERO joins and zero shuffles
    * on top of the pair generation. Output:
    * (doc_a, doc_b, split_a, split_b, jaccard), cross-split pairs only.
    */
  def splitLeakPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.5,
                     trainPct: Int = 80, valPct: Int = 10): DataFrame =
    nearDupJaccard(docs, k, threshold)
      .withColumn("split_a", Shard.splitCol(col("doc_a"), trainPct, valPct))
      .withColumn("split_b", Shard.splitCol(col("doc_b"), trainPct, valPct))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
        col("jaccard"))

  /** Cluster-aware train/val/test split — the FIX for what
    * [[splitLeakPairs]] detects: every doc inherits the split of its
    * near-dup CLUSTER (hash of the canonical cluster_id, not its own
    * id), so near-duplicates can never straddle train and test. Eval
    * stability survives corpus growth exactly as [[Shard.splitAssign]]
    * does — a cluster's split depends only on its canonical id, which
    * is stable unless the cluster itself merges. Output:
    * (doc_id, cluster_id, split).
    */
  def splitByCluster(docs: DataFrame, pairs: DataFrame,
                     trainPct: Int = 80, valPct: Int = 10,
                     maxIters: Int = 20): DataFrame =
    dedupClusters(docs, pairs, maxIters)
      .select(col("doc_id"), col("cluster_id"),
        Shard.splitCol(col("cluster_id"), trainPct, valPct).as("split"))

  /** MinHash signatures → banded bucket keys (doc_id, band, key): the
    * shared banding step behind [[lshCandidates]] (self pairs) and
    * [[nearDupIncremental]] (batch × corpus pairs). One-pass signature
    * via the custom TypedImperativeAggregate; deterministic seed, so the
    * SAME doc always lands in the same buckets across runs — which is
    * what lets a maintained corpus bucket table meet a fresh batch.
    */
  /** The corpus-side banded bucket table (doc_id, band, key) a
    * maintained near-dup index stores — built with the batch
    * TypedImperativeAggregate. [[streamingBandsFor]] produces
    * bucket-COMPATIBLE keys per row with no aggregation (same seed-42
    * hash family re-derived as expressions), which is what lets a
    * streaming ingest tick probe an index this table built.
    */
  private[graft] def corpusBucketTable(docs: DataFrame, k: Int = 3,
                                       numHashes: Int = 64,
                                       bands: Int = 32): DataFrame =
    minhashBuckets(
      shingles(docs, k).select(col("doc_id"), wordShingleHash.as("x")),
      numHashes, bands, lshPrime)

  /** Corpus-side shingle sets for exact-Jaccard verification of probe
    * candidates: (doc_id, set, n). Since optimization round 16 the set
    * elements are xxhash64 longs (the [[verifyJaccard]] hashed-identity
    * discipline — 8 B/shingle in the index, atomic-long intersection);
    * `n` stays the string-distinct count. The probe side must hash its
    * in-row shingle array with the same xxhash64
    * ([[graft.streaming.Streaming.streamingNearDup]] does).
    */
  private[graft] def corpusShingleSets(docs: DataFrame, k: Int = 3): DataFrame =
    shingles(docs, k)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("set"), count(lit(1)).as("n"))

  /** The distinct word-k-shingle set of one document as an in-row array
    * — the projection form of [[shingles]] (same strings, no explode),
    * usable on a streaming Dataset. Empty array below k words.
    */
  private[graft] def shingleArray(text: Column, k: Int): Column = {
    val w = split(text, " ")
    when(size(w) >= k,
      array_distinct(transform(
        sequence(lit(0), size(w) - lit(k)),
        i => array_join(slice(w, i + 1, lit(k)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** Per-row MinHash banding with ZERO aggregation: the seed-42 hash
    * family of [[graft.functions.MinHashAgg]] re-derived as literal
    * (a, b) pairs and folded over the in-row shingle array, then banded
    * exactly like [[minhashBuckets]] — a document lands in the SAME
    * (band, key) buckets whether it went through the batch aggregate or
    * this projection. Returns array<struct<band, key>> to explode.
    * This is what makes near-dup lookup possible inside a streaming
    * query plan, where a groupBy-per-doc aggregation would force a
    * watermark and break append mode.
    */
  private[graft] def streamingBandsFor(text: Column, k: Int = 3,
                                       numHashes: Int = 64,
                                       bands: Int = 32): Column = {
    val p = lshPrime
    val params = graft.functions.MinHashAgg.hashParams(numHashes, p, 42L)
    val xs = transform(shingleArray(text, k), s =>
      aggregate(
        transform(split(s, " "), wd => ascii(wd) * lit(31L) + length(wd)),
        lit(0L), (acc, x) => (acc * lit(1000003L) + x) % lit(p)))
    // ONE fold building the whole signature array — 64 separate
    // aggregate() nodes each re-embedding the shingle expression made
    // the tree so large that Structured Streaming's PER-TRIGGER
    // re-analysis dominated the query (measured: minutes per run at
    // sf0.1); the zip_with form is the same arithmetic at 1/64th the
    // tree size, and the hash params travel as one array-of-struct
    // literal
    val ab = typedLit(params.toSeq)
    val sig = aggregate(xs,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, x) => zip_with(acc, ab,
        (m, pr) => least(m,
          (x * pr.getField("_1") + pr.getField("_2")) % lit(p))))
    val rowsPerBand = numHashes / bands
    // bind the signature to a lambda variable so it appears (and is
    // evaluated) ONCE: 32 band structs each embedding the whole fold
    // would re-run it 32x per row and re-inflate the expression tree
    flatten(transform(array(sig), s =>
      transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.cast("int").as("band"),
          // the same statically-unrolled arithmetic pack as bandsOf,
          // including the 31-bit accumulator mask (b is a runtime
          // Column here, so the element index is computed, but the
          // per-band fold is still unrolled over j)
          (0 until rowsPerBand)
            .map(j => element_at(s, (b * rowsPerBand + j + 1).cast("int")))
            .reduce((acc, v) =>
              acc.bitwiseAND(lit(0x7FFFFFFFL)) * lit(lshPrime) + v)
            .as("key")))))
  }

  private def minhashBuckets(hashed: DataFrame, numHashes: Int, bands: Int,
                             p: Long): DataFrame =
    bandsOf(minhashSigs(hashed, numHashes, p), numHashes, bands)

  /** One-pass MinHash signature table (doc_id, sig: array<long>) over
    * pre-hashed shingles (doc_id, x). */
  private[graft] def minhashSigs(hashed: DataFrame, numHashes: Int,
                          p: Long): DataFrame =
    hashed.groupBy(col("doc_id"))
      .agg(graft.functions.MinHashAgg.minhash(col("x"), numHashes, p, seed = 42L)
        .as("sig"))

  /** Signature table → banded bucket table (doc_id, band, key). The
    * bucket key is the band's signature slice PACKED arithmetically
    * into one long — `fold(acc·lshPrime + vᵢ)` over statically-unrolled
    * `element_at`s: 8 bytes per (doc, band) where a "_"-joined string
    * of the slice values is ~40 (at 10⁹ docs × 32 bands that
    * representation difference is ~1 TB of banding shuffle), and pure
    * per-row arithmetic (no slice copy, no string building, no hash).
    * Every signature value is < lshPrime < 2³¹, so at rowsPerBand = 2
    * the packing is COLLISION-FREE (v0·p + v1 < 2⁶² is injective); at
    * wider bands the fold wraps and a wrap collision can only MERGE
    * buckets — a superset of candidate pairs, so the exact verify's
    * output is unchanged (same argument as the hashed-shingle domain).
    *
    * The accumulator is masked to its low 31 bits before each multiply
    * (`acc & 0x7FFFFFFF`): at rowsPerBand = 2 the mask is the identity
    * (acc = v0 < 2³¹) so injectivity holds, and at wider bands it
    * bounds every intermediate below 2⁶² — without it the 4-row word
    * banding overflows and Spark 4's ANSI mode THROWS on long overflow
    * rather than wrapping (caught by the minhash_lsh oracle run).
    *
    * Measurement note (BENCH_NOTES round-8 session 6): at the bench's
    * pinned 32 shuffle partitions, long-key runs of the char funnel
    * measured ~25% slower than string-key runs — traced NOT to key
    * cost but to placement luck: the giant template buckets explode
    * C(n,2) pairs inside whichever post-agg partition their key hashes
    * into, and the handful of giants land differently per
    * representation. At 256 partitions the gap closes (14.7 s vs the
    * string variant's 13.5–13.7 s, within host noise), which is also
    * the production shape: shuffle partitions are sized to the stage,
    * not pinned at 32.
    */
  private[graft] def bandsOf(sigs: DataFrame, numHashes: Int,
                      bands: Int): DataFrame =
    sigs.select(col("doc_id"), explode(bandKeyArray(numHashes, bands)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))

  /** The packed (band, key) struct array computed from `sig` — shared by
    * [[bandsOf]] and the fused char-funnel candidate builder
    * ([[charFusedCandidates]]) so a packing change can never diverge the
    * two band-key derivations.
    */
  private def bandKeyArray(numHashes: Int, bands: Int): Column = {
    val rowsPerBand = numHashes / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        (0 until rowsPerBand)
          .map(j => element_at(col("sig"), b * rowsPerBand + j + 1))
          .reduce((acc, v) =>
            acc.bitwiseAND(lit(0x7FFFFFFFL)) * lit(lshPrime) + v)
          .as("key")).as(s"b$b")
    }: _*)
  }

  /** Near-dup CLUSTERS from verified pairs — the step that turns pairwise
    * similarity into a dedup decision: connected components by iterative
    * min-label propagation (each node takes the min label among itself
    * and its neighbors until fixpoint), then `cluster_id` = the minimum
    * doc_id of the component (the canonical survivor) and the component
    * size. Iteration count is bounded by the component diameter — for
    * duplicate clusters (near-cliques) that is 1-2 rounds; the driver
    * loop only evaluates a scalar convergence count per round. At
    * extreme graph skew the large-star/small-star variant of the same
    * loop applies.
    */
  def dedupClusters(docs: DataFrame, pairs: DataFrame,
                    maxIters: Int = 20): DataFrame = {
    // both directions from ONE pass over the pairs plan: the union of
    // two selects of the same (unpersisted, often expensive) pairs
    // subtree planned and ran it twice — an explode of the two
    // orientations reads it once (optimization round 15; same rows)
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    // propagate over EDGE VERTICES only: a doc in no pair is its own
    // singleton cluster and can never change label, so iterating it is
    // pure waste — at 100 TB the duplicate-pair graph is orders of
    // magnitude smaller than the corpus, and this keeps every
    // per-iteration join at graph size, not corpus size (the corpus is
    // only touched once, in the final singleton union)
    val nVerts = edges.select(col("src")).distinct().count()
    // size the loop's shuffles to the GRAPH, not the corpus: ~1 partition
    // per 500k vertices (min 2). Per-iteration joins over a 100-vertex
    // graph otherwise schedule a full corpus-sized shuffle fan-out per
    // action — pure task overhead repeated every round. The override
    // lives in a CHILD session (isolated SQLConf, shared context and
    // cache) so concurrent queries on the caller's session are never
    // affected; the caller's conf value is parsed defensively (it can be
    // non-numeric, e.g. "auto", on some platforms).
    val parent = docs.sparkSession
    val sessionParts = scala.util.Try(
      parent.conf.get("spark.sql.shuffle.partitions").toLong).getOrElse(200L)
    val graphParts = math.max(2L, math.min(sessionParts, nVerts / 500000L + 1L))
    val loopSession = parent.newSession()
    loopSession.conf.set("spark.sql.shuffle.partitions", graphParts.toString)
    val loopEdges = loopSession.createDataFrame(edges.rdd, edges.schema).persist()
    var labels = loopEdges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id")).persist()
    var backing = labels // the persisted frame the current labels read from
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val nbrMin = loopEdges
        .join(labels.select(col("doc_id").as("dst"), col("label").as("dst_label")), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("dst_label")).as("nbr_label"))
      // carry a moved flag out of the same join instead of re-joining the
      // old labels afterwards — one pass per iteration, not two
      var step = labels
        .join(nbrMin, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"),
          (coalesce(col("nbr_label"), col("label")) < col("label")).as("moved"))
      // lineage grows linearly with iterations (each step's plan embeds
      // the previous); on deep graphs (diameter > ~8) truncate it with a
      // localCheckpoint so analysis/optimization never walks an
      // O(iters)-deep plan — persist alone caches data but keeps lineage
      step =
        if ((iter + 1) % 8 == 0) step.localCheckpoint(true)
        else step.persist()
      changed = step.filter(col("moved")).count()
      backing.unpersist()
      backing = step
      labels = step.select(col("doc_id"), col("label"))
      iter += 1
    }
    edges.unpersist()
    loopEdges.unpersist()
    // a component with diameter > maxIters would exit the loop mid-merge;
    // silently emitting its partial labels would split one duplicate
    // cluster into several "canonical" docs downstream — fail loudly
    if (changed > 0)
      throw new IllegalStateException(
        s"dedupClusters did not converge after $maxIters iterations " +
          s"($changed labels still changing); raise maxIters")
    // union the untouched singletons back in: docs absent from the pair
    // graph label themselves (left join against the tiny propagated set
    // broadcasts at scale). Labels hop back to the caller's session so
    // the result is not bound to the loop session's conf.
    val labelsOut = parent.createDataFrame(labels.rdd, labels.schema)
    val all = docs.select(col("doc_id"))
      .join(labelsOut, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    all.withColumn("cluster_size", count(lit(1)).over(w))
  }

  /** Repetition score — the boilerplate/spam signal every LLM-data
    * quality filter carries: the dominant k-shingle's share of all
    * (non-distinct) shingle occurrences in the document.
    *
    * Computed entirely PER ROW — sort the shingle array, then the top
    * frequency is the longest equal-run, found in one `aggregate` fold.
    * No key shuffle (the explode + two-level groupBy alternative shuffles
    * every shingle occurrence string twice); the only exchange in the
    * plan is [[Par.widen]]'s round-robin parallelism guard, a no-op on
    * already-wide cluster inputs. 33× faster at sf0.1 than the
    * explode/groupBy version it replaced.
    */
  def repetitionScore(docs: DataFrame, k: Int = 3): DataFrame = {
    val w = split(col("text"), " ")
    val sorted = array_sort(transform(
      sequence(lit(0), size(w) - lit(k)),
      i => array_join(slice(w, i + 1, lit(k)), " ")))
    // fold state: (prev shingle, current run, best run); "" never equals a
    // real k>=2 shingle (those contain at least one separator space)
    val best = aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + lit(1L))
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    Par.widen(docs)
      .filter(size(w) >= k)
      .select(col("doc_id"),
        best.as("top_freq"),
        (size(w) - lit(k) + 1).cast("long").as("n_shingles"))
      .withColumn("rep_ratio",
        col("top_freq").cast("double") / col("n_shingles"))
  }

  /** Benchmark decontamination: flag corpus documents whose shingle
    * overlap with a benchmark set reaches `minOverlap` — the standard
    * eval-leakage guard before training. The benchmark's (distinct)
    * shingles broadcast (benchmarks are small); the corpus streams
    * through one semi-join-shaped aggregation.
    */
  def decontaminate(docs: DataFrame, benchmarkPred: Column, k: Int = 3,
                    minOverlap: Int = 5): DataFrame = {
    val sh = shingles(docs, k)
    val probe = sh.filter(benchmarkPred).select(col("shingle")).distinct()
    val overlaps = sh.filter(!benchmarkPred)
      .join(broadcast(probe), "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("overlap"))
    docs.filter(!benchmarkPred).select(col("doc_id"))
      .join(overlaps, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("overlap"), lit(0L)).as("overlap"))
      .withColumn("contaminated", col("overlap") >= minOverlap)
  }

  /** Fingerprint width shared by [[simHash]], [[simHashPairs]]' pigeonhole
    * banding, and the DuckDB oracle — change it in ONE place or the
    * banding recall guarantee and oracle parity silently break.
    */
  val SimHashBits = 32

  /** [[SimHashBits]]-bit SimHash from per-word polynomial hashes: sum ±1
    * votes per bit weighted by term frequency, bit set where the vote is
    * positive. Hamming-near fingerprints ⇒ near-duplicate texts.
    *
    * Evaluation shape: higher-order functions are interpreted (no
    * whole-stage codegen), so the naive form — one vote-fold per bit,
    * each re-hashing every word — pays the character fold
    * [[SimHashBits]]× per word. Here each word is hashed ONCE
    * (`transform`), the 32 votes accumulate as one array-valued fold
    * (`zip_with` against the hash's bit pattern), and the final bit
    * assembly is a second fold carrying the power of two in the
    * accumulator — the whole signature is a single expression tree, so
    * nothing is recomputed. Votes and bit arithmetic are exactly the
    * naive form's, so the output (and the DuckDB oracle) is unchanged.
    */
  def simHash(docsIn: DataFrame): DataFrame = {
    val docs = Par.widen(docsIn)
    val wordHash: Column => Column = w =>
      aggregate(transform(split(w, ""), c => ascii(c).cast("long")),
        lit(0L), (acc, x) => (acc * lit(1000003L) + x) % lit(2038074743L))
    val w = split(col("text"), " ")
    val hashes = transform(w, t => wordHash(t))
    // bit b of h is set iff (h & 2^b) != 0 — h is non-negative, so this
    // is exactly the naive form's shiftright(h, b) % 2 == 1 test
    val powers = typedlit((0 until SimHashBits).map(b => 1L << b))
    // votes(b) = count of words with bit b set minus count with bit clear
    val votes = aggregate(
      hashes,
      array_repeat(lit(0L), SimHashBits),
      (acc, h) => zip_with(acc,
        transform(powers,
          p => when(h.bitwiseAND(p) =!= 0, lit(1L)).otherwise(lit(-1L))),
        (a, v) => a + v))
    // fold the vote vector into the fingerprint: pw walks 2^0..2^31
    val sim = aggregate(
      votes,
      struct(lit(1L).as("pw"), lit(0L).as("sum")),
      (acc, v) => struct(
        (acc.getField("pw") * lit(2L)).as("pw"),
        (acc.getField("sum") +
          when(v > 0, acc.getField("pw")).otherwise(lit(0L))).as("sum")),
      acc => acc.getField("sum"))
    docs.select(col("doc_id"), sim.as("simhash"))
  }

  /** Near-duplicate pairs by SimHash Hamming distance ≤ `maxHamming`,
    * found sub-quadratically via pigeonhole banding: the [[SimHashBits]]-bit
    * fingerprint splits into `bands` equal chunks, and any pair within
    * Hamming `bands - 1` must agree on at least one whole chunk — so
    * bucketing on (band, chunk value) has GUARANTEED recall (no
    * probability involved, unlike MinHash banding) as long as
    * `maxHamming < bands`. Candidates from shared buckets are verified
    * with an exact `bit_count(xor)` — 8 bytes per doc shuffled, never
    * text.
    */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3,
                   bands: Int = 4): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole recall needs maxHamming < bands ($maxHamming >= $bands)")
    val bits = SimHashBits / bands
    val sigs = simHash(docs).persist() // reused: banding + verification

    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * bits)
          .bitwiseAND(lit((1L << bits) - 1)).as("key")).as(s"b$b")
    }
    val buckets = sigs.select(col("doc_id"), col("simhash"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.key"))

    // bucket self-join carries the 8-byte signatures along, so the
    // Hamming verify is a codegen'd xor inside the join task — no second
    // lookup join, and dedup happens after the filter (rows-that-survive)
    buckets.select(col("band"), col("key"),
        col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
      .join(buckets.select(col("band"), col("key"),
        col("doc_id").as("doc_b"), col("simhash").as("sig_b")),
        Seq("band", "key"))
      .where(col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
  }
}

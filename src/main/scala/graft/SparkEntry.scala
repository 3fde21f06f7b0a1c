package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops._

/** Driver contract — one entry per implemented operator from SURVEY.md §2.
  *
  * Determinism rules (every query must hash-match its DuckDB oracle):
  *  - every window/keep-first op has an explicit total order (tiebreaks);
  *  - money aggregates sum DECIMAL casts, never raw doubles (FP sum order
  *    differs across engines/partitionings);
  *  - timestamps are compared at microsecond precision — oracle SQL casts
  *    DuckDB's TIMESTAMP_NS/_MS to TIMESTAMP;
  *  - no wall clocks: `add_metadata` pins its clock parameter.
  */
object SparkEntry {

  /** Flagship: the reference's crown-jewel semantics (flatten + latest-wins
    * window dedup + MERGE upsert, `data_pipeline.py:177-206`) end-to-end on
    * events. Driver smoke-checks rows>0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("merge_upsert_latest")(spark, "/root/testdata/sf0.001")

  // ---- shared builders -------------------------------------------------

  /** events with ts at Spark's microsecond precision; props parsed. */
  private def eventsBase(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
              col("value"), col("props"))

  private val eventKeys = Seq("user_id", "event_type")

  /** The four-quarter word-render scaffold every documents-table
    * line-structure injection builds on (the synthetic corpus is
    * single-line, so multi-line rule triggers need a deterministic
    * render): `ws`/`m`/`q` and the four quarter strings. ONE
    * definition — `c4Injected`, the `gopher_line_dup` registration,
    * and the `gopher_quality` registration all decorate these same
    * columns, so the render cannot drift between injections (each
    * decoration is still mirrored in its own oracle).
    */
  private case class Quarters(ws: org.apache.spark.sql.Column,
      m: org.apache.spark.sql.Column, l1: org.apache.spark.sql.Column,
      l2: org.apache.spark.sql.Column, l3: org.apache.spark.sql.Column,
      l4: org.apache.spark.sql.Column)
  private def quarterRender: Quarters = {
    val ws = split(col("text"), " ")
    val m = size(ws)
    val q = floor(m / lit(4)).cast("int")
    def part(start: org.apache.spark.sql.Column,
             len: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array_join(slice(ws, start, len), " ")
    Quarters(ws, m, part(lit(1), q), part(q + 1, q),
      part(lit(2) * q + 1, q), part(lit(3) * q + 1, m - lit(3) * q))
  }

  /** The deterministic rule-trigger injection shared by the
    * `c4_line_filter` report and `c4_apply` queries (mirrored in their
    * oracles' common CTE chain): quarter-render with a terminal '.'
    * unless (doc_id + i) % 3 == 0, " {" appended to line 2 of every
    * 7th doc, "lorem ipsum." as line 3 of every 11th.
    */
  private case class C4InjectedLines(m: org.apache.spark.sql.Column,
      l1: org.apache.spark.sql.Column, l2: org.apache.spark.sql.Column,
      l3: org.apache.spark.sql.Column, l4: org.apache.spark.sql.Column)
  private def c4InjectedLines: C4InjectedLines = {
    val r = quarterRender
    def punct(line: org.apache.spark.sql.Column, i: Int): org.apache.spark.sql.Column =
      when((col("doc_id") + i) % 3 =!= 0, concat(line, lit(".")))
        .otherwise(line)
    val l1 = punct(r.l1, 1)
    val l2p = punct(r.l2, 2)
    val l2 = when(col("doc_id") % 7 === 0, concat(l2p, lit(" {")))
      .otherwise(l2p)
    val l3 = when(col("doc_id") % 11 === 0, lit("lorem ipsum."))
      .otherwise(punct(r.l3, 3))
    val l4 = punct(r.l4, 4)
    C4InjectedLines(r.m, l1, l2, l3, l4)
  }
  private def c4Injected(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val L = c4InjectedLines
    val injected = when(L.m >= 8, concat_ws("\n", L.l1, L.l2, L.l3, L.l4))
      .otherwise(col("text"))
    base.select(col("doc_id"), injected.as("text"))
  }

  /** The web front door's staged corpus: the SAME c4 rule-trigger lines,
    * with the [[graft.ops.Text.WebNavLine]] chrome interleaved into
    * every 13th page (three copies, non-adjacent so only the LINE-dup
    * rule sees the repetition), then each page staged TWICE — once
    * behind the repaired prefix, once through a mojibake mirror at
    * doc_id + [[webOffset]] — so the dedup stage provably rides the
    * repair stage (the curationPipeline planted-twin convention).
    * Mirrored line-for-line in the oracle's staged CTE chain.
    */
  private val webOffset = 100000L
  /** The page render shared by [[webInjected]] and the near-twin
    * staging — ONE definition so the paraphrase twins can never drift
    * from the pages they mirror. */
  private def webRendered: org.apache.spark.sql.Column = {
    val L = c4InjectedLines
    val nav = lit(Text.WebNavLine)
    when(L.m >= 8,
      when(col("doc_id") % 13 === 0,
        concat_ws("\n", L.l1, nav, L.l2, nav, L.l3, nav, L.l4))
        .otherwise(concat_ws("\n", L.l1, L.l2, L.l3, L.l4)))
      .otherwise(col("text"))
  }
  private def webInjected(s: SparkSession, dir: String,
      render: org.apache.spark.sql.Column): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    base.select(col("doc_id"), render.as("text"))
  }
  /** One max-id aliasing probe per (JVM, sfDir): the guard is an eager
    * full-documents aggregation, and web_pipeline registrations are
    * (re)constructed by every plan dump / fingerprint / sweep pass —
    * uncached it added a whole corpus scan per CONSTRUCTION (ADVICE
    * r13). The corpus at a dir is immutable for a JVM's lifetime, so
    * the first probe's verdict holds for all later constructions (a
    * probe that ever FAILS throws out of getOrElseUpdate and is
    * retried — only a passing verdict is cached; ADVICE r14 dropped
    * the tautological re-require of the cached value).
    */
  private val webMaxIdChecked =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]
  private def webStaged(s: SparkSession, dir: String): DataFrame =
    webStaged0(s, dir, webRendered)
  private def webStaged0(s: SparkSession, dir: String,
      render: org.apache.spark.sql.Column): DataFrame = {
    val inj = webInjected(s, dir, render)
    // the mirror ids live at +webOffset; real ids reaching the offset
    // would alias keys through the dedup window (mirrored in the
    // oracle, so the gate could not see it) — assert, the
    // curation_pipeline guard. coalesce: empty-table max() is NULL.
    webMaxIdChecked.getOrElseUpdate(dir, {
      val maxDocId =
        inj.agg(coalesce(max(col("doc_id")), lit(-1L))).head.getLong(0)
      require(maxDocId < webOffset,
        s"mirror doc_id offset $webOffset would alias real ids (max=$maxDocId)")
      true
    })
    val clean = inj.select(col("doc_id"),
      concat(lit(Text.mojibakePrefixRepaired), col("text")).as("text"))
    val corrupt = inj.select((col("doc_id") + webOffset).as("doc_id"),
      concat(lit(Text.mojibakePrefix), col("text")).as("text"))
    clean.unionByName(corrupt)
  }

  /** [[webStaged]] + the planted NEAR-twin tier for `web_pipeline_near`:
    * every 17th RENDERED page is staged a THIRD time at
    * `+nearOffset` — through the mojibake prefix (so it rides the
    * repair stage like the exact mirror) and with [[graft.ops.Text
    * .WebNearLine]] appended as one extra kept line, so its content
    * hash provably differs from both staged copies of the page (exact
    * dedup can NOT merge it) while its word-shingle Jaccard against
    * the page stays far above the 0.5 bar (only NEAR-dedup can). The
    * three id tiers are disjoint by the [[webStaged]] max-id guard:
    * real < 100000 ≤ mirrors < 200000 ≤ near-twins. Mirrored
    * line-for-line in [[webNearStagedRel]]'s staged CTE.
    */
  private val nearOffset = 200000L
  private def webNearStaged(s: SparkSession, dir: String): DataFrame =
    webNearStaged0(s, dir, webRendered)
  private def webNearStaged0(s: SparkSession, dir: String,
      render: org.apache.spark.sql.Column): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val L = c4InjectedLines
    val para = base.filter(col("doc_id") % 17 === 0 && L.m >= 8)
      .select((col("doc_id") + nearOffset).as("doc_id"),
        concat(lit(Text.mojibakePrefix), render,
          lit("\n" + Text.WebNearLine)).as("text"))
    webStaged0(s, dir, render).unionByName(para)
  }

  /** [[webRendered]] + the [[graft.ops.Text.WebSpanLine]] license
    * footer appended to every 19th rendered page — the
    * `web_pipeline_substr` staging's render. The footer rides INSIDE
    * the render, so both staged copies carry it (exact dedup still
    * merges the mirror) and the near twins of 17∧19-divisible pages
    * inherit it (their Jaccard stays far above the near bar — one more
    * shared line). After cleaning, the footer's words 2..9 are a
    * page-independent duplicated 8-token window across every planted
    * survivor — the exact cross-page repetition the substr stage must
    * excise from all but the first occurrence.
    */
  private def webSpanRendered: org.apache.spark.sql.Column = {
    val L = c4InjectedLines
    when(col("doc_id") % 19 === 0 && L.m >= 8,
      concat(webRendered, lit("\n" + Text.WebSpanLine)))
      .otherwise(webRendered)
  }
  /** [[webNearStaged]] over the span-footer render — the
    * `web_pipeline_substr` staged corpus. Mirrored in
    * [[webSubstrStagedRel]]. */
  private def webSubstrStaged(s: SparkSession, dir: String): DataFrame =
    webNearStaged0(s, dir, webSpanRendered)

  /** Reverse the words of every line EXCEPT its last word (so a kept
    * line keeps its terminal '.' and the C4 line rule sees the same
    * verdict): the deterministic "paraphrase" whose word-shingle sets
    * are (near-)disjoint from the original's while its bag of words —
    * and, more to the point, its model EMBEDDING in the staged side
    * table — is unchanged. Mirrored glyph-for-glyph in the sem oracle
    * relation's list_reverse arm.
    */
  private def reverseWordsPerLine(
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_join(transform(split(c, "\n"), line => {
      val ws = split(line, " ")
      val n = size(ws)
      when(n >= 2,
        concat(array_join(reverse(slice(ws, lit(1), n - 1)), " "),
          lit(" "), element_at(ws, n)))
        .otherwise(line)
    }), "\n")

  /** [[webNearStaged]] + the planted SEM-twin tier for
    * `web_pipeline_sem`: every 6th RENDERED page is staged a FOURTH
    * time at `+semOffset` — through the mojibake prefix (riding the
    * repair stage like the other tiers) with its words
    * [[reverseWordsPerLine reversed per line]], so its content hash
    * differs (exact dedup cannot merge it), its shingle Jaccard
    * against the page collapses far below the 0.5 near bar (near-dedup
    * cannot either — margin-checked), while its embedding in
    * [[semEmbeddings]] is IDENTICAL to the page's (only the semantic
    * stage can merge it, at cosine exactly 1). Id tiers: real < 100000
    * ≤ mirrors < 200000 ≤ near-twins < 300000 ≤ sem-twins. Mirrored
    * line-for-line in [[webSemStagedRel]].
    */
  private val semOffset = 300000L
  private def webSemStaged(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val L = c4InjectedLines
    val sem = base.filter(col("doc_id") % 6 === 0 && L.m >= 8)
      .select((col("doc_id") + semOffset).as("doc_id"),
        concat(lit(Text.mojibakePrefix),
          reverseWordsPerLine(webRendered)).as("text"))
    webNearStaged(s, dir).unionByName(sem)
  }

  /** [[webSemStaged]]'s four tiers over the span-footer render — the
    * `web_pipeline_full` staged corpus: mirrors (exact tier), near
    * twins (+200000, one extra kept line), sem twins (+300000,
    * per-line word-reversed) and the every-19th license footer, all in
    * one corpus so every stage of the full chain has its planted
    * class. A sem twin of a 19-divisible page carries the footer
    * REVERSED (different 8-grams — no surgery interaction), and near/
    * sem twins are merged by their stages before the surgery
    * population forms. Mirrored in [[webFullStagedRel]].
    */
  private def webFullStaged(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val L = c4InjectedLines
    val sem = base.filter(col("doc_id") % 6 === 0 && L.m >= 8)
      .select((col("doc_id") + semOffset).as("doc_id"),
        concat(lit(Text.mojibakePrefix),
          reverseWordsPerLine(webSpanRendered)).as("text"))
    webNearStaged0(s, dir, webSpanRendered).unionByName(sem)
  }

  /** Fixture-margin probes for `graft.tools.MarginCheck` (ADVICE r14):
    * the kept canonical pages of each front-door staging variant —
    * the exact population whose pairwise Jaccard the near oracle
    * computes completely, and over which banding recall must
    * therefore be safe.
    */
  private[graft] def webMarginProbes(s: SparkSession, dir: String)
      : Seq[(String, DataFrame)] = {
    def keptOf(staged: DataFrame): DataFrame =
      Text.webPipeline(staged).filter(col("status") === "kept")
        .select(col("doc_id"), col("text_clean").as("text"))
    Seq(
      "web_near" -> keptOf(webNearStaged(s, dir)),
      "web_sem" -> keptOf(webSemStaged(s, dir)),
      "web_substr" -> keptOf(webSubstrStaged(s, dir)),
      "web_full" -> keptOf(webFullStaged(s, dir)))
  }

  /** The sem-candidate vector population per sem-staged variant
    * (`graft.tools.MarginCheck` asserts the cosine band for each —
    * the full chain's population differs from `web_sem`'s because its
    * near survivors ride the footer render).
    */
  private[graft] def semMarginVectorProbes(s: SparkSession, dir: String)
      : Seq[(String, DataFrame)] = {
    def vectorsOf(staged: DataFrame): DataFrame = {
      val near = Text.webPipelineNear(staged)
      val keptIds =
        near.filter(col("status") === "kept").select(col("doc_id"))
      semEmbeddings(s, dir)
        .join(keptIds, col("vec_id") === col("doc_id")).drop("doc_id")
    }
    Seq("web_sem" -> vectorsOf(webSemStaged(s, dir)),
      "web_full" -> vectorsOf(webFullStaged(s, dir)))
  }

  /** The embedding SIDE TABLE for the sem stage: the upstream model's
    * vectors keyed by doc_id (vec_id = doc_id — embeddings may cover
    * only part of the corpus, e.g. 2000 vectors / 5000 docs at sf0.1;
    * uncovered kept pages simply cannot sem-merge), extended with the
    * planted tiers' vectors: a near twin or sem twin carries ITS
    * PAGE'S embedding verbatim (the model view of a paraphrase).
    * Mirrored in [[semEmbRel]]. The max-id probe rides the
    * [[webMaxIdChecked]] cache under a distinct key.
    */
  private def semEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    webMaxIdChecked.getOrElseUpdate(dir + "#emb", {
      val maxVecId =
        e.agg(coalesce(max(col("vec_id")), lit(-1L))).head.getLong(0)
      require(maxVecId < nearOffset,
        s"twin vec_id offsets would alias real vectors (max=$maxVecId)")
      true
    })
    val near = e.filter(col("vec_id") % 17 === 0)
      .select((col("vec_id") + nearOffset).as("vec_id"), col("embedding"))
    val sem = e.filter(col("vec_id") % 6 === 0)
      .select((col("vec_id") + semOffset).as("vec_id"), col("embedding"))
    e.unionByName(near).unionByName(sem)
  }

  /** The embedding dimensionality at `dir`, probed once per (JVM, dir)
    * (the [[webMaxIdChecked]] convention) and passed into the sem
    * stage so [[graft.ops.Similarity.cosineNearDup]] never has to
    * probe it through the near ledger's lineage at construction time.
    */
  private val semEmbDimCache =
    scala.collection.concurrent.TrieMap.empty[String, Int]
  private def semEmbDim(s: SparkSession, dir: String): Int =
    semEmbDimCache.getOrElseUpdate(dir,
      Tables.embeddings(s, dir)
        .select(size(col("embedding")).as("d")).head.getInt(0))

  // ---- driver contract -------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- round 5: monitoring / layout / behavioral operators ----------

    // per-priority order-total outliers beyond 1.5 sigma, decided in
    // exact integer (cents) arithmetic so the flag set is reproducible
    "anomaly_zscore" -> ((s, dir) =>
      Profile.anomalyOutliers(Tables.orders(s, dir),
        group = col("o_orderpriority"), value = col("o_totalprice"),
        idCols = Seq("o_orderkey"), num = 3, den = 2)
        .select(col("o_orderkey"), col("g").as("o_orderpriority"),
          col("value").as("o_totalprice"))),

    // two-arm A/B readout: hash-parity assignment over users, per-unit
    // event-value totals, Welch z on exact-decimal moment sums
    "ab_test" -> ((s, dir) =>
      Profile.abTestReport(Tables.events(s, dir),
        unit = col("user_id"), metric = col("value"))),

    // per-type OLS trend of daily event cents vs day offset: exact
    // integer normal-equation sums, one rounded division per coefficient
    "regression_ols" -> ((s, dir) =>
      Profile.olsTrend(Tables.events(s, dir), group = col("event_type"),
        ts = col("ts"), value = col("value"))),

    // Benford first-digit audit of order totals: 9-row digit law screen
    "benford_digits" -> ((s, dir) =>
      Profile.benfordDigits(Tables.orders(s, dir), col("o_totalprice"))),

    // per-nation revenue concentration: exact-integer Gini + top-decile
    "gini_concentration" -> ((s, dir) =>
      Relational.giniConcentration(Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.nation(s, dir))),

    // RFM quartile segmentation over a total order (metric, custkey)
    "rfm_segments" -> ((s, dir) =>
      Temporal.rfmSegments(Tables.orders(s, dir))),

    // kNN label vote over exact cosine neighbors of the %25 probe slice
    "knn_classify" -> ((s, dir) =>
      Similarity.knnClassify(Tables.embeddings(s, dir))),

    // reliability diagram + ECE over the kNN vote confidences — every
    // value one division of exact integers (no binning cuts needed);
    // distinct from calibration_bins (Eval): real classifier votes, ECE
    "knn_calibration" -> ((s, dir) =>
      Similarity.calibrationBins(
        Similarity.knnClassify(Tables.embeddings(s, dir)))),

    // isotonic (PAV) fit over the same vote bins via the minimax
    // characterization — monotone calibrated probabilities, exact
    // floor-keyed fraction ordering (no iterative pooling loop)
    "isotonic_calibration" -> ((s, dir) =>
      Similarity.isotonicCalibration(
        Similarity.knnClassify(Tables.embeddings(s, dir)))),

    // split-conformal prediction interval per event type: q-hat from
    // the even-id calibration half at alpha=0.1, empirical coverage
    // measured on the odd-id holdout — all rank selections over the
    // bounded (group, cents) count table, one feed scan
    "conformal_threshold" -> ((s, dir) =>
      Profile.conformalThreshold(Tables.events(s, dir),
        group = col("event_type"), id = col("event_id"),
        value = col("value"))
        .select(col("g").as("event_type"), col("n_cal"), col("n_test"),
          col("med_cents"), col("qhat_cents"), col("n_covered"),
          col("coverage"), col("nominal"))),

    // constraint suggestion from ONE profiling scan: the observed
    // envelope becomes a DqRule catalog that rulesReport can enforce
    // as-is (and which passes on the profiled feed by construction)
    "dq_suggest" -> ((s, dir) =>
      Quality.dqSuggest(Tables.events(s, dir),
        numericCols = Seq("value"),
        keyCols = Seq("event_id", "user_id"))),

    // purged k-fold temporal CV report: contiguous day folds + embargo
    // halos; the leak-proof split for serially-correlated feeds, with
    // the purge cost reported per fold
    "purged_kfold" -> ((s, dir) =>
      Shard.purgedKfold(Tables.events(s, dir), ts = col("ts"))),

    // Fellegi-Sunter agreement-pattern table over blocked customer-name
    // candidates: exact clamped-ppm m/u estimates, long-fraction odds,
    // integer link rule. Blocking = last-3 ∪ digits-3-6 windows:
    // deletion pos <= len-3 keeps the suffix, pos >= 16 keeps the
    // front-anchored digit window — together every deletion position
    // is covered, and both block families are BOUNDED (15 resp. 1000
    // ids per block -> candidate volume LINEAR in corpus size, never
    // the first-digits quadratic blowup); nationkey is the
    // discriminative attribute (m ~ 1, u ~ 1/25)
    "fellegi_sunter" -> ((s, dir) =>
      Linkage.fellegiSunter(Tables.customer(s, dir),
        id = col("c_custkey"), name = col("c_name"),
        attr = col("c_nationkey"),
        blkA = substring(_, -3, 3), blkB = substring(_, 12, 4))),

    // WITH RECURSIVE transitive closure over the decimal part tree
    // (the declarative sibling of bom_rollup's iterative loop) —
    // Spark 4's UnionLoop executes the fixpoint; per-(root, depth)
    // rollup keeps the result bounded by the hierarchy, not the closure
    "sql_recursive_cte" -> ((s, dir) => {
      Tables.part(s, dir).createOrReplaceTempView("part")
      s.sql("""WITH RECURSIVE tree AS (
          SELECT p_partkey AS root, p_partkey AS node, 0 AS depth
          FROM part WHERE p_partkey < 10
          UNION ALL
          SELECT t.root, p.p_partkey AS node, t.depth + 1 AS depth
          FROM tree t JOIN part p ON p.p_partkey div 10 = t.node
          WHERE t.depth < 8)
        SELECT root, depth, count(*) AS n_nodes,
          CAST(sum(node) AS BIGINT) AS sum_keys
        FROM tree GROUP BY root, depth""")
    }),

    // per-flag winsorized mean: discrete rank-selected p05/p95 cut values
    "winsorized_stats" -> ((s, dir) =>
      Profile.winsorizedStats(Tables.lineitem(s, dir),
        group = col("l_returnflag"), value = col("l_extendedprice"))),

    // one-scan Pearson matrix over four lineitem metrics, exact moments
    "corr_matrix" -> ((s, dir) =>
      Profile.corrMatrix(Tables.lineitem(s, dir), Seq(
        "quantity" -> col("l_quantity"), "price" -> col("l_extendedprice"),
        "discount" -> col("l_discount"), "tax" -> col("l_tax")))),

    // directional association rules over order baskets of parts
    "market_basket" -> ((s, dir) =>
      Assoc.marketBasket(Tables.lineitem(s, dir),
        basket = col("l_orderkey"), item = col("l_partkey"),
        minSupport = 2)),

    // per-user temporal lag/delta/rolling features on one sort
    "lag_features" -> ((s, dir) =>
      Features.lagFeatures(Tables.events(s, dir), key = col("user_id"),
        ts = col("ts"), id = col("event_id"), value = col("value"))),

    // leave-one-out target encoding of event_type against value
    "target_encoding" -> ((s, dir) =>
      Features.targetEncode(Tables.events(s, dir),
        category = col("event_type"), id = col("event_id"),
        target = col("value"))),

    // hash-deterministic contrastive negatives minus accidental positives
    "negative_sampling" -> ((s, dir) =>
      Features.negativeSampling(
        Tables.orders(s, dir).join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey")),
        user = col("o_custkey"), item = col("l_partkey"),
        items = Tables.part(s, dir), itemKey = col("p_partkey"))),

    // mergeable histogram p50/p95 sketch with the exact truth beside it
    "histogram_quantiles" -> ((s, dir) =>
      Profile.histogramQuantiles(Tables.orders(s, dir),
        group = col("o_orderpriority"), value = col("o_totalprice"))),

    // frequent 3-step behavioral paths over the totally-ordered stream
    "sequence_ngrams" -> ((s, dir) =>
      Temporal.sequenceNgrams(Tables.events(s, dir), user = col("user_id"),
        ts = col("ts"), id = col("event_id"), step = col("event_type"))),

    // observation/outcome-window churn labels from the feed's own clock
    "churn_label" -> ((s, dir) =>
      Temporal.churnLabel(Tables.events(s, dir), user = col("user_id"),
        ts = col("ts"))),

    // per-dim (x - median)/IQR normalization, discrete-rank quartiles
    "robust_scale" -> ((s, dir) =>
      Similarity.robustScale(Tables.embeddings(s, dir))),

    // duration-weighted mean of piecewise-constant per-user values
    "time_weighted_avg" -> ((s, dir) =>
      Temporal.timeWeightedAvg(Tables.events(s, dir), key = col("user_id"),
        ts = col("ts"), id = col("event_id"), value = col("value"))),

    // rank-based percentile transform within event_type
    "quantile_normalize" -> ((s, dir) =>
      Features.quantileNormalize(Tables.events(s, dir),
        group = col("event_type"), id = col("event_id"),
        value = col("value"))),

    // exact scaled-integer trend/seasonal/residual split of daily totals
    "seasonal_decompose" -> ((s, dir) =>
      Temporal.seasonalDecompose(Tables.events(s, dir),
        group = col("event_type"), ts = col("ts"), value = col("value"))),

    // per-key counts merged live in foreachBatch == batch heavy hitters
    "streaming_heavy_hitters" -> ((s, dir) =>
      graft.streaming.Streaming.streamingHeavyHitters(s,
        eventsBase(s, dir), tmp(dir, "stream_events5"))),

    // bottom-k quantile sketch maintained live: per-batch samples
    // KMV-merged into <= k rows/group state == the batch sketch
    "streaming_sketch_quantiles" -> ((s, dir) =>
      graft.streaming.Streaming.streamingSketchQuantiles(s,
        eventsBase(s, dir), tmp(dir, "stream_events5"))),

    // Mann-Whitney AUC: does event value separate purchases from the rest
    "auc_rank" -> ((s, dir) =>
      Profile.aucRank(Tables.events(s, dir),
        label = col("event_type") === "purchase", metric = col("value"))),

    // CUPED: pre-period covariate-adjusted A/B means, hash-parity arms
    "cuped_adjust" -> ((s, dir) =>
      Profile.cupedAdjust(Tables.events(s, dir), unit = col("user_id"),
        ts = col("ts"), metric = col("value"), cutoff = "2024-01-16")),

    // two-sample KS over the distinct-cents domain: purchase vs click
    "ks_test" -> ((s, dir) =>
      Profile.ksTest(Tables.events(s, dir), metric = col("value"),
        sample = col("event_type"), a = "purchase", b = "click")),

    // t-closeness: ordered-EMD of class value dist vs corpus dist
    "t_closeness" -> ((s, dir) =>
      Scrub.tCloseness(Tables.events(s, dir),
        quasi = Seq(col("event_type"), col("ts").cast("date").as("day")),
        sensitive = col("value"), bucketCents = 5000L, t = 0.2)),

    // ACF of the daily order-revenue series at lags 1..7
    "acf_lags" -> ((s, dir) =>
      Temporal.acfLags(Tables.orders(s, dir), ts = col("o_orderdate"),
        metric = col("o_totalprice"), maxLag = 7)),

    // 5% rebate split per order in exact cents, largest remainder
    "prorate_allocate" -> ((s, dir) =>
      Relational.prorateAllocate(Tables.lineitem(s, dir))),

    // per-cell MI relevance of $50 value buckets vs event_type
    "feature_mi" -> ((s, dir) =>
      Features.featureMi(Tables.events(s, dir), feature = col("value"),
        label = col("event_type"))),

    // priority sampling of orders by totalprice, IEEE-exact keys
    "weighted_sample" -> ((s, dir) =>
      Shard.weightedSample(Tables.orders(s, dir), id = col("o_orderkey"),
        weight = col("o_totalprice"))),

    // delta-method CI for purchase revenue per event (unit = user)
    "ratio_metric_ci" -> ((s, dir) =>
      Profile.ratioMetricCi(Tables.events(s, dir), unit = col("user_id"),
        num = when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0)),
        den = lit(1L))),

    // hash-derived truncated-Poisson(1) weights, rank CI over B=40 means
    "poisson_bootstrap" -> ((s, dir) =>
      Profile.poissonBootstrap(Tables.events(s, dir),
        unit = col("user_id"), metric = col("value"))),

    // MDE at current arm sizes from exact pooled moments
    "power_mde" -> ((s, dir) =>
      Profile.powerMde(Tables.events(s, dir), unit = col("user_id"),
        metric = col("value"))),

    // pre-period-quintile strata, per-stratum arm means and lift
    "propensity_strata" -> ((s, dir) =>
      Profile.propensityStrata(Tables.events(s, dir),
        unit = col("user_id"), ts = col("ts"), metric = col("value"),
        cutoff = "2024-01-16")),

    // interpolated Kneser-Ney bigram LM; D=3/4 keeps terms rational
    "kneser_ney_lm" -> ((s, dir) =>
      Text.kneserNeyLm(Tables.documents(s, dir), topN = 20)),

    // KMV/theta sketch: distinct + pairwise union/intersection estimates
    "kmv_sketch" -> ((s, dir) =>
      Profile.kmvSketch(Tables.events(s, dir), group = col("event_type"),
        id = col("user_id"))),

    // exact quantity-weighted price percentiles per returnflag
    "weighted_quantiles" -> ((s, dir) =>
      Profile.weightedQuantiles(Tables.lineitem(s, dir),
        group = col("l_returnflag"), value = col("l_extendedprice"),
        weight = col("l_quantity"))),

    // deterministic bottom-k-by-hash quantile sketch: O(k) per-group
    // state, WindowGroupLimit-pruned, oracle replays it bit-for-bit
    "sketch_quantiles" -> ((s, dir) =>
      Profile.sketchQuantiles(Tables.lineitem(s, dir),
        group = col("l_returnflag"),
        id = col("l_orderkey") * 8 + col("l_linenumber"),
        value = col("l_extendedprice"))
        .withColumnRenamed("g", "l_returnflag")),

    // same answer computed the INCREMENTAL way: independent per-shard
    // sketches merged by re-taking the k smallest hashes — registered
    // against the SAME oracle as sketch_quantiles, so the hash-match IS
    // the executed mergeability proof
    "sketch_quantiles_merged" -> ((s, dir) =>
      Profile.sketchQuantilesMerged(Tables.lineitem(s, dir),
        group = col("l_returnflag"),
        id = col("l_orderkey") * 8 + col("l_linenumber"),
        value = col("l_extendedprice"))
        .withColumnRenamed("g", "l_returnflag")),

    // k=3 core of the customer-supplier graph, iterative degree peel
    "k_core" -> ((s, dir) => {
      val edges = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 5 === 0)
        .join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      Graph.kCore(s, edges, k = 3)
    }),

    // deterministic 15% MLM masking by (doc_id, position) hash
    "mlm_mask" -> ((s, dir) =>
      Text.mlmMask(Tables.documents(s, dir))),

    // Cohen's kappa between the char-length and word-count raters
    "rater_agreement" -> ((s, dir) =>
      Quality.raterAgreement(Tables.documents(s, dir),
        raterA = col("n_chars") >= 300,
        raterB = size(split(col("text"), " ")) >= 60)),

    // top principal direction, 6 integer-exact power-iteration steps
    "pca_power" -> ((s, dir) =>
      Similarity.pcaPower(Tables.embeddings(s, dir))),

    // l-diversity: k-anonymous classes can still leak a shared secret
    "l_diversity" -> ((s, dir) =>
      Scrub.lDiversity(Tables.events(s, dir),
        quasi = Seq(col("event_type"), col("ts").cast("date").as("day")),
        sensitive = col("user_id"), l = 45)),

    // rendezvous sharding 8->9: movement matrix, ~1/9 keys move
    "rendezvous_hash" -> ((s, dir) =>
      Shard.rendezvousHash(Tables.orders(s, dir),
        id = col("o_orderkey"))),

    // NDCG@5 of exact-cosine retrieval, relevance = label match
    "ndcg_eval" -> ((s, dir) =>
      Eval.ndcgEval(Tables.embeddings(s, dir))),

    // gains table: activity-ranked user deciles vs purchase capture
    "decile_lift" -> ((s, dir) =>
      Eval.decileLift(Tables.events(s, dir), unit = col("user_id"),
        positive = col("event_type") === "purchase")),

    // kNN confusion cells with class totals and per-cell P/R
    "eval_confusion" -> ((s, dir) =>
      Eval.confusionMatrix(Tables.embeddings(s, dir))),

    // chi-squared independence cells, same $50 buckets as feature_mi
    "chi2_independence" -> ((s, dir) =>
      Eval.chi2Independence(Tables.events(s, dir),
        feature = col("value"), label = col("event_type"))),

    // reliability bins: click-share score vs purchase rate per bin
    "calibration_bins" -> ((s, dir) =>
      Eval.calibrationBins(Tables.events(s, dir), unit = col("user_id"),
        scoreEvent = col("event_type") === "click",
        positive = col("event_type") === "purchase")),

    // 2-D Pareto frontier of parts: cheapest price for the largest size
    "skyline_pareto" -> ((s, dir) =>
      Relational.skylinePareto(Tables.part(s, dir),
        cost = col("p_retailprice"), gain = col("p_size"),
        idCol = col("p_partkey"), bucketWidth = 10.0)
        .select(col("id").as("p_partkey"), col("cost").as("p_retailprice"),
          col("gain").as("p_size"))),

    // weekly cohort retention matrix over events
    "retention_cohorts" -> ((s, dir) =>
      Temporal.retentionCohorts(Tables.events(s, dir),
        user = col("user_id"), ts = col("ts"))),

    // Kaplan-Meier survival curve over user activity lifetimes —
    // right-censored at the 12h silence horizon; ordered prefix-fold S
    "kaplan_meier" -> ((s, dir) =>
      Temporal.kaplanMeier(eventsBase(s, dir),
        entity = col("user_id"), ts = col("ts"))),

    // behavioral Markov transitions: event-type bigram counts + P(next|prev)
    "event_transitions" -> ((s, dir) =>
      Temporal.eventTransitions(Tables.events(s, dir),
        user = col("user_id"), ts = col("ts"), idCol = col("event_id"),
        typeCol = col("event_type"))),

    // containment near-dup: quote/prefix duplication Jaccard misses
    "containment_pairs" -> ((s, dir) =>
      TextDedup.containmentPairs(Tables.documents(s, dir), threshold = 0.8)),

    // value-distribution drift between even and odd epoch days (A/A shape)
    "drift_report" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      Profile.driftReport(e,
        side = Profile.evenOddDaySide(col("ts")),
        bucket = floor(col("value") / lit(10.0)).cast("long"))
    }),

    // two-sample KS test on the same even/odd-day populations as
    // drift_report — exact cross-multiplied CDF gap, squared decision
    // (the sqrt-free sibling of ks_test's purchase-vs-click compare)
    "ks_drift" -> ((s, dir) =>
      Profile.ksDrift(Tables.events(s, dir),
        side = Profile.evenOddDaySide(col("ts")),
        value = col("value"))),

    // int8 scalar quantization of the embedding corpus. The codes array
    // is projected to a comma-joined string: the driver's pandas
    // row-sort can't hash array cells (same convention as array_funcs).
    "embedding_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables.embeddings(s, dir))
        .select(col("vec_id"), array_join(col("codes"), ",").as("codes"))),

    // per-dimension mean/min/max — the mean-centering prep table
    // (decimal-exact sums, one division rounded 1e-6)
    "embedding_dim_stats" -> ((s, dir) =>
      Similarity.dimStats(Tables.embeddings(s, dir))),

    // per-source top-25% quality retention: integer rank cut within
    // each stratum (a global score threshold would empty weak domains)
    "quality_cut" -> ((s, dir) =>
      Shard.qualityTopCut(
        Text.qualityScore(Tables.documents(s, dir), keep = Seq("source")),
        stratum = col("source"), score = col("score"),
        id = col("doc_id"), keepPct = 25)
        .select(col("doc_id"), col("source"), col("n_words"), col("score"))),

    // Theil-Sen robust trend per event type: exact floor-scaled median
    // of pairwise daily slopes (29% breakdown vs OLS's zero)
    "theil_sen" -> ((s, dir) =>
      Profile.theilSen(Tables.events(s, dir), group = col("event_type"),
        ts = col("ts"), value = col("value"))
        .select(col("g").as("event_type"), col("n_days"), col("n_pairs"),
          col("slope"))),

    // CUSUM changepoint per event type: the day where cumulative
    // deviation from the series mean peaks, in scaled-integer BIGINT
    "changepoint_cusum" -> ((s, dir) =>
      Profile.changepointCusum(eventsBase(s, dir),
        group = col("event_type"), ts = col("ts"))
        .select(col("g").as("event_type"), col("change_day"),
          col("s_scaled"), col("n_days"), col("n_events"))),

    // Holt level+trend smoothing of each event type's daily volume:
    // dyadic α=β=1/2 fold is bit-reproducible; the oracle replays the
    // identical recurrence as a per-group recursive CTE
    "holt_forecast" -> ((s, dir) =>
      Temporal.holtForecast(eventsBase(s, dir), group = col("event_type"),
        ts = col("ts"))
        .select(col("g").as("event_type"), col("n_days"), col("level"),
          col("trend"), col("forecast"))),

    // first-touch channel attribution: conversion revenue credited to
    // each user's acquisition event type, exact-cents money
    "attribution_first" -> ((s, dir) =>
      Temporal.attributionFirstTouch(eventsBase(s, dir),
        user = col("user_id"), ts = col("ts"), idCol = col("event_id"),
        channel = col("event_type"), value = col("value"))),

    // 7-day rolling median of daily volume per event type — burst-robust
    // smoothing; even frames average two longs (dyadic, exact)
    "rolling_median" -> ((s, dir) =>
      Profile.rollingMedian(eventsBase(s, dir), group = col("event_type"),
        ts = col("ts"))
        .select(col("g").as("event_type"), col("day"), col("c"), col("med"))),

    // distinct-n corpus diversity per source (n = 1..3) — the
    // repetitiveness/degeneracy readout before any pairwise dedup
    "ngram_diversity" -> ((s, dir) =>
      Text.ngramDiversity(Tables.documents(s, dir))),

    // cohort LTV curve: cumulative exact-cents revenue per first-seen
    // week cohort, divided by cohort size only at the end
    "cohort_ltv" -> ((s, dir) =>
      Temporal.cohortLtv(eventsBase(s, dir), user = col("user_id"),
        ts = col("ts"), channel = col("event_type"), value = col("value"))),

    // pair-cosine histogram on a vec_id%20 key-space sample — the
    // dedup-threshold calibration sweep (a statistic, not pair recovery)
    "similarity_histogram" -> ((s, dir) =>
      Similarity.similarityHistogram(Tables.embeddings(s, dir))),

    // survivorship golden record per customer: recency-wins fields via
    // max_by version structs, exact-decimal lifetime spend
    "golden_record" -> ((s, dir) =>
      Relational.goldenRecord(Tables.orders(s, dir))),

    // zone-map file pruning over a range-sorted layout == the plain filter
    "zonemap_prune" -> ((s, dir) =>
      Distribute.zonemapPrune(s,
        eventsBase(s, dir).select(col("event_id"), col("user_id"), col("value")),
        sortCol = "value", scratchDir = tmp(dir, "zonemap"),
        lo = 100.0, hi = 250.0)
        .select(col("event_id"), col("user_id"), col("value"))),

    // small-file compaction round-trip (lossless; file counts spec-checked)
    "sink_compacted" -> ((s, dir) =>
      graft.sources.Sinks.compactRoundTrip(
        eventsBase(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("value")),
        tmp(dir, "compact"), smallFiles = 64, targetFiles = 4)),

    // OOV-rate proxy: share of token occurrences inside the top-100 vocab
    "vocab_coverage" -> ((s, dir) =>
      Text.vocabCoverage(Tables.documents(s, dir), topK = 100)),

    // self-perplexity proxy: mean bigram P(w2|w1) under the corpus LM
    "doc_lm_score" -> ((s, dir) =>
      Text.docLmScore(Tables.documents(s, dir))),

    // peak concurrent sessions per day (sweep line over session bounds)
    "concurrency_profile" -> ((s, dir) =>
      Temporal.concurrencyProfile(
        Temporal.sessionize(eventsBase(s, dir), col("user_id"), col("ts"),
          gapSeconds = 1800L))),

    // sqrt-temperature multilingual rebalancing: 200-doc budget split
    // proportional to sqrt(n_lang), filled in deterministic hash order
    "temperature_sample" -> ((s, dir) =>
      Shard.temperatureSample(Tables.documents(s, dir),
        stratum = col("lang"), id = col("doc_id"), budget = 200)
        .select(col("s").as("lang"), col("id").as("doc_id"), col("quota"))),

    // feed-freshness audit: staleness per event_type behind the freshest
    "dq_freshness" -> ((s, dir) =>
      Quality.freshness(Tables.events(s, dir),
        key = col("event_type"), ts = col("ts"))
        .select(col("key").as("event_type"), col("n"), col("max_ts"),
          col("lag_seconds"))),

    // engagement rollup: session count / active seconds / longest session
    "user_active_time" -> ((s, dir) =>
      Temporal.userActiveTime(
        Temporal.sessionize(eventsBase(s, dir), col("user_id"), col("ts"),
          gapSeconds = 1800L))),

    // dedup-aware curation score: share of shingles first seen in this doc
    "ngram_novelty" -> ((s, dir) =>
      TextDedup.ngramNovelty(Tables.documents(s, dir))),

    // corpus-level cross-feed contamination: source-pair shingle Jaccard
    "source_overlap" -> ((s, dir) =>
      TextDedup.sourceOverlap(Tables.documents(s, dir))),

    // union-mergeable per-source MinHash sketches: pairwise Jaccard
    // estimate next to exact posting-list truth
    "source_minhash_sim" -> ((s, dir) =>
      TextDedup.sourceMinhashSim(Tables.documents(s, dir))),

    // count-min sketch estimates vs exact truth for the top-10 keys
    "cms_estimate" -> ((s, dir) =>
      Profile.cmsEstimate(Tables.events(s, dir), col("user_id"), topN = 10)),

    // P1: json_normalize(sep="_") analog (data_pipeline.py:74)
    "flatten_json" -> ((s, dir) =>
      Flatten.flattenJsonColumn(
        Tables.events(s, dir), "props",
        new StructType().add("k", LongType))),

    // D2/W1: latest-wins window dedup (data_pipeline.py:180-187)
    "window_latest" -> ((s, dir) =>
      Dedup.dedupLatest(eventsBase(s, dir), eventKeys,
        col("ts"), Seq(col("event_id")))),

    // D1: keep-first exact dedup on key subset (data_pipeline.py:84-85)
    "dedup_exact" -> ((s, dir) =>
      // tiebreak columns form a total order (synthetic lineitem has
      // duplicate (l_orderkey, l_linenumber) pairs)
      Dedup.dedupExact(Tables.lineitem(s, dir), Seq("l_orderkey"),
        Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
            col("l_extendedprice")))),

    // M1: MERGE upsert (data_pipeline.py:159-175); staging = modified
    // subset of orders, target = disjoint-ish subset.
    "merge_upsert" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val target = o.filter(col("o_orderkey") % 2 === 0)
      val source = o.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
      Merge.mergeUpsert(target, source, Seq("o_orderkey"))
    }),

    // join-strategy control surface: the same equi-join under an
    // explicit SHUFFLE_MERGE hint — the escape hatch when a broadcast
    // would OOM the driver or a hash build would spill (plan audited;
    // result identical to the unhinted join, which is the oracle)
    "join_hint_merge" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      o.hint("merge")
        .join(c.hint("merge"), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
    }),

    // exact GLOBAL median in two passes, no global sort: bucket
    // histogram locates the rank-k bucket (1-row broadcast frame),
    // pass 2 ranks only that bucket's rows
    "exact_median_2pass" -> ((s, dir) =>
      Profile.exactMedian2Pass(Tables.orders(s, dir), col("o_totalprice"))),

    // SQL surface: LATERAL correlated subquery (per-group top-k as a
    // join operand) — Spark decorrelates it into the window/limit
    // shape; WindowGroupLimit prunes before the sort
    "sql_lateral_topk" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      s.sql(
        """SELECT p.o_orderpriority, l.o_orderkey, l.o_totalprice
           FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
           LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                    WHERE o.o_orderpriority = p.o_orderpriority
                    ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) l""")
    }),

    // deterministic ordered string aggregation (LISTAGG): top-5 order
    // keys per priority concatenated in explicit (price desc, key)
    // order — collect_list carries (sort-key, value) structs so the
    // in-group order is total, not arrival order
    "listagg_ordered" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy(col("o_orderpriority"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(
            (-col("o_totalprice")).as("negp"), col("o_orderkey").as("k")))),
          e => e.getField("k").cast("string")), ",").as("top_keys"))
    }),

    // wide→long reshape via Dataset.unpivot (melt) — the inverse of
    // pivot_counts; Catalyst's Expand node, one scan, no join
    "unpivot_melt" -> ((s, dir) => {
      val wide = Tables.orders(s, dir).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
      wide.unpivot(Array(col("o_orderpriority")),
        Array(col("n_orders"), col("sum_cents")), "metric", "value")
    }),

    // the third MERGE clause family: WHEN NOT MATCHED BY SOURCE THEN
    // DELETE — full-feed mirror sync with a tagged change audit
    // (insert/update/delete); NULL keys never match (SQL semantics)
    "merge_full_sync" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val target = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val source = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), lit("S").as("o_orderstatus"),
          (col("o_totalprice") + lit(1.0)).as("o_totalprice"))
      Merge.mergeFullSync(target, source, Seq("o_orderkey"))
    }),

    // M2 = D2 ∘ M1: MERGE with window-deduped source (data_pipeline.py:177-206)
    "merge_upsert_latest" -> ((s, dir) => {
      val e = eventsBase(s, dir)
      val target = Dedup.dedupLatest(e.filter(col("event_id") % 2 === 0),
        eventKeys, col("ts"), Seq(col("event_id")))
      val source = e.filter(col("event_id") % 2 === 1)
      Merge.mergeUpsertLatest(target, source, eventKeys,
        col("ts"), Seq(col("event_id")))
    }),

    // P4: type normalization with coerce→NULL (data_pipeline.py:131-136)
    "normalize_types" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          when(col("event_id") % 10 === 0, lit("not-a-date"))
            .otherwise(date_format(col("ts"), "yyyy-MM-dd")).as("visit_date_raw"),
          col("user_id"), col("ts"))
        .select(col("event_id"),
          Meta.coerceDate(col("visit_date_raw")).as("visit_date"),
          Meta.coerceString(col("user_id")).as("visit_id"),
          col("ts").as("load_ts"))),

    // P3: residual complex cells → JSON strings (data_pipeline.py:20-23)
    "sanitize_complex" -> ((s, dir) =>
      Meta.sanitizeComplex(
        Tables.events(s, dir).select(col("event_id"),
          array(col("user_id"), col("event_id")).as("ids"),
          struct(col("event_type").as("t"), col("user_id").as("u")).as("meta")))),

    // P2: lineage metadata columns (data_pipeline.py:79-81); clock pinned
    // for oracle verifiability (SURVEY §7.3).
    "add_metadata" -> ((s, dir) =>
      Meta.addMetadata(
        Tables.events(s, dir).select("event_id", "event_type"),
        clock = to_timestamp(lit("2026-01-01 00:00:00")),
        sourceFile = lit("events.parquet"))),

    // Q1-Q5: all DQ checks in one scan (data_pipeline.py:91-124)
    "dq_report" -> ((s, dir) =>
      Quality.dqReport(Tables.orders(s, dir),
        Quality.DqContract(
          requiredCols = Seq("o_orderkey", "o_custkey", "o_totalprice"),
          keys = Seq("o_orderkey")))),

    // A1: audit record counts (data_pipeline.py:227)
    "agg_counts" -> ((s, dir) =>
      Relational.aggCounts(Seq(
        "orders"   -> Tables.orders(s, dir),
        "lineitem" -> Tables.lineitem(s, dir),
        "events"   -> Tables.events(s, dir),
        "customer" -> Tables.customer(s, dir)))),

    // E6: pricing rollup (TPC-H Q1 shape)
    "agg_rollup" -> ((s, dir) =>
      Relational.pricingRollup(Tables.lineitem(s, dir))),

    // E6: ranking window, top-k per group
    "window_rank" -> ((s, dir) =>
      Relational.topKPerGroup(Tables.orders(s, dir), 10)),

    // E6: star-schema join + rollup with broadcast dimensions
    "join_revenue" -> ((s, dir) => Relational.revenueByNation(s, dir)),

    // E6: supplier-side rollup — quantity shipped per supplier nation
    // (broadcast supplier+nation dims against the lineitem fact)
    "supplier_rollup" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
        .select(col("l_suppkey"), col("l_quantity"))
      val sup = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"))
      val n = Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))
      l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2)))
          .cast("double").as("total_qty"),
          count(lit(1)).as("n_lines"))
    }),

    // temporal order analytics: days from order date to last shipment
    "order_lateness" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("last_ship"))
      Tables.orders(s, dir)
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"),
          datediff(col("last_ship").cast("date"),
            col("o_orderdate").cast("date")).as("days_to_last_ship"))
    }),

    // daily active users with day-over-day delta
    "daily_active" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("day").asc)
      Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count_distinct(col("user_id")).as("dau"),
          count(lit(1)).as("n_events"))
        .withColumn("dau_delta", col("dau") - lag(col("dau"), 1).over(w))
    }),

    // ---- [EXT] text analysis (SURVEY §2.8 E3) -------------------------

    "text_stats" -> ((s, dir) =>
      Text.textStats(Tables.documents(s, dir))),

    "token_count" -> ((s, dir) =>
      Text.tokenCount(Tables.documents(s, dir))),

    "quality_score" -> ((s, dir) =>
      Text.qualityScore(Tables.documents(s, dir))),

    // quality-proportional deterministic sampling (upsample good docs):
    // keep iff hash(id) mod 1000 < floor(score * 1000) — no shuffle
    "quality_sample" -> ((s, dir) =>
      Shard.qualityWeightedSample(
        Text.qualityScore(Tables.documents(s, dir)),
        col("doc_id"), col("score"))
        .select(col("doc_id"), col("n_words"), col("score"))),

    "lang_id" -> ((s, dir) =>
      Text.langId(Tables.documents(s, dir))),

    // Cavnar-Trenkle char-trigram rank profiles + out-of-place distance
    // (exact integers; see scaladoc degeneracy note re: synthetic langs)
    "langid_ngram" -> ((s, dir) =>
      Text.langIdNgram(Tables.documents(s, dir))),

    "doc_fingerprint" -> ((s, dir) =>
      Text.docFingerprint(Tables.documents(s, dir))),

    // E3+: DSIR-shaped data selection — hashed-feature target-affinity
    // in exact ppm integers (see Text.dsirAffinity for the estimator
    // contract and why the log-ratio is swapped for the delta)
    "dsir_affinity" -> ((s, dir) =>
      Text.dsirAffinity(Tables.documents(s, dir))),

    // E3+: the real BPE training loop (Sennrich 2016) on vocab-sized
    // state; the oracle replays all 5 rounds including the greedy
    // left-to-right merge fold (Text.bpeTrainOracleSql)
    "bpe_train" -> ((s, dir) =>
      Text.bpeTrain(Tables.documents(s, dir))),

    // E3+: the encode half — per-doc tokenizer fertility after the
    // learned merges; encoding is ONE join against the vocab state
    "bpe_encode" -> ((s, dir) =>
      Text.bpeEncode(Tables.documents(s, dir))),

    // E3+: T5 span corruption — deterministic hash-driven span masking
    // with numbered sentinels; zero-shuffle projection
    "span_corrupt" -> ((s, dir) =>
      Text.spanCorrupt(Tables.documents(s, dir))),

    // E3+: FIM prefix/suffix/middle reorder at hash-chosen cuts
    "fim_split" -> ((s, dir) =>
      Text.fimSplit(Tables.documents(s, dir))),

    // E3+: UL2 mixture-of-denoisers — hash-routed R/X/S objectives
    "denoiser_mix" -> ((s, dir) =>
      Text.denoiserMix(Tables.documents(s, dir))),

    // E3+: fixed-budget mixture planning — exact epochs + residual
    // sampling rate per language
    "token_budget_plan" -> ((s, dir) =>
      Text.tokenBudgetPlan(Tables.documents(s, dir))),

    // E3+: pruning-threshold sweep — survivors per score decile from
    // one scan (reverse-cumulative bucket counts)
    "quality_prune_curve" -> ((s, dir) =>
      Text.qualityPruneCurve(Tables.documents(s, dir))),

    // E3+: in-engine quality-probe TRAINING (CCNet/GPT-3-style "learn a
    // cheap filter over the corpus"): 6 batch-GD steps, each ONE corpus
    // scan to a 4-number DECIMAL gradient; rational fast-sigmoid link so
    // the oracle replays every step bit-for-bit (no transcendentals)
    "quality_probe" -> ((s, dir) =>
      Text.qualityProbe(Tables.documents(s, dir))),

    // E3+: Gopher repetition filters (n-gram half) — per-row sorted-run
    // folds, zero key shuffle
    "gopher_repetition" -> ((s, dir) =>
      Text.gopherRepetition(Tables.documents(s, dir))),

    // the line-duplicate half of the Gopher A1 table (the n-gram half
    // above shipped alone in round 8 because the corpus is single-line
    // — these fractions were STRUCTURALLY zero). Deterministic
    // injection, mirrored in the oracle: docs with >= 8 words render as
    // four word-quarters joined by newlines, and every 3rd doc repeats
    // quarter 1 in slot 3, so dup_line_frac provably fires (~1/4 on the
    // injected docs) while the rest stay multi-line negatives
    "gopher_line_dup" -> ((s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val r = quarterRender
      val injected = when(r.m >= 8,
        concat_ws("\n", r.l1, r.l2,
          when(col("doc_id") % 3 === 0, r.l1).otherwise(r.l3), r.l4))
        .otherwise(col("text"))
      Text.gopherLineDup(base.select(col("doc_id"), injected.as("text")))
    }),

    // E3+: C4 page cleaning (Raffel et al. 2020 §2.2) — line-level keep
    // rules (terminal punctuation + >= 3 words) and page-level drop
    // rules ("{", "lorem ipsum", too few surviving lines). The corpus
    // is single-line unpunctuated word salad, so the registered query
    // renders gopher_line_dup's four-quarter structure and injects each
    // rule trigger deterministically, mirrored in the oracle: line i
    // gets a terminal '.' unless (doc_id + i) % 3 == 0; every 7th doc
    // appends " {" to line 2 (code-markup page drop); every 11th doc's
    // line 3 becomes "lorem ipsum." (placeholder page drop, and a
    // 2-word line the word rule also rejects)
    "c4_line_filter" -> ((s, dir) =>
      Text.c4LineFilter(c4Injected(s, dir))),

    // the APPLY half of the C4 pair (the exactsubstr_report/_dedup
    // convention): surviving lines rejoined, failing pages dropped —
    // the cleaned corpus a training pipeline consumes. Same injection,
    // same shared kept-lines rule as the report op
    "c4_apply" -> ((s, dir) =>
      Text.c4Apply(c4Injected(s, dir))),

    // E3+ (ingest hygiene): ftfy-style mojibake repair. The corpus is
    // pure ASCII, so every 5th doc gets the three classic double-
    // encoding artifact families prepended (mirrored in the oracle);
    // the operator repairs them with the fixed literal-replace chain
    "fix_encoding" -> ((s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val injected = when(col("doc_id") % 5 === 0,
        concat(lit(Text.mojibakePrefix), col("text")))
        .otherwise(col("text"))
      Text.fixEncoding(base.select(col("doc_id"), injected.as("text")))
    }),

    // the complete published Gopher A1 document filter: repetition ∧
    // line-dup ∧ quality verdicts joined per doc (the production
    // shape: per-filter verdict tables -> one keep list), with the
    // first failing half as reject_reason. Each half runs its own
    // registered query, injections included, so the composite is
    // hash-pinned to the three halves it claims to compose
    "gopher_filter" -> ((s, dir) =>
      Text.gopherFilter(
        queries("gopher_repetition")(s, dir),
        queries("gopher_line_dup")(s, dir),
        queries("gopher_quality")(s, dir))),

    // [EXT round 13] the web-corpus front door COMPOSED — what a
    // RefinedWeb/C4-style ingest actually runs: mojibake repair ->
    // C4 page cleaning (apply) -> complete Gopher A1 filter on the
    // cleaned text -> exact content-hash dedup, as ONE fused plan over
    // a re-ingest-doubled staged corpus (every page + its mojibake
    // mirror at +100000; the copies hash-merge at the dedup stage IFF
    // the repair stage ran — the curation_pipeline planted-twin
    // convention). Ledger half: one status row per staged doc
    "web_pipeline" -> ((s, dir) =>
      Text.webPipeline(webStaged(s, dir)).drop("text_clean")),

    // corpus half of the same fused plan: the cleaned, deduped rows a
    // training pipeline consumes (the exactsubstr report/apply pairing)
    "web_pipeline_corpus" -> ((s, dir) =>
      Text.webPipeline(webStaged(s, dir))
        .filter(col("status") === "kept")
        .select(col("doc_id"), col("text_clean").as("text"))),

    // the SAME front door as a STREAMING ingest (the
    // streaming_curation_events convention): the stateless repair + C4
    // stages run per micro-batch into a parquet staging sink — the
    // projection is the same webStage12 function value the batch op
    // composes — and the closed-feed readout runs the literal batch
    // verdict tail, so the ledger hash-equals web_pipeline by
    // construction (same oracle)
    "streaming_web_pipeline" -> ((s, dir) =>
      graft.streaming.Streaming.streamingWebPipeline(s, webStaged(s, dir),
        tmp(dir, "stream_web")).drop("text_clean")),

    // [EXT round 14] the web front door + the FUZZY dedup stage a
    // RefinedWeb-class ingest runs after exact dedup: kept canonical
    // pages -> MinHash banding (64x32, wide recall) -> exact-Jaccard
    // verified partners -> re-statused ledger (eighth status class
    // near_dup). Staged corpus adds a paraphrase near-twin tier that
    // exact hashing provably cannot merge and near-dedup provably must
    "web_pipeline_near" -> ((s, dir) =>
      Text.webPipelineNear(webNearStaged(s, dir))),

    // [EXT round 15] the STREAMING face of web_pipeline_near (the
    // streaming_web_pipeline convention): micro-batches run the
    // stateless repair + C4 stage into the staging sink, the
    // closed-feed readout runs the literal batch verdict + near tails
    // — hash-equal to batch web_pipeline_near by construction (same
    // oracle), kill/restart-proven in StreamingRestartSpec
    "streaming_web_pipeline_near" -> ((s, dir) =>
      graft.streaming.Streaming.streamingWebPipelineNear(s,
        webNearStaged(s, dir), tmp(dir, "stream_web_near"))),

    // [EXT round 15] the front door + the SEMANTIC dedup stage a
    // SemDeDup-class ingest runs after near-dedup: near survivors join
    // their model embeddings (side table, partial coverage allowed),
    // random-hyperplane LSH proposes candidates, exact cosine >= 0.9
    // merges (ninth status class sem_dup). The planted tier is the
    // inverse of the near twin: a per-line word-REVERSED paraphrase —
    // shingle-disjoint (near-dedup provably cannot merge it) with the
    // page's own embedding (the sem stage provably must, at cosine
    // exactly 1 — banding recall is structurally 1 for identical
    // vectors). The oracle computes the COMPLETE exact-cosine pair
    // set, so LSH recall is gated, not assumed
    "web_pipeline_sem" -> ((s, dir) =>
      Text.webPipelineSem(webSemStaged(s, dir), semEmbeddings(s, dir),
        dim = semEmbDim(s, dir))),

    // [EXT round 15] the front door + the EXACT-SUBSTRING surgery
    // stage (Lee et al. 2022) over the near survivors: every token
    // inside a >=8-token span duplicated across surviving pages is
    // removed, first occurrence wins (tenth status class
    // substr_pruned; the page stays, rewritten as text_dedup). The
    // staged corpus plants a 9-word license footer on every 19th
    // rendered page — after newline gluing its words 2..9 are a
    // page-independent duplicated 8-gram the stage must excise from
    // all but the first surviving occurrence
    "web_pipeline_substr" -> ((s, dir) =>
      Text.webPipelineSubstr(webSubstrStaged(s, dir))),

    // [EXT round 15] the COMPLETE front door — every stage in the
    // production order (repair -> C4 -> Gopher -> exact dedup -> near
    // dedup -> sem dedup -> exact-substring surgery) as ONE
    // composition whose stage tails are the SAME function values the
    // standalone faces run. The staging carries all four planted
    // tiers at once (mirrors, near twins, sem twins, license footer),
    // so all ten status classes are live and each stage's coupling
    // proof holds inside the composition; the oracle composes the
    // three stages' literal CTE blocks with the surgery population
    // narrowed to sem survivors
    "web_pipeline_full" -> ((s, dir) =>
      Text.webPipelineFull(webFullStaged(s, dir), semEmbeddings(s, dir),
        dim = semEmbDim(s, dir))),

    // E3+: Gopher QUALITY rules (Rae et al. 2021 A1's quality half —
    // completing the trilogy beside gopher_repetition and
    // gopher_line_dup). The 50-word floor is live UNINJECTED (corpus
    // word counts span 10–99); the other rule triggers are injected
    // deterministically, first match wins, mirrored in the generated
    // oracle: %17 docs rewritten to 15-char placeholder words (mean-
    // word-length fail), %13 docs rendered as four bullet-prefixed
    // quarter lines (bullet fail; the '•' words also dilute alpha),
    // %9 docs get a ceil(m/4)-long ' #' run appended (symbol fail,
    // alpha fail unless 4|m), %6 docs rendered with ellipsis endings
    // on lines 1–2 (ellipsis fail)
    "gopher_quality" -> ((s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val r = quarterRender
      val bullet = lit(Text.BulletPrefix)
      val ell = lit(Text.Ellipsis)
      val injected =
        when(col("doc_id") % 17 === 0,
          array_join(transform(r.ws, _ => lit(Text.LongWord)), " "))
        .when(col("doc_id") % 13 === 0 && r.m >= 8,
          concat_ws("\n", concat(bullet, r.l1), concat(bullet, r.l2),
            concat(bullet, r.l3), concat(bullet, r.l4)))
        .when(col("doc_id") % 9 === 0,
          concat(col("text"),
            repeat(lit(" #"), ceil(r.m.cast("double") / 4.0).cast("int"))))
        .when(col("doc_id") % 6 === 0 && r.m >= 8,
          concat_ws("\n", concat(r.l1, ell), concat(r.l2, ell), r.l3, r.l4))
        .otherwise(col("text"))
      Text.gopherQuality(base.select(col("doc_id"), injected.as("text")))
    }),

    // E3+ (ingest hygiene, the fix_encoding sibling): UTS #39
    // confusable-skeleton normalization. The corpus is pure ASCII, so
    // every 6th doc gets word 2 homoglyph-swapped (a MIXED-script word
    // — the spoof signal) and every 9th-not-6th appends a pure-Cyrillic
    // lookalike word (confusables WITHOUT mixing), both derived from
    // the one table and mirrored in the generated oracle
    "confusable_normalize" -> ((s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val ws = split(col("text"), " ")
      val m = size(ws)
      val w2 = Text.confusableInjectPairs.foldLeft(element_at(ws, 2)) {
        case (c, (g, b)) => replace(c, lit(g), lit(b))
      }
      val injected =
        when(col("doc_id") % 6 === 0 && m >= 3,
          concat(element_at(ws, 1), lit(" "), w2, lit(" "),
            array_join(slice(ws, lit(3), m - lit(2)), " ")))
          .when(col("doc_id") % 9 === 0 && col("doc_id") % 6 =!= 0,
            concat(col("text"), lit(" " + Text.confusablePureWord)))
          .otherwise(col("text"))
      Text.confusableNormalize(base.select(col("doc_id"),
        injected.as("text")))
    }),

    // E3+: CCNet head/middle/tail perplexity terciles per language
    "ccnet_buckets" -> ((s, dir) =>
      Text.ccnetBuckets(Tables.documents(s, dir))),

    // E3+: training-mixture report — per-language corpus composition.
    // Only order-independent aggregates (counts, exact sums, min/max):
    // a mean of doubles would vary with partial-agg order.
    "corpus_report" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"),
          min(col("n_tokens")).as("min_tokens"),
          max(col("n_tokens")).as("max_tokens"))),

    // E3+: quality gate — keep/drop with the first failed rule (length
    // bounds then stopword-free heuristic), the filter stage ahead of
    // training-data export
    "quality_filter" -> ((s, dir) => {
      val nWords = size(split(col("text"), " "))
      Tables.documents(s, dir).select(
        col("doc_id"),
        nWords.cast("long").as("n_words"),
        when(nWords < 20, "too_short")
          .when(nWords > 400, "too_long")
          .when(!col("text").contains(" the ") && !col("text").contains(" la ") &&
                !col("text").contains(" der "), "no_stopwords")
          .otherwise("keep").as("verdict"))
    }),

    // E2+: embedding hygiene — corpus norm stats and degenerate vectors
    "embedding_norm_stats" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          graft.functions.VectorOps.l2norm(
            col("embedding").cast("array<double>")).as("norm"))
      e.agg(count(lit(1)).as("n_vectors"),
        min(col("norm")).as("min_norm"),
        max(col("norm")).as("max_norm"),
        count(when(col("norm") === 0.0, 1)).as("n_zero"))
    }),

    // E3+: deterministic sequence packing — contiguous docs (doc_id
    // order) packed into token-budget bins via an exclusive prefix sum;
    // at scale the same window runs per shard, not globally
    "pack_bins" -> ((s, dir) => {
      val budget = 2048L
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("doc_id").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("prefix", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select(col("doc_id"), col("n_tokens"),
          floor(col("prefix") / budget).cast("long").as("bin_id"))
    }),

    // ---- [EXT] dedup (SURVEY §2.8 E1/E4) ------------------------------

    // E4: exact content-hash dedup; input doubled to simulate re-ingest
    "dedup_content_hash" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      TextDedup.contentHashDedup(
        d.unionByName(d.withColumn("doc_id", col("doc_id") + 10000)))
    }),

    // E1: exact shingle-Jaccard near-dup (df-capped candidates + verify)
    "near_dedup" -> ((s, dir) =>
      TextDedup.nearDupJaccard(Tables.documents(s, dir))),

    // E1-complete: AllPairs prefix-filter similarity join — COMPLETE
    // candidate generation (no df cap, no banding): under the
    // df-ascending prefix lemma NO true pair >= 3/5 can be missed,
    // the guarantee the LSH/df-cap paths trade for speed
    "allpairs_jaccard" -> ((s, dir) =>
      TextDedup.allPairsJaccard(Tables.documents(s, dir))),

    // E1: MinHash+LSH candidates + exact verify (the sub-quadratic path);
    // oracle = ground-truth pairs, i.e. asserts perfect recall on testdata
    "minhash_lsh" -> ((s, dir) =>
      TextDedup.minhashLshPairs(Tables.documents(s, dir))),

    // E1: near-dup clusters — pairs → connected components → canonical
    // doc per cluster (the actual dedup decision)
    "dedup_clusters" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.dedupClusters(d, TextDedup.nearDupJaccard(d))
    }),

    // E1: the applied dedup decision — only canonical docs survive
    "dedup_canonical" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.dedupClusters(d, TextDedup.nearDupJaccard(d))
        .filter(col("doc_id") === col("cluster_id"))
        .select(col("doc_id"), col("cluster_size"))
    }),

    // E1-scale: same clusters via ALTERNATING LARGE/SMALL-STAR
    // contraction (diameter-independent O(log n) rounds vs label
    // propagation's O(diameter)) — the published scale path for
    // duplicate-chain graphs; identical oracle as dedup_clusters
    // because the fixed point is the same min-per-component labeling
    "cc_star" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val pairs = TextDedup.nearDupJaccard(d)
      val labels = Graph.connectedComponentsStar(s,
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .withColumnRenamed("node", "doc_id")
      val all = d.select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
      all.withColumn("cluster_size", count(lit(1)).over(w))
    }),

    // E1: SimHash fingerprints (bit-vote fold mirrored in the oracle)
    "simhash" -> ((s, dir) =>
      TextDedup.simHash(Tables.documents(s, dir))),

    // E1: Hamming-near SimHash pairs via pigeonhole banding (guaranteed
    // recall for hamming < bands — deterministic, unlike MinHash LSH)
    "simhash_pairs" -> ((s, dir) =>
      TextDedup.simHashPairs(Tables.documents(s, dir))),

    // E1: char n-gram Jaccard near-dup (tokenizer-free shingle domain)
    "near_dedup_chars" -> ((s, dir) =>
      TextDedup.nearDupJaccardChars(Tables.documents(s, dir))),

    // E3+: fixed-size token chunking with overlap — the training-prep
    // transform that turns documents into model-sized examples. Pure
    // expressions: slice windows per row, one explode, no shuffle.
    "doc_chunking" -> ((s, dir) => {
      val chunkTokens = 64
      val stride = 48 // 16-token overlap
      val w = split(col("text"), " ")
      val nChunks = greatest(
        ceil((size(w) - lit(chunkTokens)) / lit(stride.toDouble)).cast("int") + 1,
        lit(1))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), nChunks - 1),
            i => array_join(slice(w, i * stride + 1, lit(chunkTokens)), " "))))
        .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
          col("col").as("chunk_text"),
          size(split(col("col"), " ")).cast("long").as("n_tokens"))
    }),

    // E3+: cleaning/masking pass — digit runs masked, whitespace
    // collapsed, lowercased (the normalize step ahead of dedup/quality)
    "text_clean" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col("text")),
          "[0-9]+", "<num>"), " +", " ")).as("clean_text"))),

    // E3+: corpus vocabulary, top-20 terms by frequency (tie: term asc)
    "vocab_topk" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("term").asc)
        .limit(20)),

    // E3+: dominant-shingle repetition ratio (boilerplate/spam signal)
    "repetition_score" -> ((s, dir) =>
      TextDedup.repetitionScore(Tables.documents(s, dir))),

    // E1+: benchmark decontamination — flag docs overlapping the
    // benchmark set's shingles (docs 0-4 act as the benchmark)
    "decontaminate" -> ((s, dir) =>
      TextDedup.decontaminate(Tables.documents(s, dir), col("doc_id") < 5)),

    // ---- [EXT] similarity search (SURVEY §2.8 E2) ---------------------

    // exact brute-force cosine top-k, broadcast probe set
    "similarity_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 32), 5)
    }),

    // IVF-pruned approximate top-k (the scale path)
    "embedding_ann" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 32), 5)
    }),

    // IVF with k-means-refined centroids (2 Lloyd iterations as
    // DataFrame ops; decimal-exact centroid sums for oracle parity)
    "embedding_ann_kmeans" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 32), 5, kmeansIters = 2)
    }),

    // ---- sources / sinks (SURVEY §2.1) --------------------------------

    // S1: paginated REST source against a file-backed mock endpoint
    "source_paginated" -> ((s, dir) => {
      val pages = tmp(dir, "pages")
      graft.sources.Paginated.writeMockPages(s, dir, pages)
      graft.sources.Paginated.fetchAll(s, pages)
    }),

    // S1 at scale: same page store through the DataSource V2 connector —
    // one InputPartition per page, parsing off the driver
    "source_paginated_v2" -> ((s, dir) => {
      val pages = tmp(dir, "pages")
      graft.sources.Paginated.writeMockPages(s, dir, pages)
      s.read.format("graft.sources.v2.PagedJsonSource")
        .option("path", pages).load()
    }),

    // S2: raw-zone JSON sink, hive-partitioned by ingest date (round-trip)
    "sink_raw_partitioned" -> ((s, dir) =>
      graft.sources.Sinks.rawPartitionedSink(Tables.events(s, dir),
        tmp(dir, "raw"))),

    // S3: staging overwrite sink, one truncate-reload write (round-trip)
    "sink_staging_overwrite" -> ((s, dir) =>
      graft.sources.Sinks.stagingOverwrite(Tables.orders(s, dir),
        tmp(dir, "staging"))),

    // ORC format round-trip (column types carry exactly)
    "sink_orc_roundtrip" -> ((s, dir) =>
      graft.sources.Sinks.orcRoundTrip(Tables.orders(s, dir), tmp(dir, "orc"))),

    // CSV format round-trip with explicit schema + µs timestamp format
    "sink_csv_roundtrip" -> ((s, dir) =>
      graft.sources.Sinks.csvRoundTrip(Tables.orders(s, dir), tmp(dir, "csv"))),

    // S4: append-only audit sink with ARRAY<STRING> column (round-trip).
    // The sink stores a real ARRAY<STRING> (data_pipeline.py:225-231); the
    // verified projection joins it to one scalar string because the
    // driver's row-sort chokes on array cells (unhashable ndarray).
    "sink_audit_append" -> ((s, dir) =>
      graft.sources.Sinks.auditAppend(s, tmp(dir, "audit"), Seq(
        ("daily_visits", 367L, "SUCCESS", "2026-01-01 00:00:00",
          Seq("p1.json", "p2.json")),
        ("ga_sessions", 2509L, "SUCCESS", "2026-01-01 00:00:00",
          Seq("p1.json")),
        ("ga_sessions", 0L, "FAILED: empty_input", "2026-01-01 00:00:00",
          Seq.empty[String])), fresh = true)
        .withColumn("source_files", array_join(col("source_files"), ","))),

    // row-level DQ quarantine: single scan annotates every row with the
    // first violated rule (badness injected deterministically); in
    // production the reason != 'ok' slice routes to a quarantine sink
    "dq_quarantine" -> ((s, dir) => {
      val base = Tables.events(s, dir).select(
        col("event_id"),
        when(col("event_id") % 10 === 0, lit(null))
          .otherwise(col("user_id")).as("user_id"),
        when(col("event_id") % 13 === 0, lit("mystery"))
          .otherwise(col("event_type")).as("event_type"),
        col("value"))
      val types = Seq("click", "error", "purchase", "signup", "view")
      base
        .withColumn("reason",
          when(col("user_id").isNull, "null_key")
            .when(!col("event_type").isin(types: _*), "bad_type")
            .otherwise("ok"))
        .withColumn("quarantined", col("reason") =!= "ok")
    }),

    // schema evolution: a second batch adds a column; mergeSchema read
    // unifies with NULLs for the old batch (the reference relies on
    // BigQuery autodetect for the same situation)
    "sink_schema_evolution" -> ((s, dir) => {
      val p = tmp(dir, "evolve")
      val o = Tables.orders(s, dir)
      o.select(col("o_orderkey"), col("o_custkey"))
        .write.mode("overwrite").parquet(s"$p/batch=1")
      o.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$p/batch=2")
      s.read.option("mergeSchema", "true").parquet(p)
    }),

    // the reference's incremental-load extraction: rows strictly newer
    // than the loaded snapshot's max ts (scalar-subquery cutoff as a
    // broadcast 1-row join — no driver round-trip)
    "incremental_extract" -> ((s, dir) => {
      val e = eventsBase(s, dir)
      // loaded snapshot = the first 20 days; extract = strictly newer
      val cutoff = e.filter(dayofmonth(col("ts")) <= 20).agg(max(col("ts")).as("m"))
      e.join(broadcast(cutoff)).filter(col("ts") > col("m")).drop("m")
    }),

    // SCD2 validity intervals: every (user, event_type) version with
    // [valid_from, valid_to) from the next version's timestamp — the
    // history-table companion to the latest-wins MERGE
    "scd2_history" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").asc, col("event_id").asc)
      eventsBase(s, dir).select(
        col("user_id"), col("event_type"), col("event_id"), col("value"),
        col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w).as("valid_to"),
        lead(col("ts"), 1).over(w).isNull.as("is_current"))
    }),

    // SQL surface: CTE + correlated EXISTS + HAVING through spark.sql
    "sql_cte_query" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      Tables.customer(s, dir).createOrReplaceTempView("customer")
      s.sql(
        """WITH big AS (
             SELECT o_custkey, count(*) AS n_big
             FROM orders WHERE o_totalprice > 150000
             GROUP BY o_custkey
             HAVING count(*) >= 2)
           SELECT c_custkey, c_mktsegment, n_big
           FROM customer JOIN big ON c_custkey = o_custkey
           WHERE EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""")
    }),

    // SQL surface: CORRELATED SCALAR-AGGREGATE subquery (TPC-H Q17
    // shape — rows below 20% of their part's average quantity).
    // Catalyst decorrelates the per-row correlated avg into one
    // aggregate-then-join — per-part avg computed ONCE, not per probe
    // row — which is the plan that survives 100 TB; the quantity sums
    // are exact BIGINT (quantities are integral), and the 0.2*avg
    // comparison is the same IEEE arithmetic in both engines over
    // exactly-representable integer sums
    "sql_correlated_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_partkey, count(*) AS n_small,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
           FROM lineitem l1
           WHERE l_quantity < 0.2 * (SELECT avg(l2.l_quantity)
                                     FROM lineitem l2
                                     WHERE l2.l_partkey = l1.l_partkey)
           GROUP BY l_partkey""")
    }),

    // SQL surface: multi-SEMI/ANTI self-join composition (TPC-H Q21
    // shape — suppliers whose lineitem shipped late on a finished
    // multi-supplier order where NO co-supplier was late). One CTE
    // computes per-line lateness once; the EXISTS/NOT EXISTS pair then
    // plans as a semi + anti join against it on the order key — no
    // cartesian, both correlated on the equi-key
    "sql_multi_semi_anti" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier")
      s.sql(
        """WITH lw AS (
             SELECT l.l_orderkey, l.l_suppkey,
                    CAST(l.l_shipdate AS DATE) >
                      date_add(CAST(o.o_orderdate AS DATE), 60) AS late
             FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
             WHERE o.o_orderstatus = 'F')
           SELECT s.s_suppkey, s.s_name, count(*) AS numwait
           FROM supplier s JOIN lw l1 ON l1.l_suppkey = s.s_suppkey AND l1.late
           WHERE EXISTS (SELECT 1 FROM lw l2
                         WHERE l2.l_orderkey = l1.l_orderkey
                           AND l2.l_suppkey <> l1.l_suppkey)
             AND NOT EXISTS (SELECT 1 FROM lw l3
                             WHERE l3.l_orderkey = l1.l_orderkey
                               AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
           GROUP BY s_suppkey, s_name""")
    }),

    // corrupt-tolerant ingestion: a JSON feed with malformed lines reads
    // in PERMISSIVE mode — bad records land in _corrupt_record instead of
    // failing the load (the schema-contract edge the reference's
    // autodetect load would hard-fail on)
    "source_corrupt_json" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val p = tmp(dir, "corrupt_json")
      val e = Tables.events(s, dir).filter(col("event_id") < 1000)
      e.select(
        when(col("event_id") % 7 === 0,
          concat(lit("{\"event_id\":"), col("event_id"), lit(",\"user_id\":BROKEN")))
          .otherwise(to_json(struct(col("event_id"), col("user_id"), col("event_type"))))
          .as("value"))
        .coalesce(1).write.mode("overwrite").text(p)
      val schema = new StructType()
        .add("event_id", LongType).add("user_id", LongType)
        .add("event_type", StringType).add("_corrupt_record", StringType)
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(p)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("_corrupt_record").isNotNull.as("is_corrupt"))
    }),

    // PERMISSIVE CSV twin of source_corrupt_json: a type-mangled field
    // nulls that FIELD, keeps the parsed rest, captures the raw line
    "source_corrupt_csv" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val p = tmp(dir, "corrupt_csv")
      val e = Tables.events(s, dir).filter(col("event_id") < 1000)
      e.select(concat(
          when(col("event_id") % 7 === 0,
            concat(lit("X"), col("event_id")))
            .otherwise(col("event_id").cast("string")),
          lit(","), col("user_id"), lit(","), col("event_type"))
          .as("value"))
        .coalesce(1).write.mode("overwrite").text(p)
      val schema = new StructType()
        .add("event_id", LongType).add("user_id", LongType)
        .add("event_type", StringType).add("_corrupt_record", StringType)
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(p)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("_corrupt_record").isNotNull.as("is_corrupt"))
    }),

    // ---- runner / multimodal / streaming ------------------------------

    // §3.1 control flow end-to-end: DQ gate → dedup → merge → audit sink.
    // Result = the merged snapshot (same semantics as merge_upsert_latest).
    "pipeline_run" -> ((s, dir) => {
      val e = eventsBase(s, dir)
      val target = Dedup.dedupLatest(e.filter(col("event_id") % 2 === 0),
        eventKeys, col("ts"), Seq(col("event_id")))
      graft.runner.Pipeline.run(s,
        source = e.filter(col("event_id") % 2 === 1),
        target = target,
        contract = Quality.DqContract(
          requiredCols = Seq("event_id", "user_id", "event_type"),
          keys = eventKeys),
        ts = col("ts"), tiebreak = Seq(col("event_id")),
        tableName = "events", auditPath = freshTmp(dir, "pipeline_audit")).merged
    }),

    // the reference's FAILED short-circuit (data_pipeline.py:259-262):
    // a fatal (non-duplicate) DQ failure — injected NULL keys — skips
    // the load and writes the FAILED audit row; returning the audit
    // puts the failure path under the driver gate, not just the specs
    "pipeline_run_failed" -> ((s, dir) => {
      val e = eventsBase(s, dir)
      val src = e.withColumn("user_id",
        when(col("event_id") % 97 === 0,
          lit(null).cast(e.schema("user_id").dataType))
          .otherwise(col("user_id")))
      graft.runner.Pipeline.run(s,
        source = src,
        target = e.limit(0),
        contract = Quality.DqContract(
          requiredCols = Seq("event_id", "user_id", "event_type"),
          keys = eventKeys),
        ts = col("ts"), tiebreak = Seq(col("event_id")),
        tableName = "events",
        auditPath = freshTmp(dir, "pipeline_audit_failed"))
        .audit
        .withColumn("source_files", array_join(col("source_files"), ","))
    }),

    // E5: multimodal binary column + partition-wise REAL decode (magic-
    // byte dispatch into the BMP/WAV header parsers; only the unknown-
    // container slice routes through the disclosed stub branch)
    "multimodal_decode" -> ((s, dir) =>
      Multimodal.decodeFeatures(Tables.documents(s, dir))),

    // E5: aspect-preserving resize geometry over decoded IMAGE features.
    // The BMP slice is selected by doc_id BEFORE the decode: a filter on
    // format can't push below mapPartitions, so without the pre-filter
    // the resize plan paid full-corpus decode — including the round-9
    // JPEG slice's real DCT round trips (3.15× warm regression flagged
    // by the bench comparator, fixed here). Production partitions media
    // by type at ingest for exactly this reason.
    "multimodal_resize" -> ((s, dir) =>
      Multimodal.resizePlan(Multimodal.decodeFeatures(
        Tables.documents(s, dir).filter(col("doc_id") % 4 < 2))
        .filter(col("format") === "image/bmp"))),

    // E5: every-Nth-frame sampling of binary payloads (1:many flatMap)
    "multimodal_frames" -> ((s, dir) =>
      Multimodal.frameSample(Tables.documents(s, dir))),

    // E5: REAL thumbnail pass — decode, nearest-neighbor resample to
    // 16×8, re-encode a valid BMP; checksum taken from the re-encoded
    // bytes so decode+resample+encode are verified in one analytic shot
    "multimodal_thumbnail" -> ((s, dir) =>
      Multimodal.thumbnail(Tables.documents(s, dir))),

    // §2.9: tumbling-window streaming counts (file-backed readStream)
    "streaming_window" -> ((s, dir) =>
      graft.streaming.Streaming.windowedCounts(s, Tables.events(s, dir),
        tmp(dir, "stream_events5"))),

    // §2.9: stream-static enrichment against a broadcast dimension
    "streaming_enrich" -> ((s, dir) =>
      graft.streaming.Streaming.streamingEnrich(s, Tables.events(s, dir),
        Tables.customer(s, dir).select(col("c_custkey").as("user_id"),
          col("c_name"), col("c_mktsegment")),
        tmp(dir, "stream_events5"))),

    // §2.9: stateless streaming DQ monitor — batch-trained baseline
    // stats broadcast against the live feed, exact-decimal flag
    "streaming_anomaly" -> ((s, dir) =>
      graft.streaming.Streaming.streamingAnomaly(s, Tables.orders(s, dir),
        tmp(dir, "stream_anomaly_src"))
        .select(col("o_orderkey"), col("g").as("o_orderpriority"),
          col("value").as("o_totalprice"))),

    // §2.9: append-mode watermarked windows (only finalized windows emit)
    "streaming_window_append" -> ((s, dir) =>
      graft.streaming.Streaming.windowedCountsAppend(s, Tables.events(s, dir),
        tmp(dir, "stream_append_src"))),

    // §2.9: streaming exact dedup of a re-ingested feed (keyed state)
    "streaming_dedup" -> ((s, dir) =>
      graft.streaming.Streaming.streamingDedup(s, eventsBase(s, dir),
        tmp(dir, "stream_dedup_src"))),

    // §2.9: BOUNDED-STATE exact dedup — dropDuplicatesWithinWatermark
    // under an explicit lateness contract (state evicts past the
    // watermark; delay wider than the closed feed ⇒ equals DISTINCT)
    "streaming_dedup_watermark" -> ((s, dir) =>
      graft.streaming.Streaming.streamingDedupWatermark(s, eventsBase(s, dir),
        tmp(dir, "stream_dedup_wm_src"))),

    // the materialized view maintained LIVE (foreachBatch accumulate;
    // decomposable aggs make the result trigger-slicing-independent)
    "streaming_agg_maintain" -> ((s, dir) =>
      graft.streaming.Streaming.streamingAggMaintain(s, eventsBase(s, dir),
        eventKeys, tmp(dir, "stream_events5"))
        .select(col("user_id"), col("event_type"), col("n"),
          col("s").cast("double").as("sum_value"), col("mn"), col("mx"))),

    // CDC replication LIVE: tombstone-retaining latest-wins state per
    // micro-batch — slicing-independent, equals the batch cdc_apply
    // collapse of the full log (its oracle verifies the stream)
    "streaming_cdc_apply" -> ((s, dir) => {
      val log = eventsBase(s, dir).withColumn("op",
        when(col("event_id") % 10 === 0, "D")
          .when(col("event_id") % 10 < 4, "I").otherwise("U"))
      graft.streaming.Streaming.streamingCdcApply(s, log, eventKeys,
        tmp(dir, "stream_cdc_src"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"), col("value"))
    }),

    // daily-distinct HLL registers maintained live in foreachBatch:
    // trigger-slicing-independent by max-merge associativity, final
    // estimates equal the batch recompute bit-for-bit
    "streaming_hll" -> ((s, dir) =>
      graft.streaming.Streaming.streamingHllMaintain(s, eventsBase(s, dir),
        tmp(dir, "stream_events5"))),

    // the LLM ingest tick LIVE: streamed docs probe the maintained
    // corpus MinHash index (stream-static joins, stateless verify)
    "streaming_near_dup" -> ((s, dir) =>
      graft.streaming.Streaming.streamingNearDup(s,
        Tables.documents(s, dir), tmp(dir, "stream_neardup_src"))),

    // DSIR tables maintained live (256-row state, the smallest
    // possible); final scores == the batch dsir_affinity (same oracle)
    "streaming_dsir" -> ((s, dir) =>
      graft.streaming.Streaming.streamingDsir(s,
        Tables.documents(s, dir), tmp(dir, "stream_dsir_src"))),

    // train-offline / score-online: frozen probe weights + cutoff score
    // the doc stream as a pure STATELESS projection (no state store);
    // closed-feed readout == batch quality_probe (same oracle)
    "streaming_quality_score" -> ((s, dir) =>
      graft.streaming.Streaming.streamingQualityScore(s,
        Tables.documents(s, dir), tmp(dir, "stream_qscore_src"))),

    // live KS drift monitor: per-cents pair counts sum-merged per
    // micro-batch (state bounded by the metric domain, not the feed);
    // closed-feed readout IS the batch ks_drift statistic stage
    "streaming_ks_drift" -> ((s, dir) =>
      graft.streaming.Streaming.streamingKsDrift(s,
        eventsBase(s, dir), tmp(dir, "stream_ks_src"))),

    // live split-conformal monitor: the (group, cents) side-count state
    // is bounded by the metric's discrete domain; closed-feed readout
    // runs the literal batch statistic stage — same oracle as batch
    "streaming_conformal" -> ((s, dir) =>
      graft.streaming.Streaming.streamingConformal(s,
        eventsBase(s, dir), tmp(dir, "stream_ks_src"))
        .select(col("g").as("event_type"), col("n_cal"), col("n_test"),
          col("med_cents"), col("qhat_cents"), col("n_covered"),
          col("coverage"), col("nominal"))),

    // analytic window-function surface: lag/lead/dense_rank/ntile/
    // percent_rank/cume_dist under one total order
    "window_funcs" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"))
    }),

    // ---- temporal / vector extensions ---------------------------------

    // event-level session attribution: each event tagged with its session
    // id and seconds since the session started (same gap rule as
    // sessionize, kept at event granularity instead of rolled up)
    "session_relative" -> ((s, dir) => {
      val byTs = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc)
      val cum = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val gap = col("ts").cast("long") - lag(col("ts"), 1).over(byTs).cast("long")
      val perSession = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("session_id"))
      eventsBase(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("new_session",
          when(gap.isNull || (gap > 1800L), 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(cum))
        .withColumn("sec_into_session",
          col("ts").cast("long") - min(col("ts").cast("long")).over(perSession))
        .select(col("event_id"), col("user_id"), col("session_id"),
          col("sec_into_session"))
    }),

    // gaps-and-islands sessionization (30-min gap)
    "sessionize" -> ((s, dir) =>
      Temporal.sessionize(eventsBase(s, dir),
        col("user_id"), col("ts"), gapSeconds = 1800L)),

    // Spark's built-in session_window operator (microsecond-precision gap
    // merge, window end = last ts + gap) — the native alternative to the
    // hand-rolled gaps-and-islands above
    "sessionize_native" -> ((s, dir) =>
      eventsBase(s, dir)
        .groupBy(col("user_id").as("key"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("key"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"))),

    // backward as-of join: each purchase ← user's most recent prior view
    "asof_join" -> ((s, dir) =>
      Temporal.asofPrior(eventsBase(s, dir),
        key = col("user_id"), ts = col("ts"), idCol = col("event_id"),
        leftPred = col("event_type") === "view",
        rightPred = col("event_type") === "purchase")),

    // the same as-of semantics through the custom Catalyst operator
    // (LogicalPlan + Strategy + merge-join SparkPlan, SURVEY §4.3(c));
    // must produce bit-identical output to the window-based asof_join
    "asof_join_native" -> ((s, dir) => {
      val e = eventsBase(s, dir)
      def side(t: String) = e.filter(col("event_type") === t)
        .select(col("user_id").as("key"), col("ts"), col("event_id").as("id"))
      graft.plans.AsOf.asofJoin(side("view"), side("purchase"), "key", "ts", "id")
        .select(col("key"), col("id"), col("ts"),
          col("l_id").as("asof_id"), col("l_ts").as("asof_ts"))
    }),

    // forward as-of through the same custom operator (negated-time trick):
    // each purchase gains the NEXT view at/after it
    "asof_join_forward" -> ((s, dir) => {
      val e = eventsBase(s, dir)
      def side(t: String) = e.filter(col("event_type") === t)
        .select(col("user_id").as("key"), col("ts"), col("event_id").as("id"))
      graft.plans.AsOf.asofJoinForward(side("view"), side("purchase"), "key", "ts", "id")
        .select(col("key"), col("id"), col("ts"),
          col("l_id").as("next_id"), col("l_ts").as("next_ts"))
    }),

    // embedding-cosine near-duplicate pairs
    // banding derived from the threshold + corpus size (SCALE.md rule),
    // not inherited test tuning — (4, 32) at the gate corpus
    "embedding_near_dup" -> ((s, dir) => {
      // the synthetic vectors are near-orthogonal gaussians — genuine
      // cosine≥0.5 pairs all but vanish at small SF (0 pairs at sf0.001,
      // 1 at sf0.01), which turned this query into the 0=0 oracle blind
      // spot. Inject a ×2-scaled copy of every 50th vector (doubling is
      // EXACT in IEEE — both engines compute the identical cos), so the
      // op provably finds planted near-dups at every SF
      val base = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      // the planted ids live at +1000000; if a scale-up ever pushes real
      // ids past the offset the plants would silently ALIAS real vectors
      // (both engines transform identically, so the hash gate could not
      // see it) — fail loudly instead. One-column agg, bounded collect.
      // coalesce: max() is NULL on an empty table — the guard must say
      // so, not NPE (advice round 10)
      val maxVecId =
        base.agg(coalesce(max(col("vec_id")), lit(-1L))).head.getLong(0)
      require(maxVecId < 1000000L,
        s"planted vec_id offset 1000000 would alias real ids (max=$maxVecId)")
      val planted = base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val e = base.unionByName(planted)
      val (bits, bands) = Similarity.bandingFor(0.5, e.count())
      Similarity.cosineNearDup(e, threshold = 0.5,
        bitsPerBand = bits, bands = bands)
    }),

    // ---- distribution strategies (100 TB shuffle answers) -------------

    // skew-safe salted equi-join (result == plain join)
    "salted_join" -> ((s, dir) => {
      val big = eventsBase(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val small = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_name"), col("c_mktsegment"))
      Distribute.saltedJoin(big, small, Seq("user_id"),
        bigSalt = col("event_id"), salts = 8)
    }),

    // NULL-key bypass left join on a sparse FK (60% nulls by a
    // deterministic rule): null rows never enter the shuffle; result ==
    // the plain left join the oracle runs
    "null_skew_join" -> ((s, dir) => {
      val probe = eventsBase(s, dir)
        .select(col("event_id"), col("event_type"),
          when(pmod(col("event_id"), lit(5)) < 3, col("user_id"))
            .otherwise(lit(null).cast("long")).as("fk"))
      val build = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      Distribute.nullSkewLeftJoin(probe, build, "fk", "c_custkey")
    }),

    // co-located bucketed join (no exchange in the join plan)
    "bucketed_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val l = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
      Distribute.bucketedJoin(s, o, l, "o_orderkey", "l_orderkey", 8,
        "graft_bkt_" + dir.replaceAll("[^a-zA-Z0-9]", "_"))
    }),

    // incremental upsert as a stream: foreachBatch latest-wins merge;
    // final snapshot == batch window_latest over all events
    "streaming_upsert" -> ((s, dir) =>
      graft.streaming.Streaming.streamingUpsert(s, eventsBase(s, dir), eventKeys,
        tmp(dir, "stream_events5"))),

    // CUBE grouping-sets rollup with subtotal disambiguation
    "cube_rollup" -> ((s, dir) =>
      Relational.cubeRollup(Tables.lineitem(s, dir))),

    // ROLLUP hierarchy (flag → flag+status → grand total)
    "rollup_sets" -> ((s, dir) =>
      Relational.rollupSets(Tables.lineitem(s, dir))),

    // explicit GROUPING SETS (two independent groupings, one pass)
    "grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             count(*) AS n
           FROM lineitem
           GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""")
    }),

    // UNPIVOT (wide → long): order money columns as (metric, amount) rows
    "unpivot_metrics" -> ((s, dir) =>
      Tables.orders(s, dir)
        .withColumn("price_with_tax", col("o_totalprice") * 1.1)
        .unpivot(
          Array(col("o_orderkey")),
          Array(col("o_totalprice"), col("price_with_tax")),
          "metric", "amount")),

    // FULL OUTER join; customers thinned so both null sides are non-empty
    "join_full_outer" -> ((s, dir) =>
      Relational.fullOuterOrders(
        Tables.customer(s, dir).filter(col("c_custkey") % 3 =!= 0),
        Tables.orders(s, dir))),

    // array-function surface over tokenized documents; outputs are
    // projected to scalars (the driver's row-sort rejects array cells)
    "array_funcs" -> ((s, dir) => {
      val words = split(col("text"), " ")
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(words).cast("long").as("n_words"),
        array_join(slice(sort_array(words), 1, 3), ",").as("first3_sorted"),
        array_contains(words, "the").as("has_the"),
        element_at(words, 1).as("head_word"),
        element_at(words, -1).as("last_word"))
    }),

    // per-document top-3 salient terms by tf/df (linear idf — same
    // ranking as tf·N/df, and the single double division is the same
    // IEEE op in both engines); ties break on the term
    "tfidf_topterms" -> ((s, dir) => {
      val terms = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = terms.groupBy(col("term"))
        .agg(count_distinct(col("doc_id")).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)
      tf.join(df, "term")
        .withColumn("score", col("tf").cast("double") / col("df"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("score"), col("rank"))
    }),

    // bag-semantics set operations (EXCEPT ALL / INTERSECT ALL)
    "set_ops_all" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      def users(t: String) =
        e.filter(col("event_type") === t).select(col("user_id"))
      users("click").intersectAll(users("purchase"))
        .withColumn("op", lit("click_and_buy_all"))
        .unionByName(
          users("click").exceptAll(users("error"))
            .withColumn("op", lit("click_no_error_all")))
    }),

    // exact distinct-count per group (expand + two-phase plan)
    "distinct_users" -> ((s, dir) =>
      Relational.distinctUsers(Tables.events(s, dir))),

    // pivot: user x event_type contingency counts
    "pivot_counts" -> ((s, dir) =>
      Relational.pivotEventCounts(Tables.events(s, dir),
          Seq("click", "error", "purchase", "signup", "view"))
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))),

    // band/range join via time-bucketing (same-user event pairs <= 60s apart)
    "range_join" -> ((s, dir) =>
      Temporal.rangeJoinPairs(eventsBase(s, dir),
        key = col("user_id"), ts = col("ts"), idCol = col("event_id"),
        windowSeconds = 60L)),

    // typed grouped-map (flatMapGroups): per-user min-max normalization
    "grouped_map" -> ((s, dir) =>
      Temporal.groupedMinMaxNormalize(Tables.events(s, dir))),

    // dense calendar report: generated date dimension LEFT JOIN events —
    // days with zero events still appear (the reporting-table shape)
    "calendar_counts" -> ((s, dir) => {
      val cal = s.range(1).select(explode(sequence(
        lit(java.sql.Date.valueOf("2024-01-01")),
        lit(java.sql.Date.valueOf("2024-02-10")),
        expr("interval 1 day"))).as("day"))
      val daily = Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      cal.join(daily, Seq("day"), "left_outer")
        .select(col("day"), coalesce(col("n"), lit(0L)).as("n"),
          dayofweek(col("day")).as("dow"))
    }),

    // compressed JSON sink round-trip (gzip codec on write)
    "sink_json_gzip" -> ((s, dir) => {
      val p = tmp(dir, "json_gz")
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      e.write.mode("overwrite").option("compression", "gzip").json(p)
      s.read.json(p).select(col("event_id").cast("long"),
        col("user_id").cast("long"), col("event_type"),
        col("value").cast("double"))
    }),

    // catalog surface: CREATE TABLE AS SELECT + INSERT INTO + read back
    // through the managed warehouse (location pinned in the session)
    "sql_ctas" -> ((s, dir) => {
      val tbl = "g_ctas_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      // catalog AND stale warehouse location (LOCATION_ALREADY_EXISTS
      // across sessions otherwise — cost this query in round 3)
      Distribute.dropManagedTable(s, tbl)
      s.sql(s"""CREATE TABLE $tbl USING parquet AS
                SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0""")
      s.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 1")
      s.sql(s"SELECT * FROM $tbl")
    }),

    // deterministic mode: most frequent event_type per user, ties broken
    // alphabetically (the built-in mode() is tie-nondeterministic)
    "mode_per_user" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("cnt").desc, col("event_type").asc)
      Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("top_type"), col("cnt"))
    }),

    // fixed-width histogram of the value column (floor-bucketed)
    "value_histogram" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(floor(col("value") / 10.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("lo"), max(col("value")).as("hi"))),

    // exact percentiles per group (low-cardinality columns: interpolation
    // lands inside runs of equal values, so results are FP-formula-proof)
    "quantiles" -> ((s, dir) =>
      Tables.lineitem(s, dir).groupBy(col("l_returnflag")).agg(
        expr("percentile(l_quantity, 0.5)").as("qty_p50"),
        expr("percentile(l_quantity, 0.9)").as("qty_p90"),
        expr("percentile(l_discount, 0.5)").as("disc_p50"))),

    // running-frame windows: cumulative count + exact decimal sum
    "window_running" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      eventsBase(s, dir).select(
        col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("running_n"),
        // exact decimal accumulation, DOUBLE result type (Relational scaladoc)
        sum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("running_value"))
    }),

    // null-safe equality join (<=>): NULL keys pair with NULL keys
    "join_null_safe" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(
        col("event_id"),
        when(col("event_id") % 10 === 0, lit(null))
          .otherwise(col("user_id")).as("uid"))
      val c = Tables.customer(s, dir).select(
        when(col("c_custkey") % 10 === 0, lit(null))
          .otherwise(col("c_custkey")).as("uid"),
        col("c_name"))
      e.join(c, e("uid") <=> c("uid"))
        .select(col("event_id"), e("uid").as("uid"), col("c_name"))
    }),

    // regex scalar surface (extract group / replace / match)
    "regex_funcs" -> ((s, dir) =>
      Tables.part(s, dir).select(
        col("p_partkey"),
        regexp_extract(col("p_type"), "([A-Z]+) ([A-Z]+)", 2).as("second_word"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        // a DISCRIMINATING pattern (brands are Brand#xy, x,y ∈ 1..5 —
        // '#[0-9]+$' matched every row, so the flag verified nothing)
        col("p_brand").rlike("#1[0-9]$").as("numbered_brand"))),

    // RANGE window frame: per-user trailing-1-hour event count and exact
    // value sum, anchored on event-time micros
    "window_range_frame" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0L)
      eventsBase(s, dir).select(
        col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_trailing_1h"),
        sum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("sum_trailing_1h"))
    }),

    // per-user ordered journey: first 10 event types in (ts, id) order
    "user_journeys" -> ((s, dir) =>
      eventsBase(s, dir)
        .groupBy(col("user_id"))
        .agg(array_join(
          slice(transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            s => s.getField("event_type")), 1, 10), ">").as("journey"),
          count(lit(1)).as("n_events"))),

    // funnel analysis: users whose FIRST view precedes their first click
    // precedes their first purchase — one row per funnel prefix
    "events_funnel" -> ((s, dir) => {
      val firsts = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_buy"))
      firsts.agg(
        count(when(col("t_view").isNotNull, 1)).as("step1_view"),
        count(when(col("t_view") <= col("t_click"), 1)).as("step2_view_click"),
        count(when(col("t_view") <= col("t_click") &&
          col("t_click") <= col("t_buy"), 1)).as("step3_view_click_buy"))
    }),

    // nearest-in-time as-of: compose the backward and forward custom-plan
    // joins and keep whichever view is closer (tie → the prior one)
    "asof_join_nearest" -> ((s, dir) => {
      val e = eventsBase(s, dir)
      def side(t: String) = e.filter(col("event_type") === t)
        .select(col("user_id").as("key"), col("ts"), col("event_id").as("id"))
      val back = graft.plans.AsOf.asofJoin(side("view"), side("purchase"),
        "key", "ts", "id")
        .select(col("key"), col("id"), col("ts"),
          col("l_id").as("prev_id"), col("l_ts").as("prev_ts"))
      val fwd = graft.plans.AsOf.asofJoinForward(side("view"), side("purchase"),
        "key", "ts", "id")
        .select(col("id"), col("l_id").as("next_id"), col("l_ts").as("next_ts"))
      val dPrev = unix_micros(col("ts")) - unix_micros(col("prev_ts"))
      val dNext = unix_micros(col("next_ts")) - unix_micros(col("ts"))
      back.join(fwd, "id")
        .select(col("key"), col("id"), col("ts"),
          when(col("prev_ts").isNull && col("next_ts").isNull, lit(null))
            .when(col("next_ts").isNull, col("prev_id"))
            .when(col("prev_ts").isNull, col("next_id"))
            .when(dPrev <= dNext, col("prev_id"))
            .otherwise(col("next_id")).as("nearest_id"))
    }),

    // decile stats: ntile(10) over value, per-decile count and bounds
    "quantile_buckets" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("value").asc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("event_id"), col("value"), ntile(10).over(w).as("decile"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("lo"), max(col("value")).as("hi"))
    }),

    // semi/anti join shapes: customers with vs without orders
    "join_semi_anti" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_custkey"))
      val o = Tables.orders(s, dir).select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_semi")
        .withColumn("status", lit("has_orders"))
        .unionByName(
          c.join(o, Seq("c_custkey"), "left_anti")
            .withColumn("status", lit("no_orders")))
    }),

    // set operations: INTERSECT / EXCEPT with distinct semantics
    "set_ops" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      def users(t: String) =
        e.filter(col("event_type") === t).select(col("user_id"))
      users("click").intersect(users("purchase"))
        .withColumn("op", lit("click_and_buy"))
        .unionByName(
          users("click").except(users("error"))
            .withColumn("op", lit("click_no_error")))
    }),

    // scalar string-function surface
    "string_funcs" -> ((s, dir) =>
      Tables.part(s, dir).select(
        col("p_partkey"),
        upper(col("p_name")).as("up"),
        substring(col("p_type"), 1, 5).as("sub"),
        replace(col("p_brand"), lit("#"), lit("-")).as("repl"),
        lpad(col("p_brand"), 12, "*").as("pad"),
        concat_ws("|", col("p_brand"), col("p_type")).as("joined"),
        length(col("p_name")).cast("int").as("len"))),

    // scalar date/time-function surface
    "datetime_funcs" -> ((s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        dayofweek(col("o_orderdate")).as("dow"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(lit("2000-01-01").cast("date"),
          col("o_orderdate").cast("date")).as("days_to_y2k"),
        col("o_orderdate").cast("date").as("od"))),

    // JSON-function surface over the props column (scalar projections)
    "json_funcs" -> ((s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("long").as("k_long"),
        array_join(json_object_keys(col("props")), ",").as("keys"),
        length(col("props")).cast("long").as("raw_len"))),

    // higher-order array functions (transform/filter/aggregate/exists)
    "hof_funcs" -> ((s, dir) => {
      val w = split(col("text"), " ")
      Tables.documents(s, dir).select(
        col("doc_id"),
        aggregate(transform(w, x => length(x).cast("long")), lit(0L),
          (a, x) => a + x).as("total_len"),
        size(filter(w, x => length(x) > 3)).cast("long").as("n_long_words"),
        array_join(slice(transform(w, x => upper(x)), 1, 2), " ").as("up2"),
        exists(w, x => x === "the").as("has_the"))
    }),

    // null/conditional scalar surface
    "null_funcs" -> ((s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("status2"),
        greatest(col("o_totalprice"), lit(100000.0)).as("hi"),
        least(col("o_totalprice"), lit(100000.0)).as("lo"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "rush")
          .otherwise("std").as("class"))),

    // deterministic hash sampling — stable across runs, partitionings and
    // engines (pure integer arithmetic, no RNG): the reproducible way to
    // carve training subsets. A production id domain would use a 64-bit
    // mix (splitmix64) — same shape, wider constants.
    "sample_hash" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .filter((col("event_id") * 1000003L % 1000000007L) % 100 < 10)),

    // stratified variant: top-N per stratum in hash order (equal-size
    // strata samples regardless of class skew)
    "sample_stratified" -> ((s, dir) => {
      val h = col("event_id") * 1000003L % 1000000007L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(h.asc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 50)
    }),

    // BPE-ish regex tokenizer (alternation of letter/digit runs)
    "token_count_regex" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+"), lit(0))).cast("long").as("n_tokens"))),

    // stateful streaming sessionization (flatMapGroupsWithState);
    // final state == batch gaps-and-islands sessionize
    "streaming_sessionize" -> ((s, dir) =>
      graft.streaming.Streaming.statefulSessionize(s, eventsBase(s, dir),
        gapSeconds = 1800L, tmp(dir, "stream_events5"))),

    // Spark SQL surface: TPC-H Q3-shaped top-k revenue via spark.sql over
    // registered temp views (same text modulo dialect in the oracle)
    "sql_query" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      // top-10 membership/order decided on the exact decimal sum; only the
      // final projection converts to DOUBLE (see Relational scaladoc)
      s.sql(
        """SELECT o_orderkey, o_orderdate, CAST(revenue AS DOUBLE) AS revenue
           FROM (SELECT o_orderkey, o_orderdate,
                   sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS revenue
                 FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                 WHERE o_orderstatus = 'O'
                 GROUP BY o_orderkey, o_orderdate
                 ORDER BY revenue DESC, o_orderkey ASC
                 LIMIT 10)""")
    }),

    // ---- round 4: scrubbing / sharding / profiling / stream-stream ----

    // PII redaction over deterministically-augmented text (the synthetic
    // corpus carries no natural PII; the augmentation is mirrored in the
    // oracle so the redaction itself is what's verified)
    "pii_redact" -> ((s, dir) =>
      Scrub.piiRedact(
        Tables.documents(s, dir).select(col("doc_id"),
          concat(col("text"),
            lit(" contact u"), col("doc_id"), lit("@example.com via 10.0."),
            pmod(col("doc_id"), lit(256)), lit(".7 tel 555-01"),
            lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0")
          ).as("text")))),

    // corpus-level boilerplate removal: tokens in > 50% of documents
    "boilerplate_strip" -> ((s, dir) =>
      Scrub.boilerplateStrip(Tables.documents(s, dir), dfFrac = 0.5)),

    // key-skew diagnostic: top-10 heaviest users with share of all events
    "heavy_hitters" -> ((s, dir) =>
      Profile.heavyHitters(Tables.events(s, dir), col("user_id"), topN = 10)),

    // one-scan numeric column profile (min/max/nulls/distinct per column)
    "profile_numeric" -> ((s, dir) =>
      Profile.profileNumeric(Tables.orders(s, dir),
        Seq("o_orderkey", "o_custkey", "o_totalprice"))),

    // deterministic train/val/test assignment by hash percentile
    "split_assign" -> ((s, dir) =>
      Shard.splitAssign(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        col("doc_id"))),

    // deterministic global shuffle into 8 shards with in-shard positions
    "corpus_shuffle" -> ((s, dir) =>
      Shard.corpusShuffle(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        col("doc_id"), nShards = 8)),

    // E7+: release manifest for corpus_shuffle's shards — counts,
    // doc_id ranges, and an order-independent fingerprint checksum
    "shard_manifest" -> ((s, dir) =>
      Shard.shardManifest(Tables.documents(s, dir), nShards = 8)),

    // §2.9: stream-stream interval join (views ⋈ purchases within 1h)
    "streaming_join" -> ((s, dir) =>
      graft.streaming.Streaming.streamStreamJoin(s, Tables.events(s, dir),
        windowSec = 3600L, tmp(dir, "stream_join_src"))),

    // §2.9: LEFT OUTER stream-stream join — null rows require real
    // watermark eviction (delay ≪ feed span; time-ordered file replay)
    "streaming_join_outer" -> ((s, dir) =>
      graft.streaming.Streaming.streamStreamJoinOuter(s, Tables.events(s, dir),
        windowSec = 600L, delaySec = 3600L, tmp(dir, "stream_join_outer_src"))),

    // per-source mixture quotas (5/10/15 by source index mod 3), filled
    // in deterministic hash order
    "mixture_sample" -> ((s, dir) =>
      Shard.mixtureSample(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        stratum = col("source"), id = col("doc_id"),
        quota = lit(5) + pmod(substring(col("source"), 4, 10).cast("int"), lit(3)) * lit(5),
        maxQuota = Some(15))),

    // ingest-tick dedup: new batch (doc_id >= 400) anti-joined against
    // the corpus hash set (doc_id < 400), keep-first within the batch
    "dedup_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.incrementalDedup(
        corpus = d.filter(col("doc_id") < 400),
        batch = d.filter(col("doc_id") >= 400))
    }),

    // ingest-tick NEAR-dedup: batch docs near-duplicating the existing
    // corpus via cross-side LSH buckets (batch x corpus, never corpus^2)
    "near_dedup_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.nearDupIncremental(
        corpus = d.filter(col("doc_id") % 10 =!= 0),
        batch = d.filter(col("doc_id") % 10 === 0))
    }),

    // sequence packing: per-shard prefix-sum token binning (one parallel
    // window pass; shards pack independently)
    "pack_sequences" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Shard.packSequences(d, col("doc_id"),
        size(split(col("text"), " ")), nShards = 8, budget = 512L)
    }),

    // eval-integrity audit: near-dup pairs straddling train/val/test
    "split_leak_pairs" -> ((s, dir) =>
      TextDedup.splitLeakPairs(Tables.documents(s, dir))),

    // the fix for split leaks: splits assigned per near-dup CLUSTER
    "split_by_cluster" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.splitByCluster(d, TextDedup.nearDupJaccard(d))
    }),

    // corpus-wide exact paragraph dedup (keep-first) + doc reassembly
    "paragraph_dedup" -> ((s, dir) =>
      TextDedup.paragraphDedup(Tables.documents(s, dir))),

    // content-defined chunking dedup: rolling-hash cut points (w=3,
    // m=8) resynchronize after insertions — shift-robust chunk dedup
    "cdc_chunk_dedup" -> ((s, dir) =>
      TextDedup.cdcChunkDedup(Tables.documents(s, dir))),

    // SemDeDup: cluster-local semantic dedup — pairwise cosine only
    // within a vector's own cluster, never across the corpus
    "semdedup" -> ((s, dir) =>
      Similarity.semDedup(Tables.embeddings(s, dir), threshold = 0.4)),

    // winnowing (MOSS) fingerprints: per-window min k-gram hash,
    // rightmost tie-break — zero-shuffle projection
    "winnowing" -> ((s, dir) =>
      Text.winnowing(Tables.documents(s, dir))),

    // E3+: Unicode canonicalization ahead of the hash-dedup family
    // (NFC here — the DuckDB-expressible subset; production uses NFKC).
    // The corpus is ASCII, so mixed composed/decomposed accents, a C0
    // control, and ragged whitespace are injected deterministically —
    // the normalization itself is what the oracle verifies
    "text_normalize" -> ((s, dir) => {
      val aug = Tables.documents(s, dir).select(col("doc_id"),
        concat(
          // even ids: decomposed e+U+0301, odd ids: composed U+00E9;
          // NFC maps both to identical bytes
          when(col("doc_id") % 2 === 0, lit("Cafe\u0301"))
            .otherwise(lit("Caf\u00e9")),
          lit("\u0007\t "), col("text"), lit("  \n")).as("text"))
      Text.textNormalize(aug, form = "NFC")
        .select(col("doc_id"), col("text"), col("content_hash"))
    }),

    // character-entropy quality signal (deterministic fold order)
    "char_entropy" -> ((s, dir) =>
      Text.charEntropy(Tables.documents(s, dir))),

    // lexicon-ratio blocklist filter (C4-style)
    "wordlist_filter" -> ((s, dir) =>
      Text.wordlistFilter(Tables.documents(s, dir),
        lexicon = Seq("dup", "slow", "spark"), maxRatio = 0.10)),

    // real payload decode beyond the header: exact integer stats over
    // the full BMP data section
    "multimodal_pixel_stats" -> ((s, dir) =>
      Multimodal.pixelStats(Tables.documents(s, dir))),

    // perceptual (difference-hash) image near-dup signal over decoded
    // pixels; only (id, hash) ever shuffles
    "multimodal_phash" -> ((s, dir) =>
      Multimodal.perceptualHash(Tables.documents(s, dir))),

    // audio features over the real PCM payload: energy, dynamic range,
    // mean-crossing rate — all exact BIGINT, analytically oracle-checked
    "multimodal_audio" -> ((s, dir) =>
      Multimodal.audioFeatures(Tables.documents(s, dir))),

    // CDC changelog application: I/U/D ops collapsed to final state,
    // terminal deletes tombstone the key (the third merge shape)
    "cdc_apply" -> ((s, dir) => {
      val log = eventsBase(s, dir).withColumn("op",
        when(col("event_id") % 10 === 0, "D")
          .when(col("event_id") % 10 < 4, "I").otherwise("U"))
      Changelog.cdcApply(log, eventKeys, col("ts"), Seq(col("event_id")),
          col("op"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"), col("value"))
    }),

    // SQL surface: TPC-H Q20 shape — semi-join driven by a NESTED
    // aggregate comparison (suppliers who shipped an ABOVE-AVERAGE
    // share of a LIKE-filtered part's total; exact by
    // cross-multiplication: sq * n_suppliers > total). The part filter
    // prunes lineitem FIRST (broadcastable dim), both aggregates reuse
    // the same pruned scan, and the final semi-join touches supplier
    // once — no correlated re-execution per row.
    "sql_q20_shape" -> ((s, dir) => {
      val p = Tables.part(s, dir)
        .filter(col("p_name").like("%bolt%")).select(col("p_partkey"))
      val l = Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_suppkey"),
          round(col("l_quantity") * 100).cast("long").as("q_cents"))
      val perSupp = l.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("q_cents")).as("sq"))
      val perPart = l.groupBy(col("l_partkey"))
        .agg(sum(col("q_cents")).as("tq"),
          countDistinct(col("l_suppkey")).as("ns"))
      val dominant = perSupp.join(perPart, "l_partkey")
        .filter(col("sq") * col("ns") > col("tq"))
        .select(col("l_suppkey")).distinct()
      Tables.supplier(s, dir)
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
    }),

    // SQL surface: TPC-H Q22 shape — global scalar cutoff (avg positive
    // balance, exact by cross-multiplication in cents: bal*n > sum) +
    // NOT EXISTS anti-join against RECENT orders (every customer in the
    // synthetic data has *some* order, so Q22's "no orders at all" is
    // vacuous; "gone quiet since 2000" keeps the shape non-degenerate)
    // + group. The 1-row cutoff is the doctrine's legal broadcast; the
    // anti-join shuffles on the join key only, after the date filter
    // prunes the orders side at the scan.
    "sql_q22_balance" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_custkey"),
        col("c_nationkey"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      val thr = c.filter(col("bal_cents") > 0)
        .agg(sum(col("bal_cents")).as("s_pos"), count(lit(1)).as("n_pos"))
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate").cast("date") >= lit("2000-01-01"))
        .select(col("o_custkey"))
      c.crossJoin(broadcast(thr))
        .filter(col("bal_cents") * col("n_pos") > col("s_pos"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("bal_cents")).as("totacctbal_cents"))
    }),

    // SQL surface: TPC-H Q15 shape — scalar-max-of-view equality join
    // (top supplier by windowed revenue). The revenue view is PERSISTED
    // — it is referenced twice (max probe + equality join) and without
    // the cache Catalyst plans two full lineitem scans (exchange reuse
    // does not dedupe the aggregates; verified in PLANS.md). The cached
    // view is supplier-cardinality, not corpus-sized, so this is the
    // legal-materialization analogue of Q15's CREATE VIEW. Revenue in
    // exact integer milli-cents: price_cents × (100 − disc_pct) —
    // bit-reproducible in both engines, so the max-equality join has
    // no IEEE tie ambiguity. Ties all surface (TPC-H semantics).
    "sql_q15_top_supplier" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate").cast("date") >= lit("1996-01-01") &&
          col("l_shipdate").cast("date") < lit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .as("total_revenue_mc"))
        .persist()
      val mx = rev.agg(max(col("total_revenue_mc")).as("mx"))
      Tables.supplier(s, dir)
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .crossJoin(broadcast(mx))
        .filter(col("total_revenue_mc") === col("mx"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue_mc"))
    }),

    // SQL surface: TPC-H Q18 shape — HAVING-driven IN subquery (large-
    // volume orders). The qualifying-key set comes from one lineitem
    // aggregation (quantity in exact cents); the left-semi join back
    // onto orders⋈customer probes that set — at scale AQE broadcasts
    // the (rare) qualifying keys, and the detail re-aggregation reuses
    // the l_orderkey partitioning of the semi-joined scan.
    "sql_q18_large_volume" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"),
        round(col("l_quantity") * 100).cast("long").as("q_cents"))
      val big = l.groupBy(col("l_orderkey"))
        .agg(sum(col("q_cents")).as("sumq"))
        .filter(col("sumq") > lit(30000L))
        .select(col("l_orderkey"))
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_date"))
        .agg(sum(col("q_cents")).as("total_q_cents"))
    }),

    // SQL surface: TPC-H Q19 shape — disjunctive (OR-of-ANDs) join
    // predicate. Catalyst extracts the COMMON l_partkey = p_partkey
    // equi-key so this stays a hash join (not a cartesian with a
    // residual), pushes the brand/size disjunction down to the part
    // scan and the quantity bounds to the lineitem scan (each
    // disjunct's per-side conjuncts OR-ed: quantity ∈ [1,50] here —
    // weakest precondition, still a scan-level filter), and evaluates
    // the full disjunction as the join residual. Revenue in exact
    // milli-cents.
    "sql_q19_disjunctive" -> ((s, dir) => {
      val p = Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val l = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("rev_mc"))
      val cases =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 50))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(cases)
        .groupBy(col("p_brand"))
        .agg(sum(col("rev_mc")).as("revenue_mc"),
          count(lit(1)).as("n_items"))
    }),

    // SQL surface: TPC-H Q2 shape — min-cost-supplier-per-part (argmin
    // with ties). No partsupp table in this schema, so supply cost is
    // the MIN OBSERVED sale price in cents per (part, supplier) pair —
    // deterministic and integer-exact. The regional supplier
    // restriction applies BEFORE the per-part min (Q2 semantics). The
    // costed relation is part-slice-cardinality and referenced twice
    // (per-part min + equality join back), so it is persisted — the
    // Q15 legal-materialization rule; without it both branches re-run
    // the full lineitem aggregation. Dim slices (filtered part,
    // supplier⋈nation⋈region) are broadcast per the q19/q20 dim
    // convention; only lineitem shuffles, on its natural group key.
    "sql_q2_min_cost" -> ((s, dir) => {
      val suppReg = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
      val p = Tables.part(s, dir)
        .filter(col("p_type") === "STANDARD" && col("p_size").between(10, 25))
        .select(col("p_partkey"))
      val cost = Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppReg), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_partkey"), col("s_suppkey"), col("s_name"),
          col("n_name"))
        .agg(min(round(col("l_extendedprice") * 100).cast("long"))
          .as("cost_cents"))
        .persist()
      val mn = cost.groupBy(col("p_partkey").as("mk"))
        .agg(min(col("cost_cents")).as("mn"))
      cost.join(mn, col("p_partkey") === col("mk") &&
          col("cost_cents") === col("mn"))
        .select(col("p_partkey"), col("s_suppkey"), col("s_name"),
          col("n_name"), col("cost_cents"))
    }),

    // SQL surface: TPC-H Q3 shape — unshipped-order revenue top-k.
    // Segment slice prunes orders; the date filters push to both
    // scans; revenue in exact milli-cents so the top-10 cut has no
    // IEEE tie ambiguity (deterministic o_orderkey tiebreak anyway).
    // The customer slice is NOT hinted — it is 1/5 of an SF-scaled
    // table, so AQE owns the broadcast decision (broadcast doctrine).
    "sql_q3_shipping" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate").cast("date") < lit("1997-01-01"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_date"),
          col("o_orderpriority"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate").cast("date") > lit("1997-01-01"))
        .select(col("l_orderkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("rev_mc"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_date"), col("o_orderpriority"))
        .agg(sum(col("rev_mc")).as("revenue_mc"))
        .orderBy(col("revenue_mc").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // SQL surface: TPC-H Q4 shape — EXISTS → left-semi with a
    // non-equi residual (this schema has no commit/receipt dates, so
    // "late" = shipped >60 days after the order date). The semi-join
    // keeps the orders side at most once per order regardless of how
    // many lineitems qualify; the quarter filter prunes orders at the
    // scan before the shuffle.
    "sql_q4_order_priority" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate").cast("date") >= lit("1996-07-01") &&
          col("o_orderdate").cast("date") < lit("1996-10-01"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderdate").cast("date").as("o_date"))
      val l = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_shipdate").cast("date").as("ship"))
      o.join(l, col("o_orderkey") === col("l_orderkey") &&
          col("ship") > date_add(col("o_date"), 60), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),

    // SQL surface: TPC-H Q6 shape — single-scan filter + global agg.
    // The plain quantity bound is a parquet PushedFilter; the date
    // casts and the exact-cents discount match (round(x*100) ∈ [5,7])
    // are arithmetic, so they evaluate in the codegen'd Filter right
    // above the scan — still one scan, one 1-row gather. Revenue =
    // price_cents × disc_cents, integer-exact in both engines.
    "sql_q6_forecast" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate").cast("date") >= lit("1996-01-01") &&
          col("l_shipdate").cast("date") < lit("1997-01-01") &&
          round(col("l_discount") * 100).cast("long").between(5, 7) &&
          col("l_quantity") < 24)
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          round(col("l_discount") * 100).cast("long")).as("revenue_e4"),
          count(lit(1)).as("n_items"))),

    // SQL surface: TPC-H Q7 shape — cross-nation shipping volume.
    // The pair disjunction can't be pushed per side, but each side IS
    // pre-filtered to the two nations (the classic Q7 rewrite), so the
    // supplier/customer join inputs are 2/25 slices; the residual
    // disjunction runs after both nation names are in scope. Supplier
    // slice broadcast (dim convention); customer slice left to AQE.
    // pair chosen so at least one direction is populated at every SF:
    // sf0.001's 10 suppliers live in nations {3,8,12,...} — NATION_3
    // always has a supplier; customers exist in all 25 nations
    "sql_q7_nation_volume" -> ((s, dir) => {
      val pair = Seq("NATION_3", "NATION_1")
      val sn = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .filter(col("n_name").isin(pair: _*))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cn = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .filter(col("n_name").isin(pair: _*))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate").cast("date") >= lit("1996-01-01") &&
          col("l_shipdate").cast("date") <= lit("1997-12-31"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("rev_mc"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cn, col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === pair.head &&
            col("cust_nation") === pair(1)) ||
          (col("supp_nation") === pair(1) && col("cust_nation") === pair.head))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(sum(col("rev_mc")).as("revenue_mc"))
    }),

    // SQL surface: TPC-H Q8 shape — market share: conditional share of
    // one supplier nation inside a region+type-filtered volume, per
    // year. Both sums are exact milli-cent longs; the share divides
    // long→double at the very end (exact for < 2^53, identical IEEE
    // result in both engines).
    "sql_q8_market_share" -> ((s, dir) => {
      val cReg = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select(col("c_custkey"))
      val p = Tables.part(s, dir)
        .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
      val sn = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("rev_mc"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate").cast("date") >= lit("1996-01-01") &&
            col("o_orderdate").cast("date") <= lit("1997-12-31"))
          .select(col("o_orderkey"), col("o_custkey"),
            year(col("o_orderdate")).cast("long").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cReg, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(col("o_year"))
        .agg(sum(when(col("supp_nation") === "NATION_3", col("rev_mc"))
          .otherwise(0L)).as("nation_rev_mc"),
          sum(col("rev_mc")).as("total_rev_mc"))
        .withColumn("mkt_share",
          col("nation_rev_mc").cast("double") /
            col("total_rev_mc").cast("double"))
    }),

    // SQL surface: TPC-H Q10 shape — returned-item top customers.
    // Return-flag + date filters prune both scans; one agg keyed on
    // the customer grain; nation broadcast; deterministic top-20 via
    // exact milli-cent revenue + c_custkey tiebreak.
    "sql_q10_returned" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate").cast("date") >= lit("1997-01-01") &&
          col("o_orderdate").cast("date") < lit("1997-07-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("rev_mc"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(col("rev_mc")).as("revenue_mc"))
        .orderBy(col("revenue_mc").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // SQL surface: TPC-H Q11 shape — per-key value vs a global scalar
    // threshold (HAVING against a subquery). No partsupp, so part
    // value = Σ price_cents × round(qty) over the two target nations'
    // suppliers. The per-part relation is referenced twice (total +
    // filter) → persisted, part-cardinality. The 1-row total is the
    // doctrine's legal broadcast; the cutoff is RELATIVE — share >
    // 1.5× the mean part share — because TPC-H itself scales Q11's
    // fraction with SF (0.0001/SF): a fixed fraction goes degenerate
    // as part count grows. Exact by cross-multiplication
    // (2·value·n_parts > 3·total), no division anywhere.
    "sql_q11_important" -> ((s, dir) => {
      val sn = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .filter(col("n_name").isin("NATION_3", "NATION_8")) // populated at every SF
        .select(col("s_suppkey"))
      val perPart = Tables.lineitem(s, dir)
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          round(col("l_quantity")).cast("long")).as("part_value_c"))
        .persist()
      val total = perPart.agg(sum(col("part_value_c")).as("total_c"),
        count(lit(1)).as("n_parts"))
      perPart.crossJoin(broadcast(total))
        .filter(col("part_value_c") * col("n_parts") * 2L >
          col("total_c") * 3L)
        .select(col("l_partkey"), col("part_value_c"))
    }),

    // SQL surface: TPC-H Q12 shape — CASE-sum priority split over a
    // late-shipping join (no shipmode/commit/receipt columns, so
    // "late" = shipped >90 days after the order date, grouped by
    // l_linestatus — same two-group CASE-aggregation plan as Q12).
    "sql_q12_shipmode" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate").cast("date") >= lit("1997-01-01") &&
          col("l_shipdate").cast("date") < lit("1998-01-01"))
        .select(col("l_orderkey"), col("l_linestatus"),
          col("l_shipdate").cast("date").as("ship"))
      l.join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_orderdate").cast("date").as("o_date")),
        col("l_orderkey") === col("o_orderkey") &&
          col("ship") > date_add(col("o_date"), 90))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
    }),

    // SQL surface: TPC-H Q14 shape — promo revenue ratio for one
    // month. Exact milli-cent numerator/denominator; the percent is
    // the only double, derived at the end. Part (3 cols) broadcast per
    // the q19 dim convention.
    "sql_q14_promo" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate").cast("date") >= lit("1996-03-01") &&
          col("l_shipdate").cast("date") < lit("1996-04-01"))
        .select(col("l_partkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("rev_mc"))
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(sum(when(col("p_type") === "PROMO", col("rev_mc"))
          .otherwise(0L)).as("promo_rev_mc"),
          sum(col("rev_mc")).as("total_rev_mc"))
        .withColumn("promo_pct",
          col("promo_rev_mc").cast("double") * 100.0 /
            col("total_rev_mc").cast("double"))),

    // SQL surface: TPC-H Q16 shape — supplier count per part attribute
    // with a NOT IN exclusion (negative-balance suppliers stand in for
    // Q16's complaint filter). The distinct (part, supp) pair set is
    // lineitem's surrogate for partsupp; the exclusion is a left-anti
    // against a tiny keyset; countDistinct partial-aggregates
    // map-side before the (brand, size) shuffle.
    "sql_q16_supplier_cnt" -> ((s, dir) => {
      val bad = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      val p = Tables.part(s, dir)
        .filter(col("p_type") =!= "PROMO")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // integer-exact PageRank over the customer–supplier order graph:
    // fixed 10 iterations, scaled-integer mass (bit-reproducible)
    "pagerank" -> ((s, dir) => {
      val edges = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 5 === 0)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      Graph.pageRank(s, edges)
    }),

    // deterministic node2vec-style walk corpus: a 4-step hash-driven
    // walk from every node of the customer-supplier graph
    "graph_walks" -> ((s, dir) => {
      val edges = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 9 === 0)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      Graph.graphWalks(s, edges)
    }),

    // HyperLogLog distinct customers per order priority, next to exact
    // truth — m=64 registers/group, every step cross-engine bit-exact
    "hll_distinct" -> ((s, dir) =>
      Profile.hllDistinct(Tables.orders(s, dir),
        group = col("o_orderpriority"), key = col("o_custkey"))
        .select(col("g").as("o_orderpriority"), col("n_exact"),
          col("hll_estimate"))),

    // trailing-7-day distinct users per day from HLL register merges:
    // raw feed scanned once; window logic runs on the sketch table
    "hll_sliding" -> ((s, dir) =>
      Profile.hllSlidingDistinct(Tables.events(s, dir),
        ts = col("ts"), key = col("user_id"))),

    // product quantization (IVF-PQ's compression half): 4 subspace
    // codebooks, codes + mean assignment cosine as observable fidelity
    "embedding_pq" -> ((s, dir) =>
      Similarity.productQuantize(Tables.embeddings(s, dir))),

    // explicit runtime-filter pruning: customers passing the bloom of
    // high-value-order custkeys, false positives flagged via truth join
    "bloom_semi_join" -> ((s, dir) =>
      Distribute.bloomSemiJoin(
        probe = Tables.customer(s, dir).select(col("c_custkey"), col("c_name")),
        probeKey = col("c_custkey"),
        build = Tables.orders(s, dir).filter(col("o_totalprice") > 490000),
        buildKey = col("o_custkey"),
        mBits = 16384, k = 3)),

    // the corpus-release governance row: sizes, dup pairs, clusters,
    // token budget before/after the canonical cut
    "curation_report" -> ((s, dir) =>
      TextDedup.curationReport(Tables.documents(s, dir))),

    // stride-1 duplicated-span metric (ExactSubstr proper): share of
    // each doc's 8-word windows first seen elsewhere
    "exactsubstr_report" -> ((s, dir) =>
      TextDedup.exactSubstrReport(Tables.documents(s, dir))),

    // ExactSubstr APPLY (Lee et al. 2022): remove every token inside a
    // ≥8-token span duplicated at ANY offset, first occurrence wins —
    // the arbitrary-alignment span surgery paragraph_dedup's fixed grid
    // cannot do (spec proves the off-by-3-words contrast)
    "exactsubstr_dedup" -> ((s, dir) =>
      TextDedup.exactSubstrDedup(Tables.documents(s, dir))),

    // the curation front-door as ONE fused plan: NFC canonicalize →
    // content-hash dedup → near-dedup verdicts. Every 10th doc gets a
    // DECOMPOSED-form twin of its composed-prefix original — the twins
    // hash-merge in the exact stage IFF the normalize stage ran (stage
    // coupling the oracle replays end-to-end)
    "curation_pipeline" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // twin ids live at +20000; a corpus whose real doc_ids reach the
      // offset would silently duplicate keys through the verdict join
      // (mirrored in the oracle, so the gate could not see it) \u2014 assert.
      // coalesce: max() is NULL on an empty table — the guard must say
      // so, not NPE (advice round 10)
      val maxDocId =
        d.agg(coalesce(max(col("doc_id")), lit(-1L))).head.getLong(0)
      require(maxDocId < 20000L,
        s"planted doc_id offset 20000 would alias real ids (max=$maxDocId)")
      val base = d.select(col("doc_id"),
        concat(lit("Caf\u00e9 "), col("text")).as("text"))
      val twins = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 20000L).as("doc_id"),
          concat(lit("Cafe\u0301 "), col("text")).as("text"))
      TextDedup.curationPipeline(base.unionByName(twins))
    }),

    // the SAME curation front door over the events table's JSON props:
    // the reference's flatten path (P1) feeding the LLM path as one
    // code chain. flattenJsonColumn parses/flattens the payload, the
    // flat fields render to a canonical text (every 10th doc spells the
    // marker word in DECOMPOSED form so it hash-merges iff normalize
    // ran), and curationPipeline runs normalize, exact dedup, and the
    // near-dedup verdicts. Near dups arise naturally: events sharing
    // (user, k, type) but differing in value bucket differ in ONE of
    // six shingles (J = 5/7 >= 0.5). The token ORDER is deliberate:
    // the marker sits next to the high-cardinality user token so every
    // shingle's df stays ~corpus/users ~= 64 at every SF (users scale
    // with SF) -- placing it next to the 5-value type token pushed the
    // prefix shingle's df over the derived cap and silently killed the
    // near stage (caught by the positiveAgg degeneracy gate). Buckets
    // ride the repo's portable cents arithmetic (round, BIGINT,
    // truncating div).
    "curation_pipeline_events" -> ((s, dir) =>
      TextDedup.curationPipeline(eventsCurationDocs(rawEventsSlice(s, dir)))),

    // the SAME front door as a STREAMING ingest: raw event rows (JSON
    // props and all) stream from the feed, every micro-batch runs the
    // SHARED flatten+render+normalize+hash projection (stateless \u2014 no
    // state store) into a parquet staging sink, and the closed-feed
    // readout runs the literal batch verdict tail over the staged
    // corpus \u2014 hash-equal to curation_pipeline_events by construction
    // (same oracle). The render function object is the same value the
    // batch registration uses; the verdict tail is the same method \u2014
    // batch and stream cannot drift.
    "streaming_curation_events" -> ((s, dir) =>
      graft.streaming.Streaming.streamingCurationEvents(s,
        rawEventsSlice(s, dir), eventsCurationDocs,
        tmp(dir, "stream_curation"))),

    // contrastive hard-negative mining: top-5 nearest DIFFERENT-label
    // vectors per probe (the decision-boundary examples)
    "hard_negatives" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 32), 5)
    }),

    // Spark 4 VARIANT semi-structured path next to json_funcs' string
    // path: parse once, typed extraction
    "variant_funcs" -> ((s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        try_variant_get(parse_json(col("props")), "$.k", "long")
          .as("k_long"),
        try_variant_get(parse_json(col("props")), "$.missing", "long")
          .as("missing_long"),
        schema_of_variant(parse_json(col("props"))).as("v_schema"))),

    // per-segment language ID: code-switching docs the whole-doc
    // classifier misses. The synthetic corpus is single-language per
    // doc, so is_mixed would be STRUCTURALLY false (the gopher
    // dup-column class) — every 7th doc gets a deterministic
    // code-switch injection (an en-marker chunk then es-marker chunks,
    // mirrored in the oracle) so the flag provably fires
    "segment_langid" -> ((s, dir) =>
      Text.segmentLangId(Tables.documents(s, dir).select(
        col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit(" " + Seq.fill(16)("the").mkString(" ") +
                " " + Seq.fill(32)("la").mkString(" ")))
            .otherwise(lit(""))).as("text")))),

    // materialized-view maintenance: the corpus agg table advanced by a
    // new batch equals the full recompute (corpus never rescanned)
    "incremental_agg_maintain" -> ((s, dir) => {
      val e = eventsBase(s, dir)
      val aggTable = Changelog.buildAgg(
        e.filter(col("event_id") % 10 =!= 0), eventKeys, col("value"))
      Changelog.maintainAgg(aggTable,
          e.filter(col("event_id") % 10 === 0), eventKeys, col("value"))
        .select(col("user_id"), col("event_type"), col("n"),
          col("s").cast("double").as("sum_value"), col("mn"), col("mx"))
    }),

    // materialized JOIN-view maintenance: 4 arrival ticks on BOTH
    // sides advanced by the delta rule == the one-shot join (the
    // accumulated x accumulated join is never redone; late-arriving
    // customers pick up their earlier orders via the A_old JOIN dB term)
    "incremental_join_maintain" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_custkey").as("custkey"), col("o_orderstatus"))
      val c = Tables.customer(s, dir).select(col("c_custkey").as("custkey"),
        col("c_mktsegment"))
      Changelog.maintainJoinTicks(o, c, Seq("custkey"),
        aTick = col("o_orderkey") % 4, bTick = col("custkey") % 4,
        ticks = 4)
    }),

    // sample-based join-size estimation vs exact truth: the pre-join
    // quadratic-blowup guard (self-join of lineitem on partkey)
    "join_cardinality_est" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
      Distribute.joinCardinalityEst(l, col("l_partkey"), l, col("l_partkey"))
    }),

    // SCD2 MERGE: a mid-January change batch applied to the dimension
    // built from earlier history == the full rebuild (history rows
    // never re-shuffled)
    "scd2_merge" -> ((s, dir) => {
      val e = eventsBase(s, dir)
      val cutoff = lit("2024-01-15").cast("timestamp")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("valid_from").asc, col("id").asc)
      val dim = e.filter(col("ts") < cutoff)
        .select(col("user_id"), col("event_type"), col("value"),
          col("event_id").as("id"), col("ts").as("valid_from"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .withColumn("is_current", col("valid_to").isNull)
      Temporal.scd2Merge(dim, e.filter(col("ts") >= cutoff),
          keys = Seq("user_id", "event_type"), ts = col("ts"),
          idCol = col("event_id"), payload = Seq("value"))
        .select(col("user_id"), col("event_type"), col("id").as("event_id"),
          col("value"), col("valid_from"), col("valid_to"),
          col("is_current"))
    }),

    // per-source discriminative terms (c-TF-IDF shape): top-5 terms by
    // tf_source * n_sources / source_df, exact-rational score
    "source_topterms" -> ((s, dir) =>
      Text.sourceTopTerms(Tables.documents(s, dir), topK = 5)),

    // BM25 retrieval: the lexical-search baseline over the same
    // inverted-index view (idf rounded 1e-6, fixed-order scoring)
    "search_bm25" -> ((s, dir) =>
      Text.searchBm25(Tables.documents(s, dir),
        terms = Seq("batch", "scan", "hash"))),

    // config-driven DQ: a rule catalog evaluated in ONE scan
    "dq_rules" -> ((s, dir) =>
      Quality.rulesReport(eventsBase(s, dir), Seq(
        Quality.DqRule("value_not_null", "value", "not_null"),
        Quality.DqRule("value_nonneg", "value", "min", 0.0),
        Quality.DqRule("value_cap_300", "value", "max", 300.0,
          maxViolations = 100),
        Quality.DqRule("user_positive", "user_id", "positive")))),

    // weekday-seasonal anomaly baseline: same exact-decimal k-sigma
    // machinery, grouped by (event_type, day-of-week)
    "anomaly_seasonal" -> ((s, dir) =>
      Profile.anomalyOutliers(
        eventsBase(s, dir).withColumn("season",
          concat_ws("|", col("event_type"),
            dayofweek(col("ts").cast("date")).cast("string"))),
        group = col("season"), value = col("value"),
        idCols = Seq("event_id"))
        .select(col("event_id"), col("g").as("season"), col("value"))),

    // snapshot regression diff: adds/removes/changes between two loads
    // (old = drop %5 keys; new = drop %7 keys, value bumped on %9)
    "snapshot_diff" -> ((s, dir) => {
      val e = eventsBase(s, dir)
      val old = e.filter(col("event_id") % 5 =!= 0)
      val nw = e.filter(col("event_id") % 7 =!= 0)
        .withColumn("value",
          when(col("event_id") % 9 === 0, col("value") + 1)
            .otherwise(col("value")))
      Changelog.snapshotDiff(old, nw, keys = Seq("event_id"),
        payload = Seq("user_id", "event_type", "value"))
    }),

    // ranked retrieval: top-20 docs for a 3-term query, score =
    // sum tf/df in fixed expression order (engine-portable doubles)
    "search_ranked" -> ((s, dir) =>
      Text.searchRanked(Tables.documents(s, dir),
        terms = Seq("batch", "scan", "hash"))),

    // reciprocal-rank fusion of the tf-idf and BM25 rankers —
    // scaled-integer reciprocals, no doubles in the fused score
    "rrf_fusion" -> ((s, dir) =>
      Text.rrfFusion(Tables.documents(s, dir),
        terms = Seq("batch", "scan", "hash"))),

    // Kendall's tau between the two rankers' top-20 lists — the
    // agreement check ahead of fusion; exact pair counts, one division
    "kendall_tau" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val terms = Seq("batch", "scan", "hash")
      graft.ops.Eval.kendallTau(
        Text.searchRanked(docs, terms)
          .select(col("doc_id").as("id"), col("rank")),
        Text.searchBm25(docs, terms)
          .select(col("doc_id").as("id"), col("rank")))
    }),

    // Spearman's rho over the same two top-20 rankings as kendall_tau
    // (dense re-rank within the common subset, then the exact d^2 form)
    "spearman_rho" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val terms = Seq("batch", "scan", "hash")
      graft.ops.Eval.spearmanRho(
        Text.searchRanked(docs, terms)
          .select(col("doc_id").as("id"), col("rank")),
        Text.searchBm25(docs, terms)
          .select(col("doc_id").as("id"), col("rank")))
    }),

    // Mann-Whitney U location test over ks_drift's even/odd-day
    // populations — 2U from the bounded per-value count table, the
    // tie-corrected z^2 decision cross-multiplied into DECIMAL(38,0)
    "mann_whitney" -> ((s, dir) =>
      Profile.mannWhitney(Tables.events(s, dir),
        side = Profile.evenOddDaySide(col("ts")),
        value = col("value"))),

    // ROUGE-2 clipped-bigram F1 over adjacent-id document pairs
    // (even doc_id = candidate, odd = reference)
    "rouge2_eval" -> ((s, dir) =>
      graft.ops.Eval.rougeN(Tables.documents(s, dir), n = 2)),

    // per-user EWMA of the value stream (α=0.5 dyadic — exact halvings
    // keep the fold bit-portable)
    "ewma_smooth" -> ((s, dir) =>
      Temporal.ewmaSmooth(eventsBase(s, dir), entity = col("user_id"),
        ts = col("ts"), idCol = col("event_id"), value = col("value"))
        .select(col("entity").as("user_id"), col("n_events"),
          col("last_value"), col("ewma"))),

    // windowed funnel: view -> click within 24h -> purchase within 24h
    // of the click; earliest-completion attribution per user
    "funnel_windowed" -> ((s, dir) =>
      Temporal.funnelWindowed(eventsBase(s, dir), user = col("user_id"),
        ts = col("ts"), typeCol = col("event_type"),
        steps = ("view", "click", "purchase"), windowSec = 86400L)),

    // weighted shortest paths (4 Bellman-Ford rounds): min total
    // quantity from the seed customers over the order graph
    "shortest_path" -> ((s, dir) => {
      val edges = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 5 === 0)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .groupBy(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .agg(min(col("l_quantity").cast("long")).as("w"))
      val seeds = edges.filter(
          substring(col("src"), 2, 20).cast("long") % 97 === 0)
        .select(col("src").as("node"))
      Graph.shortestPaths(s, edges, seeds)
    }),

    // multi-source BFS over the same order graph as pagerank: min hop
    // from the seed customers within 4 hops (blast-radius query)
    "graph_bfs" -> ((s, dir) => {
      val edges = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 5 === 0)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      val seeds = edges.filter(
          substring(col("src"), 2, 20).cast("long") % 97 === 0)
        .select(col("src").as("node"))
      Graph.bfsHops(s, edges, seeds)
    }),

    // per-node triangle count over the part co-purchase graph (parts
    // co-ordered in the same order) — degree-ordered orientation, each
    // triangle counted at exactly one vertex
    "triangle_count" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey").as("k"), col("l_partkey"))
      val edges = li.select(col("k"), col("l_partkey").as("a"))
        .join(li.select(col("k"), col("l_partkey").as("b")), Seq("k"))
        .select(col("a"), col("b"))
      Graph.triangleCount(s, edges)
    }),

    // key-skew diagnosis: top-20 heaviest part keys in order lines,
    // share + running concentration (the pre-join straggler report)
    "skew_diagnose" -> ((s, dir) =>
      Distribute.skewDiagnose(Tables.lineitem(s, dir),
        key = col("l_partkey"))),

    // bill-of-materials requirement explosion over the decimal-digit
    // part hierarchy (parent = key div 10): total transitive component
    // units per assembly — integer sum-product closure, 5 levels
    "bom_rollup" -> ((s, dir) => {
      val ed = Tables.part(s, dir).filter(col("p_partkey") >= 10)
        .select(expr("p_partkey div 10").as("parent"),
          col("p_partkey").as("child"),
          (col("p_partkey") % 5 + 1).cast("int").as("qty"))
      Graph.bomRollup(s, ed, levels = 5)
    }),

    // edit-distance-1 similarity join via deletion-neighborhood
    // blocking (FastSS) — precision/recall 1.0 by construction, no
    // all-pairs scan; domain = customer names ∪ deterministic
    // single-deletion variants so both the substitution and the
    // insertion/deletion match paths fire
    "typo_pairs" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val names = c.select(col("c_name").as("w"))
        .unionByName(c.filter(col("c_custkey") % 7 === 0)
          .select(Linkage.dirtyName(col("c_custkey"), col("c_name")).as("w")))
      Linkage.typoPairs(names, col("w"))
    }),

    // neighborhood-Jaccard link prediction on the co-purchase graph:
    // capped wedge candidates (deterministic per-center degree bound —
    // the hub mitigation the oracle replays), non-edge anti-join
    "link_predict" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey").as("k"), col("l_partkey"))
      val edges = li.select(col("k"), col("l_partkey").as("a"))
        .join(li.select(col("k"), col("l_partkey").as("b")), Seq("k"))
        .select(col("a"), col("b"))
      Graph.linkPredict(s, edges, minCommon = 5L, maxCenterDegree = 64)
    }),

    // one-scan all-column DQ profile of orders (money normalized to
    // cents so min/max strings render identically across engines)
    "column_profile" -> ((s, dir) =>
      Profile.columnProfile(Tables.orders(s, dir), Seq(
        "o_orderkey" -> col("o_orderkey"),
        "o_custkey" -> col("o_custkey"),
        "o_orderstatus" -> col("o_orderstatus"),
        "o_totalprice_cents" ->
          round(col("o_totalprice") * lit(100)).cast("long"),
        "o_orderdate" -> col("o_orderdate").cast("date"),
        "o_orderpriority" -> col("o_orderpriority")))),

    // record linkage: deterministic one-char-deletion typos resolved
    // back to the canonical part catalog via prefix ∪ suffix blocking
    // + Levenshtein verify (recall guarantee spec-asserted)
    "entity_resolution" -> ((s, dir) =>
      Linkage.resolveEntities(Tables.part(s, dir),
        id = col("p_partkey"), name = col("p_name"))),

    // market-basket association: part-pair co-occurrence within orders,
    // support-thresholded, with PMI (ln rounded 1e-6, entropy convention)
    "cooccur_pmi" -> ((s, dir) =>
      Assoc.cooccurPmi(Tables.lineitem(s, dir),
        basket = col("l_orderkey"), item = col("l_partkey"),
        minSupport = 2)),

    // per-user daily resample onto the corpus calendar: gap days get
    // n=0, the day's closing value forward-fills across gaps
    "ts_gapfill" -> ((s, dir) =>
      Temporal.tsGapfill(eventsBase(s, dir), entity = col("user_id"),
        ts = col("ts"), idCol = col("event_id"), value = col("value"))
        .select(col("entity").as("user_id"), col("day"), col("n"),
          col("close_ffill"))),

    // robust outliers: > 3 MADs from the event-type median (exact-cents
    // medians are dyadic rationals — bit-portable, no rounding)
    "mad_outliers" -> ((s, dir) =>
      Profile.madOutliers(eventsBase(s, dir), group = col("event_type"),
        value = col("value"), idCols = Seq("event_id"))
        .select(col("event_id"), col("g").as("event_type"), col("value"),
          col("med"), col("mad"))),

    // the approx_percentile swap for unbounded-cardinality metrics:
    // output is the per-group GK rank-bound contract (true for ANY
    // conforming sketch), since DuckDB cannot replay Spark's sketch
    "mad_outliers_approx" -> ((s, dir) =>
      Profile.madOutliersApproxContract(eventsBase(s, dir),
        group = col("event_type"), value = col("value"))
        .select(col("g").as("event_type"), col("n"),
          col("med_in_bound"), col("mad_in_bound"))),

    // BPE trainer's first merge iteration: corpus-wide within-word
    // character-pair counts, top-50 (count desc, pair asc)
    "bpe_pairs" -> ((s, dir) =>
      Text.bpePairs(Tables.documents(s, dir), topN = 50)),

    // ANN index quality: recall@5 of the IVF index vs brute-force truth
    // per probe — the eval run before trusting an index at scale
    "ann_recall_eval" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.annRecall(e, e.filter(col("vec_id") < 32), 5)
    }),

    // skew-safe two-stage aggregation == the plain groupBy aggregate
    "salted_agg" -> ((s, dir) =>
      Distribute.saltedAgg(
        Tables.events(s, dir).select(col("event_id"), col("event_type"),
          col("value").cast(DecimalType(18, 2)).as("v")),
        keys = Seq("event_type"), value = col("v"),
        salt = col("event_id"), salts = 16)
        .select(col("event_type"),
          col("sum_value").cast("double").as("sum_value"), col("n"))),

    // as-of with freshness tolerance: matches older than 1h are nulled
    "asof_join_tolerance" -> ((s, dir) =>
      Temporal.asofPriorTolerance(eventsBase(s, dir),
        key = col("user_id"), ts = col("ts"), idCol = col("event_id"),
        leftPred = col("event_type") === "view",
        rightPred = col("event_type") === "purchase",
        maxAgeSeconds = 3600L)),

    // Z-order (Morton) clustering layout of lineitem on (partkey, suppkey)
    "zorder_layout" -> ((s, dir) =>
      Distribute.zOrderLayout(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey")),
        col("l_partkey"), col("l_suppkey"), bits = 16, partitions = 32)),

    // dynamic partition pruning: day-partitioned fact joined to a
    // selective day dimension — the scan reads only matching day dirs
    // (dynamicpruning PartitionFilter, spec-asserted)
    "dpp_join" -> ((s, dir) =>
      Distribute.dppJoin(s, eventsBase(s, dir),
        tmp(dir, "dpp_join"), dayLo = 1, dayHi = 7)),

    // the layout loop CLOSED: 2-D box predicate skips files of the
    // z-ordered layout via per-file min/max on BOTH columns (spec
    // asserts the scan reads a strict subset of files)
    "zorder_prune" -> ((s, dir) =>
      Distribute.zOrderPrune(s,
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey")),
        a = "l_partkey", b = "l_suppkey", bits = 16,
        scratchDir = tmp(dir, "zorder_prune"),
        // the box intersects EVERY SF's key space (suppkeys are 0..9 at
        // sf0.001 — the old [10,40] band returned 0 rows there, the
        // oracle blind spot DegeneracySpec guards)
        loA = 100L, hiA = 400L, loB = 2L, hiB = 8L)),

    // bloom-filter layout: row-group skipping for point lookups on a
    // high-cardinality UNSORTED key (the case zone maps can't prune);
    // key 999999999 is deliberately absent — the bloom miss path.
    // BloomLayoutSpec asserts the filters exist in the footers.
    "bloom_layout_lookup" -> ((s, dir) =>
      Distribute.bloomLayout(s,
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"),
            round(col("o_totalprice") * 100).cast("long")
              .as("price_cents")),
        keyCol = "o_orderkey",
        scratchDir = tmp(dir, "bloom_layout"),
        lookup = Seq(1L, 500L, 1000L, 999999999L))),

    // corpus bigram LM: top-20 bigrams with P(w2|w1)
    "bigram_lm" -> ((s, dir) =>
      Text.bigramLm(Tables.documents(s, dir), topN = 20)),

    // right-to-erasure propagation audit across three tables
    "gdpr_delete_audit" -> ((s, dir) => {
      val forget = Tables.customer(s, dir)
        .filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey").as("forget_id"))
      Scrub.gdprDeleteAudit(Seq(
        ("events", Tables.events(s, dir), col("user_id")),
        ("orders", Tables.orders(s, dir), col("o_custkey")),
        ("customer", Tables.customer(s, dir), col("c_custkey"))), forget)
    }),

    // k-anonymity audit: event cells (type, day, value-bucket) whose
    // equivalence class is smaller than k=5 — the re-identification
    // risk report of a privacy release gate
    "k_anonymity" -> ((s, dir) =>
      Scrub.kAnonymity(Tables.events(s, dir), Seq(
        col("event_type"),
        col("ts").cast("date").as("day"),
        floor(col("value") / 50).cast("long").as("vbucket")), k = 5)),

    // referential-integrity audit over the star schema's FK edges
    "ref_integrity" -> ((s, dir) =>
      Quality.refIntegrity(Seq(
        ("lineitem->orders", Tables.lineitem(s, dir), col("l_orderkey"),
          Tables.orders(s, dir), col("o_orderkey")),
        ("orders->customer", Tables.orders(s, dir), col("o_custkey"),
          Tables.customer(s, dir), col("c_custkey")),
        ("events->customer", Tables.events(s, dir), col("user_id"),
          Tables.customer(s, dir), col("c_custkey"))))),

    // TPC-H Q5 shape: 6-table join, customer and supplier in the SAME
    // nation, revenue per nation for one region. Region/nation broadcast;
    // the fact-side joins shuffle once each on their keys.
    "join_q5_shape" -> ((s, dir) =>
      Tables.region(s, dir).filter(col("r_name") === "ASIA")
        .join(Tables.nation(s, dir), col("n_regionkey") === col("r_regionkey"))
        .join(Tables.customer(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(28, 10))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)),

    // TPC-H Q9 shape (profit per supplier-nation per order-year): the
    // last classic multi-join analytics shape — lineitem joined to a
    // LIKE-filtered part, supplier, orders, and nation. The testdata has
    // no partsupp table, so supply cost is the part's retail price at a
    // fixed 10% margin — same join graph, filter placement, and agg
    // shape as Q9. Part (post-LIKE, small) and nation broadcast; the
    // fact side shuffles once per join key and AQE reorders/broadcasts
    // the rest. Profit accumulates in DECIMAL(28,10) from per-row
    // double-exact products (the Q5 pattern).
    "sql_q9_profit" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .filter(col("p_name").like("%bolt%"))),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            - col("p_retailprice") * lit(0.1) * col("l_quantity"))
          .cast(DecimalType(28, 10))).cast("double").as("profit"))
        .orderBy(col("nation").asc, col("o_year").desc)),

    // TPC-H Q13 shape (customer order-count distribution): left outer
    // join with an ON-clause filter, then a two-level aggregation. The
    // per-customer count reuses the join's c_custkey hash partitioning
    // (zero extra shuffle); the distribution agg is |distinct counts|
    // rows. Filtering orders BEFORE the left join == the ON-clause
    // placement (customers whose only orders are excluded count as 0).
    "sql_q13_custdist" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_custkey"))
      val o = Tables.orders(s, dir)
        .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .select(col("o_custkey"), col("o_orderkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // SCD2 point-in-time lookup: each purchase resolves the view-version
    // whose [valid_from, valid_to) interval covers its timestamp — the
    // interval-join complement to the as-of operators (disjoint validity
    // intervals guarantee <= 1 match per probe).
    "scd2_lookup" -> ((s, dir) => {
      val e = eventsBase(s, dir)
      val dim = e.filter(col("event_type") === "view")
        .select(col("user_id").as("d_user_id"),
          col("event_id").as("version_id"),
          col("ts").as("valid_from"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("d_user_id"))
            .orderBy(col("valid_from").asc, col("version_id").asc)))
      val probes = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
      probes.join(dim,
          col("user_id") === col("d_user_id") &&
            col("ts") >= col("valid_from") &&
            (col("valid_to").isNull || col("ts") < col("valid_to")),
          "left_outer")
        .select(col("user_id"), col("purchase_id"), col("ts"),
          col("version_id"), col("valid_from"))
    }),

    // E5 upgrade: REAL image decode — valid BMPs encoded from each doc,
    // header parsed back partition-wise; oracle predicts the decoded
    // geometry analytically from doc_id
    "multimodal_bmp" -> ((s, dir) =>
      Multimodal.bmpRoundTrip(Tables.documents(s, dir))),

    // E5 audio: REAL WAV (RIFF/PCM) encode → header-parse roundtrip
    "multimodal_wav" -> ((s, dir) =>
      Multimodal.wavRoundTrip(Tables.documents(s, dir))),

    // hopping (sliding) windows: 1h length / 15m slide — every event
    // lands in exactly 4 overlapping windows (the tumbling ops' sibling
    // semantic; same watermark story in streaming)
    "hopping_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"),
          col("event_type"), col("n")))
  )

  /** Scratch dir for sink round-trips — inside the repo target dir, keyed
    * by op + scale factor so runs never collide.
    */
  private def tmp(dir: String, name: String): String =
    s"/root/repo/target/graft-tmp/${name}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"

  /** [[tmp]], emptied first: for an entry whose sink appends (the audit
    * log), so every run of it returns the same rows.
    */
  private def freshTmp(dir: String, name: String): String = {
    val p = tmp(dir, name)
    Distribute.deleteRecursively(new java.io.File(p))
    p
  }

  /** The raw 5-column events slice both curation front doors ingest. */
  private def rawEventsSlice(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), col("props"))

  /** events → curation documents: the P1 flatten of the JSON `props`
    * payload plus the canonical text render — pure projections, shared
    * BY VALUE between the batch `curation_pipeline_events` registration
    * and the streaming ingest (`streaming_curation_events`), so the two
    * front doors parse and render identically by construction. See the
    * batch registration commentary for the marker/token-order rationale;
    * concat_ws SKIPS null tokens while the oracle's || NULLIFIES the
    * row, so every nullable token is coalesced to the literal 'null' on
    * BOTH sides (a no-op on the current all-non-null data; 'null'
    * cannot collide with the numeric tokens).
    */
  private val eventsCurationDocs: DataFrame => DataFrame = raw => {
    val flat = Flatten.flattenJsonColumn(raw, "props",
      StructType(Seq(StructField("k", LongType))))
    flat.select(col("event_id").as("doc_id"),
      concat_ws(" ",
        when(col("event_id") % 10 === 0, lit("Cafe\u0301"))
          .otherwise(lit("Caf\u00e9")),
        lit("user"), coalesce(col("user_id").cast("string"), lit("null")),
        lit("k"), coalesce(col("props_k").cast("string"), lit("null")),
        coalesce(col("event_type"), lit("null")), lit("b"),
        coalesce(expr("CAST(round(value*100) AS BIGINT) div 10000")
          .cast("string"), lit("null"))).as("text"))
  }

  // ---- oracle SQL (DuckDB) --------------------------------------------

  /** All events columns at microsecond ts precision (DuckDB reads the
    * parquet as TIMESTAMP_NS; Spark truncates to micros).
    */
  private val evBase =
    "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events"

  private val sketchQuantilesOracle =
    """WITH b AS (SELECT l_returnflag AS g,
             l_orderkey * 8 + l_linenumber AS id,
             (l_orderkey * 8 + l_linenumber) * 1000003 % 1000000007 AS h,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS c
           FROM lineitem),
         s AS (SELECT g, id, c,
             row_number() OVER (PARTITION BY g ORDER BY h ASC, id ASC) AS rk
           FROM b),
         t AS (SELECT g, id, c,
             CAST(row_number() OVER (PARTITION BY g ORDER BY c ASC, id ASC)
               AS BIGINT) AS i,
             CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
           FROM s WHERE rk <= 256)
       SELECT g AS l_returnflag, max(n) AS sample_n,
         CAST(min(CASE WHEN i * 4 >= n THEN c END) AS DOUBLE) / 100.0 AS p25,
         CAST(min(CASE WHEN i * 2 >= n THEN c END) AS DOUBLE) / 100.0 AS p50,
         CAST(min(CASE WHEN i * 4 >= n * 3 THEN c END) AS DOUBLE) / 100.0
           AS p75,
         CAST(min(CASE WHEN i * 20 >= n * 19 THEN c END) AS DOUBLE) / 100.0
           AS p95
       FROM t GROUP BY g"""

  // the events-feed instance of the same KMV sketch recurrence: the
  // streaming maintenance loop must land exactly this state
  private val streamingSketchQuantilesOracle =
    """WITH b AS (SELECT event_type AS g, event_id AS id,
             event_id * 1000003 % 1000000007 AS h,
             CAST(round(value * 100) AS BIGINT) AS c
           FROM events),
         s AS (SELECT g, id, c,
             row_number() OVER (PARTITION BY g ORDER BY h ASC, id ASC) AS rk
           FROM b),
         t AS (SELECT g, id, c,
             CAST(row_number() OVER (PARTITION BY g ORDER BY c ASC, id ASC)
               AS BIGINT) AS i,
             CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
           FROM s WHERE rk <= 256)
       SELECT g AS event_type, max(n) AS sample_n,
         CAST(min(CASE WHEN i * 4 >= n THEN c END) AS DOUBLE) / 100.0 AS p25,
         CAST(min(CASE WHEN i * 2 >= n THEN c END) AS DOUBLE) / 100.0 AS p50,
         CAST(min(CASE WHEN i * 4 >= n * 3 THEN c END) AS DOUBLE) / 100.0
           AS p75,
         CAST(min(CASE WHEN i * 20 >= n * 19 THEN c END) AS DOUBLE) / 100.0
           AS p95
       FROM t GROUP BY g"""

  private val latestWin =
    "row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC)"

  def oracleSql: Map[String, String] =
    baseOracles ++ extraOracles +
      // pipeline_run's merged snapshot is semantically merge_upsert_latest
      ("pipeline_run" -> baseOracles("merge_upsert_latest")) +
      // stateful streaming sessionize converges to the batch result
      ("streaming_sessionize" -> extraOracles("sessionize")) +
      // the custom-plan as-of join must match the window-based one exactly
      ("asof_join_native" -> extraOracles("asof_join")) +
      // the streaming monitor flags exactly the batch anomaly set
      ("streaming_anomaly" -> baseOracles("anomaly_zscore")) +
      // live KMV maintenance must equal the batch sketch (merge identity)
      ("streaming_sketch_quantiles" -> streamingSketchQuantilesOracle) +
      // live count-table maintenance must land the batch DSIR scores
      ("streaming_dsir" -> baseOracles("dsir_affinity")) +
      // the frozen-model streaming scorer must land the batch probe rows
      ("streaming_quality_score" -> baseOracles("quality_probe")) +
      // the maintained pair-count table must land the batch KS statistic
      ("streaming_ks_drift" -> baseOracles("ks_drift")) +
      // the maintained side-count table must land the batch q-hat/coverage
      ("streaming_conformal" -> baseOracles("conformal_threshold")) +
      // the streamed staging table + batch verdict tail must land the
      // batch front door's verdict rows exactly
      ("streaming_curation_events" -> extraOracles("curation_pipeline_events")) +
      // the complete Gopher A1 filter is the per-doc AND of the three
      // halves' oracles — composed verbatim, so the composite verifies
      // at the full depth of all three (incl. the repetition half's
      // explode + two-level groupBy, the heaviest oracle in the file)
      // NB: no stripMargin here — the embedded half-oracles contain
      // lines that BEGIN with SQL's || concat operator, which a margin
      // strip would truncate to a binary | and break the SQL
      ("gopher_filter" ->
        ("""SELECT r.doc_id, r.gopher_pass, l.line_pass, q.quality_pass,
             (r.gopher_pass AND l.line_pass AND q.quality_pass) AS keep,
             CASE WHEN NOT r.gopher_pass THEN 'repetition'
                  WHEN NOT l.line_pass THEN 'line_dup'
                  WHEN NOT q.quality_pass THEN 'quality'
                  ELSE 'keep' END AS reject_reason
           FROM (""" + baseOracles("gopher_repetition") + """) r
           JOIN (""" + baseOracles("gopher_line_dup") + """) l
             ON r.doc_id = l.doc_id
           JOIN (""" + baseOracles("gopher_quality") + """) q
             ON q.doc_id = r.doc_id""")) +
      // the composed web front door: the staged-corpus CTE chain (the
      // same quarter render + nav interleave + mojibake mirror as the
      // registration) fed through the generated pipeline mirror —
      // repair chain, C4 rules, all three Gopher rule chains, and the
      // dedup window, each single-sourced with its operator
      ("web_pipeline" -> Text.webLedgerSql(webStagedRel)) +
      ("web_pipeline_corpus" -> Text.webCorpusSql(webStagedRel)) +
      // the streamed staging + batch verdict tail must land the batch
      // front door's ledger exactly (the streaming_curation_events
      // oracle-reuse convention)
      ("streaming_web_pipeline" -> Text.webLedgerSql(webStagedRel)) +
      // round 14: the near-dedup-staged front door — the COMPLETE
      // exact-Jaccard pair set over kept canonicals re-statuses the
      // ledger, gating the Spark side's LSH recall, not just its math
      ("web_pipeline_near" -> Text.webNearSql(webNearStagedRel)) +
      ("streaming_web_pipeline_near" -> Text.webNearSql(webNearStagedRel)) +
      ("web_pipeline_sem" -> Text.webSemSql(webSemStagedRel, semEmbRel)) +
      ("web_pipeline_substr" -> Text.webSubstrSql(webSubstrStagedRel)) +
      // round 15: the complete chain — the three stages' literal CTE
      // blocks composed over the all-tier staging, surgery narrowed
      // to sem survivors
      ("web_pipeline_full" -> Text.webFullSql(webFullStagedRel, semEmbRel))

  /** The c4 rule-trigger render as DuckDB CTEs — quarter lines with the
    * punctuation pattern, plus the brace/lorem decorations (r2x/r3x).
    * Mirrors [[c4InjectedLines]]; shared by the C4 pair's oracles AND
    * the web front door's staged chain so the injection exists once on
    * the SQL side too.
    */
  private val c4QuarterCtes: String =
    """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws
               FROM documents),
         p AS (SELECT doc_id, text, ws, len(ws) AS m, len(ws) // 4 AS q
               FROM w),
         r AS (SELECT doc_id, text, m,
                 CASE WHEN (doc_id + 1) % 3 <> 0
                      THEN array_to_string(ws[1:q], ' ') || '.'
                      ELSE array_to_string(ws[1:q], ' ') END AS r1,
                 CASE WHEN (doc_id + 2) % 3 <> 0
                      THEN array_to_string(ws[q+1:2*q], ' ') || '.'
                      ELSE array_to_string(ws[q+1:2*q], ' ') END AS r2,
                 CASE WHEN (doc_id + 3) % 3 <> 0
                      THEN array_to_string(ws[2*q+1:3*q], ' ') || '.'
                      ELSE array_to_string(ws[2*q+1:3*q], ' ') END AS r3,
                 CASE WHEN (doc_id + 4) % 3 <> 0
                      THEN array_to_string(ws[3*q+1:m], ' ') || '.'
                      ELSE array_to_string(ws[3*q+1:m], ' ') END AS r4
               FROM p),
         rx AS (SELECT doc_id, text, m, r1,
                 CASE WHEN doc_id % 7 = 0 THEN r2 || ' {'
                      ELSE r2 END AS r2x,
                 CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum.'
                      ELSE r3 END AS r3x,
                 r4
               FROM r)"""

  /** Shared CTE chain for the C4 pair's oracles: the quarter-render
    * injection (mirroring [[c4Injected]]) and the kept-lines rule, so
    * the report and apply oracles cannot drift from each other.
    */
  private val c4OracleCtes: String =
    c4QuarterCtes + """,
         t AS (SELECT doc_id,
                 CASE WHEN m >= 8 THEN
                   r1 || chr(10)
                   || r2x || chr(10)
                   || r3x || chr(10)
                   || r4
                 ELSE text END AS t2
               FROM rx),
         l AS (SELECT doc_id, t2, string_split(t2, chr(10)) AS ls FROM t),
         k AS (SELECT doc_id, t2, ls,
                 list_filter(ls, x -> ends_with(x, '.')
                   AND len(string_split(x, ' ')) >= 3) AS kept
               FROM l)"""

  /** The web front door's STAGED corpus as a DuckDB relation string
    * (a parenthesized subquery — [[graft.ops.Text.webLedgerSql]] takes
    * any FROM-able relation): the c4 quarter render, the every-13th
    * nav-chrome interleave, then each page twice — repaired prefix and
    * mojibake mirror at +100000. Mirrors [[webStaged]].
    */
  private def webStagedRel: String = webStagedRel0(withNearTwins = false)

  /** [[webStagedRel]] + the near-twin tier, mirroring
    * [[webNearStaged]]. */
  private def webNearStagedRel: String = webStagedRel0(withNearTwins = true)

  /** [[webNearStagedRel]] over the span-footer render, mirroring
    * [[webSubstrStaged]]. */
  private def webSubstrStagedRel: String =
    webStagedRel0(withNearTwins = true, withSpan = true)

  /** [[webNearStagedRel]] + the sem-twin tier, mirroring
    * [[webSemStaged]]. */
  private def webSemStagedRel: String =
    webStagedRel0(withNearTwins = true, withSemTwins = true)

  /** All four tiers over the span-footer render, mirroring
    * [[webFullStaged]]. */
  private def webFullStagedRel: String =
    webStagedRel0(withNearTwins = true, withSpan = true,
      withSemTwins = true)

  /** The sem stage's embedding side table as a DuckDB relation —
    * mirrors [[semEmbeddings]] tier-for-tier. Single-line on purpose:
    * it is concatenated into [[graft.ops.Text.webSemSql]] outside any
    * stripMargin literal (the composed-SQL trap).
    */
  private def semEmbRel: String =
    "(SELECT vec_id, embedding FROM embeddings" +
      " UNION ALL SELECT vec_id + 200000 AS vec_id, embedding" +
      " FROM embeddings WHERE vec_id % 17 = 0" +
      " UNION ALL SELECT vec_id + 300000 AS vec_id, embedding" +
      " FROM embeddings WHERE vec_id % 6 = 0)"

  private def webStagedRel0(withNearTwins: Boolean,
                            withSpan: Boolean = false,
                            withSemTwins: Boolean = false): String = {
    // the nav line rides the same ''-escaping as the prefixes — it is
    // currently quote-free, but an unescaped interpolation is one
    // future edit away from a broken oracle (ADVICE r13)
    val nav = Text.WebNavLine.replace("'", "''")
    val good = Text.mojibakePrefixRepaired.replace("'", "''")
    val bad = Text.mojibakePrefix.replace("'", "''")
    val near = Text.WebNearLine.replace("'", "''")
    val span = Text.WebSpanLine.replace("'", "''")
    // the span-footer render: one extra CTE layer over rend so the
    // footer rides INSIDE the body every downstream arm stages —
    // mirroring webSpanRendered feeding webNearStaged0
    val spanCte =
      if (!withSpan) ""
      else s""",
         rend2 AS (SELECT doc_id, m,
                 CASE WHEN doc_id % 19 = 0 AND m >= 8
                      THEN body || chr(10) || '$span'
                      ELSE body END AS body
               FROM rend)"""
    val rsrc = if (withSpan) "rend2" else "rend"
    // the paraphrase twins: every 17th RENDERED page, mojibake-staged
    // with one extra kept line (the webNearStaged convention; ids at
    // +200000, disjoint from the +100000 mirrors by the max-id guard)
    val nearArm =
      if (!withNearTwins) ""
      else s"""
                    UNION ALL
                    SELECT doc_id + 200000 AS doc_id,
                           '$bad' || body || chr(10) || '$near' AS text
                    FROM $rsrc WHERE doc_id % 17 = 0 AND m >= 8"""
    // the sem twins: every 6th RENDERED page, mojibake-staged with its
    // words reversed per line except the line-terminal word (mirroring
    // reverseWordsPerLine; ids at +300000)
    val semArm =
      if (!withSemTwins) ""
      else s"""
                    UNION ALL
                    SELECT doc_id + 300000 AS doc_id,
                           '$bad' || array_to_string(list_transform(
                             string_split(body, chr(10)),
                             l -> CASE WHEN len(string_split(l, ' ')) >= 2
                                  THEN array_to_string(list_reverse(
                                         string_split(l, ' ')[1:-2]), ' ')
                                       || ' ' || string_split(l, ' ')[-1]
                                  ELSE l END), chr(10)) AS text
                    FROM $rsrc WHERE doc_id % 6 = 0 AND m >= 8"""
    "(" + c4QuarterCtes + s""",
         rend AS (SELECT doc_id, m,
                 CASE WHEN m >= 8 THEN
                   CASE WHEN doc_id % 13 = 0 THEN
                     r1 || chr(10) || '$nav' || chr(10)
                     || r2x || chr(10) || '$nav' || chr(10)
                     || r3x || chr(10) || '$nav' || chr(10)
                     || r4
                   ELSE
                     r1 || chr(10)
                     || r2x || chr(10)
                     || r3x || chr(10)
                     || r4
                   END
                 ELSE text END AS body
               FROM rx)""" + spanCte + s""",
         staged AS (SELECT doc_id, '$good' || body AS text FROM $rsrc
                    UNION ALL
                    SELECT doc_id + 100000 AS doc_id,
                           '$bad' || body AS text FROM $rsrc""" +
      nearArm + semArm +
      """)
       SELECT doc_id, text FROM staged)"""
  }

  private def baseOracles: Map[String, String] = Map(

    // round 5: k = num/den = 3/2 sigma, exact cents arithmetic in HUGEINT
    // mirroring the Spark op's DECIMAL(38,0): den^2*dev^2 > num^2*(n*ss - s^2)
    // same per-unit cents totals, hash-parity arms, fixed-shape Welch z
    "ab_test" ->
      """WITH pu AS (SELECT user_id AS u,
               sum(CAST(round(value * 100) AS HUGEINT)) AS s
             FROM events GROUP BY 1),
           a AS (SELECT (u * 1000003 % 1000000007) % 2 AS arm, s FROM pu),
           b AS (SELECT arm, count(*) AS n, CAST(sum(s) AS DOUBLE) AS ts,
                   CAST(sum(s * s) AS DOUBLE) AS tss
                 FROM a GROUP BY 1),
           w AS (SELECT
               max(CASE WHEN arm = 0 THEN n END) AS n0,
               max(CASE WHEN arm = 1 THEN n END) AS n1,
               max(CASE WHEN arm = 0 THEN ts END) AS s0,
               max(CASE WHEN arm = 1 THEN ts END) AS s1,
               max(CASE WHEN arm = 0 THEN tss END) AS q0,
               max(CASE WHEN arm = 1 THEN tss END) AS q1
             FROM b)
         SELECT n0 AS n_control, n1 AS n_treatment,
           round(s0 / n0 / 100.0, 6) AS mean_control,
           round(s1 / n1 / 100.0, 6) AS mean_treatment,
           round(s1 / n1 / 100.0 - s0 / n0 / 100.0, 6) AS diff,
           round((s1 / n1 / 100.0 - s0 / n0 / 100.0)
             / sqrt(((q1 - s1 * s1 / n1) / (n1 - 1) / 10000.0) / n1
                  + ((q0 - s0 * s0 / n0) / (n0 - 1) / 10000.0) / n0), 6) AS welch_z
         FROM w""",

    // exact BIGINT normal-equation sums (x centered at the group's first
    // day keeps every product < 2^63); one rounded division per coefficient
    "regression_ols" ->
      """WITH daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
             FROM events GROUP BY 1, 2),
           c AS (SELECT g, day, y,
                   min(day) OVER (PARTITION BY g) AS first_day FROM daily),
           s AS (SELECT g, first_day, count(*) AS n,
                   CAST(sum(date_diff('day', first_day, day)) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(date_diff('day', first_day, day) * y) AS BIGINT) AS sxy,
                   CAST(sum(date_diff('day', first_day, day)
                          * date_diff('day', first_day, day)) AS BIGINT) AS sxx
                 FROM c GROUP BY 1, 2)
         SELECT g, first_day, n AS n_days,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS slope,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE round(CAST(sy * sxx - sx * sxy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS intercept
         FROM s""",

    // expected_share rounded FIRST (nine log10 constants, none near a
    // 1e-6 boundary), chi2 from the rounded constant in a fixed shape
    "benford_digits" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
                 AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit FROM orders),
           c AS (SELECT digit, count(*) AS n_obs FROM d
                 WHERE digit BETWEEN 1 AND 9 GROUP BY 1),
           t AS (SELECT digit, n_obs,
                   CAST(sum(n_obs) OVER () AS BIGINT) AS n_total,
                   round(log10(1 + 1.0 / digit), 6) AS expected_share FROM c)
         SELECT digit, n_obs,
           CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
           expected_share,
           round((CAST(n_obs AS DOUBLE) - expected_share * CAST(n_total AS DOUBLE))
               * (CAST(n_obs AS DOUBLE) - expected_share * CAST(n_total AS DOUBLE))
               / (expected_share * CAST(n_total AS DOUBLE)), 6) AS chi2_component
         FROM t""",

    // exact-integer Lorenz arithmetic: rank by (spend, custkey), Gini =
    // (2*sum(i*x) - (n+1)*sum(x)) / (n*sum(x)); top decile = the integer
    // tail i > n - n // 10 of the same ranking
    "gini_concentration" ->
      """WITH sp AS (SELECT o_custkey AS custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS spend
             FROM orders GROUP BY 1),
           bn AS (SELECT n_name AS nation, custkey, spend
                  FROM sp JOIN customer ON custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey),
           r AS (SELECT nation, custkey, spend,
                   row_number() OVER (PARTITION BY nation
                     ORDER BY spend, custkey) AS i,
                   count(*) OVER (PARTITION BY nation) AS n_part
                 FROM bn),
           a AS (SELECT nation, count(*) AS n_customers,
                   CAST(sum(spend) AS BIGINT) AS sx,
                   CAST(sum(i * spend) AS BIGINT) AS six,
                   CAST(sum(CASE WHEN i > n_part - n_part // 10
                            THEN spend ELSE 0 END) AS BIGINT) AS top_x
                 FROM r GROUP BY 1)
         SELECT nation, n_customers, CAST(sx AS DOUBLE) AS total_cents,
           CASE WHEN n_customers * sx = 0 THEN NULL
                ELSE round(CAST(2 * six - (n_customers + 1) * sx AS DOUBLE)
                         / CAST(n_customers * sx AS DOUBLE), 6) END AS gini,
           CASE WHEN sx = 0 THEN NULL
                ELSE round(CAST(top_x AS DOUBLE) / CAST(sx AS DOUBLE), 6)
                END AS top_decile_share
         FROM a""",

    // ntile over total orders (metric, custkey): identical integer bucket
    // arithmetic in both engines; monetary through DECIMAL then one
    // double conversion
    "rfm_segments" ->
      """WITH pc AS (SELECT o_custkey,
               max(CAST(o_orderdate AS DATE)) AS last_day,
               count(*) AS frequency,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS monetary
             FROM orders GROUP BY 1),
           r AS (SELECT o_custkey, frequency, monetary,
                   date_diff('day', last_day, max(last_day) OVER ())
                     AS recency_days
                 FROM pc),
           sc AS (SELECT o_custkey, recency_days, frequency, monetary,
                    ntile(4) OVER (ORDER BY recency_days DESC, o_custkey)
                      AS r_score,
                    ntile(4) OVER (ORDER BY frequency ASC, o_custkey)
                      AS f_score,
                    ntile(4) OVER (ORDER BY monetary ASC, o_custkey)
                      AS m_score
                  FROM r)
         SELECT o_custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS segment
         FROM sc""",

    // exact-cosine kNN vote: rank ties on neighbor id, vote ties on the
    // smaller label — every step total-ordered
    "knn_classify" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                    FROM embeddings),
           topk AS (
             SELECT q.vec_id AS q_id, q.label AS true_label,
                    c.label AS n_label
             FROM e q JOIN e c ON q.vec_id <> c.vec_id
             WHERE q.vec_id % 25 = 0
             QUALIFY row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                        c.vec_id ASC) <= 5),
           votes AS (SELECT q_id, true_label, n_label, count(*) AS n_votes
                     FROM topk GROUP BY 1, 2, 3)
         SELECT q_id, true_label, n_label AS pred_label, n_votes,
           CASE WHEN n_label = true_label THEN 1 ELSE 0 END AS correct
         FROM votes
         QUALIFY row_number() OVER (PARTITION BY q_id
           ORDER BY n_votes DESC, n_label ASC) = 1""",

    // knn_classify's chain verbatim, then the integer-numerator bins:
    // gap = |5c - vn|/(5n), ECE folds the weighted sum before dividing
    "knn_calibration" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                    FROM embeddings),
           topk AS (
             SELECT q.vec_id AS q_id, q.label AS true_label,
                    c.label AS n_label
             FROM e q JOIN e c ON q.vec_id <> c.vec_id
             WHERE q.vec_id % 25 = 0
             QUALIFY row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                        c.vec_id ASC) <= 5),
           votes AS (SELECT q_id, true_label, n_label, count(*) AS n_votes
                     FROM topk GROUP BY 1, 2, 3),
           p AS (SELECT q_id, n_votes,
               CASE WHEN n_label = true_label THEN 1 ELSE 0 END AS correct
             FROM votes
             QUALIFY row_number() OVER (PARTITION BY q_id
               ORDER BY n_votes DESC, n_label ASC) = 1),
           bins AS (SELECT n_votes, count(*) AS n,
               CAST(sum(correct) AS BIGINT) AS n_correct
             FROM p GROUP BY 1),
           t AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
               CAST(sum(abs(5 * n_correct - n_votes * n)) AS BIGINT)
                 AS ece_num
             FROM bins)
         SELECT n_votes, CAST(n_votes AS DOUBLE) / 5 AS confidence,
           CAST(n AS BIGINT) AS n, n_correct,
           CAST(n_correct AS DOUBLE) / n AS accuracy,
           CAST(abs(5 * n_correct - n_votes * n) AS DOUBLE) / (5 * n)
             AS gap,
           CAST(ece_num AS DOUBLE) / (5 * nt) AS ece
         FROM bins CROSS JOIN t""",

    // discrete rank-selected cuts (k = ceil(p*n) in integer arithmetic);
    // tie order cannot change the selected VALUE (ordering is by c only)
    "winsorized_stats" ->
      """WITH x AS (SELECT l_returnflag AS g,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
           r AS (SELECT g, c,
                   row_number() OVER (PARTITION BY g ORDER BY c) AS rn,
                   count(*) OVER (PARTITION BY g) AS n_part
                 FROM x),
           k AS (SELECT g, c,
                   (n_part * 5 + 99) // 100 AS k05,
                   (n_part * 95 + 99) // 100 AS k95, rn FROM r),
           cuts AS (SELECT g, c,
                   max(CASE WHEN rn = k05 THEN c END)
                     OVER (PARTITION BY g) AS p05,
                   max(CASE WHEN rn = k95 THEN c END)
                     OVER (PARTITION BY g) AS p95
                 FROM k)
         SELECT g, count(*) AS n,
           CAST(max(p05) AS BIGINT) AS p05_cents,
           CAST(max(p95) AS BIGINT) AS p95_cents,
           round(CAST(sum(c) AS DOUBLE) / count(*) / 100.0, 6) AS mean_raw,
           round(CAST(sum(greatest(p05, least(p95, c))) AS DOUBLE)
             / count(*) / 100.0, 6) AS mean_winsorized
         FROM cuts GROUP BY 1""",

    // exact integer moment sums; r evaluated as num/sqrt(d1*d2) with the
    // d1*d2 product formed in DOUBLE (exact would overflow 38 digits)
    "corr_matrix" ->
      """WITH x AS (SELECT
               CAST(round(l_quantity * 100) AS BIGINT) AS mq,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS mp,
               CAST(round(l_discount * 100) AS BIGINT) AS md,
               CAST(round(l_tax * 100) AS BIGINT) AS mt FROM lineitem),
           s AS (SELECT count(*) AS n,
               sum(mq) AS s_q, sum(mp) AS s_p, sum(md) AS s_d, sum(mt) AS s_t,
               sum(mq*mq) AS q_q, sum(mp*mp) AS q_p, sum(md*md) AS q_d,
               sum(mt*mt) AS q_t,
               sum(mq*mp) AS p_qp, sum(mq*md) AS p_qd, sum(mq*mt) AS p_qt,
               sum(mp*md) AS p_pd, sum(mp*mt) AS p_pt, sum(md*mt) AS p_dt
             FROM x)
         SELECT 'quantity_price' AS pair,
           round(CAST(n*p_qp - s_q*s_p AS DOUBLE)
             / sqrt(CAST(n*q_q - s_q*s_q AS DOUBLE)
                  * CAST(n*q_p - s_p*s_p AS DOUBLE)), 6) AS corr, n FROM s
         UNION ALL SELECT 'quantity_discount',
           round(CAST(n*p_qd - s_q*s_d AS DOUBLE)
             / sqrt(CAST(n*q_q - s_q*s_q AS DOUBLE)
                  * CAST(n*q_d - s_d*s_d AS DOUBLE)), 6), n FROM s
         UNION ALL SELECT 'quantity_tax',
           round(CAST(n*p_qt - s_q*s_t AS DOUBLE)
             / sqrt(CAST(n*q_q - s_q*s_q AS DOUBLE)
                  * CAST(n*q_t - s_t*s_t AS DOUBLE)), 6), n FROM s
         UNION ALL SELECT 'price_discount',
           round(CAST(n*p_pd - s_p*s_d AS DOUBLE)
             / sqrt(CAST(n*q_p - s_p*s_p AS DOUBLE)
                  * CAST(n*q_d - s_d*s_d AS DOUBLE)), 6), n FROM s
         UNION ALL SELECT 'price_tax',
           round(CAST(n*p_pt - s_p*s_t AS DOUBLE)
             / sqrt(CAST(n*q_p - s_p*s_p AS DOUBLE)
                  * CAST(n*q_t - s_t*s_t AS DOUBLE)), 6), n FROM s
         UNION ALL SELECT 'discount_tax',
           round(CAST(n*p_dt - s_d*s_t AS DOUBLE)
             / sqrt(CAST(n*q_d - s_d*s_d AS DOUBLE)
                  * CAST(n*q_t - s_t*s_t AS DOUBLE)), 6), n FROM s""",

    // both directions per qualifying pair; lift's n_ab*N product exact
    "market_basket" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                     FROM lineitem),
           nb AS (SELECT count(DISTINCT b) AS n_baskets FROM it),
           ic AS (SELECT i, count(*) AS n_i FROM it GROUP BY 1),
           pr AS (SELECT l.i AS item_a, r.i AS item_b, count(*) AS n_ab
                  FROM it l JOIN it r ON l.b = r.b AND l.i < r.i
                  GROUP BY 1, 2 HAVING count(*) >= 2),
           dir AS (SELECT item_a, item_b, n_ab FROM pr
                   UNION ALL SELECT item_b, item_a, n_ab FROM pr)
         SELECT d.item_a, d.item_b, d.n_ab, a.n_i AS n_a, b.n_i AS n_b,
           nb.n_baskets,
           CAST(d.n_ab AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE) AS support,
           CAST(d.n_ab AS DOUBLE) / CAST(a.n_i AS DOUBLE) AS confidence,
           CAST(d.n_ab * nb.n_baskets AS DOUBLE)
             / CAST(a.n_i * b.n_i AS DOUBLE) AS lift
         FROM dir d JOIN ic a ON d.item_a = a.i
           JOIN ic b ON d.item_b = b.i, nb""",

    // exact-cents rolling windows: double rolling sums would round
    // differently under DuckDB's segment-tree aggregation
    "lag_features" ->
      """SELECT user_id AS k, CAST(ts AS TIMESTAMP) AS ts, event_id AS id,
           value,
           lag(value) OVER w AS lag1_value,
           CAST(round(value * 100) AS BIGINT)
             - lag(CAST(round(value * 100) AS BIGINT)) OVER w AS delta_cents,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w3 AS BIGINT)
             AS rolling3_sum_cents,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w3 AS DOUBLE)
             / count(*) OVER w3 / 100.0 AS rolling3_mean
         FROM events
         WINDOW w AS (PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id),
           w3 AS (PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""",

    // per-category sums broadcast back; LOO = (S - x)/(n - 1)/100 in
    // fixed-order divisions of exact inputs
    "target_encoding" ->
      """WITH x AS (SELECT event_id AS id, event_type AS cat, value,
               CAST(round(value * 100) AS BIGINT) AS c FROM events),
           s AS (SELECT cat, count(*) AS n_cat,
                   CAST(sum(c) AS BIGINT) AS s_cat FROM x GROUP BY 1)
         SELECT id, cat, value AS target,
           CASE WHEN n_cat = 1 THEN NULL
                ELSE CAST(s_cat - c AS DOUBLE) / (n_cat - 1) / 100.0
                END AS loo_mean
         FROM x JOIN s USING (cat)""",

    // candidate = pure function of (user, item, j) through the portable
    // hash; collisions with true positives anti-joined away
    "negative_sampling" ->
      """WITH pos AS (SELECT DISTINCT o_custkey AS u, l_partkey AS p
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           mx AS (SELECT max(p_partkey) AS np FROM part),
           js AS (SELECT unnest(range(4)) AS j),
           cand AS (SELECT u, p, j,
               1 + ((u * 31 + p * 4 + j) * 1000003 % 1000000007) % np AS neg
             FROM pos, mx, js)
         SELECT c.u AS custkey, c.p AS pos_part, c.j, c.neg AS neg_part
         FROM cand c ANTI JOIN pos q ON c.u = q.u AND c.neg = q.p""",

    // sketch: integer bucket counts + cumulative first-reach; truth:
    // discrete rank selection — both all-integer
    "histogram_quantiles" ->
      """WITH x AS (SELECT o_orderpriority AS g,
               CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
           r AS (SELECT g, c,
                   row_number() OVER (PARTITION BY g ORDER BY c) AS rn,
                   count(*) OVER (PARTITION BY g) AS n_part FROM x),
           t AS (SELECT g, count(*) AS n,
                   max(CASE WHEN rn = (n_part * 50 + 99) // 100 THEN c END)
                     AS true_p50_cents,
                   max(CASE WHEN rn = (n_part * 95 + 99) // 100 THEN c END)
                     AS true_p95_cents
                 FROM r GROUP BY 1),
           h AS (SELECT g, c // 1000000 AS bucket, count(*) AS n_b
                 FROM x GROUP BY 1, 2),
           cm AS (SELECT g, bucket,
                   CAST(sum(n_b) OVER (PARTITION BY g ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum
                 FROM h),
           e AS (SELECT cm.g,
                   (min(CASE WHEN cum * 100 >= t.n * 50 THEN bucket END) + 1)
                     * 1000000 AS est_p50_cents,
                   (min(CASE WHEN cum * 100 >= t.n * 95 THEN bucket END) + 1)
                     * 1000000 AS est_p95_cents
                 FROM cm JOIN t ON cm.g = t.g GROUP BY cm.g, t.n)
         SELECT t.g, t.n, true_p50_cents, est_p50_cents,
           true_p95_cents, est_p95_cents
         FROM t JOIN e ON t.g = e.g""",

    // two lags over the (ts, id) total order; support threshold keeps
    // the head
    "sequence_ngrams" ->
      """WITH s AS (SELECT user_id AS u, event_type AS s,
               lag(event_type, 2) OVER w AS s1,
               lag(event_type, 1) OVER w AS s2
             FROM events
             WINDOW w AS (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id))
         SELECT s1 || '>' || s2 || '>' || s AS path, count(*) AS n,
           count(DISTINCT u) AS n_users
         FROM s WHERE s1 IS NOT NULL GROUP BY 1 HAVING count(*) >= 5""",

    // windows pinned to the feed's own max day; exact distinct-day counts
    "churn_label" ->
      """WITH d AS (SELECT user_id AS u, CAST(ts AS DATE) AS day FROM events),
           m AS (SELECT max(day) AS max_day FROM d),
           f AS (SELECT u, day, max_day FROM d, m WHERE day >= max_day - 13),
           a AS (SELECT u,
                   count(DISTINCT CASE WHEN day <= max_day - 7 THEN day END)
                     AS days_w1,
                   count(DISTINCT CASE WHEN day > max_day - 7 THEN day END)
                     AS days_w2
                 FROM f GROUP BY 1)
         SELECT u AS user_id, days_w1, days_w2,
           CASE WHEN days_w2 = 0 THEN 1 ELSE 0 END AS churned
         FROM a WHERE days_w1 > 0""",

    // discrete-rank quartiles; the scale step is one sub + one div of
    // bit-identical doubles — no rounding
    "robust_scale" ->
      """WITH x AS (SELECT vec_id, pos - 1 AS dim, val AS x
               FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS val,
                       generate_subscripts(embedding, 1) AS pos
                     FROM embeddings)),
           r AS (SELECT dim, x,
                   row_number() OVER (PARTITION BY dim ORDER BY x) AS rn,
                   count(*) OVER (PARTITION BY dim) AS n_part FROM x),
           c AS (SELECT dim,
                   max(CASE WHEN rn = (n_part * 25 + 99) // 100 THEN x END)
                     AS q1,
                   max(CASE WHEN rn = (n_part * 50 + 99) // 100 THEN x END)
                     AS med,
                   max(CASE WHEN rn = (n_part * 75 + 99) // 100 THEN x END)
                     AS q3
                 FROM r GROUP BY 1)
         SELECT x.vec_id, x.dim, x.x,
           CASE WHEN q3 = q1 THEN NULL
                ELSE (x.x - med) / (q3 - q1) END AS x_scaled
         FROM x JOIN c ON x.dim = c.dim""",

    // whole-second durations: floor(b) - floor(a) counts the same
    // boundaries as date_diff('second') for fractional timestamps
    "time_weighted_avg" ->
      """WITH x AS (SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS ts,
               event_id AS id,
               CAST(round(value * 100) AS BIGINT) AS c FROM events),
           h AS (SELECT u, c, date_diff('second', ts,
                   lead(ts) OVER (PARTITION BY u ORDER BY ts, id)) AS dur
                 FROM x),
           f AS (SELECT u, c, dur FROM h WHERE dur IS NOT NULL)
         SELECT u AS key, count(*) AS n_holds,
           CAST(sum(dur) AS BIGINT) AS total_seconds,
           CASE WHEN sum(dur) = 0 THEN NULL
                ELSE CAST(sum(dur * c) AS DOUBLE)
                   / CAST(sum(dur) AS BIGINT) / 100.0 END AS twap
         FROM f GROUP BY 1""",

    // rank() over cents only — ties share a rank, tie order cannot leak
    "quantile_normalize" ->
      """WITH x AS (SELECT event_type AS g, event_id AS id, value,
               CAST(round(value * 100) AS BIGINT) AS c FROM events),
           r AS (SELECT g, id, value,
                   rank() OVER (PARTITION BY g ORDER BY c) AS rk,
                   count(*) OVER (PARTITION BY g) AS n_part FROM x)
         SELECT g, id, value,
           CASE WHEN n_part = 1 THEN NULL
                ELSE CAST(rk - 1 AS DOUBLE) / CAST(n_part - 1 AS DOUBLE)
                END AS q_norm
         FROM r""",

    // units of cents/700 keep every component integer until one final
    // division; weekday = epoch-day mod 7 (no engine dow convention)
    "seasonal_decompose" ->
      """WITH daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
             FROM events GROUP BY 1, 2),
           t AS (SELECT g, day, c,
                   CAST(sum(c) OVER (PARTITION BY g ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
                     AS t7,
                   row_number() OVER (PARTITION BY g ORDER BY day) AS rn,
                   count(*) OVER (PARTITION BY g) AS n_part
                 FROM daily),
           i AS (SELECT g, day, c, t7, 7 * c - t7 AS r7,
                   date_diff('day', DATE '1970-01-01', day) % 7 AS wd
                 FROM t WHERE rn >= 4 AND rn <= n_part - 3),
           s AS (SELECT g, wd, count(*) AS n_wd,
                   CAST(sum(r7) AS BIGINT) AS s_r7
                 FROM i GROUP BY 1, 2)
         SELECT i.g, i.day,
           CAST(c AS DOUBLE) / 100.0 AS value,
           CAST(t7 AS DOUBLE) / 700.0 AS trend,
           CAST(s_r7 AS DOUBLE) / (n_wd * 700) AS seasonal,
           CAST(r7 AS DOUBLE) / 700.0
             - CAST(s_r7 AS DOUBLE) / (n_wd * 700) AS residual
         FROM i JOIN s ON i.g = s.g AND i.wd = s.wd""",

    // trigger-slicing-invariant count merges == the batch recompute
    "streaming_heavy_hitters" ->
      """SELECT user_id AS key, count(*) AS n,
           CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM events) AS share
         FROM events GROUP BY user_id
         ORDER BY n DESC, key ASC LIMIT 10""",

    // doubled average ranks stay integer: 2*avg_rank = 2*cum + t + 1
    "auc_rank" ->
      """WITH x AS (SELECT CAST(round(value * 100) AS BIGINT) AS c,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
             FROM events),
           g AS (SELECT c, count(*) AS t, CAST(sum(y) AS BIGINT) AS p
                 FROM x GROUP BY 1),
           w AS (SELECT c, t, p,
                   COALESCE(CAST(sum(t) OVER (ORDER BY c
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS cum FROM g),
           a AS (SELECT CAST(sum(p) AS HUGEINT) AS npos,
                   CAST(sum(t - p) AS HUGEINT) AS nneg,
                   CAST(sum(CAST(p AS HUGEINT)
                     * (2 * CAST(cum AS HUGEINT) + t + 1)) AS HUGEINT) AS r2
                 FROM w)
         SELECT CAST(npos AS BIGINT) AS n_pos, CAST(nneg AS BIGINT) AS n_neg,
           CASE WHEN npos = 0 OR nneg = 0 THEN NULL
                ELSE round(CAST(r2 - npos * (npos + 1) AS DOUBLE)
                       / CAST(2 * npos * nneg AS DOUBLE), 6) END AS auc
         FROM a""",

    // theta from pooled exact moments; fixed IEEE op sequence, round 6
    "cuped_adjust" ->
      """WITH pu AS (SELECT user_id AS u,
               CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS HUGEINT) AS x,
               CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS HUGEINT) AS y
             FROM events GROUP BY 1),
           a AS (SELECT (u * 1000003 % 1000000007) % 2 AS arm, x, y FROM pu),
           m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                   CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
                   CAST(sum(x * y) AS HUGEINT) AS sxy,
                   CAST(sum(x * x) AS HUGEINT) AS sxx FROM a),
           b AS (SELECT arm, count(*) AS na,
                   CAST(sum(x) AS DOUBLE) AS sxa,
                   CAST(sum(y) AS DOUBLE) AS sya FROM a GROUP BY 1),
           w AS (SELECT
               max(CASE WHEN arm = 0 THEN na END) AS n0,
               max(CASE WHEN arm = 1 THEN na END) AS n1,
               max(CASE WHEN arm = 0 THEN sxa END) AS x0,
               max(CASE WHEN arm = 1 THEN sxa END) AS x1,
               max(CASE WHEN arm = 0 THEN sya END) AS y0,
               max(CASE WHEN arm = 1 THEN sya END) AS y1
             FROM b),
           t AS (SELECT w.*,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
               CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
             FROM w, m)
         SELECT n0 AS n_control, n1 AS n_treatment,
           round(theta, 6) AS theta,
           round(y0 / n0 / 100.0, 6) AS mean_control,
           round(y1 / n1 / 100.0, 6) AS mean_treatment,
           round((y0 / n0 - theta * (x0 / n0 - xbar)) / 100.0, 6) AS adj_control,
           round((y1 / n1 - theta * (x1 / n1 - xbar)) / 100.0, 6) AS adj_treatment,
           round((y1 / n1 - theta * (x1 / n1 - xbar)) / 100.0
               - (y0 / n0 - theta * (x0 / n0 - xbar)) / 100.0, 6) AS diff_adjusted
         FROM t""",

    // exact HUGEINT D-numerator over the distinct-cents domain; the
    // rejection compares the unrounded fixed-shape doubles on both sides
    "ks_test" ->
      """WITH x AS (SELECT CAST(round(value * 100) AS BIGINT) AS c,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia
             FROM events WHERE event_type IN ('purchase', 'click')),
           g AS (SELECT c, CAST(sum(ia) AS BIGINT) AS ta,
                   CAST(sum(1 - ia) AS BIGINT) AS tb FROM x GROUP BY 1),
           w AS (SELECT c,
                   CAST(sum(ta) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum_a,
                   CAST(sum(tb) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum_b,
                   CAST(sum(ta) OVER () AS HUGEINT) AS n_a,
                   CAST(sum(tb) OVER () AS HUGEINT) AS n_b
                 FROM g),
           d AS (SELECT c, n_a, n_b,
                   abs(cum_a * n_b - cum_b * n_a) AS dnum,
                   max(abs(cum_a * n_b - cum_b * n_a)) OVER () AS mx
                 FROM w),
           m AS (SELECT n_a, n_b, mx, min(c) AS at_cents FROM d
                 WHERE dnum = mx GROUP BY 1, 2, 3)
         SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           at_cents,
           round(CAST(mx AS DOUBLE) / CAST(n_a * n_b AS DOUBLE), 6) AS d_stat,
           round(1.3581 * sqrt(CAST(n_a + n_b AS DOUBLE)
             / CAST(n_a * n_b AS DOUBLE)), 6) AS crit_05,
           (CAST(mx AS DOUBLE) / CAST(n_a * n_b AS DOUBLE))
             > (1.3581 * sqrt(CAST(n_a + n_b AS DOUBLE)
                 / CAST(n_a * n_b AS DOUBLE))) AS reject_05
         FROM m""",

    // ordered-EMD per class: exact |cumC*N - cumG*n| numerators summed
    // in HUGEINT over the classes x bucket-domain grid, one division
    "t_closeness" ->
      """WITH x AS (SELECT event_type,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(round(value * 100) AS BIGINT) // 5000 AS b FROM events),
           g AS (SELECT b, count(*) AS g FROM x GROUP BY 1),
           gw AS (SELECT b, CAST(sum(g) OVER (ORDER BY b ROWS BETWEEN
                    UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum_g
                  FROM g),
           tot AS (SELECT CAST(count(*) AS HUGEINT) AS nn,
                     CAST(count(DISTINCT b) AS HUGEINT) AS m FROM x),
           cls AS (SELECT event_type, day, count(*) AS n FROM x GROUP BY 1, 2),
           cc AS (SELECT event_type, day, b, count(*) AS c
                  FROM x GROUP BY 1, 2, 3),
           grid AS (SELECT cls.event_type, cls.day, cls.n, gw.b, gw.cum_g,
                      CAST(COALESCE(cc.c, 0) AS HUGEINT) AS c0
                    FROM cls CROSS JOIN gw
                    LEFT JOIN cc ON cc.event_type = cls.event_type
                      AND cc.day = cls.day AND cc.b = gw.b),
           w AS (SELECT event_type, day, n, cum_g,
                   CAST(sum(c0) OVER (PARTITION BY event_type, day ORDER BY b
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS HUGEINT) AS cum_c FROM grid),
           e AS (SELECT event_type, day, n,
                   sum(abs(cum_c * (SELECT nn FROM tot)
                     - cum_g * CAST(n AS HUGEINT))) AS num
                 FROM w GROUP BY 1, 2, 3)
         SELECT event_type, day, n,
           CASE WHEN (SELECT m FROM tot) > 1
             THEN round(CAST(num AS DOUBLE) / CAST(CAST(n AS HUGEINT)
               * (SELECT nn FROM tot) * ((SELECT m FROM tot) - 1)
               AS DOUBLE), 6)
             ELSE 0.0 END AS emd,
           (CASE WHEN (SELECT m FROM tot) > 1
             THEN round(CAST(num AS DOUBLE) / CAST(CAST(n AS HUGEINT)
               * (SELECT nn FROM tot) * ((SELECT m FROM tot) - 1)
               AS DOUBLE), 6)
             ELSE 0.0 END) > 0.2 AS violates
         FROM e""",

    // exact integer ACF: n^2 clears the rational mean; HUGEINT moments
    "acf_lags" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
             FROM orders GROUP BY 1),
           s AS (SELECT row_number() OVER (ORDER BY day) AS idx,
                   CAST(x AS HUGEINT) AS x FROM daily),
           tot AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS s,
                     sum(x * x) AS sxx FROM s),
           h AS (SELECT t.k, a.idx + t.k AS j, a.x AS xh
                 FROM s a, range(1, 8) t(k)),
           p AS (SELECT h.k, h.xh, b.x AS xt FROM h JOIN s b ON h.j = b.idx),
           l AS (SELECT k, CAST(count(*) AS HUGEINT) AS np,
                   sum(xh * xt) AS sxy, sum(xh) AS sh, sum(xt) AS st
                 FROM p GROUP BY 1)
         SELECT CAST(k AS BIGINT) AS lag, CAST(np AS BIGINT) AS n_pairs,
           round(CAST(n * n * sxy - n * s * (sh + st) + np * s * s AS DOUBLE)
             / CAST(n * n * sxx - n * s * s AS DOUBLE), 6) AS acf
         FROM l, tot ORDER BY lag""",

    // largest-remainder proration: floor shares + one extra cent to the
    // top-remainder lines; per-order sums land exactly on the budget
    "prorate_allocate" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS line_cents
             FROM lineitem),
           t AS (SELECT l_orderkey, l_linenumber, line_cents,
                   CAST(sum(line_cents) OVER (PARTITION BY l_orderkey)
                     AS BIGINT) AS tot
                 FROM b),
           f AS (SELECT *, (tot * 5) // 100 AS budget,
                   CASE WHEN tot = 0 THEN CAST(0 AS BIGINT)
                     ELSE (((tot * 5) // 100) * line_cents) // tot END AS fl,
                   CASE WHEN tot = 0 THEN CAST(0 AS BIGINT)
                     ELSE (((tot * 5) // 100) * line_cents) % tot END AS rem
                 FROM t),
           r AS (SELECT *, row_number() OVER (PARTITION BY l_orderkey
                     ORDER BY rem DESC, l_linenumber ASC) AS extra_rank,
                   budget - CAST(sum(fl) OVER (PARTITION BY l_orderkey)
                     AS BIGINT) AS short
                 FROM f)
         SELECT l_orderkey, l_linenumber, line_cents, budget,
           CAST(fl + CASE WHEN extra_rank <= short THEN 1 ELSE 0 END
             AS BIGINT) AS alloc_cents
         FROM r""",

    // per-cell MI: one division feeding one ln — no cross-row double sum
    "feature_mi" ->
      """WITH x AS (SELECT least(CAST(round(value * 100) AS BIGINT) // 5000, 5)
                 AS bucket, event_type AS label FROM events),
           c AS (SELECT bucket, label, count(*) AS n FROM x GROUP BY 1, 2),
           t AS (SELECT bucket, label, n,
                   CAST(sum(n) OVER (PARTITION BY bucket) AS BIGINT) AS n_b,
                   CAST(sum(n) OVER (PARTITION BY label) AS BIGINT) AS n_t,
                   CAST(sum(n) OVER () AS BIGINT) AS n_all FROM c)
         SELECT bucket, label, n,
           round(CAST(n * n_all AS DOUBLE) / CAST(n_b * n_t AS DOUBLE), 6)
             AS lift,
           round(CAST(n AS DOUBLE) / CAST(n_all AS DOUBLE)
             * ln(CAST(n * n_all AS DOUBLE) / CAST(n_b * n_t AS DOUBLE)), 6)
             AS mi_contrib
         FROM t""",

    // priority = w*1e6/(hash+1): two IEEE-exact ops, portable ordering;
    // output the exact integer hash, not the >15-sig-digit priority
    "weighted_sample" ->
      """WITH x AS (SELECT o_orderkey AS id,
               CAST(round(o_totalprice * 100) AS BIGINT) AS w_cents
             FROM orders),
           p AS (SELECT id, w_cents,
               CAST(w_cents AS DOUBLE) * 1000000.0
                 / CAST((id * 1000003 % 1000000007) + 1 AS DOUBLE) AS pr,
               (id * 1000003 % 1000000007) + 1 AS u_hash
             FROM x),
           r AS (SELECT id, w_cents, u_hash, pr,
               row_number() OVER (ORDER BY pr DESC, id ASC) AS rk FROM p)
         SELECT CAST(rk AS BIGINT) AS rk, id, w_cents, u_hash
         FROM r WHERE rk <= 200""",

    // per-unit (x,y) pairs; fixed IEEE sequence mirroring ratioMetricCi
    "ratio_metric_ci" ->
      """WITH pu AS (SELECT user_id AS u,
               CAST(sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                 AS HUGEINT) AS y,
               CAST(count(*) AS HUGEINT) AS x
             FROM events GROUP BY 1),
           m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(x * y) AS HUGEINT) AS sxy,
               CAST(sum(x * x) AS HUGEINT) AS sxx,
               CAST(sum(y * y) AS HUGEINT) AS syy FROM pu),
           t AS (SELECT CAST(n AS BIGINT) AS n_units,
               CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) / 100.0 AS r,
               CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) AS rc,
               CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
               CAST(n AS DOUBLE) AS nd,
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                  / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vx,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                  / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vy,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                  / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS cxy
             FROM m),
           s AS (SELECT n_units, r,
               sqrt((vy - 2.0 * rc * cxy + rc * rc * vx) / nd)
                 / xbar / 100.0 AS se
             FROM t)
         SELECT n_units, round(r, 6) AS ratio, round(se, 6) AS se,
           round(r - 1.96 * se, 6) AS ci_lo,
           round(r + 1.96 * se, 6) AS ci_hi
         FROM s""",

    // fixed exp(-1) integer thresholds; replicate means exact ratios;
    // CI = exact rank 2 / 39 of the 40 ascending replicate means
    "poisson_bootstrap" ->
      """WITH pu AS (SELECT user_id AS u,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
             FROM events GROUP BY 1),
           e AS (SELECT u, s, CAST(t.b AS BIGINT) AS b
                 FROM pu, range(40) t(b)),
           h AS (SELECT b, s,
                   (u * 131 + b) * 1000003 % 1000000007 AS h FROM e),
           ww AS (SELECT b, s,
                   CASE WHEN h < 367879444 THEN 0
                        WHEN h < 735758887 THEN 1
                        WHEN h < 919698609 THEN 2 ELSE 3 END AS w FROM h),
           rm AS (SELECT b, CAST(sum(w) AS HUGEINT) AS nw,
                   CAST(sum(w * s) AS HUGEINT) AS sw FROM ww GROUP BY 1),
           mb AS (SELECT b, CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE) / 100.0
                   AS mean_b FROM rm WHERE nw > 0),
           rk AS (SELECT b, mean_b,
                   row_number() OVER (ORDER BY mean_b, b) AS rn FROM mb),
           pt AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                   CAST(sum(s) AS HUGEINT) AS tot FROM pu)
         SELECT (SELECT count(*) FROM rk) AS n_replicates,
           round(CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS mean,
           round((SELECT mean_b FROM rk WHERE rn = 2), 6) AS ci_lo,
           round((SELECT mean_b FROM rk WHERE rn = 39), 6) AS ci_hi
         FROM pt""",

    // z constants as ONE literal each side; pooled var in exact cents
    "power_mde" ->
      """WITH pu AS (SELECT user_id AS u,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS s
             FROM events GROUP BY 1),
           a AS (SELECT (u * 1000003 % 1000000007) % 2 AS arm, s FROM pu),
           m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(s) AS HUGEINT) AS sy,
               CAST(sum(s * s) AS HUGEINT) AS syy,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
             FROM a),
           t AS (SELECT n0, n1, sy, n,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                  / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) / 10000.0
                 AS vp FROM m)
         SELECT n0, n1, round(sqrt(vp), 6) AS pooled_sd,
           round(2.801585 * sqrt(vp / n1 + vp / n0), 6) AS mde_abs,
           round(2.801585 * sqrt(vp / n1 + vp / n0)
             / (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 100.0), 6) AS mde_rel
         FROM t""",

    // quintiles of pre-period cents, deterministic (x, u) rank order
    "propensity_strata" ->
      """WITH pu AS (SELECT user_id AS u,
               CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                 AS BIGINT) AS x,
               CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                 AS BIGINT) AS y
             FROM events GROUP BY 1),
           a AS (SELECT u, x, y,
                   (u * 1000003 % 1000000007) % 2 AS arm FROM pu),
           r AS (SELECT *, row_number() OVER (ORDER BY x, u) AS rn,
                   count(*) OVER () AS n_all FROM a),
           s AS (SELECT *, (rn - 1) * 5 // n_all AS stratum FROM r),
           g AS (SELECT stratum, count(*) AS n,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS HUGEINT) AS sy0,
               CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS HUGEINT) AS sy1
             FROM s GROUP BY 1)
         SELECT CAST(stratum AS BIGINT) AS stratum, n, n0, n1,
           CASE WHEN n0 = 0 THEN NULL
                ELSE round(CAST(sy0 AS DOUBLE) / n0 / 100.0, 6)
                END AS mean_control,
           CASE WHEN n1 = 0 THEN NULL
                ELSE round(CAST(sy1 AS DOUBLE) / n1 / 100.0, 6)
                END AS mean_treatment,
           CASE WHEN n0 = 0 OR n1 = 0 THEN NULL
                ELSE round(CAST(sy1 AS DOUBLE) / n1 / 100.0
                       - CAST(sy0 AS DOUBLE) / n0 / 100.0, 6)
                END AS diff
         FROM g""",

    // contexts/continuations from the bigram TYPE table; D = 3/4
    "kneser_ney_lm" ->
      """WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
           bg AS (SELECT words[g+1] AS w1, words[g+2] AS w2
                  FROM w, UNNEST(range(len(words) - 1)) AS t(g)
                  WHERE len(words) >= 2),
           pc AS (SELECT w1, w2, count(*) AS n FROM bg GROUP BY 1, 2),
           cx AS (SELECT w1, CAST(sum(n) AS BIGINT) AS c_w1,
                   count(*) AS t_w1 FROM pc GROUP BY 1),
           cn AS (SELECT w2, count(*) AS cont_w2 FROM pc GROUP BY 1),
           tt AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM pc)
         SELECT pc.w1, pc.w2, pc.n, c_w1, t_w1, cont_w2,
           round(CAST(4 * CAST(pc.n AS HUGEINT) - 3 AS DOUBLE)
               / CAST(4 * CAST(c_w1 AS HUGEINT) AS DOUBLE)
             + CAST(3 * CAST(t_w1 AS HUGEINT) * cont_w2 AS DOUBLE)
               / CAST(4 * CAST(c_w1 AS HUGEINT) * tt AS DOUBLE), 6) AS p_kn
         FROM pc JOIN cx USING (w1) JOIN cn USING (w2) CROSS JOIN tt
         ORDER BY pc.n DESC, pc.w1 ASC, pc.w2 ASC LIMIT 20""",

    // k smallest distinct hashes per set; (k-1)*M/h_k estimator
    "kmv_sketch" ->
      """WITH d AS (SELECT DISTINCT event_type AS g,
               user_id * 1000003 % 1000000007 AS h FROM events),
           r AS (SELECT g, h,
                   row_number() OVER (PARTITION BY g ORDER BY h) AS rk
                 FROM d),
           sk AS (SELECT g, h FROM r WHERE rk <= 64),
           e AS (SELECT g, count(*) AS kk, max(h) AS hk
                 FROM sk GROUP BY 1),
           est AS (SELECT g, CASE WHEN kk < 64 THEN CAST(kk AS DOUBLE)
                     ELSE CAST(kk - 1 AS DOUBLE) * 1000000007.0
                       / CAST(hk AS DOUBLE) END AS est FROM e),
           gp AS (SELECT a.g AS ga, b.g AS gb
                  FROM (SELECT DISTINCT g FROM sk) a,
                       (SELECT DISTINCT g FROM sk) b WHERE a.g < b.g),
           pu AS (SELECT ga, gb, h FROM gp JOIN sk ON sk.g = gp.ga
                  UNION
                  SELECT ga, gb, h FROM gp JOIN sk ON sk.g = gp.gb),
           uk AS (SELECT ga, gb, h,
                   row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rk
                  FROM pu),
           ukk AS (SELECT ga, gb, h FROM uk WHERE rk <= 64),
           m0 AS (SELECT ukk.ga, ukk.gb, ukk.h,
                   CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
                        THEN 1 ELSE 0 END AS bothm
                  FROM ukk
                  LEFT JOIN sk sa ON sa.g = ukk.ga AND sa.h = ukk.h
                  LEFT JOIN sk sb ON sb.g = ukk.gb AND sb.h = ukk.h),
           m AS (SELECT ga, gb, count(*) AS ku, max(h) AS hku,
                   CAST(sum(bothm) AS BIGINT) AS n_both
                 FROM m0 GROUP BY 1, 2)
         SELECT m.ga, m.gb, n_both,
           round(ea.est, 6) AS est_a, round(eb.est, 6) AS est_b,
           round(CASE WHEN ku < 64 THEN CAST(ku AS DOUBLE)
             ELSE CAST(ku - 1 AS DOUBLE) * 1000000007.0
               / CAST(hku AS DOUBLE) END, 6) AS est_union,
           round(CAST(n_both AS DOUBLE) / CAST(ku AS DOUBLE)
             * (CASE WHEN ku < 64 THEN CAST(ku AS DOUBLE)
                 ELSE CAST(ku - 1 AS DOUBLE) * 1000000007.0
                   / CAST(hku AS DOUBLE) END), 6) AS est_inter
         FROM m JOIN est ea ON ea.g = m.ga JOIN est eb ON eb.g = m.gb""",

    // weights pre-summed per distinct value; integer cumsum thresholds
    "weighted_quantiles" ->
      """WITH x AS (SELECT l_returnflag AS g,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
               CAST(l_quantity AS BIGINT) AS w FROM lineitem),
           v AS (SELECT g, c, CAST(sum(w) AS BIGINT) AS wv
                 FROM x GROUP BY 1, 2),
           cu AS (SELECT g, c, wv,
               CAST(sum(wv) OVER (PARTITION BY g ORDER BY c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum,
               CAST(sum(wv) OVER (PARTITION BY g) AS BIGINT) AS tot
             FROM v)
         SELECT g, max(tot) AS total_weight,
           CAST(min(CASE WHEN cum * 4 >= tot THEN c END) AS DOUBLE) / 100.0
             AS p25,
           CAST(min(CASE WHEN cum * 2 >= tot THEN c END) AS DOUBLE) / 100.0
             AS p50,
           CAST(min(CASE WHEN cum * 4 >= tot * 3 THEN c END) AS DOUBLE)
             / 100.0 AS p75
         FROM cu GROUP BY 1""",

    // the oracle replays the deterministic bottom-k-by-hash sample and
    // its order statistics bit-for-bit
    "sketch_quantiles" -> sketchQuantilesOracle,

    // SAME oracle on purpose: merged per-shard sketches must equal the
    // global sketch (KMV merge identity) — the hash-match executes it
    "sketch_quantiles_merged" -> sketchQuantilesOracle,

    // unrolled peel; idempotent at fixpoint so extra rounds are no-ops
    "k_core" -> Graph.kCoreOracleSql(
      """SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                's' || CAST(l_suppkey AS VARCHAR) AS dst
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey % 5 = 0""", k = 3),

    // same (doc_id, pos) hash; string_agg ORDER BY pos rebuilds the doc
    "mlm_mask" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
             FROM documents),
           x AS (SELECT doc_id, g AS pos, words[g+1] AS tok,
                   ((doc_id * 131 + g) * 1000003 % 1000000007) % 100 < 15
                     AS m
                 FROM w, UNNEST(range(len(words))) AS t(g))
         SELECT doc_id,
           string_agg(CASE WHEN m THEN '[MASK]' ELSE tok END,
             ' ' ORDER BY pos) AS masked_text,
           CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           coalesce(string_agg(CASE WHEN m THEN pos || ':' || tok END,
             ',' ORDER BY pos), '') AS labels
         FROM x GROUP BY 1""",

    // integer kappa form: one division of exact products per column
    "rater_agreement" ->
      """WITH x AS (SELECT
               CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
               CASE WHEN len(string_split(text, ' ')) >= 60 THEN 1 ELSE 0
                 END AS b
             FROM documents),
           m AS (SELECT
               CAST(sum(a * b) AS BIGINT) AS n11,
               CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
               CAST(sum((1 - a) * b) AS BIGINT) AS n01,
               CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
             FROM x),
           t AS (SELECT n11, n10, n01, n00,
               n11 + n10 + n01 + n00 AS n,
               n11 + n00 AS agree,
               (n11 + n10) * (n11 + n01)
                 + (n00 + n01) * (n00 + n10) AS margins
             FROM m)
         SELECT n11, n10, n01, n00,
           round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
           round(CAST(margins AS DOUBLE) / CAST(n * n AS DOUBLE), 6) AS pe,
           CASE WHEN n * n = margins THEN NULL
                ELSE round(CAST(n * agree - margins AS DOUBLE)
                       / CAST(n * n - margins AS DOUBLE), 6) END AS kappa
         FROM t""",

    // unrolled integer power iteration shared with the operator
    "pca_power" -> Similarity.pcaPowerOracleSql(),

    // distinct sensitive values per quasi-identifier class
    "l_diversity" ->
      """SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           count(*) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS l_div
         FROM events GROUP BY 1, 2
         HAVING count(DISTINCT user_id) < 45""",

    // argmax by (weight DESC, shard DESC) == the struct array_max;
    // weight is squared mod M — nonlinear in s (see rendezvousHash doc)
    "rendezvous_hash" ->
      """WITH x AS (SELECT o_orderkey AS id FROM orders),
           p AS (SELECT id, CAST(t.s AS BIGINT) AS s,
                   (id * 1000003 + t.s * 7919 + 13) % 1000000007 AS xm
                 FROM x, range(9) t(s)),
           a AS (SELECT id, s, (xm * xm) % 1000000007 AS w FROM p),
           o8 AS (SELECT id, s AS old_shard FROM
                   (SELECT id, s, row_number() OVER (PARTITION BY id
                      ORDER BY w DESC, s DESC) AS rk
                    FROM a WHERE s < 8) WHERE rk = 1),
           n9 AS (SELECT id, s AS new_shard FROM
                   (SELECT id, s, row_number() OVER (PARTITION BY id
                      ORDER BY w DESC, s DESC) AS rk
                    FROM a) WHERE rk = 1)
         SELECT old_shard, new_shard, count(*) AS n,
           old_shard <> new_shard AS moved
         FROM o8 JOIN n9 USING (id) GROUP BY 1, 2""",

    // DCG gain literals generated by the same Scala computation the
    // operator uses — neither engine evaluates its own log2
    "ndcg_eval" -> Eval.ndcgOracleSql(),

    // integer rank -> integer decile cut; one rounded division per rate
    "decile_lift" ->
      """WITH pu AS (SELECT user_id AS u, count(*) AS score,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS pos
             FROM events GROUP BY 1),
           r AS (SELECT u, score, pos,
                   row_number() OVER (ORDER BY score DESC, u ASC) AS rn,
                   count(*) OVER () AS n_units
                 FROM pu),
           b AS (SELECT ((rn - 1) * 10) // n_units AS decile,
                   count(*) AS n_units, sum(pos) AS positives
                 FROM r GROUP BY 1),
           t AS (SELECT decile, n_units, positives,
                   sum(positives) OVER () AS tot_pos,
                   sum(n_units) OVER () AS tot_units,
                   sum(positives) OVER (ORDER BY decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum_pos
                 FROM b)
         SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n_units AS BIGINT) AS n_units,
           CAST(positives AS BIGINT) AS positives,
           round(CAST(positives AS DOUBLE) / CAST(n_units AS DOUBLE), 6)
             AS pos_rate,
           round(CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE), 6)
             AS cum_capture,
           round(CAST(positives * tot_units AS DOUBLE)
               / CAST(n_units * tot_pos AS DOUBLE), 6) AS lift
         FROM t""",

    // knn_classify's vote CTE + cell/margin counts; P/R are one
    // integer division each, rounded 1e-6
    "eval_confusion" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                    FROM embeddings),
           topk AS (
             SELECT q.vec_id AS q_id, q.label AS true_label,
                    c.label AS n_label
             FROM e q JOIN e c ON q.vec_id <> c.vec_id
             WHERE q.vec_id % 25 = 0
             QUALIFY row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                        c.vec_id ASC) <= 5),
           votes AS (SELECT q_id, true_label, n_label, count(*) AS n_votes
                     FROM topk GROUP BY 1, 2, 3),
           preds AS (SELECT q_id, true_label, n_label AS pred_label
                     FROM votes
                     QUALIFY row_number() OVER (PARTITION BY q_id
                       ORDER BY n_votes DESC, n_label ASC) = 1),
           cells AS (SELECT true_label, pred_label, count(*) AS n
                     FROM preds GROUP BY 1, 2),
           m AS (SELECT true_label, pred_label, n,
                   sum(n) OVER (PARTITION BY true_label) AS true_total,
                   sum(n) OVER (PARTITION BY pred_label) AS pred_total
                 FROM cells)
         SELECT true_label, pred_label, CAST(n AS BIGINT) AS n,
           CAST(true_total AS BIGINT) AS true_total,
           CAST(pred_total AS BIGINT) AS pred_total,
           round(CAST(n AS DOUBLE) / CAST(pred_total AS DOUBLE), 6)
             AS precision,
           round(CAST(n AS DOUBLE) / CAST(true_total AS DOUBLE), 6)
             AS recall
         FROM m""",

    // (o*n - r*c)^2 squared in HUGEINT (Spark: DECIMAL(38,0)) — the
    // difference reaches ~1e11 at sf0.1 and its square overflows BIGINT
    "chi2_independence" ->
      """WITH x AS (SELECT least(CAST(round(value * 100) AS BIGINT) // 5000,
                 5) AS bucket, event_type AS label FROM events),
           c AS (SELECT bucket, label, count(*) AS observed
                 FROM x GROUP BY 1, 2),
           t AS (SELECT label, bucket, observed,
                   CAST(sum(observed) OVER (PARTITION BY label) AS BIGINT)
                     AS row_total,
                   CAST(sum(observed) OVER (PARTITION BY bucket) AS BIGINT)
                     AS col_total,
                   CAST(sum(observed) OVER () AS BIGINT) AS n_all
                 FROM c)
         SELECT label, bucket, observed, row_total, col_total, n_all,
           round(CAST(row_total * col_total AS DOUBLE)
               / CAST(n_all AS DOUBLE), 6) AS expected,
           round(CAST(CAST(observed * n_all - row_total * col_total
                 AS HUGEINT)
               * (observed * n_all - row_total * col_total) AS DOUBLE)
               / CAST(CAST(row_total AS HUGEINT) * col_total * n_all
                 AS DOUBLE), 6) AS chi2_term
         FROM t""",

    // integer bin cut (10*clicks div total); mean_pred recovered from
    // exact integer micro-units so per-user fold order cannot matter
    "calibration_bins" ->
      """WITH pu AS (SELECT user_id AS u,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS clicks,
               count(*) AS total,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS pos
             FROM events GROUP BY 1),
           b AS (SELECT least((clicks * 10) // total, 9) AS bin,
                   (clicks * 1000000) // total AS pred_scaled, pos
                 FROM pu)
         SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT)
             AS n_units,
           CAST(sum(pos) AS BIGINT) AS positives,
           round(CAST(sum(pred_scaled) AS DOUBLE) / count(*) / 1000000.0, 6)
             AS mean_pred,
           round(CAST(sum(pos) AS DOUBLE) / count(*), 6) AS pos_rate
         FROM b GROUP BY 1""",

    "anomaly_zscore" ->
      """WITH x AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
               CAST(round(o_totalprice * 100) AS BIGINT) AS xc FROM orders),
           st AS (SELECT o_orderpriority, count(*) AS n,
                    sum(CAST(xc AS HUGEINT)) AS s,
                    sum(CAST(xc AS HUGEINT) * CAST(xc AS HUGEINT)) AS ss
                  FROM x GROUP BY 1)
         SELECT o_orderkey, x.o_orderpriority, o_totalprice
         FROM x JOIN st USING (o_orderpriority)
         WHERE (CAST(n AS HUGEINT) * xc - s) * (CAST(n AS HUGEINT) * xc - s) * 4 >
               (CAST(n AS HUGEINT) * ss - s * s) * 9""",

    // dominance is strict in at least one dimension, so exact (cost,
    // gain) duplicates all survive — same rule as the Spark operator
    "skyline_pareto" ->
      """SELECT p_partkey, p_retailprice, p_size FROM part p
         WHERE NOT EXISTS (SELECT 1 FROM part q
           WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
             AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))""",

    // same integer-micros lifetimes, window cumsum at-risk counts, and
    // ordered prefix-fold survival product (list_reduce == aggregate)
    "kaplan_meier" ->
      """WITH e AS (SELECT user_id AS u,
               epoch_us(CAST(ts AS TIMESTAMP)) AS m FROM events),
         us AS (SELECT u, min(m) AS f, max(m) AS l FROM e GROUP BY 1),
         mx AS (SELECT max(l) AS mt FROM us),
         lab AS (SELECT (l - f) // 3600000000 AS t,
                 l < mt - 43200000000 AS died FROM us CROSS JOIN mx),
         tot AS (SELECT count(*) AS n_tot FROM lab),
         byt AS (SELECT t,
               CAST(sum(CASE WHEN died THEN 1 ELSE 0 END) AS BIGINT) AS d,
               count(*) AS ended
             FROM lab GROUP BY 1),
         risk AS (SELECT t, d,
             (SELECT n_tot FROM tot) - coalesce(CAST(sum(ended) OVER
               (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING) AS BIGINT), 0) AS n
           FROM byt),
         ev AS (SELECT t, n, d FROM risk WHERE d > 0),
         arr AS (SELECT list(struct_pack(t := t, n := n, d := d)
                 ORDER BY t) AS a FROM ev)
         SELECT CAST(a[i+1].t AS BIGINT) AS t,
           CAST(a[i+1].n AS BIGINT) AS n_risk,
           CAST(a[i+1].d AS BIGINT) AS n_events,
           round(list_reduce(list_prepend(1.0,
             list_transform(a[1:i+1],
               y -> (CAST(y.n AS DOUBLE) - y.d) / y.n)),
             (p, q) -> p * q), 6) AS survival
         FROM arr, UNNEST(range(len(a))) AS s(i)""",

    "retention_cohorts" ->
      """WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
                    FROM events),
           c AS (SELECT user_id,
                   CAST(date_trunc('week', min(day)) AS DATE) AS cohort_week
                 FROM e GROUP BY 1)
         SELECT cohort_week,
           CAST(floor(date_diff('day', cohort_week, day) / 7) AS INT) AS week_offset,
           count(DISTINCT e.user_id) AS n_users, count(*) AS n_events
         FROM e JOIN c USING (user_id) GROUP BY 1, 2""",

    "event_transitions" ->
      """WITH t AS (SELECT event_type AS next_type,
               lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC) AS prev_type
             FROM events),
           g AS (SELECT prev_type, next_type, count(*) AS n FROM t
                 WHERE prev_type IS NOT NULL GROUP BY 1, 2)
         SELECT prev_type, next_type, n,
           CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
         FROM g""",

    "containment_pairs" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           sh AS (SELECT DISTINCT doc_id,
                    array_to_string(words[g+1:g+3], ' ') AS shingle
                  FROM w, UNNEST(range(len(words) - 2)) AS t(g)
                  WHERE len(words) >= 3),
           sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                 FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / least(za.n, zb.n) AS containment
         FROM i JOIN sz za ON za.doc_id = doc_a JOIN sz zb ON zb.doc_id = doc_b
         WHERE CAST(inter AS DOUBLE) / least(za.n, zb.n) >= 0.8""",

    "drift_report" ->
      """WITH b AS (SELECT CAST(floor(value / 10.0) AS BIGINT) AS bucket,
               CAST(date_diff('day', DATE '1970-01-01',
                 CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 2 AS INT) AS side
             FROM events),
           g AS (SELECT bucket,
                   sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n_a,
                   sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n_b
                 FROM b GROUP BY 1),
           t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM g)
         SELECT bucket, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE) AS p_a,
           CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE) AS p_b,
           abs(CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
             - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)) AS drift
         FROM g, t""",

    // same exact cents CDFs, cross-multiplied gap max (min-x tiebreak),
    // and squared HUGEINT decision (c^2 = 1844164/10^6)
    "ks_drift" ->
      """WITH b AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
               CAST(date_diff('day', DATE '1970-01-01',
                 CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 2 AS INT) AS side
             FROM events WHERE value IS NOT NULL),
         g AS (SELECT x,
               sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ca,
               sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cb
             FROM b GROUP BY 1),
         t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
               CAST(sum(cb) AS BIGINT) AS nb FROM g),
         c AS (SELECT x, na, nb,
               abs(CAST(sum(ca) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS BIGINT) * nb
                 - CAST(sum(cb) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS BIGINT) * na) AS g
             FROM g CROSS JOIN t),
         m AS (SELECT na, nb, max(g) AS d_num FROM c GROUP BY 1, 2)
         SELECT m.na AS n_a, m.nb AS n_b, CAST(m.d_num AS BIGINT) AS d_num,
           CAST(m.d_num AS DOUBLE) / (CAST(m.na AS DOUBLE) * m.nb) AS ks_d,
           (SELECT min(x) FROM c WHERE c.g = m.d_num) AS d_at_cents,
           CAST(m.d_num AS HUGEINT) * m.d_num * 1000000 >
             CAST(1844164 AS HUGEINT) * (m.na + m.nb) * m.na * m.nb
             AS reject
         FROM m""",

    // identical IEEE double expression shape as the Spark projection;
    // min/max are exact float selections, so codes match bit-for-bit
    "embedding_quantize" ->
      """WITH idx AS (SELECT UNNEST(range(64)) AS i),
           dim AS (SELECT i, min(embedding[i+1]) AS mn, max(embedding[i+1]) AS mx
                   FROM embeddings, idx GROUP BY i),
           arr AS (SELECT list(CAST(mn AS DOUBLE) ORDER BY i) AS mins,
                          list(CAST(mx AS DOUBLE) ORDER BY i) AS maxs FROM dim)
         SELECT vec_id, array_to_string(list_transform(range(len(embedding)), i ->
           CAST(CASE WHEN maxs[i+1] = mins[i+1] THEN 0
                ELSE floor((CAST(embedding[i+1] AS DOUBLE) - mins[i+1]) * 255.0
                           / (maxs[i+1] - mins[i+1])) END AS INT)), ',') AS codes
         FROM embeddings, arr""",

    // decimal-exact per-dim sums, one rounded division; min/max are
    // stored values (exact float→double, no arithmetic)
    "embedding_dim_stats" ->
      """SELECT pos - 1 AS dim, count(*) AS n,
           round(CAST(sum(CAST(val AS DECIMAL(38,18))) AS DOUBLE)
                 / count(*), 6) AS mean_v,
           min(val) AS min_v, max(val) AS max_v
         FROM (SELECT unnest(embedding::DOUBLE[]) AS val,
                 generate_subscripts(embedding, 1) AS pos FROM embeddings)
         GROUP BY 1""",

    // same score CTE as quality_score/quality_sample; the cut is exact
    // integer window-rank arithmetic (rn*100 <= n*keepPct)
    "quality_cut" ->
      """WITH q AS (SELECT doc_id, source,
               CAST(n_words AS BIGINT) AS n_words,
               0.5 * least(1.0, CAST(n_words AS DOUBLE) / 200.0)
                 + 0.3 * ttr + 0.2 * (1.0 - stop_ratio) AS score
             FROM (SELECT doc_id, source,
                     len(string_split(text, ' ')) AS n_words,
                     CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / CAST(len(string_split(text, ' ')) AS BIGINT) AS ttr,
                     CAST(len(list_filter(string_split(text, ' '),
                                          w -> w IN ('the', 'a'))) AS DOUBLE)
                       / CAST(len(string_split(text, ' ')) AS BIGINT) AS stop_ratio
                   FROM documents)),
         r AS (SELECT q.*,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rn,
                 CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
               FROM q)
         SELECT doc_id, source, n_words, score FROM r
         WHERE rn * 100 <= n * 25""",

    // identical floor-scaled slope keys ((a - mod) // den is exactly
    // divisible, so truncate == floor in both engines) and the same
    // lower-mid-rank median under the (key, den, num) total order
    "theil_sen" ->
      """WITH daily AS (SELECT event_type AS g,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
             FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         d AS (SELECT g, CAST(date_diff('day',
                 min(day) OVER (PARTITION BY g), day) AS BIGINT) AS x, y
             FROM daily),
         p AS (SELECT a.g, (b.y - a.y) * 1000000 AS num,
               b.x - a.x AS den
             FROM d a JOIN d b ON a.g = b.g AND a.x < b.x),
         k AS (SELECT g, num, den,
               (num - ((num % den) + den) % den) // den AS slope_key
             FROM p),
         r AS (SELECT g, slope_key, num, den,
               row_number() OVER (PARTITION BY g
                 ORDER BY slope_key, den, num) AS rn,
               count(*) OVER (PARTITION BY g) AS cnt
             FROM k),
         med AS (SELECT g, slope_key, CAST(cnt AS BIGINT) AS cnt
             FROM r WHERE rn = (cnt + 1) // 2),
         nd AS (SELECT g, CAST(count(*) AS BIGINT) AS n_days
             FROM daily GROUP BY 1)
         SELECT nd.g AS event_type, n_days,
           coalesce(cnt, 0) AS n_pairs,
           round(CAST(slope_key AS DOUBLE) / 1000000.0, 6) AS slope
         FROM nd LEFT JOIN med ON nd.g = med.g""",

    // scaled-integer CUSUM: S_t*n = n*cumsum_t - t*total stays BIGINT,
    // so the argmax day is bit-reproducible (earliest-day tiebreak)
    "changepoint_cusum" ->
      """WITH d AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                 count(*) AS c
               FROM events GROUP BY 1, 2),
         c AS (SELECT event_type, day,
                 CAST(row_number() OVER (PARTITION BY event_type
                   ORDER BY day ASC) AS BIGINT) AS t,
                 CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
                 CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS total
               FROM d),
         s AS (SELECT event_type, day,
                 n_days * cs - t * total AS s_scaled, n_days, total FROM c),
         p AS (SELECT *, max(abs(s_scaled)) OVER (PARTITION BY event_type) AS peak
               FROM s),
         f AS (SELECT event_type, day, s_scaled, n_days, total
               FROM p WHERE abs(s_scaled) = peak)
         SELECT event_type, day AS change_day, s_scaled, n_days,
                total AS n_events
         FROM (SELECT f.*, row_number() OVER (PARTITION BY event_type
                 ORDER BY day ASC) AS rn FROM f)
         WHERE rn = 1""",

    // the identical Holt recurrence replayed as a per-group recursive
    // CTE: same init (l1=x1, b1=x2-x1), same association order inside
    // every fold step, dyadic halvings exact — bit-identical doubles
    "holt_forecast" ->
      """WITH RECURSIVE
         d0 AS (SELECT event_type AS g,
                  CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                  CAST(count(*) AS DOUBLE) AS x
                FROM events GROUP BY 1, 2),
         d AS (SELECT g, x,
                 CAST(row_number() OVER (PARTITION BY g ORDER BY day)
                   AS BIGINT) AS t,
                 CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n_days
               FROM d0),
         r AS (
           SELECT d1.g, CAST(1 AS BIGINT) AS t,
                  d1.x AS l, coalesce(d2.x - d1.x, 0.0) AS b, d1.n_days
           FROM d d1 LEFT JOIN d d2 ON d2.g = d1.g AND d2.t = 2
           WHERE d1.t = 1
           UNION ALL
           SELECT d.g, r.t + 1,
                  0.5 * d.x + 0.5 * (r.l + r.b),
                  0.5 * ((0.5 * d.x + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b,
                  r.n_days
           FROM r JOIN d ON d.g = r.g AND d.t = r.t + 1)
         SELECT g AS event_type, n_days, l AS level, b AS trend,
                l + 7.0 * b AS forecast
         FROM r WHERE t = n_days""",

    // same first-event window, same exact-cents revenue sum cast to
    // double once at the end
    "attribution_first" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
               CAST(ts AS TIMESTAMP) AS ts, value FROM events),
         f AS (SELECT user_id, event_type AS first_channel
               FROM (SELECT user_id, event_type, row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS rn
                     FROM e)
               WHERE rn = 1),
         p AS (SELECT user_id,
                 sum(CASE WHEN event_type = 'purchase'
                     THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                   AS cents,
                 max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
               FROM e GROUP BY 1)
         SELECT first_channel, count(*) AS n_users,
           CAST(sum(converted) AS BIGINT) AS n_converters,
           CAST(sum(cents) AS DOUBLE) / 100.0 AS revenue
         FROM f JOIN p USING (user_id) GROUP BY 1""",

    // DuckDB's windowed median interpolates even frames as the mean of
    // the two middle BIGINTs — the same dyadic value the operator forms
    "rolling_median" ->
      """WITH d AS (SELECT event_type,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS c
             FROM events GROUP BY 1, 2)
         SELECT event_type, day, c,
           median(c) OVER (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med
         FROM d""",

    // same per-n gram expansion; ratio is one exact-long division
    "ngram_diversity" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS ws
                    FROM documents),
         u1 AS (SELECT source, unnest(ws) AS gram FROM w),
         u2 AS (SELECT source, array_to_string(ws[g+1:g+2], ' ') AS gram
                FROM w, UNNEST(range(len(ws) - 1)) AS t(g)
                WHERE len(ws) >= 2),
         u3 AS (SELECT source, array_to_string(ws[g+1:g+3], ' ') AS gram
                FROM w, UNNEST(range(len(ws) - 2)) AS t(g)
                WHERE len(ws) >= 3)
         SELECT source, 1 AS n, count(*) AS total,
           count(DISTINCT gram) AS n_distinct,
           CAST(count(DISTINCT gram) AS DOUBLE) / count(*) AS distinct_ratio
         FROM u1 GROUP BY 1
         UNION ALL
         SELECT source, 2, count(*), count(DISTINCT gram),
           CAST(count(DISTINCT gram) AS DOUBLE) / count(*)
         FROM u2 GROUP BY 1
         UNION ALL
         SELECT source, 3, count(*), count(DISTINCT gram),
           CAST(count(DISTINCT gram) AS DOUBLE) / count(*)
         FROM u3 GROUP BY 1""",

    // same cohort grid as retention_cohorts; money = exact cents until
    // the two final divisions; windowed sums cast off HUGEINT
    "cohort_ltv" ->
      """WITH b AS (SELECT user_id AS u, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               event_type AS ch, value AS v FROM events),
         c AS (SELECT u, CAST(date_trunc('week', min(day)) AS DATE) AS cohort_week
               FROM b GROUP BY 1),
         sz AS (SELECT cohort_week, count(*) AS cohort_users FROM c GROUP BY 1),
         cell AS (SELECT c.cohort_week,
                 CAST(floor(date_diff('day', c.cohort_week, b.day) / 7) AS INT)
                   AS week_offset,
                 count(DISTINCT b.u) AS n_active,
                 sum(CASE WHEN ch = 'purchase'
                     THEN CAST(round(v * 100) AS BIGINT) ELSE 0 END) AS cents
               FROM b JOIN c ON b.u = c.u GROUP BY 1, 2),
         cum AS (SELECT *, CAST(sum(cents) OVER (PARTITION BY cohort_week
                   ORDER BY week_offset ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS cum_cents FROM cell)
         SELECT cohort_week, week_offset, sz.cohort_users, n_active,
           CAST(cents AS DOUBLE) / 100.0 AS revenue,
           CAST(cum_cents AS DOUBLE) / 100.0 AS cum_revenue,
           CAST(cum_cents AS DOUBLE) / 100.0 / sz.cohort_users AS ltv
         FROM cum JOIN sz USING (cohort_week)""",

    // identical left-fold cosine doubles, so floor-bucketing can never
    // straddle a boundary differently across engines
    "similarity_histogram" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         p AS (SELECT list_cosine_similarity(a.v, b.v) AS cos
               FROM e a JOIN e b ON a.vec_id % 20 = 0 AND a.vec_id < b.vec_id),
         g AS (SELECT CAST(floor(cos * 10.0) AS BIGINT) AS bucket,
                 count(*) AS n_pairs FROM p GROUP BY 1)
         SELECT bucket, CAST(bucket AS DOUBLE) / 10.0 AS lo, n_pairs,
           CAST(n_pairs AS DOUBLE) / (SELECT count(*) FROM p) AS share
         FROM g""",

    // recency-wins fields via the same (orderdate, orderkey) version
    // order; lifetime spend through DECIMAL before the double cast
    "golden_record" ->
      """WITH v AS (SELECT *, row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
         SELECT o_custkey,
           max(CASE WHEN rn = 1 THEN o_orderstatus END) AS latest_status,
           max(CASE WHEN rn = 1 THEN o_orderpriority END) AS latest_priority,
           CAST(min(o_orderdate) AS DATE) AS first_order_day,
           max(o_totalprice) AS top_order_value,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS lifetime_spend,
           count(*) AS n_orders
         FROM v GROUP BY 1""",

    "zonemap_prune" ->
      """SELECT event_id, user_id, value FROM events
         WHERE value >= 100.0 AND value <= 250.0""",

    // pruning must be invisible in the result: plain day filter + agg
    "dpp_join" ->
      """SELECT CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS day,
                count(*) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents
         FROM events
         WHERE day(CAST(CAST(ts AS TIMESTAMP) AS DATE)) BETWEEN 1 AND 7
         GROUP BY 1""",

    "sink_compacted" ->
      """SELECT event_id, user_id, event_type, value FROM events""",

    "vocab_coverage" ->
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
                      FROM documents),
           v AS (SELECT w FROM (SELECT w, count(*) AS n FROM tok GROUP BY w)
                 ORDER BY n DESC, w ASC LIMIT 100)
         SELECT doc_id, count(*) AS n_tokens,
           CAST(sum(CASE WHEN w IN (SELECT w FROM v) THEN 1 ELSE 0 END) AS BIGINT)
             AS in_vocab,
           CAST(sum(CASE WHEN w IN (SELECT w FROM v) THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS coverage
         FROM tok GROUP BY doc_id""",

    // mean P(w2|w1) folded in position order (list_reduce) to mirror the
    // Spark op's deterministic sequential sum
    "doc_lm_score" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           bg AS (SELECT doc_id, g AS pos, words[g+1] AS w1, words[g+2] AS w2
                  FROM w, UNNEST(range(len(words) - 1)) AS t(g)
                  WHERE len(words) >= 2),
           cnt AS (SELECT w1, w2, count(*) AS nb FROM bg GROUP BY 1, 2),
           pre AS (SELECT w1, CAST(sum(nb) AS BIGINT) AS np FROM cnt GROUP BY 1),
           lm AS (SELECT w1, w2, CAST(nb AS DOUBLE) / np AS p
                  FROM cnt JOIN pre USING (w1)),
           j AS (SELECT doc_id, pos, p FROM bg JOIN lm USING (w1, w2)),
           a AS (SELECT doc_id, list(p ORDER BY pos ASC) AS ps, count(*) AS nbg
                 FROM j GROUP BY doc_id)
         SELECT doc_id, nbg AS n_bigrams,
           list_reduce(list_prepend(0.0, ps), (acc, x) -> acc + x) / nbg AS lm_score
         FROM a""",

    "cms_estimate" ->
      """WITH sk AS (
           SELECT d, b, count(*) AS c FROM (
             SELECT UNNEST([
               struct_pack(d := 0, b := ((user_id * 1000003 + 12345) % 2038074743) % 1024),
               struct_pack(d := 1, b := ((user_id * 999983 + 54321) % 2038074743) % 1024),
               struct_pack(d := 2, b := ((user_id * 824633 + 98765) % 2038074743) % 1024),
               struct_pack(d := 3, b := ((user_id * 7368787 + 13579) % 2038074743) % 1024)
             ], recursive := true) FROM events) GROUP BY d, b),
           top AS (SELECT user_id AS key, count(*) AS n FROM events
                   GROUP BY 1 ORDER BY n DESC, key ASC LIMIT 10),
           e AS (SELECT key, n, UNNEST([
               struct_pack(d := 0, b := ((key * 1000003 + 12345) % 2038074743) % 1024),
               struct_pack(d := 1, b := ((key * 999983 + 54321) % 2038074743) % 1024),
               struct_pack(d := 2, b := ((key * 824633 + 98765) % 2038074743) % 1024),
               struct_pack(d := 3, b := ((key * 7368787 + 13579) % 2038074743) % 1024)
             ], recursive := true) FROM top)
         SELECT key, n AS exact_n, min(c) AS cms_estimate
         FROM e JOIN sk USING (d, b) GROUP BY key, n""",

    "dq_freshness" ->
      """WITH g AS (SELECT event_type, count(*) AS n,
               max(CAST(ts AS TIMESTAMP)) AS max_ts FROM events GROUP BY 1),
           t AS (SELECT max(max_ts) AS gm FROM g)
         SELECT event_type, n, max_ts,
           CAST(floor(epoch(gm)) AS BIGINT)
             - CAST(floor(epoch(max_ts)) AS BIGINT) AS lag_seconds
         FROM g, t""",

    "user_active_time" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
           x AS (SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR CAST(floor(epoch(ts)) AS BIGINT)
                             - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                        THEN 1 ELSE 0 END AS new_session
                 FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
           y AS (SELECT user_id, ts,
                   CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                 FROM x),
           s AS (SELECT user_id AS key, session_id,
                   CAST(floor(epoch(min(ts))) AS BIGINT) AS st,
                   CAST(floor(epoch(max(ts))) AS BIGINT) AS en
                 FROM y GROUP BY user_id, session_id)
         SELECT key, count(*) AS n_sessions,
           CAST(sum(en - st) AS BIGINT) AS active_seconds,
           CAST(max(en - st) AS BIGINT) AS longest_session_seconds
         FROM s GROUP BY key""",

    "ngram_novelty" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           sh AS (SELECT DISTINCT doc_id,
                    array_to_string(words[g+1:g+3], ' ') AS shingle
                  FROM w, UNNEST(range(len(words) - 2)) AS t(g)
                  WHERE len(words) >= 3),
           fs AS (SELECT shingle, min(doc_id) AS fs FROM sh GROUP BY 1)
         SELECT doc_id, count(*) AS n_shingles,
           CAST(sum(CASE WHEN fs = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(sum(CASE WHEN fs = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS novelty
         FROM sh JOIN fs USING (shingle) GROUP BY doc_id""",

    "source_overlap" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS words FROM documents),
           sh AS (SELECT DISTINCT source,
                    array_to_string(words[g+1:g+3], ' ') AS shingle
                  FROM w, UNNEST(range(len(words) - 2)) AS t(g)
                  WHERE len(words) >= 3),
           sz AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
           i AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
                 FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
                 GROUP BY 1, 2)
         SELECT src_a, src_b, inter,
           CAST(inter AS DOUBLE) / (za.n + zb.n - inter) AS jaccard
         FROM i JOIN sz za ON za.source = src_a JOIN sz zb ON zb.source = src_b""",

    // same portable shingle hash + seed-42 family as literals
    // (TextDedup.sourceMinhashSimOracleSql)
    "source_minhash_sim" -> TextDedup.sourceMinhashSimOracleSql(),

    // sqrt is IEEE-exact in both engines; the normalizer folds per-lang
    // terms in lang order (list_reduce) to mirror the Spark fold
    "temperature_sample" ->
      """WITH c AS (SELECT lang AS s, count(*) AS n_s FROM documents GROUP BY 1),
           z AS (SELECT list_reduce(
                   list_prepend(0.0, list(sqrt(CAST(n_s AS DOUBLE)) ORDER BY s)),
                   (a, b) -> a + b) AS z FROM c),
           q AS (SELECT s, CAST(floor(200.0 * sqrt(CAST(n_s AS DOUBLE)) / z)
                   AS BIGINT) AS quota FROM c, z),
           r AS (SELECT lang AS s, doc_id AS id,
                   row_number() OVER (PARTITION BY lang
                     ORDER BY doc_id * 1000003 % 1000000007 ASC, doc_id ASC) AS rn
                 FROM documents)
         SELECT s AS lang, id AS doc_id, quota
         FROM r JOIN q USING (s) WHERE rn <= quota""",

    "concurrency_profile" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
           x AS (SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR CAST(floor(epoch(ts)) AS BIGINT)
                             - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                        THEN 1 ELSE 0 END AS new_session
                 FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
           y AS (SELECT user_id, ts,
                   CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                 FROM x),
           s AS (SELECT user_id AS key, session_id,
                   min(ts) AS session_start, max(ts) AS session_end
                 FROM y GROUP BY user_id, session_id),
           b AS (SELECT key, CAST(session_start AS DATE) AS day,
                   UNNEST([struct_pack(t := session_start, delta := 1),
                           struct_pack(t := CASE WHEN session_end = session_start
                                  THEN session_start + INTERVAL 1 SECOND
                                  ELSE session_end END, delta := -1)],
                          recursive := true)
                 FROM s),
           r AS (SELECT day,
                   CAST(sum(delta) OVER (PARTITION BY day
                     ORDER BY t ASC, delta ASC, key ASC
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
                 FROM b)
         SELECT day, max(running) AS max_concurrent,
           CAST(count(*) / 2 AS BIGINT) AS n_sessions
         FROM r GROUP BY day""",

    "flatten_json" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS props_k
         FROM events""",

    "window_latest" ->
      s"""WITH base AS ($evBase)
          SELECT * FROM base QUALIFY $latestWin = 1""",

    "dedup_exact" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
           CAST(l_shipdate AS TIMESTAMP) AS l_shipdate
         FROM lineitem
         QUALIFY row_number() OVER (PARTITION BY l_orderkey
           ORDER BY l_linenumber ASC, l_partkey ASC, l_suppkey ASC, l_extendedprice ASC) = 1""",

    "merge_upsert" ->
      """WITH tgt AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 2 = 0),
         src AS (
           SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice + 1.0 AS o_totalprice,
                  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 3 = 0)
         SELECT * FROM src
         UNION ALL
         SELECT * FROM tgt
         WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.o_orderkey = tgt.o_orderkey)""",

    // hints are plan-only: the oracle is the plain join
    "join_hint_merge" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1""",

    // same rank arithmetic, full sort (the thing the engine avoids)
    "exact_median_2pass" ->
      """WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders),
         s AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v),
         n AS (SELECT count(*) AS n FROM v)
         SELECT n.n, s.c AS median_cents FROM s, n
         WHERE s.rn = (n.n + 1) // 2""",

    // DuckDB's LATERAL keeps the same shape
    "sql_lateral_topk" ->
      """SELECT p.o_orderpriority, l.o_orderkey, l.o_totalprice
         FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                  WHERE o.o_orderpriority = p.o_orderpriority
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) l""",

    // string_agg with an explicit ORDER BY is the same total order
    "listagg_ordered" ->
      """SELECT o_orderpriority,
           string_agg(CAST(o_orderkey AS VARCHAR), ','
                      ORDER BY o_totalprice DESC, o_orderkey) AS top_keys
         FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders)
         WHERE rn <= 5 GROUP BY 1""",

    // melt = one UNION ALL branch per measure
    "unpivot_melt" ->
      """WITH w AS (SELECT o_orderpriority, count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
         FROM orders GROUP BY 1)
         SELECT o_orderpriority, 'n_orders' AS metric,
                CAST(n_orders AS BIGINT) AS value FROM w
         UNION ALL
         SELECT o_orderpriority, 'sum_cents', sum_cents FROM w""",

    // full outer on the key; action from side presence
    "merge_full_sync" ->
      """WITH tgt AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey % 2 = 0),
         src AS (
           SELECT o_orderkey, 'S' AS o_orderstatus,
                  o_totalprice + 1.0 AS o_totalprice
           FROM orders WHERE o_orderkey % 3 = 0)
         SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
                ELSE t.o_orderstatus END AS o_orderstatus,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                ELSE t.o_totalprice END AS o_totalprice,
           CASE WHEN s.o_orderkey IS NULL THEN 'delete'
                WHEN t.o_orderkey IS NULL THEN 'insert'
                ELSE 'update' END AS action
         FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey""",

    "merge_upsert_latest" ->
      s"""WITH base AS ($evBase),
          tgt AS (SELECT * FROM base WHERE event_id % 2 = 0 QUALIFY $latestWin = 1),
          src AS (SELECT * FROM base WHERE event_id % 2 = 1 QUALIFY $latestWin = 1)
          SELECT * FROM src
          UNION ALL
          SELECT * FROM tgt
          WHERE NOT EXISTS (SELECT 1 FROM src
                            WHERE src.user_id = tgt.user_id
                              AND src.event_type = tgt.event_type)""",

    "normalize_types" ->
      """SELECT event_id,
           TRY_CAST(CASE WHEN event_id % 10 = 0 THEN 'not-a-date'
                         ELSE strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') END AS DATE) AS visit_date,
           CAST(user_id AS VARCHAR) AS visit_id,
           CAST(ts AS TIMESTAMP) AS load_ts
         FROM events""",

    "sanitize_complex" ->
      """SELECT event_id,
           CAST(to_json([user_id, event_id]) AS VARCHAR) AS ids,
           CAST(to_json(struct_pack(t := event_type, u := user_id)) AS VARCHAR) AS meta
         FROM events""",

    "add_metadata" ->
      """SELECT event_id, event_type,
           TIMESTAMP '2026-01-01 00:00:00' AS load_timestamp,
           'events.parquet' AS source_file
         FROM events""",

    "dq_report" ->
      """WITH s AS (SELECT count(*) AS cnt,
                    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_keys,
                    count(DISTINCT o_orderkey) AS distinct_keys
             FROM orders)
         SELECT 'empty_input' AS check_name, cnt AS metric, cnt > 0 AS passed FROM s
         UNION ALL SELECT 'required_columns', CAST(0 AS BIGINT), true FROM s
         UNION ALL SELECT 'null_keys', null_keys, null_keys = 0 FROM s
         UNION ALL SELECT 'duplicate_keys', cnt - distinct_keys, cnt - distinct_keys = 0 FROM s
         UNION ALL SELECT 'low_volume', cnt, cnt >= 5 FROM s""",

    "agg_counts" ->
      """SELECT 'orders' AS table_name, count(*) AS record_count FROM orders
         UNION ALL SELECT 'lineitem', count(*) FROM lineitem
         UNION ALL SELECT 'events', count(*) FROM events
         UNION ALL SELECT 'customer', count(*) FROM customer""",

    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 2) AS DOUBLE) AS sum_disc_price,
           count(*) AS count_order,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",

    "window_rank" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
         FROM orders QUALIFY rnk <= 10""",

    "join_revenue" ->
      """SELECT r_name, n_name,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",

    "quality_filter" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CASE WHEN len(string_split(text, ' ')) < 20 THEN 'too_short'
                WHEN len(string_split(text, ' ')) > 400 THEN 'too_long'
                WHEN NOT contains(text, ' the ') AND NOT contains(text, ' la ')
                     AND NOT contains(text, ' der ') THEN 'no_stopwords'
                ELSE 'keep' END AS verdict
         FROM documents""",

    "embedding_norm_stats" ->
      """SELECT count(*) AS n_vectors,
           min(sqrt(list_dot_product(v, v))) AS min_norm,
           max(sqrt(list_dot_product(v, v))) AS max_norm,
           count(CASE WHEN sqrt(list_dot_product(v, v)) = 0.0 THEN 1 END) AS n_zero
         FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings)""",

    "pack_bins" ->
      """SELECT doc_id, n_tokens,
           CAST(floor(coalesce(sum(n_tokens) OVER (ORDER BY doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048) AS BIGINT)
             AS bin_id
         FROM (SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents)""",

    "supplier_rollup" ->
      """SELECT n_name,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           count(*) AS n_lines
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name""",

    "order_lateness" ->
      """SELECT o_orderkey,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
             CAST(last_ship AS DATE)) AS INT) AS days_to_last_ship
         FROM orders
         JOIN (SELECT l_orderkey, max(l_shipdate) AS last_ship
               FROM lineitem GROUP BY l_orderkey) l
           ON o_orderkey = l_orderkey""",

    "daily_active" ->
      """SELECT day, dau, n_events, dau - lag(dau, 1) OVER (ORDER BY day ASC) AS dau_delta
         FROM (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                 count(DISTINCT user_id) AS dau, count(*) AS n_events
               FROM events GROUP BY 1)""",

    "text_stats" ->
      """SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS BIGINT) AS ttr
         FROM documents""",

    "token_count" ->
      """SELECT lang, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
         FROM documents GROUP BY lang""",

    "quality_score" ->
      """SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, ttr, stop_ratio,
           0.5 * least(1.0, CAST(n_words AS DOUBLE) / 200.0)
             + 0.3 * ttr + 0.2 * (1.0 - stop_ratio) AS score
         FROM (SELECT doc_id,
                 len(string_split(text, ' ')) AS n_words,
                 CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS BIGINT) AS ttr,
                 CAST(len(list_filter(string_split(text, ' '),
                                      w -> w IN ('the', 'a'))) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS BIGINT) AS stop_ratio
               FROM documents)""",

    // same score; decile floor on the bit-identical double; reverse
    // cumulative over the <= 10 bucket rows
    "quality_prune_curve" ->
      """WITH s AS (
           SELECT 0.5 * least(1.0, CAST(n_words AS DOUBLE) / 200.0)
               + 0.3 * ttr + 0.2 * (1.0 - stop_ratio) AS score,
             n_words
           FROM (SELECT len(string_split(text, ' ')) AS n_words,
                   CAST(len(list_distinct(string_split(text, ' ')))
                     AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS BIGINT) AS ttr,
                   CAST(len(list_filter(string_split(text, ' '),
                                        w -> w IN ('the', 'a'))) AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS BIGINT)
                     AS stop_ratio
                 FROM documents)),
         b AS (SELECT least(CAST(floor(score * 10) AS INT), 9) AS b,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_words) AS BIGINT) AS n_tokens
           FROM s GROUP BY 1)
         SELECT b AS thr_decile,
           CAST(sum(n_docs) OVER (ORDER BY b DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS docs_kept,
           CAST(sum(n_tokens) OVER (ORDER BY b DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS tokens_kept
         FROM b""",

    // independent algorithm for the same exact integers: the op folds
    // sorted in-row n-gram runs; the oracle explodes every n-gram and
    // two-level-groups. Fractions are single divisions of exact longs.
    // the identical training loop unrolled + materialized per step,
    // generated beside the operator (the pcaPower precedent)
    "quality_probe" -> Text.qualityProbeOracleSql(),

    // the same quarter-injection as the registration (every 3rd doc with
    // >= 8 words repeats quarter 1 in slot 3), then the all-but-first
    // duplicate-line counts from (all, distinct) pairs
    "gopher_line_dup" ->
      ("""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws
               FROM documents),
         p AS (SELECT doc_id, text, ws, len(ws) AS m, len(ws) // 4 AS q
               FROM w),
         t AS (SELECT doc_id,
                 CASE WHEN m >= 8 THEN
                   array_to_string(ws[1:q], ' ') || chr(10)
                   || array_to_string(ws[q+1:2*q], ' ') || chr(10)
                   || (CASE WHEN doc_id % 3 = 0
                            THEN array_to_string(ws[1:q], ' ')
                            ELSE array_to_string(ws[2*q+1:3*q], ' ') END)
                   || chr(10)
                   || array_to_string(ws[3*q+1:m], ' ')
                 ELSE text END AS t2
               FROM p),
         gd AS (SELECT doc_id, t2 AS text FROM t)
         SELECT * FROM (
""" + Text.gopherLineDupRulesSql("gd") + "\n) q"),

    // the same four-quarter injection as the registration (terminal '.'
    // unless (doc_id+i)%3==0; " {" on line 2 for every 7th doc;
    // "lorem ipsum." as line 3 for every 11th), then C4's line keep
    // rules and page drop rules recomputed with DuckDB list functions;
    // the CTE chain is shared with c4_apply (one injection + one kept-
    // lines definition on the oracle side too)
    "c4_line_filter" -> (c4OracleCtes + """
         SELECT doc_id,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept_lines,
           CAST(coalesce(list_sum(list_transform(kept, x -> len(x))), 0)
                AS BIGINT) AS kept_chars,
           contains(t2, '{') AS has_brace,
           contains(lower(t2), 'lorem ipsum') AS has_lorem,
           (len(kept) >= 2 AND NOT contains(t2, '{')
             AND NOT contains(lower(t2), 'lorem ipsum')) AS c4_pass
         FROM k"""),

    // APPLY half: same CTE chain, page rules as the WHERE clause,
    // surviving lines rejoined
    "c4_apply" -> (c4OracleCtes + """
         SELECT doc_id, array_to_string(kept, chr(10)) AS text_clean
         FROM k
         WHERE len(kept) >= 2 AND NOT contains(t2, '{')
           AND NOT contains(lower(t2), 'lorem ipsum')"""),

    // generated beside the operator from the ONE mojibake table +
    // injection prefix (the qualityProbeOracleSql precedent), so the
    // repair chain and the every-5th-doc injection cannot drift
    // between the Spark and DuckDB sides
    "fix_encoding" -> Text.fixEncodingOracleSql(),

    // generated beside the operator from the ONE confusable table +
    // derived injection pairs (the fixEncodingOracleSql precedent)
    "confusable_normalize" -> Text.confusableNormalizeOracleSql(),

    // generated beside the operator: the injection CASE chain, the
    // bullet/ellipsis glyphs, the stop-word list, and every published
    // threshold are single-sourced (stop-word floor scaled 2 -> 1,
    // documented in the operator scaladoc)
    "gopher_quality" -> Text.gopherQualityOracleSql(),

    "gopher_repetition" -> Text.gopherRepetitionRulesSql("documents"),

    // doc_lm_score's chain verbatim, then the per-language tercile on
    // the bit-identical double (doc_id tiebreak fixes the boundary)
    "ccnet_buckets" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
               FROM documents),
           bg AS (SELECT doc_id, g AS pos, words[g+1] AS w1, words[g+2] AS w2
                  FROM w, UNNEST(range(len(words) - 1)) AS t(g)
                  WHERE len(words) >= 2),
           cnt AS (SELECT w1, w2, count(*) AS nb FROM bg GROUP BY 1, 2),
           pre AS (SELECT w1, CAST(sum(nb) AS BIGINT) AS np FROM cnt GROUP BY 1),
           lm AS (SELECT w1, w2, CAST(nb AS DOUBLE) / np AS p
                  FROM cnt JOIN pre USING (w1)),
           j AS (SELECT doc_id, pos, p FROM bg JOIN lm USING (w1, w2)),
           a AS (SELECT doc_id, list(p ORDER BY pos ASC) AS ps, count(*) AS nbg
                 FROM j GROUP BY doc_id),
           sc AS (SELECT doc_id,
                    list_reduce(list_prepend(0.0, ps), (acc, x) -> acc + x)
                      / nbg AS lm_score
                  FROM a),
           t AS (SELECT sc.doc_id, d.lang, sc.lm_score,
                   CAST(ntile(3) OVER (PARTITION BY d.lang
                     ORDER BY sc.lm_score DESC, sc.doc_id) AS INT) AS tercile
                 FROM sc JOIN documents d ON sc.doc_id = d.doc_id)
         SELECT doc_id, lang, lm_score, tercile,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
             ELSE 'tail' END AS bucket
         FROM t""",

    // same score arithmetic; the keep rule is exact integer hashing on
    // the bit-identical double (floor lands identically cross-engine)
    "quality_sample" ->
      """WITH q AS (SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               0.5 * least(1.0, CAST(n_words AS DOUBLE) / 200.0)
                 + 0.3 * ttr + 0.2 * (1.0 - stop_ratio) AS score
             FROM (SELECT doc_id,
                     len(string_split(text, ' ')) AS n_words,
                     CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / CAST(len(string_split(text, ' ')) AS BIGINT) AS ttr,
                     CAST(len(list_filter(string_split(text, ' '),
                                          w -> w IN ('the', 'a'))) AS DOUBLE)
                       / CAST(len(string_split(text, ' ')) AS BIGINT) AS stop_ratio
                   FROM documents))
         SELECT doc_id, n_words, score FROM q
         WHERE (doc_id * 1000003 % 1000000007) % 1000 < floor(score * 1000)""",

    // same trigram ranks (freq desc, gram asc), out-of-place penalty
    // (miss = profileK), argmin with lang-asc tiebreak
    "langid_ngram" ->
      """WITH g AS (SELECT doc_id, lang,
               unnest(list_transform(range(len(text) - 2),
                 i -> text[i+1:i+3])) AS g
             FROM documents WHERE len(text) >= 3),
         prof AS (SELECT lang AS plang, g,
               row_number() OVER (PARTITION BY lang
                 ORDER BY count(*) DESC, g) AS lrank
             FROM g GROUP BY lang, g
             QUALIFY lrank <= 40),
         dt AS (SELECT doc_id, g,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY count(*) DESC, g) AS drank
             FROM g GROUP BY doc_id, g
             QUALIFY drank <= 20),
         langs AS (SELECT DISTINCT plang FROM prof),
         pens AS (SELECT dt.doc_id, l.plang,
               coalesce(abs(dt.drank - p.lrank), 40) AS pen
             FROM dt CROSS JOIN langs l
             LEFT JOIN prof p ON p.plang = l.plang AND p.g = dt.g),
         d AS (SELECT doc_id, plang, CAST(sum(pen) AS BIGINT) AS dist
             FROM pens GROUP BY 1, 2),
         best AS (SELECT doc_id, plang, dist,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY dist, plang) AS rn
             FROM d)
         SELECT doc.doc_id, doc.lang,
           coalesce(b.plang, 'und') AS pred_lang, b.dist
         FROM documents doc
         LEFT JOIN best b ON b.doc_id = doc.doc_id AND b.rn = 1""",

    "lang_id" ->
      """SELECT doc_id, lang,
           CASE WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es THEN 'de'
                WHEN s_en > 0 AND s_en >= s_es THEN 'en'
                WHEN s_es > 0 THEN 'es'
                ELSE 'und' END AS pred_lang
         FROM (SELECT doc_id, lang,
                 len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS s_en,
                 len(list_filter(string_split(text, ' '), w -> w IN ('la', 'el'))) AS s_es,
                 len(list_filter(string_split(text, ' '), w -> w IN ('der', 'die'))) AS s_de
               FROM documents)""",

    // the whole training loop unrolled, merge fold included
    "bpe_train" -> Text.bpeTrainOracleSql(),

    // same unrolled loop + the corpus joined to the final vocab state
    "bpe_encode" -> Text.bpeEncodeOracleSql(),

    // same hash order statistics, 1-based inclusive list slicing
    "fim_split" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n FROM documents),
         c AS (SELECT doc_id, toks, n,
             CAST((doc_id * 1000003) % 1000000007 % (n + 1) AS INT) AS h1,
             CAST((doc_id * 131 + 7) % 1000000007 % (n + 1) AS INT) AS h2
           FROM t)
         SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(least(h1, h2) AS BIGINT) AS n_prefix,
           CAST(greatest(h1, h2) - least(h1, h2) AS BIGINT) AS n_middle,
           CAST(n - greatest(h1, h2) AS BIGINT) AS n_suffix,
           '<PRE> ' ||
           COALESCE(array_to_string(toks[1:least(h1, h2)], ' '), '') ||
           ' <SUF> ' ||
           COALESCE(array_to_string(toks[greatest(h1, h2) + 1:n], ' '), '') ||
           ' <MID> ' ||
           COALESCE(array_to_string(
             toks[least(h1, h2) + 1:greatest(h1, h2)], ' '), '')
             AS fim_text
         FROM c""",

    // fold generated by the same code as the op's parameters
    "span_corrupt" -> Text.spanCorruptOracleSql(),

    // R/X folds over hash slices + the S prefix-LM branch, unioned
    "denoiser_mix" -> Text.denoiserMixOracleSql(),

    // exact integer plan arithmetic over per-language token counts
    "token_budget_plan" ->
      """WITH a AS (SELECT lang,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT)
               AS avail_tokens
           FROM documents GROUP BY 1),
         w AS (SELECT * FROM (VALUES ('en', 500), ('zh', 200),
             ('de', 100), ('fr', 100), ('es', 100)) v(lang, w_pm)),
         t AS (SELECT a.lang, avail_tokens, CAST(w_pm AS BIGINT) AS w_pm,
             CAST(1000000 * w_pm // 1000 AS BIGINT) AS target_tokens
           FROM a JOIN w ON a.lang = w.lang)
         SELECT lang, avail_tokens, w_pm, target_tokens,
           CAST(target_tokens // avail_tokens AS BIGINT) AS full_epochs,
           CAST((target_tokens % avail_tokens) * 1000000 // avail_tokens
             AS BIGINT) AS residual_rate_ppm
         FROM t""",

    // same per-word polynomial hash as doc_fingerprint; integer div /
    // // are both truncating on the all-positive inputs here
    "dsir_affinity" ->
      """WITH w AS (
           SELECT doc_id, lang,
             CAST((ascii(x) * 31 + length(x)) % 256 AS BIGINT) AS b
           FROM (SELECT doc_id, lang,
                   unnest(string_split(text, ' ')) AS x
                 FROM documents)),
         ft AS (SELECT b,
                  CAST(cnt * 1000000 // sum(cnt) OVER () AS BIGINT) AS f_t
                FROM (SELECT b, CAST(count(*) AS BIGINT) AS cnt
                      FROM w WHERE lang = 'en' GROUP BY b)),
         fr AS (SELECT b,
                  CAST(cnt * 1000000 // sum(cnt) OVER () AS BIGINT) AS f_r
                FROM (SELECT b, CAST(count(*) AS BIGINT) AS cnt
                      FROM w GROUP BY b)),
         d AS (SELECT fr.b, COALESCE(f_t, 0) - f_r AS delta
               FROM fr LEFT JOIN ft ON fr.b = ft.b)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(delta) AS BIGINT) AS affinity
         FROM w JOIN d ON w.b = d.b
         GROUP BY 1""",

    "doc_fingerprint" ->
      """SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                              w -> CAST(ascii(w) * 31 + length(w) AS BIGINT))),
             (a, b) -> (a * 1000003 + b) % 1000000007) AS fingerprint
         FROM documents""",

    "repetition_score" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         occ AS (SELECT doc_id, array_to_string(words[g+1:g+3], ' ') AS shingle
                 FROM w, UNNEST(range(len(words) - 2)) AS t(g) WHERE len(words) >= 3),
         f AS (SELECT doc_id, shingle, count(*) AS freq FROM occ GROUP BY 1, 2)
         SELECT doc_id, max(freq) AS top_freq,
           CAST(sum(freq) AS BIGINT) AS n_shingles,
           CAST(max(freq) AS DOUBLE) / CAST(sum(freq) AS BIGINT) AS rep_ratio
         FROM f GROUP BY doc_id""",

    "decontaminate" ->
      """WITH sh AS (SELECT DISTINCT doc_id, array_to_string(words[g+1:g+3], ' ') AS shingle
                     FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) w,
                     UNNEST(range(len(words) - 2)) AS t(g) WHERE len(words) >= 3),
         probe AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 5),
         ov AS (SELECT doc_id, count(*) AS overlap FROM sh JOIN probe USING (shingle)
                WHERE doc_id >= 5 GROUP BY doc_id)
         SELECT d.doc_id, CAST(coalesce(ov.overlap, 0) AS BIGINT) AS overlap,
                coalesce(ov.overlap, 0) >= 5 AS contaminated
         FROM (SELECT doc_id FROM documents WHERE doc_id >= 5) d
         LEFT JOIN ov ON d.doc_id = ov.doc_id""",

    "doc_chunking" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         n AS (SELECT doc_id, words,
                 greatest(CAST(ceil((len(words) - 64) / 48.0) AS INT) + 1, 1) AS nc
               FROM w)
         SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           array_to_string(words[i*48+1 : i*48+64], ' ') AS chunk_text,
           CAST(len(string_split(array_to_string(words[i*48+1 : i*48+64], ' '), ' '))
             AS BIGINT) AS n_tokens
         FROM n, UNNEST(range(nc)) AS t(i)""",

    "text_clean" ->
      """SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
             '[0-9]+', '<num>', 'g'), ' +', ' ', 'g')) AS clean_text
         FROM documents""",

    "vocab_topk" ->
      """WITH terms AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
         SELECT term, count(*) AS freq FROM terms GROUP BY term
         ORDER BY freq DESC, term ASC LIMIT 20""",

    // same per-word polynomial hash + ±1 bit votes as TextDedup.simHash —
    // pure integer folding, so the fingerprints match bit-for-bit
    "simhash" ->
      """WITH h AS (
           SELECT doc_id,
             list_transform(string_split(text, ' '), w ->
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
                 (a, x) -> (a * 1000003 + x) % 2038074743)) AS hs
           FROM documents)
         SELECT doc_id,
           CAST(list_sum(list_transform(range(32), b ->
             CASE WHEN list_sum(list_transform(hs, v ->
                    CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                  THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
         FROM h""",

    // brute-force Hamming pairs over the same fingerprints — the banded
    // Spark path must find every one (pigeonhole guarantee)
    "simhash_pairs" ->
      """WITH h AS (
           SELECT doc_id,
             list_transform(string_split(text, ' '), w ->
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
                 (a, x) -> (a * 1000003 + x) % 2038074743)) AS hs
           FROM documents),
         s AS (
           SELECT doc_id,
             CAST(list_sum(list_transform(range(32), b ->
               CASE WHEN list_sum(list_transform(hs, v ->
                      CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
           FROM h)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",

    // uncapped all-pairs char-5-gram Jaccard ground truth
    "near_dedup_chars" ->
      """WITH sh AS (SELECT DISTINCT doc_id, substr(text, g+1, 5) AS shingle
                     FROM documents, UNNEST(range(length(text) - 4)) AS t(g)
                     WHERE length(text) >= 5),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY a.doc_id, b.doc_id)
         SELECT a AS doc_a, b AS doc_b,
                CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
         FROM pairs JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
         WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5""",

    "dedup_content_hash" ->
      """WITH inp AS (SELECT doc_id, text FROM documents
                      UNION ALL SELECT doc_id + 10000, text FROM documents)
         SELECT sha256(text) AS content_hash, min(doc_id) AS doc_id,
                count(*) AS n_copies
         FROM inp GROUP BY sha256(text)""",

    "near_dedup" -> nearDupOracle,

    // the oracle IS the uncapped brute force — completeness of the
    // prefix-filter candidates is checked pair-for-pair at t = 3/5
    "allpairs_jaccard" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         sh AS (SELECT DISTINCT doc_id, array_to_string(words[g+1:g+3], ' ') AS shingle
                FROM w, UNNEST(range(len(words) - 2)) AS t(g) WHERE len(words) >= 3),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY a.doc_id, b.doc_id)
         SELECT a AS doc_a, b AS doc_b,
                CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
         FROM pairs JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
         WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.6""",

    // knn chain verbatim, then the interval-lattice minimax: the same
    // floor key (cc*10^14 // nn) and (key, nn, cc) tie order select the
    // same interval row, so the final division is the identical double
    "isotonic_calibration" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                    FROM embeddings),
           topk AS (
             SELECT q.vec_id AS q_id, q.label AS true_label,
                    c.label AS n_label
             FROM e q JOIN e c ON q.vec_id <> c.vec_id
             WHERE q.vec_id % 25 = 0
             QUALIFY row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                        c.vec_id ASC) <= 5),
           votes AS (SELECT q_id, true_label, n_label, count(*) AS n_votes
                     FROM topk GROUP BY 1, 2, 3),
           p AS (SELECT q_id, n_votes,
               CASE WHEN n_label = true_label THEN 1 ELSE 0 END AS correct
             FROM votes
             QUALIFY row_number() OVER (PARTITION BY q_id
               ORDER BY n_votes DESC, n_label ASC) = 1),
           bins AS (SELECT n_votes, count(*) AS n,
               CAST(sum(correct) AS BIGINT) AS n_correct
             FROM p GROUP BY 1),
           pre AS (SELECT n_votes, n, n_correct,
               CAST(sum(n) OVER (ORDER BY n_votes
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_n,
               CAST(sum(n_correct) OVER (ORDER BY n_votes
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_c
             FROM bins),
           iv AS (SELECT j.n_votes AS jv, m.n_votes AS mv,
               m.cum_c - (j.cum_c - j.n_correct) AS cc,
               m.cum_n - (j.cum_n - j.n) AS nn
             FROM pre j JOIN pre m ON j.n_votes <= m.n_votes),
           iv2 AS (SELECT jv, mv, cc, nn,
               cc * 100000000000000 // nn AS key FROM iv),
           onb AS (SELECT b.n_votes AS iv_votes, i.jv, i.cc, i.nn, i.key
             FROM bins b JOIN iv2 i
             ON i.jv <= b.n_votes AND b.n_votes <= i.mv),
           mn AS (SELECT iv_votes, jv, cc, nn, key,
               row_number() OVER (PARTITION BY iv_votes, jv
                 ORDER BY key, nn, cc) AS rn
             FROM onb),
           mx AS (SELECT iv_votes, cc, nn,
               row_number() OVER (PARTITION BY iv_votes
                 ORDER BY key DESC, nn, cc) AS rx
             FROM mn WHERE rn = 1)
         SELECT b.n_votes, CAST(b.n_votes AS DOUBLE) / 5 AS confidence,
           CAST(b.n AS BIGINT) AS n, b.n_correct,
           CAST(b.n_correct AS DOUBLE) / b.n AS accuracy,
           CAST(x.cc AS DOUBLE) / CAST(x.nn AS DOUBLE) AS iso_p
         FROM bins b JOIN mx x ON x.iv_votes = b.n_votes AND x.rx = 1""",

    // identical count-table rank selections: median, q-hat, and
    // coverage all read CUMULATIVE counts, so no tie order exists
    "conformal_threshold" ->
      """WITH e AS (SELECT event_type AS g, event_id % 2 AS side,
               CAST(round(value * 100) AS BIGINT) AS c
             FROM events WHERE value IS NOT NULL),
         cnt AS (SELECT g, c,
               sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ca,
               sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS ct
             FROM e GROUP BY 1, 2),
         b AS (SELECT g, c, ca, ct,
               CAST(sum(ca) OVER (PARTITION BY g) AS BIGINT) AS n_cal,
               CAST(sum(ct) OVER (PARTITION BY g) AS BIGINT) AS n_test,
               CAST(sum(ca) OVER (PARTITION BY g ORDER BY c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_ca
             FROM cnt),
         b2 AS (SELECT * FROM b WHERE n_cal > 0 AND n_test > 0),
         med AS (SELECT g, min(c) AS med_cents FROM b2
             WHERE cum_ca >= (n_cal + 1) // 2 GROUP BY 1),
         sc AS (SELECT b2.g, n_cal, n_test, med_cents,
               abs(c - med_cents) AS s,
               CAST(sum(ca) AS BIGINT) AS sa, CAST(sum(ct) AS BIGINT) AS st
             FROM b2 JOIN med ON b2.g = med.g
             GROUP BY 1, 2, 3, 4, 5),
         q AS (SELECT g, n_cal, n_test, med_cents, s, st,
               CAST(sum(sa) OVER (PARTITION BY g ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_sa,
               least(((n_cal + 1) * 9 + 9) // 10, n_cal) AS k
             FROM sc),
         q2 AS (SELECT g, n_cal, n_test, med_cents, s, st,
               min(CASE WHEN cum_sa >= k THEN s END)
                 OVER (PARTITION BY g) AS qhat_cents
             FROM q)
         SELECT g AS event_type, n_cal, n_test, med_cents, qhat_cents,
           CAST(sum(CASE WHEN s <= qhat_cents THEN st ELSE 0 END)
             AS BIGINT) AS n_covered,
           CAST(sum(CASE WHEN s <= qhat_cents THEN st ELSE 0 END)
             AS DOUBLE) / CAST(n_test AS DOUBLE) AS coverage,
           0.9 AS nominal
         FROM q2 GROUP BY 1, 2, 3, 4, 5""",

    // the observed envelope replayed from one aggregate row
    "dq_suggest" ->
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
           CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_eid,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_uid,
           min(CAST(round(value * 100) AS BIGINT)) AS min_v,
           max(CAST(round(value * 100) AS BIGINT)) AS max_v,
           CAST(count(DISTINCT event_id) AS BIGINT) AS nd_eid,
           CAST(count(DISTINCT user_id) AS BIGINT) AS nd_uid
         FROM events)
         SELECT 'value_not_null' AS rule, 'value' AS "column",
           'not_null' AS kind, CAST(NULL AS DOUBLE) AS bound,
           null_value AS tolerance, TRUE AS suggested, n_rows FROM a
         UNION ALL SELECT 'event_id_not_null', 'event_id', 'not_null',
           CAST(NULL AS DOUBLE), null_eid, TRUE, n_rows FROM a
         UNION ALL SELECT 'user_id_not_null', 'user_id', 'not_null',
           CAST(NULL AS DOUBLE), null_uid, TRUE, n_rows FROM a
         UNION ALL SELECT 'value_min', 'value', 'min',
           CAST(min_v AS DOUBLE) / 100.0, CAST(0 AS BIGINT), TRUE, n_rows FROM a
         UNION ALL SELECT 'value_max', 'value', 'max',
           CAST(max_v AS DOUBLE) / 100.0, CAST(0 AS BIGINT), TRUE, n_rows FROM a
         UNION ALL SELECT 'value_positive', 'value', 'positive',
           CAST(NULL AS DOUBLE), CAST(0 AS BIGINT),
           coalesce(min_v > 0, FALSE), n_rows FROM a
         UNION ALL SELECT 'event_id_unique', 'event_id', 'unique',
           CAST(NULL AS DOUBLE), n_rows - null_eid - nd_eid,
           nd_eid = n_rows - null_eid, n_rows FROM a
         UNION ALL SELECT 'user_id_unique', 'user_id', 'unique',
           CAST(NULL AS DOUBLE), n_rows - null_uid - nd_uid,
           nd_uid = n_rows - null_uid, n_rows FROM a""",

    // identical integer fold/embargo arithmetic over the day domain
    "purged_kfold" ->
      """WITH days AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               count(*) AS n
             FROM events WHERE CAST(ts AS TIMESTAMP) IS NOT NULL
             GROUP BY 1),
         b AS (SELECT min(day) AS d0, max(day) AS d1,
               CAST(sum(n) AS BIGINT) AS n_total FROM days),
         bd AS (SELECT CAST(date_diff('day', d0, day) AS INT) AS d,
               CAST(date_diff('day', d0, d1) + 1 AS INT) AS span,
               n, n_total FROM days, b),
         f AS (SELECT CAST(least(d * 5 // span, 4) AS INT) AS fold,
               d, n, n_total FROM bd),
         fs AS (SELECT fold, min(d) AS d_lo, max(d) AS d_hi,
               CAST(sum(n) AS BIGINT) AS n_test, max(n_total) AS n_total
             FROM f GROUP BY 1),
         ex AS (SELECT fs.fold, fs.d_lo, fs.d_hi, fs.n_test, fs.n_total,
               CAST(sum(bd.n) AS BIGINT) AS n_excluded
             FROM fs JOIN bd
               ON bd.d >= fs.d_lo - 3 AND bd.d <= fs.d_hi + 3
             GROUP BY 1, 2, 3, 4, 5)
         SELECT fold, d_lo, d_hi, n_test,
           n_excluded - n_test AS n_purged,
           n_total - n_excluded AS n_train
         FROM ex""",

    // the same clamped-ppm estimation and long-fraction pattern odds;
    // entity_resolution's dirty-name formula and blocking verbatim
    "fellegi_sunter" ->
      """WITH dirty AS (SELECT c_custkey AS rec_id, c_name AS true_name,
               substr(c_name, 1,
                 CAST(c_custkey % (length(c_name) - 1) AS INT)) ||
               substr(c_name,
                 CAST(c_custkey % (length(c_name) - 1) + 2 AS INT))
                 AS dirty_name,
               c_nationkey AS rec_attr
             FROM customer),
         catalog AS (SELECT c_name AS canon_name,
               arg_min(c_nationkey, c_custkey) AS canon_attr
             FROM customer GROUP BY 1),
         cand0 AS (
           SELECT DISTINCT rec_id, dirty_name, true_name, rec_attr,
             canon_name, canon_attr
           FROM (
             SELECT rec_id, dirty_name, true_name, rec_attr,
               canon_name, canon_attr
             FROM dirty JOIN catalog
               ON substr(dirty_name, -3, 3) = substr(canon_name, -3, 3)
             UNION ALL
             SELECT rec_id, dirty_name, true_name, rec_attr,
               canon_name, canon_attr
             FROM dirty JOIN catalog
               ON substr(dirty_name, 12, 4) = substr(canon_name, 12, 4))),
         cand AS (SELECT
             CASE WHEN substr(dirty_name, -3, 3) = substr(canon_name, -3, 3)
               THEN 1 ELSE 0 END AS g_a,
             CASE WHEN substr(dirty_name, 12, 4) = substr(canon_name, 12, 4)
               THEN 1 ELSE 0 END AS g_b,
             CASE WHEN rec_attr = canon_attr THEN 1 ELSE 0 END AS g_attr,
             CASE WHEN true_name = canon_name THEN 1 ELSE 0 END AS is_match
           FROM cand0),
         est AS (SELECT
             greatest(1, least(999999, CAST(sum(g_a * is_match) AS BIGINT)
               * 1000000 // greatest(CAST(sum(is_match) AS BIGINT), 1))) AS m1,
             greatest(1, least(999999, CAST(sum(g_b * is_match) AS BIGINT)
               * 1000000 // greatest(CAST(sum(is_match) AS BIGINT), 1))) AS m2,
             greatest(1, least(999999, CAST(sum(g_attr * is_match) AS BIGINT)
               * 1000000 // greatest(CAST(sum(is_match) AS BIGINT), 1))) AS m3,
             greatest(1, least(999999, CAST(sum(g_a * (1 - is_match)) AS BIGINT)
               * 1000000 // greatest(CAST(sum(1 - is_match) AS BIGINT), 1))) AS u1,
             greatest(1, least(999999, CAST(sum(g_b * (1 - is_match)) AS BIGINT)
               * 1000000 // greatest(CAST(sum(1 - is_match) AS BIGINT), 1))) AS u2,
             greatest(1, least(999999, CAST(sum(g_attr * (1 - is_match)) AS BIGINT)
               * 1000000 // greatest(CAST(sum(1 - is_match) AS BIGINT), 1))) AS u3
           FROM cand),
         pat AS (SELECT g_a, g_b, g_attr,
               CAST(sum(is_match) AS BIGINT) AS n_match,
               CAST(sum(1 - is_match) AS BIGINT) AS n_nonmatch
             FROM cand GROUP BY 1, 2, 3),
         sc AS (SELECT g_a, g_b, g_attr, n_match, n_nonmatch,
               (CASE WHEN g_a = 1 THEN m1 ELSE 1000000 - m1 END) *
               (CASE WHEN g_b = 1 THEN m2 ELSE 1000000 - m2 END) *
               (CASE WHEN g_attr = 1 THEN m3 ELSE 1000000 - m3 END) AS num,
               (CASE WHEN g_a = 1 THEN u1 ELSE 1000000 - u1 END) *
               (CASE WHEN g_b = 1 THEN u2 ELSE 1000000 - u2 END) *
               (CASE WHEN g_attr = 1 THEN u3 ELSE 1000000 - u3 END) AS den
             FROM pat, est)
         SELECT g_a, g_b, g_attr, n_match, n_nonmatch,
           CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS odds,
           num >= den AS is_link
         FROM sc""",

    // the same fixpoint, DuckDB's native recursive CTE
    "sql_recursive_cte" ->
      """WITH RECURSIVE tree AS (
           SELECT p_partkey AS root, p_partkey AS node, 0 AS depth
           FROM part WHERE p_partkey < 10
           UNION ALL
           SELECT t.root, p.p_partkey AS node, t.depth + 1 AS depth
           FROM tree t JOIN part p ON p.p_partkey // 10 = t.node
           WHERE t.depth < 8)
         SELECT root, depth, count(*) AS n_nodes,
           CAST(sum(node) AS BIGINT) AS sum_keys
         FROM tree GROUP BY root, depth""",

    "calendar_counts" ->
      """WITH cal AS (SELECT CAST(unnest(generate_series(
             DATE '2024-01-01', DATE '2024-02-10', INTERVAL 1 DAY)) AS DATE) AS day),
         daily AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
                   FROM events GROUP BY 1)
         SELECT cal.day, CAST(coalesce(daily.n, 0) AS BIGINT) AS n,
           CAST(dayofweek(cal.day) + 1 AS INT) AS dow
         FROM cal LEFT JOIN daily ON cal.day = daily.day""",

    "sink_json_gzip" ->
      """SELECT event_id, user_id, event_type, value FROM events""",

    // evens (CTAS) + odds (INSERT) = the whole table
    "sql_ctas" ->
      """SELECT o_orderkey, o_totalprice FROM orders""",

    "mode_per_user" ->
      """SELECT user_id, event_type AS top_type, cnt FROM (
           SELECT user_id, event_type, count(*) AS cnt,
             row_number() OVER (PARTITION BY user_id
               ORDER BY count(*) DESC, event_type ASC) AS rn
           FROM events GROUP BY user_id, event_type)
         WHERE rn = 1""",

    "value_histogram" ->
      """SELECT CAST(floor(value / 10.0) AS BIGINT) AS bucket,
           count(*) AS n, min(value) AS lo, max(value) AS hi
         FROM events GROUP BY 1""",

    // survivors of the cluster decision: doc is its own cluster minimum
    "dedup_canonical" ->
      s"""WITH RECURSIVE p AS (SELECT doc_a, doc_b FROM ($nearDupOracle)),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         reach(src, dst) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         lbl AS (SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster_id
                 FROM documents d LEFT JOIN reach r ON d.doc_id = r.src
                 GROUP BY d.doc_id),
         sized AS (SELECT doc_id, cluster_id,
                     count(*) OVER (PARTITION BY cluster_id) AS cluster_size
                   FROM lbl)
         SELECT doc_id, cluster_size FROM sized WHERE doc_id = cluster_id""",

    // connected components of the ground-truth pair graph via a
    // recursive transitive closure; cluster id = component min doc_id
    "dedup_clusters" ->
      s"""WITH RECURSIVE p AS (SELECT doc_a, doc_b FROM ($nearDupOracle)),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         reach(src, dst) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         lbl AS (SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster_id
                 FROM documents d LEFT JOIN reach r ON d.doc_id = r.src
                 GROUP BY d.doc_id)
         SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         FROM lbl""",

    // star-contraction components reach the SAME fixed point as label
    // propagation (min id per component) — identical oracle
    "cc_star" ->
      s"""WITH RECURSIVE p AS (SELECT doc_a, doc_b FROM ($nearDupOracle)),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         reach(src, dst) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         lbl AS (SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster_id
                 FROM documents d LEFT JOIN reach r ON d.doc_id = r.src
                 GROUP BY d.doc_id)
         SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         FROM lbl""",

    // connected components + portable-hash split of the CANONICAL id
    "split_by_cluster" ->
      s"""WITH RECURSIVE p AS (SELECT doc_a, doc_b FROM ($nearDupOracle)),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         reach(src, dst) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         lbl AS (SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster_id
                 FROM documents d LEFT JOIN reach r ON d.doc_id = r.src
                 GROUP BY d.doc_id)
         SELECT doc_id, cluster_id,
           CASE WHEN pc < 80 THEN 'train' WHEN pc < 90 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id, cluster_id,
                 ((cluster_id * 1000003) % 1000000007) % 100 AS pc
               FROM lbl)""",

    // LSH must achieve perfect recall on the injected >=0.9-Jaccard dups:
    // same ground-truth oracle as near_dedup.
    "minhash_lsh" -> nearDupOracle,

    "similarity_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                list_cosine_similarity(q.v, c.v) AS sim,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id ASC) AS rank
         FROM e q JOIN e c ON q.vec_id <> c.vec_id
         WHERE q.vec_id < 32
         QUALIFY rank <= 5""",

    "embedding_ann" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT vec_id AS cent_id, v AS g FROM e WHERE vec_id < 16),
         assigned AS (
           SELECT e.vec_id AS neighbor_id, e.v AS c, cent_id FROM e CROSS JOIN cent
           QUALIFY row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, g) DESC, cent_id ASC) <= 1),
         probed AS (
           SELECT e.vec_id AS q_id, e.v AS q, cent_id FROM e CROSS JOIN cent
           WHERE e.vec_id < 32
           QUALIFY row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, g) DESC, cent_id ASC) <= 4)
         SELECT q_id, neighbor_id, sim, rank FROM (
           SELECT q_id, neighbor_id, list_cosine_similarity(q, c) AS sim,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY list_cosine_similarity(q, c) DESC, neighbor_id ASC) AS rank
           FROM probed JOIN assigned USING (cent_id)
           WHERE q_id <> neighbor_id)
         WHERE rank <= 5""",

    // two unrolled Lloyd iterations; centroids are elementwise
    // DECIMAL(38,18) sums cast to double — exact, order-independent, and
    // direction-equal to the mean (cosine ignores positive scale)
    "embedding_ann_kmeans" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         c0 AS (SELECT vec_id AS cent_id, v AS g FROM e WHERE vec_id < 16),
         a0 AS (SELECT e.vec_id, e.v, cent_id FROM e CROSS JOIN c0
                QUALIFY row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY list_cosine_similarity(e.v, g) DESC, cent_id ASC) = 1),
         c1 AS (SELECT cent_id, list(sval ORDER BY pos) AS g FROM (
                  SELECT cent_id, pos, CAST(sum(CAST(val AS DECIMAL(38,18))) AS DOUBLE) AS sval
                  FROM (SELECT cent_id, unnest(v) AS val, generate_subscripts(v,1) AS pos FROM a0)
                  GROUP BY cent_id, pos)
                GROUP BY cent_id),
         a1 AS (SELECT e.vec_id, e.v, cent_id FROM e CROSS JOIN c1
                QUALIFY row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY list_cosine_similarity(e.v, g) DESC, cent_id ASC) = 1),
         c2 AS (SELECT cent_id, list(sval ORDER BY pos) AS g FROM (
                  SELECT cent_id, pos, CAST(sum(CAST(val AS DECIMAL(38,18))) AS DOUBLE) AS sval
                  FROM (SELECT cent_id, unnest(v) AS val, generate_subscripts(v,1) AS pos FROM a1)
                  GROUP BY cent_id, pos)
                GROUP BY cent_id),
         assigned AS (
           SELECT e.vec_id AS neighbor_id, e.v AS c, cent_id FROM e CROSS JOIN c2
           QUALIFY row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, g) DESC, cent_id ASC) <= 1),
         probed AS (
           SELECT e.vec_id AS q_id, e.v AS q, cent_id FROM e CROSS JOIN c2
           WHERE e.vec_id < 32
           QUALIFY row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, g) DESC, cent_id ASC) <= 4)
         SELECT q_id, neighbor_id, sim, rank FROM (
           SELECT q_id, neighbor_id, list_cosine_similarity(q, c) AS sim,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY list_cosine_similarity(q, c) DESC, neighbor_id ASC) AS rank
           FROM probed JOIN assigned USING (cent_id)
           WHERE q_id <> neighbor_id)
         WHERE rank <= 5"""
  )

  /** Exact corpus × batch (id%10 split) near-dup ground truth — shared
    * by the batch ingest tick and its streaming twin.
    */
  private val crossSideNearDupOracle =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       sh AS (SELECT DISTINCT doc_id, array_to_string(words[g+1:g+3], ' ') AS shingle
              FROM w, UNNEST(range(len(words) - 2)) AS t(g) WHERE len(words) >= 3),
       sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
                 FROM sh a JOIN sh b ON a.shingle = b.shingle
                 WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
                 GROUP BY a.doc_id, b.doc_id)
       SELECT a AS doc_a, b AS doc_b,
              CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
       FROM pairs JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
       WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5"""

  private val nearDupOracle =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       sh AS (SELECT DISTINCT doc_id, array_to_string(words[g+1:g+3], ' ') AS shingle
              FROM w, UNNEST(range(len(words) - 2)) AS t(g) WHERE len(words) >= 3),
       sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
                 FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id)
       SELECT a AS doc_a, b AS doc_b,
              CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
       FROM pairs JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
       WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5"""

  private val extraOracles: Map[String, String] = Map(

    "source_paginated" ->
      """SELECT event_id, user_id, event_type, value
         FROM events WHERE event_id < 500""",

    "source_paginated_v2" ->
      """SELECT event_id, user_id, event_type, value
         FROM events WHERE event_id < 500""",

    "sink_raw_partitioned" ->
      """SELECT event_id, user_id, event_type, value,
           CAST(year(CAST(ts AS TIMESTAMP)) AS INT) AS year,
           CAST(month(CAST(ts AS TIMESTAMP)) AS INT) AS month,
           CAST(day(CAST(ts AS TIMESTAMP)) AS INT) AS day
         FROM events""",

    "sink_staging_overwrite" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
         FROM orders""",

    "sink_orc_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
         FROM orders""",

    "sink_csv_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
         FROM orders""",

    "sink_audit_append" ->
      """SELECT * FROM (VALUES
           ('daily_visits', CAST(367 AS BIGINT), 'SUCCESS',
            TIMESTAMP '2026-01-01 00:00:00', 'p1.json,p2.json'),
           ('ga_sessions', CAST(2509 AS BIGINT), 'SUCCESS',
            TIMESTAMP '2026-01-01 00:00:00', 'p1.json'),
           ('ga_sessions', CAST(0 AS BIGINT), 'FAILED: empty_input',
            TIMESTAMP '2026-01-01 00:00:00', ''))
         AS t(table_name, record_count, status, load_timestamp, source_files)""",

    // the FAILED audit row is fully determined by the injected DQ
    // violation: null keys are fatal, the load is skipped, count is 0
    "pipeline_run_failed" ->
      """SELECT 'events' AS table_name, CAST(0 AS BIGINT) AS record_count,
           'FAILED: null_keys' AS status,
           TIMESTAMP '2026-01-01 00:00:00' AS load_timestamp,
           'mock://endpoint' AS source_files""",

    // the oracle replays the REAL decoders analytically: BMP rows verify
    // the parsed width/height/bpp AND the exact file size the encoder
    // must have produced (header + 4-byte-padded BGR rows); WAV rows
    // verify rate/channels/bits and the RIFF size arithmetic; only the
    // doc_id%4=3 slice exercises the disclosed stub branch
    // PNG n_bytes is analytic because the encoder uses STORED-mode
    // deflate: 68 + height*(1+width) (sig 8 + IHDR 25 + IDAT 23+L + IEND 12)
    "multimodal_decode" ->
      """WITH gif AS (SELECT doc_id,
             (6 * (10 + doc_id % 20) * (5 + doc_id % 10) + 10) // 8 AS lzw
           FROM documents)
         SELECT doc_id,
           CASE WHEN doc_id % 4 = 2 THEN 'audio/wav'
                WHEN doc_id % 8 = 3 THEN 'image/png'
                WHEN doc_id % 16 = 7 THEN 'image/gif'
                WHEN doc_id % 16 = 15 THEN 'image/jpeg'
                ELSE 'image/bmp' END AS format,
           CAST(CASE WHEN doc_id % 4 IN (0, 1) THEN 16 + doc_id % 32
                     WHEN doc_id % 8 = 3 THEN 8 + doc_id % 24
                     WHEN doc_id % 16 = 7 THEN 10 + doc_id % 20
                     WHEN doc_id % 16 = 15 THEN 12 + doc_id % 20
                END AS INT) AS width,
           CAST(CASE WHEN doc_id % 4 IN (0, 1) THEN 8 + doc_id % 16
                     WHEN doc_id % 8 = 3 THEN 4 + doc_id % 12
                     WHEN doc_id % 16 = 7 THEN 5 + doc_id % 10
                     WHEN doc_id % 16 = 15 THEN 6 + doc_id % 10
                END AS INT) AS height,
           CAST(CASE WHEN doc_id % 4 IN (0, 1) THEN 24
                     WHEN doc_id % 4 = 2 THEN 16
                     WHEN doc_id % 8 = 3 THEN 8
                     WHEN doc_id % 16 = 7 THEN 1
                     WHEN doc_id % 16 = 15 THEN 24 END AS INT) AS bpp,
           CAST(CASE WHEN doc_id % 4 = 2 THEN
                  CASE (doc_id % 16) // 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                       WHEN 2 THEN 22050 ELSE 44100 END
                END AS INT) AS sample_rate,
           CAST(CASE WHEN doc_id % 4 = 2 THEN 1 + (doc_id // 4) % 2
                END AS INT) AS channels,
           CAST(CASE WHEN doc_id % 4 IN (0, 1) THEN
                  54 + (((16 + doc_id % 32) * 3 + 3) // 4) * 4 * (8 + doc_id % 16)
                     WHEN doc_id % 4 = 2 THEN
                  44 + (100 + doc_id % 400) * (1 + (doc_id // 4) % 2) * 2
                     WHEN doc_id % 8 = 3 THEN
                  68 + (4 + doc_id % 12) * (9 + doc_id % 24)
                     WHEN doc_id % 16 = 7 THEN
                  32 + lzw + (lzw + 254) // 255
                     -- jpeg: decoded framebuffer w*h*3 (lossy container
                     -- length is encoder-dependent, not analytic)
                     ELSE (12 + doc_id % 20) * (6 + doc_id % 10) * 3
                END AS BIGINT) AS n_bytes
         FROM documents JOIN gif USING (doc_id)""",

    "dq_quarantine" ->
      """SELECT event_id,
           CASE WHEN event_id % 10 = 0 THEN NULL ELSE user_id END AS user_id,
           CASE WHEN event_id % 13 = 0 THEN 'mystery' ELSE event_type END AS event_type,
           value,
           CASE WHEN event_id % 10 = 0 THEN 'null_key'
                WHEN event_id % 13 = 0 THEN 'bad_type'
                ELSE 'ok' END AS reason,
           (event_id % 10 = 0) OR (event_id % 13 = 0) AS quarantined
         FROM events""",

    "sink_schema_evolution" ->
      """SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice,
           CAST(1 AS INT) AS batch FROM orders
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice, CAST(2 AS INT) FROM orders""",

    "incremental_extract" ->
      s"""WITH base AS ($evBase)
          SELECT * FROM base
          WHERE ts > (SELECT max(ts) FROM base WHERE day(ts) <= 20)""",

    "scd2_history" ->
      s"""WITH base AS ($evBase)
          SELECT user_id, event_type, event_id, value,
            ts AS valid_from,
            lead(ts) OVER w AS valid_to,
            lead(ts) OVER w IS NULL AS is_current
          FROM base
          WINDOW w AS (PARTITION BY user_id, event_type
                       ORDER BY ts ASC, event_id ASC)""",

    "sql_cte_query" ->
      """WITH big AS (
           SELECT o_custkey, count(*) AS n_big
           FROM orders WHERE o_totalprice > 150000
           GROUP BY o_custkey
           HAVING count(*) >= 2)
         SELECT c_custkey, c_mktsegment, n_big
         FROM customer JOIN big ON c_custkey = o_custkey
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""",

    // same correlated scalar-aggregate; DuckDB decorrelates identically
    "sql_correlated_agg" ->
      """SELECT l_partkey, count(*) AS n_small,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem l1
         WHERE l_quantity < 0.2 * (SELECT avg(l2.l_quantity)
                                   FROM lineitem l2
                                   WHERE l2.l_partkey = l1.l_partkey)
         GROUP BY l_partkey""",

    // date + 60 is DuckDB's day arithmetic (Spark side uses date_add)
    "sql_multi_semi_anti" ->
      """WITH lw AS (
           SELECT l.l_orderkey, l.l_suppkey,
                  CAST(l.l_shipdate AS DATE) >
                    CAST(o.o_orderdate AS DATE) + 60 AS late
           FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
           WHERE o.o_orderstatus = 'F')
         SELECT s.s_suppkey, s.s_name, count(*) AS numwait
         FROM supplier s JOIN lw l1 ON l1.l_suppkey = s.s_suppkey AND l1.late
         WHERE EXISTS (SELECT 1 FROM lw l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lw l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
         GROUP BY s_suppkey, s_name""",

    // corrupt rows surface as all-null fields + is_corrupt=true
    "source_corrupt_json" ->
      """SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_id END AS event_id,
           CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS user_id,
           CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS event_type,
           (event_id % 7 = 0) AS is_corrupt
         FROM events WHERE event_id < 1000""",

    // CSV PERMISSIVE nulls only the mangled FIELD; the rest still parse
    "source_corrupt_csv" ->
      """SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_id END AS event_id,
           user_id, event_type,
           (event_id % 7 = 0) AS is_corrupt
         FROM events WHERE event_id < 1000""",

    "multimodal_resize" ->
      """SELECT doc_id,
           CAST(16 + doc_id % 32 AS INT) AS width,
           CAST(8 + doc_id % 16 AS INT) AS height,
           CAST((16 + doc_id % 32) * 224
             // greatest(16 + doc_id % 32, 8 + doc_id % 16, 1) AS INT) AS target_w,
           CAST((8 + doc_id % 16) * 224
             // greatest(16 + doc_id % 32, 8 + doc_id % 16, 1) AS INT) AS target_h
         FROM documents WHERE doc_id % 4 IN (0, 1)""",

    // every source byte is analytic in (doc_id, text): the fixture BMP
    // streams text bytes cyclically, so thumb pixel (tx,ty,c) samples
    // text[(sy·rowSize + sx·3 + c) mod len] with sy = ty·h div 8,
    // sx = tx·w div 16 — the checksum replays decode+resample+encode
    "multimodal_thumbnail" ->
      """SELECT doc_id,
           CAST(16 + doc_id % 32 AS INT) AS width,
           CAST(8 + doc_id % 16 AS INT) AS height,
           CAST(16 AS INT) AS thumb_w, CAST(8 AS INT) AS thumb_h,
           CAST(list_sum(list_transform(range(16 * 8 * 3), i ->
             ascii(substr(text, CAST(
               ((((i // 3) // 16) * (8 + doc_id % 16) // 8)
                  * (((16 + doc_id % 32) * 3 + 3) // 4) * 4
                + (((i // 3) % 16) * (16 + doc_id % 32) // 16) * 3
                + (i % 3)) % length(text) AS BIGINT) + 1, 1))))
             AS BIGINT) AS thumb_checksum,
           CAST(54 + 48 * 8 AS BIGINT) AS thumb_n_bytes
         FROM documents WHERE doc_id % 4 IN (0, 1)""",

    // frames are 64 ASCII bytes (text is pure ASCII: chars == bytes);
    // checksum = byte sum of the sampled frame window
    "multimodal_frames" ->
      """SELECT doc_id, CAST(i AS INT) AS frame_idx,
           CAST(i * 64 AS BIGINT) AS byte_offset,
           CAST(list_sum(list_transform(
             string_split(substr(text, i * 64 + 1, 64), ''),
             c -> ascii(c))) AS BIGINT) AS checksum
         FROM documents, UNNEST(range(0, length(text) // 64, 2)) AS t(i)""",

    "streaming_window" ->
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",

    "streaming_enrich" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
           c_name, c_mktsegment
         FROM events JOIN customer ON user_id = c_custkey""",

    // append mode emits a window only once the watermark (max event time
    // - 1h) passes its end: window_start + 2h <= max(ts)
    "streaming_window_append" ->
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type, count(*) AS n
         FROM events GROUP BY 1, 2
         HAVING window_start + INTERVAL 2 HOUR <=
           (SELECT max(CAST(ts AS TIMESTAMP)) FROM events)""",

    // streaming dedup of the doubled feed == the feed itself
    "streaming_dedup" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
         FROM events""",

    // bounded-state sibling: delay wider than the closed feed's span ⇒
    // no late rows, no mid-run eviction ⇒ also exactly the feed
    "streaming_dedup_watermark" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
         FROM events""",

    "window_funcs" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
           lag(o_totalprice, 1) OVER w AS prev_price,
           lead(o_totalprice, 1) OVER w AS next_price,
           CAST(dense_rank() OVER w AS INT) AS drnk,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cdist
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice ASC, o_orderkey ASC)""",

    "session_relative" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         x AS (SELECT event_id, user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR CAST(floor(epoch(ts)) AS BIGINT)
                           - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                      THEN 1 ELSE 0 END AS new_session
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
         y AS (SELECT event_id, user_id, ts,
                 CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
               FROM x)
         SELECT event_id, user_id, session_id,
           CAST(floor(epoch(ts)) AS BIGINT)
             - CAST(min(CAST(floor(epoch(ts)) AS BIGINT))
                 OVER (PARTITION BY user_id, session_id) AS BIGINT) AS sec_into_session
         FROM y""",

    // gap computed on floor(epoch) to mirror Spark's ts.cast(long) truncation
    "sessionize" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         x AS (SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR CAST(floor(epoch(ts)) AS BIGINT)
                           - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                      THEN 1 ELSE 0 END AS new_session
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
         y AS (SELECT user_id, ts,
                 CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
               FROM x)
         SELECT user_id AS key, session_id,
                min(ts) AS session_start, max(ts) AS session_end,
                count(*) AS n_events
         FROM y GROUP BY user_id, session_id""",

    // session merge on exact microseconds (diff >= gap starts a session);
    // session_end = last ts + gap per Spark's window-end semantics
    "sessionize_native" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         x AS (SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                      THEN 1 ELSE 0 END AS new_session
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
         y AS (SELECT user_id, ts,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                   ROWS UNBOUNDED PRECEDING) AS sid
               FROM x)
         SELECT user_id AS key,
                min(ts) AS session_start,
                max(ts) + INTERVAL 1800 SECOND AS session_end,
                count(*) AS n_events
         FROM y GROUP BY user_id, sid""",

    "asof_join" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                    FROM events WHERE event_type IN ('view', 'purchase')),
         x AS (SELECT user_id AS key, event_id AS id, ts, event_type,
                 last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
                   OVER w AS asof_id,
                 last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER w AS asof_ts
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT key, id, ts, asof_id, asof_ts FROM x WHERE event_type = 'purchase'""",

    "asof_join_forward" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                    FROM events WHERE event_type IN ('view', 'purchase')),
         x AS (SELECT user_id AS key, event_id AS id, ts, event_type,
                 last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
                   OVER w AS next_id,
                 last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER w AS next_ts
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT key, id, ts, next_id, next_ts FROM x WHERE event_type = 'purchase'""",

    // same ×2-scaled plant of every 50th vector (doubling is exact, so
    // both engines see bit-identical cosines)
    "embedding_near_dup" ->
      """WITH inp AS (SELECT vec_id, embedding FROM embeddings
                      UNION ALL
                      SELECT vec_id + 1000000,
                             list_transform(embedding, x -> x * 2)
                      FROM embeddings WHERE vec_id % 50 = 0),
         e AS (SELECT vec_id, inp.embedding::DOUBLE[] AS v FROM inp)
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                list_cosine_similarity(a.v, b.v) AS cos
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.5""",

    "salted_join" ->
      """SELECT event_id, user_id, event_type, c_name, c_mktsegment
         FROM events JOIN customer ON user_id = c_custkey""",

    // the plain left join the bypass is algebraically equal to
    "null_skew_join" ->
      """SELECT event_id, event_type,
           CASE WHEN event_id % 5 < 3 THEN user_id END AS fk,
           c_custkey, c_mktsegment
         FROM events LEFT JOIN customer
           ON (CASE WHEN event_id % 5 < 3 THEN user_id END) = c_custkey""",

    "bucketed_join" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
                l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey""",

    // the streaming foreachBatch upsert converges to latest-wins over all
    // events — same ground truth as window_latest, minus the props column
    "streaming_upsert" ->
      s"""WITH base AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                        event_type, value FROM events)
          SELECT * FROM base
          QUALIFY $latestWin = 1""",

    "cube_rollup" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n,
           grouping_id(l_returnflag, l_linestatus) AS gid
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",

    "rollup_sets" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n,
           grouping_id(l_returnflag, l_linestatus) AS gid
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",

    "grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""",

    "unpivot_metrics" ->
      """SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS amount
         FROM orders
         UNION ALL
         SELECT o_orderkey, 'price_with_tax', o_totalprice * 1.1 FROM orders""",

    "join_full_outer" ->
      """SELECT c_custkey, c_name, o_orderkey,
           CASE WHEN c_custkey IS NULL THEN 'order_only'
                WHEN o_orderkey IS NULL THEN 'customer_only'
                ELSE 'matched' END AS side
         FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 <> 0) c
         FULL OUTER JOIN (SELECT o_orderkey, o_custkey FROM orders) o
           ON c_custkey = o_custkey""",

    "array_funcs" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           array_to_string(list_sort(string_split(text, ' '))[1:3], ',') AS first3_sorted,
           list_contains(string_split(text, ' '), 'the') AS has_the,
           string_split(text, ' ')[1] AS head_word,
           string_split(text, ' ')[-1] AS last_word
         FROM documents""",

    "tfidf_topterms" ->
      """WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                        FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1)
         SELECT doc_id, term, tf, df, CAST(tf AS DOUBLE) / df AS score,
           row_number() OVER (PARTITION BY doc_id
             ORDER BY CAST(tf AS DOUBLE) / df DESC, term ASC) AS rank
         FROM tf JOIN df USING (term)
         QUALIFY rank <= 3""",

    "set_ops_all" ->
      """SELECT user_id, 'click_and_buy_all' AS op FROM
           (SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT ALL
            SELECT user_id FROM events WHERE event_type = 'purchase')
         UNION ALL
         SELECT user_id, 'click_no_error_all' FROM
           (SELECT user_id FROM events WHERE event_type = 'click'
            EXCEPT ALL
            SELECT user_id FROM events WHERE event_type = 'error')""",

    "distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
                count(*) AS n_events
         FROM events GROUP BY event_type""",

    "pivot_counts" ->
      """SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY user_id""",

    "grouped_map" ->
      """SELECT event_id, user_id,
           CASE WHEN maxv = minv THEN 0.0
                ELSE (value - minv) / (maxv - minv) END AS norm_value
         FROM (SELECT event_id, user_id, value,
                 min(value) OVER (PARTITION BY user_id) AS minv,
                 max(value) OVER (PARTITION BY user_id) AS maxv
               FROM events)""",

    "quantiles" ->
      """SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS qty_p50,
           quantile_cont(l_quantity, 0.9) AS qty_p90,
           quantile_cont(l_discount, 0.5) AS disc_p50
         FROM lineitem GROUP BY l_returnflag""",

    "window_running" ->
      """SELECT event_id, user_id,
           count(*) OVER w AS running_n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_value
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",

    "events_funnel" ->
      """WITH firsts AS (
           SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t_buy
           FROM events GROUP BY user_id)
         SELECT count(CASE WHEN t_view IS NOT NULL THEN 1 END) AS step1_view,
                count(CASE WHEN t_view <= t_click THEN 1 END) AS step2_view_click,
                count(CASE WHEN t_view <= t_click AND t_click <= t_buy THEN 1 END)
                  AS step3_view_click_buy
         FROM firsts""",

    "asof_join_nearest" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                    FROM events WHERE event_type IN ('view', 'purchase')),
         b AS (SELECT user_id AS key, event_id AS id, ts, event_type,
                 last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
                   OVER wb AS prev_id,
                 last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER wb AS prev_ts
               FROM e WINDOW wb AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         f AS (SELECT event_id AS id,
                 last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
                   OVER wf AS next_id,
                 last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER wf AS next_ts
               FROM e WINDOW wf AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT b.key, b.id, b.ts,
           CASE WHEN b.prev_ts IS NULL AND f.next_ts IS NULL THEN NULL
                WHEN f.next_ts IS NULL THEN b.prev_id
                WHEN b.prev_ts IS NULL THEN f.next_id
                WHEN epoch_us(b.ts) - epoch_us(b.prev_ts)
                     <= epoch_us(f.next_ts) - epoch_us(b.ts)
                THEN b.prev_id ELSE f.next_id END AS nearest_id
         FROM b JOIN f ON b.id = f.id
         WHERE b.event_type = 'purchase'""",

    "quantile_buckets" ->
      """SELECT decile, count(*) AS n, min(value) AS lo, max(value) AS hi
         FROM (SELECT event_id, value,
                 CAST(ntile(10) OVER (ORDER BY value ASC, event_id ASC) AS INT) AS decile
               FROM events)
         GROUP BY decile""",

    "window_range_frame" ->
      """SELECT event_id, user_id,
           count(*) OVER w AS n_trailing_1h,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_trailing_1h
         FROM (SELECT event_id, user_id, value,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY us
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",

    "user_journeys" ->
      """SELECT user_id,
           array_to_string(
             (list(event_type ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC))[1:10],
             '>') AS journey,
           count(*) AS n_events
         FROM events GROUP BY user_id""",

    "corpus_report" ->
      """SELECT lang, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(min(len(string_split(text, ' '))) AS BIGINT) AS min_tokens,
           CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
         FROM documents GROUP BY lang""",

    "join_null_safe" ->
      """SELECT event_id, e.uid AS uid, c_name
         FROM (SELECT event_id,
                 CASE WHEN event_id % 10 = 0 THEN NULL ELSE user_id END AS uid
               FROM events) e
         JOIN (SELECT CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_custkey END AS uid,
                 c_name FROM customer) c
         ON e.uid IS NOT DISTINCT FROM c.uid""",

    "regex_funcs" ->
      """SELECT p_partkey,
           regexp_extract(p_type, '([A-Z]+) ([A-Z]+)', 2) AS second_word,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           regexp_matches(p_brand, '#1[0-9]$') AS numbered_brand
         FROM part""",

    "join_semi_anti" ->
      """SELECT c_custkey, 'has_orders' AS status FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         UNION ALL
         SELECT c_custkey, 'no_orders' FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",

    "set_ops" ->
      """SELECT user_id, 'click_and_buy' AS op FROM
           (SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase')
         UNION ALL
         SELECT user_id, 'click_no_error' FROM
           (SELECT user_id FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT user_id FROM events WHERE event_type = 'error')""",

    "string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS up,
           substring(p_type, 1, 5) AS sub,
           replace(p_brand, '#', '-') AS repl,
           lpad(p_brand, 12, '*') AS pad,
           concat_ws('|', p_brand, p_type) AS joined,
           CAST(length(p_name) AS INT) AS len
         FROM part""",

    "datetime_funcs" ->
      """SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS y,
           CAST(month(o_orderdate) AS INT) AS m,
           CAST(day(o_orderdate) AS INT) AS d,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS month_start,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT) AS days_to_y2k,
           CAST(o_orderdate AS DATE) AS od
         FROM orders""",

    "token_count_regex" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS BIGINT) AS n_tokens
         FROM documents""",

    "json_funcs" ->
      """SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_long,
           array_to_string(json_keys(props), ',') AS keys,
           CAST(length(props) AS BIGINT) AS raw_len
         FROM events""",

    "hof_funcs" ->
      """SELECT doc_id,
           CAST(list_sum(list_transform(string_split(text, ' '),
             x -> length(x))) AS BIGINT) AS total_len,
           CAST(len(list_filter(string_split(text, ' '),
             x -> length(x) > 3)) AS BIGINT) AS n_long_words,
           array_to_string(list_transform(string_split(text, ' '),
             x -> upper(x))[1:2], ' ') AS up2,
           len(list_filter(string_split(text, ' '), x -> x = 'the')) > 0 AS has_the
         FROM documents""",

    "null_funcs" ->
      """SELECT o_orderkey,
           coalesce(nullif(o_orderstatus, 'O'), 'open') AS status2,
           greatest(o_totalprice, 100000.0) AS hi,
           least(o_totalprice, 100000.0) AS lo,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'rush'
                ELSE 'std' END AS class
         FROM orders""",

    "sample_hash" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE (event_id * 1000003 % 1000000007) % 100 < 10""",

    "sample_stratified" ->
      """SELECT event_id, user_id, event_type,
           CAST(row_number() OVER (PARTITION BY event_type
             ORDER BY event_id * 1000003 % 1000000007 ASC, event_id ASC) AS INT) AS rn
         FROM events QUALIFY rn <= 50""",

    // floor(epoch) mirrors Spark's ts.cast(long) truncation
    "range_join" ->
      """SELECT a.user_id AS key, a.event_id AS id_a, b.event_id AS id_b,
           CAST(floor(epoch(CAST(b.ts AS TIMESTAMP))) AS BIGINT)
             - CAST(floor(epoch(CAST(a.ts AS TIMESTAMP))) AS BIGINT) AS dt_sec
         FROM events a JOIN events b
           ON a.user_id = b.user_id AND a.event_id < b.event_id
         WHERE abs(CAST(floor(epoch(CAST(a.ts AS TIMESTAMP))) AS BIGINT)
                   - CAST(floor(epoch(CAST(b.ts AS TIMESTAMP))) AS BIGINT)) <= 60""",

    "sql_query" ->
      """SELECT o_orderkey, o_orderdate, CAST(revenue AS DOUBLE) AS revenue
         FROM (SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
                 sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS revenue
               FROM orders JOIN lineitem ON l_orderkey = o_orderkey
               WHERE o_orderstatus = 'O'
               GROUP BY o_orderkey, o_orderdate
               ORDER BY revenue DESC, o_orderkey ASC
               LIMIT 10)""",

    // augmentation mirrored from the Spark registration; DuckDB regexps
    // are RE2 — the patterns use only shared syntax
    "pii_redact" ->
      """WITH aug AS (SELECT doc_id,
             text || ' contact u' || doc_id || '@example.com via 10.0.'
                  || (doc_id % 256) || '.7 tel 555-01'
                  || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS text
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS clean_text,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(text,
             '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phones
         FROM aug""",

    "boilerplate_strip" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         tok AS (SELECT doc_id, g AS pos, words[g+1] AS word
                 FROM w, UNNEST(range(len(words))) AS t(g)),
         df AS (SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         stop AS (SELECT word FROM df, n WHERE df > n_docs * 0.5),
         kept AS (SELECT doc_id, pos, word FROM tok
                  WHERE word NOT IN (SELECT word FROM stop))
         SELECT d.doc_id,
           coalesce(string_agg(k.word, ' ' ORDER BY k.pos), '') AS clean_text,
           count(k.word) AS n_kept
         FROM documents d LEFT JOIN kept k USING (doc_id)
         GROUP BY d.doc_id""",

    "heavy_hitters" ->
      """SELECT user_id AS key, count(*) AS n,
           CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM events) AS share
         FROM events GROUP BY user_id
         ORDER BY n DESC, key ASC LIMIT 10""",

    "profile_numeric" ->
      """SELECT 'o_orderkey' AS "column",
           CAST(min(o_orderkey) AS DOUBLE) AS min_value,
           CAST(max(o_orderkey) AS DOUBLE) AS max_value,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct FROM orders
         UNION ALL
         SELECT 'o_custkey',
           CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE),
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_custkey) FROM orders
         UNION ALL
         SELECT 'o_totalprice',
           CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE),
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_totalprice) FROM orders""",

    "split_assign" ->
      """SELECT doc_id, lang,
           CASE WHEN (doc_id * 1000003 % 1000000007) % 100 < 80 THEN 'train'
                WHEN (doc_id * 1000003 % 1000000007) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
         FROM documents""",

    "corpus_shuffle" ->
      """SELECT doc_id, source,
           (doc_id * 1000003 % 1000000007) % 8 AS shard,
           CAST(row_number() OVER (
             PARTITION BY (doc_id * 1000003 % 1000000007) % 8
             ORDER BY doc_id * 1000003 % 1000000007 ASC, doc_id ASC) AS BIGINT) AS pos
         FROM documents""",

    // same shard rule as corpus_shuffle; the checksum re-states
    // doc_fingerprint's rolling hash and sums it per shard
    "shard_manifest" ->
      """WITH f AS (SELECT doc_id,
               (doc_id * 1000003 % 1000000007) % 8 AS shard,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
               CAST(len(text) AS BIGINT) AS chars,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(text, ' '),
                                  w -> CAST(ascii(w) * 31 + length(w) AS BIGINT))),
                 (a, b) -> (a * 1000003 + b) % 1000000007) AS fp
             FROM documents)
         SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS n_tokens,
           CAST(sum(chars) AS BIGINT) AS n_chars,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id,
           CAST(sum(fp) AS BIGINT) AS checksum
         FROM f GROUP BY shard""",

    "streaming_join" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
           CAST(v.ts AS TIMESTAMP) AS view_ts,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts
         FROM events v JOIN events p
           ON v.user_id = p.user_id
          AND v.event_type = 'view' AND p.event_type = 'purchase'
          AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
          AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 1 HOUR""",

    // append-mode outer-join semantics, reproduced: matched pairs emit on
    // arrival; a null row emits iff the FINAL watermark
    // (min of both streams' max ts − delay) closed the view's window
    "streaming_join_outer" ->
      """WITH v AS (SELECT user_id, event_id AS view_id,
               CAST(ts AS TIMESTAMP) AS view_ts
             FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id AS pu, event_id AS purchase_id,
               CAST(ts AS TIMESTAMP) AS purchase_ts
             FROM events WHERE event_type = 'purchase'),
         wm AS (SELECT least((SELECT max(view_ts) FROM v),
                  (SELECT max(purchase_ts) FROM p))
                  - INTERVAL 3600 SECONDS AS w),
         m AS (SELECT v.user_id, view_id, view_ts, purchase_id, purchase_ts
               FROM v JOIN p ON v.user_id = pu
                AND purchase_ts >= view_ts
                AND purchase_ts <= view_ts + INTERVAL 600 SECONDS),
         um AS (SELECT v.user_id, view_id, view_ts,
                  CAST(NULL AS BIGINT) AS purchase_id,
                  CAST(NULL AS TIMESTAMP) AS purchase_ts
                FROM v
                WHERE NOT EXISTS (SELECT 1 FROM p WHERE pu = v.user_id
                    AND purchase_ts >= view_ts
                    AND purchase_ts <= view_ts + INTERVAL 600 SECONDS)
                  AND view_ts + INTERVAL 600 SECONDS < (SELECT w FROM wm))
         SELECT * FROM m UNION ALL SELECT * FROM um""",

    "mixture_sample" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY doc_id * 1000003 % 1000000007 ASC, doc_id ASC) AS rn
           FROM documents)
         WHERE rn <= 5 + (CAST(substr(source, 4) AS INT) % 3) * 5""",

    "dedup_incremental" ->
      """WITH seen AS (SELECT DISTINCT sha256(text) AS content_hash
                       FROM documents WHERE doc_id < 400)
         SELECT min(doc_id) AS doc_id, sha256(text) AS content_hash
         FROM documents d
         WHERE doc_id >= 400
           AND NOT EXISTS (SELECT 1 FROM seen s WHERE s.content_hash = sha256(d.text))
         GROUP BY sha256(text)""",

    // near-dup ground truth + the same portable-hash split arithmetic;
    // only cross-split pairs survive
    "split_leak_pairs" ->
      s"""SELECT doc_a, doc_b,
           CASE WHEN pa < 80 THEN 'train' WHEN pa < 90 THEN 'val'
                ELSE 'test' END AS split_a,
           CASE WHEN pb < 80 THEN 'train' WHEN pb < 90 THEN 'val'
                ELSE 'test' END AS split_b,
           jaccard
         FROM (SELECT doc_a, doc_b, jaccard,
                 ((doc_a * 1000003) % 1000000007) % 100 AS pa,
                 ((doc_b * 1000003) % 1000000007) % 100 AS pb
               FROM ($nearDupOracle))
         WHERE (CASE WHEN pa < 80 THEN 'train' WHEN pa < 90 THEN 'val'
                     ELSE 'test' END) <>
               (CASE WHEN pb < 80 THEN 'train' WHEN pb < 90 THEN 'val'
                     ELSE 'test' END)""",

    // exact batch x corpus shingle-Jaccard ground truth — asserting the
    // incremental LSH tick's recall AND precision on the cross pairs
    "near_dedup_incremental" -> crossSideNearDupOracle,

    // the STREAMING ingest tick has the same exact ground truth as the
    // batch one: corpus x batch near-dup pairs, any trigger slicing
    "streaming_near_dup" -> crossSideNearDupOracle,

    // identical hash order, cumsum, and integer DIV as the Spark side;
    // the window SUM casts to BIGINT (DuckDB windowed sum is HUGEINT)
    "pack_sequences" ->
      """WITH t AS (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               ((doc_id * 1000003) % 1000000007) AS h
             FROM documents),
         c AS (SELECT doc_id, n_tokens, h % 8 AS shard,
                 CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY h % 8 ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS cum_before
               FROM t)
         SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
                cum_before // 512 AS bin, cum_before % 512 AS bin_offset
         FROM c""",

    // same first-occurrence rule (min (doc_id, pos) per distinct
    // paragraph) and the same in-order reassembly
    "paragraph_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         n AS (SELECT doc_id, words,
                 greatest(CAST(ceil(len(words) / 16.0) AS BIGINT), 1) AS nc FROM w),
         p AS (SELECT doc_id, CAST(i AS INT) AS pos,
                 array_to_string(words[i*16+1 : i*16+16], ' ') AS para
               FROM n, UNNEST(range(nc)) AS t(i)),
         k AS (SELECT * FROM p
               QUALIFY row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1),
         r AS (SELECT doc_id, count(*) AS n_kept,
                 string_agg(para, ' ' ORDER BY pos) AS text_dedup
               FROM k GROUP BY doc_id)
         SELECT n.doc_id, n.nc AS n_chunks,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(r.text_dedup, '') AS text_dedup
         FROM n LEFT JOIN r USING (doc_id)""",

    // same seed centroids / argmax assignment as embedding_ann, then the
    // exact within-cluster max cosine to any lower-id mate
    "semdedup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT vec_id AS cent_id, v AS g FROM e WHERE vec_id < 16),
         a AS (SELECT e.vec_id, e.v, cent_id FROM e CROSS JOIN cent
               QUALIFY row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, g) DESC, cent_id ASC) = 1),
         m AS (SELECT x.vec_id, max(list_cosine_similarity(x.v, y.v)) AS max_prior_sim
               FROM a x JOIN a y ON x.cent_id = y.cent_id AND y.vec_id < x.vec_id
               GROUP BY x.vec_id)
         SELECT a.vec_id, a.cent_id, m.max_prior_sim,
                coalesce(m.max_prior_sim < 0.4, TRUE) AS keep
         FROM a LEFT JOIN m USING (vec_id)""",

    // same polynomial k-gram hash as doc_fingerprint; per-window min with
    // rightmost tie-break; row-level DISTINCT == the per-row dedup
    "winnowing" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         h AS (SELECT doc_id,
                 list_transform(range(len(ws) - 3), g ->
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(ws[g+1:g+4],
                       x -> CAST(ascii(x) * 31 + length(x) AS BIGINT))),
                     (a, b) -> (a * 1000003 + b) % 1000000007)) AS hs
               FROM t WHERE len(ws) >= 4)
         SELECT DISTINCT doc_id,
           CAST((list_filter(range(s, s+4),
             j -> hs[j+1] = list_min(hs[s+1:s+4])))[-1] AS BIGINT) AS pos,
           list_min(hs[s+1:s+4]) AS fp
         FROM h, UNNEST(range(len(hs) - 3)) AS u(s)""",

    // same augmentation (chr codes restate the Scala \u escapes), same
    // step order: control-strip → NFC → whitespace-collapse → trim
    // (strip FIRST, so removals never create un-normalized adjacencies
    // — the idempotence property). Explicit char classes (not \s) so
    // Java regex and RE2 agree
    "text_normalize" ->
      """WITH aug AS (SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'Cafe' || chr(769)
                 ELSE 'Caf' || chr(233) END)
           || chr(7) || chr(9) || ' ' || text || '  ' || chr(10) AS text
         FROM documents),
         n AS (SELECT doc_id,
           trim(regexp_replace(nfc_normalize(
             regexp_replace(text, '[\x00-\x08\x0B\x0E-\x1F\x7F]', '', 'g')),
             '[ \t\n\r\f]+', ' ', 'g')) AS text
         FROM aug)
         SELECT doc_id, text, sha256(text) AS content_hash FROM n""",

    // identical fold order (sorted distinct chars, left-to-right) and the
    // same 1e-6 rounding of the lone transcendental
    "char_entropy" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
           CASE WHEN length(text) = 0 THEN 0.0
           ELSE round((ln(CAST(length(text) AS DOUBLE)) -
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(list_sort(list_distinct(string_split(text, ''))),
                 ch -> CAST(length(text) - length(replace(text, ch, '')) AS DOUBLE) *
                       ln(CAST(length(text) - length(replace(text, ch, '')) AS DOUBLE)))),
               (a, b) -> a + b) / length(text)) / ln(2.0), 6) END AS entropy_bits
         FROM documents""",

    "wordlist_filter" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(ws, x -> list_contains(['dup','slow','spark'], x)))
             AS BIGINT) AS n_hits,
           CAST(len(list_filter(ws, x -> list_contains(['dup','slow','spark'], x)))
             AS DOUBLE) / len(ws) AS hit_ratio,
           CAST(len(list_filter(ws, x -> list_contains(['dup','slow','spark'], x)))
             AS DOUBLE) / len(ws) <= 0.10 AS keep
         FROM t""",

    // the BMP data section is the doc's bytes cycled (encodeBmp), so the
    // oracle reconstructs the stats from ascii codes: full cycles × total
    // plus the remainder prefix; min/max over the covered prefix
    "multimodal_pixel_stats" ->
      """WITH d AS (SELECT doc_id,
               CAST(16 + doc_id % 32 AS INT) AS w,
               CAST(8 + doc_id % 16 AS INT) AS h,
               list_transform(string_split(text, ''), ch -> ascii(ch)) AS px,
               length(text) AS len
             FROM documents),
         g AS (SELECT doc_id, px, len, (((w*3+3)//4)*4) * h AS datasize FROM d)
         SELECT doc_id, CAST(datasize AS BIGINT) AS n_data_bytes,
           CAST((datasize // len) * list_aggregate(px, 'sum')
             + coalesce(list_aggregate(px[1 : datasize % len], 'sum'), 0)
             AS BIGINT) AS pix_sum,
           CAST(CASE WHEN datasize >= len THEN list_aggregate(px, 'min')
                ELSE list_aggregate(px[1 : datasize], 'min') END AS INT) AS pix_min,
           CAST(CASE WHEN datasize >= len THEN list_aggregate(px, 'max')
                ELSE list_aggregate(px[1 : datasize], 'max') END AS INT) AS pix_max
         FROM g""",

    // same 9x8 point-sampled grayscale grid and bit layout as
    // Multimodal.dHash, rebuilt from the encode parameters: pixel byte at
    // data offset o is ascii(text[o % len]); grid entry (i, j) sits at
    // 1-based index j*9+i+1; hash bit t compares entries t%8 and t%8+1 of
    // row t//8
    "multimodal_phash" ->
      """WITH d AS (SELECT doc_id,
               CAST(16 + doc_id % 32 AS INT) AS w,
               CAST(8 + doc_id % 16 AS INT) AS h,
               list_transform(string_split(text, ''), ch -> ascii(ch)) AS px,
               length(text) AS len
             FROM documents),
         g AS (SELECT doc_id, w, h, ((w*3+3)//4)*4 AS rowsize, px, len FROM d),
         grid AS (SELECT doc_id, w, h,
             list_transform(range(72), t ->
               ( px[(((t % 9) * w // 9) * 3 + ((t // 9) * h // 8) * rowsize) % len + 1]
               + px[((((t % 9) * w // 9) * 3 + ((t // 9) * h // 8) * rowsize) + 1) % len + 1]
               + px[((((t % 9) * w // 9) * 3 + ((t // 9) * h // 8) * rowsize) + 2) % len + 1]
               ) // 3) AS gg
           FROM g),
         ph AS (SELECT doc_id, w, h,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(64), t ->
                 CASE WHEN gg[(t // 8) * 9 + (t % 8) + 2] > gg[(t // 8) * 9 + (t % 8) + 1]
                      THEN (CASE WHEN t = 63
                            THEN CAST(-9223372036854775807 AS BIGINT) - 1
                            ELSE (CAST(1 AS BIGINT) << CAST(t AS INT)) END)
                      ELSE CAST(0 AS BIGINT) END)),
               (a, b) -> a + b) AS phash
           FROM grid)
         SELECT doc_id, phash, w AS width, h AS height,
           count(*) OVER (PARTITION BY phash) AS n_same
         FROM ph""",

    // data words reconstructed from the encode parameters: 16-bit LE
    // pairs of the doc's ascii bytes cycled; the mean compare is the
    // integer cross-multiply (w·n vs Σw), so every feature is exact
    "multimodal_audio" ->
      """WITH d AS (SELECT doc_id,
               list_transform(string_split(text, ''),
                 ch -> CAST(ascii(ch) AS BIGINT)) AS px,
               CAST(length(text) AS BIGINT) AS len,
               (100 + doc_id % 400) * (1 + doc_id % 2) AS nw
             FROM documents),
         s AS (SELECT doc_id, nw,
                 list_transform(range(nw), k ->
                   px[CAST((2*k) % len AS BIGINT) + 1]
                     + 256 * px[CAST((2*k+1) % len AS BIGINT) + 1]) AS ws
               FROM d),
         t AS (SELECT doc_id, nw, ws, list_sum(ws) AS sm FROM s)
         SELECT doc_id, nw AS n_words,
           CAST(list_sum(list_transform(ws, x -> x * x)) AS BIGINT) AS sum_sq,
           CAST(list_min(ws) AS BIGINT) AS w_min,
           CAST(list_max(ws) AS BIGINT) AS w_max,
           CAST(len(list_filter(range(1, nw), k ->
             (ws[k] * nw - sm) * (ws[k+1] * nw - sm) < 0)) AS BIGINT)
             AS mean_crossings
         FROM t""",

    // same derived op column, latest-wins collapse, and tombstone filter
    "cdc_apply" ->
      """WITH log AS (SELECT user_id, event_type, event_id,
               CAST(ts AS TIMESTAMP) AS ts, value,
               CASE WHEN event_id % 10 = 0 THEN 'D'
                    WHEN event_id % 10 < 4 THEN 'I' ELSE 'U' END AS op
             FROM events),
         r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY ts DESC, event_id DESC) AS rn FROM log)
         SELECT user_id, event_type, event_id, ts, value
         FROM r WHERE rn = 1 AND op <> 'D'""",

    // the same integer PageRank recurrence, unrolled (Graph.pageRankOracleSql)
    "pagerank" -> Graph.pageRankOracleSql(
      """SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                's' || CAST(l_suppkey AS VARCHAR) AS dst
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey % 5 = 0"""),

    // same adjacency ranking + per-step hash, unrolled CTE chain
    "graph_walks" -> Graph.graphWalksOracleSql(
      """SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                's' || CAST(l_suppkey AS VARCHAR) AS dst
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey % 9 = 0"""),

    // same stride-1 window expansion and first-occurrence rule
    // same wordHash + polyFold window rule, conditional end-bound
    // append (Spark's array_distinct preserves order; DuckDB's may not)
    "cdc_chunk_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         c AS (SELECT doc_id, ws,
               list_filter(range(3, len(ws) + 1), i ->
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(ws[i-2:i],
                       x -> CAST(ascii(x) AS BIGINT) * 31 + len(x))),
                   (a, x) -> (a * 1000003 + x) % 1000000007) % 8 = 0)
                 AS cuts
             FROM w),
         b AS (SELECT doc_id, ws,
               CASE WHEN len(cuts) > 0 AND cuts[len(cuts)] = len(ws)
                    THEN list_concat([CAST(0 AS BIGINT)], cuts)
                    ELSE list_concat(
                      list_concat([CAST(0 AS BIGINT)], cuts),
                      [CAST(len(ws) AS BIGINT)]) END AS bounds
             FROM c),
         ch AS (SELECT doc_id, t.j AS pos,
               array_to_string(ws[bounds[j+1]+1 : bounds[j+2]], ' ')
                 AS chunk
             FROM b, UNNEST(range(len(bounds) - 1)) AS t(j)),
         f AS (SELECT doc_id,
               CASE WHEN row_number() OVER (PARTITION BY chunk
                      ORDER BY doc_id, pos) > 1 THEN 1 ELSE 0 END AS dup
             FROM ch),
         r AS (SELECT doc_id, count(*) AS nc,
               CAST(sum(dup) AS BIGINT) AS nd FROM f GROUP BY 1)
         SELECT d.doc_id,
           CAST(coalesce(nc, 0) AS BIGINT) AS n_chunks,
           CAST(coalesce(nd, 0) AS BIGINT) AS n_dup_chunks,
           CASE WHEN nc IS NULL THEN 0.0
                ELSE CAST(nd AS DOUBLE) / nc END AS dup_ratio
         FROM documents d LEFT JOIN r USING (doc_id)""",

    "exactsubstr_report" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         g AS (SELECT doc_id, t.g AS pos,
                 array_to_string(ws[g+1:g+8], ' ') AS gram
               FROM w, UNNEST(range(len(ws) - 7)) AS t(g)
               WHERE len(ws) >= 8),
         f AS (SELECT doc_id,
                 CASE WHEN row_number() OVER (PARTITION BY gram
                        ORDER BY doc_id, pos) > 1 THEN 1 ELSE 0 END AS dup
               FROM g),
         r AS (SELECT doc_id, count(*) AS nw,
                 CAST(sum(dup) AS BIGINT) AS nd FROM f GROUP BY 1)
         SELECT d.doc_id,
           CAST(coalesce(nw, 0) AS BIGINT) AS n_windows,
           CAST(coalesce(nd, 0) AS BIGINT) AS n_dup_windows,
           CASE WHEN nw IS NULL THEN 0.0
                ELSE CAST(nd AS DOUBLE) / nw END AS dup_ratio
         FROM documents d LEFT JOIN r USING (doc_id)""",

    // same stride-1 window relation, first-occurrence rank, and
    // covered-token rebuild (token j removed iff ∃ flagged start s,
    // s ≤ j < s+8)
    "exactsubstr_dedup" ->
      """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws
                    FROM documents),
         g AS (SELECT doc_id, t.g AS pos,
                 array_to_string(ws[g+1:g+8], ' ') AS gram
               FROM w, UNNEST(range(len(ws) - 7)) AS t(g)
               WHERE len(ws) >= 8),
         r AS (SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY gram
                   ORDER BY doc_id, pos) AS rn
               FROM g),
         f AS (SELECT doc_id, list_sort(list(pos)) AS starts
               FROM r WHERE rn > 1 GROUP BY doc_id)
         SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
           CASE WHEN starts IS NULL THEN CAST(0 AS BIGINT)
                ELSE CAST(len(list_filter(range(len(ws)),
                  j -> len(list_filter(starts,
                    s -> s <= j AND j < s + 8)) > 0)) AS BIGINT)
           END AS n_removed,
           CASE WHEN starts IS NULL THEN text
                -- coalesce: DuckDB's array_to_string([]) is NULL, Spark's
                -- array_join of an empty array is '' (fully-removed docs)
                ELSE coalesce(array_to_string(list_transform(
                  list_filter(range(len(ws)),
                    j -> len(list_filter(starts,
                      s -> s <= j AND j < s + 8)) = 0),
                  j -> ws[j + 1]), ' '), '')
           END AS text_dedup
         FROM w LEFT JOIN f USING (doc_id)""",

    // the full chain replayed: same twin plant (chr codes restate the
    // Scala \u escapes), same strip→NFC→collapse→trim normalize (the
    // idempotence-mandated order: strip control chars BEFORE NFC), exact
    // stage as a min-over-hash-partition, near stage as the shingle
    // Jaccard under the SAME derived df cap the plan applies —
    // clamp(ceil(0.02*n), 100, 1024) of the input count, TextDedup
    // .dfCapFor — so capped semantics (inter is a lower bound once a
    // shingle's survivor-df exceeds the cap) are replayed, not just
    // coincidentally untripped at the gate corpus; same min-partner
    // canonical rule
    "curation_pipeline" ->
      """WITH inp AS (SELECT doc_id,
               'Caf' || chr(233) || ' ' || text AS text FROM documents
             UNION ALL
             SELECT doc_id + 20000, 'Cafe' || chr(769) || ' ' || text
             FROM documents WHERE doc_id % 10 = 0),
         cap AS (SELECT least(greatest(CAST(ceil(0.02 * count(*)) AS BIGINT),
                   100), 1024) AS c FROM inp),
         n AS (SELECT doc_id,
                 trim(regexp_replace(nfc_normalize(
                   regexp_replace(text,
                     '[\x00-\x08\x0B\x0E-\x1F\x7F]', '', 'g')),
                   '[ \t\n\r\f]+', ' ', 'g')) AS text
               FROM inp),
         e AS (SELECT doc_id, text,
                 min(doc_id) OVER (PARTITION BY sha256(text)) AS exact_canon
               FROM n),
         s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM e
               WHERE doc_id = exact_canon),
         sh AS (SELECT DISTINCT doc_id,
                  array_to_string(ws[g+1:g+3], ' ') AS shingle
                FROM s, UNNEST(range(len(ws) - 2)) AS t(g)
                WHERE len(ws) >= 3),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         df AS (SELECT shingle FROM sh GROUP BY shingle
                HAVING count(*) <= (SELECT c FROM cap)),
         pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
                   FROM sh a JOIN sh b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   JOIN df ON a.shingle = df.shingle
                   GROUP BY 1, 2),
         nd AS (SELECT db AS doc_id, min(da) AS near_canon
                FROM pairs JOIN sz x ON da = x.doc_id
                           JOIN sz y ON db = y.doc_id
                WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5
                GROUP BY 1)
         SELECT e.doc_id,
           CASE WHEN e.doc_id <> e.exact_canon THEN 'exact_dup'
                WHEN nd.near_canon IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS status,
           CASE WHEN e.doc_id <> e.exact_canon THEN e.exact_canon
                WHEN nd.near_canon IS NOT NULL THEN nd.near_canon
                ELSE e.doc_id END AS canonical_id
         FROM e LEFT JOIN nd USING (doc_id)""",

    // the events-payload front door replayed end-to-end: the same JSON
    // flatten (json_extract_string = the k leaf), the same canonical
    // text rendering (decomposed marker on every 10th event, portable
    // cents bucket via round → BIGINT → truncating //), then the
    // identical strip→NFC→collapse→trim normalize, capped near stage,
    // and min-partner canonical rule as curation_pipeline
    "curation_pipeline_events" ->
      """WITH inp AS (SELECT event_id AS doc_id,
               (CASE WHEN event_id % 10 = 0 THEN 'Cafe' || chr(769)
                     ELSE 'Caf' || chr(233) END)
               || ' user ' || coalesce(CAST(user_id AS VARCHAR), 'null')
               || ' k '
               || coalesce(
                    CAST(CAST(json_extract_string(props, '$.k') AS BIGINT)
                         AS VARCHAR), 'null')
               || ' ' || coalesce(event_type, 'null') || ' b '
               || coalesce(CAST(CAST(round(value * 100) AS BIGINT) // 10000
                                AS VARCHAR), 'null') AS text
             FROM events),
         cap AS (SELECT least(greatest(CAST(ceil(0.02 * count(*)) AS BIGINT),
                   100), 1024) AS c FROM inp),
         n AS (SELECT doc_id,
                 trim(regexp_replace(nfc_normalize(
                   regexp_replace(text,
                     '[\x00-\x08\x0B\x0E-\x1F\x7F]', '', 'g')),
                   '[ \t\n\r\f]+', ' ', 'g')) AS text
               FROM inp),
         e AS (SELECT doc_id, text,
                 min(doc_id) OVER (PARTITION BY sha256(text)) AS exact_canon
               FROM n),
         s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM e
               WHERE doc_id = exact_canon),
         sh AS (SELECT DISTINCT doc_id,
                  array_to_string(ws[g+1:g+3], ' ') AS shingle
                FROM s, UNNEST(range(len(ws) - 2)) AS t(g)
                WHERE len(ws) >= 3),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         df AS (SELECT shingle FROM sh GROUP BY shingle
                HAVING count(*) <= (SELECT c FROM cap)),
         pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
                   FROM sh a JOIN sh b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   JOIN df ON a.shingle = df.shingle
                   GROUP BY 1, 2),
         nd AS (SELECT db AS doc_id, min(da) AS near_canon
                FROM pairs JOIN sz x ON da = x.doc_id
                           JOIN sz y ON db = y.doc_id
                WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5
                GROUP BY 1)
         SELECT e.doc_id,
           CASE WHEN e.doc_id <> e.exact_canon THEN 'exact_dup'
                WHEN nd.near_canon IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS status,
           CASE WHEN e.doc_id <> e.exact_canon THEN e.exact_canon
                WHEN nd.near_canon IS NOT NULL THEN nd.near_canon
                ELSE e.doc_id END AS canonical_id
         FROM e LEFT JOIN nd USING (doc_id)""",

    // the brute-force top-k oracle with the different-label constraint
    "hard_negatives" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                    FROM embeddings)
         SELECT q.vec_id AS q_id, q.label AS q_label,
                c.vec_id AS neg_id, c.label AS neg_label,
                list_cosine_similarity(q.v, c.v) AS sim,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                           c.vec_id ASC) AS rank
         FROM e q JOIN e c
           ON q.vec_id <> c.vec_id AND q.label <> c.label
         WHERE q.vec_id < 32
         QUALIFY rank <= 5""",

    // typed extraction through DuckDB's JSON path; the variant schema
    // of the constant-shape props is a literal
    "variant_funcs" ->
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_long,
           CAST(json_extract_string(props, '$.missing') AS BIGINT)
             AS missing_long,
           'OBJECT<k: BIGINT>' AS v_schema
         FROM events""",

    // same chunking, marker scores, prediction rule, and
    // (count desc, lang asc) majority; same every-7th-doc code-switch
    // injection (16 en markers + 32 es markers)
    "segment_langid" ->
      """WITH w AS (SELECT doc_id, string_split(
                      text || CASE WHEN doc_id % 7 = 0
                        THEN repeat(' the', 16) || repeat(' la', 32)
                        ELSE '' END, ' ') AS ws
                    FROM documents),
         segs AS (SELECT doc_id,
             array_to_string(
               ws[CAST(i*16+1 AS BIGINT):CAST(i*16+16 AS BIGINT)], ' ')
               AS seg
           FROM w, UNNEST(range(CAST(greatest(ceil(len(ws) / 16.0), 1)
             AS BIGINT))) AS t(i)),
         scored AS (SELECT doc_id,
             len(list_filter(string_split(seg, ' '),
               x -> x IN ('the', 'a'))) AS s_en,
             len(list_filter(string_split(seg, ' '),
               x -> x IN ('la', 'el'))) AS s_es,
             len(list_filter(string_split(seg, ' '),
               x -> x IN ('der', 'die'))) AS s_de
           FROM segs),
         pred AS (SELECT doc_id,
             CASE WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es THEN 'de'
                  WHEN s_en > 0 AND s_en >= s_es THEN 'en'
                  WHEN s_es > 0 THEN 'es'
                  ELSE 'und' END AS seg_lang
           FROM scored),
         cnt AS (SELECT doc_id, seg_lang, count(*) AS n
                 FROM pred GROUP BY 1, 2),
         agg AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_segments,
                   count(DISTINCT CASE WHEN seg_lang <> 'und'
                         THEN seg_lang END) AS n_langs
                 FROM cnt GROUP BY 1),
         m AS (SELECT doc_id, seg_lang AS majority_lang,
                 CAST(n AS BIGINT) AS n_majority FROM cnt
               QUALIFY row_number() OVER (PARTITION BY doc_id
                 ORDER BY n DESC, seg_lang) = 1)
         SELECT agg.doc_id, n_segments, majority_lang, n_majority,
           (n_langs > 1) AS is_mixed
         FROM agg JOIN m USING (doc_id)""",

    // the same composed stages: sha256 groups, the exact near-dup pair
    // set, recursive-CTE components, canonical-doc token sum
    "curation_report" ->
      s"""WITH RECURSIVE p AS (SELECT doc_a, doc_b FROM ($nearDupOracle)),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         reach(src, dst) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         lbl AS (SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster_id
                 FROM documents d LEFT JOIN reach r ON d.doc_id = r.src
                 GROUP BY d.doc_id)
         SELECT
           (SELECT count(*) FROM documents) AS n_docs,
           CAST((SELECT sum(len(string_split(text, ' ')))
                 FROM documents) AS BIGINT) AS tokens_total,
           (SELECT count(DISTINCT sha256(text)) FROM documents)
             AS n_exact_unique,
           (SELECT count(*) FROM p) AS n_near_pairs,
           (SELECT count(DISTINCT cluster_id) FROM lbl) AS n_clusters,
           CAST((SELECT sum(len(string_split(text, ' ')))
                 FROM documents JOIN lbl USING (doc_id)
                 WHERE doc_id = cluster_id) AS BIGINT) AS tokens_retained""",

    // same invariant as the batch op: the live view == full recompute,
    // however the triggers sliced the feed
    "streaming_agg_maintain" ->
      """SELECT user_id, event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value,
           min(value) AS mn, max(value) AS mx
         FROM events GROUP BY 1, 2""",

    // the streamed tombstone-retaining state filtered of deletes equals
    // the batch latest-wins collapse of the FULL changelog (associative
    // + idempotent max-version merge), so cdc_apply's oracle verifies it
    "streaming_cdc_apply" ->
      """WITH log AS (SELECT user_id, event_type, event_id,
               CAST(ts AS TIMESTAMP) AS ts, value,
               CASE WHEN event_id % 10 = 0 THEN 'D'
                    WHEN event_id % 10 < 4 THEN 'I' ELSE 'U' END AS op
             FROM events),
         r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY ts DESC, event_id DESC) AS rn FROM log)
         SELECT user_id, event_type, event_id, ts, value
         FROM r WHERE rn = 1 AND op <> 'D'""",

    // the invariant IS the oracle: maintained == full recompute over
    // corpus ∪ batch (counts/sums/extrema are decomposable)
    "incremental_agg_maintain" ->
      """SELECT user_id, event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value,
           min(value) AS mn, max(value) AS mx
         FROM events GROUP BY 1, 2""",

    // same portable key-space hash sample and integer products
    "join_cardinality_est" ->
      """WITH c AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem
                    GROUP BY 1),
         s AS (SELECT k, c FROM c
               WHERE (k * 1000003 % 1000000007) % 8 = 0)
         SELECT
           CAST((SELECT sum(c*c)*8 FROM s) AS BIGINT) AS est_pairs,
           CAST((SELECT sum(c*c) FROM c) AS BIGINT) AS exact_pairs,
           CAST((SELECT sum(c*c)*8 FROM s) AS DOUBLE)
             / (SELECT sum(c*c) FROM c) AS est_ratio""",

    // the delta-rule invariant IS the oracle: the tick-maintained view
    // equals the one-shot join
    "incremental_join_maintain" ->
      """SELECT o_custkey AS custkey, o_orderkey, o_orderstatus,
           c_mktsegment
         FROM orders JOIN customer ON o_custkey = c_custkey""",

    // the incremental-equals-full invariant IS the oracle: the merged
    // dimension equals a rebuild over ALL events
    "scd2_merge" ->
      s"""WITH base AS ($evBase)
          SELECT user_id, event_type, event_id, value,
            ts AS valid_from,
            lead(ts) OVER w AS valid_to,
            lead(ts) OVER w IS NULL AS is_current
          FROM base
          WINDOW w AS (PARTITION BY user_id, event_type
                       ORDER BY ts ASC, event_id ASC)""",

    // same tf / source-df aggregation and exact-rational score
    "source_topterms" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w
                    FROM documents),
         tf AS (SELECT source, w, count(*) AS tf FROM t GROUP BY 1, 2),
         sdf AS (SELECT w, count(*) AS source_df FROM tf GROUP BY 1),
         ns AS (SELECT count(DISTINCT source) AS n_sources FROM documents)
         SELECT source, w AS term, tf, source_df,
           CAST(tf * n_sources AS DOUBLE) / source_df AS score,
           CAST(row_number() OVER (PARTITION BY source
             ORDER BY CAST(tf * n_sources AS DOUBLE) / source_df DESC, w)
             AS INT) AS rank
         FROM tf JOIN sdf USING (w) CROSS JOIN ns
         QUALIFY rank <= 5""",

    // same idf rounding, k1/b constants, and fixed-order scoring
    "search_bm25" ->
      """WITH lens AS (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
             FROM documents),
         st AS (SELECT count(*) AS n_docs,
                  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
         h AS (SELECT doc_id, w FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents)
           WHERE w IN ('batch', 'scan', 'hash')),
         tf AS (SELECT doc_id,
             CAST(sum(CASE WHEN w = 'batch' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfb,
             CAST(sum(CASE WHEN w = 'scan' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfs,
             CAST(sum(CASE WHEN w = 'hash' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfh
           FROM h GROUP BY 1),
         dfs AS (SELECT
             count(DISTINCT CASE WHEN w = 'batch' THEN doc_id END) AS dfb,
             count(DISTINCT CASE WHEN w = 'scan' THEN doc_id END) AS dfs,
             count(DISTINCT CASE WHEN w = 'hash' THEN doc_id END) AS dfh
           FROM h),
         sc AS (SELECT doc_id, dl, tfb, tfs, tfh,
             round(ln((n_docs - dfb + 0.5) / (dfb + 0.5) + 1.0), 6)
               * (CAST(tfb AS DOUBLE) * 2.2)
               / (CAST(tfb AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + round(ln((n_docs - dfs + 0.5) / (dfs + 0.5) + 1.0), 6)
               * (CAST(tfs AS DOUBLE) * 2.2)
               / (CAST(tfs AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + round(ln((n_docs - dfh + 0.5) / (dfh + 0.5) + 1.0), 6)
               * (CAST(tfh AS DOUBLE) * 2.2)
               / (CAST(tfh AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               AS score
           FROM tf JOIN lens USING (doc_id) CROSS JOIN dfs CROSS JOIN st)
         SELECT doc_id, dl, tfb AS tf_batch, tfs AS tf_scan,
           tfh AS tf_hash, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
             AS rank
         FROM sc
         QUALIFY rank <= 20""",

    // same single-scan conditional counts and tolerances
    "dq_rules" ->
      """WITH w AS (SELECT count(*) AS n_rows,
             sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS v1,
             sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS v2,
             sum(CASE WHEN value > 300 THEN 1 ELSE 0 END) AS v3,
             sum(CASE WHEN user_id <= 0 THEN 1 ELSE 0 END) AS v4
           FROM events)
         SELECT rule, n_rows, n_violations, (n_violations <= tol) AS passed
         FROM (
           SELECT 'value_not_null' AS rule, n_rows,
             CAST(v1 AS BIGINT) AS n_violations, 0 AS tol FROM w
           UNION ALL SELECT 'value_nonneg', n_rows,
             CAST(v2 AS BIGINT), 0 FROM w
           UNION ALL SELECT 'value_cap_300', n_rows,
             CAST(v3 AS BIGINT), 100 FROM w
           UNION ALL SELECT 'user_positive', n_rows,
             CAST(v4 AS BIGINT), 0 FROM w)""",

    // the two ranking chains + exact pair counts over the common set
    "kendall_tau" ->
      """WITH h AS (SELECT doc_id, w FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents)
           WHERE w IN ('batch', 'scan', 'hash')),
         tfa AS (SELECT doc_id,
             CAST(sum(CASE WHEN w = 'batch' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfb,
             CAST(sum(CASE WHEN w = 'scan' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfs,
             CAST(sum(CASE WHEN w = 'hash' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfh
           FROM h GROUP BY 1),
         dfa AS (SELECT
             count(DISTINCT CASE WHEN w = 'batch' THEN doc_id END) AS dfb,
             count(DISTINCT CASE WHEN w = 'scan' THEN doc_id END) AS dfs,
             count(DISTINCT CASE WHEN w = 'hash' THEN doc_id END) AS dfh
           FROM h),
         ra AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY
               CAST(tfb AS DOUBLE) / dfb + CAST(tfs AS DOUBLE) / dfs
                 + CAST(tfh AS DOUBLE) / dfh DESC, doc_id) AS INT) AS ra
           FROM tfa CROSS JOIN dfa
           QUALIFY ra <= 20),
         lens AS (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
             FROM documents),
         st AS (SELECT count(*) AS n_docs,
                  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
         sc AS (SELECT doc_id,
             round(ln((n_docs - dfb + 0.5) / (dfb + 0.5) + 1.0), 6)
               * (CAST(tfb AS DOUBLE) * 2.2)
               / (CAST(tfb AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + round(ln((n_docs - dfs + 0.5) / (dfs + 0.5) + 1.0), 6)
               * (CAST(tfs AS DOUBLE) * 2.2)
               / (CAST(tfs AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + round(ln((n_docs - dfh + 0.5) / (dfh + 0.5) + 1.0), 6)
               * (CAST(tfh AS DOUBLE) * 2.2)
               / (CAST(tfh AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               AS score
           FROM tfa JOIN lens USING (doc_id) CROSS JOIN dfa CROSS JOIN st),
         rb AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
               AS rb
           FROM sc QUALIFY rb <= 20),
         c AS (SELECT ra.doc_id AS id, ra, rb
               FROM ra JOIN rb ON ra.doc_id = rb.doc_id),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM c),
         p AS (SELECT CAST(sum(CASE WHEN (l.ra < r.ra) = (l.rb < r.rb)
                   THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
               CAST(sum(CASE WHEN (l.ra < r.ra) = (l.rb < r.rb)
                   THEN 0 ELSE 1 END) AS BIGINT) AS discordant
             FROM c l JOIN c r ON l.id < r.id)
         SELECT n_common, coalesce(concordant, 0) AS concordant,
           coalesce(discordant, 0) AS discordant,
           CASE WHEN n_common >= 2 THEN
             CAST(concordant - discordant AS DOUBLE)
               / (n_common * (n_common - 1) // 2)
           ELSE 0.0 END AS tau
         FROM p CROSS JOIN n""",

    // kendall_tau's two ranking chains verbatim, then the dense
    // common-subset re-rank and the exact d^2 formula
    "spearman_rho" ->
      """WITH h AS (SELECT doc_id, w FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents)
           WHERE w IN ('batch', 'scan', 'hash')),
         tfa AS (SELECT doc_id,
             CAST(sum(CASE WHEN w = 'batch' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfb,
             CAST(sum(CASE WHEN w = 'scan' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfs,
             CAST(sum(CASE WHEN w = 'hash' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfh
           FROM h GROUP BY 1),
         dfa AS (SELECT
             count(DISTINCT CASE WHEN w = 'batch' THEN doc_id END) AS dfb,
             count(DISTINCT CASE WHEN w = 'scan' THEN doc_id END) AS dfs,
             count(DISTINCT CASE WHEN w = 'hash' THEN doc_id END) AS dfh
           FROM h),
         ra AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY
               CAST(tfb AS DOUBLE) / dfb + CAST(tfs AS DOUBLE) / dfs
                 + CAST(tfh AS DOUBLE) / dfh DESC, doc_id) AS INT) AS ra
           FROM tfa CROSS JOIN dfa
           QUALIFY ra <= 20),
         lens AS (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
             FROM documents),
         st AS (SELECT count(*) AS n_docs,
                  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
         sc AS (SELECT doc_id,
             round(ln((n_docs - dfb + 0.5) / (dfb + 0.5) + 1.0), 6)
               * (CAST(tfb AS DOUBLE) * 2.2)
               / (CAST(tfb AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + round(ln((n_docs - dfs + 0.5) / (dfs + 0.5) + 1.0), 6)
               * (CAST(tfs AS DOUBLE) * 2.2)
               / (CAST(tfs AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + round(ln((n_docs - dfh + 0.5) / (dfh + 0.5) + 1.0), 6)
               * (CAST(tfh AS DOUBLE) * 2.2)
               / (CAST(tfh AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               AS score
           FROM tfa JOIN lens USING (doc_id) CROSS JOIN dfa CROSS JOIN st),
         rb AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
               AS rb
           FROM sc QUALIFY rb <= 20),
         c AS (SELECT ra.doc_id AS id, ra, rb
               FROM ra JOIN rb ON ra.doc_id = rb.doc_id),
         rr AS (SELECT
               CAST(row_number() OVER (ORDER BY ra, id) AS BIGINT) AS pa,
               CAST(row_number() OVER (ORDER BY rb, id) AS BIGINT) AS pb
             FROM c)
         SELECT CAST(count(*) AS BIGINT) AS n_common,
           CAST(coalesce(sum((pa - pb) * (pa - pb)), 0) AS BIGINT)
             AS sum_d2,
           CASE WHEN count(*) >= 2 THEN
             1.0 - (6.0 * CAST(sum((pa - pb) * (pa - pb)) AS DOUBLE))
               / CAST(count(*) * (count(*) * count(*) - 1) AS DOUBLE)
           ELSE 0.0 END AS rho
         FROM rr""",

    // ks_drift's count table, then 2U via the below-count window and
    // the tie-corrected z^2 decision in HUGEINT
    "mann_whitney" ->
      """WITH b AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
               CAST(date_diff('day', DATE '1970-01-01',
                 CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 2 AS INT) AS side
             FROM events WHERE value IS NOT NULL),
         g AS (SELECT x,
               sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ca,
               sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cb
             FROM b GROUP BY 1),
         c AS (SELECT x, ca, cb,
               coalesce(sum(cb) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                   PRECEDING AND 1 PRECEDING), 0) AS cbb
             FROM g),
         a AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
               CAST(sum(cb) AS BIGINT) AS nb,
               CAST(coalesce(sum(ca * (2 * cbb + cb)), 0) AS BIGINT) AS u2,
               CAST(coalesce(sum(CAST(ca + cb AS HUGEINT) * (ca + cb)
                   * (ca + cb) - (ca + cb)), 0) AS HUGEINT) AS ties
             FROM c)
         SELECT na AS n_a, nb AS n_b, u2 AS u2_a,
           CASE WHEN na > 0 AND nb > 0 THEN
             CAST(u2 - na * nb AS DOUBLE) / (CAST(na AS DOUBLE) * nb)
           ELSE 0.0 END AS r_rb,
           CAST(1875 AS HUGEINT) * (u2 - na * nb) * (u2 - na * nb)
               * (na + nb) * (na + nb - 1) >
             CAST(2401 AS HUGEINT) * na * nb *
               (CAST(na + nb AS HUGEINT) * (na + nb) * (na + nb)
                 - (na + nb) - ties) AS reject
         FROM a""",

    // same positional pairing, clipped-count overlap, single division
    "rouge2_eval" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
             FROM documents),
         g AS (SELECT doc_id // 2 AS pair_id, doc_id % 2 AS side,
               array_to_string(ws[i+1:i+2], ' ') AS gram
             FROM w, UNNEST(range(len(ws) - 1)) AS t(i)
             WHERE len(ws) >= 2),
         cnt AS (SELECT pair_id, gram,
               sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cc,
               sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cr
             FROM g GROUP BY 1, 2),
         p AS (SELECT pair_id, CAST(sum(cc) AS BIGINT) AS n_cand,
               CAST(sum(cr) AS BIGINT) AS n_ref,
               CAST(sum(least(cc, cr)) AS BIGINT) AS overlap
             FROM cnt GROUP BY 1)
         SELECT pair_id, n_cand, n_ref, overlap,
           (2.0 * CAST(overlap AS DOUBLE))
             / CAST(n_cand + n_ref AS DOUBLE) AS rouge_f1
         FROM p WHERE n_cand > 0 AND n_ref > 0""",

    // both rankers' oracle chains verbatim, fused by the same
    // 10^12-scaled integer-division reciprocals (// in DuckDB)
    "rrf_fusion" ->
      """WITH h AS (SELECT doc_id, w FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents)
           WHERE w IN ('batch', 'scan', 'hash')),
         tfa AS (SELECT doc_id,
             CAST(sum(CASE WHEN w = 'batch' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfb,
             CAST(sum(CASE WHEN w = 'scan' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfs,
             CAST(sum(CASE WHEN w = 'hash' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfh
           FROM h GROUP BY 1),
         dfa AS (SELECT
             count(DISTINCT CASE WHEN w = 'batch' THEN doc_id END) AS dfb,
             count(DISTINCT CASE WHEN w = 'scan' THEN doc_id END) AS dfs,
             count(DISTINCT CASE WHEN w = 'hash' THEN doc_id END) AS dfh
           FROM h),
         ra AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY
               CAST(tfb AS DOUBLE) / dfb + CAST(tfs AS DOUBLE) / dfs
                 + CAST(tfh AS DOUBLE) / dfh DESC, doc_id) AS INT)
               AS rank_tfidf
           FROM tfa CROSS JOIN dfa
           QUALIFY rank_tfidf <= 20),
         lens AS (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
             FROM documents),
         st AS (SELECT count(*) AS n_docs,
                  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
         sc AS (SELECT doc_id,
             round(ln((n_docs - dfb + 0.5) / (dfb + 0.5) + 1.0), 6)
               * (CAST(tfb AS DOUBLE) * 2.2)
               / (CAST(tfb AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + round(ln((n_docs - dfs + 0.5) / (dfs + 0.5) + 1.0), 6)
               * (CAST(tfs AS DOUBLE) * 2.2)
               / (CAST(tfs AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + round(ln((n_docs - dfh + 0.5) / (dfh + 0.5) + 1.0), 6)
               * (CAST(tfh AS DOUBLE) * 2.2)
               / (CAST(tfh AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               AS score
           FROM tfa JOIN lens USING (doc_id) CROSS JOIN dfa CROSS JOIN st),
         rb AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
               AS rank_bm25
           FROM sc
           QUALIFY rank_bm25 <= 20),
         f AS (SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
             coalesce(CAST(1000000000000 // (60 + rank_tfidf) AS BIGINT),
               0) + coalesce(CAST(1000000000000 // (60 + rank_bm25)
               AS BIGINT), 0) AS rrf_score,
             coalesce(rank_tfidf, 0) AS rank_tfidf,
             coalesce(rank_bm25, 0) AS rank_bm25
           FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id)
         SELECT doc_id, rank_tfidf, rank_bm25, rrf_score,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
             AS INT) AS rank_fused
         FROM f
         QUALIFY rank_fused <= 20""",

    // the anomaly_zscore decimal arithmetic with a composite
    // (event_type, day-of-week) season key
    "anomaly_seasonal" ->
      """WITH x AS (SELECT event_id,
               event_type || '|'
                 || CAST(dayofweek(CAST(CAST(ts AS TIMESTAMP) AS DATE)) + 1
                         AS VARCHAR) AS season,
               value, CAST(round(value * 100) AS BIGINT) AS xc
             FROM events),
         st AS (SELECT season, count(*) AS n,
                  sum(CAST(xc AS HUGEINT)) AS s,
                  sum(CAST(xc AS HUGEINT) * CAST(xc AS HUGEINT)) AS ss
                FROM x GROUP BY 1)
         SELECT event_id, x.season, value
         FROM x JOIN st USING (season)
         WHERE (CAST(n AS HUGEINT) * xc - s) * (CAST(n AS HUGEINT) * xc - s) * 4 >
               (CAST(n AS HUGEINT) * ss - s * s) * 9""",

    // same key split, payload hash compare, and change-only filter
    "snapshot_diff" ->
      """WITH o AS (SELECT event_id,
               sha256(CAST(user_id AS VARCHAR) || event_type
                 || CAST(value AS VARCHAR)) AS h
             FROM events WHERE event_id % 5 <> 0),
         n AS (SELECT event_id,
               sha256(CAST(user_id AS VARCHAR) || event_type
                 || CAST(CASE WHEN event_id % 9 = 0 THEN value + 1
                              ELSE value END AS VARCHAR)) AS h
             FROM events WHERE event_id % 7 <> 0)
         SELECT event_id, status FROM (
           SELECT coalesce(o.event_id, n.event_id) AS event_id,
             CASE WHEN o.h IS NULL THEN 'added'
                  WHEN n.h IS NULL THEN 'removed'
                  WHEN o.h <> n.h THEN 'changed'
                  ELSE 'unchanged' END AS status
           FROM o FULL OUTER JOIN n ON o.event_id = n.event_id)
         WHERE status <> 'unchanged'""",

    // same conditional tf columns, broadcast df scalars, and
    // fixed-order score expression
    "search_ranked" ->
      """WITH h AS (SELECT doc_id, w FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents)
           WHERE w IN ('batch', 'scan', 'hash')),
         tf AS (SELECT doc_id,
             CAST(sum(CASE WHEN w = 'batch' THEN 1 ELSE 0 END) AS BIGINT)
               AS tf_batch,
             CAST(sum(CASE WHEN w = 'scan' THEN 1 ELSE 0 END) AS BIGINT)
               AS tf_scan,
             CAST(sum(CASE WHEN w = 'hash' THEN 1 ELSE 0 END) AS BIGINT)
               AS tf_hash
           FROM h GROUP BY 1),
         df AS (SELECT
             count(DISTINCT CASE WHEN w = 'batch' THEN doc_id END) AS dfb,
             count(DISTINCT CASE WHEN w = 'scan' THEN doc_id END) AS dfs,
             count(DISTINCT CASE WHEN w = 'hash' THEN doc_id END) AS dfh
           FROM h)
         SELECT doc_id, tf_batch, tf_scan, tf_hash,
           CAST(tf_batch AS DOUBLE) / dfb + CAST(tf_scan AS DOUBLE) / dfs
             + CAST(tf_hash AS DOUBLE) / dfh AS score,
           CAST(row_number() OVER (ORDER BY
             CAST(tf_batch AS DOUBLE) / dfb + CAST(tf_scan AS DOUBLE) / dfs
               + CAST(tf_hash AS DOUBLE) / dfh DESC, doc_id) AS INT)
             AS rank
         FROM tf CROSS JOIN df
         QUALIFY rank <= 20""",

    // same (ts, id)-ordered fold; DuckDB list_reduce seeds with the
    // first element, matching the Spark side's seed-x1 recurrence
    "ewma_smooth" ->
      """WITH o AS (SELECT user_id,
               list(value ORDER BY CAST(ts AS TIMESTAMP), event_id) AS vs,
               count(*) AS n_events
             FROM events GROUP BY 1)
         SELECT user_id, n_events, vs[-1] AS last_value,
           list_reduce(vs, (s, x) -> s * 0.5 + x * 0.5) AS ewma
         FROM o""",

    // same anchored first-eligible-event chain and 24h interval bounds
    "funnel_windowed" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                    FROM events),
         a1 AS (SELECT user_id, min(ts) AS t1 FROM e
                WHERE event_type = 'view' GROUP BY 1),
         a2 AS (SELECT e.user_id, min(ts) AS t2
                FROM e JOIN a1 ON e.user_id = a1.user_id
                WHERE event_type = 'click' AND ts >= t1
                  AND ts <= t1 + INTERVAL 86400 SECOND
                GROUP BY 1),
         a3 AS (SELECT e.user_id, min(ts) AS t3
                FROM e JOIN a2 ON e.user_id = a2.user_id
                WHERE event_type = 'purchase' AND ts >= t2
                  AND ts <= t2 + INTERVAL 86400 SECOND
                GROUP BY 1)
         SELECT a1.user_id, t1, t2, t3,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS INT)
             AS reached_step
         FROM a1 LEFT JOIN a2 ON a1.user_id = a2.user_id
         LEFT JOIN a3 ON a1.user_id = a3.user_id""",

    // the same min-weight edges and unrolled relaxation rounds
    "shortest_path" -> Graph.shortestPathsOracleSql(
      """SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                's' || CAST(l_suppkey AS VARCHAR) AS dst,
                min(CAST(l_quantity AS BIGINT)) AS w
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey % 5 = 0 GROUP BY 1, 2""",
      """SELECT DISTINCT src AS node FROM e0
         WHERE CAST(substr(src, 2) AS BIGINT) % 97 = 0"""),

    // the same graph construction, recursive-CTE min-hop (Graph.bfsOracleSql)
    "graph_bfs" -> Graph.bfsOracleSql(
      """SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                's' || CAST(l_suppkey AS VARCHAR) AS dst
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey % 5 = 0""",
      """SELECT DISTINCT src AS node FROM e0
         WHERE CAST(substr(src, 2) AS BIGINT) % 97 = 0"""),

    // same co-purchase edges, canonical x<y<z 3-way join (Graph.triangleOracleSql)
    "triangle_count" -> Graph.triangleOracleSql(
      """SELECT l1.l_partkey AS a, l2.l_partkey AS b
         FROM lineitem l1 JOIN lineitem l2
           ON l1.l_orderkey = l2.l_orderkey
         WHERE l1.l_orderkey % 3 = 0"""),

    // same digit-hierarchy edges, frontier unrolled 5 levels
    "bom_rollup" -> Graph.bomRollupOracleSql(
      """SELECT p_partkey // 10 AS parent, p_partkey AS child,
                CAST(p_partkey % 5 + 1 AS INT) AS qty
         FROM part WHERE p_partkey >= 10""", levels = 5),

    // the exact semantic of deletion-neighborhood blocking: all-pairs
    // levenshtein = 1 over the same name domain (dirty-variant SQL is
    // the entity_resolution convention)
    "typo_pairs" ->
      """WITH names AS (
           SELECT c_name AS w FROM customer
           UNION
           SELECT substr(c_name, 1,
                    CAST(c_custkey % (length(c_name) - 1) AS INT)) ||
                  substr(c_name,
                    CAST(c_custkey % (length(c_name) - 1) + 2 AS INT)) AS w
           FROM customer WHERE c_custkey % 7 = 0),
         t AS (SELECT DISTINCT w FROM names)
         SELECT a.w AS name_a, b.w AS name_b, 1 AS lev
         FROM t a JOIN t b ON a.w < b.w AND levenshtein(a.w, b.w) = 1""",

    // capped wedge candidates (same deterministic per-center bound),
    // anti-join off the edge set, one rounded division
    "link_predict" -> Graph.linkPredictOracleSql(
      """SELECT l1.l_partkey AS a, l2.l_partkey AS b
         FROM lineitem l1 JOIN lineitem l2
           ON l1.l_orderkey = l2.l_orderkey
         WHERE l1.l_orderkey % 3 = 0""", minCommon = 5L,
      maxCenterDegree = 64),

    // one UNION ALL branch per column; money pre-normalized to cents
    "column_profile" ->
      """SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_s,
           CAST(max(o_orderkey) AS VARCHAR) AS max_s FROM orders
         UNION ALL
         SELECT 'o_custkey', count(*),
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(min(o_custkey) AS VARCHAR),
           CAST(max(o_custkey) AS VARCHAR) FROM orders
         UNION ALL
         SELECT 'o_orderstatus', count(*),
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           CAST(min(o_orderstatus) AS VARCHAR),
           CAST(max(o_orderstatus) AS VARCHAR) FROM orders
         UNION ALL
         SELECT 'o_totalprice_cents', count(*),
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT CAST(round(o_totalprice * 100) AS BIGINT))
             AS BIGINT),
           CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS VARCHAR),
           CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS VARCHAR)
         FROM orders
         UNION ALL
         SELECT 'o_orderdate', count(*),
           CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT),
           CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR),
           CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) FROM orders
         UNION ALL
         SELECT 'o_orderpriority', count(*),
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           CAST(min(o_orderpriority) AS VARCHAR),
           CAST(max(o_orderpriority) AS VARCHAR) FROM orders""",

    // same TakeOrdered survivors ((n desc, key) tiebreak) and cum window
    "skew_diagnose" ->
      """WITH c AS (SELECT l_partkey AS key, count(*) AS n
                    FROM lineitem GROUP BY 1),
         t AS (SELECT sum(n) AS total FROM c),
         top AS (SELECT key, n,
                   CAST(row_number() OVER (ORDER BY n DESC, key) AS INT)
                     AS rank
                 FROM c ORDER BY n DESC, key LIMIT 20)
         SELECT key, n, rank,
           CAST(n AS DOUBLE) / total AS share,
           CAST(CAST(sum(n) OVER (ORDER BY rank
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS DOUBLE) / total AS cum_share
         FROM top CROSS JOIN t""",

    // identical hash (murmur-style finalizer), register build, and
    // estimator arithmetic; every float literal CAST to DOUBLE (bare
    // 0.709 parses as DECIMAL here)
    "hll_distinct" ->
      """WITH x1 AS (SELECT o_orderpriority AS g,
               (o_custkey * 2654435761) % 2147483648 AS h1 FROM orders),
         x2 AS (SELECT g,
               (xor(h1, h1 >> 15) * 2246822519) % 2147483648 AS h2 FROM x1),
         x AS (SELECT g, xor(h2, h2 >> 13) AS h FROM x2),
         b AS (SELECT g, h // 33554432 AS bkt, h % 33554432 AS w FROM x),
         r AS (SELECT g, bkt,
                 max(CASE WHEN w = 0 THEN 26 ELSE 26 - length(bin(w)) END) AS M
               FROM b GROUP BY 1, 2),
         e AS (SELECT g, count(*) AS n_regs,
                 sum(power(CAST(2 AS DOUBLE), -M)) AS z_used FROM r GROUP BY 1),
         f AS (SELECT g, n_regs,
                 z_used + CAST(64 - n_regs AS DOUBLE) AS z,
                 64 - n_regs AS v FROM e),
         est AS (SELECT g,
             CASE WHEN CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
                    * CAST(64 AS DOUBLE) / z <= 160 AND v > 0
                  THEN round(CAST(64 AS DOUBLE)
                    * ln(CAST(64 AS DOUBLE) / CAST(v AS DOUBLE)), 6)
                  ELSE round(CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
                    * CAST(64 AS DOUBLE) / z, 6) END AS hll_estimate
           FROM f),
         ex AS (SELECT o_orderpriority AS g,
                  count(DISTINCT o_custkey) AS n_exact FROM orders GROUP BY 1)
         SELECT ex.g AS o_orderpriority, n_exact, hll_estimate
         FROM ex JOIN est USING (g)""",

    // the maintained register table == batch recompute (max-merge is
    // associative): same per-day register pipeline, no window
    "streaming_hll" ->
      """WITH ev AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               user_id FROM events),
         x1 AS (SELECT day, (user_id * 2654435761) % 2147483648 AS h1 FROM ev),
         x2 AS (SELECT day,
               (xor(h1, h1 >> 15) * 2246822519) % 2147483648 AS h2 FROM x1),
         x AS (SELECT day, xor(h2, h2 >> 13) AS h FROM x2),
         b AS (SELECT day, h // 33554432 AS bkt, h % 33554432 AS w FROM x),
         r AS (SELECT day, bkt,
                 max(CASE WHEN w = 0 THEN 26 ELSE 26 - length(bin(w)) END) AS M
               FROM b GROUP BY 1, 2),
         e AS (SELECT day, count(*) AS n_regs,
                 sum(power(CAST(2 AS DOUBLE), -M)) AS z_used FROM r GROUP BY 1),
         f AS (SELECT day, n_regs,
                 z_used + CAST(64 - n_regs AS DOUBLE) AS z,
                 64 - n_regs AS v FROM e)
         SELECT day,
             CASE WHEN CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
                    * CAST(64 AS DOUBLE) / z <= 160 AND v > 0
                  THEN round(CAST(64 AS DOUBLE)
                    * ln(CAST(64 AS DOUBLE) / CAST(v AS DOUBLE)), 6)
                  ELSE round(CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
                    * CAST(64 AS DOUBLE) / z, 6) END AS hll_estimate
         FROM f""",

    // same registers per day, max-merged over the trailing window
    "hll_sliding" ->
      """WITH ev AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               user_id FROM events),
         x1 AS (SELECT day, (user_id * 2654435761) % 2147483648 AS h1 FROM ev),
         x2 AS (SELECT day,
               (xor(h1, h1 >> 15) * 2246822519) % 2147483648 AS h2 FROM x1),
         x AS (SELECT day, xor(h2, h2 >> 13) AS h FROM x2),
         b AS (SELECT day, h // 33554432 AS bkt, h % 33554432 AS w FROM x),
         r AS (SELECT day, bkt,
                 max(CASE WHEN w = 0 THEN 26 ELSE 26 - length(bin(w)) END) AS M
               FROM b GROUP BY 1, 2),
         days AS (SELECT DISTINCT day FROM r),
         mg AS (SELECT d.day, r.bkt, max(M) AS M
                FROM days d JOIN r ON r.day BETWEEN d.day - 6 AND d.day
                GROUP BY 1, 2),
         e AS (SELECT day, count(*) AS n_regs,
                 sum(power(CAST(2 AS DOUBLE), -M)) AS z_used FROM mg GROUP BY 1),
         f AS (SELECT day, n_regs,
                 z_used + CAST(64 - n_regs AS DOUBLE) AS z,
                 64 - n_regs AS v FROM e),
         est AS (SELECT day,
             CASE WHEN CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
                    * CAST(64 AS DOUBLE) / z <= 160 AND v > 0
                  THEN round(CAST(64 AS DOUBLE)
                    * ln(CAST(64 AS DOUBLE) / CAST(v AS DOUBLE)), 6)
                  ELSE round(CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
                    * CAST(64 AS DOUBLE) / z, 6) END AS hll_estimate
           FROM f),
         ex AS (SELECT d.day, count(DISTINCT e2.user_id) AS n_exact
                FROM days d JOIN ev e2 ON e2.day BETWEEN d.day - 6 AND d.day
                GROUP BY 1)
         SELECT ex.day, n_exact, hll_estimate FROM ex JOIN est USING (day)""",

    // per-subspace seed → decimal-exact Lloyd step → argmax encode,
    // generated from the operator's own parameters
    "embedding_pq" -> Similarity.productQuantizeOracleSql(),

    // identical double-hash arithmetic; h = 3 distinct-position joins
    // collapse to the all-bits-set test (probe keys are unique here, so
    // the per-row hit count is exactly the explode fan-out)
    "bloom_semi_join" ->
      """WITH bset AS (SELECT DISTINCT o_custkey AS bk FROM orders
                       WHERE o_totalprice > 490000),
         bits AS (SELECT DISTINCT bit FROM bset, UNNEST([
                    ((bk * 1000003 + 12345) % 2038074743) % 16384,
                    ((bk * 999983 + 54321) % 2038074743) % 16384,
                    ((bk * 824633 + 98765) % 2038074743) % 16384]) AS t(bit)),
         pr AS (SELECT c_custkey, c_name, pos FROM customer, UNNEST([
                    ((c_custkey * 1000003 + 12345) % 2038074743) % 16384,
                    ((c_custkey * 999983 + 54321) % 2038074743) % 16384,
                    ((c_custkey * 824633 + 98765) % 2038074743) % 16384]) AS t(pos)),
         hits AS (SELECT c_custkey, c_name, count(*) AS h
                  FROM pr JOIN bits ON pos = bit GROUP BY 1, 2)
         SELECT c_custkey, c_name,
           (c_custkey IN (SELECT bk FROM bset)) AS is_match
         FROM hits WHERE h = 3""",

    // same deterministic one-char deletion, prefix ∪ suffix blocking,
    // and (lev, name, key) argmin; the window aggregates replay the
    // Spark-side n_candidates/n_within audit
    "entity_resolution" ->
      """WITH dirty AS (SELECT p_partkey AS rec_id,
               substr(p_name, 1,
                 CAST(p_partkey % (length(p_name) - 1) AS INT)) ||
               substr(p_name,
                 CAST(p_partkey % (length(p_name) - 1) + 2 AS INT))
                 AS dirty_name
             FROM part),
         catalog AS (SELECT p_name AS canon_name, min(p_partkey) AS canon_key
                     FROM part GROUP BY 1),
         cand AS (
           SELECT DISTINCT rec_id, dirty_name, canon_name, canon_key
           FROM (
             SELECT rec_id, dirty_name, canon_name, canon_key
             FROM dirty JOIN catalog
               ON substr(dirty_name, 1, 3) = substr(canon_name, 1, 3)
             UNION ALL
             SELECT rec_id, dirty_name, canon_name, canon_key
             FROM dirty JOIN catalog
               ON substr(dirty_name, -3, 3) = substr(canon_name, -3, 3))),
         v AS (SELECT rec_id, dirty_name, canon_name, canon_key,
                 levenshtein(dirty_name, canon_name) AS lev FROM cand)
         SELECT rec_id, dirty_name, canon_name AS match_name,
           canon_key AS match_key, CAST(lev AS INT) AS lev,
           count(*) OVER w AS n_candidates,
           CAST(sum(CASE WHEN lev <= 2 THEN 1 ELSE 0 END) OVER w AS BIGINT)
             AS n_within
         FROM v
         WINDOW w AS (PARTITION BY rec_id)
         QUALIFY row_number() OVER (PARTITION BY rec_id
           ORDER BY lev, canon_name, canon_key) = 1""",

    // same distinct-(basket, item) projection, pair expansion, support
    // threshold, and 1e-6-rounded ln
    "cooccur_pmi" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                        FROM lineitem),
         nb AS (SELECT count(DISTINCT b) AS n_baskets FROM items),
         ic AS (SELECT i, count(*) AS n_i FROM items GROUP BY 1),
         p AS (SELECT l.i AS item_a, r.i AS item_b, count(*) AS n_ab
               FROM items l JOIN items r ON l.b = r.b AND l.i < r.i
               GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT item_a, item_b, n_ab, ca.n_i AS n_a, cb.n_i AS n_b,
           round(ln(CAST(n_ab AS DOUBLE) * n_baskets
             / (CAST(ca.n_i AS DOUBLE) * cb.n_i)), 6) AS pmi
         FROM p JOIN ic ca ON item_a = ca.i JOIN ic cb ON item_b = cb.i
         CROSS JOIN nb""",

    // same corpus-span calendar, day-close argmax ((ts, id) tiebreak),
    // and forward-fill window
    "ts_gapfill" ->
      """WITH ev AS (SELECT user_id,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, value,
               row_number() OVER (
                 PARTITION BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
                 ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
             FROM events),
         daily AS (SELECT user_id, day, count(*) AS n,
               max(CASE WHEN rn = 1 THEN value END) AS close
             FROM ev GROUP BY 1, 2),
         cal AS (SELECT CAST(unnest(generate_series(
               (SELECT min(day) FROM daily), (SELECT max(day) FROM daily),
               INTERVAL 1 DAY)) AS DATE) AS day),
         grid AS (SELECT user_id, day
                  FROM (SELECT DISTINCT user_id FROM daily) CROSS JOIN cal)
         SELECT grid.user_id, grid.day,
           CAST(coalesce(daily.n, 0) AS BIGINT) AS n,
           last_value(daily.close IGNORE NULLS) OVER (
             PARTITION BY grid.user_id ORDER BY grid.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ffill
         FROM grid LEFT JOIN daily
           ON grid.user_id = daily.user_id AND grid.day = daily.day""",

    // same exact-cents medians (dyadic rationals — no rounding needed)
    // and 3-MAD flag
    "mad_outliers" ->
      """WITH r AS (SELECT event_id, event_type AS g, value,
               CAST(round(value * 100) AS BIGINT) AS xc FROM events),
         med AS (SELECT g, quantile_cont(xc, 0.5) AS med FROM r GROUP BY 1),
         dev AS (SELECT r.*, med, abs(CAST(xc AS DOUBLE) - med) AS absdev
                 FROM r JOIN med USING (g)),
         mad AS (SELECT g, quantile_cont(absdev, 0.5) AS mad
                 FROM dev GROUP BY 1)
         SELECT event_id, g AS event_type, value, med, mad
         FROM dev JOIN mad USING (g)
         WHERE absdev > 3 * mad""",

    // the GK guarantee makes both bounds provably TRUE for any
    // conforming sketch — the oracle predicts the contract, not the
    // (engine-specific) sketch values
    "mad_outliers_approx" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           TRUE AS med_in_bound, TRUE AS mad_in_bound
         FROM events GROUP BY 1""",

    // same within-word bigram expansion and (count desc, pair asc) rank
    "bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
                    FROM documents),
         p AS (SELECT unnest(list_transform(range(1, length(w)),
                 i -> substr(w, CAST(i AS INT), 2))) AS pair
               FROM w WHERE length(w) >= 2),
         c AS (SELECT pair, count(*) AS n FROM p GROUP BY 1)
         SELECT pair, n,
           CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rank
         FROM c
         QUALIFY row_number() OVER (ORDER BY n DESC, pair) <= 50""",

    // exact top-k CTE + the embedding_ann oracle's IVF CTEs, joined:
    // recall@5 per probe as an int/int division
    "ann_recall_eval" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         exact AS (
           SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id
           FROM (SELECT * FROM e WHERE vec_id < 32) q JOIN e c
             ON q.vec_id <> c.vec_id
           QUALIFY row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                      c.vec_id ASC) <= 5),
         cent AS (SELECT vec_id AS cent_id, v AS g FROM e WHERE vec_id < 16),
         assigned AS (
           SELECT e.vec_id AS neighbor_id, e.v AS c, cent_id
           FROM e CROSS JOIN cent
           QUALIFY row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, g) DESC, cent_id ASC) <= 1),
         probed AS (
           SELECT e.vec_id AS q_id, e.v AS q, cent_id FROM e CROSS JOIN cent
           WHERE e.vec_id < 32
           QUALIFY row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, g) DESC, cent_id ASC) <= 4),
         approx AS (SELECT q_id, neighbor_id FROM (
           SELECT q_id, neighbor_id,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY list_cosine_similarity(q, c) DESC,
                             neighbor_id ASC) AS rank
           FROM probed JOIN assigned USING (cent_id)
           WHERE q_id <> neighbor_id)
           WHERE rank <= 5)
         SELECT exact.q_id, count(*) AS n_true,
           CAST(sum(CASE WHEN approx.neighbor_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           CAST(sum(CASE WHEN approx.neighbor_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS recall
         FROM exact LEFT JOIN approx
           ON exact.q_id = approx.q_id
              AND exact.neighbor_id = approx.neighbor_id
         GROUP BY exact.q_id""",

    "salted_agg" ->
      """SELECT event_type,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           count(*) AS n
         FROM events GROUP BY event_type""",

    // the asof_join oracle plus a staleness guard on the matched ts
    "asof_join_tolerance" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                    FROM events WHERE event_type IN ('view', 'purchase')),
         x AS (SELECT user_id AS key, event_id AS id, ts, event_type,
                 last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
                   OVER w AS asof_id,
                 last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER w AS asof_ts
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         t AS (SELECT key, id, ts, asof_id, asof_ts,
                 asof_ts IS NOT NULL AND
                   CAST(floor(epoch(ts)) AS BIGINT)
                     - CAST(floor(epoch(asof_ts)) AS BIGINT) <= 3600 AS fresh
               FROM x WHERE event_type = 'purchase')
         SELECT key, id, ts,
           CASE WHEN fresh THEN asof_id END AS asof_id,
           CASE WHEN fresh THEN asof_ts END AS asof_ts
         FROM t""",

    // pruning must be invisible in the result: plain 2-D box filter
    "zorder_prune" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
         FROM lineitem
         WHERE l_partkey BETWEEN 100 AND 400
           AND l_suppkey BETWEEN 2 AND 8""",

    // bloom-layout roundtrip == point lookup on the source table
    "bloom_layout_lookup" ->
      """SELECT o_orderkey, o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         WHERE o_orderkey IN (1, 500, 1000, 999999999)""",

    // bit interleave via exact floor-divides by powers of two (the same
    // arithmetic the Spark expression folds; doubles are exact < 2^26)
    "zorder_layout" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           CAST(list_sum(list_transform(range(16), i ->
             (CAST(floor(l_partkey / power(2, i)) AS BIGINT) % 2)
               * CAST(power(2, 2*i) AS BIGINT)
             + (CAST(floor(l_suppkey / power(2, i)) AS BIGINT) % 2)
               * CAST(power(2, 2*i+1) AS BIGINT))) AS BIGINT) AS z
         FROM lineitem""",

    "bigram_lm" ->
      """WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
         bg AS (SELECT words[g+1] AS w1, words[g+2] AS w2
                FROM w, UNNEST(range(len(words) - 1)) AS t(g)
                WHERE len(words) >= 2),
         pc AS (SELECT w1, w2, count(*) AS n FROM bg GROUP BY 1, 2),
         cc AS (SELECT w1, count(*) AS n_ctx FROM bg GROUP BY 1)
         SELECT pc.w1, pc.w2, pc.n,
           CAST(pc.n AS DOUBLE) / cc.n_ctx AS p_cond
         FROM pc JOIN cc USING (w1)
         ORDER BY pc.n DESC, pc.w1 ASC, pc.w2 ASC LIMIT 20""",

    "gdpr_delete_audit" ->
      """WITH f AS (SELECT c_custkey AS fid FROM customer WHERE c_custkey % 97 = 0)
         SELECT 'events' AS table_name,
           CAST(sum(CASE WHEN user_id IN (SELECT fid FROM f) THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
           CAST(sum(CASE WHEN user_id IN (SELECT fid FROM f) THEN 0 ELSE 1 END) AS BIGINT) AS n_remaining
         FROM events
         UNION ALL
         SELECT 'orders',
           CAST(sum(CASE WHEN o_custkey IN (SELECT fid FROM f) THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN o_custkey IN (SELECT fid FROM f) THEN 0 ELSE 1 END) AS BIGINT)
         FROM orders
         UNION ALL
         SELECT 'customer',
           CAST(sum(CASE WHEN c_custkey IN (SELECT fid FROM f) THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN c_custkey IN (SELECT fid FROM f) THEN 0 ELSE 1 END) AS BIGINT)
         FROM customer""",

    // same quasi-identifier cells, HAVING < k
    "k_anonymity" ->
      """SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           CAST(floor(value / 50) AS BIGINT) AS vbucket,
           count(*) AS n, count(*) AS at_risk
         FROM events GROUP BY 1, 2, 3 HAVING count(*) < 5""",

    "join_q5_shape" ->
      """SELECT n_name,
           CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS DOUBLE) AS revenue
         FROM region
         JOIN nation ON n_regionkey = r_regionkey
         JOIN customer ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name""",

    "sql_q9_profit" ->
      """SELECT n_name AS nation,
           CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS o_year,
           CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                         - p_retailprice * 0.1 * l_quantity
                    AS DECIMAL(28,10))) AS DOUBLE) AS profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%bolt%'
         GROUP BY 1, 2""",

    "sql_q20_shape" ->
      """WITH l AS (SELECT l_partkey, l_suppkey,
                 CAST(round(l_quantity * 100) AS BIGINT) AS q_cents
               FROM lineitem JOIN part ON p_partkey = l_partkey
               WHERE p_name LIKE '%bolt%'),
         ps AS (SELECT l_partkey, l_suppkey,
                  CAST(sum(q_cents) AS BIGINT) AS sq
                FROM l GROUP BY 1, 2),
         tot AS (SELECT l_partkey, CAST(sum(q_cents) AS BIGINT) AS tq,
                  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS ns
                 FROM l GROUP BY 1)
         SELECT s_suppkey, s_name FROM supplier
         WHERE s_suppkey IN (
           SELECT DISTINCT l_suppkey FROM ps JOIN tot USING (l_partkey)
           WHERE sq * ns > tq)""",

    "sql_q22_balance" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
               FROM customer),
         t AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS s_pos,
                 CAST(count(*) AS BIGINT) AS n_pos
               FROM c WHERE bal_cents > 0)
         SELECT c_nationkey AS cntrycode,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(bal_cents) AS BIGINT) AS totacctbal_cents
         FROM c, t
         WHERE bal_cents * n_pos > s_pos
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND CAST(o.o_orderdate AS DATE)
                                 >= DATE '2000-01-01')
         GROUP BY 1""",

    "sql_q15_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
               (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS BIGINT) AS total_revenue_mc
           FROM lineitem
           WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
             AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, total_revenue_mc
         FROM supplier JOIN rev ON s_suppkey = l_suppkey
         WHERE total_revenue_mc = (SELECT max(total_revenue_mc) FROM rev)""",

    "sql_q18_large_volume" ->
      """WITH l AS (SELECT l_orderkey,
                 CAST(round(l_quantity * 100) AS BIGINT) AS q_cents
               FROM lineitem)
         SELECT c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS o_date,
           CAST(sum(q_cents) AS BIGINT) AS total_q_cents
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN l ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (SELECT l_orderkey FROM l
                              GROUP BY 1 HAVING sum(q_cents) > 30000)
         GROUP BY 1, 2, 3""",

    "sql_q19_disjunctive" ->
      """SELECT p_brand,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
             (100 - CAST(round(l_discount * 100) AS BIGINT)))
             AS BIGINT) AS revenue_mc,
           CAST(count(*) AS BIGINT) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 20)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                AND l_quantity BETWEEN 10 AND 30)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
                AND l_quantity BETWEEN 20 AND 50)
         GROUP BY 1""",

    "sql_q13_custdist" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
         FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
               FROM customer LEFT JOIN orders
                 ON c_custkey = o_custkey
                 AND o_orderpriority <> '4-NOT SPECIFIED'
               GROUP BY c_custkey) t
         GROUP BY c_count""",

    "sql_q2_min_cost" ->
      """WITH cost AS (
           SELECT p_partkey, s_suppkey, s_name, n_name,
             CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS cost_cents
           FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
             AND p_size BETWEEN 10 AND 25
           GROUP BY 1, 2, 3, 4)
         SELECT p_partkey, s_suppkey, s_name, n_name, cost_cents
         FROM cost c
         WHERE cost_cents = (SELECT min(cost_cents) FROM cost c2
                             WHERE c2.p_partkey = c.p_partkey)""",

    "sql_q3_shipping" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
           o_orderpriority,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
             (100 - CAST(round(l_discount * 100) AS BIGINT)))
             AS BIGINT) AS revenue_mc
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
           AND CAST(l_shipdate AS DATE) > DATE '1997-01-01'
         GROUP BY 1, 2, 3
         ORDER BY revenue_mc DESC, o_orderkey ASC
         LIMIT 10""",

    "sql_q4_order_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
         FROM orders
         WHERE CAST(o_orderdate AS DATE) >= DATE '1996-07-01'
           AND CAST(o_orderdate AS DATE) < DATE '1996-10-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND CAST(l_shipdate AS DATE)
                             > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY)
         GROUP BY 1""",

    "sql_q6_forecast" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
             CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
             AS revenue_e4,
           CAST(count(*) AS BIGINT) AS n_items
         FROM lineitem
         WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
           AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
           AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
           AND l_quantity < 24""",

    "sql_q7_nation_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(CAST(l_shipdate AS TIMESTAMP)) AS BIGINT) AS l_year,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
             (100 - CAST(round(l_discount * 100) AS BIGINT)))
             AS BIGINT) AS revenue_mc
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
           AND CAST(l_shipdate AS DATE) <= DATE '1997-12-31'
           AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_1')
             OR (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_3'))
         GROUP BY 1, 2, 3""",

    "sql_q8_market_share" ->
      """WITH vol AS (
           SELECT CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
               AS o_year,
             CAST(round(l_extendedprice * 100) AS BIGINT) *
               (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_mc,
             sn.n_name AS supp_nation
           FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
           JOIN orders ON l_orderkey = o_orderkey
           WHERE p_type = 'ECONOMY'
             AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
             AND CAST(o_orderdate AS DATE) <= DATE '1997-12-31'
             AND o_custkey IN (
               SELECT c_custkey FROM customer
               JOIN nation ON c_nationkey = n_nationkey
               JOIN region ON n_regionkey = r_regionkey
               WHERE r_name = 'ASIA'))
         SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev_mc
                         ELSE 0 END) AS BIGINT) AS nation_rev_mc,
           CAST(sum(rev_mc) AS BIGINT) AS total_rev_mc,
           CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev_mc
                         ELSE 0 END) AS DOUBLE)
             / CAST(sum(rev_mc) AS DOUBLE) AS mkt_share
         FROM vol GROUP BY 1""",

    "sql_q10_returned" ->
      """SELECT c_custkey, c_name, n_name,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
             (100 - CAST(round(l_discount * 100) AS BIGINT)))
             AS BIGINT) AS revenue_mc
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
           AND CAST(o_orderdate AS DATE) < DATE '1997-07-01'
         GROUP BY 1, 2, 3
         ORDER BY revenue_mc DESC, c_custkey ASC
         LIMIT 20""",

    "sql_q11_important" ->
      """WITH pv AS (
           SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
               CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
               AS part_value_c
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name IN ('NATION_3', 'NATION_8')
           GROUP BY 1),
         t AS (SELECT CAST(sum(part_value_c) AS BIGINT) AS total_c,
                 CAST(count(*) AS BIGINT) AS n_parts FROM pv)
         SELECT l_partkey, part_value_c FROM pv, t
         WHERE part_value_c * n_parts * 2 > total_c * 3""",

    "sql_q12_shipmode" ->
      """SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
           AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
           AND CAST(l_shipdate AS DATE)
               > CAST(o_orderdate AS DATE) + INTERVAL 90 DAY
         GROUP BY 1""",

    "sql_q14_promo" ->
      """SELECT
           CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_mc ELSE 0 END)
             AS BIGINT) AS promo_rev_mc,
           CAST(sum(rev_mc) AS BIGINT) AS total_rev_mc,
           CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_mc ELSE 0 END)
             AS DOUBLE) * 100.0 / CAST(sum(rev_mc) AS DOUBLE) AS promo_pct
         FROM (SELECT l_partkey,
                 CAST(round(l_extendedprice * 100) AS BIGINT) *
                   (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_mc
               FROM lineitem
               WHERE CAST(l_shipdate AS DATE) >= DATE '1996-03-01'
                 AND CAST(l_shipdate AS DATE) < DATE '1996-04-01') l
         JOIN part ON l_partkey = p_partkey""",

    "sql_q16_supplier_cnt" ->
      """SELECT p_brand, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         WHERE p_type <> 'PROMO'
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_acctbal < 0)
         GROUP BY 1, 2""",

    "scd2_lookup" ->
      s"""WITH base AS ($evBase),
         v AS (SELECT user_id AS d_user_id, event_id AS version_id,
                 ts AS valid_from,
                 lead(ts) OVER (PARTITION BY user_id
                   ORDER BY ts ASC, event_id ASC) AS valid_to
               FROM base WHERE event_type = 'view'),
         p AS (SELECT user_id, event_id AS purchase_id, ts FROM base
               WHERE event_type = 'purchase')
         SELECT p.user_id, p.purchase_id, p.ts, v.version_id, v.valid_from
         FROM p LEFT JOIN v ON p.user_id = v.d_user_id
           AND p.ts >= v.valid_from
           AND (v.valid_to IS NULL OR p.ts < v.valid_to)""",

    // the decoder READS these values out of real BMP headers; the oracle
    // predicts them from the encode parameters — a roundtrip proof
    "multimodal_bmp" ->
      """SELECT doc_id,
           CAST(16 + doc_id % 32 AS INT) AS width,
           CAST(8 + doc_id % 16 AS INT) AS height,
           CAST(24 AS INT) AS bpp,
           CAST(54 + (((16 + doc_id % 32) * 3 + 3) // 4) * 4 * (8 + doc_id % 16) AS BIGINT) AS n_bytes
         FROM documents""",

    // each event belongs to windows starting at bucket(15m) - j*15m for
    // j in 0..3 (window length 1h, slide 15m)
    "hopping_window" ->
      """SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
               - j * INTERVAL '15 minutes' AS window_start,
           event_type, count(*) AS n
         FROM events, UNNEST(range(4)) AS t(j)
         GROUP BY 1, 2""",

    // sample rate / channels / duration read from real RIFF headers; the
    // oracle predicts them from the encode parameters
    "multimodal_wav" ->
      """SELECT doc_id,
           CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS sample_rate,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(16 AS INT) AS bits,
           CAST(100 + doc_id % 400 AS BIGINT) AS n_samples,
           CAST((100 + doc_id % 400) * 1000 //
             (CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
              WHEN 2 THEN 22050 ELSE 44100 END) AS BIGINT) AS duration_ms
         FROM documents""",

    // NOT EXISTS, not NOT IN: NOT IN's NULL semantics diverge from the
    // Spark op's left-anti join (a NULL fk is an orphan to the anti-join
    // but silently dropped by NOT IN, and one NULL parent key would make
    // NOT IN report zero orphans for the whole edge)
    "ref_integrity" ->
      """SELECT 'lineitem->orders' AS relationship,
           CAST(coalesce(sum(n_rows), 0) AS BIGINT) AS n_orphan_rows,
           count(*) AS n_orphan_keys
         FROM (SELECT l_orderkey AS fk, count(*) AS n_rows FROM lineitem GROUP BY 1)
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = fk)
         UNION ALL
         SELECT 'orders->customer',
           CAST(coalesce(sum(n_rows), 0) AS BIGINT), count(*)
         FROM (SELECT o_custkey AS fk, count(*) AS n_rows FROM orders GROUP BY 1)
         WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = fk)
         UNION ALL
         SELECT 'events->customer',
           CAST(coalesce(sum(n_rows), 0) AS BIGINT), count(*)
         FROM (SELECT user_id AS fk, count(*) AS n_rows FROM events GROUP BY 1)
         WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = fk)"""
  )

  /** Ground-truth near-dup pairs: uncapped all-pairs exact shingle
    * Jaccard >= 0.5 (3-word shingles).
    */

}

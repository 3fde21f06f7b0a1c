package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import Fixtures._

/** The web-corpus front door and its filter stages: mojibake repair,
  * the C4 line rules, the Gopher rules and the composed web pipelines.
  */
object WebQueries {

  // ---- queries another query reuses (initialized before defs) -----

  // E3+: Gopher repetition filters (n-gram half) — per-row sorted-run
  // folds, zero key shuffle
  val gopherRepetition: QueryDef =
    QueryDef("gopher_repetition", (s, dir) =>
      Text.gopherRepetition(Tables.documents(s, dir)),
      Text.gopherRepetitionRulesSql("documents"))

  // the line-duplicate half of the Gopher A1 table (the n-gram half
  // above shipped alone in round 8 because the corpus is single-line
  // — these fractions were STRUCTURALLY zero). Deterministic
  // injection, mirrored in the oracle: docs with >= 8 words render as
  // four word-quarters joined by newlines, and every 3rd doc repeats
  // quarter 1 in slot 3, so dup_line_frac provably fires (~1/4 on the
  // injected docs) while the rest stay multi-line negatives
  val gopherLineDup: QueryDef =
    QueryDef("gopher_line_dup", (s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val r = quarterRender
      val injected = when(r.m >= 8,
        concat_ws("\n", r.l1, r.l2,
          when(col("doc_id") % 3 === 0, r.l1).otherwise(r.l3), r.l4))
        .otherwise(col("text"))
      Text.gopherLineDup(base.select(col("doc_id"), injected.as("text")))
    },
      // the same quarter-injection as the registration (every 3rd doc with
      // >= 8 words repeats quarter 1 in slot 3), then the all-but-first
      // duplicate-line counts from (all, distinct) pairs
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
""" + Text.gopherLineDupRulesSql("gd") + "\n) q"))

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
  val gopherQuality: QueryDef =
    QueryDef("gopher_quality", (s, dir) => {
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
    },
      // generated beside the operator: the injection CASE chain, the
      // bullet/ellipsis glyphs, the stop-word list, and every published
      // threshold are single-sourced (stop-word floor scaled 2 -> 1,
      // documented in the operator scaladoc)
      Text.gopherQualityOracleSql())

  val defs: Seq[QueryDef] = Seq(
    gopherRepetition,

    gopherLineDup,

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
    QueryDef("c4_line_filter", (s, dir) =>
      Text.c4LineFilter(c4Injected(s, dir)),
      // the same four-quarter injection as the registration (terminal '.'
      // unless (doc_id+i)%3==0; " {" on line 2 for every 7th doc;
      // "lorem ipsum." as line 3 for every 11th), then C4's line keep
      // rules and page drop rules recomputed with DuckDB list functions;
      // the CTE chain is shared with c4_apply (one injection + one kept-
      // lines definition on the oracle side too)
      (c4OracleCtes + """
         SELECT doc_id,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept_lines,
           CAST(coalesce(list_sum(list_transform(kept, x -> len(x))), 0)
                AS BIGINT) AS kept_chars,
           contains(t2, '{') AS has_brace,
           contains(lower(t2), 'lorem ipsum') AS has_lorem,
           (len(kept) >= 2 AND NOT contains(t2, '{')
             AND NOT contains(lower(t2), 'lorem ipsum')) AS c4_pass
         FROM k""")),

    // the APPLY half of the C4 pair (the exactsubstr_report/_dedup
    // convention): surviving lines rejoined, failing pages dropped —
    // the cleaned corpus a training pipeline consumes. Same injection,
    // same shared kept-lines rule as the report op
    QueryDef("c4_apply", (s, dir) =>
      Text.c4Apply(c4Injected(s, dir)),
      // APPLY half: same CTE chain, page rules as the WHERE clause,
      // surviving lines rejoined
      (c4OracleCtes + """
         SELECT doc_id, array_to_string(kept, chr(10)) AS text_clean
         FROM k
         WHERE len(kept) >= 2 AND NOT contains(t2, '{')
           AND NOT contains(lower(t2), 'lorem ipsum')""")),

    // E3+ (ingest hygiene): ftfy-style mojibake repair. The corpus is
    // pure ASCII, so every 5th doc gets the three classic double-
    // encoding artifact families prepended (mirrored in the oracle);
    // the operator repairs them with the fixed literal-replace chain
    QueryDef("fix_encoding", (s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val injected = when(col("doc_id") % 5 === 0,
        concat(lit(Text.mojibakePrefix), col("text")))
        .otherwise(col("text"))
      Text.fixEncoding(base.select(col("doc_id"), injected.as("text")))
    },
      // generated beside the operator from the ONE mojibake table +
      // injection prefix (the qualityProbeOracleSql precedent), so the
      // repair chain and the every-5th-doc injection cannot drift
      // between the Spark and DuckDB sides
      Text.fixEncodingOracleSql()),

    // the complete published Gopher A1 document filter: repetition ∧
    // line-dup ∧ quality verdicts joined per doc (the production
    // shape: per-filter verdict tables -> one keep list), with the
    // first failing half as reject_reason. Each half runs its own
    // registered query, injections included, so the composite is
    // hash-pinned to the three halves it claims to compose
    QueryDef("gopher_filter", (s, dir) =>
      Text.gopherFilter(
        gopherRepetition.build(s, dir),
        gopherLineDup.build(s, dir),
        gopherQuality.build(s, dir)),
      // the complete Gopher A1 filter is the per-doc AND of the three
      // halves' oracles — composed verbatim, so the composite verifies
      // at the full depth of all three (incl. the repetition half's
      // explode + two-level groupBy, the heaviest oracle in the file)
      // NB: no stripMargin here — the embedded half-oracles contain
      // lines that BEGIN with SQL's || concat operator, which a margin
      // strip would truncate to a binary | and break the SQL
      """SELECT r.doc_id, r.gopher_pass, l.line_pass, q.quality_pass,
             (r.gopher_pass AND l.line_pass AND q.quality_pass) AS keep,
             CASE WHEN NOT r.gopher_pass THEN 'repetition'
                  WHEN NOT l.line_pass THEN 'line_dup'
                  WHEN NOT q.quality_pass THEN 'quality'
                  ELSE 'keep' END AS reject_reason
           FROM (""" + gopherRepetition.oracle + """) r
           JOIN (""" + gopherLineDup.oracle + """) l
             ON r.doc_id = l.doc_id
           JOIN (""" + gopherQuality.oracle + """) q
             ON q.doc_id = r.doc_id"""),

    // [EXT round 13] the web-corpus front door COMPOSED — what a
    // RefinedWeb/C4-style ingest actually runs: mojibake repair ->
    // C4 page cleaning (apply) -> complete Gopher A1 filter on the
    // cleaned text -> exact content-hash dedup, as ONE fused plan over
    // a re-ingest-doubled staged corpus (every page + its mojibake
    // mirror at +100000; the copies hash-merge at the dedup stage IFF
    // the repair stage ran — the curation_pipeline planted-twin
    // convention). Ledger half: one status row per staged doc
    QueryDef("web_pipeline", (s, dir) =>
      Text.webPipeline(webStaged(s, dir)).drop("text_clean"),
      // the composed web front door: the staged-corpus CTE chain (the
      // same quarter render + nav interleave + mojibake mirror as the
      // registration) fed through the generated pipeline mirror —
      // repair chain, C4 rules, all three Gopher rule chains, and the
      // dedup window, each single-sourced with its operator
      Text.webLedgerSql(webStagedRel)),

    // corpus half of the same fused plan: the cleaned, deduped rows a
    // training pipeline consumes (the exactsubstr report/apply pairing)
    QueryDef("web_pipeline_corpus", (s, dir) =>
      Text.webPipeline(webStaged(s, dir))
        .filter(col("status") === "kept")
        .select(col("doc_id"), col("text_clean").as("text")),
      Text.webCorpusSql(webStagedRel)),

    // [EXT round 14] the web front door + the FUZZY dedup stage a
    // RefinedWeb-class ingest runs after exact dedup: kept canonical
    // pages -> MinHash banding (64x32, wide recall) -> exact-Jaccard
    // verified partners -> re-statused ledger (eighth status class
    // near_dup). Staged corpus adds a paraphrase near-twin tier that
    // exact hashing provably cannot merge and near-dedup provably must
    QueryDef("web_pipeline_near", (s, dir) =>
      Text.webPipelineNear(webNearStaged(s, dir)),
      // round 14: the near-dedup-staged front door — the COMPLETE
      // exact-Jaccard pair set over kept canonicals re-statuses the
      // ledger, gating the Spark side's LSH recall, not just its math
      Text.webNearSql(webNearStagedRel)),

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
    QueryDef("web_pipeline_sem", (s, dir) =>
      Text.webPipelineSem(webSemStaged(s, dir), semEmbeddings(s, dir),
        dim = semEmbDim(s, dir)),
      Text.webSemSql(webSemStagedRel, semEmbRel)),

    // [EXT round 15] the front door + the EXACT-SUBSTRING surgery
    // stage (Lee et al. 2022) over the near survivors: every token
    // inside a >=8-token span duplicated across surviving pages is
    // removed, first occurrence wins (tenth status class
    // substr_pruned; the page stays, rewritten as text_dedup). The
    // staged corpus plants a 9-word license footer on every 19th
    // rendered page — after newline gluing its words 2..9 are a
    // page-independent duplicated 8-gram the stage must excise from
    // all but the first surviving occurrence
    QueryDef("web_pipeline_substr", (s, dir) =>
      Text.webPipelineSubstr(webSubstrStaged(s, dir)),
      Text.webSubstrSql(webSubstrStagedRel)),

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
    QueryDef("web_pipeline_full", (s, dir) =>
      Text.webPipelineFull(webFullStaged(s, dir), semEmbeddings(s, dir),
        dim = semEmbDim(s, dir)),
      // round 15: the complete chain — the three stages' literal CTE
      // blocks composed over the all-tier staging, surgery narrowed
      // to sem survivors
      Text.webFullSql(webFullStagedRel, semEmbRel)),

    gopherQuality
  )

  // ---- builders ----------------------------------------------------

  /** [[webNearStaged]] over the span-footer render — the
    * `web_pipeline_substr` staged corpus. Mirrored in
    * [[webSubstrStagedRel]]. */
  private def webSubstrStaged(s: SparkSession, dir: String): DataFrame =
    webNearStaged0(s, dir, webSpanRendered)

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

  // ---- oracle SQL (DuckDB) ------------------------------------------

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
}

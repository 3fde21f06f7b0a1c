package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops._

/** Builders and oracle SQL used by more than one query family: the
  * events projection, the scratch-dir paths, and the C4/web staging
  * fixtures with their DuckDB mirrors.
  */
private[queries] object Fixtures {

  // ---- builders ----------------------------------------------------

  /** events with ts at Spark's microsecond precision; props parsed. */
  private[queries] def eventsBase(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
              col("value"), col("props"))

  private[queries] val eventKeys = Seq("user_id", "event_type")

  /** The four-quarter word-render scaffold every documents-table
    * line-structure injection builds on (the synthetic corpus is
    * single-line, so multi-line rule triggers need a deterministic
    * render): `ws`/`m`/`q` and the four quarter strings. ONE
    * definition — `c4Injected`, the `gopher_line_dup` registration,
    * and the `gopher_quality` registration all decorate these same
    * columns, so the render cannot drift between injections (each
    * decoration is still mirrored in its own oracle).
    */
  private[queries] case class Quarters(ws: org.apache.spark.sql.Column,
      m: org.apache.spark.sql.Column, l1: org.apache.spark.sql.Column,
      l2: org.apache.spark.sql.Column, l3: org.apache.spark.sql.Column,
      l4: org.apache.spark.sql.Column)

  private[queries] def quarterRender: Quarters = {
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
  private[queries] case class C4InjectedLines(m: org.apache.spark.sql.Column,
      l1: org.apache.spark.sql.Column, l2: org.apache.spark.sql.Column,
      l3: org.apache.spark.sql.Column, l4: org.apache.spark.sql.Column)

  private[queries] def c4InjectedLines: C4InjectedLines = {
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

  private[queries] def c4Injected(s: SparkSession, dir: String): DataFrame = {
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
  private[queries] val webOffset = 100000L

  /** The page render shared by [[webInjected]] and the near-twin
    * staging — ONE definition so the paraphrase twins can never drift
    * from the pages they mirror. */
  private[queries] def webRendered: org.apache.spark.sql.Column = {
    val L = c4InjectedLines
    val nav = lit(Text.WebNavLine)
    when(L.m >= 8,
      when(col("doc_id") % 13 === 0,
        concat_ws("\n", L.l1, nav, L.l2, nav, L.l3, nav, L.l4))
        .otherwise(concat_ws("\n", L.l1, L.l2, L.l3, L.l4)))
      .otherwise(col("text"))
  }

  private[queries] def webInjected(s: SparkSession, dir: String,
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
  private[queries] val webMaxIdChecked =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  private[queries] def webStaged(s: SparkSession, dir: String): DataFrame =
    webStaged0(s, dir, webRendered)

  private[queries] def webStaged0(s: SparkSession, dir: String,
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
  private[queries] val nearOffset = 200000L

  private[queries] def webNearStaged(s: SparkSession, dir: String): DataFrame =
    webNearStaged0(s, dir, webRendered)

  private[queries] def webNearStaged0(s: SparkSession, dir: String,
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
  private[queries] def webSpanRendered: org.apache.spark.sql.Column = {
    val L = c4InjectedLines
    when(col("doc_id") % 19 === 0 && L.m >= 8,
      concat(webRendered, lit("\n" + Text.WebSpanLine)))
      .otherwise(webRendered)
  }

  /** Reverse the words of every line EXCEPT its last word (so a kept
    * line keeps its terminal '.' and the C4 line rule sees the same
    * verdict): the deterministic "paraphrase" whose word-shingle sets
    * are (near-)disjoint from the original's while its bag of words —
    * and, more to the point, its model EMBEDDING in the staged side
    * table — is unchanged. Mirrored glyph-for-glyph in the sem oracle
    * relation's list_reverse arm.
    */
  private[queries] def reverseWordsPerLine(
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_join(transform(split(c, "\n"), line => {
      val ws = split(line, " ")
      val n = size(ws)
      when(n >= 2,
        concat(array_join(reverse(slice(ws, lit(1), n - 1)), " "),
          lit(" "), element_at(ws, n)))
        .otherwise(line)
    }), "\n")

  /** Scratch dir for sink round-trips — inside the repo target dir, keyed
    * by op + scale factor so runs never collide.
    */
  private[queries] def tmp(dir: String, name: String): String =
    s"/root/repo/target/graft-tmp/${name}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"

  /** The raw 5-column events slice both curation front doors ingest. */
  private[queries] def rawEventsSlice(s: SparkSession, dir: String): DataFrame =
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
  private[queries] val eventsCurationDocs: DataFrame => DataFrame = raw => {
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

  // ---- oracle SQL (DuckDB) ------------------------------------------

  private[queries] val latestWin =
    "row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC)"

  /** The c4 rule-trigger render as DuckDB CTEs — quarter lines with the
    * punctuation pattern, plus the brace/lorem decorations (r2x/r3x).
    * Mirrors [[c4InjectedLines]]; shared by the C4 pair's oracles AND
    * the web front door's staged chain so the injection exists once on
    * the SQL side too.
    */
  private[queries] val c4QuarterCtes: String =
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

  /** The web front door's STAGED corpus as a DuckDB relation string
    * (a parenthesized subquery — [[graft.ops.Text.webLedgerSql]] takes
    * any FROM-able relation): the c4 quarter render, the every-13th
    * nav-chrome interleave, then each page twice — repaired prefix and
    * mojibake mirror at +100000. Mirrors [[webStaged]].
    */
  private[queries] def webStagedRel: String = webStagedRel0(withNearTwins = false)

  /** [[webStagedRel]] + the near-twin tier, mirroring
    * [[webNearStaged]]. */
  private[queries] def webNearStagedRel: String = webStagedRel0(withNearTwins = true)

  private[queries] def webStagedRel0(withNearTwins: Boolean,
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

  /** Exact corpus × batch (id%10 split) near-dup ground truth — shared
    * by the batch ingest tick and its streaming twin.
    */
  private[queries] val crossSideNearDupOracle =
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
}

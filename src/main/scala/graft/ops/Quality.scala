package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality checks — Spark-native version of the reference's
  * `run_data_quality_checks` (`pipeline/data_pipeline.py:91-124`):
  * empty-input (`:94-96`), required columns (`:97-103`), NULL keys
  * (`:105-107`), duplicate keys (`:109-116`), low volume (`:119-120`).
  *
  * All data-dependent checks collapse into ONE aggregate job (single scan,
  * partial+final hash aggregation — no per-check passes like the
  * reference's pandas), then fan out to one row per check.
  *
  * Scale: one scan + one exchange regardless of table size;
  * `count(DISTINCT struct(keys))` uses Spark's expand+two-phase plan. For
  * 100 TB you'd swap in `approx_count_distinct` for the duplicate check —
  * kept exact here because the oracle compares values.
  */
object Quality {

  /** Declared contract (the reference's required-columns map + natural key,
    * `data_pipeline.py:97-100,109-112`).
    */
  final case class DqContract(requiredCols: Seq[String], keys: Seq[String],
                              minRows: Long = 5) // threshold: data_pipeline.py:119

  /** One declarative rule: a named violation condition over a column,
    * expressed as data (kind + bound), not code — what lets a catalog
    * of hundreds of checks live in a config table and deploy without a
    * code change (the dbt-tests / Great-Expectations shape).
    */
  final case class DqRule(name: String, column: String, kind: String,
                          bound: Double = 0.0,
                          maxViolations: Long = 0) {
    def violation: Column = kind match {
      case "not_null" => col(column).isNull
      case "min"      => col(column) < bound
      case "max"      => col(column) > bound
      case "positive" => col(column) <= 0
      case other => throw new IllegalArgumentException(
        s"unknown rule kind '$other'")
    }
  }

  /** Evaluate a rule catalog in ONE scan: every rule compiles to a
    * conditional count in the same aggregate, so 500 rules still read
    * the feed once (the whole point at 100 TB). Output: one row per
    * rule with its violation count and pass/fail against the rule's
    * tolerance.
    */
  def rulesReport(df: DataFrame, rules: Seq[DqRule]): DataFrame = {
    require(rules.nonEmpty, "empty rule catalog")
    val aggs = count(lit(1)).as("n_rows") +:
      rules.map(r => sum(when(r.violation, 1L).otherwise(0L)).as(r.name))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    wide.select(col("n_rows"), explode(array(rules.map(r =>
        struct(lit(r.name).as("rule"),
          coalesce(col(r.name), lit(0L)).as("n_violations"),
          lit(r.maxViolations).as("tolerance"))): _*)).as("r"))
      .select(col("r.rule"), col("n_rows"), col("r.n_violations"),
        (col("r.n_violations") <= col("r.tolerance")).as("passed"))
  }

  /** Constraint suggestion from one profiling scan — the
    * Deequ-suggestion / Great-Expectations-profiler shape that closes
    * the DQ loop: measure the feed once, emit a rule catalog whose
    * bounds are the OBSERVED envelope, review, then enforce with
    * [[rulesReport]]. Each suggested row aligns with [[DqRule]]
    * (rule, column, kind, bound, tolerance), so
    * `rulesReport(df, suggested)` runs as-is — and by construction
    * PASSES on the profiled feed itself (tolerances are the observed
    * violation counts; spec-asserted), so the catalog only fires when a
    * future feed regresses beyond today's baseline.
    *
    * Suggestions: `not_null` for every column (tolerance = observed
    * null count); `min`/`max` range fences for numeric columns (bound =
    * observed extreme in exact cents, the envelope a corrupted feed
    * breaks first); `positive` marked suggested only when the evidence
    * holds (observed min > 0); `unique` for declared key candidates,
    * suggested only when distinct == non-null rows (tolerance = the
    * observed duplicate count otherwise).
    *
    * Scale: every statistic folds into ONE map-side-combined aggregate
    * — profiling 100 TB costs one read no matter how many columns; the
    * explode runs on the 1-row wide result.
    */
  def dqSuggest(df: DataFrame, numericCols: Seq[String],
                keyCols: Seq[String] = Nil): DataFrame = {
    val allCols = (numericCols ++ keyCols).distinct
    require(allCols.nonEmpty, "dqSuggest: no columns to profile")
    val aggs: Seq[Column] =
      (count(lit(1)).as("n_rows") +:
        allCols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L))
          .as(s"__null_$c"))) ++
      numericCols.flatMap(c => Seq(
        min(round(col(c) * 100).cast("long")).as(s"__min_$c"),
        max(round(col(c) * 100).cast("long")).as(s"__max_$c"))) ++
      keyCols.map(c => count_distinct(col(c)).as(s"__nd_$c"))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    def row(rule: String, column: String, kind: String, bound: Column,
            tolerance: Column, suggested: Column): Column =
      struct(lit(rule).as("rule"), lit(column).as("column"),
        lit(kind).as("kind"), bound.as("bound"),
        tolerance.as("tolerance"), suggested.as("suggested"))
    val noBound = lit(null).cast("double")
    val rows: Seq[Column] =
      allCols.map(c => row(s"${c}_not_null", c, "not_null", noBound,
        col(s"__null_$c"), lit(true))) ++
      numericCols.flatMap(c => Seq(
        row(s"${c}_min", c, "min",
          col(s"__min_$c").cast("double") / lit(100.0), lit(0L),
          lit(true)),
        row(s"${c}_max", c, "max",
          col(s"__max_$c").cast("double") / lit(100.0), lit(0L),
          lit(true)),
        row(s"${c}_positive", c, "positive", noBound, lit(0L),
          coalesce(col(s"__min_$c") > 0, lit(false))))) ++
      keyCols.map(c => row(s"${c}_unique", c, "unique", noBound,
        col("n_rows") - col(s"__null_$c") - col(s"__nd_$c"),
        col(s"__nd_$c") === col("n_rows") - col(s"__null_$c")))
    wide.select(col("n_rows"), explode(array(rows: _*)).as("r"))
      .select(col("r.rule"), col("r.column"), col("r.kind"),
        col("r.bound"), col("r.tolerance"), col("r.suggested"),
        col("n_rows"))
  }

  /** One row per check: (check_name, metric, passed). */
  def dqReport(df: DataFrame, contract: DqContract): DataFrame = {
    val missing = contract.requiredCols.filterNot(df.columns.contains)
    val keyIsNull = contract.keys
      .map(k => col(k).isNull)
      .reduceOption(_ || _)
      .getOrElse(lit(false))

    val stats = df.agg(
      count(lit(1)).as("cnt"),
      sum(when(keyIsNull, 1L).otherwise(0L)).as("null_keys"),
      count_distinct(struct(contract.keys.map(col): _*)).as("distinct_keys"))

    val cnt = coalesce(col("cnt"), lit(0L))
    val nulls = coalesce(col("null_keys"), lit(0L))
    val dups = cnt - coalesce(col("distinct_keys"), lit(0L))

    stats.select(explode(array(
      struct(lit("empty_input").as("check_name"), cnt.as("metric"),
             (cnt > 0).as("passed")),
      struct(lit("required_columns").as("check_name"),
             lit(missing.size.toLong).as("metric"),
             lit(missing.isEmpty).as("passed")),
      struct(lit("null_keys").as("check_name"), nulls.as("metric"),
             (nulls === 0).as("passed")),
      struct(lit("duplicate_keys").as("check_name"), dups.as("metric"),
             (dups === 0).as("passed")),
      struct(lit("low_volume").as("check_name"), cnt.as("metric"),
             (cnt >= contract.minRows).as("passed"))
    )).as("check")).select("check.*")
  }

  /** The five checks of [[dqReport]], with its names, order, metrics and
    * thresholds, as (check_name, metric, passed), from the feed's counts:
    * `rows`, the `missing` required columns, `nullKeys` (rows with any
    * NULL key) and `distinctKeys` (a NULL key group counts once).
    * `graft.runner.Pipeline` gates a load on it; [[observedVerdict]]
    * reads its observable checks.
    */
  def verdict(rows: Long, missing: Seq[String], nullKeys: Long,
              distinctKeys: Long, contract: DqContract): Seq[(String, Long, Boolean)] = {
    val dups = rows - distinctKeys
    Seq(
      ("empty_input", rows, rows > 0),
      ("required_columns", missing.size.toLong, missing.isEmpty),
      ("null_keys", nullKeys, nullKeys == 0),
      ("duplicate_keys", dups, dups == 0),
      ("low_volume", rows, rows >= contract.minRows))
  }

  /** Zero-extra-scan DQ: attach the contract's metrics to the DataFrame
    * with `Dataset.observe` — row count, per-key null counts, and min
    * rows are computed DURING whatever action the caller runs next
    * (typically the sink write), instead of [[dqReport]]'s dedicated
    * aggregation scan. At 100 TB that is the difference between reading
    * the feed once and twice. The caller reads the metrics off the
    * returned observation after its action completes.
    *
    * (`observe` disallows the distinct aggregate the duplicate check
    * needs. A caller that dedups the feed anyway counts the deduped rows
    * in the same execution instead, as `graft.runner.Pipeline` does:
    * they are the distinct keys.)
    */
  def observedChecks(df: DataFrame, contract: DqContract): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    val nullCounts = contract.keys.map(k =>
      sum(when(col(k).isNull, 1L).otherwise(0L)).as(s"null_$k"))
    val observed = df.observe(obs,
      count(lit(1)).as("row_count"), nullCounts: _*)
    (observed, obs)
  }

  /** Evaluate [[observedChecks]] metrics against the contract — call
    * after the action on the observed frame has run. Of [[verdict]]'s
    * checks it keeps the three the observation measures: the schema and
    * the distinct keys are not observed.
    */
  def observedVerdict(obs: org.apache.spark.sql.Observation,
                      contract: DqContract): Seq[(String, Long, Boolean)] = {
    val m = obs.get
    val rows = m("row_count").asInstanceOf[Long]
    val nulls = contract.keys.map(k => m(s"null_$k").asInstanceOf[Long]).sum
    verdict(rows, Nil, nulls, rows, contract)
      .filterNot { case (name, _, _) => Set("required_columns", "duplicate_keys")(name) }
  }

  /** Feed-freshness audit: per partition key (e.g. event type or source
    * feed), row count, newest timestamp, and staleness in seconds behind
    * the freshest partition — the "is one upstream stuck?" monitor. The
    * global max is a window OVER the per-key aggregates (feed-count
    * rows, trivially single-partition), so the raw feed is scanned
    * exactly once by construction — a separate `g.agg(max)` branch would
    * be column-pruned into a non-identical exchange that AQE cannot
    * reuse, silently costing a second scan.
    */
  def freshness(df: DataFrame, key: Column, ts: Column): DataFrame = {
    val g = df.groupBy(key.as("key"))
      .agg(count(lit(1)).as("n"), max(ts).as("max_ts"))
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    g.select(col("key"), col("n"), col("max_ts"),
      (unix_timestamp(max(col("max_ts")).over(all))
        - unix_timestamp(col("max_ts"))).as("lag_seconds"))
  }

  /** Referential-integrity audit across the star schema: for each
    * child→parent relationship, the count of orphan child rows (FK
    * values with no parent) and the distinct orphan key count. The check
    * every warehouse load should run before publishing: one left-anti
    * semi-structure per edge — child FKs aggregate FIRST (distinct
    * values), so the anti-join input is key-cardinality-sized, never
    * fact-table-sized; parents broadcast when dimension-sized.
    */
  def refIntegrity(edges: Seq[(String, DataFrame, Column, DataFrame, Column)]): DataFrame =
    edges.map { case (name, child, childKey, parent, parentKey) =>
      val fkCounts = child.select(childKey.as("fk"))
        .groupBy(col("fk")).agg(count(lit(1)).as("n_rows"))
      val orphans = fkCounts.join(
        parent.select(parentKey.as("fk")).distinct(), Seq("fk"), "left_anti")
      orphans.agg(
        coalesce(sum(col("n_rows")), lit(0L)).as("n_orphan_rows"),
        count(lit(1)).as("n_orphan_keys"))
        .select(lit(name).as("relationship"),
          col("n_orphan_rows"), col("n_orphan_keys"))
    }.reduce(_ unionByName _)

  /** Cohen's kappa between two boolean raters — the chance-corrected
    * agreement readout for validating automated quality filters
    * against each other (or against a labeled sample) before either
    * one gates a corpus release.
    *
    * With the contingency counts n11/n10/n01/n00 all exact, kappa has
    * the integer form (N·agree − Σ marginal products) /
    * (N² − Σ marginal products): every emitted double is ONE division
    * of exact integer products, rounded 1e-6. One map-side-combined
    * aggregation over the corpus; one-row output.
    */
  def raterAgreement(df: DataFrame, raterA: Column,
                     raterB: Column): DataFrame = {
    val a = raterA.cast("boolean"); val b = raterB.cast("boolean")
    val m = df.select(
      when(a && b, 1L).otherwise(0L).as("c11"),
      when(a && !b, 1L).otherwise(0L).as("c10"),
      when(!a && b, 1L).otherwise(0L).as("c01"),
      when(!a && !b, 1L).otherwise(0L).as("c00"))
      .agg(sum(col("c11")).as("n11"), sum(col("c10")).as("n10"),
        sum(col("c01")).as("n01"), sum(col("c00")).as("n00"))
    val n = col("n11") + col("n10") + col("n01") + col("n00")
    val agree = col("n11") + col("n00")
    val margins = (col("n11") + col("n10")) * (col("n11") + col("n01")) +
      (col("n00") + col("n01")) * (col("n00") + col("n10"))
    val r6 = (c: Column) => round(c, 6)
    m.select(col("n11"), col("n10"), col("n01"), col("n00"),
      r6(agree.cast("double") / n.cast("double")).as("po"),
      r6(margins.cast("double") / (n * n).cast("double")).as("pe"),
      when(n * n === margins, lit(null).cast("double"))
        .otherwise(r6((n * agree - margins).cast("double")
          / (n * n - margins).cast("double"))).as("kappa"))
  }
}

package graft.runner

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Merge, Quality}
import graft.sources.Sinks

/** Pipeline runner — reproduces the reference's per-endpoint control flow
  * (`pipeline/data_pipeline.py:245-272`, SURVEY §3.1):
  *
  *   extract → transform → DQ gate → dedup → merge → audit
  *
  * with the `:252-262` gating policy: duplicate-key issues are resolved by
  * dedup-and-continue; any other failed check skips the load and audits
  * FAILED (the DAG's ShortCircuitOperator analog,
  * `DAG/etl_google_analytics_dag.py:90-102`).
  *
  * A successful load is two executions, each one `localCheckpoint`:
  *  1. **the feed.** One scan of `source`, observed for its rows and
  *     NULL-key rows, deduped latest-wins and observed again for the rows
  *     kept. The kept rows are the distinct keys (a NULL group counts
  *     once, as in [[Quality.dqReport]]'s `count_distinct`), so the gate
  *     has all five checks without a scan of its own. The materialized
  *     deduped feed is what the merge reads twice (union and anti-join).
  *  2. **the merge**, observed for its row count as it materializes. That
  *     count is the audit's `record_count` (the reference records
  *     `len(df)` of the frame it holds, `:227, 260, 265`), and `merged`
  *     is the materialized frame, so the caller's sink writes rows that
  *     are already computed.
  *
  * A fatal gate runs only the first, then the audit append.
  *
  * Scale: the merged rows are written once more, to executor-local
  * storage. In return the merge is evaluated once instead of once to
  * count and once to write: the target is scanned once and the anti-join
  * runs once. A local checkpoint is not replicated, so a lost executor
  * fails the caller's sink write; the staging overwrite is idempotent, so
  * the orchestrator's re-run is safe (README, "Retries and timeouts").
  */
object Pipeline {

  final case class RunResult(status: String, merged: DataFrame, audit: DataFrame)

  def run(spark: SparkSession,
          source: DataFrame,
          target: DataFrame,
          contract: Quality.DqContract,
          ts: Column,
          tiebreak: Seq[Column],
          tableName: String,
          auditPath: String,
          clock: String = "2026-01-01 00:00:00",
          sourceFiles: Seq[String] = Seq("mock://endpoint")): RunResult = {

    def audit(status: String, n: Long): DataFrame =
      Sinks.auditAppend(spark, auditPath,
        Seq((tableName, n, status, clock, sourceFiles)))

    // any exception in either execution still leaves a FAILED audit
    // record (ref :266-271 writes the audit row from `except`)
    def auditFailure[T](body: => T): T =
      try body
      catch {
        case e: Throwable =>
          audit(s"FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}", 0L)
          throw e
      }

    val (feed, checks) = auditFailure(gate(source, contract, ts, tiebreak))
    val failed = checks.collect { case (name, _, false) => name }
    val fatal = failed.filterNot(_ == "duplicate_keys") // dup ⇒ dedup+continue (:256-258)

    if (fatal.nonEmpty) {
      val a = audit(s"FAILED: ${fatal.mkString(",")}", 0L) // :259-262
      RunResult("FAILED", target, a)
    } else {
      val (merged, n) = auditFailure {
        val counted = Observation()
        val out = Merge.mergeUpsert(target, feed, contract.keys)
          .observe(counted, count(lit(1)).as("rows")).localCheckpoint()
        (out, metrics(counted, out)("rows"))
      }
      val a = audit("SUCCESS", n) // :260,265
      RunResult("SUCCESS", merged, a)
    }
  }

  /** The feed's one execution: `source` observed for its rows and NULL-key
    * rows, deduped latest-wins, observed for the rows kept and
    * materialized. Returns the deduped feed and [[Quality.verdict]]'s five
    * checks; its metrics equal [[Quality.dqReport]]'s on the same feed.
    */
  def gate(source: DataFrame, contract: Quality.DqContract, ts: Column,
           tiebreak: Seq[Column]): (DataFrame, Seq[(String, Long, Boolean)]) = {
    val missing = contract.requiredCols.filterNot(source.columns.contains)
    val fed = Observation()
    val kept = Observation()
    val keyIsNull = contract.keys.map(k => col(k).isNull)
      .reduceOption(_ || _).getOrElse(lit(false))
    val observed = source.observe(fed,
      count(lit(1)).as("rows"), count(when(keyIsNull, 1)).as("null_keys"))
    // a missing required column fails the gate, and `ts` or `tiebreak`
    // may name it: count the distinct keys without the ordering then
    val deduped =
      if (missing.isEmpty) Dedup.dedupLatest(observed, contract.keys, ts, tiebreak)
      else observed.dropDuplicates(contract.keys)
    val feed = deduped.observe(kept, count(lit(1)).as("rows")).localCheckpoint()
    val f = metrics(fed, feed)
    (feed, Quality.verdict(f("rows"), missing, f("null_keys"),
      metrics(kept, feed)("rows"), contract))
  }

  /** `obs`'s count metrics, read after the execution that materialized
    * `out`. AQE drops the metrics node of an input it proves empty (an
    * empty feed under a window reports no metrics at all), so missing
    * metrics read as 0 only once `out` is seen to be empty; missing
    * metrics on a non-empty `out` are a fault.
    */
  private def metrics(obs: Observation, out: DataFrame): Map[String, Long] = {
    val m = obs.get
    if (m.nonEmpty) m.map { case (k, v) => k -> v.asInstanceOf[Long] }
    else if (out.isEmpty) Map.empty[String, Long].withDefaultValue(0L)
    else throw new IllegalStateException(
      "observed metrics missing from a non-empty execution")
  }
}

package graft.runner

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  * Unlike the reference — which crosses four network boundaries with
  * eager materialization at each — the whole flow here is ONE lazy plan:
  * the only actions are the DQ aggregate and the final write (SURVEY §3.4).
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

    val checks = Quality.dqReport(source, contract).collect()
    val failed = checks.filter(!_.getAs[Boolean]("passed")).map(_.getAs[String]("check_name"))
    val fatal = failed.filterNot(_ == "duplicate_keys") // dup ⇒ dedup+continue (:256-258)

    def audit(status: String, n: Long): DataFrame =
      Sinks.auditAppend(spark, auditPath,
        Seq((tableName, n, status, clock, sourceFiles)))

    if (fatal.nonEmpty) {
      val a = audit(s"FAILED: ${fatal.mkString(",")}", 0L) // :259-262
      RunResult("FAILED", target, a)
    } else {
      val deduped =
        if (failed.contains("duplicate_keys"))
          Dedup.dedupLatest(source, contract.keys, ts, tiebreak)
        else source
      val merged = Merge.mergeUpsertLatest(target, deduped, contract.keys, ts, tiebreak)
      // any exception during merge/materialization still leaves a FAILED
      // audit record (ref :266-271 writes the audit row from `except`)
      val n =
        try merged.count()
        catch {
          case e: Throwable =>
            audit(s"FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}", 0L)
            throw e
        }
      val a = audit("SUCCESS", n) // :260,265
      RunResult("SUCCESS", merged, a)
    }
  }
}

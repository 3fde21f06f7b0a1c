package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Trace

/** The query trace attributes jobs to the build or the action by call
  * site, records failures without stopping, and keeps a streaming
  * query's micro-batch plan. */
class TraceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def traced(names: String*): Seq[Trace.Pass] =
    Trace.traceAll(spark, names.map(n => n -> (() => SparkEntry.queries(n)(spark, sf))))

  test("a lazy relational query runs no job while it is built") {
    val passes = traced("agg_rollup")
    assert(passes.map(_.pass) === (1 to Trace.Passes))
    passes.foreach { p =>
      info(Trace.render(p, 4).take(4).mkString("\n"))
      assert(p.error.isEmpty && p.buildJobs === 0)
      assert(p.rec.jobs.nonEmpty && p.rec.stages.values.map(_.runMs).sum > 0)
      assert(p.rec.sites.forall(_.matches(".* at [A-Za-z]+\\.scala:\\d+")), p.rec.sites)
      assert(p.plan.contains("HashAggregate"))
    }
  }

  test("near_dedup_chars: the build's jobs are its df-cap count, within " +
       "JobBudgetSpec's budget of 2") {
    traced("near_dedup_chars").foreach { p =>
      val build = p.rec.sites.take(p.buildJobs)
      info(s"pass ${p.pass}: build ${build.mkString(", ")}; " +
        s"${p.rec.jobs.size - p.buildJobs} action jobs")
      assert(p.error.isEmpty)
      assert(build.nonEmpty && build.length <= 2)
      assert(build.forall(_.matches("count at TextDedup\\.scala:\\d+")), build)
    }
  }

  test("a failing build is recorded with its exception and the next " +
       "query is still traced") {
    val passes = Trace.traceAll(spark, Seq(
      "broken" -> (() => throw new IllegalStateException("no such table: t")),
      "agg_rollup" -> (() => SparkEntry.queries("agg_rollup")(spark, sf))))
    val (broken, next) = passes.partition(_.query == "broken")
    assert(broken.length === 1)
    assert(Trace.render(broken.head, 4).head.endsWith(
      "FAILED java.lang.IllegalStateException: no such table: t"))
    assert(next.length === Trace.Passes && next.forall(_.error.isEmpty))
    assert(next.forall(_.rec.jobs.nonEmpty))
  }

  test("a streaming query keeps its captured micro-batch plan") {
    val passes = traced("streaming_dedup")
    passes.foreach { p =>
      info(s"pass ${p.pass}: ${p.rec.jobs.size} jobs, ${p.rec.stages.size} stages")
      assert(p.error.isEmpty)
      assert(p.microBatchPlan.contains("StreamingDeduplicate"))
    }
  }
}

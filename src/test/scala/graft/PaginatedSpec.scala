package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Try

import graft.sources.Paginated

class PaginatedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def page(dir: String, p: Int, ids: Seq[Int], hasNext: Boolean): Unit = {
    val recs = ids.map(i =>
      s"""{"event_id":$i,"user_id":1,"event_type":"click","value":1.5}""").mkString(",")
    Files.writeString(Paths.get(s"$dir/page_$p.json"),
      s"""{"records":[$recs],"pagination":{"has_next":$hasNext}}""")
  }

  private def tmp() = Files.createTempDirectory("graft-pages").toString

  test("withRetries: transient failures recover within budget, exhaust beyond it") {
    var calls = 0
    val out = Paginated.withRetries(maxRetries = 2) { () =>
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      42
    }
    assert(out === 42 && calls === 3) // failed twice, third attempt succeeds

    var calls2 = 0
    val thrown = intercept[RuntimeException] {
      Paginated.withRetries(maxRetries = 2) { () =>
        calls2 += 1
        throw new RuntimeException(s"always $calls2")
      }
    }
    assert(calls2 === 3) // 1 attempt + 2 retries, then the last error surfaces
    assert(thrown.getMessage === "always 3")
  }

  test("fetches pages until has_next=false; later pages ignored (ref :55-56)") {
    val d = tmp()
    page(d, 1, Seq(1, 2), hasNext = true)
    page(d, 2, Seq(3), hasNext = false)
    page(d, 3, Seq(99), hasNext = true) // must never be fetched
    val got = Paginated.fetchAll(spark, d).select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(1L, 2L, 3L))
  }

  test("stops on missing page (non-200 analog, ref :36-38)") {
    val d = tmp()
    page(d, 1, Seq(1), hasNext = true)
    // page_2 missing
    page(d, 3, Seq(9), hasNext = true)
    assert(Paginated.fetchAll(spark, d).count() === 1)
  }

  test("stops on empty records page (ref :42-43)") {
    val d = tmp()
    page(d, 1, Seq(1, 2), hasNext = true)
    page(d, 2, Seq(), hasNext = true)
    page(d, 3, Seq(9), hasNext = true)
    assert(Paginated.fetchAll(spark, d).count() === 2)
  }

  test("empty endpoint yields empty typed DataFrame") {
    val df = Paginated.fetchAll(spark, tmp())
    assert(df.count() === 0)
    assert(df.schema === Paginated.recordSchema)
  }

  // The page probe Paginated.fetchAll ran before it read pages on the
  // driver: a Spark JSON read of the page, first row. Kept here as the
  // reference the driver probe must agree with.
  private def sparkProbe(path: String): (Int, Boolean) = {
    val r = spark.read.schema(Paginated.envelopeSchema).json(path)
      .select(size(coalesce(col("records"), array())).as("n"),
              coalesce(col("pagination.has_next"), lit(false)).as("has_next"))
      .head()
    (r.getInt(0), r.getBoolean(1))
  }

  /** Probe outcome under fetchAll's retry policy: the probe's result, or
    * the failure after every attempt, with the attempt count. */
  private def underRetries(probe: String => (Int, Boolean), path: String) = {
    var attempts = 0
    val out = Try(Paginated.withRetries(maxRetries = 2) { () =>
      attempts += 1
      probe(path)
    })
    (out.toOption, attempts)
  }

  private val rec = """{"event_id":1,"user_id":1,"event_type":"click","value":1.5}"""

  // page_1 contents -> the rows fetchAll returns when page_2 holds one
  // record: 0 where it stops at page_1, page_1's rows where it keeps
  // page_1 and stops on has_next, one more where it goes on to page_2,
  // None where it retries and rethrows. Each is what it returned with
  // the Spark-read probe.
  private val edgePages: Seq[(String, String, Option[Long])] = Seq(
    // kept (its records parse before the error), but the read of the kept
    // pages parses only `records` and so fails at the same error: 0 rows
    ("malformed, truncated", s"""{"records":[$rec],"pagination":{"has_next":tr""", Some(0L)),
    ("malformed, not JSON", "page unavailable", Some(0L)),
    ("malformed, pretty-printed over lines",
      s"""{\n  "records": [$rec],\n  "pagination": {"has_next": true}\n}""", Some(0L)),
    ("missing pagination object", s"""{"records":[$rec]}""", Some(1L)),
    ("pagination not an object", s"""{"records":[$rec],"pagination":true}""", Some(1L)),
    ("has_next a string", s"""{"records":[$rec],"pagination":{"has_next":"true"}}""", Some(1L)),
    ("has_next a number", s"""{"records":[$rec],"pagination":{"has_next":1}}""", Some(1L)),
    ("has_next null", s"""{"records":[$rec],"pagination":{"has_next":null}}""", Some(1L)),
    ("records an object", s"""{"records":$rec,"pagination":{"has_next":true}}""", Some(0L)),
    ("records a string", """{"records":"x","pagination":{"has_next":true}}""", Some(0L)),
    ("records of numbers", """{"records":[1,2],"pagination":{"has_next":true}}""", Some(0L)),
    ("records with a NULL element",
      s"""{"records":[$rec,null],"pagination":{"has_next":true}}""", Some(3L)),
    ("record field of the wrong type",
      """{"records":[{"event_id":"x"}],"pagination":{"has_next":true}}""", Some(2L)),
    ("records null", """{"records":null,"pagination":{"has_next":true}}""", Some(0L)),
    ("top-level null", "null", Some(0L)),
    ("blank first line", s"""\n  \n{"records":[$rec],"pagination":{"has_next":true}}""", Some(2L)),
    ("top-level array", s"""[{"records":[$rec],"pagination":{"has_next":true}}]""", Some(2L)),
    ("two envelopes, first wins",
      s"""{"records":[$rec],"pagination":{"has_next":false}}\n""" +
        s"""{"records":[$rec,$rec],"pagination":{"has_next":true}}""", Some(3L)),
    ("empty page file", "", None),
    ("blank page file", " \n\n", None))

  test("driver page probe agrees with the Spark-read probe on malformed pages") {
    edgePages.foreach { case (what, body, _) =>
      val d = tmp()
      Files.writeString(Paths.get(s"$d/page_1.json"), body)
      val (got, gotAttempts) = underRetries(Paginated.probe, s"$d/page_1.json")
      val (want, wantAttempts) = underRetries(sparkProbe, s"$d/page_1.json")
      assert(got === want, what)
      assert(gotAttempts === wantAttempts, what)
    }
  }

  test("driver page probe: an unreadable page retries, then rethrows, as Spark's read did") {
    val d = tmp()
    Files.createDirectory(Paths.get(s"$d/page_1.json")) // exists, reads as no page
    val (got, gotAttempts) = underRetries(Paginated.probe, s"$d/page_1.json")
    val (want, wantAttempts) = underRetries(sparkProbe, s"$d/page_1.json")
    assert(got.isEmpty && want.isEmpty)
    assert(gotAttempts === 3 && wantAttempts === 3) // 1 attempt + 2 retries
    intercept[Exception](Paginated.fetchAll(spark, d))
  }

  test("fetchAll on malformed pages: stops, keeps and stops, or rethrows") {
    edgePages.foreach { case (what, body, rows) =>
      val d = tmp()
      Files.writeString(Paths.get(s"$d/page_1.json"), body)
      page(d, 2, Seq(7), hasNext = false)
      assert(Try(Paginated.fetchAll(spark, d).count()).toOption === rows, what)
    }
  }
}

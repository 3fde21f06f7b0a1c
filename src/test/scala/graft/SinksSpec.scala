package graft

import java.io.File
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sinks

class SinksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def parts(dir: String): Set[String] =
    new File(dir).listFiles().map(_.getName).filter(_.startsWith("part-")).toSet

  test("stagingOverwrite rerun: same rows, no part file of the first write left") {
    val out = java.nio.file.Files.createTempDirectory("graft-staging").toString
    val df = spark.range(0, 200, 1, 4)
      .select(col("id"), (col("id") % 7).as("k"), concat(lit("v"), col("id")).as("v"))
    val first = Sinks.stagingOverwrite(df, out).orderBy("id").collect().toSeq
    val firstParts = parts(out)
    assert(firstParts.size === 4)
    val second = Sinks.stagingOverwrite(df, out).orderBy("id").collect().toSeq
    val secondParts = parts(out)
    assert(second === first)
    assert(first.length === 200)
    assert(secondParts.size === 4)
    assert(secondParts.intersect(firstParts).isEmpty) // every file is the rerun's
  }
}

package graft

import java.io.File
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.parquet]] reads the footer Spark's own inference reads, on the
  * driver: its schema must be the one `spark.read.parquet` infers. */
class ParquetSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(s"graft-$name").toString

  test("every testdata table: helper schema equals spark.read.parquet's") {
    Tables.events(spark, sf) // sets nanosAsLong, which events' raw read needs
    val tables = new File(sf).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted
    assert(tables.length >= 10)
    tables.foreach { t =>
      val p = s"$sf/$t"
      assert(Tables.parquet(spark, p).schema === spark.read.parquet(p).schema, t)
    }
  }

  test("Spark-written dir with _SUCCESS and several part files") {
    val out = s"${tmp("multi")}/t"
    spark.range(0, 100, 1, 3)
      .select(col("id"), col("id").cast("decimal(12,2)").as("d"),
        array(col("id").cast("string")).as("a"),
        struct(col("id").as("x")).as("s"), current_timestamp().as("ts"))
      .write.parquet(out)
    val names = new File(out).listFiles().map(_.getName)
    assert(names.contains("_SUCCESS"))
    assert(names.count(_.startsWith("part-")) === 3)
    assert(Tables.parquet(spark, out).schema === spark.read.parquet(out).schema)
    assert(Tables.parquet(spark, out).count() === 100L)
  }

  test("empty dir raises the exception class Spark raises") {
    val out = tmp("empty")
    val want = intercept[Throwable](spark.read.parquet(out))
    val got = intercept[Throwable](Tables.parquet(spark, out))
    assert(got.getClass === want.getClass)
  }

  test("hive-partitioned dir keeps its partition columns") {
    val out = s"${tmp("parted")}/t"
    spark.range(0, 60).select(col("id"), (col("id") % 3).as("p"),
        (col("id") % 2 === 0).as("q"))
      .write.partitionBy("p", "q").parquet(out)
    val got = Tables.parquet(spark, out)
    val want = spark.read.parquet(out)
    assert(got.schema === want.schema)
    assert(got.columns.toSeq.takeRight(2) === Seq("p", "q"))
    assert(got.orderBy("id").collect().toSeq === want.orderBy("id").collect().toSeq)
  }
}

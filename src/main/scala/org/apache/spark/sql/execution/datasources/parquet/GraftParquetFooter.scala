package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.ParquetFileWriter

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex}
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's parquet footer reader and schema converter, which
  * are internal to `sql.execution`. `spark.read.parquet` without a schema
  * infers one in a Spark job (`SchemaMergeUtils.mergeSchemasInParallel`)
  * even for a single footer; this reads the same footer on the driver.
  * The same kind of shim as `org.apache.spark.sql.GraftExpressionBridge`.
  */
object GraftParquetFooter {

  /** The schema Spark's non-merging parquet inference gives `paths`, or
    * `None` where it would find no footer (an empty directory). Follows
    * `ParquetUtils.inferSchema`: list the leaf files as the reader's file
    * index does, then read `_common_metadata`, else `_metadata`, else the
    * first data file by path, converted with the session's parquet flags
    * exactly as `ParquetFileFormat.mergeSchemasInParallel` converts them.
    * Partition columns are not part of it: the reader infers those.
    */
  def schema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val conf = state.conf
    val hadoopConf = state.newHadoopConfWithOptions(Map.empty)
    // checks and globs as the reader does, so a missing path raises its error
    val roots = DataSource.checkAndGlobPathIfNecessary(paths, hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
    val leaves = new InMemoryFileIndex(spark, roots, Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val footer = summaries.iterator.flatMap(n => leaves.find(_.getPath.getName == n))
      .nextOption()
      .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readParquetFootersInParallel(hadoopConf, footer.toSeq,
        conf.ignoreCorruptFiles)
      .map(ParquetFileFormat.readSchemaFromFooter(_, converter))
      .headOption
  }
}

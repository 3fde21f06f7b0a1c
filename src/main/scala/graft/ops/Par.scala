package graft.ops

import org.apache.spark.sql.DataFrame

/** Parallelism guard for CPU-heavy per-row operators (shingling,
  * hashing, vector math): small single-file parquet inputs arrive as ONE
  * partition, which would serialize the whole computation on one core.
  * Widening to the session's default parallelism is a no-op on real
  * cluster inputs (already wider) and a cheap shuffle of the narrow input
  * otherwise.
  *
  * `widen` reads `df.rdd.getNumPartitions` while the caller's plan is
  * still being built. On a scan that is a driver-side file listing; on a
  * shuffled input (a join, an aggregate, a semi-join of a scan against a
  * derived frame) adaptive execution must run every upstream shuffle
  * stage to know the partition count, so the probe runs that input's
  * whole plan at construction time (once measured at 24 Spark jobs
  * inside one `near_dedup_chars` build). Widen the scan, not a frame
  * derived from it.
  */
object Par {
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}

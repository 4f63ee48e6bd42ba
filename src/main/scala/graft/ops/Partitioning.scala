package graft.ops

import org.apache.spark.sql.DataFrame

/** Parallelism guard for CPU-heavy narrow chains: the fixture parquet
  * arrives as ONE row-group (one input split), which would run a whole
  * tokenise/shingle chain on a single core — but an unconditional
  * `repartition` is a full shuffle of the raw text, which a 100 TB
  * source with thousands of splits must never pay. So: repartition
  * only when the source actually has fewer splits than the cluster
  * has cores. The check costs one physical-plan build, no job.
  *
  * A streaming frame passes through unchanged: it has no `rdd` to ask,
  * and each micro-batch arrives already split by its source. So a
  * row-local operator guarded by this call serves both modes.
  */
object Partitioning {
  def ensureParallelism(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val p = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < p) df.repartition(p) else df
    }
}

package graft.util

import org.apache.spark.sql.Dataset

/** Kernel-parallelism floor for heavy per-row map stages.
  *
  * The testdata tables are each ONE parquet file with ONE row group, and a
  * row group is Spark's atomic scan unit — so every query's first stage
  * (scan → per-row kernel → partial aggregate) runs as a SINGLE task no
  * matter how many cores the session has. For shuffle-bound queries that
  * is noise; for queries whose stage-1 does real per-row work (container
  * synth+demux, image encode/decode, JSON parsing, signature kernels) it
  * serializes the whole kernel on one core while the other 31 idle — the
  * "one huge unsplittable file" input-skew case of the optimization
  * guide (§2.5: repartition immediately after the read).
  *
  * `kernelSpread` round-robins the (narrow, pre-projected) rows across
  * `defaultParallelism` partitions BEFORE the kernel. Scale behavior:
  * the exchanged rows are the kernel's INPUT KEYS (a few bytes each),
  * orders of magnitude lighter than the kernel's own work, and
  * `defaultParallelism` is the session's total core count — at 100 TB a
  * multi-file scan already yields ≥ cores splits of bounded size, and
  * one extra narrow exchange before a CPU-bound kernel stays noise
  * there, while on single-row-group inputs it unlocks the full machine.
  * Always repartition AFTER projection/filter so scan pruning/pushdown
  * is unaffected (the exchange sits above the scan, never below).
  */
object Spread {
  /** Round-robin `ds` across the session's core count ahead of a heavy
    * per-row kernel. Safe only where downstream results are
    * row-order-independent (aggregates, joins, explicit final sorts). */
  def kernelSpread[T](ds: Dataset[T]): Dataset[T] =
    ds.repartition(ds.sparkSession.sparkContext.defaultParallelism)
}

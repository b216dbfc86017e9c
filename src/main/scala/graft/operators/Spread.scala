package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Opt-in parallelism floor for raw-text map passes.
  *
  * On a real cluster the parquet scan's input splits already spread a
  * corpus across executors, and repartitioning a raw-text column ships
  * the whole corpus through the wire for nothing. On local[n] over a
  * handful of parquet files, the scan can plan fewer partitions than
  * cores and a per-row CPU-heavy pass (winnowing, tokenization)
  * single-threads — there the exchange is a measured win. `byKey`
  * repartitions by the id column ONLY when the scan provides fewer
  * partitions than the requested floor, so passing
  * `spark.sparkContext.defaultParallelism` gives the local win without
  * ever paying the exchange where input splits suffice. The default at
  * every call site is 0 = never repartition.
  *
  * SIZE-ADAPTIVE (optimization guide §2): the spread width is derived
  * from the plan-estimated input bytes, not pinned to the requested
  * floor. A blanket `repartition(col)` fans every frame out to
  * `spark.sql.shuffle.partitions` — for the capped few-hundred-row
  * chain frames that meant 32 tasks × 32 shuffle blocks of pure
  * overhead per pass (measured: the 0.7–1.0 s winnow jobs in
  * q153/q157 carry ~10 KB of data each). Instead the width is
  * ceil(sizeInBytes / TargetBytesPerTask), clamped to
  * [1, minParallelism]; when the estimate says the current layout
  * already has enough partitions, the exchange disappears entirely.
  * `TargetBytesPerTask` is 64 KB of PLAN-estimated (compressed
  * parquet) bytes — deliberately far below the 128 MB scan-split
  * default, because (a) the passes behind a spread are CPU-bound per
  * char, not IO-bound (measured: a minhash pass over 1.3 MB of
  * compressed docs costs ~4 s on one core), (b) plan stats do not
  * shrink through filters so the estimate is an upper bound on real
  * bytes, and (c) the asymmetry favors over-splitting: an extra task
  * costs ~20 ms of dispatch, an under-split pass serializes seconds of
  * CPU (A/B at sf0.1: 64 KB target 31.4 s vs 512 KB 36.3 s vs 4 MB
  * 49.6 s on the six heaviest spread consumers).
  * Join-inflated size estimates can only restore the OLD behavior (the
  * clamp caps the width at `minParallelism`, exactly what the blanket
  * repartition produced), never degrade below it.
  */
private[graft] object Spread {

  /** Plan-estimated bytes that justify one spread task. */
  private val TargetBytesPerTask = BigInt(64L << 10)

  /** `aqeSized = true` keeps the exchange UN-NUMBERED
    * (`repartition(col)`) above the tiny-frame cutoff, so AQE sizes the
    * reduce side from the ACTUAL shuffle bytes — measured best for
    * multi-consumer frames whose post-exchange stages are individually
    * cheap (lmPerplexity: a pinned width of 10 or 32 both ran 1.3–1.6×
    * slower than the AQE-coalesced exchange, because three consumer
    * stages each pay the task fan-out while the compute is ~0.5 s
    * total). Tiny frames still skip the exchange entirely either way. */
  def byKey(df: DataFrame, key: String, minParallelism: Int,
      aqeSized: Boolean = false): DataFrame =
    if (minParallelism <= 0) df
    else {
      // toRdd, not .rdd: the partition count is the same, but .rdd plans
      // an extra row-deserializer stage per call — measurable at bench scale
      val current = df.queryExecution.toRdd.getNumPartitions
      if (current >= minParallelism) df
      else {
        val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        val n = ((bytes + TargetBytesPerTask - 1) / TargetBytesPerTask)
          .min(BigInt(minParallelism)).max(BigInt(1)).toInt
        if (n <= current) df
        else if (aqeSized) df.repartition(col(key))
        else df.repartition(n, col(key))
      }
    }
}

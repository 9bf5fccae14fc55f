package graft.api

import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Spread a narrow input across the cluster BEFORE per-row CPU-heavy
  * work (batched codec encode/decode, heavy per-row synthesis) — the
  * optimization guide's §2.5 "input skew" remedy: "one huge
  * unsplittable file … repartition immediately after the read".
  *
  * Why this exists: a parquet file can only be split at row-group
  * boundaries, so a table that arrives as few files (or few row
  * groups) caps the SCAN stage's task count no matter what
  * maxPartitionBytes/minPartitionNum say — and every narrow per-row
  * operator chained onto the scan (mapPartitions codecs, expression
  * stacks) inherits that cap. At the bench SFs each table is ONE
  * small parquet file, so a codec query's entire encode+decode chain
  * ran as ONE task regardless of core count (measured: the codec
  * family's 8→32-core scaling ratios sat at ~1.0 while genuinely
  * parallel queries scale 5-7x).
  *
  * The fix is conditional, not unconditional: rows are exchanged only
  * when the planned scan parallelism is BELOW the cluster's core
  * count. At 100 TB a corpus arrives in many thousands of splits, the
  * condition is false, and no shuffle is added — the guard is derived
  * from the actual input layout at plan time, not from a constant
  * tuned to either scale. When it does fire, the exchange carries the
  * raw input rows once (round-robin, so variable-cost payloads also
  * stop skewing one task) and the downstream per-row work — orders of
  * magnitude more expensive per byte than one narrow exchange —
  * parallelizes across every core.
  *
  * Contract: call on a scan-rooted NARROW frame (scan + projections /
  * filters / unions / per-row maps / a root limit). Only for such a
  * frame is the partition count read, off its planned physical plan,
  * which runs nothing. A frame whose physical plan is adaptive, or
  * holds an exchange or a subquery, would have to run upstream stages
  * to report a count, so it is spread unconditionally instead — one
  * extra round-robin exchange, never a hidden job. Only
  * order-independent consumers may follow (aggregations, joins,
  * per-row maps): round-robin repartitioning changes row placement
  * and relative order, never content.
  *
  * [[byKey]] is the keyed sibling for join inputs (see there).
  */
object Spread {

  /** `df` repartitioned round-robin to the default parallelism when
    * its planned partition count is below it or cannot be read without
    * running upstream stages; `df` unchanged (and no exchange added)
    * otherwise. */
  def forCompute[T](df: Dataset[T]): Dataset[T] = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.executedPlan
    // building the physical RDD of a narrow plan lists files but runs
    // no job; the planned scan's split count (unions add theirs up)
    if (!narrow(plan) || plan.execute().getNumPartitions < target)
      df.repartition(target)
    else df
  }

  /** A physical plan whose RDD can be built without running a job. */
  private def narrow(plan: SparkPlan): Boolean =
    !plan.isInstanceOf[AdaptiveSparkPlanExec] &&
      !plan.exists(p => p.isInstanceOf[Exchange] || p.subqueries.nonEmpty)

  /** `df` hash-partitioned on `keys` to a FIXED count
    * p = defaultParallelism, for the inputs of a join whose cost is its
    * OUTPUT pairs, not its input bytes (knnGraph's coarse-key cosine
    * self-join). Both sides partitioned this way feed the join with no
    * further exchange — the PACT "hash-partition each input at the
    * job's parallelism" ship strategy.
    *
    * Why not leave it to AQE: AQE coalesces the join's shuffle by
    * input BYTES, and a few-MB embedding table collapses into one
    * partition, so knnGraph's ~10^6 exact-cosine pairs plus their
    * top-k sort ran as ONE task at sf0.1 (docs/SCALE.md, "Similarity
    * search"). A `repartition(n, keys)` exchange is REPARTITION_BY_NUM,
    * which AQE never coalesces.
    *
    * Scale posture: a pinned exchange gets no AQE skew-join split, so
    * the caller's blocking must bound one key's block (knnGraph's
    * nlist ~ sqrt(n) contract does). */
  def byKey[T](df: Dataset[T], keys: Column*): Dataset[T] =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)
}

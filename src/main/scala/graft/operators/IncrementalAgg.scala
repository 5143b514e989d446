package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance (incremental view maintenance for
  * distributive aggregates): a standing per-key aggregate table is
  * updated by MERGING a delta batch's partial aggregates — the base
  * data is never rescanned, so refresh cost tracks the delta size, not
  * the 100 TB history.
  *
  * Only works for mergeable aggregates (count/sum/min/max, and
  * anything decomposable into them: mean, moments, the checksums of
  * [[TableChecksum]]). The merge itself is union + one hash
  * aggregation keyed by the group keys — map-side partials apply, and
  * if the state table is bucketed by the keys the shuffle touches only
  * the delta.
  */
object IncrementalAgg {

  /** Per-key (n, sum per value column) partial aggregates of a batch. */
  def partials(batch: DataFrame, keys: Seq[String],
               sumCols: Seq[String]): DataFrame =
    batch.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sumCols.map(c => sum(col(c)).as(s"sum_$c")): _*)

  /** Merge partial-aggregate tables (state ∪ deltas) into the updated
    * state: counts and sums add per key.
    */
  def merge(state: DataFrame, delta: DataFrame, keys: Seq[String],
            sumCols: Seq[String]): DataFrame =
    state.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"),
        sumCols.map(c => sum(col(s"sum_$c")).as(s"sum_$c")): _*)
}

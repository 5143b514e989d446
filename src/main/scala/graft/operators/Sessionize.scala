package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch sessionization: assign every event a per-user session index
  * under an inactivity-gap rule (a new session starts when the time
  * since the user's previous event exceeds `gap`). This is the
  * event-log face of what the streaming path does with
  * `session_window` (q43) — here each EVENT keeps its session id, so
  * downstream per-session features (duration, depth, conversion) can
  * join back to raw events.
  *
  * Scale shape: one shuffle, hash-partitioned by user; the lag +
  * running-sum windows both run inside that single user partition
  * (no global window anywhere). Session indexes are 1-based in
  * (`tsCol`, `tieCol`) order — the tie column makes the within-user
  * order TOTAL, so the assignment is deterministic on any engine and
  * partitioning.
  */
object Sessionize {

  /** `events` plus a `session_idx` column. `gap` is in the units of
    * `tsCol` (e.g. microseconds).
    */
  def assign(events: DataFrame, userCol: String, tsCol: String,
             tieCol: String, gap: Long): DataFrame = {
    require(gap > 0, s"gap must be positive, got $gap")
    val order = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
    val isNew = when(
      col(tsCol) - lag(col(tsCol), 1).over(order) <= gap, lit(0L))
      .otherwise(lit(1L)) // first event (null lag) also lands here
    events.withColumn("session_idx",
      sum(isNew).over(order.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)))
  }

  /** Per-session rollup: `(userCol, session_idx, n_events, start_ts,
    * end_ts, duration)` — one hash aggregation over [[assign]].
    */
  def sessions(events: DataFrame, userCol: String, tsCol: String,
               tieCol: String, gap: Long): DataFrame =
    assign(events, userCol, tsCol, tieCol, gap)
      .groupBy(col(userCol), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("start_ts"),
        max(col(tsCol)).as("end_ts"),
        (max(col(tsCol)) - min(col(tsCol))).as("duration"))
}

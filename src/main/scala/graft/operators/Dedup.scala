package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate handling — the Spark re-expression of the reference's
  * temp-table dedup SQL (semantics pinned by reference
  * DbImportWorker.java:477-485 call sites + README.md:77-86):
  *
  *  - `dropDuplicates(table, keys)`  → keep the FIRST row (by arrival
  *    ordinal) of each key group, delete the rest.
  *  - `joinDuplicates(table, keys, updateWithNull)` → merge each group
  *    into one row: later rows overwrite earlier ones; when
  *    `updateWithNull = false`, null values do NOT overwrite (per-column
  *    last-non-null).
  *  - `detectDuplicates(table, keys)` → number of key groups with > 1 row.
  *
  * Scale notes: every function here is a single hash shuffle on the key
  * columns. `dropDuplicatesKeepFirst` is a window `row_number` (shuffle +
  * in-partition sort, spillable). `joinDuplicates` is an aggregation
  * with map-side partial `max_by` combine. It is not sort-free: a
  * `max_by` whose value is a string (or a struct) has no fixed-width
  * slot in HashAggregate's buffer, so Spark plans a SortAggregate, with
  * a sort on the keys before the partial and after the exchange
  * (`SortAggregate ← Sort ← Exchange ← SortAggregate ← Sort`); only
  * all-numeric value columns get a HashAggregate. No global ordering is
  * ever required: "first/last" is resolved per key group from the order
  * columns.
  */
object Dedup {

  private def keyCols(df: DataFrame, keys: Seq[String]): Seq[Column] = keys.map(df(_))

  /** Keep the first row per key group, ordered by `order` (typically the
    * arrival ordinal, see [[Ordinals]]). Unlike Spark's built-in
    * `dropDuplicates(keys)` this guarantees WHICH row survives.
    */
  def dropDuplicatesKeepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols(df, keys): _*).orderBy(order: _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** Merge every duplicate key group into a single row.
    *
    * For each non-key column the surviving value is that of the LAST row
    * in `order`; with `updateWithNull = false` the last NON-NULL value
    * (so nulls never erase data — reference README.md:87). Implemented as
    * `max_by(col, ord)` / `max_by(col, ord if col not null)` under one
    * aggregate: partial aggregation happens map-side before the shuffle,
    * so duplicate-heavy data shuffles one row per (partition, key) only.
    * A string value column makes it a sort aggregate (see above).
    *
    * @param order single deterministic ordering column (e.g. the arrival
    *              ordinal). Must be non-null and unique within a key group.
    */
  def joinDuplicates(df: DataFrame, keys: Seq[String], order: Column,
                     updateWithNull: Boolean = true): DataFrame = {
    val valueCols = df.columns.filterNot(keys.contains)
    // key-only frame: nothing to merge — the deduped keys ARE the result
    // (aggs.head below would otherwise throw on the empty list)
    if (valueCols.isEmpty)
      return df.groupBy(keyCols(df, keys): _*).agg(count(lit(1)).as("__graft_n"))
        .select(df.columns.map(col).toIndexedSeq: _*)
    val aggs = valueCols.map { c =>
      val v =
        if (updateWithNull) max_by(col(c), order)
        else max_by(col(c), when(col(c).isNotNull, order))
      v.as(c)
    }
    df.groupBy(keyCols(df, keys): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(df.columns.map(col).toIndexedSeq: _*) // restore original column order
  }

  /** Number of key groups that occur more than once (reference
    * `detectDuplicates`, the gate for the UPDATE_FIRST modes).
    */
  def detectDuplicates(df: DataFrame, keys: Seq[String]): Long =
    duplicateKeyGroups(df, keys).count()

  /** The duplicated key groups themselves, with their cardinality. */
  def duplicateKeyGroups(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keyCols(df, keys): _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)
}

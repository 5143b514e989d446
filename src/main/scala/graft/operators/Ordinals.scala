package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.LongType

/** Arrival-order ordinal ("import_item") support.
  *
  * The reference engine materializes a 1-based arrival ordinal on the
  * staged temp table (`DbUtilities.addIndexedIntegerColumn`,
  * reference DbImportWorker.java:465, populated at :992-997) and uses it
  * for every "first occurrence" decision (dedup keep-first, join-duplicates
  * last-wins, UPDATE_FIRST_*). Those only compare the ordinal, so the
  * merges order by `monotonically_increasing_id`: the same (partition,
  * position) order with no extra job. This object numbers 1-based:
  *
  *  - [[withArrivalOrdinal]]: true ingest order (partition-by-partition,
  *    row-by-row) via a two-pass per-partition offset computation: one
  *    tiny job to count partition sizes, then a narrow map — no shuffle,
  *    no global sort. Order is the source's split order (for files: file
  *    order × in-file offset), the analog of the reference's stream order.
  *
  *  - [[withOrderedOrdinal]]: ordinal from an explicit deterministic
  *    ORDER BY — a range-partitioned distributed sort (Spark `orderBy`)
  *    followed by the same per-partition offset assignment. Equivalent
  *    to a global `row_number` when the order is total, WITHOUT the
  *    single-partition window: every stage stays parallel, so this
  *    scales like a sort.
  */
object Ordinals {

  val DefaultName = "import_item"

  /** 1-based arrival ordinal without any shuffle: counts rows per input
    * partition (small job), broadcasts cumulative offsets, then assigns
    * `offset(partition) + local index` in a narrow map. Equivalent to
    * `zipWithIndex` but stays a DataFrame.
    */
  def withArrivalOrdinal(df: DataFrame, name: String = DefaultName): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema.add(name, LongType, nullable = false)
    val rdd = df.rdd
    val counts = rdd.mapPartitionsWithIndex { case (i, it) =>
      Iterator.single(i -> it.size.toLong)
    }.collect().toMap
    val offsets = {
      var acc = 1L // 1-based, like the reference's import_item
      (0 until rdd.getNumPartitions).map { i =>
        val o = acc; acc += counts.getOrElse(i, 0L); i -> o
      }.toMap
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val out = rdd.mapPartitionsWithIndex { case (i, it) =>
      val base = bc.value(i)
      it.zipWithIndex.map { case (r, j) => Row.fromSeq(r.toSeq :+ (base + j)) }
    }
    spark.createDataFrame(out, schema)
  }

  /** 1-based ordinal from an explicit total order: distributed
    * range-partitioned sort, then per-partition offsets. Result is
    * identical to `row_number() OVER (ORDER BY …)` for a TOTAL order,
    * but no stage ever collapses to one partition. (With a non-total
    * order, ties land in an arbitrary-but-deterministic sequence —
    * exactly like the window formulation.)
    */
  def withOrderedOrdinal(df: DataFrame, order: Seq[Column],
                         name: String = DefaultName): DataFrame =
    withArrivalOrdinal(df.orderBy(order: _*), name)

  /** EXCLUSIVE global prefix sum of a LongType column under an explicit
    * total order — `name` gets the sum of `valueCol` over all strictly
    * preceding rows. Same shape as [[withOrderedOrdinal]]: a
    * range-partitioned distributed sort, one tiny per-partition-totals
    * job (numPartitions rows to the driver), then a narrow map adding
    * `partition offset + local running sum`. Equivalent to
    * `sum(value) OVER (ORDER BY … ROWS UNBOUNDED PRECEDING AND 1
    * PRECEDING)` but no single-partition window stage.
    */
  def withOrderedPrefixSum(df: DataFrame, order: Seq[Column], valueCol: String,
                           name: String): DataFrame = {
    val sorted = df.orderBy(order: _*)
    val spark = sorted.sparkSession
    require(sorted.schema(valueCol).dataType == LongType,
      s"$valueCol must be LongType (cast before calling)")
    val idx = sorted.schema.fieldIndex(valueCol)
    val schema = sorted.schema.add(name, LongType, nullable = false)
    val rdd = sorted.rdd
    val sums = rdd.mapPartitionsWithIndex { case (i, it) =>
      var s = 0L
      it.foreach { r =>
        // fail with the column named — getLong on a null row would
        // surface as an anonymous NPE deep inside the task
        require(!r.isNullAt(idx), s"prefix-sum column '$valueCol' contains " +
          "a null — coalesce to 0 (or filter) before calling")
        s += r.getLong(idx)
      }
      Iterator.single(i -> s)
    }.collect().toMap
    val offsets = {
      var acc = 0L
      (0 until rdd.getNumPartitions).map { i =>
        val o = acc; acc += sums.getOrElse(i, 0L); i -> o
      }.toMap
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val out = rdd.mapPartitionsWithIndex { case (i, it) =>
      var acc = bc.value(i)
      it.map { r =>
        val row = Row.fromSeq(r.toSeq :+ acc); acc += r.getLong(idx); row
      }
    }
    spark.createDataFrame(out, schema)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Token-budget sequence packing — the last step before a training run:
  * documents are concatenated in a deterministic order and cut into
  * fixed-size training sequences of `budget` tokens; a document whose
  * token span crosses a cut belongs to every sequence it overlaps.
  *
  * The only global state is the exclusive prefix sum of token counts,
  * computed by [[Ordinals.withOrderedPrefixSum]] — a distributed sort
  * plus per-partition offsets, NO single-partition window — so packing
  * scales like a sort of (id, n_tokens) pairs: the text itself never
  * moves.
  */
object SequencePacking {

  /** Per-document packing map: start_offset (exclusive prefix sum of
    * token counts under `order`), first_seq/last_seq (the range of
    * budget-sized sequences the document's token span overlaps) and
    * n_seqs. Zero-token documents are dropped (they occupy no span).
    * All arithmetic is integral (`div`), never floating-point.
    */
  def packByBudget(docs: DataFrame, tokenCountCol: String,
                   order: Seq[Column], budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val withOff = Ordinals.withOrderedPrefixSum(
      docs.filter(col(tokenCountCol) > 0), order, tokenCountCol, "start_offset")
    withOff
      .withColumn("first_seq", expr(s"start_offset div ${budget}L"))
      .withColumn("last_seq",
        expr(s"(start_offset + `$tokenCountCol` - 1L) div ${budget}L"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1L)
  }
}

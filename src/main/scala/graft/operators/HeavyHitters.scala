package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Exact frequent-item mining at corpus scale: a mergeable
  * Misra–Gries summary (Misra & Gries, "Finding repeated elements",
  * 1982; the merge rule from Agarwal et al., "Mergeable summaries",
  * PODS'12) generates a ≤ k-item candidate set, then a second pass
  * recounts ONLY the candidates exactly. The MG guarantee — each
  * summary undercounts any item by at most n/(k+1) — survives both
  * the per-partition fold and the pairwise merge, so the merged
  * candidates provably contain every item with true frequency
  * > n/(k+1). With a threshold above that bound the final output is
  * EXACTLY the frequency-threshold set, deterministic and
  * engine-independent, even though the intermediate summary depends
  * on partition boundaries.
  *
  * Scale shape: pass 1 ships one ≤ k-entry map per partition to the
  * driver (never the token stream); pass 2 is a broadcast
  * candidate-set filter + map-side-combinable hash aggregation. The
  * item universe never needs to fit anywhere — this is the operator
  * to reach for when a plain `groupBy(token).count()` would build a
  * hash table over a vocabulary larger than executor memory.
  */
object HeavyHitters {

  /** k-counter Misra–Gries fold. reduce = MG insert (increment a
    * live counter, start one if a slot is free, else decrement all);
    * merge = add counts, then subtract the (k+1)-th largest count
    * and drop non-positives (restores the k-slot bound while keeping
    * the undercount ≤ n/(k+1)).
    */
  private[operators] class MgAgg(k: Int)
      extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    override def zero: Map[String, Long] = Map.empty
    override def reduce(b: Map[String, Long], v: String): Map[String, Long] =
      b.get(v) match {
        case Some(c) => b.updated(v, c + 1L)
        case None if b.size < k => b.updated(v, 1L)
        case None => b.flatMap { case (t, c) =>
          if (c > 1L) Some(t -> (c - 1L)) else None
        }
      }
    override def merge(a: Map[String, Long],
                       b: Map[String, Long]): Map[String, Long] = {
      val sum = b.foldLeft(a) { case (m, (t, c)) =>
        m.updated(t, m.getOrElse(t, 0L) + c)
      }
      if (sum.size <= k) sum
      else {
        val cut = sum.values.toArray.sorted(Ordering[Long].reverse).apply(k)
        sum.flatMap { case (t, c) =>
          if (c > cut) Some(t -> (c - cut)) else None
        }
      }
    }
    override def finish(r: Map[String, Long]): Map[String, Long] = r
    override def bufferEncoder = ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder = ExpressionEncoder[Map[String, Long]]()
  }

  /** The merged MG candidate set (≤ k items) for a string column —
    * a superset of every item with frequency > n/(k+1). Exposed for
    * the spec's superset property; [[frequentItems]] is the user
    * surface.
    */
  def mgCandidates(items: DataFrame, itemCol: String, k: Int): Seq[String] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val agg = udaf(new MgAgg(k))
    items.select(agg(col(itemCol)).as("mg")).collect()(0)
      .getAs[Map[String, Long]](0).keys.toSeq
  }

  /** Items whose EXACT frequency is ≥ `minCount`, with their exact
    * counts — `(item, n)`. Correct (no false negatives) whenever
    * `minCount > n/(k+1)`; a fail-fast guards the bound so a
    * mis-sized k can never silently drop a frequent item. Pass
    * `totalHint` when the stream length is already known — it saves a
    * full count pass over the items (the guard trusts it).
    */
  def frequentItems(items: DataFrame, itemCol: String, k: Int,
                    minCount: Long, totalHint: Option[Long] = None): DataFrame = {
    val n = totalHint.getOrElse(items.count())
    require(minCount > n / (k + 1L),
      s"minCount $minCount is within the MG undercount bound n/(k+1) = " +
        s"${n / (k + 1L)} — raise minCount or k")
    val cand = mgCandidates(items, itemCol, k)
    items.filter(col(itemCol).isInCollection(cand))
      .groupBy(col(itemCol).as("item"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }
}

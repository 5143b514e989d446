package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys. AQE's skew-join handles sort-merge
  * splits automatically; explicit salting remains the tool when a
  * replicated (broadcast-unfriendly) dimension must join a fact with a
  * few dominant keys, or when a deterministic layout matters.
  *
  * [[saltedJoin]]: the fact side gets a uniform random-free salt derived
  * from a high-cardinality column (deterministic — reproducible runs);
  * the dimension side is exploded `saltFactor`× so every (key, salt)
  * bucket finds its match. Result rows are identical to the plain join;
  * only the shuffle distribution changes: a key holding p% of the fact
  * spreads over `saltFactor` reducers instead of one.
  */
object Skew {

  /** Inner equi-join `fact ⨝ dim` on `keys`, with the dimension
    * replicated over `saltFactor` salt buckets.
    *
    * @param saltSource deterministic high-cardinality fact column used to
    *        derive the salt (e.g. a line number or id) — keeps runs
    *        reproducible where `rand()` would not be.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
                 saltFactor: Int, saltSource: Column): DataFrame = {
    require(saltFactor >= 1, s"saltFactor must be >= 1, got $saltFactor")
    // a null salt source must not DROP the row (null never equals any
    // dim salt) — route nulls to bucket 0
    val salted = fact.withColumn("__graft_salt",
      pmod(coalesce(saltSource, lit(0)), lit(saltFactor)).cast("int"))
    val explodedDim = dim.withColumn("__graft_salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(explodedDim, keys :+ "__graft_salt")
      .drop("__graft_salt")
  }
}

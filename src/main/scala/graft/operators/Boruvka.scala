package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Borůvka's minimum-spanning-forest algorithm — THE MST for a
  * shared-nothing engine (Kruskal and Prim are driver-sequential;
  * Borůvka is `O(log n)` fully-parallel rounds): every round each
  * component picks its cheapest outgoing edge, all picks join the
  * forest at once, and touching components merge. Component count at
  * least halves per round.
  *
  * Spark shape, per round: two hash joins label the edge endpoints,
  * one hash aggregation picks each component's min edge (a
  * lexicographic `min(struct(w, a, b))` — weight first, then the
  * deterministic (a, b) tie-break, so ties never need distinct
  * weights), the chosen edges' COMPONENT graph (≤ one edge per
  * component, shrinking every round) runs through the
  * [[ConnectedComponents]] large-star/small-star merge, and node
  * labels update with one more join. Rounds are localCheckpoint-ed so
  * plans stay round-sized (the LPA/k-truss discipline). Nothing
  * corpus-sized ever reaches the driver.
  *
  * With distinct weights the MST is unique; with ties the (w, a, b)
  * ordering still makes the result deterministic and replayable, so
  * an oracle can re-run the same rounds in SQL.
  */
object Boruvka {

  /** `rounds` fixed synchronous Borůvka rounds over an undirected
    * weighted edge list (one row per edge, any orientation). Returns
    * per-round progress — `(round, n_added, weight_added,
    * n_components)` — the oracle-facing face (fixed rounds replay
    * exactly; run `ceil(log2 n)` rounds for the full forest). Rounds
    * after convergence report 0 added edges and an unchanged
    * component count.
    */
  def forestRounds(edges: DataFrame, aCol: String, bCol: String,
                   wCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"), col(wCol).cast("long").as("w"))
      .filter(col("a") =!= col("b"))
      .localCheckpoint(true)
    var lab = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node"))).distinct()
      .select(col("node"), col("node").as("lab"))
      .localCheckpoint(true)
    val stats = Vector.newBuilder[(Long, Long, Long, Long)]
    for (r <- 1 to rounds) {
      val el = e
        .join(lab.select(col("node").as("a"), col("lab").as("la")), Seq("a"))
        .join(lab.select(col("node").as("b"), col("lab").as("lb")), Seq("b"))
        .filter(col("la") =!= col("lb"))
      // each touched component's cheapest outgoing edge; both
      // orientations compete, ties break on (w, a, b) inside the
      // lexicographic struct-min
      val chosen = el.select(col("la").as("comp"), col("w"), col("a"),
          col("b"), col("la"), col("lb"))
        .unionAll(el.select(col("lb").as("comp"), col("w"), col("a"),
          col("b"), col("la"), col("lb")))
        .groupBy(col("comp"))
        .agg(min(struct(col("w"), col("a"), col("b"), col("la"),
          col("lb"))).as("pick"))
        .select(col("pick.w").as("w"), col("pick.a").as("a"),
          col("pick.b").as("b"), col("pick.la").as("la"),
          col("pick.lb").as("lb"))
        .distinct() // both endpoints picking the same edge = one edge
        .localCheckpoint(true)
      val Seq((nAdded, wAdded)) = chosen
        .agg(count(lit(1)), coalesce(sum(col("w")), lit(0L)))
        .as[(Long, Long)].collect().toSeq
      if (nAdded > 0) {
        // merge: min reachable old label over the chosen-edge
        // component graph (≤ 1 edge per component — shrinks fast)
        val newLab = ConnectedComponents.labels(chosen, "la", "lb")
        lab = lab
          .join(newLab.select(col("id").as("lab"), col("cluster")),
            Seq("lab"), "left")
          .select(col("node"), coalesce(col("cluster"), col("lab")).as("lab"))
          .localCheckpoint(true)
      }
      val Seq(nComp) = lab.agg(count_distinct(col("lab")))
        .as[Long].collect().toSeq
      stats += ((r.toLong, nAdded, wAdded, nComp))
    }
    stats.result()
      .toDF("round", "n_added", "weight_added", "n_components")
      .orderBy(col("round"))
  }
}

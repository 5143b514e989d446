package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core peeling (Seidman 1983; the distributed formulation of
  * Montresor et al., "Distributed k-core decomposition", PODC'11):
  * repeatedly delete every node of degree < k — the fixpoint is the
  * k-core, the standard density filter for graph cleaning (drop
  * tendrils before community detection / embedding training).
  *
  * Scale shape: one peel round is ONE degree hash-aggregation (map
  * side combining) plus TWO node-key semi joins restricting the edge
  * list to surviving endpoints — all hash shuffles on the node key,
  * no driver-side graph, no global structure. The edge frame is
  * `localCheckpoint`ed each round (same lineage discipline as
  * [[Bfs]]/[[ConnectedComponents]]); work per round is proportional
  * to the SURVIVING edge set, which only shrinks.
  */
object KCore {

  private def undirected(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    e.unionAll(e.select(col("v").as("u"), col("u").as("v"))).distinct()
  }

  /** one peel: drop nodes with fewer than k surviving neighbors */
  private def peelOnce(adj: DataFrame, k: Int): DataFrame = {
    val keep = adj.groupBy("u").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k).select("u")
    adj.join(keep, Seq("u"), "left_semi")
      .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
      .select("u", "v")
  }

  /** EXACTLY `rounds` peel iterations (idempotent once converged):
    * `(node, deg)` for the surviving subgraph. A fixed round budget
    * makes the result a closed-form function of (edges, k, rounds) —
    * replayable on any engine with no convergence detection — while
    * `rounds` ≥ the graph's peel depth gives the true k-core.
    */
  def peelRounds(edges: DataFrame, srcCol: String, dstCol: String,
                 k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 0, s"need k >= 1, rounds >= 0")
    var adj = undirected(edges, srcCol, dstCol).localCheckpoint(eager = true)
    var round = 0
    var n = adj.count() // cheap on the checkpointed frame
    // a converged (or empty) set peels to itself, so stopping early is
    // EXACTLY the fixed-round result — without burning no-op jobs
    var stable = n == 0L
    while (round < rounds && !stable) {
      round += 1
      adj = peelOnce(adj, k).localCheckpoint(eager = true)
      val n2 = adj.count() // edge count stable <=> no node dropped
      stable = n2 == n || n2 == 0L
      n = n2
    }
    adj.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-depth breadth-first reachability over an undirected edge
  * list — the "expansion neighborhood" primitive behind related-item
  * retrieval, contamination-spread audits and graph feature
  * engineering. Frontier-style iteration (Pregel's BFS specialization):
  * each hop is ONE hash join (frontier ⋈ edges) plus ONE distinct and
  * an anti join against the visited set — all node-key hash shuffles,
  * no global structure and no driver-side graph. The hop count is the
  * iteration index, so `hop` is the exact shortest-path distance
  * (min-hop semantics come for free: a node joins `visited` the first
  * round it is seen and the anti join hides it from later frontiers).
  *
  * Scale shape: work per hop is |frontier ⋈ edges| — proportional to
  * the edges incident to the frontier, never to paths (the visited-set
  * anti join is what kills the path explosion a naive recursive
  * expansion suffers). The visited set is checkpointed through
  * `localCheckpoint` each round to cut the growing lineage, same
  * discipline as [[ConnectedComponents]] / [[PageRank]].
  */
object Bfs {

  /** `(node, hop)` for every node within `maxHops` of `seeds`,
    * `hop` = exact BFS distance (seeds themselves at hop 0).
    *
    * `edges` needs `srcCol`/`dstCol` (treated undirected); `seeds`
    * needs a single column named like `srcCol`'s output, i.e. a one
    * column frame of node ids.
    */
  def reachable(edges: DataFrame, srcCol: String, dstCol: String,
                seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    // fold to canonical undirected adjacency, both directions present
    val e = edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val adj = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .localCheckpoint(eager = true) // scanned once per hop — cut re-reads
    val seed = seeds.select(col(seeds.columns.head).cast("long").as("node"))
      .distinct()
      .withColumn("hop", lit(0))
    var visited = seed.localCheckpoint(eager = true)
    var frontier = visited
    var hop = 0
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      val next = frontier.join(adj, frontier("node") === adj("u"))
        .select(col("v").as("node"))
        .distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("hop", lit(hop))
      frontier = next.localCheckpoint(eager = true)
      visited = visited.unionAll(frontier).localCheckpoint(eager = true)
    }
    visited
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-truss peeling — the EDGE-strength sibling of [[KCore]]: a
  * k-truss is the maximal subgraph whose every edge closes at least
  * k−2 triangles INSIDE the subgraph, the standard community-core
  * primitive that is stricter than k-core (degree says a node has
  * neighbors; truss support says its edges sit in dense
  * neighborhoods — Cohen, "Trusses: cohesive subgraphs for social
  * network analysis", 2008).
  *
  * Each round recomputes per-edge triangle support with the same
  * degree-oriented O(m^1.5) wedge join as [[Triangles]] and deletes
  * under-supported edges; the round count is FIXED so a SQL oracle
  * can replay the peel as unrolled CTEs (the [[KCore.peelRounds]]
  * discipline — deleting an edge can drop another's support, so the
  * fixpoint needs iteration, and fixed rounds make the intermediate
  * states part of the contract).
  *
  * Scale shape per round: hash joins on node keys + one hash agg per
  * edge — no window, no driver-side graph; each round's edge frame is
  * checkpointed so plans stay round-sized.
  */
object KTruss {

  /** Surviving canonical edges after `rounds` peels with their
    * FINAL-state support: `(lo, hi, support)`.
    */
  def peelRounds(edges: DataFrame, srcCol: String, dstCol: String,
                 k: Int, rounds: Int): DataFrame =
    peelRoundsFromTriangles(
      Triangles.canonicalEdges(edges, srcCol, dstCol), None, k, rounds)

  /** [[peelRounds]] over a pre-canonical edge list with an OPTIONAL
    * pre-enumerated full-graph triangle list (the shared-artifact
    * face). With `tris`, the O(m^1.5) wedge join never runs AT ALL:
    * round 1 derives per-edge support by exploding `tris`, and each
    * survivor round FILTERS the triangle list down to triangles whose
    * three edges all survived ([[Triangles.filterByEdges]] — three
    * packed-key semi joins, linear in |triangles|) instead of
    * re-enumerating wedges over the survivor subgraph, which for
    * k-truss is by definition the dense (wedge-heavy) part of the
    * graph.
    */
  def peelRoundsFromTriangles(canonical: DataFrame,
                              tris: Option[DataFrame],
                              k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var e = canonical.localCheckpoint(true)
    var t = tris // shrinks in lockstep with e when provided
    for (_ <- 1 to rounds) {
      val support = t match {
        case Some(tt) => Triangles.edgeSupportFromTriangles(tt)
        case None     => edgeSupport(e)
      }
      // survivors are exactly the supported edges at or above k−2:
      // support's (lo, hi) domain is a SUBSET of e (triangles are
      // enumerated from / filtered to e), its rows are unique (hash
      // agg), and with k ≥ 3 a zero-support edge can never survive —
      // so the former `e ⟕ support` join + coalesce filter re-derived
      // this set while paying one extra exchange + join of the full
      // edge list per round (§2.4 remove shuffles outright)
      e = support.filter(col("support") >= (k - 2).toLong)
        .select(col("lo"), col("hi"))
        .localCheckpoint(true)
      t = t.map(tt =>
        Triangles.filterByEdges(tt, e).localCheckpoint(true))
    }
    val finalSupport = t match {
      case Some(tt) => Triangles.edgeSupportFromTriangles(tt)
      case None     => edgeSupport(e)
    }
    e.join(finalSupport, Seq("lo", "hi"), "left")
      .withColumn("support", coalesce(col("support"), lit(0L)))
  }

  /** Triangle-membership count per canonical edge of `e` — one
    * [[Triangles.enumerate]] pass, crediting all three edges of each
    * triangle through one explode + hash agg.
    */
  private def edgeSupport(e: DataFrame): DataFrame =
    Triangles.edgeSupportFromTriangles(Triangles.enumerate(e, "KTruss"))
}

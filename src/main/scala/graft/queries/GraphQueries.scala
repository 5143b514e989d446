package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph queries — PageRank/HITS/LPA/k-core/k-truss/triangles/BFS/SSSP and link prediction over the co-purchase and interaction graphs.
  *
  * Split from the monolithic `SparkEntry.scala` in round 11 (it had
  * grown to 9.5k lines); self-typed to [[SparkEntry]] so every query
  * and shared helper keeps resolving unqualified across family files.
  * Contributes [[queriesGraph]] / [[oracleSqlGraph]] to the
  * assembled driver contract.
  */
private[graft] trait GraphQueries { this: SparkEntry.type =>

  import Tables._

  // ---------------------------------------------------------------- q83
  /** PageRank over the co-purchase part graph (parts sharing an order
    * are linked), 3 fixed iterations ([[operators.PageRank]]). Each
    * iteration is one join + one hash aggregation keyed by node; the
    * top-20 ranking is decided on the ROUNDED score so any engine
    * agrees on the boundary.
    */
  def q83PageRank(s: SparkSession, d: String): DataFrame = {
    // mirror the shared undirected pair artifact into both orientations:
    // the rows are unique (pa, pb) with pa < pb, so this IS the distinct
    // directed edge set the raw =!= self-join produced
    val p = copurchasePairs(s, d)
    val edges = p.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(p.select(col("pb").as("src"), col("pa").as("dst")))
    // the mirror of unique pa < pb pairs is distinct by construction —
    // skip ranks' normalizing distinct (one O(2m) exchange, §2.4)
    operators.PageRank.ranks(edges, "src", "dst", iters = 3,
      knownDistinct = true)
      .withColumn("prr", round(col("pr"), 6))
      .orderBy(col("prr").desc, col("node"))
      .limit(20)
      .select(col("node").as("part"), col("prr").as("pr"))
  }

  // ---------------------------------------------------------------- q119
  /** Triangle census of the co-purchase part graph (q83's edge
    * build) via oriented wedge join + closing-edge semi join
    * ([[operators.Triangles]]) — the clustering-structure companion
    * to PageRank's centrality: two hash joins, no driver-side graph.
    * Reads the shared [[triangleList]] artifact — the O(m^1.5) wedge
    * enumeration runs once for q119/q140/q218 instead of three times
    * (the sf~1 ladder's top-3 costs were all the same pass).
    */
  def q119Triangles(s: SparkSession, d: String): DataFrame =
    operators.Triangles.censusFromTriangles(
      copurchaseEdges(s, d), triangleList(s, d))

  // ---------------------------------------------------------------- q134
  /** Label-propagation community detection over the co-purchase part
    * graph ([[operators.LabelPropagation]]) — the community layer
    * between connected components (q67: pure reachability) and
    * PageRank (q83: centrality): 5 synchronous rounds, ties to the
    * smallest label, over the SAME shared pair artifact as
    * q83/q119/q128, so the edge build costs nothing here.
    */
  def q134Communities(s: SparkSession, d: String): DataFrame =
    lpaLabels(s, d).orderBy(col("node"))

  // ---------------------------------------------------------------- q140
  /** Per-node local clustering coefficient of the co-purchase graph
    * ([[operators.Triangles.perNodeCensus]]) — the node-level
    * companion to q119's global census: how close each part's
    * neighborhood is to a clique, as an exact ppm integer. Reuses the
    * shared co-purchase pair artifact AND the shared [[triangleList]]
    * enumeration (one wedge join for q119/q140/q218); triangles credit
    * all three corners via a 3-element explode + hash count.
    */
  def q140ClusteringCoeff(s: SparkSession, d: String): DataFrame =
    operators.Triangles.perNodeCensusFromTriangles(
        copurchaseEdges(s, d), triangleList(s, d))
      .orderBy(col("node"))

  // ---------------------------------------------------------------- q144
  /** Bounded-depth BFS reachability ([[operators.Bfs.reachable]]) over
    * the (≥2-support) co-purchase graph: exact shortest-hop distance
    * from the `p_partkey % 500 = 0` seed set, 3 hops out. Frontier
    * iteration — one hash join + distinct + visited anti join per hop,
    * work proportional to frontier-incident edges (never to paths).
    * The oracle unrolls the three hops as explicit level CTEs with
    * NOT-IN visited pruning — bit-equal min-hop semantics, no
    * recursion needed at fixed depth. Fifth consumer of the shared
    * co-purchase edge artifact.
    */
  def q144BfsReach(s: SparkSession, d: String): DataFrame = {
    val e = copurchasePairs(s, d).filter(col("n_both") >= 2)
      .select(col("pa"), col("pb"))
    val seeds = part(s, d).filter(col("p_partkey") % 500 === 0)
      .select(col("p_partkey"))
    operators.Bfs.reachable(e, "pa", "pb", seeds, maxHops = 3)
      .select(col("node"), col("hop").cast("long").as("hop"))
      .orderBy(col("node"))
  }

  // ---------------------------------------------------------------- q148
  /** Fixed-budget k-core peeling ([[operators.KCore.peelRounds]]) of
    * the (≥2-support) co-purchase graph: 12 rounds of "drop nodes with
    * < 3 surviving neighbors". A FIXED round budget makes the result a
    * closed-form function of the input (idempotent once converged —
    * 12 ≥ the peel depth at every test scale), so the oracle replays
    * the rounds as unrolled CTEs; with rounds ≥ the peel depth the
    * result is the true k-core, spec-pinned against brute force.
    * Sixth consumer of the shared co-purchase edge artifact.
    */
  def q148KcorePeel(s: SparkSession, d: String): DataFrame =
    operators.KCore.peelRounds(
        copurchasePairs(s, d).filter(col("n_both") >= 2)
          .select(col("pa"), col("pb")),
        "pa", "pb", k = 3, rounds = 12)
      .select(col("node"), col("deg"))
      .orderBy(col("node"))

  // ---------------------------------------------------------------- q152
  /** Degree assortativity ([[operators.GraphStats
    * .degreeAssortativity]]) of the co-purchase graph — the
    * hub-to-hub mixing scalar. One degree hash-agg + two node-key
    * joins + one exact-DECIMAL moment aggregation; only the final
    * Pearson division is float. Seventh consumer of the shared edge
    * artifact.
    */
  def q152Assortativity(s: SparkSession, d: String): DataFrame =
    operators.GraphStats.degreeAssortativity(
      copurchasePairs(s, d).select(col("pa"), col("pb")), "pa", "pb")

  // ---------------------------------------------------------------- q161
  /** Personalized PageRank ([[operators.PageRank.personalizedRanks]])
    * from the `p_partkey % 300 = 0` anchor set over the co-purchase
    * graph — "related items from these anchors". Same one-join +
    * one-agg iteration as q83 with a seed restart vector; eighth
    * consumer of the shared edge artifact. The oracle unrolls the
    * three iterations exactly like q83's, with the seed-mass restart
    * in place of the uniform base.
    */
  def q161PersonalizedPr(s: SparkSession, d: String): DataFrame = {
    val p = copurchasePairs(s, d)
    val edges = p.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(p.select(col("pb").as("src"), col("pa").as("dst")))
    val seeds = part(s, d).filter(col("p_partkey") % 300 === 0)
      .select(col("p_partkey").as("node"))
    // distinct by construction — see q83
    operators.PageRank.personalizedRanks(edges, "src", "dst", seeds,
      iters = 3, knownDistinct = true)
      .withColumn("prr", round(col("pr"), 6))
      .filter(col("prr") > 0.0) // untouched nodes are exact zeros
      .orderBy(col("prr").desc, col("node"))
      .limit(20)
      .select(col("node").as("part"), col("prr").as("pr"))
  }

  // ---------------------------------------------------------------- q173
  /** Adamic–Adar link prediction over the ≥2-support co-purchase
    * graph ([[operators.LinkPrediction.adamicAdarTopK]]) — the
    * "which absent edge is most likely" top-50. Eleventh consumer of
    * the shared edge artifact; wedge join bounded by the hub cap
    * (principled for AA: hubs carry the smallest 1/ln weight).
    */
  def q173AdamicAdar(s: SparkSession, d: String): DataFrame =
    operators.LinkPrediction.adamicAdarTopK(
      copurchasePairs(s, d).filter(col("n_both") >= 2)
        .select(col("pa"), col("pb")), "pa", "pb",
      maxWedgeDegree = 10000, topK = 50)
      .select(col("u"), col("v"), col("n_common"),
        col("aa_score").cast("double").as("aa_score"))

  // ---------------------------------------------------------------- q174
  /** Item-item cosine collaborative filtering ("bought X also bought
    * Y", [[operators.LinkPrediction.itemCosineTopK]]): per-item top-3
    * neighbors by co-occurrence cosine. The expensive basket self-join
    * is the shared edge artifact; this stage is two broadcast-size
    * joins + a WindowGroupLimit over pre-aggregated counts.
    */
  def q174ItemCosine(s: SparkSession, d: String): DataFrame = {
    val ic = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      .groupBy(col("pk").as("item")).agg(count(lit(1)).as("n"))
    operators.LinkPrediction.itemCosineTopK(
        copurchasePairs(s, d), ic, topKPerItem = 3, minBoth = 2)
      .orderBy(col("item"), col("rk"))
  }

  // ---------------------------------------------------------------- q175
  /** HITS hubs-and-authorities over the bipartite customer→part
    * purchase graph ([[operators.LinkPrediction.hitsTopAuthorities]]),
    * 2 L1-normalized rounds, top-20 authorities — the query-vs-catalog
    * asymmetry PageRank (q83) can't express; oracle unrolls the
    * rounds with the same 6-dp DECIMAL discipline.
    */
  def q175Hits(s: SparkSession, d: String): DataFrame =
    operators.LinkPrediction.hitsTopAuthorities(
      orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("p")),
      "u", "p", rounds = 2, topK = 20)

  // ---------------------------------------------------------------- q179
  /** TextRank keyword extraction per language
    * ([[operators.TextRank.keywords]]): PageRank over the token
    * adjacency graph, 2 rounds, top-10 — structural keywords, not
    * merely frequent tokens. Edge weights from ONE explode + hash agg;
    * per round one edge-keyed join + one hash agg.
    */
  def q179TextRank(s: SparkSession, d: String): DataFrame =
    operators.TextRank.keywords(
        documents(s, d).select(col("lang"),
          functions.TextAnalysis.tokens(col("text")).as("toks")),
        "lang", "toks", rounds = 2, minEdgeCount = 3, topK = 10)
      .select(col("group").as("lang"), col("token"), col("rank_score"),
        col("rk"))
      .orderBy(col("lang"), col("rk"))

  // ---------------------------------------------------------------- q181
  /** Bounded Bellman–Ford shortest paths
    * ([[operators.Sssp.boundedShortestPaths]]) on the ≥2-support
    * co-purchase graph, edge cost `round(1/n_both, 6)` (strong ties =
    * short), seeds = part ids ≤ 50, 4 relaxation rounds — the weighted
    * complement of q144's hop-count BFS. DECIMAL distances end to end.
    */
  def q181Sssp(s: SparkSession, d: String): DataFrame = {
    val sup = copurchasePairs(s, d).filter(col("n_both") >= 2)
    val half = sup.select(col("pa").cast("long").as("u"),
      col("pb").cast("long").as("v"),
      round(lit(1.0) / col("n_both").cast("double"), 6)
        .cast("decimal(12,6)").as("w"))
    val e = half.unionAll(half.select(col("v").as("u"), col("u").as("v"),
      col("w")))
    val seeds = e.select(col("u")).filter(col("u") <= 50).distinct()
    operators.Sssp.boundedShortestPaths(e, "u", "v", "w", seeds, rounds = 4)
      .select(col("node"), col("dist").cast("double").as("dist"))
      .orderBy(col("node"))
  }

  // ---------------------------------------------------------------- q218
  /** k-truss peel over the FULL co-purchase graph
    * ([[operators.KTruss.peelRounds]]) — the edge-strength sibling of
    * q148's k-core: surviving edges must each close ≥ k−2 triangles
    * inside the surviving subgraph. The full graph (not the
    * ≥2-support slice): every order's basket is a clique, so basket
    * edges carry support ≥ |basket|−2 and k = 7 selects the ≥7-item
    * co-purchase cores at every scale (the ≥2-support slice loses its
    * triangles as the part pool grows with SF; k = 5 would keep ~75%
    * of the graph and triple the peel cost for no extra semantics).
    * Fixed 2 rounds for oracle replay (unrolled CTEs, the
    * kcorePeelSql discipline) — round 1's full-graph support pass now
    * explodes the shared [[triangleList]] artifact (one wedge
    * enumeration for q119/q140/q218); the survivor rounds re-enumerate
    * their own (small) subgraphs. Seventh consumer of the shared
    * co-purchase edge artifact.
    */
  def q218KtrussPeel(s: SparkSession, d: String): DataFrame =
    operators.KTruss.peelRoundsFromTriangles(
        copurchaseEdges(s, d), Some(triangleList(s, d)),
        k = 7, rounds = 2)
      .orderBy(col("lo"), col("hi"))

  // ---------------------------------------------------------------- q241
  /** Approximate neighborhood function over the ≥2-support co-purchase
    * graph ([[operators.NeighborhoodFunction.ballSizes]] — the
    * ANF/HyperANF structure with deterministic bottom-8 sketches):
    * per radius 0/1/2, the node count and the summed/average
    * estimated ball size — the "how connected is this graph, at what
    * distance" curve whose EXACT answer is a transitive-closure join
    * no 100 TB cluster can afford. Two rounds of edge join + native
    * `kmv_lows` aggregation, k longs per node on every exchange;
    * per-node estimates rounded to 6 dp, summed in DECIMAL.
    */
  def q241NeighborhoodFn(s: SparkSession, d: String): DataFrame = {
    val e = copurchasePairs(s, d).filter(col("n_both") >= 2)
      .select(col("pa").as("src"), col("pb").as("dst"))
    operators.NeighborhoodFunction.ballSizes(e, "src", "dst",
        k = 8, rounds = 2)
      .groupBy(col("radius"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("est").cast("decimal(18,6)")).as("__s"))
      .select(col("radius"), col("n_nodes"),
        col("__s").cast("double").as("sum_est"),
        round(col("__s").cast("double") / col("n_nodes"), 6).as("avg_est"))
      .orderBy(col("radius"))
  }

  // ---------------------------------------------------------------- q296
  /** Sketch-based harmonic centrality top-20 over the ≥2-support
    * co-purchase graph ([[operators.NeighborhoodFunction
    * .harmonicTopK]]): q241's bottom-8 ball-size profile telescoped
    * into `H(v) ≈ Σ_r (ball_r − ball_{r−1})/r` (the HyperANF/HADI
    * read-out of Boldi–Vigna's harmonic centrality) — the centrality
    * ranking whose exact form is an all-pairs BFS no 100 TB cluster
    * runs. Three edge-join rounds with k-long sketch partials; the
    * telescoped sum is one float tree per node over the 6-dp per-
    * radius estimates; top-20 by the total (harmonic DESC, node) key.
    */
  def q296HarmonicCentrality(s: SparkSession, d: String): DataFrame = {
    val e = copurchasePairs(s, d).filter(col("n_both") >= 2)
      .select(col("pa").as("src"), col("pb").as("dst"))
    operators.NeighborhoodFunction.harmonicTopK(e, "src", "dst",
      k = 8, rounds = 3, topN = 20)
  }

  // ---------------------------------------------------------------- q297
  /** Grid-accelerated DBSCAN over the 2-D hyperplane projection of the
    * embedding corpus ([[operators.Dbscan.clusterSummary]]): density
    * clusters (eps = 0.15, minPts = 5) with min-core-id labels, border
    * attachment by MIN in-range core label (removing the classic
    * visit-order dependence), and a noise row — the density-clustering
    * face the suite lacked next to k-means (q89) and LSH communities
    * (q97). The eps-search is a 9-cell grid equi-join, never
    * all-pairs; components run the large-star/small-star fixpoint.
    * The projection planes are the [[operators.Similarity
    * .hyperplaneWeights]] literals, part of the portable definition.
    */
  def q297DbscanGrid(s: SparkSession, d: String): DataFrame = {
    val w = operators.Similarity.hyperplaneWeights(2, 64)
    def proj(i: Int) =
      aggregate(zip_with(col("embedding"), typedLit(w(i).toSeq),
        (x, y) => x.cast("double") * y), lit(0.0), (acc, v) => acc + v)
    val pts = embeddings(s, d).select(col("vec_id"),
      proj(0).as("x"), proj(1).as("y"))
    operators.Dbscan.clusterSummary(pts, "vec_id", "x", "y",
      eps = 0.15, minPts = 5L, topN = 10)
  }

  // ---------------------------------------------------------------- q303
  /** DIMSUM-sampled item-item cosine ([[operators.Dimsum
    * .cosineTopK]], Zadeh & Goel — MLlib's `columnSimilarities`):
    * co-occurrences emitted with probability `min(1, γ/(√n_i·√n_j))`
    * and unbiased by 1/p, so the shuffle mass per pair caps at ~γ
    * REGARDLESS of item popularity — the skew-oblivious similarity
    * join q174's exact face can't be at 100 TB. The md5 coin makes
    * the sample a pure function of the data; the eval face publishes
    * the exact cosine alongside the estimate.
    */
  def q303DimsumCosine(s: SparkSession, d: String): DataFrame =
    operators.Dimsum.cosineTopK(
      lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey", gamma = 50.0, topN = 20)

  // ---------------------------------------------------------------- q306
  /** Newman modularity of q134's LPA communities
    * ([[operators.LabelPropagation.modularity]]): how much denser the
    * detected communities are than a degree-preserving random
    * rewiring — the quality score that turns q134's labeling from "an
    * output" into "a measured clustering". Exact integer rational
    * `(4m·Σe_intra − Σd_c²)/4m²`; the only float is the final
    * division. One double label join + one degree aggregation over
    * the shared co-purchase artifact.
    */
  def q306Modularity(s: SparkSession, d: String): DataFrame = {
    val edges = copurchasePairs(s, d)
      .select(col("pa").as("src"), col("pb").as("dst"))
    operators.LabelPropagation.modularity(edges, "src", "dst",
      lpaLabels(s, d).select(col("node"), col("community")),
      "node", "community")
  }

  // ---------------------------------------------------------------- q312
  /** Degree-capped SPARSIFIED LPA ([[operators.LabelPropagation
    * .communitiesSampled]]) — the approximate face for the
    * artifact_lpa sf~1 wall (58 s of honest O(m)-per-round cost this
    * round): each node keeps its 8 smallest-md5 incoming neighbors,
    * so every round runs on ≤ 8n edges regardless of hub degrees.
    * Deterministic sparsification → the labeling replays exactly in
    * SQL; the exact q134 stays the full-fidelity oracle row, this is
    * the pipeline face (the q281-vs-q119 DOULION pattern applied to
    * community detection).
    */
  def q312LpaSampled(s: SparkSession, d: String): DataFrame =
    operators.LabelPropagation.communitiesSampled(
        copurchasePairs(s, d).select(col("pa").as("src"),
          col("pb").as("dst")),
        "src", "dst", rounds = 5, maxNbrs = 8,
        assumeCanonical = true)
      .orderBy(col("node"))

  // ---------------------------------------------------------------- q313
  /** Wedge-sampled per-node clustering coefficients
    * ([[operators.Triangles.sampledLocalClustering]], Schank–Wagner)
    * over the full co-purchase graph — the per-node approximate face
    * beside q281's edge-sampled global census: 16 md5-chosen neighbor
    * pairs per node, closure checked by one edge-existence hash join,
    * NO wedge enumeration — so the cost is k·n probes however dense
    * the hubs get, the lever for the artifact_tris density wall. The
    * exact q140 stays the fidelity row.
    */
  def q313SampledClustering(s: SparkSession, d: String): DataFrame = {
    val e = copurchasePairs(s, d).select(col("pa"), col("pb"))
    // the pair artifact is pa < pb distinct, so its manifest count IS
    // the canonical edge count — no per-call count job
    operators.Triangles.sampledLocalClustering(e, "pa", "pb",
      k = 16, topN = 20,
      knownEdges = SessionArtifacts.rowCount("edges", s, d),
      assumeCanonical = true)
  }

  // ---------------------------------------------------------------- q319
  /** Fidelity audit for the sampled-LPA face: Newman modularity of
    * q312's degree-capped labeling measured NEXT TO q306's exact-LPA
    * modularity on the same full co-purchase graph — determinism was
    * already oracle-proven (q312 replays exactly); this row pins the
    * approximation QUALITY: how much community structure the 8-neighbor
    * sparsification actually loses, as one (modularity_exact,
    * modularity_sampled, delta) row. Both labelings bill their shared
    * artifacts; the modularity tails are two broadcast-scalar attaches.
    */
  def q319LpaFidelity(s: SparkSession, d: String): DataFrame = {
    val edges = copurchasePairs(s, d)
      .select(col("pa").as("src"), col("pb").as("dst"))
    val sampled = operators.LabelPropagation.communitiesSampled(
      edges, "src", "dst", rounds = 5, maxNbrs = 8,
      assumeCanonical = true)
    val me = operators.LabelPropagation.modularity(edges, "src", "dst",
        lpaLabels(s, d).select(col("node"), col("community")),
        "node", "community")
      .select(col("m"), col("n_communities").as("nc_exact"),
        col("modularity").as("modularity_exact"))
    val ms = operators.LabelPropagation.modularity(edges, "src", "dst",
        sampled.select(col("node"), col("community")), "node", "community")
      .select(col("n_communities").as("nc_sampled"),
        col("modularity").as("modularity_sampled"))
    me.crossJoin(broadcast(ms))
      .select(col("m"), col("nc_exact"), col("nc_sampled"),
        col("modularity_exact"), col("modularity_sampled"),
        (round(col("modularity_exact") - col("modularity_sampled"), 6)
          + 0.0).as("delta"))
  }

  // ---------------------------------------------------------------- q320
  /** Fidelity audit for the wedge-sampled clustering face: q313's
    * cc_est_ppm (16 trials/node, FULL per-node frame) against q140's
    * exact per-node coefficients on the same graph, published as the
    * error DISTRIBUTION — exact integer |Δ| ppm at p50/p90/p99/max
    * over the deg ≥ 2 nodes the estimator covers. Every quantity is an
    * exact integer (both cc columns are ppm integers; ranks are
    * ceil(q·n) in integer ppm arithmetic), so the row is
    * engine-identical. The binomial bound to read it against:
    * k = 16 trials puts σ ≤ 125,000 ppm per node — the p50/p90 this
    * row publishes are what that theory looks like on real data.
    */
  def q320ClusteringFidelity(s: SparkSession, d: String): DataFrame = {
    val est = operators.Triangles.sampledLocalClustering(
        copurchasePairs(s, d).select(col("pa"), col("pb")),
        "pa", "pb", k = 16, topN = 0,
        knownEdges = SessionArtifacts.rowCount("edges", s, d),
        assumeCanonical = true)
      .select(col("node"), col("cc_est_ppm"))
    val exact = operators.Triangles.perNodeCensusFromTriangles(
        copurchaseEdges(s, d), triangleList(s, d))
      .select(col("node"), col("clustering_ppm"))
    val err = est.join(exact, Seq("node"))
      .select(col("node"),
        abs(col("cc_est_ppm") - col("clustering_ppm")).as("err"))
    // rank drill over the err HISTOGRAM, not the rows: the old global
    // row_number window funneled every per-node row through ONE task
    // (guide §2.5 — the "No Partition Defined" plan). The value at rank
    // k in (err asc) order is the smallest err whose cumulative count
    // reaches k, and err lives in a BOUNDED integer domain (ppm |Δ| ≤
    // 10⁶), so the single-task window now sees ≤ 10⁶+1 distinct values
    // at ANY corpus scale — the q268 histogram-drill discipline.
    val tot = err.agg(count(lit(1)).as("n_nodes"))
    val hist = err.groupBy(col("err")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("err"))
    hist.withColumn("cum", sum(col("c")).over(w))
      .crossJoin(broadcast(tot))
      .agg(max(col("n_nodes")).as("n_nodes"),
        min(when(col("cum") >=
          expr("(n_nodes * 500000 + 999999) DIV 1000000"), col("err")))
          .as("p50_err_ppm"),
        min(when(col("cum") >=
          expr("(n_nodes * 900000 + 999999) DIV 1000000"), col("err")))
          .as("p90_err_ppm"),
        min(when(col("cum") >=
          expr("(n_nodes * 990000 + 999999) DIV 1000000"), col("err")))
          .as("p99_err_ppm"),
        max(col("err")).as("max_err_ppm"))
  }

  // ---------------------------------------------------------------- q322
  /** Sampled-source bounded-hop Brandes betweenness over the
    * ≥2-support co-purchase graph ([[operators.Betweenness]]) — the
    * shortest-path-load centrality the suite lacked beside PageRank
    * (q83), harmonic (q296), and HITS: which parts sit on the most
    * shortest paths between the sampled sources' neighborhoods. The
    * q144 seed set (`p_partkey % 500 = 0`) and hop bound 3 keep the
    * estimator at |seeds| BFS trees of bounded depth; σ path counts
    * are exact integers, and every dependency term is rounded 6 dp
    * then DECIMAL-summed, so the accumulation is engine-exact. The
    * oracle unrolls forward levels and backward dependency rounds as
    * explicit CTEs (the q144 fixed-depth discipline).
    */
  def q322Betweenness(s: SparkSession, d: String): DataFrame = {
    val e = copurchasePairs(s, d).filter(col("n_both") >= 2)
      .select(col("pa"), col("pb"))
    val seeds = part(s, d).filter(col("p_partkey") % 500 === 0)
      .select(col("p_partkey"))
    operators.Betweenness.sampledBetweenness(e, "pa", "pb", seeds,
      maxHops = 3, topN = 20)
  }

  // ---------------------------------------------------------------- q246
  /** Deterministic random-walk corpus over the ≥2-support co-purchase
    * graph ([[operators.RandomWalks.walks]] — the DeepWalk/node2vec
    * data step): length-3 uniform walks from every 17th node, the
    * choice at each hop a HASH of (walker, node, step) mod degree — a
    * skip-gram-ready `(walker, step, node)` corpus that is bit-for-bit
    * reproducible on any engine with no RNG state. Each hop is one
    * node-sized degree join + one (node, rank) equi-join against the
    * ranked adjacency; the frontier never grows.
    */
  def q246RandomWalks(s: SparkSession, d: String): DataFrame = {
    val p = copurchasePairs(s, d).filter(col("n_both") >= 2)
    val e = p.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(p.select(col("pb").as("src"), col("pa").as("dst")))
    val starts = e.select(col("src").as("n")).distinct()
      .filter(pmod(col("n"), lit(17)) === 0)
    operators.RandomWalks.walks(e, "src", "dst", starts, "n", length = 3)
      .orderBy(col("walker"), col("step"))
  }

  // ---------------------------------------------------------------- q252
  /** Threshold-percolation audit: connected-component structure of the
    * co-purchase graph as the edge-support threshold sweeps 1 → 3 —
    * the "how does my dedup/similarity clustering change if I tighten
    * the threshold" sensitivity question, answered per threshold as
    * (reachable nodes, component count, giant-component size). Runs
    * on the deterministic 10 %-of-parts node sample (`pk % 10 = 0`) —
    * exactly how a 100 TB cluster-structure audit samples (the FULL
    * graph's transitive closure is the oracle-side quadratic this
    * sample bounds; the Spark side would scale — three
    * large-star/small-star CC runs — but the audit question is about
    * STRUCTURE, which the sample answers). Thresholds whose graph is
    * empty are absent, not null rows.
    */
  def q252ThresholdComponents(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).filter(pmod(col("l_partkey"), lit(10L)) === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val ed = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
      .agg(count(lit(1)).as("nb"))
      .localCheckpoint(true) // three threshold consumers, one build
    val per = (1 to 3).map { t =>
      operators.ConnectedComponents.labels(ed.filter(col("nb") >= t),
          "pa", "pb")
        .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
        .agg(sum(col("sz")).as("n_nodes"),
          count(lit(1)).as("n_components"),
          max(col("sz")).as("max_size"))
        .select(lit(t.toLong).as("threshold"), col("n_nodes"),
          col("n_components"), col("max_size"))
    }
    per.reduce(_ unionAll _)
      .filter(col("n_nodes").isNotNull)
      .orderBy(col("threshold"))
  }

  // ---------------------------------------------------------------- q262
  /** Borůvka minimum-spanning-forest rounds
    * ([[operators.Boruvka.forestRounds]]) on the sampled co-purchase
    * graph — the MST is the backbone primitive behind single-linkage
    * clustering and network-cost planning, and Borůvka is its only
    * shared-nothing form (each round every component grabs its
    * cheapest outgoing edge in one agg; components at least halve).
    * Runs on the q252 10 %-of-parts sample (the oracle's per-round
    * closure is what the sample bounds — the Spark side's CC merge
    * would scale) with deterministic md5-48 edge weights and (w, a, b)
    * tie-breaks, 4 fixed rounds, reporting per round the edges added,
    * their weight, and the surviving component count. The oracle
    * replays each round: per-component min edge, transitive-closure
    * merge, label update.
    */
  def q262BoruvkaMst(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).filter(pmod(col("l_partkey"), lit(10L)) === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val ed = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("pa"), col("b.pk").as("pb")).distinct()
      .withColumn("w", operators.Sketches.hash48(
        concat_ws(":", col("pa"), col("pb"))))
    operators.Boruvka.forestRounds(ed, "pa", "pb", "w", rounds = 4)
  }

  // ---------------------------------------------------------------- q269
  /** Rich-club coefficient curve ([[operators.GraphStats.richClub]])
    * of the full co-purchase graph over doubling degree thresholds —
    * "do the hub parts form their own dense club?", the curve-valued
    * companion to q152's single assortativity scalar. One degree agg,
    * two hash joins, a `limit`-bounded broadcast threshold fan-out,
    * and exact integer-ppm densities; consumer of the shared edge
    * artifact.
    */
  def q269RichClub(s: SparkSession, d: String): DataFrame =
    operators.GraphStats.richClub(
      copurchasePairs(s, d).select(col("pa"), col("pb")),
      "pa", "pb", Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L))

  // ---------------------------------------------------------------- q276
  /** Link-prediction score suite
    * ([[operators.LinkPrediction.neighborhoodScoresTopK]]): common
    * neighbors, Jaccard ppm, resource allocation, and Adamic–Adar for
    * the top-20 candidate non-edges of the ≥2-support co-purchase
    * graph — four classic indices off ONE wedge expansion (q173
    * ranks by AA alone). Membership of the top-k is decided by the
    * exact `(n_common DESC, u, v)` key, never a float.
    */
  def q276LinkSuite(s: SparkSession, d: String): DataFrame =
    operators.LinkPrediction.neighborhoodScoresTopK(
      copurchasePairs(s, d).filter(col("n_both") >= 2)
        .select(col("pa"), col("pb")), "pa", "pb",
      maxWedgeDegree = 10000, topK = 20)

  // ---------------------------------------------------------------- q281
  /** DOULION edge-sampled triangle census
    * ([[operators.Triangles.sampledCensus]]) over the full co-purchase
    * graph — the approximate PIPELINE face of q119's exact census: each
    * canonical edge survives iff `md5(lo_hi) % 4 = 0` (deterministic,
    * oracle-replayable — no RNG state), triangles are counted exactly
    * on the ~m/4 sample, and the estimate scales by 4³. The wedge join
    * runs on a graph with 1/16th the wedge mass, which is the whole
    * point at 100 TB: a budget pass that brackets the exact count
    * before committing to the full O(m^1.5) enumeration.
    */
  def q281TrianglesSampled(s: SparkSession, d: String): DataFrame =
    operators.Triangles.sampledCensus(
      copurchasePairs(s, d).select(col("pa").as("src"), col("pb").as("dst")),
      "src", "dst", inverseP = 4, assumeCanonical = true)

  private[graft] def queriesGraph: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q281_triangles_sampled" -> (q281TrianglesSampled _),
    "q269_rich_club" -> (q269RichClub _),
    "q276_link_suite" -> (q276LinkSuite _),
    "q262_boruvka_mst" -> (q262BoruvkaMst _),
    "q252_threshold_components" -> (q252ThresholdComponents _),
    "q246_random_walks" -> (q246RandomWalks _),
    "q241_neighborhood_fn" -> (q241NeighborhoodFn _),
    "q83_pagerank" -> (q83PageRank _),
    "q119_triangles" -> (q119Triangles _),
    "q134_communities" -> (q134Communities _),
    "q140_clustering_coeff" -> (q140ClusteringCoeff _),
    "q144_bfs_reach" -> (q144BfsReach _),
    "q148_kcore_peel" -> (q148KcorePeel _),
    "q152_assortativity" -> (q152Assortativity _),
    "q161_personalized_pr" -> (q161PersonalizedPr _),
    "q296_harmonic_centrality" -> (q296HarmonicCentrality _),
    "q297_dbscan_grid" -> (q297DbscanGrid _),
    "q303_dimsum_cosine" -> (q303DimsumCosine _),
    "q306_modularity" -> (q306Modularity _),
    "q312_lpa_sampled" -> (q312LpaSampled _),
    "q313_sampled_clustering" -> (q313SampledClustering _),
    "q319_lpa_fidelity" -> (q319LpaFidelity _),
    "q320_clustering_fidelity" -> (q320ClusteringFidelity _),
    "q322_betweenness" -> (q322Betweenness _),
    "q173_adamic_adar" -> (q173AdamicAdar _),
    "q174_item_cosine" -> (q174ItemCosine _),
    "q175_hits" -> (q175Hits _),
    "q179_textrank" -> (q179TextRank _),
    "q181_sssp" -> (q181Sssp _),
    "q218_ktruss_peel" -> (q218KtrussPeel _))

  /** q297's replay: the SAME hyperplane literals project the vectors;
    * the eps-neighborhood is the plain distance predicate (the grid
    * join is a superset constraint — identical pair set); components
    * via a transitive closure seeded with EVERY core (so isolated
    * cores self-label, matching the Spark side's union), min-id
    * labels; border rows take the MIN in-range core label. eps² is
    * written `0.15·0.15` so both engines square the same double.
    */
  private[graft] lazy val dbscanGridSql: String = {
    val w = operators.Similarity.hyperplaneWeights(2, 64)
    val (w0, w1) = (w(0).mkString(", "), w(1).mkString(", "))
    s"""WITH RECURSIVE p AS (SELECT vec_id AS id,
       |    list_dot_product(CAST(embedding AS DOUBLE[]), [$w0]) AS x,
       |    list_dot_product(CAST(embedding AS DOUBLE[]), [$w1]) AS y
       |  FROM embeddings),
       |nb AS MATERIALIZED (SELECT a.id, b.id AS id2 FROM p a JOIN p b
       |  ON a.id <> b.id
       |  AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       |    <= CAST(0.15 AS DOUBLE) * CAST(0.15 AS DOUBLE)),
       |cr AS MATERIALIZED (SELECT id FROM
       |  (SELECT id, count(*) AS c FROM nb GROUP BY id)
       |  WHERE c + 1 >= 5),
       |ce AS (SELECT nb.id AS a, nb.id2 AS b FROM nb
       |  JOIN cr ON cr.id = nb.id JOIN cr c2 ON c2.id = nb.id2
       |  WHERE nb.id < nb.id2),
       |sym AS MATERIALIZED (SELECT a, b FROM ce
       |  UNION ALL SELECT b, a FROM ce),
       |reach(src, dst) AS (SELECT id, id FROM cr
       |  UNION SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.dst),
       |lab AS MATERIALIZED (SELECT src AS id, min(dst) AS lb
       |  FROM reach GROUP BY 1),
       |border AS MATERIALIZED (SELECT nb.id, min(l.lb) AS lb
       |  FROM nb JOIN cr c2 ON c2.id = nb.id2 JOIN lab l ON l.id = nb.id2
       |  WHERE nb.id NOT IN (SELECT id FROM cr) GROUP BY nb.id),
       |cl AS (SELECT lb AS cluster,
       |    CAST(sum(core) AS BIGINT) AS n_core,
       |    CAST(sum(1 - core) AS BIGINT) AS n_border,
       |    CAST(count(*) AS BIGINT) AS size
       |  FROM (SELECT lb, 1 AS core FROM lab
       |        UNION ALL SELECT lb, 0 FROM border)
       |  GROUP BY lb ORDER BY size DESC, cluster LIMIT 10),
       |noise AS (SELECT CAST(NULL AS BIGINT) AS cluster,
       |    CAST(0 AS BIGINT) AS n_core, CAST(0 AS BIGINT) AS n_border,
       |    CAST(count(*) AS BIGINT) AS size
       |  FROM p WHERE id NOT IN (SELECT id FROM lab)
       |    AND id NOT IN (SELECT id FROM border))
       |SELECT cluster, n_core, n_border, size FROM
       |  (SELECT * FROM cl UNION ALL SELECT * FROM noise)
       |ORDER BY CASE WHEN cluster IS NULL THEN 1 ELSE 0 END,
       |  size DESC, cluster""".stripMargin
  }

  private[graft] def oracleSqlGraph: Map[String, String] = Map(
    "q296_harmonic_centrality" ->
      // q241's bottom-8 sketch replay extended one round, pivoted per
      // node, telescoped (ball_r − ball_{r−1})/r term for term, top-20
      // by the exact (harmonic DESC, node) key
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |ed AS (SELECT a.pk AS pa, b.pk AS pb
        |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS src, pb AS dst FROM ed
        |      UNION SELECT pb, pa FROM ed),
        |s0 AS (SELECT DISTINCT src AS node,
        |    CAST(('0x' || substr(md5(CAST(src AS VARCHAR)), 1, 12))
        |      AS BIGINT) AS h FROM e),
        |m1 AS (SELECT e.src AS node, s.h FROM e JOIN s0 s ON s.node = e.dst
        |       UNION SELECT node, h FROM s0),
        |s1 AS (SELECT node, h FROM (SELECT node, h,
        |    row_number() OVER (PARTITION BY node ORDER BY h) AS rk
        |  FROM m1) WHERE rk <= 8),
        |m2 AS (SELECT e.src AS node, s.h FROM e JOIN s1 s ON s.node = e.dst
        |       UNION SELECT node, h FROM s1),
        |s2 AS (SELECT node, h FROM (SELECT node, h,
        |    row_number() OVER (PARTITION BY node ORDER BY h) AS rk
        |  FROM m2) WHERE rk <= 8),
        |m3 AS (SELECT e.src AS node, s.h FROM e JOIN s2 s ON s.node = e.dst
        |       UNION SELECT node, h FROM s2),
        |s3 AS (SELECT node, h FROM (SELECT node, h,
        |    row_number() OVER (PARTITION BY node ORDER BY h) AS rk
        |  FROM m3) WHERE rk <= 8),
        |b AS (SELECT 0 AS radius, node, count(*) AS n_kept, max(h) AS kth
        |      FROM s0 GROUP BY 1, 2
        |      UNION ALL SELECT 1, node, count(*), max(h) FROM s1 GROUP BY 1, 2
        |      UNION ALL SELECT 2, node, count(*), max(h) FROM s2 GROUP BY 1, 2
        |      UNION ALL SELECT 3, node, count(*), max(h) FROM s3 GROUP BY 1, 2),
        |est AS (SELECT radius, node,
        |    round(CASE WHEN n_kept < 8 THEN CAST(n_kept AS DOUBLE)
        |      ELSE CAST(7 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
        |        / CAST(kth AS DOUBLE) END, 6) AS est
        |  FROM b),
        |pv AS (SELECT node,
        |    max(CASE WHEN radius = 0 THEN est END) AS e0,
        |    max(CASE WHEN radius = 1 THEN est END) AS e1,
        |    max(CASE WHEN radius = 2 THEN est END) AS e2,
        |    max(CASE WHEN radius = 3 THEN est END) AS e3
        |  FROM est GROUP BY node)
        |SELECT node, e1 AS ball_1, e3 AS ball_3,
        |  round((e1 - e0) / CAST(1 AS DOUBLE) + (e2 - e1) / CAST(2 AS DOUBLE)
        |    + (e3 - e2) / CAST(3 AS DOUBLE), 6) + 0.0 AS harmonic
        |FROM pv ORDER BY harmonic DESC, node LIMIT 20""".stripMargin,
    "q297_dbscan_grid" -> dbscanGridSql,
    "q303_dimsum_cosine" ->
      // the SAME γ=50 threshold and md5-48 coin; p/den recomputed from
      // identical float trees; sampled and exact cosines side by side
      """WITH li AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |cnt AS (SELECT it, CAST(count(*) AS BIGINT) AS n
        |  FROM li GROUP BY 1),
        |pr AS (SELECT a.bk, a.it AS i, b.it AS j
        |  FROM li a JOIN li b ON a.bk = b.bk AND a.it < b.it),
        |x AS (SELECT pr.i, pr.j, ci.n AS ni, cj.n AS nj,
        |    sqrt(CAST(ci.n AS DOUBLE) * CAST(cj.n AS DOUBLE)) AS den,
        |    least(CAST(1 AS DOUBLE), CAST(50 AS DOUBLE)
        |      / sqrt(CAST(ci.n AS DOUBLE) * CAST(cj.n AS DOUBLE))) AS p,
        |    CAST(CAST(('0x' || substr(md5(CAST(pr.bk AS VARCHAR) || ':'
        |      || CAST(pr.i AS VARCHAR) || ':' || CAST(pr.j AS VARCHAR)),
        |      1, 12)) AS BIGINT) AS DOUBLE)
        |      / CAST(281474976710656 AS DOUBLE) AS u
        |  FROM pr JOIN cnt ci ON ci.it = pr.i JOIN cnt cj ON cj.it = pr.j),
        |g AS (SELECT i, j, ni, nj, den, p, CAST(count(*) AS BIGINT)
        |      AS n_both,
        |    CAST(sum(CASE WHEN u < p THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_sampled
        |  FROM x GROUP BY 1, 2, 3, 4, 5, 6)
        |SELECT i, j, ni AS n_i, nj AS n_j, n_both, n_sampled,
        |  round(CAST(n_sampled AS DOUBLE) / (p * den), 6) + 0.0 AS est_cos,
        |  round(CAST(n_both AS DOUBLE) / den, 6) + 0.0 AS exact_cos
        |FROM g ORDER BY exact_cos DESC, i, j LIMIT 20""".stripMargin,
    "q313_sampled_clustering" ->
      // the q246 rank-th-neighbor replay for wedge endpoints: trial t
      // picks ranks from md5(node_t_a) mod deg and md5(node_t_b) mod
      // (deg−1) with the ≥ shift, closure via EXISTS on the canonical
      // edge list; all published values exact integers
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (SELECT DISTINCT CAST(a.pk AS BIGINT) AS lo,
        |    CAST(b.pk AS BIGINT) AS hi
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |m AS (SELECT lo AS src, hi AS dst FROM e0
        |      UNION ALL SELECT hi, lo FROM e0),
        |adj AS MATERIALIZED (SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rk
        |  FROM m),
        |dg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |  FROM adj GROUP BY 1),
        |nd AS (SELECT node, deg FROM dg WHERE deg >= 2),
        |tr AS (SELECT node, deg, t,
        |    CAST(('0x' || substr(md5(CAST(node AS VARCHAR) || '_'
        |      || CAST(t AS VARCHAR) || '_a'), 1, 12)) AS BIGINT)
        |      % deg AS i,
        |    CAST(('0x' || substr(md5(CAST(node AS VARCHAR) || '_'
        |      || CAST(t AS VARCHAR) || '_b'), 1, 12)) AS BIGINT)
        |      % (deg - 1) AS j0
        |  FROM nd CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS t)),
        |pr AS (SELECT node, deg, t, i,
        |    CASE WHEN j0 >= i THEN j0 + 1 ELSE j0 END AS j
        |  FROM tr),
        |wu AS (SELECT pr.node, pr.deg, pr.t, pr.j, a.dst AS u
        |  FROM pr JOIN adj a ON a.src = pr.node AND a.rk = pr.i + 1),
        |wv AS (SELECT wu.node, wu.deg, wu.t, wu.u, b.dst AS v
        |  FROM wu JOIN adj b ON b.src = wu.node AND b.rk = wu.j + 1),
        |cl AS (SELECT node, deg,
        |    CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM e0
        |      WHERE e0.lo = least(u, v) AND e0.hi = greatest(u, v))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_closed
        |  FROM wv GROUP BY 1, 2)
        |SELECT node, deg, n_closed,
        |  1000000 * n_closed // 16 AS cc_est_ppm
        |FROM cl ORDER BY deg DESC, node LIMIT 20""".stripMargin,
    "q312_lpa_sampled" -> {
      // the q134 replay on the DETERMINISTICALLY SPARSIFIED adjacency:
      // per receiving node, keep the 8 incoming edges with the
      // smallest md5-48(src:dst) (ties on dst), then the same five
      // synchronous rounds and arg-max law
      val rounds = (1 to 5).map { r =>
        s"""g$r AS (SELECT sp.src AS node, l.label, count(*) AS c
           |  FROM sp JOIN l${r - 1} l ON l.node = sp.dst GROUP BY 1, 2),
           |l$r AS (SELECT node, label FROM (
           |  SELECT node, label,
           |    row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rk
           |  FROM g$r) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e0 AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
         |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |sp AS MATERIALIZED (SELECT src, dst FROM (
         |  SELECT src, dst, row_number() OVER (PARTITION BY src
         |    ORDER BY CAST(('0x' || substr(md5(CAST(src AS VARCHAR)
         |      || ':' || CAST(dst AS VARCHAR)), 1, 12)) AS BIGINT), dst)
         |      AS rk
         |  FROM e) WHERE rk <= 8),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM sp),
         |$rounds,
         |sz AS (SELECT label, CAST(count(*) AS BIGINT) AS community_size
         |       FROM l5 GROUP BY label)
         |SELECT l.node, l.label AS community, sz.community_size
         |FROM l5 l JOIN sz ON sz.label = l.label
         |ORDER BY l.node""".stripMargin
    },
    "q306_modularity" -> {
      // the q134 LPA replay (5 synchronous rounds, identical CTEs)
      // plus the modularity tail: exact integer intra-edge and
      // degree-sum masses, one float division
      val rounds = (1 to 5).map { r =>
        s"""g$r AS (SELECT e.src AS node, l.label, count(*) AS c
           |  FROM e JOIN l${r - 1} l ON l.node = e.dst GROUP BY 1, 2),
           |l$r AS (SELECT node, label FROM (
           |  SELECT node, label,
           |    row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rk
           |  FROM g$r) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e0 AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
         |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
         |$rounds,
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
         |        FROM e GROUP BY 1),
         |dc AS (SELECT l.label, CAST(sum(d.d) AS BIGINT) AS dcs
         |       FROM l5 l JOIN deg d ON d.node = l.node GROUP BY 1),
         |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
         |    sum(CAST(dcs AS DECIMAL(19,0)) * CAST(dcs AS DECIMAL(19,0)))
         |      AS dc2 FROM dc),
         |im AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |    CAST(sum(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_intra
         |  FROM e0 JOIN l5 la ON la.node = e0.src
         |  JOIN l5 lb ON lb.node = e0.dst)
         |SELECT m, ag.n_communities, n_intra,
         |  round(CAST(CAST(4 AS DECIMAL(2,0)) * CAST(m AS DECIMAL(12,0))
         |      * CAST(n_intra AS DECIMAL(12,0)) - ag.dc2 AS DOUBLE)
         |    / (CAST(4 AS DOUBLE) * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)),
         |    6) + 0.0 AS modularity
         |FROM im CROSS JOIN ag""".stripMargin
    },
    "q319_lpa_fidelity" -> {
      // BOTH labelings replayed side by side — q306's exact 5-round
      // LPA (l*) and q312's 8-neighbor sparsified LPA (sl*) — then the
      // same exact-integer modularity tail applied to each on the SAME
      // full edge set and degrees; delta is one rounded subtraction of
      // two already-6dp doubles
      val rounds = (1 to 5).map { r =>
        s"""g$r AS (SELECT e.src AS node, l.label, count(*) AS c
           |  FROM e JOIN l${r - 1} l ON l.node = e.dst GROUP BY 1, 2),
           |l$r AS (SELECT node, label FROM (
           |  SELECT node, label,
           |    row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rk
           |  FROM g$r) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      val srounds = (1 to 5).map { r =>
        s"""sg$r AS (SELECT sp.src AS node, l.label, count(*) AS c
           |  FROM sp JOIN sl${r - 1} l ON l.node = sp.dst GROUP BY 1, 2),
           |sl$r AS (SELECT node, label FROM (
           |  SELECT node, label,
           |    row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rk
           |  FROM sg$r) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e0 AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
         |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |sp AS MATERIALIZED (SELECT src, dst FROM (
         |  SELECT src, dst, row_number() OVER (PARTITION BY src
         |    ORDER BY CAST(('0x' || substr(md5(CAST(src AS VARCHAR)
         |      || ':' || CAST(dst AS VARCHAR)), 1, 12)) AS BIGINT), dst)
         |      AS rk
         |  FROM e) WHERE rk <= 8),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
         |$rounds,
         |sl0 AS (SELECT DISTINCT src AS node, src AS label FROM sp),
         |$srounds,
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
         |        FROM e GROUP BY 1),
         |dc AS (SELECT l.label, CAST(sum(d.d) AS BIGINT) AS dcs
         |       FROM l5 l JOIN deg d ON d.node = l.node GROUP BY 1),
         |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
         |    sum(CAST(dcs AS DECIMAL(19,0)) * CAST(dcs AS DECIMAL(19,0)))
         |      AS dc2 FROM dc),
         |im AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |    CAST(sum(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_intra
         |  FROM e0 JOIN l5 la ON la.node = e0.src
         |  JOIN l5 lb ON lb.node = e0.dst),
         |sdc AS (SELECT l.label, CAST(sum(d.d) AS BIGINT) AS dcs
         |       FROM sl5 l JOIN deg d ON d.node = l.node GROUP BY 1),
         |sag AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
         |    sum(CAST(dcs AS DECIMAL(19,0)) * CAST(dcs AS DECIMAL(19,0)))
         |      AS dc2 FROM sdc),
         |sim AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |    CAST(sum(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_intra
         |  FROM e0 JOIN sl5 la ON la.node = e0.src
         |  JOIN sl5 lb ON lb.node = e0.dst),
         |f AS (SELECT im.m, ag.n_communities AS nc_exact,
         |    sag.n_communities AS nc_sampled,
         |    round(CAST(CAST(4 AS DECIMAL(2,0)) * CAST(im.m AS DECIMAL(12,0))
         |        * CAST(im.n_intra AS DECIMAL(12,0)) - ag.dc2 AS DOUBLE)
         |      / (CAST(4 AS DOUBLE) * CAST(im.m AS DOUBLE)
         |        * CAST(im.m AS DOUBLE)), 6) + 0.0 AS modularity_exact,
         |    round(CAST(CAST(4 AS DECIMAL(2,0)) * CAST(sim.m AS DECIMAL(12,0))
         |        * CAST(sim.n_intra AS DECIMAL(12,0)) - sag.dc2 AS DOUBLE)
         |      / (CAST(4 AS DOUBLE) * CAST(sim.m AS DOUBLE)
         |        * CAST(sim.m AS DOUBLE)), 6) + 0.0 AS modularity_sampled
         |  FROM im CROSS JOIN ag CROSS JOIN sim CROSS JOIN sag)
         |SELECT m, nc_exact, nc_sampled, modularity_exact,
         |  modularity_sampled,
         |  round(modularity_exact - modularity_sampled, 6) + 0.0 AS delta
         |FROM f""".stripMargin
    },
    "q320_clustering_fidelity" -> {
      // q313's trial replay WITHOUT the top-N cut (full deg >= 2 node
      // frame) joined to q140's exact per-node coefficients (xw/xt/xpn
      // — the unoriented wedge chain), then exact-integer |err| ppm
      // quantiles by explicit ceil(q·n) ranks
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (SELECT DISTINCT CAST(a.pk AS BIGINT) AS lo,
        |    CAST(b.pk AS BIGINT) AS hi
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |m AS (SELECT lo AS src, hi AS dst FROM e0
        |      UNION ALL SELECT hi, lo FROM e0),
        |adj AS MATERIALIZED (SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rk
        |  FROM m),
        |dg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |  FROM adj GROUP BY 1),
        |nd AS (SELECT node, deg FROM dg WHERE deg >= 2),
        |tr AS (SELECT node, deg, t,
        |    CAST(('0x' || substr(md5(CAST(node AS VARCHAR) || '_'
        |      || CAST(t AS VARCHAR) || '_a'), 1, 12)) AS BIGINT)
        |      % deg AS i,
        |    CAST(('0x' || substr(md5(CAST(node AS VARCHAR) || '_'
        |      || CAST(t AS VARCHAR) || '_b'), 1, 12)) AS BIGINT)
        |      % (deg - 1) AS j0
        |  FROM nd CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS t)),
        |pr AS (SELECT node, deg, t, i,
        |    CASE WHEN j0 >= i THEN j0 + 1 ELSE j0 END AS j
        |  FROM tr),
        |wu AS (SELECT pr.node, pr.deg, pr.t, pr.j, a.dst AS u
        |  FROM pr JOIN adj a ON a.src = pr.node AND a.rk = pr.i + 1),
        |wv AS (SELECT wu.node, wu.deg, wu.t, wu.u, b.dst AS v
        |  FROM wu JOIN adj b ON b.src = wu.node AND b.rk = wu.j + 1),
        |cl AS (SELECT node, deg,
        |    CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM e0
        |      WHERE e0.lo = least(u, v) AND e0.hi = greatest(u, v))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_closed
        |  FROM wv GROUP BY 1, 2),
        |xw AS (SELECT ab.lo AS u, ab.hi AS v, ac.hi AS wv
        |      FROM e0 ab JOIN e0 ac ON ab.lo = ac.lo AND ab.hi < ac.hi),
        |xt AS (SELECT u, v, wv FROM xw
        |      WHERE EXISTS (SELECT 1 FROM e0
        |        WHERE e0.lo = xw.v AND e0.hi = xw.wv)),
        |xpn AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
        |        SELECT u AS node FROM xt
        |        UNION ALL SELECT v FROM xt
        |        UNION ALL SELECT wv FROM xt) GROUP BY node),
        |er AS (SELECT cl.node,
        |    abs((1000000 * cl.n_closed // 16)
        |      - CAST((2000000 * coalesce(xpn.tri, 0))
        |        // (cl.deg * (cl.deg - 1)) AS BIGINT)) AS err
        |  FROM cl LEFT JOIN xpn ON xpn.node = cl.node),
        |rk AS (SELECT err, node,
        |    row_number() OVER (ORDER BY err, node) AS rk FROM er),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM er)
        |SELECT nn.n_nodes,
        |  CAST(max(CASE WHEN rk = (n_nodes * 500000 + 999999) // 1000000
        |    THEN err END) AS BIGINT) AS p50_err_ppm,
        |  CAST(max(CASE WHEN rk = (n_nodes * 900000 + 999999) // 1000000
        |    THEN err END) AS BIGINT) AS p90_err_ppm,
        |  CAST(max(CASE WHEN rk = (n_nodes * 990000 + 999999) // 1000000
        |    THEN err END) AS BIGINT) AS p99_err_ppm,
        |  CAST(max(err) AS BIGINT) AS max_err_ppm
        |FROM rk CROSS JOIN nn GROUP BY nn.n_nodes""".stripMargin
    },
    "q322_betweenness" ->
      // forward: 3 path-counting BFS levels per seed (NOT EXISTS =
      // the anti-join visited guard); backward: dependency rounds
      // deepest-first, each term round-6dp into DECIMAL(18,6) and
      // summed DECIMAL(38,6) — the q106/q289 float discipline; level-3
      // nodes carry delta 0 (the hop-bound truncation, both engines)
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |sup AS (SELECT a.pk AS pa, b.pk AS pb
        |        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |        GROUP BY a.pk, b.pk HAVING count(*) >= 2),
        |adj AS MATERIALIZED (SELECT CAST(pa AS BIGINT) AS u,
        |         CAST(pb AS BIGINT) AS v FROM sup
        |       UNION SELECT CAST(pb AS BIGINT), CAST(pa AS BIGINT)
        |         FROM sup),
        |l0 AS (SELECT DISTINCT CAST(p_partkey AS BIGINT) AS seed,
        |         CAST(p_partkey AS BIGINT) AS node,
        |         CAST(1 AS BIGINT) AS sigma
        |       FROM part WHERE p_partkey % 500 = 0),
        |l1 AS (SELECT l0.seed, adj.v AS node,
        |         CAST(sum(l0.sigma) AS BIGINT) AS sigma
        |       FROM l0 JOIN adj ON adj.u = l0.node
        |       WHERE NOT EXISTS (SELECT 1 FROM l0 x
        |         WHERE x.seed = l0.seed AND x.node = adj.v)
        |       GROUP BY 1, 2),
        |l2 AS (SELECT l1.seed, adj.v AS node,
        |         CAST(sum(l1.sigma) AS BIGINT) AS sigma
        |       FROM l1 JOIN adj ON adj.u = l1.node
        |       WHERE NOT EXISTS (SELECT 1 FROM l0 x
        |         WHERE x.seed = l1.seed AND x.node = adj.v)
        |        AND NOT EXISTS (SELECT 1 FROM l1 y
        |         WHERE y.seed = l1.seed AND y.node = adj.v)
        |       GROUP BY 1, 2),
        |l3 AS (SELECT l2.seed, adj.v AS node,
        |         CAST(sum(l2.sigma) AS BIGINT) AS sigma
        |       FROM l2 JOIN adj ON adj.u = l2.node
        |       WHERE NOT EXISTS (SELECT 1 FROM l0 x
        |         WHERE x.seed = l2.seed AND x.node = adj.v)
        |        AND NOT EXISTS (SELECT 1 FROM l1 y
        |         WHERE y.seed = l2.seed AND y.node = adj.v)
        |        AND NOT EXISTS (SELECT 1 FROM l2 z
        |         WHERE z.seed = l2.seed AND z.node = adj.v)
        |       GROUP BY 1, 2),
        |d2 AS (SELECT l2.seed, l2.node,
        |         CAST(sum(CAST(round(CAST(l2.sigma AS DOUBLE)
        |           / CAST(l3.sigma AS DOUBLE) * (1.0 + 0.0), 6)
        |           AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS delta
        |       FROM l2 JOIN adj ON adj.u = l2.node
        |       JOIN l3 ON l3.seed = l2.seed AND l3.node = adj.v
        |       GROUP BY 1, 2),
        |d2f AS (SELECT l2.seed, l2.node,
        |         coalesce(d2.delta, CAST(0 AS DECIMAL(38,6))) AS delta
        |       FROM l2 LEFT JOIN d2 ON d2.seed = l2.seed
        |        AND d2.node = l2.node),
        |d1 AS (SELECT l1.seed, l1.node,
        |         CAST(sum(CAST(round(CAST(l1.sigma AS DOUBLE)
        |           / CAST(l2.sigma AS DOUBLE)
        |           * (1.0 + CAST(d2f.delta AS DOUBLE)), 6)
        |           AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS delta
        |       FROM l1 JOIN adj ON adj.u = l1.node
        |       JOIN l2 ON l2.seed = l1.seed AND l2.node = adj.v
        |       JOIN d2f ON d2f.seed = l2.seed AND d2f.node = l2.node
        |       GROUP BY 1, 2),
        |d1f AS (SELECT l1.seed, l1.node,
        |         coalesce(d1.delta, CAST(0 AS DECIMAL(38,6))) AS delta
        |       FROM l1 LEFT JOIN d1 ON d1.seed = l1.seed
        |        AND d1.node = l1.node),
        |un AS (SELECT * FROM d1f UNION ALL SELECT * FROM d2f)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_seeds_reaching,
        |  CAST(CAST(sum(delta) AS DECIMAL(38,6)) AS DOUBLE) + 0.0 AS bc
        |FROM un GROUP BY node
        |ORDER BY bc DESC, node LIMIT 20""".stripMargin,
    "q276_link_suite" ->
      // q173's wedge replay extended with the 1/deg RA weight, full-
      // degree Jaccard ppm (Spark DIV ≡ DuckDB // on positives), and
      // the exact (n_common DESC, u, v) top-k key
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |sup AS (SELECT a.pk AS pa, b.pk AS pb FROM li a
        |  JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS MATERIALIZED (SELECT CAST(pa AS BIGINT) AS lo,
        |  CAST(pb AS BIGINT) AS hi FROM sup),
        |m AS (SELECT lo AS u, hi AS v FROM e UNION ALL SELECT hi, lo FROM e),
        |deg AS MATERIALIZED (SELECT u AS w, CAST(count(*) AS BIGINT)
        |    AS deg FROM m GROUP BY u),
        |centers AS (SELECT w,
        |    CAST(round(1.0 / ln(CAST(deg AS DOUBLE)), 6) AS DECIMAL(8,6))
        |      AS aa_w,
        |    CAST(round(1.0 / CAST(deg AS DOUBLE), 6) AS DECIMAL(8,6))
        |      AS ra_w
        |  FROM deg WHERE deg <= 10000),
        |adj AS MATERIALIZED (SELECT m.v AS w, m.u AS n, c.aa_w, c.ra_w
        |  FROM m JOIN centers c ON c.w = m.v),
        |wedges AS (SELECT a.n AS u, b.n AS v, a.aa_w, a.ra_w
        |  FROM adj a JOIN adj b ON a.w = b.w AND a.n < b.n),
        |scored AS (SELECT u, v, CAST(count(*) AS BIGINT) AS n_common,
        |    CAST(sum(aa_w) AS DECIMAL(18,6)) AS aa_score,
        |    CAST(sum(ra_w) AS DECIMAL(18,6)) AS ra_score
        |  FROM wedges GROUP BY u, v),
        |nonedge AS (SELECT s.* FROM scored s
        |  LEFT JOIN e ON e.lo = s.u AND e.hi = s.v WHERE e.lo IS NULL)
        |SELECT s.u, s.v, s.n_common,
        |  (1000000 * s.n_common) // (da.deg + db.deg - s.n_common)
        |    AS jaccard_ppm,
        |  CAST(s.ra_score AS DOUBLE) AS ra_score,
        |  CAST(s.aa_score AS DOUBLE) AS aa_score
        |FROM nonedge s JOIN deg da ON da.w = s.u JOIN deg db ON db.w = s.v
        |ORDER BY s.n_common DESC, s.u, s.v LIMIT 20""".stripMargin,
    "q269_rich_club" ->
      // φ(k) = 2e6·E_k // (N_k·(N_k−1)) — all terms positive, so
      // Spark DIV ≡ DuckDB //; LEFT joins keep every threshold row
      // (zero club → 0 edges/nodes, NULL density below 2 nodes)
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |sup AS (SELECT a.pk AS pa, b.pk AS pb
        |        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |        GROUP BY a.pk, b.pk),
        |e AS (SELECT CAST(pa AS BIGINT) AS u, CAST(pb AS BIGINT) AS v
        |      FROM sup
        |      UNION SELECT CAST(pb AS BIGINT), CAST(pa AS BIGINT) FROM sup),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY u),
        |ks AS (SELECT CAST(unnest([1, 2, 4, 8, 16, 32, 64]) AS BIGINT)
        |    AS k),
        |nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
        |       FROM ks JOIN deg ON deg.d > ks.k GROUP BY k),
        |ek AS (SELECT k, CAST(count(*) AS BIGINT) AS n_edges
        |       FROM ks JOIN (SELECT da.d AS d1, db.d AS d2 FROM sup
        |           JOIN deg da ON da.u = CAST(sup.pa AS BIGINT)
        |           JOIN deg db ON db.u = CAST(sup.pb AS BIGINT)) s
        |         ON s.d1 > ks.k AND s.d2 > ks.k
        |       GROUP BY k)
        |SELECT ks.k, coalesce(nk.n_nodes, 0) AS n_nodes,
        |  coalesce(ek.n_edges, 0) AS n_edges,
        |  CASE WHEN coalesce(nk.n_nodes, 0) >= 2
        |    THEN (2000000 * coalesce(ek.n_edges, 0))
        |      // (nk.n_nodes * (nk.n_nodes - 1))
        |    ELSE NULL END AS phi_ppm
        |FROM ks LEFT JOIN nk ON nk.k = ks.k LEFT JOIN ek ON ek.k = ks.k
        |ORDER BY ks.k""".stripMargin,
    "q262_boruvka_mst" -> {
      // one Borůvka round: per-component min outgoing edge by
      // (w, a, b) — the Spark struct-min — then the chosen-edge
      // component graph closes transitively and labels take the min
      // reachable old label. lab/ch CTEs are MATERIALIZED (each is
      // referenced 2-3 times; see the k-core re-expansion gotcha).
      def round(r: Int): String = {
        val (prev, el, ch, sym, reach, nl, lb) =
          (s"lab${r - 1}", s"el$r", s"ch$r", s"sym$r", s"reach$r",
            s"nl$r", s"lab$r")
        s"""$el AS (SELECT e.a, e.b, e.w, la.lab AS la, lb.lab AS lb
           |  FROM e JOIN $prev la ON la.node = e.a
           |    JOIN $prev lb ON lb.node = e.b
           |  WHERE la.lab <> lb.lab),
           |$ch AS MATERIALIZED (SELECT DISTINCT w, a, b, la, lb FROM (
           |  SELECT w, a, b, la, lb,
           |    row_number() OVER (PARTITION BY comp ORDER BY w, a, b) AS rn
           |  FROM (SELECT la AS comp, w, a, b, la, lb FROM $el
           |    UNION ALL SELECT lb, w, a, b, la, lb FROM $el))
           |  WHERE rn = 1),
           |$sym AS (SELECT la AS x, lb AS y FROM $ch
           |  UNION SELECT lb, la FROM $ch),
           |$reach(src, dst) AS (SELECT x, x FROM $sym
           |  UNION SELECT r.src, s.y FROM $reach r
           |    JOIN $sym s ON s.x = r.dst),
           |$nl AS (SELECT src AS lab, min(dst) AS nl FROM $reach
           |  GROUP BY 1),
           |$lb AS MATERIALIZED (SELECT l.node,
           |    coalesce(n.nl, l.lab) AS lab
           |  FROM $prev l LEFT JOIN $nl n ON n.lab = l.lab),
           |st$r AS (SELECT CAST($r AS BIGINT) AS round,
           |    CAST(count(*) AS BIGINT) AS n_added,
           |    CAST(coalesce(sum(w), 0) AS BIGINT) AS weight_added
           |  FROM $ch),
           |nc$r AS (SELECT CAST(count(DISTINCT lab) AS BIGINT)
           |    AS n_components FROM $lb)""".stripMargin
      }
      val rounds = (1 to 4).map(round).mkString(",\n")
      val out = (1 to 4)
        .map(r => s"SELECT st$r.round, st$r.n_added, st$r.weight_added, " +
          s"nc$r.n_components FROM st$r, nc$r")
        .mkString("\nUNION ALL ")
      s"""WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok,
         |    l_partkey AS pk FROM lineitem WHERE l_partkey % 10 = 0),
         |ed AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         |e AS MATERIALIZED (SELECT pa AS a, pb AS b,
         |    CAST(('0x' || substr(md5(CAST(pa AS VARCHAR) || ':'
         |      || CAST(pb AS VARCHAR)), 1, 12)) AS BIGINT) AS w
         |  FROM ed),
         |lab0 AS MATERIALIZED (SELECT node, node AS lab FROM
         |  (SELECT a AS node FROM e UNION SELECT b FROM e)),
         |$rounds
         |$out
         |ORDER BY round""".stripMargin
    },
    "q252_threshold_components" ->
      // components per threshold via one t-tagged transitive closure
      // (bounded: the 10% node sample keeps the giant component's
      // closure quadratic small); min-reachable-id labels match the
      // large-star/small-star fixpoint exactly
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_partkey % 10 = 0),
        |ed AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS nb
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
        |th(t) AS (SELECT CAST(1 AS BIGINT) UNION ALL SELECT 2 UNION ALL SELECT 3),
        |edge AS (SELECT th.t, ed.pa AS a, ed.pb AS b
        |    FROM ed JOIN th ON ed.nb >= th.t
        |  UNION ALL SELECT th.t, ed.pb, ed.pa
        |    FROM ed JOIN th ON ed.nb >= th.t),
        |reach(t, src, dst) AS (
        |  SELECT t, a, a FROM edge
        |  UNION
        |  SELECT r.t, r.src, e.b FROM reach r JOIN edge e
        |    ON e.t = r.t AND e.a = r.dst),
        |lab AS (SELECT t, src AS node, min(dst) AS comp
        |        FROM reach GROUP BY 1, 2),
        |cs AS (SELECT t, comp, CAST(count(*) AS BIGINT) AS sz
        |       FROM lab GROUP BY 1, 2)
        |SELECT t AS threshold, CAST(sum(sz) AS BIGINT) AS n_nodes,
        |  CAST(count(*) AS BIGINT) AS n_components,
        |  CAST(max(sz) AS BIGINT) AS max_size
        |FROM cs GROUP BY t ORDER BY t""".stripMargin,
    "q246_random_walks" ->
      // hop replay: rank = md5-48(walker_node_step) mod degree, next =
      // the rank-th neighbor in dst order — unrolled for 3 steps
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |ed AS (SELECT a.pk AS pa, b.pk AS pb
        |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS src, pb AS dst FROM ed
        |      UNION SELECT pb, pa FROM ed),
        |rk AS (SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rk FROM e),
        |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
        |s0 AS (SELECT src AS walker, src AS node FROM dg WHERE src % 17 = 0),
        |n1 AS (SELECT s0.walker, rk.dst AS node FROM s0
        |  JOIN dg ON dg.src = s0.node
        |  JOIN rk ON rk.src = s0.node AND rk.rk =
        |    (CAST(('0x' || substr(md5(CAST(s0.walker AS VARCHAR) || '_'
        |      || CAST(s0.node AS VARCHAR) || '_1'), 1, 12)) AS BIGINT)
        |     % dg.deg) + 1),
        |n2 AS (SELECT n1.walker, rk.dst AS node FROM n1
        |  JOIN dg ON dg.src = n1.node
        |  JOIN rk ON rk.src = n1.node AND rk.rk =
        |    (CAST(('0x' || substr(md5(CAST(n1.walker AS VARCHAR) || '_'
        |      || CAST(n1.node AS VARCHAR) || '_2'), 1, 12)) AS BIGINT)
        |     % dg.deg) + 1),
        |n3 AS (SELECT n2.walker, rk.dst AS node FROM n2
        |  JOIN dg ON dg.src = n2.node
        |  JOIN rk ON rk.src = n2.node AND rk.rk =
        |    (CAST(('0x' || substr(md5(CAST(n2.walker AS VARCHAR) || '_'
        |      || CAST(n2.node AS VARCHAR) || '_3'), 1, 12)) AS BIGINT)
        |     % dg.deg) + 1)
        |SELECT walker, CAST(0 AS BIGINT) AS step, node FROM s0
        |UNION ALL SELECT walker, 1, node FROM n1
        |UNION ALL SELECT walker, 2, node FROM n2
        |UNION ALL SELECT walker, 3, node FROM n3
        |ORDER BY walker, step""".stripMargin,
    "q241_neighborhood_fn" ->
      // bottom-8 sketch propagation replayed: per round, UNION (which
      // distincts) of own + neighbor hashes, re-rank, keep rk <= 8;
      // estimator and 6-dp/DECIMAL discipline identical to q105/q236
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |ed AS (SELECT a.pk AS pa, b.pk AS pb
        |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS src, pb AS dst FROM ed
        |      UNION SELECT pb, pa FROM ed),
        |s0 AS (SELECT DISTINCT src AS node,
        |    CAST(('0x' || substr(md5(CAST(src AS VARCHAR)), 1, 12))
        |      AS BIGINT) AS h FROM e),
        |m1 AS (SELECT e.src AS node, s.h FROM e JOIN s0 s ON s.node = e.dst
        |       UNION SELECT node, h FROM s0),
        |s1 AS (SELECT node, h FROM (SELECT node, h,
        |    row_number() OVER (PARTITION BY node ORDER BY h) AS rk
        |  FROM m1) WHERE rk <= 8),
        |m2 AS (SELECT e.src AS node, s.h FROM e JOIN s1 s ON s.node = e.dst
        |       UNION SELECT node, h FROM s1),
        |s2 AS (SELECT node, h FROM (SELECT node, h,
        |    row_number() OVER (PARTITION BY node ORDER BY h) AS rk
        |  FROM m2) WHERE rk <= 8),
        |b AS (SELECT 0 AS radius, node, count(*) AS n_kept, max(h) AS kth
        |      FROM s0 GROUP BY 1, 2
        |      UNION ALL SELECT 1, node, count(*), max(h) FROM s1 GROUP BY 1, 2
        |      UNION ALL SELECT 2, node, count(*), max(h) FROM s2 GROUP BY 1, 2),
        |est AS (SELECT radius, node,
        |    CAST(round(CASE WHEN n_kept < 8 THEN CAST(n_kept AS DOUBLE)
        |      ELSE CAST(7 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
        |        / CAST(kth AS DOUBLE) END, 6) AS DECIMAL(18,6)) AS est6
        |  FROM b)
        |SELECT CAST(radius AS BIGINT) AS radius,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(est6) AS DOUBLE) AS sum_est,
        |  round(CAST(sum(est6) AS DOUBLE) / count(*), 6) AS avg_est
        |FROM est GROUP BY radius ORDER BY radius""".stripMargin,
    "q83_pagerank" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT e.dst AS node, sum(r0.pr / od.outdeg) AS s
        |  FROM e JOIN r0 ON r0.node = e.src JOIN od ON od.src = e.src GROUP BY e.dst),
        |r1 AS (SELECT nodes.node,
        |  (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
        |   + CAST(0.85 AS DOUBLE) * coalesce(c1.s, CAST(0 AS DOUBLE)) AS pr
        | FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.node = nodes.node),
        |c2 AS (SELECT e.dst AS node, sum(r1.pr / od.outdeg) AS s
        |  FROM e JOIN r1 ON r1.node = e.src JOIN od ON od.src = e.src GROUP BY e.dst),
        |r2 AS (SELECT nodes.node,
        |  (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
        |   + CAST(0.85 AS DOUBLE) * coalesce(c2.s, CAST(0 AS DOUBLE)) AS pr
        | FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.node = nodes.node),
        |c3 AS (SELECT e.dst AS node, sum(r2.pr / od.outdeg) AS s
        |  FROM e JOIN r2 ON r2.node = e.src JOIN od ON od.src = e.src GROUP BY e.dst),
        |r3 AS (SELECT nodes.node,
        |  (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
        |   + CAST(0.85 AS DOUBLE) * coalesce(c3.s, CAST(0 AS DOUBLE)) AS pr
        | FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.node = nodes.node)
        |SELECT node AS part, round(pr, 6) AS pr FROM r3
        |ORDER BY round(pr, 6) DESC, node LIMIT 20""".stripMargin,
    "q119_triangles" ->
      // same lower-to-higher orientation as the operator: each
      // triangle counted once, at its minimum vertex
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS lo, b.pk AS hi
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |w AS (SELECT ab.hi AS lo, ac.hi AS hi
        |      FROM e ab JOIN e ac ON ab.lo = ac.lo AND ab.hi < ac.hi)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM
        |    (SELECT lo AS n FROM e UNION SELECT hi FROM e)) AS n_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |  (SELECT CAST(count(*) AS BIGINT) FROM w
        |   WHERE EXISTS (SELECT 1 FROM e WHERE e.lo = w.lo AND e.hi = w.hi))
        |    AS n_triangles""".stripMargin,
    "q134_communities" -> {
      // replay 5 synchronous LPA rounds: each round joins the previous
      // labeling onto the mirrored edge list, counts neighbor labels,
      // and takes (count desc, label asc) per node — the operator's
      // min(struct) arg-max expressed as a window rank
      val rounds = (1 to 5).map { r =>
        s"""g$r AS (SELECT e.src AS node, l.label, count(*) AS c
           |  FROM e JOIN l${r - 1} l ON l.node = e.dst GROUP BY 1, 2),
           |l$r AS (SELECT node, label FROM (
           |  SELECT node, label,
           |    row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rk
           |  FROM g$r) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e0 AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
         |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
         |$rounds,
         |sz AS (SELECT label, CAST(count(*) AS BIGINT) AS community_size
         |       FROM l5 GROUP BY label)
         |SELECT l.node, l.label AS community, sz.community_size
         |FROM l5 l JOIN sz ON sz.label = l.label
         |ORDER BY l.node""".stripMargin
    },
    "q140_clustering_coeff" ->
      // unoriented wedge join (apex = min id) — per-triangle corner
      // credit is orientation-independent, so it must agree with the
      // operator's degree-oriented enumeration
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS lo, b.pk AS hi
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |w AS (SELECT ab.lo AS u, ab.hi AS v, ac.hi AS wv
        |      FROM e ab JOIN e ac ON ab.lo = ac.lo AND ab.hi < ac.hi),
        |t AS (SELECT u, v, wv FROM w
        |      WHERE EXISTS (SELECT 1 FROM e WHERE e.lo = w.v AND e.hi = w.wv)),
        |pn AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
        |        SELECT u AS node FROM t
        |        UNION ALL SELECT v FROM t
        |        UNION ALL SELECT wv FROM t) GROUP BY node),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |        SELECT lo AS node FROM e UNION ALL SELECT hi FROM e)
        |        GROUP BY node)
        |SELECT d.node, d.deg, coalesce(pn.tri, CAST(0 AS BIGINT)) AS n_triangles,
        |  CASE WHEN d.deg >= 2 THEN CAST(
        |    (2000000 * coalesce(pn.tri, 0)) // (d.deg * (d.deg - 1)) AS BIGINT)
        |  ELSE CAST(0 AS BIGINT) END AS clustering_ppm
        |FROM deg d LEFT JOIN pn ON pn.node = d.node
        |ORDER BY d.node""".stripMargin,
    "q144_bfs_reach" ->
      // fixed-depth BFS unrolled as one level CTE per hop with
      // NOT-IN visited pruning — min-hop semantics are exact at
      // depth 3, no recursion needed
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |sup AS (SELECT a.pk AS pa, b.pk AS pb
        |        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |        GROUP BY a.pk, b.pk HAVING count(*) >= 2),
        |adj AS (SELECT pa AS u, pb AS v FROM sup
        |        UNION SELECT pb, pa FROM sup),
        |l0 AS (SELECT DISTINCT CAST(p_partkey AS BIGINT) AS node
        |       FROM part WHERE p_partkey % 500 = 0),
        |l1 AS (SELECT DISTINCT CAST(adj.v AS BIGINT) AS node
        |       FROM adj JOIN l0 ON adj.u = l0.node
        |       WHERE adj.v NOT IN (SELECT node FROM l0)),
        |l2 AS (SELECT DISTINCT CAST(adj.v AS BIGINT) AS node
        |       FROM adj JOIN l1 ON adj.u = l1.node
        |       WHERE adj.v NOT IN (SELECT node FROM l0)
        |         AND adj.v NOT IN (SELECT node FROM l1)),
        |l3 AS (SELECT DISTINCT CAST(adj.v AS BIGINT) AS node
        |       FROM adj JOIN l2 ON adj.u = l2.node
        |       WHERE adj.v NOT IN (SELECT node FROM l0)
        |         AND adj.v NOT IN (SELECT node FROM l1)
        |         AND adj.v NOT IN (SELECT node FROM l2))
        |SELECT node, hop FROM (
        |  SELECT node, CAST(0 AS BIGINT) AS hop FROM l0
        |  UNION ALL SELECT node, CAST(1 AS BIGINT) FROM l1
        |  UNION ALL SELECT node, CAST(2 AS BIGINT) FROM l2
        |  UNION ALL SELECT node, CAST(3 AS BIGINT) FROM l3)
        |ORDER BY node""".stripMargin,
    "q148_kcore_peel" -> kcorePeelSql(rounds = 12, k = 3),
    "q152_assortativity" ->
      // Pearson over end-point degrees from four exact integer moments
      // (x/y marginals coincide with both orientations present)
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |sup AS (SELECT a.pk AS pa, b.pk AS pb
        |        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |        GROUP BY a.pk, b.pk),
        |e AS (SELECT CAST(pa AS BIGINT) AS u, CAST(pb AS BIGINT) AS v FROM sup
        |      UNION SELECT CAST(pb AS BIGINT), CAST(pa AS BIGINT) FROM sup),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY u),
        |p AS (SELECT da.d AS du, db.d AS dv FROM e
        |      JOIN deg da ON da.u = e.u JOIN deg db ON db.u = e.v),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m2,
        |    CAST(sum(du) AS BIGINT) AS sx,
        |    CAST(sum(du * dv) AS BIGINT) AS sxy,
        |    CAST(sum(du * du) AS BIGINT) AS sxx FROM p),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
        |SELECT n_nodes, m2 // 2 AS n_edges,
        |  CASE WHEN m2 * sxx - sx * sx = 0 THEN NULL
        |    ELSE round(CAST(m2 * sxy - sx * sx AS DOUBLE)
        |      / CAST(m2 * sxx - sx * sx AS DOUBLE), 6) END AS assortativity
        |FROM m CROSS JOIN n""".stripMargin,
    "q161_personalized_pr" ->
      // q83's unroll with a seed-restart vector; float noise absorbed
      // by round(pr,6) exactly as there
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
        |sd AS (SELECT node FROM nodes WHERE node % 300 = 0),
        |sk AS (SELECT count(*) AS k FROM sd),
        |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |rv AS (SELECT nodes.node,
        |    CASE WHEN sd.node IS NULL THEN CAST(0 AS DOUBLE)
        |         ELSE CAST(1 AS DOUBLE) / sk.k END AS rm
        |  FROM nodes CROSS JOIN sk LEFT JOIN sd ON sd.node = nodes.node),
        |r0 AS (SELECT node, rm AS pr FROM rv),
        |c1 AS (SELECT e.dst AS node, sum(r0.pr / od.outdeg) AS s
        |  FROM e JOIN r0 ON r0.node = e.src JOIN od ON od.src = e.src
        |  GROUP BY e.dst),
        |r1 AS (SELECT rv.node,
        |  (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * rv.rm
        |   + CAST(0.85 AS DOUBLE) * coalesce(c1.s, CAST(0 AS DOUBLE)) AS pr
        | FROM rv LEFT JOIN c1 ON c1.node = rv.node),
        |c2 AS (SELECT e.dst AS node, sum(r1.pr / od.outdeg) AS s
        |  FROM e JOIN r1 ON r1.node = e.src JOIN od ON od.src = e.src
        |  GROUP BY e.dst),
        |r2 AS (SELECT rv.node,
        |  (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * rv.rm
        |   + CAST(0.85 AS DOUBLE) * coalesce(c2.s, CAST(0 AS DOUBLE)) AS pr
        | FROM rv LEFT JOIN c2 ON c2.node = rv.node),
        |c3 AS (SELECT e.dst AS node, sum(r2.pr / od.outdeg) AS s
        |  FROM e JOIN r2 ON r2.node = e.src JOIN od ON od.src = e.src
        |  GROUP BY e.dst),
        |r3 AS (SELECT rv.node,
        |  (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * rv.rm
        |   + CAST(0.85 AS DOUBLE) * coalesce(c3.s, CAST(0 AS DOUBLE)) AS pr
        | FROM rv LEFT JOIN c3 ON c3.node = rv.node)
        |SELECT node AS part, round(pr, 6) AS pr FROM r3
        |WHERE round(pr, 6) > 0
        |ORDER BY round(pr, 6) DESC, node LIMIT 20""".stripMargin,
    "q173_adamic_adar" ->
      // wedge join through the shared neighbor over the >=2-support
      // co-purchase graph; 1/ln(deg) weights rounded 6dp, summed in
      // DECIMAL; existing edges anti-joined away; hub cap replayed
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |sup AS (SELECT a.pk AS pa, b.pk AS pb FROM li a
        |  JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS MATERIALIZED (SELECT CAST(pa AS BIGINT) AS lo, CAST(pb AS BIGINT) AS hi FROM sup),
        |m AS (SELECT lo AS u, hi AS v FROM e UNION ALL SELECT hi, lo FROM e),
        |deg AS (SELECT u AS w, count(*) AS deg FROM m GROUP BY u),
        |centers AS (SELECT w,
        |  CAST(round(1.0 / ln(CAST(deg AS DOUBLE)), 6) AS DECIMAL(8,6)) AS aa_w
        | FROM deg WHERE deg <= 10000),
        |adj AS MATERIALIZED (SELECT m.v AS w, m.u AS n, c.aa_w
        |  FROM m JOIN centers c ON c.w = m.v),
        |wedges AS (SELECT a.n AS u, b.n AS v, a.aa_w
        |  FROM adj a JOIN adj b ON a.w = b.w AND a.n < b.n),
        |scored AS (SELECT u, v, count(*) AS n_common,
        |  CAST(sum(aa_w) AS DECIMAL(18,6)) AS aa_score
        | FROM wedges GROUP BY u, v),
        |nonedge AS (SELECT s.* FROM scored s
        |  LEFT JOIN e ON e.lo = s.u AND e.hi = s.v WHERE e.lo IS NULL)
        |SELECT u, v, n_common, CAST(aa_score AS DOUBLE) AS aa_score
        |FROM nonedge ORDER BY aa_score DESC, u, v LIMIT 50""".stripMargin,
    "q174_item_cosine" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pc AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_both FROM li a
        |  JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
        |ic AS (SELECT pk AS item, count(*) AS n FROM li GROUP BY pk),
        |p AS (SELECT * FROM pc WHERE n_both >= 2),
        |bo AS (SELECT pa AS item, pb AS other, n_both FROM p
        |  UNION ALL SELECT pb, pa, n_both FROM p),
        |scored AS (SELECT b.item, b.other, b.n_both,
        |  round(CAST(b.n_both AS DOUBLE) / sqrt(CAST(na.n * nb.n AS DOUBLE)), 6) AS cos
        | FROM bo b JOIN ic na ON na.item = b.item JOIN ic nb ON nb.item = b.other),
        |rk AS (SELECT *, row_number() OVER
        |  (PARTITION BY item ORDER BY cos DESC, other) AS rk FROM scored)
        |SELECT item, other, n_both, cos, CAST(rk AS INT) AS rk
        |FROM rk WHERE rk <= 3 ORDER BY item, rk""".stripMargin,
    "q175_hits" ->
      // two unrolled HITS rounds; every normalized score is
      // round(raw/sum, 6) in DECIMAL so the replay is exact
      """WITH e AS MATERIALIZED (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS u,
        |  CAST(l_partkey AS BIGINT) AS p
        | FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |h0 AS (SELECT u, CAST(1 AS DECIMAL(18,6)) AS h
        |  FROM (SELECT DISTINCT u FROM e)),
        |a1r AS (SELECT p, CAST(sum(h) AS DECIMAL(28,6)) AS raw
        |  FROM e JOIN h0 USING (u) GROUP BY p),
        |a1 AS (SELECT p, CAST(round(CAST(raw AS DOUBLE) /
        |  (SELECT CAST(sum(raw) AS DOUBLE) FROM a1r), 6) AS DECIMAL(10,6)) AS a
        | FROM a1r),
        |h1r AS (SELECT u, CAST(sum(a) AS DECIMAL(28,6)) AS raw
        |  FROM e JOIN a1 USING (p) GROUP BY u),
        |h1 AS (SELECT u, CAST(round(CAST(raw AS DOUBLE) /
        |  (SELECT CAST(sum(raw) AS DOUBLE) FROM h1r), 6) AS DECIMAL(10,6)) AS h
        | FROM h1r),
        |a2r AS (SELECT p, CAST(sum(h) AS DECIMAL(28,6)) AS raw
        |  FROM e JOIN h1 USING (u) GROUP BY p),
        |a2 AS (SELECT p, CAST(round(CAST(raw AS DOUBLE) /
        |  (SELECT CAST(sum(raw) AS DOUBLE) FROM a2r), 6) AS DECIMAL(10,6)) AS a
        | FROM a2r)
        |SELECT p AS item, CAST(a AS DOUBLE) AS auth
        |FROM a2 ORDER BY auth DESC, item LIMIT 20""".stripMargin,
    "q179_textrank" -> textRankSql(2),
    "q181_sssp" -> ssspSql(4),
    "q218_ktruss_peel" -> kTrussSql(rounds = 2, k = 7),
    "q281_triangles_sampled" ->
      // q119's replay over the md5-sampled edge subset: the same
      // first-8-hex-chars-of-md5 hash both engines compute identically
      // on the canonical "lo_hi" key; estimate = sampled · 4³
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS lo, b.pk AS hi
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |s AS (SELECT lo, hi FROM e
        |      WHERE CAST(('0x' || substr(md5(CAST(lo AS VARCHAR) || '_'
        |        || CAST(hi AS VARCHAR)), 1, 8)) AS BIGINT) % 4 = 0),
        |w AS (SELECT ab.hi AS lo, ac.hi AS hi
        |      FROM s ab JOIN s ac ON ab.lo = ac.lo AND ab.hi < ac.hi)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |  (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_edges_sampled,
        |  (SELECT CAST(count(*) AS BIGINT) FROM w
        |   WHERE EXISTS (SELECT 1 FROM s WHERE s.lo = w.lo AND s.hi = w.hi))
        |    AS n_triangles_sampled,
        |  (SELECT CAST(count(*) AS BIGINT) FROM w
        |   WHERE EXISTS (SELECT 1 FROM s WHERE s.lo = w.lo AND s.hi = w.hi))
        |    * CAST(64 AS BIGINT) AS est_triangles""".stripMargin)
}

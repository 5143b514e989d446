package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-nearest-neighbor graph construction + mutual-kNN clustering over
  * an embedding corpus — the SemDeDup-style density grouping that sits
  * between pairwise near-dup (q28) and full semantic clustering (q97):
  * an edge survives only if EACH endpoint ranks the other in its own
  * top-k, which strips the hub vectors that glue unrelated documents
  * into one giant component.
  *
  * Tiers, mirroring the rest of the similarity family:
  *  - [[knnEdgesExact]] scores all n² ordered pairs (WindowGroupLimit
  *    prunes each scan partition to its local top-k before the
  *    exchange) — the ground-truth tier, and what a SQL oracle can
  *    express;
  *  - [[knnEdgesLsh]] searches only hyperplane-LSH band-bucket
  *    candidates (within the coarse bucket), so the corpus is never
  *    crossed whole — the 100 TB path; recall is governed by
  *    planes/bands exactly as in `Similarity.nearDupPairsLsh`.
  *
  * [[mutualClusters]] then labels the mutual graph with the
  * large-star/small-star connected-components operator. Nodes with no
  * mutual edge (isolated vectors) do not appear — singletons are the
  * complement, same contract as q97.
  */
object KnnGraph {

  /** Vector-table ceiling (n·dim float values, ≈4 B each: 16M ≈ 64 MB
    * — one in-JVM copy locally, one per executor on a cluster) under
    * which the scoring joins broadcast the vectors instead of
    * shuffling the O(Σ width²) candidate-pair stream with two
    * embeddings attached per row.
    */
  val VecBroadcastLimit: Long = 16L * 1000 * 1000

  private def simOrNull(a: Column, b: Column): Column =
    Similarity.cosine(a, b)

  /** (query_id, rank, neighbor_id, sim): each vector's exact top-k
    * neighbors by cosine, self excluded, ties on ascending neighbor id.
    */
  def knnEdgesExact(vecs: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val left = vecs.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val right = vecs.select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
    // score each UNORDERED pair once and mirror: cosine is bit-exactly
    // symmetric (FP multiply commutes), and the dot products dominate
    // the n² stage's cost, so this halves the expensive work
    // (explode of the 2-struct array keeps it ONE pass — a self-union
    // of the half frame would recompute the cross join per branch)
    val scored = left.crossJoin(right)
      .filter(col("query_id") < col("neighbor_id"))
      .withColumn("sim", simOrNull(col("__qv"), col("__nv")))
      .select(explode(array(
        struct(col("query_id"), col("neighbor_id"), col("sim")),
        struct(col("neighbor_id").as("query_id"),
          col("query_id").as("neighbor_id"), col("sim")))).as("__e"))
      .select(col("__e.query_id"), col("__e.neighbor_id"), col("__e.sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim"))
  }

  /** Approximate kNN edges from hyperplane-LSH band buckets: candidates
    * are pairs sharing any band key, each side's top-k taken over its
    * candidate set only. Same output shape as [[knnEdgesExact]];
    * recall < 1 by construction and falls with neighbor similarity —
    * hyperplane agreement per plane is `1 - θ/π`, so the defaults
    * (6 bands × 4 planes) give ~0.99 recall at cosine 0.8 but only
    * ~0.6 at cosine 0.33 (a near-random corpus, where ANY sublinear
    * method must trade recall — GraphSpec pins the measured floor).
    * Unlike the near-dup tier there is no coarse-bucket restriction:
    * nearest neighbors need not share a label.
    *
    * `maxBucketWidth` is the skew guard the text tier has in
    * `maxShingleDocFreq`: a band bucket wider than the cap is dropped
    * BEFORE the candidate self-join, because a degenerate corpus
    * (mass-duplicate or all-zero vectors — routine in raw crawl
    * embeddings) would otherwise go quadratic inside that one bucket
    * (width w → w² candidate rows). The recall effect is confined to
    * the degenerate mass itself: identical vectors share EVERY band
    * key, so when their bucket is dropped in all bands they lose their
    * intra-mass edges (they are exact duplicates — the exact-dedup
    * tier's job, not kNN's), while vectors in healthy buckets keep
    * every candidate they had. GraphSpec pins both halves on a planted
    * hot bucket. The default (8192) never binds at bench scale
    * (2 000 vectors / 16 keys per band ≈ 125 wide) and bounds any one
    * bucket's join fan-out at 8192² ≈ 6.7e7 — executor-sized — at any
    * corpus scale.
    *
    * Retention: the keyed corpus frame stays persisted after the result
    * is consumed (three lazy consumers — candidates and both scoring
    * joins); registered with [[Retained]] — callers release via
    * `Retained.releaseAll(spark)` after their consuming action.
    */
  def knnEdgesLsh(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
                  numPlanes: Int = 24, bands: Int = 6, dim: Int = 64,
                  maxBucketWidth: Long = 8192,
                  knownN: Option[Long] = None): DataFrame = {
    require(k >= 1 && numPlanes % bands == 0,
      s"k >= 1 and bands ($bands) must divide numPlanes ($numPlanes)")
    require(maxBucketWidth >= 2, s"maxBucketWidth must be >= 2, got $maxBucketWidth")
    val keyed = Retained.track(vecs
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__bits",
        Similarity.hyperplaneBits(col("__v"), Similarity.hyperplaneWeights(numPlanes, dim)))
      .withColumn("__bandkeys",
        Similarity.packBandKeys(col("__bits"), bands, numPlanes / bands))
      .drop("__bits")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // knownN (a recorded source/artifact count, e.g. parquet footer
    // totals) prices the broadcast election without a count job; the
    // fallback count doubles as a cache warm on the keyed frame
    lshTopKFromKeyed(keyed, k, dim, maxBucketWidth,
      knownN.getOrElse(keyed.count()))
  }

  /** Smallest band-key width r in [minBits, maxBits] with
    * `target · 2^r ≥ n` (expected bucket width ≤ target under a uniform
    * key spread) — i.e. ⌈log2(n/target)⌉ clamped, computed in pure
    * integer arithmetic so an oracle SQL replays it exactly
    * (`min r : (target << r) >= n`, no float log2 boundary hazard).
    */
  private[graft] def adaptiveBits(n: Long, target: Long,
                                  minBits: Int, maxBits: Int): Int = {
    var r = 0
    while (r < maxBits && (target << r) < n) r += 1
    math.max(minBits, r)
  }

  /** Scale-adaptive [[knnEdgesLsh]]: the band-key WIDTH grows with the
    * corpus — r = ⌈log2(n / targetBucketWidth)⌉ clamped to
    * [minBits, maxBits] — so expected bucket width, and with it
    * candidate-pair mass, stays ~targetBucketWidth·n instead of the
    * fixed-width n²/2^r blow-up (measured per-band bucket widths at sf~1:
    * 157M candidate pairs for 20k vectors at the fixed 4-bit keys;
    * adaptive keys hold the pair mass ~linear in n up to the maxBits
    * cap, past which the hot-bucket diagnostic is the tripwire).
    *
    * Band b draws its planes from rows `b·maxBits … b·maxBits+r−1` of
    * the FIXED family [[Similarity.hyperplaneWeights]](bands·maxBits,
    * dim), so the adapted key equals the full-width key shifted right
    * by (maxBits − r) — the formulation a SQL oracle replays with
    * static bit columns plus one integer division, with r itself
    * derived from `count(*)` in the same exact integer arithmetic
    * ([[adaptiveBits]]) on both engines.
    *
    * The RECALL trade is explicit, not hidden: per-band match
    * probability is (1 − θ/π)^r, so every +1 bit multiplies it by the
    * per-plane agreement (~0.8 at cosine 0.8). q315 publishes the
    * measured exact-vs-adaptive recall per corpus so the trade stays
    * pinned. `n` feeds BOTH the r election and the vector-broadcast
    * election; pass `knownN` (a recorded source/artifact count —
    * parquet footer totals via [[graft.Tables.rowCount]], artifact
    * manifests via `SessionArtifacts.rowCount`) to avoid the scalar
    * count job entirely.
    */
  def knnEdgesLshAdaptive(vecs: DataFrame, idCol: String, vecCol: String,
                          k: Int, bands: Int = 6, dim: Int = 64,
                          targetBucketWidth: Long = 128,
                          minBits: Int = 4, maxBits: Int = 16,
                          maxBucketWidth: Long = 8192,
                          knownN: Option[Long] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minBits >= 1 && minBits <= maxBits && maxBits <= 20,
      s"need 1 <= minBits ($minBits) <= maxBits ($maxBits) <= 20")
    require(targetBucketWidth >= 2,
      s"targetBucketWidth must be >= 2, got $targetBucketWidth")
    require(maxBucketWidth >= 2, s"maxBucketWidth must be >= 2, got $maxBucketWidth")
    val src = vecs.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    // knownN MUST equal the corpus row count the oracle's count(*)
    // sees — it feeds the exact r-law, not just strategy election.
    // Callers pass recorded counts (parquet footer totals, artifact
    // manifests); anything derived from a filtered frame must count.
    val n = knownN.getOrElse(src.count())
    val r = adaptiveBits(n, targetBucketWidth, minBits, maxBits)
    val full = Similarity.hyperplaneWeights(bands * maxBits, dim)
    // slice to the planes actually used: bit values are independent per
    // plane, so computing only bands·r dots is bit-identical to the
    // full-width computation followed by the oracle's right shift
    val w = Array.tabulate(bands * r) { i => full((i / r) * maxBits + (i % r)) }
    val keyed = Retained.track(src
      .withColumn("__bits", Similarity.hyperplaneBits(col("__v"), w))
      .withColumn("__bandkeys", Similarity.packBandKeys(col("__bits"), bands, r))
      .drop("__bits")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    lshTopKFromKeyed(keyed, k, dim, maxBucketWidth, n)
  }

  /** Shared LSH-tier tail: hot-bucket cap → band-bucket candidate
    * self-join → measured-strategy scoring joins → per-query top-k.
    * `keyed` carries (__id, __v, __bandkeys) and stays persisted
    * (three lazy consumers); `nVecs` prices the vector-broadcast
    * election without re-counting.
    */
  private def lshTopKFromKeyed(keyed: DataFrame, k: Int, dim: Int,
                               maxBucketWidth: Long, nVecs: Long): DataFrame = {
    val exploded = keyed.select(col("__id"),
      posexplode(col("__bandkeys")).as(Seq("__band", "__key")))
    // hot-bucket guard: count each (band, key) bucket and keep only
    // buckets at-or-under the cap; the width frame is #buckets-sized
    // (≪ corpus) so the semi-join broadcasts
    val okBuckets = exploded.groupBy(col("__band"), col("__key"))
      .agg(count(lit(1)).as("__w"))
      .filter(col("__w") <= maxBucketWidth)
      .select(col("__band"), col("__key"))
    val capped = exploded.join(broadcast(okBuckets), Seq("__band", "__key"))
    val cand = capped.as("a").join(capped.as("b"),
        col("a.__band") === col("b.__band") &&
        col("a.__key") === col("b.__key") && col("a.__id") =!= col("b.__id"))
      .select(col("a.__id").as("query_id"), col("b.__id").as("neighbor_id"))
      .distinct()
    // scoring joins: the candidate stream is O(Σ width²) pair rows
    // while the vector table is n·dim values — BROADCAST the vectors
    // while they fit rather than shuffling every pair row with two
    // 256 B embeddings attached. Left to AQE this flipped at sf~1:
    // the cached vector frame sits right at the 10 MB threshold, so
    // identical runs alternated between a broadcast plan (~30 s) and
    // pair-stream shuffles (77–125 s). One cheap count on the
    // already-persisted frame pins the measured strategy (the
    // Triangles closing-edge discipline); past the limit the pair
    // stream shuffles but never sorts.
    val vecsOnly = keyed.select(col("__id"), col("__v"))
    val vecSide =
      if (nVecs * dim <= VecBroadcastLimit) broadcast(vecsOnly)
      else vecsOnly.hint("shuffle_hash")
    val scored = cand
      .join(vecSide.select(col("__id").as("query_id"), col("__v").as("__qv")), Seq("query_id"))
      .join(vecSide.select(col("__id").as("neighbor_id"), col("__v").as("__nv")), Seq("neighbor_id"))
      .withColumn("sim", simOrNull(col("__qv"), col("__nv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim"))
  }

  /** Mutual-kNN clusters from a directed kNN edge list: keep (a, b) iff
    * both directions exist, then connected-components label the
    * undirected mutual graph → (vec_id, cluster_id, cluster_size).
    */
  def mutualClusters(edges: DataFrame): DataFrame = {
    // materialize the (n·k)-row top-k edge list once: the mutual
    // check reads it from BOTH join sides with different key layouts,
    // and exchange reuse does not cover the window subtree — unpinned,
    // the whole LSH scoring pipeline ran twice (§1: two ~14 s-CPU job
    // pairs in the q102 profile)
    val e = edges.localCheckpoint(true)
    val mutual = e.as("e1").join(e.as("e2"),
        col("e1.query_id") === col("e2.neighbor_id") &&
        col("e1.neighbor_id") === col("e2.query_id") &&
        col("e1.query_id") < col("e1.neighbor_id"))
      .select(col("e1.query_id").as("id1"), col("e1.neighbor_id").as("id2"))
    ConnectedComponents.clusters(mutual, "id1", "id2")
      .select(col("id").as("vec_id"), col("cluster").as("cluster_id"),
        col("cluster_size"))
  }
}

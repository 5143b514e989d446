package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spherical k-means (Lloyd's iterations under cosine similarity) for
  * training the coarse quantizer of an IVF index — the step that turns
  * [[Similarity]]'s label-bucketed IVF into a genuinely trained index
  * when no natural bucketing exists.
  *
  * Spark shape, per iteration: ONE broadcast of the k centroids into a
  * map-side assignment (corpus never shuffles for assignment) and ONE
  * hash aggregation for the centroid update (partial aggregation means
  * the shuffle carries k × dims rows per partition, not the corpus).
  * `k` and `iters` are both small constants; the corpus is streamed
  * `iters + 1` times and nothing corpus-sized ever reaches the driver.
  *
  * Deterministic and engine-reproducible by construction, so a SQL
  * oracle can replay it exactly:
  *  - init = the vectors of the `k` smallest ids (no RNG);
  *  - assignment = argmax cosine, ties to the lowest cluster id;
  *  - update = per-dimension DECIMAL-exact sum, ONE double division
  *    (independent of partial-aggregation order — the
  *    [[Similarity.centroids]] recipe);
  *  - empty clusters keep their previous centroid.
  */
object KMeans {

  /** Trained centroids only: (cluster_id, centroid) with ids 1..k.
    * [[fit]] adds member counts to the same fold.
    */
  def fitCentroids(points: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int): DataFrame =
    fitCentroidsOn(prepare(points, idCol, vecCol), k, iters)

  private def fitCentroidsOn(pts: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    import pts.sparkSession.implicits._
    // deterministic seeding: the k lowest-id vectors, numbered 1..k.
    // k is a small constant, so the seed rows may come to the driver —
    // this also keeps the plan free of a global (unpartitioned) window.
    var cents = pts.orderBy(col("__pid")).limit(k)
      .select(col("__v")).as[Seq[Double]].collect()
      .zipWithIndex.map { case (v, i) => (i + 1L, v) }.toSeq
      .toDF("cluster_id", "centroid")
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val assigned = assign(pts, cents)
      val updated = assigned
        .select(col("cluster_id"), posexplode(col("__v")).as(Seq("dim", "x")))
        .groupBy(col("cluster_id"), col("dim"))
        .agg((sum(col("x").cast("decimal(28,10)")).cast("double") /
          count(lit(1))).as("m"))
        .groupBy(col("cluster_id"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("pairs"))
        .select(col("cluster_id"),
          transform(col("pairs"), p => p.getField("m")).as("centroid"))
      // empty clusters keep their previous centroid
      cents = cents.as("old")
        .join(updated.as("new"), Seq("cluster_id"), "left")
        .select(col("cluster_id"),
          coalesce(col("new.centroid"), col("old.centroid")).as("centroid"))
        .localCheckpoint(true)
    }
    cents
  }

  /** Cluster ids 1..k with their trained centroid and final member
    * count: (cluster_id, n_points, centroid).
    */
  def fit(points: DataFrame, idCol: String, vecCol: String,
          k: Int, iters: Int): DataFrame = {
    val pts = prepare(points, idCol, vecCol)
    val cents = fitCentroidsOn(pts, k, iters)
    val counts = assign(pts, cents)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_points"))
    cents.join(counts, Seq("cluster_id"), "left")
      .select(col("cluster_id"),
        coalesce(col("n_points"), lit(0L)).as("n_points"), col("centroid"))
  }

  private def prepare(points: DataFrame, idCol: String, vecCol: String): DataFrame =
    points.select(col(idCol).as("__pid"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      .localCheckpoint(true)

  /** Hard assignment of every point to its argmax-cosine centroid (ties
    * to the lowest cluster id, NaN similarities sort largest — the
    * array_max convention, matching a descending sort). A zero-norm
    * point (cosine undefined → null) is coalesced to a -2.0 sentinel —
    * below every real cosine — so it lands deterministically in cluster
    * 1 instead of vanishing with a null cluster_id. The k centroids
    * ship as a LITERAL array inside the expression, so assignment is
    * pure map-side work — no join, no window, no shuffle of the point
    * side. `cents` must carry dense ids 1..k (what [[fitCentroids]]
    * produces): the argmax position IS the cluster id.
    */
  def assign(pts: DataFrame, cents: DataFrame): DataFrame = {
    import cents.sparkSession.implicits._
    val collected = cents.orderBy(col("cluster_id"))
      .select(col("cluster_id"), col("centroid"))
      .as[(Long, Seq[Double])].collect()
    require(collected.nonEmpty, "assign needs at least one centroid")
    require(collected.map(_._1).toSeq == (1L to collected.length.toLong),
      s"centroid ids must be dense 1..k, got ${collected.map(_._1).mkString(",")}")
    val centArr = array(collected.map(c => typedlit(c._2)): _*)
    pts.withColumn("__sims",
        transform(centArr, c =>
          coalesce(Similarity.cosine(col("__v"), c), lit(-2.0))))
      .withColumn("cluster_id",
        array_position(col("__sims"), array_max(col("__sims"))))
      .drop("__sims")
  }
}
